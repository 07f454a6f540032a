"""W2 — politeness dequeue: exact per-host top-B, one rank window (SURVEY.md §2.5).

The reference's single global token bucket (crawler.go:57,105) generalizes to
a per-host budget of B dequeues per round: one ``row_number`` window
partitioned by host and ordered by (priority, depth, url), keeping rank ≤ B.

Skew is Catalyst's job, not a hand-rolled salt phase. For a
``row_number() <= literal`` filter Spark 4.1 plans a ``WindowGroupLimit``
twice: a Partial one that keeps each host's top-B inside every input
partition before the host exchange, and a Final one after it. So a hot host
reaches its window partition as at most B rows per input partition, and the
selection stays exact (any row of a host's global top-B is in the top-B of
its input partition). The dequeue always filters on a literal bound when a
budget is set, also when per-host takes (robots delay caps, carryover)
decide the real take; the takes join sits above the window, on its host
partitioning, so the pending side crosses its one exchange already pruned.

Measured on a 4M-row pending set over 100 power-law hosts at ``local[4]``
(4 vCPUs, the dequeued side written to a noop sink, three warm reps):
budget 5 shuffles 2,000 records / 74 KB in 2.1–2.4 s, where the
two-phase salted rank it replaced shuffled 32,500 / 1.2 MB in 2.6–3.7 s;
per-host takes shuffle 2,000 / 74 KB in 2.1–2.4 s, where the salted rank
shuffled 4,006,400 / 191 MB in 3.6–4.1 s (a column bound gives Catalyst no
limit to infer, so its first phase pruned nothing before the exchange).

Two conditions keep the bound from reaching the exchange; both stay exact:

* a bound above ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000) gets
  no Partial limit, so every pending row of the host is shuffled;
* robots delays with no budget have no literal bound (a host without a delay
  takes everything), so a hot delayed host ranks in one window partition.

Selection is therefore EXACTLY the per-host top-B by (priority, depth, url) —
identical at any parallelism level and identical to the sequential oracle,
which is what the two-cluster-size determinism check stresses (§4.2.4).
Rows not selected are deferred to the next round's frontier. The engine
derives them there with the frontier's seen anti-join (every dequeued row is
fetched, so pending minus seen is the deferred side) and never reads the
second output of ``dequeue``; it is kept for the benchmark's dequeue replay
and the tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

DEQUEUE_ORDER = ("priority", "depth", "url")


def dequeue(
    pending: DataFrame,
    budget_per_host: int | None,
    salt_buckets: int = 16,
    host_takes: DataFrame | None = None,
    deferred: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """Split pending into (dequeued, deferred). ``budget_per_host=None``
    dequeues everything (pure BFS — the reference's unbounded fan-out).

    ``host_takes`` (host, take) sets a per-host take — robots delay caps and
    the token-carryover path (ST5): the engine joins the host_state table in
    so a host whose fractional balance rounded down to 0 this round defers
    everything. With ``host_takes``, ``budget_per_host`` means two things:
    the take of a host absent from ``host_takes``, and an upper bound on
    every take. The bound is the literal that lets Catalyst prune each host
    to its top ``budget_per_host`` before the host exchange (module
    docstring), so a caller must pass one no take exceeds.

    ``deferred=False`` builds no deferred side and returns None in its
    place (the engine derives the deferred rows with its frontier
    anti-join).

    ``salt_buckets`` is unused: kept for crawlbench until ROADMAP item 2
    (its dequeue replay passes it positionally)."""
    if budget_per_host is None and host_takes is None:
        return pending, pending.limit(0) if deferred else None

    if budget_per_host is not None and not float(budget_per_host).is_integer():
        # fractional budgets only make sense with the carryover balance,
        # which passes integral takes; the sequential oracle raises on
        # urls[:2.5], so silently truncating here would diverge from it
        raise TypeError(
            f"fractional budget_per_host ({budget_per_host}) requires "
            "the host_takes carryover path"
        )

    w = Window.partitionBy("host").orderBy(*DEQUEUE_ORDER)
    ranked = pending.withColumn("_rank", F.row_number().over(w))
    rank = F.col("_rank")
    keep = None
    if budget_per_host is not None:
        # the literal bound Catalyst turns into the Partial/Final limit
        keep = rank <= F.lit(int(budget_per_host))
    if host_takes is not None:
        # joined above the window: the rank's host partitioning carries the
        # join, so pending crosses one exchange, pruned, whichever join the
        # planner picks. A host absent from host_takes takes the flat
        # budget — everything when there is none (delay caps, no budget)
        ranked = ranked.join(host_takes, "host", "left")
        within_take = F.col("take").isNull() | (rank <= F.col("take"))
        keep = within_take if keep is None else keep & within_take
    dequeued = ranked.filter(keep).drop("_rank", "take")
    if not deferred:
        return dequeued, None
    return dequeued, ranked.filter(~keep).drop("_rank", "take")
