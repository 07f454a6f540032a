"""W2 — politeness dequeue: exact per-host top-B, skew-proof (SURVEY.md §2.5).

The reference's single global token bucket (crawler.go:57,105) generalizes to
a per-host budget of B dequeues per round. Naively that is one window rank
partitioned by host — but at 10^10 frontier scale a hot host puts 10^8 rows in
one window partition. Two-phase exact top-k instead:

  phase 1  rank within (host, salt) where salt = pmod(url_sha1, S); keep
           rank ≤ B. Any row in the global per-host top-B is necessarily in
           the top-B of its salt bucket, so this prunes without loss.
  phase 2  rank within host over the pruned set (≤ S·B rows per host —
           bounded regardless of skew); keep rank ≤ B.

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


def _order_cols():
    return [F.col(c).asc() for c in DEQUEUE_ORDER]


def dequeue(
    pending: DataFrame,
    budget_per_host: int | None,
    salt_buckets: int = 16,
    host_takes: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split pending into (dequeued, deferred). ``budget_per_host=None``
    dequeues everything (pure BFS — the reference's unbounded fan-out).

    ``host_takes`` (host, take) overrides the flat budget with a per-host
    allowance — the token-carryover path (ST5): the engine joins the
    host_state table in so a host whose fractional balance rounded down to 0
    this round defers everything. The join key is host — the same key the
    rank windows shuffle on, so it adds no extra exchange of the pending
    side. The phase-1 salt prune uses the same per-host cap."""
    if budget_per_host is None and host_takes is None:
        return pending, pending.limit(0)

    if host_takes is not None:
        # hosts absent from host_takes fall back to the flat budget —
        # unbounded when there is none (delay-capped dequeue with no budget)
        default_take = (1 << 31) - 1 if budget_per_host is None else int(budget_per_host)
        pending = pending.join(host_takes, "host", "left").withColumn(
            "_take", F.coalesce(F.col("take"), F.lit(default_take))
        ).drop("take")
        cap = F.col("_take")
    else:
        if not float(budget_per_host).is_integer():
            # fractional budgets only make sense with the carryover balance
            # (host_takes path); the sequential oracle raises on urls[:2.5],
            # so silently truncating here would diverge from it
            raise TypeError(
                f"fractional budget_per_host ({budget_per_host}) requires "
                "the host_takes carryover path"
            )
        cap = F.lit(int(budget_per_host))

    salt = F.pmod(F.col("url_sha1"), F.lit(salt_buckets))
    w1 = Window.partitionBy(F.col("host"), salt).orderBy(*_order_cols())
    p1 = pending.withColumn("_r1", F.row_number().over(w1))
    survivors = p1.filter(F.col("_r1") <= cap).drop("_r1")
    pruned_out = p1.filter(F.col("_r1") > cap).drop("_r1")

    w2 = Window.partitionBy("host").orderBy(*_order_cols())
    ranked = survivors.withColumn("_rank", F.row_number().over(w2))
    dequeued = ranked.filter(F.col("_rank") <= cap).drop("_rank")
    deferred = ranked.filter(F.col("_rank") > cap).drop("_rank")
    if host_takes is not None:
        dequeued = dequeued.drop("_take")
        deferred = deferred.drop("_take")
        pruned_out = pruned_out.drop("_take")
    return dequeued, deferred.unionByName(pruned_out)
