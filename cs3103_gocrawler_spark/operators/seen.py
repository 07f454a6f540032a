"""J1 — the URL-seen set.

Reference: the load-bearing ``VisitedPageInfo`` membership probes
(crawler.go:74-79, 97-102), an exact map lookup. The engine uses only the
exact tier: ``filter_unseen(spark, children, seen, None)`` is one
``left_anti`` join on the url string against the seen table (the fetched
table's ``url`` column), exact regardless of hash collisions.

Everything else here — the segmented ``Bloom``, ``build_round_state``,
``build_bloom_distributed``, ``probe_with_segments`` and the bloom branches
of ``filter_unseen`` — is a library the engine no longer calls. It is kept
for crawlbench's ``filter_unseen`` replay until ROADMAP item 2 moves the
benchmark off it. A bloom tier in front of an anti-join that runs every
round anyway never paid: on polite-deep it cost two Python stages and a
table write per round and rejected no false positive (CHANGES.md).

Library shape, for that replay: key ``h`` lives entirely inside segment
``pmod(h, S)``, whose bit array is an independent ``m_seg``-bit bloom.
``build_round_state`` routes the sha1s by segment and builds each
segment's bitmap executor-side in one Spark action; the ≤ S
``(seg, bitmap, n_rows)`` rows are either collected into a driver bit
array (broadcast probe, a pandas UDF) or written as a ``bloom_segments``
table and probed by a cogroup on the segment key (``probe_with_segments``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

_MASK = np.uint64((1 << 64) - 1)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return (x ^ (x >> np.uint64(31))) & _MASK


def _segment_of(h: np.ndarray, s: int) -> np.ndarray:
    """numpy % on int64 matches Spark's pmod for positive divisors
    (non-negative result) — the routing must agree between the repartition
    expression and the worker-side grouping."""
    return np.mod(h.astype(np.int64), np.int64(s)).astype(np.int64)


def _local_indices(h: np.ndarray, m_seg: np.uint64, k: int):
    """k double-hashed bit positions within the key's segment."""
    h1 = h.astype(np.int64).view(np.uint64)
    h2 = _splitmix64(h1) | np.uint64(1)
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % m_seg).astype(np.uint64)


def _build_segment_bitmap(h: np.ndarray, m_seg: int, k: int) -> np.ndarray:
    bits = np.zeros(m_seg // 8, dtype=np.uint8)
    for idx in _local_indices(h, np.uint64(m_seg), k):
        np.bitwise_or.at(
            bits, (idx >> np.uint64(3)).astype(np.int64),
            np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8),
        )
    return bits


class Bloom:
    """Vectorized numpy bloom filter keyed by int64 hashes (double hashing),
    split into ``n_segments`` independent sub-filters routed by
    ``pmod(h, n_segments)``. ``n_segments=1`` is the classic single-array
    filter; the engine uses >1 so each round's delta is built executor-side
    (module docstring)."""

    def __init__(self, capacity: int, fpr: float = 1e-3, n_segments: int = 1):
        self.s = max(1, int(n_segments))
        cap_seg = max(1, capacity // self.s)
        m = max(64, int(-cap_seg * np.log(fpr) / (np.log(2) ** 2)))
        self.m_seg = np.uint64((m + 7) // 8 * 8)
        self.k = max(1, int(round(float(self.m_seg) / max(cap_seg, 1) * np.log(2))))
        self._bits = None
        self.n_added = 0

    @property
    def bits(self) -> np.ndarray:
        """Lazily allocated: an engine in partitioned probe mode only uses
        the filter GEOMETRY (m_seg, k, s) — its bitmaps live in the
        bloom_segments table, so the driver never materializes the array
        (at north_rule scale, 10^10 keys at fpr 1e-3, that array is ~17 GB)."""
        if self._bits is None:
            self._bits = np.zeros(int(self.m_seg) // 8 * self.s, dtype=np.uint8)
        return self._bits

    @bits.setter
    def bits(self, v) -> None:
        self._bits = v

    @property
    def seg_bytes(self) -> int:
        return int(self.m_seg) // 8

    def or_segment(self, seg: int, bitmap: bytes, n_rows: int) -> None:
        """Merge an executor-built segment delta (one round, one segment)."""
        a = np.frombuffer(bitmap, dtype=np.uint8)
        lo = seg * self.seg_bytes
        self.bits[lo:lo + self.seg_bytes] |= a
        self.n_added += n_rows

    def add(self, hashes: np.ndarray) -> None:
        """Driver-side add — the reference build tests compare against; the
        engine path is ``build_round_state`` → ``or_segment``."""
        h = np.asarray(hashes)
        if len(h) == 0:
            return
        segs = _segment_of(h, self.s)
        base = (segs.astype(np.uint64) * self.m_seg)
        for idx in _local_indices(h, self.m_seg, self.k):
            g = base + idx
            np.bitwise_or.at(
                self.bits, (g >> np.uint64(3)).astype(np.int64),
                np.uint8(1) << (g & np.uint64(7)).astype(np.uint8),
            )
        self.n_added += len(h)

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        h = np.asarray(hashes)
        if self.n_added == 0:
            return np.zeros(len(h), dtype=bool)
        res = np.ones(len(h), dtype=bool)
        base = _segment_of(h, self.s).astype(np.uint64) * self.m_seg
        for idx in _local_indices(h, self.m_seg, self.k):
            g = base + idx
            byte = self.bits[(g >> np.uint64(3)).astype(np.int64)]
            res &= (byte & (np.uint8(1) << (g & np.uint64(7)).astype(np.uint8))) != 0
        return res


_STATE_SCHEMA = "seg int, bitmap binary, n_rows long"


def build_round_state(df: DataFrame, bloom: Bloom,
                      segments_sink: tuple | None = None) -> None:
    """ONE Spark action that adds every ``url_sha1`` in ``df`` to the filter:
    routes the sha1s by bloom segment and builds each segment's bitmap
    delta executor-side, one ``(seg, bitmap, n_rows)`` row per segment.

    Broadcast mode (no sink): the driver collects the ≤ S segment rows
    (bloom-sized, independent of the round's row count) and OR-merges them
    into ``bloom``; ``n_rows`` keeps ``bloom.n_added`` exact.

    ``segments_sink=(catalog, round_id)`` is the partitioned-probe scale
    path: the segment rows are WRITTEN to the catalog's ``bloom_segments``
    delta table straight from the executors, so the bit arrays never reach
    the driver and the driver ``bloom`` object is left untouched.
    """
    s, m_seg, k = bloom.s, int(bloom.m_seg), bloom.k
    routed = df.select("url_sha1").repartition(
        s, F.pmod(F.col("url_sha1"), F.lit(s))
    )

    def build(batches):
        acc: dict[int, np.ndarray] = {}
        n: dict[int, int] = {}
        for pdf in batches:
            h = pdf["url_sha1"].to_numpy(dtype=np.int64)
            segs = _segment_of(h, s)
            for seg in np.unique(segs):
                hs = h[segs == seg]
                bm = _build_segment_bitmap(hs, m_seg, k)
                seg = int(seg)
                if seg in acc:
                    acc[seg] |= bm
                else:
                    acc[seg] = bm
                n[seg] = n.get(seg, 0) + len(hs)
        yield pd.DataFrame({
            "seg": list(acc),
            "bitmap": [bm.tobytes() for bm in acc.values()],
            "n_rows": [n[seg] for seg in acc],
        })

    state = routed.mapInPandas(build, schema=_STATE_SCHEMA)
    if segments_sink is not None:
        catalog, round_id = segments_sink
        catalog.write(state, "bloom_segments", round_id)
        return
    for r in state.collect():
        bloom.or_segment(int(r["seg"]), r["bitmap"], int(r["n_rows"]))


def build_bloom_distributed(df: DataFrame, bloom: Bloom) -> None:
    """Resume path: rebuild the broadcast filter from every ``url_sha1`` in
    ``df`` with the same executor-side segment build as the round path."""
    build_round_state(df, bloom)


def probe_with_segments(
    candidates: DataFrame,
    segments: DataFrame,
    m_seg: int,
    k: int,
    s: int,
    probe_salt: int = 8,
) -> DataFrame:
    """Tier-1 probe against PERSISTED segment bitmaps — the scale path.

    Routes candidates by ``pmod(url_sha1, S)`` and cogroups them with the
    ``bloom_segments`` delta rows on the segment key: both sides shuffle on
    the same key (the candidate side is the only large one; the segment side
    is ≤ S rows per committed round), each task ORs its segment's per-round
    deltas locally and probes its candidates vectorized. No driver-held bit
    array, no ``sparkContext.broadcast`` — probe state lives where the rows
    live, exactly the Iceberg-table layout the module docstring describes.

    ``probe_salt`` bounds per-task candidate volume: cogrouping on the
    segment alone caps parallelism at S keys AND materializes ~1/S of the
    round's children as ONE pandas DataFrame per task — at 10^10-URL rounds
    that is an executor-OOM shape. The candidate side therefore cogroups on
    (segment, salt) where salt = pmod(xxhash64(url_sha1), probe_salt), and
    each segment's (tiny, ≤ rounds·1 rows) bitmap side is replicated once
    per salt bucket — S·probe_salt tasks, each holding 1/(S·probe_salt) of
    the candidates plus one segment's bitmaps. The probe result is
    salt-invariant (pure per-row membership), verified by the
    partitioned≡broadcast conformance test at several salt values.

    Returns ``candidates`` + a ``_maybe`` boolean column.
    """
    from pyspark.sql.types import BooleanType, StructField

    out_fields = list(candidates.schema.fields) + [
        StructField("_maybe", BooleanType())
    ]
    out_names = [f.name for f in candidates.schema.fields]
    probe_salt = max(1, int(probe_salt))
    cand = candidates.withColumn(
        "_seg", F.pmod(F.col("url_sha1"), F.lit(s)).cast("int")
    ).withColumn(
        # xxhash64 of the sha1 is independent of pmod(sha1, s) — rows spread
        # across salt buckets uniformly within every segment
        "_salt", F.pmod(F.xxhash64(F.col("url_sha1")), F.lit(probe_salt)).cast("int")
    )
    segs = (
        # checkpoints written before the stats columns went carry stat rows
        # with a null seg alongside the bitmap rows
        segments.filter(F.col("seg").isNotNull())
        .select(F.col("seg").cast("int").alias("_seg"), "bitmap")
        .withColumn(
            # sequence of int literals explodes to int — matches the cast on
            # the candidate side (a generator can't nest inside a cast)
            "_salt",
            F.explode(F.sequence(F.lit(0), F.lit(probe_salt - 1))),
        )
    )
    m = np.uint64(m_seg)

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        h = left["url_sha1"].to_numpy(dtype=np.int64)
        if len(right) == 0 or len(h) == 0:
            maybe = np.zeros(len(h), dtype=bool)
        else:
            bits = np.frombuffer(right["bitmap"].iloc[0], dtype=np.uint8).copy()
            for bm in right["bitmap"].iloc[1:]:
                bits |= np.frombuffer(bm, dtype=np.uint8)
            maybe = np.ones(len(h), dtype=bool)
            for idx in _local_indices(h, m, k):
                byte = bits[(idx >> np.uint64(3)).astype(np.int64)]
                maybe &= (
                    byte & (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
                ) != 0
        out = left[out_names].copy()
        out["_maybe"] = maybe
        return out

    from pyspark.sql.types import StructType

    return (
        cand.groupBy("_seg", "_salt")
        .cogroup(segs.groupBy("_seg", "_salt"))
        .applyInPandas(probe, schema=StructType(out_fields))
    )


def filter_unseen(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom: Bloom | None,
    segments: DataFrame | None = None,
    probe_salt: int = 8,
    survivors: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """Return (unseen_candidates, maybe_seen_survivors_for_fp_metric).

    ``candidates`` must carry ``url`` + ``url_sha1``; ``seen`` carries ``url``.
    The second return value is the bloom's false positives (rows the bloom
    flagged but the exact join proved unseen) — instrumentation for metrics.

    ``segments`` (the persisted ``bloom_segments`` delta table) selects the
    partitioned probe tier; ``bloom`` then only supplies the filter geometry
    (m_seg, k, S) and its bit array is neither read nor broadcast.

    Without a bloom the second value is empty, and ``survivors=False``
    returns None in its place instead of building an empty plan.
    """
    if seen is None:
        return candidates, candidates.limit(0) if survivors else None
    if segments is not None and bloom is not None:
        flagged = probe_with_segments(
            candidates, segments, int(bloom.m_seg), bloom.k, bloom.s,
            probe_salt=probe_salt,
        )
    elif bloom is None or bloom.n_added == 0:
        exact = candidates.join(seen.select("url"), "url", "left_anti")
        return exact, candidates.limit(0) if survivors else None
    else:
        # broadcast tier: one broadcast of the driver bit array per probing
        # round
        state = spark.sparkContext.broadcast(bloom)

        @F.pandas_udf("boolean")
        def might_contain(h: pd.Series) -> pd.Series:
            return pd.Series(
                state.value.might_contain(h.to_numpy(dtype=np.int64))
            )

        flagged = candidates.withColumn("_maybe", might_contain(F.col("url_sha1")))
    definitely_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
    false_pos = (
        flagged.filter(F.col("_maybe")).drop("_maybe")
        .join(seen.select("url"), "url", "left_anti")
    )
    return definitely_new.unionByName(false_pos), false_pos
