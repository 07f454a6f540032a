"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force exact top-k: the correctness baseline. The
  dot products run entirely JVM-side (``zip_with``/``aggregate`` — no Python),
  and the quadratic blow-up is bounded by restricting the query side, with
  the neighbor side broadcast when it fits.
* ``hyperplane_lsh_buckets`` / ``bucketed_cosine_topk`` — the scale path:
  sign-random-projection LSH. Plane b's component for dimension d is a
  deterministic ±1 from the shared md5 hash (seedless, reproducible on any
  engine). At 10^9 vectors the bucket join replaces the cross join; recall
  is tunable via n_planes / n_tables.
* ``embedding_neardup_pairs`` — embedding-cosine near-duplicate detection
  (dedup modality E in the training-data pipeline).

Cosine values are rounded to 6 dp so the DuckDB oracle twin compares stably
(both engines accumulate in float64 over the same element order).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def with_cosine(df: DataFrame, a: str = "a_vec", b: str = "b_vec",
                out: str = "cosine") -> DataFrame:
    return df.withColumn(
        out,
        F.round(_dot(F.col(a), F.col(b)) / (_norm(F.col(a)) * _norm(F.col(b))), 6),
    )


def _score_hoisted(pairs: DataFrame) -> DataFrame:
    """Cosine over pairs that carry pre-computed per-row norms (_na/_nb):
    one O(dim) fold (the dot) per pair instead of three. Bit-identical to
    with_cosine — the norm float chains are unchanged, only hoisted to the
    per-row side of the join."""
    return pairs.withColumn(
        "cosine",
        F.round(
            _dot(F.col("a_vec"), F.col("b_vec")) / (F.col("_na") * F.col("_nb")), 6
        ),
    ).drop("a_vec", "b_vec", "_na", "_nb")


def _exact_topk(scored: DataFrame, k: int) -> DataFrame:
    """Exact per-query top-k: one ``row_number`` window over query_id with a
    literal ``rank <= k`` filter. For that filter Catalyst plans a Partial
    ``WindowGroupLimit`` that keeps each query's top-k inside every input
    partition before the query_id exchange, and a Final one after it, so a
    query's scored neighbors (10⁹ rows at scale) never reach one window
    partition whole. A k above ``spark.sql.optimizer.windowGroupLimitThreshold``
    (1000) gets no limit and stays exact."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(emb: DataFrame, k: int = 5, query_mod: int = 50,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for the query subset (id % query_mod == 0)
    against ALL vectors; ties broken by neighbor id for full determinism.

    Scale shape: the QUERY side (1/query_mod of the data by construction) is
    the broadcast side; the full vector set streams and is never broadcast —
    broadcasting the neighbor side OOMs the moment the corpus outgrows one
    executor. Top-k selection is one rank window that Catalyst prunes per
    input partition before the shuffle (``_exact_topk``)."""
    # norms are per-ROW quantities: materialize them on each side before the
    # join so the per-pair projection evaluates one O(dim) fold (the dot)
    # instead of three — bit-identical result (the norm's float chain is
    # unchanged, only hoisted), ~2/3 less HOF work per pair
    q = emb.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("a_vec"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    n = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("b_vec"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    pairs = n.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    return _exact_topk(_score_hoisted(pairs), k)


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.95,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            max_rows: int = 100_000) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — the EXACT near-dup
    baseline. Inherently quadratic: verify-scale only (it is the oracle twin
    of ``embedding_neardup_lsh``, which is the scale path).

    ``max_rows`` makes that scoping self-enforcing: beyond it the quadratic
    blow-up (and the full-side broadcast) cannot be what the caller wants,
    so this raises instead of silently launching an O(n²) plan. Raise the
    cap explicitly only for a deliberate offline verification run."""
    n_rows = emb.count()
    if n_rows > max_rows:
        raise ValueError(
            f"embedding_neardup_pairs is the O(n²) verify-scale baseline "
            f"({n_rows} rows > max_rows={max_rows}); use "
            "embedding_neardup_lsh for the bucketed scale path, or pass a "
            "higher max_rows for a deliberate offline verification"
        )
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("a_vec"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("b_vec"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    return (
        with_cosine(pairs)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_neardup_lsh(emb: DataFrame, threshold: float = 0.95,
                          n_planes: int = 6, n_tables: int = 3,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Embedding near-dup at scale: candidate pairs share a hyperplane-LSH
    bucket in ≥1 of ``n_tables`` tables (shuffle key = bucket, never a cross
    join), then exact cosine ≥ threshold on candidates only. Same output
    columns as the exact baseline; recall < 1 by construction (tunable via
    n_planes/n_tables) and reproducible in SQL because the hyperplane signs
    are deterministic constants."""
    cands = None
    for t in range(n_tables):
        bucketed = hyperplane_lsh_buckets(emb, n_planes, id_col, vec_col, table=t)
        left = bucketed.select(F.col(id_col).alias("id_a"), "bucket")
        right = bucketed.select(F.col(id_col).alias("id_b"), "bucket")
        p = (
            left.join(right, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cands = p if cands is None else cands.unionByName(p)
    cands = cands.distinct()
    # per-row norms hoisted ahead of the candidate join (see cosine_topk)
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("a_vec"),
                   _norm(F.col(vec_col)).alias("_na"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("b_vec"),
                   _norm(F.col(vec_col)).alias("_nb"))
    pairs = cands.join(a, "id_a").join(b, "id_b")
    return (
        _score_hoisted(pairs)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


_MAX_DIM = 64  # sign literals cover embeddings up to this many dimensions


def _plane_sign_py(plane: int, d: int, table: int = 0) -> float:
    """Deterministic ±1 for (plane, dim[, table]): parity of the shared
    60-bit md5-prefix hash — same formula as operators.dedup.hash64, computed
    driver-side so the sign matrix folds to literals."""
    key = f"plane{plane}|{d}" if table == 0 else f"plane{table}.{plane}|{d}"
    h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


def hyperplane_lsh_buckets(emb: DataFrame, n_planes: int = 8,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           table: int = 0) -> DataFrame:
    """Sign-random-projection bucket id per vector: bit b = sign(v · p_b).

    The hyperplane signs are constants, so they are baked in as array
    LITERALS (sliced to the vector length) rather than computed by a
    ``transform(sequence(...))`` lambda. Besides folding 64 hash calls out of
    the per-row path, this avoids triple-nested higher-order-function lambdas
    (transform inside zip_with inside aggregate, repeated per plane in one
    projection), whose lambda-variable binding proved session-nondeterministic
    — identical input produced different buckets across runs."""
    sig = None
    for b in range(n_planes):
        signs = F.array(
            *[F.lit(_plane_sign_py(b, d, table)) for d in range(_MAX_DIM)]
        )
        proj = _dot(
            F.col(vec_col), F.slice(signs, 1, F.size(F.col(vec_col)))
        )
        bit = F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    # >_MAX_DIM vectors would null-pad the sign slice, null the projection,
    # and silently collapse everything into bucket 0 (a near-cross-join);
    # fail loudly instead
    sig = F.when(
        F.size(F.col(vec_col)) > _MAX_DIM,
        F.raise_error(F.lit(
            f"hyperplane_lsh_buckets supports ≤{_MAX_DIM} dims; widen _MAX_DIM"
        )).cast("int"),
    ).otherwise(sig)
    return emb.select(id_col, vec_col, sig.cast("int").alias("bucket"))


def probe_masks(n_planes: int, probe_bits: int) -> list[int]:
    """All XOR masks with ≤ probe_bits set bits — the multi-probe sequence."""
    return [m for m in range(1 << n_planes)
            if bin(m).count("1") <= probe_bits]


def bucketed_cosine_topk(emb: DataFrame, k: int = 5, query_mod: int = 50,
                         n_planes: int = 6, n_tables: int = 3,
                         probe_bits: int = 2,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket —
    the join shuffles on bucket instead of crossing everything. Standard
    multi-table LSH (``n_tables`` independent hyperplane sets) plus
    MULTI-PROBE (Lv et al., VLDB'07): the query side also probes every
    bucket within Hamming distance ``probe_bits`` of its own signature,
    which buys recall without the memory cost of more tables. Only the
    tiny query side explodes (×Σ C(n_planes,i)); the full vector set still
    joins once per table on its single bucket. Per-table candidate recall
    for angle θ with p = 1-θ/π is Σ_{{i≤probe_bits}} C(b,i)·p^(b-i)(1-p)^i.

    Sizing at scale: n_planes should grow with the corpus (≈ log2(n/target
    bucket size)); these defaults are test-scale. Candidate pairs are
    unioned across tables/probes and cosine-scored once per distinct pair."""
    masks = probe_masks(n_planes, probe_bits)
    cands = None
    for t in range(n_tables):
        bucketed = hyperplane_lsh_buckets(emb, n_planes, id_col, vec_col, table=t)
        q = bucketed.filter(F.col(id_col) % query_mod == 0).select(
            F.col(id_col).alias("query_id"), "bucket"
        )
        if probe_bits > 0:
            q = q.select(
                "query_id",
                F.explode(F.array(*[F.lit(m) for m in masks])).alias("_mask"),
                "bucket",
            ).select(
                "query_id",
                F.col("bucket").bitwiseXOR(F.col("_mask")).alias("bucket"),
            )
        n = bucketed.select(F.col(id_col).alias("neighbor_id"), "bucket")
        p = q.join(n, ["bucket"]).filter(
            F.col("query_id") != F.col("neighbor_id")
        ).select("query_id", "neighbor_id")
        cands = p if cands is None else cands.unionByName(p)
    cands = cands.distinct()
    vecs_q = emb.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("a_vec"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    vecs_n = emb.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).alias("b_vec"),
                        _norm(F.col(vec_col)).alias("_nb"))
    pairs = cands.join(F.broadcast(vecs_q), "query_id").join(vecs_n, "neighbor_id")
    return _exact_topk(_score_hoisted(pairs), k)


def ivf_assignments(emb: DataFrame, n_centroids: int = 8,
                    id_col: str = "vec_id", vec_col: str = "embedding"):
    """IVF coarse quantizer: deterministic "training" picks the
    ``n_centroids`` lowest-id vectors as centroids (seedless, reproducible in
    SQL); every vector is assigned to its max-cosine centroid (tie → lowest
    centroid id). Returns (assigned_df with a ``cid`` column, centroid list).

    The per-centroid cosines are folds against centroid LITERALS — the
    centroid set is tiny driver-side state (the IVF codebook), exactly like
    a trained quantizer shipped to executors; comparisons use the unrounded
    doubles so the argmax is bit-stable across engines."""
    import math

    rows = emb.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
    cents = [(int(r[0]), [float(x) for x in r[1]]) for r in rows]
    vnorm = _norm(F.col(vec_col))
    structs = []
    for cid, cv in cents:
        arr = F.array(*[F.lit(x) for x in cv])
        cn = math.sqrt(sum(x * x for x in cv))
        cos = _dot(F.col(vec_col), F.slice(arr, 1, F.size(F.col(vec_col)))) / (
            vnorm * F.lit(cn)
        )
        # struct max is lexicographic: max cosine, then max(-cid) = min cid
        structs.append(F.struct(cos.alias("cc"), F.lit(-cid).alias("ncid")))
    best = F.greatest(*structs)
    assigned = emb.withColumn("cid", (-best.getField("ncid")).cast("long"))
    return assigned, cents


def ivf_topk(emb: DataFrame, k: int = 5, query_mod: int = 50,
             n_centroids: int = 8, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF approximate top-k — the inverted-file counterpart of the LSH path:
    vectors partition into centroid buckets (the inverted lists); a query
    scores only the lists of its ``nprobe`` nearest centroids. The candidate
    join shuffles on ``cid`` — never a cross join; at scale the assignment
    is a write-once column and the lists are cluster-partitioned storage."""
    import math

    assigned, cents = ivf_assignments(emb, n_centroids, id_col, vec_col)
    vnorm = _norm(F.col(vec_col))
    probe_structs = []
    for cid, cv in cents:
        arr = F.array(*[F.lit(x) for x in cv])
        cn = math.sqrt(sum(x * x for x in cv))
        cos = _dot(F.col(vec_col), F.slice(arr, 1, F.size(F.col(vec_col)))) / (
            vnorm * F.lit(cn)
        )
        # ascending array_sort key: (-cosine, cid)
        probe_structs.append(F.struct((-cos).alias("nc"), F.lit(cid).alias("cid")))
    probes = (
        emb.filter(F.col(id_col) % query_mod == 0)
        .withColumn("_ps", F.slice(F.array_sort(F.array(*probe_structs)), 1, nprobe))
        .select(
            F.col(id_col).alias("query_id"),
            F.explode("_ps").alias("_p"),
        )
        .select("query_id", F.col("_p.cid").alias("cid"))
    )
    lists = assigned.select(F.col(id_col).alias("neighbor_id"), "cid")
    cands = (
        probes.join(lists, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = emb.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("a_vec"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    n = emb.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("b_vec"),
                   _norm(F.col(vec_col)).alias("_nb"))
    pairs = cands.join(F.broadcast(q), "query_id").join(n, "neighbor_id")
    return _exact_topk(_score_hoisted(pairs), k)


def semantic_dedup(emb: DataFrame, threshold: float = 0.7,
                   n_centroids: int = 8, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_list_size: int = 100_000) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): coarse-
    cluster the embeddings with the IVF quantizer, then inside each cluster
    drop every vector that has a SMALLER-id near-twin (cosine >= threshold).
    Returns every input row labeled: (id, cid, kept).

    The keep rule is the pairwise greedy one the paper uses (keep a point iff
    no kept-or-dropped lower-id point in its cluster is within the cosine
    ball) — deterministic, order-free, and exactly expressible in the SQL
    twin. Cross-cluster near-dups are invisible by design; that is the
    SemDeDup trade-off (recall bounded by quantizer locality).

    Scale shape: the pairwise scoring joins the cluster lists on ``cid`` —
    co-partitioned shuffle, never a corpus cross join — and each pair costs
    one O(dim) fold (norms are hoisted per row). Within-cluster work is
    quadratic in LIST size, which is the knob the paper scales by raising k
    with corpus size; ``max_list_size`` makes that contract self-enforcing
    (same pattern as embedding_neardup_pairs.max_rows): a cluster larger
    than it raises instead of silently launching an O(L²) stage.
    """
    assigned, _cents = ivf_assignments(emb, n_centroids, id_col, vec_col)
    biggest = (
        assigned.groupBy("cid").count().agg(F.max("count")).collect()[0][0]
    )
    if biggest and biggest > max_list_size:
        raise ValueError(
            f"semantic_dedup: largest IVF list has {biggest} rows "
            f"(> max_list_size={max_list_size}); raise n_centroids so the "
            "within-cluster quadratic stage stays bounded, or raise "
            "max_list_size for a deliberate offline run"
        )
    a = assigned.select(
        "cid", F.col(id_col).alias("id_a"), F.col(vec_col).alias("a_vec"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    b = assigned.select(
        "cid", F.col(id_col).alias("id_b"), F.col(vec_col).alias("b_vec"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    pairs = a.join(b, "cid").filter(F.col("id_a") < F.col("id_b"))
    drops = (
        _score_hoisted(pairs)
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_b").alias("_drop_id"))
        .distinct()
    )
    return (
        assigned.select(F.col(id_col), "cid")
        .join(drops, F.col(id_col) == F.col("_drop_id"), "left")
        .select(
            F.col(id_col), "cid", F.col("_drop_id").isNull().alias("kept")
        )
    )
