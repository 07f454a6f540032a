"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle→minhash→band→bucket-join),
SimHash, and n-gram Jaccard — each as a pure DataFrame transform with a
matching ANSI-SQL twin (plans/generic_queries.py) so DuckDB can oracle-check
it.

Cross-engine hash parity: both Spark and DuckDB compute
``md5`` identically, so the shared 60-bit hash is

    Spark:  conv(substr(md5(x), 1, 15), 16, 10)::long
    DuckDB: CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)

Scale notes (the part that matters at 100 TB):
* exact dedup is one hash-aggregate — map-side partial agg, no skew issue.
* minhash signatures are per-row (no shuffle); the only shuffle is the
  band-bucket self-join, whose buckets are small by construction (a giant
  bucket = a giant near-dup cluster; cap it with a bucket-size limit).
* all shingling/hashing stays JVM-side in built-in functions — no Python in
  the hot path.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

N_PERMS = 8          # minhash permutations (universal hashing, see PERM_AB)
BAND_SIZE = 2        # rows per LSH band → N_PERMS/BAND_SIZE bands
# full width of the shared 60-bit md5-prefix hash (production simhash is
# 64-bit; ours is capped by the base hash's width — bits ≥60 would be
# constant-zero and carry no signal)
SIMHASH_BITS = 60

# Universal-hash permutations h_i(s) = (a_i·h(s) + b_i) mod p over one shared
# base hash — one md5 per shingle instead of N_PERMS of them (the md5s were
# the dominant cost of the signature stage). p = 2^31−1 keeps a·h < 2^62, so
# the arithmetic is exact in both Spark longs and DuckDB BIGINTs (DuckDB
# errors on overflow rather than wrapping — staying under 2^63 is load-bearing
# for the oracle twin). Constants are fixed literals so the SQL twin can embed
# them verbatim.
MINHASH_P = (1 << 31) - 1
_rnd = random.Random(3230)
PERM_AB = [
    (_rnd.randrange(1, MINHASH_P), _rnd.randrange(0, MINHASH_P))
    for _ in range(N_PERMS)
]
del _rnd


def hash64(col):
    """60-bit md5-prefix hash with an exact DuckDB twin (module docstring)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def normalized_words(text_col):
    """lowercase, strip non-alphanumerics, split — shared normalization."""
    return F.filter(
        F.split(F.regexp_replace(F.lower(text_col), "[^a-z0-9 ]", " "), " +"),
        lambda w: w != "",
    )


def word_shingles(words_col, k: int = 3):
    """Word k-grams as strings (space-joined)."""
    n = F.size(words_col)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", *[F.element_at(words_col, i + j + 1) for j in range(k)]),
        ),
    ).otherwise(F.array(F.concat_ws(" ", words_col)))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct text with the
    representative (minimum) id and the duplicate count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_perms: int = N_PERMS,
                       shingle_k: int = 3) -> DataFrame:
    """Per-doc minhash signature columns mh0..mh{n-1}.

    Permutation i is the universal hash (a_i·h(shingle) + b_i) mod p over the
    shared 60-bit base hash (PERM_AB) — one md5 per shingle, then pure
    arithmetic; exactly reproducible in ANSI SQL (fixed constants, no RNG).

    Two plan rules matter here (measured 29 s → 2.1 s at sf0.1):
    * the words array MUST be materialized as its own projection step before
      shingling — composed inline, CollapseProject re-inlines the expensive
      regexp-split into every ``element_at`` reference of the shingle
      lambda, re-tokenizing the document once per shingle element;
    * no ``dropDuplicates`` before the aggregate — min() is
      duplicate-insensitive, so per-(doc,shingle) dedup was a pure extra
      shuffle of every shingle row."""
    ws = docs.select(id_col, normalized_words(F.col(text_col)).alias("_ws"))
    sh = ws.select(
        id_col, F.explode(word_shingles(F.col("_ws"), shingle_k)).alias("shingle")
    )
    she = sh.withColumn("_h", hash64(F.col("shingle")) % F.lit(MINHASH_P))
    aggs = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(PERM_AB[:n_perms])
    ]
    return she.groupBy(id_col).agg(*aggs)


def band_signatures(signatures: DataFrame, id_col: str = "doc_id",
                    n_perms: int = N_PERMS, band_size: int = BAND_SIZE) -> DataFrame:
    """Explode a signature row into its LSH bands: (doc, band_id, band_key)
    where band_key is the comma-joined minhash slice. Shared by the self-join
    (lsh_candidate_pairs) and the batch-vs-corpus probe (incremental_lsh_pairs)
    so both sides of an incremental dedup band identically."""
    n_bands = n_perms // band_size
    return signatures.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.array(*[
                F.concat_ws(
                    ",", *[F.col(f"mh{b * band_size + j}").cast("string") for j in range(band_size)]
                )
                for b in range(n_bands)
            ])
        ).alias("band_id", "band_key"),
    )


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        n_perms: int = N_PERMS, band_size: int = BAND_SIZE,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Band the signature, bucket-join within bands → distinct candidate
    pairs (a < b). The self-join shuffles on (band_id, band_hash) only.

    ``max_bucket_size`` is the giant-bucket guard (module docstring): one
    pathological near-dup cluster of c docs makes a c² bucket join. Buckets
    above the cap are DROPPED before the self-join (standard LSH practice —
    such clusters are better handled by exact_dedup on their shared prefix);
    the membership aggregation is a map-side-combinable count, not a collect.
    Default None keeps the exact oracle-twin semantics."""
    banded = band_signatures(signatures, id_col=id_col, n_perms=n_perms,
                             band_size=band_size)
    if max_bucket_size is not None:
        sizes = banded.groupBy("band_id", "band_key").agg(
            F.count("*").alias("_bucket_n")
        )
        banded = (
            banded.join(
                sizes.filter(F.col("_bucket_n") <= max_bucket_size),
                ["band_id", "band_key"],
            )
            .drop("_bucket_n")
        )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame, max_bucket_size: int | None = None,
                      **kw) -> DataFrame:
    return lsh_candidate_pairs(
        minhash_signatures(docs, **kw), max_bucket_size=max_bucket_size
    )


def incremental_lsh_pairs(batch: DataFrame, corpus: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text",
                          shingle_k: int = 3) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus (the per-crawl-round /
    per-ingest shape: only fresh documents are checked, the corpus is never
    re-self-joined). Both sides are minhash-signed and banded identically
    (band_signatures); the join is batch-bands ⋈ corpus-bands on
    (band_id, band_key) → distinct (batch_doc, corpus_doc) collision pairs.

    Scale shape: at 100 TB the corpus's banded table is a precomputed,
    bucketed-by-(band_id, band_key) artifact that each ingest batch probes —
    cost per round is O(batch) signatures plus one co-partitioned join; the
    corpus is neither rescanned per batch nor self-joined. When the batch is
    small Catalyst/AQE broadcasts the batch side into the corpus scan.

    Mirrors the crawl engine's own two-tier seen-set idea (seen.py): cheap
    probabilistic collision first, exact verification (ngram_jaccard on the
    surviving pairs) only for candidates."""
    bb = band_signatures(
        minhash_signatures(batch, id_col=id_col, text_col=text_col, shingle_k=shingle_k),
        id_col=id_col,
    )
    cb = band_signatures(
        minhash_signatures(corpus, id_col=id_col, text_col=text_col, shingle_k=shingle_k),
        id_col=id_col,
    )
    return (
        bb.alias("b")
        .join(
            cb.alias("c"),
            (F.col("b.band_id") == F.col("c.band_id"))
            & (F.col("b.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col("b.doc").alias("batch_doc"), F.col("c.doc").alias("corpus_doc")
        )
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", shingle_k: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Verify LSH candidates with true shingle-set Jaccard; keep ≥ threshold.
    Rounded to 6 dp for stable cross-engine comparison."""
    cands = minhash_lsh_pairs(docs, id_col=id_col, text_col=text_col, shingle_k=shingle_k)
    # words materialized before shingling — same CollapseProject trap as in
    # minhash_signatures (inline composition re-tokenizes per shingle element)
    ws = docs.select(
        F.col(id_col).alias("doc"), normalized_words(F.col(text_col)).alias("_ws")
    )
    sets_df = ws.select(
        "doc",
        F.array_sort(
            F.array_distinct(word_shingles(F.col("_ws"), shingle_k))
        ).alias("sh"),
    )
    a = sets_df.alias("a")
    b = sets_df.alias("b")
    joined = (
        cands.join(a, cands.doc_a == F.col("a.doc"))
        .join(b, cands.doc_b == F.col("b.doc"))
        .withColumn("n_inter", F.size(F.array_intersect("a.sh", "b.sh")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.size("a.sh") + F.size("b.sh") - F.col("n_inter")),
                6,
            ),
        )
    )
    return joined.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def neardup_components(pairs: DataFrame, a_col: str = "doc_a",
                       b_col: str = "doc_b", max_iter: int = 20,
                       checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over near-dup pairs — the canonical-selection
    step after candidate generation: every document in a near-dup cluster is
    labeled with the minimum doc id reachable in its component (the cluster
    representative to keep). Public method: iterative hash-min label
    propagation (the map-reduce CC family of Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    Scale shape: each iteration is one join on the node id + one min
    aggregation (two shuffles over the EDGE set, which LSH banding already
    bounded — not over the corpus); iterations = O(component diameter), and
    near-dup clusters from banded LSH have tiny diameters, so the loop exits
    in a handful of rounds via the changed-label early stop. Lineage is cut
    per iteration so the plan does not grow with the iteration count;
    genuinely iterative, hence driver-side loop by design.

    Fault tolerance is the ``checkpoint_dir`` trade-off: the default
    ``localCheckpoint`` stores label blocks on executors — fast (no
    filesystem round-trip) but any executor loss kills the job and the loop
    restarts from scratch. With ``checkpoint_dir`` set, every iteration's
    labels are committed as a parquet round snapshot (RoundCatalog manifest
    = the atomic commit point), so the loop survives executor AND driver
    loss: a re-invocation with the same dir resumes from the last committed
    iteration (or returns the stored fixpoint outright), at the cost of one
    parquet write per iteration. At 10^9-edge corpora, reliable checkpoints
    are the only shape where a 30-iteration job isn't a restart lottery.

    Raises ``RuntimeError`` when ``max_iter`` iterations still change labels
    — a chain-shaped component with diameter > max_iter would otherwise get
    silently non-minimal, mutually inconsistent labels (and a downstream
    ``neardup_filter`` would keep several "canonical" docs per cluster).
    """
    e = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()

    def _out(lbl: DataFrame) -> DataFrame:
        return lbl.select(
            F.col("u").alias("doc_id"), F.col("label").alias("component")
        )

    cat = None
    start, labels = 0, None
    if checkpoint_dir is not None:
        from ..storage import RoundCatalog

        cat = RoundCatalog(pairs.sparkSession, checkpoint_dir)
        man = cat.manifest()
        if man is not None and man["last_round"] >= 0:
            labels = cat.read("cc_labels", man["last_round"])
            if man.get("converged"):
                return _out(labels)
            start = man["last_round"] + 1
    else:
        edges = edges.localCheckpoint(eager=True)
    if labels is None:
        labels = edges.select("u").distinct().withColumn("label", F.col("u"))

    for i in range(start, max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("u").alias("v"), "label"), "v"
            )
            .groupBy("u")
            .agg(F.min("label").alias("_nbr"))
        )
        new = labels.join(nbr_min, "u", "left").select(
            "u",
            F.least(
                F.col("label"), F.coalesce(F.col("_nbr"), F.col("label"))
            ).alias("label"),
        )
        if cat is not None:
            # reliable lineage cut: labels land in parquet, THEN the changed
            # probe runs over the committed files — the manifest only
            # advances once the iteration is durable
            cat.write(new, "cc_labels", i)
            new = cat.read("cc_labels", i)
        else:
            new = new.localCheckpoint(eager=True)
        changed = (
            new.join(labels.select("u", F.col("label").alias("_old")), "u")
            .filter(F.col("label") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new
        if cat is not None:
            cat.commit_round(i, {"converged": changed == 0})
        if changed == 0:
            # fixpoint: label(u) <= label(v) across every (undirected) edge
            # in both directions => labels constant per component = min id
            return _out(labels)
    raise RuntimeError(
        f"neardup_components did not converge within max_iter={max_iter} "
        "iterations — a near-dup chain has component diameter beyond that; "
        "labels would be non-minimal and mutually inconsistent. Re-run with "
        "a larger max_iter"
        + (
            " (the checkpoint_dir retains progress — the re-run resumes "
            "from the last committed iteration)" if cat is not None else ""
        )
    )


def neardup_filter(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id",
                   checkpoint_dir: str | None = None) -> DataFrame:
    """The corpus after near-dup removal: drop every clustered document
    except its component's canonical (min-id) representative; unclustered
    documents pass through. The end-to-end curation composition:
    candidate pairs → components → keep-list anti-join.

    Scale shape: the drop-list is (cluster size − 1) per cluster — a tiny
    fraction of the corpus — so the final left_anti join broadcasts it under
    AQE; the corpus itself never shuffles here.
    """
    drop = neardup_components(pairs, checkpoint_dir=checkpoint_dir).filter(
        F.col("doc_id") != F.col("component")
    ).select(F.col("doc_id").alias(id_col))
    return docs.join(drop, id_col, "left_anti")


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash: bit b is the sign of Σ_tokens ±1 on bit b of the
    token hash. Packed into one integer — Hamming-near duplicates collide."""
    tok = docs.select(
        id_col, F.explode(normalized_words(F.col(text_col))).alias("w")
    ).withColumn("h", hash64(F.col("w")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = tok.groupBy(id_col).agg(*aggs)
    packed = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return sums.select(id_col, packed.cast("long").alias("simhash"))


# ---------------------------------------------------------------- image axis

def phash_neardup_pairs(images: DataFrame, id_col: str = "image_id",
                        phash_col: str = "phash", max_hamming: int = 3,
                        n_bands: int = 4) -> DataFrame:
    """Image near-duplicate pairs via perceptual-hash banding: the 64-bit
    phash (synthetic/imagecodec.phash64, the same sketch the X5 validator
    recomputes) splits into ``n_bands`` 16-bit bands; candidates share at
    least one exact band, then the exact Hamming distance (``bit_count`` of
    the XOR — JVM-side, no Python) filters to ≤ ``max_hamming``.

    Pigeonhole guarantee: with ``max_hamming < n_bands`` a qualifying pair
    ALWAYS agrees on some band, so the banding is exact (recall 1.0), while
    the join shuffles on (band_id, band_value) buckets instead of crossing
    the corpus — the same LSH shape as the minhash band join. For larger
    ``max_hamming`` it degrades gracefully into approximate recall
    (standard simhash/phash practice)."""
    bands = images.select(
        F.col(id_col).alias("img"),
        F.col(phash_col).alias("ph"),
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col(phash_col), 16 * b)
                .bitwiseAND(F.lit(0xFFFF))
                for b in range(n_bands)
            ])
        ).alias("band_id", "band_value"),
    )
    left = bands.alias("l")
    right = bands.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_value") == F.col("r.band_value"))
            & (F.col("l.img") < F.col("r.img")),
        )
        .select(
            F.col("l.img").alias("id_a"), F.col("r.img").alias("id_b"),
            F.col("l.ph").alias("ph_a"), F.col("r.ph").alias("ph_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
