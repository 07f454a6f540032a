"""Text-analysis operators for training-data pipelines: quality scoring,
token counting, document fingerprinting (SQL-twinned), and an n-gram
language-ID heuristic (pandas-UDF, rows-only checked).

All SQL-twinned transforms use only functions with exact DuckDB equivalents
(md5-prefix hash64, regexp_*, split) so the oracle comparison is bit-stable.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql import types as T  # noqa: N812

from .dedup import hash64, normalized_words, word_shingles

STOPWORDS = ("a", "the", "and", "of", "to", "in", "is", "it", "on", "for")

# BPE-ish tokenization regex: letter runs / digit runs / single other glyphs
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per document."""
    words = normalized_words(F.col(text_col))
    return docs.select(
        id_col,
        F.size(words).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_RE), 0)).alias("n_bpe_tokens"),
        F.length(text_col).alias("n_chars_computed"),
    )


def quality_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality features: token count, mean token length, stopword
    ratio, punctuation ratio, and a combined [0,1] score — the standard
    pre-training corpus filters, all JVM-side."""
    words = normalized_words(F.col(text_col))
    n = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    n_punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit("[^A-Za-z0-9\\s]"), 0))
    mean_len = F.round(
        F.aggregate(words, F.lit(0).cast("double"), lambda acc, w: acc + F.length(w))
        / F.greatest(n, F.lit(1)),
        6,
    )
    stop_ratio = F.round(n_stop / F.greatest(n, F.lit(1)), 6)
    punct_ratio = F.round(n_punct / F.greatest(F.length(text_col), F.lit(1)), 6)
    score = F.round(
        F.least(n / F.lit(100.0), F.lit(1.0)) * (1 - punct_ratio)
        * F.when((stop_ratio > 0.02) & (stop_ratio < 0.6), 1.0).otherwise(0.5),
        6,
    )
    return docs.select(
        id_col,
        n.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    )


def doc_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 8) -> DataFrame:
    """Winnowing-style fingerprint: the two smallest char-k-gram hashes per
    document (min + runner-up) — a compact near-dup / containment sketch.

    Scale shape: rank-≤2 via a window (sorts spill to disk) instead of
    ``sort_array(collect_list(...))`` — the collect_list form materializes
    every gram hash of a document in one aggregation buffer, O(doc_len)
    executor memory per group."""
    from pyspark.sql import Window

    grams = docs.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(text_col) - k + 1, F.lit(1))),
                lambda i: F.col(text_col).substr(i, F.lit(k)),
            )
        ).alias("gram"),
    ).withColumn("gh", hash64(F.col("gram")))
    w = Window.partitionBy(id_col).orderBy("gh")
    two = grams.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= 2)
    # duplicates of the minimum preserved: rn=2 can carry the same value as
    # rn=1, exactly like sorted_list[1]; a single-gram doc yields NULL
    return two.groupBy(id_col).agg(
        F.min("gh").alias("fp_min"),
        F.max(F.when(F.col("_rn") == 2, F.col("gh"))).alias("fp_second"),
    )


def tfidf_topk(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               k: int = 3) -> DataFrame:
    """Top-k terms per document by smoothed tf-idf
    (``tf · (ln((N+1)/(df+1)) + 1)``, the sklearn-style smooth idf) — the
    standard keyword/topic-signal extraction pass of a corpus-curation
    pipeline.

    Scale shape: one explode over the tokenized corpus feeding a map-side-
    partial (doc, term) tf aggregate; the document frequency is a WINDOW
    COUNT over the tf relation partitioned by term — one shuffle on the
    term and a single scan of the exploded corpus (a groupBy+self-join
    formulation scans/aggregates the tf relation twice); the corpus size N
    joins in as a broadcast 1-row aggregate (no driver collect); the final
    top-k is a window partitioned BY DOCUMENT — each window group holds one
    document's vocabulary, so there is no global sort and no skew funnel.
    Ties rank by the 6-dp-rounded score then term text, deterministic
    across engines."""
    from pyspark.sql import Window

    ws = docs.select(id_col, normalized_words(F.col(text_col)).alias("_ws"))
    tok = ws.select(id_col, F.explode("_ws").alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = docs.agg(F.count("*").cast("double").alias("_n"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * (F.log((F.col("_n") + 1) / (F.col("df") + 1)) + 1), 6
            ),
        )
    )

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rk")
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_dup_word_frac: float = 0.30,
    max_top_word_frac: float = 0.20,
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, public):
    duplicate-line fraction, duplicate-word fraction, and most-frequent-word
    dominance per document, plus a keep flag at the standard thresholds
    (duplicate lines > 30% or top-word share > 20% → drop).

    Scale shape: the line-level stats are pure array built-ins (no shuffle);
    the word-level stats are one explode + two hash aggregations with
    map-side partials keyed by doc — no window, no collect_list buffer, so
    executor memory stays O(batch) regardless of document length.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda ln: F.trim(ln)),
        lambda ln: ln != "",
    )
    base = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.size(lines).alias("_nl"),
        F.size(F.array_distinct(lines)).alias("_ndl"),
    )
    # explode_outer keeps zero-word docs as a single NULL-word row; count(_w)
    # ignores NULLs so those docs aggregate to n_words = 0, not 1
    wc = (
        base.select(
            id_col, "_nl", "_ndl",
            F.explode_outer(normalized_words(F.col(text_col))).alias("_w"),
        )
        .groupBy(id_col, "_nl", "_ndl", "_w")
        .agg(F.count("_w").alias("_c"))
    )
    agg = wc.groupBy(id_col, "_nl", "_ndl").agg(
        F.sum("_c").cast("long").alias("n_words"),
        F.count(F.when(F.col("_c") > 0, 1)).cast("long").alias("n_distinct_words"),
        F.max("_c").cast("long").alias("top_word_n"),
    )
    nl = F.greatest(F.col("_nl"), F.lit(1))
    nw = F.greatest(F.col("n_words"), F.lit(1))
    out = agg.select(
        F.col(id_col),
        F.col("_nl").cast("long").alias("n_lines"),
        F.round((F.col("_nl") - F.col("_ndl")) / nl, 6).alias("dup_line_frac"),
        F.col("n_words"),
        F.round((F.col("n_words") - F.col("n_distinct_words")) / nw, 6).alias(
            "dup_word_frac"
        ),
        F.round(F.col("top_word_n") / nw, 6).alias("top_word_frac"),
    )
    return out.withColumn(
        "keep",
        (
            (F.col("dup_line_frac") <= max_dup_line_frac)
            & (F.col("dup_word_frac") <= max_dup_word_frac)
            & (F.col("top_word_frac") <= max_top_word_frac)
        ).cast("long"),
    )


def boilerplate_strip(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_line_df: int = 2,
) -> DataFrame:
    """C4-style cross-document boilerplate removal (Raffel et al. 2020 §2.2,
    public): drop every trimmed non-empty line that occurs in more than
    ``max_line_df`` documents corpus-wide (C4 removes lines occurring >= 3
    times), then reassemble each document's remaining lines in order.

    Scale shape: line document-frequency is one explode + a two-phase
    (map-side partial) distinct-count aggregation keyed by line; the common
    lines are a small set (by definition boilerplate is heavy-tailed) so AQE
    turns the anti-join back into a broadcast join at runtime.
    Reassembly sorts each document's own
    surviving (pos, line) structs — buffer bounded by single-document length.
    """
    lines_arr = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda ln: F.trim(ln)),
        lambda ln: ln != "",
    )
    base = docs.select(
        F.col(id_col), F.size(lines_arr).alias("n_lines"), lines_arr.alias("_lines")
    )
    lines = base.select(
        id_col, F.posexplode("_lines").alias("pos", "line")
    )
    # document frequency per distinct line; approx_count_distinct would also
    # do at 100 TB, but exact keeps the oracle twin bit-stable
    common = (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") > max_line_df)
        .select("line")
    )
    # no broadcast hint: the common-line set is usually tiny (boilerplate is
    # heavy-tailed) but not bounded by construction — AQE converts the join
    # to broadcast at runtime when the built side is actually small, without
    # risking a forced driver-side build of an adversarially large set
    kept = (
        lines.join(common, "line", "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s.getField("line"),
                ),
                "\n",
            ).alias("clean_text"),
            F.count("*").cast("long").alias("n_kept"),
        )
    )
    return (
        base.select(id_col, "n_lines")
        .join(kept, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


# PII patterns (public-knowledge redaction classes per C4 / Dolma corpus
# curation): kept to syntax valid and identical under both Java regex (Spark)
# and RE2 (DuckDB) — no lookarounds, no backrefs
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IP_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
PII_PHONE_RE = "\\+?[0-9][0-9 ()-]{6,}[0-9]"


def pii_redact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Redact emails, IPv4 addresses and phone-like digit runs, with per-class
    counts (the standard pre-training PII scrub). All JVM-side regexp —
    replacement order matters: emails first (may contain digit runs), then
    IPs (dotted digits), then remaining long digit runs as phones.
    """
    emails = F.size(F.regexp_extract_all(F.col(text_col), F.lit(PII_EMAIL_RE), 0))
    t1 = F.regexp_replace(F.col(text_col), PII_EMAIL_RE, "<EMAIL>")
    ips = F.size(F.regexp_extract_all(t1, F.lit(PII_IP_RE), 0))
    t2 = F.regexp_replace(t1, PII_IP_RE, "<IP>")
    phones = F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE_RE), 0))
    t3 = F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>")
    return docs.select(
        F.col(id_col),
        emails.cast("long").alias("n_emails"),
        ips.cast("long").alias("n_ips"),
        phones.cast("long").alias("n_phones"),
        t3.alias("redacted_text"),
    )


def stratified_sample(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    n_per_group: int = 50,
) -> DataFrame:
    """Deterministic per-group corpus sampling: the n_per_group documents
    with the smallest (hash64(id), id) key in each group — a seedless,
    rerun-stable stratified sample for training-data mixing.

    Scale shape: one ``row_number`` window per group with a literal
    ``sample_rank <= n_per_group`` filter. Catalyst plans a Partial
    ``WindowGroupLimit`` that keeps n per group inside every input partition
    before the group exchange, and a Final one after it, so a group (a
    handful of sources over billions of docs) reaches its reducer as at most
    n rows per input partition. Result is exactly the global per-group
    top-n; an n above ``spark.sql.optimizer.windowGroupLimitThreshold``
    (1000) gets no limit and stays exact.
    """
    from pyspark.sql import Window

    keyed = docs.withColumn("_h", hash64(F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy("_h", id_col)
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_group)
        .drop("_h")
    )


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    shingle_k: int = 3,
    flag_threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination detection (public method: GPT-3, Brown et al.
    2020 Appendix C; PaLM contamination analysis): per document, the fraction
    of its distinct word ``shingle_k``-grams that also occur in any benchmark
    text, with a flag at ``flag_threshold``.

    Scale shape: eval benchmarks are KBs–MBs, so the distinct benchmark
    shingle set is explicitly broadcast and the 100 TB corpus side streams
    through one explode + broadcast-hash left join + one map-side-partial
    aggregation keyed by doc — no shuffle of the corpus beyond the per-doc
    rollup, no driver collect.
    """
    bench_shingles = (
        benchmark.select(
            F.explode(
                word_shingles(normalized_words(F.col(bench_text_col)), shingle_k)
            ).alias("shingle")
        )
        .filter(F.col("shingle") != "")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # explode_outer keeps zero-shingle docs as one NULL row → n_shingles = 0
    exploded = docs.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(
                F.filter(
                    word_shingles(normalized_words(F.col(text_col)), shingle_k),
                    lambda s: s != "",
                )
            )
        ).alias("shingle"),
    )
    agg = (
        exploded.join(F.broadcast(bench_shingles), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count("shingle").cast("long").alias("n_shingles"),
            F.count("_hit").cast("long").alias("n_overlap"),
        )
    )
    frac = F.round(
        F.col("n_overlap") / F.greatest(F.col("n_shingles"), F.lit(1)), 6
    )
    return agg.select(
        F.col(id_col),
        F.col("n_shingles"),
        F.col("n_overlap"),
        frac.alias("contamination_frac"),
        (frac >= flag_threshold).cast("long").alias("contaminated"),
    )


# ---------------------------------------------------------------- language ID
_LANG_PROFILES = {
    # tiny public-knowledge character-trigram hint lists; the heuristic is the
    # operator under test, not linguistic accuracy
    "en": (" th", "the", "ing", " an", "and", " of", "ion"),
    "es": (" de", "de ", " la", "os ", " el", "ión", " qu"),
    "fr": (" le", "es ", " de", "de ", "ent", " la", "que"),
    "de": ("en ", "er ", " de", "der", "ch ", "ein", "sch"),
    "zh": tuple(),  # CJK detected by codepoint range instead
}


def lang_id_py(text: str) -> str:
    if any("一" <= c <= "鿿" for c in text[:400]):
        return "zh"
    t = f" {text.lower()} "
    best, best_score = "en", -1.0
    for lang, tris in _LANG_PROFILES.items():
        if not tris:
            continue
        score = sum(t.count(tri) for tri in tris) / max(len(t), 1)
        if score > best_score:
            best, best_score = lang, score
    return best


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Vectorized n-gram language-ID heuristic (no model download — a pure
    trigram-profile scorer). Rows-only correctness (not SQL-expressible)."""

    @F.pandas_udf(T.StringType())
    def _lang(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(lang_id_py)

    return docs.select(id_col, _lang(F.col(text_col)).alias("lang_pred"))
