"""Payload validation invariants (BASELINE.json input_hint, SURVEY §5.2.4)."""

from pyspark.sql import functions as F  # noqa: N812

from cs3103_gocrawler_spark.operators.canonicalize import with_canonical
from cs3103_gocrawler_spark.operators.fetch import fetch_process
from cs3103_gocrawler_spark.operators.matchers import conjunction
from cs3103_gocrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine

_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _frontier(df):
    return with_canonical(df.select(
        "url",
        F.lit(0).cast("int").alias("priority"),
        F.lit(0).alias("depth"),
        F.lit("").alias("parent"),
    ))


def _validated(pages, frontier, gen_seed):
    out = fetch_process(
        frontier, pages, matcher=conjunction(["html"]), validate=True,
        gen_seed=gen_seed,
    ).drop("partition_id")
    pdf = out.toPandas().sort_values("url").reset_index(drop=True)
    pdf["links"] = pdf["links"].map(lambda x: None if x is None else list(x))
    return pdf


def _dangling_frontier(spark, web_dir):
    """Every page plus every link target, dangling ones included."""
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    edges = spark.read.parquet(f"{web_dir}/edges.parquet")
    return _frontier(
        pages.select(F.col("image_id").alias("url"))
        .union(edges.select(F.col("dst").alias("url")))
        .distinct()
    )


def test_all_generated_payloads_validate(spark, tiny_web):
    cfg_web, web_dir = tiny_web
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    frontier = _frontier(pages.select(F.col("image_id").alias("url")))
    res = _validated(pages, frontier, cfg_web.seed)
    assert len(res) == cfg_web.n_pages
    assert res["found"].all()
    # every payload validates, whatever the matcher outcome
    assert res["valid"].all(), res[~res["valid"]].head()
    lossy = res[res["fmt"] != "png"]
    assert (lossy["psnr_db"] >= 40.0).all()
    assert (lossy["psnr_db"] < 1e6).all()  # genuinely lossy, not exact


def test_fused_validate_mixed_batches(spark, tiny_web):
    """The fused fetch+validate pass over every page AND the web's dangling
    links (generator default p_dangling): Arrow batches that mix fetch
    misses with hits must not change any value. A nullable int64 phash
    became float64 in such batches and failed valid payloads. Batch sizes
    1, 2 and 7 must agree, with every ok row valid."""
    cfg_web, web_dir = tiny_web
    assert cfg_web.p_dangling > 0
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    frontier = _dangling_frontier(spark, web_dir)
    prev = spark.conf.get(_BATCH_CONF)
    outs = {}
    try:
        for n in (1, 2, 7):
            spark.conf.set(_BATCH_CONF, str(n))
            outs[n] = _validated(pages, frontier, cfg_web.seed)
    finally:
        spark.conf.set(_BATCH_CONF, prev)

    res = outs[1]
    assert (~res["found"]).sum() > 0 and res["found"].sum() == cfg_web.n_pages
    ok = res[res["outcome"] == "ok"]
    assert len(ok) > 0 and ok["valid"].all(), ok[~ok["valid"]].head()
    assert res.loc[~res["found"], "valid"].isna().all()
    for n in (2, 7):
        assert outs[n].equals(res), f"batch size {n} changed the output"


def test_corrupted_payload_detected(spark, tiny_web):
    """A tampered caption fails validation in the fused pass, in Arrow
    batches that mix tampered pages, clean pages and fetch misses."""
    cfg_web, web_dir = tiny_web
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    tampered = pages.withColumn(
        "caption",
        F.when(
            F.xxhash64("image_id") % 3 == 0,
            F.concat(F.col("caption"), F.lit(" TAMPERED")),
        ).otherwise(F.col("caption")),
    )
    bad = {
        r["image_id"] for r in tampered
        .filter(F.col("caption").endswith(" TAMPERED"))
        .select("image_id").collect()
    }
    prev = spark.conf.get(_BATCH_CONF)
    try:
        spark.conf.set(_BATCH_CONF, "2")
        corrupted = _validated(
            tampered, _dangling_frontier(spark, web_dir), cfg_web.seed
        )
    finally:
        spark.conf.set(_BATCH_CONF, prev)

    assert bad
    hit = corrupted[corrupted["found"]]
    is_bad = hit["url"].isin(bad)
    assert (~hit.loc[is_bad, "caption_ok"]).all()
    assert (~hit.loc[is_bad, "valid"]).all()
    assert hit.loc[~is_bad, "valid"].all()


def test_engine_validation_table(spark, tiny_web, tmp_path):
    cfg_web, web_dir = tiny_web
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{web_dir}/seeds.parquet")
    cfg = CrawlConfig(max_depth=3, blacklist_hosts=cfg_web.blacklist_hosts,
                      validate=True, gen_seed=cfg_web.seed)
    eng = CrawlEngine(spark, pages, cfg, str(tmp_path / "v"))
    eng.init_frontier(seeds)
    eng.run()
    val = eng.validation_df().toPandas()
    vis = eng.visited_df().toPandas()
    assert set(val["url"]) == set(vis["url"])
    assert val["valid"].all()
