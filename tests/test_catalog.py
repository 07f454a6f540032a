"""RoundCatalog reads carry their schema and start no Spark job, and each
round's manifest record carries its phase timings."""

import pyarrow.parquet as pq
import pytest
from test_frontier import _polite_engine, _seeds
from test_operators import _jobs

from cs3103_gocrawler_spark.storage import SPARK_SCHEMA_KEY, RoundCatalog
from cs3103_gocrawler_spark.streaming.rounds import PHASE_KEYS


@pytest.fixture(scope="module")
def polite_state(spark, tiny_web, tmp_path_factory):
    """A carryover crawl with a robots delay cap: it writes fetched (with
    links), frontier and host_state tables over several rounds."""
    eng = _polite_engine(spark, tiny_web, str(tmp_path_factory.mktemp("catalog")))
    eng.init_frontier(_seeds(spark, tiny_web))
    return eng, eng.run()


def test_reads_start_no_job_and_match_inference(spark, polite_state, tmp_path):
    """Without a schema every spark.read.parquet runs a one-task inference
    job; the catalog takes the schema from a footer instead, and it is the
    schema inference would have given."""
    eng, history = polite_state
    cat = eng.cat
    last = max(h["round_id"] for h in history)
    assert last >= 2
    assert "links" in cat.read("fetched", 0).columns
    empty = RoundCatalog(spark, str(tmp_path / "empty"))
    empty.write_empty("frontier", 1, cat.read("frontier", 0).schema)
    cases = {
        "fetched": (lambda: cat.read("fetched", 1), [cat.path("fetched", 1)]),
        "fetched_all": (
            lambda: cat.read_all("fetched"),
            [cat.path("fetched", r) for r in range(last + 1) if cat.exists("fetched", r)],
        ),
        "frontier": (lambda: cat.read("frontier", 1), [cat.path("frontier", 1)]),
        "frontier_all": (
            lambda: cat.read_all("frontier", up_to_round=2),
            [cat.path("frontier", r) for r in range(3)],
        ),
        "host_state": (lambda: cat.read("host_state", 2), [cat.path("host_state", 2)]),
        "host_state_all": (
            lambda: cat.read_all("host_state"),
            [cat.path("host_state", r) for r in range(1, last + 2)
             if cat.exists("host_state", r)],
        ),
        "empty_frontier": (
            lambda: empty.read("frontier", 1), [empty.path("frontier", 1)]
        ),
    }
    for name, (read, paths) in cases.items():
        out = []
        assert _jobs(spark, f"catalog-read-{name}", lambda: out.append(read())) == []
        assert out[0].schema == spark.read.parquet(*paths).schema, name
    assert empty.read("frontier", 1).count() == 0


def test_write_empty_footer_carries_spark_schema(spark, polite_state, tmp_path):
    schema = polite_state[0].cat.read("frontier", 0).schema
    cat = RoundCatalog(spark, str(tmp_path / "s"))
    p = cat.write_empty("frontier", 3, schema)
    md = pq.read_metadata(f"{p}/part-00000.parquet").metadata
    assert md[SPARK_SCHEMA_KEY] == schema.json().encode()


def test_manifest_records_phase_timings(polite_state):
    eng, _ = polite_state
    records = eng.cat.manifest()["metrics"]
    assert len(records) >= 2
    for m in records:
        assert set(m["timings"]) == set(PHASE_KEYS), m
        assert all(v >= 0 for v in m["timings"].values()), m
