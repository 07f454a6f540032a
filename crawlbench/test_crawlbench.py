"""Self-tests of the crawl benchmark, at toy size.

    python3 -m pytest crawlbench -q

The gate and seed tests need no Spark session; the end-to-end tests run the
benchmark command itself on toy webs (about a minute per run).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

from crawlbench import gate, run, tracing
from crawlbench.workloads import WORKLOADS, crawl_config, seed_urls, toy, web_config
from cs3103_gocrawler_spark.oracle.bfs_oracle import crawl_oracle, pages_dict_from_pandas
from cs3103_gocrawler_spark.synthetic.webgen import generate_pandas, write_parquet_tables

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


# ------------------------------------------------------------ oracle gate
@pytest.fixture(scope="module")
def oracle_result():
    """A toy wide-bfs web and the oracle's crawl of it, as the gate's inputs:
    a fetched frame (round = depth, as in an unbudgeted BFS), the per-host
    order and the oracle record."""
    w = toy(WORKLOADS["wide-bfs"])
    web = web_config(w, 5)
    cfg = crawl_config(w, 5)
    pages_pdf, edges_pdf = generate_pandas(web)
    pages, links = pages_dict_from_pandas(pages_pdf, edges_pdf)
    res = crawl_oracle(
        pages, links, seed_urls(w, web), max_depth=cfg.max_depth,
        blacklist=set(cfg.blacklist_hosts),
    )
    fetched = pd.DataFrame(
        [
            (u, u.split("/")[2], v["depth"], v["parent"], v["depth"], "ok", True)
            for u, v in res.visited.items()
        ],
        columns=gate.FETCHED_COLS,
    )
    order = pd.DataFrame(res.order, columns=["host", "seq", "url"])
    want = {
        "visited_digest": gate.visited_digest(
            (u, v["depth"], v["parent"]) for u, v in res.visited.items()
        ),
        "order_digest": gate.order_digest(res.order),
        "n_visited": len(res.visited),
    }
    return fetched, order, want, gate.host_cap(cfg, {})


def test_gate_accepts_the_oracle_result(oracle_result):
    fetched, order, want, cap = oracle_result
    assert len(fetched) > 50
    assert gate.check(fetched, order, want, cap) == []


def test_gate_rejects_a_dropped_url(oracle_result):
    fetched, order, want, cap = oracle_result
    problems = gate.check(fetched.iloc[1:], order, want, cap)
    assert any("visited set" in p for p in problems)


def test_gate_rejects_a_wrong_parent(oracle_result):
    fetched, order, want, cap = oracle_result
    bad = fetched.copy()
    i = bad.index[bad["depth"] > 0][0]
    bad.loc[i, "parent"] = bad.loc[bad.index[0], "url"] + "x"
    assert any("visited set" in p for p in gate.check(bad, order, want, cap))


def test_gate_rejects_a_changed_crawl_order(oracle_result):
    fetched, order, want, cap = oracle_result
    bad = order.copy()
    host = bad["host"].value_counts().index[0]
    idx = bad.index[bad["host"] == host][:2]
    bad.loc[idx, "url"] = bad.loc[idx[::-1], "url"].to_numpy()
    assert any("crawl order" in p for p in gate.check(fetched, bad, want, cap))


def test_gate_rejects_an_over_budget_host_round(oracle_result):
    fetched, order, want, _ = oracle_result
    # one URL per host per round fits a budget of 1 ...
    one = fetched.copy()
    one["round_id"] = one.groupby("host").cumcount()
    cap1 = gate.host_cap(crawl_config(WORKLOADS["wide-bfs"], 5, budget_per_host=1), {})
    assert gate.check(one, order, want, cap1) == []
    # ... and moving a second URL of a host into that round breaks it
    host = one["host"].value_counts().index[0]
    idx = one.index[one["host"] == host][:2]
    one.loc[idx[1], "round_id"] = one.loc[idx[0], "round_id"]
    assert any("over their take" in p for p in gate.check(one, order, want, cap1))


def test_gate_caps_delayed_hosts_by_their_crawl_delay():
    cfg = crawl_config(WORKLOADS["polite-deep"], 5)
    cap = gate.host_cap(cfg, {"h0.test": 400})
    assert cap("h0.test") == 2  # max(1, 1000 // 400)
    assert cap("h1.test") == cfg.budget_per_host


def test_gate_rejects_invalid_payloads_and_refetches(oracle_result):
    fetched, order, want, cap = oracle_result
    invalid = fetched.copy()
    invalid.loc[invalid.index[0], "valid"] = False
    assert any("valid ratio" in p for p in gate.check(invalid, order, want, cap))
    twice = pd.concat([fetched, fetched.iloc[:1].assign(outcome="matcher")])
    assert any("more than once" in p for p in gate.check(twice, order, want, cap))


# ------------------------------------------------------------------ seeds
def _web_and_oracle(tmp_path, w, seed):
    d = str(tmp_path / f"web{seed}")
    web = web_config(w, seed)
    write_parquet_tables(web, d)
    t = pq.read_table(f"{d}/pages.parquet", columns=["image_id", "body_html"])
    web_digest = hashlib.sha1(
        "".join(sorted(map("".join, zip(*t.to_pydict().values())))).encode()
    ).hexdigest()
    rec = gate.oracle_record(
        web, crawl_config(w, seed), seed_urls(w, web), d, w.robots,
        str(tmp_path / "oracle"),
    )
    return web_digest, rec["visited_digest"]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_seed_changes_web_and_oracle_digest_together(tmp_path, name):
    w = toy(WORKLOADS[name])
    a = _web_and_oracle(tmp_path, w, 1)
    b = _web_and_oracle(tmp_path, w, 2)
    assert a[0] != b[0] and a[1] != b[1]
    shutil.rmtree(tmp_path / "web1")
    shutil.rmtree(tmp_path / "oracle")
    assert _web_and_oracle(tmp_path, w, 1) == a


# ---------------------------------------------------------- BENCHMARK.json
def test_benchmark_json_matches_the_benchmark():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        n: w.why for n, w in WORKLOADS.items()
    }
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (n, u, b) for n, u, b, _ in tracing.PER_LAYER
    ]


def test_exits_nonzero_outside_the_repository(tmp_path):
    shutil.copy(BENCHMARK_JSON, tmp_path)
    shutil.copytree(run.HERE, tmp_path / "crawlbench")
    p = subprocess.run(
        [sys.executable, "crawlbench/run.py", "--workload", "wide-bfs",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# ------------------------------------------------------------- end to end
def _run(name: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "crawlbench/run.py", "--workload", name, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().split("\n")[-1])


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_each_workload_prints_every_end_to_end_metric(name):
    res = _run(name, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_each_workload_traces_every_per_layer_metric(name):
    res = _run(name, 1)
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        n: u for n, u, _, _ in tracing.PER_LAYER
    }
    assert res["metrics"]["validate.valid_ratio"]["value"] == 1.0
