"""Property-based tests (hypothesis) for the pure kernels the engine's
correctness rests on: the bloom filter's no-false-negative guarantee, URL
canonicalization idempotence, the split_canonical fast path, and the
dequeue's input-order invariance (the determinism the two-cluster-size
check stresses — a shuffle must never change WHAT is dequeued)."""

import random

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cs3103_gocrawler_spark.functions.urlfuncs import (
    canonicalize_url,
    sha1_64,
    split_canonical,
    url_host,
    url_path,
)
from cs3103_gocrawler_spark.operators.seen import Bloom

_INT64 = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)


@settings(max_examples=60, deadline=None, derandomize=True)
@given(
    hashes=st.lists(_INT64, max_size=200),
    capacity=st.integers(min_value=1, max_value=5000),
    n_segments=st.integers(min_value=1, max_value=8),
)
def test_bloom_never_false_negative(hashes, capacity, n_segments):
    """Every added hash must probe positive, at any geometry — a bloom false
    negative silently re-crawls a visited URL (seen-set invariant)."""
    b = Bloom(capacity, fpr=1e-3, n_segments=n_segments)
    h = np.array(hashes, dtype=np.int64)
    b.add(h)
    if len(h):
        assert b.might_contain(h).all()


@settings(max_examples=60, deadline=None, derandomize=True)
@given(hashes=st.lists(_INT64, max_size=50))
def test_bloom_empty_filter_rejects_everything(hashes):
    b = Bloom(1000, fpr=1e-3, n_segments=4)
    assert not b.might_contain(np.array(hashes, dtype=np.int64)).any()


_HOST = st.from_regex(r"[a-z]([a-z0-9-]{0,5}[a-z0-9])?(\.[a-z]{2,3}){1,2}",
                      fullmatch=True)
_SEG = st.sampled_from(["a", "b1", "..", ".", "x_y", "idx.html", "%20", "~u"])


@st.composite
def _urls(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "Https", "ftp"]))
    host = draw(_HOST)
    port = draw(st.one_of(st.none(), st.integers(1, 65535)))
    segs = draw(st.lists(_SEG, max_size=4))
    path = "/" + "/".join(segs) if segs else draw(st.sampled_from(["", "/"]))
    query = draw(st.sampled_from(["", "?q=1", "?a=b&c=%2F"]))
    frag = draw(st.sampled_from(["", "#top", "#a/b"]))
    p = f":{port}" if port is not None else ""
    return f"{scheme}://{host}{p}{path}{query}{frag}"


@settings(max_examples=200, deadline=None, derandomize=True)
@given(url=_urls())
def test_canonicalize_is_idempotent(url):
    c = canonicalize_url(url)
    if c is not None:
        assert canonicalize_url(c) == c


@settings(max_examples=200, deadline=None, derandomize=True)
@given(rel=st.sampled_from(["../x", "a/b", "./c?q=2", "/abs/p", "#frag", "x/../../y"]),
       base=_urls())
def test_canonicalize_with_base_is_idempotent(rel, base):
    c = canonicalize_url(rel, base=base)
    if c is not None:
        assert canonicalize_url(c) == c


@settings(max_examples=200, deadline=None, derandomize=True)
@given(url=_urls())
def test_split_canonical_matches_urlsplit_on_canonical_output(url):
    """The string-op fast path must agree with the urlsplit-based accessors
    on every canonicalize_url output."""
    c = canonicalize_url(url)
    if c is None:
        return
    host, path = split_canonical(c)
    assert host == url_host(c)
    assert path == url_path(c)


@settings(max_examples=100, deadline=None, derandomize=True)
@given(s=st.text(max_size=80))
def test_sha1_64_signed_int64_and_deterministic(s):
    v = sha1_64(s)
    assert -(1 << 63) <= v < (1 << 63)
    assert v == sha1_64(s)


def test_dequeue_is_input_order_and_salt_invariant(spark):
    """WHAT gets dequeued is a pure function of (pending set, budget) — not
    of row order, partitioning, or the salt-bucket count (which the one-window
    dequeue ignores). This is the determinism the N-vs-4N identical-output
    gate rests on."""
    from cs3103_gocrawler_spark.operators.politeness import dequeue

    rnd = random.Random(1729)
    rows = []
    for h in range(6):
        for i in range(rnd.randrange(5, 60)):
            url = f"http://s{h}.test/{rnd.randrange(1_000_000)}"
            rows.append({
                "url": url, "host": f"s{h}.test", "path": url.split(".test")[1],
                "url_sha1": sha1_64(url), "depth": rnd.randrange(4),
                "parent": "", "priority": rnd.randrange(3),
            })
    pdf = pd.DataFrame(rows).drop_duplicates("url")

    def run(frame, salt_buckets):
        deq, _ = dequeue(spark.createDataFrame(frame), 7, salt_buckets)
        return sorted(r.url for r in deq.select("url").collect())

    baseline = run(pdf, 16)
    assert baseline == run(pdf.sample(frac=1.0, random_state=9), 16)
    assert baseline == run(pdf.sort_values("url", ascending=False), 3)

    # exact per-host top-7 by (priority, depth, url), computed in pandas
    expect = sorted(
        pdf.sort_values(["priority", "depth", "url"]).groupby("host").head(7)["url"]
    )
    assert baseline == expect


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
