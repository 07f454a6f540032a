"""X4 scrape operator: the reference tianalyser's HTML-table scrape."""

from cs3103_gocrawler_spark.operators.scrape import (
    extract_tables_py,
    scrape_tables,
    split_player_list,
)


def test_extract_tables_py_cleaning():
    html = (
        "<table><tr><td>0</td><td>United&nbsp;States</td></tr>"
        "<tr><td>1</td><td><b>a, b ,c</b></td></tr></table>"
    )
    tables = extract_tables_py(html)
    assert tables == [[["0", "UnitedStates"], ["1", "a, b ,c"]]]
    assert split_player_list("a, b ,c") == ["a", "b", "c"]


def test_scrape_tables_matches_captions(spark, tiny_web):
    from pyspark.sql import functions as F  # noqa: N812

    cfg_web, web_dir = tiny_web
    pages = spark.read.parquet(f"{web_dir}/pages.parquet").limit(10)
    rows = scrape_tables(
        pages, url_col="image_id", body_col="body_html"
    ).toPandas()
    caps = {r.image_id: r.caption for r in pages.select("image_id", "caption").collect()}
    assert set(rows["url"]) == set(caps)
    for url, grp in rows.groupby("url"):
        words = caps[url].split(" ")[:-1]
        got = grp.sort_values("row_idx")["cells"].tolist()
        assert [c[1] for c in got] == words
    assert F is not None


def test_country_representation_roundtrip_ti_stats(spark):
    """X4 conformance vs the reference's recorded analysis: render every
    recorded ti_stats country table as Liquipedia-shaped HTML, scrape it back
    through the Spark operator, and require exact equality with the recorded
    rows for all pages (/root/reference/example/tianalyser/ti_stats.json)."""
    import json

    import pandas as pd

    from cs3103_gocrawler_spark.operators.scrape import country_representation

    with open("/root/reference/example/tianalyser/ti_stats.json") as f:
        ti = json.load(f)["ti_stats"]

    rows = []
    for url, entries in ti.items():
        body = ["<html><body><h2><span id=\"Country_Representation\">CR</span></h2>",
                "<table><tr><th>#</th><th>Country</th><th>Rep</th><th>Players</th></tr>"]
        for i, e in enumerate(entries):
            body.append(
                f"<tr><td>{i + 1}</td><td>{e['country']}&nbsp;</td>"
                f"<td>{e['representation']}</td>"
                f"<td>{', '.join(e['players'])}</td></tr>"
            )
        body.append("</table></body></html>")
        rows.append({"url": url, "body_html": "".join(body)})

    pages = spark.createDataFrame(pd.DataFrame(rows))
    got = country_representation(pages).toPandas()
    for url, entries in ti.items():
        g = got[got.url == url].sort_values("row_idx")
        assert len(g) == len(entries), url
        for (_, row), want in zip(g.iterrows(), entries):
            assert row["country"] == want["country"], (url, row["country"])
            assert row["representation"] == want["representation"]
            assert list(row["players"]) == want["players"], (url, want["country"])
