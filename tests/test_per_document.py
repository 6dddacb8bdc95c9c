"""The per-document Spark paths share one loop (`spark_build.map_documents`).

Each path is checked against the in-process function it runs per page, on
documents whose expected output is non-empty; a str html column must give
the rows the binary one gives; and one bad page in a batch costs that page
only, with each caller's error-row policy kept.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from joern_spark.cpg.build import build_cpg
from joern_spark.cpg.spark_build import build_cpg_tables
from joern_spark.sources.corpus import make_pages, page_for

N_DOCS = 36  # one page per corpus snippet
BOMB_URL = "https://a.example.com/bomb"


def _rows(df, *cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def _golden_cpgs():
    out = {}
    for i in range(N_DOCS):
        url, _ts, _html, text = page_for(i)
        out[url] = build_cpg(text, url)
    return out


def _tables(pages):
    tables = build_cpg_tables(pages)
    nodes, edges = tables
    got = (_rows(nodes, "url", "node_id", "label", "code", "line"),
           _rows(edges, "url", "src", "dst", "label", "variable"))
    tables.unpersist()
    return got


def _sarif(doc):
    """(sorted results, executionSuccessful, notified urls) of a SARIF
    run; every notification is an error naming the exception class."""
    run = doc["runs"][0]
    (invocation,) = run["invocations"]
    notes = invocation["toolExecutionNotifications"]
    assert all(n["level"] == "error"
               and n["message"]["text"].startswith("RecursionError")
               for n in notes)
    urls = [n["locations"][0]["physicalLocation"]["artifactLocation"]["uri"]
            for n in notes]
    return (sorted(json.dumps(r, sort_keys=True) for r in run["results"]),
            invocation["executionSuccessful"], urls)


def test_str_html_matches_binary(spark):
    from joern_spark.query.scan import scan_findings

    binary = make_pages(spark, n_docs=12, n_partitions=2)
    text = binary.withColumn("html", F.col("html").cast("string"))
    cols = ("url", "warc_ts", "query_name", "n_matches", "score")
    want = _rows(scan_findings(binary), *cols)
    assert want and all(r[2] != "<parse-error>" for r in want)
    assert _rows(scan_findings(text), *cols) == want
    nodes, edges = _tables(binary)
    assert nodes and edges
    assert _tables(text) == (nodes, edges)


def test_data_flow_slices_match_slice_for_call(spark):
    from joern_spark.dataflow.slicing import data_flow_slices, slice_for_call

    want = []
    for url, cpg in _golden_cpgs().items():
        for c in cpg.nodes:
            if c.label == "CALL" and not c.name.startswith("<operator>"):
                nodes, edges = slice_for_call(cpg, c)
                want.append((url, c.code, len(nodes), len(edges),
                             sorted({n.code for n in nodes})))
    assert any(r[3] > 0 for r in want)
    got = [(r.url, r.call_code, r.n_nodes, r.n_edges, list(r.node_codes))
           for r in data_flow_slices(make_pages(spark, n_docs=N_DOCS)).collect()]
    assert sorted(got) == sorted(want)


def test_usage_slices_match_usage_slice(spark):
    from joern_spark.dataflow.slicing import usage_slice, usage_slices

    want = {url: json.dumps(usage_slice(cpg, 1, False), sort_keys=True)
            for url, cpg in _golden_cpgs().items()}
    assert any(json.loads(s)["objectSlices"] for s in want.values())
    got = {r.url: r.slice_json
           for r in usage_slices(make_pages(spark, n_docs=N_DOCS)).collect()}
    assert got == want


def test_flows_job_matches_reachable_by_flows(spark):
    from jobs.flow import flows_job
    from joern_spark.dataflow.engine import reachable_by_flows, result_pairs
    from joern_spark.query.cpgql import Q

    want = []
    for url, cpg in _golden_cpgs().items():
        q = Q(cpg)
        sources = q.call().code("source.*").l()
        sinks = q.call().code("sink.*").l()
        if sources and sinks:
            want += [(url, [f"{c} @ {ln}" for c, ln in result_pairs(cpg, f)])
                     for f in reachable_by_flows(cpg, sinks, sources)]
    assert len(want) >= 3
    got = [(r.url, list(r.flow)) for r in
           flows_job(make_pages(spark, n_docs=N_DOCS), "source.*", "sink.*")
           .collect()]
    assert sorted(got) == sorted(want)


def test_one_bad_page_costs_only_that_page(spark):
    """The nesting bomb raises RecursionError in the parser.  In one
    partition beside valid pages: scan and the per-method dot export
    each emit exactly one `<parse-error>` row for it, the other paths
    drop it, and every valid page keeps the rows it has without the
    bomb.  Alone, it leaves scan and dot their one error row and every
    other path no rows.  The SARIF merge of the scan's rows counts the
    bomb as one failed-page notification and no result."""
    from joern_spark.dataflow.slicing import data_flow_slices, usage_slices
    from joern_spark.query.export import method_dot_frames
    from joern_spark.query.sarif import sarif_from_findings
    from joern_spark.query.scan import scan_findings

    good = make_pages(spark, n_docs=8).select("url", "warc_ts", "html")
    bomb = spark.createDataFrame(
        [(BOMB_URL, bytearray(b"<script>" + b"(" * 8000 + b"</script>"))],
        "url string, html binary").select(
            "url", F.current_timestamp().alias("warc_ts"), "html")
    mixed = good.unionByName(bomb).coalesce(1)
    assert mixed.rdd.getNumPartitions() == 1

    scan = {r.url: r for r in scan_findings(mixed).collect()
            if r.query_name == "<parse-error>"}
    assert list(scan) == [BOMB_URL]
    assert (_rows(scan_findings(mixed).where(F.col("url") != BOMB_URL),
                  "url", "query_name", "n_matches")
            == _rows(scan_findings(good), "url", "query_name", "n_matches"))

    nodes, edges = _tables(mixed)
    assert (nodes, edges) == _tables(good)
    assert nodes
    for frames in (data_flow_slices, usage_slices):
        want = _rows(frames(good), "*")
        assert want
        assert _rows(frames(mixed), "*") == want
    dot_error = (BOMB_URL, "<parse-error>", "RecursionError")
    dots = _rows(method_dot_frames(good, "cfg"), "*")
    assert dots and all(r[1] != "<parse-error>" for r in dots)
    assert _rows(method_dot_frames(mixed, "cfg"), "*") == sorted([*dots, dot_error])

    results, ok, failed = _sarif(sarif_from_findings(scan_findings(good)))
    assert results and ok and not failed
    assert (_sarif(sarif_from_findings(scan_findings(mixed)))
            == (results, False, [BOMB_URL]))

    # a batch whose every page fails: the error row, or an empty batch
    assert (_rows(scan_findings(bomb), "url", "query_name", "n_matches")
            == [(BOMB_URL, "<parse-error>", 1)])
    assert _tables(bomb) == ([], [])
    assert _rows(method_dot_frames(bomb, "cfg"), "*") == [dot_error]
    for frames in (data_flow_slices, usage_slices):
        assert not frames(bomb).collect()
    assert (_sarif(sarif_from_findings(scan_findings(bomb)))
            == ([], False, [BOMB_URL]))


def test_pass_timing_sees_every_pass():
    """perfbench times the overlay chain by rebinding `cpg.build` globals;
    a pipeline that stops calling them through the module would zero the
    traced per-pass layer without failing."""
    from perfbench.passes import PASS_GROUPS, time_passes

    pages = [(url, html) for url, _ts, html, _text in map(page_for, range(3))]
    out = time_passes(pages)
    assert out["missing"] == []
    for group in PASS_GROUPS:
        assert out["metrics"][f"cpg.{group}.ms_per_doc"] > 0, group
