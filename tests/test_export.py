"""joern-export format tests: graphml + graphson (JoernExport.scala:34-49
representations via flatgraph GraphML/GraphSON exporter shapes), and the
`jobs/export.py` CLI end to end."""

from __future__ import annotations

import json
import xml.etree.ElementTree as ET

import pytest

from joern_spark.cpg.spark_build import build_cpg_tables
from joern_spark.query.export import export_graphml, export_graphson
from joern_spark.sources.corpus import make_pages


@pytest.fixture(scope="module")
def graph(spark):
    pages = make_pages(spark, n_docs=6, n_partitions=2)
    nodes, edges = build_cpg_tables(pages)
    return (nodes.localCheckpoint(eager=True), edges.localCheckpoint(eager=True))


def test_graphml_valid_and_complete(spark, graph):
    nodes, edges = graph
    out = {r.url: r.graphml for r in export_graphml(nodes, edges, "ast").collect()}
    assert len(out) == 6
    url = sorted(out)[0]
    root = ET.fromstring(out[url])
    ns = "{http://graphml.graphdrawing.org/xmlns}"
    g = root.find(f"{ns}graph")
    xml_nodes = g.findall(f"{ns}node")
    xml_edges = g.findall(f"{ns}edge")
    n_nodes = nodes.where(nodes.url == url).count()
    n_ast = edges.where((edges.url == url) & (edges.label == "AST")).count()
    assert len(xml_nodes) == n_nodes
    assert len(xml_edges) == n_ast
    # labelV key present on every node entry
    first = xml_nodes[0]
    keys = {d.get("key") for d in first.findall(f"{ns}data")}
    assert {"labelV", "name", "code"} <= keys


def test_graphson_valid_and_typed(spark, graph):
    nodes, edges = graph
    out = {r.url: r.graphson for r in export_graphson(nodes, edges, "cfg").collect()}
    url = sorted(out)[0]
    doc = json.loads(out[url])
    assert doc["@type"] == "tinker:graph"
    vs = doc["@value"]["vertices"]
    es = doc["@value"]["edges"]
    assert len(vs) == nodes.where(nodes.url == url).count()
    assert len(es) == edges.where((edges.url == url) & (edges.label == "CFG")).count()
    v0 = vs[0]
    assert v0["@type"] == "g:Vertex"
    assert v0["@value"]["id"]["@type"] == "g:Int64"
    e0 = es[0]
    assert e0["@type"] == "g:Edge"
    assert e0["@value"]["label"] == "CFG"
    assert isinstance(e0["@value"]["outV"]["@value"], int)


def test_export_job_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """jobs/export.py on 32 pages: `--format dot` writes the per-method
    DotSerializer digraphs `method_dot_frames` renders, and reports no
    failed page; `--format graphml --repr all` writes one GraphML
    document per page.  With a nesting bomb among the pages, `--format
    graphson` writes the 32 good pages and counts the bomb as one failed
    page.  No run leaves a cached frame."""
    import sys

    from pyspark.sql import functions as F

    from jobs import export as export_job
    from joern_spark.query.export import method_dot_frames

    pages_dir = str(tmp_path / "pages")
    make_pages(spark, n_docs=32).write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    monkeypatch.setattr("joern_spark.session.get_spark", lambda **_: spark)
    pinned = spark.sparkContext._jsc.getPersistentRDDs
    before = set(pinned().keys())

    def run(fmt, representation, pages_dir=pages_dir):
        out = str(tmp_path / fmt)
        monkeypatch.setattr(sys, "argv", [
            "export.py", "--pages", pages_dir, "--repr", representation,
            "--format", fmt, "--out", out])
        export_job.main()
        return spark.read.parquet(out).collect()

    dots = run("dot", "cfg")
    assert "failed pages: 0" in capsys.readouterr().err
    assert dots
    assert all(r.dot.startswith("digraph ") and r.dot.endswith("}\n")
               for r in dots)
    assert any(":program" in r.method_full_name for r in dots)
    want = method_dot_frames(pages, "cfg").collect()
    assert sorted(map(tuple, dots)) == sorted(map(tuple, want))

    docs = run("graphml", "all")
    urls = [r.url for r in pages.select("url").collect()]
    assert sorted(r.url for r in docs) == sorted(urls) and len(urls) == 32
    ns = "{http://graphml.graphdrawing.org/xmlns}"
    for r in docs:
        assert ET.fromstring(r.graphml).find(f"{ns}graph").findall(f"{ns}node")
    assert "failed pages: 0" in capsys.readouterr().err

    mixed_dir = str(tmp_path / "mixed")
    bomb = spark.createDataFrame(
        [("https://a.example.com/bomb",
          bytearray(b"<script>" + b"(" * 8000 + b"</script>"))],
        "url string, html binary").select(
            "url", F.current_timestamp().alias("warc_ts"), "html")
    pages.select("url", "warc_ts", "html").unionByName(bomb) \
        .write.parquet(mixed_dir)
    docs = run("graphson", "ast", mixed_dir)
    assert "failed pages: 1" in capsys.readouterr().err
    assert sorted(r.url for r in docs) == sorted(urls)
    assert set(pinned().keys()) == before
