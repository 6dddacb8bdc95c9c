"""Single-pass CPG construction invariants (VERDICT r1 item 1).

Asserts (a) build_cpg_tables parses/builds each document EXACTLY once even
when both the nodes and edges tables are consumed, and (b) the combined
union-schema split reproduces the per-document engine's node/edge rows.
"""

from __future__ import annotations

import os
import tempfile

from joern_spark.cpg.spark_build import (
    NODES_SCHEMA, build_cpg_tables, cpg_rows_for_document,
)
from joern_spark.sources.corpus import make_pages


def _count_hook(path):
    # Pickled into the Arrow worker closure; appends one line per document
    # build.  O_APPEND writes of one short line are atomic on Linux.
    def hook(url):
        with open(path, "a") as f:
            f.write(url + "\n")
    return hook


def test_build_once_per_document(spark):
    n_docs = 24
    pages = make_pages(spark, n_docs=n_docs, n_partitions=4)
    with tempfile.TemporaryDirectory() as d:
        marker = os.path.join(d, "builds.log")
        open(marker, "w").close()
        pinned = spark.sparkContext._jsc.getPersistentRDDs
        before = set(pinned().keys())
        tables = build_cpg_tables(pages, on_build=_count_hook(marker))
        nodes, edges = tables
        n_nodes = nodes.count()
        n_edges = edges.count()
        assert n_nodes > 0 and n_edges > 0
        with open(marker) as f:
            built = [line.strip() for line in f if line.strip()]
        assert len(built) == n_docs, (
            f"expected {n_docs} builds, saw {len(built)} — "
            "document CPGs are being rebuilt per consumer")
        assert len(set(built)) == n_docs
        tables.unpersist()
        assert set(pinned().keys()) == before


def test_split_matches_engine_rows(spark):
    """Every node column, the nullable Int32 and boolean ones included,
    equals the per-document engine's rows: in the combined table they sit
    beside the nulls of the edge rows."""
    pages = make_pages(spark, n_docs=6, n_partitions=2)
    tables = build_cpg_tables(pages)
    nodes, edges = tables
    assert nodes.columns == NODES_SCHEMA.fieldNames()
    rows = {r.url: r for r in pages.select("url", "html").collect()}
    got_nodes = {}
    got_edges = {}
    for r in nodes.collect():
        got_nodes.setdefault(r.url, set()).add(tuple(r))
    for r in edges.collect():
        got_edges.setdefault(r.url, set()).add(
            (r.src, r.dst, r.label, r.variable))
    for url, page in rows.items():
        node_rows, edge_rows = cpg_rows_for_document(url, page.html)
        want_edges = {(er[1], er[2], er[3], er[4]) for er in edge_rows}
        assert got_nodes[url] == set(node_rows)
        assert got_edges[url] == want_edges
    tables.unpersist()
