"""CPG store round-trip + idempotent-merge semantics (ADVICE r1 item 2)."""

from __future__ import annotations

import tempfile

from joern_spark.cpg.spark_build import build_cpg_tables
from joern_spark.cpg.store import load_cpg_tables, save_cpg_tables
from joern_spark.sources.corpus import make_pages


def _counts(nodes, edges):
    return nodes.count(), edges.count()


def test_save_resave_load_round_trip(spark):
    pages = make_pages(spark, n_docs=12, n_partitions=2)
    tables = build_cpg_tables(pages)
    nodes, edges = tables
    want = _counts(nodes, edges)
    with tempfile.TemporaryDirectory() as d:
        # overwrite twice: byte-stable (content-derived ids)
        save_cpg_tables(nodes, edges, d, n_domain_buckets=4)
        save_cpg_tables(nodes, edges, d, n_domain_buckets=4)
        got = _counts(*load_cpg_tables(spark, d, dedup=False))
        assert got == want

        # append on top: physical dup rows; dedup-on-load merges exactly
        save_cpg_tables(nodes, edges, d, n_domain_buckets=4, mode="append")
        raw = _counts(*load_cpg_tables(spark, d, dedup=False))
        assert raw == (want[0] * 2, want[1] * 2)
        merged_n, merged_e = load_cpg_tables(spark, d)
        assert _counts(merged_n, merged_e) == want

        # loaded content equals the in-memory build (node key set)
        want_keys = {(r.url, r.node_id) for r in nodes.select("url", "node_id").collect()}
        got_keys = {(r.url, r.node_id) for r in merged_n.select("url", "node_id").collect()}
        assert got_keys == want_keys
    tables.unpersist()


def test_parse_job_releases_its_build(spark, tmp_path, monkeypatch, capsys):
    """jobs/parse.py writes the store the build gives and leaves no
    persistent RDD behind."""
    import sys

    from jobs import parse as parse_job

    pages_dir, out = str(tmp_path / "pages"), str(tmp_path / "store")
    make_pages(spark, n_docs=8).write.parquet(pages_dir)
    monkeypatch.setattr("joern_spark.session.get_spark", lambda **_: spark)
    monkeypatch.setattr(sys, "argv", ["parse.py", "--pages", pages_dir,
                                      "--out", out])
    pinned = spark.sparkContext._jsc.getPersistentRDDs
    before = pinned().size()
    parse_job.main()
    assert pinned().size() == before

    tables = build_cpg_tables(spark.read.parquet(pages_dir))
    want = _counts(*tables)
    tables.unpersist()
    assert want[0] > 0
    assert f"nodes={want[0]} edges={want[1]}" in capsys.readouterr().out
