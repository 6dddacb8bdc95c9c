"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The smoke tests run each workload end to end, traced, at tiny sizes, in
a child process (each starts and stops its own Spark session).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, metrics, observe  # noqa: E402
from perfbench.workloads import WORKLOADS, Graph, reaching_hops  # noqa: E402


def test_multi_pages_are_deterministic_and_unique():
    sizes = gen.page_sizes(7, 200, 100)
    assert sizes == gen.page_sizes(7, 200, 100)
    pages = [gen.multi_page(7, i, k) for i, k in enumerate(sizes)]
    assert pages == [gen.multi_page(7, i, k) for i, k in enumerate(sizes)]
    assert len({p[4] for p in pages}) == len(pages)     # unique scripts
    assert len({p[1] for p in pages}) == len(pages)     # unique urls
    assert gen.multi_page(8, 0, 3) != gen.multi_page(7, 0, 3)


def test_page_sizes_share_one_distribution_per_block():
    a, b = gen.page_sizes(1, 192, 96), gen.page_sizes(2, 192, 96)
    assert a != b
    assert sorted(a[:96]) == sorted(a[96:]) == sorted(b[:96])
    assert min(a) == 1 and max(a) == gen.MAX_SNIPPETS
    assert 7 <= sum(a) / len(a) <= 9


def test_stream_pages_follow_the_engine_corpus():
    from joern_spark.sources.corpus import page_for
    assert gen.stream_page(3, 5) == (5, *page_for(5, 3))
    assert gen.stream_page(3, 5) == gen.stream_page(3, 5)


def test_chain_pairs_know_their_components():
    pairs, comp = gen.chain_pairs(4, 500, max_len=5)
    assert (pairs, comp) == gen.chain_pairs(4, 500, max_len=5)
    assert len(pairs) >= 500
    # union-find over the pairs gives back the generator's components
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        parent[find(a)] = find(b)
    groups = {}
    for d in comp:
        groups.setdefault(find(d), []).append(d)
    assert all(comp[d] == min(g) for g in groups.values() for d in g)
    assert all(2 <= len(g) <= 5 for g in groups.values())


def test_graph_pages_keep_the_reach_depth():
    from joern_spark.cpg.spark_build import cpg_rows_for_document
    # on seed 206 the first draw of one page is 14 hops deep
    pages = Graph(None, "", 206, 10, 4).pages()
    deepest = max(max(h.values())
                  for r in pages
                  for h in reaching_hops(*cpg_rows_for_document(r[1], r[3]))
                  .values())
    assert deepest in (11, 12)
    assert "sink(v4);" in pages[0][4]


def test_tail_percentile_keeps_ten_samples_beyond():
    pct, value = observe.tail_percentile(list(range(1, 31)))
    assert value == 20 and pct == pytest.approx(200 / 3)
    assert sum(1 for s in range(1, 31) if s > value) == 10
    pct, value = observe.tail_percentile([5.0] * 10 + [1.0])
    assert (pct, value) == (100 / 11, 1.0)
    with pytest.raises(ValueError):
        observe.tail_percentile(list(range(10)))


def test_union_of_job_spans():
    assert observe.union_seconds([], 0, 10) == 0
    assert observe.union_seconds([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert observe.union_seconds([(1, 9), (2, 3)], 0, 10) == 8
    # clipped to the phase window; spans outside it count nothing
    assert observe.union_seconds([(-5, 2), (9, 20), (30, 40)], 0, 10) == 3
    assert observe.union_seconds([(3, 3), (4, 4.5)], 0, 10) == 0.5


def test_vmstat_is_read_by_header():
    text = """procs -----------memory---------- ---swap-- -----io---- -system-- ------cpu-----
 r  b   swpd   free   buff  cache   si   so    bi    bo   in   cs us sy id wa st gu
 1  0      0 14726976  34808 1430636    0    0    26   300  178  226 23  2 75  0  1  0
 2  0      0 14726976  34808 1430636    0    0     0     0  185  213  3  1 93  0  3  0
"""
    f = observe.vmstat_fields(text)
    assert (f["id"], f["st"], f["us"]) == (93, 3, 3)


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


SMOKE = """
import sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads as w
w.Scan.PAGES_PER_CHUNK = 8
w.Stream.PAGES_PER_FILE = 4
w.Graph.PAGES, w.Graph.PAIRS, w.Graph.CHAIN_MAX = 4, 300, 3
sys.exit(run.main(["--workload", sys.argv[1], "--seed", "5",
                   "--seconds", "1", "--trace", sys.argv[2]]))
"""


@pytest.mark.parametrize("workload,trace", [("scan", 1), ("stream", 1),
                                            ("graph", 1), ("scan", 0)])
def test_smoke_run(workload, trace):
    p = subprocess.run(
        [sys.executable, "-c", SMOKE.format(root=ROOT), workload, str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
