"""The three workloads.  Each drives the engine only through its public
functions, over inputs made by `gen` from the seed.

Life of a workload: `generate` (write inputs), `warm_up` (untimed, on
separate small inputs), `run` (the timed phase), `check` (correctness;
raises `Mismatch`), `release` (drop what the benchmark owns).  `run`
records the timed phase's window and returns the pages attempted and
failed; `batch_ms` gives the samples behind `batch_p50_ms` and
`batch.tail_ms`.

Sizes are fixed per workload (scaled by --seconds where the workload has
a natural unit to repeat), so one seed always means the same work.
"""

from __future__ import annotations

import itertools
import os
import random
import re
import time
from contextlib import contextmanager, nullcontext

from perfbench import gen


class Mismatch(AssertionError):
    """A workload's output differs from its reference result."""


def _expect(cond: bool, what: str):
    if not cond:
        raise Mismatch(what)


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, seconds: int,
                 nproc: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.nproc = nproc
        self.input_dir = os.path.join(work_dir, "input-0")
        self.windows: dict[str, tuple[float, float]] = {}
        self.counts: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        """Records a named wall-clock window (epoch s) and tags its Spark
        jobs with a job group of the same name."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.name}.{name}", name)
        t0 = time.time()
        try:
            yield
        finally:
            self.windows[name] = (t0, time.time())
            sc.setJobGroup("perfbench", "untimed")

    def window_s(self, name: str) -> float:
        lo, hi = self.windows[name]
        return hi - lo

    def sample_pages(self, k: int):
        """k seeded (url, html) pairs from the timed inputs."""
        rows = self.pages()
        rng = random.Random(f"sample:{self.seed}")
        return [(r[1], r[3]) for r in rng.sample(rows, min(k, len(rows)))]

    def release(self):
        pass


# ---------------------------------------------------------------------------
# scan: the per-page Python kernel over unique mixed-size pages
# ---------------------------------------------------------------------------

class Scan(Workload):
    """`query.scan.scan_findings` with the default bundle, one Spark job per
    chunk of pages; each chunk is a parquet table of 2 x nproc files."""

    name = "scan"
    PAGES_PER_CHUNK = 96
    CHUNKS_PER_SECOND = 0.6
    CHECK_PAGES = 12

    def chunks(self) -> int:
        return max(4, round(self.CHUNKS_PER_SECOND * self.seconds))

    def sizes(self):
        return gen.page_sizes(self.seed, self.chunks() * self.PAGES_PER_CHUNK,
                              self.PAGES_PER_CHUNK)

    def pages(self):
        return [gen.multi_page(self.seed, i, k)
                for i, k in enumerate(self.sizes())]

    @staticmethod
    def _write(groups, out_dir):
        for f, rows in enumerate(groups):
            gen.write_pages(rows,
                            os.path.join(out_dir, f"part-{f:03d}.parquet"))

    def generate(self, out_dir: str):
        """Each chunk's pages are dealt to its 2 x nproc files largest
        first, in snake order.  Every file then carries about the same
        snippet total, so the tasks Spark packs the files into carry the
        same work on every seed."""
        rows, sizes = self.pages(), self.sizes()
        p = self.PAGES_PER_CHUNK
        files = 2 * self.nproc
        for c in range(self.chunks()):
            order = sorted(range(c * p, (c + 1) * p),
                           key=lambda i: (-sizes[i], i))
            groups = [[] for _ in range(files)]
            for j, i in enumerate(order):
                r, k = divmod(j, files)
                groups[files - 1 - k if r % 2 else k].append(rows[i])
            self._write(groups, os.path.join(out_dir, f"chunk-{c:03d}"))

    def warm_up(self):
        from joern_spark.query.scan import scan_findings
        n = 2 * self.nproc
        rows = [gen.multi_page(self.seed, 10**6 + j, 8) for j in range(n)]
        d = os.path.join(self.work, "warm")
        self._write([[r] for r in rows], d)
        scan_findings(self.spark.read.parquet(d)).collect()

    def run(self):
        from joern_spark.query.scan import scan_findings
        self.findings: dict[str, dict[str, int]] = {}
        self.chunk_ms = []
        with self.phase("timed"):
            for c in range(self.chunks()):
                t0 = time.perf_counter()
                d = os.path.join(self.input_dir, f"chunk-{c:03d}")
                rows = scan_findings(self.spark.read.parquet(d)).collect()
                self.chunk_ms.append(1000 * (time.perf_counter() - t0))
                for r in rows:
                    self.findings.setdefault(r.url, {})[r.query_name] = \
                        r.n_matches
        attempted = self.chunks() * self.PAGES_PER_CHUNK
        failed = sum(1 for f in self.findings.values() if "<parse-error>" in f)
        return attempted, failed

    def batch_ms(self, ui):
        """Run times of the scan tasks: each task feeds one Arrow batch of
        pages through the Python kernel."""
        lo, hi = self.windows["timed"]
        stats = ui.job_stats(lo, hi)
        out = []
        for st in ui.stages(stats["stage_ids"]):
            out.extend(ui.task_run_ms(st))
        return out

    def check(self):
        from joern_spark.cpg.build import build_cpg
        from joern_spark.extract import extract_script_text
        from joern_spark.query.cpgql import Q
        from joern_spark.query.scan import default_bundle

        bundle = default_bundle()
        for url, html in self.sample_pages(self.CHECK_PAGES):
            want = {}
            try:
                text = extract_script_text(html.decode("utf-8", "replace"))
                cpg = build_cpg(text, url)
                q = Q(cpg)
                for query in bundle:
                    n = int(query.matcher(cpg, q))
                    if n > 0:
                        want[query.name] = n
            except Exception:
                want = {"<parse-error>": 1}
            got = self.findings.get(url, {})
            _expect(got == want, f"scan findings of {url}: {got} != {want}")
        _expect(any(self.findings.values()), "scan produced no findings")


# ---------------------------------------------------------------------------
# stream: the production findings stream draining a backlog
# ---------------------------------------------------------------------------

class Stream(Workload):
    """`streaming.job.run_stream(available_now=True,
    files_per_trigger=nproc)` draining a backlog of time-ordered parquet
    files of `page_for` pages: a closed-loop drain, one micro-batch per
    nproc files."""

    name = "stream"
    PAGES_PER_FILE = 32
    BATCHES_PER_SECOND = 0.3
    MIN_BATCHES = 3

    def batches(self) -> int:
        return max(self.MIN_BATCHES,
                   round(self.BATCHES_PER_SECOND * self.seconds))

    def pages(self):
        n = self.batches() * self.nproc * self.PAGES_PER_FILE
        return [gen.stream_page(self.seed, i) for i in range(n)]

    def _write_backlog(self, rows, out_dir, p):
        """One file per `p` pages in page order, with strictly increasing
        modification times so the file source replays them in event-time
        order."""
        base = int(time.time()) - 86400
        for k in range(0, len(rows) // p):
            path = os.path.join(out_dir, f"part-{k:05d}.parquet")
            gen.write_pages(rows[k * p:(k + 1) * p], path)
            os.utime(path, (base + k, base + k))

    def generate(self, out_dir: str):
        self._write_backlog(self.pages(), out_dir, self.PAGES_PER_FILE)

    def _drain(self, pages_dir, out_dir, cp_dir):
        from joern_spark.streaming import job
        q = job.run_stream(self.spark, pages_dir, out_dir, cp_dir,
                           available_now=True,
                           files_per_trigger=self.nproc)
        try:
            if not q.awaitTermination(170):
                raise TimeoutError("stream did not drain within 170 s")
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return q.recentProgress

    def warm_up(self):
        n = self.nproc * 4
        rows = [gen.stream_page(self.seed, 10**6 + j)
                for j in range(n)]
        d = os.path.join(self.work, "warm")
        self._write_backlog(rows, os.path.join(d, "pages"), 4)
        self._drain(os.path.join(d, "pages"), os.path.join(d, "out"),
                    os.path.join(d, "cp"))

    def run(self):
        self.out_dir = os.path.join(self.work, "stream-out")
        self.cp_dir = os.path.join(self.work, "stream-cp")
        with self.phase("timed"):
            progress = self._drain(self.input_dir, self.out_dir, self.cp_dir)
        self.progress = [p for p in progress if p["numInputRows"] > 0]
        attempted = sum(p["numInputRows"] for p in self.progress)
        _expect(attempted == len(self.pages()),
                f"stream read {attempted} of {len(self.pages())} pages")
        return attempted, None  # failed pages are counted by `check`

    def batch_ms(self, ui):
        return [float(p["durationMs"]["triggerExecution"])
                for p in self.progress]

    def check(self):
        from joern_spark.streaming import job

        def as_dict(rows):
            return {(str(r.window_start), r.query_name): (r.n_matches,
                                                          r.n_docs)
                    for r in rows}
        got = as_dict(job.read_results(self.spark, self.out_dir).collect())
        want = as_dict(job.windowed_findings(
            self.spark.read.parquet(self.input_dir), dedup=True).collect())
        _expect(bool(want), "stream golden is empty")
        _expect(got == want,
                f"stream results differ from the batch golden on "
                f"{len(set(got.items()) ^ set(want.items()))} rows")
        self.failed = sum(n_docs for (_w, q), (_m, n_docs) in got.items()
                          if q == "<parse-error>")


# ---------------------------------------------------------------------------
# graph: CPG tables, store, corpus reachability and connected components
# ---------------------------------------------------------------------------

SINK_RE = "^(sink|fn|foo).*"


def reaching_hops(node_rows, edge_rows) -> dict[int, dict[int, int]]:
    """{sink id: {node id: REACHING_DEF hops back from that sink}} over the
    CALL sinks matching SINK_RE, from `cpg_rows_for_document` rows."""
    from collections import deque
    sink_re = re.compile(SINK_RE)
    into: dict[int, list[int]] = {}
    for _u, src, dst, label, _v in edge_rows:
        if label == "REACHING_DEF":
            into.setdefault(dst, []).append(src)
    out = {}
    # node row: (url, node_id, label, name, code, ...)
    for n in node_rows:
        if n[2] != "CALL" or n[4] is None or not sink_re.search(n[4]):
            continue
        hops = {n[1]: 0}
        todo = deque([n[1]])
        while todo:
            cur = todo.popleft()
            for nxt in into.get(cur, ()):
                if nxt not in hops:
                    hops[nxt] = hops[cur] + 1
                    todo.append(nxt)
        out[n[1]] = hops
    return out


class Graph(Workload):
    """build_cpg_tables -> save/load_cpg_tables -> reachable_pairs ->
    connected_dup_clusters, in that order, in one timed phase."""

    name = "graph"
    PAGES = 16
    SNIPPETS_PER_PAGE = 8
    PAIRS = 50_000          # 2 x pairs >= sparkutil.BROADCAST_THRESHOLD
    CHAIN_MAX = 3
    # The reach loop expands four hops a round.  A chain of 11 hops on
    # page 0 and no page deeper than 12 give three expanding rounds on
    # every seed.  Measured: at 14-15 hops (four rounds) the timed phase
    # took 50-80 s instead of about 25 s.
    CHAIN_DEPTH = 4         # chain_script(4) is 11 hops deep
    MAX_HOPS = 12
    CHECK_PAGES = 4

    def pages(self):
        """Page 0 also carries a fixed-depth def-use chain, and a page
        whose chains run deeper than MAX_HOPS is drawn again, so the reach
        loop runs the same number of rounds for every seed."""
        if not hasattr(self, "_pages"):
            self._pages = [self._page(i) for i in range(self.PAGES)]
        return self._pages

    def _page(self, i):
        from joern_spark.cpg.spark_build import cpg_rows_for_document
        extra = gen.chain_script(self.CHAIN_DEPTH) if i == 0 else ""
        for draw in itertools.count():
            row = gen.multi_page(self.seed, i, self.SNIPPETS_PER_PAGE, extra,
                                 draw)
            hops = reaching_hops(*cpg_rows_for_document(row[1], row[3]))
            if max((max(h.values()) for h in hops.values()),
                   default=0) <= self.MAX_HOPS:
                return row

    def _write_pairs(self, pairs, path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        a, b = zip(*pairs)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.table({"doc_a": pa.array(a, pa.int64()),
                                 "doc_b": pa.array(b, pa.int64())}), path)

    def generate(self, out_dir: str):
        rows = self.pages()
        files = min(2 * self.nproc, len(rows))
        for f in range(files):
            gen.write_pages(rows[f::files], os.path.join(
                out_dir, "pages", f"part-{f:03d}.parquet"))
        pairs, self.components = gen.chain_pairs(self.seed, self.PAIRS,
                                                 self.CHAIN_MAX)
        self._write_pairs(pairs, os.path.join(out_dir, "pairs",
                                              "part-000.parquet"))

    def warm_up(self):
        """Build, store and reach over 2 x nproc small pages.  Connected
        components need no warm-up of their own: measured, the timed loop
        ran no faster after one."""
        n = 2 * self.nproc
        d = os.path.join(self.work, "warm")
        for j in range(n):
            gen.write_pages([gen.multi_page(self.seed, 10**6 + j, 2)],
                            os.path.join(d, "pages", f"part-{j:03d}.parquet"))
        reach = self._build_store_reach(os.path.join(d, "pages"),
                                        os.path.join(d, "store"))
        reach.unpersist()
        self.spark.catalog.clearCache()

    def _build_store_reach(self, pages_dir, store_dir, timed=False):
        from pyspark.sql import functions as F

        from joern_spark.cpg.spark_build import build_cpg_tables
        from joern_spark.cpg.store import load_cpg_tables, save_cpg_tables
        from joern_spark.dataflow.reachable import reachable_pairs

        def phase(name):
            return self.phase(name) if timed else nullcontext()

        with phase("build"):
            nodes, edges = build_cpg_tables(self.spark.read.parquet(pages_dir))
            agg = nodes.agg(F.count(F.lit(1)).alias("n"),
                            F.countDistinct("url").alias("urls")).first()
            n_edges = edges.count()
        with phase("store"):
            save_cpg_tables(nodes, edges, store_dir)
            nodes, edges = load_cpg_tables(self.spark, store_dir, dedup=False)
        with phase("reach"):
            sources = nodes.where(F.col("label") == "LITERAL") \
                .select("url", "node_id")
            sinks = nodes.where((F.col("label") == "CALL")
                                & F.col("code").rlike(SINK_RE)) \
                .select("url", "node_id")
            reach = reachable_pairs(edges, sources, sinks)
            self.reach_rows = reach.collect()
        self.counts.update(build_rows=agg.n + n_edges, pages_with_nodes=agg.urls)
        return reach

    def run(self):
        from joern_spark.pipeline.dedup import connected_dup_clusters
        with self.phase("timed"):
            reach = self._build_store_reach(
                os.path.join(self.input_dir, "pages"),
                os.path.join(self.work, "store"), timed=True)
            self.cc_stats = {}
            with self.phase("cc"):
                self.clusters = connected_dup_clusters(
                    self.spark.read.parquet(
                        os.path.join(self.input_dir, "pairs")),
                    _stats=self.cc_stats)
        self._owned = [reach, self.clusters]
        failed = self.PAGES - int(self.counts["pages_with_nodes"])
        return self.PAGES, failed

    def batch_ms(self, ui):
        """Durations of the Spark jobs the driver waited on."""
        lo, hi = self.windows["timed"]
        return ui.job_stats(lo, hi)["job_ms"]

    def check(self):
        from joern_spark.cpg.spark_build import cpg_rows_for_document

        got: dict[str, set] = {}
        for r in self.reach_rows:
            got.setdefault(r.url, set()).add((r.source_id, r.sink_id))
        _expect(bool(got), "reachable_pairs found no pairs")
        for url, html in self.sample_pages(self.CHECK_PAGES):
            node_rows, edge_rows = cpg_rows_for_document(url, html)
            sources = {n[1] for n in node_rows if n[2] == "LITERAL"}
            want = {(s, sink)
                    for sink, hops in reaching_hops(node_rows,
                                                    edge_rows).items()
                    for s in hops.keys() & sources}
            _expect(got.get(url, set()) == want,
                    f"reach pairs of {url}: {len(got.get(url, ()))} != "
                    f"{len(want)}")
        clusters = {r.doc_id: r.cluster_id for r in self.clusters.collect()}
        _expect(clusters == self.components,
                "connected components differ from the generated chains")

    def release(self):
        for df in getattr(self, "_owned", []):
            df.unpersist()


WORKLOADS = {w.name: w for w in (Scan, Stream, Graph)}
