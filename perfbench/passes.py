"""Per-pass CPG and per-query timings, taken in the driver over a sample
of a workload's pages.

The callables `joern_spark.cpg.build.build_cpg` looks up at call time are
wrapped with timers for the duration of `time_passes`, then restored.  A
name the build module no longer has is reported as missing instead of
failing, so a later refactor of the pass pipeline cannot break the
benchmark; its metric then reads 0.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# metric group -> callables of joern_spark.cpg.build that make it up
PASS_GROUPS = {
    "lower_js": ("lower_js",),
    "base_passes": ("create_namespaces", "create_type_decl_stubs",
                    "create_method_stubs", "hint_this_identifiers",
                    "register_types"),
    "run_type_recovery": ("run_type_recovery",),
    "linkers": ("link_aliases", "link_field_accesses", "link_dynamic_calls",
                "link_calls"),
    "add_cfg": ("add_cfg",),
    "add_dominators": ("add_dominators",),
    "add_cdg": ("add_cdg",),
    "add_reaching_defs": ("add_reaching_defs",),
}
TAINT_QUERIES = ("user-input-to-read", "source-to-sink", "literal-to-call-arg")


@contextmanager
def _wrapped(module, groups, totals, missing):
    saved = {}
    for group, names in groups.items():
        for name in names:
            fn = getattr(module, name, None)
            if fn is None:
                missing.append(name)
                continue
            saved[name] = fn

            def timed(*a, _fn=fn, _group=group, **kw):
                t0 = time.perf_counter()
                try:
                    return _fn(*a, **kw)
                finally:
                    totals[_group] += time.perf_counter() - t0
            setattr(module, name, timed)
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(module, name, fn)


def time_passes(pages) -> dict:
    """pages: [(url, html bytes)].  Returns per-layer metrics averaged over
    the pages, and the list of missing pass names."""
    from joern_spark.cpg import build as build_mod
    from joern_spark.extract import extract_script_text
    from joern_spark.query.cpgql import Q
    from joern_spark.query.scan import default_bundle

    totals = {g: 0.0 for g in PASS_GROUPS}
    missing: list[str] = []
    bundle = default_bundle()
    q_ms = {q.name: 0.0 for q in bundle}
    extract_s = 0.0
    flows = nodes = edges = rd_edges = 0
    per_page = []  # (nodes, build seconds)
    with _wrapped(build_mod, PASS_GROUPS, totals, missing):
        for url, html in pages:
            t0 = time.perf_counter()
            text = extract_script_text(bytes(html).decode("utf-8", "replace"))
            t1 = time.perf_counter()
            cpg = build_mod.build_cpg(text, url)
            t2 = time.perf_counter()
            extract_s += t1 - t0
            per_page.append((len(cpg.nodes), t2 - t1))
            nodes += len(cpg.nodes)
            edges += len(cpg.edges)
            rd_edges += sum(1 for e in cpg.edges if e.label == "REACHING_DEF")
            q = Q(cpg)
            for query in bundle:
                t3 = time.perf_counter()
                n = int(query.matcher(cpg, q))
                q_ms[query.name] += time.perf_counter() - t3
                if query.name in TAINT_QUERIES:
                    flows += n
    n = len(pages)
    out = {"extract.ms_per_doc": 1000 * extract_s / n}
    for group, total in totals.items():
        out[f"cpg.{group}.ms_per_doc"] = 1000 * total / n
    for name, total in q_ms.items():
        out[f"query.{name}.ms_per_doc"] = 1000 * total / n
    out["query.flows_per_doc"] = flows / n
    out["cpg.nodes_per_doc"] = nodes / n
    out["cpg.edges_per_doc"] = edges / n
    out["cpg.reaching_def_edges_per_doc"] = rd_edges / n
    per_page.sort()
    half = len(per_page) // 2
    for label, part in (("small", per_page[:half] or per_page),
                        ("large", per_page[half:])):
        out[f"cpg.ms_per_node.{label}"] = (
            1000 * sum(s for _, s in part) / max(1, sum(k for k, _ in part)))
    return {"metrics": out, "missing": sorted(set(missing))}
