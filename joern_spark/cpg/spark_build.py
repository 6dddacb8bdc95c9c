"""Distributed CPG construction: pages DataFrame → (nodes, edges) DataFrames.

The Spark re-expression of joern-parse (SURVEY.md §3a): stages 2-5 of the
reference pipeline collapse into ONE `mapInArrow` over the pages table —
per-document CPGs are independent, so no shuffle is needed at all for
construction (narrow transformation); shuffles only appear in the queries
that follow, keyed on (url, node_id).

Node ids are globally stable: hash64(url, label, start, end, per-doc seq)
(FIXTURES.md §2) — identical across reruns/retries/checkpoint resume,
which is what makes the exactly-once sink idempotent.

Scale notes (100 TB):
- html never shuffles; it is read once per partition and dropped.
- maxRecordsPerBatch bounds Arrow batch memory for large pages.
- skew: hot domains are fine here (unit of work = row, not domain); the
  groupBy-shaped variants downstream salt on url-hash.
- a document whose decode, extract, build or per-CPG body raises costs
  that document only (never the batch): `map_documents` drops it, or emits
  the caller's error row for it (scan's `<parse-error>`, crosspage's
  `summarize_failed:<Exc>`, `build_cpg_rows`' `kind = 'x'`, which
  `CpgTables.failed_pages` counts).

Schema scope: NODES_SCHEMA is the QUERYABLE SUBSET of the per-document
node model — the 16 properties the corpus queries (frames.py), the
store, the exporters, and the driver oracles consume.  Rich per-document
properties (type hints, alias/canonical names, FILE content, evaluation
strategies) live only inside the build UDF where slicing/SARIF/dot use
them; widening the parquet schema for columns no distributed query reads
would cost scan width at 100 TB for nothing.  Add a column here only
when a corpus-level consumer appears, together with its fixture refresh.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StringType, StructField, StructType,
)

from joern_spark.cpg.build import build_cpg
from joern_spark.cpg.core import Cpg
from joern_spark.extract import extract_script_text
from joern_spark.sparkutil import persist_result

NODES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("node_id", LongType()),
    StructField("label", StringType()),
    StructField("name", StringType()),
    StructField("code", StringType()),
    StructField("full_name", StringType()),
    StructField("order", IntegerType()),
    StructField("argument_index", IntegerType()),
    StructField("line", IntegerType()),
    StructField("column", IntegerType()),
    StructField("type_full_name", StringType()),
    StructField("dispatch_type", StringType()),
    StructField("method_full_name", StringType()),
    StructField("control_structure_type", StringType()),
    StructField("is_external", BooleanType()),
    StructField("index", IntegerType()),
])

EDGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("src", LongType()),
    StructField("dst", LongType()),
    StructField("label", StringType()),
    StructField("variable", StringType()),
])

# Union schema for the single-pass build: node fields + edge fields + a
# `kind` discriminator ('n' | 'e').  `label` is shared (node label / edge
# label); edge-only fields are null on node rows and vice versa.
COMBINED_SCHEMA = StructType(
    [StructField("kind", StringType())]
    + NODES_SCHEMA.fields
    + [
        StructField("src", LongType()),
        StructField("dst", LongType()),
        StructField("variable", StringType()),
    ]
)


def stable_node_id(url: str, node) -> int:
    """hash64(url, label, start, end, per-doc id) — deterministic under
    retry/resume; the per-document sequence id disambiguates synthetic nodes
    sharing one source span."""
    key = f"{url}|{node.label}|{node.start}|{node.end}|{node.id}"
    return int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(),
                          "big", signed=True)


def document_cpg(url: str, html: str | bytes) -> Cpg:
    """One page → its CPG: decode the html (bytes or str), keep the script
    text, build.  Raises on parse failure."""
    if not isinstance(html, str):
        html = bytes(html).decode("utf-8", "replace")
    return build_cpg(extract_script_text(html), url)


def document_batch(docs, schema: StructType, body, on_error=None) -> pa.RecordBatch:
    """The per-document loop.  `docs` yields (url, html, *carry); each page's
    CPG goes to `body(url, cpg, *carry)`, which returns or yields the
    page's rows.  A page whose decode, build or body raises is dropped, or
    contributes `on_error(url, exc, *carry)` when given; rows its body
    yielded before raising stay.  The rows become one Arrow column per
    field of `schema`, typed by `to_arrow_schema`."""
    rows = []
    for url, html, *carry in docs:
        try:
            rows.extend(body(url, document_cpg(url, html), *carry))
        except Exception as e:
            if on_error is not None:
                rows.extend(on_error(url, e, *carry))
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows, strict=True)) or [()] * len(arrow)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow, strict=True)],
        schema=arrow)


def map_documents(pages: DataFrame, schema: StructType, body, on_error=None,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """pages(url, html, *carry) → `schema` rows from `document_batch`, in
    one narrow mapInArrow.  `carry` names page columns handed through to
    `body` and `on_error`."""
    cols = ("url", "html", *carry)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield document_batch(zip(*(batch.column(c).to_pylist() for c in cols)),
                                 schema, body, on_error)

    return pages.select(*cols).mapInArrow(run, schema)


def _cpg_rows(url: str, cpg: Cpg):
    ids = {n.id: stable_node_id(url, n) for n in cpg.nodes}
    node_rows = [
        (url, ids[n.id], n.label, n.name, n.code, n.full_name, n.order,
         n.argument_index, n.line, n.column, n.type_full_name, n.dispatch_type,
         n.method_full_name, n.control_structure_type, bool(n.is_external), n.index)
        for n in cpg.nodes
    ]
    # set-semantics edge table: identical (src,dst,label,variable) rows are
    # redundant for every consumer (joins/closures are set-based) and would
    # break exact merge-on-load in the store — dedup at the source,
    # preserving first-emission order.
    seen = set()
    edge_rows = []
    for e in cpg.edges:
        row = (url, ids[e.src.id], ids[e.dst.id], e.label, e.variable or "")
        if row not in seen:
            seen.add(row)
            edge_rows.append(row)
    return node_rows, edge_rows


def cpg_rows_for_document(url: str, html: str | bytes):
    """One document → (node_rows, edge_rows). Raises on parse failure."""
    return _cpg_rows(url, document_cpg(url, html))


_N_PAD = (None, None, None)          # src, dst, variable on node rows
# node-only fields after label (name..index) on edge rows:
_E_PAD = tuple([None] * (len(NODES_SCHEMA.fields) - 3))
_X_PAD = tuple([None] * (len(COMBINED_SCHEMA.fields) - 2))  # after kind, url


def build_cpg_rows(pages: DataFrame, on_build=None) -> DataFrame:
    """pages(url, html, ...) → ONE combined DataFrame (COMBINED_SCHEMA).

    Every document is parsed and lowered exactly once; node and edge rows
    are emitted together with a `kind` tag and split by cheap filters in
    `split_cpg_tables`; a page that fails to build emits one `kind = 'x'`
    row with its url.  `on_build(url)` is an optional per-document hook
    (pickled into the worker closure) used by tests to assert the
    build-once invariant.
    """

    def body(url, cpg):
        node_rows, edge_rows = _cpg_rows(url, cpg)
        if on_build is not None:
            on_build(url)
        rows = [("n",) + nr + _N_PAD for nr in node_rows]
        # edge row er = (url, src, dst, label, variable); label goes in the
        # shared label slot, node_id stays null.
        rows.extend(("e", er[0], None, er[3]) + _E_PAD + (er[1], er[2], er[4])
                    for er in edge_rows)
        return rows

    def on_error(url, _exc):
        return [("x", url) + _X_PAD]

    return map_documents(pages, COMBINED_SCHEMA, body, on_error)


def split_cpg_tables(combined: DataFrame) -> tuple[DataFrame, DataFrame]:
    node_cols = [f.name for f in NODES_SCHEMA.fields]
    edge_cols = [f.name for f in EDGES_SCHEMA.fields]
    nodes = combined.filter(combined["kind"] == "n").select(*node_cols)
    edges = combined.filter(combined["kind"] == "e").select(*edge_cols)
    return nodes, edges


class CpgTables(tuple):
    """(nodes, edges) over one materialized build; unpacks as a pair,
    `failed_pages()` counts the pages that failed to build, and
    `unpersist()` releases the build all three read."""

    def __new__(cls, combined: DataFrame):
        self = super().__new__(cls, split_cpg_tables(combined))
        self._combined = combined
        return self

    def failed_pages(self) -> int:
        return self._combined.where(self._combined["kind"] == "x").count()

    def unpersist(self, blocking: bool = False) -> None:
        self._combined.unpersist(blocking)


def build_cpg_tables(pages: DataFrame, on_build=None) -> CpgTables:
    """pages(url, html, ...) → (nodes, edges) DataFrames, built in ONE pass.

    The combined table is materialized by `sparkutil.persist_result`, so
    consuming both halves does not re-run the expensive
    parse→lower→CFG→DDG chain; the caller owns it and releases it with
    the returned pair's `unpersist()`.  At cluster scale the equivalent
    is writing the combined table through `cpg.store.save_cpg_tables`
    once and reading both halves back (partition-pruned).  A caller that
    reads one half only splits `build_cpg_rows` itself and pins nothing.
    """
    return CpgTables(persist_result(build_cpg_rows(pages, on_build=on_build)))
