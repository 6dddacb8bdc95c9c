"""Scan job: run the query bundle over every document → findings.

The Spark form of joern-scan (SURVEY.md §3c / §A20): each Query descriptor
mirrors querydb `Query.make` (name, score, a traversal); the scan maps each
document's CPG through every query inside ONE `mapInArrow` pass and emits
finding rows `(url, warc_ts, query_name, n_matches, score, sarif)` — the
per-window match counts the streaming job aggregates must equal the
reference suite's counts on the same corpus slice (BASELINE.json
north_star).  As ScanPass's FINDING nodes do, the rows serve both the
report and SARIF (`sarif` holds the row's SARIF results as JSON).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterator
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType, TimestampType,
)

from joern_spark.cpg.core import Cpg
from joern_spark.cpg.spark_build import document_batch, map_documents
from joern_spark.dataflow.engine import reachable_by_flows
from joern_spark.query.cpgql import Q
from joern_spark.query.sarif import (
    Finding, finding_to_result, page_error_notification,
)


class Query:
    """querydb-style descriptor (DangerousFunctions.scala:14-52 shape): like
    `Query.make`, one traversal, ``find(cpg, q)``, which returns one
    evidence node list per match.  The scan's count and the SARIF results
    with their code flows (query/sarif.py) both come from one call's list,
    so they cannot disagree."""

    def __init__(self, name: str, score: float,
                 find: Callable[[Cpg, Q], list[list]]):
        self.name = name
        self.score = score
        self.find = find

    def matcher(self, cpg: Cpg, q: Q) -> int:
        return len(self.find(cpg, q))


def _flows(sources, sinks) -> Callable[[Cpg, Q], list]:
    """Taint query: one match per flow from a `sources(q)` node to a
    `sinks(q)` node (the flow's visible path, sink last)."""
    def find(cpg: Cpg, q: Q) -> list:
        srcs = sources(q)
        snks = sinks(q)
        if not srcs or not snks:
            return []
        return reachable_by_flows(cpg, snks, srcs)
    return find


def _nodes(pattern) -> Callable[[Cpg, Q], list]:
    """Pattern query: one match per node of `pattern(q)`."""
    def find(cpg: Cpg, q: Q) -> list:
        return [[n] for n in pattern(q)]
    return find


def default_bundle() -> list[Query]:
    """The standing query bundle for web-page CPGs: taint + pattern
    queries in the style of the reference's querydb scanners."""
    return [
        Query("user-input-to-read", 8.0, _flows(
            lambda q: q.identifier("sz").l(),
            lambda q: q.call().code("read.*").l())),
        Query("source-to-sink", 9.0, _flows(
            lambda q: q.call().code("source.*").l(),
            lambda q: q.call().code("sink.*").argument().l())),
        Query("literal-to-call-arg", 3.0, _flows(
            lambda q: q.literal().l(),
            lambda q: q.call().code("(sink|fn|foo).*").argument().l())),
        Query("eval-like-call", 7.0, _nodes(
            lambda q: q.call().name("(eval|Function|execScript)").l())),
        Query("document-write", 4.0, _nodes(
            lambda q: q.call().code(r"document\.write\(.*").l())),
        Query("dangerous-prop-assign", 5.0, _nodes(
            lambda q: q.call().assignment().code(".*innerHTML.*").l())),
    ]


# ---------------------------------------------------------------------------
# Web-taint bundle: the portable querydb scanner *shapes* (tainted-sink
# patterns per SqlInjection.scala / CommandInjection.scala style from
# querydb/src/main/scala/io/joern/scanners/, re-targeted at browser JS —
# the reference ships no JS scanners, so these are net-new coverage with
# the same positive/negative embedded-example test methodology
# (CQueryTestSuite.scala:12-43)).
# ---------------------------------------------------------------------------

_CRED_RE = re.compile(r"(?i)(password|passwd|secret|api_?key|token|credential)")
_QUOTES = ('"', "'", "`")


def _web_sources(q: Q):
    """Browser user-input roots: field READS off the location/document/
    window globals (location.search, document.cookie, window.name) — the
    fieldAccess CALL nodes, per Joern web-taint practice.  Bare global
    identifiers are deliberately not used: an undeclared single-use base
    is a reaching-def lone identifier (ReachingDefProblem.scala:297-342)
    and carries no def-use edges by design."""
    return q.call().name_exact("<operator>.fieldAccess") \
        .code(r"(location|document|window)\..*").l()


def _real_args(nodes):
    # argumentIndex 0 is the receiver base — a `document`/`location` base
    # would otherwise be source AND sink and self-flag every call on it
    return [a for a in nodes if a.argument_index >= 1]


def _cmd_sinks(q: Q):
    return _real_args(
        q.call().name("(exec|execSync|execFile|spawn|system|popen)")
        .argument().l())


def _sql_sinks(q: Q):
    return _real_args(q.call().name("(query|execute)").argument().l())


_HTML_LHS_RE = re.compile(r".*\.(inner|outer)HTML$")


def _dom_xss_sinks(q: Q):
    # markup WRITES: LHS-anchored like _redirect_sinks (an innerHTML READ
    # on the RHS is not a sink)
    out = []
    for a in q.assignment().l():
        args = sorted((x for x in q.cpg.arguments(a)
                       if x.argument_index >= 1),
                      key=lambda x: x.argument_index)
        if len(args) >= 2 and _HTML_LHS_RE.match(args[0].code):
            out.extend(args[1:])
    out += _real_args(q.call().code(r"document\.write\(.*").argument().l())
    return out


_REDIRECT_LHS_RE = re.compile(r"(.*\.)?location\.(href|hash|search)$")


def _redirect_sinks(q: Q):
    # navigation-target WRITES: the LHS (argument 1) must be the location
    # field — matching the whole assignment code would also flag reads
    # like `var q = location.search`
    out = []
    for a in q.assignment().l():
        args = sorted((x for x in q.cpg.arguments(a)
                       if x.argument_index >= 1),
                      key=lambda x: x.argument_index)
        if len(args) >= 2 and _REDIRECT_LHS_RE.match(args[0].code):
            out.extend(args[1:])
    out += _real_args(q.call().name("(assign|replace)")
                      .code(r".*location\..*").argument().l())
    return out


def _regex_sinks(q: Q):
    return _real_args(
        q.call().name_exact("<operator>.new").code("new RegExp.*")
        .argument().l())


def _timeout_string_calls(q: Q) -> list:
    """setTimeout/setInterval with a string first argument — the implicit
    eval form."""
    out = []
    for c in q.call().name("(setTimeout|setInterval)").l():
        first = [a for a in q.cpg.arguments(c) if a.argument_index == 1]
        if first and first[0].label == "LITERAL" \
                and first[0].code[:1] in _QUOTES:
            out.append(c)
    return out


def _hardcoded_cred_assignments(q: Q) -> list:
    """Credential-named assignment target with a non-empty string-literal
    source (the classic hardcoded-secret pattern; complements the
    ConfigPass private-key redaction)."""
    out = []
    for a in q.assignment().l():
        args = q.cpg.arguments(a)
        if len(args) >= 2 and _CRED_RE.search(args[0].code) \
                and args[1].label == "LITERAL" \
                and args[1].code[:1] in _QUOTES and len(args[1].code) > 2:
            out.append(a)
    return out


def _cred_sinks(q: Q) -> list:
    """The assigned values of credential-named assignment targets."""
    out = []
    for a in q.assignment().l():
        args = q.cpg.arguments(a)
        if len(args) >= 2 and _CRED_RE.search(args[0].code):
            out.extend(args[1:])
    return out


def web_taint_bundle() -> list[Query]:
    return [
        Query("sql-injection", 9.0, _flows(_web_sources, _sql_sinks)),
        Query("command-injection", 9.0, _flows(_web_sources, _cmd_sinks)),
        Query("dom-xss", 8.0, _flows(_web_sources, _dom_xss_sinks)),
        Query("open-redirect", 6.0, _flows(_web_sources, _redirect_sinks)),
        Query("regex-injection", 5.0, _flows(_web_sources, _regex_sinks)),
        Query("timeout-string-eval", 6.0, _nodes(_timeout_string_calls)),
        Query("hardcoded-credential", 5.0, _nodes(_hardcoded_cred_assignments)),
        # Math.random() reaching a credential-named assignment target —
        # insecure randomness used for a secret
        Query("insecure-random-token", 4.0, _flows(
            lambda q: q.call().code(r"Math\.random\(.*").l(), _cred_sinks)),
    ]


FINDINGS_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("query_name", StringType()),
    StructField("n_matches", IntegerType()),
    StructField("score", DoubleType()),
    StructField("sarif", StringType()),
])


def _scan_page(queries: list[Query]):
    """The per-page scan body and error row for `map_documents`: one
    finding row per query with n_matches > 0, `sarif` its results; a page
    that fails emits one `<parse-error>` row, `sarif` its notification."""

    def body(url, cpg, ts):
        q = Q(cpg)
        for query in queries:
            matches = query.find(cpg, q)
            if matches:
                results = [finding_to_result(cpg, Finding(
                    name=query.name, title=query.name, score=query.score,
                    evidence=ev)) for ev in matches]
                yield (url, ts, query.name, len(matches), query.score,
                       json.dumps(results))

    def on_error(url, exc, ts):
        return [(url, ts, "<parse-error>", 1, 0.0,
                 json.dumps(page_error_notification(url, exc)))]

    return body, on_error


def scan_findings(pages: DataFrame, bundle: list[Query] | None = None) -> DataFrame:
    """pages(url, warc_ts, html) → findings, one row per (url, query) with
    n_matches > 0.  One narrow Arrow pass; no shuffle."""
    body, on_error = _scan_page(bundle if bundle is not None else default_bundle())
    return map_documents(pages, FINDINGS_SCHEMA, body, on_error,
                         carry=("warc_ts",))


def scan_generated_pages(spark, n_docs: int, n_partitions: int | None = None,
                         seed: int = 42, late_fraction: float = 0.1,
                         bundle: list[Query] | None = None) -> DataFrame:
    """Synthetic-corpus scan with generation FUSED into the scan UDF: one
    spark.range → one mapInArrow.  Produces exactly the same findings rows
    as ``scan_findings(make_pages(...))`` (same generator, same bundle), but
    in the production plan shape — a single Python stage over the source —
    instead of two chained Python stages (generator UDF → JVM → scan UDF),
    which pays an extra Arrow round-trip a real parquet/Iceberg-backed pages
    table would never have.  This is the north-star throughput path.

    `warc_ts` is the generator's epoch second as a UTC instant, as
    `make_pages` gives it under the UTC session time zone `session.py` pins."""
    from joern_spark.sources.corpus import page_for

    body, on_error = _scan_page(bundle if bundle is not None else default_bundle())

    def pages_of(ids):
        for i in ids:
            url, ts, html, _text = page_for(i, seed, late_fraction)
            yield url, html, datetime.fromtimestamp(ts, timezone.utc)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield document_batch(pages_of(batch.column("id").to_pylist()),
                                 FINDINGS_SCHEMA, body, on_error)

    par = n_partitions or spark.sparkContext.defaultParallelism
    return spark.range(n_docs, numPartitions=par).mapInArrow(run, FINDINGS_SCHEMA)


def findings_report(findings: DataFrame) -> DataFrame:
    """joern-scan report shape (scan/package.scala:103-115): one line per
    finding, sorted by score descending."""
    from pyspark.sql import functions as F

    return (findings.where(F.col("query_name") != "<parse-error>")
            .select(
                F.col("score"), F.col("query_name"), F.col("url"),
                F.concat(F.lit("Result: "), F.col("score").cast("string"),
                         F.lit(" : "), F.col("query_name"), F.lit(": "),
                         F.col("n_matches").cast("string"), F.lit(" match(es) in "),
                         F.col("url")).alias("line"))
            .orderBy(F.desc("score"), F.asc("query_name"), F.asc("url")))
