"""Query-bundle tests in the reference's querydb style (SURVEY.md §5.5,
CQueryTestSuite.scala:12-43 model): each query ships positive snippets
(that MUST be flagged) and negative snippets (that MUST NOT), asserting
the flagged set exactly."""

from __future__ import annotations

import pytest

from joern_spark.cpg.build import build_cpg
from joern_spark.query.cpgql import Q
from joern_spark.query.scan import default_bundle

BUNDLE = {q.name: q for q in default_bundle()}

CASES = {
    "user-input-to-read": {
        "positive": [
            "function f(fd) { var sz = 0; sz = 20; read(fd, b, sz); }",
            "var sz = taint(); read(f, b, sz);",
        ],
        "negative": [
            "function f(fd) { var sz = 0; read(fd, b, 10); }",
            "var sz = 1; write(f, b, sz);",
        ],
    },
    "source-to-sink": {
        "positive": [
            "var x = source(); sink(x);",
            "function t() { var k = source(); p.x = k; sink(p.x); }",
        ],
        "negative": [
            "var x = clean(); sink(x);",
            "var x = source(); log(x);",
        ],
    },
    "eval-like-call": {
        "positive": [
            "eval(code);",
            "var f = Function('return 1');",
        ],
        "negative": [
            "evaluate(code);",
            "myFunction();",
        ],
    },
    "document-write": {
        "positive": ["document.write(html);"],
        "negative": ["doc.write(html);", "document.writeText(html);"],
    },
    "dangerous-prop-assign": {
        "positive": ["el.innerHTML = userContent;"],
        "negative": ["el.textContent = userContent;"],
    },
}


@pytest.mark.parametrize("query_name", sorted(CASES))
def test_positive_examples_flagged(query_name):
    query = BUNDLE[query_name]
    for snippet in CASES[query_name]["positive"]:
        cpg = build_cpg(snippet)
        n = query.matcher(cpg, Q(cpg))
        assert n > 0, f"{query_name} must flag: {snippet!r}"


@pytest.mark.parametrize("query_name", sorted(CASES))
def test_negative_examples_not_flagged(query_name):
    query = BUNDLE[query_name]
    for snippet in CASES[query_name]["negative"]:
        cpg = build_cpg(snippet)
        n = query.matcher(cpg, Q(cpg))
        assert n == 0, f"{query_name} must NOT flag: {snippet!r}"


def test_combined_program_flags_exactly_the_positives():
    """CQueryTestSuite model: concatenate positives+negatives of one query
    into one program; the flagged count equals the positive count."""
    pos = CASES["eval-like-call"]["positive"]
    neg = CASES["eval-like-call"]["negative"]
    program = "\n".join(pos + neg)
    cpg = build_cpg(program)
    n = BUNDLE["eval-like-call"].matcher(cpg, Q(cpg))
    assert n == len(pos)


def test_fused_generated_scan_matches_chained(spark):
    """scan_generated_pages (generation fused into the scan UDF — the
    north-star plan shape) must produce exactly the findings rows of the
    chained scan_findings(make_pages(...)) form."""
    from joern_spark.query.scan import scan_findings, scan_generated_pages
    from joern_spark.sources.corpus import make_pages

    n = 96
    chained = scan_findings(make_pages(spark, n_docs=n, n_partitions=4))
    fused = scan_generated_pages(spark, n_docs=n, n_partitions=4)
    cols = ["url", "warc_ts", "query_name", "n_matches", "score"]
    a = sorted(map(tuple, chained.select(*cols).collect()))
    b = sorted(map(tuple, fused.select(*cols).collect()))
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# Web-taint bundle (querydb tainted-sink shapes re-targeted at browser JS;
# same CQueryTestSuite positive/negative methodology)
# ---------------------------------------------------------------------------

from joern_spark.query.scan import web_taint_bundle  # noqa: E402

WEB_BUNDLE = {q.name: q for q in web_taint_bundle()}

WEB_CASES = {
    "sql-injection": {
        "positive": [
            "var q = location.search; db.query(q);",
            "var s = document.cookie; conn.execute('SELECT ' + s);",
        ],
        "negative": [
            "db.query('SELECT 1');",
            "var q = 'static'; db.query(q);",
        ],
    },
    "command-injection": {
        "positive": [
            "var cmd = location.hash; exec(cmd);",
            "var a = window.name; spawn(a);",
        ],
        "negative": [
            "exec('ls');",
            "var cmd = 'ls -la'; execSync(cmd);",
        ],
    },
    "dom-xss": {
        "positive": [
            "var v = document.cookie; el.innerHTML = v;",
            "document.write(location.search);",
        ],
        "negative": [
            "el.innerHTML = '<b>hi</b>';",
            "document.write('static content');",
        ],
    },
    "open-redirect": {
        "positive": [
            "var t = document.cookie; location.href = t;",
            "location.replace(window.name);",
        ],
        "negative": [
            "location.href = '/home';",
            "location.replace('/login');",
        ],
    },
    "regex-injection": {
        "positive": [
            "var p = location.hash; var r = new RegExp(p);",
        ],
        "negative": [
            "var r = new RegExp('^a+$');",
        ],
    },
    "timeout-string-eval": {
        "positive": [
            "setTimeout(\"doEvil()\", 100);",
            "setInterval('tick()', 50);",
        ],
        "negative": [
            "setTimeout(function() { ok(); }, 100);",
            "setTimeout(() => tick(), 50);",
        ],
    },
    "hardcoded-credential": {
        "positive": [
            "var password = 'hunter2';",
            "config.apiKey = \"abc123\";",
        ],
        "negative": [
            "var password = readInput();",
            "var password = '';",
            "var color = 'red';",
        ],
    },
    "insecure-random-token": {
        "positive": [
            "var token = Math.random();",
            "var secret = '' + Math.random();",
        ],
        "negative": [
            "var x = Math.random();",
            "var token = crypto.getRandomValues(buf);",
        ],
    },
}


@pytest.mark.parametrize("query_name", sorted(WEB_CASES))
def test_web_positive_examples_flagged(query_name):
    query = WEB_BUNDLE[query_name]
    for snippet in WEB_CASES[query_name]["positive"]:
        cpg = build_cpg(snippet)
        n = query.matcher(cpg, Q(cpg))
        assert n > 0, f"{query_name} must flag: {snippet!r}"


@pytest.mark.parametrize("query_name", sorted(WEB_CASES))
def test_web_negative_examples_not_flagged(query_name):
    query = WEB_BUNDLE[query_name]
    for snippet in WEB_CASES[query_name]["negative"]:
        cpg = build_cpg(snippet)
        n = query.matcher(cpg, Q(cpg))
        assert n == 0, f"{query_name} must NOT flag: {snippet!r}"


def test_web_bundle_has_evidence():
    """Every web-taint query exposes SARIF-grade evidence node lists for
    its positives."""
    for name, query in WEB_BUNDLE.items():
        snippet = WEB_CASES[name]["positive"][0]
        cpg = build_cpg(snippet)
        ev = query.find(cpg, Q(cpg))
        assert ev and all(len(path) >= 1 for path in ev), name
