"""Ported reference goldens: semanticcpg SarifTests.scala against
query/sarif.py (Finding → SARIF v2.1.0).

Deviations (documented): tool.driver identifies this engine
("joern-spark") instead of the reference's product strings, and the
byte-exact pretty-JSON comparison is asserted structurally (key-by-key)
rather than as one string."""

from __future__ import annotations

from collections import Counter

from joern_spark.cpg.build import build_cpg
from joern_spark.cpg.core import Cpg, Node
from joern_spark.query.sarif import Finding, cvss_to_level, findings_to_sarif


def _valid_finding(cpg):
    """createValidFindingNode: a method `foo` in Bar.java at line 2 with
    code `public foo()` as evidence; name f1, title Rule 1, score 8."""
    m = cpg.add_node(Node("METHOD", name="foo", filename="Bar.java",
                          line=2, code="public foo()"))
    return Finding(name="f1", title="Rule 1",
                   description="something `bad` happened", score=8.0,
                   evidence=[m])


# SarifTests.scala:13-28 (empty results)
def test_empty_sarif():
    cpg = Cpg()
    sarif = findings_to_sarif(cpg, [])
    assert sarif["version"] == "2.1.0"
    assert sarif["$schema"] == ("https://docs.oasis-open.org/sarif/sarif/"
                                "v2.1.0/errata01/os/schemas/"
                                "sarif-schema-2.1.0.json")
    assert len(sarif["runs"]) == 1
    run = sarif["runs"][0]
    assert run["results"] == []
    tool = run["tool"]["driver"]
    assert tool["name"]
    assert tool["fullName"]
    assert tool["organization"]


# SarifTests.scala:31-69 (single finding with all expected properties)
def test_valid_finding_result():
    cpg = Cpg()
    f = _valid_finding(cpg)
    sarif = findings_to_sarif(cpg, [f])
    run = sarif["runs"][0]

    (rule,) = run["tool"]["driver"]["rules"]
    assert rule["id"] == "f1"
    assert rule["name"] == "Rule 1"
    assert "shortDescription" not in rule
    # markdown backticks stripped from the plain text (:47-52)
    assert rule["fullDescription"]["text"] == "something bad happened"
    assert rule["fullDescription"]["markdown"] == "something `bad` happened"
    assert "helpUri" not in rule

    (result,) = run["results"]
    assert result["ruleId"] == "f1"
    assert result["message"]["text"] == "Rule 1"
    assert result["level"] == "error"

    region = result["locations"][0]["physicalLocation"]["region"]
    assert region["startLine"] == 2
    assert region["snippet"]["text"] == "public foo()"

    artifact = result["locations"][0]["physicalLocation"]["artifactLocation"]
    assert artifact["uri"] == "Bar.java"
    assert artifact["uriBaseId"] == "PROJECT_ROOT"

    assert len(result["codeFlows"]) == 1
    (flow,) = result["codeFlows"]
    assert "message" not in flow
    (thread,) = flow["threadFlows"]
    (loc,) = thread["locations"]
    assert loc["location"]["physicalLocation"]["artifactLocation"]["uri"] \
        == "Bar.java"

    assert run["originalUriBaseIds"] == {"PROJECT_ROOT":
                                         {"uriBaseId": "<empty>"}}


# SarifTests.scala:176-199 (finding with missing properties)
def test_invalid_finding_defaults():
    cpg = Cpg()
    m = cpg.add_node(Node("METHOD", name="foo", filename="Bar.java",
                          line=2, code="public foo()"))
    f = Finding(name="f1", description="something bad happened",
                score=5.0, evidence=[m])  # no title → "<empty>"
    sarif = findings_to_sarif(cpg, [f])
    run = sarif["runs"][0]
    (rule,) = run["tool"]["driver"]["rules"]
    assert rule["id"] == "f1"
    assert rule["name"] == "<empty>"
    assert rule["fullDescription"]["text"] == "something bad happened"
    (result,) = run["results"]
    assert result["message"]["text"] == "<empty>"
    assert result["level"] == "warning"


# SarifSchema.scala:331-341 (cvssToLevel)
def test_cvss_to_level():
    assert cvss_to_level(0.0) == "none"
    assert cvss_to_level(3.9) == "note"
    assert cvss_to_level(6.9) == "warning"
    assert cvss_to_level(10.0) == "error"
    assert cvss_to_level(-1.0) == "warning"
    assert cvss_to_level(11.0) == "warning"


# end-to-end: the scan's per-page body (the one the Spark path runs) yields
# finding rows whose SARIF results carry real locations and code flows
def test_scan_page_sarif_end_to_end():
    import json

    from joern_spark.query.scan import _scan_page, default_bundle

    cpg = build_cpg("var x = source(); sink(x); eval('1');", "page.js")
    body, _on_error = _scan_page(default_bundle())
    rows = list(body("page.js", cpg, None))
    names = {r[2] for r in rows}
    assert "source-to-sink" in names
    assert "eval-like-call" in names
    results = [res for r in rows for res in json.loads(r[5])]
    assert all(len(json.loads(r[5])) == r[3] for r in rows)
    taint = next(r for r in results if r["ruleId"] == "source-to-sink")
    # sink is the result location, the flow walks source → sink
    flow_locs = taint["codeFlows"][0]["threadFlows"][0]["locations"]
    assert len(flow_locs) >= 2
    assert flow_locs[-1]["location"] == taint["locations"][0]
    assert taint["level"] == "error"
    ev = next(r for r in results if r["ruleId"] == "eval-like-call")
    snippet = ev["locations"][0]["physicalLocation"]["region"]["snippet"]
    assert "eval" in snippet["text"]


def test_sarif_from_findings_spark():
    """Distributed evidence SARIF: the scan's one mapInArrow pass builds,
    scans and converts per document; the driver merges the rows."""
    import pytest
    spark = pytest.importorskip("pyspark.sql").SparkSession.getActiveSession()
    if spark is None:
        from joern_spark.session import get_spark
        spark = get_spark(app_name="sarif-test", master="local[2]",
                          shuffle_partitions=2)
    from joern_spark.query.sarif import sarif_from_findings
    from joern_spark.query.scan import scan_findings, web_taint_bundle
    from joern_spark.sources.corpus import make_pages, make_taint_pages

    pages = make_pages(spark, n_docs=32, n_partitions=2)
    doc = sarif_from_findings(scan_findings(pages))
    assert doc["version"] == "2.1.0"
    results = doc["runs"][0]["results"]
    assert len(results) > 0
    # every result carries a real location with the page url as uri
    with_loc = [r for r in results if r["locations"]]
    assert with_loc
    uri = with_loc[0]["locations"][0]["physicalLocation"][
        "artifactLocation"]["uri"]
    assert uri.startswith("https://")
    rule_ids = {r["id"] for r in doc["runs"][0]["tool"]["driver"]["rules"]}
    assert {r["ruleId"] for r in results} <= rule_ids
    assert doc["runs"][0]["invocations"] == [
        {"executionSuccessful": True, "toolExecutionNotifications": []}]

    # the scan's count and the SARIF results come from one match list
    assert _sarif_counts(doc) == _scan_counts(scan_findings(pages))
    taint_pages = make_taint_pages(spark, n_docs=32, n_partitions=2)
    bundle = web_taint_bundle()
    assert (_sarif_counts(sarif_from_findings(scan_findings(taint_pages, bundle)))
            == _scan_counts(scan_findings(taint_pages, bundle)))


def _sarif_counts(doc):
    counts = Counter(
        (r["locations"][0]["physicalLocation"]["artifactLocation"]["uri"],
         r["ruleId"])
        for r in doc["runs"][0]["results"])
    assert counts
    return dict(counts)


def _scan_counts(findings):
    counts = {(r.url, r.query_name): r.n_matches for r in findings.collect()}
    assert counts and all(q != "<parse-error>" for _, q in counts)
    return counts


def test_scan_job_end_to_end(spark, tmp_path, monkeypatch, capsys):
    """jobs/scan.py: the score-sorted report on stdout, and the evidence
    SARIF file, every result at its rule's `cvss_to_level`."""
    import json
    import sys

    from jobs import scan as scan_job
    from joern_spark.query.scan import default_bundle
    from joern_spark.sources.corpus import make_pages

    pages_dir, sarif_path = str(tmp_path / "pages"), tmp_path / "out.sarif"
    make_pages(spark, n_docs=32).write.parquet(pages_dir)
    monkeypatch.setattr("joern_spark.session.get_spark", lambda **_: spark)
    monkeypatch.setattr(sys, "argv", ["scan.py", "--pages", pages_dir,
                                      "--sarif", str(sarif_path)])
    scan_job.main()

    lines = capsys.readouterr().out.splitlines()
    assert lines and all(ln.startswith("Result: ") for ln in lines)
    scores = [float(ln.split(" : ")[0].removeprefix("Result: "))
              for ln in lines]
    assert scores == sorted(scores, reverse=True)

    score = {q.name: q.score for q in default_bundle()}
    results = json.loads(sarif_path.read_text())["runs"][0]["results"]
    assert results
    for r in results:
        assert r["level"] == cvss_to_level(score[r["ruleId"]]), r["ruleId"]


def test_scan_job_builds_each_page_once(spark, tmp_path, monkeypatch, capsys):
    """jobs/scan.py --sarif builds and scans each page once: a bundle query
    that counts its calls on a Spark accumulator sees one call per page,
    and the report and the SARIF file agree per (url, rule)."""
    import json
    import re
    import sys

    from jobs import scan as scan_job
    from joern_spark.query.scan import Query, default_bundle
    from joern_spark.sources.corpus import make_pages

    calls = spark.sparkContext.accumulator(0)
    bundle = default_bundle()
    taint = next(q for q in bundle if q.name == "source-to-sink")

    def counted(cpg, q, find=taint.find):
        calls.add(1)
        return find(cpg, q)

    bundle.append(Query("counted-source-to-sink", taint.score, counted))
    monkeypatch.setattr("joern_spark.query.scan.default_bundle",
                        lambda: bundle)

    n_pages = 128
    pages_dir, sarif_path = str(tmp_path / "pages"), tmp_path / "out.sarif"
    make_pages(spark, n_docs=n_pages).write.parquet(pages_dir)
    monkeypatch.setattr("joern_spark.session.get_spark", lambda **_: spark)
    monkeypatch.setattr(sys, "argv", ["scan.py", "--pages", pages_dir,
                                      "--sarif", str(sarif_path)])
    scan_job.main()
    assert calls.value == n_pages

    line = re.compile(r"Result: \S+ : (\S+): (\d+) match\(es\) in (\S+)$")
    report = {}
    for ln in capsys.readouterr().out.splitlines():
        rule, n, url = line.match(ln).groups()
        report[(url, rule)] = int(n)
    assert any(rule == "counted-source-to-sink" for _, rule in report)
    assert _sarif_counts(json.loads(sarif_path.read_text())) == report
