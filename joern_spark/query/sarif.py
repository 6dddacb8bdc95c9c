"""SARIF v2.1.0 from per-document findings with evidence.

Behavioral port of the reference's SARIF stack (semanticcpg
sarif/SarifSchema.scala, v2_1_0/Schema.scala,
JoernScanResultToSarifConverter.scala, SarifExtension.scala):

- a Finding carries (name, title, description, score, evidence nodes);
- rules: one ReportingDescriptor per distinct finding name (id=name,
  name=title, fullDescription = description with markdown backticks
  stripped — :47-52);
- results: ruleId=name, message=title, level = cvssToLevel(score)
  (SarifSchema.scala:331-341 — 0.0→"none", ≤3.9→"note", ≤6.9→"warning",
  ≤10→"error", invalid→"warning"), locations = LAST evidence node,
  relatedLocations = FIRST, codeFlows = one threadFlow over all evidence
  (:21-46);
- regions carry startLine/startColumn + the node code as snippet
  (:74-96); uris come from the node's file (:63-72);
- originalUriBaseIds maps PROJECT_ROOT → "<empty>".

Branding deviation: tool.driver identifies this engine (joern-spark),
not the reference's product strings.

Corpus scale: the scan's one per-page pass (query/scan.py) builds each
finding row's results as JSON; `sarif_from_findings` merges the rows on
the driver.  This is the engine's one SARIF writer.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from joern_spark.cpg.core import Cpg, Node

EMPTY = "<empty>"


@dataclass
class Finding:
    """semanticcpg Finding node shape (name/title/description/score +
    evidence)."""
    name: str
    title: str = EMPTY
    description: str = EMPTY
    score: float = 0.0
    evidence: list = field(default_factory=list)


def cvss_to_level(score: float) -> str:
    """SarifSchema.Level.cvssToLevel (SarifSchema.scala:331-341)."""
    if score < 0.0 or score > 10.0:
        return "warning"
    if score == 0.0:
        return "none"
    if score <= 3.9:
        return "note"
    if score <= 6.9:
        return "warning"
    return "error"


def _message(text: str) -> dict:
    """createMessage (:47-52): backticks stripped; markdown kept only when
    it differs from the plain text."""
    plain = (text or "").replace("`", "")
    out = {"text": plain}
    if text and text != plain:
        out["markdown"] = text
    return out


def _node_uri(cpg: Cpg, node: Node) -> "str | None":
    """nodeToUri (:63-72): internal TypeDecl/Method filename, else the
    expression's enclosing file."""
    if node.label in ("TYPE_DECL", "METHOD") and not node.is_external:
        return node.filename if node.filename not in ("", EMPTY) else None
    if node.is_expression:
        m = cpg.method_of(node)
        while m is not None and not m.filename:
            parent = cpg.ast_parent(m)
            m = cpg.method_of(parent) if parent is not None else None
        if m is not None and m.filename not in ("", EMPTY):
            return m.filename
        return cpg.filename or None
    return None


def _node_region(node: Node) -> dict:
    region: dict = {}
    if node.line is not None:
        region["startLine"] = node.line
    if node.column is not None:
        region["startColumn"] = node.column
    if node.code:
        region["snippet"] = {"text": node.code}
    return region


def _node_location(cpg: Cpg, node: Node) -> dict:
    artifact: dict = {"uriBaseId": "PROJECT_ROOT"}
    uri = _node_uri(cpg, node)
    if uri is not None:
        artifact["uri"] = uri
    return {"physicalLocation": {"artifactLocation": artifact,
                                 "region": _node_region(node)}}


def finding_to_result(cpg: Cpg, f: Finding) -> dict:
    """convertFindingToResult (:21-37)."""
    locations = [_node_location(cpg, f.evidence[-1])] if f.evidence else []
    related = [_node_location(cpg, f.evidence[0])] if f.evidence else []
    result = {
        "ruleId": f.name,
        "message": {"text": f.title},
        "level": cvss_to_level(f.score),
        "locations": locations,
        "relatedLocations": related,
    }
    if f.evidence:
        result["codeFlows"] = [{
            "threadFlows": [{
                "locations": [{"location": _node_location(cpg, n)}
                              for n in f.evidence],
            }],
        }]
    else:
        result["codeFlows"] = []
    return result


def findings_to_sarif(cpg: Cpg, findings: "list[Finding]") -> dict:
    """SarifExtension.toSarif over a document's findings."""
    rules = []
    seen = set()
    for f in findings:
        if f.name in seen:
            continue
        seen.add(f.name)
        rule = {"id": f.name, "name": f.title}
        if f.description:
            rule["fullDescription"] = _message(f.description)
        rules.append(rule)
    return {
        "version": "2.1.0",
        "$schema": ("https://docs.oasis-open.org/sarif/sarif/v2.1.0/"
                    "errata01/os/schemas/sarif-schema-2.1.0.json"),
        "runs": [{
            "tool": {"driver": {
                "organization": "joern-spark",
                "name": "joern-spark",
                "informationUri": "https://spark.apache.org",
                "fullName": "joern-spark — streaming CPG engine",
                "rules": rules,
            }},
            "results": [finding_to_result(cpg, f) for f in findings],
            "originalUriBaseIds": {"PROJECT_ROOT": {"uriBaseId": EMPTY}},
        }],
    }


def page_error_notification(url: str, exc: BaseException) -> dict:
    """The error `toolExecutionNotification` of a page whose build or
    scan raised: the exception class, with the url as its location."""
    return {"level": "error",
            "message": {"text": f"{type(exc).__name__}: page not scanned"},
            "locations": [{"physicalLocation": {
                "artifactLocation": {"uri": url}}}]}


def sarif_from_findings(findings) -> dict:
    """A findings frame (query/scan.py `FINDINGS_SCHEMA`) → ONE SARIF
    document: one rule per query name in first-seen order, the results
    each finding row's `sarif` holds, and the error notification each
    `<parse-error>` row's holds, any of which makes the invocation's
    `executionSuccessful` false.  The driver collects report-sized JSON
    rows only, the collect contract of `findings_report`."""
    rows = findings.select("query_name", "sarif").collect()
    failed = [json.loads(r.sarif) for r in rows
              if r.query_name == "<parse-error>"]
    found = [r for r in rows if r.query_name != "<parse-error>"]
    # evidence-free Findings give the rules; their placeholder results
    # are replaced by the rows' results
    names = dict.fromkeys(r.query_name for r in found)
    doc = findings_to_sarif(Cpg(), [Finding(name=n, title=n, description=n)
                                    for n in names])
    run = doc["runs"][0]
    run["results"] = [res for r in found for res in json.loads(r.sarif)]
    run["invocations"] = [{"executionSuccessful": not failed,
                           "toolExecutionNotifications": failed}]
    return doc
