"""Dominators, post-dominators, and control-dependence edges (per method).

Behavioral port of:
- CfgDominatorPass (x2cpg passes/controlflow/cfgdominator/
  CfgDominatorPass.scala:13-45) using the Cooper-Harvey-Kennedy
  "A Simple, Fast Dominance Algorithm" (CfgDominator.scala:8-90, the
  algorithm its comment cites) → DOMINATE / POST_DOMINATE edges
  (immediate (post)dominator → node).
- CdgPass (passes/controlflow/codepencegraph/CdgPass.scala:24-66):
  control-dependence = post-dominance frontier → CDG edges.

Spark mapping: per-(url, method) inside the build UDF, like CFG/DDG —
sequential per method, parallel across documents (SURVEY.md §2 A12/A13).
"""

from __future__ import annotations

from typing import Optional

from joern_spark.cpg.core import Cpg, Node


class _DomGraph:
    """CFG view for dominance: entry=METHOD, exit=METHOD_RETURN."""

    def __init__(self, cpg: Cpg, method: Node, reverse: bool):
        self.cpg = cpg
        self.reverse = reverse
        self.entry = cpg.method_return(method) if reverse else method
        nodes = [method, cpg.method_return(method)]
        for dn in cpg.method_body_nodes(method):
            if dn.is_cfg_node:
                nodes.append(dn)
        seen = set()
        self.nodes = []
        for n in nodes:
            if n.id not in seen:
                seen.add(n.id)
                self.nodes.append(n)

    def succ(self, n: Node) -> list[Node]:
        label = "CFG"
        es = self.cpg.inn(n, label) if self.reverse else self.cpg.out(n, label)
        return [e.src if self.reverse else e.dst for e in es]

    def pred(self, n: Node) -> list[Node]:
        es = self.cpg.out(n, "CFG") if self.reverse else self.cpg.inn(n, "CFG")
        return [e.dst if self.reverse else e.src for e in es]


def _immediate_dominators(g: _DomGraph) -> dict[int, Node]:
    """Cooper-Harvey-Kennedy iterative algorithm over reverse post-order."""
    # reverse post-order from entry
    visited = set()
    post: list[Node] = []

    def dfs(root: Node):
        stack = [(root, iter(g.succ(root)))]
        visited.add(root.id)
        while stack:
            node, it = stack[-1]
            advanced = False
            for nxt in it:
                if nxt.id not in visited:
                    visited.add(nxt.id)
                    stack.append((nxt, iter(g.succ(nxt))))
                    advanced = True
                    break
            if not advanced:
                post.append(node)
                stack.pop()

    dfs(g.entry)
    rpo = list(reversed(post))
    rpo_num = {n.id: i for i, n in enumerate(rpo)}
    idom: dict[int, Optional[Node]] = {g.entry.id: g.entry}

    def intersect(b1: Node, b2: Node) -> Node:
        f1, f2 = b1, b2
        while f1.id != f2.id:
            while rpo_num[f1.id] > rpo_num[f2.id]:
                f1 = idom[f1.id]
            while rpo_num[f2.id] > rpo_num[f1.id]:
                f2 = idom[f2.id]
        return f1

    changed = True
    while changed:
        changed = False
        for n in rpo:
            if n.id == g.entry.id:
                continue
            preds = [p for p in g.pred(n) if p.id in idom and p.id in rpo_num]
            if not preds:
                continue
            new_idom = preds[0]
            for p in preds[1:]:
                new_idom = intersect(p, new_idom)
            if idom.get(n.id) is None or idom[n.id].id != new_idom.id:
                idom[n.id] = new_idom
                changed = True
    idom.pop(g.entry.id, None)
    return {k: v for k, v in idom.items() if v is not None}


def add_dominators(cpg: Cpg) -> dict[int, dict[int, Node]]:
    """DOMINATE / POST_DOMINATE edges: immediate (post)dominator → node.
    Returns {method_id: ipdom map} so add_cdg can reuse the post-dominator
    trees instead of recomputing them."""
    id_to_node = {n.id: n for n in cpg.nodes}
    ipdoms: dict[int, dict[int, Node]] = {}
    for method in cpg.methods():
        if method.is_external:
            continue
        for reverse, label in ((False, "DOMINATE"), (True, "POST_DOMINATE")):
            g = _DomGraph(cpg, method, reverse)
            idom = _immediate_dominators(g)
            if reverse:
                ipdoms[method.id] = idom
            for nid, dom in idom.items():
                cpg.add_edge(dom, id_to_node[nid], label)
    return ipdoms


_CDG_SOURCE_LABELS = {
    "LITERAL", "IDENTIFIER", "CALL", "METHOD_REF", "UNKNOWN",
    "CONTROL_STRUCTURE", "JUMP_TARGET", "BLOCK",
}


def add_cdg(cpg: Cpg, ipdoms: dict[int, dict[int, Node]] | None = None):
    """CDG edges via the post-dominance frontier (CdgPass.scala:24-66 +
    CfgDominatorFrontier.scala): for each branch node (≥2 CFG successors),
    walk each successor up the immediate-post-dominator tree until the
    branch's own ipdom; every node passed is control-dependent on the
    branch → edge branch → node."""
    for method in cpg.methods():
        if method.is_external:
            continue
        g = _DomGraph(cpg, method, reverse=True)
        if ipdoms is not None and method.id in ipdoms:
            ipdom = ipdoms[method.id]
        else:
            ipdom = _immediate_dominators(g)  # immediate POST-dominators
        frontier: dict[int, set[int]] = {}
        by_id = {n.id: n for n in g.nodes}
        for node in g.nodes:
            succs = [e.dst for e in cpg.out(node, "CFG")]
            if len(succs) < 2:
                continue
            join_ipdom = ipdom.get(node.id)
            if join_ipdom is None:
                # branch has no immediate post-dominator (region never
                # reaches METHOD_RETURN) — the reference's Option-guarded
                # CfgDominatorFrontier skips it; walking the whole ipdom
                # chain here would mark every ancestor control-dependent.
                continue
            for p in succs:
                runner = p
                guard = 0
                while (runner is not None
                       and runner.id != join_ipdom.id
                       and guard < 100000):
                    frontier.setdefault(runner.id, set()).add(node.id)
                    runner = ipdom.get(runner.id)
                    guard += 1
        for dep_id, branch_ids in frontier.items():
            dep = by_id.get(dep_id)
            if dep is None:
                continue
            for b_id in branch_ids:
                branch = by_id.get(b_id)
                if branch is not None and branch.label in _CDG_SOURCE_LABELS:
                    cpg.add_edge(branch, dep, "CDG")
