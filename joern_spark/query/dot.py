"""Per-method DOT graph rendering (joern-export representations).

Behavioral port of the reference's dot generator stack:

- DotSerializer (semanticcpg dotgenerator/DotSerializer.scala): HTML-ish
  node labels `<KIND, line<BR/>code>` with escapeHtml4 + 50-char
  abbreviation + whitespace normalization, `digraph "<method>" {`
  headers, `"id" [label = <...> ]` nodes, `"a" -> "b"  [ label = "..."]`
  edges;
- AstGenerator (excludes METHOD_PARAMETER_OUT);
- CfgGenerator / CdgGenerator: literals/identifiers/blocks/control
  structures/jump targets/params are hidden (except identifiers that are
  control-structure conditions) and edges are contracted through hidden
  nodes;
- DdgGenerator (dataflowengineoss dotgenerator/DdgGenerator.scala):
  REACHING_DEF in-edges with engine visibility, hidden-node contraction,
  non-call expressions collapsed onto their surrounding call,
  pass-through member-access operators filtered unless they sit in a
  condition;
- DotPdgGenerator = DDG ∪ CDG with edge types; DotCpg14Generator =
  AST ∪ CFG ∪ DDG ∪ CDG.

Spark surface: these run per (url, method) inside export UDFs — each
method renders independently, so `joern-export --repr=cfg` at corpus
scale is one mapInArrow over the per-document build.
"""

from __future__ import annotations

import re

from joern_spark.cpg.core import (
    Cpg, GENERIC_MEMBER_ACCESS_NAMES, Node,
)

MAX_CHAR_LIMIT = 50

_ESC = {"&": "&amp;", "<": "&lt;", ">": "&gt;", '"': "&quot;"}


def _escape_html(s: str) -> str:
    return "".join(_ESC.get(ch, ch) for ch in s or "")


def _abbreviate(s: str, width: int = MAX_CHAR_LIMIT) -> str:
    if len(s) <= width:
        return s
    return s[: width - 3] + "..."


def _normalize_space(s: str) -> str:
    return re.sub(r"\s+", " ", s or "").strip()


class Edge:
    __slots__ = ("src", "dst", "src_visible", "label", "edge_type")

    def __init__(self, src, dst, src_visible=True, label="", edge_type=""):
        self.src = src
        self.dst = dst
        self.src_visible = src_visible
        self.label = label
        self.edge_type = edge_type

    def key(self):
        return (self.src.id, self.dst.id, self.label, self.edge_type)


class Graph:
    def __init__(self, vertices, edges):
        self.vertices = list(vertices)
        self.edges = list(edges)

    def __add__(self, other: "Graph") -> "Graph":
        seen_v, vs = set(), []
        for v in self.vertices + other.vertices:
            if v.id not in seen_v:
                seen_v.add(v.id)
                vs.append(v)
        seen_e, es = set(), []
        for e in self.edges + other.edges:
            if e.key() not in seen_e:
                seen_e.add(e.key())
                es.append(e)
        return Graph(vs, es)


def _to_cfg_node(cpg: Cpg, node: Node) -> Node:
    """DotSerializer.toCfgNode."""
    if node.label in ("IDENTIFIER", "METHOD_REF", "LITERAL") or (
            node.label == "CALL"
            and node.name in GENERIC_MEMBER_ACCESS_NAMES):
        parent = cpg.parent_expression(node)
        return parent if parent is not None else node
    if node.label == "METHOD_PARAMETER_OUT":
        m = cpg.method_of(node)
        return cpg.method_return(m) if m is not None else node
    if node.label == "METHOD_PARAMETER_IN":
        m = cpg.method_of(node)
        return m if m is not None else node
    return node


def _string_repr(cpg: Cpg, v: Node) -> str:
    """DotSerializer.stringRepr (:76-100)."""
    label = v.label
    if label == "CALL":
        attrs = [v.name, _abbreviate(v.code)]
    elif label == "CONTROL_STRUCTURE":
        attrs = [label, v.control_structure_type, _abbreviate(v.code)]
    elif label == "METHOD":
        attrs = [label, v.name]
    elif label == "METHOD_RETURN":
        attrs = [label, v.type_full_name]
    elif label == "METHOD_PARAMETER_IN":
        attrs = ["PARAM", _abbreviate(v.code)]
    elif label == "LOCAL":
        attrs = [label, f"{_abbreviate(v.code)}: {v.type_full_name}"]
    elif label == "JUMP_TARGET":
        attrs = [label, v.name]
    elif label == "MODIFIER":
        attrs = [label, v.modifier_type]
    elif label == "TYPE":
        attrs = [label, v.name]
    elif label == "TYPE_DECL":
        attrs = [label, v.name]
    elif label == "MEMBER":
        attrs = [label, v.name]
    elif v.is_expression:
        attrs = [label, _abbreviate(v.code),
                 _abbreviate(_to_cfg_node(cpg, v).code)]
    else:
        attrs = []
    attrs = [_escape_html(_normalize_space(a)) for a in attrs]
    if v.line is not None and attrs:
        parts = [f"{attrs[0]}, {v.line}"] + attrs[1:]
    else:
        parts = []
    seen, out = set(), []
    for p in parts:
        if p not in seen:
            seen.add(p)
            out.append(p)
    return "<BR/>".join(out)


def dot_graph(cpg: Cpg, root: Node, graph: Graph,
              with_edge_types: bool = False) -> str:
    """DotSerializer.dotGraph (:40-56)."""
    name = _escape_html(root.name) if root.label == "METHOD" else ""
    out = [f'digraph "{name}" {{  \n', 'node [shape="rect"];  \n']
    pieces = [f'"{v.id}" [label = <{_string_repr(cpg, v)}> ]'
              for v in graph.vertices]
    for e in graph.edges:
        lbl = (f"{e.edge_type}: {_escape_html(e.label)}" if with_edge_types
               else _escape_html(e.label))
        suffix = f' [ label = "{lbl}"] ' if lbl else ""
        pieces.append(f'  "{e.src.id}" -> "{e.dst.id}" ' + suffix)
    out.append("\n".join(pieces))
    out.append("\n}\n")
    return "".join(out)


# -- generators --------------------------------------------------------------

def ast_graph(cpg: Cpg, root: Node) -> Graph:
    """AstGenerator: the subtree minus METHOD_PARAMETER_OUT."""
    vertices = [v for v in cpg.ast_subtree(root)
                if v.label != "METHOD_PARAMETER_OUT"]
    ids = {v.id for v in vertices}
    edges = [Edge(v, c, edge_type="AST") for v in vertices
             for c in cpg.ast_children(v) if c.id in ids]
    return Graph(vertices, edges)


def _cfg_displayed(cpg: Cpg, v: Node) -> bool:
    """CfgGenerator.cfgNodeShouldBeDisplayed."""
    if v.label == "IDENTIFIER":
        p = cpg.ast_parent(v)
        if p is not None and p.label == "CONTROL_STRUCTURE":
            return True
    return v.label not in ("LITERAL", "IDENTIFIER", "BLOCK",
                           "CONTROL_STRUCTURE", "JUMP_TARGET",
                           "METHOD_PARAMETER_IN")


def _flow_graph(cpg: Cpg, method: Node, edge_label: str,
                edge_type: str) -> Graph:
    """CfgGenerator/CdgGenerator.generate: visible nodes only, with edges
    contracted through invisible nodes."""
    raw = ([method, cpg.method_return(method)]
           + cpg.parameters(method)
           + [n for n in cpg.method_body_nodes(method) if n.is_cfg_node])
    vertices, vertex_ids = [], set()
    for v in raw:
        if v.id not in vertex_ids:
            vertex_ids.add(v.id)
            vertices.append(v)
    display = [v for v in vertices if _cfg_displayed(cpg, v)]

    def expand(v):
        return [Edge(v, e.dst, edge_type=edge_type)
                for e in cpg.out(v, edge_label) if e.dst.id in vertex_ids]

    def edges_to_display(src, visited):
        if src.id in visited:
            return []
        children = expand(src)
        visible = [c for c in children if _cfg_displayed(cpg, c.dst)]
        out = list(visible)
        for c in children:
            if not _cfg_displayed(cpg, c.dst):
                for y in edges_to_display(c.dst, visited | {src.id}):
                    out.append(Edge(src, y.dst, edge_type=edge_type))
        return out

    edges, seen = [], set()
    for v in display:
        for e in edges_to_display(v, set()):
            if e.key() not in seen:
                seen.add(e.key())
                edges.append(e)
    referenced = {i for e in edges for i in (e.src.id, e.dst.id)}
    return Graph([v for v in display if v.id in referenced], edges)


def cfg_graph(cpg: Cpg, method: Node) -> Graph:
    return _flow_graph(cpg, method, "CFG", "CFG")


def cdg_graph(cpg: Cpg, method: Node) -> Graph:
    return _flow_graph(cpg, method, "CDG", "CDG")


def _ddg_displayed(v: Node) -> bool:
    return v.label not in ("CONTROL_STRUCTURE", "JUMP_TARGET")


def _surrounding_call(cpg: Cpg, node: Node) -> Node:
    if node.label == "CALL":
        return node
    if node.is_expression:
        c = cpg.in_call(node)
        return c if c is not None else node
    return node


def _is_in_condition(cpg: Cpg, node: Node) -> bool:
    cur = node
    while cur is not None:
        if cpg.inn(cur, "CONDITION"):
            return True
        if cur.argument_index == 1:
            c = cpg.in_call(cur)
            if c is not None and c.name == "<operator>.conditional":
                return True
        cur = cpg.parent_expression(cur)
    return False


def _filter_member_access(cpg: Cpg, node: Node) -> bool:
    return (node.label == "CALL"
            and node.name in GENERIC_MEMBER_ACCESS_NAMES
            and not _is_in_condition(cpg, node))


def ddg_graph(cpg: Cpg, method: Node, semantics=None) -> Graph:
    """DdgGenerator.generate: engine-visible REACHING_DEF in-edges with
    hidden-node contraction + surrounding-call collapsing."""
    from joern_spark.cpg.semantics import default_semantics
    from joern_spark.dataflow.engine import Engine

    engine = Engine(cpg, semantics or default_semantics())
    raw = ([method, cpg.method_return(method)]
           + cpg.parameters(method)
           + [n for n in cpg.method_body_nodes(method) if n.is_cfg_node])
    all_nodes, node_ids = [], set()
    for n in raw:
        if n.id not in node_ids:
            node_ids.add(n.id)
            all_nodes.append(n)
    visible = [n for n in all_nodes if _ddg_displayed(n)]
    cache: dict[int, list[Edge]] = {}

    def expand(v):
        out = []
        for e in cpg.inn(v, "REACHING_DEF"):
            if e.src.id not in node_ids:
                continue
            if e.src.label == "METHOD":
                out.append(Edge(e.src, v, True, e.variable or "", "DDG"))
            elif e.src.is_cfg_node:
                elem = engine._elem_for_edge(e, ())
                if elem is not None:
                    out.append(Edge(e.src, v, elem.visible,
                                    e.variable or "", "DDG"))
            else:
                out.append(Edge(e.src, v, True, e.variable or "", "DDG"))
        return out

    def in_edges_to_display(dst, visited):
        if dst.id in cache and not visited:
            return cache[dst.id]
        if dst.id in visited:
            return []
        parents = expand(dst)
        result = []
        for p in parents:
            if _ddg_displayed(p.src) and p.src_visible:
                result.append(p)
            else:
                for y in in_edges_to_display(p.src, visited | {dst.id}):
                    result.append(Edge(y.src, dst, y.src_visible,
                                       y.label, "DDG"))
        if not visited:
            cache[dst.id] = result
        return result

    raw_edges = [e for v in visible for e in in_edges_to_display(v, set())]
    referenced = {i for e in raw_edges for i in (e.src.id, e.dst.id)}

    seen_n, nodes = set(), []
    for n in visible:
        if n.id not in referenced:
            continue
        sc = _surrounding_call(cpg, n)
        if _filter_member_access(cpg, sc) or sc.id in seen_n:
            continue
        seen_n.add(sc.id)
        nodes.append(sc)

    seen_e, edges = set(), []
    for e in raw_edges:
        src, dst = _surrounding_call(cpg, e.src), _surrounding_call(cpg, e.dst)
        if src.id == dst.id or _filter_member_access(cpg, src) \
                or _filter_member_access(cpg, dst):
            continue
        ne = Edge(src, dst, e.src_visible, e.label, "DDG")
        if ne.key() not in seen_e:
            seen_e.add(ne.key())
            edges.append(ne)
    return Graph(nodes, edges)


# -- per-method entry points (DotAst/Cfg/Cdg/Ddg/Pdg/Cpg14 generators) -------

def dot_ast(cpg: Cpg, method: Node) -> str:
    return dot_graph(cpg, method, ast_graph(cpg, method))


def dot_cfg(cpg: Cpg, method: Node) -> str:
    return dot_graph(cpg, method, cfg_graph(cpg, method))


def dot_cdg(cpg: Cpg, method: Node) -> str:
    return dot_graph(cpg, method, cdg_graph(cpg, method))


def dot_ddg(cpg: Cpg, method: Node, semantics=None) -> str:
    return dot_graph(cpg, method, ddg_graph(cpg, method, semantics))


def dot_pdg(cpg: Cpg, method: Node, semantics=None) -> str:
    """DotPdgGenerator: DDG ∪ CDG with edge types."""
    return dot_graph(cpg, method,
                     ddg_graph(cpg, method, semantics) + cdg_graph(cpg, method),
                     with_edge_types=True)


def dot_cpg14(cpg: Cpg, method: Node, semantics=None) -> str:
    """DotCpg14Generator: AST ∪ CFG ∪ DDG ∪ CDG with edge types."""
    g = (ast_graph(cpg, method) + cfg_graph(cpg, method)
         + ddg_graph(cpg, method, semantics) + cdg_graph(cpg, method))
    return dot_graph(cpg, method, g, with_edge_types=True)
