"""Data-flow slicing (the joern-slice equivalent).

Behavioral port of DataFlowSlicing.scala:19-67: for each call site, take
its arguments as slice seeds, walk backwards over visible DDG steps up to
`slice_depth`, and return the induced REACHING_DEF subgraph.

Spark surface: `data_flow_slices(pages)` runs per document inside one
Arrow pass and emits slice rows; per-document slices are independent.
"""

from __future__ import annotations

import re

from joern_spark.cpg.core import Cpg, Node
from joern_spark.dataflow.engine import Engine, PathElement
from joern_spark.cpg.semantics import Semantics, default_semantics

DEFAULT_SLICE_DEPTH = 20


def ddg_in(engine: Engine, node: Node) -> list[Node]:
    """One visible backward DDG step (ExtendedCfgNodeMethods.ddgIn
    semantics: invisible elements are stepped through transparently)."""
    out: list[Node] = []
    seen: set[int] = set()
    stack = [(node, (node.id,))]
    while stack:
        cur, path_ids = stack.pop()
        elems = engine._expand_in(cur, [PathElement(n) for n in _fake_path(engine, path_ids)], ())
        for e in elems:
            if e.visible:
                if e.node.id not in seen:
                    seen.add(e.node.id)
                    out.append(e.node)
            elif e.node.id not in path_ids:
                stack.append((e.node, path_ids + (e.node.id,)))
    return out


def _fake_path(engine: Engine, path_ids):
    id_map = {n.id: n for n in engine.cpg.nodes}
    return [id_map[i] for i in path_ids]


def slice_for_call(cpg: Cpg, call: Node, slice_depth: int = DEFAULT_SLICE_DEPTH,
                   semantics: Semantics | None = None):
    """(slice_nodes, slice_edges) for one call's arguments."""
    engine = Engine(cpg, semantics or default_semantics())
    seeds = cpg.arguments(call)
    nodes: dict[int, Node] = {n.id: n for n in seeds}
    frontier = list(seeds)
    for _depth in range(slice_depth):
        nxt = []
        for n in frontier:
            for m in ddg_in(engine, n):
                if m.id not in nodes:
                    nodes[m.id] = m
                    nxt.append(m)
        if not nxt:
            break
        frontier = nxt
    edges = []
    for n in nodes.values():
        for e in cpg.inn(n, "REACHING_DEF"):
            if e.src.id in nodes:
                edges.append((e.src.id, e.dst.id, e.variable))
    return list(nodes.values()), edges


def data_flow_slices(pages, call_code_regex: str = ".*",
                     slice_depth: int = DEFAULT_SLICE_DEPTH):
    """Spark job: pages → slice rows (url, call_code, n_nodes, n_edges,
    node_codes)."""
    from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                                   StructField, StructType)

    from joern_spark.cpg.spark_build import map_documents

    schema = StructType([
        StructField("url", StringType()),
        StructField("call_code", StringType()),
        StructField("n_nodes", IntegerType()),
        StructField("n_edges", IntegerType()),
        StructField("node_codes", ArrayType(StringType())),
    ])
    rx = re.compile(call_code_regex, re.DOTALL)

    def body(url, cpg):
        rows = []
        for c in cpg.nodes:
            if (c.label == "CALL" and not c.name.startswith("<operator>")
                    and rx.fullmatch(c.code or "")):
                nodes, edges = slice_for_call(cpg, c, slice_depth)
                rows.append((url, c.code, len(nodes), len(edges),
                             sorted({n.code for n in nodes})))
        return rows

    return map_documents(pages, schema, body)


# ---------------------------------------------------------------------------
# Usage slicing (UsageSlicing.scala:34-220 — joern-slice's `usages` mode)
# ---------------------------------------------------------------------------

_UNRESOLVED = ("<unknownFullName>", "<empty>", "")


def _resolved(full_name: str):
    return None if (not full_name or full_name in _UNRESOLVED
                    or full_name.startswith("<operator")) else full_name


def _type_map(cpg: Cpg) -> dict[str, str]:
    """UsageSlicing typeMap (UsageSlicing.scala:43): every TYPE_DECL's
    name → fullName, last occurrence winning like Scala's toMap."""
    return {t.name: t.full_name for t in cpg.nodes_by_label("TYPE_DECL")
            if t.name}


def _def_component(cpg: Cpg, node: Node | None,
                   type_map: dict[str, str] | None = None) -> dict | None:
    """DefComponent JSON (package.scala:217-296 variants: LocalDef,
    LiteralDef, ParamDef, CallDef, UnknownDef) — the `label` field is the
    variant discriminator."""
    if node is None:
        return None
    type_map = type_map or {}
    # nodeType (package.scala:335-341): first non-ANY/UNKNOWN of
    # typeFullName + dynamicTypeHints, corrected through the type map
    cands = [node.type_full_name or "ANY",
             *node.dynamic_type_hint_full_name]
    node_type = next((t for t in cands if t not in ("ANY", "UNKNOWN")), "ANY")
    node_type = type_map.get(node_type, node_type)
    base = {"name": node.name or node.code, "typeFullName": node_type,
            "lineNumber": node.line, "columnNumber": node.column}
    if node.label == "LOCAL":
        return {"label": "LOCAL", **base}
    if node.label == "LITERAL":
        return {"label": "LITERAL", **base, "name": node.code}
    if node.label == "METHOD_PARAMETER_IN":
        return {"label": "PARAM", **base, "position": node.index}
    if node.label == "CALL":
        if node.code.startswith("new "):
            # DefComponent.fromNode (package.scala:346-354): constructor
            # calls render as `new T` with the class full name
            type_name = node.code[len("new "):].split("(", 1)[0]
            full = type_map.get(type_name)
            return {"label": "CALL", **base,
                    "name": node.code.split("(", 1)[0],
                    "typeFullName": full or base["typeFullName"],
                    "resolvedMethod": full}
        return {"label": "CALL", **base,
                "resolvedMethod": _resolved(node.method_full_name)}
    if node.label == "IDENTIFIER":
        # an identifier RHS denotes the local/param it references
        return {"label": "LOCAL", **base}
    return {"label": "UNKNOWN", **base}


_CONSTRUCTOR_TYPE_RE = re.compile(r".*new (\w+)\(.*")


def _observed_call(cpg: Cpg, call: Node, field_name: str | None = None,
                   type_map: dict[str, str] | None = None) -> dict:
    """ObservedCall JSON (package.scala:395-403).  Constructor invocations
    (UsageSlicing.exprToObservedCall:166-199 with CallExt.isConstructor)
    render as the class name with the class full name as the resolved
    method AND the return type; their params come from the inner
    `<operator>.new` call."""
    type_map = type_map or {}
    news = [n for n in cpg.ast_subtree(call)
            if n.label == "CALL" and n.name in ("<operator>.new",
                                                "<operator>.alloc")]
    if field_name is None and news and call.name.startswith("<operator"):
        m = _CONSTRUCTOR_TYPE_RE.match(call.code or "")
        type_name = (m.group(1) if m
                     else call.code.removeprefix("new ").split("(", 1)[0])
        resolved = type_map.get(type_name)
        param_src = cpg.arguments(news[-1])
        params = ["LAMBDA" if a.label == "METHOD_REF"
                  else (a.type_full_name or "ANY")
                  for a in param_src if (a.argument_index or 0) > 0]
        return {
            "callName": type_name,
            "resolvedMethod": resolved,
            "paramTypes": params,
            "returnType": resolved or "ANY",
            "lineNumber": call.line,
            "columnNumber": call.column,
        }
    params = []
    for a in cpg.arguments(call):
        if (a.argument_index or 0) <= 0:
            continue
        params.append("LAMBDA" if a.label == "METHOD_REF"
                      else (a.type_full_name or "ANY"))
    return {
        "callName": field_name or call.name,
        "resolvedMethod": _resolved(call.method_full_name),
        "paramTypes": params,
        "returnType": "ANY",
        "lineNumber": call.line,
        "columnNumber": call.column,
    }


def _defined_by(cpg: Cpg, local: Node, idents: list[Node]) -> Node | None:
    """RHS of the assignment that defines `local` (TrackUsageTask.call:
    constructor blocks resolve to their inner `<operator>.new` call)."""
    for ident in idents:
        call = cpg.in_call(ident)
        while call is not None and call.name != "<operator>.assignment":
            call = cpg.in_call(call)
        if call is None:
            continue
        args = cpg.arguments(call)
        if len(args) == 2 and args[0].code == local.name:
            rhs = args[1]
            if rhs.label == "BLOCK":
                news = [n for n in cpg.ast_subtree(rhs)
                        if n.label == "CALL" and n.name == "<operator>.new"]
                return news[-1] if news else rhs
            return rhs
    return None


def usage_slice(cpg: Cpg, min_num_calls: int = 1,
                exclude_operator_calls: bool = False) -> dict:
    """ProgramUsageSlice JSON (UsageSlicing.calculateUsageSlice): per
    method, per declaration (locals + parameters), what defines the object
    and which calls it receives / flows into — the API-inventory mode of
    joern-slice."""
    type_map = _type_map(cpg)
    # referencing identifiers per declaration (REF edges)
    refs: dict[int, list[Node]] = {}
    for e in cpg.edges:
        if e.label == "REF" and e.src.label == "IDENTIFIER" \
                and e.dst.label in ("LOCAL", "METHOD_PARAMETER_IN"):
            refs.setdefault(e.dst.id, []).append(e.src)

    # receiver → enclosing call (the fieldAccess of `x.f()` hangs off the
    # outer call via a RECEIVER edge, not ARGUMENT)
    receiver_parent: dict[int, Node] = {}
    for e in cpg.edges:
        if e.label == "RECEIVER":
            receiver_parent[e.dst.id] = e.src

    # innermost enclosing method per node (the reference groups by
    # `local.method.head`): nearest METHOD ancestor over AST edges
    ast_parent: dict[int, Node] = {}
    for e in cpg.edges:
        if e.label == "AST":
            ast_parent[e.dst.id] = e.src

    def method_of_node(n: Node) -> Node | None:
        cur = n
        for _ in range(10000):
            if cur.label == "METHOD":
                return cur
            cur = ast_parent.get(cur.id)
            if cur is None:
                return None
        return None

    slices_by_method: dict[int, list[dict]] = {}
    for decl in cpg.nodes:
        if decl.label not in ("LOCAL", "METHOD_PARAMETER_IN"):
            continue
        if decl.name.startswith("_tmp_") or decl.name in ("this", "self"):
            continue
        idents = refs.get(decl.id, [])
        invoked: list[dict] = []
        arg_to: list[dict] = []
        for ident in idents:
            call = cpg.in_call(ident)
            if call is None:
                continue
            if call.name == "<operator>.fieldAccess":
                # member invocation: fieldAccess(ident, f) as RECEIVER of
                # the enclosing call → invokedCalls entry named f
                outer = receiver_parent.get(call.id)
                if outer is not None:
                    fa_args = cpg.arguments(call)
                    fname = fa_args[1].code if len(fa_args) == 2 else call.name
                    invoked.append(_observed_call(cpg, outer, field_name=fname,
                                                  type_map=type_map))
                    continue
            if any(n.label == "CALL" and n.name in ("<operator>.new",
                                                    "<operator>.alloc")
                   for n in cpg.ast_subtree(call)):
                # constructor involvement goes to invokedCalls regardless
                # of the operator name (partitionInvolvementInCalls:
                # `Right(_) if c.isConstructor => true`)
                invoked.append(_observed_call(cpg, call, type_map=type_map))
                continue
            if exclude_operator_calls and call.name.startswith("<operator"):
                continue
            if (ident.argument_index or 0) > 0 \
                    and call.name != "<operator>.assignment":
                arg_to.append({**_observed_call(cpg, call, type_map=type_map),
                               "position": ident.argument_index})
        if len(invoked) + len(arg_to) < min_num_calls:
            continue
        defined_by = (_def_component(cpg, decl, type_map)
                      if decl.label == "METHOD_PARAMETER_IN"
                      else _def_component(cpg, _defined_by(cpg, decl, idents),
                                          type_map))
        if decl.label == "LOCAL":
            db = defined_by or {}
            if db.get("label") == "CALL" and db.get("name") in ("require", "import"):
                continue  # Case 1 guard: require/import targets are skipped
        m = method_of_node(decl)
        if m is None:
            continue
        slices_by_method.setdefault(m.id, []).append({
            "targetObj": _def_component(cpg, decl, type_map),
            "definedBy": defined_by,
            "invokedCalls": invoked,
            "argToCalls": arg_to,
        })

    methods_by_id = {m.id: m for m in cpg.methods()}
    object_slices = [
        {
            "code": "",
            "fullName": methods_by_id[mid].full_name,
            "fileName": cpg.filename if hasattr(cpg, "filename") else "",
            "lineNumber": methods_by_id[mid].line,
            "columnNumber": methods_by_id[mid].column,
            "slices": sl,
        }
        for mid, sl in sorted(slices_by_method.items(),
                              key=lambda kv: methods_by_id[kv[0]].full_name)
    ]

    # userDefinedTypes (UsageSlicing.userDefinedTypes:355-366: external and
    # generated typedecls excluded; the synthesized constructor leads the
    # procedures like the reference's class lowering order)
    udts = []
    _udt_excluded = re.compile(r"(:program|<module>|<init>|<meta>|<body>)")
    for t in cpg.nodes:
        if t.label != "TYPE_DECL" or t.is_external \
                or _udt_excluded.fullmatch(t.name or ""):
            continue
        methods = [c.dst for c in cpg.out(t, "AST") if c.dst.label == "METHOD"]
        methods.sort(key=lambda m: (m.name != "<init>",
                                    m.line if m.line is not None else 1 << 30,
                                    m.order))
        method_names = {m.name for m in methods}
        # method MEMBER mirrors report under procedures, not fields
        members = [c.dst for c in cpg.out(t, "AST")
                   if c.dst.label == "MEMBER" and c.dst.name not in method_names]
        if not members and not methods:
            continue
        udts.append({
            "name": t.full_name,
            "fields": [{"label": "LOCAL", "name": f.name,
                        "typeFullName": f.type_full_name or "ANY"}
                       for f in members],
            "procedures": [{"callName": p.name,
                            "resolvedMethod": _resolved(p.full_name),
                            "paramTypes": ["ANY" for _ in cpg.ast_children(p)
                                           if _.label == "METHOD_PARAMETER_IN"
                                           and _.name != "this"],
                            "returnType": "ANY"}
                           for p in methods],
            "fileName": "", "lineNumber": t.line, "columnNumber": t.column,
        })

    return {"objectSlices": object_slices, "userDefinedTypes": udts}


def usage_slices(pages, min_num_calls: int = 1,
                 exclude_operator_calls: bool = False):
    """Corpus-level usage slicing: pages → (url, slice_json) rows, one
    ProgramUsageSlice JSON document per page, in a single Arrow pass."""
    import json

    from pyspark.sql.types import StringType, StructField, StructType

    from joern_spark.cpg.spark_build import map_documents

    schema = StructType([
        StructField("url", StringType()),
        StructField("slice_json", StringType()),
    ])

    def body(url, cpg):
        s = usage_slice(cpg, min_num_calls, exclude_operator_calls)
        return [(url, json.dumps(s, sort_keys=True))]

    return map_documents(pages, schema, body)
