"""Base + call-graph passes (per document).

Behavioral ports of x2cpg passes:
- method stubs for called-but-undefined full names
  (passes/base/MethodStubCreator.scala:24-95)
- static call linking by methodFullName
  (passes/callgraph/StaticCallLinker.scala:11-39)
- naive call linking by name for still-unlinked calls
  (passes/callgraph/NaiveCallLinker.scala:13-29)

Spark mapping: each of these is an equi-join (calls × methods) when done
corpus-wide; here they run per document inside the build UDF since call
resolution never crosses documents (a page is a self-contained program).
"""

from __future__ import annotations

from joern_spark.cpg.core import Cpg, Node

DYNAMIC_UNKNOWN = "<unknownFullName>"


def _make_stub(cpg: Cpg, call: Node, fn: str) -> Node:
    """External method stub shaped like MethodStubCreator.scala:24-95,
    with parameters sized to the given call's arguments."""
    args = cpg.arguments(call)
    min_arg = min((a.argument_index for a in args), default=0)
    n_args = len(args)
    method = Node("METHOD", name=call.name, full_name=fn, code=call.name,
                  is_external=True, order=0)
    cpg.add_node(method)
    start = 0 if min_arg == 0 else 1
    for p_order in range(start, start + n_args):
        param = Node("METHOD_PARAMETER_IN", name=f"p{p_order}", code=f"p{p_order}",
                     order=p_order, index=p_order, evaluation_strategy="BY_VALUE",
                     type_full_name="ANY")
        cpg.add_edge(method, param, "AST")
    block = Node("BLOCK", order=1, argument_index=1, type_full_name="ANY", code="<empty>")
    cpg.add_edge(method, block, "AST")
    ret = Node("METHOD_RETURN", order=2, code="RET", type_full_name="ANY")
    cpg.add_edge(method, ret, "AST")
    return method


def create_parameter_outs(cpg: Cpg, methods: "list[Node] | None" = None):
    """MethodDecoratorPass (x2cpg passes/base/MethodDecoratorPass.scala):
    a METHOD_PARAMETER_OUT mirroring each input parameter, linked via
    PARAMETER_LINK."""
    for method in (methods if methods is not None else cpg.methods()):
        for p in cpg.ast_children(method):
            if p.label != "METHOD_PARAMETER_IN":
                continue
            out = Node("METHOD_PARAMETER_OUT", name=p.name, code=p.code,
                       index=p.index, order=p.order,
                       evaluation_strategy=p.evaluation_strategy,
                       type_full_name=p.type_full_name, line=p.line,
                       column=p.column)
            cpg.add_node(out)
            cpg.add_edge(method, out, "AST")
            cpg.add_edge(p, out, "PARAMETER_LINK")


CONTAINS_SOURCES = ("METHOD", "TYPE_DECL", "FILE")
CONTAINS_DESTS = {
    "BLOCK", "IDENTIFIER", "FIELD_IDENTIFIER", "RETURN", "METHOD",
    "TYPE_DECL", "CALL", "LITERAL", "METHOD_REF", "TYPE_REF",
    "CONTROL_STRUCTURE", "JUMP_TARGET", "UNKNOWN", "TEMPLATE_DOM",
}


def add_contains_edges(cpg: Cpg, sources: "list[Node] | None" = None):
    """ContainsEdgePass (x2cpg passes/base/ContainsEdgePass.scala:15-50):
    every METHOD/TYPE_DECL/FILE -CONTAINS-> each destination-typed AST
    node below it, not descending into nested source-typed nodes."""
    if sources is None:
        sources = [n for label in CONTAINS_SOURCES
                   for n in cpg.nodes_by_label(label)]
    for source in sources:
        stack = list(cpg.ast_children(source))
        while stack:
            n = stack.pop()
            if n.label in CONTAINS_DESTS:
                cpg.add_edge(source, n, "CONTAINS")
            if n.label not in CONTAINS_SOURCES:
                stack.extend(cpg.ast_children(n))


def create_namespaces(cpg: Cpg):
    """NAMESPACE aggregation nodes: group NAMESPACE_BLOCKs by name, one
    NAMESPACE node per distinct name, REF edge from each block to it
    (passes/base/NamespaceCreator.scala:18-26).  Corpus-wide this is a
    groupBy(name) — here per document, since namespaces never alias
    across self-contained pages."""
    by_name: dict[str, list[Node]] = {}
    for n in cpg.nodes:
        if n.label == "NAMESPACE_BLOCK":
            by_name.setdefault(n.name, []).append(n)
    for name, blocks in by_name.items():
        ns = Node("NAMESPACE", name=name, code=name, order=-1)
        cpg.add_node(ns)
        for block in blocks:
            cpg.add_edge(block, ns, "REF")


def hint_this_identifiers(cpg: Cpg):
    """`this` receives a dynamic type hint of its enclosing class's full
    name, or the enclosing module's `::program` when free-standing
    (TSTypesTests "dynamicTypeHint for this"). Runs AFTER type recovery so
    the hint never feeds the symbol table."""
    for n in cpg.nodes_by_label("IDENTIFIER"):
        if n.name != "this" or n.dynamic_type_hint_full_name \
                or n.type_full_name not in ("", "ANY"):
            continue
        cur = cpg.ast_parent(n)
        target = None
        while cur is not None:
            if cur.label == "TYPE_DECL" and cur.name \
                    and not cur.name.startswith("<") and cur.name != ":program":
                target = cur.full_name
                break
            if cur.label == "METHOD" and cur.name == ":program":
                target = cur.full_name
                break
            cur = cpg.ast_parent(cur)
        if target:
            n.dynamic_type_hint_full_name = (target,)


def register_types(cpg: Cpg):
    """TypeNodePass re-run (x2cpg TypeNodePass.scala): ensure a TYPE node
    per non-ANY typeFullName in use — needed again after type recovery,
    which assigns module-qualified types (e.g. `loader:Loader`) that did
    not exist at lowering time.  Idempotent: existing TYPE nodes and
    EVAL_TYPE edges are kept."""
    import re as _re
    type_nodes = {t.full_name: t for t in cpg.nodes_by_label("TYPE")}
    decls = {t.full_name: t for t in cpg.nodes_by_label("TYPE_DECL")}
    for n in list(cpg.nodes):
        t = n.type_full_name
        if not t or t == "ANY" or n.label in ("TYPE", "TYPE_DECL"):
            continue
        tn = type_nodes.get(t)
        if tn is None:
            short = _re.split(r"[.:]", t)[-1] or t
            tn = Node("TYPE", name=short, full_name=t, code=t)
            cpg.add_node(tn)
            type_nodes[t] = tn
            if t in decls:
                cpg.add_edge(tn, decls[t], "REF")
        if n.is_expression and not any(e.dst is tn
                                       for e in cpg.out(n, "EVAL_TYPE")):
            cpg.add_edge(n, tn, "EVAL_TYPE")


def link_aliases(cpg: Cpg):
    """AliasLinkerPass (x2cpg passes/typerelations/AliasLinkerPass.scala):
    ALIAS_OF edges from TYPE_DECLs carrying aliasTypeFullName to the
    aliased TYPE (matched by full name, falling back to the short name
    for unresolved annotation text)."""
    types = {}
    for t in cpg.nodes_by_label("TYPE"):
        types.setdefault(t.full_name, t)
        types.setdefault(t.name, t)
    for td in cpg.nodes_by_label("TYPE_DECL"):
        a = td.alias_type_full_name
        if a and a in types and not cpg.out(td, "ALIAS_OF"):
            cpg.add_edge(td, types[a], "ALIAS_OF")


def link_field_accesses(cpg: Cpg):
    """FieldAccessLinkerPass (x2cpg passes/typerelations/
    FieldAccessLinkerPass.scala): REF edges from field-access calls to the
    MEMBER they access, resolved through the base's EVAL_TYPE — enables
    `fieldAccess.referencedMember`."""
    from joern_spark.cpg.core import ALL_FIELD_ACCESS_TYPES

    decls = {}
    for t in cpg.nodes_by_label("TYPE_DECL"):
        decls.setdefault(t.full_name, t)
    for call in cpg.nodes_by_label("CALL"):
        if call.name not in ALL_FIELD_ACCESS_TYPES or cpg.out(call, "REF"):
            continue
        args = cpg.arguments(call)
        if len(args) < 2 or args[1].label != "FIELD_IDENTIFIER":
            continue
        field_name = args[1].canonical_name
        for e in cpg.out(args[0], "EVAL_TYPE"):
            td = decls.get(e.dst.full_name)
            if td is None:
                continue
            for mem in cpg.ast_children(td):
                if mem.label == "MEMBER" and mem.name == field_name:
                    cpg.add_edge(call, mem, "REF")


def create_type_decl_stubs(cpg: Cpg):
    """TypeDeclStubCreator (x2cpg passes/base/TypeDeclStubCreator.scala:
    14-36): every TYPE node without a same-fullName TYPE_DECL gets an
    external TYPE_DECL stub."""
    decls = {t.full_name for t in cpg.nodes_by_label("TYPE_DECL")}
    for typ in cpg.nodes_by_label("TYPE"):
        if typ.full_name in decls:
            continue
        decls.add(typ.full_name)
        stub = Node("TYPE_DECL", name=typ.name, full_name=typ.full_name,
                    code=typ.name, is_external=True, order=-1)
        cpg.add_node(stub)
        cpg.add_edge(typ, stub, "REF")


def create_method_stubs(cpg: Cpg):
    existing = {m.full_name for m in cpg.methods()}
    seen: dict[str, Node] = {}
    for call in cpg.nodes_by_label("CALL"):
        fn = call.method_full_name
        if not fn or fn == DYNAMIC_UNKNOWN or fn in existing or fn in seen:
            continue
        seen[fn] = _make_stub(cpg, call, fn)


def link_calls(cpg: Cpg):
    methods_by_full = {}
    methods_by_name = {}
    for m in cpg.methods():
        methods_by_full.setdefault(m.full_name, []).append(m)
        methods_by_name.setdefault(m.name, []).append(m)
    calls = cpg.nodes_by_label("CALL")
    # static linking
    for call in calls:
        if call.dispatch_type in ("STATIC_DISPATCH", "INLINED"):
            for m in methods_by_full.get(call.method_full_name, []):
                cpg.add_edge(call, m, "CALL")
    # naive linking for the rest
    for call in calls:
        if cpg.out(call, "CALL"):
            continue
        ms = methods_by_name.get(call.name)
        if not ms:
            continue
        for m in ms:
            cpg.add_edge(call, m, "CALL")
        if len(ms) == 1:
            call.method_full_name = ms[0].full_name
    # closure-call resolution: `const f = (..) => {..}; f()` — resolve by the
    # unique METHOD_REF assigned to the callee name (the effect of the
    # reference's JS type-recovery post-processing, XTypeRecovery, A19)
    ref_by_name: dict[str, list[str]] = {}
    for call in calls:
        if call.name != "<operator>.assignment":
            continue
        args = cpg.arguments(call)
        if len(args) == 2 and args[0].label == "IDENTIFIER" and args[1].label == "METHOD_REF":
            ref_by_name.setdefault(args[0].name, []).append(args[1].method_full_name)
    for call in calls:
        if cpg.out(call, "CALL"):
            continue
        fns = ref_by_name.get(call.name)
        if fns and len(set(fns)) == 1:
            for m in methods_by_full.get(fns[0], []):
                cpg.add_edge(call, m, "CALL")
            call.method_full_name = fns[0]


def called_methods(cpg: Cpg, call: Node) -> list[Node]:
    """NoResolve.getCalledMethods: follow existing CALL edges."""
    return [e.dst for e in cpg.out(call, "CALL")]


def is_stub(cpg: Cpg, method: Node) -> bool:
    """Method with an empty body block (MethodTraversal.isStub semantics)."""
    for c in cpg.ast_children(method):
        if c.label == "BLOCK":
            return len(cpg.ast_children(c)) == 0
    return True


# ---------------------------------------------------------------------------
# CHA dynamic call linking (type recovery: typerec.run_type_recovery)
# ---------------------------------------------------------------------------

def link_dynamic_calls(cpg: Cpg):
    """CHA dynamic call linking (x2cpg passes/callgraph/
    DynamicCallLinker.scala:19-120, SAFEDISPATCH-style): for every
    TYPE_DECL method, valid targets = same-named methods of the type and
    ALL its subclasses (INHERITS_FROM closure); calls resolve through
    validM with super-class fallback, preferring internal methods over
    external stubs.  JS has no signatures, so lookup is by name."""
    typedecls = cpg.nodes_by_label("TYPE_DECL")
    td_by_full = {t.full_name: t for t in typedecls}
    methods_of_td = {
        t.id: [e.dst for e in cpg.out(t, "AST") if e.dst.label == "METHOD"]
        for t in typedecls
    }
    # INHERITS_FROM: edge child → parent (both TYPE_DECLs in our build)
    children_of: dict[int, list[Node]] = {}
    parents_of: dict[int, list[Node]] = {}
    for e in cpg.edges:
        if e.label == "INHERITS_FROM":
            parent = td_by_full.get(e.dst.full_name, e.dst)
            children_of.setdefault(parent.id, []).append(e.src)
            parents_of.setdefault(e.src.id, []).append(parent)

    def closure(t: Node, nbrs) -> list[Node]:
        out, frontier, seen = [t], [t], {t.id}
        while frontier:
            nxt = []
            for cur in frontier:
                for n in nbrs.get(cur.id, []):
                    if n.id not in seen:
                        seen.add(n.id)
                        out.append(n)
                        nxt.append(n)
            frontier = nxt
        return out

    valid_m: dict[str, list[Node]] = {}
    for t in typedecls:
        for m in methods_of_td.get(t.id, []):
            cands = []
            for sub in closure(t, children_of):
                for sm in methods_of_td.get(sub.id, []):
                    if sm.name == m.name:
                        cands.append(sm)
            valid_m[m.full_name] = cands

    method_by_full: dict[str, Node] = {}
    for m in cpg.methods():
        if not m.name.startswith("<operator>"):
            method_by_full.setdefault(m.full_name, m)

    for call in cpg.nodes_by_label("CALL"):
        if call.dispatch_type != "DYNAMIC_DISPATCH":
            continue
        fn = call.method_full_name
        if not fn or fn in ("<empty>", DYNAMIC_UNKNOWN):
            continue
        # resolveCallInSuperClasses: a call typed T:f where T does not
        # define f resolves against supertypes' definitions (whose validM
        # already contains the subclass overrides)
        targets = list(valid_m.get(fn, []))
        if not targets and ":" in fn:
            td_full = fn[: fn.rfind(":")]
            td = td_by_full.get(td_full)
            if td is not None:
                for sup in closure(td, parents_of):
                    for sm in methods_of_td.get(sup.id, []):
                        if sm.name == call.name:
                            targets.extend(valid_m.get(sm.full_name, [sm]))
        if targets:
            internal = [t for t in targets if not t.is_external]
            chosen = internal if internal else targets
        else:
            fb = method_by_full.get(fn)
            chosen = [fb] if fb is not None else []
        existing = {e.dst.id for e in cpg.out(call, "CALL")}
        for tgt in chosen:
            if tgt.id not in existing:
                cpg.add_edge(call, tgt, "CALL")
                existing.add(tgt.id)
