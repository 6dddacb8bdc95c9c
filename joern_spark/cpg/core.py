"""Per-document CPG data model (nodes, edges, AST assembly).

Mirrors the reference's node/edge semantics (x2cpg Ast.scala — child order
assignment, ARGUMENT/RECEIVER/CONDITION/... typed edges) on plain Python
objects.  One `Cpg` per document; documents are independent, which is what
makes `groupBy(url).applyInPandas` the unit of Spark parallelism.

Node ids are per-document sequence numbers; globally-stable ids are derived
at DataFrame-conversion time as hash64(url, label, start, end, seq) —
required for exactly-once sinks and checkpoint-resume (FIXTURES.md §2).
"""

from __future__ import annotations

from typing import Optional

# --- label taxonomy (mirrors the CPG schema hierarchy) ----------------------

EXPRESSION_LABELS = {
    "CALL", "IDENTIFIER", "LITERAL", "BLOCK", "CONTROL_STRUCTURE",
    "FIELD_IDENTIFIER", "METHOD_REF", "TYPE_REF", "UNKNOWN", "TEMPLATE_DOM",
    "RETURN",  # Return IS an Expression in the CPG schema
}
CFG_NODE_LABELS = EXPRESSION_LABELS | {
    "METHOD", "METHOD_PARAMETER_IN", "METHOD_PARAMETER_OUT", "METHOD_RETURN",
    "RETURN", "JUMP_TARGET",
}
AST_NODE_LABELS = CFG_NODE_LABELS | {
    "LOCAL", "MEMBER", "MODIFIER", "TYPE_DECL", "FILE", "NAMESPACE_BLOCK",
    "JUMP_LABEL", "IMPORT", "BINDING", "DEPENDENCY", "ANNOTATION",
}

# <operator>.* names — the generic member-access set
# (MemberAccess.scala:10-23, incl. addressOf)
GENERIC_MEMBER_ACCESS_NAMES = {
    "<operator>.memberAccess", "<operator>.indirectMemberAccess",
    "<operator>.computedMemberAccess", "<operator>.indirectComputedMemberAccess",
    "<operator>.indirection", "<operator>.addressOf", "<operator>.fieldAccess",
    "<operator>.indirectFieldAccess", "<operator>.indexAccess",
    "<operator>.indirectIndexAccess", "<operator>.pointerShift",
    "<operator>.getElementPtr",
}
FIELD_ACCESS_NAMES = {
    "<operator>.fieldAccess", "<operator>.indirectFieldAccess",
}

# operatorextension package.scala:9-20 — operators that both assign and
# compute; note the reference lists postIncrement twice and omits
# postDecrement (mirrored faithfully)
ASSIGNMENT_AND_ARITHMETIC = {
    "<operator>.assignmentDivision", "<operator>.assignmentExponentiation",
    "<operator>.assignmentPlus", "<operator>.assignmentMinus",
    "<operator>.assignmentModulo", "<operator>.assignmentMultiplication",
    "<operator>.preIncrement", "<operator>.preDecrement",
    "<operator>.postIncrement",
}

ALL_ASSIGNMENT_TYPES = {
    "<operator>.assignment", "<operator>.assignmentOr", "<operator>.assignmentAnd",
    "<operator>.assignmentXor", "<operator>.assignmentShiftLeft",
    "<operator>.assignmentArithmeticShiftRight", "<operator>.assignmentLogicalShiftRight",
} | ASSIGNMENT_AND_ARITHMETIC

ALL_ARITHMETIC_TYPES = {
    "<operator>.addition", "<operator>.subtraction", "<operator>.division",
    "<operator>.multiplication", "<operator>.exponentiation",
    "<operator>.modulo",
} | ASSIGNMENT_AND_ARITHMETIC

ALL_ARRAY_ACCESS_TYPES = {
    "<operator>.computedMemberAccess", "<operator>.indirectComputedMemberAccess",
    "<operator>.indexAccess", "<operator>.indirectIndexAccess",
}

ALL_FIELD_ACCESS_TYPES = {
    "<operator>.fieldAccess", "<operator>.indirectFieldAccess",
}


class Node:
    """A CPG node under construction (mirrors NewNode)."""

    _UNSET_ORDER = -1

    __slots__ = (
        "id", "label", "name", "full_name", "code", "order", "argument_index",
        "argument_name", "line", "column", "type_full_name", "dispatch_type",
        "method_full_name", "control_structure_type", "parser_type_name",
        "evaluation_strategy", "index", "is_external", "canonical_name",
        "modifier_type", "is_variadic", "signature", "filename", "start", "end",
        "closure_binding_id", "imported_entity", "imported_as", "version",
        "dependency_group_id", "dynamic_type_hint_full_name", "possible_types",
        "content", "alias_type_full_name",
    )

    def __init__(self, label: str, **kw):
        # defaults first, then the (typically 3-6) provided kwargs — nodes
        # are created ~60×/document, so avoiding 30 kw.get lookups per node
        # measurably cuts build time
        self.id = -1
        self.label = label
        self.name = ""
        self.full_name = ""
        self.code = "<empty>"
        self.order = Node._UNSET_ORDER
        self.argument_index = -1
        self.argument_name = None
        self.line = None
        self.column = None
        self.type_full_name = "ANY"
        self.dispatch_type = ""
        self.method_full_name = ""
        self.control_structure_type = ""
        self.parser_type_name = ""
        self.evaluation_strategy = ""
        self.index = -1
        self.is_external = False
        self.canonical_name = ""
        self.modifier_type = ""
        self.is_variadic = False
        self.signature = ""
        self.filename = ""
        self.start = None
        self.end = None
        self.closure_binding_id = None
        self.imported_entity = None
        self.imported_as = None
        self.version = ""
        self.dependency_group_id = ""
        # XTypeRecovery properties: ordered, duplicate-free type hints
        # (DYNAMIC_TYPE_HINT_FULL_NAME / POSSIBLE_TYPES in the schema)
        self.dynamic_type_hint_full_name = ()
        self.possible_types = ()
        self.content = ""  # FILE source text
        self.alias_type_full_name = None  # TYPE_DECL (type aliases)
        if kw:
            for k, v in kw.items():
                setattr(self, k, v)
            d = self.dynamic_type_hint_full_name
            if type(d) is not tuple:
                self.dynamic_type_hint_full_name = tuple(d)
            p = self.possible_types
            if type(p) is not tuple:
                self.possible_types = tuple(p)


    # label predicates -------------------------------------------------------
    @property
    def is_expression(self) -> bool:
        return self.label in EXPRESSION_LABELS

    @property
    def is_cfg_node(self) -> bool:
        return self.label in CFG_NODE_LABELS

    def __repr__(self):  # pragma: no cover
        return f"<{self.label}#{self.id} {self.code[:30]!r}>"


class Edge:
    __slots__ = ("src", "dst", "label", "variable")

    def __init__(self, src: Node, dst: Node, label: str, variable: str = ""):
        self.src = src
        self.dst = dst
        self.label = label
        self.variable = variable

    def __repr__(self):  # pragma: no cover
        return f"{self.src!r} -{self.label}-> {self.dst!r}"


class Ast:
    """AST under construction (mirrors x2cpg Ast.scala:85-341).

    `nodes` keeps insertion order; `edges` are AST edges; typed edge lists
    carry CONDITION/ARGUMENT/RECEIVER/... — stored to the graph by
    `store(cpg)` which also assigns sibling `order` values
    (Ast.scala:64-81 setOrderWhereNotSet).
    """

    TYPED = (
        "condition", "true_body", "false_body", "do_body", "try_body",
        "catch_body", "finally_body", "for_init", "for_update", "for_body",
        "receiver", "ref", "argument", "binds", "capture", "jump_argument",
    )

    def __init__(self, node: Optional[Node] = None):
        self.nodes: list[Node] = [node] if node is not None else []
        self.edges: list[tuple[Node, Node]] = []
        # lazily populated: most Asts carry no typed edges, and eagerly
        # allocating 16 lists per instance dominated lowering allocations
        self.typed: dict[str, list[tuple[Node, Node]]] = {}

    @property
    def root(self) -> Optional[Node]:
        return self.nodes[0] if self.nodes else None

    def with_child(self, other: "Ast") -> "Ast":
        if self.root is not None and other.root is not None:
            self.edges.append((self.root, other.root))
        self._merge(other)
        return self

    def with_children(self, asts) -> "Ast":
        for a in asts:
            self.with_child(a)
        return self

    def merge(self, other: "Ast") -> "Ast":
        self._merge(other)
        return self

    def _merge(self, other: "Ast"):
        self.nodes.extend(other.nodes)
        self.edges.extend(other.edges)
        if other.typed:
            mine = self.typed
            for k, pairs in other.typed.items():
                lst = mine.get(k)
                if lst is None:
                    mine[k] = list(pairs)
                else:
                    lst.extend(pairs)

    def sub_tree_copy(self, node: Node,
                      argument_index: "int | None" = None) -> "Ast":
        """Ast.subTreeCopy (x2cpg Ast.scala:297-340): recursively deep-copy
        the subtree rooted at ``node`` — each level contributes its own
        remapped typed edges BEFORE its children's (the reference builds
        Ast(newNode).copy(remapped edges).withChildren(copied children)),
        so nodes come out in preorder and edges root-level-first."""
        def clone(n: Node) -> Node:
            c = Node(n.label)
            for slot in Node.__slots__:
                if slot not in ("id", "label"):
                    setattr(c, slot, getattr(n, slot))
            return c

        new_node = clone(node)
        if argument_index is not None and node.is_expression:
            new_node.argument_index = argument_index

        ast_children = [d for s, d in self.edges if s is node]
        new_children = [self.sub_tree_copy(c) for c in ast_children]
        old_to_new = {id(old): new.root
                      for old, new in zip(ast_children, new_children)}

        out = Ast(new_node)
        for kind, pairs in self.typed.items():
            kept = [(new_node, old_to_new.get(id(d), d))
                    for s, d in pairs if s is node]
            if kept:
                out.typed[kind] = kept
        out.with_children(new_children)
        return out

    def with_typed_edge(self, kind: str, src: Node, dst: Node) -> "Ast":
        self.typed.setdefault(kind, []).append((src, dst))
        return self

    def with_arg_edges(self, src: Node, dsts) -> "Ast":
        lst = self.typed.setdefault("argument", [])
        for d in dsts:
            lst.append((src, d))
        return self

    def store(self, cpg: "Cpg"):
        """storeInDiffGraph: register nodes, AST edges, typed edges; assign
        sibling order for unset orders."""
        # root default order
        if self.root is not None and self.root.order == Node._UNSET_ORDER:
            self.root.order = 1
        by_src: dict[int, list[Node]] = {}
        seen_pairs = set()
        for src, dst in self.edges:
            by_src.setdefault(id(src), []).append(dst)
        for children in by_src.values():
            for idx, child in enumerate(children):
                if child.order == Node._UNSET_ORDER:
                    child.order = idx + 1
        for node in self.nodes:
            cpg.add_node(node)
        for src, dst in self.edges:
            cpg.add_edge(src, dst, "AST")
        label_map = {
            "condition": "CONDITION", "true_body": "TRUE_BODY",
            "false_body": "FALSE_BODY", "do_body": "DO_BODY",
            "try_body": "TRY_BODY", "catch_body": "CATCH_BODY",
            "finally_body": "FINALLY_BODY", "for_init": "FOR_INIT",
            "for_update": "FOR_UPDATE", "for_body": "FOR_BODY",
            "receiver": "RECEIVER", "ref": "REF", "argument": "ARGUMENT",
            "binds": "BINDS", "capture": "CAPTURE", "jump_argument": "JUMP_ARGUMENT",
        }
        for kind in Ast.TYPED:  # fixed order keeps edge tables deterministic
            for src, dst in self.typed.get(kind, ()):
                cpg.add_edge(src, dst, label_map[kind])


class Cpg:
    """One document's code property graph."""

    def __init__(self, filename: str = ""):
        self.filename = filename
        self.nodes: list[Node] = []
        self.edges: list[Edge] = []
        self._node_ids = set()
        # label index (labels are immutable after construction): turns the
        # many per-pass "for n in nodes if n.label == L" whole-graph scans
        # into direct lookups
        self._by_label: dict[str, list[Node]] = {}
        # adjacency indexes, maintained incrementally by add_edge
        self._out: dict[int, dict[str, list[Edge]]] = {}
        self._in: dict[int, dict[str, list[Edge]]] = {}
        # sorted-argument cache (invalidated on ARGUMENT edge insert)
        self._args: dict[int, list[Node]] = {}
        # sorted-AST-children cache (invalidated on AST edge insert)
        self._ast_kids: dict[int, list[Node]] = {}
        # method_body_nodes memo, valid while no AST edge has been added
        # since it was computed (passes call it repeatedly per method)
        self._ast_version = 0
        self._body_memo: dict[int, tuple[int, list[Node]]] = {}
        # O(1) ast_parent: first AST in-edge wins (edges are never
        # removed, so first-writer-wins is exact)
        self._ast_parent: dict[int, Node] = {}
        # closure capture records: (declaration Node, capturing method Node)
        self.captures: list[tuple[Node, Node]] = []

    def add_node(self, node: Node) -> Node:
        if id(node) not in self._node_ids:
            node.id = len(self.nodes)
            self.nodes.append(node)
            self._node_ids.add(id(node))
            self._by_label.setdefault(node.label, []).append(node)
        return node

    _EMPTY: dict = {}

    def add_edge(self, src: Node, dst: Node, label: str, variable: str = ""):
        # hot path: nodes are almost always registered already, and
        # setdefault would allocate a throwaway {}/[] per call
        ids = self._node_ids
        if id(src) not in ids:
            self.add_node(src)
        if id(dst) not in ids:
            self.add_node(dst)
        e = Edge(src, dst, label, variable)
        self.edges.append(e)
        # keep the adjacency index incremental: passes interleave edge
        # insertion with traversal (DDG generation), so rebuilding per edge
        # would be O(E²) per document
        by = self._out.get(src.id)
        if by is None:
            by = self._out[src.id] = {}
        lst = by.get(label)
        if lst is None:
            by[label] = [e]
        else:
            lst.append(e)
        by = self._in.get(dst.id)
        if by is None:
            by = self._in[dst.id] = {}
        lst = by.get(label)
        if lst is None:
            by[label] = [e]
        else:
            lst.append(e)
        if label == "AST":
            self._ast_kids.pop(src.id, None)
            self._ast_version += 1
            if dst.id not in self._ast_parent:
                self._ast_parent[dst.id] = src
        elif label == "ARGUMENT":
            self._args.pop(src.id, None)

    # --- traversal helpers ---------------------------------------------------
    def out(self, node: Node, label: str) -> list[Edge]:
        return self._out.get(node.id, Cpg._EMPTY).get(label, [])

    def inn(self, node: Node, label: str) -> list[Edge]:
        return self._in.get(node.id, Cpg._EMPTY).get(label, [])

    def ast_children(self, node: Node) -> list[Node]:
        kids = self._ast_kids.get(node.id)
        if kids is None:
            kids = [e.dst for e in self.out(node, "AST")]
            kids.sort(key=lambda n: n.order)
            self._ast_kids[node.id] = kids
        return kids

    def ast_parent(self, node: Node) -> Optional[Node]:
        return self._ast_parent.get(node.id)

    def ast_subtree(self, node: Node) -> list[Node]:
        """All AST-reachable nodes incl. node (preorder)."""
        out = []
        stack = [node]
        while stack:
            cur = stack.pop()
            out.append(cur)
            stack.extend(reversed(self.ast_children(cur)))
        return out

    def arguments(self, call: Node) -> list[Node]:
        args = self._args.get(call.id)
        if args is None:
            args = [e.dst for e in self.out(call, "ARGUMENT")]
            args.sort(key=lambda n: (n.argument_index, n.order))
            self._args[call.id] = args
        return list(args)  # callers may mutate their copy

    def argument(self, call: Node, i: int) -> Optional[Node]:
        for a in self.arguments(call):
            if a.argument_index == i:
                return a
        return None

    def receiver(self, call: Node) -> Optional[Node]:
        es = self.out(call, "RECEIVER")
        return es[0].dst if es else None

    def in_call(self, expr: Node) -> Optional[Node]:
        """The call this expression is an argument of (via ARGUMENT edge in)."""
        es = self.inn(expr, "ARGUMENT")
        for e in es:
            if e.src.label == "CALL":
                return e.src
        return None

    def parent_expression(self, node: Node) -> Optional[Node]:
        """ExpressionMethods._parentExpression (skips member-access calls)."""
        cur = self.ast_parent(node)
        while cur is not None:
            if cur.label == "CALL" and cur.name in GENERIC_MEMBER_ACCESS_NAMES:
                cur = self.ast_parent(cur)
                continue
            if cur.is_expression:
                return cur
            return None
        return None

    def method_of(self, node: Node) -> Optional[Node]:
        """Enclosing METHOD via AST parents."""
        cur = node
        while cur is not None and cur.label != "METHOD":
            cur = self.ast_parent(cur)
        return cur

    def method_body_nodes(self, method: Node) -> list[Node]:
        """Every AST node within the method body, not descending into
        nested methods/type decls (the analysis-side body collection; the
        CONTAINS edge table follows the reference ContainsEdgePass
        destination set, which excludes params/returns/locals).

        Returns the MEMOIZED list itself (hot path — a defensive copy per
        call would undo the memo win): callers MUST NOT mutate the result;
        sort/filter into a new list instead."""
        memo = self._body_memo.get(method.id)
        if memo is not None and memo[0] == self._ast_version:
            return memo[1]
        out = []
        stack = list(self.ast_children(method))
        while stack:
            n = stack.pop()
            if n.label in ("METHOD", "TYPE_DECL"):
                continue
            out.append(n)
            stack.extend(self.ast_children(n))
        self._body_memo[method.id] = (self._ast_version, out)
        return out

    def methods(self) -> list[Node]:
        return list(self._by_label.get("METHOD", ()))

    def nodes_by_label(self, label: str) -> list[Node]:
        return list(self._by_label.get(label, ()))

    def method_return(self, method: Node) -> Node:
        for c in self.ast_children(method):
            if c.label == "METHOD_RETURN":
                return c
        raise KeyError(f"no METHOD_RETURN for {method}")

    def parameters(self, method: Node) -> list[Node]:
        ps = [c for c in self.ast_children(method) if c.label == "METHOD_PARAMETER_IN"]
        ps.sort(key=lambda p: p.index)
        return ps

    def param_out(self, param_in: Node) -> Optional[Node]:
        for e in self.out(param_in, "PARAMETER_LINK"):
            return e.dst
        return None

    def statement(self, node: Node) -> Node:
        """AstNodeMethods.statement semantics (AstNodeMethods.scala:113-143)."""
        n = node
        if n.label in ("IDENTIFIER", "METHOD_REF", "TYPE_REF", "LITERAL"):
            pe = self.parent_expression(n)
            return pe if pe is not None else n
        if n.label == "MEMBER":
            return n
        if n.label == "METHOD_PARAMETER_IN":
            return self.method_of(n)
        if n.label == "METHOD_PARAMETER_OUT":
            return self.method_return(self.method_of(n))
        if n.label == "CALL" and n.name in GENERIC_MEMBER_ACCESS_NAMES:
            pe = self.parent_expression(n)
            return pe if pe is not None else n
        if n.label in ("CALL", "METHOD_RETURN"):
            return n
        if n.label == "BLOCK":
            last = None
            for c in self.ast_children(n):
                if c.is_expression and c.label not in ("LOCAL",):
                    last = c
            if last is not None:
                if last.label in ("IDENTIFIER", "METHOD_REF", "TYPE_REF", "LITERAL"):
                    return last
                return self.statement(last) if last.label == "BLOCK" else last
            return n
        return n

    def repr_of(self, node: Node) -> str:
        """AstNodeMethods.repr."""
        if node.label == "METHOD":
            return node.name
        if node.label == "MEMBER":
            return node.name
        return node.code
