"""Ported reference goldens: the x2cpg base-pass unit suites over
synthetic graphs — CfgDominatorPassTests, ContainsEdgePassTest,
NamespaceCreatorTests, MethodDecoratorPassTests
(x2cpg/src/test/.../passes/*.scala)."""

from __future__ import annotations

from joern_spark.cpg.core import Cpg, Node
from joern_spark.cpg.dominators import add_dominators
from joern_spark.cpg.passes import (
    add_contains_edges, create_namespaces, create_parameter_outs,
)


def _out_set(cpg, n, label):
    return {e.dst.id for e in cpg.out(n, label)}


# CfgDominatorPassTests.scala:15-93 (DOMINATE / POST_DOMINATE edges)
def test_cfg_dominator_pass():
    cpg = Cpg()
    v0 = cpg.add_node(Node("METHOD"))
    vs = [cpg.add_node(Node("UNKNOWN")) for _ in range(5)]
    v1, v2, v3, v4, v5 = vs
    v6 = cpg.add_node(Node("METHOD_RETURN"))
    cpg.add_edge(v0, v6, "AST")
    for a, b in ((v0, v1), (v1, v2), (v2, v3), (v2, v5), (v3, v4),
                 (v4, v2), (v4, v5), (v5, v6)):
        cpg.add_edge(a, b, "CFG")

    add_dominators(cpg)

    assert _out_set(cpg, v0, "DOMINATE") == {v1.id}
    assert _out_set(cpg, v1, "DOMINATE") == {v2.id}
    assert _out_set(cpg, v2, "DOMINATE") == {v3.id, v5.id}
    assert _out_set(cpg, v3, "DOMINATE") == {v4.id}
    assert _out_set(cpg, v4, "DOMINATE") == set()
    assert _out_set(cpg, v5, "DOMINATE") == {v6.id}
    assert _out_set(cpg, v6, "DOMINATE") == set()

    assert _out_set(cpg, v6, "POST_DOMINATE") == {v5.id}
    assert _out_set(cpg, v5, "POST_DOMINATE") == {v2.id, v4.id}
    assert _out_set(cpg, v4, "POST_DOMINATE") == {v3.id}
    assert _out_set(cpg, v3, "POST_DOMINATE") == set()
    assert _out_set(cpg, v2, "POST_DOMINATE") == {v1.id}
    assert _out_set(cpg, v1, "POST_DOMINATE") == {v0.id}
    assert _out_set(cpg, v0, "POST_DOMINATE") == set()


# ContainsEdgePassTest.scala:16-40 (files/classes/methods containment)
def test_contains_edges():
    cpg = Cpg()
    file_v = cpg.add_node(Node("FILE"))
    type_decl_v = cpg.add_node(Node("TYPE_DECL"))
    type_method_v = cpg.add_node(Node("METHOD"))
    method_v = cpg.add_node(Node("METHOD"))
    inner_method_v = cpg.add_node(Node("METHOD"))
    expression_v = cpg.add_node(Node("CALL"))
    inner_expression_v = cpg.add_node(Node("CALL"))
    for a, b in ((file_v, type_decl_v), (type_decl_v, type_method_v),
                 (file_v, method_v), (method_v, inner_method_v),
                 (method_v, expression_v),
                 (inner_method_v, inner_expression_v)):
        cpg.add_edge(a, b, "AST")

    add_contains_edges(cpg)

    def contains_in(n):
        return [e.src.id for e in cpg.inn(n, "CONTAINS")]

    assert contains_in(method_v) == [file_v.id]
    assert contains_in(type_decl_v) == [file_v.id]
    assert contains_in(type_method_v) == [type_decl_v.id]
    assert contains_in(inner_method_v) == [method_v.id]
    assert contains_in(expression_v) == [method_v.id]
    assert contains_in(inner_expression_v) == [inner_method_v.id]


# NamespaceCreatorTests.scala:13-28
def test_namespace_creator():
    cpg = Cpg()
    block1 = cpg.add_node(Node("NAMESPACE_BLOCK", name="namespace1"))
    block2 = cpg.add_node(Node("NAMESPACE_BLOCK", name="namespace1"))
    block3 = cpg.add_node(Node("NAMESPACE_BLOCK", name="namespace2"))

    create_namespaces(cpg)

    namespaces = cpg.nodes_by_label("NAMESPACE")
    assert len(namespaces) == 2
    assert {n.name for n in namespaces} == {"namespace1", "namespace2"}
    ref_blocks = {e.src.id for ns in namespaces for e in cpg.inn(ns, "REF")}
    assert ref_blocks == {block1.id, block2.id, block3.id}


# MethodDecoratorPassTests.scala:13-45
def test_method_decorator():
    cpg = Cpg()
    method = cpg.add_node(Node("METHOD"))
    param_in = cpg.add_node(Node(
        "METHOD_PARAMETER_IN", code="p1", order=1, name="p1", index=1,
        evaluation_strategy="BY_REFERENCE", type_full_name="some.Type",
        line=10))
    cpg.add_edge(method, param_in, "AST")

    create_parameter_outs(cpg)

    (param_out,) = [e.dst for e in cpg.out(param_in, "PARAMETER_LINK")]
    assert param_out.label == "METHOD_PARAMETER_OUT"
    assert param_out.code == "p1"
    assert param_out.order == 1
    assert param_out.name == "p1"
    assert param_out.evaluation_strategy == "BY_REFERENCE"
    assert param_out.type_full_name == "some.Type"
    assert param_out.line == 10
    assert cpg.ast_parent(param_out) is method
