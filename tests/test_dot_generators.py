"""Ported reference goldens: the dot-generator suites
(c2cpg io/dotgenerator/DotCfgGeneratorTests, DotAstGeneratorTests,
DotCdgGeneratorTests, DotDdgGeneratorTests — the FORMAT semantics are
language-agnostic DotSerializer/generator behavior; the C snippets are
adapted to JS equivalents, declaration codes read `var z = ...`)."""

from __future__ import annotations

from joern_spark.cpg.build import build_cpg
from joern_spark.query.dot import (
    dot_ast, dot_cdg, dot_cfg, dot_cpg14, dot_ddg, dot_pdg,
)


def _method(cpg, name):
    (m,) = [x for x in cpg.methods() if x.name == name]
    return m


def _nodes(dot):
    return [l for l in dot.split("\n") if "label" in l and "->" not in l]


def _edges(dot):
    return [l for l in dot.split("\n") if "->" in l]


def _cfg_cpg():
    return build_cpg("""
function main(argc, argv) {
   var i = 0;
   while(i < 10) {
     printf("Hello World");
     i++;
   }
   return 0;
}
""", "t.js")


# DotCfgGeneratorTests.scala:20-28 (create a dot graph)
def test_dot_cfg_graph():
    cpg = _cfg_cpg()
    dot = dot_cfg(cpg, _method(cpg, "main"))
    assert dot.startswith('digraph "main" {')
    assert '[label = <&lt;operator&gt;.assignment, 3<BR/>var i = 0> ]' in dot
    assert dot.endswith("}\n")


# DotCfgGeneratorTests.scala:30-34 (no IDENTIFIER nodes)
def test_dot_cfg_no_identifiers():
    cpg = _cfg_cpg()
    assert "IDENTIFIER" not in dot_cfg(cpg, _method(cpg, "main"))


# DotCfgGeneratorTests.scala:36-46 (seven nodes, seven edges — same
# counts as the reference's C fixture)
def test_dot_cfg_counts():
    cpg = _cfg_cpg()
    dot = dot_cfg(cpg, _method(cpg, "main"))
    assert len(_nodes(dot)) == 7
    assert len(_edges(dot)) == 7


# DotCfgGeneratorTests.scala:50-66 (no duplicate edges for a ternary)
def test_dot_cfg_no_duplicate_edges():
    cpg = build_cpg("function test(){ return a ? a : b; }", "t.js")
    dot = dot_cfg(cpg, _method(cpg, "test"))
    edges = _edges(dot)
    assert len(edges) == len(set(edges))


def _ast_cpg():
    return build_cpg("""// A comment
function my_func(x)
{
  var y = x * 2;
  if (y > 42) {
    return y;
  } else {
    return sqrt(y);
  }
}

function boop() {
  printf("Boop!");
  return;
}
""", "t.js")


# DotAstGeneratorTests.scala:31-40 (generate dot graph — the label
# strings match the reference byte-for-byte incl. abbreviation)
def test_dot_ast_graph():
    cpg = _ast_cpg()
    dot = dot_ast(cpg, _method(cpg, "my_func"))
    assert dot.startswith('digraph "my_func"')
    assert ("[label = <CONTROL_STRUCTURE, 5<BR/>IF<BR/>"
            "if (y &gt; 42) { return y; } else { retu...> ]") in dot
    assert "[label = <LITERAL, 5<BR/>42<BR/>y &gt; 42> ]" in dot
    assert dot.endswith("}\n")


# DotAstGeneratorTests.scala:42-46 (allow selecting the method)
def test_dot_ast_method_selection():
    cpg = _ast_cpg()
    assert dot_ast(cpg, _method(cpg, "boop")).startswith('digraph "boop"')


# DotAstGeneratorTests.scala:48-52 (no MethodParameterOut nodes)
def test_dot_ast_no_param_out():
    cpg = _ast_cpg()
    assert "PARAM_OUT" not in dot_ast(cpg, _method(cpg, "my_func"))
    assert "METHOD_PARAMETER_OUT" not in dot_ast(cpg, _method(cpg, "my_func"))


# DotCdgGeneratorTests.scala:9-32 (if-then without block + declaration)
def test_dot_cdg_graph():
    cpg = build_cpg("""
function foo(x) {
  if(x > 8)
    var z = a(x);
}
""", "t.js")
    dot = dot_cdg(cpg, _method(cpg, "foo"))
    assert dot.startswith('digraph "foo"')
    assert "[label = <&lt;operator&gt;.greaterThan, 3<BR/>x &gt; 8> ]" in dot
    assert "[label = <&lt;operator&gt;.assignment, 4<BR/>var z = a(x)> ]" in dot
    assert "[label = <a, 4<BR/>a(x)> ]" in dot
    assert dot.endswith("}\n")
    assert len(_edges(dot)) == 2


# DotDdgGeneratorTests.scala:26-34 (dot header/footer over a loop)
def test_dot_ddg_graph():
    cpg = build_cpg("""
function foo(param1, param2) {
   var i = 0;
   while(i < 10) {
     var boo = moo("%d", i + bar(i));
     printf(boo);
     i++;
   }
   return 0;
}
""", "t.js")
    dot = dot_ddg(cpg, _method(cpg, "foo"))
    lines = dot.split("\n")
    assert lines[0].startswith('digraph "foo"')
    assert len(_edges(dot)) > 0
    assert lines[-2].startswith("}")


# DotDdgGeneratorTests.scala:37-51 (three x-labeled flow edges — same
# count as the reference's C fixture)
def test_dot_ddg_variable_edges():
    cpg = build_cpg("""
function foo() {
var x = 42;
woo(x);
baz(x);
}
""", "t.js")
    dot = dot_ddg(cpg, _method(cpg, "foo"))
    assert sum(1 for l in _edges(dot) if '"x"' in l) == 3


# DotPdgGenerator / DotCpg14Generator compose the layer graphs with
# edge-type-prefixed labels
def test_dot_pdg_and_cpg14():
    cpg = _cfg_cpg()
    m = _method(cpg, "main")
    pdg = dot_pdg(cpg, m)
    assert pdg.startswith('digraph "main"')
    assert "DDG: " in pdg or "CDG: " in pdg or 'label = "DDG' in pdg
    full = dot_cpg14(cpg, m)
    assert len(_edges(full)) >= len(_edges(pdg))
    assert full.endswith("}\n")
