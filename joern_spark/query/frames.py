"""CPGQL traversal steps as DataFrame operators (SURVEY.md §2B).

The corpus-level twin of joern_spark.query.cpgql: a traversal is a
DataFrame of (url, node_id) "cursors" plus the nodes/edges tables; every
CPGQL step becomes a join/filter co-keyed on (url, node_id), so each hop
is one distributed hash join whose traffic stays inside a url's hash
bucket.  Catalyst gives predicate pushdown/column pruning on the node
property filters for free.

Usage:
    g = CpgFrames(nodes, edges)
    sinks = g.calls().code_rlike("^read.*")
    args  = sinks.argument()
    rows  = args.df()   # (url, node_id) + node columns
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from joern_spark.dataflow.reachable import walk
from joern_spark.sparkutil import Rounds

ASSIGNMENT_NAMES = [
    "<operator>.assignment", "<operator>.assignmentOr", "<operator>.assignmentAnd",
    "<operator>.assignmentXor", "<operator>.assignmentDivision",
    "<operator>.assignmentExponentiation", "<operator>.assignmentModulo",
    "<operator>.assignmentMultiplication", "<operator>.assignmentPlus",
    "<operator>.assignmentMinus", "<operator>.assignmentShiftLeft",
    "<operator>.assignmentArithmeticShiftRight", "<operator>.assignmentLogicalShiftRight",
]


class CpgFrames:
    def __init__(self, nodes: DataFrame, edges: DataFrame):
        self.nodes = nodes
        self.edges = edges

    # --- starters ---------------------------------------------------------
    def _label(self, label: str) -> "Trav":
        return Trav(self, self.nodes.where(F.col("label") == label))

    def methods(self) -> "Trav":
        return self._label("METHOD")

    def calls(self) -> "Trav":
        return self._label("CALL")

    def identifiers(self) -> "Trav":
        return self._label("IDENTIFIER")

    def literals(self) -> "Trav":
        return self._label("LITERAL")

    def locals_(self) -> "Trav":
        return self._label("LOCAL")

    def returns(self) -> "Trav":
        return self._label("RETURN")

    def assignments(self) -> "Trav":
        return Trav(self, self.nodes.where(
            (F.col("label") == "CALL") & F.col("name").isin(ASSIGNMENT_NAMES)))


class Trav:
    """A traversal position: DataFrame with node columns (url, node_id, ...)."""

    def __init__(self, g: CpgFrames, df: DataFrame):
        self.g = g
        self._df = df

    def df(self) -> DataFrame:
        return self._df

    def cursors(self) -> DataFrame:
        return self._df.select("url", "node_id")

    # --- property filters (full-match regex semantics like the reference) ---
    def name_rlike(self, regex: str) -> "Trav":
        return Trav(self.g, self._df.where(F.col("name").rlike(f"^(?:{regex})$")))

    def code_rlike(self, regex: str) -> "Trav":
        return Trav(self.g, self._df.where(F.col("code").rlike(f"^(?:{regex})$")))

    def name_exact(self, s: str) -> "Trav":
        return Trav(self.g, self._df.where(F.col("name") == s))

    def where_col(self, cond) -> "Trav":
        return Trav(self.g, self._df.where(cond))

    # --- hops ----------------------------------------------------------------
    def _hop(self, edge_label: str, forward: bool) -> "Trav":
        e = self.g.edges.where(F.col("label") == edge_label)
        a, b = ("src", "dst") if forward else ("dst", "src")
        nxt = (self.cursors().alias("c")
               .join(e.alias("e"), [F.col("c.url") == F.col("e.url"),
                                    F.col("c.node_id") == F.col(f"e.{a}")])
               .select(F.col("c.url").alias("url"),
                       F.col(f"e.{b}").alias("node_id")))
        return Trav(self.g, nxt.join(self.g.nodes, ["url", "node_id"]))

    def ast_children(self) -> "Trav":
        return self._hop("AST", forward=True)

    def ast_parent(self) -> "Trav":
        return self._hop("AST", forward=False)

    def cfg_next(self) -> "Trav":
        return self._hop("CFG", forward=True)

    def cfg_prev(self) -> "Trav":
        return self._hop("CFG", forward=False)

    def argument(self, i: int | None = None) -> "Trav":
        t = self._hop("ARGUMENT", forward=True)
        if i is not None:
            t = Trav(self.g, t.df().where(F.col("argument_index") == i))
        return t

    def receiver(self) -> "Trav":
        return self._hop("RECEIVER", forward=True)

    def refs_to(self) -> "Trav":
        return self._hop("REF", forward=True)

    def callee(self) -> "Trav":
        return self._hop("CALL", forward=True)

    def call_in(self) -> "Trav":
        return self._hop("CALL", forward=False)

    def contains_in(self) -> "Trav":
        """owning method (via CONTAINS edges, reverse)."""
        return self._hop("CONTAINS", forward=False)

    def parameter(self) -> "Trav":
        t = self._hop("AST", forward=True)
        return Trav(self.g, t.df().where(F.col("label") == "METHOD_PARAMETER_IN"))

    def method_return(self) -> "Trav":
        t = self._hop("AST", forward=True)
        return Trav(self.g, t.df().where(F.col("label") == "METHOD_RETURN"))

    # --- transitive closures (SURVEY §2B `.ast`, `.dominates`,
    # `.controls`, ...): the reachability walk, one distributed hash join
    # per hop co-keyed on (url, node_id) while the residual is large,
    # then one grouped pass ---
    def closure(self, edge_label: str, forward: bool = True,
                max_depth: int | None = 64,
                include_self: bool = True) -> "Trav":
        """The nodes reached from the cursors along `edge_label` edges in
        at most `max_depth` hops, the cursors included; with
        `include_self=False`, those reached in at least one hop (a cursor
        on a cycle reaches itself).  `max_depth=None` sets no cap: a BFS
        over a finite per-url graph stops when its frontier empties."""
        e = self.g.edges.where(F.col("label") == edge_label)
        if forward:  # `walk` goes dst -> src
            e = e.select("url", F.col("dst").alias("src"),
                         F.col("src").alias("dst"))
        hops = sys.maxsize if max_depth is None else max_depth
        start = self
        if not include_self:
            start, hops = self._hop(edge_label, forward), hops - 1
        # a constant sink_id: the walk keeps one reached set per url
        seeds = start.cursors().select(
            "url", F.col("node_id").alias("cur"), F.lit(0).alias("sink_id"))
        with Rounds(hops) as rounds:
            reached = walk(rounds, e, seeds, hops)
            rounds.keep()
        return Trav(self.g, reached.select("url", F.col("cur").alias("node_id"))
                    .join(self.g.nodes, ["url", "node_id"]))

    def ast(self, max_depth: int = 64) -> "Trav":
        return self.closure("AST", forward=True, max_depth=max_depth)

    def dominates(self) -> "Trav":
        return self.closure("DOMINATE", forward=True, max_depth=None,
                            include_self=False)

    def dominated_by(self) -> "Trav":
        return self.closure("DOMINATE", forward=False, max_depth=None,
                            include_self=False)

    def controls(self) -> "Trav":
        return self.closure("CDG", forward=True, max_depth=None,
                            include_self=False)

    def controlled_by(self) -> "Trav":
        return self.closure("CDG", forward=False, max_depth=None,
                            include_self=False)

    # --- semi/anti (where / whereNot) -------------------------------------------
    # --- structure/hierarchy steps (mirror the in-memory layer) -------------
    def members(self) -> "Trav":
        """TYPE_DECL → MEMBER AST children."""
        t = self._hop("AST", forward=True)
        return Trav(self.g, t._df.where(F.col("label") == "MEMBER"))

    def has_modifier(self, modifier_type: str) -> "Trav":
        """keep nodes with a MODIFIER AST child of that type (semi-join —
        never materializes the modifier rows into the traversal)."""
        mods = (self.g.edges.where(F.col("label") == "AST").alias("e")
                .join(self.g.nodes.where(
                    (F.col("label") == "MODIFIER")
                    & (F.col("modifier_type") == modifier_type)).alias("m"),
                    [F.col("e.url") == F.col("m.url"),
                     F.col("e.dst") == F.col("m.node_id")])
                .select(F.col("e.url").alias("url"),
                        F.col("e.src").alias("node_id")))
        return Trav(self.g, self._df.join(mods, ["url", "node_id"],
                                          "left_semi"))

    def base_type_decl(self) -> "Trav":
        """TYPE_DECL → INHERITS_FROM → (TYPE_DECL | TYPE→REF→TYPE_DECL)."""
        sup = self._hop("INHERITS_FROM", forward=True)
        decls = sup._df.where(F.col("label") == "TYPE_DECL")
        via_type = (Trav(self.g, sup._df.where(F.col("label") == "TYPE"))
                    ._hop("REF", forward=True)
                    ._df.where(F.col("label") == "TYPE_DECL"))
        return Trav(self.g, decls.unionByName(via_type).dropDuplicates(
            ["url", "node_id"]))

    def derived_type_decl(self) -> "Trav":
        """subtypes: TYPE_DECLs inheriting from this decl or its TYPE."""
        direct = self._hop("INHERITS_FROM", forward=False)
        my_types = Trav(self.g, self._df)._hop("REF", forward=False)
        my_types = Trav(self.g, my_types._df.where(F.col("label") == "TYPE"))
        via_type = my_types._hop("INHERITS_FROM", forward=False)
        both = direct._df.unionByName(via_type._df)
        return Trav(self.g, both.where(F.col("label") == "TYPE_DECL")
                    .dropDuplicates(["url", "node_id"]))

    def where_exists(self, inner: "Trav") -> "Trav":
        return Trav(self.g, self._df.join(inner.cursors(), ["url", "node_id"], "left_semi"))

    def where_not_exists(self, inner: "Trav") -> "Trav":
        return Trav(self.g, self._df.join(inner.cursors(), ["url", "node_id"], "left_anti"))

    # --- glue ---------------------------------------------------------------------
    def dedup(self) -> "Trav":
        return Trav(self.g, self._df.dropDuplicates(["url", "node_id"]))

    def union(self, other: "Trav") -> "Trav":
        return Trav(self.g, self._df.unionByName(other.df()))

    def count_by_url(self) -> DataFrame:
        return self._df.groupBy("url").agg(F.count(F.lit(1)).alias("n"))

    # --- tagging: corpus-level tags are an append-only dimension table
    # (url, node_id, tag) unioned per query — the Spark form of
    # newTagNode/TAGGED_BY (NodeSteps.scala:98-117)
    def tag_rows(self, tag: str) -> DataFrame:
        return self.cursors().withColumn("tag", F.lit(tag))
