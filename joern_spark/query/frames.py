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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    def _hop(self, edge_label: str, forward: bool, order_by_arg: bool = False) -> "Trav":
        e = self.g.edges.where(F.col("label") == edge_label)
        cur = self.cursors().alias("c")
        if forward:
            joined = cur.join(
                e.alias("e"),
                [F.col("c.url") == F.col("e.url"), F.col("c.node_id") == F.col("e.src")])
            nxt = joined.select(F.col("c.url").alias("url"), F.col("e.dst").alias("node_id"))
        else:
            joined = cur.join(
                e.alias("e"),
                [F.col("c.url") == F.col("e.url"), F.col("c.node_id") == F.col("e.dst")])
            nxt = joined.select(F.col("c.url").alias("url"), F.col("e.src").alias("node_id"))
        out = nxt.join(self.g.nodes, ["url", "node_id"])
        return Trav(self.g, out)

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

    # --- transitive closures (bounded iterative joins; SURVEY §2B `.ast`,
    # `.dominates`, `.controls`, ...) — one distributed hash join per hop,
    # co-keyed on (url, node_id); every round is a `sparkutil.Rounds`
    # checkpoint, so plans stay one round deep ---
    def closure(self, edge_label: str, forward: bool = True,
                max_depth: int = 64, include_self: bool = True) -> "Trav":
        e = self.g.edges.where(F.col("label") == edge_label).select("url", "src", "dst")
        src_col, dst_col = ("src", "dst") if forward else ("dst", "src")
        with Rounds(max_depth) as rounds:
            # one state frame: everything reached, `new` marking the rows
            # the last round added (the frontier)
            acc, n = rounds.checkpoint(
                self.cursors().withColumn("new", F.lit(True)))
            for _ in rounds:
                step = (acc.where("new").alias("f")
                        .join(e.alias("e"),
                              [F.col("f.url") == F.col("e.url"),
                               F.col("f.node_id") == F.col(f"e.{src_col}")])
                        .select(F.col("f.url").alias("url"),
                                F.col(f"e.{dst_col}").alias("node_id"))
                        .distinct())
                new = step.subtract(acc.select("url", "node_id"))
                nxt, m = rounds.checkpoint(
                    acc.withColumn("new", F.lit(False))
                    .unionByName(new.withColumn("new", F.lit(True))))
                rounds.release(acc)
                acc = nxt
                if m == n:
                    break
                n = m
            acc = rounds.keep(acc).select("url", "node_id")
        if not include_self:
            acc = acc.subtract(self.cursors())
        return Trav(self.g, acc.join(self.g.nodes, ["url", "node_id"]))

    def ast(self, max_depth: int = 64) -> "Trav":
        return self.closure("AST", forward=True, max_depth=max_depth)

    def _pair_closure(self, edge_label: str, forward: bool,
                      max_doublings: int = 16) -> "Trav":
        """Transitive closure by pointer doubling: R ← R ∪ (R ⋈ R), so a
        depth-d chain closes in ⌈log2 d⌉ joins instead of d — dominator
        chains are linear in the statement count, which makes per-hop BFS
        O(d) shuffles; doubling makes it O(log d).

        Runs to FIXPOINT (a round that adds no pair ends the loop);
        max_doublings=16 bounds depth at 65536 as a runaway backstop and
        raises rather than silently dropping pairs."""
        e = self.g.edges.where(F.col("label") == edge_label)
        a, b = ("src", "dst") if forward else ("dst", "src")
        with Rounds(max_doublings) as rounds:
            pairs, n = rounds.checkpoint(
                e.select("url", F.col(a).alias("a"), F.col(b).alias("b")).distinct())
            for _ in rounds:
                hop = (pairs.alias("l")
                       .join(pairs.alias("r"),
                             [F.col("l.url") == F.col("r.url"),
                              F.col("l.b") == F.col("r.a")])
                       .select(F.col("l.url").alias("url"), F.col("l.a").alias("a"),
                               F.col("r.b").alias("b"))
                       .distinct())
                # the new pairs are disjoint from `pairs` (subtracted) —
                # plain union is exact
                nxt, m = rounds.checkpoint(pairs.union(hop.subtract(pairs)))
                rounds.release(pairs)
                pairs = nxt
                if m == n:
                    break
                n = m
            else:
                raise RuntimeError(
                    f"{edge_label} closure did not converge within "
                    f"{max_doublings} doublings (depth 2^{max_doublings})")
            rounds.keep(pairs)
        reach = (self.cursors().alias("c")
                 .join(pairs.alias("p"),
                       [F.col("c.url") == F.col("p.url"),
                        F.col("c.node_id") == F.col("p.a")])
                 .select(F.col("c.url").alias("url"), F.col("p.b").alias("node_id"))
                 .distinct())
        return Trav(self.g, reach.join(self.g.nodes, ["url", "node_id"]))

    def dominates(self) -> "Trav":
        return self._pair_closure("DOMINATE", forward=True)

    def dominated_by(self) -> "Trav":
        return self._pair_closure("DOMINATE", forward=False)

    def controls(self) -> "Trav":
        return self._pair_closure("CDG", forward=True)

    def controlled_by(self) -> "Trav":
        return self._pair_closure("CDG", forward=False)

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
