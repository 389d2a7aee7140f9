"""Hierarchy predicates: lineage sub-clade membership and phylo descendants.

The reference precomputes, per lineage column, a bitmap per (value, mode)
covering the value's whole sub-clade (``storage/column/lineage_index.h:14-46``);
our equivalent precompute is the ``lineage_closure(ancestor, descendant,
mode)`` table built at ingest (:mod:`lapis_silo_spark.sources.lineage`).
The closure is bounded by the lineage definition (~10^4 rows), not by the
data, so the catalog collects it once into a driver-side map and the filter
is an ``IN`` set of the clade's lineage names on the column: no join, no
shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from lapis_silo_spark.expressions.base import (
    CompileContext,
    Expression,
    QueryCompileError,
)

RECOMBINANT_MODES = {"doNotFollow", "alwaysFollow", "followIfFullyContainedInClade"}


class LineageFilter(Expression):
    """``lineage(col, value, includeSublineages, recombinantFollowingMode)`` —
    ``scalar_expressions/lineage_filter.cpp:44-68``."""

    def __init__(
        self,
        column: str,
        value: str | None,
        include_sublineages: bool = False,
        recombinant_mode: str = "doNotFollow",
    ):
        if recombinant_mode not in RECOMBINANT_MODES:
            raise QueryCompileError(
                f"unknown recombinantFollowingMode {recombinant_mode!r}; "
                f"expected one of {sorted(RECOMBINANT_MODES)}"
            )
        self.column = column
        self.value = value
        self.include_sublineages = include_sublineages
        self.recombinant_mode = recombinant_mode

    def compile(self, ctx: CompileContext) -> Column:
        if self.value is None:
            return F.col(self.column).isNull()
        if ctx.database is None or self.column not in ctx.database.lineage_closures:
            raise QueryCompileError(
                f"column {self.column!r} has no lineage definition"
            )
        clades = ctx.database.lineage_clades(self.column)
        mode = self.recombinant_mode
        clade = clades.get((self.value, mode), frozenset())
        if self.include_sublineages:
            members = clade
        else:
            # an alias has its canonical lineage's clade, and only that
            # lineage heads the same clade (the definition is acyclic);
            # a name outside the definition is compared as given
            members = {next(
                (d for d in clade if clades.get((d, mode)) == clade),
                self.value,
            )}
        if not members:
            return F.lit(False)
        return F.coalesce(
            F.col(self.column).isin(sorted(members)), F.lit(False)
        )


class PhyloDescendantOf(Expression):
    """``phyloDescendantOf(col, node)`` — membership of the row's tree-node id
    in the subtree under ``node`` (``scalar_expressions/phylo_child_filter.cpp``).

    Uses the Euler-tour interval precomputed in ``phylo_nodes`` instead of a
    tree walk; the descendant-name set is broadcast-joined against the column.
    """

    def __init__(self, column: str, node: str):
        self.column = column
        self.node = node

    def compile(self, ctx: CompileContext) -> Column:
        if ctx.database is None or self.column not in ctx.database.phylo_nodes:
            raise QueryCompileError(f"column {self.column!r} has no phylogenetic tree")
        descendants = ctx.database.phylo_descendant_names(
            self.column, self.node
        ).select(F.col("node").alias(self.column))
        flag = ctx.new_flag(descendants, key_cols=[self.column])
        return F.coalesce(F.col(flag), F.lit(False))
