"""Relational pipeline operators as DataFrame compositions.

Parity map (reference ``src/silo/query_engine/operators/`` → here):

- TableScanNode + FilterNode  → :meth:`Pipeline.filter` (Catalyst pushes the
  predicate into the Parquet scan; the reference needs a dedicated
  FilterPushdownPass, ``optimizer/filter_pushdown_pass.cpp``)
- ProjectNode                 → :meth:`Pipeline.project`
- MapNode                     → :meth:`Pipeline.map` (``at`` → ``substring``,
  ``isoWeek`` → ``weekofyear``; replace-in-place on name collision,
  ``map_node.cpp:42-81``)
- AggregateNode / CountFilterNode → :meth:`Pipeline.group_by` (count over a
  bare filtered scan is Spark's metadata-fast count-star — the reference's
  CountFilterNode rewrite, ``count_filter_node.cpp:40-61``, comes built in)
- OrderByNode (+randomize)    → :meth:`Pipeline.order_by` (asc = nulls first,
  desc = nulls last — ``order_by_node.cpp:92-96``; randomize(seed) =
  deterministic ``xxhash64(pk, seed)`` hidden sort key,
  ``order_by_randomize.cpp:25-33``)
- OrderByWithLimitNode        → order_by().limit() (Catalyst fuses this into
  TakeOrderedAndProject — same top-k optimization as
  ``operators/order_by_with_limit_node.cpp:85-96``)
- FetchNode                   → :meth:`Pipeline.limit` / :meth:`Pipeline.offset`
- JoinNode                    → :meth:`Pipeline.join` (8 join types,
  ``join_node.cpp:33-53``; duplicate output columns rejected at bind time)
- UnionAllNode                → :meth:`Pipeline.union_all`
- SchemaNode                  → :meth:`Pipeline.schema_` (driver-side,
  ``schema_node.cpp:22-38``)
- BitmapAggregationNode       → :meth:`Pipeline.map` compiling
  ``at(sequence, pos)`` group keys via
  :class:`~lapis_silo_spark.expressions.sequence.SequenceAt` (targeted
  per-position aggregated side-table joins, ≤3 joins regardless of key
  count — the Spark analog of ``bitmap_aggregation_rewrite_pass.cpp``'s
  position-bitmap grouping); the grouping itself is then a plain
  shuffle-agg with map-side partial aggregation
"""

from __future__ import annotations

from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lapis_silo_spark.catalog import Database
from lapis_silo_spark.expressions.base import (
    CompileContext,
    Expression,
    QueryCompileError,
    apply_flag_joins,
)
from lapis_silo_spark.session import local_relation

JOIN_TYPES = {
    "inner": "inner",
    "left": "left",
    "right": "right",
    "full": "full",
    "leftSemi": "left_semi",
    "leftAnti": "left_anti",
    # Spark has no native right-semi/anti; swap the sides (same hash join,
    # build/probe roles exchanged — the reference does the same inside Acero).
    "rightSemi": "__swap_semi",
    "rightAnti": "__swap_anti",
}

# row number that carries an ordered input's order across the flag joins
_ROW_NUMBER = "__silo_row_number"


class MapExpr:
    """Computed-column helpers for :meth:`Pipeline.map` (``map_node.cpp:42-81``)."""

    @staticmethod
    def at(column: str, position: int) -> Column:
        """1-based char extract; past-end ⇒ ``""``; null ⇒ null (``at.cpp``)."""
        return F.substring(F.col(column), position, 1)

    @staticmethod
    def iso_week(column: str) -> Column:
        """ISO-8601 week number (``iso_week.cpp``; Spark weekofyear is ISO)."""
        return F.weekofyear(F.col(column))


class Pipeline:
    """A query pipeline over one table (or an intermediate result).

    Construction: ``Pipeline.scan(db, "default")`` ≙ ``default`` table ref in
    SaneQL (``documentation/query_documentation.md:17-22``).
    """

    def __init__(self, df: DataFrame, database: Database | None = None,
                 table_name: str = "default", pk: str | None = None,
                 ordering: list[dict] | None = None,
                 full_table: bool = False):
        self._df = df
        # True while the row SET is provably the whole table (scan, then only
        # row-set-preserving ops) — domain aggregates skip their filtered-pk
        # semi-joins in that case, the Spark analog of the reference's
        # full-bitmap short-circuit.
        self.full_table = full_table
        self.database = database
        self.table_name = table_name
        self.pk = pk or (database.primary_key(table_name) if database else "primary_key")
        # result-ordering metadata: [{field, order, nullPlacement}] — the
        # reference reports the root node's Arrow ordering in the
        # ``result-ordering`` response header (``query_plan.cpp:16-29``).
        self.ordering: list[dict] = ordering or []
        # False when the plan depends on when it was bound (set by
        # saneql.bind_query); the server never reuses such a plan
        self.reproducible = True

    @classmethod
    def scan(cls, database: Database, table_name: str = "default") -> "Pipeline":
        return cls(database.table(table_name), database, table_name,
                   full_table=True)

    @property
    def df(self) -> DataFrame:
        return self._df

    def _with(self, df: DataFrame, ordering: list[dict] | None = None,
              keeps_rows: bool = False) -> "Pipeline":
        """Ordering propagates through row-preserving ops (filter, project,
        map, limit, offset) and is cleared by order-destroying ones
        (groupBy, join, unionAll), matching Acero's ordering propagation.
        ``keeps_rows`` marks ops that provably keep the full row set."""
        return Pipeline(
            df, self.database, self.table_name, self.pk,
            ordering=self.ordering if ordering is None else ordering,
            full_table=self.full_table and keeps_rows,
        )

    def _context(self) -> CompileContext:
        return CompileContext(
            database=self.database, table_name=self.table_name, pk=self.pk
        )

    def _flag_joined(self, ctx: CompileContext) -> tuple[DataFrame, list[str]]:
        """Attach the flags ``ctx`` collected. The joins reorder rows (and
        Catalyst drops a sort beneath a join), so ordered rows are numbered
        before them and sorted back by that number after them."""
        df = self._df
        renumber = bool(self.ordering) and bool(ctx.flag_joins or ctx.seq_flags)
        if renumber:
            df = df.withColumn(_ROW_NUMBER, F.monotonically_increasing_id())
        df, flags = apply_flag_joins(df, ctx)
        if renumber:
            df = df.orderBy(_ROW_NUMBER).drop(_ROW_NUMBER)
        return df, flags

    # -- operators --------------------------------------------------------
    def filter(self, expr: Expression) -> "Pipeline":
        ctx = self._context()
        cond = expr.compile(ctx)
        df, flags = self._flag_joined(ctx)
        return self._with(df.filter(cond).drop(*flags))

    def where(self, cond: Column) -> "Pipeline":
        """Raw Column filter (internal / power-user path)."""
        return self._with(self._df.filter(cond))

    def rebalance(self, target_bytes: int | None = None) -> "Pipeline":
        """Fan a narrow input across the cluster before expensive per-row
        work. Single-row-group Parquet files scan as ONE task (Parquet splits
        only at row-group boundaries); a cheap exchange ahead of a heavy map
        stage trades one shuffle of the input for full-width parallelism.
        No-op when the input already has enough partitions."""
        n = self._df.sparkSession.sparkContext.defaultParallelism
        try:
            # file-count metadata is free; df.rdd.getNumPartitions() would
            # force a full plan->RDD conversion just to ask
            files = self._df.inputFiles()
        except Exception:
            files = []
        # [] means non-file-backed (in-memory or derived) — provenance
        # unknown, so do NOT force an exchange on it
        narrow = bool(files) and len(files) < max(2, n // 2)
        if not narrow:
            return self
        # scale-adaptive width (round 11): one partition per
        # REBALANCE_TARGET_BYTES of input, capped at defaultParallelism —
        # a tiny scan must not become 32 tiny tasks whose per-task
        # (especially Python-boundary) overhead dwarfs the work
        from lapis_silo_spark.session import rebalance_width

        return self._with(
            self._df.repartition(rebalance_width(files, n, target_bytes)),
            keeps_rows=True,
        )

    def project(self, columns: Sequence[str]) -> "Pipeline":
        missing = [c for c in columns if c not in self._df.columns]
        if missing:
            raise QueryCompileError(f"project: unknown column(s) {missing}")
        return self._with(self._df.select(*columns), keeps_rows=True)

    def map(self, exprs: Mapping[str, Any]) -> "Pipeline":
        """Computed columns; name collision replaces in place (``map_node.cpp``).

        One ``withColumns`` call: a single analyzer pass however many
        entries, and every expression is evaluated against the node's INPUT
        row (the reference's MapNode semantics — computed columns never see
        each other).

        Values may be Columns, boolean :class:`Expression` predicates, or
        index-backed scalar values exposing ``compile_value(ctx)`` (e.g.
        :class:`SequenceAt` — ``at()`` on a sequence column). The latter two
        compile through one shared context so all their side-table lookups
        batch into the minimal set of aggregated flag joins (same batching
        as :meth:`filter`). A predicate stored as a column is a definite
        boolean — bitmap semantics: a row matches or it doesn't — so it is
        wrapped in ``coalesce(_, False)``; ``compile_value`` scalars stay
        nullable (null sequence ⇒ null key,
        ``bitmap_aggregation_node.cpp:75-81``)."""
        ctx = self._context()
        columns: dict[str, Column] = {}
        for out_name, value in exprs.items():
            if isinstance(value, Expression):
                columns[out_name] = F.coalesce(value.compile(ctx), F.lit(False))
            # NB: Column.__getattr__ is field access, so hasattr alone is
            # always true for Columns — exclude them first
            elif not isinstance(value, Column) and hasattr(value, "compile_value"):
                columns[out_name] = value.compile_value(ctx)
            else:
                columns[out_name] = value
        df, flags = self._flag_joined(ctx)
        return self._with(df.withColumns(columns).drop(*flags), keeps_rows=True)

    def group_by(
        self,
        aggregates: Mapping[str, Column] | None = None,
        keys: Sequence[str] = (),
    ) -> "Pipeline":
        """``groupBy({name := count()}, {keys})`` — ``aggregate_node.cpp``.

        Null group keys form their own group (Spark matches the reference
        here natively). The reference supports only ``count()``
        (``aggregate_node.cpp:44-47``); we accept any aggregate Column — a
        deliberate superset.
        """
        aggs = dict(aggregates or {"count": F.count(F.lit(1))})
        agg_cols = [c.alias(n) for n, c in aggs.items()]
        if keys:
            df = self._df.groupBy(*keys).agg(*agg_cols)
        else:
            df = self._df.agg(*agg_cols)
        return self._with(df, ordering=[])

    def order_by(
        self,
        keys: Sequence[str | tuple[str, bool]],
        randomize_seed: int | None = None,
    ) -> "Pipeline":
        """``orderBy({f, desc(g)})`` — ascending ⇒ nulls first, descending ⇒
        nulls last (``order_by_node.cpp:92-96``, Spark's default, asserted in
        tests). ``randomize_seed`` appends the reference's hidden
        deterministic hash sort key (``order_by_randomize.cpp:25-33``).
        """
        sort_cols: list[Column] = []
        ordering: list[dict] = []
        for k in keys:
            if isinstance(k, tuple):
                name, ascending = k
            else:
                name, ascending = k, True
            c = F.col(name)
            sort_cols.append(c.asc_nulls_first() if ascending else c.desc_nulls_last())
            ordering.append({
                "field": name,
                "order": "ascending" if ascending else "descending",
                "nullPlacement": "atStart" if ascending else "atEnd",
            })
        if randomize_seed is not None:
            sort_cols.append(
                F.xxhash64(F.col(self.pk), F.lit(randomize_seed)).asc()
            )
        return self._with(self._df.orderBy(*sort_cols), ordering=ordering,
                          keeps_rows=True)

    def limit(self, n: int) -> "Pipeline":
        if n < 0:
            raise QueryCompileError("limit must be >= 0")
        return self._with(self._df.limit(n))

    def offset(self, n: int) -> "Pipeline":
        if n < 0:
            raise QueryCompileError("offset must be >= 0")
        return self._with(self._df.offset(n))

    def join(
        self,
        other: "Pipeline | DataFrame",
        on: Sequence[tuple[str, str]],
        how: str = "inner",
    ) -> "Pipeline":
        """Equi-join, positional key pairs, 8 types (``join_node.cpp:33-53``).

        Duplicate output column names are rejected at bind time
        (``join_node.cpp:58-66``). Key columns from both sides are retained
        (they may differ under outer joins), so key names must also be
        distinct — same contract as the reference.
        """
        if how not in JOIN_TYPES:
            raise QueryCompileError(
                f"unknown join type {how!r}; expected one of {sorted(JOIN_TYPES)}"
            )
        right_df = other.df if isinstance(other, Pipeline) else other
        left_df = self._df

        spark_how = JOIN_TYPES[how]
        if spark_how in ("__swap_semi", "__swap_anti"):
            swapped = "left_semi" if spark_how == "__swap_semi" else "left_anti"
            cond = None
            for left_key, right_key in on:
                pair = right_df[right_key] == left_df[left_key]
                cond = pair if cond is None else (cond & pair)
            return Pipeline(
                right_df.join(left_df, on=cond, how=swapped),
                self.database, self.table_name, self.pk, ordering=[],
            )

        keeps_both = spark_how in ("inner", "left", "right", "full")
        if keeps_both:
            dupes = set(left_df.columns) & set(right_df.columns)
            if dupes:
                raise QueryCompileError(
                    f"join would produce duplicate output column(s): {sorted(dupes)}"
                )
        cond = None
        for left_key, right_key in on:
            pair = left_df[left_key] == right_df[right_key]
            cond = pair if cond is None else (cond & pair)
        if cond is None:
            raise QueryCompileError("join requires at least one key pair")
        return self._with(left_df.join(right_df, on=cond, how=spark_how),
                          ordering=[])

    def union_all(self, other: "Pipeline | DataFrame") -> "Pipeline":
        """``unionAll`` — schema-identical concat, duplicates kept
        (``union_all_node.cpp:17-26``)."""
        right = other.df if isinstance(other, Pipeline) else other
        if [f.name for f in self._df.schema.fields] != [
            f.name for f in right.schema.fields
        ]:
            raise QueryCompileError("unionAll requires identical schemas")
        return self._with(self._df.unionAll(right), ordering=[])

    def schema_(self) -> "Pipeline":
        """``schema()`` — one row per output field, no data read
        (``schema_node.cpp:22-38``)."""
        spark = self._df.sparkSession
        rows = [(f.name, f.dataType.simpleString()) for f in self._df.schema.fields]
        return self._with(
            local_relation(spark, rows, "fieldName string, type string"),
            ordering=[],
        )

    # -- sinks ------------------------------------------------------------
    def to_ndjson(self) -> list[str]:
        """NDJSON sink (``exec_node/ndjson_sink.cpp``) — collect as JSON lines.

        Null fields are EMITTED (``{"division": null}``), matching the
        reference's output rows; Spark's ``toJSON`` would silently drop them.
        """
        out = self._df.select(
            F.to_json(
                F.struct(*self._df.columns), {"ignoreNullFields": "false"}
            ).alias("j")
        )
        return [r["j"] for r in out.collect()]

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)
