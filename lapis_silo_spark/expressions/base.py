"""Expression base classes and the compile context.

Reference parity notes:

- ``AmbiguityMode`` mirrors ``silo::AmbiguityMode`` (UPPER_BOUND under
  ``maybe()``, LOWER_BOUND under ``exact()``, NONE default) —
  ``/root/reference/src/silo/query_engine/scalar_expressions/scalar_expression.h:24``.
- The reference compiles expressions to bitmap filter operators that return the
  set of surviving row ids. In Spark the equivalent of a "bitmap" is a keyed
  DataFrame of surviving primary keys; predicates that can be expressed as
  in-row boolean columns compile directly, and predicates that need an index
  lookup (sequence symbol tests, lineage membership) compile to a boolean
  *flag column* produced by a left join against a normalized side table. The
  :class:`CompileContext` accumulates those pending flag joins; the Filter
  operator applies them before evaluating the boolean expression and drops the
  flags afterwards. This keeps arbitrary boolean algebra (And/Or/Not/NOf)
  working uniformly over both kinds of predicate, exactly like the reference's
  Intersection/Union/Complement/Threshold operators do over bitmaps
  (``src/silo/query_engine/filter/operators/``).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame

if TYPE_CHECKING:
    from lapis_silo_spark.catalog import Database


class QueryCompileError(ValueError):
    """Raised for queries the engine rejects at bind/compile time.

    Parity with the reference's bad-request errors (the 19 invalidQueries
    golden cases assert on these).
    """


class AmbiguityMode(enum.Enum):
    NONE = "none"
    UPPER_BOUND = "upper_bound"  # under maybe(): ambiguity symbols may match
    LOWER_BOUND = "lower_bound"  # under exact(): only certain matches


@dataclass
class FlagJoin:
    """A pending left join producing one boolean flag column.

    ``keys`` is a DataFrame with exactly the join key column(s) plus nothing
    else; after ``target.join(keys.withColumn(flag, lit(True)), on=key_cols,
    how='left')`` the flag is true iff the row's key appeared in ``keys``.
    At scale this is a hash join on the table's primary key — with the main
    table and side tables bucketed on ``pk`` it is co-located (no shuffle of
    the big side).
    """

    flag_name: str
    keys: DataFrame
    key_cols: list[str]


@dataclass(frozen=True)
class SeqFlagRequest:
    """A structured sequence-index flag: enough information for the compile
    boundary to BATCH all requests against one side table into a single
    pk join (the Spark form of SURVEY §7.3's "collapse repeated
    self-semi-joins on seq_mutations" optimization).

    kinds: ``mutation`` (recorded mutation at ``pos``, optionally restricted
    to ``symbols``), ``covered`` (pos inside a coverage range), ``missing``
    (pos in the interior-missing set), ``has_seq`` (row stores this
    sequence), ``symbol_at`` (STRING-valued: the recorded mutation symbol at
    ``pos``, null when the row stores no mutation there — the value half of
    the reference's BitmapAggregationNode per-position partition,
    ``operators/bitmap_aggregation_node.cpp:51-129``).
    """

    kind: str
    seq_name: str
    pos: int | None = None
    symbols: tuple[str, ...] | None = None
    exclude_symbols: tuple[str, ...] | None = None


@dataclass
class CompileContext:
    """Everything an expression needs to compile itself.

    ``database`` grants access to the normalized side tables
    (``seq_mutations``/``seq_coverage``/``seq_missing``/``seq_insertions``/
    ``lineage_closure``/``phylo_nodes`` — SURVEY.md §7.1). ``pk`` is the
    target table's primary-key column.
    """

    database: "Database | None" = None
    table_name: str = "default"
    pk: str = "primary_key"
    mode: AmbiguityMode = AmbiguityMode.NONE
    flag_joins: list[FlagJoin] = field(default_factory=list)
    seq_flags: dict[SeqFlagRequest, str] = field(default_factory=dict)
    _flag_counter: int = 0

    def _next_name(self) -> str:
        self._flag_counter += 1
        return f"__silo_flag_{self._flag_counter}"

    def new_flag(self, keys: DataFrame, key_cols: list[str] | None = None) -> str:
        name = self._next_name()
        self.flag_joins.append(
            FlagJoin(flag_name=name, keys=keys, key_cols=key_cols or [self.pk])
        )
        return name

    def new_seq_flag(self, request: SeqFlagRequest) -> str:
        """Register (or reuse) a structured sequence flag. Identical requests
        share one flag column — e.g. every predicate on a sequence shares the
        same ``has_seq`` flag — and all requests against one side table
        compile into ONE pk join in :func:`apply_flag_joins`."""
        if request not in self.seq_flags:
            self.seq_flags[request] = self._next_name()
        return self.seq_flags[request]



class Expression:
    """Base of the scalar-expression tree.

    ``compile(ctx)`` returns a boolean ``Column`` whose three-valued-logic
    nulls must already be resolved: like the reference's bitmap semantics, a
    filter either keeps or drops a row — SQL NULL never leaks out of
    ``compile``. Concrete nodes wrap nullable tests in ``coalesce(_, False)``
    where needed.
    """

    def compile(self, ctx: CompileContext) -> Column:  # pragma: no cover - abstract
        raise NotImplementedError

    # Boolean-algebra sugar
    def __and__(self, other: "Expression") -> "Expression":
        from lapis_silo_spark.expressions.core import And

        return And(self, other)

    def __or__(self, other: "Expression") -> "Expression":
        from lapis_silo_spark.expressions.core import Or

        return Or(self, other)

    def __invert__(self) -> "Expression":
        from lapis_silo_spark.expressions.core import Negation

        return Negation(self)


def _batched_seq_flag_frames(ctx: CompileContext):
    """Compile all structured sequence-flag requests into one keys-DataFrame
    per (side table, seq_name): a single pass over the side table computes
    every requested value. Returns ``(rows, one_per_pk)`` pairs: ``rows``
    holds the pk and one value column per flag, and ``one_per_pk`` says
    whether it already holds at most one row per pk.

    That is free when the group reads at most one side row per pk, and then
    the frame is a plain projection:

    - a coverage group: the store holds one coverage range per
      (pk, seq_name);
    - a mutations or missing group filtered to exactly one position: the
      store holds at most one row per (pk, seq_name, pos).

    Both are store invariants that ingest, append and local-reference
    adaptation keep (pinned by ``tests/test_seq_flag_frames.py``). A group
    over several positions (``nOf``, mutation profiles, a multi-position
    ``at()``) is aggregated per pk with conditional MAX by
    :func:`apply_flag_joins` — the batching that stops one join per
    position, SURVEY §7.3."""
    from pyspark.sql import functions as F

    store = ctx.database.sequence_store(ctx.table_name)
    by_group: dict[tuple[str, str], list[tuple[SeqFlagRequest, str]]] = {}
    for req, flag in ctx.seq_flags.items():
        table = "coverage" if req.kind in ("covered", "has_seq") else (
            "mutations" if req.kind in ("mutation", "symbol_at") else "missing"
        )
        by_group.setdefault((table, req.seq_name), []).append((req, flag))

    frames = []
    for (table, seq_name), entries in by_group.items():
        side = getattr(store, table).filter(F.col("seq_name") == seq_name)
        positions = sorted({
            req.pos for req, _ in entries
            if req.pos is not None
            and req.kind in ("mutation", "missing", "symbol_at")
        })
        if positions and table in ("mutations", "missing"):
            side = side.filter(F.col("pos").isin(positions))
        values: dict[str, Column] = {}
        for req, flag in entries:
            if req.kind == "has_seq":
                cond = F.lit(True)
            elif req.kind == "covered":
                cond = (F.col("cov_start") <= F.lit(req.pos)) & (
                    F.col("cov_end") > F.lit(req.pos)
                )
            elif req.kind == "missing":
                cond = F.col("pos") == F.lit(req.pos)
            elif req.kind == "symbol_at":
                # string-valued: the stored mutation symbol at pos
                values[flag] = F.when(
                    F.col("pos") == F.lit(req.pos), F.col("symbol")
                )
                continue
            else:  # mutation
                cond = F.col("pos") == F.lit(req.pos)
                if req.symbols is not None:
                    cond = cond & F.col("symbol").isin(list(req.symbols))
                if req.exclude_symbols:
                    cond = cond & ~F.col("symbol").isin(
                        list(req.exclude_symbols)
                    )
            values[flag] = F.when(cond, F.lit(True))
        rows = side.select(
            F.col("pk").alias(ctx.pk),
            *[v.alias(f) for f, v in values.items()],
        )
        frames.append((rows, table == "coverage" or len(positions) == 1))
    return frames


def apply_flag_joins(df: DataFrame, ctx: CompileContext) -> tuple[DataFrame, list[str]]:
    """Left-join every pending flag onto ``df``; return (df, flag_cols).

    On a database of multi-partition datasets every flag frame joins on its
    own, and the planner broadcasts a small one. On a single-partition
    database (:attr:`Database.single_partition`) every pk-keyed frame folds
    into one, and that one joins by a shuffled hash join: both inputs are
    one partition, so the join needs no Exchange and no BroadcastExchange
    and the query stays one Spark job. Only one such join per query keeps
    that shape, because the planner keeps a one-partition join input
    unshuffled only while its estimated size stays within
    ``spark.sql.maxSinglePartitionBytes``, and it estimates a join's output
    as the product of its inputs' sizes: a second flag join would shuffle
    both of its sides."""
    from pyspark.sql import functions as F

    single = ctx.database is not None and ctx.database.single_partition
    by_pk: list[tuple[DataFrame, bool]] = []
    if ctx.seq_flags:
        by_pk.extend(_batched_seq_flag_frames(ctx))
        ctx.seq_flags = {}
    other: list[FlagJoin] = []
    for fj in ctx.flag_joins:
        if fj.key_cols == [ctx.pk]:
            by_pk.append((fj.keys.select(
                ctx.pk, F.lit(True).alias(fj.flag_name)
            ), False))
        else:
            other.append(fj)
    ctx.flag_joins = []

    if single and by_pk:
        rows = by_pk[0][0]
        for more, _ in by_pk[1:]:
            rows = rows.unionByName(more, allowMissingColumns=True)
        by_pk = [(rows.coalesce(1), len(by_pk) == 1 and by_pk[0][1])]

    flags: list[str] = []
    for rows, one_per_pk in by_pk:
        flag_cols = [c for c in rows.columns if c != ctx.pk]
        frame = rows if one_per_pk else rows.groupBy(ctx.pk).agg(
            *[F.max(c).alias(c) for c in flag_cols]
        )
        df = df.join(frame.hint("shuffle_hash") if single else frame,
                     on=ctx.pk, how="left")
        flags.extend(flag_cols)
    for fj in other:
        keyed = fj.keys.dropDuplicates(fj.key_cols).withColumn(
            fj.flag_name, F.lit(True)
        )
        df = df.join(keyed, on=fj.key_cols, how="left")
        flags.append(fj.flag_name)
    return df, flags
