"""SaneQL AST → Pipeline binder (reference: ``saneql/ast_to_query.cpp``).

Two registries mirror the reference's:

- **pipeline functions** (``FunctionRegistry``, ``ast_to_query.cpp:1697-1758``):
  filter, schema, groupBy, project, map, mutations, aminoAcidMutations,
  insertions, aminoAcidInsertions, randomize, limit, offset, orderBy,
  mostRecentCommonAncestor, phyloSubtree, unionAll, join — each binds to a
  :class:`~lapis_silo_spark.operators.relational.Pipeline` method or a domain
  aggregate.
- **scalar functions** (``ScalarFunctionRegistry``, ``:1764-1816``): between,
  in, isNull, isNotNull, lineage, phyloDescendantOf, like, at, isoWeek,
  nucleotideEquals, aminoAcidEquals, hasMutation, hasAAMutation,
  insertionContains, aminoAcidInsertionContains, exact, maybe, nOf,
  nucleotideMutationProfile, aminoAcidMutationProfile — each builds an
  :class:`~lapis_silo_spark.expressions.base.Expression` (boolean predicates)
  or a value ``Column`` (``at``/``isoWeek``).

The comparison-operator partiality is reproduced deliberately (int supports
``<=``/``>=`` only, float ``<``/``>=`` only, date ``<=``/``>=`` only — and
float between's exclusive upper bound), so the reference's invalid-query
corpus errors identically. See ``ast_to_query.cpp:139-201``.
"""

from __future__ import annotations

import datetime as dt
import time
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as SparkT

from lapis_silo_spark.alphabets import AA_CODES_FOR, NUC_CODES_FOR
from lapis_silo_spark.catalog import Database
from lapis_silo_spark.expressions import (
    And,
    Between,
    Equals,
    Exact,
    Expression,
    HasMutation,
    InsertionContains,
    InSet,
    IsNull,
    LineageFilter,
    Maybe,
    Negation,
    NOf,
    Or,
    PhyloDescendantOf,
    SymbolEquals,
)
from lapis_silo_spark.expressions.base import QueryCompileError
from lapis_silo_spark.expressions.core import Like, TrueExpr
from lapis_silo_spark.operators.mutations import (
    insertions_aggregate,
    mutations_aggregate,
)
from lapis_silo_spark.operators.phylo import (
    most_recent_common_ancestor,
    phylo_subtree,
)
from lapis_silo_spark.operators.relational import MapExpr, Pipeline
from lapis_silo_spark.saneql import ast


# ---------------------------------------------------------------------------
# Argument binding (reference bindArguments)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Param:
    name: str
    required: bool = True
    positional: bool = True


def bind_arguments(
    fn_name: str,
    params: list[Param],
    positional: list[ast.Node],
    named: list[tuple[str, ast.Node]],
) -> dict[str, ast.Node]:
    bound: dict[str, ast.Node] = {}
    pos_params = [p for p in params if p.positional]
    if len(positional) > len(pos_params):
        raise QueryCompileError(
            f"{fn_name}() takes at most {len(pos_params)} positional "
            f"argument(s), got {len(positional)}"
        )
    for param, arg in zip(pos_params, positional):
        bound[param.name] = arg
    by_name = {p.name: p for p in params}
    for name, value in named:
        if name not in by_name:
            raise QueryCompileError(
                f"{fn_name}() got an unknown argument '{name}'"
            )
        if name in bound:
            raise QueryCompileError(
                f"{fn_name}() got multiple values for argument '{name}'"
            )
        bound[name] = value
    for param in params:
        if param.required and param.name not in bound:
            raise QueryCompileError(
                f"{fn_name}() is missing the required argument '{param.name}'"
            )
    return bound


# ---------------------------------------------------------------------------
# Literal extraction helpers
# ---------------------------------------------------------------------------

def _ident(node: ast.Node, what: str) -> str:
    if not isinstance(node, ast.Identifier):
        raise QueryCompileError(
            f"{what} must be an identifier, got '{ast.describe(node)}' "
            f"at {node.loc}"
        )
    return node.name


def _string(node: ast.Node, what: str) -> str:
    if not isinstance(node, ast.StringLiteral):
        raise QueryCompileError(
            f"{what} must be a string literal, got '{ast.describe(node)}' "
            f"at {node.loc}"
        )
    return node.value


def _int(node: ast.Node, what: str) -> int:
    if not isinstance(node, ast.IntLiteral):
        raise QueryCompileError(
            f"{what} must be an integer literal, got '{ast.describe(node)}' "
            f"at {node.loc}"
        )
    return node.value


def _uint(node: ast.Node, what: str) -> int:
    val = _int(node, what)
    if val < 0:
        raise QueryCompileError(f"{what} must be a non-negative integer")
    return val


def _bool(node: ast.Node, what: str) -> bool:
    if not isinstance(node, ast.BoolLiteral):
        raise QueryCompileError(
            f"{what} must be a boolean literal, got '{ast.describe(node)}' "
            f"at {node.loc}"
        )
    return node.value


def _number(node: ast.Node, what: str) -> float:
    if isinstance(node, (ast.IntLiteral, ast.FloatLiteral)):
        return float(node.value)
    raise QueryCompileError(
        f"{what} must be a numeric literal, got '{ast.describe(node)}' "
        f"at {node.loc}"
    )


def _set_of_identifiers(node: ast.Node, what: str) -> list[str]:
    if isinstance(node, ast.Identifier):
        return [node.name]
    if not isinstance(node, ast.SetLiteral):
        raise QueryCompileError(
            f"{what} must be a set of identifiers at {node.loc}"
        )
    return [_ident(e, what) for e in node.elements]


def _is_date_expr(node: ast.Node) -> bool:
    return isinstance(node, ast.TypeCast) and node.target_type == "date"


def _date_value(node: ast.Node) -> dt.date | None:
    """``'YYYY-MM-DD'::date`` → date; ``null`` (optionally cast) → None."""
    if isinstance(node, ast.NullLiteral):
        return None
    if isinstance(node, ast.TypeCast) and node.target_type == "date":
        inner = node.operand
        if isinstance(inner, ast.NullLiteral):
            return None
        text = _string(inner, "date cast operand")
        try:
            return dt.date.fromisoformat(text)
        except ValueError as exc:
            raise QueryCompileError(f"invalid date literal '{text}': {exc}")
    raise QueryCompileError(
        f"expected a date expression ('YYYY-MM-DD'::date) at {node.loc}"
    )


# ---------------------------------------------------------------------------
# Binder
# ---------------------------------------------------------------------------

class Binder:
    """Binds a parsed SaneQL AST against a :class:`Database`."""

    def __init__(self, database: Database):
        self.db = database
        # set when a handler reads the wall clock (unseeded randomize), so
        # the same text binds to a different plan on every call
        self.reads_clock = False

    # -- top level ---------------------------------------------------------
    def bind(self, node: ast.Node) -> Pipeline:
        if isinstance(node, ast.Identifier):
            return self._scan(node)
        if not isinstance(node, ast.FunctionCall):
            raise QueryCompileError(
                f"expected table reference or function call at {node.loc}"
            )
        entry = PIPELINE_FUNCTIONS.get(node.function_name)
        if entry is None:
            raise QueryCompileError(
                f"unknown function '{node.function_name}' at {node.loc}"
            )
        params, handler = entry
        bound = bind_arguments(node.function_name, params, node.positional,
                               node.named)
        return handler(self, node.function_name, bound)

    def _scan(self, node: ast.Identifier) -> Pipeline:
        if node.name not in self.db.tables:
            raise QueryCompileError(
                f"table '{node.name}' not found in database"
            )
        return Pipeline.scan(self.db, node.name)

    # -- filter conversion (reference convertToFilter) ---------------------
    def to_filter(self, node: ast.Node, pipeline: Pipeline) -> Expression:
        if isinstance(node, ast.BinaryExpr):
            return self._binary_filter(node, pipeline)
        if isinstance(node, ast.UnaryNotExpr):
            return Negation(self.to_filter(node.operand, pipeline))
        if isinstance(node, ast.BoolLiteral):
            from lapis_silo_spark.expressions.core import FalseExpr

            return TrueExpr() if node.value else FalseExpr()
        if isinstance(node, ast.FunctionCall):
            result = self.scalar_call(node, pipeline)
            if not isinstance(result, Expression):
                raise QueryCompileError(
                    f"scalar function '{node.function_name}' produces a value "
                    f"and cannot be used as a filter predicate at {node.loc}"
                )
            return result
        raise QueryCompileError(
            f"unsupported expression type in filter context at {node.loc}"
        )

    def _resolve_column(self, name: str, pipeline: Pipeline) -> str:
        if name not in pipeline.df.columns:
            raise QueryCompileError(
                f"The database does not contain the column '{name}'"
            )
        return name

    def _binary_filter(self, node: ast.BinaryExpr, pipeline: Pipeline) -> Expression:
        op = node.op
        if op == "&&":
            return And(self.to_filter(node.left, pipeline),
                       self.to_filter(node.right, pipeline))
        if op == "||":
            return Or(self.to_filter(node.left, pipeline),
                      self.to_filter(node.right, pipeline))
        if op in ("=", "!="):
            if isinstance(node.left, ast.Identifier):
                column, value_expr = node.left.name, node.right
            elif isinstance(node.right, ast.Identifier):
                column, value_expr = node.right.name, node.left
            else:
                kind = "equality" if op == "=" else "not-equals"
                raise QueryCompileError(
                    f"{kind} comparison requires an identifier on one side "
                    f"at {node.loc}"
                )
            eq = self._equals(column, value_expr, pipeline)
            return eq if op == "=" else Negation(eq)
        # < <= > >= : identifier must be on the left (reference rule)
        if not isinstance(node.left, ast.Identifier):
            raise QueryCompileError(
                f"comparison requires an identifier on the left side at "
                f"{node.loc}"
            )
        return self._comparison(node.left.name, op, node.right, pipeline)

    def _equals(self, column: str, value_expr: ast.Node,
                pipeline: Pipeline) -> Expression:
        if isinstance(value_expr, ast.NullLiteral):
            # `col = null` is the null test (ast_to_query.cpp:95-96); the
            # `<>` caller negates it into is-not-null
            self._resolve_column(column, pipeline)
            return IsNull(column)
        if isinstance(value_expr, ast.StringLiteral):
            value: Any = value_expr.value
        elif isinstance(value_expr, ast.IntLiteral):
            value = value_expr.value
        elif isinstance(value_expr, ast.FloatLiteral):
            value = value_expr.value
        elif isinstance(value_expr, ast.BoolLiteral):
            value = value_expr.value
        elif _is_date_expr(value_expr):
            value = _date_value(value_expr)
        else:
            raise QueryCompileError(
                f"unsupported value type in equality at {value_expr.loc}"
            )
        self._resolve_column(column, pipeline)
        return Equals(column, value)

    def _comparison(self, column: str, op: str, value_expr: ast.Node,
                    pipeline: Pipeline) -> Expression:
        self._resolve_column(column, pipeline)
        if _is_date_expr(value_expr) or isinstance(value_expr, ast.NullLiteral):
            value = _date_value(value_expr)
            if op == "<=":
                return Between(column, None, value)
            if op == ">=":
                return Between(column, value, None)
            raise QueryCompileError(
                f"{'less than' if op == '<' else 'greater than'} is not "
                "implemented for date expressions"
            )
        if isinstance(value_expr, ast.FloatLiteral):
            value = value_expr.value
            if op == "<":
                return Between(column, None, value, float_to_exclusive=True)
            if op == ">=":
                return Between(column, value, None)
            raise QueryCompileError(
                f"{'less equal' if op == '<=' else 'greater than'} is not "
                "implemented for float expressions"
            )
        if isinstance(value_expr, ast.IntLiteral):
            value = value_expr.value
            if op == "<=":
                return Between(column, None, value)
            if op == ">=":
                return Between(column, value, None)
            raise QueryCompileError(
                f"{'less than' if op == '<' else 'greater than'} is not "
                "implemented for integer expressions"
            )
        raise QueryCompileError(
            f"unsupported value type in comparison at {value_expr.loc}"
        )

    # -- scalar function calls --------------------------------------------
    def scalar_call(
        self, node: ast.FunctionCall, pipeline: Pipeline
    ) -> "Expression | Column":
        entry = SCALAR_FUNCTIONS.get(node.function_name)
        if entry is None:
            raise QueryCompileError(
                f"unknown scalar function '{node.function_name}'"
            )
        params, handler = entry
        bound = bind_arguments(node.function_name, params, node.positional,
                               node.named)
        return handler(self, node.function_name, bound, pipeline)

    # -- map value conversion (reference convertToScalar) ------------------
    def to_scalar(self, node: ast.Node, pipeline: Pipeline,
                  context: str) -> "Expression | Column":
        if isinstance(node, ast.Identifier):
            if node.name not in pipeline.df.columns:
                raise QueryCompileError(
                    f"{context} references unknown column '{node.name}' "
                    f"at {node.loc}"
                )
            return F.col(node.name)
        if isinstance(node, ast.IntLiteral):
            return F.lit(node.value).cast("long")
        if isinstance(node, ast.FloatLiteral):
            return F.lit(node.value)
        if isinstance(node, ast.StringLiteral):
            return F.lit(node.value)
        if isinstance(node, ast.BoolLiteral):
            return F.lit(node.value)
        if isinstance(node, ast.FunctionCall):
            return self.scalar_call(node, pipeline)
        raise QueryCompileError(
            f"{context} must be assigned a literal value (int, float, string, "
            f"or bool), a column reference, or a scalar function call at "
            f"{node.loc}"
        )


# ---------------------------------------------------------------------------
# Pipeline function handlers
# ---------------------------------------------------------------------------

def _child(binder: Binder, bound: dict[str, ast.Node], key: str = "input") -> Pipeline:
    return binder.bind(bound[key])


def h_filter(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    child = _child(binder, bound)
    expr = binder.to_filter(bound["predicate"], child)
    return child.filter(expr)


def h_schema(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    return _child(binder, bound).schema_()


def h_group_by(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    child = _child(binder, bound)
    agg_expr = bound["aggregates"]
    if not isinstance(agg_expr, ast.RecordLiteral):
        raise QueryCompileError(
            "groupBy aggregates must be a record literal like {count:=count()}"
        )
    aggregates: dict[str, Column] = {}
    for field in agg_expr.fields:
        call = field.value
        if not isinstance(call, ast.FunctionCall):
            raise QueryCompileError(
                f"aggregate definition '{field.name}' must be a function call "
                "(e.g. count())"
            )
        if call.function_name != "count":
            raise QueryCompileError(
                f"unknown aggregate function '{call.function_name}'. "
                "Valid functions: count"
            )
        if call.positional or call.named:
            raise QueryCompileError("count(<column>) is not implemented")
        aggregates[field.name] = F.count(F.lit(1))
    keys: list[str] = []
    if "columns" in bound:
        cols_expr = bound["columns"]
        if not isinstance(cols_expr, ast.SetLiteral):
            raise QueryCompileError(
                "groupBy columns must be a set literal like {pango_lineage}"
            )
        for elem in cols_expr.elements:
            key = _ident(elem, "groupBy field")
            if key not in child.df.columns:
                raise QueryCompileError(
                    f"groupBy field '{key}' is not present in the input's "
                    "output schema"
                )
            keys.append(key)
    return child.group_by(aggregates, keys)


def h_project(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    child = _child(binder, bound)
    fields = _set_of_identifiers(bound["fields"], "project field")
    for fname in fields:
        if fname not in child.df.columns:
            # Sequence columns were normalized away at ingest; projecting one
            # reconstructs it (reference: table_scan.cpp sequence rebuild).
            store_names = _sequence_names(child)
            if fname in store_names:
                from lapis_silo_spark.operators.reconstruct import (
                    with_sequence_column,
                )

                child = with_sequence_column(child, fname)
                continue
            raise QueryCompileError(
                f"project field '{fname}' is not present in the input's "
                "output schema"
            )
    return child.project(fields)


def _sequence_names(child: Pipeline) -> set[str]:
    if child.database is None:
        return set()
    try:
        store = child.database.sequence_store(child.table_name)
    except (KeyError, QueryCompileError):
        return set()
    return set(store.sequence_names())


def h_map(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    child = _child(binder, bound)
    record = bound["expressions"]
    if not isinstance(record, ast.RecordLiteral):
        raise QueryCompileError(
            "map() expects a record of assignments like {x := 3, y := age}"
        )
    if not record.fields:
        raise QueryCompileError("map() requires at least one assignment")
    assignments: dict[str, Any] = {}
    for field in record.fields:
        if field.name in assignments:
            raise QueryCompileError(
                f"map() assigns the output column '{field.name}' more than once"
            )
        assignments[field.name] = binder.to_scalar(
            field.value, child, f"map() field '{field.name}'"
        )
    return child.map(assignments)


def _seq_names_of_kind(child: Pipeline, amino_acid: bool,
                       requested: list[str] | None) -> list[str]:
    """Default sequenceNames = every sequence of the function's symbol kind
    (``mutations()`` → nucleotide segments, ``aminoAcidMutations()`` → genes),
    mirroring the reference's per-symbol-type column iteration."""
    store = child.database.sequence_store(child.table_name)
    of_kind = store.sequence_names(amino_acid)
    if requested is None:
        return of_kind
    kind = "Amino Acid" if amino_acid else "Nucleotide"
    for req in requested:
        if req not in of_kind:
            raise QueryCompileError(
                f"The database does not contain the {kind} sequence '{req}'"
            )
    return requested


def _mutations_like(binder: Binder, name: str,
                    bound: dict[str, ast.Node]) -> Pipeline:
    child = _child(binder, bound)
    min_proportion = _number(bound["minProportion"], "minProportion")
    if not 0.0 <= min_proportion <= 1.0:
        raise QueryCompileError(
            "Invalid proportion: minProportion must be in interval [0.0, 1.0]"
        )
    requested = None
    if "sequenceNames" in bound:
        requested = _set_of_identifiers(bound["sequenceNames"], "sequenceNames")
    names = _seq_names_of_kind(child, name == "aminoAcidMutations", requested)
    df = mutations_aggregate(
        child, sequence_names=names, min_proportion=min_proportion
    )
    out = Pipeline(df, child.database, child.table_name, child.pk)
    if "fields" in bound:
        fields = _set_of_identifiers(bound["fields"], "fields")
        out = out.project(fields)
    return out


def _insertions_like(binder: Binder, name: str,
                     bound: dict[str, ast.Node]) -> Pipeline:
    child = _child(binder, bound)
    requested = None
    if "sequenceNames" in bound:
        requested = _set_of_identifiers(bound["sequenceNames"], "sequenceNames")
    names = _seq_names_of_kind(child, name == "aminoAcidInsertions", requested)
    df = insertions_aggregate(child, sequence_names=names)
    return Pipeline(df, child.database, child.table_name, child.pk)


def h_randomize(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    child = _child(binder, bound)
    if "seed" in bound:
        seed = _uint(bound["seed"], "seed")
    else:
        seed = time.time_ns() & 0xFFFFFFFF  # reference uses the wall clock too
        binder.reads_clock = True
    return child.order_by([], randomize_seed=seed)


def h_limit(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    child = _child(binder, bound)
    count = _uint(bound["count"], "limit")
    if count <= 0:
        raise QueryCompileError("limit must be a positive number")
    if "offset" in bound:
        child = child.offset(_uint(bound["offset"], "offset"))
    return child.limit(count)


def h_offset(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    child = _child(binder, bound)
    return child.offset(_uint(bound["count"], "offset"))


def h_order_by(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    child = _child(binder, bound)
    fields_expr = bound["fields"]
    if not isinstance(fields_expr, ast.SetLiteral):
        raise QueryCompileError("orderBy fields must be a set literal")
    keys: list[tuple[str, bool]] = []
    for elem in fields_expr.elements:
        if isinstance(elem, ast.Identifier):
            fname, ascending = elem.name, True
        elif isinstance(elem, ast.FunctionCall):
            if elem.function_name not in ("asc", "desc"):
                raise QueryCompileError(
                    "orderBy field must be an identifier or asc()/desc() "
                    f"call, got '{elem.function_name}' at {elem.loc}"
                )
            if len(elem.positional) != 1 or elem.named:
                raise QueryCompileError(
                    f"{elem.function_name}() expects exactly one argument"
                )
            fname = _ident(elem.positional[0], "orderBy field")
            ascending = elem.function_name == "asc"
        else:
            raise QueryCompileError(
                f"orderBy field must be an identifier or asc()/desc() call "
                f"at {elem.loc}"
            )
        if fname not in child.df.columns:
            raise QueryCompileError(
                f"OrderByField {fname} is not contained in the result of this "
                f"operation. Allowed values are "
                f"{', '.join(child.df.columns)}."
            )
        keys.append((fname, ascending))
    return child.order_by(keys)


def _require_phylo_tree(binder: Binder, column: str, action: str) -> None:
    if column not in binder.db.phylo_nodes:
        raise QueryCompileError(
            f"{action} action cannot be called on Column '{column}' as it "
            "does not have a phylogenetic tree associated with it"
        )


def h_mrca(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    column = _string(bound["column"], "column")
    print_missing = (
        _bool(bound["printNodesNotInTree"], "printNodesNotInTree")
        if "printNodesNotInTree" in bound else False
    )
    _require_phylo_tree(binder, column, "MostRecentCommonAncestor")
    child = _child(binder, bound)
    df = most_recent_common_ancestor(child, column, print_missing)
    return Pipeline(df, child.database, child.table_name, child.pk)


def h_phylo_subtree(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    column = _string(bound["column"], "column")
    print_missing = (
        _bool(bound["printNodesNotInTree"], "printNodesNotInTree")
        if "printNodesNotInTree" in bound else False
    )
    contract = (
        _bool(bound["contractUnaryNodes"], "contractUnaryNodes")
        if "contractUnaryNodes" in bound else True
    )
    _require_phylo_tree(binder, column, "PhyloSubtree")
    child = _child(binder, bound)
    df = phylo_subtree(child, column, print_missing, contract)
    return Pipeline(df, child.database, child.table_name, child.pk)


def h_union_all(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    left = binder.bind(bound["left"])
    right = binder.bind(bound["right"])
    lf = [(f.name, f.dataType) for f in left.df.schema.fields]
    rf = [(f.name, f.dataType) for f in right.df.schema.fields]
    if lf != rf:
        raise QueryCompileError(
            "unionAll requires both inputs to have the same schema (same "
            "column names, types, and order). Left schema: "
            f"[{', '.join(f'{n}:{t.simpleString()}' for n, t in lf)}], right "
            f"schema: [{', '.join(f'{n}:{t.simpleString()}' for n, t in rf)}]."
        )
    return left.union_all(right)


_JOIN_TYPE_NAMES = [
    "inner", "left", "right", "full", "leftSemi", "rightSemi", "leftAnti",
    "rightAnti",
]


def _collect_join_keys(
    node: ast.Node,
    left_df: DataFrame,
    right_df: DataFrame,
    keys: list[tuple[str, str]],
) -> None:
    if not isinstance(node, ast.BinaryExpr):
        raise QueryCompileError(
            "join() on-expression must be an equality between a left and a "
            "right column, or a conjunction (&&) of such equalities, at "
            f"{node.loc}"
        )
    if node.op == "&&":
        _collect_join_keys(node.left, left_df, right_df, keys)
        _collect_join_keys(node.right, left_df, right_df, keys)
        return
    if node.op != "=":
        raise QueryCompileError(
            "join() on-expression only supports equality (=) comparisons, "
            f"optionally combined with '&&', at {node.loc}"
        )

    def resolve(expr: ast.Node) -> tuple[str, str, SparkT.DataType]:
        if not isinstance(expr, ast.Identifier):
            raise QueryCompileError(
                "join() on-expression must compare column identifiers, got "
                f"'{ast.describe(expr)}' at {expr.loc}"
            )
        cname = expr.name
        in_left = cname in left_df.columns
        in_right = cname in right_df.columns
        if in_left and in_right:
            raise QueryCompileError(
                f"join() on-expression references column '{cname}', which "
                "exists in both inputs and is therefore ambiguous. Rename one "
                "side (e.g. via map()) before joining."
            )
        if not in_left and not in_right:
            raise QueryCompileError(
                f"join() on-expression references unknown column '{cname}'"
            )
        side = "left" if in_left else "right"
        df = left_df if in_left else right_df
        return side, cname, df.schema[cname].dataType

    first = resolve(node.left)
    second = resolve(node.right)
    if first[0] == second[0]:
        raise QueryCompileError(
            "join() on-expression equality must reference one column from "
            f"each input, but both '{ast.describe(node.left)}' and "
            f"'{ast.describe(node.right)}' resolve to the same input at "
            f"{node.loc}"
        )
    if first[2] != second[2]:
        raise QueryCompileError(
            "join() on-expression equality must reference equal column types "
            f"from each input, but '{ast.describe(node.left)}' and "
            f"'{ast.describe(node.right)}' have mismatching types "
            f"{first[2].simpleString()} and {second[2].simpleString()} at "
            f"{node.loc}"
        )
    if first[0] == "left":
        keys.append((first[1], second[1]))
    else:
        keys.append((second[1], first[1]))


def h_join(binder: Binder, name: str, bound: dict[str, ast.Node]) -> Pipeline:
    left = binder.bind(bound["left"])
    right = binder.bind(bound["right"])
    overlapping = [c for c in left.df.columns if c in set(right.df.columns)]
    if overlapping:
        raise QueryCompileError(
            "join() requires the two inputs to have disjoint column names, "
            f"but the column(s) [{', '.join(overlapping)}] are present in "
            "both. Rename one side (e.g. via map()) before joining."
        )
    keys: list[tuple[str, str]] = []
    _collect_join_keys(bound["on"], left.df, right.df, keys)
    if not keys:
        raise QueryCompileError(
            "join() on-expression must contain at least one equality between "
            "a left and a right column"
        )
    join_type = "inner"
    if "type" in bound:
        join_type = _ident(bound["type"], "join type")
        if join_type not in _JOIN_TYPE_NAMES:
            raise QueryCompileError(
                f"invalid join type '{join_type}'. Valid types are: "
                + ", ".join(_JOIN_TYPE_NAMES)
            )
    return left.join(right, on=keys, how=join_type)


PIPELINE_FUNCTIONS: dict[
    str, tuple[list[Param], Callable[[Binder, str, dict[str, ast.Node]], Pipeline]]
] = {
    "filter": ([Param("input"), Param("predicate")], h_filter),
    "schema": ([Param("input")], h_schema),
    "groupBy": (
        [Param("input"), Param("aggregates"), Param("columns", required=False)],
        h_group_by,
    ),
    "project": ([Param("input"), Param("fields")], h_project),
    "map": ([Param("input"), Param("expressions")], h_map),
    "mutations": (
        [Param("input"), Param("minProportion", positional=False),
         Param("sequenceNames", required=False, positional=False),
         Param("fields", required=False, positional=False)],
        _mutations_like,
    ),
    "aminoAcidMutations": (
        [Param("input"), Param("minProportion", positional=False),
         Param("sequenceNames", required=False, positional=False),
         Param("fields", required=False, positional=False)],
        _mutations_like,
    ),
    "insertions": (
        [Param("input"),
         Param("sequenceNames", required=False, positional=False)],
        _insertions_like,
    ),
    "aminoAcidInsertions": (
        [Param("input"),
         Param("sequenceNames", required=False, positional=False)],
        _insertions_like,
    ),
    "randomize": (
        [Param("input"), Param("seed", required=False, positional=False)],
        h_randomize,
    ),
    "limit": (
        [Param("input"), Param("count"),
         Param("offset", required=False, positional=False)],
        h_limit,
    ),
    "offset": ([Param("input"), Param("count")], h_offset),
    "orderBy": ([Param("input"), Param("fields")], h_order_by),
    "mostRecentCommonAncestor": (
        [Param("input"), Param("column"),
         Param("printNodesNotInTree", required=False, positional=False)],
        h_mrca,
    ),
    "phyloSubtree": (
        [Param("input"), Param("column"),
         Param("printNodesNotInTree", required=False, positional=False),
         Param("contractUnaryNodes", required=False, positional=False)],
        h_phylo_subtree,
    ),
    "unionAll": ([Param("left"), Param("right")], h_union_all),
    "join": (
        [Param("left"), Param("right"), Param("on"),
         Param("type", required=False, positional=False)],
        h_join,
    ),
}


# ---------------------------------------------------------------------------
# Scalar function handlers
# ---------------------------------------------------------------------------

def s_between(binder: Binder, name: str, bound: dict[str, ast.Node],
              pipeline: Pipeline) -> Expression:
    column = binder._resolve_column(_ident(bound["column"], "between column"),
                                    pipeline)
    from_expr, to_expr = bound["from"], bound["to"]
    if _is_date_expr(from_expr) or _is_date_expr(to_expr):
        return Between(column, _date_value(from_expr), _date_value(to_expr))
    if isinstance(from_expr, ast.FloatLiteral) or isinstance(
        to_expr, ast.FloatLiteral
    ):
        low = None if isinstance(from_expr, ast.NullLiteral) else _number(
            from_expr, "between from")
        high = None if isinstance(to_expr, ast.NullLiteral) else _number(
            to_expr, "between to")
        # reference wart: float `to` bound is exclusive
        # (query_documentation.md:504, float_between.cpp)
        return Between(column, low, high, float_to_exclusive=True)
    if isinstance(from_expr, ast.IntLiteral) or isinstance(
        to_expr, ast.IntLiteral
    ):
        low = None if isinstance(from_expr, ast.NullLiteral) else _int(
            from_expr, "between from")
        high = None if isinstance(to_expr, ast.NullLiteral) else _int(
            to_expr, "between to")
        return Between(column, low, high)
    raise QueryCompileError(
        "Could not infer type of between expression. From-value or to-value "
        "needs to be a typed non-null value"
    )


def s_in(binder: Binder, name: str, bound: dict[str, ast.Node],
         pipeline: Pipeline) -> Expression:
    column = binder._resolve_column(_ident(bound["column"], "in column"),
                                    pipeline)
    set_expr = bound["values"]
    if not isinstance(set_expr, ast.SetLiteral):
        raise QueryCompileError(
            f"in() expects a set literal argument at {set_expr.loc}"
        )
    values = [
        None if isinstance(e, ast.NullLiteral) else _string(e, "in() value")
        for e in set_expr.elements
    ]
    return InSet(column, values)


def s_is_null(binder: Binder, name: str, bound: dict[str, ast.Node],
              pipeline: Pipeline) -> Expression:
    column = binder._resolve_column(_ident(bound["column"], "isNull column"),
                                    pipeline)
    expr = IsNull(column)
    return expr if name == "isNull" else Negation(expr)


def s_lineage(binder: Binder, name: str, bound: dict[str, ast.Node],
              pipeline: Pipeline) -> Expression:
    column = binder._resolve_column(_ident(bound["column"], "lineage column"),
                                    pipeline)
    value_expr = bound["value"]
    value = (
        None if isinstance(value_expr, ast.NullLiteral)
        else _string(value_expr, "lineage value")
    )
    include = (
        _bool(bound["includeSublineages"], "includeSublineages")
        if "includeSublineages" in bound else False
    )
    mode = "doNotFollow"
    if "recombinantFollowingMode" in bound:
        mode = _string(bound["recombinantFollowingMode"],
                       "recombinantFollowingMode")
        if mode not in ("alwaysFollow", "followIfFullyContainedInClade",
                        "doNotFollow"):
            raise QueryCompileError(
                f"invalid recombinantFollowingMode: '{mode}'. Valid values "
                "are: alwaysFollow, followIfFullyContainedInClade, doNotFollow"
            )
        # an explicit mode implies closure semantics even with
        # includeSublineages:=false — matching handleLineage
        # (ast_to_query.cpp:404-426), which sets sublineage_mode whenever
        # recombinantFollowingMode is present
        include = True
    return LineageFilter(column, value, include_sublineages=include,
                         recombinant_mode=mode)


def s_phylo_descendant(binder: Binder, name: str, bound: dict[str, ast.Node],
                       pipeline: Pipeline) -> Expression:
    column = binder._resolve_column(
        _ident(bound["column"], "phyloDescendantOf column"), pipeline
    )
    _require_phylo_tree(binder, column, "PhyloDescendantOf")
    node = _string(bound["node"], "node")
    known = binder.db.phylo_nodes[column].filter(
        F.col("node") == node
    ).limit(1).count()
    if not known:
        raise QueryCompileError(
            f"The node '{node}' does not exist in the phylogenetic tree of "
            f"column '{column}'"
        )
    return PhyloDescendantOf(column, node)


def s_like(binder: Binder, name: str, bound: dict[str, ast.Node],
           pipeline: Pipeline) -> Expression:
    import re

    column = binder._resolve_column(_ident(bound["column"], "like column"),
                                    pipeline)
    if not isinstance(pipeline.df.schema[column].dataType, SparkT.StringType):
        raise QueryCompileError(f"The column '{column}' is not of type string")
    pattern = _string(bound["pattern"], "like pattern")
    try:
        re.compile(pattern)
    except re.error as exc:
        raise QueryCompileError(
            "Invalid Regular Expression. The parsing of the regular "
            f"expression failed with the error '{exc}'."
        )
    return Like(column, pattern)


def s_at(binder: Binder, name: str, bound: dict[str, ast.Node],
         pipeline: Pipeline) -> "Column | SequenceAt":
    column = _ident(bound["input"], "at() input")
    is_seq = column not in pipeline.df.columns and column in _sequence_names(
        pipeline
    )
    if column not in pipeline.df.columns and not is_seq:
        raise QueryCompileError(
            f"at(): the field {column} is not found in the current context"
        )
    position = _uint(bound["position"], "at() position")
    if position == 0:
        raise QueryCompileError(
            "at(): the field 'position' is 1-indexed. Value of 0 not allowed."
        )
    if is_seq:
        # at() on a SEQUENCE column: the BitmapAggregationNode workload
        # (bitmap_aggregation_rewrite_pass.cpp:30-129,
        # co_occurrence_benchmark.cpp:81). Compiles to a targeted
        # per-position lookup — never a full reconstruction.
        from lapis_silo_spark.expressions.sequence import SequenceAt

        return SequenceAt(column, position)
    return MapExpr.at(column, position)


def s_iso_week(binder: Binder, name: str, bound: dict[str, ast.Node],
               pipeline: Pipeline) -> Column:
    column = _ident(bound["input"], "isoWeek() input")
    if column not in pipeline.df.columns:
        raise QueryCompileError(
            f"isoWeek(): the field {column} is not found in the current "
            "context"
        )
    if not isinstance(pipeline.df.schema[column].dataType, SparkT.DateType):
        raise QueryCompileError(
            f"isoWeek(): the field {column} must be a date column"
        )
    return MapExpr.iso_week(column)


def _valid_symbol(symbol: str, amino_acid: bool) -> bool:
    table = AA_CODES_FOR if amino_acid else NUC_CODES_FOR
    return symbol in table


def s_symbol_equals(binder: Binder, name: str, bound: dict[str, ast.Node],
                    pipeline: Pipeline) -> Expression:
    position = _uint(bound["position"], "position")
    if position == 0:
        raise QueryCompileError(
            "The field 'position' is 1-indexed. Value of 0 not allowed."
        )
    symbol = _string(bound["symbol"], "symbol")
    if len(symbol) != 1:
        raise QueryCompileError(f"{name}() symbol must be a single character")
    amino_acid = name == "aminoAcidEquals"
    if symbol != "." and not _valid_symbol(symbol.upper(), amino_acid):
        raise QueryCompileError(f"{name}() invalid symbol '{symbol}'")
    seq_name = _string(bound["sequenceName"], "sequenceName")
    return SymbolEquals(seq_name, position, symbol, is_amino_acid=amino_acid)


def s_has_mutation(binder: Binder, name: str, bound: dict[str, ast.Node],
                   pipeline: Pipeline) -> Expression:
    position = _uint(bound["position"], "position")
    if position == 0:
        raise QueryCompileError(
            "The field 'position' is 1-indexed. Value of 0 not allowed."
        )
    seq_name = _string(bound["sequenceName"], "sequenceName")
    return HasMutation(seq_name, position,
                       is_amino_acid=(name == "hasAAMutation"))


def s_insertion_contains(binder: Binder, name: str, bound: dict[str, ast.Node],
                         pipeline: Pipeline) -> Expression:
    position = _uint(bound["position"], "position")
    value = _string(bound["value"], "value")
    if not value:
        raise QueryCompileError(
            "The field 'value' in an InsertionContains expression must not "
            "be an empty string"
        )
    seq_name = _string(bound["sequenceName"], "sequenceName")
    return InsertionContains(seq_name, position, value)


def s_exact_maybe(binder: Binder, name: str, bound: dict[str, ast.Node],
                  pipeline: Pipeline) -> Expression:
    child = binder.to_filter(bound["child"], pipeline)
    return Exact(child) if name == "exact" else Maybe(child)


def s_n_of(binder: Binder, name: str, bound: dict[str, ast.Node],
           pipeline: Pipeline) -> Expression:
    count = _int(bound["count"], "nOf count")
    match_exactly = (
        _bool(bound["matchExactly"], "matchExactly")
        if "matchExactly" in bound else False
    )
    children_expr = bound["children"]
    if not isinstance(children_expr, ast.SetLiteral):
        raise QueryCompileError("nOf() expects a set literal of children")
    children = [binder.to_filter(e, pipeline) for e in children_expr.elements]
    return NOf(count, children, match_exactly=match_exactly)


def _profile_from_sequence_id(binder: Binder, pipeline: Pipeline,
                              seq_name: str, sequence_id: str,
                              amino_acid: bool) -> list[tuple[int, str]]:
    """Reconstruct (position, symbol) pairs of a stored row's sequence from
    the normalized side tables — the relational form of the reference's
    sequence-id profile lookup (``mutation_profile.cpp``). Driver-side but
    tiny: one row's coverage + mutations."""
    db = pipeline.database
    store = db.sequence_store(pipeline.table_name)
    pk_col = db.primary_key(pipeline.table_name)
    base = pipeline.df.sparkSession

    cov_rows = (
        store.coverage.filter(
            (F.col("pk") == sequence_id) & (F.col("seq_name") == seq_name)
        ).collect()
    )
    if not cov_rows:
        raise QueryCompileError(
            f"sequenceId '{sequence_id}' has no stored sequence "
            f"'{seq_name}'"
        )
    mut_rows = store.mutations.filter(
        (F.col("pk") == sequence_id) & (F.col("seq_name") == seq_name)
    ).collect()
    miss_rows = store.missing.filter(
        (F.col("pk") == sequence_id) & (F.col("seq_name") == seq_name)
    ).collect()
    ref_rows = store.reference.filter(F.col("seq_name") == seq_name).collect()
    _ = base, pk_col  # pk lookups above use the side tables' "pk" column

    missing_positions = {r["pos"] for r in miss_rows}
    symbols: dict[int, str] = {}
    for ref in ref_rows:
        pos = ref["pos"]
        covered = any(r["cov_start"] <= pos < r["cov_end"] for r in cov_rows)
        if covered and pos not in missing_positions:
            # entry-less positions store the LOCAL baseline symbol
            symbols[pos] = store.local_symbol(seq_name, pos)
    for mut in mut_rows:
        symbols[mut["pos"]] = mut["symbol"]
    missing_sym = "X" if amino_acid else "N"
    return sorted(
        (pos, sym) for pos, sym in symbols.items() if sym != missing_sym
    )


def s_mutation_profile(binder: Binder, name: str, bound: dict[str, ast.Node],
                       pipeline: Pipeline) -> Expression:
    amino_acid = name == "aminoAcidMutationProfile"
    distance = _uint(bound["distance"], "distance")
    seq_name = _string(bound["sequenceName"], "sequenceName")
    provided = [k for k in ("querySequence", "sequenceId", "mutations")
                if k in bound]
    if len(provided) != 1:
        raise QueryCompileError(
            "Exactly one of 'querySequence', 'sequenceId', or 'mutations' "
            "must be provided in a MutationProfile expression, but "
            f"{len(provided)} were provided"
        )
    missing_sym = "X" if amino_acid else "N"

    pairs: list[tuple[int, str]] = []
    if provided[0] == "querySequence":
        profile = _string(bound["querySequence"], "querySequence").upper()
        for i, sym in enumerate(profile):
            if sym == missing_sym:
                continue  # profile missing positions are skipped
            if not _valid_symbol(sym, amino_acid):
                raise QueryCompileError(
                    f"Invalid symbol '{sym}' in MutationProfile"
                )
            pairs.append((i + 1, sym))
    elif provided[0] == "sequenceId":
        sequence_id = _string(bound["sequenceId"], "sequenceId")
        pairs = _profile_from_sequence_id(binder, pipeline, seq_name,
                                          sequence_id, amino_acid)
    else:
        set_expr = bound["mutations"]
        if not isinstance(set_expr, ast.SetLiteral):
            raise QueryCompileError(
                "The 'mutations' argument of a MutationProfile expression "
                "must be a set literal"
            )
        for elem in set_expr.elements:
            if not isinstance(elem, ast.RecordLiteral):
                raise QueryCompileError(
                    "Each element of 'mutations' in a MutationProfile "
                    "expression must be a record literal with 'position' and "
                    "'symbol' fields"
                )
            pos_val: int | None = None
            sym_val: str | None = None
            for field in elem.fields:
                if field.name == "position":
                    pos_val = _uint(field.value, "position")
                    if pos_val == 0:
                        raise QueryCompileError(
                            "The 'position' field in a MutationProfile "
                            "mutation is 1-indexed; value 0 is not allowed"
                        )
                elif field.name == "symbol":
                    sym_val = _string(field.value, "symbol")
            if pos_val is None:
                raise QueryCompileError(
                    "Each mutation in a MutationProfile expression must have "
                    "a 'position' field"
                )
            if sym_val is None:
                raise QueryCompileError(
                    "Each mutation in a MutationProfile expression must have "
                    "a 'symbol' field"
                )
            if len(sym_val) != 1:
                raise QueryCompileError(
                    "The 'symbol' field in a MutationProfile mutation must "
                    "be a single character"
                )
            if not _valid_symbol(sym_val.upper(), amino_acid):
                raise QueryCompileError(
                    f"Invalid symbol '{sym_val}' in MutationProfile"
                )
            pairs.append((pos_val, sym_val.upper()))

    # ≤distance conservative differences: short profiles reduce to
    # ¬nOf(distance+1, per-position diffs) exactly like
    # mutation_profile.cpp:249-256; long ones take the aggregated
    # constant-join-count path (expressions.sequence.MutationProfileAggregate).
    from lapis_silo_spark.expressions.sequence import build_mutation_profile

    return build_mutation_profile(seq_name, pairs, distance,
                                  is_amino_acid=amino_acid)


_SYMBOL_EQ_PARAMS = [
    Param("position", positional=False),
    Param("symbol", positional=False),
    Param("sequenceName", positional=False),
]

SCALAR_FUNCTIONS: dict[str, tuple[list[Param], Callable[..., Any]]] = {
    "between": ([Param("column"), Param("from"), Param("to")], s_between),
    "in": ([Param("column"), Param("values")], s_in),
    "isNull": ([Param("column")], s_is_null),
    "isNotNull": ([Param("column")], s_is_null),
    "lineage": (
        [Param("column"), Param("value"),
         Param("includeSublineages", required=False, positional=False),
         Param("recombinantFollowingMode", required=False, positional=False)],
        s_lineage,
    ),
    "phyloDescendantOf": ([Param("column"), Param("node")], s_phylo_descendant),
    "like": ([Param("column"), Param("pattern")], s_like),
    "at": ([Param("input"), Param("position")], s_at),
    "isoWeek": ([Param("input")], s_iso_week),
    "nucleotideEquals": (_SYMBOL_EQ_PARAMS, s_symbol_equals),
    "aminoAcidEquals": (_SYMBOL_EQ_PARAMS, s_symbol_equals),
    "hasMutation": (
        [Param("position", positional=False),
         Param("sequenceName", positional=False)],
        s_has_mutation,
    ),
    "hasAAMutation": (
        [Param("position", positional=False),
         Param("sequenceName", positional=False)],
        s_has_mutation,
    ),
    "insertionContains": (
        [Param("position", positional=False), Param("value", positional=False),
         Param("sequenceName", positional=False)],
        s_insertion_contains,
    ),
    "aminoAcidInsertionContains": (
        [Param("position", positional=False), Param("value", positional=False),
         Param("sequenceName", positional=False)],
        s_insertion_contains,
    ),
    "exact": ([Param("child")], s_exact_maybe),
    "maybe": ([Param("child")], s_exact_maybe),
    "nOf": (
        [Param("count"), Param("children"),
         Param("matchExactly", required=False, positional=False)],
        s_n_of,
    ),
    "nucleotideMutationProfile": (
        [Param("distance", positional=False),
         Param("sequenceName", positional=False),
         Param("querySequence", required=False, positional=False),
         Param("sequenceId", required=False, positional=False),
         Param("mutations", required=False, positional=False)],
        s_mutation_profile,
    ),
    "aminoAcidMutationProfile": (
        [Param("distance", positional=False),
         Param("sequenceName", positional=False),
         Param("querySequence", required=False, positional=False),
         Param("sequenceId", required=False, positional=False),
         Param("mutations", required=False, positional=False)],
        s_mutation_profile,
    ),
}


# ---------------------------------------------------------------------------
# Public entry points
# ---------------------------------------------------------------------------

def bind_query(database: Database, query_text: str) -> Pipeline:
    """Parse + bind a SaneQL query against ``database``; returns the bound
    Pipeline (lazy — nothing executed yet). Its ``reproducible`` is False
    when binding read the wall clock, so binding the same text again would
    give a different plan."""
    from lapis_silo_spark.saneql.parser import parse

    binder = Binder(database)
    pipeline = binder.bind(parse(query_text))
    pipeline.reproducible = not binder.reads_clock
    return pipeline


def execute_query(database: Database, query_text: str) -> DataFrame:
    """Parse, bind and return the result DataFrame."""
    return bind_query(database, query_text).df
