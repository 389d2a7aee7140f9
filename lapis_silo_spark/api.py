"""Embedded Python API — parity with the reference's ``silodb`` bindings.

Reference (``python/silodb/database.pyx:14-191``, ``src/silo/database.h:15-108``):
``Database`` exposes create-table, NDJSON append, ``query()`` returning Arrow,
``get_filtered_bitmap`` (the raw filter layer), ``update_column``, and
checkpoint save/load. Here the same surface wraps a ``SparkSession`` — the
DataFrame engine replaces the embedded C++ core, and "bitmap" becomes the set
of surviving primary keys (the relational form of a row-id bitmap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lapis_silo_spark.catalog import Database
from lapis_silo_spark.expressions.base import QueryCompileError
from lapis_silo_spark.sources.ndjson import TableConfig, ingest_ndjson
from lapis_silo_spark.session import local_relation
from lapis_silo_spark.storage import append_rows, check_updatable, update_rows


def _extract_update_literal(value_saneql: str, dtype: str):
    """Parse a SaneQL literal for ``updateColumn`` and check it against the
    target column's type, mirroring the reference's literal extractors
    (``saneql/ast.cpp:128-232``: extractInt32Literal /
    extractNumericAsFloatLiteral / extractBoolLiteral /
    extractStringLiteral / extractOptionalDateValue) including their error
    shapes. A ``null`` literal returns ``None`` (clears the rows) for every
    type."""
    from lapis_silo_spark.saneql import ast
    from lapis_silo_spark.saneql.parser import parse

    node = parse(value_saneql)
    if isinstance(node, ast.NullLiteral):
        return None
    loc = f"at {node.loc}"
    if dtype in ("int", "bigint"):
        if not isinstance(node, ast.IntLiteral):
            raise QueryCompileError(f"expected integer literal {loc}")
        return node.value
    if dtype in ("double", "float"):
        if not isinstance(node, (ast.IntLiteral, ast.FloatLiteral)):
            raise QueryCompileError(f"expected numeric literal {loc}")
        return float(node.value)
    if dtype == "boolean":
        if not isinstance(node, ast.BoolLiteral):
            raise QueryCompileError(f"expected boolean literal {loc}")
        return node.value
    if dtype == "date":
        # deliberately NOT binder._date_value: this branch pins the
        # reference extractor's error shapes (extractOptionalDateValue),
        # which differ from the binder's filter-side date messages
        if not isinstance(node, ast.TypeCast):
            raise QueryCompileError(f"expected date type cast {loc}")
        if node.target_type != "date":
            raise QueryCompileError(
                f"expected cast to 'date', got '{node.target_type}' {loc}"
            )
        if not isinstance(node.operand, ast.StringLiteral):
            raise QueryCompileError(f"expected string literal {loc}")
        import datetime

        try:
            return datetime.date.fromisoformat(node.operand.value)
        except ValueError as exc:
            raise QueryCompileError(
                f"invalid date '{node.operand.value}' {loc}: {exc}"
            ) from None
    # string family (STRING / DICTIONARY_ENCODED / ZSTD_COMPRESSED_STRING)
    if not isinstance(node, ast.StringLiteral):
        raise QueryCompileError(f"expected string literal {loc}")
    return node.value


class SiloDatabase:
    """Embedded database handle: the reference's ``silodb.Database`` surface
    over Spark."""

    def __init__(self, spark: SparkSession | None = None):
        if spark is None:
            from lapis_silo_spark.session import get_spark

            spark = get_spark()
        self.spark = spark
        self.db = Database(spark)
        self._configs: dict[str, TableConfig] = {}

    # -- schema / ingest ---------------------------------------------------
    def create_table(self, config: TableConfig) -> None:
        """Declare a table up front (``Database::createTable``); schemas are
        fixed, never inferred."""
        if config.name in self._configs:
            raise QueryCompileError(f"table {config.name!r} already exists")
        self._configs[config.name] = config
        empty = local_relation(self.spark, [], config.spark_schema())
        from lapis_silo_spark.sources.ndjson import ingest_records

        main, store = ingest_records(self.spark, empty, config)
        self.db.register_table(config.name, main, primary_key=config.primary_key)
        if config.nuc_sequences or config.aa_sequences:
            self.db.register_sequence_store(config.name, store)

    def append_data_from_file(self, table: str, path: str) -> None:
        """NDJSON append (``Database::appendDataFromFile``) — all-or-nothing,
        duplicate primary keys rejected."""
        config = self._config(table)
        main, store = ingest_ndjson(self.spark, path, config)
        # hand over the store only when the config declares sequences —
        # otherwise the merge would replace the stored reference genome
        # with the placeholder empty one
        has_seqs = bool(config.nuc_sequences or config.aa_sequences)
        append_rows(self.db, table, main, store if has_seqs else None)

    # -- query -------------------------------------------------------------
    def query(self, table: str, saneql: str):
        """Run SaneQL, return a ``pyarrow.Table``
        (``Database::executeQueryAsArrowIpc``). The query text addresses the
        table by its registered name, exactly like the HTTP path."""
        df = self.query_df(table, saneql)
        return df.toArrow()

    def query_df(self, table: str, saneql: str) -> DataFrame:
        """Same as :meth:`query` but returns the lazy DataFrame."""
        self._config(table)  # existence check
        from lapis_silo_spark.saneql import execute_query

        return execute_query(self.db, saneql)

    def get_filtered_keys(
        self, table: str, filter_saneql: str, max_rows: int = 5_000_000
    ) -> set:
        """The raw filter layer (``Database::getFilteredBitmap``): the set of
        primary keys surviving a bare filter expression.

        Inherently driver-bound (reference API semantics — the caller gets a
        materialized key set); ``max_rows`` fails fast above the budget
        instead of OOMing the driver. For larger selections keep the result
        distributed: use :meth:`query_df` with the same filter and join
        against the returned DataFrame.
        """
        from lapis_silo_spark.operators.relational import Pipeline
        from lapis_silo_spark.saneql.binder import Binder
        from lapis_silo_spark.saneql.parser import parse

        binder = Binder(self.db)
        pipeline = Pipeline.scan(self.db, table)
        expr = binder.to_filter(parse(filter_saneql), pipeline)
        pk = self.db.primary_key(table)
        rows = (
            pipeline.filter(expr).df.select(pk).limit(max_rows + 1).collect()
        )
        if len(rows) > max_rows:
            raise ValueError(
                f"filtered key set exceeds max_rows={max_rows}; use "
                "query_df() to keep the selection distributed, or raise "
                "max_rows if the driver has the memory for it"
            )
        return {row[pk] for row in rows}

    # -- mutation ----------------------------------------------------------
    def update_column(self, table: str, column: str, value,
                      filter_saneql: str | None = None) -> None:
        """Point update (``Database::updateColumn``) — in-memory; use
        :meth:`save_checkpoint` to persist a version.

        Scalar columns plus the string family (STRING / DICTIONARY_ENCODED /
        ZSTD_COMPRESSED_STRING — all Spark strings here), with the
        reference's guards: phylo-tree-backed and lineage-indexed columns
        refuse (``src/silo/query_engine/scalar_column_update.cpp:28-90``).
        ``value=None`` clears the matched rows to null. For the reference's
        exact all-strings signature (value as a SaneQL literal) see
        :meth:`update_column_saneql`.
        """
        update_rows(self.db, table, column, value, filter_saneql)

    def update_column_saneql(self, table: str, column: str,
                             value_saneql: str,
                             filter_saneql: str = "true") -> None:
        """The reference's exact ``updateColumn`` signature: table, column,
        VALUE, and FILTER are all strings; the value goes through the same
        SaneQL lexer/parser and literal extractors as queries, so no
        type-specific string parsing is duplicated
        (``scalar_column_update.cpp:22-27``, tested at
        ``database.test.cpp:147-235``).

        A SaneQL ``null`` literal clears the matched rows; every other
        literal must match the column's type (``'not_a_number'`` for an int
        column → "expected integer literal"; an unquoted value for a string
        column → "expected string literal"; dates are ``'2000-01-01'::date``
        casts).
        """
        # validate the column BEFORE parsing the literal (the reference's
        # guard order); storage.update_rows re-runs the same check — a
        # pair of dict probes, kept so the storage layer stays safe when
        # called directly
        dtype = check_updatable(self.db, table, column)
        value = _extract_update_literal(value_saneql, dtype)
        self.update_column(table, column, value, filter_saneql)

    # -- persistence -------------------------------------------------------
    def save_checkpoint(self, root: str) -> str:
        """Persist the current state as a new data version
        (``Database::saveCheckpoint``)."""
        from lapis_silo_spark.storage import save_version

        return save_version(self.db, root)

    @classmethod
    def load_checkpoint(cls, root: str,
                        spark: SparkSession | None = None) -> "SiloDatabase":
        """Load the latest persisted version (``Database::loadCheckpoint``)."""
        from lapis_silo_spark.storage import load_version

        handle = cls(spark)
        handle.db = load_version(handle.spark, root)
        return handle

    # -- helpers -----------------------------------------------------------
    def _config(self, table: str) -> TableConfig:
        if table in self._configs:
            return self._configs[table]
        if table not in self.db.tables:
            raise QueryCompileError(f"unknown table {table!r}")
        # loaded from checkpoint: rebuild the config from the stored table,
        # so later appends ingest every metadata column and sequence
        pk = self.db.primary_key(table)
        config = TableConfig(name=table, primary_key=pk)
        store = self.db.sequence_stores.get(table)
        if store is not None:
            refs: dict[tuple[bool, str], list[tuple[int, str]]] = {}
            for r in store.reference.collect():
                refs.setdefault((bool(r["is_aa"]), r["seq_name"]), []).append(
                    (r["pos"], r["ref_symbol"])
                )
            for (is_aa, name), symbols in refs.items():
                seqs = config.aa_sequences if is_aa else config.nuc_sequences
                seqs[name] = "".join(sym for _, sym in sorted(symbols))
        unaligned = {f"unaligned_{s}" for s in config.nuc_sequences}
        for f in self.db.table(table).schema.fields:
            if f.name != pk and f.name not in unaligned:
                dtype = f.dataType.simpleString()
                config.metadata[f.name] = "long" if dtype == "bigint" else dtype
        self._configs[table] = config
        return config
