"""updateColumn parity: scalar + string-family point updates.

Mirrors the reference's ``DatabaseTest.updateColumnAssignsScalarValueToMatchingRows``
and ``updateColumnRejectsInvalidRequests``
(``/root/reference/src/silo/database.test.cpp:147-235``) over the embedded
API's SaneQL-string form (``update_column_saneql`` — the reference's exact
signature: value and filter are both SaneQL strings,
``scalar_column_update.cpp:22-27``).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from lapis_silo_spark.api import SiloDatabase
from lapis_silo_spark.expressions import Equals, SymbolEquals
from lapis_silo_spark.expressions.base import QueryCompileError
from lapis_silo_spark.sources.ndjson import TableConfig


@pytest.fixture()
def handle(spark, tmp_path):
    """A fresh database per test shaped like the reference's test fixture:
    ages 4/4/null, a boolean column, a date column, an indexed string
    ``division``, a lineage-indexed ``pango_lineage``, and a phylo-backed
    ``primary_key``."""
    h = SiloDatabase(spark)
    h.create_table(TableConfig(
        name="default",
        primary_key="primary_key",
        metadata={
            "age": "int",
            "test_boolean_column": "boolean",
            "date": "date",
            "division": "string",
            "pango_lineage": "string",
        },
    ))
    ndjson = tmp_path / "rows.ndjson"
    rows = [
        '{"primary_key": "key1", "age": 4, "test_boolean_column": true,'
        ' "date": "2021-03-19", "division": "Bern", "pango_lineage": "B.1"}',
        '{"primary_key": "key2", "age": 6, "test_boolean_column": false,'
        ' "date": "2021-03-20", "division": "Zurich", "pango_lineage": "B.1.1"}',
        '{"primary_key": "key3", "age": null, "test_boolean_column": true,'
        ' "date": "2021-03-21", "division": "Geneva", "pango_lineage": "B.1"}',
        '{"primary_key": "key4", "age": 4, "test_boolean_column": false,'
        ' "date": null, "division": "Bern", "pango_lineage": "A"}',
        '{"primary_key": "key5", "age": 8, "test_boolean_column": null,'
        ' "date": "2021-03-22", "division": null, "pango_lineage": null}',
    ]
    ndjson.write_text("\n".join(rows) + "\n")
    h.append_data_from_file("default", str(ndjson))
    # guards: pango_lineage is lineage-indexed, primary_key phylo-backed
    closure = spark.createDataFrame(
        [("B.1", "B.1"), ("B.1", "B.1.1"), ("B.1.1", "B.1.1"), ("A", "A")],
        "ancestor string, descendant string",
    )
    h.db.register_lineage("pango_lineage", closure)
    nodes = spark.createDataFrame(
        [("key1", None, 0, 0, 1, 0.0)],
        "node string, parent string, depth int, euler_in int, "
        "euler_out int, branch_length double",
    )
    h.db.register_phylo_tree("primary_key", nodes)
    return h


def count_where(h: SiloDatabase, flt: str) -> int:
    t = h.query("default",
                f"default.filter({flt}).groupBy({{count := count()}})")
    return t.column("count").to_pylist()[0] if t.num_rows else 0


def test_update_assigns_scalar_values(handle):
    h = handle
    # Two rows (key1, key4) start with age 4; key3 has a null age.
    assert count_where(h, "age = 4") == 2
    h.update_column_saneql("default", "age", "100", "age = 4")
    assert count_where(h, "age = 4") == 0
    assert count_where(h, "age = 100") == 2

    # A previously-null value can be set to a concrete value.
    assert count_where(h, "age = 7") == 0
    h.update_column_saneql("default", "age", "7", "primary_key = 'key3'")
    assert count_where(h, "age = 7") == 1

    # A SaneQL `null` literal clears the matched rows back to null.
    h.update_column_saneql("default", "age", "null", "primary_key = 'key3'")
    assert count_where(h, "age = 7") == 0
    assert count_where(h, "age = null") == 1

    # Bool values are parsed as the boolean literals 'true'/'false'.
    h.update_column_saneql("default", "test_boolean_column", "false", "true")
    assert count_where(h, "test_boolean_column = false") == 5

    # Date values are SaneQL date literals.
    h.update_column_saneql("default", "date", "'2000-01-01'::date", "true")
    assert count_where(h, "date = '2000-01-01'::date") == 5


def test_update_string_family(handle):
    h = handle
    # Indexed string columns can be reassigned; filters stay consistent.
    assert count_where(h, "division = 'Bern'") == 2
    h.update_column_saneql("default", "division", "'Zurich'",
                           "division = 'Bern'")
    assert count_where(h, "division = 'Bern'") == 0
    assert count_where(h, "division = 'Zurich'") == 3  # key2 already Zurich

    # A value not previously present in the dictionary is interned on update.
    h.update_column_saneql("default", "division", "'Lausanne'",
                           "primary_key = 'key1'")
    assert count_where(h, "division = 'Lausanne'") == 1

    # null clears an indexed string; a concrete value can be set again.
    h.update_column_saneql("default", "division", "null",
                           "primary_key = 'key1'")
    assert count_where(h, "division = null") == 2  # key1 + key5
    h.update_column_saneql("default", "division", "'Basel'",
                           "primary_key = 'key1'")
    assert count_where(h, "division = null") == 1
    assert count_where(h, "division = 'Basel'") == 1


def test_update_rejects_invalid_requests(handle):
    h = handle
    # A literal that does not match the column's type is a query error.
    with pytest.raises(QueryCompileError, match="expected integer literal"):
        h.update_column_saneql("default", "age", "'not_a_number'", "true")

    # A string literal must be quoted; an int literal is not a string value.
    with pytest.raises(QueryCompileError, match="expected string literal"):
        h.update_column_saneql("default", "division", "5", "true")

    # A phylogenetic-tree-backed column cannot be updated.
    with pytest.raises(QueryCompileError, match="phylogenetic tree"):
        h.update_column_saneql("default", "primary_key", "'new_key'", "true")

    # A lineage-indexed column cannot be updated.
    with pytest.raises(QueryCompileError, match="lineage index"):
        h.update_column_saneql("default", "pango_lineage", "'B.1'", "true")

    # Unknown columns are reported.
    with pytest.raises(QueryCompileError, match="unknown column"):
        h.update_column_saneql("default", "does_not_exist", "1", "true")

    # Date updates demand the ::date cast shape.
    with pytest.raises(QueryCompileError, match="expected date type cast"):
        h.update_column_saneql("default", "date", "'2000-01-01'", "true")
    with pytest.raises(QueryCompileError, match="invalid date"):
        h.update_column_saneql("default", "date", "'not-a-date'::date", "true")
    with pytest.raises(QueryCompileError, match="expected boolean literal"):
        h.update_column_saneql("default", "test_boolean_column", "1", "true")


def test_update_python_value_form(handle):
    """The Python-value form accepts native values including None-clearing
    and date objects (embedded-API convenience on top of the SaneQL form)."""
    h = handle
    h.update_column("default", "division", "Ticino", "division = 'Geneva'")
    assert count_where(h, "division = 'Ticino'") == 1
    h.update_column("default", "date", datetime.date(1999, 12, 31),
                    "primary_key = 'key1'")
    assert count_where(h, "date = '1999-12-31'::date") == 1
    h.update_column("default", "division", None)
    assert count_where(h, "division = null") == 5


def test_update_rejects_non_scalar_types(spark):
    """Array/struct columns refuse with the reference's unsupported-type
    error (scalar_column_update.cpp:83-88 default branch)."""
    from lapis_silo_spark.catalog import Database
    from lapis_silo_spark.storage import check_updatable

    db = Database(spark)
    df = spark.createDataFrame(
        [("k1", ["a"])], "primary_key string, tags array<string>"
    )
    db.register_table("t", df, primary_key="primary_key")
    with pytest.raises(QueryCompileError, match="does not support"):
        check_updatable(db, "t", "tags")


def test_storage_update_accepts_saneql_filter(spark, tmp_path):
    """storage.update_column takes a SaneQL filter STRING (reference API
    shape) in addition to engine Expressions / Columns."""
    from lapis_silo_spark.catalog import Database
    from lapis_silo_spark.storage import save_version, update_column

    db = Database(spark)
    df = spark.createDataFrame(
        [("k1", "Bern", 4), ("k2", "Zurich", 6)],
        "primary_key string, division string, age int",
    )
    db.register_table("default", df, primary_key="primary_key")
    root = str(tmp_path / "root")
    save_version(db, root)
    update_column(db, root, "default", "division", "Basel",
                  "division = 'Bern'")
    rows = {r["primary_key"]: r["division"]
            for r in db.table("default").collect()}
    assert rows == {"k1": "Basel", "k2": "Zurich"}


_UPDATE_FILTERS = {
    # Column form is null on k2 (null age); the Expression forms are false
    "metadata": ("age = 30", lambda: Equals("age", 30),
                 lambda: F.col("age") == 30),
    # needs a sequence flag join
    "nucleotideEquals": (
        "nucleotideEquals(position := 3, symbol := 'T', sequenceName := 'main')",
        lambda: SymbolEquals("main", 3, "T"),
        None,
    ),
    "none": (None, lambda: None, lambda: None),
}


@pytest.mark.parametrize("case", sorted(_UPDATE_FILTERS))
def test_update_forms_agree(spark, example_db, tmp_path, case):
    """The embedded API and the version store run one update: the same
    filter given as a SaneQL string, an engine Expression or (metadata
    only) a Column updates the same rows."""
    from lapis_silo_spark.catalog import Database
    from lapis_silo_spark.storage import load_version, update_column

    def fresh() -> Database:
        db = Database(spark)
        db.register_table("default", example_db.table("default"),
                          primary_key="primary_key")
        db.register_sequence_store("default",
                                   example_db.sequence_store("default"))
        return db

    def table_rows(db: Database) -> list:
        return sorted(db.table("default").collect())

    saneql, as_expr, as_column = _UPDATE_FILTERS[case]
    api = SiloDatabase(spark)
    api.db = fresh()
    api.update_column("default", "country", "Updated", saneql)
    results = {"api": table_rows(api.db)}
    forms = {"string": saneql, "expression": as_expr()}
    if as_column is not None:
        forms["column"] = as_column()
    for form, flt in forms.items():
        root = str(tmp_path / form)
        update_column(fresh(), root, "default", "country", "Updated", flt)
        results[form] = table_rows(load_version(spark, root))

    expected = results.pop("api")
    for form, rows in results.items():
        assert rows == expected, form
    updated = {r["primary_key"] for r in expected if r["country"] == "Updated"}
    assert updated == {
        "metadata": {"k1"}, "nucleotideEquals": {"k2"},
        "none": {"k1", "k2", "k3", "k4"},
    }[case]
