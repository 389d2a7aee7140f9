"""SaneQL front-end: parse + bind + execute against the example dataset.

Query texts mirror the reference's golden corpus style
(``/root/reference/endToEndTests/test/queries/*.json`` and
``documentation/query_documentation.md:28-36``).
"""

from __future__ import annotations

import pytest

from lapis_silo_spark.expressions.base import QueryCompileError
from lapis_silo_spark.saneql import bind_query, execute_query, parse
from lapis_silo_spark.saneql import ast


def rows(db, text):
    return [r.asDict() for r in execute_query(db, text).collect()]


# -- parser ------------------------------------------------------------------

def test_parse_pipeline_shapes():
    tree = parse("default.filter(country = 'CH').groupBy({count := count()})")
    assert isinstance(tree, ast.FunctionCall)
    assert tree.function_name == "groupBy"
    inner = tree.positional[0]
    assert isinstance(inner, ast.FunctionCall) and inner.function_name == "filter"

    tree = parse("x.filter(a = 'it''s')")  # '' escape
    predicate = tree.positional[1]
    assert predicate.right.value == "it's"

    tree = parse("t.filter(d >= '2021-01-01'::date) -- trailing comment")
    cast = tree.positional[1].right
    assert isinstance(cast, ast.TypeCast) and cast.target_type == "date"

    tree = parse("t.limit(3)")
    assert tree.positional[1].value == 3

    with pytest.raises(QueryCompileError):
        parse("t.filter(a = )")
    with pytest.raises(QueryCompileError):
        parse("t.filter(nOf(position := 1, 2))")  # positional after named
    with pytest.raises(QueryCompileError):
        parse("t.filter(a = 'unterminated")


def test_parse_precedence():
    tree = parse("t.filter(a = 'x' && b = 'y' || !c = 'z')")
    pred = tree.positional[1]
    assert isinstance(pred, ast.BinaryExpr) and pred.op == "||"
    assert pred.left.op == "&&"
    assert isinstance(pred.right, ast.UnaryNotExpr)


# -- metadata relational core ------------------------------------------------

def test_flagship_filter_groupby(example_db):
    out = rows(
        example_db,
        "default.filter(country = 'Switzerland').groupBy({count := count()})",
    )
    assert out == [{"count": 2}]


def test_filter_and_or_not(example_db):
    out = rows(
        example_db,
        "default.filter(country = 'Germany' && !(age = 55))"
        ".project({primary_key})",
    )
    assert {r["primary_key"] for r in out} == {"k4"}


def test_groupby_keys_and_orderby(example_db):
    out = rows(
        example_db,
        "default.groupBy({cnt := count()}, {country})"
        ".orderBy({desc(cnt), country})",
    )
    assert out[0]["cnt"] == 2
    assert [r["country"] for r in out] == sorted(
        [r["country"] for r in out], key=lambda c: c or ""
    ) or len(out) == 3


def test_map_at_isoweek_limit_offset(example_db):
    out = rows(
        example_db,
        "default.map({c := country.at(1), w := date.isoWeek()})"
        ".project({primary_key, c, w}).orderBy({primary_key})"
        ".offset(1).limit(2)",
    )
    assert [r["primary_key"] for r in out] == ["k2", "k3"]
    assert out[0]["c"] == "S" and out[1]["c"] == "G"


def test_map_evaluates_against_input_row(example_db):
    """Every map() entry reads the node's INPUT row (MapNode semantics,
    ``Pipeline.map``): ``x := age`` sees the original age even though the
    same map replaces ``age``."""
    out = rows(
        example_db,
        "default.map({age := 1, x := age}).project({primary_key, age, x})"
        ".orderBy({primary_key})",
    )
    assert [r["x"] for r in out] == [30, None, 55, 20]
    assert [r["age"] for r in out] == [1, 1, 1, 1]


def test_order_survives_flag_joins(example_db):
    """A sorted input stays sorted through filter() and map() nodes that
    attach index-backed flags by join (Catalyst drops a sort beneath a
    join)."""
    out = rows(
        example_db,
        "default.orderBy({desc(age)}).filter(!nucleotideEquals(position := 3,"
        " symbol := 'T', sequenceName := 'main'))",
    )
    assert [r["primary_key"] for r in out] == ["k3", "k1", "k4"]
    out = rows(
        example_db,
        "default.orderBy({desc(age)}).project({primary_key})"
        ".map({c := main.at(3)})",
    )
    assert [r["primary_key"] for r in out] == ["k3", "k1", "k4", "k2"]


def test_between_and_in_and_like(example_db):
    out = rows(
        example_db,
        "default.filter(between(date, '2021-01-15'::date, null))"
        ".project({primary_key})",
    )
    assert {r["primary_key"] for r in out} == {"k2", "k3"}

    out = rows(
        example_db,
        "default.filter(in(pango_lineage, {'B.1', 'XBB'})).project({primary_key})",
    )
    assert {r["primary_key"] for r in out} == {"k1", "k3"}

    out = rows(
        example_db,
        "default.filter(like(country, '^Ger')).project({primary_key})",
    )
    assert {r["primary_key"] for r in out} == {"k3", "k4"}


def test_comparison_partiality_matches_reference(example_db):
    assert {r["primary_key"] for r in rows(
        example_db, "default.filter(age >= 30).project({primary_key})"
    )} == {"k1", "k3"}
    with pytest.raises(QueryCompileError, match="not implemented for integer"):
        execute_query(example_db, "default.filter(age > 30)")
    with pytest.raises(QueryCompileError, match="not implemented for date"):
        execute_query(example_db, "default.filter(date > '2021-01-01'::date)")


def test_schema_and_union_and_join(example_db):
    out = rows(example_db, "default.schema()")
    names = {r["fieldName"] for r in out}
    assert {"primary_key", "country", "age"} <= names

    out = rows(
        example_db,
        "default.project({primary_key}).unionAll(default.project({primary_key}))",
    )
    assert len(out) == 8

    out = rows(
        example_db,
        "default.project({primary_key, country}).join("
        "default.project({age}).map({pk2 := 'k1'}), on := primary_key = pk2)",
    )
    assert {r["primary_key"] for r in out} == {"k1"}
    assert len(out) == 4  # k1 × all 4 right rows

    with pytest.raises(QueryCompileError, match="disjoint column names"):
        execute_query(
            example_db,
            "default.join(default, on := primary_key = primary_key)",
        )
    with pytest.raises(QueryCompileError, match="invalid join type"):
        execute_query(
            example_db,
            "default.project({primary_key}).join("
            "default.project({age}).map({pk2 := 'k1'}), "
            "on := primary_key = pk2, type := sideways)",
        )


# -- genomic surface ---------------------------------------------------------

def test_saneql_nucleotide_equals_and_maybe(example_db):
    out = rows(
        example_db,
        "default.filter(nucleotideEquals(position := 3, symbol := 'T', "
        "sequenceName := 'main')).project({primary_key})",
    )
    assert {r["primary_key"] for r in out} == {"k2"}

    out = rows(
        example_db,
        "default.filter(maybe(nucleotideEquals(position := 5, symbol := 'A', "
        "sequenceName := 'main'))).project({primary_key})",
    )
    assert {r["primary_key"] for r in out} == {"k1", "k2", "k3"}


def test_saneql_nof_and_has_mutation(example_db):
    out = rows(
        example_db,
        "default.filter(nOf(1, {hasMutation(position := 3, sequenceName := "
        "'main'), hasMutation(position := 4, sequenceName := 'main')}))"
        ".project({primary_key})",
    )
    assert {r["primary_key"] for r in out} == {"k2"}


def test_saneql_lineage_and_phylo(example_db):
    out = rows(
        example_db,
        "default.filter(pango_lineage.lineage('B.1', includeSublineages := "
        "true)).project({primary_key})",
    )
    assert {r["primary_key"] for r in out} == {"k1", "k2"}

    out = rows(
        example_db,
        "default.filter(phyloDescendantOf(usherTree, 'A'))"
        ".project({primary_key})",
    )
    assert {r["primary_key"] for r in out} == {"k1", "k2"}

    (mrca,) = rows(
        example_db,
        "default.filter(in(usherTree, {'L1', 'L2'}))"
        ".mostRecentCommonAncestor('usherTree')",
    )
    assert mrca["mrcaNode"] == "A"


def test_saneql_mutations_aggregate(example_db):
    out = rows(
        example_db,
        "default.mutations(minProportion := 0.0)"
        ".orderBy({sequenceName, position, mutationTo})",
    )
    muts = {(r["position"], r["mutationTo"]) for r in out}
    assert (3, "T") in muts  # k2's G3T

    out = rows(
        example_db,
        "default.filter(country = 'Switzerland')"
        ".insertions().orderBy({position})",
    )
    assert {(r["position"], r["insertedSymbols"]) for r in out} == {
        (5, "CCC"),
        (5, "CGG"),
    }


def test_saneql_mutation_profile(example_db):
    # distance 0 from full reference: only k1 (k3 matches via maybe: R@5⊇A,
    # missing positions compatible) — k3's R is maybe-compatible with A so it
    # does NOT count as a difference; k2 has a real mutation.
    out = rows(
        example_db,
        "default.filter(nucleotideMutationProfile(distance := 0, "
        "sequenceName := 'main', querySequence := 'ACGTACGTAC'))"
        ".project({primary_key})",
    )
    assert "k1" in {r["primary_key"] for r in out}
    assert "k2" not in {r["primary_key"] for r in out}


def test_saneql_error_cases(example_db):
    with pytest.raises(QueryCompileError, match="does not contain the column"):
        execute_query(example_db, "default.filter(nope = 'x')")
    with pytest.raises(QueryCompileError, match="not found in database"):
        execute_query(example_db, "missing_table.limit(1)")
    with pytest.raises(QueryCompileError, match="unknown function"):
        execute_query(example_db, "default.frobnicate()")
    with pytest.raises(QueryCompileError, match="1-indexed"):
        execute_query(
            example_db,
            "default.filter(nucleotideEquals(position := 0, symbol := 'A', "
            "sequenceName := 'main'))",
        )
    with pytest.raises(QueryCompileError, match="count"):
        execute_query(example_db, "default.groupBy({c := count(age)})")
    with pytest.raises(QueryCompileError, match="positive"):
        execute_query(example_db, "default.limit(0)")
    with pytest.raises(QueryCompileError, match="minProportion"):
        execute_query(example_db, "default.mutations(minProportion := 1.5)")


def test_saneql_mutation_profile_sequence_id(example_db):
    # distance 0 from k1's stored sequence (= full reference): k1 matches
    # itself; k3 is maybe-compatible (R@5 ⊇ A, uncovered ends are missing);
    # k2 differs (G3T) and k4 has no sequence.
    out = rows(
        example_db,
        "default.filter(nucleotideMutationProfile(distance := 0, "
        "sequenceName := 'main', sequenceId := 'k1')).project({primary_key})",
    )
    got = {r["primary_key"] for r in out}
    assert "k1" in got and "k2" not in got and "k4" not in got

    with pytest.raises(QueryCompileError, match="no stored sequence"):
        execute_query(
            example_db,
            "default.filter(nucleotideMutationProfile(distance := 0, "
            "sequenceName := 'main', sequenceId := 'nope'))",
        )
    with pytest.raises(QueryCompileError, match="Exactly one of"):
        execute_query(
            example_db,
            "default.filter(nucleotideMutationProfile(distance := 0, "
            "sequenceName := 'main'))",
        )
