"""Sequence predicates that cannot match an uncovered position compile
without the ``has_seq`` flag (the coverage-table aggregate and its join).

Ingest writes a mutation only inside a row's coverage window, and every row
that stores a sequence has a coverage row, so a mutation entry or a covered
position already implies ``has_seq``. These tests pin the answers of
``SymbolEquals`` and ``HasMutation`` against an oracle decoded from the
aligned strings, on a plain and on a locally adapted store, and pin that a
mutation-only predicate's plan reads no coverage rows.
"""

from __future__ import annotations

import re

import pytest

from lapis_silo_spark.alphabets import (
    NUC_MISSING,
    NUC_SYMBOLS,
    ambiguity_symbols,
    expand_symbol,
)
from lapis_silo_spark.catalog import Database
from lapis_silo_spark.expressions import Exact, HasMutation, Maybe, SymbolEquals
from lapis_silo_spark.expressions.base import AmbiguityMode
from lapis_silo_spark.operators import Pipeline
from lapis_silo_spark.sources.adapt import adapt_local_reference
from lapis_silo_spark.sources.ndjson import TableConfig, ingest_records

REF = "ACGTACGTAC"


def _seq(s, insertions=None, offset=None):
    return {
        "sequence": s,
        "sequenceCompressed": None,
        "insertions": insertions or [],
        "offset": offset,
    }


# Four rows store G at pos 2 (ref C), so adaptation flips that position.
RECORDS = [
    ("r01", _seq("AGGTACGTAC")),
    ("r02", _seq("AGGTACGTAA")),               # pos 10 A
    ("r03", _seq("AGGTRCGTAC")),               # pos 5 ambiguity R (ref A)
    ("r04", _seq("AGGTACTTAC")),               # pos 7 T
    ("r05", _seq(REF)),
    ("r06", _seq("NNGTTCGNNN")),               # leading/trailing N, pos 5 T
    ("r07", _seq("NNNNNNNNNN")),               # all N
    ("r08", _seq("ACNTACGTAC")),               # interior N
    ("r09", None),                             # null sequence
    ("r10", _seq("GTACGTAC", offset=2)),       # positions 1-2 uncovered
    ("r11", _seq("TCGTACGNAC")),               # pos 1 T, interior N
    ("r12", _seq(None, insertions=["3:AA"])),  # insertions, no sequence
]

MODES = {
    "plain": (AmbiguityMode.NONE, lambda e: e),
    "maybe": (AmbiguityMode.UPPER_BOUND, Maybe),
    "exact": (AmbiguityMode.LOWER_BOUND, Exact),
}


def _stored(payload, pos: int) -> str | None:
    """The symbol a row stores at ``pos``, decoded from its aligned string."""
    if payload is None or payload["sequence"] is None:
        return None
    full = NUC_MISSING * (payload["offset"] or 0) + payload["sequence"]
    return full.ljust(len(REF), NUC_MISSING)[pos - 1]


def _symbols_at(pos: int) -> list[str]:
    """Mutated symbols the data holds at ``pos``, the reference symbol,
    the missing symbol and the reference wildcard."""
    stored = {_stored(p, pos) for _, p in RECORDS} - {None}
    return sorted(stored | {REF[pos - 1], NUC_MISSING}) + ["."]


def _oracle_equals(payload, pos: int, symbol: str, mode: AmbiguityMode) -> bool:
    stored = _stored(payload, pos)
    searched = REF[pos - 1] if symbol == "." else symbol
    return stored is not None and stored in expand_symbol(
        searched, mode.value, False
    )


def _oracle_has_mutation(payload, pos: int, mode: AmbiguityMode) -> bool:
    stored = _stored(payload, pos)
    if stored is None:
        return False
    ref = REF[pos - 1]
    if mode is AmbiguityMode.UPPER_BOUND:
        return stored != ref
    return stored in set(NUC_SYMBOLS) - ambiguity_symbols(ref, False)


@pytest.fixture(scope="module")
def stores(spark):
    config = TableConfig(
        name="default", primary_key="primary_key", metadata={},
        nuc_sequences={"main": REF},
    )
    records = spark.createDataFrame(
        [{"primary_key": pk, "main": p} for pk, p in RECORDS],
        schema=config.spark_schema(),
    )
    main, store = ingest_records(spark, records, config)
    adapted = adapt_local_reference(store)
    assert adapted.local_symbol("main", 2) == "G"  # the flip happened

    def db(s):
        d = Database(spark)
        d.register_table("default", main, primary_key="primary_key")
        d.register_sequence_store("default", s)
        return d

    return {"plain": db(store), "adapted": db(adapted)}


@pytest.mark.parametrize("mode_name", sorted(MODES))
@pytest.mark.parametrize("store_name", ["plain", "adapted"])
def test_symbol_predicates_match_decoded_oracle(stores, store_name, mode_name):
    mode, wrap = MODES[mode_name]
    exprs, expected = {}, {}
    for pos in range(1, len(REF) + 1):
        for k, symbol in enumerate(_symbols_at(pos)):
            name = f"eq_{pos}_{k}"
            exprs[name] = wrap(SymbolEquals("main", pos, symbol))
            expected[name] = {
                pk for pk, p in RECORDS
                if _oracle_equals(p, pos, symbol, mode)
            }
        name = f"mut_{pos}"
        exprs[name] = wrap(HasMutation("main", pos))
        expected[name] = {
            pk for pk, p in RECORDS if _oracle_has_mutation(p, pos, mode)
        }
    # every predicate as one boolean column: one job for the whole grid
    rows = Pipeline.scan(stores[store_name], "default").map(exprs).df.collect()
    got = {name: {r["primary_key"] for r in rows if r[name]} for name in exprs}
    assert got == expected


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("expr,reads_coverage", [
    (SymbolEquals("main", 2, "G"), False),     # mutation only
    (HasMutation("main", 5), False),           # mutation only
    (Exact(HasMutation("main", 5)), False),
    (SymbolEquals("main", 5, "A"), True),      # reference: covered flag
    (SymbolEquals("main", 5, "N"), True),      # missing: ~covered, has_seq
    (Maybe(HasMutation("main", 5)), True),     # ~covered, has_seq
])
def test_mutation_only_predicate_reads_no_coverage(stores, expr, reads_coverage):
    df = Pipeline.scan(stores["plain"], "default").filter(expr).df
    plan = _optimized_plan(df)
    # the plain store's coverage rows are the ingest events of kind 'coverage'
    assert ("coverage" in plan) is reads_coverage
    if not reads_coverage:  # the one join is the mutations aggregate
        assert len(re.findall(r"\bJoin\b", plan)) == 1
