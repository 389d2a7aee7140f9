"""Substring-span dedup, token-window chunking, and PII redaction.

Hand-computed fixtures pin the exact semantics the DuckDB oracles replay at
sf0.01 (driver_queries: dedup_substring_spans / dedup_substring_clean /
text_chunk_windows / text_pii_redact).
"""

from __future__ import annotations

import pytest

from lapis_silo_spark.functions.dedup import (
    duplicate_spans,
    remove_duplicate_spans,
)
from lapis_silo_spark.functions.text import (
    PII_PATTERNS,
    chunk_windows,
    pii_counts,
    pii_redact,
)

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def span_docs(spark):
    # k=3 corpus exercising every branch: canonical-only doc, cross-doc
    # dup with clean margins, chained adjacent/overlapping windows that
    # cover a whole doc, a doc shorter than k, and within-doc repetition.
    return spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "x x a b c y y"),
            (3, "c d e a b c d"),
            (4, "q r"),
            (5, "m n o p m n o p"),
        ],
        ["doc_id", "text"],
    )


def test_duplicate_spans_hand_computed(spark, span_docs):
    rows = {
        r["id"]: r
        for r in duplicate_spans(span_docs, "doc_id", "text", k=3).collect()
    }
    expect = {
        # id: (n_tokens, dup_tokens, n_spans, dup_fraction)
        1: (5, 0, 0, 0.0),  # every gram canonical here
        2: (7, 3, 1, round(3 / 7, 6)),  # "a b c" at pos 3 -> span [3,5]
        3: (7, 7, 1, 1.0),  # [1,3] + [4,6] + [5,7] chain-merge to [1,7]
        4: (2, 0, 0, 0.0),  # shorter than k
        5: (8, 4, 1, 0.5),  # within-doc repeat "m n o p" -> [5,8]
    }
    assert set(rows) == set(expect)
    for i, (n, d, s, f) in expect.items():
        r = rows[i]
        assert (r["n_tokens"], r["dup_tokens"], r["n_spans"]) == (n, d, s), i
        assert r["dup_fraction"] == pytest.approx(f, abs=1e-9), i


def test_remove_duplicate_spans_hand_computed(spark, span_docs):
    rows = {
        r["id"]: r
        for r in remove_duplicate_spans(span_docs, "doc_id", "text", k=3).collect()
    }
    expect = {
        1: (5, "a b c d e"),  # canonical occurrences survive
        2: (4, "x x y y"),
        3: (0, ""),  # fully covered doc empties out
        4: (2, "q r"),
        5: (4, "m n o p"),
    }
    assert set(rows) == set(expect)
    for i, (n, txt) in expect.items():
        assert (rows[i]["clean_tokens"], rows[i]["clean_text"]) == (n, txt), i


def test_spans_and_clean_agree(spark, span_docs):
    """clean_tokens + dup_tokens == n_tokens, doc by doc."""
    sp = duplicate_spans(span_docs, "doc_id", "text", k=3)
    cl = remove_duplicate_spans(span_docs, "doc_id", "text", k=3)
    joined = sp.join(cl, "id").collect()
    assert len(joined) == 5
    for r in joined:
        assert r["clean_tokens"] + r["dup_tokens"] == r["n_tokens"], r["id"]


def test_chunk_windows_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4 t5 t6 t7"),
            (2, "u1 u2 u3 u4"),
            (3, "v1 v2 v3 v4 v5"),
        ],
        ["doc_id", "text"],
    )
    out = chunk_windows(docs, "doc_id", "text", size=4, stride=2)
    rows = sorted(
        (r["id"], r["chunk_id"], r["chunk_start"], r["chunk_tokens"], r["chunk_text"])
        for r in out.collect()
    )
    assert rows == [
        (1, 0, 0, 4, "t1 t2 t3 t4"),
        (1, 1, 2, 4, "t3 t4 t5 t6"),
        (1, 2, 4, 3, "t5 t6 t7"),
        (2, 0, 0, 4, "u1 u2 u3 u4"),  # exact fit -> single window
        (3, 0, 0, 4, "v1 v2 v3 v4"),
        (3, 1, 2, 3, "v3 v4 v5"),  # partial tail window kept
    ]


def test_chunk_windows_rejects_bad_stride():
    with pytest.raises(ValueError):
        chunk_windows(None, "doc_id", "text", size=4, stride=5)
    with pytest.raises(ValueError):
        chunk_windows(None, "doc_id", "text", size=4, stride=0)


def test_pii_redact_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "contact john.doe@corp.io or 12-345-678-9012 at 10.0.0.1 end"),
            (2, "hello world 123 john at corp dot io"),
            # 4-digit leading group: no word boundary inside the digit run,
            # so the phone pattern must NOT fire
            (3, "serial 1234-555-666-7777 intact"),
        ],
        ["id", "s"],
    )
    counts = pii_counts("s")
    out = df.select(
        "id",
        *(counts[n].alias(n) for n, _, _ in PII_PATTERNS),
        pii_redact("s").alias("red"),
    )
    rows = {r["id"]: r for r in out.collect()}
    assert (rows[1]["email"], rows[1]["phone"], rows[1]["ipv4"]) == (1, 1, 1)
    assert rows[1]["red"] == "contact <EMAIL> or <PHONE> at <IP> end"
    assert (rows[2]["email"], rows[2]["phone"], rows[2]["ipv4"]) == (0, 0, 0)
    assert rows[2]["red"] == "hello world 123 john at corp dot io"
    assert rows[3]["phone"] == 0
    assert rows[3]["red"] == "serial 1234-555-666-7777 intact"


def test_substring_plan_stays_narrow(spark, span_docs):
    """The dup-occurrence join must not carry text: only id/pos/md5 shuffle."""
    plan = duplicate_spans(span_docs, "doc_id", "text", k=3)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_chunk_windows_plan_has_no_exchange(spark):
    """Chunking is a pure per-row map: sequence/transform/posexplode fuse
    into one Generate over the scan — any Exchange is a regression."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], ["doc_id", "text"]
    )
    plan = (
        chunk_windows(docs, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "posexplode" in plan


def test_gram_occurrences_arrow_matches_expression_path(spark):
    """The Arrow word-gram producer (round 11) must emit the exact
    occurrence multiset of the expression reference, across the edge
    cases the expression guards encode: NULL text, empty string,
    whitespace-only, shorter-than-k, untrimmed \\t/\\n whitespace,
    uppercase (normalization), and multibyte UTF-8."""
    from dedup_reference import gram_occurrences_expr

    from lapis_silo_spark.functions.dedup import _gram_occurrences_arrow

    docs = spark.createDataFrame(
        [
            (1, "a b c d e a b c d e"),
            (2, None),
            (3, ""),
            (4, "   "),
            (5, "a b"),
            (6, "\tA  b\nC d\x0be f\r g h"),
            (7, "héllo wörld héllo wörld héllo wörld"),
            (8, "日本語 テキスト 日本語 テキスト 日本語"),
            (9, " leading and trailing  spaces   collapse here too "),
        ],
        ["doc_id", "text"],
    )

    def multiset(df):
        return sorted(
            (r["id"], r["pos"], bytes(r["gh"]).hex())
            for r in df.collect()
        )

    for k in (2, 3):
        exp = multiset(gram_occurrences_expr(docs, "doc_id", "text", k))
        arr = multiset(_gram_occurrences_arrow(docs, "doc_id", "text", k))
        assert arr == exp and len(exp) > 0, f"word k={k}"


_SPAN_TEXT = "the quick brown fox jumps over the lazy dog again and again"
_SPAN_EDGE_INPUTS = {
    "null_ids": [
        (1, _SPAN_TEXT), (None, _SPAN_TEXT), (3, _SPAN_TEXT + " tail")
    ],
    "null_text": [(1, _SPAN_TEXT), (2, None), (3, _SPAN_TEXT + " tail")],
    "empty_text": [(1, _SPAN_TEXT), (2, ""), (3, _SPAN_TEXT + " tail")],
    "empty_frame": [],
}


@pytest.mark.parametrize("case", sorted(_SPAN_EDGE_INPUTS))
def test_span_functions_agree_across_id_types(spark, case):
    """The canonical pick has one form per id type (a packed decimal key
    for integral ids, a struct min otherwise); all four span functions must
    give the same answer through both on edge inputs. A null-id document
    takes no part in the pick: the other documents come out as if it were
    absent."""
    from lapis_silo_spark.functions.dedup import (
        duplicate_char_spans,
        remove_duplicate_char_spans,
    )

    fns = (duplicate_spans, remove_duplicate_spans, duplicate_char_spans,
           remove_duplicate_char_spans)
    rows = _SPAN_EDGE_INPUTS[case]

    def run(fn, id_type, docs):
        if id_type == "string":
            docs = [(None if i is None else str(i), t) for i, t in docs]
        df = spark.createDataFrame(docs, f"doc_id {id_type}, text string")
        return sorted(
            (
                ((None if r[0] is None else str(r[0])),) + tuple(r[1:])
                for r in fn(df, "doc_id", "text").collect()
            ),
            key=repr,
        )

    for fn in fns:
        as_long = run(fn, "long", rows)
        assert as_long == run(fn, "string", rows), fn.__name__
        assert len(as_long) == len(rows), fn.__name__
        if case == "null_ids":
            kept = [r for r in as_long if r[0] is not None]
            absent = run(fn, "long", [r for r in rows if r[0] is not None])
            assert kept == absent, fn.__name__
