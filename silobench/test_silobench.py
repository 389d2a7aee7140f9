"""Tests of the benchmark's own inputs and math (no Spark needed).

    python3 -m pytest silobench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
from decimal import Decimal

import pytest

from silobench.common import TAIL_BEYOND, Tracer, self_times, tail_percentile
from silobench.genomes import descendants, generate
from silobench.launcher import _commands
from silobench.registry import (
    FAMILIES, family, load_rows, measured_rows, result_hash, split_outliers,
)
from silobench.serve import _spans
from silobench.serve_queries import QueryPools
from silobench import tables


def test_same_seed_gives_identical_inputs():
    a, b = generate(5, 30), generate(5, 30)
    assert a.ndjson_bytes() == b.ndjson_bytes()
    assert generate(6, 30).ndjson_bytes() != a.ndjson_bytes()
    pa_, pb = QueryPools(a, 5), QueryPools(b, 5)
    assert {k: [q.text for q in v] for k, v in pa_.pools.items()} == \
        {k: [q.text for q in v] for k, v in pb.pools.items()}


def test_head_is_the_first_genomes():
    g = generate(5, 30)
    assert g.head(20).ndjson_bytes() == g.ndjson_bytes(range(20))


def test_registry_tables_are_fixed():
    first, second = tables.build(), tables.build()
    assert first.keys() == second.keys()
    assert all(first[k].equals(second[k]) for k in first)


def test_families_partition_the_72_rows():
    rows = load_rows()
    names = [r["name"] for r in rows]
    assert len(names) == 72 and len(set(names)) == 72
    groups = {f: {r["name"] for r in rows if r["family"] == f}
              for f in FAMILIES}
    assert all(groups.values())
    assert set().union(*groups.values()) == set(names)
    assert sum(len(g) for g in groups.values()) == 72
    assert all(r["family"] == family(r["name"]) for r in rows)


def test_measured_rows_are_every_second_row_of_every_family():
    rows = load_rows()
    measured = measured_rows()
    assert [r["name"] for r in measured] == [r["name"] for r in rows[::2]]
    assert {r["family"] for r in measured} == set(FAMILIES)


def test_launcher_splits_commands_at_double_dashes():
    argv = ["--", "preprocessing", "--output", "s", "--", "api", "--port",
            "1"]
    assert _commands(argv) == [["preprocessing", "--output", "s"],
                               ["api", "--port", "1"]]


@pytest.mark.parametrize("n", [12, 13, 20, 57, 100, 200, 1000, 5000])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    xs = [float(i) for i in range(n)]
    q, value = tail_percentile(xs)
    assert sum(x > value for x in xs) >= TAIL_BEYOND
    assert q <= 99.0
    if q < 99.0:  # the highest such percentile: one rank up has too few
        assert sum(x > value + 1 for x in xs) < TAIL_BEYOND


def test_tail_percentile_without_enough_samples_is_the_maximum():
    assert tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # leaves parent
        {"id": 4, "parent": 1, "start": 1.5, "end": 2.5},  # grandchild
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[4] == pytest.approx(1.0)


def test_spans_nest_under_the_open_span_or_a_reserved_parent():
    tracer = Tracer()
    root = tracer.reserve()
    with tracer.span("outer", "r1", parent=root) as outer:
        with tracer.span("inner", "r1") as inner:
            pass
    tracer.add("root", outer.start, outer.end, "r1", sid=root)
    parents = {s["name"]: s["parent"] for s in tracer.spans}
    assert parents == {"root": None, "outer": root, "inner": inner.parent}
    assert inner.parent == outer.id


def test_spans_of_several_processes_get_unique_ids(tmp_path):
    def span(sid, parent):
        return {"id": sid, "parent": parent, "name": "x", "trace": "setup",
                "start": 0.0, "end": 1.0}

    (tmp_path / "serve.json").write_text(json.dumps([span(0, None),
                                                   span(1, 0)]))
    (tmp_path / "append.json").write_text(json.dumps([span(0, None),
                                                      span(2, 0)]))
    spans = _spans(tmp_path)
    assert len({s["id"] for s in spans}) == 4
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            assert by_id[s["parent"]]["process"] == s["process"]


def test_split_outliers_flags_rows_off_by_more_than_ten_percent():
    def rec(b, e, t):
        return {"build_s": b, "execute_s": e, "transfer_s": t}

    traced = {"ok": rec(0.2, 0.5, 0.3), "edge": rec(0.3, 0.5, 0.29),
              "slow": rec(0.2, 0.9, 0.3), "fast": rec(0.1, 0.3, 0.1)}
    walls = {"ok": 1.0, "edge": 1.0, "slow": 1.0, "fast": 1.0}
    assert split_outliers(traced, walls) == ["fast", "slow"]


def test_result_hash_ignores_order_and_number_types():
    assert result_hash([(1, "a"), (2.0, "b")]) == \
        result_hash([(2, "b"), (Decimal("1.0000001"), "a")])
    assert result_hash([(1, [3, 2])]) == result_hash([(1.0, [2, 3])])
    assert result_hash([(1, "a")]) != result_hash([(1, "b")])


def test_lineage_closure_does_not_follow_recombinants():
    assert "XBB" not in descendants("B.1.1")
    assert descendants("XBB") == {"XBB", "XBB.1"}
