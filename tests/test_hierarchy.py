"""Lineage closure (3 recombinant modes) + phylo tree operators."""

from __future__ import annotations

from lapis_silo_spark.expressions import LineageFilter, PhyloDescendantOf, TrueExpr
from lapis_silo_spark.operators import Pipeline
from lapis_silo_spark.operators.phylo import (
    most_recent_common_ancestor,
    phylo_subtree,
)
from lapis_silo_spark.sources.lineage import build_lineage_closure
from lapis_silo_spark.sources.phylo import build_phylo_nodes, parse_newick

from conftest import LINEAGE_PARENTS, pks


def scan(db):
    return Pipeline.scan(db, "default")


# -- closure construction ----------------------------------------------------

def closure_set(spark, ancestor, mode):
    df = build_lineage_closure(spark, LINEAGE_PARENTS)
    return {
        r["descendant"]
        for r in df.filter(
            (df.ancestor == ancestor) & (df.mode == mode)
        ).collect()
    }


def test_closure_do_not_follow(spark):
    assert closure_set(spark, "B.1", "doNotFollow") == {
        "B.1", "B.1.1", "B.1.1.7", "B.1.617.2", "AY.43", "B.1.177",
    }


def test_closure_always_follow(spark):
    got = closure_set(spark, "B.1", "alwaysFollow")
    assert "XBB" in got
    # from B.1.1 only ONE of XBB's parents is in-clade: alwaysFollow still adds
    assert "XBB" in closure_set(spark, "B.1.1", "alwaysFollow")


def test_closure_fully_contained(spark):
    # from B.1 both parents (B.1.1.7, B.1.177) are in-clade → XBB included
    assert "XBB" in closure_set(spark, "B.1", "followIfFullyContainedInClade")
    # from B.1.1 only B.1.1.7 is in-clade → XBB excluded
    assert "XBB" not in closure_set(spark, "B.1.1", "followIfFullyContainedInClade")


# -- lineage filter ----------------------------------------------------------

def test_lineage_exact(example_db):
    assert pks(scan(example_db).filter(LineageFilter("pango_lineage", "B.1"))) == {
        "k1"
    }


def test_lineage_sublineages(example_db):
    expr = LineageFilter("pango_lineage", "B.1", include_sublineages=True)
    assert pks(scan(example_db).filter(expr)) == {"k1", "k2"}  # XBB not followed
    expr = LineageFilter(
        "pango_lineage", "B.1", include_sublineages=True,
        recombinant_mode="alwaysFollow",
    )
    assert pks(scan(example_db).filter(expr)) == {"k1", "k2", "k3"}


def test_lineage_alias_matches_canonical_under_both_flags(spark, example_db):
    from lapis_silo_spark.catalog import Database
    from lapis_silo_spark.sources.lineage import MODES

    db = Database(spark)
    db.register_table("default", example_db.table("default"))
    db.register_lineage("pango_lineage", build_lineage_closure(
        spark, LINEAGE_PARENTS, aliases={"Q": "B.1.1.7", "BX": "B.1"},
    ))
    for alias, canonical, exact in [("Q", "B.1.1.7", {"k2"}),
                                    ("BX", "B.1", {"k1"})]:
        for sub in (False, True):
            for mode in MODES:
                got = [
                    pks(scan(db).filter(LineageFilter(
                        "pango_lineage", name, include_sublineages=sub,
                        recombinant_mode=mode,
                    )))
                    for name in (alias, canonical)
                ]
                assert got[0] == got[1], (alias, sub, mode)
                if not sub:
                    assert got[0] == exact
    # a name outside the definition still matches nothing
    assert pks(scan(db).filter(LineageFilter("pango_lineage", "Z.9"))) == set()


def test_lineage_sublineages_compile_without_join(example_db):
    expr = LineageFilter("pango_lineage", "B.1", include_sublineages=True)
    plan = scan(example_db).filter(expr).df._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "Join" not in plan


def test_lineage_null_value(example_db):
    assert pks(scan(example_db).filter(LineageFilter("pango_lineage", None))) == {
        "k4"
    }


# -- phylo -------------------------------------------------------------------

def test_phylo_descendant_of(example_db):
    assert pks(scan(example_db).filter(PhyloDescendantOf("usherTree", "A"))) == {
        "k1",
        "k2",
    }
    assert pks(scan(example_db).filter(PhyloDescendantOf("usherTree", "ROOT"))) == {
        "k1",
        "k2",
        "k3",
    }


def test_mrca_pair(example_db):
    from lapis_silo_spark.expressions import InSet

    p = scan(example_db).filter(InSet("primary_key", ["k1", "k2"]))
    (row,) = most_recent_common_ancestor(p, "usherTree").collect()
    assert row["mrcaNode"] == "A"
    assert row["mrcaParent"] == "ROOT"
    assert row["mrcaDepth"] == 1
    assert row["missingNodeCount"] == 0


def test_mrca_all_with_missing(example_db):
    p = scan(example_db).filter(TrueExpr())
    (row,) = most_recent_common_ancestor(
        p, "usherTree", print_nodes_not_in_tree=True
    ).collect()
    assert row["mrcaNode"] == "ROOT"
    assert row["missingNodeCount"] == 1  # k4's NOT_IN_TREE
    assert row["missingFromTree"] == "NOT_IN_TREE"


def test_phylo_subtree(example_db):
    from lapis_silo_spark.expressions import InSet

    # MRCA-rooted induced subtree with branch lengths
    p = scan(example_db).filter(InSet("primary_key", ["k1", "k2"]))
    (row,) = phylo_subtree(p, "usherTree").collect()
    assert row["subtreeNewick"] == "(L1:0.1,L2:0.2)A;"
    assert row["missingNodeCount"] == 0

    # L1+L3: MRCA is ROOT; A and B are unary pass-throughs
    p = scan(example_db).filter(InSet("primary_key", ["k1", "k3"]))
    (row,) = phylo_subtree(p, "usherTree").collect()
    assert row["subtreeNewick"] == "((L1:0.1)A:0.3,(L3:0.4)B:0.5)ROOT;"
    (row,) = phylo_subtree(p, "usherTree", contract_unary_nodes=True).collect()
    assert row["subtreeNewick"] == "(L1:0.4,L3:0.9)ROOT;"


def test_newick_roundtrip(spark):
    edges = parse_newick("((L1:0.1,L2:0.2)A:0.3,(L3:0.4)B:0.5)ROOT;")
    as_map = {n: p for n, p, _ in edges}
    assert as_map == {
        "ROOT": None, "A": "ROOT", "B": "ROOT", "L1": "A", "L2": "A", "L3": "B",
    }
    nodes = build_phylo_nodes(spark, edges)
    rows = {r["node"]: r for r in nodes.collect()}
    assert rows["ROOT"]["depth"] == 0
    assert rows["L1"]["depth"] == 2
    # Euler containment: A's interval inside ROOT's, L1's inside A's
    assert rows["ROOT"]["euler_in"] < rows["A"]["euler_in"]
    assert rows["A"]["euler_out"] < rows["ROOT"]["euler_out"]
    assert (
        rows["A"]["euler_in"] < rows["L1"]["euler_in"] <= rows["L1"]["euler_out"]
        < rows["A"]["euler_out"]
    )


def test_auspice_json_matches_newick(spark):
    """The same tree via Auspice v2 JSON and Newick must yield identical
    (node, parent, branch_length) tuples in the same (file) order —
    phylo_tree.cpp:71-107 takes node_attrs.div as the branch length."""
    import json

    import pytest

    from lapis_silo_spark.sources.phylo import parse_auspice_json, parse_tree_file

    auspice = json.dumps({
        "version": "v2",
        "tree": {
            "name": "ROOT",
            "children": [
                {"name": "A", "node_attrs": {"div": 0.3}, "children": [
                    {"name": "L1", "node_attrs": {"div": 0.1}},
                    {"name": "L2", "node_attrs": {"div": 0.2}},
                ]},
                {"name": "B", "node_attrs": {"div": 0.5}, "children": [
                    {"name": "L3", "node_attrs": {"div": 0.4}},
                ]},
            ],
        },
    })
    from lapis_silo_spark.sources.phylo import parse_newick

    assert parse_auspice_json(auspice) == parse_newick(
        "((L1:0.1,L2:0.2)A:0.3,(L3:0.4)B:0.5)ROOT;"
    )
    # extension dispatch mirrors phylo_tree.cpp:378-394
    assert parse_tree_file("t.json", auspice)[0][0] == "ROOT"
    with pytest.raises(ValueError, match="must end with .nwk or .json"):
        parse_tree_file("t.txt", "x")
    with pytest.raises(ValueError, match="'tree' entry"):
        parse_auspice_json("{}")
    with pytest.raises(ValueError, match="Duplicate node"):
        parse_auspice_json(json.dumps(
            {"tree": {"name": "R", "children": [{"name": "R"}]}}
        ))
