"""Generate docs/PARITY.md — the SURVEY §2 coverage table, maintained by code.

Every row maps a reference component (operator / filter / expression /
source / ingestion step) to its engine implementation, its oracle-gated
registry rows, and its test anchors. The generator RESOLVES each anchor
instead of trusting prose:

- implementation symbols are imported and located via ``inspect`` and
  written as ``path::qualname`` (no line number, so code moving inside a
  file never makes the table stale);
- registry rows are checked against the live ``__spark_entry__.queries()``
  registry, and marked with whether they sit inside the driver's 50-slot
  gate window;
- test paths must exist on disk.

A renamed query, moved symbol, or deleted test FAILS generation, so the
committed table cannot rot. ``--check`` regenerates in memory and diffs
against the committed file (wired into the test suite).

Usage::

    python tools/gen_parity.py            # rewrite docs/PARITY.md
    python tools/gen_parity.py --check    # exit 1 if docs/PARITY.md is stale
"""

from __future__ import annotations

import importlib
import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "docs", "PARITY.md")

# (component, impl_symbol_or_None, registry_rows, tests, note)
# impl symbol: "module:Attr" or "module:Attr.sub"; None = n/a by SURVEY §2.
SECTIONS: list[tuple[str, list[tuple]]] = [
    ("§2.1 Relational pipeline operators", [
        ("TableScanNode", "lapis_silo_spark.operators.relational:Pipeline.scan",
         ["filter_equals_groupby_count", "genomic_reconstruct_full"],
         ["tests/test_relational.py", "tests/test_reconstruct_full_gate.py"], ""),
        ("FilterNode (pushdown)", "lapis_silo_spark.operators.relational:Pipeline.filter",
         ["filter_equals_groupby_count", "filter_between_date", "filter_in_set",
          "filter_like_regex", "filter_negation_keeps_nulls", "filter_not_equals"],
         ["tests/test_relational.py", "tests/test_storage_pruning.py"], ""),
        ("ProjectNode", "lapis_silo_spark.operators.relational:Pipeline.project",
         ["project_columns", "groupby_null_keys", "orderby_limit_offset"],
         ["tests/test_relational.py"], ""),
        ("MapNode (at/isoWeek/literals; incl. at() on sequences)",
         "lapis_silo_spark.operators.relational:Pipeline.map",
         ["map_at_isoweek", "genomic_cooccurrence_groupby"],
         ["tests/test_relational.py", "tests/test_sequence_at.py"], ""),
        ("AggregateNode (count, null keys)",
         "lapis_silo_spark.operators.relational:Pipeline.group_by",
         ["groupby_null_keys", "filter_equals_groupby_count"],
         ["tests/test_relational.py"], ""),
        ("CountFilterNode", "lapis_silo_spark.operators.relational:Pipeline.group_by",
         ["count_filter_total"], ["tests/test_relational.py"],
         "count-star fast path"),
        ("BitmapAggregationNode", "lapis_silo_spark.expressions.sequence:SequenceAt",
         ["genomic_cooccurrence_groupby"], ["tests/test_sequence_at.py"],
         "targeted per-position aggregated joins"),
        ("OrderByNode (+randomize)", "lapis_silo_spark.operators.relational:Pipeline.order_by",
         ["orderby_limit_offset", "orderby_randomize"],
         ["tests/test_relational.py"], ""),
        ("OrderByWithLimitNode", "lapis_silo_spark.operators.relational:Pipeline.order_by",
         ["orderby_limit_offset"], ["tests/test_relational.py"],
         "TakeOrderedAndProject fusion plan-pinned"),
        ("FetchNode (limit/offset)", "lapis_silo_spark.operators.relational:Pipeline.limit",
         ["orderby_limit_offset"], ["tests/test_relational.py"], ""),
        ("JoinNode (8 types)", "lapis_silo_spark.operators.relational:Pipeline.join",
         ["join_inner", "join_left", "join_right", "join_full", "join_left_semi",
          "join_left_anti", "join_right_semi", "join_right_anti"],
         ["tests/test_relational.py"], ""),
        ("UnionAllNode", "lapis_silo_spark.operators.relational:Pipeline.union_all",
         ["union_all"], ["tests/test_relational.py"], ""),
        ("SchemaNode", "lapis_silo_spark.operators.relational:Pipeline.schema_",
         ["schema_introspection"], ["tests/test_relational.py"], ""),
        ("MutationsNode<Nuc/AA>", "lapis_silo_spark.operators.mutations:mutations_aggregate",
         ["genomic_mutations_stats", "genomic_adapted_mutations"],
         ["tests/test_sequence.py"], "scale artifact: GENOMIC_SCALE workloads A/B"),
        ("InsertionsNode<Nuc/AA>", "lapis_silo_spark.operators.mutations:insertions_aggregate",
         ["genomic_insertions_stats"], ["tests/test_sequence.py"], ""),
        ("MostRecentCommonAncestorNode",
         "lapis_silo_spark.operators.phylo:most_recent_common_ancestor",
         ["genomic_mrca"], ["tests/test_hierarchy.py"], "bounded collect"),
        ("PhyloSubtreeNode", "lapis_silo_spark.operators.phylo:phylo_subtree",
         ["genomic_phylo_subtree"], ["tests/test_hierarchy.py"], ""),
        ("Unresolved* placeholders", None, [], [],
         "n/a — Spark's analyzer resolves"),
    ]),
    ("§2.2 Bitmap filter algebra", [
        ("Empty / Full", "lapis_silo_spark.expressions.core:TrueExpr",
         [], ["tests/test_relational.py"], "TrueExpr/FalseExpr literals"),
        ("IndexScan", "lapis_silo_spark.operators.relational:Pipeline.filter",
         ["filter_equals_groupby_count"], ["tests/test_storage_pruning.py"],
         "Parquet pushdown + semi-joins"),
        ("Selection", "lapis_silo_spark.expressions.core:Equals",
         ["filter_equals_groupby_count"], ["tests/test_relational.py"], ""),
        ("RangeSelection", "lapis_silo_spark.storage:save_version",
         [], ["tests/test_storage_pruning.py"],
         "range-sorted write → row-group pruning; measured in tests"),
        ("Intersection / Union / Complement",
         "lapis_silo_spark.expressions.core:And",
         ["filter_negation_keeps_nulls"], ["tests/test_relational.py"],
         "And/Or/Negation"),
        ("Threshold", "lapis_silo_spark.expressions.core:NOf",
         ["filter_nof_exactly", "filter_nof_threshold"],
         ["tests/test_relational.py"], "int sum of casted bools"),
        ("IsInCoveredRegion", "lapis_silo_spark.expressions.sequence:SymbolEquals",
         ["genomic_symbol_equals"], ["tests/test_sequence.py"],
         "coverage flag inside the 4-way compile"),
        ("StringInSet", "lapis_silo_spark.expressions.core:InSet",
         ["filter_in_set"], ["tests/test_relational.py"], ""),
        ("BitmapProducer", "lapis_silo_spark.expressions.base:Expression",
         [], ["tests/test_relational.py"], "boolean Column = the bitmap"),
    ]),
    ("§2.3 Scalar expressions", [
        ("&& / || / !", "lapis_silo_spark.expressions.core:And",
         ["filter_negation_keeps_nulls"], ["tests/test_goldens.py"], ""),
        ("= / <>", "lapis_silo_spark.expressions.core:Equals",
         ["filter_equals_groupby_count", "filter_not_equals"],
         ["tests/test_goldens.py"], ""),
        ("< <= > >= (ref partiality + superset)",
         "lapis_silo_spark.expressions.core:LessThan",
         ["filter_between_open_bound"], ["tests/test_goldens.py"],
         "invalid-query goldens reproduce partial-op errors"),
        ("between (float-exclusive-high wart)",
         "lapis_silo_spark.expressions.core:Between",
         ["filter_between_date"], ["tests/test_goldens.py"], ""),
        ("in", "lapis_silo_spark.expressions.core:InSet",
         ["filter_in_set"], ["tests/test_goldens.py"], ""),
        ("isNull / isNotNull", "lapis_silo_spark.expressions.core:IsNull",
         ["filter_is_not_null"], ["tests/test_goldens.py"], ""),
        ("like", "lapis_silo_spark.expressions.core:Like",
         ["filter_like_regex"], ["tests/test_goldens.py"], ""),
        ("lineage (3 recombinant modes)",
         "lapis_silo_spark.expressions.lineage:LineageFilter",
         ["genomic_lineage_filter"], ["tests/test_hierarchy.py"], ""),
        ("phyloDescendantOf", "lapis_silo_spark.expressions.lineage:PhyloDescendantOf",
         ["genomic_phylo_descendant"], ["tests/test_hierarchy.py"], ""),
        ("nucleotideEquals / aminoAcidEquals",
         "lapis_silo_spark.expressions.sequence:SymbolEquals",
         ["genomic_symbol_equals", "genomic_adapted_symbol_equals"],
         ["tests/test_sequence.py", "tests/test_goldens.py"],
         "4-way compile, '.' wildcard"),
        ("hasMutation / hasAAMutation",
         "lapis_silo_spark.expressions.sequence:HasMutation",
         ["genomic_has_mutation"], ["tests/test_sequence.py"], ""),
        ("insertionContains (+AA)",
         "lapis_silo_spark.expressions.sequence:InsertionContains",
         ["genomic_insertion_contains"], ["tests/test_insertion_index.py"],
         "3-mer index"),
        ("maybe / exact (IUPAC lattice)",
         "lapis_silo_spark.expressions.sequence:Maybe",
         ["genomic_maybe_symbol"], ["tests/test_sequence.py"], ""),
        ("nOf (+matchExactly)", "lapis_silo_spark.expressions.core:NOf",
         ["filter_nof_threshold", "filter_nof_exactly", "genomic_nof_symbols"],
         ["tests/test_goldens.py"], ""),
        ("mutation profiles (3 input forms)",
         "lapis_silo_spark.expressions.sequence:MutationProfile",
         ["genomic_mutation_profile", "genomic_mutation_profile_agg"],
         ["tests/test_sequence.py"],
         "constant-join aggregate path; scale artifact workload G"),
        ("at / isoWeek (metadata AND sequence columns)",
         "lapis_silo_spark.expressions.sequence:SequenceAt",
         ["map_at_isoweek", "genomic_cooccurrence_groupby"],
         ["tests/test_sequence_at.py", "tests/test_differential.py"], ""),
        ("literals (::date, sets, records)",
         "lapis_silo_spark.saneql.parser:parse",
         [], ["tests/test_saneql.py", "tests/test_goldens.py"], ""),
        ("zstdDecompressScalar", None, [], [],
         "n/a — Parquet-level compression per SURVEY"),
    ]),
    ("§2.4 Sources, sinks, serving", [
        ("NDJSON ingest (+.zst/.xz)", "lapis_silo_spark.sources.ndjson:ingest_ndjson",
         [], ["tests/test_ndjson_compressed.py"], ""),
        ("sequenceCompressed (base64+zstd-dict, JVM-side)",
         "lapis_silo_spark.jvm:ensure_zstd_udfs",
         [], ["tests/test_ndjson_compressed.py"], ""),
        ("Versioned atomic persistence (+append, model artifacts, layout preserved)",
         "lapis_silo_spark.storage:save_version",
         ["update_column_roundtrip"],
         ["tests/test_lifecycle.py", "tests/test_model_artifacts.py"], ""),
        ("NDJSON + Arrow IPC sinks", "lapis_silo_spark.server:create_app",
         [], ["tests/test_goldens.py", "tests/test_lifecycle.py"],
         "golden corpus replayed over HTTP and Arrow IPC"),
        ("HTTP API (headers, timeout, /info /health /lineageDefinition)",
         "lapis_silo_spark.server:create_app",
         [], ["tests/test_lifecycle.py", "tests/test_server_timeout.py",
              "tests/test_replay.py"], ""),
        ("CLI (preprocessing append api initialize)",
         "lapis_silo_spark.cli:main", [], ["tests/test_lifecycle.py"], ""),
        ("Embedded Python API", "lapis_silo_spark.api:SiloDatabase",
         [], ["tests/test_api.py"], ""),
        ("updateColumn (scalar + string, guards, null clear)",
         "lapis_silo_spark.storage:update_column",
         ["update_column_roundtrip"], ["tests/test_update_column.py"], ""),
        ("WASM build", None, [], [], "out of scope per SURVEY"),
    ]),
    ("§2.6 Ingestion operators", [
        ("NDJSON parse w/ schema", "lapis_silo_spark.sources.ndjson:ingest_records",
         [], ["tests/test_goldens.py"], ""),
        ("Sequence diffing", "lapis_silo_spark.sources.ndjson:ingest_records",
         [], ["tests/test_reconstruct_full_gate.py"],
         "lossless round-trip oracle per commit"),
        ("Chunked bulk insert", "lapis_silo_spark.storage:save_version",
         [], ["tests/test_lifecycle.py"], ""),
        ("N-way clustered buffering", "lapis_silo_spark.storage:save_version",
         [], ["tests/test_storage_pruning.py"],
         "range-partitioned side tables; scale artifact workload F"),
        ("Local-reference adaptation", "lapis_silo_spark.sources.adapt:adapt_local_reference",
         ["genomic_adapted_mutations", "genomic_adapted_symbol_equals"],
         ["tests/test_adapt.py"], ""),
        ("Validation (dup-PK, atomic abort)", "lapis_silo_spark.api:SiloDatabase",
         [], ["tests/test_api.py", "tests/test_lifecycle.py"], ""),
    ]),
]


def resolve_symbol(spec: str) -> str:
    """``path::qualname`` of the symbol's definition. No line number, so an
    unrelated edit above the symbol cannot make the table stale; an import
    or attribute that no longer resolves still fails generation."""
    mod_name, attr_path = spec.split(":")
    obj = importlib.import_module(mod_name)
    for part in attr_path.split("."):
        obj = getattr(obj, part)
    target = inspect.unwrap(obj)
    if isinstance(target, (staticmethod, classmethod)):
        target = target.__func__
    try:
        fn = inspect.getsourcefile(target)
        qualname = target.__qualname__
    except (TypeError, AttributeError):  # plain attribute — its module
        fn = inspect.getsourcefile(importlib.import_module(mod_name))
        qualname = attr_path
    rel = os.path.relpath(fn, REPO)
    return f"`{rel}::{qualname}`"


def generate() -> str:
    import __spark_entry__ as entrymod
    from lapis_silo_spark.driver_queries import GATE_WINDOW

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    gated = set(list(queries)[:GATE_WINDOW])

    lines = [
        "# PARITY — SURVEY §2 coverage, generated",
        "",
        "Generated by `tools/gen_parity.py` (checked in CI-style by",
        "`tests/test_parity_doc.py` — regenerate with"
        " `python tools/gen_parity.py`).",
        "",
        "Impl anchors are resolved via `inspect` at generation time;"
        " registry rows are validated against the live"
        " `__spark_entry__.queries()` registry"
        f" ({len(queries)} rows, {len(oracles)} with value oracles;"
        f" first {GATE_WINDOW} = driver gate window). Markers:"
        " **[gate]** = inside the driver's gate window,"
        " [registry] = full-registry oracle row.",
        "",
    ]
    n_impl = n_na = 0
    for title, rows in SECTIONS:
        lines += [f"## {title}", "",
                  "| Component | Implementation | Oracle rows | Tests | Note |",
                  "|---|---|---|---|---|"]
        for comp, spec, regs, tests, note in rows:
            if spec is None:
                impl = "—"
                n_na += 1
            else:
                impl = resolve_symbol(spec)
                n_impl += 1
            cells = []
            for r in regs:
                if r not in queries:
                    raise SystemExit(f"PARITY: unknown registry row {r!r}"
                                     f" for {comp!r}")
                mark = "**[gate]**" if r in gated else "[registry]"
                cells.append(f"`{r}` {mark}")
            for t in tests:
                if not os.path.exists(os.path.join(REPO, t)):
                    raise SystemExit(f"PARITY: missing test {t!r} for {comp!r}")
            lines.append(
                f"| {comp} | {impl} | {'<br>'.join(cells) or '—'} | "
                f"{'<br>'.join(f'`{t}`' for t in tests) or '—'} | {note} |"
            )
        lines.append("")
    lines += [
        f"**Totals: {n_impl} implemented components, {n_na} n/a by SURVEY's"
        " own mapping.** Every oracle row above is green in the latest"
        " CORRECTNESS artifacts (driver gate + full registry at sf0.01 and"
        " sf1) and pinned against result drift by"
        " `tools/replay_corpus.py` / `tools/good_query_log.json`.",
        "",
    ]
    return "\n".join(lines)


def main() -> int:
    text = generate()
    if "--check" in sys.argv:
        if not os.path.exists(OUT):
            print("docs/PARITY.md missing — run python tools/gen_parity.py")
            return 1
        with open(OUT) as fh:
            current = fh.read()
        if current != text:
            print("docs/PARITY.md is STALE — run python tools/gen_parity.py")
            return 1
        print("docs/PARITY.md is up to date")
        return 0
    with open(OUT, "w") as fh:
        fh.write(text)
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
