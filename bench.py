"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Run: python bench.py  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)

Contention-robust protocol (round-8, after the round-7 artifacts were
contaminated by host contention — uniform +42..62% inflation across
untouched trivial queries, a 4× opposite-direction swing on identical
code): the Spark pass and the DuckDB-oracle pass are INTERLEAVED and the
whole pair repeats ``SPARK_GRAFT_BENCH_RUNS`` times (default 3, budget-
gated).  The reported per-query number is the MIN across passes — the
run least polluted by external load — for BOTH engines, so the
Spark/oracle ratio compares two clean runs instead of two noise draws.
The 1-minute load average is recorded per pass and at each per-query
minimum, so a contaminated artifact is self-evident instead of silently
standing as the record.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_top_orders",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_orders",
    "events_daily_rollup",
    "events_funnel_conversion",
    "events_pivot_by_type",
    "map_at_isoweek",
    "filter_nof_threshold",
    "join_full",
    "union_all",
    "orderby_limit_offset",
    "window_running_total",
    "events_sessionize_30m",
    "asof_prior_click",
    "range_join_clicks_5m",
    "text_token_stats",
    "text_repetition_signals",
    "text_quality_by_source",
    "text_bm25_topk",
    "text_gram_novelty",
    "pack_sequences_chunks",
    "dedup_exact_groups",
    "dedup_minhash_bands",
    "dedup_minhash_lsh_pairs",
    "dedup_minhash_lsh_pairs_fast",
    # round-4 headline: fused O(docs) near-dup clustering (exact-twin
    # digest short-circuit + banded LSH over representatives + min-label
    # collapse) — the scale-safe replacement for materialized pair lists
    "dedup_minhash_clusters",
    # embedding near-dup: the LSH scale path plus the round-5 blocked
    # DISTRIBUTED exact form (hash-blocked block-pair matmuls, no driver
    # collect). Since round 6 every REGISTERED embedding-pair row runs a
    # distributed form; the collect+broadcast all-pairs baseline is a
    # numpy reference in tests/dedup_reference.py.
    "dedup_embedding_lsh_pairs",
    "dedup_embedding_blocked_pairs",
    # round-6: fused O(docs) embedding near-dup clustering — the pair stage
    # is internal, output is (id, cluster, keep); kills the output-volume
    # superlinearity the two pair-emitters showed at sf1. The _lsh twin
    # fuses the SUBLINEAR-candidates path (hyperplane buckets over
    # representatives) into the same O(docs) output.
    "dedup_embedding_clusters",
    "dedup_embedding_clusters_lsh",
    "decontam_ngram_overlap",
    "decontam_bloom_overlap",
    "decontam_near_dup",
    # round-5: substring-span dedup (gram-keyed canonical agg + per-doc
    # interval-merge window) and zero-shuffle token-window chunking
    "dedup_substring_spans",
    # round-6: character-gram twin (k=50, Lee et al. threshold) — catches
    # duplication word tokenization splits; O(chars) occurrence rows
    "dedup_substring_char_spans",
    # round-7: line-level corpus dedup (CCNet/RefinedWeb boilerplate pass)
    # — report + canonical-keeping removal with in-place text filtering
    "dedup_line_report",
    "dedup_line_clean",
    "text_chunk_windows",
    "dedup_duplicate_passages",
    "text_tfidf_top_terms",
    "text_unigram_perplexity",
    "text_encode_token_ids",
    # round-7: BPE train-then-encode (the encode row retrains the 12-merge
    # model internally, so it covers tokenizer_bpe_train's work too) and
    # the zero-shuffle fastText-style quality classifier
    "tokenizer_bpe_encode",
    "text_quality_classifier",
    # round-7: DSIR importance resampling — integer-exact target-vs-source
    # decision over hashed bigram buckets (one corpus pass for weights,
    # one broadcast join + per-doc sum for scores)
    "sample_dsir_importance",
    "sample_dataset_mixture",
    "sketch_kmv_distinct",
    "sketch_count_min_terms",
    "sample_topk_per_group",
    "quality_quantile_filter_sampled",
    "dedup_incremental_exact",
    "dedup_incremental_minhash",
    "pipeline_curation_end_to_end",
    "pipeline_curation_near_dup",
    "pipeline_curation_substring",
    # round-7: classifier gate -> line dedup -> token accounting, one plan
    "pipeline_curation_quality",
    "cluster_kmeans_assign",
    "semdedup_prune",
    "ann_brute_force_topk",
    "ann_ivf_topk",
    "ann_ivf_trained_topk",
    "ann_pq_topk",
    # round-8: fused IVF-PQ through the persisted-index lifecycle (coarse
    # cells prune the scan via cid-partitioned storage, ADC scores m-byte
    # codes; the row itself builds+saves+reloads the index, so its wall
    # includes the one-time index build)
    "ann_ivfpq_topk",
    "multimodal_decode",
    "multimodal_resize",
    "multimodal_audio_features",
    "multimodal_frame_sample",
    "ann_lsh_topk",
    # the reference's own headline workload: mutation statistics and symbol
    # filters over the ingested sequence store (performance/
    # mutation_benchmark.cpp); first query pays the synthetic-store ingest
    "genomic_mutations_stats",
    "genomic_symbol_equals",
    "genomic_insertions_stats",
]


#: Rows whose end-to-end wall is dominated by RESULT TRANSFER, not compute:
#: the round-9 sessionize profile (BENCH_NOTES; its tool is deleted, see
#: git history) measured 1.13 s compute vs 9.2 s benched wall at sf1 — the
#: gap is py4j row materialization of a large result, a bench-protocol
#: shape, not a plan property. For these rows the artifact additionally
#: records the noop-sink compute wall + result row count, so a
#: transfer-shape change can't masquerade as (or hide) a plan regression
#: (round-9 VERDICT #5).
#: The headline number and the oracle gate stay end-to-end.
TRANSFER_SPLIT_ROWS = [
    "events_sessionize_30m",
    "window_running_total",
    "asof_prior_click",
    "dedup_line_report",
    "dedup_substring_spans",
    "dedup_minhash_bands",
]


def _loadavg() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover — non-POSIX
        return -1.0


def _transfer_split(spark, sf_dir, queries, timings) -> dict:
    """Noop-sink compute wall + result rows for TRANSFER_SPLIT_ROWS.

    ``write.format("noop")`` executes the full physical plan and discards
    rows executor-side — end_to_end − compute ≈ the py4j/result-transfer
    share. Min of 2 runs, same GC hygiene as the timed passes."""
    split: dict[str, dict] = {}
    for name in TRANSFER_SPLIT_ROWS:
        if name not in queries or name not in timings:
            continue
        try:
            df = queries[name](spark, sf_dir)
            rows = df.count()
            walls = []
            for _ in range(2):
                try:
                    spark._jvm.System.gc()
                except Exception:  # noqa: BLE001
                    pass
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
            compute = round(min(walls), 4)
            wall = timings[name]
            split[name] = {
                "result_rows": rows,
                "compute_sec_noop_sink": compute,
                "end_to_end_sec": wall,
                "transfer_share": round(max(0.0, 1 - compute / wall), 3)
                if wall > 0 else 0.0,
            }
        except Exception:  # noqa: BLE001 — diagnostics must not kill bench
            continue
    return split


def _spark_pass(spark, sf_dir, queries) -> dict[str, tuple[float, float, dict | None]]:
    """One timed pass over the headline list.

    Returns ``{name: (sec, loadavg_1m_at_start, phases_or_None)}`` — phases
    are the per-phase walls recorded by lifecycle rows (train/persist happen
    eagerly inside the query fn; see driver_queries.PHASE_TIMINGS), so the
    artifact can separate build-wall from query-wall (round-9 VERDICT #4).
    """
    from lapis_silo_spark.driver_queries import PHASE_TIMINGS

    timings: dict[str, tuple[float, float, dict | None]] = {}
    for name in HEADLINE:
        if name not in queries:
            continue
        # JMH-style inter-iteration GC (untimed, ~0.1 s): without it, a
        # query's timing includes collecting the PREVIOUS queries' garbage —
        # measured up to 15× inflation on allocation-heavy stages late in
        # the list (multimodal_decode: 34 s after 50 queries, 2.2 s after a
        # forced GC, 1.3 s standalone). Each timing should measure the
        # query, not its position in the schedule.
        try:
            spark._jvm.System.gc()
        except Exception:  # noqa: BLE001 — measurement hygiene, never fatal
            pass
        load = _loadavg()
        start = time.perf_counter()
        queries[name](spark, sf_dir).collect()
        sec = round(time.perf_counter() - start, 4)
        phases = PHASE_TIMINGS.pop(name, None)
        if phases is not None:
            phases = dict(phases)
            phases["query_sec"] = round(
                max(0.0, sec - sum(phases.values())), 4
            )
        timings[name] = (sec, load, phases)
    return timings


def _oracle_pass(con, oracles, budget: float) -> tuple[dict, bool]:
    """One timed DuckDB pass (budget-gated). Returns (timings, truncated)."""
    timings: dict[str, tuple[float, float]] = {}
    truncated = False

    # cheap oracles first so a tight budget still yields broad coverage;
    # the expensive ones — anything recomputing minhash signatures (DuckDB
    # serializes the per-shingle list math) or walking a recursive closure
    # — run last
    def oracle_cost(name: str) -> int:
        sql = oracles[name]
        return ("list_min([((2*i + 1)" in sql) + ("RECURSIVE" in sql)

    ordered = sorted((n for n in HEADLINE if n in oracles), key=oracle_cost)
    phase_start = time.perf_counter()
    for name in ordered:
        if time.perf_counter() - phase_start > budget:
            truncated = True
            break
        try:
            load = _loadavg()
            start = time.perf_counter()
            con.execute(oracles[name]).fetchall()
            timings[name] = (round(time.perf_counter() - start, 4), load)
        except Exception:  # noqa: BLE001 — oracle uses engine setup
            continue
    return timings, truncated


def _min_over_passes(passes) -> tuple[dict, dict, dict]:
    """Per-query (min_sec, loadavg at the min pass, phases at the min pass).

    Entries are ``(sec, load)`` for oracle passes, ``(sec, load, phases)``
    for spark passes."""
    mins: dict[str, float] = {}
    loads: dict[str, float] = {}
    phases_at_min: dict[str, dict] = {}
    for p in passes:
        for name, entry in p.items():
            sec, load = entry[0], entry[1]
            if name not in mins or sec < mins[name]:
                mins[name] = sec
                loads[name] = load
                if len(entry) > 2 and entry[2] is not None:
                    phases_at_min[name] = entry[2]
                else:
                    phases_at_min.pop(name, None)
    return mins, loads, phases_at_min


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    run_budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1500"))
    oracle_on = os.environ.get("SPARK_GRAFT_BENCH_ORACLE", "1") != "0"
    oracle_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_ORACLE_BUDGET", "90")
    )

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from lapis_silo_spark.session import get_spark
    from lapis_silo_spark.driver_queries import ORACLES, QUERIES, db_for

    spark = get_spark()
    db_for(spark, sf_dir)  # warm: register tables once, outside the timings

    # Setup phase, untimed — mirrors the reference's benchmark methodology:
    # performance/mutation_benchmark.cpp builds its sequence store first and
    # times only the queries. Materializing the synthetic genomic store here
    # (a mapInPandas ingest) also spawns the Python worker pool, so JVM
    # codegen + worker startup aren't billed to whichever query runs first.
    from lapis_silo_spark.driver_queries import genomic_db

    gdb = genomic_db(spark, sf_dir)
    gdb.table("default").count()
    store = gdb.sequence_store("default")
    for side in (store.mutations, store.coverage, store.missing,
                 store.insertions):
        side.count()
    QUERIES[HEADLINE[0]](spark, sf_dir).count()

    con = None
    if oracle_on:
        try:
            import duckdb

            con = duckdb.connect()
            for t in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"):
                path = os.path.join(sf_dir, f"{t}.parquet")
                if os.path.exists(path):
                    con.execute(
                        f"CREATE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{path}')"
                    )
        except Exception:  # noqa: BLE001 — oracle is best-effort metadata
            con = None

    # Interleaved repetition: [spark, oracle] × n_runs, so a contention
    # burst hits the SAME neighborhood of both engines' schedules instead
    # of one engine's whole measurement. Run 1 is mandatory; later runs
    # are skipped once the budget is spent (the protocol degrades to the
    # old single-pass bench, flagged in the output, never a timeout).
    spark_passes: list[dict] = []
    oracle_passes: list[dict] = []
    oracle_truncated = False
    loadavg_per_run: list[float] = []
    bench_start = time.perf_counter()
    for r in range(n_runs):
        if r > 0 and time.perf_counter() - bench_start > run_budget:
            break
        loadavg_per_run.append(_loadavg())
        spark_passes.append(_spark_pass(spark, sf_dir, QUERIES))
        if con is not None:
            ot, trunc = _oracle_pass(con, ORACLES, oracle_budget)
            oracle_passes.append(ot)
            oracle_truncated = oracle_truncated or trunc

    timings, load_at_min, phases_at_min = _min_over_passes(spark_passes)
    total = round(sum(timings.values()), 4)
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "protocol": {
            "runs_requested": n_runs,
            "runs_completed": len(spark_passes),
            "per_query": "min",
            "interleaved_with_oracle": con is not None,
            "loadavg_1m_per_run": loadavg_per_run,
            "loadavg_1m_at_min": load_at_min,
            "per_run_totals": [
                round(sum(e[0] for e in p.values()), 4)
                for p in spark_passes
            ],
        },
    }
    if phases_at_min:
        # lifecycle rows (ANN train→persist→reload→query): the headline
        # number stays end-to-end (= what the oracle gate times), but the
        # artifact carries the split so build cost can't masquerade as a
        # query-side regression (the r7→r8 ann_ivf_trained_topk delta)
        result["phases"] = phases_at_min

    split = _transfer_split(spark, sf_dir, QUERIES, timings)
    if split:
        result["transfer_split"] = split

    # Same-machine positioning baseline: each headline query's DuckDB
    # oracle on the identical parquet (single-node engine, same data, same
    # box), min across the interleaved passes. Best-effort metadata — a
    # failure here never breaks the bench (round 1 shipped with NO bench
    # numbers; nothing is allowed to risk that again).
    if oracle_passes:
        oracle_timings, oracle_load, _ = _min_over_passes(oracle_passes)
        shared = set(oracle_timings)
        result["duckdb_oracle"] = {
            "queries": oracle_timings,
            "truncated": oracle_truncated,
            "runs_completed": len(oracle_passes),
            "loadavg_1m_at_min": oracle_load,
            "total_shared": round(
                sum(oracle_timings[q] for q in shared), 4
            ),
            "spark_total_shared": round(
                sum(timings[q] for q in shared if q in timings), 4
            ),
        }

    print(json.dumps(result))


if __name__ == "__main__":
    main()
