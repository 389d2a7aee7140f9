"""Train/eval decontamination: flag training documents that share word
n-grams with a held-out evaluation set.

The standard large-scale training-data hygiene step (the reference engine has
no analog — this is part of the training-pipeline superset): benchmark/eval
text must not leak into the training corpus, and the detector of record is
exact word-n-gram overlap.

Scale design: the eval set is orders of magnitude smaller than the training
corpus, so its distinct n-gram table is **broadcast** — the contamination
check is then a map-side hash join against the exploded training n-grams; the
only shuffle is the final per-document aggregation. At 100 TB of training
text with a ~100 MB eval-gram table this is a single pass over the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lapis_silo_spark.functions.text import word_ngram_rows


def eval_ngram_table(
    eval_df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-grams of the evaluation set (column ``gram``)."""
    return (
        word_ngram_rows(eval_df, [], text_col, n)
        .distinct()
    )


def contaminated_docs(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per contaminated training doc: ``(id_col, hits)`` where ``hits`` is the
    number of distinct eval n-grams it contains (> 0 rows only)."""
    grams = eval_ngram_table(eval_df, text_col, n)
    train_grams = word_ngram_rows(
        train_df, [(id_col, F.col(id_col))], text_col, n
    )
    # Join BEFORE deduplicating: the broadcast join is map-side, so only the
    # grams that actually hit the eval set ever reach a shuffle — at corpus
    # scale contamination is sparse, so this shuffles a sliver of the data a
    # distinct-then-join formulation would move. countDistinct still does a
    # partial (map-side) aggregate of that sliver.
    return (
        train_grams.join(F.broadcast(grams), "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("hits"))
    )


def contaminated_docs_bloom(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_words: int = 32,
    n_hashes: int = 4,
) -> DataFrame:
    """Bloom-sketched decontamination — the scale path for when the eval
    GRAM TABLE itself outgrows a broadcast (cross-corpus decontam, many
    eval suites): the eval grams collapse into a ``n_words``-row Bloom
    filter (:func:`lapis_silo_spark.functions.sketches.bloom_build`), and
    every training doc reports how many of its distinct grams the filter
    admits: ``(id, n_grams, maybe_hits)``.

    No false negatives — every truly contaminated gram counts; false
    positives inflate ``maybe_hits`` at the filter's rate (size the filter
    accordingly), so this is the cheap PRE-filter whose flagged docs flow
    into the exact :func:`contaminated_docs` join. Deterministic md5
    positions make the inflation itself reproducible — the value oracle
    checks exact counts, false positives included.
    """
    from lapis_silo_spark.functions.sketches import bloom_build, bloom_probe

    bloom = bloom_build(
        eval_ngram_table(eval_df, text_col, n), "gram", n_words, n_hashes
    )
    train_grams = word_ngram_rows(
        train_df, [("id", F.col(id_col))], text_col, n, distinct=True
    )
    probed = bloom_probe(train_grams, "id", "gram", bloom, n_words, n_hashes)
    return probed.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("maybe_member").cast("long")).alias("maybe_hits"),
    )


def containment_scores(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-training-doc CONTAINMENT in the eval set: the fraction of the
    doc's distinct word n-grams that appear anywhere in the eval corpus —
    ``(id, n_grams, hits, containment)`` for every training doc with at
    least one n-gram. :func:`contaminated_docs` answers "which docs leak";
    the containment fraction answers "how badly" — the thresholded signal
    decontamination pipelines actually filter on (a 40-gram doc sharing 39
    is an eval copy; sharing 1 is a common phrase).

    Same broadcast shape as :func:`contaminated_docs`, plus a left join so
    zero-hit docs score 0.0 instead of disappearing.
    """
    grams = eval_ngram_table(eval_df, text_col, n)
    train_grams = word_ngram_rows(
        train_df, [("id", F.col(id_col))], text_col, n, distinct=True
    )
    per_doc = train_grams.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    hits = (
        train_grams.join(F.broadcast(grams), "gram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        per_doc.join(hits, on="id", how="left")
        .select(
            "id",
            "n_grams",
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0))
                / F.col("n_grams").cast("double"),
                6,
            ).alias("containment"),
        )
    )


def near_dup_contaminated(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    n_perms: int = 64,
    n_bands: int = 8,
    k: int = 5,
    hash_fn=None,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate decontamination: training documents whose MinHash
    signature-estimated Jaccard against ANY eval document reaches
    ``threshold``. Exact n-gram overlap (:func:`contaminated_docs`) misses
    lightly-paraphrased leaks; this is the fuzzy detector of the family —
    the Lee/Brown-style "13-gram or near-dup" eval-leak sweep's second arm.

    Returns ``(id, n_matches, match_id, est_jaccard)`` per flagged training
    doc: how many eval docs it collides-and-verifies against, the best
    match (max estimated Jaccard, ties to the smallest eval id), and that
    match's estimated Jaccard (rounded to 6dp).

    Scale design: this is a CROSS-corpus band join, not a self-join — the
    eval side is orders of magnitude smaller, so its band table
    (n_bands × eval rows) broadcasts or hash-joins cheaply; the training
    side shuffles ``(id, band, band_hash)`` ONLY (signatures re-join by id
    for the deduped candidates, the same narrow-candidate discipline as
    ``minhash_lsh_pairs``). Candidate volume is bounded by band collisions
    against the eval set — sparse by construction — never |train|².

    ``max_band_freq`` caps the one hot spot left: a band bucket hot on the
    TRAIN side (t docs) that also matches e eval docs emits t·e candidates;
    a boilerplate-heavy train slice can make that product dominate. Buckets
    whose TRAIN occupancy exceeds the cap are skipped, bounding candidates
    at O(n_bands · eval_rows · cap). Recall contract mirrors
    ``minhash_lsh_pairs``: a true leak is lost only if EVERY band it shares
    with the eval doc is train-hot. Default ``None`` = exact LSH semantics.
    """
    from lapis_silo_spark.cache import scoped_persist
    from lapis_silo_spark.functions.dedup import (
        _sig_jaccard,
        banded_rows,
        hash32,
        minhash_signatures,
    )

    rows_per_band = n_perms // n_bands
    fn = hash_fn or hash32
    # Both signature tables are referenced twice (band generation + the
    # verify join) — and the train side a third time when the hot-bucket
    # cap derives its occupancy counts — so persist them for the result's
    # lifetime; the signature aggregation is the dominant cost and must
    # not recompute (the minhash_lsh_pairs lesson, dedup.py).
    tsig = minhash_signatures(train_df, id_col, text_col, n_perms, k, hash_fn=fn)
    esig = minhash_signatures(eval_df, id_col, text_col, n_perms, k, hash_fn=fn)

    tb = banded_rows(tsig, n_bands, rows_per_band, max_band_freq)
    eb = banded_rows(esig, n_bands, rows_per_band).select(
        F.col("id").alias("eval_id"), "band", "band_hash"
    )
    cand = (
        tb.join(eb, on=["band", "band_hash"])
        .select("id", "eval_id")
        .dropDuplicates(["id", "eval_id"])
    )
    verified = (
        cand.join(tsig.select("id", F.col("sig").alias("sig_t")), "id")
        .join(
            esig.select(F.col("id").alias("eval_id"), F.col("sig").alias("sig_e")),
            "eval_id",
        )
        .select(
            "id",
            "eval_id",
            _sig_jaccard("sig_t", "sig_e", n_perms).alias("j"),
        )
        .filter(F.col("j") >= threshold)
    )
    # best match = max estimated jaccard, ties to smallest eval id.
    # Numeric ids keep the single map-side-combinable aggregate via the
    # struct max (j, -eval_id); non-numeric ids (the id_col parameter is
    # generic — string doc ids are legal) cannot be negated, so they take
    # a row_number window over (j DESC, eval_id ASC). The window
    # partitions by the SAME key as the groupBy, so the exchange is
    # reused — one shuffle either way, the numeric path just keeps its
    # partial aggregation.
    id_numeric = isinstance(
        eval_df.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
         T.FloatType, T.DoubleType, T.DecimalType),
    )
    if id_numeric:
        out = verified.groupBy("id").agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            (-F.max(
                F.struct(F.col("j"), (-F.col("eval_id")).alias("neg"))
            )["neg"]).alias("match_id"),
            F.round(F.max("j"), 6).alias("est_jaccard"),
        )
    else:
        w = Window.partitionBy("id").orderBy(
            F.col("j").desc(), F.col("eval_id").asc()
        )
        out = (
            verified.withColumn("_rn", F.row_number().over(w))
            .groupBy("id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_matches"),
                F.max(
                    F.when(F.col("_rn") == 1, F.col("eval_id"))
                ).alias("match_id"),
                F.round(F.max("j"), 6).alias("est_jaccard"),
            )
        )
    return scoped_persist(esig, scoped_persist(tsig, out))
