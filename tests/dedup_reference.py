"""Reference forms for the near-duplicate operators of
``lapis_silo_spark.functions.dedup``: each computes by the plainest means
what a library form must return, so the library keeps one physical form
per family and the tests pin its values against these."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lapis_silo_spark.functions import dedup
from lapis_silo_spark.functions.text import char_shingles, tokens


def minhash_signatures_expr(
    df: DataFrame, id_col: str, text_col: str, n_perms: int, k: int, hash_fn
) -> DataFrame:
    """``(id, sig)`` as Spark expressions over the non-null texts: explode
    ``char_shingles``, hash every shingle with ``hash_fn`` (a ``Column ->
    Column`` hash), and take each permutation's minimum as an aggregate.
    :func:`dedup.minhash_signatures` must equal it bit for bit."""
    hashed = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.explode(char_shingles(text_col, k)).alias("sh"),
        )
        .select("id", hash_fn(F.col("sh")).alias("h"))
    )
    mins = [
        F.min(
            (F.lit(2 * i + 1) * F.col("h")
             + F.lit(i * dedup.MINHASH_B_MULT % dedup.MINHASH_PRIME))
            % dedup.MINHASH_PRIME
        )
        for i in range(n_perms)
    ]
    return hashed.groupBy("id").agg(F.array(*mins).alias("sig"))


def exact_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """``(id_a, id_b, cos)`` for every ``id_a < id_b`` pair with cosine >=
    ``threshold``, from one driver-side numpy matmul over the rows the
    library's degenerate-input policy (``dedup._pairable``) keeps:
    ``(a @ b.T) / outer(norms)``, an unrounded ``>=`` test, then
    ``round(cos, 6)`` — the contract of every embedding pair form."""
    id_type = df.schema[id_col].dataType
    rows = (
        df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("vec"))
        .filter(dedup._pairable())
        .collect()
    )
    out = []
    if rows:
        ids = np.array([r["id"] for r in rows], dtype=dedup._id_dtype(id_type))
        mat = np.array([r["vec"] for r in rows], dtype=np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        with np.errstate(invalid="ignore"):  # inf elements → NaN cosine
            cos = (mat @ mat.T) / np.outer(nrm, nrm)
        ia, ib = np.nonzero((ids[None, :] > ids[:, None]) & (cos >= threshold))
        out = list(zip(ids[ia].tolist(), ids[ib].tolist(),
                       np.round(cos[ia, ib], 6).tolist()))
    return df.sparkSession.createDataFrame(out, dedup._pair_schema(id_type))


def gram_occurrences_expr(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """``(id, pos, gh)`` word-``k``-gram occurrences as Spark expressions:
    one row per 1-based position of a text with at least ``k`` tokens,
    ``gh = unhex(md5(' '.join(tokens[pos:pos+k])))``. The Arrow producer
    ``dedup._gram_occurrences_arrow`` must emit the same multiset."""
    toks = tokens(text_col)
    n = F.size(toks)
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k - 1)))
            .otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
        toks.alias("_t"),
    ).select(
        "id",
        "pos",
        F.unhex(
            F.md5(F.array_join(F.slice(F.col("_t"), F.col("pos"), k), " "))
        ).alias("gh"),
    )
