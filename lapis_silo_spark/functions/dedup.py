"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Design for 100 TB:
- every hash is md5-derived (deterministic, engine-portable — also what makes
  the DuckDB oracle gate possible);
- exact dedup is a single hash-groupBy (one shuffle on the digest);
- n-gram Jaccard runs as an inverted-index similarity join (explode shingles →
  self-join on shingle → count) with an optional hot-shingle frequency cap —
  the standard way to keep the candidate blow-up bounded on skewed corpora;
- MinHash+LSH replaces the all-pairs join with band-bucket joins: candidates
  only where a band collides, then exact-Jaccard verification. Shuffle volume
  scales with #bands × #docs, not #docs²;
- SimHash gives a 64-bit signature whose Hamming distance approximates cosine
  similarity of the token multiset — banded by 16-bit chunks for candidate
  generation;
- embedding near-dup does exact cosine on LSH-bucketed candidates.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lapis_silo_spark.cache import scoped_persist
from lapis_silo_spark.functions.text import char_shingles, normalized, tokens
from lapis_silo_spark.session import local_relation

# Prime > 2^32 for the universal-hash family; shingle hashes are 32-bit so
# a*x+b stays far below 2^63 (no overflow for n_perms <= ~2^20).
MINHASH_PRIME = 4294967311
MINHASH_B_MULT = 2654435761  # Knuth multiplicative constant

#: Default hot-bucket occupancy cap for the COMPOSED near-dup entry points
#: (minhash_dedup_clusters, incremental_minhash_dedup and the streaming
#: loop). A band bucket holds near-identical documents, so its natural
#: occupancy is the duplicate-group size; 1024 ≈ 64× a generous expected
#: group size of 16 — far above anything a benign corpus produces (the
#: capped-vs-uncapped equivalence is test-pinned), while bounding the
#: adversarial boilerplate blow-up at O(n_bands · rows · 1024) candidates
#: (the uncapped form went 469.6 s at 20k near-twins; see
#: tests/test_minhash_skew.py and BENCH_NOTES "Adversarial near-twin band
#: skew"). Recall contract: a true near-dup pair is lost only if EVERY
#: band it shares is hot (minhash_lsh_pairs docstring). Pass
#: ``max_band_freq=None`` to restore exact LSH semantics; the raw pair
#: operators (minhash_lsh_pairs, banded_rows) keep ``None`` as their
#: default because their oracle replays are exact.
DEFAULT_MAX_BAND_FREQ = 1024


def hash32(col: Column) -> Column:
    """Deterministic 32-bit integer hash: first 8 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _spread(df: DataFrame, *cols: Column) -> DataFrame:
    """Project to the named columns and rebalance across the cluster.

    Heavy per-row work (shingle hashing, signature aggregation) must not
    inherit a narrow input's partitioning — a single-file Parquet table scans
    as ONE partition, serializing everything downstream. Repartitioning the
    *projected* two columns (id, text) keeps the shuffle payload minimal.

    The partition count is SCALE-ADAPTIVE (round 11, guide §2): derived
    from the input's file bytes (``session.rebalance_width``) and capped
    at ``defaultParallelism`` — a bench-sized corpus gets a handful of
    partitions instead of 32 tiny Python tasks whose fixed Arrow/worker
    overhead dwarfs the work, while anything cluster-sized saturates the
    cores exactly as before.
    """
    from lapis_silo_spark.session import rebalance_width

    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    out = df.select(*cols)
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files and len(files) < max(2, n // 2):
        return out.repartition(rebalance_width(files, n))
    if not files:
        # Non-file-backed input (e.g. a persisted projection): a small
        # single-file scan CACHES as one partition, and every heavy stage
        # built on it — signature mapInPandas, Lloyd iterations — then
        # runs as a 1-task straggler (measured: the eager sig count inside
        # pipeline_curation_near_dup spent 2.2 s on one task; round 11,
        # guide §2.4). The RDD partition count is known without running a
        # job; spread only when it is clearly narrower than the cluster.
        try:
            parts = df.rdd.getNumPartitions()
        except Exception:  # noqa: BLE001 — partitioning unknowable, keep
            return out
        if parts < max(2, n // 2):
            return out.repartition(n)
    return out


# -- exact -------------------------------------------------------------------

def _text_digests(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, digest) of every row with an id; a NULL text has a NULL digest.
    A null-id row is dropped as if it were absent."""
    return df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.md5(normalized(text_col)).alias("digest")
    )


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, canonical_id, digest): canonical = min id per normalized-text
    digest. Pure hash-groupBy — one shuffle keyed on the digest.

    A NULL text is its own canonical singleton (digest NULL): a NULL digest
    matches no group in the left join, so it keeps its own id."""
    digests = _text_digests(df, id_col, text_col)
    canon = digests.groupBy("digest").agg(F.min("id").alias("canonical_id"))
    return digests.join(canon, on="digest", how="left").select(
        "id", F.coalesce("canonical_id", "id").alias("canonical_id"), "digest"
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (min id) per distinct normalized text."""
    groups = exact_dedup_groups(df, id_col, text_col)
    keep = groups.filter(F.col("id") == F.col("canonical_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def duplicate_passages(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Repeated word-``n``-gram passages across documents: every n-gram that
    occurs in at least ``min_docs`` distinct documents, with its document and
    occurrence counts — the passage-level twin of document-level dedup (the
    "duplicated training data" signal of exact-substring dedup pipelines;
    the reference engine has no text surface at all, SURVEY §2.5).

    Returns ``(gram, n_docs, n_occurrences)``.

    Scale shape: two-stage aggregation. Stage 1 groups by ``(gram, doc)`` —
    map-side combine collapses within-document repeats before the shuffle, so
    shuffle volume is bounded by distinct (gram, doc) pairs, never total gram
    occurrences. Stage 2 re-keys by ``gram`` alone; its input is already one
    row per (gram, doc). The explode stays in the same select as the
    n-gram-building expression so the Generate remains inside whole-stage
    codegen (see BENCH_NOTES on ``text_gram_novelty``).
    """
    from lapis_silo_spark.functions.text import word_ngram_rows

    grams = word_ngram_rows(df, [("id", F.col(id_col))], text_col, n)
    per_doc = grams.groupBy("gram", "id").agg(F.count(F.lit(1)).alias("occ"))
    return (
        per_doc.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("occ").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    base_digests: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact dedup of an INCOMING batch against an existing corpus — the
    append-mode shape every production pipeline runs (the full-corpus
    variant above is the backfill shape). ``base_digests`` is a one-column
    ``(digest)`` table of the corpus' normalized-text md5s — exactly what
    :func:`exact_dedup_groups` output (or a stored digest side table)
    provides.

    Returns every new row that has an id with a verdict (a NULL text is
    its own canonical singleton, so always ``kept``):
    ``(id, digest, status ∈ {kept, dup_of_base, dup_in_batch})`` —
    ``dup_of_base`` wins when both apply, ``kept`` is the batch-canonical
    (min id) of a digest unseen in the base.

    Scale shape: one digest-keyed aggregation over the (small) batch and one
    digest-keyed left join against the base digest table — the base's TEXT
    is never read, only its digest column, which is the point: the corpus
    contributes O(distinct digests) of state, not O(bytes).
    """
    digests = _text_digests(new_df, id_col, text_col)
    canon = digests.groupBy("digest").agg(F.min("id").alias("_kid"))
    base = base_digests.select(F.col("digest")).distinct().withColumn(
        "_in_base", F.lit(True)
    )
    # a NULL-text row (NULL digest) joins neither side: it is always kept
    return (
        digests.join(canon, on="digest", how="left")
        .join(base, on="digest", how="left")
        .select(
            "id",
            "digest",
            F.when(F.col("_in_base"), F.lit("dup_of_base"))
            .when(F.col("id") != F.col("_kid"), F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


# -- n-gram Jaccard ----------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All (id_a < id_b) pairs with shingle-set Jaccard >= threshold.

    Inverted-index similarity join; ``max_shingle_freq`` drops shingles hot
    enough to blow up the candidate space (precision unaffected for pairs that
    share at least one rare shingle — the standard prefix-filter compromise).
    """
    base = _spread(df, F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    # One shingling pass, persisted: the self-join references it twice and
    # sizes derives from it (shingles are distinct per doc), so normalization
    # + shingling never recompute. Storage memory is LRU-evictable.
    sh = base.select(
        "id", F.explode(char_shingles("_t", k)).alias("sh")
    ).persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if max_shingle_freq is not None:
        hot = sh.groupBy("sh").count().filter(F.col("count") > max_shingle_freq)
        sh = sh.join(hot.select("sh"), on="sh", how="left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, on=[F.col("a.sh") == F.col("b.sh"),
                      F.col("a.id") < F.col("b.id")])
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a")
                    .withColumnRenamed("sz", "sz_a"), on="id_a")
        .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("sz", "sz_b"), on="id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# -- MinHash + LSH -----------------------------------------------------------

def hash32_fast(col: Column) -> Column:
    """32-bit shingle hash via Spark's native xxhash64 (seed 42): in SQL it
    skips md5's hex-string round-trip. The MinHash signature producer
    (:func:`minhash_signatures`) hashes shingles in Python, though, where
    its twin :func:`_xxh64_32` is the SLOWER family: 2.3 µs per shingle
    against 0.86 µs for ``hashlib.md5`` (20k 5-char shingles, min of 5, one
    Xeon core). It stays the default of the LSH entry points because their
    registered results pin it."""
    return F.pmod(F.xxhash64(col), F.lit(2 ** 32))


def _md5_32(data: bytes) -> int:
    """The Python twin of :func:`hash32`: the first 8 md5 hex chars are the
    first 4 digest bytes, big-endian."""
    return int.from_bytes(hashlib.md5(data).digest()[:4], "big")


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xxh64_32(data: bytes, seed: int = 42) -> int:
    """Low 32 bits of Spark's ``xxhash64`` (XXH64, seed 42) over ``data``
    — the Python twin of :func:`hash32_fast` (``pmod(xxhash64(s), 2^32)``
    of a signed long equals the unsigned hash's low 32 bits since
    2^64 ≡ 0 mod 2^32). Bit-parity with the JVM is pinned in
    ``tests/test_functions.py`` across lengths (incl. the >= 32-byte
    accumulator loop) and multibyte UTF-8."""

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & _M64

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _M64
        v2 = (seed + _XXH_P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXH_P1) & _M64
        while i + 32 <= n:
            k1 = int.from_bytes(data[i:i + 8], "little")
            v1 = (rotl((v1 + k1 * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
            k1 = int.from_bytes(data[i + 8:i + 16], "little")
            v2 = (rotl((v2 + k1 * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
            k1 = int.from_bytes(data[i + 16:i + 24], "little")
            v3 = (rotl((v3 + k1 * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
            k1 = int.from_bytes(data[i + 24:i + 32], "little")
            v4 = (rotl((v4 + k1 * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (rotl((v * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
            h = ((h * _XXH_P1) + _XXH_P4) & _M64
    else:
        h = (seed + _XXH_P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k1 = int.from_bytes(data[i:i + 8], "little")
        k1 = (rotl((k1 * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
        h ^= k1
        h = ((rotl(h, 27) * _XXH_P1) + _XXH_P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _XXH_P1) & _M64
        h = ((rotl(h, 23) * _XXH_P2) + _XXH_P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XXH_P5) & _M64
        h = (rotl(h, 11) * _XXH_P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _M64
    h ^= h >> 32
    return h & 0xFFFFFFFF


#: The two shingle-hash families of :func:`minhash_signatures`, each with
#: its Python twin.
_SHINGLE_HASHES = {hash32: _md5_32, hash32_fast: _xxh64_32}


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_perms: int = 16,
    k: int = 5,
    hash_fn=hash32,
) -> DataFrame:
    """(id, sig: array<long>) — the one MinHash signature producer.

    ``hash_fn`` picks the shingle-hash family: :func:`hash32` (md5-derived,
    reproducible in external SQL — the DuckDB oracle replays it) or
    :func:`hash32_fast` (Spark's seed-42 ``xxhash64``, computed by
    :func:`_xxh64_32`); anything else raises ``ValueError``. Signature
    component i is the minimum over the document's distinct shingle hashes
    h of ((2i+1)·h + i·B) mod P.

    One ``mapInPandas`` pass per input partition normalizes, shingles,
    hashes and min-reduces: no explode, no groupBy shuffle (the per-doc
    shingle set never leaves the task), and the permutation sweep is one
    vectorized numpy broadcast. The same signatures as Spark expressions
    pay three interpreted-evaluation costs Catalyst cannot codegen
    (``char_shingles``'s higher-order ``transform``, ``array_distinct``,
    and ``n_perms`` separate ``min()`` aggregates) — measured 4.98 s wall
    at sf0.1 against 1.7 s for this pass (OPTIMIZATION_r11.md).

    Shingling equals :func:`~lapis_silo_spark.functions.text.char_shingles`
    (bit-parity against an expression reference is test-pinned): ``trim``
    drops only ASCII 0x20 (Spark's ``StringTrim``), ``\\s`` is the Java
    ASCII class ``[ \\t\\n\\x0b\\f\\r]``, and a text shorter than ``k``
    chars (the empty text included) yields its single truncated shingle.
    A row whose id or text is NULL gets no signature under either family,
    so it never pairs.
    """
    from pyspark.sql import types as T

    shingle_hash = _SHINGLE_HASHES.get(hash_fn)
    if shingle_hash is None:
        raise ValueError(
            "hash_fn must be dedup.hash32 or dedup.hash32_fast, "
            f"got {hash_fn!r}"
        )
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    base = _spread(
        df.filter(F.col(id_col).isNotNull() & F.col(text_col).isNotNull()),
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_t"),
    )
    prime, b_mult, n, kk = MINHASH_PRIME, MINHASH_B_MULT, n_perms, k

    def gen(it):
        import re

        import numpy as np

        # Shingles repeat heavily across documents (natural text reuses
        # k-grams), so hash each DISTINCT shingle once per task: the memo
        # cuts the dominant per-row cost by the corpus' repetition factor.
        # Values are unchanged — the memo only caches a pure function.
        # Bounded: cleared at 1M entries (~100 MB worst case) so a
        # pathological task cannot grow without limit.
        memo: dict = {}

        def sh_hash(s):
            v = memo.get(s)
            if v is None:
                if len(memo) >= 1_000_000:
                    memo.clear()
                v = memo[s] = shingle_hash(s.encode("utf-8"))
            return v

        ws = re.compile(r"[\t\n\x0b\f\r ]+")
        a_mul = np.arange(n, dtype=np.uint64) * 2 + 1
        b_add = (np.arange(n, dtype=np.uint64) * b_mult) % prime
        for pdf in it:
            sigs = []
            for txt in pdf["_t"]:
                t = ws.sub(" ", txt.strip(" ")).lower()
                shingles = {
                    t[j: j + kk] for j in range(max(len(t) - (kk - 1), 1))
                }
                hs = np.fromiter(
                    (sh_hash(s) for s in shingles),
                    dtype=np.uint64,
                    count=len(shingles),
                )
                mins = (
                    (hs[None, :] * a_mul[:, None] + b_add[:, None]) % prime
                ).min(axis=1)
                sigs.append(mins.astype("int64"))
            yield pd.DataFrame({"id": pdf["id"], "sig": sigs})

    return base.mapInPandas(gen, out_schema)


def _signature_bands(
    sig: DataFrame, n_bands: int, rows_per_band: int
) -> DataFrame:
    """``(id, sig, band, band_hash)``: one row per band of every ``(id,
    sig)`` signature, keyed by md5 over the band's ``rows_per_band``-long
    slice of ``sig`` — the one band builder of every MinHash LSH form."""
    band_slice = F.transform(
        F.slice(F.col("sig"), F.col("band") * rows_per_band + 1, rows_per_band),
        lambda v: v.cast("string"),
    )
    return sig.select(
        "id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).select(
        "id",
        "sig",
        "band",
        F.md5(F.concat_ws(",", band_slice)).alias("band_hash"),
    )


def _sig_jaccard(a: str, b: str, n_perms: int) -> Column:
    """Signature-estimated Jaccard of two MinHash signature columns: the
    fraction of the ``n_perms`` components on which they agree."""
    agree = F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq)
    return F.size(agree) / F.lit(float(n_perms))


def banded_rows(
    sig: DataFrame,
    n_bands: int,
    rows_per_band: int,
    max_band_freq: int | None = None,
) -> DataFrame:
    """NARROW band rows ``(id, band, band_hash)`` from a ``(id, sig)``
    signature table, with the optional hot-bucket occupancy cap applied —
    the shared candidate-generation front half of every banded LSH join
    (self-join dedup AND cross-corpus decontamination), so the cap
    semantics cannot drift between call sites."""
    bands = _signature_bands(sig, n_bands, rows_per_band).select(
        "id", "band", "band_hash"
    )
    if max_band_freq is not None:
        hot = (
            bands.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_band_freq)
            .select("band", "band_hash")
        )
        bands = bands.join(hot, on=["band", "band_hash"], how="left_anti")
    return bands


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_perms: int = 16,
    n_bands: int = 4,
    k: int = 5,
) -> DataFrame:
    """(id, band, band_hash): md5 over each signature band — the LSH bucket key."""
    sig = minhash_signatures(df, id_col, text_col, n_perms, k)
    return banded_rows(sig, n_bands, n_perms // n_bands)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_perms: int = 64,
    n_bands: int = 8,
    k: int = 5,
    exact_verify: bool = False,
    hash_fn=None,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs: band-collision candidates + Jaccard verification.

    Scale design: with r = n_perms/n_bands rows per band, a pair becomes a
    candidate with probability 1-(1-j^r)^b — the (r=8, b=8) default puts the
    S-curve threshold at (1/8)^(1/8) ≈ 0.77, i.e. tuned for true
    near-duplicates; corpora with a high baseline similarity (shared
    vocabulary) don't explode the candidate set the way small-r banding does.
    Verification uses the signature-estimated Jaccard (fraction of equal
    signature components — O(n_perms) per candidate, no shingle-set
    materialization); ``exact_verify=True`` recomputes true shingle Jaccard
    for the survivors only. Shuffle cost: n_bands × rows for the band join,
    never rows² — and the band join shuffles (id, band, band_hash) ONLY;
    signatures re-join by id after candidate dedup, so a hot bucket never
    amplifies the wide sig arrays through the exchange.

    ``max_band_freq`` bounds the one remaining quadratic exposure: a bucket
    with f members emits f·(f-1)/2 candidates, so a corpus slice of
    near-identical-but-not-identical docs (one char of drift defeats the
    exact-twin digest short-circuit upstream) can go quadratic in its
    bucket. Buckets with more than ``max_band_freq`` members are skipped
    for candidate generation, capping the join at
    O(n_bands · rows · max_band_freq) pairs. Recall contract: a true
    near-dup pair is lost ONLY if every band it collides in is hot — with
    b independent bands, pairs above the S-curve threshold collide in
    several bands and survive unless the hot slice saturates all of them
    (the same precision-preserving compromise as ``ngram_jaccard_pairs``'s
    ``max_shingle_freq``). Default ``None`` = exact LSH semantics.
    """
    rows_per_band = n_perms // n_bands
    # The xxhash family is the default because the registered
    # dedup_minhash_lsh_pairs_fast row pins its results (LSH recall depends
    # only on hash uniformity; in the Python signature producer xxhash is
    # the slower family, see hash32_fast). Pass ``hash_fn=hash32`` to make
    # the full pair output SQL-oracle-reproducible (the registered
    # correctness query does).
    sig = minhash_signatures(df, id_col, text_col, n_perms, k,
                             hash_fn=hash_fn or hash32_fast)
    # LAZY persist (round 11, re-measured after the Arrow producer + memo
    # + width changes): an earlier eager count() fill guarded against
    # concurrent AQE stages racing the cold cache (then: up to 10
    # duplicate ~1.5 s signature computes per action). With the memoized
    # Arrow pass at byte-derived width the producer costs ~0.6 s once and
    # the worst-case race duplicates it at most a couple of times
    # concurrently — cheaper than the serialized count job, measured:
    # lsh_pairs 2.2 → 1.2 s, minhash_clusters 2.7 → 1.8 s,
    # curation_near_dup 4.7 → 3.0 s without the eager fill.
    sig = sig.persist()
    # The band self-join references this subplan on BOTH sides; without a
    # materialized cache Spark computes the whole shingle-hash aggregation
    # twice. Signatures are n_perms longs/doc — tiny next to the text they
    # summarize (the "store the sketch" half of any MinHash pipeline). The
    # cache lives exactly as long as the returned DataFrame: scoped_persist
    # (applied just before return) unpersists it when the caller drops the
    # result, so a long-lived server holds no net-new persisted RDDs between
    # queries.
    # NARROW band rows: band_hash is computed while sig is in scope, then
    # sig is dropped — the self-join below shuffles ~3 small columns per
    # row, and the 64-long signatures re-join by id only for the deduped
    # candidate pairs (the similarity.lsh_candidate_pairs lesson).
    bands = banded_rows(sig, n_bands, rows_per_band, max_band_freq)
    # NOTE(round 12, negative A/B): repartition(bands, "band", "band_hash")
    # to share ONE exchange between the self-join's sides (guide §2.4)
    # measured WORSE control-paired (lsh_pairs_fast 0.96→1.23 s, clusters
    # 1.94→2.18, near_dup 3.18→3.38 min-of-4; +2 jobs): the added exchange
    # + SMJ sorts cost more than the duplicated band-side compute they
    # remove — the band rows are narrow and the sig cache absorbs most of
    # the recompute.
    a = bands.alias("a")
    b = bands.alias("b")
    cand_ids = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    candidates = cand_ids.join(
        sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
        on="id_a",
    ).join(
        sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
        on="id_b",
    )
    est = _sig_jaccard("sig_a", "sig_b", n_perms)
    verified = (
        candidates.withColumn("jaccard", est)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    if not exact_verify:
        return scoped_persist(sig, verified)
    shingled = _spread(
        df, F.col(id_col).alias("id"), F.col(text_col).alias("_t")
    ).select("id", char_shingles("_t", k).alias("sh"))
    exact = (
        verified.drop("jaccard")
        .join(shingled.withColumnRenamed("id", "id_a")
              .withColumnRenamed("sh", "sh_a"), on="id_a")
        .join(shingled.withColumnRenamed("id", "id_b")
              .withColumnRenamed("sh", "sh_b"), on="id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return scoped_persist(sig, exact)


# -- SimHash -----------------------------------------------------------------

def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sig): 63-bit SimHash over whitespace tokens (bit 63 left clear
    so all arithmetic stays within signed int64 — no ANSI overflow).

    Bit j of the signature is 1 iff Σ_tokens (±1 by token-hash bit j) > 0;
    token hash = two md5-derived halves packed into 63 bits (high 32 bits
    from md5(t), low 31 from md5(t + "#")). Tokens explode, each is hashed
    ONCE, and the per-bit signs sum as 63 map-side-combinable aggregates.
    A NULL text has no tokens and gets no signature, so it never pairs."""
    tok = (
        _spread(df, F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .select("id", F.explode(tokens("_t")).alias("t"))
        .select(
            "id",
            (
                hash32(F.col("t")) * F.lit(2 ** 31).cast("long")
                + (
                    hash32(F.concat(F.col("t"), F.lit("#")))
                    % F.lit(2 ** 31).cast("long")
                )
            ).alias("h"),
        )
    )
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"_b{j}")
        for j in range(63)
    ]
    grouped = tok.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for j in range(63):
        sig = sig + F.when(
            F.col(f"_b{j}") > 0, F.lit(2 ** j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return grouped.select("id", sig.alias("sig"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    Candidate generation by 16-bit chunk equality (any pair within Hamming 3
    must agree on ≥1 of 4 chunks — pigeonhole), then exact popcount verify.
    """
    sigs = simhash_signatures(df, id_col, text_col)
    chunks = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sig"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("id", "sig", F.col("ch.chunk").alias("chunk"),
             F.col("ch.chunk_val").alias("chunk_val"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.chunk") == F.col("b.chunk"),
                F.col("a.chunk_val") == F.col("b.chunk_val"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


# -- embedding cosine --------------------------------------------------------

def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


#: Default row ceiling of the exact all-pairs form
#: (:func:`embedding_near_dup_pairs_blocked`): above it the O(n²) compare
#: cannot finish and the LSH path must be used instead. Override only for
#: controlled verification runs.
EXACT_EMBEDDING_MAX_ROWS = 1_000_000


def _pairable() -> Column:
    """The embedding pair family's degenerate-input policy over ``(id,
    vec)``: a row can pair only if its id is not null and its vector's norm
    is nonzero and not NaN. A null or zero vector has no cosine with
    anything, and a null id cannot be named in a pair. A null element makes
    the squared norm null (filtered out); a NaN element makes it NaN, which
    must be tested EXPLICITLY — Spark sorts NaN above every number, so
    ``NaN > 0`` is true."""
    sq = F.aggregate("vec", F.lit(0.0), lambda a, x: a + x * x)
    return F.col("id").isNotNull() & (sq > 0) & ~F.isnan(sq)


def _pair_schema(id_type):
    """``(id_a, id_b, cos)``, the output of every embedding pair form."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cos", T.DoubleType()),
        ]
    )


def _id_dtype(id_type):
    """numpy dtype for a pair id column, chosen from its SPARK type, not by
    try/except: ``np.array([1.9], dtype=np.int64)`` does not raise — it
    silently truncates to 1, which would emit wrong pair ids for
    float-typed id columns."""
    import numpy as np

    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    return np.int64 if isinstance(id_type, integral) else object


def _block_pair_cosines(
    rows: DataFrame,
    threshold: float,
    tag: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Exact cosine pairs within groups of hash blocks — the one block-pair
    stage behind :func:`embedding_near_dup_pairs_blocked` (one group) and
    :func:`lapis_silo_spark.functions.similarity.lsh_candidate_pairs` (one
    group per LSH bucket). Returns ``(id_a, id_b, cos)`` with ``id_a <
    id_b``, an unrounded ``cos >= threshold`` test and ``round(cos, 6)``
    — the contract of every embedding pair form, test-pinned against a
    driver all-pairs numpy reference (``tests/dedup_reference.py``).

    ``rows`` is a projected ``(id, vec array<double>)`` frame. Degenerate
    rows are dropped first (:func:`_pairable`); ``tag`` then maps the clean
    rows to ``(grp, id, vec, nb)`` — a group key and that group's block
    count — and each row lands in block ``pmod(xxhash64(id), nb)`` of its
    group. A row in block ``blk`` is replicated into block pair ``(blk,
    o)`` as side 0 for every ``o >= blk`` and into ``(o, blk)`` as side 1
    for every ``o < blk``, by one ``transform(sequence(0, nb - 1))``; one
    ``applyInPandas`` task per ``(grp, bi <= bj)`` then runs a single BLAS
    (|A| × dim) · (dim × |B|) matmul. Every unordered pair of a group lands
    in exactly ONE task, so a group's output is duplicate-free and does not
    depend on ``nb``; the diagonal task keeps its own upper triangle by id.

    Cost model (the blocked all-pairs trade of bandwidth for task memory):
    - shuffle volume: each row is replicated ``nb`` times → O(rows · nb ·
      dim) bytes, paid per group, so only large groups pay it;
    - per-task memory: two blocks. Blocks come from a hash, so with ``nb =
      ceil(|group| / block_rows)`` the bound ``2 · block_rows · dim · 8``
      bytes holds in EXPECTATION, not as a hard cap; a hot group becomes
      more tasks, not a bigger task;
    - parallelism: ``nb · (nb + 1) / 2`` independent tasks per group.
    """
    import numpy as np

    id_type = rows.schema["id"].dataType
    id_dtype = _id_dtype(id_type)
    tagged = tag(rows.filter(_pairable())).withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.col("nb")).cast("int")
    )
    grid = F.transform(
        F.sequence(F.lit(0), F.col("nb") - 1),
        lambda o: F.struct(
            F.least(F.col("blk"), o).alias("bi"),
            F.greatest(F.col("blk"), o).alias("bj"),
            F.when(o >= F.col("blk"), F.lit(0)).otherwise(F.lit(1))
            .alias("side"),
        ),
    )
    replicated = tagged.select(
        "grp", "id", "vec", F.explode(grid).alias("g")
    ).select("grp", "g.bi", "g.bj", "g.side", "id", "vec")

    def unpack(sub):
        ids = np.array(list(sub["id"]), dtype=id_dtype)
        mat = np.array(sub["vec"].tolist(), dtype=np.float64)
        return ids, mat, np.sqrt((mat * mat).sum(axis=1))

    def block_pair(key, pdf):
        diagonal = key[1] == key[2]
        a_pdf = pdf if diagonal else pdf[pdf["side"] == 0]
        b_pdf = pdf if diagonal else pdf[pdf["side"] == 1]
        if a_pdf.empty or b_pdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        a_ids, a_mat, a_nrm = unpack(a_pdf)
        b_ids, b_mat, b_nrm = (
            (a_ids, a_mat, a_nrm) if diagonal else unpack(b_pdf)
        )
        with np.errstate(invalid="ignore"):  # inf elements → NaN cosine
            cos = (a_mat @ b_mat.T) / np.outer(a_nrm, b_nrm)
        hit = cos >= threshold
        ia, ib = np.nonzero(hit & (b_ids[None, :] > a_ids[:, None]))
        if diagonal:
            ra = rb = np.array([], dtype=np.int64)
        else:
            # cross-block pairs where the side-1 member has the SMALLER id
            ra, rb = np.nonzero(hit & (a_ids[:, None] > b_ids[None, :]))
        return pd.DataFrame(
            {
                "id_a": np.concatenate([a_ids[ia], b_ids[rb]]),
                "id_b": np.concatenate([b_ids[ib], a_ids[ra]]),
                "cos": np.round(
                    np.concatenate([cos[ia, ib], cos[ra, rb]]), 6
                ),
            }
        )

    return replicated.groupBy("grp", "bi", "bj").applyInPandas(
        block_pair, schema=_pair_schema(id_type)
    )


def embedding_near_dup_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_rows: int = 8192,
    n_blocks: int | None = None,
    allow_quadratic: bool = False,
    max_rows: int = EXACT_EMBEDDING_MAX_ROWS,
) -> DataFrame:
    """All pairs with cosine >= threshold — the DISTRIBUTED exact form.

    Nothing is ever collected to the driver: the whole corpus is ONE group of
    :func:`_block_pair_cosines` with ``nb = n_blocks`` hash blocks (its
    docstring holds the cost model).

    ``n_blocks`` defaults to the stricter of ``ceil(count / block_rows)``
    (the per-task memory bound) and a parallelism target of ~2× the
    cluster's cores worth of block-pair tasks, floored at ~128 rows per
    block (one count job; blocking never changes the output).
    Pass ``n_blocks`` explicitly to skip the count, e.g. from a known
    corpus size.
    At true 100 TB scale prefer :func:`lapis_silo_spark.functions.
    similarity.lsh_candidate_pairs` — banded buckets avoid the n² compare
    entirely; this function is for when EXACT recall is required.

    The O(n²) contract is MACHINE-ENFORCED (round-9 VERDICT #5, mirroring
    ``max_band_freq``): above ``max_rows`` the call raises unless
    ``allow_quadratic=True`` is passed explicitly — a caller pointing this
    at a 100 TB corpus gets an error, not a quadratic job.
    """
    import math

    n = df.count() if n_blocks is None else None
    if not allow_quadratic:
        # when the exact count is already needed, reuse it; otherwise a
        # LIMIT-probe stops scanning at max_rows+1 instead of paying a
        # second full count just for the guard
        probe = n if n is not None else df.limit(max_rows + 1).count()
        if probe > max_rows:
            raise ValueError(
                f"embedding_near_dup_pairs_blocked is exact all-pairs — "
                f"O(n²) compare by construction; refusing >{max_rows} rows "
                f"(max_rows={max_rows}). Pass allow_quadratic=True for a "
                f"controlled verification run, or use "
                f"similarity.lsh_candidate_pairs / embedding_dedup_clusters "
                f"for the scale path."
            )
    if n_blocks is None:
        # Two constraints, take the stricter (round 11, guide §2.4
        # stragglers): ceil(n / block_rows) bounds PER-TASK MEMORY, but on
        # a corpus smaller than one block it yields n_blocks = 1 — the
        # whole matmul serializes into a single applyInPandas task
        # (measured: one 2.9 s straggler task inside dedup_embedding_
        # clusters at sf0.1 while 31 cores idled). Blocking is
        # result-invariant (every unordered pair lands in exactly one
        # task either way), so also split for PARALLELISM: ~2× the
        # cluster's cores worth of grid tasks (nb(nb+1)/2 tasks), floored
        # so tiny inputs don't shatter into sub-128-row blocks where
        # per-task overhead dominates.
        par = df.sparkSession.sparkContext.defaultParallelism
        nb_mem = math.ceil(n / block_rows)
        nb_par = math.ceil(math.sqrt(4 * par))
        nb_floor = max(1, n // 128)
        n_blocks = max(nb_mem, min(nb_par, nb_floor), 1)

    rows = _spread(
        df,
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    return _block_pair_cosines(
        rows, threshold,
        lambda clean: clean.select(
            F.lit(0).alias("grp"), "id", "vec", F.lit(n_blocks).alias("nb")
        ),
    )


def minhash_band_state(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_perms: int = 64,
    n_bands: int = 8,
    k: int = 5,
    hash_fn=None,
) -> DataFrame:
    """The persisted per-corpus LSH state an append-mode pipeline stores:
    ``(id, sig, band, band_hash)`` — band hashes for candidate generation,
    the signature for estimated-Jaccard verification. n_bands rows of
    (2 longs + hash + n_perms-long array) per doc; the corpus TEXT is never
    needed again (the same O(state)-not-O(bytes) contract as
    :func:`incremental_exact_dedup`'s digest table)."""
    sig = minhash_signatures(df, id_col, text_col, n_perms, k,
                             hash_fn=hash_fn or hash32_fast)
    return _signature_bands(sig, n_bands, n_perms // n_bands)


def incremental_minhash_dedup(
    new_df: DataFrame,
    base_state: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_perms: int = 64,
    n_bands: int = 8,
    k: int = 5,
    hash_fn=None,
    max_band_freq: int | None = DEFAULT_MAX_BAND_FREQ,
) -> DataFrame:
    """NEAR-duplicate dedup of an incoming batch against an existing corpus
    — the append-mode twin of :func:`incremental_exact_dedup` for the fuzzy
    case (``base_state`` = a stored :func:`minhash_band_state` table; the
    base text is never re-read).

    Returns every new row with a non-null id with a verdict
    ``(id, status ∈ {kept, dup_of_base, dup_in_batch})`` — including rows
    with NULL text: they have no signature, can never collide, and report
    ``kept`` (a text shorter than ``k`` chars has one truncated shingle).
    ``dup_of_base`` when a band collision with the base verifies at
    ``threshold`` (and it wins when both apply), ``dup_in_batch`` when a
    LOWER-id row of the same batch verifies (greedy one-pass semantics —
    direct similarity, not transitive closure; the backfill-shape
    :func:`minhash_dedup_clusters` is where full components belong).

    Scale shape: the new batch's bands join the base state on
    ``(band, band_hash)`` — shuffle bounded by n_bands × batch plus the
    colliding base rows, never base × batch, and the join carries ids
    only (signatures re-join after candidate dedup); the within-batch
    join is the standard banded self-join over the (small) batch.
    ``max_band_freq`` skips buckets whose combined base+batch occupancy
    exceeds the cap (see :func:`minhash_lsh_pairs` for the recall
    contract); it defaults to :data:`DEFAULT_MAX_BAND_FREQ` — the
    append-mode loop is a scale entry point — and ``None`` restores exact
    LSH semantics.
    """
    new_state = minhash_band_state(
        new_df, id_col, text_col, n_perms, n_bands, k, hash_fn
    )
    # NOTE(rounds 11-12): state caching here measured WORSE four separate
    # ways — lazy persist of both states (wash), two sequential eager
    # counts (+14 jobs, barriers serialize what the scheduler absorbs), a
    # single-job union-fill of both caches (jobs 21→36, stages 55→106,
    # wall 2-4×), and round 12's BASE-ONLY lazy persist (jobs 21→36,
    # stages 55→103, wall 2.30→2.42 s min-of-6): every variant makes the
    # cached state's size known, which stops it broadcasting into the band
    # joins, so each candidate join becomes exchange-bearing. The plan's
    # ReusedExchange nodes already share the id-keyed aggregation across
    # the band, occupancy, and verify branches; leave the states lazy
    # (guide §1: measure before caching). This row's ~2.3-3 s is the
    # double Arrow signature pass (base 80% + batch 20%) — its floor.
    est = _sig_jaccard("sig_a", "sig_b", n_perms)

    hot = None
    if max_band_freq is not None:
        # Occupancy counts DISTINCT (id, band, band_hash) rows: the base
        # state legitimately holds duplicate rows between a compaction
        # crash and the next compaction (_band_state_paths tolerates
        # both the pre- and post-swap directory surviving), and raw row
        # counts would inflate bucket occupancy up to 2x — spuriously
        # skipping buckets near the cap and mis-reporting near-dups as
        # kept until compaction heals the state.
        occupancy = (
            new_state.select("id", "band", "band_hash")
            .unionAll(base_state.select("id", "band", "band_hash"))
            .dropDuplicates(["id", "band", "band_hash"])
            .groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        hot = occupancy.filter(F.col("_n") > max_band_freq).select(
            "band", "band_hash"
        )

    def verified_hits(a: DataFrame, b: DataFrame, id_order) -> DataFrame:
        a_b = a.select("id", "band", "band_hash")
        b_b = b.select("id", "band", "band_hash")
        if hot is not None:
            a_b = a_b.join(hot, on=["band", "band_hash"], how="left_anti")
            b_b = b_b.join(hot, on=["band", "band_hash"], how="left_anti")
        cand = (
            a_b.alias("a")
            .join(
                b_b.alias("b"),
                on=[
                    F.col("a.band") == F.col("b.band"),
                    F.col("a.band_hash") == F.col("b.band_hash"),
                    id_order,
                ],
            )
            .select(
                F.col("a.id").alias("nid"), F.col("b.id").alias("bid")
            )
            .distinct()
        )
        joined = cand.join(
            a.select(F.col("id").alias("nid"), F.col("sig").alias("sig_a"))
            .dropDuplicates(["nid"]),
            on="nid",
        ).join(
            b.select(F.col("id").alias("bid"), F.col("sig").alias("sig_b"))
            .dropDuplicates(["bid"]),
            on="bid",
        )
        return (
            joined.withColumn("_j", est)
            .filter(F.col("_j") >= F.lit(threshold))
            .select("nid")
            .distinct()
        )

    # base and batch ids are disjoint in the append contract; the guard
    # defends against an id landing in both (e.g. a re-delivered batch
    # whose bands were already committed) self-matching at est = 1.0
    base_hits = verified_hits(
        new_state, base_state, F.col("a.id") != F.col("b.id")
    ).withColumn("_base", F.lit(True))
    batch_hits = verified_hits(
        new_state, new_state, F.col("b.id") < F.col("a.id")
    ).withColumn("_batch", F.lit(True))

    # id universe from new_df, NOT new_state: NULL-text rows produce no
    # signature and would silently vanish
    ids = (
        new_df.select(F.col(id_col).alias("id"))
        .filter(F.col("id").isNotNull())
        .distinct()
    )
    return (
        ids.join(base_hits.withColumnRenamed("nid", "id"), "id", "left")
        .join(batch_hits.withColumnRenamed("nid", "id"), "id", "left")
        .select(
            "id",
            F.when(F.col("_base"), F.lit("dup_of_base"))
            .when(F.col("_batch"), F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


# Raw pair-row ceiling under which connected components runs as a
# DRIVER-SIDE union-find instead of
# distributed min-label propagation. 5M (u, v) rows is ~100-300 MB of
# Python state — comfortably bounded, same driver-collect discipline as
# operators/phylo.py — while each propagation round costs ~0.8-1 s of
# fixed Spark job overhead (join + agg + localCheckpoint + convergence
# probe) that dwarfs the actual work whenever the edge list is this small.
# Near-dup edge lists are sparse by construction (pair stages emit only
# verified near-duplicates), so in practice even 100 TB corpora tend to
# land under this; the propagation loop remains the unbounded-scale path.
CC_DRIVER_EDGE_LIMIT = 5_000_000


def _driver_union_find(us, vs):
    """Union-find with path compression over collected edge endpoints;
    returns ``{node: min_id_of_component}``. Union-by-min keeps each
    root the component's minimum id, matching min-label propagation's
    fixpoint exactly (label = min id of the connected component)."""
    parent: dict = {}

    def find(x):
        path = []
        r = x
        while True:
            p = parent.get(r, r)
            if p == r:
                break
            path.append(r)
            r = p
        for n in path:
            parent[n] = r
        return r

    nodes = set()
    for u, v in zip(us, vs):
        # equi-join semantics: a null endpoint never matches, so null
        # edges contribute nothing in the propagation path either
        if u is None or v is None:
            continue
        nodes.add(u)
        nodes.add(v)
        ru, rv = find(u), find(v)
        if ru == rv:
            continue
        if rv < ru:
            ru, rv = rv, ru
        parent[rv] = ru
    return {x: find(x) for x in nodes}


def _min_label_propagation(edges: DataFrame, max_iterations: int):
    """Connected components by distributed min-label propagation over a
    null-free ``(u, v)`` edge list; returns ``(labels, guard)`` where labels
    is ``(id, label)`` for every edge endpoint (label = the component's
    minimum id) backed by a checkpoint whose storage the caller must tie to
    its result's lifetime (``cache.scoped_rdd_release``). Only
    :func:`_component_labels` calls it, for edge lists above
    :data:`CC_DRIVER_EDGE_LIMIT`.

    Two resource disciplines, both load-bearing (each was a measured bug):

    - **Lineage must truncate** (``checkpoint_tracked``): each round
      references the previous round TWICE (union + join), so without a
      checkpoint leaf the logical plan doubles per round — exponential
      analysis memory that OOMs an 8 GB driver around 20 rounds.
    - **Checkpoint storage must release deterministically**: PySpark never
      reclaims localCheckpoint RDDs, so superseded rounds unpersist as the
      loop advances and the final checkpoint is scoped to the result.

    Scale shape: the per-round join/aggregate is O(edge endpoints), not
    O(universe) — an id with no near-duplicates never enters the loop and
    keeps its own label by the caller's ``coalesce``.
    """
    from pyspark.sql import types as T

    from lapis_silo_spark.cache import checkpoint_tracked

    # one checkpoint materializes the pair pipeline for both directions
    raw_cp, raw_guard = checkpoint_tracked(edges)
    rev = raw_cp.select(F.col("v").alias("u"), F.col("u").alias("v"))
    edges, edges_guard = checkpoint_tracked(raw_cp.union(rev).distinct())
    raw_guard.release()

    labels, labels_guard = checkpoint_tracked(
        edges.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
    )
    # Convergence signal: labels only ever DECREASE under min-propagation,
    # so for numeric ids the label sum strictly drops on any change — one
    # cheap agg per round. For non-numeric ids (string doc ids are
    # first-class in the pair stages) F.sum over the label column is no
    # signal at all (null / ANSI cast error), so compare rounds exactly
    # with an any-row-changed probe over the two checkpoint leaves.
    id_is_numeric = isinstance(labels.schema["id"].dataType, T.NumericType)
    prev_sum = (
        labels.agg(F.sum("label")).first()[0] if id_is_numeric else None
    )
    for _ in range(max_iterations):
        prop = (
            edges.join(labels, on=[edges["u"] == labels["id"]])
            .select(F.col("v").alias("id"), "label")
        )
        new_labels, new_guard = checkpoint_tracked(
            labels.union(prop).groupBy("id").agg(F.min("label").alias("label"))
        )
        if id_is_numeric:
            new_sum = new_labels.agg(F.sum("label")).first()[0]
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            converged = (
                new_labels.withColumnRenamed("label", "_new")
                .join(labels, on="id")
                .where(F.col("_new") != F.col("label"))
                .limit(1)
                .count()
                == 0
            )
        labels_guard.release()
        labels, labels_guard = new_labels, new_guard
        if converged:
            break
    edges_guard.release()
    return labels, labels_guard


def _component_labels(
    frame: DataFrame,
    rep_col: str,
    pairs: DataFrame,
    pair_a: str,
    pair_b: str,
    max_iterations: int,
):
    """The connected-components stage of every cluster emitter: ``frame``
    plus ``cluster_id`` = the minimum id of ``frame[rep_col]``'s component
    in the ``(pair_a, pair_b)`` graph (its own id when it has no edge).
    Returns ``(labeled, guard)``; ``guard`` (``None`` on the driver route)
    must be tied to the result's lifetime with ``cache.scoped_rdd_release``.

    Null-endpoint edges are dropped once here: the propagation equi-joins
    would never match them, and a single null makes pandas coerce an int64
    column to float64 (float labels would mismatch the LongType schema of
    the label table).

    Route choice, one bounded ``limit(N+1).toPandas()`` job that doubles as
    the size probe and the edge fetch: an edge list of at most
    :data:`CC_DRIVER_EDGE_LIMIT` rows is union-found on the driver
    (:func:`_driver_union_find`) and its non-identity labels broadcast as a
    pure-JVM ``local_relation``; a larger one runs
    :func:`_min_label_propagation`. Both label only edge endpoints and
    attach the same way — a left join, then ``coalesce(label, rep)`` — so
    the two routes agree by construction. The fixpoint is a component's
    minimum id, which may be an endpoint outside ``frame``; a caller whose
    pairs can name such ids filters them first.
    """
    from pyspark.sql import types as T

    edges = pairs.select(
        F.col(pair_a).alias("u"), F.col(pair_b).alias("v")
    ).filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    pdf = edges.limit(CC_DRIVER_EDGE_LIMIT + 1).toPandas()
    if len(pdf) <= CC_DRIVER_EDGE_LIMIT:
        found = _driver_union_find(pdf["u"].tolist(), pdf["v"].tolist())
        dt = frame.schema[rep_col].dataType
        schema = T.StructType(
            [T.StructField("_cc_node", dt), T.StructField("_cc_label", dt)]
        )
        labels = F.broadcast(
            local_relation(
                frame.sparkSession,
                sorted((n, lbl) for n, lbl in found.items() if n != lbl),
                schema,
            )
        )
        guard = None
    else:
        labels, guard = _min_label_propagation(edges, max_iterations)
        labels = labels.select(
            F.col("id").alias("_cc_node"), F.col("label").alias("_cc_label")
        )
    labeled = (
        frame.join(labels, frame[rep_col] == labels["_cc_node"], "left")
        .withColumn(
            "cluster_id", F.coalesce(F.col("_cc_label"), F.col(rep_col))
        )
        .drop("_cc_node", "_cc_label")
    )
    return labeled, guard


def dedup_cluster_assignment(
    universe: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Collapse near-duplicate PAIRS into CLUSTERS: every id in ``universe``
    gets ``cluster_id`` = the minimum id of its connected component (its own
    id when it has no near-duplicates), plus ``cluster_size`` and an
    ``is_canonical`` flag (true on the minimum member — the row a dedup
    pipeline keeps). This is the stage after pair generation that makes pair
    output actionable: transitive closure, so A~B plus B~C dedups A,B,C
    together even though (A,C) was never emitted.

    Pairs with a null endpoint or an endpoint outside ``universe`` are
    dropped, so the output is exactly one row per distinct universe id with
    one canonical row per cluster.

    Algorithm: :func:`_component_labels` — a driver union-find for edge
    lists up to :data:`CC_DRIVER_EDGE_LIMIT`, otherwise min-label
    propagation: labels start as ids; each round every node takes the min
    of its own and its neighbors' labels, until fixpoint. Rounds are
    bounded by the cluster diameter (near-dup components are shallow; the
    30-round cap is generous), each round is one equi-join + one
    map-side-combinable min-aggregate, and the driver loop is the
    canonical Spark iterative shape (GraphX connectedComponents does the
    same propagation).
    """
    from lapis_silo_spark.cache import scoped_persist, scoped_rdd_release

    ids = universe.select(F.col(id_col).alias("id")).distinct()
    inside = (
        pairs.select(F.col(pair_a).alias("u"), F.col(pair_b).alias("v"))
        .join(ids.select(F.col("id").alias("u")), "u", "left_semi")
        .join(ids.select(F.col("id").alias("v")), "v", "left_semi")
    )
    lbl, guard = _component_labels(ids, "id", inside, "u", "v", max_iterations)
    # lbl is read twice (sizes agg + final join)
    lbl = lbl.persist()
    # cluster_size via groupBy + join, NOT a cluster-keyed window: a
    # mega-cluster (billions of twins of one boilerplate doc — the corpus
    # this operator exists for) would make the window a single task AQE
    # cannot split, while the join's one-row-per-cluster build side is
    # skew-splittable (round-7 verdict #3; same doctrine as substring dedup).
    sizes = lbl.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    out = lbl.join(sizes, on="cluster_id").select(
        F.col("id"),
        F.col("cluster_id"),
        F.col("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )
    return scoped_rdd_release(scoped_persist(lbl, out), guard)


def minhash_dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_perms: int = 64,
    n_bands: int = 8,
    k: int = 5,
    hash_fn=None,
    max_iterations: int = 30,
    max_band_freq: int | None = DEFAULT_MAX_BAND_FREQ,
) -> DataFrame:
    """End-to-end near-duplicate CLUSTERING with O(docs) output:
    ``(id, cluster_id, cluster_size, is_canonical)`` for every input row
    with a non-null id, exactly once — the scale-safe form of near-dup
    removal. A row with a null id is dropped and counts in no
    ``cluster_size``; a row with NULL text has no signature and is its own
    canonical singleton. :func:`minhash_lsh_pairs`'s
    banded candidate generation is correct at scale, but *materializing* the
    pair list is quadratic on twin-heavy corpora (the round-3 100× sweep:
    ~25M verified pairs, wall dominated by pair output). Fusing pair
    generation into the cluster collapse bounds the result at one row per
    document no matter how duplicate-heavy the corpus is.

    Pipeline (three fused stages, one lazy plan per stage):

    1. **Exact-twin short-circuit** — group docs by md5(normalized text);
       only each digest group's minimum id (the *representative*) proceeds.
       On a corpus where every doc has E exact twins, LSH work drops by E×
       and the quadratic twin-pair explosion never happens: twins reach the
       output via their digest, not via pairs.
    2. **Banded LSH + verification over representatives only** — the
       standard ``minhash_lsh_pairs`` plan (band-bucket join, never rows²);
       its pair output here is bounded by near-dup relations between
       *distinct* texts, the irreducible edge set.
    3. **Connected components** (:func:`_component_labels`) collapse
       representative pairs (transitive closure), then every doc joins back
       through its digest: ``cluster_id`` = min doc id of the component
       (each representative is already its digest group's min id, so the
       component's min representative IS the cluster's global min id).

    ``is_canonical`` marks the one row per cluster a dedup pipeline keeps.
    Shuffle inventory: one digest agg, the banded LSH join over reps, the
    propagation rounds (rep-sized), and digest/rep/cluster-keyed hash joins
    over the full corpus (cluster sizes come from an O(reps)-side aggregate,
    never a cluster-keyed window) — all linear in docs
    except the LSH join, which is banded, rep-bounded, and shuffles ids
    only. A slice of near-identical-but-NOT-identical docs (one char of
    drift) survives the digest and can still go quadratic inside its band
    buckets — ``max_band_freq`` caps that (8.6× wall at 20k near-twins,
    BENCH_NOTES "Adversarial near-twin band skew"; recall contract in
    :func:`minhash_lsh_pairs`). Since round 6 the cap DEFAULTS to
    :data:`DEFAULT_MAX_BAND_FREQ` — this is the entry point users run at
    scale; pass ``None`` for exact LSH semantics (identical on benign
    corpora, test-pinned).

    With ``hash_fn=hash32`` (md5 family) the full output is reproducible in
    external SQL — the registered driver query's DuckDB oracle replays
    digesting, signatures, banding, verification, AND the closure
    (recursive CTE) bit-for-bit.
    """
    from lapis_silo_spark.cache import scoped_persist, scoped_rdd_release

    # digests feeds the rep aggregation AND the final doc join — persist
    # the narrow (id, digest) projection so the md5 pass over the corpus
    # runs once (round 11; the cache fills during the pair stage's probe).
    # A NULL text's digest is derived from its id (no md5 hex string
    # starts with '#'), so it neither joins another row's digest group nor
    # drops out of the digest join.
    digests = (
        df.select(
            F.col(id_col).alias("id"),
            F.coalesce(
                F.md5(normalized(text_col)),
                F.concat(F.lit("#"), F.col(id_col).cast("string")),
            ).alias("digest"),
        )
        .filter(F.col("id").isNotNull())
        .persist()
    )
    # ONE digest-keyed aggregation produces both the representative (min
    # id) and the digest-group size — the former reps/digest_sizes twin
    # groupBys shared a key but ran as two exchanges (round 11, guide §2.4).
    g = digests.groupBy("digest").agg(
        F.min("id").alias("rep_id"), F.count(F.lit(1)).alias("_n")
    )
    rep_docs = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t")
    ).join(
        g.select(F.col("rep_id").alias("id")), on="id", how="left_semi"
    )
    pairs = minhash_lsh_pairs(
        rep_docs, "id", "_t", threshold=threshold, n_perms=n_perms,
        n_bands=n_bands, k=k, hash_fn=hash_fn, max_band_freq=max_band_freq,
    )

    gl, guard = _component_labels(
        g, "rep_id", pairs, "id_a", "id_b", max_iterations
    )
    # gl is read twice (sizes agg + doc join) — persist the O(reps) table
    gl = gl.persist()

    # cluster_size = Σ digest-group sizes over the component — computed on
    # the O(reps) side and joined back, never a cluster-keyed window over
    # the full corpus (a boilerplate mega-cluster would single-task it;
    # the join's one-row-per-cluster side is AQE skew-splittable).
    sizes = gl.groupBy("cluster_id").agg(F.sum("_n").alias("cluster_size"))
    out = (
        digests.join(gl.select("digest", "cluster_id"), on="digest")
        .join(sizes, on="cluster_id")
        .select(
            "id",
            "cluster_id",
            "cluster_size",
            (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
        )
    )
    out = scoped_persist(gl, scoped_persist(digests, out))
    return scoped_rdd_release(out, guard)


def embedding_dedup_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    method: str = "blocked",
    block_rows: int = 8192,
    n_blocks: int | None = None,
    n_planes: int = 6,
    n_tables: int = 4,
    dim: int = 64,
    max_iterations: int = 30,
    allow_quadratic: bool = False,
) -> DataFrame:
    """End-to-end embedding near-dup CLUSTERING with O(docs) output —
    the :func:`minhash_dedup_clusters` treatment for the embedding family
    (round-5 VERDICT #3): the sf1 sweep showed the two pair-emitters
    (``lsh_candidate_pairs``, ``embedding_near_dup_pairs_blocked``) scale
    superlinearly purely through pair OUTPUT volume (near-dup clusters make
    pair counts grow ~quadratically in cluster density); fusing pair
    generation into the component collapse bounds the result at one
    ``(id, cluster_id, cluster_size, is_canonical)`` row per document.

    Pipeline (three fused stages):

    1. **Identical-vector short-circuit** — group rows by the vector value
       itself (an equality key, so no float-digest tricks); only each
       group's minimum id proceeds. Exact-duplicate embeddings (re-crawled
       or re-encoded docs) never reach pair generation — the embedding
       analog of the minhash digest stage. Null, zero-norm and NaN
       vectors are excluded from grouping (the pair stage would never
       merge them; grouping them would over-merge vs the pair semantics)
       and pass through as their own representatives. Rows with a null id
       are dropped, as in every pair form.
    2. **Distributed pair generation over representatives only** —
       ``method="blocked"`` (:func:`embedding_near_dup_pairs_blocked`,
       exact, one BLAS matmul per block pair) or ``method="lsh"``
       (:func:`~lapis_silo_spark.functions.similarity.lsh_candidate_pairs`,
       the sublinear-candidates path). The pair list exists only inside
       this plan, never as output.
    3. **Connected components** (:func:`_component_labels`) collapse
       representative pairs; every row joins back through its vector
       group. ``cluster_id`` = min id of the component (representatives
       are their group minima, so the component's min representative IS
       the cluster's global min id).

    Shuffle inventory: one vec-keyed agg + one vec-keyed join (vector-wide,
    same width the pair stage already shuffles), pair generation bounded
    by distinct vectors, rep-sized propagation rounds, and rep/cluster-keyed
    joins over the full corpus (cluster sizes from an O(reps)-side
    aggregate, never a cluster-keyed window) — all O(docs) except the pair
    stage, whose OUTPUT no longer leaves the plan.
    """
    from lapis_silo_spark.cache import scoped_rdd_release
    from lapis_silo_spark.functions.similarity import lsh_candidate_pairs

    base = _spread(
        df,
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).filter(F.col("id").isNotNull())
    # Rows the pair policy rejects (:func:`_pairable` — null, zero-norm or
    # NaN vectors) pass through as their own singleton representatives:
    # the contract is one output row per input row with a non-null id.
    # coalesce: a null vector's policy verdict is null, which would drop
    # the row from both filter branches. The NaN test matters here too:
    # Spark treats NaN = NaN as equal, so a NaN vector must not enter the
    # groupBy('vec') short-circuit.
    with_nz = base.withColumn("_nz", F.coalesce(_pairable(), F.lit(False)))
    nz = with_nz.filter(F.col("_nz"))
    reps_nz = nz.groupBy("vec").agg(F.min("id").alias("rep_id"))
    rep_map = (
        nz.join(reps_nz, on="vec")
        .select("id", "rep_id")
        .unionAll(
            with_nz.filter(~F.col("_nz")).select(
                "id", F.col("id").alias("rep_id")
            )
        )
    )
    # pair generation sees NON-degenerate representatives only — degenerate
    # ids still get labeled through rep_map and come out as singleton
    # clusters
    rep_docs = base.join(
        reps_nz.select(F.col("rep_id").alias("id")), on="id", how="left_semi"
    )

    if method == "blocked":
        # the blocked path reads rep_docs twice — the n_blocks-sizing count
        # and the replicated pair stage — and its lineage is the vector-wide
        # groupBy + semi-join; persist so the dedup agg runs once (round 11;
        # O(distinct vectors) rows, same footprint the pair stage already
        # holds). Guard scoped to the result with rep_map's below.
        rep_docs = rep_docs.persist()
        pairs = embedding_near_dup_pairs_blocked(
            rep_docs, "id", "vec", threshold=threshold,
            block_rows=block_rows, n_blocks=n_blocks,
            allow_quadratic=allow_quadratic,
        )
    elif method == "lsh":
        pairs = lsh_candidate_pairs(
            rep_docs, "id", "vec", threshold=threshold,
            n_planes=n_planes, n_tables=n_tables, dim=dim,
        )
    else:
        raise ValueError(f"unknown method {method!r}; use 'blocked' or 'lsh'")

    rml, guard = _component_labels(
        rep_map, "rep_id", pairs, "id_a", "id_b", max_iterations
    )
    # rml is read twice (sizes agg + final join) and its lineage is the
    # vector-wide groupBy + join — persist the narrow labeled table so the
    # wide agg runs once
    rml = rml.persist()

    # cluster_size = one cluster-keyed COUNT over the labeled rows — the
    # partial (map-side) aggregation makes this skew-safe even for a
    # boilerplate mega-cluster (count is combinable), unlike a
    # cluster-keyed window, which would single-task it (round-7 doctrine).
    sizes = rml.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    out = rml.join(sizes, on="cluster_id")
    result = out.select(
        "id",
        "cluster_id",
        "cluster_size",
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )
    result = scoped_persist(rml, scoped_rdd_release(result, guard))
    if rep_docs.is_cached:
        result = scoped_persist(rep_docs, result)
    return result


# ---------------------------------------------------------------------------
# Substring-level (span) deduplication
# ---------------------------------------------------------------------------

def _gram_dup_occurrences(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, end): every word-``k``-gram occurrence that is NOT the
    corpus-wide canonical (lexicographically-min ``(id, pos)``) occurrence
    of its gram. Positions are 1-based; ``end = pos + k - 1``.

    The inverted-index shape: the occurrence table is O(total tokens) and
    shuffles NARROW — ``(id, pos, md5)`` only, never the text. Documents
    with a null id take no part in the canonical pick.
    """
    docs = docs.filter(F.col(id_col).isNotNull())
    occ = _gram_occurrences_arrow(docs, id_col, text_col, k)
    return _non_canonical_occurrences(occ, k)


def _gram_occurrences_arrow(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Arrow-batched gram-occurrence production ``(id, pos, gh)`` for the
    substring-span family — one zero-shuffle ``mapInPandas`` pass per input
    partition (guide §4), bit-identical to the expression reference in
    ``tests/dedup_reference.py`` and ~5× faster (round 11): in expression
    form Catalyst collapses the ``_t`` projection through the Generate, so
    ``split(lower(regexp_replace(trim(text))))`` re-evaluates per exploded
    row — O(len²) per document, 3.8-4.1 s noop wall at sf0.1 against
    0.5-0.7 s here.

    It replicates ``tokens()`` exactly as the minhash Arrow pass does
    (ASCII-space-only ``trim``, Java ``\\s`` = ``[ \\t\\n\\x0b\\f\\r]``
    collapse, lowercase, single-space split — multibyte parity pinned by
    the sig-path tests); gram = ``md5(' '.join(tokens[p:p+k]))``, emitted
    for 1-based positions 1..n_tokens-k+1. NULL text and texts with fewer
    than ``k`` tokens emit no rows, matching the expression path's
    ``when(n >= k, sequence(..))`` guard.
    """
    import pandas as pd
    from pyspark.sql import types as T

    id_type = docs.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("pos", T.IntegerType()),
            T.StructField("gh", T.BinaryType()),
        ]
    )
    base = _spread(
        docs, F.col(id_col).alias("id"), F.col(text_col).alias("_txt")
    )

    def gen(it):
        import hashlib
        import re

        ws = re.compile(r"[\t\n\x0b\f\r ]+")
        md5 = hashlib.md5
        for pdf in it:
            ids, poss, ghs = [], [], []
            for i, txt in zip(pdf["id"], pdf["_txt"]):
                if txt is None:
                    continue
                t = ws.sub(" ", txt.strip(" ")).lower()
                tk = t.split(" ")
                for p in range(len(tk) - (k - 1)):
                    ids.append(i)
                    poss.append(p + 1)
                    ghs.append(
                        md5(" ".join(tk[p: p + k]).encode("utf-8")).digest()
                    )
            yield pd.DataFrame(
                {
                    "id": ids,
                    "pos": pd.Series(poss, dtype="int32"),
                    "gh": ghs,
                }
            )

    return base.mapInPandas(gen, out_schema)


def _non_canonical_occurrences(occ: DataFrame, k: int) -> DataFrame:
    """Shared back half of the span machinery: from ``(id, pos, gh)`` gram
    occurrences, every occurrence that is NOT its gram's corpus-wide
    canonical (lexicographically-min ``(id, pos)``) one, as
    ``(id, pos, end)``.

    The canonical pick is a min aggregate per gram joined back: the min
    combines MAP-SIDE, and the 1:N join is AQE-skew-splittable — a
    boilerplate gram occurring in millions of documents (the COMMON hot
    case in web corpora, not an adversarial one) spreads across split
    partitions, where a gram-keyed window would sort it inside one task.

    INVARIANT: ``id`` and ``pos`` must be non-null. Both span paths drop
    null-id documents before their occurrence producer, and the producers
    emit rows only for real positions of non-null texts. The two pick
    forms below diverge on nulls (a null id yields a null ``_k`` which
    ``min`` ignores, whereas ``struct(null, pos)`` wins the struct min), so
    that upstream filter is what pins one behaviour.
    """
    from pyspark.sql import types as T

    # Keep only grams with >= 2 occurrences on the build side: a singleton
    # gram's one occurrence IS its canonical, so the post-join filter would
    # drop it anyway — filtering the aggregate first shrinks the join's
    # build/broadcast side from O(distinct grams) to O(duplicated grams).
    # The count combines map-side with the same min partial.
    id_dt = occ.schema["id"].dataType
    if isinstance(id_dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        # HASH-aggregable canonical pick (guide §2): MIN over a STRUCT
        # forces SortAggregate (struct ordering has no hash-agg support —
        # measured as the dominant stage of the char-span rows); packing
        # (id, pos) into ONE decimal(38,0) as id * 2^32 + pos preserves
        # lexicographic order exactly for any signed 64-bit id (pos ∈
        # [1, 2^31) is always below the 2^32 stride) and min(decimal)
        # hash-aggregates.
        key = (
            F.col("id").cast("decimal(20,0)")
            * F.lit(4294967296).cast("decimal(20,0)")
            + F.col("pos").cast("decimal(20,0)")
        ).cast("decimal(38,0)")
        keyed = occ.withColumn("_k", key)
        canon = (
            keyed.groupBy("gh")
            .agg(F.min("_k").alias("c"), F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") >= 2)
            .select("gh", "c")
        )
        dups = keyed.join(canon, "gh").where(F.col("_k") != F.col("c"))
    else:
        canon = (
            occ.groupBy("gh")
            .agg(
                F.min(F.struct("id", "pos")).alias("c"),
                F.count(F.lit(1)).alias("_n"),
            )
            .where(F.col("_n") >= 2)
            .select("gh", "c")
        )
        dups = occ.join(canon, "gh").where(
            (F.col("id") != F.col("c.id")) | (F.col("pos") != F.col("c.pos"))
        )
    return dups.select("id", "pos", (F.col("pos") + F.lit(k - 1)).alias("end"))


def _char_gram_dup_occurrences(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Character-level twin of :func:`_gram_dup_occurrences`: ``(id, pos,
    end)`` for every character-``k``-gram occurrence that is not its gram's
    canonical occurrence. Positions are 1-based CHARACTER offsets into the
    raw text (no tokenization/normalization — char-level dedup exists
    precisely to catch duplication word tokenization splits: code, CJK,
    concatenated boilerplate; Lee et al.'s suffix-array dedup operates on
    raw bytes the same way).

    Cost note vs the word form: the occurrence table is O(chars) rows (one
    per character), ~5× the word form's O(tokens) — the inherent price of
    character resolution; everything shuffled is still ``(id, pos,
    16-byte gh)``, never the text. Documents with a null id take no part
    in the canonical pick.
    """
    docs = docs.filter(F.col(id_col).isNotNull())
    # Expression path, NOT an Arrow producer (round-11 A/B at sf1): char
    # occurrence volume is O(chars) — ~8x the word form — and at that
    # volume the Python-boundary serialization of the (id, pos, gh) table
    # dominates: full-query sf1 wall 16.7 s (expr, stable) vs 24-114 s
    # (Arrow, GC/memory-pressure swings). The expr path's per-row text
    # carry is a memcpy, not the word form's per-row split re-evaluation,
    # so the O(len^2) collapse that justified Arrow for word grams does
    # not bite here. At sf0.1 the two are within ~0.6 s of each other.
    occ = _char_gram_occurrences_expr(docs, id_col, text_col, k)
    return _non_canonical_occurrences(occ, k)


def _char_gram_occurrences_expr(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """The char-gram occurrence producer ``(id, pos, gh)``: one row per
    1-based character position of every text with at least ``k`` chars,
    gram = ``md5(substr(text, pos, k))`` over the raw text (no
    normalization; ``substr`` counts code points). NULL text emits no
    rows."""
    t = F.col(text_col)
    n = F.length(t)
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.when(
                n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
        t.alias("_s"),
    ).select(
        "id",
        "pos",
        F.unhex(F.md5(F.col("_s").substr(F.col("pos"), F.lit(k)))).alias("gh"),
    )


def _merged_spans(dups: DataFrame) -> DataFrame:
    """Merge overlapping/adjacent ``(id, pos, end)`` intervals into maximal
    spans ``(id, island, s, e)`` — the gaps-and-islands running-max window
    shared by the word- and char-level span paths."""
    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dups.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w))
    return flagged.groupBy("id", "island").agg(
        F.min("pos").alias("s"), F.max("end").alias("e")
    )


def duplicate_spans(
    docs: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Exact substring-level dedup statistics (Lee et al. 2022 semantics,
    re-expressed relationally): a token position is *duplicated* when it is
    covered by a word ``k``-gram whose exact text occurs elsewhere in the
    corpus at an earlier ``(id, pos)``; overlapping/adjacent duplicated
    windows merge into maximal spans. Returns per document
    ``(id, n_tokens, dup_tokens, n_spans, dup_fraction)`` — the signal a
    curation pipeline thresholds on before cutting the spans out
    (see :func:`remove_duplicate_spans`).

    Scale shape: one gram-keyed aggregation (canonical occurrence per
    distinct gram, map-side combinable min), one narrow join back, one
    per-doc window for the interval merge (gaps-and-islands — running max
    of span ends), and a per-doc count join. Shuffle volume is O(tokens)
    ids+ints; nothing quadratic, no text movement after the scan.
    """
    dups = _gram_dup_occurrences(docs, id_col, text_col, k)
    spans = _merged_spans(dups)
    per_doc = spans.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
    )
    base = docs.select(
        F.col(id_col).alias("id"), F.size(tokens(text_col)).cast("long").alias("n_tokens")
    )
    return base.join(per_doc, "id", "left").select(
        "id",
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_fraction"),
    )


def remove_duplicate_spans(
    docs: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Cut every duplicated span (as defined by :func:`duplicate_spans`) out
    of each document, keeping only the corpus-wide canonical occurrence of
    each repeated ``k``-gram. Returns ``(id, clean_tokens, clean_text)``.

    Scale shape: the covered-position table is O(duplicated tokens) ints;
    kept tokens re-assemble with a per-doc sort_array over collected
    ``(pos, token)`` structs — one shuffle keyed on the doc id, bounded by
    document length, no pairwise work.
    """
    dups = _gram_dup_occurrences(docs, id_col, text_col, k)
    covered = dups.select(
        "id", F.explode(F.sequence(F.col("pos"), F.col("end"))).alias("pos")
    ).dropDuplicates(["id", "pos"])
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos0", "tok"),
    ).select("id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = tok.join(covered, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("clean_tokens"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = docs.select(F.col(id_col).alias("id"))
    return base.join(rebuilt, "id", "left").select(
        "id",
        F.coalesce("clean_tokens", F.lit(0)).alias("clean_tokens"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def duplicate_char_spans(
    docs: DataFrame, id_col: str, text_col: str, k: int = 50
) -> DataFrame:
    """CHARACTER-level substring-dedup statistics (round-5 VERDICT #6):
    a character position is duplicated when covered by a char-``k``-gram
    whose exact text occurs elsewhere at an earlier ``(id, pos)``;
    overlapping/adjacent windows merge into maximal spans. ``k=50`` is
    Lee et al.'s suffix-array length threshold — any duplicated substring
    of ≥ k chars is covered by at least one duplicated k-gram, so merged
    spans ARE the ≥-k-char duplicated regions. Catches duplication word
    tokenization splits (code, CJK, concatenated boilerplate — the word
    form sees "x;}\\nfoo" as one token and misses the repeat inside).

    Returns ``(id, n_chars, dup_chars, n_spans, dup_fraction)``. Scale
    shape identical to :func:`duplicate_spans` with O(chars) occurrence
    rows instead of O(tokens).
    """
    dups = _char_gram_dup_occurrences(docs, id_col, text_col, k)
    spans = _merged_spans(dups)
    per_doc = spans.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_chars"),
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
    )
    return base.join(per_doc, "id", "left").select(
        "id",
        "n_chars",
        F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        # try_divide: empty documents have n_chars = 0 (the word form's
        # split('') yields one empty token, so only the char form can hit
        # a zero denominator under ANSI mode); define their fraction as 0
        F.coalesce(
            F.round(
                F.try_divide(F.coalesce("dup_chars", F.lit(0)), F.col("n_chars")),
                6,
            ),
            F.lit(0.0),
        ).alias("dup_fraction"),
    )


def remove_duplicate_char_spans(
    docs: DataFrame, id_col: str, text_col: str, k: int = 50
) -> DataFrame:
    """Cut every duplicated ≥-``k``-char span (per
    :func:`duplicate_char_spans`) out of each document, keeping the
    corpus-wide canonical occurrence. Returns
    ``(id, clean_chars, clean_text)``.

    Scale shape: unlike the word form (which re-assembles from kept
    tokens), the char form STITCHES — the merged spans per doc (a short
    sorted list) collect into one array and a single ``F.aggregate`` walks
    it, concatenating the text between spans. One doc-keyed shuffle of
    span structs; the text itself never shuffles (it rides the docs scan).
    """
    dups = _char_gram_dup_occurrences(docs, id_col, text_col, k)
    spans = _merged_spans(dups)
    per_doc = spans.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("sp")
    )
    base = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_s")
    )
    joined = base.join(per_doc, "id", "left")
    empty = F.array().cast("array<struct<s:int,e:int>>")
    clean = F.aggregate(
        F.coalesce(F.col("sp"), empty),
        F.struct(F.lit(0).alias("prev"), F.lit("").alias("txt")),
        lambda a, sp: F.struct(
            sp["e"].alias("prev"),
            F.concat(
                a["txt"],
                F.col("_s").substr(
                    a["prev"] + F.lit(1), sp["s"] - a["prev"] - F.lit(1)
                ),
            ).alias("txt"),
        ),
        lambda a: F.concat(
            a["txt"],
            F.col("_s").substr(
                a["prev"] + F.lit(1), F.length("_s") - a["prev"]
            ),
        ),
    )
    # coalesce: null text stitches to null — normalize to the word twin's
    # ('' / 0) contract so the two forms stay interchangeable
    return joined.select(
        "id",
        F.coalesce(F.length(clean).cast("long"), F.lit(0)).alias(
            "clean_chars"
        ),
        F.coalesce(clean, F.lit("")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Line-level corpus dedup (CCNet / RefinedWeb style)
# ---------------------------------------------------------------------------

def _line_array(
    docs: DataFrame,
    id_col: str,
    *,
    text_col: str | None,
    lines_col: str | None,
    line_sep: str,
    normalize: bool,
):
    """``(id, _arr)`` with the document's lines as an array — either a
    caller-provided ``array<string>`` column (pre-segmented corpora) or a
    literal split of ``text_col`` on ``line_sep``. ``normalize`` keys each
    line on its lowercased/whitespace-collapsed form for the dedup decision
    while the OUTPUT keeps the raw line text."""
    from lapis_silo_spark.functions.text import normalized

    if (lines_col is None) == (text_col is None):
        raise ValueError("exactly one of text_col / lines_col is required")
    if lines_col is not None:
        # null line arrays normalize to a single empty line — the same
        # contract null text gets below, so n_lines is never null/-1.
        # Null ELEMENTS normalize to '' as well: md5(null) would never
        # equi-join the stats table and array_join silently skips nulls,
        # so a null line would vanish from clean_text without being
        # counted in n_dropped — corrupting the yield accounting.
        arr = F.transform(
            F.coalesce(
                F.col(lines_col), F.array(F.lit("")).cast("array<string>")
            ),
            lambda x: F.coalesce(x, F.lit("")),
        )
    else:
        # split() takes a regex — \Q...\E-quote the separator so '\n' stays
        # the common case but '|' or '. ' callers aren't surprised;
        # null text normalizes to '' (one empty line), mirroring the
        # ('' / 0) contract of the substring-span operators
        arr = F.split(
            F.coalesce(F.col(text_col), F.lit("")),
            "\\Q" + line_sep + "\\E",
            -1,
        )
    out = docs.select(F.col(id_col).alias("id"), arr.alias("_arr"))
    key = (lambda c: normalized(c)) if normalize else (lambda c: c)
    return out, key


def _line_occurrences(lines: DataFrame, key) -> DataFrame:
    """Explode ``(id, _arr)`` to ``(id, pos, lh)`` — 1-based line position
    plus the 16-byte digest of the line's dedup key. Only (id, pos, 16-byte
    lh) is ever shuffled; line text stays with its document."""
    return lines.select(
        "id", F.posexplode("_arr").alias("p0", "_line")
    ).select(
        "id",
        (F.col("p0") + F.lit(1)).alias("pos"),
        F.unhex(F.md5(key(F.col("_line")))).alias("lh"),
    )


def duplicate_line_report(
    docs: DataFrame,
    id_col: str,
    *,
    text_col: str | None = None,
    lines_col: str | None = None,
    line_sep: str = "\n",
    min_docs: int = 2,
    normalize: bool = True,
) -> DataFrame:
    """Corpus-wide duplicated-line report: every line (by dedup key) present
    in at least ``min_docs`` distinct documents, with document and occurrence
    counts — the boilerplate detector of CCNet/RefinedWeb-style line dedup
    (headers, footers, cookie banners are exactly the lines that repeat
    across many pages).

    Returns ``(line, n_docs, n_occurrences)``.

    Scale shape: same two-stage agg as :func:`duplicate_passages` — stage 1
    keys on ``(line_key, id)`` so map-side combine collapses within-document
    repeats before the shuffle; stage 2 re-keys on the line alone over one
    row per (line, doc). The reference engine has no text surface (SURVEY
    §2.5); this is LLM-pipeline surface.
    """
    lines, key = _line_array(
        docs, id_col, text_col=text_col, lines_col=lines_col,
        line_sep=line_sep, normalize=normalize,
    )
    occ = lines.select(
        "id", F.explode("_arr").alias("_line")
    ).select("id", key(F.col("_line")).alias("line"))
    per_doc = occ.groupBy("line", "id").agg(F.count(F.lit(1)).alias("occ"))
    return (
        per_doc.groupBy("line")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("occ").cast("bigint").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_duplicate_lines(
    docs: DataFrame,
    id_col: str,
    *,
    text_col: str | None = None,
    lines_col: str | None = None,
    line_sep: str = "\n",
    min_count: int = 2,
    keep_first: bool = True,
    normalize: bool = True,
) -> DataFrame:
    """Line-level exact dedup across the corpus: every line whose dedup key
    occurs at least ``min_count`` times (corpus-wide, within- or across-doc)
    is dropped from every document except — when ``keep_first`` — its
    canonical (lexicographically-min ``(id, pos)``) occurrence. The CCNet /
    RefinedWeb line-dedup pass, as an engine operator.

    Returns ``(id, n_lines, n_dropped, clean_text)`` with ``clean_text`` the
    surviving lines re-joined by ``line_sep``.

    Scale shape: the shuffle is ``(id, pos, 16-byte digest)`` occurrence rows
    — O(lines), never text; the canonical pick is a map-side-combinable
    min-struct agg (the same skew-safe form as the substring-span machinery,
    so a line duplicated across millions of pages cannot single-task a
    window sort); the drop-list joins back per document as a short positions
    array and the text is filtered IN PLACE (``F.filter`` over the original
    split — the document body never shuffles).
    """
    lines, key = _line_array(
        docs, id_col, text_col=text_col, lines_col=lines_col,
        line_sep=line_sep, normalize=normalize,
    )
    occ = _line_occurrences(lines, key)
    stats = occ.groupBy("lh").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct("id", "pos")).alias("c"),
    )
    drops = occ.join(stats, "lh").where(F.col("n_occ") >= min_count)
    if keep_first:
        drops = drops.where(
            (F.col("id") != F.col("c.id")) | (F.col("pos") != F.col("c.pos"))
        )
    per_doc = drops.groupBy("id").agg(
        F.collect_list("pos").alias("_drops")
    )
    joined = lines.join(per_doc, "id", "left")
    empty = F.array().cast("array<bigint>")
    dropset = F.coalesce(F.col("_drops").cast("array<bigint>"), empty)
    kept = F.filter(
        "_arr",
        lambda x, i: ~F.array_contains(dropset, (i + F.lit(1)).cast("bigint")),
    )
    return joined.select(
        "id",
        F.size("_arr").cast("bigint").alias("n_lines"),
        F.size(dropset).cast("bigint").alias("n_dropped"),
        F.array_join(kept, line_sep).alias("clean_text"),
    )
