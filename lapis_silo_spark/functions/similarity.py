"""Similarity search over embedding columns: brute-force cosine top-k
(baseline) and random-hyperplane LSH bucketing (scale path).

Scale design: brute-force is exact and fine when one side is small (a query
batch) — it broadcasts the queries and scans the corpus once, no shuffle.
The LSH path buckets the corpus by signature so candidate generation is a
hash join on the bucket key; exact cosine re-ranks within candidates. The
hyperplanes are md5-derived (deterministic, no RNG state), so results are
reproducible and SQL-oracle-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lapis_silo_spark.functions.dedup import (
    _block_pair_cosines,
    cosine,
    dot,
    norm,
)
from lapis_silo_spark.session import local_relation


def _plane_matrix(total_planes: int, dim: int) -> "object":
    """The md5-derived hyperplane bank as a numpy (total_planes × dim)
    matrix: coefficient (p, d) is ((h % 2001) - 1000) / 1000 with h the
    first 8 hex chars of md5("p:d")."""
    import hashlib

    import numpy as np

    return np.array(
        [
            [
                ((int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
                  % 2001) - 1000) / 1000.0
                for d in range(dim)
            ]
            for p in range(total_planes)
        ]
    )


def lsh_table_buckets(
    vec_col: str, n_planes: int, n_tables: int, dim: int
) -> Column:
    """All ``n_tables`` banded bucket labels of a vector (array<string>,
    entries ``"t:bits"``), computed as ONE numpy matmul per Arrow batch.

    The signature is a (rows × dim) · (dim × planes) matrix product — the
    textbook case where a vectorized Pandas UDF beats built-in expressions:
    the equivalent expression tree has planes×dim nodes, which both breaks
    whole-stage codegen (64 KB method limit) and is quadratically slow under
    the interpreted fallback. Plane order matches the expression/SQL form
    (global plane index ``t*n_planes + p``), so oracle SQL stays valid.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    total = n_planes * n_tables
    planes = _plane_matrix(total, dim)

    # no type hints: module-level `from __future__ import annotations` makes
    # them strings pandas_udf can't resolve from this closure's scope
    @pandas_udf(T.ArrayType(T.StringType()))
    def _buckets(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vecs.tolist(), dtype=np.float64)
        signs = (mat @ planes.T) >= 0  # rows × total
        out = []
        for row in signs:
            out.append(
                [
                    f"{t}:" + "".join(
                        "1" if b else "0"
                        for b in row[t * n_planes:(t + 1) * n_planes]
                    )
                    for t in range(n_tables)
                ]
            )
        return pd.Series(out)

    return _buckets(F.col(vec_col).cast("array<double>"))


def lsh_query_probes(
    vec_col: str, n_planes: int, n_tables: int, dim: int, n_flip: int
) -> Column:
    """Multi-probe bucket labels for the QUERY side: per table, the base
    bucket plus ``n_flip`` single-bit perturbations flipping the planes with
    the smallest projection magnitude (array<string>, entries ``"t:bits"``).

    Standard multi-probe LSH (Lv et al., VLDB'07, single-bit perturbation
    subset): a near neighbor that lands just across a low-margin hyperplane
    is recovered by probing the adjacent bucket, buying recall WITHOUT extra
    tables — corpus-side bucket count (and therefore shuffle volume and
    index size) is unchanged; only the tiny query side fans out
    ``1 + n_flip`` probes per table.

    Determinism / oracle parity: margins round to 9 decimals (half away from
    zero, the shared SQL convention) before ranking, ties break by plane
    index ascending — so an external SQL engine reproduces the exact probe
    set (see the ``ann_lsh_topk`` driver oracle).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    from lapis_silo_spark.functions.clustering import _round_half_away

    total = n_planes * n_tables
    planes = _plane_matrix(total, dim)
    flips = min(n_flip, n_planes)

    @pandas_udf(T.ArrayType(T.StringType()))
    def _probes(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vecs.tolist(), dtype=np.float64)
        proj = mat @ planes.T  # rows × total
        plane_idx = np.arange(n_planes)
        out = []
        for row in proj:
            labels = []
            for t in range(n_tables):
                seg = row[t * n_planes:(t + 1) * n_planes]
                bits = seg >= 0
                base = "".join("1" if b else "0" for b in bits)
                labels.append(f"{t}:{base}")
                if flips:
                    margins = _round_half_away(np.abs(seg), 9)
                    order = np.lexsort((plane_idx, margins))
                    for f in range(flips):
                        fb = bits.copy()
                        fb[order[f]] = not fb[order[f]]
                        labels.append(
                            f"{t}:" + "".join("1" if b else "0" for b in fb)
                        )
            out.append(labels)
        return pd.Series(out)

    return _probes(F.col(vec_col).cast("array<double>"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query: broadcast the (small) query side, scan
    the corpus once, per-query top-k via window ranking.

    Output: (query_id, id, cos, rank), self-matches excluded; ties broken by
    corpus id for determinism.
    """
    c = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("qnrm", norm(F.col("qvec")))
    # norms once per vector; the scan-side work per (row, query) is one dot
    scored = (
        c.join(F.broadcast(q), on=F.col("id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("vec"), F.col("qvec"))
                / (F.col("nrm") * F.col("qnrm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "cos", "rank")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
    cid_col: str = "cid",
    cvec_col: str = "cvec",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine,
    rounded to 6 decimals; ties broken by smallest centroid id).

    Scale shape: the centroid table is broadcast (IVF codebooks are small —
    thousands of rows even at billion-vector scale), so the corpus×centroid
    scoring is map-side with no shuffle; the per-row argmax is a map-side
    partial ``max(struct(cos, -cid))`` aggregation, shuffling exactly one
    reduced row per corpus vector.

    ``carry_cols`` are per-row payload columns that ride along unchanged —
    assignment adds a column to the corpus row, it never drops or joins.

    Implementation: the codebook is collected to the driver (IVF codebooks
    are small — thousands of rows even at billion-vector scale; collecting
    IS the broadcast) and the per-row argmax is ONE numpy (rows × dim) ·
    (dim × K) matmul per Arrow batch. The earlier cross-join + higher-order
    -function cosine formulation evaluated |corpus|×K interpreted lambda
    chains — 65× slower at 10× scale. The scoring semantics are unchanged:
    cosine rounded to 6 decimals, ties to the smallest centroid id (cid-
    ascending argmax), so SQL oracles reproduce assignments exactly.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    cent_rows = sorted(
        (r[cid_col], r[cvec_col]) for r in centroids.collect()
    )
    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.array([v for _, v in cent_rows], dtype=np.float64)  # K × dim
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))

    @pandas_udf(T.LongType())
    def _assign(vecs):
        from lapis_silo_spark.functions.clustering import _round_half_away

        if len(vecs) == 0:
            return pd.Series([], dtype=np.int64)
        mat = np.array(vecs.tolist(), dtype=np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        # half-away rounding, matching DuckDB round() and the probe side's
        # convention — np.round (banker's) can flip an assignment at a
        # 1e-6 grid boundary, diverging corpus cells from the oracle's
        cos = _round_half_away(mat @ cmat.T / np.outer(nrm, cnorm), 6)
        # argmax over cid-ascending columns → first max = smallest cid
        return pd.Series(cids[np.argmax(cos, axis=1)])

    return corpus.select(
        id_col, *carry_cols,
        _assign(F.col(vec_col).cast("array<double>")).alias(cid_col),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    centroid_pred: Column,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    Voronoi cells around a small centroid set, then search only the
    ``n_probe`` cells nearest each query.

    ``centroid_pred`` selects the centroid rows out of the corpus — a
    deterministic seeding (k-means with zero refinement iterations) so
    results are reproducible and SQL-oracle-able; swap in trained centroids
    without changing the search path.

    Scale shape vs brute force: brute force computes |corpus|×|queries|
    cosines; IVF computes |corpus|×K assignment cosines ONCE (amortized
    across every future query batch) plus only the probed cells per query —
    candidate generation is a broadcast join on the cell id, so no
    corpus-sized shuffle per query batch.

    Output: (query_id, id, cos, rank) — same contract as brute_force_topk.
    """
    cent = corpus.filter(centroid_pred).select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    return ivf_topk_with_centroids(
        corpus, queries, id_col, vec_col, query_id_col, query_vec_col,
        cent, k=k, n_probe=n_probe,
    )


def ivf_topk_with_centroids(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    centroids: DataFrame,
    cid_col: str = "cid",
    cvec_col: str = "cvec",
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """IVF top-k against an EXTERNAL centroid table ``(cid, cvec)`` — the
    trained-codebook form (e.g. :func:`lapis_silo_spark.functions.
    clustering.kmeans_centroids`): the search path is identical to
    :func:`ivf_topk`, only the codebook source changes, which is exactly
    the production IVF lifecycle (train once, persist the codebook,
    assign at ingest, probe at query time)."""
    c = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    cent = centroids.select(
        F.col(cid_col).cast("long").alias("cid"),
        F.col(cvec_col).cast("array<double>").alias("cvec"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("qvec"),
    )

    assign = ivf_assign(c, cent, carry_cols=("vec",))

    # probe list: per query, the n_probe nearest centroids (query side is a
    # small batch — the window shuffle is |queries|×K rows)
    probes = (
        q.join(F.broadcast(cent), how="cross")
        .withColumn("_cos", F.round(cosine(F.col("qvec"), F.col("cvec")), 6))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("_cos").desc(), F.col("cid").asc()
                )
            ),
        )
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "qvec", "cid")
    )
    # candidates: corpus rows living in a probed cell. probes is
    # |queries|×n_probe rows -> broadcast; the assigned corpus never shuffles
    # again (it carries its vectors out of the argmax aggregation).
    candidates = assign.join(F.broadcast(probes), on="cid").filter(
        F.col("id") != F.col("query_id")
    )
    scored = candidates.withColumn(
        "cos", F.round(cosine(F.col("vec"), F.col("qvec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "cos", "rank")
    )


def _warn_if_low_lsh_structure(
    c: DataFrame, n_planes: int, n_tables: int, dim: int,
    sample_rows: int = 2000,
) -> None:
    """Emit a RuntimeWarning when a bounded sample's bucket occupancy shows
    no angular structure — the regime where LSH recall degenerates toward
    the scan fraction and trained IVF should be used instead.

    Statistic: per-table collision mass Σ_b (occ_b / n)² — the probability
    two random sampled points share a bucket. Uniform hashing gives
    ≈ 1/2^n_planes; clustered corpora concentrate mass in few buckets and
    push it far higher. Cost: one narrow job over ``sample_rows`` rows
    (a single partition read at any corpus size).
    """
    import warnings

    # Deterministic sample: order by id before limiting so the probe's
    # verdict cannot flap between runs on borderline corpora (a bare
    # limit() is partition-order dependent). One extra TakeOrdered over
    # the id column — still a bounded, narrow job.
    sample = c.orderBy("id").limit(sample_rows).select(
        F.explode(
            lsh_table_buckets("vec", n_planes, n_tables, dim)
        ).alias("bucket")
    )
    occ = sample.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    per_table: dict[str, tuple[float, float]] = {}
    for r in occ:
        t = r["bucket"].split(":", 1)[0]
        s2, s1 = per_table.get(t, (0.0, 0.0))
        per_table[t] = (s2 + r["n"] * r["n"], s1 + r["n"])
    if not per_table:
        return
    collision = sum(s2 / (s1 * s1) for s2, s1 in per_table.values()) / len(
        per_table
    )
    baseline = 1.0 / (1 << n_planes)
    if collision <= 2.0 * baseline:
        warnings.warn(
            f"lsh_bucket_topk: sampled bucket collision mass "
            f"{collision:.4f} is within 2x of the uniform baseline "
            f"{baseline:.4f} — the corpus shows little angular structure, "
            f"and LSH recall will approach the raw scan fraction "
            f"(measured 0.465@13% on such data). Prefer "
            f"ivf_topk_with_centroids with a kmeans_centroids-trained "
            f"codebook (measured 0.895@7.4%); see BENCH_NOTES 'ANN "
            f"operating points'.",
            RuntimeWarning,
            stacklevel=3,
        )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 8,
    n_flip: int = 3,
    warn_low_structure: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in >= 1 of
    ``n_tables`` hash tables (each table = its own plane set), exact cosine
    re-rank within candidates. The query side additionally probes, per
    table, the ``n_flip`` adjacent buckets across its lowest-margin
    hyperplanes (multi-probe — see :func:`lsh_query_probes`), which is the
    cheap recall lever: corpus-side shuffle volume stays n_tables × corpus
    regardless of ``n_flip``.

    Recall is tunable via (n_planes, n_tables, n_flip); the round-4 default
    (8 tables × 8 planes, 3 flips) measures recall@10 = 0.995 on a
    clustered corpus (~15% scan fraction) and 0.465 on the
    near-unstructured worst-case corpus (~13% scan) — against 0.745 / 0.125
    for the round-3 no-probe default (tools/ann_recall_demo.py; BENCH_NOTES
    ANN table). Shuffle volume is n_tables × corpus, never corpus ×
    queries.

    **min_recall hint — when NOT to use this operator**: random-hyperplane
    LSH only beats a random scan when the corpus has angular structure
    (clusters). On near-unstructured embeddings the measured operating
    point is recall 0.465 at ~13% scan (BENCH_NOTES "ANN operating
    points") — below the 0.8 bar; :func:`ivf_topk_with_centroids` with a
    trained codebook (``clustering.kmeans_centroids``) reaches 0.895
    recall at 7.4% scan on the SAME corpus and is the right tool there.
    With ``warn_low_structure=True`` (an OPT-IN diagnostic — it runs an
    eager, bounded Spark job before the lazy plan is returned, so it is
    off by default to preserve the operator's lazy-plan contract), a
    bucket-occupancy probe over a deterministic 2,000-row sample emits a
    ``RuntimeWarning`` when the corpus's bucket collision mass is within
    2× of the uniform baseline ``1/2^n_planes`` — the statistical
    signature of the LSH-hostile regime.
    """
    c = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    if warn_low_structure:
        _warn_if_low_lsh_structure(c, n_planes, n_tables, dim)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("qvec"),
    )

    # per-table bucket labels, vectorized (one matmul per Arrow batch; the
    # expression form breaks codegen past ~a dozen planes — see
    # lsh_table_buckets)
    c_buckets = c.select(
        "id", "vec",
        F.explode(lsh_table_buckets("vec", n_planes, n_tables, dim)
                  ).alias("bucket"),
    )
    q_buckets = q.select(
        "query_id", "qvec",
        F.explode(
            lsh_query_probes("qvec", n_planes, n_tables, dim, n_flip)
        ).alias("bucket"),
    )
    candidates = (
        c_buckets.join(q_buckets, on="bucket")
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", "qvec", "id", "vec")
        .dropDuplicates(["query_id", "id"])
    )
    scored = candidates.withColumn(
        "cos", F.round(cosine(F.col("vec"), F.col("qvec")), 6)
    )  # candidate set is already small; per-pair cosine is fine here
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "cos", "rank")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 6,
    n_tables: int = 4,
    dim: int = 64,
    block_rows: int = 8192,
) -> DataFrame:
    """Embedding near-duplicate pairs via banded hyperplane LSH — the scale
    path for exact cosine pairs (``dedup.embedding_near_dup_pairs_blocked``
    is exact but O(n²)).

    Candidates must share a full sign-signature in at least one of
    ``n_tables`` plane sets; survivors are verified with the exact cosine.
    Plane coefficients are md5-derived (``_plane_matrix``) so an
    external SQL engine can reproduce the candidate set exactly.

    Candidates are verified INSIDE per-bucket blocked matmuls — the
    quadratic candidate row set never materializes: every bucket is one
    group of :func:`lapis_silo_spark.functions.dedup._block_pair_cosines`
    with ``nb = ceil(|bucket| / block_rows)`` (its docstring holds the cost
    model and the degenerate-input policy). Buckets holding a single row
    are dropped before any replication (they cannot produce a pair; on a
    spread-out corpus most buckets are singletons). A pair surviving in
    several tables is collapsed by the final ``dropDuplicates`` over the
    (small) verified set. Value-parity with the earlier bucket-self-join
    form is pinned by the oracle gate and
    ``test_lsh_candidate_pairs_value_identical_to_join_form``.
    """

    def tag(clean: DataFrame) -> DataFrame:
        # clean feeds two plan branches (bucket occupancy + the replicated
        # pair stage, each re-running the hyperplane matmul) — persist once;
        # storage memory is LRU-evictable so repeated calls stay bounded.
        clean = clean.persist()
        # Bucket occupancy: ONLY the bucket label crosses this exchange
        # (guide §2.3 — project before the shuffle).
        sizes = (
            clean.select(
                F.explode(
                    lsh_table_buckets("vec", n_planes, n_tables, dim)
                ).alias("grp")
            )
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= 2)
            .select(
                "grp",
                F.ceil(F.col("_n") / F.lit(block_rows)).cast("int").alias("nb"),
            )
        )
        # inner join == semi-join + nb attach (sizes is a distinct-key
        # aggregate); broadcast-vs-shuffle left to the planner — at the
        # declared 6-plane/4-table settings sizes has ≤ 256 rows
        return clean.select(
            "id", "vec",
            F.explode(
                lsh_table_buckets("vec", n_planes, n_tables, dim)
            ).alias("grp"),
        ).join(sizes, "grp")

    rows = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    return _block_pair_cosines(rows, threshold, tag).dropDuplicates(
        ["id_a", "id_b"]
    )


# -- product quantization ----------------------------------------------------

def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    n_codes: int = 16,
    train_rows: int = 256,
    iterations: int = 10,
):
    """Train product-quantization codebooks: split the vector into ``m``
    contiguous subspaces and run a small deterministic Lloyd k-means
    (``n_codes`` centroids) per subspace on the ``train_rows`` lowest-id
    vectors.

    Deterministic by construction — the sample is content-addressed (lowest
    ids, not a random split) and the seeds are the sample's first distinct
    ``n_codes`` subvectors — so encodings are reproducible run-to-run.
    Driver-side numpy is the right venue: codebook training touches a
    CONSTANT-size sample (this is how PQ is trained at billion-vector scale
    too; the codebook is m·n_codes·sub_dim floats — KBs).

    Returns a numpy array of shape (m, n_codes, dim // m).
    """
    import numpy as np

    from lapis_silo_spark.functions.clustering import _round_half_away

    sample = (
        corpus.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("vec"))
        .orderBy("id")
        .limit(train_rows)
        .collect()
    )
    mat = np.array([r["vec"] for r in sample], dtype=np.float64)
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"pq: dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.empty((m, n_codes, sub))
    for j in range(m):
        X = mat[:, j * sub:(j + 1) * sub]
        # seed with the first n_codes DISTINCT subvectors (duplicate seeds
        # would pin duplicate centroids forever)
        seen: list = []
        for row in X:
            if not any(np.array_equal(row, s) for s in seen):
                seen.append(row)
            if len(seen) == n_codes:
                break
        if len(seen) < n_codes:
            raise ValueError(
                f"pq: subspace {j} has only {len(seen)} distinct "
                f"subvectors in the training sample; need {n_codes}"
            )
        # The same rounding discipline as functions.clustering (see its
        # module docstring): centroids snap to 6 decimals, squared
        # distances to 9 before argmin, both half-away-from-zero — so a
        # DuckDB oracle (pq_oracle_ctes) replays training bit-for-bit.
        C = _round_half_away(np.array(seen), 6)
        for _ in range(iterations):
            d = _round_half_away(
                ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 9
            )
            a = d.argmin(axis=1)
            for c in range(n_codes):
                if (a == c).any():
                    C[c] = _round_half_away(X[a == c].mean(axis=0), 6)
        books[j] = C
    return books


def pq_codebooks_to_df(spark, codebooks) -> DataFrame:
    """PQ codebooks (numpy ``(m, n_codes, sub)``) as a persistable model
    table ``(subspace int, code int, cvec array<double>)`` — the shape
    :meth:`lapis_silo_spark.catalog.Database.register_model` +
    ``storage.save_version`` store in the version directory (train once,
    version with the data, load at ingest/query time)."""
    rows = [
        (j, c, [float(v) for v in codebooks[j, c]])
        for j in range(codebooks.shape[0])
        for c in range(codebooks.shape[1])
    ]
    return local_relation(
        spark, rows, "subspace int, code int, cvec array<double>"
    )


def pq_codebooks_from_df(df: DataFrame):
    """Inverse of :func:`pq_codebooks_to_df`: rebuild the numpy
    ``(m, n_codes, sub)`` codebook array from a loaded model table. The
    table is KB-scale by construction (m·n_codes rows), so the collect is
    the same broadcast-sized driver hop the training path already makes."""
    import numpy as np

    rows = df.select("subspace", "code", "cvec").collect()
    if not rows:
        raise ValueError("pq_codebooks_from_df: empty codebook table")
    m = max(r["subspace"] for r in rows) + 1
    n_codes = max(r["code"] for r in rows) + 1
    sub = len(rows[0]["cvec"])
    books = np.empty((m, n_codes, sub), dtype=np.float64)
    # track keys explicitly: a duplicated (subspace, code) row (e.g. a
    # double-loaded/unioned model table) would otherwise satisfy the total
    # row count while leaving another slot as uninitialized memory —
    # silently wrong ADC distances (round-9 ADVICE)
    filled: set[tuple[int, int]] = set()
    for r in rows:
        key = (r["subspace"], r["code"])
        if key in filled:
            raise ValueError(
                f"pq_codebooks_from_df: duplicate codebook entry {key}"
            )
        filled.add(key)
        books[r["subspace"], r["code"]] = r["cvec"]
    if len(filled) != m * n_codes:
        missing = m * n_codes - len(filled)
        raise ValueError(
            f"pq_codebooks_from_df: {missing} codebook slot(s) unset "
            f"(expected {m * n_codes} rows, got {len(filled)})"
        )
    return books


def pq_encode(
    corpus: DataFrame, id_col: str, vec_col: str, codebooks,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector as ``m`` uint8 codes (nearest centroid per
    subspace): ``(id, *carry_cols, codes array<int>)``. One matmul-free
    numpy distance per subspace per Arrow batch; no shuffle — at 100 TB
    this runs once at ingest and the codes column (m bytes/row vs 4·dim)
    is what queries scan. ``carry_cols`` ride along unchanged (e.g. the
    IVF cell id, so :func:`build_ivfpq_index` assigns AND encodes in one
    zero-shuffle scan)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    m, n_codes, sub = codebooks.shape

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _encode(vecs):
        from lapis_silo_spark.functions.clustering import _round_half_away

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vecs.tolist(), dtype=np.float64)
        codes = np.empty((mat.shape[0], m), dtype=np.int32)
        for j in range(m):
            X = mat[:, j * sub:(j + 1) * sub]
            # distances snap to the 9-decimal grid before argmin (first-hit
            # tie-break == SQL ORDER BY dist, code) — oracle parity
            d = _round_half_away(
                ((X[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2),
                9,
            )
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return corpus.select(
        F.col(id_col).alias("id"),
        *carry_cols,
        _encode(F.col(vec_col).cast("array<double>")).alias("codes"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    train_rows: int = 256,
    refine: int | None = 50,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Approximate top-k nearest neighbors by PQ asymmetric distance
    computation (ADC) with exact re-ranking: per query, a lookup table of
    squared distances from the query's subvectors to every codebook
    centroid; a coded row's approximate distance is the sum of ``m`` table
    lookups. The top ``refine`` ADC candidates per query are then re-ranked
    by EXACT squared L2 (the standard ADC+refine pipeline — quantization
    decides who is considered, exact distance decides the order), cut to
    ``k``. ``refine=None`` skips re-ranking and returns raw ADC order.

    Output: ``(query_id, id, dist, rank)`` — ``dist`` is exact squared L2
    when refining, else the ADC approximation; self-matches excluded, ties
    broken by corpus id.

    Scale shape: codebooks + per-query LUTs broadcast (m·n_codes doubles per
    query); the corpus-side scan is one LUT gather per batch — no vector
    arithmetic per row at query time, which is the entire point of PQ. Each
    batch emits only its LOCAL top-``refine`` per query, so the ranking
    window sees batches·queries·refine rows, never corpus·queries, and the
    exact re-rank touches queries·refine vectors total. Codes are computed
    inline here; a production pipeline persists :func:`pq_encode` output at
    ingest and queries scan the m-byte codes column instead of raw vectors.
    The query table is collected to build the LUTs, bounded by
    ``max_query_rows`` (refusal, not truncation — see the in-function
    comment); larger query sets should be chunked or use the
    distributed-query operators.
    """
    import numpy as np
    import pandas as pd

    books = pq_train_codebooks(
        corpus, id_col, vec_col, m=m, n_codes=n_codes, train_rows=train_rows
    )
    coded = pq_encode(corpus, id_col, vec_col, books)

    # The per-query LUTs are built driver-side and broadcast (each is
    # m × n_codes doubles — KBs for typical query batches), so the query
    # table is a driver-memory funnel; refuse beyond the budget instead of
    # silently OOMing a million-query batch (round-5 VERDICT #4, the
    # embedding_near_dup_pairs_blocked max_rows pattern).
    q_rows = (
        queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).cast("array<double>").alias("qv"))
        .orderBy("query_id")
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"pq_topk builds one driver-side LUT per query row and the "
            f"query table exceeds max_query_rows={max_query_rows}; chunk "
            f"the query batch (the LUT cost is linear, so N calls of "
            f"max_query_rows queries are equivalent), or use "
            f"ivf_topk_with_centroids / brute_force_topk, whose query side "
            f"stays distributed"
        )
    sub = books.shape[2]
    q_ids = [r["query_id"] for r in q_rows]
    luts = []  # per query: (m, n_codes) squared-distance table
    from lapis_silo_spark.functions.clustering import _round_half_away

    for r in q_rows:
        qv = np.array(r["qv"], dtype=np.float64)
        lut = np.empty((m, n_codes))
        for j in range(m):
            qsub = qv[j * sub:(j + 1) * sub]
            # LUT entries snap to the 9-decimal grid so the DuckDB oracle
            # sums the IDENTICAL doubles (summation order then only differs
            # at ~1e-16, absorbed by the 6-decimal ADC rounding)
            lut[j] = _round_half_away(
                ((books[j] - qsub[None, :]) ** 2).sum(axis=1), 9
            )
        luts.append(lut)
    luts = np.array(luts)  # (q, m, n_codes)
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, luts))

    out_schema = T.StructType([
        T.StructField("query_id", coded.schema["id"].dataType),
        T.StructField("id", coded.schema["id"].dataType),
        T.StructField("approx_dist", T.DoubleType()),
    ])

    width = k if refine is None else max(k, refine)
    _rha = _round_half_away  # closure-captured for the executor side

    def score_batches(batches):
        ids_q, tables = bc.value
        nq = len(ids_q)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy()
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            rows_out = {"query_id": [], "id": [], "approx_dist": []}
            for qi in range(nq):
                lut = tables[qi]
                dist = lut[np.arange(m)[None, :], codes].sum(axis=1)
                mask = ids != ids_q[qi]  # exclude self-match
                # round BEFORE the batch-local prune so its (dist, id) key is
                # identical to the global window's rounded ordering — pruning
                # on unrounded values could drop a near-tie candidate the
                # rounded global ordering would have kept, making the output
                # depend on Arrow batch boundaries
                cand_ids = ids[mask]
                # half-away rounding, not np.round (banker's): DuckDB and
                # Spark F.round both round .5 away from zero
                cand_d = _rha(dist[mask], 6)
                # batch-local prune: keep top-`width` by (dist, id)
                order = np.lexsort((cand_ids, cand_d))[:width]
                rows_out["query_id"].extend([ids_q[qi]] * len(order))
                rows_out["id"].extend(cand_ids[order])
                rows_out["approx_dist"].extend(cand_d[order])
            yield pd.DataFrame(rows_out)

    scored = coded.mapInPandas(score_batches, schema=out_schema)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("id").asc()
    )
    cand = scored.withColumn("rank", F.row_number().over(w_adc)).filter(
        F.col("rank") <= width
    )
    if refine is None:
        return cand.filter(F.col("rank") <= k).select(
            "query_id", "id",
            F.col("approx_dist").alias("dist"),
            F.col("rank").cast("int").alias("rank"),
        )

    # exact re-rank: candidate vectors join back (queries·refine rows), the
    # query vectors ride in as a broadcast dimension
    vecs = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    qdf = F.broadcast(
        local_relation(
            corpus.sparkSession,
            [(r["query_id"], list(r["qv"])) for r in q_rows],
            schema=T.StructType([
                T.StructField("query_id", coded.schema["id"].dataType),
                T.StructField("_qv", T.ArrayType(T.DoubleType())),
            ]),
        )
    )
    sq_l2 = F.aggregate(
        F.zip_with(F.col("_v"), F.col("_qv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("id").asc()
    )
    return (
        cand.select("query_id", "id")
        .join(vecs, on="id")
        .join(qdf, on="query_id")
        .withColumn("dist", F.round(sq_l2, 6))
        .withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "dist",
                F.col("rank").cast("int").alias("rank"))
    )


def _pq_training_parts(
    table: str,
    id_col: str,
    vec_col: str,
    m: int,
    n_codes: int,
    train_rows: int,
    iterations: int,
    cd: int,
    dd: int,
    p: str = "",
) -> tuple[list[str], dict[str, str]]:
    """The PQ-training CTE chain (raw vectors → per-subspace Lloyd codebooks
    → corpus codes), every CTE name prefixed with ``p`` so the chain composes
    into larger WITH clauses (:func:`ivfpq_oracle_sql` also embeds the coarse
    k-means chain, whose ``v``/``ve``/``c{i}`` names would otherwise clash).
    Returns ``(parts, names)`` with ``names`` mapping the logical CTEs the
    callers reference (``v``, ``ve``, ``sve``, ``codes``, ``book``)."""
    sq = "(x.val - c.val) * (x.val - c.val)"
    v, ve, sve = f"{p}v", f"{p}ve", f"{p}sve"
    samp, tsv, subv = f"{p}samp", f"{p}tsv", f"{p}subv"
    firstocc, seeds, ed, codes = (
        f"{p}firstocc", f"{p}seeds", f"{p}ed", f"{p}codes",
    )
    c = lambda i: f"{p}c{i}"  # noqa: E731 — tiny local name builders
    td = lambda i: f"{p}td{i}"  # noqa: E731
    ta = lambda i: f"{p}ta{i}"  # noqa: E731
    tr = lambda i: f"{p}tr{i}"  # noqa: E731
    parts = [
        f"{v} AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS vec "
        f"FROM {table})",
        f"{ve} AS MATERIALIZED (SELECT id, unnest(vec) AS val, "
        f"unnest(range(len(vec))) AS dim FROM {v})",
        f"{sve} AS MATERIALIZED (SELECT id, dim // (len_sub) AS j, "
        f"dim % (len_sub) AS jd, "
        f"val FROM {ve}, (SELECT len(vec) // {m} AS len_sub FROM {v} LIMIT 1))",
        f"{samp} AS (SELECT id, row_number() OVER (ORDER BY id) AS pos "
        f"FROM {v} QUALIFY pos <= {train_rows})",
        f"{tsv} AS MATERIALIZED (SELECT s.pos, e.j, e.jd, e.val "
        f"FROM {samp} s JOIN {sve} e USING (id))",
        f"{subv} AS (SELECT pos, j, list(val ORDER BY jd) AS sv "
        f"FROM {tsv} GROUP BY pos, j)",
        f"{firstocc} AS (SELECT j, sv, min(pos) AS fpos "
        f"FROM {subv} GROUP BY j, sv)",
        f"{seeds} AS (SELECT j, sv, row_number() OVER "
        f"(PARTITION BY j ORDER BY fpos) - 1 AS code "
        f"FROM {firstocc} QUALIFY code < {n_codes})",
        f"{c(0)} AS MATERIALIZED (SELECT j, code, unnest(range(len(sv))) AS jd, "
        f"round(unnest(sv), {cd}) AS val FROM {seeds})",
    ]
    for i in range(iterations):
        parts.append(
            f"{td(i)} AS (SELECT x.pos, x.j, c.code, "
            f"round(sum({sq}), {dd}) AS dist "
            f"FROM {tsv} x JOIN {c(i)} c ON c.j = x.j AND c.jd = x.jd "
            f"GROUP BY x.pos, x.j, c.code)"
        )
        parts.append(
            f"{ta(i)} AS (SELECT pos, j, code FROM ("
            f"SELECT pos, j, code, row_number() OVER "
            f"(PARTITION BY pos, j ORDER BY dist, code) AS rn FROM {td(i)}) "
            f"WHERE rn = 1)"
        )
        parts.append(
            f"{tr(i + 1)} AS (SELECT a.j, a.code, t.jd, "
            f"round(avg(t.val), {cd}) AS val "
            f"FROM {ta(i)} a JOIN {tsv} t ON t.pos = a.pos AND t.j = a.j "
            f"GROUP BY a.j, a.code, t.jd)"
        )
        parts.append(
            f"{c(i + 1)} AS MATERIALIZED (SELECT c.j, c.code, c.jd, "
            f"coalesce(r.val, c.val) AS val FROM {c(i)} c "
            f"LEFT JOIN {tr(i + 1)} r "
            f"ON r.j = c.j AND r.code = c.code AND r.jd = c.jd)"
        )
    book = c(iterations)
    parts += [
        f"{ed} AS (SELECT x.id, x.j, c.code, round(sum({sq}), {dd}) AS dist "
        f"FROM {sve} x JOIN {book} c ON c.j = x.j AND c.jd = x.jd "
        f"GROUP BY x.id, x.j, c.code)",
        f"{codes} AS (SELECT id, j, code FROM ("
        f"SELECT id, j, code, row_number() OVER "
        f"(PARTITION BY id, j ORDER BY dist, code) AS rn FROM {ed}) "
        f"WHERE rn = 1)",
    ]
    return parts, {"v": v, "ve": ve, "sve": sve, "codes": codes, "book": book}


def pq_oracle_ctes(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 5",
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    train_rows: int = 256,
    iterations: int = 10,
    refine: int = 50,
    centroid_decimals: int = 6,
    distance_decimals: int = 9,
) -> str:
    """DuckDB twin of the full :func:`pq_topk` lifecycle as one SQL string:
    per-subspace Lloyd codebook training (unrolled, same rounding grids as
    :func:`pq_train_codebooks`), corpus encoding, per-query ADC lookup
    tables, the rounded top-``refine`` ADC prune, and the exact-L2 re-rank.

    Seed selection mirrors the numpy path exactly: the first ``n_codes``
    DISTINCT subvectors in sample (lowest-id) order, code index = order of
    first occurrence. Empty clusters keep their previous centroid
    (``coalesce``), argmin ties break to the lowest code
    (``ORDER BY dist, code``).
    """
    cd, dd = centroid_decimals, distance_decimals
    width = max(k, refine)
    sq = "(x.val - c.val) * (x.val - c.val)"
    parts, nm = _pq_training_parts(
        table, id_col, vec_col, m, n_codes, train_rows, iterations, cd, dd
    )
    book = nm["book"]
    parts += [
        f"q AS (SELECT id AS query_id FROM {nm['v']} WHERE "
        f"{query_pred.replace(id_col, 'id')})",
        f"qsv AS (SELECT q.query_id, e.j, e.jd, e.val AS val "
        f"FROM q JOIN {nm['sve']} e ON e.id = q.query_id)",
        f"lut AS (SELECT x.query_id, x.j, c.code, "
        f"round(sum({sq}), {dd}) AS lv "
        f"FROM qsv x JOIN {book} c ON c.j = x.j AND c.jd = x.jd "
        f"GROUP BY x.query_id, x.j, c.code)",
        f"adc AS (SELECT l.query_id, kk.id, round(sum(l.lv), 6) AS ad "
        f"FROM {nm['codes']} kk JOIN lut l ON l.j = kk.j AND l.code = kk.code "
        f"WHERE kk.id <> l.query_id GROUP BY l.query_id, kk.id)",
        f"cand AS (SELECT query_id, id FROM ("
        f"SELECT query_id, id, row_number() OVER "
        f"(PARTITION BY query_id ORDER BY ad, id) AS rn FROM adc) "
        f"WHERE rn <= {width})",
        f"exact AS (SELECT c.query_id, c.id, "
        f"round(sum((qe.val - ce.val) * (qe.val - ce.val)), 6) AS dist "
        f"FROM cand c "
        f"JOIN {nm['ve']} qe ON qe.id = c.query_id "
        f"JOIN {nm['ve']} ce ON ce.id = c.id AND ce.dim = qe.dim "
        f"GROUP BY c.query_id, c.id)",
    ]
    ctes = ",\n        ".join(parts)
    return (
        f"WITH {ctes}\n"
        f"       SELECT query_id, id, dist, "
        f"CAST(row_number() OVER (PARTITION BY query_id "
        f"ORDER BY dist, id) AS INT) AS rank "
        f"FROM exact QUALIFY rank <= {k}"
    )


# ---------------------------------------------------------------------------
# IVF-PQ: fused coarse-cell pruning + compact-code ADC scoring
# ---------------------------------------------------------------------------

def build_ivfpq_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k_coarse: int = 10,
    coarse_iterations: int = 4,
    m: int = 8,
    n_codes: int = 16,
    train_rows: int = 256,
    pq_iterations: int = 10,
):
    """Build a FAISS-style ``IVF,PQ`` index (``by_residual=false`` variant:
    raw vectors PQ-encoded, coarse cells prune the scan): returns
    ``(centroids_df, codebooks, coded_df)`` —

    - ``centroids_df``: the trained coarse codebook ``(cid, cvec)``
      (:func:`lapis_silo_spark.functions.clustering.kmeans_centroids`,
      deterministic Lloyd, K rows — a model artifact for
      ``Database.register_model``),
    - ``codebooks``: the numpy ``(m, n_codes, sub)`` PQ codebooks
      (:func:`pq_train_codebooks`; persist via :func:`pq_codebooks_to_df`),
    - ``coded_df``: ``(id, cid, codes)`` — the corpus-sized index table.
      Persist it PARTITIONED BY ``cid`` (``save_version(...,
      table_partitions={...: ["cid"]})``): a query's probed cells become a
      literal ``cid IN (...)`` filter, so the scan reads ONLY the probed
      cells' files — the 100 TB contract (n_probe/K of the corpus touched,
      m bytes per vector instead of 4·dim).

    Assignment and encoding run in ONE zero-shuffle scan (``ivf_assign``
    carries the vector into ``pq_encode``); both training passes touch
    constant-size state (K·dim and m·n_codes·sub doubles).
    """
    from lapis_silo_spark.functions.clustering import kmeans_centroids

    cent = kmeans_centroids(
        corpus, id_col, vec_col, k=k_coarse, iterations=coarse_iterations
    ).select(F.col("cluster").cast("long").alias("cid"), "cvec")
    books = pq_train_codebooks(
        corpus, id_col, vec_col, m=m, n_codes=n_codes,
        train_rows=train_rows, iterations=pq_iterations,
    )
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    assigned = ivf_assign(c, cent, carry_cols=("vec",))
    coded = pq_encode(assigned, "id", "vec", books, carry_cols=("cid",))
    return cent, books, coded


def ivfpq_topk(
    coded: DataFrame,
    centroids: DataFrame,
    codebooks,
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    *,
    k: int = 10,
    n_probe: int = 3,
    refine: int | None = None,
    corpus: DataFrame | None = None,
    id_col: str = "id",
    vec_col: str = "vec",
    cid_col: str = "cid",
    cvec_col: str = "cvec",
    max_query_rows: int = 1024,
) -> DataFrame:
    """Query an IVF-PQ index (:func:`build_ivfpq_index`, possibly LOADED
    from a version directory): per query, probe the ``n_probe``
    cosine-nearest coarse cells and ADC-score ONLY those cells' PQ codes.
    Returns ``(query_id, id, dist, rank)`` — ``dist`` is the rounded ADC
    approximation, or exact L2 when ``refine`` is set (then ``corpus`` with
    the raw vectors is required).

    Scale shape: the union of all probed cell ids becomes ONE literal
    ``cid IN (...)`` filter — static partition pruning when ``coded`` is
    stored partitioned by ``cid``, so the scan touches ~n_probe/K of the
    corpus and reads m-byte codes, not 4·dim-byte vectors. Scoring is a
    numpy LUT gather per Arrow batch with a batch-local top-``width``
    prune, so the per-query window sorts at most width·n_batches rows.
    The per-query LUTs are driver-built and broadcast (m × n_codes doubles
    each) — the same ``max_query_rows`` funnel guard as :func:`pq_topk`.
    """
    import numpy as np
    import pandas as pd

    from lapis_silo_spark.functions.clustering import _round_half_away

    m, n_codes, sub = codebooks.shape
    q_rows = (
        queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).cast("array<double>").alias("qv"))
        .orderBy("query_id")
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"ivfpq_topk builds one driver-side LUT per query row and the "
            f"query table exceeds max_query_rows={max_query_rows}; chunk "
            f"the query batch (N calls of max_query_rows queries are "
            f"equivalent)"
        )

    cent_rows = sorted((r[cid_col], r[cvec_col]) for r in centroids.collect())
    cids_arr = np.array([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.array([v for _, v in cent_rows], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))

    q_ids, luts, probe_sets = [], [], []
    for r in q_rows:
        qv = np.array(r["qv"], dtype=np.float64)
        # probe selection mirrors ivf_topk_with_centroids / the SQL oracle:
        # cosine rounded to 6 decimals (half-away = DuckDB's binary-value
        # rounding), ties to the smallest cid
        cos = _round_half_away(
            cmat @ qv / (cnorm * np.sqrt(qv @ qv)), 6
        )
        order = np.lexsort((cids_arr, -cos))[:n_probe]
        probe_sets.append(np.sort(cids_arr[order]))
        lut = np.empty((m, n_codes))
        for j in range(m):
            qsub = qv[j * sub:(j + 1) * sub]
            lut[j] = _round_half_away(
                ((codebooks[j] - qsub[None, :]) ** 2).sum(axis=1), 9
            )
        q_ids.append(r["query_id"])
        luts.append(lut)
    luts = np.array(luts) if luts else np.empty((0, m, n_codes))

    all_probed = sorted({int(c) for s in probe_sets for c in s})
    # literal IN on the cell id: partition pruning at PLANNING time when the
    # index table is stored partitioned by cid (tests pin inputFiles())
    cand_src = coded.filter(F.col(cid_col).isin(all_probed)).select(
        "id", F.col(cid_col).cast("long").alias("_cid"), "codes"
    )

    bc = coded.sparkSession.sparkContext.broadcast(
        (q_ids, luts, probe_sets)
    )
    out_schema = T.StructType([
        T.StructField("query_id", coded.schema["id"].dataType),
        T.StructField("id", coded.schema["id"].dataType),
        T.StructField("approx_dist", T.DoubleType()),
    ])
    width = k if refine is None else max(k, refine)
    _rha = _round_half_away

    def score_batches(batches):
        ids_q, tables, probes = bc.value
        nq = len(ids_q)
        jdx = np.arange(m)[None, :]
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy()
            cids = pdf["_cid"].to_numpy()
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            rows_out = {"query_id": [], "id": [], "approx_dist": []}
            for qi in range(nq):
                # only this query's probed cells, never the whole batch
                mask = np.isin(cids, probes[qi]) & (ids != ids_q[qi])
                if not mask.any():
                    continue
                cand_ids = ids[mask]
                # round BEFORE the batch-local prune (same reasoning as
                # pq_topk: the prune key must equal the global window key)
                cand_d = _rha(tables[qi][jdx, codes[mask]].sum(axis=1), 6)
                order = np.lexsort((cand_ids, cand_d))[:width]
                rows_out["query_id"].extend([ids_q[qi]] * len(order))
                rows_out["id"].extend(cand_ids[order])
                rows_out["approx_dist"].extend(cand_d[order])
            yield pd.DataFrame(rows_out)

    scored = cand_src.mapInPandas(score_batches, schema=out_schema)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("id").asc()
    )
    cand = scored.withColumn("rank", F.row_number().over(w_adc)).filter(
        F.col("rank") <= width
    )
    if refine is None:
        return cand.filter(F.col("rank") <= k).select(
            "query_id", "id",
            F.col("approx_dist").alias("dist"),
            F.col("rank").cast("int").alias("rank"),
        )

    if corpus is None:
        raise ValueError("ivfpq_topk: refine requires the raw-vector corpus")
    vecs = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    qdf = F.broadcast(
        local_relation(
            coded.sparkSession,
            [(r["query_id"], list(r["qv"])) for r in q_rows],
            schema=T.StructType([
                T.StructField("query_id", coded.schema["id"].dataType),
                T.StructField("_qv", T.ArrayType(T.DoubleType())),
            ]),
        )
    )
    sq_l2 = F.aggregate(
        F.zip_with(F.col("_v"), F.col("_qv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("id").asc()
    )
    return (
        cand.select("query_id", "id")
        .join(vecs, on="id")
        .join(qdf, on="query_id")
        .withColumn("dist", F.round(sq_l2, 6))
        .withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "dist",
                F.col("rank").cast("int").alias("rank"))
    )


def ivfpq_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 5",
    *,
    k: int = 10,
    n_probe: int = 3,
    k_coarse: int = 10,
    coarse_iterations: int = 4,
    m: int = 8,
    n_codes: int = 16,
    train_rows: int = 256,
    pq_iterations: int = 10,
    refine: int | None = None,
    centroid_decimals: int = 6,
    distance_decimals: int = 9,
) -> str:
    """DuckDB twin of the FULL IVF-PQ lifecycle as one SQL string: the
    coarse Lloyd chain (:func:`...clustering.kmeans_oracle_ctes`), cosine
    cell assignment and per-query probes (same rounding/tie-break as the
    IVF family), the ``pq``-prefixed PQ training/encoding chain
    (:func:`_pq_training_parts`), and the cell-FILTERED ADC scoring — the
    candidate set is exactly ``assignment.cid ∈ probes(query)``."""
    from lapis_silo_spark.functions.clustering import kmeans_oracle_ctes

    cd, dd = centroid_decimals, distance_decimals
    width = k if refine is None else max(k, refine)
    sq = "(x.val - c.val) * (x.val - c.val)"
    km_ctes, _km_final = kmeans_oracle_ctes(
        table, id_col, vec_col, k=k_coarse, iterations=coarse_iterations,
        centroid_decimals=cd, distance_decimals=dd,
    )
    pq_parts, nm = _pq_training_parts(
        table, id_col, vec_col, m, n_codes, train_rows, pq_iterations,
        cd, dd, p="pq",
    )
    book, codes, sve, ve = nm["book"], nm["codes"], nm["sve"], nm["ve"]
    parts = [
        km_ctes,
        f"cent AS (SELECT cluster AS cid, list(val ORDER BY dim) AS cvec "
        f"FROM c{coarse_iterations} GROUP BY cluster)",
        f"corp AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS vec "
        f"FROM {table})",
        "assign AS (SELECT id, cid FROM ("
        "SELECT corp.id, cent.cid, row_number() OVER (PARTITION BY corp.id "
        "ORDER BY round(list_cosine_similarity(corp.vec, cent.cvec), 6) "
        "DESC, cent.cid ASC) AS rn FROM corp CROSS JOIN cent) WHERE rn = 1)",
        *pq_parts,
        f"q AS (SELECT id AS query_id FROM {nm['v']} WHERE "
        f"{query_pred.replace(id_col, 'id')})",
        "qq AS (SELECT q.query_id, corp.vec AS qvec "
        "FROM q JOIN corp ON corp.id = q.query_id)",
        f"probes AS (SELECT query_id, cid FROM ("
        f"SELECT qq.query_id, cent.cid, row_number() OVER "
        f"(PARTITION BY qq.query_id "
        f"ORDER BY round(list_cosine_similarity(qq.qvec, cent.cvec), 6) "
        f"DESC, cent.cid ASC) AS rn FROM qq CROSS JOIN cent) "
        f"WHERE rn <= {n_probe})",
        f"qsv AS (SELECT q.query_id, e.j, e.jd, e.val AS val "
        f"FROM q JOIN {sve} e ON e.id = q.query_id)",
        f"lut AS (SELECT x.query_id, x.j, c.code, "
        f"round(sum({sq}), {dd}) AS lv "
        f"FROM qsv x JOIN {book} c ON c.j = x.j AND c.jd = x.jd "
        f"GROUP BY x.query_id, x.j, c.code)",
        f"adc AS (SELECT l.query_id, kk.id, round(sum(l.lv), 6) AS ad "
        f"FROM {codes} kk "
        f"JOIN assign a ON a.id = kk.id "
        f"JOIN probes p ON p.cid = a.cid "
        f"JOIN lut l ON l.query_id = p.query_id "
        f"AND l.j = kk.j AND l.code = kk.code "
        f"WHERE kk.id <> l.query_id GROUP BY l.query_id, kk.id)",
        f"cand AS (SELECT query_id, id, ad FROM ("
        f"SELECT query_id, id, ad, row_number() OVER "
        f"(PARTITION BY query_id ORDER BY ad, id) AS rn FROM adc) "
        f"WHERE rn <= {width})",
    ]
    if refine is None:
        ctes = ",\n        ".join(parts)
        return (
            f"WITH {ctes}\n"
            f"       SELECT query_id, id, ad AS dist, "
            f"CAST(row_number() OVER (PARTITION BY query_id "
            f"ORDER BY ad, id) AS INT) AS rank "
            f"FROM cand QUALIFY rank <= {k}"
        )
    parts.append(
        f"exact AS (SELECT c.query_id, c.id, "
        f"round(sum((qe.val - ce.val) * (qe.val - ce.val)), 6) AS dist "
        f"FROM cand c "
        f"JOIN {ve} qe ON qe.id = c.query_id "
        f"JOIN {ve} ce ON ce.id = c.id AND ce.dim = qe.dim "
        f"GROUP BY c.query_id, c.id)"
    )
    ctes = ",\n        ".join(parts)
    return (
        f"WITH {ctes}\n"
        f"       SELECT query_id, id, dist, "
        f"CAST(row_number() OVER (PARTITION BY query_id "
        f"ORDER BY dist, id) AS INT) AS rank "
        f"FROM exact QUALIFY rank <= {k}"
    )
