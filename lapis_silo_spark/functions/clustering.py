"""Deterministic embedding clustering (Lloyd k-means) and SemDeDup-style
semantic dedup over an ``array<float>`` column.

A 100 TB curation pipeline clusters embeddings for two jobs: *semantic
dedup* (SemDeDup: drop near-duplicate meanings, not just near-duplicate
bytes) and *topical mixture control*. The reference engine has no embedding
surface at all (SURVEY §2.5) — this is Spark-superset surface, built so the
full loop is DuckDB-oracle-checkable.

Determinism / oracle-parity design (the whole point of this file):
- NO RNG anywhere. Initial centroids are the vectors of the ``k`` smallest
  ids; Lloyd iterations are a fixed count, not convergence-tested.
- Every cross-engine float hazard is shielded by snapping to a fixed grid:
  centroids round to ``centroid_decimals`` before use, squared distances
  round to ``distance_decimals`` before argmin, cosines round to 6 before
  the threshold test. Aggregate summation ORDER differs between Spark
  (partition-merge), numpy (pairwise/SIMD), and DuckDB (sequential) at the
  ~1e-15 level; rounding re-synchronizes all three at every stage so drift
  cannot accumulate into a different argmin/threshold decision.
- ONE rounding convention on all sides: half AWAY from zero on the BINARY
  double value
  (``sign(x) * floor(|x| * 10^d + 0.5) / 10^d`` — :func:`_round_half_away`),
  matching DuckDB ``round()``. numpy ``np.round`` is banker's
  (half-to-even) and would flip an argmin / threshold decision for a value
  landing exactly on a .5 grid boundary; Spark ``F.round`` is HALF_UP on
  the shortest *decimal* representation (BigDecimal.valueOf), which can
  disagree with the binary convention (round(2.675, 2)), so F.round is
  kept OUT of every grid decision — centroid means are collected
  unrounded and snapped driver-side.
- Ties break identically: argmin takes the LOWEST cluster index (numpy
  ``argmin`` first-hit ≡ SQL ``ORDER BY dist, cluster LIMIT 1``).

Scale shape: per iteration, assignment is one numpy matmul per Arrow batch
against a broadcast (k × dim) centroid matrix — no shuffle; the centroid
update is one ``posexplode`` + ``(cluster, dim)`` hash aggregation whose
output is k·dim rows (codebook-sized, CONSTANT in the row count) collected
to the driver exactly like any broadcast-dimension build. Total cost:
``iterations + 1`` passes over the data, zero pairwise work. The SemDeDup
pair join is cluster-keyed — shuffle by cluster id, quadratic only within a
cluster, which is why ``k`` must scale with corpus size (the paper uses
k ≈ √N·c; pick k so expected cluster size stays bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from lapis_silo_spark.session import local_relation


#: Row ceiling under which the Lloyd loop runs driver-side on a bounded
#: collect of the (id, vec) projection instead of one Spark job per
#: iteration. 1M rows × a typical 64-128 dim float64 vector is 0.5-1 GB of
#: driver numpy state — the same bounded-collect discipline as
#: operators/phylo.py and dedup.CC_DRIVER_EDGE_LIMIT; set to 0 to force the
#: distributed loop (tests pin both paths).
KMEANS_DRIVER_ROW_LIMIT = 1_000_000

#: Byte ceiling for the same collect (round 12): the row limit alone is
#: dim-blind — 1M rows × 1024-dim float64 would be ~8 GB of driver numpy,
#: not the 0.5-1 GB the row constant was reasoned about at 64-128 dims.
#: The probe reads the vector width and admits at most
#: ``KMEANS_DRIVER_BYTE_LIMIT / (dim * 8)`` rows, so the collected matrix
#: stays ~1 GB whatever the embedding width.
KMEANS_DRIVER_BYTE_LIMIT = 1 << 30


def _round_half_away(a, decimals: int):
    """Round half AWAY from zero on the binary double, fixed decimal grid —
    DuckDB ``round()``'s convention; ``np.round`` (banker's half-to-even)
    and Spark ``F.round`` (HALF_UP on the shortest decimal representation)
    both diverge at boundaries, so neither participates in grid
    decisions."""
    import numpy as np

    f = 10.0 ** decimals
    return np.sign(a) * np.floor(np.abs(a) * f + 0.5) / f


def _init_centroids(
    df: DataFrame, id_col: str, vec_col: str, k: int, decimals: int
):
    """k × dim matrix from the vectors of the k smallest ids, rounded."""
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).cast("array<double>").alias("vec"))
        .orderBy("id")
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"kmeans_assign: need >= {k} rows, got {len(rows)}")
    return _round_half_away(
        np.array([r["vec"] for r in rows], dtype=np.float64), decimals
    )


def _assign_col(centroids, distance_decimals: int):
    """Column: argmin cluster index under the broadcast centroid matrix."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.IntegerType())
    def _assign(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        mat = np.array(vecs.tolist(), dtype=np.float64)
        diff = mat[:, None, :] - centroids[None, :, :]
        dist = _round_half_away((diff * diff).sum(axis=2), distance_decimals)
        return pd.Series(np.argmin(dist, axis=1).astype("int32"))

    return _assign


def _fit_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iterations: int,
    centroid_decimals: int,
    distance_decimals: int,
    base: DataFrame | None = None,
):
    """The Lloyd loop shared by :func:`kmeans_assign` and
    :func:`kmeans_centroids`; returns the final (k × dim) numpy matrix.

    ``base`` lets a caller hand in an already-persisted ``(id, vec)``
    projection: every iteration (and the seed collect) is a separate Spark
    action over the same vectors, so without a cache the scan + cast
    pipeline recomputes ``iterations + 1`` times (guide §5 — reuse ×
    recompute-cost; round 11). When ``base`` is None the projection is
    persisted here for the loop and released before returning.
    """
    owns_cache = base is None
    vec = F.col(vec_col).cast("array<double>")
    if base is None:
        # NOT _spread (round 11 A/B): repartitioning the narrow (id, vec)
        # projection to defaultParallelism before the loop measured WORSE —
        # ann_ivfpq_topk 7.2 s vs 4.4 s, cluster_kmeans_assign 2.9 vs 1.8 —
        # because each Lloyd iteration became 32 tiny pandas-UDF tasks
        # (per-task Arrow/python overhead) plus a repartition exchange,
        # while the 1-task stage it replaced only exists when the scan is
        # SMALL (a single parquet split); a 100 TB input scans wide on its
        # own. Keep the projection's natural partitioning.
        base = df.select(F.col(id_col).alias("id"), vec.alias("vec")).persist()

    # Bounded driver fast path (round 11, same collect discipline as
    # operators/phylo.py and the CC union-find): each distributed Lloyd
    # iteration costs a full Spark job (pandas-UDF assign + posexplode +
    # (cluster, dim) agg + collect) — measured 0.5-1.1 s of fixed overhead
    # per iteration at bench scale while the actual math is milliseconds.
    # When a bounded probe shows the vector table is small enough to hold
    # driver-side, collect it ONCE (which also fills the caller's cache)
    # and run the iterations in numpy. Assignment math is bit-identical to
    # `_assign_col` (same numpy ops on the same float64 grid); per-cluster
    # means accumulate in a different float order than Spark's avg, which
    # the centroid rounding grid absorbs by design (the DuckDB oracle
    # already sums in a third order — oracle-gated + sf1 replay stable).
    # The distributed loop below remains the unbounded-scale path.
    # The admit decision is min(row limit, byte limit / row bytes), so a
    # wide-embedding table falls through to the distributed loop instead
    # of collecting multi-GB of driver numpy. The capped row count reads
    # only ids; the width comes from one non-null vector, and only when
    # the count is within the row limit.
    limit = KMEANS_DRIVER_ROW_LIMIT
    admit = False
    if limit:
        n = base.select("id").limit(limit + 1).count()
        if n <= limit:
            first = (
                base.filter(F.col("vec").isNotNull())
                .select(F.size("vec").alias("dim"))
                .first()
            )
            dim = first["dim"] if first is not None else 1
            admit = n <= KMEANS_DRIVER_BYTE_LIMIT // (8 * max(1, dim))
    if admit:
        import numpy as np

        pdf = base.toPandas()
        n = len(pdf)
        if n < k:
            raise ValueError(f"kmeans_assign: need >= {k} rows, got {n}")
        mat = np.array(pdf["vec"].tolist(), dtype=np.float64)
        ids = pdf["id"].tolist()
        seed = sorted(range(n), key=lambda i: ids[i])[:k]
        centroids = _round_half_away(mat[seed], centroid_decimals)
        dim = mat.shape[1]
        for _ in range(iterations):
            sums = np.zeros((k, dim), dtype=np.float64)
            counts = np.zeros(k, dtype=np.int64)
            for s in range(0, n, 65536):
                chunk = mat[s: s + 65536]
                diff = chunk[:, None, :] - centroids[None, :, :]
                dist = _round_half_away(
                    (diff * diff).sum(axis=2), distance_decimals
                )
                a = dist.argmin(axis=1)
                counts += np.bincount(a, minlength=k)
                for j in range(dim):
                    sums[:, j] += np.bincount(
                        a, weights=chunk[:, j], minlength=k
                    )
            new_c = centroids.copy()
            nz = counts > 0
            new_c[nz] = sums[nz] / counts[nz, None]
            centroids = _round_half_away(new_c, centroid_decimals)
        if owns_cache:
            base.unpersist()
        return centroids

    centroids = _init_centroids(base, "id", "vec", k, centroid_decimals)

    for _ in range(iterations):
        assigned = base.withColumn(
            "cluster", _assign_col(centroids, distance_decimals)(F.col("vec"))
        )
        # collect the UNROUNDED means and snap driver-side: Spark's F.round
        # is HALF_UP on the double's shortest DECIMAL representation
        # (BigDecimal.valueOf — round(2.675, 2) = 2.68), while numpy and
        # DuckDB round the BINARY value (2.67499999… → 2.67). Keeping
        # F.round out of the grid makes _round_half_away the single
        # authoritative convention on all engines (round-5 ADVICE).
        updates = (
            assigned.select(
                "cluster", F.posexplode("vec").alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(F.avg("val").alias("val"))
            .collect()
        )
        new_c = centroids.copy()
        for r in updates:
            new_c[r["cluster"], r["dim"]] = r["val"]
        centroids = _round_half_away(new_c, centroid_decimals)
    if owns_cache:
        base.unpersist()
    return centroids


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    iterations: int = 4,
    centroid_decimals: int = 6,
    distance_decimals: int = 9,
) -> DataFrame:
    """Deterministic Lloyd k-means; returns ``(id, cluster)``.

    ``iterations`` centroid updates from the lowest-id seed, then one final
    assignment under the resulting centroids. An emptied cluster keeps its
    previous centroid (it can re-acquire points later).
    """
    from lapis_silo_spark.cache import scoped_persist

    vec = F.col(vec_col).cast("array<double>")
    # one cache serves the seed collect, every Lloyd iteration, AND the
    # final assignment scan; scoped to the result's lifetime (natural
    # partitioning — see the _fit_centroids A/B note)
    base = df.select(F.col(id_col).alias("id"), vec.alias("vec")).persist()
    centroids = _fit_centroids(
        df, id_col, vec_col, k, iterations, centroid_decimals,
        distance_decimals, base=base,
    )
    out = base.select(
        "id",
        _assign_col(centroids, distance_decimals)(F.col("vec")).alias(
            "cluster"
        ),
    )
    return scoped_persist(base, out)


def kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    iterations: int = 4,
    centroid_decimals: int = 6,
    distance_decimals: int = 9,
) -> DataFrame:
    """The trained codebook itself: ``(cluster, cvec array<double>)`` —
    k rows, the broadcast-sized artifact downstream consumers (IVF cell
    search, SemDeDup partitioning, mixture analysis) index against.
    Deterministic like :func:`kmeans_assign` (same loop, same rounding
    grids), so an external SQL engine reproduces every coordinate."""
    centroids = _fit_centroids(
        df, id_col, vec_col, k, iterations, centroid_decimals,
        distance_decimals,
    )
    spark = df.sparkSession
    return local_relation(
        spark,
        [(i, [float(v) for v in row]) for i, row in enumerate(centroids)],
        "cluster int, cvec array<double>",
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    iterations: int = 4,
    threshold: float = 0.4,
    max_cluster_size: int = 8192,
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster, then within each cluster
    prune every row that has a LOWER-id row with cosine >= ``threshold``.

    Returns ``(id, cluster, pruned)`` for every input row. Greedy-by-id is
    a deterministic, one-pass stand-in for the paper's keep-farthest-from-
    centroid rule — same dedup set size, reproducible across engines.

    The within-cluster compare runs as ``applyInPandas`` over cluster
    groups: ONE shuffle keyed on the cluster id, then one (n_c × n_c)
    numpy matmul per cluster — the earlier pair-join formulation evaluated
    interpreted higher-order-function cosines per pair and was the plan's
    bottleneck at 10× scale. Quadratic work/memory is bounded by the
    LARGEST cluster (n_c² doubles for the cosine matrix), which is the
    standing SemDeDup contract: pick ``k`` ∝ corpus size so clusters stay
    bounded. ``max_cluster_size`` enforces that contract mechanically — a
    skewed cluster would otherwise OOM an executor silently; above the cap
    the group raises with an error naming the contract (same discipline as
    the exact-embedding and phylo collect guards).
    """
    import numpy as np
    import pandas as pd

    from lapis_silo_spark.cache import scoped_persist

    vec = F.col(vec_col).cast("array<double>")
    # Attach the assignment INLINE under the trained codebook instead of
    # joining kmeans_assign's (id, cluster) output back by id: the join
    # shuffled both sides of the same scan just to re-pair each row with
    # its own cluster column (2 exchanges + a second corpus pass, measured
    # round 11). Same values by construction — kmeans_assign's output IS
    # base.select(id, _assign_col(centroids)(vec)). The cache serves the
    # seed collect, the Lloyd iterations, and the final grouped scan
    # (natural partitioning — see the _fit_centroids A/B note).
    base = df.select(F.col(id_col).alias("id"), vec.alias("vec")).persist()
    centroids = _fit_centroids(
        df, id_col, vec_col, k, iterations, 6, 9, base=base,
    )
    grouped = base.withColumn(
        "cluster", _assign_col(centroids, 9)(F.col("vec"))
    )

    out_schema = T.StructType([
        T.StructField("id", base.schema["id"].dataType),
        T.StructField("cluster", T.IntegerType()),
        T.StructField("pruned", T.BooleanType()),
    ])

    def prune_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) > max_cluster_size:
            raise ValueError(
                f"semdedup: cluster {int(pdf['cluster'].iloc[0])} has "
                f"{len(pdf)} rows > max_cluster_size={max_cluster_size}; "
                "the within-cluster cosine matrix is quadratic in cluster "
                "size. SemDeDup's contract is k ∝ corpus size — raise k so "
                "clusters stay bounded (or raise max_cluster_size knowingly)."
            )
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        V = np.array(pdf["vec"].tolist(), dtype=np.float64)[order]
        nrm = np.sqrt((V * V).sum(axis=1))
        cos = _round_half_away(V @ V.T / np.outer(nrm, nrm), 6)
        hit = cos >= threshold
        n = len(ids)
        pruned = np.zeros(n, dtype=bool)
        for i in range(1, n):
            pruned[i] = hit[:i, i].any()
        return pd.DataFrame({
            "id": ids,
            "cluster": pdf["cluster"].to_numpy()[order],
            "pruned": pruned,
        })

    return scoped_persist(
        base,
        grouped.groupBy("cluster").applyInPandas(
            prune_cluster, schema=out_schema
        ),
    )


def kmeans_oracle_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    k: int = 10,
    iterations: int = 4,
    centroid_decimals: int = 6,
    distance_decimals: int = 9,
) -> tuple[str, str]:
    """DuckDB twin of :func:`kmeans_assign` as a WITH-clause body.

    Returns ``(ctes, final_assign_name)``; the caller wraps them in
    ``WITH {ctes} SELECT ... FROM {final}``. Unrolls the fixed iteration
    count; every rounding grid matches the Spark side exactly (see module
    docstring), and ``ORDER BY dist, cluster`` reproduces numpy argmin's
    first-hit tie-break.
    """
    cd, dd = centroid_decimals, distance_decimals
    parts = [
        f"v AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS vec "
        f"FROM {table})",
        "ve AS (SELECT id, unnest(vec) AS val, "
        "unnest(range(len(vec))) AS dim FROM v)",
        f"init AS (SELECT id, row_number() OVER (ORDER BY id) - 1 "
        f"AS cluster FROM v ORDER BY id LIMIT {k})",
        f"c0 AS (SELECT init.cluster, ve.dim, round(ve.val, {cd}) AS val "
        f"FROM init JOIN ve USING (id))",
    ]
    n_assign = iterations + 1  # a0..a{iterations}; the last is the output
    for i in range(n_assign):
        parts.append(
            f"d{i} AS (SELECT ve.id, c.cluster, "
            f"round(sum((ve.val - c.val) * (ve.val - c.val)), {dd}) AS dist "
            f"FROM ve JOIN c{i} c USING (dim) GROUP BY ve.id, c.cluster)"
        )
        parts.append(
            f"a{i} AS (SELECT id, cluster FROM ("
            f"SELECT id, cluster, row_number() OVER "
            f"(PARTITION BY id ORDER BY dist, cluster) AS rn FROM d{i}) "
            f"WHERE rn = 1)"
        )
        if i < iterations:
            parts.append(
                f"r{i + 1} AS (SELECT a.cluster, ve.dim, "
                f"round(avg(ve.val), {cd}) AS val "
                f"FROM a{i} a JOIN ve USING (id) GROUP BY 1, 2)"
            )
            parts.append(
                f"c{i + 1} AS (SELECT c.cluster, c.dim, "
                f"coalesce(r.val, c.val) AS val FROM c{i} c "
                f"LEFT JOIN r{i + 1} r "
                f"ON r.cluster = c.cluster AND r.dim = c.dim)"
            )
    return ",\n        ".join(parts), f"a{iterations}"
