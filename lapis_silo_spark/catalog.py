"""Database catalog: named tables + normalized sequence/hierarchy side tables.

The reference's ``silo::Database`` holds a map of primary-keyed tables whose
sequence columns are stored as bitmap index triples
(``/root/reference/src/silo/storage/table.h:16-68``,
``storage/column/sequence_column.h:58-170``). Our Spark-native equivalent
(SURVEY.md §7.1) stores each sequence column as four normalized long-form
Parquet tables, which Catalyst can filter/join with full pushdown:

- ``seq_mutations  (pk, seq_name, pos, symbol)``  ≙ VerticalSequenceIndex
- ``seq_coverage   (pk, seq_name, cov_start, cov_end)`` ≙ HorizontalCoverageIndex
- ``seq_missing    (pk, seq_name, pos)``          ≙ interior-N bitmaps
- ``seq_insertions (pk, seq_name, pos, inserted)`` ≙ InsertionIndex
- ``reference_genomes (seq_name, pos, ref_symbol)`` — long form of the refs

plus hierarchy tables:

- ``lineage_closure (col, ancestor, descendant, mode)`` ≙ LineageIndex
- ``phylo_nodes (col, node, parent, depth, euler_in, euler_out)`` ≙ PhyloTree

Scale notes: ``seq_mutations`` is the big one (rows × avg-mutations).
``storage.save_version`` writes every side table range-partitioned and
sorted by (seq_name, pos) (coverage: (seq_name, cov_start)), with a file
count that follows its bytes, so ``pos`` predicates skip files and Parquet
row groups by their min/max stats. Nothing is bucketed by ``pk``.

How a flag join on ``pk`` plans depends on the loaded layout
(:attr:`Database.single_partition`, ``expressions/base.py``):

- a store whose every dataset fits one scan split is loaded
  single-partition, and all of a filter's pk flags fold into one frame
  joined by a shuffled hash join that needs no exchange, so a light query
  runs as one Spark job;
- any other store, and every database built by registration (for example
  :meth:`Database.register_parquet_dir`), broadcasts each position-filtered
  side, or shuffles it when it is too large to broadcast.

``storage.write_bucketed`` is the co-located layout for a caller that needs
it. Reference genomes / closures / phylo nodes are tiny → broadcast joins.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class SequenceStore:
    """Side tables for ALL sequence columns of one logical table.

    ``seq_name`` distinguishes segments/genes (e.g. ``main``, ``S``); amino
    acid sequences carry ``is_aa=True`` rows in ``reference_genomes`` via the
    ``is_aa`` column.
    """

    mutations: DataFrame
    coverage: DataFrame
    missing: DataFrame
    insertions: DataFrame
    reference: DataFrame  # (seq_name, pos, ref_symbol, is_aa)
    #: Adapted per-position storage baseline ``(seq_name, pos, local_symbol)``
    #: — the symbol a row WITHOUT an explicit ``seq_mutations`` entry stores
    #: at that position (``vertical_sequence_index.h:71-82``: flip the stored
    #: reference to the majority symbol to minimize stored diffs). ``None``
    #: means the storage baseline IS the published reference genome. Query
    #: semantics (mutationFrom, hasMutation, the ``.`` wildcard) always stay
    #: anchored to the published ``reference``.
    local_reference: DataFrame | None = None
    #: Optional ``(seq_name, pos, trigram, pk)`` inverted index over stored
    #: insertions (``insertion_index.cpp`` analog, built by
    #: ``sources.insertion_index``); ``InsertionContains`` uses it to
    #: pre-filter regex candidates when present.
    insertion_trigrams: DataFrame | None = None
    _ref_cache: dict[str, dict[int, str]] = field(default_factory=dict)
    _local_cache: dict[str, dict[int, str]] = field(default_factory=dict)
    _is_aa: dict[str, bool] | None = None

    def ref_symbol(self, seq_name: str, pos: int) -> str:
        """Driver-side reference-genome lookup (cached; genome ≤ ~30k nt)."""
        if seq_name not in self._ref_cache:
            rows = self.reference.filter(F.col("seq_name") == seq_name).collect()
            if not rows:
                raise KeyError(f"unknown sequence name: {seq_name!r}")
            self._ref_cache[seq_name] = {r["pos"]: r["ref_symbol"] for r in rows}
        try:
            return self._ref_cache[seq_name][pos]
        except KeyError:
            raise ValueError(
                f"position {pos} out of range for sequence {seq_name!r}"
            ) from None

    def ref_length(self, seq_name: str) -> int:
        self.ref_symbol(seq_name, 1)  # populate cache / validate name
        return len(self._ref_cache[seq_name])

    def local_symbol(self, seq_name: str, pos: int) -> str:
        """The storage-baseline symbol at ``pos`` — what a row with no
        explicit mutation entry stores there. Falls back to the published
        reference symbol when the store is unadapted."""
        if self.local_reference is None:
            return self.ref_symbol(seq_name, pos)
        if seq_name not in self._local_cache:
            rows = self.local_reference.filter(
                F.col("seq_name") == seq_name
            ).collect()
            self._local_cache[seq_name] = {
                r["pos"]: r["local_symbol"] for r in rows
            }
        sym = self._local_cache[seq_name].get(pos)
        # positions absent from the adaptation table keep the published symbol
        return sym if sym is not None else self.ref_symbol(seq_name, pos)

    def _kinds(self) -> dict[str, bool]:
        """``{seq_name: is_aa}``, read once per store."""
        if self._is_aa is None:
            rows = self.reference.select("seq_name", "is_aa").distinct().collect()
            self._is_aa = {r["seq_name"]: bool(r["is_aa"]) for r in rows}
        return self._is_aa

    def is_amino_acid(self, seq_name: str) -> bool:
        return self._kinds().get(seq_name, False)

    def sequence_names(self, amino_acid: bool | None = None) -> list[str]:
        """Sorted sequence names, optionally only those of one symbol kind."""
        return sorted(
            name for name, is_aa in self._kinds().items()
            if amino_acid is None or is_aa == amino_acid
        )


class Database:
    """Named tables + per-table sequence stores + hierarchy tables."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, DataFrame] = {}
        self.primary_keys: dict[str, str] = {}
        self.sequence_stores: dict[str, SequenceStore] = {}
        # lineage column name -> closure DataFrame (ancestor, descendant, mode)
        self.lineage_closures: dict[str, DataFrame] = {}
        # lineage column name -> {(ancestor, mode): descendants}, collected
        # from the closure on first use (see lineage_clades)
        self._clades: dict[str, dict[tuple[str, str], frozenset[str]]] = {}
        # lineage column name -> original definition YAML text (served by
        # GET /lineageDefinition/<col>)
        self.lineage_definitions: dict[str, str] = {}
        # 10-digit data-version timestamp (reference: data_version.h)
        self.data_version: str = "0000000000"
        # lineage column name -> relation DataFrame (documentation/lineage_definitions.md:96-140)
        self.lineage_relations: dict[str, DataFrame] = {}
        # phylo column name -> nodes DataFrame (node, parent, depth, euler_in, euler_out, branch_length)
        self.phylo_nodes: dict[str, DataFrame] = {}
        # model artifact name -> DataFrame (k-means centroids, PQ codebooks,
        # BPE merge tables, ...). Train-once artifacts version with the data
        # they were trained on — same lifecycle discipline as the minhash
        # band state and the lineage closures (reference instinct: every
        # derived index lives in the version directory, storage.py).
        self.models: dict[str, DataFrame] = {}
        # model artifact name -> free-form metadata dict (kind, params)
        self.model_meta: dict[str, dict] = {}
        # True when every table and side table is one partition:
        # storage.load_version sets it for a store whose datasets each fit
        # one scan split, and registering a table or sequence store clears
        # it. Flag joins then plan without exchanges (expressions/base.py).
        self.single_partition = False
        # Bumped by every register_* call: a plan bound against an earlier
        # generation may read replaced data, so the server's plan cache
        # keys its entries by it (server.py).
        self.generation = 0

    # -- registration -----------------------------------------------------
    def register_table(
        self, name: str, df: DataFrame, primary_key: str = "primary_key"
    ) -> None:
        self.tables[name] = df
        self.primary_keys[name] = primary_key
        self.single_partition = False
        self.generation += 1
        df.createOrReplaceTempView(name)

    def register_sequence_store(self, table: str, store: SequenceStore) -> None:
        self.sequence_stores[table] = store
        self.single_partition = False
        self.generation += 1

    def register_lineage(
        self, column: str, closure: DataFrame,
        relation: DataFrame | None = None,
        definition_text: str | None = None,
    ) -> None:
        self.lineage_closures[column] = closure
        self._clades.pop(column, None)
        self.generation += 1
        if relation is not None:
            self.lineage_relations[column] = relation
        if definition_text is not None:
            self.lineage_definitions[column] = definition_text

    def register_phylo_tree(self, column: str, nodes: DataFrame) -> None:
        self.phylo_nodes[column] = nodes
        self.generation += 1

    def register_model(
        self, name: str, df: DataFrame, meta: dict | None = None
    ) -> None:
        """Register a train-once model artifact (a small DataFrame: k-means
        centroid table, PQ codebook table, BPE merge table) so
        :func:`lapis_silo_spark.storage.save_version` persists it and
        ``load_version`` restores it with the data it was trained on."""
        self.models[name] = df
        self.model_meta[name] = dict(meta or {})
        self.generation += 1

    # -- access -----------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        try:
            return self.tables[name]
        except KeyError:
            raise KeyError(f"unknown table: {name!r}") from None

    def primary_key(self, name: str) -> str:
        return self.primary_keys.get(name, "primary_key")

    def model(self, name: str) -> DataFrame:
        try:
            return self.models[name]
        except KeyError:
            raise KeyError(f"unknown model artifact: {name!r}") from None

    def sequence_store(self, table: str) -> SequenceStore:
        try:
            return self.sequence_stores[table]
        except KeyError:
            raise KeyError(f"table {table!r} has no sequence columns") from None

    def lineage_clades(
        self, column: str
    ) -> dict[tuple[str, str], frozenset[str]]:
        """``{(ancestor, mode): lineages in its sub-clade}`` for a lineage
        column; an alias maps to its canonical lineage's clade. The closure
        is bounded by the lineage definition, not by the data
        (:mod:`lapis_silo_spark.sources.lineage`), so it is collected once
        per column. A closure replaced in ``lineage_closures`` without
        :meth:`register_lineage` is not re-read."""
        if column not in self._clades:
            clades: dict[tuple[str, str], set[str]] = {}
            for r in self.lineage_closures[column].collect():
                clades.setdefault((r["ancestor"], r["mode"]), set()).add(
                    r["descendant"]
                )
            self._clades[column] = {k: frozenset(v) for k, v in clades.items()}
        return self._clades[column]

    def phylo_descendant_names(self, column: str, node: str) -> DataFrame:
        """All node names (internal + leaves) in the subtree rooted at ``node``.

        Uses the precomputed Euler-tour interval (``euler_in``/``euler_out``)
        — one broadcastable filter instead of the reference's pointer-chasing
        tree walk (``src/silo/common/phylo_tree.h``).
        """
        nodes = self.phylo_nodes[column]
        anchor = nodes.filter(F.col("node") == node).select(
            F.col("euler_in").alias("a_in"), F.col("euler_out").alias("a_out")
        )
        return (
            nodes.crossJoin(F.broadcast(anchor))
            .filter(
                (F.col("euler_in") >= F.col("a_in"))
                & (F.col("euler_out") <= F.col("a_out"))
            )
            .select("node")
        )

    # -- convenience ------------------------------------------------------
    def read_parquet(self, path: str) -> DataFrame:
        """Read parquet, normalizing ns-precision timestamps to TimestampType.

        Spark has no nanosecond timestamp type; with
        ``spark.sql.legacy.parquet.nanosAsLong`` such columns arrive as long
        nanos — detect them from the parquet footer and convert (µs
        truncation), so downstream operators see real timestamps.
        """
        df = self.spark.read.parquet(path)
        try:
            import pyarrow.parquet as pq
            import pyarrow.types as pat

            first = path
            if os.path.isdir(path):
                parts = [
                    p for p in sorted(os.listdir(path)) if p.endswith(".parquet")
                ]
                if parts:
                    first = os.path.join(path, parts[0])
            schema = pq.read_schema(first)
            for fld in schema:
                if pat.is_timestamp(fld.type) and fld.type.unit == "ns":
                    # `div`, not `/`: epoch nanos (~1.7e18) exceed a
                    # double's 53-bit mantissa, so float division can be
                    # off by ±128 ns — enough to flip the µs digit.
                    df = df.withColumn(
                        fld.name,
                        F.timestamp_micros(F.expr(f"`{fld.name}` div 1000")),
                    )
        except Exception:
            pass  # non-local filesystems: leave columns as read
        return df

    def register_parquet_dir(self, sf_dir: str) -> None:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                name = f[: -len(".parquet")]
                self.register_table(
                    name, self.read_parquet(os.path.join(sf_dir, f))
                )
