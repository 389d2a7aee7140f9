"""Sequence predicates: symbol tests, insertions, mutation profiles, maybe/exact.

These are the reference's genomic filters re-expressed relationally. Each one
compiles to boolean flag columns fed by joins against the normalized side
tables (see :mod:`lapis_silo_spark.catalog`), mirroring the reference's 4-way
compile strategy in
``/root/reference/src/silo/query_engine/scalar_expressions/symbol_in_set.cpp:231-265``:

stored symbol of row r at position p =
    mutation symbol               if (r, p) ∈ seq_mutations
    missing (N/X)                 if p outside r's coverage, or (r, p) ∈ seq_missing
    reference symbol at p         otherwise (covered, unmutated)
    -- rows with a NULL sequence never match anything
       (``symbol_in_set.cpp:104-126``)

Ingest writes a mutation only inside a row's coverage window, and every row
that stores a sequence has a coverage row (``sources/ndjson.py``; local
reference adaptation keeps both). So a mutation entry or a covered
position already implies the row stores the sequence, and a predicate
needs the ``has_seq`` flag (a whole-coverage-table aggregate and join)
only when it can match an UNcovered position.
"""

from __future__ import annotations

from typing import Sequence as Seq

from pyspark.sql import Column
from pyspark.sql import functions as F

from lapis_silo_spark.alphabets import (
    AA_MISSING,
    AA_SYMBOLS,
    NUC_MISSING,
    NUC_SYMBOLS,
    ambiguity_symbols,
    expand_symbol,
)
from lapis_silo_spark.expressions.base import (
    AmbiguityMode,
    SeqFlagRequest,
    CompileContext,
    Expression,
    QueryCompileError,
)
from lapis_silo_spark.session import local_relation


def _store(ctx: CompileContext):
    if ctx.database is None:
        raise QueryCompileError(
            "sequence predicates require a Database with sequence side tables"
        )
    return ctx.database.sequence_store(ctx.table_name)


class _SequencePredicate(Expression):
    def __init__(self, seq_name: str, position: int):
        if position < 1:
            raise QueryCompileError("sequence positions are 1-based")
        self.seq_name = seq_name
        self.position = position

    # shared flag builders -------------------------------------------------
    # Each registers a STRUCTURED request (SeqFlagRequest): identical
    # requests dedupe to one flag column, and apply_flag_joins batches every
    # request against the same side table into ONE pk join — a
    # query with k sequence predicates compiles to ≤3 side-table joins
    # instead of ~4k (SURVEY §7.3's self-semi-join collapse).
    def _has_seq_flag(self, ctx: CompileContext) -> Column:
        _store(ctx)  # validate side tables exist
        flag = ctx.new_seq_flag(SeqFlagRequest("has_seq", self.seq_name))
        return F.coalesce(F.col(flag), F.lit(False))

    def _covered_flag(self, ctx: CompileContext) -> Column:
        """p inside [cov_start, cov_end) and not an interior missing position.

        ≙ IsInCoveredRegion (``filter/operators/is_in_covered_region.cpp:31-50``).
        """
        _store(ctx)
        p = self.position
        in_range_f = F.coalesce(
            F.col(ctx.new_seq_flag(SeqFlagRequest("covered", self.seq_name, p))),
            F.lit(False),
        )
        missing_f = F.coalesce(
            F.col(ctx.new_seq_flag(SeqFlagRequest("missing", self.seq_name, p))),
            F.lit(False),
        )
        return in_range_f & ~missing_f

    def _mutation_flag(self, ctx: CompileContext, symbols: Seq[str] | None) -> Column:
        """Row has a recorded mutation at p (optionally restricted to symbols)."""
        _store(ctx)
        if symbols is not None and not symbols:
            from lapis_silo_spark.expressions.core import FalseExpr

            return FalseExpr().compile(ctx)
        flag = ctx.new_seq_flag(
            SeqFlagRequest(
                "mutation",
                self.seq_name,
                self.position,
                tuple(sorted(symbols)) if symbols is not None else None,
            )
        )
        return F.coalesce(F.col(flag), F.lit(False))


class SequenceAt:
    """``at()`` on a SEQUENCE column — a string VALUE, not a predicate.

    This is the workload the reference's BitmapAggregationNode exists for
    (``operators/bitmap_aggregation_node.cpp:51-129``, rewrite pass
    ``optimizer/bitmap_aggregation_rewrite_pass.cpp:30-129``,
    ``performance/co_occurrence_benchmark.cpp:81``: ``s{} := main.at({})``
    grouping keys). Instead of reconstructing the whole genome to read one
    character (O(genome-length) per row), compile to the targeted
    per-position lookup the 4-way SymbolEquals strategy already owns:

        value(p) = mutation symbol at p      if (pk, p) ∈ seq_mutations
                 | local reference symbol    if p covered and not missing
                 | missing symbol (N/X)      otherwise
        NULL when the row stores no sequence (the null group of
        ``buildSymbolBitmaps``); ``""`` when p exceeds the genome length
        (``map_node.cpp:63-71``: at() is utf8_slice_codeunits — past-end
        slices are empty).

    One position-filtered pk join per sequence (batched with every
    other flag on that sequence by ``apply_flag_joins``) — no O(L)
    ``transform``, no genome-sized maps in the shuffle. Matches
    ``operators/reconstruct.py``'s ``char_at`` definition exactly.
    """

    def __init__(self, seq_name: str, position: int):
        if position < 1:
            raise QueryCompileError("sequence positions are 1-based")
        self.seq_name = seq_name
        self.position = position

    def compile_value(self, ctx: CompileContext) -> Column:
        store = _store(ctx)
        is_aa = store.is_amino_acid(self.seq_name)
        missing_sym = AA_MISSING if is_aa else NUC_MISSING
        length = store.ref_length(self.seq_name)
        has_seq = F.coalesce(
            F.col(ctx.new_seq_flag(SeqFlagRequest("has_seq", self.seq_name))),
            F.lit(False),
        )
        null_str = F.lit(None).cast("string")
        p = self.position
        if p > length:
            return F.when(has_seq, F.lit("")).otherwise(null_str)
        mut = F.col(
            ctx.new_seq_flag(SeqFlagRequest("symbol_at", self.seq_name, p))
        )
        covered = F.coalesce(
            F.col(ctx.new_seq_flag(SeqFlagRequest("covered", self.seq_name, p))),
            F.lit(False),
        )
        missing = F.coalesce(
            F.col(ctx.new_seq_flag(SeqFlagRequest("missing", self.seq_name, p))),
            F.lit(False),
        )
        base = F.when(
            covered & ~missing, F.lit(store.local_symbol(self.seq_name, p))
        ).otherwise(F.lit(missing_sym))
        return F.when(has_seq, F.coalesce(mut, base)).otherwise(null_str)


class SymbolEquals(_SequencePredicate):
    """``nucleotideEquals`` / ``aminoAcidEquals`` —
    ``scalar_expressions/symbol_equals.cpp`` + ``symbol_in_set.cpp``.

    ``symbol='.'`` is the reference-wildcard (matches the reference genome's
    symbol at that position). The ambiguity mode of the enclosing
    ``maybe()``/``exact()`` expands the searched symbol into the set of stored
    symbols that match (``symbol_equals.cpp:65-93``), then the 4-way strategy
    splits that set into mutation-match / reference-match / missing-match.
    """

    def __init__(self, seq_name: str, position: int, symbol: str,
                 is_amino_acid: bool | None = None):
        super().__init__(seq_name, position)
        self.symbol = symbol.upper() if symbol != "." else "."
        self.is_amino_acid = is_amino_acid

    def compile(self, ctx: CompileContext) -> Column:
        store = _store(ctx)
        is_aa = (
            self.is_amino_acid
            if self.is_amino_acid is not None
            else store.is_amino_acid(self.seq_name)
        )
        missing_sym = AA_MISSING if is_aa else NUC_MISSING
        ref_sym = store.ref_symbol(self.seq_name, self.position)
        # the '.' wildcard means the PUBLISHED reference symbol; the storage
        # baseline (what absence-of-entry stores) may differ after
        # local-reference adaptation (sources/adapt.py)
        local_sym = store.local_symbol(self.seq_name, self.position)
        searched = ref_sym if self.symbol == "." else self.symbol

        matched = expand_symbol(searched, ctx.mode.value, is_aa)

        mut_set = sorted(matched - {local_sym, missing_sym})
        match_default = local_sym in matched
        match_missing = missing_sym in matched

        cond = F.lit(False)
        if mut_set:
            cond = cond | self._mutation_flag(ctx, mut_set)
        if match_default or match_missing:
            covered = self._covered_flag(ctx)
            if match_default:
                cond = cond | (covered & ~self._mutation_flag(ctx, None))
            if match_missing:
                # uncovered position, interior missing — and explicit stored
                # 'N'/'X' mutations count as missing too
                cond = cond | ~covered | self._mutation_flag(ctx, [missing_sym])
                return self._has_seq_flag(ctx) & cond
        return cond


class HasMutation(_SequencePredicate):
    """``hasMutation`` / ``hasAAMutation`` — the stored symbol is definitely
    not the reference symbol (``scalar_expressions/has_mutation.cpp:34-67``).

    Default/exact mode: matched symbols = alphabet minus
    ``AMBIGUITY_SYMBOLS[ref]`` — an ambiguity code that *could* be the
    reference (e.g. stored Y over ref C) is not a certain mutation, and the
    missing symbol never is. Under ``maybe()`` only the reference symbol
    itself is excluded: any other stored symbol — including missing/uncovered
    — could be a mutation.
    """

    def __init__(self, seq_name: str, position: int,
                 is_amino_acid: bool | None = None):
        super().__init__(seq_name, position)
        self.is_amino_acid = is_amino_acid

    def compile(self, ctx: CompileContext) -> Column:
        store = _store(ctx)
        is_aa = (
            self.is_amino_acid
            if self.is_amino_acid is not None
            else store.is_amino_acid(self.seq_name)
        )
        missing_sym = AA_MISSING if is_aa else NUC_MISSING
        # "mutation" means differs-from-PUBLISHED-reference; the storage
        # baseline may differ after local-reference adaptation, in which
        # case rows WITHOUT an explicit entry store local_sym and can
        # themselves be mutations
        ref_sym = store.ref_symbol(self.seq_name, self.position)
        local_sym = store.local_symbol(self.seq_name, self.position)
        alphabet = set(AA_SYMBOLS if is_aa else NUC_SYMBOLS)
        if ctx.mode is AmbiguityMode.UPPER_BOUND:
            # anything but the reference could be a mutation — including
            # stored missing symbols and uncovered positions
            matched = alphabet - {ref_sym}
            cond = self._mutation_flag(
                ctx, sorted(matched - {local_sym})
            ) | ~self._covered_flag(ctx)
            if local_sym in matched:
                cond = cond | (
                    self._covered_flag(ctx) & ~self._mutation_flag(ctx, None)
                )
            return self._has_seq_flag(ctx) & cond
        matched = alphabet - ambiguity_symbols(ref_sym, is_aa)
        cond = self._mutation_flag(ctx, sorted(matched - {local_sym}))
        if local_sym in matched:
            cond = cond | (
                self._covered_flag(ctx) & ~self._mutation_flag(ctx, None)
            )
        return cond


class InsertionContains(Expression):
    """``insertionContains`` / ``aminoAcidInsertionContains`` —
    ``scalar_expressions/insertion_contains.cpp:50-88``.

    ``value`` is a regex-lite pattern over symbols where ``.*`` matches any
    run; anchored on both ends. The reference accelerates regex search with a
    3-mer index (``storage/column/insertion_index.cpp``); the Spark plan is a
    predicate-pushed scan of the (comparatively tiny) insertions table — at
    100 TB main-table scale the insertions side table stays orders of
    magnitude smaller, so a pruned scan + semi-join is the right shape.
    """

    def __init__(self, seq_name: str, position: int, value: str):
        if position < 0:
            raise QueryCompileError("insertion positions are 0-based, >= 0")
        self.seq_name = seq_name
        self.position = position
        self.value = value
        self._validate()

    def _validate(self) -> None:
        """Value grammar: symbol runs and ``.*`` wildcards only; ``\\*`` is
        the escaped stop-codon symbol (``insertion_contains.cpp:50-88``)."""
        import re

        parts = self.value.split(".*")
        for part in parts:
            if not re.fullmatch(r"(\\\*|[A-Za-z\-])*", part):
                raise QueryCompileError(
                    "The field 'value' in the InsertionContains expression "
                    f'does not contain a valid regex pattern: "{self.value}". '
                    "It must only consist of symbol characters and the .* "
                    "wildcard"
                )

    def _regex(self) -> str:
        # Escape everything except the `.*` wildcard runs; `\*` means a
        # literal stop-codon '*'.
        import re

        parts = self.value.upper().split(".*")
        return "^" + ".*".join(
            re.escape(p.replace("\\*", "*")) for p in parts
        ) + "$"

    def compile(self, ctx: CompileContext) -> Column:
        store = _store(ctx)
        base = store.insertions.filter(
            (F.col("seq_name") == self.seq_name)
            & (F.col("pos") == F.lit(self.position))
        )
        if store.insertion_trigrams is not None:
            # posting-list intersection over the 3-mer inverted index
            # (insertion_index.cpp): only rows containing EVERY required
            # trigram reach the exact regex refine below
            from lapis_silo_spark.sources.insertion_index import trigrams_of

            required = trigrams_of(self.value)
            if required:
                cand = (
                    store.insertion_trigrams.filter(
                        (F.col("seq_name") == self.seq_name)
                        & (F.col("pos") == F.lit(self.position))
                        & F.col("trigram").isin(required)
                    )
                    .groupBy("pk")
                    .agg(F.count_distinct("trigram").alias("_n"))
                    .filter(F.col("_n") == len(required))
                    .select("pk")
                )
                base = base.join(cand, on="pk", how="left_semi")
        keys = base.filter(
            F.col("inserted").rlike(self._regex())
        ).select(F.col("pk").alias(ctx.pk))
        return F.coalesce(F.col(ctx.new_flag(keys)), F.lit(False))


AGGREGATE_PROFILE_THRESHOLD = 32


class MutationProfileAggregate(Expression):
    """Scale path for mutation profiles: ONE pass over each side table
    instead of one flag join per profile position.

    The per-position reduction (``mutation_profile.cpp:249-256``) compiles
    ``O(len(profile))`` joins — fine for a handful of positions, a plan
    explosion for a 30k-position genome profile. This node computes the
    conservative difference count per row with constant join count:

        diff(row) = |D_ref ∩ covered(row)| − |D_ref ∩ missing(row)|
                    − |D_ref ∩ mutated(row)| + #incompatible-mutations(row)

    where ``D_ref`` = profile positions whose searched symbol is
    maybe-incompatible with the reference symbol (row-independent,
    precomputed driver-side from two ~30k-entry in-memory maps), and a
    mutation is incompatible when its stored symbol is outside the searched
    symbol's IUPAC upper-bound expansion. Missing/uncovered positions are
    never differences (maybe semantics), matching the per-position path
    exactly — equivalence is pinned by tests.
    """

    def __init__(self, seq_name: str, pairs: "Seq[tuple[int, str]]",
                 distance: int, is_amino_acid: bool | None = None):
        if distance < 0:
            raise QueryCompileError("mutationProfile: distance must be >= 0")
        self.seq_name = seq_name
        self.pairs = [(int(p), s.upper()) for p, s in pairs]
        self.distance = distance
        self.is_amino_acid = is_amino_acid

    def compile(self, ctx: CompileContext) -> Column:
        from lapis_silo_spark.expressions.core import TrueExpr

        if not self.pairs:
            return TrueExpr().compile(ctx)
        store = _store(ctx)
        is_aa = (
            self.is_amino_acid
            if self.is_amino_acid is not None
            else store.is_amino_acid(self.seq_name)
        )
        missing_sym = AA_MISSING if is_aa else NUC_MISSING
        spark = store.mutations.sparkSession

        # Driver-side precompute over the (small, cached) reference genome:
        # per-position compatible-symbol sets + the reference-incompatible set.
        profile_rows = []
        dref: list[int] = []
        for pos, sym in self.pairs:
            if sym == missing_sym:
                continue  # profile-missing positions are skipped
            matched = expand_symbol(sym, AmbiguityMode.UPPER_BOUND.value, is_aa)
            # D_ref partitions by what an entry-less row STORES at pos — the
            # local (possibly adapted) baseline, not the published reference
            base_sym = store.local_symbol(self.seq_name, pos)
            is_dref = base_sym not in matched
            if is_dref:
                dref.append(pos)
            profile_rows.append(
                (pos, sorted(matched - {missing_sym}), is_dref)
            )
        if not profile_rows:
            return TrueExpr().compile(ctx)
        if self.distance >= len(profile_rows):
            # Degenerate case: ¬nOf(distance+1, k diffs) with distance+1 > k
            # can never fire, so the reference matches EVERY row — including
            # null-sequence rows (nOf over an empty bitmap set is empty).
            return TrueExpr().compile(ctx)

        prof_df = F.broadcast(local_relation(
            spark, profile_rows,
            "pos int, compat array<string>, is_dref boolean",
        ))
        sided = F.col("seq_name") == self.seq_name

        mut_agg = (
            store.mutations.filter(sided)
            .join(prof_df, on="pos", how="inner")
            .groupBy("pk")
            .agg(
                F.sum(
                    F.when(
                        (F.col("symbol") != missing_sym)
                        & ~F.array_contains(F.col("compat"), F.col("symbol")),
                        1,
                    ).otherwise(0)
                ).alias("_incompat"),
                F.sum(F.when(F.col("is_dref"), 1).otherwise(0)).alias("_mut_dref"),
            )
        )

        parts = mut_agg
        if dref:
            dref_df = F.broadcast(
                local_relation(spark, [(p,) for p in dref], "pos int")
            )
            cov_agg = (
                store.coverage.filter(sided)
                .join(
                    dref_df,
                    on=[
                        F.col("pos") >= F.col("cov_start"),
                        F.col("pos") < F.col("cov_end"),
                    ],
                    how="inner",
                )
                .groupBy("pk")
                .agg(F.count(F.lit(1)).alias("_cov_dref"))
            )
            miss_agg = (
                store.missing.filter(sided)
                .join(dref_df, on="pos", how="inner")
                .groupBy("pk")
                .agg(F.count(F.lit(1)).alias("_miss_dref"))
            )
            parts = (
                parts.join(cov_agg, on="pk", how="full")
                .join(miss_agg, on="pk", how="full")
            )
        else:
            parts = parts.withColumn("_cov_dref", F.lit(0)).withColumn(
                "_miss_dref", F.lit(0)
            )

        z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
        diff = (
            z("_cov_dref") - z("_miss_dref") - z("_mut_dref") + z("_incompat")
        )
        # Violator set (diff > distance) instead of matcher set: rows with a
        # sequence but NO side-table hits have diff 0 and must match without
        # appearing in any aggregate.
        violators = parts.filter(diff > F.lit(self.distance)).select(
            F.col("pk").alias(ctx.pk)
        )
        has_seq = F.coalesce(
            F.col(ctx.new_flag(
                store.coverage.filter(sided).select(F.col("pk").alias(ctx.pk))
            )),
            F.lit(False),
        )
        violator_flag = F.coalesce(F.col(ctx.new_flag(violators)), F.lit(False))
        return has_seq & ~violator_flag


def build_mutation_profile(
    seq_name: str,
    pairs: "Seq[tuple[int, str]]",
    distance: int,
    is_amino_acid: bool | None = None,
) -> Expression:
    """Pick the profile implementation: per-position predicate reduction for
    short profiles (plan stays tiny, mirrors the reference rewrite 1:1), the
    aggregated single-pass node beyond :data:`AGGREGATE_PROFILE_THRESHOLD`."""
    from lapis_silo_spark.expressions.core import Negation, NOf, TrueExpr

    pairs = list(pairs)
    if not pairs:
        return TrueExpr()
    if len(pairs) > AGGREGATE_PROFILE_THRESHOLD:
        return MutationProfileAggregate(seq_name, pairs, distance,
                                        is_amino_acid)
    diffs: list[Expression] = [
        Negation(Maybe(SymbolEquals(seq_name, pos, sym,
                                    is_amino_acid=is_amino_acid)))
        for pos, sym in pairs
    ]
    return Negation(NOf(distance + 1, diffs))


class MutationProfile(Expression):
    """``nucleotideMutationProfile`` / ``aminoAcidMutationProfile`` —
    ``scalar_expressions/mutation_profile.cpp``.

    Matches rows whose sequence differs from a profile sequence in at most
    ``distance`` *conservative* positions: ambiguity-compatible symbols do not
    count as differences, and profile missing symbols are skipped. Compiles to
    ``NOT nOf(distance+1, per-position-difference predicates)`` exactly like
    the reference (``mutation_profile.cpp:249-256``); each difference
    predicate is ``NOT maybe(symbolEquals(pos, profile[pos]))``.
    """

    def __init__(self, seq_name: str, profile: str, distance: int,
                 is_amino_acid: bool | None = None, start_position: int = 1):
        if distance < 0:
            raise QueryCompileError("mutationProfile: distance must be >= 0")
        self.seq_name = seq_name
        self.profile = profile.upper()
        self.distance = distance
        self.is_amino_acid = is_amino_acid
        self.start_position = start_position

    def compile(self, ctx: CompileContext) -> Column:
        store = _store(ctx)
        is_aa = (
            self.is_amino_acid
            if self.is_amino_acid is not None
            else store.is_amino_acid(self.seq_name)
        )
        missing_sym = AA_MISSING if is_aa else NUC_MISSING
        pairs = [
            (self.start_position + i, sym)
            for i, sym in enumerate(self.profile)
            if sym != missing_sym  # profile-missing positions are skipped
        ]
        return build_mutation_profile(
            self.seq_name, pairs, self.distance, is_amino_acid=is_aa
        ).compile(ctx)


class _ModeWrapper(Expression):
    mode: AmbiguityMode

    def __init__(self, child: Expression):
        self.child = child

    def compile(self, ctx: CompileContext) -> Column:
        """Temporarily swap the ambiguity mode while compiling the child.

        ≙ the reference's rewrite-with-mode
        (``scalar_expressions/maybe.cpp:28-33`` / ``exact.cpp:29-34``).
        """
        prev = ctx.mode
        ctx.mode = self.mode
        try:
            return self.child.compile(ctx)
        finally:
            ctx.mode = prev


class Maybe(_ModeWrapper):
    mode = AmbiguityMode.UPPER_BOUND


class Exact(_ModeWrapper):
    mode = AmbiguityMode.LOWER_BOUND
