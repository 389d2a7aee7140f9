"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no streaming at all (SURVEY §2.5); these are the
Spark-first extensions a continuous training-data pipeline needs:
cross-batch exact dedup (emit each document the FIRST time its content
digest is seen) and gap-based sessionization with event-time timeouts.

Scale design: dedup state is keyed by a fixed-width digest prefix (256
groups by default), so state shards evenly across executors no matter how
skewed the document stream is, and each group's state is a plain sorted
digest list — the RocksDB/HDFS state store handles persistence and
recovery. Session state is one open-session triple per key, closed either
by an in-batch gap or by the watermark passing end+gap (EventTimeTimeout),
so state size is O(active keys), never O(events).
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from lapis_silo_spark.functions.text import normalized

_OUTPUT_SCHEMA = "id string, digest string"
_STATE_SCHEMA = "seen array<string>"


def _dedup_group(
    key: Any,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    seen: set = set(state.get[0]) if state.exists else set()
    fresh_ids: list = []
    fresh_digests: list = []
    for pdf in pdfs:
        for row_id, digest in zip(pdf["id"], pdf["digest"]):
            if digest not in seen:
                seen.add(digest)
                fresh_ids.append(row_id)
                fresh_digests.append(digest)
    state.update((sorted(seen),))
    yield pd.DataFrame({"id": fresh_ids, "digest": fresh_digests})


def streaming_exact_dedup(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    prefix_len: int = 2,
) -> DataFrame:
    """First-seen exact dedup across micro-batches.

    Returns ``(id, digest)`` rows for documents whose normalized-text digest
    has not appeared in any earlier batch (or earlier in this batch). Works
    on a streaming DataFrame; pair with ``outputMode("update")``.
    """
    digests = stream.select(
        F.col(id_col).cast("string").alias("id"),
        F.md5(normalized(text_col)).alias("digest"),
    ).withColumn("grp", F.substring("digest", 1, prefix_len))
    return digests.groupBy("grp").applyInPandasWithState(
        _dedup_group,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_ND_OUTPUT = "id_a string, id_b string, jaccard double"
_ND_STATE = "ids array<string>, sigs array<array<bigint>>"


def streaming_minhash_pairs(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_perms: int = 32,
    n_bands: int = 8,
    k: int = 5,
    max_bucket: int = 64,
) -> DataFrame:
    """Cross-batch NEAR-duplicate pairs: the streaming twin of
    ``functions.dedup.minhash_lsh_pairs``.

    Each document's MinHash signature comes from the batch producer
    (``functions.dedup.minhash_signatures``, md5 family — a per-partition
    ``mapInPandas`` pass with no aggregation, so the plan stays a single
    stateful operator, which Structured Streaming requires); it is
    exploded into band buckets and compared against the bucket's
    remembered members: a pair is emitted the moment the later document
    arrives, with the signature-estimated Jaccard, when that estimate >=
    ``threshold``. A NULL-text document gets no signature and never pairs.

    State per (band, bucket) is a capped member list (``max_bucket``
    ids + signatures) — hot buckets degrade to first-N recall instead of
    unbounded state, the same guardrail batch LSH applies to hot
    shingles. A pair colliding in several bands is emitted once per
    collision; downstream exact dedup (or the batch cluster collapse)
    absorbs duplicates.
    """
    from lapis_silo_spark.functions.dedup import (
        _signature_bands,
        minhash_signatures,
    )

    def _group(
        key: Any,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, sigs = state.get
            ids = list(ids)
            sigs = [list(s) for s in sigs]
        else:
            ids, sigs = [], []
        out_a: list = []
        out_b: list = []
        out_j: list = []
        for pdf in pdfs:
            for row_id, sig in zip(pdf["id"], pdf["sig"]):
                # plain Python ints: the state tuple is pickled across the
                # JVM bridge, which rejects numpy scalars
                sig = [int(v) for v in sig]
                for other_id, other_sig in zip(ids, sigs):
                    if other_id == row_id:
                        continue
                    eq = sum(1 for x, y in zip(sig, other_sig) if x == y)
                    est = eq / float(n_perms)
                    if est >= threshold:
                        a, b = sorted((other_id, row_id))
                        out_a.append(a)
                        out_b.append(b)
                        out_j.append(round(est, 6))
                # membership check: a re-delivered id must not consume a
                # second max_bucket slot (hot-bucket recall would degrade
                # faster than the documented first-N guarantee)
                if row_id not in ids and len(ids) < max_bucket:
                    ids.append(row_id)
                    sigs.append(sig)
        state.update((ids, sigs))
        yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "jaccard": out_j})

    docs = stream.select(
        F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("_t")
    )
    banded = _signature_bands(
        minhash_signatures(docs, "id", "_t", n_perms, k),
        n_bands,
        n_perms // n_bands,
    )
    return banded.groupBy("band", "band_hash").applyInPandasWithState(
        _group,
        outputStructType=_ND_OUTPUT,
        stateStructType=_ND_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SESS_OUTPUT = (
    "key string, session_start timestamp, session_end timestamp, "
    "n_events bigint"
)
_SESS_STATE = "start timestamp, end timestamp, n bigint"


def streaming_sessionize(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Per-key gap sessionization over a stream: emit one row per CLOSED
    session ``(key, session_start, session_end, n_events)``.

    A session closes when (a) a later in-batch event for the key arrives
    more than ``gap_seconds`` after it, or (b) the event-time watermark
    passes ``session_end + gap`` (EventTimeTimeout) — so quiet keys flush
    without waiting for their next event. Spark's built-in
    ``session_window`` covers windowed aggregates; this operator is the
    per-key custom-state variant (and the streaming twin of
    ``operators/temporal.py::sessionize``). Pair with
    ``outputMode("update")``; late events beyond ``watermark_delay`` are
    dropped by the watermark.
    """

    def _group(
        key: Any,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "session_start": [start],
                    "session_end": [end],
                    "n_events": [n],
                }
            )
            return
        # Merge the restored open session (a [start, end, n] span) and the
        # batch events (point spans) in TIME order, not arrival order: an
        # out-of-order event within the watermark may precede the open
        # session's start, and must either pull the start back (if within
        # gap) or form its own earlier session — not silently inflate the
        # open one (a negative gap always passed the old `<= gap` check).
        spans: list[list] = [
            [t, t, 1]
            for pdf in pdfs
            for t in pdf["ts"].tolist()
            if t is not None
        ]
        if state.exists:
            start, end, n = state.get
            spans.append([pd.Timestamp(start), pd.Timestamp(end), n])
        spans.sort(key=lambda s: (s[0], s[1]))
        sessions: list[list] = []
        for start, end, n in spans:
            if (
                sessions
                and (start - sessions[-1][1]).total_seconds() <= gap_seconds
            ):
                sessions[-1][1] = max(sessions[-1][1], end)
                sessions[-1][2] += n
            else:
                sessions.append([start, end, n])
        if not sessions:
            return
        *closed, current = sessions
        state.update((current[0], current[1], current[2]))
        state.setTimeoutTimestamp(
            int(current[1].timestamp() * 1000) + gap_seconds * 1000
        )
        if closed:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(closed),
                    "session_start": [s[0] for s in closed],
                    "session_end": [s[1] for s in closed],
                    "n_events": [s[2] for s in closed],
                }
            )

    events = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias("ts"),
    ).withWatermark("ts", watermark_delay)
    return events.groupBy("key").applyInPandasWithState(
        _group,
        outputStructType=_SESS_OUTPUT,
        stateStructType=_SESS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_KMV_OUTPUT = "grp string, n_kept int, est_distinct double"
_KMV_STATE = "hashes array<double>"


def _kmv_group(
    key: Any,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    k: int,
) -> Iterator[pd.DataFrame]:
    kept: list = list(state.get[0]) if state.exists else []
    seen = set(kept)
    for pdf in pdfs:
        for h in pdf["h"]:
            h = float(h)
            if h in seen:
                continue
            seen.add(h)
            kept.append(h)
    # keep the k smallest — THE KMV merge rule (union, truncate), which is
    # what makes cross-batch state equal to a batch sketch of the union
    kept = sorted(kept)[:k]
    state.update((kept,))
    if len(kept) < k:
        est = float(len(kept))
    else:
        est = (k - 1) / kept[-1]
    yield pd.DataFrame({
        "grp": [key[0]],
        "n_kept": [len(kept)],
        "est_distinct": [round(est, 4)],
    })


def streaming_kmv_distinct(
    stream: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 16,
) -> DataFrame:
    """Cross-batch KMV distinct-count per group: after every micro-batch,
    emit ``(grp, n_kept, est_distinct)`` reflecting all rows seen so far.

    State per group is the k smallest md5-derived hashes — constant size,
    and because KMV's merge is "union, keep k smallest", the streaming
    estimate after N batches is IDENTICAL to the batch
    :func:`lapis_silo_spark.functions.sketches.kmv_distinct` over their
    union (pinned by test). Pair with ``outputMode("update")``.
    """
    from functools import partial

    from lapis_silo_spark.functions.sketches import kmv_hash

    hashed = stream.select(
        F.col(group_col).cast("string").alias("grp"),
        kmv_hash(value_col).alias("h"),
    )
    return hashed.groupBy("grp").applyInPandasWithState(
        partial(_kmv_group, k=k),
        outputStructType=_KMV_OUTPUT,
        stateStructType=_KMV_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
