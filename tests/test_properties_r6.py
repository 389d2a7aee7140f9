"""Property-based tests for the round-6 operators: character-level
substring-span dedup and fused embedding near-dup clustering — checked on
hypothesis-generated inputs against independent pure-Python replays.

Example counts are deliberately small: every example pays a Spark job.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Tiny alphabet + short docs + small k → dense gram collisions, overlap
# merges, sub-k docs and empty docs all show up organically.
K = 4
text_strategy = st.text(alphabet="ab", min_size=0, max_size=16)
corpus_strategy = st.lists(text_strategy, min_size=2, max_size=6)


def _replay_char_spans(texts: list[str], k: int):
    """Independent pure-Python replay of the char-span semantics: position
    p of doc i is duplicated iff covered by a char-k-gram occurrence
    (i, pos) that is NOT its gram text's corpus-wide canonical
    (lexicographically-min (id, pos)) occurrence. Spans are the contiguous
    runs of covered positions; clean text drops exactly those positions.
    Ids are 1-based to match the DataFrame; positions 0-based here."""
    canonical: dict[str, tuple[int, int]] = {}
    occurrences = []
    for i, t in enumerate(texts, start=1):
        for pos in range(len(t) - k + 1):
            g = t[pos:pos + k]
            occurrences.append((i, pos, g))
            if g not in canonical or (i, pos) < canonical[g]:
                canonical[g] = (i, pos)
    covered: dict[int, set[int]] = {i: set() for i in range(1, len(texts) + 1)}
    for i, pos, g in occurrences:
        if canonical[g] != (i, pos):
            covered[i].update(range(pos, pos + k))
    out = {}
    for i, t in enumerate(texts, start=1):
        cov = covered[i]
        n_spans = sum(1 for p in cov if p - 1 not in cov)
        clean = "".join(c for p, c in enumerate(t) if p not in cov)
        out[i] = (len(cov), n_spans, clean)
    return out


@given(texts=corpus_strategy)
@SETTINGS
def test_char_spans_match_pure_python_replay(spark, texts):
    """duplicate_char_spans / remove_duplicate_char_spans agree exactly
    with the brute-force replay on adversarial corpora (dense collisions,
    overlapping/adjacent merges, empty and sub-k docs), through BOTH
    canonical-pick branches: the packed decimal key (long ids) and the
    struct min (string ids; single-digit ids keep the replay's order)."""
    from lapis_silo_spark.functions.dedup import (
        duplicate_char_spans,
        remove_duplicate_char_spans,
    )

    expect = _replay_char_spans(texts, K)

    for id_type in ("long", "string"):
        rows = [
            (i if id_type == "long" else str(i), t)
            for i, t in enumerate(texts, start=1)
        ]
        df = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
        stats = {
            int(r["id"]): r
            for r in duplicate_char_spans(df, "doc_id", "text", k=K).collect()
        }
        clean = {
            int(r["id"]): r
            for r in remove_duplicate_char_spans(
                df, "doc_id", "text", k=K
            ).collect()
        }
        assert set(stats) == set(expect) and set(clean) == set(expect)
        for i, (dup_chars, n_spans, clean_text) in expect.items():
            assert stats[i]["dup_chars"] == dup_chars, (id_type, i, texts)
            assert stats[i]["n_spans"] == n_spans, (id_type, i, texts)
            assert stats[i]["n_chars"] == len(texts[i - 1])
            assert clean[i]["clean_text"] == clean_text, (id_type, i, texts)
            assert clean[i]["clean_chars"] == len(clean_text)


vec_strategy = st.lists(
    st.lists(
        st.sampled_from([0.0, 1.0, -1.0, 0.5]), min_size=3, max_size=3
    ),
    min_size=2,
    max_size=8,
)


@given(vectors=vec_strategy)
@SETTINGS
def test_embedding_dedup_clusters_invariants(spark, vectors):
    """Structural invariants on arbitrary small vector sets: one output
    row per input row; exactly one canonical per cluster; cluster_id is
    the cluster's minimum id; identical vectors always share a cluster
    (the short-circuit stage, independent of the pair method); cluster
    sizes sum to the corpus size; clusters match the transitive closure
    of the exact pairwise >= threshold cosine relation on non-zero
    vectors."""
    from lapis_silo_spark.functions.dedup import embedding_dedup_clusters

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vectors, 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_dedup_clusters(
        df, "vec_id", "embedding", threshold=0.95, method="blocked"
    ).collect()

    assert len(out) == len(rows)
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        ids = [m["id"] for m in members]
        assert cid == min(ids)
        assert sum(m["is_canonical"] for m in members) == 1
        assert all(m["cluster_size"] == len(members) for m in members)
    assert sum(len(m) for m in by_cluster.values()) == len(rows)

    # independent replay: union-find over exact cosine >= threshold pairs
    import math

    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for i, vi in rows:
        for j, vj in rows:
            if i >= j:
                continue
            ni = math.sqrt(sum(x * x for x in vi))
            nj = math.sqrt(sum(x * x for x in vj))
            if ni == 0 or nj == 0:
                if vi == vj and ni == 0:
                    continue  # zero-norm: never merged by cosine
                continue
            cos = sum(x * y for x, y in zip(vi, vj)) / (ni * nj)
            if cos >= 0.95 - 1e-9:
                union(i, j)
    expected_cluster = {i: find(i) for i, _ in rows}
    got_cluster = {r["id"]: r["cluster_id"] for r in out}
    # identical non-zero vectors share a component in both; zero-norm
    # vectors are singletons in the replay AND in the operator unless
    # identical-zero (operator keeps them as their own representatives)
    assert got_cluster == expected_cluster, (vectors, got_cluster)
