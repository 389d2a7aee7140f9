"""Training-data pipeline operators: dedup, similarity, text, multimodal."""

from __future__ import annotations

import pytest
from dedup_reference import exact_cosine_pairs, minhash_signatures_expr
from pyspark.sql import functions as F

from lapis_silo_spark.functions import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog"),
            (2, "the  QUICK brown fox jumps over the lazy dog"),  # ws/case dup of 1
            (3, "The quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (4, "der hund und die katze sind nicht auf der couch"),
            (5, "completely unrelated zebra xylophone quartz"),
        ],
        schema="doc_id long, text string",
    )


def test_exact_dedup(docs):
    groups = dedup.exact_dedup_groups(docs, "doc_id", "text")
    canon = {r["id"]: r["canonical_id"] for r in groups.collect()}
    assert canon[1] == 1 and canon[2] == 1  # normalized-equal → same group
    assert canon[3] == 3 and canon[4] == 4 and canon[5] == 5
    kept = dedup.exact_dedup(docs, "doc_id", "text")
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 4, 5]


def test_ngram_jaccard_pairs(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0  # normalization makes them identical
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0
    assert not any(5 in p for p in got)


def test_minhash_lsh_finds_dups(docs):
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, n_perms=16, n_bands=4
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical signatures always collide


@pytest.mark.parametrize("hash_fn", [dedup.hash32, dedup.hash32_fast])
def test_minhash_lsh_recall_vs_exact(spark, hash_fn):
    """Value-anchor the probabilistic LSH path against exact Jaccard on the
    real testdata: every LSH pair must be a genuine near-duplicate (exact
    J well above the estimation noise floor), and near-identical pairs
    (exact J >= 0.9) must be recalled — at (r=8, b=8) the collision
    probability at J=0.9 is 1-(1-0.9^8)^8 ≈ 0.99, and identical shingle
    sets collide deterministically. Holds for BOTH hash families (recall
    depends only on hash uniformity)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, k=5
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8,
            n_perms=64, n_bands=8, k=5, hash_fn=hash_fn,
        ).collect()
    }
    # precision: estimated-J >= 0.8 implies exact J >= 0.6 (4 sigma margin
    # at 64 permutations) — no false near-duplicates
    for pair in lsh:
        assert pair in exact and exact[pair] >= 0.6, pair
    # recall on near-identical ground truth
    truth = {p for p, j in exact.items() if j >= 0.9}
    assert truth, "testdata should contain near-identical pairs"
    found = len(truth & lsh) / len(truth)
    assert found >= 0.8, f"LSH recall {found:.2f} over {len(truth)} pairs"


def test_bm25_topk(spark):
    from lapis_silo_spark.functions import ranking

    df = spark.createDataFrame(
        [
            (1, "spark joins data with hash joins"),
            (2, "hash tables everywhere hash hash"),
            (3, "completely unrelated words here"),
            (4, "spark spark spark"),
        ],
        schema="doc_id long, text string",
    )
    out = ranking.bm25_topk(df, "doc_id", "text", ["hash", "spark"], k=3)
    rows = out.collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == 3 and 3 not in ids  # no-term doc never ranks
    # doc1 matches BOTH terms (1.76·idf) and beats the saturated
    # single-term docs: doc4 (3×spark, short: 1.69·idf) then doc2
    # (3×hash, longer: 1.54·idf) — k1 saturation + length norm at work
    assert ids == [1, 4, 2]
    assert all(r["bm25"] > 0 for r in rows)
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_gram_novelty(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),        # all grams first here
            (2, "alpha beta gamma delta"),        # exact repeat -> novelty 0
            (3, "alpha beta gamma epsilon zeta"), # mixes old and new grams
            (4, "xy"),                            # < 3 tokens -> no grams
        ],
        schema="doc_id long, text string",
    )
    out = {
        r["id"]: (r["n_grams"], r["novel_grams"], r["novelty"])
        for r in text.gram_novelty(df, "doc_id", "text", n=3).collect()
    }
    assert out[1] == (2, 2, 1.0)
    assert out[2] == (2, 0, 0.0)
    # doc3 grams: "alpha beta gamma" (seen in 1), "beta gamma epsilon",
    # "gamma epsilon zeta" -> 2 of 3 novel
    assert out[3] == (3, 2, pytest.approx(round(2 / 3, 6)))
    assert out[4] == (0, 0, 0.0)


def test_pack_sequences(spark):
    from lapis_silo_spark.functions import packing

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         [(1, 60), (2, 50), (3, 30), (4, 80), (5, 10)]],
        schema="doc_id long, text string",
    )
    out = {
        r["id"]: (r["shard"], r["bin"], r["bin_offset"], r["n_tokens"])
        for r in packing.pack_sequences(
            df, "doc_id", "text", budget=100, shards=1,
            shard_col=__import__("pyspark.sql.functions", fromlist=["lit"]).lit(0),
        ).collect()
    }
    # one stream in id order: 60, 50, 30, 80, 10 tokens; budget 100
    assert out[1] == (0, 0, 0, 60)     # starts bin 0, offset 0
    assert out[2] == (0, 0, 60, 50)    # starts bin 0 @60, spans into bin 1
    assert out[3] == (0, 1, 10, 30)    # tokens_before=110 -> bin 1 @10
    assert out[4] == (0, 1, 40, 80)    # 140 -> bin 1 @40, spans into bin 2
    assert out[5] == (0, 2, 20, 10)    # 220 -> bin 2 @20
    # sharded run still covers every doc exactly once
    packed = packing.pack_sequences(df, "doc_id", "text", budget=100,
                                    shards=3)
    assert sorted(r["id"] for r in packed.collect()) == [1, 2, 3, 4, 5]


def test_simhash_identical_and_distant(docs):
    sigs = {
        r["id"]: r["sig"]
        for r in dedup.simhash_signatures(docs, "doc_id", "text").collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] >= 0  # bit 63 clear
    # hamming(1,3) small, hamming(1,5) large
    ham13 = bin(sigs[1] ^ sigs[3]).count("1")
    ham15 = bin(sigs[1] ^ sigs[5]).count("1")
    assert ham13 < ham15
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=0)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2)}


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [-1.0, 0.0, 0.0]),
        ],
        schema="vec_id long, embedding array<double>",
    )


def test_embedding_near_dup(vectors):
    pairs = exact_cosine_pairs(
        vectors, "vec_id", "embedding", threshold=0.95
    )
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2)}


def test_embedding_near_dup_blocked_matches_exact(spark):
    # deterministic pseudo-random corpus large enough that 4 hash-blocks all
    # get members and every task shape (diagonal, cross-block, both pair
    # orientations) is exercised; blocked must equal the collect+broadcast
    # exact baseline bit-for-bit (same rounding convention).
    import numpy as np

    rng = np.random.default_rng(7)
    mat = rng.normal(size=(60, 8))
    # plant near-duplicate structure so the threshold keeps real pairs
    mat[10] = mat[3] + 0.01 * rng.normal(size=8)
    mat[41] = mat[20] + 0.01 * rng.normal(size=8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(60)],
        schema="vec_id long, embedding array<double>",
    )
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in exact_cosine_pairs(
            df, "vec_id", "embedding", threshold=0.6
        ).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_near_dup_pairs_blocked(
            df, "vec_id", "embedding", threshold=0.6, n_blocks=4
        ).collect()
    }
    assert exact  # planted pairs guarantee a non-empty comparison
    assert blocked == exact
    # single-block degenerate case also matches
    one = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_near_dup_pairs_blocked(
            df, "vec_id", "embedding", threshold=0.6, n_blocks=1
        ).collect()
    }
    assert one == exact


def test_embedding_near_dup_blocked_small(vectors):
    pairs = dedup.embedding_near_dup_pairs_blocked(
        vectors, "vec_id", "embedding", threshold=0.95, n_blocks=3
    )
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2)}


def test_blocked_pairs_quadratic_guard(vectors):
    """The exact-pair O(n²) contract is machine-enforced: above max_rows
    the blocked form refuses unless allow_quadratic=True (round-9 VERDICT
    #5, mirroring max_band_freq)."""
    import pytest

    with pytest.raises(ValueError, match="allow_quadratic"):
        dedup.embedding_near_dup_pairs_blocked(
            vectors, "vec_id", "embedding", threshold=0.95, max_rows=2
        )
    # the explicit override restores the verification path unchanged
    pairs = dedup.embedding_near_dup_pairs_blocked(
        vectors, "vec_id", "embedding", threshold=0.95, max_rows=2,
        allow_quadratic=True, n_blocks=3,
    )
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 2)}


def test_embedding_dedup_clusters_matches_pairwise(spark):
    """The fused O(docs) form must reproduce dedup_cluster_assignment over
    the exact pair set — for BOTH pair methods on a corpus with planted
    identical vectors (short-circuit path), near-dups, isolates, and a
    zero-norm pair (must stay singletons: cosine with them is NaN)."""
    import numpy as np

    rng = np.random.default_rng(11)
    mat = rng.normal(size=(40, 8))
    mat[7] = mat[3]                                  # identical twin
    mat[21] = mat[3]                                 # identical triplet
    mat[12] = mat[5] + 0.01 * rng.normal(size=8)     # near-dup
    mat[30] = 0.0                                    # zero-norm
    mat[31] = 0.0                                    # second zero-norm
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(40)],
        schema="vec_id long, embedding array<double>",
    )
    pairs = exact_cosine_pairs(
        df, "vec_id", "embedding", threshold=0.9
    )
    want = sorted(
        map(tuple, dedup.dedup_cluster_assignment(df, pairs, "vec_id").collect())
    )
    for method in ("blocked", "lsh"):
        got = sorted(map(tuple, dedup.embedding_dedup_clusters(
            df, "vec_id", "embedding", threshold=0.9, method=method,
            n_blocks=3, n_planes=4, n_tables=8, dim=8,
        ).collect()))
        assert got == want, method
    # zero-norm rows are singletons, identical triplet is one cluster
    by_id = {r[0]: r for r in want}
    assert by_id[30][2] == 1 and by_id[31][2] == 1
    assert by_id[7][1] == 3 and by_id[21][1] == 3


def test_char_span_dedup_hand_computed(spark):
    """Character-level spans: a 60-char run shared between two docs marks
    exactly that run as duplicated in the later doc (the earlier occurrence
    is canonical and untouched); identical docs clean to empty; spans that
    word tokenization would miss (no spaces) are caught."""
    import random

    rng = random.Random(13)
    shared = "".join(chr(ord("a") + (i * 7) % 26) for i in range(60))
    # identical-doc pair body: internally repetition-free (every 50-gram
    # distinct), else within-doc repeats would themselves count as dups
    ident = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(100))
    assert len({ident[i:i + 50] for i in range(51)}) == 51
    rows = [
        (1, "HEAD-" + shared + "-TAIL"),          # canonical occurrence
        (2, "xx" + shared + "yy"),                 # dup span = shared only
        (3, ident),                                # canonical identical doc
        (4, ident),                                # fully duplicated
        (5, "completely unrelated short text"),    # < k chars, untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {r["id"]: r for r in dedup.duplicate_char_spans(
        docs, "doc_id", "text", k=50).collect()}
    assert stats[1]["dup_chars"] == 0
    assert stats[2]["dup_chars"] == 60 and stats[2]["n_spans"] == 1
    assert stats[3]["dup_chars"] == 0
    assert stats[4]["dup_chars"] == 100
    assert stats[5]["dup_chars"] == 0
    assert stats[2]["dup_fraction"] == round(60 / len(rows[1][1]), 6)

    clean = {r["id"]: r for r in dedup.remove_duplicate_char_spans(
        docs, "doc_id", "text", k=50).collect()}
    assert clean[1]["clean_text"] == rows[0][1]
    assert clean[2]["clean_text"] == "xxyy"
    assert clean[3]["clean_text"] == ident
    assert clean[4]["clean_text"] == "" and clean[4]["clean_chars"] == 0
    assert clean[5]["clean_text"] == rows[4][1]


def test_cluster_assignment_string_ids_transitive(spark):
    """String ids: the numeric label-sum convergence signal is no signal
    (F.sum over strings), so the loop must use the exact changed-row probe.
    The a~b, b~c chain needs a SECOND propagation round to pull c down to
    'a' — a premature 'converged' verdict leaves c labeled 'b'."""
    universe = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "id string"
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string"
    )
    out = {
        r["id"]: r
        for r in dedup.dedup_cluster_assignment(universe, pairs, "id").collect()
    }
    assert out["a"]["cluster_id"] == "a"
    assert out["b"]["cluster_id"] == "a"
    assert out["c"]["cluster_id"] == "a"  # round 2 — the regression case
    assert out["d"]["cluster_id"] == "d" and out["d"]["cluster_size"] == 1
    assert out["a"]["is_canonical"] and not out["c"]["is_canonical"]


def test_embedding_dedup_clusters_null_and_zero_vectors(spark):
    """Null vectors, vectors with a null element, and zero-norm vectors all
    pass through as singleton clusters — one output row per input row, and
    none of them reaches the numpy pair stage."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0]),     # exact twin of 1 → same cluster
        (3, None),           # null vector
        (4, [0.0, 0.0]),     # zero norm
        (5, [1.0, None]),    # null element → null square sum
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["id"]: r
        for r in dedup.embedding_dedup_clusters(
            df, "vec_id", "embedding", threshold=0.9, method="blocked"
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1]["cluster_id"] == 1 and out[2]["cluster_id"] == 1
    assert out[1]["cluster_size"] == 2
    for i in (3, 4, 5):
        assert out[i]["cluster_id"] == i
        assert out[i]["cluster_size"] == 1 and out[i]["is_canonical"]


def _edge_frame(spark, case):
    """Three tight direction clusters (five near-duplicates each along
    orthogonal axes, so every true pair clears 0.9 by a wide margin and
    every cross-cluster pair is near 0) plus the edge rows of ``case``."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    for c in range(3):
        axis = np.eye(4)[c]
        for i in range(5):
            v = axis + 1e-3 * rng.normal(size=4)
            rows.append((c * 10 + i, [float(x) for x in v]))
    near0 = [float(x) for x in np.eye(4)[0] + 1e-3]
    rows += {
        "null_ids": [(None, near0), (None, [0.0, 0.0, 0.0, 1.0])],
        "null_vectors": [(100, None), (101, [1.0, None, 0.0, 0.0])],
        "nan_elements": [(100, [float("nan"), 1.0, 0.0, 0.0]),
                         (101, [1.0, float("nan"), 0.0, 0.0])],
        "zero_norm": [(100, [0.0] * 4), (101, [0.0] * 4)],
        "empty": [],
        "string_ids": [],
    }[case]
    id_type = "long"
    if case == "empty":
        rows = []
    elif case == "string_ids":
        id_type = "string"
        rows = [(f"d{i:03d}", v) for i, v in rows]
    return spark.createDataFrame(
        rows, schema=f"vec_id {id_type}, embedding array<double>"
    )


@pytest.mark.parametrize(
    "case",
    ["null_ids", "null_vectors", "nan_elements", "zero_norm", "empty",
     "string_ids"],
)
def test_embedding_pair_forms_agree_on_edge_inputs(spark, case):
    """One degenerate-input policy for every embedding pair and cluster
    form: null ids, null vectors and vectors whose norm is zero or NaN
    never pair, an empty frame gives no rows, and string ids come back
    exact. Every form must equal the driver all-pairs reference."""
    df = _edge_frame(spark, case)
    t = 0.9

    def pairs(frame):
        return {(r["id_a"], r["id_b"]): r["cos"] for r in frame.collect()}

    want = pairs(exact_cosine_pairs(df, "vec_id", "embedding", t))
    if case != "empty":
        assert len(want) == 3 * 10  # C(5, 2) per cluster
    for nb in (1, 3):
        got = pairs(dedup.embedding_near_dup_pairs_blocked(
            df, "vec_id", "embedding", t, n_blocks=nb
        ))
        assert got == want, ("blocked", nb)
    got = pairs(similarity.lsh_candidate_pairs(
        df, "vec_id", "embedding", t, n_planes=2, n_tables=8, dim=4,
        block_rows=3,
    ))
    assert got == want, "lsh"

    want_clusters = sorted(map(tuple, dedup.dedup_cluster_assignment(
        df.filter(F.col("vec_id").isNotNull()),
        exact_cosine_pairs(df, "vec_id", "embedding", t),
        "vec_id",
    ).collect()))
    for method in ("blocked", "lsh"):
        got = sorted(map(tuple, dedup.embedding_dedup_clusters(
            df, "vec_id", "embedding", t, method=method, n_blocks=3,
            n_planes=2, n_tables=8, dim=4,
        ).collect()))
        assert got == want_clusters, method


_NEAR_DUP_DOCS = {
    1: "the quick brown fox jumps over the lazy dog near the quiet river bank",
    2: "The  QUICK brown fox jumps over the lazy dog near the quiet river bank",
    5: "the quick brown fox jumps over the lazy dog near the quiet river banks",
    6: "completely unrelated zebra xylophone quartz melody",
    7: "der hund und die katze sind nicht auf der couch heute",
}
_NEAR_DUP_EXTRA = {
    "null_ids": [(None, _NEAR_DUP_DOCS[1])],
    "null_text": [(3, None), (4, None)],
    "empty_text": [(3, ""), (4, "")],
    "empty": [],
    "string_ids": [],
}


@pytest.mark.parametrize("case", list(_NEAR_DUP_EXTRA))
def test_text_near_dup_forms_agree_on_edge_inputs(spark, case):
    """One edge-input behaviour for the MinHash emitters under both hash
    families, and for SimHash pairs: a NULL text has no signature, so it
    never pairs, is its own canonical cluster and is ``kept`` even against
    a NULL-text base document; a null-id row (a twin of doc 1 here) leaves
    every other row as if it were absent and is not output; two empty
    texts are exact duplicates; an empty frame gives no rows; string ids
    give the same answers as long ids."""
    docs = sorted(_NEAR_DUP_DOCS.items())
    rows = [] if case == "empty" else docs + _NEAR_DUP_EXTRA[case]
    strings = case == "string_ids"

    def name(i):
        return f"d{i:02d}" if strings and i is not None else i

    schema = f"doc_id {'string' if strings else 'long'}, text string"
    df = spark.createDataFrame([(name(i), t) for i, t in rows], schema)
    base = spark.createDataFrame(
        [(name(90), _NEAR_DUP_DOCS[6]), (name(91), None)], schema
    )

    pairs = {(1, 2), (1, 5), (2, 5)}
    cluster_of = {1: 1, 2: 1, 5: 1, 6: 6, 7: 7}
    status = {1: "kept", 2: "dup_in_batch", 5: "dup_in_batch",
              6: "dup_of_base", 7: "kept"}
    if case == "null_text":
        cluster_of.update({3: 3, 4: 4})
        status.update({3: "kept", 4: "kept"})
    elif case == "empty_text":
        pairs.add((3, 4))
        cluster_of.update({3: 3, 4: 3})
        status.update({3: "kept", 4: "dup_in_batch"})
    elif case == "empty":
        pairs, cluster_of, status = set(), {}, {}
    want_pairs = {(name(a), name(b)) for a, b in pairs}
    members = list(cluster_of.values())
    sizes = {c: members.count(c) for c in members}
    want_clusters = sorted(
        ((name(i), name(c), sizes[c], i == c) for i, c in cluster_of.items()),
        key=repr,
    )
    want_status = sorted(((name(i), s) for i, s in status.items()), key=repr)

    wrong = []  # every disagreeing (emitter, family), not just the first

    def check(emitter, got, want):
        if got != want:
            wrong.append((emitter, got))

    for fam in (dedup.hash32, dedup.hash32_fast):
        check(f"minhash_lsh_pairs/{fam.__name__}", {
            (r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(
                df, "doc_id", "text", hash_fn=fam).collect()
        }, want_pairs)
        check(f"minhash_dedup_clusters/{fam.__name__}", sorted(
            map(tuple, dedup.minhash_dedup_clusters(
                df, "doc_id", "text", hash_fn=fam).collect()), key=repr,
        ), want_clusters)
        state = dedup.minhash_band_state(base, "doc_id", "text", hash_fn=fam)
        check(f"incremental_minhash_dedup/{fam.__name__}", sorted(
            map(tuple, dedup.incremental_minhash_dedup(
                df, state, "doc_id", "text", hash_fn=fam).collect()), key=repr,
        ), want_status)
    # SimHash keeps only the exact twins (1, 2) and the two empty texts
    check("simhash_pairs", {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_pairs(df, "doc_id", "text").collect()
    }, {p for p in want_pairs if p[1] != name(5)})
    assert not wrong, "\n".join(f"{e}: {got}" for e, got in wrong)


@pytest.mark.parametrize("case", list(_NEAR_DUP_EXTRA))
def test_exact_dedup_family_edge_inputs(spark, case):
    """One edge-input behaviour for the exact family: a NULL text is its own
    canonical singleton — kept, never ``dup_in_batch`` nor ``dup_of_base``,
    even against a NULL-text base document; a null-id row is dropped as if
    it were absent; two empty texts are exact duplicates; an empty frame
    gives no rows; string ids give the same answers as long ids."""
    docs = sorted(_NEAR_DUP_DOCS.items())
    rows = [] if case == "empty" else docs + _NEAR_DUP_EXTRA[case]
    strings = case == "string_ids"

    def name(i):
        return f"d{i:02d}" if strings and i is not None else i

    schema = f"doc_id {'string' if strings else 'long'}, text string"
    df = spark.createDataFrame([(name(i), t) for i, t in rows], schema)
    base = dedup.exact_dedup_groups(spark.createDataFrame(
        [(name(90), _NEAR_DUP_DOCS[6]), (name(91), None)], schema
    ), "doc_id", "text").select("digest")

    canonical = {1: 1, 2: 1, 5: 5, 6: 6, 7: 7}
    status = {1: "kept", 2: "dup_in_batch", 5: "kept", 6: "dup_of_base",
              7: "kept"}
    if case == "null_text":
        canonical.update({3: 3, 4: 4})
        status.update({3: "kept", 4: "kept"})
    elif case == "empty_text":
        canonical.update({3: 3, 4: 3})
        status.update({3: "kept", 4: "dup_in_batch"})
    elif case == "empty":
        canonical, status = {}, {}

    def named(d):
        return sorted(((name(i), name(v) if isinstance(v, int) else v)
                       for i, v in d.items()), key=repr)

    assert sorted(
        ((r["id"], r["canonical_id"]) for r in
         dedup.exact_dedup_groups(df, "doc_id", "text").collect()), key=repr,
    ) == named(canonical)
    assert sorted(
        (r["doc_id"] for r in dedup.exact_dedup(df, "doc_id", "text")
         .collect()), key=repr,
    ) == sorted((name(i) for i, c in canonical.items() if i == c), key=repr)
    assert sorted(
        ((r["id"], r["status"]) for r in dedup.incremental_exact_dedup(
            df, base, "doc_id", "text").collect()), key=repr,
    ) == named(status)


def test_remove_duplicate_char_spans_null_text(spark):
    """Null text normalizes to ('' / 0), matching the word twin's contract."""
    docs = spark.createDataFrame(
        [(1, None), (2, "some perfectly ordinary text")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in dedup.remove_duplicate_char_spans(
        docs, "doc_id", "text", k=50).collect()}
    assert out[1]["clean_text"] == "" and out[1]["clean_chars"] == 0
    assert out[2]["clean_text"] == "some perfectly ordinary text"


def test_dedup_cluster_assignment_transitive(spark):
    # chain 1~2, 2~3 plus the isolated 4: closure must merge {1,2,3}
    # even though (1,3) was never emitted as a pair.
    universe = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4)], schema="doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], schema="id_a long, id_b long"
    )
    out = {
        r["id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in dedup.dedup_cluster_assignment(
            universe, pairs, "doc_id"
        ).collect()
    }
    assert out == {
        1: (1, 3, True),
        2: (1, 3, False),
        3: (1, 3, False),
        4: (4, 1, True),
    }


def test_cluster_assignment_driver_fast_path_matches_propagation(
    spark, monkeypatch
):
    """The small-edge-set driver union-find and the distributed min-label
    propagation loop (forced with CC_DRIVER_EDGE_LIMIT = 0) must both give
    the expected clusters, for numeric AND string ids and on edge inputs:
    pairs naming ids outside the universe (dropped, so the output stays one
    row per universe id with one canonical row per cluster), self-loops,
    duplicate reversed edges, null endpoints and no pairs at all."""
    L, S = "id_a long, id_b long", "id_a string, id_b string"
    cases = {
        # two chains, one triangle, isolated nodes 8..10
        "long": (
            range(1, 11), "long",
            [(1, 2), (2, 3), (5, 4), (6, 7), (7, 5), (4, 6)], L,
            {1: (1, 3), 2: (1, 3), 3: (1, 3), 4: (4, 4), 5: (4, 4),
             6: (4, 4), 7: (4, 4), 8: (8, 1), 9: (9, 1), 10: (10, 1)},
        ),
        "string": (
            [f"d{i:02d}" for i in range(1, 8)], "string",
            [("d03", "d01"), ("d03", "d05"), ("d06", "d07")], S,
            {"d01": ("d01", 3), "d02": ("d02", 1), "d03": ("d01", 3),
             "d04": ("d04", 1), "d05": ("d01", 3), "d06": ("d06", 2),
             "d07": ("d06", 2)},
        ),
        # 0 is not in the universe: it must not bridge 2 and 3
        "outside_bridge": (
            range(1, 5), "long", [(2, 0), (0, 3)], L,
            {i: (i, 1) for i in range(1, 5)},
        ),
        # 9 is not in the universe: no extra row, no size for 1
        "outside_leaf": (
            [1, 2], "long", [(1, 9)], L, {1: (1, 1), 2: (2, 1)},
        ),
        "self_loop_reversed_dup": (
            [1, 2, 3], "long", [(2, 2), (1, 2), (2, 1), (3, 3)], L,
            {1: (1, 2), 2: (1, 2), 3: (3, 1)},
        ),
        "null_endpoint": (
            [1, 2, 3], "long", [(1, None), (None, 2), (2, 3)], L,
            {1: (1, 1), 2: (2, 2), 3: (2, 2)},
        ),
        "empty_pairs": ([1, 2], "long", [], L, {1: (1, 1), 2: (2, 1)}),
    }
    for name, (ids, id_type, pair_rows, pair_schema, want) in cases.items():
        universe = spark.createDataFrame(
            [(i,) for i in ids], f"doc_id {id_type}"
        )
        pairs = spark.createDataFrame(pair_rows, pair_schema)
        expected = sorted(
            (i, c, n, i == c) for i, (c, n) in want.items()
        )
        for limit in (dedup.CC_DRIVER_EDGE_LIMIT, 0):
            monkeypatch.setattr(dedup, "CC_DRIVER_EDGE_LIMIT", limit)
            got = sorted(
                map(
                    tuple,
                    dedup.dedup_cluster_assignment(universe, pairs, "doc_id")
                    .collect(),
                )
            )
            assert got == expected, (name, limit)
        monkeypatch.undo()


def test_driver_union_find_min_label_semantics():
    # transitive closure with union order that stresses path compression;
    # every component labels with its minimum member
    labels = dedup._driver_union_find(
        [9, 7, 5, 3, 2, 10], [7, 5, 3, 1, 4, 2]
    )
    assert labels == {
        9: 1, 7: 1, 5: 1, 3: 1, 1: 1,
        2: 2, 4: 2, 10: 2,
    }
    # null endpoints contribute nothing (equi-join semantics)
    assert dedup._driver_union_find([None, 1], [5, None]) == {}


def test_spread_partition_count_scales_with_input_bytes(spark, tmp_path):
    # _spread derives its repartition width from the input's FILE bytes
    # (round 11): a tiny file-backed scan must not fan out to
    # defaultParallelism-many Python tasks (fixed per-task Arrow/worker
    # overhead dwarfs the work), while the defaultParallelism cap keeps
    # cluster-sized inputs as wide as before.
    p = str(tmp_path / "tiny.parquet")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(100)], "id long, t string"
    ).coalesce(1).write.parquet(p)
    tiny = spark.read.parquet(p)
    n = spark.sparkContext.defaultParallelism
    spread = dedup._spread(tiny, F.col("id"), F.col("t"))
    parts = spread.rdd.getNumPartitions()
    assert 2 <= parts < max(3, n), parts
    # rows pass through unchanged under any width
    assert spread.count() == 100
    # a byte-heavy input saturates the cap: fake it by shrinking the
    # per-partition byte target
    from lapis_silo_spark import session as sess

    orig = sess.REBALANCE_TARGET_BYTES
    try:
        sess.REBALANCE_TARGET_BYTES = 1
        wide = dedup._spread(tiny, F.col("id"), F.col("t"))
        assert wide.rdd.getNumPartitions() == n
    finally:
        sess.REBALANCE_TARGET_BYTES = orig


def test_brute_force_topk(vectors):
    out = similarity.brute_force_topk(
        vectors,
        vectors.filter(F.col("vec_id") == 1),
        "vec_id", "embedding", "vec_id", "embedding", k=2,
    ).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["id"] for r in ranked] == [2, 3]
    assert ranked[0]["cos"] > 0.99


def test_lsh_topk_subset_of_exact(vectors):
    out = similarity.lsh_bucket_topk(
        vectors,
        vectors.filter(F.col("vec_id") == 1),
        "vec_id", "embedding", "vec_id", "embedding",
        k=2, n_planes=2, dim=3, n_tables=3,
    ).collect()
    # approximate: results must be genuine neighbors ranked by true cosine
    assert all(r["query_id"] == 1 and r["id"] != 1 for r in out)
    ranks = [r["rank"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranks == list(range(1, len(out) + 1))


def test_ivf_topk_probed_cells(vectors):
    # centroids = ids 1 and 3 (x-axis and y-axis); cells: {1,2}->1 and
    # {3,4}->3 (v4=(-1,0,0) scores 0 vs c3 but -1 vs c1). Probing only the
    # nearest cell of query 1 must return 2 and never the unprobed 3/4.
    out = similarity.ivf_topk(
        vectors,
        vectors.filter(F.col("vec_id") == 1),
        "vec_id", "embedding", "vec_id", "embedding",
        centroid_pred=F.col("vec_id").isin(1, 3),
        k=3, n_probe=1,
    ).collect()
    ids = [r["id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ids == [2]
    # with both cells probed it converges to the exact ranking
    out2 = similarity.ivf_topk(
        vectors,
        vectors.filter(F.col("vec_id") == 1),
        "vec_id", "embedding", "vec_id", "embedding",
        centroid_pred=F.col("vec_id").isin(1, 3),
        k=3, n_probe=2,
    ).collect()
    assert [r["id"] for r in sorted(out2, key=lambda r: r["rank"])] == [2, 3, 4]


def test_text_functions(spark):
    df = spark.createDataFrame(
        [
            (1, "The cat and the dog, in a house."),
            (2, "der hund und die katze mit auf und der"),
            (3, "zzz qqq"),
        ],
        schema="id long, text string",
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            text.token_count("text").alias("tok"),
            text.bpe_ish_token_count("text").alias("bpe"),
            text.lang_id("text").alias("lang"),
            text.quality_score("text").alias("q"),
            text.doc_fingerprint("text").alias("fp"),
            text.winnow_fingerprint("text").alias("wfp"),
        ).collect()
    }
    assert rows[1]["tok"] == 8
    assert rows[1]["bpe"] == 10  # 8 words + comma + period
    assert rows[1]["lang"] == "en"
    assert rows[2]["lang"] == "de"
    assert rows[3]["lang"] == "und"
    assert all(0.0 <= rows[i]["q"] <= 1.0 for i in rows)
    assert rows[1]["fp"] != rows[2]["fp"]
    assert len(rows[1]["wfp"]) == 32


def test_multimodal_metadata_magic(spark):
    df = spark.createDataFrame(
        [
            (1, bytes([0x89, 0x50, 0x4E, 0x47, 1, 2, 3])),
            (2, bytes([0xFF, 0xD8, 0xFF, 0xE0, 9])),
            (3, b"plain text bytes"),
        ],
        schema="id long, payload binary",
    )
    rows = {r["id"]: r for r in multimodal.binary_metadata(df, "id", "payload").collect()}
    assert rows[1]["media_type"] == "image/png"
    assert rows[2]["media_type"] == "image/jpeg"
    assert rows[3]["media_type"] == "application/octet-stream"
    assert rows[3]["n_bytes"] == 16


def test_decode_bmp_real_pixels():
    """Bottom-up AND top-down 24-bit BMPs, non-multiple-of-4 width (stride
    padding must be skipped, not averaged in)."""
    for top_down in (False, True):
        payload = multimodal.bmp_payload(5, 3, (10, 200, 30), top_down=top_down)
        kind, w, h, c, feat = multimodal.decode_payload(payload)
        assert (kind, w, h, c) == ("image/bmp", 5, 3, 3)
        assert feat == [10.0, 200.0, 30.0]


def test_decode_bmp_mixed_pixels():
    """Hand-built BMP with differing pixels: means are true averages."""
    import struct as st

    width, height = 2, 1
    stride = 8  # 2*3 rounded up to 4
    header = b"BM" + st.pack("<IHHI", 54 + stride, 0, 0, 54)
    dib = st.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, stride,
                  0, 0, 0, 0)
    # pixels: BGR order -> (R=255,G=0,B=0) and (R=0,G=0,B=255) + 2 pad bytes
    pixels = bytes([0, 0, 255]) + bytes([255, 0, 0]) + b"\xff\xff"
    kind, w, h, c, feat = multimodal.decode_payload(header + dib + pixels)
    assert (kind, w, h, c) == ("image/bmp", 2, 1, 3)
    assert feat == [127.5, 0.0, 127.5]


def test_decode_ppm_with_comment():
    payload = b"P6\n# a comment\n2 2\n255\n" + bytes(
        [0, 0, 0, 255, 255, 255, 100, 50, 0, 100, 50, 0]
    )
    kind, w, h, c, feat = multimodal.decode_payload(payload)
    assert (kind, w, h, c) == ("image/ppm", 2, 2, 3)
    assert feat == [113.75, 88.75, 63.75]


def test_decode_wav_pcm16_stereo():
    # interleaved L/R: left channel mean 100, right channel mean -50
    payload = multimodal.wav_payload(
        [100, -50, 100, -50, 100, -50], channels=2
    )
    kind, frames, h, c, feat = multimodal.decode_payload(payload)
    assert (kind, frames, h, c) == ("audio/wav", 3, 1, 2)
    assert feat == [100.0, -50.0]


def test_decode_unsupported_not_fabricated(spark):
    """Compressed/garbage payloads report kind='unsupported' with NULL
    dimensions — never invented values — and truncated BMPs don't crash."""
    truncated_bmp = multimodal.bmp_payload(4, 4, (1, 2, 3))[:40]
    df = spark.createDataFrame(
        [(1, b"\x89PNG\r\n\x1a\n----"), (2, b"aaa"), (3, truncated_bmp),
         (4, None)],
        schema="id long, payload binary",
    )
    rows = {r["id"]: r for r in
            multimodal.decode_images(df, "id", "payload").collect()}
    assert all(rows[i]["kind"] == "unsupported" for i in rows)
    assert all(rows[i]["width"] is None for i in rows)


def test_decode_images_mixed_formats(spark):
    df = spark.createDataFrame(
        [
            (1, multimodal.bmp_payload(6, 2, (9, 8, 7))),
            (2, multimodal.wav_payload([1000] * 4)),
            (3, b"not media"),
        ],
        schema="id long, payload binary",
    )
    rows = {r["id"]: r for r in
            multimodal.decode_images(df, "id", "payload").collect()}
    assert rows[1]["kind"] == "image/bmp" and rows[1]["width"] == 6
    assert rows[1]["feature"] == [9.0, 8.0, 7.0]
    assert rows[2]["kind"] == "audio/wav" and rows[2]["width"] == 4
    assert rows[2]["feature"] == [1000.0]
    assert rows[3]["kind"] == "unsupported"


def test_frame_sample_plan_real_demux(spark):
    """Round-4: the frame count comes from a REAL Y4M demux walk — one row
    per sampled frame with the actual per-frame mean luma; non-video bytes
    are dropped, not length-extrapolated."""
    vid = multimodal.y4m_payload(4, 2, [10, 20, 30, 40, 50, 60, 70])
    junk = bytes(65000)  # round-3 stub would have fabricated 3 frames here
    df = spark.createDataFrame(
        [(1, vid), (2, junk)], schema="id long, payload binary"
    )
    frames = sorted(
        multimodal.frame_sample_plan(df, "id", "payload", every_nth=3)
        .collect(),
        key=lambda r: r["frame_index"],
    )
    assert [r["id"] for r in frames] == [1, 1, 1]
    assert [r["frame_index"] for r in frames] == [0, 3, 6]
    assert [r["mean_y"] for r in frames] == [10.0, 40.0, 70.0]
    assert all(
        (r["n_frames"], r["width"], r["height"]) == (7, 4, 2) for r in frames
    )


def test_y4m_demux_chroma_variants_and_malformed():
    from lapis_silo_spark.functions.multimodal import _y4m_frames, y4m_payload

    for cs in ("C420", "C422", "C444", "Cmono"):
        w, h = (4, 2)
        p = y4m_payload(w, h, [7, 200], colorspace=cs)
        assert _y4m_frames(p) == (4, 2, [7.0, 200.0]), cs
    # default chroma (no C tag) is 420 per spec
    no_tag = b"YUV4MPEG2 W2 H2 F25:1\n" + b"FRAME\n" + bytes([9] * 6)
    assert _y4m_frames(no_tag) == (2, 2, [9.0])
    # malformed: truncated frame, bad marker, non-y4m
    p = y4m_payload(4, 2, [1, 2])
    assert _y4m_frames(p[:-1]) is None
    assert _y4m_frames(b"YUV4MPEG2 W4 H2 C444\nFRAMX\n" + bytes(24)) is None
    assert _y4m_frames(b"RIFF....") is None
    # unknown chroma tag refuses rather than guessing a frame size
    assert _y4m_frames(b"YUV4MPEG2 W4 H2 C411\nFRAME\n" + bytes(24)) is None


# -- training-data hygiene: decontam / sampling / word n-grams ----------------

def test_word_ngrams_short_doc_guard(spark):
    # fewer tokens than n must give [], not Spark's descending-sequence garbage
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",)], "text string"
    )
    out = [r[0] for r in df.select(text.word_ngrams("text", 3)).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == []
    assert out[2] == []


def test_contaminated_docs_hand_computed(spark):
    from lapis_silo_spark.functions import decontam

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares "the quick brown", "quick brown fox"
            (2, "totally unrelated sentence here"),
            (3, "lazy dog sleeps all day"),     # shares "lazy dog sleeps"
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox"), (101, "lazy dog sleeps")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["hits"]
        for r in decontam.contaminated_docs(train, eval_df).collect()
    }
    assert got == {1: 2, 3: 1}


def test_hash_sample_deterministic_and_calibrated(spark):
    from lapis_silo_spark.functions import sampling

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    kept1 = df.filter(sampling.hash_sample("k", 0.25)).count()
    kept2 = df.filter(sampling.hash_sample("k", 0.25)).count()
    assert kept1 == kept2  # content-addressed: identical across runs
    assert 0.18 < kept1 / 2000 < 0.32  # ~64/256 of a uniform hash

    # nested property: a 12.5% sample is a subset of the 25% sample
    small = df.filter(sampling.hash_sample("k", 0.125))
    assert small.join(
        df.filter(sampling.hash_sample("k", 0.25)), "k", "left_anti"
    ).count() == 0


def test_stratified_hash_sample_rates(spark):
    from lapis_silo_spark.functions import sampling

    df = spark.range(0, 1000).selectExpr(
        "id AS k", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS s"
    )
    keep = sampling.stratified_hash_sample("k", "s", {"a": 1.0}, default_rate=0.0)
    out = df.filter(keep).groupBy("s").count().collect()
    assert {r["s"]: r["count"] for r in out} == {"a": 500}  # b fully dropped


def test_decontam_plan_broadcasts_eval_grams(spark):
    """The eval-gram side must broadcast (map-side contamination probe); a
    sort-merge join here would shuffle the full exploded training corpus."""
    from lapis_silo_spark.functions import decontam

    train = spark.range(0, 50).selectExpr(
        "id AS doc_id", "concat('alpha beta gamma delta ', id) AS text"
    )
    eval_df = spark.range(0, 5).selectExpr(
        "id AS doc_id", "'alpha beta gamma' AS text"
    )
    plan = decontam.contaminated_docs(train, eval_df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lsh_candidate_pairs_subset_of_exact(vectors):
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in exact_cosine_pairs(
            vectors, "vec_id", "embedding", threshold=0.5
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in similarity.lsh_candidate_pairs(
            vectors, "vec_id", "embedding", threshold=0.5,
            n_planes=2, n_tables=4, dim=3,
        ).collect()
    }
    # approximate recall: every LSH pair is a true pair with the exact cosine
    assert set(lsh) <= set(exact)
    for pair, cos in lsh.items():
        assert cos == exact[pair]
    # identical vectors collide in every table — (1,2) must be found
    assert (1, 2) in lsh


def test_lsh_candidate_pairs_value_identical_to_join_form(spark):
    """The round-12 per-bucket blocked-matmul shape must emit EXACTLY the
    pairs of the previous bucket-self-join + expression-cosine form: same
    (id_a, id_b) set, same 6-dp cosines. The reference form is
    reconstructed here from the same primitives. block_rows=3 forces
    multi-block buckets (diagonal + cross-block tasks, both pair
    orientations) on a corpus with a hot near-duplicate cluster, a spread
    tail, and zero-norm / NaN / null edge rows."""
    import numpy as np

    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    dim = 8
    rows = []
    base = rng.normal(size=dim)
    for i in range(40):  # hot cluster: 40 near-duplicates of one vector
        rows.append((i, (base + rng.normal(scale=0.01, size=dim)).tolist()))
    for i in range(40, 120):  # spread tail
        rows.append((i, rng.normal(size=dim).tolist()))
    rows.append((120, [0.0] * dim))              # zero norm: dropped
    rows.append((121, [float("nan")] + [0.0] * (dim - 1)))  # NaN norm
    rows.append((122, None))                      # null vector
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")

    new = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in similarity.lsh_candidate_pairs(
            df, "vec_id", "embedding", threshold=0.6,
            n_planes=3, n_tables=4, dim=dim, block_rows=3,
        ).collect()
    }

    # pre-round-12 reference: bucket self-join, dropDuplicates, two
    # id-keyed vector joins, JVM expression cosine
    vecs = (
        df.select(F.col("vec_id").alias("id"),
                  F.col("embedding").cast("array<double>").alias("vec"))
        .withColumn("nrm", similarity.norm(F.col("vec")))
        .filter((F.col("nrm") > 0) & ~F.isnan("nrm"))
    )
    buckets = vecs.select(
        "id",
        F.explode(
            similarity.lsh_table_buckets("vec", 3, 4, dim)
        ).alias("bucket"),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, on=[F.col("a.bucket") == F.col("b.bucket"),
                      F.col("a.id") < F.col("b.id")])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"),
                     F.col("nrm").alias("nrm_a"))
    vb = vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"),
                     F.col("nrm").alias("nrm_b"))
    cos = similarity.dot(F.col("vec_a"), F.col("vec_b")) / (
        F.col("nrm_a") * F.col("nrm_b"))
    ref = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= F.lit(0.6))
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
        .collect()
    }
    assert len(new) > 100  # the hot cluster alone yields C(40,2) pairs
    assert new == ref


def test_repetition_fractions(spark):
    df = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),   # "spam ham" bigram dominates
            (2, "all words here are unique ok"),
            (3, ""),
        ],
        schema="doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["top2"], r["dup3"])
        for r in df.select(
            "doc_id",
            text.top_ngram_char_fraction("text", 2).alias("top2"),
            text.dup_ngram_char_fraction("text", 3).alias("dup3"),
        ).collect()
    }
    # doc1: normalized len 26; "spam ham" occurs 3x (len 8) -> 24/26;
    # trigram "spam ham spam" (13 ch) x2 + "ham spam ham" (12 ch) x2
    #   -> (2*13 + 2*12)/26 = 50/26
    assert out[1] == (pytest.approx(24 / 26), pytest.approx(50 / 26))
    # doc2: every bigram occurs once -> top = chars of the LONGEST bigram
    # ("words here" / "are unique", 10 ch) since top = max(count * len);
    # dup = 0
    assert out[2][0] == pytest.approx(10 / 28)
    assert out[2][1] == 0.0
    assert out[3] == (0.0, 0.0)


def test_duplicate_passages(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta tail one"),
            (2, "head alpha beta gamma delta"),
            (3, "alpha beta gamma delta alpha beta gamma delta"),
            (4, "nothing shared with anyone here"),
        ],
        schema="doc_id long, text string",
    )
    out = {
        r["gram"]: (r["n_docs"], r["n_occurrences"])
        for r in dedup.duplicate_passages(
            df, "doc_id", "text", n=4, min_docs=2
        ).collect()
    }
    # "alpha beta gamma delta": docs 1, 2, 3 — doc 3 carries it twice
    assert out["alpha beta gamma delta"] == (3, 4)
    # single-doc grams (incl. doc 3's internal repeat-spanning grams) excluded
    assert all(n_docs >= 2 for n_docs, _ in out.values())
    assert "nothing shared with anyone" not in out


def test_tfidf_top_terms(spark):
    from lapis_silo_spark.functions.ranking import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "zebra zebra zebra common common"),
            (2, "common apple pear"),
            (3, "common plum pear"),
        ],
        schema="doc_id long, text string",
    )
    out = tfidf_top_terms(df, "doc_id", "text", k=2).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    assert len(by_doc[1]) == 2 and len(by_doc[2]) == 2
    # doc 1: 'zebra' (tf=3, df=1) far outscores 'common' (tf=2, df=3)
    top1 = max(by_doc[1], key=lambda r: r["score"])
    assert top1["term"] == "zebra" and top1["tf"] == 3
    # df=3 == N → idf = ln(4/4)+1 = 1 exactly → score == tf
    common = [r for r in by_doc[1] if r["term"] == "common"][0]
    assert common["score"] == pytest.approx(2.0)


def test_mixture_rates_quantized_and_capped(spark):
    from lapis_silo_spark.functions.sampling import (
        mixture_rates,
        mixture_sample,
    )

    counts = {"a": 100, "b": 100, "c": 800}
    # target 50/25/25 at half the corpus → a wants 250 of 100 rows (capped),
    # b wants 125 of 100 (capped), c wants 125 of 800 → rate 0.15625
    rates = mixture_rates(
        counts, {"a": 0.5, "b": 0.25, "c": 0.25}, 0.5
    )
    assert rates["a"] == 1.0 and rates["b"] == 1.0
    assert rates["c"] == 40 / 256  # 0.15625 * 256 = 40 exactly on the grid

    rows = [(i, "a") for i in range(100)]
    rows += [(i + 100, "b") for i in range(100)]
    rows += [(i + 200, "c") for i in range(800)]
    df = spark.createDataFrame(rows, schema="id long, src string")
    kept = mixture_sample(df, "id", "src", {"a": 0.5, "b": 0.25, "c": 0.25}, 0.5)
    got = {r["src"]: r["n"] for r in
           kept.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["a"] == 100 and got["b"] == 100  # capped strata keep all
    assert 80 <= got["c"] <= 170  # ~125 expected, md5-bucket variance
    # deterministic: the same predicate keeps the same rows on a re-run
    again = mixture_sample(df, "id", "src", {"a": 0.5, "b": 0.25, "c": 0.25}, 0.5)
    assert sorted(r["id"] for r in kept.collect()) == sorted(
        r["id"] for r in again.collect()
    )


def test_kmeans_deterministic_separation(spark):
    from lapis_silo_spark.functions.clustering import kmeans_assign, semdedup

    # two tight groups far apart; ids interleaved so the lowest-id seed
    # starts with one vector from each group
    rows = [
        (1, [10.0, 0.0, 0.0]),
        (2, [0.0, 10.0, 0.0]),
        (3, [10.1, 0.1, 0.0]),
        (4, [0.1, 10.1, 0.0]),
        (5, [9.9, -0.1, 0.0]),
        (6, [-0.1, 9.9, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    got = {r["id"]: r["cluster"]
           for r in kmeans_assign(df, "id", "vec", k=2, iterations=2).collect()}
    assert got[1] == got[3] == got[5]
    assert got[2] == got[4] == got[6]
    assert got[1] != got[2]
    # deterministic: identical output on a re-run (no RNG anywhere)
    again = {r["id"]: r["cluster"]
             for r in kmeans_assign(df, "id", "vec", k=2, iterations=2).collect()}
    assert got == again

    out = {r["id"]: (r["cluster"], r["pruned"])
           for r in semdedup(df, "id", "vec", k=2, iterations=2,
                             threshold=0.99).collect()}
    # within each tight group, the lowest id survives, the rest prune
    assert out[1][1] is False and out[2][1] is False
    assert out[3][1] and out[5][1] and out[4][1] and out[6][1]


def test_kmeans_requires_k_rows(spark):
    from lapis_silo_spark.functions.clustering import kmeans_assign

    df = spark.createDataFrame([(1, [1.0, 2.0])], "id long, vec array<double>")
    with pytest.raises(ValueError, match="need >= 5 rows"):
        kmeans_assign(df, "id", "vec", k=5)


def test_pq_topk_recall(spark):
    """PQ-ADC recall@10 against exact L2 top-10 on the sf0.001 embeddings.

    PQ approximates squared L2; the exact baseline here is L2 (not cosine)
    so the comparison measures quantization loss, not metric mismatch."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = similarity.pq_topk(
        emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding",
        "vec_id", "embedding", k=10,
    ).collect()
    by_q: dict[int, list[int]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["id"])
    assert set(by_q) == {0, 1, 2, 3, 4}
    assert all(len(v) == 10 for v in by_q.values())

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    recalls = []
    for q in range(5):
        qv = V[ids == q][0]
        d = ((V - qv[None, :]) ** 2).sum(axis=1)
        d[ids == q] = np.inf
        exact = set(ids[np.argsort(d, kind="stable")[:10]])
        recalls.append(len(exact & set(by_q[q])) / 10)
    # 16 codes x 8 subspaces quantizes weakly-structured synthetic data
    # coarsely (raw ADC recall ~0.28); the exact re-rank of the top-50 ADC
    # candidates (the default refine) recovers ~0.7
    assert sum(recalls) / 5 >= 0.5, recalls


def test_pq_encode_shapes_and_determinism(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = similarity.pq_train_codebooks(
        emb, "vec_id", "embedding", m=8, n_codes=16, train_rows=64
    )
    assert books.shape == (8, 16, 8)
    coded = similarity.pq_encode(emb, "vec_id", "embedding", books)
    rows = {r["id"]: r["codes"] for r in coded.collect()}
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c)
               for c in rows.values())
    again = {r["id"]: r["codes"] for r in
             similarity.pq_encode(emb, "vec_id", "embedding", books).collect()}
    assert rows == again


def test_build_vocab_and_encode(spark):
    df = spark.createDataFrame(
        [
            (1, "cat dog cat"),
            (2, "dog bird"),
            (3, "cat unique"),
        ],
        schema="doc_id long, text string",
    )
    vocab = {r["term"]: (r["term_id"], r["count"])
             for r in text.build_vocab(df, "text", min_count=2).collect()}
    # cat: 3, dog: 2 — ranked by count desc then term asc; singletons dropped
    assert vocab == {"cat": (0, 3), "dog": (1, 2)}

    enc = {r["id"]: (r["token_ids"], r["n_tokens"], r["n_oov"])
           for r in text.encode_token_ids(
               df, "doc_id", "text",
               text.build_vocab(df, "text", min_count=2)).collect()}
    assert enc[1] == ([0, 1, 0], 3, 0)
    assert enc[2] == ([1, -1], 2, 1)   # bird is OOV
    assert enc[3] == ([0, -1], 2, 1)   # unique is OOV

    capped = text.build_vocab(df, "text", min_count=1, max_size=2).collect()
    assert {r["term"] for r in capped} == {"cat", "dog"}


def test_incremental_exact_dedup(spark):
    base_docs = spark.createDataFrame(
        [(1, "shared corpus text"), (2, "base only text")],
        schema="doc_id long, text string",
    )
    new_docs = spark.createDataFrame(
        [
            (10, "SHARED  corpus text"),   # dup of base after normalization
            (11, "fresh new content"),     # kept
            (12, "fresh new content"),     # dup within the batch
            (13, "another fresh one"),     # kept
        ],
        schema="doc_id long, text string",
    )
    base = dedup.exact_dedup_groups(base_docs, "doc_id", "text").select("digest")
    out = {r["id"]: r["status"]
           for r in dedup.incremental_exact_dedup(
               new_docs, base, "doc_id", "text").collect()}
    assert out == {10: "dup_of_base", 11: "kept",
                   12: "dup_in_batch", 13: "kept"}


def test_audio_features_rms_zcr(spark):
    import math

    # square wave alternating +1000/-1000: rms = 1000, zcr = 1.0
    square = multimodal.wav_payload([1000, -1000] * 50)
    # constant signal: zcr = 0
    flat = multimodal.wav_payload([500] * 100)
    # stereo sine on ch0, silence ch1
    sine = [int(10000 * math.sin(2 * math.pi * i / 20)) for i in range(100)]
    stereo = multimodal.wav_payload(
        [v for s in sine for v in (s, 0)], channels=2
    )
    df = spark.createDataFrame(
        [(1, square), (2, flat), (3, stereo), (4, b"not audio")],
        schema="id long, payload binary",
    )
    out = {r["id"]: r for r in
           multimodal.audio_features(df, "id", "payload").collect()}
    assert set(out) == {1, 2, 3}  # non-RIFF payload dropped, not faked
    assert out[1]["frames"] == 100 and out[1]["channels"] == 1
    assert out[1]["rms"] == pytest.approx(1000.0)
    assert out[1]["zcr"] == pytest.approx(1.0)
    assert out[2]["zcr"] == 0.0 and out[2]["rms"] == pytest.approx(500.0)
    assert out[3]["channels"] == 2 and out[3]["frames"] == 100
    # sine crosses zero twice per period: 100 frames / 20-sample period
    assert out[3]["zcr"] == pytest.approx(2 * (100 // 20) / 99, abs=0.02)


def test_unigram_perplexity(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a b c")],
        schema="doc_id long, text string",
    )
    out = {r["id"]: (r["n_tokens"], r["ppl"])
           for r in text.unigram_perplexity(df, "doc_id", "text").collect()}
    # corpus: a×6, b×1, c×1, total 8. doc1: all 'a' (p=.75) → ppl = 4/3.
    assert out[1] == (4, pytest.approx(round(8 / 6, 6)))
    # doc2: mean(-ln) over [6/8, 6/8, 1/8, 1/8]
    want = math.exp(-(2 * math.log(6 / 8) + 2 * math.log(1 / 8)) / 4)
    assert out[2] == (4, pytest.approx(want, abs=1e-6))
    assert out[2][1] > out[1][1]  # rare tokens → higher perplexity


def test_containment_scores(spark):
    from lapis_silo_spark.functions import decontam as fdec

    eval_df = spark.createDataFrame(
        [(100, "the exact eval passage here")],
        schema="doc_id long, text string",
    )
    train_df = spark.createDataFrame(
        [
            (1, "the exact eval passage here"),       # full copy → 1.0
            (2, "intro then the exact eval passage"), # partial overlap
            (3, "nothing in common at all"),          # 0.0 — still a row
        ],
        schema="doc_id long, text string",
    )
    out = {r["id"]: (r["n_grams"], r["hits"], r["containment"])
           for r in fdec.containment_scores(
               train_df, eval_df, "doc_id", "text", n=3).collect()}
    assert out[1] == (3, 3, 1.0)
    # doc2 grams: 4 total; "the exact eval" + "exact eval passage" hit
    assert out[2] == (4, 2, 0.5)
    assert out[3] == (3, 0, 0.0)


def test_resize_images_nearest_neighbor(spark):
    import numpy as np

    # 4x2 gradient PPM: pixel (r,c) = (10*r+c, 0, 255-10*r-c)
    px = np.zeros((2, 4, 3), dtype=np.uint8)
    for r in range(2):
        for c in range(4):
            px[r, c] = (10 * r + c, 0, 255 - 10 * r - c)
    ppm = b"P6\n4 2\n255\n" + px.tobytes()
    df = spark.createDataFrame(
        [(1, ppm), (2, b"not an image")], schema="id long, payload binary"
    )
    out = {r["id"]: r for r in
           multimodal.resize_images(df, "id", "payload", 2, 2).collect()}
    assert set(out) == {1}  # non-image dropped
    row = out[1]
    assert (row["width"], row["height"]) == (2, 2)
    # nearest-neighbor centers: rows (0.5,1.5)*2/2 -> rows 0,1;
    # cols (0.5,1.5)*4/2 -> cols 1,3
    want = px[[0, 1]][:, [1, 3]]
    assert row["payload_len"] == len(b"P6\n2 2\n255\n") + 12
    got_px = np.frombuffer(bytes(row["payload"])[-12:], np.uint8).reshape(2, 2, 3)
    assert (got_px == want).all()
    assert row["mean_r"] == pytest.approx(want[:, :, 0].mean())
    # round-trip: the resized payload decodes as a PPM with the new dims
    again = multimodal.resize_images(
        spark.createDataFrame([(9, bytes(row["payload"]))],
                              "id long, payload binary"),
        "id", "payload", 1, 1,
    ).collect()
    assert again[0]["width"] == 1 and again[0]["height"] == 1


def test_kmv_distinct_accuracy_and_exact_path(spark):
    from lapis_silo_spark.functions.sketches import kmv_distinct

    rows = [("big", f"v{i}") for i in range(1000)]
    rows += [("small", f"s{i}") for i in range(5)]
    rows += [("small", "s0")]  # duplicate — distinct is what's counted
    df = spark.createDataFrame(rows, "grp string, val string")
    out = {r["grp"]: (r["n_kept"], r["est_distinct"])
           for r in kmv_distinct(df, "grp", "val", k=64).collect()}
    # exact path below k
    assert out["small"] == (5, 5.0)
    # estimation path: KMV with k=64 has ~1/sqrt(62) ≈ 13% std error
    n_kept, est = out["big"]
    assert n_kept == 64
    assert 600 <= est <= 1500, est
    # deterministic across runs
    again = {r["grp"]: r["est_distinct"]
             for r in kmv_distinct(df, "grp", "val", k=64).collect()}
    assert again["big"] == est


def test_hash_topk_per_group(spark):
    from lapis_silo_spark.functions.sketches import hash_topk_per_group

    df = spark.createDataFrame(
        [(g, i) for g in ("a", "b") for i in range(20)],
        "grp string, key int",
    )
    out = hash_topk_per_group(df, "grp", "key", k=4).collect()
    by_grp: dict[str, list[int]] = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r["key"])
    assert all(len(v) == 4 for v in by_grp.values())
    again = hash_topk_per_group(df, "grp", "key", k=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # k=2 picks a subset of k=4 (hash ranks are nested)
    small = hash_topk_per_group(df, "grp", "key", k=2).collect()
    for r in small:
        assert r["key"] in by_grp[r["grp"]]


def test_round_half_away_matches_sql_convention():
    """ADVICE r3: one rounding convention everywhere — half AWAY from zero
    (DuckDB round(), Spark F.round), not numpy banker's half-to-even."""
    import numpy as np

    from lapis_silo_spark.functions.clustering import _round_half_away

    # dyadic .5 boundaries where banker's and half-away disagree
    assert _round_half_away(np.array([0.5]), 0)[0] == 1.0      # np.round → 0
    assert _round_half_away(np.array([1.5]), 0)[0] == 2.0
    assert _round_half_away(np.array([2.5]), 0)[0] == 3.0      # np.round → 2
    assert _round_half_away(np.array([-0.5]), 0)[0] == -1.0
    assert _round_half_away(np.array([-2.5]), 0)[0] == -3.0
    # on-grid values pass through
    v = np.array([0.123456, -9.875])
    assert (_round_half_away(v, 6) == v).all()
    # at a finer grid: 0.0009765625 = 1/1024; ×10^3 = 0.9765625 (no boundary),
    # but 0.0625 = 1/16 at 1 decimal → 0.625 ... use an exact boundary:
    # 0.25 at 1 decimal → 2.5 scaled → half-away 0.3 (np.round gives 0.2)
    assert _round_half_away(np.array([0.25]), 1)[0] == 0.3
    assert np.round(np.array([0.25]), 1)[0] == 0.2


def test_semdedup_max_cluster_size_guard(spark):
    """A skewed cluster must fail loudly (k ∝ N contract), not OOM."""
    import pytest as _pytest

    from lapis_silo_spark.functions.clustering import semdedup

    rows = [(i, [float(i % 3), 1.0]) for i in range(1, 13)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    with _pytest.raises(Exception, match="max_cluster_size"):
        semdedup(df, "id", "vec", k=2, iterations=1,
                 max_cluster_size=3).collect()
    # generous cap: runs fine
    out = semdedup(df, "id", "vec", k=2, iterations=1,
                   max_cluster_size=100).collect()
    assert len(out) == 12


def test_mixture_rates_warns_on_missing_strata():
    import warnings

    from lapis_silo_spark.functions.sampling import mixture_rates

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        rates = mixture_rates({"a": 10, "ghost": 5}, {"a": 1.0}, 0.5)
    assert rates["ghost"] == 0.0
    assert any("ghost" in str(x.message) for x in w)
    # fully-covered strata: silent
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        mixture_rates({"a": 10}, {"a": 1.0}, 0.5)
    assert not [x for x in w2 if "mixture_rates" in str(x.message)]


def test_kmv_distinct_ignores_nulls(spark):
    """ADVICE r3: NULL values must not consume kept slots (Spark sorts NULL
    first ascending; DuckDB last) — they are filtered like count(distinct)."""
    from lapis_silo_spark.functions.sketches import kmv_distinct

    rows = [("g", f"v{i}") for i in range(5)] + [("g", None)] * 3
    df = spark.createDataFrame(rows, "grp string, val string")
    out = kmv_distinct(df, "grp", "val", k=16).collect()
    assert len(out) == 1
    assert out[0]["n_kept"] == 5 and out[0]["est_distinct"] == 5.0


def test_minhash_dedup_clusters_fused(spark):
    """Round-4 headline: O(docs) fused clustering — exact twins collapse
    through the digest path (never reaching LSH), near-dups cluster via
    banded LSH + transitive closure, and output is one row per doc."""
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the  QUICK brown fox jumps over the lazy dog"),  # exact twin of 1
        (3, "The quick brown fox jumps over the lazy dog"),   # exact twin of 1
        (4, "The quick brown fox jumps over the lazy dog!"),  # near-dup of 1
        (5, "completely unrelated zebra xylophone quartz"),
        (6, "completely  unrelated zebra XYLOPHONE quartz"),  # exact twin of 5
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {
        r["id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in dedup.minhash_dedup_clusters(
            df, "doc_id", "text", threshold=0.7, n_perms=64, n_bands=16,
        ).collect()
    }
    assert len(out) == 6  # one row per doc, never pairs
    # twins of 1 and the near-dup 4 all land in cluster 1
    assert out[1] == (1, 4, True)
    assert out[2] == (1, 4, False)
    assert out[3] == (1, 4, False)
    assert out[4] == (1, 4, False)
    # the 5/6 twin pair forms its own cluster, canonical = min id
    assert out[5] == (5, 2, True)
    assert out[6] == (5, 2, False)
    # exactly one canonical per cluster
    canon = [i for i, v in out.items() if v[2]]
    assert sorted(canon) == [1, 5]


def test_lsh_multi_probe_superset_and_determinism(vectors):
    """Multi-probe (n_flip>0) must only ADD candidates: its result set per
    query is a superset-or-equal quality-wise — candidates from the base
    bucket always remain probed (f=0 is the unperturbed bucket)."""
    base = similarity.lsh_bucket_topk(
        vectors, vectors.filter(F.col("vec_id") < 3),
        "vec_id", "embedding", "vec_id", "embedding",
        k=5, n_planes=8, n_tables=4, dim=3, n_flip=0,
    ).collect()
    probed = similarity.lsh_bucket_topk(
        vectors, vectors.filter(F.col("vec_id") < 3),
        "vec_id", "embedding", "vec_id", "embedding",
        k=5, n_planes=8, n_tables=4, dim=3, n_flip=3,
    ).collect()

    def best(rows):
        out: dict = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(r["cos"])
        return {q: max(v) for q, v in out.items()}

    b, p = best(base), best(probed)
    for q in p:
        # probing can only improve (or tie) the best-found neighbor
        assert q not in b or p[q] >= b[q]
    # deterministic across runs
    again = similarity.lsh_bucket_topk(
        vectors, vectors.filter(F.col("vec_id") < 3),
        "vec_id", "embedding", "vec_id", "embedding",
        k=5, n_planes=8, n_tables=4, dim=3, n_flip=3,
    ).collect()
    assert sorted(map(tuple, probed)) == sorted(map(tuple, again))


def test_lsh_query_probes_count_and_base(spark):
    """Each table contributes exactly 1 + n_flip labels; the first is the
    unperturbed bucket (identical to lsh_table_buckets), and each flip
    differs from the base in exactly one bit position."""
    df = spark.createDataFrame(
        [(1, [float(i) for i in range(8)])], "id long, vec array<double>"
    )
    n_planes, n_tables, n_flip = 6, 3, 2
    base = df.select(
        similarity.lsh_table_buckets("vec", n_planes, n_tables, 8).alias("b")
    ).first()["b"]
    probes = df.select(
        similarity.lsh_query_probes("vec", n_planes, n_tables, 8, n_flip)
        .alias("p")
    ).first()["p"]
    assert len(probes) == n_tables * (1 + n_flip)
    for t in range(n_tables):
        group = probes[t * (1 + n_flip):(t + 1) * (1 + n_flip)]
        assert group[0] == base[t]
        base_bits = base[t].split(":")[1]
        for flipped in group[1:]:
            bits = flipped.split(":")[1]
            assert flipped.startswith(f"{t}:")
            assert sum(a != b for a, b in zip(base_bits, bits)) == 1


def test_extract_frames_emits_real_ppms_that_compose(spark):
    """extract_frames output payloads are genuine P6 images: they flow
    through decode_images and resize_images unchanged (video → image
    composition), and the channel means round-trip the constant luma."""
    vid = multimodal.y4m_payload(4, 2, [10, 20, 30, 40, 50])
    df = spark.createDataFrame([(7, vid)], "id long, payload binary")
    frames = multimodal.extract_frames(df, "id", "payload", every_nth=2)
    got = sorted(frames.collect(), key=lambda r: r["frame_index"])
    assert [r["frame_index"] for r in got] == [0, 2, 4]
    assert [(r["mean_r"], r["mean_g"], r["mean_b"]) for r in got] == [
        (10.0, 10.0, 10.0), (30.0, 30.0, 30.0), (50.0, 50.0, 50.0)
    ]
    assert all(r["payload_len"] == 11 + 3 * 4 * 2 for r in got)

    # composition: the emitted payloads decode as image/ppm...
    keyed = frames.select(
        (F.col("id") * 10 + F.col("frame_index")).alias("fid"), "payload"
    )
    decoded = {r["id"]: (r["kind"], r["feature"][0])
               for r in multimodal.decode_images(
                   keyed, "fid", "payload").collect()}
    assert decoded == {70: ("image/ppm", 10.0), 72: ("image/ppm", 30.0),
                       74: ("image/ppm", 50.0)}
    # ...and resize to thumbnails with preserved means
    resized = {r["id"]: r["mean_r"]
               for r in multimodal.resize_images(
                   keyed, "fid", "payload", 3, 3).collect()}
    assert resized == {70: 10.0, 72: 30.0, 74: 50.0}


def test_incremental_minhash_dedup(spark):
    """Append-mode near-dup: base state is bands-only (text never re-read);
    new rows classify as dup_of_base / dup_in_batch / kept with greedy
    lower-id semantics; dup_of_base wins when both apply."""
    base = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated zebra xylophone quartz")],
        "doc_id long, text string",
    )
    state = dedup.minhash_band_state(base, "doc_id", "text",
                                     n_perms=64, n_bands=16)
    new = spark.createDataFrame(
        [(10, "the  QUICK brown fox jumps over the lazy dog"),  # ~ base 1
         (11, "totally fresh content about spark executors"),
         (12, "totally fresh content about spark executors!"),  # ~ new 11
         (13, "The quick brown fox jumps over the lazy dog")],  # ~ base 1
        "doc_id long, text string",
    )
    out = {r["id"]: r["status"]
           for r in dedup.incremental_minhash_dedup(
               new, state, "doc_id", "text",
               threshold=0.7, n_perms=64, n_bands=16).collect()}
    assert out == {10: "dup_of_base", 11: "kept",
                   12: "dup_in_batch", 13: "dup_of_base"}


def test_incremental_minhash_cap_ignores_state_duplicates(spark):
    """Post-compaction-crash base state legitimately contains duplicate
    (id, band, band_hash) rows; occupancy for max_band_freq must count
    DISTINCT rows or buckets near cap/2 get spuriously skipped and
    near-dups report kept (round-5 ADVICE, medium)."""
    base = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    state = dedup.minhash_band_state(base, "doc_id", "text",
                                     n_perms=64, n_bands=16)
    # simulate the tolerated crash window: every base row present twice
    dup_state = state.unionAll(state)
    new = spark.createDataFrame(
        [(10, "The quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    # true occupancy per colliding bucket is 2 (one base + one new row);
    # raw counting of the duplicated state would see 3 and skip at cap=2
    out = {r["id"]: r["status"]
           for r in dedup.incremental_minhash_dedup(
               new, dup_state, "doc_id", "text",
               threshold=0.7, n_perms=64, n_bands=16,
               max_band_freq=2).collect()}
    assert out == {10: "dup_of_base"}


def test_bloom_no_false_negatives_and_merge(spark):
    from lapis_silo_spark.functions.sketches import bloom_build, bloom_probe

    members = spark.createDataFrame(
        [(f"member-{i}",) for i in range(200)], "val string"
    )
    bloom = bloom_build(members, "val", n_words=32, n_hashes=4)
    words = bloom.collect()
    assert len(words) <= 32
    assert all(r["bits"] > 0 for r in words)  # sign bit never set

    probes = spark.createDataFrame(
        [(i, f"member-{i}") for i in range(200)]
        + [(1000 + i, f"absent-{i}") for i in range(200)],
        "id long, val string",
    )
    out = {r["id"]: r["maybe_member"]
           for r in bloom_probe(probes, "id", "val", bloom, 32, 4).collect()}
    # Bloom contract: NO false negatives
    assert all(out[i] for i in range(200))
    # false positives exist but are bounded at this fill rate
    fp = sum(1 for i in range(200) if out[1000 + i])
    assert fp < 100, fp
    # deterministic: identical filter on a re-build
    again = {(r["word"], r["bits"]) for r in
             bloom_build(members, "val", n_words=32, n_hashes=4).collect()}
    assert again == {(r["word"], r["bits"]) for r in words}


def test_contaminated_docs_bloom_superset_of_exact(spark):
    """Bloom pre-filter admits every exact hit (no false negatives) and
    maybe_hits >= exact hits per doc."""
    from lapis_silo_spark.functions.decontam import (
        contaminated_docs,
        contaminated_docs_bloom,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma zeta eta"),
         (3, "one two three four five"),
         (10, "alpha beta gamma delta john")],   # eval doc
        "doc_id long, text string",
    )
    train = docs.filter(F.col("doc_id") < 10)
    ev = docs.filter(F.col("doc_id") >= 10)
    exact = {r["doc_id"]: r["hits"]
             for r in contaminated_docs(train, ev).collect()}
    bloom = {r["id"]: r["maybe_hits"]
             for r in contaminated_docs_bloom(train, ev).collect()}
    assert set(bloom) == {1, 2, 3}  # every doc with grams reports
    for did, hits in exact.items():
        assert bloom[did] >= hits
    assert bloom[1] >= 2  # "alpha beta gamma", "beta gamma delta" leak


def test_pq_topk_refuses_oversized_query_batch(spark):
    """pq_topk builds driver-side LUTs per query; above max_query_rows it
    must refuse with the distributed alternatives named, never silently
    collect (round-5 VERDICT #4)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.pq_topk(
            emb, emb, "vec_id", "embedding", "vec_id", "embedding",
            k=3, max_query_rows=5,
        )


def test_ivf_trained_full_probe_equals_brute_force(spark):
    """With n_probe = k (every cell searched), trained-codebook IVF must
    return EXACTLY the brute-force top-k — the probe machinery only ever
    restricts the candidate set, never rescores."""
    from lapis_silo_spark.functions.clustering import kmeans_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    cent = kmeans_centroids(emb, "vec_id", "embedding", k=4, iterations=2)
    assert cent.count() == 4
    ivf = similarity.ivf_topk_with_centroids(
        emb, queries, "vec_id", "embedding", "vec_id", "embedding",
        cent, cid_col="cluster", cvec_col="cvec", k=5, n_probe=4,
    )
    exact = similarity.brute_force_topk(
        emb, queries, "vec_id", "embedding", "vec_id", "embedding", k=5
    )
    assert sorted(map(tuple, ivf.collect())) == sorted(
        map(tuple, exact.collect())
    )


def test_near_dup_contaminated_flags_and_best_match(spark):
    """Exact copy of an eval doc verifies at j=1.0; unrelated text stays
    unflagged; a train doc matching TWO eval docs counts both and best-match
    ties break to the smallest eval id."""
    from lapis_silo_spark.functions.decontam import near_dup_contaminated

    leak = "the quick brown fox jumps over the lazy dog again and again " * 4
    other = "entirely different content about spark catalyst planning " * 4
    eval_df = spark.createDataFrame(
        [(100, leak), (200, leak), (300, other)], ["doc_id", "text"]
    )
    train_df = spark.createDataFrame(
        [
            (1, leak),                       # leaks, matches BOTH eval twins
            (2, "no overlap with anything here at all zzz qqq www " * 4),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["id"]: r
        for r in near_dup_contaminated(
            train_df, eval_df, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert set(rows) == {1}
    assert rows[1]["n_matches"] == 2
    assert rows[1]["match_id"] == 100  # tie at j=1.0 -> smallest eval id
    assert rows[1]["est_jaccard"] == 1.0


def test_near_dup_contaminated_string_ids(spark):
    """String doc ids work (round-5 ADVICE: the numeric-negation tie-break
    threw AnalysisException for string id columns); ties still break to
    the lexicographically smallest eval id."""
    from lapis_silo_spark.functions.decontam import near_dup_contaminated

    leak = "the quick brown fox jumps over the lazy dog again and again " * 4
    eval_df = spark.createDataFrame(
        [("ev-b", leak), ("ev-a", leak)], ["doc_id", "text"]
    )
    train_df = spark.createDataFrame(
        [
            ("tr-1", leak),
            ("tr-2", "no overlap with anything here at all zzz qqq www " * 4),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["id"]: r
        for r in near_dup_contaminated(
            train_df, eval_df, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert set(rows) == {"tr-1"}
    assert rows["tr-1"]["n_matches"] == 2
    assert rows["tr-1"]["match_id"] == "ev-a"  # tie -> smallest eval id
    assert rows["tr-1"]["est_jaccard"] == 1.0


def test_embedding_near_dup_blocked_noninteger_ids(spark):
    """Float and string id columns must come back exact — round-5 ADVICE:
    np.array([1.9], dtype=np.int64) silently truncates instead of
    raising, so the dtype branch must key off the Spark type."""
    vecs = [
        (1.5, [1.0, 0.0, 0.0]),
        (2.9, [1.0, 0.001, 0.0]),
        (7.25, [0.0, 1.0, 0.0]),
    ]
    fdf = spark.createDataFrame(
        vecs, schema="vec_id double, embedding array<double>"
    )
    out = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs_blocked(
            fdf, "vec_id", "embedding", threshold=0.95, n_blocks=2
        ).collect()
    }
    assert out == {(1.5, 2.9)}
    sdf = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0005]), ("c", [0.0, 1.0])],
        schema="vec_id string, embedding array<double>",
    )
    sout = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup_pairs_blocked(
            sdf, "vec_id", "embedding", threshold=0.95, n_blocks=2
        ).collect()
    }
    assert sout == {("a", "b")}


def test_near_dup_contaminated_cross_join_is_banded(spark):
    """No cartesian product / nested-loop join: the cross-corpus candidate
    generation must go through the band equi-join."""
    from lapis_silo_spark.functions.decontam import near_dup_contaminated

    df = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text body number "), F.col("id").cast("string")).alias("text"),
    )
    out = near_dup_contaminated(
        df.filter(F.col("doc_id") % 2 == 0),
        df.filter(F.col("doc_id") % 2 == 1),
        "doc_id",
        "text",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_count_min_never_undercounts_and_merges(spark):
    """est >= exact for every term; shard sketches merged by adding counts
    estimate identically to the whole-corpus sketch."""
    from lapis_silo_spark.functions.sketches import (
        count_min_build,
        count_min_estimate,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    rows = [(i, words[i % 5]) for i in range(500)]
    df = spark.createDataFrame(rows, ["i", "term"])
    exact = {r["term"]: r["c"] for r in
             df.groupBy("term").agg(F.count(F.lit(1)).alias("c")).collect()}

    sketch = count_min_build(df, "term", n_width=64, n_hashes=3)
    est = {
        r["val"]: r["est_count"]
        for r in count_min_estimate(df, "term", sketch,
                                    n_width=64, n_hashes=3).collect()
    }
    assert set(est) == set(exact)
    for t, c in exact.items():
        assert est[t] >= c, t

    # merge = per-(h, slot) count addition
    a = count_min_build(df.filter("i % 2 = 0"), "term", n_width=64, n_hashes=3)
    b = count_min_build(df.filter("i % 2 = 1"), "term", n_width=64, n_hashes=3)
    merged = (
        a.unionByName(b)
        .groupBy("h", "slot")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    est_m = {
        r["val"]: r["est_count"]
        for r in count_min_estimate(df, "term", merged,
                                    n_width=64, n_hashes=3).collect()
    }
    assert est_m == est


def test_count_min_arrow_build_matches_expression_path(spark):
    """The string-valued Arrow build (per-partition Counter + per-distinct
    md5 slots) must produce the exact (h, slot, cnt) rows of the
    expression path — pinned on multibyte, repeated, and long-tail values
    (a LONG column exercises the expression fallback on the same data)."""
    from lapis_silo_spark.functions.sketches import (
        _cm_slot,
        count_min_build,
    )

    vals = (
        ["tok%d" % (i % 7) for i in range(200)]
        + ["ناقلات", "übergröße", "東京"] * 3
        + ["solo"]
    )
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)] + [(999, None)],
        ["i", "term"],
    )
    arrow = sorted(
        map(tuple, count_min_build(df, "term", n_width=32,
                                   n_hashes=3).collect())
    )
    # expression reference, built inline (the library routes strings to
    # the Arrow path, so reconstruct the old plan by hand)
    rows = df.select(F.col("term").alias("val")).filter(
        F.col("val").isNotNull()
    )
    positions = rows.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("h"),
                    _cm_slot(F.col("val"), i, 32).alias("slot"),
                )
                for i in range(3)
            ])
        ).alias("p")
    ).select(F.col("p.h").alias("h"), F.col("p.slot").alias("slot"))
    expr = sorted(
        map(
            tuple,
            positions.groupBy("h", "slot")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .collect(),
        )
    )
    assert arrow == expr
    # non-string values take the expression path and still work
    longs = count_min_build(df, "i", n_width=32, n_hashes=3)
    assert longs.agg(F.sum("cnt")).first()[0] == (200 + 9 + 1 + 1) * 3


def test_count_min_exact_when_collision_free(spark):
    """With width >> distinct values, estimates equal exact counts."""
    from lapis_silo_spark.functions.sketches import (
        count_min_build,
        count_min_estimate,
    )

    df = spark.createDataFrame(
        [(i, f"w{i % 3}") for i in range(90)], ["i", "term"]
    )
    sketch = count_min_build(df, "term", n_width=4096, n_hashes=4)
    est = {
        r["val"]: r["est_count"]
        for r in count_min_estimate(df, "term", sketch,
                                    n_width=4096, n_hashes=4).collect()
    }
    assert est == {"w0": 30, "w1": 30, "w2": 30}


def test_near_dup_contaminated_band_cap(spark):
    """Hot TRAIN band buckets are skipped under max_band_freq; flagged set
    is a subset of the uncapped run and a pair colliding in a cold band
    survives."""
    from lapis_silo_spark.functions.decontam import near_dup_contaminated

    boiler = "shared boilerplate header tokens repeated across the slice " * 3
    eval_df = spark.createDataFrame(
        [(1000, boiler), (2000, "a rare unique control document body " * 3)],
        ["doc_id", "text"],
    )
    train = [(i, boiler) for i in range(1, 40)]  # hot: 39 exact boiler docs
    train.append((500, "a rare unique control document body " * 3))  # cold leak
    train_df = spark.createDataFrame(train, ["doc_id", "text"])

    uncapped = {
        r["id"]
        for r in near_dup_contaminated(
            train_df, eval_df, "doc_id", "text", threshold=0.9
        ).collect()
    }
    capped = {
        r["id"]
        for r in near_dup_contaminated(
            train_df, eval_df, "doc_id", "text", threshold=0.9,
            max_band_freq=8,
        ).collect()
    }
    assert 500 in uncapped and all(i in uncapped for i in range(1, 40))
    assert capped <= uncapped
    assert 500 in capped            # cold-band leak survives the cap
    assert not any(i in capped for i in range(1, 40))  # hot slice skipped


def test_minhash_signatures_arrow_matches_expression_path(spark):
    """The md5 family of the Arrow signature producer must be bit-identical
    to the expression reference (tests/dedup_reference.py): same shingling
    (trim = ASCII space only, Java-\\s whitespace collapse, the
    greatest(..,1) short-text guard), same md5-derived hash, same
    permutation mins. Pinned on the real corpus plus the edge shapes: empty
    text (one ''-shingle), shorter-than-k text (one truncated shingle),
    tab/newline whitespace, and string ids. NULL text yields no row."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (9001, None),
            (9002, ""),
            (9003, "ab"),
            (9004, "  A\tB\nC  "),
            (9005, " " * 7),
        ],
        ["doc_id", "text"],
    )
    both = docs.unionAll(edge)

    fast = {
        r["id"]: r["sig"]
        for r in dedup.minhash_signatures(
            both, "doc_id", "text", 64, 5
        ).collect()
    }
    slow = {
        r["id"]: r["sig"]
        for r in minhash_signatures_expr(
            both, "doc_id", "text", 64, 5, dedup.hash32
        ).collect()
    }
    assert fast == slow
    assert 9001 not in fast and 9002 in fast and 9003 in fast

    # string-id corpus takes the same path
    sdocs = both.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text",
    )
    sfast = {
        r["id"]: r["sig"]
        for r in dedup.minhash_signatures(
            sdocs, "doc_id", "text", 16, 5
        ).collect()
    }
    assert set(sfast) == {"d" + str(k) for k in fast}


def test_minhash_signatures_arrow_xx32_matches_expression_path(spark):
    """The xxhash family of the Arrow producer must be bit-identical to the
    expression reference with hash32_fast (Spark's native xxhash64) — the
    >= 32-byte / UTF-8 multibyte XXH64 code paths included (long shingle
    via k=40). NULL text yields no row, as in the md5 family."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (9001, None),
            (9002, ""),
            (9003, "ab"),
            (9004, "  A\tB\nC  "),
            (9005, "héllo wörld 日本語テキスト mixed œuvre " * 4),
        ],
        ["doc_id", "text"],
    )
    both = docs.unionAll(edge)
    for kk in (5, 40):
        fast = {
            r["id"]: r["sig"]
            for r in dedup.minhash_signatures(
                both, "doc_id", "text", 16, kk, hash_fn=dedup.hash32_fast
            ).collect()
        }
        slow = {
            r["id"]: r["sig"]
            for r in minhash_signatures_expr(
                both, "doc_id", "text", 16, kk, dedup.hash32_fast
            ).collect()
        }
        assert fast == slow, f"k={kk}"
        assert 9001 not in fast and 9002 in fast and 9003 in fast


def test_minhash_signatures_reject_other_hash_families(docs):
    """The hash family is a closed choice of hash32 and hash32_fast: any
    other callable, even one computing the same hash, raises."""
    with pytest.raises(ValueError, match="hash_fn"):
        dedup.minhash_signatures(
            docs, "doc_id", "text", hash_fn=lambda c: dedup.hash32(c)
        )
    with pytest.raises(ValueError, match="hash_fn"):
        dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", hash_fn=lambda c: dedup.hash32_fast(c)
        )


def test_count_min_arrow_build_flush_overflow_identical(spark, monkeypatch):
    """The Arrow build's per-task Counter flushes at a bounded size (round
    12, guide SS5 100 TB safety): forcing overflow every 3 distinct values
    must yield the exact same sketch — the downstream (h, slot) SUM makes
    any flush schedule value-identical by construction."""
    from lapis_silo_spark.functions import sketches as sk

    vals = ["tok%d" % (i % 11) for i in range(300)] + ["東京", "solo"] * 2
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["i", "term"]
    )
    unbounded = sorted(
        map(tuple, sk.count_min_build(df, "term", n_width=32,
                                      n_hashes=3).collect())
    )
    monkeypatch.setattr(sk, "CM_COUNTER_FLUSH_ENTRIES", 3)
    flushed = sorted(
        map(tuple, sk.count_min_build(df, "term", n_width=32,
                                      n_hashes=3).collect())
    )
    assert flushed == unbounded
