"""Fixed tables for ``registry_headline``: the star schema, event stream,
document corpus and embeddings that the registered queries read, with the
column names and types of the engine's test data. The content depends on
``DATA_SEED`` only, so the pinned result hashes hold for every run; the
workload seed only reorders the rows of the registry."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: fraction of the test data's sf0.1 row counts (0.1 = sf0.01)
SCALE = 0.1
VOCAB = ("spark batch part line column order small sort fast value scan hash "
         "slow group agg filter query a big key window row table stream "
         "merge data vector join index cache shuffle").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["large", "hot", "blue", "red", "green", "small", "dim", "light"]
P_NOUN = ["ring", "bolt", "case", "drum", "tube", "cap", "plate", "wheel"]
P_TYPE = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
US_PER_DAY = 86_400_000_000


def _us(day: str) -> int:
    return int(np.datetime64(day).astype("datetime64[us]").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _pick(options: list[str], idx: np.ndarray) -> list[str]:
    return np.array(options, dtype=object)[idx].tolist()


def build() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })

    n_cust, n_supp, n_part = (int(x * SCALE) for x in (15000, 1000, 20000))
    n_ord, n_li = int(150000 * SCALE), int(600000 * SCALE)
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    adj = np.array(P_ADJ, dtype=object)[rng.integers(0, len(P_ADJ), n_part)]
    noun = np.array(P_NOUN, dtype=object)[rng.integers(0, len(P_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), type=pa.int64()),
        "p_name": (adj + " " + noun).tolist(),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(P_TYPE, rng.integers(0, len(P_TYPE), n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })

    order_day = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": _pick(["O", "P", "F"], rng.integers(0, 3, n_ord)),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(_us("1995-01-01") + order_day * US_PER_DAY),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    li_order = np.sort(rng.integers(0, n_ord, n_li))
    first = np.r_[True, li_order[1:] != li_order[:-1]]
    idx = np.arange(n_li)
    linenumber = idx - np.maximum.accumulate(np.where(first, idx, 0)) + 1
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
        "l_linenumber": pa.array(linenumber, type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_li)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_li)),
        "l_shipdate": _ts(_us("1995-01-01") + (order_day[li_order]
                          + rng.integers(1, 96, n_li)) * US_PER_DAY),
    })

    n_ev, n_users = int(100000 * SCALE), int(1500 * SCALE)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), type=pa.int64()),
        "ts": _ts(_us("2024-01-01")
                  + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), type=pa.int64()),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_doc = int(5000 * SCALE)
    texts = [" ".join(_pick(VOCAB, rng.integers(0, len(VOCAB), k)))
             for k in rng.integers(8, 97, n_doc)]
    # planted duplicates so the dedup rows have work: exact twins every
    # 400 documents, one-word-substituted near twins every 160
    for i in range(400, n_doc, 400):
        texts[i] = texts[i - 17]
    for i in range(160, n_doc, 160):
        if i % 400:
            words = texts[i - 23].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(words)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), type=pa.int64()),
        "text": texts,
        "lang": _pick(LANGS, rng.choice(5, n_doc, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], type=pa.int64()),
    })

    n_vec = int(2000 * SCALE)
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vec), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), type=pa.int32()),
    })
    return t


def write(out_dir: Path) -> Path:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in build().items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir
