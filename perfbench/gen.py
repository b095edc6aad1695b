"""Seeded input generators for the perfbench workloads.

Everything here is a pure function of its seed: the same seed writes the
same bytes. Tables follow the column contract `graft.sources.Tables`
checks (`assertVintage`) and the value domains of the engine's synthetic
TPC-H-style test tables; documents are word sequences over a small
vocabulary, so shingle overlap between unrelated documents is low and the
planted duplicates are the only near-duplicates.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _words(rng, n_min, n_max):
    n = int(rng.integers(n_min, n_max + 1))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _near(rng, text, share):
    """A near-duplicate: `share` of the words replaced by random ones."""
    w = text.split()
    for i in np.nonzero(rng.random(len(w)) < share)[0]:
        w[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(w)


def documents(rng, first_id, n, exact_share, near_share, pool=None, n_min=10, n_max=100):
    """`n` documents with ids from `first_id`: an `exact_share` of verbatim
    copies and a `near_share` of 5%-edited copies of earlier documents (or
    of `pool`), the rest unique. Returns (doc_id, text, lang, source)."""
    texts = []
    base = list(pool or [])
    for _ in range(n):
        u = rng.random()
        if base and u < exact_share:
            texts.append(base[int(rng.integers(0, len(base)))])
        elif base and u < exact_share + near_share:
            texts.append(_near(rng, base[int(rng.integers(0, len(base)))], 0.05))
        else:
            texts.append(_words(rng, n_min, n_max))
            base.append(texts[-1])
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in ids]),
    }


def _docs_table(d):
    return pa.table({
        "doc_id": pa.array(d["doc_id"], pa.int64()),
        "text": pa.array(d["text"], pa.string()),
        "lang": pa.array(d["lang"], pa.string()),
        "source": pa.array(d["source"], pa.string()),
        "n_chars": pa.array([len(t) for t in d["text"]], pa.int64()),
    })


def corpus(out, seed, n_docs, delta_docs):
    """corpus_llm inputs: `docs/` (the corpus: 8% exact and 8% near
    duplicates) and `delta/` (a batch of new documents, a quarter of them
    copies of corpus documents)."""
    rng = np.random.default_rng([seed, 1])
    d = documents(rng, 0, n_docs, 0.08, 0.08, n_min=30, n_max=120)
    _write(_docs_table(d), f"{out}/docs/part-0.parquet")
    delta = documents(rng, n_docs, delta_docs, 0.15, 0.10, pool=d["text"], n_min=30, n_max=120)
    _write(_docs_table(delta), f"{out}/delta/part-delta.parquet")
    return n_docs + delta_docs


def _ts(days_from, days, n, rng, micros=False):
    base = np.datetime64(days_from, "us")
    if micros:
        off = rng.integers(0, days * 86400 * 1_000_000, n)
    else:
        off = rng.integers(0, days, n) * 86400 * 1_000_000
    return base + off.astype("timedelta64[us]")


def tables(out, seed, sf):
    """The ten engine tables at scale `sf` (sf=1 ≈ 6M lineitem rows)."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_ev, n_users = int(1_500_000 * sf), int(1_000_000 * sf), max(int(15_000 * sf), 20)
    n_docs, n_vec = int(50_000 * sf), max(int(20_000 * sf), 200)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts("1995-01-01", 2404, n_ord, rng),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    per = rng.integers(1, 8, n_ord)
    n_li = int(per.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), per), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in per]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", 2498, n_li, rng)})
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(_ts("2024-01-01", 30, n_ev, rng, micros=True)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    docs = documents(rng, 0, n_docs, 0.002, 0.05)
    t["documents"] = _docs_table(docs)
    emb = rng.standard_normal((n_vec, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    for name, tab in t.items():
        _write(tab, f"{out}/tables/{name}.parquet")
    # the incremental variant: 3% of the documents rewritten, 2% appended
    vr = np.random.default_rng([seed, 3])
    texts = list(docs["text"])
    for i in np.nonzero(vr.random(n_docs) < 0.03)[0]:
        texts[i] = _words(vr, 10, 100)
    extra = documents(vr, n_docs, max(n_docs // 50, 1), 0.0, 0.3, pool=texts)
    variant = {k: np.concatenate([np.asarray(docs[k] if k != "text" else texts, dtype=object), np.asarray(extra[k], dtype=object)])
               for k in ("doc_id", "text", "lang", "source")}
    variant["doc_id"] = variant["doc_id"].astype(np.int64)
    _write(_docs_table(variant), f"{out}/variant/documents.parquet")
    return sum(tab.num_rows for tab in t.values())
