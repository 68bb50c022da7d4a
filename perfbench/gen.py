"""Seeded input generator for the benchmark.

Every table is a pure function of (seed, sizes): the same seed writes
byte-identical parquet files. Shapes follow the engine's test tables
(TPC-H-ish orders/customer/part/nation, an `events` stream, a
`documents` corpus), so the CLIF query keys and their DuckDB oracles
run unchanged on them.

The corpus carries a fixed share of exact copies, light edits and
excerpts of earlier documents, so the dedup, containment and
split-leakage stages always have work and never come up empty. Copies
always point at an earlier (smaller-id) document, which keeps the
"corpus ids < wave ids" convention incremental curation relies on.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# topic words plus the marker stopwords the language heuristic and the
# quality score look for, so both gates pass a realistic share of docs
VOCAB = (
    "spark scan filter join group sort merge hash window stream batch "
    "table column row value key query data vector index shard page "
    "block node edge graph rank score token text order line part agg "
    "fast slow big small cold hot cache plan stage task job driver "
    "the and of is a to in la que el der und die le et les est"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

# corpus composition (shares of all docs); the rest are fresh documents
EXACT_SHARE = 0.01
EDIT_SHARE = 0.02
EXCERPT_SHARE = 0.01


def _zipf_weights(n):
    w = 1.0 / np.arange(1, n + 1) ** 0.8
    return w / w.sum()


def documents(rng, n_docs, id_stride=4):
    """(doc_id, text, lang, source, n_chars) with near-duplicate structure.

    Ids increase with position; the seed relabels them by drawing each
    gap from [1, id_stride]."""
    words = np.array(VOCAB)
    wts = _zipf_weights(len(VOCAB))
    kinds = rng.choice(4, size=n_docs,
                       p=[1 - EXACT_SHARE - EDIT_SHARE - EXCERPT_SHARE,
                          EXACT_SHARE, EDIT_SHARE, EXCERPT_SHARE])
    kinds[:20] = 0  # copies need earlier docs to copy from
    lens = rng.integers(8, 101, size=n_docs)
    toks = []
    fresh = []  # copies are taken from fresh docs only, so clusters stay stars
    for i in range(n_docs):
        k = kinds[i]
        if k == 0:
            fresh.append(i)
            toks.append(list(words[rng.choice(len(VOCAB), size=lens[i], p=wts)]))
            continue
        src = toks[fresh[int(rng.integers(0, len(fresh)))]]
        if k == 1:
            toks.append(list(src))
        elif k == 2:
            t = list(src)
            for _ in range(1 + len(t) // 40):
                t[int(rng.integers(0, len(t)))] = words[
                    int(rng.choice(len(VOCAB), p=wts))]
            toks.append(t)
        else:
            n = max(3, len(src) // 2)
            s = int(rng.integers(0, len(src) - n + 1))
            toks.append(list(src[s:s + n]))
    text = [" ".join(t) for t in toks]
    ids = np.cumsum(rng.integers(1, id_stride + 1, size=n_docs)).astype(np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def clif_tables(rng, scale):
    """nation/customer/orders/events/part at `scale` (1.0 = 150k orders)."""
    n_cust, n_ord = int(15000 * scale), int(150000 * scale)
    n_ev, n_users, n_part = int(100000 * scale), int(1500 * scale), int(20000 * scale)
    out = {}
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        # whole cents, so every engine reads back the same double
        "c_acctbal": pa.array(rng.integers(-99999, 1000000, n_cust) / 100.0, pa.float64()),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust), pa.string()),
    })
    day0 = np.datetime64("1995-01-01", "us")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(rng.integers(90000, 50000000, n_ord) / 100.0, pa.float64()),
        "o_orderdate": pa.array(day0 + rng.integers(0, 2404, n_ord).astype(
            "timedelta64[D]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord), pa.string()),
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86400 * 1000000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts0 + np.sort(rng.integers(0, month_us, n_ev)).astype(
            "timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev), pa.string()),
        "value": pa.array(rng.integers(0, 56000, n_ev) / 100.0, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                          pa.string()),
    })
    adj = np.array(["large", "hot", "blue", "small", "cold", "red"])
    noun = np.array(["ring", "bolt", "gear", "nut", "pipe"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            rng.choice(adj, n_part), " "), rng.choice(noun, n_part)), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                            pa.string()),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array((90000 + np.arange(n_part) % 20000 * 10) / 100.0,
                                  pa.float64()),
    })
    return out


def write(out_dir, tables):
    """Write {relative path: table} atomically: a half-written dir is
    never reused."""
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    for rel, t in tables.items():
        path = os.path.join(tmp, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(t, path)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


def generate(out_dir, seed, docs, clif_scale=0.0, waves=0, wave_docs=0):
    """Generate (or reuse) the inputs of one (seed, sizes) key.

    With `waves`, the first `docs` documents form `corpus/` and the next
    waves x wave_docs form `waves/`, tagged with their wave number."""
    if os.path.isdir(out_dir):
        return out_dir
    rng = np.random.default_rng(seed)
    corpus = documents(rng, docs + waves * wave_docs)
    if waves:
        wave = np.repeat(np.arange(waves, dtype=np.int32), wave_docs)
        tables = {
            "corpus/documents.parquet": corpus.slice(0, docs),
            "waves/documents.parquet": corpus.slice(docs).append_column(
                "wave", pa.array(wave, pa.int32())),
        }
    else:
        tables = {"documents.parquet": corpus}
    if clif_scale > 0:
        tables.update({f"{name}.parquet": t
                       for name, t in clif_tables(rng, clif_scale).items()})
    write(out_dir, tables)
    return out_dir
