"""Seeded input generators for the graft benchmark.

Every input the program sees is written here, as parquet, from
`numpy.random.default_rng(seed)`: the same (workload, seed) always gives
byte-identical files. The generator also returns the plan the JVM harness
executes (paths, specs, thresholds) so both sides read one description.
"""
import json
import os
import string
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64

# Input make-up per workload. Sizes are chosen so that a run fits the
# benchmark's time budget on a 4-core host while each workload stays on
# its side of the program's size dispatches (see README.md).
SHAPES = {
    "etl_upsert": dict(
        batches=4,          # daily batches per round; each round starts empty
        rows=40000,         # source rows per daily file
        update_share=0.4,   # share of a day's rows that re-send an earlier key
        void_share=0.05,    # rows dropped by the ingestion predicate
        nonpos_share=0.03,  # rows dropped by the config filter (qty <= 0)
        customers=5000,
        payload_chars=160,  # wide column that the projection prunes
    ),
    "curation_small": dict(
        base_docs=4500, base_vecs=1800, drops=2, drop_docs=500,
        drop_vecs=200, bench_vecs=200, queries=20, clusters=16),
}

# Shares of a curation drop (documents and vectors alike).
CROSS_DUP = 0.15      # near-copies of a base item (at or above threshold)
CROSS_DECOY = 0.05    # heavier edits of a base item (mostly below threshold)
SELF_DUP = 0.05       # near-copies of an earlier item of the same drop
CONTAMINATED = 0.10   # vectors: near-copies of a benchmark-split vector
BENCH_DECOY = 0.05    # vectors: heavier perturbations of a benchmark vector

TEXT_THRESHOLD = 0.8
EMB_THRESHOLD = 0.9

# The warm-up inputs: the workload's own batch shape (curation on a smaller
# base), from a fixed seed, so the JIT and Spark's caches have seen every
# hot path at full batch size before the timed phase. Generated once per
# checkout.
WARM = {
    "etl_upsert": SHAPES["etl_upsert"],
    "curation_small": dict(SHAPES["curation_small"], base_docs=1500,
                           base_vecs=600, drops=1),
}


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---------------------------------------------------------------- ETL

REGIONS = ["north", "South", " east", "WEST ", "central", "Pacific"]
STATUSES = ["open", "shipped", "returned", "void"]


def gen_etl(root: str, seed: int, shape: dict) -> dict:
    """Daily order files: each day mixes new order keys with re-sent
    (updated) earlier keys, plus rows the predicate or the config
    filter drop, plus a wide payload column the projection prunes."""
    rng = np.random.default_rng(seed)
    n, days = shape["rows"], shape["batches"]
    next_key = 1
    sent = np.empty(0, dtype=np.int64)
    files = []
    for d in range(days):
        n_upd = 0 if d == 0 else int(n * shape["update_share"])
        n_upd = min(n_upd, len(sent))
        upd = rng.choice(sent, size=n_upd, replace=False) if n_upd else \
            np.empty(0, dtype=np.int64)
        new = np.arange(next_key, next_key + (n - n_upd), dtype=np.int64)
        next_key += n - n_upd
        keys = np.concatenate([upd, new])
        rng.shuffle(keys)
        sent = np.concatenate([sent, new])
        status = rng.choice(3, size=n)  # open/shipped/returned
        status = np.where(rng.random(n) < shape["void_share"], 3, status)
        qty = rng.integers(1, 20, size=n)
        qty = np.where(rng.random(n) < shape["nonpos_share"],
                       -rng.integers(0, 3, size=n), qty)
        cents = rng.integers(100, 250000, size=n)
        alphabet = np.array(list(string.ascii_lowercase + " "))
        payload = ["".join(rng.choice(alphabet, size=shape["payload_chars"]))
                   for _ in range(64)]
        t = pa.table({
            "order_id": pa.array(keys, pa.int64()),
            "customer_id": pa.array(rng.integers(1, shape["customers"] + 1, size=n),
                                    pa.int64()),
            "region": pa.array([REGIONS[i] for i in rng.integers(0, len(REGIONS), size=n)]),
            "status": pa.array([STATUSES[i] for i in status]),
            "amt": pa.array([Decimal(int(c)).scaleb(-2) for c in cents],
                            pa.decimal128(12, 2)),
            "qty": pa.array(qty, pa.int32()),
            "day": pa.array(np.full(n, d), pa.int32()),
            "payload": pa.array([payload[i] for i in rng.integers(0, 64, size=n)]),
        })
        path = os.path.join(root, f"day_{d:03d}.parquet")
        _write(t, path)
        files.append(path)
    return {"files": files}


def etl_spec(src: str, table: str, day: int) -> str:
    """One daily batch as a pipeline spec: projected, predicated ingest;
    config transform (filter, rename, add_columns, apply); SQL transform;
    upsert on the order key."""
    return json.dumps({
        "ingestion": {
            "path": src, "format": "parquet",
            "columns": ["order_id", "customer_id", "region", "status",
                        "amt", "qty", "day"],
            "predicate": "status <> 'void'",
        },
        "transformation": [
            {"type": "config", "config": {
                "rename": {"amt": "amount"},
                "filter": {"qty": {">": 0}},
                "add_columns": {"revenue": "amount * qty",
                                "ingest_day": f"'day-{day:03d}'"},
                "transformations": [
                    {"type": "apply", "column": "region", "function": "strip"},
                    {"type": "apply", "column": "region", "function": "upper"},
                ],
            }},
            {"type": "sql", "query":
                "SELECT order_id, customer_id, region, status, amount, qty, "
                "revenue, ingest_day, day, CASE WHEN revenue >= 10000 THEN 'large' "
                "WHEN revenue >= 1000 THEN 'medium' ELSE 'small' END AS size_band "
                "FROM input_data"},
        ],
        "persistence": {"path": table, "strategy": "upsert", "keys": ["order_id"]},
    }, sort_keys=True)


# The downstream report over the upserted table.
REPORT_COLUMNS = ["region", "size_band", "revenue"]
REPORT_CONFIG = {"aggregations": {
    "group_by": ["region", "size_band"],
    "aggregate": {"revenue": "SUM(revenue)", "n": "COUNT(*)"}}}


# ----------------------------------------------------------- curation

def _vocab(rng, size=5000):
    letters = np.array(list(string.ascii_lowercase))
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(letters, size=int(rng.integers(3, 10)))))
    return np.array(sorted(words))


def _zipf_words(rng, vocab, n):
    # Zipf-like ranks with an offset, so common words repeat across
    # documents the way natural text does without making whole
    # trigrams common.
    ranks = np.arange(len(vocab))
    p = 1.0 / (ranks + 20.0)
    p /= p.sum()
    return list(vocab[rng.choice(len(vocab), size=n, p=p)])


def _fresh_doc(rng, vocab):
    return _zipf_words(rng, vocab, int(rng.integers(60, 81)))


def _edit(rng, vocab, words, subs):
    w = list(words)
    for pos in rng.choice(len(w), size=min(subs, len(w)), replace=False):
        w[pos] = vocab[rng.integers(0, len(vocab))]
    return w


def _unit(x):
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def _cluster_vecs(rng, centres, n):
    c = centres[rng.integers(0, len(centres), size=n)]
    return _unit(c + rng.standard_normal((n, DIM)) / np.sqrt(DIM))


def _perturb(rng, v, eps):
    return _unit(v + eps * rng.standard_normal(v.shape) / np.sqrt(DIM))


def _docs_table(ids, docs, source):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array([" ".join(d) for d in docs]),
        "lang": pa.array(["en"] * len(docs)),
        "source": pa.array([source] * len(docs)),
    })


def _emb_table(ids, vecs, labels):
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (len(ids) + 1) * DIM, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def gen_curation(root: str, seed: int, shape: dict) -> dict:
    """A base corpus, a benchmark split and daily drops. Each drop plants
    near-dups of the base (cross), of its own earlier items (in-batch),
    of the benchmark split (contamination) and decoys with heavier edits."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    centres = _unit(rng.standard_normal((shape["clusters"], DIM)))

    base_docs = [_fresh_doc(rng, vocab) for _ in range(shape["base_docs"])]
    _write(_docs_table(np.arange(shape["base_docs"]), base_docs, "base"),
           os.path.join(root, "base_docs.parquet"))
    base_vecs = _cluster_vecs(rng, centres, shape["base_vecs"])
    _write(_emb_table(np.arange(shape["base_vecs"]), base_vecs,
                      rng.integers(0, 8, size=shape["base_vecs"])),
           os.path.join(root, "base_emb.parquet"))
    bench = _cluster_vecs(rng, centres, shape["bench_vecs"])
    bench_ids = 10_000_000 + np.arange(shape["bench_vecs"])
    _write(_emb_table(bench_ids, bench, np.zeros(len(bench_ids), dtype=np.int32)),
           os.path.join(root, "bench_emb.parquet"))

    drops = []
    for d in range(shape["drops"]):
        # ---- documents
        nd = shape["drop_docs"]
        docs = []
        for i in range(nd):
            r = rng.random()
            if r < CROSS_DUP:
                docs.append(_edit(rng, vocab, base_docs[rng.integers(0, len(base_docs))],
                                  int(rng.integers(0, 3))))
            elif r < CROSS_DUP + CROSS_DECOY:
                docs.append(_edit(rng, vocab, base_docs[rng.integers(0, len(base_docs))],
                                  int(rng.integers(4, 8))))
            elif r < CROSS_DUP + CROSS_DECOY + SELF_DUP and docs:
                src = docs[int(rng.integers(0, len(docs)))]
                docs.append(_edit(rng, vocab, src, int(rng.integers(0, 3))))
            else:
                docs.append(_fresh_doc(rng, vocab))
        # shuffle so planted copies spread over the id range
        order = rng.permutation(nd)
        docs = [docs[i] for i in order]
        doc0 = 1_000_000 * (d + 1)
        doc_path = os.path.join(root, f"drop_{d:02d}_docs.parquet")
        _write(_docs_table(doc0 + np.arange(nd), docs, f"drop{d}"), doc_path)

        # ---- vectors
        nv = shape["drop_vecs"]
        vecs = np.empty((nv, DIM))
        for i in range(nv):
            r = rng.random()
            if r < CROSS_DUP:
                vecs[i] = _perturb(rng, base_vecs[rng.integers(0, len(base_vecs))], 0.2)
            elif r < CROSS_DUP + CROSS_DECOY:
                vecs[i] = _perturb(rng, base_vecs[rng.integers(0, len(base_vecs))], 0.6)
            elif r < CROSS_DUP + CROSS_DECOY + SELF_DUP and i > 0:
                vecs[i] = _perturb(rng, vecs[rng.integers(0, i)], 0.2)
            elif r < CROSS_DUP + CROSS_DECOY + SELF_DUP + CONTAMINATED:
                vecs[i] = _perturb(rng, bench[rng.integers(0, len(bench))], 0.2)
            elif r < CROSS_DUP + CROSS_DECOY + SELF_DUP + CONTAMINATED + BENCH_DECOY:
                vecs[i] = _perturb(rng, bench[rng.integers(0, len(bench))], 0.6)
            else:
                vecs[i] = _cluster_vecs(rng, centres, 1)[0]
        vec0 = 1_000_000 * (d + 1)
        emb_path = os.path.join(root, f"drop_{d:02d}_emb.parquet")
        _write(_emb_table(vec0 + np.arange(nv), vecs, rng.integers(0, 8, size=nv)),
               emb_path)
        drops.append({"docs": doc_path, "emb": emb_path, "doc0": doc0,
                      "vec0": vec0, "queries": shape["queries"]})
    return {
        "base_docs": os.path.join(root, "base_docs.parquet"),
        "base_emb": os.path.join(root, "base_emb.parquet"),
        "bench_emb": os.path.join(root, "bench_emb.parquet"),
        "drops": drops,
        "text_threshold": TEXT_THRESHOLD,
        "emb_threshold": EMB_THRESHOLD,
        "ann_k": 10,
    }


def generate(workload: str, root: str, seed: int, warm: bool = False) -> dict:
    """Write the inputs of (workload, seed) under `root` unless a complete
    set is already there, and return their description."""
    shape = (WARM if warm else SHAPES)[workload]
    meta = os.path.join(root, "inputs.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f)
    if workload == "etl_upsert":
        desc = gen_etl(root, seed, shape)
    else:
        desc = gen_curation(root, seed, shape)
    desc["shape"] = shape
    tmp = meta + ".tmp"
    with open(tmp, "w") as f:
        json.dump(desc, f)
    os.replace(tmp, meta)  # written last: marks the set complete
    return desc
