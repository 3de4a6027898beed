"""Correctness checks of the benchmark, computed apart from the program.

etl_upsert: DuckDB recomputes, from the generated daily files, every
batch's upsert (inserted, updated, rows written), the final table and the
report aggregate after each batch. A re-submitted spec must come back
skipped and write nothing.

curation_*: an exact reference from the generated inputs. Text near-dups
come from an exact all-pairs Jaccard search (prefix-filtered, so every
pair at or above the threshold is found); embedding near-dups,
decontamination and kNN come from exact numpy cosines. A dropped or
flagged item must have a witness at or above the threshold (no reported
pair below it), and recall must reach the floor each operator documents.
The reference is cached per seed under .bench_work/refs/.

    python3 perfbench/check.py --rebuild --workload curation_small --seed 1
    python3 perfbench/check.py --self-test

`--rebuild` recomputes a cached reference. `--self-test` feeds correct
outputs (built from the reference) and corrupted ones to the checker and
fails unless the first pass and every corruption is caught.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import gen  # noqa: E402

# Recall floors. Text: the stored-state probe shares nearDupIncrement's
# duplicate contract, which is verdict-equal to the all-pairs answer up to
# the LSH miss rate (< 1e-7 per pair at J >= 0.8 with 32 bands x 4 rows).
# Embeddings and decontamination: the IVF cell-candidate recall
# certificate (>= 0.9). kNN: the IVF-PQ recall floor vs brute force (0.5).
FLOOR = {"dedup_text": 0.99, "dedup_emb": 0.9, "decon_sem": 0.9, "ann": 0.5}
# Values within EPS of the threshold may go either way (rounding of the
# program's doubles to 6 places vs the reference's).
EPS = 1e-6
REF_VERSION = 1


# ------------------------------------------------------------------ ETL

def etl_expected(files):
    """Per batch: (inserted, updated, written, report); and the final
    table, as a DuckDB connection holding `state`."""
    con = duckdb.connect()
    out = []
    for d, f in enumerate(files):
        rev = "amt * qty"
        con.execute(f"""CREATE OR REPLACE TABLE delta AS
            SELECT order_id, customer_id, upper(trim(region)) AS region, status,
                   amt AS amount, qty, {rev} AS revenue, 'day-{d:03d}' AS ingest_day, day,
                   CASE WHEN {rev} >= 10000 THEN 'large' WHEN {rev} >= 1000 THEN 'medium'
                        ELSE 'small' END AS size_band
            FROM read_parquet('{f}') WHERE status <> 'void' AND qty > 0""")
        n = con.sql("SELECT count(*) FROM delta").fetchone()[0]
        if d == 0:
            con.execute("CREATE TABLE state AS SELECT * FROM delta")
            upd = 0
        else:
            upd = con.sql("SELECT count(*) FROM delta WHERE order_id IN "
                          "(SELECT order_id FROM state)").fetchone()[0]
            con.execute("""CREATE OR REPLACE TABLE state AS
                SELECT * FROM delta UNION ALL
                SELECT * FROM state WHERE order_id NOT IN (SELECT order_id FROM delta)""")
        written = con.sql("SELECT count(*) FROM state").fetchone()[0]
        report = con.sql("SELECT region, size_band, SUM(revenue), COUNT(*) "
                         "FROM state GROUP BY ALL").fetchall()
        out.append({"inserted": n - upd, "updated": upd, "written": written,
                    # the program's SUM is an exact decimal sum cast to double
                    "report": sorted((r, b, float(s), c) for r, b, s, c in report)})
    return out, con


TABLE_COLS = ("order_id, customer_id, region, status, amount, qty, revenue, "
              "ingest_day, day, size_band")


def verify_etl(inputs, outputs, rounds):
    problems = []
    expected, con = etl_expected(inputs["files"])
    got = outputs.get("batches", [])
    if len(got) != len(expected):
        return [f"etl: {len(got)} batch records, expected {len(expected)}"]
    for b, (e, g) in enumerate(zip(expected, got)):
        if g["skipped"]:
            problems.append(f"etl batch {b}: first submission was skipped")
        for k in ("inserted", "updated", "written"):
            if g[k] != e[k]:
                problems.append(f"etl batch {b}: {k} {g[k]}, expected {e[k]}")
        if not g["resubmit_skipped"] or g["resubmit_wrote"]:
            problems.append(f"etl batch {b}: re-submitted spec was not skipped")
        rep = sorted((r[0], r[1], float(r[2]), r[3]) for r in g.get("report") or [])
        if rep != e["report"]:
            problems.append(f"etl batch {b}: report differs from the DuckDB aggregate")
    table = outputs.get("table", "")
    if not os.path.isdir(table):
        problems.append("etl: final table missing")
    else:
        con.execute(f"CREATE TABLE prog AS SELECT {TABLE_COLS} "
                    f"FROM read_parquet('{table}/*.parquet')")
        for a, b in (("prog", "state"), ("state", "prog")):
            n = con.sql(f"SELECT count(*) FROM (SELECT {TABLE_COLS} FROM {a} EXCEPT ALL "
                        f"SELECT {TABLE_COLS} FROM {b})").fetchone()[0]
            if n:
                problems.append(f"etl: {n} rows of {a} are not in {b} (final table)")
    problems += same_rounds(rounds)
    return problems


def same_rounds(rounds):
    digests = {r["digest"] for r in rounds}
    return [] if len(digests) == 1 else [f"outputs differ between rounds ({len(digests)} digests)"]


# -------------------------------------------------------------- curation

def _docs(path):
    t = pq.read_table(path, columns=["doc_id", "text"])
    return t["doc_id"].to_pylist(), t["text"].to_pylist()


def _vecs(path):
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = np.array(t["vec_id"].to_pylist(), dtype=np.int64)
    flat = t["embedding"].combine_chunks().flatten().to_numpy(zero_copy_only=False)
    v = flat.astype(np.float64).reshape(len(ids), gen.DIM)
    return ids, v, np.sqrt((v * v).sum(axis=1))


def text_witness(base_texts, drop_ids, drop_texts, t):
    """Exact max Jaccard of each drop doc against the base and against
    the drop's smaller ids: prefix filtering under a global token order
    finds every pair with Jaccard >= t_lo, then each is verified exactly."""
    vocab = {}

    def shingle_ids(text):
        w = text.split()
        return frozenset(vocab.setdefault((w[i], w[i + 1], w[i + 2]), len(vocab))
                         for i in range(len(w) - 2))

    base = [shingle_ids(x) for x in base_texts]
    drop = [shingle_ids(x) for x in drop_texts]
    freq = np.zeros(len(vocab), dtype=np.int64)
    for s in base + drop:
        freq[list(s)] += 1
    t_lo = t - EPS

    def prefix(s):
        order = sorted(s, key=lambda x: (freq[x], x))
        return order[:len(s) - math.ceil(t_lo * len(s)) + 1]

    index = {}
    for i, s in enumerate(base):
        for tok in prefix(s):
            index.setdefault(tok, []).append(i)
    self_index = {}
    best = {}
    for pos in np.argsort(drop_ids, kind="stable"):
        x = drop[pos]
        m = 0.0
        for idx, pool in ((index, base), (self_index, drop)):
            cands = set()
            for tok in prefix(x):
                cands.update(idx.get(tok, ()))
            for c in cands:
                y = pool[c]
                inter = len(x & y)
                if inter:
                    m = max(m, inter / (len(x) + len(y) - inter))
        best[drop_ids[pos]] = m
        for tok in prefix(x):
            self_index.setdefault(tok, []).append(pos)
    return best


def cos_blocks(a, an, b, bn, fn, block=2048):
    """Apply fn(row offset, rounded cosine block) over a x b."""
    for i in range(0, len(a), block):
        c = (a[i:i + block] @ b.T) / np.outer(an[i:i + block], bn)
        fn(i, np.round(c, 6))


def emb_witness(base, drop):
    """Exact max cosine of each drop vector against the base and against
    the drop's smaller ids."""
    _, bv, bn = base
    ids, dv, dn = drop
    order = np.argsort(ids, kind="stable")
    ids, dv, dn = ids[order], dv[order], dn[order]
    best = np.full(len(ids), -np.inf)

    def cross(i, c):
        best[i:i + len(c)] = np.maximum(best[i:i + len(c)], c.max(axis=1))
    cos_blocks(dv, dn, bv, bn, cross)

    def self_pairs(i, c):
        mask = np.arange(c.shape[1])[None, :] < (i + np.arange(len(c)))[:, None]
        c = np.where(mask, c, -np.inf)
        best[i:i + len(c)] = np.maximum(best[i:i + len(c)], c.max(axis=1))
    for i in range(0, len(ids), 2048):
        cos_blocks(dv[i:i + 2048], dn[i:i + 2048], dv[:i + 2048], dn[:i + 2048],
                   lambda _, c, i=i: self_pairs(i, c), block=2048)
    return dict(zip(ids.tolist(), best.tolist()))


def split(best, t):
    must = sorted(k for k, v in best.items() if v >= t + EPS)
    may = sorted(k for k, v in best.items() if v >= t - EPS)
    return must, may


def curation_reference(inputs):
    t_text, t_emb, k = inputs["text_threshold"], inputs["emb_threshold"], inputs["ann_k"]
    _, base_texts = _docs(inputs["base_docs"])
    base = _vecs(inputs["base_emb"])
    bench = _vecs(inputs["bench_emb"])
    drops = []
    for d in inputs["drops"]:
        ids, texts = _docs(d["docs"])
        tw = text_witness(base_texts, ids, texts, t_text)
        drop = _vecs(d["emb"])
        ew = emb_witness(base, drop)
        # decontamination: exact max cosine and match counts per drop vector
        dmax = np.full(len(drop[0]), -np.inf)
        cnt_lo = np.zeros(len(drop[0]), dtype=np.int64)

        def decon(i, c):
            dmax[i:i + len(c)] = c.max(axis=1)
            cnt_lo[i:i + len(c)] = (c >= t_emb - EPS).sum(axis=1)
        cos_blocks(drop[1], drop[2], bench[1], bench[2], decon)
        decon_ref = {int(v): [float(m), int(n)] for v, m, n in zip(drop[0], dmax, cnt_lo)}
        # kNN: exact top-k over base + drop for the drop's first queries
        all_ids = np.concatenate([base[0], drop[0]])
        all_v = np.vstack([base[1], drop[1]])
        all_n = np.concatenate([base[2], drop[2]])
        q = (drop[0] >= d["vec0"]) & (drop[0] < d["vec0"] + d["queries"])
        knn = {}

        def topk(i, c):
            for r, qid in enumerate(drop[0][q][i:i + len(c)]):
                row = c[r].copy()
                row[all_ids == qid] = -np.inf
                top = np.lexsort((all_ids, -row))[:k]
                knn[int(qid)] = [[int(all_ids[j]), float(row[j])] for j in top]
        cos_blocks(drop[1][q], drop[2][q], all_v, all_n, topk)
        must_t, may_t = split(tw, t_text)
        must_e, may_e = split(ew, t_emb)
        must_d, may_d = split({k2: v[0] for k2, v in decon_ref.items()}, t_emb)
        drops.append({"text_ids": sorted(ids), "text_must": must_t, "text_may": may_t,
                      "emb_ids": sorted(drop[0].tolist()), "emb_must": must_e,
                      "emb_may": may_e, "decon": decon_ref, "decon_must": must_d,
                      "decon_may": may_d, "knn": knn})
    return {"version": REF_VERSION, "drops": drops}


def _inputs_key(inputs):
    return hashlib.sha256(json.dumps(inputs, sort_keys=True).encode()).hexdigest()


def reference(workload, seed, inputs, work, rebuild=False):
    """The cached exact reference of (workload, seed); ETL's is computed
    by DuckDB at check time and needs no cache."""
    if workload == "etl_upsert":
        return {}
    path = os.path.join(work, "refs", workload, f"seed-{seed}.json")
    key = _inputs_key(inputs)
    if not rebuild and os.path.exists(path):
        with open(path) as f:
            ref = json.load(f)
        if ref.get("key") == key and ref.get("version") == REF_VERSION:
            return ref
    # through JSON either way, so a fresh and a cached reference read alike
    ref = json.loads(json.dumps(curation_reference(inputs)))
    ref["key"] = key
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(path + ".tmp", path)
    return ref


def _dedup_problems(name, d, all_ids, survivors, must, may):
    problems = []
    all_ids, survivors = set(all_ids), list(survivors)
    if len(set(survivors)) != len(survivors) or not set(survivors) <= all_ids:
        problems.append(f"{name} drop {d}: survivors repeat or are not drop ids")
    dropped = all_ids - set(survivors)
    bad = dropped - set(may)
    if bad:
        problems.append(f"{name} drop {d}: {len(bad)} dropped without a witness at the "
                        f"threshold (e.g. {sorted(bad)[:3]})")
    if must:
        rec = len(dropped & set(must)) / len(must)
        if rec < FLOOR[name]:
            problems.append(f"{name} drop {d}: recall {rec:.4f} < {FLOOR[name]} "
                            f"({len(must)} true duplicates)")
    return problems


def verify_curation(inputs, ref, outputs, rounds):
    problems = same_rounds(rounds)
    got = outputs.get("drops", [])
    if len(got) != len(ref["drops"]):
        return problems + [f"{len(got)} drop records, expected {len(ref['drops'])}"]
    t = inputs["emb_threshold"]
    k = inputs["ann_k"]
    vecs = {}
    for d, (r, g, spec) in enumerate(zip(ref["drops"], got, inputs["drops"])):
        problems += _dedup_problems("dedup_text", d, r["text_ids"], g["dedup_text"],
                                    r["text_must"], r["text_may"])
        problems += _dedup_problems("dedup_emb", d, r["emb_ids"], g["dedup_emb"],
                                    r["emb_must"], r["emb_may"])
        # decontamination: one row per drop vector
        rows = {row[0]: row for row in g["decon_sem"]}
        if len(rows) != len(g["decon_sem"]) or set(rows) != set(r["emb_ids"]):
            problems.append(f"decon_sem drop {d}: rows are not one per drop vector")
        flagged, wrong = set(), 0
        for vid, (_, n, mx, flag) in rows.items():
            emax, cnt = r["decon"][str(vid)]
            if flag != (mx is not None) or (not flag and n != 0):
                wrong += 1
            elif flag:
                flagged.add(vid)
                if emax < t - EPS or mx < t - EPS or mx > emax + EPS or not 1 <= n <= cnt:
                    wrong += 1
        if wrong:
            problems.append(f"decon_sem drop {d}: {wrong} rows disagree with exact cosines")
        must = set(r["decon_must"])
        if must and len(flagged & must) / len(must) < FLOOR["decon_sem"]:
            problems.append(f"decon_sem drop {d}: recall {len(flagged & must) / len(must):.4f}"
                            f" < {FLOOR['decon_sem']}")
        # kNN: ranks 1..k in order, values equal exact cosines, recall@k
        if not vecs:
            vecs["base"] = _vecs(inputs["base_emb"])
        ids_d, v_d, n_d = _vecs(spec["emb"])
        ids = np.concatenate([vecs["base"][0], ids_d])
        pos = {int(x): i for i, x in enumerate(ids)}
        allv = np.vstack([vecs["base"][1], v_d])
        alln = np.concatenate([vecs["base"][2], n_d])
        per_q = {}
        for qid, rank, nid, cos in g["ann"]:
            per_q.setdefault(qid, []).append((rank, nid, cos))
        if set(per_q) != {int(x) for x in r["knn"]}:
            problems.append(f"ann drop {d}: result queries differ from the query set")
        hit = total = bad = 0
        for qid, exact in r["knn"].items():
            res = sorted(per_q.get(int(qid), []))
            ranks = [x[0] for x in res]
            coss = [x[2] for x in res]
            if ranks != list(range(1, k + 1)) or any(a < b for a, b in zip(coss, coss[1:])):
                bad += 1
            qi = pos[int(qid)]
            for _, nid, cos in res:
                ni = pos.get(nid)
                if ni is None or nid == int(qid):
                    bad += 1
                    continue
                true = round(float(allv[qi] @ allv[ni] / (alln[qi] * alln[ni])), 6)
                if abs(true - cos) > 2 * EPS:
                    bad += 1
            hit += len({x[1] for x in res} & {e[0] for e in exact})
            total += len(exact)
        if bad:
            problems.append(f"ann drop {d}: {bad} ranks or values disagree with exact cosines")
        if total and hit / total < FLOOR["ann"]:
            problems.append(f"ann drop {d}: recall@{k} {hit / total:.4f} < {FLOOR['ann']}")
    return problems


def verify(workload, inputs, ref, outputs, rounds):
    """Every problem found; an empty list means the outputs are correct."""
    if workload == "etl_upsert":
        return verify_etl(inputs, outputs, rounds)
    return verify_curation(inputs, ref, outputs, rounds)


# ------------------------------------------------------------- self-test

def _correct_etl_outputs(inputs, table_dir):
    expected, con = etl_expected(inputs["files"])
    os.makedirs(table_dir, exist_ok=True)
    con.execute(f"COPY (SELECT {TABLE_COLS} FROM state) TO "
                f"'{table_dir}/part-0.parquet' (FORMAT PARQUET)")
    batches = [{"skipped": False, "inserted": e["inserted"], "updated": e["updated"],
                "written": e["written"], "resubmit_skipped": True, "resubmit_wrote": False,
                "report": [[r, b, repr(s), c] for r, b, s, c in e["report"]]}
               for e in expected]
    return {"batches": batches, "table": table_dir}


def _correct_curation_outputs(ref):
    drops = []
    for r in ref["drops"]:
        decon = []
        for vid in r["emb_ids"]:
            emax, cnt = r["decon"][str(vid)]
            hit = vid in set(r["decon_must"])
            decon.append([vid, cnt if hit else 0, emax if hit else None, hit])
        ann = [[int(q), i + 1, nid, cos] for q, ex in r["knn"].items()
               for i, (nid, cos) in enumerate(ex)]
        drops.append({
            "dedup_text": sorted(set(r["text_ids"]) - set(r["text_must"])),
            "dedup_emb": sorted(set(r["emb_ids"]) - set(r["emb_must"])),
            "decon_sem": decon, "ann": ann})
    return {"drops": drops}


def self_test(work):
    rounds = [{"digest": "a"}, {"digest": "a"}]
    ok = True
    root = os.path.join(work, "selftest")
    shutil.rmtree(root, ignore_errors=True)

    def expect(name, problems, want_fail):
        nonlocal ok
        good = bool(problems) == want_fail
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {name}: "
              f"{'caught: ' + problems[0] if problems else 'passes'}")

    etl_in = gen.generate("etl_upsert", os.path.join(root, "etl"), 7, warm=True)
    base = _correct_etl_outputs(etl_in, os.path.join(root, "etl", "table"))
    expect("etl correct outputs", verify_etl(etl_in, base, rounds), False)

    def etl_case(name, mutate, rnds=rounds):
        o = json.loads(json.dumps(base))
        mutate(o)
        expect(name, verify_etl(etl_in, o, rnds), True)
    etl_case("etl inserted count off by one",
             lambda o: o["batches"][1].__setitem__("inserted", o["batches"][1]["inserted"] + 1))
    etl_case("etl report value changed",
             lambda o: o["batches"][0]["report"][0].__setitem__(
                 2, repr(float(o["batches"][0]["report"][0][2]) + 1)))
    etl_case("etl re-submit not skipped",
             lambda o: o["batches"][1].__setitem__("resubmit_skipped", False))
    etl_case("etl rounds disagree", lambda o: None, [{"digest": "a"}, {"digest": "b"}])
    short = os.path.join(root, "etl", "short")
    os.makedirs(short)
    con = duckdb.connect()
    con.execute(f"COPY (SELECT * FROM read_parquet('{base['table']}/*.parquet') "
                f"LIMIT (SELECT count(*) - 1 FROM read_parquet('{base['table']}/*.parquet')))"
                f" TO '{short}/part-0.parquet' (FORMAT PARQUET)")
    etl_case("etl final table lost a row", lambda o: o.__setitem__("table", short))

    cur_in = gen.generate("curation_small", os.path.join(root, "cur"), 7, warm=True)
    ref = json.loads(json.dumps(curation_reference(cur_in)))
    good = _correct_curation_outputs(ref)
    expect("curation correct outputs", verify_curation(cur_in, ref, good, rounds), False)
    r0 = ref["drops"][0]

    def cur_case(name, mutate):
        o = json.loads(json.dumps(good))
        mutate(o["drops"][0])
        expect(name, verify_curation(cur_in, ref, o, rounds), True)
    clean_t = sorted(set(r0["text_ids"]) - set(r0["text_may"]))
    clean_e = sorted(set(r0["emb_ids"]) - set(r0["emb_may"]))
    cur_case("dedup_text drops a document with no witness",
             lambda g: g["dedup_text"].remove(clean_t[0]))
    cur_case("dedup_text keeps every duplicate",
             lambda g: g.__setitem__("dedup_text", r0["text_ids"]))
    cur_case("dedup_emb drops a vector with no witness",
             lambda g: g["dedup_emb"].remove(clean_e[0]))
    cur_case("decon_sem flags a clean vector",
             lambda g: [row.__setitem__(slice(1, 4), [1, 0.99, True])
                        for row in g["decon_sem"] if row[0] == clean_e[0]])
    cur_case("decon_sem reports a max above the exact one",
             lambda g: (lambda row: row.__setitem__(2, row[2] + 0.01))(
                 next(row for row in g["decon_sem"] if row[3])))
    cur_case("ann ranks out of order",
             lambda g: g["ann"][0].__setitem__(3, g["ann"][0][3] - 0.5))
    cur_case("ann neighbours replaced",
             lambda g: [row.__setitem__(2, r0["emb_ids"][(i * 7) % len(r0["emb_ids"])])
                        for i, row in enumerate(g["ann"])])
    shutil.rmtree(root, ignore_errors=True)
    return ok


def main():
    ap = argparse.ArgumentParser(description="graft benchmark checks")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    args = ap.parse_args()
    work = os.path.join(os.getcwd(), ".bench_work")
    if args.self_test:
        sys.exit(0 if self_test(work) else 1)
    if args.rebuild:
        inputs = gen.generate(args.workload, os.path.join(
            work, "inputs", args.workload, f"seed-{args.seed}"), args.seed)
        reference(args.workload, args.seed, inputs, work, rebuild=True)
        print(f"rebuilt reference of {args.workload} seed {args.seed}")
        return
    ap.error("nothing to do: pass --self-test or --rebuild")


if __name__ == "__main__":
    main()
