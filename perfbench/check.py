"""Correctness checks for one perfbench run, computed apart from the
program: DuckDB over the generated input files, numpy, and plain
Python. Nothing is compared against a stored copy of earlier output.

check_run(workload, in_dir, result) -> {"checked", "failed_checks",
"failed_ops", "messages"}; an op whose output fails a check counts as a
failed operation.
"""
import glob
import json
import os
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

import duckdb
import numpy as np
import pandas as pd

JACCARD_THRESHOLD = 0.8   # d_minhash_lsh verification threshold
RECALL_FLOOR = 0.95       # share of planted pairs (true J >= 0.8) found
ANN_QUERIES = 16          # s_ann_bruteforce: queries are vec_id < 16
ANN_TOP_K = 5
SESSION_GAP = timedelta(minutes=30)
LATE_ID = 10**9
NEARDUP_TOP = 20          # d_embed_neardup reports its top 20 pairs


def canon(df: pd.DataFrame):
    """Columns sorted by name, values stringified, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    return sorted(df.astype(str).values.tolist())


def read_out(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def shingles(text):
    t = text.split(" ")
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def sessions(ts):
    """(start, last, n) of each session: a gap of 30 minutes or more
    between consecutive events starts a new one."""
    out, start, n = [], ts[0], 0
    for prev, t in zip([ts[0]] + ts[:-1], ts):
        if t >= prev + SESSION_GAP:
            out.append((start, prev, n))
            start, n = t, 0
        n += 1
    out.append((start, ts[-1], n))
    return out


class Checker:
    def __init__(self, in_dir, manifest):
        self.in_dir, self.manifest = in_dir, manifest
        self.con = duckdb.connect()
        self.con.sql(f"SET threads TO {os.cpu_count()}")
        for p in sorted(glob.glob(f"{in_dir}/*.parquet")):
            name = os.path.basename(p)[:-len(".parquet")]
            self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        self.checked, self.messages = 0, []
        self._oracle, self._docs, self._cum = {}, None, None

    def fail(self, msg):
        self.messages.append(msg)
        return False

    def run(self, ok_fn, label):
        self.checked += 1
        try:
            return ok_fn()
        except Exception as e:  # a check that cannot run is a failed check
            return self.fail(f"{label}: {type(e).__name__}: {e}")

    # ---- registered ops ------------------------------------------------

    def op(self, rec):
        name, label = rec["name"], f"pass{rec['pass']} {rec['name']}"
        out = read_out(rec["out"])
        if out is None:
            return self.fail(f"{label}: no output")
        ok = True
        if name == "d_embed_neardup":
            ok &= self.exact_neardup(out, label)
        elif rec["oracle"]:
            if name not in self._oracle:
                self._oracle[name] = canon(self.con.sql(rec["oracle"]).df())
            if isinstance(self._oracle[name], Exception):
                raise self._oracle[name]
            got = canon(out)
            if got != self._oracle[name]:
                ok = self.fail(f"{label}: {len(got)} rows differ from the DuckDB oracle "
                               f"({len(self._oracle[name])} rows)")
        if name == "d_minhash_lsh":
            ok &= self.near_dups(out, label)
        if name == "s_ann_bruteforce":
            ok &= self.exact_topk(out, label)
        return ok

    def exact_neardup(self, out, label):
        """d_embed_neardup reports the 20 most similar pairs its LSH
        blocking finds. Planted near-copies (cosine > 0.99) outnumber 20
        and share a bucket, so they equal the exact top 20 over all
        pairs, computed here with numpy (the DuckDB oracle is quadratic
        in SQL and takes tens of seconds)."""
        ids, v = self.vectors()
        cos = v @ v.T
        iu = np.triu_indices(len(ids), 1)
        c = cos[iu]
        top = np.lexsort((ids[iu[1]], ids[iu[0]], -c))[:NEARDUP_TOP]
        want = [(ids[iu[0][t]], ids[iu[1][t]], c[t]) for t in top]
        got = out.sort_values(["cosine", "vec_a", "vec_b"], ascending=[False, True, True])
        got = list(zip(got["vec_a"], got["vec_b"], got["cosine"]))
        if len(got) != len(want) or any(
                (a, b) != (x, y) or abs(c1 - c2) > 1e-6
                for (a, b, c1), (x, y, c2) in zip(got, want)):
            return self.fail(f"{label}: top pairs differ from the exact top {NEARDUP_TOP}")
        return True

    def vectors(self):
        e = pd.read_parquet(f"{self.in_dir}/embeddings.parquet")
        ids = e["vec_id"].to_numpy()
        v = np.stack(e["embedding"].to_numpy()).astype(np.float64)
        return ids, v / np.linalg.norm(v, axis=1, keepdims=True)

    def prefetch(self, ops):
        """Run every distinct oracle once, concurrently: most scan one
        row group, so DuckDB runs each on about one thread."""
        todo = {r["name"]: r["oracle"] for r in ops
                if r["oracle"] and r["name"] != "d_embed_neardup"}

        def one(item):
            name, sql = item
            try:
                return name, canon(self.con.cursor().sql(sql).df())
            except Exception as e:  # reported when the op is checked
                return name, e
        with ThreadPoolExecutor(max_workers=os.cpu_count()) as ex:
            self._oracle.update(ex.map(one, todo.items()))

    def docs(self):
        if self._docs is None:
            d = pd.read_parquet(f"{self.in_dir}/documents.parquet")
            self._docs = dict(zip(d["doc_id"], (shingles(t) for t in d["text"])))
        return self._docs

    def near_dups(self, out, label):
        docs = self.docs()
        found = set()
        for a, b in zip(out["doc_a"], out["doc_b"]):
            j = jaccard(docs[a], docs[b])
            if j < JACCARD_THRESHOLD:
                return self.fail(f"{label}: pair ({a},{b}) has word-3-gram Jaccard {j:.4f}")
            found.add((min(a, b), max(a, b)))
        planted = set()
        for fam in self.manifest["families"]:
            for i, a in enumerate(fam):
                for b in fam[i + 1:]:
                    if jaccard(docs[a], docs[b]) >= JACCARD_THRESHOLD:
                        planted.add((min(a, b), max(a, b)))
        recall = len(planted & found) / max(1, len(planted))
        if recall < RECALL_FLOOR:
            return self.fail(f"{label}: planted near-duplicate recall {recall:.3f} "
                             f"< {RECALL_FLOOR} ({len(planted)} planted)")
        return True

    def exact_topk(self, out, label):
        ids, v = self.vectors()
        got = out.sort_values(["query_id", "rank"])
        for q in range(ANN_QUERIES):
            cos = v @ v[ids == q][0]
            order = [i for i in np.lexsort((ids, -cos)) if ids[i] != q][:ANN_TOP_K]
            rows = got[got["query_id"] == q]
            if list(rows["rank"]) != list(range(1, ANN_TOP_K + 1)):
                return self.fail(f"{label}: query {q} ranks {list(rows['rank'])}")
            for (_, r), i in zip(rows.iterrows(), order):
                if r["neighbor_id"] != ids[i] and abs(cos[ids == r["neighbor_id"]][0] - cos[i]) > 1e-9:
                    return self.fail(f"{label}: query {q} rank {r['rank']} is "
                                     f"{r['neighbor_id']}, exact top-k has {ids[i]}")
                if abs(r["cosine"] - cos[i]) > 1e-5:
                    return self.fail(f"{label}: query {q} cosine {r['cosine']} vs {cos[i]}")
        return True

    # ---- commit log ----------------------------------------------------

    def batch_aggs(self):
        files = sorted(glob.glob(f"{self.in_dir}/batches/*.parquet"))
        rows = [self.con.sql(
            f"SELECT count(*), sum(event_id), sum(CAST(round(value * 100) AS BIGINT)) "
            f"FROM read_parquet('{f}')").fetchone() for f in files]
        return np.cumsum(np.array(rows, dtype=np.int64), axis=0)

    def probe(self, p):
        if self._cum is None:
            self._cum = self.batch_aggs()
        want = tuple(int(x) for x in self._cum[p["upto"]])
        got = (p["count"], p["sum_id"], p["sum_cents"])
        return got == want or self.fail(
            f"{p['phase']} {p['kind']} probe up to batch {p['upto']}: {got} != "
            f"union of batches {want}")

    # ---- streaming -----------------------------------------------------

    def stream(self, rec):
        wm = datetime.strptime(rec["watermark"], "%Y-%m-%dT%H:%M:%S.%fZ")
        out = read_out(rec["out"])
        if out is None:
            out = pd.DataFrame()
        events = self.con.sql(
            f"SELECT * FROM read_parquet('{self.in_dir}/stream/*.parquet') "
            f"WHERE event_id < {LATE_ID}").df()
        ok = True
        if rec["kind"] == "tumbling":
            late = self.manifest["stream_late"]
            if rec["late_dropped"] != late:
                ok = self.fail(f"stream {rec['name']}: {rec['late_dropped']} rows dropped as late, "
                               f"{late} planted")
            events["window_start"] = events["ts"].dt.floor("h")
            truth = events.groupby(["window_start", "event_type"]).agg(
                n=("value", "size"), total=("value", "sum")).reset_index()
            truth = truth[truth["window_start"] + timedelta(hours=1) <= wm]
            want = {(r.window_start, r.event_type): (r.n, r.total) for r in truth.itertuples()}
            got = {(pd.Timestamp(r.window_start).tz_localize(None), r.event_type): (r.n, r.total)
                   for r in out.itertuples()} if len(out) else {}
        else:
            want = {}
            for uid, g in events.groupby("user_id"):
                for start, last, n in sessions(sorted(g["ts"])):
                    if last + SESSION_GAP <= wm:
                        want[(uid, start)] = (n, (last - start).total_seconds())
            got = {(r.user_id, pd.Timestamp(r.session_start).tz_localize(None)):
                   (r.n_events, r.span_secs) for r in out.itertuples()} if len(out) else {}
        missing = [k for k in want if k not in got]
        wrong = [k for k in got if k not in want or want[k][0] != got[k][0]
                 or abs(want[k][1] - got[k][1]) > 1e-6]
        if missing or wrong:
            ok = self.fail(f"stream {rec['name']}: {len(missing)} closed windows missing, "
                           f"{len(wrong)} wrong of {len(got)} emitted (watermark {wm})")
        return ok


def check_run(workload, in_dir, res):
    with open(f"{in_dir}/manifest.json") as f:
        manifest = json.load(f)
    c = Checker(in_dir, manifest)
    c.prefetch(res["ops"])
    failed_ops = 0
    for rec in res["ops"]:
        if rec["ok"] and not c.run(lambda: c.op(rec), rec["name"]):
            failed_ops += 1
    for p in res["probes"]:
        if not c.run(lambda: c.probe(p), "probe"):
            failed_ops += 1
    for inv in res["invariants"]:
        if not c.run(lambda: inv["ok"] or c.fail(
                f"{inv['phase']} {inv['kind']} changed the table: {inv['detail']}"), inv["kind"]):
            failed_ops += 1
    for rec in res["streams"]:
        if not c.run(lambda: c.stream(rec), rec["name"]):
            failed_ops += 1
    return {"checked": c.checked, "failed_checks": len(c.messages), "failed_ops": failed_ops,
            "messages": c.messages}
