"""Output checks for perfbench runs; all run after the timed window.

- sql_interactive: each distinct dialect query has an ANSI twin run in
  DuckDB over the same parquet tables; results are compared canonically
  (columns positional, rows sorted) as scripts/check_correctness.py does,
  with floats equal to 1e-9 relative (sums of doubles differ in the last
  bits with summation order).
- ingest_lookup: the generator knows every row, so reads are compared
  with the rows it recorded; writes must report their row count.
- curation_batch: ops with an oracle in SparkEntry.oracleSql are
  compared with it in DuckDB; dedup_minhash_lsh and sim_knn_graph, which
  have none, are held to their QualityGates thresholds (pair recall
  ≥ 0.8 with precision 1.0 against exact n-gram Jaccard; recall@5 ≥ 0.8
  against exact cosine top-5).
"""
import datetime
import decimal
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def _norm(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (v - EPOCH) // datetime.timedelta(microseconds=1)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canon(rows):
    """Rows as tuples of comparable values, sorted (NULLs last)."""
    rows = [tuple(_norm(x) for x in r) for r in rows]
    return sorted(rows, key=lambda r: tuple((x is None, 0 if x is None else x) for x in r))


def _eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, str) or isinstance(b, str):
            return False
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, want):
    """None when equal, else a one-line reason."""
    got, want = canon(got), canon(want)
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return f"columns {len(g)} != {len(w)}"
        for j, (a, b) in enumerate(zip(g, w)):
            if not _eq(a, b):
                return f"row {i} col {j}: got {a!r} want {b!r}"
    return None


def duck(data_dir):
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET autoload_known_extensions = false")
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_sql(ops, script):
    con = duck(script["data_dir"])
    cache = {}
    bad = {}
    for rec in ops:
        op = script["cycles"][rec["cycle"]][rec["pos"]]
        if rec["error"] is not None:
            continue
        if op["sql"] not in cache:
            cache[op["sql"]] = con.execute(op["twin"]).fetchall()
        why = same_rows(rec["result"], cache[op["sql"]])
        if why:
            bad[rec["id"]] = f"{op['kind']}: {why}"
    return bad


def check_ingest(ops, script):
    bad = {}
    for rec in ops:
        op = script["cycles"][rec["cycle"]][rec["pos"]]
        if rec["error"] is not None:
            continue
        if op["kind"] in ("insert", "import"):
            msg = rec["result"] or ""
            if not msg.startswith(("inserted", "imported")):
                bad[rec["id"]] = f"{op['kind']}: unexpected reply {msg!r}"
            continue
        why = same_rows(rec["result"], op["expect"])
        if why:
            bad[rec["id"]] = f"{op['kind']}: {why}"
    return bad


def _pairs(rows):
    return {(int(a), int(b)) for a, b in rows}


def knn_exact(data_dir, k=5):
    """Exact cosine top-k edges (ties by id) of every vector."""
    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    ids = np.array(t.column("vec_id").to_pylist())
    v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    order = np.argsort(ids)
    ids, v = ids[order], v[order]
    exact = set()
    for s in range(0, len(ids), 1024):
        sim = v[s:s + 1024] @ v.T
        for r in range(sim.shape[0]):
            sim[r, s + r] = -np.inf
        top = np.argsort(-sim, axis=1, kind="stable")[:, :k]
        exact.update((int(ids[s + r]), int(ids[c])) for r in range(sim.shape[0]) for c in top[r])
    return exact


def check_curation(ops, script, oracles):
    data = script["data_dir"]
    con = duck(data)
    cache = {}
    bad = {}

    def oracle(name):
        if name not in cache:
            cache[name] = con.execute(oracles[name]).fetch_arrow_table()
        return cache[name]

    for rec in ops:
        if rec["error"] is not None:
            continue
        name = rec["kind"]
        t = pq.read_table(rec["result"])
        if name == "dedup_minhash_lsh":
            got = _pairs(zip(t.column("doc_a").to_pylist(), t.column("doc_b").to_pylist()))
            ref = oracle("dedup_ngram_jaccard")
            exact = _pairs(zip(ref.column("doc_a").to_pylist(), ref.column("doc_b").to_pylist()))
            hit = len(got & exact)
            recall = hit / len(exact) if exact else 1.0
            precision = hit / len(got) if got else 1.0
            if recall < 0.8 or precision < 1.0:
                bad[rec["id"]] = f"{name}: recall {recall:.3f} precision {precision:.3f}"
        elif name == "sim_knn_graph":
            got = _pairs(zip(t.column("vec_id").to_pylist(), t.column("neighbor_id").to_pylist()))
            if "knn" not in cache:
                cache["knn"] = knn_exact(data)
            recall = len(got & cache["knn"]) / len(cache["knn"])
            if recall < 0.8:
                bad[rec["id"]] = f"{name}: recall@5 {recall:.3f}"
        else:
            want = oracle(name)
            if sorted(t.column_names) != sorted(want.column_names):
                bad[rec["id"]] = f"{name}: columns {t.column_names} != {want.column_names}"
                continue
            cols = sorted(t.column_names)
            why = same_rows(list(zip(*[t.column(c).to_pylist() for c in cols])),
                            list(zip(*[want.column(c).to_pylist() for c in cols])))
            if why:
                bad[rec["id"]] = f"{name}: {why}"
    return bad
