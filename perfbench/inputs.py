"""Seeded input generation for the three perfbench workloads.

Everything the measured program sees is made here, from the run's seed,
before the JVM starts: parquet tables, CSV files for IMPORT, and the op
script the JVM replays (dialect SQL text per op). Next to each op the
generator stores what the checker needs: the DuckDB twin of a dialect
query, or the exact rows an ingest read must return.

Tables follow the repo's TPC-H-ish star schema plus `events`,
`documents` and `embeddings` (same column names and parquet types as the
engine's testdata). Sizes scale with `sf`; sf 0.1 gives 600k lineitem
rows (about 17 MB of parquet).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "big"]
PNOUN = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
DAY_US = 86_400_000_000
EPOCH_1995 = 9131  # 1995-01-01 as days since 1970-01-01


def _ts_days(days):
    return pa.array(days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def star_tables(rng, sf):
    """region … lineitem at scale factor `sf` (uniform keys, like testdata)."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = np.array([f"{a} {n}" for a in PADJ for n in PNOUN])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts_days(EPOCH_1995 + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_days(EPOCH_1995 + 1 + rng.integers(0, 2499, n_li))})
    return t


def corpus_tables(rng, sf):
    """events, documents (5% planted ` dup` near-copies), embeddings."""
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    t = {}
    start = 1_704_067_200_000_000  # 2024-01-01 in µs
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + start
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(8, 100, n_doc)
    widx = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(WORDS[j] for j in widx[pos:pos + n]))
        pos += n
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    v = centers[labels] + rng.normal(0, 1.2, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return sum(os.path.getsize(os.path.join(out_dir, f"{n}.parquet")) for n in tables)


# --------------------------------------------------------------- sql_interactive

def _date(rng, lo_year=1995, hi_year=2001):
    y = int(rng.integers(lo_year, hi_year + 1))
    m = int(rng.integers(1, 13))
    return f"{y:04d}-{m:02d}-01 00:00:00"


def _dsum(expr):
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"


def tpch_query(rng, kind):
    """(dialect text, DuckDB twin) for one TPC-H template instance."""
    if kind == "q1":
        d = _date(rng, 1998, 2001)
        return (f"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
  SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
  AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= d'{d}'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus;""",
                f"""SELECT l_returnflag, l_linestatus, {_dsum('l_quantity')} AS sum_qty,
  {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {_dsum('l_discount')} / COUNT(l_discount) AS avg_disc, COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d}'
GROUP BY l_returnflag, l_linestatus""")
    if kind == "q3":
        seg = SEGMENTS[int(rng.integers(0, 5))]
        d = _date(rng, 1996, 2000)
        return (f"""SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = "{seg}" AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < d'{d}' AND l_shipdate > d'{d}'
GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10;""",
                f"""SELECT l_orderkey, {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue, o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '{d}' AND l_shipdate > TIMESTAMP '{d}'
GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""")
    if kind == "q6":
        y = int(rng.integers(1995, 2001))
        disc = int(rng.integers(2, 9))
        qty = int(rng.integers(24, 26))
        where = (f"l_shipdate >= d'{y}-01-01 00:00:00' AND l_shipdate < d'{y + 1}-01-01 00:00:00' "
                 f"AND l_discount >= 0.0{disc - 1} AND l_discount <= 0.0{disc + 1} AND l_quantity < {qty}")
        return (f"SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem WHERE {where};",
                f"SELECT {_dsum('l_extendedprice * l_discount')} AS revenue FROM lineitem WHERE "
                + where.replace("d'", "TIMESTAMP '"))
    if kind == "q12":
        y = int(rng.integers(1995, 2001))
        f1, f2 = rng.choice(["A", "N", "R"], 2, replace=False)
        return (f"""SELECT o_orderpriority, COUNT(*) AS n FROM orders, lineitem
WHERE o_orderkey = l_orderkey AND (l_returnflag = "{f1}" OR l_returnflag = "{f2}")
  AND l_shipdate >= d'{y}-01-01 00:00:00' AND l_shipdate < d'{y + 1}-01-01 00:00:00'
GROUP BY o_orderpriority ORDER BY o_orderpriority;""",
                f"""SELECT o_orderpriority, COUNT(*) AS n FROM orders, lineitem
WHERE o_orderkey = l_orderkey AND (l_returnflag = '{f1}' OR l_returnflag = '{f2}')
  AND l_shipdate >= TIMESTAMP '{y}-01-01 00:00:00' AND l_shipdate < TIMESTAMP '{y + 1}-01-01 00:00:00'
GROUP BY o_orderpriority""")
    if kind == "q14":
        y, m = int(rng.integers(1995, 2001)), int(rng.integers(1, 12))
        pt = PTYPES[int(rng.integers(0, 6))][:3]
        return (f"""SELECT SUM(l_extendedprice * (1 - l_discount)) AS promo_revenue
FROM lineitem, part WHERE l_partkey = p_partkey AND p_type LIKE "{pt}%"
  AND l_shipdate >= d'{y}-{m:02d}-01 00:00:00' AND l_shipdate < d'{y}-{m + 1:02d}-01 00:00:00';""",
                f"""SELECT {_dsum('l_extendedprice * (1 - l_discount)')} AS promo_revenue
FROM lineitem, part WHERE l_partkey = p_partkey AND p_type LIKE '{pt}%'
  AND l_shipdate >= TIMESTAMP '{y}-{m:02d}-01 00:00:00' AND l_shipdate < TIMESTAMP '{y}-{m + 1:02d}-01 00:00:00'""")
    raise ValueError(kind)


# star-schema join graph: (relation, neighbour) -> join predicate
JOIN_EDGES = {
    ("region", "nation"): "n_regionkey = r_regionkey",
    ("nation", "customer"): "c_nationkey = n_nationkey",
    ("customer", "orders"): "o_custkey = c_custkey",
    ("orders", "lineitem"): "l_orderkey = o_orderkey",
    ("lineitem", "part"): "l_partkey = p_partkey",
    ("lineitem", "supplier"): "l_suppkey = s_suppkey",
}
GROUP_COL = {"region": "r_name", "nation": "n_regionkey", "customer": "c_mktsegment",
             "orders": "o_orderpriority", "part": "p_type", "supplier": "s_nationkey",
             "lineitem": "l_returnflag"}


# relation sets of the k-way join templates (k = 3..7): a path through the
# star schema that grows by one relation per k
JOIN_ORDER = ["lineitem", "orders", "customer", "nation", "region", "part", "supplier"]


def join_query(rng, k):
    """Seeded comma-join over the first k relations of JOIN_ORDER, listed
    in a seed-shuffled FROM order, with one seeded filter on a dimension
    and a seeded low-cardinality group key."""
    rels = JOIN_ORDER[:k]
    preds = [p for (a, b), p in JOIN_EDGES.items() if a in rels and b in rels]
    dim = rels[1:]
    filt_rel = dim[int(rng.integers(0, len(dim)))]
    col, val, op = {
        "region": lambda: ("r_regionkey", int(rng.integers(1, 5)), "<="),
        "nation": lambda: ("n_nationkey", int(rng.integers(5, 25)), "<"),
        "customer": lambda: ("c_acctbal", int(rng.integers(0, 9000)), ">"),
        "orders": lambda: ("o_totalprice", int(rng.integers(50_000, 450_000)), "<"),
        "part": lambda: ("p_size", int(rng.integers(5, 45)), "<"),
        "supplier": lambda: ("s_acctbal", int(rng.integers(0, 9000)), ">"),
    }[filt_rel]()
    group = GROUP_COL[dim[int(rng.integers(0, len(dim)))]]
    from_list = ", ".join(rels[i] for i in rng.permutation(len(rels)))
    where = " AND ".join(preds + [f"{col} {op} {val}"])
    text = (f"SELECT {group}, COUNT(*) AS n, SUM(l_quantity) AS qty FROM {from_list} "
            f"WHERE {where} GROUP BY {group} ORDER BY {group};")
    twin = (f"SELECT {group}, COUNT(*) AS n, CAST(SUM(l_quantity) AS DOUBLE) AS qty "
            f"FROM {from_list} WHERE {where} GROUP BY {group}")
    return text, twin


SQL_ROUND = ["q1", "q3", "q6", "q12", "q14", "j3", "j4", "j5", "j6", "j7"]


def sql_script(rng, rounds):
    """Balanced seeded stream in rounds: each round holds one instance of
    every template (seeded constants), in a seed-shuffled order."""
    out = []
    for _ in range(rounds):
        ops = []
        for kind in rng.permutation(SQL_ROUND):
            kind = str(kind)
            text, twin = (join_query(rng, int(kind[1])) if kind.startswith("j")
                          else tpch_query(rng, kind))
            ops.append({"kind": kind, "sql": text, "twin": twin})
        out.append(ops)
    return out


# ----------------------------------------------------------------- ingest_lookup

INGEST_DDL = """CREATE DATABASE {db};
USE {db};
CREATE TABLE acct (id INT(8) NOT NULL PRIMARY KEY, seq INT(8) NOT NULL,
  grp INT(4) NOT NULL, amount INT(8) NOT NULL CHECK (amount >= 0));
CREATE INDEX acct_id ON acct USING array (id);
CREATE INDEX acct_seq ON acct USING rmi (seq);"""


def ingest_script(rng, work_dir, cycles, writes, insert_rows, import_rows):
    """Per cycle: a fresh database whose `acct` table grows by `writes`
    batches (INSERT VALUES, every fourth an IMPORT of a generated CSV).
    After each write: a point read on the array-indexed id (the index was
    just invalidated, so this read rebuilds it), a repeat point read, a
    range read on the rmi-indexed seq, and an aggregate over the table.
    Expected rows come from the generator's own copy of the table."""
    csv_dir = os.path.join(work_dir, "csv")
    os.makedirs(csv_dir, exist_ok=True)
    out = []
    for c in range(cycles):
        db = f"ing{c}"
        ops = [{"kind": "ddl", "sql": INGEST_DDL.format(db=db)}]
        rows = []  # (id, seq, grp, amount)
        ids = rng.permutation(1_000_000)[: writes * max(insert_rows, import_rows)] + 1
        pos = 0
        for w in range(writes):
            is_import = w % 4 == 3
            n = import_rows if is_import else insert_rows
            batch = [(int(ids[pos + j]), len(rows) + j, int(rng.integers(0, 8)),
                      int(rng.integers(0, 10_000))) for j in range(n)]
            pos += n
            if is_import:
                path = os.path.abspath(os.path.join(csv_dir, f"c{c}_w{w}.csv"))
                with open(path, "w") as f:
                    f.writelines(f"{a},{b},{g},{m}\n" for a, b, g, m in batch)
                ops.append({"kind": "import", "sql": f'IMPORT INTO acct DSV "{path}";'})
            else:
                vals = ", ".join(f"({a}, {b}, {g}, {m})" for a, b, g, m in batch)
                ops.append({"kind": "insert", "sql": f"INSERT INTO acct VALUES {vals};"})
            rows.extend(batch)
            probe = batch[int(rng.integers(0, n))]
            old = rows[int(rng.integers(0, len(rows)))]
            ops.append({"kind": "point_rebuild",
                        "sql": f"SELECT id, seq, grp, amount FROM acct WHERE id = {probe[0]};",
                        "expect": [list(probe)]})
            ops.append({"kind": "point_warm",
                        "sql": f"SELECT id, seq, grp, amount FROM acct WHERE id = {old[0]};",
                        "expect": [list(old)]})
            lo = int(rng.integers(0, len(rows)))
            hi = lo + int(rng.integers(5, 40))
            ops.append({"kind": "range",
                        "sql": f"SELECT id, amount FROM acct WHERE seq >= {lo} AND seq < {hi} ORDER BY id;",
                        "expect": sorted([r[0], r[3]] for r in rows if lo <= r[1] < hi)})
            g = int(rng.integers(0, 8))
            sel = [r for r in rows if r[2] == g]
            ops.append({"kind": "aggregate",
                        "sql": f"SELECT COUNT(*) AS n, SUM(amount) AS total FROM acct WHERE grp = {g};",
                        "expect": [[len(sel), sum(r[3] for r in sel) if sel else None]]})
        out.append(ops)
    return out


# ---------------------------------------------------------------- curation_batch

CURATION_OPS = ["dedup_containment", "dedup_cluster_star", "dedup_minhash_lsh",
                "sim_knn_graph", "search_tfidf_topk", "events_rfm", "orders_basket_pairs"]


def curation_script(rng, cycles):
    """Each cycle runs every curation op once, in a seed-shuffled order."""
    return [[CURATION_OPS[i] for i in rng.permutation(len(CURATION_OPS))]
            for _ in range(cycles)]


def generate(workload, seed, work_dir, cfg):
    """Write the inputs for one run under `work_dir`; return the script."""
    rng = np.random.default_rng(seed)
    data = os.path.join(work_dir, "data")
    info = {"workload": workload, "seed": seed, "data_dir": os.path.abspath(data)}
    if workload == "sql_interactive":
        info["input_bytes"] = write_tables(star_tables(rng, cfg["sf"]), data)
        info["cycles"] = sql_script(rng, cfg["cycles"])
        warm = tpch_query(np.random.default_rng(10_000 + seed), "q6")
        info["warmup"] = [{"kind": "q6", "sql": warm[0]}]
        info["prime"] = sql_script(np.random.default_rng(20_000 + seed), 1)[0]
    elif workload == "ingest_lookup":
        os.makedirs(data, exist_ok=True)
        info["input_bytes"] = 0
        info["cycles"] = ingest_script(rng, work_dir, cfg["cycles"], cfg["writes"],
                                       cfg["insert_rows"], cfg["import_rows"])
        for key, writes, sub in (("warmup", 1, 10_000), ("prime", cfg["writes"], 20_000)):
            info[key] = ingest_script(np.random.default_rng(sub + seed), os.path.join(work_dir, key),
                                      1, writes, cfg["insert_rows"], cfg["import_rows"])[0]
            for op in info[key]:
                op["sql"] = op["sql"].replace("ing0", key)
        # set-up warm-up: the DDL, one INSERT and the index build it forces
        info["warmup"] = info["warmup"][:3]
    elif workload == "curation_batch":
        tables = {**star_tables(rng, cfg["sf"]), **corpus_tables(rng, cfg["sf"])}
        info["input_bytes"] = write_tables(tables, data)
        info["corpus_rows"] = {n: tables[n].num_rows for n in ("documents", "embeddings", "events")}
        info["cycles"] = curation_script(rng, cfg["cycles"])
        # miniature corpus for the untimed priming pass (sf/10, same shape)
        mini = np.random.default_rng(20_000 + seed)
        write_tables({**star_tables(mini, cfg["sf"] / 10), **corpus_tables(mini, cfg["sf"] / 10)},
                     os.path.join(work_dir, "prime"))
        info["prime_dir"] = os.path.abspath(os.path.join(work_dir, "prime"))
    else:
        raise ValueError(workload)
    with open(os.path.join(work_dir, "script.json"), "w") as f:
        json.dump(info, f)
    return info
