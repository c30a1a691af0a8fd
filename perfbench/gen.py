"""Seeded input generation and DuckDB reference answers for the benchmark.

Everything the JVM side reads is produced here from `--seed`: parquet input
tables, the op plan (`plan.json`), and, for `lakehouse_scan`, the expected
fingerprint of every read computed by DuckDB over the same parquet files.
The commit_churn reference model (`replay_churn`) replays the same seeded
ops on DuckDB tables after the run.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 TPC-H-ish row counts per replica (the read-only fixture shapes)
ORDERS_PER_REPLICA = 150_000
CUSTOMERS_PER_REPLICA = 15_000
PARTS_PER_REPLICA = 20_000
# key offset between replicas: replica r owns keys (r*SPAN, (r+1)*SPAN]
KEY_SPAN = 10_000_000
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EPOCH_1995 = 9131  # days since 1970-01-01 for 1995-01-01
ORDER_DAYS = 2400

# fingerprints: order-independent integer aggregates both engines compute
# exactly (prices are whole cents, so round(x*100) is exact on both sides)
FP_LINEITEM = ["count(*)", "sum(l_orderkey)", "sum(l_linenumber)",
               "sum(cast(round(l_extendedprice * 100) as bigint))"]
FP_ORDERS = ["count(*)", "sum(o_orderkey)", "sum(o_custkey)",
             "sum(cast(round(o_totalprice * 100) as bigint))",
             "sum(length(o_orderpriority))"]
FP_STAR = ["count(*)", "sum(cast(revenue * 10000 as bigint))",
           "sum(length(n_name))"]
FP_MAPPED = ["count(*)", "sum(p_sk)", "sum(l_orderkey)",
             "sum(cast(round(l_quantity) as bigint))"]

STAR_SQL = """
SELECT n_name,
       SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{region}'
  AND o_orderdate >= DATE '{d1}' AND o_orderdate < DATE '{d2}'
GROUP BY n_name
"""


def _strings(rng, choices, n):
    idx = rng.integers(0, len(choices), n).astype(np.int32)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx), pa.array(choices)).cast(pa.string())


def _cents(rng, lo, hi, n):
    return rng.integers(lo * 100, hi * 100, n).astype(np.float64) / 100.0


def _dates(days):
    return pa.array(days.astype(np.int32), type=pa.date32())


def _date_str(day):
    return str(np.datetime64(int(day), "D"))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return table.num_rows, os.path.getsize(path)


def star_tables(rng, replicas, orders_per_replica):
    """Key-offset replicas of a sf0.1-shaped star schema, as pyarrow tables."""
    n_cust = CUSTOMERS_PER_REPLICA * orders_per_replica // ORDERS_PER_REPLICA
    n_part = PARTS_PER_REPLICA * orders_per_replica // ORDERS_PER_REPLICA
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
    }
    cust, part, orders, line = [], [], [], []
    for r in range(replicas):
        off = r * KEY_SPAN
        cust.append(pa.table({
            "c_custkey": pa.array(off + np.arange(1, n_cust + 1, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{off + i:09d}" for i in range(1, n_cust + 1)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_cents(rng, -999, 9999, n_cust)),
            "c_mktsegment": _strings(rng, SEGMENTS, n_cust)}))
        part.append(pa.table({
            "p_partkey": pa.array(off + np.arange(1, n_part + 1, dtype=np.int64)),
            "p_name": _strings(rng, [f"part {w}" for w in range(200)], n_part),
            "p_brand": _strings(rng, [f"Brand#{b}" for b in range(11, 56)], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(_cents(rng, 900, 2000, n_part))}))
        n_o = orders_per_replica
        okeys = off + np.arange(1, n_o + 1, dtype=np.int64)
        odays = EPOCH_1995 + rng.integers(0, ORDER_DAYS, n_o)
        orders.append(pa.table({
            "o_orderkey": pa.array(okeys),
            "o_custkey": pa.array(off + rng.integers(1, n_cust + 1, n_o).astype(np.int64)),
            "o_orderstatus": _strings(rng, STATUSES, n_o),
            "o_totalprice": pa.array(_cents(rng, 800, 500_000, n_o)),
            "o_orderdate": _dates(odays),
            "o_orderpriority": _strings(rng, PRIORITIES, n_o)}))
        lines_per = rng.integers(1, 8, n_o)
        lk = np.repeat(okeys, lines_per)
        n_l = len(lk)
        first = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
        lnum = (np.arange(n_l) - first + 1).astype(np.int32)
        line.append(pa.table({
            "l_orderkey": pa.array(lk),
            "l_partkey": pa.array(off + rng.integers(1, n_part + 1, n_l).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(1, 1001, n_l).astype(np.int64)),
            "l_linenumber": pa.array(lnum),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 900, 100_000, n_l)),
            "l_discount": pa.array(rng.integers(0, 11, n_l).astype(np.float64) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l).astype(np.float64) / 100.0),
            "l_returnflag": _strings(rng, ["A", "N", "R"], n_l),
            "l_linestatus": _strings(rng, ["F", "O"], n_l),
            "l_shipdate": _dates(np.repeat(odays, lines_per) + rng.integers(1, 121, n_l))}))
    out["customer"] = pa.concat_tables(cust)
    out["part"] = pa.concat_tables(part)
    out["orders"] = pa.concat_tables(orders)
    out["lineitem"] = pa.concat_tables(line)
    return out


# ---------------------------------------------------------------- scan

def gen_scan(rng, indir, cfg):
    tables = star_tables(rng, cfg["replicas"], cfg["orders_per_replica"])
    inputs = {}
    for name, t in tables.items():
        rows, size = _write(t, os.path.join(indir, f"{name}.parquet"))
        inputs[name] = {"rows": rows, "bytes": size}
    n_o = cfg["orders_per_replica"]
    n_cust = CUSTOMERS_PER_REPLICA * n_o // ORDERS_PER_REPLICA
    reps = cfg["replicas"]
    tt_versions = cfg["tt_versions"]
    ops = []
    for i in range(cfg["pool"]):
        d1 = EPOCH_1995 + int(rng.integers(0, ORDER_DAYS - 400))
        ops.append({"kind": "star_join", "region": REGIONS[int(rng.integers(0, 5))],
                    "d1": _date_str(d1), "d2": _date_str(d1 + int(rng.integers(90, 366)))})
        r = int(rng.integers(0, reps)) * KEY_SPAN
        ops.append({"kind": "point", "key": r + int(rng.integers(1, n_o + 1))})
        r = int(rng.integers(0, reps)) * KEY_SPAN
        lo = r + int(rng.integers(1, n_o - 2000))
        if i % 2 == 0:
            ops.append({"kind": "range", "table": "lineitem",
                        "ranges": [["l_orderkey", lo, lo + int(rng.integers(200, 2000))]]})
        else:
            c = r + int(rng.integers(1, n_cust - 500))
            p = int(rng.integers(800, 400_000))
            ops.append({"kind": "range", "table": "orders",
                        "ranges": [["o_custkey", c, c + int(rng.integers(50, 500))],
                                   ["o_totalprice", float(p), float(p + 100_000)]]})
        ops.append({"kind": "time_travel", "version": int(rng.integers(1, tt_versions + 1))})
        r = int(rng.integers(0, reps)) * KEY_SPAN
        lo = r + int(rng.integers(1, n_o - 20_000))
        ops.append({"kind": "simple_map", "lo": lo, "hi": lo + int(rng.integers(5_000, 20_000))})
    return inputs, ops


def tt_filter(v):
    """Rows of version v of the time-travel table (v = 1..tt_versions)."""
    return f"o_orderkey % 7 <> {v - 1}"


def scan_expected(indir, ops, tt_versions):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in ["lineitem", "orders", "customer", "part", "nation", "region"]:
        path = os.path.join(indir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def fp(exprs, sql):
        return [int(x) if x is not None else None for x in
                con.execute(f"SELECT {', '.join(exprs)} FROM ({sql}) q").fetchone()]

    out = []
    for op in ops:
        k = op["kind"]
        if k == "star_join":
            out.append(fp(FP_STAR, STAR_SQL.format(**op)))
        elif k == "point":
            out.append(fp(FP_LINEITEM, f"SELECT * FROM lineitem WHERE l_orderkey = {op['key']}"))
        elif k == "range":
            cond = " AND ".join(f"{c} >= {lo} AND {c} <= {hi}" for c, lo, hi in op["ranges"])
            exprs = FP_LINEITEM if op["table"] == "lineitem" else FP_ORDERS
            out.append(fp(exprs, f"SELECT * FROM {op['table']} WHERE {cond}"))
        elif k == "time_travel":
            out.append(fp(FP_ORDERS, f"SELECT * FROM orders WHERE {tt_filter(op['version'])}"))
        elif k == "simple_map":
            out.append(fp(FP_MAPPED,
                          "SELECT l.*, p_partkey * 10 + p_size % 10 AS p_sk FROM lineitem l "
                          f"JOIN part ON l_partkey = p_partkey WHERE l_orderkey BETWEEN {op['lo']} AND {op['hi']}"))
    con.close()
    return out


# ---------------------------------------------------------------- churn

CHURN_CYCLE_BODY = ["append", "append", "merge", "delete", "delete_dv", "update", "txn"]


def _orders_batch(rng, keys, custs):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(np.asarray(keys, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, custs + 1, n).astype(np.int64)),
        "o_orderstatus": _strings(rng, STATUSES, n),
        "o_totalprice": pa.array(_cents(rng, 800, 500_000, n)),
        "o_orderdate": _dates(EPOCH_1995 + rng.integers(0, ORDER_DAYS, n)),
        "o_orderpriority": _strings(rng, PRIORITIES, n)})


VERIFY_READS = ["range", "point", "sql", "time_travel", "simple_map"]
# extra fingerprint columns of the verify reads that join the customer dim
FP_ORDERS_SQL = FP_ORDERS + ["sum(c_nationkey)"]
FP_ORDERS_MAPPED = FP_ORDERS + ["sum(c_sk)"]
VERIFY_SQL = ("SELECT o.*, c_nationkey FROM orders_v o JOIN customer ON o_custkey = c_custkey "
              "WHERE o_orderkey BETWEEN {lo} AND {hi}")
CUSTOMER_SK = ["c_custkey * 10 + c_nationkey % 10 AS c_sk", "c_custkey AS o_custkey"]


def gen_churn(rng, indir, cfg):
    """Base `orders` (sf0.1-sized) and its `customer` dimension plus a
    seeded op list whose payload batches are parquet files; every op is
    deterministic given the seed. After each commit one read-your-writes
    verify read runs, through one of graft's read paths in turn."""
    star = star_tables(rng, 1, cfg["orders_rows"])
    inputs = {}
    for name in ("orders", "customer"):
        rows, size = _write(star[name], os.path.join(indir, f"{name}.parquet"))
        inputs[name] = {"rows": rows, "bytes": size}
    custs = star["customer"].num_rows
    batch = cfg["batch_rows"]
    next_key = cfg["orders_rows"] + 1
    next_txn = 1
    ops = []
    bdir = os.path.join(indir, "batches")
    batch_rows = batch_bytes = 0

    def put(t, name):
        nonlocal batch_rows, batch_bytes
        r, s = _write(t, os.path.join(bdir, name))
        batch_rows += r
        batch_bytes += s
        return name

    # cycle -1 is the warm-up the set-up runs, a whole cycle so that every
    # op kind has run once before the timed cycles 0... Every cycle runs the
    # kinds in the same order, so each kind meets a table in the same state
    # of the compaction cycle whatever the seed; the seed picks keys,
    # ranges and rows.
    for c in range(-1, cfg["cycles"]):
        for j, kind in enumerate(CHURN_CYCLE_BODY + ["apply_changes", "compact"]):
            op = {"kind": kind, "cycle": c}
            tag = f"c{c + 1:03d}_{j}"
            if kind == "append":
                keys = np.arange(next_key, next_key + batch)
                next_key += batch
                op["batch"] = put(_orders_batch(rng, keys, custs), f"{tag}.parquet")
                op["lo"], op["hi"] = int(keys[0]), int(keys[-1])
            elif kind == "merge":
                lo = int(rng.integers(1, next_key - 4 * batch))
                old = lo + np.arange(0, 2 * (batch // 2), 2)  # every other key: hits and holes
                new = np.arange(next_key, next_key + batch // 2)
                next_key += batch // 2
                keys = np.concatenate([old, new])
                op["batch"] = put(_orders_batch(rng, keys, custs), f"{tag}.parquet")
                op["lo"], op["hi"] = lo, int(old[-1])
            elif kind in ("delete", "delete_dv", "update"):
                lo = int(rng.integers(1, next_key - batch))
                op["lo"], op["hi"] = lo, lo + batch - 1
            elif kind == "txn":
                keys = np.arange(next_txn, next_txn + batch // 2)
                next_txn += batch // 2
                op["batch_a"] = put(_orders_batch(rng, keys, custs), f"{tag}_a.parquet")
                op["batch_b"] = put(_orders_batch(rng, keys, custs), f"{tag}_b.parquet")
                op["lo"], op["hi"] = int(keys[0]), int(keys[-1])
            if kind in ("apply_changes", "compact"):
                table = "orders_replica" if kind == "apply_changes" else "orders"
                op["verify"] = {"how": "full", "table": table}
            else:
                pad = 500 if kind.startswith("delete") else 0
                how = VERIFY_READS[j % len(VERIFY_READS)]  # same mix on every seed
                op["verify"] = {"how": how, "table": "txn_b" if kind == "txn" else "orders",
                                "lo": op["lo"] - pad, "hi": op["hi"] + pad}
                if how == "point":
                    op["verify"]["hi"] = op["verify"]["lo"]
            ops.append(op)
    inputs["batches"] = {"rows": batch_rows, "bytes": batch_bytes}
    return inputs, ops


UPDATE_SET = {"o_totalprice": "o_totalprice + 1.25", "o_orderstatus": "'U'"}


def replay_churn(indir, ops, n_done):
    """Reference model: replay the first `n_done` ops on DuckDB tables and
    return, per op, the fingerprint its verify read must see, plus the
    final fingerprint of every table."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in ("orders", "customer"):
        src = os.path.join(indir, f"{name}.parquet")
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{src}')")
    con.execute("CREATE TABLE orders_replica AS SELECT * FROM orders")
    con.execute("CREATE TABLE txn_a AS SELECT * FROM orders LIMIT 0")
    con.execute("CREATE TABLE txn_b AS SELECT * FROM orders LIMIT 0")

    def fp(table, lo=None, hi=None, how="range"):
        where = "" if lo is None else f" WHERE o_orderkey BETWEEN {lo} AND {hi}"
        exprs, sql = FP_ORDERS, f"SELECT * FROM {table}{where}"
        if how == "sql":
            exprs, sql = FP_ORDERS_SQL, VERIFY_SQL.replace("orders_v", table).format(lo=lo, hi=hi)
        elif how == "simple_map":
            exprs = FP_ORDERS_MAPPED
            sql = (f"SELECT o.*, {CUSTOMER_SK[0]} FROM {table} o "
                   f"JOIN customer ON o_custkey = c_custkey{where}")
        return [int(x) if x is not None else None for x in
                con.execute(f"SELECT {', '.join(exprs)} FROM ({sql}) q").fetchone()]

    def batch(name):
        return f"read_parquet('{os.path.join(indir, 'batches', name)}')"

    expected = []
    for op in ops[:n_done]:
        k, v = op["kind"], op["verify"]
        before = fp(v["table"], v["lo"], v["hi"]) if v["how"] == "time_travel" else None
        if k == "append":
            con.execute(f"INSERT INTO orders SELECT * FROM {batch(op['batch'])}")
        elif k == "merge":
            b = batch(op["batch"])
            con.execute(f"DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM {b})")
            con.execute(f"INSERT INTO orders SELECT * FROM {b}")
        elif k in ("delete", "delete_dv"):
            con.execute(f"DELETE FROM orders WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']}")
        elif k == "update":
            sets = ", ".join(f"{c} = {e}" for c, e in UPDATE_SET.items())
            con.execute(f"UPDATE orders SET {sets} WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']}")
        elif k == "txn":
            con.execute(f"INSERT INTO txn_a SELECT * FROM {batch(op['batch_a'])}")
            con.execute(f"INSERT INTO txn_b SELECT * FROM {batch(op['batch_b'])}")
        elif k == "apply_changes":
            con.execute("DELETE FROM orders_replica")
            con.execute("INSERT INTO orders_replica SELECT * FROM orders")
        if v["how"] == "full":
            expected.append(fp(v["table"]))
        elif before is not None:
            expected.append(before)  # time travel reads the version before the commit
        else:
            expected.append(fp(v["table"], v["lo"], v["hi"], v["how"]))
    final = {t: fp(t) for t in ["orders", "orders_replica", "txn_a", "txn_b"]}
    con.close()
    return expected, final


# ---------------------------------------------------------------- corpus

def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnoprstuvwyz"))
    accented = ["é", "è", "ü", "ö", "ñ", "å"]
    words = set()
    while len(words) < n:
        w = "".join(rng.choice(letters, int(rng.integers(3, 10))))
        if rng.random() < 0.15:
            pos = int(rng.integers(0, len(w)))
            w = w[:pos] + accented[int(rng.integers(0, len(accented)))] + w[pos + 1:]
        words.add(w)
    return sorted(words)


def gen_corpus(rng, indir, cfg):
    """Seeded document shards with injected duplicates of known sources:
    verbatim copies, Unicode-decomposed (NFD) copies that only NFC
    normalisation makes identical, and one-word edits (near duplicates).
    Every document carries a 64-d embedding; duplicates get a jittered copy
    of their source's vector."""
    import unicodedata
    vocab = _vocab(rng, cfg["vocab"])
    shards = []
    total_rows = total_bytes = 0
    n_src = cfg["docs_per_shard"]
    for s in range(cfg["shards"]):
        base_id = s * 100_000
        texts, ids, embs = [], [], []
        for i in range(n_src):
            n_words = int(rng.integers(30, 70))
            texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), n_words)))
            ids.append(base_id + i)
        src_vecs = rng.normal(size=(n_src, 64))
        embs.extend(src_vecs)
        dups, near = [], []
        n_exact, n_near = cfg["exact_dups"], cfg["near_dups"]
        sources = rng.choice(n_src, n_exact + n_near, replace=False)
        for j, si in enumerate(sources):
            did = base_id + 50_000 + j
            t = texts[si]
            if j < n_exact // 2:
                nt = t
            elif j < n_exact:
                nt = unicodedata.normalize("NFD", t)
            else:
                words = t.split(" ")
                w = int(rng.integers(0, len(words)))
                words[w] = vocab[int(rng.integers(0, len(vocab)))]
                nt = " ".join(words)
                if nt == t:
                    nt = t + " " + vocab[0]
                near.append([int(base_id + si), did])
            texts.append(nt)
            ids.append(did)
            embs.append(src_vecs[si] + rng.normal(scale=0.02, size=64))
            dups.append(did)
        emb = np.asarray(embs, dtype=np.float32)
        table = pa.table({
            "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _strings(rng, ["en", "de", "fr", "zh"], len(ids)),
            "source": _strings(rng, [f"src{i}" for i in range(8)], len(ids)),
            "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1)), 64).cast(pa.list_(pa.float32()))})
        name = f"shard{s:03d}.parquet"
        r, b = _write(table, os.path.join(indir, "corpus", name))
        total_rows += r
        total_bytes += b
        src_ids = [base_id + i for i in range(n_src)]
        shards.append({"file": name, "docs": r, "sources": n_src,
                       "source_id_sum": int(sum(src_ids)),
                       "dup_ids": [int(d) for d in dups], "near_pairs": near})
    return {"corpus": {"rows": total_rows, "bytes": total_bytes}}, shards


# ---------------------------------------------------------------- entry

def generate(workload, seed, workdir, cfg):
    rng = np.random.default_rng(seed)
    indir = os.path.join(workdir, "in")
    plan = {"workload": workload, "seed": seed, "config": cfg}
    if workload == "lakehouse_scan":
        plan["inputs"], plan["ops"] = gen_scan(rng, indir, cfg)
    elif workload == "commit_churn":
        plan["inputs"], plan["ops"] = gen_churn(rng, indir, cfg)
        plan["update_set"] = UPDATE_SET
    elif workload == "corpus_pipeline":
        plan["inputs"], plan["shards"] = gen_corpus(rng, indir, cfg)
    else:
        raise ValueError(f"unknown workload {workload}")
    plan["fingerprints"] = {"lineitem": FP_LINEITEM, "orders": FP_ORDERS,
                            "star": FP_STAR, "mapped": FP_MAPPED,
                            "orders_sql": FP_ORDERS_SQL, "orders_mapped": FP_ORDERS_MAPPED}
    plan["verify_sql"] = VERIFY_SQL
    plan["customer_sk"] = CUSTOMER_SK
    plan["star_sql"] = STAR_SQL
    if workload == "lakehouse_scan":
        plan["tt_filters"] = [tt_filter(v) for v in range(1, cfg["tt_versions"] + 1)]
    with open(os.path.join(workdir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan
