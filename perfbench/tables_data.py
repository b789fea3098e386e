"""Seeded star-schema tables for the query sample of a traced run, and
the check of the sample's results against DuckDB.

The ten tables have the names, columns and types the registered queries
read (`region nation customer supplier part orders lineitem events
documents embeddings`, one parquet file each), at about a thousandth of
the TPC-H scale: 6,000 line items, 500 documents, 500 embeddings and
1,000 events. Documents are drawn from a 30-word vocabulary, and about a
tenth of them are near copies of an earlier document (one word
appended), so the dedup queries have work to do; embeddings are unit
vectors around ten labelled centres.

`check` compares each query's result, written by the benchmark as
parquet, with DuckDB running the query's `SparkEntry.oracleSql` over the
same tables. Columns are matched by name, rows are compared as sorted
lists, and floats are rounded to 6 decimals.
"""

import datetime as dt
import glob
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()


def _write(out_dir, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir, seed):
    """Write the ten tables into `out_dir`; return their row counts."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(10), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(10)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(10)], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(10)]})
    adjectives = ["cold", "small", "large", "shiny", "green", "heavy", "fast", "old"]
    nouns = ["widget", "gadget", "bolt", "panel", "valve"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(200), pa.int64()),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(200)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(200)],
        "p_type": [rng.choice(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD",
                               "SMALL"]) for _ in range(200)],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(200)], pa.int32()),
        "p_retailprice": [round(900 + k / 10, 2) for k in range(200)]})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(150), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(150)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(150)], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(150)],
        "c_mktsegment": [rng.choice(["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD",
                                     "AUTOMOBILE"]) for _ in range(150)]})
    start = dt.datetime(1995, 1, 1)
    order_dates = [start + dt.timedelta(days=rng.randrange(2400)) for _ in range(1500)]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(1500), pa.int64()),
        "o_custkey": pa.array([rng.randrange(150) for _ in range(1500)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(1500)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(1500)],
        "o_orderdate": pa.array(order_dates, ts),
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(1500)]})
    keys = [rng.randrange(1500) for _ in range(6000)]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(keys, pa.int64()),
        "l_partkey": pa.array([rng.randrange(200) for _ in keys], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(10) for _ in keys], pa.int64()),
        "l_linenumber": pa.array([rng.randint(1, 7) for _ in keys], pa.int32()),
        "l_quantity": [float(rng.randint(1, 50)) for _ in keys],
        "l_extendedprice": [round(rng.uniform(900, 105000), 2) for _ in keys],
        "l_discount": [rng.randint(0, 10) / 100 for _ in keys],
        "l_tax": [rng.randint(0, 8) / 100 for _ in keys],
        "l_returnflag": [rng.choice("NAR") for _ in keys],
        "l_linestatus": [rng.choice("OF") for _ in keys],
        "l_shipdate": pa.array([order_dates[k] + dt.timedelta(days=rng.randint(1, 120))
                                for k in keys], ts)})
    t0 = dt.datetime(2024, 1, 1)
    _write(out_dir, "events", {
        "event_id": pa.array(range(1000), pa.int64()),
        "ts": pa.array(sorted(t0 + dt.timedelta(seconds=rng.uniform(0, 30 * 86400))
                              for _ in range(1000)), ts),
        "user_id": pa.array([rng.randrange(15) for _ in range(1000)], pa.int64()),
        "event_type": [rng.choice(["error", "signup", "purchase", "view", "click"])
                       for _ in range(1000)],
        "value": [round(rng.uniform(0, 330), 2) for _ in range(1000)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(1000)]})
    texts = []
    for k in range(500):
        if k > 20 and rng.random() < 0.1:
            texts.append(texts[rng.randrange(k)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 90))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(500), pa.int64()),
        "text": texts,
        "lang": [rng.choice(["en", "en", "es", "zh", "de", "fr"]) for _ in range(500)],
        "source": [f"src{k % 20}" for k in range(500)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centres = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    labels, vectors = [], []
    for _ in range(500):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.6) for c in centres[label]]
        norm = math.sqrt(sum(x * x for x in v))
        labels.append(label)
        vectors.append([x / norm for x in v])
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array(vectors, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"lineitem": 6000, "orders": 1500, "customer": 150, "part": 200,
            "supplier": 10, "events": 1000, "documents": 500, "embeddings": 500}


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if type(v).__name__ == "Decimal":
        return round(float(v), 6)
    return v


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def check(tables_dir, results_dir, names, oracle_sql):
    """Compare each query's result under `results_dir/<name>` with DuckDB
    running `oracle_sql[name]` over the tables; return {name: reason}
    for every query that differs."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    bad = {}
    for name in names:
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            bad[name] = "no result"
            continue
        got = pq.read_table(files[0])
        s_cols, s_rows = _canon(got.column_names,
                                [tuple(r.values()) for r in got.to_pylist()])
        if name not in oracle_sql:
            bad[name] = "no oracle SQL"
            continue
        try:
            rel = con.sql(oracle_sql[name])
            o_cols, o_rows = _canon(rel.columns, rel.fetchall())
        except Exception as e:  # the replay itself failed
            bad[name] = f"oracle failed: {str(e)[:200]}"
            continue
        if s_cols != o_cols:
            bad[name] = f"columns {s_cols} != oracle {o_cols}"
        elif len(s_rows) != len(o_rows):
            bad[name] = f"{len(s_rows)} rows != oracle {len(o_rows)}"
        elif s_rows != o_rows:
            k = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b)
            bad[name] = f"sorted row {k}: {s_rows[k]} != oracle {o_rows[k]}"[:300]
    return bad
