"""Battery input tables and the DuckDB oracle compare.

`generate` writes the ten tables the 46-query battery reads (a TPC-H-ish
star schema plus `events`, `documents` and `embeddings`), one parquet
file each, with the column names, types and value distributions of the
repo's sf test data. Every value is a pure function of (sf, seed).

`oracle_compare` runs each oracle SQL text against those tables in
DuckDB and compares the result with the Spark output written as parquet,
the same way the repo's oracle check does: columns sorted by name, rows
sorted, every value rendered with repr and hashed.
"""
import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order",
             "part", "query", "row", "scan", "slow", "small", "sort", "spark",
             "stream", "table", "the", "value", "vector", "window"]


def _days(start, n, rng, span_days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype("timedelta64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")


def generate(out_dir, sf, seed):
    """Write the ten battery tables at scale `sf` into `out_dir`."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(100, int(200000 * sf))
    n_ord = max(500, int(1500000 * sf))
    n_line = max(2000, int(6000000 * sf))
    n_ev = max(1000, int(1000000 * sf))
    n_users = max(20, int(15000 * sf))
    n_doc = max(100, int(50000 * sf))
    n_vec = max(100, int(20000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1)})

    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days("1995-01-01", n_ord, rng, 2405), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})

    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days("1995-01-02", n_line, rng, 2498), pa.timestamp("us"))})

    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random word strings; ~5% are near-duplicates of an
    # earlier document (one trailing "dup" token) and a few are exact
    # copies, so the dedup / near-dup / LSH queries have pairs to find
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})


def _rows_hash(df):
    return hashlib.sha256("\n".join(
        ",".join(repr(v) for v in row) for row in df.itertuples(index=False)
    ).encode()).hexdigest()


def _canonical(df):
    """Columns sorted by name, floats rounded to 6 decimals, rows sorted:
    equal for equal row multisets, whatever the engine's row order or
    last-bit float summation order."""
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return df.sort_values(cols, kind="mergesort") if cols else df


def result_digests(out_dir, names):
    """{query: "rows:sha256-prefix"} over each query's parquet output."""
    import duckdb
    con = duckdb.connect()
    out = {}
    for q in names:
        df = con.sql(f"SELECT * FROM '{out_dir}/{q}/*.parquet'").df()
        out[q] = f"{len(df)}:{_rows_hash(_canonical(df))[:16]}"
    return out


def oracle_compare(sf_dir, out_dir, oracle_sql):
    """Return {query: None if it matches DuckDB, else a reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    verdict = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            want = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - any engine error is a mismatch
            verdict[name] = f"exec error: {e}"[:300]
            continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc:
            verdict[name] = f"schema: spark={gc} duck={wc}"
        elif len(got) != len(want):
            verdict[name] = f"rows: spark={len(got)} duck={len(want)}"
        elif _rows_hash(got[gc].sort_values(gc)) != _rows_hash(want[wc].sort_values(wc)):
            verdict[name] = "value mismatch"
        else:
            verdict[name] = None
    return verdict


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
