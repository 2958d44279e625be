"""Seeded inputs the benchmark generates itself: the landed raw lake of the
incremental ETL workload, and a stand-in for the sf-scaled query-library
fixture.

`write_lake` lands daily bars in the program's raw layout
(`raw/ano=YYYY/mes=MM/dia=DD/`, one file per day) with exactly the values
`graft.sources.SyntheticBars` computes for the same tickers and dates: the
lake looks as if the program's scraper stand-in had landed it day by day.

`generate` writes the ten tables `SparkEntry.queries` reads (`<dir>/<name>.parquet`,
one file and one row group each, pandas/pyarrow types) with the same
schemas, key ranges, cardinalities and value domains as the fixture
family described in FIXTURES.md. Every value comes from one numpy
generator seeded by the workload seed, so the same seed gives the same
bytes and nothing depends on the wall clock.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def ticker_hash(ticker):
    """`SyntheticBars.tickerHash`: fold (acc*31 + codepoint) mod (2^31-1)."""
    acc = 0
    for ch in ticker:
        acc = (acc * 31 + ord(ch)) % 2147483647
    return acc


def write_lake(raw_dir, tickers, start, days):
    """Daily bars for every ticker from `start` (ISO date) for `days` days."""
    i = np.arange(days, dtype=np.int64)
    dates = np.datetime64(start, "D") + i
    cols = {k: [] for k in ("Date", "Open", "High", "Low", "Close", "Volume", "ativo")}
    for t in tickers:
        h = ticker_hash(t)
        v = (h * (i + 1)) % 997
        cols["Date"].append(dates.astype("datetime64[us]"))
        cols["Open"].append(100.0 + ((h * i) % 997) / 10.0)
        cols["High"].append(101.0 + v / 10.0)
        cols["Low"].append(99.0 + v / 10.0)
        cols["Close"].append(100.0 + v / 10.0)
        cols["Volume"].append(1000 + (h * (i + 1)) % 9973)
        cols["ativo"].append(np.full(days, t.split(".")[0]))
    flat = {k: np.concatenate(v) for k, v in cols.items()}
    schema = pa.schema([("Date", pa.timestamp("us", tz="UTC")), ("Open", pa.float64()),
                        ("High", pa.float64()), ("Low", pa.float64()),
                        ("Close", pa.float64()), ("Volume", pa.int64()),
                        ("ativo", pa.string())])
    for d in range(days):
        day = str(dates[d])
        out = os.path.join(raw_dir, f"ano={day[:4]}", f"mes={day[5:7]}", f"dia={day[8:]}")
        os.makedirs(out)
        rows = np.arange(d, days * len(tickers), days)
        pq.write_table(pa.table({k: v[rows] for k, v in flat.items()}, schema=schema),
                       os.path.join(out, "part-00000.parquet"))


def _days(rng, n, first, last):
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, df):
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, len(df)))


def generate(out, sf, seed):
    """Write every table for scale factor `sf` under `out`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)

    _write(out, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}))
    _write(out, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    _write(out, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}))
    _write(out, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}))
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", pd.DataFrame({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                              rng.choice(PART_NOUN, n_part)),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}))
    _write(out, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}))
    _write(out, "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}))
    month_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt))
    _write(out, "events", pd.DataFrame({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, int(15_000 * sf), n_evt),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}))
    lens = rng.integers(10, 101, n_doc)
    words = rng.choice(WORDS, int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_doc)]
    # exact duplicates: a few documents repeat an earlier one verbatim
    for i in rng.choice(np.arange(1, n_doc), max(1, n_doc // 600),
                        replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    _write(out, "documents", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    vecs = rng.normal(0.0, 1.0, (n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", pd.DataFrame({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)}))
