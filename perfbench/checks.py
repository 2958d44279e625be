"""Checks every output of a run against a computation made apart from the
program, in DuckDB. A mismatch counts the operation that produced it as
failed.

- etl_incremental: the raw tree (lake and arrivals) holds one file per day
  directory and equals the closed-form `SyntheticBars` arithmetic; after
  the last trigger refined holds one partition per asset and equals a
  DuckDB recomputation over the whole raw tree (incremental equals full
  refresh); refined files of assets no arrival touched are unchanged; the
  reads after trigger k equal that recomputation over the raw days landed
  so far.
- query_mix: each query's result equals its `SparkEntry.oracleSql` run in
  DuckDB over the same fixture.
"""
import datetime
import decimal
import hashlib
import math
import os
import sys

import duckdb

from fixture import ticker_hash

REL_TOL = 1e-9
FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]


def _connect():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _q(path):
    return "'" + path.replace("'", "''") + "'"


def _data_files(d):
    return sorted(f for f in os.listdir(d)
                  if not f.startswith((".", "_")) and os.path.isfile(os.path.join(d, f)))


def _norm(v):
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, (decimal.Decimal, int)) and not isinstance(v, bool):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _sort_key(row):
    return [(v is None, "" if v is None else str(type(v)), v if v is not None else 0)
            for v in row]


def same_rows(got, want):
    """Order-insensitive row-set equality with a relative float tolerance."""
    got = sorted((_norm(list(r)) for r in got), key=_sort_key)
    want = sorted((_norm(list(r)) for r in want), key=_sort_key)
    return len(got) == len(want) and all(_same(g, w) for g, w in zip(got, want))


def expected_bars_sql(batches):
    """Closed-form bars: `batches` is [(ticker, start ISO date, days)]."""
    parts = []
    for ticker, start, days in batches:
        h = ticker_hash(ticker)
        parts.append(
            f"SELECT '{ticker.split('.')[0]}' AS ativo, "
            f"CAST(DATE '{start}' + CAST(i AS INTEGER) AS TIMESTAMP) AS Date, "
            f"100.0::DOUBLE + CAST(({h} * i) % 997 AS DOUBLE) / 10.0::DOUBLE AS Open, "
            f"101.0::DOUBLE + CAST(({h} * (i + 1)) % 997 AS DOUBLE) / 10.0::DOUBLE AS High, "
            f"99.0::DOUBLE + CAST(({h} * (i + 1)) % 997 AS DOUBLE) / 10.0::DOUBLE AS Low, "
            f"100.0::DOUBLE + CAST(({h} * (i + 1)) % 997 AS DOUBLE) / 10.0::DOUBLE AS Close, "
            f"1000 + ({h} * (i + 1)) % 9973 AS Volume FROM range({days}) r(i)")
    return " UNION ALL ".join(parts)


def raw_ok(con, raw_dir, batches):
    """One file per day directory, and contents equal to the closed form."""
    day_dirs = [os.path.join(dp) for dp, dns, _ in os.walk(raw_dir)
                if os.path.basename(dp).startswith("dia=")]
    if not day_dirs or any(len(_data_files(d)) != 1 for d in day_dirs):
        return False
    con.execute(f"CREATE OR REPLACE TEMP VIEW exp AS {expected_bars_sql(batches)}")
    con.execute("CREATE OR REPLACE TEMP VIEW got AS SELECT ativo, "
                "CAST(Date AS TIMESTAMP) AS Date, Open, High, Low, Close, Volume "
                f"FROM read_parquet({_q(raw_dir + '/*/*/*/*.parquet')}, "
                "hive_partitioning = false)")
    n_exp, n_got, n_keys = con.execute(
        "SELECT (SELECT count(*) FROM exp), (SELECT count(*) FROM got), "
        "(SELECT count(DISTINCT (ativo, Date)) FROM got)").fetchone()
    if not n_exp == n_got == n_keys:
        return False
    bad = con.execute(
        "SELECT count(*) FROM exp FULL OUTER JOIN got USING (ativo, Date) "
        "WHERE exp.Open IS NULL OR got.Open IS NULL OR exp.Volume <> got.Volume "
        + "".join(f" OR abs(exp.{c} - got.{c}) > {REL_TOL} * abs(exp.{c})"
                  for c in ("Open", "High", "Low", "Close"))).fetchone()[0]
    return bad == 0


REFINED_COLS = ["ativo", "date", "close_price", "trade_volume", "mm_7d",
                "avg_close_price", "total_volume"]


def recompute_sql(raw_dir, until=None):
    """The reference transform over a raw tree, recomputed in DuckDB: the
    7-row mean (null for each asset's first 6 rows), the per-asset mean
    close and total volume, and their left join."""
    where = f"WHERE Date <= TIMESTAMP '{until} 00:00:00'" if until else ""
    return f"""
      WITH b AS (
        SELECT ativo, CAST(Date AS TIMESTAMP) AS date, Close AS close_price,
               Volume AS trade_volume
        FROM read_parquet({_q(raw_dir + '/*/*/*/*.parquet')},
                          hive_partitioning = false) {where}),
      w AS (
        SELECT *, CASE WHEN count(close_price) OVER win = 7
                       THEN avg(close_price) OVER win END AS mm_7d
        FROM b WINDOW win AS (PARTITION BY ativo ORDER BY date, close_price
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      a AS (SELECT ativo, avg(close_price) AS avg_close_price,
                   sum(trade_volume) AS total_volume FROM b GROUP BY ativo)
      SELECT w.ativo, w.date, w.close_price, w.trade_volume, w.mm_7d,
             a.avg_close_price, a.total_volume
      FROM w LEFT JOIN a USING (ativo)"""


def refined_view_sql(refined_dir):
    return (f"SELECT {', '.join(REFINED_COLS[1:])}, ativo FROM read_parquet("
            f"{_q(refined_dir + '/*/*/*.parquet')}, hive_partitioning = true, "
            "hive_types_autocast = false)")


def refined_ok(con, refined_dir, raw_dir, assets, pdate):
    """One partition per asset, and contents equal to the recomputation."""
    stems = sorted(t.split(".")[0] for t in assets)
    if sorted(os.listdir(refined_dir)) != sorted(
            [f"ativo={s}" for s in stems] + [f for f in os.listdir(refined_dir)
                                             if f.startswith(("_", "."))]):
        return False
    for s in stems:
        if os.listdir(os.path.join(refined_dir, f"ativo={s}")) != [f"data={pdate}"]:
            return False
    cols = ", ".join(REFINED_COLS)
    return sorted_equal(con, f"SELECT {cols} FROM ({refined_view_sql(refined_dir)})",
                        f"SELECT {cols} FROM ({recompute_sql(raw_dir)})")


def _digests(root, stems):
    """(path under `root`, md5) of every data file of the given assets."""
    out = set()
    for s in stems:
        for dp, _, files in os.walk(os.path.join(root, f"ativo={s}")):
            for f in files:
                if not f.startswith((".", "_")):
                    with open(os.path.join(dp, f), "rb") as fh:
                        out.add((os.path.relpath(os.path.join(dp, f), root),
                                 hashlib.md5(fh.read()).hexdigest()))
    return out


def _plan(plan, key):
    return [row[1:] for row in plan if row[0] == key]


def check(workload, plan, records):
    con = _connect()
    ops = [r for r in records if r["kind"] == "op"]
    reads = [r for r in records if r["kind"] == "read"]
    failed = 0
    if workload == "etl_incremental":
        assets = _plan(plan, "assets")[0][0].split(",")
        start, days = _plan(plan, "start")[0][0], int(_plan(plan, "days")[0][0])
        pdate = _plan(plan, "processing_date")[0][0]
        prep = next(r for r in records if r["kind"] == "prep")
        raw_dir, refined_dir = prep["raw"], prep["refined"]
        batches = [(t, start, days) for t in assets]
        touched = set()
        for a in (r for r in records if r["kind"] == "arrival"):
            batches += [(t, a["day"], 1) for t in a["assets"].split(",")]
            touched.update(t.split(".")[0] for t in a["assets"].split(","))
        ok = raw_ok(con, raw_dir, batches) and refined_ok(
            con, refined_dir, raw_dir, assets, pdate)
        snapshot = next(r for r in records if r["kind"] == "snapshot")["files"]
        untouched = {t.split(".")[0] for t in assets} - touched
        ok = ok and _digests(refined_dir, untouched) == {
            (rel, md5) for rel, md5 in snapshot
            if rel.split(os.sep)[0].split("=", 1)[1] in untouched}
        failed += not ok
        day_of = {a["round"]: a["day"] for a in records if a["kind"] == "arrival"}
        sqls = dict((row[0], row[1]) for row in _plan(plan, "read"))
        for r in reads:
            con.execute("CREATE OR REPLACE TEMP VIEW refined AS "
                        + recompute_sql(raw_dir, until=day_of[r["round"]]))
            failed += not same_rows(r["rows"], con.execute(sqls[r["name"]]).fetchall())
        attempted = len(ops) + len(reads)
    else:
        fixture = _plan(plan, "fixture")[0][0]
        for t in FIXTURE_TABLES:
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                        f"read_parquet({_q(os.path.join(fixture, t + '.parquet'))})")
        bad = set()
        for c in (r for r in records if r["kind"] == "check"):
            if not query_ok(con, c["path"], c["sql"]):
                bad.add(c["name"])
        failed = sum(op["name"] in bad for op in ops)
        attempted = len(ops)
        if bad:
            print(f"query_mix: outputs differ from the oracle: {sorted(bad)}",
                  file=sys.stderr)
    return {"correct": True, "attempted": attempted, "failed": min(failed, attempted)}


def query_ok(con, path, sql):
    """Spark's result equals the oracle's, columns by name, rows as a set."""
    try:
        got = con.sql(f"SELECT * FROM read_parquet({_q(path + '/*.parquet')})")
        want = con.sql(sql)
    except duckdb.Error:
        return False
    if sorted(got.columns) != sorted(want.columns):
        return False
    cols = ", ".join(f'"{c}"' for c in sorted(got.columns))
    return sorted_equal(con, f"SELECT {cols} FROM read_parquet("
                             f"{_q(path + '/*.parquet')})",
                        f"SELECT {cols} FROM ({sql})")


def sorted_equal(con, got_sql, want_sql):
    """Both queries' rows, sorted by every column in DuckDB, pairwise equal
    (doubles within a relative tolerance)."""
    got = con.execute(f"SELECT * FROM ({got_sql}) ORDER BY ALL").fetchall()
    want = con.execute(f"SELECT * FROM ({want_sql}) ORDER BY ALL").fetchall()
    return len(got) == len(want) and all(
        _same(_norm(list(g)), _norm(list(w))) for g, w in zip(got, want))
