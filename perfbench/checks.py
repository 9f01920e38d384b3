"""Output checks that run after the JVM program exits, with DuckDB as an
engine independent of the one under test.

* daily_pipeline -- the SCD2 dimension's current snapshot equals a DuckDB
  recomputation of the four-step DAG over the generated CSV drops: type
  mapping, junk-character removal, null-key and duplicate-key rules, the
  daily range aggregate and latest-day-per-key.
* stream_scd2    -- the dimension's current snapshot equals the latest
  valid change per key over every landed backlog file.
* operator_mix   -- every pass's result of every query has the content hash
  pinned in ``pinned_hashes.json`` for the fixed fixture set.

Re-pin after an intended change to the fixtures or to a query's output:

    python3 perfbench/checks.py pin .bench_work/operator_mix/out
"""
import glob
import hashlib
import json
import math
import os
import sys

import duckdb

JUNK_RE = r"[^\x20-\x7E\t\n\r]"


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _compare(name, expected, actual):
    """Both are {key: tuple}; returns failure strings (at most a few)."""
    out = []
    if len(actual) != len(expected):
        out.append(f"{name}: {len(actual)} current keys, expected {len(expected)}")
    bad = [k for k, v in expected.items()
           if k not in actual or not all(_close(x, y) for x, y in zip(v, actual[k]))]
    if bad:
        k = bad[0]
        out.append(f"{name}: {len(bad)} keys differ, e.g. {k}: expected {expected[k]}, got {actual.get(k)}")
    return out


def _rows_by_key(con, sql):
    rows = con.execute(sql).fetchall()
    return {r[0]: tuple(r[1:]) for r in rows}, len(rows)


def daily(fin):
    con = duckdb.connect()
    cols = "low, high, price_range, volume, n_trades, urgent_lines"
    per_drop = {}
    for path in sorted({d["drop"] for d in fin["days"]}):
        per_drop[path], _ = _rows_by_key(con, f"""
            WITH typed AS (
              SELECT CAST(L_ORDERKEY AS BIGINT) AS order_key, CAST(L_LINENUMBER AS INT) AS line_no,
                     TRY_CAST(L_PARTKEY AS BIGINT) AS part_key,
                     CAST(L_QUANTITY AS DOUBLE) AS quantity,
                     CAST(L_EXTENDEDPRICE AS DOUBLE) AS extended_price,
                     regexp_replace(O_ORDERPRIORITY, '{JUNK_RE}', '', 'g') AS order_priority,
                     CAST(INGEST_SEQ AS BIGINT) AS ingest_seq
              FROM read_csv('{path}', header = true, all_varchar = true)),
            good AS (
              SELECT * FROM typed WHERE part_key IS NOT NULL
              QUALIFY row_number() OVER (PARTITION BY order_key, line_no ORDER BY ingest_seq DESC) = 1)
            SELECT part_key, MIN(extended_price / quantity), MAX(extended_price / quantity),
                   MAX(extended_price / quantity) - MIN(extended_price / quantity),
                   CAST(SUM(quantity) AS BIGINT), COUNT(*),
                   CAST(SUM(CASE WHEN order_priority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT)
            FROM good GROUP BY part_key""")
    # replay the SCD2 rule: a key's current row moves to a new day only
    # when a tracked column changed (a drop reused in rotation can repeat
    # a key's values, and then the older version stays current)
    expected = {}
    for d in fin["days"]:
        for k, v in per_drop[d["drop"]].items():
            if k not in expected or expected[k][1:] != v:
                expected[k] = (d["day"],) + v
    actual, n = _rows_by_key(con, f"""
        SELECT part_key, CAST(trade_date AS VARCHAR), {cols}
        FROM read_parquet('{fin["dim_current"]}/*.parquet')""")
    failures = [] if n == len(actual) else [f"range_dim: {n} current rows for {len(actual)} keys"]
    return {"checks": 2, "failures": failures + _compare("range_dim", expected, actual)}


def stream(fin):
    con = duckdb.connect()
    files = ", ".join(f"'{f}'" for f in fin["landed"])
    expected, _ = _rows_by_key(con, f"""
        SELECT cust_key, segment, nation_key, acctbal FROM read_parquet([{files}])
        WHERE cust_key IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY cust_key ORDER BY change_ts DESC, change_id DESC) = 1""")
    actual, n = _rows_by_key(con, f"""
        SELECT cust_key, segment, nation_key, acctbal
        FROM read_parquet('{fin["dim_current"]}/*.parquet')""")
    failures = [] if n == len(actual) else [f"customer_dim: {n} current rows for {len(actual)} keys"]
    return {"checks": 2, "failures": failures + _compare("customer_dim", expected, actual)}


def _cell(v):
    if isinstance(v, float):
        return format(v, ".9g")
    return str(v)


def content_hash(con, result_dir):
    """Order-independent hash of one result: rows rendered with columns in
    name order and doubles to 9 significant digits, then sorted."""
    rel = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    names = [d[0] for d in rel.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted("|".join(_cell(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.sha256(("\n".join([",".join(sorted(names))] + rows)).encode())
    return h.hexdigest()[:16], len(rows)


def operator_mix(fin, here):
    with open(os.path.join(here, "pinned_hashes.json")) as fh:
        pinned = json.load(fh)
    con = duckdb.connect()
    failures, checks, rows = [], 0, 0
    for d in sorted(glob.glob(os.path.join(fin["out"], "*", "pass_*"))):
        q = os.path.basename(os.path.dirname(d))
        h, n = content_hash(con, d)
        checks += 1
        rows += n
        if pinned.get(q) != h:
            failures.append(f"{q} {os.path.basename(d)}: content hash {h}, pinned {pinned.get(q)}")
    return {"checks": checks, "failures": failures, "live_rows": rows}


def run(workload, fin, here):
    if workload == "daily_pipeline":
        return daily(fin)
    if workload == "stream_scd2":
        return stream(fin)
    return operator_mix(fin, here)


if __name__ == "__main__" and len(sys.argv) == 3 and sys.argv[1] == "pin":
    con = duckdb.connect()
    hashes = {}
    for d in sorted(glob.glob(os.path.join(sys.argv[2], "*", "pass_*"))):
        q = os.path.basename(os.path.dirname(d))
        h, n = content_hash(con, d)
        if hashes.setdefault(q, h) != h:
            sys.exit(f"{q}: passes disagree ({hashes[q]} vs {h}); nothing pinned")
        print(f"{q}: {h} ({n} rows)")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned_hashes.json"), "w") as fh:
        json.dump(hashes, fh, indent=1, sort_keys=True)
        fh.write("\n")
