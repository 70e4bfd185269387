#!/usr/bin/env python3
"""Cross-check the engine's answers against DuckDB, then commit digests.

Usage (from the checkout root):
  python3 perfbench/run.py --workload all --seed 0 --seconds 1 --mode expect
  python3 perfbench/crosscheck.py

The first command answers every dashboard grid entry and every batch job
once and dumps the answers under perfbench/target/work/expect/. This
script re-computes each answer that has an SQL equivalent in DuckDB over
the same parquet files (grid entries: the statement next to the entry;
batch jobs: SparkEntry.oracleSql), compares them the way
scripts/selfcheck.py does (same columns, same row count, floats within a
relative 1e-9), and, only when every check passes, copies the digests to
perfbench/expected/, where the benchmark reads them.
"""
import datetime as dt
import json
import math
import shutil
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
WORK = HERE / "target" / "work"
EXPECT = WORK / "expect"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PAGE = 20


def connect():
    data = sorted(WORK.glob("data-v*"))[-1]
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet/*.parquet')")
    return con


def as_epoch_ms(v):
    """Engine timestamps arrive as ISO strings (ms precision), DuckDB's as
    datetimes or epoch-second buckets; compare both as epoch ms."""
    if isinstance(v, str):
        return int(dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
                   .timestamp() * 1000)
    if isinstance(v, dt.datetime):
        return int(v.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    return int(v) * 1000


def same(a, b, key):
    if key in ("__time_bucket", "ts"):
        return as_epoch_ms(a) == as_epoch_ms(b)
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(got, want):
    """got/want: lists of dicts. Returns an error string or None."""
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if sorted(g) != sorted(w):
            return f"row {i}: columns {sorted(g)} != {sorted(w)}"
        for k in g:
            if not same(g[k], w[k], k):
                return f"row {i} {k}: {g[k]!r} != {w[k]!r}"
    return None


def rows_of(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def check_dashboard(con):
    n_ok = n_fail = n_skip = 0
    for line in (EXPECT / "dashboard.jsonl").read_text().splitlines():
        e = json.loads(line)
        if e["status"] != 200:
            print(f"FAIL {e['id']}#{e['page']}: HTTP {e['status']}")
            n_fail += 1
            continue
        if not e.get("sql"):
            n_skip += 1
            continue
        want = rows_of(con, e["sql"])
        if e["kind"] == "search":
            want = want[e["page"] * PAGE:(e["page"] + 1) * PAGE]
        err = compare(json.loads(e["body"])["rows"], want)
        if err:
            print(f"FAIL {e['id']}#{e['page']}: {err}")
            n_fail += 1
        else:
            n_ok += 1
    print(f"dashboard: {n_ok} agree with DuckDB, {n_fail} fail, "
          f"{n_skip} without an SQL equivalent")
    return n_fail == 0


def check_batch(con):
    path = EXPECT / "batch.jsonl"
    if not path.exists():
        print("batch: no dump")
        return False
    n_ok = n_fail = n_skip = 0
    for line in path.read_text().splitlines():
        e = json.loads(line)
        if not e.get("oracle"):
            n_skip += 1
            continue
        got = rows_of(con, f"SELECT * FROM read_parquet('{e['out']}/*.parquet')")
        try:
            want = rows_of(con, e["oracle"])
        except Exception as ex:  # noqa: BLE001 - report and count
            print(f"FAIL {e['job']}: oracle error {ex}")
            n_fail += 1
            continue
        cols = sorted(got[0]) if got else []
        key = lambda r: tuple(  # noqa: E731
            (str(type(r[c]).__name__), "" if r[c] is None else str(r[c]))
            for c in cols)
        err = compare(sorted(got, key=key), sorted(want, key=key)) \
            if not want or sorted(want[0]) == cols else \
            f"columns {cols} != {sorted(want[0])}"
        if err:
            print(f"FAIL {e['job']}: {err}")
            n_fail += 1
        else:
            n_ok += 1
    print(f"batch: {n_ok} agree with DuckDB, {n_fail} fail, "
          f"{n_skip} without an oracle")
    return n_fail == 0


def main():
    con = connect()
    ok = check_dashboard(con)
    ok = check_batch(con) and ok
    if not ok:
        print("not writing expected digests")
        sys.exit(1)
    for name in ("dashboard.tsv", "batch.tsv"):
        shutil.copy(EXPECT / name, HERE / "expected" / name)
    print("wrote perfbench/expected/dashboard.tsv and batch.tsv")


if __name__ == "__main__":
    main()
