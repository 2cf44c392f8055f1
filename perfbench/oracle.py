"""Compare Spark result dumps with `SparkEntry.oracleSql` under DuckDB.

Same rules as the repo's `tools/compare.py`: the oracle SQL runs over
views of the workload's parquet tables; both sides are sorted on every
column and compared cell by cell (NULL equals NULL).
"""
import glob
import os

import duckdb


def compare(data_dir: str, out_dir: str, oracle: dict):
    """Return (checks, unchecked): one check per key with an oracle, and
    the keys that have none."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    checks, unchecked = [], []
    for key, sql in oracle.items():
        if sql is None:
            unchecked.append(key)
            continue
        checks.append({"name": f"oracle.{key}", **_compare_one(
            con, os.path.join(out_dir, key), sql)})
    return checks, unchecked


def _compare_one(con, spark_dir: str, sql: str) -> dict:
    files = sorted(glob.glob(os.path.join(spark_dir, "*.parquet")))
    if not files:
        return {"ok": False, "detail": "no spark output"}
    try:
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        exp = con.sql(sql).df()
    except Exception as e:  # the oracle itself failing is a failed check
        return {"ok": False, "detail": f"oracle error {e}"}
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return {"ok": False, "detail": f"columns {gc} != {ec}"}
    if len(got) != len(exp):
        return {"ok": False, "detail": f"rows {len(got)} != {len(exp)}"}
    g = got[gc].sort_values(gc).reset_index(drop=True)
    e = exp[ec].sort_values(ec).reset_index(drop=True)
    for c in gc:
        gv, ev = g[c], e[c]
        try:
            eq = (gv == ev) | (gv.isna() & ev.isna())
        except Exception:
            eq = gv.astype(str) == ev.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return {"ok": False,
                    "detail": f"col {c} row {i}: spark={gv[i]!r} oracle={ev[i]!r}"}
    return {"ok": True, "detail": f"{len(g)} rows"}
