#!/usr/bin/env python3
"""Checkpointed variant of compare.py for ONE key: each top-level
CTE materializes to parquet under CKDIR and reloads on retry, so an
OOM-killed replay resumes at the dying statement instead of re-paying
the earlier CTEs (the r16-s4 mining replay paid its ~25 min of
Lloyd-training CTEs once across three OOM retries, and the checkpoint
isolated the dying statement to the struct-max assignment aggregate).
Semantics identical to compare.py: the same SQL text, executed in
CTE order, same sorted-columns + row-count + two-sided EXCEPT ALL
verdict.

Usage: python3 tools/compare_ck.py <sfdir> <verify_out_dir> <key> <ckdir>
Checkpoint files are keyed by name PLUS a cumulative md5 of the CTE's
own body and every upstream body (r17 advisory): editing any CTE
invalidates it and everything downstream automatically — a resumed run
can never silently reuse stale parquet for changed oracle text."""
import hashlib, json, sys, glob, os, time
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare import split_ctes
import duckdb

sfdir, outdir, key, ck = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
os.makedirs(ck, exist_ok=True)
con = duckdb.connect()
con.execute(f"SET memory_limit='{os.environ.get('DUCK_MEM', '40GB')}'")
con.execute(f"SET threads={os.environ.get('DUCK_THREADS', '8')}")
os.makedirs('/tmp/duck_tmp', exist_ok=True)
con.execute("SET temp_directory='/tmp/duck_tmp'")
# large hash aggregates: dropping insertion-order preservation lets the
# pipeline stream/spill instead of buffering whole result sets
con.execute("SET preserve_insertion_order=false")
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
sql = json.load(open(f"{outdir}/oracle_sql.json"))[key]
ctes, final = split_ctes(sql)
chain = hashlib.md5()
for name, decl, body in ctes:
    chain.update(f"{name}|{decl}|{body}".encode())
    pq = f"{ck}/{name}.{chain.hexdigest()[:8]}.parquet"
    t0 = time.time()
    if os.path.exists(pq):
        con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{pq}')")
        print(f"[resume] {name}", flush=True)
        continue
    if decl:
        con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS "
                    f"WITH RECURSIVE {name}{decl} AS ({body}) "
                    f"SELECT * FROM {name}")
    else:
        con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {body}")
    # pid-unique temp + atomic rename (r18 advisory): two RACING resume
    # processes previously shared one tmp name, so a concurrent COPY
    # could clobber/interleave the other's in-flight bytes and publish
    # a torn checkpoint under the final name (the r17 TProtocolException
    # record). Each racer now writes its own tmp; whichever os.replace
    # lands last wins with a COMPLETE file of identical content.
    tmp = f"{pq}.tmp.{os.getpid()}.parquet"
    con.execute(f"COPY {name} TO '{tmp}' (FORMAT PARQUET)")
    os.replace(tmp, pq)
    # free the in-memory copy; downstream reads the parquet view
    con.execute(f"DROP TABLE {name}")
    con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS "
                f"SELECT * FROM read_parquet('{pq}')")
    n = con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
    print(f"[stage] {name}: {n} rows {time.time()-t0:.1f}s", flush=True)
con.execute(f"CREATE OR REPLACE TEMP TABLE cs_exp AS {final}")
files = glob.glob(f"{outdir}/{key}/*.parquet")
con.execute(f"CREATE OR REPLACE VIEW cs_got AS "
            f"SELECT * FROM read_parquet({files!r})")
gc = sorted(r[0] for r in con.execute("DESCRIBE cs_got").fetchall())
ec = sorted(r[0] for r in con.execute("DESCRIBE cs_exp").fetchall())
assert gc == ec, f"columns {gc} != {ec}"
cols = ", ".join(f'"{c}"' for c in gc)
ng = con.execute("SELECT count(*) FROM cs_got").fetchone()[0]
ne = con.execute("SELECT count(*) FROM cs_exp").fetchone()[0]
nd = con.execute(
    f"SELECT count(*) FROM ((SELECT {cols} FROM cs_got EXCEPT ALL "
    f"SELECT {cols} FROM cs_exp) UNION ALL (SELECT {cols} FROM cs_exp "
    f"EXCEPT ALL SELECT {cols} FROM cs_got))").fetchone()[0]
if ng == ne and nd == 0:
    print(f"[ok]   {key}: {ng} rows")
else:
    print(f"[FAIL] {key}: rows {ng} vs {ne}, {nd} differing")
    sys.exit(1)
