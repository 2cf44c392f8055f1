#!/usr/bin/env python3
"""Correctness check: Spark parquet dumps vs the DuckDB oracle.

For each query in <verify_out_dir>/oracle_sql.json, the oracle SQL runs
over <sfdir>'s tables and the verdict is computed columnar inside
DuckDB: sorted column sets, row counts, then a two-sided EXCEPT ALL.
It runs under an explicit memory limit, thread count and spill
directory (DUCK_MEM, DUCK_THREADS, DUCK_TMP), so a 100M-row replay
degrades to disk instead of the OOM killer.

The oracle's WITH-chain is split into its top-level CTEs and each is
materialized as its OWN temp table, statement by statement — DuckDB
frees pipeline memory between statements, and its untracked
allocations (list-heavy expressions inside deep CTE chains) no longer
stack across the whole query (observed at sf100's 2M-vector k-NN
oracle, lost at >75 GB RSS under a 60 GB memory_limit when run as one
statement). An oracle without a top-level WITH is its one final
statement. The statements are the SAME SQL text the engine emits in
oracle_sql.json, executed in CTE order.

Usage: python3 tools/compare.py <sfdir> <verify_out_dir> [keys]
(run `sbt "runMain graft.Verify <sfdir> <out>"` first; keys limit the
check to those queries).
"""
import json, sys, glob, os, re, time
import duckdb


def strip_comments(sql):
    """Remove `-- ...` line comments outside string literals (they can
    contain unbalanced parens that would break the CTE scanner)."""
    out = []
    in_str = False
    i = 0
    while i < len(sql):
        c = sql[i]
        if in_str:
            out.append(c)
            if c == "'":
                in_str = False
            i += 1
        elif c == "'":
            out.append(c); in_str = True; i += 1
        elif c == "-" and sql[i:i + 2] == "--":
            while i < len(sql) and sql[i] != "\n":
                i += 1
        else:
            out.append(c); i += 1
    return "".join(out)


def split_ctes(sql):
    """Parse 'WITH [RECURSIVE] name AS [MATERIALIZED] (body), ... final'
    into ([(name, body)...], final_select). Balanced-paren scan; string
    literals respected. A query without a top-level WITH has no CTEs."""
    s = strip_comments(sql).strip()
    if not re.match(r"WITH\b", s, re.IGNORECASE):
        return [], s
    s = s[4:].lstrip()
    if s.upper().startswith("RECURSIVE"):
        s = s[len("RECURSIVE"):].lstrip()
    ctes = []
    i = 0
    while True:
        # name [(cols)] AS [MATERIALIZED] (
        j = s.index("(", i)
        head = s[i:j]
        # handle 'name(col, ...) AS (' — recursive CTEs declare columns
        if "AS" not in head.upper():
            j2 = s.index("(", s.index(")", j) )  # the body paren
            head = s[i:j2]
            j = j2
        name = head.split("(")[0].split()[0].strip()
        depth = 0
        k = j
        in_str = False
        while True:
            c = s[k]
            if in_str:
                if c == "'":
                    in_str = False
            elif c == "'":
                in_str = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        decl = head[len(name):head.upper().rindex("AS")].strip()
        ctes.append((name, decl, s[j + 1:k]))
        rest = s[k + 1:].lstrip()
        if rest.startswith(","):
            s = rest[1:].lstrip()
            i = 0
        else:
            return ctes, rest


def main(sfdir, outdir, keys):
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{os.environ.get('DUCK_MEM', '60GB')}'")
    con.execute(f"SET threads={os.environ.get('DUCK_THREADS', '16')}")
    tmp = os.environ.get("DUCK_TMP", "/tmp/duck_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracles.items()):
        if keys and name not in keys:
            continue
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"[FAIL] {name}: no spark output"); n_bad += 1; continue
        try:
            ctes, final = split_ctes(sql)
            made = []
            verbose = os.environ.get("DUCK_VERBOSE") == "1"
            for cname, decl, body in ctes:
                t0 = time.time()
                if decl:  # recursive CTE with declared columns: keep as-is
                    con.execute(
                        f"CREATE OR REPLACE TEMP TABLE {cname} AS "
                        f"WITH RECURSIVE {cname}{decl} AS ({body}) "
                        f"SELECT * FROM {cname}")
                else:
                    con.execute(
                        f"CREATE OR REPLACE TEMP TABLE {cname} AS {body}")
                made.append(cname)
                if verbose:
                    n = con.execute(
                        f"SELECT count(*) FROM {cname}").fetchone()[0]
                    print(f"[stage] {name}.{cname}: {n} rows "
                          f"{time.time() - t0:.1f}s", flush=True)
            con.execute(f"CREATE OR REPLACE TEMP TABLE cs_exp AS {final}")
            con.execute(f"CREATE OR REPLACE VIEW cs_got AS "
                        f"SELECT * FROM read_parquet({files!r})")
            gc = [r[0] for r in con.execute("DESCRIBE cs_got").fetchall()]
            ec = [r[0] for r in con.execute("DESCRIBE cs_exp").fetchall()]
            if sorted(gc) != sorted(ec):
                print(f"[FAIL] {name}: columns {sorted(gc)} != {sorted(ec)}")
                n_bad += 1; continue
            cols = ", ".join(f'"{c}"' for c in sorted(gc))
            ng = con.execute("SELECT count(*) FROM cs_got").fetchone()[0]
            ne = con.execute("SELECT count(*) FROM cs_exp").fetchone()[0]
            if ng != ne:
                print(f"[FAIL] {name}: rows {ng} != {ne}"); n_bad += 1
                continue
            nd = con.execute(
                f"SELECT count(*) FROM ("
                f"(SELECT {cols} FROM cs_got EXCEPT ALL "
                f" SELECT {cols} FROM cs_exp) UNION ALL "
                f"(SELECT {cols} FROM cs_exp EXCEPT ALL "
                f" SELECT {cols} FROM cs_got))").fetchone()[0]
            for cname in made + ["cs_exp"]:
                con.execute(f"DROP TABLE IF EXISTS {cname}")
        except Exception as e:
            print(f"[FAIL] {name}: oracle error {e}"); n_bad += 1; continue
        if nd:
            print(f"[FAIL] {name}: {nd} differing rows"); n_bad += 1
        else:
            print(f"[ok]   {name}: {ng} rows"); n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail ==")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:])))
