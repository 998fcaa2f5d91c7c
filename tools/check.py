#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run each oracle SQL
in DuckDB over the fixture parquet, load the engine's Verify output
parquet, sort columns by name, and compare values exactly.

Usage:
  python3 tools/check.py <sfDir> <verifyOutDir> [query ...]   # one scale
  python3 tools/check.py --gate [query ...]                   # full gate

--gate runs `sbt runMain graft.Verify` then the DuckDB compare at ALL
THREE fixture scales (sf0.001, sf0.01, sf0.1) and fails on any red.
The sf0.1 tier is gated deliberately: its first run (round 8) caught
two real bugs the smaller scales masked (a LIMIT over a non-total
ORDER BY; a double-ROUND .00005 split) — scale-dependent total-order
and rounding defects only surface when groups get big enough to tie.
"""
import json, os, re, subprocess, sys, math
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

GATE_SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
            "/root/testdata/sf0.1"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

def cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)

def check(sf, out, only):
    """Compare every oracle in <out>/oracle_sql.json against the engine
    parquet dumps; returns (n_pass, n_fail)."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracles = json.load(open(f"{out}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracles):
        if only and name not in only:
            continue
        try:
            exp = norm(con.execute(oracles[name]).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:200]}")
            n_fail += 1
            continue
        try:
            got = norm(duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf())
        except Exception as e:
            print(f"FAIL {name}: engine output missing: {str(e)[:120]}")
            n_fail += 1
            continue
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns exp={list(exp.columns)} got={list(got.columns)}")
            n_fail += 1
            continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
            n_fail += 1
            continue
        mismatch = None
        for c in exp.columns:
            ev, gv = exp[c].tolist(), got[c].tolist()
            for i, (a, b) in enumerate(zip(ev, gv)):
                if cell(a) != cell(b):
                    mismatch = (c, i, a, b)
                    break
            if mismatch:
                break
        if mismatch:
            c, i, a, b = mismatch
            print(f"FAIL {name}: col={c} row={i} exp={a!r} got={b!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(exp)} rows)")
            n_pass += 1
    # oracle-engine environment probe (written by Verify): run each probe
    # on THIS DuckDB and flag any drift from the pinned local-1.0.0
    # answers — the r3 grouping-sets red was exactly such a build delta
    try:
        probes = json.load(open(f"{out}/env_probe.json"))
    except Exception:
        probes = {}
    for name, p in probes.items():
        try:
            rows = con.execute(p["sql"]).fetchall()
            got = ",".join(cell(v) for r in rows for v in r)
        except Exception as e:
            got = f"error: {str(e)[:120]}"
        pinned = p.get("local_1_0_0", "")
        tag = "ok" if (got == pinned or pinned == "(build-specific)") \
            else "DRIFT"
        print(f"PROBE {name}: {got} [{tag}]")
    print(f"== {sf}: {n_pass} pass, {n_fail} fail ==")
    return n_pass, n_fail

def heap(env):
    """The -Xmx build.sbt gives the forked JVM under `env` (its
    SPARK_DRIVER_MEM, else build.sbt's own fallback)."""
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "show javaOptions"], env=env,
                       capture_output=True, text=True)
    m = re.search(r"-Xmx(\S+)", r.stdout)
    return m.group(1) if m else "?"

def gate(only):
    """Verify + compare at every fixture scale (the round-9 three-tier
    gate). Query subset args pass through to both Verify and compare.
    Verify runs at SPARK_GRAFT_CPUS if set, else every core of the box."""
    env = dict(os.environ)
    mem = heap(env)
    cpus = env.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    total_fail = 0
    for sf in GATE_SFS:
        tag = sf.rstrip("/").rsplit("/", 1)[-1]
        out = f"/tmp/verify_gate_{tag}"
        args = " ".join(sorted(only))
        cmd = f'runMain graft.Verify {sf} {out}' + (f" {args}" if args else "")
        print(f"-- {tag}: {cmd} (cpus={cpus}, "
              f"heap={mem})")
        r = subprocess.run(["sbt", "-batch", cmd], env=env,
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        if r.returncode != 0:
            print(f"FAIL {tag}: Verify exited {r.returncode}")
            total_fail += 1
            continue
        _, n_fail = check(sf, out, only)
        total_fail += n_fail
    print(f"== gate: {'GREEN' if total_fail == 0 else f'{total_fail} FAIL'} ==")
    sys.exit(1 if total_fail else 0)

def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--gate":
        gate(set(sys.argv[2:]))
        return
    sf, out = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    _, n_fail = check(sf, out, only)
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
