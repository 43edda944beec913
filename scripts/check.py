#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables and compare strictly against the parquet that
graft.Verify wrote. Usage: check.py <sfDir> <verifyOutDir> [runLog]

The optional third arg is the verify/bench JVM's stderr log: any Janino
`Failed to compile` line in it fails the gate. Codegen compile errors
fall back to INTERPRETED execution silently — correctness stays green
while performance rots (round 14: a Java-keyword package name broke
every generated kernel reference and only a log grep found it). The
NativeExprSpec tripwire covers sbt test; this covers the two surfaces
the driver actually runs. Lines marked `(tripwire self-check)` (the
spec's synthetic error) are excluded.

DuckDB spills to a `.duckdb_tmp` directory under the output dir (not
the working directory) and the directory is removed when the run ends."""
import sys, json, glob, os, re, shutil
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]")
    return df.reset_index(drop=True)

def cmp_frames(name, sdf, ddf):
    problems = []
    if sorted(sdf.columns) != sorted(ddf.columns):
        return [f"columns differ: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}"]
    if len(sdf) != len(ddf):
        problems.append(f"row count: spark={len(sdf)} duck={len(ddf)}")
        return problems
    sdf, ddf = norm(sdf), norm(ddf)
    for c in sdf.columns:
        s, d = sdf[c], ddf[c]
        sn, dn = s.isna(), d.isna()
        if not sn.equals(dn):
            problems.append(f"col {c}: null placement differs ({int(sn.sum())} vs {int(dn.sum())})")
            continue
        mask = ~sn
        sv, dv = s[mask], d[mask]
        if np.issubdtype(s.dtype, np.floating) and np.issubdtype(d.dtype, np.floating):
            exact = (sv.values.astype(float) != dv.values.astype(float)).sum()
            if exact:
                i = np.nonzero(sv.values.astype(float) != dv.values.astype(float))[0][:3]
                problems.append(f"col {c}: {exact} float mismatches e.g. {sv.values[i]} vs {dv.values[i]}")
        else:
            try:
                eq = (sv.astype(str).values == dv.astype(str).values)
            except Exception as e:
                problems.append(f"col {c}: compare error {e}")
                continue
            if not eq.all():
                i = np.nonzero(~eq)[0][:3]
                problems.append(f"col {c}: {int((~eq).sum())} mismatches e.g. {sv.values[i]!r} vs {dv.values[i]!r}; dtypes {s.dtype}/{d.dtype}")
    # dtype check (schema-ish)
    for c in sdf.columns:
        if sdf[c].dtype != ddf[c].dtype:
            problems.append(f"col {c}: dtype {sdf[c].dtype} vs {ddf[c].dtype} (may still hash-match)")
    return problems

def check_log(path):
    """Return offending lines: Janino codegen failures outside the
    NativeExprSpec tripwire's synthetic line."""
    bad = []
    with open(path, errors="replace") as f:
        for line in f:
            if "Failed to compile" in line and "tripwire self-check" not in line:
                bad.append(line.strip()[:200])
    return bad


def main(sfdir, outdir, runlog=None):
    spill = os.path.join(outdir, ".duckdb_tmp")
    try:
        return run(duckdb.connect(config={"temp_directory": spill}),
                   sfdir, outdir, runlog)
    finally:
        shutil.rmtree(spill, ignore_errors=True)

def run(con, sfdir, outdir, runlog):
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    ok = bad = 0
    for name in sorted(oracle):
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); bad += 1; continue
        try:
            sdf = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        except Exception as e:
            print(f"FAIL {name}: cannot read spark output: {e}"); bad += 1; continue
        try:
            ddf = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:300]}"); bad += 1; continue
        problems = cmp_frames(name, sdf, ddf)
        hard = [p for p in problems if "may still hash-match" not in p]
        if hard:
            print(f"FAIL {name} ({len(sdf)} rows):")
            for p in problems[:6]: print(f"   - {p}")
            bad += 1
        else:
            soft = "" if not problems else f"  [{'; '.join(problems)}]"
            print(f"ok   {name} ({len(sdf)} rows){soft}")
            ok += 1
    if runlog:
        offenders = check_log(runlog)
        if offenders:
            print(f"\nFAIL codegen: {len(offenders)} 'Failed to compile' "
                  f"line(s) in {runlog} — generated code fell back to "
                  "interpreted execution (perf rots silently):")
            for o in offenders[:5]:
                print(f"   - {o}")
            bad += 1
        else:
            print(f"codegen log clean ({runlog})")
    print(f"\n{ok} ok, {bad} fail, {len(oracle)} total")
    return 1 if bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
