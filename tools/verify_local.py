#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage:
  python3 tools/verify_local.py [sfDir] [outDir] [--skip-spark]

1. Runs `sbt "runMain graft.Verify <sfDir> <outDir>"` (unless --skip-spark),
   which dumps each SparkEntry.queries result to <outDir>/<name>/ parquet and
   the oracle SQL map to <outDir>/oracle_sql.json.
2. Registers each <sfDir>/<table>.parquet as a DuckDB view, runs each oracle
   SQL, and compares against the Spark parquet: row count, column names
   (sorted), and cell values (rows sorted by all columns, exact match; floats
   compared exactly first, then with 1e-9 rel tolerance reported separately).
   Each PASS/FAIL line carries the oracle's DuckDB time; the five slowest
   oracles are listed at the end.

Exit 0 iff every query with an oracle matches exactly.
"""
import json
import math
import re
import subprocess
import sys
import time
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon_type(t):
    """Canonical arrow type string so Spark parquet and DuckDB compare.

    The driver's hash is type-sensitive (round-14 verdict: DECIMAL(38,0)
    vs HUGEINT broke q190/q192/q195/q196 even with identical values), so
    the local gate must compare types too. Only representation-equivalent
    encodings are collapsed (large_string/string, dictionary, timestamp
    tz spelling); numeric width/kind differences stay visible.
    """
    s = str(t)
    s = s.replace("large_string", "string").replace("large_binary", "binary")
    if s.startswith("dictionary"):
        # dictionary<values=timestamp[us], indices=int32, ordered=0>
        # -> timestamp[us] (value type may itself carry brackets/commas)
        m = re.search(r"values=(.+?), indices=", s)
        if m:
            s = m.group(1)
    # timestamp tz spelling: Spark parquet reads back UTC-adjusted
    # timestamps as timestamp[us, tz=UTC]; DuckDB's TIMESTAMP is naive
    # timestamp[us]. The session runs UTC on both engines, so these are
    # the same instant semantics — collapse the spelling.
    s = re.sub(r"^timestamp\[(\w+), tz=UTC\]$", r"timestamp[\1]", s)
    return s


def norm(v):
    if isinstance(v, float) and v.is_integer() and abs(v) < 2**53:
        return v
    return v


def cmp_cell(a, b):
    if a is None and b is None:
        return "exact"
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return "exact" if a == b else "MISMATCH"
        if af == bf or (math.isnan(af) and math.isnan(bf)):
            return "exact"
        if bf != 0 and abs(af - bf) / max(abs(af), abs(bf)) < 1e-9:
            return "close"
        return "MISMATCH"
    return "exact" if a == b else "MISMATCH"


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/verify_out"
    # queries whose Spark run threw: Verify prints "[verify] <name> failed"
    # and exits 0, leaving any older parquet of that name in out_dir
    spark_failed = []
    if "--skip-spark" not in sys.argv:
        # --batch: a one-shot sbt JVM that exits with the run (--client
        # would leave an sbt server of ~570 MB behind, and it does not
        # forward this process's environment to the forked JVM)
        r = subprocess.run(
            ["sbt", "--batch", f'runMain graft.Verify {sf_dir} {out_dir}'],
            cwd=Path(__file__).resolve().parent.parent,
            capture_output=True, text=True, timeout=1800)
        if r.returncode != 0:
            print(r.stdout[-4000:])
            print(r.stderr[-4000:])
            print("SPARK VERIFY RUN FAILED")
            sys.exit(2)
        # surface per-query failures printed by Verify — they go to the
        # forked JVM's stderr, which build.sbt's StdoutOutput strategy
        # (round 16) now passes through as sbt's stderr rather than
        # relogging onto stdout
        for line in (r.stdout + "\n" + r.stderr).splitlines():
            if "[verify]" in line:
                print(line)
                m = re.search(r"\[verify\] (\S+) failed", line)
                if m and m.group(1) not in spark_failed:
                    spark_failed.append(m.group(1))

    oracle = json.loads(Path(f"{out_dir}/oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_fail = 0
    passed = set()
    secs = {}
    for name in sorted(oracle):
        spark_path = Path(out_dir) / name
        if not spark_path.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        t0 = time.monotonic()
        try:
            want = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:
            secs[name] = time.monotonic() - t0
            print(f"FAIL {name} [duckdb {secs[name]:.2f}s]: oracle SQL error: {e}")
            n_fail += 1
            continue
        secs[name] = time.monotonic() - t0
        tag = f"{name} [duckdb {secs[name]:.2f}s]"
        got = con.execute(
            f"SELECT * FROM read_parquet('{spark_path}/*.parquet')").fetch_arrow_table()

        wcols, gcols = sorted(want.column_names), sorted(got.column_names)
        if wcols != gcols:
            print(f"FAIL {tag}: columns differ\n  oracle: {wcols}\n  spark:  {gcols}")
            n_fail += 1
            continue
        type_bad = []
        for c in wcols:
            wt = canon_type(want.schema.field(c).type)
            gt = canon_type(got.schema.field(c).type)
            if wt != gt:
                type_bad.append((c, gt, wt))
        if type_bad:
            for c, gt, wt in type_bad:
                print(f"FAIL {tag}: col {c} TYPE spark={gt} oracle={wt}")
            n_fail += 1
            continue
        if want.num_rows != got.num_rows:
            print(f"FAIL {tag}: rows oracle={want.num_rows} spark={got.num_rows}")
            n_fail += 1
            continue

        def rows_sorted(tbl):
            cols = sorted(tbl.column_names)
            pylist = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
            return sorted(pylist, key=lambda r: tuple(
                (x is None, str(type(x)), str(x)) for x in r))

        wrows, grows = rows_sorted(want), rows_sorted(got)
        status = "exact"
        bad = None
        for i, (wr, gr) in enumerate(zip(wrows, grows)):
            for j, (a, b) in enumerate(zip(gr, wr)):
                c = cmp_cell(a, b)
                if c == "MISMATCH":
                    status = "MISMATCH"
                    bad = (i, wcols[j], a, b)
                    break
                if c == "close" and status == "exact":
                    status = "close"
                    bad = (i, wcols[j], a, b)
            if status == "MISMATCH":
                break
        if status == "MISMATCH":
            i, c, a, b = bad
            print(f"FAIL {tag}: row {i} col {c}: spark={a!r} oracle={b!r}")
            n_fail += 1
        elif status == "close":
            i, c, a, b = bad
            print(f"WARN {tag}: float-close-but-not-exact row {i} col {c}: spark={a!r} oracle={b!r}")
            passed.add(name)
        else:
            print(f"PASS {tag}: {want.num_rows} rows exact")
            passed.add(name)

    # queries without oracle: rows-only check
    for p in sorted(Path(out_dir).iterdir()):
        if p.is_dir() and p.name not in oracle:
            n = con.execute(f"SELECT count(*) FROM read_parquet('{p}/*.parquet')").fetchone()[0]
            print(f"INFO {p.name}: no oracle, {n} rows")

    slowest = sorted(secs.items(), key=lambda kv: -kv[1])[:5]
    print("\nslowest oracles (duckdb s): " +
          ", ".join(f"{n} {t:.2f}" for n, t in slowest))
    # a query that failed on Spark fails here too, oracle or rows-only: a
    # compare that passed read an earlier run's output
    for name in spark_failed:
        stale = " (its compare above read stale output)" if name in passed else ""
        print(f"FAIL {name}: Spark run failed{stale}")
    print(f"{len(passed - set(spark_failed))}/{len(oracle)} oracle queries pass")
    sys.exit(1 if n_fail or spark_failed else 0)


if __name__ == "__main__":
    main()
