#!/usr/bin/env python3
"""Same-session paired Spark/DuckDB control runs — the harness the r19
verdict asked for (item 6): interleave Spark and DuckDB timings of ONE
query subset in a single invocation window so host drift shows up in
BOTH engines, and emit the paired table BASELINE.md keeps
reconstructing by hand.

Usage:
  python3 tools/paired_bench.py <prefixes> [sfDir] [rounds] [oracle_sql.json]

  prefixes        comma-separated SPARK_GRAFT_ONLY prefixes (q204_,q200_)
  sfDir           default /root/testdata/sf0.1
  rounds          interleaved (spark, duck) rounds, default 2
  oracle_sql.json default /tmp/verify_r5b/oracle_sql.json (a Verify dump;
                  run tools/verify_local.py first if missing)

Each round runs the Spark bench main (fresh JVM — the driver's own
regime: min-of-2 passes, full-result forcing, warm-up at sf0.001) on the
subset, then the matching DuckDB oracle entries (fresh connection,
warm-up + min-of-2). Output: one JSON line + a markdown table with
per-round times, per-round ratios, and each engine's cross-round band
(max/min) — a query is "inside the host band" when its cross-round
movement is matched by the single-process DuckDB control's movement.
"""
import json
import math
import subprocess
import sys
import time
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def spark_round(prefixes: str, sf: str) -> dict:
    env = {"SPARK_GRAFT_ONLY": prefixes, "SPARK_GRAFT_SF_DIR": sf,
           "SPARK_GRAFT_CPUS": "32"}
    import os
    full_env = {**os.environ, **env}
    # plain sbt (fresh JVM): --client would silently drop the env filter
    subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                   env=full_env, check=True, capture_output=True,
                   cwd=str(Path(__file__).resolve().parent.parent))
    out = json.loads((Path(__file__).resolve().parent.parent /
                      "bench_full.json").read_text())
    return out["queries"]


def duck_round(names, oracles: dict, sf: str) -> dict:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    for n in names:
        con.execute(oracles[n]).fetchall()  # warm-up
    res = {}
    for _ in range(2):
        for n in names:
            t0 = time.perf_counter()
            con.execute(oracles[n]).fetchall()
            res[n] = min(res.get(n, 1e9), time.perf_counter() - t0)
    con.close()
    return res


def band(xs):
    """Cross-round max/min. NaN when any round is missing: max/min over a
    list holding NaN depends on its order ([1.0, nan] gives 1.00)."""
    if not xs or not all(math.isfinite(x) and x > 0 for x in xs):
        return float("nan")
    return max(xs) / min(xs)


def main():
    prefixes = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    oracle_path = sys.argv[4] if len(sys.argv) > 4 else "/tmp/verify_r5b/oracle_sql.json"
    oracles = json.loads(Path(oracle_path).read_text())
    want = [p.strip() for p in prefixes.split(",") if p.strip()]
    duck_names = sorted(n for n in oracles
                        if any(n.startswith(p) for p in want))
    spark_rounds, duck_rounds = [], []
    for r in range(rounds):
        spark_rounds.append(spark_round(prefixes, sf))
        duck_rounds.append(duck_round(duck_names, oracles, sf))
    # spark keys are qNN prefixes; map duck full names onto them
    qkey = lambda n: n.split("_")[0]
    rows = []
    for n in duck_names:
        k = qkey(n)
        # a query missing from a Spark round is NaN everywhere, never a
        # negative timing that flows into the ratio column
        s = [sr.get(k, float("nan")) for sr in spark_rounds]
        d = [dr[n] for dr in duck_rounds]
        rows.append({"query": n, "spark": s, "duck": d,
                     "ratio": [si / di if di > 0 and si > 0 else float("nan")
                               for si, di in zip(s, d)],
                     "spark_band": band(s), "duck_band": band(d)})
    # spark-only (no-oracle) subset members still get their band
    covered = {qkey(n) for n in duck_names}
    for k in sorted(spark_rounds[0]):
        if k not in covered:
            s = [sr.get(k, float("nan")) for sr in spark_rounds]
            rows.append({"query": k + " (no oracle)", "spark": s,
                         "duck": [], "ratio": [], "spark_band": band(s),
                         "duck_band": float("nan")})
    print(json.dumps({"metric": "paired_bench", "sf": sf, "rounds": rounds,
                      "rows": rows}))
    hdr = ("| query | " +
           " | ".join(f"spark r{i+1}" for i in range(rounds)) + " | " +
           " | ".join(f"duck r{i+1}" for i in range(rounds)) +
           " | spark band | duck band |")
    print(hdr)
    print("|" + "---|" * (2 * rounds + 3))
    def cell(v, fmt):
        # missing/NaN renders as '-', not 'nanx' (r20 advice)
        return "-" if v != v else format(v, fmt)
    for row in rows:
        s = " | ".join(cell(v, ".2f") for v in row["spark"])
        d = " | ".join(cell(v, ".3f") for v in row["duck"]) or "-"
        sb, db = cell(row["spark_band"], ".2f"), cell(row["duck_band"], ".2f")
        print(f"| {row['query']} | {s} | {d} | {sb}x | {db}x |")


if __name__ == "__main__":
    main()
