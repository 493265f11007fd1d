#!/usr/bin/env python3
"""The repository benchmark: one command that builds the engine from this
checkout, generates a workload's inputs from a seed, times it end to end
(and, with --trace 1, layer by layer), checks every output and prints the
metrics.

  python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 20 --trace 0

Workloads: medallion_daily, query_mix (see DESIGN.json).
The last stdout line is one JSON object:
  {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Everything a run writes stays under perfbench/work/ (deleted when the run
ends, except a trace run's spans, kept as work/trace-<workload>-<seed>.json)
and perfbench/target/ (the build).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

SETUPS = 3            # input generations + session builds per run
DEADLINE_S = 175      # the whole run, build excluded
BUILD_DEADLINE_S = 840
WORKLOADS = ("medallion_daily", "query_mix")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "unit_cpu_s": ("s", "lower"),
}
SPANS = [
    "sources.pull", "pipeline.bronze_write", "pipeline.silver_fact",
    "pipeline.silver_dim", "pipeline.gold_daily",
    "text.near_dup_pairs", "text.near_dup_pairs_fast", "text.dedup_clusters",
    "text.dedup_clusters_resume", "text.dedup_clusters_forget",
    "text.corpus_build",
] + [f"query.{f}" for f in ("tpch", "timeseries", "sketch", "vector",
                            "pagerank", "text", "multimodal", "stream")]
SPAN_MEASURES = {"s": "s", "jobs": "count", "driver_s": "s",
                 "exec_cpu_s": "s", "shuffle_bytes": "B"}
EXTRAS = {
    "sources.pull.pages": "count",
    "pipeline.bronze_write.bytes_written": "B",
    "pipeline.silver_fact.input_bytes": "B",
    "pipeline.silver_fact.rows_appended": "count",
    "pipeline.silver_fact.rows_absorbed": "count",
    "pipeline.silver_fact.pages_quarantined": "count",
    "pipeline.gold_daily.partitions_rewritten": "count",
    **{f"{s}.gc_s": "s" for s in SPANS if s.startswith("text.")},
    "text.near_dup_pairs.pairs": "count",
    "text.dedup_clusters.clusters": "count",
    "text.dedup_clusters.fixpoint_s": "s",
    "query.all.jobs": "count",
    "query.all.driver_s": "s",
    "trace.overhead_s": "s",
    "trace.uncovered_s": "s",
    # workload-level figures: wall times and JIT CPU, which the shared host's
    # CPU steal and JIT timing make too unsteady to bound, and figures that
    # only one workload has (zero on the other)
    "unit_s": "s",
    "jit_cpu_s": "s",
    "backfill_s": "s",
    "day_s_p50": "s",
    "history_cost_ratio": "ratio",
    "stored_bytes_per_payload_byte": "ratio",
    "query_s_p50": "s",
    "dedup_pass_s": "s",
    "ops_per_min": "1/min",
    "failed_op_ratio": "fraction",
}
PER_LAYER = {**{f"{s}.{m}": u for s in SPANS for m, u in SPAN_MEASURES.items()},
             **EXTRAS}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_hash():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                os.path.join(ROOT, "project", "build.properties"),
                os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine's sources with the harness (perfbench/build.sbt)
    unless the same sources were already built; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources at src/main/scala/graft: nothing to benchmark")
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    digest = _source_hash()
    try:
        with open(stamp) as f:
            s = json.load(f)
        if s["sources"] == digest:
            return s["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    log("building the engine and the harness (sbt)")
    try:
        r = subprocess.run(["sbt", "-batch", *opts, "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_DEADLINE_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    cp = [ln for ln in r.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if r.returncode != 0 or not cp:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


# ---------------------------------------------------------------- run

def run_jvm(classpath, args, run_dir):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseG1GC",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
           "-cp", classpath, "perfbench.Harness", *args]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "_JAVA_OPTIONS",
                        "JAVA_TOOL_OPTIONS")}
    log_path = os.path.join(run_dir, "jvm.log")
    budget = DEADLINE_S - (time.monotonic() - T_START)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness JVM ended with {code}", 1)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, res, gen_s):
    setups = [g + j for g, j in zip(gen_s, res["setup_s"])]
    return {
        "setup_s": med(setups) + res["warmup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "unit_cpu_s": med([u["cpu_s"] for u in res["units"]]),
    }


def workload_figures(workload, res, failed, attempted, check_info):
    """Wall-time figures and figures that belong to one workload each."""
    ops = res["ops"]
    f = {k: 0.0 for k in ("backfill_s", "day_s_p50", "history_cost_ratio",
                          "stored_bytes_per_payload_byte", "query_s_p50",
                          "dedup_pass_s")}
    f["unit_s"] = med([u["wall_s"] for u in res["units"]])
    f["jit_cpu_s"] = med([u["jit_cpu_s"] for u in res["units"]])
    f["ops_per_min"] = len([o for o in ops if o["ok"]]) / (res["timed_wall_s"] / 60)
    f["failed_op_ratio"] = failed / attempted if attempted else 0.0
    if workload == "medallion_daily":
        f["backfill_s"] = med([o["s"] for o in ops if o["index"] == 0])
        f["day_s_p50"] = med([o["s"] for o in ops if o["index"] > 0])
        ratios = []
        for u in sorted({o["unit"] for o in ops}):
            inc = [o["s"] for o in sorted(ops, key=lambda o: o["index"])
                   if o["unit"] == u and o["index"] > 0]
            third = len(inc) // 3
            if third:
                ratios.append(med(inc[-third:]) / med(inc[:third]))
        f["history_cost_ratio"] = med(ratios)
        f["stored_bytes_per_payload_byte"] = check_info.get("stored_ratio", 0.0)
    if workload == "query_mix":
        f["query_s_p50"] = med([o["s"] for o in ops])
        passes = {}
        for o in ops:
            if o["name"] in checks.DEDUP_ROWS:
                passes[o["unit"]] = passes.get(o["unit"], 0.0) + o["s"]
        f["dedup_pass_s"] = med(list(passes.values()))
    return f


def per_layer(workload, res, figures):
    traced = [u["unit"] for u in res["units"] if u["traced"]]
    out = {k: 0.0 for k in PER_LAYER}
    per_unit = []
    for u in traced:
        m = {}
        for s in res["spans"]:
            if s["unit"] != u:
                continue
            if s["name"] in SPANS:
                for k in SPAN_MEASURES:
                    key = f"{s['name']}.{k}"
                    m[key] = m.get(key, 0.0) + s[k]
                if s["name"].startswith("text."):
                    key = f"{s['name']}.gc_s"
                    m[key] = m.get(key, 0.0) + s["gc_s"]
                if s["name"] == "pipeline.silver_fact":
                    key = "pipeline.silver_fact.input_bytes"
                    m[key] = m.get(key, 0.0) + s["input_bytes"]
                if s["name"].startswith("query."):
                    m["query.all.jobs"] = m.get("query.all.jobs", 0.0) + s["jobs"]
                    m["query.all.driver_s"] = m.get("query.all.driver_s", 0.0) + s["driver_s"]
            root = "day" if workload == "medallion_daily" else "unit"
            if s["name"] == root:
                m["trace.uncovered_s"] = m.get("trace.uncovered_s", 0.0) + s["self_s"]
        for e in res["extras"]:
            if e["unit"] == u:
                m[e["name"]] = m.get(e["name"], 0.0) + e["value"]
        if "text.dedup_clusters.s" in m:
            m["text.dedup_clusters.fixpoint_s"] = (
                m["text.dedup_clusters.s"] - m["text.near_dup_pairs.s"])
        per_unit.append(m)
    for k in PER_LAYER:
        vals = [m[k] for m in per_unit if k in m]
        if vals:
            out[k] = med(vals)
    out.update(figures)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    global T_START
    T_START = time.monotonic()  # the deadline covers the run, not the build
    run_dir = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        gen_s, digests, dirs = [], set(), []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            d = os.path.join(run_dir, f"inputs{i}")
            digests.add(gen.GENERATORS[a.workload](d, a.seed))
            gen_s.append(time.perf_counter() - t0)
            dirs.append(d)
        out = os.path.join(run_dir, "result.json")
        t_jvm = time.monotonic()
        run_jvm(classpath, ["--workload", a.workload, "--inputs", ",".join(dirs),
                            "--run-dir", run_dir, "--seconds", str(a.seconds),
                            "--trace", str(a.trace), "--seed", str(a.seed),
                            "--out", out], run_dir)
        with open(out) as f:
            res = json.load(f)
        if a.trace:  # the spans outlive the run directory
            shutil.copy(out, os.path.join(HERE, "work", f"trace-{a.workload}-{a.seed}.json"))
        t_check = time.monotonic()
        problems = []
        if len(digests) != 1:
            problems.append("one seed generated different inputs")
        bad_ops, check_info, notes = checks.CHECKS[a.workload](
            res, dirs[0], problems)
        ops = res["ops"]
        failed = len({i for i, o in enumerate(ops) if not o["ok"]} | bad_ops)
        attempted = len(ops)
        for o in ops:
            if not o["ok"]:
                problems.append(f"{o['name']}#{o['index']} (unit {o['unit']}): {o['err']}")
        log(f"phases: generate {sum(gen_s):.1f}s, jvm {t_check - t_jvm:.1f}s "
            f"(set-ups {', '.join(f'{x:.1f}' for x in res['setup_s'])}, warm-up "
            f"{res['warmup_s']:.1f}, timed {res['timed_wall_s']:.1f}; host steal "
            f"{res['host_steal_share']:.1%}), "
            f"checks {time.monotonic() - t_check:.1f}s")
        figures = workload_figures(a.workload, res, failed, attempted, check_info)
        if a.trace:
            metrics = per_layer(a.workload, res, figures)
            units = PER_LAYER
        else:
            metrics = end_to_end(a.workload, res, gen_s)
            units = {k: v[0] for k, v in END_TO_END.items()}
        correct = not problems and failed == 0

        print(f"workload {a.workload}  seed {a.seed}  inputs sha256 {sorted(digests)[0][:16]}"
              f"  cores {res['cores']}  units {len(res['units'])}  ops {attempted}")
        for n in notes:
            print(f"  {n}")
        print(f"output checks: {'PASS' if correct else 'FAIL'}")
        for p in problems[:20]:
            print(f"  FAIL {p}")
        if not a.trace:
            print("end to end:")
            for k, v in metrics.items():
                print(f"  {k:40s} {v:14.4f} {units[k]}")
            print("workload figures (untraced):")
            for k, v in figures.items():
                print(f"  {k:40s} {v:14.4f} {EXTRAS[k]}")
        else:
            print("per layer (median over traced units):")
            for k, v in metrics.items():
                print(f"  {k:48s} {v:16.4f} {units[k]}")
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
