#!/usr/bin/env python3
"""Serve-shaped benchmark of multi-attribute join search.

    python3 perfbench/run.py --workload unseen --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (first run), generates
the lake and the seeded query tables, runs the engine in-process on
local[cores] with one client in a closed loop for --seconds, checks
every answer against the DuckDB oracle, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import lake
import metrics
import oracle as oracle_mod
import workload

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
WORKLOADS = ["unseen", "repeat", "batch", "ingest"]

LAKE_SCALE = 0.01          # fraction of the scale-1 row counts (see lake.py)
LAKE_SEED = 42
DRIVER_MEM = "3g"
TIME_LIMIT_S = 170         # the whole command, build excluded
BUILD_LIMIT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with the benchmark's own sbt build;
    returns the runtime classpath. Skipped when sources are unchanged."""
    bdir = os.path.join(OUT, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    want = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(bdir, "sbt.log"), "w") as logf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=logf,
                           text=True, timeout=BUILD_LIMIT_S)
        logf.write(p.stdout)
    lines = [x for x in p.stdout.splitlines() if x.strip() and not x.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {bdir}/sbt.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


def ensure_lake():
    d = os.path.join(OUT, f"lake-{LAKE_SCALE}-{LAKE_SEED}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        lake.generate_lake(d + ".tmp", LAKE_SCALE, LAKE_SEED)
        os.replace(d + ".tmp", d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def cpu_ticks():
    """(steal, total) CPU ticks of the host, where the kernel reports them."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_engine(classpath, plan_path, result_path, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, f"-Xms{DRIVER_MEM}", f"-Xmx{DRIVER_MEM}", *opens, "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Serve", plan_path, result_path]
    env = dict(os.environ)
    env["GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.pop("SPARK_GRAFT_MASTER", None)
    with open(os.path.join(work, "engine.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"engine exceeded the time limit (log: {work}/engine.log)")
    if rc != 0:
        with open(os.path.join(work, "engine.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"engine exited with {rc}:\n{tail}")
    with open(result_path) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def end_to_end(result, verdicts, loop):
    lat = metrics.latencies(loop, verdicts)
    p50, _ = metrics.percentile(lat, 50)
    p90, beyond = metrics.percentile(lat, 90)
    answered = sum(len(r["query_ids"]) for r in loop
                   if not r["error"] and verdicts.get(r["id"]) is True)
    vals = {
        "setup_s": (result["setup"]["total_s"], "s"),
        "search_p50_s": (p50, "s"),
        "queries_per_s": (answered / result["loop_s"], "1/s"),
        "storage_mb": (result["storage_mb"], "MB"),
    }
    notes = {"search_p50_s": f"n={len(lat)} (p90 {p90:.6f} s, {beyond} beyond)",
             "setup_s": "one set-up, from JVM start",
             "storage_mb": f"after priming ({result['storage_end_mb']:.3f} MB at the end)"}
    return vals, notes


def job_time(result, r):
    """Seconds of request `r`'s span covered by its job group's jobs."""
    group = result["groups"].get(r["id"])
    return metrics.covered_ms(group["job_intervals"], r["t0"], r["t1"]) / 1000.0 if group else 0.0


def layer(result, verdicts, ncores, rows_per_cycle):
    """Per-layer metrics of a traced run, all from its fixed layer
    section, so each has one source on every workload (see README.md)."""
    setup = result["setup"]
    reqs = [r for r in result["requests"] if r["phase"] == "layer"]
    section = lambda name: [r for r in reqs if r.get("section") == name]
    grp = lambda r: result["groups"].get(r["id"]) or {}
    med = lambda rs, f: metrics.median([f(r) for r in rs])
    build = result["groups"].get("setup-build", {})
    out = {
        "session.start_s": (setup["session_start_s"], "s"),
        "index.snapshot_build_s": (setup["snapshot_build_s"], "s"),
        "index.persist_s": (setup["persist_s"], "s"),
        "index.key_stats_s": (setup["key_stats_s"], "s"),
        "index.build_jobs": (build.get("jobs", 0), "count"),
        "index.build_shuffle_bytes": (build.get("shuffle_write", 0), "bytes"),
        "warmup.search_s": (setup["warmup_s"], "s"),
        "index.snapshot_bytes_per_corpus_byte":
            (result["snapshot_bytes"] / result["corpus_bytes"], "ratio"),
    }

    # fresh single searches: the "full" prefix, whose self times plus
    # driver_s add up to about their traced median
    full = section("full")
    prefix = {p: [] for p in workload.PREFIXES}
    for s in result["spans"]:
        prefix[s["prefix"]].append(job_time(result, s))
    prefix["full"] = [job_time(result, r) for r in full]
    self_t = metrics.prefix_self_times(prefix, workload.PREFIXES)
    wall = sum(r["wall_s"] for r in full)
    out.update({
        "search.prep_s": (self_t["prep"], "s"),
        "search.probe_s": (self_t["probe"], "s"),
        "search.conjunction_s": (self_t["conjunction"], "s"),
        "search.scoring_s": (self_t["full"], "s"),
        "search.driver_s": (med(full, lambda r: r["wall_s"] - job_time(result, r)), "s"),
        "search.traced_p50_s": (med(full, lambda r: r["wall_s"]), "s"),
        "search.jobs_per_request": (med(full, lambda r: grp(r).get("jobs", 0)), "count"),
        "search.stages_per_request": (med(full, lambda r: grp(r).get("stages", 0)), "count"),
        "search.tasks_per_request": (med(full, lambda r: grp(r).get("tasks", 0)), "count"),
        "search.shuffle_bytes_per_request":
            (med(full, lambda r: grp(r).get("shuffle_write", 0)), "bytes"),
        "search.spill_bytes_per_request":
            (med(full, lambda r: grp(r).get("spill_disk", 0) + grp(r).get("spill_mem", 0)), "bytes"),
        "search.executor_cpu_s_per_request":
            (med(full, lambda r: grp(r).get("cpu_ns", 0) / 1e9), "s"),
        "search.core_utilisation":
            (sum(grp(r).get("run_ms", 0) for r in full) / 1000.0 / (wall * ncores)
             if wall else float("nan"), "ratio"),
    })
    conj = [s for s in result["spans"] if s["prefix"] == "conjunction"]
    probed = sum(s["probed_postings"] for s in conj)
    out["search.useful_ratio"] = (sum(s["matched_pairs"] for s in conj) / probed if probed else 0.0,
                                  "ratio")
    out["search.loop_p90_s"] = (metrics.percentile(
        metrics.latencies([r for r in result["requests"] if r["phase"] == "loop"],
                          verdicts), 90)[0], "s")
    # pairs run in both orders, so the mean difference cancels what the
    # second search of a pair gains from the first (e.g. generated code)
    twins = section("untraced")
    out["trace.overhead_s"] = (statistics.mean(a["wall_s"] - b["wall_s"] for a, b in zip(full, twins))
                               if full and len(full) == len(twins) else float("nan"), "s")

    batches = section("batch")
    out.update({
        "batch.s_per_query": (med(batches, lambda r: r["wall_s"] / len(r["query_ids"])), "s"),
        "batch.jobs_per_batch": (med(batches, lambda r: grp(r).get("jobs", 0)), "count"),
        "batch.shuffle_bytes_per_batch":
            (med(batches, lambda r: grp(r).get("shuffle_write", 0)), "bytes"),
    })

    repeats, recomputes = section("repeat"), section("recompute")
    out.update({
        "cache.new_persists_per_request":
            (sum(r["cache"]["new"] for r in full) / len(full) if full else float("nan"), "count"),
        "cache.hit_frac": (sum(1 for r in repeats if r["cache"]["new"] == 0) / len(repeats)
                           if repeats else float("nan"), "ratio"),
        "cache.hit_search_s": (med(repeats, lambda r: r["wall_s"]), "s"),
        "cache.hit_jobs_per_request": (med(repeats, lambda r: grp(r).get("jobs", 0)), "count"),
        "cache.evictions": (result["evict"]["evicted"], "count"),
        "cache.recompute_s": (med(recomputes, lambda r: r["wall_s"]), "s"),
        "cache.storage_mb": (result["storage_mb"], "MB"),
    })

    parts = [r["parts"] for r in section("cycle") if not r["error"]]
    maintain = [p["maintain_s"] for p in parts]
    out.update({
        "ingest.maintain_s": (metrics.median(maintain), "s"),
        "ingest.rows_per_s": (rows_per_cycle * len(maintain) / sum(maintain)
                              if maintain else float("nan"), "1/s"),
        "ingest.delta_bytes_per_row":
            (sum(p["delta_bytes"] for p in parts) / (rows_per_cycle * len(parts))
             if parts else float("nan"), "bytes"),
        "ingest.live_parts": (metrics.median([p["live_parts"] for p in parts]), "count"),
        "ingest.live_resolve_s": (metrics.median([p["resolve_s"] for p in parts]), "s"),
        "ingest.compact_s": (metrics.median([p["compact_s"] for p in parts if "compact_s" in p]), "s"),
    })
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "operators",
                                       "JoinSearch.scala")):
        raise SystemExit(f"engine sources not found under {ROOT}/src/main/scala")

    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    classpath = build()
    started = time.time()
    deadline = started + TIME_LIMIT_S
    lake_dir = ensure_lake()
    n = cores()
    work = os.path.join(OUT, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    rows = workload.LakeRows(lake_dir)
    trace = bool(args.trace)
    plan = workload.build_plan(args.workload, args.seed, args.seconds, trace, rows,
                               os.path.join(work, "queries"))
    plan.update(cores=n, work=work, lake=lake_dir)
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    engine_start = time.time()
    result = run_engine(classpath, plan_path, os.path.join(work, "result.json"), work, deadline)
    check_start = time.time()

    cycles = {}
    for item in plan["prime"] + plan["loop"]:
        if item["kind"] == "cycle":
            cycles[item["cycle"]["id"]] = item["cycle"]
    for c in plan.get("layer", {}).get("ingest", []):
        cycles[c["id"]] = c
    orc = oracle_mod.Oracle(lake_dir, os.path.join(OUT, "oracle"), lake.TABLES,
                            result["oracle"]["index_ctes"], result["oracle"]["landed_ctes"])
    verdicts = oracle_mod.check(result, orc, cycles)
    loop = [r for r in result["requests"] if r["phase"] == "loop"]
    attempted, failed = metrics.count_failures(loop, verdicts)
    others_ok = all(verdicts.get(r["id"]) is True for r in result["requests"] if r["phase"] == "layer")
    load_end = os.getloadavg()[0]
    ticks_end = cpu_ticks()
    steal = (ticks_end[0] - ticks_start[0]) / max(1, ticks_end[1] - ticks_start[1]) \
        if ticks_start and ticks_end else None
    phases = {"prepare_s": engine_start - started, "engine_s": check_start - engine_start,
              "setup_s": result["setup"]["total_s"], "prime_s": result["prime_s"],
              "loop_s": result["loop_s"], "layer_s": result["layer_s"],
              "check_s": time.time() - check_start}

    env = {
        "cpus": n, "driver_mem": DRIVER_MEM, "git_commit": git_commit(),
        "source_sha256": source_stamp()[:16], "seed": args.seed, "workload": args.workload,
        "lake_dir": os.path.relpath(lake_dir, ROOT), "lake_scale": LAKE_SCALE,
        "load_avg_start": load_start, "load_avg_end": load_end, "cpu_steal_frac": steal,
        "overloaded": load_start > n, **result["env"],
    }
    log(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    log("env " + json.dumps(env))
    log("wall " + json.dumps(phases))
    if env["overloaded"]:
        log(f"WARNING: load average {load_start:.2f} exceeded the {n} cores at start")
    if result["exhausted"]:
        log("WARNING: the generated request stream ran out before the deadline")
    for r in result["requests"]:
        if r["phase"] in ("loop", "layer") and verdicts.get(r["id"]) is not True:
            log(f"FAILED {r['id']} ({r['phase']} {r['kind']} {r['query_ids']}): {verdicts.get(r['id'])}")
    log(f"requests: attempted={attempted} failed={failed} "
        f"failed_frac={failed / attempted if attempted else 1.0}")

    if trace:
        vals = layer(result, verdicts, n, workload.INGEST_ROWS)
        notes = {}
    else:
        vals, notes = end_to_end(result, verdicts, loop)
    for name, (v, unit) in vals.items():
        log(f"  {name:40s} {v:14.6f} {unit:6s} {notes.get(name, '')}")

    # correctness is the answer verdicts alone; a metric that could not
    # be measured (e.g. a median over failed requests) is reported null
    correct = failed == 0 and others_ok and attempted > 0
    report = {"env": env, "attempted": attempted, "failed": failed, "correct": correct,
              "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u}
                          for k, (v, u) in vals.items()},
              "loop_s": result["loop_s"], "setup": result["setup"],
              "loop": [[r["id"], r["query_ids"], r["wall_s"]] for r in loop],
              "layer": [[r["id"], r.get("section"), r["wall_s"]]
                        for r in result["requests"] if r["phase"] == "layer"]}
    os.makedirs(os.path.join(OUT, "reports"), exist_ok=True)
    with open(os.path.join(OUT, "reports", os.path.basename(work) + ".json"), "w") as f:
        json.dump(report, f, indent=1)
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": report["metrics"]}, allow_nan=False), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
