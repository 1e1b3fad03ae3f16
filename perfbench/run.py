#!/usr/bin/env python3
"""graft's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all [--seed <n>] [--seconds <s>]

Run from the root of a checkout. The first run builds the program and the
benchmark's Scala code from source with sbt (the root build plus this
directory's own build); later runs reuse the build until a source file
changes. Every file the benchmark writes lands under .bench_build/.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics (the end-to-end metrics of BENCHMARK.json, or with
--trace 1 its per-layer metrics). A human-readable report, with the
workload-specific names, goes to standard error and to
.bench_build/reports/. The exit code is non-zero when an output check
fails or the run cannot complete.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

WORKLOADS = ("geo_replication", "table_dml", "curation_batch")
# the per-layer metrics the JSON line of a traced run carries (the list
# in BENCHMARK.json); the report has these and the workload-specific rest
PER_LAYER = (
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.single_task_stage_share",
    "spark.job_ms_per_op", "spark.driver_only_ms", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.shuffle_write_bytes", "spark.spill_bytes",
    *(f"spark.job_share.{m}" for m in stats.MODULES + ("other",)),
    *(f"layer.self_share.{m}" for m in stats.MODULES),
    "catalog.sql_plan_ms", "catalog.latest_ms", "catalog.versions", "catalog.meta_bytes",
    "catalog.live_files", "service.sync_batch_events", "service.events_failed",
    "service.events_retried", "service.copy_files", "service.copy_bytes",
    "operators.gc_candidates", "pipeline.lsh_candidate_pairs", "pipeline.lsh_verified_pairs",
    "pipeline.lsh_precision", "pipeline.docs_kept_ratio", "jvm.gc_ms", "jvm.jit_ms",
    "catalog.versions_expired", "service.maintenance_passes", "trace.probe_share")
PROGRAM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# the program method each op kind enters through: it marks the op's own
# jobs when the submitting thread did not carry the op id
ENTRY_METHODS = {"write": "coordinateWrite", "sync": "processPendingEvents",
                 "read": "readRouted", "maintain": "compact"}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        if f.exists():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=str(tmp))
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    digest = source_digest()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    log("building (first run in this checkout)")
    BUILD.mkdir(exist_ok=True)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=sbt_env(), capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S)
    (BUILD / "build.log").write_text(p.stdout + p.stderr)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not lines:
        die(f"build failed; see {BUILD / 'build.log'}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(digest)
    # inputs come from the generator being built, and earlier results
    # measured another program: never reuse either
    shutil.rmtree(BUILD / "inputs", ignore_errors=True)
    shutil.rmtree(BUILD / "results", ignore_errors=True)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# ---------------------------------------------------------------- run

def run_program(cp, workload, seed, seconds, trace):
    work = BUILD / "runs" / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tmp = work / "tmp"
    tmp.mkdir()
    # no hsperfdata file: it would land in /tmp, outside the checkout
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", str(work),
            "--inputs", str(BUILD / "inputs" / f"s{seed}"),
            "--profile", str(HERE / "data" / "sf01_profile.json"),
            "--cpus", str(len(os.sched_getaffinity(0)))]  # what nproc reports
    with open(work / "program.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=PROGRAM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{workload} did not finish in {PROGRAM_TIMEOUT_S} s; see {work / 'program.log'}", 3)
    if code != 0 or not (work / "result.json").exists():
        die(f"{workload} exited with {code}; see {work / 'program.log'}", 3)
    return work


def read_jsonl(path):
    if not path.exists():
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def cleanup(work):
    """Keep the run's records, drop its warehouses and scratch."""
    for p in work.iterdir():
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def timed_ops(res, kinds=None):
    return [o for o in res["ops"] if o["phase"] == "timed"
            and (kinds is None or o["kind"] in kinds)]


def durations_ms(ops):
    return [(o["endNs"] - o["startNs"]) / 1e6 for o in ops if o["ok"]]


def primary_samples(res):
    """(write, read, freshness) latency samples in ms, per workload."""
    s = res["samples"]
    w = res["workload"]
    if w == "geo_replication":
        return (durations_ms(timed_ops(res, {"write"})), durations_ms(timed_ops(res, {"read"})),
                s.get("replica_lag_ms", []))
    if w == "table_dml":
        return (durations_ms(timed_ops(res, {"insert", "update", "merge", "delete"})),
                durations_ms(timed_ops(res, {"point"})),
                durations_ms(timed_ops(res, {"refresh_mv"})))
    return (s.get("commit_ms", []), s.get("read_ms", []), durations_ms(timed_ops(res, {"pass"})))


def attempted_failed(res):
    ops = timed_ops(res)
    c = res["counters"]
    attempted = len(ops) + int(c.get("service.sync_events", 0))
    failed = sum(1 for o in ops if not o["ok"]) + int(c.get("service.events_failed", 0))
    return attempted, failed


def end_to_end(res):
    """The BENCHMARK.json end-to-end metrics: (name -> (value, unit))."""
    writes, reads, fresh = primary_samples(res)
    c = res["counters"]
    if res["workload"] == "curation_batch":
        # an op is a thousand docs; a pass's wall time is the unit of work,
        # and the timed phase is whole passes on one thread
        amp = stats.median(res["samples"]["pass_persisted_bytes"]) / max(c.get("user_bytes", 0), 1)
        throughput = c["corpus_docs"] / 1000.0 / (stats.median(fresh) / 1000.0)
        cpu_per_op = res["cpu_ms"] / max(res["ops_done"], 1e-9)
    else:
        amp = c.get("disk_bytes", 0) / max(c.get("user_bytes", 0), 1)
        # ops over the span from the first op's start to the last one's end:
        # the op cut off by the deadline is counted whole, not truncated
        kinds = {"write"} if res["workload"] == "geo_replication" else None
        done = [o for o in timed_ops(res, kinds) if o["ok"]]
        span = (max(o["endNs"] for o in done) - min(o["startNs"] for o in done)) / 1e9 if done else 0
        throughput = len(done) / span if span else 0.0
        # the process's CPU rate over the op rate: every client thread
        # spends CPU, and a whole-op count would move the figure by one
        # op's share whenever an op more or less fits before the deadline
        cpu_per_op = res["cpu_ms"] / res["timed_s"] / throughput if throughput else 0.0

    def p50(xs):
        return stats.median(xs) if xs else 0.0
    return {
        "setup_s": (res["session_s"] + stats.median(res["setup_s"]), "s"),
        "throughput": (throughput, "1/s"),
        "cpu_ms_per_op": (cpu_per_op, "ms"),
        "retained_heap_mb": (res["heap_mb"], "MB"),
        "storage_amp": (amp, "ratio"),
        "write_p50_ms": (p50(writes), "ms"),
        "read_p50_ms": (p50(reads), "ms"),
        "freshness_p50_ms": (p50(fresh), "ms"),
    }


def report_names(res, e2e):
    """The same run under the workload-specific names of the benchmark's
    note (README.md), with p90s where the run has the samples for them."""
    writes, reads, fresh = primary_samples(res)
    attempted, failed = attempted_failed(res)
    out = {"setup_s": e2e["setup_s"],
           "error_rate": (stats.error_rate(attempted, failed), "ratio"),
           "cpu_ms_per_op": e2e["cpu_ms_per_op"],
           "retained_heap_mb": e2e["retained_heap_mb"]}

    def lat(name, xs):
        if not xs:
            return
        out[f"{name}_p50_ms"] = (stats.median(xs), "ms")
        p = stats.tail_percentile(len(xs))
        if p is not None and p > 50:
            out[f"{name}_p{p:g}_ms"] = (stats.quantile(xs, p / 100), "ms")
        out[f"{name}_samples"] = (len(xs), "count")
    w = res["workload"]
    if w == "geo_replication":
        out["storage_amp"] = e2e["storage_amp"]
        lat("commit", writes)
        lat("replica_lag", fresh)
        lat("routed_read", reads)
        for k in ("service.maintenance_passes", "service.compact_aborts", "catalog.versions_expired"):
            out[k] = (res["counters"].get(k, 0), "count")
    elif w == "table_dml":
        out["storage_amp"] = e2e["storage_amp"]
        lat("point_read", reads)
        lat("scan_agg", durations_ms(timed_ops(res, {"range"})))
        lat("dml_write", writes)
        lat("mv_refresh", fresh)
        lat("compact", durations_ms(timed_ops(res, {"compact"})))
    else:
        out["docs_per_s"] = (e2e["throughput"][0] * 1000.0, "docs/s")
        lat("pass", fresh)
        lat("output_commit", writes)
    return out


def per_layer(res, work):
    """The BENCHMARK.json per-layer metrics of a traced run, plus the
    workload-specific layer timings for the report."""
    ops = timed_ops(res)
    ops_by_id = {o["id"]: o for o in ops}
    n = max(res["ops_done"], 1e-9)
    t0, t1 = res["timed_start_ns"], res["timed_end_ns"]
    spans = [s for s in read_jsonl(work / "spans.jsonl") if s["op"] in ops_by_id]
    jobs = [j for j in read_jsonl(work / "jobs.jsonl") if t0 <= j["startNs"] <= t1]
    plans = [p for p in read_jsonl(work / "plans.jsonl") if t0 <= p["endNs"] <= t1]
    owner = stats.attribute_jobs(jobs, ops, ENTRY_METHODS)
    jobs = [j for j in jobs if owner[j["jobId"]] is not None]
    c = res["counters"]

    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(owner[j["jobId"]], []).append((j["startNs"], j["endNs"]))
    job_ms = sum(stats.union_length(iv) for iv in jobs_of.values()) / 1e6
    wall_ms = sum(o["endNs"] - o["startNs"] for o in ops) / 1e6
    stages = sum(j["stages"] for j in jobs)
    spans_of = {}
    for s in spans:
        spans_of.setdefault(s["op"], []).append((s["startNs"], s["endNs"], s["module"]))
    by_module = {}
    for j in jobs:
        m = stats.module_of(j["frames"], j["startNs"], spans_of.get(owner[j["jobId"]], []))
        by_module[m] = by_module.get(m, 0) + (j["endNs"] - j["startNs"]) / 1e6
    all_job_ms = max(sum(by_module.values()), 1e-9)

    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["startNs"], s["endNs"]))
    self_by_module = {}
    for s in spans:
        st = stats.self_time(s["startNs"], s["endNs"], children.get(s["id"], []))
        self_by_module[s["module"]] = self_by_module.get(s["module"], 0) + st / 1e6

    def span_ms(name, module=None):
        xs = [(s["endNs"] - s["startNs"]) / 1e6 for s in spans
              if s["name"] == name and (module is None or s["module"] == module)]
        return stats.median(xs) if xs else 0.0

    batches = max(c.get("service.sync_batches", 0), 1)
    cand, ver = c.get("pipeline.lsh_candidate_pairs", 0), c.get("pipeline.lsh_verified_pairs", 0)
    writes = len(timed_ops(res, {"insert", "update", "merge", "delete"}))
    points = res["samples"].get("catalog.files_read_per_point", [])
    m = {
        "spark.jobs_per_op": (len(jobs) / n, "count"),
        "spark.tasks_per_op": (sum(j["tasks"] for j in jobs) / n, "count"),
        "spark.single_task_stage_share": (sum(j["singleTaskStages"] for j in jobs) / max(stages, 1), "ratio"),
        "spark.job_ms_per_op": (job_ms / n, "ms"),
        "spark.driver_only_ms": (max(wall_ms - job_ms, 0.0) / n, "ms"),
        "spark.executor_run_ms": (sum(j["runMs"] for j in jobs) / n, "ms"),
        "spark.executor_cpu_ms": (sum(j["cpuNs"] for j in jobs) / 1e6 / n, "ms"),
        "spark.shuffle_write_bytes": (sum(j["shuffleWriteBytes"] for j in jobs) / n, "bytes"),
        "spark.spill_bytes": (sum(j["spillBytes"] for j in jobs) / n, "bytes"),
    }
    for mod in stats.MODULES + ("other",):
        m[f"spark.job_share.{mod}"] = (by_module.get(mod, 0) / all_job_ms, "ratio")
    for mod in stats.MODULES:
        m[f"layer.self_share.{mod}"] = (self_by_module.get(mod, 0) / max(wall_ms, 1e-9), "ratio")
    m.update({
        "catalog.sql_plan_ms": (sum(p["planMs"] for p in plans) / n, "ms"),
        "catalog.latest_ms": (span_ms("latest", "catalog"), "ms"),
        "catalog.versions": (c.get("catalog.versions", 0), "count"),
        "catalog.meta_bytes": (c.get("catalog.meta_bytes", 0), "bytes"),
        "catalog.live_files": (c.get("catalog.live_files", 0), "count"),
        "catalog.files_read_per_point": (stats.median(points) if points else 0.0, "ratio"),
        "catalog.files_rewritten_per_write": (c.get("catalog.files_rewritten", 0) / max(writes, 1), "count"),
        "catalog.bytes_written_per_user_byte":
            (c.get("catalog.bytes_written", 0) / max(c.get("catalog.user_bytes_written", 0), 1), "ratio"),
        "service.sync_batch_events": (c.get("service.sync_events", 0) / batches, "count"),
        "service.events_failed": (c.get("service.events_failed", 0), "count"),
        "service.events_retried": (c.get("service.events_retried", 0), "count"),
        "service.copy_files": (c.get("service.copy_files", 0) / batches, "count"),
        "service.copy_bytes": (c.get("service.copy_bytes", 0) / batches, "bytes"),
        "operators.gc_candidates": (c.get("operators.gc_candidates", 0), "count"),
        "pipeline.lsh_candidate_pairs": (cand, "count"),
        "pipeline.lsh_verified_pairs": (ver, "count"),
        "pipeline.lsh_precision": (ver / cand if cand else 0.0, "ratio"),
        "pipeline.docs_kept_ratio": (c.get("pipeline.docs_kept_ratio", 0), "ratio"),
        "jvm.gc_ms": (res["gc_ms"] / n, "ms"),
        "jvm.jit_ms": (res["jit_ms"] / n, "ms"),
        "catalog.versions_expired": (c.get("catalog.versions_expired", 0), "count"),
        "service.maintenance_passes": (c.get("service.maintenance_passes", 0), "count"),
        # client-thread time spent on work done only for the trace
        "trace.probe_share": (res["probe_ns"] / 1e9 / (res["timed_s"] * res["clients"]), "ratio"),
    })
    # workload-specific layer timings (median span, ms): report only
    extra = {}
    for name, (module, span) in {
            "service.sync_batch_ms": ("service", "processPendingEvents"),
            "service.pending_scan_ms": ("service", "pendingEvents.count"),
            "service.route_ms": ("service", "routeRead"),
            "service.compact_ms": ("service", "compactSyncEvents"),
            "operators.gc_plan_ms": ("operators", "GcPlanner.orphans"),
            "sources.listing_ms": ("sources", "listing"),
            "catalog.output_commit_ms": ("catalog", "commitAppend"),
            "pipeline.quality_ms": ("pipeline", "quality"),
            "pipeline.exact_dedup_ms": ("pipeline", "exact_dedup"),
            "pipeline.minhash_ms": ("pipeline", "minhash"),
            "pipeline.semdedup_ms": ("pipeline", "semdedup"),
            "pipeline.sample_ms": ("pipeline", "sample")}.items():
        v = span_ms(span, module)
        if v:
            extra[name] = (v, "ms")
    for mod, ms in sorted(by_module.items()):
        extra[f"spark.job_ms.{mod}"] = (ms / n, "ms")
    return m, extra


def run_key(args):
    """What an untraced run must share with a traced one to be compared:
    the build, the seed and the run length."""
    return {"digest": (BUILD / "build.stamp").read_text(), "seed": args.seed,
            "seconds": args.seconds}


def tracing_overhead(untraced, key, throughput):
    """Throughput lost to tracing against the untraced runs that match
    `key` (build, seed and length); None when there is none."""
    base = [h["throughput"] for h in untraced
            if all(h.get(k) == v for k, v in key.items()) and h.get("throughput")]
    if not base:
        return None, 0
    ref = stats.median(base)
    return (ref - throughput) / ref, len(base)


def fmt(metrics):
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def report(lines):
    for l in lines:
        print(l, file=sys.stderr)


def one(args):
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no program sources at {ROOT}: run from the root of a full checkout")
    cp = build()
    work = run_program(cp, args.workload, args.seed, args.seconds, args.trace)
    res = json.loads((work / "result.json").read_text())
    checks = res["checks"]
    bad = [ch for ch in checks if not ch["ok"]]
    attempted, failed = attempted_failed(res)
    e2e = end_to_end(res)
    named = report_names(res, e2e)
    lines = [f"== {args.workload} seed={args.seed} trace={args.trace} "
             f"ops={res['ops_done']:.0f} ({res['op_unit']}) timed={res['timed_s']:.1f}s "
             f"attempted={attempted} failed={failed} checks={len(checks) - len(bad)}/{len(checks)}"]
    lines += [f"  {k:32s} {v:14.4f} {u}" for k, (v, u) in named.items()]
    lines += [f"  CHECK FAILED {ch['name']}: {ch['detail']}" for ch in bad]
    out = {"end_to_end": fmt(e2e), "report_names": fmt(named), "checks": checks,
           "attempted": attempted, "failed": failed}
    if args.trace:
        layers, extra = per_layer(res, work)
        overhead, base_runs = tracing_overhead(
            read_jsonl(BUILD / "results" / f"{args.workload}.jsonl"), run_key(args),
            e2e["throughput"][0])
        if overhead is not None:
            extra["trace.overhead_share"] = (overhead, "ratio")
        extra.update({k: v for k, v in layers.items() if k not in PER_LAYER})
        metrics = layers = {k: layers[k] for k in PER_LAYER}
        lines += [f"  {k:32s} {v:14.4f} {u}" for k, (v, u) in {**layers, **extra}.items()]
        lines.append(f"  tracing overhead {overhead:+.1%} of throughput against {base_runs} untraced "
                     f"run(s) of this build, seed and length" if overhead is not None else
                     "  tracing overhead: missing, no untraced run of this build, seed and length")
        lines.append(f"  spans: {work / 'spans.jsonl'}")
        out["per_layer"] = fmt(layers)
        out["layer_timings"] = fmt(extra)
    else:
        metrics = e2e
        (BUILD / "results").mkdir(exist_ok=True)
        with open(BUILD / "results" / f"{args.workload}.jsonl", "a") as f:
            f.write(json.dumps({**run_key(args), **{k: v for k, (v, _) in e2e.items()}}) + "\n")
    (BUILD / "reports").mkdir(exist_ok=True)
    (BUILD / "reports" / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(out, indent=1))
    report(lines)
    cleanup(work)
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": fmt(metrics)}))
    return 0 if not bad else 1


def all_workloads(args):
    """Every workload in turn; one table of every end-to-end metric."""
    codes = []
    for w in WORKLOADS:
        p = subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
                            "--seconds", str(args.seconds), "--trace", str(args.trace)],
                           capture_output=True, text=True)
        codes.append(p.returncode)
        sys.stderr.write(p.stderr)
        print(f"{w}: exit {p.returncode}")
        last = p.stdout.strip().splitlines()[-1:] if p.stdout.strip() else []
        if last:
            for k, v in json.loads(last[0])["metrics"].items():
                print(f"  {k:32s} {v['value']:14.4f} {v['unit']}")
    return 0 if all(c == 0 for c in codes) else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.exit(all_workloads(args) if args.workload == "all" else one(args))


if __name__ == "__main__":
    main()
