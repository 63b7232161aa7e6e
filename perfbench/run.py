#!/usr/bin/env python3
"""Benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload rfp_etl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Builds the engine and the JVM harness in
`perfbench/` with sbt (once per source state), generates the workload's
tables from `--seed`, then runs one JVM in which a single client issues
the workload's queries back to back against a `local[nproc]` session
(closed loop, one client): one cold pass, then warm passes until
`--seconds` are measured. The cold pass writes every result as parquet;
the first run of a (workload, seed) checks them against each query's
DuckDB oracle, later runs against the verified content digests. Warm
results are fingerprinted and compared with the verified fingerprints.
The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics under `--trace 0`, and the per-layer metrics
under `--trace 1`. A readable summary goes to stderr.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import synth  # noqa: E402

WORKLOADS = {
    # The reference's own dataflow: keys, cleaning, the dedup ladder,
    # rendering and the .docx write, over RFP rows synthesized from
    # `documents`.
    "rfp_etl": {
        "queries": ["q_keys", "q_clean", "q_dedup_exact", "q_pipeline_e2e",
                    "q_doc_render", "q_docx_roundtrip", "q_sync_diff", "q_lastwins"],
        "factors": {"documents": 10, "embeddings": 4, "events": 1},
        "inputs": ["documents"],
    },
    # Streaming queries (WAL, commit log and state store written every
    # micro-batch) next to batch twins that compute the same answers
    # without the streaming layer.
    "stream_events": {
        "queries": ["q_stream_hourly", "q_stream_sessionize",
                    "q_events_hourly", "q_sessionize"],
        "factors": {"documents": 1, "embeddings": 1, "events": 5},
        "inputs": ["events"],
    },
}
# The self-check runs every workload on the base tables as they are.
SMOKE_FACTORS = {"documents": 1, "embeddings": 1, "events": 1}
E2E_UNITS = {"setup_s": "s", "cold_cpu_s": "s", "cpu_s": "s", "peak_heap_mb": "MB"}
EXTRA_SETUPS = 15
RUN_LIMIT_S = 170
MB = 1048576.0

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for pattern in ("project/*.properties", "project/*.sbt",
                    "src/main/**/*", "perfbench/project/*.properties",
                    "perfbench/src/**/*"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(stamp):
    """Compiles engine + harness with sbt; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log("[perfbench] building engine and harness with sbt")
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in res.stdout.splitlines() if "scala-2.13/classes" in l]
    if res.returncode != 0 or not lines:
        log(res.stdout[-4000:] + res.stderr[-2000:])
        raise SystemExit("[perfbench] build failed")
    log(f"[perfbench] built in {time.time() - t0:.1f} s")
    tmp = f"{cp_file}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(lines[-1].strip())
    os.replace(tmp, cp_file)
    return lines[-1].strip()


def sweep_dead_runs():
    """Removes scratch left by runs that were killed."""
    for d in glob.glob(os.path.join(BUILD, "run-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def run_jvm(classpath, plan, run_dir, budget_s):
    plan_file = os.path.join(run_dir, "plan.txt")
    plan["launchMs"] = str(int(time.time() * 1000))
    with open(plan_file, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in plan.items())
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx2g", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Main", plan_file]
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=out,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(jvm_log, errors="replace") as fh:
            log(fh.read()[-6000:])
        raise SystemExit(f"[perfbench] harness JVM failed ({code})")
    with open(plan["out"]) as fh:
        return json.load(fh)


def quantile(values, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def verify(res, data_dir, results, cached_path):
    """Oracle-checks the cold pass's results. Returns {query: {"digest",
    "fp"}} for each query whose result matches its oracle (None for the
    others), with the fingerprint of its first warm pass."""
    verdict = oracle.check(data_dir, res["oracle_sql"], results, synth.TABLES)
    first_fp = {}
    for p in res["passes"][1:]:
        for q in p["queries"]:
            first_fp.setdefault(q["q"], q["fp"] if not q["err"] else None)
    verified = {}
    for q, why in verdict.items():
        if why or not first_fp.get(q):
            log(f"[perfbench] ORACLE FAIL {q}: {why or 'no warm result'}")
            verified[q] = None
        else:
            verified[q] = {"digest": oracle.digest(results[q]), "fp": first_fp[q]}
    if all(verified.values()):
        tmp = f"{cached_path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(verified, fh)
        os.replace(tmp, cached_path)
    return verified


def span_self_times(spans_file, query_walls):
    """Self time per span name; checks each query's self times sum to no
    more than its traced wall time."""
    spans = [json.loads(l) for l in open(spans_file) if l.strip()]
    covered = {}
    for s in spans:
        if s["parent"]:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
    self_by_name, self_by_query = {}, {}
    for s in spans:
        own = (s["end"] - s["start"]) - covered.get(s["id"], 0.0)
        name = s["name"].split(":")[0]
        self_by_name[name] = self_by_name.get(name, 0.0) + own
        key = (s["pass"], s["query"])
        self_by_query[key] = self_by_query.get(key, 0.0) + own
    for key, wall in query_walls.items():
        total = self_by_query.get(key, 0.0)
        if total > wall + 1e-6:
            raise SystemExit(f"[perfbench] span self times of {key} sum to "
                             f"{total:.4f} s, above its traced wall {wall:.4f} s")
    return self_by_name


def e2e_metrics(res, passes):
    """The gated end-to-end metrics: task and cold-start CPU seconds and
    memory, which hold within about a tenth between runs on a shared
    machine, and setup_s."""
    warm = [p for p in passes[1:] if not p["traced"]]
    return {
        "setup_s": statistics.median([p["session_s"] for p in passes[1:]] + res["setups"]),
        # CPU a scheduled batch job pays: JVM launch to its last result
        "cold_cpu_s": res["cold_process_cpu_s"],
        "cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "peak_heap_mb": res["peak_heap_mb"],
    }


def latency_metrics(res, passes, input_bytes):
    """Wall-clock figures and whole-JVM CPU: printed on every run, reported
    as per-layer metrics by traced runs, not gated (see
    perfbench/baseline.json)."""
    warm = [p for p in passes[1:] if not p["traced"]]
    pass_s = statistics.median(p["wall_s"] for p in warm)
    walls = [q["wall"] for p in warm for q in p["queries"]]
    return {
        "latency.cold_pass_s": res["first_session_from_launch_s"] + passes[0]["wall_s"],
        "latency.pass_s": pass_s,
        "latency.input_mb_per_s": input_bytes / MB / pass_s,
        "latency.query_p50_s": quantile(walls, 0.5),
        "latency.query_p90_s": quantile(walls, 0.9),
        # JVM CPU per warm pass, JIT and GC included: spreads up to 0.2
        # between runs, so it is reported but not gated
        "process.pass_cpu_s": statistics.median(p["proc_cpu_s"] for p in warm),
    }, len(walls)


def layer_metrics(res, passes, cpus, extra):
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]

    def med(f):
        return statistics.median(f(p) for p in traced)

    def total(p, k):
        return sum(q.get(k, 0) for q in p["queries"])

    m = {
        "Sessions.session_start_s": statistics.median(
            [p["session_s"] for p in passes[1:]] + res["setups"]),
        "Sessions.jvm_launch_s": res["first_session_from_launch_s"],
        "Tables.scan_tasks": med(lambda p: total(p, "scan_tasks")),
        "Tables.input_mb": med(lambda p: total(p, "input_bytes") / MB),
        "Tables.input_rows": med(lambda p: total(p, "input_records")),
        "queries.build_s": med(lambda p: total(p, "build")),
        "queries.plan_s": med(lambda p: total(p, "plan")),
        "queries.exec_s": med(lambda p: total(p, "exec")),
        "queries.driver_frac": med(
            lambda p: 1 - total(p, "busy_ms") / 1e3 / total(p, "wall")),
        "exec.jobs": med(lambda p: total(p, "jobs")),
        "exec.stages": med(lambda p: total(p, "stages")),
        "exec.tasks": med(lambda p: total(p, "tasks")),
        "exec.task_overhead_s": med(
            lambda p: (total(p, "task_wall_ms") - total(p, "run_ms")) / 1e3),
        "exec.task_cpu_s": med(lambda p: total(p, "cpu_ns") / 1e9),
        "exec.cpu_util": med(
            lambda p: total(p, "cpu_ns") / 1e9 / (p["wall_s"] * cpus)),
        "exec.shuffle_write_mb": med(lambda p: total(p, "shuffle_write") / MB),
        "exec.shuffle_read_mb": med(lambda p: total(p, "shuffle_read") / MB),
        "exec.spill_mb": med(lambda p: total(p, "spill") / MB),
        "exec.peak_exec_mem_mb": med(
            lambda p: max(q.get("peak_mem", 0) for q in p["queries"]) / MB),
        "exec.gc_s": med(lambda p: total(p, "gc_ms") / 1e3),
        "trace_overhead": med(lambda p: p["wall_s"]) /
            statistics.median(p["wall_s"] for p in untraced),
    }
    for k in ("batches", "batch_s", "add_batch_s", "wal_commit_s",
              "planning_s", "state_rows", "state_mb", "state_commit_s"):
        m[f"streaming.{k}"] = med(lambda p: p["streaming"][k])
    m.update(res["layers"])
    m.update(extra)
    return m


def unit_of(name):
    if name == "latency.input_mb_per_s":
        return "MB/s"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_ratio", "_util")) or name == "trace_overhead":
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="base tables as they are, for the self-check")
    ap.add_argument("--corrupt", metavar="QUERY",
                    help="negative control: expect a wrong fingerprint for QUERY")
    args = ap.parse_args()
    started = time.time()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"[perfbench] no engine sources under {ROOT}; run from a checkout")
        return 2

    wl = WORKLOADS[args.workload]
    names = wl["queries"]
    factors = SMOKE_FACTORS if args.smoke else wl["factors"]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.makedirs(BUILD, exist_ok=True)
    sweep_dead_runs()
    stamp = source_stamp()
    classpath = build(stamp)

    t0 = time.time()
    data_dir, sizes = synth.prepare(os.path.join(BUILD, "data"), args.workload,
                                    factors, args.seed)
    prep_s = time.time() - t0
    input_bytes = sum(sizes[t][1] for t in wl["inputs"])

    verified_dir = os.path.join(BUILD, "verified")
    os.makedirs(verified_dir, exist_ok=True)
    cached_path = os.path.join(
        verified_dir, f"{os.path.basename(data_dir)}-{stamp}.json")
    verified = json.load(open(cached_path)) if os.path.exists(cached_path) else None

    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "stream", "scratch"):
        os.makedirs(os.path.join(run_dir, d))
    spans_dir = os.path.join(BUILD, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    spans_file = os.path.join(
        spans_dir, f"{args.workload}-seed{args.seed}-{stamp}.jsonl")
    plan = {
        "data": data_dir, "queries": ",".join(names),
        "seconds": str(args.seconds), "trace": str(args.trace),
        "minWarm": "2", "maxWarm": "40",
        "setups": str(EXTRA_SETUPS), "cpus": str(cpus),
        "tables": ",".join(wl["inputs"]),
        "localDir": f"{run_dir}/local", "streamDir": f"{run_dir}/stream",
        "scratch": f"{run_dir}/scratch", "spans": spans_file,
        "out": f"{run_dir}/out.json",
        "dump": f"{run_dir}/dump",
    }
    try:
        res = run_jvm(classpath, plan, run_dir,
                      RUN_LIMIT_S - (time.time() - started))
        leaked = len(glob.glob(os.path.join(run_dir, "stream", "graft_stream_ckpt_*")))
        t0 = time.time()
        results = {q: oracle.load(plan["dump"], q) for q in names}
        if not verified:
            verified = verify(res, data_dir, results, cached_path)
        # what the cold pass wrote, recognised by content
        got = {q: oracle.digest(df) if df is not None else None
               for q, df in results.items()}
        check_s = time.time() - t0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    expected = dict(verified)
    if args.corrupt:
        expected[args.corrupt] = {"digest": "corrupted", "fp": "corrupted"}

    passes = res["passes"]
    attempted = failed = 0
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            want = expected.get(q["q"])
            have = got[q["q"]] if p["index"] == 0 else q["fp"]
            key = "digest" if p["index"] == 0 else "fp"
            if q["err"] or want is None or have != want[key]:
                failed += 1
                log(f"[perfbench] FAIL pass {p['index']} {q['q']}: "
                    f"{q['err'] or f'{key} {have} != verified {want and want[key]}'}")

    e2e = e2e_metrics(res, passes)
    latency, samples = latency_metrics(res, passes, input_bytes)
    if args.trace:
        walls = {(f"{p['kind']}{p['index']}", q["q"]): q["wall"]
                 for p in passes if p["traced"] for q in p["queries"]}
        self_times = span_self_times(spans_file, walls)
        metrics = layer_metrics(res, passes, cpus, {
            **latency, "bench.prep_s": prep_s, "bench.check_s": check_s,
            "bench.leaked_ckpt_dirs": leaked, "process.peak_rss_mb": res["peak_rss_mb"]})
        declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"] \
            if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else []
        missing = [m["name"] for m in declared
                   if m["name"] not in metrics or unit_of(m["name"]) != m["unit"]]
        if missing:
            raise SystemExit(f"[perfbench] per-layer metrics not emitted as declared: {missing}")
        log("[perfbench] span self time (s): " + ", ".join(
            f"{k}={v:.3f}" for k, v in sorted(self_times.items(), key=lambda kv: -kv[1])[:12]))
    else:
        metrics = e2e

    rows = ", ".join(f"{t}={sizes[t][0]} rows/{sizes[t][1] / MB:.2f} MB" for t in synth.TABLES)
    log(f"[perfbench] {args.workload} seed={args.seed} nproc={cpus} {rows}")
    log(f"[perfbench] passes={len(passes)} query samples={samples} "
        f"attempted={attempted} failed={failed} "
        f"failed_frac={failed / attempted:.4f} prep_s={prep_s:.2f} check_s={check_s:.2f} "
        f"leaked_ckpt_dirs={leaked} peak_rss_mb={res['peak_rss_mb']:.0f}")
    for k, v in {**e2e, **latency}.items():
        log(f"[perfbench]   {k:24s} {v:12.4f} {E2E_UNITS.get(k) or unit_of(k)}")
    units = E2E_UNITS if not args.trace else {k: unit_of(k) for k in metrics}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
