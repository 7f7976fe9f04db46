#!/usr/bin/env python3
"""The repo benchmark: one seeded workload per run, outputs checked against
the program's DuckDB oracles.

    python3 perfbench/run.py --workload <taxi_batch|stream_cascade|all>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
the harness from source (sbt); later runs reuse the build while the sources
are unchanged. Each run generates its inputs from the seed, starts one JVM
in a fresh working directory, and prints a table of its metrics followed by
one JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The exit code is nonzero if any op failed or any output differs from its
oracle.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

# the workloads of BENCHMARK.json
WORKLOADS = ["taxi_batch", "stream_cascade"]
BUILD = ROOT / ".bench_build" / "perfbench"
# the program's DuckDB oracle compare, called as it is
LOCAL_VERIFY = ROOT / "tools" / "local_verify.py"
# the tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10
# leaves time for the oracle compare within the run's 180 s
JVM_TIMEOUT_S = 145
# what the program is measured without: the shipped defaults apply
DROP_ENV_PREFIXES = ("SPARK_GRAFT_", "SPARK_DRIVER_MEM")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build ---

def _sources():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def _clean_env():
    return {k: v for k, v in os.environ.items() if not k.startswith(DROP_ENV_PREFIXES)}


def build():
    """Compile the program and the harness unless the sources are unchanged;
    return (classpath, jvm options)."""
    for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala", LOCAL_VERIFY):
        if not p.exists():
            raise SystemExit(f"[perfbench] {p.relative_to(ROOT)} is missing: run from a checkout of the repo")
    h = hashlib.sha256()
    for f in _sources():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp, manifest = BUILD / "stamp", HERE / "target" / "manifest.txt"
    if not (stamp.exists() and manifest.exists() and stamp.read_text() == h.hexdigest()):
        BUILD.mkdir(parents=True, exist_ok=True)
        log("building program and harness (sbt)")
        with open(BUILD / "build.log", "w") as out:
            rc = subprocess.run(["sbt", "-batch", "benchManifest"], cwd=HERE, env=_clean_env(),
                                stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
        if rc != 0 or not manifest.exists():
            sys.stderr.write((BUILD / "build.log").read_text()[-4000:])
            raise SystemExit(f"[perfbench] build failed (exit {rc})")
        stamp.write_text(h.hexdigest())
    lines = manifest.read_text().splitlines()
    return lines[0], lines[1:]


# ---------------------------------------------------------------- metrics ---

def tail(samples):
    """The highest percentile with at least TAIL_BEYOND samples beyond it:
    (value, percentile, samples beyond, sample count)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_BEYOND}")
    k = n - TAIL_BEYOND  # 1-based rank of the tail sample
    return xs[k - 1], 100.0 * k / n, n - k, n


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarize(result, failed_checks, cores):
    """End-to-end metrics of one run. `failed_checks` names the outputs that
    differ from their oracle; an op of such an output counts as failed, like
    an op that threw, and a failed op misses every latency limit."""
    ops = result["ops"]
    bad = set(failed_checks)
    stream = "landed_chunks" in result
    failed = [o for o in ops if o["latency_s"] is None
              or o["name"] in bad or (stream and bad)]
    ok = [o for o in ops if o not in failed]
    lat = [o["latency_s"] for o in ok] + [float("inf")] * len(failed)
    e2e = {
        "setup_s": (result["setup_s"], "s"),
        "throughput_ops_per_s": (len(ok) / result["timed_wall_s"], "ops/s"),
        "latency_p50_s": (median(lat), "s"),
        "retained_heap_mb": (result["retained_heap_mb"], "MB"),
    }
    info = {"error_rate": (len(failed) / len(ops), "fraction"),
            "latency_samples": (len(lat), "count")}
    # too few samples for a tail is not an error: the tail is left out
    if len(lat) > TAIL_BEYOND:
        t_val, t_pct, t_beyond, _ = tail(lat)
        info["latency_tail_s"] = (t_val, "s")
        info["latency_tail_percentile"] = (t_pct, "%")
        info["latency_tail_beyond"] = (t_beyond, "count")
    info["cores"] = (cores, "count")
    if stream:
        info["lake_read_p50_s"] = (median([o["layers"]["sinks.lake_read_ms"] / 1e3 for o in ok]), "s")
        info["landed_chunks"] = (result["landed_chunks"], "count")
    return e2e, info, len(ops), len(failed)


# Per-layer metrics of a traced run, with units. Times are per-op medians,
# counts and bytes per-op means, shares are ratios of sums over all ops.
LAYER_UNITS = {
    "core.session_ms": "ms", "core.warm_ms": "ms",
    "operators.build_ms": "ms", "spark.plan_ms": "ms", "spark.exec_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_busy_share": "fraction",
    "sources.scan_bytes": "bytes", "sources.scan_records": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "spill.bytes": "bytes",
    "jvm.gc_ms": "ms", "jvm.gc_count": "count",
    "harness.land_ms": "ms",
    "streaming.run_ms": "ms", "streaming.start_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.source_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.state_cache_misses": "count",
    "sinks.lake_read_ms": "ms", "sinks.lake_files": "count",
    "sinks.checkpoint_files": "count", "sinks.bulk_calls": "count",
    "sinks.docs": "count",
    "split.build_share": "fraction", "split.plan_share": "fraction",
    "split.exec_share": "fraction", "split.land_share": "fraction",
    "split.run_share": "fraction", "split.read_share": "fraction",
    "split.idle_core_share": "fraction", "split.stream_start_share": "fraction",
    "split.stream_commit_share": "fraction", "split.stream_sink_share": "fraction",
    "trace.self_share": "fraction",
}
# span phase -> per-layer time metric
PHASE_METRIC = {"build": "operators.build_ms", "plan": "spark.plan_ms",
                "exec": "spark.exec_ms", "land": "harness.land_ms"}


def layer_metrics(result):
    rows = result["op_layers"]
    op_ms = sum(r["op_ms"] for r in rows) or 1.0

    def total(k):
        return sum(r.get(k, 0.0) for r in rows)

    m = {k: 0.0 for k in LAYER_UNITS}
    m["core.session_ms"] = result["session_ms"]
    m["core.warm_ms"] = result["warm_ms"]
    for k in set().union(*rows) if rows else ():
        if k.startswith("phase."):
            name = k[len("phase."):-len("_ms")]
            if name in PHASE_METRIC:
                m[PHASE_METRIC[name]] = median([r.get(k, 0.0) for r in rows])
            m[f"split.{name}_share"] = total(k) / op_ms
        elif k in LAYER_UNITS:
            vals = [r.get(k, 0.0) for r in rows]
            m[k] = median(vals) if k.endswith("_ms") else sum(vals) / len(vals)
    work_wall = total("work_wall_ms") * rows[0]["cores"] if rows else 0.0
    m["spark.task_busy_share"] = total("work_task_ms") / work_wall if work_wall else 0.0
    # the part of op wall time the cores spend outside Spark tasks: driver
    # work, planning, scheduling and waiting
    m["split.idle_core_share"] = 1.0 - total("spark.task_ms") / (op_ms * rows[0]["cores"]) if rows else 0.0
    m["split.stream_start_share"] = total("streaming.start_ms") / op_ms
    m["split.stream_commit_share"] = (total("streaming.wal_commit_ms")
                                      + total("streaming.commit_offsets_ms")) / op_ms
    m["split.stream_sink_share"] = total("streaming.add_batch_ms") / op_ms
    m["trace.self_share"] = total("self_ms") / op_ms
    return {k: (v, LAYER_UNITS[k]) for k, v in m.items()}


def split_adds_up(result):
    """Each op's phases must add up to its wall time (1 ms or 1% slack)."""
    return all(r["self_ms"] <= 1.0 + 0.01 * r["op_ms"] for r in result["op_layers"])


# ---------------------------------------------------------------- running ---

def oracle_failures(oracle_dir, check_dir):
    """Names in `check_dir/oracle_sql.json` whose output in `check_dir`
    does not PASS tools/local_verify.py against its oracle over
    `oracle_dir`."""
    names = json.loads((check_dir / "oracle_sql.json").read_text())
    p = subprocess.run([sys.executable, str(LOCAL_VERIFY), str(oracle_dir), str(check_dir)],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL, timeout=25)
    passed = {line.split()[1] for line in p.stdout.splitlines() if line.startswith("PASS ")}
    failed = sorted(set(names) - passed)
    if failed:
        log(f"oracle compare failed for {', '.join(failed)}:\n{p.stdout[-3000:]}{p.stderr[-3000:]}")
    return failed


def run_workload(workload, seed, seconds, trace, classpath, jvm_opts, cores):
    run_dir = BUILD / f"run-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, out, cwd, tmp = (run_dir / d for d in ("input", "out", "cwd", "tmp"))
    for d in (out, cwd, tmp):
        d.mkdir(parents=True)
    try:
        t0 = time.time()
        props = gen.generate(workload, seed, str(inp))
        t1 = time.time()
        java = str(Path(os.environ["JAVA_HOME"], "bin", "java")) if "JAVA_HOME" in os.environ else "java"
        # Spark's block manager and any JVM temp files stay in the run dir
        cmd = [java, *jvm_opts, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
               "--workload", workload, "--input", str(inp), "--out", str(out),
               "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
               "--seed", str(seed)]
        with open(run_dir / "jvm.log", "w") as jlog:
            proc = subprocess.Popen(cmd, cwd=cwd, env={**_clean_env(), "SPARK_LOCAL_DIRS": str(tmp)},
                                    stdout=jlog, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not (out / "result.json").exists():
            sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
            raise SystemExit(f"[perfbench] {workload}: harness JVM failed ({rc})")
        result = json.loads((out / "result.json").read_text())
        t2 = time.time()
        if result["check_error"] is not None:
            failed_checks = ["check_pass"]
        else:
            oracle_dir = inp
            if "landed_chunks" in result:
                # the oracle covers exactly the chunks that landed
                oracle_dir = run_dir / "oracle"
                oracle_dir.mkdir()
                gen.landed_events(str(inp), result["landed_chunks"], str(oracle_dir))
            failed_checks = oracle_failures(oracle_dir, out / "check")
        e2e, info, attempted, failed = summarize(result, failed_checks, cores)
        log(f"times: gen {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s, oracle {time.time() - t2:.1f} s")
        correct = failed == 0 and not failed_checks
        if trace:
            # end-to-end figures of a traced run only show the tracing overhead
            info.update(e2e)
            metrics = layer_metrics(result)
            if not split_adds_up(result):
                log("op phases do not add up to op wall time")
                correct = False
            keep = BUILD / "last-trace" / workload
            shutil.rmtree(keep, ignore_errors=True)
            keep.mkdir(parents=True)
            for f in ("result.json", "spans.json"):
                shutil.copy(out / f, keep / f)
        else:
            metrics = e2e
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": metrics, "info": info, "inputs": props,
                "latencies": [(o["name"], o["latency_s"]) for o in result["ops"]],
                "failed_checks": failed_checks}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def print_table(workload, res):
    print(f"== {workload}  correct={res['correct']}  attempted={res['attempted']}  "
          f"failed={res['failed']}")
    for name, (v, unit) in {**res["metrics"], **res["info"]}.items():
        print(f"  {name:32s} {v:>16.6f} {unit}")
    print(f"  inputs {json.dumps(res['inputs'])}")
    print(f"  op latencies (s, in op order) {json.dumps(res['latencies'])}")
    if res["failed_checks"]:
        print(f"  oracle mismatches: {', '.join(res['failed_checks'])}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    classpath, jvm_opts = build()
    cores = len(os.sched_getaffinity(0))
    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for w in names:
        t0 = time.time()
        results[w] = run_workload(w, args.seed, args.seconds, args.trace, classpath, jvm_opts, cores)
        log(f"{w}: {time.time() - t0:.1f} s")
        print_table(w, results[w])
    if len(names) == 1:
        r = results[names[0]]
        metrics = r["metrics"]
    else:
        r = {"correct": all(x["correct"] for x in results.values()),
             "attempted": sum(x["attempted"] for x in results.values()),
             "failed": sum(x["failed"] for x in results.values())}
        metrics = {f"{w}.{k}": v for w, x in results.items() for k, v in x["metrics"].items()}
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if r["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
