#!/usr/bin/env python3
"""A/B the repo benchmark between two checkouts: alternating parent/change
pairs of one perfbench workload, one pair per seed.

    python3 tools/perfbench_ab.py --parent DIR --change DIR --workload W
        --seeds 101-110 [--trace] [--json PATH]

Each side runs `python3 perfbench/run.py --workload W --seed S --seconds 1
--trace 0` from the root of its checkout. Odd seeds run the parent first,
even seeds the change first, and /proc/loadavg is recorded before each run.
For every end-to-end metric of BENCHMARK.json the tool prints each side's
median and quartiles (Q1-Q3), the parent's spread (Q3 - Q1), the
change/parent ratio of the medians and the pairs the change won (ties count
for neither side). A metric is marked GAIN when the change won at least nine
tenths of the pairs and its median beats the parent's by more than the
parent's spread. The exit code is nonzero if any run failed or was not
correct.

--trace runs `run.py --trace 1` instead and summarizes, the same way, the
per-layer metrics named in TRACE_METRICS (a traced run reports per-layer
metrics, not end-to-end ones, and its timings carry the tracing overhead).

Make each checkout fresh from git (`git clone` or `git worktree add`), not
by copying a built tree with `cp -a`: a copied tree has been seen to lose
its compiled classes after a build in a copy of it. Each checkout builds
itself from source on its first run.
"""
import argparse
import functools
import json
import statistics
import subprocess
import sys
from pathlib import Path

# the per-layer metrics of BENCHMARK.json that --trace summarizes: Spark
# jobs per op, the build and exec medians, and the stream's batch body,
# state-store commit, offset log and commit log medians
TRACE_METRICS = ("spark.jobs", "operators.build_ms", "spark.exec_ms",
                 "streaming.add_batch_ms", "streaming.state_commit_ms",
                 "streaming.wal_commit_ms", "streaming.commit_offsets_ms")


def parse_seeds(spec):
    """'101-110' or '101,105,107-109' -> list of ints, in order."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def read_loadavg():
    try:
        return Path("/proc/loadavg").read_text().split()[:3]
    except OSError:
        return None


def run_checkout(checkout, workload, seed, trace=False):
    """One benchmark run; returns (ok, result dict or None, stderr tail)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "1" if trace else "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    result = None
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            result = json.loads(line)
            break
    ok = (p.returncode == 0 and result is not None and result["correct"]
          and result["failed"] == 0)
    return ok, result, p.stderr[-2000:]


def quartiles(xs):
    """(Q1, median, Q3), linear interpolation between the runs."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def compared_metrics(spec, trace):
    """The metric entries of BENCHMARK.json an A/B compares: the end-to-end
    ones, or with --trace the per-layer TRACE_METRICS."""
    if not trace:
        return spec["end_to_end"]
    return [m for m in spec["per_layer"] if m["name"] in TRACE_METRICS]


def summarize(metrics, pairs):
    """Per metric entry: both sides' quartiles, ratio and wins over the
    pairs in which both runs succeeded."""
    good = [(p, c) for p, c in pairs if p is not None and c is not None]
    out = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p[name]["value"] for p, _ in good]
        chg = [c[name]["value"] for _, c in good]
        if not good:
            continue
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(par), quartiles(chg)
        wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
        losses = sum(1 for a, b in zip(par, chg) if (b > a if lower else b < a))
        gain = (wins >= 0.9 * len(good)
                and ((pmed - cmed) if lower else (cmed - pmed)) > pq3 - pq1)
        out[name] = {"unit": m["unit"], "better": m["better"], "bound": m.get("bound"),
                     "parent": {"median": pmed, "q1": pq1, "q3": pq3},
                     "change": {"median": cmed, "q1": cq1, "q3": cq3},
                     "parent_spread": pq3 - pq1,
                     "ratio": cmed / pmed if pmed else None,
                     "wins": wins, "losses": losses, "pairs": len(good), "gain": gain}
    return out


def print_table(workload, summary):
    print(f"== {workload}: change vs parent over {next(iter(summary.values()))['pairs']} pairs"
          if summary else f"== {workload}: no pair completed")
    print(f"  {'metric':24s} {'parent median [Q1-Q3]':>28s} {'change median [Q1-Q3]':>28s}"
          f" {'spread':>8s} {'ratio':>6s} {'wins':>6s}")
    for name, s in summary.items():
        p, c = s["parent"], s["change"]
        par = f"{p['median']:.3f} [{p['q1']:.3f}-{p['q3']:.3f}]"
        chg = f"{c['median']:.3f} [{c['q1']:.3f}-{c['q3']:.3f}]"
        ratio = f"{s['ratio']:.2f}" if s["ratio"] is not None else "-"
        print(f"  {name:24s} {par:>28s} {chg:>28s} {s['parent_spread']:8.3f} {ratio:>6s}"
              f" {s['wins']:>3d}/{s['pairs']:<2d}" + ("  GAIN" if s["gain"] else ""))


def main(argv=None, runner=run_checkout, loadavg=read_loadavg):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 101,103,107-109")
    ap.add_argument("--trace", action="store_true",
                    help="run traced and compare the per-layer TRACE_METRICS")
    ap.add_argument("--json", help="write every run and the summary here")
    args = ap.parse_args(argv)
    spec = json.loads(Path(args.parent, "BENCHMARK.json").read_text())
    sides = {"parent": args.parent, "change": args.change}
    run = functools.partial(runner, trace=True) if args.trace else runner
    runs, pairs, failed = [], [], 0
    for seed in parse_seeds(args.seeds):
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        got = {}
        for pos, side in enumerate(order):
            load = loadavg()
            ok, result, err = run(sides[side], args.workload, seed)
            runs.append({"seed": seed, "side": side, "position": pos, "loadavg": load,
                         "ok": ok, "result": result})
            if not ok:
                failed += 1
                print(f"[ab] seed {seed} {side}: run failed\n{err}", file=sys.stderr)
            got[side] = result["metrics"] if ok else None
            load_s = " ".join(load) if load else "-"
            print(f"[ab] seed {seed} {side} ({'first' if pos == 0 else 'second'}, "
                  f"loadavg {load_s}): {'ok' if ok else 'FAILED'}", file=sys.stderr, flush=True)
        pairs.append((got["parent"], got["change"]))
    summary = summarize(compared_metrics(spec, args.trace), pairs)
    print_table(args.workload, summary)
    if failed:
        print(f"{failed} run(s) failed")
    if args.json:
        Path(args.json).write_text(json.dumps(
            {"workload": args.workload, "seeds": parse_seeds(args.seeds),
             "command": "python3 perfbench/run.py --workload W --seed S --seconds 1 --trace "
                        + ("1" if args.trace else "0"),
             "order": "odd seed: parent first; even seed: change first",
             "failed_runs": failed, "summary": summary, "runs": runs}, indent=1) + "\n")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
