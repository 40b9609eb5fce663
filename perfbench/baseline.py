#!/usr/bin/env python3
"""Record a baseline: every benchmark workload over a list of seeds, in one
or more sets, plus one traced run per workload and set.

    python3 perfbench/baseline.py --seeds 1-10 --sets 2 --out perfbench/baseline/base.json
    python3 perfbench/baseline.py --from perfbench/baseline/base.json --out ...  (re-summarize)

For each workload and end-to-end metric it reports the median, the
quartiles and the spread (quartile distance over the median, as
`statistics.quantiles(values, n=4)` gives the quartiles), and how far each
later set's median moved from the first set's. Traced runs report their
per-layer metrics and whether the exact counts repeated between sets. The
host readings (CPU count, memory, JVM, commit, regime probe) go with them.
"""

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer counts that must repeat exactly between runs of one seed
EXACT_PREFIXES = ("curate.n_out.", "ingest.n_", "spark.jobs", "spark.shuffle_write_mb")


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
           "wall_s": round(time.monotonic() - t0, 1)}
    if len(lines) >= 2:
        rec["detail"] = json.loads(lines[-2])
        rec["result"] = json.loads(lines[-1])
    else:
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def summarize(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "values": values}


def exact_counts(rec):
    """The exact counts of a traced run, from its result and detail lines."""
    values = {k: v["value"] for k, v in rec["result"]["metrics"].items()}
    values.update({k: v["value"] for k, v in rec["detail"].get("layers", {}).items()})
    return {k: v for k, v in sorted(values.items()) if k.startswith(EXACT_PREFIXES)}


def summarize_runs(runs, workloads, bounds, sets):
    summary = {}
    for w in workloads:
        ws = {"untraced": [], "exact_counts_repeat": None, "tracing_overhead": []}
        for s in range(sets):
            sel = [r for r in runs if r["workload"] == w and r["set"] == s
                   and r["trace"] == 0 and "result" in r]
            stats = {m: summarize([r["result"]["metrics"][m]["value"] for r in sel])
                     for m in bounds if len(sel) >= 2}
            ws["untraced"].append({
                "runs": len(sel),
                "correct": all(r["result"]["correct"] for r in sel),
                "within_bound": {m: st["spread"] <= bounds[m]
                                 for m, st in stats.items() if m != "setup_s"},
                "metrics": stats})
        first = ws["untraced"][0]["metrics"]
        ws["median_shift_vs_first_set"] = [
            {m: st["median"] / first[m]["median"] - 1 for m, st in later["metrics"].items()}
            for later in ws["untraced"][1:]]
        traced = [r for r in runs if r["workload"] == w and r["trace"] == 1 and "result" in r]
        exact = [exact_counts(r) for r in traced]
        ws["exact_counts"] = exact
        ws["exact_counts_repeat"] = len(exact) > 1 and all(e == exact[0] for e in exact)
        for r in traced:
            untraced = ws["untraced"][r["set"]]["metrics"].get("op_p50_s")
            if untraced:
                ws["tracing_overhead"].append(
                    r["result"]["metrics"]["trace.op_p50_s"]["value"] / untraced["median"] - 1)
        extra = [r for r in runs if r["workload"] == w and r["set"] == "extra"]
        ws["extra_seed_correct"] = [r.get("result", {}).get("correct") for r in extra]
        summary[w] = ws
    return summary


def host_info():
    def cmd(args):
        try:
            p = subprocess.run(args, cwd=ROOT, capture_output=True, text=True)
            return (p.stdout + p.stderr).strip()
        except OSError:
            return None
    mem_kb = None
    try:
        with open("/proc/meminfo") as f:
            mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration):
        pass
    return {
        "commit": cmd(["git", "rev-parse", "HEAD"]),
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 1048576, 1) if mem_kb else None,
        "jvm": (cmd(["java", "-version"]) or "").splitlines()[:1],
        "machine": platform.machine(),
        "python": platform.python_version(),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", help="comma list (default: BENCHMARK.json's)")
    ap.add_argument("--extra-seed", type=int,
                    help="one more untraced run per workload on a seed outside --seeds")
    ap.add_argument("--from", dest="source",
                    help="re-summarize the runs of an earlier output instead of running")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    seeds = seeds_of(args.seeds)

    if args.source:
        with open(args.source) as f:
            old = json.load(f)
        runs, seeds, host = old["runs"], old["seeds"], old["host"]
        args.sets = old["sets"]
    else:
        runs, host = [], host_info()
        for s in range(args.sets):
            for w in workloads:
                for seed in seeds:
                    rec = run_once(w, seed, seconds, 0)
                    rec["set"] = s
                    runs.append(rec)
                    print(json.dumps({k: rec.get(k) for k in
                                      ("set", "workload", "seed", "exit", "wall_s")}), flush=True)
                rec = run_once(w, seeds[0], seconds, 1)
                rec["set"] = s
                runs.append(rec)
                print(json.dumps({k: rec.get(k) for k in
                                  ("set", "workload", "seed", "trace", "exit", "wall_s")}), flush=True)
        if args.extra_seed is not None:
            for w in workloads:
                rec = run_once(w, args.extra_seed, seconds, 0)
                rec["set"] = "extra"
                runs.append(rec)

    summary = summarize_runs(runs, workloads, bounds, args.sets)
    out = {"host": host, "run_seconds": seconds, "seeds": seeds,
           "sets": args.sets, "summary": summary, "runs": runs}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps({w: {"within_bound": [u["within_bound"] for u in s["untraced"]],
                          "shift": s["median_shift_vs_first_set"],
                          "exact_counts_repeat": s["exact_counts_repeat"]}
                      for w, s in summary.items()}, indent=1))


if __name__ == "__main__":
    main()
