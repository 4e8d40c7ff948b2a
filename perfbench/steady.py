"""Steadiness of the benchmark on one commit.

    python3 perfbench/steady.py [--traced 2]

Runs `run.py` the way the acceptance protocol does: two sets of ten
untraced runs per workload of BENCHMARK.json, each with its own seed
(seeds never repeat across sets), interleaving workloads; then --traced
traced runs per workload. For each workload and end-to-end metric it
prints each set's median and quartiles, the quartile spread as a share of
the median, and whether the sets agree within the metric's bound (every
spread and the drift of the medians, either way, at most the bound); then the
per-layer medians, the tracing overhead (traced median wall_s minus
untraced median wall_s) and the time the runs took. Everything is also
written to .perfbench/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RUNS, SETS = 10, 2


def one(spec, workload, seed, trace):
    t0 = time.time()
    p = subprocess.run(spec["command"] + ["--workload", workload, "--seed", str(seed),
                                          "--seconds", str(spec["run_seconds"]),
                                          "--trace", str(trace)],
                       cwd=REPO, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    took = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["took_s"] = took
    print(f"  {workload:16s} seed {seed:4d} trace {trace}: {took:6.1f} s  "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in list(res["metrics"].items())[:5]),
          flush=True)
    return res


def quartiles(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
    return q1, statistics.median(vals), q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--traced", type=int, default=2)
    a = ap.parse_args()
    with open(f"{REPO}/BENCHMARK.json") as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    t_start = time.time()
    sets = []
    for s in range(SETS):
        print(f"set {s + 1}", flush=True)
        runs = {w: [] for w in names}
        for i in range(RUNS):
            for w in names:
                runs[w].append(one(spec, w, 100 * (s + 1) + i + 1, 0))
        sets.append(runs)
    traced = {w: [one(spec, w, 900 + i + 1, 1) for i in range(a.traced)] for w in names}

    report = {"workloads": {}, "elapsed_s": time.time() - t_start}
    ok = True
    for w in names:
        rows = {}
        print(f"\n{w}")
        print(f"  {'metric':12s} " + " ".join(f"{'set' + str(i + 1) + ' q1/med/q3':>28s}"
                                             for i in range(SETS))
              + f" {'spread':>14s} {'drift':>7s} {'bound':>5s} verdict")
        for m, bound in bounds.items():
            qs = [quartiles([r["metrics"][m]["value"] for r in runs[w]]) for runs in sets]
            spreads = [(q3 - q1) / med for q1, med, q3 in qs]
            drift = qs[-1][1] / qs[0][1] - 1
            good = abs(drift) <= bound and max(spreads) <= bound
            ok &= good
            rows[m] = {"sets": [dict(q1=q1, median=med, q3=q3) for q1, med, q3 in qs],
                       "spread": spreads, "drift": drift, "bound": bound, "ok": good,
                       "steady": max(spreads) <= bound / 3}
            print(f"  {m:12s} " + " ".join(f"{q1:9.4g}/{med:9.4g}/{q3:9.4g}" for q1, med, q3 in qs)
                  + f" {'/'.join(f'{x:.3f}' for x in spreads):>14s} {drift:+7.3f} {bound:5.2f} "
                  + ("ok" if good else "OUT OF BOUND") + ("" if rows[m]["steady"] else " (spread > bound/3)"))
        shares = [sum(r["failed"] for r in runs[w]) / sum(r["attempted"] for r in runs[w])
                  for runs in sets]
        ok &= len(set(shares)) == 1
        layers = {k: statistics.median(r["metrics"][k]["value"] for r in traced[w])
                  for k in traced[w][0]["metrics"]} if traced[w] else {}
        untraced = statistics.median(r["metrics"]["wall_s"]["value"] for runs in sets for r in runs[w])
        overhead = layers.get("trace.wall_s", untraced) - untraced
        took = [r["took_s"] for runs in sets for r in runs[w]] + [r["took_s"] for r in traced[w]]
        print(f"  failed share per set: {shares}; tracing overhead {overhead:+.2f} s "
              f"(traced median wall_s - untraced median wall_s); mean run {statistics.mean(took):.1f} s")
        report["workloads"][w] = {"metrics": rows, "failed_share": shares, "layers": layers,
                                  "trace_overhead_s": overhead,
                                  "mean_run_s": statistics.mean(took),
                                  "correct": all(r["correct"] for runs in sets for r in runs[w])}
    per_run = [report["workloads"][w]["mean_run_s"] for w in names]
    budget = (4 + 22 * len(names)) * statistics.mean(per_run)
    print(f"\n{4 + 22 * len(names)} protocol runs would take about {budget:.0f} s "
          f"(mean run times {', '.join(f'{x:.1f}' for x in per_run)} s), builds not included")
    report["estimated_protocol_s"] = budget
    report["ok"] = ok
    os.makedirs(f"{REPO}/.perfbench", exist_ok=True)
    with open(f"{REPO}/.perfbench/steady.json", "w") as f:
        json.dump(report, f, indent=1)
    print("two sets agree within the bounds" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
