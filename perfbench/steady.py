"""Steadiness check of the benchmark declared in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10            # spreads, one seed per run
    python3 perfbench/steady.py --runs 0 --counts    # exact-count repeat only

Runs the benchmark command ``--runs`` times per workload, each with
another seed and the workloads interleaved, and prints for every
end-to-end metric its median and the distance between its first and
third quartiles as a share of the median, against the metric's bound.
``--counts`` also makes two traced runs of each of two seeds per
workload and reports which count-valued per-layer metrics repeat
exactly.  It also prints the wall time per run and the projected time of
the full set of ``4 + 22 × workloads`` runs.  Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(bench: dict, workload: str, seed: int, trace: int) -> tuple[dict, float]:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    elapsed = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {proc.returncode}")
    print(f"  {workload} seed={seed} trace={trace}: {elapsed:.1f} s | {lines[-2]}", flush=True)
    return json.loads(lines[-1]), elapsed


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", help="comma-separated subset")
    p.add_argument("--counts", action="store_true")
    args = p.parse_args(argv)

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    values = {w: {} for w in names}
    elapsed = []
    for i in range(args.runs):
        for w in names:
            res, secs = run_once(bench, w, args.first_seed + i, 0)
            elapsed.append(secs)
            for k, v in res["metrics"].items():
                values[w].setdefault(k, []).append(v["value"])

    report = {"runs": args.runs, "seeds": [args.first_seed, args.first_seed + args.runs - 1],
              "spreads": {}, "counts": {}}
    for w in names:
        for m in bench["end_to_end"] if args.runs >= 2 else []:
            med, sp = spread(values[w][m["name"]])
            report["spreads"][f"{w}/{m['name']}"] = {"median": med, "spread": sp, "bound": m["bound"]}
            flag = "ok" if sp < m["bound"] / 3 else ("WITHIN BOUND" if sp <= m["bound"] else "TOO WIDE")
            print(f"{w:15s} {m['name']:16s} median {med:12.4f} {m['unit']:3s}"
                  f" spread {sp:7.2%} bound {m['bound']:.0%}  {flag}")

    if args.counts:
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        counted = [k for k, u in units.items() if u in ("count", "bytes")]
        for w in names:
            for seed in (args.first_seed, args.first_seed + 1):
                runs = [run_once(bench, w, seed, 1)[0]["metrics"] for _ in range(2)]
                differ = {k: [r[k]["value"] for r in runs] for k in counted
                          if runs[0][k]["value"] != runs[1][k]["value"]}
                nonzero = sum(runs[0][k]["value"] != 0 for k in counted)
                report["counts"][f"{w}/seed{seed}"] = {
                    "compared": len(counted), "nonzero": nonzero, "differ": differ}
                print(f"{w} seed={seed}: {len(counted) - len(differ)}/{len(counted)} count"
                      f" metrics repeat exactly ({nonzero} nonzero); differ: {differ or 'none'}")

    if elapsed:
        per_run = statistics.fmean(elapsed)
        total = (4 + 22 * len(bench["workloads"])) * per_run
        report.update(mean_run_s=per_run, projected_full_set_s=total)
        print(f"mean run {per_run:.1f} s; projected full set {total:.0f} s")
    os.makedirs(".perfbench_out", exist_ok=True)
    with open(f".perfbench_out/steady-{int(time.time())}.json", "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
