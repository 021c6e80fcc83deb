"""Traced report of one workload, committed under perfbench/results/.

    python3 perfbench/report.py --workload stream_ingest --seeds 1 2 3

Runs the workload untraced and traced on each seed, one after the other,
and once more traced on one core (SPARK_GRAFT_CPUS=1, the single-core
scaling baseline) on the first seed. The per-layer metrics and self times
are those of the first seed's traced run. The tracing overhead of each
end-to-end metric is the median over the seeds of the traced runs minus
that of the untraced runs, given beside the untraced runs' spread (range
over median), so an overhead inside the spread reads as noise.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int, cpus: str | None) -> dict:
    env = dict(os.environ)
    if cpus:
        env["SPARK_GRAFT_CPUS"] = cpus
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, env=env, check=True, capture_output=True, text=True).stdout
    path = next(line.split(" to ", 1)[1] for line in out.splitlines()
                if line.startswith("run record written to "))
    with open(path) as fh:
        rec = json.load(fh)
    rec["result"] = json.loads(out.strip().splitlines()[-1])
    return rec


def overhead(plain: list[dict], traced: list[dict]) -> dict:
    """Median traced minus median untraced, per end-to-end metric and for
    the measured wall time, with the untraced runs' spread."""
    def values(recs, k):
        return [r["info"][k] if k == "measure_wall_s" else r["e2e"][k] for r in recs]

    out = {}
    for k in list(plain[0]["e2e"]) + ["measure_wall_s"]:
        p, t = values(plain, k), values(traced, k)
        mp, mt = statistics.median(p), statistics.median(t)
        out[k] = {"untraced_median": mp, "traced_median": mt, "diff": mt - mp,
                  "diff_share": (mt - mp) / mp, "untraced_spread": (max(p) - min(p)) / mp,
                  "within_noise": abs(mt - mp) <= max(p) - min(p)}
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        run_seconds = json.load(fh)["run_seconds"]
    ap.add_argument("--seconds", type=float, default=run_seconds)
    args = ap.parse_args()
    plain, traced = [], []
    for seed in args.seeds:
        plain.append(run(args.workload, seed, args.seconds, 0, None))
        traced.append(run(args.workload, seed, args.seconds, 1, None))
    single = run(args.workload, args.seeds[0], args.seconds, 1, "1")
    report = {
        "workload": args.workload, "seeds": args.seeds, "seconds": args.seconds,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))),
        "untraced": [{"seed": s, "result": r["result"], "info": r["info"], "e2e": r["e2e"]}
                     for s, r in zip(args.seeds, plain)],
        "traced": {"seed": args.seeds[0], "result": traced[0]["result"], "info": traced[0]["info"],
                   "e2e": traced[0]["e2e"], "layer": traced[0]["layer"],
                   "self_s": traced[0]["self_s"]},
        "tracing_overhead": overhead(plain, traced),
        "single_core": {"info": single["info"], "e2e": single["e2e"],
                        "layer": single["layer"], "self_s": single["self_s"]},
        "requests": traced[0]["requests"],
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"{args.workload}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"wrote {path}")
    for k, v in report["tracing_overhead"].items():
        print(f"tracing overhead {k}: {v['diff_share']:+.3f} of median "
              f"(untraced spread {v['untraced_spread']:.3f})")


if __name__ == "__main__":
    main()
