#!/usr/bin/env python3
"""Steadiness check: runs each workload once per seed and reports, per
end-to-end metric, the median, the quartiles (statistics.quantiles, n=4)
and the spread (Q3 - Q1) / median next to the metric's bound.

    python3 loadbench/steadiness.py --seeds 1 2 3 4 5 --workloads interactive \
        [--label set1] [--record loadbench/STEADINESS.json]

Run it from the repository root. With --record, the set is appended to
that JSON file under its label.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--label", default=time.strftime("%Y-%m-%dT%H:%M:%S"))
    ap.add_argument("--record")
    a = ap.parse_args()

    result = {"label": a.label, "seeds": a.seeds, "seconds": a.seconds, "workloads": {}}
    for w in a.workloads:
        values = {}
        for seed in a.seeds:
            t0 = time.time()
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                  "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                                 cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{out.stdout[-2000:]}{out.stderr[-2000:]}")
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            detail = next((json.loads(l[7:]) for l in lines if l.startswith("detail ")), {})
            print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}/"
                  f"{res['attempted']} wall={time.time() - t0:.1f}s "
                  f"sentinel={detail.get('sentinel_s')} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
                  flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        rows = {}
        for k, vs in sorted(values.items()):
            q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            spread = (q3 - q1) / med if med else 0.0
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                       "bound": bounds.get(k), "values": vs}
            print(f"  {k:18s} median {med:12.4f}  spread {spread:6.3f}  bound {bounds.get(k)}")
        result["workloads"][w] = rows

    if a.record:
        rec = json.load(open(a.record)) if os.path.exists(a.record) else {"sets": []}
        rec["sets"].append(result)
        with open(a.record, "w") as f:
            json.dump(rec, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
