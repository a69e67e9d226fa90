#!/usr/bin/env python3
"""Run a set of benchmark runs and report each metric's spread.

    python3 e2ebench/prove.py --workloads sheet_report,corpus_mix \\
        --seeds 101-110 [--trace 0] [--seconds 5]

Each run is ``run.py`` in a fresh process, one after another.  The
repository's calibration anchor is recorded before the first and after the
last run, so drift between two sets can be divided out.  For every
workload and metric the set reports the median and the quartile spread
(``statistics.quantiles(values, n=4)``: (Q3 - Q1) / median).  The summary
is printed and written to ``.e2ebench_out/prove-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", default="sheet_report,corpus_mix")
    p.add_argument("--seeds", default="101-110", help="a-b or a,b,c")
    p.add_argument("--seconds", default="5")
    p.add_argument("--trace", default="0")
    p.add_argument("--baseline", help="an untraced set's summary: with --trace 1, "
                   "report the tracing overhead against its runs of the same seeds")
    a = p.parse_args()
    base = json.load(open(a.baseline))["workloads"] if a.baseline else {}
    if "-" in a.seeds:
        lo, hi = map(int, a.seeds.split("-"))
        seeds = list(range(lo, hi + 1))
    else:
        seeds = [int(s) for s in a.seeds.split(",")]

    def anchor():
        return _last_json(subprocess.run(RUN + ["--anchor"], capture_output=True,
                                         text=True, cwd=ROOT, check=True).stdout)

    out = {"anchor_start": anchor(), "seeds": seeds, "seconds": a.seconds,
           "trace": a.trace, "workloads": {}}
    ok = True
    for wl in a.workloads.split(","):
        runs = []
        for seed in seeds:
            t = time.time()
            r = subprocess.run(
                RUN + ["--workload", wl, "--seed", str(seed), "--seconds", a.seconds,
                       "--trace", a.trace],
                capture_output=True, text=True, cwd=ROOT,
            )
            res = _last_json(r.stdout) if r.returncode == 0 else None
            ok &= res is not None and res["correct"]
            runs.append({"seed": seed, "rc": r.returncode, "run_s": time.time() - t,
                         "result": res})
            print(wl, seed, r.returncode, round(time.time() - t, 1), flush=True)
        stats = {}
        for name in (runs[0]["result"] or {}).get("metrics", {}):
            vals = [r["result"]["metrics"][name]["value"] for r in runs if r["result"]]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            stats[name] = {"median": med, "spread": (q[2] - q[0]) / med if med else None}
        out["workloads"][wl] = {"runs": runs, "stats": stats,
                                "run_s_total": sum(r["run_s"] for r in runs)}
        if wl in base and "op.wall_s" in stats:
            untraced = {r["seed"]: r["result"]["metrics"]["op_s"]["value"]
                        for r in base[wl]["runs"] if r["result"] and r["seed"] in seeds}
            m = [r["result"]["metrics"] for r in runs if r["result"]]
            layers = {k[: -len(".self_s")] for k in m[0] if k.endswith(".self_s")} - {"op"}
            out["workloads"][wl]["overhead"] = {
                "traced_op_s": stats["op.wall_s"]["median"],
                "untraced_op_s": statistics.median(untraced.values()),
                "overhead_s": stats["op.wall_s"]["median"] - statistics.median(untraced.values()),
                # self times of every layer but the operation's own glue
                "layers_self_s": statistics.median(
                    sum(x[f"{layer}.self_s"]["value"] for layer in layers) for x in m),
            }
            print(f"  {wl:13s} overhead {out['workloads'][wl]['overhead']}")
        for name, st in stats.items():
            print(f"  {wl:13s} {name:40s} median {st['median']:10.4f}  spread {st['spread']}")
    out["anchor_end"] = anchor()
    os.makedirs(os.path.join(ROOT, ".e2ebench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".e2ebench_out", f"prove-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"anchor_start": out["anchor_start"]["anchor"],
                      "anchor_end": out["anchor_end"]["anchor"], "summary": path}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
