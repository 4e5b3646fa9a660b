#!/usr/bin/env python3
"""Run a workload once per seed and report each end-to-end metric's
median, quartiles and spread (quartile distance / median) against its
bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload query_mix --seeds 1-10

Run from the repository root. Raw result lines are appended to
perfbench/work/spread-<workload>.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    out = BENCH / "work" / f"spread-{a.workload}.jsonl"
    out.parent.mkdir(parents=True, exist_ok=True)
    values = {}
    for s in seeds(a.seeds):
        cmd = [sys.executable, str(BENCH / "run.py"), "--workload", a.workload, "--seed", str(s),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            sys.exit(f"seed {s}: run failed (exit {p.returncode})")
        res = json.loads(last)
        with open(out, "a") as f:
            f.write(json.dumps({"seed": s, **res}) + "\n")
        print(f"seed {s}: correct={res['correct']} failed={res['failed']}/{res['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
        else:
            q1 = q3 = vs[0]
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else (" ok" if spread < b / 3 else " WIDE" if spread > b else " >b/3")
        print(f"{k:28s} median {med:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  spread {spread:.3f}"
              + ("" if b is None else f"  bound {b}{flag}"))


if __name__ == "__main__":
    main()
