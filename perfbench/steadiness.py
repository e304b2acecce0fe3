"""Steadiness report: how much the end-to-end metrics move between runs.

    python3 perfbench/steadiness.py --runs 10 --sets 2
    python3 perfbench/steadiness.py --runs 5 --sets 1 --workloads query_mix

Runs ``run.py`` untraced ``--sets`` times ``--runs`` times per workload,
each run with its own seed, workloads interleaved so that a change in host
load reaches all of them alike. For each workload and end-to-end metric it
prints, per set, the median and quartiles (``statistics.quantiles(n=4)``)
and the spread (q3 - q1) / median, then the set-to-set change of the
median in the metric's worse direction. ``BENCHMARK.json`` bounds are
sized from this report: a spread should stay under a third of its bound,
and the set-to-set change under the bound.

Runs whose environment stamps differ (core count, Spark cores, driver
memory, library versions) are refused rather than compared.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

from stats import quartiles

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
from run import OUT, SPEC, STAMP_KEYS, WORKLOAD_NAMES  # noqa: E402


def one_run(workload: str, seed: int, seconds: int) -> tuple[dict, dict, float]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    doc = json.loads(
        (OUT / f"result-{workload}-seed{seed}-trace0.json").read_text()
    )
    return json.loads(lines[-1]), doc["stamp"], wall


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(WORKLOAD_NAMES))
    args = ap.parse_args(argv)
    names = args.workloads.split(",")
    bounds = {m["name"]: m for m in SPEC["end_to_end"]}

    # values[workload][set][metric] -> list
    values: dict = {w: [dict() for _ in range(args.sets)] for w in names}
    bad: dict = {w: 0 for w in names}
    env = None
    for s in range(args.sets):
        for i in range(args.runs):
            seed = args.first_seed + s * args.runs + i
            for w in names:
                res, stamp, wall = one_run(w, seed, args.seconds)
                this_env = {k: stamp.get(k) for k in STAMP_KEYS}
                if env is None:
                    env = this_env
                elif this_env != env:
                    raise SystemExit(
                        f"environment changed between runs: {env} vs "
                        f"{this_env}; refusing to compare"
                    )
                bad[w] += 0 if res["correct"] else 1
                for k, m in res["metrics"].items():
                    values[w][s].setdefault(k, []).append(m["value"])
                print(f"set {s + 1} run {i + 1} {w} seed {seed} "
                      f"({wall:.1f} s wall, correct={res['correct']}): "
                      + " ".join(f"{k}={m['value']:.6g}"
                                 for k, m in res["metrics"].items()),
                      flush=True)

    print(f"stamp {json.dumps(env, sort_keys=True)}")
    summary: dict = {}
    for w in names:
        print(f"\n{w}: {bad[w]} incorrect runs")
        for k in sorted(values[w][0]):
            b = bounds[k]
            meds = []
            for s in range(args.sets):
                q1, med, q3 = quartiles(values[w][s][k])
                spread = (q3 - q1) / med if med else float("inf")
                meds.append(med)
                flag = "  WIDE" if spread > b["bound"] / 3 else ""
                print(f"  {k:12s} set {s + 1}: median {med:.6g} "
                      f"q1 {q1:.6g} q3 {q3:.6g} spread {spread:.4f} "
                      f"(bound {b['bound']}){flag}")
                summary[f"{w}.{k}.set{s + 1}.spread"] = spread
            for s in range(1, args.sets):
                worse = (meds[s] - meds[0]) / meds[0]
                if b["better"] == "higher":
                    worse = -worse
                flag = "  OVER" if worse > b["bound"] else ""
                print(f"  {k:12s} set {s + 1} vs set 1: {worse:+.4f} worse"
                      f"{flag}")
                summary[f"{w}.{k}.set{s + 1}.worse"] = worse
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
