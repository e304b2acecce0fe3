"""pystore_spark end-to-end benchmark.

    python3 perfbench/run.py --workload tick_store --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One workload per process (see ``workloads.py``): start the package's Spark
session, build the seeded inputs, run a fixed warm-up, time a fixed
schedule, check every output, stop the JVM. Human-readable lines (warm-up
rounds, every metric with its unit and sample count, tails, failures,
environment stamp) go to standard output; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the
``end_to_end`` metrics of ``BENCHMARK.json`` (``--trace 0``) or its
``per_layer`` metrics (``--trace 1``, a separate run with the same seed and
schedule whose spans are written to ``.perfbench_out/``).

``--workload all`` runs every workload untraced and traced, each in its own
process, and prints both plus the tracing overhead.

Everything the run writes stays under ``.perfbench_work/`` and
``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench_out"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOAD_NAMES = [w["name"] for w in SPEC["workloads"]]
#: environment fields two runs must share to be compared
STAMP_KEYS = ("nproc", "spark_graft_cpus", "driver_memory", "python",
              "pyspark", "pyarrow", "pandas", "duckdb")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def set_environment(work: Path) -> None:
    """Session settings and scratch locations, all inside ``work``."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # a fixed-size heap (initial = max): heap growth during the run
    # otherwise stretches the warm-up and moves the peak RSS
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        f'--driver-java-options "-Xms{mem} -XX:-UsePerfData '
        f'-Djava.io.tmpdir={work / "tmp"}"',
        "pyspark-shell",
    ])


def environment_stamp(seed: int) -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    head = "unknown"
    git = ROOT / ".git"
    try:
        ref = (git / "HEAD").read_text().strip()
        if ref.startswith("ref: "):
            ref = (git / ref[5:]).read_text().strip()
        head = ref
    except OSError:
        pass  # not a git checkout
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "duckdb": duckdb.__version__,
        "seed": seed,
        "git_head": head,
    }


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in kids:
        while Path(f"/proc/{pid}").exists():
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
                break
            time.sleep(0.05)


def peak_rss_mb(jvm_pid: int) -> float:
    """Kernel high-water marks of this process and the JVM."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    for line in Path(f"/proc/{jvm_pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    return (own_kb + jvm_kb) / 1024.0


def run_one(args: argparse.Namespace) -> int:
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    try:
        import pystore_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import harness
    import workloads
    from stats import p50

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    set_environment(work)
    stamp = environment_stamp(args.seed)

    from pystore_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())  # noqa: SLF001
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark, work / "stores")
        run = harness.Run(spark, work, args.seed, args.seconds, T_START,
                          tracer)
        workloads.WORKLOADS[args.workload](run)
        run.figures["peak_rss_mb"] = (peak_rss_mb(jvm_pid), "MB", 1)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = run.end_to_end()
    layer = {}
    if tracer is not None:
        layer = tracer.layer_metrics(workloads.STORAGE_OPS, workloads.QUERIES)
        layer.update(run.layer)
        tracer.dump(OUT / f"spans-{args.workload}-seed{args.seed}.json")

    w = args.workload
    print(f"stamp {json.dumps(stamp, sort_keys=True)}")
    for i, s in enumerate(run.warmup_s, 1):
        print(f"warmup {w} round {i} = {s:.3f} s")
    drift = run.drift_ratio()
    print(f"drift {w} last_third/first_third = "
          + ("n/a (one sample per op type)" if drift is None
             else f"{drift:.4f}"))
    if run.rounds and run.warmup_s:
        print(f"plateau {w} timed_round/last_warmup_round = "
              f"{run.timed_s / run.rounds / run.warmup_s[-1]:.4f}")
    for name, (value, unit, n) in e2e.items():
        print(f"metric {w} {name} = {value:.6g} {unit} (n={n})")
    for op, vals in sorted(run.samples.items()):
        print(f"op {w} {op}.p50_ms = {p50(vals):.6g} ms "
              f"(n={len(vals)})")
    for op, (q, value, n) in run.tails().items():
        print(f"tail {w} {op}.p{q:g}_ms = {value:.6g} ms (n={n})")
    for name in sorted(layer):
        print(f"layer {w} {name} = {layer[name]:.6g}")
    if tracer is not None:
        for name, ms in sorted(tracer.self_ms().items()):
            print(f"self_time {w} {name} = {ms:.3f} ms total")
    for note in run.notes:
        print(f"note {w} {note}")
    print(f"ops {w} failed_ops/attempted_ops = {run.failed}/{run.attempted}")

    section = "per_layer" if args.trace else "end_to_end"
    values = {**{k: v for k, (v, _u, _n) in e2e.items()}, **layer}
    metrics = {}
    for m in SPEC[section]:
        if m["name"] not in values:
            print(f"metric {m['name']} was not measured", file=sys.stderr)
            return 3
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    OUT.mkdir(exist_ok=True)
    (OUT / f"result-{w}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({"stamp": stamp, "end_to_end": values, "result": result,
                    "units": {k: u for k, (_v, u, _n) in e2e.items()},
                    "warmup_s": run.warmup_s, "log": run.log})
    )
    print(json.dumps(result))
    return 0


def run_all(args: argparse.Namespace) -> int:
    """Every workload, untraced then traced, each in its own process."""
    combined: dict = {"correct": True, "attempted": 0, "failed": 0,
                      "metrics": {}}
    untraced: dict = {}
    for w in WORKLOAD_NAMES:
        for trace_flag in (0, 1):
            cmd = [sys.executable, str(Path(__file__).resolve()),
                   "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace_flag)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            for line in lines[:-1]:
                print(line)
            if proc.returncode != 0 or not lines:
                print(f"{w} trace={trace_flag} exited {proc.returncode}",
                      file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            doc = json.loads((OUT / f"result-{w}-seed{args.seed}-trace"
                              f"{trace_flag}.json").read_text())
            combined["correct"] &= res["correct"]
            combined["attempted"] += res["attempted"]
            combined["failed"] += res["failed"]
            for k, v in res["metrics"].items():
                combined["metrics"][f"{w}.{k}"] = v
            if trace_flag == 0:
                untraced = doc["end_to_end"]
            else:
                for k, units in doc["units"].items():
                    if k in untraced:
                        print(f"overhead {w} {k} = "
                              f"{doc['end_to_end'][k] - untraced[k]:+.6g} "
                              f"{units} (traced - untraced)")
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
