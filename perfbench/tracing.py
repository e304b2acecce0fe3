"""Outside-in tracing for the ``--trace 1`` run.

Nothing in the package is changed: the tracer swaps the public functions of
the inner modules for wrappers from this file while the timed phase runs,
and restores them afterwards. Each wrapped call records a span (name, start,
end, parent span, op id); spans stay in memory and are written out when the
run ends. A span's self time is its duration minus the time its child spans
cover.

Around each op the tracer also

* tags the op's Spark jobs with a job group and, after the op, reads the
  job, stage, task-time, shuffle and spill figures from the status tracker
  and the application status store (both work with the UI off);
* counts py4j round trips;
* diffs the store directory to find the bytes of files the op created.

All of that bookkeeping happens between ops, outside the op's own timing,
but inside the timed phase's wall time; the traced run's end-to-end figures
minus the untraced run's give the tracing overhead.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time
from collections import Counter, defaultdict
from pathlib import Path
from typing import Any, Callable

from stats import p50

#: (module, attribute, span name). A module function is replaced in every
#: loaded package module that holds it, so names imported with
#: ``from x import f`` are traced too.
FUNCTIONS = [
    ("pystore_spark.arrow_path", "try_write", "arrow_path.try_write"),
    ("pystore_spark.arrow_path", "try_append", "arrow_path.try_append"),
    ("pystore_spark.utils", "write_manifest", "manifest.commit"),
    ("pystore_spark.manifest", "prune_files", "manifest.prune_files"),
    ("pystore_spark.merge", "merge_append", "merge.merge_append"),
    ("pystore_spark.dv", "write_mask_dir", "dv.write_mask_dir"),
    ("pystore_spark.dv", "masked_scan", "dv.masked_scan"),
    ("pystore_spark.partition", "estimate_size_bytes",
     "partition.estimate_size_bytes"),
]
#: (module, class, method, span name)
METHODS = [
    ("pystore_spark.collection", "Collection", "item", "collection.item"),
    ("pystore_spark.collection", "Collection", "get_item_metadata",
     "collection.get_item_metadata"),
    ("pystore_spark.item", "Item", "to_pandas", "item.to_pandas"),
]
for _m in ("write", "append", "delete_where", "update_where", "merge_into",
           "compact"):
    METHODS.append(
        ("pystore_spark.collection", "Collection", _m, f"collection.{_m}")
    )

#: layers whose self time is reported
LAYERS = ("collection", "arrow_path", "manifest", "item", "merge", "dv",
          "partition")


def dir_sizes(root: Path) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # removed by a concurrent GC between walk and stat
    return out


class Tracer:
    def __init__(self, spark: Any, store_root: Path | None = None) -> None:
        self.spark = spark
        self.store_root = store_root
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.counts: Counter = Counter()
        self.durations: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._op: dict | None = None
        self._patches: list[tuple[Any, str, Any]] = []
        self._before: dict[str, int] = {}

    # -- installing wrappers --------------------------------------------
    def _span(self, name: str, orig: Callable, after=None) -> Callable:
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer._op is None:
                return orig(*args, **kwargs)
            sid = tracer._open(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._close(sid)
            if after is not None:
                after(args, out)
            return out

        return wrapper

    def _set(self, owner: Any, attr: str, value: Any) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        import importlib

        import py4j.clientserver

        after = {
            "arrow_path.try_write": self._after_arrow,
            "arrow_path.try_append": self._after_arrow,
            "manifest.prune_files": self._after_prune,
        }
        for mod, attr, name in FUNCTIONS:
            module = importlib.import_module(mod)
            orig = getattr(module, attr, None)
            if orig is None:
                print(f"trace: {mod}.{attr} not found", file=sys.stderr)
                continue
            wrapped = self._span(name, orig, after.get(name))
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("pystore_spark"):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            self._set(m, k, wrapped)
        for mod, cls_name, meth, name in METHODS:
            cls = getattr(importlib.import_module(mod), cls_name)
            orig = getattr(cls, meth, None)
            if orig is None:
                print(f"trace: {cls_name}.{meth} not found", file=sys.stderr)
                continue
            if meth == "get_item_metadata":
                self._set(cls, meth, self._metadata_wrapper(orig))
            else:
                self._set(cls, meth, self._span(name, orig))
        utils = importlib.import_module("pystore_spark.utils")
        self._set(utils, "read_metadata",
                  self._counter("utils.read_metadata", utils.read_metadata))
        conn = py4j.clientserver.ClientServerConnection
        self._set(conn, "send_command",
                  self._counter("py4j.calls", conn.send_command))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _counter(self, key: str, orig: Callable) -> Callable:
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer._op is not None:
                tracer.counts[key] += 1
            return orig(*args, **kwargs)

        return wrapper

    def _metadata_wrapper(self, orig: Callable) -> Callable:
        """Counts cache lookups and the ones that had to read the
        manifest (a ``utils.read_metadata`` call inside the lookup)."""
        inner = self._span("collection.get_item_metadata", orig)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer._op is None:
                return orig(*args, **kwargs)
            before = tracer.counts["utils.read_metadata"]
            out = inner(*args, **kwargs)
            tracer.counts["metadata.lookups"] += 1
            if tracer.counts["utils.read_metadata"] > before:
                tracer.counts["metadata.misses"] += 1
            return out

        return wrapper

    def _after_arrow(self, _args, out) -> None:
        if out is True:
            self.counts["arrow_path.handled"] += 1

    def _after_prune(self, args, out) -> None:
        self.counts["manifest.files_in"] += len(args[0])
        self.counts["manifest.files_kept"] += len(out)

    # -- spans -----------------------------------------------------------
    def _open(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "parent": self._stack[-1] if self._stack else None,
                "op": self._op["id"] if self._op else None,
                "name": name,
                "start": time.perf_counter(),
                "end": None,
            }
        )
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        self._stack.pop()
        self.counts[f"{span['name']}.calls"] += 1
        self.durations[span["name"]].append(
            (span["end"] - span["start"]) * 1000.0
        )

    # -- ops -------------------------------------------------------------
    def start(self) -> None:
        self.install()

    def stop(self) -> None:
        self.uninstall()
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def begin_op(self, op: str, user_bytes: int) -> None:
        oid = f"op{len(self.ops)}"
        self.spark.sparkContext.setJobGroup(oid, op, False)
        if self.store_root is not None:
            self._before = dir_sizes(self.store_root)
        self.ops.append({"id": oid, "op": op, "user_bytes": user_bytes})
        self._op = self.ops[-1]
        self._p4j0 = self.counts["py4j.calls"]
        self._commits0 = self.counts["manifest.commit.calls"]
        self._root = self._open(f"op.{op}")

    def end_op(self, ms: float, ok: bool) -> None:
        self._close(self._root)
        rec = self._op
        rec["py4j_calls"] = self.counts["py4j.calls"] - self._p4j0
        rec["commits"] = self.counts["manifest.commit.calls"] - self._commits0
        self._op = None
        rec["ms"] = ms
        rec["ok"] = ok
        rec.update(self._spark_figures(rec["id"]))
        if self.store_root is not None:
            after = dir_sizes(self.store_root)
            rec["created_bytes"] = sum(
                size for p, size in after.items()
                if self._before.get(p) != size
            )
        else:
            rec["created_bytes"] = 0

    def _spark_figures(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001 — listener bus / status store
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        stages = task_ms = shuffle = spill = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in list(info.stageIds) if info else []:
                try:
                    sd = store.lastStageAttempt(s)
                except Exception:  # noqa: BLE001 — evicted or never ran
                    continue
                if str(sd.status()) != "COMPLETE":
                    continue
                stages += 1
                task_ms += int(sd.executorRunTime())
                shuffle += int(sd.shuffleWriteBytes())
                spill += int(sd.memoryBytesSpilled()) + int(
                    sd.diskBytesSpilled()
                )
        return {
            "jobs": len(jobs),
            "stages": stages,
            "task_ms": task_ms,
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
        }

    # -- results ---------------------------------------------------------
    def self_ms(self) -> dict[str, float]:
        """Total self time per layer over the timed phase, in ms."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            layer = s["name"].split(".", 1)[0]
            out[layer] += (s["end"] - s["start"] - child[s["id"]]) * 1000.0
        return dict(out)

    def layer_metrics(self, storage_ops: list[str], queries: list[str]) -> dict:
        """Every per-layer figure, keyed by metric name; 0 where the
        workload never reached the layer."""
        n = max(1, len(self.ops))
        c = self.counts

        def med(name: str) -> float:
            return p50(self.durations.get(name, []))

        def ratio(num: float, den: float) -> float:
            return num / den if den else 0.0

        m: dict[str, float] = {}
        by_op: dict[str, list[dict]] = defaultdict(list)
        for rec in self.ops:
            if rec["ok"]:
                by_op[rec["op"]].append(rec)
        for op in storage_ops:
            m[f"collection.{op}.p50_ms"] = p50([r["ms"] for r in by_op[op]])
        for q in queries:
            m[f"queries.{q}.p50_ms"] = p50([r["ms"] for r in by_op[q]])
        for op in storage_ops + queries:
            recs = by_op[op]
            for k in ("jobs", "stages", "task_ms"):
                m[f"spark.{op}.{k}"] = (
                    float(statistics.median_low([r[k] for r in recs]))
                    if recs else 0.0
                )
        m["collection.item.ms"] = med("collection.item")
        m["collection.metadata_cache_hit_ratio"] = (
            1.0 - ratio(c["metadata.misses"], c["metadata.lookups"])
            if c["metadata.lookups"] else 0.0
        )
        m["arrow_path.try_write.ms"] = med("arrow_path.try_write")
        m["arrow_path.try_append.ms"] = med("arrow_path.try_append")
        m["arrow_path.handled_ratio"] = ratio(
            c["arrow_path.handled"],
            c["arrow_path.try_write.calls"] + c["arrow_path.try_append.calls"],
        )
        m["manifest.commit.ms"] = med("manifest.commit")
        m["manifest.commits_per_op"] = c["manifest.commit.calls"] / n
        m["manifest.prune_files.ms"] = med("manifest.prune_files")
        m["manifest.files_kept_ratio"] = ratio(
            c["manifest.files_kept"], c["manifest.files_in"]
        )
        m["item.to_pandas.ms"] = med("item.to_pandas")
        m["merge.merge_append.ms"] = med("merge.merge_append")
        m["dv.write_mask_dir.ms"] = med("dv.write_mask_dir")
        m["dv.masked_scan.calls"] = float(c["dv.masked_scan.calls"])
        m["partition.estimate_size_bytes.calls"] = float(
            c["partition.estimate_size_bytes.calls"]
        )
        m["partition.estimate_size_bytes.ms"] = med(
            "partition.estimate_size_bytes"
        )
        m["spark.shuffle_bytes"] = float(
            sum(r["shuffle_bytes"] for r in self.ops)
        )
        m["spark.spill_bytes"] = float(sum(r["spill_bytes"] for r in self.ops))
        m["py4j.calls_per_op"] = c["py4j.calls"] / n
        m["storage.write_amp"] = ratio(
            sum(r["created_bytes"] for r in self.ops),
            sum(r["user_bytes"] for r in self.ops),
        )
        selfs = self.self_ms()
        for layer in LAYERS:
            m[f"{layer}.self_ms"] = selfs.get(layer, 0.0) / n
        return m

    def dump(self, path: Path) -> None:
        import json

        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, "ops": self.ops}))

