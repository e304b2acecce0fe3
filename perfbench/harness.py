"""One benchmark process: op timing, failure accounting and the figures a
workload reports.

A workload calls :meth:`Run.warm` for each fixed warm-up round, then runs
its fixed schedule inside :meth:`Run.timed`, calling :meth:`Run.call` once
per op. An op that raises is counted as failed and the schedule carries on;
a failed op contributes no latency sample. Output checks that find a
mismatch call :meth:`Run.mismatch`, which also counts a failed op.
"""

from __future__ import annotations

import contextlib
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path
from typing import Any, Callable

from stats import p50, tail

FAILED = object()


class Run:
    def __init__(
        self,
        spark: Any,
        work: Path,
        seed: int,
        seconds: int,
        t_start: float,
        tracer: Any = None,
    ) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.t_start = t_start
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.log: list[tuple[str, float]] = []  # (op, ms) of completed ops
        self.attempted = 0
        self.failed = 0
        self.warmup_s: list[float] = []
        self.setup_s = 0.0
        #: timed rounds of a workload whose warm-up rounds are the same
        #: work; 0 when they are not comparable
        self.rounds = 0
        self.timed_s = 0.0
        #: free-form report lines
        self.notes: list[str] = []
        #: extra end-to-end figures: name -> (value, unit, samples)
        self.figures: dict[str, tuple[float, str, int]] = {}
        #: layer figures the workload computes itself (storage walks);
        #: 0 on a workload that keeps no store
        self.layer: dict[str, float] = {
            "storage.space_amp": 0.0,
            "storage.retained_bytes": 0.0,
        }

    # -- warm-up -------------------------------------------------------
    def warm(self, fn: Callable[[], Any]) -> None:
        t0 = time.perf_counter()
        fn()
        self.warmup_s.append(time.perf_counter() - t0)
        print(
            f"warmup round {len(self.warmup_s)}: "
            f"{self.warmup_s[-1]:.3f} s",
            file=sys.stderr,
            flush=True,
        )

    # -- timed phase ---------------------------------------------------
    @contextlib.contextmanager
    def timed(self):
        t0 = time.perf_counter()
        self.setup_s = t0 - self.t_start
        if self.tracer is not None:
            self.tracer.start()
        try:
            yield
        finally:
            self.timed_s = time.perf_counter() - t0
            if self.tracer is not None:
                self.tracer.stop()

    def call(self, op: str, fn: Callable[[], Any], user_bytes: int = 0) -> Any:
        """Run one op of the schedule; returns its result or FAILED."""
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.begin_op(op, user_bytes)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            out = FAILED
            traceback.print_exc(file=sys.stderr)
        ms = (time.perf_counter() - t0) * 1000.0
        if self.tracer is not None:
            self.tracer.end_op(ms, out is not FAILED)
        if out is FAILED:
            self.failed += 1
        else:
            self.samples[op].append(ms)
            self.log.append((op, ms))
        return out

    def mismatch(self, what: str) -> None:
        self.failed += 1
        self.notes.append(f"check failed: {what}")

    # -- figures -------------------------------------------------------
    def latency_figure(self, name: str, op: str) -> None:
        vals = self.samples.get(op, [])
        self.figures[name] = (p50(vals), "ms", len(vals))

    def drift_ratio(self) -> float | None:
        """Mean latency of the last third of the timed phase over the
        first third, each op divided by its type's median first so the
        mix of op types cancels; only op types with two or more samples
        count. Well above 1 with a flat schedule means timing started
        before the warm-up plateau ended."""
        med = {op: p50(v) for op, v in self.samples.items() if len(v) > 1}
        norm = [ms / med[op] for op, ms in self.log if med.get(op)]
        if len(norm) < 3:
            return None
        k = max(1, len(norm) // 3)
        first, last = norm[:k], norm[-k:]
        return (sum(last) / len(last)) / (sum(first) / len(first))

    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        """``ops_per_s`` is the schedule's completed ops over the time
        they take at each op type's median latency, so one slow op (a
        GC pause, a noisy neighbour) moves it no more than any other
        sample; ``wall_ops_per_s`` is the same count over the timed
        wall time, reported alongside."""
        done = sum(len(v) for v in self.samples.values())
        busy_s = sum(len(v) * p50(v) for v in self.samples.values()) / 1000.0
        out = {
            "setup_s": (self.setup_s, "s", 1),
            "ops_per_s": (done / busy_s if busy_s > 0 else 0.0, "1/s", done),
            "wall_ops_per_s": (
                done / self.timed_s if self.timed_s > 0 else 0.0, "1/s", done
            ),
        }
        out.update(self.figures)
        return out

    def tails(self) -> dict[str, tuple[float, float, int]]:
        """op -> (percentile, value ms, samples) where the sample allows."""
        out = {}
        for op, vals in sorted(self.samples.items()):
            t = tail(vals)
            if t is not None:
                out[op] = (t[0], t[1], len(vals))
        return out
