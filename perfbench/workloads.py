"""The three workloads. Each is one closed-loop client: it sends its next op
only after the previous one returns, runs a fixed warm-up, then a fixed
schedule whose length depends only on ``--seconds`` (never on how fast the
ops run), and checks the outputs against a model built without the package.

``tick_store``  pystore's core traffic on the driver: keep_last appends of
                500 one-second bars that overlap an item's last 50, and
                2-hour one-column window reads.
``dml_mor``     the merge-on-read DML round on a fresh lineitem item:
                write, upsert, dv delete/update/merge, dv upsert, filtered
                and aggregate reads, compact.
``query_mix``   twelve registry queries through the driver contract
                (``__spark_entry__.queries()``), checked against the
                DuckDB oracle; touches no storage layer.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import threading
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from harness import FAILED, Run
from tracing import dir_sizes

# -- tick_store ---------------------------------------------------------
N_ITEMS = 16
N_BARS = 20_000
APPEND_ROWS = 500
OVERLAP = 50
READ_SPAN_S = 7_200
TICK_WARM_ROUNDS = 4
TICK_WARM_PAIRS = 16
#: (append, read) pairs per second of ``--seconds``
TICK_PAIRS_PER_S = 25

# -- dml_mor ------------------------------------------------------------
DML_ORDERS = 5_000  # about 20k lineitem rows
DML_WARM_ROUNDS = 2
#: rounds per second of ``--seconds``
DML_ROUNDS_PER_S = 0.2
#: removes about 45% of the rows, so every file's mask passes
#: ``config.DV_FOLD_MASKED_FRACTION`` (0.30) and compact folds it
DELETE_FILTER = [[("l_returnflag", "==", "R")], [("l_discount", "<=", 0.01)]]
UPDATE_FILTER = [[("l_linestatus", "==", "O"), ("l_tax", "==", 0.0)]]
READ_FILTER = [("l_returnflag", "==", "A")]
SUM_COLS = ["l_quantity", "l_extendedprice", "l_tax"]
DML_OPS = ["write", "upsert", "delete_where", "update_where", "merge_into",
           "upsert_dv", "read_filtered", "read_agg", "compact"]

# -- query_mix ----------------------------------------------------------
#: ``sessionization`` is not in the mix: it tests the 30-minute gap on
#: whole seconds (``ts`` cast to long), so a gap in (1800 s, 1801 s) opens
#: no session and its result differs from the oracle on some seeds. The
#: trailing-window family it stood for is covered by
#: ``running_sum_per_user`` (same user_id partition, ordered by ts).
QUERIES = [
    "revenue_by_nation", "pricing_summary", "asof_join_orders_events",
    "running_sum_per_user", "upsert_keep_last", "minhash_signatures",
    "kneser_ney_logprob", "decontam_spans_stats", "bm25_retrieval_topk",
    "pq_residual_adc_topk", "semdedup_kept_docs", "image_content_stats",
]
QUERY_SF = 0.01
#: after one warm-up pass the next pass still ran ~13% faster than the
#: one before it, so timing starts after two
QM_WARM_PASSES = 2
#: passes over the twelve queries per second of ``--seconds``
QM_PASSES_PER_S = 0.1

TICK_OPS = ["append", "read"]
STORAGE_OPS = TICK_OPS + DML_OPS


def _n(seconds: int, per_s: float) -> int:
    return max(1, int(round(seconds * per_s)))


def _store(run: Run, name: str):
    from pystore_spark import config
    from pystore_spark.store import Store

    config.set_path(str(run.work / "stores"))
    return Store(name, spark=run.spark)


def _live_bytes(col, items: list[str]) -> int:
    """Bytes of the data files the items' manifests name as live."""
    from pystore_spark import manifest, utils

    total = 0
    for it in items:
        path = col._item_path(it)  # noqa: SLF001 — item directory
        man = utils.read_manifest(path)
        for f in manifest.live_files(path, man) if man else []:
            total += os.path.getsize(f)
    return total


def _storage_figures(run: Run, col, items: list[str], arrow_bytes: int) -> None:
    on_disk = sum(dir_sizes(col.path).values())
    amp = on_disk / arrow_bytes if arrow_bytes else 0.0
    run.figures["space_amp"] = (amp, "ratio", len(items))
    run.layer["storage.space_amp"] = amp
    run.layer["storage.retained_bytes"] = float(
        on_disk - _live_bytes(col, items)
    )


# ----------------------------------------------------------------------
def tick_store(run: Run) -> None:
    rng = np.random.default_rng(run.seed)
    col = _store(run, "ticks").collection("bars")
    warm_col = _store(run, "warm").collection("bars")
    names = [f"SYM{i:02d}" for i in range(N_ITEMS)]
    model: dict[str, pd.DataFrame] = {}
    for name in names:
        model[name] = datagen.bars(rng, N_BARS, datagen.BAR_START)
        col.write(name, model[name])
    warm_names = ["WARM0", "WARM1"]
    for name in warm_names:
        warm_col.write(name, datagen.bars(rng, N_BARS, datagen.BAR_START))

    last = {n: datagen.BAR_START + pd.Timedelta(seconds=N_BARS - 1)
            for n in names + warm_names}

    def batch(name: str) -> pd.DataFrame:
        start = last[name] - pd.Timedelta(seconds=OVERLAP - 1)
        df = datagen.bars(rng, APPEND_ROWS, start)
        last[name] = df.index[-1]
        return df

    def window() -> tuple[pd.Timestamp, pd.Timestamp]:
        # reads stay clear of the appended tail, so the expected rows
        # are the item's initial bars
        off = int(rng.integers(0, N_BARS - OVERLAP - READ_SPAN_S))
        lo = datagen.BAR_START + pd.Timedelta(seconds=off)
        return lo, lo + pd.Timedelta(seconds=READ_SPAN_S)

    def read(c, name, lo, hi):
        return c.item(
            name,
            filters=[("index", ">=", lo), ("index", "<", hi)],
            columns=["close"],
        ).to_pandas()

    for r in range(TICK_WARM_ROUNDS):
        plan = [(warm_names[k % 2], batch(warm_names[k % 2]), window())
                for k in range(TICK_WARM_PAIRS)]

        def warm_round(plan=plan):
            for name, df, (lo, hi) in plan:
                warm_col.append(name, df, duplicate_handling="keep_last")
                read(warm_col, name, lo, hi)

        run.warm(warm_round)

    n_pairs = _n(run.seconds, TICK_PAIRS_PER_S)
    order = rng.permutation(np.resize(np.arange(N_ITEMS), n_pairs))
    schedule = []
    for k in range(n_pairs):
        a = names[order[k]]
        b = names[order[(k + 7) % n_pairs]]
        df = batch(a)
        schedule.append((a, df, pa.Table.from_pandas(df).nbytes, b, window()))

    reads = []
    with run.timed():
        for a, df, nb, b, (lo, hi) in schedule:
            run.call(
                "append",
                lambda: col.append(a, df, duplicate_handling="keep_last"),
                user_bytes=nb,
            )
            out = run.call("read", lambda: read(col, b, lo, hi))
            if out is not FAILED:
                reads.append((b, lo, hi, out))

    # checks: every read against the initial bars, every item against a
    # pandas model of the same keep_last appends
    for b, lo, hi, out in reads:
        exp = model[b].loc[lo:hi - pd.Timedelta(seconds=1), "close"]
        if len(out) != len(exp) or not np.array_equal(
            out["close"].to_numpy(), exp.to_numpy()
        ):
            run.mismatch(f"read {b} [{lo}, {hi}): {len(out)} rows")
    for a, df, _nb, _b, _w in schedule:
        m = model[a]
        model[a] = pd.concat([m[~m.index.isin(df.index)], df]).sort_index()
    arrow_bytes = 0
    for name in names:
        got = col.item(name).to_pandas()
        exp = model[name]
        arrow_bytes += pa.Table.from_pandas(got).nbytes
        same = (
            len(got) == len(exp)
            and got.index.equals(exp.index)
            and all(np.array_equal(got[c].to_numpy(), exp[c].to_numpy())
                    for c in exp.columns)
        )
        if not same:
            run.mismatch(f"item {name}: {len(got)} rows, model {len(exp)}")
    run.latency_figure("append_p50_ms", "append")
    run.latency_figure("read_p50_ms", "read")
    _storage_figures(run, col, names, arrow_bytes)


# ----------------------------------------------------------------------
def _upsert(df: pd.DataFrame, rows: pd.DataFrame) -> pd.DataFrame:
    """keep_last on ``index``: incoming rows replace or add whole rows."""
    rows = rows.set_index("index")
    return pd.concat([df[~df.index.isin(rows.index)], rows])


def _figures(df: pd.DataFrame) -> tuple:
    """(rows, column sums) over the ``SUM_COLS`` the frame has."""
    return (len(df),) + tuple(float(df[c].sum()) for c in SUM_COLS
                              if c in df.columns)


def _close(a: tuple, b: tuple) -> bool:
    return len(a) == len(b) and a[0] == b[0] and all(
        math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6)
        for x, y in zip(a[1:], b[1:])
    )


def dml_mor(run: Run) -> None:
    from pyspark.sql import functions as F

    rng = np.random.default_rng(run.seed)
    li = datagen.with_unique_index(datagen.lineitem(rng, DML_ORDERS))
    src_path = run.work / "input" / "lineitem.parquet"
    src_path.parent.mkdir(parents=True)
    tbl = pa.Table.from_pandas(li, preserve_index=False)
    tbl = tbl.cast(pa.schema([
        pa.field(f.name, pa.timestamp("us")) if f.name == "index" else f
        for f in tbl.schema
    ]))
    pq.write_table(tbl, src_path)
    src = run.spark.read.parquet(str(src_path))

    def nbytes(df: pd.DataFrame) -> int:
        return pa.Table.from_pandas(df, preserve_index=False).nbytes

    def plan_round(k_up: int, k_merge: int, day: int) -> dict:
        """Spark inputs and pandas slices for one round."""
        up = li[li.l_orderkey % 10 == k_up].assign(
            l_quantity=lambda d: d.l_quantity + 1)
        mg = li[li.l_orderkey % 50 == k_merge].assign(
            l_extendedprice=lambda d: d.l_extendedprice + 1.5)
        # the dv upsert covers a 25-day index window (about 1% of the
        # rows), so it rewrites few buckets and compact still finds
        # masks to fold in the rest
        lo = datagen.SHIP_START + pd.Timedelta(days=day)
        hi = lo + pd.Timedelta(days=25)
        dv = li[(li["index"] >= lo) & (li["index"] < hi)].assign(
            l_tax=lambda d: d.l_tax + 0.01)
        in_window = (F.col("index") >= F.lit(str(lo)).cast("timestamp")) & (
            F.col("index") < F.lit(str(hi)).cast("timestamp"))
        return {
            "bytes": {"write": nbytes(li), "upsert": nbytes(up),
                      "merge_into": nbytes(mg), "upsert_dv": nbytes(dv)},
            "up": (src.filter(F.col("l_orderkey") % 10 == k_up)
                   .withColumn("l_quantity", F.col("l_quantity") + 1), up),
            # the merge source must be key-unique
            "merge": (src.filter(F.col("l_orderkey") % 50 == k_merge)
                      .withColumn("l_extendedprice",
                                  F.col("l_extendedprice") + 1.5)
                      .dropDuplicates(["index"]), mg),
            "dv": (src.filter(in_window)
                   .withColumn("l_tax", F.col("l_tax") + 0.01), dv),
        }

    def round_ops(col, name: str, p: dict, call) -> dict:
        out = {}
        size = p["bytes"]
        call("write", lambda: col.write(name, src), size["write"])
        call("upsert", lambda: col.append(
            name, p["up"][0], duplicate_handling="keep_last"),
            size["upsert"])
        call("delete_where", lambda: col.delete_where(
            name, DELETE_FILTER, mode="dv"), 0)
        call("update_where", lambda: col.update_where(
            name, UPDATE_FILTER, set={"l_quantity": "l_quantity + 1"},
            mode="dv"), 0)
        call("merge_into", lambda: col.merge_into(
            name, p["merge"][0], on="index", mode="dv"),
            size["merge_into"])
        call("upsert_dv", lambda: col.append(
            name, p["dv"][0], duplicate_handling="keep_last"),
            size["upsert_dv"])
        out["read_filtered"] = call("read_filtered", lambda: col.item(
            name, filters=READ_FILTER,
            columns=["l_quantity", "l_extendedprice"]).to_pandas(), 0)
        out["read_agg"] = call("read_agg", lambda: col.item(name).data.agg(
            F.count(F.lit(1)),
            *[F.sum(c) for c in SUM_COLS]).collect(), 0)
        out["compact"] = call("compact", lambda: col.compact(name), 0)
        return out

    def replay(p: dict) -> tuple[tuple, tuple]:
        """Pandas model of one round, independent of the package:
        (read_filtered figures, final figures)."""
        d = _upsert(li.set_index("index"), p["up"][1])
        d = d[~((d.l_returnflag == "R") | (d.l_discount <= 0.01))].copy()
        hit = (d.l_linestatus == "O") & (d.l_tax == 0.0)
        d.loc[hit, "l_quantity"] = d.loc[hit, "l_quantity"] + 1
        d = _upsert(d, p["merge"][1])
        d = _upsert(d, p["dv"][1])
        filt = d[d.l_returnflag == "A"][["l_quantity", "l_extendedprice"]]
        return _figures(filt), _figures(d)

    def keys() -> tuple[int, int, int]:
        return (int(rng.integers(10)), int(rng.integers(50)),
                int(rng.integers(0, datagen.SHIP_DAYS - 25)))

    warm_col = _store(run, "warm").collection("dml")
    for r in range(DML_WARM_ROUNDS):
        p = plan_round(*keys())
        run.warm(lambda r=r, p=p: round_ops(
            warm_col, f"li{r}", p, lambda _op, fn, _b: fn()))

    col = _store(run, "dml").collection("dml")
    rounds = [(f"li{r}", plan_round(*keys()))
              for r in range(_n(run.seconds, DML_ROUNDS_PER_S))]
    results = []
    run.rounds = len(rounds)
    with run.timed():
        for name, p in rounds:
            results.append(round_ops(col, name, p, run.call))

    folded = [out["compact"].get("buckets_compacted", 0)
              for out in results if out["compact"] is not FAILED]
    run.notes.append(f"compact buckets_compacted per round = {folded}")
    # checks: each round's reads against a pandas replay of the round,
    # and the last round's compacted item read back in full
    arrow_bytes = 0
    for (name, p), out in zip(rounds, results):
        exp_filtered, exp_all = replay(p)
        rf, ra = out["read_filtered"], out["read_agg"]
        if rf is not FAILED and not _close(
            _figures(rf), exp_filtered
        ):
            run.mismatch(f"read_filtered {name}: {len(rf)} rows")
        if ra is not FAILED and not _close(
            tuple(float(v) for v in ra[0]), tuple(float(v) for v in exp_all)
        ):
            run.mismatch(f"read_agg {name}: {tuple(ra[0])} vs {exp_all}")
        got = col.item(name).to_pandas()
        arrow_bytes += pa.Table.from_pandas(got).nbytes
        if name == rounds[-1][0] and not _close(
            _figures(got), exp_all
        ):
            run.mismatch(f"final state {name}: {len(got)} rows")
    _storage_figures(run, col, [n for n, _ in rounds], arrow_bytes)


# ----------------------------------------------------------------------
def canonical_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a query result, canonicalized like the
    driver's oracle gate: columns by name, datetimes as int64
    microseconds, floats rounded to 6 places, other objects as text,
    rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").round(6) + 0.0  # folds -0.0
        else:
            df[c] = s.astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.sha256("|".join(df.columns).encode())
    h.update(df.to_csv(index=False).encode())
    return h.hexdigest()


def _oracle_digests(sf_dir: Path, oracles: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 1")
    for f in sorted(sf_dir.glob("*.parquet")):
        con.execute(
            f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')"
        )
    return {q: canonical_digest(con.execute(oracles[q]).fetchdf())
            for q in QUERIES}


def query_mix(run: Run) -> None:
    import __spark_entry__ as entry

    rng = np.random.default_rng(run.seed)
    sf_dir = run.work / "sf"
    datagen.write_tables(datagen.star_schema(rng, QUERY_SF), sf_dir)
    registry = entry.queries()
    oracles = entry.oracle_sql()

    # the oracle runs on one DuckDB thread while the JVM warms up; it is
    # set-up work, joined before timing starts
    oracle: dict = {}

    def compute_oracle():
        try:
            oracle.update(_oracle_digests(sf_dir, oracles))
        except Exception as exc:  # noqa: BLE001 — reported as failed checks
            print(f"oracle failed: {exc!r}", file=sys.stderr)

    th = threading.Thread(target=compute_oracle, daemon=True)
    th.start()

    def query(q: str) -> pd.DataFrame:
        return registry[q](run.spark, str(sf_dir)).toPandas()

    for _ in range(QM_WARM_PASSES):
        run.warm(lambda: [query(q) for q in QUERIES])
    th.join()

    passes = [list(rng.permutation(QUERIES))
              for _ in range(_n(run.seconds, QM_PASSES_PER_S))]
    results = []
    run.rounds = len(passes)
    with run.timed():
        for order in passes:
            for q in order:
                out = run.call(q, lambda q=q: query(q))
                if out is not FAILED:
                    results.append((q, out))
    for q, out in results:
        if oracle.get(q) != canonical_digest(out):
            run.mismatch(f"{q}: result differs from the DuckDB oracle")


WORKLOADS = {
    "tick_store": tick_store,
    "dml_mor": dml_mor,
    "query_mix": query_mix,
}
