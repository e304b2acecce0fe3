"""Append/upsert semantics — the four duplicate_handling strategies
(reference spec: tests/test_append.py:53-163)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pystore_spark.exceptions import (
    DataIntegrityError,
    ItemNotFoundError,
    ValidationError,
)


def _ts_frame(start, n, value_offset=0.0, name="value"):
    idx = pd.date_range(start, periods=n, freq="D")
    return pd.DataFrame(
        {name: np.arange(n, dtype="float64") + value_offset}, index=idx
    )


def test_append_missing_item_raises(test_collection, sample_data):
    with pytest.raises(ItemNotFoundError):
        test_collection.append("missing", sample_data)


def test_append_no_overlap(test_collection):
    a = _ts_frame("2024-01-01", 10)
    b = _ts_frame("2024-01-11", 10)
    test_collection.write("it", a)
    test_collection.append("it", b)
    out = test_collection.item("it").to_pandas()
    assert len(out) == 20
    assert out.index.is_monotonic_increasing


def test_append_keep_last_default(test_collection):
    a = _ts_frame("2024-01-01", 10)           # values 0..9
    b = _ts_frame("2024-01-06", 10, 100.0)    # overlap 5 days, values 100..
    test_collection.write("it", a)
    test_collection.append("it", b)  # default keep_last: incoming wins
    out = test_collection.item("it").to_pandas()
    assert len(out) == 15
    assert out.loc[pd.Timestamp("2024-01-06"), "value"] == 100.0
    assert out.loc[pd.Timestamp("2024-01-10"), "value"] == 104.0
    assert out.loc[pd.Timestamp("2024-01-05"), "value"] == 4.0


def test_append_keep_first(test_collection):
    a = _ts_frame("2024-01-01", 10)
    b = _ts_frame("2024-01-06", 10, 100.0)
    test_collection.write("it", a)
    test_collection.append("it", b, duplicate_handling="keep_first")
    out = test_collection.item("it").to_pandas()
    assert len(out) == 15
    assert out.loc[pd.Timestamp("2024-01-06"), "value"] == 5.0  # existing wins
    assert out.loc[pd.Timestamp("2024-01-11"), "value"] == 105.0


def test_append_keep_all(test_collection):
    a = _ts_frame("2024-01-01", 10)
    b = _ts_frame("2024-01-06", 10, 100.0)
    test_collection.write("it", a)
    test_collection.append("it", b, duplicate_handling="keep_all")
    out = test_collection.item("it").to_pandas()
    assert len(out) == 20
    assert out.index.duplicated().sum() == 5


def test_append_error_strategy(test_collection):
    a = _ts_frame("2024-01-01", 10)
    b = _ts_frame("2024-01-06", 10, 100.0)
    test_collection.write("it", a)
    with pytest.raises(DataIntegrityError):
        test_collection.append("it", b, duplicate_handling="error")
    # item unchanged
    assert len(test_collection.item("it").to_pandas()) == 10


def test_append_empty_is_noop(test_collection):
    a = _ts_frame("2024-01-01", 10)
    test_collection.write("it", a)
    empty = _ts_frame("2024-01-01", 0)
    with pytest.warns(UserWarning):
        test_collection.append("it", empty)
    assert len(test_collection.item("it").to_pandas()) == 10


def test_append_schema_mismatch_raises(test_collection):
    a = _ts_frame("2024-01-01", 10)
    test_collection.write("it", a)
    bad = _ts_frame("2024-02-01", 5, name="other")
    with pytest.raises(ValidationError):
        test_collection.append("it", bad)


def test_append_schema_validation_off(test_collection):
    a = _ts_frame("2024-01-01", 10)
    test_collection.write("it", a)
    bad = _ts_frame("2024-02-01", 5, name="other")
    test_collection.append("it", bad, validate_schema=False)
    out = test_collection.item("it").to_pandas()
    assert len(out) == 15
    assert {"value", "other"} <= set(out.columns)


def test_append_preserves_metadata(test_collection):
    a = _ts_frame("2024-01-01", 10)
    test_collection.write("it", a, metadata={"symbol": "X"})
    test_collection.append("it", _ts_frame("2024-02-01", 5))
    assert test_collection.item("it").metadata["symbol"] == "X"


def test_append_out_of_order_keeps_sorted(test_collection):
    test_collection.write("it", _ts_frame("2024-02-01", 5))
    test_collection.append("it", _ts_frame("2024-01-01", 5))
    out = test_collection.item("it").to_pandas()
    assert out.index.is_monotonic_increasing
    assert len(out) == 10


def test_sequential_appends(test_collection):
    test_collection.write("it", _ts_frame("2024-01-01", 5))
    for k in range(1, 4):
        test_collection.append(
            "it", _ts_frame(f"2024-01-{1 + 5 * k:02d}", 5)
        )
    out = test_collection.item("it").to_pandas()
    assert len(out) == 20
    assert out.index.is_monotonic_increasing


def test_append_nan_identical_rows(test_collection):
    # reference issue #69: NaN-bearing rows with same index are
    # considered duplicates by key, not by value
    idx = pd.DatetimeIndex(["2024-01-01", "2024-01-02"])
    a = pd.DataFrame({"value": [1.0, np.nan]}, index=idx)
    test_collection.write("it", a)
    test_collection.append("it", a, duplicate_handling="keep_last")
    out = test_collection.item("it").to_pandas()
    assert len(out) == 2


def test_append_intra_batch_duplicates_keep_last(test_collection):
    test_collection.write("it", _ts_frame("2024-01-01", 3))
    dup_idx = pd.DatetimeIndex(
        ["2024-01-10", "2024-01-10", "2024-01-11"]
    )
    b = pd.DataFrame({"value": [1.0, 2.0, 3.0]}, index=dup_idx)
    test_collection.append("it", b, duplicate_handling="keep_last")
    out = test_collection.item("it").to_pandas()
    assert out.loc[pd.Timestamp("2024-01-10"), "value"] == 2.0
    assert len(out) == 5


def test_append_stream(test_collection):
    def chunks():
        for day in range(1, 6):
            yield _ts_frame(f"2024-01-{day:02d}", 1, float(day))

    total = test_collection.append_stream("stream_it", chunks())
    assert total == 5
    out = test_collection.item("stream_it").to_pandas()
    assert len(out) == 5
    assert out.index.is_monotonic_increasing


def test_write_batch_and_read_batch(test_collection):
    data = {f"b{i}": _ts_frame("2024-01-01", 5, float(i)) for i in range(3)}
    res = test_collection.write_batch(data)
    assert all(res.values())
    out = test_collection.read_batch(list(data))
    assert set(out) == set(data)
    assert out["b1"]["value"].iloc[0] == 1.0
    missing = test_collection.read_batch(["b0", "nope"])
    assert missing["nope"] is None


def test_append_epochdate_item(test_collection):
    a = _ts_frame("2024-01-01", 5)
    test_collection.write("ep", a, epochdate=True)
    b = _ts_frame("2024-01-04", 5, 100.0)  # 2-day overlap
    test_collection.append("ep", b, epochdate=True)
    out = test_collection.item("ep").to_pandas()
    assert len(out) == 8
    assert isinstance(out.index, pd.DatetimeIndex)
    assert out.loc[pd.Timestamp("2024-01-04"), "value"] == 100.0


def test_user_column_named_ord_input_still_raises(test_collection):
    """The reserved merge ordinal (_ord_input) is schema-exempt ONLY
    when order_col names it (the dedup-ingest stamp, which merge
    strips). A user column that merely shares the name must still
    raise ValidationError — never silently widen the stored schema."""
    import pandas as pd
    import pytest

    from pystore_spark.exceptions import ValidationError

    c = test_collection
    idx = pd.date_range("2024-01-01", periods=4, freq="D")
    c.write("g", pd.DataFrame({"v": [1.0, 2, 3, 4]}, index=idx))
    bad = pd.DataFrame(
        {"v": [5.0], "_ord_input": [1]},
        index=pd.DatetimeIndex([idx[-1] + pd.Timedelta(days=1)]),
    )
    with pytest.raises(ValidationError, match="_ord_input"):
        c.append("g", bad)


@pytest.fixture()
def spark_path_only(monkeypatch):
    """Force every append onto the Spark path (no Arrow driver merge)."""
    from pystore_spark import config

    monkeypatch.setattr(config, "DRIVER_PATH_MAX_BYTES", 0)


def test_schema_evolution_append_retries_lost_commit(
    test_collection, spark_path_only
):
    """An evolving append that loses the manifest CAS to a concurrent
    append redoes the whole evolution pass against the fresh state:
    the concurrent row AND the new column both survive."""
    c = test_collection
    idx = pd.date_range("2024-01-01", periods=4, freq="D")
    c.write("evo", pd.DataFrame({"v": [1.0, 2.0, 3.0, 4.0]}, index=idx))
    c.enable_schema_evolution("evo")
    other = pd.Timestamp("2024-02-01")
    mine = pd.Timestamp("2024-03-01")

    orig = c._write_df
    fired = {}

    def hooked(df, path, plan):
        # first staging write of THIS append: land a concurrent append
        if "x" not in fired:
            fired["x"] = True
            c.append("evo", pd.DataFrame({"v": [9.0]}, index=[other]))
        return orig(df, path, plan)

    c._write_df = hooked
    try:
        c.append(
            "evo",
            pd.DataFrame({"v": [5.0], "extra": ["new"]}, index=[mine]),
        )
    finally:
        c._write_df = orig
    got = c.item("evo").to_pandas()
    assert set(got.index) == set(idx) | {other, mine}
    assert got.loc[other, "v"] == 9.0
    assert got.loc[mine, "extra"] == "new"
    assert got["extra"].isna().sum() == 5


def test_enable_schema_evolution_keeps_concurrent_append(
    test_collection, monkeypatch
):
    """enable_schema_evolution is a metadata-only commit through the
    manifest CAS: an append landing between its manifest read and its
    install forces a retry against the fresh file list, so the
    appended row stays live instead of being dropped by a pointer
    computed from the stale one."""
    from pystore_spark import utils

    c = test_collection
    idx = pd.date_range("2024-01-01", periods=4, freq="D")
    c.write("evo", pd.DataFrame({"v": [1.0, 2.0, 3.0, 4.0]}, index=idx))
    other = pd.Timestamp("2024-02-01")

    orig = utils.write_manifest
    fired = {}

    def hooked(*args, **kwargs):
        # first manifest install of THIS call: land a concurrent append
        if "x" not in fired:
            fired["x"] = True
            c.append("evo", pd.DataFrame({"v": [9.0]}, index=[other]))
        return orig(*args, **kwargs)

    monkeypatch.setattr(utils, "write_manifest", hooked)
    c.enable_schema_evolution("evo")
    monkeypatch.setattr(utils, "write_manifest", orig)
    assert fired, "premise: the hook must land the concurrent append"
    got = c.item("evo").to_pandas()
    assert set(got.index) == set(idx) | {other}
    assert got.loc[other, "v"] == 9.0
    meta = c.get_item_metadata("evo", use_cache=False)
    assert meta["_schema_evolution"]["enabled"] is True


def _count_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` launches from this thread."""
    import uuid

    sc = spark.sparkContext
    group = f"append-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_spark_append_job_budget(spark, test_collection, spark_path_only):
    """One keep_last Spark-path append launches a fixed number of
    jobs: on a time-layout item that carries a dv mask (bucket scope,
    merge, bucket swap) and on a size-layout item (merge, re-planned
    whole-item rewrite)."""
    c = test_collection
    idx = pd.date_range("2024-01-01", periods=60, freq="D")
    c.write("t", pd.DataFrame({"v": np.arange(60.0)}, index=idx), freq="M")
    c.delete_where("t", [("v", "<", 3.0)], mode="dv")
    assert c.item("t")._manifest.get("dv")
    t_new = _ts_frame("2024-02-25", 10, 100.0, name="v")
    n_time = _count_jobs(
        spark, lambda: c.append("t", t_new, duplicate_handling="keep_last")
    )

    flat = pd.DataFrame({"k": range(20), "v": np.arange(20.0)})
    c.write("s", flat, index_col="k")
    assert c.item("s")._plan.kind == "size"
    s_new = pd.DataFrame({"k": range(15, 25), "v": np.arange(10.0) + 100})
    n_size = _count_jobs(
        spark,
        lambda: c.append("s", s_new, duplicate_handling="keep_last"),
    )

    assert len(c.item("t").to_pandas()) == 57 + 5
    assert len(c.item("s").to_pandas()) == 25
    assert (n_time, n_size) == (8, 3)


def test_whole_item_append_detects_concurrent_commit(test_collection):
    """The size-layout (whole-item rewrite) Spark append path carries
    the observed-state guard too: a commit landing between this
    append's read and its commit triggers a retry that re-merges
    against fresh state — no rows vanish (code-review finding on the
    third append path)."""
    from pystore_spark import config

    c = test_collection
    docs = pd.DataFrame({"k": range(10), "v": [f"v{i}" for i in range(10)]})
    c.write("flat", docs, index_col="k")

    orig = c._write_df
    fired = {}

    def hooked(df, path, plan):
        # first staging write of THIS append: land a concurrent append
        if "x" not in fired:
            fired["x"] = True
            c.append("flat", pd.DataFrame({"k": [100], "v": ["other"]}))
        return orig(df, path, plan)

    old = config.DRIVER_PATH_MAX_BYTES
    config.DRIVER_PATH_MAX_BYTES = 0  # force the Spark path
    try:
        c._write_df = hooked
        c.append("flat", pd.DataFrame({"k": [200], "v": ["mine"]}))
    finally:
        c._write_df = orig
        config.DRIVER_PATH_MAX_BYTES = old
    got = c.item("flat").to_pandas()
    assert set(got.index) == set(range(10)) | {100, 200}, (
        "the concurrent append's row must survive this append's commit"
    )
