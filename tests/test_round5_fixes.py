"""Round-5 hardening: ADVICE/VERDICT items from round 4.

* order_col determinism warning on shuffled append input (merge.py)
* widen_parallelism surfaces a debug log instead of silence when the
  Catalyst size estimate is unavailable (functions/text.py)
* dedup_chunks passes zero-token documents through (pipeline.py)
"""

from __future__ import annotations

import logging

import pandas as pd
import pytest

from pystore_spark import merge, utils


# ---------------------------------------------------------------------------
# order_col determinism warning
# ---------------------------------------------------------------------------
def test_dedup_within_warns_on_shuffled_input(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], ["k", "v"]
    )
    shuffled = df.join(df.select("k").distinct(), "k")
    with pytest.warns(UserWarning, match="order_col"):
        merge.dedup_within(shuffled, ["k"], keep="last")


def test_dedup_within_no_warning_for_local_input(spark, recwarn):
    df = spark.createDataFrame([(1, "a"), (1, "b")], ["k", "v"])
    out = merge.dedup_within(df, ["k"], keep="last")
    assert out.count() == 1
    assert not [
        w for w in recwarn if "order_col" in str(w.message)
    ], "driver-originated input must not warn"


def test_merge_append_keep_last_warns_on_shuffled_incoming(spark):
    ex = spark.createDataFrame([(1, "old")], ["k", "v"])
    inc = spark.createDataFrame([(1, "a"), (1, "b")], ["k", "v"])
    agg_inc = inc.groupBy("k", "v").count().drop("count")
    with pytest.warns(UserWarning, match="order_col"):
        merge.merge_append(ex, agg_inc, ["k"], "keep_last")


def test_merge_append_order_col_suppresses_warning(spark, recwarn):
    ex = spark.createDataFrame([(1, "old", 0)], ["k", "v", "seq"])
    inc = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2)], ["k", "v", "seq"]
    )
    agg_inc = inc.groupBy("k", "v", "seq").count().drop("count")
    out = merge.merge_append(
        ex, agg_inc, ["k"], "keep_last", order_col="seq"
    )
    assert [r["v"] for r in out.collect()] == ["b"]
    assert not [w for w in recwarn if "order_col" in str(w.message)]


# ---------------------------------------------------------------------------
# widen_parallelism: broken estimate path surfaces a log line
# ---------------------------------------------------------------------------
def test_widen_parallelism_logs_when_estimate_missing(
    spark, monkeypatch, caplog
):
    from pystore_spark.functions import text as X
    from pystore_spark import partition

    df = spark.createDataFrame([(1,)], ["a"])
    monkeypatch.setattr(
        partition, "estimate_size_bytes", lambda _df: None
    )
    with caplog.at_level(
        logging.DEBUG, logger="pystore_spark.functions.text"
    ):
        out = X.widen_parallelism(df)
    assert out is df, "no estimate → input returned unchanged"
    assert any(
        "no Catalyst size estimate" in r.message for r in caplog.records
    ), "silent degradation — the miss must be logged"


# ---------------------------------------------------------------------------
# dedup_chunks: zero-token documents pass through
# ---------------------------------------------------------------------------
def test_dedup_chunks_keeps_tokenless_documents(spark):
    from pystore_spark.pipeline import CurationPipeline

    boiler = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        (1, boiler),
        (2, boiler),
        (3, "entirely unique words " + " ".join(f"tok{i}" for i in range(60))),
        (4, ""),            # zero tokens
        (5, "   \t  \n "),  # whitespace only → zero tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = (
        CurationPipeline(df, id_col="doc_id", text_col="text")
        .dedup_chunks(max_dup_ratio=0.5, chunk_tokens=3)
        .dataframe()
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert {4, 5} <= kept, "token-less docs must pass through unchanged"
    assert 3 in kept
    assert kept.isdisjoint(set()) or not ({1, 2} <= kept), (
        "boilerplate duplicates should be dropped"
    )


def test_dedup_merge_sink_creates_missing_item(spark, test_collection):
    """First micro-batch against a not-yet-written corpus creates it
    (code-review finding: used to raise ItemNotFoundError inside
    foreachBatch)."""
    from pystore_spark.streaming import dedup_merge_sink

    c = test_collection
    seed = pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["seed document about partition pruning and zonemaps "
                 "with plenty of shared words " * 2,
                 "another seed text on broadcast joins and exchanges "
                 "with plenty of shared words " * 2],
    })
    # index built from a frame — the corpus item itself doesn't exist
    c.build_dedup_index(
        "fresh_idx", spark.createDataFrame(seed),
    )
    sink = dedup_merge_sink(c, "fresh_corpus", "fresh_idx")
    b0 = spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 11],
        "text": [seed.loc[0, "text"],  # dup of an indexed doc
                 "wholly new content about adaptive query execution"],
    }))
    sink(b0, 0)
    assert c.item_exists("fresh_corpus")
    ids = {r["doc_id"]
           for r in c.item("fresh_corpus").data.select("doc_id").collect()}
    assert ids == {11}


# ---------------------------------------------------------------------------
# second review pass: sidecar merge, upsert folds, literal escapes
# ---------------------------------------------------------------------------
def test_merge_sidecar_dict_aware():
    base = {"_streaming_commits": {"a": 1, "b": 6}, "note": "x"}
    extra = {"_streaming_commits": {"a": 2}, "other": 1}
    got = utils.merge_sidecar(base, extra)
    assert got["_streaming_commits"] == {"a": 2, "b": 6}, (
        "a sink's counter update must not regress another sink's"
    )
    assert got["note"] == "x" and got["other"] == 1
    assert utils.merge_sidecar(base, None) == base


def test_two_streaming_sinks_counters_coexist(spark, test_collection):
    from pystore_spark.streaming import COMMITS_KEY, merge_sink

    c = test_collection
    batch = spark.createDataFrame(
        pd.DataFrame({
            "index": pd.date_range("2024-01-01", periods=3, freq="min"),
            "v": [1.0, 2.0, 3.0],
        })
    )
    sink_a = merge_sink(c, "multi", "keep_all", sink_key="a")
    sink_b = merge_sink(c, "multi", "keep_all", sink_key="b")
    sink_a(batch, 0)
    sink_b(batch, 5)
    sink_a(batch, 1)
    meta = c.get_item_metadata("multi", use_cache=False)
    assert meta[COMMITS_KEY] == {"a": 1, "b": 5}, (
        "each sink's counter must survive the other's commits"
    )


def test_rewrite_time_travel_handles_escaped_quotes():
    q = (
        r"SELECT * FROM t WHERE a = 'don\'t' AND k IN "
        "(SELECT k FROM ttl FOR VERSION AS OF 1) AND c = 'x'"
    )
    out, specs = utils.rewrite_time_travel(q, {"ttl", "t"})
    assert len(specs) == 1 and specs[0][0] == "ttl"
    assert "FOR VERSION AS OF" not in out
    assert r"'don\'t'" in out and "'x'" in out


def test_index_col_collision_preserved_not_crashed():
    """Unnamed non-positional index + an existing 'index' column:
    pandas resets it under 'level_0' (older pandas raised — the
    ValidationError guard covers that); either way the timestamps are
    PRESERVED as a column, never silently dropped."""
    from pystore_spark.pandas_compat import flatten_pandas

    pdf = pd.DataFrame(
        {"k": [1, 2], "index": ["a", "b"]},
        index=pd.date_range("2024-01-01", periods=2),
    )
    flat, meta = flatten_pandas(pdf, index_col="k")
    assert meta["index"]["columns"] == ["k"]
    dt_cols = [c for c in flat.columns
               if pd.api.types.is_datetime64_any_dtype(flat[c])]
    assert dt_cols, "the unnamed DatetimeIndex must survive as a column"


def test_sorted_input_gets_tie_warning_not_silence(spark):
    """A globally orderBy'd frame pins order only for distinct sort
    keys; duplicates tying on them still arrive in scheduling order —
    the narrower tie warning fires instead of silence (and instead of
    the alarmist 'arbitrary winner' one)."""
    df = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 1), (2, "c", 2)], ["k", "v", "ts"]
    )
    with pytest.warns(UserWarning, match="DISTINCT sort keys"):
        merge.dedup_within(df.orderBy("ts"), ["k"], keep="last")


def test_sort_within_partitions_gets_full_warning(spark):
    df = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2)], ["k", "v", "ts"]
    )
    with pytest.warns(UserWarning, match="arbitrary"):
        merge.dedup_within(
            df.repartition(2).sortWithinPartitions("ts"),
            ["k"], keep="last",
        )
