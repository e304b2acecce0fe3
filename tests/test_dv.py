"""Deletion vectors — merge-on-read row deletes (pystore_spark/dv.py,
``Collection.delete_where(mode="dv")``) and every consumer that must
honor the mask: Item reads, n_rows, time travel, compaction
materialization, diff(), changes(), and the native
``format("pystore")`` source (batch, append stream, cdc stream).

Beyond-reference (Delta-DV-shaped): the reference engine has no
row-level delete at all (pystore/collection.py holds only item- and
snapshot-level deletion)."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pystore_spark import dv as dvm
from pystore_spark import utils


def _frame(n, start="2023-01-01", freq="min"):
    return pd.DataFrame(
        {
            "v": np.arange(n, dtype="float64"),
            "w": np.arange(n, dtype="float64") * 2.0,
        },
        index=pd.date_range(start, periods=n, freq=freq),
    )


def test_dv_delete_masks_rows_without_moving_files(test_collection):
    c = test_collection
    c.write("d", _frame(90_000))  # time layout, monthly buckets
    item_path = c._item_path("d")
    man0 = utils.read_manifest(item_path)

    rep = c.delete_where(
        "d",
        [[("v", ">=", 100.0), ("v", "<", 300.0)]],
        mode="dv",
    )
    assert rep["n_deleted"] == 200
    assert rep["files_masked"] >= 1
    assert rep["dv_ref"].startswith("_dv/")

    man1 = utils.read_manifest(item_path)
    # merge-on-read: the data files never moved
    assert man1["files"] == man0["files"]
    assert dvm.dv_total(man1) == 200

    it = c.item("d")
    assert it.n_rows() == 90_000 - 200  # footer counts minus dv map
    got = it.data.filter("v >= 50 and v < 350").count()
    assert got == (350 - 50) - 200
    assert it.data.count() == 90_000 - 200


def test_dv_masks_only_grow_union_semantics(test_collection):
    c = test_collection
    c.write("d", _frame(20_000))
    c.delete_where("d", [[("v", "<", 100.0)]], mode="dv")
    rep2 = c.delete_where(
        "d", [[("v", "<", 150.0)]], mode="dv"
    )
    # second delete counts only NEW matches (masked rows invisible)
    assert rep2["n_deleted"] == 50
    man = utils.read_manifest(c._item_path("d"))
    assert dvm.dv_total(man) == 150
    assert c.item("d").data.filter("v < 150").count() == 0
    assert c.item("d").n_rows() == 20_000 - 150


def test_dv_time_travel_sees_predelete_rows(test_collection):
    c = test_collection
    c.write("d", _frame(5_000))
    v0 = utils.read_manifest(c._item_path("d"))["version"]
    c.delete_where("d", [[("v", "<", 10.0)]], mode="dv")
    old = c.item("d", version=v0)
    assert old.data.count() == 5_000
    assert c.item("d").data.count() == 4_990


def test_dv_rewrite_materializes_mask(test_collection):
    """Any rewrite of a masked file (here: a bucket-merge append into
    the masked bucket) reads through the dv-masked scan, so the
    replacement file is born clean and write_manifest prunes the
    departed file's dv entry — the mask's lifetime is bounded by the
    next rewrite, exactly Delta's DV contract."""
    c = test_collection
    c.write("d", _frame(90_000))
    c.delete_where("d", [[("v", "<", 500.0)]], mode="dv")
    c.append(
        "d",
        _frame(5, start="2023-01-25").assign(v=-1.0),
        duplicate_handling="keep_all",
    )
    man = utils.read_manifest(c._item_path("d"))
    assert not dvm.dv_map(man)  # mask gone from metadata...
    it = c.item("d")
    n = 90_000 - 500 + 5
    assert it.data.count() == n  # ...because it's in the bytes
    assert it.data.filter("v >= 0 and v < 500").count() == 0
    assert it.n_rows() == n


def test_dv_delete_everything_refused(test_collection):
    c = test_collection
    c.write("d", _frame(100))
    with pytest.raises(Exception, match="every row"):
        c.delete_where("d", [[("v", ">=", 0.0)]], mode="dv")


def test_dv_diff_shows_masked_rows_as_removed(test_collection):
    c = test_collection
    c.write("d", _frame(5_000))
    v0 = utils.read_manifest(c._item_path("d"))["version"]
    c.delete_where(
        "d", [[("v", ">=", 7.0), ("v", "<", 12.0)]], mode="dv"
    )
    d = c.diff("d", from_version=v0)
    pdf = d.toPandas()
    # dv-only commit: the five masked rows are the entire diff
    assert sorted(pdf["v"]) == [7.0, 8.0, 9.0, 10.0, 11.0]
    assert set(pdf["_change"]) == {"delete"}


def test_dv_changes_emits_deletes_for_masked_rows(test_collection):
    c = test_collection
    c.write("d", _frame(5_000))
    v0 = utils.read_manifest(c._item_path("d"))["version"]
    c.delete_where("d", [[("v", "<", 3.0)]], mode="dv")
    ch = c.changes("d", since=v0).toPandas()
    by_type = ch.groupby("_change_type")["v"].apply(sorted).to_dict()
    assert by_type.get("delete") == [0.0, 1.0, 2.0]
    assert "insert" not in by_type


def test_dv_changes_append_plus_mask_in_one_window(test_collection):
    """A file appended then partially dv-deleted inside the window:
    only its VISIBLE rows are inserts on the additive fast path."""
    c = test_collection
    c.write("d", _frame(5_000), freq="D")
    v0 = utils.read_manifest(c._item_path("d"))["version"]
    c.append(
        "d",
        _frame(10, start="2023-06-01"),
        duplicate_handling="keep_all",
    )
    # mask rows of the appended file ONLY — carried files' dv entries
    # stay identical, so the window is still additive
    c.delete_where(
        "d",
        [
            [
                ("index", ">=", pd.Timestamp("2023-06-01")),
                ("v", "<", 4.0),
            ]
        ],
        mode="dv",
    )
    ch = c.changes("d", since=v0).toPandas()
    ins = ch[ch["_change_type"] == "insert"]
    assert len(ch) == len(ins) == 6  # 10 appended - 4 masked
    assert sorted(ins["v"]) == [4.0, 5.0, 6.0, 7.0, 8.0, 9.0]


def test_dv_datasource_batch_excludes_masked_rows(
    test_collection, spark
):
    from pystore_spark.datasource import register, source_options

    register(spark)
    c = test_collection
    c.write("d", _frame(5_000))
    c.delete_where("d", [[("v", "<", 25.0)]], mode="dv")
    d = (
        spark.read.format("pystore")
        .options(**source_options(c, "d"))
        .load()
    )
    assert d.count() == 4_975
    assert d.filter("v < 25").count() == 0
    # filters still serve results correctly through the masked path
    assert d.filter("v >= 25 and v < 30").count() == 5


def test_dv_datasource_append_stream_raises_on_dv_drift(
    test_collection, spark, tmp_path
):
    from pystore_spark.datasource import register, source_options

    register(spark)
    c = test_collection
    c.write("d", _frame(100))
    q = (
        spark.readStream.format("pystore")
        .options(**source_options(c, "d"))
        .load()
        .writeStream.format("memory")
        .queryName("dv_snk")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        c.delete_where("d", [[("v", "<", 2.0)]], mode="dv")
        with pytest.raises(Exception, match="deletion-vector|cdc"):
            q.processAllAvailable()
            q.awaitTermination(5)
    finally:
        q.stop()


def test_dv_datasource_cdc_streams_dv_deletes(
    test_collection, spark, tmp_path
):
    """cdc mode: a dv-only commit streams ONLY the newly-masked rows
    as deletes (no delete+insert churn of untouched carried rows) and
    the keyed replay reconverges to the live item."""
    from pystore_spark.datasource import register, source_options

    register(spark)
    c = test_collection
    c.write("d", _frame(200), freq="D")
    q = (
        spark.readStream.format("pystore")
        .options(**source_options(c, "d"))
        .option("mode", "cdc")
        .load()
        .writeStream.format("memory")
        .queryName("dv_cdc")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        c.delete_where("d", [[("v", "<", 5.0)]], mode="dv")
        q.processAllAvailable()
        c.delete_where("d", [[("v", "<", 8.0)]], mode="dv")
        c.append(
            "d",
            _frame(10, start="2023-06-01"),
            duplicate_handling="keep_all",
        )
        q.processAllAvailable()
        snap = spark.sql(
            "SELECT _change_type, v FROM dv_cdc"
        ).toPandas()
        dels = sorted(
            snap[snap["_change_type"] == "delete"]["v"]
        )
        # exactly the masked positions, each deleted once — the
        # second delete emitted only the DELTA (5,6,7)
        assert dels == [float(i) for i in range(8)]
        net = Counter()
        for _, r in snap.iterrows():
            net[r["v"]] += 1 if r["_change_type"] == "insert" else -1
        live = Counter(
            r["v"]
            for r in c.item("d").data.select("v").collect()
        )
        assert live == Counter(
            {v: n for v, n in net.items() if n > 0}
        )
    finally:
        q.stop()


def test_dv_datasource_cdc_removed_file_deletes_skip_masked(
    test_collection, spark, tmp_path
):
    """A compaction after a dv delete: the removed files' delete rows
    exclude positions already masked (deleted in an earlier window),
    so replay never double-deletes; the replacement files' inserts
    are the materialized (mask-free) rows."""
    from pystore_spark.datasource import register, source_options

    register(spark)
    c = test_collection
    c.write("d", _frame(200))
    q = (
        spark.readStream.format("pystore")
        .options(**source_options(c, "d"))
        .option("mode", "cdc")
        .load()
        .writeStream.format("memory")
        .queryName("dv_cdc2")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        c.delete_where("d", [[("v", "<", 5.0)]], mode="dv")
        q.processAllAvailable()
        c.compact("d")  # rewrite: materializes the mask
        q.processAllAvailable()
        snap = spark.sql(
            "SELECT _change_type, v FROM dv_cdc2"
        ).toPandas()
        # masked rows deleted exactly once (by the dv window, not
        # again by the compaction's removed-file deletes)
        masked = snap[snap["v"] < 5.0]
        assert (
            masked.groupby("v")["_change_type"]
            .apply(lambda s: (s == "delete").sum())
            .eq(1)
            .all()
        )
        net = Counter()
        for _, r in snap.iterrows():
            net[r["v"]] += 1 if r["_change_type"] == "insert" else -1
        live = Counter(
            r["v"]
            for r in c.item("d").data.select("v").collect()
        )
        assert live == Counter(
            {v: n for v, n in net.items() if n > 0}
        )
    finally:
        q.stop()


def test_gc_never_reclaims_a_live_mask(test_collection):
    """REGRESSION: gc_item's orphan sweep knows data files from the
    manifest's file list, but a dv mask parquet is named only by the
    manifest's dv MAP — before the fix, any mask older than
    orphan_grace was deleted as an orphan by the next append's
    recover_item sweep, silently breaking every masked read."""
    from pystore_spark import manifest as mf

    c = test_collection
    c.write("d", _frame(90_000))
    c.delete_where("d", [[("v", "<", 100.0)]], mode="dv")
    removed = mf.gc_item(c.path, "d", retention=0.0, orphan_grace=0.0)
    man = utils.read_manifest(c._item_path("d"))
    assert dvm.dv_total(man) == 100  # the mask survived the sweep
    assert c.item("d").data.count() == 90_000 - 100
    assert removed == 0 or c.item("d").data.count() == 90_000 - 100


def test_gc_reclaims_superseded_masks_on_the_retention_clock(
    test_collection,
):
    """A re-masked file points at a NEW union dv dir; the superseded
    dir is reclaimed once past retention, and the intermediate
    version object that referenced it dies with it (the same
    lifetime rule as stale data files)."""
    from pathlib import Path

    from pystore_spark import manifest as mf

    c = test_collection
    c.write("d", _frame(90_000))
    c.delete_where("d", [[("v", "<", 100.0)]], mode="dv")
    item_path = Path(c._item_path("d"))
    ref1 = dvm.dv_refs(utils.read_manifest(item_path)).pop()
    v_mid = c.item("d").version
    c.delete_where("d", [[("v", "<", 200.0)]], mode="dv")
    ref2s = dvm.dv_refs(utils.read_manifest(item_path))
    assert ref1 not in ref2s  # union mask lives in a new dir

    # inside retention: superseded mask survives, old version readable
    mf.gc_item(c.path, "d", retention=3600.0, orphan_grace=0.0)
    assert (item_path / ref1).exists()
    assert c.item("d", version=v_mid).data.count() == 90_000 - 100

    # past retention: reclaimed, and the referencing version with it
    mf.gc_item(c.path, "d", retention=0.0, orphan_grace=0.0)
    assert not (item_path / ref1).exists()
    assert all((item_path / r).exists() for r in ref2s)
    assert c.item("d").data.count() == 90_000 - 200
    assert v_mid not in utils.list_versions(item_path)


def test_gc_keeps_masks_pinned_by_snapshots(test_collection):
    """A snapshot manifest carries its version's dv map; its masks
    must survive retention-0 GC exactly like snapshot data files."""
    from pathlib import Path

    from pystore_spark import manifest as mf

    c = test_collection
    c.write("d", _frame(90_000))
    c.delete_where("d", [[("v", "<", 100.0)]], mode="dv")
    item_path = Path(c._item_path("d"))
    ref1 = dvm.dv_refs(utils.read_manifest(item_path)).pop()
    c.create_snapshot("pin")
    c.delete_where("d", [[("v", "<", 200.0)]], mode="dv")

    mf.gc_item(c.path, "d", retention=0.0, orphan_grace=0.0)
    assert (item_path / ref1).exists()  # pinned by the snapshot
    snap = c.item("d", snapshot="pin")
    assert snap.data.count() == 90_000 - 100


# ---------------------------------------------------------------------
# update_where — row-level UPDATE (merge-on-read and copy-on-write)
# ---------------------------------------------------------------------


def test_update_where_dv_masks_and_appends_in_one_commit(
    test_collection,
):
    c = test_collection
    c.write("d", _frame(90_000))
    item_path = c._item_path("d")
    man0 = utils.read_manifest(item_path)
    v0 = int(man0["version"])

    rep = c.update_where(
        "d",
        [[("v", ">=", 100.0), ("v", "<", 300.0)]],
        set={"w": "w + 1000"},
        mode="dv",
    )
    assert rep["n_updated"] == 200
    assert rep["files_masked"] >= 1
    assert rep["files_added"] >= 1
    assert rep["dv_ref"].startswith("_dv/")

    man1 = utils.read_manifest(item_path)
    # ONE commit: mask + appended copies land in the same version
    assert int(man1["version"]) == v0 + 1
    assert set(man0["files"]) <= set(man1["files"])  # originals kept
    assert dvm.dv_total(man1) == 200

    df = c.item("d").data.toPandas().sort_values("v")
    assert len(df) == 90_000  # update never changes the row count
    upd = df[(df["v"] >= 100) & (df["v"] < 300)]
    assert (upd["w"] == upd["v"] * 2.0 + 1000).all()
    rest = df[~((df["v"] >= 100) & (df["v"] < 300))]
    assert (rest["w"] == rest["v"] * 2.0).all()


def test_update_where_rewrite_matches_dv(test_collection):
    c = test_collection
    c.write("a", _frame(30_000))
    c.write("b", _frame(30_000))
    pred = [[("v", ">=", 50.0), ("v", "<", 250.0)]]
    rep_dv = c.update_where("a", pred, set={"w": "v - 1"}, mode="dv")
    rep_rw = c.update_where(
        "b", pred, set={"w": "v - 1"}, mode="rewrite"
    )
    assert rep_dv["n_updated"] == rep_rw["n_updated"] == 200
    assert rep_rw["buckets_rewritten"]
    pa = c.item("a").data.toPandas().sort_values("v").reset_index(
        drop=True
    )
    pb = c.item("b").data.toPandas().sort_values("v").reset_index(
        drop=True
    )
    pd.testing.assert_frame_equal(
        pa[["v", "w"]], pb[["v", "w"]]
    )
    # rewrite mode leaves no mask behind
    assert dvm.dv_total(utils.read_manifest(c._item_path("b"))) == 0


def test_update_where_assignments_see_the_old_row(test_collection):
    """SQL UPDATE semantics: every RHS evaluates against the
    pre-update row, so swapping two columns must actually swap."""
    c = test_collection
    c.write("d", _frame(1_000))
    # columns are v/w here: swap via expressions referencing each other
    c.update_where(
        "d", [[("v", "<", 10.0)]], set={"w": "v", "v": "w"},
        mode="dv",
    )
    df = c.item("d").data.toPandas()
    swapped = df[df["w"] < 10.0]  # old v<10 rows now carry w=old v
    assert len(swapped) == 10
    assert (swapped["v"] == swapped["w"] * 2.0).all()  # v = old w


def test_update_where_casts_to_stored_type(test_collection):
    """An int-typed expression assigned to a double column must not
    drift the stored schema."""
    c = test_collection
    c.write("d", _frame(1_000))
    c.update_where("d", [[("v", "<", 5.0)]], set={"w": "-7"},
                   mode="dv")
    it = c.item("d")
    assert dict(it.data.dtypes)["w"] == "double"
    assert it.data.filter("w = -7.0").count() == 5


def test_update_where_guards(test_collection):
    c = test_collection
    c.write("d", _frame(1_000))
    with pytest.raises(ValueError, match="index/bucket"):
        c.update_where("d", [[("v", "<", 5.0)]], set={"index": "v"})
    with pytest.raises(ValueError, match="unknown columns"):
        c.update_where("d", [[("v", "<", 5.0)]], set={"nope": "1"})
    with pytest.raises(ValueError, match="non-empty predicate"):
        c.update_where("d", [], set={"w": "1"})
    with pytest.raises(ValueError, match="assignments"):
        c.update_where("d", [[("v", "<", 5.0)]], set={})
    # zero matches: clean no-op, no mask, no files
    man0 = utils.read_manifest(c._item_path("d"))
    rep = c.update_where(
        "d", [[("v", "<", -1.0)]], set={"w": "1"}, mode="dv"
    )
    assert rep == {"n_updated": 0, "files_masked": 0, "dv_ref": None,
                   "files_added": 0}
    assert utils.read_manifest(c._item_path("d")) == man0


def test_update_where_dv_then_compact_materializes(test_collection):
    c = test_collection
    c.write("d", _frame(30_000))
    c.update_where(
        "d", [[("v", "<", 100.0)]], set={"w": "w * 10"}, mode="dv"
    )
    c.compact("d")
    man = utils.read_manifest(c._item_path("d"))
    assert dvm.dv_total(man) == 0  # mask folded into rewritten files
    df = c.item("d").data.toPandas()
    assert len(df) == 30_000
    sub = df[df["v"] < 100]
    assert (sub["w"] == sub["v"] * 20.0).all()


def test_update_where_dv_time_travel_sees_both_versions(
    test_collection,
):
    c = test_collection
    c.write("d", _frame(30_000))
    v0 = c.item("d").version
    c.update_where(
        "d", [[("v", "<", 50.0)]], set={"w": "-1"}, mode="dv"
    )
    old = c.item("d", version=v0).data.filter("v < 50").toPandas()
    assert (old["w"] == old["v"] * 2.0).all()  # pre-update view
    new = c.item("d").data.filter("v < 50").toPandas()
    assert (new["w"] == -1.0).all()


def test_dv_delete_then_real_compaction_materializes(test_collection):
    """REGRESSION: compact() read selected buckets' files DIRECTLY
    (mask-blind) — a bucket holding both a masked file and a later
    append compacted to a clean file with every masked row
    resurrected, while the commit dropped the dv entry. The rewrite
    must read through the mask."""
    c = test_collection
    c.write("d", _frame(30_000))
    c.delete_where("d", [[("v", "<", 200.0)]], mode="dv")
    # the dv update appends its copies as a SECOND file in the masked
    # bucket (scope='add'), so compaction performs a real merge over
    # a bucket carrying masks from two commits
    c.update_where(
        "d", [[("v", ">=", 300.0), ("v", "<", 400.0)]],
        set={"w": "-5"}, mode="dv",
    )
    rep = c.compact("d", target_size_mb=256)
    assert rep["buckets_compacted"] >= 1
    man = utils.read_manifest(c._item_path("d"))
    assert dvm.dv_total(man) == 0
    it = c.item("d")
    assert it.data.count() == 30_000 - 200
    assert it.data.filter("v >= 0 and v < 200").count() == 0
    assert it.data.filter("w = -5.0").count() == 100
    assert it.data.filter(
        "v >= 300 and v < 400 and w <> -5.0"
    ).count() == 0


def test_dv_delete_retries_when_concurrent_mask_commit_lands(
    test_collection, monkeypatch,
):
    """The dv delete's CAS guard must also watch the dv MAP: a
    concurrent dv-only commit (file set unchanged) puts positions in
    ITS mask dir, and blindly repointing the entry would resurrect
    them. Injected interleaving: while delete A is between computing
    its matches and committing, delete B lands on the same file. A
    must retry and the final state must carry BOTH masks."""
    c = test_collection
    c.write("d", _frame(20_000))

    real_write_mask = dvm.write_mask_dir
    fired = {"done": False}

    def inject(spark, item_path, frame, npartitions=1):
        rel = real_write_mask(spark, item_path, frame, npartitions)
        if not fired["done"]:
            fired["done"] = True
            # a concurrent dv delete commits between A's compute and
            # A's CAS (this nested call uses the REAL write_mask_dir
            # via the flag above)
            c.delete_where(
                "d", [[("v", ">=", 500.0), ("v", "<", 600.0)]],
                mode="dv",
            )
        return rel

    monkeypatch.setattr(dvm, "write_mask_dir", inject)
    rep = c.delete_where("d", [[("v", "<", 100.0)]], mode="dv")
    assert rep["n_deleted"] == 100

    man = utils.read_manifest(c._item_path("d"))
    assert dvm.dv_total(man) == 200  # both deletes survived
    it = c.item("d")
    assert it.data.filter("v < 100").count() == 0
    assert it.data.filter("v >= 500 and v < 600").count() == 0
    assert it.data.count() == 20_000 - 200


# ---------------------------------------------------------------------
# merge_into mode="dv" — merge-on-read MERGE
# ---------------------------------------------------------------------


def _merge_frames(c):
    c.write("d", _frame(20_000))
    src = pd.DataFrame(
        {
            # keys 10..19 match (update), 30..34 match (delete),
            # -5..-1 are new (insert)
            "v": (
                [float(x) for x in range(10, 20)]
                + [float(x) for x in range(30, 35)]
                + [float(x) for x in range(-5, 0)]
            ),
            "w": [0.5] * 20,
            "tomb": [False] * 10 + [True] * 5 + [False] * 5,
        },
        index=pd.date_range("2024-06-01", periods=20, freq="min"),
    )
    return src


def test_merge_into_dv_matches_rewrite(test_collection):
    """The merge-on-read merge must be row-for-row identical to the
    copy-on-write merge, while moving ZERO pre-merge files."""
    c = test_collection
    src = _merge_frames(c)
    c.write("d2", _frame(20_000))
    kw = dict(
        on="v",
        when_matched={"w": "t.w + s.w"},
        when_matched_delete="s.tomb",
        when_not_matched="insert_all",
    )
    man0 = utils.read_manifest(c._item_path("d"))
    rep = c.merge_into("d", src, mode="dv", **kw)
    rep2 = c.merge_into("d2", src, mode="rewrite", **kw)
    assert rep == rep2
    assert rep["n_updated"] == 10
    assert rep["n_deleted"] == 5
    assert rep["n_inserted"] == 5

    man1 = utils.read_manifest(c._item_path("d"))
    # merge-on-read: every pre-merge file still live, mask = upd+del
    assert set(man0["files"]) <= set(man1["files"])
    assert dvm.dv_total(man1) == 15

    pa = (
        c.item("d").data.toPandas()
        .sort_values("v").reset_index(drop=True)
    )
    pb = (
        c.item("d2").data.toPandas()
        .sort_values("v").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(pa[["v", "w"]], pb[["v", "w"]])
    assert len(pa) == 20_000 - 5 + 5

    # keyed on the index: the time-scoped merge joins only the
    # source's buckets; both inserts open a bucket that has no file
    base = _frame(12_000)  # time layout, daily buckets
    c.write("e", base)
    c.write("e2", base)
    src_t = pd.DataFrame(
        {
            "v": [5.0, 6.0, 7.0, 3_000.0, 3_001.0, -1.0, -2.0],
            "w": [0.5] * 7,
            "tomb": [False, False, False, True, True, False, False],
        },
        index=base.index[[5, 6, 7, 3_000, 3_001]].append(
            pd.date_range("2023-03-01", periods=2, freq="min")
        ),
    )
    kw["on"] = "index"
    man0 = utils.read_manifest(c._item_path("e"))
    rep = c.merge_into("e", src_t, mode="dv", **kw)
    rep2 = c.merge_into("e2", src_t, mode="rewrite", **kw)
    assert rep == rep2 == {
        "n_updated": 3, "n_deleted": 2, "n_inserted": 2,
        "n_unchanged_matched": 0,
    }
    man1 = utils.read_manifest(c._item_path("e"))
    assert set(man0["files"]) <= set(man1["files"])
    assert dvm.dv_total(man1) == 5
    pa, pb = (
        c.item(n).data.toPandas().sort_values("v").reset_index(drop=True)
        for n in ("e", "e2")
    )
    pd.testing.assert_frame_equal(pa, pb)
    assert len(pa) == 12_000 - 2 + 2


def test_merge_into_dv_non_index_key_avoids_item_rewrite(
    test_collection,
):
    """The headline scale win: a merge on a NON-index key is a
    whole-item rewrite in mode='rewrite' but O(changed) in dv mode —
    asserted structurally via the file sets."""
    c = test_collection
    c.write("d", _frame(20_000))
    man0 = utils.read_manifest(c._item_path("d"))
    src = pd.DataFrame(
        {"v": [7.0, 11.0], "w": [1.0, 2.0]},
        index=pd.date_range("2024-01-01", periods=2, freq="min"),
    )
    rep = c.merge_into(
        "d", src, on="w",  # w is not the index
        when_matched={"v": "t.v + 100000"},
        when_not_matched=None,
        mode="dv",
    )
    assert rep["n_updated"] == 1  # only w=2.0 exists (w = v*2, v=1)
    man1 = utils.read_manifest(c._item_path("d"))
    assert set(man0["files"]) <= set(man1["files"])  # nothing rewrote
    it = c.item("d")
    assert it.data.filter("v = 100001.0").count() == 1
    assert it.data.count() == 20_000


def test_merge_into_dv_insert_only_and_delete_only(test_collection):
    c = test_collection
    c.write("d", _frame(1_000))
    # insert-only: no mask written at all
    ins = pd.DataFrame(
        {"v": [-1.0, -2.0], "w": [0.0, 0.0]},
        index=pd.date_range("2024-01-01", periods=2, freq="min"),
    )
    c.merge_into("d", ins, on="v", when_matched=None, mode="dv")
    man = utils.read_manifest(c._item_path("d"))
    assert dvm.dv_total(man) == 0
    assert c.item("d").data.count() == 1_002
    # delete-only: mask without appends
    tomb = pd.DataFrame(
        {"v": [-1.0, -2.0], "w": [0.0, 0.0]},
        index=pd.date_range("2024-01-01", periods=2, freq="min"),
    )
    rep = c.merge_into(
        "d", tomb, on="v", when_matched=None,
        when_matched_delete="true", when_not_matched=None, mode="dv",
    )
    assert rep["n_deleted"] == 2
    assert c.item("d").data.count() == 1_000
    assert c.item("d").data.filter("v < 0").count() == 0


def test_update_where_respects_check_constraints(test_collection):
    """update_where ADDS rows (the copies in dv mode, rewritten
    buckets in rewrite mode) — a contract-violating assignment must
    fail BEFORE anything commits, in both modes."""
    from pystore_spark.exceptions import DataIntegrityError

    c = test_collection
    c.write("d", _frame(1_000))
    c.add_constraint("d", "w_nonneg", "w >= 0")
    for mode in ("dv", "rewrite"):
        man0 = utils.read_manifest(c._item_path("d"))
        with pytest.raises(DataIntegrityError):
            c.update_where(
                "d", [[("v", "<", 5.0)]], set={"w": "-1"}, mode=mode
            )
        assert utils.read_manifest(c._item_path("d")) == man0
    # a passing assignment still goes through
    rep = c.update_where(
        "d", [[("v", "<", 5.0)]], set={"w": "w + 1"}, mode="dv"
    )
    assert rep["n_updated"] == 5


# ---------------------------------------------------------------------
# deletion vectors on BUCKETED items — the one row-delete that keeps
# the co-location invariant (no file moves)
# ---------------------------------------------------------------------


def _bucketed_pair(c):
    odf = pd.DataFrame(
        {"k": list(range(300)), "amt": [float(i) for i in range(300)]}
    )
    ldf = pd.DataFrame(
        {
            "k": [i // 3 for i in range(900)],
            "qty": [float(i % 50) for i in range(900)],
        }
    )
    c.write("ob", odf, bucket_by="k", n_buckets=4, index_col="k")
    c.write("lb", ldf, bucket_by="k", n_buckets=4, index_col="k")


def test_bucketed_dv_delete_masks_without_moving_files(
    test_collection,
):
    c = test_collection
    _bucketed_pair(c)
    man0 = utils.read_manifest(c._item_path("ob"))
    rep = c.delete_where("ob", [[("k", "<", 10)]], mode="dv")
    assert rep["n_deleted"] == 10
    man1 = utils.read_manifest(c._item_path("ob"))
    assert man1["files"] == man0["files"]  # co-location untouched
    it = c.item("ob")
    assert it.data.count() == 290
    assert it.data.filter("k < 10").count() == 0
    assert it.n_rows() == 290
    # rewrite mode stays guarded — it would break the invariant
    with pytest.raises(Exception, match="bucketed"):
        c.delete_where("ob", [[("k", "<", 20)]], mode="rewrite")


def test_bucketed_dv_join_stays_shuffle_free(test_collection):
    c = test_collection
    _bucketed_pair(c)
    c.delete_where("ob", [[("k", "<", 10)]], mode="dv")
    j = c.item("ob").data.join(c.item("lb").data, "k")
    plan = j._jdf.queryExecution().executedPlan().toString()
    # the mask joins via BroadcastExchange; the co-located join itself
    # must not regain a shuffle on either side
    assert "Exchange hashpartitioning" not in plan
    got = j.groupBy().sum("qty").collect()[0][0]
    # lines of deleted orders (k<10) survive on the line side — the
    # join drops them because the order row is masked
    exp = sum(float(i % 50) for i in range(900) if i // 3 >= 10)
    assert got == exp


def test_bucketed_dv_compaction_materializes_mask(test_collection):
    c = test_collection
    _bucketed_pair(c)
    c.delete_where("ob", [[("k", "<", 10)]], mode="dv")
    # append (pure file addition) then compact back to one file per
    # bucket — the bucketed rewrite must fold the mask into the bytes
    c.append(
        "ob",
        pd.DataFrame({"k": [500, 501], "amt": [1.0, 2.0]}),
        duplicate_handling="keep_all",
    )
    c.compact("ob")
    man = utils.read_manifest(c._item_path("ob"))
    assert dvm.dv_total(man) == 0
    it = c.item("ob")
    assert it.data.count() == 292
    assert it.data.filter("k < 10").count() == 0
    # still bucketed and exchange-free after the round trip
    j = it.data.join(c.item("lb").data, "k")
    assert (
        "Exchange hashpartitioning"
        not in j._jdf.queryExecution().executedPlan().toString()
    )


def test_bucketed_dv_time_travel(test_collection):
    c = test_collection
    _bucketed_pair(c)
    v0 = c.item("ob").version
    c.delete_where("ob", [[("k", "<", 10)]], mode="dv")
    assert c.item("ob", version=v0).data.count() == 300
    assert c.item("ob").data.count() == 290


# ---------------------------------------------------------------------
# driver-side Arrow fast path under masks
# ---------------------------------------------------------------------


def test_arrow_fast_path_honors_masks(test_collection):
    """to_pandas(engine='arrow') must equal the Spark read on a masked
    item — unmasked files stream through the dataset, masked files
    read positionally, filters apply after the mask."""
    c = test_collection
    c.write("d", _frame(90_000))
    c.delete_where(
        "d", [[("v", ">=", 100.0), ("v", "<", 300.0)]], mode="dv"
    )
    it = c.item("d")
    pa_df = it.to_pandas(engine="arrow")
    sp_df = it.to_pandas(engine="spark")
    assert len(pa_df) == len(sp_df) == 90_000 - 200
    pd.testing.assert_frame_equal(pa_df, sp_df)

    # filtered + projected read through the fast path
    itf = c.item("d", filters=[("v", "<", 500.0)], columns=["v"])
    got = itf.to_pandas(engine="arrow")
    assert sorted(got["v"]) == [
        float(x) for x in range(500) if not (100 <= x < 300)
    ]


def test_arrow_fast_path_pb_only_disjunct_on_masked_item(
    test_collection,
):
    """REGRESSION (round-8 ADVICE): a DNF disjunct consisting only of
    ``_pb`` terms used to be dropped entirely by the masked-file
    filter strip — NARROWING the OR and wrongly excluding rows the
    disjunct admits. _pb terms now resolve per-file against the
    file's bucket value, so the arrow read stays exactly equal to the
    Spark read."""
    c = test_collection
    c.write("d", _frame(90_000))  # monthly buckets 2023-01..2023-03
    c.delete_where(
        "d", [[("v", ">=", 100.0), ("v", "<", 300.0)]], mode="dv"
    )
    # bucket-only disjunct OR a value disjunct: admits all of January
    # (the MASKED file) plus v<10 everywhere
    flt = [[("_pb", "==", "2023-01")], [("v", ">=", 89_990.0)]]
    it = c.item("d", filters=flt)
    got = it.to_pandas(engine="arrow")
    sp = it.to_pandas(engine="spark")
    pd.testing.assert_frame_equal(got, sp)
    jan = 31 * 24 * 60
    assert len(got) == (jan - 200) + 10
    # all-false disjuncts for a masked file must SKIP it, not widen
    it2 = c.item(
        "d", filters=[[("_pb", "==", "2023-02"), ("v", "<", 50_000.0)]]
    )
    got2 = it2.to_pandas(engine="arrow")
    sp2 = it2.to_pandas(engine="spark")
    pd.testing.assert_frame_equal(got2, sp2)


def test_read_in_chunks_honors_masks(test_collection):
    c = test_collection
    c.write("d", _frame(5_000))
    c.delete_where("d", [[("v", "<", 100.0)]], mode="dv")
    chunks = list(c.read_in_chunks("d", chunk_size=1_000))
    assert sum(len(ch) for ch in chunks) == 4_900
    allv = pd.concat(chunks)["v"]
    assert allv.min() == 100.0


def test_arrow_fast_path_masked_update_roundtrip(test_collection):
    c = test_collection
    c.write("d", _frame(5_000))
    c.update_where(
        "d", [[("v", "<", 10.0)]], set={"w": "-3"}, mode="dv"
    )
    pa_df = c.item("d").to_pandas(engine="arrow")
    assert len(pa_df) == 5_000
    assert (pa_df.loc[pa_df["v"] < 10, "w"] == -3.0).all()


def test_arrow_fast_path_index_filter_on_masked_item(test_collection):
    """REGRESSION: an index-column filter on a time-layout masked item
    resolves to extra ``_pb`` pruning tuples; the positional file
    read has no hive partition column, so the post-mask filter must
    strip them instead of raising ArrowInvalid."""
    c = test_collection
    c.write("d", _frame(90_000))
    c.delete_where("d", [[("v", "<", 100.0)]], mode="dv")
    cut = pd.Timestamp("2023-01-02")
    it = c.item("d", filters=[("index", "<", cut)])
    got = it.to_pandas(engine="arrow")
    sp = it.to_pandas(engine="spark")
    pd.testing.assert_frame_equal(got, sp)
    assert len(got) == 24 * 60 - 100  # first day minus masked rows
    chunks = list(
        c.read_in_chunks(
            "d", chunk_size=500, filters=[("index", "<", cut)]
        )
    )
    assert sum(len(ch) for ch in chunks) == 24 * 60 - 100


def test_rewrite_conflicts_with_concurrent_dv_commit(
    test_collection, monkeypatch,
):
    """REGRESSION: a rewrite (compaction here) whose scan pre-dates a
    concurrent dv-only commit used to pass both the file-set guard
    (no files moved) and the etag CAS, then prune the dv entries with
    the replaced files — silently resurrecting the concurrent
    delete's rows. The commit must now conflict on the dv
    observed-state guard and the retry must preserve BOTH outcomes."""
    c = test_collection
    c.write("d", _frame(30_000))
    # second file in the bucket so compaction performs a real merge
    c.update_where(
        "d", [[("v", ">=", 100.0), ("v", "<", 200.0)]],
        set={"w": "-9"}, mode="dv",
    )

    real = c._write_df.__func__
    fired = {}

    def inject(self, df, path, plan):
        if not fired:
            fired["x"] = 1
            # a dv delete lands between compaction's scan and commit
            c.delete_where(
                "d", [[("v", ">=", 500.0), ("v", "<", 600.0)]],
                mode="dv",
            )
        real(self, df, path, plan)

    monkeypatch.setattr(
        type(c), "_write_df", inject, raising=True
    )
    rep = c.compact("d", target_size_mb=256)  # retries internally
    assert rep["buckets_compacted"] >= 1
    it = c.item("d")
    assert it.data.count() == 30_000 - 100  # the delete SURVIVED
    assert it.data.filter("v >= 500 and v < 600").count() == 0
    assert it.data.filter("w = -9.0").count() == 100  # update too
    # masks fully materialized by the (retried) compaction
    assert dvm.dv_total(utils.read_manifest(c._item_path("d"))) == 0


def test_dv_vacuum_long_chain_randomized(test_collection):
    """VERDICT r7 item 6: a long seeded chain of alternating dv
    deletes and whole-item rewrites, then vacuum at retention=0 —
    masks referenced by NO readable version must all be reclaimed,
    every still-readable version must read exactly its rows, and the
    live view must match the tracked survivor set throughout."""
    import random

    rng = random.Random(0xD5)
    c = test_collection
    n0 = 8_000
    c.write("d", _frame(n0))
    item_path = c._item_path("d")

    live = set(range(n0))  # surviving v values
    expected: dict[int, tuple[int, int]] = {}  # version -> (count, sum)

    def _record():
        man = utils.read_manifest(item_path)
        expected[int(man["version"])] = (len(live), sum(live))

    _record()
    for step in range(50):
        if rng.random() < 0.65 or step % 7 == 0:
            # dv delete of a random v-range, keeping the item nonempty
            a = rng.randrange(0, n0 - 200)
            b = a + rng.randrange(1, 400)
            sel = {v for v in live if a <= v < b}
            if sel == live:
                continue
            rep = c.delete_where(
                "d",
                [[("v", ">=", float(a)), ("v", "<", float(b))]],
                mode="dv",
            )
            assert rep["n_deleted"] == len(sel), (step, a, b)
            live -= sel
            if rep["n_deleted"]:
                _record()
        else:
            # whole-item rewrite: folds every mask into new files
            c.rebalance_partitions(
                "d", npartitions=rng.randrange(1, 4)
            )
            assert dvm.dv_total(utils.read_manifest(item_path)) == 0
            _record()

    assert len(expected) >= 40  # the chain really alternated
    c.vacuum("d", retention=0.0)

    # every still-readable version reads exactly its recorded rows
    readable = [
        h["version"] for h in c.history("d") if h["readable"]
    ]
    assert readable, "vacuum must never reclaim the live version"
    checked = 0
    for v in readable:
        if v not in expected:
            continue  # metadata-only commits share a recorded state
        it = c.item("d", version=v)
        got = it.data.agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        ).collect()[0]
        assert (got["n"], int(got["s"] or 0)) == expected[v], v
        checked += 1
    assert checked >= 1
    # current version reads the tracked survivor set
    cur = c.item("d")
    assert cur.data.count() == len(live)

    # masks referenced by NO readable version are gone; every mask
    # still on disk is referenced by a readable version manifest
    refs: set[str] = set()
    for v in readable:
        man_v = utils.read_version_manifest(item_path, v)
        if man_v is not None:
            refs |= dvm.dv_refs(man_v)
    from pathlib import Path

    on_disk = {
        f"_dv/{p.name}"
        for p in (Path(item_path) / "_dv").iterdir()
        if p.is_dir()
    } if (Path(item_path) / "_dv").exists() else set()
    assert on_disk <= refs, (
        f"unreferenced masks survived vacuum: {sorted(on_disk - refs)}"
    )
    # and the referenced ones still exist (readable versions stay whole)
    assert refs <= on_disk, (
        f"vacuum reclaimed masks a readable version needs: "
        f"{sorted(refs - on_disk)}"
    )


def test_compact_folds_heavy_masks(test_collection):
    """Mask-debt-aware compaction (VERDICT r7 item 2): a well-sized
    file whose dv positions exceed DV_FOLD_MASKED_FRACTION of its
    rows must be selected for rewrite by compact/maintain even though
    the small-file census wouldn't pick it — otherwise every read
    pays its anti-join over mostly-dead rows forever."""
    c = test_collection
    c.write("d", _frame(30_000))  # one monthly bucket, healthy layout
    # healthy unmasked item: compact is a no-op
    assert c.compact("d")["buckets_compacted"] == 0

    # below-threshold mask (10% < 30%): still a no-op, mask persists
    c.delete_where("d", [[("v", "<", 3_000.0)]], mode="dv")
    rep = c.compact("d")
    assert rep["buckets_compacted"] == 0
    assert dvm.dv_total(utils.read_manifest(c._item_path("d"))) == 3_000

    # repeated dv deletes push past the 30% fold threshold
    c.delete_where("d", [[("v", "<", 12_000.0)]], mode="dv")
    rep = c.compact("d")
    assert rep["buckets_compacted"] >= 1
    man = utils.read_manifest(c._item_path("d"))
    assert dvm.dv_total(man) == 0  # mask folded into the rewrite
    assert not dvm.dv_map(man)
    it = c.item("d")
    assert it.data.count() == 18_000
    assert it.data.filter("v < 12000").count() == 0


def test_maintain_folds_heavy_masks(test_collection):
    """The nightly maintain() pass triggers the same fold through its
    compact step, and the dv dir is tombstoned for GC afterwards."""
    c = test_collection
    c.write("d", _frame(20_000))
    for lo, hi in ((0.0, 4_000.0), (4_000.0, 8_000.0)):
        c.delete_where(
            "d", [[("v", ">=", lo), ("v", "<", hi)]], mode="dv"
        )
    rep = c.maintain("d")["d"]
    assert rep["compact"]["buckets_compacted"] >= 1
    man = utils.read_manifest(c._item_path("d"))
    assert dvm.dv_total(man) == 0
    assert c.item("d").data.count() == 12_000


def test_bucketed_compact_folds_heavy_masks(test_collection):
    """Bucket-preserving compaction must also fold mask debt: a
    one-file-per-bucket bucketed item (the size census' no-op state)
    with a heavy mask gets rewritten through the bucketed writer."""
    import pandas as pd

    c = test_collection
    pdf = pd.DataFrame(
        {
            "k": np.arange(2_000, dtype="int64"),
            "v": np.arange(2_000, dtype="float64"),
        },
        index=pd.date_range("2023-01-01", periods=2_000, freq="min"),
    )
    c.write("b", pdf, bucket_by="k", n_buckets=4)
    assert c.compact("b")["buckets_compacted"] == 0  # healthy
    c.delete_where("b", [[("v", "<", 1_200.0)]], mode="dv")  # 60%
    rep = c.compact("b")
    assert rep["buckets_compacted"] >= 1
    man = utils.read_manifest(c._item_path("b"))
    assert dvm.dv_total(man) == 0
    assert c.item("b").data.count() == 800


@pytest.mark.parametrize(
    "rewrite",
    ["rebalance", "optimize_dtypes", "migrate"],
)
def test_whole_item_rewrites_conflict_with_concurrent_dv(
    test_collection, monkeypatch, rewrite,
):
    """REGRESSION (round-8 ADVICE medium): rebalance_partitions,
    optimize_item_dtypes, and migrate_item_to_version committed via
    _atomic_write with no expect_dv — a dv delete landing between
    their scan and the manifest CAS was silently discarded (the
    rewrite's manifest prunes the dv map to its new files,
    resurrecting the concurrently-deleted rows). All three must now
    conflict on the dv observed-state guard and retry against fresh
    state, preserving the delete."""
    c = test_collection
    c.write("d", _frame(20_000))

    real = c._write_df.__func__
    fired = {}

    def inject(self, df, path, plan):
        if not fired:
            fired["x"] = 1
            c.delete_where(
                "d", [[("v", ">=", 500.0), ("v", "<", 600.0)]],
                mode="dv",
            )
        real(self, df, path, plan)

    monkeypatch.setattr(type(c), "_write_df", inject, raising=True)
    if rewrite == "rebalance":
        c.rebalance_partitions("d", npartitions=2)
    elif rewrite == "optimize_dtypes":
        rep = c.optimize_item_dtypes("d")
        assert rep  # v/w downcast to float32 → the rewrite happened
    else:
        c.migrate_item_to_version(
            "d", 2,
            migrations={(1, 2): lambda df: df.withColumn(
                "m", df["v"] * 0
            )},
        )
    assert fired  # the interleaved dv delete actually ran
    it = c.item("d")
    # the delete SURVIVED the rewrite (retry re-read the masked scan)
    assert it.data.count() == 20_000 - 100
    assert it.data.filter("v >= 500 and v < 600").count() == 0
    # and the retried rewrite materialized the mask into its files
    assert dvm.dv_total(utils.read_manifest(c._item_path("d"))) == 0


def test_superseded_mask_gets_retention_from_supersession(
    test_collection,
):
    """REGRESSION: dv dirs were aged by CREATION mtime, so a mask
    older than retention was reclaimed the instant it was superseded
    — zero grace for readers pinned on the just-superseded manifest.
    The clock must start when GC first observes the supersession."""
    import os
    import time as _time

    from pathlib import Path

    from pystore_spark import manifest as mf

    c = test_collection
    c.write("d", _frame(20_000))
    c.delete_where("d", [[("v", "<", 100.0)]], mode="dv")
    item_path = Path(c._item_path("d"))
    ref1 = dvm.dv_refs(utils.read_manifest(item_path)).pop()
    # make the mask dir look ancient (created long before retention)
    old = _time.time() - 10_000
    os.utime(item_path / ref1, (old, old))
    # supersede it
    c.delete_where("d", [[("v", "<", 200.0)]], mode="dv")

    # first GC pass with a nonzero retention: the dir must SURVIVE
    # (before the fix, age-from-creation 10000s >= 60s deleted it)
    mf.gc_item(c.path, "d", retention=60.0, orphan_grace=0.0)
    assert (item_path / ref1).exists()
    assert (item_path / ref1 / ".superseded").exists()

    # past retention from the OBSERVED supersession: reclaimed
    mark = item_path / ref1 / ".superseded"
    os.utime(mark, (old, old))
    mf.gc_item(c.path, "d", retention=60.0, orphan_grace=0.0)
    assert not (item_path / ref1).exists()
    # the live mask still serves reads
    assert c.item("d").data.count() == 20_000 - 200


def test_cdc_stream_rejects_mask_shrink_from_restore(
    test_collection, spark, tmp_path,
):
    """REGRESSION: restore() to a pre-delete version SHRINKS a carried
    file's mask; the cdc dv-delta (new - old positions) is then empty
    and the stream silently emitted nothing while the item
    resurrected rows. The planner must reject the window instead."""
    from pystore_spark.datasource import register, source_options

    register(spark)
    c = test_collection
    c.write("d", _frame(100))
    v0 = c.item("d").version
    q = (
        spark.readStream.format("pystore")
        .options(**source_options(c, "d"))
        .option("mode", "cdc")
        .load()
        .writeStream.format("memory")
        .queryName("dv_shrink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        c.delete_where("d", [[("v", "<", 5.0)]], mode="dv")
        q.processAllAvailable()
        c.restore("d", v0)  # resurrects the 5 masked rows
        with pytest.raises(Exception, match="SHRINK|shrank"):
            q.processAllAvailable()
            q.awaitTermination(5)
    finally:
        q.stop()


def test_bucketed_dv_update_masks_and_stays_colocated(
    test_collection,
):
    c = test_collection
    _bucketed_pair(c)
    man0 = utils.read_manifest(c._item_path("ob"))
    rep = c.update_where(
        "ob", [[("k", "<", 10)]], set={"amt": "amt + 1000"},
        mode="dv",
    )
    assert rep["n_updated"] == 10
    man1 = utils.read_manifest(c._item_path("ob"))
    assert set(man0["files"]) <= set(man1["files"])  # nothing moved
    it = c.item("ob")
    assert it.data.count() == 300
    got = {
        r["k"]: r["amt"]
        for r in it.data.filter("k < 10").collect()
    }
    assert got == {k: float(k) + 1000 for k in range(10)}
    # the copies carry bucket tags: co-located join stays shuffle-free
    j = it.data.join(c.item("lb").data, "k")
    assert (
        "Exchange hashpartitioning"
        not in j._jdf.queryExecution().executedPlan().toString()
    )
    # rewrite mode stays guarded
    with pytest.raises(Exception, match="bucketed"):
        c.update_where(
            "ob", [[("k", "<", 10)]], set={"amt": "0"},
            mode="rewrite",
        )


def test_bucketed_dv_merge_updates_deletes_inserts(test_collection):
    c = test_collection
    _bucketed_pair(c)
    src = pd.DataFrame(
        {
            "k": [5, 7, 1000],
            "amt": [-1.0, 0.0, -2.0],
            "tomb": [False, True, False],
        }
    )
    rep = c.merge_into(
        "ob", src, on="k",
        when_matched={"amt": "s.amt"},
        when_matched_delete="s.tomb",
        when_not_matched=None,  # never-seen k=1000 must not insert
        mode="dv",
    )
    assert rep["n_updated"] == 1 and rep["n_deleted"] == 1
    it = c.item("ob")
    assert it.data.count() == 299  # one deleted, none inserted
    assert it.data.filter("k = 5").collect()[0]["amt"] == -1.0
    assert it.data.filter("k = 7").count() == 0
    j = it.data.join(c.item("lb").data, "k")
    assert (
        "Exchange hashpartitioning"
        not in j._jdf.queryExecution().executedPlan().toString()
    )
    with pytest.raises(Exception, match="bucketed"):
        c.merge_into("ob", src, on="k", mode="rewrite")


# ---------------------------------------------------------------------
# derived state (matviews / rollups) must flip stale on dv commits
# ---------------------------------------------------------------------


def test_matview_goes_stale_on_dv_delete(test_collection):
    """REGRESSION: freshness pins recorded only the file list, so a
    dv-only delete left dependents 'fresh' serving deleted rows."""
    c = test_collection
    c.write("ev", _frame(5_000), freq="M")
    c.create_matview(
        "mv", "SELECT count(*) AS n, sum(v) AS total FROM ev"
    )
    assert c.matview_status("mv")["fresh"]
    c.delete_where("ev", [[("v", "<", 100.0)]], mode="dv")
    st = c.matview_status("mv")
    assert not st["fresh"] and "ev" in st["stale"]
    got = c.matview("mv").collect()[0]  # read-through refresh
    assert got["n"] == 4_900
    assert got["total"] == sum(float(x) for x in range(100, 5_000))
    assert c.matview_status("mv")["fresh"]


def test_ivm_falls_back_to_rebuild_after_dv_delete(test_collection):
    """'Aggregate the delta and fold' cannot express a delete: a dv
    commit on carried files must force the full rebuild, and the
    rebuilt values must exclude the masked rows."""
    c = test_collection
    c.write("ev", _frame(5_000), freq="M")
    c.create_matview(
        "mv",
        "SELECT w, count(*) AS n, sum(v) AS total FROM ev GROUP BY w",
        incremental={
            "keys": ["w"], "merge": {"n": "sum", "total": "sum"}
        },
    )
    # sanity: a pure append still folds incrementally (appended v
    # values offset clear of the delete predicate below)
    extra = _frame(10, start="2024-06-01")
    extra["v"] = extra["v"] + 1_000_000.0
    c.append("ev", extra, duplicate_handling="keep_all")
    assert c.refresh_matview("mv")["mode"] == "incremental"
    c.delete_where("ev", [[("v", "<", 10.0)]], mode="dv")
    rep = c.refresh_matview("mv")
    assert rep["mode"] == "rebuilt"
    pdf = c.matview("mv").toPandas()
    assert pdf["n"].sum() == 4_990 + 10
    assert pdf["total"].sum() == sum(
        float(x) for x in range(10, 5_000)
    ) + sum(1_000_000.0 + x for x in range(10))


def test_rollup_refreshes_after_dv_delete(test_collection):
    c = test_collection
    c.write("src", _frame(5_000))
    c.create_rollup(
        "src", "src_daily", unit="day", aggs={"v": ["sum", "count"]}
    )
    c.delete_where("src", [[("v", "<", 60.0)]], mode="dv")
    rep = c.refresh_rollup("src_daily")
    assert rep["mode"] != "fresh"
    pdf = c.item("src_daily").to_pandas().reset_index()
    assert pdf["v_count"].sum() == 5_000 - 60
    assert pdf["v_sum"].sum() == sum(float(x) for x in range(60, 5_000))


def test_batch_read_rejects_cdc_mode(test_collection, spark):
    from pystore_spark.datasource import register, source_options

    register(spark)
    c = test_collection
    c.write("d", _frame(100))
    with pytest.raises(Exception, match="streaming-only"):
        (
            spark.read.format("pystore")
            .options(**source_options(c, "d"))
            .option("mode", "cdc")
            .load()
            .collect()
        )


def test_datasource_mask_executor_fallback(
    test_collection, spark, monkeypatch,
):
    """Masks above the shipping threshold resolve executor-side; the
    fallback must return the same rows as the shipped path."""
    from pystore_spark import datasource as ds

    ds.register(spark)
    c = test_collection
    c.write("d", _frame(5_000))
    c.delete_where("d", [[("v", "<", 25.0)]], mode="dv")

    def counts():
        d = (
            spark.read.format("pystore")
            .options(**ds.source_options(c, "d"))
            .load()
        )
        return d.count(), d.filter("v < 25").count()

    assert counts() == (4_975, 0)  # shipped path
    monkeypatch.setattr(ds, "DV_SHIP_MAX_POSITIONS", 0)
    assert counts() == (4_975, 0)  # executor fallback, same rows


@pytest.mark.parametrize("layout", ["time", "size"])
@pytest.mark.parametrize("op", ["delete_where", "update_where"])
def test_update_where_dv_rewrite_parity_randomized(
    test_collection, op, layout,
):
    """Property-style parity: random predicates (over a column holding
    a null) give row-identical results between merge-on-read and
    copy-on-write, for delete and update, on both layouts (time:
    bucket-scoped rewrite; size: whole-item rewrite)."""
    import random

    rng = random.Random(7)
    c = test_collection
    n = 12_000 if layout == "time" else 5_000
    for trial in range(3):
        lo = rng.randrange(0, 4_000)
        hi = lo + rng.randrange(1, 1_500)
        mul = float(rng.randrange(2, 9))
        null_at = rng.randrange(lo, hi)  # inside the range: never matches
        pred = [[("v", ">=", float(lo)), ("v", "<", float(hi))]]
        df = _frame(n)
        df.iloc[null_at, 0] = np.nan  # stored as a null
        a, b = f"a{trial}", f"b{trial}"
        c.write(a, df)
        c.write(b, df)
        assert c.item(a)._plan.kind == layout
        if op == "delete_where":
            ra = c.delete_where(a, pred, mode="dv")
            rb = c.delete_where(b, pred, mode="rewrite")
        else:
            assign = {"w": f"w * {mul} + v"}
            ra = c.update_where(a, pred, set=assign, mode="dv")
            rb = c.update_where(b, pred, set=assign, mode="rewrite")
        n_key = "n_deleted" if op == "delete_where" else "n_updated"
        assert ra[n_key] == rb[n_key] == hi - lo - 1
        pa = (
            c.item(a).data.toPandas()
            .sort_values("v").reset_index(drop=True)
        )
        pb = (
            c.item(b).data.toPandas()
            .sort_values("v").reset_index(drop=True)
        )
        assert pa["v"].isna().sum() == 1
        pd.testing.assert_frame_equal(pa[["v", "w"]], pb[["v", "w"]])


def test_vacuum_dry_run_counts_without_deleting(test_collection):
    from pystore_spark import manifest as mf

    c = test_collection
    c.write("d", _frame(20_000))
    c.delete_where("d", [[("v", "<", 100.0)]], mode="dv")
    c.delete_where("d", [[("v", "<", 200.0)]], mode="dv")  # supersedes
    # start the superseded dir's clock with a real pass (keeps it)
    mf.gc_item(c.path, "d", retention=3600.0, orphan_grace=3600.0)
    import os
    from pathlib import Path

    item_path = Path(c._item_path("d"))
    marks = list(item_path.glob("_dv/*/.superseded"))
    assert len(marks) == 1
    old = __import__("time").time() - 10_000
    os.utime(marks[0], (old, old))

    n = c.vacuum("d", retention=0.0, dry_run=True)
    assert n >= 1  # the superseded mask would go...
    assert marks[0].parent.exists()  # ...but nothing was deleted
    n2 = c.vacuum("d", retention=0.0)
    assert n2 >= 1
    assert not marks[0].parent.exists()
    assert c.item("d").data.count() == 20_000 - 200
