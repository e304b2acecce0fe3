"""Time-travel reads (version= / as_of=) over the manifest history.

Every commit installs the manifest pointer AND an immutable per-
version copy under ``_versions/``; a historical read is that one JSON
GET plus the usual manifest-resolved scan — no log replay, no
copy-on-write. History lives exactly as long as the stale-retention
window that keeps replaced data files on disk (manifest.gc_item
removes both on the same clock). Beyond-reference capability: the
reference (pystore/collection.py) keeps only explicit snapshots.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pytest

from pystore_spark import utils
from pystore_spark import manifest as mf
from pystore_spark.exceptions import VersionNotFoundError


def _frame(n, start="2023-01-01", v0=0.0):
    return pd.DataFrame(
        {"v": np.arange(n, dtype="float64") + v0},
        index=pd.date_range(start, periods=n, freq="min"),
    )


def test_read_by_version(test_collection):
    c = test_collection
    c.write("tt", _frame(500))
    c.append("tt", _frame(200, start="2023-03-01", v0=1000.0))
    c.append("tt", _frame(100, start="2023-05-01", v0=5000.0))

    versions = c.item_versions("tt")
    assert [v["version"] for v in versions] == [3, 2, 1]
    assert versions[0]["current"] is True

    v1 = c.item("tt", version=1).to_pandas()
    v2 = c.item("tt", version=2).to_pandas()
    v3 = c.item("tt", version=3).to_pandas()
    assert (len(v1), len(v2), len(v3)) == (500, 700, 800)
    pd.testing.assert_frame_equal(
        v1, _frame(500), check_names=False, check_freq=False
    )
    # live read == latest version read
    pd.testing.assert_frame_equal(v3, c.item("tt").to_pandas())
    # version attribute reflects what was resolved
    assert c.item("tt", version=2).version == 2
    assert c.item("tt").version == 3


def test_read_as_of_timestamp(test_collection):
    c = test_collection
    c.write("tt", _frame(300))
    t_between = utils.utc_stamp()
    time.sleep(0.01)
    c.append("tt", _frame(100, start="2023-04-01", v0=99.0))

    old = c.item("tt", as_of=t_between)
    assert old.version == 1
    assert len(old.to_pandas()) == 300
    # a timestamp after the last commit resolves to the live version
    assert c.item("tt", as_of=utils.utc_stamp()).version == 2
    # a timestamp before the first commit has no version
    with pytest.raises(VersionNotFoundError):
        c.item("tt", as_of="2000-01-01 00:00:00.000000")


def test_version_filters_and_pruning_still_apply(test_collection):
    """Historical reads go through the same manifest-resolved scan:
    filters prune files of THAT version's file list."""
    c = test_collection
    c.write("tt", _frame(400))
    c.append("tt", _frame(400, start="2024-06-01", v0=777.0))
    it = c.item(
        "tt", version=1, filters=[("v", ">=", 100.0), ("v", "<", 110.0)]
    )
    out = it.to_pandas()
    assert len(out) == 10 and out["v"].min() == 100.0


def test_gc_expires_history(test_collection):
    """Once retention lapses, GC deletes replaced files AND the
    version objects that referenced them; version= then raises a
    clear retention error instead of a missing-file scan failure."""
    c = test_collection
    c.write("tt", _frame(300))
    c.write("tt", _frame(50, v0=-1.0), overwrite=True)
    item_path = c._item_path("tt")
    assert utils.read_version_manifest(item_path, 1) is not None

    removed = mf.gc_item(c.path, "tt", retention=0.0, orphan_grace=0.0)
    assert removed > 0
    with pytest.raises(VersionNotFoundError):
        c.item("tt", version=1)
    # GC's own stale-map rewrite is a (data-identical) new version;
    # what matters is that v1 aged out of the readable list
    assert 1 not in [v["version"] for v in c.item_versions("tt")]
    # live read unaffected
    assert len(c.item("tt").to_pandas()) == 50


def test_version_snapshot_exclusive(test_collection):
    test_collection.write("tt", _frame(10))
    with pytest.raises(ValueError):
        test_collection.item("tt", snapshot="s", version=1)
    with pytest.raises(ValueError):
        test_collection.item("tt", version=1, as_of="2024-01-01")
    with pytest.raises(VersionNotFoundError):
        test_collection.item("tt", version=99)


# ---------------------------------------------------------------------------
# property: every retained version reads back exactly the state the
# live read showed at its commit, under arbitrary write/append mixes
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def _op_sequences(draw):
    """1 initial write + up to 4 follow-ups (append to new or
    overlapping ranges, or whole-item overwrite)."""
    ops = [("write", draw(st.integers(5, 60)), 0)]
    for _ in range(draw(st.integers(1, 4))):
        kind = draw(st.sampled_from(["append_new", "append_overlap", "write"]))
        ops.append((kind, draw(st.integers(1, 40)), draw(st.integers(0, 3))))
    return ops


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_op_sequences())
def test_every_retained_version_reads_its_commit_state(
    test_collection, ops
):
    import uuid

    c = test_collection
    name = f"pt_{uuid.uuid4().hex[:6]}"
    month = 0
    expected: dict[int, pd.DataFrame] = {}
    for kind, n, off in ops:
        if kind == "write":
            c.write(name, _frame(n, v0=float(off)), overwrite=True)
        elif kind == "append_new":
            month += 1
            c.append(
                name,
                _frame(n, start=f"2024-{month:02d}-01", v0=float(off)),
            )
        else:  # overlapping keys — keep_last upsert
            c.append(name, _frame(n, v0=100.0 + off))
        man = utils.read_manifest(c._item_path(name))
        expected[int(man["version"])] = c.item(name).to_pandas()

    listed = {v["version"] for v in c.item_versions(name)}
    assert set(expected) <= listed
    for v, want in expected.items():
        got = c.item(name, version=v).to_pandas()
        pd.testing.assert_frame_equal(got, want)


def test_history_survives_commits_spaced_beyond_retention(test_collection):
    """Review fix: version objects must die when their DATA dies, not
    on their own age — a v1 whose files all survive an append stays
    readable even when the commits are spaced beyond the stale
    retention window."""
    c = test_collection
    c.write("tt", _frame(300))
    # append (bucket-scoped — v1's untouched files stay live) with GC
    # running on a zero-retention clock: v1 history must survive
    c.append("tt", _frame(50, start="2023-04-01", v0=9.0))
    mf.gc_item(c.path, "tt", retention=0.0, orphan_grace=0.0)
    # NOTE: the append rewrote the touched bucket, so v1's files for
    # that bucket went stale and were GC'd at retention=0 — v1 dies
    # for a DATA reason. Use a metadata-only version instead: files
    # identical to live → must stay readable forever.
    v_before = utils.read_manifest(c._item_path("tt"))["version"]
    utils.write_metadata(c._item_path("tt"), {"note": "m"})
    mf.gc_item(c.path, "tt", retention=0.0, orphan_grace=0.0)
    # the pre-metadata version references exactly the live files →
    # still listed and readable despite zero retention
    versions = [v["version"] for v in c.item_versions("tt")]
    assert v_before in versions
    assert c.item("tt", version=v_before).to_pandas() is not None


def test_as_of_accepts_tz_aware_timestamps(test_collection):
    """Review fix: a tz-aware as_of converts to UTC before comparing
    against the UTC stamps (naive formatting would shift by the UTC
    offset)."""
    c = test_collection
    c.write("tt", _frame(100))
    time.sleep(0.01)
    c.append("tt", _frame(10, start="2023-06-01", v0=5.0))
    # "now" expressed in a non-UTC zone is after both commits → live
    now_est = pd.Timestamp.now(tz="America/New_York")
    assert c.item("tt", as_of=now_est).version == 2
    # an aware timestamp before the first commit still raises
    with pytest.raises(VersionNotFoundError):
        c.item(
            "tt",
            as_of=pd.Timestamp("2000-01-01", tz="Asia/Tokyo"),
        )


def test_corrupt_manifest_self_heals_on_next_commit(test_collection):
    """Review fix: a torn/corrupt _manifest.json must not wedge the
    item forever — the next commit CAS-replaces the corrupt bytes,
    listing the on-disk parquet as the prior file set (the legacy-
    upgrade path), and loses no data."""
    c = test_collection
    c.write("tt", _frame(200))
    item_path = c._item_path("tt")
    (item_path / utils.MANIFEST_FILE).write_text("{ not json !!")
    # reads fall back to the legacy directory scan meanwhile
    assert len(c.item("tt").to_pandas()) == 200
    # a new commit heals the manifest
    c.append("tt", _frame(10, start="2023-05-01", v0=7.0))
    man = utils.read_manifest(item_path)
    assert man is not None and man["files"]
    assert len(c.item("tt").to_pandas()) == 210


def test_sql_for_version_as_of(test_collection):
    """VERDICT r4 item 6: time travel composes with the SQL surface —
    one query joins an item's current and historical states."""
    c = test_collection
    c.write("tts", _frame(100))
    c.append("tts", _frame(50, start="2023-03-01", v0=1000.0))

    cur = c.sql("SELECT count(*) AS n FROM tts").collect()[0]["n"]
    old = c.sql(
        "SELECT count(*) AS n FROM tts FOR VERSION AS OF 1"
    ).collect()[0]["n"]
    assert (cur, old) == (150, 100)

    # current and historical in ONE query
    row = c.sql(
        "SELECT (SELECT count(*) FROM tts) AS n_now, "
        "(SELECT count(*) FROM tts FOR VERSION AS OF 1) AS n_v1"
    ).collect()[0]
    assert (row["n_now"], row["n_v1"]) == (150, 100)


def test_sql_for_timestamp_as_of(test_collection):
    c = test_collection
    c.write("tta", _frame(100))
    stamp = utils.read_manifest(c._item_path("tta"))["metadata"][
        "_updated"
    ]
    time.sleep(0.05)
    c.append("tta", _frame(70, start="2023-03-01", v0=1000.0))
    n = c.sql(
        f"SELECT count(*) AS n FROM tta FOR TIMESTAMP AS OF '{stamp}'"
    ).collect()[0]["n"]
    assert n == 100


def test_store_sql_for_version_as_of(test_store):
    c = test_store.collection("svc")
    c.write("itm", _frame(80))
    c.append("itm", _frame(20, start="2023-03-01", v0=1000.0))
    got = test_store.sql(
        "SELECT (SELECT count(*) FROM svc__itm) AS n_now, "
        "(SELECT count(*) FROM svc__itm FOR VERSION AS OF 1) AS n_v1"
    ).collect()[0]
    assert (got["n_now"], got["n_v1"]) == (100, 80)


def test_sql_time_travel_ignores_unknown_identifiers(test_collection):
    """A FOR VERSION clause on a non-item identifier is left for Spark
    to reject — the rewrite must not touch it."""
    c = test_collection
    c.write("ttx", _frame(10))
    with pytest.raises(Exception):
        c.sql("SELECT * FROM nosuch FOR VERSION AS OF 1").collect()


def test_sql_time_travel_skips_string_literals(test_collection):
    """A clause-shaped substring INSIDE a string literal must pass
    through verbatim — only real identifier positions rewrite."""
    c = test_collection
    c.write("ttl", _frame(30))
    c.append("ttl", _frame(10, start="2023-03-01", v0=99.0))
    row = c.sql(
        "SELECT 'ttl FOR VERSION AS OF 1' AS note, "
        "(SELECT count(*) FROM ttl FOR VERSION AS OF 1) AS n_v1, "
        "count(*) AS n_now FROM ttl"
    ).collect()[0]
    assert row["note"] == "ttl FOR VERSION AS OF 1"
    assert (row["n_now"], row["n_v1"]) == (40, 30)


def test_history_describes_commits(test_collection):
    import pandas as pd

    col = test_collection
    def b(n, day):
        return pd.DataFrame({
            "ts": pd.date_range(f"2024-01-{day:02d}", periods=n, freq="h"),
            "v": [float(i) for i in range(n)],
        })
    col.write("h", b(12, 1), index_col="ts", freq="D")
    col.append("h", b(12, 5), duplicate_handling="keep_all")
    col.append("h", b(12, 9), duplicate_handling="keep_all")
    hist = col.history("h")
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert hist[0]["n_added"] == hist[0]["n_files"] > 0
    # appends to fresh day-buckets add files, remove none
    assert hist[1]["n_added"] >= 1 and hist[1]["n_removed"] == 0
    assert hist[-1]["current"] and all(h["readable"] for h in hist)
    assert all(h["updated"] for h in hist)
    # version numbers line up with the time-travel read surface
    assert col.item("h", version=1).data.count() == 12
    # vacuum with zero retention makes superseded rewrites unreadable
    col.delete_where("h", [[("v", "<", 1.0)]])  # bucket rewrites
    col.vacuum("h", retention=0)
    hist2 = col.history("h")
    assert hist2[-1]["readable"]


def test_restore_rolls_back_as_new_commit(test_collection):
    import pandas as pd
    import pytest as _pytest

    from pystore_spark.exceptions import VersionNotFoundError

    col = test_collection

    def b(n, day):
        return pd.DataFrame({
            "ts": pd.date_range(f"2024-01-{day:02d}", periods=n, freq="h"),
            "v": [float(day * 100 + i) for i in range(n)],
        })

    col.write("r", b(10, 1), index_col="ts", freq="D")
    col.append("r", b(10, 5), duplicate_handling="keep_all")
    col.append("r", b(10, 9), duplicate_handling="keep_all")
    assert col.item("r").data.count() == 30
    rep = col.restore("r", 1)
    assert rep["restored_to"] == 1 and rep["new_version"] == 4
    assert rep["files_retired"] >= 2
    got = col.item("r").data.toPandas()
    assert len(got) == 10 and got["v"].max() < 200
    # both directions stay readable: the "mistake" and the restore
    assert col.item("r", version=3).data.count() == 30
    assert col.item("r", version=1).data.count() == 10
    # restore of the restore (roll forward again)
    rep2 = col.restore("r", 3)
    assert col.item("r").data.count() == 30
    assert rep2["files_relinked"] >= 2
    # matview staleness flips on restore like any commit
    col.create_matview(
        "r_mv", "SELECT count(*) AS n FROM r", depends_on=["r"]
    )
    col.restore("r", 1)
    assert col.matview_status("r_mv")["stale"] == ["r"]
    assert col.matview("r_mv").toPandas()["n"][0] == 10
    # noop restore + unknown version
    cur = col.item("r").version
    assert col.restore("r", cur)["noop"]
    with _pytest.raises(VersionNotFoundError):
        col.restore("r", 999)


def test_restore_blocked_after_vacuum(test_collection):
    import pandas as pd
    import pytest as _pytest

    from pystore_spark.exceptions import StorageError

    col = test_collection
    df = pd.DataFrame({
        "ts": pd.date_range("2024-01-01", periods=12, freq="h"),
        "v": [float(i) for i in range(12)],
    })
    col.write("rv", df, index_col="ts")
    col.append(
        "rv", df.assign(ts=df["ts"] + pd.Timedelta(days=40), v=df["v"] + 100),
        duplicate_handling="keep_all",
    )
    # flat item: the append rewrote the file; vacuum kills v1's file
    col.vacuum("rv", retention=0)
    # vacuum either reclaimed v1's files (StorageError "vacuumed") or
    # GC'd the dead version object itself (VersionNotFoundError) —
    # both are the intended refusal, nothing else is
    from pystore_spark.exceptions import VersionNotFoundError

    with _pytest.raises(
        (StorageError, VersionNotFoundError), match="vacuumed|GC'd"
    ):
        col.restore("rv", 1)


class TestCloneItem:
    """Shallow clone: zero-copy data branching (Delta CLONE parity)."""

    def test_clone_reads_identically_and_is_independent(
        self, test_collection
    ):
        import numpy as np
        import pandas as pd

        c = test_collection
        df = pd.DataFrame(
            {"v": np.arange(5_000, dtype="float64")},
            index=pd.date_range("2023-01-01", periods=5_000, freq="min"),
        )
        c.write("src", df)
        rep = c.clone_item("src", "dst")
        assert rep["files_linked"] >= 1
        pd.testing.assert_frame_equal(
            c.item("dst").to_pandas(), c.item("src").to_pandas()
        )
        # independence both directions
        c.delete_where("dst", [("v", "<", 100.0)])
        assert c.item("src").data.count() == 5_000
        assert c.item("dst").data.count() == 4_900
        c.append(
            "src",
            pd.DataFrame(
                {"v": [9.9]},
                index=pd.DatetimeIndex([pd.Timestamp("2024-01-01")]),
            ),
        )
        assert c.item("dst").data.count() == 4_900
        # GC on the source never breaks the clone (hard links)
        c.vacuum("src", retention=0.0)
        assert c.item("dst").data.count() == 4_900

    def test_clone_carries_dv_mask_and_historical_version(
        self, test_collection
    ):
        import numpy as np
        import pandas as pd

        from pystore_spark import dv as dvm
        from pystore_spark import utils

        c = test_collection
        df = pd.DataFrame(
            {"v": np.arange(3_000, dtype="float64")},
            index=pd.date_range("2023-01-01", periods=3_000, freq="min"),
        )
        c.write("src", df)  # v1
        c.delete_where("src", [[("v", "<", 200.0)]], mode="dv")  # v2
        rep = c.clone_item("src", "masked")
        assert rep["dv_dirs_linked"] == 1
        assert c.item("masked").data.count() == 2_800
        man = utils.read_manifest(c._item_path("masked"))
        assert dvm.dv_total(man) == 200
        # clone the PRE-delete version: rows visible again
        c.clone_item("src", "pre", version=1)
        assert c.item("pre").data.count() == 3_000
        # source vacuum can't reclaim the clone's masks
        c.delete_where("src", [[("v", "<", 400.0)]], mode="dv")
        c.vacuum("src", retention=0.0)
        assert c.item("masked").data.count() == 2_800

    def test_clone_bucketed_item_keeps_mask_and_independence(
        self, test_collection
    ):
        """Bucketed clones get their OWN catalog relation (the table
        name keys on the item-path digest), read through the carried
        dv mask, and never see post-clone source mutations."""
        import numpy as np
        import pandas as pd

        c = test_collection
        pdf = pd.DataFrame(
            {
                "k": np.arange(500, dtype="int64"),
                "v": np.arange(500, dtype="float64"),
            },
            index=pd.date_range("2023-01-01", periods=500, freq="min"),
        )
        c.write("b", pdf, bucket_by="k", n_buckets=4)
        c.delete_where("b", [[("v", "<", 100.0)]], mode="dv")
        c.clone_item("b", "b2")
        assert c.item("b2").data.count() == 400
        # post-clone source mutation stays on the source
        c.delete_where("b", [[("v", ">=", 400.0)]], mode="dv")
        assert c.item("b").data.count() == 300
        assert c.item("b2").data.count() == 400
        assert c.describe("b2")["cloned_from"]["item"] == "b"

    def test_clone_refuses_existing_target(self, test_collection):
        import numpy as np
        import pandas as pd
        import pytest as _pytest

        from pystore_spark.exceptions import ItemExistsError

        c = test_collection
        df = pd.DataFrame(
            {"v": np.arange(100, dtype="float64")},
            index=pd.date_range("2023-01-01", periods=100, freq="min"),
        )
        c.write("a", df)
        c.write("b", df)
        with _pytest.raises(ItemExistsError):
            c.clone_item("a", "b")

    def test_failed_clone_leaves_no_ghost_item(
        self, test_collection, monkeypatch
    ):
        """A clone that dies mid-link (vacuumed source file, backend
        error) must clean its partial dir — a manifest-less ghost dir
        would make item_exists(dst) True and poison later writes."""
        import numpy as np
        import pandas as pd
        import pytest as _pytest

        c = test_collection
        df = pd.DataFrame(
            {"v": np.arange(200, dtype="float64")},
            index=pd.date_range("2023-01-01", periods=200, freq="min"),
        )
        c.write("srcf", df)

        real = type(c.fs).link_or_copy
        calls = {"n": 0}

        def dying(self, s, d):
            calls["n"] += 1
            if calls["n"] >= 1:
                raise OSError("injected link failure")
            real(self, s, d)

        monkeypatch.setattr(type(c.fs), "link_or_copy", dying)
        with _pytest.raises(OSError):
            c.clone_item("srcf", "ghost")
        monkeypatch.undo()
        assert not c.item_exists("ghost")
        # the name is reusable afterwards
        rep = c.clone_item("srcf", "ghost")
        assert rep["files_linked"] >= 1
        assert c.item("ghost").data.count() == 200

    def test_clone_loser_removes_links_from_winner_dir(
        self, test_collection, monkeypatch
    ):
        """A concurrent writer that commits dst between the clone's
        link phase and its must-not-exist manifest CAS wins; the
        losing clone must remove exactly the files IT linked — not
        leave them orphaned inside the winner's directory, and not
        touch anything the winner's manifest references."""
        import numpy as np
        import pandas as pd
        import pytest as _pytest

        from pystore_spark import utils
        from pystore_spark.exceptions import ConcurrentCommitError

        c = test_collection
        df = pd.DataFrame(
            {"v": np.arange(300, dtype="float64")},
            index=pd.date_range("2023-01-01", periods=300, freq="min"),
        )
        c.write("srcw", df)
        src_rels = set(
            utils.read_manifest(c._item_path("srcw"))["files"]
        )

        winner = pd.DataFrame(
            {"w": [1.0, 2.0]},
            index=pd.date_range("2030-01-01", periods=2),
        )
        real = type(c.fs).link_or_copy
        fired = {"done": False}

        def hijack(self, s, d):
            real(self, s, d)
            if not fired["done"]:
                fired["done"] = True
                # the concurrent winner (overwrite: the clone's
                # partial link dir makes item_exists true already)
                c.write("race", winner, overwrite=True)

        monkeypatch.setattr(type(c.fs), "link_or_copy", hijack)
        with _pytest.raises(ConcurrentCommitError):
            c.clone_item("srcw", "race")
        monkeypatch.undo()

        # winner intact and readable
        out = c.item("race").to_pandas()
        assert list(out["w"]) == [1.0, 2.0]
        # none of the clone's linked rels remain in the winner's dir
        dst = c._item_path("race")
        leftovers = {
            rel for rel in src_rels if (dst / rel).exists()
        }
        assert leftovers == set()

    def test_clone_dml_vacuum_interaction_both_directions(
        self, test_collection
    ):
        """Round-9 brief #7: row-level DML ON THE CLONE followed by a
        zero-retention vacuum of the SOURCE (and vice versa) must
        never reclaim bytes the other item's manifests reference —
        hard-linked data files and carried dv mask dirs are owned
        per-item, so each side's GC can only unlink its own names."""
        import numpy as np
        import pandas as pd

        c = test_collection
        df = pd.DataFrame(
            {"v": np.arange(4_000, dtype="float64")},
            index=pd.date_range("2023-01-01", periods=4_000, freq="min"),
        )
        c.write("src", df)
        c.delete_where("src", [[("v", "<", 100.0)]], mode="dv")  # carried mask
        c.clone_item("src", "cl")
        assert c.item("cl").data.count() == 3_900

        # DML on the CLONE (dv delete + update + merge), then vacuum
        # the SOURCE with zero retention
        c.delete_where("cl", [[("v", ">=", 3_900.0)]], mode="dv")
        c.update_where("cl", [[("v", "==", 150.0)]], {"v": "1.5"})
        up = pd.DataFrame(
            {"v": [99999.5]},
            index=pd.DatetimeIndex([df.index[200]]),
        )
        c.merge_into("cl", up, on="index")
        n_cl = c.item("cl").data.count()
        assert n_cl == 3_800
        c.vacuum("src", retention=0.0)
        out = c.item("cl").to_pandas()
        assert len(out) == n_cl
        assert (out["v"] == 1.5).sum() == 1   # update survived
        assert (out["v"] == 99999.5).sum() == 1  # merge survived
        assert (out["v"] == 150.0).sum() == 0
        # source unaffected by clone DML, still fully readable
        assert c.item("src").data.count() == 3_900

        # and the REVERSE: DML on the source, vacuum the CLONE
        c.delete_where("src", [[("v", ">=", 3_000.0)]], mode="dv")
        c.update_where("src", [[("v", "==", 250.0)]], {"v": "2.5"})
        n_src = c.item("src").data.count()
        c.vacuum("cl", retention=0.0)
        src_out = c.item("src").to_pandas()
        assert len(src_out) == n_src
        assert (src_out["v"] == 2.5).sum() == 1
        # clone still intact after its own vacuum
        assert c.item("cl").data.count() == n_cl

    def test_bucketed_clone_dml_vacuum_interaction(
        self, test_collection
    ):
        """The bucketed variant of the clone/DML/GC interaction: dv
        DML on a bucketed clone + source vacuum (and reverse) keep
        both catalog relations mask-correct."""
        import numpy as np
        import pandas as pd

        c = test_collection
        pdf = pd.DataFrame(
            {
                "k": np.arange(600, dtype="int64"),
                "v": np.arange(600, dtype="float64"),
            },
            index=pd.date_range("2023-01-01", periods=600, freq="min"),
        )
        c.write("bsrc", pdf, bucket_by="k", n_buckets=4)
        c.delete_where("bsrc", [[("v", "<", 50.0)]], mode="dv")
        c.clone_item("bsrc", "bcl")
        assert c.item("bcl").data.count() == 550

        c.delete_where("bcl", [[("v", ">=", 500.0)]], mode="dv")
        c.update_where("bcl", [[("v", "==", 100.0)]], {"v": "9.5"}, mode="dv")
        c.vacuum("bsrc", retention=0.0)
        out = c.item("bcl").to_pandas()
        assert len(out) == 450
        assert (out["v"] == 9.5).sum() == 1
        assert c.item("bsrc").data.count() == 550

        c.delete_where("bsrc", [[("v", ">=", 550.0)]], mode="dv")
        c.vacuum("bcl", retention=0.0)
        assert c.item("bsrc").data.count() == 500
        assert c.item("bcl").data.count() == 450


class TestCloneBloomRace:
    def test_rival_clone_win_keeps_bloom_sidecars(
        self, test_collection, monkeypatch
    ):
        """Review finding (round 9): two clones of the SAME source
        racing on one dst at DIFFERENT versions are not `same_clone`,
        but both link the identical bloom sidecar set (the bloom dir
        listing is version-independent) — the loser's cleanup used to
        delete the winner's bloom links (they are in no manifest and
        under no dv dir), silently destroying its point-lookup
        pruning. Bloom rels are now kept whenever the winner cloned
        the same source. The rival's win is simulated by landing the
        manifest it would have committed (its links are the same
        hard-link names the loser already created)."""
        import pandas as pd
        import pytest as _pytest

        from pystore_spark import bloom as bl
        from pystore_spark import utils
        from pystore_spark.exceptions import ConcurrentCommitError

        c = test_collection
        docs = pd.DataFrame({
            "doc_id": range(50),
            "v": [float(i) for i in range(50)],
        })
        c.write("srcb", docs, index_col="doc_id", bloom=["doc_id"],
                npartitions=4)
        man_v1 = utils.read_manifest(c._item_path("srcb"))
        c.append(
            "srcb",
            pd.DataFrame({"doc_id": [100], "v": [1.0]}),
            duplicate_handling="keep_all",
        )  # version 2: WE clone latest; the rival committed version 1

        real = type(c.fs).link_or_copy
        fired = {"done": False}

        def hijack(self, s, d):
            real(self, s, d)
            if not fired["done"]:
                fired["done"] = True
                meta = dict(man_v1.get("metadata") or {})
                meta["_cloned_from"] = {
                    "item": "srcb",
                    "version": int(man_v1.get("version", 0)),
                    "snapshot": None,
                }
                # the rival linked ITS version's rels itself (the
                # append rewrote a bucket, so v1 has files v2 lacks)
                for rel in man_v1["files"]:
                    try:
                        real(
                            c.fs,
                            c._item_path("srcb") / rel,
                            c._item_path("raceb") / rel,
                        )
                    except OSError:
                        pass  # already linked by the loser
                utils.write_manifest(
                    c._item_path("raceb"),
                    man_v1["files"],
                    meta,
                    version=1,
                    stats=man_v1.get("stats"),
                    sizes=man_v1.get("sizes"),
                    dv=man_v1.get("dv"),
                    if_match=None,
                )

        monkeypatch.setattr(type(c.fs), "link_or_copy", hijack)
        with _pytest.raises(ConcurrentCommitError):
            c.clone_item("srcb", "raceb")
        monkeypatch.undo()
        c.clear_metadata_cache("raceb")

        # winner readable at ITS version (the source's v1 slice)
        out = c.item("raceb").to_pandas()
        assert len(out) == 50
        # the winner's bloom sidecars survived the loser's cleanup
        dst = c._item_path("raceb")
        blooms = list(
            c.fs.list_files(dst / bl.BLOOM_DIR, ".parquet")
        )
        assert blooms, "rival-clone cleanup deleted the bloom links"
        # and pruning still engages on a point lookup
        rep = c.item(
            "raceb", filters=[("doc_id", "==", 7)]
        ).scan_report()
        assert rep["n_files_selected"] <= rep["n_files_live"]
        got = c.item(
            "raceb", filters=[("doc_id", "==", 7)]
        ).to_pandas()
        assert list(got.index) == [7]  # doc_id is the pandas index


# ---------------------------------------------------------------------------
# _version_as_of: stamp=False commits never shadow the stamped commit
# ---------------------------------------------------------------------------
def test_as_of_tiebreak_smallest_version_for_shared_stamp(test_collection):
    c = test_collection
    c.write("tv", _frame(200))
    item_path = c._item_path("tv")
    v1 = utils.read_manifest(item_path)["version"]

    # metadata-only commit (stamp=False) — inherits v1's _updated
    man = utils.read_manifest(item_path)
    utils.write_manifest(
        item_path,
        man["files"],
        {**man["metadata"], "_note": "gc"},
        stale=man.get("stale"),
        version=man["version"] + 1,
        stamp=False,
        sizes=man.get("sizes"),
    )
    stamp = man["metadata"]["_updated"]

    from pystore_spark.item import _version_as_of

    got = _version_as_of(item_path, stamp)
    assert got == v1, (
        f"as_of {stamp!r} resolved to v{got}, a commit that postdates "
        f"the stamp owner v{v1}"
    )
