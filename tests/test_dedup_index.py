"""Persistent incremental near-dedup index (dedup_index.py).

The round-4 verdict's top item: appending to a curated corpus must
dedup the incoming batch against the STORED corpus in O(new) — probing
a persisted MinHash band index — never re-signing the corpus. Covers:
build, probe (base tier), append_dedup (drop + survive + delta
indexing), the delta tier catching later appends, refresh (LSM fold)
via maintain(), threshold override, and equivalence with the batch
near_dedup pipeline on the same corpus.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pystore_spark import dedup_index as DI
from pystore_spark import utils

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away "
    "today while the sun shines bright over the quiet green valley "
)


def _docs(ids, tail=""):
    return pd.DataFrame(
        {
            "doc_id": list(ids),
            "text": [
                BASE + f"unique tail {i} " + "filler words here " * 3 + tail
                for i in ids
            ],
        }
    )




def _delta_gone(c, name):
    """Post-fold deltas are deleted (driver-only backends) or kept as
    schema-only empty husks (CAS-guarded trim)."""
    return (not c.item_exists(name)) or c.item(name).data.count() == 0

@pytest.fixture()
def corpus(test_collection):
    c = test_collection
    c.write("corpus", _docs(range(10)), index_col="doc_id")
    c.build_dedup_index("cidx", "corpus")
    return c


def test_build_creates_band_and_docs_items(corpus):
    c = corpus
    assert set(c.items) >= {"corpus", "cidx", "cidx__docs"}
    meta = c.get_item_metadata("cidx")[DI.META_KEY]
    assert meta["id_col"] == "doc_id" and meta["bands"] == 4
    bands = c.item("cidx").data
    assert set(bands.columns) >= {"bkey", "band", "doc_id"}
    assert bands.count() == 10 * 4
    docs = c.item("cidx__docs").data
    assert docs.count() == 10
    # the band item is zonemapped on bkey so probes prune files
    man = utils.read_manifest(c._item_path("cidx"))
    assert man["metadata"].get("_zonemap_columns") == ["bkey"]


def test_probe_flags_near_dups_only(corpus, spark):
    c = corpus
    stored = _docs(range(10))
    inc = pd.DataFrame(
        {
            "doc_id": [100, 101, 102],
            "text": [
                stored.loc[3, "text"],  # exact dup
                stored.loc[5, "text"] + " tiny change",  # near dup
                "a wholly different document about catalyst optimizer "
                "rules and adaptive query execution in spark",
            ],
        }
    )
    sdf = spark.createDataFrame(inc)
    drop = {r["doc_id"] for r in c.probe_dedup_index("cidx", sdf).collect()}
    assert drop == {100, 101}


def test_append_dedup_end_to_end(corpus):
    c = corpus
    stored = _docs(range(10))
    inc = pd.DataFrame(
        {
            "doc_id": [100, 101, 102, 103],
            "text": [
                stored.loc[3, "text"],
                stored.loc[5, "text"] + " tiny change",
                "completely different content about spark engines and "
                "catalyst optimizer rules running in production",
                "another genuinely novel document with its own words "
                "entirely and nothing shared with the corpus",
            ],
        }
    )
    rep = c.append_dedup("corpus", inc, "cidx")
    assert rep["n_incoming"] == 4
    assert rep["dropped_ids"] == [100, 101]
    assert rep["n_appended"] == 2
    ids = {r["doc_id"] for r in c.item("corpus").data.select("doc_id").collect()}
    assert ids == set(range(10)) | {102, 103}

    # survivors are indexed in the DELTA tier: re-appending them (new
    # ids, same text) is filtered WITHOUT any index rebuild
    rep2 = c.append_dedup(
        "corpus", inc.assign(doc_id=[200, 201, 202, 203]), "cidx"
    )
    assert rep2["n_appended"] == 0
    assert rep2["dropped_ids"] == [200, 201, 202, 203]
    assert c.item_exists("cidx__bands_delta")
    assert c.item_exists("cidx__docs_delta")


def test_refresh_folds_delta_and_probing_survives(corpus):
    c = corpus
    inc = pd.DataFrame(
        {
            "doc_id": [500],
            "text": [
                "fresh content never seen before in this corpus about "
                "lakehouse table formats and manifest protocols"
            ],
        }
    )
    c.append_dedup("corpus", inc, "cidx")
    res = c.maintain("cidx")
    folded = res["cidx"]["dedup_index"]
    assert folded["docs_folded"] == 1  # delta rows absorbed
    assert folded["bands_folded"] == 1 * 4
    assert _delta_gone(c, "cidx__bands_delta")
    assert _delta_gone(c, "cidx__docs_delta")
    # post-fold: the folded doc still blocks its duplicate
    rep = c.append_dedup(
        "corpus", inc.assign(doc_id=[501]), "cidx"
    )
    assert rep["dropped_ids"] == [501]


def test_refresh_noop_without_delta(corpus):
    assert corpus.refresh_dedup_index("cidx") == {
        "bands_folded": 0,
        "docs_folded": 0,
    }


def test_probe_threshold_override(corpus, spark):
    c = corpus
    stored = _docs(range(10))
    # high-but-not-exact overlap with doc 5: Jaccard < 1, LSH
    # candidate certain
    mixed = stored.loc[5, "text"] + " novel appended closing words here"
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [900], "text": [mixed]})
    )
    strict = {
        r["doc_id"]
        for r in c.probe_dedup_index(
            "cidx", sdf, threshold=0.9999
        ).collect()
    }
    loose = {
        r["doc_id"]
        for r in c.probe_dedup_index("cidx", sdf, threshold=0.3).collect()
    }
    assert 900 not in strict
    assert 900 in loose


def test_matches_batch_near_dedup_semantics(corpus, spark):
    """Incremental probe ≡ batch pipeline restricted to (stored ∪
    incoming) pairs: an incoming doc is dropped iff the batch
    near_dedup over the union would link it to a stored doc."""
    from pystore_spark.functions import dedup as D
    from pyspark.sql import functions as F

    c = corpus
    stored = _docs(range(10))
    inc = pd.DataFrame(
        {
            "doc_id": [100, 101, 102],
            "text": [
                stored.loc[7, "text"],
                stored.loc[2, "text"] + " slight suffix",
                "entirely distinct prose with no overlap at all about "
                "bucketed joins salting and adaptive execution",
            ],
        }
    )
    sdf = spark.createDataFrame(inc)
    got = {r["doc_id"] for r in c.probe_dedup_index("cidx", sdf).collect()}

    union = spark.createDataFrame(pd.concat([stored, inc]))
    edges = D.near_dedup_verified_pairs(union, "text", "doc_id")
    cross = edges.filter(
        ((F.col("id_i") >= 100) & (F.col("id_j") < 100))
        | ((F.col("id_j") >= 100) & (F.col("id_i") < 100))
    )
    expect = set()
    for r in cross.collect():
        expect.add(r["id_i"] if r["id_i"] >= 100 else r["id_j"])
    assert got == expect


def test_not_an_index_raises(corpus):
    from pystore_spark.exceptions import StorageError

    with pytest.raises(StorageError, match="not a dedup index"):
        corpus.refresh_dedup_index("corpus")


def test_write_index_col_promotes_column(test_collection):
    """The flatten_pandas index_col fix: write(pdf, index_col=...) on
    a RangeIndex frame must store that COLUMN as the index (it used to
    silently keep the RangeIndex as the merge key — appends then
    upserted on row position)."""
    c = test_collection
    pdf = pd.DataFrame({"k": [10, 20, 30], "v": ["a", "b", "c"]})
    c.write("t", pdf, index_col="k")
    assert "index" not in c.item("t").data.columns
    got = c.item("t").to_pandas()
    assert got.index.name == "k"
    # append with k as a column: merges on k, not row position
    c.append("t", pd.DataFrame({"k": [40, 20], "v": ["d", "B"]}))
    got = c.item("t").to_pandas().sort_index()
    assert list(got.index) == [10, 20, 30, 40]
    assert got.loc[20, "v"] == "B"  # keep_last upsert on k


def test_append_dedup_empty_batch_is_noop(corpus, spark):
    import pyspark.sql.types as T

    empty = spark.createDataFrame(
        [], T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ])
    )
    rep = corpus.append_dedup("corpus", empty, "cidx")
    assert rep == {
        "n_incoming": 0, "n_dropped": 0, "n_appended": 0,
        "dropped_ids": [],
    }


def test_collection_wide_maintain_handles_index_items(corpus):
    """maintain() over the WHOLE collection: the index item folds its
    delta, the companion/delta items don't break the loop (deltas are
    deleted mid-loop by the fold), and the corpus item still gets its
    normal maintenance."""
    c = corpus
    inc = pd.DataFrame({
        "doc_id": [700],
        "text": ["never seen before content about columnar shuffle "
                 "hash exchanges and whole stage codegen"],
    })
    c.append_dedup("corpus", inc, "cidx")
    assert c.item_exists("cidx__bands_delta")
    res = c.maintain()  # all items
    assert res["cidx"]["dedup_index"]["docs_folded"] == 1
    assert _delta_gone(c, "cidx__bands_delta")
    assert "corpus" in res and "gc_removed" in res["corpus"]


def test_probe_plan_shape(corpus, spark):
    """Plan discipline for the probe's INTERNAL stages (the public API
    collects eagerly, so the registry-wide sweep can't see them): the
    batch side is broadcast, and no stage degenerates to a cartesian
    product or nested-loop join."""
    inc = spark.createDataFrame(
        pd.DataFrame({"doc_id": [800, 801],
                      "text": [_docs([0]).loc[0, "text"],
                               "totally novel words about exchanges"]})
    )
    DI.DEBUG_CAPTURE_PLANS = []
    try:
        corpus.probe_dedup_index("cidx", inc).collect()
        plans = dict(DI.DEBUG_CAPTURE_PLANS)
    finally:
        DI.DEBUG_CAPTURE_PLANS = None
    assert "candidates" in plans
    for stage, plan in plans.items():
        assert "CartesianProduct" not in plan, stage
        assert "BroadcastNestedLoopJoin" not in plan, stage
    assert "BroadcastHashJoin" in plans["candidates"]


def test_append_dedup_time_indexed_corpus(test_collection):
    """The dedup index composes with a TIME-partitioned corpus (the
    realistic shape: documents keyed by ingestion time, doc_id as a
    regular column): probe decisions are layout-independent and the
    append itself stays partition-scoped."""
    c = test_collection
    docs = _docs(range(8))
    docs.index = pd.date_range("2024-01-01", periods=8, freq="D")
    c.write("tdocs", docs)
    c.build_dedup_index("tidx", "tdocs")
    inc = _docs([900], tail="wholly new closing words about shuffles")
    inc.loc[0, "text"] = (
        "totally fresh prose about adaptive execution and skew salting"
    )
    dup = _docs([901])
    dup.loc[0, "text"] = _docs(range(8)).loc[4, "text"]
    batch = pd.concat([inc, dup])
    batch.index = pd.date_range("2024-02-01", periods=2, freq="D")
    rep = c.append_dedup("tdocs", batch, "tidx")
    assert rep["dropped_ids"] == [901]
    ids = {
        r["doc_id"]
        for r in c.item("tdocs").data.select("doc_id").collect()
    }
    assert ids == set(range(8)) | {900}


def test_fold_preserves_concurrent_delta_appends(corpus, monkeypatch):
    """Delta rows appended WHILE the fold runs must not be dropped by
    the post-fold trim: only the pinned (read) files are removed; the
    late rows stay live and the next fold absorbs them."""
    c = corpus
    c.append_dedup("corpus", _docs([600]).assign(
        text=["original delta content about broadcast hash joins"]
    ), "cidx")
    assert c.item_exists("cidx__docs_delta")

    late = _docs([601]).assign(
        text=["late-arriving prose about sort merge exchanges entirely"]
    )
    fired = {}
    orig_write = c.write

    def hooked(item, data, **kw):
        # first write of the fold (the band-item rewrite): sneak a
        # concurrent append into the delta tier
        if "x" not in fired and item == "cidx":
            fired["x"] = True
            c.append_dedup("corpus", late, "cidx")
        return orig_write(item, data, **kw)

    monkeypatch.setattr(c, "write", hooked)
    folded = c.refresh_dedup_index("cidx")
    monkeypatch.undo()
    assert fired, "test premise: the concurrent append must have run"
    assert folded["docs_folded"] == 1  # only the pinned delta row

    # the late row survived the trim — still in the delta tier
    late_ids = {
        r["doc_id"]
        for r in c.item("cidx__docs_delta").data.select("doc_id").collect()
    }
    assert late_ids == {601}
    # and it still blocks its duplicate
    rep = c.append_dedup("corpus", late.assign(doc_id=[602]), "cidx")
    assert rep["dropped_ids"] == [602]
    # second fold absorbs it
    folded2 = c.refresh_dedup_index("cidx")
    assert folded2["docs_folded"] == 1
    assert _delta_gone(c, "cidx__docs_delta")


def test_build_index_refuses_partial_overwrite(corpus):
    from pystore_spark.exceptions import ItemExistsError

    with pytest.raises(ItemExistsError, match="already exist"):
        corpus.build_dedup_index("cidx", "corpus")
    # explicit overwrite rebuilds cleanly
    res = corpus.build_dedup_index("cidx", "corpus", overwrite=True)
    assert res["index_item"] == "cidx"


def test_multi_day_ingest_lifecycle(corpus):
    """The real operating loop: several days of append_dedup with a
    nightly maintain() fold in between. Invariants checked every day:
    corpus ids unique, every corpus doc indexed exactly once (band
    rows = docs x bands after each fold), and re-sending any earlier
    day's batch is fully dropped regardless of which tier holds it."""
    c = corpus
    days = [
        _docs([1000 + i], tail=f"day {i} distinct closing words "
              + f"topic{i} " * 4)
        for i in range(4)
    ]
    # make each day genuinely novel text
    for i, d in enumerate(days):
        d.loc[d.index[0], "text"] = (
            f"day {i} wholly original narrative about "
            + " ".join(f"term{i}_{j}" for j in range(30))
        )
    n_base = 10
    for i, batch in enumerate(days):
        rep = c.append_dedup("corpus", batch, "cidx")
        assert rep["n_appended"] == 1, f"day {i} batch must be novel"
        # re-sending an EARLIER day (new ids) must drop fully
        if i >= 1:
            old = days[i - 1].assign(doc_id=[5000 + i])
            rep2 = c.append_dedup("corpus", old, "cidx")
            assert rep2["n_appended"] == 0, f"day {i}: replay not caught"
        if i % 2 == 1:  # nightly fold every other day
            c.maintain("cidx")
        ids = [
            r["doc_id"]
            for r in c.item("corpus").data.select("doc_id").collect()
        ]
        assert len(ids) == len(set(ids)), "duplicate ids in corpus"
        assert len(ids) == n_base + i + 1

    # final fold: index row counts must equal corpus docs exactly
    c.maintain("cidx")
    n_docs = c.item("corpus").data.count()
    assert c.item("cidx__docs").data.count() == n_docs
    assert c.item("cidx").data.count() == n_docs * 4
    assert _delta_gone(c, "cidx__docs_delta")


def test_dedup_index_string_ids(test_collection):
    """No numeric-id assumptions anywhere in the index: string doc
    ids flow through band rows, docs rows, probe in-filters and the
    drop-set frame."""
    c = test_collection
    docs = _docs(range(6))
    docs["doc_id"] = [f"doc-{i:03d}" for i in range(6)]
    c.write("sdoc", docs, index_col="doc_id")
    c.build_dedup_index("sdidx", "sdoc")
    inc = pd.DataFrame({
        "doc_id": ["new-a", "new-b"],
        "text": [docs.loc[2, "text"],
                 "fresh original content about tungsten code generation"],
    })
    rep = c.append_dedup("sdoc", inc, "sdidx")
    assert rep["dropped_ids"] == ["new-a"]
    ids = {r["doc_id"] for r in c.item("sdoc").data.select("doc_id").collect()}
    assert "new-b" in ids and "new-a" not in ids


def test_husk_delta_accepts_new_appends_and_trims_again(corpus):
    """After a fold leaves a schema-only empty delta husk, later
    appends land in it (whatever its layout), probe correctly, and the
    next fold + trim cycle still works."""
    c = corpus
    d1 = _docs([800]).assign(
        text=["first cycle content about whole stage codegen spans"]
    )
    c.append_dedup("corpus", d1, "cidx")
    c.refresh_dedup_index("cidx")  # delta now absent or empty husk

    d2 = _docs([801]).assign(
        text=["second cycle content about exchange reuse and aqe"]
    )
    rep = c.append_dedup("corpus", d2, "cidx")
    assert rep["n_appended"] == 1
    # the new delta row blocks its duplicate
    rep2 = c.append_dedup("corpus", d2.assign(doc_id=[802]), "cidx")
    assert rep2["dropped_ids"] == [802]
    folded = c.refresh_dedup_index("cidx")
    assert folded["docs_folded"] == 1
    n_docs = c.item("corpus").data.count()
    assert c.item("cidx__docs").data.count() == n_docs
    assert c.item("cidx").data.count() == n_docs * 4


def test_append_dedup_sugar_kwarg(corpus):
    """append(item, df, dedup_index='cidx') is sugar for
    append_dedup (the verdict's `append(dedup=...)` phrasing)."""
    c = corpus
    inc = _docs([950]).assign(text=[_docs([3]).loc[0, "text"]])
    rep = c.append("corpus", inc, dedup_index="cidx")
    assert rep["dropped_ids"] == [950]
    assert c.item("corpus").data.count() == 10


def test_fold_upserts_reappended_id(corpus):
    """A doc re-appended under the SAME id with changed text: the fold
    must install the NEW generation's bands/sh and remove the old ones
    (dropDuplicates picked an arbitrary winner before)."""
    c = corpus
    new_text = (
        "a completely rewritten document about vectorized readers "
        "and columnar batch execution " * 2
    )
    # doc_id 3 already exists in the corpus AND the index base; force a
    # delta generation for it with different content
    from pystore_spark import dedup_index as DI

    meta = c.get_item_metadata("cidx")[DI.META_KEY]
    feats = DI._compute_features(
        c, meta, c.spark.createDataFrame(
            pd.DataFrame({"doc_id": [3], "text": [new_text]})
        )
    )
    DI._index_delta_append(c, meta, feats)
    c.refresh_dedup_index("cidx")

    # index has exactly one generation per doc; doc 3's sh is the NEW one
    assert c.item("cidx__docs").data.count() == 10
    assert c.item("cidx").data.count() == 40
    got_sh = c.item("cidx__docs").data.filter("doc_id = 3").collect()[0]["sh"]
    want_sh = feats.collect()[0]["sh"]
    assert sorted(got_sh) == sorted(want_sh), "fold must keep the NEW sh"
    # and probing with the new text now drops (matches the updated entry)
    drop = {
        r["doc_id"]
        for r in c.probe_dedup_index(
            "cidx",
            c.spark.createDataFrame(
                pd.DataFrame({"doc_id": [777], "text": [new_text]})
            ),
        ).collect()
    }
    assert drop == {777}


# ---------------------------------------------------------------------------
# cross-item scope (round-6: one shared index over several corpus items)
# ---------------------------------------------------------------------------
def test_build_over_item_list_and_cross_item_append(test_collection):
    """A multi-source corpus shares ONE index: build over [A1, A2],
    then append_dedup into item B — the batch drops near-dups of
    content stored in EITHER build source, and B's survivors join the
    index scope for the next batch."""
    c = test_collection
    c.write("src_a1", _docs(range(5)), index_col="doc_id")
    c.write("src_a2", _docs(range(5, 10)), index_col="doc_id")
    c.build_dedup_index("xidx", ["src_a1", "src_a2"])
    meta = c.get_item_metadata("xidx")[DI.META_KEY]
    assert meta["source_items"] == ["src_a1", "src_a2"]
    assert meta["source_item"] == "src_a1"  # back-compat pointer
    # docs tier covers BOTH sources
    assert c.item("xidx__docs").data.count() == 10

    # batch: near-dup of doc 2 (in A1), near-dup of doc 7 (in A2),
    # one novel doc
    batch = pd.concat([
        _docs([100], tail="x"),  # novel long tail → unique
        _docs([2]).assign(doc_id=101),   # same text as doc 2
        _docs([7]).assign(doc_id=102),   # same text as doc 7
    ])
    batch.loc[batch.doc_id == 100, "text"] = (
        "completely different prose about catalyst and tungsten "
        "with plenty of its own distinctive vocabulary to shingle"
    )
    rep = c.append_dedup("corpus_b", batch, "xidx", create_missing=True)
    assert rep["n_dropped"] == 2
    assert set(rep["dropped_ids"]) == {101, 102}
    assert rep["n_appended"] == 1

    # scope widened automatically; verify audits A1 ∪ A2 ∪ B clean
    meta2 = c.get_item_metadata("xidx", use_cache=False)[DI.META_KEY]
    assert meta2["source_items"] == ["src_a1", "src_a2", "corpus_b"]
    audit = c.verify_index(None, "xidx")
    assert audit["ok"], audit
    assert audit["n_corpus_docs"] == 11
    assert audit["per_item"] == {
        "src_a1": {"n_docs": 5, "n_missing": 0},
        "src_a2": {"n_docs": 5, "n_missing": 0},
        "corpus_b": {"n_docs": 1, "n_missing": 0},
    }

    # batch 2 into B must also drop against B's OWN survivor (doc 100
    # landed in corpus_b, not in either build source)
    b2 = _docs([200])
    b2.loc[:, "text"] = batch.loc[batch.doc_id == 100, "text"].iloc[0]
    rep2 = c.append_dedup("corpus_b", b2, "xidx")
    assert rep2["dropped_ids"] == [200]


def test_cross_item_verify_and_repair_accounting(test_collection):
    """Out-of-band drift in ONE item of a shared-scope index: verify
    pins the missing docs to that item, repair re-reads only them —
    from the right item — and the audit closes."""
    c = test_collection
    c.write("va", _docs(range(4)), index_col="doc_id")
    c.build_dedup_index("vidx", "va")
    # item B created OUT-OF-BAND (plain write, never append_dedup):
    c.write("vb", _docs(range(10, 14)), index_col="doc_id")
    audit = c.verify_index(["va", "vb"], "vidx")
    assert not audit["ok"]
    assert audit["per_item"]["va"]["n_missing"] == 0
    assert audit["per_item"]["vb"]["n_missing"] == 4
    fix = c.repair_index(["va", "vb"], "vidx")
    assert fix["n_reindexed"] == 4
    audit2 = c.verify_index(["va", "vb"], "vidx")
    assert audit2["ok"], audit2
    # the repaired rows carry REAL features (drawn from item vb): a
    # near-dup of a vb doc now drops
    dup = _docs([12]).assign(doc_id=999)
    rep = c.append_dedup("vb", dup, "vidx")
    assert rep["dropped_ids"] == [999]


def test_verify_none_requires_recorded_scope(test_collection, spark):
    """verify_index(None, idx) on an index built from a bare
    DataFrame (no recorded source items) must fail loudly, not audit
    an empty corpus."""
    from pystore_spark.exceptions import StorageError

    c = test_collection
    df = spark.createDataFrame(
        _docs(range(3))
    )
    c.build_dedup_index("didx", df)
    with pytest.raises(StorageError, match="no source items"):
        c.verify_index(None, "didx")


def test_concurrent_source_registration_cas(test_collection):
    """Two appenders targeting DIFFERENT items under one shared index
    register their targets concurrently — the sidecar CAS must land
    both (a lost update would silently shrink verify's audit scope)."""
    import threading

    c = test_collection
    c.write("reg_src", _docs(range(4)), index_col="doc_id")
    c.build_dedup_index("regidx", "reg_src")

    def run(tag, ids):
        batch = _docs(ids, tail=f"novel {tag} " * 5)
        c.append_dedup(
            f"reg_{tag}", batch, "regidx", create_missing=True
        )

    t1 = threading.Thread(target=run, args=("x", [100, 101]))
    t2 = threading.Thread(target=run, args=("y", [200, 201]))
    t1.start(); t2.start(); t1.join(); t2.join()
    meta = c.get_item_metadata("regidx", use_cache=False)[DI.META_KEY]
    assert set(meta["source_items"]) == {"reg_src", "reg_x", "reg_y"}
    assert c.verify_index(None, "regidx")["ok"]


def test_bulk_backfill_drop_set_stays_distributed(corpus, monkeypatch):
    """Round-9 verdict #1: a high-dup-rate bulk backfill (the normal
    case when re-ingesting an overlapping crawl) must never collect
    the full drop set onto the driver. With DROP_ID_SAMPLE pinned
    below the drop count: the report carries the exact n_dropped, a
    capped+sorted id sample with the truncated flag, and the append
    still filters by the FULL distributed drop frame (survivors exact,
    index delta gets survivors only)."""
    c = corpus
    stored = _docs(range(10))
    monkeypatch.setattr(DI, "DROP_ID_SAMPLE", 4)
    dup_ids = list(range(100, 112))  # 12 near-dups of stored docs
    inc = pd.DataFrame(
        {
            "doc_id": dup_ids + [500, 501],
            "text": [
                stored.loc[i % 10, "text"] + " tiny edit"
                for i in dup_ids
            ]
            + [
                "a wholly novel document about adaptive query "
                "execution and shuffle partition coalescing",
                "another novel text concerning broadcast joins and "
                "skew salting strategies in distributed engines",
            ],
        }
    )
    rep = c.append_dedup("corpus", inc, "cidx")
    assert rep["n_incoming"] == 14
    assert rep["n_dropped"] == 12
    assert rep["n_appended"] == 2
    assert rep["dropped_ids_truncated"] is True
    assert rep["dropped_ids"] == [100, 101, 102, 103]  # sorted cap
    got = {
        r["doc_id"]
        for r in c.item("corpus").data.select("doc_id").collect()
    }
    assert got == set(range(10)) | {500, 501}
    # delta tier indexed ONLY the survivors (anti-join on the full
    # distributed frame, not the truncated sample)
    delta_ids = {
        r["doc_id"]
        for r in c.item("cidx__docs_delta").data.select("doc_id").collect()
    }
    assert delta_ids == {500, 501}


def test_probe_returns_distributed_frame(corpus, spark):
    """probe() now returns the drop set as a distributed frame whose
    plan is the probe itself (no driver createDataFrame round-trip):
    schema is (<id_col>,) with the incoming id type, values exact."""
    c = corpus
    stored = _docs(range(10))
    inc = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [700, 701],
                "text": [
                    stored.loc[2, "text"],
                    "fresh content about columnar layouts and zone "
                    "maps pruning parquet row groups at scan time",
                ],
            }
        )
    )
    drop = c.probe_dedup_index("cidx", inc)
    assert drop.columns == ["doc_id"]
    assert drop.schema["doc_id"].dataType.simpleString() == "bigint"
    assert [r["doc_id"] for r in drop.collect()] == [700]


def test_spark_append_dedup_deterministic_no_warning(corpus, spark):
    """A dedup-ingest append with drops puts an anti-join into the
    append input, which used to fire merge_append's nondeterminism
    warning and leave keep-last winners to task scheduling. The path
    now stamps a pre-join input-order ordinal (merge.INPUT_ORD_COL)
    and ranks by it: no warning, the LAST input occurrence wins even
    though the merged plan contains the shuffling join, and the
    ordinal never reaches storage."""
    import warnings as W

    c = corpus
    stored = _docs(range(10))
    pdf = pd.DataFrame(
        {
            "doc_id": [300, 301, 301],
            "text": [
                stored.loc[4, "text"],  # near-dup → non-empty drop set
                "candidate one entirely novel words about engines",
                "candidate two the final winner with novel content",
            ],
        }
    )
    inc = spark.createDataFrame(pdf)
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        rep = c.append_dedup("corpus", inc, "cidx")
    assert rep["n_dropped"] == 1 and rep["n_appended"] >= 1
    assert not [
        w for w in rec if "nondeterministic" in str(w.message)
    ], [str(w.message) for w in rec]
    rows = (
        c.item("corpus").data.filter("doc_id = 301")
        .select("text").collect()
    )
    assert len(rows) == 1
    assert rows[0]["text"].startswith("candidate two")
    assert "_ord_input" not in c.item("corpus").data.columns


def test_append_dedup_keep_all_into_bucketed_target(corpus, spark):
    """ADVICE r11: the input-order ordinal stamp is gated on the
    strategies whose winners it decides (keep_first/keep_last). A
    dedup-append with drops into a BUCKETED target — which accepts
    only keep_all with an exact name+type schema match — must not
    grow a surprise _ord_input column and fail validation."""
    c = corpus
    stored = _docs(range(10))
    c.write(
        "bcorpus",
        spark.createDataFrame(_docs(range(10))),
        bucket_by="doc_id",
        n_buckets=4,
    )
    pdf = pd.DataFrame(
        {
            "doc_id": [900, 901],
            "text": [
                stored.loc[3, "text"],  # near-dup → non-empty drop set
                "a wholly novel document about bucketed appends",
            ],
        }
    )
    inc = spark.createDataFrame(pdf).select("doc_id", "text")
    rep = c.append_dedup(
        "bcorpus", inc, "cidx", duplicate_handling="keep_all"
    )
    assert rep["n_dropped"] == 1 and rep["n_appended"] == 1
    out = c.item("bcorpus").data
    assert "_ord_input" not in out.columns
    assert out.filter("doc_id = 901").count() == 1


def test_append_dedup_sugar_threaded(test_collection):
    c = test_collection
    docs = pd.DataFrame({
        "doc_id": range(4),
        "text": [
            "alpha beta gamma delta epsilon zeta " + f"tail {i} " * 5
            for i in range(4)
        ],
    })
    c.write("tcorp", docs, index_col="doc_id")
    c.build_dedup_index("tcidx", "tcorp")
    inc = pd.DataFrame({
        "doc_id": [50],
        "text": ["wholly new narrative about shuffle partitions"],
    })
    assert c.append("tcorp", inc, dedup_index="tcidx", threaded=True) is None
    c.wait_for_tasks()
    assert c.item("tcorp").data.count() == 5
