"""Persistent incremental near-dedup index.

The batch pipeline (functions/dedup.py:near_dedup, reference behavior
RefinedWeb/SlimPajama-style) re-derives MinHash signatures for the
WHOLE frame it is handed — appending one day of documents to a 100 TB
curated item would re-sign the corpus. This module mirrors the
persistent vector-index pattern (collection.py:build_vector_index):
the corpus' MinHash band keys and shingle-hash sets persist as regular
engine items, maintained incrementally on append, so deduplicating an
incoming batch costs O(new docs + touched index files) — the stored
corpus is never re-read, let alone re-signed.

Index layout (all regular engine items — manifest MVCC, snapshots,
time travel, maintain() all apply):

* ``{index}`` — the BAND item: one row per (doc, band),
  ``(bkey BIGINT, band INT, <id_col>)``, range-partitioned and sorted
  by ``bkey`` with a manifest zonemap on it. ``bkey`` is the first 14
  hex digits of the band-slice md5 as int64 — numeric so the zonemap
  prunes (string footer stats are truncated/unreliable, see
  manifest.gather_file_stats); truncating the digest only MERGES
  buckets (extra candidates, removed by verification), never splits
  one, so recall is unaffected. A probe's ``bkey in (...)`` filter
  prunes index files on the driver — the inverted-list read.
* ``{index}__docs`` — the VERIFICATION item: one row per doc,
  ``(<id_col>, sh ARRAY<BIGINT>)`` — the distinct shingle-hash set,
  sorted by id with a zonemap, so fetching candidate docs' sets
  prunes to the touched id ranges. Exact Jaccard over the hash sets
  equals shingle-set Jaccard up to 2^-56 collisions.
* ``{index}__bands_delta`` / ``{index}__docs_delta`` — LSM delta
  tier: the same rows plus an ``added_at`` time index. Appends land
  here partition-scoped (O(new)); the delta is unsorted-by-key so
  probes scan it whole — it stays small because
  :func:`refresh_index` (wired into ``Collection.maintain``) folds it
  into the sorted base tier, restoring tight pruning. Classic
  LSM: cheap writes into a small unsorted tier, periodic merge into
  the sorted one.

Scale notes: signature/feature computation is a linear projection
over the INCOMING batch only; candidate generation is a broadcast
join of the (small) incoming band set against the pruned band item;
verification joins only candidate ids. No stage touches the corpus
item. The quadratic term is per-band-bucket, as in the batch
pipeline.
"""

from __future__ import annotations

import logging
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pystore_spark.exceptions import StorageError
from pystore_spark.functions.dedup import (
    jaccard,
    lsh_band_keys,
    minhash_signature,
)
from pystore_spark.functions.text import shingles

_log = logging.getLogger(__name__)

META_KEY = "_dedup_index"
# above this many probe keys / candidate ids, skip the driver-side
# in-filter (its plan-construction cost outgrows the pruning win) and
# rely on the join alone
MAX_PUSHDOWN_KEYS = 20_000

#: cap on DRIVER-collected dropped-id samples in ingest reports. The
#: drop set itself stays a distributed frame (survivors are carved out
#: by left-anti joins, never ``isin`` of a collected list); only a
#: sorted sample of at most this many ids rides the report dict.
DROP_ID_SAMPLE = 10_000

# test hook: when set to a list, _probe_drop_frame appends (stage, physical
# plan) pairs so plan-shape tests can assert the broadcast/no-cartesian
# discipline of the probe's INTERNAL plans (the public API collects
# eagerly, so the registry-wide plan sweep can't see them)
DEBUG_CAPTURE_PLANS: list | None = None


def _capture(stage: str, df: DataFrame) -> None:
    if DEBUG_CAPTURE_PLANS is not None:
        DEBUG_CAPTURE_PLANS.append(
            (stage, df._jdf.queryExecution().executedPlan().toString())
        )


def _hash56(col) -> Any:
    """First 14 hex digits of md5 as int64 — the shared engine/oracle
    hashing primitive (functions/dedup.py:minhash_signature h1)."""
    return F.conv(F.substring(col, 1, 14), 16, 10).cast("bigint")


def shingle_hashes(text_col: str, shingle_n: int):
    """Distinct int64 shingle-hash set (distinct AFTER hashing, so the
    DuckDB oracle's list_distinct(list_transform(...)) matches even
    under collisions)."""
    return F.array_distinct(
        F.transform(
            shingles(text_col, shingle_n), lambda s: _hash56(F.md5(s))
        )
    )


def doc_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(id, sh: array<bigint>, bkeys: array<bigint>) — one linear
    pass, no shuffle."""
    rows = num_hashes // bands
    sig = minhash_signature(shingles(text_col, shingle_n), num_hashes)
    bkeys = F.transform(
        lsh_band_keys(sig, bands, rows), lambda k: _hash56(k)
    )
    return df.select(
        F.col(id_col),
        shingle_hashes(text_col, shingle_n).alias("sh"),
        bkeys.alias("bkeys"),
    )


def explode_bands(feats: DataFrame, id_col: str) -> DataFrame:
    """(bkey, band, id) rows for the band item."""
    return feats.select(
        F.col(id_col), F.posexplode("bkeys").alias("band", "bkey")
    ).select("bkey", "band", id_col)


def build_index(
    col,
    index_item: str,
    source,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    overwrite: bool = False,
) -> dict:
    """Full build of the persistent index over a stored item (by
    name), a LIST of item names (a multi-source corpus sharing ONE
    index — ids must be globally unique across the items), or a
    DataFrame. One corpus pass; after this, appends never re-sign the
    corpus. The covered items are recorded in the index sidecar
    (``source_items``) and grow automatically as
    :func:`append_with_dedup` targets new items, so
    :func:`verify_index`/:func:`repair_index` audit the WHOLE corpus
    the index answers for — per item."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into "
            f"bands ({bands})"
        )
    if not overwrite:
        # fail BEFORE any write: the index is two coupled items, and
        # hitting ItemExistsError between the band write and the docs
        # write would leave them inconsistent
        from pystore_spark.exceptions import ItemExistsError

        taken = [
            n
            for n in (index_item, f"{index_item}__docs")
            if col.item_exists(n)
        ]
        if taken:
            raise ItemExistsError(
                f"dedup index items {taken} already exist; use "
                "overwrite=True to rebuild"
            )
    source_items: list[str] = []
    if isinstance(source, str):
        source_items = [source]
        df = _read_frame(col, source)
    elif isinstance(source, (list, tuple)):
        source_items = list(dict.fromkeys(source))  # order-stable dedup
        if not source_items:
            raise ValueError("source item list is empty")
        df = _read_frame(col, source_items[0])
        for nm in source_items[1:]:
            df = df.unionByName(_read_frame(col, nm))
    else:
        df = source
    # one corpus pass: the band write and the docs write both consume
    # the materialized features instead of re-hashing the corpus
    feats = doc_features(
        df, text_col, id_col, num_hashes, bands, shingle_n
    ).localCheckpoint(eager=True)
    meta = {
        "text_col": text_col,
        "id_col": id_col,
        "threshold": float(threshold),
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "shingle_n": int(shingle_n),
        "docs_item": f"{index_item}__docs",
        "bands_delta": f"{index_item}__bands_delta",
        "docs_delta": f"{index_item}__docs_delta",
        # source_item kept for single-item back-compat readers;
        # source_items is the authoritative multi-item corpus scope
        "source_item": source_items[0] if source_items else None,
        "source_items": source_items,
    }
    col.write(
        index_item,
        explode_bands(feats, id_col),
        index_col="bkey",
        zonemap=["bkey"],
        overwrite=overwrite,
        sidecar_extra={META_KEY: meta},
    )
    col.write(
        meta["docs_item"],
        feats.select(id_col, "sh"),
        index_col=id_col,
        zonemap=[id_col],
        overwrite=overwrite,
        sidecar_extra={META_KEY + "_role": "docs"},
    )
    # stale deltas from a previous index generation must not leak in
    for d in (meta["bands_delta"], meta["docs_delta"]):
        if col.item_exists(d):
            col.delete_item(d)
    return {
        "index_item": index_item,
        "bands": bands,
        "num_hashes": num_hashes,
        "threshold": float(threshold),
    }


def _index_meta(col, index_item: str) -> dict:
    meta = (col.get_item_metadata(index_item) or {}).get(META_KEY)
    if not meta:
        raise StorageError(
            f"item {index_item!r} is not a dedup index "
            "(build_dedup_index creates one)"
        )
    return meta


def _source_items(meta: dict) -> list[str]:
    """The corpus items this index answers for — multi-item scope
    with single-item back-compat."""
    items = meta.get("source_items")
    if items:
        return list(items)
    return [meta["source_item"]] if meta.get("source_item") else []


def _register_source_item(
    col, index_item: str, item: str, meta_key: str = META_KEY
) -> None:
    """Record ``item`` in the index sidecar's ``source_items`` (CAS —
    concurrent appenders to different items both land). Makes
    verify/repair/maintain audit every corpus item the index has ever
    deduplicated into, without the caller re-listing them. Shared by
    the dedup and line indexes (``meta_key`` selects the sidecar)."""
    from pystore_spark import utils

    meta = (col.get_item_metadata(index_item) or {}).get(meta_key)
    if not meta:
        raise StorageError(
            f"item {index_item!r} carries no {meta_key!r} sidecar"
        )
    if item in _source_items(meta):
        return

    def add(m: dict) -> dict:
        idx = dict(m.get(meta_key) or {})
        items = list(idx.get("source_items") or (
            [idx["source_item"]] if idx.get("source_item") else []
        ))
        if item not in items:
            items.append(item)
        idx["source_items"] = items
        if not idx.get("source_item") and items:
            idx["source_item"] = items[0]
        m[meta_key] = idx
        return m

    utils.update_metadata_cas(col._item_path(index_item), add)
    col.clear_metadata_cache(index_item)


def _resolve_corpus_items(col, meta: dict, item) -> list[str]:
    """Normalize a verify/repair ``item`` argument: a name, a list of
    names, or None → the sidecar's recorded source_items."""
    if item is None:
        items = _source_items(meta)
        if not items:
            raise StorageError(
                "index records no source items — pass the corpus "
                "item name(s) explicitly"
            )
        return items
    if isinstance(item, str):
        return [item]
    return list(dict.fromkeys(item))


def _item_frame(col, it) -> DataFrame:
    """Item handle → Spark frame, backend-aware: a Spark-readable
    warehouse scans lazily (manifest-resolved, zonemap-pruned);
    driver-side-only backends (FakeS3) load through the Arrow read
    path — which honors the same filters and the handle's PINNED
    manifest — and re-enter Spark as a local relation. Driver-only
    backends are inherently driver-scale, so the materialization is
    bounded by construction."""
    if col.fs.spark_readable:
        return it.data
    pdf = it.to_pandas(engine="arrow").reset_index()
    return col.spark.createDataFrame(pdf)


def _read_frame(col, name: str, filters=None) -> DataFrame:
    return _item_frame(col, col.item(name, filters=filters))


def _union_tiers(
    col, base_item: str, delta_item: str, columns: list[str],
    filters=None,
) -> DataFrame:
    """Base tier ∪ delta tier — the LSM read path. ``filters`` prune
    base FILES via the manifest zonemap; the delta has no key zonemap
    until refresh_index folds it, but the same predicate still reaches
    its parquet scan (row-group statistics + row-level filter), so a
    small delta costs a footer read when nothing matches."""
    out = _read_frame(col, base_item, filters=filters).select(*columns)
    if col.item_exists(delta_item):
        out = out.unionByName(
            _read_frame(col, delta_item, filters=filters).select(
                *columns
            )
        )
    return out


def _compute_features(col, meta, incoming: DataFrame) -> DataFrame:
    """Batch features, MATERIALIZED (eager localCheckpoint — executor
    storage, one linear job): every later step (key collect, candidate
    join, verification, delta indexing) reuses them instead of
    re-hashing the batch per action."""
    return doc_features(
        incoming,
        meta["text_col"],
        meta["id_col"],
        meta["num_hashes"],
        meta["bands"],
        meta["shingle_n"],
    ).localCheckpoint(eager=True)


def _probe_drop_frame(
    col, index_item: str, meta: dict, feats: DataFrame, thr: float,
    exclude_old: DataFrame | None = None,
) -> DataFrame:
    """Drop set as a DISTRIBUTED one-column ``(<id_col>,)`` frame,
    materialized (eager localCheckpoint) so the callers' count /
    anti-join / sample actions reuse it without re-probing. The drop
    set stays off the driver: a bulk backfill of an overlapping crawl
    can drop millions of ids, and collecting them into an
    ``isin(...)`` In-expression is the one shape that would not
    survive that (round-9 verdict #1) — survivors are carved out with
    a left-anti join instead. O(new + touched index files); the
    corpus item is never read. ``exclude_old`` (a one-column id
    frame) removes candidates whose STORED side is one of those ids —
    the replay-repair path passes the batch's own ids so a probe
    re-run after the index appends landed reproduces the original
    run's drop set (the original probe saw none of the batch in the
    index; without the exclusion, intra-batch near-dup survivors
    would drop each other on replay)."""
    id_col = meta["id_col"]
    new_bands = explode_bands(feats, id_col).select(
        "bkey", "band", F.col(id_col).alias("_new_id")
    )

    # file pruning: push the incoming band-key set as an in-filter
    # when it is driver-bounded; the join below is the correctness
    # path either way
    keys = [
        r["bkey"]
        for r in new_bands.select("bkey").distinct().limit(
            MAX_PUSHDOWN_KEYS + 1
        ).collect()
    ]
    filters = (
        [("bkey", "in", sorted(keys))]
        if len(keys) <= MAX_PUSHDOWN_KEYS
        else None
    )
    if filters is None:
        _log.info(
            "dedup probe: %s+ distinct band keys — skipping in-filter "
            "pushdown, relying on the join", MAX_PUSHDOWN_KEYS,
        )
    stored_bands = _union_tiers(
        col, index_item, meta["bands_delta"],
        ["bkey", "band", id_col], filters=filters,
    ).select("bkey", "band", F.col(id_col).alias("_old_id"))

    # broadcast the INCOMING band set (batch-sized) against the pruned
    # index scan — the index side is the big one at corpus scale.
    # Materialize the candidate pairs: both the old-id collect and the
    # verification read them, and they are candidate-sized.
    cand_plan = (
        stored_bands.join(F.broadcast(new_bands), on=["bkey", "band"])
        .filter(F.col("_new_id") != F.col("_old_id"))
        .select("_new_id", "_old_id")
        .distinct()
    )
    if exclude_old is not None:
        excl = exclude_old.select(
            F.col(exclude_old.columns[0]).alias("_old_id")
        )
        cand_plan = cand_plan.join(
            F.broadcast(excl), on="_old_id", how="left_anti"
        )
    _capture("candidates", cand_plan)
    cand = cand_plan.localCheckpoint(eager=True)
    # verification: exact Jaccard over persisted shingle-hash sets,
    # fetched for candidate old ids only
    old_ids = [
        r["_old_id"]
        for r in cand.select("_old_id").distinct().limit(
            MAX_PUSHDOWN_KEYS + 1
        ).collect()
    ]
    if not old_ids:
        return feats.select(id_col).limit(0)
    doc_filters = (
        [(id_col, "in", sorted(old_ids))]
        if len(old_ids) <= MAX_PUSHDOWN_KEYS
        else None
    )
    stored_sh = _union_tiers(
        col, meta["docs_item"], meta["docs_delta"],
        [id_col, "sh"], filters=doc_filters,
    ).select(F.col(id_col).alias("_old_id"), F.col("sh").alias("_sh_old"))
    new_sh = feats.select(
        F.col(id_col).alias("_new_id"), F.col("sh").alias("_sh_new")
    )
    drop = (
        cand.join(stored_sh, on="_old_id")
        .join(F.broadcast(new_sh), on="_new_id")
        .filter(jaccard(F.col("_sh_new"), F.col("_sh_old")) >= thr)
        .select(F.col("_new_id").alias(id_col))
        .distinct()
    )
    _capture("verify", drop)
    return drop.localCheckpoint(eager=True)


def _drop_anti(
    df: DataFrame, id_col: str, drop_df: DataFrame | None,
    n_dropped: int,
) -> DataFrame:
    """Survivors of ``df`` under the drop frame — a left-anti join on
    ``id_col``, never an ``isin`` of a collected list (the drop set is
    O(batch duplicates) and must stay distributed). No-op when the
    drop set is empty."""
    if not n_dropped or drop_df is None:
        return df
    return df.join(
        drop_df.select(F.col(drop_df.columns[0]).alias(id_col)),
        on=id_col,
        how="left_anti",
    )


def _drop_sample(
    drop_df: DataFrame | None, id_col: str, n_dropped: int
) -> tuple[list, bool]:
    """Sorted, :data:`DROP_ID_SAMPLE`-capped id sample for report
    dicts — a TakeOrdered, never a full collect (the line_index.py:491
    discipline). Returns ``(sample, truncated)``."""
    if not n_dropped or drop_df is None:
        return [], False
    rows = drop_df.orderBy(id_col).limit(DROP_ID_SAMPLE).collect()
    return [r[id_col] for r in rows], n_dropped > DROP_ID_SAMPLE


def probe(
    col,
    index_item: str,
    incoming: DataFrame,
    threshold: float | None = None,
) -> DataFrame:
    """Incoming docs that near-duplicate the INDEXED corpus: returns
    the distinct ``(<id_col>,)`` drop set as a DISTRIBUTED frame (see
    :func:`_probe_drop_frame` for the plan shape) — callers anti-join
    it against the batch, so the drop set never lands on the driver."""
    meta = _index_meta(col, index_item)
    thr = meta["threshold"] if threshold is None else float(threshold)
    feats = _compute_features(col, meta, incoming)
    return _probe_drop_frame(col, index_item, meta, feats, thr)


#: base-item sidecar key holding replay markers of DELETED delta
#: tiers: {delta_item_name: {sink_key: batch_id}}. A repair or fold
#: that empties a delta must delete the item (a zero-file husk would
#: poison reads) — folding its markers into the base first keeps the
#: exactly-once guard answering, so a replayed batch does not
#: re-append rows the repair/fold just removed.
DELTA_COMMITS_KEY = "_delta_commits"


def _delta_base(name: str) -> str:
    """The surviving item that holds a deleted delta tier's fallback
    markers: strip the delta suffix (``x__bands_delta``/
    ``x__docs_delta`` → the index item ``x``; ``y__delta`` → ``y``)."""
    for suf in ("__bands_delta", "__docs_delta", "__delta"):
        if name.endswith(suf):
            return name[: -len(suf)]
    return name.rsplit("__", 1)[0]


def _preserve_delta_markers(col, delta_name: str) -> None:
    """Fold ``delta_name``'s replay markers into its base item's
    sidecar (see DELTA_COMMITS_KEY) before the delta item is
    deleted."""
    from pystore_spark import utils
    from pystore_spark.streaming import COMMITS_KEY

    markers = (col.get_item_metadata(delta_name) or {}).get(
        COMMITS_KEY
    )
    if not markers:
        return
    base = _delta_base(delta_name)
    if not col.item_exists(base):
        return

    def fold(m: dict) -> dict:
        dc = dict(m.get(DELTA_COMMITS_KEY) or {})
        cur = dict(dc.get(delta_name) or {})
        for k, v in markers.items():
            cur[k] = max(int(cur.get(k, -1)), int(v))
        dc[delta_name] = cur
        m[DELTA_COMMITS_KEY] = dc
        return m

    utils.update_metadata_cas(col._item_path(base), fold)
    col.clear_metadata_cache(base)


def rewrite_tiers_dropping(
    col,
    tiers,
    bad: DataFrame,
    join_col: str,
    base_items: set[str],
    rebuild_hint: str,
) -> list[str]:
    """The ONE stale-id tier-rewrite loop every index repair uses
    (dedup, line, vector): for each ``(name, index_col, zonemap,
    sidecar)`` tier, drop rows joining ``bad`` on ``join_col``,
    carrying streaming replay markers forward. An emptied DELTA tier
    is deleted (zero-file husks poison reads) with its markers folded
    into the base item first; an emptied BASE tier raises with
    ``rebuild_hint`` — that state is a rebuild, not a repair (and
    deleting it would destroy the index's sidecar). Returns the list
    of rewritten/deleted tier names."""
    from pystore_spark.streaming import COMMITS_KEY

    rewritten: list[str] = []
    for name, icol, zmap, sidecar in tiers:
        if not col.item_exists(name):
            continue
        frame = _read_frame(col, name)
        kept = frame.join(
            bad, join_col, "left_anti"
        ).localCheckpoint(eager=True)
        n_kept = kept.count()
        if n_kept == frame.count():
            continue  # this tier held none of the bad ids
        markers = (
            (col.get_item_metadata(name) or {}).get(COMMITS_KEY)
        )
        if markers:
            sidecar = dict(sidecar or {}) | {COMMITS_KEY: markers}
        if n_kept == 0:
            if name in base_items:
                raise StorageError(
                    f"repair would empty base tier {name!r} — the "
                    f"index no longer matches the corpus at all; "
                    f"rebuild with {rebuild_hint}"
                )
            _preserve_delta_markers(col, name)
            col.delete_item(name)
        else:
            col.write(
                name, kept, index_col=icol,
                zonemap=zmap, overwrite=True,
                sidecar_extra=sidecar,
            )
        rewritten.append(name)
    return rewritten


def _marker_current(col, name: str, marker: tuple | None) -> bool:
    """True when delta item ``name``'s sidecar already records this
    ``(sink_key, batch_id)`` replay marker — the per-index-item
    exactly-once guard. The DATA commit's marker says the batch's rows
    landed in the corpus; each index append carries its OWN marker so
    a crash between the data commit and the index appends (or between
    the two index appends) is repairable on replay instead of leaving
    documents permanently un-indexed. Markers of a DELETED delta tier
    answer from the base item's fallback map (DELTA_COMMITS_KEY)."""
    if marker is None:
        return False
    from pystore_spark.streaming import _last_applied

    key, bid = marker
    if col.item_exists(name) and _last_applied(
        col, name, key
    ) >= int(bid):
        return True
    base = _delta_base(name)
    if not col.item_exists(base):
        return False
    dc = (
        (col.get_item_metadata(base) or {}).get(DELTA_COMMITS_KEY)
        or {}
    ).get(name) or {}
    return int(dc.get(key, -1)) >= int(bid)


#: delta-item sidecar key recording WHICH ``added_at`` generation a
#: replay marker's append wrote: {sink_key: [batch_id, iso_ts]}. The
#: replay-repair probe uses it to exclude exactly the rows the crashed
#: run appended — and nothing older (a stored row for a re-sent id
#: that PRE-dates the crashed batch was visible to the original probe
#: and must stay visible on replay, or the replayed drop set diverges)
MARKER_TS_KEY = "_marker_added_at"


def _marker_sidecar(marker: tuple | None, ts=None) -> dict | None:
    if marker is None:
        return None
    from pystore_spark.streaming import COMMITS_KEY

    out: dict = {COMMITS_KEY: {marker[0]: int(marker[1])}}
    if ts is not None:
        out[MARKER_TS_KEY] = {
            marker[0]: [int(marker[1]), ts.isoformat()]
        }
    return out


def _marker_ts(col, name: str, marker: tuple | None):
    """The ``added_at`` generation ``marker``'s append stamped into
    delta item ``name`` (None when unrecorded — pre-stamp index
    layouts, or the delta was folded/deleted since)."""
    if marker is None or not col.item_exists(name):
        return None
    entry = (
        (col.get_item_metadata(name) or {}).get(MARKER_TS_KEY) or {}
    ).get(marker[0])
    if not entry or int(entry[0]) != int(marker[1]):
        return None
    from datetime import datetime

    return datetime.fromisoformat(entry[1])


def _replay_exclusion(
    col, meta: dict, incoming: DataFrame, marker: tuple | None
) -> DataFrame | None:
    """Stored-side ids a REPLAYED probe must ignore so it reproduces
    the original run's drop set: ONLY the rows the crashed run itself
    appended — identified by the ``added_at`` generation its marker
    stamped into each delta tier's sidecar (MARKER_TS_KEY), restricted
    to the batch's own ids. Rows for a re-sent id written by an
    EARLIER batch are deliberately kept: the original probe saw them
    (ADVICE r5: excluding all batch ids also hid those, letting
    near-dups of pre-stored content survive replay). Falls back to
    excluding the whole batch only when a tier's marker is current but
    its generation stamp is unreadable (legacy layout, or the delta
    was folded between crash and replay) — the documented
    determinism-assumes-fresh-ids degradation. Returns None when the
    crashed run demonstrably appended nothing (no exclusion needed)."""
    id_col = meta["id_col"]
    batch_ids = incoming.select(id_col).distinct()
    frames: list[DataFrame] = []
    for name in (meta["bands_delta"], meta["docs_delta"]):
        ts = _marker_ts(col, name, marker)
        if ts is not None:
            frames.append(
                _read_frame(col, name)
                .filter(F.col("added_at") == F.lit(ts))
                .select(id_col)
            )
        elif _marker_current(col, name, marker):
            return batch_ids
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.join(
        F.broadcast(batch_ids), on=id_col, how="left_semi"
    ).distinct()


def _probe_report(
    col, index_item: str, meta: dict, incoming: DataFrame,
    within_batch: bool = False,
    replay_marker: tuple | None = None,
    data_committed: bool = False,
) -> tuple[int, int, DataFrame | None, DataFrame, DataFrame | None, int]:
    """The probe phase of :func:`append_with_dedup`, append-free:
    optional within-batch near-dedup, feature computation, corpus
    probe. Returns ``(n_incoming, n_dropped, drop_df, feats,
    corpus_drop_df, n_corpus_dropped)`` — doc counts in id space (a
    batch with duplicate ids would otherwise report phantom appends);
    ``drop_df``/``corpus_drop_df`` are DISTRIBUTED one-column
    ``(<id_col>,)`` frames, materialized, or ``None`` when empty
    (the drop set never lands on the driver — callers anti-join it,
    see :func:`_drop_anti`); ``feats`` are the materialized features
    of the within-batch survivors. Also the probe half of
    ``Collection.ingest``'s decomposed line-index + dedup-index path.

    ``data_committed=True`` (replay repair) removes candidates the
    CRASHED run's own index appends stored — the marker-stamped
    generations resolved by :func:`_replay_exclusion` — so the re-run
    probe sees the index exactly as the original did."""
    from pystore_spark.functions.dedup import near_dedup

    id_col, text_col = meta["id_col"], meta["text_col"]
    wb_drop: DataFrame | None = None
    n_wb = 0
    probe_frame = incoming
    if within_batch:
        kept_wb = near_dedup(
            incoming, text_col, id_col,
            threshold=meta["threshold"],
            num_hashes=meta["num_hashes"],
            bands=meta["bands"],
            shingle_n=meta["shingle_n"],
        )
        wb_drop = (
            incoming.select(id_col)
            .distinct()
            .join(kept_wb.select(id_col), on=id_col, how="left_anti")
            .localCheckpoint(eager=True)
        )
        n_wb = wb_drop.count()
        if n_wb == 0:
            wb_drop = None
        probe_frame = kept_wb
    feats = _compute_features(col, meta, probe_frame)
    n_probe = feats.select(id_col).distinct().count()
    n_in = n_probe + n_wb
    if n_probe == 0:
        return n_in, n_wb, wb_drop, feats, None, 0
    corpus_drop = _probe_drop_frame(
        col, index_item, meta, feats, meta["threshold"],
        exclude_old=_replay_exclusion(col, meta, incoming, replay_marker)
        if data_committed
        else None,
    )
    n_cd = corpus_drop.count()
    if n_cd == 0:
        return n_in, n_wb, wb_drop, feats, None, 0
    # wb-dropped ids never reach the probe (feats are built from the
    # wb survivors), so the two drop sets are disjoint by construction
    drop_df = (
        corpus_drop
        if wb_drop is None
        else wb_drop.unionByName(corpus_drop).localCheckpoint(eager=True)
    )
    return n_in, n_wb + n_cd, drop_df, feats, corpus_drop, n_cd


def append_with_dedup(
    col,
    item: str,
    data: Any,
    index_item: str,
    within_batch: bool = False,
    create_missing: bool = False,
    replay_marker: tuple | None = None,
    data_committed: bool = False,
    _sink: dict | None = None,
    **append_kwargs: Any,
) -> dict:
    """Append ``data`` to ``item``, dropping documents that
    near-duplicate the already-stored corpus via the persistent index
    — then index the survivors (delta tier, O(new)). The daily
    100 TB-pipeline operation: cost scales with the batch, not the
    corpus.

    ``within_batch=True`` additionally near-dedups the incoming batch
    against itself (batch-sized cost) before probing. Returns
    ``{n_incoming, n_dropped, n_appended, dropped_ids}`` —
    ``dropped_ids`` is a sorted sample capped at
    :data:`DROP_ID_SAMPLE` (plus ``dropped_ids_truncated: True`` when
    capped); the full drop set stays a distributed frame and survivors
    are carved out by a left-anti join, so a bulk backfill with
    millions of duplicates never materializes ids on the driver.
    ``_sink`` (internal): when a dict is passed, the distributed drop
    frame is stashed under ``_sink["drop_df"]`` for sibling-index
    consumers (``Collection.ingest``).

    ``replay_marker=(sink_key, batch_id)`` stamps each index-delta
    append with its own exactly-once marker (streaming sinks);
    ``data_committed=True`` is the REPLAY-REPAIR mode: the data commit
    already landed (its marker said so), so the append is skipped, but
    the probe re-runs — deterministically: candidates from the index
    generations the CRASHED run itself appended (marker-stamped
    ``added_at``, see :func:`_replay_exclusion`) are excluded, so
    those rows cannot change the drop set, while rows for a re-sent
    id written by EARLIER batches stay visible exactly as the
    original probe saw them — and any index append whose marker is
    behind is re-applied. Without it a crash between the data commit
    and the index appends would leave the batch's documents
    permanently invisible to future probes."""
    import pandas as pd

    meta = _index_meta(col, index_item)
    id_col = meta["id_col"]
    if data_committed and replay_marker is not None and all(
        _marker_current(col, n, replay_marker)
        for n in (meta["bands_delta"], meta["docs_delta"])
    ):
        # clean replay (only the stream checkpoint write crashed):
        # data and index are both current — nothing to recompute
        return {
            "n_incoming": 0, "n_dropped": 0, "n_appended": 0,
            "dropped_ids": [], "replayed": True,
        }
    # a throwaway Spark view of the batch for feature computation; the
    # APPEND below filters the caller's ORIGINAL data so the target
    # item's own index/merge semantics apply untouched
    incoming, _, _, _ = col._prepare_input(data)
    n_in, n_dropped, drop_df, feats, corpus_drop_df, n_cd = (
        _probe_report(
            col, index_item, meta, incoming, within_batch,
            replay_marker=replay_marker, data_committed=data_committed,
        )
    )
    if _sink is not None:
        _sink["drop_df"] = drop_df
        _sink["n_dropped"] = n_dropped
    n_kept = n_in - n_dropped
    if n_kept:
        if not data_committed:
            if isinstance(data, pd.DataFrame):
                # pandas input is driver-sized by definition, so the
                # drop set (⊆ batch ids) is too — collecting it here
                # is bounded by data the caller already holds locally
                ids = (
                    set()
                    if drop_df is None
                    else {r[id_col] for r in drop_df.collect()}
                )
                kept_data: Any = (
                    data[~data[id_col].isin(ids)]
                    if id_col in data.columns
                    else data[~data.index.isin(ids)]
                )
            else:  # Spark DataFrame: drop set stays distributed
                kept_data = _drop_anti(data, id_col, drop_df, n_dropped)
                if (
                    n_dropped
                    and drop_df is not None
                    and "order_col" not in append_kwargs
                    and not (
                        create_missing and not col.item_exists(item)
                    )
                ):
                    # the anti-join reshuffles the batch, so keep-last
                    # winners would depend on task scheduling — stamp
                    # a pre-join input-order ordinal and rank by it
                    # (merge strips it; round-10 verdict #4). The
                    # ingest knows its own batch: no caller action,
                    # no nondeterminism warning for a well-ordered
                    # input. If the CALLER's batch plan is itself
                    # shuffle-derived, the stamp pins only this run's
                    # arbitrary layout — surface the original warning
                    # so the caller knows to pass order_col=.
                    # Gated on the strategies where input order picks
                    # winners: for keep_all/error the ordinal is dead
                    # weight (merge would strip it but pay an extra
                    # sort), and a bucketed target would reject the
                    # unexpected column outright (ADVICE r11).
                    from pystore_spark.merge import (
                        INPUT_ORD_COL,
                        _warn_if_order_unreliable,
                    )

                    if append_kwargs.get(
                        "duplicate_handling", "keep_last"
                    ) in ("keep_first", "keep_last"):
                        _warn_if_order_unreliable(
                            data, "append_dedup input"
                        )
                        kept_data = _drop_anti(
                            data.withColumn(
                                INPUT_ORD_COL,
                                F.monotonically_increasing_id(),
                            ),
                            id_col, drop_df, n_dropped,
                        )
                        append_kwargs = {
                            **append_kwargs,
                            "order_col": INPUT_ORD_COL,
                        }
            if create_missing and not col.item_exists(item):
                # streaming first batch: the target corpus doesn't
                # exist yet — create it (mirrors streaming.merge_sink's
                # first-batch write; the index itself must already
                # exist)
                col.write(item, kept_data, **append_kwargs)
            else:
                col.append(item, kept_data, **append_kwargs)
        # index the survivors from the MATERIALIZED features (no
        # re-hash, no probe re-execution)
        kept_feats = _drop_anti(feats, id_col, corpus_drop_df, n_cd)
        _index_delta_append(col, meta, kept_feats, marker=replay_marker)
    # a dedup-append into an item the index did not cover yet widens
    # the index's recorded corpus scope (cross-item dedup: one shared
    # index, several corpus items; verify/repair audit all of them)
    _register_source_item(col, index_item, item)
    sample, truncated = _drop_sample(drop_df, id_col, n_dropped)
    return {
        "n_incoming": n_in,
        "n_dropped": n_dropped,
        "n_appended": 0 if data_committed else n_kept,
        "dropped_ids": sample,
        **({"dropped_ids_truncated": True} if truncated else {}),
        **({"replayed": True} if data_committed else {}),
    }


def _index_delta_append(
    col, meta: dict, feats: DataFrame, marker: tuple | None = None
) -> None:
    """Stage the survivors' index rows (from the already-materialized
    feature frame) into the delta tier — time-indexed on ``added_at``
    so the engine's partition-scoped append touches only the current
    bucket. ``marker`` rides each append's sidecar and makes the
    per-item step idempotent under streaming replay (a tier whose
    marker is already current is skipped — it got the rows before the
    crash)."""
    from datetime import datetime, timezone

    id_col = meta["id_col"]
    # frozen DRIVER-side timestamp (session tz is UTC): the partition-
    # scoped append runs multiple jobs (bucket discovery, then the
    # write), and F.current_timestamp() re-evaluates per job — across
    # a day boundary the write would land in a bucket the merge never
    # selected, silently replacing that bucket's existing delta rows
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    ts = F.lit(now).alias("added_at")
    band_rows = explode_bands(feats, id_col).select(ts, "*")
    doc_rows = feats.select(ts, id_col, "sh")
    # the sidecar records marker → added_at generation, so a replay
    # can exclude exactly this append's rows (see _replay_exclusion)
    sidecar = _marker_sidecar(marker, ts=now)
    from pystore_spark.exceptions import (
        ConcurrentCommitError,
        ItemExistsError,
    )

    for name, rows in (
        (meta["bands_delta"], band_rows),
        (meta["docs_delta"], doc_rows),
    ):
        if _marker_current(col, name, marker):
            continue  # this tier already got the rows pre-crash
        if col.item_exists(name):
            col.append(
                name, rows, duplicate_handling="keep_all",
                sidecar_extra=sidecar,
            )
        else:
            try:
                col.write(
                    name, rows, index_col="added_at",
                    sidecar_extra=sidecar,
                )
            except (ConcurrentCommitError, ItemExistsError):
                # cross-item appenders sharing one index race to
                # CREATE the delta tier (two first-appends, two
                # must-not-exist puts) — the loser lands its rows as
                # a plain append instead of failing a committed data
                # append's indexing
                col.clear_metadata_cache(name)
                col.append(
                    name, rows, duplicate_handling="keep_all",
                    sidecar_extra=sidecar,
                )


def _latest_generation(delta: DataFrame, id_col: str) -> DataFrame:
    """Rows of each id's NEWEST append generation within a delta
    frame (every row of one append shares its ``added_at``): the
    upsert-fold keeps only these — older generations of a re-appended
    id are superseded, not folded."""
    mx = delta.groupBy(id_col).agg(F.max("added_at").alias("_mx"))
    return (
        delta.join(mx, on=id_col)
        .filter(F.col("added_at") == F.col("_mx"))
        .drop("_mx")
    )


def trim_delta(col, delta_item: str, pinned_it, id_col: str) -> None:
    """Drop the FOLDED rows from the delta after a fold, keeping rows
    a concurrent ``append_dedup`` landed mid-fold (deleting the whole
    item would silently lose them from the index — the
    maintain-vs-appender lost-update class). Row-level, not
    file-level: delta appends MERGE the current time bucket, so file
    identity does not survive a concurrent append. The rewrite is
    ``current ▷ pinned ids``, committed through the observed-state
    CAS guard (_atomic_install expect_files): a delta commit landing
    mid-trim raises ConcurrentCommitError and the trim recomputes —
    no check-then-act window. A fully-folded delta becomes a
    schema-only empty husk rather than being deleted (deletion cannot
    be CAS-guarded); refresh_index skips empty deltas. Driver-only
    backends keep the simple rewrite/delete (single-writer by
    construction, CollectionLock is the documented serialization
    there)."""
    from pystore_spark import manifest as mf
    from pystore_spark import utils
    from pystore_spark.partition import PartitionPlan, apply_layout

    if pinned_it is None or not col.item_exists(delta_item):
        return
    # trim by GENERATION (id, added_at), not bare id: a newer row for
    # the same id landed mid-fold must survive — the fold only
    # absorbed the pinned generations
    pinned_gens = (
        _item_frame(col, pinned_it)
        .select(id_col, "added_at")
        .distinct()
    )
    if not col.fs.spark_readable:
        # driver-side-only backends are single-writer by construction
        # (CollectionLock is the documented serialization there): the
        # simple rewrite/delete is race-free in practice
        it_cur = col.item(delta_item)
        from pystore_spark.streaming import COMMITS_KEY

        keep_markers = (it_cur.metadata or {}).get(COMMITS_KEY)
        if set((it_cur._manifest or {}).get("files") or []) == set(
            (pinned_it._manifest or {}).get("files") or []
        ):
            _preserve_delta_markers(col, delta_item)
            col.delete_item(delta_item)
            return
        late = _item_frame(col, it_cur).join(
            pinned_gens, on=[id_col, "added_at"], how="left_anti"
        )
        col.write(
            delta_item, late, index_col="added_at", overwrite=True,
            sidecar_extra={COMMITS_KEY: keep_markers}
            if keep_markers
            else None,
        )
        return
    from pystore_spark.partition import PARTITION_COL

    def attempt(_i: int) -> None:
        it_cur = col.item(delta_item)
        plan = it_cur._plan or PartitionPlan("time", freq="D")
        raw = it_cur.raw_frame()
        if PARTITION_COL in raw.columns:
            raw = raw.drop(PARTITION_COL)
        late = raw.join(
            pinned_gens, on=[id_col, "added_at"], how="left_anti"
        )
        sidecar = dict(it_cur.metadata)
        if late.isEmpty():
            # a time-partitioned write of an empty frame produces NO
            # data files — and an empty-file-set manifest would make
            # readers fall back to the (stale-polluted) directory
            # listing. A flat single-partition write keeps one
            # schema-only parquet: the delta becomes a safe empty
            # husk instead of being deleted (deletion cannot be
            # CAS-guarded; refresh_index skips empty deltas).
            plan_w = PartitionPlan("size", npartitions=1)
            shaped = late.coalesce(1)
            sidecar["_partition_plan"] = plan_w.to_dict()
        else:
            plan_w = plan
            shaped = apply_layout(
                late, plan, index_col="added_at", small=True
            )
        # CAS against the file set `late` was computed from: a delta
        # commit landing mid-trim raises instead of being clobbered,
        # and the retry recomputes against it.
        col._atomic_install(
            delta_item,
            lambda tmp: col._write_df(shaped, str(tmp), plan_w),
            sidecar,
            expect_files=mf.bucket_file_map(it_cur._manifest),
            expect_dv=dict((it_cur._manifest or {}).get("dv") or {}),
        )

    utils.retry_commit(attempt)
    col.clear_metadata_cache(delta_item)


def refresh_index(col, index_item: str) -> dict:
    """Fold the delta tier into the sorted, zonemapped base tier (the
    LSM merge — wired into ``Collection.maintain``). O(index), run on
    the maintenance cadence; appends stay O(new) in between. No-op
    when the delta is empty. Returns the DELTA row counts absorbed
    (``bands_folded`` / ``docs_folded``).

    Concurrency: the fold pins the delta generations it reads
    (``(id, added_at)``), and the post-fold trim removes exactly
    those — rows appended DURING the fold stay live and are absorbed
    by the next fold.

    UPSERT semantics: when an id exists in both tiers, the delta's
    LATEST generation wins — the base's rows for that id (stale bands
    included) are replaced, so re-appending a changed document
    refreshes its index entries instead of racing an arbitrary
    dropDuplicates winner."""
    meta = _index_meta(col, index_item)
    id_col = meta["id_col"]
    folded = {"bands_folded": 0, "docs_folded": 0}
    if not (
        col.item_exists(meta["bands_delta"])
        or col.item_exists(meta["docs_delta"])
    ):
        return folded
    bands_delta_it = (
        col.item(meta["bands_delta"])
        if col.item_exists(meta["bands_delta"])
        else None
    )
    docs_delta_it = (
        col.item(meta["docs_delta"])
        if col.item_exists(meta["docs_delta"])
        else None
    )
    folded["bands_folded"] = (
        _item_frame(col, bands_delta_it).count()
        if bands_delta_it is not None
        else 0
    )
    folded["docs_folded"] = (
        _item_frame(col, docs_delta_it).count()
        if docs_delta_it is not None
        else 0
    )
    if not (folded["bands_folded"] or folded["docs_folded"]):
        # both deltas are empty husks (post-trim) — skip the O(index)
        # base rewrite entirely
        return folded
    # the lazy union is SAFE against the overwrite it feeds: the
    # manifest commit stages the new files (executing this plan) while
    # the old manifest — and therefore the old files — are still live;
    # the swap happens strictly after. No index-sized materialization
    # to executor storage, which is what makes this fold viable when
    # the docs tier is corpus-scale.
    if bands_delta_it is not None:
        latest_b = _latest_generation(
            _item_frame(col, bands_delta_it), id_col
        )
        base_b = _read_frame(col, index_item).select(
            "bkey", "band", id_col
        )
        bands_new = base_b.join(
            latest_b.select(id_col).distinct(), on=id_col, how="left_anti"
        ).unionByName(
            latest_b.select("bkey", "band", id_col).distinct()
        )
        col.write(
            index_item, bands_new,
            index_col="bkey", zonemap=["bkey"], overwrite=True,
            sidecar_extra={META_KEY: meta},
        )
    if docs_delta_it is not None:
        latest_d = _latest_generation(
            _item_frame(col, docs_delta_it), id_col
        ).dropDuplicates([id_col])
        base_d = _read_frame(col, meta["docs_item"]).select(id_col, "sh")
        docs_new = base_d.join(
            latest_d.select(id_col), on=id_col, how="left_anti"
        ).unionByName(latest_d.select(id_col, "sh"))
        col.write(
            meta["docs_item"], docs_new,
            index_col=id_col, zonemap=[id_col], overwrite=True,
            sidecar_extra={META_KEY + "_role": "docs"},
        )
    for it in (bands_delta_it, docs_delta_it):
        if it is not None:
            trim_delta(col, it.item, it, id_col)
    return folded


def _corpus_ids_frame(col, items: list[str], id_col: str):
    """Distinct (id, source-item tag) over the multi-item corpus —
    the tag lets verify account missing docs PER ITEM while stale
    detection unions across all of them."""
    frames = [
        col.item(nm).data.select(id_col).distinct()
        .withColumn("_src", F.lit(nm))
        for nm in items
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.localCheckpoint(eager=True)


def verify_index(
    col, item, index_item: str, sample: int = 20
) -> dict:
    """Consistency audit between the corpus and its near-dedup index
    — the fsck a 100 TB store runs after an incident (crash, partial
    restore, out-of-band writes). ``item`` is a corpus item name, a
    LIST of names, or None — None audits every item the index sidecar
    records (``source_items``: the build sources plus every
    append_dedup target), with missing counts broken out per item
    under ``per_item``. Every check is an id-space join over
    column-pruned scans (ids only, never text), so the cost is one
    pass over the id columns of corpus + index:

    * ``missing`` — corpus docs absent from the index (appended
      outside ``append_dedup``, or a pre-repair crash between the
      data commit and the index appends): INVISIBLE to future probes
      — their near-duplicates sail through.
    * ``stale`` — indexed ids no longer in the corpus (item
      overwritten/rewritten out-of-band): they still drop future
      near-dups of content the corpus no longer holds.
    * ``tier_skew`` — ids present in exactly one of the band/docs
      tiers (a crash between the two delta appends): band-only ids
      generate candidates that can never verify; docs-only ids can
      never be candidates.

    Returns counts, up to ``sample`` example ids per category, and an
    overall ``ok``. Read-only — pair with ``append_dedup`` re-runs or
    ``build_dedup_index(overwrite=True)`` to repair."""
    meta = _index_meta(col, index_item)
    id_col = meta["id_col"]
    items = _resolve_corpus_items(col, meta, item)
    tagged = _corpus_ids_frame(col, items, id_col)
    corpus_ids = tagged.select(id_col).distinct().localCheckpoint(
        eager=True
    )
    docs_ids = _union_tiers(
        col, meta["docs_item"], meta["docs_delta"], [id_col]
    ).distinct().localCheckpoint(eager=True)
    bands_ids = _union_tiers(
        col, index_item, meta["bands_delta"], [id_col]
    ).distinct().localCheckpoint(eager=True)

    def _audit(frame):
        rows = [r[id_col] for r in frame.limit(sample + 1).collect()]
        n = frame.count()
        return n, sorted(rows[:sample])

    n_missing, missing = _audit(
        corpus_ids.join(docs_ids, id_col, "left_anti")
    )
    n_stale, stale = _audit(
        docs_ids.join(corpus_ids, id_col, "left_anti")
    )
    n_skew, skew = _audit(
        bands_ids.join(docs_ids, id_col, "left_anti").unionByName(
            docs_ids.join(bands_ids, id_col, "left_anti")
        )
    )
    # per-item accounting: docs of EACH corpus item absent from the
    # index (one aggregation over the tagged id frame)
    per_item_rows = (
        tagged.join(docs_ids, id_col, "left_anti")
        .groupBy("_src")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    miss_by = {r["_src"]: int(r["_n"]) for r in per_item_rows}
    tot_by = {
        r["_src"]: int(r["_n"])
        for r in tagged.groupBy("_src")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    }
    return {
        "items": items,
        "n_corpus_docs": corpus_ids.count(),
        "n_indexed_docs": docs_ids.count(),
        "n_missing": n_missing,
        "n_stale": n_stale,
        "n_tier_skew": n_skew,
        "missing_sample": missing,
        "stale_sample": stale,
        "tier_skew_sample": skew,
        "per_item": {
            nm: {
                "n_docs": tot_by.get(nm, 0),
                "n_missing": miss_by.get(nm, 0),
            }
            for nm in items
        },
        "ok": not (n_missing or n_stale or n_skew),
    }


def repair_index(col, item, index_item: str) -> dict:
    """Incremental repair of the drift :func:`verify_index` reports —
    the alternative to a full ``build_index(overwrite=True)`` re-sign
    of the corpus. ``item`` accepts a name, a list, or None (= the
    sidecar's recorded ``source_items``), exactly like
    :func:`verify_index`; re-indexing reads each missing doc from
    whichever corpus item holds it:

    * missing docs are re-indexed by reading ONLY those docs (id
      in-filter prunes corpus files via the zonemap when the drift set
      is driver-bounded), computing features for them alone, and
      appending to the delta tiers — O(drift), the corpus is never
      re-signed;
    * stale and tier-skew ids are dropped by rewriting each affected
      tier without them — O(index rows), which is orders of magnitude
      smaller than the corpus (ids + band keys + shingle hashes, no
      text).

    Serialize with concurrent appenders (CollectionLock or the
    maintain() window): the tier rewrites are whole-item replaces.
    Returns ``{n_reindexed, n_removed, tiers_rewritten}``."""
    meta = _index_meta(col, index_item)
    id_col = meta["id_col"]
    items = _resolve_corpus_items(col, meta, item)
    tagged = _corpus_ids_frame(col, items, id_col)
    corpus_ids = tagged.select(id_col).distinct().localCheckpoint(
        eager=True
    )
    docs_ids = _union_tiers(
        col, meta["docs_item"], meta["docs_delta"], [id_col]
    ).distinct().localCheckpoint(eager=True)
    bands_ids = _union_tiers(
        col, index_item, meta["bands_delta"], [id_col]
    ).distinct().localCheckpoint(eager=True)

    # id algebra, all from the SAME pre-repair snapshots:
    #   stale         — indexed, not in corpus → drop everywhere
    #   skew          — in exactly one tier; in-corpus skew is
    #                   *partial* indexing → drop the partial rows AND
    #                   re-index fresh; out-of-corpus skew is stale
    #   missing       — in corpus, in no docs tier → re-index
    # DROP runs before RE-INDEX: the rewrites read the live tiers, so
    # appending first would delete the rows just added for ids that
    # are simultaneously missing and band-skewed (the exact
    # crash-between-tier-appends drift this function targets).
    stale = docs_ids.join(corpus_ids, id_col, "left_anti")
    skew = bands_ids.join(docs_ids, id_col, "left_anti").unionByName(
        docs_ids.join(bands_ids, id_col, "left_anti")
    ).distinct().localCheckpoint(eager=True)
    bad = stale.unionByName(skew).distinct().localCheckpoint(eager=True)
    n_bad = bad.count()
    reindex = (
        corpus_ids.join(docs_ids, id_col, "left_anti")
        .unionByName(skew.join(corpus_ids, id_col, "left_semi"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_reindex = reindex.count()

    rewritten: list[str] = []
    if n_bad:
        rewritten = rewrite_tiers_dropping(
            col,
            (
                (index_item, "bkey", ["bkey"], {META_KEY: meta}),
                (meta["docs_item"], id_col, [id_col],
                 {META_KEY + "_role": "docs"}),
                (meta["bands_delta"], "added_at", None, None),
                (meta["docs_delta"], "added_at", None, None),
            ),
            bad, id_col,
            base_items={index_item, meta["docs_item"]},
            rebuild_hint="build_dedup_index(overwrite=True)",
        )

    # --- re-index AFTER the drops: missing + in-corpus-skew docs ----
    # each doc is read from whichever corpus item holds it; an id
    # stored in several items (against the uniqueness contract)
    # contributes one feature row via the trailing dropDuplicates
    n_reindexed = 0
    if n_reindex:
        if n_reindex <= MAX_PUSHDOWN_KEYS:
            # driver-bounded drift: in-filter prunes corpus FILES via
            # the manifest zonemap before any text is read
            mids = sorted(r[id_col] for r in reindex.collect())
            parts = [
                col.item(nm, filters=[(id_col, "in", mids)]).data
                for nm in items
            ]
        else:
            # mass drift (e.g. a large out-of-band backfill): stay
            # distributed — semi-join instead of a driver id list
            parts = [
                col.item(nm).data.join(reindex, id_col, "left_semi")
                for nm in items
            ]
        src = parts[0]
        for p in parts[1:]:
            src = src.unionByName(p)
        if len(parts) > 1:
            src = src.dropDuplicates([id_col])
        feats = _compute_features(col, meta, src)
        n_reindexed = feats.count()
        if n_reindexed:
            _index_delta_append(col, meta, feats)
    return {
        "n_reindexed": int(n_reindexed),
        "n_removed": int(n_bad),
        "tiers_rewritten": rewritten,
    }
