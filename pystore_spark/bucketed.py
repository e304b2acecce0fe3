"""Bucketed item storage — exchange-free co-located joins.

The one shuffle Spark can never optimize away on its own is the
exchange of BOTH sides of a fact-fact join: broadcast handles small
dims, AQE resizes partitions, but two 50 TB tables joining on a key
still each shuffle once — usually the dominant cost of the whole job.
Spark's native answer is **bucketed tables**: files are written
pre-hashed into N buckets on the join key (Murmur3 — the same hash
``repartition`` uses), the scan reports ``HashPartitioning(key, N)``,
and a join of two tables co-bucketed on the same key and N runs with
ZERO Exchange on either side. This module grafts that onto the
engine's manifest MVCC:

* **write**: ``Collection.write(..., bucket_by=key, n_buckets=N)``
  stages files via Spark's bucketed writer (a transient external
  table that is dropped immediately — only its files matter; the
  ``repartition(N, key)`` before it yields exactly one file per
  bucket) and commits them through the SAME staged-rename + manifest
  CAS protocol as every other writer. The commit's ``{token}-{name}``
  rename keeps the original file name — and with it the trailing
  ``_NNNNN`` bucket tag Spark's scan parses bucket ids from.
* **read**: bucket-aware scans only exist through the catalog, and a
  catalog table scans a DIRECTORY — which under MVCC also holds
  staged and stale-retained files. So each manifest version gets a
  ``_bucketview/v<N>/`` of hard links to exactly its live files
  (fs.link_or_copy — O(files) metadata ops locally), built once per
  version by whichever reader arrives first (tmp dir + atomic rename;
  losers reuse the winner's), and an external table is registered
  over it. Readers of version N keep a stable view; time travel
  (``version=`` / ``as_of=``) resolves to that version's view dir.
* **mutation**: ``append(duplicate_handling="keep_all")`` stages
  through the bucketed writer and commits as a pure file ADDITION
  (``scope="add"`` — several files per bucket are a valid layout;
  Spark just stops assuming per-bucket sortedness). Everything that
  would rewrite existing rows through the generic parquet writer —
  key-merging appends, compact, delete, merge_into, rebalance —
  raises with the workaround (rewrite with ``bucket_by=...,
  overwrite=True``), because a generic rewrite would silently void
  the co-location invariant.

Scale: at 100 TB this is not a micro-optimization — removing both
exchanges from a repeated fact-fact join removes the largest network
transfer in the pipeline, and the price (one up-front bucketed write)
is paid once for every downstream join on that key.
tests/test_bucketed.py asserts the join plans really are
Exchange-free; tools/colocated_scale.py measures it (BENCH_COLOCATED).
"""

from __future__ import annotations

import hashlib
import re
import uuid
from pathlib import Path
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

    from pystore_spark.item import Item

BUCKET_SPEC_KEY = "_bucket_spec"
VIEW_DIR = "_bucketview"


def guard_mutation(collection, item: str, op: str) -> None:
    """Raise when ``op`` would rewrite a bucketed item through the
    generic (non-bucketed) writer and silently void the co-location
    guarantee."""
    from pystore_spark.exceptions import StorageError

    meta = collection.get_item_metadata(item) or {}
    if meta.get(BUCKET_SPEC_KEY):
        raise StorageError(
            f"item {item!r} is bucketed (bucket_by="
            f"{meta[BUCKET_SPEC_KEY]['col']!r}); {op} would rewrite it "
            "through the generic writer and break the co-location "
            "invariant. Rewrite with write(..., bucket_by=..., "
            "overwrite=True), or store append-heavy data on a "
            "time/size layout."
        )


def _cols_of(spec: dict) -> list[str]:
    """Bucket column list; reads both the multi-column form and the
    original single-column spec."""
    return list(spec.get("cols") or [spec["col"]])


def write_bucketed(
    collection,
    item: str,
    data: Any,
    bucket_by,
    n_buckets: int,
    metadata: dict | None,
    overwrite: bool,
    index_col: str | None,
    epochdate: bool,
    sidecar_extra: dict | None,
    compression: str | None,
) -> None:
    """Stage files via Spark's bucketed writer, commit via the shared
    staged-rename + manifest CAS protocol (Collection._atomic_install).
    """
    from pystore_spark.exceptions import ItemExistsError, ValidationError

    collection._require_spark_fs(f"bucketed write of item {item!r}")
    item_path = collection._item_path(item)
    if collection.fs.exists(item_path) and not overwrite:
        raise ItemExistsError(
            f"item {item!r} already exists; use overwrite=True to replace"
        )
    if n_buckets < 1:
        raise ValidationError(f"n_buckets must be >= 1, got {n_buckets}")
    df, pmeta, _nrows, _mm = collection._prepare_input(
        data, epochdate=epochdate, index_col=index_col
    )
    bcols = (
        [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    )
    if not bcols:
        raise ValidationError(
            "bucket_by needs at least one column (got an empty list)"
        )
    missing_b = [c for c in bcols if c not in df.columns]
    if missing_b:
        raise ValidationError(
            f"bucket_by column(s) {missing_b} not in frame"
        )
    spark = collection.spark
    codec = compression or "snappy"

    def write_fn(tmp: Path) -> None:
        stage_tbl = f"ps_bkt_stage_{uuid.uuid4().hex[:12]}"
        (
            df.repartition(n_buckets, *bcols)
            .write.format("parquet")
            .option("path", str(tmp))
            .option("compression", codec)
            .bucketBy(n_buckets, *bcols)
            .sortBy(*bcols)
            .mode("overwrite")
            .saveAsTable(stage_tbl)
        )
        # external table (explicit path): DROP discards only the
        # catalog entry, the staged files remain for the commit
        spark.sql(f"DROP TABLE IF EXISTS `{stage_tbl}`")

    from pystore_spark.pandas_compat import META_KEY

    sidecar = {**(metadata or {}), **(sidecar_extra or {})}
    sidecar[META_KEY] = pmeta
    sidecar[BUCKET_SPEC_KEY] = {
        "col": bcols[0],  # legacy single-column readers
        "cols": bcols,
        "n": int(n_buckets),
        "sorted": list(bcols),
        # unique per CREATE: keys the session catalog table name so a
        # delete+recreate in one Spark session can never resolve to
        # the previous incarnation's relation (stale DDL / bucket
        # count would feed Catalyst a false HashPartitioning claim —
        # silently wrong exchange-free joins, not just read errors)
        "uid": uuid.uuid4().hex[:12],
    }
    # a conventional plan dict keeps every generic reader code path
    # (pruning, size estimates) on known ground
    sidecar["_partition_plan"] = {
        "strategy": "size",
        "freq": None,
        "npartitions": int(n_buckets),
    }
    if compression:
        sidecar["_partition_plan"]["compression"] = compression
    collection._atomic_install(
        item, write_fn, sidecar, must_not_exist=not overwrite
    )
    collection.clear_metadata_cache(item)


def stage_copies_write_fn(collection, df: "DataFrame", spec: dict,
                          codec: str | None = None):
    """``write_fn`` staging ``df`` through Spark's BUCKETED writer
    under the item's (cols, n) spec — the only way new files carry
    the ``_NNNNN`` bucket tags the catalog scan parses, so a pure
    file addition (append, or a merge-on-read update/merge's copies)
    keeps the co-location invariant. Placement re-hashes the actual
    values, so even an assignment changing a bucket column lands its
    copy in the right bucket."""
    bcols, n = _cols_of(spec), int(spec["n"])
    spark = collection.spark
    cols = list(df.columns)

    def write_fn(tmp: Path) -> None:
        stage_tbl = f"ps_bkt_stage_{uuid.uuid4().hex[:12]}"
        (
            df.select(*cols)
            .repartition(n, *bcols)
            .write.format("parquet")
            .option("path", str(tmp))
            .option("compression", codec or "snappy")
            .bucketBy(n, *bcols)
            .sortBy(*bcols)
            .mode("overwrite")
            .saveAsTable(stage_tbl)
        )
        spark.sql(f"DROP TABLE IF EXISTS `{stage_tbl}`")

    return write_fn


def _ensure_view_dir(it: "Item") -> Path:
    """Materialize (once per manifest version) the hard-linked view of
    exactly this version's live files — the directory a catalog table
    can safely scan under MVCC."""
    from pystore_spark import manifest as mf

    man = it._manifest or {}
    version = int(man.get("version", 0))
    base = mf.base_dir(it._path, man)
    view = Path(it._path) / VIEW_DIR / f"v{version}"
    if it._fs.exists(view):
        return view
    tmp = Path(it._path) / VIEW_DIR / f".tmp-{uuid.uuid4().hex[:8]}"
    for rel in man.get("files") or []:
        # flat layout: keep only the file NAME (the bucket tag lives
        # there); bucketed items never have _pb dirs
        it._fs.link_or_copy(base / rel, tmp / Path(rel).name)
    try:
        import os

        os.rename(tmp, view)  # atomic publish; loser cleans up below
    except OSError:
        from pystore_spark import utils

        utils.rm_tree(tmp)  # a concurrent reader won the race
    return view


def bucketed_frame(it: "Item") -> "DataFrame":
    """The bucket-aware scan: register (idempotently) an external
    table over this version's view dir and return it. The table name
    keys on (item path, CREATE-time uid, version): the uid (minted by
    write_bucketed per incarnation) guarantees a delete+recreate in
    the same Spark session gets a fresh relation — a version chain
    restarting at 1 must never resolve to the old incarnation's DDL,
    whose stale bucket count would feed Catalyst a false
    HashPartitioning claim (silently wrong exchange-free joins).
    Pre-uid sidecars fall back to verifying the registered table's
    schema against the current view and DROP+CREATE on mismatch."""
    spec = it.metadata[BUCKET_SPEC_KEY]
    view = _ensure_view_dir(it)
    digest = hashlib.md5(
        str(Path(it._path).resolve()).encode()
    ).hexdigest()[:12]
    uid = spec.get("uid") or "legacy"
    version = int((it._manifest or {}).get("version", 0))
    tbl = f"ps_bkt_{digest}_{uid}_v{version}"
    spark = it.spark
    if spark.catalog.tableExists(tbl) and uid == "legacy":
        # no uid to disambiguate incarnations — and column DDL alone
        # cannot: a same-schema recreate with a DIFFERENT bucket
        # count would be trusted and feed Catalyst a false
        # HashPartitioning claim (silently wrong exchange-free
        # joins). Never trust a legacy relation: drop and re-register
        # from the current spec (one catalog round-trip per read —
        # only pre-uid stores pay it).
        spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")
    if not spark.catalog.tableExists(tbl):
        schema = spark.read.parquet(str(view)).schema
        cols_ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in schema.fields
        )
        sort_ddl = ", ".join(f"`{c}`" for c in spec.get("sorted") or [])
        cluster_ddl = ", ".join(f"`{c}`" for c in _cols_of(spec))
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS `{tbl}` ({cols_ddl}) "
            f"USING parquet "
            f"CLUSTERED BY ({cluster_ddl}) "
            + (f"SORTED BY ({sort_ddl}) " if sort_ddl else "")
            + f"INTO {int(spec['n'])} BUCKETS "
            f"LOCATION '{view}'"
        )
    else:
        # bust the shared relation cache's file listing — cheap, and
        # covers any path where the same (digest, uid, version) could
        # see different bytes (legacy same-version recreates)
        spark.catalog.refreshTable(f"`{tbl}`")
    return spark.table(f"`{tbl}`")


def append_bucketed(
    collection,
    item: str,
    data: Any,
    duplicate_handling: str,
    epochdate: bool,
    sidecar_extra: dict | None,
) -> None:
    """Append to a bucketed item: stage the incoming rows through the
    SAME bucketed writer (same key, same N — each new file carries its
    bucket tag; several files per bucket are a valid bucketed layout,
    Spark merely stops assuming per-bucket sortedness) and commit as a
    pure file ADDITION (``scope="add"`` — nothing replaced, nothing
    staled). Only ``duplicate_handling="keep_all"`` is supported:
    key-merging strategies rewrite existing rows, which for a bucketed
    item means a bucketed rewrite — do it explicitly with
    ``write(..., bucket_by=..., overwrite=True)``. The incoming schema
    must match the stored one exactly (name+type): the catalog view's
    DDL is fixed per version, so silent widening would surface as
    read-time corruption instead of a write-time error."""
    from pystore_spark.exceptions import StorageError, ValidationError

    collection._require_spark_fs(f"bucketed append to item {item!r}")
    meta = collection.get_item_metadata(item) or {}
    spec = meta[BUCKET_SPEC_KEY]
    if duplicate_handling != "keep_all":
        raise StorageError(
            f"bucketed item {item!r} supports append only with "
            "duplicate_handling='keep_all' (pure file addition); "
            f"{duplicate_handling!r} would rewrite existing rows — "
            "rewrite with write(..., bucket_by=..., overwrite=True)"
        )
    it = collection.item(item)
    df, _pmeta, _n, _mm = collection._prepare_input(
        data, epochdate=epochdate,
        # pandas input: re-point the index at the STORED index column
        # so a RangeIndex doesn't materialize as a spurious column
        index_col=it.index_column,
    )
    stored = it.data
    want = [(f.name, f.dataType.simpleString()) for f in stored.schema]
    got = [(f.name, f.dataType.simpleString()) for f in df.schema]
    if sorted(want) != sorted(got):
        raise ValidationError(
            f"bucketed append schema mismatch for {item!r}: stored "
            f"{want} vs incoming {got} — bucketed items take no "
            "schema evolution (the catalog view DDL is fixed)"
        )
    bcols, n = _cols_of(spec), int(spec["n"])
    spark = collection.spark

    def write_fn(tmp: Path) -> None:
        stage_tbl = f"ps_bkt_stage_{uuid.uuid4().hex[:12]}"
        (
            df.select(*[f.name for f in stored.schema])
            .repartition(n, *bcols)
            .write.format("parquet")
            .option("path", str(tmp))
            .option(
                "compression",
                (meta.get("_partition_plan") or {}).get("compression")
                or "snappy",
            )
            .bucketBy(n, *bcols)
            .sortBy(*bcols)
            .mode("overwrite")
            .saveAsTable(stage_tbl)
        )
        spark.sql(f"DROP TABLE IF EXISTS `{stage_tbl}`")

    # sidecar=None → metadata-preserving commit (re-read at the commit
    # point), so _bucket_spec and concurrent sidecar updates survive.
    # With an extra, merge it DICT-AWARE against a fresh read — the
    # same utils.merge_sidecar discipline the generic append uses, so
    # a streaming sink's _streaming_commits entry never wholesale-
    # replaces another sink's replay counter.
    # Retry a lost manifest CAS: two concurrent add-scope commits
    # never conflict LOGICALLY (pure file additions), so the loser
    # just re-merges its sidecar against the winner's metadata and
    # re-commits (the first attempt's staged files are invisible
    # orphans the GC sweeps).
    from pystore_spark import manifest as mf
    from pystore_spark import utils

    def attempt(_i: int) -> None:
        sidecar = None
        expect = None
        if sidecar_extra:
            # the merge is computed HERE, pre-stage — so pin the file
            # state observed alongside it (expect_files): a concurrent
            # commit would otherwise pass the etag CAS and let this
            # STALE merged sidecar wholesale-revert the winner's
            # metadata (the lost-update the concurrency test caught)
            snap = collection.item(item)
            sidecar = utils.merge_sidecar(
                dict(snap.metadata or {}), sidecar_extra
            )
            expect = mf.bucket_file_map(snap._manifest or {})
        collection._commit_staged(
            item, write_fn, sidecar, scope="add", expect_files=expect,
        )

    utils.retry_commit(attempt)
    collection.clear_metadata_cache(item)


def compact_bucketed(collection, item: str) -> dict:
    """Bucket-preserving compaction: every appended batch leaves one
    file per touched hash bucket, so a long-lived bucketed fact table
    accumulates files per bucket. Rewrite the item THROUGH the
    bucketed writer (same key, same N — the invariant the generic
    compactor would destroy) back to one sorted file per bucket,
    committed as a whole-item replace under the observed-state guard
    (a concurrent append retries rather than vanishing). No-op when
    every bucket already has one file."""
    from pystore_spark import manifest as mf
    from pystore_spark import utils

    meta = collection.get_item_metadata(item) or {}
    spec = meta[BUCKET_SPEC_KEY]
    bucket_of = re.compile(r".*_(\d+)(?:\..*)?$")  # Spark's file tag

    def attempt(_i: int) -> dict:
        it = collection.item(item)
        files = (it._manifest or {}).get("files") or []
        n_before = len(files)
        per_bucket: dict[str, int] = {}
        for f in files:
            m = bucket_of.match(Path(f).name)
            if m:
                per_bucket[m.group(1)] = per_bucket.get(m.group(1), 0) + 1
        if not per_bucket or max(per_bucket.values()) <= 1:
            from pystore_spark import dv as dvm

            # genuinely one file per bucket — the total-count check
            # would wrongly no-op a skewed item whose keys hash into
            # few buckets (e.g. 12 files in 4 of 16 buckets). Mask
            # debt still forces the rewrite: a one-file-per-bucket
            # item that is mostly dv-masked pays the anti-join on
            # every read until folded (dv.mask_debt)
            if not dvm.mask_debt(
                collection._item_path(item), it._manifest, files
            ):
                return {
                    "buckets_compacted": 0,
                    "files_before": n_before,
                    "files_after": n_before,
                }
        # read the RAW manifest-resolved files, not the catalog table:
        # the bucketed relation reports HashPartitioning(col, n), which
        # lets Catalyst elide the rewrite's repartition as redundant —
        # and the bucketed WRITER then emits one file per (task,
        # bucket) pair instead of coalescing, the opposite of
        # compaction (observed: 12 files in, 12 "compacted" out). The
        # raw scan carries no partitioning claim, so the exchange
        # really happens and each task holds exactly one bucket.
        # Source files stay live throughout write_fn (manifest
        # retention); a CAS retry rebuilds the handle fresh.
        df = it.raw_frame()
        bcols, n = _cols_of(spec), int(spec["n"])
        spark = collection.spark
        codec = (meta.get("_partition_plan") or {}).get(
            "compression"
        ) or "snappy"

        def write_fn(tmp: Path) -> None:
            stage_tbl = f"ps_bkt_stage_{uuid.uuid4().hex[:12]}"
            (
                df.repartition(n, *bcols)
                .write.format("parquet")
                .option("path", str(tmp))
                .option("compression", codec)
                .bucketBy(n, *bcols)
                .sortBy(*bcols)
                .mode("overwrite")
                .saveAsTable(stage_tbl)
            )
            spark.sql(f"DROP TABLE IF EXISTS `{stage_tbl}`")

        # sidecar=None → metadata-preserving commit: the sidecar is
        # re-read at the commit point, so metadata committed between
        # our snapshot and a CAS retry (streaming replay counters,
        # fresh stats) survives the compaction; an append landing
        # mid-rewrite loses the CAS and the retry recomputes
        collection._commit_staged(
            item, write_fn, None, scope="item",
            expect_files=mf.bucket_file_map(it._manifest or {}),
            expect_dv=dict((it._manifest or {}).get("dv") or {}),
        )
        collection.clear_metadata_cache(item)
        n_after = len(
            (collection.item(item)._manifest or {}).get("files") or []
        )
        return {
            "buckets_compacted": int(n),
            "files_before": n_before,
            "files_after": n_after,
        }

    return utils.retry_commit(attempt)


# superseded view dirs are garbage-collected by manifest.gc_item on
# the same retention clock as stale data files (see that sweep); the
# hard links mean a lingering view never pins real data bytes beyond
# the manifest's own stale retention.
