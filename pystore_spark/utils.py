"""Driver-side utilities: metadata sidecars, path layout, dir ops.

The sidecar is a plain JSON file per item/store — metadata I/O is
driver-side file I/O, never a Spark job (reference:
pystore/utils.py:89-107; timestamp format asserted by
tests/test_edge_cases.py:41-58).

Sidecar file name starts with ``_`` so Spark's file-source listing
ignores it when scanning the item directory for Parquet parts.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone
from pathlib import Path
from typing import Any, Callable

from pystore_spark import fs as fslib
from pystore_spark.exceptions import ConcurrentCommitError, StorageError
from pystore_spark.fs import UNCONDITIONAL, fs_for

METADATA_FILE = "_pystore_metadata.json"
MANIFEST_FILE = "_manifest.json"
SNAPSHOT_DIR = "_snapshots"
VERSIONS_DIR = "_versions"

_VALID_NAME = re.compile(r"[^A-Za-z0-9._\- ]")


def utc_stamp() -> str:
    # same human-readable format the reference stamps (_updated):
    # "%Y-%m-%d %H:%M:%S.%f" (pystore/utils.py:99-101)
    return datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")


def sanitize_sql_ident(name: str) -> str:
    """Item/collection name → SQL identifier: non-word chars become
    ``_``, digit-leading names get an ``i_`` prefix. THE one
    implementation behind Collection.sql_view_names and Store.sql —
    the two must agree or cross-surface view names diverge."""
    out = re.sub(r"\W", "_", name)
    return f"i_{out}" if out and out[0].isdigit() else out


_TIME_TRAVEL_RE = re.compile(
    r"(?P<view>[A-Za-z_][A-Za-z0-9_]*)\s+FOR\s+"
    r"(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"(?P<val>'[^']*'|[0-9][\w.:-]*)",
    re.IGNORECASE,
)


def rewrite_time_travel(
    query: str, known_views: set[str]
) -> tuple[str, list[tuple[str, str, str, str]]]:
    """Delta-style SQL time travel for the engine's SQL surfaces:
    rewrite ``<view> FOR VERSION AS OF <n>`` / ``<view> FOR TIMESTAMP
    AS OF '<ts>'`` clauses to plain view references with unique
    aliases, returning ``(rewritten_query, [(view, kind, value,
    alias), ...])`` so the caller registers each alias from the
    matching historical manifest read (``Collection.item(version=/
    as_of=)``). Only identifiers in ``known_views`` rewrite — other
    matches pass through untouched. Distinct versions of the SAME item
    get distinct aliases, so one query can join an item's current and
    historical states."""
    specs: list[tuple[str, str, str, str]] = []

    def _sub(m: re.Match) -> str:
        view = m.group("view")
        if view not in known_views:
            return m.group(0)
        kind = m.group("kind").lower()
        val = m.group("val").strip("'")
        alias = (
            f"{view}__{'v' if kind == 'version' else 'asof'}_"
            f"{re.sub(r'[^A-Za-z0-9_]', '_', val)}"
        )
        specs.append((view, kind, val, alias))
        return alias

    # rewrite only matches that START outside single-quoted string
    # literals — a literal containing "x FOR VERSION AS OF 1" passes
    # through verbatim, while the TIMESTAMP form's own quoted value
    # (which sits INSIDE the match) still rewrites fine. The literal
    # pattern honors both escape conventions Spark accepts (doubled
    # '' and backslash-escaped \'), so an escaped quote cannot
    # misalign the spans.
    lit_spans = [
        m.span()
        for m in re.finditer(r"'(?:[^'\\]|\\.|'')*'", query)
    ]

    def _in_literal(pos: int) -> bool:
        return any(a < pos < b for a, b in lit_spans)

    out: list[str] = []
    last = 0
    for m in _TIME_TRAVEL_RE.finditer(query):
        if _in_literal(m.start()):
            continue
        out.append(query[last : m.start()])
        out.append(_sub(m))
        last = m.end()
    out.append(query[last:])
    return "".join(out), specs


def merge_sidecar(
    base: dict[str, Any], extra: dict[str, Any] | None
) -> dict[str, Any]:
    """One-level dict-aware sidecar merge: a dict-valued extra entry
    merges KEY-WISE into the matching base dict instead of replacing
    it. This is what makes ``sidecar_extra`` safe under concurrent
    commits and retries — e.g. two streaming sinks' replay counters
    live under one ``_streaming_commits`` map, and each sink passes
    only ITS key; wholesale replacement would regress the other
    sink's counter to whatever stale copy the caller last read
    (breaking exactly-once on replay)."""
    out = dict(base)
    for k, v in (extra or {}).items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = {**out[k], **v}
        else:
            out[k] = v
    return out


def sanitize_snapshot_name(name: str) -> str:
    """Strip characters outside [A-Za-z0-9._] — reference:
    pystore/collection.py:531-532."""
    return re.sub(r"[^A-Za-z0-9._]", "", str(name))


def read_manifest(path: str | Path) -> dict[str, Any] | None:
    """The item's manifest — the single commit pointer naming its live
    data files (see manifest.py for the protocol). None = no manifest
    (a legacy directory-listing item, or not an item at all)."""
    return read_manifest_versioned(path)[0]


def read_manifest_versioned(
    path: str | Path,
) -> tuple[dict[str, Any] | None, str | None]:
    """(manifest, etag) — the etag feeds the conditional put at commit
    (object-store CAS; see fs.py). (None, None) when absent.

    A manifest file that EXISTS but fails to parse (torn write on a
    non-atomic filesystem, disk corruption) recovers from the newest
    parseable ``_versions/`` history object — which names the TRUE
    live file set at the last durable commit — returned with the
    CORRUPT bytes' etag, so the next commit's CAS replaces the corrupt
    pointer. Only when no history exists does it return ``(None,
    etag)`` (legacy directory-scan fallback): rebuilding the live set
    from a full listing would resurrect stale-retained (replaced /
    deleted) and staged-uncommitted parquet as live data — silent
    duplicate / deleted-row reappearance — so history recovery is
    always preferred."""
    p = Path(path) / MANIFEST_FILE
    fs = fs_for(p)
    try:
        data = fs.read_bytes(p)
    except OSError:
        return None, None
    try:
        return json.loads(data), fslib._md5(data)
    except ValueError:
        return _recover_manifest_from_history(Path(path)), fslib._md5(data)


def _recover_manifest_from_history(path: Path) -> dict[str, Any] | None:
    """Newest parseable ``_versions/`` history object, or None. History
    objects are written AFTER each pointer install (write_manifest), so
    the newest one is either the corrupt pointer's own content (pointer
    corrupted post-install) or exactly one commit behind (pointer torn
    mid-install, history never written) — in both cases a true live
    set whose replaced files are still on disk under stale
    retention."""
    fs = fs_for(path)
    try:
        cands = sorted(fs.list_files(path / VERSIONS_DIR, ".json"),
                       reverse=True)
    except OSError:
        return None
    for f in cands:
        try:
            man = json.loads(fs.read_bytes(Path(f)))
        except (OSError, ValueError):
            continue
        if isinstance(man, dict) and "files" in man:
            return man
    return None


def write_manifest(
    path: str | Path,
    files: list[str],
    metadata: dict[str, Any] | None,
    stale: dict[str, float] | None = None,
    base: str | None = None,
    version: int | None = None,
    stamp: bool = True,
    stats: dict[str, dict] | None = None,
    sizes: dict[str, int] | None = None,
    dv: dict[str, dict] | None = None,
    if_match: Any = UNCONDITIONAL,
) -> dict[str, Any]:
    """Atomically install a manifest — THE commit point of every data
    mutation: a single ``os.replace`` of one JSON file (atomic on
    POSIX; a single-object put on object stores), so readers see the
    old complete file set or the new one, never a partial swap.
    ``if_match`` (an etag from :func:`read_manifest_versioned`, or
    None for must-not-exist) turns the install into a conditional put
    — lost races raise ``ConcurrentCommitError`` (object-store CAS).

    ``stats`` is the per-file column min/max zonemap (see
    manifest.gather_file_stats) and ``sizes`` the per-file byte sizes
    (recorded at commit so size gates never re-stat the live set);
    both are pruned to the live file list automatically so stale
    entries never accumulate.

    ``dv`` is the deletion-vector map (dv.py): ``{data_file_rel:
    {"ref": dv_dir_rel, "n": masked_row_count}}`` — merge-on-read
    row masks for delete_where(mode="dv"). Pruned to the live file
    list like stats/sizes: any commit that REPLACES a data file
    (compaction, bucket-rewrite append, rewrite delete) materializes
    its mask by construction (every rewrite reads through the masked
    scan), so the departing entry is dropped here and can never leak
    onto the replacement file."""
    metadata = dict(metadata or {})
    if stamp:
        metadata["_updated"] = utc_stamp()
    man: dict[str, Any] = {
        "version": int(version if version is not None else 1),
        "files": sorted(files),
        "stale": dict(stale or {}),
        "metadata": metadata,
    }
    if stats:
        live_stats = {f: stats[f] for f in man["files"] if f in stats}
        if live_stats:
            man["stats"] = live_stats
    if sizes:
        live_sizes = {f: int(sizes[f]) for f in man["files"] if f in sizes}
        if live_sizes:
            man["sizes"] = live_sizes
    if dv:
        live_dv = {f: dv[f] for f in man["files"] if f in dv}
        if live_dv:
            man["dv"] = live_dv
    if base is not None:
        man["base"] = base
    p = Path(path)
    fs = fs_for(p)
    fs.mkdirs(p)
    payload = json.dumps(tmp_json_safe(man), default=str).encode()
    fs.put_atomic(p / MANIFEST_FILE, payload, if_match=if_match)
    if base is None:
        # time-travel history: an immutable per-version copy of the
        # manifest, written AFTER the pointer install so a lost CAS
        # race never leaves a history object whose version number the
        # winning commit will reuse. One extra O(1) put per commit;
        # version reads are then a single GET. Best-effort: a crash
        # between pointer and history leaves that version unreadable
        # by number (read_version falls back to the live manifest when
        # the numbers match), never an incorrect read.
        try:
            vdir = p / VERSIONS_DIR
            fs.mkdirs(vdir)
            fs.put_atomic(vdir / f"{man['version']:012d}.json", payload)
        except OSError:
            pass
    return man


def list_versions(path: str | Path) -> list[int]:
    """Committed manifest versions still readable for time travel
    (ascending). The live version is always included even when its
    history object is missing (pre-history items)."""
    p = Path(path)
    fs = fs_for(p)
    out = set()
    for f in fs.list_files(p / VERSIONS_DIR, ".json"):
        stem = Path(f).stem
        if stem.isdigit():
            out.add(int(stem))
    man = read_manifest(p)
    if man is not None and not man.get("base"):
        out.add(int(man.get("version", 0)))
    return sorted(out)


def read_version_manifest(
    path: str | Path, version: int
) -> dict[str, Any] | None:
    """The manifest as of commit ``version`` — the live pointer when
    the numbers match, else the immutable history object."""
    p = Path(path)
    man = read_manifest(p)
    if man is not None and int(man.get("version", 0)) == int(version):
        return man
    vp = p / VERSIONS_DIR / f"{int(version):012d}.json"
    fs = fs_for(vp)
    try:
        return json.loads(fs.read_bytes(vp))
    except (OSError, ValueError):
        return None


def read_metadata(path: str | Path) -> dict[str, Any]:
    man = read_manifest(path)
    if man is not None:
        return man.get("metadata") or {}
    p = Path(path) / METADATA_FILE
    try:
        return json.loads(fs_for(p).read_bytes(p))
    except (OSError, ValueError):
        return {}


def write_metadata(path: str | Path, metadata: dict[str, Any] | None = None) -> dict[str, Any]:
    # metadata-only update of a manifest item: preserve the file
    # pointers, bump the version, commit through the manifest CAS
    man = commit_manifest_cas(
        path, lambda m: None if m is None else {"metadata": metadata}
    )
    if man is not None:
        return man["metadata"]
    metadata = dict(metadata or {})
    metadata["_updated"] = utc_stamp()
    p = Path(path)
    fs = fs_for(p)
    fs.mkdirs(p)
    fs.put_atomic(
        p / METADATA_FILE,
        json.dumps(tmp_json_safe(metadata), default=str).encode(),
    )
    return metadata


def tmp_json_safe(obj: Any) -> Any:
    """Best-effort conversion of numpy/pandas scalars for json.dump."""
    if isinstance(obj, dict):
        return {str(k): tmp_json_safe(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [tmp_json_safe(v) for v in obj]
    if hasattr(obj, "item") and callable(obj.item):
        try:
            return obj.item()
        except Exception:
            return str(obj)
    return obj


def subdirs(path: str | Path) -> list[str]:
    """Immediate subdirectory names, skipping internal ``_``/``.`` dirs."""
    return sorted(
        d
        for d in fs_for(path).list_subdirs(path)
        if not d.startswith((".", "_"))
    )


def rm_tree(path: str | Path) -> None:
    fs_for(path).remove_prefix(path)


def link_tree(src: str | Path, dst: str | Path) -> None:
    """Copy a directory tree using hard links for regular files.

    Used for snapshots and transaction backups: Parquet part files are
    immutable once written (rewrites swap whole directories), so a
    hard-linked tree is a correct point-in-time copy at O(metadata)
    cost — unlike the reference's full ``copytree``
    (pystore/collection.py:529-543) which is O(data). Falls back to a
    real copy when the filesystem lacks hard links (object stores:
    server-side copy).
    """
    src, dst = Path(src), Path(dst)
    fs = fs_for(src)
    for f in fs.list_files(src):
        rel = os.path.relpath(f, src)
        fs.link_or_copy(f, dst / rel)


def validate_path_local(path: str) -> str:
    """Scheme dispatch for warehouse roots (historically a local-only
    guard — reference behavior: tests/test_store.py:89-92, tilde
    handling issue #68 tests/test_edge_cases.py:60-76; now resolves
    registered object-store schemes too, see fs.resolve_warehouse)."""
    return fslib.resolve_warehouse(path)


def retry_commit(attempt: Callable[[int], Any], attempts: int = 3) -> Any:
    """Run ``attempt(i)`` until it commits: a lost manifest CAS
    (``ConcurrentCommitError``) retries against fresh state, at most
    ``attempts`` tries in all; the last loss propagates. THE retry
    rule of every optimistic commit in the package — ``attempt`` must
    re-read whatever state its commit is computed from."""
    for i in range(attempts):
        try:
            return attempt(i)
        except ConcurrentCommitError:
            if i == attempts - 1:
                raise


# manifest fields a commit_manifest_cas change may replace; every
# field the change does not return carries over from the read
_MANIFEST_FIELDS = ("files", "metadata", "stale", "stats", "sizes", "dv")


def commit_manifest_cas(
    path: str | Path,
    change: Callable[[dict[str, Any] | None], dict[str, Any] | None],
    stamp: bool = True,
    attempts: int = 3,
) -> dict[str, Any] | None:
    """One optimistic manifest commit that moves no data files: read
    ``(manifest, etag)``, apply ``change(manifest)``, install version
    + 1 with ``if_match=etag``; a lost race re-reads and re-runs
    ``change`` under :func:`retry_commit`, so a commit landing in
    between is never dropped.

    ``change`` gets the fresh manifest (None for a manifest-less
    item) and returns the fields it replaces (see
    ``_MANIFEST_FIELDS``) or None to commit nothing. A snapshot
    pointer is read-only and refused before ``change`` runs. Returns
    the installed manifest, or None when nothing was committed."""

    def attempt(_i: int) -> dict[str, Any] | None:
        man, etag = read_manifest_versioned(path)
        if man is not None and man.get("base"):
            raise StorageError(
                f"item {Path(path).name!r} is a snapshot pointer and is "
                "read-only"
            )
        fields = change(man)
        if fields is None:
            return None
        new = {k: man.get(k) for k in _MANIFEST_FIELDS}
        new.update(fields)
        return write_manifest(
            path,
            new["files"] or [],
            new["metadata"],
            stale=new["stale"],
            version=int(man.get("version", 0)) + 1,
            stamp=stamp,
            stats=new["stats"],
            sizes=new["sizes"],
            dv=new["dv"],
            if_match=etag,
        )

    return retry_commit(attempt, attempts)


def update_metadata_cas(
    path: str | Path,
    update_fn,
    retries: int = 5,
) -> dict[str, Any]:
    """Metadata-only read-modify-write through the manifest CAS
    (:func:`commit_manifest_cas`): apply ``update_fn(metadata) ->
    metadata`` to the fresh manifest's metadata, retrying a lost race
    with FRESH state. This is the form of :func:`write_metadata` for
    hot concurrent paths (ingest stamps, counters): a data commit
    landing between the read and the install fails the conditional
    put — so the retry re-reads the new file list instead of silently
    dropping the concurrent commit's files from the live manifest —
    and counter accumulations recompute from the fresh metadata
    instead of double-reading a stale base (no lost updates).

    Legacy (manifest-less) items fall back to a plain sidecar write;
    there are no file pointers to clobber there."""
    man = commit_manifest_cas(
        path,
        lambda m: None
        if m is None
        else {"metadata": update_fn(dict(m.get("metadata") or {}))},
        attempts=max(1, retries),
    )
    if man is not None:
        return man["metadata"]
    return write_metadata(path, update_fn(dict(read_metadata(path) or {})))
