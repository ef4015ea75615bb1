"""Zone maintenance: small-file compaction and partition retention.

The reference lakehouse accumulates one object per city per day in its
bronze/silver zones (reference src/etl/bronze_to_silver.py:82 writes
date-embedded object names) and never compacts or expires them. At 100 TB
the small-files problem is operational debt with a direct query cost —
every file is a scan task, a footer read, and a driver listing entry —
and unbounded retention is a compliance problem. These two passes are the
standard nightly fixes.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import astuple, dataclass

from pyspark.sql import SparkSession


def recover_swap(path: str) -> str:
    """Repair a torn write-to-``.next`` + rename swap at ``path``.

    The swap protocol (shared by :func:`compact_zone` and the streaming
    gold MERGE) is: write the full new snapshot to ``path + '.next'``,
    rename ``path`` → ``path + '.old'``, rename ``.next`` → ``path``,
    delete ``.old``. The first rename only ever runs after the ``.next``
    write completed, so on entry the states are unambiguous:

    - ``path`` present: any ``.next``/``.old`` leftovers are an aborted
      write or a completed swap's debris — safe to delete.
    - ``path`` missing, ``.next`` present: crash landed between the two
      renames; ``.next`` holds the complete new snapshot — promote it.
      (Deleting it here would destroy the only copy of previously merged
      data; a replayed micro-batch rebuilds from that batch alone.)
    - ``path`` missing, only ``.old`` present: the new write never
      finished — roll the old snapshot back.

    Returns the action taken (``"clean" | "promoted_next" | "restored_old"
    | "none"``) so callers/tests can assert on recovery behavior.
    """
    path = path.rstrip("/")
    nxt, old = path + ".next", path + ".old"
    if os.path.isdir(path):
        cleaned = False
        for stale in (nxt, old):
            if os.path.isdir(stale):
                shutil.rmtree(stale)
                cleaned = True
        return "clean" if cleaned else "none"
    if os.path.isdir(nxt):
        os.rename(nxt, path)
        if os.path.isdir(old):
            shutil.rmtree(old)
        return "promoted_next"
    if os.path.isdir(old):
        os.rename(old, path)
        return "restored_old"
    return "none"


def commit_swap(path: str) -> None:
    """Final phase of the swap protocol: atomically replace ``path`` with
    the already-written ``path + '.next'``. Caller must have finished the
    ``.next`` write; :func:`recover_swap` repairs any crash point."""
    path = path.rstrip("/")
    old = path + ".old"
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(path + ".next", path)
    if os.path.isdir(old):
        shutil.rmtree(old)


def _versions_dir(path: str) -> str:
    return path.rstrip("/") + "._versions"


def list_snapshots(path: str) -> list[int]:
    """ARCHIVED version numbers retained for ``path``, oldest first (the
    current snapshot's version is not listed here — it lives at ``path``
    and is named by the ``CURRENT`` marker)."""
    vdir = _versions_dir(path)
    if not os.path.isdir(vdir):
        return []
    return sorted(
        int(d[1:]) for d in os.listdir(vdir) if d.startswith("v") and d[1:].isdigit()
    )


def _write_marker(fname: str, value: int) -> None:
    tmp = fname + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(value))
    os.replace(tmp, fname)


def current_version(path: str) -> int | None:
    """Version number of the snapshot currently at ``path`` (None for a
    zone that has never gone through :func:`commit_versioned_swap`, or
    whose ``CURRENT`` marker was lost to a torn commit)."""
    fname = os.path.join(_versions_dir(path.rstrip("/")), "CURRENT")
    if not os.path.isfile(fname):
        return None
    with open(fname) as fh:
        raw = fh.read().strip()
    return int(raw) if raw else None


def commit_versioned_swap(path: str, keep: int | None = None) -> int:
    """``commit_swap`` with time travel: the replaced snapshot is archived
    as an immutable version instead of deleted — Delta/Iceberg snapshot
    retention reduced to its filesystem core (on an object store this
    step IS the table format's commit; locally it is two renames).

    Version semantics follow the Delta/Iceberg convention: **version N is
    the table state AFTER commit N.** Each commit assigns the NEW current
    snapshot the next number and records it in a ``CURRENT`` marker; when
    that snapshot is later displaced it is archived under the number it
    was assigned at ITS OWN commit, so ``read_snapshot(path, N)`` always
    yields what commit N produced — whether N is archived or still
    current. (A pre-versioning snapshot with no marker, or a marker lost
    to a torn commit, is archived under a fresh number — ids never
    collide or recycle.)

    Ordering is archive-FIRST: rename ``path`` into the versions dir,
    THEN promote ``path + '.next'``. A crash between the two leaves
    ``path`` missing with ``.next`` complete — exactly the state
    :func:`recover_swap` already repairs by promotion, and the displaced
    snapshot is ALREADY safe in the archive (the ``.old``-based ordering
    would instead let recovery delete the only archive candidate).

    Version numbers are monotone across expiry: a ``SEQ`` file persists
    the highest assigned number (written temp + rename), so expiring
    every snapshot can never recycle a version id. Returns the new
    current's version number; ``keep`` bounds retention (oldest pruned
    first).

    The versions dir is a SIBLING (``<path>._versions``) — outside the
    zone, so readers of ``path`` never list it, and zone maintenance
    skips non-zone paths by construction.
    """
    path = path.rstrip("/")
    nxt = path + ".next"
    if not os.path.isdir(nxt):
        raise ValueError(f"{nxt} missing — write the new snapshot first")
    vdir = _versions_dir(path)
    os.makedirs(vdir, exist_ok=True)
    seq_file = os.path.join(vdir, "SEQ")
    last = 0
    if os.path.isfile(seq_file):
        with open(seq_file) as fh:
            last = int(fh.read().strip() or 0)
    existing = list_snapshots(path)
    cur = current_version(path)
    floor = max([last] + existing + ([cur] if cur is not None else []))
    arch = None
    if os.path.isdir(path):
        # archive the displaced snapshot under the id assigned at its own
        # commit; fall back to a fresh id when that is unknown (legacy
        # zone) or already taken (stale marker after a torn commit)
        arch = cur
        if arch is None or arch in existing:
            floor += 1
            arch = floor
    version = floor + 1
    _write_marker(seq_file, version)
    if os.path.isdir(path):
        os.rename(path, os.path.join(vdir, f"v{arch:06d}"))
    os.rename(nxt, path)
    _write_marker(os.path.join(vdir, "CURRENT"), version)
    if keep is not None:
        expire_snapshots(path, keep)
    return version


def expire_snapshots(path: str, keep: int) -> list[int]:
    """Drop the oldest archived versions beyond ``keep``; returns the
    expired version numbers. Never touches the current snapshot."""
    if keep < 0:
        raise ValueError("keep must be >= 0")
    versions = list_snapshots(path)
    drop = versions[: max(0, len(versions) - keep)]
    vdir = _versions_dir(path)
    for v in drop:
        shutil.rmtree(os.path.join(vdir, f"v{v:06d}"))
    return drop


def read_snapshot(spark: SparkSession, path: str, version: int | None = None):
    """Read the state AFTER commit ``version`` (None → current). An
    ARCHIVED version always wins over the ``CURRENT`` marker: in the
    torn-commit state (archive rename done, promote/marker lost,
    :func:`recover_swap` promoted ``.next``) the stale marker still
    names the archived version, so trusting it would hand back the NEW
    snapshot at ``path`` for a version that lives in the archive.
    Reading ``path`` is therefore the fallback, used only when no
    archive dir exists for the requested number AND the marker agrees.
    Raises if the requested version was expired or never existed."""
    if version is not None:
        vpath = os.path.join(_versions_dir(path), f"v{version:06d}")
        if os.path.isdir(vpath):
            return spark.read.parquet(vpath)
        if version != current_version(path):
            raise ValueError(
                f"snapshot v{version} of {path!r} is not retained "
                f"(have: {list_snapshots(path)}, current: {current_version(path)})"
            )
    return spark.read.parquet(path.rstrip("/"))


def snapshot_diff(old_df, new_df, key_cols: list[str], compare_cols: list[str] | None = None):
    """Row-level diff between two snapshots of the same table, keyed on
    ``key_cols``: rows only in the new snapshot are ``added``, rows only
    in the old are ``removed``, rows in both with any differing compare
    column are ``changed``; identical rows drop out. This is the audit
    view behind time travel — "what did commit N actually change" — and
    the input to incremental downstream refresh (ship the diff, not the
    snapshot).

    Shape: ONE key-keyed full-outer join (both sides shuffle on the key —
    at 100 TB land both snapshots bucketed by the key and the exchange
    disappears), then a null-safe struct comparison evaluated JVM-side.
    Returns ``key_cols + (change_type, __old struct, __new struct)`` —
    callers project the struct fields they want.
    """
    from pyspark.sql import functions as F

    compare = compare_cols or [c for c in new_df.columns if c not in key_cols]
    o = old_df.select(*key_cols, F.struct(*compare).alias("__old"))
    n = new_df.select(*key_cols, F.struct(*compare).alias("__new"))
    return (
        o.join(n, list(key_cols), "full_outer")
        .where(~F.col("__old").eqNullSafe(F.col("__new")))
        .select(
            *key_cols,
            F.when(F.col("__old").isNull(), F.lit("added"))
            .when(F.col("__new").isNull(), F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("change_type"),
            "__old",
            "__new",
        )
    )


def _list_files(path: str, suffix: str = ".parquet") -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(suffix)]
    return out


@dataclass(frozen=True)
class CompactionReport:
    """What a compaction run did: the audit row a table-maintenance job
    logs. ``files_kept`` were NOT rewritten (same bytes, same inode
    locally); only ``bytes_rewritten`` moved."""

    files_before: int
    files_after: int
    files_kept: int
    files_rewritten: int
    bins: int
    bytes_rewritten: int


def compaction_bins(
    files,
    target_bytes: int,
    partition_cols: list[str] | None = None,
    path_col: str = "path",
    size_col: str = "size_bytes",
):
    """Deterministic OPTIMIZE bin-packing PLAN over file-level metadata —
    the decision half of small-file compaction, split out so it is a pure
    function of (path, size) rows and therefore oracle-checkable.

    Files at or above ``target_bytes // 2`` are COMPLIANT: action
    ``keep``, ``bin_id`` NULL — an OPTIMIZE that rewrites already-right-
    sized files is pure write amplification. Under-sized files bin-pack
    per partition by running-total: ordered by path (any deterministic
    total order works; path is unique), ``bin_id = (cum_before) div
    target`` where ``cum_before`` is the running size sum exclusive of the
    current file. A bin closes when the running total crosses a multiple
    of ``target_bytes``, so every non-final bin per partition totals more
    than ``target_bytes − target_bytes // 2``, itself at least the
    compliance floor: every merged output except possibly the last per
    partition is compliant — which is what makes a second OPTIMIZE run a
    structural no-op (at most one undersized output can remain per
    partition, and a 1-file bin is never rewritten).

    Scale shape: the input is FILE METADATA (one row per file — ~800k
    rows for 100 TB at 128 MB files), the one window partitions by the
    table partition columns (the unit a real OPTIMIZE schedules by), and
    the output is consumed either by the executor or a manifest sink. No
    data-scale shuffle anywhere; the data files themselves move only in
    :func:`compact_zone`.

    Output: partition_cols… + (path, size_bytes, action, bin_id).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    min_bytes = target_bytes // 2
    parts = partition_cols or []
    base = files.select(
        *parts,
        F.col(path_col).alias("path"),
        F.col(size_col).cast("bigint").alias("size_bytes"),
    )
    kept = base.where(F.col("size_bytes") >= min_bytes).select(
        *parts,
        "path",
        "size_bytes",
        F.lit("keep").alias("action"),
        F.lit(None).cast("bigint").alias("bin_id"),
    )
    w = (
        Window.partitionBy(*[F.col(c) for c in parts])
        .orderBy("path")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    small = (
        base.where(F.col("size_bytes") < min_bytes)
        .withColumn("__cum", F.sum("size_bytes").over(w))
        .select(
            *parts,
            "path",
            "size_bytes",
            F.lit("rewrite").alias("action"),
            F.expr(
                f"CAST((__cum - size_bytes) div {target_bytes} AS BIGINT)"
            ).alias("bin_id"),
        )
    )
    return kept.unionByName(small)


def compact_zone(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> CompactionReport:
    """OPTIMIZE (bin-packing small-file compaction) for a parquet zone.

    Files at or above ``target_file_bytes // 2`` are NEVER read or
    re-encoded: they move into the new snapshot as hardlinks (same inode,
    zero data bytes touched). Under-sized files are merged, one output
    file per plan bin of two or more files, and the whole change commits
    through the crash-safe ``.next`` swap (on an object store this commit
    is the table format's — Delta/Iceberg — snapshot swap).

    Bins come from :func:`compaction_bins` (the oracle-checked planner)
    over the zone's real file listing; 1-file bins are skipped (rewriting
    one file into one file is write amplification), which with the
    planner's compliance floor makes a second run a structural no-op:
    after a run, at most one under-sized file can remain per partition,
    and it sits alone in its bin. A partition with fewer than two
    under-sized files returns before any Spark job.

    Hive-partitioned zones (``col=value`` subdirectories) compact one
    partition directory at a time: partition values live in the directory
    names, not the files, so a whole-zone rewrite would flatten the
    layout, and one partition is the blast radius a scheduler running
    compaction alongside live readers wants.
    """
    part_dirs = sorted(
        os.path.join(path, e)
        for e in (os.listdir(path) if os.path.isdir(path) else [])
        if "=" in e and os.path.isdir(os.path.join(path, e))
    )
    if part_dirs:
        reports = [astuple(compact_zone(spark, d, target_file_bytes)) for d in part_dirs]
        return CompactionReport(*map(sum, zip(*reports)))
    # a crash in a previous run may have left the zone mid-swap: restore
    # the surviving snapshot before listing (otherwise a torn swap reads
    # as an empty zone and is silently reported as 0 files)
    recover_swap(path)
    path = path.rstrip("/")
    listing = [(f, os.path.getsize(f)) for f in sorted(_list_files(path))]
    n = len(listing)
    if sum(size < target_file_bytes // 2 for _, size in listing) < 2:
        return CompactionReport(n, n, n, 0, 0, 0)
    from pyspark.sql import functions as F

    # constant partition key: this zone level IS one planning partition
    # (file metadata, bounded), and an explicitly-keyed window avoids the
    # move-everything-to-one-partition warning an empty partitionBy emits
    inv = spark.createDataFrame(listing, "path string, size_bytes long")
    inv = inv.withColumn("__zone", F.lit(0))
    plan = compaction_bins(inv, target_file_bytes, partition_cols=["__zone"]).collect()
    bins: dict[int, list[tuple[str, int]]] = {}
    kept = []
    for r in plan:
        if r["action"] == "keep":
            kept.append(r["path"])
        else:
            bins.setdefault(r["bin_id"], []).append((r["path"], r["size_bytes"]))
    real_bins = {b: fs for b, fs in bins.items() if len(fs) >= 2}
    kept += [fs[0][0] for fs in bins.values() if len(fs) < 2]
    nxt = path + ".next"
    os.makedirs(nxt)
    for f in kept:  # zero-copy carry-over: hardlink, same inode
        try:
            os.link(f, os.path.join(nxt, os.path.basename(f)))
        except OSError:
            # filesystem without hardlinks (or cross-device .next): fall
            # back to a byte copy — correctness identical, the zero-copy
            # guarantee is a local-fs optimization (on an object store
            # this whole carry-over is the table format's metadata commit)
            shutil.copy2(f, os.path.join(nxt, os.path.basename(f)))
    for b, fs in sorted(real_bins.items()):
        paths = [p for p, _ in fs]
        tmp = os.path.join(nxt, f"_bin{b:05d}.tmp")
        spark.read.parquet(*paths).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        assert len(part) == 1, part
        os.rename(
            os.path.join(tmp, part[0]),
            os.path.join(nxt, f"compact-{b:05d}-{part[0]}"),
        )
        shutil.rmtree(tmp)
    commit_swap(path)
    return CompactionReport(
        files_before=n,
        files_after=len(_list_files(path)),
        files_kept=len(kept),
        files_rewritten=sum(len(fs) for fs in real_bins.values()),
        bins=len(real_bins),
        bytes_rewritten=sum(s for fs in real_bins.values() for _, s in fs),
    )


def expire_partitions(
    path: str, partition_col: str, keep_values: list[str]
) -> list[str]:
    """Drop hive-style partition directories (``col=value``) whose value
    is not in ``keep_values``; returns the dropped values.

    Retention works on the DIRECTORY listing, never by reading data —
    expiring a year of a 100 TB zone is a metadata operation. The caller
    computes ``keep_values`` (e.g. the last N ingestion dates) so the
    policy stays in one place and this function stays mechanical.
    """
    dropped = []
    prefix = f"{partition_col}="
    if not os.path.isdir(path):
        return dropped
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(prefix):
            continue
        value = entry[len(prefix):]
        if value not in keep_values:
            shutil.rmtree(os.path.join(path, entry))
            dropped.append(value)
    return dropped
