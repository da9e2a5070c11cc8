"""Manifest-committed append sink — the parquet stand-in for Iceberg's
snapshot commit (S9; ref append sinks src/utilities/file_util.py:58-146).

Plain ``mode("append")`` parquet has a torn-write window: a crash mid-
write leaves partial part-files that a resume anti-join then treats as
committed, losing the unfinished documents forever. Iceberg closes
this with snapshot manifests; this module reproduces that protocol on
any filesystem whose directory rename is atomic, with one layout:

    <output>/
        _staging/<snap>/...    in-flight write (never read)
        <snap>/...             data, atomically renamed from staging
        _manifests/<snap>.manifest   commit marker, written LAST

Commit = write data under _staging -> rename it into place -> publish
the manifest LAST. Readers (and resume) list ONLY manifested
snapshots, so every possible crash point is safe:

    * during the data write: garbage stays under _staging;
    * after the rename, before the manifest: invisible to readers,
      re-emitted by resume;
    * after the manifest: fully committed, resume skips its doc_ids.

Crashed runs leave orphans (unmanifested snapshot/staging dirs) that
resume never reads but also never reclaims. ``recover`` is the one
crash-recovery call every writer makes before it touches a table: it
heals a half-published multi-table commit (``reconcile_aux``), then
deletes the orphans (``gc_orphans``), with a grace period so a
concurrently-committing writer's in-flight snapshot is never swept.
Consequently ``output`` must only ever be read via ``read_committed``
— a plain ``spark.read.parquet(output)`` would read uncommitted data
and double-count orphans.

File sizing: ``commit_append`` rebalances the data frame before its
write (Spark's ``REBALANCE`` hint, by the partition column when there
is one), the analogue of Iceberg's write distribution mode. AQE then
coalesces the shuffle into partitions of a target size of
max(``coalescePartitions.minPartitionSize``,
min(``advisoryPartitionSizeInBytes``, commit bytes / defaultParallelism))
— the session keeps Spark's default
``coalescePartitions.parallelismFirst=true``, which holds one partition
per core while the data allows it — and splits partitions over the
advisory size. "Commit bytes" is the rebalance's shuffle size. So an
unpartitioned append writes one file below ``minPartitionSize``
(1 MB), about one per ``minPartitionSize`` up to defaultParallelism x
``minPartitionSize``, about one per core from there up to
defaultParallelism x the advisory size (64 MB) — as many as the fold's
own tasks give, so there the rebalance saves no file and only costs
its shuffle — and files of about the advisory size above that. A
``--buckets`` append hashes each bucket to one partition, so it writes
one file per ``bucket=`` directory until a bucket passes the advisory
size, against up to one per fold task per directory without the
rebalance. Two writes are not rebalanced: the
lineage aux frames come out of a ``groupBy`` that already yields one
file, so a rebalance would only add a stage; and compaction asks for
an explicit file count (``coalesce(n_files)``), which it keeps.

Codec: every parquet file the sink writes — data, aux and compaction
output — is zstd (``PARQUET_CODEC``), Iceberg's default
``write.parquet.compression-codec`` since 1.4, in place of Spark's
snappy. It is a constant of the sink, like the manifest layout, with
no option to change it; ``fmt="json"`` data is written as Spark writes
it. Readers need no setting: parquet records the codec per column
chunk, so a table that mixes snappy snapshots committed before this
codec with zstd ones reads as one, and ``compact_snapshots`` rewrites
the old ones to zstd. The saving is in the data pages (the text
columns shrink by about 30%); the parquet footer is not compressed,
so a small commit of a few KB gains little, and a 1.7 KB lineage
file grows by about 50-70 bytes.

On a real cluster, swap this module for ``format("iceberg")`` with a
catalog — the job's call sites are the only coupling. That is also
the route for object stores without an atomic directory rename (raw
S3): Iceberg's catalog commit needs none.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

MANIFEST_DIR = "_manifests"
STAGING_DIR = "_staging"
# every parquet file a commit or compaction writes (module docstring)
PARQUET_CODEC = "zstd"


def _publish(output: str, snap: str,
             supersedes: list[str] | None = None) -> None:
    """Atomic commit marker: the LAST step of a commit. Line 1 is the
    snapshot id; any further lines are ``#supersedes <snap>``
    directives (compaction: the named snapshots are replaced by this
    one and ignored by readers from this publish on). Separated out so
    crash-injection tests can fail a commit after its data write."""
    mdir = os.path.join(output, MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".{snap}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(snap + "\n")
        for s in supersedes or []:
            fh.write(f"#supersedes {s}\n")
        # durability before visibility: without the fsync a power
        # loss after os.replace can surface an EMPTY or torn
        # manifest — a "committed" snapshot with no snapshot id,
        # the one crash shape the protocol docs promise cannot happen
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(mdir, f"{snap}.manifest"))
    # fsync the directory too: the rename itself must survive power
    # loss (POSIX does not order metadata without it)
    dfd = os.open(mdir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _manifest_files(output: str, snap: str) -> list[str]:
    """The torn-write check every read makes before it trusts a
    manifest; returns the manifest's data-file lines, which this sink
    never writes ([]: the data is the renamed <output>/<snap>)."""
    p = os.path.join(output, MANIFEST_DIR, f"{snap}.manifest")
    with open(p, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    # torn-write guard (belt to _publish's fsync braces): line 1 must
    # echo the snapshot id, else the manifest is corrupt — refuse to
    # read it, which would point the reader at a snapshot directory
    # whose commit never completed
    if not lines or lines[0] != snap:
        raise ValueError(f"corrupt manifest for snapshot {snap} "
                         f"under {output}")
    return [ln for ln in lines[1:] if ln and not ln.startswith("#")]


def _manifest_supersedes(output: str, snap: str) -> list[str]:
    """Snapshot ids this manifest's ``#supersedes`` directives replace
    ([] for ordinary append snapshots)."""
    p = os.path.join(output, MANIFEST_DIR, f"{snap}.manifest")
    with open(p, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    return [ln.split(" ", 1)[1] for ln in lines[1:]
            if ln.startswith("#supersedes ")]


def _list_data_files(base: str, relative_to: str) -> list[str]:
    """The sink's single definition of 'data file': every non-hidden,
    non-marker file under ``base`` (not _SUCCESS, not .crc), as paths
    relative to ``relative_to``."""
    return sorted(
        os.path.relpath(os.path.join(d, fn), relative_to)
        for d, _sub, fns in os.walk(base)
        for fn in fns
        if not fn.startswith(("_", "."))
    )


def _stage_snapshot(
    df: DataFrame, output: str, snap: str, fmt: str,
    partition_by: str | None = None,
) -> bool:
    """Write ``df`` under _staging/<snap> and atomically rename it to
    <output>/<snap>. Returns False (and cleans up) when the write
    produced no data files — a file-less parquet snapshot cannot be
    read back."""
    staging = os.path.join(output, STAGING_DIR, snap)
    w = df.write.mode("overwrite").format(fmt)
    if fmt == "parquet":
        w = w.option("compression", PARQUET_CODEC)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.save(staging)
    if not _list_data_files(staging, output):
        shutil.rmtree(staging, ignore_errors=True)
        return False
    dest = os.path.join(output, snap)
    if os.path.isdir(dest):
        # only reachable with a DETERMINISTIC snap id: a prior
        # attempt crashed between this rename and its manifest
        # publish. The leftover is unmanifested (the caller checks
        # before staging), so replacing it loses nothing.
        shutil.rmtree(dest)
    os.rename(staging, dest)
    return True


def commit_append(
    df: DataFrame, output: str, fmt: str = "parquet",
    partition_by: str | None = None,
    aux: list[tuple[DataFrame, str]] | None = None,
    snap_id: str | None = None,
) -> str | None:
    """Append ``df`` to ``output`` as one atomically-committed
    snapshot; returns the snapshot id, or None for an empty ``df``
    (a resume run with nothing left to do commits nothing, like an
    Iceberg empty-append fast path).

    ``df`` is rebalanced before the write (by ``partition_by`` when
    set), so its data files take their size from AQE's coalesce
    target, max(minPartitionSize, min(advisory size, commit bytes /
    defaultParallelism)), not from ``df``'s partitioning: a small
    commit writes one file (one per partition directory), a mid-sized
    unpartitioned one about one per core, and only a commit above
    defaultParallelism x the advisory size writes advisory-sized
    files. The ``aux`` frames are written as they come (see the module
    docstring). Every parquet file of the commit, ``aux`` included, is
    zstd-compressed (``PARQUET_CODEC``).

    ``aux`` — side tables (e.g. the lineage metrics) committed under
    the SAME snapshot id, analogous to an Iceberg multi-table commit.
    Ordering closes every crash window:

        1. stage + rename the data snapshot
        2. stage + rename each aux snapshot          (unmanifested)
        3. publish the DATA manifest                 <- commit point
        4. publish each aux manifest

    A crash before 3 leaves everything invisible (resume re-emits the
    documents and the orphan aux dirs are never read). A crash between
    3 and 4 leaves the aux DATA fully on disk, only its marker
    missing — ``reconcile_aux`` republishes it on the next run, so the
    lineage rows for a committed data snapshot can never be lost.

    ``snap_id`` — caller-supplied DETERMINISTIC snapshot id (must
    start with ``snap-``): the idempotent-replay hook for streaming
    foreachBatch sinks. If that id is already manifested the append is
    a no-op returning the id — a crash-replayed micro-batch commits
    exactly once. The default random id keeps batch appends
    collision-free."""
    if snap_id is not None:
        if not snap_id.startswith("snap-"):
            # gc_orphans/GC only recognize the snap- prefix; an alien
            # name would become unreclaimable invisible debris
            raise ValueError(f"snap_id must start with 'snap-': {snap_id!r}")
        if os.path.isfile(
            os.path.join(output, MANIFEST_DIR, f"{snap_id}.manifest")
        ) or snap_id in _known_snapshot_ids(output):
            # replay of a committed batch: exactly-once. The direct
            # stat is the O(1) common case; the KNOWN-id fallback
            # (live + superseded ids) covers a compaction between the
            # original commit and this replay — it deleted the
            # per-epoch manifest but recorded its id in a #supersedes
            # line, and the rows live on in the compacted snapshot;
            # re-appending would double them.
            return snap_id
    snap = snap_id or f"snap-{time.time_ns()}-{uuid.uuid4().hex[:8]}"
    rebalanced = (df.hint("rebalance", partition_by) if partition_by
                  else df.hint("rebalance"))
    if not _stage_snapshot(rebalanced, output, snap, fmt, partition_by):
        return None
    aux_staged = [aux_output for aux_df, aux_output in aux or []
                  if _stage_snapshot(aux_df, aux_output, snap, "parquet")]
    _publish(output, snap)
    for aux_output in aux_staged:
        _publish(aux_output, snap)
    return snap


def recover(output: str, aux_outputs: list[str | None]) -> None:
    """The crash-recovery call every writer makes before it reads or
    writes ``output``: republish the aux manifests a prior run left
    unpublished (``reconcile_aux``), then reclaim the unmanifested
    crash debris of each existing table (``gc_orphans``). In that
    order: an aux snapshot waiting for its marker is itself
    unmanifested, and a sweep first would delete the lineage of a
    committed snapshot. ``None`` entries (an optional aux table the
    caller was not given) are skipped."""
    aux_outputs = [a for a in aux_outputs if a]
    if aux_outputs:
        reconcile_aux(output, aux_outputs)
    for tgt in [output, *aux_outputs]:
        if os.path.isdir(tgt):
            gc_orphans(tgt)


def reconcile_aux(output: str, aux_outputs: list[str]) -> int:
    """Close the commit protocol's last crash window: for every
    manifested DATA snapshot whose aux snapshot dir exists but whose
    aux manifest is missing (died between steps 3 and 4 of
    ``commit_append``), publish the aux manifest. ``recover`` runs it
    before any aux table is read. Returns the number published.

    Keys on _known_snapshot_ids, not just live manifests: a
    compaction of the DATA table between the crash and this heal
    replaced the per-snapshot manifest with a #supersedes record, but
    the renamed aux data still deserves its marker — iterating only
    live ids would strand it until gc_orphans deletes the lineage of
    a committed snapshot forever."""
    n = 0
    for snap in sorted(_known_snapshot_ids(output)):
        for aux_output in aux_outputs:
            if os.path.isfile(
                os.path.join(aux_output, MANIFEST_DIR, f"{snap}.manifest")
            ):
                continue
            if os.path.isdir(os.path.join(aux_output, snap)):
                _publish(aux_output, snap)
                n += 1
    return n


def gc_orphans(output: str, grace_s: float = 3600.0) -> int:
    """Reclaim crash debris: unmanifested snapshot dirs (died between
    rename and publish) and staging entries (died mid-write). Returns
    the number of directories removed.

    ``grace_s`` — minimum age (mtime) before an orphan is swept, so a
    concurrent writer's snapshot that is between its data write and
    its manifest publish is never deleted. ``recover`` runs it at
    every writer's start; orphans are invisible to
    ``read_committed``/resume either way — GC only reclaims the disk."""
    committed = set(committed_snapshots(output))
    now = time.time()
    n = 0

    def sweep(base: str) -> int:
        removed = 0
        if not os.path.isdir(base):
            return 0
        for name in os.listdir(base):
            if not name.startswith("snap-") or name in committed:
                continue
            p = os.path.join(base, name)
            if not os.path.isdir(p):
                continue
            try:
                age = now - os.path.getmtime(p)
            except OSError:
                continue
            if age < grace_s:
                continue
            shutil.rmtree(p, ignore_errors=True)
            removed += 1
        return removed

    n += sweep(output)
    n += sweep(os.path.join(output, STAGING_DIR))
    # a crash inside _publish (between opening .{snap}.tmp and the
    # os.replace) leaves a hidden tmp manifest no other path ever
    # touches — sweep those too, same grace period
    mdir = os.path.join(output, MANIFEST_DIR)
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            if not (name.startswith(".") and name.endswith(".tmp")):
                continue
            p = os.path.join(mdir, name)
            try:
                if now - os.path.getmtime(p) < grace_s:
                    continue
                os.remove(p)
                n += 1
            except OSError:
                continue
    return n


def committed_snapshots(output: str) -> list[str]:
    """Manifested snapshot ids, minus any a compacted snapshot's
    ``#supersedes`` directives replace — the reader-side half of the
    compaction commit: the instant the compacted manifest publishes
    (one atomic os.replace), its inputs stop being listed, so no
    reader ever sees the rows twice."""
    mdir = os.path.join(output, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    names, superseded = _manifested_and_superseded(output)
    return [s for s in names if s not in superseded]


def _manifested_and_superseded(output: str) -> tuple[list[str], set[str]]:
    """(sorted manifested snapshot ids, ids any manifest's
    ``#supersedes`` directives name). THE one definition both the
    reader filter (committed_snapshots) and cleanup
    (_cleanup_superseded) use — they must never diverge on what
    counts as superseded."""
    mdir = os.path.join(output, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return [], set()
    names = sorted(
        m[: -len(".manifest")]
        for m in os.listdir(mdir)
        if m.endswith(".manifest")
    )
    superseded: set[str] = set()
    for s in names:
        try:
            superseded.update(_manifest_supersedes(output, s))
        except OSError:
            continue  # raced with cleanup of a superseded manifest
    return names, superseded


def _known_snapshot_ids(output: str) -> set[str]:
    """Every snapshot id that has EVER committed here: live manifests
    plus every id recorded in ``#supersedes`` directives. Compaction
    carries superseded ids forward transitively, so this set never
    shrinks — it is what idempotent replay (commit_append snap_id)
    and crash healing (reconcile_aux) key on; consulting only LIVE
    manifests would let a compaction run between commit and replay
    make a committed batch look uncommitted."""
    names, superseded = _manifested_and_superseded(output)
    return set(names) | superseded


def read_committed(
    spark: SparkSession, output: str, fmt: str = "parquet"
) -> DataFrame | None:
    """Union of all manifested snapshots, or None when nothing has
    committed yet (partial/staging data is never visible)."""
    snaps = committed_snapshots(output)
    if not snaps:
        return None
    return _union_snapshots(
        [_read_snapshot(spark, output, s, fmt) for s in snaps])


def _union_snapshots(dfs: list[DataFrame]) -> DataFrame:
    """unionByName as a balanced TREE, not a linear chain: a
    micro-batch-ingested table can hold thousands of snapshots, and a
    thousands-deep Union plan sends Catalyst analysis quadratic (or
    overflows the analyzer stack). Tree depth is log2(n) — 4k
    snapshots plan at depth 12. allowMissingColumns keeps cross-
    snapshot schema evolution readable, same as the old chain."""
    while len(dfs) > 1:
        dfs = [
            dfs[i] if i + 1 == len(dfs)
            else dfs[i].unionByName(dfs[i + 1], allowMissingColumns=True)
            for i in range(0, len(dfs), 2)
        ]
    return dfs[0]


def _read_snapshot(spark: SparkSession, output: str, snap: str,
                   fmt: str = "parquet") -> DataFrame:
    """One manifested snapshot as a DataFrame: its renamed
    <output>/<snap> directory, read once the manifest passes its
    torn-write check."""
    _manifest_files(output, snap)
    return spark.read.format(fmt).load(os.path.join(output, snap))


def compact_snapshots(
    spark: SparkSession, output: str, fmt: str = "parquet",
    n_files: int = 1, min_snapshots: int = 2,
    partition_by: str | None = None, lock_ttl_s: float = 3600.0,
) -> str | None:
    """Small-files maintenance: rewrite every committed snapshot into
    ONE new snapshot of ``n_files`` files and atomically supersede the
    inputs — the Iceberg ``rewrite_data_files`` analogue for this
    sink. Streaming ingest (extract_stream) commits one snapshot per
    micro-batch, so a long-running table accumulates thousands of
    tiny part-files; at corpus scale that serializes scan planning
    and wastes one task per sliver. Returns the compacted snapshot id
    (None when fewer than ``min_snapshots`` inputs exist — nothing
    worth rewriting).

    Crash-safety inherits the append protocol's shape: stage data →
    publish the compacted manifest carrying ``#supersedes`` lines for
    every input (THE commit point, one atomic os.replace) → delete
    superseded manifests, then their data. Readers before the publish
    see the inputs; after it, only the compacted snapshot
    (``committed_snapshots`` filters superseded ids) — at no instant
    both. A crash mid-cleanup leaves ignored manifests/dirs that the
    next ``compact_snapshots`` or ``gc_orphans`` reclaims. Snapshots
    committed CONCURRENTLY with the rewrite are untouched (they are
    not in the input list, so never superseded). Two compactors racing
    on the SAME inputs could double-publish (Iceberg prevents this
    with a CAS catalog); here an O_EXCL lock file under _manifests
    enforces the single-maintenance-writer rule on any filesystem
    with atomic create — a second compactor raises instead of
    corrupting, and a crashed holder's stale lock is taken over after
    ``lock_ttl_s``."""
    lock, token = _acquire_maintenance_lock(output, lock_ttl_s)
    hb_stop = _start_lock_heartbeat(lock, lock_ttl_s)
    try:
        return _compact_locked(spark, output, fmt, n_files, min_snapshots,
                               partition_by, lock, token)
    finally:
        hb_stop.set()
        _release_maintenance_lock(lock, token)


def _acquire_maintenance_lock(output: str, ttl_s: float) -> tuple[str, str]:
    """O_EXCL create of _manifests/.maintenance.lock holding a unique
    owner token; raises when a FRESH lock exists (another compactor is
    live — the heartbeat keeps a live holder's mtime fresh, so only a
    genuinely dead holder ever looks stale). Stale takeover is an
    atomic os.rename to a unique tombstone: of N racers exactly the
    one whose rename succeeds proceeds, the rest loop and see the
    winner's fresh lock."""
    mdir = os.path.join(output, MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    path = os.path.join(mdir, ".maintenance.lock")
    token = uuid.uuid4().hex
    while True:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token.encode())
            os.close(fd)
            return path, token
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(path)
            except OSError:
                continue  # holder released between open and stat
            if age <= ttl_s:
                raise ValueError(
                    f"maintenance lock held on {output} "
                    f"(age {age:.0f}s <= ttl {ttl_s:.0f}s); another "
                    "compactor is running")
            tomb = path + f".takeover-{token}"
            try:
                os.rename(path, tomb)  # atomic: one racer wins
            except OSError:
                continue  # lost the takeover race; re-examine
            try:
                os.remove(tomb)
            except OSError:
                pass


def _start_lock_heartbeat(path: str, ttl_s: float):
    """Daemon thread refreshing the lock's mtime so a LIVE compaction
    outlasting ``ttl_s`` (a big table rewrite) is never mistaken for
    a crashed holder. Returns the stop event."""
    import threading

    stop = threading.Event()

    def beat():
        while not stop.wait(max(1.0, min(60.0, ttl_s / 4))):
            try:
                os.utime(path)
            except OSError:
                return  # lock gone (released/taken over): stop beating

    t = threading.Thread(target=beat, daemon=True,
                         name="pdfspark-maintenance-lock-heartbeat")
    t.start()
    return stop


def _owns_maintenance_lock(path: str, token: str) -> bool:
    try:
        with open(path, encoding="utf-8") as fh:
            return fh.read().strip() == token
    except OSError:
        return False


def _release_maintenance_lock(path: str, token: str) -> None:
    """Remove the lock only if WE still own it (token match): after a
    TTL takeover the file belongs to someone else, and a blind remove
    would strip the new holder's mutual exclusion."""
    if _owns_maintenance_lock(path, token):
        try:
            os.remove(path)
        except OSError:
            pass


def _compact_locked(spark, output, fmt, n_files, min_snapshots,
                    partition_by, lock, token) -> str | None:
    _cleanup_superseded(output)
    snaps = committed_snapshots(output)
    if len(snaps) < min_snapshots:
        return None
    df = _union_snapshots(
        [_read_snapshot(spark, output, s, fmt) for s in snaps])
    snap = f"snap-{time.time_ns()}-{uuid.uuid4().hex[:8]}"
    # carry the inputs' OWN #supersedes ids forward (transitively):
    # the compacted manifest becomes the single record of every id
    # that ever committed, which the snap_id replay check and
    # reconcile_aux depend on after the per-epoch manifests are gone
    inherited: set[str] = set()
    for s in snaps:
        try:
            inherited.update(_manifest_supersedes(output, s))
        except OSError:
            pass
    # partition_by preserves a bucketed table's directory layout
    # (n_files then applies per partition dir)
    if not _stage_snapshot(df.coalesce(max(1, n_files)), output, snap,
                           fmt, partition_by=partition_by):
        # inputs were committed-but-empty
        return None
    # fence: a compactor paused past the TTL may have lost the lock to
    # a second one rewriting the same inputs; publishing now would make
    # every row read twice. The renamed dir stays unmanifested debris
    # for gc_orphans.
    if not _owns_maintenance_lock(lock, token):
        raise RuntimeError(
            f"maintenance lock on {output} was taken over during the "
            "rewrite; compacted snapshot not published")
    _publish(output, snap,
             supersedes=sorted(set(snaps) | inherited))  # <- commit point
    _cleanup_superseded(output)
    return snap


def detect_partition_col(output: str) -> str | None:
    """Partition column of a table's committed snapshots, discovered
    from the ``name=value`` directory layout (None = unpartitioned).
    Maintenance callers use this instead of trusting a re-passed
    CLI flag: omitting the flag would silently flatten a bucketed
    table's layout on rewrite, and passing it for an unpartitioned
    table would crash mid-maintenance. Mixed layouts raise — a table
    like that needs a human."""
    cols: set[str | None] = set()
    for s in committed_snapshots(output):
        base = os.path.join(output, s)
        if not os.path.isdir(base):
            continue
        part_dirs = sorted(
            d.split("=", 1)[0] for d in os.listdir(base)
            if "=" in d and os.path.isdir(os.path.join(base, d)))
        cols.add(part_dirs[0] if part_dirs else None)
    if len(cols) > 1:
        raise ValueError(
            f"snapshots of {output} disagree on partition layout: {cols}")
    return next(iter(cols), None)


def _cleanup_superseded(output: str) -> int:
    """Reclaim snapshots a compaction replaced: manifest FIRST (it is
    already ignored by readers), then the data. The reverse order
    could leave a live manifest pointing at deleted data. Counts only
    ids that still had something on disk (compaction carries
    superseded ids forward forever, so most are long gone)."""
    mdir = os.path.join(output, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return 0
    _names, superseded = _manifested_and_superseded(output)
    n = 0
    for s in superseded:
        removed = False
        mpath = os.path.join(mdir, f"{s}.manifest")
        if os.path.isfile(mpath):
            os.remove(mpath)
            removed = True
        p = os.path.join(output, s)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
            removed = True
        n += removed
    return n
