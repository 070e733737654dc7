"""Sink operators — SURVEY.md §2.2 (K1-K3).

The reference writes to MongoDB three ways: per-document keyed upsert
(K1, racedag.py:68-73), per-row keyed upsert loop (K2,
scheduledag.py:74-81), and non-atomic truncate-and-reload (K3,
driverstandings.py:82-85 — delete_many then insert_many, which leaves
an EMPTY collection if the insert fails mid-way).

Spark-first restatement over parquet:

- K1/K2 -> dynamic partition overwrite keyed on the upsert key
  columns: idempotent (re-running a load replaces exactly its own
  partitions) and atomic per partition via the staged commit protocol.
  At 100 TB this is the only sane upsert: touched partitions rewrite,
  untouched ones are never read.
- K3 -> ``overwrite()``: same full-refresh semantics but STAGED — the
  new table is written to a side directory and swapped into place by
  renames, so the old data survives a mid-write failure (the window
  where neither rename has happened is recoverable from the ``__old``
  directory), deliberately improving on the reference's
  delete-then-insert failure mode (SURVEY.md §2.2 K3 note).
- ``merge_upsert`` -> row-level MERGE emulation (anti-join + union)
  for keys that don't align with a partition boundary; the staged
  ``merge_upsert_write`` form is the ``foreachBatch`` body for
  streaming upserts (§2.12).

At 100 TB the honest answer for row-level MERGE is an OSS table format
(Delta/Iceberg): real MERGE INTO, snapshot isolation, concurrent-writer
safety. Neither is installable in this container (no pip), so the
staged-rename emulation below is the deliberate fallback; its contract
(old data survives failure, readers see old-or-new, never half) is the
same one a table-format commit provides. Multi-writer safety is NOT
provided — but since round 5 it is ENFORCED rather than assumed: every
sink takes a ``_writer_lock`` lease and a second concurrent writer
raises ``ConcurrentWriterError`` instead of silently interleaving
renames, and hard-kill debris from a crashed swap fails the next write
fast (``StaleDebrisError``) instead of compounding it.
"""

from __future__ import annotations

import contextlib
import glob as _glob
import os
import shutil
import time as _time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# a foreign host's lease heartbeat younger than this blocks the write
# (see _writer_lock's cross-host fail-fast); older is treated as a
# crashed foreign holder and flock's same-host verdict stands alone
FOREIGN_LEASE_TTL_S = 900


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted to modify a table while another
    writer holds its lease — the single-writer contract, enforced
    (round-5 closure of the SCALE.md MERGE decision record's "assumed,
    unenforced" limitation)."""


class CrossHostWriterError(RuntimeError):
    """flock succeeded even though the lease file names a LIVE writer
    on a DIFFERENT host — on a filesystem that propagates flock across
    hosts that acquisition would have blocked, so this state proves
    the locks are NOT shared (e.g. an NFS mount whose flock is
    host-local) and two hosts could interleave a swap. Refuse rather
    than corrupt; see SCALE.md "Cross-host writer decision record"."""


class StaleDebrisError(RuntimeError):
    """Leftover ``__mergestage_`` / ``__mergeold_`` directories from a
    hard-killed partition swap were found next to the table. Writing
    through them could compound a half-applied swap, so every sink
    refuses until the operator resolves the crash (restore the dirs in
    ``__mergeold_<token>`` into the table, delete ``__mergestage_``)."""


@contextlib.contextmanager
def _writer_lock(path: str):
    """Single-writer lease for the table at ``path`` via
    ``fcntl.flock`` on a persistent ``<path>__lock`` file. flock is
    the right primitive here (review r5 round 2): acquisition is
    ATOMIC, a second live writer's non-blocking attempt fails
    immediately (-> ``ConcurrentWriterError``), and the kernel
    releases the lock when the holder dies — crash, SIGKILL, anything
    — so there is no dead-owner detection, no pid bookkeeping, and no
    steal protocol at all. (Two earlier hand-rolled designs — O_EXCL
    pid files with unlink-steal, then rename-aside steal — each had
    an unfixable read-check-replace race in the steal path; flock
    deletes the steal path.) The lock file persists between writes
    (unlink-on-release would reintroduce a race between flock-ing an
    unlinked inode and a fresh create) and carries the owner pid as
    advisory metadata for error messages only. Local-filesystem
    scope, like every sink in this module: on a real cluster / object
    store the equivalent contract comes from a table format's commit
    protocol or an external lock service (module docstring
    trade-off); NFS flock semantics vary — another reason prod uses a
    table format.

    Cross-host fail-fast (VERDICT r5 item 6): the lease body is
    ``pid epoch machine-identity`` while held and is TRUNCATED on
    release (still under the lock), so a non-empty body means a live
    or crashed holder. If flock succeeds while the body names a
    different MACHINE with a heartbeat fresher than
    ``FOREIGN_LEASE_TTL_S``, the locks are provably not propagating
    between the machines (a shared flock would have blocked us) —
    ``CrossHostWriterError``. Machine identity is hostname PLUS the
    kernel boot id (/proc/sys/kernel/random/boot_id): cloned VMs and
    default container hostnames make bare hostnames collide — two
    machines both named "localhost" would silently bypass a
    hostname-only check — while boot ids are regenerated per kernel
    boot, so they distinguish machines AND stay constant across
    processes of one host (a crashed same-host holder therefore never
    false-positives; flock stays authoritative there). Bounds: a
    foreign write longer than the TTL escapes detection (no heartbeat
    thread — documented trade), and a foreign CRASH inside the TTL
    false-positives until the TTL lapses, which errs on the safe
    side."""
    import fcntl
    import socket

    lock = f"{path}__lock"
    parent = os.path.dirname(os.path.abspath(path))
    if parent:
        os.makedirs(parent, exist_ok=True)  # first-ever write: the
        # warehouse dir may not exist yet; the lease must live where
        # the table will
    fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
    held = False
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            try:
                with open(lock) as fh:
                    owner = fh.read().split()[0]
            except (OSError, IndexError):
                owner = "unknown"
            raise ConcurrentWriterError(
                f"table {path!r} is being written by another live writer "
                f"(lease {lock!r}, advertised owner pid {owner}) — every "
                f"sink here is single-writer; serialize the writes or use "
                f"a table format"
            ) from None
        try:
            with open("/proc/sys/kernel/random/boot_id") as fh:
                boot = fh.read().strip()
        except OSError:
            boot = "noboot"
        host = f"{socket.gethostname()}/{boot}"
        try:
            with open(lock) as fh:
                prev = fh.read().split()
        except OSError:
            prev = []
        if len(prev) >= 3 and prev[2] != host:
            try:
                age = _time.time() - int(prev[1])
            except ValueError:
                age = 0.0
            if age < FOREIGN_LEASE_TTL_S:
                raise CrossHostWriterError(
                    f"acquired flock on {lock!r} while its lease body "
                    f"names a writer on machine {prev[2]!r} (pid {prev[0]}, "
                    f"heartbeat {age:.0f}s old < TTL "
                    f"{FOREIGN_LEASE_TTL_S}s) — this filesystem does not "
                    f"propagate flock between these hosts, so the "
                    f"single-writer contract cannot be enforced here. "
                    f"Serialize cross-host writers externally or use a "
                    f"table format; if {prev[2]!r} crashed, retry after "
                    f"the TTL."
                )
        os.ftruncate(fd, 0)
        os.write(fd, f"{os.getpid()} {int(_time.time())} {host}\n".encode())
        held = True
        yield
    finally:
        if held:
            try:
                # truncate while still holding the lock: an empty body
                # means "released", so a later FOREIGN host's
                # acquisition isn't false-positived by our completed
                # write. Skipped when we bailed on a foreign lease —
                # erasing a live foreign holder's body would strip the
                # protection for the next acquirer.
                os.ftruncate(fd, 0)
            except OSError:
                pass
        os.close(fd)  # closing the fd releases the flock


def _fail_on_merge_debris(path: str) -> None:
    """Fail fast when a previous partition swap was hard-killed
    mid-rename (ADVICE r4: the in-process rollback handles exceptions,
    but a SIGKILL between renames leaves ``__mergestage_``/
    ``__mergeold_`` dirs and possibly a table missing touched
    partitions; the next merge/delete used to proceed over it)."""
    debris = sorted(
        os.path.basename(d)
        for pat in (f"{path}__mergestage_*", f"{path}__mergeold_*")
        for d in _glob.glob(pat)
    )
    if debris:
        raise StaleDebrisError(
            f"table {path!r} has leftover swap debris from a crashed "
            f"writer: {debris}. Recover first: move any partition dirs "
            f"inside the __mergeold_<token> dir back into the table "
            f"(they are the displaced pre-swap copies), then delete the "
            f"__mergestage_/__mergeold_ dirs."
        )


def upsert_partitioned(df: DataFrame, path: str, key_cols: list[str]) -> None:
    """K1/K2 keyed upsert: replace exactly the (key...) partitions
    present in ``df``, leave all others untouched."""
    # dynamic mode as a writer option, scoped to THIS write: flipping
    # the session conf would leak into writes on other threads, turning
    # their full-refresh overwrites into partial ones
    with _writer_lock(path):
        (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy(*key_cols).parquet(path))


def staged_swap(df: DataFrame, path: str) -> None:
    """Write ``df`` to a staging directory, then swap it into place
    with two renames. A plain ``mode("overwrite")`` deletes the old
    table BEFORE the new write commits — a mid-write failure leaves the
    table empty (the exact K3 failure mode of the reference,
    driverstandings.py:82-85). Here a failure before the swap leaves
    the old table untouched; a failure between the two renames leaves
    the data recoverable in ``<path>__old`` — and a LATER call finding
    that state (table missing, ``__old`` present: a hard kill in the
    rename window) auto-restores the old copy before writing, instead
    of rmtree-ing the only surviving data (ADVICE r4). Concurrent
    writers are rejected by the ``_writer_lock`` lease. Local/HDFS
    rename is a cheap metadata move; object stores and true
    multi-writer atomicity want a table format instead (module
    docstring)."""
    with _writer_lock(path):
        _staged_swap_locked(df, path)


def _staged_swap_locked(df: DataFrame, path: str) -> None:
    """``staged_swap`` body without the lease, for callers that must
    hold ``_writer_lock`` across a WIDER span than the write itself —
    ``merge_upsert_write`` and ``compact`` read the table they are
    about to replace, and taking the lease only at swap time leaves
    the read-merge window unprotected: two concurrent merges could
    both pass the read phase, and the loser would die mid-stage-write
    with FileNotFound (the winner's swap removed the files it was
    reading) instead of the promised ConcurrentWriterError (ADVICE
    r5 #2). flock is not reentrant per-fd-pair, so the outer caller
    passes control here rather than re-acquiring."""
    old = f"{path}__old"
    if not os.path.exists(path) and os.path.exists(old):
        # crashed between the two renames of a previous swap:
        # __old holds the only committed copy — reinstall it (the
        # uncommitted stage of that crashed write is deleted below,
        # which is a clean rollback of a write that never committed)
        os.rename(old, path)
    for stale in _glob.glob(f"{path}__stage_*"):
        shutil.rmtree(stale, ignore_errors=True)
    stage = f"{path}__stage_{uuid.uuid4().hex[:8]}"
    try:
        df.write.mode("errorifexists").parquet(stage)
    except BaseException:
        # nothing swapped yet: remove the partial stage so a retrying
        # caller (streaming foreachBatch) doesn't accumulate one
        # orphaned debris dir per failure
        shutil.rmtree(stage, ignore_errors=True)
        raise
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old, ignore_errors=True)


def overwrite(df: DataFrame, path: str) -> None:
    """K3 truncate-and-reload as a staged swap (old data survives a
    mid-write failure)."""
    staged_swap(df, path)


def merge_upsert(
    existing: DataFrame | None, updates: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Row-level MERGE: rows of ``existing`` whose key appears in
    ``updates`` are replaced; new keys are inserted. Returns the merged
    DataFrame (caller writes it). Implemented as left-anti join +
    union — the standard MERGE emulation without a Delta/Iceberg table
    format (module docstring).

    ``updates`` must carry ONE row per key (the Delta MERGE rule:
    a source matching the same target row twice is an error, not an
    arbitrary pick) — enforced in ``merge_upsert_write``/the sinks
    that persist, where the one extra small aggregate per batch is
    cheap; this lazy builder leaves the plan unmodified."""
    if existing is None:
        return updates
    kept = existing.join(
        updates.select(*key_cols).distinct(), on=key_cols, how="left_anti"
    )
    return kept.unionByName(updates)


def merge_upsert_write(updates: DataFrame, path: str, key_cols: list[str]) -> None:
    """MERGE ``updates`` into the table at ``path`` and persist the
    result via ``staged_swap`` (the merged plan lazily reads ``path``,
    so the write must go to a staging dir — overwriting in place would
    read the table being deleted). Rejects duplicate keys in
    ``updates`` up front: the anti-join+union emulation would insert
    ALL copies, silently breaking the one-row-per-key invariant the
    table's consumers rely on.

    The writer lease covers the WHOLE read+merge+swap span (ADVICE
    r5 #2): ``read_or_none`` resolves the table's file listing (and
    probes a row) eagerly, so acquiring the lease only inside the
    swap would let two concurrent merges both pass the read phase —
    the loser then fails mid-stage-write with FileNotFound instead of
    the module-contract ConcurrentWriterError, and its merge result
    would be based on a listing the winner already replaced."""
    spark = updates.sparkSession
    dup = (
        updates.groupBy(*key_cols)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"merge_upsert_write: updates contain duplicate key(s), "
            f"e.g. {tuple(dup[0][k] for k in key_cols)} — aggregate the "
            f"batch to one row per key before merging"
        )
    with _writer_lock(path):
        existing = read_or_none(spark, path, schema=updates.schema)
        _staged_swap_locked(merge_upsert(existing, updates, key_cols), path)


def merge_upsert_partition_scoped(
    updates: DataFrame, path: str, key_cols: list[str], part_col: str
) -> list:
    """Row-level MERGE against a hive-partitioned table that reads and
    rewrites ONLY the partitions ``updates`` touches — the 100-TB MERGE
    shape without a table format (SCALE.md "MERGE story").

    ``merge_upsert_write`` rewrites the whole table per merge: correct,
    but O(table) I/O per call. Here the merge cost is O(touched
    partitions): the distinct ``part_col`` values of ``updates`` are
    collected driver-side (bounded by partitions-touched-per-batch, the
    same listing bound a Delta commit carries), the anti-join reads the
    table pruned to exactly those directory partitions, and the merged
    result is staged then swapped in per-partition by rename. Old
    partition data is moved OUTSIDE the table root during the swap so a
    concurrent reader never sees a phantom ``<v>__old`` partition
    value. Constraints (standard hive-partition MERGE): ``part_col``
    values must be non-null filesystem-safe scalars, and a row's
    partition value must be immutable (a key changing partitions is an
    insert in the new one, not a delete from the old — same as every
    partition-scoped MERGE emulation). Single-writer, like every sink
    here. Returns the list of partition values rewritten."""
    spark = updates.sparkSession
    _fail_on_merge_debris(path)
    vals = sorted(r[0] for r in updates.select(part_col).distinct().collect())
    assert all(v is not None for v in vals), "part_col must be non-null"
    part_strs = [str(v) for v in vals]
    if not os.path.exists(path):
        # bootstrap through the SAME staged+validated path as every
        # later merge: the old direct write accepted a hive-escapable
        # part_col value at table creation (day='d:1' -> day=d%3A1 on
        # disk) that every SUBSEQUENT merge then rejects — validating
        # clean on batch 1 and failing permanently from batch 2 — and
        # a mid-write crash left a partial table the next call treated
        # as a valid existing one. Stage, validate, single rename.
        bootstrapped = False
        with _writer_lock(path):
            # re-check under the lease: another writer may have
            # bootstrapped between the unlocked check and lock acquire
            # (review r5 #2) — if so, fall through to the merge path
            if not os.path.exists(path):
                stage = f"{path}__mergestage_{uuid.uuid4().hex[:8]}"
                try:
                    updates.write.partitionBy(part_col).parquet(stage)
                    expected = {f"{part_col}={v}" for v in part_strs}
                    staged = {
                        d for d in os.listdir(stage) if d.startswith(f"{part_col}=")
                    }
                    missing = expected - staged
                    if missing:
                        raise ValueError(
                            f"staged bootstrap write is missing partition dir(s) "
                            f"{sorted(missing)} (staged: {sorted(staged)}): the "
                            f"part_col value is escaped by the hive layout — "
                            f"pre-sanitize partition values to filesystem-safe "
                            f"scalars (docstring constraint)"
                        )
                    # the rename lives INSIDE the cleanup scope: if it
                    # fails, the stage must not survive as phantom
                    # crash debris that wedges every later write
                    # (review r5 #2)
                    os.rename(stage, path)
                except BaseException:
                    shutil.rmtree(stage, ignore_errors=True)
                    raise
                bootstrapped = True
        if bootstrapped:
            return vals
    # filter on the NATIVE partition column (directory pruning), then
    # realign column types to the updates schema — hive partition-type
    # inference may read the partition column back as a different type.
    # The lease covers the READ too (ADVICE r5 #2, same as
    # merge_upsert_write): spark.read.parquet resolves the file
    # listing at analysis, and a concurrent writer swapping partitions
    # between that listing and our rewrite would either kill this
    # merge mid-stage with FileNotFound or base it on rows the winner
    # already replaced.
    with _writer_lock(path):
        scoped = (
            spark.read.parquet(path)
            .filter(F.col(part_col).isin(vals))
            .select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in updates.schema.fields]
            )
        )
        merged = merge_upsert(scoped, updates, key_cols)
        _staged_partition_rewrite(
            merged, path, part_col, part_strs, allow_vanished=False
        )
    return vals


def _staged_partition_rewrite(
    result: DataFrame,
    path: str,
    part_col: str,
    part_strs: list[str],
    allow_vanished: bool,
) -> None:
    """Shared crash-safe partition-swap protocol for the
    partition-scoped MERGE and DELETE sinks: write ``result`` staged,
    validate, then swap each touched partition into the table by
    rename, with full rollback on mid-swap failure.

    ``allow_vanished``: a touched partition value absent from the
    staged write is an ERROR for merge (updates carry rows for every
    value — absence means the value was hive-escaped and the update
    would be silently dropped) but LEGITIMATE for delete (every row
    of the partition was deleted — the swap then removes the old
    partition dir and installs nothing)."""
    _fail_on_merge_debris(path)
    token = uuid.uuid4().hex[:8]
    stage = f"{path}__mergestage_{token}"
    trash = f"{path}__mergeold_{token}"
    os.makedirs(trash)
    try:
        result.write.partitionBy(part_col).parquet(stage)
        # Every touched partition value SHOULD appear in the staged
        # write under exactly the hand-built ``col=value`` name: a
        # value Spark hive-escapes in directory names (space, ':',
        # '=', '%', ...) would not match, and the old code's silent
        # ``continue`` dropped those updates while still reporting the
        # value as rewritten. Fail loudly instead, naming what was
        # staged — except where ``allow_vanished`` makes absence a
        # legitimate full-partition delete. The escape hazard is then
        # handled by the caller validating against dirs that DID stage
        # (an escaped value that stages under a different name still
        # trips the check whenever any of its rows survive).
        expected = {f"{part_col}={v}" for v in part_strs}
        staged = {
            d for d in os.listdir(stage) if d.startswith(f"{part_col}=")
        }
        missing = expected - staged
        if missing and not allow_vanished:
            raise ValueError(
                f"staged merge write is missing partition dir(s) "
                f"{sorted(missing)} (staged: {sorted(staged)}): the "
                f"part_col value is escaped by the hive layout — "
                f"pre-sanitize partition values to filesystem-safe "
                f"scalars (docstring constraint)"
            )
        unexpected = staged - expected
        if unexpected:
            raise ValueError(
                f"staged write produced partition dir(s) {sorted(unexpected)} "
                f"outside the touched set {sorted(expected)}: a part_col "
                f"value is escaped by the hive layout — pre-sanitize "
                f"partition values to filesystem-safe scalars"
            )
    except BaseException:
        # nothing has been swapped yet — the table is untouched, so the
        # staging debris is safe to remove
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(trash, ignore_errors=True)
        raise
    installed: list[str] = []  # partition dirs swapped into the table
    try:
        for sub in sorted(expected):
            src = os.path.join(stage, sub)
            dst = os.path.join(path, sub)
            if os.path.exists(dst):
                os.rename(dst, os.path.join(trash, sub))
            if os.path.exists(src):
                os.rename(src, dst)
                installed.append(sub)
            # else: full-partition delete — old copy now in trash,
            # nothing to install (only reachable with allow_vanished)
    except BaseException:
        # Mid-swap failure: roll the table back to its pre-merge state.
        # Two cases per touched partition: (a) it had an old copy —
        # restore it from trash (the OLD copies in trash are the only
        # ones in existence, which is why they must never be rmtree'd
        # on this path; the pre-fix code did exactly that and a
        # mid-swap crash lost data permanently); (b) it was NEWLY
        # created by this merge — remove it, otherwise a partially
        # applied merge stays visible (new partitions that sort before
        # the failing rename would otherwise survive the rollback; the
        # new data is reproducible by re-running the merge). If a
        # restore itself fails, stage and trash are left on disk for
        # manual recovery.
        restore_failed = False
        for sub in sorted(expected):
            dst = os.path.join(path, sub)
            old = os.path.join(trash, sub)
            try:
                if os.path.exists(old):  # case (a): displaced old copy
                    shutil.rmtree(dst, ignore_errors=True)
                    os.rename(old, dst)
                elif sub in installed:  # case (b): brand-new partition
                    shutil.rmtree(dst, ignore_errors=True)
            except OSError:
                restore_failed = True  # leave trash; the raise surfaces it
        if not restore_failed:
            # rollback fully restored the table: the stage (uncommitted
            # new data) and the now-emptied trash are disposable — and
            # MUST go, or the entry debris check would wedge the next
            # write over a table that is actually consistent
            shutil.rmtree(stage, ignore_errors=True)
            shutil.rmtree(trash, ignore_errors=True)
        raise
    # success: every partition swapped — only now is trash disposable
    shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(trash, ignore_errors=True)


def delete_keys_partition_scoped(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_cols: list[str],
    part_col: str,
) -> list:
    """Right-to-be-forgotten delete against a hive-partitioned table
    that reads and rewrites ONLY the partitions containing the keys —
    the GDPR-erasure shape without a table format (same O(touched
    partitions) contract and crash-safe swap protocol as
    ``merge_upsert_partition_scoped``).

    ``keys`` must carry ``part_col`` alongside ``key_cols`` (the
    key->partition mapping: from the key itself, or the requester's
    index — the same contract every partition-scoped erasure pipeline
    imposes so a delete never scans the whole table). The anti-join
    matches on key_cols AND part_col, so a request erases exactly the
    (key, partition) pairs it names — a key living in several
    partitions loses only the copies the request maps; the outcome of
    a batch equals the union of deleting each key alone
    (compositional, no batch-dependent over-delete). A partition
    whose every row is deleted is REMOVED from the table, not left as
    an empty directory. Because that vanished-partition case disables
    the staged-dirs escape check (a legitimately emptied partition
    and a hive-escaped value both stage nothing), partition values
    are validated UP FRONT against the filesystem-safe alphabet —
    the merge sink's documented constraint, enforced eagerly here.
    Idempotent: re-running the same delete is a no-op rewrite.
    Returns the partition values touched ([] for an empty request)."""
    _fail_on_merge_debris(path)
    vals = sorted(r[0] for r in keys.select(part_col).distinct().collect())
    if not vals:
        return []
    assert all(v is not None for v in vals), "part_col must be non-null"
    part_strs = [str(v) for v in vals]
    unsafe = [
        v for v in part_strs
        if not all(c.isalnum() or c in "-_." for c in v)
    ]
    if unsafe:
        raise ValueError(
            f"delete_keys_partition_scoped: partition value(s) {unsafe} "
            f"contain characters the hive layout escapes in directory "
            f"names — a full-partition delete of such a value would "
            f"silently no-op (the on-disk dir name differs). "
            f"Pre-sanitize partition values to [A-Za-z0-9._-]."
        )
    if not os.path.exists(path):
        # ADVICE r4: an erasure request aimed at a missing/wrong table
        # path must not report success — the caller would record the
        # keys as erased while nothing was. (An EMPTY request above
        # still returns []: 'nothing to erase' is distinguishable from
        # 'nowhere to erase it from'.)
        raise FileNotFoundError(
            f"delete_keys_partition_scoped: table {path!r} does not exist "
            f"but {len(part_strs)} partition value(s) were requested for "
            f"erasure — refusing to report an erasure that did not happen"
        )
    # lease covers the read phase too (ADVICE r5 #2; see the merge
    # sibling above for the race this closes)
    with _writer_lock(path):
        scoped = spark.read.parquet(path).filter(F.col(part_col).isin(vals))
        join_cols = [*key_cols, part_col]
        # align the keys frame's join-column types to the table's (hive
        # partition-type inference may differ from the caller's frame)
        sch = {f.name: f.dataType for f in scoped.schema.fields}
        keyed = keys.select(
            *[F.col(c).cast(sch[c]).alias(c) for c in join_cols]
        ).distinct()
        kept = scoped.join(F.broadcast(keyed), on=join_cols, how="left_anti").select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in scoped.schema.fields]
        )
        _staged_partition_rewrite(kept, path, part_col, part_strs, allow_vanished=True)
    return vals


def compact(spark: SparkSession, path: str, target_files: int) -> int:
    """Small-files compaction: rewrite a parquet table into
    ``target_files`` files (staged via a temp suffix, then swapped by
    an atomic-enough overwrite). At 100 TB streaming upserts and
    per-partition writes accumulate small files that poison scan
    parallelism and NameNode/listing cost; periodic compaction with
    ``repartition`` (full shuffle, even sizes) is the standard cure —
    use ``coalesce`` instead when skew is acceptable to avoid the
    shuffle. Returns the file count after compaction. Like
    ``merge_upsert_write``, the lease covers the read too: the file
    listing resolved by ``spark.read`` must be the one the swap
    replaces (ADVICE r5 #2)."""
    with _writer_lock(path):
        df = spark.read.parquet(path)
        _staged_swap_locked(df.repartition(target_files), path)
    import glob

    return len(glob.glob(f"{path}/part-*"))


def read_or_none(spark: SparkSession, path: str, schema=None) -> DataFrame | None:
    """None ONLY when ``path`` does not exist. An existing path that
    fails to read RAISES: the callers are merge paths for which
    'table absent' means "replace the table with this batch" — if a
    transient read error were swallowed into None (the pre-fix
    behavior), one corrupt footer or Py4J hiccup would silently
    replace a whole table with the current batch, deleting every key
    not in it."""
    if not os.path.exists(path):
        return None
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    df.head(1)  # surface read errors HERE, not mid-merge
    return df


def write_sized_files(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    max_records_per_file: int,
    num_ranges: int | None = None,
) -> None:
    """File-size governance for scan-friendly tables: range-partition
    on the sort key (each output file then covers a tight, mostly
    disjoint min/max range — the footer stats a reader prunes on),
    sort within partitions, and cap records per file. At 100 TB this
    is the knob pair that keeps files in the 128 MB-1 GB sweet spot:
    too-small files poison listing/open cost (see ``compact``),
    too-big files serialize row-group reads; ``maxRecordsPerFile``
    splits oversized partitions at write time without another
    shuffle. Complements Z-order (sinks/layout.py) which trades
    single-key locality for multi-key locality."""
    parted = (
        df.repartitionByRange(num_ranges, *sort_cols)
        if num_ranges is not None
        else df.repartitionByRange(*sort_cols)
    )
    (
        parted.sortWithinPartitions(*sort_cols)
        .write.option("maxRecordsPerFile", max_records_per_file)
        .mode("overwrite")
        .parquet(path)
    )
