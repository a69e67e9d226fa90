"""Crash-safe versioned snapshot store shared by the streaming folds.

The naive two-rename directory swap (write tmp → rename current away →
rename tmp in) has a crash window between the renames where the snapshot
does not exist: a restart then treats the store as empty and silently
discards all accumulated state, and a leftover ``._old`` directory wedges
every later swap.  This store uses the pointer-file protocol instead
(the shape of Delta's ``_last_checkpoint`` / HDFS checkpointing):

- each fold writes a NEW versioned directory ``v<ts>-<n>/`` (never
  touching the previous one), then atomically publishes it by writing a
  temp pointer file and ``os.rename``-ing it over ``CURRENT`` — a
  single-file rename, atomic on POSIX;
- readers resolve ``CURRENT`` and read that version: at every instant
  the pointer names a fully-written directory, so a crash at ANY point
  leaves the previous state intact and readable;
- superseded versions are pruned best-effort AFTER the publish; a crash
  mid-prune leaves garbage directories, never a broken snapshot.

Keeping one committed version durable at all times costs one extra
version's worth of storage transiently — the standard price of
copy-on-write publication.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_POINTER = "CURRENT"


def _pointer_path(root: str) -> str:
    return os.path.join(root, _POINTER)


def current_version(root: str) -> str | None:
    """Name of the committed version directory, or None if never written."""
    try:
        with open(_pointer_path(root)) as f:
            name = f.read().strip()
    except FileNotFoundError:
        return None
    return name or None


_SEG_MANIFEST = "_segments"
_BATCH_MANIFEST = "_batches"


def _manifest_segments(root: str, name: str) -> list[str] | None:
    """Segment names listed by a manifest version, or None if ``name`` is
    a plain data-directory version."""
    try:
        with open(os.path.join(root, name, _SEG_MANIFEST)) as f:
            return [ln.strip() for ln in f if ln.strip()]
    except FileNotFoundError:
        return None


def _read_ledger(root: str) -> tuple[int, set[str]]:
    """(high, explicit) form of the batch ledger: all integer ids in
    [0, high] are folded (high = -1 when none), plus the explicitly
    listed ids.  Structured Streaming batch ids are monotonic integers
    from 0, so the in-contract stream collapses to the single ``<=high``
    line — the ledger file stays O(1) instead of one line per batch
    forever (r9 VERDICT watch item #2).  Non-integer or out-of-order ids
    stay explicit (the set form is the fallback, not the common case).
    Legacy all-explicit files parse as explicit and normalize on the
    next publish."""
    name = current_version(root)
    high, explicit = -1, set()
    if name is None:
        return high, explicit
    try:
        with open(os.path.join(root, name, _BATCH_MANIFEST)) as f:
            for ln in f:
                ln = ln.strip()
                if not ln:
                    continue
                if ln.startswith("<="):
                    high = max(high, int(ln[2:]))
                else:
                    explicit.add(ln)
    except FileNotFoundError:
        pass
    return _normalize_ledger(high, explicit)


def _normalize_ledger(high: int, explicit: set[str]) -> tuple[int, set[str]]:
    """Fold contiguous integer ids into the high-water mark.  Every
    SPELLING of a folded id leaves the explicit set ('007', ' 7' parse
    to the same int as '7' and must not linger once folded — they were
    already counted into the high-water test), and the working set
    mutates in place instead of rebuilding per fold (O(n), not O(n²))."""
    spellings: dict[int, list[str]] = {}
    for e in explicit:
        try:
            spellings.setdefault(int(e), []).append(e)
        except ValueError:
            pass
    out = set(explicit)
    while high + 1 in spellings:
        high += 1
        for s in spellings.pop(high):
            out.discard(s)
    return high, out


def is_batch_folded(root: str, batch_id: str | int) -> bool:
    """Replay check: has this batch id already been folded into the
    committed snapshot?  O(ledger) with the ledger O(1) for in-order
    integer streams — use this (not ``folded_batches`` membership) in
    foreachBatch bodies."""
    high, explicit = _read_ledger(root)
    bid = str(batch_id)
    try:
        # non-negative guard: with an empty ledger (high = -1) a caller
        # using negative ids must NOT read as already-folded — int('-3')
        # <= -1 is True, which would silently skip the fold forever
        if 0 <= int(bid) <= high:
            return True
    except ValueError:
        pass
    return bid in explicit


def folded_batches(root: str) -> set[str]:
    """Batch ids already folded into the committed snapshot (the ids
    passed as ``batch_id`` to :func:`append_snapshot_segment`).  Empty
    for plain-version stores, never-written stores, and folds that did
    not declare a batch id.  This is the replay ledger: a foreachBatch
    body re-run after a crash consults it to skip the duplicate fold
    (prefer :func:`is_batch_folded` for the membership test — this
    MATERIALIZES the high-water range as strings, which is fine for
    tests/audits and wasteful inside a hot fold)."""
    high, explicit = _read_ledger(root)
    return {str(i) for i in range(high + 1)} | explicit


def read_snapshot(spark: SparkSession, root: str) -> DataFrame | None:
    """The committed snapshot as a DataFrame, or None before first publish.
    A version is either a plain parquet directory (publish_snapshot) or a
    manifest over append-only segments (append_snapshot_segment)."""
    name = current_version(root)
    if name is None:
        return None
    segs = _manifest_segments(root, name)
    if segs is None:
        return spark.read.parquet(os.path.join(root, name))
    return spark.read.parquet(*[os.path.join(root, s) for s in segs])


def publish_snapshot(df: DataFrame, root: str) -> str:
    """Write ``df`` as a new version and atomically re-point CURRENT at it.
    Returns the published version name."""
    os.makedirs(root, exist_ok=True)
    prev = current_version(root)
    seq = 0 if prev is None else int(prev.rsplit("-", 1)[1]) + 1
    name = f"v-{seq}"
    df.write.mode("overwrite").parquet(os.path.join(root, name))
    tmp = _pointer_path(root) + ".tmp"
    with open(tmp, "w") as f:
        f.write(name)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, _pointer_path(root))  # atomic single-file publish
    # best-effort prune of superseded versions (and crashed partials);
    # a full publish supersedes any append-only segments too
    for entry in os.listdir(root):
        if (entry.startswith("v-") and entry != name) or entry.startswith("seg-"):
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    return name


def _publish_manifest(
    root: str,
    segs: list[str],
    ledger: tuple[int, set[str]] | None = None,
) -> str:
    """Write a manifest version listing ``segs`` (and the folded-batch
    ``ledger`` in its compact (high, explicit) form) and point CURRENT
    at it; prune superseded versions and unreferenced segments."""
    prev = current_version(root)
    seq = 0 if prev is None else int(prev.rsplit("-", 1)[1]) + 1
    name = f"v-{seq}"
    vdir = os.path.join(root, name)
    os.makedirs(vdir, exist_ok=True)
    with open(os.path.join(vdir, _SEG_MANIFEST), "w") as f:
        f.write("\n".join(segs))
        f.flush()
        os.fsync(f.fileno())
    if ledger is not None and (ledger[0] >= 0 or ledger[1]):
        high, explicit = _normalize_ledger(*ledger)
        lines = ([f"<={high}"] if high >= 0 else []) + sorted(explicit)
        with open(os.path.join(vdir, _BATCH_MANIFEST), "w") as f:
            f.write("\n".join(lines))
            f.flush()
            os.fsync(f.fileno())
    tmp = _pointer_path(root) + ".tmp"
    with open(tmp, "w") as f:
        f.write(name)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, _pointer_path(root))
    live = set(segs)
    for entry in os.listdir(root):
        stale_v = entry.startswith("v-") and entry != name
        stale_seg = entry.startswith("seg-") and entry not in live
        if stale_v or stale_seg:
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    return name


def append_snapshot_segment(
    df: DataFrame,
    root: str,
    *,
    batch_id: str | int | None = None,
    compact_every: int | None = None,
) -> str:
    """Append ``df`` as a new immutable segment — write cost is the BATCH,
    not the accumulated state (contrast publish_snapshot, which rewrites;
    right for key-bounded partial aggregates, wrong for monotonically
    growing state like the near-dup index).  Crash-safe by the same
    pointer protocol: the segment lands fully before the manifest version
    publishes; a crash in between leaves an unreferenced segment that the
    next successful publish prunes.  Returns the published version name.

    ``batch_id`` makes the fold IDEMPOTENT under foreachBatch's
    at-least-once replay: the id is recorded in the committed manifest's
    batch ledger, and a second call carrying an already-folded id is a
    no-op (a crash between this publish and the streaming-checkpoint
    commit replays the batch; without the ledger the replay folds the
    same rows twice, permanently inflating per-key counts downstream).
    The ledger survives :func:`compact_segments`; a full
    :func:`publish_snapshot` rewrite supersedes it (the caller is
    declaring new state wholesale).  The ledger file is O(1) for
    in-order integer batch ids (high-water form, see
    :func:`_read_ledger`), so a month-long stream's manifest I/O stays
    O(batches), not O(batches^2).

    ``compact_every``: opt-in inline maintenance — when the live
    segment count (including this fold's) reaches the bound, all
    segments merge into one before the publish, so a long-lived stream
    holds at most ``compact_every`` live segments instead of one per
    batch forever.  The merge rewrites the accumulated state (cost
    amortized to state_size/compact_every per fold); crash-safe like
    everything else here — the merged segment lands fully before the
    manifest that references it publishes.
    """
    os.makedirs(root, exist_ok=True)
    prev = current_version(root)
    bid = None if batch_id is None else str(batch_id)
    segs: list[str] = []
    ledger: tuple[int, set[str]] = (-1, set())
    if prev is not None:
        ledger = _read_ledger(root)
        if bid is not None and is_batch_folded(root, bid):
            return prev  # replay of an already-folded batch: no-op
        prev_segs = _manifest_segments(root, prev)
        if prev_segs is None:
            # migrate a plain version into segment form (one-time rewrite)
            spark = df.sparkSession
            seg0 = "seg-0"
            spark.read.parquet(os.path.join(root, prev)).write.mode(
                "overwrite"
            ).parquet(os.path.join(root, seg0))
            segs = [seg0]
        else:
            segs = list(prev_segs)
    nums = [int(s.rsplit("-", 1)[1]) for s in segs] or [-1]
    seg = f"seg-{max(nums) + 1}"
    df.write.mode("overwrite").parquet(os.path.join(root, seg))
    if bid is not None:
        ledger = (ledger[0], ledger[1] | {bid})
    segs = segs + [seg]
    if compact_every is not None and len(segs) >= compact_every:
        spark = df.sparkSession
        merged = spark.read.parquet(*[os.path.join(root, s) for s in segs])
        mseg = f"seg-{max(nums) + 2}"
        merged.write.mode("overwrite").parquet(os.path.join(root, mseg))
        segs = [mseg]
    return _publish_manifest(root, segs, ledger)


def compact_segments(spark: SparkSession, root: str) -> str | None:
    """Fold all live segments into one (small-files maintenance for a
    long-running append snapshot); no-op on plain or empty stores."""
    name = current_version(root)
    if name is None:
        return None
    segs = _manifest_segments(root, name)
    if segs is None or len(segs) <= 1:
        return None
    df = spark.read.parquet(*[os.path.join(root, s) for s in segs])
    nums = [int(s.rsplit("-", 1)[1]) for s in segs]
    seg = f"seg-{max(nums) + 1}"
    df.write.mode("overwrite").parquet(os.path.join(root, seg))
    # the batch ledger survives compaction — replay protection must not
    # lapse just because maintenance ran between a crash and its replay
    return _publish_manifest(root, [seg], _read_ledger(root))
