"""Generation-committed table storage for the stored-index lifecycle.

Every stored index in this engine (LSH bands, SimHash chunks, inverted
postings, IVF postings, PQ codes) is a parquet directory that gets
APPENDED daily and periodically COMPACTED.  Until r9 the compactors
committed via a two-``os.replace`` directory swap — each rename atomic
but the PAIR not, leaving a documented crash window (no ``postings/``
between the renames) and no object-store story at all (S3-like stores
have no atomic directory rename).

This module replaces the swap with a MANIFEST/POINTER commit:

* data lives in ``<table>__gen_<N>`` directories (one per generation);
* one SMALL pointer file ``<table>_CURRENT`` names the live generation;
* readers resolve the pointer (missing pointer → the legacy ``<table>``
  directory, so pre-generation indexes keep working unmodified);
* a compaction writes generation N+1 COMPLETELY, then flips the
  pointer with a single-file write-temp + ``os.replace`` (atomic on
  POSIX; the object-store translation is a conditional PUT of one
  key — the pattern Iceberg/Delta use for their metadata pointer),
  then garbage-collects every other generation.

Crash matrix (pytest-pinned by kill-point injection):
  during the gen-N+1 write   → pointer still names gen N; readers see
                               the old, complete generation; the
                               half-written dir is GC'd next compact.
  after flip, before GC      → pointer names gen N+1 (complete);
                               readers consistent; stale dirs are GC'd
                               next compact.
There is NO process-kill point at which a reader can observe a missing
or half-written table — the property the directory swap could not
give.  Power-loss durability: the pointer flip fsyncs the file AND the
parent directory before GC unlinks anything, so the rename can never
be lost while the unlinks survive; durability of the generation's DATA
files is the writer's filesystem/object-store contract (a journaled FS
or a PUT that returned success), the same boundary Iceberg/Delta draw.

DELETE support rides the same layout: ``<table>__tombstones`` holds the
deleted ids (append-only, tiny); ``read_table(..., id_col=...)``
anti-joins them at probe time (logical delete, O(tombstones) broadcast)
and ``compact_table`` excises them physically and clears the set —
delete+compact ≡ rebuild-from-survivors, oracle- and pytest-pinned.
Tombstones are cleared only AFTER the pointer flip: a crash between
flip and clear leaves tombstones whose rows are already excised, and
re-applying an anti-join against absent ids is a no-op.

Serial-writer contract (same as every artifact in this repo): one
appender/compactor per table at a time — the driver, bench, and pytest
harnesses are serial.  Readers are always safe.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_GEN_RE = re.compile(r"__gen_(\d+)$")


def _pointer_path(table: str) -> str:
    return table.rstrip("/") + "_CURRENT"


def _gen_dir(table: str, gen: int) -> str:
    return f"{table.rstrip('/')}__gen_{gen:06d}"


def tombstone_path(table: str) -> str:
    return table.rstrip("/") + "__tombstones"


def current_generation(table: str) -> int:
    """Live generation number; 0 means the legacy un-pointered layout
    (data at ``table`` itself)."""
    try:
        with open(_pointer_path(table), encoding="utf-8") as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return 0


def resolve_table(table: str) -> str:
    """Directory the live rows of ``table`` actually occupy — the
    generation the pointer names, or the legacy path when no pointer
    has ever been committed.  Every reader and appender of a
    generation-committed table goes through here."""
    gen = current_generation(table)
    return table if gen == 0 else _gen_dir(table, gen)


def _has_tombstones(table: str) -> bool:
    ts = tombstone_path(table)
    try:
        return any(name.endswith(".parquet") for name in os.listdir(ts))
    except OSError:
        return False


def append_tombstones(ids: DataFrame, table: str, id_col: str) -> None:
    """Logically DELETE ``ids[id_col]`` from ``table``: append them to
    the tombstone set (tiny — one value per deleted id).  Takes effect
    immediately for every ``read_table`` probe; physical excision (and
    tombstone clearing) happens at the next ``compact_table``.  Ids not
    present in the table are harmless (anti-join no-ops), so takedown
    lists can be applied verbatim without pre-filtering."""
    (
        ids.select(F.col(id_col))
        .distinct()
        .coalesce(1)
        .write.mode("append")
        .parquet(tombstone_path(table))
    )


def read_table(
    spark: SparkSession,
    table: str,
    id_col: str | None = None,
    generation: int | None = None,
) -> DataFrame:
    """Live rows of a generation-committed table: resolve the pointer,
    anti-join any tombstones (broadcast — the takedown set is always
    small relative to the index).  ``id_col=None`` skips the tombstone
    check for tables that never delete.

    ``generation=G`` is TIME TRAVEL: read generation G's directory
    as-is.  Because appends land in the LIVE generation's directory, a
    retained old generation holds the raw rows as of the moment it
    STOPPED being live — i.e. the pre-compaction state when G+1 was
    committed: everything tombstoned before G's compaction is already
    excised, rows appended OR tombstoned during G's tenure are present
    (their excision happened in G+1).  That is exactly the takedown
    audit view — "what did the table hold before this compaction's
    batch of deletes" — and it is immutable from the moment G+1
    commits (pinned by the model-based lifecycle test).  Requires the
    generation to still exist: compactions keep ``keep_generations``
    old snapshots (default 0 — retention is an explicit opt-in, the
    Iceberg/Delta snapshot-expiry knob)."""
    if generation is not None:
        gdir = _gen_dir(table, generation)
        if not os.path.isdir(gdir):
            raise FileNotFoundError(
                f"generation {generation} of {table} does not exist "
                "(expired by retention, or never committed)"
            )
        return spark.read.parquet(gdir)
    df = spark.read.parquet(resolve_table(table))
    if id_col is not None and _has_tombstones(table):
        ts = (
            spark.read.parquet(tombstone_path(table))
            .select(F.col(id_col))
            .distinct()
        )
        df = df.join(F.broadcast(ts), id_col, "left_anti")
    return df


def commit_generation(
    table: str,
    write_fn: Callable[[str], None],
    keep_generations: int = 0,
) -> str:
    """Write the next generation of ``table`` via ``write_fn(dest)``
    and make it live with one atomic pointer flip; then GC stale
    generations, RETAINING the newest ``keep_generations`` old ones
    for time-travel reads (default 0 — GC everything stale).  Returns
    the committed directory.  See the module docstring for the crash
    matrix."""
    cur = current_generation(table)
    nxt = cur + 1
    dest = _gen_dir(table, nxt)
    shutil.rmtree(dest, ignore_errors=True)
    write_fn(dest)
    # Atomic flip: the pointer is ONE small file, written to a temp
    # sibling and renamed over the live name — the object-store
    # translation is a conditional PUT of this single key.
    ptr = _pointer_path(table)
    tmp = ptr + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(str(nxt))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, ptr)
    # Make the rename's directory entry DURABLE before GC unlinks the
    # old generation: without the parent-dir fsync a power loss could
    # persist the unlinks but not the rename, leaving the pointer
    # naming a deleted directory.  (Process kills never reorder this
    # way — the dir fsync extends the crash matrix to power loss for
    # the POINTER; durability of the generation's data files remains
    # the writer's filesystem/object-store contract, e.g. a PUT that
    # returned success.)
    parent = os.path.dirname(ptr) or "."
    try:
        dfd = os.open(parent, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # non-POSIX or unsyncable parent — object stores don't need it
    gc_stale_generations(table, keep=keep_generations)
    return dest


def gc_stale_generations(table: str, keep: int = 0) -> None:
    """Remove every data directory of ``table`` that the pointer does
    NOT name: older generations, a half-written next generation from a
    crashed compact, and (once a pointer exists) the legacy directory.
    ``keep=N`` retains the N newest OLD generations (gen-N .. gen-1)
    for time-travel reads; everything older — and any generation AHEAD
    of the pointer (a crashed half-write) — still goes.  Safe to run
    any time — it never touches the live generation."""
    gen = current_generation(table)
    if gen == 0:
        return  # never committed — nothing is provably stale
    base = table.rstrip("/")
    # Compare directory NAMES, not joined paths: os.path.join(parent,
    # name) of a relative table ('./tbl__gen_000001') never equals the
    # bare f-string ('tbl__gen_000001'), and a path-equality guard
    # would GC the LIVE generation of any relative-path table.
    parent = os.path.dirname(base) or "."
    prefix = os.path.basename(base) + "__gen_"
    retained = {
        os.path.basename(_gen_dir(base, g))
        for g in range(max(1, gen - keep), gen + 1)
    }
    try:
        names = os.listdir(parent)
    except OSError:
        return
    for name in names:
        if name in retained:
            continue
        if name.startswith(prefix) and _GEN_RE.search(name):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    if os.path.isdir(base):
        shutil.rmtree(base, ignore_errors=True)


def reset_table(table: str) -> None:
    """Forget a table's generation/tombstone state ahead of a
    from-scratch REBUILD (a builder's ``mode("overwrite")`` writes the
    legacy directory, which a stale pointer would otherwise shadow).
    Removes the pointer, every generation directory, and the tombstone
    set; leaves the legacy directory for the builder to overwrite."""
    base = table.rstrip("/")
    try:
        os.remove(_pointer_path(base))
    except OSError:
        pass
    parent = os.path.dirname(base) or "."
    prefix = os.path.basename(base) + "__gen_"
    try:
        names = os.listdir(parent)
    except OSError:
        names = []
    for name in names:
        if name.startswith(prefix) and _GEN_RE.search(name):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    shutil.rmtree(tombstone_path(base), ignore_errors=True)


def compact_table(
    spark: SparkSession,
    table: str,
    id_col: str | None = None,
    write_fn: Callable[[DataFrame, str], None] | None = None,
    keep_generations: int = 0,
) -> None:
    """COMPACT a generation-committed table: read the live rows (with
    tombstones excised when ``id_col`` is given), rewrite them via
    ``write_fn(df, dest)`` (default: plain parquet), commit with the
    atomic pointer flip, and clear the consumed tombstones.

    Clearing AFTER the flip keeps every crash point consistent: a
    crash before the clear leaves tombstones that name already-excised
    rows — the next probe's anti-join is a no-op, and the next compact
    clears them.
    """
    df = read_table(spark, table, id_col=id_col)
    if write_fn is None:
        def write_fn(d: DataFrame, dest: str) -> None:  # noqa: F811
            d.write.mode("overwrite").parquet(dest)
    commit_generation(
        table,
        lambda dest: write_fn(df, dest),
        keep_generations=keep_generations,
    )
    shutil.rmtree(tombstone_path(table), ignore_errors=True)


# ---------------------------------------------------------------------------
# Atomic MULTI-TABLE delta commit (delta groups)
# ---------------------------------------------------------------------------
#
# Some stored indexes are a PAIR of tables that must move together —
# IVF+PQ's full-precision postings and its pqcodes: an append that
# lands in one but not the other leaves probes silently dropping (or
# ghosting) vectors.  Two independent appends have an unavoidable
# crash window; two pointer flips shrink it but cannot close it.
#
# A DELTA GROUP closes it with ONE rename: the appender stages every
# member table's delta under a single hidden directory
# ``<group>/deltas/.tmp_delta_<n>/<member>/...`` plus an APPLIES file
# recording, per member, the generation of that member's BASE table
# at stage time, then commits with a single ``os.rename`` to
# ``delta_<n>`` — after which ALL members' rows are visible, before
# which NONE are.  Readers union the base table with every delta
# whose recorded generation still equals the member's live
# generation; a member's compaction folds its applicable deltas into
# generation N+1 and flips its pointer, which EXPIRES those deltas
# for that member atomically with the same flip — so even between
# the two members' compaction flips every reader sees each row
# exactly once.  Fully-expired delta directories are GC'd by
# ``gc_consumed_deltas`` (safe any time).
#
# Crash matrix (kill-point pytest-pinned in test_storeops):
#   during staging            → hidden .tmp dir; readers unaffected;
#                               GC'd by the next gc_consumed_deltas.
#   between member compacts   → folded member's deltas expired by its
#                               flip; other member still reads its
#                               base + applicable deltas. Consistent.
#   after commit rename       → all members see the delta. Consistent.
# There is NO kill point at which one member's delta rows are visible
# and another's are not.

_DELTA_RE = re.compile(r"^delta_(\d+)$")


def _delta_root(group: str) -> str:
    return os.path.join(group.rstrip("/"), "deltas")


def _member_table(group: str, member: str) -> str:
    return os.path.join(group.rstrip("/"), member)


def _read_applies(delta_dir: str) -> dict[str, int]:
    out: dict[str, int] = {}
    try:
        with open(os.path.join(delta_dir, "APPLIES"), encoding="utf-8") as fh:
            for line in fh:
                if "=" in line:
                    member, gen = line.strip().split("=", 1)
                    out[member] = int(gen)
    except (OSError, ValueError):
        return {}
    return out


def commit_delta(group: str, writes: dict[str, Callable[[str], None]]) -> str:
    """Stage one delta spanning the member tables of ``group`` and
    make ALL of it visible with one atomic rename.  ``writes`` maps
    member name → write_fn(dest); each write lands under a hidden
    staging dir that readers never list, and the commit is a single
    ``os.rename`` (atomic on POSIX; the object-store translation is
    one conditional PUT of the delta's manifest key).  Returns the
    committed delta directory.

    SINGLE-WRITER contract (see gc_consumed_deltas): the APPLIES
    generations recorded here are read non-atomically vs a concurrent
    compact_member's read→flip window, so writers (commit_delta,
    compact_member, gc_consumed_deltas) must not run concurrently
    with each other — readers are always safe."""
    root = _delta_root(group)
    os.makedirs(root, exist_ok=True)
    taken = [
        int(m.group(1))
        for name in os.listdir(root)
        if (m := _DELTA_RE.match(name.removeprefix(".tmp_")))
    ]
    n = 1 + max(taken, default=0)
    staged = os.path.join(root, f".tmp_delta_{n:06d}")
    shutil.rmtree(staged, ignore_errors=True)
    os.makedirs(staged)
    for member, write_fn in writes.items():
        write_fn(os.path.join(staged, member))
    with open(os.path.join(staged, "APPLIES"), "w", encoding="utf-8") as fh:
        for member in writes:
            fh.write(
                f"{member}={current_generation(_member_table(group, member))}\n"
            )
        fh.flush()
        os.fsync(fh.fileno())
    final = os.path.join(root, f"delta_{n:06d}")
    os.rename(staged, final)
    return final


def live_delta_dirs(group: str, member: str) -> list[str]:
    """Member subdirectories of every committed delta still APPLICABLE
    to ``member``'s live generation, oldest first.  A delta expires
    for a member the instant that member's compaction flips its
    pointer (the APPLIES generation no longer matches)."""
    root = _delta_root(group)
    try:
        names = sorted(n for n in os.listdir(root) if _DELTA_RE.match(n))
    except OSError:
        return []
    gen = current_generation(_member_table(group, member))
    out = []
    for name in names:
        d = os.path.join(root, name)
        if _read_applies(d).get(member) == gen and os.path.isdir(
            os.path.join(d, member)
        ):
            out.append(os.path.join(d, member))
    return out


def read_member(
    spark: SparkSession,
    group: str,
    member: str,
    id_col: str | None = None,
) -> DataFrame:
    """Live rows of a delta-group member: base generation plus every
    applicable delta, minus tombstones.  The union is by name, each
    leg an ordinary partitioned-parquet scan, so partition pruning
    applies per leg."""
    table = _member_table(group, member)
    df = spark.read.parquet(resolve_table(table))
    for d in live_delta_dirs(group, member):
        df = df.unionByName(spark.read.parquet(d))
    if id_col is not None and _has_tombstones(table):
        ts = (
            spark.read.parquet(tombstone_path(table))
            .select(F.col(id_col))
            .distinct()
        )
        df = df.join(F.broadcast(ts), id_col, "left_anti")
    return df


def compact_member(
    spark: SparkSession,
    group: str,
    member: str,
    id_col: str | None = None,
    write_fn: Callable[[DataFrame, str], None] | None = None,
    keep_generations: int = 0,
) -> None:
    """Fold a member's base + applicable deltas (minus tombstones)
    into generation N+1 and flip its pointer — the same single-flip
    commit as ``compact_table``, with the member's deltas EXPIRING
    atomically at the flip (their APPLIES generation stops matching).
    Other members keep reading their own base + deltas throughout."""
    table = _member_table(group, member)
    df = read_member(spark, group, member, id_col=id_col)
    if write_fn is None:
        def write_fn(d: DataFrame, dest: str) -> None:  # noqa: F811
            d.write.mode("overwrite").parquet(dest)
    commit_generation(
        table,
        lambda dest: write_fn(df, dest),
        keep_generations=keep_generations,
    )
    shutil.rmtree(tombstone_path(table), ignore_errors=True)


# A .tmp_delta_* staging dir younger than this is treated as an
# IN-FLIGHT commit_delta and left alone by GC; older ones are wreckage
# from a crashed append.  Generous vs any plausible staging write.
_TMP_DELTA_GC_AGE_SEC = 3600.0


def gc_consumed_deltas(group: str, members: list[str]) -> None:
    """Remove delta directories no longer applicable to ANY member
    (every member's compaction has folded them in), plus abandoned
    hidden staging dirs from crashed appends.

    CONCURRENCY CONTRACT (ADVICE r11): the delta-group store is
    SINGLE-WRITER — one process runs commit_delta / compact_member /
    this GC at a time (readers are unrestricted; the pointer flip
    keeps them consistent).  Under that contract GC never touches a
    delta some member still reads.  As defence-in-depth for a GC
    racing an in-flight append from a DIFFERENT process, staging dirs
    are only collected once older than _TMP_DELTA_GC_AGE_SEC — a live
    commit_delta stages and renames within seconds, so an hour-old
    .tmp_delta_* is always wreckage."""
    root = _delta_root(group)
    try:
        names = os.listdir(root)
    except OSError:
        return
    gens = {
        m: current_generation(_member_table(group, m)) for m in members
    }
    now = time.time()
    for name in names:
        d = os.path.join(root, name)
        if name.startswith(".tmp_delta_"):
            try:
                age = now - os.path.getmtime(d)
            except OSError:
                continue  # vanished mid-scan: the rename won the race
            if age > _TMP_DELTA_GC_AGE_SEC:
                shutil.rmtree(d, ignore_errors=True)
            continue
        if not _DELTA_RE.match(name):
            continue
        applies = _read_applies(d)
        if all(applies.get(m) != gens[m] for m in members):
            shutil.rmtree(d, ignore_errors=True)
