"""Versioned stage tables on plain parquet: atomic publish, time
travel, rollback — no table-format dependency.

A 100 TB pipeline overwriting a stage in place has two failure modes:
a reader mid-scan sees a half-deleted directory, and a bad run
destroys the only good copy. Table formats (Delta/Iceberg) fix this
with versioned metadata; the same core guarantee needs nothing but
directories and an atomic rename, which is what this module provides:

    root/
      v00001/ ... parquet files ...
      v00002/ ...
      _CURRENT            <- one line: "v00002" (atomic swap)

Writers land a complete new version directory, then swap _CURRENT via
write-temp + os.replace (atomic on POSIX). Readers resolve _CURRENT
once and scan an immutable directory — a concurrent publish never
mutates files under them. Rollback is a _CURRENT swap; vacuum deletes
unreferenced versions older than a keep count. On object stores the
same protocol holds with a small-object put for the pointer (S3 PUT
is atomic per key).
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession

_VER_RE = re.compile(r"^v(\d{5})$")
_POINTER = "_CURRENT"


def _pointer_path(root: str) -> str:
    return os.path.join(root, _POINTER)


def list_versions(root: str) -> list[int]:
    """Ascending version numbers present under root (complete or not —
    only _CURRENT distinguishes published versions)."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        m = _VER_RE.match(name)
        if m and os.path.isdir(os.path.join(root, name)):
            out.append(int(m.group(1)))
    return sorted(out)


def current_version(root: str) -> int | None:
    """The published version number, or None if never published."""
    try:
        with open(_pointer_path(root)) as f:
            name = f.read().strip()
    except FileNotFoundError:
        return None
    m = _VER_RE.match(name)
    if not m:
        raise ValueError(f"corrupt {_POINTER} pointer: {name!r}")
    return int(m.group(1))


_PUB_PREFIX = "_PUBLISHED_v"


def _publish_marker(root: str, version: int) -> None:
    # atomic, idempotent, append-only: exists-after-create is the only
    # contract, so concurrent publishers never conflict
    open(os.path.join(root, f"{_PUB_PREFIX}{version:05d}"), "a").close()


def _max_published(root: str) -> int | None:
    vs = [
        int(n[len(_PUB_PREFIX):])
        for n in os.listdir(root)
        if n.startswith(_PUB_PREFIX)
    ]
    return max(vs, default=None)


def _set_pointer(root: str, version: int) -> None:
    # UNIQUE temp per call (round-11 concurrency fix): a shared
    # "_CURRENT.tmp" name let two concurrent publishers truncate each
    # other's in-flight content, and the loser's os.replace raised
    # FileNotFoundError after the winner had already moved the file
    # away — the OCC stress test's rare full-suite failure. mkstemp
    # gives each publisher its own file in the same directory (same
    # filesystem, so os.replace stays atomic); an orphaned temp from
    # a crash is inert (list_versions matches only vNNNNN dirs).
    fd, tmp = tempfile.mkstemp(
        prefix=_POINTER + ".", suffix=".tmp", dir=root)
    try:
        with os.fdopen(fd, "w") as f:
            f.write(f"v{version:05d}\n")
        os.replace(tmp, _pointer_path(root))  # atomic publish
    except BaseException:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        raise


def write_version(
    df: DataFrame,
    root: str,
    partition_by: tuple[str, ...] = (),
    pre_publish=None,
) -> int:
    """Land ``df`` as the next version and atomically publish it.
    Returns the new version number. A reader holding the previous
    version's paths is never disturbed; a crash before the pointer
    swap leaves an unpublished (vacuumable) directory and the old
    version still current.

    ``pre_publish(vdir)``: sidecar hook run after the data lands and
    STRICTLY BEFORE the pointer swap — the one crash-window
    discipline every sidecar shares (the manifest writer's
    ``_MANIFEST.json``, the streaming IVM sink's ``_EPOCH`` marker):
    a published version always carries its sidecars; a crash mid-hook
    orphans the whole unpublished dir."""
    os.makedirs(root, exist_ok=True)
    vs = list_versions(root)
    nxt = (vs[-1] + 1) if vs else 1
    vdir = os.path.join(root, f"v{nxt:05d}")
    w = df.write.mode("errorifexists")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(vdir)
    if pre_publish is not None:
        pre_publish(vdir)
    _set_pointer(root, nxt)
    return nxt


def read_version(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """Scan one immutable published version (default: current)."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published version under {root}")
    vdir = os.path.join(root, f"v{v:05d}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(f"version v{v:05d} not found under {root}")
    return spark.read.parquet(vdir)


def publish(root: str, version: int) -> None:
    """Atomically point ``_CURRENT`` at an existing version directory —
    the one pointer-swap primitive rollback and custom publishers
    (e.g. the streaming IVM sink, which writes its own epoch marker
    into the version dir BEFORE the swap) share."""
    vdir = os.path.join(root, f"v{version:05d}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(f"cannot publish missing v{version:05d}")
    _set_pointer(root, version)


def rollback(root: str, version: int) -> None:
    """Re-publish an older version: one atomic pointer swap, no data
    movement. The bad version's files stay for forensics until
    vacuumed."""
    publish(root, version)


def vacuum(
    root: str, keep: int = 2, grace_seconds: float = 3600.0
) -> list[int]:
    """Delete all versions except the current one and the ``keep``
    newest COMPLETE versions. Never deletes the published version
    regardless of age. Incomplete directories (no _SUCCESS marker) do
    not occupy "newest" slots, so they can't displace real older
    versions from the keep window — but an incomplete directory is
    only deleted once its mtime is older than ``grace_seconds``: a
    directory without _SUCCESS may be a CONCURRENT IN-FLIGHT
    write_version (the marker appears only at commit), and an
    unconditional delete would race it. A crashed write's leftovers
    age past the grace window and get collected on a later vacuum.
    Note this relies on Spark's _SUCCESS marker; deployments that set
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` must
    not vacuum (every version would look in-flight forever — safe,
    never wrong, but nothing incomplete is ever reclaimed).
    Returns the deleted version numbers."""
    from .manifest import committed

    cur = current_version(root)
    vs = list_versions(root)
    complete = [v for v in vs if committed(os.path.join(root, f"v{v:05d}"))]
    keep_set = set(complete[-keep:]) if keep > 0 else set()
    if cur is not None:
        keep_set.add(cur)
    # merge-on-read awareness (round-9): a kept MOR version is only
    # readable with its base chain — pin the transitive _BASE closure
    # so vacuum can never orphan a surviving delete layer
    frontier = list(keep_set)
    while frontier:
        v = frontier.pop()
        bp = os.path.join(root, f"v{v:05d}", "_BASE")
        if os.path.isfile(bp):
            import json as _json

            with open(bp) as f:
                b = _json.load(f)["base"]
            if b not in keep_set:
                keep_set.add(b)
                frontier.append(b)
    now = time.time()
    deleted = []
    for v in vs:
        if v in keep_set:
            continue
        vdir = os.path.join(root, f"v{v:05d}")
        if v not in complete and now - os.path.getmtime(vdir) < grace_seconds:
            continue  # possibly an in-flight writer; let it age
        shutil.rmtree(vdir)
        deleted.append(v)
    return deleted


def write_version_optimistic(
    df: DataFrame,
    root: str,
    partition_by: tuple[str, ...] = (),
    pre_publish=None,
    max_retries: int = 5,
) -> int:
    """Optimistic-concurrency commit (the Iceberg/Delta writer loop):
    claim the next version number by CREATING its directory —
    ``mkdir`` is atomic on a filesystem, so two concurrent writers
    racing for v000NN get exactly one winner — and on a collision
    re-read the version list and retry with the next number, up to
    ``max_retries`` times. The loser never overwrites the winner's
    files and never blocks it; the pointer swap stays last.

    This is the missing piece that makes the versioned store safe for
    CONCURRENT batch jobs (two compactions, a backfill racing a
    scheduled load): plain write_version computes next = last + 1
    once and dies on the collision instead of retrying."""
    os.makedirs(root, exist_ok=True)
    last_err: Exception | None = None
    for _ in range(max_retries):
        vs = list_versions(root)
        nxt = (vs[-1] + 1) if vs else 1
        vdir = os.path.join(root, f"v{nxt:05d}")
        try:
            os.mkdir(vdir)  # atomic claim: exactly one winner per number
        except FileExistsError as e:
            last_err = e
            continue
        # append INTO the claimed empty dir: overwrite would delete
        # and recreate it, momentarily releasing the claim to a racer
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(vdir)
        if pre_publish is not None:
            pre_publish(vdir)
        # monotone publish: a slower writer must not move the pointer
        # BACKWARD over a concurrent commit that already published a
        # higher version — its own commit then stands as a complete,
        # immediately-superseded version (readable by number, like an
        # Iceberg snapshot that lost the pointer race).
        #
        # The bare check-then-act (read current, then swap) can still
        # interleave so the lower writer's swap lands last (round-9
        # advice #5). Publishing therefore ALSO drops an append-only
        # _PUBLISHED_vNNNNN marker (atomic create, never mutated), and
        # every writer runs a CONVERGING heal loop: swap toward the
        # max published marker, then RE-CHECK AFTER the swap and
        # repeat until the pointer is at least the marker max. The
        # post-write re-check is what makes a regression self-correct:
        # any heal write that lands stale is followed by that same
        # writer's re-read, which sees every marker created before it
        # and swaps again — a stale pointer survives only if a writer
        # dies between its swap and its re-check, and then only until
        # any later publish runs its own loop. Markers distinguish
        # PUBLISHED versions from mkdir-claimed in-flight ones, so the
        # heal can never point at a half-written directory; a plain
        # write_version (no marker) that published a HIGHER version
        # breaks the loop via cur >= hi and is never regressed.
        _publish_marker(root, nxt)
        for _ in range(8):
            hi = _max_published(root) or nxt
            cur = current_version(root)
            if cur is not None and cur >= hi:
                break
            _set_pointer(root, hi)
        return nxt
    raise RuntimeError(
        f"write_version_optimistic: lost the version race "
        f"{max_retries} times under {root}") from last_err


def schema_changes(old, new) -> dict:
    """Field-level diff between two StructTypes: columns ``added`` in
    new, ``removed`` from old, and ``retyped`` (same name, different
    dataType) — the compatibility taxonomy every table format's
    schema-evolution rules are built from."""
    of = {f.name: f.dataType for f in old.fields}
    nf = {f.name: f.dataType for f in new.fields}
    return {
        "added": sorted(set(nf) - set(of)),
        "removed": sorted(set(of) - set(nf)),
        "retyped": sorted(
            n for n in set(of) & set(nf) if of[n] != nf[n]),
    }


def read_version_evolved(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Time-travel read reconciled to the CURRENT version's schema —
    the schema-on-read half of table-format schema evolution: columns
    added since the requested version come back as typed NULLs,
    columns since removed are dropped, and the column order is the
    current schema's, so any historical version unions cleanly with
    the present one. Type CHANGES are incompatible evolution and
    raise (a silent cast would reinterpret old bytes).

    At 100 TB this is what makes additive schema changes free: no
    rewrite of historical versions, reconciliation is a projection
    Catalyst folds into the scan."""
    cur = read_version(spark, root).schema
    df = read_version(spark, root, version)
    ch = schema_changes(df.schema, cur)
    if ch["retyped"]:
        raise ValueError(
            f"incompatible schema evolution: columns retyped "
            f"{ch['retyped']} between v{version} and current")
    from pyspark.sql import functions as F

    have = set(df.columns)
    return df.select(*[
        F.col(f.name) if f.name in have
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in cur.fields
    ])


def merge_version(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    delete_col: str | None = None,
    pre_publish=None,
) -> int:
    """SCD1 MERGE into a versioned stage, landed as a new atomic
    version: on key match the update row replaces the target row,
    unmatched target rows carry over, unmatched update rows insert,
    and (with ``delete_col``) update rows flagged true are tombstones
    that remove the target row without inserting.

    Plan shape at 100 TB: one left-anti join of the target against the
    (usually much smaller, broadcastable) distinct update keys plus a
    union — the target is never shuffled on its own data, and a bad
    merge is one :func:`rollback` away instead of a restore."""
    from pyspark.sql import functions as F

    live = updates
    if delete_col is not None:
        live = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    if current_version(root) is None:
        # Never-published target: the merge degenerates to an insert of
        # the non-tombstone update rows as v1 (a first micro-batch must
        # not require manual seeding).
        return write_version(live, root, pre_publish=pre_publish)
    cur = read_version(spark, root)
    keys = list(key_cols)
    upd_keys = updates.select(*keys).distinct()
    carry = cur.join(F.broadcast(upd_keys), keys, "left_anti")
    merged = carry.unionByName(live.select(*cur.columns))
    return write_version(merged, root, pre_publish=pre_publish)


def diff_frames(
    old: DataFrame,
    new: DataFrame,
    key_cols: tuple[str, ...],
) -> DataFrame:
    """Change data feed between two relation snapshots: one row per
    key present in either side, classified ``insert`` / ``delete`` /
    ``update`` / ``unchanged`` by a full outer join on the keys and a
    value comparison over the non-key columns (null-safe: a column
    flipping between NULL and a value counts as a change; both-NULL
    counts as equal).

    Scale: one shuffle-join on the key columns; the value comparison
    is a struct equality evaluated JVM-side, so the payload never
    leaves the join row. This is the offline twin of the streaming
    SCD1 upsert sink — ``diff_frames(read_version(v1),
    read_version(v2))`` recovers exactly the change feed that
    :func:`merge_version` applied between the two publishes.
    """
    from pyspark.sql import functions as F

    val_cols = [c for c in new.columns if c not in key_cols]
    if [c for c in old.columns if c not in key_cols] != val_cols:
        raise ValueError(
            f"schema mismatch: {old.columns} vs {new.columns}"
        )
    o = old.select(
        *[F.col(c).alias(f"__ok_{c}") for c in key_cols],
        F.struct(*val_cols).alias("__old_val"),
    )
    n = new.select(
        *[F.col(c).alias(f"__nk_{c}") for c in key_cols],
        F.struct(*val_cols).alias("__new_val"),
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"__ok_{c}").eqNullSafe(F.col(f"__nk_{c}"))
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")
    keys = [
        F.coalesce(F.col(f"__ok_{c}"), F.col(f"__nk_{c}")).alias(c)
        for c in key_cols
    ]
    change = (
        F.when(F.col("__old_val").isNull(), F.lit("insert"))
        .when(F.col("__new_val").isNull(), F.lit("delete"))
        .when(
            F.col("__old_val").eqNullSafe(F.col("__new_val")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("update"))
    )
    return joined.select(*keys, change.alias("change"),
                         "__old_val", "__new_val")


def diff_versions(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int,
    key_cols: tuple[str, ...],
) -> DataFrame:
    """:func:`diff_frames` over two published versions of a stage."""
    return diff_frames(
        read_version(spark, root, from_version),
        read_version(spark, root, to_version),
        key_cols,
    )
