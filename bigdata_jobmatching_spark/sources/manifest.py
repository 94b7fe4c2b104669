"""Manifest-based file skipping on plain parquet — the core mechanic
of every table format (Iceberg manifests, Delta add-file stats),
implemented on the repo's versioned store with nothing but a JSON
sidecar.

At 100 TB the decisive scan economics are FILE-level: a query with a
selective range predicate should open the handful of files whose
[min, max] span overlaps it, not list-and-footer-probe a million
files. Engines get row-group skipping from parquet footers for free
(zonemap_pruning_audit measures that), but footer probing still
touches every file; a manifest lifts the stats one level up so
planning is one small-object read.

``write_version_with_manifest`` lands a version directory exactly
like ``versioned.write_version`` and then collects per-file
min/max/null-count for the declared stats columns from the parquet
FOOTERS (pyarrow, no data read) into ``_MANIFEST.json`` inside the
version dir — written BEFORE the pointer swap, so a published version
always carries its manifest (the same crash-window discipline as the
streaming IVM sink's epoch marker).

``read_pruned`` resolves the current version, keeps the files whose
stats span overlaps the ``[lo, hi]`` predicate (files with no stats
for the column, or null-only, are conservatively KEPT — skipping must
never be allowed to change answers), and returns both the pruned
DataFrame and the (files_total, files_read) economics. Correctness
contract: for any predicate, the pruned scan filtered by it equals
the full scan filtered by it — pinned by the gate query
(plans/layout_queries.manifest_pruning_audit, hash-green vs a DuckDB
oracle that recomputes both the answer AND the file economics
arithmetically) and by tests/test_manifest.py.

Type contract (stats travel through JSON): predicate bounds must be
strings, ints, or floats; ``date``/``datetime`` bounds are accepted
and normalized through the SAME isoformat serializer the manifest
writer uses (ISO-8601 strings order like the dates they encode, so
the comparison stays correct). Columns whose footer min/max are not
JSON-serializable (e.g. raw binary) get NO stats entry — their files
are conservatively kept, never wrongly skipped.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import versioned as V

_MANIFEST = "_MANIFEST.json"


def _ser_stat(v):
    """Manifest JSON carrier for a footer min/max value: dates and
    timestamps via isoformat (ISO-8601 strings order like the values
    they encode); anything JSON can't carry raises for the caller to
    skip."""
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (str, int, float, bool)) or v is None:
        return v
    raise TypeError(f"stat value not JSON-serializable: {type(v)}")


def _hidden(name: str) -> bool:
    """Spark's file-index rule: "." or "_" (bar "_col=value") hides a path."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def data_files(root: str) -> list[str]:
    """Sorted relative paths of the parquet data files Spark reads
    under ``root``, flat or hive-partitioned. Hidden paths
    (``_temporary/`` write leftovers, ``.``-files) are skipped as Spark
    skips them; a missing root holds none."""
    out = []
    for base, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for name in names:
            if name.endswith(".parquet") and not _hidden(name):
                rel = os.path.relpath(os.path.join(base, name), root)
                out.append(rel.replace(os.sep, "/"))
    return sorted(out)


def landed(root: str) -> tuple[int, int]:
    """(data files, rows) landed under ``root``, the rows summed from
    the parquet footers: no Spark job, no data read."""
    import pyarrow.parquet as pq

    files = data_files(root)
    rows = sum(pq.read_metadata(os.path.join(root, f)).num_rows for f in files)
    return len(files), rows


def committed(stage_dir: str) -> bool:
    """True iff the write under ``stage_dir`` committed (Spark's root
    ``_SUCCESS``); a crashed or in-flight write is redone on resume."""
    return os.path.exists(os.path.join(stage_dir, "_SUCCESS"))


def _collect_file_stats(vdir: str, stats_cols: tuple[str, ...]) -> list[dict]:
    import pyarrow.parquet as pq

    entries = []
    for name in data_files(vdir):
        path = os.path.join(vdir, name)
        md = pq.read_metadata(path)
        stats: dict[str, dict] = {}
        for col in stats_cols:
            lo = hi = None
            nulls = 0
            ok = True
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                idx = {
                    rgm.column(i).path_in_schema: i
                    for i in range(rgm.num_columns)
                }.get(col)
                if idx is None:
                    ok = False
                    break
                st = rgm.column(idx).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mn, mx = st.min, st.max
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
                nulls += st.null_count or 0
            if ok and lo is not None:
                try:
                    stats[col] = {
                        "min": _ser_stat(lo),
                        "max": _ser_stat(hi),
                        "null_count": nulls,
                    }
                except TypeError:
                    pass  # un-carriable stats (e.g. binary) -> no
                    # entry -> read_pruned conservatively keeps
        entries.append({
            "file": name,
            "rows": md.num_rows,
            "bytes": os.path.getsize(path),
            "stats": stats,
        })
    return entries


def manifest_attacher(stats_cols: tuple[str, ...], schema_json: str | None = None):
    """A ``pre_publish`` hook (see versioned.write_version) that
    collects footer stats into ``_MANIFEST.json`` inside the staged
    version dir — the shared attach step for the batch writer, the
    WAP publisher, and the streaming sinks, all riding the same
    sidecar-before-swap crash discipline.

    ``schema_json`` (the writer's declared ``df.schema.json()``) rides
    along when given, so a ZERO-file version (legal after an empty
    staged write) stays readable with its declared schema — the
    footer-less case schema inference cannot cover."""
    def attach(vdir: str) -> None:
        manifest = {
            "stats_cols": list(stats_cols),
            "files": _collect_file_stats(vdir, stats_cols),
        }
        if schema_json is not None:
            manifest["schema"] = schema_json
        with open(os.path.join(vdir, _MANIFEST), "w") as f:
            json.dump(manifest, f)
    return attach


def write_version_with_manifest(
    df: DataFrame,
    root: str,
    stats_cols: tuple[str, ...],
    partition_by: tuple[str, ...] = (),
) -> int:
    """Land ``df`` as the next version with a file-stats manifest;
    the manifest is inside the version dir, written before the atomic
    pointer swap. ``partition_by`` writes a hive layout
    (``col=value/`` subdirs); the manifest then tracks leaf files by
    relative path, so ``read_pruned`` skips across partitions and
    within them alike."""
    return V.write_version(
        df, root, partition_by,
        pre_publish=manifest_attacher(stats_cols, df.schema.json()),
    )


def read_manifest(root: str, version: int | None = None) -> dict:
    v = V.current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published version under {root}")
    p = os.path.join(root, f"v{v:05d}", _MANIFEST)
    if not os.path.isfile(p):
        raise FileNotFoundError(f"version v{v:05d} carries no manifest")
    with open(p) as f:
        return json.load(f)


def audit_then_publish(
    df: DataFrame,
    root: str,
    audits,
    stats_cols: tuple[str, ...] = (),
    partition_by: tuple[str, ...] = (),
) -> int:
    """Write-audit-publish (the Iceberg WAP pattern on the versioned
    store): land ``df`` as an UNPUBLISHED version directory, run every
    audit against a DataFrame read from the staged files — the audits
    see exactly the bytes readers would — and only then swap the
    pointer. A failing audit leaves the staged dir orphaned (evidence
    for forensics, vacuumable) and the previous version current:
    readers can never observe data that failed its checks.

    ``audits``: callables taking the staged DataFrame; raise to veto.
    Returns the published version number.
    """
    os.makedirs(root, exist_ok=True)
    vs = V.list_versions(root)
    nxt = (vs[-1] + 1) if vs else 1
    vdir = os.path.join(root, f"v{nxt:05d}")
    w = df.write.mode("errorifexists")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(vdir)
    # read back under the writer's declared schema: an EMPTY staged
    # write (zero files) reaches the audits as an empty frame
    staged = df.sparkSession.read.schema(df.schema).parquet(vdir)
    for audit in audits:
        audit(staged)  # raises -> staged dir stays unpublished
    if stats_cols:
        manifest_attacher(stats_cols, df.schema.json())(vdir)
    V.publish(root, nxt)
    return nxt


def compact_version(
    spark: SparkSession,
    root: str,
    target_files: int,
    stats_cols: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
) -> int:
    """Small-file compaction as a new version: read the CURRENT
    version, coalesce to ``target_files``, republish atomically (with
    a fresh manifest when ``stats_cols`` given). Readers mid-scan on
    the old version are untouched; rollback is a pointer swap. The
    operational lever for the 100 TB small-file problem — a streaming
    sink drips thousands of files per day, and scan cost follows file
    count until something like this runs."""
    cur = V.read_version(spark, root).coalesce(target_files)
    if bloom_cols:
        # compaction must not lose point-lookup indexes: re-derive
        # blooms for the new leaf layout (bitsets are per-FILE, the
        # old ones describe files that no longer exist)
        return write_version_with_blooms(
            cur, root, stats_cols=stats_cols, bloom_cols=bloom_cols)
    if stats_cols:
        return audit_then_publish(cur, root, audits=(), stats_cols=stats_cols)
    return V.write_version(cur, root)


def read_pruned(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """(pruned DataFrame, files_total, files_read) for the predicate
    ``col BETWEEN lo AND hi``. Files without usable stats for ``col``
    are conservatively kept — pruning may only skip files PROVABLY
    outside the range; it must never change an answer.

    ``lo``/``hi`` must be str, int, or float, matching the stat
    column's JSON carrier type; date/datetime bounds are normalized
    through the manifest's own isoformat serializer (documented type
    contract — round-9 advice fix)."""
    lo, hi = _ser_stat(lo), _ser_stat(hi)
    v = V.current_version(root) if version is None else version
    man = read_manifest(root, v)
    vdir = os.path.join(root, f"v{v:05d}")
    keep = []
    for entry in man["files"]:
        st = entry["stats"].get(col)
        if st is None:
            keep.append(entry["file"])  # no stats -> cannot skip
            continue
        if st["max"] < lo or st["min"] > hi:
            continue  # provably disjoint
        keep.append(entry["file"])
    files_total = len(man["files"])
    if not man["files"]:
        # a version whose manifest lists zero data files is legal
        # (audit_then_publish supports empty staged writes): return an
        # empty relation under the manifest's declared schema instead
        # of indexing into the empty list (round-9 advice fix); plain
        # schema inference has no footer to read here
        sj = man.get("schema")
        if sj is None:
            raise FileNotFoundError(
                f"v{v:05d} under {root} lists zero files and its "
                "manifest predates schema carriage — unreadable")
        schema = T.StructType.fromJson(json.loads(sj))
        return spark.read.schema(schema).parquet(vdir), 0, 0
    # basePath keeps hive partition columns reconstructable from the
    # leaf paths, so a pruned scan of a partition_by layout has the
    # SAME schema as read_version and predicates on the partition
    # column keep working (round-9 advice fix: without it the pruned
    # frame silently lacked the partition column)
    reader = spark.read.option("basePath", vdir)
    if not keep:
        # empty relation with the right schema: read one file's schema
        # without its rows
        any_file = os.path.join(vdir, man["files"][0]["file"])
        return reader.parquet(any_file).limit(0), files_total, 0
    df = reader.parquet(*[os.path.join(vdir, f) for f in keep])
    return df, files_total, len(keep)


# --- per-file Bloom indexes (point-lookup skipping) -------------------------
# Min/max stats skip RANGE scans; point lookups on high-cardinality
# keys (the "where is customer 4711" class) need a membership
# summary: a per-file Bloom bitset over the key column, written at
# land time and carried in the same _MANIFEST.json sidecar — the
# Delta/Iceberg bloom-filter-index shape on the versioned store. The
# hash family is plain int64 arithmetic (one multiplicative mix, k
# additive offsets, two mods), so an external SQL oracle reproduces
# every bit and therefore the exact file-skip decision — the
# bloom_point_lookup_audit gate query hash-pins both the answer and
# the FP economics. No false negatives by construction: the file
# holding the key always passes (correctness); false positives only
# cost extra reads (economics, measured not assumed).

BLOOM_M = 16_384     # bits per file per column
BLOOM_SALTS = (12_345, 999_331, 7_654_321)  # k = 3 probes
_BLOOM_MULT = 2_654_435_761


def bloom_positions(value: int, m: int = BLOOM_M) -> list[int]:
    """The k probe bit positions of an integer key — the shared
    definition for the writer, the reader, and (re-stated in SQL)
    the oracle."""
    return [
        ((int(value) * _BLOOM_MULT + a) % 2_147_483_648) % m
        for a in BLOOM_SALTS
    ]


def _collect_file_blooms(
    vdir: str, bloom_cols: tuple[str, ...], m: int,
) -> dict[str, dict[str, dict]]:
    """Per-file Bloom bitsets: one column read per file (pyarrow,
    column-pruned), bits as a sorted position list in the JSON
    sidecar. At real scale the bitset would be a packed blob; the
    position-list carrier keeps the sidecar human-auditable at test
    sizes without changing the contract."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, dict]] = {}
    for name in data_files(vdir):
        path = os.path.join(vdir, name)
        cols: dict[str, dict] = {}
        for col in bloom_cols:
            try:
                vals = pq.read_table(path, columns=[col])[col]
            except Exception:
                continue  # column absent -> no bloom -> reader keeps
            bits: set[int] = set()
            for v in vals:
                v = v.as_py()
                if v is None:
                    continue
                bits.update(bloom_positions(v, m))
            cols[col] = {"m": m, "bits": sorted(bits)}
        out[name] = cols
    return out


def bloom_attacher(bloom_cols: tuple[str, ...], m: int = BLOOM_M):
    """A pre-publish hook ADDING blooms to an existing manifest (run
    it after manifest_attacher), same sidecar-before-swap discipline."""
    def attach(vdir: str) -> None:
        p = os.path.join(vdir, _MANIFEST)
        with open(p) as f:
            manifest = json.load(f)
        blooms = _collect_file_blooms(vdir, bloom_cols, m)
        for entry in manifest["files"]:
            entry["bloom"] = blooms.get(entry["file"], {})
        manifest["bloom_cols"] = list(bloom_cols)
        with open(p, "w") as f:
            json.dump(manifest, f)
    return attach


def write_version_with_blooms(
    df: DataFrame,
    root: str,
    stats_cols: tuple[str, ...],
    bloom_cols: tuple[str, ...],
    partition_by: tuple[str, ...] = (),
    m: int = BLOOM_M,
) -> int:
    """Land ``df`` as the next version carrying BOTH footer min/max
    stats and per-file Bloom indexes on ``bloom_cols``."""
    base = manifest_attacher(stats_cols, df.schema.json())
    bloom = bloom_attacher(bloom_cols, m)

    def attach(vdir: str) -> None:
        base(vdir)
        bloom(vdir)

    return V.write_version(df, root, partition_by, pre_publish=attach)


def read_point_pruned(
    spark: SparkSession,
    root: str,
    col: str,
    value: int,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """(pruned DataFrame, files_total, files_read) for the point
    lookup ``col = value``, skipping every file whose Bloom bitset
    PROVABLY excludes the key (some probe bit unset). Files without
    a bloom for ``col`` are conservatively kept — skipping must never
    change an answer."""
    v = V.current_version(root) if version is None else version
    man = read_manifest(root, v)
    vdir = os.path.join(root, f"v{v:05d}")
    keep = []
    for entry in man["files"]:
        bl = entry.get("bloom", {}).get(col)
        if bl is None:
            keep.append(entry["file"])
            continue
        bits = set(bl["bits"])
        if all(p in bits for p in bloom_positions(value, bl["m"])):
            keep.append(entry["file"])
    files_total = len(man["files"])
    if not man["files"]:
        sj = man.get("schema")
        if sj is None:
            raise FileNotFoundError(
                f"v{v:05d} under {root} lists zero files and its "
                "manifest predates schema carriage — unreadable")
        schema = T.StructType.fromJson(json.loads(sj))
        return spark.read.schema(schema).parquet(vdir), 0, 0
    reader = spark.read.option("basePath", vdir)
    if not keep:
        any_file = os.path.join(vdir, man["files"][0]["file"])
        return reader.parquet(any_file).limit(0), files_total, 0
    df = reader.parquet(*[os.path.join(vdir, f) for f in keep])
    return df, files_total, len(keep)


# --- manifest-stats-driven join planning ------------------------------------
# The manifest already carries EXACT per-file row counts (parquet
# footer metadata, no data read); that is table-statistics enough to
# make the one physical-join decision that dominates at 100 TB:
# broadcast the small side or shuffle both. Spark's own AQE decides
# from runtime shuffle sizes — one shuffle too late for the first
# join of a cold query; this helper decides from one small-object
# read before any scan, the way a warehouse CBO reads its stats
# catalog.

def manifest_row_count(root: str, version: int | None = None) -> int:
    """Exact row count of a published version from its manifest —
    one JSON read, zero data scanned."""
    return sum(e["rows"] for e in read_manifest(root, version)["files"])


def join_versioned_by_stats(
    big: DataFrame,
    spark: SparkSession,
    small_root: str,
    on,
    how: str = "inner",
    broadcast_max_rows: int = 1_000_000,
) -> tuple[DataFrame, str]:
    """Join ``big`` against a versioned table, choosing the physical
    strategy from MANIFEST stats: under ``broadcast_max_rows`` the
    versioned side gets an explicit broadcast hint (plan shows
    BroadcastHashJoin with no exchange on the big side); over it the
    join is left to the planner (sort-merge/shuffle-hash at scale).
    Returns ``(joined, strategy)`` with strategy in
    {"broadcast", "shuffle"} so callers and tests can assert the
    decision, not just the values.

    The version is resolved ONCE and passed explicitly to both the
    stats read and the data read — resolving twice would let a
    concurrent publish land between the calls, making the broadcast
    decision describe a different version than the data joined
    (round-10 advice)."""
    from pyspark.sql import functions as F

    v = V.current_version(small_root)
    small = V.read_version(spark, small_root, version=v)
    if manifest_row_count(small_root, version=v) <= broadcast_max_rows:
        return big.join(F.broadcast(small), on, how), "broadcast"
    return big.join(small, on, how), "shuffle"
