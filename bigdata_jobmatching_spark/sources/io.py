"""Table IO for the engine.

Two source families:

1. The driver-generated TPC-H-ish test lake (``TESTDATA.md``): one
   parquet file per table under an ``sf*`` directory. Plain
   ``spark.read.parquet`` — Catalyst gets pushdown/pruning for free.
2. The job-matching domain lake (reference: Hive-partitioned parquet
   stage tables in MinIO, ``spark/streaming/consume_jobs.py:145-156``
   and ``spark/batch/*.py``): here expressed as local partitioned
   parquet directories behind the same reader/writer API, so the
   DuckDB oracle can read identical files. The S3A path is a config
   change, not a code change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .manifest import data_files

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns stored as parquet TIMESTAMP(NANOS), which Spark has no type
# for: read them as long (legacy conf) and convert ns -> us timestamp.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test-lake table. Columnar scan; filters/projections
    placed on the returned DataFrame push down into this scan."""
    ns_cols = _NANOS_TS_COLS.get(name, ())
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in ns_cols:
        dt = df.schema[c].dataType
        if isinstance(dt, T.LongType):
            # Legacy nanosAsLong path: integer `div` keeps full
            # precision (double division would round a 1.7e18 ns
            # epoch); truncation ns->us matches the oracle's
            # ns->ms/date truncation downstream.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            # Newer Spark reads TIMESTAMP(NANOS) natively as NTZ with
            # microsecond truncation — same wall-clock values; cast to
            # TIMESTAMP (session tz is UTC) for one stable carrier
            # type across Spark versions.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def fan_out(df: DataFrame, n: int | None = None) -> DataFrame:
    """Redistribute rows across ``n`` partitions before a compute-heavy
    per-row stage.

    The local test lake stores each table as ONE single-row-group
    parquet file, which Spark cannot split — every scan is one task,
    so expensive projections (regex, shingling, vector math) would
    run single-threaded. One round-robin shuffle of the (small) input
    buys full-core parallelism. On a real cluster the scan already
    arrives in many splits and AQE coalesces; the extra exchange on a
    compute-bound stage is still the right trade at 100 TB when
    upstream partitioning is coarser than the cluster.
    """
    from ..session import default_parallelism

    return df.repartition(n or default_parallelism())


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register test-lake tables as temp views for ``spark.sql``."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)


def write_stage(df: DataFrame, path: str, partition_by: tuple[str, ...] = (), mode: str = "overwrite") -> None:
    """Write a pipeline-stage table (reference: overwrite-mode parquet
    partitioned by ``source``, e.g. ``parse_jobs.py:454-457``).

    Partition columns become Hive-style directories, so date/source
    filters at read time prune files instead of scanning 100 TB.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_stage(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_json_records(spark: SparkSession, path: str, schema) -> DataFrame:
    """Schema-enforced JSON ingest (no inference — the reference uses a
    fixed hand-written StructType, ``consume_jobs.py:39-75``)."""
    return spark.read.schema(schema).json(path)


def read_blobs(spark: SparkSession, glob_path: str) -> DataFrame:
    """Whole-file read of raw scraped blobs.

    The blob format is ``{json metadata}\\n\\n{html}`` per object
    (reference writer ``base_scraper.py:310-343``). The reference read
    these **line-wise** (``parse_jobs.py:378``), which silently breaks
    the two-part split (SURVEY §2.11-2); the correct Spark primitive
    is a wholetext scan so each file is one row.
    """
    return spark.read.text(glob_path, wholetext=True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 64,
    sort_cols: tuple[str, ...] = (),
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed, optionally sorted parquet table (the warehouse-sink
    clustering analog of the reference's load_to_bigquery.py
    partition+cluster spec, taken one step further for Spark).

    Bucketing pre-shuffles the data ONCE at write time: every later
    join or aggregation on the bucket key reads co-located files and
    skips its shuffle entirely — at 100 TB the dominant cost of a
    fact-to-fact join. `sort_cols` additionally pre-sorts within
    buckets so sort-merge joins skip their sort. Bucketed output
    requires the table catalog (`saveAsTable`); `path` makes it an
    external table at that location.
    """
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_csv_stage(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
) -> DataFrame:
    """CSV ingest with an explicit schema and a malformed-row audit
    column (the no-inference discipline applied to CSV): PERMISSIVE
    mode parks unparseable lines in ``_corrupt_record`` instead of
    dropping them silently or failing the job — the caller decides
    whether to quarantine or abort. Schema inference is deliberately
    not offered: at 100 TB an inference pass is a full extra scan and
    a correctness hazard (type flapping between files)."""
    full = schema + ", _corrupt_record string"
    return (
        spark.read.schema(full)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def compact_stage(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    cluster_by: tuple[str, ...] = (),
) -> dict:
    """Small-files compaction for a staged parquet directory: rewrite
    the table into ~``target_file_mb`` files, optionally clustered
    (sortWithinPartitions) so downstream range/equality predicates
    skip row groups via min/max statistics. Returns before/after file
    counts.

    This is the lake-maintenance operator a long-lived 100 TB stage
    needs: streaming sinks and per-batch appends accumulate thousands
    of small files whose open/footer overhead dominates scans. The
    rewrite is one shuffle-free coalesce when shrinking (or a
    round-robin repartition when clustering), landed atomically via a
    temp directory + rename.
    """
    import shutil
    import uuid

    df = spark.read.parquet(path)
    files = data_files(path)
    n_before = len(files)
    total_bytes = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    n_files = max(1, int(total_bytes / (target_file_mb * 1024 * 1024)) or 1)
    out = df.coalesce(n_files)
    if cluster_by:
        out = df.repartition(n_files).sortWithinPartitions(*cluster_by)
    tmp = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    n_after = len(data_files(path))
    return {"files_before": n_before, "files_after": n_after, "bytes": total_bytes}


def write_orc_stage(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """ORC twin of :func:`write_stage` — second columnar lake format.

    ORC is fully bundled with the Spark distribution (orc-core /
    orc-mapreduce jars), so a lake that standardizes on ORC (common in
    Hive-lineage warehouses) works without any extra dependency. Same
    scale properties as parquet: columnar projection, predicate
    pushdown against stripe/row-group min-max stats (verified by the
    capability test), splittable files, Hive-style partition dirs.
    Compression defaults to zstd via the session conf.
    """
    w = df.write.mode(mode).option("compression", "zstd")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc_stage(spark: SparkSession, path: str) -> DataFrame:
    """ORC stage reader. Filters/projections on the result push into
    the ORC scan exactly as for parquet (PushedFilters in the plan)."""
    return spark.read.orc(path)


def write_stage_observed(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
    metrics: dict[str, "F.Column"] | None = None,
) -> dict:
    """:func:`write_stage` + ``df.observe()``: land the stage AND
    collect row counts / custom aggregate metrics in the SAME pass.

    At 100 TB, "write, then re-read to count" doubles the IO of every
    pipeline stage; an Observation rides the write job for free (the
    metrics are accumulated executor-side during the scan that feeds
    the writer). Returns the observed metric dict — always including
    ``n_rows``; pass extra named aggregate Columns via ``metrics``.
    """
    from pyspark.sql import Observation

    obs = Observation()
    cols = [F.count(F.lit(1)).alias("n_rows")]
    for k, c in (metrics or {}).items():
        cols.append(c.alias(k))
    write_stage(df.observe(obs, *cols), path, partition_by, mode)
    return dict(obs.get)
