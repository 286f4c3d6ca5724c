"""Readers and writers.

Reference behavior replaced: ``sf_datalake.io`` (reference
``src/sf_datalake/io.py:41-191``) — csv/orc load and save, csv→orc
conversion, and the prediction/explanation writers with fixed output
parallelism. Here every reader takes an optional explicit ``StructType``
(inference is opt-in, never the default — at 100 TB a schema-inference
pass is a full extra scan) and writers expose partitioning knobs instead
of hard-coding ``repartition(5)`` / ``coalesce(1)``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def load_data(
    spark: SparkSession,
    path: str,
    file_format: str = "parquet",
    sep: str = ",",
    schema: StructType | None = None,
    infer_schema: bool = False,
    lowercase_columns: bool = False,
) -> DataFrame:
    """Load a dataset (csv/orc/parquet/json).

    Mirrors reference ``io.py:60-94`` semantics: csv with header and a
    configurable separator, explicit schema preferred over inference,
    optional lowercase-all-columns normalization pass (reference
    ``extract_financial_DGFiP.py:78-79``).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if file_format == "csv":
        df = reader.options(
            header=True, sep=sep, inferSchema=(schema is None and infer_schema)
        ).csv(path)
    elif file_format == "orc":
        df = reader.orc(path)
    elif file_format == "parquet":
        df = reader.parquet(path)
    elif file_format == "json":
        df = reader.json(path)
    else:
        raise ValueError(f"Unknown format: {file_format}")
    if lowercase_columns:
        df = df.toDF(*(c.lower() for c in df.columns))
    return df


def write_data(
    df: DataFrame,
    path: str,
    file_format: str = "parquet",
    sep: str = ",",
    mode: str = "overwrite",
    num_partitions: int | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Write a dataset (reference ``io.py:41-57``).

    ``partition_by`` enables partition pruning for downstream readers —
    the stored monthly panel should be partitioned by period (SURVEY.md
    §4). ``num_partitions`` coalesces output files (small results) without
    a shuffle.
    """
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if file_format == "csv":
        writer.options(header=True, sep=sep).csv(path)
    elif file_format == "orc":
        writer.orc(path)
    elif file_format == "parquet":
        writer.parquet(path)
    elif file_format == "json":
        writer.json(path)
    else:
        raise ValueError(f"Unknown format: {file_format}")


def compact_files(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    file_format: str = "parquet",
) -> dict:
    """Small-file compaction: rewrite a directory dataset into files of
    ~``target_mb`` each (the standard lakehouse maintenance pass — a
    streaming or per-batch writer leaves thousands of KB-sized files
    whose open/footer overhead dominates scans at 100 TB scale).

    Sizing reads the actual on-disk bytes through the Hadoop FS API
    (portable to HDFS/S3), then coalesces (or repartitions, when the
    target implies MORE files than the scan's parallelism — coalesce
    cannot split partitions) to ``ceil(bytes / target)`` files, written
    next to the input and swapped in (the local-FS stand-in for a table
    format's atomic commit; on object stores, commit by pointer swap).
    Reads and writes go through :func:`load_data` / :func:`write_data`
    so format options (CSV headers!) round-trip.

    Hive-partitioned layouts (``key=value`` subdirectories) are
    REFUSED: a flat rewrite would silently destroy the partition
    pruning the layout exists for — compact each partition directory
    instead.

    Returns ``{"files_before": n, "files_after": m, "bytes": b}`` with
    ``files_after`` counted from the actual output listing.
    """
    import math

    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    statuses = list(fs.listStatus(hpath))
    part_dirs = [
        s.getPath().getName()
        for s in statuses
        if s.isDirectory() and "=" in s.getPath().getName()
    ]
    if part_dirs:
        raise ValueError(
            f"{path} is hive-partitioned ({part_dirs[0]}, ...): compact each "
            "partition directory, not the root — a flat rewrite would drop "
            "the partition layout"
        )

    def data_files(sts):
        return [
            s
            for s in sts
            if s.isFile() and not s.getPath().getName().startswith("_")
        ]

    before = data_files(statuses)
    files_before = len(before)
    total_bytes = sum(s.getLen() for s in before)
    n_files = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))

    df = load_data(spark, path, file_format)
    if n_files > df.rdd.getNumPartitions():
        df = df.repartition(n_files)
        n_out = None  # write_data coalesce arg unused; already sized
    else:
        n_out = n_files
    staging = f"{path}.compacting"
    write_data(df, staging, file_format, num_partitions=n_out)
    # Commit through the SAME Hadoop FileSystem handle used for sizing,
    # so the swap works on HDFS/S3A too, not just local paths.  rename
    # after delete is the narrowest window the raw-FS swap allows; a
    # table format's pointer commit is the fully-atomic upgrade path.
    staging_hpath = jvm.org.apache.hadoop.fs.Path(staging)
    if not fs.delete(hpath, True):
        raise IOError(f"compact_files: could not delete {path} for swap")
    if not fs.rename(staging_hpath, hpath):
        raise IOError(
            f"compact_files: rename {staging} -> {path} failed; compacted "
            f"data is intact at {staging}"
        )
    files_after = len(data_files(list(fs.listStatus(hpath))))
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": int(total_bytes),
    }


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    file_format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+optionally sorted) table.

    Bucketing pre-shuffles data by the join/aggregation key at WRITE
    time: two tables bucketed on the same key with the same bucket count
    join with NO exchange, and groupBy on the bucket key skips its
    shuffle too. This is the storage-level answer to the reference's
    repeated (siren, période) joins — pay the shuffle once, reuse it in
    every downstream query. Sorted buckets additionally skip the
    sort-merge join's sort."""
    if "." in table:
        # The overwrite cleanup below resolves the managed location as
        # <warehouse>[/<db>.db]/<table>; a qualified name would make it
        # guess wrong and silently no-op. Callers switch databases via
        # spark.catalog.setCurrentDatabase instead.
        raise ValueError(
            f"write_bucketed takes an unqualified table name, got {table!r}"
        )
    if mode == "overwrite":
        # With a non-persistent (in-memory) catalog the table's metadata
        # dies with the session while its warehouse directory survives,
        # and saveAsTable then refuses with LOCATION_ALREADY_EXISTS. Drop
        # any registered table, then clear the orphaned location through
        # the Hadoop FS API (portable to HDFS/S3, unlike shutil).
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        jvm = spark._jvm
        jsc = spark._jsc
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        db = spark.catalog.currentDatabase()
        base = (
            jvm.org.apache.hadoop.fs.Path(warehouse, f"{db.lower()}.db")
            if db.lower() != "default"
            else jvm.org.apache.hadoop.fs.Path(warehouse)
        )
        location = jvm.org.apache.hadoop.fs.Path(base, table.lower())
        fs = location.getFileSystem(jsc.hadoopConfiguration())
        if fs.exists(location):
            fs.delete(location, True)
    writer = df.write.format(file_format).mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def csv_to_orc(spark: SparkSession, input_path: str, output_path: str, sep: str = ",") -> None:
    """One-shot csv→orc conversion (reference ``io.py:97-113``)."""
    write_data(load_data(spark, input_path, "csv", sep=sep), output_path, "orc")


def load_testdata(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Load the driver-generated TPC-H-ish parquet tables from ``sf_dir``."""
    return {
        name: spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        for name in (tables or TESTDATA_TABLES)
    }


def write_predictions(
    df: DataFrame,
    path: str,
    file_format: str = "parquet",
    probability_col: str = "probability",
    keep_cols: list[str] | None = None,
    num_partitions: int = 1,
) -> None:
    """Prediction writer (reference ``io.py:116-162``).

    The reference disassembles the ml probability vector with a Python
    UDF; we use the built-in ``vector_to_array`` (JVM-side) and take the
    positive-class slot.
    """
    from pyspark.ml.functions import vector_to_array

    cols = keep_cols or [c for c in df.columns if c != probability_col]
    out = df.select(
        *cols,
        F.element_at(vector_to_array(F.col(probability_col)), 2).alias("probability"),
    )
    write_data(out, path, file_format, num_partitions=num_partitions)


def vacuum_staging(
    spark: SparkSession,
    root: str,
    retention_hours: float = 24.0,
    dry_run: bool = False,
) -> dict:
    """Remove ORPHANED staging artifacts under ``root``: the
    ``<dataset>.compacting`` / ``<dataset>.staging-<n>`` directories a
    crashed :func:`compact_files` or ``run_upsert_sink`` swap leaves
    behind.  The lakehouse-maintenance vacuum for this engine's staged
    writes — without it a crash loop slowly fills the store with dead
    copies of the data.

    Safety model: only paths matching the engine's OWN staging naming
    convention are candidates (never arbitrary directories), and only
    when their modification time is older than ``retention_hours`` —
    an IN-PROGRESS swap's staging dir is younger than any sane
    retention, so a concurrent writer is never yanked.  All listing and
    deletion run through the Hadoop FS handle (HDFS/S3A-portable, same
    rationale as :func:`compact_files`).  ``dry_run`` reports without
    deleting.

    Returns ``{"removed": [paths], "kept_recent": [paths]}``.
    """
    import re
    import time

    jvm = spark._jvm
    jsc = spark._jsc
    hroot = jvm.org.apache.hadoop.fs.Path(root)
    fs = hroot.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(hroot):
        return {"removed": [], "kept_recent": []}
    pat = re.compile(r".*\.(compacting|staging-\d+)$")
    cutoff_ms = (time.time() - retention_hours * 3600.0) * 1000.0
    removed, kept = [], []
    for st in fs.listStatus(hroot):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if not pat.match(name):
            continue
        target = str(st.getPath().toUri().getPath())
        if st.getModificationTime() > cutoff_ms:
            kept.append(target)
            continue
        if not dry_run:
            fs.delete(st.getPath(), True)
        removed.append(target)
    return {"removed": sorted(removed), "kept_recent": sorted(kept)}


def align_schemas(
    df: DataFrame, target: DataFrame, allow_lossy_casts: bool = False
) -> DataFrame:
    """Schema evolution helper: project ``df`` onto ``target``'s
    schema — missing columns become typed NULLs, compatible columns
    are cast, order follows ``target``, EXTRA columns in ``df`` raise
    (silently dropping data is the one wrong default for a lakehouse
    writer; drop explicitly first if intended).

    Cast SAFETY is type-checked, not value-checked: only widening /
    value-preserving casts (numeric up-casts, anything → string,
    date → timestamp) pass by default.  A narrowing or parse cast
    (string → double, double → int, …) can turn unparseable or
    out-of-range values into NULLs — the exact data loss this function
    exists to prevent — so it RAISES unless ``allow_lossy_casts=True``
    is passed deliberately, in which case those columns go through
    ``try_cast`` (NULL on failure; a plain ANSI cast would instead
    abort the whole job on the first bad value).

    This is the preflight for appending/merging an evolved batch into
    an existing table (``merge_upsert`` and ``snapshot_diff`` both
    require matching schemas by design).
    """
    from pyspark.sql.types import (
        ByteType,
        DateType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
        TimestampType,
    )

    num_rank = {ByteType: 1, ShortType: 2, IntegerType: 3, LongType: 4,
                FloatType: 5, DoubleType: 6}

    def safe(src, dst) -> bool:
        if src == dst:
            return True
        if isinstance(dst, StringType):
            return True  # rendering never loses the value
        s, d = num_rank.get(type(src)), num_rank.get(type(dst))
        if s is not None and d is not None:
            # long→float/double technically loses ulps above 2^53/2^24;
            # treat integer→floating as widening like SQL does, but
            # refuse float→integer and double→float
            return d >= s and not (
                isinstance(src, (FloatType, DoubleType)) and d < s
            )
        if isinstance(src, DateType) and isinstance(dst, TimestampType):
            return True
        if isinstance(src, DecimalType) and isinstance(dst, DoubleType):
            return True
        return False

    targets = {f.name: f.dataType for f in target.schema.fields}
    sources = {f.name: f.dataType for f in df.schema.fields}
    extra = [c for c in df.columns if c not in targets]
    if extra:
        raise ValueError(
            f"align_schemas: incoming columns {extra} absent from the "
            "target schema — drop them explicitly before aligning"
        )
    if not allow_lossy_casts:
        lossy = [
            f"{name}: {sources[name].simpleString()} → {dtype.simpleString()}"
            for name, dtype in targets.items()
            if name in sources and not safe(sources[name], dtype)
        ]
        if lossy:
            raise ValueError(
                "align_schemas: potentially lossy casts refused "
                f"({'; '.join(lossy)}) — unparseable/out-of-range values "
                "would silently become NULL; pass allow_lossy_casts=True "
                "only after validating the batch"
            )
    have = set(df.columns)

    def projected(name, dtype):
        if name not in have:
            return F.lit(None).cast(dtype)
        if safe(sources[name], dtype):
            return F.col(name).cast(dtype)
        return F.expr(f"try_cast(`{name}` AS {dtype.simpleString()})")

    return df.select(
        *[projected(name, dtype).alias(name) for name, dtype in targets.items()]
    )
