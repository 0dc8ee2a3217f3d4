"""Table IO over the driver-generated testdata.

The reference reads everything from Kafka topics and writes to
Phoenix/ClickHouse (SURVEY.md §2.1 S1-S11). In the Spark-first design
the warehouse layers are parquet tables; batch jobs read them directly
and Structured Streaming jobs replay them as file streams. Readers here
keep scans declarative so Catalyst pushes filters/projections into the
parquet scan (check via .explain: PushedFilters / ReadSchema).

Every table load and stream-source schema peek goes through
read_parquet, which infers a path's schema once per application and
then reads with it supplied. Inference costs one Spark job (a footer
read) per call, the fixed cost of every warehouse query's load. The
inferred StructType is a session memo (memo.py) keyed by the path and
the two confs that change inferred types, versioned by the path's file
listing, so a table rewritten in place is inferred again.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .memo import session_memo

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Confs that change the types parquet inference yields for the same
# footer: a schema inferred under one setting is wrong under the other.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _listing(path: str) -> tuple[tuple[str, int, int], ...]:
    """Sorted (file, size, mtime_ns) of every file at or under path."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(sub, name) for sub, _, names in os.walk(path) for name in names
    ]
    out = []
    for f in sorted(files):
        try:
            st = os.stat(f)
        except FileNotFoundError:
            continue  # removed mid-walk; the listing differs either way
        out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path) with the schema inferred once per
    (application, path, file listing, type-changing confs): the first
    read infers it as usual, and every later read supplies it, so it
    submits no Spark job until executed.
    Non-local schemes and paths that do not exist locally (globs, or
    a missing table, which should raise Spark's own error) take the
    plain read."""
    url = urlparse(path)
    local = path if url.scheme == "" else url.path
    if url.scheme not in ("", "file") or not os.path.exists(local):
        return spark.read.parquet(path)
    inferred = []

    def infer():
        inferred.append(spark.read.parquet(path))
        return inferred[0].schema

    schema = session_memo(
        spark, "parquet_schema",
        (path, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)),
        infer,
        version=_listing(local),
    )
    # a miss returns the inferring read itself: reading the path again
    # with the schema supplied would list its files a second time
    return inferred[0] if inferred else spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Plain parquet scan — no .cache(), no
    collect; Catalyst prunes columns/filters at the scan.

    events.ts is TIMESTAMP(NANOS) in the parquet footer, which Spark's
    reader only accepts as a raw long (spark.sql.legacy.parquet.
    nanosAsLong, set in session.py). Convert to a microsecond timestamp
    here — DuckDB performs the same ns→µs truncation, so both engines
    see identical values."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Defensive: results are oracle-compared against DuckDB's naive
    # timestamps — a non-UTC session would shift every date/hour
    # derivation. Runtime-settable, so pin it on every load.
    # Defensive: the driver may pass a session built without our
    # session.py configs — apply the shared engine tuning to FOREIGN
    # sessions only (the marker keeps us from trampling an explicit
    # get_spark(shuffle_partitions=N) choice on our own sessions).
    from .session import DEFAULT_SHUFFLE_PARTITIONS, TUNED_MARKER, runtime_confs

    try:
        tuned = spark.conf.get(TUNED_MARKER, "false") == "true"
    except Exception:
        tuned = False
    if not tuned:
        for k, v in runtime_confs(DEFAULT_SHUFFLE_PARTITIONS):
            try:
                spark.conf.set(k, v)
            except Exception:
                pass
    if name == "events":
        # required to read the TIMESTAMP(NANOS) column at all
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def write_partition_overwrite(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Idempotent gold-table write: overwrite ONLY the partitions present
    in df (dynamic partition overwrite), leaving other partitions
    untouched. This is the Spark equivalent of the reference's
    ReplacingMergeTree idempotency (ClickHouseUtil.java:18-21 — re-runs
    replace rather than duplicate) for batch/foreachBatch sinks.

    At 100 TB the partition columns are the date/window keys, so a
    replayed day overwrites exactly that day."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def merge_dim_snapshot(spark: SparkSession, updates: DataFrame, path: str, key: str) -> None:
    """Dim upsert (the Phoenix `upsert into DIM_*` sink, DimSink.java:78-93):
    latest record per key wins. Without a transactional table format the
    merge is snapshot-rebuild: read current, anti-join out updated keys,
    union the updates, overwrite. At scale this becomes a Delta/Iceberg
    MERGE INTO; the call-site contract (idempotent upsert by key) is the
    same."""
    from pyspark.errors import AnalysisException

    try:
        current = spark.read.parquet(path)
        merged = current.join(updates, on=key, how="left_anti").unionByName(updates)
    except AnalysisException:  # first write — no snapshot yet
        merged = updates
    # Rebuild snapshot via a temp dir to avoid reading+overwriting the
    # same files in one job.
    tmp = path.rstrip("/") + "._staging"
    merged.write.mode("overwrite").parquet(tmp)
    jvm_fs_rename(spark, tmp, path)


def jvm_fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Atomic-ish directory swap via the Hadoop FileSystem API."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(conf)
    dst_p = jvm.org.apache.hadoop.fs.Path(dst)
    if fs.exists(dst_p):
        fs.delete(dst_p, True)
    fs.rename(jvm.org.apache.hadoop.fs.Path(src), dst_p)


def apply_cdc_to_dim(spark: SparkSession, cdc: DataFrame, path: str, key: str) -> None:
    """Apply a CDC batch to a dim snapshot with full op semantics:
    insert/update (and Maxwell's bootstrap-insert) upsert by key,
    delete removes the key. Last op per key within the batch wins
    (ordered by the `ts` column). The reference's DimSink only ever
    upserts (DimSink.java:41-93); delete support is engine capability.

    Plan: collapse the batch to one final op per key (window + filter),
    then rebuild the snapshot: current rows minus touched keys, plus
    surviving upserts."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.desc("ts"))
    last_ops = (
        cdc.withColumn(
            "type",
            F.when(F.col("type") == "bootstrap-insert", "insert").otherwise(F.col("type")),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    upserts = last_ops.filter(F.col("type") != "delete").drop("type", "ts")
    touched = last_ops.select(key)

    from pyspark.errors import AnalysisException

    try:
        current = spark.read.parquet(path)
        merged = current.join(touched, on=key, how="left_anti").unionByName(upserts)
    except AnalysisException:
        merged = upserts
    tmp = path.rstrip("/") + "._staging"
    merged.write.mode("overwrite").parquet(tmp)
    jvm_fs_rename(spark, tmp, path)


def compact_table(spark: SparkSession, path: str, target_files: int) -> None:
    """Small-files compaction: rewrite a table directory into
    target_files files (coalesce — no shuffle). Streaming sinks and
    fine-grained partition overwrites accrete small files; periodic
    compaction keeps scan task counts sane at 100 TB."""
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact"
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    jvm_fs_rename(spark, tmp, path)


def route_to_sinks(df: DataFrame, base_path: str, sink_col: str = "sink_table") -> None:
    """Dynamic-topic sink (MyKafkaUtil.getKafkaSinkBySchema,
    MyKafkaUtil.java:38-44): every record lands under its sink_table.
    One partitioned write — Spark splits by the routing column without N
    separate jobs; a Kafka sink would instead map sink_col to the
    per-row `topic` column."""
    df.write.mode("overwrite").partitionBy(sink_col).parquet(base_path)


def load_table_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + round-robin repartition to the session parallelism.

    The testdata tables are single parquet files, so a plain scan yields
    ONE partition; operators that do heavy per-row expression work
    (shingling, hashing, vector math) would run single-threaded. The
    repartition shuffles only the raw rows (cheap) and unlocks full
    parallelism. On a real multi-file/100 TB table the scan is already
    split — callers still benefit when a filter collapses it."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return load_table(spark, sf_dir, name).repartition(n)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Multi-format table IO — the source/sink surface a warehouse exposes
# beyond parquet. Format choice is a parameter, not a code path: the
# same declarative plan reads/writes any of them, and Catalyst still
# prunes columns (CSV/JSON prune at parse; parquet/ORC prune at the
# footer). CSV and JSON are schema-on-read: pass the schema back in to
# round-trip exactly (untyped reads widen ints and parse dates as
# strings, the usual lake-ingest caveat).
# ---------------------------------------------------------------------------

IO_FORMATS = ("parquet", "orc", "json", "csv")


def write_table_format(df: DataFrame, path: str, fmt: str, **options) -> None:
    """Write `df` at `path` in `fmt` (parquet/orc/json/csv). CSV gets a
    header by default; all formats overwrite idempotently."""
    if fmt not in IO_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; known: {IO_FORMATS}")
    opts = dict(options)
    if fmt == "csv":
        opts.setdefault("header", "true")
    df.write.mode("overwrite").options(**opts).format(fmt).save(path)


def read_table_format(spark: SparkSession, path: str, fmt: str, schema=None, **options):
    """Read a table written by write_table_format. Pass `schema` for
    CSV/JSON to recover exact types (schema-on-read formats infer
    strings/widened numerics otherwise)."""
    if fmt not in IO_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; known: {IO_FORMATS}")
    opts = dict(options)
    if fmt == "csv":
        opts.setdefault("header", "true")
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format(fmt).load(path)
