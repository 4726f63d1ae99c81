"""Schema'd sources & sinks (SURVEY.md §2.1, S1-S8).

The reference loads CSV with ``header=true`` and **no schema** so every
column arrives as a string (``Main.scala:59,86``) and gets typed late
and by hand (``Main.scala:217-222``). We do the opposite: every table
has an explicit ``StructType`` and schema-on-read validation, so type
errors surface at load, not at column 37 of a cleaning chain.

Sources: parquet (driver testdata), CSV (reference-shaped fixtures),
JSON; a multi-input union that implements the *intent* of the
reference's buggy multi-file loop (``Main.scala:70-76`` overwrites
``df`` per iteration instead of unioning — S5 in SURVEY.md).

100 TB notes: parquet scans here are plain ``spark.read.parquet`` so
Catalyst predicate pushdown / column pruning / partition pruning all
apply; nothing is materialized at load. ``load_table`` validates the
declared schema against the parquet footer only (no data pass).
"""

from __future__ import annotations

import functools
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Declared schemas for the driver's tables (FIXTURES.md §B).
# ---------------------------------------------------------------------------

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]),
}

TABLE_NAMES = tuple(TABLE_SCHEMAS)


class SchemaMismatchError(ValueError):
    """Raised when a loaded table's schema deviates from the declared one."""


# Below this input size the single-task scan finishes faster than the
# repartition round-trip it would take to spread it: the shuffle
# write/read + losing whole-stage fusion with the scan costs ~1s of
# fixed latency at local[32], while JVM-side tokenization chews small
# inputs in less than that. Measured r7 at sf0.1 (documents = 581 KiB
# on disk): fanning out SLOWED q36 1.6s→2.4s and q49 2.5s→9.2s, while
# at sf1 (5.8 MiB) the same fan-out was the r6 win that fixed the
# parallelism-2-of-32 scale flags. 4 MiB splits those two regimes.
FANOUT_MIN_BYTES = 4 << 20


def scan_fanout(df: DataFrame, min_bytes: int = FANOUT_MIN_BYTES) -> DataFrame:
    """Recover scan parallelism for small-file-count inputs feeding
    per-byte-heavy map work (regex scoring, Arrow text passes, vector
    math): a table written as one parquet file with one row group
    executes its ENTIRE scan stage — including every expression fused
    above it — in a single task, regardless of
    ``spark.sql.files.maxPartitionBytes`` (byte-range splits beyond
    row-group boundaries read nothing). SCALE_r5.json measured the
    doc-scan family at parallelism 2 of 32 for exactly this reason.

    The fix is a gated round-robin repartition: only when the planned
    scan has FEWER partitions than the session's parallelism AND the
    input is at least ``min_bytes`` (r7: below that, the shuffle
    round-trip costs more than the single-task scan it replaces —
    see FANOUT_MIN_BYTES). Callers whose map work is python-side
    (Arrow UDF passes — slow per row regardless of input size) pass
    ``min_bytes=0`` to fan out unconditionally. At cluster scale
    (thousands of row groups) the partition gate never fires, so this
    is free where the scan already fans out; when it fires, the
    shuffle moves only the small input that caused the problem.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    size = int(df._jdf.queryExecution().optimizedPlan()
               .stats().sizeInBytes())
    if size < min_bytes:
        return df
    return df.repartition(cores)


def fanout_cache(df: DataFrame, n: int | None = None) -> DataFrame:
    """Fan out to session parallelism AND persist — for suite slots
    that make SEVERAL per-byte-heavy passes (tokenize / regex / Arrow
    legs) over a small-file input whose scan is one task (one row
    group — see :func:`scan_fanout`).

    :func:`scan_fanout` alone was measured a LOSS for exactly these
    slots (r7, FANOUT_MIN_BYTES note): without a persist every pass
    re-pays the repartition shuffle and still starts from the
    single-task scan. With the persist, the input is shuffled ONCE and
    the N heavy passes read a parallelism-wide cache — at sf0.1 this
    turned the q36 six-pass slot from serial single-core tokenization
    into 32-way cached passes. The persist is tracked in the dedup
    FIFO scope (bounded; released by scope exit or eviction).

    ``n`` picks the fan-out width. Default = session parallelism —
    right when the passes are genuinely CPU-bound (regex scoring, NB
    training, 600k-row quantized aggregates). Slots whose passes are
    CHEAP but numerous should pass a small ``n``: each cached stage
    costs ~5-15 ms of task launch per partition at local[32], so 20
    light legs × 32 partitions is pure scheduler overhead (measured
    r8: q12 4.5s → 10.4s at full width).

    100 TB: inputs arrive as thousands of row groups, the scan already
    fans out, and a blanket repartition would shuffle the full corpus
    — so production callers keep the plain scan and this helper is
    explicitly the small-input/multi-pass shape. The repartition is
    Spark's sort-based round-robin (deterministic).
    """
    from .operators.dedup import _track_persist

    spark = df.sparkSession
    return _track_persist(
        df.repartition(n or spark.sparkContext.defaultParallelism))


def load_table(spark: SparkSession, sf_dir: str, name: str,
               validate: bool = True, fan_out: bool = False,
               fan_out_min_bytes: int = FANOUT_MIN_BYTES) -> DataFrame:
    """Parquet scan of one driver table with schema-on-read validation.

    We intentionally do NOT pass ``.schema(...)`` to the parquet reader:
    parquet is self-describing, and forcing a schema can silently
    up/down-cast. Instead we read, then check names + types, so a
    mismatch is an error rather than a coercion. Validation only looks
    at the footer schema — no data is read.

    ``fan_out=True`` applies :func:`scan_fanout` — callers whose first
    stage does heavy per-row work (the documents/embeddings families)
    opt in; pure aggregate/join queries keep the plain scan.
    """
    if name == "events":
        # events.ts has shipped as either parquet TIMESTAMP(NANOS) (which
        # Spark's vectorized reader rejects, [PARQUET_TYPE_ILLEGAL]) or
        # native TIMESTAMP(MICROS), depending on the generator version.
        # Handle both: nanos are read as a long (runtime conf — works under
        # any caller's session, incl. the driver's) and rebuilt as a
        # microsecond timestamp_ntz; micros just get the ntz cast.
        # NOTE: nanosecond sub-precision is truncated; oracle-checked
        # queries must compare *derived* time values (hour, date_trunc
        # minute, ...), never the raw ts, because DuckDB keeps nanos.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        from pyspark.sql import functions as F
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            # integer `div`, NOT `/`: float division of ~1.7e18 nanos loses
            # precision beyond double's 53-bit mantissa (±1 µs drift vs the
            # oracle's exact truncation)
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000"))
                .cast("timestamp_ntz"))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if validate:
        declared = TABLE_SCHEMAS.get(name)
        if declared is not None:
            got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            want = {f.name: f.dataType.simpleString() for f in declared.fields}
            if got != want:
                raise SchemaMismatchError(
                    f"{name}: schema drift — expected {want}, got {got}")
    if fan_out:
        df = scan_fanout(df, min_bytes=fan_out_min_bytes)
    return df


def read_csv(spark: SparkSession, path: str, schema: T.StructType | None = None,
             header: bool = True, **options) -> DataFrame:
    """CSV scan (reference S1/S2, ``Main.scala:59,86``) with an explicit
    schema when the caller has one — unlike the reference, which reads
    everything as StringType and casts 200 lines later."""
    reader = spark.read.options(header=str(header).lower(), **options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def union_all(dfs: Iterable[DataFrame]) -> DataFrame:
    """Multi-input concatenation (S5 *intent*).

    The reference's multi-dataset loop (``Main.scala:70-76``) rebinds
    ``df`` each iteration so only the last CLI argument survives; the
    report describes a union. This implements the documented intent:
    name-based union with missing columns disallowed (strict).
    """
    dfs = list(dfs)
    if not dfs:
        raise ValueError("union_all of zero inputs")
    return functools.reduce(lambda a, b: a.unionByName(b), dfs)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: tuple[str, ...] = ()) -> None:
    """Persistent sink (S8 — absent in the reference, which only prints).

    100 TB notes: callers partition by a low-cardinality business key
    (e.g. date) so downstream scans partition-prune; never by a
    high-cardinality key (small-files problem).
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_compacted(df: DataFrame, path: str, rows_per_file: int,
                    n_rows: int | None = None,
                    mode: str = "overwrite") -> int:
    """Small-file-aware sink: repartition to ``ceil(rows /
    rows_per_file)`` files before writing, so a 100 TB output lands as
    (say) 512 MB objects instead of one file per upstream task — the
    compaction every lakehouse job needs on its final write. Returns
    the file count written.

    Pass ``n_rows`` when the caller already knows the count (saves the
    counting job); otherwise one count() runs. A real deployment sizes
    by BYTES via sampled row width — rows_per_file is the
    deterministic, testable proxy for the same control knob.
    ``repartition(n)`` round-robins, so files are even-sized; use
    ``write_parquet`` with ``partition_by`` instead when downstream
    needs partition pruning.
    """
    if rows_per_file <= 0:
        raise ValueError(f"rows_per_file must be >= 1, got {rows_per_file}")
    total = df.count() if n_rows is None else n_rows
    n_files = max(1, -(-total // rows_per_file))
    df.repartition(n_files).write.mode(mode).parquet(path)
    return n_files
