"""Testdata table loaders (SURVEY.md S1: CSV scan -> parquet scan).

The reference reads per-table CSVs stringly (daily_function.py:279,438,...);
here a scan is ``spark.read.parquet`` so column pruning and predicate pushdown
reach the file format. At 100 TB each of these would be a partitioned/bucketed
table (prices bucketed by symbol); the loader keeps that a one-line change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.planmemo import memo
from ..schemas import TESTDATA_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One table of the snapshot at ``sf_dir``. A changed snapshot of a dir
    this session read before refreshes what Spark cached from it, and the
    table's parquet schema is inferred once per snapshot: later reads pass
    it to the reader, which then runs no schema-inference job
    (operators/planmemo.py)."""
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (vectorized
        # reader rejects it -> read nanos as long, truncate to micros) and as
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) (Spark infers
        # TIMESTAMP_NTZ, which event-time ops — watermarks, window(),
        # unix_micros — reject). Normalize both to TimestampType; the session
        # zone is UTC here, so the NTZ->LTZ cast preserves the stored micros
        # exactly, matching DuckDB's epoch_us over the same file.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, sf_dir, name, path)
    if name == "events":
        from pyspark.sql import functions as F, types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_parquet(spark: SparkSession, sf_dir: str, name: str, path: str) -> DataFrame:
    """The parquet data at ``path``, derived from the snapshot at
    ``sf_dir``, read with its schema memoized under ``("schema", name)``:
    only the snapshot's first read runs Spark's schema-inference job."""
    schema = memo(
        spark, ("schema", name), sf_dir, lambda: spark.read.parquet(path).schema
    )
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """Explicit pre-generator repartition: decouple a fan-out stage's
    parallelism from the input's file-split count.

    Use ONLY in front of work that AMPLIFIES each input row — a
    row-multiplying generator (explode x hundreds: shingles, band keys,
    cross-moment pairs) or heavy per-row compute (a minhash/rolling-hash
    signature pass). There the one-pass shuffle of N skinny rows is
    negligible next to the amplified work it distributes, at ANY scale;
    for plain per-row maps the input splits already provide scale-out
    parallelism and this would be a pure extra shuffle — don't.

    The partition count is EXPLICIT (defaultParallelism) because AQE
    coalesces a small keyed `repartition(col)` back to one partition,
    which is exactly the failure mode this exists to fix: every test-SF
    table is one parquet split, so an un-fanned generator stage runs the
    whole corpus on one core (measured on embedding_covariance: the
    N*D^2 decimal cross-moment pass, 17.0 s -> 7.1 s at sf0.1; see
    PLANS.md round-13 replans)."""
    spark = df.sparkSession
    from pyspark.sql import functions as F

    return df.repartition(spark.sparkContext.defaultParallelism, F.col(key))
