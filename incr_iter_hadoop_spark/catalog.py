"""Catalog: load the driver's parquet tables and register temp views.

The reference's "catalog" is hardcoded key/value classes per job
(``JobConf.setOutputKeyClass`` etc. — incr-hadoop-0.1/src/mapred/org/apache/
hadoop/mapred/JobConf.java:681-696). Here schemas come from parquet footers;
the engine only names the tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # ts encoding varies by generator version: timestamp[ns] (which
        # Spark's reader rejects — read as raw long nanos via the legacy
        # conf and truncate to micros) or timestamp[us] (read natively).
        # Set the conf at runtime too so driver-owned sessions work.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            # integer DIV: ts/1000 via double loses precision above 2^53 ns.
            # timestamp_micros yields TIMESTAMP (LTZ) — cast to NTZ so BOTH
            # generator encodings expose one type (schema-sensitive
            # consumers: unions, writes, the driver's schema hash; values
            # agree because the session timezone is pinned to UTC).
            return df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts DIV 1000")).cast(
                    "timestamp_ntz"
                ),
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread_scan(df: DataFrame, key: str) -> DataFrame:
    """Conditional input-spread (r13; guide §2.5 "input skew" remedy —
    "one huge unsplittable file ... repartition immediately after the
    read"). The sf corpora land as ONE parquet row-group, so every
    map-heavy stage over a raw scan (tokenize/shingle/codec/regex) runs
    single-task no matter how many cores the session has — measured as
    the dominant cost of the text and multimodal families at sf0.1.
    When the plan arrives with fewer partitions than the session's
    shuffle parallelism, hash-repartition on ``key`` once right after
    the read (deterministic placement — guide §2.5's rand-repartition
    warning); at cluster scale the scan already carries >= parallelism
    splits and this returns the input unchanged, so the exchange never
    exists in a 100 TB plan."""
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, key)
