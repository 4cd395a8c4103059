"""CSV, JSON-lines, and ORC source connectors, proven by round-trip.

The reference's only interchange format is headered CSV (reference
``app/services/exports.py:20-67``); a complete engine must also *read*
it back — and JSONL, the other lingua franca of training-data pipelines.
Each op materializes the ``orders`` table to the format once per process
and source version (``io.sources.derived_dir``), then reads it back with an
**explicit schema** (never inference — schema inference is a full extra
pass over 100 TB) and runs an aggregate the oracle reproduces from the
parquet originals. A value-hash match proves the writer→reader loop is
lossless: microsecond timestamps, 2-dp doubles, strings with commas.

Scale notes: text formats carry no row-group statistics, so nothing
pushes down — the docstring contract is "CSV/JSON are ingest formats;
convert to parquet at the door" (both writers here are the conversion
path). Reads still split by byte ranges and parallelize; the explicit
schema keeps the scan single-pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_export_system_spark.io.sources import derived_dir, load_table
from cdc_export_system_spark.registry import register, dsum, sql_dsum

# Microsecond-precision writer/reader format: loses nothing the testdata
# carries, and parses back bit-identical.
TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

ORDERS_AGG_ORACLE = f"""
    SELECT o_orderstatus, count(*) AS n_orders,
           {sql_dsum("o_totalprice", "total_price")},
           max(o_orderdate) AS last_order
    FROM orders GROUP BY o_orderstatus
"""


# writer and reader options per format; ORC stores typed timestamps
_OPTIONS = {
    "csv": {"timestampFormat": TS_FMT, "header": True},
    "json": {"timestampFormat": TS_FMT},
    "orc": {},
}


def _read_back(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    opts = _OPTIONS[fmt]
    path = derived_dir(
        spark, sf_dir, "orders", fmt,
        lambda df, p: df.write.format(fmt).options(**opts).save(p),
    )
    schema = load_table(spark, sf_dir, "orders").schema
    return spark.read.schema(schema).format(fmt).options(**opts).load(path)


def _orders_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "total_price"),
        F.max("o_orderdate").alias("last_order"),
    )


@register("source_csv_roundtrip", oracle=ORDERS_AGG_ORACLE, tags=("source", "csv"))
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headered-CSV write → explicit-schema read → aggregate; hash-match
    against the parquet originals proves losslessness (timestamps at
    microsecond precision, quoted strings, doubles)."""
    return _orders_agg(_read_back(spark, sf_dir, "csv"))


@register("source_json_roundtrip", oracle=ORDERS_AGG_ORACLE, tags=("source", "json"))
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write → explicit-schema read → aggregate round-trip."""
    return _orders_agg(_read_back(spark, sf_dir, "json"))


@register("source_orc_roundtrip", oracle=ORDERS_AGG_ORACLE, tags=("source", "orc"))
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → read → aggregate round-trip: the other columnar
    warehouse format, native in Spark. Unlike the text formats above it
    keeps stripe-level min/max statistics, so filters push down on read
    just as with parquet — it is a first-class storage format, not just
    an ingest path."""
    return _orders_agg(_read_back(spark, sf_dir, "orc"))


@register(
    "source_schema_evolution",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n_rows,
               count(*) FILTER (WHERE o_orderkey % 2 = 1) AS n_with_priority,
               CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("source", "schema-evolution"),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: generation 1 of a dataset lacks a
    column that generation 2 adds (here: orders written without, then
    with, o_orderpriority — the additive-column evolution every
    long-lived ingest hits). `mergeSchema` unions the file schemas and
    back-fills the missing column with NULL, so the rollup counts
    exactly the gen-2 rows under n_with_priority. Split is by orderkey
    parity, so the oracle reproduces the union from the original table.
    Scale note: mergeSchema footer-merges every file's schema — at
    warehouse scale pin the table schema in a catalog and evolve it
    there instead; this op proves the reader semantics."""
    parity = F.col("o_orderkey") % 2
    gen1 = derived_dir(
        spark, sf_dir, "orders", "gen1",
        lambda o, p: o.filter(parity == 0).drop("o_orderpriority").write.parquet(p),
    )
    gen2 = derived_dir(
        spark, sf_dir, "orders", "gen2",
        lambda o, p: o.filter(parity == 1).write.parquet(p),
    )
    merged = spark.read.option("mergeSchema", True).parquet(gen1, gen2)
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
