"""CSV export sink with the reference's byte-level contract.

Contract (reference app/services/exports.py:20-67):

* header ``id,name,email,created_at,updated_at,is_deleted``; delta exports
  prepend ``operation`` (exports.py:31,33)
* timestamps serialized with ``datetime.isoformat()`` — microseconds +
  ``+00:00`` offset (exports.py:52-53)
* booleans as Python ``True`` / ``False`` strings (exports.py:54)
* rows ordered by ``updated_at`` ascending (exports.py:83,123,159)
* zero rows => **no file at all** (exports.py:87-88,127-128,163-164)
* quoting as the reference's ``csv`` module writes it (RFC 4180): a
  field holding a quote, a comma or a line break is quoted and its
  quotes are doubled (Spark's default escape is a backslash, which
  ``csv.reader`` cannot read back), and leading/trailing spaces are kept
  (Spark trims them on write by default)

The serialization runs JVM-side (date_format/when inside codegen); Python
never touches row data. The write commits via temp-dir + atomic rename,
which is *stronger* than the reference (it can leave a CSV behind on a
failed transaction, exports.py:90 vs jobs.py:42 — documented divergence).
The file is the reference's one CSV, so its last stage is one task; a
partitioned bulk extract is ``io/parquet_sink.py``'s job.

The row count is an ``Observation`` on the write job itself, not a read
of the written file (a quoted line break would count as a second row).
It sits *above* the sort: the sort's range partitioning first runs a
sampling job over its input, so a count observed below the sort reads
every row twice. A caller observing ``max`` on the frame it passes in
gets its watermark from the same write job (``max`` is not changed by
the second read).
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, Observation, functions as F

from cdc_export_system_spark.functions.scalars import iso_utc


def _serialize(col_name: str, dtype: str) -> Column:
    col = F.col(col_name)
    if dtype == "timestamp":
        return iso_utc(col).alias(col_name)
    if dtype == "boolean":
        return F.when(col, "True").otherwise("False").alias(col_name)
    return col.cast("string").alias(col_name)


def write_users_csv(
    df: DataFrame,
    filepath: str,
    columns: list[str],
    order_by: str | list[str] = "updated_at",
) -> int:
    """Write an export CSV in one Spark write; returns rows written. No
    file when 0 rows."""
    dtypes = dict(df.dtypes)
    rows = Observation()
    out = (
        df.orderBy(order_by)
        .observe(rows, F.count(F.lit(1)).alias("n"))
        .select([_serialize(c, dtypes[c]) for c in columns])
    )
    tmp_dir = f"{filepath}.__tmp__{uuid.uuid4().hex}"
    try:
        (
            out.coalesce(1)
            .write.option("header", True)
            .option("emptyValue", "")
            .option("escape", '"')
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(tmp_dir)
        )
        n_rows = rows.get["n"]
        if n_rows == 0:
            return 0  # empty export => no file (exports.py:87-88)
        (part,) = glob.glob(os.path.join(tmp_dir, "part-*.csv"))
        os.replace(part, filepath)
        return n_rows
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
