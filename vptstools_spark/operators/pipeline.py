"""Incremental daily/monthly VPTS pipeline — the engine form of the
reference's `vph5_to_vpts` CLI (src/vptstools/bin/vph5_to_vpts.py:59-251).

Reference shape: inventory → modified radar-days → per-day download+convert →
daily CSV → per-month concat → monthly gzip CSV. Spark shape: the same
semantics as three declarative jobs with *partition-granularity idempotence*
(SURVEY §2.8): a radar-day is always recomputed whole and overwritten
atomically (`partitionOverwriteMode=dynamic`), which makes re-runs and
late-arriving files exactly-once-by-idempotence — no row-level upsert state.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vptstools_spark.operators.inventory import days_to_create_vpts, parse_inventory
from vptstools_spark.operators.merge import scope_to_partitions
from vptstools_spark.operators.vpts import to_vpts_table
from vptstools_spark.schemas import get_vpts_version

#: descriptor filename (reference: src/vptstools/vpts.py:20)
DESCRIPTOR_FILENAME = "vpts.resource.json"


def resolve_source_file(path: str, transform: str | Callable[[str], str] | None) -> str:
    """The reference's one user-extensible scalar hook P16
    (src/vptstools/vpts.py:189-220): `source_file` may be a fixed string or a
    named callable path→str; default is the basename. Lambdas are rejected —
    the same pickling constraint the reference documents (vpts.py:237-239)
    applies to PySpark closures shipped to executors."""
    if transform is None or transform == "":
        return os.path.basename(path)
    if callable(transform):
        if getattr(transform, "__name__", "") == "<lambda>":
            raise ValueError(
                "source_file callable may not be a lambda (must be picklable "
                "by name for executor shipping)"
            )
        return str(transform(path))
    return str(transform)


class RadarDay(NamedTuple):
    """One selected radar-day: its inventory directory
    ``{source}/{file_type}/{radar}/{yyyy}/{mm}/{dd}`` and the parts of it
    the pipeline keys on."""

    directory: str
    source: str
    radar: str
    yyyy: str
    mm: str
    dd: str

    @property
    def date(self) -> str:
        return self.yyyy + self.mm + self.dd

    @property
    def month(self) -> str:
        return self.yyyy + self.mm


def collect_radar_days(days: DataFrame) -> list[RadarDay]:
    """The selected radar-days (a frame with a ``directory`` column, as
    `days_to_create_vpts` returns) on the driver, sorted by directory, in
    one collect. The daily job's key filter and the monthly job's month list
    are both derived from this list, so the selection is planned once."""
    return sorted(
        RadarDay(r["directory"], source, radar, yyyy, mm, dd)
        for r in days.select("directory").collect()
        for source, _ftype, radar, yyyy, mm, dd in [r["directory"].split("/")]
    )


#: partition column -> (characters of the rendered ``datetime`` it keeps,
#: CSV compression): the daily store is yyyymmdd plain CSV, the monthly store
#: yyyymm gzip CSV (the reference's ``.csv`` and ``.csv.gz`` files)
_PERIODS = {"p_date": (10, None), "p_month": (7, "gzip")}


def write_vpts_partitions(table: DataFrame, output_path: str, period: str = "p_date") -> None:
    """Write rendered VPTS rows as one CSV file per (radar, period)
    partition, replacing only the partitions present in `table` (dynamic
    partition overwrite, set on this write only, not on the session).
    `period` is ``p_date`` (the daily store) or ``p_month`` (the monthly
    store).

    The daily batch job and the streaming sink both write through here, so
    their partitions are byte-identical."""
    n_chars, compression = _PERIODS[period]
    out = table.withColumn("p_radar", F.col("radar")).withColumn(
        period, F.regexp_replace(F.substring("datetime", 1, n_chars), "-", "")
    )
    writer = (
        out.repartition("p_radar", period)
        # partition cols lead the sort: the partitioned-file writer requires
        # rows clustered by partition values and would otherwise re-sort by
        # them alone, destroying the data order
        .sortWithinPartitions(
            "p_radar", period, "radar", "datetime", F.col("height").cast("int"), "source_file"
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("p_radar", period)
        .option("header", "true")
        .option("emptyValue", "")
        .option("nullValue", "")
    )
    if compression:
        writer = writer.option("compression", compression)
    writer.csv(output_path)


def daily_vpts_job(
    spark: SparkSession,
    profiles: DataFrame,
    days_df: DataFrame | Sequence[tuple[str, str]],
    output_path: str,
    vpts_csv_version: str = "v1.0",
) -> None:
    """Daily phase (reference bin/vph5_to_vpts.py:153-202): restrict profiles
    to the affected radar-days, project to VPTS, write hive-partitioned by
    (radar, date), replacing only those partitions.

    `days_df` is either the ``(radar, yyyymmdd)`` keys already on the driver
    (`incremental_run` and the CLI pass them, so the selection is not
    planned again) or a frame with ``radar_code`` and ``date`` columns,
    collected here in one job. The keys become a literal filter
    (`scope_to_partitions`; above 128 keys a broadcast semi-join, on the
    given frame when there is one).

    Where the reference loops radar-days on the driver (download → fork →
    convert → upload per day), this is ONE plan over all affected days; Spark
    schedules per-partition tasks, and only the recomputed partitions are
    replaced."""
    keys_df = None
    if isinstance(days_df, DataFrame):
        keys_df = days_df.select(F.col("radar_code").alias("radar"), "date")
        days_df = [tuple(r) for r in keys_df.distinct().collect()]
    keys = sorted(set(days_df))
    if not keys:
        return
    keyed = profiles.withColumn("date", F.date_format("ts", "yyyyMMdd"))
    affected = scope_to_partitions(keyed, ["radar", "date"], keys, keys_df)
    write_vpts_partitions(to_vpts_table(affected.drop("date"), vpts_csv_version), output_path)


#: all-string read of daily VPTS CSVs, preserving tri-state text exactly
#: (reference S7: bin/vph5_to_vpts.py:230-240 — dtype=str, no NA parsing)
def read_daily_csv_string_preserving(spark: SparkSession, path: str | list[str]) -> DataFrame:
    spec = get_vpts_version("v1.0")
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in spec.columns])
    df = spark.read.schema(schema).option("header", "true").csv(path)
    # NaN/Inf-looking text stays literal under the all-string schema, but
    # unquoted empty fields surface as NULL from the CSV parser - restore
    # them to "": in VPTS CSV the empty string IS the nodata value, not SQL
    # NULL (pandas equivalent: dtype=str + keep_default_na=False,
    # reference bin/vph5_to_vpts.py:232-238)
    return df.select(*[F.coalesce(F.col(c), F.lit("")).alias(c) for c in spec.columns])


def _day_dirs_of_months(spark: SparkSession, daily_path: str, months: list[str]) -> list[str]:
    """The daily store's ``p_radar=*/p_date=<yyyymm>*`` directories of
    `months`, resolved on the driver by Hadoop FS globbing (local, HDFS,
    s3a, ...) — no Spark job."""
    if not months:  # an empty `{}` alternative would match every day
        return []
    bad = [m for m in months if not re.fullmatch(r"\d{6}", m)]
    if bad:
        raise ValueError(f"months must be yyyymm strings, got {bad}")
    alternatives = ",".join(sorted(set(months)))
    jpath = spark._jvm.org.apache.hadoop.fs.Path(
        f"{daily_path.rstrip('/')}/p_radar=*/p_date={{{alternatives}}}*"
    )
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    found = fs.globStatus(jpath) or []  # None when the store does not exist
    return sorted(st.getPath().toString() for st in found if st.isDirectory())


def monthly_vpts_job(
    spark: SparkSession,
    daily_path: str,
    output_path: str,
    months: list[str] | None = None,
) -> None:
    """Monthly phase (reference bin/vph5_to_vpts.py:204-250): re-read the
    affected months' daily CSVs string-preserving, union, re-sort, write
    gzip CSV partitioned by (radar, month), replacing only those partitions.

    With `months` (yyyymm strings) only the daily partition directories
    ``p_radar=*/p_date=<yyyymm>*`` are listed and read — every radar's days
    of each month, so every radar's partition of the month is rewritten
    whole. When none exist (or `months` is empty) nothing is read or
    written. ``months=None`` reads the whole daily store and rebuilds every
    month."""
    if months is None:
        paths: str | list[str] = daily_path
    else:
        paths = _day_dirs_of_months(spark, daily_path, months)
        if not paths:
            return
    write_vpts_partitions(read_daily_csv_string_preserving(spark, paths), output_path, "p_month")


def write_descriptor(path: str, vpts_csv_version: str = "v1.0") -> str:
    """Frictionless-style resource descriptor sink K4
    (reference: src/vptstools/vpts.py:320-343) — driver-side JSON pointing at
    the versioned table schema."""
    spec = get_vpts_version(vpts_csv_version)
    descriptor = {
        "name": "vpts",
        "path": "*.csv",
        "format": "csv",
        "mediatype": "text/csv",
        "encoding": "utf-8",
        "schema": (
            "https://raw.githubusercontent.com/enram/vpts-csv/"
            f"{spec.version}/vpts-csv-table-schema.json"
        ),
    }
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, DESCRIPTOR_FILENAME)
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(descriptor, fh, indent=2)
    return out


def incremental_run(
    spark: SparkSession,
    inventory_df: DataFrame,
    profiles: DataFrame,
    output_root: str,
    modified_days_ago: int = 2,
    now=None,
) -> DataFrame:
    """End-to-end incremental pipeline (reference §3.3): inventory → affected
    radar-days → daily partition overwrite → monthly partition overwrite.

    The selected radar-days are collected to the driver once
    (`collect_radar_days`). The daily job filters `profiles` to them and
    rewrites their ``daily/p_radar=<radar>/p_date=<yyyymmdd>`` partitions;
    the monthly job reads only ``daily/p_radar=*/p_date=<yyyymm>*`` of
    their months and rewrites those months' ``monthly/`` partitions. No
    other partition is read or written. Returns the days_to_create_vpts
    frame (what was recomputed)."""
    days = days_to_create_vpts(parse_inventory(inventory_df), modified_days_ago, now)
    selected = collect_radar_days(days)
    daily = os.path.join(output_root, "daily")
    daily_vpts_job(spark, profiles, [(d.radar, d.date) for d in selected], daily)
    monthly_vpts_job(
        spark, daily, os.path.join(output_root, "monthly"), sorted({d.month for d in selected})
    )
    write_descriptor(output_root)
    return days
