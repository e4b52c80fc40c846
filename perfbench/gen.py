"""Seeded benchmark inputs, built on the JVM side from ``spark.range``.

Everything here is a pure function of ``(seed, sizes)``: the same seed
writes the same rows. Values come from ``xxhash64(id, k, seed)`` rather than
``rand()``, so they do not depend on how Spark splits the range.

- ``profiles_df``: decoded vertical profiles in ``profile_long_schema()``
  form (one row per file x height level).
- ``inventory_df``: S3-inventory rows whose keys follow
  ``{source}/hdf5/{radar}/{yyyy}/{mm}/{dd}/{radar}_vp_{ts}Z_*.h5``, with
  source ``baltrad``.
- ``write_star_schema``: the registry tables the query mix reads.

Callers turn the frames into files with one ``toArrow()`` each.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vptstools_spark.schemas import V1_QUANTITIES, profile_long_schema

LEVELS = 25  # height levels per profile, as in the reference golden
LEVEL_STEP_M = 200

#: candidate radars: (code, latitude, longitude, height_m); the seed picks the fleet
RADARS = [
    ("bejab", 51.1917, 3.0642, 50),
    ("bewid", 49.9135, 5.5044, 592),
    ("nldhl", 52.9528, 4.7906, 51),
    ("nlhrw", 51.8371, 5.138, 40),
    ("frabb", 50.1358, 1.8347, 112),
    ("dehnr", 52.4601, 9.6945, 98),
    ("deess", 51.4055, 6.9669, 185),
    ("plrze", 50.1141, 22.037, 457),
]

#: ODIM-style double quantities: column -> value expression of {u} in [0, 1)
_DOUBLE_RANGES = {
    "u": "({u} - 0.5) * 40",
    "v": "({u} - 0.5) * 40",
    "w": "({u} - 0.5) * 4",
    "ff": "{u} * 30",
    "dd": "{u} * 360",
    "sd_vvp": "{u} * 5",
    "eta": "{u} * 1000",
    "dens": "{u} * 100",
    "dbz": "({u} - 0.5) * 60",
    "dbz_all": "({u} - 0.5) * 60",
}

#: doubles whose CPython repr differs from Java's Double.toString
#: (0.0005 vs 5.0E-4, 1e-05 vs 1.0E-5, 1e+16 vs 1.0E16); a renderer
#: that loses repr parity fails the benchmark's output check
_REPR_TRAPS = {"dens": ("0.0005D", "1e-05D"), "eta": ("1e16D", "0.0005D")}


def fleet(seed: int, n: int) -> list[tuple[str, float, float, int]]:
    """``n`` radars of ``RADARS``, chosen and ordered by ``seed``."""
    order = sorted(range(len(RADARS)), key=lambda i: (i * 7919 + seed * 104729) % 1009)
    return [RADARS[i] for i in order[:n]]


def _unit(k: int, seed: int) -> str:
    """SQL for a uniform value in [0, 1) keyed by (id, k, seed)."""
    return f"(pmod(xxhash64(id, {k}, {seed}), 1000003) / 1000003.0D)"


def _epoch(day: dt.date) -> int:
    return int(dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc).timestamp())


def profiles_df(
    spark: SparkSession,
    seed: int,
    radars: list[tuple[str, float, float, int]],
    first_day: dt.date,
    n_days: int,
    vps_per_day: int,
) -> DataFrame:
    """Decoded profiles for ``radars`` x ``n_days`` x ``vps_per_day`` files.

    Row ``id`` encodes (radar, day, vp, level) with the level fastest, so a
    range of ``LEVELS`` consecutive ids is exactly one VP file.
    """
    n_files = len(radars) * n_days * vps_per_day
    step_s = 86400 // vps_per_day
    base = _epoch(first_day)
    codes = ",".join(f"'{r[0]}'" for r in radars)
    lats = ",".join(f"{r[1]}D" for r in radars)
    lons = ",".join(f"{r[2]}D" for r in radars)
    hgts = ",".join(str(r[3]) for r in radars)
    df = spark.range(0, n_files * LEVELS, 1, spark.sparkContext.defaultParallelism)
    df = df.selectExpr(
        "id",
        f"CAST(id % {LEVELS} AS INT) AS level",
        f"CAST((id DIV {LEVELS}) % {vps_per_day} AS INT) AS vp",
        f"CAST((id DIV {LEVELS * vps_per_day}) % {n_days} AS INT) AS day",
        f"CAST(id DIV {LEVELS * vps_per_day * n_days} AS INT) AS r",
    ).selectExpr(
        "*",
        f"element_at(array({codes}), r + 1) AS radar",
        f"timestamp_seconds({base}L + day * 86400L + vp * {step_s}L) AS ts",
    )
    cols = [
        "concat(radar, '_vp_', date_format(ts, \"yyyyMMdd'T'HHmmss\"), 'Z_0x9.h5') AS source_file",
        "radar",
        "ts",
        f"level * {LEVEL_STEP_M} AS height",
    ]
    for k, (_odim, (col, dtype)) in enumerate(V1_QUANTITIES.items(), start=1):
        state_u = _unit(100 + k, seed)
        u = _unit(k, seed)
        state = f"CASE WHEN {state_u} < 0.1 THEN 1 WHEN {state_u} < 0.2 THEN 2 ELSE 0 END"
        if col == "gap":
            cols.append(f"{u} < 0.3 AS gap")
            continue
        if dtype.typeName() == "long":
            value = f"CAST({u} * 5000 AS BIGINT)"
        else:
            # float32-rounded doubles, as decoded from ODIM float32 arrays
            value = f"CAST(CAST({_DOUBLE_RANGES[col].format(u=u)} AS FLOAT) AS DOUBLE)"
            traps = _REPR_TRAPS.get(col)
            if traps:
                trap_u = _unit(200 + k, seed)
                value = (
                    f"CASE WHEN {trap_u} < 0.05 THEN {traps[0]} "
                    f"WHEN {trap_u} < 0.1 THEN {traps[1]} ELSE {value} END"
                )
        cols.append(f"CAST({state} AS TINYINT) AS `{col}__state`")
        cols.append(f"IF({state} = 0, {value}, NULL) AS `{col}`")
    cols += [
        "11.0D AS rcs",
        "2.0D AS sd_vvp_threshold",
        "element_at(array('NULL', '0', '12', NULL), CAST(pmod(vp, 4) AS INT) + 1) AS vcp",
        f"element_at(array({lats}), r + 1) AS radar_latitude",
        f"element_at(array({lons}), r + 1) AS radar_longitude",
        f"element_at(array({hgts}), r + 1) AS radar_height",
        "5.3D AS radar_wavelength",
    ]
    out = df.selectExpr(*cols)
    schema = profile_long_schema()
    return out.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])


def inventory_df(
    spark: SparkSession,
    seed: int,
    radars: list[tuple[str, float, float, int]],
    first_day: dt.date,
    n_days: int,
    vps_per_day: int,
) -> DataFrame:
    """One inventory row per VP file; ``modified`` trails the scan time by
    1 to 14 minutes, so a file's radar-day is its modification day."""
    n_files = len(radars) * n_days * vps_per_day
    step_s = 86400 // vps_per_day
    base = _epoch(first_day)
    codes = ",".join(f"'{r[0]}'" for r in radars)
    return spark.range(0, n_files, 1, spark.sparkContext.defaultParallelism).selectExpr(
        "id",
        f"element_at(array({codes}), CAST(id DIV {vps_per_day * n_days} AS INT) + 1) AS radar",
        f"timestamp_seconds({base}L + ((id DIV {vps_per_day}) % {n_days}) * 86400L"
        f" + (id % {vps_per_day}) * {step_s}L) AS ts",
    ).selectExpr(
        "'aloft' AS repo",
        f"concat('baltrad/hdf5/', radar, '/', date_format(ts, 'yyyy/MM/dd'), '/', radar,"
        " '_vp_', date_format(ts, \"yyyyMMdd'T'HHmmss\"), 'Z_0x9.h5') AS file",
        f"20000L + CAST(pmod(xxhash64(id, {seed}), 5000) AS BIGINT) AS size",
        "date_format(ts + make_interval(0, 0, 0, 0, 0, "
        f"CAST(1 + pmod(xxhash64(id, 7, {seed}), 14) AS INT), 0), "
        "\"yyyy-MM-dd'T'HH:mm:ss.SSS'Z'\") AS modified",
    )


#: registry-table row counts for the query mix (about a fifth of sf0.01);
#: every table is written because the oracle checker maps all of them
STAR_ROWS = {
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3000,
    "lineitem": 12000,
    "events": 2000,
    "documents": 200,
    "embeddings": 100,
}

_NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
_WORDS = (
    "the a fast slow key order sort table scan merge part window small big hash "
    "join batch stream spark dup group query row data filter customer line value "
    "agg column vector"
).split()


def _pick(values: list[str], u: str) -> str:
    arr = ",".join(f"'{v}'" for v in values)
    return f"element_at(array({arr}), CAST(floor({u} * {len(values)}) AS INT) + 1)"


def _money(u: str, lo: float, hi: float) -> str:
    """A 2-decimal amount in [lo, hi), exact as DECIMAL so both engines agree."""
    return f"CAST(CAST({lo}D + {u} * {hi - lo}D AS DECIMAL(12, 2)) AS DOUBLE)"


def _ntz_day(u: str, first: str, days: int) -> str:
    return f"CAST(date_add(DATE'{first}', CAST(floor({u} * {days}) AS INT)) AS TIMESTAMP_NTZ)"


def star_tables(spark: SparkSession, seed: int) -> dict[str, DataFrame]:
    """The registry tables (schemas as in the TPC-H-like test data) at
    ``STAR_ROWS`` sizes; timestamps are TIMESTAMP_NTZ like that data."""
    n = STAR_ROWS

    def rng(rows: int) -> DataFrame:
        return spark.range(0, rows, 1, 1)

    def u(k: int) -> str:
        return _unit(k, seed)

    nations = ",".join(f"named_struct('n', '{a}', 'r', {b})" for a, b in _NATIONS)
    words = ",".join(f"'{w}'" for w in _WORDS)
    return {
        "region": rng(5).selectExpr(
            "CAST(id AS INT) AS r_regionkey",
            "element_at(array('AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'),"
            " CAST(id AS INT) + 1) AS r_name",
        ),
        "nation": rng(25).selectExpr(
            "CAST(id AS INT) AS n_nationkey",
            f"element_at(array({nations}), CAST(id AS INT) + 1).n AS n_name",
            f"element_at(array({nations}), CAST(id AS INT) + 1).r AS n_regionkey",
        ),
        "customer": rng(n["customer"]).selectExpr(
            "id AS c_custkey",
            "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
            f"CAST(floor({u(1)} * 25) AS INT) AS c_nationkey",
            f"{_money(u(2), -999.0, 9999.0)} AS c_acctbal",
            f"{_pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], u(3))}"
            " AS c_mktsegment",
        ),
        "supplier": rng(n["supplier"]).selectExpr(
            "id AS s_suppkey",
            "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
            f"CAST(floor({u(4)} * 25) AS INT) AS s_nationkey",
            f"{_money(u(5), -999.0, 9999.0)} AS s_acctbal",
        ),
        "part": rng(n["part"]).selectExpr(
            "id AS p_partkey",
            f"concat({_pick(_WORDS, u(6))}, ' ', {_pick(_WORDS, u(7))}) AS p_name",
            f"concat('Brand#', CAST(floor({u(8)} * 5) + 1 AS INT), CAST(floor({u(9)} * 5) + 1 AS INT))"
            " AS p_brand",
            f"{_pick(['STANDARD BRASS', 'SMALL PLATED', 'LARGE COPPER', 'PROMO TIN'], u(10))} AS p_type",
            f"CAST(floor({u(11)} * 50) + 1 AS INT) AS p_size",
            f"{_money(u(12), 900.0, 2000.0)} AS p_retailprice",
        ),
        "orders": rng(n["orders"]).selectExpr(
            "id AS o_orderkey",
            f"CAST(floor({u(13)} * {n['customer']}) AS BIGINT) AS o_custkey",
            f"{_pick(['F', 'O', 'P'], u(14))} AS o_orderstatus",
            f"{_money(u(15), 1000.0, 400000.0)} AS o_totalprice",
            f"{_ntz_day(u(16), '1992-01-01', 2400)} AS o_orderdate",
            f"{_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], u(17))}"
            " AS o_orderpriority",
        ),
        "lineitem": rng(n["lineitem"]).selectExpr(
            f"CAST(floor({u(18)} * {n['orders']}) AS BIGINT) AS l_orderkey",
            f"CAST(floor({u(19)} * {n['part']}) AS BIGINT) AS l_partkey",
            f"CAST(floor({u(20)} * {n['supplier']}) AS BIGINT) AS l_suppkey",
            "CAST(id % 7 + 1 AS INT) AS l_linenumber",
            f"CAST(floor({u(21)} * 50) + 1 AS DOUBLE) AS l_quantity",
            f"{_money(u(22), 900.0, 100000.0)} AS l_extendedprice",
            f"CAST(floor({u(23)} * 11) / 100 AS DOUBLE) AS l_discount",
            f"CAST(floor({u(24)} * 9) / 100 AS DOUBLE) AS l_tax",
            f"{_pick(['A', 'N', 'R'], u(25))} AS l_returnflag",
            f"{_pick(['F', 'O'], u(26))} AS l_linestatus",
            f"{_ntz_day(u(27), '1992-01-02', 2500)} AS l_shipdate",
        ),
        "events": rng(n["events"]).selectExpr(
            "id AS event_id",
            "CAST(timestamp_seconds(1704067200L + id * 1296L"
            f" + CAST(floor({u(28)} * 1200) AS BIGINT)) AS TIMESTAMP_NTZ) AS ts",
            f"CAST(floor({u(29)} * 40) AS BIGINT) AS user_id",
            f"{_pick(['click', 'purchase', 'error', 'signup', 'view'], u(30))} AS event_type",
            f"{_money(u(31), 0.0, 500.0)} AS value",
            f"concat('{{\"k\": ', CAST(floor({u(32)} * 100) AS INT), '}}') AS props",
        ),
        "documents": rng(n["documents"]).selectExpr(
            "id AS doc_id",
            f"concat_ws(' ', transform(sequence(1, 8 + CAST(floor({u(33)} * 60) AS INT)),"
            f" i -> element_at(array({words}),"
            f" CAST(pmod(xxhash64(id, i, {seed}), {len(_WORDS)}) AS INT) + 1))) AS text",
            f"{_pick(['en', 'en', 'fr', 'es', 'de', 'zh'], u(34))} AS lang",
            "concat('src', CAST(id % 20 AS STRING)) AS source",
        ).selectExpr("*", "CAST(length(text) AS BIGINT) AS n_chars"),
        "embeddings": rng(n["embeddings"]).selectExpr(
            "id AS vec_id",
            "transform(sequence(1, 16), i -> CAST("
            f"pmod(xxhash64(id, i, {seed}), 2001) / 1000.0D - 1.0D AS FLOAT)) AS embedding",
            f"CAST(floor({u(35)} * 4) AS INT) AS label",
        ),
    }


def write_star_schema(spark: SparkSession, seed: int, sf_dir: str) -> None:
    """One single-file parquet per table, readable by Spark and DuckDB alike."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, df in star_tables(spark, seed).items():
        pq.write_table(df.toArrow(), f"{sf_dir}/{name}.parquet")
