"""Output checks, all run outside the timed region.

Each check returns a list of problem strings; an empty list means it
passed. The workloads turn a non-empty list into failed operations.
"""

from __future__ import annotations

import csv
import functools
import glob
import gzip
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vptstools_spark.operators.pipeline import read_daily_csv_string_preserving
from vptstools_spark.operators.vpts import validate_vpts, validate_vpts_order
from vptstools_spark.schemas import (
    STATE_NODATA,
    STATE_UNDETECT,
    VPTS_CSV_V1,
    profile_long_schema,
)

_TYPES = {f.name: f.dataType.typeName() for f in profile_long_schema().fields}
RENDER_SAMPLE_EVERY = 16  # check_rendering samples about one profile row in this many


def _plain(v) -> str:
    """A double as Spark casts it to string (plain values only)."""
    return "" if v is None else repr(float(v))


def render_row(p: dict) -> list[str]:
    """Pure-Python VPTS CSV v1.0 row from one profile row: nodata -> "",
    undetect -> "NaN", gap -> TRUE/FALSE, doubles via CPython ``repr``."""
    spec = VPTS_CSV_V1
    cells = {
        "radar": p["radar"],
        "datetime": p["ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
        "height": str(p["height"]),
        "gap": "" if p["gap"] is None else ("TRUE" if p["gap"] else "FALSE"),
        "rcs": _plain(p["rcs"]),
        "sd_vvp_threshold": _plain(p["sd_vvp_threshold"]),
        "vcp": "" if p["vcp"] in (None, "NULL", "0") else str(int(p["vcp"])),
        "radar_latitude": _plain(p["radar_latitude"]),
        "radar_longitude": _plain(p["radar_longitude"]),
        "radar_height": "" if p["radar_height"] is None else str(p["radar_height"]),
        "radar_wavelength": _plain(p["radar_wavelength"]),
        "source_file": p["source_file"],
    }
    for m in spec.measurement_columns:
        state = p[f"{m}__state"]
        if state == STATE_NODATA:
            cells[m] = spec.nodata
        elif state == STATE_UNDETECT:
            cells[m] = spec.undetect
        elif _TYPES[m] == "double":
            cells[m] = repr(float(p[m]))
        else:
            cells[m] = str(p[m])
    return [cells[c] for c in spec.columns]


def write_daily_csv(rows: list[list[str]], path: str) -> None:
    """One daily VPTS CSV as the program writes it: header, rows in the
    v1.0 sort order, ``\n`` line ends."""
    cols = VPTS_CSV_V1.columns
    h, d, s = cols.index("height"), cols.index("datetime"), cols.index("source_file")
    rows = sorted(rows, key=lambda r: (r[0], r[d], int(r[h]), r[s]))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(cols)
        w.writerows(rows)


def read_csv_rows(paths: list[str]) -> list[list[str]]:
    """Data rows of daily CSV files, headers dropped."""
    rows: list[list[str]] = []
    for path in paths:
        with open(path, newline="") as fh:
            rows.extend(list(csv.reader(fh))[1:])
    return rows


def partition_files(root: str) -> dict[str, list[str]]:
    """``p_a=x/p_b=y`` -> its data files, for a hive-partitioned CSV output."""
    out: dict[str, list[str]] = {}
    for path in glob.glob(f"{root}/*/*/part-*"):
        if path.endswith(".crc"):
            continue
        out.setdefault(os.path.relpath(os.path.dirname(path), root), []).append(path)
    return {k: sorted(v) for k, v in out.items()}


def _body(path: str) -> bytes:
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rb") as fh:
        data = fh.read()
    return data.split(b"\n", 1)[1] if b"\n" in data else b""


def snapshot(root: str) -> dict[str, list[str]]:
    """Partition -> sorted digests of its files' decompressed bytes. File
    names carry a per-write id, so content is what has to repeat."""
    out = {}
    for part, files in partition_files(root).items():
        digests = []
        for path in files:
            opener = gzip.open if path.endswith(".gz") else open
            with opener(path, "rb") as fh:
                digests.append(hashlib.sha256(fh.read()).hexdigest())
        out[part] = sorted(digests)
    return out


def same_snapshot(before: dict, after: dict, label: str) -> list[str]:
    changed = sorted(k for k in before if after.get(k) != before[k])
    return [f"{label}: {len(changed)} partitions changed, e.g. {changed[:3]}"] if changed else []


def check_monthly_is_daily_concat(daily_root: str, monthly_root: str) -> list[str]:
    """Each decompressed monthly body equals its days' daily bodies
    concatenated in date order."""
    problems = []
    daily = partition_files(daily_root)
    monthly = partition_files(monthly_root)
    if not monthly:
        return ["monthly output is empty"]
    for part, files in monthly.items():
        radar_dir, month_dir = part.split(os.sep)
        month = month_dir.split("=", 1)[1]
        days = sorted(
            k for k in daily if k.split(os.sep)[0] == radar_dir
            and k.split(os.sep)[1].split("=", 1)[1].startswith(month)
        )
        want = b"".join(_body(f) for d in days for f in daily[d])
        got = b"".join(_body(f) for f in files)
        if got != want:
            problems.append(f"monthly {part} != concatenation of {len(days)} daily bodies")
    return problems


def check_rendering(profiles: DataFrame, daily_root: str, seed: int) -> list[str]:
    """A seeded sample (about one row in ``RENDER_SAMPLE_EVERY``) of profile
    rows rendered in pure Python agrees cell for cell with the daily CSV rows
    of the same (source_file, height)."""
    sample = F.xxhash64("source_file", "height", F.lit(seed)) % RENDER_SAMPLE_EVERY == 0
    rows = [r.asDict() for r in profiles.filter(sample).collect()]
    if not rows:
        return ["rendering sample is empty"]
    paths = [
        f
        for (radar, day) in {(r["radar"], r["ts"].strftime("%Y%m%d")) for r in rows}
        for f in glob.glob(f"{daily_root}/p_radar={radar}/p_date={day}/part-*.csv")
    ]
    cols = VPTS_CSV_V1.columns
    got = {(r[cols.index("source_file")], r[cols.index("height")]): r for r in read_csv_rows(paths)}
    problems = []
    for p in rows:
        want = render_row(p)
        have = got.get((p["source_file"], str(p["height"])))
        if have != want:
            problems.append(f"rendering of {p['source_file']}@{p['height']}: {have} != {want}")
    return problems[:5]


def check_vpts_valid(spark: SparkSession, outputs: list[str | list[str]]) -> list[str]:
    """``validate_vpts`` reports no violations and each file is sorted, over
    the union of ``outputs`` (each a path or list of paths of one layout)."""
    frames = [read_daily_csv_string_preserving(spark, o) for o in outputs]
    df = functools.reduce(DataFrame.unionAll, frames)
    problems = [f"{r['rule']} x{r['n_violations']}" for r in validate_vpts(df).collect()]
    inversions = validate_vpts_order(df, per_file=True)
    if inversions:
        problems.append(f"{inversions} sort-order inversions")
    return problems


def check_row_count(partitions: list[str], expected: int) -> list[str]:
    """The daily CSV rows of ``partitions`` number ``expected``."""
    files = [f for p in partitions for f in glob.glob(f"{p}/part-*.csv")]
    got = len(read_csv_rows(files))
    return [] if got == expected else [f"daily rows {got} != profile rows {expected}"]
