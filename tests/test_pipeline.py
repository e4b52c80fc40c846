"""Incremental daily/monthly pipeline e2e (reference: tests/test_vph5_to_vpts.py)."""

import datetime
import glob
import gzip
import json
import os

import pytest

from tests.conftest import make_profile_record
from vptstools_spark.operators.pipeline import (
    incremental_run,
    read_daily_csv_string_preserving,
    resolve_source_file,
    write_descriptor,
)
from vptstools_spark.schemas import STATE_UNDETECT, STATE_VALUE
from vptstools_spark.sources.odim import profiles_from_records


def _named_transform(path):
    return "renamed_" + os.path.basename(path)


def test_resolve_source_file_default_and_callable():
    # reference: src/vptstools/vpts.py:189-220 (P16)
    assert resolve_source_file("/a/b/file.h5", None) == "file.h5"
    assert resolve_source_file("/a/b/file.h5", "fixed.h5") == "fixed.h5"
    assert resolve_source_file("/a/b/file.h5", _named_transform) == "renamed_file.h5"


def test_resolve_source_file_rejects_lambda():
    # reference: src/vptstools/vpts.py:237-239 (pickling constraint)
    with pytest.raises(ValueError, match="lambda"):
        resolve_source_file("x.h5", lambda p: p)


def test_write_descriptor(tmp_path):
    out = write_descriptor(str(tmp_path))
    desc = json.load(open(out))
    assert desc["format"] == "csv"
    assert "v1.0" in desc["schema"]


@pytest.fixture(scope="module")
def pipeline_output(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("vpts_out"))
    # two radar-days for 'nosta', one of which is recent; one old 'bejab' day
    recs = []
    for day, minute in [(11, 15), (11, 25), (12, 0)]:
        recs.append(
            make_profile_record(
                ts=datetime.datetime(2023, 3, day, 23, minute),
                source_file=f"nosta_vp_202303{day:02d}T{23:02d}{minute:02d}00Z_0xb.h5",
                height=0,
                u=1.25,
                u_state=STATE_VALUE,
            )
        )
    recs.append(
        make_profile_record(
            radar="bejab",
            ts=datetime.datetime(2022, 11, 11, 23, 30),
            source_file="bejab_vp_20221111T233000Z_0x9.h5",
            height=200,
            u=None,
            u_state=STATE_UNDETECT,
        )
    )
    profiles = profiles_from_records(spark, recs)

    inv_rows = [
        ("repo", "baltrad/hdf5/nosta/2023/03/11/nosta_vp_20230311T231500Z_0xb.h5", 1, datetime.datetime(2023, 3, 12, 1, 0)),
        ("repo", "baltrad/hdf5/nosta/2023/03/11/nosta_vp_20230311T232500Z_0xb.h5", 1, datetime.datetime(2023, 3, 12, 1, 0)),
        ("repo", "baltrad/hdf5/nosta/2023/03/12/nosta_vp_20230312T000000Z_0xb.h5", 1, datetime.datetime(2023, 3, 12, 1, 0)),
        ("repo", "baltrad/hdf5/bejab/2022/11/11/bejab_vp_20221111T233000Z_0x9.h5", 1, datetime.datetime(2022, 11, 12, 1, 0)),
    ]
    inventory = spark.createDataFrame(
        inv_rows, "repo string, file string, size long, modified timestamp"
    )
    days = incremental_run(
        spark,
        inventory,
        profiles,
        root,
        modified_days_ago=2,
        now=datetime.datetime(2023, 3, 13, 0, 0),
    )
    return root, days


def test_incremental_selects_recent_days(pipeline_output):
    _, days = pipeline_output
    dirs = {r["directory"] for r in days.collect()}
    assert dirs == {
        "baltrad/hdf5/nosta/2023/03/11",
        "baltrad/hdf5/nosta/2023/03/12",
    }  # bejab 2022 is outside the window


def test_daily_partitions_written(pipeline_output):
    root, _ = pipeline_output
    parts = sorted(
        os.path.relpath(p, os.path.join(root, "daily"))
        for p in glob.glob(os.path.join(root, "daily", "p_radar=*", "p_date=*"))
    )
    assert parts == ["p_radar=nosta/p_date=20230311", "p_radar=nosta/p_date=20230312"]


def test_daily_csv_content_sorted(pipeline_output, spark):
    root, _ = pipeline_output
    files = glob.glob(os.path.join(root, "daily", "p_radar=nosta", "p_date=20230311", "*.csv"))
    lines = [ln for f in files for ln in open(f).read().splitlines()[1:]]
    assert len(lines) == 2
    assert lines[0].split(",")[1] < lines[1].split(",")[1]  # datetime ascending
    assert lines[0].split(",")[3] == "1.25"  # u value rendered


def test_monthly_gzip_written(pipeline_output):
    root, _ = pipeline_output
    gz = glob.glob(os.path.join(root, "monthly", "p_radar=nosta", "p_month=202303", "*.csv.gz"))
    assert gz
    text = gzip.open(gz[0], "rt").read()
    assert text.count("\n") == 4  # header + 3 rows (both days of the month)


def test_string_preserving_reread(pipeline_output, spark):
    # tri-state text must survive write→read (SURVEY §7.4.2)
    root, _ = pipeline_output
    df = read_daily_csv_string_preserving(spark, os.path.join(root, "daily"))
    rows = df.collect()
    assert all(r["v"] == "" for r in rows)  # nodata stays empty string, not NULL
    assert {r["u"] for r in rows} == {"1.25"}


def test_descriptor_written(pipeline_output):
    root, _ = pipeline_output
    assert os.path.exists(os.path.join(root, "vpts.resource.json"))


def test_odim_fleet_small_file_packing_and_e2e(spark, tmp_path):
    """The S1 100 TB design claim, measured mechanically (VERDICT r7 #1):
    binaryFile + files.maxPartitionBytes packs MANY small .h5 files per
    task (tasks << files), and the synthesized fleet flows end-to-end
    through read_vp_files → daily_vpts_job with the expected row and
    partition counts."""
    import glob as _glob

    from pyspark.sql import functions as F

    from tools.gen_odim import main as gen_odim
    from vptstools_spark.operators.pipeline import daily_vpts_job
    from vptstools_spark.sources.odim import read_vp_files

    fleet = str(tmp_path / "fleet")
    n_files = gen_odim(fleet, n_radars=2, n_days=1, per_day=24)
    assert n_files == 48
    pat = os.path.join(fleet, "*", "*", "*", "*")
    profiles = read_vp_files(spark, pat)
    tasks = profiles.rdd.getNumPartitions()
    assert 0 < tasks < n_files, f"no packing: {tasks} tasks for {n_files} files"
    assert profiles.count() == 48 * 25  # 25 altitude levels per VP file

    # distinct patched identities survived the byte patch
    radars = {r["radar"] for r in profiles.select("radar").distinct().collect()}
    assert radars == {"syaaa", "sybbb"}

    days = profiles.select(
        F.col("radar").alias("radar_code"),
        F.date_format("ts", "yyyyMMdd").alias("date"),
    ).distinct()
    out = str(tmp_path / "daily")
    daily_vpts_job(spark, read_vp_files(spark, pat), days, out)
    parts = _glob.glob(os.path.join(out, "p_radar=*", "p_date=*"))
    assert len(parts) == 2  # 2 radars × 1 day
    csvs = _glob.glob(os.path.join(out, "p_radar=syaaa", "p_date=*", "*.csv"))
    n_lines = sum(open(c).read().count("\n") for c in csvs)
    assert n_lines == 24 * 25 + len(csvs)  # rows + one header per file


def _two_month_case(spark):
    """Profiles and inventory for nosta 2023-02-27 (modified 2023-02-28),
    nosta 2023-03-11 (two VPs) and bejab 2023-03-12 (both modified
    2023-03-12)."""
    cases = [
        ("nosta", datetime.datetime(2023, 2, 27, 23, 15), datetime.datetime(2023, 2, 28, 1)),
        ("nosta", datetime.datetime(2023, 3, 11, 23, 15), datetime.datetime(2023, 3, 12, 1)),
        ("nosta", datetime.datetime(2023, 3, 11, 23, 25), datetime.datetime(2023, 3, 12, 1)),
        ("bejab", datetime.datetime(2023, 3, 12, 0, 5), datetime.datetime(2023, 3, 12, 1)),
    ]
    recs, inv_rows = [], []
    for radar, ts, modified in cases:
        name = f"{radar}_vp_{ts:%Y%m%dT%H%M%S}Z_0xb.h5"
        recs.append(
            make_profile_record(
                radar=radar, ts=ts, source_file=name, u=1.25, u_state=STATE_VALUE
            )
        )
        inv_rows.append(
            ("repo", f"baltrad/hdf5/{radar}/{ts:%Y/%m/%d}/{name}", 1, modified)
        )
    inventory = spark.createDataFrame(
        inv_rows, "repo string, file string, size long, modified timestamp"
    )
    return profiles_from_records(spark, recs), inventory


def _partition_files(root, store):
    return sorted(glob.glob(os.path.join(root, store, "p_radar=*", "p_*=*", "*.csv*")))


def test_incremental_run_reads_and_rewrites_only_affected_months(spark, tmp_path):
    """A daily partition of another month is neither read nor rewritten; the
    affected month's file is its daily bodies joined in order."""
    profiles, inventory = _two_month_case(spark)
    root = str(tmp_path)
    # first run selects all three radar-days
    incremental_run(
        spark, inventory, profiles, root, 30, now=datetime.datetime(2023, 3, 13)
    )
    monthly_files = _partition_files(root, "monthly")
    assert [os.path.dirname(os.path.relpath(p, root)) for p in monthly_files] == [
        "monthly/p_radar=bejab/p_month=202303",
        "monthly/p_radar=nosta/p_month=202302",
        "monthly/p_radar=nosta/p_month=202303",
    ]
    feb_glob = os.path.join(root, "monthly", "p_radar=nosta", "p_month=202302", "*")
    [feb] = glob.glob(feb_glob)
    feb_mtime = os.stat(feb).st_mtime_ns
    # an unreadable file in the February day: reading it would fail the run
    feb_day = os.path.join(root, "daily", "p_radar=nosta", "p_date=20230227")
    with open(os.path.join(feb_day, "part-corrupt.csv.gz"), "wb") as fh:
        fh.write(b"not gzip")

    days = incremental_run(
        spark, inventory, profiles, root, 2, now=datetime.datetime(2023, 3, 13)
    )
    assert {r["directory"].split("/", 2)[2] for r in days.collect()} == {
        "nosta/2023/03/11",
        "bejab/2023/03/12",
    }
    assert glob.glob(feb_glob) == [feb]
    assert os.stat(feb).st_mtime_ns == feb_mtime
    for radar in ("nosta", "bejab"):
        dailies = sorted(
            glob.glob(os.path.join(root, "daily", f"p_radar={radar}", "p_date=202303*", "*.csv"))
        )
        texts = [open(f).read().splitlines(keepends=True) for f in dailies]
        [gz] = glob.glob(
            os.path.join(root, "monthly", f"p_radar={radar}", "p_month=202303", "*.csv.gz")
        )
        assert gzip.open(gz, "rt").read() == "".join(
            texts[0][:1] + [ln for t in texts for ln in t[1:]]
        )


def test_incremental_run_empty_selection(spark, tmp_path):
    profiles, inventory = _two_month_case(spark)
    root = str(tmp_path)
    days = incremental_run(
        spark, inventory, profiles, root, 2, now=datetime.datetime(2024, 1, 1)
    )
    assert days.count() == 0
    assert _partition_files(root, "daily") == []
    assert _partition_files(root, "monthly") == []
    assert os.path.exists(os.path.join(root, "vpts.resource.json"))


def test_monthly_vpts_job_without_months_rebuilds_every_month(spark, tmp_path):
    from vptstools_spark.operators.pipeline import daily_vpts_job, monthly_vpts_job

    profiles, _ = _two_month_case(spark)
    daily, monthly = str(tmp_path / "daily"), str(tmp_path / "monthly")
    daily_vpts_job(
        spark,
        profiles,
        [("nosta", "20230227"), ("nosta", "20230311"), ("bejab", "20230312")],
        daily,
    )
    monthly_vpts_job(spark, daily, monthly, [])  # empty month list: no work
    assert not os.path.exists(monthly)
    monthly_vpts_job(spark, daily, monthly)
    parts = sorted(
        os.path.relpath(p, monthly)
        for p in glob.glob(os.path.join(monthly, "p_radar=*", "p_month=*"))
    )
    assert parts == [
        "p_radar=bejab/p_month=202303",
        "p_radar=nosta/p_month=202302",
        "p_radar=nosta/p_month=202303",
    ]


def test_incremental_run_leaves_session_overwrite_mode(spark, tmp_path):
    """The partition-overwrite mode is set per write: the session's conf is
    unchanged, and a partition outside the selection survives even when the
    session default is static (which would truncate the store)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    profiles, inventory = _two_month_case(spark)
    root = str(tmp_path)
    other = os.path.join(root, "daily", "p_radar=zzzzz", "p_date=20230301", "part-0.csv")
    os.makedirs(os.path.dirname(other))
    open(other, "w").close()
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        incremental_run(
            spark, inventory, profiles, root, 2, now=datetime.datetime(2023, 3, 13)
        )
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prev)
    assert os.path.exists(other)
    assert len(_partition_files(root, "daily")) == 3
