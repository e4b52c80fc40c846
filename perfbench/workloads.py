"""The benchmark's workloads. Each one is driven by one closed-loop client:
the next pass starts when the previous one has finished.

A workload has ``setup`` (inputs, history, warm-up; timed into
``setup_s``), ``run_pass`` (one timed operation or mix of operations),
``traced_pass`` (the same work with spans around each layer call) and
``check`` (output checks after the loop). Sizes are class attributes so
the README and ``BENCHMARK.json`` can state them.
"""

from __future__ import annotations

import contextlib
import csv
import datetime as dt
import glob
import gzip
import json
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
from tools.check_correctness import run_checks
from vptstools_spark.operators.inventory import (
    GROUP_COLS,
    days_to_create_vpts,
    parse_inventory,
    read_inventory,
)
from vptstools_spark.operators.pipeline import (
    daily_vpts_job,
    incremental_run,
    monthly_vpts_job,
    write_descriptor,
)
from vptstools_spark.operators.vpts import to_vpts_table
from vptstools_spark.schemas import profile_long_schema
from vptstools_spark.streaming.incremental import (
    incremental_vpts_sink,
    stream_profiles,
)


class Op:
    """Outcome of one operation: wall seconds, and problems if it failed."""

    def __init__(self, seconds: float, problems: list[str]):
        self.seconds, self.problems = seconds, problems


class Workload:
    name = ""
    #: untimed passes at the end of setup. Pass times keep falling over the
    #: first warm passes (JIT), so the timed passes start after them.
    warm_up_passes = 1

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.cold_s: dict[str, float] = {}  # query -> first, cold execution
        self.jobs: dict[str, list[int]] = {}  # query -> Spark jobs per traced execution
        self.render_rows = 0
        self.setup_phases: dict[str, float] = {}
        self.problems: list[str] = []  # from setup, reported by ``check``

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one setup phase into ``setup_phases`` (reported, not gated)."""
        t0 = time.perf_counter()
        yield
        self.setup_phases[name] = time.perf_counter() - t0

    def warm_up(self) -> None:
        with self.phase("warm_up"):
            for _ in range(self.warm_up_passes):
                self.problems += [f"warm-up: {m}" for op in self.run_pass() for m in op.problems]

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def can_continue(self) -> bool:
        """False when the workload has no input left for another pass."""
        return True

    def render_noop(self, profiles) -> None:
        """``vpts.render_s``: render ``profiles`` into a noop sink, outside
        pass timing, so the render layer is timed on its own."""
        with self.tracer.span("vpts.render"):
            to_vpts_table(profiles).write.format("noop").mode("overwrite").save()


def _days_keys(days):
    parts = F.split(F.col("directory"), "/")
    return days.select(
        *[F.element_at(parts, i + 1).alias(c) for i, c in enumerate(GROUP_COLS)]
    ).withColumn("date", F.concat("year", "month", "day"))


class DailyCron(Workload):
    """One pass is one day of the reference's cron. A new day of decoded
    profiles lands as parquet files (one file per VP) with its inventory
    keys; the stream sink converts the landed files once (``availableNow``);
    then ``incremental_run(modified_days_ago=2, now=<next midnight>)``
    recomputes two radar-days per radar and rewrites their month, over a
    three-month history that is already converted and a year of inventory."""

    name = "daily_cron"
    radars = 3
    vps_per_day = 4
    history_first = dt.date(2023, 11, 1)
    history_days = 86  # 2023-11-01 .. 2024-01-25
    landing_days = 6  # 2024-01-26 .. 2024-01-31: the warm-up and timed passes
    warm_up_passes = 2  # the cold pass, then one warm pass
    inventory_days = 366  # the inventory lists a year of keys before the landed days
    lookback_days = 2

    def setup(self) -> None:
        self.fleet = gen.fleet(self.seed, self.radars)
        self.landing_first = self.history_first + dt.timedelta(days=self.history_days)
        for d in ("profiles", "staging", "landing", "inventory"):
            os.makedirs(self.path(d))
        with self.phase("generate"):
            history = self._stage_profiles()
            self._stage_inventory()
        with self.phase("history"):
            self._write_history(history)
        self.landed = 0
        self._expected: dict[tuple, int] = {}
        self.warm_up()

    def _stage_profiles(self) -> list[dict]:
        """Write the history profiles (one parquet file) and stage each
        landing day's VPs (one parquet file per VP); return the history rows.
        One Spark job generates both."""
        n_days = self.history_days + self.landing_days
        vps, rows = self.vps_per_day, gen.LEVELS
        table = gen.profiles_df(self.spark, self.seed, self.fleet, self.history_first,
                                n_days, vps).toArrow()
        per_radar = n_days * vps * rows
        history = pa.concat_tables(
            table.slice(r * per_radar, self.history_days * vps * rows) for r in range(self.radars)
        )
        pq.write_table(history, self.path("profiles", "history.parquet"))
        for r in range(self.radars):
            for d in range(self.landing_days):
                for v in range(vps):
                    f = (r * n_days + self.history_days + d) * vps + v
                    pq.write_table(
                        table.slice(f * rows, rows),
                        self.path("staging", f"day{d:02d}-r{r}-vp{v:02d}.parquet"),
                    )
        return history.to_pylist()

    def _stage_inventory(self) -> None:
        """A year of inventory keys before the landed days (one gzipped,
        headerless CSV), and each landing day's keys staged apart."""
        first = self.landing_first - dt.timedelta(days=self.inventory_days)
        keys = gen.inventory_df(self.spark, self.seed, self.fleet, first,
                                self.inventory_days + self.landing_days, self.vps_per_day)
        by_file: dict[str, list[list]] = {}
        for k in keys.toArrow().to_pylist():
            d = (dt.date(*map(int, k["file"].split("/")[3:6])) - self.landing_first).days
            name = ("inventory", "history.csv.gz") if d < 0 else ("staging", f"inventory-day{d:02d}.csv.gz")
            by_file.setdefault(self.path(*name), []).append([k["repo"], k["file"], k["size"], k["modified"]])
        for path, lines in by_file.items():
            with gzip.open(path, "wt", newline="") as fh:
                csv.writer(fh, lineterminator="\n").writerows(lines)

    def _write_history(self, rows: list[dict]) -> None:
        """The already converted history: one daily CSV per radar-day,
        written by the benchmark's reference renderer (``check_rendering``
        holds the program to the same cells). Converting the history with
        the program itself costs more than a run's time budget allows."""
        days: dict[tuple[str, str], list[list[str]]] = {}
        for p in rows:
            days.setdefault((p["radar"], p["ts"].strftime("%Y%m%d")), []).append(checks.render_row(p))
        for (radar, day), cells in days.items():
            checks.write_daily_csv(
                cells, self.path("out", "daily", f"p_radar={radar}", f"p_date={day}", "part-00000.csv")
            )

    def can_continue(self) -> bool:
        return self.landed < self.landing_days

    def _land(self) -> None:
        """Move the next staged day into the landing zone and the inventory."""
        d = self.landed
        for p in glob.glob(self.path("staging", f"day{d:02d}-*.parquet")):
            os.rename(p, self.path("landing", os.path.basename(p)))
        os.rename(self.path("staging", f"inventory-day{d:02d}.csv.gz"),
                  self.path("inventory", f"landed-day{d:02d}.csv.gz"))
        day = self.landing_first + dt.timedelta(days=d)
        self.now = dt.datetime.combine(day + dt.timedelta(days=1), dt.time())
        self.selected_days = [
            (day - dt.timedelta(days=i)).strftime("%Y%m%d") for i in range(self.lookback_days)
        ]
        self.landed += 1

    def _profiles(self):
        return self.spark.read.schema(profile_long_schema()).parquet(
            self.path("profiles"), self.path("landing")
        )

    def _stream(self):
        q = incremental_vpts_sink(
            stream_profiles(self.spark, self.path("landing")),
            self.path("stream_out"),
            self.path("checkpoint"),
        )
        q.awaitTermination()
        return q

    def _cron(self) -> None:
        incremental_run(
            self.spark, read_inventory(self.spark, self.path("inventory")), self._profiles(),
            self.path("out"), self.lookback_days, self.now,
        )

    def _after_pass(self, before: dict) -> list[str]:
        """Earlier radar-days are byte-identical after the pass (the cron
        rewrote one of them); the landed day's partitions match the
        stream's; the pass added one partition per radar."""
        after = checks.snapshot(self.path("out", "daily"))
        new = {k: v for k, v in after.items() if k not in before}
        stream = checks.snapshot(self.path("stream_out"))
        problems = checks.same_snapshot(before, after, "repeated pass")
        problems += checks.same_snapshot(new, stream, "stream vs daily_vpts_job")
        if len(new) != self.radars:
            problems.append(f"{len(new)} new daily partitions, want {self.radars}")
        return problems

    def run_pass(self) -> list[Op]:
        self._land()
        before = checks.snapshot(self.path("out", "daily"))
        t0 = time.perf_counter()
        self._stream()
        self._cron()
        dt_s = time.perf_counter() - t0
        return [Op(dt_s, self._after_pass(before))]

    def traced_pass(self) -> list[Op]:
        """The stream, then ``incremental_run``'s steps in its order, one span
        each. The selection is materialized once (``localCheckpoint``), so
        its scan counts in the inventory span only; the difference in time
        is the tracing overhead."""
        spark, tr = self.spark, self.tracer
        out = self.path("out")
        self._land()
        before = checks.snapshot(self.path("out", "daily"))
        t0 = time.perf_counter()
        with tr.span("pass"):
            with tr.span("stream") as stream_sp:
                q = self._stream()
                progress = [json.loads(p.json) for p in q.recentProgress]
                stream_sp.attrs["progress"] = [p for p in progress if p["numInputRows"] > 0]
            with tr.span("inventory") as sp:
                inv = read_inventory(spark, self.path("inventory"))
                days = days_to_create_vpts(
                    parse_inventory(inv), self.lookback_days, self.now
                ).localCheckpoint()
                sel = days.agg(F.count("*").alias("n"), F.sum("file_count").alias("files")).first()
                sp.attrs.update(radar_days=sel["n"], files=sel["files"])
                keys = _days_keys(days)
            with tr.span("pipeline.daily"):
                daily_vpts_job(spark, self._profiles(), keys, os.path.join(out, "daily"))
            with tr.span("pipeline.monthly"):
                months = sorted(
                    {r["year"] + r["month"] for r in keys.select("year", "month").distinct().collect()}
                )
                monthly_vpts_job(
                    spark, os.path.join(out, "daily"), os.path.join(out, "monthly"), months
                )
            with tr.span("descriptor"):
                write_descriptor(out)
        dt_s = time.perf_counter() - t0
        sources = sorted(glob.glob(self.path("checkpoint", "sources", "0", "*")))
        if sources:  # file-source log of the last batch: a version line, then one file per line
            with open(sources[-1]) as fh:
                stream_sp.attrs["files"] = sum(1 for line in fh.read().splitlines()[1:] if line.strip())
        self.render_noop(self._selected())
        self.render_rows = self.expected_rows()
        return [Op(dt_s, self._after_pass(before))]

    def _selected(self):
        return self._profiles().filter(F.date_format("ts", "yyyyMMdd").isin(self.selected_days))

    def expected_rows(self) -> int:
        """Profile rows in the last pass's selected radar-days."""
        key = tuple(self.selected_days)
        if key not in self._expected:
            self._expected[key] = self._selected().count()
        return self._expected[key]

    def check(self) -> list[str]:
        """Checks on what the last pass rewrote, on the months it touched
        and on the stream's output."""
        daily, monthly = self.path("out", "daily"), self.path("out", "monthly")
        parts = [f"{daily}/p_radar={r[0]}/p_date={d}" for r in self.fleet for d in self.selected_days]
        months = sorted({f"{monthly}/p_radar={r[0]}/p_month={d[:6]}"
                         for r in self.fleet for d in self.selected_days})
        return (
            self.problems
            + checks.check_row_count(parts, self.expected_rows())
            + checks.check_vpts_valid(self.spark, [parts, months, self.path("stream_out")])
            + checks.check_rendering(self._selected(), daily, self.seed)
            + checks.check_monthly_is_daily_concat(daily, monthly)
        )


class QueryMix(Workload):
    """Registry queries on seeded TPC-H-like tables, in a seed-shuffled
    order per pass; each operation is one ``q(spark, sf).count()``."""

    name = "query_mix"
    queries = (
        "inv_days_window",
        "odim_filename_parse",
        "vpts_tristate_render",
        "pagerank_trade",
        "dv_equality_read",
    )

    def setup(self) -> None:
        from vptstools_spark.analytics import all_queries

        self.sf = self.path("sf")
        with self.phase("generate"):
            gen.write_star_schema(self.spark, self.seed, self.sf)
        registry = all_queries()
        self.fns = {q: registry[q] for q in self.queries}
        self.rng = random.Random(self.seed)
        self.rows: dict[str, int] = {}
        with self.phase("cold"):
            for q in self._order():
                t0 = time.perf_counter()
                self.rows[q] = self.fns[q](self.spark, self.sf).count()
                self.cold_s[q] = time.perf_counter() - t0
        self.warm_up()

    def _order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def _check(self, q: str, n: int) -> list[str]:
        return [] if n == self.rows[q] else [f"{q}: {n} rows, cold run had {self.rows[q]}"]

    def run_pass(self) -> list[Op]:
        ops = []
        for q in self._order():
            t0 = time.perf_counter()
            n = self.fns[q](self.spark, self.sf).count()
            ops.append(Op(time.perf_counter() - t0, self._check(q, n)))
        return ops

    def traced_pass(self) -> list[Op]:
        sc = self.spark.sparkContext
        ops = []
        with self.tracer.span("pass"):
            for q in self._order():
                j0 = _next_job_id(sc)
                t0 = time.perf_counter()
                with self.tracer.span(f"query.{q}"):
                    with self.tracer.span(f"query.{q}.build"):
                        df = self.fns[q](self.spark, self.sf)
                    with self.tracer.span(f"query.{q}.exec"):
                        n = df.count()
                ops.append(Op(time.perf_counter() - t0, self._check(q, n)))
                self.jobs.setdefault(q, []).append(_next_job_id(sc) - j0)
        return ops

    def check(self) -> list[str]:
        """Each query matches its DuckDB oracle, with the timed row count."""
        problems = list(self.problems)
        recs = run_checks(self.sf, only=set(self.queries), spark=self.spark, verbose=False)
        for q in self.queries:
            rec = recs[q]
            if rec["status"] != "PASS" or rec["rows"] != self.rows[q]:
                problems.append(f"{q}: oracle {rec['status']} rows {rec['rows']}: {rec['detail']}")
        return problems


def _next_job_id(sc) -> int:
    """The DAGScheduler's monotone job counter: exact jobs-per-operation."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


WORKLOADS = {w.name: w for w in (DailyCron, QueryMix)}
