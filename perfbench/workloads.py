"""The benchmark workloads over the ``input_hint`` pages table.

Each workload has a preparation (exact answers and its own inputs), a
timed iteration, and a correctness check that runs outside the timed
region.  Inputs are a pure function of the seed: the pages table comes
from ``hllspark.io.generate_pages(seed=seed)``.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyspark.sql.functions as F

from hllspark import agg, hashing, hll, io, sketch

HOSTS = 200
START_TS = "2024-06-01 00:00:00"  # the fixture covers 30 days from here
FIXTURE_FILES = 8
P_LANG = 14
P_HOST_DAY = 12
ALGO_HOST_DAY = "hlll"
ROLLUP_SETS = [["host"], ["day"], []]
ROLLUP_DAYS = 7
FINE = -1  # grain id of the committed (host, day) rows

# Accuracy gate: |estimate - exact| <= GATE_SIGMAS * 1.04/sqrt(m) * exact
# + GATE_ABS.  Six standard errors keep a correct HLL from failing across
# thousands of groups and many seeds; the absolute slack covers the
# linear-counting regime of tiny groups, where the error is a whole
# number of register collisions (E = n^2/2m) rather than a relative one.
GATE_SIGMAS = 6.0
GATE_ABS = 3.0
# Rollup estimates must equal direct-grain estimates; the tolerance only
# absorbs floating-point summation order in the batched estimator.
EQUAL_REL_TOL = 1e-9


def within_gate(estimate: float, exact: int, p: int) -> bool:
    bound = GATE_SIGMAS * hll.error_bound(p) * exact + GATE_ABS
    return abs(estimate - exact) <= bound


def rel_err(estimate: float, exact: int) -> float:
    return abs(estimate - exact) / exact


class Fixture:
    """The pages table, materialized as parquet under the run's work dir.

    Only url, warc_ts and lang are written: no workload reads html or
    text, parquet column pruning would skip them, and generating them
    costs about ten times the rest of the table."""

    def __init__(self, spark, work: str, rows: int, seed: int):
        self.spark = spark
        self.path = os.path.join(work, "pages")
        self.rows = rows
        self.seed = seed

    def write(self) -> None:
        io.generate_pages(
            self.spark, self.rows, n_hosts=HOSTS, seed=self.seed,
            num_partitions=FIXTURE_FILES, start_ts=START_TS,
        ).select("url", "warc_ts", "lang").write.mode("overwrite").parquet(
            self.path
        )

    def pages(self):
        return self.spark.read.parquet(self.path)

    def floor_query(self):
        """b0 over the pages: a scan and hash with Spark built-ins only."""
        return self.pages().agg(F.max(F.xxhash64("url")))

    def host_day(self):
        return (
            self.pages()
            .withColumn("host", F.expr("parse_url(url, 'HOST')"))
            .withColumn("day", F.to_date("warc_ts"))
        )


class Workload:
    """Interface: ``prepare`` (exact answers and inputs, once after the
    fixture), ``iterate`` (timed), ``check`` (untimed)."""

    name = ""
    # the sketch shape the layer ladder builds on this workload's input
    keys: list[str]
    p: int
    algo: str
    merge_sets: list[list[str]]  # grains the ladder merges to
    warmup_iters: int  # iterations until the JIT has compiled the hot plans

    def __init__(self, fixture: Fixture, work: str):
        self.fx = fixture
        self.spark = fixture.spark
        self.work = work

    @property
    def input_rows(self) -> int:
        return self.fx.rows

    def ladder_input(self):
        """The frame the layer ladder builds from (keys present)."""
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def floor_query(self):
        """b0: scan and hash of the table the iteration reads, run right
        before each iteration so that host drift cancels in vs_floor."""
        raise NotImplementedError

    def iterate(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> dict:
        """Return {'ok': bool, 'rel_err_max': float, 'sketch_bytes': float|None}."""
        raise NotImplementedError


class UrlsByLang(Workload):
    """Headline query: distinct urls per lang, the default (jvm) build."""

    name = "urls_by_lang"
    keys = ["lang"]
    p = P_LANG
    algo = "hll"
    merge_sets = [["lang"], []]
    warmup_iters = 16

    def ladder_input(self):
        return self.fx.pages()

    def floor_query(self):
        return self.fx.floor_query()

    def prepare(self) -> None:
        rows = (
            self.fx.pages().groupBy("lang")
            .agg(F.countDistinct("url").alias("n")).collect()
        )
        self.exact = {r["lang"]: r["n"] for r in rows}

    def iterate(self, i: int):
        return agg.approx_distinct(
            self.fx.pages(), "url", ["lang"], p=P_LANG
        ).collect()

    def check(self, i: int, result) -> dict:
        est = {r["lang"]: r["distinct_estimate"] for r in result}
        ok = set(est) == set(self.exact) and all(
            within_gate(est[k], self.exact[k], P_LANG) for k in est
        )
        errs = [rel_err(est[k], self.exact[k]) for k in est if k in self.exact]
        return {"ok": ok, "rel_err_max": max(errs), "sketch_bytes": None}


class SketchRollup(Workload):
    """Read path: the committed (host, day) snapshot of one week
    re-aggregated to the per-host, per-day and week-total grains without
    touching the pages (the weekly report over the daily checkpoints)."""

    name = "sketch_rollup"
    keys = ["host", "day"]
    p = P_HOST_DAY
    algo = ALGO_HOST_DAY
    merge_sets = ROLLUP_SETS
    warmup_iters = 3

    @property
    def input_rows(self) -> int:
        return self.sketch_rows

    def ladder_input(self):
        return self.week()

    def floor_query(self):
        return self.writer.read_committed(self.spark).agg(
            F.max(F.xxhash64("sketch"))
        )

    def week(self):
        first = F.to_date(F.lit(START_TS))
        return self.fx.host_day().where(F.col("day") < F.date_add(first, ROLLUP_DAYS))

    def prepare(self) -> None:
        self.reference()
        self.commit_snapshot()

    def reference(self) -> None:
        """Exact distinct counts and directly built registers for the
        (host, day) grain and every rollup grain.  The week's (key, url,
        xxhash64) rows (about ROWS * 7/30 of them) are collected once; the
        registers come from the numpy twin of the engine's split
        (hashing.jr_split), independent of the JVM build being measured."""
        pdf = self.week().where(F.col("url").isNotNull()).select(
            "host", F.col("day").cast("string").alias("day"), "url",
            F.xxhash64("url").alias("h"),
        ).toPandas()
        j, r = hashing.jr_split(pdf["h"].to_numpy(), P_HOST_DAY)
        self.exact, self.direct = {}, {}
        for g, grain in [(FINE, ["host", "day"])] + list(enumerate(ROLLUP_SETS)):
            if grain:
                groups = pdf.groupby(grain, sort=True)
                codes, exact = groups.ngroup().to_numpy(), groups["url"].nunique()
                names = [k if isinstance(k, tuple) else (k,) for k in exact.index]
            else:
                codes, exact = np.zeros(len(pdf), dtype=np.int64), [pdf["url"].nunique()]
                names = [()]
            regs = np.zeros((len(names), 1 << P_HOST_DAY), dtype=np.uint8)
            np.maximum.at(regs, (codes, j), r)
            for name, n, e in zip(names, list(exact), hll.estimate(regs)):
                values = dict(zip(grain, name))
                key = _grain_key(g, values.get("host"), values.get("day"))
                self.exact[key], self.direct[key] = int(n), float(e)

    def commit_snapshot(self) -> None:
        """Build the week's (host, day) HLLL sketches, commit one unit per
        day, and gate the committed table: the latest manifest lists every
        day, every sketch decodes, its estimate equals the directly built
        registers' and lies within the accuracy gate of the exact count."""
        self.writer = io.SnapshotWriter(os.path.join(self.work, "snapshot"))
        built = agg.sketch_by(
            self.week(), "url", ["host", "day"], p=P_HOST_DAY, algo=ALGO_HOST_DAY
        ).persist()
        try:
            days = sorted(r["day"] for r in built.select("day").distinct().collect())
            for day in days:
                self.writer.write_unit(
                    built.where(F.col("day") == F.lit(day)), str(day)
                )
        finally:
            built.unpersist()
        rows = self.writer.read_committed(self.spark).collect()
        est = hll.estimate(np.stack([sketch.decode(bytes(r["sketch"])) for r in rows]))
        keys = [_grain_key(FINE, r["host"], r["day"]) for r in rows]
        fine = {k for k in self.exact if k[0] == FINE}
        failures = [
            k for k, e in zip(keys, est)
            if not (math.isclose(e, self.direct[k], rel_tol=EQUAL_REL_TOL)
                    and within_gate(e, self.exact[k], P_HOST_DAY))
        ]
        units = set(self.writer.latest_manifest()["units"])
        if (units != {str(d) for d in days} or len(days) != ROLLUP_DAYS
                or len(keys) != len(set(keys)) or set(keys) != fine or failures):
            raise AssertionError(
                f"committed snapshot failed its gate: {len(units)} units, "
                f"{len(keys)} sketches for {len(fine)} groups, "
                f"{len(failures)} estimates off"
            )
        self.sketch_rows = len(rows)
        self.read_bytes = float(np.mean([len(r["sketch"]) for r in rows]))

    def iterate(self, i: int):
        committed = self.writer.read_committed(self.spark)
        try:
            return agg.estimate_grouping_sets(
                committed, ROLLUP_SETS, algo=ALGO_HOST_DAY
            ).collect()
        finally:
            committed.unpersist()

    def check(self, i: int, result) -> dict:
        est = {
            _grain_key(r["grouping_set_id"], r["host"], r["day"]): r["distinct_estimate"]
            for r in result
        }
        grains = {k for k in self.exact if k[0] != FINE}
        ok = set(est) == grains and all(
            math.isclose(est[k], self.direct[k], rel_tol=EQUAL_REL_TOL)
            for k in est
        )
        errs = [rel_err(est[k], self.exact[k]) for k in est if k in self.exact]
        return {"ok": ok, "rel_err_max": max(errs), "sketch_bytes": self.read_bytes}


def _grain_key(gid: int, host, day) -> tuple:
    return (gid, host, str(day) if day is not None else None)


WORKLOADS = {w.name: w for w in (UrlsByLang, SketchRollup)}
