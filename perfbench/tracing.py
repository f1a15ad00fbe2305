"""Spans, Spark REST attribution, the layer ladder and the codec ladder.

Everything here measures hllspark from outside: spans wrap calls into the
repo's public functions, each span sets a Spark job group, and Spark's own
stage and SQL metrics are attributed to spans through those groups after
the run (``/api/v1`` of the driver UI).
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager

import numpy as np
import pyspark.sql.functions as F

from hllspark import agg, hll, hlll, io, jvmagg, sketch

LADDER_REPS = 3
CODEC_SAMPLES = 2000
CODECS = ("hll", "hlll", "hllzstd")


class Tracer:
    """In-memory spans; each span owns a Spark job group named after it."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        rec = {
            "span_id": self._next,
            "name": name,
            "trace_id": trace_id or (parent["trace_id"] if parent else name),
            "parent": parent["span_id"] if parent else None,
            "group": f"pb-{self._next}",
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name, False)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


# ---------------------------------------------------------------------------
# Spark REST: stage and SQL metrics per job group
# ---------------------------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_SQL_METRICS = {
    "number of sort fallback tasks": "sort_fallback_tasks",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def parse_sql_metric(value: str) -> float:
    """'6.4 s', '2.5 MiB', '42,636' or 'total (min, med, max ...)\\n6.4 s (...)'."""
    text = value.split("\n", 1)[1] if value.startswith("total") else value
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1)


def _rest(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def collect_engine_metrics(spark) -> dict[str, dict]:
    """Per job group: summed stage metrics, SQL node metrics, plan counts."""
    sc = spark.sparkContext
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = _rest(sc, "jobs")
    stages = {}
    for st in _rest(sc, "stages"):
        stages.setdefault(st["stageId"], []).append(st)
    group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
    out: dict[str, dict] = {}

    def bucket(group):
        return out.setdefault(group, {
            "spark.executor_run_s": 0.0, "spark.executor_cpu_s": 0.0,
            "spark.gc_s": 0.0, "spark.shuffle_write_bytes": 0,
            "spark.shuffle_read_bytes": 0, "spark.input_bytes": 0,
            "spark.spill_bytes": 0, "spark.tasks": 0, "spark.tasks_failed": 0,
            "sort_fallback_tasks": 0, "python.boot_s": 0.0,
            "python.init_s": 0.0, "python.run_s": 0.0, "python.bytes_sent": 0,
            "python.bytes_received": 0, "python.rows_received": 0,
            "plan.python_nodes": 0, "plan.exchanges": 0, "sql_executions": 0,
        })

    for j in jobs:
        g = j.get("jobGroup")
        if not g:
            continue
        b = bucket(g)
        for sid in j["stageIds"]:
            for st in stages.get(sid, []):
                b["spark.executor_run_s"] += st["executorRunTime"] / 1e3
                b["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                b["spark.gc_s"] += st["jvmGcTime"] / 1e3
                b["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                b["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
                b["spark.input_bytes"] += st["inputBytes"]
                b["spark.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                b["spark.tasks"] += st["numCompleteTasks"]
                b["spark.tasks_failed"] += st["numFailedTasks"]
    for ex in _rest(sc, "sql?details=true&planDescription=false&length=100000"):
        job_ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        groups = {group_of_job.get(j) for j in job_ids} - {None}
        if len(groups) != 1:
            continue
        b = bucket(groups.pop())
        b["sql_executions"] += 1
        for node in ex.get("nodes", []):
            name = node["nodeName"]
            python = bool(_PYTHON_NODE.search(name))
            b["plan.python_nodes"] += python
            b["plan.exchanges"] += name.endswith("Exchange")
            for m in node.get("metrics", []):
                key = _SQL_METRICS.get(m["name"])
                if key:
                    b[key] += parse_sql_metric(m["value"])
                elif python and m["name"] == "number of output rows":
                    b["python.rows_received"] += parse_sql_metric(m["value"])
    for b in out.values():
        b["spark.wait_s"] = b["spark.executor_run_s"] - b["spark.executor_cpu_s"]
    return out


def sum_groups(per_group: dict[str, dict], groups) -> dict:
    total: dict = {}
    for g in groups:
        for k, v in per_group.get(g, {}).items():
            total[k] = total.get(k, 0) + v
    return total


# ---------------------------------------------------------------------------
# the layer ladder: one Spark action per rung on the workload's own input
# ---------------------------------------------------------------------------

def _lengths(df, cols):
    """sum of byte lengths: touches every value, so no column is pruned,
    at the least cost a value can have (octet_length is O(1) per value)."""
    total = None
    for c in cols:
        term = F.sum(F.octet_length(F.col(c)))
        total = term if total is None else total + term
    return df.agg(total.alias("n"))


def run_ladder(tracer: Tracer, workload, work: str) -> list[dict]:
    """Rungs, each containing the one below it where Spark's laziness
    allows: scan -> hash (b0) -> register build (jvmagg) -> build+encode
    (agg.sketch_by) -> commit (io.write_unit of a materialized frame) ->
    read (io.read_committed) -> merge (agg.merge_sketches) -> merge +
    estimate (agg.estimate_grouping_sets)."""
    spark = workload.spark
    src = workload.ladder_input()
    keys, p, algo = workload.keys, workload.p, workload.algo
    writer = io.SnapshotWriter(f"{work}/ladder")

    def regs():
        hashed = src.where(F.col("url").isNotNull()).select(
            *keys, F.xxhash64("url").alias("__h")
        )
        built = hashed.groupBy(*keys).agg(
            jvmagg.regs_agg_column(spark, p, "__h").alias("__regs")
        )
        return _lengths(built, ["__regs"])

    def built():
        return agg.sketch_by(src, "url", keys, p=p, algo=algo)

    def merged():
        parts = [
            agg.merge_sketches(writer.read_committed(spark), s, algo=algo)
            .select(F.length("sketch").alias("n"))
            for s in workload.merge_sets
        ]
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part)
        return out.agg(F.sum("n"))

    def estimated():
        committed = writer.read_committed(spark)
        est = agg.estimate_grouping_sets(committed, workload.merge_sets, algo=algo)
        try:
            return est.agg(F.sum("distinct_estimate")).collect()
        finally:
            committed.unpersist()

    results = _time_rungs(tracer, [
        ("io.scan", lambda: _lengths(src, ["url"]).collect()),
        ("hashing.hash", lambda: src.agg(F.max(F.xxhash64("url"))).collect()),
        ("jvmagg.build", lambda: regs().collect()),
        ("agg.encode", lambda: _lengths(built(), ["sketch"]).collect()),
    ])

    # commit: one write_unit per unit of an already-materialized frame
    frame = built().persist()
    units: list = []
    try:
        with tracer.span("io.materialize"):
            frame.count()
        unit_col = "day" if "day" in keys else None
        values = (
            [r[0] for r in frame.select(unit_col).distinct().collect()]
            if unit_col else ["all"]
        )
        samples = []
        for v in sorted(values):
            part = frame.where(F.col(unit_col) == F.lit(v)) if unit_col else frame
            with tracer.span("io.commit") as s:
                writer.write_unit(part, str(v))
            samples.append(s["end"] - s["start"])
            units.append(s["span_id"])
    finally:
        frame.unpersist()
    results.append({"rung": "io.commit", "s": statistics.median(samples),
                    "samples": samples, "span_ids": units})
    results += _time_rungs(tracer, [
        ("io.read",
         lambda: _lengths(writer.read_committed(spark), ["sketch"]).collect()),
        ("agg.merge", lambda: merged().collect()),
        ("agg.estimate", estimated),
    ])
    bytes_per = (
        writer.read_committed(spark).agg(F.avg(F.length("sketch"))).collect()[0][0]
    )
    results.append({"rung": "io.bytes_per_sketch", "value": float(bytes_per)})
    return results


def _time_rungs(tracer: Tracer, rungs) -> list[dict]:
    """LADDER_REPS rounds over the rungs, so drift reaches every rung alike;
    the median per rung."""
    out = [{"rung": name, "samples": [], "span_ids": []} for name, _ in rungs]
    for _ in range(LADDER_REPS):
        for rec, (name, action) in zip(out, rungs):
            with tracer.span(name) as s:
                action()
            rec["samples"].append(s["end"] - s["start"])
            rec["span_ids"].append(s["span_id"])
    for rec in out:
        rec["s"] = statistics.median(rec["samples"])
    return out


# ---------------------------------------------------------------------------
# codec ladder: driver-side calls over the workload's own register states
# ---------------------------------------------------------------------------

def register_states(workload) -> list[np.ndarray]:
    """Raw registers of the workload's groups (at most CODEC_SAMPLES
    groups, 2^p bytes each, so the collect is bounded)."""
    spark = workload.spark
    src = workload.ladder_input().where(F.col("url").isNotNull())
    keys, p = workload.keys, workload.p
    built = src.select(*keys, F.xxhash64("url").alias("__h")).groupBy(*keys).agg(
        jvmagg.regs_agg_column(spark, p, "__h").alias("__regs")
    )
    rows = built.orderBy(*keys).limit(CODEC_SAMPLES).select("__regs").collect()
    return [np.frombuffer(bytes(r[0]), dtype=np.uint8) for r in rows]


def _timed_us(fn, arg):
    t = time.perf_counter_ns()
    out = fn(arg)
    return (time.perf_counter_ns() - t) / 1e3, out


def _pct(values, q):
    return float(np.percentile(np.asarray(values), q))


def run_codec_ladder(states: list[np.ndarray]) -> dict:
    """Per-call µs for encode/decode per codec, estimate, merge and
    choose_base; bytes and reference bits per codec; size ratios vs 6m."""
    n = CODEC_SAMPLES
    picks = [states[i % len(states)] for i in range(n)]
    m = picks[0].shape[0]
    out: dict = {"samples": n, "distinct_states": len(states), "m": m}
    for codec in CODECS:
        enc_us, dec_us, nbytes, bits = [], [], [], []
        for M in picks:
            us, blob = _timed_us(lambda x: sketch.encode(x, codec), M)
            enc_us.append(us)
            us, back = _timed_us(sketch.decode, blob)
            dec_us.append(us)
            if not np.array_equal(back, M):
                raise AssertionError(f"{codec} round trip changed registers")
            nbytes.append(len(blob))
            bits.append(sketch.bit_size(blob))
        for kind, vals in (("encode_us", enc_us), ("decode_us", dec_us)):
            out[f"sketch.{kind}.{codec}.p50"] = _pct(vals, 50)
            out[f"sketch.{kind}.{codec}.p99"] = _pct(vals, 99)
        out[f"sketch.bytes.{codec}"] = float(np.mean(nbytes))
        out[f"sketch.bits.{codec}"] = float(np.mean(bits))
    hll_bits = 6 * m
    out["sketch.hlll_vs_hll_bits"] = out["sketch.bits.hlll"] / hll_bits
    out["sketch.zstd_vs_hll_bits"] = out["sketch.bits.hllzstd"] / hll_bits
    est_us, merge_us, base_us, bases = [], [], [], []
    for i, M in enumerate(picks):
        us, _ = _timed_us(hll.estimate, M)
        est_us.append(us)
        other = picks[(i + 1) % n]
        us, _ = _timed_us(lambda x: hll.merge(x, other), M)
        merge_us.append(us)
        us, (base, _) = _timed_us(hlll.choose_base, M)
        base_us.append(us)
        bases.append(base)
    out["hll.estimate_us.p50"] = _pct(est_us, 50)
    out["hll.estimate_us.p99"] = _pct(est_us, 99)
    out["hll.merge_us.p50"] = _pct(merge_us, 50)
    out["hlll.choose_base_us.p50"] = _pct(base_us, 50)
    out["hlll.base.p50"] = _pct(bases, 50)
    out["hlll.base.min"] = int(min(bases))
    out["hlll.base.max"] = int(max(bases))
    return out
