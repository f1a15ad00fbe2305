"""The JVM sketch codec (java/src/hllspark/SketchCodec.java) and the
operators routed through it: decode parity with hllspark.sketch.decode,
loud failures on malformed blobs, NULL semantics shared with the numpy
fallback, plan shapes, and a guard that the committed jar is not stale.
"""

import glob
import os
import struct
import zipfile

import numpy as np
import pytest
from pyspark.errors import IllegalArgumentException

from hllspark import agg, hll, jvmagg, sketch

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_jar_has_every_java_class():
    """The committed jar must contain every top-level class under java/src:
    a source edit without `sh java/build.sh` would otherwise ship a jar that
    lacks (or runs an old version of) the class."""
    srcs = glob.glob(os.path.join(_REPO, "java", "src", "hllspark", "*.java"))
    assert srcs
    with zipfile.ZipFile(jvmagg.jar_path()) as jar:
        names = set(jar.namelist())
    missing = [
        os.path.basename(s)
        for s in srcs
        if f"hllspark/{os.path.basename(s)[:-5]}.class" not in names
    ]
    assert not missing, f"rebuild with java/build.sh; jar lacks {missing}"


@pytest.fixture
def jvm(spark):
    if not jvmagg.is_available(spark):
        pytest.skip("hllspark-jvm.jar not on session classpath")
    return spark._jvm.hllspark.SketchCodec


def _jdecode(codec, blob: bytes) -> np.ndarray:
    return np.frombuffer(bytes(codec.decode(bytearray(blob))), dtype=np.uint8)


def _regs(rng, p, lo, hi, nonzero=None):
    m = 1 << p
    M = rng.integers(lo, hi, m).astype(np.uint8)
    if nonzero is not None:  # sparse: only a few registers set
        M[:] = 0
        M[rng.choice(m, nonzero, replace=False)] = rng.integers(1, 40, nonzero)
    return M


def _cases(p):
    rng = np.random.default_rng(p)
    dense = _regs(rng, p, 0, 30)
    sparse = _regs(rng, p, 0, 1, nonzero=3)
    based = _regs(rng, p, 9, 15)  # HLLL base > 0 ...
    based[rng.choice(1 << p, 3, replace=False)] = [0, 40, 63]  # ... + exceptions
    v1 = bytearray(sketch.encode(dense, "hll"))
    v1[4] = 1  # version-1 header: same dense payload
    return [
        ("hll-dense", dense, sketch.encode(dense, "hll")),
        ("hll-sparse", sparse, sketch.encode(sparse, "hll")),
        ("hll-v1", dense, bytes(v1)),
        ("hlll", dense, sketch.encode(dense, "hlll")),
        ("hlll-base-exc", based, sketch.encode(based, "hlll", m_bits=2)),
        ("hlll-sparse", sparse, sketch.encode(sparse, "hlll")),
        ("hllzstd", dense, sketch.encode(dense, "hllzstd")),
    ]


@pytest.mark.parametrize("p", [4, 12, 18])
def test_jvm_decode_parity(jvm, p):
    for name, M, blob in _cases(p):
        if name == "hll-sparse":
            assert blob[7] == 1, "fixture must take the sparse HLL payload"
        if name == "hlll-base-exc":
            base, ns = struct.unpack_from("<BI", blob, 8)
            assert base > 0 and ns > 0, "fixture must have a base and exceptions"
        want = sketch.decode(blob)
        np.testing.assert_array_equal(want, M, err_msg=name)
        np.testing.assert_array_equal(_jdecode(jvm, blob), want, err_msg=name)


def _fails(codec, blob: bytes) -> str:
    # PySpark converts exactly java.lang.IllegalArgumentException to this
    with pytest.raises(IllegalArgumentException) as ei:
        codec.decode(bytearray(blob))
    return str(ei.value)


def _patched(blob: bytes, at: int, value: int) -> bytes:
    b = bytearray(blob)
    b[at] = value
    return bytes(b)


def test_jvm_decode_rejects_malformed(jvm):
    cases = {name: blob for name, _, blob in _cases(12)}
    dense = cases["hll-dense"]
    assert "bad magic" in _fails(jvm, b"XLSK" + dense[4:])
    assert "unknown version 3" in _fails(jvm, _patched(dense, 4, 3))
    assert "unknown algo id 9" in _fails(jvm, _patched(dense, 5, 9))
    assert "p=3 outside [4, 18]" in _fails(jvm, _patched(dense, 6, 3))
    assert "p=19 outside [4, 18]" in _fails(jvm, _patched(dense, 6, 19))
    assert "truncated header" in _fails(jvm, dense[:5])
    for name, what in [("hll-dense", "dense HLL"), ("hll-sparse", "sparse HLL"),
                       ("hlll-base-exc", "HLLL")]:
        blob = cases[name]
        assert f"truncated {what} payload" in _fails(jvm, blob[:-1]), name
        assert f"truncated {what} payload" in _fails(jvm, blob[:10]), name
    assert "zstd" in _fails(jvm, cases["hllzstd"][:-3])


def test_jvm_merge_rejects_mixed_p_in_group(spark, jvm):
    rng = np.random.default_rng(3)
    a = sketch.encode(_regs(rng, 10, 0, 20), "hll")
    b = sketch.encode(_regs(rng, 12, 0, 20), "hlll")
    df = spark.createDataFrame(
        [(0, bytearray(a)), (0, bytearray(b))], "k int, sketch binary"
    )
    for parts in (1, 2):  # in one task (reduce) and across tasks (merge)
        with pytest.raises(Exception, match="different precision"):
            agg.estimate_grouping_sets(df.repartition(parts), [["k"]]).collect()


def _null_fixture(spark):
    rng = np.random.default_rng(11)
    a = sketch.encode(_regs(rng, 8, 0, 12), "hlll")
    b = sketch.encode(_regs(rng, 8, 0, 12), "hlll")
    rows = [(0, a), (0, None), (1, None), (1, None), (2, b)]
    df = spark.createDataFrame(
        [(k, None if s is None else bytearray(s)) for k, s in rows],
        "k int, sketch binary",
    )
    return df, a, b


def _null_semantics(df):
    merged = {
        r["k"]: None if r["sketch"] is None else bytes(r["sketch"])
        for r in agg.merge_sketches(df, ["k"], algo="hlll").collect()
    }
    all_null = agg.merge_sketches(df.where("k = 1")).collect()
    rolled = {
        (r["grouping_set_id"], r["k"]): r["distinct_estimate"]
        for r in agg.estimate_grouping_sets(df, [["k"], []]).collect()
    }
    null_est = sorted(
        r["k"] for r in agg.with_estimate(df).collect()
        if r["distinct_estimate"] is None
    )
    return merged, [r["sketch"] for r in all_null], rolled, null_est


def test_null_sketches_same_on_jvm_and_fallback(spark, monkeypatch):
    """NULL sketches are skipped; an all-NULL group merges to NULL and
    estimates 0.0; with_estimate of NULL is NULL — on both paths."""
    df, a, b = _null_fixture(spark)
    both = hll.estimate(np.maximum(sketch.decode(a), sketch.decode(b)))
    expect = (
        {0: a, 1: None, 2: b},
        [None],
        {(0, 0): hll.estimate(sketch.decode(a)), (0, 1): 0.0,
         (0, 2): hll.estimate(sketch.decode(b)), (1, None): both},
    )
    results = {}
    paths = ["fallback"]
    if jvmagg.is_available(spark):
        paths.append("jvm")
    for path in paths:
        with monkeypatch.context() as mp:
            if path == "fallback":
                mp.setattr(jvmagg, "is_available", lambda s: False)
            results[path] = _null_semantics(df)
        merged, all_null, rolled, null_est = results[path]
        assert merged == expect[0], path
        assert all_null == expect[1], path
        assert set(rolled) == set(expect[2]), path
        for k, v in expect[2].items():
            assert rolled[k] == pytest.approx(v, rel=1e-12), (path, k)
        assert null_est == [0, 1, 1], path
    if len(results) == 2:
        assert results["jvm"][0] == results["fallback"][0]


def _final_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "AggregateInPandas",
             "FlatMapGroupsInPandas")


def test_plans_have_no_python_stage(spark, jvm):
    ev = spark.createDataFrame(
        [(i % 3, i % 2, i) for i in range(200)], "a int, b int, v long"
    )
    fine = agg.sketch_by(ev, "v", ["a", "b"], p=8, algo="hlll")
    fine = spark.createDataFrame(fine.collect(), fine.schema)  # stored sketches
    for name, out in [
        ("estimate_grouping_sets",
         agg.estimate_grouping_sets(fine, [["a"], ["b"], []])),
        ("sketch_rollup", agg.sketch_rollup(fine, ["a", "b"])),
        ("sketch_cube", agg.sketch_cube(fine, ["a", "b"])),
        ("with_estimate", agg.with_estimate(fine)),
    ]:
        plan = _final_plan(out)
        assert not [n for n in _PY_NODES if n in plan], (name, plan)
    plan = _final_plan(agg.merge_sketches(fine, ["a"], algo="hlll"))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "AggregateInPandas" not in plan, plan


def test_jvm_merge_byte_identical_to_fallback(spark, monkeypatch):
    """Format conversion through merge_sketches: the JVM decode + numpy
    encode path writes the same bytes as the pandas GROUPED_AGG."""
    if not jvmagg.is_available(spark):
        pytest.skip("hllspark-jvm.jar not on session classpath")
    ev = spark.createDataFrame(
        [(i % 5, i % 7, i * 7919) for i in range(3000)], "a int, b int, v long"
    )
    fine = agg.sketch_by(ev, "v", ["a", "b"], p=10, algo="hllzstd")

    def run():
        out = {}
        for algo in ("hll", "hlll", "hllzstd"):
            for r in agg.merge_sketches(fine, ["a"], algo=algo).collect():
                out[(algo, r["a"])] = bytes(r["sketch"])
        return out

    jvm_out = run()
    monkeypatch.setattr(jvmagg, "is_available", lambda s: False)
    assert jvm_out == run()
    direct = agg.sketch_by(ev, "v", ["a"], p=10, algo="hlll").collect()
    for r in direct:
        assert jvm_out[("hlll", r["a"])] == bytes(r["sketch"])


def test_duplicate_grouping_sets_one_row_per_position(spark, monkeypatch):
    """A set listed twice is aggregated once but reported under both of its
    positions, on the native GROUPING SETS path and the fallback alike."""
    ev = spark.createDataFrame(
        [(i % 3, i % 2, i) for i in range(300)], "a int, b int, v long"
    )
    sets = [["a"], [], ["a"], ["b"]]
    fine = agg.sketch_by(ev, "v", ["a", "b"], p=8)

    def rows(out):
        return sorted(
            (r["grouping_set_id"], r["a"] if r["a"] is not None else -1,
             r["b"] if r["b"] is not None else -1, r["distinct_estimate"])
            for r in out.collect()
        )

    got = rows(agg.estimate_grouping_sets(fine, sets))
    assert [g for g, *_ in got].count(0) == 3 and [g for g, *_ in got].count(2) == 3
    assert [r[1:] for r in got if r[0] == 0] == [r[1:] for r in got if r[0] == 2]
    if jvmagg.is_available(spark):
        fused = rows(agg.approx_distinct_grouping_sets(ev, "v", sets, p=8))
        assert [r[:3] for r in fused] == [r[:3] for r in got]
        assert all(f[3] == pytest.approx(g[3], rel=1e-12) for f, g in zip(fused, got))
    monkeypatch.setattr(jvmagg, "is_available", lambda s: False)
    fallback = rows(agg.estimate_grouping_sets(fine, sets))
    assert [r[:3] for r in fallback] == [r[:3] for r in got]
    assert all(f[3] == pytest.approx(g[3], rel=1e-12) for f, g in zip(fallback, got))
