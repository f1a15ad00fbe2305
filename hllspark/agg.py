"""Spark-side sketch aggregation — the engine's core query operators.

Three physical implementations of the same logical aggregate, chosen by
``impl`` (all three produce byte-identical sketches for the same
(hash_mode, p); default resolution: 'jvm' when hllspark/jars/
hllspark-jvm.jar is on the session classpath, else 'sql'; farmhash parity
always routes to 'pandas'):

impl='jvm' — ObjectHashAggregate with a dense byte[m] register buffer
(java/src/hllspark/HllRegAggregator.java via hllspark.jvmagg): per input
row just hash + two shifts + clz + array max, no per-row map probe — the
same imperative-buffer strategy as Spark's built-in approx_count_distinct,
and measured at ~1x its throughput (vs ~3x slower for impl='sql').

impl='sql' (default) — everything hot stays in the JVM / whole-stage codegen:

    scan (column-pruned) -> [JVM] j = top-p bits of xxhash64(v),
                                  r = clz(hash<<p)+1   (bit-smear + bit_count,
                                  pure integer exprs — no UDF)
      -> groupBy(keys, j).agg(max(r))   # native HashAggregate: Catalyst does
                                        # map-side partial aggregation, so the
                                        # shuffle carries <= m rows per key per
                                        # map task regardless of input size
      -> groupBy(keys).applyInPandas(assemble)  # <= m tiny (j, r) rows per
                                        # group -> one serialized sketch row

    Measured ~66M rows/s on local[32] vs ~3M rows/s for the Arrow/pandas
    path — Python never touches row-scale data.

impl='pandas' — per-partition vectorized build via mapInPandas
(np.maximum.at scatter), one sketch row per (partition, key), then a
grouped-agg merge.  Required for hash_mode='farmhash' (reference parity —
the hash itself runs in numpy) and preferred when the key cardinality is so
high that keys x m native agg groups would blow the hash-aggregate state
(rule of thumb: #keys x 2^p > ~10M per executor).

Both implementations produce byte-identical sketches for the same
(hash_mode, p): they share the j/r derivation (hashing.jr_split twins the
SQL expression) and merging is an exact max.

Hash modes:
    'xxhash64'  — production default: hashing in the JVM (codegen'd).
    'farmhash'  — reference-parity (mkarppa/hyperlogloglog Hash.hpp):
                  farmhash::Fingerprint for ints / Hash64 for strings,
                  j = fibonacciHash top bits, r = clz(x)+1 — byte-identical
                  register states to the reference C++.
    'prehashed' — the column already holds 64-bit hashes (the reference's
                  'jr' benchmark path, measure.hpp:49-67).

Skew: with impl='sql', map-side partial aggregation absorbs hot keys by
construction.  With impl='pandas', each partition emits at most one row per
key, so reducer fan-in is bounded by #partitions; ``salt_buckets`` adds an
intermediate merge level for extreme partition counts (north_rule).

Reading stored sketches back (``merge_sketches``, ``estimate_grouping_sets``
/ ``sketch_rollup`` / ``sketch_cube``, ``with_estimate``): with the jar, the
JVM decodes the serialized bytes (java/src/hllspark/SketchCodec.java),
merges in the raw-register domain and estimates, so rollups and estimates
have no Python stage and ``merge_sketches`` has exactly one (the encode of
each output group).  Without it, the numpy codec runs in pandas UDFs.  Both
paths skip NULL sketches: an all-NULL group merges to NULL and estimates
0.0, and ``with_estimate`` of a NULL sketch is NULL.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    ByteType,
    DoubleType,
    IntegerType,
    LongType,
    ShortType,
)

from . import hll as _hll
from . import sketch as _sketch
from .hashing import farmhash64, fingerprint64, jr_from_hash, jr_split

_HASH_COL = "__hllspark_hash"
_J_COL = "__hllspark_j"
_R_COL = "__hllspark_r"
_SKETCH_COL = "sketch"
_GLOBAL_KEY = "__hllspark_g"


# ---------------------------------------------------------------------------
# hashing projections
# ---------------------------------------------------------------------------

def _hash_series_farmhash(s: pd.Series, int_dtype: bool = False) -> np.ndarray:
    """int_dtype=True: the SPARK column type is integral — Arrow hands an
    int column WITH nulls to pandas as float64, which would otherwise fall
    through to the string path and hash str("1.0") instead of the
    reference's Fingerprint(1) (Hash.hpp:27-30).  Callers that know the
    Spark schema pass the flag; values are integral by construction there."""
    if pd.api.types.is_integer_dtype(s.dtype):
        return fingerprint64(s.to_numpy().astype(np.int64).view(np.uint64))
    if int_dtype and pd.api.types.is_float_dtype(s.dtype):
        return fingerprint64(s.to_numpy().astype(np.int64).view(np.uint64))
    return farmhash64(s.astype("string").fillna("").to_numpy(dtype=object))


def _jr_columns_sql(v):
    """The JVM twin of hashing.jr_split: j = top p-bits (applied by caller),
    r = clz(v << p) + 1 via bit-smear + bit_count, with the w == 0 edge
    capped at 64 - p + 1 (see jr_split) — pure integer expressions, fully
    codegen'd."""

    def exprs(p: int):
        j = F.shiftrightunsigned(v, 64 - p)
        w0 = F.shiftleft(v, p)
        w = w0
        for s in (1, 2, 4, 8, 16, 32):
            w = w.bitwiseOR(F.shiftrightunsigned(w, s))
        r = F.when(w0 == 0, F.lit(64 - p + 1)).otherwise(
            F.lit(65) - F.bit_count(w)
        )
        return j, r

    return exprs


# ---------------------------------------------------------------------------
# impl='pandas': per-partition build
# ---------------------------------------------------------------------------

def _grouped_scatter_codes(
    codes: np.ndarray, k: int, hashes: np.ndarray, p: int, parity: bool
) -> np.ndarray:
    regs = np.zeros((k, 1 << p), dtype=np.uint8)
    j, r = (jr_from_hash if parity else jr_split)(hashes, p)
    np.maximum.at(regs, (codes, j), r)
    return regs


def _make_build_partials(keys: Sequence[str], p: int, algo: str, m_bits: int,
                         hash_mode: str, value_col: str,
                         int_dtype: bool = False):
    parity = hash_mode == "farmhash"

    def build_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[tuple, np.ndarray] = {}
        key_rows: dict[tuple, pd.DataFrame] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if parity:
                col = pdf[value_col]
                mask = col.notna().to_numpy()
                if not mask.all():
                    pdf = pdf.loc[mask]
                    col = pdf[value_col]
                if len(pdf) == 0:
                    continue
                hashes = _hash_series_farmhash(col, int_dtype)
            else:
                hashes = pdf[_HASH_COL].to_numpy().astype(np.int64).view(np.uint64)
            if keys:
                codes = pdf.groupby(list(keys), dropna=False, sort=False).ngroup().to_numpy()
                uniq_codes, first_idx = np.unique(codes, return_index=True)
                regs = _grouped_scatter_codes(codes, len(uniq_codes), hashes, p, parity)
                key_df = pdf[list(keys)].iloc[first_idx]
                for row_i, code in enumerate(uniq_codes):
                    kt = tuple(key_df.iloc[row_i])
                    if kt in acc:
                        np.maximum(acc[kt], regs[row_i], out=acc[kt])
                    else:
                        acc[kt] = regs[row_i]
                        key_rows[kt] = key_df.iloc[row_i : row_i + 1]
            else:
                regs = _grouped_scatter_codes(
                    np.zeros(len(hashes), dtype=np.int64), 1, hashes, p, parity
                )
                if () in acc:
                    np.maximum(acc[()], regs[0], out=acc[()])
                else:
                    acc[()] = regs[0]
        if not acc:
            return
        sketches = [_sketch.encode(regs, algo, m_bits) for regs in acc.values()]
        if keys:
            out = pd.concat([key_rows[kt] for kt in acc], ignore_index=True)
            out[_SKETCH_COL] = sketches
        else:
            out = pd.DataFrame({_SKETCH_COL: sketches})
        yield out

    return build_partials


# ---------------------------------------------------------------------------
# shared: merge / estimate / size UDFs
# ---------------------------------------------------------------------------

def _merge_buffers(series: pd.Series, algo: str, m_bits: int) -> bytes | None:
    """NULL sketches are skipped; a group with none left merges to NULL."""
    regs = [_sketch.decode(b) for b in series if b is not None]
    if not regs:
        return None
    return _sketch.encode(np.maximum.reduce(np.stack(regs)), algo, m_bits)


def merge_udaf(algo: str = "hll", m_bits: int = 3):
    """Pandas GROUPED_AGG UDF merging serialized sketches (register-wise max,
    reference HyperLogLog.hpp:124-131 / HyperLogLogLog.hpp:192-283)."""

    def _merge(s: pd.Series) -> bytes:
        return _merge_buffers(s, algo, m_bits)

    # (pd.Series) -> scalar type hints make Spark infer a GROUPED_AGG UDF
    return F.pandas_udf(_merge, BinaryType())


@F.pandas_udf(DoubleType())
def estimate_udf(s: pd.Series) -> pd.Series:
    """Scalar pandas UDF: serialized sketch -> distinct-count estimate; NULL
    for a NULL sketch (NaN becomes NULL on the way back to Arrow)."""
    out = np.full(len(s), np.nan)
    present = s.notna().to_numpy()
    if present.any():
        out[present] = _hll.estimate(
            np.stack([_sketch.decode(b) for b in s[present]])
        )
    return pd.Series(out)


@F.pandas_udf(LongType())
def bit_size_udf(s: pd.Series) -> pd.Series:
    """Scalar pandas UDF: serialized sketch -> reference bit-size metric."""
    return pd.Series([_sketch.bit_size(b) for b in s], dtype="int64")


# ---------------------------------------------------------------------------
# public operators
# ---------------------------------------------------------------------------

def _validate(p: int, algo: str, hash_mode: str, impl: str) -> None:
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    if algo not in ("hll", "hlll", "hllzstd"):
        raise ValueError(f"unknown sketch algo {algo!r}")
    if hash_mode not in ("xxhash64", "farmhash", "prehashed"):
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    if impl not in ("sql", "pandas", "jvm"):
        raise ValueError(f"unknown impl {impl!r}")
    if impl in ("sql", "jvm") and hash_mode == "farmhash":
        raise ValueError("farmhash parity mode requires impl='pandas'")


def _resolve_impl(df: DataFrame, hash_mode: str, impl: str | None) -> str:
    """Default physical plan: farmhash parity forces pandas; otherwise the
    JVM register aggregate when its jar is on this session's classpath
    (byte-identical to 'sql', ~3x faster builds — see hllspark.jvmagg),
    falling back to the pure-SQL plan."""
    if impl is not None:
        return impl
    if hash_mode == "farmhash":
        return "pandas"
    return "jvm" if _jvm_available(df) else "sql"


def _jvm_available(df: DataFrame) -> bool:
    from . import jvmagg

    return jvmagg.is_available(df.sparkSession)


def _key_schema(df: DataFrame, keys: Sequence[str]) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in keys
    )


def _seed_row(spark, algo: str, p: int, m_bits: int) -> DataFrame:
    return spark.createDataFrame(
        [(bytearray(_sketch.encode(_hll.empty(p), algo, m_bits)),)],
        f"{_SKETCH_COL} binary",
    )


_LONG_MIN = -(1 << 63)


def _r_from_minned_w(p: int):
    """Decode rank r from the min-aggregated sign-flipped shifted hash:
    r = clz(w) + 1 for w != 0, capped at 64 - p + 1 for w == 0 (jr_split's
    convention).  The cap keeps the decode monotone non-increasing in the
    unsigned w, so min_unsigned(w) decodes to exactly max(r)."""
    w0 = F.col("__w").bitwiseXOR(F.lit(_LONG_MIN))
    x = w0
    for s in (1, 2, 4, 8, 16, 32):
        x = x.bitwiseOR(F.shiftrightunsigned(x, s))
    return F.when(w0 == 0, F.lit(64 - p + 1)).otherwise(
        F.lit(65) - F.bit_count(x)
    )


def _maxed_registers_sql(df, value_col, keys, p, hash_mode):
    """scan -> JVM (j, w) projection -> native groupBy(keys, j).min(w) ->
    r from w on the <= #keys * m surviving rows.

    clz is monotonically decreasing in the unsigned value, so
    max(r) == clz(min_unsigned(v << p)) + 1: aggregating min over the
    sign-flipped shifted hash moves the whole bit-smear + bit_count r
    computation OFF the per-row hot path (it runs once per register after
    the aggregate).  Catalyst runs the aggregate as partial+final
    HashAggregate (map-side combine), so the shuffle is bounded by
    #keys * m rows per map task; per input row only hash + shift + xor +
    map-probe remain (~27% faster global builds, byte-identical results).
    """
    filtered = df.where(F.col(value_col).isNotNull())
    v = (
        F.xxhash64(F.col(value_col))
        if hash_mode == "xxhash64"
        else F.col(value_col).cast("long")
    )
    j = F.shiftrightunsigned(v, 64 - p)
    w = F.shiftleft(v, p).bitwiseXOR(F.lit(_LONG_MIN))  # unsigned-order key
    projected = filtered.select(*keys, j.alias(_J_COL), w.alias("__w"))
    agged = projected.groupBy(*keys, _J_COL).agg(F.min("__w").alias("__w"))
    return agged.select(*keys, _J_COL, _r_from_minned_w(p).alias(_R_COL))


def _estimate_expr(p: int):
    """The Flajolet'07 estimator (reference HyperLogLog.hpp:95-113) as a pure
    Spark SQL aggregate over maxed (j, r) register rows: registers absent
    from the group contribute 2^0 = 1 to the harmonic sum and count toward
    the zero-register total V.  Rows with r == 0 are treated as absent (only
    synthetic seed rows can carry r == 0)."""
    m = 1 << p
    present = F.col(_R_COL) > 0
    # coalesce: SUM over zero rows is NULL (empty global aggregate -> 0.0)
    cnt = F.coalesce(F.sum(F.when(present, 1).otherwise(0)), F.lit(0))
    z = F.coalesce(
        F.sum(F.when(present, F.pow(F.lit(0.5), F.col(_R_COL))).otherwise(0.0)),
        F.lit(0.0),
    )
    Z = z + (F.lit(float(m)) - cnt)
    E = F.lit(_hll.alpha(m) * m * m) / Z
    V = F.lit(m) - cnt
    small = (E <= F.lit(2.5 * m)) & (V > 0)
    large = E > F.lit(float((1 << 32) // 30))
    return (
        F.when(small, F.lit(float(m)) * F.log(F.lit(float(m)) / V))
        .when(large, F.lit(-(2.0**32)) * F.log(F.lit(1.0) - E / F.lit(2.0**32)))
        .otherwise(E)
    )


def _approx_distinct_sql(df, value_col, keys, p, hash_mode, estimate_col):
    """Estimate with ZERO Python in the plan: scan -> agg -> agg -> estimator
    expression.  Note: the harmonic sum is a float reduction, so the last
    ~1e-15 relative digits depend on partial-aggregation order; use the
    sketch path when byte-stable estimates are required."""
    maxed = _maxed_registers_sql(df, value_col, keys, p, hash_mode)
    est = _estimate_expr(p).alias(estimate_col)
    if not keys:
        return maxed.agg(est)  # agg with no groupBy: always exactly one row
    return maxed.groupBy(*keys).agg(est)


def _sketch_by_sql(df, value_col, keys, p, algo, m_bits, hash_mode):
    maxed = _maxed_registers_sql(df, value_col, keys, p, hash_mode)
    return _assemble_sketches(
        df.sparkSession, maxed, keys, _key_schema(df, keys), p, algo, m_bits
    )


def _encode_raw_udf(algo: str, m_bits: int):
    """Scalar pandas UDF: raw dense register bytes (JVM aggregate output)
    -> the engine's serialized sketch format; NULL stays NULL.  Runs over one
    row per group."""

    @F.pandas_udf(BinaryType())
    def _enc(s: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if b is None else _sketch.encode(
                    np.frombuffer(bytes(b), dtype=np.uint8), algo, m_bits
                )
                for b in s
            ]
        )

    return _enc


@F.pandas_udf(DoubleType())
def estimate_raw_udf(s: pd.Series) -> pd.Series:
    """Scalar pandas UDF: raw dense register bytes -> distinct estimate
    (same numpy estimator as estimate_udf, so jvm/sql/pandas paths agree)."""
    if len(s) == 0:
        return pd.Series([], dtype="float64")
    regs = np.stack([np.frombuffer(bytes(b), dtype=np.uint8) for b in s])
    return pd.Series(_hll.estimate(regs))


def _raw_registers_jvm(df, value_col, keys, p, hash_mode, key_encode=None):
    """scan -> JVM hash projection -> ObjectHashAggregate with a dense
    byte[m] register buffer (hllspark.jvmagg) -> one raw-register row per
    group.  Partial aggregation ships one m-byte buffer per (group, map
    task): the same shuffle shape as the reference's treeAggregate-style
    build and Spark's own HLL++ (no per-row (keys, j) map probe).

    key_encode='hash64': group on xxhash64 of each key instead of the key
    itself (the key value is carried to the output via FIRST over the
    group, where it is constant) — the hash-aggregate probe compares one
    long per key instead of hashing+comparing a string per row.  Measured
    1.3x at 20M rows x 100k string keys (PLANS.md §8); a 64-bit collision
    between two distinct keys would merge their groups, so this is opt-in
    and recommended only while #groups << 2^32 (p_collide ≈ K²/2^65).
    Dictionary-encoding via a broadcast-joined dim table was A/B'd and
    REJECTED: the per-row join probe costs more than the agg probe it
    replaces (3.0s vs 0.8s baseline, PLANS.md §8)."""
    from . import jvmagg

    filtered = df.where(F.col(value_col).isNotNull())
    v = (
        F.xxhash64(F.col(value_col))
        if hash_mode == "xxhash64"
        else F.col(value_col).cast("long")
    )
    regs = jvmagg.regs_agg_column(df.sparkSession, p, _HASH_COL).alias("__regs")
    if keys and key_encode == "hash64":
        hashed = [F.xxhash64(F.col(k)).alias(f"__gk{i}") for i, k in enumerate(keys)]
        projected = filtered.select(*hashed, *keys, v.alias(_HASH_COL))
        firsts = [F.first(k).alias(k) for k in keys]
        return (
            projected.groupBy(*[f"__gk{i}" for i in range(len(keys))])
            .agg(*firsts, regs)
            .drop(*[f"__gk{i}" for i in range(len(keys))])
        )
    projected = filtered.select(*keys, v.alias(_HASH_COL))
    if keys:
        return projected.groupBy(*keys).agg(regs)
    return projected.agg(regs)  # empty input -> zero() buffer == empty sketch


def _sketch_by_jvm(df, value_col, keys, p, algo, m_bits, hash_mode,
                   key_encode=None):
    built = _raw_registers_jvm(df, value_col, keys, p, hash_mode, key_encode)
    enc = _encode_raw_udf(algo, m_bits)
    return built.select(*keys, enc(F.col("__regs")).alias(_SKETCH_COL))


def _assemble_sketches(spark, maxed, keys, key_schema, p, algo, m_bits):
    """groupBy(keys).applyInPandas over maxed (j, r) rows — at most m tiny
    rows per group reach Python regardless of input size."""
    out_schema = (key_schema + ", " if key_schema else "") + f"{_SKETCH_COL} binary"
    group_cols = list(keys) if keys else [_GLOBAL_KEY]
    if not keys:
        # seed one (j=0, r=0) row so the assembly group exists even on empty
        # input (r=0 never survives a real max: r >= 1 by construction)
        maxed = maxed.withColumn(_GLOBAL_KEY, F.lit(1)).unionByName(
            spark.range(1).select(
                F.lit(1).alias(_GLOBAL_KEY),
                F.lit(0).cast("long").alias(_J_COL),
                F.lit(0).cast("integer").alias(_R_COL),
            )
        )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        regs = np.zeros(1 << p, dtype=np.uint8)
        # maximum (not assignment): the global seed row may duplicate j=0
        np.maximum.at(
            regs,
            pdf[_J_COL].to_numpy().astype(np.int64),
            pdf[_R_COL].to_numpy().astype(np.uint8),
        )
        out = pdf.iloc[:1][list(keys)].copy() if keys else pd.DataFrame(index=[0])
        out[_SKETCH_COL] = [_sketch.encode(regs, algo, m_bits)]
        return out

    assembled = maxed.groupBy(*group_cols).applyInPandas(assemble, schema=out_schema)
    if not keys:
        return assembled.select(_SKETCH_COL)
    return assembled


def _sketch_by_pandas(df, value_col, keys, p, algo, m_bits, hash_mode, salt_buckets):
    spark = df.sparkSession
    if hash_mode == "xxhash64":
        projected = df.where(F.col(value_col).isNotNull()).select(
            *keys, F.xxhash64(F.col(value_col)).alias(_HASH_COL)
        )
    elif hash_mode == "prehashed":
        projected = df.where(F.col(value_col).isNotNull()).select(
            *keys, F.col(value_col).cast("long").alias(_HASH_COL)
        )
    else:  # farmhash: raw values go to Python
        projected = df.select(*keys, value_col)

    key_schema = _key_schema(df, keys)
    out_schema = (key_schema + ", " if key_schema else "") + f"{_SKETCH_COL} binary"
    partials = projected.mapInPandas(
        _make_build_partials(
            keys, p, algo, m_bits, hash_mode, value_col,
            int_dtype=isinstance(
                df.schema[value_col].dataType,
                (ByteType, ShortType, IntegerType, LongType),
            ),
        ),
        schema=out_schema,
    )
    merge = merge_udaf(algo, m_bits)
    if not keys:
        seed = _seed_row(spark, algo, p, m_bits)
        return partials.unionByName(seed).agg(
            merge(F.col(_SKETCH_COL)).alias(_SKETCH_COL)
        )
    if salt_buckets and salt_buckets > 1:
        # 3-level tree: partial -> salted merge -> final (north_rule skew
        # handling: bounds fan-in per reducer to #partitions/buckets)
        salted = partials.withColumn(
            "__salt", F.spark_partition_id() % F.lit(salt_buckets)
        )
        mid = salted.groupBy(*keys, "__salt").agg(
            merge(F.col(_SKETCH_COL)).alias(_SKETCH_COL)
        )
        return mid.groupBy(*keys).agg(merge(F.col(_SKETCH_COL)).alias(_SKETCH_COL))
    return partials.groupBy(*keys).agg(merge(F.col(_SKETCH_COL)).alias(_SKETCH_COL))


def sketch_by(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] | None = None,
    p: int = 14,
    algo: str = "hll",
    m_bits: int = 3,
    hash_mode: str = "xxhash64",
    impl: str | None = None,
    salt_buckets: int = 0,
    key_encode: str | None = None,
) -> DataFrame:
    """Build one sketch of distinct ``value_col`` per group of ``keys``.

    Returns DataFrame[keys..., sketch binary].  Nulls in value_col are
    ignored (COUNT DISTINCT semantics); null group keys form a group.
    See module docstring for the two physical plans.

    key_encode='hash64' (jvm impl only): probe the grouped aggregate on
    xxhash64(key) longs instead of raw string keys — ~1.3x at 100k string
    keys; opt-in because a 64-bit key collision merges two groups (see
    _raw_registers_jvm).
    """
    keys = list(keys or [])
    impl = _resolve_impl(df, hash_mode, impl)
    _validate(p, algo, hash_mode, impl)
    if key_encode not in (None, "hash64"):
        raise ValueError(f"unknown key_encode {key_encode!r}")
    if key_encode and impl != "jvm":
        raise ValueError("key_encode='hash64' requires impl='jvm'")
    if impl == "jvm":
        return _sketch_by_jvm(
            df, value_col, keys, p, algo, m_bits, hash_mode, key_encode
        )
    if impl == "sql":
        return _sketch_by_sql(df, value_col, keys, p, algo, m_bits, hash_mode)
    return _sketch_by_pandas(
        df, value_col, keys, p, algo, m_bits, hash_mode, salt_buckets
    )


def merge_sketches(
    df: DataFrame,
    keys: Sequence[str] | None = None,
    sketch_col: str = _SKETCH_COL,
    algo: str = "hll",
    m_bits: int = 3,
) -> DataFrame:
    """Re-aggregate existing sketch rows to coarser grouping keys (sketch
    GROUP BY re-aggregation, e.g. per-day sketches -> per-month), output in
    format ``algo``.  NULL sketches are skipped; a group with none merges to
    NULL.

    With the jar: one JVM aggregate decodes and max-merges the input
    sketches (any format, p from the header), then one Python encode per
    output group.  Without it: a pandas GROUPED_AGG decodes, merges and
    encodes with the numpy codec.  Same bytes either way."""
    keys = list(keys or [])
    if _jvm_available(df):
        from . import jvmagg

        regs = jvmagg.sketch_merge_agg_column(df.sparkSession, sketch_col)
        merged = df.groupBy(*keys).agg(regs.alias(sketch_col))
        enc = _encode_raw_udf(algo, m_bits)
        return merged.select(*keys, enc(F.col(sketch_col)).alias(sketch_col))
    merge = merge_udaf(algo, m_bits)
    return df.groupBy(*keys).agg(merge(F.col(sketch_col)).alias(sketch_col))


def sketch_from_jr(
    df: DataFrame,
    j_col: str = "j",
    r_col: str = "r",
    keys: Sequence[str] | None = None,
    p: int = 14,
    algo: str = "hll",
    m_bits: int = 3,
) -> DataFrame:
    """Build sketches from pre-hashed (j, r) register-update pairs — the
    reference's `jr` datatype (measure.hpp:49-67; generated per
    inputgenerator.cpp:76-99), which benchmarks the data-structure layer
    with hashing factored out.  j must lie in [0, 2^p) and r in [0, 63];
    out-of-range or null pairs are dropped (the reference's PackedVector
    masks rather than checks — we filter so a corrupt pair cannot corrupt
    neighboring registers at assembly).
    Same bounded plan as the value path: native groupBy(keys, j).max(r)
    (map-side combine), then <= m rows per group assemble to sketch bytes.
    """
    keys = list(keys or [])
    _validate(p, algo, "prehashed", "sql")
    m = 1 << p
    in_range = (
        (F.col(j_col) >= 0)
        & (F.col(j_col) < m)
        & (F.col(r_col) >= 0)
        & (F.col(r_col) <= 63)
    )
    maxed = (
        df.where(F.col(j_col).isNotNull() & F.col(r_col).isNotNull() & in_range)
        .select(
            *keys,
            F.col(j_col).cast("long").alias(_J_COL),
            F.col(r_col).cast("integer").alias(_R_COL),
        )
        .groupBy(*keys, _J_COL)
        .agg(F.max(_R_COL).alias(_R_COL))
    )
    return _assemble_sketches(
        df.sparkSession, maxed, keys, _key_schema(df, keys), p, algo, m_bits
    )


def estimate_grouping_sets(
    df: DataFrame,
    sets: Sequence[Sequence[str]],
    sketch_col: str = _SKETCH_COL,
    algo: str = "hll",
    m_bits: int = 3,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """ROLLUP / CUBE / GROUPING SETS over sketch columns: re-aggregate an
    already-built fine-grain sketch table (output of ``sketch_by``) to
    every requested grouping set WITHOUT rescanning the base data — the
    sketch monoid makes coarser grains a merge of the fine rows, so at
    10^12-row scale the base table is read exactly once no matter how many
    grains are asked for (reference analogue: one merge() per pair,
    HyperLogLogLog.hpp:192-283, lifted to a lattice of grains).

    Each set must be a subset of the fine-grain keys present in ``df``.
    Output: union of all grains; keys absent from a grain are NULL;
    ``grouping_set_id`` is the index into ``sets``.  NULL sketches are
    skipped; a group with none estimates 0.0.

    Physical plan with the jar: Catalyst's native GROUPING SETS (Expand +
    one partial/final ObjectHashAggregate of SketchMergeEstimateAggregator,
    which decodes each fine sketch once, max-merges and estimates in the
    JVM) — one shuffle, one job, no Python stage, however many grains are
    asked for; grouping_id() maps back to ``grouping_set_id`` exactly as in
    ``approx_distinct_grouping_sets``.  ``algo``/``m_bits`` are unused
    there (no intermediate sketch is encoded).

    Fallback without the jar: the fine table is projected once per grain
    (absent keys masked to NULL) and unioned, then ONE pandas GROUPED_AGG
    merge over (grouping_set_id, keys...) and one estimate pass.  That path
    persists the fine table (lazy; skipped when the caller already
    persisted it) so the per-grain projections share one InMemoryRelation;
    its cache lifetime is the CALLER's — unpersist after materializing, or
    call ``spark.catalog.clearCache()`` between batches.
    """
    sets = [list(s) for s in sets]
    all_keys = _keys_union(sets)
    if _jvm_available(df):
        from . import jvmagg

        est = jvmagg.sketch_merge_est_agg_column(df.sparkSession, sketch_col)
        return _grouping_sets_agg(
            df, sets, all_keys, est.alias(estimate_col), estimate_col
        )
    from pyspark import StorageLevel

    if df.storageLevel == StorageLevel.NONE:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    dtypes = dict(df.dtypes)
    merge = merge_udaf(algo, m_bits)
    parts = []
    for gid, s in enumerate(sets):
        cols = [
            (F.col(k) if k in s else F.lit(None))
            .cast(dtypes.get(k, "string"))
            .alias(k)
            for k in all_keys
        ]
        parts.append(
            df.select(
                F.lit(gid).alias("grouping_set_id"), *cols, F.col(sketch_col)
            )
        )
    expanded = parts[0]
    for p_ in parts[1:]:
        expanded = expanded.unionByName(p_)
    merged = expanded.groupBy("grouping_set_id", *all_keys).agg(
        merge(F.col(sketch_col)).alias(sketch_col)
    )
    est = F.coalesce(estimate_udf(F.col(sketch_col)), F.lit(0.0))
    return merged.select("grouping_set_id", *all_keys, est.alias(estimate_col))


def _keys_union(sets: Sequence[Sequence[str]]) -> list[str]:
    keys: list[str] = []
    for s in sets:
        for k in s:
            if k not in keys:
                keys.append(k)
    return keys


def _grouping_sets_agg(df, sets, keys_union, agg_col, out_col) -> DataFrame:
    """Native GROUPING SETS (Expand + one aggregate) of ``agg_col`` over
    ``sets``, with grouping_id() (NULL-mask bitmap over ``keys_union``)
    mapped back to the positional ``grouping_set_id`` so genuine NULL key
    values cannot be confused with grain masking.  Each distinct set is
    aggregated once; a duplicated set gets one output row per position."""
    n = len(keys_union)
    gids: dict[int, list[int]] = {}  # mask -> positions in sets
    unique: list[list[str]] = []
    for g, s in enumerate(sets):
        mask = sum(1 << (n - 1 - i) for i, k in enumerate(keys_union) if k not in s)
        if mask not in gids:
            gids[mask] = []
            unique.append(s)
        gids[mask].append(g)
    grouped = df.groupingSets(
        [[F.col(k) for k in s] for s in unique], *[F.col(k) for k in keys_union]
    )
    out = grouped.agg(F.grouping_id().alias("__gmask"), agg_col)
    gid = F.lit(None).cast("array<int>")
    for mask, gs in gids.items():
        gid = F.when(
            F.col("__gmask") == mask, F.array(*[F.lit(g) for g in gs])
        ).otherwise(gid)
    return out.select(
        F.explode(gid).alias("grouping_set_id"), *keys_union, F.col(out_col)
    )


def sketch_rollup(
    df: DataFrame,
    keys: Sequence[str],
    sketch_col: str = _SKETCH_COL,
    algo: str = "hll",
    m_bits: int = 3,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """ROLLUP(k1, k2, ...) over sketch rows: (k1..kn), (k1..kn-1), ..., ()."""
    sets = [list(keys)[:i] for i in range(len(keys), -1, -1)]
    return estimate_grouping_sets(df, sets, sketch_col, algo, m_bits, estimate_col)


def approx_distinct_grouping_sets(
    df: DataFrame,
    value_col: str,
    sets: Sequence[Sequence[str]],
    p: int = 14,
    hash_mode: str = "xxhash64",
    impl: str | None = None,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """Distinct-count estimates for SEVERAL grouping sets in ONE base scan —
    the fused build+rollup query (same output schema as
    ``estimate_grouping_sets`` over a ``sketch_by`` table, for callers who
    want the estimates rather than the sketch rows themselves).

    impl='jvm' (default when the jar is available) runs with ZERO Python in
    the plan and exactly ONE base scan: Catalyst's native GROUPING SETS
    (Expand operator feeding a single partial+final ObjectHashAggregate of
    HllEstimateAggregator buffers).  The Expand amplifies rows #grains x
    BEFORE the partial aggregate, but the partial aggregate absorbs it
    map-side — the shuffle still carries at most (#grains x #fine-groups)
    m-byte buffers per map task, the same bounded shape as every other
    build here (reference merge/estimate: HyperLogLog.hpp:124-131/95-113).
    grouping_id() (NULL-mask bitmap over the grouping columns) is mapped
    back to the positional ``grouping_set_id`` so the output schema matches
    ``estimate_grouping_sets``, and genuine NULL key values cannot be
    confused with grain masking.  Other impls fall back to sketch_by +
    estimate_grouping_sets."""
    sets = [list(s) for s in sets]
    keys_union = _keys_union(sets)
    impl = _resolve_impl(df, hash_mode, impl)
    if impl != "jvm":
        sk = sketch_by(
            df, value_col, keys_union, p=p, hash_mode=hash_mode, impl=impl
        )
        return estimate_grouping_sets(sk, sets, estimate_col=estimate_col)
    from . import jvmagg

    _validate(p, "hll", hash_mode, impl)
    filtered = df.where(F.col(value_col).isNotNull())
    v = (
        F.xxhash64(F.col(value_col))
        if hash_mode == "xxhash64"
        else F.col(value_col).cast("long")
    )
    projected = filtered.select(*keys_union, v.alias(_HASH_COL))
    est = jvmagg.est_agg_column(df.sparkSession, p, _HASH_COL).alias(
        estimate_col
    )
    return _grouping_sets_agg(projected, sets, keys_union, est, estimate_col)


def approx_distinct_rollup(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    p: int = 14,
    hash_mode: str = "xxhash64",
    impl: str | None = None,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """ROLLUP(k1, ..., kn) distinct-count estimates from one base scan:
    grains (k1..kn), (k1..kn-1), ..., () — see approx_distinct_grouping_sets."""
    sets = [list(keys)[:i] for i in range(len(keys), -1, -1)]
    return approx_distinct_grouping_sets(
        df, value_col, sets, p, hash_mode, impl, estimate_col
    )


def approx_distinct_cube(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    p: int = 14,
    hash_mode: str = "xxhash64",
    impl: str | None = None,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """CUBE(k1, ..., kn) distinct-count estimates from one base scan: every
    subset of keys — see approx_distinct_grouping_sets."""
    from itertools import combinations

    keys = list(keys)
    sets = [
        list(c)
        for r in range(len(keys), -1, -1)
        for c in combinations(keys, r)
    ]
    return approx_distinct_grouping_sets(
        df, value_col, sets, p, hash_mode, impl, estimate_col
    )


def sketch_cube(
    df: DataFrame,
    keys: Sequence[str],
    sketch_col: str = _SKETCH_COL,
    algo: str = "hll",
    m_bits: int = 3,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """CUBE(k1, k2, ...) over sketch rows: every subset of keys."""
    from itertools import combinations

    keys = list(keys)
    sets = [
        list(c)
        for r in range(len(keys), -1, -1)
        for c in combinations(keys, r)
    ]
    return estimate_grouping_sets(df, sets, sketch_col, algo, m_bits, estimate_col)


def approx_distinct(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] | None = None,
    p: int = 14,
    algo: str = "hll",
    hash_mode: str = "xxhash64",
    impl: str | None = None,
    estimate_col: str = "distinct_estimate",
    key_encode: str | None = None,
    **kw,
) -> DataFrame:
    """Convenience: build + estimate. DataFrame[keys..., estimate double].

    With impl='sql' (default for JVM hash modes) the whole query — hashing,
    register max, and the Flajolet estimator — runs as native Spark SQL with
    no Python stage at all.  key_encode='hash64' (jvm impl only): see
    sketch_by."""
    keys = list(keys or [])
    impl = _resolve_impl(df, hash_mode, impl)
    if key_encode not in (None, "hash64"):
        raise ValueError(f"unknown key_encode {key_encode!r}")
    if key_encode and impl != "jvm":
        raise ValueError("key_encode='hash64' requires impl='jvm'")
    if impl == "jvm":
        # single ObjectHashAggregate finishing to the estimate in the JVM —
        # the exact plan shape of approx_count_distinct, zero Python
        from . import jvmagg

        _validate(p, algo, hash_mode, impl)
        filtered = df.where(F.col(value_col).isNotNull())
        v = (
            F.xxhash64(F.col(value_col))
            if hash_mode == "xxhash64"
            else F.col(value_col).cast("long")
        )
        est = jvmagg.est_agg_column(df.sparkSession, p, _HASH_COL).alias(
            estimate_col
        )
        if keys and key_encode == "hash64":
            hashed = [
                F.xxhash64(F.col(k)).alias(f"__gk{i}")
                for i, k in enumerate(keys)
            ]
            projected = filtered.select(*hashed, *keys, v.alias(_HASH_COL))
            firsts = [F.first(k).alias(k) for k in keys]
            return (
                projected.groupBy(*[f"__gk{i}" for i in range(len(keys))])
                .agg(*firsts, est)
                .drop(*[f"__gk{i}" for i in range(len(keys))])
            )
        projected = filtered.select(*keys, v.alias(_HASH_COL))
        if keys:
            return projected.groupBy(*keys).agg(est)
        return projected.agg(est)
    if impl == "sql":
        _validate(p, algo, hash_mode, impl)
        return _approx_distinct_sql(df, value_col, keys, p, hash_mode, estimate_col)
    sk = sketch_by(
        df, value_col, keys, p=p, algo=algo, hash_mode=hash_mode, impl=impl, **kw
    )
    return with_estimate(sk, estimate_col=estimate_col).select(*keys, estimate_col)


def approx_distinct_multi(
    df: DataFrame,
    value_cols: Sequence[str],
    keys: Sequence[str] | None = None,
    p: int = 14,
    estimate_prefix: str = "distinct_",
    impl: str | None = None,
) -> DataFrame:
    """Distinct-count estimates for SEVERAL columns in ONE scan of the
    input — at warehouse scale V separate approx_distinct calls cost V
    full passes.  Output: one row per key combination with a column per
    input column.

    impl='jvm' (default when available): V independent register aggregates
    run side by side in ONE HashAggregate over the scan — no row
    amplification at all; the shuffle carries V m-byte buffers per (group,
    map task).  impl='sql': projects all V hashes per row, posexplodes to
    (col_idx, w) (a V-fold row amplification before the partial aggregate
    — the price of staying fully declarative), and runs the same bounded
    min-aggregate, so the shuffle carries <= #keys * V * m rows per map
    task, then pivots JVM-side."""
    keys = list(keys or [])
    value_cols = list(value_cols)
    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    if impl == "pandas":  # explicit ask for a plan that does not exist
        raise ValueError("approx_distinct_multi has no pandas impl")
    impl = _resolve_impl(df, "xxhash64", impl)
    if impl == "pandas":  # resolved default (farmhash never lands here,
        impl = "sql"  # but keep the coercion for resolver changes)
    _validate(p, "hll", "xxhash64", impl)
    if impl == "jvm":
        from . import jvmagg

        # null mask BEFORE hashing: Spark's xxhash64(NULL) yields the seed
        # hash (would count null as a value); a null hash is skipped by the
        # aggregator, and an all-null column keeps its zero() buffer whose
        # estimate is 0.0, matching the sql path's coalesce
        projected = df.select(
            *keys,
            *[
                F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c))).alias(
                    f"__h{i}"
                )
                for i, c in enumerate(value_cols)
            ],
        )
        aggs = [
            jvmagg.est_agg_column(df.sparkSession, p, f"__h{i}").alias(
                f"{estimate_prefix}{c}"
            )
            for i, c in enumerate(value_cols)
        ]
        return (
            projected.groupBy(*keys).agg(*aggs) if keys else projected.agg(*aggs)
        )
    hashes = F.array(
        *[F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c))) for c in value_cols]
    )
    exploded = df.select(*keys, F.posexplode(hashes).alias("__ci", "__v")).where(
        F.col("__v").isNotNull()
    )
    v = F.col("__v")
    j = F.shiftrightunsigned(v, 64 - p)
    w = F.shiftleft(v, p).bitwiseXOR(F.lit(_LONG_MIN))
    agged = (
        exploded.select(*keys, F.col("__ci"), j.alias(_J_COL), w.alias("__w"))
        .groupBy(*keys, "__ci", _J_COL)
        .agg(F.min("__w").alias("__w"))
    )
    maxed = agged.select(*keys, "__ci", _J_COL, _r_from_minned_w(p).alias(_R_COL))
    per_col = maxed.groupBy(*keys, "__ci").agg(_estimate_expr(p).alias("__est"))
    pivoted = (
        per_col.groupBy(*keys)
        .pivot("__ci", list(range(len(value_cols))))
        .agg(F.first("__est"))
    )
    # coalesce: a column that is entirely null within a key group has no
    # register rows, so its pivot cell is NULL — report 0.0 distinct values
    renames = [
        F.coalesce(F.col(str(i)), F.lit(0.0)).alias(f"{estimate_prefix}{c}")
        for i, c in enumerate(value_cols)
    ]
    return pivoted.select(*keys, *renames)


def with_estimate(df: DataFrame, sketch_col: str = _SKETCH_COL,
                  estimate_col: str = "distinct_estimate") -> DataFrame:
    """Adds the distinct-count estimate of ``sketch_col`` (NULL for a NULL
    sketch): a JVM scalar UDF when the jar is available, else the numpy
    ``estimate_udf``."""
    if _jvm_available(df):
        from . import jvmagg

        est = jvmagg.sketch_estimate_column(df.sparkSession, sketch_col)
    else:
        est = estimate_udf(F.col(sketch_col))
    return df.withColumn(estimate_col, est)


def rolling_distinct(
    df: DataFrame,
    value_col: str,
    time_col: str,
    window: int,
    keys: Sequence[str] | None = None,
    bucket: str = "day",
    p: int = 14,
    hash_mode: str = "xxhash64",
    impl: str | None = None,
    estimate_col: str = "distinct_estimate",
) -> DataFrame:
    """Trailing-window distinct-count estimates over event time — the
    "7-day rolling distinct users per day" query — from ONE base scan.

    For every bucket present in the data (per ``keys`` group), estimates
    distinct ``value_col`` over the ``window`` buckets ending at it
    (inclusive; head buckets get partial windows, matching SQL
    ``BETWEEN end - (window-1) AND end`` semantics).  ``bucket`` is
    'day' or 'hour'; returns DataFrame[keys..., window_end, estimate].

    Plan (merge-reuse, not re-scan): one sketch build per (keys, bucket)
    grain — the identical bounded build as sketch_by — then each bucket's
    registers are exploded to the <= ``window`` window-ends they
    contribute to and re-merged per end (reference merge semantics:
    HyperLogLog.hpp:124-131 — a window union is a register max, so the
    base table is scanned once no matter how many windows overlap).  The
    re-merge shuffle carries at most #groups x #buckets x window m-byte
    buffers with map-side partial merging; ends that exist in the data
    are taken from the built grain itself (broadcast semi-join), so no
    second base scan.  impl='jvm' keeps the whole pipeline zero-Python
    (raw byte[m] buffers end-to-end); other impls reuse the pandas merge
    UDAF over serialized sketches."""
    keys = list(keys or [])
    if window < 1:
        raise ValueError("window must be >= 1")
    if bucket == "day":
        bexpr = F.to_date(F.col(time_col))
        seq = F.expr(
            f"sequence(__bucket, date_add(__bucket, {window - 1}))"
        )
    elif bucket == "hour":
        bexpr = F.date_trunc("hour", F.col(time_col))
        seq = F.expr(
            f"sequence(__bucket, __bucket + make_interval(0,0,0,0,{window - 1}),"
            f" interval 1 hour)"
        )
    else:
        raise ValueError(f"unknown bucket {bucket!r} (use 'day' or 'hour')")
    impl = _resolve_impl(df, hash_mode, impl)
    _validate(p, "hll", hash_mode, impl)
    df2 = df.withColumn("__bucket", bexpr)
    if impl == "jvm":
        built = _raw_registers_jvm(
            df2, value_col, [*keys, "__bucket"], p, hash_mode
        )
    else:
        built = sketch_by(
            df2, value_col, [*keys, "__bucket"], p=p,
            hash_mode=hash_mode, impl=impl,
        ).withColumnRenamed(_SKETCH_COL, "__regs")
    # The window-end list is derived from the built grain itself, which
    # Spark executes as a separate job to plan the broadcast; persist the
    # (tiny: #groups x #buckets sketch rows) built table so the base scan
    # runs once and the broadcast job reads the cached result (Spark's
    # ContextCleaner evicts the block once the plan is unreachable).
    built = built.persist()
    ends = built.select(F.col("__bucket").alias("window_end")).distinct()
    contrib = built.withColumn("window_end", F.explode(seq)).drop("__bucket")
    covered = contrib.join(F.broadcast(ends), "window_end", "leftsemi")
    grouped = covered.groupBy(*keys, "window_end")
    if impl == "jvm":
        from . import jvmagg

        out = grouped.agg(
            jvmagg.merge_est_agg_column(df.sparkSession, p, "__regs").alias(
                estimate_col
            )
        )
    else:
        merge = merge_udaf("hll", 3)
        out = grouped.agg(merge(F.col("__regs")).alias("__regs")).withColumn(
            estimate_col, estimate_udf(F.col("__regs"))
        ).drop("__regs")
    return out.orderBy(*keys, "window_end")


def overlap_udf():
    """Set-operation estimates from two sketch columns (Arrow-batched):
    union native via register max; intersection by inclusion-exclusion
    (error caveat in hll.overlap_estimates).  Factory: struct return types
    need an active session to parse, so the UDF is built lazily."""

    @F.pandas_udf(
        "struct<a:double,b:double,union:double,intersection:double,jaccard:double>"
    )
    def _overlap(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        rows = [
            _hll.overlap_estimates(_sketch.decode(x), _sketch.decode(y))
            for x, y in zip(a, b)
        ]
        return pd.DataFrame(rows)

    return _overlap


def with_overlap(
    df: DataFrame,
    sketch_a: str,
    sketch_b: str,
    out_col: str = "overlap",
) -> DataFrame:
    """Adds a struct column {a, b, union, intersection, jaccard} estimated
    from two sketch columns — e.g. join per-day sketch tables on a key and
    estimate day-over-day distinct-user overlap without touching raw data."""
    return df.withColumn(out_col, overlap_udf()(F.col(sketch_a), F.col(sketch_b)))
