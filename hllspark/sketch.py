"""Binary sketch serialization — the wire/checkpoint format.

In flight (inside UDFs) sketches are plain ``uint8[m]`` register arrays;
this module defines the deterministic byte encoding used whenever a sketch
crosses a boundary (shuffle rows, checkpoint parquet, driver results).

Format (little-endian), 8-byte header then payload:

    magic   4s   b"HLSK"
    version u8   1
    algo    u8   1=HLL dense / 2=HLLL compressed / 3=HLL zstd
    p       u8   log2(m)
    extra   u8   HLLL: mBits; others: 0

Payloads:
    HLL dense : m raw register bytes (one per register; the reference packs
                to 6 bits in memory — we spend the 2 idle bits for O(1)
                numpy decode and let parquet/zstd page compression reclaim
                them at rest; the *reported* HLL size metric stays 6m bits
                to match HyperLogLog.hpp:32-34)
    HLL sparse: (extra=1) u32 count then bit-packed ascending (j<<6 | r)
                pairs, width p+6 — chosen automatically by encode_hll when
                it is smaller than the dense payload.  This is the
                small-n/large-m regime that dominates per-key sketches at
                p>=16 (most groups touch a handful of registers): a p=18
                sketch of 100 distinct values serializes in ~300 bytes
                instead of 256 KiB, which is what bounds shuffle blobs and
                checkpoint size for high-cardinality GROUP BYs at 10^12
                rows.  The dense/sparse choice is a deterministic function
                of the register state, so partition-invariance byte
                identity is preserved.
    HLLL      : B u8, ns u32, bit-packed offsets (m*mBits bits), bit-packed
                exceptions (ns * (p + 6) bits, key<<6|value, ascending key)
                — the HyperLogLogLog layout (offset array + exception dict,
                HyperLogLogLog.hpp:515-527) with base chosen by full search,
                so payload bits == minimumBits (test.cpp:1099 invariant)
    HLL zstd  : zstd frame of the m register bytes (HyperLogLogZstd.hpp
                semantics: entropy-coded registers; level 1)

All encoders are deterministic functions of the register state, so sketches
built on different executors / task retries serialize identically — a
requirement for the byte-identity partition-invariance tests.

The JVM decoder java/src/hllspark/SketchCodec.java reads this format too
(hllspark.agg merges and estimates stored sketches with it), so a format or
version change must update both decoders and the parity test in
tests/test_sketch_jvm.py, then rebuild the jar with java/build.sh.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from . import hlll as _hlll

MAGIC = b"HLSK"
# v2 adds the sparse HLL payload (header extra=1); v1 blobs decode
# unchanged, and v1 readers reject v2 blobs with a clear version error
# instead of misparsing a short sparse body
VERSION = 2
_READABLE_VERSIONS = (1, 2)
ALGO_HLL = 1
ALGO_HLLL = 2
ALGO_ZSTD = 3

_HEADER = struct.Struct("<4sBBBB")
_ZSTD = pa.Codec("zstd", compression_level=1)


def pack_uints(values: np.ndarray, width: int) -> bytes:
    """Bit-pack unsigned ints (< 2**width) MSB-first into bytes."""
    values = np.asarray(values, dtype=np.uint64)
    if values.size == 0:
        return b""
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    bits = ((values[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def unpack_uints(buf: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of pack_uints; returns uint64[n]."""
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), count=n * width)
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    return (bits.reshape(n, width).astype(np.uint64) << shifts).sum(
        axis=1, dtype=np.uint64
    )


def _header(algo: int, p: int, extra: int = 0) -> bytes:
    return _HEADER.pack(MAGIC, VERSION, algo, p, extra)


_HLL_SPARSE = 1  # header `extra` flag for the sparse HLL payload


def encode_hll(M: np.ndarray) -> bytes:
    p = int(M.shape[0]).bit_length() - 1
    nz = np.flatnonzero(M)
    sparse_bytes = 4 + (nz.size * (p + 6) + 7) // 8
    if sparse_bytes < M.shape[0]:
        pairs = (nz.astype(np.uint64) << np.uint64(6)) | M[nz].astype(np.uint64)
        return (
            _header(ALGO_HLL, p, _HLL_SPARSE)
            + struct.pack("<I", nz.size)
            + pack_uints(pairs, p + 6)
        )
    return _header(ALGO_HLL, p) + M.astype(np.uint8).tobytes()


def encode_hlll(M: np.ndarray, m_bits: int = 3) -> bytes:
    p = int(M.shape[0]).bit_length() - 1
    base, exc_idx = _hlll.choose_base(M, m_bits)
    M64 = np.asarray(M, dtype=np.uint64)
    offsets = np.where(
        (M64 >= base) & (M64 <= base + ((1 << m_bits) - 1)), M64 - base, 0
    )
    exc_vals = M64[exc_idx]
    payload = struct.pack("<BI", base, exc_idx.shape[0])
    payload += pack_uints(offsets, m_bits)
    payload += pack_uints(
        (exc_idx.astype(np.uint64) << np.uint64(_hlll.S_BITS)) | exc_vals,
        p + _hlll.S_BITS,
    )
    return _header(ALGO_HLLL, p, m_bits) + payload


def encode_zstd(M: np.ndarray) -> bytes:
    p = int(M.shape[0]).bit_length() - 1
    comp = _ZSTD.compress(M.astype(np.uint8).tobytes(), asbytes=True)
    return _header(ALGO_ZSTD, p) + comp


def encode(M: np.ndarray, algo: str = "hll", m_bits: int = 3) -> bytes:
    if algo == "hll":
        return encode_hll(M)
    if algo == "hlll":
        return encode_hlll(M, m_bits)
    if algo == "hllzstd":
        return encode_zstd(M)
    raise ValueError(f"unknown sketch algo {algo!r}")


def convert(buf: bytes, algo: str, m_bits: int = 3) -> bytes:
    """Lossless conversion between sketch formats (reference
    toHyperLogLog/fromHyperLogLog, HyperLogLogLog.hpp:308-331, round-trip
    proven in test.cpp:1403-1487): decode to full registers, re-encode in
    the target format.  Registers, estimate, and (for HLLL) the minimal
    bit size are all preserved exactly."""
    return encode(decode(buf), algo, m_bits)


def decode(buf: bytes) -> np.ndarray:
    """Decode any sketch format back to uint8[m] registers."""
    magic, version, algo, p, extra = _HEADER.unpack_from(buf, 0)
    if magic != MAGIC or version not in _READABLE_VERSIONS:
        raise ValueError("bad sketch header")
    m = 1 << p
    body = buf[_HEADER.size :]
    if algo == ALGO_HLL:
        if extra == _HLL_SPARSE:
            (nnz,) = struct.unpack_from("<I", body, 0)
            pairs = unpack_uints(body[4:], nnz, p + 6)
            regs = np.zeros(m, dtype=np.uint8)
            regs[(pairs >> np.uint64(6)).astype(np.int64)] = (
                pairs & np.uint64(63)
            ).astype(np.uint8)
            return regs
        return np.frombuffer(body, dtype=np.uint8, count=m).copy()
    if algo == ALGO_ZSTD:
        return np.frombuffer(
            _ZSTD.decompress(body, decompressed_size=m, asbytes=True), dtype=np.uint8
        ).copy()
    if algo == ALGO_HLLL:
        m_bits = extra
        base, ns = struct.unpack_from("<BI", body, 0)
        off_bytes = (m * m_bits + 7) // 8
        cur = struct.calcsize("<BI")
        offsets = unpack_uints(body[cur : cur + off_bytes], m, m_bits)
        cur += off_bytes
        width = p + _hlll.S_BITS
        packed = unpack_uints(body[cur : cur + (ns * width + 7) // 8], ns, width)
        regs = (offsets + np.uint64(base)).astype(np.uint8)
        keys = (packed >> np.uint64(_hlll.S_BITS)).astype(np.int64)
        vals = (packed & np.uint64((1 << _hlll.S_BITS) - 1)).astype(np.uint8)
        regs[keys] = vals
        return regs
    raise ValueError(f"unknown algo id {algo}")


def decode_info(buf: bytes) -> dict:
    magic, version, algo, p, extra = _HEADER.unpack_from(buf, 0)
    return {
        "algo": {ALGO_HLL: "hll", ALGO_HLLL: "hlll", ALGO_ZSTD: "hllzstd"}[algo],
        "p": p,
        "m": 1 << p,
        "bytes": len(buf),
    }


def bit_size(buf: bytes) -> int:
    """The reference's size metric for the decoded sketch: 6m bits for dense
    HLL (HyperLogLog.hpp:32-34); m*mBits + ns*(log2 m + 6) for HLLL
    (HyperLogLogLog.hpp:145-147); 8 * compressed-bytes for zstd
    (HyperLogLogZstd.hpp:31-33)."""
    magic, version, algo, p, extra = _HEADER.unpack_from(buf, 0)
    m = 1 << p
    if algo == ALGO_HLL:
        # ALWAYS 6m for HLL, dense or sparse payload: this is the
        # reference's size metric for the decoded sketch (HyperLogLog.hpp:
        # 32-34) and the measure-CLI protocol reports it as such; the
        # sparse form is a WIRE optimization whose actual footprint is
        # visible via decode_info()['bytes']
        return 6 * m
    if algo == ALGO_ZSTD:
        return (len(buf) - _HEADER.size) * 8
    if algo == ALGO_HLLL:
        (base, ns) = struct.unpack_from("<BI", buf, _HEADER.size)
        return m * extra + ns * (p + _hlll.S_BITS)
    raise ValueError(f"unknown algo id {algo}")
