package hllspark;

import com.github.luben.zstd.Zstd;
import com.github.luben.zstd.ZstdException;

/**
 * JVM twin of hllspark.sketch.decode: serialized sketch bytes -> dense
 * byte[2^p] registers, for every format the Python codec writes.
 *
 * <p>Layout (little-endian), 8-byte header then payload:
 * magic "HLSK", version u8 (1 or 2), algo u8 (1 = HLL, 2 = HLLL, 3 = zstd
 * HLL), p u8, extra u8 (HLLL: mBits; HLL: 1 = sparse payload, else dense).
 * Payloads:
 * <ul>
 *   <li>HLL dense: m register bytes;
 *   <li>HLL sparse: u32 count, then MSB-first packed (j &lt;&lt; 6 | r)
 *       pairs of width p + 6;
 *   <li>HLLL: base u8, ns u32, m offsets of mBits bits, then ns
 *       exceptions (key &lt;&lt; 6 | value) of width p + 6, all MSB-first
 *       packed (register = base + offset unless an exception overrides it);
 *   <li>zstd HLL: one zstd frame of the m register bytes (zstd-jni, the
 *       codec library Spark itself ships).
 * </ul>
 *
 * <p>Malformed input fails with an IllegalArgumentException that names the
 * fault (magic, version, algo, p, or which payload is truncated), never with
 * an index error or silently wrong registers.  A format or version change
 * must update sketch.py, this class and the parity test together.
 */
public final class SketchCodec {
  private SketchCodec() {}

  static final int HEADER_BYTES = 8;
  static final int ALGO_HLL = 1;
  static final int ALGO_HLLL = 2;
  static final int ALGO_ZSTD = 3;
  static final int HLL_SPARSE = 1;
  static final int S_BITS = 6;

  /** Decode any sketch format to its dense register array. */
  public static byte[] decode(byte[] buf) {
    if (buf.length < HEADER_BYTES) {
      throw fault("truncated header: " + buf.length + " bytes, need " + HEADER_BYTES);
    }
    if (buf[0] != 'H' || buf[1] != 'L' || buf[2] != 'S' || buf[3] != 'K') {
      throw fault("bad magic, expected \"HLSK\"");
    }
    final int version = buf[4] & 0xFF;
    if (version != 1 && version != 2) {
      throw fault("unknown version " + version + " (readable: 1, 2)");
    }
    final int algo = buf[5] & 0xFF;
    final int p = buf[6] & 0xFF;
    final int extra = buf[7] & 0xFF;
    if (p < 4 || p > 18) {
      throw fault("p=" + p + " outside [4, 18]");
    }
    switch (algo) {
      case ALGO_HLL:
        return extra == HLL_SPARSE ? decodeSparse(buf, p) : decodeDense(buf, p);
      case ALGO_HLLL:
        return decodeHlll(buf, p, extra);
      case ALGO_ZSTD:
        return decodeZstd(buf, p);
      default:
        throw fault("unknown algo id " + algo);
    }
  }

  private static byte[] decodeDense(byte[] buf, int p) {
    final int m = 1 << p;
    need("dense HLL", buf, HEADER_BYTES, m);
    final byte[] regs = new byte[m];
    System.arraycopy(buf, HEADER_BYTES, regs, 0, m);
    return regs;
  }

  private static byte[] decodeSparse(byte[] buf, int p) {
    need("sparse HLL", buf, HEADER_BYTES, 4);
    final long nnz = u32(buf, HEADER_BYTES);
    final int width = p + S_BITS;
    final int start = HEADER_BYTES + 4;
    need("sparse HLL", buf, start, (nnz * width + 7) / 8);
    final byte[] regs = new byte[1 << p];
    final BitReader in = new BitReader(buf, start);
    for (long i = 0; i < nnz; i++) {
      final int pair = in.read(width);
      regs[pair >>> S_BITS] = (byte) (pair & 63);
    }
    return regs;
  }

  private static byte[] decodeHlll(byte[] buf, int p, int mBits) {
    if (mBits < 1 || mBits > 8) {
      throw fault("HLLL mBits=" + mBits + " outside [1, 8]");
    }
    final int m = 1 << p;
    need("HLLL", buf, HEADER_BYTES, 5);
    final int base = buf[HEADER_BYTES] & 0xFF;
    final long ns = u32(buf, HEADER_BYTES + 1);
    final int offStart = HEADER_BYTES + 5;
    final int offBytes = (m * mBits + 7) / 8;
    final int width = p + S_BITS;
    need("HLLL", buf, offStart, offBytes + (ns * width + 7) / 8);
    final byte[] regs = new byte[m];
    final BitReader off = new BitReader(buf, offStart);
    for (int j = 0; j < m; j++) {
      regs[j] = (byte) (base + off.read(mBits));
    }
    final BitReader exc = new BitReader(buf, offStart + offBytes);
    for (long i = 0; i < ns; i++) {
      final int kv = exc.read(width);
      regs[kv >>> S_BITS] = (byte) (kv & 63);
    }
    return regs;
  }

  private static byte[] decodeZstd(byte[] buf, int p) {
    final int m = 1 << p;
    final byte[] regs = new byte[m];
    final long n;
    try {
      n = Zstd.decompressByteArray(regs, 0, m, buf, HEADER_BYTES, buf.length - HEADER_BYTES);
    } catch (ZstdException e) {
      throw fault("corrupt zstd HLL payload: " + e.getMessage());
    }
    if (n != m) {
      throw fault("zstd HLL payload holds " + n + " register bytes, need 2^p = " + m);
    }
    return regs;
  }

  private static long u32(byte[] buf, int at) {
    return (buf[at] & 0xFFL)
        | (buf[at + 1] & 0xFFL) << 8
        | (buf[at + 2] & 0xFFL) << 16
        | (buf[at + 3] & 0xFFL) << 24;
  }

  private static void need(String what, byte[] buf, int start, long bytes) {
    if (buf.length - start < bytes) {
      throw fault(
          "truncated " + what + " payload: need " + bytes + " bytes at offset " + start
              + ", have " + Math.max(0, buf.length - start));
    }
  }

  private static IllegalArgumentException fault(String msg) {
    return new IllegalArgumentException("hllspark sketch: " + msg);
  }

  /** MSB-first reader of fixed-width fields (width &lt;= 24 bits). */
  private static final class BitReader {
    private final byte[] buf;
    private int pos;
    private long acc;
    private int nbits;

    BitReader(byte[] buf, int pos) {
      this.buf = buf;
      this.pos = pos;
    }

    int read(int width) {
      while (nbits < width) {
        acc = (acc << 8) | (buf[pos++] & 0xFF);
        nbits += 8;
      }
      nbits -= width;
      return (int) ((acc >>> nbits) & ((1L << width) - 1));
    }
  }
}
