package hllspark;

import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.expressions.Aggregator;

/**
 * Register-wise max merge over SERIALIZED sketch bytes (any format
 * {@link SketchCodec} reads): each input row is decoded once into the dense
 * register buffer, so a rollup over stored sketches runs with no Python
 * stage and no re-encode between merge and estimate.
 *
 * <p>p is read from each sketch's header, so the empty zero() buffer
 * (length 0) stands for "no sketch seen yet", and finish() sees it for a
 * group with no non-NULL sketch (NULL sketches are skipped).  Sketches of
 * different p in one group fail loudly instead of being max'd.
 */
abstract class SketchMergeBase<OUT> extends Aggregator<byte[], byte[], OUT> {
  @Override
  public byte[] zero() {
    return new byte[0];
  }

  @Override
  public byte[] reduce(byte[] regs, byte[] sketch) {
    if (sketch == null) {
      return regs;
    }
    return merge(regs, SketchCodec.decode(sketch));
  }

  @Override
  public byte[] merge(byte[] a, byte[] b) {
    if (a.length == 0) {
      return b;
    }
    if (b.length == 0) {
      return a;
    }
    if (a.length != b.length) {
      throw new IllegalArgumentException(
          "hllspark sketch: cannot merge sketches of different precision in one group (p="
              + Integer.numberOfTrailingZeros(a.length) + " and p="
              + Integer.numberOfTrailingZeros(b.length) + ")");
    }
    return HllRegOps.merge(a, b);
  }

  @Override
  public Encoder<byte[]> bufferEncoder() {
    return Encoders.BINARY();
  }
}
