package hllspark;

import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;

/**
 * Serialized sketches in, merged raw dense registers out (NULL for a group
 * with no non-NULL sketch): the JVM half of merge_sketches, which re-encodes
 * the one merged register array per output group.
 */
public class SketchMergeAggregator extends SketchMergeBase<byte[]> {
  @Override
  public byte[] finish(byte[] regs) {
    return regs.length == 0 ? null : regs;
  }

  @Override
  public Encoder<byte[]> outputEncoder() {
    return Encoders.BINARY();
  }
}
