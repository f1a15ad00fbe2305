package hllspark;

import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;

/**
 * Serialized sketches in, distinct-count estimate of their register-wise
 * max out (0.0 for a group with no non-NULL sketch, like
 * {@link HllMergeEstimateAggregator} and approx_count_distinct): the whole
 * rollup / grouping-sets plan over stored sketches in one JVM aggregate.
 */
public class SketchMergeEstimateAggregator extends SketchMergeBase<Double> {
  @Override
  public Double finish(byte[] regs) {
    return regs.length == 0 ? 0.0 : HllRegOps.estimate(regs);
  }

  @Override
  public Encoder<Double> outputEncoder() {
    return Encoders.DOUBLE();
  }
}
