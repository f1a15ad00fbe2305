package hllspark;

import org.apache.spark.sql.api.java.UDF1;

/**
 * Scalar UDF: serialized sketch -> distinct-count estimate (NULL for a NULL
 * sketch).  Same decoder and estimator as the merge aggregators, so
 * with_estimate and the rollup agree bit for bit.
 */
public class SketchEstimateUdf implements UDF1<byte[], Double> {
  @Override
  public Double call(byte[] sketch) {
    return sketch == null ? null : HllRegOps.estimate(SketchCodec.decode(sketch));
  }
}
