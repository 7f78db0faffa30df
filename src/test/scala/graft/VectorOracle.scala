package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reference twin of [[graft.ops.Similarity.dot]]: the higher-order-function
  * fold the native `vec_dot` replaced. Sequential accumulation in array
  * order, so the two agree bit for bit; `RewriteVectorFolds` also
  * recognises this exact shape. Shared by VectorExprsSpec and
  * VectorRewriteSpec.
  */
object VectorOracle {
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
}
