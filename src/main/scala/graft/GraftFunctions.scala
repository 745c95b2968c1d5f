package graft

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.udaf

import graft.functions.{EwmaFunctions, VectorAggregates}

/** Session-scoped registration of the engine's TYPED AGGREGATES as SQL
  * functions. The scalar codegen expressions register through
  * [[GraftExtensions]] (`spark.sql.extensions` — no session needed);
  * `Aggregator`-backed UDAFs can only attach to a live session via
  * `spark.udf.register`, so they get this one idempotent call:
  *
  *   graft.GraftFunctions.registerAggregates(spark)
  *
  *   SELECT ewma_agg(ts, seq, price, 0.00662252)    -- alpha as 4th arg
  *   SELECT vec_sum_agg(vq)                         -- centroid numerator
  *   SELECT vec_outer_product_sum(vq)               -- Gram triangle
  *
  * With these, a pure-SQL user expresses the q27/q28 EWMA windows and
  * KMeans/PCA centroid maintenance without touching the Scala API
  * (ExtensionsSpec pins SQL ≡ Column-API on each).
  */
object GraftFunctions {
  def registerAggregates(spark: SparkSession): Unit = {
    spark.udf.register("ewma_agg", EwmaFunctions.ewmaUdaf)
    spark.udf.register("vec_sum_agg",
      udaf(new VectorAggregates.VecSumAgg,
        Encoders.product[VectorAggregates.VecRow]))
    spark.udf.register("vec_outer_product_sum",
      udaf(new VectorAggregates.OuterProductSumAgg,
        Encoders.product[VectorAggregates.VecRow]))
  }
}
