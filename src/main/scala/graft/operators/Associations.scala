package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Materialize.MaterializeOps

/** Market-basket association mining over a (basket, item) relation —
  * the pairwise (2-itemset) core of Apriori: which items co-occur more
  * than chance, and how predictive is one of the other. The curation
  * use-case is the same shape as PMI collocations but at the
  * basket/document level (co-cited domains, co-occurring tags).
  */
object Associations {

  /** Directed pair rules a → b for item pairs sharing at least
    * `minPairSupport` baskets. Per rule: `n_ab` (co-occurrence baskets),
    * `n_a`/`n_b` (item baskets), `n_baskets` (total), plus the two
    * classic measures as exact integer ppm (floor):
    *
    *   confidence = 1e6 · n_ab DIV n_a
    *   lift       = 1e6 · n_baskets · n_ab DIV (n_a · n_b)
    *
    * Both rule directions are emitted (confidence is asymmetric; lift is
    * symmetric and simply repeats).
    *
    * Plan shape for 100 TB: ONE hash shuffle by basket builds the
    * per-basket sorted distinct item set (`collect_set` dedups map-side,
    * so the exchange carries partial sets, not raw rows); pairs are then
    * generated MAP-SIDE from each sorted set — each unordered (a < b)
    * pair appears exactly once per basket by construction, so the
    * support count is a plain `count(1)` with map-side partial
    * aggregation. This replaces the previous distinct + self-equi-join
    * on basket (two more exchanges plus the join barrier) with identical
    * output: fan-out is still Σ C(|basket|, 2) — bounded by basket size,
    * never by item popularity, and a huge basket is the data's own
    * quadratic, not the algorithm's. Item counts are a separate small
    * aggregate broadcast back onto the (filtered, much smaller) rule
    * set. The lift numerator 10⁶·n_baskets·n_ab runs through
    * decimal(38,0) (the q93 pattern) — exact at any corpus size, where a
    * Long would overflow past ~9e12 basket-pair products; the division
    * is the exact-multiple form (A − A mod B)/B, so the decimal quotient
    * is an integer and no rounding mode is involved.
    */
  def pairRules(
      baskets: DataFrame, basketCol: String, itemCol: String,
      minPairSupport: Long = 2L): DataFrame = {
    require(minPairSupport >= 1, "minPairSupport must be >= 1")
    // the per-basket item-set frame feeds THREE consumers (basket count,
    // item counts, pair generation) and the supported pair set two (each
    // rule direction) — materialize each once instead of re-running the
    // grouping shuffle per consumer (the connectedComponents/pageRank
    // loop-invariant pattern). The basket key itself is dropped before
    // materialization: only the item sets matter downstream. A NULL key
    // names no basket (NULL = NULL is not true), so its rows are dropped
    // rather than grouped into one.
    val grouped = baskets
      .filter(col(basketCol).isNotNull)
      .select(col(basketCol).as("bk"), col(itemCol).cast("bigint").as("it"))
      .groupBy(col("bk"))
      .agg(array_sort(collect_set(col("it"))).as("items"))
      .select(col("items"))
      .materialize
    // one row per distinct basket by construction — a count of the
    // materialized blocks, not another distinct shuffle
    val nBaskets = grouped.count()
    val itemCounts = grouped.select(explode(col("items")).as("it"))
      .groupBy(col("it")).agg(count(lit(1)).as("n_item"))
    // sorted distinct items ⇒ slice(i+2..) enumerates exactly the a < b
    // pairs of the old self-join, once per basket
    val pairCounts = grouped
      .select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items) - i - 1),
          |    y -> struct(x AS ia, y AS ib))))""".stripMargin)).as("p"))
      .select(col("p.ia").as("ia"), col("p.ib").as("ib"))
      .groupBy(col("ia"), col("ib"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairSupport)
      .materialize
    val directed = pairCounts.select(col("ia").as("ante"), col("ib").as("cons"), col("n_ab"))
      .unionByName(
        pairCounts.select(col("ib").as("ante"), col("ia").as("cons"), col("n_ab")))
    directed
      .join(broadcast(itemCounts.withColumnRenamed("it", "ante")
        .withColumnRenamed("n_item", "n_a")), Seq("ante"))
      .join(broadcast(itemCounts.withColumnRenamed("it", "cons")
        .withColumnRenamed("n_item", "n_b")), Seq("cons"))
      .withColumn("n_baskets", lit(nBaskets))
      .withColumn("lift_num",
        lit(1000000L).cast("decimal(38,0)") * col("n_baskets") * col("n_ab"))
      .withColumn("lift_den", col("n_a").cast("decimal(38,0)") * col("n_b"))
      .select(col("ante"), col("cons"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_baskets"),
        expr("(1000000 * n_ab) DIV n_a").as("confidence_ppm"),
        // decimal(38,0) numerator/denominator; all terms positive and the
        // numerator is reduced to an exact multiple before dividing, so
        // the quotient is integral and exact — matches DuckDB HUGEINT //
        expr("""CAST((lift_num - lift_num % lift_den) / lift_den AS BIGINT)""")
          .as("lift_ppm"))
  }
}
