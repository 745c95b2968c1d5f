package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.DataPrep

/** Proves the z-order layout actually PRUNES: the same aligned box query
  * reads a measured small fraction of the clustered layout's files versus
  * every file of an unclustered layout with the identical file count.
  * File reads are measured two ways — `PartitionFilters` in the scan plan
  * (static proof the predicate prunes directories) and distinct
  * `input_file_name()` over the matching rows (the files that actually
  * contributed data).
  */
class ZorderPruningSpec extends SparkSpec {

  private val bits = 8        // 256 x 256 quantized plane
  private val nBuckets = 64   // 8 x 8 coarse tiles of 32 x 32 cells

  private def boxPred(x0: Long, x1: Long, y0: Long, y1: Long) =
    col("x") >= x0 && col("x") < x1 && col("y") >= y0 && col("y") < y1

  private def filesTouched(df: DataFrame): Long =
    df.select(input_file_name()).distinct().count()

  test("aligned box on the z-clustered layout reads 1/64th of the files the flat layout reads") {
    // one point per cell of the full 256x256 grid, id-derived (deterministic)
    val grid = spark.range(1L << (2 * bits)).select(
      (col("id") % 256).as("x"), (col("id") / 256).as("y"))
    val dir = tempDir("graft-zprune-")

    // flat baseline: 64 round-robin files, every file spans the full plane
    grid.repartition(nBuckets).write.parquet(s"$dir/flat")
    // clustered: bucket = top bits of z, one directory+file per bucket
    DataPrep.zorderLayout(grid, "x", "y", bits, nBuckets)
      .repartition(nBuckets, col("bucket"))
      .write.partitionBy("bucket").parquet(s"$dir/zorder")
    val flat = spark.read.parquet(s"$dir/flat")
    val zord = spark.read.parquet(s"$dir/zorder")
    assert(filesTouched(flat) === nBuckets.toLong, "baseline writes 64 files")
    assert(filesTouched(zord) === nBuckets.toLong, "clustered layout also has 64 files")

    // one-tile aligned box: x in [64,96) x y in [32,64) = exactly 1 bucket
    val b1 = DataPrep.zorderBoxBuckets(64, 96, 32, 64, bits, nBuckets)
    assert(b1.size === 1, s"one coarse tile -> one bucket, got $b1")
    val q1 = zord.filter(col("bucket").isin(b1: _*) && boxPred(64, 96, 32, 64))
    val f1 = flat.filter(boxPred(64, 96, 32, 64))
    assert(q1.count() === 32L * 32L && f1.count() === 32L * 32L,
      "both layouts return the exact box contents")
    assert(filesTouched(f1) === nBuckets.toLong,
      "flat layout: every one of the 64 files holds box rows — no pruning possible")
    assert(filesTouched(q1) === 1L,
      "clustered layout: the box lives in exactly 1 of 64 files (64x fewer)")
    val plan = q1.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket IN (...) must prune at the partition level, not post-scan:\n$plan")

    // 2x1-tile box spanning a bucket boundary: x in [64,128) x y in [32,64)
    val b2 = DataPrep.zorderBoxBuckets(64, 128, 32, 64, bits, nBuckets)
    assert(b2.size === 2, s"two coarse tiles -> two buckets, got $b2")
    val q2 = zord.filter(col("bucket").isin(b2: _*) && boxPred(64, 128, 32, 64))
    assert(q2.count() === 64L * 32L)
    assert(filesTouched(q2) === 2L, "2 of 64 files (32x fewer)")

    // covered-bucket filter is LOSSLESS: dropping the box predicate still
    // finds every box row inside the named buckets (no false pruning)
    val sup = zord.filter(col("bucket").isin(b2: _*))
    assert(sup.filter(boxPred(64, 128, 32, 64)).count() === 64L * 32L)
  }

  test("zorderBoxBuckets covers exactly the buckets holding box rows, for odd log2 too") {
    // nBuckets = 32 (logB = 5): asymmetric coarse grid, 4 x-tiles x 8 y-tiles
    val nb = 32
    val grid = spark.range(1L << (2 * bits)).select(
      (col("id") % 256).as("x"), (col("id") / 256).as("y"))
    val laid = DataPrep.zorderLayout(grid, "x", "y", bits, nb)
    // an arbitrary aligned box; ground truth from the data itself
    val (x0, x1, y0, y1) = (128L, 224L, 0L, 96L)
    val want = laid.filter(boxPred(x0, x1, y0, y1))
      .select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSet
    val got = DataPrep.zorderBoxBuckets(x0, x1, y0, y1, bits, nb).toSet
    assert(got === want,
      s"helper buckets $got must equal the buckets the data actually occupies $want")
  }
}
