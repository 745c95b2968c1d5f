package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Materialize}

/** The reliable-checkpoint escape hatch: every iterative operator
  * materializes through [[Materialize.checkpoint]], which routes to
  * reliable `df.checkpoint()` when `spark.sparkContext.setCheckpointDir`
  * is configured (the 100 TB cluster deployment — executor loss
  * mid-iteration becomes a re-read instead of a dead job) and to
  * `localCheckpoint` otherwise (the local fast path). Both modes must be
  * bit-identical; this spec runs the distributed PageRank and connected
  * components loops in both and compares row-for-row.
  */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def withCheckpointDir[A](body: String => A): A = {
    val dir = tempDir("graft-reliable-ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    try body(dir)
    finally {
      // Option(null) = None: resets the session to the local fast path so
      // suite order cannot leak reliable-checkpoint cost into other specs
      spark.sparkContext.setCheckpointDir(null)
      val _ = org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }
  }

  test("checkpoint routes by configuration: RDD is reliably checkpointed " +
      "iff a checkpoint dir is set, localCheckpoint otherwise") {
    val df = (1L to 100L).toDF("x")
    val local = Materialize.checkpoint(df)
    assert(local.count() === 100L)
    withCheckpointDir { dir =>
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      val reliable = Materialize.checkpoint(df)
      assert(reliable.count() === 100L)
      // Dataset.checkpoint wraps the checkpointed RDD in a fresh plan, so
      // assert on the observable contract: blocks were written into the
      // configured reliable store
      def filesUnder(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(filesUnder).sum
        else 1L
      assert(filesUnder(new java.io.File(dir)) > 0L,
        "expected reliable checkpoint files under the configured dir")
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "checkpoint dir must reset after the scope")
  }

  test("pageRank is bit-identical between localCheckpoint mode and " +
      "reliable-checkpoint mode") {
    // two triangles bridged by one edge + a dangling chain: enough
    // structure that 5 iterations move real mass around
    val edges = Seq(
      (1L, 2L, 2L), (2L, 3L, 1L), (3L, 1L, 3L),
      (4L, 5L, 1L), (5L, 6L, 2L), (6L, 4L, 1L),
      (3L, 4L, 1L), (6L, 7L, 1L), (7L, 8L, 4L))
      .toDF("src", "dst", "w")
    def run() = Graph.pageRankDistributed(edges, 12, 850000L, seeds = None)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run()
    val reliable = withCheckpointDir { _ => run() }
    assert(reliable === local)
    assert(local.values.sum > 0L)
  }

  test("connectedComponents is bit-identical between localCheckpoint " +
      "mode and reliable-checkpoint mode") {
    // a 12-node path (worst case for alternating stars) and a 4-clique
    val edges = ((1L to 11L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (20L, 22L), (20L, 23L), (21L, 22L), (22L, 23L)))
      .toDF("src", "dst")
    def run() = Dedup.starComponents(edges, maxIter = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run()
    val reliable = withCheckpointDir { _ => run() }
    assert(reliable === local)
    assert(local.filterKeys(_ <= 12L).values.toSet === Set(1L))
    assert(local.filterKeys(_ >= 20L).values.toSet === Set(20L))
  }
}
