package graft.streaming

import org.apache.spark.sql.SparkSession

/** Shared sizing policy for STATEFUL streaming queries: the state-store
  * partition count. A stateful operator's partitioning is frozen into
  * the checkpoint at first run and every micro-batch commits one
  * delta + snapshot file set PER PARTITION — so a count inherited from
  * `spark.sql.shuffle.partitions` (sized to cluster cores for batch
  * shuffles) is pure commit overhead when it far exceeds the state being
  * sharded: a 2 MB/trigger stream over 32 HDFS-backed stores pays 32
  * file commits per batch to shard a few thousand keys (measured: the
  * EWMA replay's addBatch drops 2450 → 1090 ms going 32 → 8 partitions
  * on identical data, read from the stream's per-batch durationMs). The
  * converse holds at 100 TB: per-trigger volume, not core count, is what
  * the state shards. Those figures were measured while every local
  * checkpoint file still forked `chmod`/`readlink` (before
  * [[graft.fs.LocalFs]]); a file commit is much cheaper now, so the
  * measured gap is an upper bound.
  */
object Streams {

  /** State partitions for an expected per-trigger input volume: one per
    * 16 MB with a parallelism floor of 4. No upper cap — the trigger's
    * own byte budget (`maxBytesPerTrigger`) bounds the product.
    */
  def statePartitions(bytesPerTrigger: Long): Int =
    math.max(4L, (bytesPerTrigger + (16L << 20) - 1) / (16L << 20)).toInt

  /** Run `body` (which STARTS a streaming query — the stream captures a
    * session clone at start, so the setting sticks to that query) with
    * `spark.sql.shuffle.partitions` set to `n`, restoring the session
    * value after. Results are partitioning-invariant; only the state
    * shard count and its per-batch commit fan-out change.
    */
  def withStatePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Total byte size of a path's files — the per-trigger volume estimate
    * for a bounded replay (`Trigger.AvailableNow` over staged files).
    */
  def pathBytes(spark: SparkSession, path: String, globFilter: Option[String] = None): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var total = 0L
      while (it.hasNext) {
        val f = it.next()
        if (globFilter.forall(g => f.getPath.getName.matches(
          g.replace(".", "\\.").replace("*", ".*")))) total += f.getLen
      }
      total
    }
  }
}
