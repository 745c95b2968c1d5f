package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name prefixes — dump only the
    // matching queries/oracles (local iteration; the driver passes 2 args)
    val keep: String => Boolean = args.lift(2) match {
      case Some(pfx) =>
        val ps = pfx.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        (n: String) => ps.exists(n.startsWith)
      case None => _ => true
    }
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    // Dump the oracle SQL FIRST: if any later stage dies, the driver still
    // has the per-query oracle map instead of an empty correctness round.
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // register temp views once up front (q11/q52/q60 use the SQL front end)
    // so concurrent builders never race on view creation. Each table is
    // guarded independently: a schema-drifted parquet must fail only the
    // queries that touch it (their own try/catch below), never the whole
    // dump — round 9 lost ALL correctness signal to one bad events file.
    graft.Tables.names.foreach { n =>
      try graft.Tables.register(spark, sfDir, n)
      catch { case e: Throwable =>
        System.err.println(s"[verify] table $n failed to register: ${e.getMessage}")
      }
    }
    // queries are independent — run 4 at a time; the Spark scheduler
    // interleaves their jobs across the shared local executor
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.toSeq.filter(kv => keep(kv._1)).map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    spark.stop()
  }
}
