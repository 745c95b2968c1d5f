package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.Pipelines

/** `batch_mix`: the batch side of the engine, timed rounds over two kinds
  * of entry in orders set by the seed.
  *
  *  - Registry queries: a fixed systematic sample, every `Step`-th query by
  *    name. Inputs are small (sf0.01), so their time is mostly fixed driver
  *    cost: analysis, optimisation, planning, codegen and job scheduling.
  *    Each writes its whole result to the `noop` sink, so Catalyst cannot
  *    prune columns the way a `count()` would.
  *  - The composed full curation funnel (`Pipelines.fullCuration`), the
  *    LLM-data job: executor-heavy work (operators, shuffles, persisted
  *    frames). One run cannot fit more of the 13 composed pipelines.
  *
  * The timed phase runs rounds for `--seconds` (at least `MinRounds`):
  * each round runs every entry once, in an order the seed draws afresh
  * for the round, after an untimed full GC (`graft.Bench` runs one before
  * each entry). An entry's time is the median over the rounds, so
  * a slow round (a pipeline still warming up, a busy host for a few
  * seconds) does not move it. `wall_s` is the sum of the entries' times;
  * `latency_p50_ms` and `latency_p90_ms` are over them.
  *
  * During set-up each query runs once untimed: that run collects the
  * result, whose row count and order-insensitive digest are checked
  * against those recorded from the seed commit (`expected/batch_mix.json`),
  * and pays the query's first-execution cost. The pipeline runs twice
  * untimed; its last timed run's count tuple is checked against the
  * recorded one.
  */
object BatchMix {

  val Step = 104
  val MinRounds = 3

  /** An entry of the timed pass; the body returns what the check compares. */
  private final case class Entry(kind: String, name: String, body: Ctx => String)

  private def counts(p: Any): String = p match {
    case p: Product => p.productIterator.mkString(",")
    case s: Seq[_] => s.mkString(",")
    case v => v.toString
  }

  private val pipelines: Seq[Entry] =
    Seq(Entry("pipeline", "full", c => counts(Pipelines.fullCuration(c.spark, c.data))))

  def querySample: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % Step == 0 => n }

  def run(ctx: Ctx): Result = {
    import ctx._
    val queries = graft.SparkEntry.queries
    val queryEntries = querySample.map { n =>
      Entry("query", n, c => {
        val t0 = System.nanoTime()
        val df = queries(n)(c.spark, c.data)
        c.trace.add("queries.build_ms", (System.nanoTime() - t0) / 1e6)
        noop(df)
        ""
      })
    }
    val rnd = new scala.util.Random(seed)

    // the pipeline's first runs are far slower than the later ones (JIT,
    // codegen, class loading), so it runs twice untimed
    for (_ <- 1 to 2; e <- pipelines) {
      try e.body(ctx) catch { case x: Exception => log(s"${e.name} failed: ${x.getMessage}") }
      reset()
    }
    log("pipeline warmed up")

    val digests = querySample.map { n =>
      val d = try digest(queries(n)(spark, data)) catch { case x: Exception => s"error: ${x.getMessage}" }
      reset()
      s"query $n" -> d
    }

    // per entry: (seconds, output or None if it failed) of each round
    val runs = mutable.LinkedHashMap.empty[Entry, mutable.ArrayBuffer[(Double, Option[String])]]
    val firstTimed = trace.startTimed()
    val end = firstTimed + seconds * 1000L
    var rounds = 0
    while (rounds < MinRounds || System.currentTimeMillis() < end) {
      System.gc()
      rnd.shuffle(queryEntries ++ pipelines).foreach { e =>
        runs.getOrElseUpdate(e, mutable.ArrayBuffer.empty) += trace.entry(e.kind, e.name) {
          val s = System.nanoTime()
          val out =
            try Some(e.body(ctx))
            catch { case x: Exception => log(s"${e.name} failed: ${x.getMessage}"); None }
          val secs = (System.nanoTime() - s) / 1e9
          reset()
          (secs, out)
        }
      }
      rounds += 1
    }
    trace.stopTimed()
    log(s"$rounds rounds timed")
    val timed = runs.toSeq.map { case (e, rs) =>
      log(s"${e.name} ${rs.map(r => f"${r._1}%.3f").mkString(" ")} s")
      val out = if (rs.exists(_._2.isEmpty)) None else rs.last._2
      (e, rs.map(_._1).sorted.apply(rs.size / 2), out)
    }

    val got = (digests ++ timed.collect { case (e, _, out) if e.kind == "pipeline" =>
      s"pipeline ${e.name}" -> out.getOrElse("error")
    }).toMap
    val want = Expected.read(new java.io.File(s"$expectedDir/batch_mix.json"))
    val checks = got.toSeq.sorted.map { case (k, v) => k -> want.get(k).contains(v) }

    val secs = timed.map(_._2)
    val layer =
      if (!trace.traced) Map.empty[String, Double]
      else trace.layerMetrics(cores) ++ Map(
        "queries.attempted" -> timed.count(_._1.kind == "query") * rounds.toDouble,
        "queries.failed" -> timed.count(t => t._1.kind == "query" && t._3.isEmpty).toDouble) ++
        timed.collect { case (e, s, _) if e.kind == "pipeline" => s"pipelines.${e.name}_s" -> s }
    Result(firstTimed, layer ++ Map(
      "wall_s" -> timed.map(_._2).sum,
      "latency_p50_ms" -> Trace.pct(secs, 0.5) * 1e3,
      "latency_p90_ms" -> Trace.pct(secs, 0.9) * 1e3),
      timed.size * rounds, timed.count(_._3.isEmpty), checks)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def reset(): Unit = {
    graft.operators.Dedup.releaseAllCaches()
    org.apache.spark.sql.SparkSession.active.catalog.clearCache()
  }

  /** "rows:hash" where hash sums a per-row md5 (order-insensitive).
    * Floating-point values are compared at nine significant digits, so
    * summation order inside the engine does not change the digest.
    */
  def digest(df: DataFrame): String = {
    val rows = df.collect()
    var sum = 0L
    rows.foreach { r =>
      val d = MessageDigest.getInstance("MD5").digest(canon(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(d).getLong
    }
    f"${rows.length}:$sum%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
}

/** Outputs recorded from the seed commit, as one JSON object. */
object Expected {
  def read(f: java.io.File): Map[String, String] =
    if (!f.exists) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Json.mapper.readTree(f).fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }
}
