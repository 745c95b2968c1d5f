package graft

import org.apache.spark.sql.SparkSession

/** The driver calls SparkEntry with a session IT built (no graft configs).
  * configure() must be able to retrofit everything needed at runtime —
  * this spec simulates that virgin session.
  */
class DriverContractSpec extends SparkSpec {

  private def virginSession(): SparkSession = {
    spark // ensure shared context exists
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try SparkSession.builder().master("local[2]").getOrCreate()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("entry() runs on a session without graft configs and returns rows") {
    val s = virginSession()
    assert(SparkEntry.entry(s).count() > 0)
  }

  test("events table loads on a configured virgin session (nanosAsLong is runtime-settable)") {
    val s = SparkEntry.configure(virginSession())
    val ev = Tables.events(s, sfDir)
    assert(ev.count() > 0)
    assert(ev.schema("ts").dataType.typeName === "timestamp")
  }

  test("every registry query runs on a configured virgin session (spot: one per family)") {
    val s = virginSession()
    for (q <- Seq("q01_pricing_summary", "q27_ewma_by_type", "q32_dedup_minhash",
        "q35_sim_topk", "q42_text_langid", "q49_session_window")) {
      assert(SparkEntry.queries(q)(s, sfDir).count() >= 0, q)
    }
  }

  test("oracleSql names a subset of queries and aliases stay consistent") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
    assert(SparkEntry.oracleSql.size >= 40)
  }

  test("bench entry table keeps the frozen BENCH_SUMMARY keys, in run order") {
    val names = Pipelines.benchEntries.map(_.name)
    assert(names === Seq("ewma_stream_replay", "slsh_stream_replay",
      "pipeline_dedup_shared", "pipeline_full", "pipeline_stream_funnel",
      "pipeline_stream_refresh", "pipeline_ann_refresh", "pipeline_crawl",
      "pipeline_crawl_stream", "pipeline_cdc_stream", "pipeline_events",
      "pipeline_insight", "pipeline_routing", "pipeline_monitor",
      "pipeline_profile"))
    assert(names.toSet.intersect(SparkEntry.queries.keySet).isEmpty)
  }
}
