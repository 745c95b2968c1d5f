package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Pins `Tables.events` ts-normalization across every flavor the testdata
  * generator has shipped: TIMESTAMP(NANOS) (read as Long under
  * `nanosAsLong`), TIMESTAMP(US) with timezone, and TIMESTAMP(US) without
  * timezone (TIMESTAMP_NTZ). Round 9 lost the whole correctness gate to an
  * unhandled NTZ regeneration — this spec makes the next generator drift a
  * local `sbt test` failure instead of a driver-round loss.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // 2024-01-01T00:00:01Z and +1s, as epoch micros
  private val micros = Seq(1704067201000000L, 1704067202000000L)

  private def writeEvents(flavor: String): String = {
    val dir = tempDir(s"tables-$flavor")
    val base = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, s"u$i", us) }
      .toDF("event_id", "user_id", "us")
    val df = flavor match {
      case "tstz" => base.withColumn("ts", timestamp_micros($"us")).drop("us")
      case "ntz"  => base.withColumn(
        "ts", timestamp_micros($"us").cast(TimestampNTZType)).drop("us")
    }
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def assertNormalized(dir: String, flavor: String): Unit = {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType,
      s"$flavor: ts not normalized to TimestampType")
    val got = ev.select(unix_micros($"ts")).as[Long].collect().sorted
    assert(got.toSeq == micros, s"$flavor: micros drifted: ${got.toSeq}")
  }

  test("events ts: TIMESTAMP(US) with timezone passes through") {
    assertNormalized(writeEvents("tstz"), "tstz")
  }

  test("events ts: TIMESTAMP_NTZ is cast to TimestampType, micros intact") {
    assertNormalized(writeEvents("ntz"), "ntz")
  }

  test("events ts: whatever flavor the current testdata ships loads clean") {
    // The live corpus itself must never throw — this is the exact round-9
    // failure mode (generator drift discovered by the driver, not the suite).
    val ev = Tables.events(spark, sfDir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.limit(1).count() == 1)
  }
}
