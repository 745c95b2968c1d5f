package graft.model

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

/** Record types mirroring the reference's Avro schemas.
  *
  * `Trade` mirrors `TradesDataAvro`
  * (reference: services/kstream-agg-rs/src/models.rs:31-44): Avro enums
  * (`direction`, `liquidation`) map to constrained strings, `Option[T]`
  * unions map to nullable columns. `timestamp` is epoch millis.
  */
final case class Trade(
    amount: Double,
    direction: String, // domain: buy | sell | zero (models.rs:15-23)
    index_price: Double,
    instrument_name: String,
    iv: Option[Double],
    liquidation: Option[String], // domain: M | T | MT (models.rs:5-13)
    price: Double,
    tick_direction: Long,
    timestamp: Long, // epoch millis; JDBC-sink pk (raw-pg.json:11)
    trade_id: String,
    trade_seq: Long
)

object Trade {
  val schema: StructType = Encoders.product[Trade].schema
  val directions: Set[String] = Set("buy", "sell", "zero")
  val liquidations: Set[String] = Set("M", "T", "MT")
}

/** Aggregate output record (reference: indicators.rs:6-11).
  * `period` is in SECONDS (config minutes x 60, main.rs:111);
  * `alpha` = 2/(period+1); `current` emitted only when > 0 (main.rs:118).
  */
final case class Ewma(period: Long, alpha: Double, current: Double)

object Ewma {
  val schema: StructType = Encoders.product[Ewma].schema
}

/** One observation of the price series inside a window: the deterministic
  * fold order is (ts, seq) — SURVEY.md §2.3 pitfall 4 (arrival order is not
  * reproducible in a distributed engine, so we pin event order explicitly).
  */
final case class PricePoint(ts: Long, seq: Long, price: Double)
