package org.apache.spark.sql.graftvec

import java.sql.Connection

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.executor.InputMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{AnsiTypeCoercion, TypeCoercion}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._

/** The task side of `graft.streaming.EwmaPipeline.jdbcSink` on an existing
  * table: each task takes its rows (already deduplicated on the pk, so a
  * key lives in exactly one task), reads which of their keys the table
  * already holds on its own connection, and inserts the rest with Spark's
  * own `JdbcUtils.savePartition`, so type mapping, batching, isolation and
  * the per-partition transaction are those of `write.jdbc`.
  *
  * The probe reads `pk >= min AND pk <= max` of the task's keys when the
  * pk type orders without a collation (numeric, date, timestamp), and the
  * whole pk column otherwise: the database must not compare strings
  * (Derby cannot compare the CLOB Spark's dialect stores them as, and
  * database collations differ from Spark's). Either way Spark decides
  * equality: probe rows are read through `JdbcUtils.resultSetToSparkInternalRows`
  * and both sides' keys compare as Catalyst values of one type (the wider
  * of the two pk types, as a join coerces them), floats normalised as a
  * join normalises them.
  *
  * @param tablePk the pk column as a Spark JDBC read of the table types it
  * @param keyType the type both sides' keys compare in
  */
final case class JdbcAppend(
    options: JdbcOptionsInWrite, rowSchema: StructType, pk: Int,
    tablePk: StructField, keyType: DataType, insertStmt: String, timeZoneId: String) {

  /** One task: drop the rows whose key the table holds, insert the rest. */
  def insertAbsent(rows: Iterator[Row]): Unit = {
    val batch = rows.toArray
    if (batch.nonEmpty) {
      val dialect = JdbcDialects.get(options.url)
      val conn = dialect.createConnectionFactory(options)(-1)
      val fresh = try absent(conn, batch) finally conn.close()
      JdbcUtils.savePartition(options.table, fresh.iterator, rowSchema, insertStmt,
        options.batchSize, dialect, options.isolationLevel, options)
    }
  }

  /** The rows of `batch` whose key `conn`'s table does not hold. A null
    * key matches nothing, as in a join.
    */
  def absent(conn: Connection, batch: Array[Row]): Array[Row] =
    if (batch.forall(_.isNullAt(pk))) batch
    else {
      def keyOf(t: DataType) = UnsafeProjection.create(Seq(NormalizeFloatingNumbers.normalize(
        Cast(BoundReference(0, t, nullable = true), keyType, Some(timeZoneId)))))
      val probeKey = keyOf(tablePk.dataType)
      val held = scala.collection.mutable.HashSet.empty[UnsafeRow]
      val stmt = conn.prepareStatement(probeSql(batch))
      try {
        stmt.setFetchSize(options.fetchSize)
        stmt.setQueryTimeout(options.queryTimeout)
        val metrics = Option(TaskContext.get()).fold(new InputMetrics)(_.taskMetrics().inputMetrics)
        JdbcUtils.resultSetToSparkInternalRows(stmt.executeQuery(),
            JdbcDialects.get(options.url), StructType(Seq(tablePk)), metrics)
          .foreach(r => if (!r.isNullAt(0)) held += probeKey(r).copy())
      } finally stmt.close()
      val rowKey = keyOf(rowSchema(pk).dataType)
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(rowSchema(pk).dataType)
      batch.filter(r => r.isNullAt(pk) || !held.contains(rowKey(InternalRow(toCatalyst(r.get(pk))))))
    }

  /** The probe's SQL for `batch`: bounded by its keys' range when the pk
    * type is collation-free and the bounds are finite, else the whole
    * column.
    */
  def probeSql(batch: Array[Row]): String = {
    val dialect = JdbcDialects.get(options.url)
    val c = dialect.quoteIdentifier(tablePk.name)
    def literal(v: Any): Option[String] = v match {
      case d: java.lang.Double if d.isNaN || d.isInfinite => None
      case f: java.lang.Float if f.isNaN || f.isInfinite => None
      case d: java.math.BigDecimal => Some(d.toPlainString)
      case other => Some(dialect.compileValue(other).toString)
    }
    val range = rowSchema(pk).dataType match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType =>
        val keys = batch.filterNot(_.isNullAt(pk)).map(_.get(pk).asInstanceOf[Comparable[Any]])
        val order: Ordering[Comparable[Any]] = (a, b) => a.compareTo(b)
        if (keys.isEmpty) None
        else for (lo <- literal(keys.min(order)); hi <- literal(keys.max(order)))
          yield s" WHERE $c >= $lo AND $c <= $hi"
      case _ => None
    }
    s"SELECT $c FROM ${options.table}${range.getOrElse("")}"
  }
}

object JdbcAppend {

  /** The task body for appending `rowSchema` rows keyed on `pkCol` to an
    * existing `table` whose Spark read schema is `tableSchema`; built on
    * the driver with the session's case sensitivity, type coercion and
    * time zone.
    */
  def forTable(spark: SparkSession, url: String, table: String, props: java.util.Properties,
      rowSchema: StructType, pkCol: String, tableSchema: StructType): JdbcAppend = {
    val conf = spark.sessionState.conf
    val options = new JdbcOptionsInWrite(url, table,
      props.asScala.toMap ++ Map("url" -> url, "dbtable" -> table))
    val named = (f: StructField) =>
      if (conf.caseSensitiveAnalysis) f.name == pkCol else f.name.equalsIgnoreCase(pkCol)
    val pk = rowSchema.fields.indexWhere(named)
    val tablePk = tableSchema.find(named).getOrElse(throw new IllegalArgumentException(
      s"table $table has no pk column $pkCol: ${tableSchema.simpleString}"))
    val rowType = rowSchema(pk).dataType
    val keyType = if (rowType == tablePk.dataType) rowType else {
      val coercion = if (conf.ansiEnabled) AnsiTypeCoercion else TypeCoercion
      coercion.findWiderTypeForTwo(rowType, tablePk.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"pk $pkCol is ${rowType.simpleString} in the stream and " +
            s"${tablePk.dataType.simpleString} in table $table"))
    }
    JdbcAppend(options, rowSchema, pk, tablePk, keyType,
      JdbcUtils.getInsertStatement(table, rowSchema, Some(tableSchema),
        conf.caseSensitiveAnalysis, JdbcDialects.get(url)),
      conf.sessionLocalTimeZone)
  }
}
