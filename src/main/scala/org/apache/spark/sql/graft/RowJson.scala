package org.apache.spark.sql.graft

import java.io.CharArrayWriter

import com.fasterxml.jackson.core.io.JsonStringEncoder

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/**
 * JSON for rows the driver already holds, without a plan or a Spark job:
 * byte for byte the text `createDataFrame(rows, schema).toJSON` collects.
 * It drives the same `private[sql]` generator `Dataset.toJSON` runs per
 * partition, over rows converted with the same catalyst converters, so
 * serving endpoints that answer from driver-side rows (key lookups, point
 * reads, `$snapshots`) keep the wire format of the lazy-frame endpoints.
 */
object RowJson {

  /** One JSON object per row. The schema is made all-nullable, as a
    * serving lookup labels its rows. Runs under the session's own conf:
    * on a thread with no active session (an HTTP pool thread) `SQLConf.get`
    * would read the fallback conf, losing the session's `ignoreNullFields`
    * and datetime settings that a task of `toJSON` sees. */
  def rows(spark: SparkSession, schema: StructType, rows: Seq[Row]): Seq[String] = {
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val st = StructType(schema.fields.map(_.copy(nullable = true)))
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(st)
      val writer = new CharArrayWriter()
      val gen = new JacksonGenerator(st, writer,
        new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone))
      try rows.iterator.map { r =>
        gen.write(toCatalyst(r).asInstanceOf[InternalRow])
        gen.flush()
        val json = writer.toString
        writer.reset()
        json
      }.toVector
      finally gen.close()
    }
  }

  /** One JSON string literal, fully escaped: quotes, backslashes and every
    * control character, so a multi-line message keeps its line breaks. */
  def quote(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance().quoteAsString(s)) + "\""

  /** `{"columns":[...],"rows":[...]}` around already-encoded rows — the
    * JSON face of a cursor description plus fetchall. */
  def document(columns: Seq[String], rows: Seq[String]): String = {
    val cols = columns.map(quote).mkString("[", ",", "]")
    s"""{"columns":$cols,"rows":${rows.mkString("[", ",", "]")}}"""
  }

  /** [[document]] over [[rows]]: the whole reply for driver-side rows. */
  def render(spark: SparkSession, schema: StructType, rows: Seq[Row]): String =
    document(schema.fieldNames.toSeq, this.rows(spark, schema, rows))
}
