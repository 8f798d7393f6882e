package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graft.RowJson
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The driver-side row encoder against Spark's own `toJSON`: for generated
 * rows over every type a serving reply can carry, with nulls everywhere a
 * null fits, `RowJson.rows` must equal `createDataFrame(rows,
 * st).toJSON.collect()` byte for byte. Fixed seed; 40 frames of 1-8 rows
 * per run.
 */
class RowJsonSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val st = StructType(Seq(
    StructField("l", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("dec", DecimalType(12, 3)),
    StructField("s", StringType), StructField("b", BooleanType),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("bin", BinaryType), StructField("arr", ArrayType(StringType)),
    StructField("m", MapType(StringType, IntegerType)),
    StructField("st", StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType))))))

  private val Frames = 40

  /** Text over quotes, backslashes, every control character, non-ASCII
    * BMP characters, line separators and non-BMP code points. */
  private def text(r: scala.util.Random): String = {
    val pool = Seq[Int]('"', '\\', '/', 'a', 'Z', '0', ' ', 0x7f, 0xe9, 0x4e2d,
      0x2028, 0xfeff, 0x1f600, 0x1d11e, 0x10ffff) ++ (0 until 0x20)
    val sb = new java.lang.StringBuilder
    (0 until r.nextInt(12)).foreach(_ => sb.appendCodePoint(pool(r.nextInt(pool.size))))
    sb.toString
  }

  private def row(r: scala.util.Random): Row = {
    def orNull[A](a: => A): Any = if (r.nextInt(6) == 0) null else a
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 1e300, Double.MinPositiveValue, 0.1)
    Row(
      orNull(r.nextLong()),
      orNull(r.nextInt()),
      orNull(if (r.nextBoolean()) doubles(r.nextInt(doubles.size)) else r.nextGaussian() * 1e6),
      orNull(java.math.BigDecimal.valueOf(r.nextLong() % 1000000000000L, 3)),
      orNull(text(r)),
      orNull(r.nextBoolean()),
      orNull(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(-25567 + r.nextInt(73049)))),
      orNull {
        val t = new java.sql.Timestamp(-2208988800000L + (r.nextDouble() * 6.3e12).toLong)
        t.setNanos(r.nextInt(1000000) * 1000)
        t
      },
      orNull(Array.fill(r.nextInt(9))(r.nextInt(256).toByte)),
      orNull(Seq.fill(r.nextInt(4))(orNull(text(r)))),
      orNull((0 until r.nextInt(4)).map(k =>
        s"k$k${text(r)}" -> orNull(Int.box(r.nextInt()))).toMap),
      orNull(Row(orNull(r.nextInt()), orNull(text(r)))))
  }

  private def frames(seed: Long): Seq[Seq[Row]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(Frames)(Seq.fill(1 + r.nextInt(8))(row(r)))
  }

  private def spark2json(rows: Seq[Row]): Seq[String] =
    spark.createDataFrame(rows.asJava, st).toJSON.collect().toSeq

  private def check(got: Seq[Seq[String]], want: Seq[Seq[String]]): Unit =
    got.zip(want).zipWithIndex.foreach { case ((g, w), k) =>
      assert(g == w, s"frame $k")
    }

  test("encoder output equals toJSON byte for byte on the test thread") {
    val fs = frames(20261019L)
    check(fs.map(RowJson.rows(spark, st, _)), fs.map(spark2json))
    // the reply envelope around them is dfJson's
    val df = spark.createDataFrame(fs.head.asJava, st)
    assert(RowJson.render(spark, st, fs.head) ==
      RowJson.document(df.columns.toSeq, df.toJSON.collect().toSeq))
  }

  test("encoder follows the session's conf from a thread with no active session") {
    // Settings the fallback conf does not share: nulls written out, and a
    // non-UTC session zone for timestamp text.
    val keys = Seq("spark.sql.jsonGenerator.ignoreNullFields" -> "false",
      "spark.sql.session.timeZone" -> "America/Los_Angeles")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fs = frames(7L)
      val want = fs.map(spark2json)
      assert(want.flatten.exists(_.contains(":null")), "nulls must be written")
      var got: Seq[Seq[String]] = Nil
      var fallbackIgnoresNulls = false
      var failure: Throwable = null
      val t = new Thread(() => try {
        SparkSession.clearActiveSession()
        assert(SparkSession.getActiveSession.isEmpty)
        fallbackIgnoresNulls = SQLConf.get.jsonGeneratorIgnoreNullFields
        got = fs.map(RowJson.rows(spark, st, _))
      } catch { case e: Throwable => failure = e })
      t.start(); t.join()
      if (failure != null) throw failure
      assert(fallbackIgnoresNulls, "the fresh thread must see a conf other than the session's")
      check(got, want)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
