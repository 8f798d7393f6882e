package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.graft.RowJson
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession(4)
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_ONLY=q1_agg,q2_... runs just those
    // entries (the driver never sets it, so the gate always runs the full
    // registry).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        // Fail a typo loudly: a misspelled name silently matching nothing
        // would exit 0 having verified nothing.
        val unknown = names.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.mkString(", ")}")
        SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // Registry-wide output-type audit (round 17): the driver's hash compare
    // is only proven on the leaf types below — r16's sole raw-DECIMAL output
    // column hash-failed officially while passing a value-exact local DuckDB
    // compare. A novel type now fails ITS gate loudly (an `err` row in
    // CORRECTNESS, not a silent hash mismatch), pointing at the Q.scala
    // convention (decimal-exact math, DOUBLE/STRING outputs).
    import org.apache.spark.sql.types._
    def unstable(dt: DataType, path: String): Seq[String] = dt match {
      case s: StructType =>
        s.fields.toSeq.flatMap(f => unstable(f.dataType, s"$path.${f.name}"))
      case a: ArrayType => unstable(a.elementType, s"$path[]")
      case m: MapType =>
        unstable(m.keyType, s"$path<key>") ++ unstable(m.valueType, s"$path<val>")
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType | DateType | TimestampType |
           TimestampNTZType => Nil
      case other => Seq(s"$path: ${other.sql}")
    }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val bad = unstable(df.schema, name)
        require(bad.isEmpty, "output type(s) not driver-hash-proven: " +
          bad.mkString("; ") + " — cast to DOUBLE/STRING per Q.scala convention")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${RowJson.quote(k)}: ${RowJson.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
