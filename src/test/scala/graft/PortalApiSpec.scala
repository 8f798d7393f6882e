package graft

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{GraftHttpServer, GraftSession}
import graft.catalog.GraftCatalog
import graft.log.Snapshot
import graft.table.GraftTable

/**
 * The public calls the portal benchmark (`portalbench/`) builds against,
 * written out with their result types. The benchmark compiles against this
 * tree, so a signature change there would only show when the benchmark's
 * own build broke; pinned here, it fails this suite's compile instead.
 * Nothing is executed: `pinned` is never called.
 */
class PortalApiSpec extends AnyFunSuite {

  private def pinned(spark: SparkSession, warehouse: Path, df: DataFrame,
      raw: DataFrame, schema: StructType, word: String): Unit = {
    val session: GraftSession = new GraftSession(new GraftCatalog(spark, warehouse))
    session.refreshViews()
    val sparkOfCatalog: SparkSession = session.catalog.spark
    val srv: GraftHttpServer = new GraftHttpServer(session, 0).start()
    val port: Int = srv.boundPort
    srv.stop()

    val t: GraftTable = session.catalog.createTable("acct", schema)
    val created: Snapshot = t.overwriteBucketed(df, "id", 16)
    val deferred: Snapshot = t.upsertDeferred(df, "id")
    val same: GraftTable = session.catalog.table("acct")
    val head: Option[Snapshot] = same.log.latest()
    val lazyRows: DataFrame = same.lookupKey(1L)
    val rows: Seq[Row] = same.lookupKeyRows(1L)
    val read: DataFrame = same.read()
    val logDir: Path = same.root.resolve("_log")
    val version: Long = same.latestVersion

    val decoded: DataFrame = graft.cdc.Envelope.transformBatch(raw, schema, "id",
      wrappedHint = Some(true))
    val merged: Snapshot = same.upsert(decoded, "id", opCol = Some("op"), preDeduped = true)
    val delta: Snapshot = same.upsertDeferred(decoded, "id", opCol = Some("op"),
      preDeduped = true)
    val dirs: Seq[String] = delta.deltaDirs
    // The benchmark times this call and keeps the span's milliseconds
    // (`span(...)(compact())._2`); the call itself returns the snapshot.
    val compacted: Snapshot = same.compact()
    val hits: DataFrame = graft.search.Search.likeFallback(read, "id", word)

    val ext: graft.plans.GraftExtensions = new graft.plans.GraftExtensions()
    val catalogClass: String = classOf[graft.connector.GraftSparkCatalog].getName
  }

  test("the portal benchmark's calls into the tree compile with their result types") {
    // The assertion is the compile of `pinned` above.
    assert(classOf[PortalApiSpec].getDeclaredMethods.exists(_.getName.contains("pinned")))
  }
}
