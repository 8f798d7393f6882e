package portalbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.api.{GraftHttpServer, GraftSession}
import graft.catalog.GraftCatalog

/**
 * The system process: one Spark session and one [[GraftHttpServer]], built
 * exactly the way `graft.api.Serve` builds them, over a warehouse this
 * process fills during set-up. Set-up uses only public table calls; every
 * timed operation then arrives over HTTP from the separate generator
 * process ([[Load]]).
 *
 * Besides the portal it opens a small control endpoint of its own on
 * another port: `GET /jvm` (GC totals and heap after GC, read by the
 * generator at the edges of the timed window) and `POST /stop`.
 *
 * With `--trace` it does not wait for a generator: it runs the same
 * seeded workload in-process through [[Tracer]], which repeats every
 * portal operation one level down through the layers' public functions.
 *
 * Usage: `Portal --work DIR --workload W --seed N --seconds S
 *   [--scale X] [--clients C] [--trace]`
 */
object Portal {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = Opts(args)
    val work = Paths.get(opts("work")).toAbsolutePath
    val workload = opts("workload")
    val gen = new Gen(opts("seed").toLong)
    val scale = Scale(opts.getOrElse("scale", "1").toDouble)
    val spark = serveSession(work.resolve("warehouse"))
    val session = new GraftSession(new GraftCatalog(spark, work.resolve("warehouse")))
    val trace = opts.contains("trace")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val setup = Setup.run(workload, session, gen, scale, shadow = trace) ++ Map(
      "session_s" -> sessionS, "tables_s" -> ((System.nanoTime() - t0) / 1e9 - sessionS),
      "spark_conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql")).toMap,
      "jvm_start_epoch_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "ready_epoch_ms" -> System.currentTimeMillis())
    Json.write(work.resolve("setup.json"), setup)
    session.refreshViews()
    val srv = new GraftHttpServer(session, 0).start()

    if (trace) {
      val out = Tracer.run(workload, session, srv.boundPort, gen, scale, work,
        opts("seconds").toDouble, opts("clients").toInt, setup)
      Json.write(work.resolve("trace.json"), out)
      srv.stop()
      spark.stop()
      sys.exit(0)
    }

    val ctl = Control.start(() => {
      srv.stop()
      spark.stop()
    })
    Json.write(work.resolve("ports.json"),
      Map("portal" -> srv.boundPort, "control" -> ctl))
    Thread.currentThread().join()
  }

  /** `graft.api.Serve`'s session, verbatim, with its warehouse. */
  def serveSession(warehouse: Path): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.catalog.lake",
      classOf[graft.connector.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.lake.warehouse", warehouse.toString)
    spark
  }
}

/** Input sizes; `factor` 1 is the benchmark, 0.01 the self-test. */
final case class Scale(factor: Double) {
  private def n(base: Int, floor: Int) = math.max(floor, (base * factor).toInt)
  /** The serve table. */
  val acctRows: Int = n(50000, 1000)
  val serveBatchRows: Int = n(200, 20)
  /** The cdc_ingest table, and its batch: the reference merger's
    * micro-batch (`maxOffsetsPerTrigger` = 100,000), the size the
    * repository's own CDC bench uses for its waves. */
  val cdcAcctRows: Int = n(100000, 1000)
  val cdcBatchRows: Int = cdcAcctRows
}

/** Table set-up per workload, through public table calls only. */
object Setup {
  val Buckets = 16

  def run(workload: String, session: GraftSession, gen: Gen, scale: Scale,
      shadow: Boolean): Map[String, Any] = {
    val spark = session.catalog.spark
    workload match {
      case "cdc_ingest" | "serve" =>
        val base = acctBase(spark, gen,
          if (workload == "cdc_ingest") scale.cdcAcctRows else scale.acctRows)
        val tables = if (shadow) Seq("acct", "acct_shadow") else Seq("acct")
        tables.foreach { t =>
          val table = session.catalog.createTable(t, StructType.fromDDL(Gen.AcctDdl))
          table.overwriteBucketed(base, "id", Buckets)
          // serve starts with a pending delta chain of unchanged images; the
          // traced pass's shadow also stands in for the warm-up batches,
          // which it does not see, so both chains compact on the same batch.
          val deltas = Workloads.ServePreDeltas + (if (t == "acct") 0 else Workloads.ServeWarmBatches)
          if (workload == "serve") (0 until deltas).foreach { k =>
            table.upsertDeferred(base.filter(pmod(col("id"), lit(250)) === k), "id")
          }
        }
        Map("tables" -> Seq("acct"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def acctBase(spark: SparkSession, gen: Gen, n: Int): DataFrame = {
    val rows = spark.sparkContext.range(1L, n + 1L, 1L, spark.sparkContext.defaultParallelism)
      .map(id => Row(id, 0, gen.amount(id, 0), gen.name(id, 0), gen.note(id, 0)))
    spark.createDataFrame(rows, StructType.fromDDL(Gen.AcctDdl))
  }
}

/** Minimal JSON writer for the benchmark's own files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JString(s)))
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigInt => n.toString
    case n: BigDecimal => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => render(other.toString)
  }

  def write(p: Path, v: Any): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, render(v).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def parse(s: String): org.json4s.JValue = org.json4s.jackson.JsonMethods.parse(s)

  def read(p: Path): org.json4s.JValue =
    parse(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))

  /** Canonical text of a JSON value: object keys sorted, so two renderings
    * of one row compare equal whatever their field order. */
  def canon(v: org.json4s.JValue): String = {
    import org.json4s._
    v match {
      case JObject(fs) => fs.sortBy(_._1).map { case (k, x) => render(k) + ":" + canon(x) }
        .mkString("{", ",", "}")
      case JArray(xs) => xs.map(canon).mkString("[", ",", "]")
      case other => org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(other))
    }
  }
}

/** `--key value` / `--key=value` / `--flag` argument parsing. */
object Opts {
  def apply(args: Array[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k.contains("=")) { out += k.takeWhile(_ != '=') -> k.dropWhile(_ != '=').drop(1); i += 1 }
      else if (i + 1 < args.length && !args(i + 1).startsWith("--")) { out += k -> args(i + 1); i += 2 }
      else { out += k -> "true"; i += 1 }
    }
    out.result()
  }
}

/** The system process's control endpoint (not part of the portal). */
object Control {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}

  def start(stop: () => Unit): Int = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, b.length.toLong)
      ex.getResponseBody.write(b); ex.close()
    }
    server.createContext("/jvm", ex => reply(ex, Json.render(JvmStats.snapshot())))
    server.createContext("/stop", ex => {
      reply(ex, "{}")
      new Thread(() => {
        try stop() finally { server.stop(0); sys.exit(0) }
      }).start()
    })
    server.start()
    server.getAddress.getPort
  }
}

/** JVM totals: collector time and count, and heap in use after the last
  * collection of each heap pool. */
object JvmStats {
  import scala.jdk.CollectionConverters._
  import java.lang.management.ManagementFactory

  def snapshot(): Map[String, Any] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val afterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    Map(
      "gc_ms" -> gcs.map(b => math.max(0L, b.getCollectionTime)).sum,
      "gc_count" -> gcs.map(b => math.max(0L, b.getCollectionCount)).sum,
      "heap_after_gc_mb" -> afterGc / 1048576.0,
      "collectors" -> gcs.map(_.getName).toSeq,
      "input_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
  }
}
