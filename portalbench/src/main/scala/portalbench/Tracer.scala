package portalbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.desc
import org.apache.spark.sql.types.StructType

import graft.api.GraftSession

/** One timed call: `layer` names the module, `op` the workload operation
  * it belongs to. Times are `System.nanoTime`. */
final case class Span(layer: String, op: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/**
 * Spark work per job, tagged by who launched it: `direct` (the tracer's
 * own layer calls, tagged through a local property on the calling
 * thread), `stream` (the CDC pipeline, whose jobs carry the streaming
 * query's job group) or `portal` (an HTTP handler thread, which carries
 * neither).
 */
final class ExecListener extends SparkListener {
  import ExecListener.Job

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  // Listener events arrive with wall-clock times; spans use nanoTime.
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long) = ms * 1000000L + offsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group =
      if (p.exists(_.getProperty(Tracer.TagKey) != null)) "direct"
      else if (p.exists(_.getProperty("spark.jobGroup.id") != null)) "stream"
      else "portal"
    jobs.put(e.jobId, Job(group, ns(e.time)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = ns(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    for (job <- j; m <- Option(e.taskMetrics)) job.synchronized {
      job.tasks += 1
      job.taskMs += m.executorRunTime
      job.cpuMs += m.executorCpuTime / 1e6
      job.inputBytes += m.inputMetrics.bytesRead
      job.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def inWindow(group: String, from: Long, to: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.group == group && j.start >= from && j.start < to).toSeq
}

object ExecListener {
  final case class Job(group: String, start: Long, var end: Long = -1L, var tasks: Long = 0,
      var taskMs: Double = 0, var cpuMs: Double = 0, var inputBytes: Long = 0,
      var shuffleBytes: Long = 0, var spillBytes: Long = 0)
}

/**
 * The traced pass. It runs the same seeded workload as the generator, from
 * inside the system process, and after each timed portal operation repeats
 * it one level down through the layers' public functions — `graft.log`
 * (`SnapshotLog.latest`), `graft.table` (`lookupKeyRows`, `lookupKey`),
 * `graft.cdc` (`Envelope.transformBatch`), the write path (`upsert`,
 * `upsertDeferred`, `compact` on a shadow copy of the table with the same
 * history) — each inside a span, and after the `serve` window
 * `graft.search`. A [[ExecListener]] attributes
 * Spark jobs, tasks, CPU, bytes and spill to the portal operations. Spans
 * stay in memory and are written out when the pass ends.
 */
object Tracer {
  val TagKey = "portalbench.span"

  def run(workload: String, session: GraftSession, port: Int, gen: Gen, scale: Scale,
      work: Path, seconds: Double, clients: Int, setup: Map[String, Any]): Map[String, Any] = {
    val spark = session.catalog.spark
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)
    val hooks = new TraceHooks(workload, session, setup)
    val w = new Workloads(port, gen, scale, work, seconds, clients, hooks, () => JvmStats.snapshot())
    val rec = w.run(workload)
    if (workload == "serve") hooks.searchProbe()
    Thread.sleep(500) // let the listener bus deliver the window's last events
    val spans = hooks.spans.asScala.toSeq
    Gen.writeLines(work.resolve("spans.jsonl"), spans.iterator.map(s => Json.render(Map(
      "layer" -> s.layer, "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end))))
    rec ++ Map("layers" -> hooks.summary(listener, rec, session))
  }

  private[portalbench] def timed[A](spans: ConcurrentLinkedQueue[Span], layer: String, op: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    val s = Span(layer, op, t0, System.nanoTime())
    spans.add(s)
    (a, s.ms)
  }
}

/** The traced pass's per-operation layer calls and their summary. */
final class TraceHooks(workload: String, session: GraftSession, setup: Map[String, Any]) extends Hooks {
  private val spark: SparkSession = session.catalog.spark
  val spans = new ConcurrentLinkedQueue[Span]()
  private val commitSeq = new AtomicLong
  private val seenSeq = new AtomicLong
  // Portal operation spans: (op, start, end) from the client's round trip.
  private val opSpans = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val batchStats = new ConcurrentLinkedQueue[(Double, Long, Long)]() // (userBytes, filesAdded, bytesAdded)
  private val schema = StructType.fromDDL(Gen.AcctDdl)

  private def span[A](layer: String, op: String)(f: => A): (A, Double) = Tracer.timed(spans, layer, op)(f)
  private def record(layer: String, op: String, ms: Double): Unit = {
    val t = System.nanoTime(); spans.add(Span(layer, op, t - (ms * 1e6).toLong, t))
  }

  private def direct[A](f: => A): A = {
    spark.sparkContext.setLocalProperty(Tracer.TagKey, "direct")
    try f finally spark.sparkContext.setLocalProperty(Tracer.TagKey, null)
  }

  override def lookup(key: Long, rttMs: Double): Unit = direct {
    val end = System.nanoTime()
    opSpans.add(("lookup", end - (rttMs * 1e6).toLong, end))
    val t = session.catalog.table("acct")
    span("log.head", "lookup")(t.log.latest())
    val fresh = { val c = commitSeq.get; val s = seenSeq.get; c > s && seenSeq.compareAndSet(s, c) }
    val (_, lookupMs) = span("table.lookup", "lookup")(t.lookupKeyRows(key))
    if (fresh) record("table.lookup_after_commit", "lookup", lookupMs)
    // The portal's own shape of the same read: lookupKey(...).limit(1)
    // rendered through toJSON, planned (not run) here.
    span("plan", "lookup")(t.lookupKey(key).limit(1).toJSON.queryExecution.executedPlan)
    record("api.self", "lookup", rttMs - lookupMs)
  }

  override def batch(file: Path, userBytes: Long, commitMs: Double): Unit = direct {
    commitSeq.incrementAndGet()
    val end = System.nanoTime()
    opSpans.add(("batch", end - (commitMs * 1e6).toLong, end))
    record("cdc.batch", "batch", commitMs)
    val raw = spark.read.text(file.toString)
    val (decoded, _) = span("plan", "batch") {
      val d = graft.cdc.Envelope.transformBatch(raw, schema, "id", wrappedHint = Some(true)).drop("ts_ms")
      d.queryExecution.executedPlan
      d
    }
    val cached = decoded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (_, decodeMs) = span("cdc.decode", "batch")(cached.count())
      val shadow = session.catalog.table("acct_shadow")
      val before = dataFiles(shadow.root)
      val (snap, writeMs) =
        if (workload == "cdc_ingest") span("write.merge", "batch")(
          shadow.upsert(cached, "id", opCol = Some("op"), preDeduped = true))
        else span("write.delta", "batch")(
          shadow.upsertDeferred(cached, "id", opCol = Some("op"), preDeduped = true))
      val compactMs =
        if (snap.deltaDirs.size >= 16) span("write.compact", "batch")(shadow.compact())._2 else 0.0
      val after = dataFiles(shadow.root)
      val added = after.keySet -- before.keySet
      batchStats.add((userBytes.toDouble, added.size.toLong, added.toSeq.map(after).sum))
      span("log.head", "batch")(shadow.log.latest())
      record("cdc.pipeline_self", "batch", commitMs - decodeMs - writeMs - compactMs)
    } finally cached.unpersist(blocking = false)
  }

  /** After the window: keyword reads of the served table through
    * `graft.search` (the portal's `/view?search=` operator), one per word
    * of the note vocabulary's first eight, so the search layer has a
    * number. */
  def searchProbe(): Unit = direct {
    val t = session.catalog.table("acct")
    Gen.Words.take(8).foreach { w =>
      span("search", "probe")(graft.search.Search.likeFallback(t.read(), "id", w)
        .orderBy(desc("id")).limit(100).collect())
    }
  }

  private def dataFiles(root: Path): Map[String, Long] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  def summary(listener: ExecListener, rec: Map[String, Any], session: GraftSession): Map[String, Any] = {
    val all = spans.asScala.toSeq
    def ms(layer: String, op: String = null) =
      all.filter(s => s.layer == layer && (op == null || s.op == op)).map(_.ms)
    def p(layer: String, q: Double, op: String = null) = {
      val xs = ms(layer, op); if (xs.isEmpty) 0.0 else Stats.pct(xs, q)
    }
    val ops = opSpans.asScala.toSeq
    val exec = Seq("lookup" -> "portal", "batch" -> "stream").flatMap {
      case (op, group) =>
        val mine = ops.filter(_._1 == op)
        val from = if (mine.isEmpty) 0L else mine.map(_._2).min
        val to = if (mine.isEmpty) 0L else mine.map(_._3).max
        val jobs = if (mine.isEmpty) Nil else listener.inWindow(group, from, to)
        val n = math.max(1, mine.size).toDouble
        // Driver time: the part of each operation's span no job covers.
        val driver = mine.map { case (_, s, e) =>
          val cover = jobs.filter(j => j.end > s && j.start < e)
            .map(j => (math.max(s, j.start), math.min(e, if (j.end < 0) e else j.end))).sortBy(_._1)
          var covered = 0L; var at = s
          cover.foreach { case (a, b) => if (b > at) { covered += b - math.max(a, at); at = b } }
          (e - s - covered) / 1e6
        }
        Seq(
          s"exec.$op.jobs" -> jobs.size / n,
          s"exec.$op.tasks" -> jobs.map(_.tasks).sum / n,
          s"exec.$op.task_ms" -> jobs.map(_.taskMs).sum / n,
          s"exec.$op.cpu_ms" -> jobs.map(_.cpuMs).sum / n,
          s"exec.$op.input_bytes" -> jobs.map(_.inputBytes).sum / n,
          s"exec.$op.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum / n,
          s"exec.$op.spill_bytes" -> jobs.map(_.spillBytes).sum / n,
          s"exec.$op.driver_ms" -> (if (driver.isEmpty) 0.0 else Stats.pct(driver, 50)))
    }
    val bs = batchStats.asScala.toSeq
    val tables = setup.get("tables").map(_.asInstanceOf[Seq[String]]).getOrElse(Nil)
    val logDirs = tables.map(t => session.catalog.table(t).root.resolve("_log"))
    val logFiles = logDirs.map(d => if (Files.exists(d)) Files.list(d).count() else 0L).sum
    def jvm(edge: String, k: String): Double =
      rec(edge).asInstanceOf[Map[String, Any]]("jvm").asInstanceOf[Map[String, Any]](k).toString.toDouble
    Map(
      "api.lookup_self_p50_ms" -> p("api.self", 50, "lookup"),
      "api.lookup_self_p99_ms" -> p("api.self", 99, "lookup"),
      "table.lookup_p50_ms" -> p("table.lookup", 50),
      "table.lookup_p99_ms" -> p("table.lookup", 99),
      "table.lookup_after_commit_ms" -> p("table.lookup_after_commit", 50),
      "log.head_ms" -> p("log.head", 50),
      "log.commits" -> tables.map(t => session.catalog.table(t).latestVersion).sum.toDouble,
      "log.files" -> logFiles.toDouble,
      "log.bytes" -> logDirs.map(Stats.dirBytes).sum.toDouble,
      "cdc.decode_ms" -> p("cdc.decode", 50),
      "cdc.batch_ms" -> p("cdc.batch", 50),
      "cdc.pipeline_self_ms" -> p("cdc.pipeline_self", 50),
      "write.merge_ms" -> p("write.merge", 50),
      "write.delta_ms" -> p("write.delta", 50),
      "write.compact_ms" -> p("write.compact", 50),
      "write.bytes_per_user_byte" ->
        (if (bs.isEmpty) 0.0 else bs.map(_._3).sum.toDouble / math.max(1.0, bs.map(_._1).sum)),
      "write.files_added" -> (if (bs.isEmpty) 0.0 else bs.map(_._2).sum.toDouble / bs.size),
      "plan.ms" -> p("plan", 50),
      "search.ms" -> p("search", 50),
      "jvm.gc_ms" -> (jvm("window_end", "gc_ms") - jvm("window_start", "gc_ms")),
      "jvm.gc_count" -> (jvm("window_end", "gc_count") - jvm("window_start", "gc_count")),
      "jvm.heap_after_gc_mb" -> jvm("window_end", "heap_after_gc_mb")) ++ exec
  }
}
