package portalbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong}

import scala.collection.mutable.ArrayBuffer

/** One HTTP/1.1 client over the portal; each calling thread holds at most
  * one connection at a time. */
final class PortalClient(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** (status, body, round trip ms). */
  def call(method: String, path: String): (Int, String, Double) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(java.time.Duration.ofSeconds(120))
      .method(method, HttpRequest.BodyPublishers.noBody()).build()
    val t0 = System.nanoTime()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    (r.statusCode(), r.body(), (System.nanoTime() - t0) / 1e6)
  }

  def ok(method: String, path: String): String = {
    val (s, b, _) = call(method, path)
    if (s != 200) throw new IllegalStateException(s"$method $path -> $s: ${b.take(300)}")
    b
  }
}

/**
 * Called by the workload loops after each operation of the timed window;
 * the traced pass ([[Tracer]]) repeats the operation through the layers
 * here. The untraced generator passes [[Hooks.None]].
 */
trait Hooks {
  def lookup(key: Long, rttMs: Double): Unit = ()
  def batch(file: Path, userBytes: Long, commitMs: Double): Unit = ()
}
object Hooks { object None extends Hooks }

/**
 * Warm-up of a fixed number of operations per workload. The counts were
 * chosen from the window medians of calibration runs (README.md); each
 * run records the medians of its own warm-up windows, so a drift that
 * reaches into the timed window stays visible.
 */
final class Warmup(val total: Int, window: Int) {
  private val cur = ArrayBuffer.empty[Double]
  private val medians = ArrayBuffer.empty[Double]
  private val t0 = System.nanoTime()
  @volatile var ops = 0

  def add(ms: Double): Unit = synchronized {
    ops += 1; cur += ms
    if (cur.size >= window) { medians += Stats.pct(cur.toSeq, 50); cur.clear() }
  }

  def done: Boolean = ops >= total

  def record: Map[String, Any] = synchronized(Map("ops" -> ops, "window_ops" -> window,
    "window_medians_ms" -> medians.toSeq, "seconds" -> (System.nanoTime() - t0) / 1e9))
}

object Stats {
  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** cpu line of /proc/stat: (idle + iowait, steal) ticks. */
  def cpuTicks(): (Long, Long) = try {
    val f = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")), StandardCharsets.US_ASCII)
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (f(3) + f(4), if (f.length > 7) f(7) else 0L)
  } catch { case _: Throwable => (0L, 0L) }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try { var n = 0L; s.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f)); n }
      finally s.close()
    }
}

/** Operation accounting shared by a workload's threads. */
final class Tally {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val msgs = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
  def fail(msg: String): Unit = { failed.incrementAndGet(); if (msgs.size < 10) msgs.add(msg) }
  def failures: Seq[String] = { import scala.jdk.CollectionConverters._; msgs.asScala.toSeq }
}

/**
 * The workloads. Each runs its warm-up and then `seconds` of timed
 * operations against the portal on `port`, checks every response, and
 * returns its measurements. `clients` bounds the threads (and so the
 * connections) the loop uses.
 */
final class Workloads(port: Int, gen: Gen, scale: Scale, work: Path, seconds: Double,
    clients: Int, hooks: Hooks, jvm: () => Map[String, Any]) {

  private val portal = new PortalClient(port)
  private val tally = new Tally
  private def now = System.nanoTime()

  /** Edge readings of the timed window: CPU ticks and the system's JVM. */
  private def edge(): Map[String, Any] = {
    val (idle, steal) = Stats.cpuTicks()
    Map("epoch_ms" -> System.currentTimeMillis(), "idle_ticks" -> idle,
      "steal_ticks" -> steal, "jvm" -> jvm())
  }

  private def finish(workload: String, warm: Warmup, t0Epoch: Long, start: Map[String, Any],
      tables: Seq[String], liveBytes: Long, metrics: Map[String, Any]): Map[String, Any] = {
    val end = edge()
    val disk = tables.map(t => Stats.dirBytes(work.resolve("warehouse").resolve(t))).sum
    Map("workload" -> workload, "end_epoch_ms" -> System.currentTimeMillis(), "attempted" -> tally.attempted.get, "failed" -> tally.failed.get,
      "failures" -> tally.failures, "first_timed_epoch_ms" -> t0Epoch, "warmup" -> warm.record,
      "window_start" -> start, "window_end" -> end, "disk_bytes" -> disk, "live_bytes" -> liveBytes,
      "metrics" -> (metrics + ("disk_bytes_per_live_byte" -> disk.toDouble / liveBytes)))
  }

  def run(workload: String): Map[String, Any] = workload match {
    case "cdc_ingest" => cdcIngest()
    case "serve" => serve()
  }

  // ------------------------------------------------------------ cdc_ingest

  /** Writes one batch file where the stream cannot see it. */
  private def stageBatch(stage: Path, lines: Iterator[String], k: Int): Path = {
    val p = stage.resolve(s"b$k.json")
    Gen.writeLines(p, lines)
    p
  }

  /** Lands a staged batch into `inDir` with one atomic rename. */
  private def land(staged: Path, inDir: Path): Path =
    Files.move(staged, inDir.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)

  /** Closed loop, one client: stage a batch, land it, drain it. A batch is
    * [[Scale.cdcBatchRows]] events, the size of the table, after the
    * reference merger's 100k-offset micro-batch: inserts of new keys,
    * deletes, first updates of distinct keys in a seeded order, and repeat
    * updates of keys already updated in the batch (see [[Workloads]] for
    * the mix). The timed window is [[Workloads.cdcWindowBatches]] batches. */
  private def cdcIngest(): Map[String, Any] = {
    import Workloads.{CdcInsert, CdcDelete, CdcRepeat}
    val model = new KeyModel(gen, scale.cdcAcctRows)
    val r = gen.rng("cdc_ingest")
    val inDir = Files.createDirectories(work.resolve("cdc_in"))
    val stage = Files.createDirectories(work.resolve("stage"))
    portal.ok("POST", s"/cdc/acct/start?mode=cow&trigger_ms=0&dir=${enc(inDir.toString)}")
    var ts = 1700000000000L
    var k = 0

    var userBytes = 0L
    def batchLines(): Array[String] = {
      userBytes = 0L
      val order = model.shuffledLive(r)
      var next = 0
      val updated = ArrayBuffer.empty[Long]
      def update(id: Long): String = {
        val v = model.update(id)
        userBytes += gen.rowLine(id, v).length
        Gen.envelope(Some(id), Some(gen.rowJson(id, v)), "u", ts)
      }
      val out = new Array[String](scale.cdcBatchRows)
      var i = 0
      while (i < out.length) {
        ts += 1
        val u = r.nextDouble()
        out(i) =
          if (u < CdcInsert || next >= order.length) {
            val id = model.insert()
            userBytes += gen.rowLine(id, 0).length
            Gen.envelope(None, Some(gen.rowJson(id, 0)), "c", ts)
          } else if (u < CdcInsert + CdcDelete) {
            val id = order(next); next += 1
            model.delete(id)
            Gen.envelope(Some(id), None, "d", ts)
          } else if (u < 1 - CdcRepeat || updated.isEmpty) {
            val id = order(next); next += 1
            updated += id
            update(id)
          } else update(updated(r.nextInt(updated.size)))
        i += 1
      }
      out
    }

    def one(timed: Boolean): Double = {
      k += 1
      val staged = stageBatch(stage, batchLines().iterator, k)
      val t0 = now
      val file = land(staged, inDir)
      if (timed) tally.attempted.incrementAndGet()
      val (s, b, _) = portal.call("POST", "/cdc/acct/drain")
      val ms = (now - t0) / 1e6
      if (s != 200 && timed) tally.fail(s"drain -> $s ${b.take(200)}")
      if (timed) hooks.batch(file, userBytes, ms)
      ms
    }

    val warm = new Warmup(Workloads.WarmCdcBatches, 1)
    while (!warm.done) warm.add(one(timed = false))
    val start = edge()
    val t0Epoch = System.currentTimeMillis()
    val commits = ArrayBuffer.empty[Double]
    // A fixed count of batches: equal work on every commit of the program,
    // and a final table (so disk_bytes_per_live_byte) that repeats.
    (1 to Workloads.cdcWindowBatches(seconds)).foreach(_ => commits += one(timed = true))
    val rows = commits.size.toLong * scale.cdcBatchRows
    // Throughput over the batches' own time, landing to drain returned;
    // the generator's staging between batches is not the system's.
    val busy = commits.sum / 1000

    // Row count and checksum of the table against the generator's model.
    val (n, h, live) = model.checksum
    tally.attempted.incrementAndGet()
    try {
      val body = portal.ok("GET", "/query?query=" + enc(
        "SELECT count(*) AS n, sum(crc32(concat_ws('|', cast(id AS string), cast(ver AS string), " +
          "cast(amount AS string), name, note))) AS h FROM lake.acct"))
      val row = Json.parse(body) \ "rows" match { case org.json4s.JArray(x :: _) => x; case o => o }
      val (gn, gh) = ((row \ "n").values.toString.toLong, (row \ "h").values.toString.toLong)
      val want = if (Workloads.Corrupt) n + 1 else n
      if (gn != want || gh != h) tally.fail(s"table holds $gn rows / checksum $gh, model $want / $h")
    } catch { case e: Throwable => tally.fail(s"checksum query: $e") }

    finish("cdc_ingest", warm, t0Epoch, start, Seq("acct"), live, Map(
      "op_p50_ms" -> Stats.pct(commits.toSeq, 50),
      "op_p90_ms" -> Stats.pct(commits.toSeq, 90),
      "ops_per_s" -> rows / busy,
      "commit_p50_ms" -> Stats.pct(commits.toSeq, 50),
      "ingest_rows_per_s" -> rows / busy,
      "commit_ms" -> commits.toSeq,
      "batches" -> commits.size, "batch_rows" -> scale.cdcBatchRows, "busy_s" -> busy))
  }

  // ----------------------------------------------------------------- serve

  /**
   * Closed-loop lookup clients ([[Workloads.ServeLookupClients]]) on a seeded key mix
   * — half the keys of the most recently committed batch, half uniform —
   * beside one open-loop writer that lands a merge-on-read batch every
   * `periodMs` and drains it. A lookup must return a committed version of
   * its key no older than the last commit acknowledged before it was sent.
   */
  private def serve(): Map[String, Any] = {
    val n = scale.acctRows
    val landed = new AtomicIntegerArray(n + 1)
    val acked = new AtomicIntegerArray(n + 1)
    val inDir = Files.createDirectories(work.resolve("cdc_in"))
    val stage = Files.createDirectories(work.resolve("stage"))
    portal.ok("POST", s"/cdc/acct/start?mode=mor&trigger_ms=0&dir=${enc(inDir.toString)}")
    @volatile var recent: Array[Long] = Array(1L)
    @volatile var stop = false
    @volatile var wStart = Long.MaxValue
    @volatile var wEnd = Long.MaxValue
    def inWindow(t: Long) = t >= wStart && t < wEnd
    val periodMs = Workloads.ServePeriodMs
    // Warm-up is ServeWarmBatches writer periods; this records its lookups.
    val warm = new Warmup(0, 25)

    // Writer: batch k (from 0) is due at w0 + k * period; it is landed at
    // its due time (or as soon as the previous drain returns, if that is
    // later) and its commit latency runs from the due time to the drain's
    // return. The first ServeWarmBatches batches are warm-up; the window
    // opens at the next due time, so every run commits the same number of
    // deltas before and inside it.
    val commits = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    val lateMs = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    val writerRows = new AtomicLong
    val period = (periodMs * 1e6).toLong
    val writer = new Thread(() => {
      val r = gen.rng("serve-writer")
      val vers = new Array[Int](n + 1)
      val w0 = now
      wEnd = w0 + Workloads.ServeWarmBatches * period + (seconds * 1e9).toLong
      wStart = w0 + Workloads.ServeWarmBatches * period
      var k = 0
      var due = w0
      try while (due < wEnd) {
        while (now < due) Thread.sleep(math.max(1L, (due - now) / 1000000L))
        val keys = Iterator.continually(1L + r.nextInt(n)).distinct.take(scale.serveBatchRows).toArray
        val lines = keys.map { id =>
          val v = vers(id.toInt) + 1; vers(id.toInt) = v
          landed.set(id.toInt, v)
          Gen.envelope(Some(id), Some(gen.rowJson(id, v)), "u", 1700000000000L + k)
        }
        val landedAt = now
        val file = land(stageBatch(stage, lines.iterator, k), inDir)
        val timed = inWindow(due)
        if (timed) tally.attempted.incrementAndGet()
        val (s, b, _) = portal.call("POST", "/cdc/acct/drain")
        val ms = (now - due) / 1e6
        if (s != 200) { if (timed) tally.fail(s"drain -> $s ${b.take(200)}") }
        else {
          keys.foreach(id => acked.set(id.toInt, vers(id.toInt)))
          recent = keys
        }
        if (timed) {
          commits.add(ms); lateMs.add((landedAt - due) / 1e6); writerRows.addAndGet(keys.length)
          hooks.batch(file, keys.map(id => gen.rowLine(id, vers(id.toInt)).length.toLong).sum,
            (now - landedAt) / 1e6)
        }
        k += 1
        due = w0 + k * period
      } catch { case e: Throwable => tally.fail(s"writer: $e") }
    })

    val opIdx = new AtomicLong
    val samples = Array.fill(math.max(1, math.min(Workloads.ServeLookupClients, clients - 1)))(
      ArrayBuffer.empty[Double])
    val lookers = samples.indices.map { c => new Thread(() => {
      val mine = samples(c)
      while (!stop) {
        val i = opIdx.getAndIncrement()
        val h = Gen.mix(gen.seed * 31 + i)
        val key =
          if ((h & 1) == 0) { val rk = recent; rk(((h >>> 1) % rk.length).toInt.abs) }
          else 1L + ((h >>> 1) % n).abs
        val floor = acked.get(key.toInt) + (if (Workloads.Corrupt) 1000 else 0)
        val t0 = now
        val (s, body, rtt) = try portal.call("GET", s"/edit/acct/$key")
          catch { case e: Throwable => (-1, e.toString, (now - t0) / 1e6) }
        val ceil = landed.get(key.toInt)
        val timed = inWindow(t0)
        if (timed) { tally.attempted.incrementAndGet(); mine += rtt }
        else if (t0 < wStart) warm.add(rtt)
        val err = if (s != 200) Some(s"GET /edit/acct/$key -> $s ${body.take(200)}")
          else checkRow(body, key, floor, ceil)
        if (timed) {
          err.foreach(tally.fail)
          hooks.lookup(key, rtt)
        }
      }
    })}

    writer.start(); lookers.foreach(_.start())
    while (now < wStart) Thread.sleep(5)
    val start = edge()
    val t0Epoch = System.currentTimeMillis()
    while (now < wEnd) Thread.sleep(20)
    val end = now
    stop = true
    lookers.foreach(_.join()); writer.join()

    import scala.jdk.CollectionConverters._
    val lat = samples.flatMap(_.toSeq).toSeq
    val cm = commits.asScala.toSeq
    val live = (1L to n.toLong).map(id => gen.rowLine(id, acked.get(id.toInt)).length.toLong).sum
    finish("serve", warm, t0Epoch, start, Seq("acct"), live, Map(
      "op_p50_ms" -> Stats.pct(lat, 50),
      "op_p90_ms" -> Stats.pct(lat, 90),
      "ops_per_s" -> lat.size / ((end - wStart) / 1e9),
      "lookup_p50_ms" -> Stats.pct(lat, 50),
      "lookup_mean_ms" -> Stats.mean(lat),
      "lookup_p99_ms" -> Stats.pct(lat, 99),
      "lookups" -> lat.size,
      "commit_p50_ms" -> Stats.pct(cm, 50),
      "ingest_rows_per_s" -> writerRows.get / ((end - wStart) / 1e9),
      "batches" -> cm.size, "writer_late_p50_ms" -> Stats.pct(lateMs.asScala.toSeq, 50),
      "writer_period_ms" -> periodMs))
  }

  /** A lookup's JSON must hold exactly the model's row at a version between
    * the acknowledged floor and the landed ceiling. */
  private def checkRow(body: String, key: Long, floor: Int, ceil: Int): Option[String] = try {
    import org.json4s._
    Json.parse(body) \ "rows" match {
      case JArray(List(row)) =>
        val v = (row \ "ver").values.toString.toInt
        val want = Json.canon(Json.parse(gen.rowJson(key, v)))
        if (v < floor) Some(s"key $key: version $v older than acknowledged $floor")
        else if (v > ceil) Some(s"key $key: version $v was never landed (ceiling $ceil)")
        else if (Json.canon(row) != want) Some(s"key $key: row ${Json.canon(row)} is not version $v")
        else None
      case other => Some(s"key $key: expected one row, got ${Json.canon(other).take(200)}")
    }
  } catch { case e: Throwable => Some(s"key $key: unreadable response: $e") }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
}

object Workloads {
  /** The serve writer's schedule: one merge-on-read batch per period. A
    * lookup that overlaps a commit (about 0.8 s) or the compaction (3-5 s)
    * takes about twice as long as one that does not. At a 3 s period
    * 30-58 % of a single client's lookups overlapped the writer, so the
    * p50 moved between the two modes from run to run; at 5 s about 17 %
    * do (README.md). */
  val ServePeriodMs = 5000.0
  /** Three lookup clients (with the writer, four generator threads) keep
    * the portal near saturation, where a lookup's latency follows the
    * portal's throughput. One client's latency followed the host's speed
    * from run to run instead: over three ten-seed sets each, the p50's
    * interquartile range was 16-34 % of the median with one client and
    * 4-8 % with three, except in a set with two runs under heavy host
    * steal (25 %; README.md). */
  val ServeLookupClients = 3
  val ServeWarmBatches = 2
  /** Deltas committed in set-up. The pipeline compacts once 16 deltas are
    * pending (CdcPipeline's default compactEvery), so with this many the
    * second batch of the window runs the compaction. */
  val ServePreDeltas: Int = 16 - ServeWarmBatches - 2
  /** cdc_ingest's event mix: shares of inserts, deletes and repeat updates
    * of a key already updated in the batch; the rest (70 %) are first
    * updates of distinct keys, the reference merger's update-image diet. */
  val CdcInsert = 0.1
  val CdcDelete = 0.1
  val CdcRepeat = 0.1
  val WarmCdcBatches = 2
  /** Batches in the cdc_ingest window: about `seconds` at the 4 s a
    * batch took on the reference machine (README.md). */
  def cdcWindowBatches(seconds: Double): Int = math.max(2, math.round(seconds / 4.0).toInt)
  /** Self-test switch: each workload checks against a deliberately wrong
    * expected value, so every check must report failures. */
  @volatile var Corrupt = false
}

/**
 * The load generator process: waits for the system process to publish its
 * ports, runs the workload against the portal, and writes its
 * measurements to `load.json` in the work directory.
 *
 * Usage: `Load --work DIR --workload W --seed N --seconds S --clients C [--scale X]`
 */
object Load {
  def main(args: Array[String]): Unit = {
    val opts = Opts(args)
    val work = java.nio.file.Paths.get(opts("work")).toAbsolutePath
    val ports = work.resolve("ports.json")
    val deadline = System.nanoTime() + 600e9.toLong
    while (!Files.exists(ports)) {
      if (System.nanoTime() > deadline) throw new IllegalStateException("system never came up")
      Thread.sleep(25)
    }
    val pj = Json.read(ports)
    val port = (pj \ "portal").values.toString.toInt
    val control = new PortalClient((pj \ "control").values.toString.toInt)
    Workloads.Corrupt = opts.contains("corrupt")
    val w = new Workloads(port, new Gen(opts("seed").toLong), Scale(opts.getOrElse("scale", "1").toDouble),
      work, opts("seconds").toDouble, opts("clients").toInt, Hooks.None,
      () => Json.parse(control.ok("GET", "/jvm")).values.asInstanceOf[Map[String, Any]])
    val out = w.run(opts("workload"))
    Json.write(work.resolve("load.json"), out)
    sys.exit(0)
  }
}
