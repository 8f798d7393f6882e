package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, SparkEntry}

/** The hand-run probe over registry entries, on the session Bench runs.
  * It times `waves` count() runs of each entry and prints every wave.
  *  - `cold` releases the near-dup CacheScope before every wave (the bench
  *    protocol), so the series prices computation instead of scope hits.
  *  - `profile` prints the last wave's stages by task time, with GC, tasks,
  *    input, shuffle read and shuffle write.
  *  - `plan=<dir>` writes `<dir>/<entry>.txt`: the entry's formatted plan,
  *    then the executed (post-AQE) plan of its last wave, the only place
  *    adaptive execution's exchange and subquery reuse shows.
  * No entries means Bench's headline and curation sets.
  *
  * Usage: runMain graft.tools.Probe [name1,name2,...] [waves] [cold]
  * [profile] [plan=<dir>], over `$SPARK_GRAFT_SF_DIR` (default sf0.1).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(32)
    try run(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), args.toSeq)
    finally spark.stop()
  }

  private final case class Stage(name: String, tasks: Int, taskMs: Long,
      gcMs: Long, inMB: Double, readMB: Double, writeMB: Double)

  /** Local property that tags the jobs of a profiled wave. */
  private val WaveTag = "graft.probe.wave"

  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val Waves = """(\d+)""".r
    val Plan = """plan=(.+)""".r
    val waves = args.collectFirst { case Waves(n) => n.toInt }.getOrElse(4)
    val cold = args.contains("cold")
    val profile = args.contains("profile")
    val planDir = args.collectFirst { case Plan(d) => Paths.get(d) }
    val named = args.filter {
      case Waves(_) | Plan(_) | "cold" | "profile" => false
      case _ => true
    }.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val names = if (named.isEmpty) Bench.headline ++ Bench.curation else named
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    require(waves > 0, "waves must be at least 1")

    // Stages of the jobs submitted under the wave tag, recorded whenever
    // the listener bus delivers them.
    val tagged = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty(WaveTag) != null))
          tagged.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (tagged.remove(e.stageInfo.stageId)) {
          val i = e.stageInfo
          val m = i.taskMetrics
          stages.add(Stage(i.name.linesIterator.next().take(120), i.numTasks,
            m.executorRunTime, m.jvmGCTime, m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6))
        }
    }
    val sc = spark.sparkContext
    if (profile) sc.addSparkListener(listener)
    try {
      try spark.read.parquet(s"$sfDir/region.parquet").count()
      catch { case _: Throwable => () }
      planDir.foreach(Files.createDirectories(_))
      names.foreach { name =>
        val fn = registry(name)
        stages.clear()
        val ts = (1 to waves).map { w =>
          val last = w == waves
          if (cold) graft.queries.LlmQueries.releaseDedupScope(sfDir)
          if (profile && last) sc.setLocalProperty(WaveTag, name)
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val counted = df.groupBy().count() // exactly the plan count() runs
          try counted.collect() finally sc.setLocalProperty(WaveTag, null)
          val sec = (System.nanoTime() - t0) / 1e9
          if (last) planDir.foreach { d =>
            Files.writeString(d.resolve(s"$name.txt"),
              df.queryExecution.explainString(FormattedMode) +
                "\n== Executed plan of the last wave ==\n" +
                counted.queryExecution.executedPlan.toString)
            println(s"[probe] wrote ${d.resolve(s"$name.txt")}")
          }
          sec
        }
        println(s"[probe] $name ${if (cold) "cold" else "warm"} waves=" +
          ts.map(t => f"$t%.3f").mkString("[", ", ", "]"))
        if (profile) {
          Thread.sleep(500) // let the listener bus deliver the last stages
          println(s"[probe] $name last-wave stages (${stages.size}):")
          stages.asScala.toSeq.sortBy(-_.taskMs).foreach { s =>
            println(f"[stage] ${s.taskMs}%6d ms  gc=${s.gcMs}%5d  tasks=${s.tasks}%3d  " +
              f"in=${s.inMB}%8.2fMB  sr=${s.readMB}%8.2fMB  sw=${s.writeMB}%8.2fMB  ${s.name}")
          }
        }
      }
    } finally if (profile) sc.removeSparkListener(listener)
  }
}
