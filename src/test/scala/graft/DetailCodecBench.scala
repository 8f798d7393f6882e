package graft

// Throwaway timing of the GDT2 detail codec on synthetic documents.
// Run: sbt "Test/runMain graft.DetailCodecBench"
object DetailCodecBench {
  def main(args: Array[String]): Unit = {
    import graft.log.{SnapshotDetail, SnapshotLog}
    for (n <- Seq(100000, 1000000)) {
      val dirs = (0 until n).map(i => s"data/f$i/__bucket=${i % 1024}")
      val d = SnapshotDetail(
        dataDirs = dirs,
        dirRecords = dirs.map(_ -> 1000L).toMap,
        dirStats = dirs.map(d0 => d0 -> Map(
          "event_id:min" -> "9000000000", "event_id:max" -> "9000000999")).toMap)
      val bytes = SnapshotLog.writeDetailBytes(d)
      println(f"n=$n binary=${bytes.length / 1e6}%.1fMB")
      def ms(body: => Unit): Double = {
        val s0 = System.nanoTime(); body; (System.nanoTime() - s0) / 1e6
      }
      for (rep <- 1 to 3) {
        val bMs = ms { SnapshotLog.parseDetailBytes(bytes) }
        val wB = ms { SnapshotLog.writeDetailBytes(d) }
        println(f"n=$n rep=$rep binaryParse=$bMs%.0fms binaryWrite=$wB%.0fms")
      }
    }
  }
}
