package graft.api

/**
 * Standalone portal process — the runnable counterpart of the reference's
 * `uvicorn api_poc:app` entry point: one warehouse, one Spark session, the
 * full HTTP surface ([[GraftHttpServer]]) on a fixed port until killed.
 *
 * Usage: `runMain graft.api.Serve [warehouseDir] [port]` (defaults:
 * `warehouse`, 8000 — the reference portal's port).
 */
object Serve {
  def main(args: Array[String]): Unit = {
    val warehouse = args.headOption
      .orElse(sys.env.get("GRAFT_WAREHOUSE")).getOrElse("warehouse")
    val port = args.lift(1).map(_.toInt)
      .orElse(sys.env.get("GRAFT_PORT").map(_.toInt)).getOrElse(8000)
    val session = GraftSession.open(graft.SparkEntry.localSession(4), warehouse)
    val srv = new GraftHttpServer(session, port).start()
    println(s"graft portal listening on http://127.0.0.1:${srv.boundPort} " +
      s"(warehouse: $warehouse)")
    // Block until the JVM is killed; the server runs on its own threads.
    Thread.currentThread().join()
  }
}
