package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{GraftHttpServer, GraftSession}
import graft.catalog.GraftCatalog

/** The HTTP serving layer end-to-end: real sockets, JDK HttpClient. */
class ApiHttpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val fixture: (GraftHttpServer, GraftSession, String) = {
    val cat = new GraftCatalog(spark, TestSpark.tmpDir("http-"))
    val orders = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
    val t = cat.saveTable("orders_t", orders.filter(col("o_orderkey") < 500))
    t.append(orders.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 600))
    val s = new GraftSession(cat)
    s.refreshViews()
    val srv = new GraftHttpServer(s).start()
    (srv, s, s"http://127.0.0.1:${srv.boundPort}")
  }
  private def session = fixture._2
  private def base = fixture._3
  private val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(path: String, body: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("GET /tables lists catalog tables") {
    val (code, body) = get("/tables")
    assert(code == 200 && body.contains("\"orders_t\""))
  }

  test("GET /data previews with limit; GET /query runs SQL incl. time travel") {
    val (c1, b1) = get("/data/orders_t?limit=3")
    assert(c1 == 200 && b1.contains("\"columns\"") && b1.contains("o_orderkey"))
    assert("\\{\"o_orderkey\"".r.findAllIn(b1).size == 3)
    val q = java.net.URLEncoder.encode(
      "SELECT count(*) AS n FROM orders_t VERSION AS OF 1", "UTF-8")
    val (c2, b2) = get(s"/query?query=$q")
    assert(c2 == 200 && b2.contains("\"n\":500"), b2)
  }

  test("GET /view searches and pages; GET /snapshots lists history; GET /diff classifies") {
    val (c1, b1) = get("/view/orders_t?search=42&page_size=5")
    assert(c1 == 200 && b1.contains("\"o_orderkey\":42"), b1)
    val (c2, b2) = get("/snapshots/orders_t")
    assert(c2 == 200 && b2.contains("\"operation\":\"append\""), b2)
    val (c3, b3) = get("/diff/orders_t?v2=2&v1=1")
    assert(c3 == 200 && b3.contains("\"NEW\""), b3)
  }

  test("POST insert/update/delete round-trip with form coercion") {
    val (c1, b1) = post("/insert/orders_t",
      """{"o_orderkey":"999999","o_custkey":"7","o_totalprice":"12.5","o_orderstatus":"O"}""")
    assert(c1 == 200 && b1.contains("\"status\":\"ok\""), b1)
    val (c2, _) = post("/update/orders_t/999999", """{"o_totalprice":"99.5"}""")
    assert(c2 == 200)
    val (c3, b3) = get("/view/orders_t?search=999999")
    assert(c3 == 200 && b3.contains("99.5"), b3)
    // DML endpoints re-register the SQL view: /query sees the new snapshot
    // without any manual refresh (Trino-like read-current semantics).
    val q = java.net.URLEncoder.encode(
      "SELECT o_totalprice FROM orders_t WHERE o_orderkey = 999999", "UTF-8")
    val (c4, b4) = get(s"/query?query=$q")
    assert(c4 == 200 && b4.contains("99.5"), b4)
    val (c5, _) = post("/delete/orders_t/999999", "")
    assert(c5 == 200)
    val (c6, b6) = get("/view/orders_t?search=999999")
    assert(c6 == 200 && !b6.contains("99.5"), b6)
    val (c7, b7) = get(s"/query?query=$q")
    assert(c7 == 200 && !b7.contains("99.5"), b7)
  }

  test("corpus-audit endpoints: /overlap, /heavy_hitters, /chunk_stats") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .filter(col("doc_id") < 120)
    session.catalog.saveTable("docs_t", docs)
    session.refreshViews()
    val (c1, b1) = get("/overlap/docs_t?group=source&text=text")
    assert(c1 == 200 && b1.contains("\"jaccard\"") &&
      b1.contains("\"group_a\""), b1)
    val (c2, b2) = get("/heavy_hitters/docs_t?text=text&n=2&k=5&min_count=2")
    assert(c2 == 200 && b2.contains("\"ngram\""), b2)
    val (c3, b3) = get("/chunk_stats/docs_t")
    assert(c3 == 200 && b3.contains("\"dedup_ratio\"") &&
      b3.contains("\"n_chunks\""), b3)
    // a typo'd column is a client error, not a planner 500
    val (c4, b4) = get("/overlap/docs_t?group=nope")
    assert(c4 == 400 && b4.contains("no such column"), b4)
  }

  test("GET /range reads a typed window with manifest skipping") {
    val (c1, b1) = get("/range/orders_t?col=o_orderkey&lo=100&hi=105")
    assert(c1 == 200, b1)
    assert((100 to 105).forall(k => b1.contains(s"\"o_orderkey\":$k")), b1)
    assert(!b1.contains("\"o_orderkey\":99") && !b1.contains("\"o_orderkey\":106"), b1)
    val (c2, _) = get("/range/orders_t?col=nope&lo=1&hi=2")
    assert(c2 == 400)
    // An unparseable bound must be a 400, not a silent empty 200: Coerce's
    // raw-string fallback would otherwise defeat pruning and NULL the cast.
    val (c3, b3) = get("/range/orders_t?col=o_orderkey&lo=abc&hi=105")
    assert(c3 == 400, s"$c3 $b3")
    assert(b3.contains("abc"), b3)
    // A boolean column can't take a range window, and its coercion can't
    // fail (any non-truthy string becomes false) — so the column kind
    // itself must 400, not 200 with a nonsense window.
    import spark.implicits._
    session.catalog.saveTable("flags_t",
      Seq((1L, true), (2L, false)).toDF("id", "flag"))
    val (c4, b4) = get("/range/flags_t?col=flag&lo=purple&hi=banana")
    assert(c4 == 400, s"$c4 $b4")
    assert(b4.contains("orderable"), b4)
  }

  test("POST /bloom builds the index; GET /point serves the pruned equality read") {
    val (cb, bb) = post("/bloom/orders_t?col=o_custkey", "")
    assert(cb == 200 && bb.contains("\"indexed_dirs\""), bb)
    val k = session.catalog.table("orders_t").read()
      .select("o_custkey").head.getLong(0)
    val (c1, b1) = get(s"/point/orders_t?col=o_custkey&value=$k")
    assert(c1 == 200 && b1.contains(s"\"o_custkey\":$k"), b1)
    val want = session.catalog.table("orders_t").read()
      .filter(col("o_custkey") === k).count()
    assert(s"\"o_custkey\":$k\\b".r.findAllIn(b1).size == want, b1)
    // unknown column and a GET on the POST-only verb are client errors
    val (c2, _) = get("/point/orders_t?col=nope&value=1")
    assert(c2 == 400)
    val (c3, _) = get("/bloom/orders_t?col=o_custkey")
    assert(c3 == 400)
  }

  test("maintenance verbs over HTTP: rollback, expire, cluster, compact") {
    val ev = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
      .select("event_id", "user_id", "value")
    session.catalog.saveTable("maint_t", ev)
    session.refreshViews()
    val t = session.catalog.table("maint_t")
    val v1 = t.latestVersion
    t.append(ev.filter(col("event_id") < 10)
      .withColumn("event_id", col("event_id") + 1000000))
    val (rc, rb) = post(s"/rollback/maint_t?v=$v1", "")
    assert(rc == 200 && rb.contains("\"rolled_back_to\""), s"$rc $rb")
    assert(t.read().count() == ev.count())
    val (cc, cb) = post("/cluster/maint_t?cols=event_id,user_id&dirs=4", "")
    assert(cc == 200 && cb.contains("\"dirs\""), s"$cc $cb")
    val (xc, xb) = post("/expire/maint_t?keep=1", "")
    assert(xc == 200 && xb.contains("\"expired\""), s"$xc $xb")
    assert(t.read().count() == ev.count())
    val (pc, pb) = post("/compact/maint_t", "")
    assert(pc == 200 && pb.contains("snapshot_id"), s"$pc $pb")
    // parameter errors are 400s
    assert(post("/expire/maint_t", "")._1 == 400)
    assert(post("/rollback/maint_t", "")._1 == 400)
    // a malformed instant is a client error too (DateTimeParseException is
    // a RuntimeException, not an IAE — it must be rewrapped, not 500)
    val (mc, mb) = post("/expire/maint_t?older_than=2026-13-99", "")
    assert(mc == 400, s"$mc $mb")
    assert(mb.contains("ISO-8601"), mb)
  }

  test("governed writes over HTTP: branch/publish/tag/stats/constraint") {
    val orders = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
      .filter(col("o_orderkey") < 300)
    session.catalog.saveTable("gov_t", orders)
    session.refreshViews()
    val t = session.catalog.table("gov_t")
    // branch create + list
    val (c1, b1) = post("/branch/gov_t?name=wap", "")
    assert(c1 == 200 && b1.contains("\"branch\":\"wap\""), s"$c1 $b1")
    assert(get("/branch/gov_t")._2.contains("\"wap\""))
    // stage a write on the branch (library), read it via /data?branch=
    t.branch("wap").upsert(
      orders.withColumn("o_orderpriority", lit("AUDITED")), "o_orderkey")
    val (c2, b2) = get("/data/gov_t?branch=wap&limit=2")
    assert(c2 == 200 && b2.contains("AUDITED"), s"$c2 $b2")
    assert(!get("/data/gov_t?limit=2")._2.contains("AUDITED")) // main isolated
    // publish; unknown branch is a client error
    val (c3, b3) = post("/publish/gov_t?name=wap", "")
    assert(c3 == 200 && b3.contains("\"published\":\"wap\""), s"$c3 $b3")
    assert(get("/data/gov_t?limit=2")._2.contains("AUDITED"))
    assert(post("/publish/gov_t?name=nope", "")._1 == 400)
    // tag + pinned read; duplicate tag is a client error
    val (c4, b4) = post("/tag/gov_t?name=rel", "")
    assert(c4 == 200 && b4.contains("\"tag\":\"rel\""), s"$c4 $b4")
    assert(get("/tag/gov_t")._2.contains("\"rel\""))
    assert(get("/data/gov_t?tag=rel&limit=1")._1 == 200)
    assert(post("/tag/gov_t?name=rel", "")._1 == 400)
    // stats: one-row summary with path attribution
    val (c5, b5) = get("/stats/gov_t?cols=o_orderkey")
    assert(c5 == 200 && b5.contains("\"metadata_only\"") &&
      b5.contains("o_orderkey_min"), s"$c5 $b5")
    assert(get("/stats/gov_t?cols=nope")._1 == 400)
    // constraint DDL: set, read back, invalid column 400s at DDL time
    val check = java.net.URLEncoder.encode("o_totalprice >= 0", "UTF-8")
    assert(post(s"/constraint/gov_t?check=$check", "")._1 == 200)
    assert(get("/constraint/gov_t")._2.contains("o_totalprice"))
    val bad = java.net.URLEncoder.encode("no_col > 1", "UTF-8")
    assert(post(s"/constraint/gov_t?check=$bad", "")._1 == 400)
  }

  test("GET /box reads a multi-column window; malformed lists and bounds 400") {
    val (c1, b1) = get("/box/orders_t?cols=o_orderkey,o_totalprice&lo=100,0&hi=110,100000")
    assert(c1 == 200, b1)
    assert(b1.contains("\"o_orderkey\":10") && !b1.contains("\"o_orderkey\":99"), b1)
    // misaligned lists are a client error
    val (c2, b2) = get("/box/orders_t?cols=o_orderkey,o_totalprice&lo=100&hi=110,5")
    assert(c2 == 400, s"$c2 $b2")
    // a bad bound in ANY dimension 400s, same contract as /range
    val (c3, b3) = get("/box/orders_t?cols=o_orderkey,o_totalprice&lo=100,abc&hi=110,5")
    assert(c3 == 400, s"$c3 $b3")
    assert(b3.contains("abc"), b3)
  }

  test("POST /upload ingests a CSV body") {
    val csv = "item_id,name,price\n1,widget,2.5\n2,gadget,3.5\n"
    val (c1, b1) = post("/upload/uploads_t?mode=replace", csv)
    assert(c1 == 200 && b1.contains("\"records\":2"), b1)
    val (c2, b2) = get("/data/uploads_t?limit=10")
    assert(c2 == 200 && b2.contains("widget"), b2)
  }

  test("CDC stream over HTTP: start, drain, merge, status, stop, resume semantics") {
    import org.apache.spark.sql.types._
    val inDir = TestSpark.tmpDir("http-cdc-in-")
    session.catalog.createTable("cdc_http_t", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("amount", DoubleType))))
    def env(id: Long, name: String, amount: Double, op: String, ts: Long) =
      s"""{"payload":{"before":null,"after":{"id":$id,"name":"$name","amount":$amount},"op":"$op","ts_ms":$ts}}"""
    // Backfill file exists BEFORE the stream starts (ST7 over HTTP).
    java.nio.file.Files.write(inDir.resolve("f1.json"),
      (1 to 5).map(i => env(i, s"n$i", i * 1.0, "c", i)).mkString("\n").getBytes)
    val dir = java.net.URLEncoder.encode(inDir.toString, "UTF-8")
    val (c1, b1) = post(s"/cdc/cdc_http_t/start?dir=$dir&key=id&mode=cow&trigger_ms=0", "")
    assert(c1 == 200 && b1.contains("\"mode\":\"cow\"") && b1.contains("\"key\":\"id\""), b1)
    // second start while active is a client error, not a second stream
    val (cDup, bDup) = post(s"/cdc/cdc_http_t/start?dir=$dir", "")
    assert(cDup == 400 && bDup.contains("already active"), s"$cDup $bDup")
    val (c2, b2) = post("/cdc/cdc_http_t/drain", "")
    assert(c2 == 200 && b2.contains("\"drained\":true"), b2)
    // an update envelope lands while the stream is live
    java.nio.file.Files.write(inDir.resolve("f2.json"),
      env(2, "n2x", 20.0, "u", 100).getBytes)
    post("/cdc/cdc_http_t/drain", "")
    val (c3, b3) = get("/data/cdc_http_t?limit=10")
    assert(c3 == 200 && b3.contains("n2x") && b3.contains("n5") && !b3.contains("\"n2\""),
      b3)
    val (c4, b4) = get("/cdc/cdc_http_t/status")
    assert(c4 == 200 && b4.contains("\"active\":true") &&
      b4.contains("\"last_batch_id\":1"), b4)
    val (c5, b5) = post("/cdc/cdc_http_t/stop", "")
    assert(c5 == 200 && b5.contains("\"stopped\":true"), b5)
    val (c6, b6) = get("/cdc/cdc_http_t/status")
    assert(c6 == 200 && b6.contains("\"active\":false"), b6)
    val (c7, _) = post("/cdc/cdc_http_t/drain", "")
    assert(c7 == 404)
    // restart resumes from the retained checkpoint: old files NOT replayed
    // (commit count unchanged after a drain with no new input)
    val commits = session.catalog.table("cdc_http_t").log.versions().size
    val (c8, _) = post(s"/cdc/cdc_http_t/start?dir=$dir&trigger_ms=0", "")
    assert(c8 == 200)
    post("/cdc/cdc_http_t/drain", "")
    assert(session.catalog.table("cdc_http_t").log.versions().size == commits,
      "resumed stream must not replay committed offsets")
    post("/cdc/cdc_http_t/stop", "")
    // unknown action 404s
    val (c9, _) = post("/cdc/cdc_http_t/bogus", "")
    assert(c9 == 404)
  }

  test("Accept: text/html renders the dashboard view and diff with change highlighting") {
    def getHtml(path: String): (Int, String, String) = {
      val r = client.send(HttpRequest.newBuilder(URI.create(base + path))
        .header("Accept", "text/html").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), Option(r.headers().firstValue("Content-Type").orElse("")).get,
        r.body())
    }
    // /view renders rows as an HTML table
    val (c1, ct1, b1) = getHtml("/view/orders_t?page_size=5")
    assert(c1 == 200 && ct1.startsWith("text/html"), s"$c1 $ct1")
    assert(b1.contains("<table>") && b1.contains("<th>o_orderkey</th>") &&
      "<tr[ >]".r.findAllIn(b1).size >= 5, b1.take(400))
    // /view in time-travel mode highlights rows changed vs the parent
    val (c2, _, b2) = getHtml("/view/orders_t?snapshot=2")
    assert(c2 == 200 && b2.contains("TIME TRAVEL ACTIVE") &&
      b2.contains("class=\"new\""), b2.take(600))
    // /diff renders change_type classes
    val (c3, ct3, b3) = getHtml("/diff/orders_t?v2=2&v1=1")
    assert(c3 == 200 && ct3.startsWith("text/html") &&
      b3.contains("class=\"new\""), b3.take(600))
    // without the Accept header the SAME routes stay JSON
    val (c4, b4) = get("/view/orders_t?page_size=5")
    assert(c4 == 200 && b4.startsWith("{\"columns\""), b4.take(100))
    val (c5, b5) = get("/diff/orders_t?v2=2&v1=1")
    assert(c5 == 200 && b5.startsWith("{\"columns\""), b5.take(100))
  }

  test("portal home page renders table links; JSON clients get the tables list") {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + "/"))
      .header("Accept", "text/html").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body().take(400))
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
    assert(r.body().contains("""<a href="/view/orders_t">orders_t</a>"""),
      r.body().take(800))
    // without Accept: text/html the front door is the same JSON as /tables
    val (c2, b2) = get("/")
    assert(c2 == 200 && b2.startsWith("""{"tables":[""") &&
      b2.contains("\"orders_t\""), b2.take(200))
    // the "/" context receives every otherwise-unclaimed path — still 404s
    val (c3, _) = get("/no-such-page")
    assert(c3 == 404)
  }

  test("edit form round-trip: GET /edit renders the row, form POST mutates it") {
    post("/insert/orders_t",
      """{"o_orderkey":"777777","o_custkey":"3","o_totalprice":"10.5","o_orderstatus":"O"}""")
    val r = client.send(HttpRequest.newBuilder(
      URI.create(base + "/edit/orders_t/777777"))
      .header("Accept", "text/html").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body().take(600))
    val b = r.body()
    assert(b.contains("""name="o_totalprice" value="10.5""""), b.take(1200))
    assert(b.contains("""name="o_orderkey" value="777777" readonly"""),
      "id column must be read-only: " + b.take(1200))
    assert(b.contains("""action="/update/orders_t/777777""""), b.take(1200))
    // a JSON client GETs the row instead of a form
    val (cj, bj) = get("/edit/orders_t/777777")
    assert(cj == 200 && bj.contains("\"o_totalprice\":10.5"), bj)
    // the browser form posts url-encoded (read-only pk included) and is
    // answered with a redirect back to the table view, not a JSON body
    val form = "o_orderkey=777777&o_custkey=3&o_totalprice=20.75&o_orderstatus=F"
    val rr = client.send(HttpRequest.newBuilder(
      URI.create(base + "/update/orders_t/777777"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(rr.statusCode() == 303, s"${rr.statusCode()} ${rr.body()}")
    assert(rr.headers().firstValue("Location").orElse("") == "/view/orders_t")
    val (c2, b2) = get("/view/orders_t?search=777777")
    assert(c2 == 200 && b2.contains("20.75") && b2.contains("\"F\""), b2)
    // an emptied form input means NULL, the only form-expressible null
    val form2 = "o_orderkey=777777&o_orderstatus="
    client.send(HttpRequest.newBuilder(
      URI.create(base + "/update/orders_t/777777"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form2)).build(),
      HttpResponse.BodyHandlers.ofString())
    val (c3, b3) = get("/view/orders_t?search=777777")
    assert(c3 == 200 && !b3.contains("\"F\""), b3)
    post("/delete/orders_t/777777", "")
  }

  test("GET /edit labels rows with logical names after a column rename") {
    val cat = session.catalog
    val rows = spark.range(1, 41).select(col("id"),
      (col("id") * 10).as("amount"), concat(lit("n"), col("id")).as("name"))
    val acct = cat.createTable("edit_ren_t", rows.schema)
    acct.overwriteBucketed(rows, "id", 4)
    def getHtml(path: String): (Int, String) = {
      val r = client.send(HttpRequest.newBuilder(URI.create(base + path))
        .header("Accept", "text/html").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    // a non-key rename: the reply names the column as read() does
    acct.renameColumn("amount", "amt")
    val (c1, b1) = get("/edit/edit_ren_t/7")
    assert(c1 == 200 && b1.startsWith("""{"columns":["id","amt","name"]"""), b1)
    assert(b1.contains(""""amt":70""") && !b1.contains("amount"), b1)
    assert(acct.lookupKey(7L).columns.toSeq == acct.read().columns.toSeq)
    // the same under a pending merge-on-read delta (driver-side resolution)
    acct.upsertDeferred(spark.range(7, 8).select(col("id"),
      lit(71L).as("amt"), lit("n7").as("name")), "id")
    val (c2, b2) = get("/edit/edit_ren_t/7")
    assert(c2 == 200 && b2.contains(""""amt":71""") && !b2.contains("amount"), b2)
    // renaming the key itself: the pk is found under its new name
    acct.renameColumn("id", "key")
    val (c3, b3) = get("/edit/edit_ren_t/7")
    assert(c3 == 200 && b3.startsWith("""{"columns":["key","amt","name"]"""), b3)
    assert(b3.contains(""""key":7,"amt":71"""), b3)
    val (c4, b4) = getHtml("/edit/edit_ren_t/7")
    assert(c4 == 200 && b4.contains("""name="key" value="7" readonly"""), b4.take(1200))
    assert(b4.contains("""name="amt" value="71""""), b4.take(1200))
    // an unbucketed table with a renamed key takes the filtered read
    val plain = cat.saveTable("edit_ren_plain_t", rows)
    plain.renameColumn("id", "key")
    val (c5, b5) = get("/edit/edit_ren_plain_t/3")
    assert(c5 == 200 && b5.contains(""""key":3,"amount":30"""), b5)
    // an absent key still answers its columns
    val (c6, b6) = get("/edit/edit_ren_t/999")
    assert(c6 == 200 && b6 == """{"columns":["key","amt","name"],"rows":[]}""", b6)
  }

  test("one-call CDC onboarding: POST /upload?mode=cdc stages envelopes and starts the merger") {
    val csv = "id,name,amount\n1,alpha,1.5\n2,beta,2.5\n3,gamma,3.5\n"
    val (c1, b1) = post("/upload/cdc_onboard_t?mode=cdc&trigger_ms=0", csv)
    assert(c1 == 200 && b1.contains("\"mode\":\"cdc\"") &&
      b1.contains("\"key\":\"id\"") && b1.contains("\"query_id\""), b1)
    val (cs, bs) = get("/cdc/cdc_onboard_t/status")
    assert(cs == 200 && bs.contains("\"active\":true"), bs)
    post("/cdc/cdc_onboard_t/drain", "")
    val (c2, b2) = get("/data/cdc_onboard_t?limit=10")
    assert(c2 == 200 && b2.contains("alpha") && b2.contains("gamma"), b2)
    // a second upload to the already-streaming table stages more envelopes
    // against the SAME resident stream — updates win by ts_ms precombine
    val csv2 = "id,name,amount\n2,beta2,20.5\n4,delta,4.5\n"
    val (c3, b3) = post("/upload/cdc_onboard_t?mode=cdc&trigger_ms=0", csv2)
    assert(c3 == 200, b3)
    post("/cdc/cdc_onboard_t/drain", "")
    val (c4, b4) = get("/data/cdc_onboard_t?limit=10")
    assert(c4 == 200 && b4.contains("beta2") && b4.contains("delta") &&
      !b4.contains("\"beta\""), b4)
    post("/cdc/cdc_onboard_t/stop", "")
  }

  test("time-travel /view works on a table whose OWN columns include `status`") {
    // The diff-highlight join must not collide with a user column named
    // `status` — the change class rides an internal __change_status column
    // that is used for the row class but never rendered.
    import spark.implicits._
    val t = session.catalog.saveTable("statuscol_t",
      Seq((1L, "open"), (2L, "closed")).toDF("id", "status"))
    t.append(Seq((3L, "open")).toDF("id", "status"))
    session.refreshViews()
    val r = client.send(HttpRequest.newBuilder(
      URI.create(base + "/view/statuscol_t?snapshot=2"))
      .header("Accept", "text/html").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body().take(600))
    val b = r.body()
    assert(b.contains("class=\"new\""), b.take(600))
    assert(b.contains("<th>status</th>"), "the user's own status column renders")
    assert(!b.contains("__change_status"), "internal class column must not render")
    // the table's own values must still appear untouched
    assert(b.contains("open") && b.contains("closed"), b.take(600))
  }

  test("errors map to JSON statuses") {
    val (c1, b1) = get("/data/no_such_table")
    assert(c1 == 400 && b1.contains("error"), s"$c1 $b1")
    val q = java.net.URLEncoder.encode("SELECT bogus FROM orders_t", "UTF-8")
    val (c2, _) = get(s"/query?query=$q")
    assert(c2 == 500)
    // A multi-line Spark message (a syntax error's `== SQL ==` block)
    // reaches the client with its line breaks, not run together.
    val bad = java.net.URLEncoder.encode("SELEC o_orderkey FROM orders_t", "UTF-8")
    val (c7, b7) = get(s"/query?query=$bad")
    assert(c7 == 500, s"$c7 $b7")
    val org.json4s.JString(msg) = org.json4s.jackson.JsonMethods.parse(b7) \ "error"
    assert(msg.contains("\n== SQL ==\n"), msg)
    val (c3, _) = get("/query")
    assert(c3 == 400)
    // missing id segment is a 400 with a usable message, not a MatchError 500
    val (c4, b4) = post("/update/orders_t", """{"o_totalprice":"1"}""")
    assert(c4 == 400 && b4.contains("{id}"), s"$c4 $b4")
    val (c5, _) = post("/delete/orders_t", "")
    assert(c5 == 400)
    // nested values are rejected loudly, not silently dropped
    val (c6, b6) = post("/insert/orders_t", """{"o_orderkey":{"nested":1}}""")
    assert(c6 == 400 && b6.contains("scalar"), s"$c6 $b6")
  }

  test("context prefixes require a segment boundary; %2F stays one segment") {
    // JDK HttpServer matches contexts by literal prefix: '/datax' lands on
    // the '/data' handler but must 404, not parse table 'x'.
    val (c1, _) = get("/datax")
    assert(c1 == 404, s"GET /datax must 404, got $c1")
    // no-arg routes need the same boundary: '/tablesx' prefix-matches the
    // '/tables' context and '/queryx' the '/query' context.
    val (c1b, _) = get("/tablesx")
    assert(c1b == 404, s"GET /tablesx must 404, got $c1b")
    // ...and a no-arg route takes no subpath either: /tables/anything is
    // not an endpoint, not a spelling of /tables.
    val (c1d, _) = get("/tables/anything")
    assert(c1d == 404, s"GET /tables/anything must 404, got $c1d")
    val (c1c, _) = get("/queryx?query=SELECT%201")
    assert(c1c == 404, s"GET /queryx must 404, got $c1c")
    val (c1e, _) = get("/query/anything?query=SELECT%201")
    assert(c1e == 404, s"GET /query/anything must 404, got $c1e")
    val (c2, _) = get("/data/orders_t?limit=1")
    assert(c2 == 200, "the real /data/{t} route must keep working")
    // A table segment containing %2F decodes to 'a/b' AFTER the split — it
    // must be rejected as one bad identifier, not resplit into ('a', 'b/5').
    val (c3, b3) = post("/update/a%2Fb/5", """{"o_totalprice":"1"}""")
    assert(c3 >= 400 && c3 < 500, s"expected client error, got $c3 $b3")
  }

  test("JSON null in an update sets the column to NULL") {
    val (c1, _) = post("/insert/orders_t",
      """{"o_orderkey":"888888","o_custkey":"7","o_orderpriority":"1-URGENT"}""")
    assert(c1 == 200)
    val (c2, _) = post("/update/orders_t/888888", """{"o_orderpriority":null}""")
    assert(c2 == 200)
    val (c3, b3) = get("/view/orders_t?search=888888")
    assert(c3 == 200 && !b3.contains("1-URGENT"), b3)
    post("/delete/orders_t/888888", "")
  }

  test("SQL workspace: GET renders the form, ?query= renders results, bad SQL renders in-page") {
    def getHtml(path: String): (Int, String) = {
      val r = client.send(HttpRequest.newBuilder(URI.create(base + path))
        .header("Accept", "text/html").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    // Bare GET: the query form, no result table, no error box.
    val (c1, b1) = getHtml("/sql-workspace")
    assert(c1 == 200 && b1.contains("""<form action="/sql-workspace" method="GET">""") &&
      b1.contains("<textarea name=\"query\"") && !b1.contains("class=\"error\""),
      b1.take(600))
    // With a query: executed result renders as a table BELOW the form, and
    // the textarea retains the submitted SQL.
    val sql = "SELECT o_orderkey FROM orders_t WHERE o_orderkey = 42"
    val (c2, b2) = getHtml("/sql-workspace?query=" +
      java.net.URLEncoder.encode(sql, "UTF-8"))
    assert(c2 == 200 && b2.contains("<th>o_orderkey</th>") && b2.contains("<td>42</td>"),
      b2.take(800))
    assert(b2.contains("SELECT o_orderkey FROM orders_t"), "textarea must retain the query")
    // Broken SQL: a 200 page with an in-page error box (the form must stay
    // usable to fix the query), not an HTTP error.
    val (c3, b3) = getHtml("/sql-workspace?query=SELEKT%20nope")
    assert(c3 == 200 && b3.contains("class=\"error\"") && b3.contains("SQL Error"),
      s"$c3 ${b3.take(600)}")
    // A JSON client gets /query semantics from the same path.
    val (c4, b4) = get("/sql-workspace?query=" +
      java.net.URLEncoder.encode("SELECT count(*) AS n FROM orders_t", "UTF-8"))
    assert(c4 == 200 && b4.startsWith("{\"columns\"") && b4.contains("\"n\":"), b4.take(200))
  }

  test("upload form: GET renders it, POST ingests the CSV and redirects to the view") {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + "/upload-ui"))
      .header("Accept", "text/html").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200 &&
      r.body().contains("""<form action="/upload-ui" method="POST">""") &&
      r.body().contains("name=\"csv\""), r.body().take(600))
    // The browser posts url-encoded fields; the handler runs the same
    // ingest as POST /upload/{t} and answers 303 to the new table's view.
    val csv = java.net.URLEncoder.encode("id,name\n1,alpha\n2,beta", "UTF-8")
    val rr = client.send(HttpRequest.newBuilder(URI.create(base + "/upload-ui"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(
        s"table_name=form_up_t&mode=replace&csv=$csv")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(rr.statusCode() == 303, s"${rr.statusCode()} ${rr.body()}")
    assert(rr.headers().firstValue("Location").orElse("") == "/view/form_up_t")
    // ...and the table reads back through the existing surfaces.
    val (c2, b2) = get("/data/form_up_t?limit=10")
    assert(c2 == 200 && b2.contains("alpha") && b2.contains("beta"), b2.take(300))
    // Missing fields are client errors, not 500s.
    val r3 = client.send(HttpRequest.newBuilder(URI.create(base + "/upload-ui"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString("mode=replace")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r3.statusCode() == 400, s"${r3.statusCode()} ${r3.body()}")
    // mode=upsert with neither a key field nor an id-like header must 400
    // (the id heuristic would silently key on the FIRST column), while an
    // explicit key goes through.
    val noId = java.net.URLEncoder.encode("name,qty\nwidget,5", "UTF-8")
    val r4 = client.send(HttpRequest.newBuilder(URI.create(base + "/upload-ui"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(
        s"table_name=form_up2_t&mode=upsert&csv=$noId")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r4.statusCode() == 400 && r4.body().contains("key"),
      s"${r4.statusCode()} ${r4.body()}")
    val r5 = client.send(HttpRequest.newBuilder(URI.create(base + "/upload-ui"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(
        s"table_name=form_up2_t&mode=upsert&key=name&csv=$noId")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r5.statusCode() == 303, s"${r5.statusCode()} ${r5.body()}")
  }

  test("change feed and materialized views over HTTP") {
    val (c, b) = get("/changes/orders_t?pk=o_orderkey&from=1&limit=5")
    assert(c == 200 && b.contains("\"_change_type\""), b.take(300))
    val (c1, b1) = post(
      "/mv_create/orders_t?name=st&pk=o_orderkey&groups=o_orderstatus&sums=o_custkey", "")
    assert(c1 == 200 && b1.contains("\"view\":\"st\""), b1)
    val (c2, b2) = get("/mv/orders_t?name=st")
    assert(c2 == 200 && b2.contains("reflects_version") && b2.contains("cnt"),
      b2.take(300))
    val (c3, b3) = get("/mv/orders_t")
    assert(c3 == 200 && b3.contains("\"st\""), b3)
    val (c4, b4) = post("/mv_refresh/orders_t?name=st", "")
    assert(c4 == 200 && b4.contains("reflects_version"), b4)
    // missing params are client errors, not 500s
    assert(get("/changes/orders_t?from=1")._1 == 400)
    assert(post("/mv_refresh/orders_t?name=nope", "")._1 == 400 ||
      post("/mv_refresh/orders_t?name=nope", "")._1 == 404)
  }

  test("time-series joins and quantiles over HTTP") {
    import spark.implicits._
    val cat = session.catalog
    cat.saveTable("px_t", Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:05"), 10.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:20"), 11.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:10"), 20.0))
      .toDF("sym", "ts", "px"))
    cat.saveTable("trd_t", Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:12"), 100),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:25"), 200),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:09"), 300),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:00:09"), 400))
      .toDF("sym", "ts", "qty"))
    // asof: trade at :12 sees the :05 quote; :25 sees :20; sym 3 unmatched.
    val (c1, b1) = get("/asof/trd_t?right=px_t&key=sym&left_ts=ts&right_ts=ts")
    // Unmatched lefts survive with NULL right columns (the JSON face omits
    // null fields, so the sym-3 row carries qty but no asof_px).
    assert(c1 == 200 && b1.contains("\"asof_px\":10.0") &&
      b1.contains("\"asof_px\":11.0") && b1.contains("\"qty\":400"), b1)
    // inner drops the unmatched trade.
    val (c2, b2) = get(
      "/asof/trd_t?right=px_t&key=sym&left_ts=ts&right_ts=ts&inner=true")
    assert(c2 == 200 && !b2.contains("\"qty\":400"), b2)
    // interval join: sessions table containing the trades.
    cat.saveTable("sess_t", Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 00:00:15"), "a"))
      .toDF("sym", "s", "e", "tag"))
    val (c3, b3) = get("/interval/trd_t?intervals=sess_t&key=sym&" +
      "point_ts=ts&start_ts=s&end_ts=e&bin_sec=10")
    assert(c3 == 200 && b3.contains("\"iv_tag\":\"a\"") &&
      b3.contains("\"qty\":100") && !b3.contains("\"qty\":200"), b3)
    // quantiles: exact percentile over a known series, grouped + global.
    val (c4, b4) = get("/quantiles/orders_t?value=o_orderkey&probs=0.5")
    assert(c4 == 200 && b4.contains("\"q50\""), b4)
    val (c5, b5) = get(
      "/quantiles/orders_t?value=o_orderkey&group=o_orderstatus")
    assert(c5 == 200 && b5.contains("\"q25\"") && b5.contains("\"q75\"") &&
      b5.contains("o_orderstatus"), b5)
    // missing params are 400s.
    assert(get("/asof/trd_t?key=sym")._1 == 400)
    assert(get("/quantiles/orders_t?value=nope")._1 == 400)
  }
}
