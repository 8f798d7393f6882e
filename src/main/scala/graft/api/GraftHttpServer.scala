package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.RowJson
import org.apache.spark.sql.types.StructType

/**
 * HTTP transport for the serving surface — the runnable counterpart of the
 * reference's FastAPI app (`api_poc.py`), built on the JDK's own
 * `com.sun.net.httpserver` (no added dependencies). The endpoint logic all
 * lives in [[GraftSession]] / [[graft.catalog.GraftCatalog]]; this layer
 * only routes, decodes parameters, and renders JSON. The dashboard routes
 * (`/view`, `/diff`) are content-negotiated: `Accept: text/html` returns
 * the reference's dashboard rendering (row table + NEW/MODIFIED/DELETED
 * highlighting, `api_poc.py:362-647`); every other client gets the same
 * rows as JSON, unchanged.
 *
 * Endpoints (reference file:line in parens):
 *  - `GET /`                             — portal home page: table links into
 *    the dashboard (`api_poc.py:125-206`); JSON clients get the /tables list
 *  - `GET /edit/{t}/{id}`                — row edit form posting to /update
 *    (`api_poc.py:648-702`); JSON clients get the row
 *  - `GET /tables`                       — SHOW TABLES (`api_poc.py:274-284`)
 *  - `GET /data/{t}?limit=n`             — preview (`api_poc.py:286-298`)
 *  - `GET /query?query=sql`              — SQL passthrough incl. `VERSION AS
 *    OF` sugar (`api_poc.py:208-263`)
 *  - `GET /view/{t}?search=&snapshot=&page_size=` — dashboard page: optional
 *    keyword search + time travel, newest-first page (`api_poc.py:362-446`)
 *  - `GET /box/{t}?cols=&lo=&hi=`        — multi-column box read (aligned
 *                                          comma lists; per-dim skipping)
 *  - `GET /range/{t}?col=&lo=&hi=`       — range read with manifest-level
 *    min/max data skipping; bounds coerce per the column's type
 *  - `GET /snapshots/{t}`                — `$snapshots` metadata
 *    (`api_poc.py:490-492`)
 *  - `GET /diff/{t}?v2=&v1=`             — snapshot diff (`api_poc.py:420-487`)
 *  - `POST /rollback/{t}?v=` / `POST /expire/{t}?keep=|older_than=` /
 *    `POST /cluster/{t}?cols=&dirs=` / `POST /compact/{t}` — the
 *    table-lifecycle maintenance verbs over HTTP
 *  - `POST /insert/{t}` (JSON object of column → string) — single-row INSERT
 *    with form coercion (`api_poc.py:763-801`)
 *  - `POST /update/{t}/{id}` (JSON object) — UPDATE by id (`api_poc.py:728-761`).
 *    Both DML writers also accept `application/x-www-form-urlencoded` bodies
 *    and answer those with a 303 back to /view — the edit-form flow
 *    (`api_poc.py:732,758`)
 *  - `POST /delete/{t}/{id}`             — DELETE by id (`api_poc.py:803-826`)
 *  - `POST /upload/{t}` (text/csv body; `?mode=replace|append|upsert`) — CSV
 *    ingest (`api_poc.py:300-320`; raw body instead of multipart — the
 *    transport simplification, same ingest path underneath); `?mode=cdc`
 *    is the reference's one-call CDC onboarding (`api_poc.py:300-360`):
 *    stages the rows as insert envelopes AND starts the resident merger
 *  - `POST /cdc/{t}/start?dir=&key=&mode=cow|mor&trigger_ms=&max_files=` —
 *    start the streaming CDC merger on envelope files in `dir`, merging
 *    into table `t` (the reference spawns its merger as a background task
 *    from `POST /upload/{t}?mode=mysql|postgres`, `api_poc.py:300-360`;
 *    here the lifecycle is explicit and the source is the file stand-in)
 *  - `GET /cdc/{t}/status` — active flag + last micro-batch progress
 *  - `POST /cdc/{t}/drain` — block until all currently-available input is
 *    processed (deterministic flush for tests/ops)
 *  - `POST /cdc/{t}/stop` — stop the stream (checkpoint retained: a later
 *    start resumes exactly-once from the committed offsets)
 *
 * Serving limits: every row-returning endpoint caps its collect (`limit`,
 * `page_size`, `maxRows`) — the driver never materializes an unbounded
 * result, matching the reference's LIMIT-ed serving queries.
 */
final class GraftHttpServer(session: GraftSession, port: Int = 0,
    maxRows: Int = 1000) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  // Without an explicit executor the JDK server handles every request on
  // its single dispatcher thread — one slow query would serialize the whole
  // surface. Spark sessions are thread-safe; a small pool serves concurrent
  // dashboard + query traffic like the reference's ASGI workers.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)

  /** Bound port (useful with port = 0 for an ephemeral choice). */
  def boundPort: Int = server.getAddress.getPort

  def start(): GraftHttpServer = { server.start(); this }

  def stop(): Unit = {
    // Endpoint-started CDC streams die with the server (their checkpoints
    // survive, so a restarted server resumes them exactly-once on demand).
    streams.forEach((_, q) => try q.stop() catch { case _: Throwable => () })
    streams.clear()
    server.stop(0)
    pool.shutdown()
  }

  // ------------------------------------------------------------- helpers

  private def qs(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) kv -> ""
        else java.net.URLDecoder.decode(kv.take(i), "UTF-8") ->
          java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
      }.toMap

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** Parse a flat JSON object of string/number/bool/null values to a String
    * map (the form-value shape `get_cast_val` coerces, `api_poc.py:704-726`).
    * JSON null maps to a null VALUE — "set this column to NULL" — rather
    * than being dropped, which would make `{"qty": null}` a silent no-op
    * the client cannot distinguish from a successful update. Nested
    * objects/arrays are rejected loudly for the same reason. */
  private def jsonObjToMap(s: String): Map[String, String] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(s) match {
      case JObject(fields) => fields.map {
        case (k, JString(v)) => k -> v
        case (k, JInt(v)) => k -> v.toString
        case (k, JLong(v)) => k -> v.toString
        case (k, JDouble(v)) => k -> v.toString
        case (k, JDecimal(v)) => k -> v.toString
        case (k, JBool(v)) => k -> v.toString
        case (k, JNull) => k -> (null: String)
        case (k, other) => throw new IllegalArgumentException(
          s"field $k must be a scalar, got ${other.getClass.getSimpleName}")
      }.toMap
      case _ => throw new IllegalArgumentException("body must be a JSON object")
    }
  }

  private def isForm(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .exists(_.contains("application/x-www-form-urlencoded"))

  /** DML body → column map: JSON object by default, url-encoded form when
    * the edit page posts (`request.form()`, `api_poc.py:732`). Form
    * semantics follow `get_cast_val`: an empty input means NULL
    * (`api_poc.py:706-707`), since a browser form has no way to send JSON
    * null. */
  private def bodyMap(ex: HttpExchange): Map[String, String] =
    if (!isForm(ex)) jsonObjToMap(body(ex))
    else body(ex).split("&").toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val k = java.net.URLDecoder.decode(if (i < 0) kv else kv.take(i), "UTF-8")
      val v = if (i < 0) "" else java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
      k -> (if (v.isEmpty) null else v)
    }.toMap

  /** `/prefix/{t}/{id}` → (table, id); missing id is a 400, not a crash.
    * Splits BEFORE percent-decoding: an id containing `%2F` must stay one
    * segment (`a%2Fb` → id `a/b`), not shift the table/id split. */
  private def tableAndId(ex: HttpExchange, prefix: String): (String, String) = {
    val parts = rawPathArg(ex, prefix).split("/", 2)
    require(parts.length == 2 && parts(1).nonEmpty,
      s"expected $prefix/{table}/{id}")
    (java.net.URLDecoder.decode(parts(0), "UTF-8"),
      java.net.URLDecoder.decode(parts(1), "UTF-8"))
  }

  /** Render `limit` rows of a LAZY frame as `{"columns":[...],"rows":
    * [{...},...]}` — the JSON face of the reference's cursor description +
    * fetchall (`api_poc.py:221-224`). toJSON serializes row-by-row on
    * executors: one Spark job per call. Only for frames that need a plan
    * anyway (`/query`, `/data`, `/view`, ...); rows the driver already
    * holds go through [[rowsJson]]. */
  private def dfJson(df: DataFrame, limit: Int): String =
    RowJson.document(df.columns.toSeq, df.limit(limit).toJSON.collect().toSeq)

  /** [[dfJson]]'s reply, byte for byte, for driver-side rows: encoded on
    * the calling thread, no DataFrame, no plan, no Spark job. */
  private def rowsJson(schema: StructType, rows: Seq[Row]): String =
    RowJson.render(session.catalog.spark, schema, rows)

  private def respond(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    // Default to JSON; an HTML-negotiated handler sets its own type as its
    // LAST step (so an error thrown mid-handler still reports as JSON).
    if (!ex.getResponseHeaders.containsKey("Content-Type"))
      ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  // ------------------------------------------------------- HTML rendering

  /** Content negotiation: `Accept: text/html` opts into the dashboard
    * rendering (`api_poc.py:362-647` returns HTML for these routes); the
    * JSON API is the default and stays byte-identical for every existing
    * client. */
  private def wantsHtml(ex: HttpExchange): Boolean =
    Option(ex.getRequestHeaders.getFirst("Accept")).exists(_.contains("text/html"))

  private def escHtml(v: Any): String =
    String.valueOf(v).replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")

  /** Render rows as an HTML table. `classCol` (when present in the frame)
    * becomes each row's CSS class — the NEW/MODIFIED/DELETED highlighting
    * of the reference dashboard (`api_poc.py:534-545`). */
  private def dfHtmlTable(df: DataFrame, limit: Int, classCol: Option[String]): String = {
    // A dunder classCol is internal plumbing (e.g. /view's __change_status,
    // named to never collide with a user column): it styles the row but is
    // not itself rendered as a column.
    val cols = df.columns.filterNot(c =>
      c.startsWith("__") && classCol.contains(c))
    val head = cols.map(c => s"<th>${escHtml(c)}</th>").mkString
    val body = df.limit(limit).collect().map { r =>
      val cls = classCol.filter(df.columns.contains).flatMap(cc =>
        Option(r.getAs[Any](cc)).map(_.toString.toLowerCase))
        .map(c => s""" class="${escHtml(c)}"""").getOrElse("")
      val tds = cols.map(c => s"<td>${escHtml(r.getAs[Any](c))}</td>").mkString
      s"<tr$cls>$tds</tr>"
    }.mkString("\n")
    s"""<table><thead><tr>$head</tr></thead><tbody>$body</tbody></table>"""
  }

  /** Minimal self-contained page: the reference's dashboard styling boiled
    * down to the row-status highlights that carry meaning. */
  private def htmlPage(title: String, banner: String, table: String): String =
    s"""<!doctype html><html><head><meta charset="utf-8"><title>${escHtml(title)}</title>
       |<style>
       |body{font-family:sans-serif;margin:1.5rem}
       |table{border-collapse:collapse;width:100%}
       |th,td{border:1px solid #e2e8f0;padding:6px 10px;text-align:left}
       |th{background:#f8fafc}
       |tr.new td{background:#dcfce7}
       |tr.modified td{background:#fffbeb}
       |tr.deleted td{background:#fee2e2;text-decoration:line-through}
       |.banner{background:#fff3cd;border:1px solid #ffeeba;padding:10px;border-radius:6px;margin-bottom:1rem}
       |.card{background:#f8fafc;border:1px solid #e2e8f0;border-radius:8px;padding:1rem 1.5rem;margin-bottom:1rem}
       |ul.tables{list-style:none;padding:0}
       |ul.tables li{margin:4px 0}
       |.sub{color:#64748b;font-size:0.85em}
       |form label{display:block;font-weight:600;margin-top:8px}
       |form input{width:100%;max-width:28rem;padding:6px;border:1px solid #cbd5e1;border-radius:4px}
       |form input[readonly]{background:#e2e8f0}
       |form textarea{width:100%;max-width:40rem;height:8rem;padding:8px;border:1px solid #cbd5e1;border-radius:4px;font-family:monospace}
       |form select{padding:6px;border:1px solid #cbd5e1;border-radius:4px}
       |.error{background:#fee2e2;color:#b91c1c;padding:10px;border-radius:6px;margin-top:12px}
       |form button{margin-top:12px;padding:8px 20px;border:none;border-radius:6px;background:#3b82f6;color:#fff;font-weight:600;cursor:pointer}
       |</style></head><body><h1>${escHtml(title)}</h1>$banner$table</body></html>""".stripMargin

  private def jsonErr(msg: String): String =
    """{"error":""" + RowJson.quote(Option(msg).getOrElse("internal error")) + "}"

  /** Thrown by a handler to answer 303 See Other instead of a 200 body —
    * the browser-form flow (`RedirectResponse(url=f"/view/{t}", 303)`,
    * `api_poc.py:758,800`). */
  private final class Redirect(val location: String)
    extends RuntimeException(location)
  private def Redirect(location: String): Redirect = new Redirect(location)

  /** Route with uniform error mapping: bad input → 400, anything else → 500
    * (`safe_execute`'s error surface, `api_poc.py:54-63`). `exact` is for
    * routes that take no path argument: they match ONLY their own path —
    * without it, `GET /tables/anything` would 200 with the tables list
    * instead of 404ing. */
  private def handle(path: String, exact: Boolean = false)(
      fn: HttpExchange => String): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      try {
        // The JDK server matches contexts by literal string prefix, so
        // `/tablesx` lands on the `/tables` handler. Enforce the segment
        // boundary centrally: the path must BE the route or (for arg-taking
        // routes, which re-check via rawPathArg) continue with `/`.
        val p = ex.getRequestURI.getPath
        if (p != path && (exact || !p.startsWith(path + "/")))
          throw new NoSuchElementException(s"no such endpoint: $p")
        respond(ex, 200, fn(ex))
      }
      catch {
        case r: Redirect =>
          ex.getResponseHeaders.set("Location", r.location)
          respond(ex, 303, "")
        case e: IllegalArgumentException => respond(ex, 400, jsonErr(e.getMessage))
        case e: NoSuchElementException => respond(ex, 404, jsonErr(e.getMessage))
        case e: Throwable => respond(ex, 500, jsonErr(e.getMessage))
      } finally ex.close()
    })

  /** Path remainder after `prefix`, UNDECODED. The JDK server matches
    * contexts by literal string prefix, so `/datax` also lands on the
    * `/data` handler — a real `/`-segment boundary is required here and
    * anything else is a 404, not a mis-parsed table name. */
  private def rawPathArg(ex: HttpExchange, prefix: String): String = {
    val p = ex.getRequestURI.getPath
    if (!p.startsWith(prefix + "/"))
      throw new NoSuchElementException(s"no such endpoint: $p")
    val rest = p.stripPrefix(prefix + "/")
    require(rest.nonEmpty, s"missing path argument after $prefix")
    rest
  }

  /** `/prefix/{t}` → table name (validated by the catalog on use). */
  private def pathArg(ex: HttpExchange, prefix: String): String =
    java.net.URLDecoder.decode(rawPathArg(ex, prefix), "UTF-8")

  // -------------------------------------------------------------- routes

  private def tablesJson: String =
    session.catalog.listTables()
      .map(t => "\"" + t + "\"").mkString("""{"tables":[""", ",", "]}")

  handle("/tables", exact = true) { _ => tablesJson }

  // Portal home page (`api_poc.py:125-206`): the browser front door — every
  // catalog table as a link into its dashboard view. Content-negotiated
  // like /view: an API client GETting / sees the same JSON as /tables.
  // Registered at "/" this context also receives every path no other
  // context claims; `exact = true` 404s those, preserving the server's
  // unknown-endpoint behavior.
  handle("/", exact = true) { ex =>
    if (!wantsHtml(ex)) tablesJson
    else {
      val links = session.catalog.listTables().map(t =>
        s"""<li><a href="/view/${escHtml(t)}">${escHtml(t)}</a> <span class="sub">(<a href="/snapshots/${escHtml(t)}">snapshots</a> · <a href="/diff/${escHtml(t)}">diff</a>)</span></li>""")
        .mkString("\n")
      val bodyHtml =
        s"""<div class="card"><h2>Data catalog</h2><ul class="tables">
           |$links
           |</ul></div>
           |<div class="card"><h2>Tools</h2>
           |<p><a href="/sql-workspace">SQL workspace</a> — run a query in the browser ·
           |<a href="/upload-ui">Upload CSV</a> — ingest a table from a form.</p></div>
           |<div class="card"><h2>Ingest API</h2>
           |<p><code>POST /upload/{table}?mode=replace|append|upsert</code> with a CSV body,
           |or <code>?mode=cdc</code> to stage the rows as CDC envelopes and start the
           |streaming merger in one call.</p></div>""".stripMargin
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      htmlPage("Graft Data Lake", "", bodyHtml)
    }
  }

  // Row edit form (`api_poc.py:648-702`): GET renders the record's columns
  // as a form posting to /update/{t}/{id}; the id column is read-only. A
  // non-HTML client gets the row as JSON (the same shape as /data).
  handle("/edit") { ex =>
    val (t, id) = tableAndId(ex, "/edit")
    // Key, schema, bucket spec and row from ONE head read. A table bucketed
    // by its key answers from driver-side rows — millisecond class, no
    // Spark job, including under pending MOR deltas; unbucketed or
    // odd-keyed tables run a filtered resolving read.
    val found = session.catalog.table(t).lookupPk(id, 1)
    if (!wantsHtml(ex)) rowsJson(found.schema, found.rows)
    else {
      val row = found.rows.headOption.getOrElse(
        throw new NoSuchElementException(s"no row with ${found.key}=$id in $t"))
      val fields = found.schema.fieldNames.zipWithIndex.map { case (c, i) =>
        val v = Option(row.get(i)).map(escHtml).getOrElse("")
        val ro = if (c == found.key) " readonly" else ""
        s"""<label>${escHtml(c)}</label><input type="text" name="${escHtml(c)}" value="$v"$ro>"""
      }.mkString("\n")
      val form =
        s"""<div class="card"><form method="POST" action="/update/${escHtml(t)}/${escHtml(id)}">
           |$fields
           |<button type="submit">Update</button>
           |</form><p><a href="/view/${escHtml(t)}">Cancel and go back</a></p></div>""".stripMargin
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      htmlPage(s"Edit $t / $id", "", form)
    }
  }

  handle("/data") { ex =>
    val t = pathArg(ex, "/data")
    val p = qs(ex)
    val limit = math.min(p.get("limit").map(_.toInt).getOrElse(10), maxRows)
    // ?branch= / ?tag= pin the read to a branch head or tagged snapshot —
    // the governed-writes analog of /view's VERSION AS OF pinning.
    val df = (p.get("branch"), p.get("tag")) match {
      case (Some(b), _) => session.catalog.table(t).branch(b).read().limit(limit)
      case (_, Some(tg)) => session.catalog.table(t).readTag(tg).limit(limit)
      case _ => session.preview(t, limit)
    }
    dfJson(df, maxRows)
  }

  handle("/query", exact = true) { ex =>
    val sql = qs(ex).getOrElse("query",
      throw new IllegalArgumentException("missing query parameter"))
    dfJson(session.sql(sql), maxRows)
  }

  // Browser SQL workspace (`api_poc.py:208-263`): GET renders a query
  // textarea; with `?query=` present the executed result renders as a
  // table below it, and a SQL error renders as an in-page error box (the
  // reference shows the error div with a 200, not an HTTP error — the
  // page, form included, must stay usable to fix the query). Content-
  // negotiated like /view: a non-HTML client GETting /sql-workspace gets
  // /query's JSON semantics, and /query itself is untouched.
  handle("/sql-workspace", exact = true) { ex =>
    val q = qs(ex).get("query").filter(_.trim.nonEmpty)
    if (!wantsHtml(ex))
      q.map(sql => dfJson(session.sql(sql), maxRows))
        .getOrElse("""{"status":"ok","hint":"pass ?query={sql}"}""")
    else {
      val (errorHtml, tableHtml) = q match {
        case None => ("", "")
        case Some(sql) =>
          try ("", dfHtmlTable(session.sql(sql), maxRows, classCol = None))
          catch {
            case e: Throwable =>
              val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              (s"""<div class="error"><b>SQL Error:</b> ${escHtml(msg)}</div>""", "")
          }
      }
      val example = escHtml(session.catalog.listTables().headOption
        .map(t => s"SELECT * FROM $t LIMIT 10").getOrElse("SELECT 1"))
      val form =
        s"""<div class="card"><form action="/sql-workspace" method="GET">
           |<label>SQL query</label>
           |<textarea name="query" placeholder="$example">${q.map(escHtml).getOrElse("")}</textarea>
           |<button type="submit">Execute Query</button>
           |</form>$errorHtml</div>""".stripMargin
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      htmlPage("SQL Workspace", "", form + tableHtml)
    }
  }

  // CSV upload form (`api_poc.py:177-183` renders it, `:265-272` handles
  // the post): GET renders the form, POST takes url-encoded `table_name`
  // / `mode` / `csv` fields, runs the SAME ingest as `POST /upload/{t}`,
  // and answers 303 to the new table's view — the reference's
  // RedirectResponse flow, and the same redirect-after-post shape as the
  // repo's row-edit forms. A browser form cannot put a raw CSV body on
  // the wire without multipart, so the form carries the CSV text in a
  // textarea; programmatic clients keep using /upload/{t} directly.
  handle("/upload-ui", exact = true) { ex =>
    if (ex.getRequestMethod == "POST") {
      val f = bodyMap(ex)
      val t = Option(f.getOrElse("table_name", null)).getOrElse(
        throw new IllegalArgumentException("missing table_name"))
      val mode = Option(f.getOrElse("mode", null)).getOrElse("replace")
      val csv = Option(f.getOrElse("csv", null)).getOrElse(
        throw new IllegalArgumentException("missing csv"))
      // Upsert keys on this column; without it the id heuristic falls back
      // to the FIRST column when nothing id-like exists, silently merging
      // rows the user considers distinct — so the form collects it.
      val key = Option(f.getOrElse("key", null)).map(_.trim).filter(_.nonEmpty)
      require(mode != "upsert" || key.nonEmpty ||
        graft.functions.Identifiers.hasIdCol(csv.linesIterator.nextOption()
          .map(_.split(",").toSeq.map(_.trim)).getOrElse(Nil)),
        "mode=upsert needs a key column: none given and no id-like CSV header found")
      val tmp = java.nio.file.Files.createTempFile("graft-upload-ui-", ".csv")
      try {
        java.nio.file.Files.write(tmp, csv.getBytes(StandardCharsets.UTF_8))
        session.catalog.ingestCsv(tmp.toString, t, mode = mode, key = key)
        session.registerView(t)
      } finally java.nio.file.Files.deleteIfExists(tmp)
      throw Redirect("/view/" + java.net.URLEncoder.encode(t, "UTF-8"))
    } else {
      val modeOpts = Seq("replace", "append", "upsert")
        .map(m => s"""<option value="$m">$m</option>""").mkString
      val form =
        s"""<div class="card"><form action="/upload-ui" method="POST">
           |<label>Table name</label><input type="text" name="table_name">
           |<label>Mode</label><select name="mode">$modeOpts</select>
           |<label>Key column (for upsert; blank = id-like header)</label>
           |<input type="text" name="key">
           |<label>CSV (header row first)</label>
           |<textarea name="csv" placeholder="id,name&#10;1,alpha"></textarea>
           |<button type="submit">Upload</button>
           |</form><p><a href="/">Back to catalog</a></p></div>""".stripMargin
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      htmlPage("Upload CSV", "", form)
    }
  }

  handle("/view") { ex =>
    val t = pathArg(ex, "/view")
    val p = qs(ex)
    val page = math.min(p.get("page_size").map(_.toInt).getOrElse(100), maxRows)
    val snapshot = p.get("snapshot").map(_.toLong)
    val rows = session.view(t, search = p.get("search"),
      snapshotId = snapshot, pageSize = page)
    if (!wantsHtml(ex)) dfJson(rows, maxRows)
    else {
      // Dashboard rendering (`api_poc.py:362-647`): in time-travel mode,
      // rows changed vs the snapshot's PARENT get a status column and a
      // NEW/MODIFIED row highlight — the reference's manual parent-state
      // comparison, expressed as the existing diff operator joined onto
      // the page. No parent (first snapshot) = no status, like the
      // reference's empty parent_map.
      val table = session.catalog.table(t)
      val withStatus = snapshot.flatMap(v2 => table.log.get(v2).flatMap(_.parentId)
        .map { v1 =>
          val pk = table.defaultPk
          // Collision-proof internal name: a user table may itself have a
          // `status` column, which would make the joined frame ambiguous
          // and could highlight rows from the table's own data.
          val d = table.diff(v2, v1, pk)
            .withColumnRenamed("change_type", "__change_status")
            .select(org.apache.spark.sql.functions.col(pk),
              org.apache.spark.sql.functions.col("__change_status"))
          rows.join(d, Seq(pk), "left")
        })
      val banner = snapshot.map(v =>
        s"""<div class="banner">TIME TRAVEL ACTIVE: viewing snapshot <code>$v</code></div>""")
        .getOrElse("")
      val html = htmlPage(s"$t", banner,
        dfHtmlTable(withStatus.getOrElse(rows), maxRows, classCol = Some("__change_status")))
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      html
    }
  }

  // One validated (column → lo/hi) bound for the range-window endpoints.
  //
  // Only scalar ORDERABLE kinds take a range window. Boolean is excluded
  // because Coerce's truthy parse cannot FAIL on it (nonsense bounds
  // would 200); nested/binary kinds because a string bound against them
  // either planner-errors into a 500 or silently filters nothing — both
  // are client errors and must 400 up front.
  //
  // Bounds arrive as strings and coerce per the column's type — the same
  // form-value rules as the DML endpoints; the manifest-level min/max
  // skipping then plans only the dirs whose bounds intersect the window.
  // Unlike the DML forms, an unparseable bound here can't be "cast later"
  // — Coerce's raw-string fallback would defeat stat pruning and the
  // engine-side cast would NULL the filter, silently returning zero rows
  // with a 200. A bound that failed to coerce to the column's type is a
  // client error: reject it as a 400, same as an unknown column.
  private def rangeBound(table: graft.table.GraftTable, c: String,
      loRaw: String, hiRaw: String): (String, (Any, Any)) = {
    require(table.schema.fieldNames.contains(c), s"no such column $c")
    val dt = table.schema(c).dataType
    val orderable = {
      import org.apache.spark.sql.types._
      dt match {
        case _: NumericType | StringType | TimestampType | TimestampNTZType |
          DateType => true
        case _ => false
      }
    }
    require(orderable,
      s"column $c is ${dt.simpleString}: range windows need an orderable scalar column")
    def bound(name: String, raw: String): Any = {
      val v = graft.functions.Coerce.coerce(raw, dt)
      val ok = dt match {
        case org.apache.spark.sql.types.StringType => true
        case _ => !v.isInstanceOf[String]
      }
      if (!ok) throw new IllegalArgumentException(
        s"$name='$raw' is not a valid ${dt.simpleString} bound for column $c")
      v
    }
    c -> (bound("lo", loRaw), bound("hi", hiRaw))
  }

  // /range is the one-column special case of /box — one shared validation
  // contract (rangeBound), one table-side plan (readRange delegates to
  // readBox), so a coercion-rule change cannot make the two diverge.
  handle("/range") { ex =>
    val t = pathArg(ex, "/range")
    val p = qs(ex)
    val c = p.getOrElse("col", throw new IllegalArgumentException("missing col"))
    def arg(name: String): String =
      p.getOrElse(name, throw new IllegalArgumentException(s"missing $name"))
    val table = session.catalog.table(t)
    val (_, (lo, hi)) = rangeBound(table, c, arg("lo"), arg("hi"))
    dfJson(table.readRange(c, lo, hi), maxRows)
  }

  // Multi-column box read: `?cols=a,b&lo=1,10&hi=5,20` — aligned comma
  // lists, one range per column, manifest skipping on EVERY bounded column
  // (the readBox serving face; same per-column orderability and
  // bound-coercion contract as /range, same 400 on any violation).
  handle("/box") { ex =>
    val t = pathArg(ex, "/box")
    val p = qs(ex)
    val table = session.catalog.table(t)
    def list(name: String): Seq[String] =
      p.getOrElse(name, throw new IllegalArgumentException(s"missing $name"))
        .split(',').toSeq.map(_.trim)
    val cols = list("cols"); val los = list("lo"); val his = list("hi")
    require(cols.nonEmpty && cols.size == los.size && cols.size == his.size,
      "cols, lo and hi must be comma-separated lists of equal length")
    val bounds = cols.zip(los.zip(his)).map { case (c, (loRaw, hiRaw)) =>
      rangeBound(table, c, loRaw, hiRaw)
    }
    dfJson(table.readBox(bounds), maxRows)
  }

  // Equality read on ANY column with both skipping tiers (manifest
  // min/max + the per-dir bloom index when one covers the column):
  // `/point/<table>?col=c&value=v`. The serving face of readPoint — the
  // non-bucket-column answer to /data's key lookup.
  handle("/point") { ex =>
    val t = pathArg(ex, "/point")
    val p = qs(ex)
    val c = p.getOrElse("col", throw new IllegalArgumentException("missing col"))
    val raw = p.getOrElse("value", throw new IllegalArgumentException("missing value"))
    val table = session.catalog.table(t)
    // User-visible (logical) names on the HTTP face; readPointRows maps to
    // the physical column itself, and rows are positional (same field
    // order), so the logical schema labels them correctly.
    val lst = table.logicalSchema
    require(lst.fieldNames.contains(c), s"no such column $c")
    val v = graft.functions.Coerce.coerce(raw, lst(c).dataType)
    // serving path: materialized rows, zero jobs steady-state (driver-side
    // stats + cached-bloom pruning + footer-cached decode), encoded to JSON
    // on this thread — no plan, no job. Only readPointRows' fallback to
    // the distributed readPoint (pending deltas, over the byte budget)
    // runs one.
    rowsJson(lst, table.readPointRows(c, v).take(maxRows))
  }

  // Build (`?rebuild=true`) or incrementally refresh the per-dir bloom
  // index on a column — the maintenance verb behind /point's pruning.
  handle("/bloom") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val t = pathArg(ex, "/bloom")
    val p = qs(ex)
    val c = p.getOrElse("col", throw new IllegalArgumentException("missing col"))
    val n =
      if (p.get("rebuild").contains("true"))
        session.catalog.table(t).buildBloomIndex(c)
      else session.catalog.table(t).refreshBloomIndex(c)
    s"""{"status":"ok","indexed_dirs":$n}"""
  }

  handle("/snapshots") { ex =>
    val t = pathArg(ex, "/snapshots")
    // Metadata rows the driver already holds: newest first, no job.
    rowsJson(graft.table.GraftTable.SnapshotsSchema,
      session.catalog.table(t).snapshotRows.sortBy(r => -r.getLong(0)).take(maxRows))
  }

  handle("/diff") { ex =>
    val t = pathArg(ex, "/diff")
    val p = qs(ex)
    val table = session.catalog.table(t)
    val v2 = p.get("v2").map(_.toLong).getOrElse(table.latestVersion)
    val v1 = p.get("v1").map(_.toLong)
      .orElse(table.log.get(v2).flatMap(_.parentId))
      .getOrElse(throw new IllegalArgumentException(s"snapshot $v2 has no parent"))
    val pk = table.defaultPk
    val d = table.diff(v2, v1, pk)
    if (!wantsHtml(ex)) dfJson(d, maxRows)
    else {
      val html = htmlPage(s"$t: $v1 → $v2",
        s"""<div class="banner">Snapshot diff <code>$v1</code> → <code>$v2</code></div>""",
        dfHtmlTable(d, maxRows, classCol = Some("change_type")))
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      html
    }
  }

  // DML endpoints re-register the table's SQL view after committing, so a
  // following /query sees the new snapshot — the reference's Trino always
  // plans against the current table; only explicitly pinned `VERSION AS OF`
  // reads stay historical.
  // Maintenance surface: the table-lifecycle verbs over HTTP — the ops
  // face of what the shell exposes as rollback/expire/cluster. All POST;
  // all return the acting snapshot/count as JSON.
  handle("/rollback") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val t = pathArg(ex, "/rollback")
    val v = qs(ex).getOrElse("v",
      throw new IllegalArgumentException("missing v (snapshot id)")).toLong
    val snap = session.catalog.table(t).rollback(v)
    session.registerView(t)
    s"""{"status":"ok","rolled_back_to":$v,"snapshot_id":${snap.snapshotId}}"""
  }

  handle("/expire") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val t = pathArg(ex, "/expire")
    val p = qs(ex)
    val table = session.catalog.table(t)
    val n = (p.get("keep"), p.get("older_than")) match {
      case (Some(k), _) => table.expireSnapshots(k.toInt)
      case (None, Some(ts)) =>
        // DateTimeParseException is a RuntimeException but NOT an IAE, so
        // without the rewrap a malformed older_than 500s while keep=abc
        // 400s — both are client input errors on this surface.
        try table.expireSnapshotsOlderThan(ts)
        catch {
          case e: java.time.format.DateTimeParseException =>
            throw new IllegalArgumentException(
              s"older_than='$ts' is not an ISO-8601 instant", e)
        }
      case _ => throw new IllegalArgumentException(
        "need keep=<n> or older_than=<ISO instant>")
    }
    s"""{"status":"ok","expired":$n}"""
  }

  handle("/cluster") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val t = pathArg(ex, "/cluster")
    val p = qs(ex)
    val cols = p.getOrElse("cols",
      throw new IllegalArgumentException("missing cols"))
      .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    val dirs = p.get("dirs").map(_.toInt).getOrElse(16)
    val snap = session.catalog.table(t).cluster(cols, dirs)
    session.registerView(t)
    s"""{"status":"ok","snapshot_id":${snap.snapshotId},"dirs":${snap.dataDirs.size}}"""
  }

  handle("/compact") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val t = pathArg(ex, "/compact")
    val snap = session.catalog.table(t).compact()
    session.registerView(t)
    s"""{"status":"ok","snapshot_id":${snap.snapshotId}}"""
  }

  // Governed-writes surface: branches/tags/WAP control plane, metadata-only
  // stats, and the CHECK-constraint DDL — same every-capability-on-the-API
  // rule as the audit ops below. Branch/tag READS ride /data via ?branch= /
  // ?tag= rather than new endpoints, mirroring how time travel rides /view.
  handle("/branch") { ex =>
    val t = pathArg(ex, "/branch")
    val table = session.catalog.table(t)
    if (ex.getRequestMethod == "GET")
      s"""{"branches":[${table.branches().map("\"" + _ + "\"").mkString(",")}]}"""
    else {
      val name = qs(ex).getOrElse("name",
        throw new IllegalArgumentException("missing name"))
      val snap = table.createBranch(name)
      s"""{"status":"ok","branch":"$name","base":${snap.summary("branch_base")}}"""
    }
  }

  handle("/publish") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val t = pathArg(ex, "/publish")
    val p = qs(ex)
    val name = p.getOrElse("name",
      throw new IllegalArgumentException("missing name"))
    val force = p.get("force").contains("true")
    // Non-fast-forward without force is a CLIENT protocol error (409-ish):
    // report it as 400 with the explanation, not a 500.
    val snap =
      try session.catalog.table(t).publishBranch(name, force)
      catch { case e: graft.log.CommitConflictException =>
        throw new IllegalArgumentException(e.getMessage, e) }
    session.registerView(t)
    s"""{"status":"ok","published":"$name","snapshot_id":${snap.snapshotId}}"""
  }

  handle("/drop_branch") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val t = pathArg(ex, "/drop_branch")
    val name = qs(ex).getOrElse("name",
      throw new IllegalArgumentException("missing name"))
    session.catalog.table(t).dropBranch(name)
    s"""{"status":"ok","dropped":"$name"}"""
  }

  handle("/tag") { ex =>
    val t = pathArg(ex, "/tag")
    val table = session.catalog.table(t)
    if (ex.getRequestMethod == "GET")
      s"""{"tags":{${table.tags().toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}"""
    else {
      val p = qs(ex)
      val name = p.getOrElse("name",
        throw new IllegalArgumentException("missing name"))
      val id = table.createTag(name, p.get("v").map(_.toLong))
      s"""{"status":"ok","tag":"$name","snapshot_id":$id}"""
    }
  }

  handle("/drop_tag") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val t = pathArg(ex, "/drop_tag")
    val name = qs(ex).getOrElse("name",
      throw new IllegalArgumentException("missing name"))
    session.catalog.table(t).dropTag(name)
    s"""{"status":"ok","dropped":"$name"}"""
  }

  handle("/stats") { ex =>
    val t = pathArg(ex, "/stats")
    val table = session.catalog.table(t)
    val cols = qs(ex).get("cols").map(_.split(',').toSeq.map(_.trim)
      .filter(_.nonEmpty)).getOrElse(Seq.empty)
    cols.foreach(c => require(table.schema.fieldNames.contains(c),
      s"no such column '$c' in table " +
        s"(have: ${table.schema.fieldNames.mkString(", ")})"))
    val metaOnly = table.statsFromMetadata(cols).isDefined
    val body = dfJson(table.statsSummary(cols), maxRows)
    // splice the path attribution in so ops can SEE when a table shape
    // (pending deltas, unharvested column) forces the scan fallback
    body.patch(1, s""""metadata_only":$metaOnly,""", 0)
  }

  handle("/constraint") { ex =>
    val t = pathArg(ex, "/constraint")
    val table = session.catalog.table(t)
    if (ex.getRequestMethod == "GET")
      table.checkConstraint
        .map(c => s"""{"check":${RowJson.quote(c)}}""").getOrElse("""{"check":null}""")
    else {
      val c = qs(ex).getOrElse("check",
        throw new IllegalArgumentException("missing check (SQL condition)"))
      // a condition that doesn't resolve against the schema is CLIENT input
      // error (the DDL-time validation), not a server fault
      try table.setCheckConstraint(c)
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(e.getMessage, e) }
      s"""{"status":"ok","check":${RowJson.quote(c)}}"""
    }
  }

  // Incremental-consumption surface: the change feed and its derived
  // materialized views — the endpoints a downstream consumer polls instead
  // of re-reading the table.
  handle("/changes") { ex =>
    val t = pathArg(ex, "/changes")
    val p = qs(ex)
    val pk = p.getOrElse("pk", throw new IllegalArgumentException("missing pk"))
    val from = p.getOrElse("from",
      throw new IllegalArgumentException("missing from (snapshot id)")).toLong
    val table = session.catalog.table(t)
    val to = p.get("to").map(_.toLong).getOrElse(table.latestVersion)
    val limit = math.min(p.get("limit").map(_.toInt).getOrElse(100), maxRows)
    val df = table.changesBetween(from, to, pk)
      .orderBy("_commit_version", pk).limit(limit)
    val body = dfJson(df, maxRows)
    body.patch(1, s""""from":$from,"to":$to,""", 0)
  }

  handle("/mv") { ex =>
    val t = pathArg(ex, "/mv")
    val table = session.catalog.table(t)
    qs(ex).get("name") match {
      case None =>
        s"""{"views":[${graft.table.MaterializedAgg.list(table)
          .map("\"" + _ + "\"").mkString(",")}]}"""
      case Some(nm) =>
        val mv = graft.table.MaterializedAgg.of(table, nm)
        dfJson(mv.read(), maxRows)
          .patch(1, s""""reflects_version":${mv.refreshedVersion},""", 0)
    }
  }

  handle("/mv_create") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val t = pathArg(ex, "/mv_create")
    val p = qs(ex)
    def need(k: String) =
      p.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    def split(s: String) = s.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    val mv = new graft.table.MaterializedAgg(session.catalog.table(t),
      need("name"), need("pk"), split(need("groups")),
      p.get("sums").map(split).getOrElse(Seq.empty))
    mv.create()
    s"""{"status":"ok","view":"${need("name")}","reflects_version":${mv.refreshedVersion}}"""
  }

  handle("/mv_refresh") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val t = pathArg(ex, "/mv_refresh")
    val nm = qs(ex).getOrElse("name",
      throw new IllegalArgumentException("missing name"))
    val mv = graft.table.MaterializedAgg.of(session.catalog.table(t), nm)
    mv.refresh()
    s"""{"status":"ok","view":"$nm","reflects_version":${mv.refreshedVersion}}"""
  }

  // Corpus-audit surface: the round-11 audit ops as read-only GETs, so
  // every capability is reachable from the API (the reference exposes even
  // snapshot diffs over HTTP — library-only operators would be a tier the
  // serving face silently lacks). Each validates its column args up front
  // (400, not a planner 500, on a typo'd column).
  private def auditCol(table: graft.table.GraftTable, p: Map[String, String],
      name: String, default: Option[String] = None): String = {
    val c = p.get(name).orElse(default).getOrElse(
      throw new IllegalArgumentException(s"missing $name (column)"))
    require(table.schema.fieldNames.contains(c),
      s"no such column '$c' in table (have: ${table.schema.fieldNames.mkString(", ")})")
    c
  }

  // Pairwise corpus-overlap audit: `?group=<col>[&text=<col>][&n=3]` —
  // shingle-overlap matrix between the table's groups (sources, shards).
  handle("/overlap") { ex =>
    val t = pathArg(ex, "/overlap")
    val p = qs(ex)
    val table = session.catalog.table(t)
    val group = auditCol(table, p, "group")
    val text = auditCol(table, p, "text", Some("text"))
    val n = p.get("n").map(_.toInt).getOrElse(3)
    dfJson(graft.ops.Dedup.corpusOverlap(table.read(), group, text, n)
      .orderBy(org.apache.spark.sql.functions.desc("jaccard")), maxRows)
  }

  // Heavy n-grams: `[?text=<col>][&n=3][&k=50][&min_count=5]` — exact
  // top-k repeated n-grams (count-min pre-filter, exact survivors).
  handle("/heavy_hitters") { ex =>
    val t = pathArg(ex, "/heavy_hitters")
    val p = qs(ex)
    val table = session.catalog.table(t)
    val text = auditCol(table, p, "text", Some("text"))
    dfJson(graft.ops.TextAnalysis.heavyHitters(table.read(), text,
      n = p.get("n").map(_.toInt).getOrElse(3),
      k = p.get("k").map(_.toInt).getOrElse(50),
      minCount = p.get("min_count").map(_.toLong).getOrElse(5L)), maxRows)
  }

  // Content-defined chunk dedup stats: `[?id=<col>][&text=<col>]
  // [&min=64][&avg=256][&max=1024]` — one scalar row (chunk counts, char
  // volumes, dedup_ratio = distinct chars / total chars).
  handle("/chunk_stats") { ex =>
    val t = pathArg(ex, "/chunk_stats")
    val p = qs(ex)
    val table = session.catalog.table(t)
    val id = auditCol(table, p, "id", Some(
      table.defaultPk))
    val text = auditCol(table, p, "text", Some("text"))
    dfJson(graft.ops.Curation.chunkDupStats(table.read(), id, text,
      minSize = p.get("min").map(_.toInt).getOrElse(64),
      avgSize = p.get("avg").map(_.toInt).getOrElse(256),
      maxSize = p.get("max").map(_.toInt).getOrElse(1024)), maxRows)
  }

  // Backward as-of join between two catalog tables (kdb `aj` semantics):
  // `/asof/<left>?right=<table>&key=k&left_ts=lt&right_ts=rt
  // [&payload=a,b][&tolerance_sec=N][&inner=true][&splits=N]` — for every
  // left row, the latest right row of the same key at or before the left
  // timestamp ([[graft.ops.TimeJoin.asofBackward]]; single-shuffle plan,
  // `splits` engages the hot-key time-split regime).
  handle("/asof") { ex =>
    val lt = pathArg(ex, "/asof")
    val p = qs(ex)
    def arg(name: String): String =
      p.getOrElse(name, throw new IllegalArgumentException(s"missing $name"))
    val left = session.catalog.table(lt)
    val right = session.catalog.table(arg("right"))
    val key = auditCol(left, p, "key")
    require(right.schema.fieldNames.contains(key), s"no such column $key in right")
    val leftTs = auditCol(left, p, "left_ts")
    val rightTs = arg("right_ts")
    require(right.schema.fieldNames.contains(rightTs), s"no such column $rightTs in right")
    val payload = p.get("payload").map(_.split(',').toSeq.map(_.trim))
      .getOrElse(right.schema.fieldNames.toSeq.filterNot(c => c == key || c == rightTs))
    val tol = p.get("tolerance_sec").map(s =>
      org.apache.spark.sql.functions.expr(s"INTERVAL ${s.toLong} SECONDS"))
    dfJson(graft.ops.TimeJoin.asofBackward(left.read(), right.read(), key,
      leftTs, rightTs, payload,
      tolerance = tol,
      inner = p.get("inner").contains("true"),
      timeSplits = p.get("splits").map(_.toInt).getOrElse(1)), maxRows)
  }

  // Point-in-interval join: `/interval/<points>?intervals=<table>&key=k&
  // point_ts=pt&start_ts=st&end_ts=et[&bin_sec=N][&payload=a,b]` — each
  // point row paired with every same-key interval containing it
  // ([[graft.ops.TimeJoin.intervalJoin]]; binned equi-join, never a BNL).
  handle("/interval") { ex =>
    val pt = pathArg(ex, "/interval")
    val p = qs(ex)
    def arg(name: String): String =
      p.getOrElse(name, throw new IllegalArgumentException(s"missing $name"))
    val points = session.catalog.table(pt)
    val ivs = session.catalog.table(arg("intervals"))
    val key = auditCol(points, p, "key")
    val pointTs = auditCol(points, p, "point_ts")
    val startTs = arg("start_ts"); val endTs = arg("end_ts")
    require(ivs.schema.fieldNames.contains(startTs) &&
      ivs.schema.fieldNames.contains(endTs),
      s"intervals table needs $startTs and $endTs")
    val payload = p.get("payload").map(_.split(',').toSeq.map(_.trim))
      .getOrElse(ivs.schema.fieldNames.toSeq
        .filterNot(c => c == key || c == startTs || c == endTs))
    val binSec = p.get("bin_sec").map(_.toLong).getOrElse(3600L)
    dfJson(graft.ops.TimeJoin.intervalJoin(points.read(), ivs.read(), key,
      pointTs, startTs, endTs, binWidthMicros = binSec * 1000000L,
      intervalPayload = payload), maxRows)
  }

  // Exact per-group quantiles: `/quantiles/<table>?value=<col>
  // [&group=<col>][&probs=0.25,0.5,0.75]` — [[graft.ops.Quantiles]], the
  // same implementation the shell verb uses.
  handle("/quantiles") { ex =>
    val t = pathArg(ex, "/quantiles")
    val p = qs(ex)
    val table = session.catalog.table(t)
    val value = auditCol(table, p, "value")
    val probs = p.get("probs")
      .map(s => graft.ops.Quantiles.parseProbs(s).getOrElse(
        throw new IllegalArgumentException(
          s"probs must be comma-separated fractions in [0, 1], got '$s'")))
      .getOrElse(Seq(0.25, 0.5, 0.75))
    val group = p.get("group").map(_ => auditCol(table, p, "group"))
    dfJson(graft.ops.Quantiles.of(table.read(), value, group, probs), maxRows)
  }

  handle("/insert") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val t = pathArg(ex, "/insert")
    val fromForm = isForm(ex)
    val snap = session.catalog.table(t).insertRow(bodyMap(ex))
    session.registerView(t)
    if (fromForm) throw Redirect(s"/view/$t") // browser flow, api_poc.py:800
    s"""{"status":"ok","snapshot_id":${snap.snapshotId}}"""
  }

  handle("/update") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val (t, id) = tableAndId(ex, "/update")
    val table = session.catalog.table(t)
    val pk = table.defaultPk
    val fromForm = isForm(ex)
    // Values arrive as strings and coerce per column type, exactly the
    // reference's get_cast_val form handling (`api_poc.py:704-726`); a JSON
    // null (or an emptied form input) sets the column to a typed NULL. The
    // id column is never a SET target — the edit form posts its read-only
    // pk input back, and the reference skips it too (`api_poc.py:748`).
    val sets = (bodyMap(ex) - pk).map { case (c, v) =>
      val dt = table.schema(c).dataType
      c -> (if (v == null) org.apache.spark.sql.functions.lit(null).cast(dt)
            else org.apache.spark.sql.functions.lit(
              graft.functions.Coerce.coerce(v, dt)))
    }
    val idVal = graft.functions.Coerce.coerce(id, table.schema(pk).dataType)
    val snap = table.updateWhere(
      org.apache.spark.sql.functions.col(pk) === idVal, sets)
    session.registerView(t)
    if (fromForm) throw Redirect(s"/view/$t") // browser flow, api_poc.py:758
    s"""{"status":"ok","snapshot_id":${snap.snapshotId}}"""
  }

  handle("/delete") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val (t, id) = tableAndId(ex, "/delete")
    val table = session.catalog.table(t)
    val pk = table.defaultPk
    val idVal = graft.functions.Coerce.coerce(id, table.schema(pk).dataType)
    val snap = table.deleteWhere(
      org.apache.spark.sql.functions.col(pk) === idVal)
    session.registerView(t)
    s"""{"status":"ok","snapshot_id":${snap.snapshotId}}"""
  }

  // ---------------------------------------------------- CDC streaming

  /** Endpoint-started CDC streams by target table. ConcurrentHashMap's
    * atomic `compute` is the start/start race guard — two concurrent
    * starts for one table cannot both launch a stream. */
  private val streams = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.streaming.StreamingQuery]()

  handle("/cdc") { ex =>
    val (t, action) = tableAndId(ex, "/cdc")
    action match {
      case "start" =>
        require(ex.getRequestMethod == "POST", "POST required")
        val p = qs(ex)
        val dir = p.getOrElse("dir",
          throw new IllegalArgumentException("missing dir (envelope files directory)"))
        val table = session.catalog.table(t)
        require(table.schema.fields.nonEmpty,
          s"table $t has no committed schema to merge into")
        // Key defaults like the DML endpoints: the id-looking column.
        val key = p.getOrElse("key",
          table.defaultPk)
        require(table.schema.fieldNames.contains(key), s"no such key column: $key")
        val mor = p.getOrElse("mode", "cow") match {
          case "cow" => false
          case "mor" => true
          case m => throw new IllegalArgumentException(s"mode must be cow|mor, got $m")
        }
        val triggerMs = p.get("trigger_ms").map(_.toLong).getOrElse(10000L)
        require(triggerMs >= 0, "trigger_ms must be >= 0")
        val maxFiles = p.get("max_files").map(_.toInt).getOrElse(1000)
        val deltaParts = p.get("delta_partitions").map(_.toInt).getOrElse(0)
        val spark = table.spark
        val q = streams.compute(t, (_, existing) => {
          if (existing != null && existing.isActive)
            throw new IllegalArgumentException(s"a CDC stream is already active for $t")
          // Checkpoint lives INSIDE the table dir: stop + start resumes the
          // committed offsets, and the merge's idempotent batchKey makes a
          // replayed trailing batch a no-op — exactly-once across restarts.
          graft.cdc.CdcPipeline.start(spark, dir, table.schema, table, key,
            table.root.resolve("_cdc_checkpoint").toString,
            trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs),
            maxFilesPerTrigger = maxFiles, mergeOnRead = mor,
            decodeParallelism = spark.sparkContext.defaultParallelism,
            deltaPartitions = deltaParts)
        })
        s"""{"status":"ok","table":${RowJson.quote(t)},"query_id":"${q.id}","mode":"${if (mor) "mor" else "cow"}","key":${RowJson.quote(key)}}"""

      case "status" =>
        Option(streams.get(t)) match {
          case None => s"""{"table":${RowJson.quote(t)},"active":false}"""
          case Some(q) =>
            val lp = Option(q.lastProgress)
            val err = q.exception
              .map(e => s""","error":${RowJson.quote(Option(e.cause).getOrElse(e).toString)}""")
              .getOrElse("")
            s"""{"table":${RowJson.quote(t)},"active":${q.isActive},"query_id":"${q.id}","last_batch_id":${lp.map(_.batchId).getOrElse(-1L)},"last_batch_rows":${lp.map(_.numInputRows).getOrElse(0L)}$err}"""
        }

      case "drain" =>
        require(ex.getRequestMethod == "POST", "POST required")
        val q = Option(streams.get(t)).filter(_.isActive).getOrElse(
          throw new NoSuchElementException(s"no active CDC stream for $t"))
        q.processAllAvailable()
        s"""{"status":"ok","table":${RowJson.quote(t)},"drained":true}"""

      case "stop" =>
        require(ex.getRequestMethod == "POST", "POST required")
        val q = Option(streams.get(t)).getOrElse(
          throw new NoSuchElementException(s"no CDC stream for $t"))
        // Stop BEFORE untracking: if stop() throws, the still-running query
        // stays in the map (status keeps reporting it, a second /start
        // against the same checkpoint stays blocked).
        q.stop()
        streams.remove(t, q)
        s"""{"status":"ok","table":${RowJson.quote(t)},"stopped":true}"""

      case other =>
        throw new NoSuchElementException(s"no such cdc action: $other")
    }
  }

  handle("/upload") { ex =>
    require(ex.getRequestMethod == "POST", "POST required")
    val t = pathArg(ex, "/upload")
    val mode = qs(ex).getOrElse("mode", "replace")
    val tmp = java.nio.file.Files.createTempFile("graft-upload-", ".csv")
    try {
      // Stream the body straight to disk: no in-heap copy of the CSV, and
      // its bytes reach Spark's reader unchanged (no UTF-8 round trip).
      java.nio.file.Files.copy(ex.getRequestBody, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      if (mode == "cdc") uploadCdc(ex, t, tmp)
      else {
        val table = session.catalog.ingestCsv(tmp.toString, t, mode = mode)
        session.registerView(t)
        // The ingest commit already counted its rows — no read-back job.
        val records = table.log.latest().flatMap(_.summary.get("records")).getOrElse("0")
        s"""{"status":"ok","table":"$t","records":$records}"""
      }
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /**
   * One-call CDC onboarding (`POST /upload/{t}?mode=cdc`) — the reference's
   * single entry point that both loads the uploaded CSV into the source AND
   * spawns the streaming merger as a background task
   * (`api_poc.py:300-360`). Here the CSV rows are staged as Debezium-style
   * insert envelopes in the table's `_cdc_in/` directory and the resident
   * merger is started against it (idempotent: a later upload to an
   * already-streaming table just stages more envelopes — the running query
   * picks them up on its next trigger). The table is created on first
   * upload, hash-bucketed by the detected key so every micro-batch merge is
   * a partial rewrite. `?merge=mor` selects merge-on-read;
   * `trigger_ms`/`max_files` tune the stream like `/cdc/{t}/start`.
   */
  private def uploadCdc(ex: HttpExchange, t: String,
      csv: java.nio.file.Path): String = {
    import org.apache.spark.sql.functions._
    val p = qs(ex)
    val spark = session.catalog.spark
    val raw = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(csv.toString)
    val df = raw.toDF(graft.functions.Identifiers.sanitizeAll(raw.columns.toSeq): _*)
    require(df.columns.nonEmpty, "CSV body has no columns")
    val key = p.getOrElse("key",
      graft.functions.Identifiers.findIdCol(df.columns.toSeq))
    val table =
      if (session.catalog.tableExists(t)) session.catalog.table(t)
      else session.catalog.createTable(t, df.schema, bucketBy = Some((key, 16)))
    require(table.schema.fieldNames.contains(key), s"no such key column: $key")
    // Align the CSV columns to the table schema (case-insensitive, typed —
    // later uploads may arrive with a column subset or different order).
    val have = df.columns
      .map(c => c.toLowerCase(java.util.Locale.ROOT) -> c).toMap
    val img = struct(table.schema.fields.toSeq.map { f =>
      have.get(f.name.toLowerCase(java.util.Locale.ROOT))
        .map(c => col(c).cast(f.dataType)).getOrElse(lit(null).cast(f.dataType))
        .as(f.name)
    }: _*)
    // Debezium-style wrapped insert envelopes; the upload wall-clock is the
    // ts_ms precombine, so a later upload's image of a key wins replays.
    val env = df.select(to_json(struct(struct(
      lit(null).cast(table.schema).as("before"), img.as("after"),
      lit("c").as("op"),
      lit(System.currentTimeMillis()).as("ts_ms")).as("payload"))).as("value"))
    val inDir = table.root.resolve("_cdc_in")
    java.nio.file.Files.createDirectories(inDir)
    // Stage outside the watched dir, then move each part in with ONE atomic
    // rename per file — the resident stream polls continuously and must
    // never list a half-written file.
    val stage = java.nio.file.Files.createTempDirectory("graft-cdc-upload-")
    env.repartition(1).write.mode("overwrite").text(stage.toString)
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val parts = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(stage)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      finally s.close()
    }
    parts.zipWithIndex.foreach { case (part, i) =>
      java.nio.file.Files.move(part, inDir.resolve(s"upload-$uid-$i.json"))
    }
    val mor = p.getOrElse("merge", "cow") match {
      case "cow" => false
      case "mor" => true
      case m => throw new IllegalArgumentException(s"merge must be cow|mor, got $m")
    }
    val triggerMs = p.get("trigger_ms").map(_.toLong).getOrElse(10000L)
    val maxFiles = p.get("max_files").map(_.toInt).getOrElse(1000)
    val q = streams.compute(t, (_, existing) => {
      if (existing != null && existing.isActive) existing
      else graft.cdc.CdcPipeline.start(spark, inDir.toString, table.schema,
        table, key, table.root.resolve("_cdc_checkpoint").toString,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs),
        maxFilesPerTrigger = maxFiles, mergeOnRead = mor,
        decodeParallelism = spark.sparkContext.defaultParallelism)
    })
    session.registerView(t)
    s"""{"status":"ok","table":${RowJson.quote(t)},"staged_files":${parts.size},"query_id":"${q.id}","key":${RowJson.quote(key)},"mode":"cdc"}"""
  }
}
