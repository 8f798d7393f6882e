package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.GraftCatalog

/**
 * SQL serving surface — the native equivalent of the reference's `/query` +
 * SQL-workspace endpoints (`api_poc.py:208-263`): any SQL against named
 * catalog tables, with the trailing-semicolon strip (`api_poc.py:217`) and
 * the preview limit of the `/data` endpoint (`api_poc.py:287,293`).
 *
 * Tables resolve by name because every catalog table is registered as a
 * temp view over its LATEST snapshot; [[refreshViews]] re-registers after
 * commits (a view pins the snapshot that was current at registration,
 * mirroring the reference where Trino sees the table as of query planning).
 */
final class GraftSession(val catalog: GraftCatalog) {

  /** (Re-)register every catalog table as a temp view over its latest
    * snapshot, plus a `<t>__snapshots` metadata view (the SQL face of
    * Iceberg's `t$snapshots`, `api_poc.py:426-429`). */
  def refreshViews(): Unit =
    catalog.listTables().foreach { t =>
      val table = catalog.table(t)
      table.read().createOrReplaceTempView(t)
      table.snapshotsDF.createOrReplaceTempView(s"${t}__snapshots")
    }

  /** Register one table (e.g. right after ingest) without a full refresh. */
  def registerView(name: String): Unit =
    catalog.table(name).read().createOrReplaceTempView(name)

  // The leading lookbehind skips qualified names (`lake.t VERSION AS OF 1`
  // is a CATALOG reference — Spark's own time travel resolves it through
  // GraftSparkCatalog.loadTable(ident, version); rewriting its last
  // segment to a view name would break it).
  private val VersionAsOf = """(?i)(?<![\w.])([A-Za-z_][A-Za-z0-9_]*)\s+VERSION\s+AS\s+OF\s+(\d+)\b""".r

  // MERGE INTO — the Hudi/Delta upsert idiom, accepted in exactly its two
  // canonical whole-statement shapes (UPDATE SET * + INSERT * = keyed
  // upsert; DELETE = keyed delete). Spark's parser would otherwise reject
  // MERGE against a temp view outright, so this is a pre-parse on the FULL
  // statement — anything shaped differently passes through for Catalyst to
  // report, never a silent partial merge.
  private val MergeUpsert =
    ("""(?is)^\s*MERGE\s+INTO\s+([A-Za-z_]\w*)\s+USING\s+([A-Za-z_]\w*)\s+""" +
      """ON\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s+""" +
      """WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+\*\s+""" +
      """WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*\s*$""").r
  private val MergeDelete =
    ("""(?is)^\s*MERGE\s+INTO\s+([A-Za-z_]\w*)\s+USING\s+([A-Za-z_]\w*)\s+""" +
      """ON\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s+""" +
      """WHEN\s+MATCHED\s+THEN\s+DELETE\s*$""").r

  // The reference's literal 3-clause conditional CDC MERGE
  // (`cdc_merger_optimized.py:176-183`):
  //   WHEN MATCHED AND s.op = 'd' THEN DELETE
  //   WHEN MATCHED THEN UPDATE SET t.c = s.c, ...
  //   WHEN NOT MATCHED AND s.op != 'd' THEN INSERT (...) VALUES (s....)
  // with optional [AS] aliases on both relations. When the SET covers
  // every non-key source data column as the identity t.c = s.c and the
  // INSERT lists every data column against s.<same>, the statement IS the
  // engine's op-aware full-replace merge (`Merge.merge(opCol)`) and runs
  // through that verb. Anything narrower (partial SET, non-identity
  // values, a different op code) routes through Catalyst instead: the
  // target re-resolves through a scratch v2 catalog over this session's
  // warehouse ([[catalystMerge]]) so `RewriteMergeIntoTable` + the
  // connector's row-level operations execute it natively — exactly what
  // the same statement gets against the `lake` catalog — and Catalyst
  // reports genuinely malformed statements with its own errors.
  private val MergeCdc =
    ("""(?is)^\s*MERGE\s+INTO\s+([A-Za-z_]\w*)(?:\s+(?:AS\s+)?(?!USING\b)([A-Za-z_]\w*))?\s+""" +
      """USING\s+([A-Za-z_]\w*)(?:\s+(?:AS\s+)?(?!ON\b)([A-Za-z_]\w*))?\s+""" +
      """ON\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s+""" +
      """WHEN\s+MATCHED\s+AND\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*'([^']*)'\s+THEN\s+DELETE\s+""" +
      """WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(.*?)\s+""" +
      """WHEN\s+NOT\s+MATCHED\s+AND\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*(?:!=|<>)\s*'([^']*)'\s+THEN\s+""" +
      """INSERT\s*\(([^()]*)\)\s*VALUES\s*\(([^()]*)\)\s*$""").r

  private val Ident = """^[A-Za-z_]\w*$""".r
  private val QualIdent = """^([A-Za-z_]\w*)\.([A-Za-z_]\w*)$""".r

  // Catch-all for MERGE statements the engine-verb sugars above don't
  // match: an UNQUALIFIED target name (qualified ones — lake.t — already
  // resolve through their own catalog) routed to [[catalystMerge]].
  private val MergeAny =
    """(?is)^\s*MERGE\s+INTO\s+([A-Za-z_]\w*)(?!\s*\.)\b.*$""".r

  // `l ASOF [LEFT|INNER] JOIN r ON l.k = r.k AND l.lts >= r.rts
  // [TOLERANCE INTERVAL ...] [TIEBREAK r.c] [PREFIX 'p_']` — the DuckDB
  // backward-as-of grammar as a FROM-clause sugar (Spark has no ASOF
  // JOIN): the fragment rewrites to a temp view over
  // [[graft.ops.TimeJoin.asofBackward]] (single-shuffle plan, per-key
  // ordered sweep) and the surrounding SELECT runs unchanged. LEFT (the
  // default) keeps unmatched left rows with NULL right columns; INNER
  // drops them. Right payload columns surface as `<prefix><col>` (default
  // `asof_`). Only fires outside string literals and when both names
  // resolve as tables/views.
  private val AsofJoin =
    ("""(?is)\b([A-Za-z_]\w*)\s+ASOF\s+(?:(LEFT|INNER)\s+)?JOIN\s+([A-Za-z_]\w*)\s+ON\s+""" +
      """([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s+""" +
      """AND\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*>=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)""" +
      """(?:\s+TOLERANCE\s+(INTERVAL\s+'?\d+'?\s+\w+))?""" +
      """(?:\s+TIEBREAK\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*))?""" +
      """(?:\s+PREFIX\s+'(\w*)')?""").r

  // `p INTERVAL JOIN i ON p.k = i.k AND p.ts BETWEEN i.start AND i.end
  // [BINS INTERVAL ...] [PREFIX 'p_']` — point-in-interval join sugar over
  // [[graft.ops.TimeJoin.intervalJoin]] (binned equi-join, never an
  // inequality nested loop). BINS sets the bin granularity (default one
  // hour — correct for any positive width; pick near the typical interval
  // span). Interval payload columns (everything but the key and the two
  // bounds) surface as `<prefix><col>` (default `iv_`).
  private val IntervalJoin =
    ("""(?is)\b([A-Za-z_]\w*)\s+INTERVAL\s+JOIN\s+([A-Za-z_]\w*)\s+ON\s+""" +
      """([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s+""" +
      """AND\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s+BETWEEN\s+""" +
      """([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s+AND\s+([A-Za-z_]\w*)\.([A-Za-z_]\w*)""" +
      """(?:\s+BINS\s+(INTERVAL\s+'?\d+'?\s+\w+))?""" +
      """(?:\s+PREFIX\s+'(\w*)')?""").r

  private def resolvable(name: String): Boolean =
    catalog.tableExists(name) || catalog.spark.catalog.tableExists(name)

  /** Rewrite every top-level ASOF JOIN fragment to a temp view over the
    * engine's as-of join. A matched fragment with mismatched qualifiers
    * refuses loudly — Spark's parser has no ASOF grammar to report it. */
  private def rewriteAsof(stmt: String): String = {
    val mask = outsideMask(stmt)
    val asofd = AsofJoin.replaceAllIn(stmt, m => {
      val (l, r) = (m.group(1), m.group(3))
      if (!mask(m.start) || !resolvable(l) || !resolvable(r))
        scala.util.matching.Regex.quoteReplacement(m.matched)
      else {
        def sideOf(q: String): String =
          if (q == l) "left" else if (q == r) "right"
          else throw new IllegalArgumentException(
            s"ASOF JOIN qualifier $q names neither $l nor $r")
        val inner = Option(m.group(2))
          .exists(_.equalsIgnoreCase("INNER"))
        val (kq1, k1, kq2, k2) = (m.group(4), m.group(5), m.group(6), m.group(7))
        require(sideOf(kq1) != sideOf(kq2) && k1 == k2,
          s"ASOF JOIN ON must equate one shared key, got $kq1.$k1 = $kq2.$k2")
        val (tq1, t1, tq2, t2) =
          (m.group(8), m.group(9), m.group(10), m.group(11))
        require(sideOf(tq1) == "left" && sideOf(tq2) == "right",
          s"ASOF JOIN time condition must be $l.<ts> >= $r.<ts>, " +
            s"got $tq1.$t1 >= $tq2.$t2")
        val tolerance = Option(m.group(12))
          .map(iv => org.apache.spark.sql.functions.expr(iv))
        val tieBreak = Option(m.group(14)).map { c =>
          require(sideOf(m.group(13)) == "right",
            s"ASOF JOIN TIEBREAK must name a $r column")
          c
        }
        val prefix = Option(m.group(15)).getOrElse("asof_")
        val left = mergeSource(l)
        val right = mergeSource(r)
        val payload = right.columns.toSeq.filterNot(_ == k1)
        val view = s"${l}__asof_${r}_${prefix.stripSuffix("_")}" +
          (if (inner) "_inner" else "")
        graft.ops.TimeJoin.asofBackward(left, right, key = k1,
          leftTs = t1, rightTs = t2, rightPayload = payload,
          prefix = prefix, tieBreak = tieBreak, tolerance = tolerance,
          inner = inner)
          .createOrReplaceTempView(view)
        view
      }
    })
    rewriteInterval(asofd)
  }

  /** Evaluated day-time INTERVAL literal in microseconds. */
  private def intervalMicros(iv: String): Long =
    catalog.spark.sessionState.sqlParser.parseExpression(iv).eval(null) match {
      case l: java.lang.Long => l.longValue // DayTimeIntervalType micros
      case ci: org.apache.spark.unsafe.types.CalendarInterval =>
        require(ci.months == 0, s"BINS interval must be day-time: $iv")
        ci.days * 86400000000L + ci.microseconds
      case other => throw new IllegalArgumentException(
        s"BINS must be a literal day-time interval, got $iv ($other)")
    }

  private def rewriteInterval(stmt: String): String = {
    val mask = outsideMask(stmt)
    IntervalJoin.replaceAllIn(stmt, m => {
      val (l, r) = (m.group(1), m.group(2))
      if (!mask(m.start) || !resolvable(l) || !resolvable(r))
        scala.util.matching.Regex.quoteReplacement(m.matched)
      else {
        def sideOf(q: String): String =
          if (q == l) "points" else if (q == r) "intervals"
          else throw new IllegalArgumentException(
            s"INTERVAL JOIN qualifier $q names neither $l nor $r")
        val (kq1, k1, kq2, k2) = (m.group(3), m.group(4), m.group(5), m.group(6))
        require(sideOf(kq1) != sideOf(kq2) && k1 == k2,
          s"INTERVAL JOIN ON must equate one shared key, got $kq1.$k1 = $kq2.$k2")
        require(sideOf(m.group(7)) == "points",
          s"INTERVAL JOIN BETWEEN must test a $l timestamp")
        require(sideOf(m.group(9)) == "intervals" &&
          sideOf(m.group(11)) == "intervals",
          s"INTERVAL JOIN bounds must both be $r columns")
        val (pts, sts, ets) = (m.group(8), m.group(10), m.group(12))
        val binMicros = Option(m.group(13)).map(intervalMicros)
          .getOrElse(3600L * 1000 * 1000)
        val prefix = Option(m.group(14)).getOrElse("iv_")
        val points = mergeSource(l)
        val intervals = mergeSource(r)
        val payload = intervals.columns.toSeq
          .filterNot(c => c == k1 || c == sts || c == ets)
        val view = s"${l}__interval_${r}_${prefix.stripSuffix("_")}"
        graft.ops.TimeJoin.intervalJoin(points, intervals, key = k1,
          pointTs = pts, startTs = sts, endTs = ets,
          binWidthMicros = binMicros, intervalPayload = payload,
          prefix = prefix)
          .createOrReplaceTempView(view)
        view
      }
    })
  }

  // UPDATE / DELETE as SQL TEXT against a session (temp-view) table — the
  // reference's row update (`api_poc.py:755`) on the surface Spark's own
  // parser refuses for views. Expressions parse through Catalyst's
  // `expr()` (full SQL expression grammar); only the statement SKELETON is
  // pre-parsed, whole-statement anchored. Catalog-qualified names
  // (lake.t) intentionally do NOT match — the v2 row-level operations
  // serve those natively.
  private val UpdateStmt =
    """(?is)^\s*UPDATE\s+([A-Za-z_]\w*)\s+SET\s+(.+)$""".r
  private val DeleteStmt =
    """(?is)^\s*DELETE\s+FROM\s+([A-Za-z_]\w*)\s+WHERE\s+(.+?)\s*$""".r

  // Schema evolution as SQL text on the session surface — Spark's parser
  // refuses ALTER against a temp view, so the three metadata-only verbs
  // (rename / drop / add) pre-parse here and route to the table API.
  // Catalog-qualified names pass through to GraftSparkCatalog.alterTable.
  private val AlterRename =
    ("""(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+RENAME\s+COLUMN\s+""" +
      """([A-Za-z_]\w*)\s+TO\s+([A-Za-z_]\w*)\s*$""").r
  private val AlterDrop =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+DROP\s+COLUMN\s+([A-Za-z_]\w*)\s*$""".r
  private val AlterAdd =
    ("""(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+ADD\s+COLUMNS?\s*""" +
      """\(([^()]+)\)\s*$""").r
  private val AlterWiden =
    ("""(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_]\w*)\s+ALTER\s+COLUMN\s+""" +
      // Parameterized types carry commas and spaces: DECIMAL(13, 2).
      """([A-Za-z_]\w*)\s+TYPE\s+([A-Za-z0-9_]+(?:\s*\([\d\s,]*\))?)\s*$""").r

  /** Split at the LAST top-level `WHERE` keyword — outside string
    * literals and parentheses, so a literal `'x where y'` in a SET value
    * or a scalar subquery's own WHERE never splits the statement. */
  private def splitLastTopLevelWhere(s: String): Option[(String, String)] = {
    var depth = 0
    var quote: Char = 0
    var at = -1
    var i = 0
    def boundary(j: Int): Boolean =
      j < 0 || j >= s.length || (!s(j).isLetterOrDigit && s(j) != '_')
    while (i < s.length) {
      val c = s(i)
      // Inside a literal, a backslash escapes the next character (Spark's
      // default parser accepts 'it\'s' alongside SQL-standard 'it''s') —
      // skip it so the escape can't close the quote early.
      if (quote != 0) {
        if (c == '\\') i += 1 else if (c == quote) quote = 0
      }
      else c match {
        case '\'' | '"' => quote = c
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'w' | 'W' if depth == 0 &&
            s.regionMatches(true, i, "WHERE", 0, 5) &&
            boundary(i - 1) && boundary(i + 5) =>
          at = i
        case _ => ()
      }
      i += 1
    }
    if (at < 0) None
    else Some((s.take(at).trim, s.drop(at + 5).trim))
  }

  /** Split on TOP-LEVEL commas only: an assignment value may itself carry
    * commas inside function calls or string literals. */
  private def splitAssignments(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val ch = s(i)
      if (quote != 0) {
        cur.append(ch)
        // Backslash escapes the next char inside a literal (see
        // splitLastTopLevelWhere) — copy it through without closing.
        if (ch == '\\' && i + 1 < s.length) { i += 1; cur.append(s(i)) }
        else if (ch == quote) quote = 0
      }
      else ch match {
        case '\'' | '"' => quote = ch; cur.append(ch)
        case '(' => depth += 1; cur.append(ch)
        case ')' => depth -= 1; cur.append(ch)
        case ',' if depth == 0 => out += cur.result(); cur.clear()
        case c => cur.append(c)
      }
      i += 1
    }
    out += cur.result()
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def runUpdate(t: String, setSql: String, whereSql: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val table = catalog.table(t)
    val cols = table.logicalSchema.fieldNames.toSet // user-visible names
    val set: Map[String, org.apache.spark.sql.Column] =
      splitAssignments(setSql).map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"malformed SET assignment: $a")
        val c = a.take(i).trim
        require(Ident.matches(c) && cols.contains(c),
          s"UPDATE SET column '$c' does not exist in $t")
        c -> expr(a.drop(i + 1).trim)
      }.toMap
    val snap = table.updateWhere(expr(whereSql), set)
    mergeResult(t, "update", snap.snapshotId)
  }

  private def runDelete(t: String, whereSql: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val snap = catalog.table(t).deleteWhere(expr(whereSql))
    mergeResult(t, "delete", snap.snapshotId)
  }

  /** Validates the 3-clause CDC merge's column lists against the source's
    * actual data columns and runs the op-aware keyed merge. Any deviation
    * from the full-replace shape refuses loudly (never a partial merge). */
  private def runCdcMerge(stmt: String, t: String, tAliasOpt: Option[String],
      src: String, sAliasOpt: Option[String],
      on: ((String, String), (String, String)),
      delQ: String, delCol: String, delVal: String,
      setSql: String,
      insQ: String, insCol: String, insVal: String,
      insertCols: String, insertVals: String): DataFrame = {
    // Shape checks below throw IllegalArgumentException when the statement
    // is not the full-replace identity merge; those route to [[catalystMerge]]
    // (which either executes a narrower merge natively or reports a real
    // parse/analysis error) rather than running a silently different merge.
    val fast: Either[IllegalArgumentException, DataFrame] =
      try Right {
        val tA = tAliasOpt.getOrElse(t)
        val sA = sAliasOpt.getOrElse(src)
        require(tA != sA, s"MERGE aliases must be distinct, got $tA twice")
        val key = mergeKey(tA, sA, on._1, on._2)
        require(delQ == sA && insQ == sA && delCol == insCol && delVal == insVal,
          s"MERGE op conditions must test one source column against one value, " +
            s"got $delQ.$delCol='$delVal' vs $insQ.$insCol!='$insVal'")
        require(delVal == "d",
          s"MERGE op-aware sugar serves the Debezium op code 'd', got '$delVal'")
        val source = mergeSource(src)
        val dataCols = source.columns.toSeq.filterNot(_ == delCol)
        require(dataCols.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.size ==
          dataCols.size, s"source $src carries duplicate-modulo-case columns")
        def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
        // SET must be the identity map over every non-key data column.
        // Top-level comma split: a well-formed SET value may itself carry
        // commas inside function calls or literals.
        val setPairs = splitAssignments(setSql)
        val setCols = setPairs.map { p =>
          p.split('=') match {
            case Array(l, r) => (l.trim, r.trim) match {
              case (QualIdent(lq, lcn), QualIdent(rq, rcn))
                  if lq == tA && rq == sA && lc(lcn) == lc(rcn) => lcn
              case other => throw new IllegalArgumentException(
                s"MERGE SET supports only $tA.c = $sA.c assignments, got $p")
            }
            case _ => throw new IllegalArgumentException(
              s"malformed MERGE SET assignment: $p")
          }
        }
        require(setCols.map(lc).toSet == dataCols.filterNot(_ == key).map(lc).toSet,
          s"MERGE SET must cover every non-key source column " +
            s"(${dataCols.filterNot(_ == key).mkString(", ")}), got ${setCols.mkString(", ")}")
        // INSERT (cols) VALUES (s.cols): identity-aligned, full column list.
        val iCols = splitAssignments(insertCols)
        val iVals = splitAssignments(insertVals)
        require(iCols.size == iVals.size && iCols.forall(Ident.matches),
          "MERGE INSERT column list and VALUES must align")
        iCols.zip(iVals).foreach {
          case (c, QualIdent(q, v)) if q == sA && lc(v) == lc(c) => ()
          case (c, v) => throw new IllegalArgumentException(
            s"MERGE INSERT supports only identity values, got $c <- $v")
        }
        require(iCols.map(lc).toSet == dataCols.map(lc).toSet,
          s"MERGE INSERT must list every source data column " +
            s"(${dataCols.mkString(", ")}), got ${iCols.mkString(", ")}")
        val snap = catalog.table(t).upsert(source, key, opCol = Some(delCol))
        mergeResult(t, "merge-cdc", snap.snapshotId)
      } catch { case e: IllegalArgumentException => Left(e) }
    fast.fold(_ => catalystMerge(stmt, t), identity)
  }

  /** Name of the scratch v2 catalog registered over this session's
    * warehouse — the bridge that lets Catalyst run row-level SQL (MERGE
    * shapes the engine-verb sugar doesn't cover) against tables the
    * session otherwise serves as temp views. Warehouse-derived: Spark's
    * CatalogManager caches catalog INSTANCES by name after first use, so
    * two GraftSessions over different warehouses in one SparkSession must
    * not share a name. */
  private val scratchCatalog = {
    val wh = catalog.warehouse.toAbsolutePath.toString
    val h = Integer.toHexString(wh.hashCode)
    // hashCode collisions across warehouses would route a MERGE into the
    // WRONG warehouse (the cached catalog instance keeps the first one) —
    // probe registered names and suffix until ours is free or already ours.
    val spark = catalog.spark
    var name = s"graft_session_$h"
    var i = 0
    while (spark.conf.getOption(s"spark.sql.catalog.$name.warehouse")
        .exists(_ != wh)) {
      i += 1; name = s"graft_session_${h}_$i"
    }
    name
  }

  /** Run a MERGE statement through Catalyst's row-level machinery by
    * re-qualifying the (temp-view) target as `<scratchCatalog>.<t>` —
    * the session warehouse seen through [[graft.connector.GraftSparkCatalog]].
    * The USING side still resolves against temp views (Catalyst looks
    * there first), so sources keep working unchanged. Narrower merges
    * (partial SET, extra WHEN clauses, NOT MATCHED BY SOURCE) execute as
    * bucket-grouped copy-on-write rewrites exactly as they do against the
    * `lake` catalog; malformed statements get Catalyst's own errors. */
  private def catalystMerge(stmt: String, t: String): DataFrame = {
    val spark = catalog.spark
    val key = s"spark.sql.catalog.$scratchCatalog"
    if (!spark.conf.getOption(key).contains(
        classOf[graft.connector.GraftSparkCatalog].getName)) {
      spark.conf.set(key, classOf[graft.connector.GraftSparkCatalog].getName)
      spark.conf.set(s"$key.warehouse", catalog.warehouse.toString)
    }
    // `t` is a bare identifier ([A-Za-z_]\w*) by the time we get here, so
    // neither side needs regex quoting.
    val requalified = stmt.replaceFirst(
      "(?is)^(\\s*MERGE\\s+INTO\\s+)" + t + "\\b", "$1" + scratchCatalog + "." + t)
    spark.sql(requalified)
    mergeResult(t, "merge-catalyst", catalog.table(t).latestVersion)
  }

  /** The USING side: a catalog table's resolved read, or any temp view. */
  private def mergeSource(name: String): DataFrame =
    if (catalog.tableExists(name)) catalog.table(name).read()
    else catalog.spark.table(name)

  /** Validates the ON clause names both sides with ONE shared key and
    * returns it: `t.k = s.k` (either order). The two sides are validated
    * as an explicit PAIR, never through a Map — a Map collapses duplicate
    * qualifiers, so the degenerate self-merge `MERGE INTO t USING t ON
    * t.a = t.b` would slip through both checks and silently run an upsert
    * keyed on `b`, against the refuse-loudly contract. */
  private def mergeKey(t: String, src: String,
      a: (String, String), b: (String, String)): String = {
    val (q1, k1) = a
    val (q2, k2) = b
    require(Set(q1, q2) == Set(t, src),
      s"MERGE ON must reference $t and $src, got $q1, $q2")
    require(k1 == k2,
      s"MERGE ON must equate one shared key, got $q1.$k1 vs $q2.$k2")
    k1
  }

  /** One-row result of a rewritten MERGE: what ran and where it landed. */
  private def mergeResult(table: String, op: String, snapId: Long): DataFrame = {
    import catalog.spark.implicits._
    val df = Seq((table, op, snapId)).toDF("table", "operation", "snapshot_id")
    registerView(table) // the view must show the post-merge state
    df
  }

  // TABLE_CHANGES('t', from[, to[, 'pk']]) — Delta's CDF table-valued
  // function shape over our change feed. `to` defaults to the head, `pk`
  // to the table's id-like column (the feed needs a merge key; Delta
  // stores change files instead and has no such argument).
  private val TableChanges =
    """(?i)\bTABLE_CHANGES\s*\(\s*'([A-Za-z_][A-Za-z0-9_]*)'\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?(?:,\s*'([A-Za-z_][A-Za-z0-9_]*)'\s*)?\)""".r

  /**
   * Per-character mask of `s`: true where the character is OUTSIDE string
   * literals (single- or double-quoted, with backslash escapes — Spark's
   * default dialect treats both as strings), `--` line comments, and
   * `/* */` block comments (nested, as Spark's lexer accepts). SQL's
   * doubled-quote escape (`''`) falls out of the scan naturally: the
   * second quote re-enters literal state over an empty outside run.
   */
  private def outsideMask(s: String): Array[Boolean] = {
    val mask = new Array[Boolean](s.length)
    var quote: Char = 0 // current literal delimiter, 0 = outside
    var inComment = false
    var blockDepth = 0 // nested /* */ depth
    var escaped = false
    var i = 0
    def pair(): Unit = { i += 1 } // second char of a two-char token
    while (i < s.length) {
      val c = s(i)
      if (inComment) { if (c == '\n') inComment = false }
      else if (blockDepth > 0) {
        if (c == '*' && i + 1 < s.length && s(i + 1) == '/') { blockDepth -= 1; pair() }
        else if (c == '/' && i + 1 < s.length && s(i + 1) == '*') { blockDepth += 1; pair() }
      } else if (quote != 0) {
        if (escaped) escaped = false
        else if (c == '\\') escaped = true
        else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"') quote = c
      else if (c == '-' && i + 1 < s.length && s(i + 1) == '-') { inComment = true; pair() }
      else if (c == '/' && i + 1 < s.length && s(i + 1) == '*') { blockDepth = 1; pair() }
      else mask(i) = true
      i += 1
    }
    mask
  }

  /** Apply `f` to each maximal run of `s` outside literals/comments
    * (per [[outsideMask]]), copying protected content verbatim. */
  private def mapOutsideLiterals(s: String, f: String => String): String = {
    val mask = outsideMask(s)
    val out = new StringBuilder
    val buf = new StringBuilder
    for (i <- 0 until s.length) {
      if (mask(i)) buf.append(s(i))
      else {
        if (buf.nonEmpty) { out.append(f(buf.toString())); buf.clear() }
        out.append(s(i))
      }
    }
    out.append(f(buf.toString())) // trailing run (f may act on empty too)
    out.toString()
  }

  /**
   * `/query`: passthrough SQL with the Trino-ism semicolon strip (F11) and
   * the Iceberg time-travel sugar `FROM t VERSION AS OF <snapshotId>`
   * (`api_poc.py:374-376`): each occurrence is rewritten to a temp view
   * pinned to that snapshot before handing the query to Catalyst. The
   * rewrite never fires inside a string literal or comment — `WHERE c =
   * 't VERSION AS OF 1'` passes through untouched — and only fires for
   * names that ARE catalog tables, so a pattern-shaped phrase elsewhere in
   * a valid query cannot fail it (Catalyst still reports real errors).
   */
  def sql(query: String): DataFrame = {
    val clean = query.trim.stripSuffix(";")
    // MERGE pre-parse (whole statement, so literals cannot hide a match):
    // both shapes route to the engine's keyed merge verbs.
    clean match {
      case MergeCdc(t, tAl, src, sAl, q1, k1, q2, k2, delQ, delCol, delVal,
          setSql, insQ, insCol, insVal, iCols, iVals) if catalog.tableExists(t) =>
        return runCdcMerge(clean, t, Option(tAl), src, Option(sAl),
          ((q1, k1), (q2, k2)), delQ, delCol, delVal, setSql,
          insQ, insCol, insVal, iCols, iVals)
      case AlterRename(t, from, to) if catalog.tableExists(t) =>
        val snap = catalog.table(t).renameColumn(from, to)
        return mergeResult(t, "rename-column", snap.snapshotId)
      case AlterDrop(t, c) if catalog.tableExists(t) =>
        val snap = catalog.table(t).dropColumn(c)
        return mergeResult(t, "drop-column", snap.snapshotId)
      case AlterAdd(t, colsSql) if catalog.tableExists(t) =>
        // Column list parses through Catalyst's own DDL type grammar.
        val st = org.apache.spark.sql.types.StructType.fromDDL(colsSql)
        val snap = catalog.table(t).addColumns(st.fields.toSeq)
        return mergeResult(t, "add-columns", snap.snapshotId)
      case AlterWiden(t, c, typeSql) if catalog.tableExists(t) =>
        val dt = org.apache.spark.sql.types.StructType
          .fromDDL(s"__x $typeSql").fields(0).dataType
        val snap = catalog.table(t).widenColumn(c, dt)
        return mergeResult(t, "widen-column", snap.snapshotId)
      case UpdateStmt(t, rest) if catalog.tableExists(t) =>
        val (setSql, whereSql) = splitLastTopLevelWhere(rest).getOrElse(
          throw new IllegalArgumentException(
            s"UPDATE $t needs a WHERE clause (use WHERE true to update every row)"))
        return runUpdate(t, setSql, whereSql)
      case DeleteStmt(t, whereSql) if catalog.tableExists(t) =>
        return runDelete(t, whereSql)
      case MergeUpsert(t, src, a1, k1, a2, k2) if catalog.tableExists(t) =>
        val key = mergeKey(t, src, (a1, k1), (a2, k2))
        val snap = catalog.table(t).upsert(mergeSource(src), key)
        return mergeResult(t, "merge-upsert", snap.snapshotId)
      case MergeDelete(t, src, a1, k1, a2, k2) if catalog.tableExists(t) =>
        val key = mergeKey(t, src, (a1, k1), (a2, k2))
        val snap = catalog.table(t).deleteKeys(
          mergeSource(src).select(key), key)
        return mergeResult(t, "merge-delete", snap.snapshotId)
      // Any OTHER merge against an unqualified catalog-table target (a
      // shape none of the engine-verb sugars cover — partial SET, extra
      // WHEN clauses, NOT MATCHED BY SOURCE, ...) runs through Catalyst's
      // row-level machinery via the scratch catalog instead of hitting
      // Spark's "MERGE into a view" refusal.
      case MergeAny(t) if catalog.tableExists(t) =>
        return catalystMerge(clean, t)
      case _ => ()
    }
    // ASOF JOIN fragments rewrite to as-of-join temp views first (the
    // rewrite computes its own literal mask over the original text).
    val asofd = rewriteAsof(clean)
    // TABLE_CHANGES takes its table/pk arguments as string LITERALS, so a
    // match necessarily spans protected runs — it can't be rewritten
    // segment-wise like VERSION AS OF. Match on the full text instead and
    // accept only matches whose keyword STARTS outside literals/comments
    // (`WHERE c = 'TABLE_CHANGES(...)'` passes through untouched).
    val mask = outsideMask(asofd)
    val sugared = TableChanges.replaceAllIn(asofd, m => {
      val t = m.group(1)
      if (!mask(m.start) || !catalog.tableExists(t))
        scala.util.matching.Regex.quoteReplacement(m.matched)
      else {
        val tb = catalog.table(t)
        val from = m.group(2).toLong
        val to = Option(m.group(3)).map(_.toLong).getOrElse(tb.latestVersion)
        val pk = Option(m.group(4)).getOrElse(tb.defaultPk)
        val view = s"${t}__ch_${from}_$to"
        tb.changesBetween(from, to, pk).createOrReplaceTempView(view)
        view
      }
    })
    val rewritten = mapOutsideLiterals(sugared, seg =>
      VersionAsOf.replaceAllIn(seg, m => {
        val (t, v) = (m.group(1), m.group(2).toLong)
        if (catalog.tableExists(t)) {
          val view = s"${t}__v$v"
          catalog.table(t).readAsOf(v).createOrReplaceTempView(view)
          view
        } else scala.util.matching.Regex.quoteReplacement(m.matched)
      }))
    catalog.spark.sql(rewritten)
  }

  /** `/data/{t}` preview: first `limit` rows of a table (`api_poc.py:287`). */
  def preview(table: String, limit: Int = 10): DataFrame =
    catalog.table(table).read().limit(limit)

  /**
   * The read API (`lake_cli.py:70-85,136-137`): column projection (`*` or a
   * list), optional equality filter, row limit — P1/P2/O3 as one typed
   * surface.
   */
  def read(
      table: String,
      columns: Seq[String] = Seq("*"),
      filter: Option[(String, Any)] = None,
      limit: Int = 100): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = catalog.table(table).read()
    // Filter BEFORE projecting — the filter column need not be projected
    // (and the predicate then sits directly on the scan for pushdown).
    val filtered = filter match {
      case Some((c, v)) => base.filter(col(c) === v)
      case None => base
    }
    val projected =
      if (columns == Seq("*")) filtered else filtered.select(columns.map(col): _*)
    projected.limit(limit)
  }

  /**
   * The dashboard composite `/view` (`api_poc.py:372-418`): optional
   * time-travel (expired ids fall back to latest, `:462-468`), optional
   * keyword search (digits → id equality, else multi-column LIKE,
   * `:406-414`), newest-first page of `pageSize` rows (`:418`).
   */
  def view(
      table: String,
      search: Option[String] = None,
      snapshotId: Option[Long] = None,
      pageSize: Int = 100): DataFrame = {
    import org.apache.spark.sql.functions.{col, desc}
    val t = catalog.table(table)
    val base = snapshotId.map(t.readAsOfOrLatest).getOrElse(t.read())
    val idCol = graft.functions.Identifiers.findIdCol(base.columns.toSeq)
    val searched = search.filter(_.nonEmpty) match {
      case Some(kw) => graft.search.Search.likeFallback(base, idCol, kw)
      case None => base
    }
    searched.orderBy(desc(idCol)).limit(pageSize)
  }
}

object GraftSession {

  /** The session over one warehouse that `Serve` and `Shell` run. The
    * warehouse doubles as a native Spark catalog: any `spark.sql` can
    * address `lake.<table>` (v2 scans with storage-partitioned joins,
    * VERSION/TIMESTAMP AS OF, INSERT INTO, metadata-aggregate pushdown)
    * alongside the classic views, which are registered here. */
  def open(spark: SparkSession, warehouse: String): GraftSession = {
    val dir = java.nio.file.Paths.get(warehouse)
    spark.conf.set("spark.sql.catalog.lake",
      classOf[graft.connector.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.lake.warehouse", dir.toAbsolutePath.toString)
    val session = new GraftSession(new GraftCatalog(spark, dir))
    session.refreshViews()
    session
  }
}
