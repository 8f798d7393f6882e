package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.api.GraftSession

/**
 * Interactive terminal shell over a Graft warehouse — the native twin of
 * the reference's `Data_Lake_System/lake_shell.py` (cmd.Cmd REPL) and
 * `lake_cli.py`. The verbs mirror the reference shell's command set
 * (`lake_shell.py`: do_insert/do_update/do_select/do_delete/do_get/
 * do_sql/do_history/do_travel/do_load_csv), but execute IN-PROCESS
 * against the library instead of through the HTTP portal — a Spark-native
 * shell talks to the session it owns; the HTTP surface
 * ([[graft.api.GraftHttpServer]]) remains the remote-client path.
 *
 * Command dispatch is a pure function ([[exec]]) so the ScalaTest spec
 * drives every verb without a TTY; `main` is a thin readLine loop.
 */
object Shell {

  private val usage: String =
    """Commands (mirroring the reference lake shell):
      |  tables                               list catalog tables
      |  describe <table>                     show the table's schema
      |  select <table> [limit]               preview rows (default 10)
      |  get <table> <pk_col> <val>           point lookup (bucket-pruned when possible)
      |  insert <table> <pk_col> <val> [c=v ...]   insert one row (typed coercion)
      |  update <table> <pk_col> <val> <c=v ...>   update matching row's columns
      |  delete <table> <pk_col> <val>        delete by key
      |  sql <query>                          run SQL (VERSION AS OF travel; MERGE INTO
      |                                       upsert/delete/conditional-CDC sugar; and the
      |                                       lake.<table> v2 catalog: SPJ joins, INSERT,
      |                                       UPDATE/DELETE/MERGE row-level ops, ALTER,
      |                                       metadata count/min/max, time travel)
      |  history <table>                      commit history (time, operation, records)
      |  travel <table> <version|timestamp>   read the table as of a snapshot
      |  load_csv <path> <table> [mode] [pk]  ingest a CSV (replace|append|upsert)
      |  rollback <table> <version>           move the head back to a snapshot
      |  expire <table> <keep_last>           expire old snapshots, reclaim storage
      |  cluster <table> <col[,col]> [dirs]   range/Z-order layout rewrite
      |  branch <table> [name]                list branches / create one at the head
      |  publish <table> <branch> [force]     fast-forward main to a branch head (WAP)
      |  drop_branch <table> <branch>         delete a branch
      |  tag <table> [name] [version]         list tags / pin a snapshot under a name
      |  drop_tag <table> <name>              remove a tag
      |  read <table> branch|tag <name> [n]   preview a branch head or tagged snapshot
      |  stats <table> [col,col]              count/min/max (metadata-only when exact)
      |  constraint <table> [condition]       show / set the CHECK constraint
      |  changes <table> <pk> <from> [to] [n] change feed over (from, to] commits
      |  mv <table> [name] [n]                list materialized views / preview one
      |  mv_create <table> <name> <pk> <groups> [sums]  create an incremental agg view
      |  mv_refresh <table> <name>            fold the change feed into the view
      |  overlap <table> <group_col> [text_col] [n]   corpus-pair shingle overlap audit
      |  heavy_hitters <table> [text_col] [n] [k]     top repeated n-grams (exact)
      |  bloom <table> <col> [rebuild]        build/refresh the per-dir bloom index
      |  point <table> <col> <val>            equality read, stats+bloom dir skipping
      |  chunk_stats <table> [text_col]       content-defined chunk dedup stats
      |  asof <l> <r> <key> <lts> <rts> [tol_sec] [n]   backward as-of join (latest
      |                                       right row at or before each left ts)
      |  interval_join <pts> <ivs> <key> <pts_ts> <start> <end> [bin_sec] [n]
      |                                       point-in-interval join (binned equi-join)
      |  quantiles <table> <value_col> [group_col] [p,p,p]   exact percentiles
      |  help                                 this text
      |  exit | quit                          leave the shell""".stripMargin

  /** shlex-ish tokenizer: whitespace-separated, double or single quotes
    * group (and are stripped); `k="two words"` stays one token. */
  private[graft] def tokens(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var started = false
    line.foreach { ch =>
      if (quote != 0) {
        if (ch == quote) quote = 0 else cur.append(ch)
      } else if (ch == '"' || ch == '\'') { quote = ch; started = true }
      else if (ch.isWhitespace) {
        if (started || cur.nonEmpty) { out += cur.result(); cur.clear(); started = false }
      } else cur.append(ch)
    }
    if (started || cur.nonEmpty) out += cur.result()
    out.toSeq
  }

  /** Fixed-width text rendering of a frame (the shell's table face —
    * `lake_shell.py` renders rich.Table; same information, plain text). */
  private[graft] def render(df: DataFrame, limit: Int): String = {
    val cols = df.columns
    val rows = df.limit(limit).collect()
      .map(r => cols.map(c => String.valueOf(r.getAs[Any](c))))
    val widths = cols.indices.map { i =>
      (cols(i).length +: rows.map(_(i).length)).max
    }
    def line(vals: Seq[String]): String =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString("| ", " | ", " |")
    val sep = widths.map("-" * _).mkString("+-", "-+-", "-+")
    (Seq(sep, line(cols.toSeq), sep) ++ rows.map(r => line(r.toSeq)) :+ sep)
      .mkString("\n") + s"\n(${rows.length} rows)"
  }

  private def kvPairs(args: Seq[String]): Map[String, String] =
    args.flatMap { a =>
      val i = a.indexOf('=')
      if (i <= 0) { println(s"skipping malformed argument (want col=val): $a"); None }
      else Some(a.take(i) -> a.drop(i + 1))
    }.toMap

  /** Execute one command line. Returns None for exit, otherwise the text
    * to print. Errors come back as `error: ...` text — the REPL survives
    * every failure (the reference shell prints and re-prompts too). */
  def exec(session: GraftSession, line: String): Option[String] = {
    val toks = tokens(line)
    if (toks.isEmpty) return Some("")
    val cat = session.catalog
    def table(name: String) = cat.table(name)
    def coerced(t: String, c: String, v: String): Any = {
      val st = table(t).schema
      require(st.fieldNames.contains(c), s"no such column $c in $t")
      graft.functions.Coerce.coerce(v, st(c).dataType)
    }
    try toks.head.toLowerCase match {
      case "exit" | "quit" => None
      case "help" | "?" => Some(usage)
      case "tables" => Some(cat.listTables().mkString("\n"))
      case "describe" =>
        val Seq(t) = toks.tail: @unchecked
        Some(cat.describe(t).fields
          .map(f => s"${f.name}  ${f.dataType.simpleString}").mkString("\n"))
      case "select" =>
        val t = toks(1)
        val limit = toks.lift(2).map(_.toInt).getOrElse(10)
        Some(render(session.preview(t, limit), limit))
      case "get" =>
        val Seq(t, pk, v) = toks.slice(1, 4): @unchecked
        val tb = table(t)
        val key = coerced(t, pk, v)
        // The serving path when the table is bucketed by this key — the
        // same bucket-pruned read the HTTP lookup uses. lookupKey (not a
        // hand-rolled rows→DataFrame bridge) so evolution-padded nulls
        // keep the asNullable schema treatment it applies.
        if (tb.bucketSpec.exists(_._1 == pk)) Some(render(tb.lookupKey(key), 100))
        // non-bucket column: the stats+bloom-pruned equality read (falls
        // back to a plain filtered scan when neither tier can prune)
        else Some(render(tb.readPoint(pk, key), 100))
      case "insert" =>
        val Seq(t, pk, v) = toks.slice(1, 4): @unchecked
        val values = Map(pk -> v) ++ kvPairs(toks.drop(4))
        table(t).insertRow(values)
        session.registerView(t)
        Some(s"inserted 1 row into $t")
      case "update" =>
        val Seq(t, pk, v) = toks.slice(1, 4): @unchecked
        val sets = kvPairs(toks.drop(4))
        require(sets.nonEmpty, "update needs at least one col=val")
        // updateWhere silently skips set keys that aren't table columns —
        // a typo'd column would report success while changing nothing, so
        // reject unknown columns here (same contract as insertRow).
        val fields = table(t).schema.fieldNames.toSet
        val unknown = sets.keySet -- fields
        require(unknown.isEmpty, s"unknown columns: ${unknown.mkString(", ")}")
        table(t).updateWhere(col(pk) === lit(coerced(t, pk, v)),
          sets.map { case (c, sv) => c -> lit(sv) })
        session.registerView(t)
        Some(s"updated $t where $pk=$v (${sets.keys.mkString(", ")})")
      case "delete" =>
        val Seq(t, pk, v) = toks.slice(1, 4): @unchecked
        val tb = table(t)
        val keyDf = tb.spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(
            org.apache.spark.sql.Row(coerced(t, pk, v)))),
          org.apache.spark.sql.types.StructType(Seq(tb.schema(pk))))
        tb.deleteKeys(keyDf, pk)
        session.registerView(t)
        Some(s"deleted rows with $pk=$v from $t")
      case "sql" =>
        val q = line.trim.drop(3).trim
        require(q.nonEmpty, "sql needs a query")
        Some(render(session.sql(q), 100))
      case "history" =>
        val Seq(t) = toks.tail: @unchecked
        Some(render(table(t).history, 100))
      case "travel" =>
        val Seq(t, at) = toks.slice(1, 3): @unchecked
        val tb = table(t)
        val df =
          if (at.forall(_.isDigit)) tb.readAsOf(at.toLong)
          else tb.readAsOfTimestamp(at)
        Some(render(df, 100))
      case "rollback" =>
        val Seq(t, v) = toks.slice(1, 3): @unchecked
        val snap = table(t).rollback(v.toLong)
        session.registerView(t)
        Some(s"rolled $t back to snapshot $v (new head v${snap.snapshotId})")
      case "expire" =>
        val Seq(t, keep) = toks.slice(1, 3): @unchecked
        val n = table(t).expireSnapshots(keep.toInt)
        Some(s"expired $n snapshot(s) of $t (kept newest $keep)")
      case "cluster" =>
        val t = toks(1)
        val cols = toks(2).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        val dirs = toks.lift(3).map(_.toInt).getOrElse(16)
        val snap = table(t).cluster(cols, dirs)
        session.registerView(t)
        Some(s"clustered $t by ${cols.mkString(",")} into ${snap.dataDirs.size} dirs (v${snap.snapshotId})")
      case "branch" =>
        val t = toks(1)
        toks.lift(2) match {
          case None => Some(table(t).branches().mkString("\n"))
          case Some(b) =>
            val snap = table(t).createBranch(b)
            Some(s"created branch $b of $t at base v${snap.summary("branch_base")}")
        }
      case "publish" =>
        val Seq(t, b) = toks.slice(1, 3): @unchecked
        val force = toks.lift(3).contains("force")
        val snap = table(t).publishBranch(b, force)
        session.registerView(t)
        Some(s"published branch $b of $t as snapshot v${snap.snapshotId}" +
          (if (force) " (forced)" else ""))
      case "drop_branch" =>
        val Seq(t, b) = toks.slice(1, 3): @unchecked
        table(t).dropBranch(b)
        Some(s"dropped branch $b of $t")
      case "tag" =>
        val t = toks(1)
        toks.lift(2) match {
          case None => Some(table(t).tags().toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k -> v$v" }.mkString("\n"))
          case Some(tag) =>
            val id = table(t).createTag(tag, toks.lift(3).map(_.toLong))
            Some(s"tagged $t v$id as $tag")
        }
      case "drop_tag" =>
        val Seq(t, tag) = toks.slice(1, 3): @unchecked
        table(t).dropTag(tag)
        Some(s"dropped tag $tag of $t")
      case "read" =>
        // read <table> branch|tag <name> — pinned preview of a branch head
        // or tagged snapshot (main preview stays `select`).
        val Seq(t, kind, nm) = toks.slice(1, 4): @unchecked
        val df = kind match {
          case "branch" => table(t).branch(nm).read()
          case "tag" => table(t).readTag(nm)
          case other => throw new IllegalArgumentException(
            s"read expects branch|tag, got '$other'")
        }
        Some(render(df, toks.lift(4).map(_.toInt).getOrElse(10)))
      case "stats" =>
        val t = toks(1)
        val cols = toks.lift(2).map(_.split(',').toSeq.map(_.trim)
          .filter(_.nonEmpty)).getOrElse(Seq.empty)
        val meta = table(t).statsFromMetadata(cols).isDefined
        Some(render(table(t).statsSummary(cols), 10) +
          s"\n(${if (meta) "metadata-only" else "scan fallback"})")
      case "constraint" =>
        val t = toks(1)
        toks.lift(2) match {
          case None => Some(s"check: ${table(t).checkConstraint.getOrElse("(none)")}")
          case Some(c) =>
            table(t).setCheckConstraint(c)
            Some(s"set CHECK constraint on $t: $c")
        }
      case "changes" =>
        val Seq(t, pk, from) = toks.slice(1, 4): @unchecked
        val to = toks.lift(4).map(_.toLong).getOrElse(table(t).latestVersion)
        val df = table(t).changesBetween(from.toLong, to, pk)
          .orderBy("_commit_version", pk)
        Some(render(df, toks.lift(5).map(_.toInt).getOrElse(20)))
      case "mv" =>
        val t = toks(1)
        toks.lift(2) match {
          case None =>
            val names = graft.table.MaterializedAgg.list(table(t))
            Some(if (names.isEmpty) "(no materialized views)" else names.mkString("\n"))
          case Some(nm) =>
            val mv = graft.table.MaterializedAgg.of(table(t), nm)
            Some(render(mv.read(), toks.lift(3).map(_.toInt).getOrElse(20)) +
              s"\n(reflects ${t} v${mv.refreshedVersion})")
        }
      case "mv_create" =>
        val Seq(t, nm, pk, groups) = toks.slice(1, 5): @unchecked
        def split(s: String) = s.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        val mv = new graft.table.MaterializedAgg(table(t), nm, pk,
          split(groups), toks.lift(5).map(split).getOrElse(Seq.empty))
        mv.create()
        Some(s"created materialized view $nm over $t at v${mv.refreshedVersion}")
      case "mv_refresh" =>
        val Seq(t, nm) = toks.slice(1, 3): @unchecked
        val mv = graft.table.MaterializedAgg.of(table(t), nm)
        mv.refresh()
        Some(s"refreshed $nm to $t v${mv.refreshedVersion}")
      case "overlap" =>
        val t = toks(1)
        val group = toks(2)
        val text = toks.lift(3).getOrElse("text")
        val n = toks.lift(4).map(_.toInt).getOrElse(3)
        Some(render(graft.ops.Dedup.corpusOverlap(table(t).read(), group, text, n)
          .orderBy(org.apache.spark.sql.functions.desc("jaccard")), 100))
      case "heavy_hitters" =>
        val t = toks(1)
        val text = toks.lift(2).getOrElse("text")
        val n = toks.lift(3).map(_.toInt).getOrElse(3)
        val k = toks.lift(4).map(_.toInt).getOrElse(50)
        Some(render(
          graft.ops.TextAnalysis.heavyHitters(table(t).read(), text, n = n, k = k), 100))
      case "bloom" =>
        val Seq(t, c) = toks.slice(1, 3): @unchecked
        val rebuild = toks.lift(3).contains("rebuild")
        val n = if (rebuild) table(t).buildBloomIndex(c)
                else table(t).refreshBloomIndex(c)
        Some(s"bloom-indexed $n dir(s) of $t on $c" +
          (if (rebuild) " (rebuilt)" else ""))
      case "point" =>
        val Seq(t, c, v) = toks.slice(1, 4): @unchecked
        Some(render(table(t).readPoint(c, coerced(t, c, v)), 100))
      case "chunk_stats" =>
        val t = toks(1)
        val text = toks.lift(2).getOrElse("text")
        val pk = table(t).defaultPk
        Some(render(graft.ops.Curation.chunkDupStats(table(t).read(), pk, text), 10))
      case "asof" =>
        // asof <left> <right> <key> <left_ts> <right_ts> [tol_sec] [n]
        val Seq(l, r, key, lts, rts) = toks.slice(1, 6): @unchecked
        val tol = toks.lift(6).map(s =>
          org.apache.spark.sql.functions.expr(s"INTERVAL ${s.toLong} SECONDS"))
        val rt = table(r)
        val payload = rt.schema.fieldNames.toSeq
          .filterNot(c => c == key || c == rts)
        Some(render(graft.ops.TimeJoin.asofBackward(table(l).read(), rt.read(),
          key, lts, rts, payload, tolerance = tol),
          toks.lift(7).map(_.toInt).getOrElse(20)))
      case "interval_join" =>
        // interval_join <points> <intervals> <key> <pt_ts> <start> <end> [bin_sec] [n]
        val Seq(pt, iv, key, pts, sts, ets) = toks.slice(1, 7): @unchecked
        val binSec = toks.lift(7).map(_.toLong).getOrElse(3600L)
        val ivt = table(iv)
        val payload = ivt.schema.fieldNames.toSeq
          .filterNot(c => c == key || c == sts || c == ets)
        Some(render(graft.ops.TimeJoin.intervalJoin(table(pt).read(), ivt.read(),
          key, pts, sts, ets, binWidthMicros = binSec * 1000000L,
          intervalPayload = payload), toks.lift(8).map(_.toInt).getOrElse(20)))
      case "quantiles" =>
        // quantiles <table> <value_col> [group_col] [p,p,p] — the third
        // positional is a prob list iff it parses as one ("1", ".5,.9"),
        // a group column otherwise. Shared impl: graft.ops.Quantiles.
        val Seq(t, v) = toks.slice(1, 3): @unchecked
        val (group, probs) = (toks.lift(3), toks.lift(4)) match {
          case (Some(a), Some(b)) =>
            (Some(a), graft.ops.Quantiles.parseProbs(b).getOrElse(
              throw new IllegalArgumentException(
                s"probs must be comma-separated fractions in [0, 1], got '$b'")))
          case (Some(a), None) => graft.ops.Quantiles.parseProbs(a) match {
            case Some(ps) => (None, ps)
            case None => (Some(a), Seq(0.25, 0.5, 0.75))
          }
          case _ => (None, Seq(0.25, 0.5, 0.75))
        }
        Some(render(graft.ops.Quantiles.of(table(t).read(), v, group, probs), 100))
      case "load_csv" =>
        val path = toks(1)
        val t = toks(2)
        val mode = toks.lift(3).getOrElse("replace")
        val pk = toks.lift(4)
        val tb = cat.ingestCsv(path, t, mode = mode, key = pk)
        session.registerView(t)
        val records = tb.log.latest().flatMap(_.summary.get("records")).getOrElse("?")
        Some(s"loaded $path into $t (mode=$mode, records=$records)")
      case other => Some(s"unknown command: $other (try help)")
    } catch {
      case e: MatchError => Some("error: missing arguments (try help)")
      case e: IndexOutOfBoundsException => Some("error: missing arguments (try help)")
      case e: Throwable =>
        Some("error: " + Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(3).mkString(" "))
    }
  }

  def main(args: Array[String]): Unit = {
    val warehouse = args.headOption
      .orElse(sys.env.get("GRAFT_WAREHOUSE")).getOrElse("warehouse")
    val session = GraftSession.open(SparkEntry.localSession(4), warehouse)
    println(s"Graft data shell — warehouse: $warehouse. Type help to list commands.")
    var going = true
    while (going) {
      print("(graft) ")
      Console.out.flush()
      val line = scala.io.StdIn.readLine()
      if (line == null) going = false
      else exec(session, line) match {
        case None => going = false
        case Some(out) => if (out.nonEmpty) println(out)
      }
    }
    session.catalog.spark.stop()
  }
}
