package graft.table

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types._

/**
 * Driver-side point-read path for bucketed tables — the serving tier that
 * makes [[GraftTable.lookupKey]] answer in milliseconds instead of a Spark
 * job. The reference serves point lookups from a resident engine
 * (`OZONE_ARCHITECTURE.md:87` claims "millisecond-latency" via its serving
 * stack); a Spark job per lookup pays scheduler dispatch + per-key codegen
 * (~90 ms measured at sf0.1) that no amount of plan caching removes. A
 * bucket-pruned lookup touches a handful of small files, so the driver
 * reads them itself with Spark's own vectorized parquet reader:
 *
 *  - zero Spark jobs (the scheduler is never involved);
 *  - the SAME decode path as a cluster scan (VectorizedParquetRecordReader),
 *    so values are bit-identical to the distributed read;
 *  - bounded by `graft.lookup.local.maxBytes` (default 64 MB): a bucket
 *    bigger than that — the 100 TB case — falls back to the distributed
 *    scan, which is the right plan there anyway.
 *
 * Per-file metadata (parquet footer, Spark schema, a prepared Hadoop conf)
 * is cached in a small LRU: data files are immutable once committed, so a
 * repeat lookup in the same bucket skips the footer round-trip and pays
 * only the decode. Rows are filtered on the CATALYST value (one field
 * access per row) and only matches convert to external rows.
 *
 * The decode is stats-pruned, not whole-file: a parquet `eq(key, value)`
 * predicate goes into the read conf, and the reader's own
 * `readNextFilteredRowGroup` path drops row groups whose footer min/max
 * exclude the key — stats that live in the ALREADY-CACHED footer, so the
 * prune costs zero I/O. Every other parquet filter level is explicitly
 * disabled (see the conf below): dictionary filtering decompresses the
 * key column's dictionary page per row group (~20 ms under load) and
 * column-index page filtering issues dozens of tiny reads per file —
 * both measured SLOWER than decoding the one small row group the stats
 * leave. Buckets are written key-sorted precisely so row-group stats are
 * selective —
 * a point lookup decodes ~one page (a few thousand rows) per candidate
 * file instead of the whole bucket, which is what keeps the serving call
 * in the low-millisecond class even when the bucket holds dozens of MB.
 * The predicate is advisory (parquet stats pruning is conservative); the
 * exact row-level equality check below remains the source of truth.
 */
object LocalPointRead {

  /** Candidate-file byte cap for the driver-side path (default 64 MB);
    * "0" forces every lookup through the distributed scan. */
  val MaxBytesProp = "graft.lookup.local.maxBytes"

  private def maxBytes: Long =
    sys.props.get(MaxBytesProp).flatMap(_.toLongOption).getOrElse(64L << 20)

  /** The byte cap, for callers budgeting a MULTI-call serving read (the
    * MOR path reads base + each delta dir in separate calls — each call
    * checks its own dirs, so the aggregate must be checked by the caller). */
  def budgetBytes: Long = maxBytes

  /** Total parquet bytes under `dirs` via the cached listings; None on any
    * listing failure (callers treat it as over-budget). */
  def totalBytes(
      conf: org.apache.hadoop.conf.Configuration,
      dirs: Seq[String]): Option[Long] =
    try Some(dirs.flatMap(listDir(_, conf)).map(_.getLen).sum)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Populate the dir-listing and file-plan caches for freshly committed
    * dirs — the post-commit pre-warm (r18). Under continuous ingest, the
    * FIRST lookup after each commit paid the new files' footer opens
    * (~1-17 ms each) plus their listings inside its own latency; the
    * bench's under-ingest probe read a 160 ms clean p99 against a 5.7 ms
    * p50 largely from those post-commit samples. The ingest side calls
    * this right after its commit (fire-and-forget — see
    * [[GraftTable.prewarmServing]]), so serving lookups find warm plans.
    * Files are immutable once committed: warming can never go stale, and
    * a racing lookup at worst duplicates a footer read (same as two
    * concurrent cold lookups). Failures are swallowed — this is an
    * optimization, never a correctness step. */
  def prewarm(
      conf: org.apache.hadoop.conf.Configuration,
      dirs: Seq[String]): Unit =
    dirs.foreach { d =>
      try listDir(d, conf).foreach(f => filePlan(f, conf))
      catch { case scala.util.control.NonFatal(_) => }
    }

  /** Flat schemas only: nested types take the distributed path (their
    * row conversion has more edge cases than a serving read should carry). */
  def supports(st: StructType): Boolean = st.fields.forall(f => f.dataType match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  })

  /** Size-capped LRU keyed by immutable identity (path [+ length]); commits
    * never rewrite a data file in place, so entries cannot go stale — the
    * cap only bounds memory on a long-lived service spanning many GCs. */
  private final class Lru[K, V](cap: Int) {
    private val m = new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > cap
    }
    // The miss computation (footer open — real I/O) runs OUTSIDE the
    // monitor: holding the lock across it would serialize every concurrent
    // serving lookup — including hits on other, already-cached files —
    // behind one slow cold read. Two racing misses on the same key may
    // duplicate the work; the first result wins the put and the loser's
    // copy is discarded (both are equivalent: files are immutable).
    def getOrUpdate(k: K)(mk: => V): V = {
      val got = synchronized { m.get(k) }
      if (got != null) got
      else {
        val v = mk
        synchronized {
          val again = m.get(k)
          if (again != null) again else { m.put(k, v); v }
        }
      }
    }
  }

  /** Everything needed to open + decode + remap one data file. */
  private case class FilePlan(
      inputFile: org.apache.parquet.io.InputFile,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      conf: org.apache.hadoop.conf.Configuration,
      len: Long,
      fileSt: StructType,
      // output column i ← file column remap(i), or -1 → null (a file
      // written before a schema evolution lacks the newer columns)
      converters: Array[Any => Any])

  private val dirCache = new Lru[String, Seq[org.apache.hadoop.fs.FileStatus]](4096)
  private val fileCache = new Lru[String, FilePlan](4096)

  /** Shared footer-read options (stateless; building one costs ~10 ms). */
  private lazy val footerOptions =
    org.apache.parquet.ParquetReadOptions.builder().build()

  /** Rows decoded by the most recent [[lookupRowsIn]] on this thread — the
    * observable for specs asserting that footer-stats row-group pruning
    * actually bounded the decode (latency is too noisy to assert on). */
  val lastRowsDecoded = new ThreadLocal[Long] {
    override def initialValue(): Long = -1L
  }

  /**
   * `key IN (values)` (eq for one value) as a parquet filter predicate,
   * for the types whose physical parquet encoding is unambiguous from the
   * Spark type. None (timestamp — INT96 vs INT64 depends on writer conf;
   * decimal — int/long/binary depends on precision; dotted names —
   * FilterApi parses dots as nested paths) means "no stats pruning",
   * never a wrong answer: the reader then decodes everything and the
   * row-level check filters.
   */
  private def valuesPredicate(
      name: String, dt: DataType, catKeys: Seq[Any])
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.filter2.predicate.Operators
    import org.apache.parquet.io.api.Binary
    if (name.contains(".")) return None
    def mk[T <: Comparable[T],
           C <: Operators.Column[T] with Operators.SupportsEqNotEq](
        col: C, vs: Seq[T]) =
      if (vs.size == 1) FilterApi.eq(col, vs.head)
      else {
        val s = new java.util.HashSet[T]()
        vs.foreach(s.add)
        FilterApi.in(col, s)
      }
    dt match {
      case BooleanType => Some(mk(FilterApi.booleanColumn(name),
        catKeys.map(k => Boolean.box(k.asInstanceOf[Boolean]))))
      case ByteType => Some(mk(FilterApi.intColumn(name),
        catKeys.map(k => Int.box(k.asInstanceOf[Byte].toInt))))
      case ShortType => Some(mk(FilterApi.intColumn(name),
        catKeys.map(k => Int.box(k.asInstanceOf[Short].toInt))))
      case IntegerType | DateType => Some(mk(FilterApi.intColumn(name),
        catKeys.map(k => Int.box(k.asInstanceOf[Int]))))
      case LongType => Some(mk(FilterApi.longColumn(name),
        catKeys.map(k => Long.box(k.asInstanceOf[Long]))))
      // A NaN key must not stats-filter: parquet min/max EXCLUDE NaN by
      // spec, so a row group holding NaN rows can carry finite bounds that
      // eq(NaN) would wrongly drop — decode-all and let the row-level
      // check match (boxed NaN equality agrees with Spark's NaN = NaN).
      case FloatType =>
        if (catKeys.exists(k => java.lang.Float.isNaN(k.asInstanceOf[Float])))
          None
        else Some(mk(FilterApi.floatColumn(name),
          catKeys.map(k => Float.box(k.asInstanceOf[Float]))))
      case DoubleType =>
        if (catKeys.exists(k => java.lang.Double.isNaN(k.asInstanceOf[Double])))
          None
        else Some(mk(FilterApi.doubleColumn(name),
          catKeys.map(k => Double.box(k.asInstanceOf[Double]))))
      case StringType => Some(mk(FilterApi.binaryColumn(name),
        catKeys.map(k => Binary.fromString(k.toString))))
      case BinaryType => Some(mk(FilterApi.binaryColumn(name),
        catKeys.map(k =>
          Binary.fromConstantByteArray(k.asInstanceOf[Array[Byte]]))))
      case _ => None
    }
  }

  private def listDir(
      d: String, conf: org.apache.hadoop.conf.Configuration) =
    dirCache.getOrUpdate(d) {
      val dp = new org.apache.hadoop.fs.Path(d)
      dp.getFileSystem(conf).listStatus(dp).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
    }

  private def filePlan(
      f: org.apache.hadoop.fs.FileStatus,
      base: org.apache.hadoop.conf.Configuration): FilePlan =
    fileCache.getOrUpdate(f.getPath.toString) {
      // Local files bypass the Hadoop stream stack: LocalFileSystem wraps
      // every open in checksum (.crc) verification and path translation —
      // measured 10-17 ms PER FOOTER OPEN on this box, the single largest
      // cold-lookup cost. Parquet's nio-based LocalInputFile reads the
      // same bytes in ~1 ms. Non-local schemes (the object-store case)
      // keep the Hadoop adapter.
      val uri = f.getPath.toUri
      val in: org.apache.parquet.io.InputFile =
        if (uri.getScheme == null || uri.getScheme == "file")
          new org.apache.parquet.io.LocalInputFile(
            java.nio.file.Paths.get(uri.getPath))
        else org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, base)
      // NOT ParquetFileReader.open(in): that builds fresh ParquetReadOptions
      // per call, whose builder constructs a new Hadoop Configuration —
      // measured 10-12 ms of pure CPU per footer open, the single largest
      // cold-lookup cost. The options are stateless; build once.
      val pr = new org.apache.parquet.hadoop.ParquetFileReader(in, footerOptions)
      val (footer, json) =
        try (pr.getFooter, pr.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally pr.close()
      val fileSt = DataType.fromJson(json).asInstanceOf[StructType]
      // The split-based reader initialize reads its schema + converter
      // flags from the conf — prepared once per file (the conf is mutated
      // here only, then shared read-only across lookups).
      val conf = new org.apache.hadoop.conf.Configuration(base)
      conf.set("parquet.read.support.class",
        "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
      conf.set("org.apache.spark.sql.parquet.row.requested_schema", json)
      conf.set("spark.sql.parquet.binaryAsString", "false")
      conf.set("spark.sql.parquet.int96AsTimestamp", "true")
      conf.set("spark.sql.caseSensitive", "false")
      conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      // Row-group STATS pruning only: the min/max stats live in the footer
      // cached above, so evaluating the key predicate against them is zero
      // I/O. Every other filter level goes back to the file per lookup —
      // column/offset indexes are dozens of tiny reads, and the dictionary
      // filter decompresses the key column's dictionary page per row group
      // (measured ~20 ms per lookup on this box) — far more than they can
      // save. Bucketed bases are written with small key-sorted row groups
      // instead, so footer stats alone bound the decode to ~one small
      // row group.
      conf.set("parquet.filter.columnindex.enabled", "false")
      conf.set("parquet.filter.dictionary.enabled", "false")
      conf.set("parquet.filter.bloom.enabled", "false")
      conf.set("parquet.filter.record-level.enabled", "false")
      FilePlan(in, footer, conf, f.getLen, fileSt,
        fileSt.fields.map { fld =>
          val c = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToScalaConverter(fld.dataType)
          (v: Any) => c(v)
        })
    }

  /**
   * Read `dirs`' parquet files driver-side, returning the external rows
   * whose `keyCol` equals ANY of `values`, in `st`'s column order — one
   * decode pass over the candidate files with an IN predicate (eq for one
   * value), the driver-side analog of `filter(col.isin(values))`. None =
   * the caller must fall back to the distributed scan (nested schema, byte
   * cap exceeded, or any read error — this path is an optimization, never
   * the only way to an answer).
   */
  def lookupRowsIn(
      spark: SparkSession,
      conf: org.apache.hadoop.conf.Configuration,
      dirs: Seq[String],
      st: StructType,
      keyCol: String,
      values: Seq[Any]): Option[Seq[Row]] = {
    if (!supports(st)) return None
    try {
      val files = dirs.flatMap(listDir(_, conf))
      if (files.map(_.getLen).sum > maxBytes) return None
      val dt = st(keyCol).dataType
      val tz = spark.sessionState.conf.sessionLocalTimeZone
      // `= NULL` matches nothing; null entries simply drop from the set.
      val castKeys = values.map(v => Cast(Literal(v), dt, Some(tz)).eval(null))
        .filter(_ != null).distinct
      // Signed-zero parity with the distributed scan: Spark's EqualTo on
      // float/double compares primitives (-0.0 == 0.0 is TRUE). The boxed
      // key-set probe below agrees (Scala's == unifies signed zeros), but
      // parquet's STATS comparator does not — eq(0.0) would prune a row
      // group whose only zero is -0.0 — so a zero key expands to both
      // signed zeros before the predicate builds. NO .distinct here: Scala
      // equality would collapse the pair right back. (castKeys is already
      // distinct, so the expansion introduces no duplicates.)
      val catKeys = dt match {
        case DoubleType => castKeys.flatMap {
          case d: java.lang.Double if d.doubleValue == 0.0d =>
            Seq(Double.box(0.0d), Double.box(-0.0d))
          case other => Seq(other)
        }
        case FloatType => castKeys.flatMap {
          case f: java.lang.Float if f.floatValue == 0.0f =>
            Seq(Float.box(0.0f), Float.box(-0.0f))
          case other => Seq(other)
        }
        case _ => castKeys
      }
      if (catKeys.isEmpty) return Some(Seq.empty)
      // Binary keys can't sit in a hash set (Array[Byte] hashes by
      // reference — `==` would silently match nothing); compare by value.
      val keyMatches: Any => Boolean = dt match {
        case BinaryType =>
          val bs = catKeys.map(_.asInstanceOf[Array[Byte]])
          v => bs.exists(java.util.Arrays.equals(_, v.asInstanceOf[Array[Byte]]))
        // Spark's genEqual on float/double treats NaN = NaN as TRUE, but a
        // Scala Set probe uses numeric == (NaN != NaN), so a NaN key
        // silently matched nothing — divergent from the distributed scan.
        // Signed zeros need no special case here (Scala == unifies them).
        case DoubleType =>
          val s = catKeys.toSet
          val wantNaN = catKeys.exists(_.asInstanceOf[java.lang.Double].isNaN)
          v => s.contains(v) ||
            (wantNaN && v.asInstanceOf[java.lang.Double].isNaN)
        case FloatType =>
          val s = catKeys.toSet
          val wantNaN = catKeys.exists(_.asInstanceOf[java.lang.Float].isNaN)
          v => s.contains(v) ||
            (wantNaN && v.asInstanceOf[java.lang.Float].isNaN)
        case _ =>
          val s = catKeys.toSet
          v => s.contains(v)
      }
      // One predicate serves every candidate file (same key column+values).
      val pred = valuesPredicate(keyCol, dt, catKeys)
      // (matching rows, rows decoded) of ONE file — self-contained so the
      // multi-file case can fan out across threads.
      def readFile(f: org.apache.hadoop.fs.FileStatus): (Seq[Row], Long) = {
        var rowsDecoded = 0L
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        val plan = filePlan(f, conf)
        val keyIdx = plan.fileSt.fieldIndex(keyCol)
        val matches = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        // Rebase modes CORRECTED: every data file was written by this
        // library on Spark 4 (proleptic calendar), so no rebase applies.
        val rdr = new org.apache.spark.sql.execution.datasources.parquet
          .VectorizedParquetRecordReader(
            null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
        val split = new org.apache.hadoop.mapred.FileSplit(
          f.getPath, 0, plan.len, null.asInstanceOf[Array[String]])
        // The predicate is per-lookup (the value varies), so it rides on
        // a copy of the cached per-file conf, never the shared one.
        val readConf = pred match {
          case Some(p) =>
            val c = new org.apache.hadoop.conf.Configuration(plan.conf)
            org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(c, p)
            c
          case None => plan.conf
        }
        val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          readConf, new org.apache.hadoop.mapreduce.TaskAttemptID())
        // All three options must be defined for the reader to ADOPT the
        // cached footer — with the stream absent it re-reads the footer
        // from disk per lookup (one extra I/O round-trip). The reader
        // closes the stream with itself; the extra close below covers an
        // initialize that throws before the reader takes ownership
        // (hadoop stream close is idempotent).
        val stream = plan.inputFile.newStream()
        try {
          // The Scala signature says Option[HadoopInputFile], but the Java
          // body only downcasts to the InputFile interface (verified in
          // bytecode) — the cast below is erased at runtime and lets the
          // nio-backed LocalInputFile ride the same initialize path.
          rdr.initialize(split, ctx,
            Some(plan.inputFile)
              .asInstanceOf[Option[org.apache.parquet.hadoop.util.HadoopInputFile]],
            Some(stream), Some(plan.footer))
          while (rdr.nextKeyValue()) {
            rowsDecoded += 1
            val r = rdr.getCurrentValue.asInstanceOf[InternalRow]
            if (!r.isNullAt(keyIdx) && keyMatches(r.get(keyIdx, dt))) matches += r.copy()
          }
        } finally {
          try rdr.close()
          finally { try stream.close() catch { case _: Exception => () } }
        }
        val remap = st.fieldNames.map(n =>
          if (plan.fileSt.fieldNames.contains(n)) plan.fileSt.fieldIndex(n) else -1)
        matches.foreach { m =>
          val vals = st.fields.indices.map { i =>
            val j = remap(i)
            if (j < 0 || m.isNullAt(j)) null
            else plan.converters(j)(m.get(j, plan.fileSt(j).dataType))
          }.toArray[Any]
          // Schema-carrying rows: a serving caller reads fields BY NAME
          // (`row.getAs[T]("col")`), exactly like collected scan rows.
          out += new org.apache.spark.sql.catalyst.expressions
            .GenericRowWithSchema(vals, st)
        }
        (out.toSeq, rowsDecoded)
      }
      // Files are independent reads: fan out across threads when there are
      // several (a delta batch writes deltaPartitions files; decoding them
      // serially made the pending-delta lookup pay files × per-file cost —
      // measured ~8 × 5-6 ms per MOR lookup). Result order stays the file
      // listing order; a future's exception surfaces through Await into
      // the fallback catch below. Each body runs under blocking{} — it is
      // synchronous open/decode I/O, and the global pool is sized to
      // cores, so without the marker a few CONCURRENT serving lookups
      // (the HTTP row-read path lands here) would occupy every worker and
      // serialize each other; blocking{} lets the pool grow past the
      // blocked threads (same guard the leafCounts footer reads use).
      val perFile: Seq[(Seq[Row], Long)] =
        if (files.size <= 2) files.map(readFile)
        else {
          import scala.concurrent.{Await, Future, blocking}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration.DurationInt
          Await.result(
            Future.sequence(files.map(f => Future(blocking(readFile(f))))),
            60.seconds)
        }
      lastRowsDecoded.set(perFile.map(_._2).sum)
      Some(perFile.flatMap(_._1))
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
