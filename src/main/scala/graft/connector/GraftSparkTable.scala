package graft.connector

import java.nio.file.Paths
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.log.Snapshot
import graft.table.GraftTable

/**
 * A graft table as a Spark DataSource-v2 [[Table]] (loaded through
 * [[GraftSparkCatalog]]). Read-only by design: every write verb (append,
 * upsert, MOR, DDL, lifecycle) stays on the [[GraftTable]] API, whose
 * commit protocol a v2 writer would merely wrap.
 *
 * What the v2 surface adds over `GraftTable.read()` is PLANNER knowledge:
 *
 *  - the scan reports the `__bucket=k` dir layout as a
 *    [[KeyGroupedPartitioning]] over `bucket(n, key)` with one input
 *    partition per bucket, so joins/aggregations keyed on the bucket key
 *    between co-bucketed graft tables skip BOTH exchanges (Spark's
 *    storage-partitioned join, gated on
 *    `spark.sql.sources.v2.bucketing.enabled`). A shuffle of two 100 TB
 *    fact tables is the single largest cost such a join has — this
 *    removes it by contract rather than by runtime luck.
 *  - filters push down to parquet row-group stats (the pushed predicate
 *    is advisory: Spark re-evaluates every filter above the scan, so a
 *    conservative translation can skip I/O but never change results).
 *  - column pruning reaches the parquet reader via the requested-schema
 *    projection (wide tables decode only the selected columns).
 *
 * Pending MOR deltas make a plain file scan WRONG (a delta may hold a
 * newer image or tombstone). On tables bucketed by the mor key the scan
 * resolves the chain itself, per bucket, with the same algebra as
 * `GraftTable.resolveDeltas` ([[GraftMorPartitionReader]]) — keys never
 * leave their bucket, so storage-partitioned joins hold even mid-ingest.
 * Anything the in-scan resolver cannot handle (unbucketed chain key,
 * over-cap chain, exotic key type) refuses loudly instead of silently
 * narrowing semantics, mirroring the serving paths' fallback contract
 * ([[graft.table.LocalPointRead]]).
 */
final class GraftSparkTable(
    rootPath: String, tableName: String, pinned: Option[Long] = None)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  private def spark: SparkSession = SparkSession.active
  private lazy val gt = new GraftTable(spark, Paths.get(rootPath), tableName)
  // One head per loadTable: the v2 Table is a snapshot-consistent handle
  // (Spark may plan several scans from one loadTable; they must agree).
  // `pinned` is the catalog's VERSION/TIMESTAMP AS OF handle.
  private lazy val head: Snapshot = pinned match {
    case Some(id) => gt.log.get(id).getOrElse(
      throw new IllegalStateException(
        s"table $tableName has no snapshot $id (expired or never committed)"))
    case None => gt.log.latest().getOrElse(
      throw new IllegalStateException(s"table $tableName has no committed snapshot"))
  }

  private lazy val tableSchema =
    DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
  private lazy val bucketSpec: Option[(String, Int)] =
    for {
      k <- head.summary.get("bucket_key")
      n <- head.summary.get("bucket_count")
    } yield (k, n.toInt)

  override def name(): String = tableName
  // The catalog serves LOGICAL column names (renames applied); everything
  // file-facing below keeps the manifest's physical names and maps at the
  // scan/write boundary (graft.table.ColumnIds — identity when no column
  // was ever renamed).
  override def schema(): StructType =
    graft.table.ColumnIds.logicalSchema(tableSchema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def partitioning(): Array[Transform] =
    bucketSpec.map { case (k, n) => Expressions.bucket(n,
      graft.table.ColumnIds.logicalFor(tableSchema, k)) }.toArray

  override def properties(): util.Map[String, String] = {
    val p = new util.HashMap[String, String]()
    p.put("format", "graft/parquet")
    p.put("snapshot", head.snapshotId.toString)
    bucketSpec.foreach { case (k, n) =>
      p.put("bucket_key", k); p.put("bucket_count", n.toString)
    }
    p
  }

  override def version(): String = head.snapshotId.toString

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Pending MOR deltas: resolvable in-scan when the chain is
    // bucket-co-located with the base (see GraftMorPartitionReader) —
    // otherwise refuse loudly rather than serve stale images.
    val morKey: Option[String] =
      if (head.deltaDirs.isEmpty) None
      else {
        val reason = GraftSparkTable.morUnresolvable(head, tableSchema, bucketSpec)
        require(reason.isEmpty,
          s"table $tableName has ${head.deltaDirs.size} pending merge-on-read delta " +
            s"commits the v2 scan cannot resolve (${reason.get}); compact() first, " +
            "or read through GraftTable.read()/GraftSession.sql.")
        Some(head.summary("mor_key"))
      }
    new GraftScanBuilder(spark, rootPath, tableName, head, tableSchema, bucketSpec,
      morKey)
  }

  /**
   * Writes ride Spark's sanctioned v1 bridge (`V1_BATCH_WRITE` →
   * [[org.apache.spark.sql.sources.InsertableRelation]]): the planned
   * input DataFrame is handed to the GraftTable verbs, so `INSERT INTO`
   * appends through the same schema-evolving commit protocol every other
   * write path uses, and `INSERT OVERWRITE` / `writeTo(...).truncate`
   * replaces while PRESERVING the table's bucket layout. A v2
   * `BatchWrite` would only re-implement the distributed parquet write
   * GraftTable already performs — the bridge adds the SQL surface without
   * a second write path to keep correct.
   */
  /** `DELETE FROM cat.t WHERE ...`: the pushed conjunction routes to
    * `GraftTable.deleteWhere`, which keeps SQL three-valued semantics
    * (NULL-evaluating rows survive) and resolves pending MOR chains
    * through the table read. Untranslatable predicates refuse the WHOLE
    * delete via `canDeleteWhere` — a partial translation would delete the
    * wrong rows. `TRUNCATE TABLE` rides the same path (AlwaysTrue). */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    pinned.isEmpty && filters.forall(GraftSparkTable.filterToColumn(_).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    require(pinned.isEmpty,
      s"cannot delete from $tableName pinned at VERSION AS OF ${pinned.get}")
    val cond = filters.toSeq.map(f => GraftSparkTable.filterToColumn(f)
        .getOrElse(throw new UnsupportedOperationException(s"cannot push $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    gt.deleteWhere(cond)
  }

  /** SQL `UPDATE`/`MERGE`/`DELETE <untranslatable>` — group-based
    * copy-on-write rewrite, group = bucket dir ([[GraftRowLevelOperation]]).
    * Built eagerly by the analyzer for EVERY row-level statement, so the
    * only check here is the pin (a time-travel handle can never be a write
    * target); rewrite-path refusals (pending MOR deltas) live on the
    * operation's scan/write builders, after
    * OptimizeMetadataOnlyDeleteFromTable has had its chance to route a
    * translatable DELETE to the metadata-only path. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinned.isEmpty,
      s"cannot ${info.command} $tableName pinned at VERSION AS OF ${pinned.get}")
    () => new GraftRowLevelOperation(
      rootPath, tableName, head, tableSchema, bucketSpec, info.command)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(pinned.isEmpty,
      s"cannot write to $tableName pinned at VERSION AS OF ${pinned.get}")
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replace = false
      override def truncate(): this.type = { replace = true; this }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
              if (replace) bucketSpec match {
                case Some((k, n)) => gt.overwriteBucketed(data, k, n)
                case None => gt.overwrite(data)
              }
              else gt.append(data)
            }
          /** `df.writeStream.toTable("lake.t")` — exactly-once epoch
            * appends through the table's idempotent batch keys
            * ([[GraftStreamingAppend]]). Append mode only: complete mode
            * would truncate the table every epoch. */
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            require(!replace,
              s"streaming writes to $tableName support append mode only " +
                "(complete mode would truncate the table every epoch)")
            new GraftStreamingAppend(rootPath, tableName,
              GraftSparkTable.schemaToPhysical(info.schema(), tableSchema),
              bucketSpec, info.queryId())
          }
          // (bucket, key) ordering on the STREAMING path (Spark honors
          // distribution/ordering for DSv2 micro-batch sinks): each
          // epoch's per-bucket files land key-sorted — a CORRECTNESS
          // requirement, not a nicety, because the scan's
          // SupportsReportOrdering claims ascending key order for any
          // single-file bucket and an unsorted streamed file would make
          // that claim a lie under an elided sort-merge-join sort. The
          // v1 batch path ignores this (its verbs sort in
          // writeBucketedDir); no distribution — a per-epoch shuffle
          // would tax every micro-batch for file-count alone.
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            org.apache.spark.sql.connector.distributions.Distributions
              .unspecified()
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            bucketSpec match {
              case Some((k, n))
                  if info.schema().fieldNames.exists(_.equalsIgnoreCase(
                    graft.table.ColumnIds.logicalFor(tableSchema, k))) =>
                import org.apache.spark.sql.connector.expressions.{Expressions => E, SortDirection}
                val kl = graft.table.ColumnIds.logicalFor(tableSchema, k)
                Array(E.sort(E.bucket(n, kl), SortDirection.ASCENDING),
                  E.sort(E.column(kl), SortDirection.ASCENDING))
              case _ => Array.empty
            }
        }
    }
  }
}

object GraftSparkTable {

  /** A requested (logical-named) schema rewritten to the table's PHYSICAL
    * field names by logical-name match — what the parquet readers/writers
    * need when a column has been renamed. Identity when unmapped. */
  def schemaToPhysical(requested: StructType, tableSt: StructType): StructType =
    if (!graft.table.ColumnIds.hasMapping(tableSt)) requested
    else StructType(requested.fields.map { f =>
      tableSt.fields
        .find(h => graft.table.ColumnIds.logicalName(h) == f.name)
        .map(h => f.copy(name = h.name)).getOrElse(f)
    })

  /** A pushed filter's attribute names rewritten logical -> physical so
    * parquet predicates and bucket pruning act on in-file names. Identity
    * when the table never renamed a column. */
  def filterToPhysical(f: sources.Filter, tableSt: StructType): sources.Filter = {
    if (!graft.table.ColumnIds.hasMapping(tableSt)) return f
    def p(a: String): String = graft.table.ColumnIds.physicalFor(tableSt, a)
    f match {
      case sources.EqualTo(a, v) => sources.EqualTo(p(a), v)
      case sources.EqualNullSafe(a, v) => sources.EqualNullSafe(p(a), v)
      case sources.GreaterThan(a, v) => sources.GreaterThan(p(a), v)
      case sources.GreaterThanOrEqual(a, v) => sources.GreaterThanOrEqual(p(a), v)
      case sources.LessThan(a, v) => sources.LessThan(p(a), v)
      case sources.LessThanOrEqual(a, v) => sources.LessThanOrEqual(p(a), v)
      case sources.In(a, vs) => sources.In(p(a), vs)
      case sources.IsNull(a) => sources.IsNull(p(a))
      case sources.IsNotNull(a) => sources.IsNotNull(p(a))
      case sources.StringStartsWith(a, v) => sources.StringStartsWith(p(a), v)
      case sources.StringEndsWith(a, v) => sources.StringEndsWith(p(a), v)
      case sources.StringContains(a, v) => sources.StringContains(p(a), v)
      case sources.And(l, r) =>
        sources.And(filterToPhysical(l, tableSt), filterToPhysical(r, tableSt))
      case sources.Or(l, r) =>
        sources.Or(filterToPhysical(l, tableSt), filterToPhysical(r, tableSt))
      case sources.Not(c) => sources.Not(filterToPhysical(c, tableSt))
      case other => other
    }
  }

  /** `sources.Filter` → Catalyst [[org.apache.spark.sql.Column]] for the
    * SQL DELETE path. None = untranslatable; `canDeleteWhere` then refuses
    * the whole delete (Spark reports it — a partial translation would
    * delete the wrong rows). */
  def filterToColumn(f: sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    f match {
      case sources.EqualTo(a, v) => Some(col(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case sources.LessThan(a, v) => Some(col(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) => Some(col(a).isNull)
      case sources.IsNotNull(a) => Some(col(a).isNotNull)
      case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case sources.StringContains(a, v) => Some(col(a).contains(v))
      case sources.And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case sources.Not(c) => filterToColumn(c).map(not)
      case _: sources.AlwaysTrue => Some(lit(true))
      case _: sources.AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  /** Delta-chain byte cap for the in-scan MOR resolver: every bucket task
    * re-reads the (unbucketed) chain and keeps only its bucket's keys, so
    * the cap bounds BOTH the n× chain re-read and the per-task map. The
    * chain is bounded by compaction cadence, not table size — same
    * argument as the serving path's cap.
    *
    * The amplification is PRICED, not assumed (`SCALE_r14.json`
    * `mor_chain_amplification`, from the scale probe removed after
    * `b5d25fe`: buckets {16,64} × chain {1,4,8} commits): measured task
    * input bytes track `base + buckets × chainColumnBytes` linearly —
    * 64 buckets re-reading a 0.4 MB chain added ~1.1 MB of input per scan
    * (the reader requests only key/__op/projected columns off the chain,
    * so the factor applies to the chain's COLUMN SUBSET, not its full
    * width) — while compact() at the same state cost a one-time ~1.5 s.
    * Rule of thumb before raising the cap: in-scan resolution reads
    * ~scansPerCompactionCycle × buckets × chainBytes extra; once that
    * product rivals the touched-bucket rewrite compact() performs, compact
    * instead. At the 256 MB cap and 4096 buckets a single full-width scan
    * could re-read up to ~1 TB of chain — the cap is deliberately sized
    * for compaction cadences that keep chains in the tens of MB. */
  val MorDeltaMaxBytesProp = "graft.v2.morDeltaMaxBytes"
  def morDeltaMaxBytes: Long =
    sys.props.get(MorDeltaMaxBytesProp).map(_.toLong).getOrElse(256L << 20)

  /** The write path's bucket assignment on a CATALYST value (see
    * [[GraftBucketFunction]] — null folds to the xxhash64 seed). Shared by
    * the v2 bucket function and the MOR reader's chain filter. */
  def bucketIdOf(v: Any, dt: DataType, n: Int): Int = {
    val h =
      if (v == null) 42L
      else org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(v, dt, 42L)
    (((h % n) + n) % n).toInt
  }

  /** None = the pending chain CAN resolve inside the v2 scan; Some(why)
    * otherwise. Resolvable needs: the table bucketed BY the mor key (so a
    * key's delta images belong to exactly one bucket partition — delta
    * DIRS themselves are unbucketed, the ingest path deliberately writes
    * without a shuffle), every base dir a `__bucket=k` leaf, and a
    * map-friendly key type. The chain byte cap is checked at plan time
    * where file sizes are already listed. */
  def morUnresolvable(
      head: Snapshot,
      tableSchema: StructType,
      bucketSpec: Option[(String, Int)]): Option[String] = {
    val morKey = head.summary.get("mor_key")
      .getOrElse(return Some("chain carries no mor_key"))
    if (!bucketSpec.exists(_._1 == morKey))
      return Some(s"table is not bucketed by the mor key $morKey")
    if (!head.dataDirs.forall(bucketOfDir(_).isDefined))
      return Some("a base data dir is not a bucket leaf")
    // Key-type WHITELIST: the resolver's hash map needs value equality on
    // the catalyst representation. Binary (arrays compare by identity) and
    // every nested/exotic type are refused — admitting one would silently
    // violate the algebra instead of refusing loudly.
    tableSchema.fields.find(_.name == morKey).map(_.dataType) match {
      case Some(ByteType | ShortType | IntegerType | LongType | FloatType |
                DoubleType | StringType | BooleanType | DateType |
                TimestampType | TimestampNTZType) => None
      case Some(_: DecimalType) => None
      case _ =>
        Some(s"mor key $morKey type unsupported for in-scan resolution")
    }
  }

  private val BucketLeaf = """.*__bucket=(\d+)$""".r

  /** Anchored bucket-leaf parse (None on any malformed suffix — a foreign
    * dir must degrade the layout claim, never crash planning). */
  def bucketOfDir(dir: String): Option[Int] = dir match {
    case BucketLeaf(b) => Some(b.toInt)
    case _ => None
  }

  /** Bucket ids a conjunct pins the bucket key to (`key = v`, `key IN`),
    * via the same driver-side hash the write path used — shared by the
    * normal scan builder (plan-time pruning) and the copy-on-write scan
    * builder (group selection). None = the filter pins nothing. */
  def bucketsOfFilter(
      f: sources.Filter,
      bucketSpec: Option[(String, Int)],
      tableSchema: StructType,
      tz: String): Option[Set[Int]] = bucketSpec.flatMap {
    case (bk, n) =>
      val dt = tableSchema.fields.find(_.name == bk).map(_.dataType)
      def bucket(v: Any): Int = graft.plans.BucketHash.bucketId(v, dt.get, n, tz)
      f match {
        case sources.EqualTo(a, v) if a == bk && v != null && dt.isDefined =>
          try Some(Set(bucket(v))) catch { case _: Exception => None }
        case sources.In(a, vs) if a == bk && vs.nonEmpty &&
            vs.forall(_ != null) && dt.isDefined =>
          try Some(vs.map(bucket).toSet) catch { case _: Exception => None }
        case _ => None
      }
  }

  /** Parse a v2 transform as `bucket(n, col)` if that is what it is. */
  def asBucketTransform(t: Transform): Option[(String, Int)] =
    if (t.name != "bucket") None
    else {
      val ns = t.arguments.collect {
        case lit: org.apache.spark.sql.connector.expressions.Literal[_]
            if lit.dataType == IntegerType =>
          lit.value.asInstanceOf[Int]
      }
      val cols = t.references.flatMap(_.fieldNames())
      (ns.toSeq, cols.toSeq) match {
        case (Seq(n), Seq(c)) => Some((c, n))
        case _ => None
      }
    }
}

/**
 * Scan builder: column pruning lands in the parquet requested schema;
 * filter pushdown translates the equality/range shapes parquet row-group
 * stats can act on. Everything pushed is ALSO returned as residual — the
 * scan may skip row groups but never takes responsibility for exact
 * evaluation (same division of labor as Spark's own parquet source with
 * `spark.sql.parquet.filterPushdown`).
 */
final class GraftScanBuilder(
    spark: SparkSession,
    rootPath: String,
    tableName: String,
    head: Snapshot,
    tableSchema: StructType,
    bucketSpec: Option[(String, Int)],
    morKey: Option[String] = None)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters
  with SupportsPushDownAggregates {

  // Spark-facing schemas are LOGICAL; file-facing translation happens in
  // GraftScan. Default (no pruneColumns call) = the full logical schema.
  private var readSchema: StructType =
    graft.table.ColumnIds.logicalSchema(tableSchema)
  private var pushed: Array[sources.Filter] = Array.empty
  private var pushedAgg: Option[(StructType, Seq[Any])] = None

  /**
   * COMPLETE aggregate pushdown from table metadata — `SELECT count(*)`,
   * `min(c)`, `max(c)` (no GROUP BY, no surviving filters) answered by the
   * driver-side manifest fold [[GraftTable.statsFromMetadataAt]]: O(dirs)
   * work and ZERO data I/O, where the normal plan scans the whole table.
   * Every decline case (pending deltas, missing per-dir counts/stats,
   * string columns whose parquet stats may be truncated) returns None and
   * the aggregation runs as a plain scan — the metadata path answers
   * exactly or not at all, the same contract as `statsSummary`.
   */
  private def evalAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          // Aggregates reference LOGICAL names; stats live under physical.
          val c = graft.table.ColumnIds.physicalFor(tableSchema, r.fieldNames()(0))
          if (tableSchema.fieldNames.contains(c)) Some(c) else None
        case _ => None
      }
    // Column each aggregate needs stats for (None = count). Any shape
    // outside {count(*), min(col), max(col)} declines the whole push.
    val shapes: Seq[Option[String]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => None
      case m: Min => Some(colOf(m.column).getOrElse(return None))
      case m: Max => Some(colOf(m.column).getOrElse(return None))
      case _ => return None
    }
    val cols = shapes.flatten.distinct
    val gt = new GraftTable(spark, Paths.get(rootPath), tableName)
    gt.statsFromMetadataAt(head, cols).map { case (cnt, stats) =>
      val byCol = stats.map(s => s._1 -> s).toMap
      val out = agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          (StructField("count(*)", LongType, nullable = false), cnt: Any)
        case m: Min =>
          val c = colOf(m.column).get
          (StructField(s"min($c)", tableSchema(c).dataType), byCol(c)._2)
        case m: Max =>
          val c = colOf(m.column).get
          (StructField(s"max($c)", tableSchema(c).dataType), byCol(c)._3)
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      (StructType(out.map(_._1)), out.map(_._2))
    }
  }

  // Spark calls supportCompletePushDown then pushAggregation with the same
  // Aggregation; memoize so the O(dirs) manifest fold runs once per plan.
  private var lastAgg: Option[(org.apache.spark.sql.connector.expressions.aggregate.Aggregation, Option[(StructType, Seq[Any])])] = None
  private def evalAggCached(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Any])] = {
    if (!lastAgg.exists(_._1 eq agg)) lastAgg = Some((agg, evalAgg(agg)))
    lastAgg.get._2
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    evalAggCached(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = evalAggCached(agg)
    pushedAgg.isDefined
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    readSchema = requiredSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    // Filters carry LOGICAL names; translation and bucket pruning act on
    // the physical twin. `pushed` keeps the logical originals (what Spark
    // renders in plans); build() re-physicalizes.
    pushed = filters.filter { f =>
      val pf = GraftSparkTable.filterToPhysical(f, tableSchema)
      ParquetPredicate.translate(pf, tableSchema).isDefined ||
        bucketsOf(pf).isDefined
    }
    filters // all residual: the translation is advisory, Spark re-filters
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  /** Bucket ids a conjunct pins the bucket key to — the v2 form of
    * [[graft.plans.BucketPruneRule]]: a point predicate plans 1/n of the
    * table's partitions instead of all of them. */
  private def bucketsOf(f: sources.Filter): Option[Set[Int]] =
    GraftSparkTable.bucketsOfFilter(f, bucketSpec, tableSchema,
      spark.sessionState.conf.sessionLocalTimeZone)

  override def build(): Scan = pushedAgg match {
    case Some((aggSchema, values)) =>
      new GraftAggScan(tableName, head.snapshotId, aggSchema, values)
    case None =>
      val pushedPhys = pushed.map(GraftSparkTable.filterToPhysical(_, tableSchema))
      // Widened columns (narrow physical type still live in files) must
      // not reach parquet-mr's TYPE-STRICT row-group filters — a long
      // predicate over an int32 chunk fails the task, not the pushdown.
      // Spark re-evaluates every filter above the scan, so skipping the
      // push is pure (temporary) perf cost, cleared by any full rewrite.
      val widened = tableSchema.fields
        .filter(graft.table.ColumnIds.isWidened).map(_.name).toSet
      val pushable =
        if (widened.isEmpty) pushedPhys
        else pushedPhys.filterNot(_.references.exists(widened))
      val predicate = pushable.flatMap(ParquetPredicate.translate(_, tableSchema))
        .reduceOption(FilterApi.and)
      // Conjuncts AND together, so the bucket sets intersect.
      val keptBuckets = pushedPhys.flatMap(bucketsOf).reduceOption(_ intersect _)
      // Manifest-level data skipping on pushed range/point conjuncts
      // (round 17): the same per-dir min/max intersection the session
      // API's readRange/readBox does, applied BEFORE any file listing. A
      // column needs a lower AND an upper conjunct to form a window
      // (strict bounds use the closed window — a conservative superset);
      // dirs without stats always survive. UNLIKE the parquet predicate
      // above, dir skipping IS a correctness decision: rows in a dropped
      // dir are never read, so Spark's re-filtering cannot restore them.
      // Soundness rests on stats being true min/max in the bound's stats
      // domain — which is why bounds come from `pushable` (widened
      // columns excluded): a widened column's narrow-era stats are in the
      // OLD type's domain (DATE days vs TIMESTAMP_NTZ micros) and would
      // mis-prune every narrow-era dir. statPrunedDirs itself declines
      // widened columns too (defense in depth for the session paths).
      // This is what makes a range-pruned MERGE's matching-rows subquery
      // O(touched dirs) on a range-clustered table (MergeKeyPruneRule's
      // min/max conjunct) — and any plain v2 range query O(matching dirs).
      val statKept: Option[Set[String]] = {
        val los = pushable.collect {
          case sources.GreaterThan(a, v) if v != null => (a, v)
          case sources.GreaterThanOrEqual(a, v) if v != null => (a, v)
          case sources.EqualTo(a, v) if v != null => (a, v)
        }
        val his = pushable.collect {
          case sources.LessThan(a, v) if v != null => (a, v)
          case sources.LessThanOrEqual(a, v) if v != null => (a, v)
          case sources.EqualTo(a, v) if v != null => (a, v)
        }
        val bounds = for {
          (c, lo) <- los.toSeq
          (c2, hi) <- his.toSeq if c2 == c
        } yield (c, (lo, hi))
        if (bounds.isEmpty) None
        else {
          val gt = new GraftTable(spark, Paths.get(rootPath), tableName)
          val kept = gt.statPrunedDirs(head, tableSchema, bounds).toSet
          if (kept.size == head.dataDirs.size) None else Some(kept)
        }
      }
      new GraftScan(spark, rootPath, tableName, head, readSchema, bucketSpec,
        predicate, keptBuckets, morKey, statKept)
  }
}

/** One file of a scan partition. */
private[connector] case class FileSlice(path: String, len: Long)

/**
 * The completely-pushed-aggregate scan: ONE partition whose reader emits
 * the single pre-computed result row (values were folded from the
 * manifest on the driver at plan time — the scan ships answers, not
 * work). External (java) values ride serialization; the reader converts
 * to Catalyst on arrival.
 */
private[connector] final class GraftAggScan(
    tableName: String,
    snapshotId: Long,
    aggSchema: StructType,
    values: Seq[Any])
  extends Scan with Batch {

  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft $tableName snapshot=$snapshotId metadata-aggregate " +
      s"PushedAggregates=[${aggSchema.fieldNames.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(aggSchema.json, values.toArray))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val ap = p.asInstanceOf[GraftAggPartition]
        new PartitionReader[InternalRow] {
          private var done = false
          private val st = DataType.fromJson(ap.schemaJson).asInstanceOf[StructType]
          override def next(): Boolean = if (done) false else { done = true; true }
          override def get(): InternalRow = {
            val catalyst = st.fields.zip(ap.values).map { case (f, v) =>
              org.apache.spark.sql.catalyst.CatalystTypeConverters
                .createToCatalystConverter(f.dataType)(v)
            }
            new GenericInternalRow(catalyst.asInstanceOf[Array[Any]])
          }
          override def close(): Unit = ()
        }
      }
    }
}

private[connector] case class GraftAggPartition(
    schemaJson: String, values: Array[Any]) extends InputPartition

/**
 * Scan/Batch: one input partition per `__bucket=k` (all commits' leaf dirs
 * of that bucket together — co-located by the write path's
 * `pmod(xxhash64(key), n)`), reported as [[KeyGroupedPartitioning]] so the
 * planner can elide exchanges. Unbucketed tables fall back to one
 * partition per data dir with unknown partitioning.
 */
final class GraftScan(
    spark: SparkSession,
    rootPath: String,
    tableName: String,
    head: Snapshot,
    override val readSchema: StructType,
    bucketSpec: Option[(String, Int)],
    predicate: Option[FilterPredicate],
    keptBuckets: Option[Set[Int]] = None,
    morKey: Option[String] = None,
    // Data dirs surviving manifest min/max skipping on the pushed range
    // conjuncts (None = no skipping applies). Conservative superset by
    // construction — see the builder; delta dirs are never pruned.
    statKept: Option[Set[String]] = None,
    planListener: Option[Option[Set[Int]] => Unit] = None)
  extends Scan with Batch with SupportsReportPartitioning
  with SupportsReportStatistics with SupportsRuntimeV2Filtering
  with SupportsReportOrdering {

  override def toBatch: Batch = this

  override def description(): String =
    s"graft $tableName snapshot=${head.snapshotId} " +
      bucketSpec.map { case (k, n) => s"bucketed($k,$n) " }.getOrElse("") +
      s"pushed=[${predicate.getOrElse("")}]" +
      // Static bucket pruning is a separate channel from the parquet
      // row-group predicate; without this the plan reads as unpruned.
      keptBuckets.map(b => s" buckets=${b.toSeq.sorted.mkString("{", ",", "}")}")
        .getOrElse("") +
      statKept.map(s => s" statsPruned=${head.dataDirs.size - s.size}/" +
        s"${head.dataDirs.size}").getOrElse("")

  private val hadoopConf =
    new SerializableConfiguration(spark.sessionState.newHadoopConf())

  // readSchema is Spark-facing (LOGICAL names); the parquet readers need
  // the in-file physical names, and Spark-facing expressions (runtime
  // filter attributes, partitioning/ordering reports) need the logical
  // name of the physical bucket key. Identity when never renamed.
  private lazy val tableSt: StructType =
    DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
  private lazy val fileReadSchema: StructType =
    GraftSparkTable.schemaToPhysical(readSchema, tableSt)
  private def logicalOf(k: String): String =
    graft.table.ColumnIds.logicalFor(tableSt, k)

  private def listFiles(dir: String): Seq[FileSlice] = {
    val p = new Path(Paths.get(rootPath).resolve(dir).toString)
    val fs = p.getFileSystem(hadoopConf.value)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => FileSlice(f.getPath.toString, f.getLen))
  }

  private def bucketOfDir(dir: String): Option[Int] =
    GraftSparkTable.bucketOfDir(dir)

  /** (partitions, keyGrouped?): bucket-grouped only when EVERY data dir is
    * a bucket leaf — one foreign dir (pre-layout history) and the claim
    * would be a lie, so the scan degrades to unknown partitioning. With a
    * pending MOR chain (morKey set — validated bucket-co-located at
    * loadTable), each bucket's partition also carries ITS slice of the
    * chain in sequence order; partitioning stays key-grouped because
    * resolution never moves a row across its key's bucket. */
  // Manifest stats skipping happens here (not on head itself): the bucket
  // layout decision above/below still reads the FULL dir set (a pruned
  // view must not change the partitioning claim), only planning drops
  // dirs. Delta dirs are never stats-pruned (always read + resolved).
  private def statKeptDataDirs: Seq[String] = statKept match {
    case Some(keep) => head.dataDirs.filter(keep.contains)
    case None => head.dataDirs
  }

  private lazy val planned: (Array[InputPartition], Boolean) = bucketSpec match {
    case Some((_, n)) if (head.dataDirs ++ head.deltaDirs).nonEmpty &&
        head.dataDirs.forall(bucketOfDir(_).isDefined) &&
        (morKey.isDefined || head.deltaDirs.isEmpty) =>
      // Delta dirs are UNBUCKETED (the ingest path appends without a
      // shuffle): every bucket partition carries the whole chain and its
      // reader keeps only the rows hashing into its bucket. The plan-time
      // cap bounds the n× re-read and the per-task map together.
      val chain: Array[DeltaSlice] = head.deltaDirs.zipWithIndex
        .flatMap { case (d, i) =>
          listFiles(d).map(f => DeltaSlice((i + 1).toLong, f.path, f.len))
        }.toArray
      if (morKey.isDefined) {
        val chainBytes = chain.map(_.len).sum
        require(chainBytes <= GraftSparkTable.morDeltaMaxBytes,
          s"pending delta chain is $chainBytes bytes " +
            s"(cap ${GraftSparkTable.morDeltaMaxBytes}); compact() first")
      }
      val byBucket = statKeptDataDirs.groupBy(d => bucketOfDir(d).get)
      val allBuckets =
        (byBucket.keySet ++ (if (chain.nonEmpty) (0 until n).toSet else Set.empty))
          .toSeq.sorted
          .filter(b => keptBuckets.forall(_.contains(b)))
      val parts = allBuckets.flatMap { b =>
        val files = byBucket.getOrElse(b, Seq.empty).flatMap(listFiles)
        if (files.isEmpty && chain.isEmpty) None
        else Some(GraftInputPartition(files.toArray, b, chain): InputPartition)
      }
      (parts.toArray, true)
    case _ =>
      // Unreachable with a pending chain (newScanBuilder only admits
      // deltas on all-leaf bucketed tables) — belt and suspenders against
      // ever planning a stale bare scan.
      require(head.deltaDirs.isEmpty,
        s"internal: unpartitioned plan cannot resolve ${head.deltaDirs.size} deltas")
      val parts = statKeptDataDirs.flatMap { d =>
        val files = listFiles(d)
        if (files.isEmpty) None
        else Some(GraftInputPartition(files.toArray, -1): InputPartition)
      }
      (parts.toArray, false)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = runtimeKept match {
      case Some(kept) => planned._1.filter {
        case p: GraftInputPartition => p.bucketId < 0 || kept.contains(p.bucketId)
        case _ => true
      }
      case None => planned._1
    }
    // Copy-on-write scans report what they ACTUALLY planned (post static
    // AND runtime pruning) so the replacement commit swaps exactly those
    // groups: Some(bucket ids) when bucket-grouped, None = read everything.
    planListener.foreach { f =>
      f(if (planned._2)
        Some(parts.collect { case p: GraftInputPartition => p.bucketId }.toSet)
      else None)
    }
    parts
  }

  /**
   * Manifest-backed size/row statistics: per-dir record counts sum to
   * numRows (exact when complete; deltas add their file-size share), file
   * lengths — already listed for planning — to sizeInBytes. Reporting
   * them lets Catalyst make the SAME broadcast/join-strategy calls
   * through the connector it would make on a native scan; without them a
   * v2 relation defaults to "unknown, huge" and a small dim table read
   * through the catalog never broadcasts.
   */
  override def estimateStatistics(): Statistics = {
    val bytes = planned._1.collect {
      case p: GraftInputPartition =>
        p.files.map(_.len).sum + p.deltaFiles.map(_.len).sum
    }.sum
    val rows: Option[Long] =
      if (head.deltaDirs.isEmpty && keptBuckets.isEmpty && statKept.isEmpty &&
          head.dataDirs.forall(head.dirRecords.contains))
        Some(head.dataDirs.map(head.dirRecords).sum)
      else None
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bytes))
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
    }
  }

  // ---- runtime (join-derived) bucket pruning: Spark hands the scan the
  // build side's key values mid-execution; equality/IN shapes on the
  // bucket key drop whole bucket partitions before any task launches —
  // dynamic partition pruning over the hash layout.
  private var runtimeKept: Option[Set[Int]] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    bucketSpec match {
      case Some((k, _)) => Array(Expressions.column(logicalOf(k)))
      case None => Array.empty
    }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    bucketSpec.foreach { case (bk, n) =>
    val dt = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
      .fields.find(_.name == bk).map(_.dataType)
    // Catalyst-representation literal of EXACTLY the column's type: the
    // bucket hash is type-width-sensitive, so a differently-typed runtime
    // value (coercion artifacts) must not prune.
    def litVal(e: org.apache.spark.sql.connector.expressions.Expression): Option[Any] =
      e match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if dt.contains(l.dataType) => Option(l.value)
        case _ => None
      }
    def refIs(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          // Runtime predicates reference the relation's LOGICAL output.
          r.fieldNames.sameElements(Array(logicalOf(bk)))
        case _ => false
      }
    val sets = predicates.toSeq.flatMap { p =>
      val kids = p.children()
      p.name() match {
        case "IN" if kids.nonEmpty && refIs(kids.head) =>
          val vs = kids.tail.map(litVal)
          if (vs.forall(_.isDefined) && dt.isDefined)
            Some(vs.flatten.map(v =>
              GraftSparkTable.bucketIdOf(v, dt.get, n)).toSet)
          else None
        case "=" if kids.length == 2 && dt.isDefined =>
          (if (refIs(kids(0))) litVal(kids(1))
           else if (refIs(kids(1))) litVal(kids(0))
           else None)
            .map(v => Set(GraftSparkTable.bucketIdOf(v, dt.get, n)))
        case _ => None
      }
    }
    // Runtime predicates AND together; an untranslatable one simply
    // doesn't prune (Spark re-evaluates every filter above the scan).
    if (sets.nonEmpty) runtimeKept = Some(sets.reduce(_ intersect _))
    GraftScan.lastRuntimeKept = runtimeKept
    }
  }

  override def outputPartitioning(): Partitioning = bucketSpec match {
    case Some((k, n)) if planned._2 =>
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(n, logicalOf(k))), planned._1.length)
    case _ => new UnknownPartitioning(planned._1.length)
  }

  /**
   * Per-partition ordering report: the bucketed write path sorts every
   * bucket file by the bucket key (`sortWithinPartitions(bucket, key)`,
   * ascending nulls-first — see GraftTable.writeBucketedDir), so a
   * partition holding EXACTLY ONE base file streams its rows key-sorted
   * and the planner can elide the per-partition sorts a sort-merge join
   * or sort-based aggregation would otherwise insert — the ordering twin
   * of the SPJ exchange elision, priced the same way (at 100 TB the sort
   * spills before it sorts). Claimed conservatively: any multi-file
   * bucket (appended commits — concatenating sorted files is NOT sorted),
   * any pending MOR chain (chain images stream first, unsorted), or a
   * non-bucket-grouped plan reports NO ordering rather than a lie.
   * Compaction restores the one-file-per-bucket shape, and with it the
   * claim.
   */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    bucketSpec match {
      case Some((k, _)) if planned._2 && morKey.isEmpty &&
          readSchema.fieldNames.contains(logicalOf(k)) &&
          planned._1.forall {
            case p: GraftInputPartition => p.files.length <= 1
            case _ => false
          } =>
        Array(Expressions.sort(Expressions.column(logicalOf(k)),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case _ => Array.empty
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(fileReadSchema.json, predicate, hadoopConf,
      morKey.map(k => (k, tableSt(k).dataType.json, bucketSpec.get._2)))

  /** `spark.readStream.table("lake.t")` — micro-batch append stream
    * ([[GraftAppendStream]]): initial snapshot = this scan's pinned head,
    * then exactly the appended dirs per window, through the same reader
    * factory the batch scan uses. Column pruning applies (readSchema). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftAppendStream(spark, rootPath, tableName, readSchema, head)
}

object GraftScan {
  /** Observability/test hook: the bucket set the most recent runtime
    * `filter()` call kept (None = untranslatable, no pruning). */
  @volatile var lastRuntimeKept: Option[Set[Int]] = None
}

/** One delta-chain file of a bucket partition: chain sequence + location. */
private[connector] case class DeltaSlice(seq: Long, path: String, len: Long)

private[connector] case class GraftInputPartition(
    files: Array[FileSlice], bucketId: Int,
    deltaFiles: Array[DeltaSlice] = Array.empty)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

/**
 * Executor-side reader: Spark's own vectorized parquet decoder
 * ([[VectorizedParquetRecordReader]] — the same decode path a built-in
 * parquet scan and [[graft.table.LocalPointRead]] use), fed the pruned
 * requested schema and the pushed row-group predicate through the reader
 * conf. Columns requested but absent from an old file (pre-evolution
 * commits) null-fill inside the reader, which is exactly the table's
 * append-time evolution semantics.
 */
final class GraftReaderFactory(
    readSchemaJson: String,
    predicate: Option[FilterPredicate],
    hadoopConf: SerializableConfiguration,
    morInfo: Option[(String, String, Int)] = None) // (mor key, key type json, n)
  extends PartitionReaderFactory {

  // Columnar whenever every requested column is atomic: the vectorized
  // reader then hands whole ColumnarBatches to the scan and the query
  // stays inside whole-stage codegen — measured 2× over the row path on
  // the f10 SPJ probe (per-row InternalRow hand-off was the bottleneck,
  // not the join). Nested/array schemas — and partitions that must merge
  // a pending delta chain row-by-row — fall back to rows.
  private val columnar = morInfo.isEmpty && {
    val st = DataType.fromJson(readSchemaJson).asInstanceOf[StructType]
    st.fields.nonEmpty && st.fields.forall(_.dataType match {
      case _: ArrayType | _: MapType | _: StructType |
           _: UserDefinedType[_] | NullType | CalendarIntervalType => false
      case _ => true
    })
  }

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    morInfo match {
      case Some((key, keyDtJson, numBuckets)) =>
        new GraftMorPartitionReader(p, readSchemaJson, key, keyDtJson,
          numBuckets, predicate, hadoopConf.value)
      case None =>
        new GraftPartitionReader(p.files, readSchemaJson, predicate, hadoopConf.value)
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new GraftColumnarPartitionReader(p.files, readSchemaJson, predicate, hadoopConf.value)
  }
}

/** Shared per-partition reader conf (see GraftPartitionReader's doc). */
private[connector] object GraftReaderConf {
  /** The one copy of the vectorized-reader open recipe (rebase CORRECTED:
    * every graft file is written by this library on Spark 4 — see
    * LocalPointRead; mapred FileSplit: the reader's initialize downcasts
    * to it); close-on-throw so a failed initialize leaks nothing. */
  def openReader(
      conf: Configuration, path: String, len: Long,
      columnar: Boolean = false): VectorizedParquetRecordReader = {
    val rdr = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
    val split = new org.apache.hadoop.mapred.FileSplit(
      new Path(path), 0, len, null.asInstanceOf[Array[String]])
    val ctx = new TaskAttemptContextImpl(conf, new TaskAttemptID())
    try {
      rdr.initialize(split, ctx)
      if (columnar) rdr.enableReturningBatches()
      rdr
    } catch { case e: Throwable => rdr.close(); throw e }
  }

  def build(
      base: Configuration,
      readSchemaJson: String,
      predicate: Option[FilterPredicate]): Configuration = {
    val c = new Configuration(base)
    c.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    c.set("org.apache.spark.sql.parquet.row.requested_schema", readSchemaJson)
    c.set("spark.sql.parquet.binaryAsString", "false")
    c.set("spark.sql.parquet.int96AsTimestamp", "true")
    c.set("spark.sql.caseSensitive", "false")
    c.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    c.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    predicate.foreach(ParquetInputFormat.setFilterPredicate(c, _))
    c
  }
}

private final class GraftColumnarPartitionReader(
    files: Array[FileSlice],
    readSchemaJson: String,
    predicate: Option[FilterPredicate],
    base: Configuration)
  extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  private val conf = GraftReaderConf.build(base, readSchemaJson, predicate)
  private var idx = 0
  private var current: VectorizedParquetRecordReader = _

  private def openNext(): Boolean = {
    if (idx >= files.length) return false
    val f = files(idx); idx += 1
    current = GraftReaderConf.openReader(conf, f.path, f.len, columnar = true)
    true
  }

  override def next(): Boolean = {
    while (true) {
      if (current == null) { if (!openNext()) return false }
      else if (current.nextKeyValue()) return true
      else { current.close(); current = null }
    }
    false // unreachable
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch =
    current.getCurrentValue.asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]

  override def close(): Unit =
    if (current != null) { current.close(); current = null }
}

private final class GraftPartitionReader(
    files: Array[FileSlice],
    readSchemaJson: String,
    predicate: Option[FilterPredicate],
    base: Configuration)
  extends PartitionReader[InternalRow] {

  // One conf for the whole partition: requested schema + converter flags,
  // the same recipe as LocalPointRead.filePlan (which documents why each
  // flag is set); row-group filtering levels keep parquet defaults here —
  // a throughput scan amortizes index reads that a millisecond point read
  // cannot.
  private val conf = GraftReaderConf.build(base, readSchemaJson, predicate)

  private var idx = 0
  private var current: VectorizedParquetRecordReader = _

  private def openNext(): Boolean = {
    if (idx >= files.length) return false
    val f = files(idx); idx += 1
    current = GraftReaderConf.openReader(conf, f.path, f.len)
    true
  }

  override def next(): Boolean = {
    while (true) {
      if (current == null) { if (!openNext()) return false }
      else if (current.nextKeyValue()) return true
      else { current.close(); current = null }
    }
    false // unreachable
  }

  override def get(): InternalRow =
    current.getCurrentValue.asInstanceOf[InternalRow]

  override def close(): Unit =
    if (current != null) { current.close(); current = null }
}

/**
 * In-scan merge-on-read resolution, one bucket per task — the same
 * algebra as `GraftTable.resolveDeltas` (base rows at sequence 0, each
 * delta batch at its chain position, latest sequence per key wins — ALL
 * rows tied at the top, matching the rank cut — and a winning
 * `__op = 'd'` tombstone deletes), executed as a hash merge instead of a
 * window: the task materializes ITS bucket's delta chain into a key map
 * (bounded by compaction cadence / bucket count — plan-time byte cap, see
 * [[GraftSparkTable.morDeltaMaxBytes]]), then streams base files emitting
 * rows whose key the chain does not supersede, then the surviving chain
 * images. Keys never cross buckets, so the scan's KeyGroupedPartitioning
 * claim — and storage-partitioned joins — hold even mid-ingest.
 *
 * The pushed parquet predicate applies to BASE files only: a filtered-out
 * delta row would un-supersede its stale base image (the map must see the
 * whole chain); winning delta rows are re-filtered by Spark above the
 * scan, so skipping nothing on the chain costs correctness nothing.
 */
private final class GraftMorPartitionReader(
    p: GraftInputPartition,
    readSchemaJson: String,
    keyCol: String,
    keyDtJson: String,
    numBuckets: Int,
    predicate: Option[FilterPredicate],
    base: Configuration)
  extends PartitionReader[InternalRow] {

  private val readSt = DataType.fromJson(readSchemaJson).asInstanceOf[StructType]
  private val keyDt = DataType.fromJson(keyDtJson)
  private val keyInRead = readSt.fieldNames.contains(keyCol)
  // Base request = readSchema (+ key if pruned away); delta request adds
  // __op (append-born chain files lack the column physically — the reader
  // null-fills, which IS the upsert/append distinction the algebra wants).
  private val baseSt =
    if (keyInRead) readSt
    else StructType(readSt.fields :+ StructField(keyCol, keyDt))
  private val deltaSt = StructType(baseSt.fields :+
    StructField("__op", StringType))
  private val keyIdx = baseSt.fieldIndex(keyCol)
  private val opIdx = deltaSt.length - 1
  private val n = readSt.length

  /** NULL keys group like a window's null partition. */
  private object NullKey

  private def keyOf(r: InternalRow): Any =
    if (r.isNullAt(keyIdx)) NullKey
    else keyDt match {
      case StringType => r.getUTF8String(keyIdx).copy() // view → owned bytes
      case dt => r.get(keyIdx, dt)
    }

  /** Project a baseSt/deltaSt-layout row to readSchema (leading n fields). */
  private def project(r: InternalRow, sameLayout: Boolean): InternalRow =
    if (sameLayout) r
    else {
      val a = new Array[Any](n)
      var i = 0
      while (i < n) {
        a(i) = if (r.isNullAt(i)) null else r.get(i, readSt(i).dataType)
        i += 1
      }
      new GenericInternalRow(a)
    }

  private def eachRow(
      conf: Configuration, path: String, len: Long)(f: InternalRow => Unit): Unit = {
    val rdr = GraftReaderConf.openReader(conf, path, len)
    try {
      while (rdr.nextKeyValue()) f(rdr.getCurrentValue.asInstanceOf[InternalRow])
    } finally rdr.close()
  }

  // key -> (winning seq, all rows AT that seq — copied, deltaSt layout).
  private lazy val winners: java.util.HashMap[Any, (Long, scala.collection.mutable.ArrayBuffer[InternalRow])] = {
    val m = new java.util.HashMap[Any, (Long, scala.collection.mutable.ArrayBuffer[InternalRow])]()
    val conf = GraftReaderConf.build(base, deltaSt.json, None)
    p.deltaFiles.foreach { d =>
      eachRow(conf, d.path, d.len) { r =>
        // The chain is unbucketed: keep only THIS bucket's keys (same
        // hash as the base layout, so a key's base and chain images meet
        // in exactly one partition).
        val kv = if (r.isNullAt(keyIdx)) null else r.get(keyIdx, keyDt)
        if (GraftSparkTable.bucketIdOf(kv, keyDt, numBuckets) != p.bucketId)
          ()
        else {
        val k = keyOf(r)
        val cur = m.get(k)
        if (cur == null || d.seq > cur._1) {
          val buf = new scala.collection.mutable.ArrayBuffer[InternalRow](1)
          buf += r.copy()
          m.put(k, (d.seq, buf))
        } else if (d.seq == cur._1) cur._2 += r.copy()
        }
      }
    }
    m
  }

  private var deltaIter: java.util.Iterator[InternalRow] = _
  private var cur: InternalRow = _
  private var fileIdx = 0
  private var baseRdr: VectorizedParquetRecordReader = _
  private lazy val baseConf = GraftReaderConf.build(base, baseSt.json, predicate)

  private def openNextBase(): Boolean = {
    if (fileIdx >= p.files.length) return false
    val f = p.files(fileIdx); fileIdx += 1
    baseRdr = GraftReaderConf.openReader(baseConf, f.path, f.len)
    true
  }

  override def next(): Boolean = {
    if (deltaIter == null) {
      // Surviving chain images first: winners minus tombstones.
      val out = new java.util.ArrayList[InternalRow]()
      winners.values().forEach { case (_, rows) =>
        rows.foreach { r =>
          val del = !r.isNullAt(opIdx) && r.getUTF8String(opIdx).toString == "d"
          if (!del) out.add(project(r, sameLayout = false))
        }
      }
      deltaIter = out.iterator()
    }
    if (deltaIter.hasNext) { cur = deltaIter.next(); return true }
    while (true) {
      if (baseRdr == null) { if (!openNextBase()) return false }
      else if (baseRdr.nextKeyValue()) {
        val r = baseRdr.getCurrentValue.asInstanceOf[InternalRow]
        if (!winners.containsKey(keyOf(r))) {
          cur = project(r, sameLayout = keyInRead)
          return true
        }
      } else { baseRdr.close(); baseRdr = null }
    }
    false // unreachable
  }

  override def get(): InternalRow = cur

  override def close(): Unit =
    if (baseRdr != null) { baseRdr.close(); baseRdr = null }
}

/**
 * `sources.Filter` → parquet [[FilterPredicate]] for the shapes row-group
 * min/max stats can act on, over the primitive physical types graft
 * writes (timestamps are INT64 micros via the table's footer rewrite,
 * dates INT32 days). Unsupported shapes translate to None and simply
 * aren't pushed — never guessed.
 */
private[connector] object ParquetPredicate {
  import FilterApi._

  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
    case i: java.time.Instant =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)
    case other => throw new IllegalArgumentException(s"not a timestamp: $other")
  }

  private def days(v: Any): Int = v match {
    case d: java.sql.Date =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d)
    case d: java.time.LocalDate =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d)
    case other => throw new IllegalArgumentException(s"not a date: $other")
  }

  /** Typed single-column comparison dispatch; None = don't push. */
  private def cmp(
      dt: DataType, name: String,
      op: String, v: Any): Option[FilterPredicate] = {
    try {
      dt match {
        case IntegerType =>
          val c = intColumn(name); val x = v.asInstanceOf[Number].intValue(): Integer
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "lt" => FilterApi.lt(c, x); case "le" => FilterApi.ltEq(c, x)
            case "gt" => FilterApi.gt(c, x); case "ge" => FilterApi.gtEq(c, x)
          })
        case LongType =>
          val c = longColumn(name); val x = v.asInstanceOf[Number].longValue(): java.lang.Long
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "lt" => FilterApi.lt(c, x); case "le" => FilterApi.ltEq(c, x)
            case "gt" => FilterApi.gt(c, x); case "ge" => FilterApi.gtEq(c, x)
          })
        case DoubleType =>
          val c = doubleColumn(name); val x = v.asInstanceOf[Number].doubleValue(): java.lang.Double
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "lt" => FilterApi.lt(c, x); case "le" => FilterApi.ltEq(c, x)
            case "gt" => FilterApi.gt(c, x); case "ge" => FilterApi.gtEq(c, x)
          })
        case FloatType =>
          val c = floatColumn(name); val x = v.asInstanceOf[Number].floatValue(): java.lang.Float
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "lt" => FilterApi.lt(c, x); case "le" => FilterApi.ltEq(c, x)
            case "gt" => FilterApi.gt(c, x); case "ge" => FilterApi.gtEq(c, x)
          })
        case StringType =>
          val c = binaryColumn(name); val x = Binary.fromString(v.asInstanceOf[String])
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "lt" => FilterApi.lt(c, x); case "le" => FilterApi.ltEq(c, x)
            case "gt" => FilterApi.gt(c, x); case "ge" => FilterApi.gtEq(c, x)
          })
        case TimestampType =>
          val c = longColumn(name); val x = micros(v): java.lang.Long
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "lt" => FilterApi.lt(c, x); case "le" => FilterApi.ltEq(c, x)
            case "gt" => FilterApi.gt(c, x); case "ge" => FilterApi.gtEq(c, x)
          })
        case DateType =>
          val c = intColumn(name); val x = days(v): Integer
          Some(op match {
            case "eq" => FilterApi.eq(c, x)
            case "lt" => FilterApi.lt(c, x); case "le" => FilterApi.ltEq(c, x)
            case "gt" => FilterApi.gt(c, x); case "ge" => FilterApi.gtEq(c, x)
          })
        case _ => None
      }
    } catch { case _: Exception => None }
  }

  def translate(f: sources.Filter, schema: StructType): Option[FilterPredicate] = {
    def dtOf(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
    f match {
      case sources.EqualTo(a, v) if v != null =>
        dtOf(a).flatMap(cmp(_, a, "eq", v))
      case sources.LessThan(a, v) if v != null =>
        dtOf(a).flatMap(cmp(_, a, "lt", v))
      case sources.LessThanOrEqual(a, v) if v != null =>
        dtOf(a).flatMap(cmp(_, a, "le", v))
      case sources.GreaterThan(a, v) if v != null =>
        dtOf(a).flatMap(cmp(_, a, "gt", v))
      case sources.GreaterThanOrEqual(a, v) if v != null =>
        dtOf(a).flatMap(cmp(_, a, "ge", v))
      case sources.In(a, vs) if vs.nonEmpty && vs.forall(_ != null) && vs.length <= 32 =>
        dtOf(a).flatMap { dt =>
          val parts = vs.toSeq.map(cmp(dt, a, "eq", _))
          if (parts.forall(_.isDefined)) parts.flatten.reduceOption(FilterApi.or)
          else None
        }
      case sources.And(l, r) =>
        for (lp <- translate(l, schema); rp <- translate(r, schema))
          yield FilterApi.and(lp, rp)
      case _ => None
    }
  }
}
