package graft.dml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Keyed MERGE engine — the native replacement for the Iceberg `MERGE INTO`
 * the reference emits (`cdc_merger_optimized.py:169-183`) and for Hudi's
 * copy-on-write upsert/delete sinks (`ingest_csv_hudi.py:80-99`,
 * `delete_hudi.py:63-88`). Semantics reproduced exactly:
 *
 *   WHEN MATCHED AND source.op = 'd'      THEN DELETE
 *   WHEN MATCHED                          THEN UPDATE SET *
 *   WHEN NOT MATCHED AND source.op <> 'd' THEN INSERT *
 *
 * plus Hudi-style precombine: if several source rows share a key, the one
 * with the greatest precombine value wins (`row_number` dedup, same as
 * `cdc_merger_optimized.py:160-161`).
 *
 * One DOCUMENTED deviation: a source row whose op is NULL upserts. Under
 * SQL three-valued logic the reference's `NOT MATCHED AND s.op != 'd'`
 * clause would skip INSERTing it (NULL <> 'd' is NULL) while its
 * unguarded `WHEN MATCHED` clause still updates — distinguishing the two
 * here would cost an extra join against the target key set purely for
 * malformed input. The CDC decode layer drops undecodable rows (null
 * key, [[graft.cdc.Envelope.transformBatch]]), so a surviving null-op
 * row means a producer that omits `op`; it degrades to an upsert rather
 * than silent row loss. (The SQL `MERGE INTO` path through Spark's
 * `RewriteMergeIntoTable` keeps exact 3VL semantics.)
 *
 * Physical shape (scale notes): because a matched row is fully replaced by
 * the update image, the plan is an ANTI JOIN + UNION, not a full-outer join.
 * With `broadcastUpdates = true` (the normal CDC case: small micro-batch vs
 * huge table) the target side is never shuffled at all — the whole merge is
 * a single codegen'd scan-filter-union over the target. The precombine dedup
 * is a window over the updates side only.
 */
object Merge {

  /** Locale-FREE lowercase for identifier matching: the default
    * `toLowerCase` folds through the JVM locale, and under tr-TR "ID"
    * becomes dotless-ı "ıd" ≠ "id" — silently re-opening the
    * duplicate-modulo-case schema hole on Turkish-locale deployments. */
  private[dml] def lc(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT)

  /** Latest-per-key dedup of the updates side (Hudi precombine analog). */
  def dedupLatest(updates: DataFrame, key: String, precombine: String, tieBreak: Option[String] = None): DataFrame = {
    val order = col(precombine).desc +: tieBreak.map(col(_).desc).toSeq
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
    updates
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * [[dedupLatest]] for a tie-break column whose values are UNIQUE within
   * the batch (an arrival-sequence column): the winner of
   * (precombine desc, tieBreak desc) is computed by one `max_by` hash
   * aggregate instead of a window. Two structural wins over the window at
   * scale: partial (map-side) aggregation collapses a hot key's superseded
   * images before the exchange — a window must shuffle EVERY row of the
   * batch — and no per-partition sort runs at all. Equivalence to the
   * window form: the greatest (precombine, tieBreak) struct is the row
   * row_number() = 1 picks under (precombine desc, tieBreak desc); struct
   * ordering ranks a NULL field below any value, matching desc NULLS LAST;
   * and a unique tie-break makes full ties impossible, so the arbitrary
   * element max_by would pick among tied maxima never materializes
   * (MergeProps proves the equivalence property-wise).
   */
  def dedupLatestUnique(
      updates: DataFrame, key: String, precombine: String,
      tieBreak: String): DataFrame = {
    val dataCols = updates.columns.filterNot(_ == key)
    val row = struct(dataCols.map(col): _*)
    val ord = struct(col(precombine), col(tieBreak))
    updates.groupBy(col(key))
      .agg(max_by(row, ord).as("__row"))
      .select(updates.columns.toSeq.map { c =>
        if (c == key) col(key) else col("__row").getField(c).as(c)
      }: _*)
  }

  /**
   * ALL rows tied at the key's highest `precombine` value — `rank()`, not
   * `row_number()`. The difference matters when ties are possible: a
   * row_number pick among tied rows depends on which competitors are IN
   * the candidate set, so a bucket- or stats-pruned read could resolve a
   * tied key to a different survivor than the full read (both
   * "arbitrary", but observably divergent). A rank cut is deterministic
   * as a SET and commutes with any pre-filter that the final predicate
   * re-applies — the property merge-on-read resolution needs for its
   * pruned lookups ([[graft.table.GraftTable]]'s resolveDeltas).
   */
  def latestAll(updates: DataFrame, key: String, precombine: String): DataFrame = {
    // Measured-keep (r19): a max + null-safe-join-back rewrite (aggregate
    // narrow (key, precombine) pairs, stream full rows through the probe
    // side) was property-proven set-equivalent and measured SLOWER on the
    // CDC-chain workload at every chain length (chains 4/12/32: window
    // 1.1/1.35/2.2-2.9 s vs join 1.5/2.9/4.1-4.2 s end-to-end compact) —
    // full-update chains put EVERY key in every delta, so the per-key
    // maxima table is key-set-sized, falls out of broadcast range, and the
    // join re-scans and re-shuffles the chain twice where the window pays
    // one exchange + sort. The window stays; OPTIMIZATION_r19.md has the
    // A/B.
    val w = Window.partitionBy(col(key)).orderBy(col(precombine).desc)
    updates
      .withColumn("__rk", rank().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /**
   * Merge `updates` into `target` on `key`.
   *
   * @param precombine column of `updates` ordering duplicate keys (desc wins)
   * @param opCol      optional column of `updates` holding the Debezium op
   *                   code; rows with op == 'd' delete the matching target
   *                   row (and never insert). The op column is NOT part of
   *                   the output schema.
   */
  /**
   * Keys-per-side cap under which the update-keys side of the anti join is
   * explicitly broadcast. A CDC micro-batch (≤100k keys) always broadcasts;
   * a backfill replay of the whole history does NOT (it would OOM the
   * driver) and falls back to a shuffled anti join / AQE's own choice.
   */
  val maxBroadcastKeys: Long = 4_000_000L

  /** `preDeduped = true` asserts `updates` holds no SUPERSEDED image —
    * every row is a winner of the caller's own latest-per-key resolution
    * (compaction resolves the delta chain by sequence before merging it
    * into base buckets) — and skips the internal dedup shuffle. Multiple
    * tied winners per key are fine: the anti join removes the key's
    * target rows once and the union keeps every winner, matching the
    * rank-cut read semantics ([[latestAll]]). */
  /** `targetEmpty = true` asserts the target holds NO rows (a fresh table's
    * first batch — the CDC bootstrap case): the anti join is then a no-op,
    * so its whole subtree is skipped — the distinct key-set pass over the
    * updates, the broadcast-gate `count()` job, and the join itself. For
    * an updates side that is itself expensive to produce (a JSON envelope
    * decode), those were two full extra passes over the input per merge.
    * The kept side is replaced by `limit(0)` over the SAME aligned plan,
    * so the output schema (names, types, nullability through the union)
    * is byte-identical to the general path's. */
  def merge(
      target: DataFrame,
      updates: DataFrame,
      key: String,
      precombine: Option[String] = None,
      opCol: Option[String] = None,
      broadcastUpdates: Boolean = false,
      updatesRowsHint: Option[Long] = None,
      preDeduped: Boolean = false,
      targetEmpty: Boolean = false): DataFrame = {

    val deduped =
      if (preDeduped) updates
      else precombine match {
        case Some(p) => dedupLatest(updates, key, p)
        case None => updates.dropDuplicates(Seq(key))
      }

    // Output schema = target columns, then any new update-side columns
    // (schema evolution during merge), excluding the op meta column.
    val metaCols = opCol.toSet
    val updateDataCols = deduped.columns.filterNot(metaCols.contains)
    // Case-insensitive (see unionSchema): an update batch spelling the
    // target's "id" as "ID" evolves nothing — and must still have its
    // values land in "id", not be null-padded as an absent column.
    val targetLower = target.columns.map(lc).toSet
    val newSeen = scala.collection.mutable.HashSet.empty[String]
    val outCols: Seq[String] = target.columns.toSeq ++
      updateDataCols.filterNot(c => targetLower.contains(lc(c)) || !newSeen.add(lc(c)))

    // Align one side to outCols, padding absent columns with typed nulls
    // (the reference pads evolved columns the same way:
    // `ingest_csv_hudi.py:128`).
    def alignTo(df: DataFrame, other: DataFrame): DataFrame = {
      val have = df.columns.map(c => lc(c) -> c).toMap
      df.select(outCols.map { c =>
        have.get(lc(c)) match {
          case Some(actual) => col(actual).as(c)
          case None =>
            val dt = other.schema
              .find(_.name.equalsIgnoreCase(c)).map(_.dataType)
              .getOrElse(org.apache.spark.sql.types.StringType)
            lit(null).cast(dt).as(c)
        }
      }: _*)
    }

    // Because a matched row is FULLY replaced by the update image
    // (`UPDATE SET *` / Debezium after-image), MERGE degenerates to:
    //   (target ⟕̸ update-keys)  ∪  (updates where op ≠ 'd')
    // i.e. an anti join + union. With the update keys broadcast (the normal
    // CDC case: small micro-batch vs huge table) the target side is NEVER
    // shuffled — strictly better than a full-outer join at 100 TB, and the
    // anti join stays inside whole-stage codegen.
    val notDelete = opCol.map(c => coalesce(col(c) =!= "d", lit(true))).getOrElse(lit(true))
    val upserts = alignTo(deduped.filter(notDelete).drop(opCol.toSeq: _*), target)
    val kept =
      if (targetEmpty) alignTo(target, deduped).limit(0)
      else {
        // The anti join needs only the DISTINCT KEY SET, which precombine
        // dedup cannot change — build it from the raw updates with a narrow
        // single-column distinct instead of referencing the (windowed)
        // deduped plan a second time.
        val keys = updates.select(col(key)).dropDuplicates(Seq(key))
        // Size-gated broadcast: an unconditional hint would OOM on a
        // backfill batch that replays the whole history. The caller passes a
        // row count it already knows (bucketed merges count while bucketing)
        // so the common path costs no extra job; otherwise one cheap pass
        // over the updates — and no count at all when broadcasting is off.
        val keysSide =
          if (broadcastUpdates &&
              updatesRowsHint.getOrElse(keys.count()) <= maxBroadcastKeys)
            broadcast(keys)
          else keys
        alignTo(target, deduped).join(keysSide, Seq(key), "left_anti")
      }
    kept.unionByName(upserts)
  }

  /** Delete-as-anti-join (`delete_hudi.py:63-88`): remove rows whose key
    * appears in `keys`. The broadcast is size-gated like [[merge]]'s —
    * an unconditional hint would OOM the driver on a bulk/backfill delete
    * replaying millions of keys; `keysRowsHint` (by-name count fallback)
    * lets callers that already know the size skip the extra job. */
  def deleteKeys(target: DataFrame, keys: DataFrame, key: String,
      broadcastKeys: Boolean = true,
      keysRowsHint: Option[Long] = None): DataFrame = {
    val k = keys.select(col(key)).dropDuplicates(Seq(key))
    val side =
      if (broadcastKeys && keysRowsHint.getOrElse(k.count()) <= maxBroadcastKeys)
        broadcast(k)
      else k
    target.join(side, Seq(key), "left_anti")
  }

  /** Schema union used for append-time evolution (`ingest_csv_hudi.py:112-146`).
    * Columns NEW to the union are nullable BY CONSTRUCTION — every
    * pre-evolution row is padded with a typed null for them — regardless of
    * the incoming batch's own flag. Carrying a non-nullable flag into the
    * table schema let null-intolerant consumers (e.g. a LocalRelation built
    * from served rows) read the padding as 0 instead of NULL. */
  def unionSchema(base: StructType, incoming: StructType): StructType = {
    // Name match is case-INSENSITIVE, like the analyzer's default
    // resolution: an incoming "ID" is the table's existing "id" (kept under
    // the table's spelling), not a second column. Admitting a case-variant
    // pair into one schema would brick every later read — Spark's
    // case-insensitive parquet resolution rejects duplicate-modulo-case
    // columns — and the align step would silently null-pad the canonical
    // one while the incoming values landed beside it.
    // Dedupe against the base AND within the incoming batch itself: a batch
    // carrying both "extra" and "EXTRA" must evolve ONE column, not two.
    val seen = scala.collection.mutable.HashSet.empty[String]
    base.fieldNames.foreach(n => seen.add(lc(n)))
    StructType(base.fields ++
      incoming.fields.filter(f => seen.add(lc(f.name)))
        .map(_.copy(nullable = true)))
  }
}
