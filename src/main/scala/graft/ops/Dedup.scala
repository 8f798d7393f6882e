package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Document deduplication for large-scale training-data pipelines: exact
 * (normalized-hash), exact shingle-Jaccard (the verification oracle), and
 * MinHash+LSH banding (the 100 TB path — candidate pairs come from bucket
 * joins, NEVER an all-pairs cross join).
 *
 * Everything here is pure `Column` combinators / higher-order functions, so
 * the whole pipeline stays inside whole-stage codegen; the only shuffles are
 * the groupBy on (band, bandHash) buckets and the final pair aggregation.
 */
object Dedup {

  /**
   * The collapse-based operators ([[nearDupPairs]], [[nearDupClusters]],
   * [[graft.ops.Similarity.cosineDupPairsLsh]],
   * [[graft.ops.Curation.packSequences]]) key their internal joins /
   * shard math on `idCol` cast to long. A non-numeric id (e.g. a string
   * UUID) would cast to NULL and collapse every document into one bogus
   * group — silently wrong output — so the requirement is enforced
   * loudly at the operator entry instead.
   */
  private[ops] def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    val ok = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
      // Scale-0 decimals that fit a long are exactly integral — this is
      // how Spark surfaces parquet uint64 columns, and the driver has
      // regenerated testdata physical schemas between rounds before.
      case d: DecimalType => d.scale == 0 && d.precision <= 18
      case _ => false
    }
    require(ok,
      s"$op requires an integral id column ($idCol is ${dt.simpleString}): " +
        "its member/representative joins key on the id cast to long, and a " +
        "non-numeric id would cast to NULL and merge unrelated documents. " +
        "Map your ids to longs (e.g. xxhash64 of the string id plus a " +
        "collision-checked sidecar) before calling, or use the exact-dedup " +
        "operators, which accept any orderable id type.")
  }

  /**
   * The Spark-ML `handlePersistence` idiom for lazy results built on
   * persisted intermediates: materialize the (persisted) result with one
   * eager count while the intermediates are still cached, then release
   * the intermediates. The returned frame serves subsequent actions from
   * its own cache; callers that are done with it may `.unpersist()` it.
   * Without this, every call leaked the corpus-sized member/rep caches
   * for the lifetime of the SparkContext.
   */
  private[ops] def materializedWith(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    intermediates.foreach(_.unpersist(blocking = false))
    out
  }

  /** Canonical whitespace tokenizer — see [[graft.functions.Tokenize]]. */
  def tokens(text: Column): Column = graft.functions.Tokenize.tokens(text)

  /** Canonical text normalization for exact dedup: lower, trim, collapse runs of whitespace. */
  def normalize(text: Column): Column = graft.functions.Tokenize.normalize(text)

  /**
   * Exact-duplicate groups: rows sharing normalized text, keyed by the
   * smallest id (the canonical survivor). Only the (hash, id) pair shuffles
   * — the text itself is reduced map-side to a 64-bit fingerprint, which is
   * what makes this viable when the text column is the bulk of 100 TB.
   */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), xxhash64(normalize(col(textCol))).as("text_fp"))
      .groupBy("text_fp")
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Exact dedup: keep the smallest id per normalized text; drops later copies. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(xxhash64(normalize(col(textCol))))
      .orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * Word n-gram shingles of the token array (default 3). Documents shorter
   * than `n` tokens contribute their whole text as one shingle.
   */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val t = tokens(text)
    // Main branch is the codegen'd single-pass expression: the former
    // `transform(sequence, i => array_join(slice(tokens, ...)))` re-ran the
    // tokenize subtree (regexp normalize + split) per ELEMENT — O(m²) per
    // document, the dominant cost of every shingle-string consumer. The
    // sub-n fallback keeps its historical `lower(trim(text))` identity
    // (oracles mirror it verbatim).
    when(size(t) < n, array(lower(trim(text))))
      .otherwise(graft.plans.WordShinglesExpr.shingles(t, n))
  }

  /** Distinct (id, shingle) pairs — the set representation used by Jaccard. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol).as("__id"), explode(wordShingles(col(textCol), n)).as("__sh"))
      .distinct()

  /**
   * Distinct (id, shingleHash) pairs — the scale-path set representation:
   * set algebra over 64-bit shingle hashes instead of shingle strings
   * (nothing wide shuffles). Counts equal the string-set counts unless two
   * distinct shingles collide in 64 bits — the standard accepted risk in
   * production dedup.
   */
  def hashShingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol).as("__id"),
      explode(graft.plans.ShingleHashesExpr.shingleHashes(tokens(col(textCol)), n)).as("__sh"))
      .distinct()

  /**
   * EXACT shingle-Jaccard similar pairs via an inverted shingle join (the
   * small-scale verification path; at 100 TB use [[nearDupPairs]]).
   *
   * `dfCap` drops shingles appearing in more than that many documents before
   * the self-join — the standard guard against quadratic blowup on boilerplate
   * shingles. 0 = no cap (needed when an external oracle recomputes the exact
   * answer without the cap).
   *
   * `maxRows` refuses a corpus larger than the cap (one cheap count) — with
   * `dfCap = 0` nothing else bounds the shingle self-join, and an accidental
   * full-corpus call would otherwise launch it silently. 0 disables the
   * guard for a deliberate oracle run.
   */
  def exactJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      n: Int = 3,
      dfCap: Int = 0,
      maxRows: Long = 100000): DataFrame = {
    if (maxRows > 0) {
      val rows = docs.count()
      require(rows <= maxRows,
        s"exactJaccardPairs is the exact verification path: corpus has $rows " +
          s"rows > maxRows=$maxRows. Use nearDupPairs (MinHash+LSH) at scale, " +
          "or pass a larger maxRows (0 disables the guard).")
    }
    val dt = shingleSets(docs, idCol, textCol, n)
    val filtered =
      if (dfCap <= 0) dt
      else {
        val rare = dt.groupBy("__sh").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= dfCap).select("__sh")
        dt.join(rare, "__sh")
      }
    val sizes = dt.groupBy("__id").agg(count(lit(1)).as("__n"))
    val inter = filtered.as("a")
      .join(filtered.as("b"),
        col("a.__sh") === col("b.__sh") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("__c"))
    inter
      .join(sizes.withColumnRenamed("__id", "id_a").withColumnRenamed("__n", "__na"), "id_a")
      .join(sizes.withColumnRenamed("__id", "id_b").withColumnRenamed("__n", "__nb"), "id_b")
      .withColumn("jaccard",
        col("__c").cast("double") / (col("__na") + col("__nb") - col("__c")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * CORPUS-LEVEL overlap audit between document GROUPS (sources, splits,
   * crawl snapshots — and the train-vs-benchmark contamination check, where
   * the benchmark rides in as one more group): distinct-shingle
   * intersection, Jaccard and containment per group pair. This is the
   * dataset-auditing complement of the per-document dedup family: it
   * answers "how much of source B is already in source A" before any
   * mixing-weight or decontamination decision.
   *
   * Scale shape (G = #groups, single-to-double digits; corpus unbounded):
   * one corpus pass to distinct (group, shingleHash) — shingles leave the
   * map side as 8-byte xxhash64 keys, text never shuffles — then ONE
   * groupBy(hash) collecting each shingle's group set (≤ G), pair expansion
   * bounded by G² PER DISTINCT SHINGLE (never per occurrence), and one
   * G²-sized final aggregate. Group sizes are a G-row broadcast. Hash-set
   * semantics: counts equal string-set counts unless two distinct shingles
   * collide in 64 bits (the [[hashShingleSets]] accepted risk).
   *
   * Output: (group_a, group_b, inter_shingles, n_a, n_b, jaccard,
   * containment) for pairs sharing ≥ 1 shingle, group_a < group_b.
   * Both ratios are single IEEE divisions of exact longs — deterministic
   * cross-engine (the [[graft.queries.Q]] float discipline).
   */
  def corpusOverlap(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    // `sets` feeds three consumers (sizes twice via the broadcast joins,
    // inter once) yet is deliberately NOT persisted: all three references
    // live in ONE query, so Spark's ReusedExchange computes the distinct's
    // shuffle once and the other references read the same exchange output —
    // no recompute to cure. Persisting was MEASURED worse (scale probe f1:
    // 1.19s/3.8MB shuffle lazy vs 2.19s/13.4MB persisted — the cache
    // materialization breaks the pipelined reuse and pays block-manager
    // writes for a corpus-sized intermediate). Contrast exactJaccardPairs,
    // whose candidate-shingle frame IS persisted: measured the other way
    // there.
    val sets = docs.select(col(groupCol).cast("string").as("__g"),
        explode(wordShingles(col(textCol), n)).as("__shs"))
      .select(col("__g"), xxhash64(col("__shs")).as("__sh"))
      .distinct()
    val sizes = sets.groupBy("__g").agg(count(lit(1)).as("__n"))
    // Sorted-array pair expansion: for each shingle's group set, emit every
    // (a, b) with a < b via an indexed HOF over the (tiny) array — no
    // self-join of the corpus-sized set against itself.
    val gs = array_sort(collect_set(col("__g")))
    val combos = flatten(transform(col("__gs"),
      (a, i) => transform(slice(col("__gs"), i + lit(2), size(col("__gs"))),
        b => struct(a.as("a"), b.as("b")))))
    val inter = sets.groupBy("__sh").agg(gs.as("__gs"))
      .filter(size(col("__gs")) > 1)
      .select(explode(combos).as("__p"))
      .groupBy(col("__p.a").as("group_a"), col("__p.b").as("group_b"))
      .agg(count(lit(1)).as("inter_shingles"))
    inter
      .join(broadcast(sizes.select(col("__g").as("group_a"), col("__n").as("n_a"))), "group_a")
      .join(broadcast(sizes.select(col("__g").as("group_b"), col("__n").as("n_b"))), "group_b")
      .select(col("group_a"), col("group_b"), col("inter_shingles"),
        col("n_a"), col("n_b"),
        (col("inter_shingles").cast("double") /
          (col("n_a") + col("n_b") - col("inter_shingles"))).as("jaccard"),
        (col("inter_shingles").cast("double") /
          least(col("n_a"), col("n_b"))).as("containment"))
  }

  /**
   * Persisted form of the [[corpusOverlap]] audit for CONTINUOUS
   * monitoring: each group's distinct shingle-hash set lands once as a
   * narrow bucketed table (8-byte hash + group), and every later ingest
   * batch is audited against ALL groups without re-touching corpus text —
   * the state-table move [[persistDedupState]] makes for near-dup checks,
   * applied to the contamination audit.
   */
  def persistOverlapState(
      catalog: graft.catalog.GraftCatalog,
      name: String,
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 3,
      numBuckets: Int = 64,
      overwrite: Boolean = false): graft.table.GraftTable = {
    val t = catalog.materialized(name, overwrite)
    t.overwriteBucketed(
      docs.select(col(groupCol).cast("string").as("grp"),
          explode(wordShingles(col(textCol), n)).as("__shs"))
        .select(col("grp"), xxhash64(col("__shs")).as("sh"))
        .distinct(),
      "sh", numBuckets)
    t
  }

  /**
   * Overlap of a NEW batch (one logical group — an incoming crawl shard, a
   * benchmark to screen against) vs every group in the persisted state:
   * distinct-shingle intersection, Jaccard, and containment per state
   * group. One shuffle on the 8-byte hash; the batch's scalar set size is
   * a 1-row broadcast (the [[Importance]] scalar-totals shape), so nothing
   * leaves the plan until the G-row result.
   */
  def overlapIncremental(
      batch: DataFrame,
      textCol: String,
      state: graft.table.GraftTable,
      batchGroup: String = "batch",
      n: Int = 3): DataFrame = {
    // `bsh` (two references: scalar size, intersection join) and
    // `state.read()` (two references: group sizes, intersection) are NOT
    // persisted — both double references sit inside one query, where
    // ReusedExchange / shared file scans already deduplicate the work (see
    // the measured note in [[corpusOverlap]]); pinning corpus-scale state
    // in executor memory per probe would be the worse trade at 100 TB.
    val bsh = batch
      .select(explode(wordShingles(col(textCol), n)).as("__shs"))
      .select(xxhash64(col("__shs")).as("sh"))
      .distinct()
    val nA = bsh.agg(count(lit(1)).as("n_a"))
    val sizes = state.read().groupBy("grp").agg(count(lit(1)).as("n_b"))
    val inter = bsh.join(state.read(), "sh")
      .groupBy("grp").agg(count(lit(1)).as("inter_shingles"))
    inter.join(sizes, "grp")
      .crossJoin(broadcast(nA))
      .select(lit(batchGroup).as("group_a"), col("grp").as("group_b"),
        col("inter_shingles"), col("n_a"), col("n_b"),
        (col("inter_shingles").cast("double") /
          (col("n_a") + col("n_b") - col("inter_shingles"))).as("jaccard"),
        (col("inter_shingles").cast("double") /
          least(col("n_a"), col("n_b"))).as("containment"))
  }

  // -------------------------------------------------------------- MinHash

  /**
   * One row per (doc, LSH band bucket): the signature is cut into `bands`
   * bands of `numPerm/bands` rows; each band hashes to one bucket key with
   * the band id folded in, so same-key rows are same-band same-bucket.
   * This is the joinable (and PERSISTABLE — see [[persistDedupState]])
   * form of the MinHash banding. b=16, r=4 targets Jaccard ≳ 0.5.
   */
  def bandBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numPerm: Int = 64,
      bands: Int = 16,
      n: Int = 3): DataFrame = {
    val r = numPerm / bands
    // Signature via the codegen'd native expression (one tight Java pass);
    // see graft.plans.MinHashSignatureExpr for why not transform/array_min.
    val sig = docs.select(col(idCol).as("__id"),
      graft.plans.MinHashSignatureExpr.signature(tokens(col(textCol)), numPerm, n).as("__sig"))
    val bandCols = (0 until bands).map { bi =>
      xxhash64((0 until r).map(j => element_at(col("__sig"), bi * r + j + 1)) :+ lit(bi): _*)
    }
    sig.select(col("__id"), explode(array(bandCols: _*)).as("__bkey"))
  }

  /**
   * Candidate pairs are generated ONLY inside a shared band bucket — the
   * self-join is on the bucket key, so at scale it is one shuffle on a
   * short key, never a cross join.
   */
  def lshCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numPerm: Int = 64,
      bands: Int = 16,
      n: Int = 3): DataFrame = {
    val exploded = bandBuckets(docs, idCol, textCol, numPerm, bands, n)
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.__bkey") === col("b.__bkey") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
  }

  /**
   * Near-duplicate pairs, 100 TB shape: exact-duplicate collapse, then
   * MinHash-LSH candidates over the distinct shingle sets, then exact
   * shingle-Jaccard verification restricted to the candidate pairs, then
   * join-based expansion back to member ids.
   *
   * The collapse is the LSH path's skew guard: documents with identical
   * shingle sets share EVERY band bucket, so a boilerplate document
   * repeated K times would otherwise contribute K² candidate pairs to all
   * `bands` buckets it lands in — the hot-key blowup that kills banded
   * self-joins at corpus scale (K can be millions). Grouping by a
   * fingerprint of the *shingle set* (not the raw text) makes the collapse
   * exact: members of a group have identical MinHash signatures and
   * identical Jaccard against every other document, and intra-group
   * Jaccard is 1 (shingle sets are never empty — short docs contribute
   * their whole text as one shingle), so expansion is pure join algebra:
   * all intra-group pairs plus the member cross products of every
   * verified representative pair. The output is exactly the un-collapsed
   * answer; only the candidate join sees the collapsed corpus.
   *
   * Scale shape (measured): wall time grows t^0.15-0.28 over a 10× corpus
   * and every shuffle in the plan carries work LINEAR in the corpus —
   * band buckets, candidate shingles, the verify self-join's hash stream,
   * the expansion joins' 8/16-byte keyed rows. A two-point shuffle-BYTES
   * exponent can still read ≫ 1 across the broadcast threshold: at small
   * corpus size the sizes/fingerprint/expansion join sides sit under
   * spark.sql.autoBroadcastJoinThreshold and contribute ZERO shuffle
   * bytes; once they cross it their (linear) streams shuffle. Round-12
   * probe, broadcast disabled at both points: 6.9 MB → 66.7 MB at 10×,
   * exponent 0.985 (d_cluster_cc 0.982) — and the f10 bytes equal the
   * broadcast-enabled run's exactly, so the r11 "1.54 exponent" was the
   * one-time plan transition, not superlinear work. Same mechanism as
   * DSIR's documented transition (Importance.scala:23-36).
   */
  /**
   * @param eager materialize the pair list once (persisted) and RELEASE
   *   the corpus-sized member/rep caches before returning — for a single
   *   bounded-corpus call whose result is consumed repeatedly, where the
   *   lazy default would leak those caches for the SparkContext's
   *   lifetime. Leave false at scale: the answer is quadratic in
   *   duplication by definition (a K-copy document owns K²/2 intra
   *   pairs), and the lazy plan lets a consumer STREAM through it (count,
   *   aggregate, write) without a block-store copy; the cost is that the
   *   internal caches stay resident until the session ends or the caller
   *   clears them.
   * @param scope when non-null, overrides `eager`: the internal caches
   *   register with the [[CacheScope]] and stay persisted, so REPEATED
   *   calls over the same corpus (waves, pairs-then-clusters pipelines)
   *   reuse them via plan-equal cache hits, and the caller releases them
   *   all at once when the corpus is done. The result stays lazy.
   */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      numPerm: Int = 64,
      bands: Int = 16,
      n: Int = 3,
      eager: Boolean = false,
      scope: CacheScope = null): DataFrame = {
    require(minJaccard <= 1.0, "intra-group pairs have Jaccard exactly 1")
    requireIntegralId(docs, idCol, "nearDupPairs")
    val (members, reps) = collapseByShingleSet(docs, idCol, textCol, n)
    val innerCaches = scala.collection.mutable.Buffer.empty[DataFrame]
    val repPairs0 = nearDupPairsDistinct(
      reps.select(col("__rid").as(idCol), col("__rtext").as(textCol)),
      idCol, textCol, minJaccard, numPerm, bands, n, innerCaches)
    // Scoped calls persist the VERIFIED rep-level pair list too: it is the
    // smallest frame in the pipeline (pairs, not corpus), yet recomputing
    // it replays the whole candidate-verification join chain — the
    // dominant per-call cost once the collapse/LSH caches are warm. A
    // sibling consumer (clusters after pairs, repeated waves) then reads
    // the cached pairs instead of re-verifying.
    val repPairs =
      if (scope == null) repPairs0
      else {
        val p = repPairs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        innerCaches += p
        p
      }
    val intra = members.as("a").join(members.as("b"),
        col("a.__fp") === col("b.__fp") && col("a.__mid") < col("b.__mid"))
      .select(col("a.__mid").as("id_a"), col("b.__mid").as("id_b"))
    val repFp = reps.select("__rid", "__fp")
    val cross = repPairs
      .join(repFp.select(col("__rid").as("id_a"), col("__fp").as("__fpa")), "id_a")
      .join(repFp.select(col("__rid").as("id_b"), col("__fp").as("__fpb")), "id_b")
      .join(members.select(col("__mid").as("__xa"), col("__fp").as("__fpa")), "__fpa")
      .join(members.select(col("__mid").as("__xb"), col("__fp").as("__fpb")), "__fpb")
      .select(least(col("__xa"), col("__xb")).as("id_a"),
        greatest(col("__xa"), col("__xb")).as("id_b"))
    // Intra pairs share a fingerprint, cross pairs span two — disjoint by
    // construction, no distinct needed.
    val out = intra.unionByName(cross)
    val inner = Seq(members, reps) ++ innerCaches
    if (scope != null) { scope.track(inner); out }
    else if (eager) materializedWith(out, inner: _*)
    else out
  }

  /**
   * 64-bit fingerprint of a document's distinct shingle-hash SET — the
   * collapse key for [[nearDupPairs]]. Fingerprinting the set (not the raw
   * or normalized text) is what makes the collapse exact: tokenization
   * differences that don't change the shingle set (leading whitespace,
   * internal whitespace runs) land in the same group, and equal sets imply
   * equal MinHash signatures and equal Jaccard against everything else.
   */
  private[graft] def shingleSetFp(text: Column, n: Int = 3): Column =
    xxhash64(array_sort(array_distinct(
      graft.plans.ShingleHashesExpr.shingleHashes(tokens(text), n))))

  /**
   * The exact-duplicate collapse: (members, reps), both persisted.
   * `members` is the narrow (__mid, __fp) membership (16 bytes/row
   * regardless of text width); `reps` keeps one representative (min id,
   * min_by keeps the text choice deterministic — any member's text would
   * do, identical sets shingle identically) per distinct shingle set.
   * Partial aggregation means only one text per set per partition reaches
   * the reps shuffle: the wire volume IS the collapsed corpus.
   */
  private def collapseByShingleSet(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): (DataFrame, DataFrame) = {
    // NULL text is excluded up front: tokens(null) is a null array, and
    // xxhash64 of a null array is the (non-null) seed constant — so every
    // null-text doc would share one fingerprint and the intra-group
    // expansion would emit pairs between them, where the un-collapsed LSH
    // path and exactJaccardPairs emit none (null shingles join nothing).
    // Filtering keeps the "exactly the un-collapsed answer" contract.
    val nonNull = docs.filter(col(textCol).isNotNull)
    val setFp = shingleSetFp(col(textCol), n)
    val members = nonNull.select(col(idCol).cast("long").as("__mid"), setFp.as("__fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Representatives by JOIN-BACK on the min id per fingerprint (r19), not
    // a second full-corpus `min_by(text)` aggregate: the min-id member's
    // text IS the min_by choice, and the per-fp min ids come from the
    // (cached) narrow members frame — so the reps build re-tokenizes and
    // re-hashes NOTHING. The pre-r19 shape computed shingleSetFp over the
    // whole corpus twice (members projection + reps aggregate), and the
    // set-fingerprint pass (tokenize → shingle-hash → sort → xxhash64) is
    // the single most expensive map-side expression in the pipeline. Wire
    // cost is not worse at scale: the rep-id side is 16-byte rows (it
    // broadcasts while it fits), and where it does not, the text join
    // shuffles one text per doc — the same corpus-text volume the old
    // aggregate's partial-collapsed exchange carried at low duplication.
    val repIds = members.groupBy("__fp").agg(min("__mid").as("__rid"))
    val reps = nonNull.select(col(idCol).cast("long").as("__rid"),
        col(textCol).as("__rtext"))
      .join(repIds, Seq("__rid"))
      .select(col("__fp"), col("__rid"), col("__rtext"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (members, reps)
  }

  /**
   * Near-duplicate CLUSTER labels without ever materializing the expanded
   * pair list — the consumer-side half of the skew guard. [[nearDupPairs]]
   * provably returns the un-collapsed pair answer, but that answer is
   * itself quadratic in duplication (a 10M-copy document owns ~5·10¹³
   * intra pairs): any pipeline that only needs per-document cluster labels
   * must not route through it at scale. Here connected components run on
   * the REPRESENTATIVE graph only, and members inherit their rep's label
   * by join. Exact-duplicate groups are cliques hanging off their rep, so
   * the component structure is identical to CC over the expanded pairs,
   * and the canonical (minimum) id of a component equals the minimum rep
   * id — reps are their group minima — making the labels equal row-for-row
   * to `Cluster.clusterDocs(docs, nearDupPairs(docs, ...))`.
   */
  /** @param scope see [[nearDupPairs]] — non-null keeps the collapse/LSH
    *   caches alive (and registered) for reuse by sibling calls over the
    *   same corpus; the labels frame is returned lazy instead of
    *   materialized. */
  def nearDupClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      numPerm: Int = 64,
      bands: Int = 16,
      n: Int = 3,
      scope: CacheScope = null): DataFrame = {
    require(minJaccard <= 1.0, "intra-group members share their rep's cluster")
    requireIntegralId(docs, idCol, "nearDupClusters")
    val (members, reps) = collapseByShingleSet(docs, idCol, textCol, n)
    val innerCaches = scala.collection.mutable.Buffer.empty[DataFrame]
    val repPairs0 = nearDupPairsDistinct(
      reps.select(col("__rid").as(idCol), col("__rtext").as(textCol)),
      idCol, textCol, minJaccard, numPerm, bands, n, innerCaches)
    // Same scoped rep-pair persistence as [[nearDupPairs]] — and because
    // the two entries build PLAN-EQUAL rep pairs over one corpus, a
    // pairs-then-clusters pipeline verifies once, not twice.
    val repPairs =
      if (scope == null) repPairs0
      else {
        val p = repPairs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        innerCaches += p
        p
      }
    val repCC = graft.ops.Cluster.clusterDocs(
      reps.select(col("__rid").as(idCol)), idCol, repPairs)
      .select(col(idCol).as("__rid"), col("cluster_id"))
    val labeled = members
      .join(reps.select("__rid", "__fp"), "__fp")
      .join(repCC, "__rid")
      .select(col("__mid").as(idCol), col("cluster_id"))
    // Null-text docs are excluded from the collapse (see
    // collapseByShingleSet) but clusterDocs labels EVERY input doc — they
    // participate in no pair, so each is its own singleton cluster.
    val nullSingletons = docs.filter(col(textCol).isNull)
      .select(col(idCol).cast("long").as(idCol),
        col(idCol).cast("long").as("cluster_id"))
    val result = labeled.unionByName(nullSingletons)
    val inner = Seq(members, reps) ++ innerCaches
    if (scope != null) { scope.track(inner); result }
    else materializedWith(result, inner: _*)
  }

  /**
   * The candidate-generation + verification pipeline, assuming all input
   * documents have DISTINCT shingle sets (callers go through
   * [[nearDupPairs]], which collapses duplicates first).
   */
  /** `caches` collects the internal persisted frames (candidates,
    * candidate shingles) so an eager caller can release them after
    * materializing its result — without it they survive the session. */
  private def nearDupPairsDistinct(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      numPerm: Int,
      bands: Int,
      n: Int,
      caches: scala.collection.mutable.Buffer[DataFrame]): DataFrame = {
    // The exploded (id, bandKey) frame is BOTH sides of the candidate
    // self-join, and Catalyst evaluates the two differently-aliased
    // subtrees independently — unpersisted, the broadcast build side
    // replayed the whole tokenize + MinHash-signature pipeline a second
    // time (the r19 cold-wave profile billed 8.5 s of its 16 s task time
    // to that duplicate broadcast build). The frame is 16 bytes × bands
    // per document — narrow at any corpus scale, the same order as the
    // (already persisted) members frame — so persist it for the join and
    // let the caller's release drop it.
    val exploded = bandBuckets(docs, idCol, textCol, numPerm, bands, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    caches += exploded
    // The candidate set is referenced THREE times below (both branches of
    // the candidate-doc union, the final candidate-pair join), and Catalyst
    // does not reuse the exchange across those differently-aliased
    // subtrees — unpersisted, every reference replays the whole
    // minhash+explode+self-join pipeline (a 10×-corpus probe measured the
    // band-bucket shuffle executing ~12× per call, ~5× the bytes). The
    // pairs are a tiny fraction of the corpus at any scale, so persist and
    // materialize them ONCE, eagerly; the `caches` buffer is how an eager
    // caller releases the entry afterwards (Dataset caches are held by the
    // session's CacheManager — nothing GCs them implicitly).
    val cands = exploded.as("a")
      .join(exploded.as("b"),
        col("a.__bkey") === col("b.__bkey") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    caches += cands
    cands.count()
    // Only documents that appear in some candidate pair enter the exact
    // verification — at scale this is a tiny fraction of the corpus, so
    // SHINGLE ONLY THOSE: the candidate-id semi join runs against the raw
    // docs BEFORE shingling. (Shingling first and filtering after re-hashed
    // the entire corpus a second time — the LSH pass already did it once —
    // purely to discard the non-candidates' shingles.)
    val candDocs = cands.select(col("id_a").as("__id"))
      .union(cands.select(col("id_b").as("__id"))).distinct()
    val docsC = docs.join(candDocs.withColumnRenamed("__id", idCol),
      Seq(idCol), "left_semi")
    // Per-pair verification by ARRAY intersection (r19), not a shingle-
    // level self-join: each candidate doc's distinct shingle-hash SET is
    // one map-side array (no explode, no distinct shuffle), each pair
    // joins its two arrays and intersects them in place. The pre-r19
    // shape exploded candidate shingles and self-joined on the hash —
    // a shingle shared by df candidate docs fanned df² intermediate rows
    // plus a (id_a, id_b) re-aggregation, and the r19 cold-wave profile
    // billed ~7 s of a 16 s wave to that subtree. |A∩B| via
    // array_intersect over distinct arrays is the same count; sizes come
    // from the same arrays, so the sizes aggregate and its two join-backs
    // disappear as well. The array frame is candidate-docs-sized (the
    // same bound dtC had) and is persisted for its two join references.
    val shArr = docsC.select(col(idCol).cast("long").as("__id"),
        array_distinct(graft.plans.ShingleHashesExpr.shingleHashes(
          tokens(col(textCol)), n)).as("__shs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    caches += shArr
    cands
      .join(shArr.select(col("__id").as("id_a"), col("__shs").as("__sa")), "id_a")
      .join(shArr.select(col("__id").as("id_b"), col("__shs").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("__c"),
        size(col("__sa")).cast("long").as("__na"),
        size(col("__sb")).cast("long").as("__nb"))
      .withColumn("jaccard",
        col("__c").cast("double") / (col("__na") + col("__nb") - col("__c")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b")
  }

  // -------------------------------------------------- incremental dedup

  /**
   * Persist the corpus's dedup state so NEW batches can be checked without
   * re-touching corpus text — how dedup actually runs at 100 TB (the corpus
   * is deduped once; every ingest batch after that is incremental):
   *
   *  - `<name>`: (doc_id, bkey) LSH band buckets, bucketed by bkey — a new
   *    doc's candidates come from a join on this narrow table;
   *  - `<name>__shingles`: (doc_id, sh) hashed shingle sets, bucketed by
   *    doc_id — exact-verification reads only the candidate docs' rows.
   *
   * Both are snapshot tables: corpus growth appends new docs' rows.
   *
   * Build the state on the EXACT-DEDUPED corpus ([[exactDedup]], or the
   * [[shingleSetFp]] representatives): the state tables store one row per
   * (doc, bucket) / (doc, shingle), so a K-copy duplicate group inflates
   * both tables K-fold and hands every future batch K identical candidate
   * rows per probe where one would do — the persisted analog of the skew
   * [[nearDupPairs]] collapses away. A batch hit against a representative
   * expands to the group's members via [[exactDupGroups]] when member-level
   * pairs are needed.
   */
  def persistDedupState(
      catalog: graft.catalog.GraftCatalog,
      name: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numPerm: Int = 64,
      bands: Int = 16,
      n: Int = 3,
      numBuckets: Int = 64,
      overwrite: Boolean = false): (graft.table.GraftTable, graft.table.GraftTable) = {
    val bt = catalog.materialized(name, overwrite)
    bt.overwriteBucketed(
      bandBuckets(docs, idCol, textCol, numPerm, bands, n)
        .toDF("doc_id", "bkey"), "bkey", numBuckets)
    val st = catalog.materialized(s"${name}__shingles", overwrite)
    st.overwriteBucketed(
      hashShingleSets(docs, idCol, textCol, n).toDF("doc_id", "sh"),
      "doc_id", numBuckets)
    (bt, st)
  }

  /**
   * Near-dup pairs between a NEW batch and the persisted corpus state:
   * batch band buckets join the persisted bucket table (narrow longs only),
   * then exact Jaccard verification over the batch's shingles (computed on
   * the fly) and the candidates' shingles (fetched from the persisted set —
   * a semi join that touches only candidate rows). Output
   * `(id_a = batch id, id_b = corpus id)`.
   */
  def dedupIncremental(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      buckets: graft.table.GraftTable,
      shingles: graft.table.GraftTable,
      minJaccard: Double,
      numPerm: Int = 64,
      bands: Int = 16,
      n: Int = 3): DataFrame = {
    val bb = bandBuckets(batch, idCol, textCol, numPerm, bands, n)
    val cand = bb
      .join(buckets.read().withColumnRenamed("bkey", "__bkey"), "__bkey")
      .select(col("__id").as("id_a"), col("doc_id").as("id_b"))
      .distinct()
    // Restrict BOTH shingle sides to candidate docs before the intersection
    // join — in the normal incremental case most batch docs have no LSH
    // candidate and must not shuffle their shingles at all.
    val newSh = hashShingleSets(batch, idCol, textCol, n)
      .join(cand.select(col("id_a").as("__id")).distinct(), Seq("__id"), "left_semi")
    val oldSh = shingles.read()
      .join(cand.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
    val sizesNew = newSh.groupBy("__id").agg(count(lit(1)).as("__na"))
    val sizesOld = oldSh.groupBy("doc_id").agg(count(lit(1)).as("__nb"))
    val inter = newSh.join(oldSh, col("__sh") === col("sh"))
      .groupBy(col("__id").as("id_a"), col("doc_id").as("id_b"))
      .agg(count(lit(1)).as("__c"))
    cand.join(inter, Seq("id_a", "id_b")) // LSH-candidate pairs only
      .join(sizesNew.withColumnRenamed("__id", "id_a"), "id_a")
      .join(sizesOld.withColumnRenamed("doc_id", "id_b"), "id_b")
      .filter(col("__c").cast("double") / (col("__na") + col("__nb") - col("__c")) >= minJaccard)
      .select("id_a", "id_b")
  }

  /**
   * Serving-path incremental check for a HANDFUL of documents (an ingest
   * API validating one upload, not a batch job): same answer as
   * [[dedupIncremental]], but the persisted state is read via BUCKET-PRUNED
   * point lookups — the docs' ≤ `bands` band keys prune the bucket table to
   * their buckets, and only the candidates' ids prune the shingle table.
   * Total data read is proportional to the candidates, not the corpus.
   */
  def checkDocs(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      buckets: graft.table.GraftTable,
      shingles: graft.table.GraftTable,
      minJaccard: Double,
      numPerm: Int = 64,
      bands: Int = 16,
      n: Int = 3): DataFrame = {
    val bb = bandBuckets(batch, idCol, textCol, numPerm, bands, n)
      .localCheckpoint() // tiny by contract; reused for keys + join
    val bkeys = bb.select("__bkey").distinct().collect().map(_.getLong(0)).toSeq
    val cand = bb.join(buckets.lookupKeys(bkeys).withColumnRenamed("bkey", "__bkey"), "__bkey")
      .select(col("__id").as("id_a"), col("doc_id").as("id_b"))
      .distinct()
      .localCheckpoint()
    val candIds = cand.select("id_b").distinct().collect().map(_.getLong(0)).toSeq
    if (candIds.isEmpty) return cand
    val newSh = hashShingleSets(batch, idCol, textCol, n)
    val oldSh = shingles.lookupKeys(candIds)
    val sizesNew = newSh.groupBy("__id").agg(count(lit(1)).as("__na"))
    val sizesOld = oldSh.groupBy("doc_id").agg(count(lit(1)).as("__nb"))
    val inter = newSh.join(oldSh, col("__sh") === col("sh"))
      .groupBy(col("__id").as("id_a"), col("doc_id").as("id_b"))
      .agg(count(lit(1)).as("__c"))
    cand.join(inter, Seq("id_a", "id_b"))
      .join(sizesNew.withColumnRenamed("__id", "id_a"), "id_a")
      .join(sizesOld.withColumnRenamed("doc_id", "id_b"), "id_b")
      .filter(col("__c").cast("double") / (col("__na") + col("__nb") - col("__c")) >= minJaccard)
      .select("id_a", "id_b")
  }

  // ------------------------------------------------- Bloom membership

  /**
   * Bloom filter over the corpus's exact-dedup fingerprints
   * (xxhash64 of normalized text) — the approximate fast-path in front of
   * [[dedupIncremental]]: probing the sketch is a map-side operation with
   * no join at all, so an ingest batch can be triaged against a 100 TB
   * corpus at memory-sketch cost. Bloom semantics give the useful one-sided
   * guarantee: NO false negatives (a true duplicate is always flagged), a
   * bounded false-positive rate `fpp` (a flagged doc may still be novel —
   * route flagged docs to the exact path to confirm).
   *
   * The sketch is built by Spark's distributed `stat.bloomFilter`
   * aggregation (partial sketches merged on the driver). `expectedItems`
   * sizes the bit array; pass the corpus row count (from table stats at
   * scale — counting here would bill an extra job to every build).
   */
  def corpusBloom(
      corpus: DataFrame,
      textCol: String,
      expectedItems: Long,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    require(expectedItems > 0 && fpp > 0.0 && fpp < 1.0)
    // On an EMPTY corpus the aggregate yields null and Spark's wrapper
    // NPEs deserializing it (BloomFilter.readFrom(null)) — which would let
    // a fresh table kill the build. Detect that case DIRECTLY (a limit-1
    // existence probe, cheap at any scale) and substitute a genuinely
    // empty filter — it flags nothing, the correct membership answer for
    // an empty corpus. An actual NPE elsewhere in the corpus lineage now
    // propagates instead of silently yielding a flag-nothing sketch.
    val fps = corpus.select(xxhash64(normalize(col(textCol))).as("__fp"))
    if (fps.isEmpty)
      org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp)
    else fps.stat.bloomFilter("__fp", expectedItems, fpp)
  }

  /**
   * Flag each batch document whose normalized-text fingerprint the corpus
   * sketch might contain (`maybe_dup`). The filter ships via an EXPLICIT
   * torrent broadcast — a corpus-sized sketch is hundreds of MB (100M
   * items at 1% fpp ≈ 120 MB), which closure capture would re-deserialize
   * per task instead of once per executor. The probe itself has no
   * Catalyst builtin, so this is the one deliberate UDF in the dedup
   * path — a two-hash bit probe per row on a primitive long, far below the
   * codegen-vs-UDF margin that matters for text-sized inputs.
   */
  def bloomFlag(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val bc = batch.sparkSession.sparkContext.broadcast(bloom)
    val might = udf((fp: Long) => bc.value.mightContainLong(fp))
    batch.withColumn("maybe_dup", might(xxhash64(normalize(col(textCol)))))
  }

  // -------------------------------------------------------------- SimHash

  /**
   * 64-bit SimHash fingerprint over the distinct word-n-gram shingle-hash
   * set — the codegen'd [[graft.plans.SimHashExpr]] (shingles, not unigram
   * tokens, keep the fingerprint discriminative on corpora with a small
   * shared vocabulary). Computed map-side, one pass per document.
   */
  def simhash(text: Column, n: Int = 3): Column =
    graft.plans.SimHashExpr.simhash(tokens(text), n)

  /**
   * SimHash near-dup candidates with Hamming distance <= maxDist, banded by
   * 8-bit chunks (pigeonhole: any pair within distance 7 shares at least
   * one of 8 chunks — bucket join on chunk value, never all-pairs; recall
   * above distance 7 is probabilistic but high, since flipped bits must
   * spread across every chunk to evade all eight).
   */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String, maxDist: Int = 12): DataFrame = {
    val fp = docs.select(col(idCol).as("__id"), simhash(col(textCol)).as("__fp"))
    val chunks = fp.select(col("__id"), col("__fp"),
      explode(array((0 until 8).map(i =>
        struct(lit(i).as("chunk"),
          shiftright(col("__fp"), i * 8).bitwiseAND(0xFFL).as("val"))): _*)).as("__c"))
      .select(col("__id"), col("__fp"), col("__c.chunk").as("__chunk"), col("__c.val").as("__val"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.__chunk") === col("b.__chunk") && col("a.__val") === col("b.__val") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        bit_count(col("a.__fp").bitwiseXOR(col("b.__fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ---------------------------------------------- duplicate n-gram spans

  /**
   * Every n-token window of every document as (id, window index, 64-bit
   * window hash, doc token count). Documents shorter than `n` tokens
   * contribute ONE window (the whole token stream) at index 0 — the same
   * fallback the shingle family uses, so a short document duplicated
   * verbatim is still detectable.
   */
  private[ops] def windowHashes(
      docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // Token count and hash array are projected BEFORE the explode: with a
    // single select, Spark plans the non-generator expressions ABOVE the
    // Generate and re-tokenizes the text once per WINDOW row instead of
    // once per document — measured 4.3s vs 0.7s for one sf0.1 corpus pass.
    docs.select(col(idCol).as("__id"),
        size(tokens(col(textCol))).cast("long").as("__nt"),
        graft.plans.ShingleHashesExpr.shingleHashes(
          tokens(col(textCol)), n).as("__hs"))
      .select(col("__id"), col("__nt"),
        posexplode(col("__hs")).as(Seq("__pos", "__h")))

  /** Merge flagged windows (id, pos, end) into maximal spans per document:
    * classic gaps-and-islands over the window start positions — a new
    * island starts where a window begins past the running max end of
    * everything before it. Two window passes plus one aggregation, all
    * partitioned by document id; only the flagged subset shuffles. */
  private[ops] def mergeSpans(flagged: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("__id").orderBy("__pos")
    val runEnd = max(col("__end"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("__brk",
        when(col("__pos") > coalesce(runEnd, lit(-1L)), lit(1L)).otherwise(lit(0L)))
      .withColumn("__island", sum(col("__brk")).over(byDoc))
      .groupBy(col("__id"), col("__island"))
      .agg(min(col("__pos")).as("span_start"), max(col("__end")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("__id").as(idCol), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /**
   * Cross-document duplicate n-gram span detection — substring-granularity
   * exact dedup in the style of "Deduplicating Training Data Makes Language
   * Models Better" (Lee et al., ACL 2022), at token-window resolution:
   * every `n`-token window is hashed ([[graft.plans.ShingleHashesExpr]],
   * one codegen'd pass per document); a window is DUPLICATED when its hash
   * occurs in at least `minDocs` distinct documents; per document,
   * overlapping duplicated windows merge into maximal half-open spans
   * `[span_start, span_end)` in token coordinates.
   *
   * Returns one row per merged span: (id, span_start, span_end, n_windows).
   *
   * Scale shape: the documents themselves never shuffle, and with no
   * per-hash sort anywhere a boilerplate n-gram present in every document
   * cannot pin one task (see [[flagWindows]]; `d_span_hot` in
   * `SCALE_r16.json` and `docs/scale_r18_local.json` measures it, from the
   * scale probe removed after `b5d25fe`). The document-frequency aggregation shuffles distinct
   * (hash, id) pairs — 16 bytes per window after map-side combining;
   * while the duplicated-hash stats broadcast, the full-width window rows
   * never enter an exchange at all. The span merge shuffles only the
   * FLAGGED windows (typically a small fraction of the corpus)
   * partitioned by document id. Window equality is 64-bit-hash equality,
   * exact modulo xxhash64 collisions — the same trade every hash-keyed
   * operator here makes.
   */
  def dupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Int = 2): DataFrame = {
    require(n > 0 && minDocs >= 2, "need n > 0 and minDocs >= 2")
    mergeSpans(flagWindows(docs, idCol, textCol, n, minDocs)
      .select(col("__id"), col("__pos"), col("__end")), idCol)
  }

  /** Windows annotated with their cross-document duplication. The per-hash
    * document frequency and keeper doc come from MAP-SIDE-PARTIAL
    * aggregations over distinct (hash, id) pairs — never from a window
    * function over `partitionBy(__h)`: a corpus-frequent boilerplate
    * n-gram would concentrate every one of its occurrences into a single
    * sort task (the exact hot-key shape [[nearDupPairs]] collapses), where
    * the hash-aggregate's partials spread them across input partitions.
    * The tiny surviving stats table (duplicated hashes only) then joins
    * back to the window stream — BROADCAST while it fits, so the
    * full-width window rows never shuffle at all; past broadcast range it
    * is an AQE-skew-split shuffle join. The price is one extra evaluation
    * of the window-extraction subtree (the stats branch is column-pruned
    * to (hash, id)) — map-side codegen CPU that parallelizes linearly,
    * the correct trade against any formulation that must move every
    * window row through an exchange keyed on the hash. Emits flagged
    * windows only: (__id, __pos, __end, __keep = min doc id of the hash
    * group). */
  private def flagWindows(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int): DataFrame = {
    val wh = windowHashes(docs, idCol, textCol, n)
    val stats = wh.select(col("__h"), col("__id")).distinct()
      .groupBy("__h")
      .agg(count(lit(1)).as("__df"), min(col("__id")).as("__keep"))
      .filter(col("__df") >= minDocs)
    wh.join(stats, Seq("__h"))
      .select(col("__id"), col("__pos").cast("long").as("__pos"),
        least(col("__pos") + n, col("__nt")).as("__end"), col("__keep"))
  }

  /**
   * Remove duplicated spans, keeping ONE copy corpus-wide: for each
   * duplicated window hash the document with the MINIMUM id keeps its
   * occurrences; every other document's occurrences are removed. Per
   * document the removal windows merge into maximal spans ([[dupSpans]]
   * algebra) and the surviving tokens are re-joined with single spaces —
   * so `clean_text` is the normalized (lowercased, whitespace-collapsed)
   * token stream minus removed spans, for EVERY document, span-stripped
   * or not.
   *
   * Returns (id, clean_text). The span subtraction is a map-side
   * higher-order filter against the document's own (joined) span list —
   * token text never shuffles; only spans (small) move to their documents.
   */
  def stripDupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Int = 2): DataFrame = {
    require(n > 0 && minDocs >= 2, "need n > 0 and minDocs >= 2")
    // Keeper = min id per duplicated hash ([[flagWindows]] annotates it):
    // that document's occurrences stay; removal set = flagged windows of
    // every OTHER document.
    val removal = flagWindows(docs, idCol, textCol, n, minDocs)
      .filter(!(col("__id") <=> col("__keep")))
      .select(col("__id"), col("__pos"), col("__end"))
    subtractSpans(docs, mergeSpans(removal, idCol), idCol, textCol)
  }

  /** Tokens outside the given spans, rejoined with single spaces — the
    * normalized clean text for EVERY document, span-stripped or not:
    * (id, clean_text). Spans (small) join to their documents; the
    * subtraction is a map-side indexed higher-order filter. */
  private[ops] def subtractSpans(
      docs: DataFrame, spans: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perDoc = spans.groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    docs.join(perDoc, Seq(idCol), "left").select(col(idCol),
      array_join(filter(tokens(col(textCol)), (t, i) =>
        !exists(coalesce(col("__spans"),
            array().cast("array<struct<span_start:bigint,span_end:bigint>>")),
          s => i.cast("long") >= s("span_start") && i.cast("long") < s("span_end"))),
        " ").as("clean_text"))
  }

  /**
   * Persist the corpus's window-hash set so NEW batches can be span-checked
   * without re-touching corpus text — the incremental form of [[dupSpans]],
   * how substring dedup runs on a growing corpus: the corpus is scanned
   * once; every ingest batch after that probes this table. One narrow
   * column (the 64-bit window hash, distinct), bucketed by hash so batch
   * probes join bucket-aligned. Growth = append the new docs' hashes
   * ([[appendSpanState]]).
   */
  def persistSpanState(
      catalog: graft.catalog.GraftCatalog,
      name: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      numBuckets: Int = 64,
      overwrite: Boolean = false): graft.table.GraftTable = {
    val t = catalog.materialized(name, overwrite)
    t.overwriteBucketed(
      windowHashes(docs, idCol, textCol, n).select(col("__h").as("wh")).distinct(),
      "wh", numBuckets)
    t
  }

  /** Append a new batch's window hashes to the persisted state (only
    * hashes the state does not already hold — the anti join keeps the
    * table one-row-per-hash so probe joins never fan out). */
  def appendSpanState(
      state: graft.table.GraftTable,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): Unit = {
    val fresh = windowHashes(docs, idCol, textCol, n)
      .select(col("__h").as("wh")).distinct()
      .join(state.read(), Seq("wh"), "left_anti")
    state.append(fresh)
    ()
  }

  /**
   * Duplicate spans of a NEW batch against the persisted corpus state:
   * batch windows whose hash exists in the state merge into maximal spans
   * ([[mergeSpans]] algebra) — `(id, span_start, span_end, n_windows)`.
   * Only the batch is tokenized; the state side contributes one narrow
   * long column. Within-batch duplication is NOT flagged here (run
   * [[dupSpans]] on the batch for that) — this is the corpus-membership
   * check an ingest pipeline applies per batch.
   */
  def dupSpansIncremental(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      state: graft.table.GraftTable,
      n: Int = 8): DataFrame = {
    val flagged = windowHashes(batch, idCol, textCol, n)
      .join(state.read().select(col("wh").as("__h")), Seq("__h"), "left_semi")
      .select(col("__id"), col("__pos").cast("long").as("__pos"),
        least(col("__pos") + n, col("__nt")).as("__end"))
    mergeSpans(flagged, idCol)
  }
}
