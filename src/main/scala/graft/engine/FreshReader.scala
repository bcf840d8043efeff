package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{Cells, ColumnName, DataRequest, EntityView}
import graft.policy.FreshnessPolicy
import graft.registry.{FreshnessManager, FreshnessRecord}
import graft.score.{ExprScorer, Scorer, ScorerContext}

/** Reader configuration — mirrors `FreshKijiTableReaderBuilder`'s knobs and
  * defaults (reference: `src/main/java/org/kiji/scoring/FreshKijiTableReaderBuilder.java:61-219`):
  * the per-read wall-clock timeout (default 100 ms, `:67`) is reinterpreted as
  * a deterministic scoring budget in rows (`None` = unbounded), and
  * `returnPartiallyFreshData` (default false, `:63`) as per-column vs per-row
  * merge atomicity. `asOf` is the injected clock — batch runs never read the
  * wall clock (SURVEY §7 hard parts).
  */
final case class FreshReaderConfig(
    asOf: Long,
    budgetRows: Option[Long] = None,
    allowPartial: Boolean = false)

/** A bound (policy, scorer, stores) triple for one attachment point — the
  * analogue of the reference's `FreshnessCapsule`
  * (reference: `impl/InternalFreshKijiTableReader.java:116-208,356-426`).
  * Immutable and memoized; no refcounting needed. */
final case class Capsule(
    attachment: ColumnName,
    record: FreshnessRecord,
    policy: FreshnessPolicy,
    scorer: Scorer,
    stores: Map[String, DataFrame])

/** One capsule's rows checked, stale, scored within the budget, and stale
  * over budget (passed through stale). */
final case class CapsuleReport(attachment: ColumnName, checked: Long, stale: Long,
    scored: Long, overBudget: Long)
/** Per-capsule counts, plus the rows allowPartial=false leaves unchanged. */
final case class FreshenReport(capsules: Seq[CapsuleReport], blockedRows: Long)

/** The batch freshening engine — the Spark-native `FreshKijiTableReader`
  * (reference: `src/main/java/org/kiji/scoring/impl/InternalFreshKijiTableReader.java:665-725`).
  *
  * The reference's per-read flow (read → per-column freshness check → score
  * stale → write back → reread) compiles to one set-oriented job:
  *
  * {{{
  * slice → per-attachment fresh predicate → stale ∖ budget scored via Scorer
  *       → newest-wins merge into the cell columns → result
  * }}}
  *
  * The thread-pool/timeout/OR-fold machinery of the reference
  * (`impl/InternalFreshKijiTableReader.java:624-661`) collapses: Spark task
  * parallelism replaces the pool, stage barriers give "all finished", and the
  * deterministic row budget reproduces the stale-fallback semantics
  * (`:703-724`) without wall clocks.
  *
  * Plan shape, for any number k of capsules: one projection of every stale
  * flag and of every [[graft.score.ExprScorer]]'s score; with a budget, one
  * bounded top-n of the stale ids per capsule folded into a one-row cutoff
  * frame, read as a scalar subquery; each other scorer over its rows, then
  * one wide union, one group by entity id and one join back. So the slice
  * is scanned once, once more with a budget, and once more per scorer that
  * is not an expression (or is attached to a whole map family). No job runs
  * while the frame is built. The top-n keeps n ids per capsule and map task
  * before its shuffle while n is at most
  * `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000); above
  * that, one task sorts all of a capsule's stale ids.
  */
final class FreshReader(
    val manager: FreshnessManager,
    val tableName: String,
    view: DataFrame,
    config: FreshReaderConfig,
    storeLoader: String => DataFrame = FreshReader.noStores) {
  import FreshReader._

  private val capsuleCache = mutable.LinkedHashMap.empty[String, Capsule]

  // ------------------------------------------------------------- capsules

  /** Map requested columns to attached capsules, qualified-column record
    * winning over family record, family capsules deduped so a family-level
    * freshener runs once per request even when several of its qualifiers are
    * named (reference: `impl/InternalFreshKijiTableReader.java:438-482`;
    * once-per-family pinned by `test/impl/TestInternalFreshKijiTableReader.java:529-559`). */
  def capsulesFor(request: DataRequest): Seq[Capsule] = {
    val points = request.columns.flatMap { cn =>
      val qualified = if (cn.isFullyQualified) manager.retrievePolicy(tableName, cn) else None
      qualified.orElse(manager.retrievePolicy(tableName, ColumnName(cn.family, None)))
    }.distinct
    points.map(r => capsuleCache.getOrElseUpdate(r.column.toString, makeCapsule(r)))
  }

  /** Reflective capsule construction + store merge, policy shadowing producer
    * (reference: `impl/InternalFreshKijiTableReader.java:319-345,367,374-379`). */
  private def makeCapsule(r: FreshnessRecord): Capsule = {
    val policy = FreshnessPolicy.load(r.policyClass, r.policyState)
    val scorer = Scorer.load(r.producerClass)
    val bindings = scorer.storeBindings ++ policy.storeBindings // policy wins
    Capsule(r.column, r, policy, scorer, bindings.map { case (n, src) => n -> storeLoader(src) })
  }

  /** Warm the capsule cache without scoring — `preload`
    * (reference: `impl/InternalFreshKijiTableReader.java:825-827`). */
  def preload(request: DataRequest): Unit = capsulesFor(request)

  /** Drop memoized capsules so the next request re-reads the registry —
    * `rereadPolicies` (reference: `impl/InternalFreshKijiTableReader.java:272-309`;
    * the automatic-reread timer becomes per-job snapshotting in batch). */
  def rereadPolicies(withPreload: Option[DataRequest] = None): Unit = {
    capsuleCache.clear()
    withPreload.foreach(preload)
  }

  // -------------------------------------------------------------- freshen

  /** Freshen an arbitrary slice of the table and project the request. */
  private def freshenSlice(slice: DataFrame, request: DataRequest): DataFrame = {
    val capsules = capsulesFor(request)
    if (capsules.isEmpty) request.select(slice) // no-policy fast path (:674-679)
    else request.select(freshenMerged(slice, capsules).drop(Merged))
  }

  /** The slice plus `stale(i)`/`scored(i)` per capsule and [[Blocked]], every
    * policy evaluated against the SAME base read (the reference's shared
    * client read, `impl/InternalFreshKijiTableReader.java:496-502`). A
    * policy with its own data request gets every column of it (R23,
    * `:588-617`). Capsule i scores its n smallest stale ids; the rest pass
    * through stale, like a timed-out read whose producer commits late
    * (:703-724). allowPartial=false (the reference default,
    * `FreshKijiTableReaderBuilder.java:63`) blocks every update on a row
    * with any stale capsule left unscored; the next run picks it up
    * (`test/impl/TestInternalFreshKijiTableReader.java:497-506`). */
  private def flagged(slice: DataFrame, capsules: Seq[Capsule]): DataFrame = {
    val ks = capsules.indices
    val flags = slice.select(col("*") +: ks.map { i =>
      val c = capsules(i)
      val fresh = c.policy.ownRequest match {
        case Some(req) if req.columns.nonEmpty => c.policy.isFreshCells(
          req.columns.map(cn => cn -> EntityView.resolveCell(slice.schema, cn)), config.asOf)
        case _ => c.policy.isFresh(EntityView.resolveCell(slice.schema, c.attachment), config.asOf)
      }
      (!coalesce(fresh, lit(false))).as(stale(i))
    }: _*)
    config.budgetRows match {
      case None => flags.select(col("*") +: ks.map(i => col(stale(i)).as(scored(i))) :+
        lit(false).as(Blocked): _*)
      case Some(n) =>
        val scoredP = ks.map(i => col(stale(i)) && coalesce(
          col(EntityView.EntityId) <= col("__cutoffs").getItem(i), lit(false)))
        flags.withColumn("__cutoffs", cutoffs(flags, ks.size, n).scalar())
          .select(flags.columns.toSeq.map(quoted) ++ ks.map(i => scoredP(i).as(scored(i))) :+
            (if (config.allowPartial) lit(false)
            else ks.map(i => col(stale(i)) && !scoredP(i)).reduce(_ || _)).as(Blocked): _*)
    }
  }

  /** One row, one array: capsule i's cutoff at index i, its n-th smallest
    * stale id (its largest when fewer are stale; NULL when none is or
    * n = 0). `row_number() <= n` per capsule over the tall (capsule,
    * entity_id) frame is one bounded top-n. Read as a scalar subquery: it
    * runs once per query, when the query runs, and every scorer's branch
    * reuses it. A cross join would put a join into each branch, and column
    * pruning would split k cutoff columns into a different fold per branch. */
  private def cutoffs(flags: DataFrame, k: Int, n: Long): DataFrame =
    flags.select(col(EntityView.EntityId), explode(array_compact(
        array((0 until k).map(i => when(col(stale(i)), lit(i))): _*))).as("__capsule"))
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("__capsule")).orderBy(col(EntityView.EntityId))))
      .filter(col("__rank") <= lit(math.min(n, Int.MaxValue.toLong).toInt))
      .agg(array((0 until k).map(i =>
        max(when(col("__capsule") === lit(i), col(EntityView.EntityId)))): _*).as("__cutoffs"))

  /** Every capsule's score as one column, NULL on the rows it does not
    * score. An [[ExprScorer]]'s score is one more column of the flag
    * projection: with the raw columns renamed aside, its request's windowed
    * columns take their request names, `scoreExpr` is evaluated over them on
    * the `scored(i)` rows, and the raw names come back. Any other scorer, and
    * a family-level map attachment, runs over its `scored(i)` rows; those
    * score frames union wide (one nullable column per capsule, so capsules
    * may differ in value type), group by entity id once and left-join onto
    * the flags once; with none of them, there is no union and no join.
    * Writes land on the ATTACHED column, newest first, overriding the
    * scorer's declared output (reference: `package-info.java:72-80`,
    * `impl/KijiFreshProducerContext.java:84-131`). Returns the slice's
    * columns (entity id first) plus [[Merged]]: the row took an update. */
  private def freshenMerged(slice: DataFrame, capsules: Seq[Capsule]): DataFrame = {
    val flags = flagged(slice, capsules)
    val ks = capsules.indices
    val isMap = capsules.map(c => EntityView.isMapFamily(slice.schema, c.attachment.family))
    ks.find(i => !isMap(i) && !capsules(i).attachment.isFullyQualified).foreach(i =>
      throw new IllegalStateException(s"Family-level attachment '${capsules(i).attachment}' " +
        "on a group-type family (validation should have rejected this)"))
    def ctx(i: Int) = ScorerContext(config.asOf, capsules(i).stores)
    val fused = ks.flatMap(i => capsules(i).scorer match {
      case e: ExprScorer if !isMap(i) || capsules(i).attachment.isFullyQualified => Some(i -> e)
      case _ => None
    }).toMap
    val withFused = ks.filter(fused.contains).foldLeft(flags) { (df, i) =>
      val v = fused(i).scoreExpr(ctx(i))
      // a fused map-family capsule is qualified: it pins its qualifier
      val s = if (isMap(i)) map(lit(capsules(i).attachment.qualifier.get), v)
        else struct(v.as("value"))
      val names = df.columns.toSeq
      df.select(names.map(n => quoted(n).as(aside(n))) ++
          fused(i).dataRequest.windowed(slice.schema): _*)
        .select(names.map(n => quoted(aside(n)).as(n)) :+
          when(quoted(aside(scored(i))), s).as(score(i)): _*)
    }
    val branched = ks.filterNot(fused.contains)
    val scores = if (branched.isEmpty) withFused else {
      val wide = branched.map { i =>
        val c = capsules(i)
        val rows = c.scorer.dataRequest.select(flags.filter(col(scored(i))))
        // map-family writes are (qualifier, value); a qualified attachment pins the qualifier
        val v = if (!isMap(i)) struct(col("value").as("value")) else struct(
          c.attachment.qualifier.fold(col("qualifier"))(lit(_)).as("qualifier"), col("value").as("value"))
        c.scorer.score(rows, ctx(i)).select(col(EntityView.EntityId), v.as(score(i)))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      val aggs = branched.map(i => (if (isMap(i)) map_from_entries(collect_list(col(score(i))))
        else first(col(score(i)), ignoreNulls = true)).as(score(i)))
      withFused.join(wide.groupBy(col(EntityView.EntityId)).agg(aggs.head, aggs.tail: _*),
        Seq(EntityView.EntityId), "left")
    }
    val lands = ks.map(i => !col(Blocked) &&
      (if (isMap(i)) coalesce(size(col(score(i))), lit(0)) > 0 else col(score(i)).isNotNull))
    // map families merge per qualifier with no duplicate key: existing
    // qualifiers keep their place, new ones follow in score order
    def write(i: Int, cell: Column): Column = if (!isMap(i))
      Cells.put(cell, lit(config.asOf), col(score(i)).getField("value"))
    else {
      val (old, sc) = (coalesce(cell, map()), col(score(i)))
      def put(q: Column, v: Column) = Cells.put(try_element_at(old, q), lit(config.asOf), v)
      map_concat(
        transform_values(old, (q, v) => when(map_contains_key(sc, q), put(q, sc(q))).otherwise(v)),
        transform_values(map_filter(sc, (q, _) => !map_contains_key(old, q)), put))
    }
    val target = ks.map(i => if (isMap(i)) capsules(i).attachment.family else capsules(i).attachment.flat)
    val written = ks.groupBy(target).map { case (name, is) =>
      name -> is.foldLeft(quoted(name))((cell, i) => when(lands(i), write(i, cell)).otherwise(cell))
    }
    scores.select(col(EntityView.EntityId) +: slice.columns.toSeq.filter(_ != EntityView.EntityId)
        .map(n => written.getOrElse(n, quoted(n)).as(n)) :+ lands.reduce(_ || _).as(Merged): _*)
  }

  // ------------------------------------------------------------ public API

  /** Fresh point get (reference R1: `impl/InternalFreshKijiTableReader.java:665-725`). */
  def get(entityId: Any, request: DataRequest): DataFrame =
    freshenSlice(view.filter(col(EntityView.EntityId) === lit(entityId)), request)

  /** Bulk fresh get over a key list (reference R3: `:777-806`) — the natural
    * Spark case: small key sets broadcast-semi-join the table. */
  def bulkGet(entityIds: Seq[Any], request: DataRequest): DataFrame =
    freshenSlice(view.filter(col(EntityView.EntityId).isin(entityIds: _*)), request)

  /** Bulk fresh get against a keys DataFrame (column `entity_id`). */
  def bulkGet(keys: DataFrame, request: DataRequest): DataFrame =
    freshenSlice(view.join(keys, Seq(EntityView.EntityId), "left_semi"), request)

  /** Freshen the whole table — the fresh scan the reference explicitly does
    * NOT support (`getScanner` throws, `:810-821`); in Spark the full scan is
    * the native path (SURVEY §2.1 R30 inverted). */
  def freshenTable(request: DataRequest): DataFrame = freshenSlice(view, request)

  /** Freshened full view (all columns) — for write-back jobs. */
  def freshenAll(request: DataRequest): DataFrame = {
    val capsules = capsulesFor(request)
    if (capsules.isEmpty) view else freshenMerged(view, capsules).drop(Merged)
  }

  /** What [[freshenAll]] would do, counted in one aggregation over the same
    * flags (one job, which the freshen paths never run) — the reference's
    * timed-out/partial read outcome (`:703-724`), visible in batch. */
  def freshenReport(request: DataRequest): FreshenReport = {
    val capsules = capsulesFor(request)
    if (capsules.isEmpty) return FreshenReport(Nil, 0L)
    val counts = count(lit(1)) +: capsules.indices.flatMap(i =>
      Seq(count_if(col(stale(i))), count_if(col(scored(i))))) :+ count_if(col(Blocked))
    val r = flagged(view, capsules).agg(counts.head, counts.tail: _*).head()
    FreshenReport(capsules.zipWithIndex.map { case (c, i) =>
      val (stale, scored) = (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i))
      CapsuleReport(c.attachment, r.getLong(0), stale, scored, stale - scored)
    }, r.getLong(counts.size - 1))
  }

  /** Write-back merge job (SURVEY §2.2 S2): freshen + overwrite. At 100 TB
    * this is a partition-scoped read-union-rewrite; with a transactional
    * table format it becomes a MERGE. `partitionBy` columns (e.g. a date or
    * entity-hash bucket) scope each rewrite to the partitions actually
    * touched and enable partition pruning on later scans. */
  def writeBack(request: DataRequest, outPath: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = freshenAll(request).write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(outPath)
  }

  /** Partition-scoped delta write-back — the batch MERGE (SURVEY §7 "keep
    * merges partition-scoped to stay 100 TB-viable"): rewrite ONLY the
    * partitions that contain a freshened entity, via dynamic partition
    * overwrite. Untouched partitions' files are left byte-for-byte as-is,
    * so the rewrite cost scales with the scored delta's partition
    * footprint, not the table size. `outPath` must already hold a full
    * [[writeBack]] bootstrap (only touched partitions are written here).
    * On a transactional format the same delta becomes a MERGE statement;
    * the freshen pipeline above is unchanged. */
  def writeBackDelta(request: DataRequest, outPath: String,
      partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "writeBackDelta requires partition columns")
    val capsules = capsulesFor(request)
    if (capsules.isEmpty) return // nothing attached → nothing stale → no-op
    val freshened = freshenMerged(view, capsules)
    val touched = freshened.filter(col(Merged)).select(partitionBy.map(col): _*).distinct()
    // every row of a touched partition must be written (dynamic overwrite
    // replaces whole partitions); an empty delta writes nothing and
    // replaces nothing
    freshened.join(broadcast(touched), partitionBy, "left_semi").drop(Merged)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(outPath)
  }

  /** Transactional delta write-back — [[writeBackDelta]] upgraded from
    * dynamic partition overwrite to a [[graft.sources.TxStore]] MERGE with
    * snapshot isolation: ONLY the freshened entities' rows go into the
    * upsert, only their buckets are rewritten, readers see the previous
    * snapshot until the commit lands atomically, and a concurrent commit
    * raises instead of silently interleaving (CAS on the snapshot version
    * the delta was computed against). `txPath` must hold an initialized
    * TxStore keyed by `entity_id` with this view's schema. Returns the
    * committed snapshot version (the pre-merge version when nothing was
    * stale). */
  def writeBackTx(request: DataRequest, txPath: String): Int = {
    import graft.sources.TxStore
    val base = TxStore.currentVersion(txPath)
    val capsules = capsulesFor(request)
    if (capsules.isEmpty) return base
    val delta = freshenMerged(view, capsules).filter(col(Merged)).drop(Merged)
    TxStore.merge(view.sparkSession, txPath, delta, EntityView.EntityId,
      expectedVersion = Some(base))
  }
}

object FreshReader {
  private def stale(i: Int) = s"__stale$i"
  private def scored(i: Int) = s"__scored$i"
  private def score(i: Int) = s"__score$i"
  private def aside(name: String) = s"__raw_$name"
  private val Blocked = "__blocked"
  private val Merged = "__merged"
  private def quoted(name: String) = col("`" + name.replace("`", "``") + "`")

  private def noStores(name: String): DataFrame =
    throw new IllegalArgumentException(s"No store loader configured (wanted '$name')")

  /** Builder with the reference's defaults (reference:
    * `FreshKijiTableReaderBuilder.java:62-69`; timeout 100 ms → default
    * budget unbounded since batch has no wall clock — callers set
    * `budgetRows` to model timeouts deterministically). */
  final case class Builder(
      manager: FreshnessManager,
      tableName: String = "",
      view: Option[DataFrame] = None,
      asOf: Long = 0L,
      budgetRows: Option[Long] = None,
      allowPartial: Boolean = false,
      storeLoader: Option[String => DataFrame] = None) {
    def withTable(name: String, v: DataFrame): Builder = copy(tableName = name, view = Some(v))
    def withAsOf(ts: Long): Builder = copy(asOf = ts)
    def withBudgetRows(n: Long): Builder = copy(budgetRows = Some(n))
    def returnPartiallyFreshData(b: Boolean): Builder = copy(allowPartial = b)
    def withStoreLoader(f: String => DataFrame): Builder = copy(storeLoader = Some(f))
    def build(): FreshReader = {
      require(view.isDefined, "withTable is required")
      new FreshReader(manager, tableName, view.get,
        FreshReaderConfig(asOf, budgetRows, allowPartial),
        storeLoader.getOrElse(noStores))
    }
  }
  def builder(manager: FreshnessManager): Builder = Builder(manager)
}
