package freshbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SessionHygiene
import graft.engine.FreshReader
import graft.model.DataRequest
import graft.policy.ShelfLife
import graft.registry.FreshnessManager
import graft.score.{Scorer, ScorerContext}
import graft.sources.TxStore

/** `freshen-batch`: eight ShelfLife capsules (seven expression scorers, one
  * MLlib linear model) over a TxStore entity table, a row budget below
  * every capsule's stale count, `allowPartial=false`. One operation builds
  * the reader and calls `writeBackTx` against snapshot v0; the commit is
  * checked and then rolled back, so every operation scores and writes the
  * same rows. */
object FreshenBatch {
  val Capsules = 8
  val AsOf = 1700000000000L
  val Table = "t"

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val s = ctx.sizes
    val t = new EntityTable(ctx.opts.seed, s.batchEntities, Capsules, 0.5, AsOf)
    val path = ctx.dir("store")
    ctx.step("table generated")
    TxStore.init(t.frame(spark, 1), path, "entity_id", 16)
    ctx.step(f"store initialised (v0 data ${Store.bytes(Paths.get(path, "data")) / 1048576.0}%.2f MB)")
    LinearModelScorer.model = fitModel(ctx)
    ctx.step("model fit")
    val manager = new FreshnessManager(n => if (n == Table) Some(t.schema) else None)
    AffineScorers.classes.zipWithIndex.foreach { case (c, i) =>
      manager.storePolicy(Table, Affine.cell(i), c.getName, new ShelfLife(t.shelfLifeMs(i)))
    }
    manager.storePolicy(Table, Affine.cell(7), classOf[LinearModelScorer].getName,
      new ShelfLife(t.shelfLifeMs(7)))
    val view = TxStore.read(spark, path, Some(0))
    val request = DataRequest((0 until Capsules).map(Affine.cell))
    val expect = new BatchExpect(t, s.batchBudget)
    def reader() = FreshReader.builder(manager).withTable(Table, view).withAsOf(AsOf)
      .withBudgetRows(s.batchBudget.toLong).build()

    val txMb = collection.mutable.ArrayBuffer.empty[Double]
    val loop = Main.closedLoop(ctx, s.batchWarm, s.batchMinOps, Int.MaxValue) { i =>
      val t0 = System.nanoTime()
      val v = reader().writeBackTx(request, path)
      val ms = (System.nanoTime() - t0) / 1e6
      ctx.check(v == 1, s"writeBackTx committed v$v against base v0, expected v1")
      val written = Store.newDataDir(path)
      txMb += Store.bytes(written) / 1048576.0
      if (i == s.batchWarm) {
        val (buckets, files) = Store.newEntries(path, written)
        ctx.layer("sources.tx_buckets_rewritten", buckets.toDouble)
        ctx.layer("sources.tx_files_written", files.toDouble)
      }
      checkCommit(ctx, t, expect, TxStore.read(spark, path).collect(), i == s.batchWarm)
      Store.rollback(path, written)
      ms
    }
    ctx.layer("sources.tx_mb_written", Stats.median(txMb.toSeq))
    if (ctx.opts.trace) traceLayers(ctx, t, view, reader _, request)
    ctx.result(loop, t.n)
  }

  /** The MLlib model behind the g:c7 capsule: a least-squares fit on seeded
    * points scattered around 0.25·x7 + 0.5·x0 + 3. */
  private def fitModel(ctx: Ctx) = {
    val seed = ctx.opts.seed
    val rows = (0 until 2000).map { k =>
      val x7 = Mix.below(1000, seed, 31, k).toDouble
      val x0 = Mix.below(1000, seed, 32, k).toDouble
      (Vectors.dense(x7, x0), 0.25 * x7 + 0.5 * x0 + 3.0 + (Mix.unit(seed, 33, k) - 0.5))
    }
    val train = ctx.spark.createDataFrame(rows).toDF("features", "label")
    new LinearRegression().setSolver("normal").fit(train)
  }

  /** Compare one committed snapshot with the closed form; `stats` also
    * records the engine's counts from diffing the output against the input. */
  private def checkCommit(ctx: Ctx, t: EntityTable, e: BatchExpect, raw: Array[Row],
      stats: Boolean): Unit = {
    val rows =
      if (ctx.corrupt("dup-row")) raw :+ raw.head
      else if (ctx.corrupt("cell")) Corrupt.cell(raw, e)
      else raw
    val ids = rows.map(_.getLong(0))
    ctx.check(rows.length == t.n, s"snapshot has ${rows.length} rows, expected ${t.n}")
    ctx.check(ids.distinct.length == ids.length, "snapshot repeats an entity_id")
    ctx.check(ids.forall(id => id >= 0 && id < t.n), "snapshot has an unknown entity_id")
    val scoredPer = new Array[Int](Capsules)
    var scoredCells, passed, badCells, changedUntouched = 0
    for (r <- rows.distinctBy(_.getLong(0)) if r.getLong(0) >= 0 && r.getLong(0) < t.n) {
      val id = r.getLong(0).toInt
      var rowScored = 0
      for (c <- 0 until Capsules) {
        val got = CellCheck.read(r.getSeq[Row](1 + c))
        val want = e.cell(id, c)
        if (!CellCheck.same(got, want, tolerant = c == 7)) {
          badCells += 1
          if (!e.updated(id, c)) changedUntouched += 1
        }
        if (got.length == t.versions(id)(c).length + 1 && got.head.ts == AsOf) {
          scoredPer(c) += 1; scoredCells += 1; rowScored += 1
        }
      }
      if (rowScored == 0 && (0 until Capsules).exists(t.stale(id, _))) passed += 1
    }
    ctx.check(badCells == 0, s"$badCells cells differ from the expected table " +
      s"($changedUntouched of them should have been untouched)")
    scoredPer.zipWithIndex.foreach { case (k, c) =>
      ctx.check(k <= e.budget, s"capsule $c scored $k rows, over the budget ${e.budget}") }
    if (stats) {
      ctx.layer("engine.stale_cells", e.staleCells.toDouble)
      ctx.layer("engine.scored_cells", scoredCells.toDouble)
      ctx.layer("engine.passed_stale_rows", passed.toDouble)
      ctx.layer("engine.scored_ratio", scoredCells.toDouble / e.staleCells)
    }
  }

  /** Separately timed layers, each over the same reader and view. */
  private def traceLayers(ctx: Ctx, t: EntityTable, view: DataFrame,
      reader: () => FreshReader, request: DataRequest): Unit = {
    val tr = ctx.tracer
    val exch, joins = collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until ctx.sizes.layerPasses) {
      val r = reader()
      val df = tr.span("engine.freshenAll")(r.freshenAll(request))
      df.queryExecution.toRdd.count()
      exch += Plans.exchanges(df.queryExecution.executedPlan)
      joins += Plans.joins(df.queryExecution.executedPlan)
      for ((name, c, scorer) <- Seq(("score.expr", 0, new Affine0: Scorer),
          ("score.mllib", 7, new LinearModelScorer: Scorer))) {
        val stale = view.filter(!coalesce(
          new ShelfLife(t.shelfLifeMs(c)).isFresh(col(t.flat(c)), AsOf), lit(false)))
        val scored = scorer.score(scorer.dataRequest.select(stale), ScorerContext(AsOf, Map.empty))
        tr.span(name)(scored.write.format("noop").mode("overwrite").save())
      }
      SessionHygiene.releaseQueryState(ctx.spark)
    }
    ctx.layer("engine.construct_s", Stats.median(tr.ms("engine.freshenAll")) / 1e3)
    ctx.layer("engine.exchanges", Stats.median(exch.toSeq))
    ctx.layer("engine.joins", Stats.median(joins.toSeq))
    ctx.layer("score.expr_s", Stats.median(tr.ms("score.expr")) / 1e3)
    ctx.layer("score.mllib_s", Stats.median(tr.ms("score.mllib")) / 1e3)
  }
}

/** The expected outcome of one budgeted, non-partial freshen of an
  * [[EntityTable]], in plain Scala. Capsule c scores its `budget` smallest
  * stale ids; a row with any stale capsule left unscored takes no update;
  * every other scored cell gains one version (asOf, score) in front. */
final class BatchExpect(t: EntityTable, val budget: Int) {
  private val caps = FreshenBatch.Capsules
  private val scored: Array[java.util.BitSet] = Array.tabulate(caps) { c =>
    val b = new java.util.BitSet(t.n)
    (0 until t.n).iterator.filter(t.stale(_, c)).take(budget).foreach(b.set)
    b
  }
  private val blocked: java.util.BitSet = {
    val b = new java.util.BitSet(t.n)
    for (id <- 0 until t.n; c <- 0 until caps if t.stale(id, c) && !scored(c).get(id)) b.set(id)
    b
  }
  val staleCells: Long = (for (id <- 0 until t.n; c <- 0 until caps if t.stale(id, c)) yield 1L).sum

  def updated(id: Int, c: Int): Boolean = scored(c).get(id) && !blocked.get(id)

  def score(id: Int, c: Int): Double = {
    def newest(k: Int) = t.versions(id)(k).head.value
    if (c < 7) Affine.score(c, newest(c))
    else LinearModelScorer.predict(LinearModelScorer.inputs.map(cn => newest(cn.qualifier.get.drop(1).toInt)))
  }

  def cell(id: Int, c: Int): Array[Version] =
    if (updated(id, c)) Version(t.asOf, score(id, c)) +: t.versions(id)(c)
    else t.versions(id)(c)
}

/** Reading and comparing cell columns. */
object CellCheck {
  def read(s: Seq[Row]): Array[Version] =
    if (s == null) Array.empty
    else s.map(r => Version(r.getLong(0), if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toArray

  /** Equal versions; `tolerant` allows a 1e-9 relative difference in values
    * (the MLlib capsule's prediction is recomputed outside MLlib). */
  def same(a: Array[Version], b: Array[Version], tolerant: Boolean): Boolean =
    a.length == b.length && a.indices.forall { i =>
      a(i).ts == b(i).ts && (a(i).value == b(i).value ||
        (tolerant && math.abs(a(i).value - b(i).value) <= 1e-9 * math.max(1.0, math.abs(b(i).value))))
    }
}

/** Deliberate output corruptions for the negative tests. */
object Corrupt {
  /** Adds 1 to the newest value of one updated cell. */
  def cell(rows: Array[Row], e: BatchExpect): Array[Row] = {
    val i = rows.indexWhere(r => e.updated(r.getLong(0).toInt, 0))
    rows.updated(i, bump(rows(i), 1))
  }
  /** The row with the newest value of cell column `col` (1-based) plus 1. */
  def bump(r: Row, col: Int): Row = {
    val cells = r.getSeq[Row](col)
    val head = Row(cells.head.getLong(0), cells.head.getDouble(1) + 1.0)
    Row.fromSeq(r.toSeq.updated(col, head +: cells.tail))
  }
}

/** File-level reads of a TxStore's layout (`data/v<N>-<id>/__bucket=<b>/`,
  * `_manifests/v<N>.manifest`), for the write-back's footprint. */
object Store {
  private def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }
  /** The data dir the v1 commit wrote. */
  def newDataDir(path: String): Path = {
    val dirs = list(Paths.get(path, "data")).filter(_.getFileName.toString.startsWith("v1-"))
    require(dirs.length == 1, s"expected one v1 data dir, found ${dirs.length}")
    dirs.head
  }
  def bytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }
  /** (buckets, files) the v1 manifest points into `dir` for. */
  def newEntries(path: String, dir: Path): (Int, Int) = {
    val name = dir.getFileName.toString
    val entries = Files.readAllLines(Paths.get(path, "_manifests", "v000001.manifest")).asScala
      .map(_.split("\t")).filter(f => f.length >= 2 && f(0).forall(_.isDigit) && f(1).startsWith(name + "/"))
    (entries.map(_(0)).distinct.size, entries.size)
  }
  /** Drop the v1 commit so the next write-back bases on v0 again. */
  def rollback(path: String, dir: Path): Unit = {
    Files.delete(Paths.get(path, "_manifests", "v000001.manifest"))
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
