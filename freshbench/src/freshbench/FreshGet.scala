package freshbench

import org.apache.spark.sql.Row

import graft.engine.FreshReader
import graft.model.DataRequest
import graft.policy.ShelfLife
import graft.registry.FreshnessManager
import graft.sources.TxStore

/** `fresh-get`: point `FreshReader.get` calls on a TxStore entity table
  * with two ShelfLife capsules and no budget. Keys are a seeded
  * permutation of the table (no repeats); each cell is stale with
  * probability 1 - 1/√2, so about half the rows have a stale capsule. */
object FreshGet {
  val Capsules = 2
  val AsOf = 1700000000000L
  val Table = "t"
  val MaxVersions = 4

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val s = ctx.sizes
    val t = new EntityTable(ctx.opts.seed, s.getEntities, 8, 1.0 - math.sqrt(0.5), AsOf)
    val path = ctx.dir("store")
    ctx.step("table generated")
    TxStore.init(t.frame(spark, 1), path, "entity_id", 16)
    ctx.step("store initialised")
    val manager = new FreshnessManager(n => if (n == Table) Some(t.schema) else None)
    AffineScorers.classes.take(Capsules).zipWithIndex.foreach { case (c, i) =>
      manager.storePolicy(Table, Affine.cell(i), c.getName, new ShelfLife(t.shelfLifeMs(i)))
    }
    val reader = FreshReader.builder(manager).withTable(Table, TxStore.read(spark, path))
      .withAsOf(AsOf).build()
    val request = DataRequest((0 until t.cells).map(Affine.cell), MaxVersions)
    val keys = permutation(ctx.opts.seed, t.n)
    val maxOps = t.n - s.getWarm

    var constructMs, filesRead, staleCells, scoredCells = 0.0
    val loop = Main.closedLoop(ctx, s.getWarm, s.getMinOps, maxOps) { i =>
      val key = keys(i)
      val t0 = System.nanoTime()
      val df = reader.get(key.toLong, request)
      val t1 = System.nanoTime()
      val raw = df.collect()
      val ms = (System.nanoTime() - t0) / 1e6
      if (i >= s.getWarm) {
        constructMs += (t1 - t0) / 1e6
        if (ctx.opts.trace) filesRead += Plans.filesRead(df.queryExecution.executedPlan)
      }
      val rows =
        if (ctx.corrupt("dup-row") && i == s.getWarm) raw ++ raw
        else if (ctx.corrupt("cell") && i == s.getWarm) raw.map(Corrupt.bump(_, 1))
        else raw
      ctx.check(rows.length == 1, s"get($key) returned ${rows.length} rows")
      rows.headOption.foreach { r =>
        ctx.check(r.getLong(0) == key, s"get($key) returned entity ${r.getLong(0)}")
        for (c <- 0 until t.cells) {
          val got = CellCheck.read(r.getSeq[Row](1 + c))
          val fresh = c < Capsules && t.stale(key, c)
          val want = ((if (fresh) Seq(Version(AsOf, Affine.score(c, t.versions(key)(c).head.value)))
            else Nil) ++ t.versions(key)(c)).take(MaxVersions).toArray
          ctx.check(CellCheck.same(got, want, tolerant = false),
            s"get($key) cell ${t.flat(c)} differs from the expected freshened cell")
          if (i >= s.getWarm && c < Capsules) {
            if (t.stale(key, c)) staleCells += 1
            if (got.headOption.exists(_.ts == AsOf)) scoredCells += 1
          }
        }
      }
      ms
    }
    val n = loop.opsMs.length
    ctx.layer("engine.get_construct_ms", constructMs / n)
    ctx.layer("sources.get_files_read", filesRead / n)
    ctx.layer("engine.stale_cells", staleCells)
    ctx.layer("engine.scored_cells", scoredCells)
    ctx.layer("engine.scored_ratio", if (staleCells > 0) scoredCells / staleCells else 0.0)
    ctx.result(loop, 1)
  }

  /** Seeded Fisher-Yates permutation of 0 until n. */
  def permutation(seed: Long, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = Mix.below(i + 1, seed, 41, i).toInt
      val x = a(i); a(i) = a(j); a(j) = x
    }
    a
  }
}
