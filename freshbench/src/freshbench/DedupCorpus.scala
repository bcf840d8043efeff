package freshbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SessionHygiene
import graft.llmops.Dedup

/** `dedup-corpus`: the q35 shape over a seeded corpus with planted
  * near-copies — `Dedup.jaccardPairs(n = 3, minJaccard = 0.8,
  * prefixFilter = true)` then `Dedup.connectedComponents`, collected. */
object DedupCorpus {
  val MinJaccard = 0.8

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val s = ctx.sizes
    val corpus = new Corpus(ctx.opts.seed, s.docs, s.vocab, copyShare = 0.3, maxSubs = 3)
    val path = ctx.dir("corpus")
    ctx.step("corpus generated")
    corpus.frame(spark, ctx.opts.cpus).write.parquet(path)
    val docs = spark.read.parquet(path)
    ctx.step("corpus written")
    val oracle = new DupOracle(corpus)
    ctx.step("oracle computed")
    // the negative test drops one edge whose removal splits a component
    val dropped: Option[(Long, Long)] =
      if (ctx.corrupt("drop-edge")) Some(oracle.bridge) else None
    def edges(): DataFrame = {
      val e = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = MinJaccard,
        prefixFilter = true)
      dropped.fold(e) { case (a, b) => e.filter(!(col("id_a") === a && col("id_b") === b)) }
    }
    def nodes = docs.select(col("doc_id").as("id"))

    val loop = Main.closedLoop(ctx, s.dedupWarm, s.dedupMinOps, Int.MaxValue) { _ =>
      val t0 = System.nanoTime()
      val rows = Dedup.connectedComponents(nodes, edges()).orderBy("id").collect()
      val ms = (System.nanoTime() - t0) / 1e6
      check(ctx, corpus, oracle, rows)
      ms
    }
    if (ctx.opts.trace) traceLayers(ctx, docs, nodes, edges _)
    ctx.result(loop, corpus.n)
  }

  private def check(ctx: Ctx, corpus: Corpus, oracle: DupOracle, rows: Array[Row]): Unit = {
    val got = rows.map(r => r.getLong(0) -> r.getLong(1))
    val byId = got.toMap
    ctx.check(got.length == corpus.n && byId.size == corpus.n && byId.keys.forall(id => id >= 0 && id < corpus.n),
      s"components cover ${byId.size} distinct ids in ${got.length} rows, expected ${corpus.n}")
    val wrong = (0 until corpus.n).count(i => !byId.get(i.toLong).contains(oracle.component(i).toLong))
    ctx.check(wrong == 0, s"$wrong documents carry a component other than the exact all-pairs one")
    val split = oracle.plantedAbove.count { case (c, src) => byId.get(c.toLong) != byId.get(src.toLong) }
    ctx.check(split == 0, s"$split planted near-copies with Jaccard >= $MinJaccard left their source's component")
  }

  /** Separately timed layers: the shingle index, the pairs and the
    * components over already-materialised pairs. */
  private def traceLayers(ctx: Ctx, docs: DataFrame, nodes: => DataFrame,
      edges: () => DataFrame): Unit = {
    val tr = ctx.tracer
    val probe = ctx.probe.get
    val edgeCounts, componentJobs = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until ctx.sizes.layerPasses) {
      tr.span("llmops.shingleIndex")(Dedup.shingleIndex(docs, "doc_id", "text", 3)
        .write.format("noop").mode("overwrite").save())
      val e = tr.span("llmops.jaccardPairs")(edges().localCheckpoint())
      edgeCounts += e.count().toDouble
      val before = probe.snap()
      tr.span("operators.connectedComponents")(
        Dedup.connectedComponents(nodes, e).orderBy("id").collect())
      componentJobs += (probe.snap().jobs - before.jobs).toDouble
      SessionHygiene.releaseQueryState(ctx.spark)
    }
    ctx.layer("llmops.shingle_s", Stats.median(tr.ms("llmops.shingleIndex")) / 1e3)
    ctx.layer("llmops.pairs_s", Stats.median(tr.ms("llmops.jaccardPairs")) / 1e3)
    ctx.layer("llmops.edges", Stats.median(edgeCounts.toSeq))
    ctx.layer("operators.components_s", Stats.median(tr.ms("operators.connectedComponents")) / 1e3)
    ctx.layer("operators.components_jobs", Stats.median(componentJobs.toSeq))
  }
}

/** Exact near-duplicate components in plain Scala, the recipe of q35's
  * DuckDB SQL: distinct space-joined token 3-grams per document, every pair
  * sharing a gram scored by |A∩B| / (|A|+|B|-|A∩B|) in double, edges at
  * >= 0.8, components by union-find labelled with their minimum id. */
final class DupOracle(corpus: Corpus) {
  private val grams: Array[Set[String]] = corpus.tokens.map(t =>
    if (t.length < 3) Set.empty[String] else t.sliding(3).map(_.mkString(" ")).toSet)

  def jaccard(a: Int, b: Int): Double = {
    val inter = (grams(a) intersect grams(b)).size
    inter.toDouble / (grams(a).size + grams(b).size - inter).toDouble
  }

  val edges: Seq[(Int, Int)] = {
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    for (i <- grams.indices; g <- grams(i)) index.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += i
    val inter = mutable.HashMap.empty[Long, Int]
    for (ids <- index.valuesIterator if ids.length > 1; x <- ids.indices; y <- x + 1 until ids.length) {
      val k = ids(x).toLong * corpus.n + ids(y)
      inter(k) = inter.getOrElse(k, 0) + 1
    }
    inter.iterator.collect { case (k, n) if {
      val (a, b) = ((k / corpus.n).toInt, (k % corpus.n).toInt)
      n.toDouble / (grams(a).size + grams(b).size - n).toDouble >= DedupCorpus.MinJaccard
    } => ((k / corpus.n).toInt, (k % corpus.n).toInt) }.toSeq.sorted
  }

  private val parent = Array.range(0, corpus.n)
  private def find(x: Int): Int = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var y = x
    while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
    r
  }
  // union by smaller root keeps every root the minimum id of its component
  for ((a, b) <- edges) {
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
  }
  val component: Array[Int] = Array.tabulate(corpus.n)(find)

  /** (copy, source) of every planted near-copy at or above the threshold. */
  val plantedAbove: Seq[(Int, Int)] = corpus.source.indices.collect {
    case i if corpus.source(i).exists(s => jaccard(i, s) >= DedupCorpus.MinJaccard) =>
      (i, corpus.source(i).get)
  }

  /** An edge of a two-document component: dropping it splits the component. */
  def bridge: (Long, Long) = {
    val sizes = component.groupBy(identity).view.mapValues(_.length).toMap
    val (a, b) = edges.find { case (a, _) => sizes(component(a)) == 2 }
      .getOrElse(throw new IllegalStateException("corpus has no two-document component"))
    (a.toLong, b.toLong)
  }
}
