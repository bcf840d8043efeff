package freshbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SessionHygiene

/** Command-line options; `run.py` supplies the launch instant, the CPU
  * count and the run's scratch directory. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    small: Boolean, corrupt: Option[String], cpus: Int, launchNs: Long, workDir: Path)

object Opts {
  val Corruptions = Set("cell", "dup-row", "drop-edge")
  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "small") { kv(k) = "1"; i += 1 }
      else { kv(k) = args(i + 1); i += 2 }
    }
    val corrupt = kv.get("corrupt")
    corrupt.foreach(c => require(Corruptions(c), s"unknown corruption '$c'"))
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv.contains("small"), corrupt, kv("cpus").toInt, kv("launch-ns").toLong,
      Paths.get(kv("work-dir")))
  }
}

/** Input sizes and loop lengths of one mode. */
final case class Sizes(batchEntities: Int, batchBudget: Int, batchWarm: Int,
    batchMinOps: Int, getEntities: Int, getWarm: Int, getMinOps: Int,
    docs: Int, vocab: Int, dedupWarm: Int, dedupMinOps: Int, layerPasses: Int)

object Sizes {
  val full = Sizes(batchEntities = 5000, batchBudget = 1000, batchWarm = 1, batchMinOps = 2,
    getEntities = 5000, getWarm = 8, getMinOps = 12,
    docs = 1500, vocab = 20000, dedupWarm = 3, dedupMinOps = 8, layerPasses = 1)
  val small = Sizes(batchEntities = 600, batchBudget = 120, batchWarm = 0, batchMinOps = 1,
    getEntities = 300, getWarm = 1, getMinOps = 3,
    docs = 400, vocab = 2000, dedupWarm = 0, dedupMinOps = 1, layerPasses = 1)
}

final case class Metric(value: Double, unit: String)

/** One workload's outcome. `problems` lists every failed check. */
final case class Result(workload: String, problems: Seq[String], attempted: Int,
    failed: Int, metrics: Seq[(String, Metric)]) {
  def correct: Boolean = problems.isEmpty
}

/** State shared by a workload's set-up, loop and checks. */
final class Ctx(val spark: SparkSession, val workload: String, val opts: Opts, val sizes: Sizes) {
  val tracer = new Tracer
  val probe: Option[Probe] = if (opts.trace) Some(new Probe(spark)) else None
  val problems = mutable.ArrayBuffer.empty[String]
  /** Per-layer metrics, pre-filled with zero for layers the workload does
    * not exercise: every traced run reports the full set. */
  val layers: mutable.LinkedHashMap[String, Metric] =
    mutable.LinkedHashMap(Layers.all.map { case (n, u) => n -> Metric(0.0, u) }: _*)
  def layer(name: String, value: Double): Unit = {
    require(layers.contains(name), s"undeclared layer metric $name")
    layers(name) = layers(name).copy(value = value)
  }
  def dir(name: String): String = opts.workDir.resolve(workload).resolve(name).toString
  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
  def corrupt(kind: String): Boolean = opts.corrupt.contains(kind)
  /** Logs a set-up step with the seconds since launch. */
  def step(what: String): Unit =
    System.err.println(f"[freshbench] $workload: $what at ${(Main.nowNs() - opts.launchNs) / 1e9}%.2f s")

  /** The end-to-end metrics every workload reports; `items` is the number of
    * entities, gets or documents one operation handles. The traced run
    * reports the per-layer set instead. */
  def result(loop: Loop, items: Double): Result = {
    val e2e = Seq(
      "setup_s" -> Metric(loop.setupS, "s"),
      "items_per_s" -> Metric(items / (Stats.median(loop.opsMs) / 1e3), "1/s"),
      "peak_heap_mb" -> Metric(loop.peakHeapMb, "MB"))
    Result(workload, problems.distinct.toSeq, loop.opsMs.length, 0,
      if (opts.trace) layers.toSeq else e2e)
  }
}

object Layers {
  val all: Seq[(String, String)] = Seq(
    "client.op_p50_ms" -> "ms", "client.op_p95_ms" -> "ms",
    "engine.construct_s" -> "s", "engine.exchanges" -> "count", "engine.joins" -> "count",
    "engine.stale_cells" -> "count", "engine.scored_cells" -> "count",
    "engine.passed_stale_rows" -> "count", "engine.scored_ratio" -> "ratio",
    "engine.get_construct_ms" -> "ms",
    "score.expr_s" -> "s", "score.mllib_s" -> "s",
    "sources.tx_merge_s" -> "s", "sources.tx_delta_s" -> "s", "sources.tx_mb_written" -> "MB",
    "sources.tx_buckets_rewritten" -> "count", "sources.tx_files_written" -> "count",
    "sources.get_files_read" -> "count",
    "spark.plan_ms" -> "ms", "spark.codegen_compiles" -> "count", "spark.codegen_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.sched_delay_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_ms" -> "ms",
    "llmops.shingle_s" -> "s", "llmops.pairs_s" -> "s", "llmops.edges" -> "count",
    "operators.components_s" -> "s", "operators.components_jobs" -> "count")
}

/** What the closed loop measured. */
final case class Loop(opsMs: Seq[Double], setupS: Double, peakHeapMb: Double)

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Main {
  /** Seconds after launch past which no further timed operation starts. */
  val DeadlineS = 110.0

  /** Single client, closed loop: `warm` untimed operations, then timed
    * operations until `opts.seconds` have passed and at least `minOps` ran
    * (never more than `maxOps`). `op(i)` performs operation i and returns
    * its own latency in ms, so the checks it runs stay untimed. After each
    * operation its query state is released.
    *
    * `peak_heap_mb` is the highest heap occupancy after any collection
    * during the timed operations. Each timed operation starts on a fully
    * collected heap, so garbage of the one before does not count, and ends
    * with one full collection before its state is released, so that every
    * operation yields at least one reading. The summary on standard error
    * lists each timed operation's wall time and the JIT compile time spent
    * during it, which shows whether the warm-up was long enough. In the
    * traced run the Spark counters are read around each timed operation
    * and reported per operation. */
  def closedLoop(ctx: Ctx, warm: Int, minOps: Int, maxOps: Int)(op: Int => Double): Loop = {
    val warmMs = (0 until warm).map { i => val m = op(i); release(ctx); m }
    Heap.reset()
    val setupS = (nowNs() - ctx.opts.launchNs) / 1e9
    val ms = mutable.ArrayBuffer.empty[Double]
    val deltas = mutable.ArrayBuffer.empty[(Snap, Snap)]
    val jitMs = mutable.ArrayBuffer.empty[Long]
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    def sinceLaunchS = (nowNs() - ctx.opts.launchNs) / 1e9
    // a host too busy to finish in time ends the loop after one timed
    // operation rather than overrun the run's time limit
    while (ms.length < maxOps && (ms.length < minOps || elapsedS < ctx.opts.seconds) &&
        !(ms.nonEmpty && sinceLaunchS > Main.DeadlineS)) {
      val before = ctx.probe.map(_.snap())
      val jit0 = jit.getTotalCompilationTime
      ms += op(warm + ms.length)
      jitMs += jit.getTotalCompilationTime - jit0
      ctx.probe.foreach(p => deltas += ((before.get, p.snap())))
      System.gc()
      release(ctx)
      System.gc()
    }
    val heapMb = Heap.peakMb()
    System.err.println(f"[freshbench] ${ctx.workload}: set-up $setupS%.2f s, warm-up ms " +
      warmMs.map(m => f"$m%.0f").mkString(" ") + ", timed ms " + ms.map(m => f"$m%.0f").mkString(" ") +
      ", JIT compile ms " + jitMs.mkString(" ") + f", peak heap $heapMb%.1f MB over ${Heap.count} collections")
    ctx.probe.foreach(p => sparkLayers(ctx, p, deltas.toSeq))
    ctx.layer("client.op_p50_ms", Stats.median(ms.toSeq))
    ctx.layer("client.op_p95_ms", Stats.quantile(ms.toSeq, 0.95))
    Loop(ms.toSeq, setupS, heapMb)
  }

  /** Ends an operation: its persisted and checkpointed blocks are dropped
    * and waited for, then `SessionHygiene.releaseQueryState` runs. */
  private def release(ctx: Ctx): Unit = {
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    SessionHygiene.releaseQueryState(ctx.spark)
  }

  /** spark.* layer metrics as means per timed operation, and the TxStore
    * job walls (call sites in TxStore.scala; the delta's localCheckpoint,
    * which runs the freshen pipeline, is reported apart from the merge). */
  private def sparkLayers(ctx: Ctx, p: Probe, deltas: Seq[(Snap, Snap)]): Unit = {
    val n = deltas.length.toDouble
    def per(f: Snap => Long): Double = deltas.map { case (a, b) => f(b) - f(a) }.sum / n
    ctx.layer("spark.plan_ms", per(_.planMs))
    ctx.layer("spark.codegen_compiles", per(_.compiles))
    ctx.layer("spark.codegen_ms", per(_.compileNs) / 1e6)
    ctx.layer("spark.jobs", per(_.jobs))
    ctx.layer("spark.stages", per(_.stages))
    ctx.layer("spark.tasks", per(_.tasks))
    ctx.layer("spark.task_run_s", per(_.taskRunMs) / 1e3)
    ctx.layer("spark.task_cpu_s", per(_.taskCpuNs) / 1e9)
    ctx.layer("spark.sched_delay_s", per(_.schedDelayMs) / 1e3)
    ctx.layer("spark.shuffle_write_mb", per(_.shuffleWriteBytes) / 1048576.0)
    ctx.layer("spark.spill_mb", per(_.spillBytes) / 1048576.0)
    ctx.layer("spark.gc_ms", per(_.gcMs))
    def txWall(site: String => Boolean) =
      deltas.map { case (a, b) => p.jobWallMs(a, b, s => s.contains("TxStore.scala") && site(s)) }
        .sum / n / 1e3
    ctx.layer("sources.tx_delta_s", txWall(_.startsWith("localCheckpoint")))
    ctx.layer("sources.tx_merge_s", txWall(!_.startsWith("localCheckpoint")))
  }

  def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def session(cpus: Int): SparkSession = {
    // the session graft.Bench builds, and no other option
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def runOne(name: String, spark: SparkSession, opts: Opts, sizes: Sizes): Result = {
    val ctx = new Ctx(spark, name, opts, sizes)
    ctx.step("session ready")
    try name match {
      case "freshen-batch" => FreshenBatch.run(ctx)
      case "fresh-get" => FreshGet.run(ctx)
      case "dedup-corpus" => DedupCorpus.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    } finally ctx.probe.foreach(_.close())
  }

  def main(args: Array[String]): Unit = {
    Heap.reset()
    val opts = Opts.parse(args)
    val sizes = if (opts.small) Sizes.small else Sizes.full
    val names =
      if (opts.workload == "all") Seq("freshen-batch", "fresh-get", "dedup-corpus")
      else Seq(opts.workload)
    var exit = 1
    val spark = session(opts.cpus)
    try {
      val results = names.map { n =>
        try runOne(n, spark, opts, sizes)
        catch { case e: Exception =>
          e.printStackTrace()
          Result(n, Seq(s"$n threw ${e.getClass.getName}: ${e.getMessage}"), 1, 1, Nil)
        }
      }
      results.foreach(r => r.problems.foreach(p => System.err.println(s"[freshbench] ${r.workload} check failed: $p")))
      println(Json.result(results))
      if (results.forall(_.correct)) exit = 0
    } finally {
      spark.stop()
    }
    System.exit(exit)
  }
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The result line: one workload's object, or for several (small mode)
    * their conjunction plus a per-workload breakdown. */
  def result(rs: Seq[Result]): String = {
    def metrics(ms: Seq[(String, Metric)]) = ms.map { case (n, m) =>
      s"${str(n)}:{\"value\":${num(m.value)},\"unit\":${str(m.unit)}}" }.mkString("{", ",", "}")
    val head = s"\"correct\":${rs.forall(_.correct)},\"attempted\":${rs.map(_.attempted).sum}," +
      s"\"failed\":${rs.map(_.failed).sum}"
    if (rs.length == 1) s"{$head,\"metrics\":${metrics(rs.head.metrics)}}"
    else {
      val per = rs.map(r => s"${str(r.workload)}:{\"correct\":${r.correct},\"problems\":" +
        r.problems.map(str).mkString("[", ",", "]") + s",\"metrics\":${metrics(r.metrics)}}")
      s"{$head,\"metrics\":{},\"workloads\":${per.mkString("{", ",", "}")}}"
    }
  }
}
