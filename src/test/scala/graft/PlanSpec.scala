package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan pins for the SCALE.md claims: predicate pushdown and column
  * pruning reach the parquet scans, dimension joins broadcast, and the
  * pairwise probes spread round-robin — asserted on the DECLARED queries'
  * plans, so a plan regression fails the suite, not just the bench. */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q02: filter predicates push down into the parquet scan") {
    val p = plan("q02_filter_predicates")
    assert(p.contains("PushedFilters: [IsNotNull"), p.linesIterator.take(30).mkString("\n"))
  }

  test("q01: column pruning — unreferenced lineitem columns never scanned") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_comment") && !p.contains("l_orderkey"),
      "scan reads columns the query never references")
  }

  test("q03: dimension join is a broadcast hash join") {
    assert(plan("q03_broadcast_join").contains("BroadcastHashJoin"))
  }

  test("q38: pair generation is broadcast-probed with round-robin spread") {
    val p = plan("q38_edit_distance")
    assert(p.contains("BroadcastHashJoin"), "dim side must broadcast")
    assert(p.contains("RoundRobinPartitioning"), "probe side must repartition round-robin")
  }

  test("q27: fused array_dot expression scores pairs (no posexplode detour)") {
    val p = plan("q27_cosine_topk")
    assert(p.contains("array_dot"), "cosine should use the native fused expression")
    assert(!p.contains("PosExplode"), "dot products must not explode to element rows")
  }

  test("q51: as-of join is one keyed sort — no inequality join anywhere") {
    val p = plan("q51_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of must never fall back to a nested-loop/cartesian range join")
    assert(p.contains("Window"), "the union+window shape carries the match")
  }

  test("q52: range join is a bucket equi-join — no cartesian/nested loop") {
    val p = plan("q52_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join must be the bucket equi-join, not a cross product")
  }

  test("q54: exact rescore probes candidates via a semi join") {
    val p = plan("q54_heavy_hitters")
    assert(p.contains("LeftSemi"), "facts must semi-join the CMS candidate set")
  }

  test("q66: bloom probes are broadcast joins feeding an exact semi join") {
    val p = plan("q66_bloom_join")
    assert(p.contains("LeftSemi"), "exact rescore must semi-join the dim keys")
    // k = 3 bitmap probes + the semi join's broadcast side
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "each of the k bitmap probes must be a map-side broadcast join")
    assert(!p.contains("SortMergeJoin"),
      "the fact stream must never sort-merge against the bitmap")
  }

  test("q64: profiling plan has no multi-distinct Expand") {
    val p = plan("q64_profile")
    assert(!p.contains("Expand"),
      "profile must use the tall two-level aggregation, not Expand-based multi-distinct")
  }

  test("q19: prefix-filtered jaccard plan is window-free (array-native prefix)") {
    val p = plan("q19_ngram_jaccard")
    // the only windows allowed are in shingle construction (lead over doc
    // partitions); the prefix-rank WindowExec it replaced partitioned by id
    // with a (df, s) sort — pin its absence via the rank column
    assert(!p.contains("row_number"),
      "prefix selection must be the sorted-array slice, not a row_number window")
  }

  test("q60: decontamination probe broadcasts the eval gram index") {
    assert(plan("q60_decontaminate").contains("BroadcastHashJoin"),
      "the eval-side gram set must broadcast")
  }

  test("q73: PII scrub is scan-shaped — no shuffle, no join, no window") {
    val p = plan("q73_pii_scrub")
    // the declared query's trailing orderBy is the only exchange allowed
    assert(!p.contains("HashAggregate") && !p.contains("Join") && !p.contains("Window"),
      "redaction must stay a pure per-row column pipeline:\n" + p.take(2000))
  }

  test("q77: sliding chunking is scan+generate — no shuffle, no window") {
    val p = plan("q77_chunk_sliding")
    assert(p.contains("Generate"), "chunk starts must come from an explode generator")
    assert(!p.contains("HashAggregate") && !p.contains("Join") && !p.contains("Window"),
      "chunking must not shuffle:\n" + p.take(2000))
  }

  test("q76: temperature quotas broadcast back onto per-stratum ranks") {
    val p = plan("q76_temperature_sample")
    assert(p.contains("BroadcastHashJoin"),
      "the per-stratum quota frame must broadcast, never shuffle the corpus again")
  }

  test("q83: hash split is scan-shaped — no shuffle, no join, no window") {
    val p = plan("q83_hash_split")
    assert(!p.contains("HashAggregate") && !p.contains("Join") && !p.contains("Window"),
      "split assignment must stay a pure per-row column pipeline:\n" + p.take(2000))
  }

  test("q84: budget cap's rank and prefix-sum windows share ONE partitioning") {
    val p = plan("q84_token_budget")
    // both window functions must evaluate over the same stratum exchange —
    // exactly one hashpartitioning(stratum) in the plan
    val stratumExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(stratum"))
    assert(stratumExchanges == 1,
      s"expected 1 stratum exchange, found $stratumExchanges:\n" + p.take(2000))
  }

  test("q87: z-order codes come from the native zorder2 expression") {
    val p = plan("q87_zorder")
    assert(p.contains("zorder2"), "Morton codes must use the native expression")
  }

  test("q88: funnel is ONE entity shuffle; step windows chain without re-exchange") {
    val p = plan("q88_funnel")
    val entityExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(entity"))
    assert(entityExchanges == 1,
      s"expected 1 entity exchange for all step windows, found $entityExchanges:\n" +
        p.take(2000))
    assert(p.split("Window").length - 1 >= 3, "three chained step windows expected")
  }

  test("q43: pivot-IVF candidates score via fused array_dot; no cartesian blow-up") {
    val p = plan("q43_cosine_ivf")
    assert(p.contains("array_dot"), "exact integer dots must be the native expression")
    assert(!p.contains("CartesianProduct"),
      "the only unconditioned join is the nlist-row pivot broadcast")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "pivot frame must broadcast")
  }

  test("q67: pivot IVF-PQ shortlist is window-limited; codebook joins broadcast") {
    val p = plan("q67_ivfpq")
    assert(!p.contains("CartesianProduct"),
      "codebook/pivot fan-outs must be broadcast nested loops, not cartesians")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the m·ksub codebook frame must broadcast")
    // rescoreK shortlist: rank computed under WindowGroupLimit pushdown, so
    // per-query candidate streams truncate before the full sort
    assert(p.contains("WindowGroupLimit"), "shortlist must use window-group-limit pruning")
    assert(p.contains("array_dot"), "the exact rescore must be the native expression")
  }

  test("q105: Hamming banding is an equi-join; shortlist and rank are window-group-limited") {
    val p = plan("q105_hamming_ann")
    assert(!p.contains("CartesianProduct"),
      "band collisions must be a (band, word) equi-join, never all-pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "candidate generation must be a hash-key join")
    // both the hamming top-32 shortlist and the cosine top-5 rank windows
    // truncate per-query streams before any full sort
    assert(p.contains("WindowGroupLimit"), "shortlist must use window-group-limit pruning")
    assert(p.contains("array_dot"), "the exact rescore must be the native expression")
  }

  test("q114: sparse kNN is a postings equi-join; query postings broadcast") {
    val p = plan("q114_sparse_knn")
    // the only nested-loop join allowed is the 1-row corpusN scalar
    // crossJoin (the q55/q59 pattern); pair generation must never cartesian
    assert(!p.contains("CartesianProduct"),
      "candidate dots must come from the shared-term equi-join, never all-pairs")
    assert(p.contains("BroadcastHashJoin"), "the query-side postings must broadcast")
    assert(p.contains("WindowGroupLimit"), "top-k rank must window-group-limit prune")
  }

  test("q116: kNN labels inherit q27's broadcast-queries shape; vote rank is group-limited") {
    val p = plan("q116_knn_label")
    assert(p.contains("array_dot"), "neighbor scoring must be the native fused expression")
    assert(p.contains("BroadcastHashJoin"), "the query side must broadcast")
    assert(p.contains("WindowGroupLimit"), "argmax label must window-group-limit prune")
  }

  test("q118: incremental dedup probes the corpus index via equi-joins only") {
    val p = plan("q118_incremental_dedup")
    // globalRank's one-row-per-partition triangular offsets join is the
    // only nested-loop construct (bounded by the partition count, see
    // Ranks.scala); the band probe and rescore must never cartesian
    assert(!p.contains("CartesianProduct"),
      "band probe and rescore must stay equi-joins, never all-pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "the band probe must be a hash-key join")
  }

  test("q125: JL projection is shuffle-free — native plane_dots in the scan stage") {
    val p = plan("q125_jl_project")
    assert(p.contains("plane_dots"), "projection must be the native loop expression")
    // the only Exchange allowed is the output orderBy's range partitioning —
    // the projection itself must add none
    assert(!p.contains("hashpartitioning"),
      "projection must not introduce a hash shuffle:\n" + p.linesIterator.take(25).mkString("\n"))
  }

  test("q118/q119: signature/banding probes are hash-key joins, no nested loop") {
    for (q <- Seq("q118_incremental_dedup", "q119_cosine_pairs_lsh")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q candidate join must stay an equi-join")
    }
  }

  test("q126: matrix rollup joins sources by key — no cartesian anywhere") {
    val p = plan("q126_source_dup_matrix")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q129: chunk dedup never compares documents pairwise — no nested-loop join") {
    val p = plan("q129_chunk_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // keep/drop is a digest-keyed rank window, not a self-join on chunks
    assert(p.contains("Window"), p.linesIterator.take(30).mkString("\n"))
  }

  test("q130: hard negatives broadcast the query batch — corpus side never shuffles for the pair stream") {
    val p = plan("q130_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("production IVF-PQ: stages stay inside whole-stage codegen (native loop expressions)") {
    // the trained-quantizer production path (the declared q67 moved to the
    // exact pivot pipeline, whose hot loops are the array_dot expression)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding").as("vec"))
    val df = graft.llmops.Similarity.cosineTopKIvfPq(e, k = 5, nlist = 8,
      nprobe = 4, m = 8, ksub = 16, rescoreK = 16)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("pq_encode") || p.contains("argmin_cell"),
      "encode/assignment must be the native expressions")
    // the regression this pins: an oversized generated method makes Spark
    // fall back to interpreted eval, visible as a codegen compile ERROR in
    // stderr — the expressions are loop-based precisely so this cannot recur
  }

  test("q141: semdedup pairs come from a cluster equi-join — no unbroadcast cartesian") {
    val p = plan("q141_semdedup")
    // the ONLY unkeyed join allowed is k-means' vectors × k-row centroid
    // frame, and it must be the BROADCAST nested loop (build side = k rows)
    assert(!p.contains("CartesianProduct"),
      "no shuffle-based cartesian anywhere in the semdedup plan")
    assert(p.contains("Broadcast"), "the k-row centroid frame must broadcast")
  }

  test("q145: MMR panel joins broadcast the selected rows") {
    val p = plan("q145_mmr_select")
    assert(p.contains("BroadcastHashJoin"),
      "centroids and selected panels are ≤ m·|groups| rows — they must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q147: CDC chunking is the native expression in the scan stage") {
    val p = plan("q147_cdc_dedup")
    assert(p.contains("cdc_chunks"), "boundary detection must be the native loop")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q153: skyline recovers survivors via a broadcast join; no shuffled cartesian") {
    val p = plan("q153_skyline")
    assert(p.contains("BroadcastHashJoin"),
      "the metadata-scale staircase must broadcast back onto the corpus")
    assert(!p.contains("CartesianProduct"),
      "the only unkeyed join allowed is the metadata-scale triangular staircase" +
        " (broadcast), never a shuffle cartesian")
  }

  test("q154: histogram quantile windows are group-partitioned, never global") {
    val p = plan("q154_hist_quantiles")
    // every Window operator must carry a partition spec (no 'Window [..], []'
    // single-partition form) — check via the sort that feeds it
    assert(!p.contains("SinglePartition"),
      "no stage of the histogram walk may collapse to one partition")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q159: decay anchor is a 1-row broadcast, not a shuffle barrier") {
    val p = plan("q159_decay_value")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the scalar anchor must reach rows via broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q160: percentile rank plan has no single-partition window") {
    // the 1-row n_docs aggregate legitimately passes through SinglePartition;
    // the pin is that every WINDOW operator is partitioned (globalRank's
    // per-partition row_number windows key on __pid)
    val p = plan("q160_quality_percentile")
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty, "globalRank's per-partition row_number must appear")
    windows.foreach(w => assert(w.contains("__pid"),
      s"window not keyed on the range-partition id in the rank plan: $w"))
  }

  test("q161: rolling window partitions by user — no global sort of all events") {
    val p = plan("q161_rolling_window")
    assert(p.contains("Window"), "the range frame must be a window operator")
    assert(!p.matches("(?s).*Window[^\\n]*SinglePartition.*"),
      "the trailing-72h frame must stay user-partitioned")
  }

  test("q166: AUC rank plan — every window keyed on the range-partition id") {
    // the production path localCheckpoints the ranked frame (it feeds the
    // tie bounds AND the join-back), which truncates the executed plan —
    // pin the cache=false build, the same construction minus the seal
    // (the substrPlan discipline)
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val scored = graft.llmops.TextAnalysis.hashedNgramScore(d, "doc_id", "text")
      .select(col("id"), col("score_milli"))
    val truth = d.select(col("doc_id").as("id"), (col("lang") === "en").as("truth"))
    val p = graft.operators.Analytics
      .aucRankSum(scored.join(truth, "id"), "score_milli", "id", "truth",
        cache = false)
      .queryExecution.executedPlan.toString
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty, "globalRank's per-partition row_number must appear")
    windows.foreach(w => assert(w.contains("__pid"),
      s"window not keyed on the range-partition id in the AUC plan: $w"))
  }

  test("q167: estimator audit probes signatures via hash joins, no nested loop") {
    val p = plan("q167_minhash_eval")
    assert(!p.contains("CartesianProduct"),
      "candidate/signature/token probes must all be equi-joins")
    // the ONLY permitted nested loop is the token dictionary's triangular
    // partition-offset join — one row per shuffle partition (metadata
    // scale, same construct as Ranks.globalRank)
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach(l =>
      assert(l.contains("__pid"),
        s"non-metadata nested loop in the estimator audit plan: $l"))
  }

  test("q175: blocking audit — bands and truth join by key, scalars broadcast") {
    val p = plan("q175_blocking_eval")
    assert(!p.contains("CartesianProduct"),
      "the only row-combining joins must be band/pair equi-joins")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the four 1-row counters must assemble via broadcast")
  }

  test("q177/q179: zipf and KS windows stay group-partitioned") {
    for (q <- Seq("q177_zipf_fit", "q179_ks_stat")) {
      val p = plan(q)
      assert(p.contains("Window"), s"$q: expected a window operator")
      assert(!p.matches("(?s).*Window[^\\n]*SinglePartition.*"),
        s"$q: window must stay source/type-partitioned")
    }
  }

  test("q169: MAD plan — windows partitioned by type, medians broadcast back") {
    val p = plan("q169_mad_outliers")
    assert(!p.matches("(?s).*Window[^\\n]*SinglePartition.*"),
      "order-statistic windows must stay group-partitioned")
    assert(p.contains("BroadcastHashJoin"),
      "per-group medians must broadcast, not shuffle the corpus again")
  }

  test("q185/q191/q192: attribution and session windows stay user-partitioned") {
    for (q <- Seq("q185_attribution", "q191_linear_attribution", "q192_session_stats")) {
      val p = plan(q)
      assert(p.contains("Window"), s"$q: expected a window operator")
      assert(!p.matches("(?s).*Window[^\\n]*SinglePartition.*"),
        s"$q: behavioral windows must stay user-partitioned")
    }
  }

  test("q189/q196: rank/scan windows keyed on the range-partition id or bounded") {
    val p189 = plan("q189_best_threshold")
    val w189 = p189.linesIterator.filter(_.contains("Window")).toSeq
    assert(w189.nonEmpty, "q189: prefixSum windows must appear")
    w189.foreach(w => assert(w.contains("__pid"),
      s"q189: window not keyed on the range-partition id: $w"))
    // q196's globalRank windows stay __pid-keyed; its one unkeyed window is
    // the cumulative-gain scan over the DECILE frame — ≤ 10 rows by
    // construction (decile ∈ 0..9), ordered by decile (r13 opt)
    val p196 = plan("q196_gains_table")
    val w196 = p196.linesIterator.filter(_.contains("Window")).toSeq
    assert(w196.exists(_.contains("__pid")), "q196: globalRank windows must appear")
    w196.filterNot(_.contains("__pid")).foreach(w => assert(w.contains("decile"),
      s"q196: unkeyed window must be the bounded decile scan: $w"))
  }

  test("q187: DCG cutoffs are TakeOrdered top-10s, not global ranks") {
    // r13 opt: DCG@10 needs the global top-10 only — each branch is
    // orderBy+limit(10) (TakeOrderedAndProject) with the rank stamped by a
    // ≤ 10-row window AFTER the limit; the old shape range-sorted and
    // rank-stamped EVERY row twice (two globalRanks = two range exchanges)
    val p = plan("q187_ndcg")
    assert(p.contains("TakeOrderedAndProject"),
      "each DCG branch must be a TakeOrdered top-10")
    assert(!p.contains("rangepartitioning"),
      "no global range sort may remain in the NDCG plan")
    val unkeyed = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(unkeyed.size <= 2 && unkeyed.forall(w =>
      w.contains("score_q") || w.contains("rel")),
      s"only the two post-limit bounded rank stamps may appear: $unkeyed")
  }

  test("q193/q198: hazard horizon and FK parents are broadcast, never shuffled") {
    assert(plan("q193_conversion_hazard").contains("BroadcastNestedLoopJoin") ||
      plan("q193_conversion_hazard").contains("BroadcastHashJoin"),
      "the 1-row horizon must broadcast")
    val p = plan("q198_ref_integrity")
    assert(p.contains("BroadcastHashJoin"), "FK parents must broadcast for the anti-joins")
    assert(!p.contains("SortMergeJoin"),
      "no FK edge should shuffle the fact side for its parent probe")
  }

  test("q199: degree rollup composes the LSH pair stream with equi-joins only") {
    assert(!plan("q199_degree_histogram").contains("CartesianProduct"),
      "band collisions and the degree join-back must be key joins")
  }

  /** q204/q208's production path localCheckpoints the span frame (cache
    * lifecycle: one invocation, not the session), which truncates the
    * executed plan — so the candidate-path pins assert on the cache=false
    * variant, which is the SAME construction minus the persist/checkpoint
    * wrappers. */
  private def substrPlan(keepFirst: Boolean): String = {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val df =
      if (keepFirst)
        graft.llmops.Dedup.substringDedupKeepFirst(d, "doc_id", "text",
          minLen = 40, cache = false)
      else
        graft.llmops.Dedup.substringDedup(d, "doc_id", "text",
          minLen = 40, cache = false)
    df.queryExecution.executedPlan.toString
  }

  test("q204: the wide candidate shuffle keys on the 8-byte fingerprint, never the gram") {
    val p = substrPlan(keepFirst = false)
    // the SCALE.md claim: the full-cardinality exchange (every window
    // position) partitions by fp — the L-char gram string must only ever
    // shuffle for the (small) confirmed-candidate aggregation
    assert(p.contains("hashpartitioning(fp"),
      "candidate detection must aggregate on the xxhash64 fingerprint")
    assert(!p.contains("CartesianProduct"))
    // gram-keyed exchanges exist only ABOVE the fp filter (the confirm
    // aggregation + its co-partitioned join), i.e. at candidate scale —
    // never for the full position set
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning(gram"))
    assert(exchanges <= 2,
      s"gram strings may shuffle only for the candidate confirm (agg + join), found $exchanges")
  }

  test("q206: FracMinHash pair frame is sizes-only; the data join keys on the kept hash") {
    val p = plan("q206_fracminhash")
    assert(!p.contains("CartesianProduct"),
      "the |sources|x|sources| pair frame must be a (metadata-scale) non-equi join, " +
        "and the signature overlap an equi-join on h")
    assert(p.contains("hashpartitioning(h") || p.contains("[h#"),
      "shared-hash counting must key on the sampled hash")
  }

  test("q208: keep-first confirm is a packed-min aggregation — no gram-keyed window") {
    val p = substrPlan(keepFirst = true)
    // the 100 TB skew claim: "first occurrence" must reduce via a
    // min() aggregation — map-side combinable, one row per gram —
    // never a per-gram rank window, which sorts EVERY occurrence of a
    // hot boilerplate gram in one task. The only Window operators are
    // the per-doc island/report ones, keyed on id. Round 13: the min is
    // over (id·2³² + pos) packed into ONE BIGINT, so it stays a
    // primitive-long HashAggregate in whole-stage codegen instead of an
    // ObjectHashAggregate over a struct.
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    windows.foreach(w => assert(!w.contains("gram"),
      s"keep-first must not rank-window by gram: $w"))
    assert(p.contains("min(") && p.contains("first_packed"),
      "the winner must come from a packed-long min aggregation")
    val winnerAgg = p.linesIterator
      .filter(l => l.contains("Aggregate") && l.contains("first_packed")).toSeq
    assert(winnerAgg.nonEmpty && winnerAgg.forall(_.contains("HashAggregate")) &&
      winnerAgg.forall(!_.contains("ObjectHashAggregate")),
      s"packed min must stay a codegen HashAggregate: $winnerAgg")
    assert(!p.contains("CartesianProduct"))
  }

  test("q207: the admission pipeline is windowless — the island merge is a scan-side fold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the claim that lets this run as a stream: no WindowExec anywhere —
    // the q204 gaps-and-islands is a higher-order fold. Assert on the same
    // operators applied to a batch frame (streaming wraps, not reshapes)
    val docs = Seq((1L, "x" * 50)).toDF("id", "text")
    val idx = graft.streaming.StreamSubstr.gramIndex(docs, "text", 40)
    val p = graft.streaming.StreamSubstr.admission(docs, idx, 40, 200L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "island merge must not use window functions")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "per-doc rollup must be the only aggregation shape")
  }

  test("q211/q219/q220/q222: the sequential recurrences fold — no window, no cartesian") {
    // the SCALE.md claim: calendar-bounded recurrences run as one
    // aggregate() over sorted rows, never as a global window
    Seq("q211_kaplan_meier", "q219_ses", "q220_sprt", "q222_holt",
      "q230_cusum").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window ["), s"$q must not window: recurrence is a fold")
      assert(!p.contains("CartesianProduct"), s"$q scalar attaches must broadcast")
    }
  }

  test("q212/q213/q216: scalar frames broadcast; no cartesian anywhere") {
    Seq("q212_autocorr", "q213_kneser_ney", "q216_cuped").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: 1-row/7-row attach frames must ride BroadcastNestedLoopJoin")
    }
  }

  test("q214/q223: pair streams are equi-joins; the rank windows partition per key") {
    Seq("q214_item_cooccur" -> "item", "q223_adamic_adar" -> "u").foreach {
      case (q, key) =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q pair stream must equi-join")
        val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
        assert(windows.nonEmpty && windows.forall(_.contains(key)),
          s"$q top-k must rank inside per-$key partitions: $windows")
    }
  }

  test("q224/q225: dims broadcast in the Q5/Q8 join trees; facts never cartesian") {
    Seq("q224_regional_revenue", "q225_market_share").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: nation/region/supplier dims must broadcast")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q226-q229: TPC-H shapes — no cartesian; Q18's agg side broadcasts back; Q21 folds the correlated pair into one aggregation") {
    Seq("q226_custdist", "q227_dormant_rich", "q228_large_orders",
      "q229_blocking_supplier").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), q)
    }
    // Q22 shape: the 1-row global-average frame must attach as a broadcast,
    // and the urgent-orders anti join stays a real anti join
    val p227 = plan("q227_dormant_rich")
    assert(p227.contains("LeftAnti"), "q227 keeps the anti join")
    // Q21 shape: one aggregation over the order key — no lineitem self-join
    val p229 = plan("q229_blocking_supplier")
    assert(!p229.contains("Window ["), "q229 is an aggregation, not a window")
  }

  test("q231/q232: margins broadcast back to cells; peeling rounds stay equi-joins") {
    Seq("q231_chi_square", "q232_kcore").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), q)
    }
    assert(!plan("q232_kcore").contains("Window ["),
      "k-core degrees are aggregations, not windows")
  }

  test("q234-q236: scalar attaches broadcast — no cartesians") {
    // q235's rank shape (groupRank + checkpoint, no nation-keyed window —
    // the round-13 rebuild) is pinned in the dedicated q312/q235 test below
    Seq("q234_fano_factor", "q235_trimmed_mean", "q236_benford").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), q)
    }
  }

  test("q237/q238: tier join broadcasts; the calendar pair frame is BNLJ, never cartesian") {
    val p237 = plan("q237_matryoshka_agree")
    assert(!p237.contains("CartesianProduct"), "q237")
    val w237 = p237.linesIterator.filter(_.contains("Window [")).toSeq
    assert(w237.nonEmpty && w237.forall(_.contains("qid")),
      s"q237 top-1 must rank inside per-query partitions: $w237")
    val p238 = plan("q238_kendall_tau")
    assert(!p238.contains("CartesianProduct"), "q238")
    assert(p238.contains("BroadcastNestedLoopJoin"),
      "q238's calendar-bounded pair frame must broadcast one side")
  }

  test("q239-q243: no cartesians; Q2's argmin is an aggregate; grouping sets expand; KMV cuts via TakeOrdered") {
    Seq("q239_top_supplier_quarter", "q240_cheapest_offer",
      "q241_grouping_sets", "q242_kmv_distinct", "q243_countmin").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), q)
    }
    assert(!plan("q240_cheapest_offer").contains("Window ["),
      "q240's per-part argmin must be min(struct), not a rank window")
    assert(plan("q241_grouping_sets").contains("Expand"),
      "grouping sets run through ONE Expand pass, not three scans")
    assert(plan("q242_kmv_distinct").contains("TakeOrderedAndProject"),
      "the k-smallest cut must be a distributed top-k, not a global sort")
  }

  test("q244: rank and cumsum ride the distributed prefix-sum — no global single-partition window") {
    val p = plan("q244_abc_classes")
    assert(!p.contains("CartesianProduct"), "q244")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("__pid")),
      s"q244 windows must partition by the range-partition id: $windows")
  }

  test("q245-q250: TPC-H Q3/Q7/Q10/Q17/Q14/Q19 shapes — no cartesians; top-k stays TakeOrdered; Q17's avg is an aggregate") {
    Seq("q245_shipping_priority", "q246_volume_shipping", "q247_returned_items",
      "q248_small_qty_revenue", "q249_promo_share", "q250_or_branch_revenue")
      .foreach { q =>
        assert(!plan(q).contains("CartesianProduct"), q)
      }
    Seq("q245_shipping_priority", "q247_returned_items").foreach { q =>
      assert(plan(q).contains("TakeOrderedAndProject"),
        s"$q's top-N must be a distributed top-k, not a global sort")
    }
    assert(!plan("q248_small_qty_revenue").contains("Window ["),
      "q248's correlated avg must be a map-side-combinable aggregate + join, not a window")
    Seq("q249_promo_share", "q250_or_branch_revenue").foreach { q =>
      assert(plan(q).contains("BroadcastHashJoin"),
        s"$q: the part dim must broadcast")
    }
  }

  test("q251-q255: rank stats ride the distributed prefix-sum — no global single-partition windows; q255's calendar pair frame broadcasts") {
    Seq("q251_spearman", "q252_mann_whitney", "q253_cramers_v",
      "q254_hhi", "q255_theil_sen").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), q)
    }
    // the doubled-average-rank construction must never rank row-by-row:
    // every window partitions by the range-partition id
    Seq("q251_spearman", "q252_mann_whitney", "q255_theil_sen").foreach { q =>
      val windows = plan(q).linesIterator.filter(_.contains("Window [")).toSeq
      assert(windows.nonEmpty && windows.forall(_.contains("__pid")),
        s"$q windows must partition by __pid: $windows")
    }
    assert(plan("q255_theil_sen").contains("BroadcastNestedLoopJoin"),
      "q255's calendar-bounded pair frame must broadcast one side")
  }

  test("q259-q261: Heaps windows partition per source; graph rounds stay equi-joins") {
    Seq("q259_heaps_fit", "q260_clustering_coeff", "q261_textrank").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), q)
    }
    val w259 = plan("q259_heaps_fit").linesIterator
      .filter(_.contains("Window [")).toSeq
    assert(w259.nonEmpty && w259.forall(_.contains("source")),
      s"q259 cumulative series must partition by source: $w259")
  }

  test("q262-q265: decile grids broadcast; the Q16 exclusion is anti; the Q4 EXISTS is semi") {
    Seq("q262_isotonic_calibration", "q263_average_precision",
      "q264_part_supplier_dist", "q265_priority_exists").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), q)
    }
    assert(plan("q264_part_supplier_dist").contains("LeftAnti"),
      "q264's supplier exclusion must stay an anti join")
    assert(plan("q265_priority_exists").contains("LeftSemi"),
      "q265's EXISTS must stay a semi join")
    val w263 = plan("q263_average_precision").linesIterator
      .filter(_.contains("Window [")).toSeq
    assert(w263.forall(_.contains("__pid")),
      s"q263's sweep must ride the range-partitioned prefix sum: $w263")
  }

  test("q271-q273: Q6 is a join-free partial-agg scan; Q9 dims broadcast; Q20's nesting stays semi-joins") {
    Seq("q271_forecast_revenue", "q272_product_profit",
      "q273_surplus_suppliers").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), q)
    }
    val p271 = plan("q271_forecast_revenue")
    assert(!p271.contains("SortMergeJoin") && !p271.contains("BroadcastHashJoin"),
      "Q6 shape is a pure scan+filter+agg — no join may appear")
    assert(p271.contains("partial_sum"),
      "Q6's aggregate must combine map-side before the single-partition exchange")
    assert(plan("q272_product_profit").contains("BroadcastHashJoin"),
      "q272's part/supplier/nation dims must broadcast")
    val p273 = plan("q273_surplus_suppliers")
    assert(p273.linesIterator.count(_.contains("LeftSemi")) >= 2,
      "q273 keeps BOTH nesting levels as semi joins")
  }

  test("q274/q275: all rank-family windows share ONE nation exchange; the WoW rollup never self-joins") {
    val p274 = plan("q274_window_suite")
    val nationExchanges = p274.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(nation"))
    assert(nationExchanges == 1,
      s"expected 1 nation exchange for every window, found $nationExchanges")
    val p275 = plan("q275_wow_contribution")
    assert(!p275.contains("CartesianProduct"), "q275")
    // both weeks come from ONE conditional aggregate, materialized once via
    // localCheckpoint: the declared plan reads the checkpointed nation frame
    // (ExistingRDD) and re-aggregates NOTHING — zero nation exchanges left
    assert(p275.contains("ExistingRDD"),
      "q275's nation frame must be the checkpointed single-pass aggregate")
    assert(p275.linesIterator
        .count(_.contains("Exchange hashpartitioning(nation")) == 0,
      "q275 must not re-aggregate the fact scan per consumer")
  }

  test("q276/q277: Q11's nesting stays semi+broadcast with a checkpointed per-part frame; Q12's lateness filter joins once") {
    val p276 = plan("q276_important_stock")
    assert(!p276.contains("CartesianProduct"), "q276")
    assert(p276.contains("ExistingRDD"),
      "q276's per-part frame must be the checkpointed single fact pass (total + HAVING reuse it)")
    assert(p276.contains("BroadcastNestedLoopJoin"),
      "q276's HAVING threshold must ride the broadcast 1-row {total, count} frame")
    // the semi/broadcast nesting lives BEFORE the checkpoint truncates
    // lineage — pin it on the REAL pre-checkpoint pipeline (shared with
    // the query via Relational.q276PerPartValue, so it can't drift)
    val pre276 = graft.queries.Relational.q276PerPartValue(spark, sf)
      .queryExecution.executedPlan.toString
    assert(pre276.linesIterator.count(_.contains("LeftSemi")) >= 2,
      "q276 keeps both the nation→supplier and supplier→lineitem levels as semi joins")
    assert(pre276.contains("BroadcastHashJoin"),
      "q276's part dim and supplier keys must broadcast")
    val p277 = plan("q277_shipmode_priority")
    assert(!p277.contains("CartesianProduct"), "q277")
    assert(p277.contains("GreaterThanOrEqual(l_shipdate") &&
      p277.contains("LessThan(l_shipdate"),
      "q277's ship-year window must reach the lineitem scan")
    assert(p277.contains("partial_sum"),
      "q277's priority split must combine map-side before the mode exchange")
  }

  test("q218: both VQ levels assign via broadcast centroids — no cartesian, no shuffle-side pairs") {
    val p = plan("q218_residual_vq")
    assert(!p.contains("CartesianProduct"),
      "centroid sweeps must be BroadcastNestedLoopJoin over k-row codebooks")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the textbook assignment plan broadcasts the codebook")
  }

  // --- graph-tier lineage truncation (the 193 s → 5 s round-10 fix) ---
  // The per-round localCheckpoint in Graph.labelPropagation/bfsDistance/
  // pagerank* and Curation.dbscanAssign truncates the 2-branch-per-round
  // chain that otherwise embeds the upstream edge build 2^rounds times in
  // the final plan. These pins fail if any of those checkpoints is
  // dropped: the final EXECUTED plan must read only checkpointed RDDs —
  // zero base-table parquet scans (q269/q278 keep exactly ONE embeddings
  // scan: the allIds spine) and zero re-executions of the ε-join
  // (array_dot / hyperplane signatures must not appear post-truncation).

  private def scanParquetCount(p: String): Int =
    p.linesIterator.count(_.contains("Scan parquet"))

  test("q268/q270/q221: per-round truncation — final plan reads checkpoints, not 2^rounds edge builds") {
    Seq("q268_bfs_distance", "q270_personalized_pagerank",
      "q221_label_prop", "q279_pagerank_dangling",
      "q280_sssp_weighted", "q291_hits").foreach { q =>
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD"),
        s"$q must consume localCheckpointed rounds")
      // the fact-table edge build must be checkpointed out entirely; the
      // broadcast-scale seed flag (supplier) may legitimately re-join per
      // round, so only lineitem/orders scans are forbidden
      val factScans = p.linesIterator.count(l =>
        l.contains("Scan parquet") &&
          (l.contains("lineitem") || l.contains("orders")))
      assert(factScans == 0,
        s"$q final plan re-reads the edge-build fact tables $factScans times — a per-round checkpoint was dropped")
    }
  }

  test("q287-q289/q293/q294: new-op plans — equi-joins only, no cartesians, no inequality window joins") {
    Seq("q287_weighted_jaccard", "q288_snm_dedup", "q289_frequent_triples",
      "q293_negative_sampling", "q294_walk_corpus").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      // tolerated nested-loop joins: Ranks.globalRank's partition-offset
      // attach (≤ shuffle-partitions rows, joined on __pid) and the 1-row
      // scalar-broadcast cross attach (q293's N); a conditional BNLJ over
      // data frames means SNM's window join degraded to an inequality scan
      val bnlj = p.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(bnlj.forall(l => l.contains("__pid") || l.trim.endsWith("Cross")),
        s"$q has a data-scale conditional nested-loop join: $bnlj")
    }
    // SNM's only windows are the distributed-rank per-partition ranks
    val w288 = plan("q288_snm_dedup").linesIterator
      .filter(_.contains("Window [")).toSeq
    assert(w288.forall(_.contains("__pid")),
      s"q288 may only window per range-partition (the zip-with-index), got: $w288")
  }

  test("q296/q301/q303: bounded-round ops — final plan reads checkpoints, zero fact re-scans") {
    // maximal matching / MIS checkpoint the live edge frame per handshake
    // round; greedy coverage checkpoints the (doc, bigram) frame once and
    // the covered set per round. Dropping any checkpoint re-embeds the
    // upstream build 2^rounds× (the q268 lesson) — pin zero parquet scans
    // in the final executed plan.
    Seq("q296_maximal_matching", "q301_mis", "q303_greedy_coverage")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("Scan ExistingRDD"),
          s"$q must consume localCheckpointed rounds")
        assert(scanParquetCount(p) == 0,
          s"$q final plan re-reads base tables ${scanParquetCount(p)} times — a per-round checkpoint was dropped")
      }
  }

  test("q297/q299/q300/q302: new-op plans — blocked equi-joins, tolerated 1-row crosses only") {
    // q297's chain solve consumes checkpointed transition frames; the one
    // legitimate events scan is the conversion-cents 1-row broadcast
    val p297 = plan("q297_markov_attribution")
    assert(p297.contains("Scan ExistingRDD"),
      "q297 must consume the checkpointed transition/solve frames")
    assert(scanParquetCount(p297) == 1,
      s"q297 must scan events exactly once (conv cents); got ${scanParquetCount(p297)}")
    // q299's pair generator is a pure blocked equi-join — no cartesian, no
    // data-scale nested loop anywhere
    val p299 = plan("q299_fellegi_sunter")
    assert(!p299.contains("CartesianProduct") &&
      !p299.contains("BroadcastNestedLoopJoin"),
      "q299's blocked self-join degraded to a cross/inequality join")
    // q300: ordered-prefix statistic + a single argmax aggregate
    val p300 = plan("q300_change_point")
    assert(p300.contains("Window"), "q300 needs the prefix-sum window")
    assert(!p300.contains("CartesianProduct"), "q300")
    // q302: KMV sample is a top-k (TakeOrderedAndProject), never a full sort
    val p302 = plan("q302_kmv_setops")
    assert(p302.contains("TakeOrderedAndProject"),
      "q302's k-minimum sample must be a top-k, not a global sort")
    // the only nested-loop joins any of these may carry are 1-row
    // scalar-broadcast cross attaches (q300's carries the pushed k < n
    // filter against the 1-row {n, sn} build side — still a scalar cross)
    Seq("q297_markov_attribution", "q300_change_point",
      "q302_kmv_setops").foreach { q =>
      val bnlj = plan(q).linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(bnlj.forall(_.contains("Cross")),
        s"$q has a non-cross data-scale nested-loop join: $bnlj")
    }
  }

  test("q305: sweep-line — prefix sum stays range-partitioned, sessions checkpointed once") {
    // the concurrency sweep is Ranks.prefixSum (range repartition → per-
    // partition window → broadcast offsets); if it ever regresses to a
    // global ORDER BY window the whole event volume funnels through one
    // partition. Every window must be keyed (user_id sessionize or __pid
    // scan), and the prefixSum machinery must actually be present.
    val p = plan("q305_peak_concurrency")
    val wins = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(wins.nonEmpty, "q305 needs the sessionize + prefix-sum windows")
    wins.foreach(w => assert(w.contains("user_id") || w.contains("__pid"),
      s"q305 window lost its partitioning (single-partition scan): $w"))
    assert(wins.exists(_.contains("__pid")),
      "q305's sweep must ride Ranks.prefixSum (__pid window), not a global window")
    // session boundaries are localCheckpointed once and feed BOTH the
    // sweep and the n_sessions scalar — no events re-scan in the final plan
    assert(p.contains("Scan ExistingRDD"), "q305 must consume the checkpointed sessions")
    assert(scanParquetCount(p) == 0,
      s"q305 final plan re-reads events ${scanParquetCount(p)} times — the session checkpoint was dropped")
    // tolerated nested loops: the 1-row n_sessions cross and prefixSum's
    // triangular __pid offset join (metadata scale)
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach(l =>
      assert(l.contains("__pid") || l.contains("Cross"),
        s"q305 has a data-scale nested-loop join: $l"))
  }

  test("q308: croston — per-part fold is an aggregate, never a window scan") {
    // the SES smoothers run as ONE higher-order aggregate() fold over each
    // part's sorted week array inside a hash aggregate; a regression to a
    // running-recurrence window (the naive form) would show up as a Window
    // operator — q308 must have none.
    val p = plan("q308_croston")
    assert(!p.contains("Window"),
      "q308's fold regressed to a window recurrence — must stay a per-group aggregate() fold")
    // the aggregate() HOF itself lives in the ObjectHashAggregate's result
    // expressions (not printed), but its collect_list input is visible
    assert(p.contains("collect_list"),
      "q308 must fold over a per-part collect_list, not a row-at-a-time scan")
    // the only nested loop is the 1-row w0 anchor cross-attach
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach(l =>
      assert(l.contains("Cross"), s"q308 has a data-scale nested-loop join: $l"))
  }

  test("q317: jaro blocking is a pure equi-join; the comparator stays in codegen") {
    val p = plan("q317_jaro_linkage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q317's blocked self-join degraded to a cross/inequality join")
    assert(p.contains("jaro_winkler_ppm"),
      "q317 must score via the native comparator expression")
    // (codegen ≡ interpreted is pinned in JaroWinklerSpec; the AQE
    // pre-execution plan string carries no WholeStageCodegen spans)
  }

  test("q318: closure rollup consumes checkpointed labels — comparator never re-runs") {
    // labelPropagation localCheckpoints the label frame every round; the
    // final entity rollup must consume that materialization (one part
    // re-scan for the cents join) — if the checkpoint is dropped, the
    // blocked jaro join re-embeds 2^6 times in the assignment plan
    val p = plan("q318_entity_resolution")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q318's blocking degraded to a cross/inequality join")
    assert(!p.contains("jaro_winkler_ppm"),
      "q318 re-runs the comparator in the rollup plan — label checkpoint dropped")
    assert(p.contains("Scan ExistingRDD"), "q318 must consume the checkpointed labels")
    assert(scanParquetCount(p) == 1,
      s"q318 should re-scan only part for the cents join; got ${scanParquetCount(p)}")
  }

  test("q312/q235: group ranks ride Ranks.groupRank — no low-cardinality-keyed window") {
    // event_type has 5 distinct values, nation 25: a Window.partitionBy on
    // either caps parallelism at the key count with N/k-row sorts per task
    // (the straggler shape the q97 RFM rebuild eliminated). Both queries
    // must rank via the distributed range-sort (__pid windows only), and
    // the only nested loops allowed are the metadata-scale triangular
    // offset joins (__pid / group-key) — never a data-scale inequality.
    Seq("q312_trimmed_means", "q235_trimmed_mean").foreach { q =>
      val p = plan(q)
      // the ranked frame is localCheckpointed (four consumers in q312);
      // the assignment plan must consume that materialization — so the
      // rank's own __pid window is upstream of the checkpoint and any
      // window appearing HERE would be a regression to a group-keyed one
      assert(p.contains("Scan ExistingRDD"),
        s"$q must consume the checkpointed groupRank output")
      assert(scanParquetCount(p) == 0,
        s"$q re-reads its base table past the rank checkpoint")
      p.linesIterator.filter(_.contains("Window ")).foreach(w =>
        assert(w.contains("__pid"),
          s"$q window regressed to a low-cardinality group key: $w"))
      p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach(l =>
        assert(l.contains("__pid") || l.contains("et#") ||
          l.contains("nation#") || l.contains("Cross"),
          s"$q has a data-scale nested-loop join: $l"))
      // the rank machinery itself is pinned by RanksSpec + the gate; the
      // checkpoint hides it from this plan string by design
    }
  }

  test("q269/q278/q283: eps-join runs once — checkpointed out of the assignment plan") {
    // expected post-checkpoint base scans: the DBSCAN pair scans embeddings
    // once for the allIds spine; q283's weight join is checkpointed too
    Seq("q269_dbscan" -> 1, "q278_dbscan_lsh" -> 1,
      "q283_influential_communities" -> 0,
      "q290_ktruss" -> 0).foreach { case (q, scans) =>
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD"),
        s"$q must consume the checkpointed eps-graph")
      assert(!p.contains("array_dot") && !p.contains("hyperplane_sig"),
        s"$q re-scores pairs in the assignment plan — the eps-graph checkpoint was dropped")
      assert(scanParquetCount(p) == scans,
        s"$q must scan exactly $scans base tables post-checkpoint; got ${scanParquetCount(p)}")
    }
  }

  test("q319: k-th order statistic rides globalRank — every window keyed, crosses 1-row only") {
    val p = plan("q319_conformal_coverage")
    val wins = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(wins.nonEmpty, "q319 needs globalRank's __pid window")
    wins.foreach(w => assert(w.contains("__pid"),
      s"q319's rank regressed to an unkeyed window (single-partition sort): $w"))
    // tolerated nested loops: the 1-row n_cal/threshold cross-attaches and
    // globalRank's triangular __pid offset join (metadata scale)
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach(l =>
      assert(l.contains("__pid") || l.contains("Cross"),
        s"q319 has a data-scale nested-loop join: $l"))
    assert(!p.contains("CartesianProduct"),
      "q319 must never build a data-scale cartesian")
    // the scored frame is localCheckpointed once — rank, n_cal, and the
    // eval audit all consume the materialization, never a re-score scan
    assert(p.contains("Scan ExistingRDD"),
      "q319 must consume the checkpointed scored frame")
    assert(scanParquetCount(p) == 0,
      s"q319 re-scores documents ${scanParquetCount(p)} times — the checkpoint was dropped")
  }

  test("q322: top-k selection rides globalRank — no unkeyed window over the type table") {
    val p = plan("q322_hill_tail")
    val wins = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(wins.nonEmpty, "q322 needs the gram-build and globalRank windows")
    wins.foreach(w => assert(w.contains("doc_id") || w.contains("__pid"),
      s"q322 window lost its keying (single-partition sort over the type table): $w"))
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach(l =>
      assert(l.contains("__pid") || l.contains("Cross"),
        s"q322 has a data-scale nested-loop join: $l"))
  }

  test("q320: corpus tokenizes once — CDF grid consumed from the checkpoint") {
    // the (source, score) count table is localCheckpointed and consumed
    // three ways (grid, totals, per-source CDF); the final plan must read
    // ONLY the materialized table — a dropped checkpoint re-embeds the
    // ngram scoring scan per consumer
    val p = plan("q320_wasserstein_drift")
    assert(p.contains("Scan ExistingRDD"),
      "q320 must consume the checkpointed count table")
    assert(scanParquetCount(p) == 0,
      s"q320 re-reads documents ${scanParquetCount(p)} times — the count-table checkpoint was dropped")
    // windows here are over the metadata-scale score grid by design (the
    // q311/q313 count-table discipline), so no keying pin applies
  }

  /** A budgeted reader over [[Fixtures.wideCells]] with k capsules attached,
    * capsule c scored by the class `scorer(c)` (by default the expression
    * scorer `WideInc<c>`). */
  private def budgetedWide(k: Int, scorer: Int => String = c => s"graft.WideInc$c") = {
    import graft.engine.FreshReader
    import graft.model.{ColumnName, DataRequest}
    import graft.registry.FreshnessManager
    val table = Fixtures.wideCells(spark, 40, (i, c) => (i * (c + 3)) % 10L)
    val m = new FreshnessManager(n => if (n == "wide") Some(table.schema) else None)
    (0 until k).foreach(c => m.storePolicy("wide", ColumnName(s"g:c$c"),
      scorer(c), new graft.policy.NewerThan(5L)))
    (FreshReader.builder(m).withTable("wide", table).withAsOf(1000L).withBudgetRows(3).build(),
      DataRequest((0 until k).map(c => ColumnName(s"g:c$c"))))
  }

  test("budgeted freshen: non-reused exchanges and joins do not grow with the capsule count") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object walk extends AdaptiveSparkPlanHelper
    def counts(k: Int): (Int, Int) = {
      val (r, req) = budgetedWide(k)
      val df = r.freshenAll(req)
      df.queryExecution.toRdd.count()
      val p = df.queryExecution.executedPlan
      (walk.collectWithSubqueries(p) { case e: Exchange => e }.size,
        walk.collectWithSubqueries(p) { case j: BaseJoinExec => j }.size)
    }
    assert(counts(2) == counts(6))
  }

  test("budgeted expression freshen: no join, and two slice scans at any capsule count") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object walk extends AdaptiveSparkPlanHelper
    // (slice scans, joins) of the executed plan, subqueries included: the
    // main pass and the cutoff subquery each scan the slice once
    def shape(k: Int, scorer: Int => String = c => s"graft.WideInc$c"): (Int, Int) = {
      val (r, req) = budgetedWide(k, scorer)
      val df = r.freshenAll(req)
      df.queryExecution.toRdd.count()
      val p = df.queryExecution.executedPlan
      (walk.collectWithSubqueries(p) { case s: LocalTableScanExec => s }.size,
        walk.collectWithSubqueries(p) { case j: BaseJoinExec => j }.size)
    }
    assert(shape(2) == (2, 0))
    assert(shape(6) == (2, 0))
    // a scorer that is not an expression runs over its own rows and joins back
    assert(shape(3, c => if (c == 2) "graft.BranchedWideInc2" else s"graft.WideInc$c") == (3, 1))
  }

  test("budgeted freshen starts no job while its frame is built") {
    val (r, req) = budgetedWide(6)
    assert(JobLog.of(spark)(r.freshenAll(req)).jobs.isEmpty)
  }

  test("connectedComponents on stars: one job per checkpoint stage, no convergence probe, one round") {
    import spark.implicits._
    import graft.llmops.Dedup
    // three stars (centres 1, 10, 20, each the minimum of its star) and two
    // singletons: the one-hop seed already holds every final label, so one
    // confirming round follows it. Jobs: the edge checkpoint (1), the seed's
    // aggregation (2: shuffle map + result) and the round's join and
    // aggregation (3: broadcast + shuffle map + result). A separate
    // convergence probe or a second round adds jobs.
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 22L, 23L, 30L, 31L).toDF("id")
    val edges = Seq((1L, 2L), (3L, 1L), (1L, 4L), (10L, 11L), (12L, 10L),
      (20L, 21L), (22L, 20L), (20L, 23L)).toDF("id_a", "id_b")
    val log = JobLog.of(spark)(Dedup.connectedComponents(nodes, edges))
    assert(log.executions.size == 3, s"edge, seed and round checkpoints: $log")
    assert(log.jobs.size == 6, s"jobs: $log")
    assert(log.result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L,
        20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 30L -> 30L, 31L -> 31L))
  }

  test("TxStore.merge and delete: checkpoint, write and stats are their only SQL executions") {
    import spark.implicits._
    import graft.sources.TxStore
    // the touched-bucket set is observed during the checkpoint; a separate
    // bucket-collect job would be a fourth execution
    val dir = java.nio.file.Files.createTempDirectory("plan-tx").toString
    TxStore.init((0L until 50L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k", 8, Seq("k"))
    val merge = JobLog.of(spark)(
      TxStore.merge(spark, dir, Seq((3L, "x"), (60L, "y")).toDF("k", "v"), "k"))
    assert(merge.executions.size == 3, s"merge: $merge")
    assert(merge.executions.head.startsWith("localCheckpoint at TxStore.scala"), s"merge: $merge")
    val delete = JobLog.of(spark)(TxStore.delete(spark, dir, Seq(3L, 4L).toDF("k"), "k"))
    assert(delete.executions.size == 3, s"delete: $delete")
    assert(TxStore.currentVersion(dir) == 2)
  }

  test("TxStore.read starts no job; merge starts none outside a SQL execution") {
    import spark.implicits._
    import graft.sources.TxStore
    // reads take the manifest's schema, so no parquet footer-inference job
    // runs, for the snapshot read or for the zone maps of staged files
    val dir = java.nio.file.Files.createTempDirectory("plan-tx-schema").toString
    TxStore.init((0L until 50L).map(i => (i, s"v$i")).toDF("k", "v"), dir, "k", 8, Seq("k"))
    val read = JobLog.of(spark)(TxStore.read(spark, dir))
    assert(read.jobs.isEmpty, s"read: $read")
    val merge = JobLog.of(spark)(
      TxStore.merge(spark, dir, Seq((3L, "x"), (60L, "y")).toDF("k", "v"), "k"))
    assert(merge.jobs.nonEmpty && merge.jobs.forall(_.isDefined), s"merge: $merge")
    assert(TxStore.read(spark, dir).filter($"k" === 3L).as[(Long, String)].collect().toSeq ==
      Seq((3L, "x")))
  }
}
