package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.Spread
import TextOps._

/** Deduplication operators for large-scale text corpora: exact (content
  * hash), n-gram Jaccard (exact pairwise over a shingle inverted index),
  * MinHash+LSH banding (the 100 TB path), and SimHash.
  *
  * Scale design (the point, per the north star):
  *   - Exact dedup shuffles a 64-hex digest, never the document body.
  *   - Jaccard pairs build an inverted index on shingles; candidate
  *     generation is bounded by PPJoin-style prefix filtering (lossless,
  *     see [[jaccardPairs]]) and optionally a stop-shingle document
  *     frequency cap — a shingle in d docs otherwise contributes d²
  *     self-join rows (the classic quadratic blowup). Survivors rescore
  *     exactly over full shingle sets.
  *   - MinHash compresses each doc to k integers; LSH banding makes the
  *     candidate join equi-join-able on (band, key) — no pairwise work
  *     outside a bucket. All hashing is expression-level (codegen), mod-P
  *     arithmetic, no UDFs.
  *   - Connected components localCheckpoints every iteration (constant-size
  *     plans) and iterates only the edge-touched subgraph.
  */
object Dedup {

  /** Exact duplicate groups keyed by SHA-256 of the text. Returns one row per
    * distinct content: (text_sha, keep_id = min id, n_copies). */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol).cast("binary"), 256).as("text_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Tall distinct (id, shingle) inverted-index frame.
    *
    * Gram construction is ONE native codegen loop per document row
    * ([[org.apache.spark.sql.graft.TokenGramStrings]]) in the scan stage —
    * zero shuffles. It replaces the posexplode + window(`lead`) + global
    * distinct form, which paid an Exchange+Sort (the per-doc window) plus
    * a second Exchange (the distinct) per instantiation — and jaccard /
    * containment instantiate this twice. (An array HOF
    * `transform`+`slice` chain was measured ~10× slower per element in an
    * earlier round — interpreted lambdas; the custom expression is the
    * codegen-native form of the same zero-shuffle idea.) Per-doc in-row
    * dedup equals the old global (id, s) distinct because every caller
    * passes unique doc ids.
    *
    * Deliberately NOT Spread here: a blanket Spread measured as noise on
    * the jaccard/containment family (their first exchange comes early
    * enough), echoing the r13 rejection; callers whose downstream partial
    * aggregations are heavy and exchange-free (e.g. [[incrementalDedup]])
    * spread their OWN doc frame. */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(graft.functions.GraftFunctions.tokenGrams(
        tokens(col(textCol)), n)).as("s"))

  /** Cross-document duplicated-span coverage — the substring-level dedup
    * signal (the "dedup training data at the substring level" recipe:
    * find spans that recur verbatim across documents and measure how much
    * of each document they cover). A position is covered when any token
    * `n`-gram starting at or spanning it also occurs in at least one OTHER
    * document; coverage is counted over distinct token positions, so
    * overlapping duplicated grams are not double-counted. Within-document
    * repetition alone does NOT count (that is repetition profiling's job —
    * this operator isolates cross-document contamination).
    *
    * Scale: grams are sha-256'd before any shuffle (the shuffle carries a
    * fixed-width digest, never text); document frequency is one (gram)
    * aggregation; coverage is one (id, pos) distinct + one (id) count.
    * Returns one row per document: (id, n_tokens, n_dup_positions,
    * dup_permille) with dup_permille = ⌊1000·covered/n_tokens⌋ in integer
    * arithmetic. */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val tall = docs.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("id").orderBy("pos")
    val parts = col("tok") +: (1 until n).map(i => lead(col("tok"), i).over(w).as(s"t$i"))
    val grams = tall.select((col("id") +: col("pos") +: parts): _*)
      .filter(if (n == 1) lit(true) else col(s"t${n - 1}").isNotNull)
      .select(col("id"), col("pos"),
        sha2(concat_ws(" ", (col("tok") +: (1 until n).map(i => col(s"t$i"))): _*)
          .cast("binary"), 256).as("g"))
    // document frequency per gram (distinct docs containing it)
    val df = grams.select("id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("gdf"))
    // token positions covered by any gram present in >= 2 documents
    val covered = grams.join(df.filter(col("gdf") >= 2).select("g"), "g")
      .select(col("id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
      .groupBy("id").agg(count(lit(1)).as("n_dup_positions"))
    docs.select(col(idCol).as("id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .withColumn("n_dup_positions", coalesce(col("n_dup_positions"), lit(0L)))
      .withColumn("dup_permille",
        when(col("n_tokens") > 0,
          expr("(n_dup_positions * 1000) div n_tokens")).otherwise(lit(0L)))
  }

  /** INTRA-document repeated-span coverage — the self-repetition signal
    * ([[dupSpanCoverage]]'s complement: that operator isolates
    * cross-document contamination and deliberately ignores within-doc
    * repeats; this one measures exactly those). A position is covered when
    * it sits inside an `n`-gram occurrence whose identical gram already
    * occurred EARLIER in the same document — the "remove repeated
    * generations" / looping-decoder signal a curation pipeline gates on.
    * First occurrences never count, so a clean document scores zero.
    *
    * Scale: every aggregation keys on (id) or (id, gram) — the work is
    * per-document and embarrassingly parallel; grams are sha-256'd before
    * the shuffle (fixed-width digests, never text). Returns one row per
    * document: (id, n_tokens, n_repeat_positions, repeat_permille). */
  def selfRepeatCoverage(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val tall = docs.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy("id").orderBy("pos")
    val parts = col("tok") +: (1 until n).map(i => lead(col("tok"), i).over(w).as(s"t$i"))
    val grams = tall.select((col("id") +: col("pos") +: parts): _*)
      .filter(if (n == 1) lit(true) else col(s"t${n - 1}").isNotNull)
      .select(col("id"), col("pos"),
        sha2(concat_ws(" ", (col("tok") +: (1 until n).map(i => col(s"t$i"))): _*)
          .cast("binary"), 256).as("g"))
      .persist() // occurrence stream feeds the first-position agg AND the probe
    val firsts = grams.groupBy("id", "g").agg(min("pos").as("first_pos"))
    val covered = grams.join(firsts, Seq("id", "g"))
      .filter(col("pos") > col("first_pos"))
      .select(col("id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
      .groupBy("id").agg(count(lit(1)).as("n_repeat_positions"))
    docs.select(col(idCol).as("id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .withColumn("n_repeat_positions", coalesce(col("n_repeat_positions"), lit(0L)))
      .withColumn("repeat_permille",
        when(col("n_tokens") > 0,
          expr("(n_repeat_positions * 1000) div n_tokens")).otherwise(lit(0L)))
  }

  /** Corpus-wide VERBATIM chunk dedup — the C4-style "remove any repeated
    * span, keep one copy" operator (Raffel et al. 2020 dropped any
    * three-sentence span occurring more than once; this corpus has no
    * sentence boundaries, so the unit is a non-overlapping `chunkLen`-token
    * chunk, trailing partial chunk included). The FIRST occurrence in
    * (doc id, chunk index) order keeps the chunk; every later verbatim
    * copy anywhere in the corpus is dropped, and each document is
    * reassembled from its surviving chunks in order.
    *
    * Differs from [[dupSpanCoverage]] (measures overlap, removes nothing)
    * and [[selfRepeatCoverage]] (within-doc only): this one REWRITES the
    * corpus, the mutation C4 actually applies before training.
    *
    * Scale: chunk lists are built scan-side from the token array (no
    * window over positions); the keep/drop decision is one rank window
    * keyed on the chunk digest (fixed-width SHA-256 — high cardinality,
    * partitions evenly); reassembly is one per-document aggregation whose
    * state is bounded by document length. Nothing is ever compared
    * pairwise. Returns (id, n_chunks, n_kept, kept_sha) where kept_sha is
    * SHA-256 of the reassembled text — the gate proves the rewrite
    * byte-for-byte without shipping bodies to the output. */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
      chunkLen: Int): DataFrame = {
    require(chunkLen >= 1, s"chunkLen must be >= 1, got $chunkLen")
    val chunks = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("id"), posexplode(expr(
        s"""transform(sequence(0, (size(t) - 1) div $chunkLen),
           |          c -> array_join(slice(t, c * $chunkLen + 1, $chunkLen), ' '))"""
          .stripMargin)).as(Seq("cidx", "ctext")))
      .withColumn("g", sha2(col("ctext").cast("binary"), 256))
    // first corpus-wide occurrence of a digest keeps its chunk
    val w = Window.partitionBy("g").orderBy("id", "cidx")
    val flagged = chunks.withColumn("kept", row_number().over(w) === 1)
    val rebuilt = flagged.groupBy("id").agg(
      count(lit(1)).as("n_chunks"),
      sum(col("kept").cast("long")).as("n_kept"),
      sha2(array_join(
        transform(
          filter(sort_array(collect_list(struct(col("cidx"), col("kept"),
            col("ctext")))), x => x.getField("kept")),
          x => x.getField("ctext")), " ").cast("binary"), 256).as("kept_sha"))
    // empty documents surface with zero chunks and the empty-text digest
    docs.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_sha"),
          sha2(lit("").cast("binary"), 256)).as("kept_sha"))
  }

  /** N-gram Jaccard similarity for pairs clearing `minJaccard`, with two
    * candidate-bounding knobs for the 100 TB path:
    *
    *   - `prefixFilter` (PPJoin-style prefix filtering, Xiao et al. 2008):
    *     rank each doc's shingles rarest-first (by document frequency, then
    *     shingle) and self-join only the first `n_sh − ⌈t·n_sh⌉ + 1` of
    *     them. PROVABLY LOSSLESS for Jaccard ≥ t under a global shingle
    *     order: two sets with J ≥ t must share a prefix element. Candidates
    *     then rescore EXACTLY over full shingle sets, so the output is
    *     bit-identical to the all-pairs form — a plan change, not a
    *     semantics change (verified: 25/25 pairs at sf0.01, 256/256 at
    *     sf0.1, zero missed).
    *   - `maxShingleDocFreq`: drops shingles with document frequency > cap
    *     from the CANDIDATE index only (stop-shingle guard; bounds the
    *     self-join at cap² rows per shingle). Rescore stays exact, so the
    *     only semantic effect is dropping pairs whose every shared shingle
    *     is a stop-shingle.
    *
    * COMBINED mode (both knobs) loses nothing beyond the cap alone, even
    * though the prefix (length `n_sh − ⌈t·n_sh⌉ + 1`, from the FULL set
    * size) is applied to the capped index. Proof: for doc A let c_A =
    * n_sh^A − n_c^A be the count of capped-away shingles. J(A,B) ≥ t
    * implies full overlap ≥ ⌈t·n_sh^A⌉, so capped overlap o_c ≥ α_A :=
    * ⌈t·n_sh^A⌉ − c_A. The prefix keeps the first n_sh^A − ⌈t·n_sh^A⌉ + 1
    * = n_c^A − α_A + 1 capped shingles — exactly the PPJoin prefix for
    * required overlap α_A — so by the prefix lemma (global (df, s) order,
    * o_c ≥ max(α_A, α_B)) the two prefixes share a shingle whenever
    * o_c ≥ 1; if α_A ≤ 0 the prefix is the whole capped set. Pairs with
    * o_c = 0 are exactly the cap's own documented loss. Pinned by
    * PropertySpec ("prefix+cap ≡ cap-only").
    *
    * With neither knob, all pairs sharing ≥1 shingle are scored — the
    * exact baseline, quadratic on any stop-shingle (d² join rows for a
    * shingle in d docs); use the knobs beyond toy scale. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String, n: Int,
      minJaccard: Double, maxShingleDocFreq: Option[Int] = None,
      prefixFilter: Boolean = false): DataFrame = {
    val sh = shingleIndex(docs, idCol, textCol, n)
    if (maxShingleDocFreq.isEmpty && !prefixFilter) {
      // exact all-pairs baseline: index feeds both join sides + sizes —
      // persist so the tokenize/window stage runs once (session-lifetime
      // cache; unpersist from the caller once results are final)
      val shP = sh.persist()
      val sizes = shP.groupBy("id").agg(count(lit(1)).as("n_sh"))
      shP.as("a")
        .join(shP.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("n_inter"))
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard",
          col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
        .filter(col("jaccard") >= minJaccard)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
    } else {
      // One aggregated per-doc frame serves prefix selection, set sizes AND
      // the exact-rescore sets (the window-rank + separate sizes/docSets
      // aggregations it replaces cost three extra shuffles and two
      // WindowExecs): items = the doc's shingles sorted by the global
      // (df, s) order as a struct array — sort_array on array<struct> is
      // lexicographic by field, exactly the PPJoin prefix order — and the
      // full shingle-string set extracted via native GetArrayStructFields
      // (no lambda anywhere on this path).
      val withDf = maxShingleDocFreq match {
        case Some(_) =>
          // the cap filter needs every shingle's exact df — keyed join
          val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
          sh.join(dfreq, "s")
        case None =>
          // No cap ⇒ df only ORDERS the prefix, and a shingle absent from
          // the duplicated set has df = 1 by definition — so broadcast
          // only the df ≥ threshold shingles (threshold 2 ⇒ df is exact
          // everywhere ⇒ candidate set IDENTICAL to the keyed join) and
          // default the rest to 1, instead of shuffling the full shingle
          // stream by s to attach a rank key (guide §2.4/§3.1). At real
          // scale raise spark.graft.ppjoin.hotDfThreshold so the
          // broadcast holds only true stop-shingles: rare shingles then
          // tie at df = 1 and order by s — still a global total order, so
          // prefix filtering stays lossless and RESULTS are unchanged
          // (exact rescore); only candidate counts drift.
          val thr = docs.sparkSession.conf
            .get("spark.graft.ppjoin.hotDfThreshold", "2").toLong
          val hot = sh.groupBy("s").agg(count(lit(1)).as("df"))
            .filter(col("df") >= thr)
          sh.join(broadcast(hot), Seq("s"), "left")
            .select(col("id"), col("s"), coalesce(col("df"), lit(1L)).as("df"))
      }
      val perDoc = withDf
        .groupBy("id")
        .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("items"))
        .withColumn("n_sh", size(col("items")).cast("long"))
        .withColumn("ss", col("items").getField("s"))
        .persist() // feeds candIdx + both rescore sides; caller unpersists
      // cap drops stop-shingles from the CANDIDATE index only (filter
      // preserves the sorted order); prefix length n_sh − ⌈t·n_sh⌉ + 1
      // uses the FULL set size (combined-mode losslessness proof above)
      val cappedItems = maxShingleDocFreq match {
        case Some(c) => filter(col("items"), x => x.getField("df") <= c)
        case None => col("items")
      }
      val candItems =
        if (!prefixFilter) cappedItems
        else slice(cappedItems, lit(1),
          greatest(lit(1L), col("n_sh") - ceil(lit(minJaccard) * col("n_sh")) + 1).cast("int"))
      val candIdx = perDoc
        .select(col("id"), explode(candItems).as("item"))
        .select(col("id"), col("item").getField("s").as("s"))
      val cand = candIdx.as("a")
        .join(candIdx.as("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      // exact rescore: one fused array_intersect per candidate pair over
      // the full shingle sets (cost ∝ candidates · set size, no joins
      // proportional to d²)
      cand
        .join(perDoc.select(col("id").as("id_a"), col("ss").as("ss_a"),
          col("n_sh").as("n_a")), "id_a")
        .join(perDoc.select(col("id").as("id_b"), col("ss").as("ss_b"),
          col("n_sh").as("n_b")), "id_b")
        .withColumn("n_inter", size(array_intersect(col("ss_a"), col("ss_b"))).cast("long"))
        .withColumn("jaccard",
          col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
        .filter(col("jaccard") >= minJaccard)
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
    }
  }

  /** DIRECTED n-gram containment pairs — the asymmetric near-dup signal
    * symmetric Jaccard misses: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|. A short
    * document quoted or aggregated inside a much longer one scores
    * containment ≈ 1 while its Jaccard stays far below any dedup
    * threshold (the |B|-dominated denominator) — this is the "partial
    * mirror / quote page" detector (the one-sided form of the same
    * shingle overlap [[jaccardPairs]] scores symmetrically).
    *
    * Candidate bounding is the ASYMMETRIC prefix filter: only the
    * contained side A is prefix-truncated. Required overlap α_A =
    * ⌈t·n_A⌉ depends on A alone, so indexing A's first
    * n_A − α_A + 1 shingles in the global rarest-first (df, s) order
    * against B's FULL set is lossless: if none of those prefix shingles
    * hit sh(B), the ≤ α_A − 1 remaining ones cannot reach α_A. Survivors
    * rescore exactly over full shingle sets — a plan bound, not a
    * semantics change. Both directions of a pair emerge independently
    * (A ⊂ B does not imply B ⊂ A).
    *
    * Scale: index rows ∝ Σ(n_A − ⌈t·n_A⌉ + 1) ≈ (1−t)·corpus shingles on
    * the probe side; the build side is the full inverted index (same
    * frame [[jaccardPairs]] already materializes). The rescore is one
    * fused array_intersect per candidate. Returns directed
    * (id_a, id_b, n_inter, n_a, containment) rows with id_a ≠ id_b and
    * containment ≥ minContainment.
    *
    * `maxShingleDocFreq` (LOSSY, like [[jaccardPairs]]'s knob): drops
    * shingles with document frequency > cap from BOTH candidate sides
    * (probe prefix and build index) — a stop shingle in d docs would
    * otherwise fan out d candidate rows per probe hit. May miss pairs
    * whose only common shingles are stop shingles; the exact rescore
    * still uses full sets, so survivors' scores are exact.
    *
    * Persists an intermediate per-doc frame for the run (feeds probe,
    * build, and both rescore sides); unpersist from the caller once
    * results are final — same contract as [[jaccardPairs]]. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minContainment: Double,
      maxShingleDocFreq: Option[Int] = None): DataFrame = {
    val sh = shingleIndex(docs, idCol, textCol, n)
    // same hot-shingle broadcast trick as [[jaccardPairs]]: with no cap,
    // df only orders the prefix, and every shingle outside the duplicated
    // (df ≥ 2) set has df = 1 by definition — broadcast the duplicated
    // set instead of shuffling the full shingle stream by s. The cap path
    // keeps the keyed join (its filter needs every exact df).
    val withDf = maxShingleDocFreq match {
      case Some(_) =>
        val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
        sh.join(dfreq, "s")
      case None =>
        val thr = docs.sparkSession.conf
          .get("spark.graft.ppjoin.hotDfThreshold", "2").toLong
        val hot = sh.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") >= thr)
        sh.join(broadcast(hot), Seq("s"), "left")
          .select(col("id"), col("s"), coalesce(col("df"), lit(1L)).as("df"))
    }
    val perDoc = withDf
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("items"))
      .withColumn("n_sh", size(col("items")).cast("long"))
      .withColumn("ss", col("items").getField("s"))
      .persist() // feeds probe prefix, full build index, and both rescore sides
    // cap drops stop-shingles from the CANDIDATE frames only (filter
    // preserves the (df, s) sorted order); prefix length uses the FULL
    // set size, so the un-capped prefix bound still holds for every
    // shingle that survives the cap
    val cappedItems = maxShingleDocFreq match {
      case Some(c) => filter(col("items"), x => x.getField("df") <= c)
      case None => col("items")
    }
    // probe side: A's prefix of length n_A − ⌈t·n_A⌉ + 1 in (df, s) order
    val probeIdx = perDoc
      .select(col("id"), explode(slice(cappedItems, lit(1),
        greatest(lit(1L),
          col("n_sh") - ceil(lit(minContainment) * col("n_sh")) + 1).cast("int")))
        .as("item"))
      .select(col("id"), col("item").getField("s").as("s"))
    // build side: the full inverted index (containment puts no lower bound
    // on B's overlap fraction, so B may not be PREFIX-truncated; the df
    // cap, when set, applies here too — candidates only, rescore exact)
    val buildIdx = perDoc
      .select(col("id"), explode(cappedItems).as("item"))
      .select(col("id"), col("item").getField("s").as("s"))
    val cand = probeIdx.as("a")
      .join(buildIdx.as("b"), col("a.s") === col("b.s") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(perDoc.select(col("id").as("id_a"), col("ss").as("ss_a"),
        col("n_sh").as("n_a")), "id_a")
      .join(perDoc.select(col("id").as("id_b"), col("ss").as("ss_b")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("ss_a"), col("ss_b"))).cast("long"))
      .withColumn("containment",
        col("n_inter").cast("double") / col("n_a").cast("double"))
      .filter(col("containment") >= minContainment)
      .select("id_a", "id_b", "n_inter", "n_a", "containment")
  }

  /** Tall distinct (id, tid) token-id frame, ids from streaming xxhash64 —
    * the scale path (no dictionary materialization). */
  def tokenIdsByHash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(array_distinct(tokens(col(textCol)))).as("tok"))
      .select(col("id"), hashTokenId(col("tok")).as("tid"))

  /** Token ids from a dense dictionary (row_number over sorted distinct
    * tokens). Cross-engine deterministic — used by the oracle queries; at
    * scale prefer [[tokenIdsByHash]] (the dictionary costs an extra shuffle
    * and a global sort of the vocabulary). */
  def tokenIdsByDictionary(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tall = docs.select(col(idCol).as("id"),
      explode(array_distinct(tokens(col(textCol)))).as("tok"))
    tall.join(tokenDictionary(docs, textCol), "tok").select("id", "tid")
  }

  /** Dense token dictionary (tok, tid): tid = 1-based rank of the token in
    * the sorted vocabulary, computed as a DISTRIBUTED zip-with-index — a
    * range repartition (distributed sort), a per-partition row_number, and
    * broadcast cumulative partition offsets. No global single-partition
    * window anywhere: the only unpartitioned window runs over one row per
    * shuffle partition (≤ spark.sql.shuffle.partitions rows). Deterministic
    * regardless of where the range sampler places partition boundaries —
    * range partitions are totally ordered, so offset + in-partition rank is
    * the global rank. */
  def tokenDictionary(docs: DataFrame, textCol: String): DataFrame = {
    // distributed zip-with-index via the shared Ranks operator (range
    // partition + per-partition rank + broadcast offsets; the persist-pinned
    // single range sampling is documented there) — no single-partition
    // window; cache released by the caller's clearCache discipline
    val vocab = docs.select(explode(array_distinct(tokens(col(textCol)))).as("tok")).distinct()
    graft.operators.Ranks.globalRank(vocab, "tid", col("tok"))
      .select(col("tok"), col("tid"))
  }

  /** MinHash signature, tall form: (id, i, mh) for i ∈ [0, k) with
    * `mh = min_t h_i(t)` over the doc's token ids.
    *
    * One hash-aggregation pass with k parallel `min` columns, then a
    * `stack` back to tall — NOT an explode×k before the groupBy: the
    * explode form generates k·|tokenIds| rows through the generator and
    * k-times-wider partial-agg hash tables for the same k·|tokenIds| hash
    * evaluations; here the generated row count is k·|docs| (post-agg). */
  def minhash(tokenIds: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i => min(hashI(lit(i.toLong), col("tid"))).as(s"mh$i"))
    val stackExpr = (0 until k).map(i => s"${i}L, mh$i")
      .mkString(s"stack($k, ", ", ", ")")
    tokenIds.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), expr(stackExpr).as(Seq("i", "mh")))
  }

  /** LSH banding over a tall minhash frame: docs agreeing on ALL rows of a
    * band share a bucket; emits distinct candidate pairs (id_a < id_b).
    * The band key is the ordered comma-join of the band's minhash values, so
    * the candidate search is a pure equi-join on (band, key). */
  def lshCandidates(minhashTall: DataFrame, rowsPerBand: Int): DataFrame =
    lshCandidatesSampled(minhashTall, rowsPerBand, 1L)

  /** [[lshCandidates]] with a deterministic 1/`sampleMod` pair sample
    * (mixed-id arithmetic, no RNG) applied BEFORE the distinct — for
    * audit-style consumers that need a representative candidate subset,
    * the join's pair stream is thinned ahead of the dedup shuffle, so
    * cost scales with the sampled fraction, not the full collision
    * volume. `sampleMod = 1` keeps every pair. */
  def lshCandidatesSampled(minhashTall: DataFrame, rowsPerBand: Int,
      sampleMod: Long): DataFrame = {
    // persisted: both self-join sides would otherwise recompute the whole
    // tokenize→minhash pipeline (session-lifetime cache; unpersist from the
    // caller once results are final)
    val banded = minhashTall
      .withColumn("band", expr(s"i div $rowsPerBand"))
      .groupBy("id", "band")
      .agg(array_join(transform(array_sort(collect_list(struct(col("i"), col("mh")))),
        x => x.getField("mh").cast("string")), ",").as("bkey"))
      .persist()
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    (if (sampleMod <= 1L) pairs
     else pairs.filter(
       pmod(col("id_a") * 1000003L + col("id_b"), lit(sampleMod)) === 0))
      .distinct()
  }

  /** WEIGHTED (multiset) Jaccard rescore of a candidate pair frame:
    * J_w = Σ_t min(c_a(t), c_b(t)) / Σ_t max(c_a(t), c_b(t)) over token
    * COUNTS — the bag-of-words similarity that stays honest on
    * template-heavy corpora where set-Jaccard saturates (a doc repeating
    * one boilerplate paragraph five times shares its full token SET with
    * a single-copy doc, but only ~1/5 of its token mass). Σmax folds to
    * tot_a + tot_b − Σmin, so the per-pair work is ONE native merge loop
    * over the two sorted token bags (each bounded by doc length); the
    * pair stream carries two token arrays + two totals, never raw text
    * (the bag IS the tokenized text — at 100 TB pre-filter `docs` to the
    * pair-referenced ids before calling, as below). The bags are built
    * over the whole doc frame — at 100 TB a caller whose candidate pairs
    * touch a sliver of the corpus should pre-filter `docs` to the docs
    * its pairs reference (a checkpointed-candidate semi-join) before
    * calling; on the declared q287 data the sampled LSH candidates cover
    * essentially every doc, so the filter would add a pass and remove
    * nothing (measured round 13). Returns exact integer pieces
    * (wj_num, wj_den, wj_ppm = num·1e6 div den). */
  def weightedJaccardRescore(docs: DataFrame, idCol: String, textCol: String,
      cand: DataFrame): DataFrame = {
    // Each doc travels as its SORTED full token array, built entirely in
    // the scan stage (array_sort per row — no explode, no groupBy: the
    // count-map form paid two aggregation exchanges just to build maps).
    // Σ_t min(c_a(t), c_b(t)) over two sorted bags is one native merge
    // loop per pair (SortedBagIntersectSize, codegen) — it replaces the
    // map_zip_with → map_values → aggregate chain, three interpreted
    // higher-order expressions materializing a zipped map per pair
    // (guide §4: no non-codegen expressions in the per-pair hot path).
    // Spread: tokenize+sort runs in the scan stage — one task on a
    // single-row-group parquet otherwise (plan-time no-op at real scale)
    val bag = Spread.spread(docs).select(col(idCol).as("id"),
      array_sort(tokens(col(textCol))).as("bg"))
      .select(col("id"), col("bg"), size(col("bg")).cast("long").as("t"))
    cand
      .join(bag.select(col("id").as("id_a"), col("bg").as("bg_a"),
        col("t").as("ta")), "id_a")
      .join(bag.select(col("id").as("id_b"), col("bg").as("bg_b"),
        col("t").as("tb")), "id_b")
      .withColumn("wj_num", graft.functions.GraftFunctions
        .sortedBagIntersectSize(col("bg_a"), col("bg_b")))
      .withColumn("wj_den", col("ta") + col("tb") - col("wj_num"))
      .select(col("id_a"), col("id_b"), col("wj_num"), col("wj_den"),
        expr("wj_num * 1000000L div wj_den").as("wj_ppm"))
  }

  /** Incremental dedup — the PRODUCTION ingestion shape at 100 TB: an
    * already-deduplicated corpus keeps its LSH band index materialized, and
    * each arriving delta batch probes that index instead of re-deduping the
    * world. Delta docs' band keys equi-join the corpus index; colliding
    * pairs rescore with exact Jaccard over the full token sets; each delta
    * doc reports its candidate count, best corpus match (highest Jaccard,
    * tie: lowest corpus id) and the `is_dup` admission verdict.
    *
    * `deltaPred` (over the `id` column) marks the delta slice; everything
    * else is the index. Signatures minhash the doc's `n`-gram SHINGLE set
    * (the discriminative unit — token sets saturate on a small vocabulary).
    * Shingle ids are the first 48 bits of md5(shingle), computed in the
    * scan stage: cross-engine deterministic (DuckDB decodes the same hex
    * prefix) and APPEND-ONLY as the corpus grows — no shared dictionary,
    * so ingest never rebuilds or shuffles a vocabulary, which is what
    * makes the index incrementally maintainable.
    *
    * Scale: the corpus index is |corpus|·bands rows of (band, bkey) — tiny
    * next to the text, shuffle-keyed on the band key exactly like
    * [[lshCandidates]]; the rescore joins token sets only for colliding
    * pairs. Cost per batch ∝ |delta| + collisions, never |corpus|².
    * Returns (id, n_candidates, best_match, best_jaccard, is_dup) for
    * every delta doc. */
  def incrementalDedup(docs: DataFrame, idCol: String, textCol: String,
      deltaPred: Column, n: Int, minhashK: Int, rowsPerBand: Int,
      minJaccard: Double): DataFrame = {
    // Spread: the md5 shingle-id build and both consumers' partial
    // aggregations (collect_set, 32 minhash mins) run in the scan stage —
    // one task on a single-row-group parquet otherwise (plan-time no-op
    // at real scale). (Persisting this stream instead was measured slower
    // — the gram materialization costs more than recomputing it per
    // consumer.)
    val ids = shingleIndex(Spread.spread(docs), idCol, textCol, n)
      .select(col("id"), conv(substring(md5(col("s").cast("binary")), 1, 12),
        16, 10).cast("long").as("tid"))
    // full shingle-id sets + sizes for the exact rescore (sorted for a
    // deterministic array payload; intersections are size-bounded)
    val sets = ids.groupBy("id")
      .agg(sort_array(collect_set(col("tid"))).as("ts"))
      .withColumn("n_t", size(col("ts")).cast("long"))
      .persist() // feeds both rescore sides; session-lifetime cache
    val bands = minhash(ids, minhashK)
      .withColumn("band", expr(s"i div $rowsPerBand"))
      .groupBy("id", "band")
      .agg(array_join(transform(array_sort(collect_list(struct(col("i"), col("mh")))),
        x => x.getField("mh").cast("string")), ",").as("bkey"))
      .persist() // delta probe + corpus index share one computation
    val cand = bands.filter(deltaPred).as("d")
      .join(bands.filter(!deltaPred).as("c"),
        col("d.band") === col("c.band") && col("d.bkey") === col("c.bkey"))
      .select(col("d.id").as("id"), col("c.id").as("cand_id"))
      .distinct()
    val rescored = cand
      .join(sets.select(col("id"), col("ts").as("ts_d"), col("n_t").as("n_d")), "id")
      .join(sets.select(col("id").as("cand_id"), col("ts").as("ts_c"),
        col("n_t").as("n_c")), "cand_id")
      .withColumn("n_inter", size(array_intersect(col("ts_d"), col("ts_c"))).cast("long"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_d") + col("n_c") - col("n_inter")).cast("double"))
    // best match + candidate count share ONE per-delta-doc partitioning
    val w = Window.partitionBy("id")
    val best = rescored
      .withColumn("rn", row_number().over(
        w.orderBy(col("jaccard").desc, col("cand_id"))))
      .withColumn("n_candidates", count(lit(1)).over(w))
      .filter(col("rn") === 1)
    docs.select(col(idCol).as("id")).filter(deltaPred)
      .join(best.select(col("id"), col("n_candidates"), col("cand_id"),
        col("jaccard")), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("cand_id"), lit(-1L)).as("best_match"),
        coalesce(col("jaccard"), lit(0.0)).as("best_jaccard"),
        (coalesce(col("jaccard"), lit(0.0)) >= minJaccard).as("is_dup"))
  }

  /** Cross-source duplication matrix — mirror-site detection: near-dup
    * document pairs ([[jaccardPairs]]' lossless prefix-filtered exact
    * machinery) aggregated by UNORDERED source pair. A heavy off-diagonal
    * cell means two domains mirror each other's content (syndication,
    * scraped re-hosting); a heavy diagonal cell is intra-source
    * templating. The report a curation run reads before deciding which
    * source of a mirrored pair to keep.
    *
    * Scale: pair generation is the bucketed [[jaccardPairs]] path (never
    * all-pairs); the matrix aggregation keys on (source_lo, source_hi) —
    * at most |sources|² rows out. Returns
    * (source_lo, source_hi, n_pairs, n_docs). */
  def crossSourceDupMatrix(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, n: Int, minJaccard: Double): DataFrame = {
    val pairs = jaccardPairs(docs, idCol, textCol, n, minJaccard,
      prefixFilter = true)
    val src = docs.select(col(idCol).as("id"), col(sourceCol).as("source"))
    val lab = pairs
      .join(src.select(col("id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"),
        col("id_a"), col("id_b"))
    val np = lab.groupBy("source_lo", "source_hi").agg(count(lit(1)).as("n_pairs"))
    val nd = lab.select(col("source_lo"), col("source_hi"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy("source_lo", "source_hi").agg(countDistinct("id").as("n_docs"))
    np.join(nd, Seq("source_lo", "source_hi"))
  }

  /** Connected components by iterative min-label propagation: every node
    * ends up labeled with the smallest node id in its component — the
    * canonical-document assignment for near-dup clusters (edges from
    * [[jaccardPairs]] or [[lshCandidates]]).
    *
    * Each iteration is one join + one aggregation (shuffles on node id)
    * and ONE job: its convergence sum is observed while its checkpoint
    * runs. Labels start one hop out, so a graph of diameter d needs d
    * iterations after the seed, the last one confirming — near-dup graphs
    * are near-cliques and stars, so 1-2 in practice. `maxIter` counts the
    * seed as the first iteration. For billion-edge general graphs use
    * [[connectedComponentsStars]] (O(log² n) rounds at any diameter); the
    * declared surface only needs diameter-bounded dup clusters. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // Lineage discipline (the thing that makes iterative dataflow viable on
    // Spark): `labels` feeds BOTH branches of each iteration (union + join),
    // so its logical plan would DOUBLE per iteration — by iteration k the
    // driver is analyzing 2^k copies of the upstream edge pipeline, and
    // planning time dwarfs execution. `localCheckpoint` (eager) materializes
    // each frame once and truncates its plan to a leaf, keeping every
    // iteration's plan constant-size. (GraphFrames checkpoints its CC
    // iterations for the same reason; on a real cluster swap in reliable
    // `checkpoint` — executor loss discards local checkpoint blocks.)
    val e = edges.select("id_a", "id_b").localCheckpoint() // edge pipeline runs ONCE
    val bidir = e.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(e.select(col("id_b").as("src"), col("id_a").as("dst")))
    // Labels only ever decrease, so an unchanged Σlbl means no label
    // changed: an exact fixpoint test that needs no join with the previous
    // labels, observed during the checkpoint that materializes them.
    // Decimal accumulation: a 64-bit sum of ids overflows under ANSI.
    def total(c: String): Column = coalesce(sum(col(c).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)"))
    // Iterate over the edge-TOUCHED subgraph only: a node with no edge is
    // its own component by definition and joins the result at the end. At
    // corpus scale the dup graph is a vanishing fraction of the node set —
    // propagation shuffles ∝ |dup graph| per iteration, not ∝ |corpus|.
    // The seed is already one hop out (each touched node's closed-
    // neighbourhood minimum); Σid is the sum of the identity labels one
    // hop earlier, so the seed converges at once when no edge lowers one.
    val (seed, s0) = Materialize.observed(
      bidir.groupBy("src").agg(least(col("src"), min("dst")).as("lbl"))
        .select(col("src").as("id"), col("lbl")),
      total("lbl"), total("id"))
    var labels = seed
    var prevSum = s0.getDecimal(0)
    var converged = maxIter >= 1 && prevSum.compareTo(s0.getDecimal(1)) == 0
    var iter = 1
    while (!converged && iter < maxIter) {
      val prop = bidir.join(labels, bidir("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"))
      val (next, s) = Materialize.observed(
        labels.select("id", "lbl").unionByName(prop)
          .groupBy("id").agg(min("lbl").as("lbl")),
        total("lbl"))
      labels = next // superseded checkpoint blocks are freed by the ContextCleaner
      val cur = s.getDecimal(0)
      converged = cur.compareTo(prevSum) == 0
      prevSum = cur
      iter += 1
    }
    // A truncated run must not masquerade as correct components: at the cap
    // without the fixpoint, some labels are provably non-minimal.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within maxIter=$maxIter " +
        "(graph diameter exceeds the iteration budget; raise maxIter or use " +
        "connectedComponentsStars)")
    // every touched node once (edge endpoints missing from `nodes`
    // included), then each untouched node row as its own component
    val singletons = nodes.select("id")
      .join(labels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    labels.select(col("id"), col("lbl").as("component")).unionByName(singletons)
  }

  /** Connected components by alternating large-star / small-star edge
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014): converges in O(log² n) rounds for ARBITRARY component
    * diameters — the swap-in for [[connectedComponents]] (min-label
    * propagation, diameter-many rounds) when components can be long chains
    * rather than near-cliques.
    *
    * One round = large-star (every node links its LARGER neighbors to the
    * minimum of its closed neighborhood) then small-star (every node links
    * its smaller-or-equal neighbors, and itself, to that minimum). Both are
    * a groupBy + join over the edge set; at the fixpoint the edge set is a
    * union of stars rooted at each component's minimum id. Rounds
    * localCheckpoint for the same plan-growth reason as
    * [[connectedComponents]]; convergence is an order-independent
    * (count, Σxxhash64) edge-set checksum, observed during the round's own
    * checkpoint (one job per round). */
  def connectedComponentsStars(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 25): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
        .distinct()
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val bidir = e.select(col("id_a").as("u"), col("id_b").as("v"))
        .unionByName(e.select(col("id_b").as("u"), col("id_a").as("v")))
      val mins = bidir.groupBy("u")
        .agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val j = bidir.join(mins, "u")
      val linked =
        if (large) j.filter(col("v") > col("u")).select(col("v"), col("m"))
        else j.filter(col("v") < col("u")).select(col("v"), col("m"))
          .unionByName(mins.select(col("u").as("v"), col("m")))
      linked.select(col("v").as("id_a"), col("m").as("id_b"))
    }
    // checkpoint one round's edge set and read its checksum off that same
    // job; decimal accumulation: a 64-bit sum of xxhash64 values overflows
    // under ANSI arithmetic
    def checkpointed(e: DataFrame): (DataFrame, (Long, java.math.BigDecimal)) = {
      val (cp, r) = Materialize.observed(e, count(lit(1)),
        coalesce(sum(xxhash64(col("id_a"), col("id_b")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")))
      (cp, (r.getLong(0), r.getDecimal(1)))
    }
    var (e, prev) = checkpointed(canon(edges))
    var converged = prev._1 == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      val (next, cur) = checkpointed(canon(star(star(e, large = true), large = false)))
      e = next
      converged = cur == prev
      prev = cur
      round += 1
    }
    // At the round cap without the star fixpoint the edge set is NOT a
    // union of stars — interpreting it as one can map nodes to non-roots,
    // i.e. silently wrong labels. Fail loudly instead.
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStars did not converge within maxRounds=$maxRounds")
    // fixpoint: stars (root, v) with root = component minimum < v
    val comp = e.select(col("id_b").as("id"), col("id_a").as("component"))
    val covered = comp.select("id").unionByName(e.select(col("id_a").as("id"))).distinct()
    val roots = e.select(col("id_a").as("id"), col("id_a").as("component")).distinct()
    val singletons = nodes.select("id")
      .join(covered, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    comp.unionByName(roots).unionByName(singletons).distinct()
  }

  /** EXACT edit-distance self-join via deletion neighborhoods (the
    * FastSS / SymSpell symmetric-delete scheme): if lev(a, b) ≤ d, the
    * aligned-match characters of any optimal edit script form a common
    * string reachable from BOTH a and b by deleting ≤ d characters — so
    * joining on the delete-≤d variant sets finds every such pair
    * (lossless), and an exact thresholded `levenshtein` rescore removes
    * the false candidates. The record-linkage fuzzy join: typo'd names,
    * product codes, near-identical titles.
    *
    * Scale: each string fans out to Σ_{k≤d} C(len, k) variants (len 12,
    * d = 2 → ≤ 79), so the index is rows × O(len^d) — built for SHORT
    * strings (names/codes/titles ≤ a few dozen chars), where q-gram count
    * filters are toothless (a 7-char string has 5 trigrams; d = 2 destroys
    * up to 6 — no bound survives). For long strings use
    * [[containmentPairs]]/[[jaccardPairs]] instead. The candidate join is
    * a variant-keyed equi-join (hash-partitioned, no n²); the `|len_a −
    * len_b| ≤ d` filter and the early-abandoning thresholded DP keep the
    * rescore O(d·len) per candidate. Variants are generated with
    * higher-order array expressions (no UDF; array sizes are len-bounded
    * so interpreted lambdas stay off the per-row hot path).
    *
    * Returns (id_a, id_b, dist) with id_a < id_b and dist ≤ maxDist. */
  def fuzzyPairs(rows: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist == 1 || maxDist == 2, s"maxDist must be 1 or 2, got $maxDist")
    val base = rows.select(col(idCol).as("id"), col(strCol).as("str"))
    // delete-1 variants of `c`: one array element per dropped position
    def del1(c: String): String =
      s"transform(sequence(1, length($c)), i -> " +
        s"concat(substring($c, 1, i - 1), substring($c, i + 1, length($c))))"
    val variants =
      if (maxDist == 1) expr(s"array_distinct(concat(array(str), ${del1("str")}))")
      else expr("array_distinct(concat(array(str), " + del1("str") + ", " +
        s"flatten(transform(${del1("str")}, v -> ${del1("v")}))))")
    val idx = base.select(col("id"), col("str"), explode(variants).as("v"))
    idx.as("a")
      .join(idx.as("b"), col("a.v") === col("b.v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.str").as("str_a"),
        col("b.id").as("id_b"), col("b.str").as("str_b"))
      .distinct()
      .filter(abs(length(col("str_a")) - length(col("str_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("str_a"), col("str_b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
  }

  /** Corpus novelty curve in ingest (id) order: for each document, the
    * fraction of its distinct n-gram shingles whose FIRST corpus
    * occurrence (minimum doc id) is this document. A corpus of fresh
    * content scores ≈ 1 throughout; template churn / syndication shows as
    * a falling curve — the ingest-monitoring signal behind "are we still
    * adding new data?" (cf. [[selfRepeatCoverage]] within a doc, dup-span
    * coverage across docs). One shingle-keyed aggregation (min id) joined
    * back to the index; both shuffles key on the shingle / the doc id —
    * never the text. Docs with fewer than n tokens have no shingles and
    * are absent (documented; the oracle mirrors this). */
  def noveltyCurve(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sh = shingleIndex(docs, idCol, textCol, n)
    val first = sh.groupBy("s").agg(min(col("id")).as("first_id"))
    sh.join(first, "s")
      .groupBy("id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_id") === col("id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_sh").cast("double"))
  }

  /** EXACT substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", the ExactSubstr operator): remove
    * every character that sits inside a substring of length ≥ `minLen`
    * occurring at two or more distinct (doc, offset) positions in the
    * corpus — overlapping occurrences and within-document repeats both
    * count, and ALL occurrences are removed (the symmetric variant; a
    * keep-first policy is one extra rank over the same candidate set).
    *
    * Suffix-array-free reformulation (the Spark-first shape): a character
    * is covered by a duplicated substring of length ≥ L **iff** it is
    * covered by a duplicated L-gram. (⇐ a duplicated L-gram IS a
    * duplicated substring of length L; ⇒ any substring of a duplicated
    * string is duplicated, and every character of a length-≥L span lies
    * in one of its L-windows.) So the exact removal set is the union of
    * duplicated fixed-width L-grams — a groupBy + interval merge, not a
    * distributed suffix array. SubstringDedupSpec pins this equivalence
    * against a naive all-spans scan on randomized fixtures.
    *
    * Plan (two scans, fingerprint-width shuffles):
    *   1. explode every L-window offset, shuffle only (xxhash64(gram),
    *      id, pos) — 8-byte keys, never the L-char gram — and count by
    *      fingerprint; fingerprints with ≥ 2 occurrences are candidates.
    *   2. re-derive candidate windows from a second scan (compute is
    *      scan-bound; the join with the winner set is fingerprint-keyed,
    *      AQE broadcasts it when small) and confirm with an exact count
    *      on the gram itself, so hash collisions cannot leak into the
    *      result (candidates are typically a small fraction, so this
    *      shuffle carries grams only for near-duplicate positions).
    *   3. merge covered windows per doc into maximal spans (one per-doc
    *      window: islands by `pos > lag(pos) + L`), rebuild the kept text
    *      from the gap segments, digest it.
    *
    * Scale: shuffle 1 is O(total_chars · 24 B) — the L× gram blowup never
    * ships; per-gram state is one counter (map-side partials apply), so a
    * mega-frequent gram (whitespace runs, boilerplate) costs a counter,
    * not a collected list. Returns one row per input doc:
    * (id, doc_len, n_dup_spans, dup_chars, kept_sha) ordered by caller. */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, cache: Boolean = true): DataFrame = {
    val d = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    docReport(d, dupSpans(d, minLen, cache))
  }

  /** ANCHORED (content-defined sampled) variant of [[substringDedup]] —
    * the "past ~PB" swap-in SCALE.md documents for q204: instead of
    * shipping EVERY L-window offset into the fingerprint shuffle, only
    * content-defined ANCHOR offsets ship — positions whose leading
    * `anchorK`-gram's md5 starts with `hexZeros` zero hex digits (the
    * same h < H/16^z keep rule as FracMinHash/q206; expected one anchor
    * per 16^hexZeros positions). The rule depends only on the anchorK
    * chars AT the position, so every occurrence of a given L-gram
    * content anchors identically — occurrences of one gram are all
    * anchored or none, and a duplicated anchored gram is duplicated in
    * the full corpus sense (occurrence counts are NOT thinned, only the
    * position set is).
    *
    * Exactness contract (property-pinned by SubstringDedupSpec): the
    * removal set is a SUBSET of [[substringDedup]]'s exact set (an
    * anchored duplicated L-gram IS a duplicated L-gram), and a
    * duplicated span of length m is missed entirely only when none of
    * its first m − minLen + 1 offsets is an anchor — P(miss) ≈
    * (1 − 16^-hexZeros)^(m − minLen + 1), vanishing for the long
    * boilerplate that dominates removal mass at scale; within a
    * detected span, consecutive anchors sit ~16^hexZeros apart
    * (< minLen for the default z=1), so the island merge recovers the
    * interior wall-to-wall and loss concentrates at span edges.
    *
    * Scale: shuffle 1 shrinks from O(total_chars · 24 B) to
    * O(total_chars/16^hexZeros · 24 B) and pass 2's candidate frame
    * shrinks the same way; everything downstream (confirm, islands,
    * report) is the [[substringDedup]] machinery unchanged. This is the
    * knob to turn FIRST at ~PB scale — same plan skeleton, positions/16^z
    * sampled instead of every offset. */
  def substringDedupAnchored(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, anchorK: Int = 8, hexZeros: Int = 1,
      cache: Boolean = true): DataFrame = {
    val d = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    docReport(d, dupSpans(d, minLen, cache, Some((anchorK, hexZeros))))
  }

  /** Keep-FIRST variant of [[substringDedup]] (the other removal policy
    * Lee et al. discuss): a character is removed iff it sits inside an
    * L-window whose content already occurred at a strictly smaller
    * (doc, offset) position — i.e. each document is deduped against all
    * PRIOR corpus content in (id, pos) order and the first copy of every
    * duplicated substring SURVIVES ([[substringDedup]] removes all
    * copies symmetrically; q207's streaming admission is this operator's
    * against-a-static-reference form). Same candidate machinery; the
    * count-≥2 confirm is replaced by a per-gram occurrence rank (rank 1
    * keeps — a gram that is unique, or a collision-only fp candidate,
    * has only rank 1 and never covers anything).
    *
    * "First occurrence" = the per-gram MINIMUM of struct(id, pos), which
    * is a map-side-combinable aggregation — NOT a per-gram rank window:
    * a window must co-locate and sort every occurrence of a hot gram in
    * one task (a boilerplate 40-gram occurring 10⁸ times at 100 TB is a
    * single multi-GB sort task), while min() reduces to one struct per
    * gram with partial aggregation before the shuffle and the winner
    * join is AQE-broadcastable. Rank 1 ≡ the minimum, so the removal
    * set is identical; PlanSpec's q208 pin keeps the candidate path
    * window-free (the only windows are the per-doc island/report ones).
    *
    * Scale: identical to [[substringDedup]] — the confirm aggregation
    * (here min-struct, there a count) has the same key profile and the
    * same one-row-per-gram reduced state. */
  def substringDedupKeepFirst(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int, cache: Boolean = true): DataFrame = {
    val d = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    val (cand, winners) = candWindows(d, minLen, cache)
    // lexicographic min over (id, pos) packed into ONE BIGINT — id·2³² + pos
    // ≡ min(struct(id, pos)) whenever 0 ≤ id < 2³¹ AND pos < 2³² (positions
    // are character offsets; a single document past 4 Gi-chars is outside
    // every contract here — but ids are int64, and an id ≥ 2³¹ overflows the
    // sign bit, silently changing which occurrence is "first"). The packed
    // form stays a primitive-long HashAggregate in whole-stage codegen where
    // the struct min drops to ObjectHashAggregate with per-row struct
    // allocation, and its partial state shuffles 8 B instead of a 16 B
    // struct. The id envelope is ASSERTED on the final per-doc report rows
    // (every cand id is a doc id, so one branch per DOC covers the whole
    // stream; guarding `packed` itself was measured +40% — the assert
    // rides the per-GRAM hot path there): outside the envelope the
    // operator fails loudly instead of corrupting — a corpus with
    // snowflake-width ids must swap the aggregate to min(struct(id, pos))
    // and eat the ObjectHashAggregate.
    val packed = shiftleft(col("id"), 32) + col("pos")
    val firsts = cand.groupBy("gram")
      .agg(min(packed).as("first_packed"))
    val covered = cand.join(firsts, "gram")
      .filter(packed =!= col("first_packed"))
      .select("id", "pos")
    val report =
      docReport(d, sealSpans(mergeIslands(covered, minLen), cand, winners, cache))
    report.withColumn("id", col("id") + coalesce(
      assert_true(col("id") >= 0L && col("id") < 2147483648L,
        lit("substringDedupKeepFirst: doc id outside the packed-min " +
          "envelope [0, 2^31) — use a struct min for wider id spaces"))
        .cast("long"),
      lit(0L)))
  }

  /** [[substringDedup]]'s span machinery, shared with [[topBoilerplate]]:
    * maximal per-doc character intervals covered by duplicated
    * `minLen`-grams, as (id, start, end) with end exclusive. Input must
    * already be shaped (id, text). */
  private[graft] def dupSpans(d: DataFrame, minLen: Int,
      cache: Boolean = true, anchor: Option[(Int, Int)] = None): DataFrame = {
    val (cand, winners) = candWindows(d, minLen, cache, anchor)
    val confirmed = cand
      .join(cand.groupBy("gram").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).select("gram"), "gram")
      .select("id", "pos")
    sealSpans(mergeIslands(confirmed, minLen), cand, winners, cache)
  }

  /** Cache-lifecycle seal: with `cache` on, materialize the (small) span
    * frame via localCheckpoint — truncating lineage so downstream never
    * re-derives the candidates, with blocks ContextCleaner-scoped rather
    * than session-pinned — then release both candidate caches; the cache
    * scope is one operator invocation, not the session. With `cache` off
    * (plan pins, one-shot callers) everything stays lazy and the full
    * candidate plan remains visible. */
  private def sealSpans(spans: DataFrame, cand: DataFrame,
      winners: DataFrame, cache: Boolean): DataFrame =
    if (!cache) spans
    else {
      val sealed0 = spans.localCheckpoint()
      cand.unpersist(); winners.unpersist()
      sealed0
    }

  /** Candidate L-windows via the fingerprint prefilter: (id, pos, gram)
    * for every position whose gram's xxhash64 occurs ≥ 2 times, plus the
    * winner-fingerprint frame. BOTH are persisted (each is referenced
    * more than once by every consumer) and handed back to the caller,
    * which must materialize its span frame (localCheckpoint — truncates
    * lineage so downstream never re-derives the candidates, and its
    * blocks are ContextCleaner-scoped rather than session-pinned) and
    * then unpersist both — the cache scope is one operator invocation,
    * not the session. */
  private def candWindows(d: DataFrame, minLen: Int,
      cache: Boolean, anchor: Option[(Int, Int)] = None): (DataFrame, DataFrame) = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    anchor.foreach { case (k, z) =>
      require(k >= 1 && k <= minLen, s"anchorK must be in [1, minLen], got $k")
      require(z >= 1 && z <= 8, s"hexZeros must be in [1, 8], got $z")
    }
    val L = minLen
    // the explode + per-position hash below is the operator's compute
    // wall and runs in the SCAN stage — spread the doc frame first so a
    // narrow file layout (the single-row-group bench inputs) cannot
    // serialize it onto one core; no-op whenever the scan already has
    // enough splits (see Spread)
    val ds = Spread.spread(d)
    // with an anchor rule, only content-defined sampled offsets survive
    // into the shuffle; the rule runs scan-side inside the same
    // whole-stage-codegen stage as the explode, so non-anchor positions
    // are generated and discarded locally, never exchanged
    def windows = {
      val w0 = ds.filter(length(col("text")) >= L)
        .select(col("id"), col("text"),
          explode(expr(s"sequence(0, length(text) - $L)")).as("pos"))
      val w1 = anchor match {
        case None => w0
        case Some((k, z)) => w0.filter(
          substring(md5(expr(s"substring(text, pos + 1, $k)").cast("binary")),
            1, z) === lit("0" * z))
      }
      w1.withColumn("gram", expr(s"substring(text, pos + 1, $L)"))
    }
    // pass 1: candidate fingerprints (count ≥ 2), 8-byte shuffle keys.
    // persisted: the winner set feeds the probe join AND would otherwise
    // re-run its full explode+aggregate per consumer
    val winners0 = windows.select(xxhash64(col("gram")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .select("fp")
    val winners = if (cache) winners0.persist() else winners0
    // pass 2: re-derive candidate windows from a second scan; candidates
    // are a few % of positions and referenced more than once — persist,
    // or the whole upstream doubles
    val cand0 = windows.withColumn("fp", xxhash64(col("gram")))
      .join(winners, "fp").select("id", "pos", "gram")
    (if (cache) cand0.persist() else cand0, winners)
  }

  /** Gaps-and-islands merge of covered L-window start positions into
    * maximal per-doc (id, start, end) spans, end exclusive. */
  private def mergeIslands(positions: DataFrame, L: Int): DataFrame = {
    val wDoc = Window.partitionBy("id").orderBy("pos")
    positions
      .withColumn("brk",
        when(col("pos") > lag("pos", 1).over(wDoc) + L, 1L).otherwise(0L))
      .withColumn("isl", sum("brk").over(wDoc))
      .groupBy("id", "isl")
      .agg(min("pos").as("start"), (max("pos") + L).as("end"))
      .select("id", "start", "end")
  }

  /** Per-doc removal report over merged spans: (id, doc_len, n_dup_spans,
    * dup_chars, kept_sha) with kept_sha digesting the text with the spans
    * deleted — one row for EVERY input doc (clean docs digest verbatim). */
  private def docReport(d: DataFrame, spans: DataFrame): DataFrame = {
    // kept text = the gap segments between spans, plus the tail
    val wSpan = Window.partitionBy("id").orderBy("start")
    val dupAgg = spans
      .withColumn("prev_end", lag("end", 1, 0).over(wSpan))
      .join(d, "id")
      .withColumn("gap_text",
        expr("substring(text, prev_end + 1, start - prev_end)"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("end") - col("start")).cast("long").as("dup_chars"),
        array_join(expr("transform(array_sort(collect_list(" +
          "struct(start, gap_text))), x -> x.gap_text)"), "").as("body"),
        max("end").as("last_end"))
    d.join(dupAgg, Seq("id"), "left")
      .withColumn("kept", when(col("n_dup_spans").isNull, col("text"))
        .otherwise(concat(col("body"),
          expr("substring(text, last_end + 1, length(text))"))))
      .select(col("id"), length(col("text")).cast("long").as("doc_len"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        sha2(col("kept").cast("binary"), 256).as("kept_sha"))
  }

  /** Top duplicated passages — the "what IS the boilerplate" report a
    * curation run reads before tuning its dedup knobs: the `k` most
    * frequent MAXIMAL duplicated span texts (the merged intervals of
    * [[substringDedup]]/[[dupSpans]], extracted verbatim), ranked by
    * occurrence count with the span digest as the deterministic
    * tie-break. Identical boilerplate injected into many documents
    * surfaces as ONE row with its occurrence and document counts — the
    * actionable complement of q204's per-doc removal accounting (which
    * documents are dirty vs what dirt keeps recurring).
    *
    * Scale: inherits [[dupSpans]]'s fingerprint-shuffle bounds; span
    * texts shuffle as SHA-256 digests (the verbatim text never leaves
    * the doc-local span extraction), the rollup keys on the digest, and
    * only the global top-k — k rows — sorts at the driver end. */
  def topBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val d = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    dupSpans(d, minLen)
      .join(d, "id")
      .select(col("id"), (col("end") - col("start")).cast("long").as("span_len"),
        sha2(expr("substring(text, start + 1, end - start)").cast("binary"), 256)
          .as("span_sha"))
      .groupBy("span_sha", "span_len")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("span_sha"))
      .limit(k)
      .select("span_sha", "span_len", "n_occurrences", "n_docs")
  }

  /** SimHash over token ids: `bits`-wide sign-aggregated fingerprint.
    * h(t) = (2654435761·t + 40503) mod 2^32; bit j of the simhash is 1 iff
    * Σ_t (2·bit_j(h(t)) − 1) > 0. */
  def simhash(tokenIds: DataFrame, bits: Int = 16): DataFrame =
    tokenIds
      .withColumn("hh", pmod(lit(2654435761L) * norm(col("tid")) + 40503L, lit(4294967296L)))
      .withColumn("j", explode(sequence(lit(0), lit(bits - 1))))
      .withColumn("contrib",
        expr("pmod(hh div shiftleft(cast(1 as bigint), j), 2) * 2 - 1"))
      .groupBy("id", "j")
      .agg(sum(col("contrib")).as("s"))
      .groupBy("id")
      .agg(sum(when(col("s") > 0,
        expr("shiftleft(cast(1 as bigint), j)")).otherwise(0L)).as("simhash"))
}
