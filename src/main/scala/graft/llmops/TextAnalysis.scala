package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextOps._

/** Text-quality operators for training-data pipelines: corpus statistics,
  * heuristic quality score, n-gram-lexicon language ID, token counting, and
  * positional document fingerprints.
  *
  * All operators are single-pass Column expressions over the document table —
  * no joins, no shuffles (fingerprint excepted: one groupBy on doc id), no
  * UDFs — so they run at scan speed at any scale and are replicated exactly
  * by the DuckDB oracle (no transcendental math: ratios only).
  */
object TextAnalysis {

  /** Small embedded stopword lexicons (ASCII only — tokens are [a-z0-9]+). */
  val StopEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "was", "for", "with")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein")
  val StopFr: Seq[String] = Seq("le", "la", "les", "des", "et", "est", "un", "une", "dans", "pour")
  val StopEs: Seq[String] = Seq("el", "los", "de", "y", "es", "una", "en", "por", "que", "para")

  private def hitCount(toks: Column, lex: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(lex)))

  /** Per-document statistics + a rational quality score.
    * Output: id, n_chars, n_tokens, n_types, avg_token_len, ttr,
    * stopword_ratio, quality. */
  def stats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val alnum = length(regexp_replace(lower(col(textCol)), "[^a-z0-9]", ""))
    // token-less docs (all punctuation / non-Latin) get 0.0 ratios — an
    // unguarded /0 is engine-divergent (Spark NULL vs DuckDB inf/nan)
    def ratio(num: Column): Column =
      when(size(toks) === 0, 0.0d)
        .otherwise(num.cast("double") / size(toks).cast("double"))
    docs.select(
      col(idCol).as("id"),
      length(col(textCol)).as("n_chars"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_types"),
      ratio(alnum).as("avg_token_len"),
      ratio(size(array_distinct(toks))).as("ttr"),
      ratio(hitCount(toks, StopEn)).as("stopword_ratio"),
      ((hitCount(toks, StopEn) * 2 + size(array_distinct(toks))).cast("double")
        / (size(toks) + 1).cast("double")).as("quality"))
  }

  /** Per-document character-level Shannon entropy, exact-integer gated:
    * ent_q = Σ_chars c·⌊1e6·ln(n/c) + ½⌋ (= n·1e6·H up to per-term
    * rounding — the quantize-before-sum rule, so both engines add the
    * same integers), plus ent_ppm_per_char = ent_q div n (≈ 1e6·H in
    * nats). The gibberish/boilerplate detector a quality stack runs
    * before any model: natural prose sits near H≈3 nats, `aaaa…` at 0,
    * base64 blobs near ln(64). Characters come from one explode of a
    * substring transform (identical on both engines — no locale-dependent
    * split('') semantics); zero-length docs report 0. */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = docs
      .select(col(idCol).as("id"),
        explode(expr(s"CASE WHEN length($textCol) = 0 THEN array() " +
          s"ELSE transform(sequence(1, length($textCol)), i -> substring($textCol, i, 1)) END"))
          .as("ch"))
      .groupBy("id", "ch").agg(count(lit(1)).as("c"))
    val perDoc = chars.groupBy("id")
      .agg(sum("c").as("n_chars"), count(lit(1)).as("n_distinct_chars"))
    val ent = chars.join(perDoc, "id")
      .withColumn("term",
        col("c") * floor(log(col("n_chars").cast("double") / col("c").cast("double")) *
          1000000.0 + 0.5).cast("long"))
      .groupBy("id").agg(sum("term").as("ent_q"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left").na.fill(0L, Seq("n_chars", "n_distinct_chars"))
      .join(ent, Seq("id"), "left").na.fill(0L, Seq("ent_q"))
      .withColumn("ent_ppm_per_char", expr(
        "CASE WHEN n_chars = 0 THEN 0L ELSE ent_q div n_chars END"))
  }

  /** Heuristic language ID: stopword-lexicon hit counts per language,
    * prediction = argmax with alphabetical tie-break. Pure CASE expression —
    * zero joins, runs in the scan stage. */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    docs.select(
        col(idCol).as("id"),
        hitCount(toks, StopDe).as("hits_de"),
        hitCount(toks, StopEn).as("hits_en"),
        hitCount(toks, StopEs).as("hits_es"),
        hitCount(toks, StopFr).as("hits_fr"))
      .withColumn("predicted",
        when(col("hits_de") >= greatest(col("hits_en"), col("hits_es"), col("hits_fr")), "de")
          .when(col("hits_en") >= greatest(col("hits_es"), col("hits_fr")), "en")
          .when(col("hits_es") >= col("hits_fr"), "es")
          .otherwise("fr"))
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * (letter runs | single digits | single punctuation marks). */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("id"),
      size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0))).as("n_ws_tokens"),
      size(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).as("n_bpe_tokens"))

  /** Tall (id, pos, tok) frame preserving token order and duplicates
    * (pos is 1-based). */
  def positionedTokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("pos0", "tok")))
      .select(col("id"), (col("pos0") + 1L).as("pos"), col("tok"))

  /** Positional rolling-hash fingerprint over (id, pos, tid) rows
    * (duplicates and order both matter): fp = (Σ_pos pos·norm(tid)) mod P. */
  def fingerprintFromIds(posIds: DataFrame): DataFrame =
    posIds.groupBy("id")
      .agg(pmod(sum(col("pos") * TextOps.norm(col("tid"))), lit(P)).as("fingerprint"))

  /** Scale-path fingerprint: streaming xxhash token ids, one shuffle on id. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    fingerprintFromIds(positionedTokens(docs, idCol, textCol)
      .withColumn("tid", hashTokenId(col("tok"))))

  /** Winnowed local fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS
    * scheme): hash every token k-gram, slide a window of `w` consecutive
    * k-gram hashes, keep each full window's minimum, emit the distinct
    * minima per document. GUARANTEE: any shared token run of length
    * ≥ w + k − 1 contributes at least one shared fingerprint, at ~2/(w+1)
    * selection density — the partial-overlap detector exact/minhash dedup
    * lacks (those compare whole documents).
    *
    * Input is (id, pos, tid) positioned token ids (dictionary ids for the
    * oracle path, [[TextOps.hashTokenId]] at scale). All windows are
    * per-document (partitioned — no global window); k-gram hash is a base-B
    * polynomial mod P, overflow-safe in 64-bit and replicated exactly in
    * SQL. */
  /** Winnowing k-gram hash base; `winnowPow(j)` = base^j mod P — exposed so
    * oracle SQL builders interpolate the exact same constants. */
  val WinnowBase: Long = 1000003L
  def winnowPow(j: Int): Long =
    (0 until j).foldLeft(1L)((acc, _) => acc * WinnowBase % P)

  def winnowFromIds(posIds: DataFrame, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "winnow needs k >= 1 and w >= 1")
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("pos")
    // k-gram polynomial hash: (Σ_i tid_{pos+i} · B^(k-1-i)) mod P
    val gram = (0 until k).map(i =>
        pmod(lead(TextOps.norm(col("tid")), i).over(byDoc) * lit(winnowPow(k - 1 - i)),
          lit(P)))
      .reduce((a, b) => pmod(a + b, lit(P)))
    val grams = posIds
      .withColumn("gh", gram)
      .filter(col("gh").isNotNull) // incomplete k-grams at the tail
    // full windows only: min over w consecutive k-gram hashes
    val wmin = min(col("gh")).over(byDoc.rowsBetween(0, w - 1))
    grams
      .withColumn("complete", lead(col("gh"), w - 1).over(byDoc).isNotNull)
      .withColumn("fp", wmin)
      .filter(col("complete"))
      .select(col("id"), col("fp"))
      .distinct()
  }

  /** Gopher-style repetition metrics: the fraction of a document's n-gram
    * characters that sit inside DUPLICATED n-grams (all occurrences of any
    * gram appearing more than once) — the "duplicate n-gram character
    * fraction" filters used to drop boilerplate/template pages from crawl
    * corpora (Rae et al. 2021, Gopher §A1.1).
    *
    * Per document and gram size n: every positional token n-gram (order
    * preserved, duplicates counted), gram char length = Σ token lengths
    * = length(joined) − (n − 1). dup_chars_n = Σ over grams with
    * occurrence count > 1 of count·len; total_chars_n = Σ over all grams
    * of count·len; dup_frac_q = (dup_chars·10^6) div total_chars —
    * integer-quantized, engine-exact. Documents shorter than n tokens get
    * zero totals (frac 0).
    *
    * Plan: one window-lead pass builds the positional grams (duplicates
    * kept — unlike [[graft.llmops.Dedup.shingleIndex]], whose native
    * per-row loop dedups them), one aggregation per (id, gram), one per
    * id — all shuffles key on doc id.
    * Returns (id, dup_chars, total_chars, dup_frac_q) for one n. */
  def repetitionMetrics(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1)
    val pt = positionedTokens(docs, idCol, textCol)
    val grams =
      if (n == 1) pt.select(col("id"), col("tok").as("g"))
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("pos")
        val parts = col("tok") +: (1 until n).map(i => lead(col("tok"), i).over(w).as(s"t$i"))
        pt.select((col("id") +: col("pos") +: parts): _*)
          .filter(col(s"t${n - 1}").isNotNull)
          .select(col("id"),
            concat_ws(" ", (col("tok") +: (1 until n).map(i => col(s"t$i"))): _*).as("g"))
      }
    val counted = grams.groupBy("id", "g").agg(count(lit(1)).as("cnt"))
      .withColumn("chars", col("cnt") * (length(col("g")) - (n - 1)).cast("long"))
    docs.select(col(idCol).as("id"))
      .join(counted.groupBy("id").agg(
          sum(when(col("cnt") > 1, col("chars")).otherwise(0L)).as("dup_chars"),
          sum(col("chars")).as("total_chars")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("total_chars"), lit(0L)).as("total_chars"))
      .withColumn("dup_frac_q",
        when(col("total_chars") > 0,
          expr("dup_chars * 1000000 div total_chars")).otherwise(0L))
  }

  /** Hashed n-gram linear classifier scoring — the INFERENCE shape of the
    * fastText-style quality filters production pipelines run over every
    * document (GPT-3's WebText classifier, DCLM's fastText filter): each
    * document's unigrams+bigrams hash into `buckets` weight slots (the
    * hashing trick), the score is the sparse dot of occurrence counts with
    * the weight vector, and the keep label is a threshold on the score.
    *
    * The weight table here is DERIVED (weight(b) = Knuth-LCG over the
    * bucket index, integers in [-1000, 1000]) so the whole computation is
    * exact integer arithmetic and hash-gates cross-engine; a production
    * deployment swaps in trained weights as a (bucket, w) table — the
    * plumbing (hash → bucket → join/dot → threshold) is what this operator
    * pins, and it is identical either way.
    *
    * Scale: one projection per document — grams explode map-side, the
    * bucket hash and weight are expressions (no weight-table join needed in
    * derived mode; trained mode is a broadcast join against ≤ `buckets`
    * rows), and the score is a single hash-agg on the document id. No
    * shuffle wider than (id, score).
    *
    * Output: (id, n_grams, score_raw, score_milli, label) — score_milli =
    * floor(1000·score_raw / n_grams) (length-normalized, exact floor div),
    * label = score_raw ≥ 0. */
  def hashedNgramScore(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 4096): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0)).as("t"))
    val grams = toks.select(col("id"), explode(concat(col("t"),
        expr("CASE WHEN size(t) >= 2 THEN transform(sequence(0, size(t) - 2), " +
          "i -> concat(t[i], ' ', t[i + 1])) ELSE array() END"))).as("g"))
    val agg = grams
      .withColumn("bucket",
        pmod(conv(substring(md5(col("g")), 1, 12), 16, 10).cast("long"),
          lit(buckets.toLong)))
      .withColumn("w", expr("(bucket * 2654435761 + 97) % 4294967296 % 2001 - 1000"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum(col("w")).as("score_raw"))
    docs.select(col(idCol).as("id"))
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("score_raw"), lit(0L)).as("score_raw"))
      .withColumn("score_milli",
        when(col("n_grams") === 0, lit(0L)).otherwise(
          expr("(score_raw * 1000 - pmod(score_raw * 1000, n_grams)) div n_grams")))
      .withColumn("label", col("score_raw") >= 0)
  }

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents"): candidate phrases are the
    * maximal token runs between stopwords and punctuation; each word
    * scores deg/freq where freq counts its phrase-member occurrences and
    * deg sums the lengths of the phrases it appears in; a phrase scores
    * the sum of its DISTINCT member words' scores. All integer (scores
    * milli-quantized with the shared floor-div), so the keyword list
    * hash-gates.
    *
    * Shape: the phrase segmentation is a pure scan-stage `aggregate()`
    * fold over each punctuation-bounded segment's token array — no
    * window, no shuffle until the word/phrase COUNT aggregates (both
    * map-side combinable, keyed on word/phrase — even spread); the
    * top-k is a k-row TakeOrdered under the (score, phrase) total
    * order. The oracle derives identical phrases from the dual
    * gaps-and-islands formulation — the hash gate proves the fold and
    * the window segmentation agree. Returns (phrase, n_words, n_occ,
    * score_milli), top `topK` by score. */
  def rakeKeywords(docs: DataFrame, idCol: String, textCol: String,
      minOcc: Long, topK: Int): DataFrame = {
    val stopArr = StopEn.map(w => s"'$w'").mkString("array(", ",", ")")
    val occ = docs
      .select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), "[^a-z0-9 ]+")).as("seg"))
      .select(col("id"), explode(expr(
        s"""aggregate(
          |  filter(split(seg, ' +'), w -> w != ''),
          |  named_struct('cur', CAST(array() AS ARRAY<STRING>),
          |               'out', CAST(array() AS ARRAY<ARRAY<STRING>>)),
          |  (acc, w) -> IF(array_contains($stopArr, w),
          |    named_struct('cur', CAST(array() AS ARRAY<STRING>),
          |      'out', IF(size(acc.cur) > 0,
          |                array_append(acc.out, acc.cur), acc.out)),
          |    named_struct('cur', array_append(acc.cur, w), 'out', acc.out)),
          |  acc -> IF(size(acc.cur) > 0,
          |            array_append(acc.out, acc.cur), acc.out))""".stripMargin))
        .as("pw"))
      .select(array_join(col("pw"), " ").as("phrase"),
        size(col("pw")).cast("long").as("plen"), col("pw"))
    val wordStats = occ.select(explode(col("pw")).as("w"), col("plen"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .withColumn("score_milli", expr("(deg * 1000) div freq"))
    occ.groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minOcc)
      .withColumn("n_words", size(split(col("phrase"), " ")).cast("long"))
      .withColumn("w", explode(array_distinct(split(col("phrase"), " "))))
      .join(wordStats.select("w", "score_milli"), "w")
      .groupBy("phrase", "n_words", "n_occ")
      .agg(sum("score_milli").as("score_milli"))
      .select("phrase", "n_words", "n_occ", "score_milli")
      .orderBy(col("score_milli").desc, col("phrase"))
      .limit(topK)
  }
}
