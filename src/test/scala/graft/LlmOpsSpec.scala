package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llmops.{Dedup, Multimodal, Similarity, TextAnalysis}

class LlmOpsSpec extends AnyFunSuite with SparkSpec {

  private def docsDF(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("canonicalizeUrl: every rule pinned on hand-picked URLs") {
    import spark.implicits._
    val cases = Seq(
      // host+scheme case-fold, www strip, path case kept
      "HTTP://WWW.Example.COM/Docs/Item7" -> "http://example.com/Docs/Item7",
      // default ports drop per scheme; non-default kept
      "http://example.com:80/a" -> "http://example.com/a",
      "https://example.com:443/a" -> "https://example.com/a",
      "https://example.com:80/a" -> "https://example.com:80/a",
      "http://example.com:8080/a" -> "http://example.com:8080/a",
      // fragment drop, trailing slash trim (root path collapses to empty)
      "http://example.com/a/#frag" -> "http://example.com/a",
      "http://example.com/" -> "http://example.com",
      // tracking params out, survivors sorted; all-tracking query vanishes
      "http://example.com/p?utm_source=x&b=2&a=1" -> "http://example.com/p?a=1&b=2",
      "http://example.com/p?b=2&a=1" -> "http://example.com/p?a=1&b=2",
      "http://example.com/p?utm_campaign=c&gclid=g&fbclid=f&ref=r" -> "http://example.com/p",
      // ref= is stripped but a 'refx=' param is NOT (prefix is exact)
      "http://example.com/p?refx=1" -> "http://example.com/p?refx=1")
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), graft.llmops.TextOps.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"canonicalizeUrl($in)")
    }
  }

  test("exactDedup groups identical content and keeps the min id") {
    val d = docsDF(1L -> "aa bb cc", 2L -> "dd ee", 3L -> "aa bb cc", 4L -> "aa bb cc")
    val out = Dedup.exactDedup(d, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 3L), (2L, 1L)))
  }

  test("jaccardPairs finds near-dups; stop-shingle cap prunes common-shingle joins") {
    val d = docsDF(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "completely different words entirely here now")
    val pairs = Dedup.jaccardPairs(d, "doc_id", "text", n = 2, minJaccard = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
    // cap=1 removes every shingle shared by 2 docs => no pairs survive
    val capped = Dedup.jaccardPairs(d, "doc_id", "text", n = 2, minJaccard = 0.0,
      maxShingleDocFreq = Some(1))
    assert(capped.count() == 0)
  }

  test("weightedJaccardRescore: hand-computed multiset min/max; set-saturated template pair scores honestly") {
    import spark.implicits._
    // doc 1: a×3 b×1; doc 2: a×1 b×2 -> min 1+1=2, max 3+2=5 -> 400000 ppm
    // doc 3 repeats doc 4's text 3 times: SAME token set (set-J = 1.0) but
    // J_w = 4/12 = 333333 ppm — the saturation case the multiset form fixes
    val d = docsDF(
      1L -> "a a a b", 2L -> "a b b",
      3L -> "x y z w x y z w x y z w", 4L -> "x y z w")
    val cand = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val got = Dedup.weightedJaccardRescore(d, "doc_id", "text", cand)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Long]("wj_num"), r.getAs[Long]("wj_den"),
          r.getAs[Long]("wj_ppm")))).toMap
    assert(got == Map(
      (1L, 2L) -> ((2L, 5L, 400000L)),
      (3L, 4L) -> ((4L, 12L, 333333L))))
  }

  test("minhash: identical docs get identical signatures; disjoint docs differ") {
    val d = docsDF(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "zeta eta theta iota")
    val mh = Dedup.minhash(Dedup.tokenIdsByHash(d, "doc_id", "text"), k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    (0L until 8L).foreach { i =>
      assert(mh((1L, i)) == mh((2L, i)))
    }
    assert((0L until 8L).exists(i => mh((1L, i)) != mh((3L, i))))
  }

  test("lshCandidates surfaces the identical pair and not the disjoint doc") {
    val d = docsDF(1L -> "alpha beta gamma delta epsilon zeta", 2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "one two three four five six seven")
    val cands = Dedup.lshCandidates(
      Dedup.minhash(Dedup.tokenIdsByHash(d, "doc_id", "text"), k = 8), rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("connectedComponents: min-label propagation over chains and singletons") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, singleton 20
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((2L, 3L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  // Pinned rows of the output contract: every edge endpoint gets one row,
  // in `nodes` or not, and every untouched `nodes` row is its own component.
  private def ccRows(nodes: Seq[Long], edges: Seq[(Long, Long)],
      maxIter: Int = 20): List[(Long, Long)] = {
    import spark.implicits._
    Dedup.connectedComponents(nodes.toDF("id"), edges.toDF("id_a", "id_b"), maxIter)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toList
  }

  test("connectedComponents: edge endpoints absent from nodes still get a row") {
    assert(ccRows(Seq(1L, 2L, 3L, 20L), Seq((1L, 2L), (2L, 3L), (3L, 4L), (30L, 31L))) ==
      List((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (20L, 20L), (30L, 30L), (31L, 30L)))
  }

  test("connectedComponents: a repeated node id repeats only as a singleton") {
    assert(ccRows(Seq(1L, 1L, 2L, 5L, 5L), Seq((1L, 2L))) ==
      List((1L, 1L), (2L, 1L), (5L, 5L), (5L, 5L)))
  }

  test("connectedComponents: no edges gives all singletons and returns") {
    assert(ccRows(Seq(1L, 2L, 3L), Seq.empty) == List((1L, 1L), (2L, 2L), (3L, 3L)))
    // a self-loop lowers no label: the seed is the fixpoint within maxIter = 1
    assert(ccRows(Seq(1L, 2L), Seq((2L, 2L)), maxIter = 1) == List((1L, 1L), (2L, 2L)))
  }

  test("connectedComponents: a chain longer than maxIter throws; maxIter keeps its meaning") {
    // a 6-node path has diameter 5: five propagation rounds and a confirming
    // one, so maxIter = 6 is the least budget that converges, in either
    // edge orientation
    val chain = (0L until 5L).map(i => (i, i + 1))
    val all0 = (0L to 5L).map(_ -> 0L).toList
    assert(ccRows(0L to 5L, chain, maxIter = 6) == all0)
    assert(ccRows(0L to 5L, chain.map(_.swap), maxIter = 6) == all0)
    for (m <- Seq(1, 5)) {
      val ex = intercept[IllegalStateException](ccRows(0L to 5L, chain, maxIter = m))
      assert(ex.getMessage.contains(s"did not converge within maxIter=$m"))
    }
    val long = (0L until 30L).map(i => (i, i + 1))
    intercept[IllegalStateException](ccRows(0L to 30L, long))
  }

  test("connectedComponentsStars: long chains resolve in O(log² n) rounds") {
    import spark.implicits._
    // a 12-node chain (diameter 11 — min-label needs 11 iterations, star
    // contraction a handful of rounds), plus a pair and a singleton
    val chain = (1L until 12L).map(i => (i, i + 1))
    val nodes = ((1L to 12L) ++ Seq(50L, 51L, 99L)).toDF("id")
    val edges = (chain :+ (50L, 51L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponentsStars(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 12L).forall(cc(_) == 1L))
    assert(cc(50L) == 50L && cc(51L) == 50L && cc(99L) == 99L)
    // and it agrees with min-label propagation on the same graph
    val ml = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == ml)
  }

  test("simhash: identical docs equal; near-dup hamming distance < disjoint") {
    val d = docsDF(
      1L -> "spark batch window join merge order column",
      2L -> "spark batch window join merge order column",
      3L -> "spark batch window join merge order value",   // 1 token changed
      4L -> "entirely unrelated vocabulary goes here now")
    val sh = Dedup.simhash(Dedup.tokenIdsByHash(d, "doc_id", "text"), bits = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(sh(1L) == sh(2L))
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  test("text stats are exact on a known document") {
    val d = docsDF(1L -> "The quick fox and the dog!")
    val r = TextAnalysis.stats(d, "doc_id", "text").head()
    assert(r.getAs[Int]("n_chars") == 26)
    assert(r.getAs[Int]("n_tokens") == 6)   // the quick fox and the dog
    assert(r.getAs[Int]("n_types") == 5)
    // stop hits: the, and, the = 3
    assert(r.getAs[Double]("stopword_ratio") == 3.0 / 6.0)
    assert(r.getAs[Double]("quality") == (3 * 2 + 5).toDouble / 7.0)
  }

  test("langId picks the lexicon with most hits, alphabetical tie-break") {
    val d = docsDF(
      1L -> "der hund und die katze ist von den bergen",
      2L -> "the cat and the dog is in the house",
      3L -> "xyzzy plugh")
    val out = TextAnalysis.langId(d, "doc_id", "text")
      .select("id", "predicted").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "de")
    assert(out(2L) == "en")
    assert(out(3L) == "de") // all-zero hits tie → alphabetically first
  }

  test("fingerprint is order-sensitive and duplicate-sensitive") {
    val d = docsDF(1L -> "alpha beta", 2L -> "beta alpha", 3L -> "alpha beta", 4L -> "alpha beta beta")
    val fp = TextAnalysis.fingerprint(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(3L))
    assert(fp(1L) != fp(2L))
    assert(fp(1L) != fp(4L))
  }

  test("winnow: shared token runs ≥ w+k−1 share a fingerprint (MOSS guarantee)") {
    import graft.llmops.{TextAnalysis, TextOps}
    val d = docsDF(
      1L -> "aa bb cc dd ee ff gg hh",
      2L -> "xx yy aa bb cc dd ee ff zz", // shares the 6-token run aa..ff = w+k−1
      3L -> "pp qq rr ss tt uu vv ww")
    val fp = TextAnalysis.winnowFromIds(
        TextAnalysis.positionedTokens(d, "doc_id", "text")
          .withColumn("tid", TextOps.hashTokenId(col("tok"))), k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "documents sharing a ≥(w+k−1)-token run must share a winnowed fingerprint")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
  }

  test("brute-force cosine top-k: exact self-similar clusters rank first") {
    import spark.implicits._
    // two orthogonal clusters: x-axis-ish and y-axis-ish
    val vecs = Seq(
      1L -> Array(1f, 0f, 0f), 2L -> Array(0.9f, 0.1f, 0f),
      3L -> Array(0f, 1f, 0f), 4L -> Array(0.1f, 0.9f, 0f))
      .toDF("id", "vec")
    val top1 = Similarity.cosineTopK(vecs, vecs, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top1 == Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L))
  }

  test("hardNegatives: highest-cosine different-label neighbors; same label never mined") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), 0),  // query's own label — must never surface
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0.0f, 1.0f), 1),
      (4L, Array(1.0f, 0.01f), 2)
    ).toDF("id", "vec", "label")
    val queries = Seq((0L, Array(1.0f, 0.0f), 0)).toDF("id", "vec", "label")
    val got = Similarity.hardNegatives(queries, corpus, k = 2)
      .orderBy("rank").collect()
    assert(got.map(_.getLong(0)).forall(_ == 0L))
    // ranked by cosine among labels ≠ 0: id 4 (≈0.99995, label 2) then id 2
    assert(got.map(r => (r.getInt(1), r.getLong(2), r.getInt(3))).toSeq ==
      Seq((1, 4L, 2), (2, 2L, 1)))
  }

  test("cosinePairs: duplicate vectors pair at cosine 1.0, orthogonal ones are excluded") {
    import spark.implicits._
    val vecs = Seq(1L -> Array(1f, 0f), 2L -> Array(1f, 0f), 3L -> Array(0f, 1f))
      .toDF("id", "vec")
    val pairs = Similarity.cosinePairs(vecs, minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("LSH cosine top-k finds in-cluster neighbors (same signature bucket)") {
    import spark.implicits._
    val dim = 8
    // deterministic clusters: center c ∈ {0,1}, vec = center + tiny id-dependent noise
    def mk(id: Long, c: Int): (Long, Array[Float]) =
      id -> Array.tabulate(dim)(j =>
        (if (c == 0) (j + 1).toFloat else -(j + 1).toFloat) + (id % 7) * 0.001f)
    val vecs = ((1L to 10L).map(mk(_, 0)) ++ (11L to 20L).map(mk(_, 1))).toDF("id", "vec")
    val lsh = Similarity.cosineTopKLsh(vecs, k = 3, planes = 6, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(lsh.nonEmpty)
    // every reported neighbor is in the same cluster as the query
    lsh.foreach { case (q, n) =>
      assert((q <= 10) == (n <= 10), s"cross-cluster pair ($q, $n)")
    }
  }

  test("IVF cosine top-k: recall against brute force on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec")).limit(200).cache()
    val brute = Similarity.cosineTopK(e, e, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.cosineTopKIvf(e, k = 3, nlist = 8, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("int8 codes: bounded to [-127,127], full range used, search tracks the float baseline") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec")).limit(200).cache()
    val codes = Similarity.int8Codes(e).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    codes.values.foreach { c =>
      assert(c.forall(v => v >= -127f && v <= 127f && v == math.rint(v).toFloat))
      // symmetric max-abs scaling: the largest-magnitude element maps to ±127
      assert(c.map(math.abs).max == 127f)
    }
    // 8 bits is plenty for cosine ranking: recall@3 vs the float baseline
    val brute = Similarity.cosineTopK(e, e, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val int8 = Similarity.cosineTopKInt8(e, e, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect int8).size.toDouble / brute.size
    assert(recall >= 0.8, s"int8 search recall too low: $recall")
  }

  test("sign codes: packing matches a naive driver-side computation") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec")).limit(50).cache()
    val raw = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val packed = Similarity.signCodes(e, dim = 64, nBands = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(packed.keySet == raw.keySet)
    raw.foreach { case (id, v) =>
      val expect = Array.tabulate(8) { b =>
        (0 until 8).map(j => if (v(b * 8 + j).toDouble > 0) 1L << j else 0L).sum
      }
      assert(packed(id).sameElements(expect), s"packing mismatch for id $id")
    }
  }

  test("Hamming ANN: every hit is shortlist-consistent; recall tracks the exact baseline") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec")).limit(200).cache()
    val ham = Similarity.cosineTopKHamming(e, k = 3, dim = 64, nBands = 8,
      shortlistK = 32).cache()
    val rows = ham.collect()
    assert(rows.nonEmpty)
    // hamming distances are in range and cosines are valid
    rows.foreach { r =>
      val h = r.getLong(4)
      assert(h >= 0 && h <= 64, s"hamming $h out of range")
      val c = r.getDouble(3)
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    }
    // this corpus's top-1 cosines are ~0.3-0.46 (near-uniform), the hard
    // case for a 1-bit/dim sketch: measured recall@3 ≈ 0.13 — pin a floor
    // below it, and pin that the sketch beats random pairing by an order
    // of magnitude (random recall@3 here ≈ 3/199 ≈ 0.015)
    val brute = Similarity.cosineTopK(e, e, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect hits).size.toDouble / brute.size
    assert(recall >= 0.10, s"Hamming ANN recall too low: $recall")
  }

  test("media frames: empty payload yields zero frames; null payload features are zeros") {
    import spark.implicits._
    val d = Seq((1L, ""), (2L, "abc")).toDF("doc_id", "text")
    val media = Multimodal.asMedia(d, "doc_id", "text")
    val fr = Multimodal.frames(media, 256).select("media_id").collect().map(_.getLong(0))
    assert(fr.toSeq == Seq(2L)) // doc 1 (empty) emits no frames
    val withNull = media.withColumn("payload",
      when(col("media_id") === 1L, lit(null).cast("binary")).otherwise(col("payload")))
    val feats = Multimodal.fakeDecodeFeatures(withNull, dim = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L) == Seq(0f, 0f, 0f))
  }

  test("ImageIoDecoder: real PNG decode via javax.imageio, luminance histogram features") {
    import spark.implicits._
    // 2×2 PNG: two black pixels, two white pixels → with dim=4 the
    // luminance histogram is 0.5 in bucket 0 and 0.5 in bucket 3
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000); img.setRGB(1, 0, 0xffffff)
    img.setRGB(0, 1, 0x000000); img.setRGB(1, 1, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq((1L, bos.toByteArray), (2L, "not an image".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val feats = Multimodal.decodeFeatures(media, dim = 4,
        () => new Multimodal.ImageIoDecoder)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L) == Seq(0.5f, 0f, 0f, 0.5f))
    assert(feats(2L) == Seq(0f, 0f, 0f, 0f)) // unreadable payload → zeros, no job failure
  }

  test("media frames reassemble to the payload; features are deterministic") {
    val d = docsDF(1L -> ("ab" * 300)) // 600 bytes → 3 frames of 256
    val media = Multimodal.asMedia(d, "doc_id", "text")
    val fr = Multimodal.frames(media, 256).orderBy("frame_idx")
      .select("frame").collect().map(_.getAs[Array[Byte]](0))
    assert(fr.length == 3)
    assert(fr.map(_.length).toSeq == Seq(256, 256, 88))
    assert(new String(fr.flatten, "UTF-8") == "ab" * 300)
    val f1 = Multimodal.fakeDecodeFeatures(media, dim = 4).head()
    val f2 = Multimodal.fakeDecodeFeatures(media, dim = 4).head()
    assert(f1.getSeq[Float](1) == f2.getSeq[Float](1))
    assert(f1.getSeq[Float](1).length == 4)
    // 'a' = 0x61 → 97/255
    assert(math.abs(f1.getSeq[Float](1).head - 97f / 255f) < 1e-6)
  }

  test("cosinePairsLsh: bucketed pairs ⊆ exact all-pairs with identical cosines") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val exact = graft.llmops.Similarity.cosinePairs(e, minCosine = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = graft.llmops.Similarity.cosinePairsLsh(e, minCosine = 0.4,
      planes = 16, bands = 4, dim = 64).collect()
    assert(lsh.nonEmpty, "banded buckets should recall some of the 66 exact pairs")
    // the rescore is lossless: every surfaced pair is a TRUE pair with the
    // exact pipeline's cosine, bit for bit (misses are the only divergence)
    lsh.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(exact.contains(k), s"bucketed pair $k absent from the exact result")
      assert(exact(k) == r.getDouble(2), s"cosine diverged for $k")
    }
  }

  test("cosinePairsLsh: degenerate mega-bucket (identical vectors) stays correct — all true pairs, exact cosines") {
    import spark.implicits._
    // 40 byte-identical vectors collapse every band into ONE bucket (the
    // worst-case Σ bucket² skew q278's ε-graph can see) plus 5 orthogonal
    // singletons; correctness must not depend on bucket balance
    val dup = (0L until 40L).map(i => (i, Array.fill(8)(0.5f)))
    val solo = (100L until 105L).map(i =>
      (i, Array.tabulate(8)(j => if (j == (i % 8).toInt) 1.0f else 0.0f)))
    val e = (dup ++ solo).toDF("id", "vec")
    val got = graft.llmops.Similarity
      .cosinePairsLsh(e, minCosine = 0.9, planes = 16, bands = 4, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every identical pair surfaces (same signature ⇒ every band collides)
    // at cosine exactly 1.0; no cross pair sneaks in above the threshold
    val wantKeys = (for (a <- 0L until 40L; b <- a + 1 until 40L) yield (a, b)).toSet
    assert(got.keySet == wantKeys,
      s"mega-bucket pair set wrong: ${got.size} pairs vs ${wantKeys.size}")
    assert(got.values.forall(_ == 1.0), "identical vectors must score exactly 1.0")
  }

  test("knnClassify: majority label of the nearest seeds wins") {
    import spark.implicits._
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 1),
      (11L, Array(0.9f, 0.1f), 1),
      (12L, Array(0.0f, 1.0f), 2),
      (13L, Array(0.1f, 0.9f), 2),
      (14L, Array(0.8f, 0.2f), 3)
    ).toDF("id", "vec", "label")
    val queries = Seq((1L, Array(1.0f, 0.05f))).toDF("id", "vec")
    val got = Similarity.knnClassify(queries, corpus, k = 3).collect()
    assert(got.length == 1)
    // top-3 by cosine: 10, 11 (label 1) and 14 (label 3) → majority 1, 2 votes
    assert(got.head.getLong(0) == 1L)
    assert(got.head.getInt(1) == 1)
    assert(got.head.getLong(2) == 2L)
  }

  test("crossSourceDupMatrix: mirrored content rolls up by unordered source pair") {
    import spark.implicits._
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, dup, "siteA"), (2L, dup, "siteB"),          // cross-source mirror
      (3L, dup, "siteB"),                              // also dups 1 and 2
      (4L, "totally different text about other things here", "siteC"))
      .toDF("doc_id", "text", "source")
    val got = graft.llmops.Dedup.crossSourceDupMatrix(d, "doc_id", "text", "source",
        n = 3, minJaccard = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // pairs: (1,2) A-B, (1,3) A-B, (2,3) B-B; siteC clean → absent
    assert(got == Map(
      ("siteA", "siteB") -> ((2L, 3L)),
      ("siteB", "siteB") -> ((1L, 2L))))
  }

  test("incrementalDedup: delta dup of an indexed doc flags; novel doc admits") {
    import org.apache.spark.sql.functions.col
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val docs = docsDF(
      1L -> dup,
      2L -> "completely different content about trains planes and boats here",
      100L -> dup, // exact duplicate of indexed doc 1
      101L -> "novel text that matches nothing in the corpus index at all")
    val got = Dedup.incrementalDedup(docs, "doc_id", "text",
        deltaPred = col("id") >= 100, n = 3, minhashK = 16, rowsPerBand = 4,
        minJaccard = 0.8).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(got.keySet == Set(100L, 101L)) // every delta doc audited, corpus absent
    // identical shingle sets ⇒ identical signatures ⇒ all bands collide
    assert(got(100L) == ((1L, 1L, 1.0, true)))
    assert(got(101L) == ((0L, -1L, 0.0, false)))
  }

  test("frameJaccardPairs: identical payloads score 1.0; cap bounds candidates but not n_inter") {
    import graft.llmops.Multimodal
    val a = "x" * 200 // frames (64B): 4 per payload, 3 identical across a/b
    val d = docsDF(
      1L -> a,
      2L -> (a.substring(0, 192) + "DIFFERENT-TAIL-HERE-NOW!"),
      3L -> "completely unrelated payload text that shares nothing at all.")
    val media = Multimodal.asMedia(d, "doc_id", "text")
    val got = Multimodal.frameJaccardPairs(media, frameBytes = 64, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // payloads 1/2 share the three full 64B "xxxx" frames; doc 1's distinct
    // set is {xxxx-frame, 8-byte tail}, doc 2's is {xxxx-frame, other tail}
    // -> n_inter=1 over sets of 2 and 2 => J = 1/3 >= 0.3
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) == ((1L, 2L, 2L)))
    // capped at fdf<=1 the shared frame is a stop-frame: pair missed (lossy
    // recall), but nothing else surfaces and nothing mis-scores
    assert(Multimodal.frameJaccardPairs(media, frameBytes = 64, minJaccard = 0.3,
      maxFrameDocFreq = Some(1)).count() == 0)
    // cap high enough keeps the pair with the SAME exact jaccard
    val capped = Multimodal.frameJaccardPairs(media, frameBytes = 64,
        minJaccard = 0.3, maxFrameDocFreq = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(capped.keySet == Set((1L, 2L)) && capped((1L, 2L)) == 1.0 / 3)
  }

  test("cdcDupCoverage survives an insertion that destroys fixed-frame dedup") {
    import graft.llmops.Multimodal
    val base = (1 to 40).map(i => s"sentence number $i with some shared words here.").mkString(" ")
    val edited = base.substring(0, 200) + " [INSERTED BANNER TEXT] " + base.substring(200)
    val d = docsDF(1L -> base, 2L -> edited)
    val cdc = Multimodal.cdcDupCoverage(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // CDC: only the chunks overlapping the edit neighborhood diverge
    assert(cdc(1L)._3 > 700, s"CDC coverage collapsed: ${cdc(1L)}")
    assert(cdc(2L)._3 > 700, s"CDC coverage collapsed: ${cdc(2L)}")
    // fixed 64-byte frames: everything after the insertion point shifts,
    // so shared frames are (roughly) only the pre-edit prefix
    val fixed = Multimodal.frameDupCoverage(
        Multimodal.asMedia(d, "doc_id", "text"), frameBytes = 64).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(fixed(2L) < cdc(2L)._3,
      s"fixed frames ${fixed(2L)} should lose signal CDC keeps ${cdc(2L)._3}")
    // chunk lengths are content-defined: identical content -> identical cuts
    val n1 = cdc(1L)._1
    assert(n1 > 5, s"expected several ~64-char chunks over ${base.length} chars, got $n1")
  }

  test("semDedup ≡ brute force: in-cluster smaller-id twins at cos ≥ t, and only those") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cluster = Similarity.kmeansIntAssign(e, k = 8, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force: ALL exact pairs at the threshold, then keep in-cluster ones
    val expect = Similarity.cosinePairs(e, minCosine = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => cluster(a) == cluster(b) }
      .groupBy(_._2).map { case (b, ps) => b -> ps.length.toLong }
    val got = Similarity.semDedup(e, k = 8, iters = 2, minCosine = 0.4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got.keySet == cluster.keySet) // one row per vector
    got.foreach { case (id, (cl, nDup, keep)) =>
      assert(cl == cluster(id), s"cluster diverged for $id")
      assert(nDup == expect.getOrElse(id, 0L), s"n_dup_prior diverged for $id")
      assert(keep == (nDup == 0L))
    }
    assert(got.values.exists(!_._3), "fixture should drop at least one vector")
  }

  test("semDedup k-scaling: raising k bounds the per-cluster pair cost (k ∝ corpus rule)") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val n = e.count()
    val allPairs = n * (n - 1) / 2
    // Σ c·(c−1)/2 over cluster sizes = the pairwise-cosine work semDedup does
    def pairCost(k: Int): Long = Similarity.kmeansIntAssign(e, k, iters = 2)
      .groupBy("cluster").count().collect()
      .map(r => { val c = r.getLong(1); c * (c - 1) / 2 }).sum
    val at2 = pairCost(2)
    val at32 = pairCost(32)
    // the SCALE.md contract: k is the knob that keeps (n/k)² bounded —
    // 16× the clusters must cut the pair work by well over 2×, and even
    // the coarse clustering must already beat the quadratic baseline
    assert(at2 < allPairs, s"k=2 pair cost $at2 should beat all-pairs $allPairs")
    assert(at32 * 2 < at2, s"k=32 pair cost $at32 should be ≪ k=2 cost $at2")
  }

  test("annRecall ≡ set intersection of the IVF and exact top-k neighbor lists") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val approx = Similarity.cosineTopKIvfPivot(e, k = 5, nlist = 16, nprobe = 4)
      .filter(col("vec_id") < 50).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = Similarity.cosineTopK(e.filter(col("id") < 50), e, k = 5,
        exact = true).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val got = Similarity.annRecall(e, k = 5, nlist = 16, nprobe = 4,
        maxQueryId = 50L).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (q, (nHits, recall)) =>
      val expect = (exact(q) & approx.getOrElse(q, Set.empty)).size.toLong
      assert(nHits == expect, s"hit count diverged for query $q")
      assert(recall == nHits.toDouble / 5)
    }
  }

  test("multi-probe LSH: lowest-margin flip probes never lose recall vs single-probe") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = sets(Similarity.cosineTopK(e, e, k = 5, exact = true))
    val single = sets(Similarity.cosineTopKLshMultiProbe(e, k = 5, planes = 16,
      bands = 4, dim = 64, probeFlips = 0))
    val multi = sets(Similarity.cosineTopKLshMultiProbe(e, k = 5, planes = 16,
      bands = 4, dim = 64, probeFlips = 1))
    def hits(approx: Map[Long, Set[Long]]) = exact.map { case (q, ex) =>
      (ex & approx.getOrElse(q, Set.empty)).size }.sum
    val (hs, hm) = (hits(single), hits(multi))
    assert(hm >= hs, s"multi-probe recall regressed: $hm < $hs")
    assert(hm > 0 && exact.nonEmpty)
    // the flip probes only ADD candidates: every single-probe query keeps
    // at least its single-probe neighbor count
    single.foreach { case (q, ns) =>
      assert(multi.getOrElse(q, Set.empty).size >= math.min(ns.size, 5) ||
        multi(q).size == 5)
    }
  }

  test("mmrSelect ≡ naive greedy: centrality/diversity trajectory and tie-breaks") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("label").as("grp"), col("embedding").as("vec"))
    // naive in-memory reference with the same integer arithmetic
    val rows = e.collect().map { r =>
      val v = r.getSeq[Float](2).map(f =>
        (math.signum(f.toDouble) * math.floor(math.abs(f.toDouble) * 10000 + 0.5)).toLong)
      (r.getLong(0), r.getInt(1), v.toArray)
    }
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (p, q) => p * q }.sum
    val expect = rows.groupBy(_._2).flatMap { case (grp, vs) =>
      val cent = Array.tabulate(vs.head._3.length) { i =>
        Math.floorDiv(vs.map(_._3(i)).sum, vs.length.toLong) }
      val rel = vs.map(v => v._1 -> dot(v._3, cent)).toMap
      val byId = vs.map(v => v._1 -> v._3).toMap
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
      var picked = List.empty[Long]
      for (k <- 1 to 3) {
        val cands = vs.map(_._1).filterNot(picked.contains).map { id =>
          val score = if (picked.isEmpty) rel(id)
            else rel(id) - picked.map(s => dot(byId(id), byId(s))).max
          (id, score)
        }
        if (cands.nonEmpty) {
          val (id, score) = cands.minBy { case (i, s) => (-s, i) }
          sel += ((grp, k, score, id))
          picked ::= id
        }
      }
      sel.map { case (g, k, s, id) => (g, k) -> (id, s) }
    }
    val got = Similarity.mmrSelect(e, m = 3).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == expect, "greedy trajectory diverged from the naive reference")
  }

  test("splitLeakageAudit: naive split leaks twins; cluster-canonical split audits clean") {
    import org.apache.spark.sql.functions.col
    import graft.llmops.{Corpus, Dedup}
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def audit(split: org.apache.spark.sql.DataFrame) =
      Corpus.splitLeakageAudit(
        split.select(col("id").as("doc_id"), col("split")).join(d, "doc_id"),
        "doc_id", "text", "split", n = 3, minShared = 5L)
    val naive = audit(Corpus.hashSplit(d, "doc_id")).count()
    // the q104 construction: split keyed on the near-dup cluster canonical
    val edges = Dedup.jaccardPairs(d, "doc_id", "text", n = 3,
      minJaccard = 0.8, prefixFilter = true)
    val comp = Dedup.connectedComponents(d.select(col("doc_id").as("id")), edges)
    val safeSplit = Corpus.hashSplitBy(comp, "component")
    // audit pairs = docs sharing >=5 trigrams across splits at ANY jaccard;
    // the invariant protects >=0.8-jaccard twins, so check those: every
    // leaked pair under the safe split must NOT be a 0.8-twin
    val leaked = audit(safeSplit)
      .join(edges.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"))
      .count()
    assert(naive > 0, "fixture must contain naive-split leakage to audit")
    assert(leaked == 0, "no near-dup twin may straddle the cluster-keyed split")
  }

  test("kFoldBy: twins share a fold across every CV rotation; folds are 0..k-1") {
    import org.apache.spark.sql.functions.col
    import graft.llmops.{Corpus, Dedup}
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val edges = Dedup.jaccardPairs(d, "doc_id", "text", n = 3,
      minJaccard = 0.8, prefixFilter = true)
    val comp = Dedup.connectedComponents(d.select(col("doc_id").as("id")), edges)
    val folds = Corpus.kFoldBy(comp, "component", k = 5)
    val byId = folds.select("id", "fold").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.values.forall(f => f >= 0 && f < 5))
    assert(byId.values.toSet.size == 5, "500 docs should populate all 5 folds")
    val straddling = edges.select("id_a", "id_b").collect()
      .count(r => byId(r.getLong(0)) != byId(r.getLong(1)))
    assert(straddling == 0, "a near-dup twin pair must never straddle folds")
  }

  test("hashedNgramScore: hand-computed grams, buckets, and weights; empty doc scores 0") {
    def bucket(g: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(12), 16) % 4096
    }
    def w(g: String): Long = (bucket(g) * 2654435761L + 97) % 4294967296L % 2001 - 1000
    val d = docsDF(1L -> "aa bb cc", 2L -> "aa", 3L -> "")
    val got = TextAnalysis.hashedNgramScore(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    val g1 = Seq("aa", "bb", "cc", "aa bb", "bb cc")
    val s1 = g1.map(w).sum
    val floorDiv1 = Math.floorDiv(s1 * 1000, g1.length.toLong)
    assert(got(1L) == ((g1.length.toLong, s1, floorDiv1, s1 >= 0)))
    assert(got(2L) == ((1L, w("aa"), w("aa") * 1000, w("aa") >= 0)))
    assert(got(3L) == ((0L, 0L, 0L, true)))
  }

  test("residualVq: level 1 is exactly kmeansIntAssign; level-2 errors shrink the fixture") {
    import spark.implicits._
    // 2-d vectors in two far groups with within-group structure the
    // second level must capture
    val vecs = Seq(
      0L -> Seq(0.0f, 0.0f), 1L -> Seq(10.0f, 10.0f), 2L -> Seq(0.1f, 0.0f),
      3L -> Seq(0.0f, 0.1f), 4L -> Seq(10.1f, 10.0f), 5L -> Seq(10.0f, 10.1f))
      .toDF("id", "vec")
    val rvq = Similarity.residualVq(vecs, k1 = 2, k2 = 2, iters = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("c1"), r.getAs[Long]("dist1"),
          r.getAs[Long]("c2"), r.getAs[Long]("err2")))).toMap
    val km = Similarity.kmeansIntAssign(vecs, k = 2, iters = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Long]("dist2")))).toMap
    assert(rvq.keySet == km.keySet)
    rvq.foreach { case (id, (c1, dist1, c2, _)) =>
      assert((c1, dist1) == km(id), s"level-1 drifted from kmeansIntAssign at id=$id")
      assert(c2 >= 0L && c2 < 2L)
    }
    // the two far groups split at level 1
    assert(rvq(0L)._1 != rvq(1L)._1)
    assert(Set(0L, 2L, 3L).map(rvq(_)._1).size == 1)
    assert(Set(1L, 4L, 5L).map(rvq(_)._1).size == 1)
  }

  test("rakeKeywords: hand-computed scores; stopwords and punctuation both split phrases") {
    // "deep neural networks" repeats as a glued phrase; stopword "the" and
    // the commas/periods must both cut candidate runs
    val d = docsDF(
      1L -> "Deep neural networks, deep neural networks. The deep model",
      2L -> "deep neural networks and train fast; the model is deep",
      3L -> "deep neural networks")
    val out = TextAnalysis.rakeKeywords(d, "doc_id", "text", minOcc = 1L, topK = 50)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_occ"),
          r.getAs[Long]("score_milli")))).toMap
    // phrase occurrences: "deep neural networks" ×4, "deep model", "model",
    // "train fast", "deep" (after "is")
    assert(out("deep neural networks")._2 == 4L)
    assert(out("deep model")._2 == 1L && out("train fast")._2 == 1L)
    // word stats: deep freq=6 deg=4*3+2+1=15, neural freq=4 deg=12,
    // networks freq=4 deg=12, model freq=2 deg=2+1=3, train/fast freq=1 deg=2
    val deep = 15000L / 6; val neural = 12000L / 4
    assert(out("deep neural networks")._3 == deep + neural + neural)
    assert(out("deep model")._3 == deep + 3000L / 2)
    assert(out("train fast")._3 == 2000L + 2000L)
    // the stopword itself never surfaces as a phrase
    assert(!out.contains("the"))
    // top phrase is the long glued one
    val top = out.maxBy { case (p, (_, _, s)) => (s, p) }
    assert(top._1 == "deep neural networks")
  }

  test("q237 Matryoshka: per-tier top-1 equals the in-memory recompute; 64d tier self-agrees") {
    val sf = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map { f =>
          val d = f.toDouble
          (math.signum(d) * math.floor(math.abs(d) * 1e8 + 0.5)).toLong
        }.toArray).toMap
    def top1(d: Int): Map[Long, Long] =
      vecs.keys.filter(_ < 30).map { q =>
        val qv = vecs(q).take(d)
        val qn = math.sqrt(qv.map(s => BigInt(s) * s).sum.toDouble)
        val best = vecs.toSeq.filter(_._1 != q).map { case (cid, cvFull) =>
          val cv = cvFull.take(d)
          val dot = qv.zip(cv).map { case (a, b) => BigInt(a) * b }.sum
          val cn = math.sqrt(cv.map(s => BigInt(s) * s).sum.toDouble)
          val cos = BigDecimal(dot.toDouble / (qn * cn))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
          (cos, cid)
        }.minBy { case (cos, cid) => (-cos, cid) }
        q -> best._2
      }.toMap
    val got = graft.queries.LlmOps.q237MatryoshkaAgree(spark, sf).collect()
      .map(r => (r.getAs[Long]("trunc_dim"), r.getAs[Long]("vec_id")) ->
        ((r.getAs[Long]("neighbor_id"), r.getAs[Long]("full_neighbor_id"),
          r.getAs[Boolean]("agree")))).toMap
    val nQ = vecs.keys.count(_ < 30)
    assert(got.size == 4 * nQ, "every (tier, query) pair present")
    val full = top1(64)
    Seq(8, 16, 32, 64).foreach { d =>
      val want = top1(d)
      want.foreach { case (q, nb) =>
        val (gotNb, gotFull, agree) = got((d.toLong, q))
        assert(gotNb == nb, s"d=$d q=$q")
        assert(gotFull == full(q))
        assert(agree == (nb == full(q)))
      }
    }
    // the full tier agrees with itself by construction
    assert(got.collect { case ((64L, _), (_, _, a)) => a }.forall(identity))
  }

  // ------------------------- round-13 calibration/drift tier hand walks

  /** First two md5 hex nibbles of the id string — the q83/hashSplitBy
    * bucket, replicated driver-side. */
  private def md5Bucket(id: Long): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    (h(0) & 0xFF).toLong
  }

  test("q319 conformal: threshold is the hand k-th order statistic; per-source coverage matches the census") {
    val sf = "/root/testdata/sf0.001"
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val scores = TextAnalysis.hashedNgramScore(d, "doc_id", "text")
      .select("id", "score_milli").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val srcOf = d.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val cal = scores.keys.filter(md5Bucket(_) < 51).toSeq
      .map(id => (scores(id), id)).sorted
    val n = cal.length.toLong
    val k = (n + 1) - Math.floorDiv(4 * (n + 1) + 4, 5)
    assert(k >= 1 && k <= n, s"degenerate calibration: n=$n k=$k")
    val thr = cal((k - 1).toInt)._1
    val evalIds = scores.keys.filter(md5Bucket(_) >= 51).toSeq
    val want = evalIds.groupBy(srcOf).view.mapValues(ids =>
      (ids.length.toLong, ids.count(scores(_) >= thr).toLong)).toMap
    val got = graft.queries.LlmOps.q319ConformalCoverage(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (s, (ne, nc)) =>
      val r = got(s)
      assert(r.getAs[Long]("n_eval") == ne && r.getAs[Long]("n_covered") == nc,
        s"$s eval census")
      assert(r.getAs[Long]("thr_milli") == thr, s"$s threshold")
      assert(r.getAs[Long]("n_cal") == n && r.getAs[Long]("k_idx") == k)
      assert(r.getAs[Long]("coverage_ppm") == nc * 1000000L / ne)
    }
    // marginal (all-sources) coverage should sit near the >= 1-α = 80%
    // conformal guarantee; a collapse below 50% means the split or the
    // order statistic broke, not sampling noise
    val (totE, totC) = want.values.foldLeft((0L, 0L)) {
      case ((e, c), (ne, nc)) => (e + ne, c + nc) }
    assert(totC * 2 >= totE, s"marginal coverage collapsed: $totC/$totE")
  }

  test("q320 wasserstein: equals the BigInt CDF hand integral; bounded by the score range") {
    val sf = "/root/testdata/sf0.001"
    val d = graft.sources.Tables.load(spark, sf, "documents")
    val scores = TextAnalysis.hashedNgramScore(d, "doc_id", "text")
      .select("id", "score_milli").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val srcOf = d.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val all = scores.values.toSeq
    val grid = all.distinct.sorted
    val nG = all.length.toLong
    val cumG = grid.map(v => v -> all.count(_ <= v).toLong).toMap
    val want = srcOf.values.toSet.map { (s: String) =>
      val vs = scores.collect { case (id, v) if srcOf(id) == s => v }.toSeq
      val nS = vs.length.toLong
      val num = grid.sliding(2).collect { case Seq(v, nv) =>
        val cumS = vs.count(_ <= v).toLong
        (BigInt(cumS) * nG - BigInt(cumG(v)) * nS).abs * (nv - v)
      }.sum
      s -> ((nS, (num / (BigInt(nS) * nG)).toLong))
    }.toMap
    val got = graft.queries.LlmOps.q320WassersteinDrift(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_s"), r.getAs[Long]("n_g"), r.getAs[Long]("w1_milli"))))
      .toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (s, (nS, w1)) =>
      val (gn, gg, gw) = got(s)
      assert(gn == nS && gg == nG, s"$s counts")
      assert(gw == w1, s"$s W1: got $gw want $w1")
      // W1 between distributions supported on [min,max] is <= max - min
      assert(gw >= 0 && gw <= grid.last - grid.head, s"$s W1 out of bounds")
    }
  }
}
