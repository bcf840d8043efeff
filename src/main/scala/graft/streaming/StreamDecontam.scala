package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.llmops.TextOps.tokens

/** Streaming benchmark decontamination — the stream–STATIC join shape of
  * Structured Streaming (the one join family the other streaming paths
  * don't exercise: q78 is stream–stream, the rest are stateful
  * aggregations). Documents arrive in micro-batches; the eval-set gram
  * index is a STATIC frame broadcast to every batch — the standard "score
  * a stream against reference data" deployment, where the reference
  * updates on index rebuild, not per event.
  *
  * The gram extractor is a pure per-row expression (array ops, or the
  * native digest loop — like the batch-side
  * [[graft.llmops.Dedup.shingleIndex]], it needs no window), so the whole
  * per-batch plan is stateless until the final per-doc count.
  *
  * Scale: the static side is the SMALL side by construction (eval sets are
  * bounded) and broadcast; the stream side never shuffles for the probe —
  * per-batch work is gram-explode + broadcast-probe, exactly q60's
  * asymmetry. The per-doc count keys on the doc id.
  */
object StreamDecontam {

  /** Distinct token `n`-grams of `text` as an array column — stream-safe
    * (no window). Docs with fewer than n tokens yield an empty array. */
  def gramSet(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) >= n,
      array_distinct(transform(sequence(lit(1), size(t) - (n - 1)),
        i => array_join(slice(t, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct 64-bit gram DIGESTS of `text` — the native-loop fast path
    * ([[graft.functions.GraftFunctions.tokenGramHashes]]) both sides of
    * the probe join compute inside one engine, so digest equality stands
    * in for gram equality ([[gramSet]] stays the string form the oracle
    * replicates); the broadcast index shrinks to 8 bytes per gram. */
  def gramDigests(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.tokenGramHashes(tokens(text), n)

  /** Per-document shared-gram counts of a streaming (id, text) frame
    * against a static one-column (h) eval gram DIGEST set
    * (`evalDocs.select(explode(gramDigests(colsText, n)).as("h")).distinct`):
    * (id, n_shared_grams), one row per contaminated doc — the streaming
    * form of [[graft.llmops.Corpus.decontaminate]]. Inner stream-static
    * join, so the probe itself is stateless; the count aggregation carries
    * the per-doc state. */
  def sharedGrams(stream: DataFrame, evalGramDigests: DataFrame, n: Int): DataFrame =
    stream
      .select(col("id"), explode(gramDigests(col("text"), n)).as("h"))
      .join(broadcast(evalGramDigests), "h")
      .groupBy("id").agg(count(lit(1)).as("n_shared_grams"))
}
