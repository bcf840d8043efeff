package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental exact deduplication over a document stream: the first
  * micro-batch in which a content hash appears wins, and exactly one
  * representative (the smallest doc id within that batch) is emitted for
  * it; every later arrival of the same hash — same batch or any later
  * batch — is silently dropped. This is the streaming form of
  * [[graft.llmops.Dedup.exactDedup]]: a crawl pipeline ingesting shards
  * continuously dedups against everything already accepted without
  * re-scanning the corpus.
  *
  * Semantics are deterministic given a deterministic batch sequence: the
  * winner depends only on WHICH batch first contains the hash and the min
  * id within that batch — not on row order inside a batch or on timing.
  *
  * Scale: state is one boolean per distinct content hash, hash-partitioned
  * across executors — the streaming analogue of the exact-dedup shuffle
  * key (the 64-hex digest, never the document body). Per-batch work is
  * one `groupByKey` shuffle of (hash, id) pairs, proportional to the
  * batch, not the corpus. (The digest itself is computed with `sha2` in
  * the scan projection upstream.)
  */
object StreamingDedup {

  /** Emitted once per distinct hash: the accepted representative and the
    * 0-based micro-batch ordinal it arrived in (from the caller's stage
    * numbering, carried on the row). */
  case class Accepted(sha: String, keep_id: Long, first_batch: Long)

  /** Arrival row tagged with its staged batch ordinal. */
  case class TaggedArrival(sha: String, id: Long, batch: Long)

  /** First-seen dedup across micro-batches. `seen` state never expires —
    * [[firstSeenExpiring]] is the TTL-bounded form for continuous
    * operation; the operator's contract (first batch wins) is the same. */
  def firstSeen(arrivals: Dataset[TaggedArrival]): Dataset[Accepted] = {
    import arrivals.sparkSession.implicits._
    arrivals
      .groupByKey(_.sha)
      .flatMapGroupsWithState[Boolean, Accepted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sha, batch, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // min (batch, id): with one file per trigger every row here has
            // the same batch ordinal, but taking the pairwise min keeps the
            // contract honest if a trigger ever folds two files together
            val best = batch.map(a => (a.batch, a.id)).min
            Iterator.single(Accepted(sha, best._2, best._1))
          }
      }
  }

  /** Chunk-granular arrival: a document's `cidx`-th chunk with digest `g`
    * ([[graft.llmops.Dedup.chunkDedup]]'s unit, streamed). */
  case class ChunkArrival(g: String, id: Long, cidx: Long, batch: Long)

  /** Emitted once per distinct chunk digest: the surviving occurrence. */
  case class ChunkAccepted(g: String, keep_id: Long, keep_cidx: Long,
      first_batch: Long)

  /** First-seen dedup at CHUNK granularity — the streaming form of the
    * C4-style rewrite ([[graft.llmops.Dedup.chunkDedup]]): the first
    * micro-batch containing a chunk digest keeps exactly one occurrence
    * (the min (id, cidx) within that batch); every later verbatim copy of
    * the chunk — same batch or any later one — drops. A crawl pipeline
    * admits only the novel spans of each arriving shard without
    * re-scanning accepted history.
    *
    * State: one boolean per distinct chunk digest, hash-partitioned —
    * same footprint class as [[firstSeen]], keyed one level finer. */
  def firstSeenChunks(arrivals: Dataset[ChunkArrival]): Dataset[ChunkAccepted] = {
    import arrivals.sparkSession.implicits._
    arrivals
      .groupByKey(_.g)
      .flatMapGroupsWithState[Boolean, ChunkAccepted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g, batch, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val best = batch.map(a => (a.batch, a.id, a.cidx)).min
            Iterator.single(ChunkAccepted(g, best._2, best._3, best._1))
          }
      }
  }

  /** Arrival carrying an event timestamp (the watermark clock). */
  case class TsArrival(sha: String, id: Long, batch: Long, ts: java.sql.Timestamp)

  /** [[firstSeen]] with BOUNDED state — the TTL knob a continuous
    * deployment needs: an accepted hash is remembered for `ttlMs` of EVENT
    * time past its acceptance, then dropped from the state store, so state
    * size tracks the TTL window instead of corpus history. After expiry
    * the same content re-admits (is emitted again) — the standard
    * dedup-TTL trade, made explicit rather than unbounded.
    *
    * Expiry is driven by the stream's own watermark (event time), never
    * the wall clock, so a fixed batch sequence reproduces exactly. Two
    * subtleties inherited from the state API: (a) Spark CLEARS a key's
    * timeout on every invocation with data, so duplicate arrivals must
    * re-arm the stored expiry or the entry would never expire; (b) a key
    * whose expiry has passed but that keeps arriving in every batch stays
    * deduped until a batch without it lets the timeout fire and clear the
    * entry (data and timeout never fire together for one key). */
  def firstSeenExpiring(arrivals: Dataset[TsArrival],
      ttlMs: Long): Dataset[Accepted] = {
    import arrivals.sparkSession.implicits._
    arrivals.withWatermark("ts", "0 milliseconds")
      .groupByKey(_.sha)
      .flatMapGroupsWithState[Long, Accepted](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (sha, batch, state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            // duplicate after acceptance: drop it, re-arm the ORIGINAL
            // expiry (no refresh — "remembered ttl past acceptance"); if
            // that expiry already passed, arm just past the watermark so
            // the next X-free batch clears the entry
            state.setTimeoutTimestamp(
              math.max(state.get, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          } else {
            val rows = batch.toSeq
            val best = rows.map(a => (a.batch, a.id)).min
            val expiry = rows.map(_.ts.getTime).max + ttlMs
            state.update(expiry)
            state.setTimeoutTimestamp(expiry)
            Iterator.single(Accepted(sha, best._2, best._1))
          }
      }
  }
}
