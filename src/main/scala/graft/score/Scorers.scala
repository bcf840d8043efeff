package graft.score

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.{Cells, ColumnName, DataRequest, EntityView}

/** Side inputs + injected clock available to a scorer — the analogue of
  * `ProducerContext` + its KeyValueStores
  * (reference: `src/main/java/org/kiji/scoring/impl/KijiFreshProducerContext.java:135-137`).
  * Stores are small DataFrames `(key, value)` consumed via broadcast joins. */
final case class ScorerContext(asOf: Long, stores: Map[String, DataFrame]) {
  def store(name: String): DataFrame = stores.getOrElse(name,
    throw new IllegalArgumentException(s"No KeyValueStore named '$name' attached"))
}

/** Producer/scorer SPI — the Spark re-expression of `KijiProducer`
  * (reference: `src/main/java/org/kiji/scoring/KijiProducer.java`, consumed at
  * `impl/InternalFreshKijiTableReader.java:337-345,381-385`).
  *
  * The per-row `produce(rowData, context)` becomes a set-at-a-time
  * transformation of the stale slice. Implementations need a no-arg
  * constructor: the registry stores class names and the engine instantiates
  * reflectively, like the reference (`impl/InternalFreshKijiTableReader.java:337-345`).
  */
trait Scorer extends Serializable {
  /** Input columns this scorer reads — `KijiProducer.getDataRequest`. */
  def dataRequest: DataRequest
  /** Declared output column — overridden by the attachment point at write
    * time, per the reference contract (`package-info.java:72-80`). */
  def outputColumn: ColumnName
  /** Required key-value stores: store name → source key resolved by the
    * engine's store loader (`getRequiredStores`). A policy binding the same
    * store name shadows the producer's binding
    * (reference: `impl/InternalFreshKijiTableReader.java:374-379`). */
  def storeBindings: Map[String, String] = Map.empty
  /** Score the stale slice. Input: entity view rows (entity_id + cell
    * columns). Output: one row per scored entity —
    * `(entity_id, value[, qualifier])`; `qualifier` only for map-family
    * attachment points. */
  def score(stale: DataFrame, ctx: ScorerContext): DataFrame
}

object Scorer {
  /** Reflective load from a registry record's producer class
    * (reference: `impl/InternalFreshKijiTableReader.java:337-345`). */
  def load(className: String): Scorer =
    Class.forName(className).getDeclaredConstructor().newInstance().asInstanceOf[Scorer]
}

/** Base class for single-column expression scorers: score = a Column
  * expression over the entity view (codegen-friendly, no UDF).
  *
  * The engine evaluates `scoreExpr` inside the projection that computes the
  * stale flags, not through [[score]]: it sees the request's windowed
  * columns under their request names, plus `entity_id`, and runs only on
  * the rows being scored. So `scoreExpr` must be row-local (no aggregate,
  * window, generator or join) and yield one value per row. `score` is final
  * so both evaluations stay the same function. */
abstract class ExprScorer extends Scorer {
  /** The scoring expression evaluated over the stale slice. */
  def scoreExpr(ctx: ScorerContext): Column
  final override def score(stale: DataFrame, ctx: ScorerContext): DataFrame =
    stale.select(col(EntityView.EntityId), scoreExpr(ctx).as("value"))
}

/** Increment the newest version of a counter cell — the reference demo's
  * producer shape (visits+1, `src/test/java/org/kiji/scoring/TestFreshnessDemo.java:56-59`). */
abstract class IncrementScorer(column: ColumnName) extends ExprScorer {
  override def dataRequest: DataRequest = DataRequest(Seq(column))
  override def outputColumn: ColumnName = column
  override def scoreExpr(ctx: ScorerContext): Column =
    coalesce(Cells.newestValue(col(column.flat)), lit(0L)) + lit(1L)
}

/** Stock scorer over the testdata `events` entity view: newest value + 1.0 —
  * the double-cell analogue of the reference demo's counter increment
  * (`src/test/java/org/kiji/scoring/TestFreshnessDemo.java:56-59`). */
class EventValueIncrement extends ExprScorer {
  override def dataRequest: DataRequest = DataRequest(Seq(ColumnName("events:value")))
  override def outputColumn: ColumnName = ColumnName("events:value")
  override def scoreExpr(ctx: ScorerContext): Column =
    Cells.newestValue(col("events_value")) + lit(1.0d)
}

/** Challenger variant of [[EventValueIncrement]] for champion/challenger
  * shadow evaluation: newest value × 0.9 + 1.0 — a deliberately different
  * deterministic formula so disagreement with the champion is measurable.
  * Same SPI shape as any producer (reference:
  * `src/main/java/org/kiji/scoring/KijiProducer.java`) — shadow scoring is
  * just a second producer scored over the same slice without being served. */
class EventValueRescale extends ExprScorer {
  override def dataRequest: DataRequest = DataRequest(Seq(ColumnName("events:value")))
  override def outputColumn: ColumnName = ColumnName("events:value")
  override def scoreExpr(ctx: ScorerContext): Column =
    Cells.newestValue(col("events_value")) * lit(0.9d) + lit(1.0d)
}

/** Broadcast KV-store lookup scorer — the reference's `TestKVStores` producer
  * (`src/test/java/org/kiji/scoring/TestKVStores.java:85-92`): score =
  * store[key] where key is the newest value of an input cell. */
abstract class KvLookupScorer(keyColumn: ColumnName, storeName: String,
    storeSource: String, output: ColumnName) extends Scorer {
  override def dataRequest: DataRequest = DataRequest(Seq(keyColumn))
  override def outputColumn: ColumnName = output
  override def storeBindings: Map[String, String] = Map(storeName -> storeSource)
  override def score(stale: DataFrame, ctx: ScorerContext): DataFrame = {
    // dedupe store keys deterministically (min value wins): a store file
    // with repeated keys must not multiply scored rows — the merge would
    // duplicate entity rows in the freshened view
    val kv = ctx.store(storeName)
      .groupBy(col("key")).agg(min(col("value")).as("value"))
    stale.select(col(EntityView.EntityId),
        Cells.newestValue(col(keyColumn.flat)).as("__key"))
      .join(broadcast(kv), col("__key") === kv("key"), "left")
      .select(col(EntityView.EntityId), kv("value").as("value"))
  }
}
