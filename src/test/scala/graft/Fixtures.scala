package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{Cells, ColumnName, DataRequest}
import graft.policy.{AlwaysFreshen, FreshnessPolicy, NewerThan}
import graft.score.{ExprScorer, IncrementScorer, KvLookupScorer, Scorer, ScorerContext}

/** In-memory versions of the reference test fixtures (FIXTURES.md; layouts
  * from `src/test/java/org/kiji/scoring/impl/TestInternalFreshKijiTableReader.java:200-217`,
  * `src/test/java/org/kiji/scoring/TestFreshnessDemo.java:67,86-95`,
  * `src/test/java/org/kiji/scoring/TestKijiFreshnessManager.java:86-99`). */
object Fixtures {
  case class SCell(ts: Long, value: String)
  case class LCell(ts: Long, value: Long)
  case class ICell(ts: Long, value: Int)

  case class RowData(entity_id: String,
      family_qual0: Seq[SCell], family_qual1: Seq[SCell], family_qual2: Seq[SCell],
      map: Map[String, Seq[ICell]])

  /** ROW_DATA_TEST (engine tests). */
  def rowDataTest(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      RowData("foo", Seq(SCell(5, "foo-val")), Seq(SCell(5, "foo-val")),
        Seq(SCell(5, "foo@val.com")), Map("qualifier" -> Seq(ICell(5, 1)))),
      RowData("bar", Seq(SCell(5, "bar-val")), Seq(),
        Seq(SCell(5, "bar@val.com")), Map.empty)
    ).toDS.toDF
  }

  case class UserRow(entity_id: String, info_name: Seq[SCell], info_visits: Seq[LCell])

  /** COUNTER_TEST (`user` demo table): foo's visits=(ts 1, 10). */
  def userCounter(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      UserRow("foo", Seq(SCell(5, "foo-val")), Seq(LCell(1, 10))),
      UserRow("bar", Seq(SCell(1, "bar-val")), Seq(LCell(5, 100)))
    ).toDS.toDF
  }

  case class WideRow(entity_id: String, g_c0: Seq[LCell], g_c1: Seq[LCell], g_c2: Seq[LCell],
      g_c3: Seq[LCell], g_c4: Seq[LCell], g_c5: Seq[LCell])

  /** `n` string-keyed entities `u0`…`u<n-1>` with six one-version long cells
    * `g:c0`…`g:c5`: cell c of row i holds (ts(i, c), 10·i + c). */
  def wideCells(spark: SparkSession, n: Int, ts: (Int, Int) => Long): DataFrame = {
    import spark.implicits._
    def cell(i: Int, c: Int) = Seq(LCell(ts(i, c), 10L * i + c))
    (0 until n).map(i => WideRow(s"u$i", cell(i, 0), cell(i, 1), cell(i, 2), cell(i, 3),
      cell(i, 4), cell(i, 5))).toDS.toDF
  }

  case class RegistryUserRow(entity_id: String, info_name: Seq[SCell],
      info_email: Seq[SCell], networks: Map[String, Seq[SCell]])

  /** USER_TABLE (registry/validation tests). */
  def userRegistry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      RegistryUserRow("foo", Seq(SCell(5, "foo-val")), Seq(SCell(5, "foo@bar.org")), Map.empty),
      RegistryUserRow("bar", Seq(SCell(5, "bar-val")), Seq(SCell(5, "bar@foo.org")), Map.empty)
    ).toDS.toDF
  }
}

// ---- test scorers/policies (top-level: loaded reflectively by class name,
// ---- mirroring `impl/InternalFreshKijiTableReader.java:319-345`) ----

/** Demo producer: visits+1 (`TestFreshnessDemo.java:56-59`). */
class VisitsIncrement extends IncrementScorer(ColumnName.qualified("info", "visits"))

/** Counter increments on the [[Fixtures.wideCells]] columns `g:c<i>`. */
abstract class WideIncrement(c: Int) extends IncrementScorer(ColumnName.qualified("g", s"c$c"))
class WideInc0 extends WideIncrement(0)
class WideInc1 extends WideIncrement(1)
class WideInc2 extends WideIncrement(2)
class WideInc3 extends WideIncrement(3)
class WideInc4 extends WideIncrement(4)
class WideInc5 extends WideIncrement(5)

/** Rewrite producer: constant 'new-val' on family:qual0
  * (`TestInternalFreshKijiTableReader.java:86-89,407-431`). */
class QualRewrite extends ExprScorer {
  override def dataRequest: DataRequest = DataRequest(Seq(ColumnName("family:qual0")))
  override def outputColumn: ColumnName = ColumnName("family:qual0")
  override def scoreExpr(ctx: ScorerContext) = org.apache.spark.sql.functions.lit("new-val")
}

/** Constant producer attached to info_name in the user table. */
class NameRewrite extends ExprScorer {
  override def dataRequest: DataRequest = DataRequest(Seq(ColumnName("info:name")))
  override def outputColumn: ColumnName = ColumnName("info:name")
  override def scoreExpr(ctx: ScorerContext) = org.apache.spark.sql.functions.lit("scored")
}

/** Map-family counter: every present qualifier gets value+1
  * (`TestInternalFreshKijiTableReader.java:125-135`). */
class MapIncrement extends Scorer {
  import org.apache.spark.sql.functions._
  override def dataRequest: DataRequest = DataRequest(Seq(ColumnName("map", None)))
  override def outputColumn: ColumnName = ColumnName("map", None)
  override def score(stale: DataFrame, ctx: ScorerContext): DataFrame =
    stale.select(col("entity_id"), explode(col("map")).as(Seq("qualifier", "cell")))
      .select(col("entity_id"), col("qualifier"),
        (coalesce(Cells.newestValue(col("cell")), lit(0)) + lit(1)).as("value"))
}

/** Counter on ONE qualifier of the map family: map:qualifier + 1. */
class MapQualifierIncrement extends ExprScorer {
  override def dataRequest: DataRequest = DataRequest(Seq(ColumnName("map:qualifier")))
  override def outputColumn: ColumnName = ColumnName("map:qualifier")
  override def scoreExpr(ctx: ScorerContext) = {
    import org.apache.spark.sql.functions._
    coalesce(Cells.newestValue(col("map_qualifier")), lit(0)) + lit(1)
  }
}

/** A constant on a second qualifier of the map family. */
class MapOtherConst extends ExprScorer {
  override def dataRequest: DataRequest = DataRequest(Seq(ColumnName("map:other")))
  override def outputColumn: ColumnName = ColumnName("map:other")
  override def scoreExpr(ctx: ScorerContext) = org.apache.spark.sql.functions.lit(7)
}

/** Two newest versions of g:c1 within ts [1, 8): 100 × their value sum +
  * how many there are. */
class WindowedSum extends ExprScorer {
  override def dataRequest: DataRequest =
    DataRequest(Seq(ColumnName("g:c1")), maxVersions = 2, timeRange = Some((1L, 8L)))
  override def outputColumn: ColumnName = ColumnName("g:c1")
  override def scoreExpr(ctx: ScorerContext) = {
    import org.apache.spark.sql.functions._
    aggregate(col("g_c1"), lit(0L), (acc, v) => acc + v.getField("value")) * lit(100L) +
      size(col("g_c1")).cast("long")
  }
}

/** Newest g:c2 + 1 when that value is even; NULL when it is odd. */
class EvenOnly extends ExprScorer {
  override def dataRequest: DataRequest = DataRequest(Seq(ColumnName("g:c2")))
  override def outputColumn: ColumnName = ColumnName("g:c2")
  override def scoreExpr(ctx: ScorerContext) = {
    import org.apache.spark.sql.functions._
    val v = Cells.newestValue(col("g_c2"))
    when(v % lit(2L) === lit(0L), v + lit(1L))
  }
}

/** `inner` through the plain [[Scorer]] SPI, so the engine scores it over
  * its own rows (union, group by and join back) rather than in the flag
  * projection: the reference the expression path is checked against. */
abstract class Branched(inner: ExprScorer) extends Scorer {
  override def dataRequest: DataRequest = inner.dataRequest
  override def outputColumn: ColumnName = inner.outputColumn
  override def score(stale: DataFrame, ctx: ScorerContext): DataFrame =
    stale.select(org.apache.spark.sql.functions.col("entity_id"), inner.scoreExpr(ctx).as("value"))
}
class BranchedWideInc0 extends Branched(new WideInc0)
class BranchedWideInc2 extends Branched(new WideInc2)
class BranchedWindowedSum extends Branched(new WindowedSum)
class BranchedEvenOnly extends Branched(new EvenOnly)
class BranchedMapQualifierIncrement extends Branched(new MapQualifierIncrement)
class BranchedMapOtherConst extends Branched(new MapOtherConst)

/** KV-join producer (`TestKVStores.java:85-92`): species = cats[name]. */
class CatsLookup extends KvLookupScorer(
  ColumnName.qualified("info", "name"), "cats", "producer-src",
  ColumnName.qualified("info", "email"))

/** Policy that binds the same store name as [[CatsLookup]] — policy binding
  * shadows the producer's (`TestKVStores.java:244-262`). */
class ShadowingPolicy extends FreshnessPolicy {
  override def isFresh(cell: org.apache.spark.sql.Column, asOf: Long) =
    org.apache.spark.sql.functions.lit(false)
  override def storeBindings: Map[String, String] = Map("cats" -> "policy-src")
}

/** Policy with its OWN data request (R23,
  * `test/impl/TestInternalFreshKijiTableReader.java:150-167`): freshness is
  * judged by info:name's newest timestamp, not by the attached column. */
class NameGatedPolicy extends FreshnessPolicy {
  override def ownRequest: Option[DataRequest] =
    Some(DataRequest(Seq(ColumnName.qualified("info", "name"))))
  override def isFresh(cell: org.apache.spark.sql.Column, asOf: Long) =
    Cells.hasValues(cell) && Cells.newestTs(cell) >= org.apache.spark.sql.functions.lit(3L)
}

/** Producer whose data request names a missing column (validation R15). */
class BadRequestScorer extends ExprScorer {
  override def dataRequest: DataRequest = DataRequest(Seq(ColumnName("info:absent")))
  override def outputColumn: ColumnName = ColumnName("info:name")
  override def scoreExpr(ctx: ScorerContext) = org.apache.spark.sql.functions.lit("x")
}

/** Producer declaring a different qualified output than its attachment (R15). */
class WrongOutputScorer extends ExprScorer {
  override def dataRequest: DataRequest = DataRequest(Seq(ColumnName("info:name")))
  override def outputColumn: ColumnName = ColumnName("info:email")
  override def scoreExpr(ctx: ScorerContext) = org.apache.spark.sql.functions.lit("x")
}
