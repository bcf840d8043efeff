package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column coordinate: `family:qualifier` (fully qualified) or bare `family`
  * (a map-type family attachment point).
  *
  * Mirrors the `KijiColumnName` semantics the reference validates against
  * (reference: `src/main/java/org/kiji/scoring/KijiFreshnessManager.java:554-614`).
  */
final case class ColumnName(family: String, qualifier: Option[String]) {
  def isFullyQualified: Boolean = qualifier.isDefined
  /** Flat DataFrame column name for a qualified column (`family_qualifier`). */
  def flat: String = qualifier.map(q => s"${family}_$q").getOrElse(family)
  override def toString: String = qualifier.map(q => s"$family:$q").getOrElse(family)
}

object ColumnName {
  def apply(s: String): ColumnName = s.split(":", 2) match {
    case Array(f)    => ColumnName(f, None)
    case Array(f, q) => ColumnName(f, Some(q))
  }
  def qualified(family: String, qualifier: String): ColumnName =
    ColumnName(family, Some(qualifier))
}

/** Declarative read spec — the analogue of `KijiDataRequest`: a set of columns
  * (or whole map families), a max-versions bound, and a timestamp range
  * `[startMs, endMs)` (reference: `src/main/java/org/kiji/scoring/FreshKijiTableReader.java:59-67`).
  */
final case class DataRequest(
    columns: Seq[ColumnName],
    maxVersions: Int = 1,
    timeRange: Option[(Long, Long)] = None) {

  /** Compile onto an entity view: project entity_id + requested cell columns,
    * each restricted to the ts range and the N newest versions. Column pruning
    * and parquet pushdown are Catalyst's job once this is declared (SURVEY §4).
    */
  def select(view: DataFrame): DataFrame = view.select(windowed(view.schema): _*)

  /** The columns [[select]] projects over a view of this schema: entity_id,
    * then every requested cell column windowed and aliased to its request
    * name. Map-family columns (`MapType`) get the version window applied per
    * qualifier via `transform_values`; a qualified column addressed INTO a map
    * family resolves to `element_at(map, qualifier)`.
    */
  def windowed(schema: StructType): Seq[Column] = {
    def window(c: Column): Column = {
      val ranged = timeRange match {
        case Some((lo, hi)) => Cells.inRange(c, lo, hi)
        case None           => c
      }
      Cells.latest(ranged, maxVersions)
    }
    col(EntityView.EntityId) +: columns.flatMap { cn =>
      if (EntityView.isMapFamily(schema, cn.family)) cn.qualifier match {
        case Some(q) => Seq(window(try_element_at(col(cn.family), lit(q))).as(cn.flat))
        case None    => Seq(transform_values(col(cn.family), (_, v) => window(v)).as(cn.flat))
      }
      else cn.qualifier match {
        case Some(_) => Seq(window(col(cn.flat)).as(cn.flat))
        // bare group family: expand to every family_* cell column (the
        // whole-family read of KijiDataRequest; validation accepts these in
        // producer requests, so execution must too)
        case None => schema.fieldNames.toSeq.filter(_.startsWith(cn.family + "_"))
          .sorted.map(f => window(col(f)).as(f))
      }
    }
  }
}

/** Helpers over the versioned-cell encoding: a cell column is
  * `ARRAY<STRUCT<ts: BIGINT, value: T>>` kept sorted ts-descending (newest
  * first), mirroring the reference's `NavigableSet<Long>` timestamps where
  * `.first()` is newest (reference: `src/main/java/org/kiji/scoring/lib/NewerThan.java:80-83`).
  */
object Cells {
  /** Newest cell (versions kept sorted desc ⇒ element 1). `try_element_at`:
    * empty cells yield NULL rather than an ANSI error. */
  def newest(c: Column): Column = try_element_at(c, lit(1))
  def newestValue(c: Column): Column = newest(c).getField("value")
  def newestTs(c: Column): Column = newest(c).getField("ts")
  /** Column "exists and has values" — the reference's containsColumn+hasValues
    * guard (reference: `src/main/java/org/kiji/scoring/lib/ShelfLife.java:83-91`). */
  def hasValues(c: Column): Column = c.isNotNull && size(c) > 0

  /** Restrict versions to `[lo, hi)`. */
  def inRange(c: Column, lo: Long, hi: Long): Column =
    filter(c, v => v.getField("ts") >= lit(lo) && v.getField("ts") < lit(hi))

  /** Keep the N newest versions. */
  def latest(c: Column, n: Int): Column = slice(c, 1, n)

  /** Write a new version into a cell column (newest-first order preserved;
    * ties broken by value for determinism). The write-back analogue of
    * `ProducerContext.put(ts, value)`
    * (reference: `src/main/java/org/kiji/scoring/impl/KijiFreshProducerContext.java:91-131`). */
  def put(c: Column, ts: Column, value: Column): Column = {
    val appended = array_append(coalesce(c, array()), struct(ts.cast("long").as("ts"), value.as("value")))
    reverse(array_sort(appended))
  }

  /** Build a cell array from tall rows: used with collect_list(struct(ts, value)). */
  def fromCollected(c: Column): Column = reverse(array_sort(c))
}

/** An entity-keyed table view: an `entity_id` column plus versioned cell
  * columns named `family_qualifier` (group families) and `MapType` columns
  * named `family` (map families). See FIXTURES.md for the schema convention.
  */
object EntityView {
  val EntityId = "entity_id"

  /** Group a tall `(entity, ts, value)` frame into a versioned cell column. */
  def cellsFromTall(df: DataFrame, entityCol: String, tsCol: String,
      valueCol: String, outName: String): DataFrame =
    df.groupBy(col(entityCol).as(EntityId))
      .agg(Cells.fromCollected(
        collect_list(struct(col(tsCol).cast("long").as("ts"), col(valueCol).as("value"))))
        .as(outName))

  /** Family kinds used by registry validation (SURVEY §1.1): a group-type
    * family exists as flat `family_*` cell columns; a map-type family as a
    * `MapType` column named `family`. */
  def isMapFamily(schema: StructType, family: String): Boolean =
    schema.fields.exists(f => f.name == family && f.dataType.isInstanceOf[MapType])
  def isGroupFamily(schema: StructType, family: String): Boolean =
    schema.fields.exists(f => f.name.startsWith(family + "_"))
  def familyExists(schema: StructType, family: String): Boolean =
    isMapFamily(schema, family) || isGroupFamily(schema, family)
  def qualifiedColumnExists(schema: StructType, cn: ColumnName): Boolean =
    cn.qualifier.isDefined &&
      (schema.fieldNames.contains(cn.flat) || isMapFamily(schema, cn.family))

  /** Resolve an attachment point to its cell column: a flat
    * `family_qualifier` column, one qualifier of a map family, or the pooled
    * versions of a whole map family (newest-first). */
  def resolveCell(schema: StructType, cn: ColumnName): Column =
    if (isMapFamily(schema, cn.family)) cn.qualifier match {
      case Some(q) => try_element_at(col(cn.family), lit(q))
      case None    => Cells.fromCollected(flatten(map_values(col(cn.family))))
    } else col(cn.flat)
}
