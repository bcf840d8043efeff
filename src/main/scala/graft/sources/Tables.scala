package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}

/** Parquet-backed table catalog over the driver testdata (TESTDATA.md).
  *
  * The reference opens entity-centric tables by name from a Kiji instance
  * (reference: `src/main/java/org/kiji/scoring/impl/InternalFreshKijiTableReader.java:246-249`);
  * here a "table" is a parquet DataFrame in a scale-factor directory. Reads are
  * plain `spark.read.parquet` so Catalyst column pruning / predicate pushdown
  * reach the scan (SURVEY.md §4).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  // Logical-plan catalog: the analyzed scan relation (schema from the
  // parquet footer + the file index) is built once per (session, dir,
  // table) and reused — the catalog role a metastore plays in a real
  // deployment. Caches only the PLAN (a leaf relation), never data; keyed
  // by session identity so concurrent/test sessions stay isolated. The
  // testdata contract is immutable directories — a mutable table would
  // need invalidation here (cf. TxStore, which versions instead).
  // Growth bound: one entry per live (session, dir, table) triple — in
  // the harness that is a handful of sf dirs × 10 tables per JVM, and
  // entries are leaf plans (~KB). A long-lived multi-tenant service
  // cycling many sessions/dirs would want an eviction hook here (e.g.
  // drop a session's entries on sessionState cleanup); documented, not
  // needed at the driver's session-per-process lifecycle.
  private val catalog =
    scala.collection.concurrent.TrieMap.empty[(Int, String, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    catalog.getOrElseUpdate((System.identityHashCode(spark), dir, name),
      if (name == "events") loadEvents(spark, path(dir, name))
      else spark.read.parquet(path(dir, name)))

  /** Load the events table, normalizing `ts` to a session-TZ `TIMESTAMP`
    * (µs precision) regardless of how the parquet writer encoded it. The
    * testdata generator has shipped `ts` as TIMESTAMP(NANOS) (which Spark 4
    * only reads via `nanosAsLong` as raw int64) and as TIMESTAMP(MICROS)
    * (surfaced as TIMESTAMP or TIMESTAMP_NTZ depending on
    * `inferTimestampNTZ`); both encodings must yield the identical frame so
    * the DuckDB oracle (which coerces ns→µs by flooring) stays exact.
    */
  private[graft] def loadEvents(spark: SparkSession, file: String): DataFrame = {
    // Session-wide conf so a TIMESTAMP(NANOS) footer surfaces as int64
    // instead of throwing; a MICROS footer is unaffected by it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(file)
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        // int64 nanos → floor to µs, same truncation DuckDB applies on ns→µs.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw // already µs-precision TIMESTAMP
      case TimestampNTZType =>
        // NTZ → TIMESTAMP is wall-clock identity under the engine's UTC
        // session TZ; keeps every downstream query on one timestamp type.
        raw.withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other (expected int64 nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }
}

/** Key-value store loaders — side inputs for scorers/policies (SURVEY §2.1
  * R12). The reference ships a text-file-backed store
  * (`TestKVStores.java:211-219`: tab-separated key\tvalue lines); stores are
  * small by contract (they broadcast), so a file parse is fine. */
object Stores {
  /** Tab-separated `key<TAB>value` lines → a (key, value) DataFrame. Stores
    * are small by contract (they broadcast), so malformed lines are checked
    * eagerly — a tab-less line would otherwise become a (line, NULL) entry
    * and write silent null scores. */
  def textFile(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val lines = spark.read.text(path).filter(length(trim(col("value"))) > 0)
    val malformed = lines.filter(!col("value").contains("\t")).limit(1).collect()
    require(malformed.isEmpty,
      s"Malformed KV store line in $path (expected key<TAB>value): '${malformed.headOption.map(_.getString(0)).getOrElse("")}'")
    lines.select(
      split(col("value"), "\t", 2).getItem(0).as("key"),
      split(col("value"), "\t", 2).getItem(1).as("value"))
  }

  /** Headered CSV store: must carry `key` and `value` columns (extra
    * columns are dropped). Same small-by-contract eager validation. */
  def csvFile(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val df = spark.read.option("header", "true").csv(path)
    require(df.columns.contains("key") && df.columns.contains("value"),
      s"CSV KV store $path must have 'key' and 'value' columns, " +
        s"found ${df.columns.mkString(", ")}")
    val out = df.select(col("key"), col("value"))
    require(out.filter(col("key").isNull).limit(1).collect().isEmpty,
      s"CSV KV store $path contains a NULL key")
    out
  }

  /** JSON-lines store: one `{"key": ..., "value": ...}` object per line.
    * A malformed line would otherwise parse to an all-NULL row (PERMISSIVE
    * mode) and write silent null scores — checked eagerly instead. */
  def jsonFile(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val out = spark.read
      .schema("key STRING, value STRING")
      .json(path)
      .select(col("key"), col("value"))
    require(out.filter(col("key").isNull).limit(1).collect().isEmpty,
      s"JSON KV store $path contains a malformed line or NULL key")
    out
  }

  /** Store loader keyed by `<format>:<path>` source strings
    * (`text:` tab-separated, `csv:` headered, `json:` JSON-lines), for
    * `FreshReader.Builder.withStoreLoader`. */
  def loader(spark: SparkSession): String => org.apache.spark.sql.DataFrame = {
    case src if src.startsWith("text:") => textFile(spark, src.stripPrefix("text:"))
    case src if src.startsWith("csv:")  => csvFile(spark, src.stripPrefix("csv:"))
    case src if src.startsWith("json:") => jsonFile(spark, src.stripPrefix("json:"))
    case other => throw new IllegalArgumentException(s"Unknown store source '$other'")
  }
}
