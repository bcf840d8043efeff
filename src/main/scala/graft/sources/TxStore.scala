package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.Materialize

/** Transactional copy-on-write table: versioned MANIFESTS over immutable
  * bucket-partitioned parquet files — the upgrade of the partition-scoped
  * dynamic overwrite (`FreshReader.writeBackDelta`) to real snapshot
  * isolation, built from primitives any shared filesystem offers.
  *
  * Layout:
  * {{{
  *   <path>/data/v<N>/__bucket=<b>/part-*.parquet   -- immutable once written
  *   <path>/_manifests/v<N>.manifest                -- snapshot = file list
  * }}}
  * A manifest lists every (bucket, file) of its snapshot; the CURRENT
  * snapshot is the highest manifest version. A merge writes NEW files for
  * touched buckets only, re-points untouched buckets at their existing
  * files, and commits by atomically creating the next manifest — readers
  * see the old snapshot or the new one, never a mix, and historical
  * versions stay readable (time travel) until compacted away.
  *
  * Commit protocol: the manifest is staged to a temp name and hard-linked
  * to `v<N+1>.manifest` — link(2) is the filesystem's atomic put-if-absent,
  * failing with EEXIST if a concurrent writer committed first (optimistic
  * concurrency — the caller retries on the resulting
  * ConcurrentModificationException). On an object store the same protocol
  * rides the store's native put-if-absent precondition.
  *
  * Scale: rows shuffle once (by bucket) per merge; the merge reads ONLY
  * touched buckets' files; manifests are metadata (O(files)), handled
  * driver-side exactly like every table format's metadata layer. The
  * reference's write-back is per-entity `put` (KijiFreshProducerContext
  * .java:91-131) against HBase's own LSM versioning; this is that
  * durability contract re-expressed for immutable-file storage.
  */
object TxStore {

  /** Deterministic bucket of a key — same function for init and merge, so
    * a key's rows always live in one bucket. */
  private def bucketOf(c: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(c), lit(nBuckets.toLong)).cast("int")

  private def manifestDir(path: String): Path = Paths.get(path, "_manifests")
  private def manifestPath(path: String, v: Int): Path =
    manifestDir(path).resolve(f"v$v%06d.manifest")

  /** List a directory, closing the stream (Files.list holds a directory fd
    * open until closed — leaked fds accumulate over long driver sessions). */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private val ManifestName = """v(\d+)\.manifest""".r

  /** One manifest data entry: bucket, version-dir-relative file, and the
    * file's zone map — per-column (min, max) over LONG-castable columns,
    * absent for columns with no non-null values in the file (such a file is
    * conservatively kept by every prune). */
  private case class Entry(bucket: Int, file: String, stats: Map[String, (Long, Long)]) {
    def line: String = {
      val s = if (stats.isEmpty) "" else
        "\t" + stats.toSeq.sortBy(_._1)
          .map { case (c, (lo, hi)) => s"$c=$lo:$hi" }.mkString(";")
      s"$bucket\t$file$s"
    }
  }

  private object Entry {
    def parse(l: String): Entry = l.split("\t", 3) match {
      case Array(b, f) => Entry(b.toInt, f, Map.empty)
      case Array(b, f, s) => Entry(b.toInt, f,
        s.split(";").filter(_.nonEmpty).map { kv =>
          val Array(c, mm) = kv.split("=", 2)
          val Array(lo, hi) = mm.split(":", 2)
          c -> (lo.toLong, hi.toLong)
        }.toMap)
    }
  }

  /** Highest committed snapshot version, or -1 if none. Parses any digit
    * width — manifestPath's %06d zero-pads but GROWS past v999999, so a
    * fixed-width match would wedge the store there. */
  def currentVersion(path: String): Int = {
    val dir = manifestDir(path)
    if (!Files.isDirectory(dir)) -1
    else listDir(dir)
      .map(_.getFileName.toString)
      .collect { case ManifestName(v) => v.toInt }
      .foldLeft(-1)(math.max)
  }

  private case class Manifest(nBuckets: Int, schemaJson: String, txn: Option[Long],
      statsCols: Seq[String], entries: Seq[Entry]) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** Manifest of `v`: header nBuckets + table schema (JSON), an optional
    * `txn=` line (the cumulative max writer-transaction id — the
    * idempotent-streaming-writer ledger, cf. Delta's txnAppId/txnVersion),
    * an optional `statscols=` line (zone-map column set), then per-file
    * [[Entry]] lines. The schema header makes an entry-less snapshot (init
    * on an empty frame) readable — parquet dirs with zero rows leave
    * nothing to infer from. Manifests written before the optional fields
    * existed parse unchanged. */
  private def readManifest(path: String, v: Int): Manifest = {
    require(Files.exists(manifestPath(path, v)),
      s"snapshot v$v at $path does not exist (never committed, or expired)")
    val lines = Files.readAllLines(manifestPath(path, v)).asScala.toSeq
    val n = lines.head.stripPrefix("nbuckets=").toInt
    val schema = lines(1).stripPrefix("schema=")
    val hdr = lines.drop(2).takeWhile(l =>
      l.startsWith("txn=") || l.startsWith("statscols="))
    val txn = hdr.find(_.startsWith("txn=")).map(_.stripPrefix("txn=").toLong)
    val statsCols = hdr.find(_.startsWith("statscols="))
      .map(_.stripPrefix("statscols=").split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    Manifest(n, schema, txn, statsCols, lines.drop(2 + hdr.length).map(Entry.parse))
  }

  /** Highest writer-transaction id committed at or before the current
    * snapshot (None when no tagged merge ever committed). A replayed
    * micro-batch compares its id against this before writing. */
  def lastTxn(path: String): Option[Long] = {
    val v = currentVersion(path)
    if (v < 0) None else readManifest(path, v).txn
  }

  private def commitManifest(path: String, v: Int, nBuckets: Int, schemaJson: String,
      entries: Seq[Entry], txn: Option[Long] = None,
      statsCols: Seq[String] = Seq.empty): Unit = {
    Files.createDirectories(manifestDir(path))
    val tmp = Files.createTempFile(manifestDir(path), s"staged-v$v-", ".tmp")
    val body = (Seq(s"nbuckets=$nBuckets", s"schema=$schemaJson") ++
      txn.map(t => s"txn=$t").toSeq ++
      (if (statsCols.isEmpty) Seq.empty else Seq(s"statscols=${statsCols.mkString(",")}")) ++
      entries.map(_.line))
      .mkString("\n")
    Files.write(tmp, body.getBytes("UTF-8"))
    // put-if-absent: a POSIX rename REPLACES an existing target, so the
    // atomic no-clobber primitive is link(2) — createLink fails with
    // EEXIST iff another writer committed this version first
    try Files.createLink(manifestPath(path, v), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"snapshot v$v was committed concurrently at $path — retry the merge")
    } finally Files.deleteIfExists(tmp)
  }

  /** Scan a staged data dir and return its entries (no stats yet). */
  private def listVersionFiles(path: String, dirName: String): Seq[Entry] = {
    val vdir = Paths.get(path, "data", dirName)
    listDir(vdir)
      .filter(p => p.getFileName.toString.startsWith("__bucket="))
      .flatMap { bdir =>
        val b = bdir.getFileName.toString.stripPrefix("__bucket=").toInt
        listDir(bdir)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => Entry(b, s"$dirName/__bucket=$b/${f.getFileName}", Map.empty))
      }
  }

  /** Zone maps for freshly staged entries: ONE Spark pass over the staged
    * files (grouped by input file, read with the snapshot's `schema`, so no
    * footer-inference job runs), min/max of each stats column cast to
    * LONG. A column with no non-null values in a file gets no stats there
    * (that file is conservatively kept by every prune on it). Cost is a
    * scan of exactly the files just written — the same rows the writer
    * already shuffled — and only when the store declares stats columns. */
  private def withStats(spark: SparkSession, path: String, entries: Seq[Entry],
      statsCols: Seq[String], schema: StructType): Seq[Entry] = {
    if (statsCols.isEmpty || entries.isEmpty) return entries
    val df = spark.read.schema(schema)
      .parquet(entries.map(e => Paths.get(path, "data", e.file).toString): _*)
    val present = statsCols.filter(df.columns.contains)
    if (present.isEmpty) return entries
    val aggs = present.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"__min_$c"),
      max(col(c).cast("long")).as(s"__max_$c")))
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect() // one row per staged FILE — metadata scale
    val marker = "/data/"
    val byFile = rows.map { r =>
      val raw = r.getString(0)
      val rel = raw.substring(raw.lastIndexOf(marker) + marker.length)
      val m = present.zipWithIndex.flatMap { case (c, i) =>
        val lo = r.get(1 + 2 * i)
        val hi = r.get(2 + 2 * i)
        if (lo == null || hi == null) None
        else Some(c -> (lo.asInstanceOf[Long], hi.asInstanceOf[Long]))
      }.toMap
      rel -> m
    }.toMap
    entries.map(e => e.copy(stats = byFile.getOrElse(e.file, Map.empty)))
  }

  private def writeVersionData(df: DataFrame, path: String, dirName: String,
      maxRecordsPerFile: Long = 0L): Unit = {
    val w = df.write.mode("errorifexists").partitionBy("__bucket")
    (if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile.toString) else w)
      .parquet(Paths.get(path, "data", dirName).toString)
  }

  /** Create snapshot v0 from `df`, bucketed by `key`. `statsCols` declares
    * the store's zone-map columns (LONG-castable): every commit records
    * per-file min/max for them, and [[readWhere]] prunes file reads by
    * range. Declare the columns correlated with write order (event time on
    * an append stream, the merge key after a range-clustered rewrite) —
    * zone maps on columns uncorrelated with file layout keep every file. */
  def init(df: DataFrame, path: String, key: String, nBuckets: Int,
      statsCols: Seq[String] = Seq.empty): Unit = {
    require(currentVersion(path) == -1, s"$path already holds a TxStore")
    writeVersionData(df.withColumn("__bucket", bucketOf(col(key), nBuckets)), path, "v0")
    commitManifest(path, 0, nBuckets, df.schema.json,
      withStats(df.sparkSession, path, listVersionFiles(path, "v0"), statsCols, df.schema),
      statsCols = statsCols)
  }

  /** Read a snapshot (default: current). Files are grouped by their version
    * dir so the partition column recovers from the directory layout; a
    * compacted table reads as a handful of groups. An entry-less snapshot
    * (empty init, or a merge that emptied every bucket) reads as an empty
    * frame with the manifest's stored schema. */
  def read(spark: SparkSession, path: String, version: Option[Int] = None): DataFrame =
    readEntries(spark, path, version, _ => true)

  /** Read a set of manifest entries, grouped by version dir so the
    * `__bucket` partition column recovers from the directory layout.
    * Version dirs written before an additive schema evolution lack the
    * newer columns — read with the snapshot's `schema`, they surface them
    * as nulls, exactly the Avro/parquet additive-evolution contract. The
    * given schema also spares the footer-inference job a schema-less read
    * runs. Keeps `__bucket` (callers drop or reuse it). */
  private def readFiles(spark: SparkSession, path: String,
      entries: Seq[Entry], schema: StructType): DataFrame = {
    val byVdir = entries.groupBy(_.file.split("/", 2)(0))
    byVdir.toSeq.sortBy(_._1).map { case (vdir, es) =>
      spark.read.schema(schema)
        .option("basePath", Paths.get(path, "data", vdir).toString)
        .parquet(es.map(e => Paths.get(path, "data", e.file).toString): _*)
    }.reduce(_.unionByName(_))
  }

  /** Shared snapshot read over the entries passing `keep` — the manifest-
    * level file pruning every targeted read variant goes through. */
  private def readEntries(spark: SparkSession, path: String, version: Option[Int],
      keep: Entry => Boolean): DataFrame = {
    val v = version.getOrElse(currentVersion(path))
    require(v >= 0, s"no committed snapshot at $path")
    val m = readManifest(path, v)
    val entries = m.entries.filter(keep)
    if (entries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
    readFiles(spark, path, entries, m.schema)
      .drop("__bucket")
      // the manifest schema is authoritative for column set AND order:
      // rows from pre-evolution files surface the added columns as null
      .select(m.schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** Zone-map-pruned range read: rows of the snapshot with
    * `lo <= colName <= hi`, reading ONLY files whose recorded [min, max]
    * for `colName` intersects the range (files without stats for the
    * column are conservatively kept). The exact predicate is re-applied to
    * the surviving rows, so the result equals
    * `read(...).filter(colName between lo and hi)` — the zone map changes
    * the I/O, never the answer. */
  def readWhere(spark: SparkSession, path: String, colName: String,
      lo: Long, hi: Long, version: Option[Int] = None): DataFrame =
    readEntries(spark, path, version, e =>
      e.stats.get(colName).forall { case (mn, mx) => mx >= lo && mn <= hi })
      .filter(col(colName).cast("long").between(lo, hi))

  /** Point-lookup read: rows with `key === value`, reading ONLY the one
    * hash bucket the key can live in — the O(files/nBuckets) point-get the
    * bucketed layout exists for (the HBase-get analogue of the reference's
    * read path). */
  def readKey(spark: SparkSession, path: String, key: String, value: Any,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(path))
    require(v >= 0, s"no committed snapshot at $path")
    val n = readManifest(path, v).nBuckets
    // evaluate the SAME bucket expression the writers use, on a 1-row frame
    // (metadata-scale driver job — keeps the hash semantics in one place)
    val b = spark.range(1).select(bucketOf(lit(value), n)).head().getInt(0)
    readEntries(spark, path, version, _.bucket == b)
      .filter(col(key) === lit(value))
  }

  /** Bulk keyed read: rows of the snapshot whose `key` appears in `keys`
    * (a one-column frame named `key`). The keys' hash buckets are computed
    * once (bounded by nBuckets — metadata scale), files outside those
    * buckets never open, and the exact membership is a semi-join over the
    * surviving rows. This is the read half of incremental maintenance: a
    * delta touching k buckets reads k buckets, not the table. */
  def readFor(spark: SparkSession, path: String, key: String, keys: DataFrame,
      version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(path))
    require(v >= 0, s"no committed snapshot at $path")
    val n = readManifest(path, v).nBuckets
    val bSet = keys.select(bucketOf(col(key), n).as("__b")).distinct()
      .collect().map(_.getInt(0)).toSet // ≤ nBuckets values
    readEntries(spark, path, version, e => bSet(e.bucket))
      .join(keys.select(col(key)).distinct(), Seq(key), "left_semi")
  }

  /** (files kept, files total) a [[readWhere]] on this range would touch —
    * the observable the zone-map specs and reports assert on. */
  def pruneCount(path: String, colName: String, lo: Long, hi: Long,
      version: Option[Int] = None): (Int, Int) = {
    val v = version.getOrElse(currentVersion(path))
    require(v >= 0, s"no committed snapshot at $path")
    val entries = readManifest(path, v).entries
    val kept = entries.count(e =>
      e.stats.get(colName).forall { case (mn, mx) => mx >= lo && mn <= hi })
    (kept, entries.size)
  }

  /** Copy-on-write MERGE: upsert `delta` (unique per `key`, delta wins) into
    * a snapshot. Only buckets containing delta keys are read and rewritten;
    * every untouched bucket re-enters the new manifest by reference.
    * Returns the committed version.
    *
    * `expectedVersion` pins the snapshot the delta was derived from
    * (compare-and-swap): the commit targets `expected + 1` and FAILS with
    * ConcurrentModificationException if another writer committed that
    * version first — the caller re-reads and re-merges. Omitted, the merge
    * bases on whatever is current at entry (last-writer-wins upsert).
    *
    * Schema evolution (additive): a delta carrying columns beyond the
    * stored schema WIDENS the table — the new snapshot's schema appends
    * them, untouched buckets keep their old files and read the added
    * columns as null. A delta missing a stored column, or retyping one, is
    * rejected (drops/retypes need an explicit migration, not an upsert). */
  def merge(spark: SparkSession, path: String, delta: DataFrame, key: String,
      expectedVersion: Option[Int] = None, txn: Option[Long] = None): Int = {
    val v = expectedVersion.getOrElse(currentVersion(path))
    require(v >= 0, s"no committed snapshot at $path — init first")
    val m = readManifest(path, v)
    val (nBuckets, prevTxn, entries) = (m.nBuckets, m.txn, m.entries)
    val stored = m.schema
    stored.foreach { f =>
      val d = delta.schema.find(_.name == f.name)
      require(d.isDefined, s"delta is missing stored column '${f.name}' " +
        "(additive evolution only — a merge cannot drop columns)")
      // compare via simpleString: ignores nullability flags, which a
      // parquet round-trip relaxes — that is not a retype (the public
      // equivalent of the private DataType.sameType)
      require(d.get.dataType.simpleString == f.dataType.simpleString,
        s"delta retypes column '${f.name}': ${f.dataType.simpleString} -> " +
          s"${d.get.dataType.simpleString} (not supported)")
    }
    val added = delta.schema.filterNot(f => stored.fieldNames.contains(f.name))
    val schemaJson = StructType(stored ++ added).json
    // one materialization: the join input, with the touched-bucket set
    // (bounded by nBuckets — metadata scale) observed in the same job
    val (d, touchedRow) = Materialize.observed(
      delta.withColumn("__bucket", bucketOf(col(key), nBuckets)),
      collect_set(col("__bucket")))
    val touched = touchedRow.getSeq[Int](0).toSet
    if (touched.isEmpty) return v
    val (touchedEntries, untouchedEntries) = entries.partition(e => touched(e.bucket))
    // read ONLY the touched buckets' current rows
    val base =
      if (touchedEntries.isEmpty) d.limit(0).drop("__bucket")
      else readFiles(spark, path, touchedEntries, stored).drop("__bucket")
    // allowMissingColumns: surviving base rows null-fill any column this
    // delta just added (additive evolution)
    val merged = base
      .join(d.select(col(key)), Seq(key), "left_anti")
      .unionByName(d.drop("__bucket"), allowMissingColumns = true)
      .withColumn("__bucket", bucketOf(col(key), nBuckets))
    val nv = v + 1
    // stage under a writer-unique dir name: two racing writers can both
    // stage without colliding; only the manifest rename decides the winner
    val dirName = s"v$nv-${java.util.UUID.randomUUID().toString.take(8)}"
    writeVersionData(merged, path, dirName)
    // fresh files get fresh zone maps; untouched entries keep theirs
    try commitManifest(path, nv, nBuckets, schemaJson,
      withStats(spark, path, listVersionFiles(path, dirName), m.statsCols,
        StructType(stored ++ added)) ++ untouchedEntries,
      (prevTxn.toSeq ++ txn.toSeq).reduceOption(_ max _), m.statsCols)
    catch {
      case e: java.util.ConcurrentModificationException =>
        // the staged data dir lost the CAS race and no manifest references
        // it — delete it here so a retry loop doesn't accumulate a full
        // copy of the touched buckets per attempt (vacuum() is the backstop
        // for crashes between stage and this cleanup)
        deleteRecursively(Paths.get(path, "data", dirName))
        throw e
    }
    nv
  }

  /** SELECTIVE small-file compaction — the incremental form of
    * [[compact]] (which rewrites the whole table): rewrite only buckets
    * whose rows are spread across more than `maxFilesPerBucket` files
    * (every [[merge]]/[[delete]] adds one file per touched bucket, so
    * after k upserts a hot bucket reads k files); already-compact buckets
    * re-enter the new manifest by reference, exactly like an untouched
    * bucket in a merge. Row content is IDENTICAL before and after — the
    * operation changes layout, never data — and the commit is the same
    * atomic CAS rename, so readers and racing writers see old or new
    * layout, never a mix. Fresh files get fresh zone maps (a compacted
    * bucket's min/max tighten to the union of its parts); the txn
    * watermark carries over unchanged.
    *
    * `sortCols` turns this into CLUSTERED compaction (the OPTIMIZE …
    * SORT/ZORDER BY verb): each rewritten bucket sorts by the given
    * columns and, with `maxRecordsPerFile > 0`, splits into consecutive
    * range-tight files — so the store's zone maps ([[readWhere]]) prune
    * WITHIN a bucket, not just across buckets. Pass a single time/key
    * column for range clustering or a precomputed
    * [[graft.functions.GraftFunctions.zorder2]] column for 2-D locality.
    *
    * Scale: this is the form a 100 TB table runs on a cadence — cost ∝
    * fragmented buckets only (one shuffle keyed on the bucket id; all
    * rows of a bucket land in one task), while [[compact]]'s full rewrite
    * is ∝ the whole table. Returns (version, filesBefore, filesAfter);
    * version is unchanged when nothing is fragmented. */
  def compactBuckets(spark: SparkSession, path: String, maxFilesPerBucket: Int = 1,
      expectedVersion: Option[Int] = None, sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L): (Int, Int, Int) = {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket must be >= 1, got $maxFilesPerBucket")
    val v = expectedVersion.getOrElse(currentVersion(path))
    require(v >= 0, s"no committed snapshot at $path — init first")
    val m = readManifest(path, v)
    val total = m.entries.size
    val frag = m.entries.groupBy(_.bucket)
      .collect { case (b, es) if es.size > maxFilesPerBucket => b }.toSet
    if (frag.isEmpty) return (v, total, total)
    val (touched, untouched) = m.entries.partition(e => frag(e.bucket))
    // one shuffle on the bucket id: every fragmented bucket's rows land in
    // one task, so partitionBy emits one file per bucket (or consecutive
    // sorted chunks of maxRecordsPerFile rows under clustered compaction)
    val repart = readFiles(spark, path, touched, m.schema).repartition(col("__bucket"))
    val rows =
      if (sortCols.isEmpty) repart
      else repart.sortWithinPartitions(col("__bucket") +: sortCols.map(col): _*)
    val nv = v + 1
    val dirName = s"v$nv-${java.util.UUID.randomUUID().toString.take(8)}"
    writeVersionData(rows, path, dirName, maxRecordsPerFile)
    val fresh = withStats(spark, path, listVersionFiles(path, dirName), m.statsCols, m.schema)
    try commitManifest(path, nv, m.nBuckets, m.schemaJson,
      fresh ++ untouched, m.txn, m.statsCols)
    catch {
      case e: java.util.ConcurrentModificationException =>
        deleteRecursively(Paths.get(path, "data", dirName))
        throw e
    }
    (nv, total, fresh.size + untouched.size)
  }

  /** Copy-on-write DELETE: remove every row whose `key` appears in `keys`
    * (a frame exposing the key column). Same bucket-scoped rewrite as
    * [[merge]] — only buckets containing a deleted key are read and
    * rewritten (minus the deleted rows), untouched buckets re-enter the
    * manifest by reference, and the commit is the same CAS. A bucket whose
    * rows are all deleted simply contributes no files to the new snapshot.
    * History stays time-travelable: the pre-delete snapshot keeps the rows.
    * Returns the committed version. */
  def delete(spark: SparkSession, path: String, keys: DataFrame, key: String,
      expectedVersion: Option[Int] = None): Int = {
    val v = expectedVersion.getOrElse(currentVersion(path))
    require(v >= 0, s"no committed snapshot at $path — init first")
    val m = readManifest(path, v)
    val (d, touchedRow) = Materialize.observed(
      keys.select(col(key)).distinct()
        .withColumn("__bucket", bucketOf(col(key), m.nBuckets)),
      collect_set(col("__bucket")))
    val touched = touchedRow.getSeq[Int](0).toSet
    if (touched.isEmpty) return v
    val (touchedEntries, untouchedEntries) = m.entries.partition(e => touched(e.bucket))
    if (touchedEntries.isEmpty) return v // keys hash to buckets holding nothing
    val base = readFiles(spark, path, touchedEntries, m.schema).drop("__bucket")
    val remaining = base.join(d.select(col(key)), Seq(key), "left_anti")
      .withColumn("__bucket", bucketOf(col(key), m.nBuckets))
    val nv = v + 1
    val dirName = s"v$nv-${java.util.UUID.randomUUID().toString.take(8)}"
    writeVersionData(remaining, path, dirName)
    try commitManifest(path, nv, m.nBuckets, m.schemaJson,
      withStats(spark, path, listVersionFiles(path, dirName), m.statsCols, m.schema) ++
        untouchedEntries,
      m.txn, m.statsCols)
    catch {
      case e: java.util.ConcurrentModificationException =>
        deleteRecursively(Paths.get(path, "data", dirName)); throw e
    }
    nv
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Garbage-collect data dirs referenced by NO manifest (staging dirs
    * orphaned by a crashed or CAS-defeated writer). Keeps every dir any
    * committed snapshot references, so time travel is unaffected; safe to
    * run concurrently with readers of committed snapshots. Returns the
    * deleted dir names. */
  def vacuum(path: String): Seq[String] = {
    val dataDir = Paths.get(path, "data")
    if (!Files.isDirectory(dataDir)) return Seq.empty
    val referenced = (0 to currentVersion(path)).flatMap { v =>
      if (Files.exists(manifestPath(path, v)))
        readManifest(path, v).entries.map(_.file.split("/", 2)(0))
      else Seq.empty
    }.toSet
    val orphans = listDir(dataDir)
      .filter(d => Files.isDirectory(d) && !referenced(d.getFileName.toString))
    orphans.foreach(deleteRecursively)
    orphans.map(_.getFileName.toString)
  }

  /** Drop snapshots OLDER than `keepFrom` (retention window): their
    * manifests are deleted, then any data dir referenced ONLY by dropped
    * manifests is removed. Versions >= `keepFrom` stay byte-identical and
    * time-travelable; reading an expired version fails with a clear error
    * (its manifest is gone). This bounds storage under a long merge
    * history — the production retention knob every table format pairs with
    * time travel. Returns the deleted data-dir names. */
  def expire(path: String, keepFrom: Int): Seq[String] = {
    val cur = currentVersion(path)
    require(cur >= 0, s"no committed snapshot at $path")
    require(keepFrom <= cur, s"keepFrom=$keepFrom is beyond current v$cur")
    val keptRefs = (keepFrom to cur).flatMap { v =>
      if (Files.exists(manifestPath(path, v)))
        readManifest(path, v).entries.map(_.file.split("/", 2)(0))
      else Seq.empty
    }.toSet
    val droppedRefs = (0 until keepFrom).flatMap { v =>
      val mp = manifestPath(path, v)
      if (Files.exists(mp)) {
        val refs = readManifest(path, v).entries.map(_.file.split("/", 2)(0))
        Files.delete(mp)
        refs
      } else Seq.empty
    }.toSet
    val orphaned = (droppedRefs -- keptRefs).toSeq.sorted
    orphaned.foreach(d => deleteRecursively(Paths.get(path, "data", d)))
    orphaned
  }

  /** Compact a snapshot: rewrite the CURRENT version's full contents as one
    * fresh data dir and commit it as the next version. Collapses a long
    * merge history (many small files across many version dirs) into one
    * dir of right-sized files; older snapshots stay readable until their
    * dirs are dropped ([[expire]] is that retention knob — until it runs,
    * history is kept, matching the time-travel contract). */
  def compact(spark: SparkSession, path: String): Int = {
    val v = currentVersion(path)
    require(v >= 0, s"no committed snapshot at $path")
    val m = readManifest(path, v)
    val (nBuckets, schemaJson, prevTxn, entries) = (m.nBuckets, m.schemaJson, m.txn, m.entries)
    val nv = v + 1
    if (entries.isEmpty) { commitManifest(path, nv, nBuckets, schemaJson, Seq.empty, prevTxn, m.statsCols); return nv }
    val dirName = s"v$nv-${java.util.UUID.randomUUID().toString.take(8)}"
    // each row's bucket comes from the ORIGINAL files' partition column, so
    // compaction never needs to know the key column
    val withBucket = readFiles(spark, path, entries, m.schema)
    writeVersionData(withBucket.repartition(col("__bucket")), path, dirName)
    try commitManifest(path, nv, nBuckets, schemaJson,
      withStats(spark, path, listVersionFiles(path, dirName), m.statsCols, m.schema),
      prevTxn, m.statsCols)
    catch {
      case e: java.util.ConcurrentModificationException =>
        deleteRecursively(Paths.get(path, "data", dirName)); throw e
    }
    nv
  }
}
