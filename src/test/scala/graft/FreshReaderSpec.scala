package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{CapsuleReport, FreshReader, FreshenReport}
import graft.model.{ColumnName, DataRequest}
import graft.policy.{AlwaysFreshen, FreshnessPolicy, NewerDependency, NewerThan, ShelfLife}
import graft.registry.FreshnessManager

/** Engine semantics — mirrors the scenarios of
  * `src/test/java/org/kiji/scoring/TestFreshnessDemo.java:63-104` and
  * `src/test/java/org/kiji/scoring/impl/TestInternalFreshKijiTableReader.java`. */
class FreshReaderSpec extends AnyFunSuite with SparkSpec {

  private val Day = 86400000L

  private def managerFor(tables: (String, DataFrame)*): FreshnessManager = {
    val m = tables.toMap
    new FreshnessManager(name => m.get(name).map(_.schema))
  }

  private def visitsOf(df: DataFrame): Map[String, Long] =
    df.select(col("entity_id"), expr("info_visits[0].value").as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("demo end-to-end: ShelfLife(1 day) + increment, 10→11 then stable 11") {
    val user = Fixtures.userCounter(spark)
    val m = managerFor("user" -> user)
    m.storePolicy("user", ColumnName("info:visits"),
      classOf[VisitsIncrement].getName, new ShelfLife(Day))
    val asOf = Day + 2 // foo (ts=1) is 1 ms past its shelf life; bar (ts=5) fresh
    val req = DataRequest(Seq(ColumnName("info:visits")))

    val r1 = FreshReader.builder(m).withTable("user", user).withAsOf(asOf).build()
    val after1 = r1.freshenAll(req).cache()
    assert(visitsOf(after1) == Map("foo" -> 11L, "bar" -> 100L))

    // second read at the same clock is a no-op (TestFreshnessDemo.java:95-97)
    val r2 = FreshReader.builder(m).withTable("user", after1).withAsOf(asOf).build()
    assert(visitsOf(r2.freshenAll(req)) == Map("foo" -> 11L, "bar" -> 100L))
  }

  test("no-policy fast path: plain read, no scoring machinery") {
    val user = Fixtures.userCounter(spark)
    val r = FreshReader.builder(managerFor("user" -> user))
      .withTable("user", user).withAsOf(999L).build()
    val out = r.freshenTable(DataRequest(Seq(ColumnName("info:visits"))))
    assert(visitsOf(out) == Map("foo" -> 10L, "bar" -> 100L))
  }

  test("point get and bulkGet freshen only the addressed entities") {
    val user = Fixtures.userCounter(spark)
    val m = managerFor("user" -> user)
    m.storePolicy("user", ColumnName("info:visits"),
      classOf[VisitsIncrement].getName, new AlwaysFreshen)
    val r = FreshReader.builder(m).withTable("user", user).withAsOf(50L).build()
    val req = DataRequest(Seq(ColumnName("info:visits")))
    assert(visitsOf(r.get("foo", req)) == Map("foo" -> 11L))
    assert(visitsOf(r.bulkGet(Seq("foo", "bar"), req)) == Map("foo" -> 11L, "bar" -> 101L))
    import spark.implicits._
    val keys = Seq("bar").toDF("entity_id")
    assert(visitsOf(r.bulkGet(keys, req)) == Map("bar" -> 101L))
  }

  test("stale rewrite on a group-family column (foo-val → new-val)") {
    val rowData = Fixtures.rowDataTest(spark)
    val m = managerFor("table" -> rowData)
    m.storePolicy("table", ColumnName("family:qual0"),
      classOf[QualRewrite].getName, new NewerThan(10L)) // both rows (ts=5) stale
    val r = FreshReader.builder(m).withTable("table", rowData).withAsOf(100L).build()
    val out = r.freshenTable(DataRequest(Seq(ColumnName("family:qual0"))))
      .select(col("entity_id"), expr("family_qual0[0].value").as("v"))
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(out == Map("foo" -> "new-val", "bar" -> "new-val"))
  }

  test("R23 full own-request: policy correlates two NON-attached columns") {
    val rowData = Fixtures.rowDataTest(spark)
    val m = managerFor("table" -> rowData)
    // attached to family:qual0, but freshness is a correlation between
    // qual1 and qual2 — neither is the attachment point; the policy state
    // round-trips through the registry's serialize/deserialize on the way
    m.storePolicy("table", ColumnName("family:qual0"),
      classOf[QualRewrite].getName,
      new NewerDependency("family:qual1", "family:qual2"))
    val r = FreshReader.builder(m).withTable("table", rowData).withAsOf(100L).build()
    val out = r.freshenTable(DataRequest(Seq(ColumnName("family:qual0"))))
      .select(col("entity_id"), expr("family_qual0[0].value").as("v"))
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    // foo: qual1 (ts 5) >= qual2 (ts 5) → fresh, value kept;
    // bar: qual1 empty ranks oldest vs qual2 (ts 5) → stale, rewritten
    assert(out == Map("foo" -> "foo-val", "bar" -> "new-val"))
  }

  test("map-family counter increments per present qualifier; repeat increments again") {
    val rowData = Fixtures.rowDataTest(spark)
    val m = managerFor("table" -> rowData)
    m.storePolicy("table", ColumnName("map"),
      classOf[MapIncrement].getName, new AlwaysFreshen)
    val req = DataRequest(Seq(ColumnName("map")))
    val r1 = FreshReader.builder(m).withTable("table", rowData).withAsOf(100L).build()
    val after1 = r1.freshenAll(req).cache()
    def mapVal(df: DataFrame): Map[String, Int] =
      df.filter(col("entity_id") === "foo")
        .selectExpr("map['qualifier'][0].value AS v").collect()
        .map(x => "foo" -> x.getInt(0)).toMap
    assert(mapVal(after1) == Map("foo" -> 2))
    val r2 = FreshReader.builder(m).withTable("table", after1).withAsOf(200L).build()
    assert(mapVal(r2.freshenAll(req)) == Map("foo" -> 3))
  }

  test("qualified attachment into a map family writes only its qualifier") {
    val rowData = Fixtures.rowDataTest(spark)
    val m = managerFor("table" -> rowData)
    m.storePolicy("table", ColumnName("map:qualifier"),
      classOf[MapQualifierIncrement].getName, new AlwaysFreshen)
    val out = FreshReader.builder(m).withTable("table", rowData).withAsOf(100L).build()
      .freshenAll(DataRequest(Seq(ColumnName("map:qualifier"))))
      .selectExpr("entity_id", "map['qualifier'][0].value", "size(map['qualifier'])", "size(map)")
      .collect().map(x => x.getString(0) -> (x.getInt(1), x.getInt(2), x.getInt(3))).toMap
    // foo: 1 → 2 on top of its old version; bar: the qualifier is new (0 + 1)
    assert(out == Map("foo" -> (2, 2, 1), "bar" -> (1, 1, 1)))
  }

  test("family-level freshener yields ONE capsule even when several qualifiers are requested") {
    val rowData = Fixtures.rowDataTest(spark)
    val m = managerFor("table" -> rowData)
    m.storePolicy("table", ColumnName("map"),
      classOf[MapIncrement].getName, new AlwaysFreshen)
    val r = FreshReader.builder(m).withTable("table", rowData).withAsOf(100L).build()
    val capsules = r.capsulesFor(DataRequest(Seq(ColumnName("map:q0"), ColumnName("map:q1"))))
    assert(capsules.size == 1 && capsules.head.attachment == ColumnName("map"))
  }

  test("scoring budget: only the N smallest stale keys score; next run picks up the rest") {
    val user = Fixtures.userCounter(spark)
    val m = managerFor("user" -> user)
    // asOf makes BOTH rows stale (ages >> 10 ms shelf life)
    m.storePolicy("user", ColumnName("info:visits"),
      classOf[VisitsIncrement].getName, new ShelfLife(10L))
    val req = DataRequest(Seq(ColumnName("info:visits")))
    val r1 = FreshReader.builder(m).withTable("user", user)
      .withAsOf(1000L).withBudgetRows(1).build()
    val after1 = r1.freshenAll(req).cache()
    // 'bar' < 'foo': bar scored this run, foo passes through stale (late commit)
    assert(visitsOf(after1) == Map("bar" -> 101L, "foo" -> 10L))
    val r2 = FreshReader.builder(m).withTable("user", after1)
      .withAsOf(1000L).withBudgetRows(1).build()
    assert(visitsOf(r2.freshenAll(req)) == Map("bar" -> 101L, "foo" -> 11L))
  }

  test("allowPartial=false suppresses ALL updates on rows with any unscored column") {
    val user = Fixtures.userCounter(spark)
    def run(allowPartial: Boolean): DataFrame = {
      val m = managerFor("user" -> user)
      m.storePolicy("user", ColumnName("info:name"),
        classOf[NameRewrite].getName, new AlwaysFreshen)        // stale: {bar, foo}
      m.storePolicy("user", ColumnName("info:visits"),
        classOf[VisitsIncrement].getName, new NewerThan(3L))    // stale: {foo} (ts=1)
      FreshReader.builder(m).withTable("user", user).withAsOf(1000L)
        .withBudgetRows(1).returnPartiallyFreshData(allowPartial).build()
        .freshenAll(DataRequest(Seq(ColumnName("info:name"), ColumnName("info:visits"))))
    }
    // name capsule scores only 'bar' (budget 1) ⇒ 'foo' is unscored there.
    // partial OFF (reference default): foo takes NO updates at all.
    val strict = run(allowPartial = false)
    assert(visitsOf(strict) == Map("bar" -> 100L, "foo" -> 10L))
    // partial ON: foo's visits update lands even though its name didn't.
    val partial = run(allowPartial = true)
    assert(visitsOf(partial) == Map("bar" -> 100L, "foo" -> 11L))
    val names = partial.select(col("entity_id"), expr("info_name[0].value").as("n"))
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(names == Map("bar" -> "scored", "foo" -> "foo-val"))
  }

  test("KV-store lookup with policy binding shadowing the producer's") {
    import spark.implicits._
    val user = Fixtures.userRegistry(spark) // has info_name + info_email
    val m = managerFor("user" -> user)
    m.storePolicy("user", ColumnName("info:email"),
      classOf[CatsLookup].getName, new ShadowingPolicy)
    val producerStore = Seq(("foo-val", "Meowser"), ("bar-val", "Skraps")).toDF("key", "value")
    // duplicate key: deterministic min-value wins, rows must NOT multiply
    val policyStore = Seq(("foo-val", "Shadow"), ("foo-val", "ZZZ-dup"), ("bar-val", "Shadow2"))
      .toDF("key", "value")
    val r = FreshReader.builder(m).withTable("user", user).withAsOf(100L)
      .withStoreLoader {
        case "producer-src" => producerStore
        case "policy-src"   => policyStore
        case other          => fail(s"unexpected store source $other")
      }.build()
    val out = r.freshenTable(DataRequest(Seq(ColumnName("info:email")))).cache()
    assert(out.count() == 2) // duplicate store keys must not multiply rows
    val emails = out.select(col("entity_id"), expr("info_email[0].value").as("e"))
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(emails == Map("foo" -> "Shadow", "bar" -> "Shadow2"))
  }

  test("writeBack merge job: freshened state round-trips through parquet") {
    val user = Fixtures.userCounter(spark)
    val m = managerFor("user" -> user)
    m.storePolicy("user", ColumnName("info:visits"),
      classOf[VisitsIncrement].getName, new ShelfLife(Day))
    val r = FreshReader.builder(m).withTable("user", user).withAsOf(Day + 2).build()
    val out = java.nio.file.Files.createTempDirectory("graft-writeback").toString + "/user"
    r.writeBack(DataRequest(Seq(ColumnName("info:visits"))), out)
    val reloaded = spark.read.parquet(out)
    assert(visitsOf(reloaded) == Map("foo" -> 11L, "bar" -> 100L))
    // a second freshen over the written table is a no-op at the same clock
    val r2 = FreshReader.builder(m).withTable("user", reloaded).withAsOf(Day + 2).build()
    assert(visitsOf(r2.freshenAll(DataRequest(Seq(ColumnName("info:visits")))))
      == Map("foo" -> 11L, "bar" -> 100L))
  }

  test("writeBackDelta rewrites ONLY partitions containing freshened entities") {
    val user = Fixtures.userCounter(spark)
      .withColumn("shard", col("entity_id").substr(1, 1)) // foo→f, bar→b
    val req = DataRequest(Seq(ColumnName("info:visits")))
    val out = java.nio.file.Files.createTempDirectory("graft-delta").toString + "/user"
    // bootstrap: full write with nothing attached
    FreshReader.builder(managerFor("user" -> user)).withTable("user", user)
      .withAsOf(0L).build().writeBack(req, out, Seq("shard"))
    val bShard = new java.io.File(s"$out/shard=b")
    val before = bShard.listFiles().map(f => f.getName -> f.lastModified).toMap
    // NewerThan(3): foo (visits ts=1) stale, bar (ts=5) fresh
    val m = managerFor("user" -> user)
    m.storePolicy("user", ColumnName("info:visits"),
      classOf[VisitsIncrement].getName, new NewerThan(3L))
    FreshReader.builder(m).withTable("user", user).withAsOf(1000L).build()
      .writeBackDelta(req, out, Seq("shard"))
    // bar's partition is byte-untouched (same files, same mtimes)
    val after = bShard.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(after == before, "untouched partition must keep its files")
    // foo's partition was rewritten with the score
    assert(visitsOf(spark.read.parquet(out)) == Map("foo" -> 11L, "bar" -> 100L))
  }

  test("writeBackTx merges the freshened delta transactionally (snapshot per run)") {
    import graft.sources.TxStore
    val user = Fixtures.userCounter(spark)
    val req = DataRequest(Seq(ColumnName("info:visits")))
    val p = java.nio.file.Files.createTempDirectory("graft-tx").toString + "/user"
    TxStore.init(user, p, "entity_id", nBuckets = 4) // bootstrap = v0
    // NewerThan(3): foo (visits ts=1) stale, bar (ts=5) fresh
    val m = managerFor("user" -> user)
    m.storePolicy("user", ColumnName("info:visits"),
      classOf[VisitsIncrement].getName, new NewerThan(3L))
    val v = FreshReader.builder(m).withTable("user", user).withAsOf(1000L).build()
      .writeBackTx(req, p)
    assert(v == 1)
    // current snapshot carries the score; v0 still reads pre-freshen (COW)
    assert(visitsOf(TxStore.read(spark, p)) == Map("foo" -> 11L, "bar" -> 100L))
    assert(visitsOf(TxStore.read(spark, p, Some(0))) == Map("foo" -> 10L, "bar" -> 100L))
    // nothing stale at the same clock over the merged view → no new snapshot
    val merged = TxStore.read(spark, p)
    val m2 = managerFor("user" -> merged)
    m2.storePolicy("user", ColumnName("info:visits"),
      classOf[VisitsIncrement].getName, new NewerThan(3L))
    val v2 = FreshReader.builder(m2).withTable("user", merged).withAsOf(1000L).build()
      .writeBackTx(req, p)
    assert(v2 == 1, "no stale rows → no commit")
    assert(TxStore.currentVersion(p) == 1)
  }

  test("R23: a policy's own data request gates freshness by ITS column, not the attachment") {
    val user = Fixtures.userCounter(spark)
    val m = managerFor("user" -> user)
    // NameGatedPolicy: fresh ⇔ info:name newest ts >= 3. foo's name ts=5
    // (fresh → visits untouched), bar's name ts=1 (stale → visits scored).
    // Judged by the ATTACHED column's ts the outcome would be inverted
    // (foo visits ts=1, bar visits ts=5), so this pins the ownRequest path.
    m.storePolicy("user", ColumnName("info:visits"),
      classOf[VisitsIncrement].getName, new NameGatedPolicy)
    val r = FreshReader.builder(m).withTable("user", user).withAsOf(1000L).build()
    val out = r.freshenAll(DataRequest(Seq(ColumnName("info:visits"))))
    assert(visitsOf(out) == Map("foo" -> 10L, "bar" -> 101L))
  }

  test("rereadPolicies invalidates cached capsules") {
    val user = Fixtures.userCounter(spark)
    val m = managerFor("user" -> user)
    m.storePolicy("user", ColumnName("info:visits"),
      classOf[VisitsIncrement].getName, new AlwaysFreshen)
    val r = FreshReader.builder(m).withTable("user", user).withAsOf(50L).build()
    val req = DataRequest(Seq(ColumnName("info:visits")))
    assert(r.capsulesFor(req).nonEmpty)
    m.removePolicy("user", ColumnName("info:visits"))
    r.rereadPolicies()
    assert(r.capsulesFor(req).isEmpty)
    assert(visitsOf(r.freshenTable(req)) == Map("foo" -> 10L, "bar" -> 100L))
  }

  test("a map-family freshen leaves the session conf as it found it") {
    val rowData = Fixtures.rowDataTest(spark)
    val m = managerFor("table" -> rowData)
    m.storePolicy("table", ColumnName("map"), classOf[MapIncrement].getName, new AlwaysFreshen)
    val before = spark.conf.getAll
    FreshReader.builder(m).withTable("table", rowData).withAsOf(100L).build()
      .freshenAll(DataRequest(Seq(ColumnName("map")))).collect()
    assert(spark.conf.getAll == before)
  }

  test("freshenReport counts checked, stale, scored, over-budget and blocked rows") {
    val user = Fixtures.userCounter(spark)
    def report(budget: Option[Long], allowPartial: Boolean): FreshenReport = {
      val m = managerFor("user" -> user)
      m.storePolicy("user", ColumnName("info:name"),
        classOf[NameRewrite].getName, new AlwaysFreshen)        // stale: {bar, foo}
      m.storePolicy("user", ColumnName("info:visits"),
        classOf[VisitsIncrement].getName, new NewerThan(3L))    // stale: {foo}
      val b = FreshReader.builder(m).withTable("user", user).withAsOf(1000L)
        .returnPartiallyFreshData(allowPartial)
      budget.fold(b)(b.withBudgetRows).build()
        .freshenReport(DataRequest(Seq(ColumnName("info:name"), ColumnName("info:visits"))))
    }
    val name = ColumnName("info:name")
    val visits = ColumnName("info:visits")
    // budget 1: name scores bar only, so foo (stale name over budget) is blocked
    assert(report(Some(1L), allowPartial = false) == FreshenReport(Seq(
      CapsuleReport(name, 2, 2, 1, 1), CapsuleReport(visits, 2, 1, 1, 0)), 1))
    assert(report(Some(1L), allowPartial = true).blockedRows == 0)
    assert(report(None, allowPartial = false) == FreshenReport(Seq(
      CapsuleReport(name, 2, 2, 2, 0), CapsuleReport(visits, 2, 1, 1, 0)), 0))
    assert(FreshReader.builder(managerFor("user" -> user)).withTable("user", user).build()
      .freshenReport(DataRequest(Seq(name))) == FreshenReport(Nil, 0))
  }

  test("three budgeted capsules on string ids match the plain-Scala budget semantics") {
    val n = 20
    // NewerThan(5) on every cell: c0 stale on 10 rows, c1 on 4, c2 on none
    def ts(i: Int, c: Int): Long = c match {
      case 0 => (i * 7) % 10L
      case 1 => if (i % 5 == 0) 0L else 9L
      case _ => 9L
    }
    val table = Fixtures.wideCells(spark, n, ts)
    val ids = (0 until n).map(i => s"u$i")
    val caps = 0 until 3
    def stale(i: Int, c: Int) = ts(i, c) < 5
    val m = managerFor("wide" -> table)
    caps.foreach(c => m.storePolicy("wide", ColumnName(s"g:c$c"),
      s"graft.WideInc$c", new NewerThan(5L)))
    val req = DataRequest(caps.map(c => ColumnName(s"g:c$c")))
    for (budget <- Seq(0L, 3L, 100L); allowPartial <- Seq(false, true)) {
      val scored = caps.map(c => ids.indices.filter(stale(_, c)).sortBy(ids).take(budget.toInt).toSet)
      val blocked = ids.indices.filter(i =>
        !allowPartial && caps.exists(c => stale(i, c) && !scored(c)(i))).toSet
      val want = ids.indices.map(i => ids(i) -> caps.map { c =>
        val v = 10L * i + c
        if (scored(c)(i) && !blocked(i)) (v + 1, 2) else (v, 1)
      }).toMap
      val r = FreshReader.builder(m).withTable("wide", table).withAsOf(1000L)
        .withBudgetRows(budget).returnPartiallyFreshData(allowPartial).build()
      val got = r.freshenAll(req).select(col("entity_id") +: caps.flatMap(c => Seq(
          expr(s"g_c$c[0].value"), size(col(s"g_c$c")))): _*)
        .collect().map(x => x.getString(0) -> caps.map(c =>
          (x.getLong(1 + 2 * c), x.getInt(2 + 2 * c)))).toMap
      assert(got == want, s"budget $budget, allowPartial $allowPartial")
      assert(r.freshenReport(req) == FreshenReport(caps.map { c =>
        val st = ids.indices.count(stale(_, c))
        CapsuleReport(ColumnName(s"g:c$c"), n, st, scored(c).size, st - scored(c).size)
      }, blocked.size), s"report at budget $budget, allowPartial $allowPartial")
    }
  }

  /** freshenAll's rows (by entity id) and the logical joins of its plan,
    * with (column, scorer class, policy) attached. */
  private def freshened(table: DataFrame, attach: Seq[(String, String, FreshnessPolicy)],
      budget: Option[Long], allowPartial: Boolean): (Seq[Row], Int) = {
    val m = managerFor("t" -> table)
    attach.foreach { case (c, cls, p) => m.storePolicy("t", ColumnName(c), cls, p) }
    val b = FreshReader.builder(m).withTable("t", table).withAsOf(1000L)
      .returnPartiallyFreshData(allowPartial)
    val df = budget.fold(b)(b.withBudgetRows).build()
      .freshenAll(DataRequest(attach.map(a => ColumnName(a._1))))
    (df.collect().sortBy(_.getString(0)).toSeq,
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.size)
  }

  test("expression scorers in the flag projection write what the same scorers write as branches") {
    import spark.implicits._
    import Fixtures.{LCell, WideRow}
    // g:c0 one version, stale when i % 10 < 5; g:c1 up to three versions
    // (empty on every sixth row), stale when i % 5 < 2 or empty; g:c2 stale
    // when i % 7 < 5, its value i odd on every other row
    val table = (0 until 24).map { i =>
      val c1 = if (i % 6 == 5) Nil else Seq(3L + i % 5, 2L, 0L).map(t => LCell(t, 1000L * t + i))
      WideRow(s"u$i", Seq(LCell(i % 10, 10L * i)), c1, Seq(LCell(i % 7, i)),
        Seq(LCell(9, 0)), Seq(LCell(9, 0)), Seq(LCell(9, 0)))
    }.toDS().toDF()
    def attach(prefix: String) = Seq("g:c0" -> "WideInc0", "g:c1" -> "WindowedSum",
      "g:c2" -> "EvenOnly").map { case (c, cls) => (c, s"graft.$prefix$cls", new NewerThan(5L)) }
    for (budget <- Seq(None, Some(0L), Some(3L)); allowPartial <- Seq(false, true)) {
      val (fused, fusedJoins) = freshened(table, attach(""), budget, allowPartial)
      val (branched, branchedJoins) = freshened(table, attach("Branched"), budget, allowPartial)
      assert((fusedJoins, branchedJoins) == (0, 1))
      assert(fused == branched, s"budget $budget, allowPartial $allowPartial")
    }
    // an expression that yields NULL on a scored row still writes (asOf, NULL)
    val (rows, _) = freshened(table, attach(""), None, allowPartial = true)
    val u1 = rows.find(_.getString(0) == "u1").get
    assert(u1.getAs[collection.Seq[Row]]("g_c2") == Seq(Row(1000L, null), Row(1L, 1L)))
    // two newest versions in [1, 8): u1 holds ts 4, 2 and 0 (values 4001, 2001, 1)
    assert(u1.getAs[collection.Seq[Row]]("g_c1").head == Row(1000L, (4001L + 2001L) * 100 + 2))
  }

  test("a qualified map attachment, alone or beside a branch capsule in its family, " +
      "writes the same as when it runs as a branch") {
    val rowData = Fixtures.rowDataTest(spark)
    def attach(qualifier: String, other: Option[String]) =
      (("map:qualifier", s"graft.${qualifier}MapQualifierIncrement", new AlwaysFreshen) +:
        other.map(cls => ("map:other", s"graft.$cls", new AlwaysFreshen)).toSeq)
    for (budget <- Seq(None, Some(1L)); allowPartial <- Seq(false, true)) {
      val (alone, aloneJoins) = freshened(rowData, attach("", None), budget, allowPartial)
      val (aloneRef, _) = freshened(rowData, attach("Branched", None), budget, allowPartial)
      assert(aloneJoins == 0)
      assert(alone == aloneRef, s"alone, budget $budget, allowPartial $allowPartial")
      val other = Some("BranchedMapOtherConst")
      val (mixed, mixedJoins) = freshened(rowData, attach("", other), budget, allowPartial)
      val (mixedRef, _) = freshened(rowData, attach("Branched", other), budget, allowPartial)
      assert(mixedJoins == 1)
      assert(mixed == mixedRef, s"mixed, budget $budget, allowPartial $allowPartial")
    }
    // unbudgeted, both qualifiers land on foo: qualifier 1 -> 2, other new
    val (rows, _) = freshened(rowData, attach("", Some("BranchedMapOtherConst")), None, false)
    val foo = rows.find(_.getString(0) == "foo").get
      .getAs[collection.Map[String, collection.Seq[Row]]]("map")
    assert(foo == Map("qualifier" -> Seq(Row(1000L, 2), Row(5L, 1)), "other" -> Seq(Row(1000L, 7))))
  }
}
