package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MaterializeSpec extends AnyFunSuite with SparkSpec {

  test("observed: checkpoint and aggregates come from one job named after the caller") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (5L, "a")).toDF("id", "g")
    val log = JobLog.of(spark)(
      Materialize.observed(df, sum(col("id")), count(lit(1)), collect_set(col("g"))))
    val (cp, row) = log.result
    assert(log.jobs.size == 1)
    assert(log.executions.size == 1 &&
      log.executions.head.startsWith("localCheckpoint at MaterializeSpec.scala:"), log.toString)
    assert(row.getLong(0) == 8L && row.getLong(1) == 3L)
    assert(row.getSeq[String](2).toSet == Set("a", "b"))
    // the checkpoint is a plan leaf: reading it runs the input no more
    assert(cp.queryExecution.logical.children.isEmpty)
    assert(cp.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b"), (5L, "a")))
  }

  test("observed: an empty frame yields the aggregates' empty-input values") {
    import spark.implicits._
    val empty = Seq(1L).toDF("id").filter(col("id") < 0).localCheckpoint()
    val (cp, row) = Materialize.observed(empty.groupBy("id").count(),
      sum(col("id")), count(lit(1)), collect_set(col("id")))
    assert(row.isNullAt(0) && row.getLong(1) == 0L && row.getSeq[Long](2).isEmpty)
    assert(cp.isEmpty)
  }

  test("observed: a call site the thread already carries is kept") {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.setCallSite("outer site")
    val log = try JobLog.of(spark)(Materialize.observed(Seq(1L).toDF("id"), count(lit(1))))
      finally sc.clearCallSite()
    assert(log.executions == Seq("outer site"))
    assert(sc.getLocalProperty("callSite.short") == null)
  }
}
