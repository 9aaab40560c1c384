package graft.tools

import graft.SharedSpark
import graft.sources.Tables
import org.scalatest.funsuite.AnyFunSuite

class ResourceAuditSpec extends AnyFunSuite {
  import SharedSpark._

  test("measure captures scan, shuffle, and task metrics for a parquet groupBy") {
    val (rows, m) = ResourceAudit.measure(spark) {
      Tables.lineitem(spark, sf).groupBy("l_returnflag").count()
        .collect().length
    }
    assert(rows > 0)
    assert(m.tasks > 0L, "no tasks observed")
    assert(m.inputBytes > 0L, "parquet scan bytes not captured")
    assert(m.inputRecords > 0L)
    // the groupBy shuffles: map side writes, reduce side reads, and the
    // map-side partial aggregation means records-written stays well
    // under the scanned row count
    assert(m.shuffleWriteBytes > 0L, "shuffle write not captured")
    assert(m.shuffleReadBytes > 0L, "shuffle read not captured")
    assert(m.shuffleWriteRecords > 0L)
    assert(m.shuffleWriteRecords < m.inputRecords,
      "map-side combine should compact before the shuffle")
    assert(m.taskSpread >= 1.0, s"spread ${m.taskSpread} below 1")
    assert(m.peakTaskMs <= m.taskTimeMs)
  }

  test("measure scopes to its action — an action with no job reads zero") {
    // drain anything in flight from earlier suites, then observe a
    // jobless action: the listener must see no tasks at all
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    val (v, m) = ResourceAudit.measure(spark) { 42 }
    assert(v === 42)
    assert(m.tasks === 0L && m.inputBytes === 0L &&
      m.shuffleReadBytes === 0L && m.shuffleWriteBytes === 0L)
    assert(m.taskSpread === 1.0)
  }

  test("measure counts the classes its action compiled; a cached plan compiles none") {
    // a literal no other spec uses: its generated code is new to the JVM
    def run() = spark.range(10).selectExpr("id * 7919 + 104729 AS v")
      .agg(org.apache.spark.sql.functions.sum("v")).collect()
    val (_, first) = ResourceAudit.measure(spark)(run())
    assert(first.compiles > 0L, "a new plan compiled no class")
    val (_, again) = ResourceAudit.measure(spark)(run())
    assert(again.compiles === 0L, "the same plan compiled again")
  }

  test("a broadcast join moves (almost) no shuffle bytes; the audit shows it") {
    import org.apache.spark.sql.functions.broadcast
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val pt = Tables.part(spark, sf).select("p_partkey", "p_brand")
    val (_, bcast) = ResourceAudit.measure(spark) {
      li.join(broadcast(pt), li("l_partkey") === pt("p_partkey")).count()
    }
    // the probe side never shuffles: only the tiny broadcast-build
    // collect and count-aggregation rows move
    assert(bcast.inputBytes > 0L)
    assert(bcast.shuffleWriteRecords < 100L,
      s"broadcast join shuffled ${bcast.shuffleWriteRecords} records")
  }

  test("BytePins.drift flags flips and quadratic growth, tolerates noise") {
    val pins = Map(
      ("sf0.1", 32, "steady") -> 100.0,   // same-plan rerun: within band
      ("sf0.1", 32, "flip") -> 0.02,      // the q5 broadcast->SMJ shape
      ("sf0.1", 32, "blowup") -> 57.6,    // the uncapped-bucket shape
      ("sf0.1", 32, "tiny") -> 0.3,       // sub-MB noise must never flag
      ("sf0.1", 32, "gone") -> 411.0,     // a shuffle that vanished
      ("sf1.0", 32, "other_label") -> 5.0,
      ("sf0.1", 4, "other_cores") -> 5.0)
    val cur = Map(
      "steady" -> 104.0, "flip" -> 411.0, "blowup" -> 2743.0,
      "tiny" -> 0.8, "gone" -> 0.05, "unpinned_query" -> 999.0,
      // pinned under a DIFFERENT label or core count: ignored
      "other_label" -> 999.0, "other_cores" -> 999.0)
    assert(BytePins.drift(pins, "sf0.1", 32, cur) ===
      Some(Seq("blowup", "flip", "gone")))
    // clean run: everything within the band or below the noise floor
    assert(BytePins.drift(pins, "sf0.1", 32,
      Map("steady" -> 100.5, "flip" -> 0.03, "tiny" -> 0.1)) === Some(Seq.empty))
  }

  test("BytePins.drift: a core count without pins is unchecked, not clean") {
    val pins = Map(("sf0.1", 32, "q") -> 10.0, ("sf0.1", 4, "q") -> 3.0)
    assert(BytePins.drift(pins, "sf0.1", 4, Map("q" -> 3.1)) === Some(Seq.empty))
    assert(BytePins.drift(pins, "sf0.1", 4, Map("q" -> 10.0)) === Some(Seq("q")))
    assert(BytePins.drift(pins, "sf0.1", 8, Map("q" -> 10.0)) === None)
    assert(BytePins.drift(pins, "sf1.0", 32, Map("q" -> 10.0)) === None)
    // the committed file parses, and both sf0.1 core counts are pinned
    val committed = BytePins.committed()
    assert(Seq(4, 32).forall(c => committed.keys.exists(k => k._1 == "sf0.1" && k._2 == c)))
  }
}
