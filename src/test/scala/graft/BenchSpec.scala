package graft

import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench fails loud (a query that throws is reported, never timed) and
  * builds each query once per pass (the plan fingerprint comes from the
  * last timed pass, not from an extra `q.fn` call).
  */
class BenchSpec extends AnyFunSuite {
  import SharedSpark._

  test("a query that throws in its warm-up or in a pass is failed, not timed") {
    val inWarmup = Q("fixture_throws_in_warmup", None)((_, _) =>
      sys.error("fixture failure"))
    val calls = new AtomicInteger(0)
    val inPass = Q("fixture_throws_in_pass2", None) { (s, _) =>
      if (calls.incrementAndGet() >= 3) sys.error("fixture failure")
      s.range(10).toDF()
    }
    val rec = Bench.record(spark,
      Seq(inWarmup, Registry.byName("q1_agg"), inPass), sf, auditPasses = 3)
    assert(rec.failed === Seq("fixture_throws_in_warmup", "fixture_throws_in_pass2"))
    assert(rec.timings.map(_.name) === Seq("q1_agg"))
    val line = new ObjectMapper().readTree(rec.render(withResources = true))
    assert(line.get("value").asText === line.get("queries").get("q1_agg").asText)
    assert(line.get("value").asDouble > 0.0)
    assert(line.get("working_set").asText === line.get("value").asText)
    Seq("queries", "spread", "resources").foreach { k =>
      assert(line.get(k).fieldNames.next() === "q1_agg" && line.get(k).size === 1, k)
    }
    assert(line.get("failed").size === 2)
    val res = line.get("resources").get("q1_agg")
    assert(res.get("build_ms").asDouble >= 0.0 && res.get("plan_ms").asDouble > 0.0)
    // warmed up on the same scale, the audited pass finds its code cached
    assert(res.get("compiles").asLong === 0L)
  }

  test("q.fn runs once for the warm-up and once per timed pass, fingerprint included") {
    val calls = new AtomicInteger(0)
    // an audit tier timed with one pass: a confirmation pass never runs
    val counted = Q("fixture_counts_calls", None, auditTier = true) { (s, _) =>
      calls.incrementAndGet()
      s.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    }
    val rec = Bench.record(spark, Seq(counted), sf, auditPasses = 1)
    // sf0.001 is a pinned label, so the plan-drift check ran
    assert(rec.planDrift.isDefined)
    assert(rec.timings.head.planHash.nonEmpty)
    assert(calls.get === 2)
  }
}
