package graft

import graft.sources.Materialize
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pins [[Harness.runQuery]]'s failure record and cache isolation, Bench's
  * failure convention, and the ScaleBench field the benchmark harness in
  * `perfbench/` reads by reflection. */
class HarnessSpec extends SparkSpec {

  test("runQuery records the phase, class and message of a failure") {
    val build = Harness.runQuery(spark, sf, "boom_build",
      (_, _) => throw new IllegalStateException("no plan"))
    assert(build.failure === Some(Harness.Failure("build",
      "java.lang.IllegalStateException", "no plan")))
    assert(build.seconds === -1.0)

    // a plan that analyzes fine and throws only when a task evaluates it
    val bad = spark.range(3).select(raise_error(lit("no rows")).as("x"))
    val thrown = intercept[Throwable](bad.write.format("noop").mode("overwrite").save())
    val run = Harness.runQuery(spark, sf, "boom_run", (_, _) => bad)
    assert(run.failure.map(f => (f.phase, f.cls)) === Some(("run", thrown.getClass.getName)))
    assert(run.failure.get.message.contains("no rows"))

    val ok = Harness.runQuery(spark, sf, "fine", (s, _) => s.range(3).toDF("id"))
    assert(ok.failure.isEmpty && ok.seconds >= 0 && ok.seconds === ok.buildS + ok.runS)
  }

  test("runQuery clears a relation persisted by the previous query before timing") {
    def cacheEmpty = spark.sharedState.cacheManager.isEmpty
    val stale = spark.range(1000).toDF("id")
    stale.persist(); stale.count()
    var seen: StorageLevel = null
    val next = Harness.runQuery(spark, sf, "next", (s, _) => {
      seen = stale.storageLevel
      s.range(1).toDF("id")
    })
    assert(next.failure.isEmpty)
    assert(seen === StorageLevel.NONE)

    // and a query's own pins end with it, whether it succeeded or failed
    val kept = spark.range(1000).toDF("id")
    val ok = Harness.runQuery(spark, sf, "pins", (_, _) => Materialize.eager(kept))
    assert(ok.failure.isEmpty)
    assert(kept.storageLevel === StorageLevel.NONE)
    assert(cacheEmpty)
    def pinned = Materialize.eager(spark.range(50).toDF("id"))
    val failures = Seq(
      Harness.runQuery(spark, sf, "pin_build", (_, _) => { pinned; throw new IllegalStateException("b") }),
      Harness.runQuery(spark, sf, "pin_run",
        (_, _) => pinned.select(raise_error(lit("r")).as("x"))),
      Harness.runQuery(spark, sf, "pin_after", (_, _) => pinned,
        _ => throw new IllegalStateException("a")))
    assert(failures.map(_.failure.map(_.phase)) === Seq(Some("build"), Some("run"), Some("after")))
    assert(cacheEmpty)
  }

  test("Bench reports -1 for a query that failed in any timed pass") {
    val passes = Seq(
      Map("a" -> 1.0, "b" -> 2.0, "c" -> 5.0),
      Map("a" -> -1.0, "b" -> 3.0, "c" -> 4.0),
      Map("a" -> 2.0, "b" -> 4.0, "c" -> -1.0))
    assert(Bench.medians(passes) === Map("a" -> -1.0, "b" -> 3.0, "c" -> -1.0))
  }

  test("ScaleBench.ContractCols is the Set[String] perfbench reads by reflection") {
    // same lookup as perfbench's Run.contractCols: a rename or retype here
    // would otherwise fail every benchmark run instead of this suite
    val f = ScaleBench.getClass.getDeclaredFields
      .find(_.getName.endsWith("ContractCols"))
      .getOrElse(fail("ScaleBench.ContractCols not found"))
    f.setAccessible(true)
    assert(f.get(ScaleBench).asInstanceOf[Set[String]] === Set(
      "inv_ok", "recall_ok", "hll_within_5pct", "sketch_within_2pct",
      "cms_within_bound", "merged_within_5pct",
      "kll_p50_within_rank_eps", "kll_p95_within_rank_eps"))
  }
}
