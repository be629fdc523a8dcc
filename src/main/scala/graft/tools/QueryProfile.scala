package graft.tools

import graft.Harness
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Whole-surface stage profiler (round 18's measure-first instrument,
  * guide §1): after a cold pass, each query's timed window — the one
  * [[graft.Bench]] times — divides into
  *
  *  - `build`: constructing the DataFrame (driver-side memo lookups,
  *    bounded collects inside the operator — trained profiles, centroid
  *    literals, store path resolution);
  *  - `exec`: the noop-sink write (job time, including the write's own
  *    planning, AQE re-planning, codegen compilation and task scheduling);
  *
  * and `plan` reports forcing analysis → optimization → physical planning
  * of the built DataFrame (`queryExecution.executedPlan`). It is measured
  * after the timed window has closed, so it enters no timing; it estimates
  * the planning share inside `exec`.
  *
  * Optionally dumps `.explain("formatted")` per query on the last pass
  * (args: [outDir]). `SPARK_GRAFT_ONLY` restricts the set, e.g. to the ANN
  * tier: `s1_cosine_topk,s2_ann_ivf,s5_pq_rerank,s7_ivfpq,s8_ivfpq_upsert_serve`.
  * Dev instrument only — the bench contract lives in [[graft.Bench]]. */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val planDir = args.headOption
    val spark = Harness.session(Harness.cores)
    val qs = Harness.queries.toSeq.sortBy(_._1)
    import Harness.ms3

    def failed(stage: String, r: Harness.Run): Boolean = {
      r.failure.foreach { f =>
        println(s"""{"stage":"$stage","query":"${r.name}","phase":"${f.phase}","error":"${f.cls}"}""")
      }
      r.failure.nonEmpty
    }

    // cold pass: one-time index builds/trains/publishes land here
    qs.foreach { case (n, fn) =>
      val r = Harness.runQuery(spark, sfDir, n, fn)
      if (!failed("cold", r))
        println(s"""{"stage":"cold","query":"$n","sec":${ms3(r.seconds)}}""")
    }
    val agg = scala.collection.mutable.Map.empty[String, (Double, Double, Double)]
    for (pass <- 1 to 2) {
      qs.foreach { case (n, fn) =>
        var plan = 0.0
        val r = Harness.runQuery(spark, sfDir, n, fn, df => {
          val t0 = System.nanoTime()
          df.queryExecution.executedPlan
          plan = (System.nanoTime() - t0) / 1e9
          if (pass == 2) planDir.foreach { d =>
            Files.createDirectories(Paths.get(d))
            Files.writeString(Paths.get(d, s"$n.txt"),
              df.queryExecution.explainString(FormattedMode))
          }
        })
        if (!failed(s"warm$pass", r)) {
          println(s"""{"stage":"warm$pass","query":"$n","build":${ms3(r.buildS)},"plan":${ms3(plan)},"exec":${ms3(r.runS)},"total":${ms3(r.seconds)}}""")
          if (pass == 2) agg(n) = (r.buildS, plan, r.runS)
        }
      }
    }
    val rows = agg.toSeq.sortBy(-_._2._3)
    println("==== last-pass summary (sorted by exec desc) ====")
    rows.foreach { case (n, (b, p, e)) =>
      println(f"$n%-28s build=${ms3(b)}%7.3f plan=${ms3(p)}%7.3f exec=${ms3(e)}%7.3f")
    }
    spark.stop()
  }
}
