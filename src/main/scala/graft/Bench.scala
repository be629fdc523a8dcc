package graft
import java.nio.file.{Files, Paths}

/** Benchmark main — runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line with per-query seconds.
  *
  * Methodology (pinned in round 11 per the verdict's ask): a full warm-up
  * pass first (session init, parquet footer reads, one-time index/layout
  * builds, JIT + whole-stage-codegen compilation all land there), then
  * THREE timed passes reporting the per-query MEDIAN. Without the warm-up
  * the first query absorbs ~4s of startup; the median (vs the old
  * 2-pass min) is robust to a single loaded pass in either direction —
  * r10's two full runs differed by 10% on the min-of-2, which was most of
  * the round-over-round signal. The JSON line is printed as the last
  * stdout line AND written to target/bench.json so the driver can parse
  * either; the full per-pass times ride in target/bench_passes.json for
  * noise analysis, and every failure's reason in target/bench_failures.json.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cores)
    val queries = Harness.queries

    // pass 0 is the warm-up
    val runs = (0 to 3).map { pass =>
      queries.map { case (n, fn) =>
        val r = Harness.runQuery(spark, sfDir, n, fn)
        r.failure.foreach { f =>
          System.err.println(s"[bench] FAILED $n pass=$pass phase=${f.phase} ${f.cls}: " +
            f.message.linesIterator.nextOption().getOrElse(""))
        }
        n -> r
      }
    }
    val passes = runs.tail.map(_.map { case (n, r) => n -> r.seconds })
    val results = medians(passes)
    import Harness.ms3

    // per-pass detail for noise analysis (not part of the driver contract)
    val passesJson = passes.zipWithIndex.map { case (p, i) =>
      "\"pass" + (i + 1) + "\":" + p.map { case (k, v) => "\"" + k + "\":" + ms3(v) }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench_passes.json"), passesJson + "\n")
    val failuresJson = runs.zipWithIndex.flatMap { case (p, pass) =>
      p.values.flatMap(r => r.failure.map { f =>
        s"""{"query":${Harness.jsonString(r.name)},"pass":$pass,"phase":"${f.phase}",""" +
          s""""class":${Harness.jsonString(f.cls)},"message":${Harness.jsonString(f.message)}}"""
      })
    }.mkString("[", ",\n", "]")
    Files.writeString(Paths.get("target/bench_failures.json"), failuresJson + "\n")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    // Per-query pass-to-pass spread (max−min over the three timed
    // passes): the measured noise floor, recorded so a round-over-round
    // delta can be judged against THIS run's own variability instead of
    // adjudicated from medians alone. Criterion (round 12, per the
    // verdict's ask): a query's round-over-round delta is machine noise,
    // not regression, when it is within max(2×spread, 0.3 s) of the
    // prior round AND flat-to-better at the 10×/20× scale points; only
    // deltas exceeding both bounds need a root cause.
    val spread = results.keys.map { n =>
      val ts = passes.map(_(n))
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.max - ts.min)
    }.toMap
    val sp = spread.map { case (k, v) => "\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.filter(_ >= 0).sum else 0.0
    val json =
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$qs,"spread":$sp,"sf":"$sfDir"}"""
    Files.writeString(Paths.get("target/bench.json"), json + "\n")
    // The driver's stdout capture keeps only the last ~2 KB; the full
    // per-query line (~2.4 KB at 85+ queries) overflows it, which is
    // exactly how rounds 6 and 7 ended with a mid-value fragment and
    // `parsed: null`. So: print the FULL line before spark.stop()'s
    // shutdown noise (for humans and head-anchored parsers; the complete
    // artifact of record is target/bench.json), and make the FINAL
    // stdout line a COMPACT variant — same schema, `queries` limited to
    // the reference headline tier — that always fits the tail window.
    println(json)
    spark.stop()
    // Round 19 (VERDICT r18 item 9): the compact tail line's query set
    // extended beyond the four reference queries so the driver's
    // lower-core scaling ratios cover the floored/heavy families too
    // (capstones, dedup, text, sketch, multimodal, similarity,
    // streaming). ADDITIVE only — the original four keep their names —
    // and the line stays well under the ~2 KB stdout tail window.
    val headline = Seq("q1_agg", "q2_prime_sum", "q3_matrix_inverse",
      "q4_wordcount", "e9_attrition_funnel", "e11_release_changelog",
      "d6_dedup_keep", "t22_segment_langmix", "k5b_signature_overlap",
      "m10_video_neardup", "s4_knn_join", "st2_sessionize")
    val hqs = headline.flatMap(n => results.get(n).map(v => "\"" + n + "\":" + ms3(v)))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$hqs,"sf":"$sfDir","n_queries":${results.size},"full":"target/bench.json"}""")
  }

  /** Per-query median over the timed passes (seconds, -1 = failed). Any
    * pass failing surfaces as -1, not hidden behind the successful passes'
    * times. */
  private[graft] def medians(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.head.keys.map { n =>
      val ts = passes.map(_(n))
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(ts.size / 2))
    }.toMap
}
