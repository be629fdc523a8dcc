package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place session policy and the timed-query loop live. Every main
  * ([[Bench]], [[ScaleBench]], [[Verify]], [[graft.tools.QueryProfile]])
  * and the test session build their `SparkSession` through [[session]],
  * passing only the settings they differ on, and every timing goes through
  * [[runQuery]]. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Why a query failed: the phase it failed in (`build` = the DataFrame
    * constructor, `run` = the noop write, `after` = the caller's untimed
    * step), the exception's class and its message. */
  final case class Failure(phase: String, cls: String, message: String)

  /** One timed query: `buildS` + `runS` is the window Bench reports. */
  final case class Run(name: String, buildS: Double, runS: Double,
      failure: Option[Failure]) {
    /** The timed window in seconds, or -1 when the query failed — the
      * convention of every bench JSON record. */
    def seconds: Double = if (failure.isEmpty) buildS + runS else -1.0
  }

  /** `SPARK_GRAFT_CPUS` when set, else the host's cores (a literal would
    * oversubscribe smaller machines). */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Registered queries, restricted to the comma-separated names in
    * `SPARK_GRAFT_ONLY` when set (for dev iteration). */
  def queries: Map[String, Query] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
  }

  /** `local[cores]` with one shuffle partition per core. `overrides` are
    * applied last, so a caller passes only the settings it differs on. */
  def session(cores: Int, overrides: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Bench's warm-up pass exists so that JIT and whole-stage-codegen
      // compilation land outside the timed passes. That silently stopped
      // working once the surface passed ~100 queries: the JVM-wide
      // generated-class cache holds 100 entries by default (a static
      // conf), and one pass over 158 queries emits several hundred
      // distinct fragments — by the time a query's timed pass runs, its
      // warm-up-compiled classes are long evicted and every pass pays
      // Janino again (measured round 18: ~46 ms mean per compile, dozens
      // of fragments on the composition queries). 4096 entries keeps the
      // whole surface's fragments resident so the timed passes measure
      // steady-state execution. Not a local[32]-ism: any long-lived
      // deployment serving a query fleet wants its codegen cache sized to
      // the fleet. This conf alone is ~1.47x of the r18 suite total — see
      // dev/records/bench_codegen_cache_ab_r19.md.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
    val spark = overrides.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Builds `name` on `dir` and writes it to the noop sink, timing from
    * the constructor call to the end of the write. Never throws: a failure
    * is returned in the record. `after` runs on the built DataFrame once
    * the timed window has closed, while the query's pins are still live.
    *
    * The cache is cleared when the query returns, success or failure, so
    * its pins end with it; and first, because CacheManager matches
    * canonicalized plans: a relation cached by an earlier pass (or query
    * — d6 rebuilds d1/d2's relations) would silently skip the whole
    * candidate-generation stage. The action is a noop write, not count():
    * under count() ColumnPruning strips every output column the action
    * doesn't reference, so narrow-map queries timed as bare scans and k1's
    * aggregation-state blowup was invisible (found by ScaleBench round 6).
    * The noop sink evaluates every output column end-to-end with zero
    * driver transfer. */
  def runQuery(spark: SparkSession, dir: String, name: String, fn: Query,
      after: DataFrame => Unit = _ => ()): Run = {
    def failed(phase: String, buildS: Double, runS: Double, e: Throwable): Run =
      Run(name, buildS, runS, Some(Failure(phase, e.getClass.getName, String.valueOf(e.getMessage))))
    def sec(from: Long, to: Long): Double = (to - from) / 1e9
    spark.catalog.clearCache()
    try {
      val t0 = System.nanoTime()
      val df = try fn(spark, dir)
        catch { case e: Throwable => return failed("build", sec(t0, System.nanoTime()), 0.0, e) }
      val t1 = System.nanoTime()
      try df.write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => return failed("run", sec(t0, t1), sec(t1, System.nanoTime()), e) }
      val t2 = System.nanoTime()
      try after(df)
      catch { case e: Throwable => return failed("after", sec(t0, t1), sec(t1, t2), e) }
      Run(name, sec(t0, t1), sec(t1, t2), None)
    } finally spark.catalog.clearCache()
  }

  /** Seconds rounded to milliseconds: full doubles made the bench line ~2×
    * longer and the driver's stdout tail-parse truncated it two rounds
    * running. */
  def ms3(v: Double): Double = math.rint(v * 1000) / 1000

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in an exception message or builder-authored SQL
    * would otherwise break the reader's json.load. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
