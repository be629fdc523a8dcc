package graft.perfbench

import graft.{Engine, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.{JArray, JBool, JDouble, JLong, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact, render}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.DurationInt
import scala.jdk.CollectionConverters._

/** One benchmark invocation: set-up rounds (the last one also writes the
  * reference results), then timed repetitions of one workload's query
  * list as a closed loop (one client, queries in a seeded fixed order).
  * Writes the whole record as JSON to `--record`; `run.py` adds the
  * DuckDB oracle comparison and prints the result line.
  *
  * Every layer is timed from outside, around the benchmark's own calls
  * into its public entry points: `SparkEntry.queries(name)(spark, dir)`
  * (build), `queryExecution.executedPlan` (plan), a noop-sink write
  * (exec), and `Engine.chunk` / `Engine.mapReduce`.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, gen: String, record: Path,
      copies: Option[Int], setupRounds: Int, minReps: Option[Int],
      injectFailure: Boolean)

  final case class Failure(query: String, rep: Int, phase: String,
      cls: String, message: String)

  final case class Digest(rows: Long, hash: String, badContract: Option[String])

  /** One execution of one workload item. Times are seconds. */
  final case class Sample(query: String, rep: Int, build: Double, plan: Double,
      exec: Double, cpuNs: Long, failure: Option[Failure]) {
    def total: Double = build + plan + exec
  }

  /** Per-query numbers of a traced repetition. */
  final case class LayerRec(analysisS: Double, optimizerS: Double,
      planningS: Double, exchanges: Int, scans: Int, cachedScans: Int,
      compileNs: Long, compiles: Long, gcMs: Long, relationsLeft: Int)

  private[perfbench] val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private[perfbench] def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private[perfbench] def secs(ns: Long): Double = ns / 1e9

  private[perfbench] def obj(kv: (String, JValue)*): JValue = JObject(kv.toList)
  private[perfbench] def dbl(v: Double): JValue =
    if (v.isNaN || v.isInfinite) JNull else JDouble(v)
  private[perfbench] def num(v: Double, unit: String): JValue =
    obj("value" -> dbl(v), "unit" -> JString(unit))
  private[perfbench] def str(v: Option[String]): JValue = v.map(JString(_)).getOrElse(JNull)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, m("gen"), Paths.get(m("record")).toAbsolutePath,
      m.get("copies").map(_.toInt), m.getOrElse("setup-rounds", "3").toInt,
      m.get("min-reps").map(_.toInt), m.get("inject-failure").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.all.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[perfbench] session ready after $sessionS%.2f s")
    try new Run(spark, o, w, cores, sessionS).run()
    finally spark.stop()
  }

  /** Sum of the segment's primes, computed independently of the engine
    * (segmented sieve) to check the prime-sum job. */
  def primeSumSieve(lo: Long, n: Int): Long = {
    val hi = lo + n
    val lim = math.sqrt(hi.toDouble).toInt + 1
    val small = Array.fill(lim + 1)(true)
    val composite = Array.fill(n)(false)
    var p = 2
    while (p <= lim) {
      if (small(p)) {
        var k = p.toLong * p
        while (k <= lim) { small(k.toInt) = false; k += p }
        var m = math.max(p.toLong * p, ((lo + p - 1) / p) * p)
        while (m < hi) { composite((m - lo).toInt) = true; m += p }
      }
      p += 1
    }
    (0 until n).iterator.filter(i => !composite(i) && lo + i > 1).map(lo + _).sum
  }
}

/** Mapper of the prime-sum job: trial division, as in the reference's
  * documented example. A top-level object so the closure serializes. */
object PrimeMapper extends Serializable {
  def isPrime(v: Long): Boolean =
    if (v < 2) false else if (v < 4) true
    else if (v % 2 == 0 || v % 3 == 0) false
    else {
      var d = 5L
      var prime = true
      while (prime && d * d <= v) {
        if (v % d == 0 || v % (d + 2) == 0) prime = false
        d += 6
      }
      prime
    }
  val mapper: Iterator[Long] => Long = it => it.filter(isPrime).sum
}

final class Run(spark: SparkSession, o: Main.Opts, w: Workload, cores: Int,
    sessionS: Double) {
  import Main._

  private val sc = spark.sparkContext
  private val registry = SparkEntry.queries
  /** Oracle SQL is read after the queries ran: a trained operator
    * publishes its oracle (with its trained constants) when it runs. */
  private def oracle = SparkEntry.oracleSql
  private val failQuery = "selftest_failing_query"

  /** The workload's items in the seeded fixed order. */
  private val items: Seq[String] = {
    val base = w.queries ++
      (if (w.engineJob) Seq(Workloads.EngineItem) else Nil) ++
      (if (o.injectFailure) Seq(failQuery) else Nil)
    new scala.util.Random(o.seed).shuffle(base)
  }
  private val copies = o.copies.getOrElse(w.copies)
  private val minReps = o.minReps.getOrElse(w.minReps)

  private val contractCols: Set[String] = {
    val f = graft.ScaleBench.getClass.getDeclaredFields
      .find(_.getName.endsWith("ContractCols"))
      .getOrElse(sys.error("ScaleBench.ContractCols not found"))
    f.setAccessible(true)
    f.get(graft.ScaleBench).asInstanceOf[Set[String]]
  }

  private val engineStart = 1000000001L + (math.abs(o.seed) % 1000) * 1000000L
  private val engineN = 50000
  private lazy val engineExpected = primeSumSieve(engineStart, engineN)

  private val reference = mutable.Map.empty[String, Digest]
  private val trace = new Trace
  private val collector = new Collector
  private var tracing = false
  private val layer = mutable.ArrayBuffer.empty[(Int, LayerRec)]
  private val engineTimes = mutable.ArrayBuffer.empty[(Int, Double, Double, Double)]
  /** Repetition of each traced phase span, by span id. */
  private val phaseRep = mutable.Map.empty[Int, Int]

  // -- heap: highest post-GC occupancy while `heapArmed` -------------------
  @volatile private var heapArmed = false
  private val heapPeak = new java.util.concurrent.atomic.AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
    gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
      (n: javax.management.Notification, _: AnyRef) => {
        if (heapArmed && n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
          heapPeak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }
      }, null, null)
  }

  private def setPhase(phase: String, query: String, rep: Int, span: Int): Unit = {
    sc.setJobGroup(phase, s"$query#$rep", interruptOnCancel = false)
    sc.setLocalProperty("perfbench.span", span.toString)
  }

  // -- output checks ---------------------------------------------------------

  /** The query with its digest attached as observed metrics: row count,
    * an order-insensitive content hash and the contract booleans, computed
    * by the query's own execution (no second run) and read when it ends.
    * Floating-point values are hashed at nine significant digits so a
    * last-ulp difference from summation order does not read as a content
    * change. */
  private def observed(df: DataFrame): (DataFrame, Observation, Seq[String]) = {
    val fields = df.schema.fields
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => format_string("%.9g", c)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => format_string("%.9g", x))
      case _: MapType => to_json(c)
      case _ => c
    }
    val cols = fields.indices.map(i => norm(col(s"c$i"), fields(i).dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val contracts = fields.indices
      .filter(i => fields(i).dataType == BooleanType && contractCols(fields(i).name))
    val aggs = Seq(sum(h.cast(DecimalType(38, 0))).as("h")) ++
      contracts.map(i => min(col(s"c$i")).as(s"k$i"))
    val ob = Observation()
    (renamed.observe(ob, count(lit(1)).as("n"), aggs: _*), ob, contracts.map(fields(_).name))
  }

  private def digest(ob: Observation, contracts: Seq[String]): Digest = {
    val row = Await.result(ob.future, 60.seconds)
    val bad = contracts.zipWithIndex.collectFirst {
      case (c, j) if row.isNullAt(j + 2) && row.getLong(0) > 0 || !row.isNullAt(j + 2) && !row.getBoolean(j + 2) => c
    }
    Digest(row.getLong(0), String.valueOf(row.get(1)), bad)
  }

  private def fail(q: String, rep: Int, phase: String, e: Throwable): Failure = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")
    Failure(q, rep, phase, s"${e.getClass.getName}" +
      (if (root ne e) s" (cause ${root.getClass.getName})" else ""), msg.take(400))
  }

  /** Contract booleans on every execution; in a timed repetition also
    * row count and content hash against the reference round's. */
  private def checkFailure(q: String, rep: Int, mode: String, d: Digest): Option[Failure] = {
    val phase = s"$mode:check"
    d.badContract.map(c => Failure(q, rep, phase, "ContractViolation",
      s"contract column $c is not true on every row"))
      .orElse(if (mode != "timed") None else reference.get(q) match {
        case None => Some(Failure(q, rep, phase, "MissingReference",
          "the reference round gave no digest to check against"))
        case Some(r) if r.rows != d.rows => Some(Failure(q, rep, phase, "RowCountMismatch",
          s"${d.rows} rows, reference round had ${r.rows}"))
        case Some(r) if r.hash != d.hash => Some(Failure(q, rep, phase, "ContentMismatch",
          "order-insensitive content hash differs from the reference round"))
        case _ => None
      })
  }

  // -- plan inspection (traced repetitions) ----------------------------------

  /** Exchanges, file scans and cached-relation scans in a physical plan,
    * each node counted once even when a cached subtree is referenced
    * from several places. */
  private def planCounts(p: SparkPlan): (Int, Int, Int) = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    var ex, scans, cached = 0
    def visit(n: SparkPlan): Unit = if (seen.add(n)) {
      n match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case s: QueryStageExec => visit(s.plan)
        case _: Exchange => ex += 1
        case _: FileSourceScanExec | _: BatchScanExec | _: RowDataSourceScanExec => scans += 1
        case m: InMemoryTableScanExec => cached += 1; visit(m.relation.cachedPlan)
        case _ =>
      }
      n.children.foreach(visit)
      n.subqueries.foreach(visit)
    }
    visit(p)
    (ex, scans, cached)
  }

  // -- one execution -----------------------------------------------------------

  /** Runs one item: build, plan, exec, timed; then (untimed) the output
    * check. `mode` is "setup", "reference" or "timed". Every execution's
    * contract booleans are checked. The reference round is timed like any
    * set-up round; its digest becomes the reference, and afterwards,
    * untimed, it writes each result for the DuckDB oracle. Every timed
    * repetition checks every output against the reference digest. */
  private def runItem(q: String, dir: String, rep: Int, mode: String,
      repSpan: Int): Sample = {
    spark.catalog.clearCache()
    val traced = tracing && mode == "timed"
    val qSpan = if (traced) trace.open(repSpan, q, "query") else 0
    val persisted0 = sc.getPersistentRDDs.keySet.toSet
    val compile0 = CodeGenerator.compileTime
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var phase = "build"
    var spanId = 0
    def enter(p: String): Long = {
      if (traced) { if (spanId != 0) trace.close(spanId); spanId = trace.open(qSpan, p, "phase") }
      phase = p
      setPhase(p, q, rep, spanId)
      if (traced) phaseRep(spanId) = rep
      System.nanoTime()
    }
    val cpu0 = os.getProcessCpuTime
    var tb, tp, te = 0.0
    var gcExec = 0L
    val result: Either[Failure, Option[(DataFrame, Observation, Seq[String])]] = try {
      if (q == Workloads.EngineItem) {
        val t0 = enter("build")
        import spark.implicits._
        val ds = spark.range(engineStart, engineStart + engineN).as[Long]
        val chunked = Engine.chunk(ds, 40, Engine.ElementShuffle, o.seed)
        val t1 = enter("exec")
        val g0 = gcMs
        var reduceNs = 0L
        val got = Engine.mapReduce[Long, Long, Long](chunked, PrimeMapper.mapper,
          parts => { val r0 = System.nanoTime(); val s = parts.sum; reduceNs = System.nanoTime() - r0; s })
        val t2 = System.nanoTime()
        gcExec = gcMs - g0
        tb = secs(t1 - t0); te = secs(t2 - t1)
        if (mode == "timed") engineTimes += ((rep, tb, te, secs(reduceNs)))
        if (got != engineExpected)
          Left(Failure(q, rep, s"$mode:check", "WrongResult", s"prime sum $got, expected $engineExpected"))
        else Right(None)
      } else {
        val t0 = enter("build")
        val raw = if (q == failQuery) failingQuery(dir) else registry(q)(spark, dir)
        val t1 = System.nanoTime()
        val (df, ob, contracts) = observed(raw)
        val t1p = enter("plan")
        val plan = df.queryExecution.executedPlan
        val t2 = enter("exec")
        val g0 = gcMs
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        gcExec = gcMs - g0
        tb = secs(t1 - t0); tp = secs(t2 - t1p); te = secs(t3 - t2)
        if (traced) {
          val ph = df.queryExecution.tracker.phases
          def ps(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
          val (ex, sc0, cs) = planCounts(plan)
          layer += ((rep, LayerRec(ps("analysis"), ps("optimization"), ps("planning"),
            ex, sc0, cs, CodeGenerator.compileTime - compile0,
            CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0, gcExec,
            sc.getPersistentRDDs.keys.count(!persisted0(_)))))
        }
        Right(Some((raw, ob, contracts)))
      }
    } catch { case e: Throwable => Left(fail(q, rep, s"$mode:$phase", e)) }
    val cpu = os.getProcessCpuTime - cpu0
    if (traced) { trace.close(spanId); trace.close(qSpan) }
    if (traced && q == Workloads.EngineItem)
      layer += ((rep, LayerRec(0, 0, 0, 0, 0, 0, CodeGenerator.compileTime - compile0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0, gcExec,
        sc.getPersistentRDDs.keys.count(!persisted0(_)))))
    val failure = result match {
      case Left(f) => Some(f)
      case Right(None) => None
      case Right(Some((raw, ob, contracts))) =>
        try {
          val d = digest(ob, contracts)
          if (mode == "reference") {
            reference(q) = d
            setPhase("check", q, rep, 0)
            raw.write.mode("overwrite").parquet(resultPath(q))
          }
          checkFailure(q, rep, mode, d)
        } catch { case e: Throwable => Some(fail(q, rep, s"$mode:check", e)) }
    }
    sc.clearJobGroup()
    sc.setLocalProperty("perfbench.span", null)
    Sample(q, rep, tb, tp, te, cpu, failure)
  }

  private def resultPath(q: String): String = o.work.resolve("results").resolve(q).toString

  /** A query that fails at execution, for the self-test: its failure must
    * be recorded with its reason and counted. */
  private def failingQuery(dir: String): DataFrame = {
    val boom = udf((x: Long) => { if (x >= 0) throw new IllegalStateException("injected failure"); x })
    spark.range(10).select(boom(col("id")).as("x"))
  }

  /** Runs every item once. A timed pass runs the calibration job before
    * each item (outside the item's timing) and adds its times to `cal`. */
  private def pass(dir: String, rep: Int, mode: String,
      cal: mutable.Buffer[Double] = mutable.Buffer.empty): Seq[Sample] = {
    val repSpan = if (tracing && mode == "timed") trace.open(0, s"rep$rep", "repetition") else 0
    val t0 = System.nanoTime()
    val out = items.map { q =>
      if (mode == "timed") cal += calibrationJob()
      runItem(q, dir, rep, mode, repSpan)
    }
    if (repSpan != 0) trace.close(repSpan)
    System.err.println(f"[perfbench] ${w.name} $mode pass $rep: ${secs(System.nanoTime() - t0)}%.2f s " +
      f"(queries ${out.map(_.total).sum}%.2f s, ${out.count(_.failure.nonEmpty)} failed)")
    out
  }

  // -- inputs ------------------------------------------------------------------

  /** Generates the seeded inputs into `dir` with the benchmark's generator
    * and returns per-table (rows, bytes). */
  private def generate(dir: Path): Map[String, (Long, Long)] = {
    val pb = new ProcessBuilder("python3", o.gen, dir.toString,
      "--seed", o.seed.toString, "--copies", copies.toString)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    val rc = p.waitFor()
    require(rc == 0, s"input generator exited with $rc")
    out.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(t, r, b) = l.split("\t"); t -> (r.toLong, b.toLong)
    }.toMap
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Seconds a fixed Spark job that runs no engine code takes right now:
    * tracks how fast the host runs Spark at this moment. */
  private def calibrationJob(): Double = {
    sc.setJobGroup("calibration", "calibration", interruptOnCancel = false)
    val t0 = System.nanoTime()
    spark.range(0, 4000000, 1, cores).selectExpr("sum(id * 7 % 13) AS s").collect()
    sc.clearJobGroup()
    secs(System.nanoTime() - t0)
  }

  /** Drains the listener bus: waits until every started job has ended. */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      if (collector.jobsEnded >= collector.jobsStarted) stable += 1 else stable = 0
    }
  }

  def run(): Unit = {
    val storeDir = Paths.get("target")
    // Set-up rounds, each on a fresh corpus path, so every round starts
    // with no store and no in-process memo for its corpus. The first round
    // also pays the JIT and codegen warm-up; the last one afterwards, untimed,
    // writes the reference results.
    case class Round(mode: String, genS: Double, coldS: Double, storeBytes: Long,
        cold: Map[String, Double]) {
      def setupS: Double = genS + coldS
    }
    var tables = Map.empty[String, (Long, Long)]
    var dir = ""
    Files.createDirectories(o.work.resolve("results"))
    val roundSamples = mutable.ArrayBuffer.empty[Sample]
    val rounds = (1 to o.setupRounds).map { r =>
      val d = o.work.resolve(s"input-r$r")
      val t0 = System.nanoTime()
      tables = generate(d)
      val genS = secs(System.nanoTime() - t0)
      val s0 = dirBytes(storeDir)
      val mode = if (r == o.setupRounds) "reference" else "setup"
      val cold = pass(d.toString, 0, mode)
      roundSamples ++= cold
      dir = d.toString
      Round(mode, genS, cold.map(_.total).sum, dirBytes(storeDir) - s0,
        cold.map(s => s.query -> s.total).toMap)
    }

    // timed repetitions; in a traced run, even repetitions are traced and
    // odd ones untraced, so the tracing overhead is measured in-process
    val samples = mutable.ArrayBuffer.empty[(Sample, Boolean)]
    val repHeap = mutable.ArrayBuffer.empty[Long]
    val repCal = mutable.ArrayBuffer.empty[Double]
    val tStart = System.nanoTime()
    var rep = 0
    def elapsed = secs(System.nanoTime() - tStart)
    while (rep < minReps || elapsed < o.seconds || (o.trace && rep % 2 == 1)) {
      rep += 1
      tracing = o.trace && rep % 2 == 0
      if (tracing) sc.addSparkListener(collector)
      // calibration samples taken just before and in between the
      // repetition's items, so they see the host as the items do
      val cals = mutable.ArrayBuffer(calibrationJob(), calibrationJob())
      heapPeak.set(0L); heapArmed = true
      val ss = pass(dir, rep, "timed", cals)
      repCal += median(cals.toSeq)
      System.gc()
      heapArmed = false
      repHeap += math.max(heapPeak.get(),
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      if (tracing) { drain(); sc.removeSparkListener(collector) }
      ss.foreach(s => samples += ((s, tracing)))
    }
    tracing = false
    val measureS = elapsed
    val repWall = samples.groupBy(_._1.rep).toSeq.sortBy(_._1).map(_._2.map(_._1.total).sum)
    val settled = repWall.size >= 2 && math.abs(repWall(1) - repWall(0)) <= 0.05 * repWall(1)

    val untraced = samples.filter(!_._2).map(_._1).toSeq
    val tracedS = samples.filter(_._2).map(_._1).toSeq
    def reps(ss: Seq[Sample]) = ss.groupBy(_.rep).toSeq.sortBy(_._1).map(_._2)
    val timed = if (o.trace) tracedS else untraced
    val nItems = items.size
    val tailPct = math.max(0.5, 1.0 - 10.0 / (nItems * minReps))
    // Timings are reported in units of the calibration job's median time
    // within the same repetition, which cancels most of the host's speed
    // drift (shared VMs slow down by up to 1.8x for minutes at a time);
    // the raw seconds are kept in the record.
    val cal = repCal.toSeq
    def calOf(s: Sample) = cal(s.rep - 1)
    val untracedReps = reps(untraced)
    val rel = untraced.map(s => s.total / calOf(s)).sorted
    val e2e = obj(
      "wall_cal" -> num(median(untracedReps.map(r => r.map(_.total).sum / calOf(r.head))), "cal"),
      "query_p50_cal" -> num(quantile(rel, 0.5), "cal"),
      "query_tail_cal" -> num(quantile(rel, tailPct), "cal"),
      "cpu_cal" -> num(median(untracedReps.map(r => secs(r.map(_.cpuNs).sum) / calOf(r.head))), "cal"),
      "peak_heap_mb" -> num(median(untracedReps.map(r => repHeap(r.head.rep - 1) / 1048576.0)), "MB"),
      "wall_s" -> num(median(untracedReps.map(_.map(_.total).sum)), "s"),
      "query_p50_s" -> num(quantile(untraced.map(_.total).sorted, 0.5), "s"),
      "query_tail_s" -> num(quantile(untraced.map(_.total).sorted, tailPct), "s"),
      "cpu_s" -> num(median(untracedReps.map(r => secs(r.map(_.cpuNs).sum))), "s"),
      "calibration_s" -> num(median(cal), "s"))
    // every execution counts, set-up and reference rounds included: a query
    // that fails cold and runs warm is still a failure
    val executed = roundSamples.toSeq ++ samples.map(_._1)
    val failures = executed.flatMap(_.failure)

    val layerJson = if (o.trace) layerMetrics(rounds.map(r => (r.storeBytes, r.cold)),
      reps(tracedS), reps(untraced), tables) else obj()
    if (o.trace) writeTrace(o.work.resolve("trace.json"))

    val record = obj(
      "workload" -> JString(w.name),
      "seed" -> JLong(o.seed),
      "trace" -> JBool(o.trace),
      "input_dir" -> JString(dir),
      "items" -> JArray(items.map(JString(_)).toList),
      "oracle_sql" -> obj(items.filter(oracle.contains).map(q => q -> JString(oracle(q))): _*),
      "provenance" -> provenance(tables),
      "setup" -> obj(
        "session_s" -> JDouble(sessionS),
        "rounds" -> JArray(rounds.map(r => obj(
          "mode" -> JString(r.mode), "gen_s" -> JDouble(r.genS),
          "cold_pass_s" -> JDouble(r.coldS),
          "store_bytes_written" -> JLong(r.storeBytes))).toList),
        // settled: the first two timed repetitions agree within 5%
        "warmup_settled" -> JBool(settled),
        // set-up time: session start, then the median set-up round (input
        // generation plus the cold pass that builds the stores)
        "setup_s" -> JDouble(sessionS + median(rounds.map(_.setupS)))),
      "measure_s" -> JDouble(measureS),
      "reps" -> JLong(rep),
      "rep_wall_s" -> JArray(repWall.map(JDouble(_)).toList),
      "rep_cal_s" -> JArray(cal.map(JDouble(_)).toList),
      "tail_pct" -> JDouble(tailPct),
      "tail_n" -> JLong(untraced.size),
      "attempted" -> JLong(executed.size),
      "failed" -> JLong(failures.size),
      "failures" -> JArray(failures.map(f => obj(
        "query" -> JString(f.query), "rep" -> JLong(f.rep),
        "phase" -> JString(f.phase), "exception" -> JString(f.cls),
        "message" -> JString(f.message))).toList),
      "queries" -> obj(items.map { q =>
        val ts = timed.filter(_.query == q)
        q -> obj(
          "median_s" -> dbl(median(ts.map(_.total))),
          "build_s" -> dbl(median(ts.map(_.build))),
          "plan_s" -> dbl(median(ts.map(_.plan))),
          "exec_s" -> dbl(median(ts.map(_.exec))),
          "cold_s" -> JArray(rounds.map(r => dbl(r.cold.getOrElse(q, Double.NaN))).toList),
          "rows" -> reference.get(q).map(d => JLong(d.rows)).getOrElse(JNull))
      }: _*),
      "end_to_end" -> e2e,
      "per_layer" -> layerJson)
    Files.writeString(o.record, compact(render(record)) + "\n")
    System.err.println("[perfbench] record written")
  }

  // -- per-layer metrics from the traced repetitions ---------------------------

  private def layerMetrics(rounds: Seq[(Long, Map[String, Double])],
      traced: Seq[Seq[Sample]], untraced: Seq[Seq[Sample]],
      tables: Map[String, (Long, Long)]): JValue = {
    val tracedReps = traced.map(_.head.rep).toSet
    val jobs = collector.synchronized(collector.jobs.values.toSeq)
    val tasks = collector.synchronized(collector.tasks.toSeq)
    val stageTimes = collector.synchronized(collector.stageTimes.toMap)
    def repOf(j: JobRec): Option[Int] =
      scala.util.Try(j.span.toInt).toOption.flatMap(phaseRep.get)
    val tasksByStage = tasks.groupBy(_.stageId)
    def perRep(f: Int => Double): Double = median(tracedReps.toSeq.sorted.map(f))
    def jobsIn(rep: Int, group: String) = jobs.filter(j => j.group == group && repOf(j).contains(rep))
    def stagesIn(rep: Int, group: String) =
      jobsIn(rep, group).flatMap(_.stageIds).distinct.filter(stageTimes.contains)
    def tasksIn(rep: Int) = stagesIn(rep, "exec").flatMap(s => tasksByStage.getOrElse(s, Nil))
    def repSamples(rep: Int) = traced.find(_.head.rep == rep).getOrElse(Nil)
    def layerIn(rep: Int) = layer.filter(_._1 == rep).map(_._2)
    val mb = 1048576.0
    val warmMedian = untraced.flatten.groupBy(_.query).map { case (q, ss) => q -> median(ss.map(_.total)) }
    def skew(rep: Int): Double = {
      val st = stagesIn(rep, "exec").flatMap { s =>
        val ts = tasksByStage.getOrElse(s, Nil).map(_.runMs.toDouble).sorted
        if (ts.size < 2) None
        else Some((ts.sum, ts.last / math.max(1.0, ts(ts.size / 2))))
      }
      val tot = st.map(_._1).sum
      if (tot == 0) 1.0 else st.map { case (t, k) => t * k }.sum / tot
    }
    val engineRows = engineTimes.filter(e => tracedReps(e._1))
    obj(
      "operators.build_s" -> num(perRep(r => repSamples(r).map(_.build).sum), "s"),
      "operators.build_jobs" -> num(perRep(r => jobsIn(r, "build").size), "count"),
      "plan.s" -> num(perRep(r => repSamples(r).map(_.plan).sum), "s"),
      "plan.analysis_s" -> num(perRep(r => layerIn(r).map(_.analysisS).sum), "s"),
      "plan.optimizer_s" -> num(perRep(r => layerIn(r).map(_.optimizerS).sum), "s"),
      "plan.planning_s" -> num(perRep(r => layerIn(r).map(_.planningS).sum), "s"),
      "plan.exchanges" -> num(perRep(r => layerIn(r).map(_.exchanges).sum), "count"),
      "plan.scans" -> num(perRep(r => layerIn(r).map(_.scans).sum), "count"),
      "plan.cached_scans" -> num(perRep(r => layerIn(r).map(_.cachedScans).sum), "count"),
      "codegen.compile_s" -> num(perRep(r => secs(layerIn(r).map(_.compileNs).sum)), "s"),
      "codegen.compiles" -> num(perRep(r => layerIn(r).map(_.compiles).sum.toDouble), "count"),
      "exec.s" -> num(perRep(r => repSamples(r).map(_.exec).sum), "s"),
      "exec.jobs" -> num(perRep(r => jobsIn(r, "exec").size), "count"),
      "exec.stages" -> num(perRep(r => stagesIn(r, "exec").size), "count"),
      "exec.tasks" -> num(perRep(r => tasksIn(r).size), "count"),
      "exec.core_idle_frac" -> num(perRep { r =>
        val wall = repSamples(r).map(_.exec).sum
        1.0 - tasksIn(r).map(_.runMs).sum / 1e3 / math.max(1e-9, wall * cores)
      }, "fraction"),
      "exec.task_run_s" -> num(perRep(r => tasksIn(r).map(_.runMs).sum / 1e3), "s"),
      "exec.task_cpu_s" -> num(perRep(r => secs(tasksIn(r).map(_.cpuNs).sum)), "s"),
      "exec.task_skew" -> num(perRep(skew), "ratio"),
      "exec.gc_s" -> num(perRep(r => layerIn(r).map(_.gcMs).sum / 1e3), "s"),
      "shuffle.write_mb" -> num(perRep(r => tasksIn(r).map(_.shuffleWriteBytes).sum / mb), "MB"),
      "shuffle.read_mb" -> num(perRep(r => tasksIn(r).map(_.shuffleReadBytes).sum / mb), "MB"),
      "shuffle.fetch_wait_s" -> num(perRep(r => tasksIn(r).map(_.fetchWaitMs).sum / 1e3), "s"),
      "mem.spill_mb" -> num(perRep(r => tasksIn(r).map(_.spillBytes).sum / mb), "MB"),
      "mem.peak_exec_mb" -> num(perRep(r =>
        (0L +: tasksIn(r).map(_.peakExecBytes)).max / mb), "MB"),
      "cache.relations_left" -> num(perRep(r => layerIn(r).map(_.relationsLeft).sum), "count"),
      "sources.input_mb" -> num(tables.values.map(_._2).sum / mb, "MB"),
      "sources.input_rows" -> num(tables.values.map(_._1).sum.toDouble, "count"),
      "sources.store_mb_written" -> num(median(rounds.map(_._1 / mb)), "MB"),
      "sources.cold_build_s" -> num(median(rounds.map { case (_, cold) =>
        cold.map { case (q, t) => t - warmMedian.getOrElse(q, t) }.sum
      }), "s"),
      "engine.chunk_s" -> num(median(engineRows.map(_._2).toSeq), "s"),
      "engine.mapreduce_s" -> num(median(engineRows.map(_._3).toSeq), "s"),
      "engine.reduce_s" -> num(median(engineRows.map(_._4).toSeq), "s"),
      "bench.trace_overhead_frac" -> num(
        median(traced.map(_.map(_.total).sum)) /
          median(untraced.map(_.map(_.total).sum)) - 1.0,
        "fraction"))
  }

  /** Writes the span tree (with self times) kept in memory during the run. */
  private def writeTrace(path: Path): Unit = {
    val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val jobs = collector.synchronized(collector.jobs.values.toSeq.sortBy(_.jobId))
    val stageTimes = collector.synchronized(collector.stageTimes.toMap)
    jobs.foreach { j =>
      scala.util.Try(j.span.toInt).toOption.filter(phaseRep.contains).foreach { parent =>
        if (j.endMs > 0) {
          val js = trace.record(parent, s"job${j.jobId}", "job",
            j.startMs * 1000000L - offsetNs, j.endMs * 1000000L - offsetNs)
          j.stageIds.flatMap(s => stageTimes.get(s).map(s -> _)).foreach { case (s, (a, b)) =>
            trace.record(js, s"stage$s", "stage", a * 1000000L - offsetNs, b * 1000000L - offsetNs)
          }
        }
      }
    }
    val spans = trace.all
    val children = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      compact(render(obj("id" -> JLong(s.id), "parent" -> JLong(s.parent),
        "name" -> JString(s.name), "kind" -> JString(s.kind),
        "dur_s" -> JDouble(secs(s.endNs - s.startNs)),
        "self_s" -> JDouble(secs(trace.selfNs(s, children))))))
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  private def provenance(tables: Map[String, (Long, Long)]): JValue = {
    val rt = ManagementFactory.getRuntimeMXBean
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.graft.") || k == "spark.sql.codegen.cache.maxEntries" ||
        k == "spark.sql.shuffle.partitions" || k == "spark.master"
    }
    obj(
      "nproc" -> JLong(cores),
      "SPARK_GRAFT_CPUS" -> str(sys.env.get("SPARK_GRAFT_CPUS")),
      "SPARK_GRAFT_IVF_K_CAP" -> str(sys.env.get("SPARK_GRAFT_IVF_K_CAP")),
      "SPARK_GRAFT_CODEGEN_CACHE" -> str(sys.env.get("SPARK_GRAFT_CODEGEN_CACHE")),
      "xmx" -> JString(rt.getInputArguments.asScala.filter(_.startsWith("-Xmx")).mkString(" ")),
      "max_heap_mb" -> JLong(Runtime.getRuntime.maxMemory / 1048576),
      "seed" -> JLong(o.seed),
      "copies" -> JLong(copies),
      "spark" -> JString(spark.version),
      "jdk" -> JString(System.getProperty("java.version")),
      "confs" -> obj(conf.toSeq.sorted.map { case (k, v) => k -> JString(v) }: _*),
      "tables" -> obj(tables.toSeq.sorted.map { case (t, (r, b)) =>
        t -> obj("rows" -> JLong(r), "bytes" -> JLong(b)) }: _*))
  }

  private def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values; 0 for no values. */
  private def quantile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val x = p * (sorted.size - 1)
      val i = x.toInt
      val f = x - i
      if (i + 1 < sorted.size) sorted(i) * (1 - f) + sorted(i + 1) * f else sorted(i)
    }
}
