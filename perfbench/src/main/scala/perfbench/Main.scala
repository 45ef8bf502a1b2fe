package perfbench

import graft.io.GeoParquetIO
import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)
  def ratio(num: Double, den: Double): Double = if (den > 0) num / den else 0.0
}

/** One query execution: its wall and, on traced rounds, its layer record. */
final case class Execution(query: String, round: Int, wallS: Double, error: Option[String],
    trace: Option[QueryTrace])

final case class QueryTrace(callS: Double, planS: Double, jobs: Long, untaggedJobs: Long,
    taskS: Double, skew: Double, shuffleBytes: Long, spillBytes: Long, gapS: Double,
    gcS: Double, plan: PlanCounters, useful: Long)

/** Runs one workload: session start, repeated set-up, two checked warm-up
  * rounds, then closed-loop rounds (one client, each query run after the
  * previous one returned) for the requested seconds. `--trace 1` splits the
  * time between untraced rounds and rounds traced per layer, so the tracing
  * overhead is measured within the run.
  */
object Main {
  val SetupReps = 3
  // untimed rounds that let the JIT and Spark's caches warm up
  val WarmupRounds = 2
  val MinRounds = 3
  val MinTracedRounds = 2

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: String)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val code =
      try run(parse(args), jvmStartMs)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.Names.contains(w), s"unknown workload $w (${Workloads.Names.mkString(" | ")})")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cores").toInt, need("work"))
  }

  private def run(o: Opts, jvmStartMs: Long): Int = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      // the status store keeps finished jobs, stages and SQL executions in
      // driver heap; small caps make retained heap independent of how many
      // rounds a run happens to fit
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sql.functions.install(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val selfTestErrors = mutable.ArrayBuffer[String]()
    Intervals.selfTest().foreach(selfTestErrors += _)

    val setups = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      val p = Workloads.setup(o.workload, spark, s"${o.work}/data", o.seed)
      ((System.nanoTime() - t) / 1e9, p)
    }
    val prepared = setups.last._2
    val runner = new Runner(spark, o.cores, prepared.queries)
    val warmT = System.nanoTime()
    (1 to WarmupRounds).foreach(_ => runner.round(0, traced = false))
    val setupS = sessionS + Stats.median(setups.map(_._1)) + (System.nanoTime() - warmT) / 1e9
    log(f"session ${sessionS}%.2f s, data set-up ${setups.map(_._1).map(s => f"$s%.2f").mkString(" / ")} s")

    val out = mutable.LinkedHashMap[String, (Double, String)]()
    if (!o.trace) {
      val rounds = runner.timed(o.seconds.toDouble, MinRounds, traced = false)
      out("round_s") = (Stats.median(rounds), "s")
      out("query_geomean_s") = (runner.queryGeomean(), "s")
      out("setup_s") = (setupS, "s")
      out("heap_live_mb") = (runner.oldGenAfterGc() / 1048576.0, "MiB")
    } else {
      PlanSelfTest.run(spark).foreach(selfTestErrors += _)
      // untraced and traced rounds alternate, so both sit at the same point
      // of the JIT warm-up and their ratio is the tracing overhead
      val untraced = mutable.ArrayBuffer[Double]()
      val traced = mutable.ArrayBuffer[Double]()
      while (untraced.sum + traced.sum < o.seconds || traced.size < MinTracedRounds) {
        untraced ++= runner.timed(0, 1, traced = false)
        runner.startTracing()
        traced ++= runner.timed(0, 1, traced = true)
        runner.stopTracing()
      }
      runner.layerMetrics().foreach { case (k, v) => out(k) = v }
      out("io.footer_s") = (Stats.median((1 to 5).map { _ =>
        val t = System.nanoTime()
        GeoParquetIO.readMeta(spark, prepared.footerDataset)
        (System.nanoTime() - t) / 1e9
      }), "s")
      KernelProbe.run(prepared.kernel).foreach { case (k, v) => out(k) = (v, "ns") }
      CcProbe.run(spark, o.seed) match {
        case Right((s, rounds)) =>
          out("ops.cc_s") = (s, "s")
          out("ops.cc_rounds") = (rounds.toDouble, "count")
        case Left(err) =>
          selfTestErrors += err
          out("ops.cc_s") = (0.0, "s")
          out("ops.cc_rounds") = (0.0, "count")
      }
      out("trace_overhead") = (Stats.median(traced.toSeq) / Stats.median(untraced.toSeq), "ratio")
      runner.writeSpans(s"${o.work}/../traces/${o.workload}-${o.seed}.jsonl")
    }
    runner.report()
    selfTestErrors.foreach(e => log(s"self-test failed: $e"))
    spark.stop()

    val failed = runner.failed
    val json = new StringBuilder
    json ++= s"""{"correct": ${failed == 0 && selfTestErrors.isEmpty}, """
    json ++= s""""attempted": ${runner.attempted}, "failed": $failed, "metrics": {"""
    json ++= out.map { case (k, (v, unit)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$unit"}"""
    }.mkString(", ")
    json ++= "}}"
    println(json)
    0
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")
}

/** Executes rounds of a workload's queries and keeps what they measured. */
final class Runner(spark: SparkSession, cores: Int, queries: Seq[Query]) {
  private val sc = spark.sparkContext
  private val executions = mutable.ArrayBuffer[Execution]()
  private val spans = mutable.ArrayBuffer[Span]()
  private var counters: SparkCounters = _
  private var capture: PlanCapture = _
  private var nextRound = 1

  def attempted: Int = executions.size
  def failed: Int = executions.count(_.error.isDefined)

  def startTracing(): Unit = {
    counters = new SparkCounters
    capture = new PlanCapture
    sc.addSparkListener(counters)
    spark.listenerManager.register(capture)
  }

  def stopTracing(): Unit = {
    org.apache.spark.BenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(counters)
    spark.listenerManager.unregister(capture)
  }

  /** Rounds until `seconds` of query time passed (at least `minRounds`).
    * Returns each round's summed query wall.
    */
  def timed(seconds: Double, minRounds: Int, traced: Boolean): Seq[Double] = {
    val walls = mutable.ArrayBuffer[Double]()
    while (walls.sum < seconds || walls.size < minRounds) {
      val w = round(nextRound, traced)
      Main.log(f"round $nextRound: $w%.3f s")
      nextRound += 1
      walls += w
    }
    walls.toSeq
  }

  /** One round: every query once, in order. Returns the summed walls. */
  def round(r: Int, traced: Boolean): Double =
    queries.map { q =>
      val e = execute(q, r, traced)
      executions += e
      e.error.foreach(err => Main.log(s"round $r ${q.name} FAILED: $err"))
      Main.log(f"round $r ${q.name}: ${e.wallS}%.3f s")
      e.wallS
    }.sum

  private def execute(q: Query, r: Int, traced: Boolean): Execution = {
    val group = s"perfbench-$r-${q.name}"
    val mySpans = mutable.ArrayBuffer[Span]()
    val ctx = new Ctx {
      private def span[T](name: String, kind: String)(body: => T): T =
        if (!traced) body
        else {
          val t = System.nanoTime()
          try body finally mySpans += Span(q.name, r, name, kind, t, System.nanoTime())
        }
      def call[T](name: String)(body: => T): T = span(name, "call")(body)
      def execute[T](name: String)(body: => T): T = span(name, "execute")(body)
      def force(df: DataFrame, checks: Column*): Row = execute("noop write") {
        val obs = Observation(s"check-$group")
        val named = checks.zipWithIndex.map { case (c, i) => c.as(s"c$i") }
        df.observe(obs, named.head, named.tail: _*)
          .write.format("noop").mode("overwrite").save()
        val m = obs.get
        Row.fromSeq(checks.indices.map(i => m(s"c$i")))
      }
    }
    sc.setJobGroup(group, q.name, interruptOnCancel = false)
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(q.run(ctx))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    val e1 = System.currentTimeMillis()
    sc.clearJobGroup()
    // the layer record is read before the answer check runs, so the
    // check's own actions are not attributed to the query
    val trace = if (!traced) None else {
      spans ++= mySpans
      org.apache.spark.BenchAccess.drainListenerBus(sc)
      val g = counters.take(group, e0, e1)
      val plan = PlanReader.read(capture.take(), datasetFiles)
      val tasks = g.stageTasks.flatten
      val intervals = g.intervals.map { case (s, e) => (s, if (e < 0) e1 else e) }
      Some(QueryTrace(
        callS = mySpans.filter(_.kind == "call").map(_.seconds).sum,
        planS = plan.planMs / 1e3,
        jobs = g.jobs,
        untaggedJobs = g.untaggedJobs,
        taskS = tasks.map(_.runMs).sum / 1e3,
        skew = worstSkew(g.stageTasks),
        shuffleBytes = tasks.map(_.shuffleBytes).sum,
        spillBytes = tasks.map(_.spillBytes).sum,
        gapS = Intervals.driverGap(intervals, e0, e1) / 1e3,
        gcS = tasks.map(_.gcMs).sum / 1e3,
        plan = plan,
        useful = result.map(_.useful).getOrElse(0L)))
    }
    val error = result match {
      case Left(err) => Some(err)
      case Right(a) =>
        try a.check()
        catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    Execution(q.name, r, wall, error, trace)
  }

  /** Worst max/median task run time over the stages that carry at least 5%
    * of the query's task time (tiny stages have noisy ratios and cannot
    * stall a query); 1 when no stage has more than one task.
    */
  private def worstSkew(stages: Seq[Seq[SparkCounters.TaskRec]]): Double = {
    val total = stages.flatten.map(_.runMs).sum.toDouble
    val ratios = stages.filter(s => s.size > 1 && s.map(_.runMs).sum >= 0.05 * total).map { s =>
      val ts = s.map(_.runMs.toDouble)
      ts.max / math.max(1.0, Stats.median(ts))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Number of parquet files of the datasets behind a scan's root paths (a
    * pruned scan lists single files; their dataset is the parent directory).
    */
  private def datasetFiles(roots: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    roots.map { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      if (p.getName.endsWith(".parquet")) p.getParent else p
    }.distinct.map { d =>
      d.getFileSystem(conf).listStatus(d).count(s => s.getPath.getName.endsWith(".parquet")).toLong
    }.sum
  }

  /** Old-generation occupancy after full collections: what the driver
    * keeps alive between queries.
    */
  def oldGenAfterGc(): Long = {
    // the first collection lets the context cleaner drop blocks of RDDs
    // that became unreachable; the second measures what remains
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  private def timedExecutions: Seq[Execution] = executions.filter(_.round > 0).toSeq

  private def medianWall(q: String, traced: Boolean): Double =
    Stats.median(timedExecutions.filter(e => e.query == q && e.trace.isDefined == traced).map(_.wallS))

  /** Geometric mean over the workload's queries of each query's median
    * latency over the untraced timed rounds.
    */
  def queryGeomean(): Double = Stats.geomean(queries.map(q => medianWall(q.name, traced = false)))

  /** Per-layer metrics: each is summed over one traced round's queries
    * (ratios from the summed parts; skew is the worst query), then the
    * median over the traced rounds is taken.
    */
  def layerMetrics(): Seq[(String, (Double, String))] = {
    val byRound = timedExecutions.filter(_.trace.isDefined).groupBy(_.round).values.toSeq
    def per(f: Seq[Execution] => Double): Double = Stats.median(byRound.map(f))
    def sum(f: QueryTrace => Double)(es: Seq[Execution]): Double = es.flatMap(_.trace).map(f).sum
    def pc(f: PlanCounters => Long)(t: QueryTrace): Double = f(t.plan).toDouble
    val mib = 1048576.0
    Seq(
      "api.call_s" -> (per(sum(_.callS)), "s"),
      "plans.plan_s" -> (per(sum(_.planS)), "s"),
      "plans.exchanges" -> (per(sum(pc(_.exchanges))), "count"),
      "plans.indexed_joins" -> (per(sum(pc(_.indexedJoins))), "count"),
      "plans.candidates_per_output" -> (per(es => Stats.ratio(
        sum(pc(_.candidateRows))(es), sum(pc(_.indexedOutputRows))(es))), "ratio"),
      "sql.explode_factor" -> (per(es => Stats.ratio(
        sum(pc(_.explodeOut))(es), sum(pc(_.explodeIn))(es))), "ratio"),
      "sql.pairs_per_output" -> (per(es => Stats.ratio(
        sum(pc(_.cellJoinRows))(es),
        sum(t => if (t.plan.cellJoins > 0) t.useful.toDouble else 0.0)(es))), "ratio"),
      "spark.jobs" -> (per(sum(_.jobs.toDouble)), "count"),
      "spark.task_s" -> (per(sum(_.taskS)), "s"),
      "spark.busy_frac" -> (per(es => Stats.ratio(sum(_.taskS)(es), cores * es.map(_.wallS).sum)), "ratio"),
      "spark.skew" -> (per(es => es.flatMap(_.trace).map(_.skew).max), "ratio"),
      "spark.shuffle_mb" -> (per(sum(_.shuffleBytes / mib)), "MiB"),
      "spark.spill_mb" -> (per(sum(_.spillBytes / mib)), "MiB"),
      "spark.driver_gap_s" -> (per(sum(_.gapS)), "s"),
      "spark.gc_s" -> (per(sum(_.gcS)), "s"),
      "io.write_mb" -> (per(sum(t => t.plan.writeBytes / mib)), "MiB"),
      "io.files_written" -> (per(sum(pc(_.filesWritten))), "count"),
      "io.files_read_frac" -> (per(es => Stats.ratio(
        sum(pc(_.filesRead))(es), sum(pc(_.filesTotal))(es))), "ratio"),
      "io.rows_scanned_per_row" -> (per(es => Stats.ratio(
        sum(pc(_.scanRows))(es), sum(_.useful.toDouble)(es))), "ratio"))
  }

  /** Human-readable per-query table on stdout, ahead of the JSON line. */
  def report(): Unit = {
    queries.foreach { q =>
      val es = timedExecutions.filter(e => e.query == q.name && e.trace.isEmpty)
      val ts = timedExecutions.filter(e => e.query == q.name && e.trace.isDefined).flatMap(_.trace)
      val lat = if (es.isEmpty) "" else
        f"median ${Stats.median(es.map(_.wallS))}%.3f s over ${es.size} runs"
      val layers = if (ts.isEmpty) "" else {
        def m(f: QueryTrace => Double) = Stats.median(ts.map(f))
        f"; traced: call ${m(_.callS)}%.3f s, plan ${m(_.planS)}%.3f s, jobs ${m(_.jobs.toDouble)}%.0f" +
          f", task ${m(_.taskS)}%.2f s, skew ${m(_.skew)}%.1f, shuffle ${m(_.shuffleBytes / 1048576.0)}%.1f MiB" +
          f", gap ${m(_.gapS)}%.3f s, untagged jobs ${ts.map(_.untaggedJobs).sum}"
      }
      println(s"# ${q.name}: $lat$layers")
    }
  }

  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f)
    try spans.foreach { s =>
      w.println(s"""{"query": "${s.query}", "round": ${s.round}, "span": "${s.name}", """ +
        s""""kind": "${s.kind}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    } finally w.close()
  }
}

/** Checks the plan reader on a tiny broadcast join before the traced
  * rounds: it must see the FINAL adaptive plan of the forcing write, with
  * exactly one indexed join that verified at least as many candidates as
  * it emitted.
  */
object PlanSelfTest {
  def run(spark: SparkSession): Option[String] = {
    import spark.implicits._
    (0 until 400).map(i => (i.toLong, graft.geom.Wkb.write(graft.geom.Point((i % 20) + 0.5, (i / 20) + 0.5))))
      .toDF("pid", "geometry").createOrReplaceTempView("selftest_points")
    (0 until 4).map(i => (i, graft.geom.Wkb.write(graft.geom.Polygon.box(i * 5.0, 0.0, i * 5.0 + 5, 10.0))))
      .toDF("bid", "geometry").createOrReplaceTempView("selftest_boxes")
    val capture = new PlanCapture
    spark.listenerManager.register(capture)
    try {
      // the GROUP BY adds an exchange, so the query runs under adaptive execution
      spark.sql("SELECT b.bid, count(*) AS n FROM selftest_points p JOIN selftest_boxes b " +
        "ON st_contains(b.geometry, p.geometry) GROUP BY b.bid").write.format("noop").mode("overwrite").save()
      org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
      val qes = capture.take()
      var finalAdaptive = 0
      qes.foreach(qe => PlanReader.walk(qe.executedPlan) {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          if (a.toString.contains("isFinalPlan=true")) finalAdaptive += 1
        case _ => ()
      })
      val c = PlanReader.read(qes, _ => 0L)
      if (finalAdaptive == 0) Some("plan reader saw no final adaptive plan")
      else if (c.indexedJoins != 1) Some(s"expected one IndexedSpatialJoinExec, saw ${c.indexedJoins}")
      else if (c.indexedOutputRows != 200) Some(s"indexed join emitted ${c.indexedOutputRows} rows, expected 200")
      else if (c.candidateRows < c.indexedOutputRows)
        Some(s"candidateRows ${c.candidateRows} < numOutputRows ${c.indexedOutputRows}")
      else None
    } finally spark.listenerManager.unregister(capture)
  }
}
