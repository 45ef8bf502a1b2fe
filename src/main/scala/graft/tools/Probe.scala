package graft.tools

import java.util.concurrent.{Semaphore, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.mutable

/** The query profiler: times or explains declared queries against one SF
  * dir in a single session. Not part of the driver contract. Usage:
  * `sbt "runMain graft.tools.Probe <sfDir> <q1,q2,...|joins> [iters]"`.
  *
  *  - `iters >= 1` (default 3) prints one JSON line
  *    `{"sf":..,"iters":..,"queries":{q:{"wall_s":median,"runs":[..]}}}`.
  *    Each run reports its wall, its Spark job count, `busy_s` (the union
  *    of its job intervals) and `gap_s` (wall minus busy: driver-side
  *    time). Per-run lines also go to stderr; a failed run is logged there
  *    and left out, and a query with no successful run reports -1.
  *  - `iters = 0` prints each query's formatted plan, or with
  *    `SPARK_GRAFT_PLAN_OUT=<dir>,<suffix>` writes `<dir>/<q>_<suffix>.txt`.
  *
  * `joins` names the spatial-join family, whose plan files are diffed
  * across commits. The session is `local[SPARK_GRAFT_CPUS]` (default 32)
  * with AQE on; `SPARK_GRAFT_EXTRA_CONF="k=v,k2=v2"` sets or overrides
  * confs, e.g. `spark.sql.adaptive.enabled=false` for static plans.
  */
object Probe {
  private val joins = Seq("g03_sjoin_pip", "g15_sjoin_grid", "g17_overlay",
    "g37_dwithin_join", "g40_sjoin_nearest", "g48_sjoin_left", "g68_sjoin_nearest_left",
    "g70_sjoin_nearest_expand", "g72_sjoin_on_attribute", "g74_sjoin_nearest_bcast",
    "g76_sjoin_knn", "g77_sjoin_knn_expand", "g87_sjoin_left_grid",
    "g90_sjoin_dwithin_sphere", "g91_sjoin_nearest_sphere", "g102_cluster_within",
    "g110_sjoin_hotcell")

  /** Busy time and driver gap of the query window [lo, hi). AQE runs a
    * query's stage jobs concurrently, so busy is the length of the UNION of
    * the [start, end) job intervals clipped to the window, not their sum;
    * the gap is the window minus busy and is never negative. A job still
    * open at the window's end has end = Long.MaxValue and is clipped.
    * Known duplicate of perfbench's `Intervals.unionLength`: the engine
    * build cannot depend on perfbench/.
    */
  def busyAndGap(jobs: Seq[(Long, Long)], lo: Long, hi: Long): (Long, Long) = {
    var busy = 0L
    var curE = lo
    jobs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > curE) { busy += e - math.max(s, curE); curE = e }
      }
    (busy, hi - lo - busy)
  }

  /** Records [start, end) of every job; end is Long.MaxValue while open. */
  private final class JobSpans extends SparkListener {
    private val Drain = "probe.drain"
    private val spans = mutable.Map[Int, (Long, Long)]()
    private val drained = new Semaphore(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g == Drain) drained.release()
      else synchronized { spans(e.jobId) = (e.time, Long.MaxValue) }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      spans.get(e.jobId).foreach { case (s, _) => spans(e.jobId) = (s, e.time) }
    }

    /** The intervals of the jobs started in [lo, hi], once every event
      * posted before the call has been delivered: events reach a listener
      * in order, so the start of one marker job means the ones before it
      * have arrived. Forgets every job recorded so far.
      */
    def take(sc: SparkContext, lo: Long, hi: Long): Seq[(Long, Long)] = {
      sc.setJobGroup(Drain, Drain)
      sc.parallelize(Seq(0), 1).count()
      sc.clearJobGroup()
      require(drained.tryAcquire(1, TimeUnit.MINUTES), "listener events lost or late")
      synchronized {
        val mine = spans.values.filter { case (s, _) => s >= lo && s <= hi }.toSeq
        spans.clear()
        mine
      }
    }
  }

  private def jesc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
      .flatMap(n => if (n == "joins") joins else Seq(n)).toSeq
    val iters = args.lift(2).map(_.toInt).getOrElse(3)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { kvs =>
      kvs.split(',').filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); builder.config(k, v)
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sql.functions.install(spark)
    if (iters == 0) explain(spark, sfDir, names) else time(spark, sfDir, names, iters)
    spark.stop()
  }

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val out = sys.env.get("SPARK_GRAFT_PLAN_OUT").map { s =>
      val Array(dir, suffix) = s.split(",", 2); (dir, suffix)
    }
    names.foreach { n =>
      try {
        val txt = graft.SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        out match {
          case Some((dir, suffix)) =>
            java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/${n}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"$n written")
          case None => println(s"\n========== $n ==========\n$txt")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[probe] $n failed: ${e.getMessage}")
      }
    }
  }

  private final case class Run(wallS: Double, jobs: Int, busyS: Double, gapS: Double)

  private def time(spark: SparkSession, sfDir: String, names: Seq[String], iters: Int): Unit = {
    val sc = spark.sparkContext
    val spans = new JobSpans
    sc.addSparkListener(spans)
    val results = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val runs = (1 to iters).flatMap { i =>
        val lo = System.currentTimeMillis()
        val ok = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
        } catch { case e: Throwable =>
          System.err.println(s"[probe] $name failed: ${e.getMessage}"); false
        }
        val hi = System.currentTimeMillis()
        val jobs = spans.take(sc, lo, hi)
        Option.when(ok) {
          val (busy, gap) = busyAndGap(jobs, lo, hi)
          val r = Run((hi - lo) / 1e3, jobs.size, busy / 1e3, gap / 1e3)
          System.err.println(f"[probe] $name%-24s run $i: ${r.wallS}%.2f s, ${r.jobs} jobs, " +
            f"busy ${r.busyS}%.2f s, gap ${r.gapS}%.2f s")
          r
        }
      }
      val walls = runs.map(_.wallS).sorted
      val wall = if (walls.isEmpty) -1.0 else walls((walls.size - 1) / 2)
      val runJson = runs.map { r =>
        f"""{"wall_s":${r.wallS}%.3f,"jobs":${r.jobs},"busy_s":${r.busyS}%.3f,"gap_s":${r.gapS}%.3f}"""
      }.mkString("[", ",", "]")
      "\"" + name + "\":" + f"""{"wall_s":$wall%.3f,"runs":$runJson}"""
    }
    println(s"""{"sf":"${jesc(sfDir)}","iters":$iters,"queries":${results.mkString("{", ",", "}")}}""")
  }
}
