package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump formatted physical plans — the .explain audit for pushdown /
  * broadcast / codegen / shuffle count. Without arguments it dumps the
  * spatial-join family. Run: `sbt "runMain graft.tools.Plans [query ...]"`.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // SPARK_GRAFT_AQE=false shows static ReuseExchange decisions that AQE
      // would otherwise only apply at runtime (as stage reuse)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sql.functions.install(spark)
    // one SPARK_GRAFT_PLAN_OUT run per commit diffs every DataFrame
    // spatial-join plan
    val names = if (args.nonEmpty) args.toSeq
      else Seq("g03_sjoin_pip", "g15_sjoin_grid", "g17_overlay", "g37_dwithin_join",
        "g40_sjoin_nearest", "g48_sjoin_left", "g68_sjoin_nearest_left",
        "g70_sjoin_nearest_expand", "g72_sjoin_on_attribute", "g74_sjoin_nearest_bcast",
        "g76_sjoin_knn", "g77_sjoin_knn_expand", "g87_sjoin_left_grid",
        "g90_sjoin_dwithin_sphere", "g91_sjoin_nearest_sphere", "g102_cluster_within",
        "g110_sjoin_hotcell")
    // SPARK_GRAFT_PLAN_OUT=<dir>,<suffix>: write one
    // <dir>/<query>_<suffix>.txt per query in FORMATTED mode (the r18
    // optimization-round plan artifacts) instead of stdout SimpleMode.
    val out = sys.env.get("SPARK_GRAFT_PLAN_OUT").map { s =>
      val Array(dir, suffix) = s.split(",", 2); (dir, suffix)
    }
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        out match {
          case Some((dir, suffix)) =>
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$dir/${n}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"$n written")
          case None =>
            println(s"\n========== $n ==========")
            println(df.queryExecution.explainString(
              org.apache.spark.sql.execution.SimpleMode))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
