package perfbench

import graft.ops.Dedup
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Times the connected-components layer on its distributed path (the
  * pointer-doubling rounds), on the eps-pairs of seeded lattice blobs. Each
  * blob is one component whose smallest id is its label, so the answer is
  * checked on every call.
  */
object CcProbe {
  val Points = 6000
  val Eps = 1.0
  val Reps = 3

  /** Returns (seconds per call, rounds) or the error of a wrong answer. */
  def run(spark: SparkSession, seed: Long): Either[String, (Double, Int)] = {
    import spark.implicits._
    val blobs = Inputs.blobs(Points, 3, 6, 0.05, Eps, new SplittableRandom(seed))
    val pairs = neighbourPairs(blobs).toDF("id_a", "id_b")
    val expected = blobs.id.filter(_ < Inputs.NoiseBase)
      .map(id => (id, Inputs.blobLabel(id))).toSeq.toDF("doc_id", "want")
    val split = "spark.graft.cc.localMaxEdges"
    val saved = spark.conf.getOption(split)
    spark.conf.set(split, "0")
    try {
      val runs = (1 to Reps).map { _ =>
        val t = System.nanoTime()
        val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs)
        val wrong = labels.join(expected, Seq("doc_id"), "full_outer")
          .filter(not(col("cluster_id") <=> col("want"))).count()
        ((System.nanoTime() - t) / 1e9, rounds, wrong)
      }
      runs.find(_._3 != 0) match {
        case Some((_, _, wrong)) => Left(s"connected components: $wrong wrong labels")
        case None => Right((Stats.median(runs.map(_._1)), runs.head._2))
      }
    } finally saved match {
      case Some(v) => spark.conf.set(split, v)
      case None => spark.conf.unset(split)
    }
  }

  /** Unordered point pairs within eps, via an eps hash grid. */
  private def neighbourPairs(b: Inputs.Blobs): Seq[(Long, Long)] = {
    val grid = b.x.indices.groupBy(i => (math.floor(b.x(i) / Eps).toLong, math.floor(b.y(i) / Eps).toLong))
    val out = Seq.newBuilder[(Long, Long)]
    grid.foreach { case ((gx, gy), members) =>
      for (dx <- -1L to 1L; dy <- -1L to 1L; other <- grid.get((gx + dx, gy + dy)); i <- members; j <- other)
        if (i < j && math.hypot(b.x(i) - b.x(j), b.y(i) - b.y(j)) <= Eps) out += ((b.id(i), b.id(j)))
    }
    out.result()
  }
}
