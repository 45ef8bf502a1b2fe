package perfbench

import graft.geom.{Constructive, Geometry, Measures, Overlay, Predicates, Wkb}

/** Single-threaded timing of the geometry kernel on a workload's own
  * geometries, on the driver thread, after a warm-up loop. Each figure is
  * nanoseconds per call, the median of several timed passes.
  */
object KernelProbe {
  final case class Sample(
      wkb: IndexedSeq[Array[Byte]],
      pip: IndexedSeq[(Geometry, Geometry)],
      union: IndexedSeq[(Geometry, Geometry)],
      distance: IndexedSeq[(Geometry, Geometry)],
      buffer: IndexedSeq[Geometry],
      bufferDistance: Double)

  private val WarmNs = 150000000L
  private val PassNs = 40000000L
  private val Passes = 5

  // results flow into this field so the JIT cannot drop the calls
  @volatile private var sink = 0L

  def run(s: Sample): Seq[(String, Double)] = Seq(
    "geom.wkb_read_ns" -> time(s.wkb.length)(i => sink += Wkb.read(s.wkb(i)).numGeometries),
    "geom.pip_ns" -> time(s.pip.length) { i =>
      if (Predicates.intersects(s.pip(i)._1, s.pip(i)._2)) sink += 1
    },
    "geom.union_ns" -> time(s.union.length)(i =>
      sink += Overlay.union(s.union(i)._1, s.union(i)._2).numGeometries),
    "geom.distance_ns" -> time(s.distance.length)(i =>
      sink += Measures.distance(s.distance(i)._1, s.distance(i)._2).toLong),
    "geom.buffer_ns" -> time(s.buffer.length)(i =>
      sink += Constructive.buffer(s.buffer(i), s.bufferDistance).numGeometries))

  /** Calls `op` cyclically over the sample until `budgetNs` passed (at
    * least once), reading the clock every 16 calls so that nanosecond
    * kernels are not dominated by the clock.
    */
  private def sweep(n: Int, budgetNs: Long)(op: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var calls = 0L
    var elapsed = 0L
    while (elapsed < budgetNs) {
      var j = 0
      while (j < 16) { op(((calls + j) % n).toInt); j += 1 }
      calls += 16
      elapsed = System.nanoTime() - t0
    }
    elapsed.toDouble / calls
  }

  private def time(n: Int)(op: Int => Unit): Double = {
    sweep(n, WarmNs)(op)
    Stats.median((1 to Passes).map(_ => sweep(n, PassNs)(op)))
  }
}
