package perfbench

import graft.geom.{Point, Polygon, Wkb}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every generator builds its geometry so that the
  * right answer is known by construction, never by running the engine:
  * points sit strictly inside a polygon's inscribed disk or strictly outside
  * its circumscribed disk, cluster blobs are lattices whose spacing is well
  * below `eps` and whose gaps are well above it.
  */
object Inputs {

  /** A star-shaped polygon about (cx, cy); `inner` is its exact inscribed
    * radius about that centre and `outer` its circumscribed one.
    */
  final case class Star(id: Int, cx: Double, cy: Double, inner: Double,
      outer: Double, poly: Polygon)

  /** Star polygons on a `cols` x `rows` lattice over [0, size]^2, one per
    * cell. Each star's circumscribed disk lies strictly inside its own cell,
    * so the stars are disjoint and a point can only meet its cell's star.
    */
  final class StarField(val cols: Int, val rows: Int, val size: Double,
      minVertices: Int, maxVertices: Int, rng: SplittableRandom) {
    val cellW: Double = size / cols
    val cellH: Double = size / rows
    private val c = math.min(cellW, cellH)

    val stars: Array[Star] = Array.tabulate(cols * rows) { id =>
      val i = id % cols
      val j = id / cols
      val cx = (i + 0.5) * cellW + (rng.nextDouble() - 0.5) * 0.12 * c
      val cy = (j + 0.5) * cellH + (rng.nextDouble() - 0.5) * 0.12 * c
      // vertex counts follow the id, not the seed, so every seed has the
      // same total vertex count
      val n = minVertices + (id * 37) % (maxVertices - minVertices + 1)
      val step = 2 * math.Pi / n
      val ring = new Array[Double](2 * n + 2)
      var outer = 0.0
      var k = 0
      while (k < n) {
        val a = k * step + (rng.nextDouble() - 0.5) * 0.5 * step
        val r = (0.30 + 0.10 * rng.nextDouble()) * c
        outer = math.max(outer, r)
        ring(2 * k) = cx + r * math.cos(a)
        ring(2 * k + 1) = cy + r * math.sin(a)
        k += 1
      }
      ring(2 * n) = ring(0)
      ring(2 * n + 1) = ring(1)
      var inner = Double.PositiveInfinity
      k = 0
      while (k < n) {
        inner = math.min(inner, segmentDistance(cx, cy,
          ring(2 * k), ring(2 * k + 1), ring(2 * k + 2), ring(2 * k + 3)))
        k += 1
      }
      Star(id, cx, cy, inner, outer, Polygon(ring))
    }

    /** Index of the star whose cell holds (x, y). */
    def cellOf(x: Double, y: Double): Int =
      math.min(rows - 1, (y / cellH).toInt) * cols + math.min(cols - 1, (x / cellW).toInt)

    /** Star id whose inscribed disk (with a 2% margin) holds the point;
      * -1 when the point is outside every circumscribed disk (2% margin);
      * -2 when it falls between the two, where the answer is not known by
      * construction and the generator draws again.
      */
    def classify(x: Double, y: Double): Int = {
      val s = stars(cellOf(x, y))
      val d = math.hypot(x - s.cx, y - s.cy)
      if (d < 0.98 * s.inner) s.id
      else if (d > 1.02 * s.outer) -1
      else -2
    }
  }

  private def segmentDistance(px: Double, py: Double, ax: Double, ay: Double,
      bx: Double, by: Double): Double = {
    val dx = bx - ax
    val dy = by - ay
    val len2 = dx * dx + dy * dy
    val t = if (len2 == 0) 0.0 else
      math.max(0.0, math.min(1.0, ((px - ax) * dx + (py - ay) * dy) / len2))
    math.hypot(px - (ax + t * dx), py - (ay + t * dy))
  }

  /** Points over [0, size]^2: `hotShare` of them Gaussian around fixed hot
    * spots (the skew), the rest uniform. Hot-spot centres are constants of
    * the workload, so every seed has the same skew; the seed moves the
    * samples only. `matchOf(i)` is the star holding point i, or -1.
    */
  final class PointSet(val x: Array[Double], val y: Array[Double],
      val matchOf: Array[Int]) {
    def size: Int = x.length
  }

  def skewedPoints(n: Int, size: Double, hot: Seq[(Double, Double)],
      sigma: Double, hotShare: Double, field: StarField,
      rng: SplittableRandom): PointSet = {
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    val ms = new Array[Int](n)
    var i = 0
    while (i < n) {
      val (x, y) =
        if (rng.nextDouble() < hotShare) {
          val (hx, hy) = hot(rng.nextInt(hot.length))
          (hx + sigma * gaussian(rng), hy + sigma * gaussian(rng))
        } else (rng.nextDouble() * size, rng.nextDouble() * size)
      if (x >= 0 && y >= 0 && x < size && y < size) {
        val m = field.classify(x, y)
        if (m != -2) {
          xs(i) = x; ys(i) = y; ms(i) = m
          i += 1
        }
      }
    }
    new PointSet(xs, ys, ms)
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = math.max(rng.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  /** Parcels: a jittered (cols+1) x (rows+1) vertex lattice over [0, size]^2
    * cut into quads. Neighbouring quads share their vertices exactly, so a
    * region's parcels tile it without gaps or overlaps and the region's
    * area is the sum of its parcels' areas. Regions are `regionCols` x
    * `regionRows` blocks of quads.
    */
  final class Parcels(val polys: Array[Polygon], val region: Array[Int],
      val regionArea: Array[Double])

  def parcels(cols: Int, rows: Int, regionCols: Int, regionRows: Int,
      size: Double, rng: SplittableRandom): Parcels = {
    val w = size / cols
    val h = size / rows
    val vx = Array.ofDim[Double](cols + 1, rows + 1)
    val vy = Array.ofDim[Double](cols + 1, rows + 1)
    for (i <- 0 to cols; j <- 0 to rows) {
      val inner = i > 0 && i < cols && j > 0 && j < rows
      vx(i)(j) = i * w + (if (inner) (rng.nextDouble() - 0.5) * 0.4 * w else 0.0)
      vy(i)(j) = j * h + (if (inner) (rng.nextDouble() - 0.5) * 0.4 * h else 0.0)
    }
    val perRx = cols / regionCols
    val perRy = rows / regionRows
    val polys = ArrayBuffer[Polygon]()
    val region = ArrayBuffer[Int]()
    val area = new Array[Double](regionCols * regionRows)
    for (j <- 0 until rows; i <- 0 until cols) {
      val ring = Array(
        vx(i)(j), vy(i)(j), vx(i + 1)(j), vy(i + 1)(j),
        vx(i + 1)(j + 1), vy(i + 1)(j + 1), vx(i)(j + 1), vy(i)(j + 1),
        vx(i)(j), vy(i)(j))
      val r = (j / perRy) * regionCols + i / perRx
      polys += Polygon(ring)
      region += r
      area(r) += shoelace(ring)
    }
    new Parcels(polys.toArray, region.toArray, area)
  }

  private def shoelace(ring: Array[Double]): Double = {
    var s = 0.0
    var k = 0
    while (k + 3 < ring.length) {
      s += ring(k) * ring(k + 3) - ring(k + 2) * ring(k + 1)
      k += 2
    }
    math.abs(s) / 2
  }

  /** Cluster blobs: each blob is a jittered square-ish lattice with spacing
    * 0.4 eps and jitter below 0.03 eps, so lattice neighbours up to offset
    * (2,1) are within eps (at most 0.98 eps) and offset (2,2) neighbours are
    * beyond it (at least 1.04 eps): each blob is exactly one eps-connected
    * component. Blobs sit in slots separated by more than 2 eps. Noise
    * points are farther than 1.5 eps from every other point. Blob b's ids
    * are `b * Stride + k`; noise ids start at `NoiseBase`, so the expected
    * component label (smallest member id) of every id is known.
    */
  final class Blobs(val id: Array[Long], val x: Array[Double], val y: Array[Double]) {
    def size: Int = id.length
  }
  val Stride = 100000L
  val NoiseBase = 1000000000L

  def blobs(targetPoints: Int, minSide: Int, maxSide: Int, noiseShare: Double,
      eps: Double, rng: SplittableRandom): Blobs = {
    val spacing = 0.4 * eps
    val jitter = 0.03 * eps
    val slot = (maxSide - 1) * spacing + 2 * jitter + 2.5 * eps
    val blobTarget = (targetPoints * (1 - noiseShare)).toInt
    val ids = ArrayBuffer[Long]()
    val xs = ArrayBuffer[Double]()
    val ys = ArrayBuffer[Double]()
    val boxes = ArrayBuffer[(Double, Double, Double, Double)]()
    val meanSide = (minSide + maxSide) / 2.0
    val slotsPerRow = math.max(1, math.ceil(math.sqrt(blobTarget / (meanSide * meanSide))).toInt + 1)
    // blob sides cycle through [minSide, maxSide] by blob number, not by
    // seed, so every seed has the same blob sizes (and CC diameters)
    val sides = maxSide - minSide + 1
    var b = 0
    while (xs.length < blobTarget) {
      val sw = minSide + (b * 3) % sides
      val sh = minSide + (b * 5 + 2) % sides
      val ox = (b % slotsPerRow) * slot
      val oy = (b / slotsPerRow) * slot
      var k = 0
      for (j <- 0 until sh; i <- 0 until sw) {
        ids += b * Stride + k
        xs += ox + i * spacing + (rng.nextDouble() - 0.5) * 2 * jitter
        ys += oy + j * spacing + (rng.nextDouble() - 0.5) * 2 * jitter
        k += 1
      }
      boxes += ((ox - jitter, oy - jitter, ox + (sw - 1) * spacing + jitter,
        oy + (sh - 1) * spacing + jitter))
      b += 1
    }
    val extent = (b / slotsPerRow + 1) * slot
    val width = slotsPerRow * slot
    val noiseTarget = (targetPoints * noiseShare).toInt
    val clear = 1.5 * eps
    val noiseGrid = scala.collection.mutable.HashMap[(Int, Int), (Double, Double)]()
    var n = 0
    while (n < noiseTarget) {
      val px = rng.nextDouble() * width
      val py = rng.nextDouble() * extent
      val nearBlob = boxes.exists { case (x0, y0, x1, y1) =>
        px > x0 - clear && px < x1 + clear && py > y0 - clear && py < y1 + clear
      }
      val gx = (px / clear).toInt
      val gy = (py / clear).toInt
      val nearNoise = (for (dx <- -1 to 1; dy <- -1 to 1)
        yield noiseGrid.get((gx + dx, gy + dy))).flatten
        .exists { case (qx, qy) => math.hypot(px - qx, py - qy) <= clear }
      if (!nearBlob && !nearNoise && !noiseGrid.contains((gx, gy))) {
        noiseGrid((gx, gy)) = (px, py)
        ids += NoiseBase + n
        xs += px
        ys += py
        n += 1
      }
    }
    new Blobs(ids.toArray, xs.toArray, ys.toArray)
  }

  /** Expected component label of an id: its blob's smallest id; noise
    * points are singletons.
    */
  def blobLabel(id: Long): Long = if (id >= NoiseBase) id else (id / Stride) * Stride

  def pointWkb(x: Double, y: Double): Array[Byte] = Wkb.write(Point(x, y))
}
