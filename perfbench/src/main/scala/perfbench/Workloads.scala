package perfbench

import graft.api.GeoDataFrame
import graft.geom.{Envelope, Geometry, Point, Wkb}
import graft.io.GeoParquetIO
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

/** What a query needs from the runner: spans around public calls and the
  * forcing action. `force` runs the query with a `noop` write, so every
  * output column is computed, and returns the `checks` aggregates observed
  * during that same execution.
  */
trait Ctx {
  def call[T](name: String)(body: => T): T
  def execute[T](name: String)(body: => T): T
  def force(df: DataFrame, checks: Column*): Row
}

/** `useful` is the number of rows the answer is about (for scan-efficiency
  * ratios); `check` runs after the timer stopped and returns an error.
  */
final case class Answer(useful: Long, check: () => Option[String])
final case class Query(name: String, run: Ctx => Answer)

/** A workload after set-up: its queries in round order, the GeoParquet
  * dataset the footer probe reads, and the kernel probe's sample.
  */
final case class Prepared(queries: Seq[Query], footerDataset: String,
    kernel: KernelProbe.Sample)

object Workloads {
  /** `sjoin_skew` runs the grid joins on skewed data and no GeoParquet IO,
    * broadcast index or union; `etl_geoparquet` runs GeoParquet writes and
    * pruned reads, the broadcast-indexed SQL join and dissolve, and no grid
    * join.
    */
  val Names: Seq[String] = Seq("sjoin_skew", "etl_geoparquet")

  def setup(name: String, spark: SparkSession, dir: String, seed: Long): Prepared = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + name.hashCode)
    name match {
      case "sjoin_skew" => SjoinSkew.setup(spark, dir, rng)
      case "etl_geoparquet" => EtlGeoParquet.setup(spark, dir, rng)
    }
  }

  /** Order-independent checksum term of an (a, b) id pair. */
  def pairKey(a: Column, b: Column): Column =
    pmod(a.cast(LongType) * lit(1000003L) + b.cast(LongType), lit(1000000007L))
  def pairKey(a: Long, b: Long): Long = Math.floorMod(a * 1000003L + b, 1000000007L)

  def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: expected $want, got $got")

  def firstError(checks: Option[String]*): Option[String] = checks.flatten.headOption

  // a local relation scans as one partition per core, so each set-up
  // dataset is written as one file per core

  /** Writes set-up rows as plain parquet. */
  private[perfbench] def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).write.mode("overwrite").parquet(path)

  /** Writes set-up rows as GeoParquet (footer bboxes, CRS). */
  private[perfbench] def writeGeoParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit =
    GeoParquetIO.write(GeoDataFrame(spark.createDataFrame(rows.asJava, schema)), path)

  /** Reads `cols` of a set-up dataset; the last one is the geometry. */
  private[perfbench] def readGeo(spark: SparkSession, path: String, cols: String*): GeoDataFrame =
    GeoDataFrame(spark.read.parquet(path).select(cols.map(col): _*), cols.last)

  private[perfbench] def sample[T](xs: IndexedSeq[T], n: Int, rng: SplittableRandom): IndexedSeq[T] =
    IndexedSeq.fill(n)(xs(rng.nextInt(xs.length)))
}

import Workloads._

/** Skewed spatial joins between two sides too large to broadcast. */
object SjoinSkew {
  val Size = 100.0
  val Lattice = 64
  val Points = 100000
  val HotSpots = Seq((22.0, 31.0), (71.0, 64.0), (44.0, 82.0), (81.0, 18.0))
  val Sigma = 2.5
  val HotShare = 0.6
  val NearestK = 3
  val SphereMeters = 15000.0
  def lon(x: Double): Double = -10.0 + 0.3 * x
  def lat(y: Double): Double = 55.0 + 0.2 * y

  def setup(spark: SparkSession, dir: String, rng: SplittableRandom): Prepared = {
    val field = new Inputs.StarField(Lattice, Lattice, Size, 8, 64, rng)
    val pts = Inputs.skewedPoints(Points, Size, HotSpots, Sigma, HotShare, field, rng)
    val cell = field.cellW

    // one points dataset carries both the planar geometry and its lon/lat copy
    val pSchema = StructType(Seq(StructField("pid", LongType), StructField("x", DoubleType),
      StructField("y", DoubleType), StructField("geometry", BinaryType),
      StructField("geometry_ll", BinaryType)))
    writeParquet(spark, (0 until pts.size).map(i => Row(i.toLong, pts.x(i), pts.y(i),
      Inputs.pointWkb(pts.x(i), pts.y(i)), Inputs.pointWkb(lon(pts.x(i)), lat(pts.y(i))))),
      pSchema, s"$dir/points")
    val gSchema = StructType(Seq(StructField("gid", IntegerType), StructField("geometry", BinaryType),
      StructField("centre_ll", BinaryType)))
    writeParquet(spark, field.stars.toSeq.map(s =>
      Row(s.id, Wkb.write(s.poly), Inputs.pointWkb(lon(s.cx), lat(s.cy)))), gSchema, s"$dir/polygons")

    // sjoin truth by construction: each point is inside its cell's star or
    // outside every star
    var innerN = 0L
    var innerSum = 0L
    var i = 0
    while (i < pts.size) {
      if (pts.matchOf(i) >= 0) {
        innerN += 1
        innerSum += pairKey(i.toLong, pts.matchOf(i).toLong)
      }
      i += 1
    }
    val unmatched = pts.size - innerN

    def points = readGeo(spark, s"$dir/points", "pid", "x", "y", "geometry")
    def polygons = readGeo(spark, s"$dir/polygons", "gid", "geometry")
    val maxDistance = 0.3 * cell
    val hotCellBudget = 2000L

    // nearest truth from the second planner path: the broadcast STR-tree
    // kNN over the same inputs and the same rank <= k tie contract
    val knnTruth = points.sjoinKnnBroadcast(polygons, NearestK, maxDistance)
      .agg(count(lit(1)), sum(pairKey(col("pid"), col("gid")))).head()
    val (sphereN, sphereSum) = sphereTruth(pts, field)

    val queries = Seq(
      Query("sjoin", ctx => {
        val df = ctx.call("sjoin")(points.sjoin(polygons))
        val r = ctx.force(df, count(lit(1)), sum(pairKey(col("pid"), col("gid"))))
        Answer(r.getLong(0), () => firstError(
          expect("sjoin rows", r.getLong(0), innerN),
          expect("sjoin pair checksum", r.getLong(1), innerSum)))
      }),
      Query("sjoin_left", ctx => {
        val df = ctx.call("sjoin")(points.sjoin(polygons, how = "left",
          strategy = "grid", cellSize = Some(cell), hotCellBudget = hotCellBudget))
        val r = ctx.force(df, count(lit(1)),
          coalesce(sum(pairKey(col("pid"), col("gid"))), lit(0L)),
          count_if(col("gid").isNull))
        Answer(r.getLong(0), () => firstError(
          expect("sjoin_left rows", r.getLong(0), pts.size.toLong),
          expect("sjoin_left pair checksum", r.getLong(1), innerSum),
          expect("sjoin_left unmatched", r.getLong(2), unmatched)))
      }),
      Query("nearest_k", ctx => {
        val df = ctx.call("sjoinNearest")(points.sjoinNearest(polygons, "pid",
          maxDistance, cell, k = NearestK))
        val r = ctx.force(df, count(lit(1)), sum(pairKey(col("pid"), col("gid"))))
        Answer(r.getLong(0), () => firstError(
          expect("nearest_k rows", r.getLong(0), knnTruth.getLong(0)),
          expect("nearest_k pair checksum", r.getLong(1), knnTruth.getLong(1))))
      }),
      Query("dwithin_sphere", ctx => {
        val l = ctx.call("read")(readGeo(spark, s"$dir/points", "pid", "geometry_ll"))
        val r0 = ctx.call("read")(readGeo(spark, s"$dir/polygons", "gid", "centre_ll"))
        val df = ctx.call("sjoinDwithinSphere")(l.sjoinDwithinSphere(r0, SphereMeters)).df
        val r = ctx.force(df, count(lit(1)), sum(pairKey(col("pid"), col("gid"))))
        Answer(r.getLong(0), () => firstError(
          expect("dwithin_sphere rows", r.getLong(0), sphereN),
          expect("dwithin_sphere pair checksum", r.getLong(1), sphereSum)))
      }))

    val kr = new SplittableRandom(rng.nextLong())
    val polys = field.stars.toIndexedSeq
    val probePts = (0 until 512).map { _ =>
      val j = kr.nextInt(pts.size)
      Point(pts.x(j), pts.y(j))
    }
    val kernel = KernelProbe.Sample(
      wkb = sample(polys, 256, kr).map(s => Wkb.write(s.poly)) ++ probePts.map(p => Wkb.write(p)),
      pip = probePts.map(p => (p: Geometry, field.stars(field.cellOf(p.x, p.y)).poly: Geometry)),
      union = sample(polys.filter(_.id % Lattice < Lattice - 1), 128, kr)
        .map(s => (s.poly: Geometry, polys(s.id + 1).poly: Geometry)),
      distance = probePts.map(p => (p: Geometry, polys(kr.nextInt(polys.length)).poly: Geometry)),
      buffer = sample(polys, 64, kr).map(_.poly: Geometry),
      bufferDistance = 0.05 * cell)
    Prepared(queries, s"$dir/points", kernel)
  }

  /** Haversine truth for the sphere join, computed on the driver with the
    * engine's own haversine kernel but with a different candidate search:
    * a latitude-sorted sweep instead of the padded grid join.
    */
  private def sphereTruth(pts: Inputs.PointSet, field: Inputs.StarField): (Long, Long) = {
    val cs = field.stars.map(s => (lat(s.cy), lon(s.cx), s.id)).sortBy(_._1)
    val lats = cs.map(_._1)
    val padLat = SphereMeters / (math.Pi * 6371008.8 / 180.0) * 1.01
    var n = 0L
    var s = 0L
    var i = 0
    while (i < pts.size) {
      val plon = lon(pts.x(i))
      val plat = lat(pts.y(i))
      var j = lowerBound(lats, plat - padLat)
      while (j < cs.length && cs(j)._1 <= plat + padLat) {
        val (clat, clon, cid) = cs(j)
        if (graft.sql.Crs.sphereDistance(plon, plat, clon, clat) <= SphereMeters) {
          n += 1
          s += pairKey(i.toLong, cid.toLong)
        }
        j += 1
      }
      i += 1
    }
    (n, s)
  }

  private def lowerBound(a: Array[Double], v: Double): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (a(m) < v) lo = m + 1 else hi = m
    }
    lo
  }
}

/** GeoParquet writes beside pruned reads, a broadcast-indexed SQL join and
  * a union-heavy dissolve.
  */
object EtlGeoParquet {
  val Size = 100.0
  val Points = 100000
  val HotSpots = Seq((30.0, 40.0), (64.0, 70.0), (75.0, 25.0))
  val Sigma = 4.0
  val HotShare = 0.6
  val RegionLattice = 8
  // ~0.1%, ~1% and ~10% of the domain's area
  val Windows = Seq(Envelope(12.3, 57.1, 15.46, 60.26), Envelope(40.7, 12.9, 50.7, 22.9),
    Envelope(55.3, 44.1, 86.92, 75.72))
  val ParcelCols = 120
  val ParcelRows = 80
  val RegionCols = 10
  val RegionRows = 5
  val TagSql: String =
    """SELECT r.rid, count(*) AS n
      |FROM bench_points p JOIN bench_regions r ON st_contains(r.geometry, p.geometry)
      |GROUP BY r.rid""".stripMargin

  def setup(spark: SparkSession, dir: String, rng: SplittableRandom): Prepared = {
    val field = new Inputs.StarField(RegionLattice, RegionLattice, Size, 400, 1200, rng)
    val pts = Inputs.skewedPoints(Points, Size, HotSpots, Sigma, HotShare, field, rng)
    val parcels = Inputs.parcels(ParcelCols, ParcelRows, RegionCols, RegionRows, Size, rng)

    val pSchema = StructType(Seq(StructField("pid", LongType), StructField("x", DoubleType),
      StructField("y", DoubleType), StructField("geometry", BinaryType)))
    writeGeoParquet(spark, (0 until pts.size).map(i =>
      Row(i.toLong, pts.x(i), pts.y(i), Inputs.pointWkb(pts.x(i), pts.y(i)))),
      pSchema, s"$dir/points")
    val rSchema = StructType(Seq(StructField("rid", IntegerType), StructField("geometry", BinaryType)))
    writeParquet(spark, field.stars.toSeq.map(s => Row(s.id, Wkb.write(s.poly))), rSchema,
      s"$dir/regions")
    val qSchema = StructType(Seq(StructField("parcel", IntegerType),
      StructField("region", IntegerType), StructField("geometry", BinaryType)))
    writeGeoParquet(spark, parcels.polys.indices.map(i =>
      Row(i, parcels.region(i), Wkb.write(parcels.polys(i)))), qSchema, s"$dir/parcels")
    spark.read.parquet(s"$dir/points").createOrReplaceTempView("bench_points")
    spark.read.parquet(s"$dir/regions").createOrReplaceTempView("bench_regions")

    // window truth from a second code path: plain range filters on x/y
    val raw = spark.read.parquet(s"$dir/points")
    val windowTruth = Windows.map { w =>
      raw.filter(col("x").between(w.minX, w.maxX) && col("y").between(w.minY, w.maxY)).count()
    }
    // tag truth by construction
    val perRegion = new Array[Long](field.stars.length)
    pts.matchOf.foreach(m => if (m >= 0) perRegion(m) += 1)
    val tagRows = perRegion.count(_ > 0).toLong
    val tagSum = perRegion.sum
    val tagWeighted = perRegion.indices.map(r => r.toLong * perRegion(r)).sum
    val areaOf = typedLit(parcels.regionArea.indices.map(r => r -> parcels.regionArea(r)).toMap)
    val written = s"$dir/written"

    val queries = Seq(
      Query("write", ctx => {
        val g = ctx.call("GeoParquetIO.read")(GeoParquetIO.read(spark, s"$dir/points"))
        val s = ctx.call("spatialShuffle")(g.spatialShuffle("hilbert", numPartitions = Some(16)))
        ctx.execute("GeoParquetIO.write")(GeoParquetIO.write(s, written, covering = true))
        Answer(pts.size.toLong, () =>
          expect("rows written", spark.read.parquet(written).count(), pts.size.toLong))
      }),
      Query("window_read", ctx => {
        val g = ctx.call("GeoParquetIO.read")(GeoParquetIO.read(spark, written))
        val df = ctx.call("cx")(Windows.zipWithIndex.map { case (w, i) =>
          g.cx(w.minX, w.minY, w.maxX, w.maxY).df.select(lit(i).as("w"), col("x"))
        }.reduce(_ unionByName _).groupBy(col("w")).agg(count(lit(1)).as("n"), sum(col("x")).as("sx")))
        val r = ctx.force(df, Windows.indices.map(i => coalesce(sum(when(col("w") === i, col("n"))), lit(0L))): _*)
        Answer(Windows.indices.map(r.getLong).sum, () => firstError(Windows.indices.map(i =>
          expect(s"window $i rows", r.getLong(i), windowTruth(i))): _*))
      }),
      Query("tag", ctx => {
        val df = ctx.call("spark.sql")(spark.sql(TagSql))
        val r = ctx.force(df, count(lit(1)), sum(col("n")), sum(col("rid").cast(LongType) * col("n")))
        Answer(r.getLong(1), () => firstError(
          expect("tag regions", r.getLong(0), tagRows),
          expect("tag points", r.getLong(1), tagSum),
          expect("tag checksum", r.getLong(2), tagWeighted)))
      }),
      Query("dissolve", ctx => {
        val g = ctx.call("GeoParquetIO.read")(GeoParquetIO.read(spark, s"$dir/parcels"))
        val df = ctx.call("dissolve")(g.dissolve(Seq("region"))).df
        val want = element_at(areaOf, col("region"))
        val r = ctx.force(df, count(lit(1)),
          max(abs(graft.sql.functions.st_area(col("geometry")) - want) / want))
        Answer(r.getLong(0), () => firstError(
          expect("dissolved regions", r.getLong(0), parcels.regionArea.length.toLong),
          if (r.getDouble(1) <= 1e-9) None
          else Some(s"dissolve area off by a relative ${r.getDouble(1)}")))
      }))

    val kr = new SplittableRandom(rng.nextLong())
    val probePts = (0 until 512).map { _ =>
      val j = kr.nextInt(pts.size)
      Point(pts.x(j), pts.y(j))
    }
    val adjacent = parcels.polys.indices.filter(i => i % ParcelCols < ParcelCols - 1)
    val kernel = KernelProbe.Sample(
      wkb = sample(parcels.polys.toIndexedSeq, 256, kr).map(p => Wkb.write(p)) ++
        sample(field.stars.toIndexedSeq, 8, kr).map(s => Wkb.write(s.poly)) ++
        probePts.map(p => Wkb.write(p)),
      pip = probePts.map(p => (p: Geometry, field.stars(field.cellOf(p.x, p.y)).poly: Geometry)),
      union = sample(adjacent, 256, kr).map(i => (parcels.polys(i): Geometry, parcels.polys(i + 1): Geometry)),
      distance = probePts.map(p => (p: Geometry,
        parcels.polys(kr.nextInt(parcels.polys.length)): Geometry)),
      buffer = sample(parcels.polys.toIndexedSeq, 64, kr).map(p => p: Geometry),
      bufferDistance = 0.1 * Size / ParcelCols)
    Prepared(queries, s"$dir/points", kernel)
  }
}

