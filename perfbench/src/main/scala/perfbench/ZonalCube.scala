package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.zonal.{Cube, Raster, Zarr, Zonal}

/** A seeded integer-valued raster: a smooth field plus hashed noise, so
  * the codecs see realistic, not constant, data. Values are 20..443.
  */
final class SeededRaster(val size: Int, seed: Long) {
  private val r = new java.util.Random(seed)
  private def table(n: Int, period: Double, f: Double => Double) = {
    val phase = r.nextDouble() * 2 * math.Pi
    Array.tabulate(n)(i => f(2 * math.Pi * i / period + phase))
  }
  private val sx = table(size, size / (1.5 + r.nextDouble() * 3), math.sin)
  private val cy = table(size, size / (1.5 + r.nextDouble() * 3), math.cos)
  private val sxy = table(2 * size, size / (4 + r.nextDouble() * 8), math.sin)
  private val mix = r.nextInt()

  def value(x: Int, y: Int): Int = {
    var h = x * 0x9E3779B1 + y * 0x85EBCA77 + mix
    h ^= h >>> 15; h *= 0x2C1B3C6D; h ^= h >>> 12
    200 + math.floor(120 * sx(x) * cy(y) + 60 * sxy(x + y)).toInt + (h & 63)
  }

  /** Row-major values, built once for the writers and the references. */
  lazy val cells: Array[Int] = {
    val a = new Array[Int](size * size)
    var y = 0
    while (y < size) {
      var x = 0
      while (x < size) { a(y * size + x) = value(x, y); x += 1 }
      y += 1
    }
    a
  }
}

/** One zone: an outer star-shaped ring (vertices at jittered, increasing
  * angles, so the ring is simple) and, for every third zone, a diamond
  * hole around its centre. Integer vertices, as `point_in_wkb` expects.
  */
final case class ZoneGeom(id: Int, rings: Seq[Seq[(Int, Int)]]) {
  val xmin: Int = rings.head.map(_._1).min
  val xmax: Int = rings.head.map(_._1).max
  val ymin: Int = rings.head.map(_._2).min
  val ymax: Int = rings.head.map(_._2).max
}

object ZoneGeom {
  /** Zone sizes come from this fixed seed and positions and shapes from
    * the run's seed, so every seed covers about the same number of cells:
    * seeded sizes moved the envelope cells from 1.18 to 1.43 times the
    * raster, and the rasterize ops' work with them.
    */
  val SizeSeed = 0x20E5L

  def generate(n: Int, size: Int, seed: Long): Seq[ZoneGeom] = {
    val sizes = new java.util.Random(SizeSeed)
    val r = new java.util.Random(seed ^ 0x5DEECE66DL)
    (0 until n).map { id =>
      val w = size / 64 + sizes.nextInt(size / 6 - size / 64)
      val h = size / 64 + sizes.nextInt(size / 6 - size / 64)
      val x0 = r.nextInt(size - w)
      val y0 = r.nextInt(size - h)
      val (cx, cy) = (x0 + w / 2, y0 + h / 2)
      val k = 5 + r.nextInt(8)
      val outer = (0 until k).map { i =>
        val a = 2 * math.Pi * (i + 0.5 * r.nextDouble()) / k
        val rad = 0.55 + 0.45 * r.nextDouble()
        (cx + math.round(w / 2.0 * rad * math.cos(a)).toInt,
          cy + math.round(h / 2.0 * rad * math.sin(a)).toInt)
      }
      val hole = Seq((cx - w / 8, cy), (cx, cy - h / 8), (cx + w / 8, cy), (cx, cy + h / 8))
      ZoneGeom(id, if (id % 3 == 0) Seq(outer, hole) else Seq(outer))
    }
  }
}

/** `zonal_cube`: zonal statistics over a seeded raster of 4.2M
  * cells stored once as zlib Zarr v2 and once as Deflate tiled GeoTIFF,
  * both read through their DSv2 faces. Per-cell work (decode, tile
  * join, point-in-polygon, aggregation) is most of every op.
  */
object ZonalCube extends Workload {
  val name = "zonal_cube"
  val Size = 2048
  val Chunk = 512
  val NZones = 256
  /** Histogram class of a value. */
  val ClassWidth = 64

  val Formats = Seq("zarr", "tiff")

  /** The envelope and WKB zone tables of this run, for [[layers]]. */
  private var zoneFrames: Option[(DataFrame, DataFrame)] = None

  def reader(ctx: Ctx, fmt: String): DataFrame = ctx.span("zonal.read") {
    fmt match {
      case "zarr" => ctx.spark.read.format("graft.zonal.ZarrSource").load(s"${ctx.inputDir}/cube.zarr")
      case "tiff" => ctx.spark.read.format("graft.zonal.TiffSource").load(s"${ctx.inputDir}/cube.tif")
    }
  }

  /** Driver-side references over each zone's envelope. */
  final case class EnvRef(count: Long, sum: Long, hist: Map[Int, Long])

  def envRefs(raster: SeededRaster, zones: Seq[ZoneGeom]): Map[Int, EnvRef] = {
    val a = raster.cells
    val n = raster.size
    zones.map { z =>
      var s = 0L
      val hist = new Array[Long](1024 / ClassWidth)
      var y = z.ymin
      while (y <= z.ymax) {
        var x = z.xmin
        while (x <= z.xmax) { val v = a(y * n + x); s += v; hist(v / ClassWidth) += 1; x += 1 }
        y += 1
      }
      val cnt = (z.xmax - z.xmin + 1).toLong * (z.ymax - z.ymin + 1)
      z.id -> EnvRef(cnt, s, hist.zipWithIndex.collect { case (c, k) if c > 0 => k -> c }.toMap)
    }.toMap
  }

  /** Driver-side polygon reference: count, sum, min and max of the
    * envelope cells inside the zone's closed rings.
    */
  final case class PolyRef(count: Long, sum: Long, min: Double, max: Double)

  /** The edges `(x0, y0, x1, y1)` of `rings` (open vertex lists), each
    * ring closed.
    */
  def edges(rings: Seq[Seq[(Int, Int)]]): Array[(Long, Long, Long, Long)] =
    rings.flatMap(r => r.zip(r.tail :+ r.head).map { case ((x0, y0), (x1, y1)) =>
      (x0.toLong, y0.toLong, x1.toLong, y1.toLong)
    }).toArray

  /** Even-odd containment of the integer point (px, py): crossing
    * parity with the half-open edge rule and exact integer arithmetic
    * that `point_in_wkb` documents.
    */
  def inside(px: Long, py: Long, es: Array[(Long, Long, Long, Long)]): Boolean = {
    var crossings = 0
    var i = 0
    while (i < es.length) {
      val (x0, y0, x1, y1) = es(i)
      if ((y0 > py) != (y1 > py)) {
        val dy = y1 - y0
        val cross = (x1 - x0) * (py - y0) - (px - x0) * dy
        if ((dy > 0 && cross > 0) || (dy < 0 && cross < 0)) crossings += 1
      }
      i += 1
    }
    (crossings & 1) == 1
  }

  /** [[PolyRef]] per zone with at least one cell inside. */
  def polyRefs(raster: SeededRaster, zones: Seq[ZoneGeom]): Map[Int, PolyRef] = {
    val a = raster.cells
    zones.flatMap { z =>
      val es = edges(z.rings)
      var (n, s, lo, hi) = (0L, 0L, Int.MaxValue, Int.MinValue)
      for (y <- z.ymin to z.ymax; x <- z.xmin to z.xmax if inside(x, y, es)) {
        val v = a(y * raster.size + x)
        n += 1; s += v; lo = math.min(lo, v); hi = math.max(hi, v)
      }
      if (n == 0) None else Some(z.id -> PolyRef(n, s, lo, hi))
    }.toMap
  }

  def setup(ctx: Ctx): Seq[Op] = {
    val spark = ctx.spark
    val raster = new SeededRaster(Size, ctx.args.seed)
    val zones = ZoneGeom.generate(NZones, Size, ctx.args.seed)
    ctx.span("input.raster") {
      raster.cells
      val f = (x: Int, y: Int) => raster.cells(y * Size + x).toDouble
      // the two single-threaded writers run side by side
      val tiff = new Thread(() => Raster.writeTiffOpts(s"${ctx.inputDir}/cube.tif", Size, Size,
        Chunk, Chunk, Raster.WriteOpts(compression = 8))(f))
      tiff.start()
      new java.io.File(ctx.inputDir).mkdirs()
      Zarr.writeZarr(s"${ctx.inputDir}/cube.zarr", Size, Size, Chunk, Chunk, "zlib")(f)
      tiff.join()
    }
    val refs = envRefs(raster, zones)
    val env = spark.createDataFrame(zones.map(z => Row(z.id, z.xmin, z.xmax, z.ymin, z.ymax)).asJava,
      StructType(Seq("zone_id", "xmin", "xmax", "ymin", "ymax").map(StructField(_, IntegerType))))
    // WKB geometry through the engine's own make_wkb, built once
    graft.ext.Ext.register(spark)
    val verts = for (z <- zones; (ring, ri) <- z.rings.zipWithIndex; ((x, y), i) <- ring.zipWithIndex)
      yield Row(z.id, 0, ri, i, x, y)
    val geoms = spark.createDataFrame(verts.asJava,
        StructType(Seq("zone_id", "part", "ring", "i", "vx", "vy").map(StructField(_, IntegerType))))
      .groupBy("zone_id")
      .agg(expr("make_wkb(sort_array(collect_list(struct(part, ring, i, vx, vy))))").as("geom"))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    val wkb = spark.createDataFrame(
      zones.map(z => Row(z.id, z.xmin, z.xmax, z.ymin, z.ymax, geoms(z.id))).asJava,
      StructType(Seq("zone_id", "xmin", "xmax", "ymin", "ymax").map(StructField(_, IntegerType)) :+
        StructField("geom", BinaryType)))
    zoneFrames = Some((env, wkb))
    // fixture first touch: both stores' metadata
    Formats.foreach(f => reader(ctx, f).schema)

    val polys = polyRefs(raster, zones)
    Formats.flatMap { f =>
      Seq(
        Op(s"env_stats.$f", "zonal", "zonal", () => {
          val got = ctx.span("engine.action") {
            Zonal.stats(reader(ctx, f), env).select("zone_id", "n_cells", "sum_v").collect()
          }
          _ => {
            val bad = got.filter { r =>
              val e = refs(r.getInt(0))
              r.getLong(1) != e.count || BigDecimal(r.get(2).toString) != BigDecimal(e.sum)
            }
            if (got.length == refs.size && bad.isEmpty) None
            else Some(s"${got.length} zones, ${bad.length} differ from the envelope reference")
          }
        }),
        Op(s"poly_stats.$f", "zonal", "zonal", () => {
          val got = ctx.span("engine.action") {
            Cube.rasterize(reader(ctx, f), wkb)
              .filter(expr("point_in_wkb(cell_x, cell_y, geom)"))
              .groupBy("zone_id")
              .agg(count(lit(1)), sum(col("value").cast("long")), min("value"), max("value"))
              .collect()
          }
          _ => {
            val bad = got.filter { r =>
              polys.get(r.getInt(0)).forall(e => PolyRef(r.getLong(1), r.getLong(2),
                r.getAs[Number](3).doubleValue, r.getAs[Number](4).doubleValue) != e)
            }
            if (got.length == polys.size && bad.isEmpty) None
            else Some(s"${got.length} zones, ${bad.length} differ from the polygon reference")
          }
        }),
        Op(s"class_hist.$f", "zonal", "zonal", () => {
          val got = ctx.span("engine.action") {
            Cube.rasterize(reader(ctx, f), env)
              .groupBy(col("zone_id"), (col("value") / ClassWidth).cast("int").as("cls"))
              .count().collect()
          }
          _ => {
            val want = refs.toSeq.flatMap { case (z, e) => e.hist.map { case (k, c) => (z, k, c) } }.toSet
            if (got.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet == want) None
            else Some("class histogram differs from the envelope reference")
          }
        }))
    }
  }

  override def summary(timed: Seq[OpResult]): Seq[(String, Double, String, Int)] =
    Seq(("zonal_cells_per_s", Size.toDouble * Size * timed.size / timed.map(_.seconds).sum,
      "1/s", timed.size))

  private def timeIt[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def layers(ctx: Ctx, rs: Seq[OpResult]): Map[String, Double] = {
    val cells = Size.toDouble * Size
    val (env, wkb) = zoneFrames.get
    val decode = Formats.map(f => timeIt(reader(ctx, f).agg(sum("value")).head())._2)
    val decodeS = decode.sum / decode.size
    val rast = Formats.map(f => timeIt(Cube.rasterize(reader(ctx, f), env).count()))
    val rastS = rast.map(_._2).sum / rast.size
    val rows = rast.head._1.toDouble
    val envOps = rs.filter(_.op.id.startsWith("env_stats."))
    // cells passing point_in_wkb ÷ cells the tile join offered it
    val pip = Cube.rasterize(reader(ctx, "zarr"), wkb)
      .agg(count(lit(1)), count(when(expr("point_in_wkb(cell_x, cell_y, geom)"), 1)))
      .head()
    Map(
      "zonal.cells_per_s" -> summary(rs).head._2,
      "zonal.decode_s" -> decodeS,
      "zonal.decode_cells_per_s" -> cells / decodeS,
      "zonal.codec_mb_per_s" -> codecMbPerS(s"${ctx.inputDir}/cube.tif"),
      "zonal.rasterize_s" -> (rastS - decodeS),
      "zonal.rasterize_rows" -> rows,
      "zonal.rows_per_cell" -> rows / cells,
      "zonal.pip_pass_ratio" -> pip.getLong(1).toDouble / pip.getLong(0),
      "zonal.aggregate_s" -> (envOps.map(_.seconds).sum / envOps.size - rastS))
  }

  /** Single-threaded decode of the GeoTIFF's first 16 tiles through the
    * public `Raster.decodeTile`, in MB of decoded samples per second.
    */
  def codecMbPerS(path: String): Double = {
    val m = Raster.readMeta(path)
    val n = math.min(16, m.tileOffsets.length)
    val raf = new java.io.RandomAccessFile(path, "r")
    val tiles = try (0 until n).map { i =>
      val b = new Array[Byte](m.tileByteCounts(i).toInt)
      raf.seek(m.tileOffsets(i)); raf.readFully(b)
      val ref = Raster.TileRef(path, m.tileOffsets(i), m.tileByteCounts(i),
        tx0 = (i % m.tilesAcross) * m.tileW, ty0 = (i / m.tilesAcross) * m.tileH,
        width = m.width, height = m.height, tileW = m.tileW, tileH = m.tileH,
        bits = m.bits, sampleFormat = m.sampleFormat, bigEndian = m.bigEndian, bands = m.bands,
        compression = m.compression, predictor = m.predictor)
      (b, ref)
    } finally raf.close()
    var sink = 0.0
    val (_, secs) = timeIt(tiles.foreach { case (b, ref) => Raster.decodeTile(b, ref).foreach(sink += _._3) })
    if (sink < 0) println(sink) // keep the decode observable
    n.toDouble * m.tileW * m.tileH * m.bits / 8 / 1e6 / secs
  }
}
