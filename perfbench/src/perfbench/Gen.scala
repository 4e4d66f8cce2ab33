package perfbench

import java.nio.file.{Files, Path}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.WKBWriter

/**
 * Seeded input generator. Every value is a pure function of (seed, id), so
 * the same seed gives the same tables whatever the partitioning, and the
 * checks can recompute any row without reading what the
 * program wrote.
 *
 * Page points lie on a milli-degree grid. Polygon vertices are irrational
 * offsets from their centres, so no point lies on a polygon boundary and
 * the exact predicates and the independent ray-casting test agree.
 */
object Gen {
  /** Page points (the join workloads) and, of those, the first pages whose
    * full rows form the page table (the layout workload). */
  val Pages = 1000000L
  val LayoutPages = 500000
  val PageFiles = 8

  /** Three city clusters (centre lon, centre lat, share of pages): about
    * 30% of all pages, unequal so the largest city is hot at several cell
    * levels. Each cluster spans 1 x 1 degree. */
  val Cities: Array[(Double, Double, Double)] = Array(
    (-74.0, 40.7, 0.14), (2.35, 48.85, 0.10), (139.7, 35.7, 0.06))
  val CityLang = Array("en", "fr", "ja")
  val Langs = Array("en", "de", "fr", "es", "ja", "pt", "it", "zh")
  /** Crawl window: 30 days from 2024-01-01T00:00:00Z. */
  val TsBase = 1704067200L
  val TsSpan = 30L * 86400L
  val TaggedPercent = 90
  /** Six-letter words of one fixed length: a `%word%` LIKE pattern matches
    * exactly the pages that hold that word. */
  val Words: Array[String] = {
    val cons = "bdfgklmnprstvz"; val vows = "aeiou"
    (0 until 64).map { i =>
      val a = i * 7 + 3
      Seq(cons(a % 14), vows(a / 14 % 5), cons((a / 3 + i) % 14),
        vows((i + 2) % 5), cons((i * 5 + 1) % 14), vows(i / 13 % 5)).mkString
    }.distinct.toArray
  }
  val WordsPerPage = 8

  // ---- seeded hashing (SplitMix64 finaliser) ----
  @inline def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  @inline def rnd(seed: Long, id: Long, stream: Int): Long =
    mix(mix(seed * 0x9e3779b97f4a7c15L + stream) + id)
  @inline def unit(seed: Long, id: Long, stream: Int): Double =
    (rnd(seed, id, stream) >>> 11) * (1.0 / (1L << 53))
  @inline def below(seed: Long, id: Long, stream: Int, n: Int): Int =
    java.lang.Long.remainderUnsigned(rnd(seed, id, stream), n.toLong).toInt
  /** Fraction in [0, 1) spread evenly over the indexes `i` and the same for
    * every seed (golden-ratio sequence): polygon sizes and vertex counts use
    * it, so a seed moves shapes but keeps the total area, and the work of a
    * round varies little from seed to seed. */
  @inline def spread(i: Long): Double = frac(i * 0.6180339887498949)
  @inline def frac(x: Double): Double = x - math.floor(x)

  /** City index of a page point, or -1 for the uniform background. */
  def cityOf(seed: Long, id: Long): Int = {
    val u = unit(seed, id, 1)
    var acc = 0.0; var i = 0
    while (i < Cities.length) {
      acc += Cities(i)._3
      if (u < acc) return i
      i += 1
    }
    -1
  }

  /** Milli-degree (lon, lat) of a page point drawn from the page
    * distribution. */
  def milli(seed: Long, id: Long): (Int, Int) = place(seed, id, cityOf(seed, id))

  /** Milli-degree point for key `k`: in city `c` (triangular profile,
    * denser towards the centre), or uniform when `c` is -1. */
  private def place(seed: Long, k: Long, c: Int): (Int, Int) =
    if (c < 0) (below(seed, k, 2, 360000) - 180000, below(seed, k, 3, 170000) - 85000)
    else {
      val (lon, lat, _) = Cities(c)
      val dx = (below(seed, k, 2, 1000) + below(seed, k, 4, 1000)) / 2 - 500
      val dy = (below(seed, k, 3, 1000) + below(seed, k, 5, 1000)) / 2 - 500
      (math.round(lon * 1000).toInt + dx, math.round(lat * 1000).toInt + dy)
    }

  def tagged(seed: Long, id: Long): Boolean = below(seed, id, 6, 100) < TaggedPercent
  def tsSec(seed: Long, id: Long): Long = TsBase + java.lang.Long.remainderUnsigned(rnd(seed, id, 7), TsSpan)
  def lang(seed: Long, id: Long): String = {
    val c = cityOf(seed, id)
    if (c >= 0 && below(seed, id, 8, 10) < 7) CityLang(c) else Langs(below(seed, id, 9, Langs.length))
  }
  def wordIdx(seed: Long, id: Long, j: Int): Int = below(seed, id, 20 + j, Words.length)
  def text(seed: Long, id: Long): String =
    (0 until WordsPerPage).map(j => Words(wordIdx(seed, id, j))).mkString(" ")

  /** Exact 3-decimal rendering of a milli-degree value ("-12.045"). */
  def milliStr(m: Int): String = {
    val a = math.abs(m); val f = a % 1000
    val frac = if (f >= 100) f.toString else if (f >= 10) "0" + f else "00" + f
    (if (m < 0) "-" else "") + (a / 1000) + "." + frac
  }

  def html(seed: Long, id: Long, lonM: Int, latM: Int, txt: String): String = {
    val tag = if (tagged(seed, id))
      s"""<meta name="geo.position" content="${milliStr(latM)};${milliStr(lonM)}">""" else ""
    s"<html><head><title>page $id</title>$tag</head><body><p>$txt</p></body></html>"
  }

  val PointSchema: StructType = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("lon", DoubleType), StructField("lat", DoubleType), StructField("geom", BinaryType)))

  val PageSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType), StructField("text", StringType),
    StructField("lang", StringType)))

  // ---- polygons ----
  private val gf = new GeometryFactory()

  /** Star-shaped polygon around (cx, cy): `n` vertices at jittered angles,
    * radii in [0.6 r, r]. Star-shaped about its centre, hence simple. */
  def star(seed: Long, id: Long, stream: Int, cx: Double, cy: Double, r: Double, n: Int): Array[Coordinate] = {
    val cs = new Array[Coordinate](n + 1)
    var i = 0
    while (i < n) {
      val a = 2 * math.Pi * (i + 0.8 * unit(seed, id * 4096 + i, stream)) / n
      val rr = r * (0.6 + 0.4 * unit(seed, id * 4096 + i, stream + 1))
      cs(i) = new Coordinate(cx + rr * math.cos(a), cy + rr * 0.75 * math.sin(a))
      i += 1
    }
    cs(n) = cs(0)
    cs
  }

  final case class Poly(id: Long, level: Int, ring: Array[Coordinate], cx: Double, cy: Double) {
    lazy val xmin: Double = ring.map(_.x).min
    lazy val xmax: Double = ring.map(_.x).max
    lazy val ymin: Double = ring.map(_.y).min
    lazy val ymax: Double = ring.map(_.y).max
    def wkb: Array[Byte] = new WKBWriter(2).write(gf.createPolygon(ring))
  }

  private def clampLat(y: Double) = math.max(-80.0, math.min(80.0, y))
  private def clampLon(x: Double) = math.max(-175.0, math.min(175.0, x))

  /** Broadcast-sized region set: 600 many-vertex polygons (fewer than the
    * engine's 1,024-entry prepared-geometry cache), 10% over the cities. */
  def regions(seed: Long): Array[Poly] = (0 until 600).map { i =>
    val id = i.toLong
    val n = 48 + (spread(id + 7) * 97).toInt
    if (i % 10 == 0) {
      // spread evenly over the city (R2 sequence) with a small seeded
      // jitter, so the pages they hold vary little from seed to seed
      val (lon, lat, _) = Cities(i / 10 % 3)
      val m = i / 30 + 1
      val cx = lon + (frac(0.5 + m * 0.7548776662466927) - 0.5) * 1.2 + (unit(seed, id, 41) - 0.5) * 0.02
      val cy = lat + (frac(0.5 + m * 0.5698402909980532) - 0.5) * 1.2 + (unit(seed, id, 42) - 0.5) * 0.02
      Poly(id, 0, star(seed, id, 43, cx, cy, 0.02 + 0.1 * spread(id), n), cx, cy)
    } else {
      val cx = clampLon(unit(seed, id, 41) * 360 - 180)
      val cy = clampLat(unit(seed, id, 42) * 160 - 80)
      Poly(id, 0, star(seed, id, 43, cx, cy, 0.5 + 3.0 * spread(id), n), cx, cy)
    }
  }.toArray

  /** Nested region set (country -> province -> district): 30 countries,
    * 12 provinces each, 40,000 districts; 5% of the districts are small
    * ones packed over the cities, the densest part of the set. Far more
    * polygons than the prepared-geometry cache holds. */
  def nested(seed: Long): Array[Poly] = {
    val out = Array.newBuilder[Poly]
    var next = 0L
    val countries = (0 until 30).map { i =>
      val id = next; next += 1
      val (cx, cy) =
        if (i < 3) (Cities(i)._1 + (unit(seed, id, 50) - 0.5) * 4, Cities(i)._2 + (unit(seed, id, 51) - 0.5) * 3)
        else (clampLon(unit(seed, id, 50) * 340 - 170), clampLat(unit(seed, id, 51) * 140 - 70))
      val r = 6.0 + 3.0 * spread(id)
      val p = Poly(id, 0, star(seed, id, 53, cx, cy, r, 96), cx, cy)
      out += p
      (p, r)
    }
    val provinces = countries.flatMap { case (c, cr) =>
      (0 until 12).map { j =>
        val id = next; next += 1
        val ang = 2 * math.Pi * unit(seed, id, 60)
        val d = 0.35 * cr * unit(seed, id, 61)
        val cx = c.cx + d * math.cos(ang); val cy = c.cy + 0.75 * d * math.sin(ang)
        val r = cr * (0.12 + 0.1 * spread(id))
        val p = Poly(id, 1, star(seed, id, 63, cx, cy, r, 32), cx, cy)
        out += p
        (p, r)
      }
    }
    (0 until 40000).foreach { k =>
      val id = next; next += 1
      if (k % 20 == 0) {
        // neighbourhood-scale districts over the cities
        val (lon, lat, _) = Cities(k % 3)
        val cx = lon + (unit(seed, id, 70) - 0.5) * 1.2
        val cy = lat + (unit(seed, id, 71) - 0.5) * 1.2
        out += Poly(id, 2, star(seed, id, 73, cx, cy, 0.005 + 0.015 * spread(id), 24), cx, cy)
      } else {
        val (p, pr) = provinces(k % provinces.length)
        val ang = 2 * math.Pi * unit(seed, id, 70)
        val d = 0.4 * pr * unit(seed, id, 71)
        val cx = p.cx + d * math.cos(ang); val cy = p.cy + 0.75 * d * math.sin(ang)
        out += Poly(id, 2, star(seed, id, 73, cx, cy, pr * (0.05 + 0.1 * spread(id)), 24), cx, cy)
      }
    }
    out.result()
  }

  val PolySchema: StructType = StructType(Seq(
    StructField("poly_id", LongType, nullable = false), StructField("level", IntegerType),
    StructField("geom", BinaryType), StructField("xmin", DoubleType), StructField("ymin", DoubleType),
    StructField("xmax", DoubleType), StructField("ymax", DoubleType),
    StructField("clon", DoubleType), StructField("clat", DoubleType)))

  // ---- kNN query points: drawn from the page distribution ----
  val KnnQueries = 150
  val QuerySchema: StructType = StructType(Seq(StructField("qid", LongType, nullable = false),
    StructField("qlon", DoubleType), StructField("qlat", DoubleType)))
  /** Query points follow the page distribution, stratified so that every
    * seed has the same number in each city: 15%, 10% and 5% of the queries. */
  def queryMilli(seed: Long, qid: Long): (Int, Int) = {
    val slot = (qid % 20).toInt
    place(seed, qid + 0x100000000L, if (slot < 3) 0 else if (slot < 5) 1 else if (slot < 6) 2 else -1)
  }

  // ---- cached tables ----

  /** Paths of the generated tables for one seed. */
  final case class Tables(dir: Path) {
    def pages: String = dir.resolve("pages.parquet").toString
    def points: String = dir.resolve("points.parquet").toString
    def regions: String = dir.resolve("regions.parquet").toString
    def nested: String = dir.resolve("nested.parquet").toString
    def queries: String = dir.resolve("knn_queries.parquet").toString
    def truth: String = dir.resolve("truth.parquet").toString
  }

  /** Seeds whose tables stay cached; older ones are removed. */
  val CachedSeeds = 12

  /** The tables a workload reads. */
  def inputs(workload: String): Seq[String] = workload match {
    case "pip_broadcast" => Seq("points", "regions")
    case "skew_shuffle" => Seq("points", "nested", "knn_queries")
    case "layout_query" => Seq("pages")
  }

  /** The tables `names` for `seed`, which [[Generate]] must have written. */
  def cached(cacheRoot: Path, seed: Long, names: Seq[String]): Tables = {
    val t = Tables(cacheRoot.resolve(s"seed-$seed"))
    val missing = names.filterNot(n => Files.isDirectory(t.dir.resolve(s"$n.parquet")))
    require(missing.isEmpty, s"inputs ${missing.mkString(", ")} for seed $seed are not generated")
    t
  }

  /** Generate (or reuse) the tables `names` for `seed` under `cacheRoot`.
    * Each table is written under a private name and moved into place in one
    * step, so a table on disk is always complete. */
  def ensure(cacheRoot: Path, seed: Long, names: Seq[String]): Tables = {
    val t = Tables(cacheRoot.resolve(s"seed-$seed"))
    if (!Files.isDirectory(t.dir)) prune(cacheRoot)
    Files.createDirectories(t.dir)
    Files.setLastModifiedTime(t.dir, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis))
    val missing = (names :+ "truth").distinct.filterNot(n => Files.exists(t.dir.resolve(s"$n.parquet")))
    missing.foreach { name =>
      val tmp = t.dir.resolve(s"$name.tmp-${ProcessHandle.current.pid}")
      val t0 = System.nanoTime()
      write(seed, name, tmp)
      Main.progress(s"$name written in ${Main.secsSince(t0)} s")
      try Files.move(tmp, t.dir.resolve(s"$name.parquet"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException | _: java.nio.file.DirectoryNotEmptyException => Main.deleteTree(tmp) }
    }
    t
  }

  private def write(seed: Long, name: String, dir: Path): Unit = {
    val s = seed
    name match {
      case "pages" => Parquet.write(dir, PageSchema, LayoutPages, PageFiles) { id =>
        val (lonM, latM) = milli(s, id)
        val txt = text(s, id)
        Array(id, s"https://site${below(s, id, 10, 5000)}.example/p/$id", tsSec(s, id) * 1000000L,
          html(s, id, lonM, latM, txt).getBytes("UTF-8"), txt, lang(s, id))
      }
      case "points" =>
        Parquet.write(dir, PointSchema, Pages, PageFiles) { id =>
          val (lonM, latM) = milli(s, id)
          val lon = lonM / 1000.0; val lat = latM / 1000.0
          Array(id, lon, lat, new WKBWriter(2).write(gf.createPoint(new Coordinate(lon, lat))))
        }
      // truth table: what the checks compare against; the program never reads it
      case "truth" =>
        val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("lon", DoubleType), StructField("lat", DoubleType)))
        Parquet.write(dir, schema, Pages, PageFiles) { id =>
          val (lonM, latM) = milli(s, id)
          Array(id, lonM / 1000.0, latM / 1000.0)
        }
      case "regions" => writePolys(dir, regions(seed), 1)
      case "nested" => writePolys(dir, nested(seed), 4)
      case "knn_queries" =>
        Parquet.write(dir, QuerySchema, KnnQueries, 1) { q =>
          val (lonM, latM) = queryMilli(seed, q)
          Array(q, lonM / 1000.0, latM / 1000.0)
        }
    }
  }

  private def writePolys(dir: Path, ps: Array[Poly], files: Int): Unit =
    Parquet.write(dir, PolySchema, ps.length, files) { i =>
      val p = ps(i.toInt)
      Array(p.id, p.level, p.wkb, p.xmin, p.ymin, p.xmax, p.ymax, p.cx, p.cy)
    }

  /** Keep the most recently used seeds only. */
  private def prune(cacheRoot: Path): Unit = if (Files.isDirectory(cacheRoot)) {
    val ls = Files.list(cacheRoot)
    val seeds = try ls.toArray.map(_.asInstanceOf[Path]) finally ls.close()
    seeds.sortBy(p => -Files.getLastModifiedTime(p).toMillis)
      .drop(CachedSeeds - 1).foreach(Main.deleteTree)
  }

  /** In-memory copy of the truth table, recomputed from the seed. */
  final class Truth(val seed: Long) {
    val n: Int = Pages.toInt
    val lon = new Array[Double](n)
    val lat = new Array[Double](n)
    private var i = 0
    while (i < n) {
      val (a, b) = milli(seed, i.toLong)
      lon(i) = a / 1000.0; lat(i) = b / 1000.0
      i += 1
    }
  }
}

/**
 * Parquet files written with the Parquet library alone: the generator needs
 * no Spark session. The column types follow the Spark schema, so Spark reads
 * the files back with that schema.
 */
object Parquet {
  private def parquetType(f: StructField): Type = {
    val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
    (f.dataType match {
      case LongType => Types.primitive(PrimitiveTypeName.INT64, rep)
      case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep)
      case DoubleType => Types.primitive(PrimitiveTypeName.DOUBLE, rep)
      case BinaryType => Types.primitive(PrimitiveTypeName.BINARY, rep)
      case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep).as(LogicalTypeAnnotation.stringType())
      case TimestampType => Types.primitive(PrimitiveTypeName.INT64, rep)
        .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
      case t => throw new IllegalArgumentException(s"no Parquet type for $t")
    }).named(f.name)
  }

  /** Rows 0 until `n` as `files` files `part-<i>.parquet` under `dir`, each
    * a contiguous range of ids written by a thread of its own. Row `id` is
    * `row(id)`, one value per field: Long, Int, Double, Array[Byte], String,
    * or microseconds since the epoch (Long) for a timestamp. */
  def write(dir: Path, schema: StructType, n: Long, files: Int)(row: Long => Array[Any]): Unit = {
    val msg = new MessageType("spark_schema", schema.fields.map(parquetType): _*)
    Files.createDirectories(dir)
    Truth.parMap(0 until files) { f =>
      val w = ExampleParquetWriter.builder(new LocalOutputFile(dir.resolve(f"part-$f%05d.parquet")))
        .withType(msg).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      val groups = new SimpleGroupFactory(msg)
      try {
        var id = n * f / files
        while (id < n * (f + 1) / files) {
          val g = groups.newGroup()
          row(id).zipWithIndex.foreach {
            case (v: Long, i) => g.add(i, v)
            case (v: Int, i) => g.add(i, v)
            case (v: Double, i) => g.add(i, v)
            case (v: Array[Byte], i) => g.add(i, Binary.fromConstantByteArray(v))
            case (v: String, i) => g.add(i, v)
            case (v, _) => throw new IllegalArgumentException(s"no Parquet value for $v")
          }
          w.write(g)
          id += 1
        }
      } finally w.close()
    }
  }
}

/**
 * Writes a workload's inputs for one seed into the cache, unless they are
 * there already. It runs in a JVM of its own before the measured one:
 *
 *   perfbench.Generate --workload <name> --seed <n> --root <checkout> --data <input cache>
 */
object Generate {
  def main(args: Array[String]): Unit = Main.withScratch(args) { (o, _) =>
    val t0 = System.nanoTime()
    Gen.ensure(o.data, o.seed, Gen.inputs(o.workload))
    Main.progress(s"inputs ready in ${Main.secsSince(t0)} s")
  }
}
