package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.cql.Ecql
import graft.layout.CellLayout
import graft.ops.Density
import graft.pages.WebPages
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One ECQL query of the mix: the filter text, the envelope handed to
  * `CellLayout.read`, and the same predicate written in plain Scala over the
  * truth arrays (`i` is the page id). */
final case class Query(kind: String, ecql: String, box: (Double, Double, Double, Double),
                       pred: Int => Boolean, ring: Option[Array[(Double, Double)]])

/**
 * `layout_query`: geoparse the page rows, add cell keys and write the cell
 * layout into a fresh directory; then run the ECQL mix through
 * `CellLayout.read` + `Ecql.where`, and `Density.grid` / `Density.tiles`
 * over the whole layout. Input page rows over the write time is the
 * headline.
 */
final class LayoutQuery(h: Harness, t: Gen.Tables, work: Path) extends Workload(h, t) {
  val BucketRes = 3
  val Waves = 1
  val Grid = (-180.0, -85.0, 180.0, 85.0, 1024, 512)
  val TileDeg = 5.0
  val TilePx = 64
  var pagesIn: Input = _
  def pages: DataFrame = pagesIn.df
  var truth: Gen.Truth = _
  var tagged: Array[Boolean] = _
  var taggedRows = 0L
  var queries: Seq[Query] = _
  var wantGrid: (Long, Long, Long) = _
  var wantTiles: (Long, Long) = _
  var layoutDir: Path = _
  private var roundNo = 0

  val writeSecs: ArrayBuffer[Double] = ArrayBuffer.empty
  val querySecs: ArrayBuffer[Double] = ArrayBuffer.empty
  val openMs: ArrayBuffer[Double] = ArrayBuffer.empty
  val gridSecs: ArrayBuffer[Double] = ArrayBuffer.empty
  val tileSecs: ArrayBuffer[Double] = ArrayBuffer.empty
  val geoparseSecs: ArrayBuffer[Double] = ArrayBuffer.empty
  var writeJobs = 0L; var writeInputBytes = 0L; var files = 0L; var buckets = 0L
  var storedBytes = 0L; var storedRows = 0L
  var readFiles = 0L; var readBytes = 0L; var scanRows = 0L; var resultRows = 0L; var queryRuns = 0L

  def register(): Unit = {
    pagesIn = new Input(t.pages, Gen.PageSchema)
    pagesIn.full.createOrReplaceTempView("pages")
  }

  def prepare(): Unit = {
    truth = new Gen.Truth(seed)
    tagged = Array.tabulate(Gen.LayoutPages)(i => Gen.tagged(seed, i.toLong))
    taggedRows = tagged.count(identity).toLong
    queries = LayoutQuery.mix(seed, truth)
    val (x0, y0, x1, y1, w, hh) = Grid
    val cells = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    val tiles = scala.collection.mutable.HashSet.empty[(Long, Long)]
    var i = 0
    while (i < tagged.length) {
      if (tagged(i)) {
        val x = truth.lon(i); val y = truth.lat(i)
        if (x >= x0 && x < x1 && y >= y0 && y < y1) {
          val k = (math.floor((x - x0) / (x1 - x0) * w).toLong, math.floor((y - y0) / (y1 - y0) * hh).toLong)
          cells(k) = cells.getOrElse(k, 0L) + 1
        }
        tiles += ((math.floor((x + 180.0) / TileDeg).toLong, math.floor((y + 90.0) / TileDeg).toLong))
      }
      i += 1
    }
    wantGrid = (cells.size.toLong, cells.values.sum,
      cells.iterator.map { case ((a, b), n) => Harness.hashLongs(a, b, n) }.sum)
    wantTiles = (tiles.size.toLong, tiles.iterator.map { case (a, b) => Harness.hashLongs(a, b) }.sum)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally walk.close()
  }

  def round(timed: Boolean): Unit = {
    beginRound()
    if (layoutDir != null) deleteTree(layoutDir)
    roundNo += 1
    layoutDir = work.resolve(s"layout-$roundNo")
    val dir = layoutDir.toString

    if (h.trace) {
      val (gs, _) = h.op("pages.geoparse", counted = false) {
        Harness.noop(WebPages.geoparse(pages).select("geo_lon", "geo_lat", "geo_geom"))
      }
      if (timed) gs.foreach(geoparseSecs += _)
    }

    var manifest: Map[Long, CellLayout.BucketMeta] = Map.empty
    val (ws, wst) = h.op("layout.write", counted = timed) {
      val parsed = h.span("pages.geoparse")(WebPages.geoparse(pages))
        .filter(col("geo_lon").isNotNull && col("geo_lat").isNotNull).drop("geo_geom")
      val keyed = h.span("layout.keys")(CellLayout.withCellKeys(parsed, col("geo_lon"), col("geo_lat"),
        col("doc_id"), bucketRes = BucketRes))
      manifest = h.span("layout.write.call")(CellLayout.write(keyed, dir, t.pages, waves = Waves))
    }
    ws match {
      case None => // the layout is missing: the rest of the round has nothing to read
        Seq.fill(queries.length + 2)(()).foreach { _ => if (timed) { h.attempted += 1; h.failed += 1 } }
        endRound(timed)
        return
      case Some(s) =>
        val rows = manifest.values.map(_.rows).sum
        if (timed && rows != taggedRows) h.failOp("layout.write", s"manifest holds $rows rows, expected $taggedRows tagged pages")
        if (timed) {
          roundOpSeconds(s)
          writeSecs += s
          writeJobs += wst.jobs; writeInputBytes += wst.inputBytes
          files = manifest.values.map(_.files.toLong).sum
          buckets = manifest.size.toLong
          storedBytes = manifest.values.map(_.bytes).sum; storedRows = rows
          addCount("spark.jobs", wst.jobs); addCount("spark.tasks", wst.tasks)
          addCount("spark.shuffle_bytes", wst.shuffleWriteBytes.toDouble)
          addCount("spark.input_bytes", wst.inputBytes.toDouble)
        }
    }
    val totalFiles = manifest.values.map(_.files.toLong).sum

    // the warm-up runs the first query of each kind only
    val run = queries.zipWithIndex.filter { case (q, qi) => timed || queries.indexWhere(_.kind == q.kind) == qi }
    run.foreach { case (q, qi) =>
      val name = s"layout.query.${q.kind}"
      val (qs, qst, obs) = runOp(name, timed, Harness.fingerprint(col("doc_id"))) {
        val t0 = System.nanoTime()
        val df = h.span("layout.read.open")(CellLayout.read(spark, dir, queryBox = Some(q.box)))
        if (timed) openMs += (System.nanoTime() - t0) / 1e6
        val withGeom = df.withColumn("geo_geom", graft.functions.st.point(col("geo_lon"), col("geo_lat")))
        h.span("cql.where")(Ecql.where(withGeom, q.ecql)).drop("geo_geom")
      }
      if (qs.isDefined && timed) {
        val want = LayoutQuery.expected(q, tagged)
        val got = (Harness.long(obs("n")), Harness.long(obs("h")))
        if (got != want) h.failOp(name, s"query $qi returned ${got._1} rows (hash ${got._2}), expected ${want._1} (hash ${want._2})")
        val scanned = qst.execs.flatMap { case (_, qe, _) => PlanWalk.named(qe, "FileSourceScanExec") }
        val listed = scanned.map(PlanWalk.metric(_, "numFiles")).sum
        if (listed >= totalFiles) h.failOp(name, s"premise: query $qi read $listed of $totalFiles files")
        querySecs += qs.get
        queryRuns += 1
        readFiles += listed
        readBytes += scanned.map(PlanWalk.metric(_, "filesSize")).sum
        val rowsIn = scanned.map(PlanWalk.metric(_, "numOutputRows")).sum
        scanRows += rowsIn; resultRows += got._1
        addCount("ops.candidates", rowsIn.toDouble)
        addCount("ops.matches", got._1.toDouble)
      }
    }

    val (x0, y0, x1, y1, w, hh) = Grid
    val gridObs = Seq(count(lit(1)).as("n"), coalesce(sum(col("n")), lit(0L)).as("rows"),
      coalesce(sum(xxhash64(col("cell_x"), col("cell_y"), col("n")).bitwiseAND(lit(Harness.HashMask))), lit(0L)).as("h"))
    val (gs, _, gobs) = runOp("ops.grid", timed, gridObs) {
      Density.grid(CellLayout.read(spark, dir), col("geo_lon"), col("geo_lat"), x0, y0, x1, y1, w, hh)
    }
    if (gs.isDefined && timed) {
      val got = (Harness.long(gobs("n")), Harness.long(gobs("rows")), Harness.long(gobs("h")))
      if (got != wantGrid) h.failOp("ops.grid", s"grid (cells, rows, hash) $got, expected $wantGrid")
      gridSecs += gs.get
    }
    val tileObs = Seq(count(lit(1)).as("n"), coalesce(sum(xxhash64(col("tile_x").cast("long"),
      col("tile_y").cast("long")).bitwiseAND(lit(Harness.HashMask))), lit(0L)).as("h"),
      coalesce(sum(length(col("tile"))), lit(0L)).as("bytes"))
    val (ts, _, tobs) = runOp("ops.tiles", timed, tileObs) {
      Density.tiles(CellLayout.read(spark, dir), col("geo_lon"), col("geo_lat"),
        unix_seconds(col("warc_ts")).cast("double"), TileDeg, TilePx, TilePx)
    }
    if (ts.isDefined && timed) {
      val got = (Harness.long(tobs("n")), Harness.long(tobs("h")))
      if (got != wantTiles) h.failOp("ops.tiles", s"tiles (count, hash) $got, expected $wantTiles")
      else if (Harness.long(tobs("bytes")) != got._1 * TilePx * TilePx) h.failOp("ops.tiles", "tile buffers of the wrong size")
      tileSecs += ts.get
    }
    endRound(timed)
  }

  override def finish(): Unit = if (layoutDir != null) deleteTree(layoutDir)

  def headline: (Double, Double) = (writeSecs.length.toDouble * Gen.LayoutPages, writeSecs.sum)

  def details: Seq[(String, Metric)] = {
    val n = math.max(1, writeSecs.length).toDouble
    val q = math.max(1L, queryRuns).toDouble
    val pagesBytes = LayoutQuery.treeBytes(java.nio.file.Paths.get(t.pages))
    Seq(
      "write_rows_per_s" -> Metric(headline._1 / headline._2, "rows/s"),
      "stored_bytes_per_row" -> Metric(storedBytes.toDouble / math.max(1L, storedRows), "B/row"),
      "query_p50_ms" -> Metric(Harness.median(querySecs.toSeq) * 1000, "ms"),
      "query_samples" -> Metric(querySecs.length.toDouble, "count"),
      "tile_rows_per_s" -> Metric(storedRows * gridSecs.length / (gridSecs.sum + tileSecs.sum), "rows/s"),
      "pages.geoparse_s" -> Metric(Harness.median(geoparseSecs.toSeq), "s"),
      "layout.write_s" -> Metric(Harness.median(writeSecs.toSeq), "s"),
      "layout.write.jobs" -> Metric(writeJobs / n, "count"),
      "layout.write.input_read_ratio" -> Metric(writeInputBytes / n / pagesBytes, "ratio"),
      "layout.files" -> Metric(files.toDouble, "count"),
      "layout.buckets" -> Metric(buckets.toDouble, "count"),
      "layout.read.open_ms" -> Metric(Harness.median(openMs.toSeq), "ms"),
      "layout.read.files" -> Metric(readFiles / q, "count"),
      "layout.read.bytes" -> Metric(readBytes / q, "B"),
      "layout.read.rows_per_result" -> Metric(scanRows.toDouble / math.max(1L, resultRows), "ratio"),
      "ops.grid_s" -> Metric(Harness.median(gridSecs.toSeq), "s"),
      "ops.tiles_s" -> Metric(Harness.median(tileSecs.toSeq), "s"))
  }

  /** The query geometries' envelopes (polygons, boxes, distance windows). */
  def coverEnvelopes: Array[(Array[Byte], Double, Double, Double, Double)] = queries.map { q =>
    val (a, b, c, d) = q.box
    val ring = q.ring.getOrElse(Array((a, b), (c, b), (c, d), (a, d), (a, b)))
    val g = new org.locationtech.jts.geom.GeometryFactory().createPolygon(ring.map { case (x, y) =>
      new org.locationtech.jts.geom.Coordinate(x, y) })
    (new org.locationtech.jts.io.WKBWriter(2).write(g), a, b, c, d)
  }.toArray

  /** Query polygon against the pages inside its envelope, in page order. */
  def refinePairs: Array[(Array[Byte], Array[Byte])] = {
    val envs = coverEnvelopes
    val out = ArrayBuffer.empty[(Array[Byte], Array[Byte])]
    var i = 0
    while (i < truth.n && out.length < 100000) {
      envs.foreach { case (wkb, a, b, c, d) =>
        if (truth.lon(i) >= a && truth.lon(i) <= c && truth.lat(i) >= b && truth.lat(i) <= d)
          out += ((wkb, pointWkb(truth.lon(i), truth.lat(i))))
      }
      i += 1
    }
    out.toArray
  }
}

object LayoutQuery {
  def treeBytes(p: Path): Double = {
    val walk = Files.walk(p)
    try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum().toDouble finally walk.close()
  }

  /** (count, fingerprint) of the tagged pages the query's predicate holds for. */
  def expected(q: Query, tagged: Array[Boolean]): (Long, Long) = {
    var c = 0L; var hs = 0L; var i = 0
    while (i < tagged.length) {
      if (tagged(i) && q.pred(i)) { c += 1; hs += Harness.hashLongs(i.toLong) }
      i += 1
    }
    (c, hs)
  }

  /** Number rendered with nine decimals, and the double it parses to. */
  private def num(v: Double): (String, Double) = {
    val s = f"$v%.9f"
    (s, s.toDouble)
  }

  /** Metres-to-degrees window of the engine's DWITHIN (the larger of the
    * latitude and the longitude span at the row's latitude). */
  def metersToDegrees(m: Double, lat: Double): Double = {
    val latDeg = m / 111320.0
    val lonDeg = m / (111320.0 * math.max(1e-6, math.cos(math.toRadians(math.min(89.9, math.abs(lat))))))
    math.max(latDeg, lonDeg)
  }

  /** The seeded ECQL mix: hot-city and cold boxes, INTERSECTS polygons with
    * DURING, `lang IN`, `text LIKE` and DWITHIN. */
  def mix(seed: Long, truth: Gen.Truth): Seq[Query] = {
    def u(k: Int): Double = Gen.unit(seed, 1000003L + k, 90)
    val lon = truth.lon; val lat = truth.lat
    def inBox(x0: Double, y0: Double, x1: Double, y1: Double)(i: Int) =
      lon(i) >= x0 && lon(i) <= x1 && lat(i) >= y0 && lat(i) <= y1
    def box(k: Int, cx: Double, cy: Double, spread: Double, w: Double, hgt: Double) = {
      val (sx0, x0) = num(cx + (u(k) - 0.5) * spread - w / 2 + 3.1e-4)
      val (sy0, y0) = num(cy + (u(k + 1) - 0.5) * spread - hgt / 2 + 3.7e-4)
      val (sx1, x1) = num(x0 + w); val (sy1, y1) = num(y0 + hgt)
      (s"BBOX(geo_geom, $sx0, $sy0, $sx1, $sy1)", (x0, y0, x1, y1))
    }
    def cold(k: Int) = (u(k) * 300 - 150, u(k + 1) * 120 - 60)
    def iso(sec: Long) = java.time.Instant.ofEpochSecond(sec).toString
    val qs = ArrayBuffer.empty[Query]
    // hot-city boxes
    Seq(0, 2).foreach { c =>
      val (s, b) = box(10 + 2 * c, Gen.Cities(c)._1, Gen.Cities(c)._2, 0.5, 0.2, 0.15)
      qs += Query("hot_bbox", s, b, (inBox _).tupled(b), None)
    }
    // cold boxes
    Seq(20).foreach { k =>
      val (cx, cy) = cold(k)
      val (s, b) = box(k + 1, cx, cy, 0.0, 4.0, 3.0)
      qs += Query("cold_bbox", s, b, (inBox _).tupled(b), None)
    }
    // polygons with a crawl-time window
    Seq((30, Some(0), 0.3), (32, None, 4.0)).foreach { case (k, city, r) =>
      val (cx, cy) = city.map(c => (Gen.Cities(c)._1 + (u(k) - 0.5) * 0.4, Gen.Cities(c)._2 + (u(k + 1) - 0.5) * 0.4))
        .getOrElse(cold(k))
      val pts = Gen.star(seed, 5000L + k, 95, cx, cy, r, 24).map(c => num(c.x)._2 -> num(c.y)._2)
      val ring = pts.init :+ pts.head
      val xs = ring.map(_._1); val ys = ring.map(_._2)
      val t1 = Gen.TsBase + (u(k + 2) * 10 * 86400).toLong
      val t2 = t1 + 10L * 86400
      val wkt = ring.map { case (x, y) => f"$x%.9f $y%.9f" }.mkString("POLYGON((", ", ", "))")
      val ecql = s"INTERSECTS(geo_geom, $wkt) AND warc_ts DURING ${iso(t1)}/${iso(t2)}"
      qs += Query("polygon_during", ecql, (xs.min, ys.min, xs.max, ys.max),
        i => Truth.inRing(xs, ys, lon(i), lat(i)) && {
          val ts = Gen.tsSec(seed, i.toLong); ts > t1 && ts < t2 }, Some(ring))
    }
    // language filters
    locally {
      val (s, b) = box(40, Gen.Cities(1)._1, Gen.Cities(1)._2, 0.3, 0.6, 0.45)
      qs += Query("lang_in", s"lang IN ('fr', 'de') AND $s", b,
        i => inBox(b._1, b._2, b._3, b._4)(i) && Set("fr", "de").contains(Gen.lang(seed, i.toLong)), None)
    }
    // text search in a hot box
    locally {
      val word = Gen.below(seed, 77L, 91, Gen.Words.length)
      val (s, b) = box(50, Gen.Cities(2)._1, Gen.Cities(2)._2, 0.3, 0.5, 0.4)
      qs += Query("text_like", s"text LIKE '%${Gen.Words(word)}%' AND $s", b,
        i => inBox(b._1, b._2, b._3, b._4)(i) &&
          (0 until Gen.WordsPerPage).exists(j => Gen.wordIdx(seed, i.toLong, j) == word), None)
    }
    // distance windows: one in a city, one in the background
    Seq((60, Some(0), 8.0), (62, None, 120.0)).foreach { case (k, city, km) =>
      val (cx0, cy0) = city.map(c => (Gen.Cities(c)._1 + (u(k) - 0.5) * 0.3, Gen.Cities(c)._2 + (u(k + 1) - 0.5) * 0.3))
        .getOrElse(cold(k))
      val (sx, px) = num(cx0 + 2.3e-4); val (sy, py) = num(cy0 + 4.1e-4)
      val m = km * 1000.0
      val r = metersToDegrees(m, math.min(89.0, math.abs(py) + 2 * m / 111320.0))
      qs += Query("dwithin", s"DWITHIN(geo_geom, POINT($sx $sy), $km, kilometers)",
        (px - r, py - r, px + r, py + r),
        i => math.hypot(lon(i) - px, lat(i) - py) <= metersToDegrees(m, lat(i)), None)
    }
    qs.toSeq
  }
}
