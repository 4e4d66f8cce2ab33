package perfbench

import graft.index.Z2
import graft.ops.SpatialJoin
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * `pip_broadcast`: every page point against 600 many-vertex regions, which
 * the engine broadcasts. Each round runs the Z2, S2 and hex cover joins and
 * the planar distance join. Probe rows over the joins' time is the headline.
 */
final class PipBroadcast(h: Harness, t: Gen.Tables) extends Workload(h, t) {
  val RadiusDeg = 0.25
  var pointsIn: Input = _
  def points: DataFrame = pointsIn.df
  var regions: DataFrame = _
  var polys: Array[Gen.Poly] = _
  var truth: Gen.Truth = _
  var want: Truth.Pairs = _
  var wantDw: Truth.Pairs = _
  val families: Seq[JoinFamily] = Seq("z2", "s2", "hex", "dwithin").map(new JoinFamily(_))

  def register(): Unit = {
    pointsIn = new Input(t.points, Gen.PointSchema)
    regions = read(t.regions, Gen.PolySchema)
    points.createOrReplaceTempView("page_points")
    regions.createOrReplaceTempView("regions")
  }

  def prepare(): Unit = {
    truth = new Gen.Truth(seed)
    polys = Gen.regions(seed)
    want = Truth.containsPairs(truth, Truth.rings(polys), sampled, 1.0)
    wantDw = Truth.dwithinPairs(truth, polys.map(p => (p.id, p.cx, p.cy)), RadiusDeg, sampled)
  }

  private def build(f: String): DataFrame = f match {
    case "z2" =>
      SpatialJoin.containsJoin(regions.select(col("poly_id"), col("geom").as("rgeom")), "rgeom",
        points.select(col("doc_id"), col("geom").as("pgeom")), "pgeom").select("poly_id", "doc_id")
    case "s2" =>
      SpatialJoin.containsJoinS2(regions.select(col("poly_id"), col("xmin"), col("ymin"), col("xmax"),
          col("ymax"), col("geom").as("rgeom")), "xmin", "ymin", "xmax", "ymax", "rgeom",
        points.select("doc_id", "lon", "lat"), "lon", "lat").select("poly_id", "doc_id")
    case "hex" =>
      SpatialJoin.containsJoinHex(regions.select(col("poly_id"), col("xmin"), col("ymin"), col("xmax"),
          col("ymax"), col("geom").as("rgeom")), "xmin", "ymin", "xmax", "ymax", "rgeom",
        points.select("doc_id", "lon", "lat"), "lon", "lat").select("poly_id", "doc_id")
    case "dwithin" =>
      SpatialJoin.dwithinDegJoin(regions.select(col("poly_id"), col("clon"), col("clat")), "clon", "clat",
        points.select("doc_id", "lon", "lat"), "lon", "lat", RadiusDeg).select("poly_id", "doc_id")
  }

  def round(timed: Boolean): Unit = {
    beginRound()
    families.foreach { fam =>
      val name = s"ops.join.${fam.name}"
      val (secs, st, obs) = withCandidateCounting(runOp(name, timed, pairObs("poly_id", "doc_id"))(build(fam.name)))
      if (secs.isDefined && timed) {
        comparePairs(obs, if (fam.name == "dwithin") wantDw else want).foreach(h.failOp(name, _))
        if (!hasNode(st, "BroadcastHashJoinExec") || hasNode(st, "SortMergeJoinExec"))
          h.failOp(name, "premise: the cover join did not run as a broadcast join")
        fam.add(st, this, secs, Harness.long(obs("n")))
        addCount("ops.candidates", cellJoinRows(st).toDouble)
        addCount("ops.matches", Harness.long(obs("n")).toDouble)
      }
    }
    endRound(timed)
  }

  def headline: (Double, Double) =
    (families.map(_.secs.length).sum.toDouble * Gen.Pages, families.map(_.secs.sum).sum)

  def details: Seq[(String, Metric)] = families.flatMap { f =>
    f.metrics("ops.join.") :+ (s"ops.join.${f.name}.broadcast_bytes" -> Metric(f.per(f.broadcastBytes), "B"))
  } ++ Seq("join_rows_per_s" -> Metric(headline._1 / headline._2, "rows/s"))

  def coverEnvelopes: Array[(Array[Byte], Double, Double, Double, Double)] =
    polys.map(p => (p.wkb, p.xmin, p.ymin, p.xmax, p.ymax))

  /** Candidate pairs in probe (page) order, as a broadcast join meets them. */
  def refinePairs: Array[(Array[Byte], Array[Byte])] = {
    val wkbs = polys.map(_.wkb)
    want.candidates.take(100000).map { case (p, i) => (wkbs(p), pointWkb(truth.lon(i), truth.lat(i))) }
  }
}

/**
 * `skew_shuffle`: every page point against 40,390 nested regions, densest
 * over the hot cities; the engine itself must choose the salted shuffle and
 * find hot cells. Each round also runs a geodetic kNN join for 150 query
 * points drawn from the page distribution.
 */
final class SkewShuffle(h: Harness, t: Gen.Tables) extends Workload(h, t) {
  val K = 10
  val KnnRes = 13
  val KnnRungs = 3
  val KnnSample = 8
  var pointsIn: Input = _
  def points: DataFrame = pointsIn.df
  var nested: DataFrame = _
  var queries: DataFrame = _
  var polys: Array[Gen.Poly] = _
  var truth: Gen.Truth = _
  var want: Truth.Pairs = _
  /** qid -> expected (doc_id, metres) in rank order, for sampled queries. */
  var wantKnn: Map[Long, Array[(Long, Double)]] = _
  val salted = new JoinFamily("salted")
  val knn = new JoinFamily("knn")

  def register(): Unit = {
    pointsIn = new Input(t.points, Gen.PointSchema)
    nested = read(t.nested, Gen.PolySchema)
    queries = read(t.queries, Gen.QuerySchema)
    points.createOrReplaceTempView("page_points")
    nested.createOrReplaceTempView("nested_regions")
    queries.createOrReplaceTempView("knn_queries")
  }

  def knnSampled(qid: Long): Boolean = qid % (Gen.KnnQueries / KnnSample) == 7

  def prepare(): Unit = {
    truth = new Gen.Truth(seed)
    polys = Gen.nested(seed)
    want = Truth.containsPairs(truth, Truth.rings(polys), sampled, 0.05)
    wantKnn = Truth.parMap((0 until Gen.KnnQueries).map(_.toLong).filter(knnSampled)) { q =>
      val (x, y) = Gen.queryMilli(seed, q)
      q -> Truth.knn(truth, x / 1000.0, y / 1000.0, K)
    }.toMap
  }

  private def saltedJoin(broadcastPolys: Option[Boolean]): DataFrame =
    SpatialJoin.polygonsWithPoints(nested.select(col("poly_id"), col("geom").as("rgeom")), col("rgeom"),
      points.select(col("doc_id"), col("geom").as("pgeom")), col("pgeom"),
      df => graft.functions.st.contains(df("rgeom"), df("pgeom")),
      broadcastPolys = broadcastPolys).select("poly_id", "doc_id")

  private def knnJoin(): DataFrame =
    // all pages even while warming: over a part file fewer queries resolve
    // on the ladder and the brute-force tail makes the warm-up slower
    SpatialJoin.knnJoin(queries, "qid", "qlon", "qlat", pointsIn.full.select("doc_id", "lon", "lat"),
      "lon", "lat", "doc_id", K, res = KnnRes, geodetic = true, ladderRungs = KnnRungs)

  /** Hot-cell ids the salted join carries: the literal array its salting
    * tests membership in. */
  private def hotCellCount(st: OpStats): Long = st.execs.map { case (_, qe, _) =>
    PlanWalk.nodes(qe).flatMap(_.expressions).flatMap(_.collect {
      case org.apache.spark.sql.catalyst.expressions.ArrayContains(
        org.apache.spark.sql.catalyst.expressions.Literal(a: org.apache.spark.sql.catalyst.util.ArrayData, _), _) =>
        a.numElements().toLong
    }).headOption.getOrElse(0L)
  }.max

  def round(timed: Boolean): Unit = {
    beginRound()
    val (secs, st, obs) = withCandidateCounting(
      runOp("ops.join.salted", timed, pairObs("poly_id", "doc_id"))(saltedJoin(None)))
    if (secs.isDefined && timed) {
      comparePairs(obs, want).foreach(h.failOp("ops.join.salted", _))
      val hot = hotCellCount(st)
      if (hasNode(st, "BroadcastHashJoinExec") && !hasNode(st, "SortMergeJoinExec") && !hasNode(st, "ShuffledHashJoinExec"))
        h.failOp("ops.join.salted", "premise: the salted join ran as a broadcast join")
      if (hot == 0) h.failOp("ops.join.salted", "premise: no hot cells in the salted join")
      salted.add(st, this, secs, Harness.long(obs("n")))
      salted.hotCells += hot
      salted.hotCellSecs += sampleJobSeconds(st)
      addCount("ops.candidates", cellJoinRows(st).toDouble)
      addCount("ops.matches", Harness.long(obs("n")).toDouble)
    }

    val kobs = Seq(count(lit(1)).as("n"),
      collect_list(when(col("qid") % (Gen.KnnQueries / KnnSample) === 7,
        struct(col("qid"), col("rank"), col("doc_id")))).as("sample"))
    val (ksecs, kst, kres) = runOp("ops.knn", timed, kobs)(knnJoin())
    if (ksecs.isDefined && timed) {
      checkKnn(kres).foreach(h.failOp("ops.knn", _))
      knn.add(kst, this, ksecs, Harness.long(kres("n")))
      addCount("ops.candidates", cellJoinRows(kst).toDouble)
      addCount("ops.matches", Harness.long(kres("n")).toDouble)
    }
    endRound(timed)
  }

  private def checkKnn(obs: Map[String, Any]): Option[String] = {
    val n = Harness.long(obs("n"))
    if (n != Gen.KnnQueries.toLong * K) return Some(s"kNN returned $n rows, expected ${Gen.KnnQueries * K}")
    val got = obs("sample").asInstanceOf[Seq[Row]].groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toArray
    }
    wantKnn.collectFirst {
      case (q, exp) if !sameNeighbours(q, got.getOrElse(q, Array.empty), exp) =>
        s"query $q: neighbours ${got.getOrElse(q, Array.empty).mkString(",")}, expected ${exp.map(_._1).mkString(",")}"
    }
  }

  /** Same ids in rank order; where floating-point rounding makes two
    * neighbours' distances differ by under a millimetre the order of those
    * two may differ. */
  private def sameNeighbours(q: Long, got: Array[Long], exp: Array[(Long, Double)]): Boolean =
    got.sameElements(exp.map(_._1)) || (got.length == exp.length && {
      val (x, y) = Gen.queryMilli(seed, q)
      val d = got.map(i => Truth.haversine(x / 1000.0, y / 1000.0, truth.lon(i.toInt), truth.lat(i.toInt)))
      d.zip(exp.map(_._2)).forall { case (a, b) => math.abs(a - b) < 1e-3 }
    })

  /** The broadcast path must return the same pairs as the salted path
    * (traced runs only: every timed salted join is already compared with
    * the full expected pair set). */
  override def finish(): Unit = if (h.trace) {
    val (secs, _, obs) = runOp("check.broadcast_path", timed = false, pairObs("poly_id", "doc_id"))(saltedJoin(Some(true)))
    if (secs.isEmpty) h.problem("broadcast reference join threw")
    else comparePairs(obs, want).foreach(e => h.problem(s"broadcast path: $e"))
  }

  def headline: (Double, Double) = (salted.secs.length.toDouble * Gen.Pages, salted.secs.sum)

  def details: Seq[(String, Metric)] =
    salted.metrics("ops.join.") ++ Seq(
      "ops.join.salted.shuffle_bytes" -> Metric(salted.per(salted.shuffleBytes), "B"),
      "ops.join.salted.task_skew" -> Metric(salted.taskSkew, "ratio"),
      "ops.hot_cells_s" -> Metric(salted.hotCellSecs / math.max(1, salted.runs), "s"),
      "ops.hot_cells" -> Metric(salted.per(salted.hotCells), "count"),
      "ops.knn_s" -> Metric(Harness.median(knn.secs.toSeq), "s"),
      "ops.knn.candidates" -> Metric(knn.per(knn.candidates), "rows"),
      "ops.knn.jobs" -> Metric(knn.per(knn.jobs), "count"),
      "ops.knn.shuffle_bytes" -> Metric(knn.per(knn.shuffleBytes), "B"),
      "join_rows_per_s" -> Metric(headline._1 / headline._2, "rows/s"),
      "knn_queries_per_s" -> Metric(knn.secs.length * Gen.KnnQueries / knn.secs.sum, "queries/s"))

  def coverEnvelopes: Array[(Array[Byte], Double, Double, Double, Double)] =
    polys.map(p => (p.wkb, p.xmin, p.ymin, p.xmax, p.ymax))

  /** Candidate pairs ordered by the pages' fine cell, as the shuffled join's
    * sorted reduce partitions meet them. */
  def refinePairs: Array[(Array[Byte], Array[Byte])] = {
    val wkbs = polys.map(_.wkb)
    want.candidates.take(100000)
      .sortBy { case (p, i) => (Z2.encode(truth.lon(i), truth.lat(i), 12), p) }
      .map { case (p, i) => (wkbs(p), pointWkb(truth.lon(i), truth.lat(i))) }
  }
}
