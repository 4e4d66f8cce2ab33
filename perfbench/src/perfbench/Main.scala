package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.cql.Ecql
import graft.functions.GeomRT
import graft.index.{HexLite, S2Lite, Z2}
import graft.ops.SpatialJoin
import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point, one JVM per run:
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --root <checkout> [--data <input cache>]
 *
 * Reads the seeded inputs that [[Generate]] wrote in a JVM of its own, times
 * the set-up five times, runs one warm-up round and then whole timed rounds
 * for `--seconds`, checks every operation's output, and prints one JSON
 * result as its last line: the end-to-end metrics, or with `--trace 1` the
 * per-layer metrics.
 */
object Main {
  val Workloads = Seq("pip_broadcast", "skew_shuffle", "layout_query")
  val Setups = 5
  /** Spark runs `local[Cores]`. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: Path, data: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Opts(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m.getOrElse("root", ".")).toAbsolutePath,
      Paths.get(m.getOrElse("data", ".bench_build/data")).toAbsolutePath)
  }

  def session(scratch: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (4 * Cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = withScratch(args)(run)

  /** Parse the options and call `body` with a private scratch directory
    * under `.bench_build/work`, removed afterwards; exit 1 if it throws. */
  def withScratch(args: Array[String])(body: (Opts, Path) => Unit): Unit = {
    val o = try parse(args) catch {
      case e: Exception => System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val scratch = o.root.resolve(".bench_build").resolve("work").resolve(s"run-${ProcessHandle.current.pid}")
    Files.createDirectories(scratch)
    try body(o, scratch)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.println(s"perfbench: run failed: $e")
        sys.exit(1)
    } finally deleteTree(scratch)
  }

  def progress(msg: String): Unit = System.err.println(s"perfbench: $msg")
  def secsSince(t0: Long): String = f"${(System.nanoTime() - t0) / 1e9}%.2f"

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f)) finally walk.close()
  }

  def run(o: Opts, scratch: Path): Unit = {
    // inputs: written by Generate in a JVM of its own, so neither this JVM's
    // peak RSS nor its compiled code depends on whether the seed was cached
    val tables = Gen.cached(o.data, o.seed, Gen.inputs(o.workload))

    // set-up: session start, extension install, input registration; each
    // set-up starts after a full collection, so none pays for the last one's
    // garbage
    val tracker = new Tracker
    var spark: SparkSession = null
    var h: Harness = null
    var w: Workload = null
    val setupSecs = (1 to Setups).map { i =>
      if (spark != null) stop(spark)
      System.gc()
      val t0 = System.nanoTime()
      spark = session(scratch)
      graft.plans.GraftExtensions.install(spark)
      h = new Harness(spark, o.seed, o.trace, tracker)
      w = o.workload match {
        case "pip_broadcast" => new PipBroadcast(h, tables)
        case "skew_shuffle" => new SkewShuffle(h, tables)
        case "layout_query" => new LayoutQuery(h, tables, scratch)
      }
      w.register()
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.addSparkListener(tracker)
    spark.listenerManager.register(tracker)

    progress(s"set-up ${setupSecs.map(s => f"$s%.3f").mkString(", ")} s")
    val tp = System.nanoTime()
    w.prepare()
    progress(s"expected results in ${secsSince(tp)} s")
    val tw = System.nanoTime()
    w.warming = true
    w.round(timed = false)
    w.warming = false
    val warmup = (System.nanoTime() - tw) / 1e9
    progress(f"warm-up round $warmup%.2f s")
    val gc0 = Harness.gcSeconds
    val t0 = System.nanoTime()
    // whole rounds until the run length is reached
    while (w.timedRounds == 0 || (System.nanoTime() - t0) / 1e9 < o.seconds) w.round(timed = true)
    val gcSecs = Harness.gcSeconds - gc0
    progress(s"${w.timedRounds} timed rounds in ${secsSince(t0)} s")
    val tf = System.nanoTime()
    w.finish()
    progress(s"final checks in ${secsSince(tf)} s")

    val rounds = math.max(1, w.timedRounds).toDouble
    val (rows, secs) = w.headline
    val endToEnd = Seq(
      "setup_s" -> Metric(Harness.median(setupSecs), "s"),
      "rows_per_s" -> Metric(rows / secs, "rows/s"),
      "round_s" -> Metric(Harness.median(w.roundSecs.toSeq), "s"),
      "peak_rss_mb" -> Metric(Harness.peakRssMb, "MB"))
    val micro = if (o.trace) microMeasure(w) else Seq.empty
    val perLayer = micro ++ Seq(
      "plans.optimize_ms" -> Metric(Harness.median(w.optimizeMs.toSeq), "ms")) ++
      w.counters.toSeq.map { case (k, v) =>
        k -> Metric(v / rounds, k match {
          case "spark.shuffle_bytes" | "spark.broadcast_bytes" | "spark.input_bytes" => "B"
          case "ops.candidates" | "ops.matches" => "rows"
          case _ => "count"
        })
      } ++ Seq(
      "spark.task_skew" -> Metric(w.taskSkewMax, "ratio"),
      "jvm.gc_s" -> Metric(gcSecs / rounds, "s"),
      "warmup_s" -> Metric(warmup, "s"))

    val details = w.details ++ h.selfSeconds.toSeq.sortBy(_._1).map { case (k, v) => s"self.$k" -> Metric(v / rounds, "s") }
    // every figure by name and unit, then the record, then the result line
    (endToEnd ++ (if (o.trace) perLayer ++ details else details)).foreach { case (k, m) =>
      println(f"metric $k%-36s ${m.value}%.6g ${m.unit}")
    }
    h.problems.foreach(p => println(s"problem $p"))
    println(s"rounds ${w.timedRounds}, operations ${h.attempted}, failed ${h.failed}")

    val record = o.root.resolve("perfbench").resolve("records")
      .resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}-${ProcessHandle.current.pid}.json")
    val spanJson = h.spans.map(s => s"""{"name": ${Harness.jsonStr(s.name)}, "parent": ${s.parent}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    Harness.write(record,
      s"""{"workload": ${Harness.jsonStr(o.workload)}, "seed": ${o.seed}, "trace": ${o.trace}, "cores": $Cores,
         | "rounds": ${w.timedRounds}, "attempted": ${h.attempted}, "failed": ${h.failed},
         | "problems": [${h.problems.map(Harness.jsonStr).mkString(", ")}],
         | "end_to_end": ${Harness.metricsJson(endToEnd)},
         | "per_layer": ${Harness.metricsJson(if (o.trace) perLayer else Seq.empty)},
         | "details": ${Harness.metricsJson(details)},
         | "spans": [${spanJson.mkString(",\n  ")}]}
         |""".stripMargin)
    stop(spark)

    val metrics = if (o.trace) perLayer else endToEnd
    println(s"""{"correct": ${h.correct}, "attempted": ${h.attempted}, "failed": ${h.failed}, "metrics": ${Harness.metricsJson(metrics)}}""")
  }

  /** Median of `reps` timings of `body`, in nanoseconds per item. */
  private def timePer(items: Int, reps: Int)(body: => Long): Double = {
    var sink = 0L
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); sink += body; (System.nanoTime() - t0).toDouble / items
    }
    if (sink == 42) println("")
    Harness.median(ts)
  }

  /** Direct calls into the index, function and parser layers over the
    * workload's own points, polygons and queries (traced runs only). */
  def microMeasure(w: Workload): Seq[(String, Metric)] = {
    val tr = new Gen.Truth(w.seed)
    val n = 200000
    val (fz, fs, fh) = (SpatialJoin.DefaultLevels.last, SpatialJoin.S2Levels.last, SpatialJoin.HexLevels.last)
    def encode(f: (Double, Double) => Long): Double = timePer(n, 5) {
      var acc = 0L; var i = 0
      while (i < n) { acc ^= f(tr.lon(i), tr.lat(i)); i += 1 }
      acc
    }
    val envs = { val e = w.coverEnvelopes; e.indices.filter(_ % math.max(1, e.length / 4000) == 0).map(e).toArray }
    def cover(f: ((Array[Byte], Double, Double, Double, Double)) => Int): Double = timePer(envs.length, 3) {
      var acc = 0L; var i = 0
      while (i < envs.length) { acc += f(envs(i)); i += 1 }
      acc
    } / 1000.0
    val pairs = w.refinePairs
    val mix = LayoutQuery.mix(w.seed, tr).map(_.ecql)
    Seq(
      "index.z2_encode_ns" -> Metric(encode(Z2.encode(_, _, fz)), "ns"),
      "index.s2_encode_ns" -> Metric(encode(S2Lite.encode(_, _, fs)), "ns"),
      "index.hex_encode_ns" -> Metric(encode(HexLite.encode(_, _, fh)), "ns"),
      "index.z2_cover_us" -> Metric(cover(e => GeomRT.coverBudget(e._1, SpatialJoin.DefaultBudget,
        SpatialJoin.DefaultLevels).length), "us"),
      "index.s2_cover_us" -> Metric(cover(e => S2Lite.coverBBoxBudget(e._2, e._3, e._4, e._5,
        SpatialJoin.S2Budget, SpatialJoin.S2Levels).length), "us"),
      "index.hex_cover_us" -> Metric(cover(e => HexLite.coverBudget(e._2, e._3, e._4, e._5,
        SpatialJoin.HexBudget, SpatialJoin.HexLevels).length), "us"),
      "functions.contains_ns" -> Metric(timePer(math.max(1, pairs.length), 3) {
        var acc = 0L; var i = 0
        while (i < pairs.length) { if (GeomRT.contains(pairs(i)._1, pairs(i)._2)) acc += 1; i += 1 }
        acc
      }, "ns"),
      "cql.parse_us" -> Metric(timePer(mix.length * 20, 5) {
        var acc = 0L
        (1 to 20).foreach(_ => mix.foreach(q => acc += Ecql.toColumn(q).hashCode))
        acc
      } / 1000.0, "us"))
  }
}
