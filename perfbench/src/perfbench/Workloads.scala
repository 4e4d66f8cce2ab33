package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.WKBWriter

/**
 * A workload runs whole rounds of the same operations. The harness times
 * each operation; the workload checks its output against [[Truth]], asserts
 * its premise from the executed plan, and accumulates its metrics.
 */
abstract class Workload(val h: Harness, val t: Gen.Tables) {
  def spark = h.spark
  def seed: Long = h.seed

  /** Read the inputs and register them as temporary views (timed as part
    * of set-up). */
  def register(): Unit
  /** Compute expected results from the seed (untimed). */
  def prepare(): Unit
  /** Run one round; `timed` rounds count towards the metrics. */
  def round(timed: Boolean): Unit
  /** Checks that need the whole run (untimed). */
  def finish(): Unit = ()
  /** Page rows the headline throughput counts, and the op seconds they took. */
  def headline: (Double, Double)
  /** Per-round op seconds of every timed round. */
  val roundSecs: ArrayBuffer[Double] = ArrayBuffer.empty
  /** Workload-specific per-layer figures for the record. */
  def details: Seq[(String, Metric)]
  /** Geometries whose covers the micro-measurement times. */
  def coverEnvelopes: Array[(Array[Byte], Double, Double, Double, Double)]
  /** (polygon WKB, point WKB) pairs timed by the refine micro-measurement,
    * in the order the operation meets them. */
  def refinePairs: Array[(Array[Byte], Array[Byte])]

  /** True during the warm-up round, which runs on one part file of each
    * page table: the same plans (and generated code) over an eighth of the
    * rows, so the timed rounds start with compiled code and loaded classes.
    * Its outputs are not checked against the full-table expectations. */
  var warming = false

  /** Read a generated table with the schema it was written with: no
    * inference job, so set-up times session start and registration alone. */
  def read(path: String, schema: StructType): DataFrame = spark.read.schema(schema).parquet(path)

  /** A page table read whole, and as its first part file for the warm-up. */
  final class Input(path: String, schema: StructType) {
    val full: DataFrame = read(path, schema)
    lazy val part: DataFrame = {
      val ls = Files.list(java.nio.file.Paths.get(path))
      val first = try ls.toArray.map(_.toString).filter(_.endsWith(".parquet")).min finally ls.close()
      read(first, schema)
    }
    def df: DataFrame = if (warming) part else full
  }

  // ---- accumulation shared by all workloads ----
  var timedRounds = 0
  private var roundAcc = 0.0
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap(
    "spark.jobs" -> 0.0, "spark.tasks" -> 0.0, "spark.shuffle_bytes" -> 0.0,
    "spark.broadcast_bytes" -> 0.0, "spark.input_bytes" -> 0.0, "spark.files_read" -> 0.0,
    "ops.candidates" -> 0.0, "ops.matches" -> 0.0, "plans.derived_conjuncts" -> 0.0)
  var taskSkewMax = 1.0
  val optimizeMs: ArrayBuffer[Double] = ArrayBuffer.empty

  def beginRound(): Unit = roundAcc = 0.0
  def endRound(timed: Boolean): Unit = if (timed) { roundSecs += roundAcc; timedRounds += 1 }

  /** Run one operation: build the DataFrame, attach the observation (named
    * aggregate columns), write it to `noop`. Returns (seconds, stats,
    * observed values by name) with seconds None when the operation threw.
    * Only the build and the write are timed. */
  def runOp(name: String, timed: Boolean, obsCols: Seq[Column])(build: => DataFrame)
      : (Option[Double], OpStats, Map[String, Any]) = {
    var obs: org.apache.spark.sql.Observation = null
    val (secs, stats) = h.op(name, counted = timed) {
      val df = build
      val (od, o) = Harness.observe(df, obsCols: _*)
      obs = o
      if (h.trace) {
        val t0 = System.nanoTime()
        h.span("plans.optimize")(od.queryExecution.optimizedPlan)
        optimizeMs += (System.nanoTime() - t0) / 1e6
      }
      Harness.noop(od)
    }
    val row = if (secs.isDefined) obs.get else Map.empty[String, Any]
    if (timed) {
      secs.foreach(s => roundAcc += s)
      absorb(stats)
    }
    (secs, stats, row)
  }

  private def absorb(st: OpStats): Unit = {
    counters("spark.jobs") += st.jobs
    counters("spark.tasks") += st.tasks
    counters("spark.shuffle_bytes") += st.shuffleWriteBytes
    counters("spark.input_bytes") += st.inputBytes
    taskSkewMax = math.max(taskSkewMax, st.taskSkew)
    st.execs.foreach { case (_, qe, _) =>
      val nodes = PlanWalk.nodes(qe)
      counters("spark.broadcast_bytes") += nodes.filter(_.getClass.getSimpleName == "BroadcastExchangeExec")
        .map(PlanWalk.metric(_, "dataSize")).sum
      counters("spark.files_read") += nodes.filter(_.getClass.getSimpleName == "FileSourceScanExec")
        .map(PlanWalk.metric(_, "numFiles")).sum
      counters("plans.derived_conjuncts") += Workload.derivedConjuncts(qe)
    }
  }

  /** Rows out of the cell equi-joins of an operation (the candidate pairs
    * before the exact refine). Exact only in traced runs, where the refine
    * is kept out of the join condition. */
  def cellJoinRows(st: OpStats): Long = st.execs.map { case (_, qe, _) =>
    PlanWalk.nodes(qe).collect {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(a => a.name.startsWith("__") && a.name.endsWith("cell"))) =>
        PlanWalk.metric(j, "numOutputRows")
    }.sum
  }.sum

  /** Rows out of the explode of the build side's cell covers. */
  def coverRows(st: OpStats): Long = st.execs.map { case (_, qe, _) =>
    PlanWalk.nodes(qe).collect {
      case g: org.apache.spark.sql.execution.GenerateExec if g.generatorOutput.exists(_.name == "__pcell") =>
        PlanWalk.metric(g, "numOutputRows")
    }.sum
  }.sum

  def hasNode(st: OpStats, simpleName: String): Boolean =
    st.execs.exists { case (_, qe, _) => PlanWalk.named(qe, simpleName).nonEmpty }

  def sumMetric(st: OpStats, simpleName: String, key: String): Long =
    st.execs.map { case (_, qe, _) => PlanWalk.named(qe, simpleName).map(PlanWalk.metric(_, key)).sum }.sum

  /** Seconds of the query executions whose analysed plan samples its input
    * (the engine's hot-cell histogram job). */
  def sampleJobSeconds(st: OpStats): Double = st.execs.collect {
    case (_, qe, ns) if qe.analyzed.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Sample]) => ns / 1e9
  }.sum

  /** Keep the exact refine out of the join condition while tracing, so the
    * join node's row count is the candidate count. */
  def withCandidateCounting[T](body: => T): T =
    if (!h.trace) body
    else {
      val key = "spark.sql.optimizer.excludedRules"
      spark.conf.set(key, Seq("PushDownPredicates", "PushPredicateThroughJoin")
        .map("org.apache.spark.sql.catalyst.optimizer." + _).mkString(","))
      try body finally spark.conf.unset(key)
    }

  def addCount(key: String, v: Double): Unit = counters(key) += v
  def roundOpSeconds(s: Double): Unit = roundAcc += s

  // ---- shared check helpers ----
  val SampleMod = 487
  def sampled(id: Long): Boolean = Math.floorMod(id * 7919L + seed, SampleMod.toLong) == 0
  def sampledCol(idCol: Column): Column = pmod(idCol * 7919L + lit(seed), lit(SampleMod.toLong)) === 0

  def pairObs(left: String, right: String): Seq[Column] =
    Harness.fingerprint(col(left), col(right)) :+
      collect_list(when(sampledCol(col(right)), struct(col(right), col(left)))).as("sample")

  /** Compare a pair operation's observation (count, hash, sampled pairs)
    * with the expected pairs; returns an error text or None. */
  def comparePairs(row: Map[String, Any], want: Truth.Pairs): Option[String] = {
    val n = Harness.long(row("n")); val hs = Harness.long(row("h"))
    val got = mutable.Map.empty[Long, Set[Long]]
    row("sample").asInstanceOf[Seq[Row]].foreach(r => got(r.getLong(0)) = got.getOrElse(r.getLong(0), Set.empty) + r.getLong(1))
    val mismatched = want.sample.filter { case (doc, ps) => got.getOrElse(doc, Set.empty) != ps }
    if (n != want.n) Some(s"pair count $n, expected ${want.n}")
    else if (hs != want.hash) Some(s"pair hash $hs, expected ${want.hash}")
    else if (mismatched.nonEmpty) Some(s"${mismatched.size} sampled pages with wrong polygons, e.g. ${mismatched.head}")
    else if (got.keySet.exists(d => !want.sample.contains(d))) Some("pairs for a page outside the sample")
    else None
  }

  def pointWkb(x: Double, y: Double): Array[Byte] =
    new WKBWriter(2).write(new GeometryFactory().createPoint(new Coordinate(x, y)))
}

object Workload {
  /** Range conjuncts on point coordinates that the optimizer added: the
    * comparisons with a literal present in the optimised plan's filters but
    * not in the analysed plan's. */
  def derivedConjuncts(qe: org.apache.spark.sql.execution.QueryExecution): Int = {
    def ranges(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = p.collect {
      case Filter(cond, _) => split(cond).count {
        case GreaterThanOrEqual(a, b) => b.foldable && a.references.exists(_.name.endsWith("lon")) ||
          b.foldable && a.references.exists(_.name.endsWith("lat"))
        case LessThanOrEqual(a, b) => b.foldable && a.references.exists(_.name.endsWith("lon")) ||
          b.foldable && a.references.exists(_.name.endsWith("lat"))
        case _ => false
      }
    }.sum
    def split(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(a, b) => split(a) ++ split(b)
      case o => Seq(o)
    }
    math.max(0, ranges(qe.optimizedPlan) - ranges(qe.analyzed))
  }
}

/** Per-family op record shared by the join workloads. */
final class JoinFamily(val name: String) {
  val secs: ArrayBuffer[Double] = ArrayBuffer.empty
  var coverRows = 0L; var candidates = 0L; var matches = 0L; var jobs = 0L
  var broadcastBytes = 0L; var shuffleBytes = 0L; var runs = 0
  var hotCellSecs = 0.0; var hotCells = 0L; var taskSkew = 0.0
  def add(st: OpStats, w: Workload, secsOpt: Option[Double], out: Long): Unit = {
    secsOpt.foreach(secs += _)
    runs += 1
    coverRows += w.coverRows(st)
    candidates += w.cellJoinRows(st)
    matches += out
    jobs += st.jobs
    broadcastBytes += w.sumMetric(st, "BroadcastExchangeExec", "dataSize")
    shuffleBytes += st.shuffleWriteBytes
    taskSkew = math.max(taskSkew, st.taskSkew)
  }
  def per(v: Long): Double = if (runs == 0) 0.0 else v.toDouble / runs
  def metrics(prefix: String): Seq[(String, Metric)] = Seq(
    s"$prefix${name}_s" -> Metric(Harness.median(secs.toSeq), "s"),
    s"$prefix$name.cover_rows" -> Metric(per(coverRows), "rows"),
    s"$prefix$name.candidates" -> Metric(per(candidates), "rows"),
    s"$prefix$name.matches" -> Metric(per(matches), "rows"),
    s"$prefix$name.jobs" -> Metric(per(jobs), "count"))
}
