package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did for one operation: jobs, tasks, bytes, and the query
  * executions (with their executed plans) it ran. Filled by [[Tracker]]. */
final class OpStats(val name: String) {
  var jobs = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  val stageTaskMs: mutable.Map[Int, ArrayBuffer[Long]] = mutable.Map.empty
  val stageShuffleRead: mutable.Map[Int, Long] = mutable.Map.empty
  val execs: ArrayBuffer[(String, QueryExecution, Long)] = ArrayBuffer.empty

  /** Slowest over median task time in the stage that read the most shuffle
    * data (the reduce side of a shuffled join); 1.0 without such a stage. */
  def taskSkew: Double = {
    val reduce = stageShuffleRead.filter(_._2 > 0)
    if (reduce.isEmpty) 1.0
    else {
      val ms = stageTaskMs(reduce.maxBy(_._2)._1).sorted
      val med = math.max(1L, ms(ms.length / 2))
      ms.last.toDouble / med
    }
  }
}

/** Spark listener plus query-execution listener, registered by the
  * benchmark itself. Events are attributed to the operation that is
  * current when they are delivered; the harness drains the listener bus
  * at every operation boundary, so no event crosses into the next one. */
final class Tracker extends SparkListener with QueryExecutionListener {
  @volatile var current: OpStats = new OpStats("idle")
  private val stageOwner = mutable.Map.empty[Int, OpStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = current
    op.jobs += 1
    e.stageIds.foreach(s => stageOwner(s) = op)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOwner.getOrElse(e.stageId, current)
    op.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      op.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      op.inputBytes += m.inputMetrics.bytesRead
      op.stageShuffleRead(e.stageId) =
        op.stageShuffleRead.getOrElse(e.stageId, 0L) + m.shuffleReadMetrics.totalBytesRead
    }
    op.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.remove(e.stageInfo.stageId)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    current.execs += ((funcName, qe, durationNs))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** A span recorded by the traced run around one layer call. */
final case class Span(name: String, parent: Int, startNs: Long, var endNs: Long)

/** Walks executed plans, adaptive stages and subqueries included. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def nodes(qe: QueryExecution): Seq[SparkPlan] =
    collectWithSubqueries(qe.executedPlan) { case p => p }
  def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)
  def named(qe: QueryExecution, simpleName: String): Seq[SparkPlan] =
    nodes(qe).filter(_.getClass.getSimpleName == simpleName)
}

/** Metric value printed by the benchmark. */
final case class Metric(value: Double, unit: String)

/** The run's context: session, options, tracker, spans and failure count. */
final class Harness(val spark: SparkSession, val seed: Long, val trace: Boolean, val tracker: Tracker) {
  var attempted = 0
  var failed = 0
  val problems: ArrayBuffer[String] = ArrayBuffer.empty
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var openSpan = -1

  /** Record a failed correctness check or premise. */
  def problem(msg: String): Unit = { problems += msg; System.err.println(s"CHECK FAILED: $msg") }
  def correct: Boolean = problems.isEmpty

  /** Run `body` inside a span when tracing (spans cost nothing otherwise). */
  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val s = Span(name, openSpan, System.nanoTime(), 0L)
      spans += s
      val idx = spans.length - 1
      val saved = openSpan
      openSpan = idx
      try body finally { s.endNs = System.nanoTime(); openSpan = saved }
    }

  /** Self time per span name: own duration minus that of direct children. */
  def selfSeconds: Map[String, Double] = {
    val child = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    spans.indices.groupBy(i => spans(i).name).map { case (n, is) =>
      n -> is.map(i => spans(i).endNs - spans(i).startNs - child(i)).sum / 1e9
    }
  }

  /**
   * One timed operation. `body` builds the engine's DataFrame and
   * materialises it; its wall time is returned, or None when it throws (an
   * operation that throws is a failed operation and its time is dropped).
   * The listener bus is drained after the clock stops, so the returned
   * stats hold every job, task and query execution of this operation.
   */
  def op(name: String, counted: Boolean = true)(body: => Unit): (Option[Double], OpStats) = {
    val stats = new OpStats(name)
    BusShim.drain(spark.sparkContext)
    tracker.current = stats
    if (counted) attempted += 1
    val t0 = System.nanoTime()
    val ok = try { span(name)(body); true } catch {
      case e: Throwable =>
        System.err.println(s"OPERATION FAILED: $name: $e")
        false
    }
    val secs = (System.nanoTime() - t0) / 1e9
    BusShim.drain(spark.sparkContext)
    tracker.current = new OpStats("idle")
    if (!ok && counted) failed += 1
    System.err.println(f"perfbench: $name%-28s $secs%8.3f s${if (ok) "" else " FAILED"}")
    (if (ok) Some(secs) else None, stats)
  }

  /** Mark an operation whose output failed its check as failed. */
  def failOp(name: String, why: String): Unit = {
    failed += 1
    problem(s"$name: $why")
  }
}

object Harness {
  /** Materialise every column through Spark's `noop` sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Attach an observation (aggregates over the output rows, computed in
    * the same pass that writes them) to `df`. */
  def observe(df: DataFrame, exprs: Column*): (DataFrame, Observation) = {
    val o = Observation()
    (df.observe(o, exprs.head, exprs.tail: _*), o)
  }

  val HashMask: Long = (1L << 36) - 1

  /** Order-independent fingerprint of rows of long keys: the sum of a
    * masked 64-bit hash of each row, plus the row count. */
  def fingerprint(keys: Column*): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(xxhash64(keys: _*).bitwiseAND(lit(HashMask))), lit(0L)).as("h"))

  /** Benchmark-side twin of [[fingerprint]]'s hash for one row of longs. */
  def hashLongs(keys: Long*): Long = {
    var h = 42L
    keys.foreach(k => h = XXH64.hashLong(k, h))
    h & HashMask
  }

  def long(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case null => 0L
    case other => other.toString.toLong
  }

  /** Peak resident set size of this JVM, MB (VmHWM). */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def metricsJson(ms: Seq[(String, Metric)]): String =
    ms.map { case (k, m) => s"${jsonStr(k)}: {\"value\": ${jsonNum(m.value)}, \"unit\": ${jsonStr(m.unit)}}" }
      .mkString("{", ", ", "}")

  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }
}
