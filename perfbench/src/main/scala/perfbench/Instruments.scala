package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.types._

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Spark listener that sums job, stage and task counters. The benchmark
  * runs one operation at a time, so the difference of two snapshots taken
  * around an operation (after draining the bus) is that operation's work. */
final class Probe extends SparkListener {
  private val c = Array.fill(11)(new AtomicLong)
  private val (jobs, stages, tasks, failed, runMs, cpuNs, gcMs, inB, shR, shW, spill) =
    (c(0), c(1), c(2), c(3), c(4), c(5), c(6), c(7), c(8), c(9), c(10))

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskInfo != null && !e.taskInfo.successful) failed.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inB.addAndGet(m.inputMetrics.bytesRead)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(sc: SparkContext): Array[Long] = {
    org.apache.spark.perfbenchbridge.Bridge.drainListenerBus(sc)
    c.map(_.get)
  }
}

object Probe {
  /** Named difference of two snapshots, in the result file's units. */
  def delta(a: Array[Long], b: Array[Long]): Map[String, Double] = {
    val d = b.zip(a).map { case (x, y) => (x - y).toDouble }
    Map("jobs" -> d(0), "stages" -> d(1), "tasks" -> d(2), "failed_tasks" -> d(3),
      "task_run_s" -> d(4) / 1e3, "task_cpu_s" -> d(5) / 1e9, "gc_s" -> d(6) / 1e3,
      "input_bytes" -> d(7), "shuffle_read_bytes" -> d(8),
      "shuffle_write_bytes" -> d(9), "spill_bytes" -> d(10))
  }

  /** (shuffle exchanges, range-partitioned ones) in a final AQE plan. */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    var all = 0
    var range = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: ShuffleExchangeLike =>
        all += 1
        if (e.outputPartitioning.isInstanceOf[RangePartitioning]) range += 1
        e.children.foreach(walk)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (all, range)
  }
}

/** Spans recorded at the benchmark's calls into each layer. Kept in memory
  * and written as JSONL when the run ends. Recording starts at [[start]]
  * (after set-up) and only if `requested`; until then a call costs one
  * branch. */
final class Tracer(requested: Boolean) {
  private var enabled = false
  def start(): Unit = enabled = requested

  final case class Span(id: Int, parent: Int, name: String, layer: String,
      op: String, start: Long, end: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var next = 1
  private val t0 = System.nanoTime()

  def apply[T](name: String, layer: String, op: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.head
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, layer, op, s - t0, System.nanoTime() - t0)
      }
    }

  /** A span whose bounds (absolute `System.nanoTime` values) were taken
    * inside a call the benchmark cannot wrap; parented like [[apply]]. */
  def record(name: String, layer: String, op: String, start: Long, end: Long): Unit =
    if (enabled) {
      spans += Span(next, stack.head, name, layer, op, start - t0, end - t0)
      next += 1
    }

  def jsonl: Iterator[String] = spans.iterator.map { s =>
    Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "op" -> s.op, "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9))
  }

  /** Self time per layer: each span's duration minus its children's. */
  def selfTimes: Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.end - s.start) - childTime.getOrElse(s.id, 0L)).sum / 1e9
    }
  }
}

/** Canonical, type-tagged digest of a collected result, spelled exactly
  * like the Python side spells a DuckDB result: columns sorted by name,
  * doubles by their bits, strings length-prefixed. */
object Digest {
  def tag(t: DataType): String = t match {
    case LongType => "int64"
    case IntegerType => "int32"
    case ShortType => "int16"
    case ByteType => "int8"
    case DoubleType => "float64"
    case FloatType => "float32"
    case StringType => "string"
    case BooleanType => "bool"
    case DateType => "date"
    case TimestampType | TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case a: ArrayType => s"list<${tag(a.elementType)}>"
    case _: StructType => "struct"
    case other => "!" + other.simpleString
  }

  def cell(v: Any): String = v match {
    case null => "N"
    case s: String => s"S${s.getBytes("UTF-8").length}:$s"
    case d: Double => "D" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    case f: Float =>
      "D" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(f.toDouble))
    case b: Boolean => if (b) "B1" else "B0"
    case n: Long => "I" + n
    case n: Int => "I" + n
    case n: Short => "I" + n
    case n: Byte => "I" + n
    case d: java.math.BigDecimal => "M" + d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => cell(d.bigDecimal)
    case d: java.sql.Date => "T" + d.toLocalDate
    case d: java.time.LocalDate => "T" + d
    case t: java.sql.Timestamp =>
      "U" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "U" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      cell(t.toInstant(java.time.ZoneOffset.UTC))
    case r: Row => r.toSeq.map(cell).mkString("R[", ",", "]")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("L[", ",", "]")
    case b: Array[Byte] => "X" + b.map("%02x".format(_)).mkString
    case other => "?" + other.toString
  }

  /** (column name → tag in name order, row count, sha-256 hex). */
  def of(schema: StructType, rows: Array[Row]): (Seq[(String, String)], Long, String) = {
    val order = schema.fields.zipWithIndex.sortBy(_._1.name)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) md.update('\n'.toByte)
      md.update(order.map { case (_, j) => cell(r.get(j)) }.mkString("\u001f").getBytes("UTF-8"))
    }
    (order.map { case (f, _) => f.name -> tag(f.dataType) }.toSeq, rows.length.toLong,
      md.digest().map("%02x".format(_)).mkString)
  }
}
