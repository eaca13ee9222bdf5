package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Wall clock shared by spans, ops and listener events: epoch
  * milliseconds with sub-millisecond digits, so span bounds and Spark's
  * event times (epoch ms) sit on one axis. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** Spans recorded around the calls the benchmark makes into each layer.
  * Kept in memory and written out with the result at exit. With
  * tracing off `span` only runs its body. */
final class Spans(enabled: Boolean) {
  final case class Span(id: Int, name: String, start: Double, end: Double,
                        parent: Int, op: Int)

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = Clock.nowMs
      try body
      finally {
        stack = stack.tail
        done += Span(id, name, start, Clock.nowMs, parent, op)
      }
    }

  def toJson: Seq[Map[String, Any]] = done.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
    "parent" -> s.parent, "op" -> s.op))
}

/** Listener counters for the traced run: every job with its call site
  * and SQL execution, every completed stage's task metrics, and every
  * SQL execution's write target and scanned locations. */
final class Counters extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[Int, Map[String, Any]]
  private val execs = mutable.LinkedHashMap.empty[Long, mutable.Map[String, Any]]

  // plans are in Spark's "formatted" explain mode: node headers, then
  // one detail block per node, the write node first
  private val WriteTarget =
    """Execute InsertIntoHadoopFsRelationCommand\s*\n(?:[^\n]*\n)*?Arguments: (\S+?),""".r
  private val ScanLocation = """Location: \w+ \[([^\]]*)\]""".r

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val resultStage = e.stageInfos.maxBy(_.stageId)
    jobs(e.jobId) = mutable.Map(
      "id" -> e.jobId, "start" -> e.time.toDouble,
      "callsite" -> resultStage.name,
      "exec" -> Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L),
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end") = e.time.toDouble
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val m = e.stageInfo.taskMetrics
    if (m != null) stages(e.stageInfo.stageId) = Map(
      "tasks" -> e.stageInfo.numTasks,
      "task_ms" -> m.executorRunTime,
      "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_bytes" -> m.inputMetrics.bytesRead,
      "output_bytes" -> m.outputMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val plan = s.physicalPlanDescription
      execs(s.executionId) = mutable.Map(
        "id" -> s.executionId, "start" -> s.time.toDouble,
        "callsite" -> s.description,
        "write" -> WriteTarget.findFirstMatchIn(plan).map(_.group(1)).getOrElse(""),
        "scans" -> ScanLocation.findAllMatchIn(plan).map(_.group(1)).toSeq.distinct)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_("end") = s.time.toDouble)
    }
    case _ =>
  }

  def toJson: Map[String, Any] = synchronized(Map(
    "jobs" -> jobs.values.map(_.toMap).toSeq,
    "stages" -> stages.map { case (k, v) => k.toString -> v }.toMap,
    "execs" -> execs.values.map(_.toMap).toSeq))
}

/** Minimal JSON writer for the result record (maps, sequences, strings,
  * numbers, booleans, options). */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d))
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.toSeq.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        str(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(sb, x) }
      sb += ']'
    case other => str(sb, other.toString)
  }
}
