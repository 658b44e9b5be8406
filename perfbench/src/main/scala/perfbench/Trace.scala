package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted for one job-group tag or one SQL execution. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L

  /** Adds `sign` times the counts of `o`. */
  def add(o: Counters, sign: Int = 1): Unit = {
    jobs += sign * o.jobs; stages += sign * o.stages; tasks += sign * o.tasks
    taskRunMs += sign * o.taskRunMs; taskCpuNs += sign * o.taskCpuNs
    inputBytes += sign * o.inputBytes; shuffleBytes += sign * o.shuffleBytes
    spillBytes += sign * o.spillBytes; bytesWritten += sign * o.bytesWritten
  }
}

/** Listener side of a traced run: a `SparkListener` that counts jobs,
  * stages and task metrics per job-group tag (the tag the harness sets
  * around each call into the program) and per SQL execution, and a
  * `QueryExecutionListener` that records each file write's output path and
  * duration. Nothing here is registered in an untraced run. */
final class Trace extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.Map[String, Counters]()
  private val byExec = mutable.Map[Long, Counters]()
  private val stageOwner = mutable.Map[Int, (String, Long)]()
  private val rootOf = mutable.Map[Long, Long]()
  /** Output path of each SQL execution that writes files. */
  private val writePath = mutable.Map[Long, String]()
  /** (output path, duration ns) of every completed write. */
  private val writes = mutable.ArrayBuffer[(String, Long)]()

  private def group(g: String) = byGroup.getOrElseUpdate(g, new Counters)
  private def exec(e: Long) = byExec.getOrElseUpdate(e, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("untagged")
    val x = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    group(g).jobs += 1
    if (x >= 0) exec(x).jobs += 1
    e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (g, x)))
  }

  private def owners(stageId: Int): Seq[Counters] =
    stageOwner.get(stageId).toSeq.flatMap { case (g, x) =>
      group(g) +: (if (x >= 0) Seq(exec(x)) else Nil)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    owners(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) owners(e.stageId).foreach { c =>
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized {
        rootOf(s.executionId) = s.rootExecutionId.getOrElse(s.executionId)
        Trace.WritePath.findFirstMatchIn(s.physicalPlanDescription)
          .foreach(m => writePath(s.executionId) = m.group(1))
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val path = qe.analyzed.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }
    path.foreach(p => synchronized { writes += ((p, durationNs)) })
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def forGroup(g: String): Counters = synchronized { byGroup.getOrElse(g, new Counters) }

  /** Counters and summed duration of the writes whose output path matches. */
  def forWrites(pathMatches: String => Boolean): (Counters, Double) = synchronized {
    val roots = writePath.collect { case (x, p) if pathMatches(p) => rootOf.getOrElse(x, x) }.toSet
    val total = new Counters
    byExec.foreach { case (x, c) =>
      if (roots.contains(rootOf.getOrElse(x, x))) total.add(c)
    }
    (total, writes.collect { case (p, d) if pathMatches(p) => d }.sum / 1e9)
  }
}

object Trace {
  /** The output path in a file write's formatted physical plan description:
    * the first argument of the InsertIntoHadoopFsRelationCommand node. */
  private val WritePath =
    "(?s)\\(\\d+\\) Execute InsertIntoHadoopFsRelationCommand\\s.*?Arguments: ([^,\\s]+)".r
}

/** Spans recorded around the harness's own calls into the program: name,
  * start, end, parent, and a trace id shared by the spans of one pipeline
  * cycle, refresh or pass. Kept in memory and written out when the run
  * ends. Disabled, every method just runs its body. */
final class Spans(enabled: Boolean) {
  import Spans.Span

  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var traceId = -1
  private var nextId = 0

  private def push(): Int = { val id = nextId; nextId += 1; id }

  def root[T](name: String, trace: Int)(body: => T): T = {
    traceId = trace
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = push()
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, traceId, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** A span whose bounds were observed from a callback, under the current span. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) done += Span(push(), traceId, stack.headOption.getOrElse(-1), name, startNs, endNs)

  def total(name: String): Double =
    done.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9

  def toJson(baseNs: Long): Seq[Map[String, Any]] = done.sortBy(_.startNs).map { s =>
    Map("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> (s.startNs - baseNs) / 1e9, "end_s" -> (s.endNs - baseNs) / 1e9)
  }.toSeq
}

object Spans {
  private final case class Span(id: Int, trace: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)
}
