package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Task counters of one slice of Spark work: a SQL execution or a whole op. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var bytesWritten = 0L
  var rowsWritten = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    cpuNs += m.executorCpuTime
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    bytesWritten += m.outputMetrics.bytesWritten
    rowsWritten += m.outputMetrics.recordsWritten
  }

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    bytesWritten += o.bytesWritten; rowsWritten += o.rowsWritten
  }

  /** This minus an earlier snapshot; the peak is kept as is. */
  def since(o: Counters): Counters = {
    val c = new Counters
    c.jobs = jobs - o.jobs; c.stages = stages - o.stages; c.tasks = tasks - o.tasks
    c.cpuNs = cpuNs - o.cpuNs; c.shuffleWriteBytes = shuffleWriteBytes - o.shuffleWriteBytes
    c.spillBytes = spillBytes - o.spillBytes; c.peakExecMem = peakExecMem
    c.bytesWritten = bytesWritten - o.bytesWritten; c.rowsWritten = rowsWritten - o.rowsWritten
    c
  }

  def cpuS: Double = cpuNs / 1e9
}

/** One SQL execution as the listener saw it. `site` is the innermost
  * library frame that ran the action ("KeyedSink.writeSalted"), `action`
  * the Dataset method ("parquet", "count", "collect").
  */
final case class Execution(id: Long, root: Long, site: String, action: String,
    startMs: Long, var endMs: Long, counters: Counters)

/** Spark listener the benchmark registers itself: attributes every task to
  * its SQL execution (through job → stage), and keeps whole-process totals.
  * Events arrive asynchronously; call [[BenchBus.drain]] before reading.
  */
final class Meter extends SparkListener {
  private val executions = mutable.LinkedHashMap.empty[Long, Execution]
  private val stageExec = mutable.HashMap.empty[Int, Long]
  private var total = new Counters

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    val ex = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageExec(s) = ex)
    executions.get(ex).foreach(_.counters.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    stageExec.get(e.stageInfo.stageId).flatMap(executions.get)
      .foreach(_.counters.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      total.add(m)
      stageExec.get(e.stageId).flatMap(executions.get).foreach(_.counters.add(m))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId) = Execution(s.executionId,
        s.rootExecutionId.getOrElse(s.executionId), Meter.site(s.details),
        s.description.takeWhile(_ != ' '), s.time, -1L, new Counters)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      executions.get(x.executionId).foreach(_.endMs = x.time)
    }
    case _ =>
  }

  /** Whole-process totals so far; the caller subtracts two snapshots. */
  def totals: Counters = synchronized { val c = new Counters; c += total; c }

  /** Restart the running peak so the next op reports its own. */
  def resetPeak(): Unit = synchronized { total.peakExecMem = 0L }

  /** Executions that started inside [fromMs, toMs], in start order. */
  def executionsBetween(fromMs: Long, toMs: Long): Seq[Execution] = synchronized {
    executions.values.filter(x => x.startMs >= fromMs && x.startMs <= toMs).toList
  }

  /** Drop execution records older than `ms`: a long run would otherwise
    * keep one per SQL execution for its whole life.
    */
  def forgetBefore(ms: Long): Unit = synchronized {
    executions.filterInPlace((_, x) => x.startMs >= ms)
  }
}

object Meter {
  private val Frame = """^\s*(?:at\s+)?graft\.(?:[\w]+\.)*([\w$]+)\.([\w$]+)\(\w+\.scala:\d+\)""".r

  /** "graft.sources.KeyedSink$.writeSalted(KeyedSink.scala:37)" →
    * "KeyedSink.writeSalted"; closures ("$anonfun$buildFrom$3") name their
    * enclosing method. The long call-site form lists frames innermost
    * first, so the first library frame is the one that ran the action.
    */
  def site(details: String): String =
    details.linesIterator.collectFirst { case Frame(cls, method) =>
      val m = method.stripPrefix("$anonfun$").takeWhile(_ != '$')
      s"${cls.stripSuffix("$")}.$m"
    }.getOrElse("other")
}
