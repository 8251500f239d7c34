package perfbench

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed span. `parent` is the id of the enclosing span (-1 at the
  * root); spans of one pipeline run share `run`. `compiles` counts the
  * generated classes Spark compiled while the span was open.
  */
final case class Span(id: Int, name: String, parent: Int, run: Int, startNs: Long, endNs: Long,
    compiles: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counters of one span, summed over the tasks of the jobs that
  * ran under its job group.
  */
final class Counters {
  var jobs = 0L
  var taskNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var mapTaskNs = 0L
  var resultTaskNs = 0L
  var codegenFallbacks = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; taskNs += o.taskNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    mapTaskNs += o.mapTaskNs; resultTaskNs += o.resultTaskNs
    codegenFallbacks += o.codegenFallbacks
  }
}

/** Records spans around the calls the benchmark makes, and attributes
  * Spark's own counters to them from outside the program: each span sets
  * its id as the job group, a SparkListener sums task metrics per job
  * group, Spark's codegen metrics count compiled classes, and a log
  * appender counts generated-code compile failures (the engine then falls
  * back to interpreted evaluation) while the span is open. Spans stay in
  * memory; `spansJson` renders them once, at the end of the process.
  */
final class Tracer(sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long, Long)]
  private var nextId = 0
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile private var current: String = null
  @volatile private var jobsStarted = 0L
  @volatile private var jobsEnded = 0L

  private def countersOf(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null) {
        e.stageIds.foreach(stageGroup.put(_, g))
        val c = countersOf(g)
        c.synchronized { c.jobs += 1 }
      }
      jobsStarted += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      val m = e.taskMetrics
      if (g != null && m != null) {
        val c = countersOf(g)
        c.synchronized {
          val runNs = m.executorRunTime * 1000000L
          c.taskNs += runNs
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
          if (e.taskType == "ShuffleMapTask") c.mapTaskNs += runNs else c.resultTaskNs += runNs
        }
      }
    }
  })

  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val g = current
      if (g != null && e.getMessage.getFormattedMessage.startsWith("Failed to compile")) {
        val c = countersOf(g)
        c.synchronized { c.codegenFallbacks += 1 }
      }
    }
  }
  appender.start()
  LogManager.getLogger("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
    .asInstanceOf[CoreLogger].addAppender(appender)

  private def group(id: Int): String = s"perfbench-$id"

  private def compilations: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` inside a span named `name`, child of the innermost open span. */
  def span[T](name: String, run: Int)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, System.nanoTime(), compilations) :: open
    sc.setJobGroup(group(id), name)
    current = group(id)
    try body
    finally {
      val (_, _, start, compiles) = open.head
      open = open.tail
      spans += Span(id, name, parent, run, start, System.nanoTime(), compilations - compiles)
      open.headOption match {
        case Some((pid, pname, _, _)) =>
          sc.setJobGroup(group(pid), pname); current = group(pid)
        case None =>
          sc.clearJobGroup(); current = null
      }
    }
  }

  /** Waits (untimed) until the listener bus has delivered the end of
    * every job started so far; task-end events precede their job's end.
    */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var stable = 0
    var last = -1L
    while (System.nanoTime() < deadline && stable < 3) {
      Thread.sleep(50)
      val started = jobsStarted
      if (started == jobsEnded && started == last) stable += 1 else stable = 0
      last = started
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Counters of `span` and all its descendants. */
  def counters(span: Span): Counters = {
    val total = new Counters
    def visit(s: Span): Unit = {
      Option(byGroup.get(group(s.id))).foreach(total.add)
      spans.filter(_.parent == s.id).foreach(visit)
    }
    visit(span)
    total
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.run},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"compiles":${s.compiles}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  def close(): Unit = {
    LogManager.getLogger("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
      .asInstanceOf[CoreLogger].removeAppender(appender)
    appender.stop()
  }
}
