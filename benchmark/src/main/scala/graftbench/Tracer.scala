package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. Times are nanoseconds since the
  * tracer was created; `parent` is the id of the enclosing span. */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long,
                      attrs: Map[String, Any])

/** Records spans around every call the harness makes into a layer.
  *
  * Spans are always kept (two `nanoTime` reads and an append), because
  * the end-to-end timings are read from them. With `traced` set the
  * tracer also:
  *  - tags every Spark job with the innermost open span (a local
  *    property, read back in `onJobStart`), so jobs, stages and task
  *    metrics can be charged to the layer that started them;
  *  - snapshots the process-wide codegen accumulators
  *    (`CodeGenerator.compileTime`, `WholeStageCodegenExec.codeGenTime`)
  *    at each span boundary;
  *  - records the planning phases of every executed query (phase,
  *    start in ms since the tracer started, duration in ms);
  *  - measures its own cost: time spent in span bookkeeping on the
  *    driver thread and in the listener callbacks.
  * Listener events arrive asynchronously; `counters` is only complete
  * after `SparkSession.stop()`, which drains the listener bus. */
final class Tracer(val runId: String, val traced: Boolean) {
  private val t0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private var bookkeepingNs = 0L
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  private var session: Option[SparkSession] = None

  def now(): Long = System.nanoTime() - t0

  private def codegenNs(): (Long, Long) =
    (CodeGenerator.compileTime, WholeStageCodegenExec.codeGenTime)

  /** Attaches the Spark listeners (traced runs only). */
  def attach(spark: SparkSession): Unit = if (traced) {
    session = Some(spark)
    codegenNs() // loads the codegen classes here, not in the first span
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters.planning)
    stack.headOption.foreach(tag)
  }

  private def tag(id: Int): Unit =
    session.foreach(_.sparkContext.setLocalProperty(Tracer.SpanProperty, id.toString))

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T = {
    val enter = System.nanoTime()
    val id = nextId
    nextId += 1
    val cg0 = if (session.isDefined) Some(codegenNs()) else None
    stack.push(id)
    tag(id)
    val start = now()
    bookkeepingNs += System.nanoTime() - enter
    try body
    finally {
      val end = now()
      val leave = System.nanoTime()
      stack.pop()
      tag(stack.headOption.getOrElse(0))
      val cg = cg0.map { case (c0, w0) =>
        val (c1, w1) = codegenNs()
        Map("codegen_compile_ns" -> (c1 - c0), "wscg_codegen_ns" -> (w1 - w0))
      }.getOrElse(Map.empty)
      done += Span(id, name, stack.headOption.getOrElse(0), start, end,
        attrs.toMap ++ cg)
      bookkeepingNs += System.nanoTime() - leave
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  val counters = new Tracer.Counters(epochMs0)

  def payload(): Map[String, Any] = Map(
    "run_id" -> runId,
    "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs)),
    "counters" -> counters.snapshot(),
    "tracer_self_ns" -> Map("driver" -> bookkeepingNs, "listener" -> counters.handlerNs),
    "codegen_total_ns" -> Map("compile" -> CodeGenerator.compileTime,
      "wscg" -> WholeStageCodegenExec.codeGenTime))
}

object Tracer {
  val SpanProperty = "graftbench.span"

  /** Job/stage/task totals per span id, from the public listener API. */
  final class Counters(epochMs0: Long) extends SparkListener {
    final class Agg {
      var jobs = 0L; var stages = 0L; var tasks = 0L
      var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
      var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
      def toMap: Map[String, Long] = Map("jobs" -> jobs, "stages" -> stages,
        "tasks" -> tasks, "task_run_ms" -> runMs, "task_cpu_ns" -> cpuNs,
        "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
        "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill)
    }
    private val perSpan = mutable.Map.empty[Int, Agg]
    private val stageSpan = mutable.Map.empty[Int, Int]
    private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
    private var queries = 0L
    @volatile var handlerNs = 0L

    private def agg(span: Int) = perSpan.getOrElseUpdate(span, new Agg)

    private def timed(body: => Unit): Unit = {
      val t = System.nanoTime()
      body
      handlerNs += System.nanoTime() - t
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(timed {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(0)
      agg(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    })

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized(timed {
      agg(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
    })

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized(timed {
      val a = agg(stageSpan.getOrElse(e.stageId, 0))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
      }
    })

    /** Planning phases (analysis, optimization, planning) of every
      * query that ran an action, from its `QueryPlanningTracker`. */
    val planning: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = Counters.this.synchronized(timed {
        queries += 1
        qe.tracker.phases.foreach { case (phase, s) =>
          phases += ((phase, s.startTimeMs - epochMs0, s.endTimeMs - s.startTimeMs))
        }
      })
    }

    def snapshot(): Map[String, Any] = synchronized {
      Map("per_span" -> perSpan.map { case (k, v) => k.toString -> v.toMap }.toMap,
        "planning" -> phases.map { case (p, start, d) => Seq(p, start, d) }.toSeq,
        "queries" -> queries)
    }
  }
}
