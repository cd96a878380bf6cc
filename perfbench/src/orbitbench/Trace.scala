package orbitbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One closed span: a call from the benchmark into one engine layer. */
final case class Span(
    id: Long,
    parent: Long,
    layer: String,
    name: String,
    op: String,
    startNs: Long,
    endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory tracer for the traced run. Spans are recorded around the
  * benchmark's own calls into each layer (name, start, end, parent,
  * op id). Nothing is
  * recorded unless [[on]] is set, so the untraced run pays one
  * volatile read per call.
  */
object Trace {
  @volatile var on: Boolean = false

  private val nextId = new AtomicLong(1L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val opId = new ThreadLocal[String] { override def initialValue(): String = "" }

  /** Run `f` as one span of `layer`. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), layer, name, opId.get(), t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  /** Tag the calling thread's spans and Spark jobs with operation `op`
    * (e.g. `rag:17`), the trace's request id. While tracing is off the
    * jobs carry no op, so the listener leaves them out.
    */
  def beginOp(spark: SparkSession, op: String): Unit = {
    opId.set(op)
    spark.sparkContext.setLocalProperty(OpProperty, if (on) op else "")
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  def reset(): Unit = spans.clear()

  val OpProperty = "orbitbench.op"

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its child spans (children of one span never
    * overlap — they run on the parent's thread).
    */
  def selfNsByLayer(all: Seq[Span]): Map[String, Long] = {
    val childNs = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent != 0L) childNs(s.parent) += s.durNs)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => math.max(0L, s.durNs - childNs(s.id))).sum
    }
  }

  /** Spans as JSON lines, for offline inspection. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try allSpans.sortBy(_.startNs).foreach { s =>
      w.write(Json.obj(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      w.newLine()
    } finally w.close()
  }
}

/** Spark runtime figures of one kind of operation (e.g. `rag`, `build`). */
final class OpStats {
  val jobs = new LongAdder
  val tasks = new LongAdder
  val runNs = new LongAdder
  val gcMs = new LongAdder
  val shuffleBytes = new LongAdder
  val spillBytes = new LongAdder
  /** SQL executions that ran jobs. */
  val executions = new LongAdder
  val analysisMs = new LongAdder
  val planMs = new LongAdder
  val execMs = new LongAdder
  /** Rows and files read by the executed plans' file scans. */
  val scanRows = new LongAdder
  val scanFiles = new LongAdder
  /** Rows fed into the plans' sort-limit top-k nodes. */
  val topKInputRows = new LongAdder
}

/** Spark runtime observed through a public `SparkListener`. Every event
  * is attributed to the operation whose op property
  * ([[Trace.beginOp]]) its job carried: tasks through their stage, SQL
  * executions through their id. Operations run while tracing is off
  * carry no op and are not counted, so no recording flag has to flip
  * while the asynchronous bus still delivers earlier events. Per op
  * kind it sums jobs, tasks, task time, shuffle, spill and GC, and at
  * each SQL execution's end the Catalyst phase times (from the
  * QueryPlanningTracker) and the executed plan's scan and top-k input
  * rows.
  */
final class RuntimeListener extends SparkListener {
  private val byKind = new ConcurrentHashMap[String, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val executionOp = new ConcurrentHashMap[Long, String]()
  private val executionStartMs = new ConcurrentHashMap[Long, java.lang.Long]()
  /** Events seen, attributed or not — lets [[drain]] see the bus settle. */
  private val seen = new LongAdder

  /** Figures of the ops of `kind` (the op id up to its `:`). */
  def stats(kind: String): OpStats = byKind.computeIfAbsent(kind, _ => new OpStats)

  private def kindOf(op: String): String = op.takeWhile(_ != ':')

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    seen.increment()
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Trace.OpProperty))).getOrElse("")
    if (op.nonEmpty) {
      stats(kindOf(op)).jobs.increment()
      e.stageIds.foreach(stageOp.put(_, op))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).foreach { x =>
        if (executionOp.putIfAbsent(x.toLong, op) == null) stats(kindOf(op)).executions.increment()
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    seen.increment()
    val op = stageOp.get(e.stageId)
    if (op != null && e.taskMetrics != null) {
      val s = stats(kindOf(op))
      val m = e.taskMetrics
      s.tasks.increment()
      s.runNs.add(m.executorRunTime * 1000000L)
      s.gcMs.add(m.jvmGCTime)
      s.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      s.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      seen.increment()
      executionStartMs.put(e.executionId, e.time)
    case e: SparkListenerSQLExecutionEnd =>
      seen.increment()
      val op = executionOp.remove(e.executionId)
      val startMs = Option(executionStartMs.remove(e.executionId))
      // the event's QueryExecution is not public API; a missing one
      // (failed or replayed execution) leaves the phase figures out.
      // A successful execution's error message is empty or absent.
      val qe = scala.util.Try(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution]).toOption
      for (o <- Option(op); q <- qe.flatMap(Option(_)) if e.errorMessage.forall(_.isEmpty)) {
        val s = stats(kindOf(o))
        val phases = q.tracker.phases
        def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
        s.analysisMs.add(ms("analysis"))
        s.planMs.add(ms("optimization") + ms("planning"))
        startMs.foreach(t => s.execMs.add(e.time - t))
        val (files, rows) = Util.scanStats(q.executedPlan)
        s.scanFiles.add(files)
        s.scanRows.add(rows)
        s.topKInputRows.add(Util.topKInputRows(q.executedPlan))
      }
    case _ =>
  }

  /** Wait until the asynchronous listener bus has delivered what the
    * measured phase posted (no new events for 300 ms, at most 5 s).
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while (System.nanoTime() < deadline && seen.sum() != last) {
      last = seen.sum()
      Thread.sleep(300)
    }
  }
}
