package org.apache.spark.graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region at a layer boundary. `counts` holds the listener
  * counters attributed to this span while it was the innermost open span
  * of the thread that submitted the work.
  */
final class Span(val id: Int, val parent: Int, val name: String, val start: Long) {
  @volatile var end: Long = -1L
  val counts: mutable.Map[String, Double] = mutable.Map.empty
  def add(key: String, v: Double): Unit = counts.synchronized {
    counts(key) = counts.getOrElse(key, 0.0) + v
  }
}

/** In-memory span recorder plus the listeners that feed it. Work is
  * attributed through the `graftbench.span` local property, which each
  * client thread sets to its innermost open span; Spark copies local
  * properties into every job it submits, so `onJobStart` finds the span
  * even when four clients share one session. Jobs that carry no span
  * land on the run span (id 0).
  *
  * Lives in an `org.apache.spark` package because draining the listener
  * bus (`waitUntilEmpty`) is `private[spark]`.
  */
final class Tracer(sc: SparkContext, t0: Long) extends SparkListener {
  private val nextId = new AtomicInteger(1)
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  val root = new Span(0, -1, "run", 0L)
  spans.put(0, root)

  private def now: Long = System.nanoTime() - t0

  def open(name: String, parent: Span): Span = {
    val s = new Span(nextId.getAndIncrement(), parent.id, name, now)
    spans.put(s.id, s)
    s
  }

  /** Run `body` inside a new child span, attributing this thread's jobs to it. */
  def within[T](name: String, parent: Span)(body: Span => T): T = {
    val s = open(name, parent)
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body(s)
    finally {
      s.end = now
      sc.setLocalProperty(Tracer.Key, prev)
    }
  }

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.values().asScala.toSeq.sortBy(_.id)
  }

  /** Spans under `top`, itself included. */
  def subtree(top: Span): Seq[Span] = {
    val byParent = all.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).flatMap(walk)
    walk(top)
  }

  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  private def spanOf(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .flatMap(id => Option(spans.get(id.toInt))).getOrElse(root)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    s.add("jobs", 1)
    e.stageInfos.foreach(i => stageSpan.putIfAbsent(i.stageId, s))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
      if (e.stageInfo.completionTime.isDefined && e.stageInfo.numTasks > 0) s.add("stages", 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = Option(stageSpan.get(e.stageId)).getOrElse(root)
    s.add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      s.add("run_ms", m.executorRunTime.toDouble)
      s.add("cpu_ns", m.executorCpuTime.toDouble)
      s.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
      s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("input_b", m.inputMetrics.bytesRead.toDouble)
      s.add("spill_b", m.diskBytesSpilled.toDouble)
    }
  }
}

object Tracer {
  val Key = "graftbench.span"
}

/** Streaming progress counters. Replay runs its queries on cloned
  * sessions, whose listener buses are their own, so this class is
  * registered through `spark.sql.streaming.streamingQueryListeners`
  * (every session instantiates it) and reports into one shared tally.
  */
class StreamTracer extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
    val stateCommitMs = p.stateOperators.map { op =>
      Option(op.customMetrics.get("commitTimeMs")).map(_.doubleValue).getOrElse(0.0)
    }.sum
    StreamTracer.synchronized {
      val t = StreamTracer.tally
      def add(k: String, v: Double): Unit = t(k) = t.getOrElse(k, 0.0) + v
      add("batches", 1)
      add("rows", p.numInputRows.toDouble)
      add("trigger_ms", ms("triggerExecution"))
      add("commit_ms", ms("walCommit") + ms("commitOffsets") + stateCommitMs)
      // state size: the latest progress of each query is its standing state
      StreamTracer.lastState(p.id.toString) =
        (p.stateOperators.map(_.numRowsTotal).sum.toDouble, p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
    }
  }
}

object StreamTracer {
  val tally: mutable.Map[String, Double] = mutable.Map.empty
  val lastState: mutable.Map[String, (Double, Double)] = mutable.Map.empty

  /** Counters since the last call, then reset. */
  def take(): Map[String, Double] = synchronized {
    val out = tally.toMap ++ Map(
      "state_rows" -> lastState.values.map(_._1).sum,
      "state_b" -> lastState.values.map(_._2).sum)
    tally.clear(); lastState.clear()
    out
  }
}
