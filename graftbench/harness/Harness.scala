package org.apache.spark.graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{GraftSession, Pipeline, SparkEntry}
import graft.operators.SpatialOps
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The JVM side of the benchmark. `run.py` starts it with a plan file,
  * once per extra set-up sample (mode `setup`: build the session, report,
  * exit) and once for the measured run (mode `run`): set-up, a cold pass,
  * `Pipeline.reset()` and a warm pass, all in this JVM. Each pass is a memo phase (the workload's `Pipeline`
  * accessors, each built then hit) and a gate phase (each gate built by
  * `SparkEntry.queries` and forced through `queryExecution.toRdd` with a
  * row-count + row-hash digest folded into the action). Results go to one
  * JSON file; spans, when tracing, to another, written once at the end.
  * Mode `list` writes the names of all gates and exits.
  */
object Harness {

  // ---- set-up --------------------------------------------------------

  private def epochNanos(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def session(cores: Int, localDir: String, trace: Boolean): SparkSession = {
    val b = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("graftbench"),
      shufflePartitions = cores)
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
    if (trace) b.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTracer].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ---- heap and GC ---------------------------------------------------

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** The live heap in MB once the listener bus has delivered every event
    * (the status store's size depends on it) and Spark's cleaner has
    * dropped the blocks of RDDs and broadcasts nothing references any
    * more: collect, give the cleaner thread time for what the collection
    * enqueued, and collect again until that frees less than 1 MB. Runs
    * between timed phases; returns (the GC seconds it took, the live heap).
    */
  private def settledHeap(sc: SparkContext): (Double, Double) = {
    def live(): Double = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6 }
    sc.listenerBus.waitUntilEmpty()
    val g0 = gcSeconds()
    var (prev, now, rounds) = (Double.MaxValue, live(), 0)
    while (prev - now > 1.0 && rounds < 8) {
      Thread.sleep(250)
      prev = now
      now = live()
      rounds += 1
    }
    (gcSeconds() - g0, now)
  }

  // ---- work ----------------------------------------------------------

  /** The memoized stages a workload builds up front, by accessor name. */
  private val accessors: Map[String, (SparkSession, String) => Any] = Map(
    "tours" -> Pipeline.tours,
    "triplegsOverlap" -> Pipeline.triplegsOverlap,
    "staypointsWithLocation" -> Pipeline.staypointsWithLocation,
    "minhashPairs" -> Pipeline.minhashPairs,
    "scoredDocs" -> Pipeline.scoredDocs,
    "classifierWeights4" -> Pipeline.classifierWeights4,
    "bpeTokenCounts" -> Pipeline.bpeTokenCounts,
    "dsirWeights" -> Pipeline.dsirWeights,
    "imagePhash" -> Pipeline.imagePhash,
    "pqModel" -> Pipeline.pqModel,
    "kmeansModel" -> Pipeline.kmeansModel,
    "annBruteTop5" -> Pipeline.annBruteTop5,
    "annIvfTop5" -> Pipeline.annIvfTop5,
    "colocationMeetings" -> Pipeline.colocationMeetings,
    "colocationPairs" -> Pipeline.colocationPairs,
    "contactGraph" -> Pipeline.contactGraph,
    "louvainLabels" -> Pipeline.louvainLabels)

  /** Materialize a memo value: frames are iterated, driver-side models
    * were built by the call itself.
    */
  private def force(x: Any): Unit = x match {
    case df: Dataset[_] => df.queryExecution.toRdd.count()
    case g: SpatialOps.ContactGraph => Seq(g.pairs, g.edgesW, g.degW, g.degU).foreach(force)
    case _ =>
  }

  /** Row count and an order-independent sum of 64-bit row hashes, computed
    * in the one job that iterates the gate's output.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      lazy val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = r match {
          case u: UnsafeRow => u
          case o => proj(o)
        }
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  final case class MemoRow(name: String, buildS: Double, hitS: Double, error: Option[String])
  final case class GateRow(name: String, constructS: Double, actionS: Double, rows: Long, hash: Long,
                           planS: Double, bandedFired: Long, error: Option[String])
  final case class PassResult(kind: String, wallS: Double, memoPhaseS: Double, blockMb: Double,
                              liveMb: Double, memos: Seq[MemoRow], gates: Seq[GateRow], layers: Map[String, Double])

  private def err(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Run `work` over `items` on `clients` threads pulling from one queue;
    * results come back in completion order.
    */
  private def closedLoop[A, B](items: Seq[A], clients: Int)(work: A => B): Seq[B] = {
    val queue = new ConcurrentLinkedQueue[A](items.asJava)
    val out = new ConcurrentLinkedQueue[B]()
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to clients).map { i =>
      val t = new Thread(() => {
        try {
          var next = queue.poll()
          while (next != null) { out.add(work(next)); next = queue.poll() }
        } catch { case e: Throwable => failures.add(e) }
      }, s"graftbench-client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    Option(failures.peek()).foreach(e => throw e)
    out.asScala.toSeq
  }

  final class Run(spark: SparkSession, sf: String, clients: Int, tracer: Option[Tracer]) {
    private val sc = spark.sparkContext
    private val queries = SparkEntry.queries

    private def span[T](name: String, parent: Option[Span])(body: Option[Span] => T): T =
      (tracer, parent) match {
        case (Some(t), Some(p)) => t.within(name, p)(s => body(Some(s)))
        case _ => body(None)
      }

    private def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    }

    private def memo(name: String, parent: Option[Span]): MemoRow =
      span(s"memo:$name", parent) { _ =>
        try {
          val f = accessors(name)
          val (_, build) = time(force(f(spark, sf)))
          val (_, hit) = time(force(f(spark, sf)))
          MemoRow(name, build, hit, None)
        } catch { case e: Throwable => MemoRow(name, 0, 0, Some(err(e))) }
      }

    private def gate(name: String, parent: Option[Span]): GateRow =
      span(s"gate:$name", parent) { gs =>
        val cg0 = CodeGenerator.compileTime
        val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val row = try {
          val (df, construct) = span("construct", gs)(_ => time(queries(name)(spark, sf)))
          val ((n, h), action) = span("action", gs)(_ => time(digest(df)))
          val tracker = df.queryExecution.tracker
          val planS = tracker.phases.values.map(_.durationMs).sum / 1e3
          val banded = tracker.rules.collect {
            case (k, r) if k.endsWith("BandedDistanceJoin") => r.numEffectiveInvocations
          }.sum
          GateRow(name, construct, action, n, h, planS, banded, None)
        } catch { case e: Throwable => GateRow(name, 0, 0, -1, 0, 0, 0, Some(err(e))) }
        // global counters: exact per gate only with one client
        if (clients == 1) gs.foreach { s =>
          s.add("compile_ns", (CodeGenerator.compileTime - cg0).toDouble)
          s.add("compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toDouble)
        }
        row
      }

    def pass(kind: String, memos: Seq[String], gates: Seq[String]): PassResult = {
      val top = tracer.map(t => t.open(s"pass:$kind", t.root))
      val gc0 = gcSeconds()
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      if (tracer.isDefined) StreamTracer.take()
      val (memoRows, memoPhase) = time(span("memo_phase", top) { ms =>
        closedLoop(memos, clients)(memo(_, ms))
      })
      val (forcedGc, liveMb) = settledHeap(sc)
      val blockMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      val (gateRows, gatePhase) = time(span("gate_phase", top) { gp =>
        closedLoop(gates, clients)(gate(_, gp))
      })
      val wall = memoPhase + gatePhase
      val gcS = gcSeconds() - gc0 - forcedGc
      val layers = tracer.map { t =>
        top.foreach(_.end = System.nanoTime() - t0Run)
        t.drain()
        val spans = t.subtree(top.get)
        def sum(k: String): Double = spans.map(_.counts.getOrElse(k, 0.0)).sum
        val stream = StreamTracer.take()
        val cpuS = sum("cpu_ns") / 1e9
        Map(
          "pipeline.phase_s" -> memoPhase,
          "pipeline.call_s" -> memoRows.map(_.buildS).sum,
          "pipeline.hit_s" -> memoRows.map(_.hitS).sum,
          "pipeline.block_mb" -> blockMb,
          "sparkentry.construct_s" -> gateRows.map(_.constructS).sum,
          "catalyst.plan_s" -> gateRows.map(_.planS).sum,
          "plans.banded_join_fired" -> gateRows.map(_.bandedFired).sum.toDouble,
          "codegen.compile_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
          "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toDouble,
          "scheduler.jobs" -> sum("jobs"),
          "scheduler.stages" -> sum("stages"),
          "scheduler.tasks" -> sum("tasks"),
          "executor.run_s" -> sum("run_ms") / 1e3,
          "executor.cpu_s" -> cpuS,
          "executor.util" -> cpuS / (sc.defaultParallelism * wall),
          "gc.s" -> gcS,
          "shuffle.read_mb" -> sum("shuffle_read_b") / 1e6,
          "shuffle.write_mb" -> sum("shuffle_write_b") / 1e6,
          "storage.input_mb" -> sum("input_b") / 1e6,
          "storage.spill_mb" -> sum("spill_b") / 1e6,
          "streaming.batches" -> stream.getOrElse("batches", 0.0),
          "streaming.rows" -> stream.getOrElse("rows", 0.0),
          "streaming.trigger_s" -> stream.getOrElse("trigger_ms", 0.0) / 1e3,
          "streaming.commit_s" -> stream.getOrElse("commit_ms", 0.0) / 1e3,
          "streaming.state_rows" -> stream.getOrElse("state_rows", 0.0),
          "streaming.state_mb" -> stream.getOrElse("state_b", 0.0) / 1e6)
      }.getOrElse(Map.empty)
      PassResult(kind, wall, memoPhase, blockMb, liveMb, memoRows, gateRows, layers)
    }
  }

  // ---- output --------------------------------------------------------

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  private def opt(e: Option[String]): String = e.map(q).getOrElse("null")

  private def passJson(p: PassResult): String = obj(
    "kind" -> q(p.kind), "wall_s" -> num(p.wallS), "memo_phase_s" -> num(p.memoPhaseS),
    "block_mb" -> num(p.blockMb), "live_mb" -> num(p.liveMb),
    "memos" -> arr(p.memos.map(m => obj("name" -> q(m.name), "build_s" -> num(m.buildS),
      "hit_s" -> num(m.hitS), "error" -> opt(m.error)))),
    "gates" -> arr(p.gates.map(g => obj("name" -> q(g.name), "construct_s" -> num(g.constructS),
      "action_s" -> num(g.actionS), "rows" -> g.rows.toString, "hash" -> q(g.hash.toString),
      "error" -> opt(g.error)))),
    "layers" -> obj(p.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*))

  private def spanJson(s: Span, runId: String): String = obj(
    "run" -> q(runId), "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> q(s.name),
    "start_s" -> num(s.start / 1e9), "end_s" -> num(s.end / 1e9),
    "counts" -> obj(s.counts.synchronized(s.counts.toSeq).sortBy(_._1).map { case (k, v) => k -> num(v) }: _*))

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))

  @volatile private var t0Run = 0L

  private def readPlan(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.contains(' ')).map { l =>
      val i = l.indexOf(' '); l.take(i) -> l.drop(i + 1)
    }.toMap

  def main(args: Array[String]): Unit = {
    t0Run = System.nanoTime()
    val plan = readPlan(args(0))
    if (plan("mode") == "list") {
      write(plan("out"), obj("gates" -> arr(SparkEntry.queries.keys.toSeq.sorted.map(q))))
      Runtime.getRuntime.halt(0)
    }
    val trace = plan("trace") == "1"
    val cores = plan("cores").toInt
    val (spark, buildS) = {
      val t0 = System.nanoTime()
      val s = session(cores, plan("local_dir"), trace)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    val readyNs = epochNanos()
    if (plan("mode") == "setup") {
      write(plan("out"), obj("ready_epoch_ns" -> readyNs.toString, "build_s" -> num(buildS)))
      Runtime.getRuntime.halt(0)
    }
    val env = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1L << 20)).toString,
      "jvm" -> q(System.getProperty("java.vm.name") + " " + System.getProperty("java.runtime.version")),
      "spark" -> q(spark.version),
      "replay_shm" -> {
        // the same test Replay makes before electing /dev/shm for checkpoints
        val shm = Paths.get("/dev/shm")
        (!sys.env.get("SPARK_GRAFT_REPLAY_NO_SHM").exists(_.nonEmpty) && Files.isDirectory(shm) &&
          Files.isWritable(shm) &&
          (try Files.getFileStore(shm).getUsableSpace >= 256L * 1024 * 1024
           catch { case _: java.io.IOException => false })).toString
      })
    val tracer = if (trace) {
      val t = new Tracer(spark.sparkContext, t0Run)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val clients = plan("clients").toInt
    val memos = plan.get("memos").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val gates = plan.get("gates").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val run = new Run(spark, plan("sf"), clients, tracer)
    val cold = run.pass("cold", memos, gates)
    Pipeline.reset()
    val passes = Seq(cold, run.pass("warm", memos, gates))
    tracer.foreach { t =>
      t.root.end = System.nanoTime() - t0Run
      t.drain()
      write(plan("spans"), t.all.map(spanJson(_, plan("run_id"))).mkString("", "\n", "\n"))
    }
    write(plan("out"), obj(
      "ready_epoch_ns" -> readyNs.toString, "build_s" -> num(buildS),
      "env" -> obj(env: _*),
      "passes" -> arr(passes.map(passJson))))
    // the results are on disk and run.py deletes the run's temp directory,
    // so skip the shutdown work of stopping Spark
    Runtime.getRuntime.halt(0)
  }
}
