package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** The benchmark program. One process, one closed-loop client: the gates of
  * a workload run one at a time, in the given order, on `local[4]`.
  *
  * Set-up (JVM, SparkSession, an untimed warm-up over a separate smaller
  * input) is followed by `--passes` timed passes. Each timed pass reads a
  * fresh copy of the input under a new directory, so input-keyed memos in
  * the library are cold in every pass.
  * A gate is timed from the gate-function call (build) through physical
  * planning (plan) to the end of `collect()` (exec), which computes every
  * output column of every row. The collected rows are then written as
  * parquet (check, untimed) for the oracle comparison in `run.py`.
  *
  * With `--trace 1`, passes alternate untraced / traced; the traced ones
  * register a [[Tracer]] and report per-layer metrics, and the expression
  * kernels are timed once at the end ([[Kernels]]).
  *
  * Output: one JSON document (`--out`) with a record per pass. */
object Main {

  /** Spark's local executor slots: the benchmark is defined on four cores. */
  val Cores = 4

  final case class Opts(gates: Seq[String], input: Path, warmup: Path, work: Path,
      passes: Int, trace: Boolean, throwGate: Option[String])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("gates").split(",").toSeq, Paths.get(kv("input")),
      Paths.get(kv("warmup")), Paths.get(kv("work")), kv("passes").toInt,
      kv.get("trace").contains("1"), kv.get("throw-gate").filter(_.nonEmpty))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = mutable.ArrayBuffer[String]()
    try {
      val runner = new Runner(spark, o)
      runner.warmup(o.warmup)
      System.err.println("[perfbench] warm-up done")
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val tracer = if (o.trace) Some(new Tracer) else None
      // traced passes alternate with untraced ones as U T T U, so that a
      // trend across passes cancels out of the tracing overhead
      for (n <- 0 until o.passes) {
        val dir = o.work.resolve(s"pass$n")
        copyDir(o.input, dir.resolve("input"))
        val traced = tracer.filter(_ => n % 4 == 1 || n % 4 == 2)
        val t0 = System.nanoTime()
        out += runner.pass(dir.resolve("input"), s"pass$n", traced)
        System.err.println(f"[perfbench] pass $n done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      val kernels = tracer.map(_ => Kernels.run(spark, o.input)).getOrElse(Map.empty)
      tracer.foreach(t => writeSpans(o.work.resolve("spans.jsonl"), t.spans.toSeq))
      val env = Env.describe(spark)
      val oracle = Json.obj(o.gates.flatMap(g => graft.SparkEntry.oracleSql.get(g).map(g -> _)).toMap)
      val doc = s"""{"setup_s":$setupS,"env":$env,"kernels":${Json.obj(kernels)},""" +
        s""""oracle_sql":$oracle,""" +
        s""""passes":[${out.mkString(",")}]}"""
      Files.write(Paths.get(kv("out")), doc.getBytes(UTF_8))
    } finally spark.stop()
  }

  private def copyDir(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.foreach(f => Files.copy(f, to.resolve(f.getFileName)))
  }

  private def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    Files.write(path, lines.asJava, UTF_8)
  }

  /** Physical exchanges in an executed plan, looking inside adaptive
    * plans and query stages. */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case r: ReusedExchangeExec => exchanges(r.child)
    case p =>
      val self = p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
        case _ => 0
      }
      self + (p.children ++ p.subqueries).map(exchanges).sum
  }
}

/** One gate of one pass: its phase spans (build, plan, exec, check) and
  * its own span. */
final case class GateRun(name: String, error: Option[String], rows: Long, phases: Seq[Span],
    span: Span) {
  private def secs(kind: String) = phases.filter(_.kind == kind).map(_.seconds).sum

  /** The gate's time: build, plan and exec; the check is not part of it. */
  def seconds: Double = secs("build") + secs("plan") + secs("exec")

  /** With a tracer, also the number of Spark jobs the build launched. */
  def json(tracer: Option[Tracer]): String = {
    val buildJobs = tracer.map(t => phases.filter(_.kind == "build")
      .flatMap(p => t.work.get(p.id)).map(_.jobs).sum)
    s"""{"name":${Json.str(name)},"ok":${error.isEmpty},""" +
      s""""error":${error.map(Json.str).getOrElse("null")},"rows":$rows,"s":$seconds,""" +
      s""""build_s":${secs("build")},"plan_s":${secs("plan")},"exec_s":${secs("exec")},""" +
      s""""check_s":${secs("check")},"build_jobs":${buildJobs.getOrElse(-1)}}"""
  }
}

/** Runs passes over the workload's gates. */
final class Runner(spark: SparkSession, o: Main.Opts) {
  private val sc = spark.sparkContext
  private val heap = new HeapWatch
  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gates: Seq[(String, (SparkSession, String) => DataFrame)] = o.gates.map { g =>
    val fn: (SparkSession, String) => DataFrame =
      if (o.throwGate.contains(g)) (_, _) => throw new IllegalStateException(s"injected failure in $g")
      else graft.SparkEntry.queries.getOrElse(g,
        (_: SparkSession, _: String) => throw new NoSuchElementException(s"no gate named $g"))
    g -> fn
  }
  // graft's release hook for operator-internal persists, looked up by
  // name so that a refactoring of the library's lineage API shows up as
  // leaked RDDs instead of a benchmark that no longer compiles
  private val release: () => Unit = try {
    val cls = Class.forName("graft.util.IntermediateCaches$")
    val obj = cls.getField("MODULE$").get(null)
    val m = cls.getMethod("releaseAll", classOf[Boolean])
    () => { m.invoke(obj, java.lang.Boolean.TRUE); () }
  } catch { case _: ReflectiveOperationException => () => () }

  /** The untimed warm-up over the warm-up input: every gate once on as
    * many threads as there are cores, so that class loading, code
    * generation and the first JIT compilations overlap; then every gate
    * once more in pass order, so that the timed passes start closer to
    * the JIT's steady state. */
  def warmup(input: Path): Unit = {
    def once(name: String, fn: (SparkSession, String) => DataFrame): Unit =
      try fn(spark, input.toString).collect() catch {
        case e: Exception => System.err.println(s"[perfbench] warm-up $name: $e")
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    try {
      gates.map { case (name, fn) => pool.submit(new Runnable {
        def run(): Unit = once(name, fn)
      }) }.foreach(_.get())
    } finally pool.shutdown()
    gates.foreach { case (name, fn) => once(name, fn) }
    release()
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One pass over every gate; returns the pass record as JSON. */
  def pass(input: Path, label: String, tracer: Option[Tracer]): String = {
    val outDir = o.work.resolve("out").resolve(label)
    tracer.foreach { t =>
      Bus.drain(sc)
      t.reset()
      sc.addSparkListener(t)
      spark.streams.addListener(t.streams)
    }
    val passId = tracer.map(_.id()).getOrElse(0L)
    var runS = 0.0
    var exchanges = 0
    val checkpointed = mutable.Set[Int]()
    var leaked = 0
    val runs = mutable.ArrayBuffer[GateRun]()
    heap.reset()
    val cpu0 = cpu.getProcessCpuTime
    val p0 = Clock.now()
    for ((name, fn) <- gates) {
      val gateId = tracer.map(_.id()).getOrElse(0L)
      val phases = mutable.ArrayBuffer[Span]()
      def phase[T](kind: String)(body: => T): T = {
        val id = tracer.map(_.id()).getOrElse(0L)
        sc.setLocalProperty(Tracer.Key, id.toString)
        tracer.foreach(_.currentPhase = id)
        val s = Clock.now()
        try body finally phases += Span(id, gateId, kind, s"$name/$kind", s, Clock.now())
      }
      var error: Option[String] = None
      var rows = -1L
      val g0 = Clock.now()
      try {
        val df = phase("build")(fn(spark, input.toString))
        val plan = phase("plan")(df.queryExecution.executedPlan)
        val result = phase("exec")(df.collect())
        rows = result.length
        phase("check") {
          spark.createDataFrame(result.toSeq.asJava, df.schema)
            .write.parquet(outDir.resolve(name).toString)
        }
        if (tracer.isDefined) {
          exchanges += Main.exchanges(plan)
          sc.getPersistentRDDs.values.filter(_.isCheckpointed).foreach(r => checkpointed += r.id)
        }
      } catch {
        case e: Throwable =>
          error = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .take(500))
      } finally {
        sc.setLocalProperty(Tracer.Key, null)
        val g1 = Clock.now()
        release()
        spark.catalog.clearCache()
        val left = sc.getPersistentRDDs
        leaked += left.size
        left.values.foreach(_.unpersist(blocking = true))
        runs += GateRun(name, error, rows, phases.toSeq, Span(gateId, passId, "gate", name, g0, g1))
      }
      runS += runs.last.seconds
    }
    val p1 = Clock.now()
    val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
    val wallS = (p1 - p0) / 1e9
    val gateCover = runs.map(_.span.seconds).sum / wallS
    val layers = tracer.map { t =>
      Bus.drain(sc)
      sc.removeSparkListener(t)
      spark.streams.removeListener(t.streams)
      val all = runs.flatMap(r => r.phases :+ r.span).toSeq :+ Span(passId, 0L, "pass", label, p0, p1)
      all.foreach(t.add)
      layerMetrics(t, all, wallS, exchanges, checkpointed.size, leaked)
    }
    s"""{"label":${Json.str(label)},"traced":${tracer.isDefined},"run_s":$runS,""" +
      s""""wall_s":$wallS,"cpu_s":$cpuS,"live_heap_peak_mb":${heap.peakMb},""" +
      s""""gate_cover":$gateCover,"leaked_rdds":$leaked,""" +
      s""""layers":${layers.map(Json.obj).getOrElse("null")},""" +
      s""""out":${Json.str(outDir.toString)},"gates":[${runs.map(_.json(tracer)).mkString(",")}]}"""
  }

  private def layerMetrics(t: Tracer, spans: Seq[Span], wallS: Double, exchanges: Int,
      checkpointed: Int, leaked: Int): Map[String, Double] = t.synchronized {
    def of(kind: String) = spans.filter(_.kind == kind)
    def work(kind: String) = of(kind).flatMap(s => t.work.get(s.id))
    val jobSpans = t.spans.filter(_.kind == "job").groupBy(_.parent)
    def selfS(kind: String) = of(kind).map { s =>
      val kids = jobSpans.getOrElse(s.id, Nil).map(j => (j.startNs, j.endNs))
      (s.endNs - s.startNs - Tracer.covered(s.startNs, s.endNs, kids.toSeq)) / 1e9
    }.sum
    val exec = work("exec")
    val mb = 1024.0 * 1024.0
    val allRunMs = t.work.values.map(_.runMs).sum
    Map(
      "queries.build_s" -> of("build").map(_.seconds).sum,
      "queries.build_self_s" -> selfS("build"),
      "queries.build_jobs" -> work("build").map(_.jobs).sum.toDouble,
      "catalyst.plan_s" -> of("plan").map(_.seconds).sum,
      "catalyst.exchanges" -> exchanges.toDouble,
      "exec.exec_s" -> of("exec").map(_.seconds).sum,
      "exec.exec_self_s" -> selfS("exec"),
      "exec.jobs" -> exec.map(_.jobs).sum.toDouble,
      "exec.stages" -> exec.map(_.stages).sum.toDouble,
      "exec.tasks" -> exec.map(_.tasks).sum.toDouble,
      "exec.busy_ratio" -> allRunMs / 1000.0 / (Main.Cores * wallS),
      "exec.gc_s" -> exec.map(_.gcMs).sum / 1000.0,
      "exec.shuffle_read_mb" -> exec.map(_.shuffleRead).sum / mb,
      "exec.shuffle_write_mb" -> exec.map(_.shuffleWrite).sum / mb,
      "exec.spill_mb" -> exec.map(_.spill).sum / mb,
      "exec.task_skew" -> (exec.map(_.skew) :+ 1.0).max,
      "lineage.block_mb_peak" -> t.blockPeak / mb,
      "lineage.checkpoint_rdds" -> checkpointed.toDouble,
      "lineage.leaked_rdds" -> leaked.toDouble,
      "streaming.batches" -> t.batches.toDouble,
      "streaming.rows" -> t.batchRows.toDouble,
      "streaming.rows_per_s" -> (if (t.batchMs > 0) t.batchRows * 1000.0 / t.batchMs else 0.0),
      "streaming.state_rows" -> t.stateRowsTotal.toDouble,
    )
  }
}

/** Heap occupancy right after each garbage collection, from the JVM's GC
  * notifications: the live set the JVM holds. */
final class HeapWatch {
  @volatile private var peak = 0L
  @volatile private var last = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
          last = used
          if (used > peak) peak = used
        }
      }, null, null)
    case _ =>
  }
  /** Start a new window; a window with no collection reports the last
    * post-collection occupancy seen before it. */
  def reset(): Unit = peak = last
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** The pinned run environment, recorded in the output. */
object Env {
  def describe(spark: SparkSession): String = {
    val rt = ManagementFactory.getRuntimeMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName)
    val conf = spark.conf
    Json.obj(Map(
      "master" -> spark.sparkContext.master,
      "cores" -> Main.Cores.toString,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "session_time_zone" -> conf.get("spark.sql.session.timeZone"),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "gc" -> gcs.mkString("+"),
      "jvm_args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens"))
        .mkString(" ")))
  }
}

/** Minimal JSON rendering for the output document. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(m: Map[String, Any]): String = m.toSeq.sortBy(_._1).map { case (k, v) =>
    val rendered = v match {
      case d: Double if d.isNaN || d.isInfinite => "null"
      case d: Double => d.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case s: String => str(s)
      case other => str(other.toString)
    }
    s"${str(k)}:$rendered"
  }.mkString("{", ",", "}")
}
