package orbitbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its inputs' origin, the
  * run's scratch directory, and the run's attempted/failed counters.
  */
final class Ctx(
    val spark: SparkSession,
    val dataDir: String,
    val scratch: String,
    val seed: Long,
    val seconds: Double,
    val traced: Boolean,
    val cores: Int,
    val listener: RuntimeListener) {
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Count one checked operation; a false `ok` counts it as failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      if (failures.size < 20) failures.add(what)
    }
    ok
  }

  /** Run `f` as one attempted operation; an exception fails it. */
  def attempt[T](what: String)(f: => T): Option[T] =
    try Some(f)
    catch {
      case e: Exception =>
        check(ok = false, s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }

  def failureMessages: Seq[String] = scala.jdk.CollectionConverters.IteratorHasAsScala(failures.iterator()).asScala.toSeq

  def dir(name: String): String = s"$scratch/$name"
}

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

object Main {

  val Workloads = Seq("serve_mixed", "build_refresh")

  /** Layers spans are recorded for (the repo's modules). */
  val Layers = Seq(
    "Engine", "sources.Io", "functions", "operators.TextAnalysis", "operators.Dedup",
    "operators.Relational", "operators.Similarity", "pipelines.Rag", "pipelines.Orbit",
    "pipelines.Payload", "pipelines.Corpus", "spark")

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val dataDir = arg(args, "--data").getOrElse(sys.error("--data required"))
    val scratch = arg(args, "--scratch").getOrElse(sys.error("--scratch required"))
    val resultPath = arg(args, "--result").getOrElse(sys.error("--result required"))
    val tracePath = arg(args, "--spans")
    val cores = Runtime.getRuntime.availableProcessors()

    val (spark, sessionS) = Util.timed(
      graft.Engine.session("orbitbench", s"local[$cores]", shufflePartitions = cores))
    val listener = new RuntimeListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, dataDir, scratch, seed, seconds, traced, cores, listener)
    // end-to-end metrics (untraced run) or per-layer metrics (traced run)
    val measured = workload match {
      case "serve_mixed"   => Serve.run(ctx)
      case "build_refresh" => BuildRefresh.run(ctx)
    }
    val metrics =
      if (traced) measured + ("engine.session_s" -> M(sessionS, "s")) +
        ("jvm.peak_rss_mb" -> M(Util.peakRssMb(), "MB"))
      else measured
    tracePath.foreach(p => if (traced) Trace.writeSpans(java.nio.file.Paths.get(p)))
    val failures = ctx.failureMessages
    failures.foreach(f => System.err.println(s"[orbitbench] check failed: $f"))
    val result = Json.obj(
      "correct" -> (ctx.failed.get == 0L),
      "attempted" -> math.max(1L, ctx.attempted.get),
      "failed" -> ctx.failed.get,
      "metrics" -> metrics.map { case (k, m) => k -> ListMap("value" -> m.value, "unit" -> m.unit) },
      "info" -> ListMap(
        "workload" -> workload, "seed" -> seed, "nproc" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version, "traced" -> traced))
    java.nio.file.Files.write(java.nio.file.Paths.get(resultPath), result.getBytes("UTF-8"))
    spark.stop()
  }

  /** Per-layer metrics shared by every workload's traced run, over the
    * traced ops of `kinds` (`ops` of them, run in `wallS`): Catalyst
    * phases and Spark runtime per op, and self time per layer per op.
    * Names get `prefix` (e.g. `build.`).
    */
  def layerMetrics(
      ctx: Ctx,
      prefix: String,
      kinds: Seq[String],
      spans: Seq[Span],
      ops: Long,
      wallS: Double): ListMap[String, M] = {
    ctx.listener.drain()
    val st = kinds.map(ctx.listener.stats)
    def sum(f: OpStats => java.util.concurrent.atomic.LongAdder): Double = st.map(f(_).sum).sum.toDouble
    val n = math.max(1L, ops).toDouble
    val self = Trace.selfNsByLayer(spans.filter(s => kinds.contains(s.op.takeWhile(_ != ':'))))
    (ListMap(
      "catalyst.analyze_ms" -> M(sum(_.analysisMs) / n, "ms"),
      "catalyst.plan_ms" -> M(sum(_.planMs) / n, "ms"),
      "exec_ms" -> M(sum(_.execMs) / n, "ms"),
      "spark.jobs_per_op" -> M(sum(_.jobs) / n, "count"),
      "spark.tasks_per_op" -> M(sum(_.tasks) / n, "count"),
      "spark.task_busy_frac" -> M(sum(_.runNs) / 1e9 / (wallS * ctx.cores), "fraction"),
      "spark.shuffle_bytes" -> M(sum(_.shuffleBytes) / n, "B"),
      "spark.spill_bytes" -> M(sum(_.spillBytes) / n, "B"),
      "spark.gc_ms" -> M(sum(_.gcMs) / n, "ms")) ++
      Layers.map(layer => s"self_ms.$layer" -> M(self.getOrElse(layer, 0L) / 1e6 / n, "ms")))
      .map { case (k, v) => (prefix + k) -> v }
  }

  /** Tracing overhead: traced minus untraced wall of the same work. */
  def overhead(tracedWallS: Double, untracedWallS: Double): ListMap[String, M] = ListMap(
    "trace.overhead_s" -> M(tracedWallS - untracedWallS, "s"),
    "trace.overhead_frac" -> M(tracedWallS / untracedWallS - 1.0, "fraction"))
}
