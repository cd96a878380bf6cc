package orbitbench

import scala.collection.immutable.ListMap

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `build_refresh`: the throughput path. One nightly build in a fresh
  * process (cold, as a nightly job runs), then seeded daily deltas
  * applied to the artifacts it wrote until the window closes; index
  * generations pile up delta after delta.
  */
object BuildRefresh {
  final case class Input(docs: DataFrame, bench: DataFrame, nIn: Long, dir: String)

  def generate(ctx: Ctx): Input = {
    val spark = ctx.spark
    val dir = ctx.dir("input")
    Inputs.corpus(spark, ctx.dataDir, ctx.seed, EtlBuild.Copies, EtlBuild.PlantMod).write.parquet(s"$dir/docs")
    val docs = spark.read.parquet(s"$dir/docs")
    EtlBuild.benchmarkSet(spark, docs.filter(col("doc_id") >= 2000000L), ctx.seed).write.parquet(s"$dir/bench")
    Input(docs, spark.read.parquet(s"$dir/bench"), docs.count(), dir)
  }

  /** Apply deltas until their summed time reaches `seconds` (at least one). */
  private def deltas(ctx: Ctx, st: Refresh.State, seconds: Double): Vector[Refresh.Step] = {
    val out = Vector.newBuilder[Refresh.Step]
    var busy = 0.0
    do {
      Refresh.delta(ctx, st).foreach { s => out += s; busy += s.latNs / 1e9 }
    } while (busy < seconds)
    out.result()
  }

  private def busyS(steps: Seq[Refresh.Step]): Double = steps.map(_.latNs / 1e9).sum

  def run(ctx: Ctx): ListMap[String, M] = {
    // set-up is input generation plus one warm-up delta after the build;
    // the warm-up delta needs the built artifacts, so set-up runs once
    val (in, genS) = Util.timed(generate(ctx))
    Trace.on = ctx.traced
    Trace.beginOp(ctx.spark, "build:0")
    val b = Util.step("build")(EtlBuild.build(ctx, in.docs, in.bench, in.nIn, ctx.dir("build")))
    Trace.beginOp(ctx.spark, "")
    Trace.on = false
    EtlBuild.check(ctx, in.docs, b)
    val written = Util.dataFiles(b.dir)
    val st = Refresh.fromBuild(ctx, b)
    // warm-up: one untimed delta pays codegen for the per-delta plans
    val (_, warmS) = Util.timed(Refresh.delta(ctx, st))
    val setupS = genS + warmS
    if (!ctx.traced) {
      val steps = deltas(ctx, st, ctx.seconds)
      Refresh.checkFinal(ctx, st)
      val busy = busyS(steps)
      val ms = steps.map(_.latNs / 1e6)
      def stageMs(k: String) = Stats.median(steps.map(_.stageNs(k) / 1e6))
      ListMap(
        "setup_s" -> M(setupS, "s"),
        "wall_s" -> M(b.wallS, "s"),
        "qps" -> M(steps.size / busy, "1/s"),
        "p50_ms" -> M(Stats.median(ms), "ms"),
        "p90_ms" -> M(Stats.quantile(ms, 0.9), "ms"),
        "rag_p50_ms" -> M(stageMs("chunk_embed"), "ms"),
        "vec_p50_ms" -> M(stageMs("ivf"), "ms"),
        "payload_p50_ms" -> M(stageMs("payload"), "ms"),
        // printed beside the gated metrics: each restates one above
        // (input docs ÷ wall_s, delta docs ÷ mean delta time)
        "docs_per_s" -> M(b.nIn / b.wallS, "1/s"),
        "refresh_docs_per_s" -> M(steps.map(_.docs).sum / busy, "1/s"))
    } else traced(ctx, in, b, written, st)
  }

  /** Traced run: the build above ran traced; here untraced and traced
    * deltas alternate until the untraced ones fill half the window (the
    * tracing overhead is the difference of their summed times). The
    * build's figures are reported per build under `build.`, the deltas'
    * per traced delta.
    */
  private def traced(
      ctx: Ctx,
      in: Input,
      b: EtlBuild.Result,
      written: (Long, Long),
      st: Refresh.State): ListMap[String, M] = {
    val filesBefore = Util.dataFiles(s"${st.ivf}/cells")._1
    val plainB = Vector.newBuilder[Refresh.Step]
    val tracedB = Vector.newBuilder[Refresh.Step]
    var plainBusy = 0.0
    do {
      Refresh.delta(ctx, st).foreach { s => plainB += s; plainBusy += s.latNs / 1e9 }
      Trace.on = true
      Refresh.delta(ctx, st).foreach(tracedB += _)
      Trace.on = false
    } while (plainBusy < ctx.seconds / 2)
    val (plain, steps) = (plainB.result(), tracedB.result())
    Refresh.checkFinal(ctx, st)
    val filesAfter = Util.dataFiles(s"${st.ivf}/cells")._1
    val spans = Trace.allSpans
    val buildSpans = spans.filter(_.op.startsWith("build:"))
    val deltaSpans = spans.filter(_.op.startsWith("delta:"))
    val common = Main.layerMetrics(ctx, "", Seq("delta"), spans, steps.size, busyS(steps)) ++
      Main.layerMetrics(ctx, "build.", Seq("build"), spans, 1, b.wallS) ++
      Main.overhead(busyS(steps), busyS(plain))
    def spanS(ss: Seq[Span], layer: String, name: String = "") =
      ss.filter(x => x.layer == layer && (name.isEmpty || x.name == name)).map(_.durNs).sum / 1e9
    val n = math.max(1, steps.size).toDouble
    def perDelta(layer: String, name: String = "") = spanS(deltaSpans, layer, name) / n
    val (files, bytes) = written
    val (_, inBytes) = Util.dataFiles(s"${in.dir}/docs")
    val nKept = ctx.spark.read.parquet(s"${b.dir}/kept").count()
    val (cand, verified) = {
      def pairs(t: Double) = Dedup.minhashLshPairs(in.docs, "text", "doc_id",
        EtlBuild.ShingleN, EtlBuild.MinhashHashes, EtlBuild.BandSize, t).count()
      (pairs(0.0), pairs(EtlBuild.NearDupJaccard))
    }
    def isWrite(s: Span) = s.layer == "sources.Io" && !s.name.startsWith("read")
    common ++ ListMap(
      // the nightly build (per build)
      "build.wall_s" -> M(b.wallS, "s"),
      "corpus.funnel_s" ->
        M(spanS(buildSpans, "pipelines.Corpus") + spanS(buildSpans, "spark", "materialize funnel"), "s"),
      "corpus.survival" -> M(nKept.toDouble / b.nIn, "fraction"),
      "textanalysis.risk_scan_s" -> M(spanS(buildSpans, "operators.TextAnalysis") +
        spanS(buildSpans, "spark", "materialize risks"), "s"),
      "payload.assemble_s" -> M(spanS(buildSpans, "pipelines.Payload") +
        spanS(buildSpans, "spark", "materialize payloads"), "s"),
      "dedup.candidate_pairs" -> M(cand.toDouble, "count"),
      "dedup.verified_pairs" -> M(verified.toDouble, "count"),
      "dedup.verify_yield" -> M(verified.toDouble / math.max(1L, cand), "fraction"),
      "rag.chunk_embed_s" -> M(spanS(buildSpans, "pipelines.Rag") + spanS(buildSpans, "functions"), "s"),
      "similarity.fit_s" -> M(spanS(buildSpans, "operators.Similarity", "fitCentroids"), "s"),
      "similarity.assign_s" -> M(spanS(buildSpans, "operators.Similarity", "ivfAssign") +
        spanS(buildSpans, "spark", "materialize assign"), "s"),
      "io.write_s" -> M(buildSpans.filter(isWrite).map(_.durNs).sum / 1e9, "s"),
      "io.bytes_written_per_input_byte" -> M(bytes.toDouble / math.max(1L, inBytes), "ratio"),
      "io.files_written" -> M(files.toDouble, "count"),
      // the daily deltas (per delta)
      "delta.rag.chunk_embed_s" -> M(perDelta("pipelines.Rag") + perDelta("functions"), "s"),
      "delta.similarity.assign_s" -> M(perDelta("operators.Similarity", "ivfAssign"), "s"),
      "delta.io.write_s" -> M(deltaSpans.filter(isWrite).map(_.durNs).sum / 1e9 / n, "s"),
      "dedup.against_sigs_s" -> M(perDelta("operators.Dedup", "minhashLshAgainstSigs") +
        perDelta("sources.Io", "readMinhashSigsLatest") + perDelta("spark", "count near-dups"), "s"),
      "relational.change_detect_s" ->
        M(perDelta("operators.Relational") + perDelta("spark", "collect changes"), "s"),
      "relational.rows_examined_per_change" ->
        M(steps.map(_.rowsExamined).sum.toDouble / math.max(1, steps.map(_.docs).sum), "count"),
      "io.read_latest_ms" ->
        M((perDelta("sources.Io", "readIvfIndexLatest") + perDelta("spark", "collect probe")) * 1000, "ms"),
      "io.index_files" -> M(filesAfter.toDouble, "count"),
      "io.index_files_per_delta" -> M((filesAfter - filesBefore).toDouble / (plain.size + steps.size), "count"))
  }
}
