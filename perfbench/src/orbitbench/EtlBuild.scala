package orbitbench

import scala.collection.immutable.ListMap
import scala.util.chaining._

import graft.functions.VectorFns
import graft.operators.{Dedup, Similarity}
import graft.pipelines.{Corpus, Orbit, Payload, Rag}
import graft.sources.Io
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The nightly build over a token-suffix-amplified corpus with planted
  * near-duplicates: funnel with its near-dup stage, chunk + embed, IVF
  * fit/assign/write, MinHash sign/write, risk scan, payload
  * assemble/write. Every artifact lands under the build's directory.
  */
object EtlBuild {
  val Copies = 2
  val PlantMod = 9
  val ChunkSize = 200
  val Cells = 16
  val FitIters = 2
  val ShingleN = 3
  val MinhashHashes = 8
  val BandSize = 1
  val NearDupJaccard = 0.5
  val SigBuckets = 8
  /** Gates under which most documents survive: every doc wins the
    * `en` marker vote (ties go to the first language), and the quality
    * floor only drops the shortest suffixed docs.
    */
  val LangMarkers = Seq("en" -> Seq("the", "a"), "zz" -> Seq("zz"))
  val Stopwords = Seq("the", "a")
  val MinQuality = 0.4

  def chunkId(docId: org.apache.spark.sql.Column, idx: org.apache.spark.sql.Column) =
    docId * 100 + idx

  /** Chunk + embed: (chunk_id, doc_id, company_id, source, chunk,
    * embedding). `Rag.chunkDocs` keeps only id, source and chunk, so the
    * company rides through it inside `source`.
    */
  def chunkEmbed(docs: DataFrame): DataFrame =
    Rag.chunkDocs(docs.withColumn("source", concat_ws("|", col("source"), col("company_id"))),
      "text", "doc_id", ChunkSize)
      .select(
        chunkId(col("doc_id"), col("chunk_index")).as("chunk_id"),
        col("doc_id"),
        split(col("source"), "\\|").getItem(1).as("company_id"),
        split(col("source"), "\\|").getItem(0).as("source"),
        col("chunk"),
        VectorFns.embedText(col("chunk")).as("embedding"))

  /** Benchmark (decontamination) set: five 8-token windows of seeded
    * corpus docs wrapped in tokens no corpus doc has — each leaks a few
    * shingles, so a small share of the corpus is dropped as
    * contaminated.
    */
  def benchmarkSet(spark: SparkSession, docs: DataFrame, seed: Long): DataFrame =
    docs.orderBy(xxhash64(col("doc_id"), lit(seed + 9))).limit(5)
      .select(
        col("doc_id"),
        concat_ws(" ", lit("evalq alpha"),
          array_join(slice(split(col("text"), " "), 3, 8), " "), lit("omega evalq")).as("text"))

  final case class Result(
      nIn: Long,
      nChunks: Long,
      cents: Seq[Array[Double]],
      wallS: Double,
      stageS: ListMap[String, Double],
      dir: String)

  def persisted(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /** One build of every artifact under `dir`. The traced run (`staged`)
    * materializes each stage's output before writing it, so time can be
    * attributed to each stage; the untraced build writes straight from
    * the fused plans.
    */
  def build(ctx: Ctx, docs: DataFrame, bench: DataFrame, nIn: Long, dir: String): Result = {
    val spark = ctx.spark
    val staged = Trace.on
    val stage = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timedStage[T](name: String)(f: => T): T = {
      val (r, s) = Util.timed(f)
      stage(name) = s
      r
    }
    val t0 = System.nanoTime()
    timedStage("funnel") {
      val kept0 = Trace.span("pipelines.Corpus", "funnel")(
        Corpus.funnel(docs, bench, "text", "doc_id", LangMarkers, "en", Stopwords, MinQuality,
          shingleN = ShingleN, nearDupJaccard = Some(NearDupJaccard),
          minhashHashes = MinhashHashes, minhashBandSize = BandSize))
      val kept = if (staged) Trace.span("spark", "materialize funnel")(persisted(kept0).tap(_.count())) else kept0
      Trace.span("sources.Io", "writeParquet")(
        Io.writeParquet(kept.drop("lang_pred", "quality"), s"$dir/kept"))
      Util.resetCaches(spark)
    }
    val kept = spark.read.parquet(s"$dir/kept")
    val (chunks, nChunks) = timedStage("chunk_embed") {
      val c = Trace.span("pipelines.Rag", "chunkDocs")(persisted(chunkEmbed(kept)))
      (c, Trace.span("functions", "VectorFns.embedText")(c.count()))
    }
    val cents = timedStage("ivf") {
      val cents = Trace.span("operators.Similarity", "fitCentroids")(
        Similarity.fitCentroids(chunks, "chunk_id", "embedding", Cells, FitIters, ctx.seed))
      val assigned0 = Trace.span("operators.Similarity", "ivfAssign")(
        Similarity.ivfAssign(chunks.select("chunk_id", "doc_id", "embedding"), "embedding", cents))
      val assigned =
        if (staged) Trace.span("spark", "materialize assign")(persisted(assigned0).tap(_.count())) else assigned0
      Trace.span("sources.Io", "writeIvfIndex")(Io.writeIvfIndex(assigned, cents, s"$dir/ivf"))
      cents
    }
    timedStage("minhash") {
      val sigs = Trace.span("operators.Dedup", "minhashSign")(
        Dedup.minhashSign(kept, "text", "doc_id", ShingleN, MinhashHashes))
      if (staged) Trace.span("spark", "materialize sigs")(sigs.count())
      Trace.span("sources.Io", "writeMinhashSigs")(Io.writeMinhashSigs(sigs, s"$dir/sigs", SigBuckets))
    }
    timedStage("risk_scan") {
      val risks0 = Trace.span("operators.TextAnalysis", "riskScan")(
        Orbit.riskScan(chunks.withColumn("source", concat_ws("|", col("company_id"), col("doc_id"))),
          "chunk", "source"))
      val risks =
        if (staged) Trace.span("spark", "materialize risks")(persisted(risks0).tap(_.count())) else risks0
      Trace.span("sources.Io", "writeParquet")(Io.writeParquet(risks, s"$dir/risks"))
    }
    timedStage("payload") {
      val risks = spark.read.parquet(s"$dir/risks")
        .withColumn("company_id", split(col("source"), "\\|").getItem(0))
      val assembled = Trace.span("pipelines.Payload", "assemble")(
        Payload.assemble(Inputs.companies(spark), "company_id", Seq(
          (kept, "company_id", Seq("doc_id", "n_chars"), "documents"),
          (risks, "company_id", Seq("risk_type", "severity", "source"), "risks"))))
      val out =
        if (staged) Trace.span("spark", "materialize payloads")(persisted(assembled).tap(_.count())) else assembled
      Trace.span("sources.Io", "writePayloads")(Io.writePayloads(out, "company_id", s"$dir/payloads"))
    }
    Util.resetCaches(spark)
    Result(nIn, nChunks, cents, Util.secs(t0), ListMap(stage.toSeq: _*), dir)
  }

  /** Output checks of one build: funnel output ⊆ input (same text),
    * planted near-dups collapsed, index rows = chunk rows, signature
    * rows = kept docs, one payload document per company.
    */
  def check(ctx: Ctx, docs: DataFrame, r: Result): Unit = {
    val spark = ctx.spark
    val kept = spark.read.parquet(s"${r.dir}/kept")
    val nKept = kept.count()
    val notInInput = kept.join(docs, Seq("doc_id", "text"), "left_anti").count()
    ctx.check(nKept > 0 && notInInput == 0, s"funnel: $notInInput of $nKept kept rows not in the input")
    val plantedKept = kept.filter(col("doc_id") % 2 === 1)
      .join(kept.select((col("doc_id") + 1).as("doc_id")), "doc_id").count()
    ctx.check(plantedKept == 0, s"funnel: $plantedKept planted near-dups kept beside their source")
    val nIndex = Io.readIvfIndex(spark, s"${r.dir}/ivf")._2.count()
    ctx.check(nIndex == r.nChunks && r.nChunks >= nKept, s"ivf: $nIndex index rows vs ${r.nChunks} chunks")
    val nSigs = Io.readMinhashSigs(spark, s"${r.dir}/sigs").count()
    ctx.check(nSigs == nKept, s"sigs: $nSigs signature rows vs $nKept kept docs")
    val nPayloads = spark.read.json(s"${r.dir}/payloads").count()
    ctx.check(nPayloads == Inputs.NCompanies, s"payloads: $nPayloads documents")
  }
}
