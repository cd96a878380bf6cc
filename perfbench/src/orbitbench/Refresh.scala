package orbitbench

import scala.collection.mutable

import graft.functions.TextFns
import graft.operators.{Dedup, Relational, Similarity}
import graft.pipelines.Payload
import graft.sources.Io
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Daily refresh of a finished build: seeded deltas of changed, added
  * and removed docs. Each delta runs change detection on content
  * hashes, near-dup against the persisted signatures and their upsert,
  * chunk/embed + frozen-centroid assign + IVF tombstone/upsert, the
  * touched companies' payload republish, and a read-latest + top-k
  * freshness probe. Index generations pile up over the run.
  */
object Refresh {
  val Changed = 40
  val Added = 20
  val Removed = 20
  val NProbe = 4
  import EtlBuild.{BandSize, ChunkSize, MinhashHashes, NearDupJaccard, ShingleN}

  final class State(
      val dir: String,
      val cents: Seq[Array[Double]],
      val live: mutable.LinkedHashMap[Long, (String, String)],
      var nextId: Long,
      var seq: Int,
      val removed: mutable.ArrayBuffer[Long]) {
    def snap(d: Int): String = if (d == 0) s"$dir/kept" else s"$dir/snap$d"
    def ivf: String = s"$dir/ivf"
    def sigs: String = s"$dir/sigs"
  }

  private def nChunks(text: String): Int = math.ceil(text.length / ChunkSize.toDouble).toInt

  private def writeSnapshot(spark: SparkSession, st: State): Unit =
    Inputs.docsFrame(spark, st.live.map { case (id, (t, c)) => (id, t, c) })
      .write.parquet(st.snap(st.seq))

  /** Refresh state over a finished build: the live docs are the
    * build's kept docs, snapshot 0 is its published corpus.
    */
  def fromBuild(ctx: Ctx, b: EtlBuild.Result): State = {
    val live = mutable.LinkedHashMap.empty[Long, (String, String)]
    ctx.spark.read.parquet(s"${b.dir}/kept").select("doc_id", "text", "company_id").collect()
      .sortBy(_.getLong(0))
      .foreach(r => live(r.getLong(0)) = (r.getString(1), r.getString(2)))
    new State(b.dir, b.cents, live, (live.keys.max / 2 + 1) * 2, 0, mutable.ArrayBuffer.empty)
  }

  private def assemble(spark: SparkSession, docs: DataFrame): DataFrame = {
    val ids = docs.select("company_id").distinct()
    Payload.assemble(Inputs.companies(spark).join(ids, "company_id"), "company_id",
      Seq((docs.withColumn("n_chars", length(col("text")).cast("long")),
        "company_id", Seq("doc_id", "n_chars"), "documents")))
  }

  /** One applied delta: its docs, latency, stage times and (traced) the
    * rows its change detection read.
    */
  final case class Step(seq: Int, docs: Int, latNs: Long, stageNs: Map[String, Long], rowsExamined: Long)

  /** Generate the next delta (untimed), then apply it (timed). */
  def delta(ctx: Ctx, st: State): Option[Step] = {
    val spark = ctx.spark
    val before = st.live.clone()
    st.seq += 1
    val d = Inputs.nextDelta(ctx.seed, st.seq, st.live, st.nextId, Changed, Added, Removed)
    st.nextId += 2L * Added
    writeSnapshot(spark, st)
    val seq = st.seq
    ctx.attempt(s"delta#$seq") {
      Trace.beginOp(spark, s"delta:$seq")
      val stage = mutable.LinkedHashMap.empty[String, Long]
      def timedStage[T](name: String)(f: => T): T = {
        val t = System.nanoTime()
        try f finally stage(name) = System.nanoTime() - t
      }
      val t0 = System.nanoTime()
      val old = spark.read.parquet(st.snap(seq - 1))
      val fresh = spark.read.parquet(st.snap(seq))
      def hashed(df: DataFrame) = df.select(col("doc_id"), TextFns.fingerprint(col("text")).as("h"))
      val (changed, rowsRead) = timedStage("change_detect") {
        val c = Trace.span("operators.Relational", "changeDetection")(
          Relational.changeDetection(hashed(old), hashed(fresh), Seq("doc_id"), "h"))
        val rows = Trace.span("spark", "collect changes")(c.collect())
        (rows, if (Trace.on) Util.scanStats(c)._2 else 0L)
      }
      val changes = changed.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
      val upIds = changes.collect { case (id, s) if s != "removed" => id }.toSeq
      val remIds = changes.collect { case (id, "removed") => id }.toSeq
      val batch = fresh.filter(col("doc_id").isin(upIds: _*))
      import spark.implicits._
      timedStage("dedup") {
        val hist = Trace.span("sources.Io", "readMinhashSigsLatest")(Io.readMinhashSigsLatest(spark, st.sigs))
        val near = Trace.span("operators.Dedup", "minhashLshAgainstSigs")(
          Dedup.minhashLshAgainstSigs(batch, hist, "text", "doc_id", ShingleN, MinhashHashes, BandSize, NearDupJaccard))
        Trace.span("spark", "count near-dups")(near.count())
        val signed = Trace.span("operators.Dedup", "minhashSign")(
          Dedup.minhashSign(batch, "text", "doc_id", ShingleN, MinhashHashes))
        Trace.span("sources.Io", "upsertMinhashSigs")(Io.upsertMinhashSigs(signed, st.sigs, seq.toLong))
        Trace.span("sources.Io", "deleteMinhashIds")(Io.deleteMinhashIds(remIds.toDF("id"), st.sigs, seq.toLong))
      }
      val chunks = timedStage("chunk_embed") {
        val c = Trace.span("pipelines.Rag", "chunkDocs")(EtlBuild.persisted(EtlBuild.chunkEmbed(batch)))
        Trace.span("functions", "VectorFns.embedText")(c.count())
        c
      }
      val probe = timedStage("ivf") {
        val assigned = Trace.span("operators.Similarity", "ivfAssign")(
          Similarity.ivfAssign(chunks.select("chunk_id", "doc_id", "embedding"), "embedding", st.cents))
        val stale = (changes.keys.filter(before.contains).toSeq).flatMap { id =>
          (0 until nChunks(before(id)._1)).map(i => id * 100 + i)
        }
        Trace.span("sources.Io", "deleteIvfIds")(Io.deleteIvfIds(stale.toDF("chunk_id"), st.ivf, 2L * seq - 1))
        Trace.span("sources.Io", "upsertIvfIndex")(Io.upsertIvfIndex(assigned, st.ivf, 2L * seq))
        val (cents, latest) = Trace.span("sources.Io", "readIvfIndexLatest")(
          Io.readIvfIndexLatest(spark, st.ivf, "chunk_id"))
        val q = chunks.select("embedding").head().getSeq[Double](0).toArray
        val top = Trace.span("operators.Similarity", "ivfTopK")(
          Similarity.ivfTopK(latest, "embedding", cents, q, 10, NProbe))
        Trace.span("spark", "collect probe")(top.collect())
      }
      timedStage("payload") {
        val touched = changes.keys.toSeq.flatMap(id => before.get(id).orElse(st.live.get(id))).map(_._2).distinct
        val assembled = Trace.span("pipelines.Payload", "assemble")(
          assemble(spark, fresh.filter(col("company_id").isin(touched: _*))))
        Trace.span("sources.Io", "writePayloads")(
          Io.writePayloads(assembled, "company_id", s"${st.dir}/payloads/gen=$seq"))
      }
      val lat = System.nanoTime() - t0
      Trace.beginOp(spark, "")
      Util.log(f"delta $seq%-3d ${lat / 1e6}%8.1f ms " +
        stage.map { case (k, ns) => f"$k ${ns / 1e6}%.1f" }.mkString(", "))
      chunks.unpersist()
      Util.resetCaches(spark)
      st.removed ++= remIds
      ctx.check(changes.size == d.size && remIds.toSet == d.removed.toSet,
        s"delta#$seq: ${changes.size} changes detected, ${d.size} made")
      ctx.check(probe.nonEmpty && probe.head.getAs[Double]("score") >= 1.0 - 1e-9,
        s"delta#$seq: freshness probe top score ${probe.headOption.map(_.getAs[Double]("score"))}")
      Step(seq, d.size, lat, stage.toMap, rowsRead)
    }
  }

  /** After the last delta the latest IVF and signature id sets equal a
    * from-scratch build over the final docs, and removed ids are
    * unservable.
    */
  def checkFinal(ctx: Ctx, st: State): Unit = {
    val spark = ctx.spark
    val docs = spark.read.parquet(st.snap(st.seq))
    def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq
    val ivfRows = Io.readIvfIndexLatest(spark, st.ivf, "chunk_id")._2.select("chunk_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val scratchIds = ids(EtlBuild.chunkEmbed(docs).select("chunk_id"))
    ctx.check(ivfRows.map(_._1).sorted.toSeq == scratchIds.sorted,
      s"refresh: latest IVF ids (${ivfRows.length}) differ from a fresh build (${scratchIds.size})")
    val sigIds = ids(Io.readMinhashSigsLatest(spark, st.sigs).select("id"))
    val freshSigIds = ids(Dedup.minhashSign(docs, "text", "doc_id", ShingleN, MinhashHashes).select("id"))
    ctx.check(sigIds.sorted == freshSigIds.sorted,
      s"refresh: latest signature ids (${sigIds.size}) differ from a fresh build (${freshSigIds.size})")
    val removed = st.removed.toSet
    val served = ivfRows.count(r => removed.contains(r._2)) + sigIds.count(removed.contains)
    ctx.check(removed.nonEmpty && served == 0, s"refresh: $served rows of removed docs still served")
    Util.resetCaches(spark)
  }
}
