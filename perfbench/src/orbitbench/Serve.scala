package orbitbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.ListMap

import graft.operators.Similarity
import graft.pipelines.{Orbit, Payload, Rag}
import graft.sources.Io
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `serve_mixed`: the analyst path. A closed loop of 2 client threads
  * replays a seeded request stream — company-filtered RAG search
  * (with a share of unknown companies that takes the fallback path),
  * IVF vector top-k and payload point lookups — over an sf-sized
  * corpus, its IVF index and its payload documents.
  */
object Serve {
  val Clients = 2
  val TopK = 10
  val ChunkSize = 200
  val IvfCells = 16
  val NProbe = 4
  val EmbCopies = 2
  val WarmupRequests = 24
  /** `wall_s` is the time the first this many requests of the stream
    * take (the loop runs on past the window until they are done).
    */
  val WallRequests = 40

  /** One served request; `endNs` is its completion (System.nanoTime). */
  final case class Done(req: Request, latNs: Long, endNs: Long, rows: Array[Row])

  /** Serving state built by one set-up. */
  final class State(
      val docs: DataFrame,
      val ivf: DataFrame,
      val cents: Seq[Array[Double]],
      val payloads: DataFrame,
      val docsPerCompany: Map[String, Long],
      val requests: IndexedSeq[Request])

  def setup(ctx: Ctx): State = {
    val spark = ctx.spark
    val dir = ctx.dir("serve")
    Util.step("serve: generate corpus")(Inputs.corpus(spark, ctx.dataDir, ctx.seed, copies = 1, plantMod = 0)
      .write.parquet(s"$dir/docs"))
    Util.step("serve: generate embeddings")(Inputs.embeddings(spark, ctx.dataDir, ctx.seed, EmbCopies).write.parquet(s"$dir/embs"))
    val docs = spark.read.parquet(s"$dir/docs")
    val embs = spark.read.parquet(s"$dir/embs")
    val cents0 = Util.step("serve: fit")(
      Similarity.fitCentroids(embs, "vec_id", "embedding", IvfCells, iters = 2, seed = ctx.seed))
    Util.step("serve: write index")(
      Io.writeIvfIndex(Similarity.ivfAssign(embs, "embedding", cents0), cents0, s"$dir/ivf"))
    val (cents, ivf) = Io.readIvfIndexLatest(spark, s"$dir/ivf", "vec_id")
    val assembled = Payload.assemble(
      Inputs.companies(spark), "company_id",
      Seq((docs, "company_id", Seq("doc_id", "n_chars"), "documents")))
    Util.step("serve: write payloads")(Io.writePayloads(assembled, "company_id", s"$dir/payloads"))
    val payloads = spark.read.json(s"$dir/payloads")
    val perCompany = Util.step("serve: read back")(docs.groupBy("company_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val pool = embs.orderBy(xxhash64(col("vec_id"), lit(ctx.seed))).limit(64)
      .select("embedding").collect()
      .map(_.getSeq[Double](0).toArray).toIndexedSeq
    val st = new State(docs, ivf, cents, payloads, perCompany, Inputs.requests(ctx.seed, 20000, pool))
    // warm-up: the first requests of each kind pay analysis, codegen and
    // class loading; a separate seeded stream keeps them off the clock
    val warm = Inputs.requests(ctx.seed + 1000003L, WarmupRequests, pool)
    Util.step("serve: warm-up")(loop(ctx, st, warm, 0, 3600.0, warm.size, 0))
    st
  }

  /** Serve one request, timed; returns None when it threw. */
  def serve(ctx: Ctx, st: State, r: Request): Option[Done] = ctx.attempt(s"${r.kind}#${r.id}") {
    val spark = ctx.spark
    val op = s"${r.kind}:${r.id}"
    Trace.beginOp(spark, op)
    val t0 = System.nanoTime()
    val df = r.kind match {
      case "rag" =>
        Trace.span("pipelines.Orbit", "ragSearchCompany")(
          Orbit.ragSearchCompany(st.docs, r.company, r.text, TopK, ChunkSize))
      case "vec" =>
        Trace.span("operators.Similarity", "ivfTopK")(
          Similarity.ivfTopK(st.ivf, "embedding", st.cents, r.vec, TopK, NProbe))
      case "payload" =>
        Trace.span("pipelines.Orbit", "payloadLookup")(Orbit.payloadLookup(st.payloads, r.company))
    }
    val rows = Trace.span("spark", "collect")(df.collect())
    val end = System.nanoTime()
    Trace.beginOp(spark, "")
    Done(r, end - t0, end, rows)
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  private def nonIncreasing(xs: Seq[Double]): Boolean = xs.zip(xs.drop(1)).forall { case (a, b) => a >= b }

  /** Per-request output checks that need no further engine call. */
  def checkDone(ctx: Ctx, st: State, d: Done): Unit = {
    val r = d.req
    r.kind match {
      case "rag" =>
        val scores = d.rows.map(_.getAs[Double]("score")).toSeq
        val sources = d.rows.map(_.getAs[String]("source"))
        val known = st.docsPerCompany.contains(r.company)
        ctx.check(d.rows.length == TopK && nonIncreasing(scores) &&
          (!known || sources.forall(_.toLowerCase.contains(r.company))),
          s"rag#${r.id} ${r.company}: ${d.rows.length} rows, scores $scores, sources ${sources.toSeq}")
      case "vec" =>
        val scores = d.rows.map(_.getAs[Double]("score")).toSeq
        val rescored = d.rows.map(row => cosine(row.getAs[Seq[Double]]("embedding").toArray, r.vec))
        ctx.check(d.rows.length == TopK && nonIncreasing(scores) &&
          scores.zip(rescored).forall { case (a, b) => math.abs(a - b) <= 1e-9 },
          s"vec#${r.id}: scores $scores vs rescored ${rescored.toSeq}")
      case "payload" =>
        ctx.check(d.rows.length == 1 &&
          d.rows.head.getAs[String]("company_id") == r.company &&
          d.rows.head.getAs[Seq[Row]]("documents").size == st.docsPerCompany(r.company),
          s"payload#${r.id} ${r.company}: ${d.rows.length} rows")
    }
  }

  /** Re-score sampled RAG hits from the chunk text, outside Spark. */
  def rescoreRag(ctx: Ctx, st: State, sample: Seq[Done]): Unit = if (sample.nonEmpty) {
    val ids = sample.flatMap(_.rows.map(_.getAs[Long]("doc_id"))).distinct
    val chunkText = Rag.chunkDocs(st.docs.filter(col("doc_id").isin(ids: _*)), "text", "doc_id", ChunkSize)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_index").toLong) -> r.getAs[String]("chunk"))
      .toMap
    sample.foreach { d =>
      val q = Rag.embedQueryVector(s"${d.req.company} ${d.req.text}", 16)
      val ok = d.rows.forall { row =>
        val key = (row.getAs[Long]("doc_id"), row.getAs[Long]("chunk_index"))
        chunkText.get(key).exists(t =>
          math.abs(cosine(Rag.embedQueryVector(t, 16), q) - row.getAs[Double]("score")) <= 1e-9)
      }
      ctx.check(ok, s"rag#${d.req.id}: re-score mismatch")
    }
  }

  /** Closed loop: each client sends its next request when the previous
    * one completes, until `seconds` have passed and at least `minimum`
    * requests were sent. Requests are taken in order from the stream
    * starting at `from`; at most `limit` run. Returns the served
    * requests, the loop's wall and its start (System.nanoTime).
    */
  def loop(
      ctx: Ctx,
      st: State,
      reqs: IndexedSeq[Request],
      from: Int,
      seconds: Double,
      limit: Int,
      minimum: Int): (Seq[Done], Double, Long) = {
    val next = new AtomicInteger(from)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val clients = (0 until Clients).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while ((System.nanoTime() < deadline || i < from + minimum) && i < from + limit) {
          serve(ctx, st, reqs(i % reqs.size)).foreach(done.add)
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    clients.foreach(_.join())
    (scala.jdk.CollectionConverters.IteratorHasAsScala(done.iterator()).asScala.toSeq.sortBy(_.req.id), Util.secs(t0), t0)
  }

  def run(ctx: Ctx): ListMap[String, M] = {
    val (st, setupS) = Util.timed(setup(ctx))
    if (!ctx.traced) {
      val (done, window, t0) = loop(ctx, st, st.requests, 0, ctx.seconds, Int.MaxValue, WallRequests)
      done.foreach(checkDone(ctx, st, _))
      val firstEnds = done.filter(_.req.id < WallRequests).map(_.endNs)
      ctx.check(firstEnds.size == WallRequests,
        s"serve: ${firstEnds.size} of the first $WallRequests requests served")
      val wall = if (firstEnds.isEmpty) Double.NaN else (firstEnds.max - t0) / 1e9
      rescoreRag(ctx, st, done.filter(_.req.kind == "rag").take(12))
      def ms(k: String) = done.filter(d => k.isEmpty || d.req.kind == k).map(_.latNs / 1e6)
      def p50(k: String) = { val xs = ms(k); if (xs.isEmpty) Double.NaN else Stats.median(xs) }
      ListMap(
        "setup_s" -> M(setupS, "s"),
        "wall_s" -> M(wall, "s"),
        "qps" -> M(done.size / window, "1/s"),
        "p50_ms" -> M(p50(""), "ms"),
        "p90_ms" -> M(Stats.quantile(ms(""), 0.9), "ms"),
        "rag_p50_ms" -> M(p50("rag"), "ms"),
        "vec_p50_ms" -> M(p50("vec"), "ms"),
        "payload_p50_ms" -> M(p50("payload"), "ms"))
    } else traced(ctx, st)
  }

  /** Traced run: the first half of the window untraced, then the same
    * requests again with spans on; the listener counts only the traced
    * requests (their jobs carry an op).
    */
  private def traced(ctx: Ctx, st: State): ListMap[String, M] = {
    val (plain, plainWall, _) = loop(ctx, st, st.requests, 0, ctx.seconds / 2, Int.MaxValue, 0)
    Trace.reset()
    Trace.on = true
    val (done, wall, _) = loop(ctx, st, st.requests, 0, 3600.0, plain.size, 0)
    Trace.on = false
    (plain ++ done).foreach(checkDone(ctx, st, _))
    val kinds = Seq("rag", "vec", "payload")
    val common = Main.layerMetrics(ctx, "", kinds, Trace.allSpans, done.size, wall) ++
      Main.overhead(wall, plainWall)
    val byKind = done.groupBy(_.req.kind).withDefaultValue(Seq.empty)
    def meanMs(k: String) = Stats.mean(byKind(k).map(_.latNs / 1e6))
    def perRequest(k: String, v: Long) = v.toDouble / math.max(1, byKind(k).size)
    val rag = byKind("rag")
    val ragStats = ctx.listener.stats("rag")
    val results = math.max(1, rag.map(_.rows.length).sum)
    val fallbacks = rag.count(d => d.rows.exists(r => !r.getAs[String]("source").contains(d.req.company)))
    // recall@k of the IVF probe against exact brute force, on a sample
    val vecSample = byKind("vec").take(8)
    val recall = Stats.mean(vecSample.map { d =>
      val exact = Similarity.bruteForceTopK(st.ivf, "embedding", d.req.vec, TopK)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      d.rows.map(_.getAs[Long]("vec_id")).count(exact.contains).toDouble / TopK
    })
    common ++ ListMap(
      "rag.topk_ms" -> M(meanMs("rag"), "ms"),
      "rag.chunks_scored_per_result" -> M(ragStats.topKInputRows.sum.toDouble / results, "count"),
      "orbit.fallback_frac" -> M(fallbacks.toDouble / math.max(1, rag.size), "fraction"),
      "orbit.actions_per_search" -> M(perRequest("rag", ragStats.executions.sum), "count"),
      "similarity.ivf_topk_ms" -> M(meanMs("vec"), "ms"),
      "similarity.rows_scored_per_query" -> M(perRequest("vec", ctx.listener.stats("vec").scanRows.sum), "count"),
      "similarity.recall_at_k" -> M(recall, "fraction"),
      "orbit.payload_lookup_ms" -> M(meanMs("payload"), "ms"),
      "io.payload_files_read" -> M(perRequest("payload", ctx.listener.stats("payload").scanFiles.sum), "count"))
  }
}
