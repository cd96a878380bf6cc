package graft

import graft.operators.Multimodal
import graft.pipelines.{Corpus, Payload, Rag}
import org.apache.spark.sql.functions._

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  // J6 payload assembly -----------------------------------------------------
  test("Payload.assemble nests sorted child arrays, empty for missing") {
    val companies = Seq(("acme", "Acme"), ("bcorp", "BCorp")).toDF("company_id", "name")
    val events = Seq(
      ("acme", "funding", 2L), ("acme", "layoff", 1L)
    ).toDF("company_id", "event_type", "seq")
    val out = Payload.assemble(
      companies, "company_id",
      Seq((events, "company_id", Seq("seq", "event_type"), "events")))
    val rows = out.orderBy("company_id").collect()
    val acme = rows(0).getSeq[org.apache.spark.sql.Row](2)
    assert(acme.map(_.getString(1)) == Seq("layoff", "funding")) // sorted by seq
    assert(rows(1).getSeq[org.apache.spark.sql.Row](2).isEmpty)  // bcorp: [] not null
    val json = Payload.toJsonDocs(out).orderBy("payload_json").collect().map(_.getString(0))
    assert(json.exists(_.contains("\"events\":[{\"seq\":1")))
  }

  // E1 RAG ------------------------------------------------------------------
  test("Rag.topKChunks: chunking + scoring + source filter end-to-end") {
    val docs = Seq(
      (1L, "spark join window " * 20, "siteA"),
      (2L, "unrelated words entirely", "siteA"),
      (3L, "spark join window", "siteB")
    ).toDF("doc_id", "text", "source")
    val hits = Rag.topKChunks(docs, "spark join window", 3, chunkSize = 100,
      sourceContains = Some("sitea"))
    val got = hits.collect()
    assert(got.nonEmpty && got.forall(_.getString(2) == "siteA")) // filter held
    assert(got.head.getLong(0) == 1L)                             // best match first
    assert(got.head.getDouble(3) > 0.99)                          // near-identical text
    // unfiltered finds doc 3 too
    val all = Rag.topKChunks(docs, "spark join window", 10, chunkSize = 100)
    assert(all.collect().map(_.getLong(0)).contains(3L))
  }

  /** The explode → md5 bucket → groupBy count → left-join scoring plan
    * `Rag.topKChunks` ran before the `HashEmbed` kernel, with its
    * driver-side query vector (one digest and hex string per token):
    * the reference the kernel plan must reproduce row for row.
    */
  private def explodeJoinTopK(
      docs: org.apache.spark.sql.DataFrame,
      queryText: String,
      k: Int,
      chunkSize: Int,
      sourceContains: Option[String]): org.apache.spark.sql.DataFrame = {
    val dim = 16
    val hex = "0123456789abcdef"
    val chunks = Rag.chunkDocs(docs, "text", "doc_id", chunkSize)
    val filtered = sourceContains.fold(chunks)(sub => chunks.filter(lower($"source").contains(sub)))
    val toks = filtered.select($"doc_id", $"chunk_index",
      explode(graft.functions.TextFns.tokens($"chunk")).as("tok"))
    val bucket = (instr(lit(hex), substring(md5($"tok"), 1, 1)) - 1) % dim
    val counts = (0 until dim).map(j => sum(when(bucket === j, 1).otherwise(0)).as(s"c$j"))
    val vecs = toks.groupBy($"doc_id", $"chunk_index").agg(counts.head, counts.tail: _*)
      .select($"doc_id", $"chunk_index",
        array((0 until dim).map(j => col(s"c$j").cast("double")): _*).as("vec"))
    val t = queryText.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse // 0x20-only trim
    val q = new Array[Double](dim)
    if (t.nonEmpty) t.split("\\s+", -1).foreach { tok =>
      val h = java.security.MessageDigest.getInstance("MD5").digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      q(hex.indexOf(h.charAt(0)) % dim) += 1.0
    }
    filtered.join(vecs, Seq("doc_id", "chunk_index"), "left")
      .withColumn("score",
        coalesce(graft.functions.VectorFns.cosine($"vec", array(q.toIndexedSeq.map(lit): _*)), lit(0.0)))
      .orderBy($"score".desc, $"doc_id", $"chunk_index")
      .limit(k)
      .select($"doc_id", $"chunk_index".cast("long").as("chunk_index"), $"source", $"score")
  }

  test("Rag.topKChunks: kernel plan returns the explode/groupBy/join plan's rows and scores") {
    val docs = Seq(
      (1L, "spark join window " * 20, "siteA"),
      (2L, "unrelated words entirely", "siteA"),
      (3L, "spark join window", "siteB"),
      (4L, "x" * 100 + " " * 100 + "join spark", "siteA"), // chunk 1 is only spaces
      (5L, "\tspark\tjoin  window\t", "siteB"),          // tab-edged tokens
      (6L, "caf\u00e9 spark \u6771\u4eac join", "siteA"), // non-ASCII tokens
      (7L, null, "siteA")                                  // no chunks at all
    ).toDF("doc_id", "text", "source")
    for (k <- Seq(3, 100); filter <- Seq(None, Some("sitea"))) {
      val got = Rag.topKChunks(docs, "spark join window", k, chunkSize = 100, sourceContains = filter)
        .collect().toSeq
      val want = explodeJoinTopK(docs, "spark join window", k, 100, filter).collect().toSeq
      assert(got == want, s"k $k, filter $filter")
    }
    val all = Rag.topKChunks(docs, "spark join window", 100, chunkSize = 100).collect()
    assert(all.exists(r => r.getLong(0) == 4L && r.getLong(1) == 1L && r.getDouble(3) == 0.0))
    // one narrow stage: no exchange, no join, a single top-k node
    val plan = Rag.topKChunks(docs, "spark join window", 3, chunkSize = 100,
      sourceContains = Some("sitea")).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange") && !plan.contains("Join") && !plan.contains("Aggregate"), plan)
  }

  test("V4 augmentQuery: company tokens steer retrieval toward that company") {
    val docs = Seq(
      (1L, "acme ships spark pipelines", "siteA"),
      (2L, "bcorp ships spark pipelines", "siteB")
    ).toDF("doc_id", "text", "source")
    assert(Rag.augmentQuery("acme", "spark pipelines") == "acme spark pipelines")
    assert(Rag.augmentQuery("", "spark pipelines") == "spark pipelines")
    assert(Rag.augmentQuery("acme", "  ") == "acme")
    // the bare query ties the two docs; the augmented query breaks the
    // tie toward the named company (rag_search.py:41-42 semantics)
    val bare = Rag.topKChunks(docs, "spark pipelines", 2, chunkSize = 100).collect()
    assert(bare.map(_.getDouble(3)).distinct.length == 1)
    val aug = Rag.topKChunks(docs, Rag.augmentQuery("acme", "spark pipelines"), 2, chunkSize = 100).collect()
    assert(aug.head.getLong(0) == 1L && aug(0).getDouble(3) > aug(1).getDouble(3))
  }

  // Multimodal --------------------------------------------------------------
  test("Multimodal: schema, feature extraction, frame sampling") {
    val docs = Seq((1L, "abcdefgh"), (2L, "xy")).toDF("doc_id", "text")
    val media = Multimodal.fromText(docs, "doc_id", "text", "video")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "media_type", "content", "meta"))
    val feats = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(feats(0).getLong(2) == 8L && feats(1).getLong(2) == 2L)
    assert(feats(0).getSeq[Double](3).sum == 8.0) // every byte in one bin
    val frames = Multimodal.sampleFrames(media, 3).orderBy("media_id", "frame_index").collect()
    val f1 = frames.filter(_.getLong(0) == 1L)
    assert(f1.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    assert(f1.map(r => new String(r.getAs[Array[Byte]](2), "UTF-8")).mkString == "abcdefgh")
    // deterministic stub: same bytes -> same features
    val again = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(again(0).getSeq[Double](3) == feats(0).getSeq[Double](3))
    // resize bounds payload size; shorter content passes through
    val resized = Multimodal.resizeStub(media, 4).orderBy("media_id").collect()
    assert(resized.map(_.getAs[Long]("resized_bytes")).toSeq == Seq(4L, 2L))
    assert(new String(resized(0).getAs[Array[Byte]]("content_resized"), "UTF-8") == "abcd")
  }

  test("Multimodal.sniffMedia: real magic-byte + dimension parsing; truncation yields null dims") {
    import org.apache.spark.sql.functions.{col, unhex, lit, encode}
    // hand-built headers with known dims: PNG 800x600 (big-endian
    // u32 at 17/21), GIF 320x200 (little-endian u16 at 7/9), JPEG
    // SOI+APP0, PDF, WAV RIFF....WAVE, ZIP local header, junk, and a
    // PNG truncated mid-width
    val rows = Seq(
      (1L, "89504E470D0A1A0A0000000D49484452" + "00000320" + "00000258" + "08"),
      (2L, "474946383961" + "4001" + "C800" + "F7"),
      (3L, "FFD8FFE000104A46494600"),
      (4L, "255044462D312E37"),
      (5L, "52494646A0860100" + "57415645"),
      (6L, "504B030414000000"),
      (8L, "89504E470D0A1A0A0000000D49484452" + "0000")) // truncated
    val df = rows.toDF("media_id", "hx")
      .select(col("media_id"), unhex(col("hx")).as("content"))
      .unionByName(Seq(7L).toDF("media_id")
        .select(col("media_id"), encode(lit("not a container"), "UTF-8").as("content")))
    val got = Multimodal.sniffMedia(df, "content")
      .orderBy("media_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        if (r.isNullAt(4)) -1 else r.getInt(4)))
    assert(got.toSeq == Seq(
      (1L, "png", 800, 600),
      (2L, "gif", 320, 200),
      (3L, "jpeg", -1, -1),
      (4L, "pdf", -1, -1),
      (5L, "wav", -1, -1),
      (6L, "zip", -1, -1),
      (7L, "unknown", -1, -1),
      (8L, "png", -1, -1)), got.toSeq.toString)
  }

  test("Rag.rrfFuse: both-leg docs beat one-leg docs; missing leg scores zero") {
    val lex = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val vec = Seq((2L, 1L), (4L, 2L)).toDF("id", "rank")
    val got = graft.pipelines.Rag.rrfFuse(lex, vec, "id", c = 60, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    // doc 2 is in both lists -> 1/62 + 1/61; singles get one leg only
    assert(math.abs(got(2L) - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    assert(math.abs(got(1L) - 1.0 / 61) < 1e-12)
    assert(math.abs(got(4L) - 1.0 / 62) < 1e-12)
    assert(got(2L) > got.filterKeys(_ != 2L).values.max, "both-leg doc must lead")
    // k truncates by fused score with id tie-break
    val top2 = graft.pipelines.Rag.rrfFuse(lex, vec, "id", 60, 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 == Seq(2L, 1L))
  }

  test("Corpus.funnel: each gate drops exactly its own casualties") {
    val markers = Seq("good" -> Seq("data"), "bad" -> Seq("noise"))
    val docs = Seq(
      // survives every stage (long enough, dataish, unique, clean)
      (1L, ("data stream " * 30) + "unique alpha beta gamma delta"),
      // wrong language -> lang gate
      (2L, ("noise noise " * 30) + "something else entirely here now"),
      // too short -> quality gate (length term sinks the score)
      (3L, "data tiny"),
      // exact duplicate of 1 -> dedup keeps the lower id
      (4L, ("data stream " * 30) + "unique alpha beta gamma delta"),
      // shares 3-grams with the benchmark -> decontamination
      (5L, ("data stream " * 30) + "leaked shared benchmark phrase verbatim")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the leaked shared benchmark phrase verbatim text"))
      .toDF("doc_id", "text")
    val got = Corpus
      .funnel(docs, bench, "text", "doc_id", markers,
        keepLang = "good", stopwords = Seq("the"), minQuality = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), s"expected only doc 1 to survive, got $got")
  }

  test("Corpus.funnel perplexity gate drops the corpus-atypical tail") {
    val markers = Seq("good" -> Seq("data"))
    val typical = ("data stream pipeline " * 15).trim
    val docs = Seq(
      (1L, s"$typical one"),
      (2L, s"$typical two"),
      (3L, s"$typical three"),
      // passes lang (has 'data') and quality, but every other token is
      // a hapax -> highest mean NLL under the survivors' own LM
      (4L, "data zxqv wkjh qqpl mnbv xxyz gfds trew uyio plkj " * 4)
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "benchmark only text nothing shared")).toDF("doc_id", "text")
    def run(thr: Option[Double]) = Corpus
      .funnel(docs, bench, "text", "doc_id", markers,
        keepLang = "good", stopwords = Seq("the"), minQuality = 0.3,
        maxMeanNll = thr)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val noGate = run(None)
    assert(noGate.contains(4L), "gibberish doc must pass the heuristic gates")
    // threshold between the typical docs' NLL and the gibberish doc's
    val scored = graft.operators.TextAnalysis
      .perplexity(
        docs.filter($"doc_id" =!= 100L), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val thr = (scored(1L) + scored(4L)) / 2
    assert(run(Some(thr)) == noGate - 4L, "only the high-NLL doc drops")
  }
}
