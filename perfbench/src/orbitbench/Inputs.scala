package orbitbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One serving request of the replayed stream. */
final case class Request(id: Int, kind: String, company: String, text: String, vec: Array[Double])

/** One daily delta: docs whose content changed, docs added, docs removed. */
final case class Delta(
    seq: Int,
    changed: Seq[(Long, String, String)],
    added: Seq[(Long, String, String)],
    removed: Seq[Long]) {
  def size: Int = changed.size + added.size + removed.size
}

/** Seeded input generator. Everything the engine sees is derived from
  * the read-only sf tables plus `seed`; the same seed gives the same
  * inputs. Outputs land under the run's scratch directory only.
  */
object Inputs {

  /** The sf documents' vocabulary (every text is drawn from it). */
  val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value", "data",
    "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  val NCompanies = 40

  def companyId(c: Int): String = f"co$c%03d"

  /** A company name that no source contains: RAG requests for it take
    * the fallback path.
    */
  def unknownCompany(c: Int): String = f"zz$c%03d"

  /** Corpus: `copies` copies of the sf documents. Copy i > 0 suffixes
    * every token with `q<i>` (copies share no shingle, so each keeps
    * the base corpus's pair and cluster structure); ids are
    * `2 * (i * 1e6 + doc_id)`. Docs are dealt round-robin, in a seeded
    * order, to the companies (`source` = `coNNN/feed`); a seeded 1/40 of docs carries a risk
    * keyword; when `plantMod > 0`, a seeded 1/plantMod of docs gets a
    * planted near-duplicate at id + 1 (the text plus three seeded
    * vocabulary tokens, Jaccard ≈ 0.9 against its source).
    */
  def corpus(spark: SparkSession, dataDir: String, seed: Long, copies: Int, plantMod: Int): DataFrame = {
    val src = spark.read.parquet(s"$dataDir/documents.parquet")
    val base = (0 until copies).map { i =>
      val text =
        if (i == 0) col("text")
        else array_join(transform(split(col("text"), " "), t => concat(t, lit(s"q$i"))), " ")
      src.select(((lit(i.toLong * 1000000L) + col("doc_id")) * 2).as("doc_id"), text.as("text"))
    }.reduce(_ unionByName _)
      .withColumn(
        "text",
        when(pmod(xxhash64(col("doc_id"), lit(seed + 1)), lit(40L)) === 0,
          concat(col("text"), lit(" layoff"))).otherwise(col("text")))
      // seeded round-robin: every company gets the same number of docs
      .withColumn("company_id", concat(lit("co"), lpad(
        (pmod(row_number().over(Window.orderBy(xxhash64(col("doc_id"), lit(seed)), col("doc_id"))),
          lit(NCompanies))).cast("string"), 3, "0")))
    val vocab = array(Vocab.toIndexedSeq.map(lit): _*)
    def tok(salt: Long) =
      element_at(vocab, (pmod(xxhash64(col("doc_id"), lit(seed + salt)), lit(Vocab.length.toLong)) + 1).cast("int"))
    val planted =
      if (plantMod <= 0) Nil
      else Seq(base
        .filter(pmod(xxhash64(col("doc_id"), lit(seed + 2)), lit(plantMod.toLong)) === 0)
        .select(
          (col("doc_id") + 1).as("doc_id"),
          concat_ws(" ", col("text"), tok(3), tok(4), tok(5)).as("text"),
          col("company_id")))
    (base +: planted).reduce(_ unionByName _)
      .withColumn("source", concat(col("company_id"), lit("/feed")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "source", "company_id", "n_chars")
  }

  /** Embeddings ×copies: copy i offsets `vec_id` by i·1e6 and circularly
    * shifts the vector by (seed + i) mod 64 positions — copies point in
    * distinct directions while norms and the component distribution
    * are kept.
    */
  def embeddings(spark: SparkSession, dataDir: String, seed: Long, copies: Int): DataFrame = {
    val src = spark.read.parquet(s"$dataDir/embeddings.parquet")
    val dim = 64
    (0 until copies).map { i =>
      val sh = ((seed + i) % dim).toInt
      val emb = col("embedding").cast("array<double>")
      val shifted = if (sh == 0) emb else concat(slice(emb, sh + 1, dim - sh), slice(emb, 1, sh))
      src.select((col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"), shifted.as("embedding"))
    }.reduce(_ unionByName _)
  }

  /** The companies table payloads are assembled around. */
  def companies(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until NCompanies).map(c => (companyId(c), s"Company $c")).toDF("company_id", "name")
  }

  private def queryText(rnd: java.util.Random): String =
    Seq.fill(2 + rnd.nextInt(2))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")

  /** Seeded request stream in blocks of 20, each a seeded shuffle of
    * 9 RAG requests for known companies, 3 for company names that match
    * nothing (a quarter of RAG takes the fallback path), 5 vector top-k
    * (a corpus vector plus Gaussian noise) and 3 payload lookups. Every
    * window of a few blocks thus sees the same mix, whatever the seed.
    * The shares are an assumption, not measured traffic: GLOSSARY.md
    * says how they were picked.
    */
  def requests(seed: Long, n: Int, vecPool: IndexedSeq[Array[Double]]): IndexedSeq[Request] = {
    val rnd = new java.util.Random(seed * 7919L + 11L)
    val block = Seq.fill(9)("rag") ++ Seq.fill(3)("fallback") ++ Seq.fill(5)("vec") ++ Seq.fill(3)("payload")
    val kinds = Iterator.continually(block).flatMap { b =>
      val xs = b.toArray
      for (i <- xs.indices.reverse) { val j = rnd.nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t }
      xs
    }
    kinds.take(n).zipWithIndex.map {
      case ("rag", i)      => Request(i, "rag", companyId(rnd.nextInt(NCompanies)), queryText(rnd), null)
      case ("fallback", i) => Request(i, "rag", unknownCompany(rnd.nextInt(1000)), queryText(rnd), null)
      case ("vec", i) =>
        val v = vecPool(rnd.nextInt(vecPool.size))
        val norm = math.sqrt(v.map(x => x * x).sum) / math.sqrt(v.length.toDouble)
        Request(i, "vec", "", "", v.map(x => x + rnd.nextGaussian() * 0.3 * norm))
      case (_, i) => Request(i, "payload", companyId(rnd.nextInt(NCompanies)), "", null)
    }.toIndexedSeq
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("company_id", StringType)))

  def docsFrame(spark: SparkSession, docs: Iterable[(Long, String, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        docs.map { case (id, text, company) => Row(id, text, s"$company/feed", company) }.toSeq,
        spark.sparkContext.defaultParallelism),
      DocSchema)

  /** Rewrite `k` seeded token positions of `text` with vocabulary
    * tokens (appending one when that leaves the text unchanged).
    */
  private def mutate(text: String, rnd: java.util.Random, k: Int): String = {
    val toks = text.split(" ")
    (0 until k).foreach(_ => toks(rnd.nextInt(toks.length)) = Vocab(rnd.nextInt(Vocab.length)))
    val out = toks.mkString(" ")
    if (out == text) s"$out ${Vocab(rnd.nextInt(Vocab.length))}" else out
  }

  /** The seeded daily delta `seq` against the live docs `live`
    * (doc_id → (text, company)); ids of added docs start at `nextId`.
    * Applies the delta to `live` and returns it.
    */
  def nextDelta(
      seed: Long,
      seq: Int,
      live: scala.collection.mutable.LinkedHashMap[Long, (String, String)],
      nextId: Long,
      nChanged: Int,
      nAdded: Int,
      nRemoved: Int): Delta = {
    val rnd = new java.util.Random(seed * 104729L + seq)
    val ids = live.keysIterator.toIndexedSeq
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(ids.size, nChanged + nRemoved)) picked += ids(rnd.nextInt(ids.size))
    val (chg, rem) = picked.toSeq.splitAt(nChanged)
    val changed = chg.map { id =>
      val (text, company) = live(id)
      (id, mutate(text, rnd, 4), company)
    }
    val added = (0 until nAdded).map { j =>
      val (text, _) = live(ids(rnd.nextInt(ids.size)))
      (nextId + 2L * j, mutate(text, rnd, 8), companyId(rnd.nextInt(NCompanies)))
    }
    changed.foreach { case (id, t, c) => live(id) = (t, c) }
    added.foreach { case (id, t, c) => live(id) = (t, c) }
    rem.foreach(live.remove)
    Delta(seq, changed, added, rem)
  }
}
