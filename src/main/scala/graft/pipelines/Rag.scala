package graft.pipelines

import graft.expressions.HashEmbed
import graft.functions.{TextFns, VectorFns}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** E1 — the RAG retrieval pipeline, minus the external LLM tail
  * (reference `/root/reference/src/rag_pipeline.py:24-75` and
  * `src/agents/tools.py:161-245`):
  *
  *   documents → chunk (C1) → embed (V1, deterministic featurizer) →
  *   cosine vs query vector (V2) → source filter (F1, pushed BELOW the
  *   top-k — strictly better than the reference's over-fetch) →
  *   orderBy(score desc).limit(k) (W1) → projection (F11).
  *
  * The embedder is the deterministic hashing featurizer, the
  * `HashEmbed` kernel: one eval per chunk, so a search is one narrow
  * stage (scan → filter → posexplode → score → TakeOrderedAndProject)
  * with no row per token and no shuffle. The query-side vector comes
  * from the same kernel on the driver. A production deployment swaps
  * in a batched external embedding client behind the same column
  * contract (SURVEY §7.4 non-determinism firewall).
  */
object Rag {

  /** V4 — query augmentation: prepend the company id to the query text
    * before embedding so the company's own tokens pull its chunks up
    * the ranking (reference `src/rag_search.py:41-42`,
    * `src/agents/tools.py:218-219` — `f"{company_id} {query}"`). Blank
    * parts collapse (concat_ws semantics) so a missing company id
    * degrades to the bare query instead of a leading-space token.
    */
  def augmentQuery(companyId: String, query: String): String =
    Seq(companyId, query).map(_.trim).filter(_.nonEmpty).mkString(" ")

  /** Chunk documents into (doc_id, source, chunk_index, chunk). */
  def chunkDocs(docs: DataFrame, textCol: String, idCol: String, chunkSize: Int): DataFrame =
    docs.select(
      col(idCol),
      col("source"),
      posexplode(TextFns.chunks(col(textCol), chunkSize)).as(Seq("chunk_index", "chunk")))

  /** Driver-side featurizer for the query string: the same
    * `HashEmbed` kernel the chunks are scored with, so a query
    * identical to a chunk's text scores cosine 1 against it. Null in →
    * null out.
    */
  def embedQueryVector(text: String, dim: Int): Array[Double] = HashEmbed.vector(text, dim)

  /** Full retrieval: top-k chunks for a query string. */
  def topKChunks(
      docs: DataFrame,
      queryText: String,
      k: Int,
      chunkSize: Int = 200,
      dim: Int = 16,
      sourceContains: Option[String] = None): DataFrame = {
    val chunks = chunkDocs(docs, "text", "doc_id", chunkSize)
    val filtered = sourceContains match {
      // F1 company filter — applied BEFORE scoring so the scan prunes
      case Some(substr) => chunks.filter(lower(col("source")).contains(substr.toLowerCase))
      case None         => chunks
    }
    val qvec = array(embedQueryVector(queryText, dim).toIndexedSeq.map(lit): _*)
    // chunkDocs emits no null chunk, and a chunk without tokens embeds
    // to the zero vector, which scores 0.0
    filtered
      .withColumn("score", VectorFns.cosine(HashEmbed.embed(col("chunk"), dim), qvec))
      .orderBy(col("score").desc, col("doc_id"), col("chunk_index"))
      .limit(k)
      .select(
        col("doc_id"),
        col("chunk_index").cast("long").as("chunk_index"),
        col("source"),
        col("score"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    * hybrid-retrieval combiner: two ranked candidate lists (each
    * (id, rank) with rank 1-based) fuse by Σ 1/(c + rank); a doc
    * present in only one list contributes only that leg (full outer
    * join, the other leg scores 0). Rank arithmetic is integer →
    * one exact IEEE division per leg, so fusion is as deterministic
    * as its inputs; ties break on id.
    *
    * Scale shape: the inputs are ALREADY top-N lists (each leg's
    * retrieval bounds its candidates with TakeOrderedAndProject), so
    * the fusion join touches ≤ 2N rows regardless of corpus size.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, c: Int, k: Int): DataFrame = {
    require(c >= 0 && k > 0, "need c >= 0 and k > 0")
    def leg(r: Column) = coalesce(lit(1.0) / (lit(c.toDouble) + r), lit(0.0))
    a.select(col(idCol), col("rank").as("rank_a"))
      .join(b.select(col(idCol), col("rank").as("rank_b")), Seq(idCol), "full_outer")
      .withColumn("rrf", leg(col("rank_a")) + leg(col("rank_b")))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }
}
