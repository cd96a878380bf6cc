package graft.functions

import graft.expressions.{CosineSimilarity, HashEmbed}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** V1/V2 — vector functions: cosine similarity (custom codegen
  * Expression) and a deterministic hashing text featurizer standing in
  * for the external embedding client (reference
  * `/root/reference/src/services/embeddings.py:52-104` — OpenAI
  * text-embedding-3-small; the engine keeps the embedder pluggable and
  * uses this featurizer for deterministic tests/oracles).
  */
object VectorFns {

  /** Cosine similarity of two vector columns (array<float|double>). */
  def cosine(a: Column, b: Column): Column = CosineSimilarity.cosine(a, b)

  /** Codegen dot product (pair-scan kernel; see DotProduct). */
  def dotc(a: Column, b: Column): Column = graft.expressions.DotProduct.dot(a, b)

  /** L2 norm via the same accumulation chain CosineSimilarity uses
    * internally — `cosine(a,b) == dotc(a,b)/(norm2(a)*norm2(b))`
    * bit-for-bit.
    */
  def norm2(a: Column): Column = sqrt(graft.expressions.DotProduct.dot(a, a))

  /** Sequential-fold dot product via higher-order functions — kept for
    * oracle-mirroring; `cosine` above is the fast path.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0),
      (acc, x) => acc + x)

  /** Deterministic hashing featurizer: token-count vector of dimension
    * `dim` (≤16), bucket = first hex digit of md5(token) mod dim. The
    * `HashEmbed` kernel (one eval per row), shared with RAG chunk
    * scoring and the query-side vector; value-identical to the
    * explode → md5 bucket → count formulation that the DuckDB
    * `embedText` mirror computes.
    */
  def embedText(text: Column, dim: Int = 16): Column = {
    require(dim > 0 && dim <= 16, "featurizer dim must be in 1..16")
    HashEmbed.embed(text, dim)
  }
}
