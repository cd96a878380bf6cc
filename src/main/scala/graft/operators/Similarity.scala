package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** V2/V3 — similarity search over an embedding column
  * (reference: Pinecone cosine top-k,
  * `/root/reference/src/services/embeddings.py:204-235`).
  *
  * Brute-force top-k is the exact baseline (plans as
  * TakeOrderedAndProject — per-partition heap, no global sort); the
  * IVF variant is the 100 TB path: coarse-quantize vectors into
  * `nlist` cells on ingest, probe only `nprobe` cells per query.
  */
object Similarity {

  /** Driver-side cosine of two dense vectors over their common prefix:
    * dot, |a|² and |b|² folded left-to-right in one pass, the
    * [[graft.expressions.CosineSimilarity]] kernel's fold, so a
    * driver-computed score is bit-identical to the in-plan one. 0.0
    * when either norm is zero.
    */
  private[graft] def cosine(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Exact cosine top-k for one query vector; optional pre-filter is
    * pushed BELOW the score computation (strictly better than the
    * reference's over-fetch-then-filter, SURVEY §2.9 V3).
    */
  def bruteForceTopK(
      df: DataFrame,
      embCol: String,
      query: Array[Double],
      k: Int,
      prefilter: Column = lit(true)): DataFrame = {
    val q = array(query.toIndexedSeq.map(lit): _*)
    df.filter(prefilter)
      .withColumn("score", VectorFns.cosine(col(embCol), q))
      .orderBy(col("score").desc, col(df.columns.head))
      .limit(k)
  }

  /** Matryoshka / prefix-dimension two-stage ANN (after Kusupati et
    * al., "Matryoshka Representation Learning", NeurIPS 2022, whose
    * models train nested embedding prefixes to be usable vectors on
    * their own): stage 1 scores the cheap PREFIX cosine (the first
    * `prefixDims` components) and keeps a `shortlist` of candidates
    * via distributed TakeOrdered; stage 2 re-scores ONLY the
    * shortlist with the full-dimension exact cosine and returns the
    * top k. The adaptive-retrieval shape for 100 TB: the prefix pass
    * reads prefixDims/dim of the vector bytes and its TakeOrdered
    * carries `shortlist` rows per partition, while the full-width
    * vectors only ever score `shortlist` rows — no corpus-wide
    * full-dimension work anywhere. Ties break on `idCol` in both
    * stages (the v2/ndcg contract). Returns (idCol, prefix_score,
    * score), top-k by exact score.
    */
  def matryoshkaTopK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      query: Array[Double],
      prefixDims: Int,
      shortlist: Int,
      k: Int): DataFrame = {
    require(prefixDims >= 1 && prefixDims <= query.length,
      "prefixDims must be in [1, query dims]")
    require(shortlist >= k, "shortlist must be >= k")
    val qPre = array(query.take(prefixDims).toIndexedSeq.map(lit): _*)
    val qFull = array(query.toIndexedSeq.map(lit): _*)
    df
      .withColumn(
        "prefix_score",
        VectorFns.cosine(slice(col(embCol), 1, prefixDims), qPre))
      .orderBy(col("prefix_score").desc, col(idCol))
      .limit(shortlist)
      .withColumn("score", VectorFns.cosine(col(embCol), qFull))
      .select(col(idCol), col("prefix_score"), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Semantic decontamination — the embedding analog of T7's shingle
    * decontamination (and the cross-corpus complement of
    * `dd_semdedup`): drop corpus rows whose max cosine vs ANY held-out
    * benchmark embedding reaches `tau`; survivors keep their audit
    * score as `bench_sim`.
    *
    * Scale shape: benchmark suites are tiny next to a pretraining
    * corpus (10³–10⁵ vectors vs 10⁹⁺ docs), so the bench vectors ride
    * as a CONSTANT array literal (same driver-collect bootstrap
    * contract as `fitCentroids`) and the max-similarity is a per-row
    * `aggregate` fold — one map-only pass over the corpus, zero
    * shuffle, zero join. The crossJoin+groupBy alternative shuffles
    * |corpus|×|bench| score rows; this shuffles nothing.
    */
  def semanticDecontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      embCol: String,
      tau: Double): DataFrame = {
    require(tau > -1.0, s"tau must exceed cosine's floor of -1, got $tau")
    // null embeddings carry no similarity evidence on either side:
    // null bench rows would NPE the driver map, and a null corpus row
    // would silently survive (greatest skips the null cosine) while a
    // SQL mirror's max() goes NULL and drops it — scope both out
    val vecs: Seq[Seq[Double]] = bench
      .select(col(embCol))
      .filter(col(embCol).isNotNull)
      .collect()
      .toSeq
      .map(_.getAs[scala.collection.Seq[Any]](0).map {
        case f: Float  => f.toDouble
        case d: Double => d
      }.toSeq)
    require(vecs.nonEmpty, "empty benchmark: nothing to decontaminate against")
    val benchLit = typedLit(vecs)
    Width.spread(corpus)
      .filter(col(embCol).isNotNull)
      .withColumn(
        "bench_sim",
        aggregate(
          benchLit,
          lit(-1.0),
          (acc, bv) => greatest(acc, VectorFns.cosine(col(embCol), bv))))
      .filter(col("bench_sim") < tau)
  }

  /** Per-vector int8 scalar quantization (the vector-db storage
    * compressor): scale = 127/max|x_i|, q_i = clamp(round(x_i·scale)).
    * 4× smaller than float32 with dequant error ≤ 0.5/scale per dim —
    * the standard memory/recall tradeoff ahead of a PQ codebook.
    * Zero vectors quantize to scale 0 and all-zero codes. Pure
    * per-row expressions (map-only), deterministic: max/abs/round are
    * exact IEEE ops an oracle reproduces bit-for-bit.
    */
  def int8Quantize(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val x = col(embCol).cast("array<double>")
    val maxAbs = array_max(transform(x, v => abs(v)))
    val scale = when(maxAbs > 0.0, lit(127.0) / maxAbs).otherwise(lit(0.0))
    Width.spread(df)
      .filter(col(embCol).isNotNull)
      .withColumn("scale", scale)
      .select(
        col(idCol).as("id"),
        col("scale"),
        transform(x, v =>
          greatest(lit(-127L), least(lit(127L), round(v * col("scale"), 0).cast("long"))))
          .as("qvec"))
  }

  /** Exact k-NN self-join: for every vector its single nearest
    * neighbor (excluding itself). Quadratic verify — bounded use; the
    * scale path is `ivfAssign` + per-cell knn.
    *
    * Pair-scan engineering (the O(N²) hot loop):
    *   - cast float→double and compute norms BELOW the join (per row,
    *     not per pair); per pair only one codegen dot-product fold —
    *     `dot/(norm·norm)` is bit-identical to CosineSimilarity;
    *   - a constant-key equi-join plans as codegen BroadcastHashJoin
    *     instead of the interpreted BroadcastNestedLoopJoin a
    *     `id =!= nn_id` theta-join gets;
    *   - argmax via TWO chained HashAggregates that both reuse the
    *     pair stream's hash(id) layout (HashPartitioning(id) clusters
    *     any grouping that CONTAINS id → zero exchanges, the aggs
    *     pipeline in one stage): level 1 groups by
    *     (id, sortableBits(score)) and takes min(nn_id) — the
    *     deterministic tie-break, reduced map-side; level 2 groups by
    *     id and takes max(bits) + max_by(min_id, bits), tie-free
    *     because level 1 left bits distinct per id. All aggregation
    *     buffers are primitive longs, so both passes stay
    *     HashAggregate with map-side partials — no WindowExec
    *     (~2 µs/row over N² rows), no SortAggregate
    *     (`max(struct(score, id))` has an immutable buffer), no
    *     per-pair decimal packing (measured 3-4× slower than longs).
    *     `DoubleSortableBits` is the order-preserving double↔long
    *     bridge; its involution decodes the winner's exact score;
    *   - the equal-length contract (split cosine uses full-length
    *     norms while CosineSimilarity truncates to min(len)) is
    *     asserted ONCE over the N base rows — min(size)==max(size)
    *     broadcast back — not per pair.
    */
  def nearestNeighborJoin(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    // spread the streamed side on id: a small parquet scan arrives in
    // ~1 partition, which would run the whole O(N²) scan on one
    // thread; hash(id) also becomes the pair stream's layout, so the
    // final hash-agg below needs no further exchange over the N² rows.
    // No-op for inputs already at cluster width (Width.spreadBy).
    val base0 = Width
      .spreadBy(
        df.select(col(idCol).as("id"), col(embCol).cast("array<double>").as("emb")),
        col("id"))
    // dimension-uniformity check hoisted BELOW the join: one tiny agg
    // over N rows, broadcast back, asserted once per base row — the N²
    // pair stream never evaluates size()/assert_true.
    val dims = base0.agg(
      min(size(col("emb"))).as("__lo"),
      max(size(col("emb"))).as("__hi"))
    val base = base0
      .crossJoin(broadcast(dims))
      .filter(
        assert_true(
          col("__lo") === col("__hi"),
          lit("nearestNeighborJoin: embeddings must all have the same length")).isNull)
      .drop("__lo", "__hi")
      .withColumn("norm", VectorFns.norm2(col("emb")))
      .withColumn("__k", lit(0))
    val b = base.select(
      col("__k").as("__k2"),
      col("id").as("nn_id"),
      col("emb").as("nn_emb"),
      col("norm").as("nn_norm"))
    val pairs: DataFrame = base
      .join(b, col("__k") === col("__k2"))
      .filter(col("id") =!= col("nn_id"))
      .withColumn("denom", col("norm") * col("nn_norm"))
      .withColumn(
        "score",
        when(col("denom") === 0.0, 0.0)
          .otherwise(VectorFns.dotc(col("emb"), col("nn_emb")) / col("denom")))
      .select(col("id"), col("nn_id"), col("score"))
    import graft.expressions.DoubleSortableBits.{fromSortableBits, sortableBits}
    pairs
      .groupBy(col("id"), sortableBits(col("score")).as("__bits"))
      .agg(min(col("nn_id")).as("nn_id"))
      .groupBy(col("id"))
      .agg(
        max_by(col("nn_id"), col("__bits")).as("nn_id"),
        max(col("__bits")).as("__bits"))
      .select(col("id"), col("nn_id"), fromSortableBits(col("__bits")).as("score"))
  }

  /** Ingest-time L2 normalization: with unit vectors stored, every
    * downstream cosine is a plain dot product — at 100 TB you pay the
    * division once per row at write time instead of once per pair per
    * query. Zero vectors stay zero (cosine-with-zero = 0 semantics).
    */
  def normalizeEmbeddings(df: DataFrame, embCol: String): DataFrame = {
    val emb = col(embCol).cast("array<double>")
    val n = VectorFns.norm2(emb)
    df.withColumn("norm", n)
      .withColumn(
        s"${embCol}_unit",
        when(n === 0.0, emb).otherwise(transform(emb, x => x / n)))
  }

  /** IVF coarse assignment: nearest of `centroids` per row (cell id =
    * centroid index). Centroids are broadcast as a literal array —
    * at scale they come from a sampled k-means fit.
    */
  def ivfAssign(df: DataFrame, embCol: String, centroids: Seq[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "ivfAssign: centroids must be non-empty")
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(
        VectorFns.cosine(col(embCol), array(c.toIndexedSeq.map(lit): _*)).as("sim"),
        lit(i).as("cell"))
    }
    // greatest() rejects a single argument — one centroid is cell 0
    val best = if (scored.size == 1) scored.head else greatest(scored: _*)
    df.withColumn("cell", best.getField("cell"))
  }

  /** Random-hyperplane LSH signature (cosine-preserving, SimHash for
    * vectors): `nBits` sign bits of projections onto deterministic
    * pseudo-random planes (seeded — stable across runs/executors).
    * Near-identical-direction vectors land in the same bucket; use
    * multi-table OR multi-probe for recall at scale.
    */
  /** The ONE source of hyperplane truth: every consumer (row-side
    * signature fold, driver-side query signature) derives its planes
    * from this seeded stream, so bucket spaces cannot drift apart.
    */
  private[graft] def hyperplanes(dim: Int, nBits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  def hyperplaneSignature(df: DataFrame, embCol: String, dim: Int, nBits: Int, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, nBits, seed)
    val emb = col(embCol).cast("array<double>")
    val bits = planes.map { p =>
      val dot = VectorFns.cosine(emb, array(p.toIndexedSeq.map(lit): _*)) // sign(cos)=sign(dot)
      when(dot > 0, lit("1")).otherwise(lit("0"))
    }
    df.withColumn("lsh_bucket", concat(bits.toIndexedSeq: _*))
  }

  /** Banded random-hyperplane LSH near-dup pairs: the `bands ×
    * bitsPerBand`-bit signature is split into `bands` bands; a pair is
    * a candidate when it agrees on ALL bits of ANY band (the
    * MinHash-banding OR-of-ANDs, `Dedup.minhashLshPairs`'s structure
    * applied to cosine space). Candidates are verified with exact
    * cosine, so banding only ever adds recall, never false positives.
    *
    * Why bands: a single full-signature match loses a cosine-0.85
    * near-dup whenever ANY of its bits disagrees — recall collapses
    * multiplicatively with signature width. With collision probability
    * p = (1 - θ/π) per bit, banding turns per-pair recall into
    * 1 - (1 - p^r)^b, tunable to ≥0.99 while random pairs stay
    * filtered by the r-bit AND (measured floor in AnnRecallSpec).
    *
    * Plan shape (100 TB posture: the band join of
    * `Dedup.minhashLshPairs`, `Dedup.bandCandidates`, over hyperplane
    * buckets): one persisted pass computes (id, emb, norm, signature); the band explode and
    * bucket self-join carry only (id, band, bucket) — the embedding
    * arrays never ride the bucket shuffle `bands` times; candidate
    * pairs are dedup'd across bands BEFORE the verify join pulls
    * embeddings back by id, so each surviving pair is scored exactly
    * once.
    */
  def bandedLshNearDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      bands: Int,
      bitsPerBand: Int,
      threshold: Double,
      seed: Long = 42L): DataFrame = {
    require(bands > 0 && bitsPerBand > 0, "bands and bitsPerBand must be positive")
    // persisted: the band explode and both verify sides read one scan
    // + one projection pass (bands*bitsPerBand hyperplane folds per
    // row) — the caching contract of Dedup's pair operators
    // (`Dedup.persisted`)
    val signed = hyperplaneSignature(df, embCol, dim, bands * bitsPerBand, seed)
      .select(col(idCol).as("id"), col(embCol).cast("array<double>").as("emb"), col("lsh_bucket"))
      .withColumn("norm", VectorFns.norm2(col("emb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val buckets = (0 until bands).map(b => substring(col("lsh_bucket"), b * bitsPerBand + 1, bitsPerBand))
    val cand = Dedup.bandCandidates(signed, signed, buckets, col("id_a") < col("id_b"))
    val ea = signed.select(col("id").as("id_a"), col("emb").as("emb_a"), col("norm").as("norm_a"))
    val eb = signed.select(col("id").as("id_b"), col("emb").as("emb_b"), col("norm").as("norm_b"))
    cand
      .join(ea, Seq("id_a"))
      .join(eb, Seq("id_b"))
      .filter(
        assert_true(
          size(col("emb_a")) === size(col("emb_b")),
          lit("bandedLshNearDupPairs: embeddings must all have the same length")).isNull)
      .withColumn("denom", col("norm_a") * col("norm_b"))
      .withColumn(
        "score",
        when(col("denom") === 0.0, 0.0)
          .otherwise(VectorFns.dotc(col("emb_a"), col("emb_b")) / col("denom")))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** LSH-bucketed near-dup pairs on the FULL signature (one band of
    * `nBits` bits) — the high-precision/low-recall corner of
    * `bandedLshNearDupPairs`; prefer banding when recall matters.
    */
  def lshNearDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      dim: Int,
      nBits: Int,
      threshold: Double,
      seed: Long = 42L): DataFrame =
    bandedLshNearDupPairs(df, idCol, embCol, dim, bands = 1, bitsPerBand = nBits, threshold, seed)

  /** LSH-bucketed approximate top-k: probe every bucket within
    * `radius` sign-bit flips of the query's bucket (multi-probe LSH —
    * radius 1 probes nBits+1 of the 2^nBits buckets), then exact-rank
    * the probed rows. The query's signature is computed driver-side
    * from the SAME seeded plane stream `hyperplaneSignature` folds
    * per row, so the bucket predicate is a pure column comparison —
    * at scale the scan reads only the probed buckets' partitions when
    * the corpus is stored bucket-partitioned.
    *
    * RECALL WARNING — single-table corner: one full-signature table
    * loses a neighbor whenever more than `radius` of its nBits sign
    * bits disagree, and per-bit agreement for a cosine-s neighbor is
    * only 1 - acos(s)/pi (~0.6 at s≈0.35), so recall collapses
    * multiplicatively with nBits (measured 0.3 at 4 bits/radius 1 in
    * AnnRecallSpec, floor 0.2). Retrieval users should reach for
    * [[bandedLshTopK]] (OR-of-ANDs banding, measured floor 0.5) or
    * [[ivfTopK]] (probed-mass control, floor 0.7); this single-table
    * form is kept for the bucket-pruned-scan layout where one bucket
    * column IS the partition key.
    */
  def lshTopK(
      df: DataFrame,
      embCol: String,
      dim: Int,
      nBits: Int,
      query: Array[Double],
      k: Int,
      radius: Int = 1,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, nBits, seed)
    // raw dot suffices: the column side folds cosine, and
    // sign(cosine) = sign(dot) — the bucket bit agrees even though
    // the scalar values differ
    val qSig = planes.map { p =>
      var dot = 0.0; var i = 0
      while (i < math.min(dim, query.length)) { dot += query(i) * p(i); i += 1 }
      if (dot > 0) '1' else '0'
    }.mkString
    val signed = hyperplaneSignature(df, embCol, dim, nBits, seed)
    val hamming = (0 until nBits)
      .map(i =>
        when(substring(col("lsh_bucket"), i + 1, 1) === lit(qSig(i).toString), 0).otherwise(1))
      .reduce((a: Column, b: Column) => a + b)
    bruteForceTopK(signed.filter(hamming <= radius), embCol, query, k)
  }

  /** Banded LSH top-k — [[bandedLshNearDupPairs]]'s OR-of-ANDs
    * treatment applied to single-query retrieval: a row is probed when
    * ANY of its `bands` signature bands agrees with the query's band
    * on ALL `bitsPerBand` bits, then the probed rows are exact-ranked.
    * Per-neighbor probe probability is 1 - (1 - p^r)^b for per-bit
    * agreement p — tunable to ≥0.9 where the single-table form
    * ([[lshTopK]]) collapses; `probeRadius ≥ 1` (multiprobe: a band
    * matches within that many sign flips) pushes it toward 1 at the
    * cost of a larger probed mass. The band predicate is a pure
    * column expression (no join, no shuffle): at scale, store the
    * corpus partitioned by the first band's bucket and the probe
    * prunes to 1/2^bitsPerBand of the files (1 + bitsPerBand buckets
    * at radius 1) before the residual bands filter map-side.
    */
  def bandedLshTopK(
      df: DataFrame,
      embCol: String,
      dim: Int,
      bands: Int,
      bitsPerBand: Int,
      query: Array[Double],
      k: Int,
      seed: Long = 42L,
      probeRadius: Int = 0): DataFrame = {
    require(bands > 0 && bitsPerBand > 0, "bands and bitsPerBand must be positive")
    require(probeRadius >= 0 && probeRadius < bitsPerBand,
      "probeRadius must be in [0, bitsPerBand)")
    val nBits = bands * bitsPerBand
    val planes = hyperplanes(dim, nBits, seed)
    val qSig = planes.map { p =>
      var dot = 0.0; var i = 0
      while (i < math.min(dim, query.length)) { dot += query(i) * p(i); i += 1 }
      if (dot > 0) '1' else '0'
    }.mkString
    val signed = hyperplaneSignature(df, embCol, dim, nBits, seed)
    // probeRadius = 0 keeps the exact band-equality predicate (one
    // string compare per band); radius r relaxes each band to "within
    // r sign flips" — multiprobe, per-neighbor probe probability
    // 1 - (1 - P(Binom(bitsPerBand, p) >= bitsPerBand - r))^bands.
    // The r-neighborhood is ENUMERATED driver-side (hamming ≤ r ⟺
    // membership in the sum C(bitsPerBand, 0..r) flipped variants) so
    // the row predicate stays a small isin — a per-bit CASE tree here
    // measurably blows the generated filter method past Janino's
    // limit and drops the stage to interpreted. Enumeration is also
    // the at-scale form: over a first-band-partitioned layout the
    // variant list IS the directory probe set (1 + bitsPerBand dirs
    // at radius 1).
    def bandVariants(band: String): Seq[String] =
      (0 to probeRadius).flatMap { r =>
        band.indices.combinations(r).map { flips =>
          val chars = band.toCharArray
          flips.foreach(i => chars(i) = if (chars(i) == '1') '0' else '1')
          new String(chars)
        }
      }
    val anyBand = (0 until bands)
      .map { b =>
        val sub = substring(col("lsh_bucket"), b * bitsPerBand + 1, bitsPerBand)
        val qBand = qSig.substring(b * bitsPerBand, (b + 1) * bitsPerBand)
        if (probeRadius == 0) sub === lit(qBand)
        else sub.isin(bandVariants(qBand): _*)
      }
      .reduce((a: Column, c: Column) => a || c)
    bruteForceTopK(signed.filter(anyBand), embCol, query, k)
  }

  /** Product-quantization encoding: the embedding is split into
    * `numSub` contiguous subvectors; each is coded as the index of its
    * nearest subspace centroid (cosine argmax, ties to the larger
    * index — `greatest` struct semantics). At 100 TB the 8-byte code
    * replaces the 256-byte vector in the candidate index; exact
    * re-ranking touches full vectors only for the shortlist.
    * `centroids(s)(c)` = centroid c of subspace s.
    */
  def pqEncode(
      df: DataFrame,
      embCol: String,
      subDim: Int,
      centroids: Seq[Seq[Array[Double]]]): DataFrame = {
    val emb = col(embCol).cast("array<double>")
    centroids.zipWithIndex.foldLeft(df) { case (acc, (subCents, s)) =>
      val sub = slice(emb, s * subDim + 1, subDim)
      val scored = subCents.zipWithIndex.map { case (c, i) =>
        struct(
          VectorFns.cosine(sub, array(c.toIndexedSeq.map(lit): _*)).as("sim"),
          lit(i).as("cell"))
      }
      acc.withColumn(s"pq_$s", greatest(scored: _*).getField("cell"))
    }
  }

  /** PQ approximate top-k with exact re-rank (asymmetric distance):
    * the query is NOT quantized — per subspace a 4-entry lookup table
    * of dot(query_s, centroid_c) is precomputed driver-side, the
    * approximate score is 8 array lookups + adds per row (no vector
    * math on the scan), the `shortlist` best by approximate score are
    * re-ranked with exact cosine. At 100 TB the scan touches only the
    * byte codes; full vectors are read for `shortlist` rows.
    */
  def pqTopK(
      encoded: DataFrame,
      embCol: String,
      centroids: Seq[Seq[Array[Double]]],
      query: Array[Double],
      subDim: Int,
      shortlist: Int,
      k: Int,
      idCol: String = "vec_id"): DataFrame = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    val adc: Seq[Seq[Double]] = centroids.zipWithIndex.map { case (subCents, s) =>
      val qs = query.slice(s * subDim, (s + 1) * subDim)
      subCents.map(c => dot(qs, c))
    }
    val approx = adc.zipWithIndex
      .map { case (tbl, s) =>
        element_at(array(tbl.map(lit): _*), col(s"pq_$s").cast("int") + 1)
      }
      .reduce(_ + _) // fixed left-to-right order — mirrored in the oracle
    val short = encoded
      .withColumn("approx_score", approx)
      .orderBy(col("approx_score").desc, col(idCol))
      .limit(shortlist)
    short
      .withColumn(
        "score",
        VectorFns.cosine(col(embCol), array(query.toIndexedSeq.map(lit): _*)))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Embedding-distribution drift monitor: for every group (source,
    * ingest batch, snapshot), the cosine between the group's mean
    * embedding DIRECTION and the corpus's — the cheap early-warning
    * that a feed's embedding distribution moved (encoder version
    * bump, upstream content shift, a poisoned source). Cosine is
    * scale-invariant, so SUM vectors stand in for means and no
    * division ever happens.
    *
    * Exactness discipline: each component quantizes ONCE to nano
    * units (round(v·1e9) as BIGINT — the entropy-family rounding,
    * mirrored by the oracle), per-(group, dim) sums are exact integer
    * math on any partitioning, group vectors rebuild in dim order,
    * and the final cosine is the fixed left-to-right kernel fold on
    * integers-as-doubles — bit-identical on any engine. Null
    * embeddings carry no evidence and are excluded; ragged dims are a
    * caller contract (fixed-dim embedding columns).
    *
    * Scale shape: one posexplode pass → map-side-combined hash agg on
    * (group, dim) — dims·groups bounded — then a groups-bounded
    * rebuild; the global vector is a dims-bounded rollup broadcast
    * into the comparison. Returns (group, n_vecs, drift_cos round 6).
    */
  def embeddingDriftByGroup(
      df: DataFrame,
      groupCol: Column,
      embCol: String): DataFrame = {
    val dims = df
      .filter(col(embCol).isNotNull)
      .select(
        groupCol.as("group"),
        posexplode(col(embCol).cast("array<double>")).as(Seq("dim", "v")))
      .select(
        col("group"),
        col("dim"),
        round(col("v") * lit(1e9), 0).cast("long").as("q"))
    val sums = dims
      .groupBy(col("group"), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("c"))
    val gVec = sums
      .groupBy(col("group"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), col("sq")))),
          x => x.getField("sq").cast("double")).as("gv"),
        // every dim counts each vector once — any dim's count is the
        // group's vector count
        max(col("c")).as("n_vecs"))
    val global = broadcast(
      sums
        .groupBy(col("dim"))
        .agg(sum(col("sq")).as("tq"))
        .agg(
          transform(
            array_sort(collect_list(struct(col("dim"), col("tq")))),
            x => x.getField("tq").cast("double")).as("cv")))
    gVec
      .crossJoin(global)
      .select(
        col("group"),
        col("n_vecs"),
        round(graft.functions.VectorFns.cosine(col("gv"), col("cv")), 6).as("drift_cos"))
  }

  /** Pairwise mean-direction affinity between groups — the matrix
    * view of [[embeddingDriftByGroup]] (that op scores each group
    * against the corpus; this scores every group pair against each
    * other): cosine of the groups' EXACT integer sum vectors
    * (nano-quantized component sums; cosine is scale-invariant, so
    * the sum vector IS the mean direction with no division and no
    * float accumulation anywhere). The cross-source affinity map a
    * mixture designer reads before re-weighting — two sources whose
    * directions cosine at 0.99 are redundant, a 0.2 source adds
    * diversity. One posexplode pass + (groups·dims)-bounded aggs;
    * the pair join is groups², bounded by the group universe.
    * Returns (group_a, group_b, n_a, n_b, affinity_cos) for
    * group_a < group_b.
    */
  def groupAffinityMatrix(
      df: DataFrame,
      groupCol: Column,
      embCol: String): DataFrame = {
    val sums = df
      .filter(col(embCol).isNotNull)
      .select(
        groupCol.as("group"),
        posexplode(col(embCol).cast("array<double>")).as(Seq("dim", "v")))
      .select(col("group"), col("dim"), round(col("v") * lit(1e9), 0).cast("long").as("q"))
      .groupBy(col("group"), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("c"))
    val gVec = sums
      .groupBy(col("group"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), col("sq")))),
          x => x.getField("sq").cast("double")).as("gv"),
        max(col("c")).as("n_vecs"))
    val a = gVec.select(col("group").as("group_a"), col("gv").as("va"), col("n_vecs").as("n_a"))
    val b = gVec.select(col("group").as("group_b"), col("gv").as("vb"), col("n_vecs").as("n_b"))
    a.join(b, col("group_a") < col("group_b"))
      .select(
        col("group_a"),
        col("group_b"),
        col("n_a"),
        col("n_b"),
        round(graft.functions.VectorFns.cosine(col("va"), col("vb")), 6).as("affinity_cos"))
  }

  /** Maximal Marginal Relevance re-rank of a bounded candidate pool:
    * greedily pick `k` results maximizing
    * `lambda·rel − penalty·max(sim to already-picked)` — the standard
    * diversification pass after retrieval, so near-duplicate hits
    * don't crowd the result list (the retrieval-side complement of
    * the dedup family).
    *
    * Pool contract (enforced): `candidates` is a top-N SHORTLIST (a
    * retrieval stage's bounded output, N ≲ hundreds) — ids, rel
    * scores and vectors are collected to the driver (the documented
    * constant-bootstrap class: the greedy argmax chain is inherently
    * sequential in k, and k·N pairwise cosines on ≤ hundreds of rows
    * is driver-trivial at any corpus scale; the EXPENSIVE part, the
    * corpus-wide top-N, stays distributed upstream). A pool larger
    * than `maxPool` fails fast with a counted require — the collect
    * is limit-bounded, so the failure costs maxPool + 1 rows of
    * driver memory, not an OOM.
    *
    * Exactness: pairwise cosine uses the same left-to-right
    * accumulation as the CosineSimilarity kernel and its list_reduce
    * oracle; `lambda`/`penalty` are caller-supplied literals (pass
    * 0.7/0.3, NOT 1−λ computed at runtime — 1.0−0.7 is not the same
    * double as the literal 0.3); ties break on id ascending. The
    * whole chain is bit-reproducible against an unrolled-CTE SQL
    * mirror.
    *
    * Returns (rank, id, rel, mmr) with rank 1..k in pick order;
    * step 1's mmr is lambda·rel (empty penalty term).
    */
  def mmrRerank(
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      relCol: String,
      k: Int,
      lambda: Double,
      penalty: Double,
      maxPool: Int = 10000): DataFrame = {
    require(k > 0, "k must be positive")
    require(maxPool > 0, "maxPool must be positive")
    // null vector/score rows carry no rankable evidence — scoped out,
    // the semanticDecontaminate null rule (an unguarded collect would
    // NPE on the first null a generic caller's shortlist carries).
    // The shortlist contract is ENFORCED, not just documented: the
    // collect is bounded by limit(maxPool + 1) — a caller who wires a
    // corpus-proportional frame in here gets a counted require failure
    // after collecting at most maxPool + 1 rows, never a driver OOM.
    val pool = candidates
      .filter(col(vecCol).isNotNull && col(relCol).isNotNull)
      .select(
        col(idCol).cast("long"),
        col(relCol).cast("double"),
        col(vecCol).cast("array<double>"))
      .limit(maxPool + 1)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray))
    require(
      pool.length <= maxPool,
      s"mmrRerank pool exceeds maxPool=$maxPool rows — candidates must be a bounded " +
        "retrieval shortlist (top-N upstream), not a corpus-proportional frame; " +
        "raise maxPool only if the driver can hold the pool")
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    var rank = 1
    while (rank <= math.min(k, pool.length)) {
      val best = pool.iterator
        .filter { case (id, _, _) => !selected.exists(_._1 == id) }
        .map { case (id, rel, v) =>
          val pen =
            if (selected.isEmpty) 0.0
            else selected.iterator.map(s => cosine(v, s._2)).max
          (id, rel, lambda * rel - penalty * pen, v)
        }
        // argmax by (mmr desc, id asc) — deterministic tie-break
        .reduceLeft { (x, y) =>
          if (y._3 > x._3 || (y._3 == x._3 && y._1 < x._1)) y else x
        }
      picked += ((rank, best._1, best._2, best._3))
      selected += ((best._1, best._4))
      rank += 1
    }
    val spark = candidates.sparkSession
    import spark.implicits._
    picked.toSeq.toDF("rank", idCol, relCol, "mmr")
  }

  /** Top principal direction by POWER ITERATION in exact integer
    * arithmetic (von Mises & Pollaczek-Geiringer 1929; the PCA-lite
    * spectral diagnostic for an embedding store — a healthy store has
    * no runaway dominant direction, while anisotropy/collapse shows
    * up as one direction hoarding the spectrum). Embeddings are
    * globally quantized to milli-units (the round-parity idiom — one
    * FIXED scale, not the per-vector int8 scale, so the Gram matrix
    * is a faithful rescaling), v0 = all-ones, and each round computes
    * w = Aᵀ(A·v) with BIGINT sums: the row products rescale by
    * div 1000 and v L∞-renormalizes to ~1e6 via integer division —
    * no floating point anywhere, so the direction is bit-identical on
    * any engine/partitioning (div truncates toward zero on both
    * sides; the SQL mirror emulates truncation where // would floor
    * negatives). Overflow headroom: |q| ≤ 1000·max|e|, |s'| ≤
    * d·|q|·1e3, |w| ≤ n·|q|·|s'| — n to ~1e7 at 64 dims before
    * rescaling is needed.
    *
    * Scale shape: two keyed shuffles per round over the exploded
    * (id, dim, q) table, exploded ONCE; at 100 TB run on a
    * hashSample (the fitCentroids sample contract). v0 must not be
    * orthogonal to the top eigenvector — all-ones is safe for real
    * featurizers (exact orthogonality is measure-zero). Sign follows
    * the iteration deterministically. Returns (dim, v6): the
    * dominant direction in ~1e6 L∞ units.
    */
  def powerIterationTop(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 16, "iters must be in 1..16")
    val a = df
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), posexplode(col(vecCol).cast("array<double>")))
      .select(
        col("__id"),
        (col("pos") + 1).cast("long").as("dim"),
        expr("CAST(round(col * 1000, 0) AS BIGINT)").as("q"))
      .localCheckpoint() // exploded once, feeds both joins of every round
    var v = a
      .select(col("dim"))
      .distinct()
      .select(col("dim"), lit(1000000L).as("val"))
    var i = 0
    while (i < iters) {
      val s = a
        .join(v, Seq("dim"))
        .groupBy(col("__id"))
        .agg(sum(col("q") * col("val")).as("sraw"))
        .select(col("__id"), expr("CAST(sraw div 1000 AS BIGINT)").as("sp"))
      val w = a
        .join(s, Seq("__id"))
        .groupBy(col("dim"))
        .agg(sum(col("q") * col("sp")).as("w"))
      v = w
        .crossJoin(broadcast(w.agg(max(abs(col("w"))).as("__m"))))
        .select(
          col("dim"),
          expr("CAST(w div greatest(1, __m div 1000000) AS BIGINT)").as("val"))
        .localCheckpoint(false) // lazy: bounds lineage across rounds
      i += 1
    }
    v.select(col("dim"), col("val").as("v6"))
  }

  /** Gonzalez greedy k-center selection (Gonzalez, "Clustering to
    * minimize the maximum intercluster distance", TCS 1985): pick k
    * DIVERSE exemplars by repeatedly taking the candidate FARTHEST
    * from the already-picked set (max over candidates of min cosine
    * distance to any pick; ties on id) — a 2-approximation of the
    * optimal k-center radius, and the relevance-free complement of
    * [[mmrRerank]]: MMR diversifies a ranked shortlist, this picks
    * coverage exemplars outright (seed docs for labeling, eval-suite
    * selection, centroid seeding). The seed is the minimum id —
    * deterministic, no RNG.
    *
    * Scale posture: the pool is a SAMPLE or shortlist by contract,
    * and the contract is ENFORCED exactly as mmrRerank's — a counted
    * limit(maxPool + 1) before the collect, so a corpus-proportional
    * frame fails fast instead of OOMing the driver; at 100 TB you
    * feed it a hashSample. The greedy chain is inherently sequential
    * (each pick changes every distance), so it runs driver-side on
    * the bounded pool — k·|pool| cosine kernels.
    *
    * Returns (rank, id, dist): dist = min cosine distance to the
    * prior picks at selection time (NULL for the seed; successive
    * dists are non-increasing — the coverage-radius curve that shows
    * when k is enough). Null vectors carry no geometry and are
    * scoped out (the mmr/semanticDecontaminate null rule).
    */
  def kCenterSelect(
      candidates: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxPool: Int = 10000): DataFrame = {
    require(k > 0, "k must be positive")
    require(maxPool > 0, "maxPool must be positive")
    val pool = candidates
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .limit(maxPool + 1)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(
      pool.length <= maxPool,
      s"kCenterSelect pool exceeds maxPool=$maxPool rows — candidates must be a " +
        "bounded sample/shortlist, not a corpus-proportional frame")
    val spark = candidates.sparkSession
    import spark.implicits._
    if (pool.isEmpty)
      return Seq.empty[(Int, Long, Option[Double])].toDF("rank", idCol, "dist")
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Option[Double])]
    val seed = pool.minBy(_._1)
    selected += seed
    out += ((1, seed._1, None))
    var rank = 2
    while (rank <= math.min(k, pool.length)) {
      val best = pool.iterator
        .filter(p => !selected.exists(_._1 == p._1))
        .map { case (id, v) =>
          // min over picks of (1.0 - cos) elementwise — the exact
          // expression the SQL mirror evaluates, not 1 - max(cos)
          (id, v, selected.iterator.map(s => 1.0 - cosine(v, s._2)).min)
        }
        .reduceLeft { (x, y) =>
          if (y._3 > x._3 || (y._3 == x._3 && y._1 < x._1)) y else x
        }
      out += ((rank, best._1, Some(best._3)))
      selected += ((best._1, best._2))
      rank += 1
    }
    out.toSeq.toDF("rank", idCol, "dist")
  }

  /** Lloyd's k-means fit for the IVF coarse quantizer: deterministic
    * init (the k rows with the smallest id), then `iters` rounds of
    * assign (broadcast centroids, codegen cosine argmax) + update
    * (posexplode dims → one hash-agg per (cell, dim) → rebuild
    * vectors). Per round: one narrow pass + one shuffle keyed by
    * (cell, dim) — at 100 TB you run this on a sample, which is
    * exactly what the `df` argument is. Empty cells keep their
    * previous centroid. Returns k dense centroids for `ivfAssign` /
    * `ivfTopK`.
    */
  def fitCentroids(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      iters: Int,
      seed: Long = 42L): Seq[Array[Double]] = {
    def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
      r.getAs[scala.collection.Seq[Any]](0).map {
        case f: Float  => f.toDouble
        case d: Double => d
      }.toArray
    // k-means++ init (seeded, deterministic) on a hash-spread sample:
    // the first-k-by-id alternative is quality-blind — adjacent ids
    // are often correlated, seeding several centroids into one dense
    // region and starving cells elsewhere, which is exactly what the
    // IVF probed-mass/recall tradeoff rides on. The sample is ordered
    // by md5(id) (stable across runs/partitionings), capped driver-
    // side — the same constant-bootstrap collect() contract as the
    // centroids themselves.
    val sampleCap = math.max(50 * k, 256)
    val sample: Array[Array[Double]] = df
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(sampleCap)
      .select(col(embCol))
      .collect()
      .map(vecOf)
    val rnd = new java.util.Random(seed)
    var cents: Seq[Array[Double]] =
      if (sample.length <= k) sample.toSeq
      else {
        val chosen = scala.collection.mutable.ArrayBuffer(sample(rnd.nextInt(sample.length)))
        // minDist2(i) = squared cosine-distance of sample(i) to its
        // nearest chosen centroid; D² weighting is the k-means++ rule
        val minDist2 = sample.map(v => { val d = 1.0 - cosine(v, chosen.head); d * d })
        while (chosen.size < k) {
          val total = minDist2.sum
          val idx =
            if (total <= 0.0) rnd.nextInt(sample.length)
            else {
              val r = rnd.nextDouble() * total
              var acc = 0.0; var i = 0
              while (i < sample.length - 1 && acc + minDist2(i) < r) { acc += minDist2(i); i += 1 }
              i
            }
          val c = sample(idx)
          chosen += c
          var i = 0
          while (i < sample.length) {
            val d = 1.0 - cosine(sample(i), c)
            if (d * d < minDist2(i)) minDist2(i) = d * d
            i += 1
          }
        }
        chosen.toSeq
      }
    (1 to iters).foreach { _ =>
      val means = ivfAssign(df, embCol, cents)
        .select(
          col("cell"),
          posexplode(col(embCol).cast("array<double>")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg((sum(col("x")) / count(lit(1))).as("m"))
        .groupBy(col("cell"))
        .agg(
          transform(
            array_sort(collect_list(struct(col("dim"), col("m")))),
            s => s.getField("m")).as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getAs[scala.collection.Seq[Double]](1).toArray)
        .toMap
      cents = cents.zipWithIndex.map { case (old, i) => means.getOrElse(i, old) }
    }
    cents
  }

  /** IVF top-k: probe only the query's `nprobe` nearest cells, then
    * exact rank inside the probed subset. Over a cell-partitioned
    * index ([[graft.sources.Io.writeIvfIndex]], read plain or through
    * [[graft.sources.Io.readIvfIndexLatest]]) the cell filter prunes
    * the scan to the probed cells' files, so a probe reads
    * `nprobe/nlist` of the corpus instead of all of it; over an
    * unpartitioned frame it is a post-scan filter.
    */
  def ivfTopK(
      assigned: DataFrame,
      embCol: String,
      centroids: Seq[Array[Double]],
      query: Array[Double],
      k: Int,
      nprobe: Int): DataFrame = {
    val probeCells = centroids.zipWithIndex
      .map { case (c, i) => (cosine(query, c), i) }
      .sortBy(-_._1)
      .take(nprobe)
      .map(_._2)
    bruteForceTopK(
      assigned.filter(col("cell").isin(probeCells: _*)),
      embCol,
      query,
      k)
  }

  /** IVF-PQ hybrid top-k — the two index families COMPOSED into the
    * billion-vector layout (the IVFADC shape of Jégou, Douze &
    * Schmid, "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011): the IVF coarse quantizer routes the query to its
    * `nprobe` nearest cells (a ≤k-centroid driver-side bootstrap,
    * the [[ivfTopK]] idiom), the scan INSIDE the probed cells ranks
    * by the PQ asymmetric-distance lookup (8 array reads + adds per
    * row — byte codes, never vectors), and only the `shortlist`
    * best re-rank with exact cosine. At 100 TB this touches codes
    * for ~nprobe/k of the corpus and full vectors for `shortlist`
    * rows — cell routing cuts the candidate set, code scan cuts the
    * bytes per candidate, and the two cuts multiply.
    *
    * `assigned` must carry the IVF `cell` column ([[ivfAssign]]) and
    * the `pq_<s>` code columns ([[pqEncode]]); probe ties keep the
    * smaller cell (stable sort over the ascending centroid index,
    * mirrored by the oracle's ORDER BY sim DESC, cell ASC).
    */
  def ivfPqTopK(
      assigned: DataFrame,
      embCol: String,
      centroids: Seq[Array[Double]],
      codebooks: Seq[Seq[Array[Double]]],
      query: Array[Double],
      subDim: Int,
      nprobe: Int,
      shortlist: Int,
      k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val probeCells = centroids.zipWithIndex
      .map { case (c, i) => (cosine(query, c), i) }
      .sortBy(-_._1)
      .take(nprobe)
      .map(_._2)
    pqTopK(
      assigned.filter(col("cell").isin(probeCells: _*)),
      embCol, codebooks, query, subDim, shortlist, k, idCol)
  }

  /** Margin-based cross-source vector alignment — the bitext-mining
    * criterion (Artetxe & Schwenk, "Margin-based Parallel Corpus
    * Mining with Multilingual Sentence Embeddings", ACL 2019, ratio
    * margin): for each left vector its best right match, kept only
    * when the match's cosine beats the MEAN of both sides' k-NN
    * cosines by the ratio `thrNum/thrDen` — raw best-cosine picks hub
    * vectors that are everyone's neighbor; the margin normalizes by
    * each side's local density. The same criterion mines cross-SOURCE
    * near-translations / re-writes for training-pair construction.
    *
    * Deterministic by integer discipline: cosines quantize to
    * micro-units (round·1e6 → BIGINT) BEFORE any aggregation; k-NN
    * sums are exact integer sums over the total (q desc, id) rank
    * order; the margin test is the cross-multiplication
    * 2·q·k_a·k_b·thrDen ≥ thrNum·(sum_a·k_b + sum_b·k_a) (valid under
    * the positive-denominator guard below, which is part of the
    * operator's contract — an all-non-positive neighborhood has no
    * meaningful margin); the published margin is one double division
    * of identical integers. Short sides degrade gracefully: k_a/k_b
    * are the ACTUAL neighbor counts (≤ k), so the means stay means.
    *
    * Scale: this exact cross form is the oracle-checkable baseline
    * (the dd_embed_neardup rule). At corpus scale feed each side's
    * top-k candidate lists from ivfTopK/bandedLshTopK — the margin
    * math consumes only (id_a, id_b, q) lists, never the cross join.
    *
    * Returns (id_a, id_b, cos6, margin), best-match-per-left only.
    * Same caching contract as the pair generators.
    */
  def marginAlignPairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      thrNum: Long,
      thrDen: Long): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(thrNum > 0 && thrDen > 0, "margin threshold must be a positive rational")
    import org.apache.spark.sql.expressions.Window
    val a = left.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = right.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    val scored = a.crossJoin(b)
      .withColumn(
        "q",
        round(VectorFns.cosine(col("__va"), col("__vb")) * 1e6, 0).cast("long"))
      .select(col("id_a"), col("id_b"), col("q"))
    marginAlignFromCandidates(scored, k, thrNum, thrDen)
  }

  /** [[marginAlignPairs]]'s margin stage over PRE-GENERATED candidate
    * scores — the corpus-scale entry point: feed (id_a, id_b, q)
    * candidate lists from an ANN stage (banded LSH bucket join, IVF
    * cell probes) instead of the exact cross join, and the margin
    * criterion runs unchanged over each side's surviving top-k. The
    * margin denominators then reflect the CANDIDATE neighborhoods —
    * exact equality with the cross-join path holds whenever the
    * candidate lists contain each side's true top-k (AnnRecallSpec
    * measures this), which is the standard ANN-recall contract.
    * `q` must be micro-unit integer cosines (round(cos·1e6)).
    * The candidate stream persists internally (Dedup-kernel caching
    * contract — session clearCache between queries).
    */
  def marginAlignFromCandidates(
      candidates: DataFrame,
      k: Int,
      thrNum: Long,
      thrDen: Long): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(thrNum > 0 && thrDen > 0, "margin threshold must be a positive rational")
    import org.apache.spark.sql.expressions.Window
    val scored = candidates
      .select(col("id_a"), col("id_b"), col("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wA = Window.partitionBy(col("id_a")).orderBy(col("q").desc, col("id_b"))
    val wB = Window.partitionBy(col("id_b")).orderBy(col("q").desc, col("id_a"))
    val rankedA = scored.withColumn("rn", row_number().over(wA))
    val sumA = rankedA.filter(col("rn") <= k)
      .groupBy(col("id_a"))
      .agg(sum(col("q")).as("sum_a"), count(lit(1)).as("k_a"))
    val sumB = scored.withColumn("rn", row_number().over(wB)).filter(col("rn") <= k)
      .groupBy(col("id_b"))
      .agg(sum(col("q")).as("sum_b"), count(lit(1)).as("k_b"))
    val best = rankedA.filter(col("rn") === 1).drop("rn")
    val den = col("sum_a") * col("k_b") + col("sum_b") * col("k_a")
    best
      .join(sumA, "id_a")
      .join(sumB, "id_b")
      .filter(den > 0)
      .filter(col("q") * 2 * col("k_a") * col("k_b") * thrDen >= lit(thrNum) * den)
      .select(
        col("id_a"),
        col("id_b"),
        col("q").as("cos6"),
        ((col("q") * 2 * col("k_a") * col("k_b")).cast("double") / den.cast("double"))
          .as("margin"))
  }

  /** Deterministic ±1 sign matrix for the signed random projection:
    * the splitmix64 finalizer (Steele, Lea & Flood 2014 — the
    * avalanche stage of SplittableRandom) over the packed (i, j)
    * index, sign from the low bit. A LINEAR index mix (the first cut
    * here used (i·c1 + j·c2) mod p < p/2) is a trap: every row is a
    * shifted threshold of the same sequence, rows come out nearly
    * identical, and the projection collapses to ~1 effective
    * dimension — the avalanche is what makes the rows independent.
    * The matrix is computed once HERE and injected as LITERAL arrays
    * into both the engine plan and the DuckDB oracle (the
    * ndcgWeights shared-constant discipline), so no RNG *state*
    * exists anywhere and both engines project with the same matrix.
    * Returns outDims rows of inDims signs.
    */
  def rpSigns(inDims: Int, outDims: Int): Array[Array[Long]] =
    Array.tabulate(outDims) { j0 =>
      Array.tabulate(inDims) { i0 =>
        var z = (j0.toLong * 65537L + i0.toLong + 1L) * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        if ((z & 1L) == 0L) 1L else -1L
      }
    }

  /** Signed random projection (Achlioptas 2003's database-friendly
    * Johnson–Lindenstrauss variant) to `outDims` exact-integer
    * components: qv_i = round(v_i · 1e4) (the int8Quantize
    * round-parity idiom), p_j = Σ_i s(i, j) · qv_i with [[rpSigns]].
    * Projected inner products are exact BIGINTs, so the stage-1
    * candidate ranking is bit-stable on any partitioning; precision
    * comes from an exact stage-2 re-rank over the shortlist (the PQ
    * ADC pattern at a quarter of the dimensions).
    *
    * Scale shape: map-only — per row one fixed-point quantize plus
    * outDims literal-sign folds; no shuffle, no UDF, no broadcast.
    * At 100 TB this is the cheap first cut that turns a 64-float
    * cosine scan into a 16-long integer scan (4× less arithmetic,
    * and the shortlist then bounds the exact work). Vectors shorter
    * than `inDims` project to null components (visible, never a
    * silently-wrong truncation).
    *
    * Returns the input plus `rp` ARRAY<BIGINT> of length outDims.
    */
  def randomProject(
      df: DataFrame,
      embCol: String,
      inDims: Int,
      outDims: Int): DataFrame = {
    require(inDims >= 1 && outDims >= 1, "dims must be positive")
    val signs = rpSigns(inDims, outDims)
    val qv = transform(
      col(embCol).cast("array<double>"),
      v => round(v * lit(10000.0), 0).cast("long"))
    val comps = (0 until outDims).map { j =>
      val s = array(signs(j).map(lit): _*)
      aggregate(
        sequence(lit(1), lit(inDims)),
        lit(0L),
        (acc, i) =>
          acc + element_at(s, i.cast("int")) * element_at(col("__rp_qv"), i.cast("int")))
    }
    df.withColumn("__rp_qv", qv)
      .withColumn("rp", array(comps: _*))
      .drop("__rp_qv")
  }

  /** Exact integer dot product of two BIGINT arrays (the projected-
    * space similarity for [[randomProject]] shortlists). */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Embedding-space dispersion in ONE pass — the corpus-diversity /
    * mode-collapse readout a training-data pipeline watches per
    * snapshot: by the variance identity, the mean squared distance
    * to the centroid is E‖x‖² − ‖Ex‖² and the mean pairwise squared
    * distance is 2N/(N−1) times that — NO pairwise join anywhere,
    * just per-coordinate sums (a falling dispersion between
    * snapshots means the corpus is collapsing onto fewer modes —
    * the embedding-side twin of the token-side t_ttr_hapax signal).
    *
    * Exactness: coordinates micro-quantized ONCE (round(x·1e6),
    * float→double promotion and half-away rounding identical in both
    * engines), then everything is exact integer: Q = Σ q² and per-
    * coordinate S_j in DECIMAL(38,0), mean_sq12 = Q div N,
    * centroid_sq12 = Σ_j (S_j² div N²) (per-coordinate truncating,
    * mirrored), dispersion12 = max(0, mean−centroid) (truncation can
    * undershoot by ≤ 1 µ²; the exact value is ≥ 0), pairwise12 =
    * (2N·disp) div (N−1). Ragged arrays fail fast in-plan (every
    * coordinate must appear in every vector). Scale shape: one
    * posexplode → dim-bounded hash agg (map-side combined; 64 cells
    * per task), two 1-row folds. Returns one row (n, dim,
    * mean_sq12, centroid_sq12, dispersion12, pairwise12).
    */
  def embeddingDispersion(df: DataFrame, embCol: String): DataFrame =
    embeddingDispersionFromCells(
      df
        .filter(col(embCol).isNotNull)
        .select(posexplode(col(embCol)).as(Seq("j", "x")))
        .select(
          col("j"),
          expr("CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT)").as("q"))
        .groupBy(col("j"))
        .agg(
          count(lit(1)).as("n"),
          // Pre-cast the addends: SUM over BIGINT can wrap at extreme
          // corpus scale while DuckDB's SUM(BIGINT)→HUGEINT stays
          // exact; summing DECIMAL(38,0) terms keeps both exact.
          sum(col("q").cast("decimal(38,0)")).as("s"),
          sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("q")))

  /** [[embeddingDispersion]] over an already-merged per-coordinate
    * (j, n, s, q) moment grid — every coordinate is linear (n BIGINT
    * count, s/q DECIMAL(38,0) sums), so per-batch partial grids
    * SUM-merge exactly and a streaming monitor re-runs this
    * bit-equal to the batch readout (the live mode-collapse gauge:
    * dim-bounded state, zero history re-scans). Ragged inputs (a
    * coordinate missing from some vectors) fail fast.
    *
    * Headroom bound (DIVSWEEP class C): the centroid term squares
    * S_j, so DECIMAL(38,0) caps at |S_j| < 3.16e18 — for micro-
    * quantized unit-norm embeddings that is N ≲ 3.16e12 vectors;
    * beyond, shard the corpus and combine dispersions per shard
    * (ANSI aborts loudly rather than wrapping).
    */
  def embeddingDispersionFromCells(cells0: DataFrame): DataFrame = {
    val perJ = cells0
      .select(
        col("j"),
        col("n").cast("long").as("__nj"),
        col("s").cast("decimal(38,0)").as("__sj"),
        col("q").cast("decimal(38,0)").as("__qj"))
      .withColumn(
        "__cj12",
        expr("(__sj * __sj) div (CAST(__nj AS DECIMAL(38,0)) * __nj)"))
    perJ
      .agg(
        max(col("__nj")).as("n"),
        min(col("__nj")).as("__nmin"),
        count(lit(1)).as("dim"),
        sum(col("__qj")).as("__q"),
        sum(col("__cj12")).as("__cent"))
      .filter(
        assert_true(
          col("__nmin") === col("n"),
          lit("embeddingDispersion: ragged embedding arrays (a coordinate is " +
            "missing from some vectors)")).isNull)
      .select(
        col("n"), col("dim"),
        expr("CAST(__q div n AS BIGINT)").as("mean_sq12"),
        col("__cent").cast("long").as("centroid_sq12"),
        expr(
          """greatest(CAST(0 AS BIGINT),
            |  CAST(__q div n AS BIGINT) - CAST(__cent AS BIGINT))"""
            .stripMargin).as("dispersion12"))
      .withColumn(
        "pairwise12",
        expr(
          """CASE WHEN n < 2 THEN CAST(0 AS BIGINT)
            |ELSE CAST((CAST(2 AS DECIMAL(38,0)) * n * dispersion12)
            |          div (n - 1) AS BIGINT) END""".stripMargin))
  }

  /** Calinski–Harabasz index (1974's variance-ratio criterion) over
    * a LABELED embedding column — does the labeling explain the
    * geometry? CH = (SSB/(k−1)) / (SSW/(N−k)), the pseudo-F that
    * grades any clustering/taxonomy this engine ships (labelprop
    * communities, IVF cells, source labels) without a pairwise join:
    * both sums decompose over per-(label, coordinate) moment cells —
    * with A = Σ_cj S_cj²/n_c and B = Σ_j S_j²/N,
    * SSW = Q − A and SSB = A − B (König–Huygens twice).
    *
    * Unit discipline (the ebShrinkMeans lesson, applied at design
    * time): the per-cell term S_cj²/n_c is EXTENSIVE — micro
    * quantization would overflow Spark's long-valued `div` on big
    * cells — so coordinates quantize to MILLI units (per-cell
    * quotient ≤ n_c·(1e3·|x|)², safe past 1e12 rows for unit-norm
    * embeddings; variance resolution 1e-6 value², plenty for a
    * ratio index); A/B/Q accumulate in DECIMAL(38,0) and ONLY
    * intensive quantities exit to BIGINT: per-vector means ssb6 =
    * (A−B) div N, ssw6 = (Q−A) div N (clamped at 0 — truncation can
    * undershoot the exact nonnegative values), and ch6 = (1e6·
    * (A−B)·(N−k)) div ((Q−A)·(k−1)). ssw = 0 (perfectly tight
    * clusters) returns ch6 = 0 by convention — read ssb6 directly.
    * k < 2, N ≤ k, or ragged arrays fail fast. Scale shape: one
    * posexplode → (label × dim)-bounded hash agg, a dim-bounded
    * fold, one 1-row fold. Returns (n, k, dim, ssb6, ssw6, ch6).
    *
    * Acting on the grade: [[ivfRefitWorklist]] is the lifecycle
    * consumer — it emits the cells whose within-cell per-vector
    * variance is ≥ 90% of the corpus total (ratio_ppm ≥ 900000, the
    * documented default refit threshold): when the CH grade of an
    * IVF index sags between refreshes, the worklist names WHICH
    * cells to re-center instead of refitting the whole index.
    */
  def calinskiHarabasz(df: DataFrame, labelCol: String, embCol: String): DataFrame = {
    val cells = df
      .filter(col(labelCol).isNotNull && col(embCol).isNotNull)
      .select(col(labelCol).as("__c"), posexplode(col(embCol)).as(Seq("j", "x")))
      .select(
        col("__c"), col("j"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000.0, 0) AS BIGINT)").as("q"))
      .groupBy(col("__c"), col("j"))
      .agg(
        // Pre-cast: accumulate S_cj in DECIMAL(38,0), never BIGINT
        // (BIGINT SUM wraps silently where DuckDB promotes to HUGEINT).
        sum(col("q").cast("decimal(38,0)")).as("scj"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("qcj"),
        count(lit(1)).as("ncj"))
    val perJ = cells
      .groupBy(col("j"))
      .agg(
        sum(col("scj")).as("sj"),
        sum(col("ncj")).as("nj"),
        sum(col("qcj")).as("qj"),
        sum(expr("CAST((scj * scj) div ncj AS DECIMAL(38,0))")).as("aj"),
        countDistinct(col("__c")).as("kj"))
      .withColumn(
        "bj",
        expr("CAST((sj * sj) div CAST(nj AS DECIMAL(38,0)) AS DECIMAL(38,0))"))
    perJ
      .agg(
        count(lit(1)).as("dim"),
        max(col("nj")).as("n"),
        min(col("nj")).as("__nmin"),
        max(col("kj")).as("k"),
        min(col("kj")).as("__kmin"),
        sum(col("qj")).as("__q"),
        sum(col("aj")).as("__a"),
        sum(col("bj")).as("__b"))
      .filter(
        assert_true(
          col("__nmin") === col("n") && col("__kmin") === col("k")
            && col("k") >= 2L && col("n") > col("k"),
          lit("calinskiHarabasz: ragged arrays, or k < 2, or N <= k")).isNull)
      .select(
        col("n"), col("k"), col("dim"),
        greatest(lit(0L), expr("(__a - __b) div n")).as("ssb6"),
        greatest(lit(0L), expr("(__q - __a) div n")).as("ssw6"),
        expr(
          """CASE WHEN __q - __a <= 0 THEN CAST(0 AS BIGINT)
            |ELSE CAST((CAST(1000000 AS DECIMAL(38,0))
            |           * greatest(CAST(0 AS DECIMAL(38,0)), __a - __b)
            |           * (n - k))
            |          div ((__q - __a) * (k - 1)) AS BIGINT)
            |END""".stripMargin).as("ch6"))
  }

  /** The refit WORKLIST the [[calinskiHarabasz]] grade feeds — the
    * consumer that acts on the signal (the i2_worklist pattern
    * applied to index maintenance): per cell, the within-cell
    * per-vector variance (milli² units, the CH staging) is compared
    * against the corpus-wide total per-vector variance, and cells
    * whose ratio_ppm = 1e6·within6 div total6 is ≥ `thrPpm` are
    * emitted as needing a centroid refit — a cell no tighter than
    * the raw corpus is doing no routing work, so queries probing it
    * scan near-random vectors. Default threshold 900000 (within ≥
    * 0.9× total), documented alongside the grade it consumes.
    *
    * Exactness: identical moment cells to [[calinskiHarabasz]]
    * (milli quantization — the extensive per-cell quotient bound;
    * scj/qcj accumulate in DECIMAL(38,0)); W_c = Σ_j (qcj − scj²
    * div ncj) with the per-term truncating division mirrored by the
    * oracle, within6 = W_c div n_c and total6 = T div N are
    * intensive per-vector means, and the ratio divides the two
    * already-rounded BIGINTs. Degenerate total6 = 0 (constant
    * corpus) emits nothing. Ragged arrays fail fast. Scale shape:
    * one posexplode → (cell × dim) hash agg → cell-bounded fold +
    * dim-bounded fold, one broadcast. Returns (cell, n, within6,
    * total6, ratio_ppm) for failing cells, worst first.
    */
  def ivfRefitWorklist(
      df: DataFrame,
      labelCol: String,
      embCol: String,
      thrPpm: Long = 900000L): DataFrame = {
    require(
      thrPpm >= 0L && thrPpm <= 2000000L,
      s"ivfRefitWorklist: thrPpm must be in [0, 2e6], got $thrPpm")
    val cells = df
      .filter(col(labelCol).isNotNull && col(embCol).isNotNull)
      .select(col(labelCol).as("__c"), posexplode(col(embCol)).as(Seq("j", "x")))
      .select(
        col("__c"), col("j"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000.0, 0) AS BIGINT)").as("q"))
      .groupBy(col("__c"), col("j"))
      .agg(
        sum(col("q").cast("decimal(38,0)")).as("scj"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("qcj"),
        count(lit(1)).as("ncj"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perCell = cells
      .groupBy(col("__c"))
      .agg(
        max(col("ncj")).as("n"),
        min(col("ncj")).as("__nmin"),
        sum(expr("qcj - (scj * scj) div ncj")).as("__w"))
    val tot = broadcast(
      cells
        .groupBy(col("j"))
        .agg(
          sum(col("scj")).as("sj"),
          sum(col("ncj")).as("nj"),
          sum(col("qcj")).as("qj"))
        .agg(
          max(col("nj")).as("__n"),
          min(col("nj")).as("__njmin"),
          sum(expr("qj - (sj * sj) div nj")).as("__t")))
    perCell
      .crossJoin(tot)
      .filter(
        assert_true(
          col("__nmin") === col("n") && col("__njmin") === col("__n"),
          lit("ivfRefitWorklist: ragged embedding arrays (a coordinate is " +
            "missing from some vectors)")).isNull)
      .withColumn("within6", expr("CAST(__w div n AS BIGINT)"))
      .withColumn("total6", expr("CAST(__t div __n AS BIGINT)"))
      .withColumn(
        "ratio_ppm",
        expr(
          """CASE WHEN total6 <= 0 THEN CAST(0 AS BIGINT)
            |ELSE CAST((CAST(1000000 AS DECIMAL(38,0)) * within6) div total6
            |AS BIGINT) END""".stripMargin))
      .filter(col("ratio_ppm") >= thrPpm && col("total6") > 0L)
      .select(col("__c").as("cell"), col("n"), col("within6"), col("total6"), col("ratio_ppm"))
      .orderBy(col("ratio_ppm").desc, col("cell"))
  }

  /** The ACTION the [[ivfRefitWorklist]] feeds — re-center exactly
    * the flagged cells (a targeted Lloyd step, never a whole-index
    * refit): each worklist cell's centroid is replaced by the
    * per-coordinate mean of its currently-assigned vectors, every
    * other centroid is left untouched, and the caller re-assigns +
    * re-grades ([[ivfAssign]] → [[calinskiHarabasz]]) to close the
    * lifecycle loop grade → worklist → action → re-grade.
    *
    * Exactness: means are computed in milli units with truncating
    * integer division off DECIMAL(38,0) sums (the CH staging — both
    * engines identical), and only then divided by 1000.0 — one
    * deterministic IEEE double division per coordinate, mirrored by
    * the oracle. The collects are the documented bounded-constant
    * bootstrap (≤ k cells × dim coordinates — centroid-sized, the
    * ivfAssign idiom); a worklist cell id outside [0, k) fails fast.
    */
  def ivfRecenteredCentroids(
      assigned: DataFrame,
      worklist: DataFrame,
      centroids: Seq[Array[Double]],
      labelCol: String,
      embCol: String): Seq[Array[Double]] = {
    val flagged = worklist.select(col("cell").cast("int")).collect().map(_.getInt(0)).toSet
    flagged.foreach(c => require(
      c >= 0 && c < centroids.size,
      s"ivfRecenteredCentroids: worklist cell $c outside [0, ${centroids.size})"))
    if (flagged.isEmpty) centroids
    else {
      val means = assigned
        .filter(col(labelCol).cast("int").isin(flagged.toSeq: _*))
        .select(col(labelCol).cast("int").as("c"), posexplode(col(embCol)).as(Seq("j", "x")))
        .select(
          col("c"), col("j"),
          expr("CAST(round(CAST(x AS DOUBLE) * 1000.0, 0) AS BIGINT)").as("q"))
        .groupBy(col("c"), col("j"))
        .agg(expr("CAST(sum(CAST(q AS DECIMAL(38,0))) div count(1) AS BIGINT)").as("m"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
      centroids.zipWithIndex.map { case (c0, i) =>
        if (!flagged(i)) c0
        else c0.indices.map(j => means((i, j)).toDouble / 1000.0).toArray
      }
    }
  }

  /** Per-subspace PQ codebook grades — [[calinskiHarabasz]] over
    * each subspace's 4-code partition of the SUBVECTOR geometry it
    * quantizes (the v_ivf_quality symmetry for the byte-coded
    * family): a low-CH subspace is a codebook whose cells don't
    * explain its slice of the embedding space, which is exactly
    * where quantization error concentrates. One grade row per
    * subspace; `encoded` must carry the `pq_<s>` code columns
    * ([[pqEncode]]'s output).
    */
  def pqSubspaceGrades(
      encoded: DataFrame,
      embCol: String,
      subDim: Int,
      numSub: Int): DataFrame = {
    // every subspace's CH aggregate references the SAME encoded frame
    // — without truncation the union re-expands the whole encode
    // pipeline (assign + code expressions, and the residual variant's
    // zip_with rebuild) once per subspace, so the corpus pays numSub
    // encode passes for one grading readout (the r12 reused-frame
    // rule; values identical — storage policy only)
    val frozen = Checkpointing.truncate(encoded, None, eager = true)
    (0 until numSub)
      .map { sp =>
        calinskiHarabasz(
          frozen.withColumn(
            "__sub",
            slice(col(embCol).cast("array<double>"), sp * subDim + 1, subDim)),
          s"pq_$sp",
          "__sub")
          .withColumn("subspace", lit(sp.toLong))
      }
      .reduce(_ unionByName _)
      .select(
        col("subspace"), col("n"), col("k"), col("dim"),
        col("ssb6"), col("ssw6"), col("ch6"))
  }

  /** [[pqSubspaceGrades]] for RESIDUAL codebooks — the grade the
    * T258 encoding needs: the clusters under judgment are residual
    * codes over residual subvectors, so the residual x − c_cell is
    * rebuilt in-plan ([[pqEncodeResidual]]'s own zip_with expression
    * — the encode drops it) and each subspace's CH is computed on
    * the residual slice grouped by its residual code column. Same
    * milli-quantized exact moment cells, same output shape.
    */
  def pqSubspaceGradesResidual(
      encoded: DataFrame,
      embCol: String,
      subDim: Int,
      coarse: Seq[Array[Double]],
      numSub: Int): DataFrame = {
    require(coarse.nonEmpty, "pqSubspaceGradesResidual: coarse centroids must be non-empty")
    val emb = col(embCol).cast("array<double>")
    val centArr = element_at(
      array(coarse.map(c => array(c.toIndexedSeq.map(lit): _*)): _*),
      col("cell").cast("int") + 1)
    pqSubspaceGrades(
      encoded.withColumn("__pqres", zip_with(emb, centArr, (x, y) => x - y)),
      "__pqres",
      subDim,
      numSub)
  }

  /** The refit WORKLIST the [[pqSubspaceGrades]] grade feeds — the
    * [[ivfRefitWorklist]] symmetry for the PQ family, with one
    * structural difference the frozen-codebook rule forces: a PQ
    * codebook refit REBUILDS that subspace's entire code column
    * (every row re-encodes — upserts encode against frozen
    * codebooks, so a codebook change is a new index generation, not
    * an increment). The maintenance loop therefore processes ONE
    * subspace per cycle, worst-first: the worklist is the argmin-CH
    * subspace (ties to the smaller subspace id), not a threshold
    * set. Returns one row (subspace, n, k, dim, ch6).
    */
  def pqRefitWorklist(grades: DataFrame): DataFrame =
    grades
      .orderBy(col("ch6").asc, col("subspace").asc)
      .limit(1)
      .select(col("subspace"), col("n"), col("k"), col("dim"), col("ch6"))

  /** The ACTION the [[pqRefitWorklist]] feeds — re-fit ONE
    * subspace's codebook (a targeted Lloyd step confined to the
    * flagged subspace, the [[ivfRecenteredCentroids]] pattern): each
    * of the subspace's codes is re-centered on the per-coordinate
    * mean of the subvectors currently encoded to it; a code with no
    * assigned vectors keeps its old centroid. The caller then
    * re-encodes the subspace ([[pqReencodeSubspace]]) and re-grades
    * ([[pqSubspaceGrades]]) — grade → worklist → action → re-grade,
    * the lifecycle loop closed for the second index family.
    *
    * Exactness: means in milli units with truncating integer
    * division off DECIMAL(38,0) sums (the CH staging), then ONE
    * deterministic IEEE double division per coordinate — mirrored by
    * the oracle. The collect is the documented bounded-constant
    * bootstrap (≤ codes × subDim — sub-codebook-sized).
    */
  def pqRefittedSubCodebook(
      encoded: DataFrame,
      embCol: String,
      subDim: Int,
      subspace: Int,
      oldSub: Seq[Array[Double]]): Seq[Array[Double]] = {
    val means = encoded
      .filter(col(s"pq_$subspace").isNotNull && col(embCol).isNotNull)
      .select(
        col(s"pq_$subspace").cast("int").as("c"),
        posexplode(
          slice(col(embCol).cast("array<double>"), subspace * subDim + 1, subDim))
          .as(Seq("j", "x")))
      .select(
        col("c"), col("j"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000.0, 0) AS BIGINT)").as("q"))
      .groupBy(col("c"), col("j"))
      .agg(expr("CAST(sum(CAST(q AS DECIMAL(38,0))) div count(1) AS BIGINT)").as("m"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    means.keys.foreach { case (c, _) => require(
      c >= 0 && c < oldSub.size,
      s"pqRefittedSubCodebook: code $c outside [0, ${oldSub.size})") }
    oldSub.zipWithIndex.map { case (c0, i) =>
      if (!means.contains((i, 0))) c0
      else c0.indices.map(j => means((i, j)).toDouble / 1000.0).toArray
    }
  }

  /** Re-encode ONE subspace's code column against a replacement
    * sub-codebook (the REBUILD step of the PQ refit — every other
    * subspace's codes are untouched). Same argmax-cosine,
    * ties-to-the-larger-code semantics as [[pqEncode]].
    */
  def pqReencodeSubspace(
      encoded: DataFrame,
      embCol: String,
      subDim: Int,
      subspace: Int,
      subCents: Seq[Array[Double]]): DataFrame = {
    val sub = slice(col(embCol).cast("array<double>"), subspace * subDim + 1, subDim)
    val scored = subCents.zipWithIndex.map { case (c, i) =>
      struct(
        VectorFns.cosine(sub, array(c.toIndexedSeq.map(lit): _*)).as("sim"),
        lit(i).as("cell"))
    }
    encoded.withColumn(s"pq_$subspace", greatest(scored: _*).getField("cell"))
  }

  /** Residual product quantization — the encoding IVFADC actually
    * ships (Jégou, Douze & Schmid, TPAMI 2011 §III): quantize
    * x − c_cell, not x. After coarse assignment most of x's energy
    * IS c_cell; the codes only have to describe the (much smaller)
    * residual, so the same byte budget buys a finer reconstruction
    * and the approximate score tightens at zero extra scan cost.
    *
    * Input must carry [[ivfAssign]]'s `cell` column. The residual is
    * built in-plan (`element_at` into the literal centroid array by
    * cell, `zip_with` subtraction — whole-stage codegen, no UDF),
    * then each subspace's code is the argmax-cosine entry of that
    * subspace's RESIDUAL codebook, ties to the larger code — the
    * [[pqEncode]] convention, mirrored by the oracle's
    * `ORDER BY sim DESC, cell DESC` rank. Output keeps every input
    * column and adds `pq_0..pq_{S-1}`, so the rows flow through the
    * PQ index family's persist/upsert paths unchanged (the cell tag
    * and the codes stay one row, the composed-mutation invariant).
    */
  def pqEncodeResidual(
      assigned: DataFrame,
      embCol: String,
      subDim: Int,
      coarse: Seq[Array[Double]],
      codebooks: Seq[Seq[Array[Double]]]): DataFrame = {
    require(coarse.nonEmpty, "pqEncodeResidual: coarse centroids must be non-empty")
    val emb = col(embCol).cast("array<double>")
    val centArr = element_at(
      array(coarse.map(c => array(c.toIndexedSeq.map(lit): _*)): _*),
      col("cell").cast("int") + 1)
    val res = zip_with(emb, centArr, (x, y) => x - y)
    val withRes = assigned.withColumn("__res", res)
    codebooks.zipWithIndex
      .foldLeft(withRes) { case (acc, (subCents, s)) =>
        val sub = slice(col("__res"), s * subDim + 1, subDim)
        val scored = subCents.zipWithIndex.map { case (c, i) =>
          struct(
            VectorFns.cosine(sub, array(c.toIndexedSeq.map(lit): _*)).as("sim"),
            lit(i).as("cell"))
        }
        acc.withColumn(s"pq_$s", greatest(scored: _*).getField("cell"))
      }
      .drop("__res")
  }

  /** IVFADC with residual codes — [[ivfPqTopK]]'s scoring adapted to
    * [[pqEncodeResidual]] rows. The approximate inner product
    * DECOMPOSES exactly: dot(q, c_cell + r̂) = dot(q, c_cell) +
    * Σ_s dot(q_s, book_s[code_s]), so the scan cost is unchanged —
    * one extra lookup into a per-cell constant table (nlist doubles,
    * a driver-side literal) on top of the same S code-table lookups;
    * no vector math touches the scan. Probe routing, shortlist
    * re-rank and every tie rule are [[ivfPqTopK]]'s verbatim.
    */
  def ivfPqResidualTopK(
      encoded: DataFrame,
      embCol: String,
      centroids: Seq[Array[Double]],
      codebooks: Seq[Seq[Array[Double]]],
      query: Array[Double],
      subDim: Int,
      nprobe: Int,
      shortlist: Int,
      k: Int,
      idCol: String = "vec_id"): DataFrame = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    val probeCells = centroids.zipWithIndex
      .map { case (c, i) => (cosine(query, c), i) }
      .sortBy(-_._1)
      .take(nprobe)
      .map(_._2)
    // per-cell constant dot(q, c_cell) and per-subspace residual ADC
    // tables — both driver-side literals, both O(1) lookups on the scan
    val cellConst = element_at(
      array(centroids.map(c => lit(dot(query, c))): _*),
      col("cell").cast("int") + 1)
    val adc: Seq[Seq[Double]] = codebooks.zipWithIndex.map { case (subCents, s) =>
      val qs = query.slice(s * subDim, (s + 1) * subDim)
      subCents.map(c => dot(qs, c))
    }
    // ((const + t0) + t1) + … — the oracle's left-to-right SQL chain
    // exactly (double addition is not associative; the fold shape is
    // part of the contract)
    val approx = adc.zipWithIndex
      .map { case (tbl, s) =>
        element_at(array(tbl.map(lit): _*), col(s"pq_$s").cast("int") + 1)
      }
      .foldLeft(cellConst)(_ + _)
    val short = encoded
      .filter(col("cell").isin(probeCells: _*))
      .withColumn("approx_score", approx)
      .orderBy(col("approx_score").desc, col(idCol))
      .limit(shortlist)
    short
      .withColumn(
        "score",
        VectorFns.cosine(col(embCol), array(query.toIndexedSeq.map(lit): _*)))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** BATCHED IVFADC — the production serving shape: a whole query
    * TABLE routed, scored and re-ranked in one plan, no driver-side
    * query literals anywhere (the single-query [[ivfPqTopK]] bakes
    * the query vector into the plan — right for one ad-hoc probe,
    * wrong for the nightly 100k-query eval batch, which would
    * compile 100k plans).
    *
    * Everything query-side is in-plan and query-count bounded:
    * probe routing is a (Q × nlist) crossJoin + a qid-PARTITIONED
    * row_number (never a single-task window); the per-query ADC
    * tables (dot(q_s, book_s[c]) for all S·K codes) collapse to ONE
    * array column per (qid, probed cell) — Q·nprobe rows broadcast
    * into the corpus scan, so the corpus itself never shuffles:
    * candidates fall out of a broadcast hash join on `cell`, the
    * approximate score is S array lookups summed in [[pqTopK]]'s
    * exact reduce order (a 1-query batch is row-for-row equal to the
    * single-query hybrid — AnnRecallSpec pins it), and only the
    * candidate set (≈ Q·corpus·nprobe/nlist rows) shuffles by qid
    * for the shortlist and exact-re-rank windows. Ties: probe →
    * smaller cell (the stable-sort convention), shortlist/top-k →
    * smaller id.
    *
    * `centroids` = (cell int, ce array<double>) and `codebooks` =
    * (s int, code int, be array<double>) arrive as DataFrames —
    * read them from the IVF/PQ index artifacts; nothing here ever
    * collects them. Returns (qid, `idCol`, every encoded column,
    * approx_score, score), top-k per qid, ordered
    * (qid, score desc, id).
    */
  def ivfPqTopKBatch(
      encoded: DataFrame,
      embCol: String,
      centroids: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame,
      subDim: Int,
      nSub: Int,
      codeCount: Int,
      nprobe: Int,
      shortlist: Int,
      k: Int,
      idCol: String = "vec_id"): DataFrame =
    ivfPqBatchCore(encoded, embCol, centroids, codebooks, queries, subDim,
      nSub, codeCount, nprobe, shortlist, k, idCol, cellConst = false)

  /** [[ivfPqTopKBatch]] over RESIDUAL codes ([[pqEncodeResidual]]
    * rows + residual codebooks): the approximate score regains the
    * decomposition's cell term, dot(q, c_cell) + Σ_s lookups — and
    * because candidates join the probe rows ON `cell`, the probed
    * row's dot(q, c) IS the candidate's cell constant, so the term
    * costs one extra column on the Q·nprobe broadcast rows, nothing
    * on the scan. Addition chains left-to-right from the constant
    * (the [[ivfPqResidualTopK]] associativity contract).
    */
  def ivfPqTopKBatchResidual(
      encoded: DataFrame,
      embCol: String,
      centroids: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame,
      subDim: Int,
      nSub: Int,
      codeCount: Int,
      nprobe: Int,
      shortlist: Int,
      k: Int,
      idCol: String = "vec_id"): DataFrame =
    ivfPqBatchCore(encoded, embCol, centroids, codebooks, queries, subDim,
      nSub, codeCount, nprobe, shortlist, k, idCol, cellConst = true)

  private def ivfPqBatchCore(
      encoded: DataFrame,
      embCol: String,
      centroids: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame,
      subDim: Int,
      nSub: Int,
      codeCount: Int,
      nprobe: Int,
      shortlist: Int,
      k: Int,
      idCol: String,
      cellConst: Boolean): DataFrame = {
    require(subDim > 0 && nSub > 0 && codeCount > 0 && nprobe > 0 && shortlist >= k && k > 0,
      "ivfPqTopKBatch: dims, counts and probe/shortlist/k must be positive with shortlist >= k")
    import org.apache.spark.sql.expressions.Window
    // per-query ADC table as ONE array column: vals[s*K + code + 1] =
    // dot(q_s, book_s[code]) — (qid, s, code) folds to a qid-bounded
    // array, so the scan does lookups, never vector math
    val vtab = queries
      .crossJoin(broadcast(codebooks))
      .select(
        col("qid"),
        (col("s") * codeCount + col("code")).as("i"),
        VectorFns.dotc(
          slice(col("qe"), col("s") * subDim + 1, lit(subDim)),
          col("be")).as("v"))
      .groupBy(col("qid"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("i"), col("v")))),
          x => x.getField("v")).as("adc"))
    // probe routing: top-nprobe cells per query, ties to the smaller
    // cell; each probed (qid, cell) row carries the query vector for
    // the exact re-rank
    val probed = queries
      .crossJoin(broadcast(centroids))
      .withColumn("__sim", VectorFns.cosine(col("qe"), col("ce")))
      .withColumn(
        "__pr",
        row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("__sim").desc, col("cell"))))
      .filter(col("__pr") <= nprobe)
      .select(
        col("qid"), col("cell"),
        (if (cellConst) VectorFns.dotc(col("qe"), col("ce")) else lit(0.0)).as("qconst"),
        col("qe"))
    val probeInfo = probed.join(vtab, Seq("qid"))
    // corpus stays put: candidates fall out of a broadcast hash join
    val cand = encoded.join(broadcast(probeInfo), Seq("cell"))
    val lookups = (0 until nSub)
      .map(s =>
        element_at(col("adc"), col(s"pq_$s").cast("int") + lit(s * codeCount) + 1))
    // raw codes: pqTopK's exact left-to-right reduce (1-query batch
    // bit-equal to the single-query hybrid); residual codes: the
    // constant leads the same chain (the decomposition's fold shape)
    val approx =
      if (cellConst) lookups.foldLeft(col("qconst"))(_ + _)
      else lookups.reduce(_ + _)
    val short = cand
      .withColumn("approx_score", approx)
      .withColumn(
        "__sr",
        row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("approx_score").desc, col(idCol))))
      .filter(col("__sr") <= shortlist)
    short
      .withColumn("score", VectorFns.cosine(col(embCol), col("qe")))
      .withColumn(
        "__kr",
        row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score").desc, col(idCol))))
      .filter(col("__kr") <= k)
      .drop("__sr", "__kr", "adc", "qconst", "qe")
      .orderBy(col("qid"), col("score").desc, col(idCol))
  }
}
