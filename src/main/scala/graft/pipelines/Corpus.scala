package graft.pipelines

import graft.operators.{Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The pretraining corpus build as a reusable, single-plan pipeline:
  * language gate → quality gate → exact dedup → benchmark
  * decontamination → deterministic hash sample. Each stage is an
  * oracle-checked operator elsewhere in the engine; composing them
  * declaratively lets Catalyst fuse the gates into the scan, run the
  * dedup as a group-limit window, and broadcast the benchmark's
  * shingle hashes — see PLANS.md "t_funnel_e2e plan" for the compiled
  * shape and the 100 TB read on it.
  */
object Corpus {

  /** Run the funnel over `docs`, decontaminating against `benchmark`.
    *
    * @param langMarkers    marker-token table for [[TextAnalysis.langId]]
    * @param keepLang       language label that passes the gate
    * @param stopwords      stopword list for [[TextAnalysis.qualityScore]]
    * @param minQuality     inclusive quality floor
    * @param shingleN       n-gram size for decontamination overlap
    * @param sampleFraction deterministic hash-sample fraction (1.0 = keep all)
    * @param nearDupJaccard when set, a MinHash near-dup stage runs
    *                       between exact dedup and decontamination:
    *                       LSH candidate pairs at this Jaccard
    *                       threshold are clustered (connected
    *                       components) and each cluster keeps its
    *                       smallest-id canonical doc — the C4/Gopher
    *                       near-dup collapse every production corpus
    *                       build runs
    * @param minhashHashes  MinHash signature width for the near-dup stage
    * @param minhashBandSize band size for the near-dup LSH (hashes per band)
    * @param maxMeanNll     when set, a CCNet-style perplexity gate runs
    *                       after the heuristic gates: the unigram LM is
    *                       fit on the gate survivors themselves and
    *                       docs whose mean NLL (micro-nat exact sums,
    *                       rounded at 6) exceeds the threshold — the
    *                       atypical/gibberish tail — are dropped
    * @return surviving rows of `docs` plus `lang_pred` and `quality`
    */
  def funnel(
      docs: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      langMarkers: Seq[(String, Seq[String])],
      keepLang: String,
      stopwords: Seq[String],
      minQuality: Double,
      shingleN: Int = 3,
      sampleFraction: Double = 1.0,
      nearDupJaccard: Option[Double] = None,
      minhashHashes: Int = 8,
      minhashBandSize: Int = 1,
      maxMeanNll: Option[Double] = None): DataFrame = {
    // Persist-at-fan-out discipline (the rareLineSurvivors caching
    // contract one level up), scoped by where a cache buys work that
    // nothing else dedups. Within ONE action, AQE's exchange reuse
    // collapses identical shuffle subtrees at runtime, and the
    // single-plan funnels' fan-outs (decontamination + keep-join
    // reading the same dedup window) sit exactly in that class —
    // persisting them measured no better than unpersisted at sf0.1
    // (within session noise, r5 bench-discipline runs) while paying a
    // full-width columnar materialization, so the plain e2e funnel
    // stays persist-free. Persist is reserved for reuse AQE cannot
    // reach:
    //   - gated, when the perplexity gate is on: the LM fit is an
    //     aggregate over a different projection (not an
    //     exchange-identical subtree) and the keep-join probe is a
    //     third shape — measured win (t_funnel_ppl improved while its
    //     sibling e2e was flat in the same session);
    //   - deduped + canonical, when the near-dup stage is on: the
    //     cluster-resolve label propagation re-reads them across
    //     SEPARATE driver-iterated jobs, where single-plan reuse
    //     cannot apply and unpersisted frames recompute from the
    //     parquet scan per round — the r4 census's 10 corpus scans,
    //     now 3 (Profile -x, r5).
    // MEMORY_AND_DISK spills at 100 TB instead of rescanning;
    // sessions clear the blocks with spark.catalog.clearCache()
    // between queries (see the caching contract on `Dedup.persisted`).
    def cached(df: DataFrame): DataFrame =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gated0 = docs
      .withColumn("lang_pred", TextAnalysis.langId(col(textCol), langMarkers))
      .withColumn("quality", TextAnalysis.qualityScore(col(textCol), stopwords))
      .filter(col("lang_pred") === keepLang && col("quality") >= minQuality)
    val gated = if (maxMeanNll.isDefined) cached(gated0) else gated0
    val pplGated = maxMeanNll.fold(gated) { thr =>
      val keep = TextAnalysis
        .perplexity(gated, textCol, idCol)
        .filter(col("mean_nll") <= thr)
        .select(col("id").as(idCol))
      gated.join(keep, idCol)
    }
    val deduped0 = Dedup.exact(pplGated, textCol, idCol)
    val deduped = if (nearDupJaccard.isDefined) cached(deduped0) else deduped0
    // near-dup collapse (optional): candidates from banded MinHash,
    // exact-Jaccard verified, clustered, smallest id survives — the
    // stage is linear in corpus size (the band shuffle carries only
    // (id, band, bucket)), so inserting it does not change the
    // funnel's 100 TB posture
    val canonical0 = nearDupJaccard.fold(deduped) { threshold =>
      val pairs = Dedup
        .minhashLshPairs(
          deduped, textCol, idCol, shingleN, minhashHashes, minhashBandSize, threshold)
        .select(col("id_a"), col("id_b"))
      Dedup.resolveClusters(deduped, idCol, pairs)
    }
    val canonical = if (nearDupJaccard.isDefined) cached(canonical0) else canonical0
    val clean = Dedup
      .crossCorpusOverlap(canonical, benchmark, textCol, idCol, shingleN)
      .filter(!col("contaminated"))
      .select(col("id").as(idCol))
    Sampling.hashSample(canonical.join(clean, idCol), col(idCol), sampleFraction)
  }

  /** The funnel as a STRUCTURED STREAM: same gates, dedup,
    * decontamination and sample over an unbounded `docs` stream (the
    * corpus-intake analog of the reference's daily incremental DAG).
    * Every batch stage is re-expressed in its stream-safe form —
    * semantics are unchanged, so [[funnel]]'s oracle carries over:
    *   - lang/quality gates and the hash sample are per-row
    *     expressions (stateless);
    *   - exact dedup becomes streaming `dropDuplicates` on the content
    *     fingerprint — state-store-backed first-wins in ARRIVAL order
    *     (bound state with `withWatermark` upstream on a real feed).
    *     Arrival order is the streaming dedup contract: which
    *     duplicate survives matches the batch funnel's min-id rule
    *     only when the source delivers id-ordered rows or duplicates
    *     never straddle input splits — the duplicate SET removed is
    *     identical either way;
    *   - decontamination swaps the broadcast shingle-hash JOIN for a
    *     per-row `arrays_overlap` against the static benchmark's
    *     collected hash set (same shared-hash criterion): benchmark
    *     suites are MBs, so the set rides as a constant like
    *     `semanticDecontaminate`'s vectors, keeping the stream side
    *     join-free and append-mode-clean.
    * Returns surviving rows plus `lang_pred` and `quality`.
    */
  def streamFunnel(
      docs: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      langMarkers: Seq[(String, Seq[String])],
      keepLang: String,
      stopwords: Seq[String],
      minQuality: Double,
      shingleN: Int = 3,
      sampleFraction: Double = 1.0): DataFrame = {
    import graft.expressions.{SortedHashes64, WordShingles}
    val benchHashes: Seq[Long] = Dedup
      .shingleSets(benchmark, textCol, idCol, shingleN)
      .select(explode(SortedHashes64.hashes(col("sh"))).as("h"))
      .distinct()
      .collect()
      .toSeq
      .map(_.getLong(0))
    val docHashes =
      SortedHashes64.hashes(WordShingles.shingles(col(textCol), shingleN))
    Sampling.hashSample(
      docs
        .withColumn("lang_pred", TextAnalysis.langId(col(textCol), langMarkers))
        .withColumn("quality", TextAnalysis.qualityScore(col(textCol), stopwords))
        .filter(col("lang_pred") === keepLang && col("quality") >= minQuality)
        .withColumn("__fp", graft.functions.TextFns.fingerprint(col(textCol)))
        .dropDuplicates("__fp")
        .drop("__fp")
        .filter(!arrays_overlap(docHashes, typedLit(benchHashes))),
      col(idCol),
      sampleFraction)
  }
}
