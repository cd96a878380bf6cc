package graft.operators

import graft.expressions.{SortedHashes64, SortedIntersectSize}
import graft.functions.TextFns
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel

/** Training-data deduplication family: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale posture (100 TB): every variant is built as
  * shingle/signature explode → shuffle on a *bucket key* → pair join
  * inside buckets — never an all-pairs cross join. Candidate
  * generation is linear in corpus size; verification touches only
  * bucket-colliding pairs.
  */
object Dedup {

  /** Exact dedup by content hash: first-wins (min `order`) per
    * identical normalized text.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    Relational.dedupeFirstWins(
      df,
      Seq(TextFns.fingerprint(col(textCol))),
      Seq(col(idCol)))

  /** Corpus-wide line dedup (C4/RefinedWeb boilerplate rule): keep
    * only rows of an already-exploded (id, pos, line) stream whose
    * `line` occurs fewer than `maxDf` times across the whole corpus.
    *
    * Two-phase on purpose: `groupBy(line).count()` shrinks a hot
    * boilerplate line ("all rights reserved", cookie banners) to one
    * partial row per map partition BEFORE the shuffle, the `< maxDf`
    * filter runs on the COUNTS, and only then do we join back — so
    * the join's build side contains no hot keys by construction. A
    * hot line on the probe side hashes into an empty bucket and
    * streams straight through. The alternative
    * `count().over(Window.partitionBy(line))` ships every occurrence
    * of the hot line to ONE task and buffers the group — at corpus
    * scale the hot line is the common case, and AQE cannot split a
    * window group the way it splits a skewed join.
    */
  def rareLineSurvivors(exploded: DataFrame, lineCol: String, maxDf: Int): DataFrame = {
    // persisted: the count pass and the probe side read ONE
    // segmentation/explode pass (tokenize + slice per doc dominates
    // this operator); caching contract: `persisted`
    val cached = persisted(exploded)
    val rare = cached
      .groupBy(col(lineCol))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") < maxDf)
      .select(col(lineCol).as("__rare_line"))
    // null-SAFE equality: groupBy treats NULL lines as one group, so
    // the join back must match them too — a plain equi-join would
    // silently drop every NULL-line row regardless of its frequency
    cached
      .join(rare, cached(lineCol) <=> col("__rare_line"))
      .drop("__rare_line")
  }

  /** Distinct word-n-gram shingle SETS per doc: (id, sh:array<string>).
    *
    * One `WordShingles` eval per document (tokenize + slide + dedupe
    * in a tight loop) — no row-per-token explode, window or
    * dropDuplicates aggregate. The input is spread to cluster width
    * first: shingling is per-doc work, and a small scan would
    * otherwise serialize it on one partition.
    */
  def shingleSets(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    Width.spread(df)
      .select(
        col(idCol).as("id"),
        graft.expressions.WordShingles.shingles(col(textCol), n).as("sh"))

  /** Distinct word-n-gram shingles per doc as rows: (id, shingle). */
  def shingleTable(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    shingleSets(df, textCol, idCol, n)
      .select(col("id"), explode(col("sh")).as("shingle"))

  /** The caching contract of this object's pair operators, and of the
    * operators elsewhere that cite it: the returned plan reads an
    * internally persisted frame, so every join side and every verify
    * side shares one upstream pass. The blocks live until the session
    * clears them — long-lived sessions should
    * `spark.catalog.clearCache()` (or unpersist all persistent RDDs)
    * after consuming the result, as the engine's Bench/Profile mains
    * do between queries.
    */
  private def persisted(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Chapman capture–recapture over two detectors' pair sets
    * (Lincoln–Petersen with the +1 bias correction, Chapman 1951) —
    * estimate the TRUE near-dup pair population from how much two
    * INDEPENDENT detectors overlap, with no ground truth: the canary
    * (T64) plants truth to measure one detector; this estimates the
    * unplanted total from detector disagreement, the wildlife-census
    * trick applied to dedup coverage.
    *
    *   N̂ = (n_a+1)(n_b+1) div (m+1) − 1,  recall_i = 1e6·n_i div N̂
    *
    * — exact integer counts, one truncating division each; m = 0
    * (disjoint detectors) stays finite by the Chapman correction,
    * and an all-empty input takes the documented 0 convention.
    * CAVEAT (the modeling assumption, stated where it bites):
    * independence — two detectors sharing a pipeline stage (same
    * shingles, same normalization) correlate positively and bias N̂
    * LOW, which reads as recall optimism; pair structurally
    * different detectors (lexical vs bit-sketch) as the canonical
    * query does. Returns one row (n_a, n_b, n_overlap, n_hat,
    * recall_a_ppm, recall_b_ppm).
    */
  def captureRecapture(pairsA: DataFrame, pairsB: DataFrame): DataFrame = {
    val a = persisted(pairsA.select(col("id_a"), col("id_b")).distinct())
    val b = persisted(pairsB.select(col("id_a"), col("id_b")).distinct())
    a.agg(count(lit(1)).as("n_a"))
      .crossJoin(broadcast(b.agg(count(lit(1)).as("n_b"))))
      .crossJoin(broadcast(
        a.join(b, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("n_overlap"))))
      .withColumn(
        "n_hat",
        expr("CAST(CAST(n_a + 1 AS DECIMAL(38,0)) * (n_b + 1) div (n_overlap + 1) AS BIGINT) - 1"))
      .select(
        col("n_a"), col("n_b"), col("n_overlap"), col("n_hat"),
        expr(
          """CASE WHEN n_hat = 0 THEN CAST(0 AS BIGINT)
            |ELSE CAST(CAST(1000000 AS DECIMAL(38,0)) * n_a div n_hat AS BIGINT) END""".stripMargin)
          .as("recall_a_ppm"),
        expr(
          """CASE WHEN n_hat = 0 THEN CAST(0 AS BIGINT)
            |ELSE CAST(CAST(1000000 AS DECIMAL(38,0)) * n_b div n_hat AS BIGINT) END""".stripMargin)
          .as("recall_b_ppm"))
  }

  // The near-dup pair pipeline. Every pair operator below is the same
  // three stages, each written once here:
  //   1. candidates — the full shingle equi-join (`sharedCounts` over
  //      the df-capped universe), the prefix-filtered shingle join
  //      (prefixJaccardPairs), or the MinHash band join
  //      (`bandCandidates`, shared with Similarity's hyperplane LSH);
  //   2. the exact score — Jaccard or containment from shared-shingle
  //      counts, or Jaccard from a merge walk over two sorted hash
  //      sets (`verifyHashSets`);
  //   3. the threshold (`keepScored`).
  // The entry points differ only in the candidate generator, the pair
  // predicate (id_a < id_b for a self-join) and the score.

  /** The df-capped hashed-shingle universe: one (id, shingle, __df)
    * row per distinct shingle of each non-empty doc, `__df` being the
    * shingle's corpus document frequency, kept when at most `maxDf`.
    *
    * Shingles ride as 64-bit hashes from here on: the equi-join and
    * the common-count only need equality, and long keys shuffle and
    * compare far cheaper than shingle strings (collisions ~1e-15 for
    * the set sizes a pair compares — the standard production
    * tradeoff). The df-cap drops degenerate stop-shingles from the
    * WHOLE score universe — both the intersection counts and the set
    * sizes come from the capped table, so capped shingles don't
    * deflate the score by inflating only the denominator.
    * (Measured alternative: groupBy-count + broadcast anti-join of
    * the over-cap set. ~40% SLOWER here and no better at scale:
    * shingle keys are mostly unique, so the count agg shuffles as
    * many rows as this window does, plus an extra kernel pass and a
    * broadcast barrier. The window's sort is the only extra cost and
    * one count-over-window needs no frame buffering.)
    */
  private def cappedShingles(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      maxDf: Int): DataFrame =
    shingleSets(df, textCol, idCol, n)
      .filter(size(col("sh")) > 0)
      .select(col("id"), SortedHashes64.hashes(col("sh")).as("hs"))
      .select(col("id"), explode(col("hs")).as("shingle"))
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .filter(col("__df") <= maxDf)

  /** Shared-shingle counts: (id_a, id_b, common, sz_a, sz_b) for every
    * `a`-side doc and `universe` doc that share a shingle and pass
    * `pair`, with both set sizes counted in the same universe. The
    * shingle equi-join IS the LSH here (bucket = shingle); AQE's
    * skew join handles moderate skew and the df-cap drops the
    * degenerate buckets.
    */
  private def sharedCounts(a: DataFrame, universe: DataFrame, pair: Column): DataFrame = {
    val sizes = universe.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    a.select(col("id").as("id_a"), col("shingle"))
      .join(universe.select(col("id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(pair)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
  }

  /** |A∩B| / |A∪B| of two distinct sets from their shared count and
    * sizes: |A∪B| = |A| + |B| − |A∩B|.
    */
  private def jaccard(common: Column, szA: Column, szB: Column): Column =
    common.cast("double") / (szA + szB - common).cast("double")

  /** The pairs whose `score`, named `name`, is at least `threshold`:
    * (id_a, id_b, name).
    */
  private def keepScored(pairs: DataFrame, name: String, score: Column, threshold: Double): DataFrame =
    pairs
      .withColumn(name, score)
      .filter(col(name) >= threshold)
      .select(col("id_a"), col("id_b"), col(name))

  /** Exact Jaccard of candidate pairs (id_a, id_b) over the sides'
    * sorted hash sets ((id, hs) frames): the sets join back per
    * candidate by id, so the wide arrays never ride the candidate
    * shuffle, and each pair's work is ONE sorted merge walk over
    * longs. Returns (id_a, id_b, jaccard ≥ threshold).
    */
  private def verifyHashSets(cand: DataFrame, a: DataFrame, b: DataFrame, threshold: Double): DataFrame =
    keepScored(
      cand
        .join(a.select(col("id").as("id_a"), col("hs").as("hs_a")), "id_a")
        .join(b.select(col("id").as("id_b"), col("hs").as("hs_b")), "id_b")
        .withColumn("common", SortedIntersectSize.intersectSize(col("hs_a"), col("hs_b"))),
      "jaccard",
      jaccard(col("common"), size(col("hs_a")), size(col("hs_b"))),
      threshold)

  /** The LSH band join: distinct (id_a, id_b) pairs of an `a` row and
    * a `b` row that agree on ANY band's bucket (the OR-of-ANDs) and
    * pass `pair`. `buckets` holds one bucket column per band, each
    * evaluated over both sides (frames with an `id` column); the
    * bucket shuffle carries only (id, band, bucket), and candidates
    * dedupe across bands before any verify pulls wide columns back
    * by id, so each pair is scored once.
    */
  private[operators] def bandCandidates(
      a: DataFrame,
      b: DataFrame,
      buckets: Seq[Column],
      pair: Column): DataFrame = {
    val bands = array(buckets.zipWithIndex.map { case (bucket, band) =>
      struct(lit(band).as("band"), bucket.as("bucket"))
    }: _*)
    def banded(side: DataFrame, id: String): DataFrame =
      side
        .select(col("id"), explode(bands).as("bb"))
        .select(col("id").as(id), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    banded(a, "id_a")
      .join(banded(b, "id_b"), Seq("band", "bucket"))
      .filter(pair)
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact n-gram Jaccard pair discovery via the df-capped shingle
    * equi-join (bucketed, never all-pairs): candidate pairs share ≥1
    * capped shingle; jaccard = |A∩B| / (|A|+|B|-|A∩B|) ≥ threshold.
    * Caching contract: `persisted`.
    *
    * Deployment knob (the SCALE_r10 partition-sweep lesson): the
    * shingle equi-join is this pipeline's dominant shuffle, and its
    * per-partition hash tables are what spill first as the corpus
    * grows — size `spark.sql.shuffle.partitions` PROPORTIONAL TO
    * INPUT (≈ one partition per 128–256 MB of exploded shingles; at
    * x100 of sf0.1 that is ≥ 2× cores), and let AQE coalesce the
    * over-provisioned small runs. ScaleBench applies this rule per
    * multiplier (`partsFor`), which is what holds pair discovery to
    * ~linear through x100.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      threshold: Double,
      maxDf: Int = 1000): DataFrame = {
    val universe = persisted(cappedShingles(df, textCol, idCol, n, maxDf).drop("__df"))
    keepScored(
      sharedCounts(universe, universe, col("id_a") < col("id_b")),
      "jaccard",
      jaccard(col("common"), col("sz_a"), col("sz_b")),
      threshold)
  }

  /** Plant the canary's deterministic paraphrase twins: every
    * `plantEvery`-th doc with ≥ 10 tokens, ~10% token dropout keyed
    * by the portable hash32 of (doc_id, position) — no RNG state.
    * Returns (corpus ∪ twins as (idCol, textCol), the planted pairs
    * as (id_a = doc, id_b = twin)).
    *
    * Twin ids are real id + `twinOffset`; a collision with a real
    * doc id would silently corrupt the unioned corpus's shingle sets
    * and the reported recall — the class of bug that never throws
    * and always skews. So the corpus carries a guard that FAILS FAST
    * whenever max(id) ≥ twinOffset (empty input passes): one
    * column-pruned max() over the id column, broadcast back onto the
    * corpus (the documented bounded-BNLJ class) and asserted via the
    * filter(assert_true(...).isNull) idiom ([[Similarity]]'s
    * dimension check) — a bare projected guard column would be
    * column-pruned away and never evaluate. On a corpus with ids ≥
    * the default 1e6, pass a larger twinOffset instead of disabling
    * the guard.
    */
  private def plantTwins(
      df: DataFrame,
      textCol: String,
      idCol: String,
      plantEvery: Int,
      twinOffset: Long): (DataFrame, DataFrame) = {
    require(twinOffset > 0L, "twinOffset must be positive")
    val toks = TextFns.tokens(col(textCol))
    val planted = df.filter(col(idCol) % plantEvery === 0 && size(toks) >= 10)
    val dropped = filter(
      transform(
        toks,
        (t, i) =>
          when(
            graft.operators.Sampling
              .hash32(concat(col(idCol), lit(":"), i)) % 10 =!= 0,
            t).otherwise(lit(null))),
      x => x.isNotNull)
    // LATERAL-ALIAS TRAP: computing `dropped` inside the select that
    // re-aliases idCol would resolve the lambda's col(idCol) to the
    // NEW +1e6 alias (Spark's lateral column alias wins over the
    // input column here), silently keying the dropout on the twin id
    // — withColumn pins evaluation against the ORIGINAL id first.
    val twins = planted
      .withColumn("__dropped", dropped)
      .select(
        (col(idCol) + twinOffset).as(idCol),
        array_join(col("__dropped"), " ").as(textCol))
    val corpus = df
      .select(col(idCol), col(textCol))
      .unionByName(twins)
      .crossJoin(broadcast(df.agg(max(col(idCol)).cast("long").as("__max_id"))))
      .filter(
        assert_true(
          coalesce(col("__max_id") < lit(twinOffset), lit(true)),
          concat(
            lit(s"canary twinOffset $twinOffset must exceed max($idCol) = "),
            col("__max_id").cast("string"))).isNull)
      .drop("__max_id")
    val expected = planted.select(
      col(idCol).as("id_a"),
      (col(idCol) + twinOffset).as("id_b"))
    (corpus, expected)
  }

  /** Measurement-in-production for the near-dup detector: plant
    * twins ([[plantTwins]]), run the REAL jaccard detector over
    * corpus ∪ twins, and report how many planted pairs it
    * recovered — the canary that catches a recall regression
    * (threshold drift, a broken shingle kernel, an over-aggressive
    * df-cap) in the same pipeline run that does the work. Returns
    * one row (n_planted, n_found, recall_ppm exact integer). The
    * dropout is map-only; the detector pays its normal cost over a
    * corpus ~1/plantEvery larger.
    */
  def canaryRecall(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      threshold: Double,
      plantEvery: Int = 10,
      twinOffset: Long = 1000000L): DataFrame = {
    require(plantEvery >= 2, "plantEvery must be >= 2")
    val (corpus, expected) = plantTwins(df, textCol, idCol, plantEvery, twinOffset)
    val found = ngramJaccardPairs(corpus, textCol, idCol, n, threshold)
      .join(expected, Seq("id_a", "id_b"), "left_semi")
    expected
      .agg(count(lit(1)).as("n_planted"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .withColumn(
        "recall_ppm",
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * n_found div n_planted AS BIGINT)"))
  }

  /** [[canaryRecall]] swept across thresholds in ONE detector pass:
    * pairs are scored once at the LOWEST swept threshold
    * (explainJaccardPairs' exact integer jac6), then each operating
    * point reads its recall and pair volume off the same scored
    * table — the threshold-tuning evidence (recall falls, pair
    * volume falls; pick the knee) without re-running the shingle
    * pipeline per point. Thresholds are integer percents; floor-
    * comparison on jac6 ≥ pct·1e4 is exact. Returns one row per
    * threshold: (threshold_pct, n_planted, n_found, recall_ppm,
    * n_pairs_total).
    */
  def canarySweep(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      thresholds: Seq[Int],
      plantEvery: Int = 10,
      twinOffset: Long = 1000000L): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t => t >= 1 && t <= 100))
    val (corpus, expected) = plantTwins(df, textCol, idCol, plantEvery, twinOffset)
    val scored = persisted(
      explainJaccardPairs(corpus, textCol, idCol, n, thresholds.min / 100.0)
        .select(col("id_a"), col("id_b"), col("jac6")))
    val nPlanted = broadcast(expected.agg(count(lit(1)).as("n_planted")))
    val ts = thresholds.sorted.map(t => lit(t.toLong))
    val sweep = scored.sparkSession
      .range(1)
      .select(explode(array(ts: _*)).as("threshold_pct"))
    val found = scored
      .join(expected, Seq("id_a", "id_b"), "left_semi")
      .crossJoin(sweep)
      .filter(col("jac6") >= col("threshold_pct") * 10000L)
      .groupBy(col("threshold_pct"))
      .agg(count(lit(1)).as("n_found"))
    val volume = scored
      .crossJoin(sweep.withColumnRenamed("threshold_pct", "__t"))
      .filter(col("jac6") >= col("__t") * 10000L)
      .groupBy(col("__t").as("threshold_pct"))
      .agg(count(lit(1)).as("n_pairs_total"))
    sweep
      .join(found, Seq("threshold_pct"), "left")
      .join(volume, Seq("threshold_pct"), "left")
      .na.fill(0L, Seq("n_found", "n_pairs_total"))
      .crossJoin(nPlanted)
      .select(
        col("threshold_pct"),
        col("n_planted"),
        col("n_found"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * n_found div n_planted AS BIGINT)").as("recall_ppm"),
        col("n_pairs_total"))
  }

  /** The "why did these two match" audit view of
    * [[ngramJaccardPairs]]: the SAME capped-shingle pipeline and the
    * same threshold, but each surviving pair reports its evidence —
    * set sizes, shared-shingle count, and jaccard + containment in
    * exact integer ppm — the per-decision record a dedup reviewer
    * (or a takedown dispute) needs, without re-deriving anything the
    * detector didn't already compute. Asymmetric containment is the
    * tell the jaccard score hides: a snippet quoted inside a long
    * doc scores low jaccard but cont6 ≈ 1e6.
    */
  def explainJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      threshold: Double,
      maxDf: Int = 1000): DataFrame = {
    val universe = persisted(cappedShingles(df, textCol, idCol, n, maxDf).drop("__df"))
    sharedCounts(universe, universe, col("id_a") < col("id_b"))
      .filter(jaccard(col("common"), col("sz_a"), col("sz_b")) >= threshold)
      .select(
        col("id_a"),
        col("id_b"),
        col("sz_a"),
        col("sz_b"),
        col("common"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * common div (sz_a + sz_b - common) AS BIGINT)").as("jac6"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * common div least(sz_a, sz_b) AS BIGINT)").as("cont6"))
  }

  /** [[ngramJaccardPairs]] with PREFIX-FILTERED candidate generation —
    * identical output (same capped shingle universe, same exact
    * verify), structurally smaller candidate join. The public
    * technique is SSJoin's prefix filter (Chaudhuri, Ganti & Kaushik,
    * ICDE 2006) as scaled by All-Pairs (Bayardo, Ma & Srikant, WWW
    * 2007) and PPJoin (Xiao et al., TODS 2011).
    *
    * Why it wins at 100 TB: the plain shingle equi-join pairs every
    * co-occurrence of every shingle — Σ df² over the whole universe.
    * Under a global rarest-first token order, a pair with
    * J(x,y) ≥ t must share a token inside both docs' first
    * |x| − ⌈t·|x|⌉ + 1 tokens (if every common token sat outside one
    * side's prefix, that side — say x, the one whose prefix ends
    * earlier in the order — could hold at most ⌈t·|x|⌉ − 1 commons in
    * its suffix, below the β = ⌈t·|x|⌉ overlap J ≥ t forces). So the
    * candidate join only explodes PREFIX tokens, which the
    * rarest-first order makes the lowest-df tokens each doc has:
    * at t = 0.8 a 100-shingle page ships 21 rare shingles instead of
    * 100 of every frequency. The filter is LOSSLESS — every surviving
    * pair is re-scored exactly, so the prefix stage changes WHO gets
    * compared, never what a comparison sees.
    *
    * Caching contract: `persisted`. Same deployment knob as
    * [[ngramJaccardPairs]]: the prefix-token equi-join shuffle wants
    * `spark.sql.shuffle.partitions` ∝ input (AQE coalesces the
    * over-provisioned small runs).
    */
  def prefixJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      threshold: Double,
      maxDf: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    // __df is kept past the cap because it IS the global token order below
    val filtered = persisted(cappedShingles(df, textCol, idCol, n, maxDf))
    // per-doc CAPPED shingle sets as sorted hash arrays: set sizes
    // come from array length, and verification is one merge-walk
    // kernel per candidate pair (the minhash-verify shape) — a
    // relational verify (cand ⋈ tokens ⋈ tokens → count) would
    // re-explode Σ|doc| rows per candidate and at sf0.1 costs more
    // than the full shingle join it was meant to beat (measured 17 s
    // vs 2.4 s); shipping two bounded arrays to each of the FEW
    // post-prefix candidates is exactly what the prefix filter
    // bought us
    val cappedSets = persisted(
      filtered
        .groupBy(col("id"))
        .agg(sort_array(collect_list(col("shingle"))).as("hs")))
    // rarest-first total order: (df, hash). row_number is a per-doc
    // window — bounded by one document's shingle count, never a
    // corpus-wide sort
    val ranked = filtered
      .join(cappedSets.select(col("id"), size(col("hs")).cast("long").as("sz")), "id")
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy(col("id")).orderBy(col("__df"), col("shingle"))))
    // β = ⌈t·|x|⌉; prefix keeps the first |x| − β + 1 tokens. The 1e-9
    // guards the float product from rounding UP past the exact
    // rational (0.2·35 → 7.000000000000001 → β 8 would LOSE pairs);
    // rounding down only lengthens a prefix — more candidates, same
    // verified output
    val prefix = ranked
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
      .select(col("id"), col("shingle"), col("sz"))
    val cand = prefix
      .select(col("id").as("id_a"), col("shingle"), col("sz").as("sz_a"))
      .join(
        prefix.select(col("id").as("id_b"), col("shingle"), col("sz").as("sz_b")),
        Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      // length filter: J ≥ t forces t·|x| ≤ |y| ≤ |x|/t — prunes
      // before the distinct so mismatched-size pairs never shuffle
      .filter(
        col("sz_b").cast("double") >= col("sz_a").cast("double") * threshold - 1e-9 &&
          col("sz_a").cast("double") >= col("sz_b").cast("double") * threshold - 1e-9)
      .select(col("id_a"), col("id_b"))
      .distinct()
    verifyHashSets(cand, cappedSets, cappedSets, threshold)
  }

  /** Two-table exact Jaccard — [[ngramJaccardPairs]] for the
    * INCREMENTAL posture: every pair with at least one side in
    * `batch`, scored against the effective corpus (batch ∪ corpus,
    * batch version wins on id collision — the re-crawled-page rule).
    * Returns (id_a < id_b, jaccard), exactly the full-corpus pair set
    * restricted to pairs touching a batch doc — so a dup-graph
    * increment built from this operator composes with
    * [[graft.sources.Io.upsertDupGraph]] into the full-corpus
    * closure, provable against the single-table oracle.
    *
    * Scale shape: the expensive shingle-match join is batch-shingles ×
    * corpus-shingles — proportional to the INCREMENT, not corpus².
    * The one corpus-wide cost is the df-cap window (document
    * frequency is a global property; at 100 TB persist the df table
    * as its own artifact and join it in rather than recomputing —
    * the cap must see the whole corpus either way, or batch-vs-full
    * scores diverge). Caching contract: `persisted`.
    */
  def ngramJaccardAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      threshold: Double,
      maxDf: Int = 1000): DataFrame = {
    val tagged = batch
      .select(col(idCol).as("id"), col(textCol).as("__txt"))
      .withColumn("__pri", lit(1))
      .unionByName(
        corpus
          .select(col(idCol).as("id"), col(textCol).as("__txt"))
          .withColumn("__pri", lit(0)))
    val docs = Relational
      .dedupeFirstWins(tagged, Seq(col("id")), Seq(col("__pri").desc))
      .drop("__pri")
    val universe = persisted(cappedShingles(docs, "__txt", "id", n, maxDf).drop("__df"))
    val batchIds = batch.select(col(idCol).as("id")).distinct()
    keepScored(
      sharedCounts(
        universe.join(batchIds, Seq("id"), "left_semi"), universe, col("id_a") =!= col("id_b")),
      "jaccard",
      jaccard(col("common"), col("sz_a"), col("sz_b")),
      threshold)
      // batch-batch pairs surface in both orientations with the same
      // integers, hence bit-identical scores — canonicalize + distinct
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("jaccard"))
      .distinct()
  }

  /** Shingle-CONTAINMENT near-dup pairs: containment = |A∩B| /
    * min(|A|,|B|) — the asymmetric overlap measure that catches a
    * small doc embedded in a big one (a quoted article, a licence
    * block, a chat message inside a dump), which Jaccard structurally
    * misses: a 100-shingle doc fully contained in a 10 000-shingle
    * doc has Jaccard 0.01 but containment 1.0. The standard second
    * axis production dedup runs next to Jaccard (Broder's
    * resemblance/containment pairing).
    *
    * Same scale shape and df-cap as [[ngramJaccardPairs]] (caching
    * contract: `persisted`) — the candidate stage is the identical
    * shingle equi-join, only the score differs. Returns
    * (id_a, id_b, containment).
    */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      threshold: Double,
      maxDf: Int = 1000): DataFrame = {
    val universe = persisted(cappedShingles(df, textCol, idCol, n, maxDf).drop("__df"))
    keepScored(
      sharedCounts(universe, universe, col("id_a") < col("id_b")),
      "containment",
      col("common").cast("double") / least(col("sz_a"), col("sz_b")).cast("double"),
      threshold)
  }

  /** The `numHashes` per-shingle hash expressions behind the MinHash
    * signature: 32-bit LONGS parsed from the 8-hex-char slices of
    * md5(shingle), md5("1:"++shingle), ... — one md5 evaluation per 4
    * hash functions, and numeric values so the min-aggregates keep a
    * mutable fixed-width buffer (min over STRINGS has an immutable
    * buffer and demotes the whole aggregation to SortAggregate).
    * Deterministic and exactly mirrorable in DuckDB SQL.
    */
  private[graft] def minhashExprs(shingle: Column, numHashes: Int): Seq[Column] = {
    val seeds = (numHashes + 3) / 4
    val bases = (0 until seeds).map { s =>
      if (s == 0) md5(shingle) else md5(concat(lit(s"$s:"), shingle))
    }
    (0 until numHashes).map(i =>
      conv(substring(bases(i / 4), (i % 4) * 8 + 1, 8), 16, 10).cast("long"))
  }

  /** One bucket column per MinHash band over a `sig` array column.
    * For bandSize 1 the signature value ITSELF is the bucket
    * (injective — exactly the candidate structure an md5 of it would
    * give, minus the hash work and with an 8-byte instead of 32-char
    * shuffle key); wider bands hash the band tuple to one md5 string.
    */
  private def minhashBuckets(numHashes: Int, bandSize: Int): Seq[Column] = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    (0 until numHashes / bandSize).map { b =>
      val vals = (0 until bandSize).map(k => element_at(col("sig"), b * bandSize + k + 1))
      if (bandSize == 1) vals.head
      else md5(concat_ws("|", vals.map(_.cast("string")): _*))
    }
  }

  /** MinHash+LSH candidate pairs: band the signature (`bandSize` rows
    * per band), bucket-join on (band index, band hash), then verify
    * with exact Jaccard over shingle sets.
    *
    * Plan shape: ONE narrow pass computes each doc's shingle set and
    * k-min signature (`WordShingles` + `MinHashSignature`, per-doc
    * evals — no shingle rows ever ride a shuffle), persisted for the
    * band join and the verify (caching contract: `persisted`) ->
    * project (id, band, bucket) -> one shuffle on the bucket key ->
    * pair join inside buckets -> verify join. The band shuffle
    * carries only (id, band, bucket); shingle sets are joined back
    * per candidate pair, so the wide arrays never ride through the
    * bucket shuffle (matters at 100 TB).
    */
  def minhashLshPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      numHashes: Int,
      bandSize: Int,
      threshold: Double): DataFrame = {
    val buckets = minhashBuckets(numHashes, bandSize)
    val sigs = persisted(minhashSign(df, textCol, idCol, n, numHashes))
    verifyHashSets(
      bandCandidates(sigs, sigs, buckets, col("id_a") < col("id_b")), sigs, sigs, threshold)
  }

  /** Cross-corpus MinHash near-dup matches: batch docs whose Jaccard
    * vs ANY history doc clears `threshold` — the incremental-ingest
    * analog of [[minhashLshPairs]] (T1's `dd_incremental` is the
    * exact-fingerprint version of the same daily shape): the history
    * is signed in-line, persisted for the band join and the verify,
    * and matched by [[minhashLshAgainstSigs]]. Returns
    * (id_a = batch id, id_b = history id, jaccard).
    */
  def minhashLshAgainst(
      batch: DataFrame,
      history: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      numHashes: Int,
      bandSize: Int,
      threshold: Double): DataFrame =
    minhashLshAgainstSigs(
      batch, persisted(minhashSign(history, textCol, idCol, n, numHashes)),
      textCol, idCol, n, numHashes, bandSize, threshold)

  /** Sign a corpus: (id, sig, hs) — the MinHash signature array for
    * banding plus the sorted 64-bit shingle hashes that exact
    * verification merge-walks over (collisions ~1e-15 at pair scale —
    * the standard production tradeoff). ONE shingle pass; once
    * written as the signature artifact
    * ([[graft.sources.Io.writeMinhashSigs]]), no consumer re-reads
    * the corpus text for near-dup work. The pair pipelines sign with
    * this same plan, so artifact-scored results equal in-line results
    * exactly. Returns an unpersisted plan: a single write runs it
    * once, and an equal plan persisted by a pair pipeline (a batch
    * matched by [[minhashLshAgainstSigs]] before it is signed) is
    * read from that cache.
    */
  def minhashSign(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      numHashes: Int): DataFrame =
    shingleSets(df, textCol, idCol, n)
      .filter(size(col("sh")) > 0)
      .select(
        col("id"),
        graft.expressions.MinHashSignature.signature(col("sh"), numHashes).as("sig"),
        SortedHashes64.hashes(col("sh")).as("hs"))

  /** [[minhashLshAgainst]] with the HISTORY side already signed — the
    * daily-ingest shape the signature artifact exists for: `histSigs`
    * is [[graft.sources.Io.readMinhashSigsLatest]] (or an as-of
    * read), the batch signs itself per run (persisted for the band
    * join and the verify; caching contract: `persisted`), and both
    * the band candidate join and the hash-set verification read ONLY
    * signatures — history text never loads, never shuffles, never
    * re-shingles, and per-day cost is linear in the batch, not the
    * corpus. Result is IDENTICAL to [[minhashLshAgainst]] over the
    * texts the artifact was signed from (same kernels, same hashes).
    * Returns (id_a = batch id, id_b = history id, jaccard).
    */
  def minhashLshAgainstSigs(
      batch: DataFrame,
      histSigs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      numHashes: Int,
      bandSize: Int,
      threshold: Double): DataFrame = {
    val buckets = minhashBuckets(numHashes, bandSize)
    val bSig = persisted(minhashSign(batch, textCol, idCol, n, numHashes))
    val hSig = histSigs.select(col("id"), col("sig"), col("hs"))
    verifyHashSets(bandCandidates(bSig, hSig, buckets, lit(true)), bSig, hSig, threshold)
  }

  /** Incremental exact dedup with a Bloom prefilter — T1's daily-ingest
    * shape at warehouse scale (reference `structured_extraction_v2.py`'s
    * seen-set skip, re-expressed for a history too big to shuffle):
    * survivors = batch docs (internally first-wins deduped) whose
    * content fingerprint is absent from `historyFps`, the persisted
    * one-column (`fp`) fingerprint table of everything already ingested.
    *
    * Why not a plain anti-join: `batch ANTI history` has the huge side
    * on the RIGHT, and BroadcastHashJoin LeftAnti can only build right —
    * so Spark sort-merge-joins, shuffling the FULL history every run.
    * Here history is never shuffled:
    *   1. one map-side aggregate builds a Bloom filter over
    *      `xxhash64(fp)` of history (`stat.bloomFilter`, ~1.2 GB for
    *      1e9 items at 1% fpp — broadcastable);
    *   2. the batch probes it through Spark's codegen
    *      `BloomFilterMightContain` (the runtime-filter expression):
    *      negatives are DEFINITELY new and bypass the joins entirely;
    *   3. positives (true dups + ~fpp of the new) verify exactly —
    *      `history SEMI broadcast(positives)` scans history map-side,
    *      then `positives ANTI broadcast(matched)` — both joins
    *      broadcast only increment-bounded sets.
    * Result is exact (false positives only route rows into step 3,
    * never change the outcome). Assumes the daily increment ≪ history,
    * which is what makes the two broadcasts safe. Caching contract:
    * `persisted` (probed batch persisted once for the route split).
    */
  def bloomIncremental(
      batch: DataFrame,
      historyFps: DataFrame,
      textCol: String,
      idCol: String,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1, "need expectedItems > 0, fpp in (0,1)")
    val hfp = historyFps.select(col("fp"))
    val bf = hfp.select(xxhash64(col("fp")).as("h")).stat.bloomFilter("h", expectedItems, fpp)
    val bfBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val probed = exact(batch, textCol, idCol)
      .withColumn("fp", TextFns.fingerprint(col(textCol)))
      // null text → null fp → the Bloom probe is null, which would
      // fail BOTH branch filters and silently drop the row. A null
      // join key never matches in the equi-joins below (nor in the
      // plain left_anti this op is exact-equivalent to), so null
      // probes are DEFINITELY new: coalesce to false routes them
      // through the join-bypassing negative branch, preserving the
      // anti-join's keep-the-null-row semantics.
      .withColumn(
        "__maybe",
        coalesce(
          ColumnBridge.column(BloomFilterMightContain(
            Literal(bfBytes, BinaryType),
            ColumnBridge.expression(xxhash64(col("fp"))))),
          lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val positives = probed.filter(col("__maybe"))
    val matched = hfp
      .join(broadcast(positives.select(col("fp"))), Seq("fp"), "left_semi")
      .distinct()
    probed
      .filter(!col("__maybe"))
      .unionByName(positives.join(broadcast(matched), Seq("fp"), "left_anti"))
      .drop("__maybe")
  }

  /** 64-bit SimHash fingerprint as a 16-hex-char string. Token bits
    * come from the leading 16 hex chars of md5(token); for each bit
    * position the vote over tokens (+1 if bit set, else -1) decides
    * the fingerprint bit. Near-dups = small Hamming distance; bucket
    * on fingerprint prefix to stay linear at scale.
    */
  def simhashFingerprint(toks: Column): Column = {
    val hexDigits = "0123456789abcdef"
    val digitExprs = (0 until 16).map { pos =>
      val votes = (0 until 4).map { bit =>
        val mask = 1 << (3 - bit)
        val voteSum = aggregate(
          toks,
          lit(0),
          (acc: Column, t: Column) => {
            val d = instr(lit(hexDigits), substring(md5(t), pos + 1, 1)) - 1
            acc + when((floor(d.cast("int") / mask).cast("int") % 2) === 1, 1).otherwise(-1)
          })
        when(voteSum > 0, lit(mask)).otherwise(lit(0))
      }
      votes.reduce(_ + _)
    }
    concat(digitExprs.map(d => lit(hexDigits).substr(d + 1, lit(1))): _*)
  }

  /** SimHash as a table op: (id, simhash) — semantics of
    * `simhashFingerprint` but computed as explode → 64 codegen'd
    * `sum(when)` bit-vote aggregates (one shuffle on id, md5 computed
    * once per token). Use this at scale; the column version is for
    * small in-memory arrays. Docs with zero tokens are absent here
    * (the column version gives them the all-zero fingerprint).
    */
  def simhashTable(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxTokensPerDoc: Long = Int.MaxValue): DataFrame =
    // One `SimHash64` eval per doc (per-token md5 + 64 int bit-vote
    // counters in a tight loop) — no row-per-token explode and no
    // wide vote aggregate; the token cap is enforced inside the eval.
    // Docs with zero tokens are dropped (null fingerprint), matching
    // the aggregate formulation where they are absent.
    Width.spread(df)
      .select(
        col(idCol).as("id"),
        graft.expressions.SimHash64
          .simhash(col(textCol), maxTokensPerDoc)
          .as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Hamming distance between two same-length hex fingerprints. */
  def hammingHex(a: Column, b: Column): Column = {
    val hexDigits = "0123456789abcdef"
    aggregate(
      sequence(lit(1), length(a)),
      lit(0),
      (acc: Column, i: Column) => {
        val da = (instr(lit(hexDigits), a.substr(i, lit(1))) - 1).cast("int")
        val db = (instr(lit(hexDigits), b.substr(i, lit(1))) - 1).cast("int")
        val x = da.bitwiseXOR(db)
        acc + (0 until 4)
          .map(bit => when((floor(x / (1 << bit)).cast("int") % 2) === 1, 1).otherwise(0))
          .reduce(_ + _)
      })
  }

  /** SimHash near-dup pairs: bucket on the fingerprint's leading
    * `prefixLen` hex chars, verify candidates with exact Hamming
    * distance ≤ `maxHamming`.
    *
    * Pair-scan engineering: the fingerprint is split into two 32-bit
    * halves BELOW the join (`conv` hex→long per row), so the per-pair
    * work is two codegen'd `bit_count(xor)` — not the interpreted
    * 16-digit fold `hammingHex` does. The sim table is persisted: both
    * join sides and the hex→long projection run once.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      prefixLen: Int,
      maxHamming: Int): DataFrame = {
    val sim = simhashTable(df, textCol, idCol)
      .withColumn("hi", conv(substring(col("simhash"), 1, 8), 16, 10).cast("long"))
      .withColumn("lo", conv(substring(col("simhash"), 9, 8), 16, 10).cast("long"))
      .withColumn("pfx", substring(col("simhash"), 1, prefixLen))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sim.select(
      col("id").as("id_a"), col("hi").as("hi_a"), col("lo").as("lo_a"), col("pfx"))
    val b = sim.select(
      col("id").as("id_b"), col("hi").as("hi_b"), col("lo").as("lo_b"), col("pfx"))
    a.join(b, Seq("pfx"))
      .filter(col("id_a") < col("id_b"))
      .withColumn(
        "hamming",
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Resolve near-dup pairs into clusters: iterative min-label
    * propagation with pointer jumping assigns every doc the smallest
    * id reachable through the pair graph — the standard "collapse dup
    * clusters, keep one canonical doc" step after MinHash/SimHash.
    * Each round runs one neighbor-min hop (labels flow one edge) plus
    * TWO pointer-jump shortcuts (label(x) ← label(label(x)), twice),
    * so the propagation distance contracts roughly 4× per round:
    * `maxIters` = 10 rounds covers chains ~4^10 long. If the cap is
    * hit before the
    * fixpoint, a warning is logged and the (partially propagated)
    * labels are returned. Returns (id, cluster_id).
    */
  def clusterPairs(
      pairs: DataFrame,
      maxIters: Int = 10,
      checkpointDir: Option[String] = None): DataFrame = {
    // materialize the edge list once — every round joins it twice, and
    // without this the whole upstream pair pipeline (shingle/LSH/
    // verify) re-runs per round. checkpointDir = Some(dir) makes every
    // truncation a RELIABLE checkpoint under dir (survives executor
    // loss — the mode for hours-long runs on big clusters) instead of
    // executor-local blocks; values are identical either way
    // (Checkpointing.scala for the full contract).
    val edges = Checkpointing.truncate(
      pairs
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))),
      checkpointDir,
      eager = true)
    // __changed doubles as the DELTA-ITERATION frontier: a round's
    // joins build only on rows whose label moved, so late rounds —
    // when the changed count has collapsed to a few deep chains —
    // cost O(frontier), not O(V). Correctness rests on the hop alone
    // (monotone min-propagation: a neighbor whose label did NOT
    // change since the last hop was already folded into my label, so
    // only frontier neighbors can lower it; at hop-fixpoint every
    // edge has equal labels on both ends, i.e. per-component
    // constant = the component min). The pointer jumps stay pure
    // acceleration: a jump through a stale parent is caught by later
    // hops, never by the final answer.
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("cluster_id"))
      .select(
        col("id"),
        least(col("id"), col("cluster_id")).as("cluster_id"),
        lit(true).as("__changed"))
    var iter = 0
    var converged = false
    // One propagation hop: my new label = min(my label, my FRONTIER
    // neighbors') — non-frontier neighbors contributed in an earlier
    // round.
    def hop(l: DataFrame): DataFrame = {
      val frontier = l
        .filter(col("__changed"))
        .select(col("id").as("dst"), col("cluster_id").as("__f_label"))
      val viaNeighbors = edges
        .join(frontier, "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("__f_label")).as("n_label"))
      val newLabel =
        least(col("cluster_id"), coalesce(col("n_label"), col("cluster_id")))
      l.drop("__changed")
        .join(viaNeighbors, Seq("id"), "left")
        .select(
          col("id"),
          newLabel.as("cluster_id"),
          (newLabel < col("cluster_id")).as("__changed"))
    }
    // Pointer-jump shortcut: my new label = my label's label, probing
    // only parents whose label changed THIS round (an unchanged
    // parent's label is what I already hold). Every label IS a node
    // id present in the label table (it's the min of a node and its
    // neighbors, all of which appear in the edge list), so the lookup
    // join always resolves. Combined with one hop per round this
    // gives the standard O(log n)-round connected-components
    // convergence instead of one edge per round.
    def shortcut(l: DataFrame): DataFrame = {
      val parents = l
        .filter(col("__changed"))
        .select(col("id").as("__pid"), col("cluster_id").as("__p_label"))
      val better = coalesce(col("__p_label"), col("cluster_id"))
      l.join(parents, col("cluster_id") === col("__pid"), "left")
        .select(
          col("id"),
          better.as("cluster_id"),
          (col("__changed") || better < col("cluster_id")).as("__changed"))
    }
    // Convergence witness: labels only ever DECREASE (least/min
    // propagation), so "no row's label got strictly smaller this
    // round" ⟺ fixpoint. The changed-flag rides the frame being
    // checkpointed anyway, so the witness is one scalar agg per round,
    // works for ANY id type (string, long, decimal — unlike a sum,
    // which nulls out on strings and can wrap on extreme longs), and
    // costs no extra join.
    while (iter < maxIters && !converged) {
      // two pointer-jumps per round: label depth contracts ~4× per
      // round instead of ~2×, halving the number of driver-
      // synchronized rounds on deep chains. Both jumps fuse into the
      // round's single job (the only action is the changed-count agg
      // below), so the extra jump costs one more join in the fused
      // plan, not another round trip.
      val next = shortcut(shortcut(hop(labels)))
      // truncate lineage each round — iterative joins otherwise
      // re-derive the whole history every action. Lazy: the
      // changed-count action below materializes the checkpoint, so
      // each round runs ONE job, not a checkpoint job plus an agg job.
      val materialized = Checkpointing.truncate(next, checkpointDir, eager = false)
      val changed = materialized
        .agg(coalesce(sum(when(col("__changed"), 1L).otherwise(0L)), lit(0L)))
        .head().getLong(0)
      converged = changed == 0L
      // __changed rides into the next round as its frontier
      labels = materialized
      iter += 1
      org.apache.log4j.Logger
        .getLogger(getClass)
        .info(s"clusterPairs: round $iter changed=$changed")
    }
    if (!converged)
      org.apache.log4j.Logger
        .getLogger(getClass)
        .warn(s"clusterPairs: iteration cap ($maxIters rounds) hit before convergence; " +
          "labels may be under-propagated — raise maxIters for extremely long dup chains")
    labels.drop("__changed")
  }

  /** Keep one canonical doc per dup cluster (smallest id); docs in no
    * pair keep themselves. Returns the deduplicated frame.
    */
  def resolveClusters(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    resolveClustersLabeled(df, idCol, clusterPairs(pairs))

  /** [[resolveClusters]] off PRECOMPUTED cluster labels
    * ((id, cluster_id) — e.g. a loaded
    * [[graft.sources.Io.readDupGraphLabels]] artifact): the canonical-
    * doc filter is a label join, with the pair pipeline and closure
    * amortized into the artifact build. Labels may cover paired docs
    * only; unlabeled docs are their own canonicals (singleton rule).
    */
  def resolveClustersLabeled(df: DataFrame, idCol: String, labels: DataFrame): DataFrame =
    df.join(
        labels.withColumnRenamed("id", idCol),
        Seq(idCol),
        "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col(idCol))
      .drop("cluster_id")

  /** [[resolveClusters]] with MEDOID canonical selection: instead of
    * the smallest id, each dup cluster keeps its best-connected
    * member — argmax over members of Σ cosine(member, other members)
    * in exact micro-units (round(cos·1e6) BIGINT sums, order-free;
    * ties to the smallest id) — so the survivor is the semantically
    * central representative, not whichever doc happened to get the
    * low id (SemDeDup keeps centroids' nearest for the same reason).
    * Docs in no pair keep themselves.
    *
    * Scale posture: the member×member score join is quadratic PER
    * CLUSTER, so cluster size is a fail-fast contract
    * (`maxClusterSize`, the mmrRerank bound discipline): near-dup
    * clusters are small by construction, and an oversized one is a
    * template blob to excise upstream, not medoid-rank quadratically.
    * The size check is one scalar action off the label table.
    */
  def medoidCanonicals(
      df: DataFrame,
      idCol: String,
      embCol: String,
      pairs: DataFrame,
      maxClusterSize: Long = 10000L): DataFrame = {
    import graft.functions.VectorFns
    require(maxClusterSize >= 2, "maxClusterSize must be >= 2")
    val labels = clusterPairs(pairs)
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
    val maxSz = sizes.agg(max(col("sz"))).head()
    if (!maxSz.isNullAt(0))
      require(
        maxSz.getLong(0) <= maxClusterSize,
        s"medoidCanonicals: cluster of ${maxSz.getLong(0)} exceeds maxClusterSize=" +
          s"$maxClusterSize — excise the template blob upstream")
    // members feeds both sides of the score join; totals feeds the
    // per-cluster max AND the argmax join back — materialize each
    // once, or the embedding join (and worse, the quadratic
    // member×member score join) re-runs per reference. members is
    // SPREAD (not plain truncate): the per-cluster QUADRATIC score
    // join multiplies every frozen row by its cluster size, so the
    // byte-coalesced ~1-partition layout would run the whole
    // member×member cosine pass on one core.
    val members = graft.operators.Checkpointing.truncateSpread(
      labels.join(
        df.select(col(idCol).as("id"), col(embCol).as("__emb")),
        Seq("id")),
      None, eager = true)
    val a = members.select(col("cluster_id"), col("id").as("ia"), col("__emb").as("ea"))
    val b = members.select(col("cluster_id"), col("id").as("ib"), col("__emb").as("eb"))
    val totals = graft.operators.Checkpointing.truncate(
      a
        .join(b, Seq("cluster_id"))
        .filter(col("ia") =!= col("ib"))
        .select(
          col("cluster_id"),
          col("ia").as("id"),
          round(VectorFns.cosine(col("ea"), col("eb")) * 1e6, 0).cast("long").as("s6"))
        .groupBy(col("cluster_id"), col("id"))
        .agg(sum(col("s6")).as("t6")),
      None, eager = true)
    // argmax via two primitive hash-aggs + an equi-join back (a
    // struct-valued min would plan as SortAggregate — the audit
    // trap): level 1 takes the max total per cluster, level 2 the
    // smallest id among members that hit it (the tie rule).
    // Null-embedding members produce null scores, which sum/max
    // ignore — they ride in the cluster but can never be the medoid;
    // a cluster with NO scoreable pair at all (every embedding null)
    // falls back to the min-id survivor instead of silently losing
    // every member (the anti-join below — a null mt would otherwise
    // fail the t6 = mt filter for the whole cluster).
    val best = totals
      .filter(col("t6").isNotNull)
      .groupBy(col("cluster_id"))
      .agg(max(col("t6")).as("mt"))
    val medoids = totals
      .join(best, Seq("cluster_id"))
      .filter(col("t6") === col("mt"))
      .groupBy(col("cluster_id"))
      .agg(min(col("id")).as("id"))
    val unscored = labels
      .select(col("cluster_id"), col("id"))
      .join(medoids.select(col("cluster_id")), Seq("cluster_id"), "left_anti")
      .groupBy(col("cluster_id"))
      .agg(min(col("id")).as("id"))
    val keepIds = df.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left_anti") // singletons
      .unionByName(medoids.select(col("id")))
      .unionByName(unscored.select(col("id")))
    df.join(keepIds.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
  }

  /** Benchmark decontamination (cross-corpus n-gram overlap): per
    * corpus doc, how many of its distinct word-n-gram shingles appear
    * anywhere in the `benchmark` corpus — the standard pretraining
    * hygiene step that drops training docs leaking eval data.
    *
    * Scale shape: the benchmark shingle-hash set is distinct'd and
    * broadcast (benchmark suites are MBs, corpora are TBs), so the
    * corpus side streams map-side with no shuffle of corpus shingles;
    * overlaps aggregate per doc id. Shingles compare as 64-bit hashes
    * (collision odds ~1e-9 corpus-wide — the production tradeoff).
    * Returns (id, n_overlap, contaminated) for every corpus doc, 0 for
    * docs with no shingles.
    */
  def crossCorpusOverlap(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): DataFrame = {
    import graft.expressions.SortedHashes64
    val c = shingleSets(corpus, textCol, idCol, n)
      .select(col("id"), explode(SortedHashes64.hashes(col("sh"))).as("h"))
    val b = shingleSets(benchmark, textCol, idCol, n)
      .select(explode(SortedHashes64.hashes(col("sh"))).as("h"))
      .distinct()
    val counts = c
      .join(broadcast(b), Seq("h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_overlap"))
    corpus
      .select(col(idCol).as("id"))
      .join(counts, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** Span-level decontamination: where `crossCorpusOverlap` + filter
    * DROPS a training doc for benchmark overlap, this EXCISES only the
    * contaminated tokens and reassembles the doc — the surgical form
    * (a news article quoting one eval question keeps its other 2 000
    * words). Every OVERLAPPING n-gram of the corpus doc is checked
    * against the benchmark's overlapping n-grams, so a leak is caught
    * at ANY token offset (a fixed-window segmentation would only
    * guarantee catching leaks of >= 2n-1 tokens); a match marks its n
    * token positions covered, covered tokens are removed, and the
    * survivors reassemble in original order. A fully-contaminated doc
    * (every token covered, or blank text) drops out entirely.
    *
    * Scale shape: the benchmark n-gram set is distinct'd and broadcast
    * (benchmark suites are MBs, corpora TBs) and corpus n-grams stream
    * map-side through the match join; matches collapse to ONE small
    * covered-position array per contaminated doc, which joins back to
    * the corpus row so the excision is a per-row array expression —
    * the corpus token stream is never shuffled, never reassembled by
    * aggregation, and only the gram pass explodes it. The join BACK of
    * the covered-position sets is deliberately UNHINTED: its size is
    * proportional to the number of contaminated docs — a data
    * property, not a construction bound (a corpus sharing boilerplate
    * with the benchmark can mark 1-10% of its rows, each carrying a
    * position array). Catalyst/AQE broadcasts it when it measures
    * small and falls back to a shuffled hash join when it doesn't;
    * a forced broadcast() here would OOM the driver exactly on the
    * heavily-contaminated corpora this operator exists for.
    * Returns (id, clean_text, n_kept, n_dropped).
    */
  def exciseContaminated(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      idCol: String,
      n: Int): DataFrame = {
    require(n > 0, "window size must be positive")
    val toks = TextFns.tokens(col(textCol))
    val base = corpus
      .select(col(idCol).as("id"), col(textCol).as("__text"), toks.as("tk"))
      .filter(size(col("tk")) > 0)
    // positional n-gram kernel: one tight pass per doc; posexplode's
    // index IS the 0-based token start offset
    val grams = base
      .select(
        col("id"),
        posexplode(graft.expressions.WordShinglesAll.shingles(col("__text"), n))
          .as(Seq("p", "gram")))
    val bench = shingleSets(benchmark, textCol, idCol, n)
      .select(explode(col("sh")).as("gram"))
      .distinct()
    val coveredSets = grams
      .join(broadcast(bench), Seq("gram"))
      .select(col("id"), explode(sequence(col("p"), col("p") + n - 1)).as("pos"))
      .groupBy(col("id"))
      .agg(collect_set(col("pos")).as("__cov"))
    val cov = coalesce(col("__cov"), array().cast("array<int>"))
    val keptArr = filter(
      transform(col("tk"), (t, i) => when(array_contains(cov, i), lit(null)).otherwise(t)),
      x => x.isNotNull)
    base
      .join(coveredSets, Seq("id"), "left")
      .select(
        col("id"),
        array_join(keptArr, " ").as("clean_text"),
        size(keptArr).cast("long").as("n_kept"),
        (size(col("tk")) - size(keptArr)).cast("long").as("n_dropped"))
      .filter(col("n_kept") > 0)
  }

  /** Embedding-cosine near-duplicate pairs over an embedding column —
    * see Similarity.knnJoin for the bucketed variant; this is the
    * exact quadratic baseline, use only on bounded partitions.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.VectorFns
    // norms below the join (per row), constant-key equi-join → codegen
    // BroadcastHashJoin, one dot fold per pair (see Similarity notes)
    // parallelize the quadratic scan when the input is narrow (see
    // nearestNeighborJoin)
    val base = Width
      .spreadBy(
        df.select(col(idCol).as("id"), col(embCol).cast("array<double>").as("emb")),
        col("id"))
      .withColumn("norm", VectorFns.norm2(col("emb")))
      .withColumn("__k", lit(0))
      // both sides of the self-join read one scan/norm pass (caching
      // contract: `persisted`)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = base.select(
      col("__k"), col("id").as("id_a"), col("emb").as("emb_a"), col("norm").as("norm_a"))
    val b = base.select(
      col("__k").as("__k2"), col("id").as("id_b"), col("emb").as("emb_b"), col("norm").as("norm_b"))
    a.join(b, col("__k") === col("__k2"))
      .filter(col("id_a") < col("id_b"))
      .filter(
        assert_true(
          size(col("emb_a")) === size(col("emb_b")),
          lit("embeddingNearDupPairs: embeddings must all have the same length")).isNull)
      .withColumn("denom", col("norm_a") * col("norm_b"))
      .withColumn(
        "score",
        when(col("denom") === 0.0, 0.0)
          .otherwise(VectorFns.dotc(col("emb_a"), col("emb_b")) / col("denom")))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** Shared-span pairs via winnowing fingerprints (Schleimer et al.
    * 2003 — the approximate, distributable form of exact-substring
    * dedup, Lee et al. 2021): two docs sharing ≥ `minShared` winnow
    * fingerprints almost surely share long verbatim character spans,
    * since each fingerprint witnesses a k-gram that survived the
    * w-window min — a shared span of length ≥ k+w-1 is GUARANTEED to
    * contribute at least one identical fingerprint. Fingerprint
    * granularity keeps this linear in corpus size where a true
    * suffix-array ExactSubstr build is monolithic.
    *
    * The fingerprint equi-join IS the blocking; the document-frequency
    * cap (`maxDf`) drops boilerplate fingerprints (site chrome,
    * licence blocks) whose buckets would otherwise pair quadratically.
    * The cap runs through `rareLineSurvivors`' two-phase count +
    * join-back — winnow fps are hot precisely where boilerplate
    * repeats, the case the window-cap shape funnels into one task
    * (ngramJaccardPairs' measured window argument holds for
    * mostly-unique shingles, not here). The fp table is persisted once
    * for both join sides (caching contract: `persisted`).
    * Returns (id_a, id_b, shared_fps).
    */
  def winnowSpanPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      w: Int,
      maxDf: Int,
      minShared: Int): DataFrame = {
    require(maxDf >= 2, "maxDf < 2 would drop every shareable fingerprint")
    require(minShared >= 1, "minShared must be positive")
    val filtered = rareLineSurvivors(
      TextAnalysis.winnowTable(df, textCol, idCol, k, w), "fp", maxDf + 1)
    val a = filtered.select(col("id").as("id_a"), col("fp"))
    val b = filtered.select(col("id").as("id_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= lit(minShared.toLong))
  }
}
