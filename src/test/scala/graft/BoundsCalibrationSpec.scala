package graft

import org.apache.spark.sql.functions._

/** The round-10 declared-bound incident (an in-plan fail-fast bound
  * calibrated on sf0.01's max value would have errored the driver's
  * sf0.1 bench run) promoted to a checked rule: every DATA-MAGNITUDE
  * fail-fast bound in the engine is re-exercised here against the
  * LARGEST scale factor the harness runs (sf0.1), with headroom
  * asserted — a bound that barely clears today's data is a bench
  * failure waiting for the next data refresh.
  *
  * Round 12 makes the inventory SELF-CHECKING (the WindowSweepSpec
  * reverse-whitelist discipline, applied after round 11's
  * hand-maintained list): the spec machine-enumerates every
  * `assert_true(`/`require(` site in `operators/` and `sources/` and
  * compares per-file counts against the checked-in inventory below —
  * a NEW guard cannot ship unclassified (the count mismatch forces
  * the author to either bump the structural count or register a
  * data-magnitude marker WITH a calibration basis).
  *
  * Data-magnitude bounds (each with its calibration basis):
  *   1. the e-process family's declared $1000 value cap
  *      (Experiments eProcessMean/Variance/MeanCs in-plan guards and
  *      the Io.writeValueGrid/upsertValueGrid artifact guard) —
  *      basis: the sf0.1 max-value headroom test below + the
  *      ArtifactContractSpec bound-guard clause;
  *   2. Graph.hits' nodes < unit normalizer rule — basis: the sf0.1
  *      node-count headroom test below;
  *   3. the four DIVSWEEP Class C validity bounds pushed in-plan in
  *      round 12 (jonckheereTerpstra N ≤ 1e6, kruskalWallis N ≤ 5e7,
  *      chiSquareIndependence N ≤ 3e6, cvmFromCounts mass ≤ 2e8) —
  *      basis: DivQuotientSpec's at-the-boundary fixtures (each runs
  *      AT the bound and fails one past it) + the sf0.1 headroom
  *      test below for the tightest consumer (a_jonckheere on
  *      events).
  * Every other site is a STRUCTURAL invariant (exactly-2-sides,
  * ragged arrays, grid caps like k ≤ 11 arms or bins ≤ 1000,
  * positive-parameter contracts) — scale-factor-independent by
  * construction.
  */
class BoundsCalibrationSpec extends SparkSpec {

  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private def available: Boolean = new java.io.File(s"$sfDir/events.parquet").exists()

  // ------------------------------------------------------------------
  // The self-checking inventory.
  // ------------------------------------------------------------------

  /** Per-file guard-site counts (assert_true + require, non-comment
    * lines). A mismatch means a guard was added or removed: classify
    * it — if it bounds DATA MAGNITUDE, add a marker to
    * [[dataMagnitudeMarkers]] AND a calibration basis; then update
    * the count either way.
    */
  private val expectedSiteCounts: Map[String, Int] = Map(
    "Checks.scala" -> 21,
    // −3, no check dropped: the MinHash numHashes/bandSize require
    // (three entry points) and the canary twinOffset require (two)
    // each moved into the one shared helper every caller runs
    "Dedup.scala" -> 13,
    "Evaluation.scala" -> 9,
    // round-12 +5 over the post-Class-C baseline: one data-magnitude
    // valuePpm guard (the median CS — marker below) + four structural
    // parameter requires (the mean-CS stepPct range and the quantile
    // CS qPpm/alphaPpm/lambdaPpm ranges); +1 e-BH: the structural
    // alphaPpm range require (no data magnitude — the hypothesis
    // universe is monitor-bounded by construction); +1 round-13: the
    // mean-CS long-staging N ≤ 1.3e13 Class C guard (data magnitude —
    // marker below, DivQuotientSpec boundary fixture)
    "Experiments.scala" -> 62,
    // +2 round-12: louvainMoves' and louvainMovesWeighted's
    // structural moves-in-[1,8] unroll bounds (plan-size parameters,
    // not data magnitudes — larger budgets are caller loops per the
    // scaladoc)
    "Graph.scala" -> 15,
    "Layout.scala" -> 1,
    "Multimodal.scala" -> 5,
    "Relational.scala" -> 11,
    "Sampling.scala" -> 19,
    "Series.scala" -> 24,
    // +2 round-12: pqEncodeResidual's structural non-empty-centroids
    // require and ivfPqTopKBatch's structural dims/probe/shortlist
    // parameter require (shapes, not data magnitudes); +1:
    // pqSubspaceGradesResidual's same structural non-empty-centroids
    // shape require
    "Similarity.scala" -> 31,
    "Sketches.scala" -> 6,
    "TextAnalysis.scala" -> 21,
    "Io.scala" -> 11)

  /** Every data-magnitude guard's message carries a distinctive
    * marker; each (file, marker) must appear exactly the expected
    * number of times, so a data-magnitude site can't silently vanish
    * or be reworded out of the inventory.
    */
  private val dataMagnitudeMarkers: Seq[(String, String, Int)] = Seq(
    // mean, variance, mean-CS, median-CS — all four share the $1000
    // declared-cap calibration basis below
    ("Experiments.scala", "valuePpm outside [0, 1e6]", 4),
    ("Experiments.scala", "exceeds the documented", 2),
    // round-13: the mean-CS long-staged fold's N ≤ 1.3e13 validity
    // bound — basis: DivQuotientSpec's at-the-boundary fixture (runs
    // AT 1.3e13 total events, fails one past it with the remedy) +
    // the sf0.1 events row count (≤ 5e5 per the Class C headroom test
    // below), 7 orders of magnitude under the bound
    ("Experiments.scala", "exceeds the long-staging", 1),
    ("Checks.scala", "exceeds the documented", 2),
    ("Graph.scala", "nodes must number < unit", 2),
    ("Io.scala", "the declared value bound", 1))

  private val scannedDirs =
    Seq("src/main/scala/graft/operators", "src/main/scala/graft/sources")

  private def sourceFiles: Seq[java.io.File] = scannedDirs.flatMap { d =>
    Option(new java.io.File(d).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala"))
  }.sortBy(_.getName)

  private def fileLines(f: java.io.File): Seq[String] = {
    val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
    try src.getLines().toList
    finally src.close()
  }

  private def guardSiteCount(lines: Seq[String]): Int =
    lines.count { l =>
      val t = l.trim
      !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/*") &&
        (t.contains("assert_true(") || t.contains("require("))
    }

  test("every assert_true/require site in operators/ and sources/ is inventoried") {
    val actual = sourceFiles
      .map(f => f.getName -> guardSiteCount(fileLines(f)))
      .filter(_._2 > 0)
      .toMap
    val drift = (actual.keySet ++ expectedSiteCounts.keySet).toSeq.sorted.flatMap { f =>
      (actual.getOrElse(f, 0), expectedSiteCounts.getOrElse(f, 0)) match {
        case (a, e) if a != e => Some(s"$f: $a sites found, inventory says $e")
        case _ => None
      }
    }
    assert(
      drift.isEmpty,
      "guard inventory drift — a new assert_true/require must be CLASSIFIED " +
        "(data-magnitude marker + calibration basis, or structural count bump) " +
        "before it ships:\n" + drift.mkString("\n"))
  }

  test("every data-magnitude marker is present exactly as inventoried") {
    val byName = sourceFiles.map(f => f.getName -> fileLines(f).mkString("\n")).toMap
    dataMagnitudeMarkers.foreach { case (file, marker, n) =>
      val text = byName.getOrElse(file, fail(s"$file not found in scanned dirs"))
      val found = text.sliding(marker.length).count(_ == marker)
      assert(
        found == n,
        s"$file: data-magnitude marker '$marker' found $found times, " +
          s"inventory says $n — a bound moved or was reworded; re-classify it")
    }
  }

  // ------------------------------------------------------------------
  // Calibration bases at the largest harness scale factor.
  // ------------------------------------------------------------------

  test("a_eprocess_mean's declared $1000 bound clears sf0.1 with headroom") {
    assume(available, s"$sfDir not present")
    // the query maps round(value·100)·10 into ppm of the $1000 cap;
    // the guard fires at value > $1000 — require ≥ 25% headroom over
    // the observed max so a data refresh can't silently cross it
    val maxValue = spark.read.parquet(s"$sfDir/events.parquet")
      .agg(max(col("value"))).head().getDouble(0)
    val cap = 1000.0
    assert(maxValue <= cap * 0.80,
      s"observed max value $maxValue is within 25% of the declared $$1000 " +
        "e-process bound — recalibrate the bound (and m0/lambda rescale) " +
        "BEFORE the bench trips the in-plan guard")
  }

  test("g_hits' node count stays under the default hits unit at sf0.1") {
    assume(available, s"$sfDir not present")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
    val edges = li
      .join(ord.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"), (-col("l_suppkey") - 1).as("dst"))
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct().count()
    // Graph.hits normalizer requires nodes < unit (default 1e6);
    // assert 2x headroom and point at the documented unit-∝-nodes rule
    assert(nodes < 500000L,
      s"g_hits graph has $nodes nodes — within 2x of the default " +
        "unit = 1e6 normalizer bound; raise unit in the query " +
        "(Graph.hits scaladoc: unit must exceed the node count)")
  }

  test("the tightest Class C bound (jonckheere N <= 1e6) clears sf0.1 with headroom") {
    assume(available, s"$sfDir not present")
    // a_jonckheere feeds ALL events rows into the bounded operator —
    // the smallest of the four Class C validity bounds; require 2x
    // headroom so a data refresh flags here before the bench aborts
    val n = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(n <= 500000L,
      s"events has $n rows — within 2x of jonckheereTerpstra's documented " +
        "1e6 validity bound; collapse a_jonckheere to the count grid or " +
        "subsample before the next scale-up")
  }
}
