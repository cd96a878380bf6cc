package graft

import org.scalatest.funsuite.AnyFunSuite

/** The judge's manual plan-hygiene audits, promoted to CI invariants
  * (the BoundsCalibrationSpec reverse-whitelist discipline applied to
  * the DRIVER-BOUNDARY claims): the engine's standing claims are
  *
  *   1. no `.collect()` outside bounded-constant bootstraps
  *      (centroid/worklist/split frames, ≤k-row grade tables, oracle
  *      fixture setup — never a data-proportional driver loop),
  *   2. no `mapPartitions` where an Expression or relational form
  *      fits (the allowed classes: the two-pass globalRank/globalCumSum
  *      partition-boundary pattern, the documented O(1)-state ordered
  *      folds, the black-box media decode),
  *   3. UDFs only where §2.10 itself assigns them (HTML facet parse,
  *      recursive JSON mining).
  *
  * This spec machine-enumerates every occurrence in `src/main` and
  * compares per-file counts against the checked-in inventory — a new
  * `.collect()`/`mapPartitions`/`udf(` cannot ship unclassified: the
  * count mismatch forces the author to either justify it under an
  * allowed class (bump the count here, with the justification in the
  * code) or restructure plan-side. No static scan can prove
  * BOUNDEDNESS, but it guarantees every site gets a human decision —
  * the pre-WindowSweepSpec failure mode (an unclassified site
  * slipping in silently) is what this closes.
  */
class PlanHygieneSpec extends AnyFunSuite {

  private val root = "src/main/scala/graft"

  /** collect() sites per file. Harness mains (Profile, ScaleBench)
    * are measurement tooling; SparkEntry* registries hold the
    * documented bounded-constant bootstraps (ivfAssign centroids,
    * PQ codebooks, refit worklists, ER frames, oracle fixtures);
    * operator/source sites are the ≤k-row grade/centroid/boundary
    * bootstraps the scaladocs at each site name.
    */
  private val expectedCollect: Map[String, Int] = Map(
    "Profile.scala" -> 3,
    "ScaleBench.scala" -> 2,
    // round-12 +3: v_ivfpq_batch_persisted's bounded index-BUILD
    // bootstrap (4 centroid donors — the SERVE path reads artifact
    // frames and collects nothing, which is the row's point) and
    // v_pq_quality_residual's standard 2-collect residual bootstrap
    // (4 centroid + 4 codebook donors, the v_ivfpq_residual class).
    // round-13 -27: the shared ivfFixture/pqFixture prologues replaced
    // the per-query centroid/codebook/query collects of the vector
    // lifecycle family (the donors are collected once per run now,
    // still the same bounded ≤k-row constant bootstraps).
    "SparkEntryCoverage.scala" -> 34,
    "SparkEntryStreaming.scala" -> 8,
    "pipelines/Corpus.scala" -> 1,
    // the company-filtered RAG top-k (≤k rows), collected once so a
    // search runs one execution instead of isEmpty + collect
    "pipelines/Orbit.scala" -> 1,
    "operators/Checks.scala" -> 3,
    "operators/Experiments.scala" -> 3,
    "operators/Relational.scala" -> 2,
    "operators/Sampling.scala" -> 3,
    "operators/Similarity.scala" -> 8,
    "operators/TextAnalysis.scala" -> 1,
    // the centroid and codebook reads, the postings bucket probe, and
    // the row-versioned latest read's open-time (id, stamp) marks —
    // bounded by the upserts and tombstones since the last compaction
    "sources/Io.scala" -> 4)

  /** mapPartitions sites: Relational's two-pass globalRank/globalCumSum
    * partition-boundary collects (4), Series' documented O(1)-state
    * ordered folds (2), Multimodal's black-box media decode (1).
    */
  private val expectedMapPartitions: Map[String, Int] = Map(
    "operators/Multimodal.scala" -> 1,
    "operators/Relational.scala" -> 4,
    "operators/Series.scala" -> 2)

  /** udf( sites: exactly the ones §2.10 assigns to UDFs — the HTML
    * facet parse and recursive JSON mining in HtmlFns.
    */
  private val expectedUdf: Map[String, Int] = Map(
    "functions/HtmlFns.scala" -> 3)

  private def scan(needle: String): Map[String, Int] = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Seq.empty
      }
    files(new java.io.File(root))
      .map { f =>
        val rel = f.getPath.stripPrefix(root + "/").stripPrefix(root + java.io.File.separator)
        val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
        val n =
          try src.getLines().count { l =>
            val t = l.trim
            !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/*") &&
              t.contains(needle)
          } finally src.close()
        rel -> n
      }
      .filter(_._2 > 0)
      .toMap
  }

  private def check(name: String, needle: String, expected: Map[String, Int]): Unit = {
    val actual = scan(needle)
    val drift = (actual.keySet ++ expected.keySet).toSeq.sorted.flatMap { f =>
      (actual.getOrElse(f, 0), expected.getOrElse(f, 0)) match {
        case (a, e) if a != e => Some(s"$f: $a found, inventory says $e")
        case _ => None
      }
    }
    assert(
      drift.isEmpty,
      s"$name inventory drift — a new site must be CLASSIFIED under an allowed " +
        "class (justify at the site, bump the count here) or restructured " +
        "plan-side:\n" + drift.mkString("\n"))
  }

  test("every .collect() site in src/main is inventoried") {
    check("collect", ".collect()", expectedCollect)
  }

  test("every mapPartitions site in src/main is inventoried") {
    check("mapPartitions", ".mapPartitions", expectedMapPartitions)
  }

  test("every udf( site in src/main is inventoried") {
    check("udf", "udf(", expectedUdf)
  }
}
