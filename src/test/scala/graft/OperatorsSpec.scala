package graft

import graft.operators.{Dedup, Relational, Similarity, Sketches, TextAnalysis}
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  // D — first-wins dedup ----------------------------------------------------
  test("dedupeFirstWins keeps encounter-order first (D1/D6 semantics)") {
    val df = Seq((1, "a", 10), (2, "a", 20), (3, "b", 30)).toDF("pos", "k", "v")
    val got = Relational
      .dedupeFirstWins(df, Seq($"k"), Seq($"pos"))
      .orderBy($"k").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a"), (3, "b")))
  }

  test("globalCumSum: exclusive prefix sums match the single-task window, any partitioning") {
    // weights chosen so partial sums are distinct and order-sensitive;
    // repartition(7) forces uneven multi-partition layout — prefix
    // sums must be independent of where partition boundaries fall
    val rows = (1 to 100).map(i => (i.toLong, (i % 13 + 1).toLong))
    val df = rows.toDF("v", "t").repartition(7)
    val got = Relational
      .globalCumSum(df, Seq($"v"), "t", "below")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expect = rows
      .sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (v, t)) => (v, acc + t) }
      .sliding(2).map { case Seq((_, prev), (v, _)) => v -> prev }.toMap
    assert(got == expect)
    // null weights count as 0, not NPE
    val withNull = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("v", "t").repartition(3)
    val gotN = Relational.globalCumSum(withNull, Seq($"v"), "t", "below")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(gotN == Map(1L -> 0L, 2L -> 5L, 3L -> 5L))
  }

  test("globalRunningMax: exclusive prefix max matches driver fold; first row null") {
    val rows = Seq(5L -> 10L, 1L -> 40L, 3L -> 5L, 7L -> 2L, 6L -> 50L, 9L -> 50L)
    val df = rows.toDF("k", "m").repartition(4)
    val got = Relational
      .globalRunningMax(df, Seq($"k"), "m", "best")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    val expect = rows
      .sortBy(_._1)
      .scanLeft((0L, Option.empty[Long])) { case ((_, acc), (k, m)) =>
        (k, Some(acc.fold(m)(math.max(_, m))))
      }
      .sliding(2).map { case Seq((_, prev), (k, _)) => k -> prev }.toMap
    assert(got == expect)
    assert(got(1L).isEmpty) // smallest key has no prior best
  }

  test("equiDepthBoundaries: exact rank boundaries on 1..100") {
    val df = (1 to 100).map(i => (i.toLong, i.toLong)).toDF("v", "id")
    val got = Relational.equiDepthBoundaries(df, $"v", $"id", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 25L, 2L -> 50L, 3L -> 75L, 4L -> 100L))
  }

  test("topK: filter then order then limit") {
    val df = (1 to 100).map(i => (i, i % 7)).toDF("id", "grp")
    val got = Relational.topK(df, $"grp" === 3, Seq($"id".desc), 2)
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(94, 87))
  }

  test("runningCap: cumulative weight cutoff (W5)") {
    val df = Seq(("s", 1, 100L), ("s", 2, 100L), ("s", 3, 100L)).toDF("g", "pos", "w")
    val got = Relational.runningCap(df, Seq($"g"), Seq($"pos"), $"w", 250L)
      .collect().map(_.getInt(1)).toSeq.sorted
    assert(got == Seq(1, 2))
  }

  test("asofJoin: a latest right row with a NULL value wins (no stale carry)") {
    val left = Seq(("k", 3L)).toDF("key", "ts")
    val right = Seq(("k", 1L, Some(5L)), ("k", 2L, None))
      .toDF("key", "ts", "v")
    val got = Relational
      .asofJoin(left, right, "key", "ts", Seq("v"), col("ts"))
      .select("asof_v").head()
    assert(got.isNullAt(0)) // latest right row (ts=2) has v = null
  }

  test("nearestJoin: tie goes backward, same-ts matches at dt 0, keys without rights null") {
    val left = Seq(("a", 10L, 1L), ("a", 8L, 2L), ("b", 5L, 3L), ("c", 1L, 4L))
      .toDF("k", "us", "id")
    val right = Seq(("a", 7L, 70L), ("a", 13L, 71L), ("b", 5L, 72L))
      .toDF("k", "us", "rid")
    val got = Relational.nearestJoin(left, right, "k", "us", Seq("rid"), col("rid"))
      .collect()
      .map(r => r.getLong(2) -> ((r.get(3), r.get(4))))
      .toMap
    assert(got(1L) == ((70L, -3L)), "equidistant 7/13: tie to the backward match")
    assert(got(2L) == ((70L, -1L)))
    assert(got(3L) == ((72L, 0L)), "same-ts right row matches at distance 0")
    assert(got(4L) == ((null, null)), "no right rows for the key -> nulls")
  }

  test("changeDetection: null hashes classify by presence, not hash nullness") {
    val old = Seq(("a", Some("h1")), ("b", None), ("c", None)).toDF("k", "h")
    val fresh = Seq(("a", None), ("b", Some("h2")), ("c", None), ("d", None)).toDF("k", "h")
    val got = Relational.changeDetection(old, fresh, Seq("k"), "h")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // a: value->null = changed; b: null->value = changed;
    // c: null->null = same (dropped); d: new key with null hash = added
    assert(got == Map("a" -> "changed", "b" -> "changed", "d" -> "added"))
  }

  test("clusterPairs: a 40-node chain converges within the default rounds") {
    val chain = (1L until 40L).map(i => (i, i + 1))
    val clusters = Dedup.clusterPairs(chain.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == 40 && clusters.values.forall(_ == 1L))
  }

  test("clusterPairs reliable-checkpoint mode is value-identical to executor-local mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_cc").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L))
    val local = Dedup.clusterPairs(pairs.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reliable = Dedup
      .clusterPairs(pairs.toDF("id_a", "id_b"), checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local)
  }

  test("ngramJaccardAgainst: restriction parity with the single-table pairs; batch wins id collisions") {
    val base = (1 to 8).map { i =>
      (i.toLong, (1 to 40).map(j => s"w${i}_$j").mkString(" "))
    }
    // docs 9, 10 are near-dups of 1 and 2 (same text + 3 extra tokens)
    val dups = Seq(
      (9L, base(0)._2 + " x y z"),
      (10L, base(1)._2 + " x y z"))
    val docs = (base ++ dups).toDF("doc_id", "text")
    val full = graft.operators.Dedup
      .ngramJaccardPairs(docs, "text", "doc_id", 3, 0.2)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = docs.filter($"doc_id" >= 9)
    val against = graft.operators.Dedup
      .ngramJaccardAgainst(batch, docs, "text", "doc_id", 3, 0.2)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(against == full.filter { case (a, b) => a >= 9 || b >= 9 },
      s"against=$against full=$full")
    // id collision: the batch's REVISED text replaces the corpus copy —
    // doc 9 revised to plain unique text no longer pairs with 1
    val revised = Seq((9L, (1 to 40).map(j => s"r$j").mkString(" "))).toDF("doc_id", "text")
    val afterRevise = graft.operators.Dedup
      .ngramJaccardAgainst(revised, docs, "text", "doc_id", 3, 0.2)
      .collect()
    assert(afterRevise.isEmpty, afterRevise.mkString(","))
  }

  test("containmentPairs: embedded doc scores 1.0 where Jaccard is tiny") {
    val big = (1 to 60).map(i => s"w$i").mkString(" ")      // 58 3-shingles
    val quote = (1 to 10).map(i => s"w$i").mkString(" ")    // 8 shingles, all in big
    val other = (100 to 140).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, big), (2L, quote), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "text", "doc_id", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)), cont.mkString(","))
    // the same pair fails a 0.2 Jaccard gate — containment is the
    // axis that sees it
    val jac = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.2).collect()
    assert(jac.isEmpty, "jaccard should miss the embedded doc at 0.2")
    spark.catalog.clearCache()
  }

  test("leakageSafeSplit: near-dup cluster members always share a split") {
    val docs = (1L to 300L).map { i =>
      // pairs (2k, 2k+1) are near-dups: same text + one marker token
      val base = (1 to 12).map(j => s"t${i / 2}_$j").mkString(" ")
      (i, if (i % 2 == 0) base else s"$base extra")
    }.toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.3)
      .select(col("id_a"), col("id_b"))
    val split = graft.operators.Sampling
      .leakageSafeSplit(docs, "doc_id", pairs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every doc assigned, and each near-dup pair co-located
    assert(split.size == 300)
    (1L to 149L).foreach { k =>
      assert(split(2 * k) == split(2 * k + 1), s"pair ${2 * k}/${2 * k + 1} straddles splits")
    }
    // sanity: the split is a real split, not one bucket
    assert(split.values.toSet.size >= 2)
    spark.catalog.clearCache()
  }

  test("clusterPairs delta iteration: stale pointer jumps never survive to the fixpoint") {
    // Adversarial for the frontier optimization: a star whose center
    // label keeps dropping AFTER leaves jumped through it (leaves
    // pick up a stale parent label mid-round and must be re-fixed by
    // later hops), plus a deep chain attached to one leaf, plus an
    // isolated pair — three components, minima 1, 50, 500.
    val star = (61L to 75L).map(l => (60L, l))            // center 60, leaves 61-75
    val chainIn = (1L until 60L).map(i => (i, i + 1))     // chain 1..60 reaches the center
    val tail = (75L until 90L).map(i => (i, i + 1))       // chain off leaf 75
    val comp2 = Seq((50L + 200L, 51L + 200L), (51L + 200L, 52L + 200L)).map {
      case (a, b) => (b, a) // reversed edge order: min arrives via dst
    }
    val comp3 = Seq((501L, 500L))
    val pairs = (star ++ chainIn ++ tail ++ comp2 ++ comp3).toDF("id_a", "id_b")
    val got = Dedup.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 89L).foreach(i => assert(got(i) == 1L, s"node $i -> ${got(i)}"))
    (250L to 252L).foreach(i => assert(got(i) == 250L, s"node $i -> ${got(i)}"))
    assert(got(500L) == 500L && got(501L) == 500L)
  }

  test("changeDetection: added/removed/changed, same dropped (I1)") {
    val old = Seq(("a", "h1"), ("b", "h2"), ("c", "h3")).toDF("k", "h")
    val fresh = Seq(("b", "h2x"), ("c", "h3"), ("d", "h4")).toDF("k", "h")
    val got = Relational.changeDetection(old, fresh, Seq("k"), "h")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "removed", "b" -> "changed", "d" -> "added"))
  }

  // Dedup family ------------------------------------------------------------
  private val nearDupDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely unrelated text here"),
    (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps first of identical docs") {
    val kept = Dedup.exact(nearDupDocs, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("ngramJaccardPairs finds exact and near dups, not unrelated") {
    val pairs = Dedup.ngramJaccardPairs(nearDupDocs, "text", "doc_id", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("prefixJaccardPairs == ngramJaccardPairs on a real corpus (lossless prefix filter)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    val full = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.2)
      .collect().map(key).toSet
    val pref = Dedup.prefixJaccardPairs(docs, "text", "doc_id", 3, 0.2)
      .collect().map(key).toSet
    assert(full.nonEmpty, "fixture must produce pairs or the equality is vacuous")
    assert(pref == full)
  }

  test("prefixJaccardPairs: high threshold still catches the exact dup, drops unrelated") {
    val pairs = Dedup.prefixJaccardPairs(nearDupDocs, "text", "doc_id", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullPairs = Dedup.ngramJaccardPairs(nearDupDocs, "text", "doc_id", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == fullPairs)
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("marginAlignPairs: bit-identical to a driver-side integer reference") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 0.0 else dot / d
    }
    val lefts = emb.filter(_._1 % 2 == 0)
    val rights = emb.filter(_._1 % 2 == 1)
    val k = 4
    val q = (for ((ia, va) <- lefts; (ib, vb) <- rights)
      yield (ia, ib) -> math.round(cos(va, vb) * 1e6)).toMap
    def topSum(ids: Seq[(Long, Long)]) = { // (otherId, q) ranked (q desc, id)
      val top = ids.sortBy { case (id, s) => (-s, id) }.take(k)
      (top.map(_._2).sum, top.size.toLong)
    }
    val sumA = lefts.map { case (ia, _) =>
      ia -> topSum(rights.map(r => r._1 -> q((ia, r._1))).toSeq) }.toMap
    val sumB = rights.map { case (ib, _) =>
      ib -> topSum(lefts.map(l => l._1 -> q((l._1, ib))).toSeq) }.toMap
    val want = lefts.flatMap { case (ia, _) =>
      val best = rights.map(r => r._1 -> q((ia, r._1)))
        .minBy { case (id, s) => (-s, id) }
      val (sa, ka) = sumA(ia); val (sb, kb) = sumB(best._1)
      val den = sa * kb + sb * ka
      val num = 2L * best._2 * ka * kb
      if (den > 0 && num * 20 >= 21 * den)
        Some((ia, best._1, best._2, num.toDouble / den.toDouble))
      else None
    }.toSet
    val got = graft.operators.Similarity
      .marginAlignPairs(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
          .filter($"vec_id" % 2 === 0),
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
          .filter($"vec_id" % 2 === 1),
        "vec_id", "embedding", 4, 21L, 20L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(want.nonEmpty, "fixture must produce aligned pairs or the equality is vacuous")
    assert(got == want)
  }

  test("kmv sketch merge == one global sketch (lossless merge property)") {
    val df = (1 to 500).map(i => (s"g${i % 7}", s"v${i % 231}")).toDF("g", "v")
    val global = Sketches.kmvDistinct(df, Seq(lit(1).as("one")), $"v", 32)
      .select($"n_seen", $"kmv_est").head()
    val merged = Sketches.kmvMergeEstimate(
      Sketches.kmvSketches(df, Seq($"g"), $"v", 32), $"mins", 32).head()
    assert(merged.getLong(0) == global.getLong(0))
    assert(merged.getDouble(1) == global.getDouble(1))
  }

  test("kmv sketch merge under k distinct values degrades to exact, even split across groups") {
    val df = (1 to 40).map(i => (s"g${i % 5}", s"v${i % 10}")).toDF("g", "v")
    val merged = Sketches.kmvMergeEstimate(
      Sketches.kmvSketches(df, Seq($"g"), $"v", 64), $"mins", 64).head()
    assert(merged.getLong(0) == 10L && merged.getDouble(1) == 10.0)
  }

  test("bpeTopMerges: merge-count ceiling fails fast (k jobs = k merges regime)") {
    val df = Seq("a b").toDF("text")
    val e = intercept[IllegalArgumentException](
      TextAnalysis.bpeTopMerges(df, "text", 513))
    assert(e.getMessage.contains("sampled word table"), e.getMessage)
  }

  test("bpeTopMerges: hand-computed merges incl. the overlapping-pair rewrite") {
    // vocab: aaab x2, ab x1. step1: (a,a) count 4 wins; the rewrite of
    // ' a a a b ' consumes the FIRST ' a a ' only (left-to-right
    // non-overlap) -> ' aa a b '. step2: (a,b) 3. step3: (aa,ab) 2.
    val df = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTopMerges(df, "text", 3)
      .orderBy($"step")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, "a", "a", 4L), (2L, "a", "b", 3L), (3L, "aa", "ab", 2L)))
  }

  test("mixedLanguage: halves classified independently; short docs excluded") {
    val df = Seq(
      (1L, "data data table table"), // head dataish, tail sqlish -> mixed
      (2L, "data stream"),           // both halves dataish
      (3L, "table")                  // 1 token: excluded
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .mixedLanguage(df, "text", "doc_id", Seq(
        "dataish" -> Seq("data", "stream", "batch"),
        "sqlish" -> Seq("table", "query", "join"),
        "vecish" -> Seq("vector", "hash", "key")))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getBoolean(3))))
      .toMap
    assert(got == Map(
      1L -> (("dataish", "sqlish", true)),
      2L -> (("dataish", "dataish", false))))
  }

  test("cusum: sustained level shift ramps and alarms; flat series stays at zero") {
    import graft.operators.Checks
    val rows =
      (1 to 10).map(d => ("s", f"2024-01-$d%02d", 10L)) ++
        (11 to 20).map(d => ("s", f"2024-01-$d%02d", 100L)) ++
        (1 to 20).map(d => ("f", f"2024-01-$d%02d", 10L))
    val got = Checks.cusum(rows.toDF("grp", "bucket", "n"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    // s: mu6 = 55e6, slack 5.5e6; phase-1 deltas negative (S pinned
    // 0), phase-2 delta +39.5e6/day -> final = max = 395e6 > 5*mu6
    assert(got("s") == ((55000000L, 395000000L, 395000000L, true)))
    // f: mu6 = 10e6, every delta = -1e6 -> flat zero, no alarm
    assert(got("f") == ((10000000L, 0L, 0L, false)))
  }

  test("pageHinkley: running-mean drift ramps and alarms; flat and falling series stay 0") {
    import graft.operators.Checks
    // s: [10,10,10,10,20,20] -> m stays 0 through day 4;
    // day5 mean6=12e6, term 8e6; day6 mean6=80e6 div 6, term 6666667
    // -> m_final = ph_max = 14666667
    val rows =
      (1 to 4).map(d => ("s", f"2024-01-$d%02d", 10L)) ++
        (5 to 6).map(d => ("s", f"2024-01-$d%02d", 20L)) ++
        (1 to 4).map(d => ("f", f"2024-01-$d%02d", 10L)) ++
        Seq(("d", "2024-01-01", 20L), ("d", "2024-01-02", 10L))
    val got = Checks.pageHinkley(rows.toDF("grp", "bucket", "n"), 0L, 10000000L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got("s") == ((14666667L, 14666667L, true)))
    assert(got("f") == ((0L, 0L, false)))
    // falling series: m goes negative, running min tracks it -> ph 0
    assert(got("d") == ((-5000000L, 0L, false)))
    intercept[IllegalArgumentException](
      Checks.pageHinkley(rows.toDF("grp", "bucket", "n"), 0L, 0L))
  }

  test("rakeKeywords: hand-computed phrase scores, longer collocation outranks its prefix") {
    val df = Seq((1L, "machine learning of machine learning models the big data"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.rakeKeywords(df, "text", "doc_id", Seq("the", "a", "of"), 3)
      .orderBy($"rank")
      .collect()
      .map(r => (r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSeq
    // freq: machine 2, learning 2, models 1, big 1, data 1
    // deg:  machine 5, learning 5, models 3, big 2, data 2
    assert(got == Seq(
      (1L, "machine learning models", 13.0 / 5.0),
      (2L, "machine learning", 10.0 / 4.0),
      (3L, "big data", 4.0 / 2.0)))
  }

  test("bpeEncodeUnits: one learned merge, hand-counted units, empty doc absent") {
    // word counts: aa:3, ab:1, b:1 -> merge 1 = (a,a); vocab after:
    // ' aa '(1 unit), ' a b '(2 units), ' b '(1 unit)
    val df = Seq((1L, "aa ab aa"), (2L, "b aa"), (3L, "   "))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncodeUnits(df, "text", "doc_id", 1)
      .orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 3L, 4L), (2L, 2L, 2L)))
  }

  test("ndcgAtK: hand-computed DCG/IDCG, unjudged query drops") {
    // weights w(r) = round(1e6/log2(r+1)): 1.0, 630930, 500000 for k=3
    assert(TextAnalysis.ndcgWeights(3) == Seq(1000000L, 630930L, 500000L))
    val scored = Seq(
      (1L, 20L, 9.0), (1L, 99L, 8.0), (1L, 10L, 7.0), (1L, 30L, 1.0),
      (2L, 50L, 5.0) // qid 2 has no judgments -> drops
    ).toDF("qid", "doc_id", "score")
    val judged = Seq(
      (1L, 10L, 2L), (1L, 20L, 1L), (1L, 30L, 1L)
    ).toDF("qid", "doc_id", "grade")
    val rows = TextAnalysis.ndcgAtK(scored, judged, 3).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == 1L)
    // ranked: 20(r1, gain 1), 99(r2, gain 0), 10(r3, gain 3); 30 cut at k
    // dcg6 = 1*1000000 + 3*500000 = 2500000; 2 relevant docs in top-3
    assert(r.getLong(1) == 2500000L)
    // ideal: 10(g2), 20(g1), 30(g1) -> 3*1e6 + 1*630930 + 1*500000
    assert(r.getLong(2) == 4130930L)
    assert(r.getLong(3) == 1000000L * 2500000L / 4130930L) // 605190
    assert(r.getLong(3) == 605190L)
    assert(r.getLong(4) == 2L)
  }

  test("ndcgAtK: perfect ranking scores 1e6; judged-but-unranked doc lowers ndcg only via idcg") {
    val scored = Seq((1L, 10L, 9.0), (1L, 20L, 8.0)).toDF("qid", "doc_id", "score")
    val perfect = Seq((1L, 10L, 2L), (1L, 20L, 1L)).toDF("qid", "doc_id", "grade")
    val p = TextAnalysis.ndcgAtK(scored, perfect, 3).head()
    assert(p.getLong(3) == 1000000L)
    // doc 5 judged grade 2 but never scored: enters IDCG, not DCG
    val missing = Seq((1L, 5L, 2L), (1L, 10L, 2L)).toDF("qid", "doc_id", "grade")
    val m = TextAnalysis.ndcgAtK(scored, missing, 3).head()
    assert(m.getLong(1) == 3L * 1000000L) // doc 10 at rank 1
    assert(m.getLong(2) == 3L * 1000000L + 3L * 630930L)
    assert(m.getLong(3) < 1000000L)
  }

  test("precisionRecallAtK: fixed-k precision, full-set recall; judged-unscored qid publishes zeros") {
    val scored = Seq(
      (1L, 10L, 9.0), (1L, 20L, 8.0), (1L, 30L, 7.0), (1L, 40L, 6.0),
      (3L, 50L, 5.0) // qid 3 has no judgments -> drops
    ).toDF("qid", "doc_id", "score")
    val judged = Seq(
      (1L, 10L, 1L), (1L, 40L, 2L), (1L, 99L, 1L), // 99 never scored
      (2L, 70L, 1L) // qid 2 judged but nothing scored
    ).toDF("qid", "doc_id", "grade")
    val got = TextAnalysis.precisionRecallAtK(scored, judged, 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))))
      .toMap
    // qid 1: top-2 = {10, 20}, tp = 1 of n_pos 3 -> p6 = 500000,
    // r6 = 333333, f16 = 2*5e5*333333 div 833333 = 399999
    assert(got(1L) == ((3L, 1L, 500000L, 333333L, 399999L)))
    assert(got(2L) == ((1L, 0L, 0L, 0L, 0L)))
    assert(!got.contains(3L))
  }

  test("averagePrecisionAtK: precision read at each relevant hit; order sensitivity pins") {
    // ranks: 10(rel,cum1,p6=1e6), 20, 30(rel,cum2,p6=666666), 40
    // ap6 = (1e6 + 666666) div 3 = 555555 against n_pos = 3
    val scored = Seq(
      (1L, 10L, 9.0), (1L, 20L, 8.0), (1L, 30L, 7.0), (1L, 40L, 6.0))
      .toDF("qid", "doc_id", "score")
    val judged = Seq((1L, 10L, 1L), (1L, 30L, 2L), (1L, 99L, 1L))
      .toDF("qid", "doc_id", "grade")
    val r = TextAnalysis.averagePrecisionAtK(scored, judged, 4).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((1L, 3L, 2L, 555555L)))
    // same hits ranked worse -> strictly lower AP (P/R@k would not move):
    // rel at ranks 2 and 4: (500000 + 500000) div 3 = 333333
    val worse = Seq(
      (1L, 10L, 8.0), (1L, 20L, 9.0), (1L, 30L, 6.0), (1L, 40L, 7.0))
      .toDF("qid", "doc_id", "score")
    val r2 = TextAnalysis.averagePrecisionAtK(worse, judged, 4).head()
    assert(r2.getLong(3) == 333333L)
  }

  test("rrfFuse: both-list docs beat single-list docs; absent ranks stay null") {
    // A ranks 1,2,3; B ranks 3,2,4 (k0=60):
    // doc3 = 1e6 div 63 + 1e6 div 61 = 15873+16393 = 32266 -> fused 1
    // doc2 = 2 * (1e6 div 62) = 32258 -> fused 2; doc1 16393; doc4 15873
    val a = Seq((1L, 1L, 3.0), (1L, 2L, 2.0), (1L, 3L, 1.0)).toDF("qid", "doc_id", "score")
    val b = Seq((1L, 3L, 9.0), (1L, 2L, 8.0), (1L, 4L, 7.0)).toDF("qid", "doc_id", "score")
    val got = TextAnalysis.rrfFuse(a, b, 60, 3)
      .orderBy(col("fused_rank")).collect()
      .map(r => (r.getLong(1), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (3L, 32266L, 1L), (2L, 32258L, 2L), (1L, 16393L, 3L), (4L, 15873L, 4L)))
    val r4 = TextAnalysis.rrfFuse(a, b, 60, 3)
      .filter(col("doc_id") === 4L).head()
    assert(r4.isNullAt(2) && r4.getLong(3) == 3L)
  }

  test("vocabCoverage: hand freq-of-freq profile; hapax-only corpus doubles via Chao1") {
    // tokens a,b,a,c,d,b: N=6 D=4 N1=2 N2=2
    // gt = 2e6 div 6 = 333333; chao1 = 4 + 2*1 div (2*3) = 4
    val docs = Seq((1L, "a b a c"), (2L, "d b")).toDF("doc_id", "text")
    val r = TextAnalysis.vocabCoverage(docs, "text").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((6L, 4L, 2L, 2L, 333333L, 4L)))
    // all hapax, no doubletons: chao1 = 3 + 3*2 div 2 = 6
    val hapax = Seq((1L, "a b c")).toDF("doc_id", "text")
    val r2 = TextAnalysis.vocabCoverage(hapax, "text").head()
    assert((r2.getLong(2), r2.getLong(3), r2.getLong(4), r2.getLong(5)) ==
      ((3L, 0L, 1000000L, 6L)))
  }

  test("canaryRecall: dropout twins recovered on a plantable corpus; short docs not planted") {
    // doc 10 has 12 tokens (planted; 10% dropout keeps most shingles
    // -> found); doc 20 has 3 tokens (under the >=10 floor -> not
    // planted); doc 1 not a multiple of 10
    val df = Seq(
      (10L, "a b c d e f g h i j k l"),
      (20L, "x y z"),
      (1L, "one two three four five six seven eight nine ten eleven")
    ).toDF("doc_id", "text")
    val r = Dedup.canaryRecall(df, "text", "doc_id", 3, 0.2).head()
    assert(r.getLong(0) == 1L) // only doc 10 planted
    assert(r.getLong(1) == 1L)
    assert(r.getLong(2) == 1000000L)
  }

  test("canaryRecall/canarySweep: twin offset collisions fail fast, larger offset passes") {
    // doc id 1e6 would collide with doc 10's twin (10 + 1e6 would be
    // a DIFFERENT id, but ids >= offset break the disjointness
    // invariant) -> guard must throw, not silently skew recall
    val df = Seq(
      (10L, "a b c d e f g h i j k l"),
      (1000000L, "one two three four five six seven eight nine ten eleven x")
    ).toDF("doc_id", "text")
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val eR = intercept[Exception](Dedup.canaryRecall(df, "text", "doc_id", 3, 0.2).head())
    assert(chain(eR).contains("twinOffset"))
    val eS = intercept[Exception](
      Dedup.canarySweep(df, "text", "doc_id", 3, Seq(20)).collect())
    assert(chain(eS).contains("twinOffset"))
    // raising the offset restores the invariant and both twins recover
    val ok = Dedup.canaryRecall(df, "text", "doc_id", 3, 0.2, twinOffset = 10000000L).head()
    assert(ok.getLong(0) == 2L && ok.getLong(1) == 2L && ok.getLong(2) == 1000000L)
  }

  test("explainJaccardPairs: containment exposes the quoted-snippet match jaccard downplays") {
    // doc 2 = doc 1's text embedded in a longer page: shingles of 1
    // are a subset of 2's -> cont6 = 1e6 while jaccard is partial
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "unrelated words entirely here")).toDF("doc_id", "text")
    val rows = Dedup.explainJaccardPairs(df, "text", "doc_id", 3, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // doc1: 2 shingles, doc2: 6 shingles, shared 2:
    // jac6 = 2e6/6 = 333333, cont6 = 2e6/2 = 1e6
    assert(rows == Seq((1L, 2L, 2L, 6L, 2L, 333333L, 1000000L)))
  }

  test("partitionManifest: checksum is order/partitioning-invariant and change-sensitive") {
    import graft.operators.Checks
    val rows = Seq(("d1", "a"), ("d1", "b"), ("d1", "c"), ("d2", "x"))
    def manifest(s: Seq[(String, String)], parts: Int) =
      Checks.partitionManifest(
        s.toDF("d", "k").repartition(parts), $"d", $"k")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val m1 = manifest(rows, 1)
    val m2 = manifest(scala.util.Random.shuffle(rows), 7)
    assert(m1 == m2) // any order, any partitioning
    val tampered = manifest(Seq(("d1", "a"), ("d1", "b"), ("d1", "Z"), ("d2", "x")), 2)
    assert(tampered("d1")._1 == m1("d1")._1)  // same count...
    assert(tampered("d1")._2 != m1("d1")._2)  // ...different checksum
    assert(tampered("d2") == m1("d2"))
  }

  test("outOfOrderAudit: regressions counted per arrival order, first arrival exempt") {
    import graft.operators.Checks
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: 10:00 -> 09:00 (regression) -> 11:00
      ("a", 1L, 1L, ts("2024-01-01 10:00:00")),
      ("a", 1L, 2L, ts("2024-01-01 09:00:00")),
      ("a", 1L, 3L, ts("2024-01-01 11:00:00")),
      // user 2 in-order; different type
      ("b", 2L, 4L, ts("2024-01-01 08:00:00")),
      ("b", 2L, 5L, ts("2024-01-01 09:00:00"))
    ).toDF("t", "u", "seq", "ts")
    val got = Checks.outOfOrderAudit(ev, $"t", $"u", $"seq", $"ts")
      .orderBy($"grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(("a", 3L, 1L, 333333L), ("b", 2L, 0L, 0L)))
  }

  test("psiFromCounts: identical grids score 0; hand-smoothed shift scores exact micro-nats") {
    import graft.operators.Checks
    val a = Seq((0L, 50L), (1L, 50L)).toDF("bucket", "n")
    val same = Checks.psiFromCounts(a, a).head()
    assert((same.getLong(0), same.getLong(3)) == ((2L, 0L)))
    // B shifts mass to bucket 1: smoothed p_a = 51/102 both, p_b =
    // 26/102, 76/102 -> terms 165130 + 97771 (hand-computed)
    val b = Seq((0L, 25L), (1L, 75L)).toDF("bucket", "n")
    val got = Checks.psiFromCounts(a, b).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((2L, 100L, 100L)))
    assert(got.getLong(3) == 262901L)
    // one-sided bucket: smoothing keeps it defined (no NaN/Inf)
    val c = Seq((0L, 100L)).toDF("bucket", "n")
    val oneSided = Checks.psiFromCounts(a, c).head()
    assert(oneSided.getLong(0) == 2L && oneSided.getLong(3) > 0L)
  }

  test("benfordAudit: hand distribution, sub-dollar digits, non-positive excluded") {
    import graft.operators.Checks
    assert(Checks.benfordPpm.head == 301030L) // log10(2) in ppm
    assert(Checks.benfordPpm.sum >= 999998L && Checks.benfordPpm.sum <= 1000002L)
    val df = Seq(1.0, 12.5, 199.0, 0.05, 2.0, -3.0, 0.0)
      .map(Tuple1(_)).toDF("v")
    // cents: 100, 1250, 19900, 5, 200 -> digits 1,1,1,5,2; -3/0 excluded
    val got = Checks.benfordAudit(df, $"v")
      .orderBy($"digit").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, 3L, 600000L, 600000L - 301030L),
      (2L, 1L, 200000L, 200000L - 176091L),
      (5L, 1L, 200000L, 200000L - 79181L)))
  }

  test("kAnonymity: groups under k surface, stats count rows at risk in exact ppm") {
    import graft.operators.Checks
    val df = Seq(
      ("a", 1), ("a", 1), ("a", 1), // group of 3: safe at k=3
      ("b", 1), ("b", 1),           // group of 2: violates
      ("c", 2)                      // singleton: violates
    ).toDF("seg", "nat")
    val viol = Checks.kAnonymity(df, Seq($"seg", $"nat"), 3L)
      .orderBy($"seg").collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(viol == Seq(("b", 2L), ("c", 1L)))
    val st = Checks.kAnonymityStats(df, Seq($"seg", $"nat"), 3L).head()
    assert((st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3)) == ((3L, 2L, 3L, 6L)))
    assert(st.getLong(4) == 500000L) // 3 of 6 rows at risk
  }

  test("dayIslands: contiguous runs collapse, gaps measured, duplicate days ignored") {
    def d(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, i))
    val daily = Seq(
      ("a", d(1)), ("a", d(2)), ("a", d(3)), ("a", d(3)), // dup day
      ("a", d(7)), ("a", d(8)), ("a", d(10)),
      ("b", d(5))).toDF("k", "day")
    val got = Relational.dayIslands(daily, "k", "day")
      .orderBy($"k", $"island_start").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDate(2).toString,
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("a", "2024-01-01", "2024-01-03", 3L, 0L),
      ("a", "2024-01-07", "2024-01-08", 2L, 3L),
      ("a", "2024-01-10", "2024-01-10", 1L, 1L),
      ("b", "2024-01-05", "2024-01-05", 1L, 0L)))
  }

  test("goldenRecord: per-field survivorship rules with min-id ties; all-null field stays null") {
    val members = Seq(
      // cluster 1: name longest wins (tie between 2 and 3 -> id 2),
      // phone from max seq among non-nulls (id 3), bal max (id 2)
      (1L, 1L, 1L, "alpha", "p1", 5.0),
      (2L, 1L, 2L, "alphaX", null, 7.0),
      (3L, 1L, 2L, "alphaY", "p3", 6.0),
      // cluster 9: singleton with a null phone -> phone survives null
      (9L, 9L, 1L, "solo", null, 1.0)
    ).toDF("id", "cluster_id", "seq", "name", "phone", "bal")
    val got = Relational.goldenRecord(
      members, "id", "cluster_id", "seq",
      longestCols = Seq("name"), recentCols = Seq("phone"), maxCols = Seq("bal"))
      .orderBy($"cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), Option(r.getString(3)), r.getDouble(4)))
      .toSeq
    assert(got == Seq(
      (1L, 3L, "alphaX", Some("p3"), 7.0),
      (9L, 1L, "solo", None, 1.0)))
  }

  test("medoidCanonicals: central member survives over min-id; singleton kept; bound fails fast") {
    // chain 1-2-3: v2 is the hub (cos sums: v1 .707, v2 1.414, v3
    // .707) -> medoid 2 beats min-id 1; vec 9 untouched by any pair
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.7f, 0.7f)),
      (3L, Array(0.0f, 1.0f)),
      (9L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.medoidCanonicals(emb, "vec_id", "embedding", pairs)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 9L))
    val ex = intercept[IllegalArgumentException] {
      Dedup.medoidCanonicals(emb, "vec_id", "embedding", pairs, maxClusterSize = 2L)
    }
    assert(ex.getMessage.contains("maxClusterSize"))
  }

  test("hllRegisters/hllEstimate: shard max-merge is lossless, estimate within 4x std error") {
    import graft.operators.Sketches
    val n = 5000
    val df = (1 to n).map(i => (i % 3, s"key$i")).toDF("g", "k")
    val p = 10
    val full = Sketches.hllRegisters(df, Nil, $"k", p)
    // shard linearity: per-group registers max-merge into EXACTLY the
    // full-corpus register table (the KMV/CMS merge property)
    val merged = Sketches.hllMerge(Sketches.hllRegisters(df, Seq($"g"), $"k", p))
    val a = full.orderBy($"bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = merged.orderBy($"bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
    // raw-branch accuracy: 1.04/sqrt(1024) ~ 3.25%; allow 4 sigma
    val est = Sketches.hllEstimate(full, p).head().getLong(1)
    assert(math.abs(est - n) < n * 0.13, s"est $est too far from $n")
    // small-range branch: 10 distinct keys -> linear counting is
    // near-exact (every bucket distinct whp)
    val small = (1 to 10).map(i => Tuple1(s"s$i")).toDF("k")
    val se = Sketches
      .hllEstimate(Sketches.hllRegisters(small, Nil, $"k", p), p)
      .head()
    assert(se.getLong(0) == 10L && se.getLong(1) == 10L)
    // null keys never register
    val withNull = Seq(Some("x"), None, Some("y")).toDF("k")
    val nn = Sketches
      .hllEstimate(Sketches.hllRegisters(withNull, Nil, $"k", p), p)
      .head()
    assert(nn.getLong(0) == 2L)
    // empty corpus: estimate 0, never a null row
    val empty = Sketches
      .hllEstimate(Sketches.hllRegisters(df.filter(lit(false)), Nil, $"k", p), p)
      .head()
    assert(empty.getLong(0) == 0L && empty.getLong(1) == 0L)
  }

  test("rboTable: hand-computed overlaps, weights, and cumulative rbo") {
    import graft.operators.TextAnalysis
    // A ranks ids 1,2,3; B ranks 2,1,4. Intersection {1,2} with
    // (ra,rb) = (1,2),(2,1): overlap@1=0, @2=2, @3=2.
    // p=0.5 weights: 500000, 250000, 125000 -> terms 0, 250000,
    // 125000*2 div 3 = 83333 -> cum 0, 250000, 333333.
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (1L, 2L), (4L, 3L)).toDF("id", "rank")
    val got = TextAnalysis.rboTable(a, b, "id", "rank", 3, 0.5)
      .orderBy($"d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, 0L, 500000L, 0L, 0L),
      (2L, 2L, 250000L, 250000L, 250000L),
      (3L, 2L, 125000L, 83333L, 333333L)))
    // identical lists at p=0.9, k=10: every depth full overlap ->
    // rbo6 = sum of weights (truncated RBO < 1e6 by the residual)
    val full = TextAnalysis.rboTable(a, a, "id", "rank", 3, 0.5)
      .orderBy($"d").collect().map(_.getLong(4)).last
    assert(full == 500000L + 250000L + 125000L)
  }

  test("powerIterationTop: symmetric input gives exactly equal components; dominant axis wins") {
    import graft.operators.Similarity
    // perfectly symmetric in dims 1/2 -> integer chain is symmetric
    // -> components EXACTLY equal (not approximately)
    val sym = (1L to 10L).map(i => (i, Array(0.3, 0.3))) :+ (11L, Array(0.1, 0.1))
    val s1 = Similarity.powerIterationTop(sym.toDF("id", "v"), "id", "v", 4)
      .orderBy($"dim").collect().map(_.getLong(1)).toSeq
    assert(s1.length == 2 && s1(0) == s1(1) && s1(0) > 0)
    // dim-1-dominant data: the direction concentrates on dim 1
    val dom = (1L to 10L).map(i => (i, Array(0.4, 0.05)))
    val s2 = Similarity.powerIterationTop(dom.toDF("id", "v"), "id", "v", 4)
      .orderBy($"dim").collect().map(_.getLong(1)).toSeq
    assert(math.abs(s2(0)) >= 8 * math.abs(s2(1))) // exact 8:1 data ratio
    // bit-stable across runs (exact integer chain)
    val s1b = Similarity.powerIterationTop(sym.toDF("id", "v").repartition(7), "id", "v", 4)
      .orderBy($"dim").collect().map(_.getLong(1)).toSeq
    assert(s1b == s1)
  }

  test("matryoshkaTopK: prefix shortlist admits a decoy, exact rerank rejects it") {
    import graft.operators.Similarity
    // v2's 2-dim prefix ties v1 at cosine 1.0 but its full vector is
    // dominated by tail mass; v3 never reaches the shortlist
    val emb = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, Array(1.0, 0.0, 10.0, 0.0)),
      (3L, Array(0.0, 1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val q = Array(1.0, 0.0, 0.0, 0.0)
    val r = Similarity.matryoshkaTopK(emb, "vec_id", "embedding", q, 2, 2, 2)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2))).toSeq
    assert(r.map(_._1) == Seq(1L, 2L)) // exact rerank puts v1 first
    assert(r.head._2 == 1.0 && r.head._3 == 1.0)
    assert(r(1)._2 == 1.0 && r(1)._3 < 0.2) // decoy exposed by full dims
    val bad = intercept[IllegalArgumentException](
      Similarity.matryoshkaTopK(emb, "vec_id", "embedding", q, 2, 1, 2))
    assert(bad.getMessage.contains("shortlist"))
  }

  test("histSketch/histQuantiles: hand grid on 1..100, shard merge is exact") {
    import graft.operators.Sketches
    // dollars 1..100, ceil 100, 10 buckets: bucket(v) = v div 10
    // (100 clamps into 9) -> counts b0:9, b1..b8:10, b9:11
    val df = (1 to 100).map(v => Tuple1(v.toDouble)).toDF("v")
    val hist = Sketches.histSketch(df, $"v", 100.0, 10)
    val counts = hist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(0L) == 9L && counts(5L) == 10L && counts(9L) == 11L)
    val q = Sketches.histQuantiles(hist, 100.0, 10, Seq(50, 90, 99))
      .orderBy($"q_pct").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // q50 target 50 -> first cum>=50 is b5 (cum 59); q90/q99 -> b9
    assert(q == Seq((50L, 5L, 50.0), (90L, 9L, 90.0), (99L, 9L, 90.0)))
    // linearity: odd/even shards SUM-merge to the direct build
    val merged = Sketches.histSketch(df.filter($"v" % 2 === 0), $"v", 100.0, 10)
      .unionAll(Sketches.histSketch(df.filter($"v" % 2 =!= 0), $"v", 100.0, 10))
      .groupBy($"bucket").agg(sum($"n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == counts)
  }

  test("kmvOverlapEstimate: identical sets -> jaccard 1.0; disjoint sets -> 0 matches") {
    import graft.operators.Sketches
    val xs = (1 to 300).map(i => s"k$i").toDF("key")
    val ys = (301 to 600).map(i => s"k$i").toDF("key")
    val same = Sketches.kmvOverlapEstimate(
      Sketches.kmvSketches(xs, Seq.empty, $"key", 32),
      Sketches.kmvSketches(xs, Seq.empty, $"key", 32), $"mins", 32).head()
    assert(same.getDouble(3) == 1.0) // jaccard_est
    assert(same.getDouble(4) == same.getDouble(2)) // inter_est == union_est
    val disj = Sketches.kmvOverlapEstimate(
      Sketches.kmvSketches(xs, Seq.empty, $"key", 32),
      Sketches.kmvSketches(ys, Seq.empty, $"key", 32), $"mins", 32).head()
    assert(disj.getLong(1) == 0L && disj.getDouble(3) == 0.0 && disj.getDouble(4) == 0.0)
  }

  test("volumeAnomaly: a 10x spike flags, warm-up and flat history stay null/unflagged") {
    import graft.operators.Checks
    // source s: 10 rows/day for 9 days, 100 on day 10; source f: flat 5/day
    val rows =
      (1 to 9).flatMap(d => (1 to 10).map(i => ("s", f"2024-01-$d%02d"))) ++
        (1 to 100).map(_ => ("s", "2024-01-10")) ++
        (1 to 9).flatMap(d => (1 to 5).map(_ => ("f", f"2024-01-$d%02d")))
    val got = Checks
      .volumeAnomaly(rows.toDF("src", "day"), $"src", $"day", 7, 3, 3.0)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.get(4), r.getBoolean(5))))
      .toMap
    assert(got(("s", "2024-01-10"))._2, "the 10x day must flag")
    assert(got(("s", "2024-01-10"))._1 == 90.0, "flat-history z degrades to n - mean")
    assert(got(("s", "2024-01-01")) == ((null, false)), "warm-up day: null z, unflagged")
    assert(got(("s", "2024-01-02")) == ((null, false)), "below minWindow: null z, unflagged")
    // flat history scored against the 1-count noise floor: z = 0, unflagged
    assert((4 to 9).forall(d => got(("f", f"2024-01-$d%02d")) == ((0.0, false))))
    assert((1 to 2).forall(d => got(("f", f"2024-01-$d%02d")) == ((null, false))))
  }

  test("minhashLshPairs surfaces the exact dup with jaccard 1.0") {
    val pairs = Dedup.minhashLshPairs(nearDupDocs, "text", "doc_id", 3, 8, 1, 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((1L, 4L)).contains(1.0))
  }

  // Near-dup pair family pins -------------------------------------------------
  // One fixture run through every pair entry point. The expected rows
  // (exact doubles) were recorded from the per-entry pipelines before
  // their stages were shared, so a port that moves any row or score
  // fails here. Fixture: 1/2 exact dups, 3 a near dup of both, 4 too
  // short for a 3-shingle, 6 a snippet contained in 5, 7/8 partial
  // overlap, 10 unrelated; "all rights reserved" sits in 7 docs, over
  // the pinned maxDf of 4.
  private lazy val pinDocs = Seq(
    (1L, "the quarterly report shows revenue growth across every region all rights reserved"),
    (2L, "the quarterly report shows revenue growth across every region all rights reserved"),
    (3L, "the quarterly report shows revenue decline across every region all rights reserved"),
    (4L, "brief note"),
    (5L, "analysts expect the merger to close next spring pending approval by regulators " +
      "in both countries all rights reserved"),
    (6L, "the merger to close next spring pending approval"),
    (7L, "hiring slowed at the startup after its seed round all rights reserved"),
    (8L, "hiring slowed at the startup after its second round of layoffs all rights reserved"),
    (10L, "an unrelated page about gardening tools and soil quality all rights reserved")
  ).toDF("doc_id", "text")

  // a daily batch against pinDocs: 3 revised (batch wins), 6 unchanged,
  // 11 new and an exact dup of 7
  private lazy val pinBatch = Seq(
    (3L, "the quarterly report shows revenue growth across every region all rights reserved today"),
    (6L, "the merger to close next spring pending approval"),
    (11L, "hiring slowed at the startup after its seed round all rights reserved")
  ).toDF("doc_id", "text")

  private lazy val pinVecs = Seq(
    (1L, Seq(1.0, 0.0, 0.0, 0.0)),
    (2L, Seq(1.0, 0.1, 0.0, 0.0)),
    (3L, Seq(0.9, 0.1, 0.1, 0.0)),
    (4L, Seq(0.0, 1.0, 0.0, 0.0)),
    (5L, Seq(0.0, 0.9, 0.2, 0.0)),
    (6L, Seq(0.0, 0.0, 0.0, 1.0)),
    (7L, Seq(0.0, 0.0, 0.0, 0.0))
  ).toDF("vec_id", "embedding")

  private def pinned(
      name: String,
      columns: Seq[String],
      expected: Seq[Seq[Any]])(df: => org.apache.spark.sql.DataFrame): Unit =
    test(s"near-dup pin: $name") {
      val out = df
      try {
        assert(out.columns.toSeq == columns)
        val rows = out.orderBy(out.columns.map(col).toIndexedSeq: _*).collect().map(_.toSeq).toSeq
        def literal(v: Any): String = v match {
          case l: Long => s"${l}L"
          case other   => other.toString
        }
        assert(rows == expected, rows.map(_.map(literal).mkString("Seq(", ", ", ")")).mkString(",\n"))
      } finally spark.catalog.clearCache()
    }

  private val idsJaccard = Seq("id_a", "id_b", "jaccard")

  pinned("ngramJaccardPairs", idsJaccard, Seq(
    Seq(1L, 2L, 1.0),
    Seq(1L, 3L, 0.5),
    Seq(2L, 3L, 0.5),
    Seq(5L, 6L, 0.4),
    Seq(7L, 8L, 0.3333333333333333)))(
    Dedup.ngramJaccardPairs(pinDocs, "text", "doc_id", 3, 0.3, maxDf = 4))

  pinned("prefixJaccardPairs", idsJaccard, Seq(
    Seq(1L, 2L, 1.0),
    Seq(1L, 3L, 0.5),
    Seq(2L, 3L, 0.5),
    Seq(5L, 6L, 0.4),
    Seq(7L, 8L, 0.3333333333333333)))(
    Dedup.prefixJaccardPairs(pinDocs, "text", "doc_id", 3, 0.3, maxDf = 4))

  pinned("ngramJaccardAgainst", idsJaccard, Seq(
    Seq(1L, 3L, 0.9),
    Seq(2L, 3L, 0.9),
    Seq(5L, 6L, 0.4),
    Seq(7L, 11L, 1.0),
    Seq(8L, 11L, 0.3333333333333333)))(
    Dedup.ngramJaccardAgainst(pinBatch, pinDocs, "text", "doc_id", 3, 0.2, maxDf = 4))

  pinned("containmentPairs", Seq("id_a", "id_b", "containment"), Seq(
    Seq(1L, 2L, 1.0),
    Seq(1L, 3L, 0.6666666666666666),
    Seq(2L, 3L, 0.6666666666666666),
    Seq(5L, 6L, 1.0),
    Seq(7L, 8L, 0.5555555555555556)))(
    Dedup.containmentPairs(pinDocs, "text", "doc_id", 3, 0.5, maxDf = 4))

  pinned("explainJaccardPairs", Seq("id_a", "id_b", "sz_a", "sz_b", "common", "jac6", "cont6"), Seq(
    Seq(1L, 2L, 9L, 9L, 9L, 1000000L, 1000000L),
    Seq(1L, 3L, 9L, 9L, 6L, 500000L, 666666L),
    Seq(2L, 3L, 9L, 9L, 6L, 500000L, 666666L),
    Seq(5L, 6L, 15L, 6L, 6L, 400000L, 1000000L),
    Seq(7L, 8L, 9L, 11L, 5L, 333333L, 555555L)))(
    Dedup.explainJaccardPairs(pinDocs, "text", "doc_id", 3, 0.1, maxDf = 4))

  pinned("canaryRecall", Seq("n_planted", "n_found", "recall_ppm"), Seq(
    Seq(3L, 3L, 1000000L)))(
    Dedup.canaryRecall(pinDocs, "text", "doc_id", 3, 0.5, plantEvery = 2))

  pinned("canarySweep", Seq("threshold_pct", "n_planted", "n_found", "recall_ppm", "n_pairs_total"), Seq(
    Seq(20L, 3L, 3L, 1000000L, 11L),
    Seq(50L, 3L, 3L, 1000000L, 7L),
    Seq(80L, 3L, 1L, 333333L, 2L),
    Seq(95L, 3L, 1L, 333333L, 2L)))(
    Dedup.canarySweep(pinDocs, "text", "doc_id", 3, Seq(20, 50, 80, 95), plantEvery = 2))

  pinned("minhashLshPairs (band 1)", idsJaccard, Seq(
    Seq(1L, 2L, 1.0),
    Seq(5L, 6L, 0.375),
    Seq(7L, 8L, 0.375)))(
    Dedup.minhashLshPairs(pinDocs, "text", "doc_id", 3, 8, 1, 0.1))

  pinned("minhashLshPairs (band 2)", idsJaccard, Seq(
    Seq(1L, 2L, 1.0),
    Seq(5L, 6L, 0.375),
    Seq(7L, 8L, 0.375)))(
    Dedup.minhashLshPairs(pinDocs, "text", "doc_id", 3, 8, 2, 0.1))

  pinned("minhashLshAgainst", idsJaccard, Seq(
    Seq(3L, 1L, 0.9090909090909091),
    Seq(3L, 2L, 0.9090909090909091),
    Seq(6L, 5L, 0.375),
    Seq(6L, 6L, 1.0),
    Seq(11L, 7L, 1.0),
    Seq(11L, 8L, 0.375)))(
    Dedup.minhashLshAgainst(pinBatch, pinDocs, "text", "doc_id", 3, 8, 1, 0.2))

  pinned("minhashLshAgainstSigs", idsJaccard, Seq(
    Seq(3L, 1L, 0.9090909090909091),
    Seq(3L, 2L, 0.9090909090909091),
    Seq(6L, 5L, 0.375),
    Seq(6L, 6L, 1.0),
    Seq(11L, 7L, 1.0),
    Seq(11L, 8L, 0.375)))(
    Dedup.minhashLshAgainstSigs(
      pinBatch, Dedup.minhashSign(pinDocs, "text", "doc_id", 3, 8), "text", "doc_id", 3, 8, 2, 0.2))

  test("minhashSign returns an unpersisted plan; a pair pipeline's cached batch signatures are reused") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def readsCache(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }.nonEmpty
    spark.catalog.clearCache()
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    // signing an equal input twice leaves no cache entry and no persistent RDD
    for (_ <- 1 to 2) {
      val signed = Dedup.minhashSign(pinDocs, "text", "doc_id", 3, 8)
      assert(signed.count() == 8L)
      assert(!readsCache(signed))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds)
    // the daily delta: matching a batch persists its signatures, and
    // signing the same batch afterwards reads them from that cache
    Dedup.minhashLshAgainstSigs(
      pinBatch, Dedup.minhashSign(pinDocs, "text", "doc_id", 3, 8), "text", "doc_id", 3, 8, 1, 0.2).count()
    val resigned = Dedup.minhashSign(pinBatch, "text", "doc_id", 3, 8)
    assert(readsCache(resigned))
    spark.catalog.clearCache()
  }

  pinned("bandedLshNearDupPairs", Seq("id_a", "id_b", "score"), Seq(
    Seq(1L, 2L, 0.9950371902099893),
    Seq(1L, 3L, 0.9878783399072131),
    Seq(2L, 3L, 0.993897639695144),
    Seq(4L, 5L, 0.9761870601839527)))(
    Similarity.bandedLshNearDupPairs(pinVecs, "vec_id", "embedding", 4, bands = 4, bitsPerBand = 2,
      threshold = 0.5))

  test("simhash: identical fingerprints for dups, close for near-dups") {
    val fp = nearDupDocs
      .select($"doc_id", Dedup.simhashFingerprint(graft.functions.TextFns.tokens($"text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(4L))
    assert(fp(1L).length == 16 && fp(1L).matches("[0-9a-f]{16}"))
    def ham(a: String, b: String): Int =
      Seq((a, b)).toDF("a", "b").select(Dedup.hammingHex($"a", $"b"))
        .collect().head.getInt(0)
    assert(ham(fp(1L), fp(4L)) == 0)
    assert(ham(fp(1L), fp(2L)) < ham(fp(1L), fp(3L)))
  }

  test("clusterPairs propagates string ids (non-numeric convergence witness)") {
    val pairs = Seq(("b", "e"), ("e", "i"), ("k", "l")).toDF("id_a", "id_b")
    val clusters = Dedup.clusterPairs(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters ==
      Map("b" -> "b", "e" -> "b", "i" -> "b", "k" -> "k", "l" -> "k"))
  }

  test("simhashTable: lanes stay correct past 32767 tokens (32-bit unsigned lanes)") {
    // 40000 copies of one token: every bit vote is unanimous, so the
    // fingerprint must equal the single-token fingerprint. The old
    // 16-bit packing corrupted (or, under ANSI, overflowed on) any
    // ones-count >= 32768.
    val many = Seq((1L, Seq.fill(40000)("zebra").mkString(" "))).toDF("doc_id", "text")
    val one = Seq((1L, "zebra")).toDF("doc_id", "text")
    def fp(df: org.apache.spark.sql.DataFrame): String =
      Dedup.simhashTable(df, "text", "doc_id").collect().head.getString(1)
    assert(fp(many) == fp(one))
    // and the cap is enforced, not just documented
    intercept[Exception] {
      Dedup.simhashTable(many, "text", "doc_id", maxTokensPerDoc = 100).collect()
    }
  }

  test("clusterPairs + resolveClusters: chain collapses to min id") {
    val pairs = Seq((2L, 5L), (5L, 9L), (11L, 12L)).toDF("id_a", "id_b")
    val clusters = Dedup.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 11L -> 11L, 12L -> 11L))
    val docs = Seq(2L, 5L, 9L, 11L, 12L, 99L).toDF("doc_id")
    val kept = Dedup.resolveClusters(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 11L, 99L)) // canonical per cluster + untouched doc
  }

  test("crossCorpusOverlap flags docs sharing n-grams with the benchmark") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),     // shares "alpha beta gamma"
      (2L, "nothing in common here at all"),
      (3L, "xy")                          // too short for shingles
    ).toDF("doc_id", "text")
    val bench = Seq((99L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val got = Dedup.crossCorpusOverlap(corpus, bench, "text", "doc_id", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L) == (1L, true))
    assert(got(2L) == (0L, false))
    assert(got(3L) == (0L, false))
  }

  test("repetitionStats: dup and top bigram fractions") {
    val df = Seq(
      (1L, "a b a b a b"), // bigrams: ab ba ab ba ab -> total 5, distinct 2, top 3
      (2L, "u v w x"),     // all distinct: total 3, top 1
      (3L, "solo")         // too short -> dropped
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "text", "doc_id", 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((5L, 1.0 - 2.0 / 5.0, 3.0 / 5.0)))
    assert(got(2L) == ((3L, 0.0, 1.0 / 3.0)))
    assert(!got.contains(3L))
  }

  test("Sampling: hashSample deterministic subset; splitAssign partitions exactly") {
    val df = (1L to 1000L).toDF("id")
    val s1 = operators.Sampling.hashSample(df, $"id", 0.2).collect().map(_.getLong(0)).toSet
    val s2 = operators.Sampling.hashSample(df, $"id", 0.2).collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty && s1.size < 1000)
    // nested fractions: a 10% sample is a subset of the 20% sample
    val s3 = operators.Sampling.hashSample(df, $"id", 0.1).collect().map(_.getLong(0)).toSet
    assert(s3.subsetOf(s1))
    val splits = operators.Sampling
      .splitAssign(df, $"id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy($"split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.values.sum == 1000L)
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits("train") > splits("val") && splits("train") > splits("test"))
  }

  test("tokenBudget: per-group running token cap in hash order; budgets nest") {
    val df = (1L to 60L).map(i => (s"g${i % 3}", i, 10L + i % 7)).toDF("g", "id", "toks")
    def kept(budget: Long) =
      graft.operators.Sampling.tokenBudget(df, $"g", $"id", $"toks", budget)
        .collect().map(r => r.getLong(1)).toSet
    val k50 = kept(50L); val k120 = kept(120L)
    assert(k50.nonEmpty && k50.size < k120.size && k120.size < 60)
    assert(k50.subsetOf(k120), "a smaller budget must keep a prefix of a larger one")
    // per-group totals never exceed the budget
    val totals = graft.operators.Sampling.tokenBudget(df, $"g", $"id", $"toks", 120L)
      .groupBy($"g").agg(sum($"toks").as("t"))
      .collect().map(_.getLong(1))
    assert(totals.forall(_ <= 120L))
  }

  test("int8Quantize: codes in [-127,127], dequant error <= 0.5/scale, zero vector safe") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.003f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val rows = Similarity.int8Quantize(df, "vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Long](2))))
      .toMap
    val (s1, q1) = rows(1L)
    assert(s1 == 127.0) // maxabs is exactly 1.0
    assert(q1 == Seq(64L, -127L, 32L, 0L)) // 0.5*127 = 63.5 rounds away from zero
    q1.zip(Seq(0.5, -1.0, 0.25, 0.003)).foreach { case (q, x) =>
      assert(math.abs(q.toDouble / s1 - x) <= 0.5 / s1 + 1e-12)
    }
    val (s2, q2) = rows(2L)
    assert(s2 == 0.0 && q2.forall(_ == 0L)) // zero vector: no div-by-zero
  }

  test("semanticDecontaminate: drops bench-similar vectors in a map-only pass") {
    val bench = Seq((0L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(0.9f, 0.1f, 0.0f)),  // cosine ~0.994 vs bench -> dropped
      (2L, Seq(0.0f, 1.0f, 0.0f)),  // orthogonal -> survives, sim 0
      (3L, Seq(-1.0f, 0.0f, 0.0f)), // opposite -> survives, sim -1
      (4L, Seq(0.0f, 0.0f, 0.0f))   // zero vector -> cosine-with-zero = 0
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(corpus, bench, "embedding", 0.9)
      .orderBy($"vec_id").collect().map(r => r.getLong(0) -> r.getDouble(2))
    assert(got.map(_._1).toSeq == Seq(2L, 3L, 4L))
    assert(got.toMap.apply(2L) == 0.0 && got.toMap.apply(3L) == -1.0)
    // bench rides as a literal: the corpus pass must be free of joins
    // and key shuffles (the crossJoin+groupBy shape ships
    // |corpus|x|bench| score rows); Width.spread's round-robin widen
    // of the small scan is the one allowed Exchange
    val plan = Similarity.semanticDecontaminate(corpus, bench, "embedding", 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("hashpartitioning"), plan)
  }

  test("bloomIncremental: exact anti-join semantics, no history shuffle") {
    val hist = (1 to 200).map(i => s"history document number $i unique body")
    val histFps = hist.toDF("text")
      .select(graft.functions.TextFns.fingerprint($"text").as("fp"))
    val batch = Seq(
      (1000L, hist(3)),                       // dup of history -> dropped
      (1001L, "History   document number 4 UNIQUE body"), // same after normalize -> dropped
      (1002L, "genuinely new content alpha"),
      (1003L, "genuinely new content alpha"), // internal dup -> first wins
      (1004L, "genuinely new content beta"),
      (1005L, null)                           // null text -> null fp: a plain
      // left_anti KEEPS a null-key row, so the bloom path must too
      // (null probe routes through the definitely-new branch)
    ).toDF("doc_id", "text")
    val got = Dedup.bloomIncremental(batch, histFps, "text", "doc_id", 4096L)
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == Seq(1002L, 1004L, 1005L))
    // the verify path must touch history via broadcast only — a
    // SortMergeJoin would mean the full history shuffled per run
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), "bloom probe missing from plan")
    assert(!plan.contains("SortMergeJoin"), s"history shuffled:\n$plan")
    got.unpersist(); spark.catalog.clearCache()
  }

  test("tokenWindows: stride overlap, short-doc single window, truncated tail") {
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, ten),        // 10 tokens, window 4 stride 2 -> ceil(6/2)+1 = 4 windows
      (2L, "a b c"),    // shorter than window -> exactly 1 truncated window
      (3L, "  ")        // blank -> dropped
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.tokenWindows(df, "text", "doc_id", 4, 2)
      .orderBy($"id", $"win_index").collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(!byDoc.contains(3L))
    val d1 = byDoc(1L).map(r => (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    assert(d1.length == 4)
    assert(d1(0) == (0L, 0L, "w1 w2 w3 w4", 4L))
    assert(d1(1) == (1L, 2L, "w3 w4 w5 w6", 4L)) // stride-2 overlap
    assert(d1(3) == (3L, 6L, "w7 w8 w9 w10", 4L))
    val d2 = byDoc(2L).map(r => (r.getLong(1), r.getString(3), r.getLong(4)))
    assert(d2.toSeq == Seq((0L, "a b c", 3L))) // truncated, not padded
    // non-overlapping stride == window covers each token exactly once
    val flat = TextAnalysis.tokenWindows(df, "text", "doc_id", 4, 4)
      .filter($"id" === 1L).orderBy($"win_index")
      .collect().map(_.getString(3)).mkString(" ")
    assert(flat == ten)
  }

  test("perplexity: gibberish scores tail, common-vocab docs score head") {
    val common = "the quick brown fox jumps over the lazy dog"
    val df = Seq(
      (1L, common), (2L, common), (3L, common),
      (4L, s"$common again and again"),
      (5L, "zxqv wkjh qqpl mnbv xxyz"), // every token a hapax
      (6L, "   ") // blank -> dropped on both sides
    ).toDF("doc_id", "text")
    val got = TextAnalysis.perplexity(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(!got.contains(6L))
    val worst = got.maxBy(_._2)._1
    assert(worst == 5L, s"gibberish doc should have max mean_nll, got $got")
    assert(got(5L) > got(1L) && got(1L) == got(2L))
    // ppl = exp(mean_nll) within rounding
    val row = TextAnalysis.perplexity(df, "text", "doc_id")
      .filter($"id" === 5L).head()
    assert(math.abs(row.getDouble(4) - math.exp(row.getDouble(3))) < 1e-2)
  }

  test("saltedJoin: equals the plain equi-join; hot key spreads over buckets") {
    val big = ((1L to 300L).map(i => ("hot", i)) ++ Seq(("cold", 400L), ("miss", 500L)))
      .toDF("k", "row_id")
    val small = Seq(("hot", "H"), ("cold", "C"), ("other", "O")).toDF("k", "v")
    val got = Relational.saltedJoin(big, small, "k", $"row_id", 8)
      .select($"row_id", $"v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val plain = big.join(small, "k")
      .select($"row_id", $"v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.sorted == plain.sorted && got.length == 301)
    // the hot key's rows really occupy multiple salt buckets
    val buckets = big.filter($"k" === "hot")
      .select(pmod(graft.operators.Sampling.hash32($"row_id"), lit(8L))).distinct().count()
    assert(buckets > 1)
  }

  test("applyChanges: latest change wins, deletes remove, base passes through") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "a2", "upsert", 10L), (1L, "a3", "upsert", 20L), // last upsert wins
      (2L, "x", "delete", 5L),                              // delete removes
      (3L, "c2", "upsert", 7L), (3L, "zz", "delete", 3L),   // stale delete loses
      (4L, "new", "upsert", 1L)                             // insert of a new key
    ).toDF("k", "v", "op", "seq")
    val got = Relational.applyChanges(base, changes, Seq("k"), Seq("v"), "op", "seq")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a3", 3L -> "c2", 4L -> "new"), got.toString)
    // null-seq changes are ignored: they can neither win nor delete
    val withNullSeq = changes.union(
      Seq((1L, "ghost", "delete", Option.empty[Long]),
        (9L, "orphan", "upsert", Option.empty[Long])).toDF("k", "v", "op", "seq"))
    val got2 = Relational.applyChanges(base, withNullSeq, Seq("k"), Seq("v"), "op", "seq")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 == got, s"null-seq rows must be inert: $got2")
    // seq == Long.MinValue collides with the base-row sentinel: such
    // changes are excluded (reserved position), so they can neither
    // frankenrow a tie with base nor delete it
    val withSentinel = changes.union(
      Seq((1L, "evil", "delete", Long.MinValue),
        (8L, "phantom", "upsert", Long.MinValue)).toDF("k", "v", "op", "seq"))
    val got3 = Relational.applyChanges(base, withSentinel, Seq("k"), Seq("v"), "op", "seq")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got3 == got, s"sentinel-seq rows must be inert: $got3")
  }

  test("orderedFunnel: strict order, gap cutoff, missed stages never resurrect") {
    def ev(u: Long, tUs: Long, tp: String) =
      (u, new java.sql.Timestamp(tUs / 1000), tp)
    val gap = 100_000_000L // 100 s in µs
    val events = Seq(
      // u1 completes all three in order within gaps
      ev(1L, 1_000_000L, "a"), ev(1L, 2_000_000L, "b"), ev(1L, 3_000_000L, "c"),
      // u2: b BEFORE a — strictly-after rule means stage 2 not reached
      ev(2L, 5_000_000L, "b"), ev(2L, 6_000_000L, "a"),
      // u3: b arrives past the gap (a full second past — the test
      // timestamps have millisecond resolution)
      ev(3L, 1_000_000L, "a"), ev(3L, 1_000_000L + gap + 1_000_000L, "b"),
      // u4: no b at all, but c inside a's window — must NOT resurrect
      ev(4L, 1_000_000L, "a"), ev(4L, 2_000_000L, "c")
    ).toDF("user_id", "ts", "event_type")
    val got = Relational
      .orderedFunnel(events, "user_id", "ts", "event_type", Seq("a", "b", "c"), gap)
      .collect()
      .map(r => r.getLong(0) -> (r.isNullAt(2), r.isNullAt(3)))
      .toMap
    assert(got(1L) == ((false, false)))
    assert(got(2L) == ((true, true)))
    assert(got(3L) == ((true, true)))
    assert(got(4L) == ((true, true)), "stage 3 resurrected past a missing stage 2")
  }

  test("intervalOverlapJoin: equals the naive theta join, one row per pair") {
    val left = Seq(
      ("u", 1L, 0.0, 25.0),    // spans 3 cells at cellSize 10
      ("u", 2L, 40.0, 50.0),   // touches right #12 at exactly 50
      ("v", 3L, 0.0, 100.0)    // other key: must not pair with u
    ).toDF("k", "l_id", "l_s", "l_e")
    val right = Seq(
      ("u", 11L, 5.0, 24.0),   // overlaps #1 across cells 0..2
      ("u", 12L, 50.0, 60.0),  // boundary touch with #2
      ("u", 13L, 26.0, 39.0),  // gap: overlaps nothing
      ("v", 14L, 99.0, 120.0)
    ).toDF("k", "r_id", "r_s", "r_e")
    val got = Relational
      .intervalOverlapJoin(left, right, Seq("k"), "l_s", "l_e", "r_s", "r_e", 10.0)
      .select($"l_id", $"r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val naive = left.join(right, Seq("k"))
      .filter($"l_s" <= $"r_e" && $"r_s" <= $"l_e")
      .select($"l_id", $"r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.sorted == naive.sorted, s"bucketed=$got naive=$naive")
    assert(got.length == got.distinct.length, "multi-cell pairs must not duplicate")
    assert(got.toSet == Set((1L, 11L), (2L, 12L), (3L, 14L)))
  }

  test("hashNegatives: k per anchor from the pool, no self-pairs, partition-stable") {
    val df = (1L to 200L).map(Tuple1(_)).toDF("id")
    def run(parts: Int) = graft.operators.Sampling
      .hashNegatives(df.repartition(parts), $"id", 4, 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = run(3)
    val pool = got.map(_._3)
    assert(pool.size > 10 && pool.size <= 60, s"pool unexpectedly sized: ${pool.size}")
    assert(got.forall { case (a, _, n) => a != n }, "self-pair leaked")
    val perAnchor = got.groupBy(_._1).map(_._2.size)
    // each slot is lost ONLY to a self-hit (probability 1/|pool| per
    // slot) — most anchors keep all 4, none lose more than half here
    assert(perAnchor.max == 4 && perAnchor.min >= 2)
    assert(perAnchor.count(_ == 4) > 150)
    assert(run(11) == got, "negative assignment must not depend on partitioning")
  }

  test("weightedSample: weight-proportional inclusion, size-k, partition-stable") {
    // one whale (weight 1e9) among 200 minnows (weight 1): its A-ES
    // key ln(u)/1e9 ~ 0- beats any minnow's, so it must be drawn
    val df = ((1L to 200L).map(i => ("g", i, 1L)) :+ (("g", 999L, 1000000000L)))
      .toDF("g", "id", "w")
    val got = graft.operators.Sampling.weightedSample(df, $"g", $"id", $"w", 10)
      .collect().map(_.getLong(1)).toSet
    assert(got.size == 10 && got.contains(999L), s"whale must be sampled: $got")
    // deterministic under repartitioning
    val again = graft.operators.Sampling.weightedSample(df.repartition(7), $"g", $"id", $"w", 10)
      .collect().map(_.getLong(1)).toSet
    assert(again == got)
    // zero-weight rows can never be drawn
    val withZero = df.union(Seq(("g", 5000L, 0L)).toDF("g", "id", "w"))
    assert(!graft.operators.Sampling.weightedSample(withZero, $"g", $"id", $"w", 10)
      .collect().map(_.getLong(1)).contains(5000L))
  }

  test("kmvDistinct: estimate tracks exact cardinality; exact below k; partition-stable") {
    val big = (1 to 5000).map(i => ("big", s"val$i"))      // 5000 distinct
    val small = (1 to 30).flatMap(i => Seq(("small", s"v$i"), ("small", s"v$i"))) // 30 distinct, dup'd
    val df = (big ++ small).toDF("g", "key")
    def run(parts: Int) = graft.operators.Sketches
      .kmvDistinct(df.repartition(parts), Seq($"g"), $"key", 64)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val got = run(4)
    assert(got("small") == (30L, 30.0), s"below-k group must be exact: $got")
    val (nSeen, est) = got("big")
    assert(nSeen == 64L)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.4, s"KMV estimate too far off: $est")
    // pure order statistic: any partitioning merges to the identical sketch
    assert(run(13) == got)
  }

  test("Checks: null predicate violates, dup keys counted, null FK is an orphan") {
    val dirty = Seq(
      (1L, Some(10.0), Some(5L)),
      (1L, Some(-1.0), Some(6L)),                 // dup key + negative
      (2L, None, Some(99L)),                      // null price -> violation
      (3L, Some(3.0), None)                       // null FK -> orphan
    ).toDF("id", "price", "fk")
    val parent = Seq(5L, 6L).toDF("pk")
    val rows = graft.operators.Checks
      .rowChecks(dirty, Seq(
        "positive_price" -> ($"price" > 0),
        "id_small" -> ($"id" < 100)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rows("positive_price") == (2L, false)) // negative AND null both violate
    assert(rows("id_small") == (0L, true))
    val uniq = graft.operators.Checks
      .uniqueCheck(dirty, "unique_id", Seq($"id")).head()
    assert(uniq.getLong(1) == 1L && !uniq.getBoolean(2))
    val fk = graft.operators.Checks
      .referentialCheck(dirty, $"fk", parent, $"pk", "fk_check").head()
    assert(fk.getLong(1) == 2L && !fk.getBoolean(2)) // 99 and null
  }

  test("profile: null/distinct counts exact, modal tie-break smallest value") {
    val df = Seq(
      (Some("a"), Some(1L)), (Some("a"), Some(2L)),
      (Some("b"), Some(2L)), (Some("b"), None),
      (None, Some(2L))
    ).toDF("s", "v")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val got = graft.operators.Checks
      .profile(df, Seq("s", "v"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .toMap
    // s: one null, two distinct, mode tie a/b (both 2) -> 'a'
    assert(got("s") == (1L, 2L, "a", 2L))
    // v: one null, two distinct, mode '2' with 3 hits
    assert(got("v") == (1L, 2L, "2", 3L))
    // cache hygiene: the internal counts persist is released before
    // return — a profile call leaves no NEW persistent blocks at rest
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"profile left persistent RDDs behind: $leaked")
  }

  test("skewReport/skewTopKeys: exact order statistics, whale surfaced, null key counted") {
    // 1 whale (90 rows), 9 keys of 1 row, 1 null-key row -> 11 groups
    val rows = (1 to 90).map(_ => Option("whale")) ++
      (1 to 9).map(i => Option(s"k$i")) ++ Seq(Option.empty[String])
    val df = rows.toDF("k")
    val rep = graft.operators.Checks.skewReport(df, $"k").collect().head
    assert(rep.getLong(0) == 11L, "n_keys")
    assert(rep.getLong(1) == 100L, "total_rows")
    assert(rep.getLong(2) == 90L, "max_n")
    assert(rep.getLong(3) == 1L, "p50 of sizes {1x10, 90}")
    // p99 target = ceil(0.99*11) = 11 -> the whale's size
    assert(rep.getLong(4) == 90L, "p99")
    // skew6 = 90 * 1e6 * 11 / 100 = 9_900_000 (mean ~9.09, ratio 9.9)
    assert(rep.getLong(5) == 9900000L, s"skew6 = ${rep.getLong(5)}")
    val top = graft.operators.Checks.skewTopKeys(df, $"k", 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(top.head == (("whale", 90L, 900000L)), top.mkString(","))
    assert(top.length == 3)
  }

  test("coverageAudit: partial artifact surfaces missing, foreign rows surface extra") {
    val corpus = Seq(1L, 2L, 3L, 4L).toDF("id")
    val artifact = Seq(1L, 2L, 2L, 5L).toDF("id") // dup collapses; 3,4 missing; 5 extra
    val r = graft.operators.Checks
      .coverageAudit(corpus, $"id", artifact, $"id")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)) ==
      ((4L, 3L, 2L, 1L, false)))
  }

  test("ksDrift: mirror group scores 0, disjoint group scores the honest CDF gap") {
    // corpus = a:{0.1 x2, 0.9 x2} + b:{0.1, 0.9} (same shape -> both
    // groups mirror the corpus, ks 0) ; c concentrates at 0.1 only
    val rows = Seq(
      ("a", 0.1), ("a", 0.1), ("a", 0.9), ("a", 0.9),
      ("b", 0.1), ("b", 0.9),
      ("c", 0.1), ("c", 0.1)
    ).toDF("g", "v")
    val got = graft.operators.Checks
      .ksDrift(rows, $"g", $"v", 0.0, 1.0, 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // corpus CDF at bucket 1..8 = 5/8 = 625000 micro; a/b CDF = 1/2 =
    // 500000 -> gap 125000; c CDF = 1 -> gap 375000
    assert(got("a") == ((4L, 125000L)), got.toString)
    assert(got("b") == ((2L, 125000L)), got.toString)
    assert(got("c") == ((2L, 375000L)), got.toString)
  }

  test("mergeAggDelta: overlap sums, one-sided keys survive, empty delta is identity") {
    val base = Seq((1L, 2L, 10.0), (2L, 1L, 5.0)).toDF("k", "n", "s")
    val delta = Seq((2L, 3L, 7.0), (3L, 1L, 1.0)).toDF("k", "n", "s")
    val got = graft.operators.Relational
      .mergeAggDelta(base, delta, Seq("k"), Seq("n", "s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == Map(1L -> (2L, 10.0), 2L -> (4L, 12.0), 3L -> (1L, 1.0)))
    val id = graft.operators.Relational
      .mergeAggDelta(base, delta.filter($"k" < 0), Seq("k"), Seq("n", "s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(id == Map(1L -> (2L, 10.0), 2L -> (1L, 5.0)))
  }

  test("readability: hand-counted sentences/words/vowel groups, exact milli Flesch") {
    // 3 sentences, 6 words, 7 vowel runs:
    // 206835 - 1015000*6 div 3000 - 84600000*7 div 6000 = 106105
    val df = Seq((1L, "the cat sat. it ran! done"), (2L, "   ")).toDF("doc_id", "text")
    val got = TextAnalysis.readability(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 3L, 6L, 7L, 106105L))) // blank doc excluded
  }

  test("perplexityKn: hand-computed ratio and the Francisco effect (context diversity)") {
    // fit corpus: "a b", "c b", "d g", "d g" -> B=3 distinct bigrams,
    // V=5 terms, bv=8. b and g are EQUALLY frequent (2 each) but b
    // follows two contexts, g one: pc(b)=3/8 > pc(g)=2/8 — KN's whole
    // point. Seen bigram (d,g): c=2, c(d)=2, N1+(d.)=1, N1+(.g)=1:
    // p = ((4*2-3)*8 + 3*1*2)/(4*2*8) = 46/64.
    val fit = Seq((1L, "a b"), (2L, "c b"), (3L, "d g"), (4L, "d g"))
      .toDF("doc_id", "text")
    val scored = TextAnalysis.perplexityKn(fit, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // doc 3/4 "d g": nll = -(pc6(d) + bi6(d,g))
    //   pc(d) = 1/8 -> -2079442; p(g|d) = 46/64 -> -330242
    assert(scored(3L) == 2079442L + 330242L)
    // Francisco effect via the backoff path: docs "x" scoring b vs g
    val probe = fit.unionByName(Seq((10L, "b"), (11L, "g")).toDF("doc_id", "text"))
    val lm = TextAnalysis.perplexityKn(probe, "text", "doc_id")
    // refit on probe corpus shifts constants; compare b vs g scored
    // under the SAME fit — fewer contexts must cost more nats
    val p = lm.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(p(11L) > p(10L), s"g (1 context) should out-cost b (2 contexts): $p")
  }

  test("topicBoundaries: the concatenation seam scores weakest; short docs excluded") {
    // 12 tokens, 6 blocks of 2: first half repeats {a b}, second half
    // {x y} -> seams inside halves jaccard 1e6, the seam between
    // halves (block 2|3) jaccard 0 -> seam_block 3, seam_pos 6
    val df = Seq(
      (1L, "a b a b a b x y x y x y"),
      (2L, "too short here")).toDF("doc_id", "text")
    val got = TextAnalysis.topicBoundaries(df, "text", "doc_id", 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, 3L, 6L, 0L)))
  }

  test("phraseSnippets: first hit wins, window clips at both document edges") {
    val df = Seq(
      (1L, "x a b y z w q"),     // hit at pos 1: window clips left
      (2L, "p q r s t a b"),     // hit at pos 5: window clips right
      (3L, "a b c a b")          // two hits -> first_pos 0
    ).toDF("doc_id", "text")
    val idx = TextAnalysis.invertedIndex(df, "text", "doc_id")
    val got = TextAnalysis.phraseSnippets(idx, df, "text", "doc_id", Seq("a", "b"), window = 2)
      .orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(
      (1L, 1L, "x a b y z w"),   // start clipped to token 1, 6 tokens
      (2L, 5L, "s t a b"),       // right edge clips the window
      (3L, 0L, "a b c a b")))    // first match; 6-token window covers all 5
  }

  test("invertedIndex/phraseSearch: 3-term fold, overlaps count, absent term empty") {
    val docs = Seq(
      (1L, "a b c a b c"),   // "a b c" twice
      (2L, "a a b c"),       // once (second 'a' starts it)
      (3L, "a c b"),         // terms present, phrase absent
      (4L, "b c a")          // wrap-around is NOT a match
    ).toDF("doc_id", "text")
    val idx = graft.operators.TextAnalysis.invertedIndex(docs, "text", "doc_id")
    val got = graft.operators.TextAnalysis
      .phraseSearch(idx, Seq("a", "b", "c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 2, 2L -> 1))
    // absent term kills the fold
    assert(graft.operators.TextAnalysis
      .phraseSearch(idx, Seq("a", "zz")).collect().isEmpty)
    // single-term phrase degrades to a postings lookup
    val single = graft.operators.TextAnalysis
      .phraseSearch(idx, Seq("b")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(single == Map(1L -> 2, 2L -> 1, 3L -> 1, 4L -> 1))
  }

  test("zValue: exact interleave, range bounds, locality beats natural order") {
    val got = Seq((3L, 5L), (0L, 0L), (1023L, 1023L), (1024L, 0L))
      .toDF("x", "y")
      .select(graft.operators.Layout.zValue($"x", $"y", 10).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // x=3 (bits 0,1 -> positions 1,3), y=5 (bits 0,2 -> positions 0,4)
    assert(got(0) == 27L)
    assert(got(1) == 0L)
    assert(got(2) == (1L << 20) - 1)  // all 20 bits set
    assert(got(3) == 0L)              // masked to low 10 bits
    // locality: sorting by z clusters partkey ranges into few buckets
    val df = (0L until 4096L).map(i => (i % 64, i / 64)).toDF("p", "s")
    val z = graft.operators.Layout.zValue($"p", $"s", 6)
    val touched = graft.operators.Layout
      .skippingReport(df, "z", shiftright(z, 6), $"p", 0L, 8L)
      .head().getLong(2)
    val natural = graft.operators.Layout
      .skippingReport(df, "n", shiftright($"s" * 64 + $"p", 6), $"p", 0L, 8L)
      .head().getLong(2)
    assert(touched < natural, s"z-order touched=$touched !< natural=$natural")
  }

  test("scd2History: runs collapse, intervals chain, null first version survives") {
    val log = Seq(
      (1L, 1L, "a"), (1L, 2L, "a"), (1L, 5L, "b"), (1L, 7L, "a"),
      (2L, 3L, null.asInstanceOf[String]), (2L, 4L, null.asInstanceOf[String]),
      (2L, 9L, "x")
    ).toDF("k", "seq", "v")
    val got = graft.operators.Relational
      .scd2History(log, Seq("k"), $"seq", Seq("v"))
      .select($"k", $"v", $"valid_from", $"valid_to", $"is_current")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
      .toSet
    assert(got == Set(
      (1L, Some("a"), 1L, Some(5L), false),  // run 1-2 collapsed
      (1L, Some("b"), 5L, Some(7L), false),
      (1L, Some("a"), 7L, None, true),       // value may RECUR as a new version
      (2L, None, 3L, Some(9L), false),       // all-null first version kept
      (2L, Some("x"), 9L, None, true)))
  }

  test("cmsBuild/cmsEstimate: never underestimates, exact for isolated keys, partition-stable") {
    val heavy = Seq.fill(500)("hot")
    val mids = (1 to 50).flatMap(i => Seq.fill(10)(s"mid$i"))
    val tail = (1 to 2000).map(i => s"rare$i")
    val df = (heavy ++ mids ++ tail).toDF("key")
    val exact = df.groupBy($"key").agg(count(lit(1)).as("n_exact"))
    def run(parts: Int): Map[String, (Long, Long)] = {
      val sk = graft.operators.Sketches
        .cmsBuild(df.repartition(parts), $"key", depth = 4, width = 1024)
      graft.operators.Sketches
        .cmsEstimate(exact, $"key", sk, depth = 4, width = 1024)
        .collect()
        .map(r => r.getAs[String]("key") ->
          (r.getAs[Long]("n_exact"), r.getAs[Long]("cms_est")))
        .toMap
    }
    val got = run(4)
    // CMS is a one-sided estimator: collisions only ADD
    got.foreach { case (k, (ex, est)) =>
      assert(est >= ex, s"$k underestimated: $est < $ex")
    }
    // the heavy hitter dwarfs any collision noise (error <= 2N/width)
    val (hotEx, hotEst) = got("hot")
    assert(hotEx == 500L && hotEst - hotEx <= 2L * 3050L / 1024L + 50L)
    // counter sums are order-free: identical sketch at any partitioning
    assert(run(13) == got)
  }

  test("perplexityBigram: scrambled word ORDER scores tail where unigram is blind") {
    val natural = "the quick brown fox jumps over the lazy dog"
    val scrambled = "dog the over quick lazy brown the jumps fox" // same bag of words
    val df = (1L to 8L).map(i => (i, natural)).toDF("doc_id", "text")
      .union(Seq((9L, scrambled)).toDF("doc_id", "text"))
    val bi = TextAnalysis.perplexityBigram(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(bi(9L) > bi(1L), s"bigram LM must punish scrambled order: $bi")
    val uni = TextAnalysis.perplexity(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // identical word bag -> unigram can't separate them
    assert(math.abs(uni(9L) - uni(1L)) < 1e-9)
  }

  test("scoreBigramLm: cross-corpus scoring hits backoff and OOV fallbacks") {
    val fit = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta")).toDF("doc_id", "text")
    val lm = TextAnalysis.fitBigramLm(fit, "text")
    val score = Seq(
      (10L, "alpha beta"),   // seen bigram
      (11L, "beta alpha"),   // seen terms, UNSEEN pair -> per-term backoff
      (12L, "omega zeta")    // unseen everything -> oov + oov-backoff
    ).toDF("doc_id", "text")
    val got = TextAnalysis.scoreBigramLm(score, "text", "doc_id", lm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(got.map(_._1).toSet == Set(10L, 11L, 12L))
    assert(got.forall { case (_, n, nll) => n == 2L && !nll.isNaN && nll > 0 })
    val byId = got.map(g => g._1 -> g._3).toMap
    assert(byId(10L) < byId(11L) && byId(11L) < byId(12L),
      s"seen pair < backoff < full OOV expected: $byId")
  }

  test("scoreBigramLmFromPairs: a shared pair stream scores bit-identically") {
    val fit = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta")).toDF("doc_id", "text")
    val lm = TextAnalysis.fitBigramLm(fit, "text")
    val score = Seq(
      (10L, "alpha beta"), (11L, "beta alpha"), (12L, "omega zeta"),
      (13L, "gamma alpha beta delta")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1).toSeq
    val direct = rows(TextAnalysis.scoreBigramLm(score, "text", "doc_id", lm))
    // the memoized-consumer path: derive the pair stream once (here
    // through a parquet round-trip, the harness memo's storage), then
    // score it — must be bit-identical to the in-line tokenize path
    val p = java.nio.file.Files
      .createTempDirectory("graft_pairstream_spec").toString + "/pairs"
    TextAnalysis.bigramPairs(score, "text", "doc_id")
      .write.mode("overwrite").parquet(p)
    val shared = rows(TextAnalysis.scoreBigramLmFromPairs(spark.read.parquet(p), lm))
    assert(shared == direct, s"pair-stream path diverged:\n$shared\n$direct")
  }

  test("exciseContaminated: excises a leak at ANY token offset; full leak drops the doc") {
    val leak = "what is the capital of"
    val bench = Seq((100L, s"quiz intro words here $leak france answer follows")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"one two three four five six seven eight nine ten $leak and more trailing words here"),
      (2L, "completely unrelated content with no benchmark overlap at all"),
      (3L, leak), // the whole doc IS the leak -> dropped entirely
      (4L, s"pre amble $leak tail words") // leak NOT aligned to any 5-token grid
    ).toDF("doc_id", "text")
    val got = operators.Dedup
      .exciseContaminated(corpus, bench, "text", "doc_id", 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(!got.contains(3L), "fully-contaminated doc must drop out")
    assert(got(1L) == ((
      "one two three four five six seven eight nine ten and more trailing words here",
      15L, 5L)))
    assert(got(2L) == (("completely unrelated content with no benchmark overlap at all", 9L, 0L)))
    assert(got(4L) == (("pre amble tail words", 4L, 5L)))
  }

  test("exciseContaminated: high-contamination corpus — join-back is unhinted, results exact") {
    // HALF the corpus leaks the benchmark phrase: the covered-sets
    // side is O(corpus), so a forced broadcast() on the join-back
    // would pin a data-dependent volume in the driver. Only the
    // benchmark-gram side may carry a broadcast hint.
    val leak = "alpha beta gamma delta epsilon"
    val bench = Seq((100L, s"context $leak more context")).toDF("doc_id", "text")
    val corpus = (0 until 400).map { i =>
      if (i % 2 == 0) (i.toLong, s"u${i}x u${i}y $leak u${i}z tail$i")
      else (i.toLong, s"u${i}x u${i}y clean body words u${i}z tail$i")
    }.toDF("doc_id", "text")
    val out = operators.Dedup.exciseContaminated(corpus, bench, "text", "doc_id", 5)
    val hints = "ResolvedHint".r.findAllIn(out.queryExecution.analyzed.toString).size
    assert(hints == 1, s"expected ONLY the benchmark-side broadcast hint, found $hints")
    val got = out.collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == 400)
    (0 until 400).foreach { i =>
      if (i % 2 == 0) assert(got(i.toLong) == ((4L, 5L)), s"doc $i: ${got(i.toLong)}")
      else assert(got(i.toLong) == ((7L, 0L)), s"doc $i: ${got(i.toLong)}")
    }
  }

  test("fitUnigramLm/scoreUnigramLm: cross-corpus scoring with OOV fallback") {
    def lp6(p: Double): Long =
      BigDecimal(math.log(p) * 1e6)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val hist = Seq((1L, "aa bb cc aa"), (2L, "aa bb")).toDF("doc_id", "text")
    val lm = TextAnalysis.fitUnigramLm(hist, "text")
    // T=6 tokens, V=3 vocab -> denom 9; aa seen 3x, zz unseen
    val scored = TextAnalysis
      .scoreUnigramLm(
        Seq((10L, "aa aa"), (11L, "zz zz")).toDF("doc_id", "text"),
        "text", "doc_id", lm)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scored(10L) == ((2L, -2L * lp6(4.0 / 9.0))))
    assert(scored(11L) == ((2L, -2L * lp6(1.0 / 9.0))))
    // the OOV doc is strictly less likely than the in-vocab doc
    assert(scored(11L)._2 > scored(10L)._2)
  }

  test("dsirWeights: target-distinctive tokens rank above raw-typical ones") {
    val df = Seq(
      (1L, "alpha beta gamma", true),
      (2L, "alpha beta delta", true),
      (3L, "omega psi chi", false),
      (4L, "omega psi chi", false),
      (5L, "alpha beta gamma", false), // target-LIKE but not in target
      (6L, "omega psi chi", false),
      (7L, " ", false)
    ).toDF("doc_id", "text", "tgt")
    val got = operators.Sampling
      .dsirWeights(df, "text", "doc_id", $"tgt", 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(!got.contains(7L))
    // docs made of target-distinctive tokens outscore raw-typical docs,
    // whether or not they were themselves in the target slice
    assert(got(5L) == got(1L))
    assert(got(1L) > got(3L) && got(2L) > got(4L))
  }

  test("temperatureSample: alpha<1 flattens toward small groups; alpha=1 is proportional") {
    val df = ((1L to 900L).map(i => (i, "big")) ++ (901L to 1000L).map(i => (i, "small")))
      .toDF("id", "g")
    def kept(alpha: Double) = operators.Sampling
      .temperatureSample(df, $"g", $"id", alpha, 200L)
      .groupBy($"g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val flat = kept(0.5)
    val prop = kept(1.0)
    // alpha=1 reproduces the raw mix: keep fraction equal across groups
    assert(math.abs(prop("big") / 900.0 - prop.getOrElse("small", 0L) / 100.0) < 0.1)
    // alpha=0.5 up-weights the small group's keep fraction
    assert(flat("small") / 100.0 > flat("big") / 900.0)
    // deterministic
    assert(kept(0.5) == flat)
  }

  test("winnowSpanPairs: shared long span pairs; boilerplate span dies at the df-cap") {
    def doc(i: Long, unique: String, span: String) = (i, s"$unique $span")
    val shared = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      doc(1L, "alpha block one with plenty of padding text around it", shared),
      doc(2L, "beta block two with different padding text around it!", shared),
      (3L, "gamma block three totally unrelated content with no overlap at all in sight here")
    ).toDF("doc_id", "text")
    val pairs = operators.Dedup
      .winnowSpanPairs(docs, "text", "doc_id", 8, 10, 10, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"expected only the span-sharing pair, got $pairs")
    // plant the SAME span in many docs with a low df-cap: the hot
    // fingerprints die at the cap, so no quadratic pair blow-up
    val many = (1L to 20L).map(i => (i, s"unique prefix number $i $shared")).toDF("doc_id", "text")
    val capped = operators.Dedup
      .winnowSpanPairs(many, "text", "doc_id", 8, 10, 5, 2)
      .count()
    assert(capped == 0L, s"df-capped boilerplate span should yield no pairs, got $capped")
  }

  test("normalizeText and bpeTokenCount") {
    val r = Seq("  Hello,   World42!​ ").toDF("t")
      .select(
        graft.functions.TextFns.normalizeText($"t"),
        graft.functions.TextFns.bpeTokenCount(lit("Hello, world 42!")))
      .head()
    assert(r.getString(0) == "hello, world42!")
    // tokens: "Hello" "," " world" " 42" "!"
    assert(r.getLong(1) == 5L)
  }

  test("embeddingNearDupPairs thresholds on cosine") {
    val df = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.999, 0.01)), (3L, Seq(0.0, 1.0))
    ).toDF("id", "emb")
    val pairs = Dedup.embeddingNearDupPairs(df, "id", "emb", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  // Similarity --------------------------------------------------------------
  private val vecs = Seq(
    (0L, Seq(1.0, 0.0, 0.0), 0), (1L, Seq(0.9, 0.1, 0.0), 0),
    (2L, Seq(0.0, 1.0, 0.0), 1), (3L, Seq(0.0, 0.9, 0.1), 1),
    (4L, Seq(0.0, 0.0, 1.0), 2)
  ).toDF("vec_id", "embedding", "label")

  test("bruteForceTopK ranks by cosine with prefilter pushed down") {
    val got = Similarity
      .bruteForceTopK(vecs, "embedding", Array(1.0, 0.0, 0.0), 2)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L))
    val filtered = Similarity
      .bruteForceTopK(vecs, "embedding", Array(1.0, 0.0, 0.0), 2, $"label" === 1)
      .collect().map(_.getLong(0)).toSet
    assert(filtered == Set(2L, 3L))
  }

  test("nearestNeighborJoin: each vector's 1-NN") {
    val got = Similarity.nearestNeighborJoin(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) == 1L && got(1L) == 0L && got(2L) == 3L && got(3L) == 2L)
  }

  test("nearestNeighborJoin: exact score ties break to min nn_id") {
    // 1 and 2 are identical vectors: 0's two best scores tie exactly,
    // so the deterministic winner is the smaller id (oracle's
    // ORDER BY score DESC, nn_id semantics). Same for 1 vs {0?no} —
    // 1's NN is its duplicate 2; 2's NN is its duplicate 1.
    val dup = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.6, 0.8)), (2L, Seq(0.6, 0.8)),
      (3L, Seq(0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.nearestNeighborJoin(dup, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val m = got.map(r => r._1 -> r._2).toMap
    assert(m(0L) == 1L) // tie between 1 and 2 -> min id
    assert(m(1L) == 2L && m(2L) == 1L) // identical pair are mutual NNs, score 1.0
    assert(got.find(_._1 == 1L).get._3 == 1.0)
  }

  test("ivfAssign + ivfTopK probe only nearest cells") {
    val centroids = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(0.0, 0.0, 1.0))
    val assigned = Similarity.ivfAssign(vecs, "embedding", centroids)
    val cells = assigned.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(0L) == 0 && cells(1L) == 0 && cells(2L) == 1 && cells(4L) == 2)
    val top = Similarity.ivfTopK(assigned, "embedding", centroids, Array(1.0, 0.05, 0.0), 2, 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(0L, 1L)) // only cell 0 probed
  }

  // TextAnalysis ------------------------------------------------------------
  test("langId argmax with lexicographic tie-break") {
    val markers = Seq("aa" -> Seq("x"), "bb" -> Seq("y"))
    val got = Seq("x x y", "y", "z").toDF("t")
      .select(TextAnalysis.langId($"t", markers)).collect().map(_.getString(0)).toSeq
    assert(got == Seq("aa", "bb", "aa")) // tie on zero hits -> first lang
  }

  test("riskSignals: first keyword per category only") {
    val cats = Seq(("lay", Seq("layoff", "laid off"), "high"), ("sec", Seq("breach"), "critical"))
    val got = Seq("massive layoff after laid off rumors and a breach").toDF("t")
      .select(explode(TextAnalysis.riskSignals($"t", cats)).as("r"))
      .select("r.risk_type", "r.keyword", "r.severity")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(("lay", "layoff", "high"), ("sec", "breach", "critical")))
  }

  test("qualityScore stays in [0,1]") {
    val scores = Seq("", "a", "the quick brown fox of the glen", "x" * 1000)
      .toDF("t").select(TextAnalysis.qualityScore($"t", Seq("the", "a", "of")))
      .collect().map(_.getDouble(0))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("sentimentFlags count docs with pos/neg keywords") {
    val (p, n) = TextAnalysis.sentimentFlags($"t", Seq("launches"), Seq("layoff"))
    val got = Seq("X launches Y", "Z layoff", "nothing", "launches amid layoff")
      .toDF("t").select(p.as("p"), n.as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 0L), (0L, 1L), (0L, 0L), (1L, 1L)))
  }

  test("asofJoin: latest right row at or before each left ts, per key") {
    val left = Seq(("a", 5L, 100L), ("a", 10L, 101L), ("a", 2L, 102L), ("b", 7L, 103L))
      .toDF("k", "ts", "lid")
    val right = Seq(("a", 3L, 1L, 30.0), ("a", 10L, 2L, 99.0), ("a", 3L, 3L, 31.0), ("c", 1L, 4L, 7.0))
      .toDF("k", "ts", "rid", "v")
    val got = graft.operators.Relational
      .asofJoin(left, right, "k", "ts", Seq("v"), $"rid")
      .select($"lid", $"asof_v")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got(100L).contains(31.0)) // ties at ts=3 resolve to larger rid
    assert(got(101L).contains(99.0)) // inclusive: right row AT ts counts
    assert(got(102L).isEmpty)        // nothing precedes ts=2
    assert(got(103L).isEmpty)        // no right rows for key b
  }

  test("fitCentroids recovers two separated clusters; ivfTopK probes the right cell") {
    // two tight direction-clusters in 4-d
    val clusterA = (0 until 10).map(i => (i.toLong, Seq(1.0, 0.01 * i, 0.0, 0.0)))
    val clusterB = (10 until 20).map(i => (i.toLong, Seq(0.0, 0.0, 1.0, 0.01 * (i - 10))))
    val df = (clusterA ++ clusterB).toDF("vec_id", "embedding")
    val cents = graft.operators.Similarity.fitCentroids(df, "vec_id", "embedding", 2, 3)
    assert(cents.length == 2)
    // one centroid per cluster: dominant dims differ
    val dominant = cents.map(c => c.indexOf(c.max)).toSet
    assert(dominant == Set(0, 2))
    // probing 1 cell for a query near cluster B returns only B members
    val assigned = graft.operators.Similarity.ivfAssign(df, "embedding", cents)
    val top = graft.operators.Similarity
      .ivfTopK(assigned, "embedding", cents, Array(0.0, 0.0, 1.0, 0.05), 3, 1)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(top.forall(_ >= 10L), s"expected only cluster-B ids, got $top")
  }

  test("pqEncode/pqTopK: codes pick nearest subspace centroid; rerank returns exact best") {
    // 4-d vectors, 2 subspaces of 2 dims; centroids from ids 1 and 2
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 1.0)),
      (2L, Seq(0.0, 1.0, 1.0, 0.0)),
      (3L, Seq(0.9, 0.1, 0.1, 0.9)), // near vector 1 in both subspaces
      (4L, Seq(0.1, 0.9, 0.9, 0.1))) // near vector 2 in both subspaces
    val df = vecs.toDF("vec_id", "embedding")
    val cents = (0 until 2).map(s =>
      Seq(vecs(0)._2.slice(s * 2, s * 2 + 2).toArray, vecs(1)._2.slice(s * 2, s * 2 + 2).toArray))
    val encoded = graft.operators.Similarity.pqEncode(df, "embedding", 2, cents)
    val codes = encoded.orderBy($"vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(r.fieldIndex("pq_0")), r.getInt(r.fieldIndex("pq_1"))))
    assert(codes.toSeq == Seq((1L, 0, 0), (2L, 1, 1), (3L, 0, 0), (4L, 1, 1)))
    val top = graft.operators.Similarity
      .pqTopK(encoded, "embedding", cents, Array(1.0, 0.0, 0.0, 1.0), 2, 3, 1)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L)) // exact rerank finds the identical vector
  }

  test("rangeJoinBucketed: exact containment incl. boundaries, no misses across cells") {
    val points = Seq((1L, 0.5), (2L, 10.0), (3L, 29.9), (4L, 55.0)).toDF("pid", "x")
    val ivals = Seq((0.0, 10.0, "low"), (10.0, 30.0, "mid")).toDF("lo", "hi", "band")
    val got = graft.operators.Relational
      .rangeJoinBucketed(points, ivals, "x", "lo", "hi", 3.0)
      .select($"pid", $"band")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    assert(got == Set((1L, "low"), (2L, "low"), (2L, "mid"), (3L, "mid")))
  }

  test("captureRecapture: Chapman estimate from two detectors' overlap; inputs dedup") {
    import graft.operators.Dedup
    // A finds 4 pairs (one duplicated row), B finds 2, overlap 1:
    // n_hat = 5*3 div 2 - 1 = 6; recalls 4/6 and 2/6.
    val a = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (1L, 2L)).toDF("id_a", "id_b")
    val b = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val r = Dedup.captureRecapture(a, b).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) ==
      ((4L, 2L, 1L, 6L, 666666L, 333333L)))
    // disjoint detectors stay finite via the +1 correction
    val c = Seq((7L, 8L)).toDF("id_a", "id_b")
    val rd = Dedup.captureRecapture(a, c).head()
    assert((rd.getLong(2), rd.getLong(3)) == ((0L, 9L)))
  }
}
