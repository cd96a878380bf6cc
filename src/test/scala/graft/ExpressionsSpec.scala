package graft

import graft.expressions.{HashEmbed, MinHashSignature, SimHash64, SortedHashes64, SortedIntersectSize, WinnowFingerprints, WordShingles}
import graft.pipelines.Rag
import org.apache.spark.sql.functions._

/** Unit tests for the per-document kernel expressions, pinned against
  * the relational/built-in formulations they replaced (which the
  * DuckDB oracles mirror).
  */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("WordShingles matches tokenize+slide+distinct; short/empty docs empty") {
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b"),           // fewer tokens than n
      (3L, ""),              // blank
      (4L, "  x   y z  "),   // ragged whitespace
      (5L, "p q p q p q")    // duplicate shingles collapse
    ).toDF("id", "t")
    val got = df.select($"id", WordShingles.shingles($"t", 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(got(1L) == Set("a b c", "b c d"))
    assert(got(2L).isEmpty && got(3L).isEmpty)
    assert(got(4L) == Set("x y z"))
    assert(got(5L) == Set("p q p", "q p q"))
  }

  test("MinHashSignature equals the md5-slice min formulation") {
    // independent recomputation of Dedup.minhashExprs semantics on an
    // exploded table, vs the expression over the same shingle set
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today ok")
    ).toDF("doc_id", "text")
    val sh = graft.operators.Dedup.shingleTable(docs, "text", "doc_id", 3)
    val hs = graft.operators.Dedup.minhashExprs($"shingle", 8).zipWithIndex
      .map { case (h, i) => min(h).as(s"s$i") }
    val viaAgg = sh.groupBy($"id").agg(hs.head, hs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    val viaExpr = graft.operators.Dedup.shingleSets(docs, "text", "doc_id", 3)
      .select($"id", MinHashSignature.signature($"sh", 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(viaAgg == viaExpr)
  }

  test("SimHash64 equals the column-wise fingerprint; zero tokens null; cap enforced") {
    val df = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown cat"),
      (3L, "   ")
    ).toDF("id", "t")
    val viaExpr = df.select($"id", SimHash64.simhash($"t").as("fp"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val viaCol = df.filter(length(trim($"t")) > 0)
      .select($"id",
        graft.operators.Dedup.simhashFingerprint(graft.functions.TextFns.tokens($"t")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaExpr(1L).contains(viaCol(1L)))
    assert(viaExpr(2L).contains(viaCol(2L)))
    assert(viaExpr(3L).isEmpty)
    intercept[Exception] {
      df.filter($"id" === 1L)
        .select(SimHash64.simhash($"t", maxTokensPerDoc = 2)).collect()
    }
  }

  test("SortedHashes64 + SortedIntersectSize agree with string-set intersection") {
    val df = Seq(
      (Seq("a", "b", "c", "d"), Seq("b", "d", "e")),
      (Seq("x"), Seq("y")),
      (Seq.empty[String], Seq("a"))
    ).toDF("a", "b")
    val got = df.select(
      SortedIntersectSize.intersectSize(
        SortedHashes64.hashes($"a"), SortedHashes64.hashes($"b")).as("c"),
      size(array_intersect($"a", $"b")).as("expect"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    got.foreach { case (c, e) => assert(c == e) }
  }

  test("null array elements are skipped, not crashed on or counted as zero") {
    // SQL-surface inputs can carry null elements; they are not set
    // members: minhash/sorted-hash skip them, intersect never reads a
    // null slot as hash 0
    val r = spark.sql(
      "SELECT minhash_sig(array('a', CAST(NULL AS STRING)), 4) AS sig, " +
        "minhash_sig(array(CAST(NULL AS STRING)), 4) AS sig_null, " +
        "sorted_hashes64(array('a', CAST(NULL AS STRING), 'b')) AS hs, " +
        "sorted_intersect_size(array(CAST(NULL AS BIGINT), 1L, 2L), array(0L, 2L)) AS c")
      .collect().head
    val clean = spark.sql("SELECT minhash_sig(array('a'), 4) AS sig, " +
      "sorted_hashes64(array('a', 'b')) AS hs").collect().head
    assert(r.getSeq[Long](0) == clean.getSeq[Long](0)) // null member ignored
    assert(r.isNullAt(1)) // all-null set == empty set == no signature
    assert(r.getSeq[Long](2) == clean.getSeq[Long](1))
    assert(r.getInt(3) == 1) // only 2 matches; null slot is not hash 0
  }

  test("DoubleSortableBits: order-preserving, involution round-trips exactly") {
    import graft.expressions.DoubleSortableBits.{fromSortableBits, sortableBits}
    val xs = Seq(
      Double.NegativeInfinity, -1.5, -1.0, -0.9999999999999999, -1e-300,
      -0.0, 0.0, 1e-300, 0.5, 0.9999999999999999, 1.0, 1.5,
      Double.PositiveInfinity)
    val df = xs.toDF("x")
    val bits = df.select(sortableBits($"x")).collect().map(_.getLong(0)).toSeq
    // strict order preserved over the distinct values (-0.0 < 0.0 in bits)
    assert(bits == bits.sorted && bits.distinct == bits)
    // involution: decode(encode(x)) is bit-exact
    val back = df.select(fromSortableBits(sortableBits($"x"))).collect().map(_.getDouble(0))
    xs.zip(back).foreach { case (a, b) =>
      assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b))
    }
  }

  test("WinnowFingerprints equals the explode+window+distinct formulation") {
    val docs = Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz0123456789"),
      (2L, "aaaaaaaaaaaaaaaaaaaaaaa"),
      (3L, "short")
    ).toDF("doc_id", "text")
    val k = 8; val w = 10
    val viaExpr = graft.operators.TextAnalysis
      .winnowTable(docs, "text", "doc_id", k, w)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // relational reference formulation
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"id").orderBy($"i").rowsBetween(0, w - 1)
    val nG = greatest(length($"text") - (k - 1), lit(0))
    val viaWindow = docs
      .select($"doc_id".as("id"), $"text", nG.as("n"))
      .select($"id", $"text", $"n", posexplode(sequence(lit(1), $"n")).as(Seq("j", "i")))
      .select($"id", $"n", $"i", substring(md5($"text".substr($"i", lit(k))), 1, 8).as("h"))
      .withColumn("m", min($"h").over(win))
      .filter($"i" <= $"n" - (w - 1))
      .select($"id", $"m").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaExpr == viaWindow)
  }

  test("NfcNormalize composes combining marks; identity on NFC; null/empty safe") {
    val decomposed = "cafe\u0301"   // e + combining acute
    val precomposed = "caf\u00e9"   // precomposed \u00e9
    val hangulJamo = "\u1100\u1161" // choseong kiyeok + jungseong a
    val hangulSyllable = "\uAC00" // NFC of the jamo pair
    val emoji = "ok \uD83D\uDC4D\uD83C\uDFFD end" // non-BMP, already NFC
    val df = Seq(
      (1L, decomposed),
      (2L, precomposed),
      (3L, hangulJamo),
      (4L, hangulSyllable),
      (5L, emoji),
      (6L, ""),
      (7L, null.asInstanceOf[String]),
      (8L, "plain ascii unchanged")
    ).toDF("id", "t")
    val got = df
      .select($"id", graft.expressions.NfcNormalize.nfcNormalize($"t").as("n"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L).contains(precomposed))     // composition happened
    assert(got(2L).contains(precomposed))     // already-NFC unchanged
    assert(got(3L).contains(hangulSyllable))  // jamo compose to syllable
    assert(got(4L).contains(hangulSyllable))
    assert(got(5L).contains(emoji))           // astral chars untouched
    assert(got(6L).contains(""))
    assert(got(7L).isEmpty)                   // null in → null out
    assert(got(8L).contains("plain ascii unchanged"))
    // SQL surface (GraftExtensions) resolves the same kernel
    df.createOrReplaceTempView("nfc_in")
    val viaSql = spark
      .sql("SELECT id, nfc_normalize(t) AS n FROM nfc_in WHERE id = 1")
      .collect().head.getString(1)
    assert(viaSql == precomposed)
  }

  test("HashEmbed equals the explode + md5 bucket + count formulation and the query-side vector") {
    val texts = Seq(
      null,
      "",
      "   ",
      "\tleading tab",           // empty first token
      "trailing tab\t",          // empty last token
      "runs   of    spaces  ",
      "caf\u00e9 na\u00efve \u6771\u4eac \u00fcber caf\u00e9", // non-ASCII tokens
      "spark spark join window spark")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    for (dim <- Seq(1, 7, 16)) {
      // the relational oracle: a row per token, its md5 bucket, counted
      val bucket = (instr(lit("0123456789abcdef"), substring(md5($"tok"), 1, 1)) - 1) % dim
      val counts = df
        .select($"id", explode(graft.functions.TextFns.tokens($"t")).as("tok"))
        .groupBy($"id", bucket.as("b")).count()
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2).toDouble).toMap
      val oracle = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> Option(t).map(_ => Seq.tabulate(dim)(j => counts.getOrElse((i.toLong, j), 0.0)))
      }.toMap
      val got = df.select($"id", HashEmbed.embed($"t", dim).as("v"))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1)).map(_.toSeq)).toMap
      assert(got == oracle, s"dim $dim")
      // blank text is the zero vector, not a unit vector at md5('')'s bucket
      assert(got(1L).contains(Seq.fill(dim)(0.0)) && got(2L).contains(Seq.fill(dim)(0.0)))
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(Option(Rag.embedQueryVector(t, dim)).map(_.toSeq) == oracle(i.toLong), s"dim $dim, text $i")
      }
    }
  }
}
