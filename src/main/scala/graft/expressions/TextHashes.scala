package graft.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared per-document text-hash kernels for the dedup family.
  *
  * These mirror the engine's relational formulations bit-for-bit (the
  * DuckDB oracles are written against those), but run as ONE
  * interpreted eval per document instead of exploding a row per
  * token/shingle through shuffles, windows and wide aggregates:
  * corpus-linear, embarrassingly parallel, no per-gram rows on the
  * wire — the shape that survives a 100 TB corpus. CodegenFallback is
  * deliberate: each call does its own tight loops over one doc.
  */
private[expressions] object TextHashKernels {

  /** Exactly `TextFns.tokens`: whitespace split of the space-trimmed
    * text (Spark `trim` removes 0x20 only; `split` keeps trailing
    * empties, Java `Pattern.split` with limit -1).
    */
  def tokens(text: UTF8String): Array[String] = {
    val t = text.trim().toString
    if (t.isEmpty) Array.empty[String] else t.split("\\s+", -1)
  }

  /** Distinct word n-gram shingles, first-occurrence order. */
  def shingles(text: UTF8String, n: Int): Array[String] = {
    val toks = tokens(text)
    if (toks.length < n) return Array.empty[String]
    val out = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out.add(sb.toString)
      i += 1
    }
    out.toArray(new Array[String](out.size))
  }

  /** All word n-grams in POSITIONAL order (index i = n-gram starting
    * at token i) — no distinct, unlike `shingles`, so
    * `posexplode` recovers the start offset for span-level work.
    */
  def shinglesAll(text: UTF8String, n: Int): Array[String] = {
    val toks = tokens(text)
    if (toks.length < n) return Array.empty[String]
    val out = new Array[String](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  /** Unsigned big-endian int from 4 digest bytes at `off` — equals
    * `conv(substring(hex_digest, off*2+1, 8), 16, 10)`.
    */
  def word32(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
      ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)

  /** Signed big-endian long from the first 8 digest bytes. */
  def word64(d: Array[Byte]): Long =
    (word32(d, 0) << 32) | word32(d, 4)

  private val hexDigits: Array[Byte] = "0123456789abcdef".getBytes("US-ASCII")

  /** The low 4*`width` bits of `v` as lowercase hex bytes — the ONE
    * hex emitter all kernels share, so the md5-slice oracle mirrors
    * can't drift apart copy by copy.
    */
  def hexBytes(v: Long, width: Int): Array[Byte] = {
    val b = new Array[Byte](width)
    var p = 0
    while (p < width) {
      b(p) = hexDigits(((v >>> ((width - 1 - p) * 4)) & 0xf).toInt)
      p += 1
    }
    b
  }
}

/** `word_shingles(text, n)` — the distinct word-n-gram shingle set of
  * a document (the row-per-shingle relational form is
  * `Dedup.shingleTable`; semantics identical).
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression
    with CodegenFallback {

  require(n >= 1, "word_shingles: n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"word_shingles requires a string input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val sh = TextHashKernels.shingles(input.asInstanceOf[UTF8String], n)
    val arr = new Array[Any](sh.length)
    var i = 0
    while (i < sh.length) { arr(i) = UTF8String.fromString(sh(i)); i += 1 }
    new GenericArrayData(arr)
  }

  override def prettyName: String = "word_shingles"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  def shingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))
}

/** `word_shingles_all(text, n)` — every word n-gram in positional
  * order (no distinct): index i holds the n-gram starting at token i,
  * so `posexplode` yields (start, gram) pairs. One tight kernel pass
  * per doc where the equivalent
  * `transform(sequence(...), p -> concat_ws(slice(...)))` runs the
  * interpreted higher-order-function path per POSITION (measured ~4×
  * slower on the span-excision gram pass).
  */
case class WordShinglesAll(child: Expression, n: Int)
    extends UnaryExpression
    with CodegenFallback {

  require(n >= 1, "word_shingles_all: n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"word_shingles_all requires a string input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val sh = TextHashKernels.shinglesAll(input.asInstanceOf[UTF8String], n)
    val arr = new Array[Any](sh.length)
    var i = 0
    while (i < sh.length) { arr(i) = UTF8String.fromString(sh(i)); i += 1 }
    new GenericArrayData(arr)
  }

  override def prettyName: String = "word_shingles_all"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShinglesAll {
  def shingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShinglesAll(ColumnBridge.expression(text), n))
}

/** `minhash_sig(shingles, k)` — k-min-hash signature of a shingle
  * set as `array<long>`. Hash i of shingle s is the i%4-th 32-bit
  * big-endian word of md5(s) for i<4, of md5("1:"++s) for i<8, … —
  * exactly `Dedup.minhashExprs` (`conv` of the 8-hex-char md5 slices),
  * so the DuckDB oracle's md5 fold mirrors it unchanged. Empty input
  * yields null (a doc with no shingles has no signature, matching the
  * groupBy-min formulation where such docs are absent); null ELEMENTS
  * are skipped (a null shingle is not a set member — the aggregate
  * formulation's `min` ignores null hashes the same way).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression
    with CodegenFallback {

  require(numHashes >= 1, "minhash_sig: numHashes must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val sh = input.asInstanceOf[ArrayData]
    val nSh = sh.numElements()
    val md = MessageDigest.getInstance("MD5")
    val seeds = (numHashes + 3) / 4
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < nSh) {
      if (sh.isNullAt(i)) { i += 1 }
      else {
      any = true
      val s = sh.getUTF8String(i).toString
      var b = 0
      while (b < seeds) {
        md.reset()
        val payload = if (b == 0) s else s"$b:" + s
        md.update(payload.getBytes("UTF-8"))
        val d = md.digest()
        var j = b * 4
        val hi = math.min((b + 1) * 4, numHashes)
        while (j < hi) {
          val v = TextHashKernels.word32(d, (j % 4) * 4)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
        b += 1
      }
      i += 1
      }
    }
    if (!any) return null
    new GenericArrayData(mins.map(v => v: Any))
  }

  override def prettyName: String = "minhash_sig"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  def signature(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(
      MinHashSignature(ColumnBridge.expression(shingles), numHashes))
}

/** `simhash64(text)` — the 64-bit SimHash fingerprint as a
  * 16-hex-char string: per token the leading 64 md5 bits vote ±1 on
  * each bit position (set ⟺ 2·ones > n_tokens), identical to
  * `Dedup.simhashTable`'s explode → bit-vote-aggregate formulation
  * and its SQL mirror. Null for docs with zero tokens (such docs are
  * absent from the aggregate formulation). `maxTokensPerDoc` is
  * enforced per doc — the guard for corpora that should have been
  * chunked upstream.
  */
case class SimHash64(child: Expression, maxTokensPerDoc: Long)
    extends UnaryExpression
    with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires a string input, got ${other.catalogString}")
  }

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val toks = TextHashKernels.tokens(input.asInstanceOf[UTF8String])
    if (toks.length == 0) return null
    if (toks.length > maxTokensPerDoc)
      throw new IllegalArgumentException(
        s"simhash64: doc exceeds $maxTokensPerDoc tokens; cap or chunk upstream")
    val md = MessageDigest.getInstance("MD5")
    val ones = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      md.reset()
      md.update(toks(i).getBytes("UTF-8"))
      val d = md.digest()
      var bit = 0
      while (bit < 64) {
        if (((d(bit >> 3) >> (7 - (bit & 7))) & 1) == 1) ones(bit) += 1
        bit += 1
      }
      i += 1
    }
    val n = toks.length
    var fp = 0L
    var bit = 0
    while (bit < 64) {
      if (2 * ones(bit) > n) fp |= 1L << (63 - bit)
      bit += 1
    }
    UTF8String.fromBytes(TextHashKernels.hexBytes(fp, 16))
  }

  override def prettyName: String = "simhash64"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  def simhash(text: Column, maxTokensPerDoc: Long = Int.MaxValue): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(text), maxTokensPerDoc))
}

/** `HashEmbed(text, dim)` — the deterministic hashing featurizer: the
  * token-count vector of dimension `dim` where each token lands in
  * bucket `(md5(token)(0) >>> 4) % dim` (the first hex digit of its
  * md5, mod dim). Value-identical to the explode → md5 bucket → count
  * formulation and the DuckDB `embedText` mirror, but one eval per
  * chunk: no row per token, no shuffle, no join back to the chunks.
  * Null in → null out; text with no tokens (empty or spaces only) →
  * the zero vector. Counts are exact small integers, so the vector is
  * bit-identical however the tokens are visited.
  */
case class HashEmbed(child: Expression, dim: Int)
    extends UnaryExpression
    with CodegenFallback {

  require(dim >= 1, "hash_embed: dim must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"hash_embed requires a string input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(HashEmbed.vector(input.asInstanceOf[UTF8String], dim))

  override def prettyName: String = "hash_embed"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashEmbed {

  // one digest per thread, reused across tokens and rows
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** Static kernel shared by the expression and driver-side callers. */
  def vector(text: UTF8String, dim: Int): Array[Double] = {
    val toks = TextHashKernels.tokens(text)
    val md = md5.get()
    val d = new Array[Byte](16)
    val v = new Array[Double](dim)
    var i = 0
    while (i < toks.length) {
      md.update(toks(i).getBytes(StandardCharsets.UTF_8))
      md.digest(d, 0, 16) // also resets the digest
      v(((d(0) & 0xff) >>> 4) % dim) += 1.0
      i += 1
    }
    v
  }

  /** The kernel on a driver-side string; null in → null out. */
  def vector(text: String, dim: Int): Array[Double] =
    if (text == null) null else vector(UTF8String.fromString(text), dim)

  def embed(text: Column, dim: Int): Column =
    ColumnBridge.column(HashEmbed(ColumnBridge.expression(text), dim))
}

/** `sorted_hashes64(strings)` — each string's 64-bit hash (md5's first
  * 8 bytes, big-endian signed), sorted ascending and deduplicated.
  *
  * This is the set-as-sorted-longs representation production dedup
  * pipelines verify against: set size and intersection over the hashes
  * equal the string-set versions up to 64-bit collisions (~1e-15 for
  * the ~100-element sets a candidate pair compares), and a pair
  * verification becomes a zero-allocation merge walk instead of
  * hashing a hundred strings per pair.
  */
case class SortedHashes64(child: Expression)
    extends UnaryExpression
    with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"sorted_hashes64 requires array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = MessageDigest.getInstance("MD5")
    val hs = new Array[Long](n)
    var m = 0 // null elements are skipped: not set members
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        hs(m) = TextHashKernels.word64(md.digest())
        m += 1
      }
      i += 1
    }
    java.util.Arrays.sort(hs, 0, m)
    // dedupe in place (sorted)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }

  override def prettyName: String = "sorted_hashes64"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SortedHashes64 {
  def hashes(strings: Column): Column =
    ColumnBridge.column(SortedHashes64(ColumnBridge.expression(strings)))
}

/** `sorted_intersect_size(a, b)` — |A∩B| of two ascending-sorted long
  * arrays by a merge walk: O(|A|+|B|), no per-pair allocation. The hot
  * kernel of LSH pair verification.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression
    with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
        case ArrayType(LongType, _) => true
        case _                      => false
      })) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_size requires array<long> inputs, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      // null slots are not set members; skip them rather than reading
      // them as 0 (getLong on a null slot silently yields 0)
      if (x.isNullAt(i)) i += 1
      else if (y.isNullAt(j)) j += 1
      else {
        val xv = x.getLong(i)
        val yv = y.getLong(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
    }
    c
  }

  override def prettyName: String = "sorted_intersect_size"

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object SortedIntersectSize {
  def intersectSize(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedIntersectSize(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** `ngram_stats(text, n)` — word n-gram occurrence statistics of one
  * document: struct(total, distinct, top) where `total` counts all
  * n-gram occurrences, `distinct` the distinct n-grams, and `top` the
  * occurrences of the most frequent one. The inputs to the C4/Gopher
  * family of repetition quality filters (duplicate-n-gram fraction,
  * top-n-gram fraction). Null when the doc has fewer than n tokens.
  */
case class NgramStats(child: Expression, n: Int)
    extends UnaryExpression
    with CodegenFallback {

  require(n >= 1, "ngram_stats: n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"ngram_stats requires a string input, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(
    Seq(
      StructField("total", LongType, nullable = false),
      StructField("distinct", LongType, nullable = false),
      StructField("top", LongType, nullable = false)))

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val toks = TextHashKernels.tokens(input.asInstanceOf[UTF8String])
    val total = toks.length - (n - 1)
    if (total <= 0) return null
    val counts = new java.util.HashMap[String, Int]()
    var i = 0
    while (i < total) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      counts.merge(sb.toString, 1, (a, b) => a + b)
      i += 1
    }
    var top = 0
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next(); if (c > top) top = c }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total.toLong, counts.size.toLong, top.toLong))
  }

  override def prettyName: String = "ngram_stats"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramStats {
  def stats(text: Column, n: Int): Column =
    ColumnBridge.column(NgramStats(ColumnBridge.expression(text), n))
}
