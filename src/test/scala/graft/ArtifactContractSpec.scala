package graft

import graft.sources.Io
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ONE parametrized contract over ALL EIGHT persisted artifact
  * families (IVF, PQ, postings, phash, dup graph, minhash
  * signatures, LM count grids, value grid), so a family
  * drifting from the shared as-of/compaction semantics fails HERE
  * even if its own suite forgot the clause. The four clauses every
  * family must agree on under upserts:
  *
  *   1. as-of 0       == the base build's view
  *   2. as-of mid     == the view right after that stamp's upsert
  *   3. as-of max     == the live (latest) view
  *   4. compaction    preserves the live view AND forfeits history
  *                    (post-compact as-of 0 == live: one-generation
  *                    rewrite at stamp 0)
  *
  * plus, for the four row-versioned families (IVF, PQ, phash, minhash
  * signatures), the tombstone clause: a delete at stamp s is visible
  * to as-of reads at s and above, invisible below s; and, for every
  * family, the on-disk layout (child dirs, data and partition
  * columns) after build + upsert + delete and after compaction.
  *
  * Each family supplies build/upsert/delete/live/asOf/compact and a
  * canonical Set[String] rendering of its view; the clauses run
  * verbatim over all of them.
  */
class ArtifactContractSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def canon(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** A persisted artifact family's lifecycle hooks. The fixture
    * contract: build() writes the stamp-0 base; upsert(seq) for
    * seq = 1, 2 each REPLACES one existing id's payload and ADDS one
    * new id, so every clause compares materially different views.
    */
  private trait Family {
    def name: String
    def build(dir: String): Unit
    def upsert(dir: String, seq: Long): Unit
    /** Removes base id 2 (its doc, code, pairs or counts) at `seq`. */
    def delete(dir: String, seq: Long): Unit
    /** Last-wins per id with tombstones (views render the id first). */
    def rowVersioned: Boolean = false
    def live(dir: String): Set[String]
    def asOf(dir: String, seq: Long): Set[String]
    def compact(dir: String): Unit
    /** The plain (resolution-free) reader compaction must satisfy. */
    def plain(dir: String): Set[String]
  }

  private def ivfRows(seq: Long) = Seq(
    (100L + seq, seq * 10 + 1, 0),   // the added id for this stamp
    (1L, seq * 10 + 2, 1)            // id 1 re-assigned every stamp
  ).toDF("id", "v", "cell")

  private def id2 = Seq(2L).toDF("id")

  private object IvfFamily extends Family {
    val name = "ivf"
    override def rowVersioned = true
    def delete(dir: String, seq: Long): Unit = Io.deleteIvfIds(id2, dir, seq)
    def build(dir: String): Unit = Io.writeIvfIndex(
      Seq((1L, 1L, 0), (2L, 2L, 1)).toDF("id", "v", "cell"),
      Seq(Array(0.0, 1.0), Array(1.0, 0.0)),
      dir)
    def upsert(dir: String, seq: Long): Unit = Io.upsertIvfIndex(ivfRows(seq), dir, seq)
    def live(dir: String) = canon(Io.readIvfIndexLatest(spark, dir, "id")._2.select("id", "v"))
    def asOf(dir: String, seq: Long) =
      canon(Io.readIvfIndexAsOf(spark, dir, "id", seq)._2.select("id", "v"))
    def compact(dir: String): Unit = Io.compactIvfIndex(spark, dir, "id")
    def plain(dir: String) = canon(Io.readIvfIndex(spark, dir)._2.select("id", "v"))
  }

  private object PqFamily extends Family {
    val name = "pq"
    override def rowVersioned = true
    def delete(dir: String, seq: Long): Unit = Io.deletePqIds(id2, dir, seq)
    def build(dir: String): Unit = Io.writePqIndex(
      Seq((1L, 0, 1), (2L, 1, 0)).toDF("id", "pq_0", "pq_1"),
      Seq(Seq(Array(0.0), Array(1.0)), Seq(Array(0.0), Array(1.0))),
      dir)
    def upsert(dir: String, seq: Long): Unit = Io.upsertPqIndex(
      Seq((100L + seq, seq.toInt, 0), (1L, 0, seq.toInt)).toDF("id", "pq_0", "pq_1"),
      dir, seq)
    def live(dir: String) =
      canon(Io.readPqIndexLatest(spark, dir, "id")._2.select("id", "pq_0", "pq_1"))
    def asOf(dir: String, seq: Long) =
      canon(Io.readPqIndexAsOf(spark, dir, "id", seq)._2.select("id", "pq_0", "pq_1"))
    def compact(dir: String): Unit = Io.compactPqIndex(spark, dir, "id")
    def plain(dir: String) = canon(Io.readPqIndex(spark, dir)._2.select("id", "pq_0", "pq_1"))
  }

  private def postingsIndex(rows: Seq[(Long, String)]) =
    graft.operators.TextAnalysis.invertedIndex(rows.toDF("id", "text"), "text", "id")

  private object PostingsFamily extends Family {
    val name = "postings"
    def delete(dir: String, seq: Long): Unit = Io.deletePostingsDocs(id2, dir, seq)
    def build(dir: String): Unit =
      Io.writePostings(postingsIndex(Seq(1L -> "alpha beta", 2L -> "gamma")), dir, buckets = 4)
    def upsert(dir: String, seq: Long): Unit = Io.upsertPostings(
      postingsIndex(Seq(1L -> s"alpha v$seq", (100L + seq) -> s"new$seq beta")),
      dir, seq)
    def live(dir: String) =
      canon(Io.readPostingsLatest(spark, dir).select("term", "id", "positions"))
    def asOf(dir: String, seq: Long) =
      canon(Io.readPostingsAsOf(spark, dir, seq).select("term", "id", "positions"))
    def compact(dir: String): Unit = Io.compactPostings(spark, dir)
    def plain(dir: String) =
      canon(Io.readPostings(spark, dir).select("term", "id", "positions"))
  }

  private object PhashFamily extends Family {
    val name = "phash"
    override def rowVersioned = true
    def delete(dir: String, seq: Long): Unit = Io.deletePhashIds(id2, dir, seq)
    def build(dir: String): Unit = Io.writePhashIndex(
      Seq((1L, 0xA0L, 0L), (2L, 0xB1L, 1L)).toDF("id", "code", "pfx"), dir)
    def upsert(dir: String, seq: Long): Unit = Io.upsertPhashIndex(
      // id 1's re-hash lands in a DIFFERENT pfx bucket (the documented
      // cross-bucket case the latest reader must resolve)
      Seq((100L + seq, 0xC0L + seq, seq), (1L, 0xD0L + seq, (seq + 1) % 3))
        .toDF("id", "code", "pfx"),
      dir, seq)
    def live(dir: String) =
      canon(Io.readPhashIndexLatest(spark, dir).select("id", "code"))
    def asOf(dir: String, seq: Long) =
      canon(Io.readPhashIndexAsOf(spark, dir, seq).select("id", "code"))
    def compact(dir: String): Unit = Io.compactPhashIndex(spark, dir)
    def plain(dir: String) =
      canon(Io.readPhashIndex(spark, dir).select("id", "code"))
  }

  private object DupGraphFamily extends Family {
    val name = "dupgraph"
    def delete(dir: String, seq: Long): Unit = Io.deleteDupGraphDocs(id2, dir, seq)
    def build(dir: String): Unit =
      Io.writeDupGraph(Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b"), dir, buckets = 4)
    def upsert(dir: String, seq: Long): Unit = Io.upsertDupGraph(
      // each stamp links the chain one doc further and adds a fresh pair
      Seq((4L, 4L + seq), (100L + seq, 200L + seq)).toDF("id_a", "id_b"), dir, seq)
    def live(dir: String) = canon(Io.readDupGraphPairs(spark, dir).select("id_a", "id_b"))
    def asOf(dir: String, seq: Long) =
      canon(Io.readDupGraphPairsAsOf(spark, dir, seq).select("id_a", "id_b"))
    def compact(dir: String): Unit = Io.compactDupGraph(spark, dir)
    def plain(dir: String) = live(dir) // the pair reader IS the plain reader
  }

  private def signed(rows: Seq[(Long, String)]) =
    graft.operators.Dedup.minhashSign(rows.toDF("id", "text"), "text", "id", 3, 8)

  private object MinhashSigsFamily extends Family {
    val name = "minhashsigs"
    override def rowVersioned = true
    def delete(dir: String, seq: Long): Unit = Io.deleteMinhashIds(id2, dir, seq)
    def build(dir: String): Unit = Io.writeMinhashSigs(
      signed(Seq(1L -> "alpha beta gamma delta", 2L -> "one two three four")),
      dir, buckets = 4)
    def upsert(dir: String, seq: Long): Unit = Io.upsertMinhashSigs(
      signed(Seq(
        1L -> s"alpha beta gamma rev$seq tokens",
        (100L + seq) -> s"new$seq doc text body here")),
      dir, seq)
    def live(dir: String) = canon(Io.readMinhashSigsLatest(spark, dir).select("id", "sig"))
    def asOf(dir: String, seq: Long) =
      canon(Io.readMinhashSigsAsOf(spark, dir, seq).select("id", "sig"))
    def compact(dir: String): Unit = Io.compactMinhashSigs(spark, dir)
    def plain(dir: String) = canon(Io.readMinhashSigs(spark, dir).select("id", "sig"))
  }

  private def lmGrids(rows: Seq[(Long, String)]) =
    graft.operators.TextAnalysis.bigramCountGrids(rows.toDF("id", "text"), "text")

  private object LmCountsFamily extends Family {
    val name = "lmcounts"
    private def view(uni: DataFrame, bi: DataFrame): Set[String] =
      canon(uni.select(col("term"), col("cnt"))) ++
        canon(bi.select(concat_ws("|", col("prev"), col("term")).as("k"), col("cab")))
    def build(dir: String): Unit = {
      val (u, b) = lmGrids(Seq(1L -> "alpha beta", 2L -> "gamma alpha"))
      Io.writeLmCounts(u, b, dir, buckets = 4)
    }
    def upsert(dir: String, seq: Long): Unit = {
      // bumps existing counts (alpha, beta) AND adds a new term
      val (u, b) = lmGrids(Seq((100L + seq) -> s"alpha new$seq beta"))
      Io.upsertLmCounts(u, b, dir, seq)
    }
    def live(dir: String) = {
      val (u, b) = Io.readLmCounts(spark, dir); view(u, b)
    }
    def asOf(dir: String, seq: Long) = {
      val (u, b) = Io.readLmCountsAsOf(spark, dir, seq); view(u, b)
    }
    def delete(dir: String, seq: Long): Unit = {
      // takedown of doc 2: its grids appended NEGATED
      val (u, b) = lmGrids(Seq(2L -> "gamma alpha"))
      Io.upsertLmCounts(u.withColumn("cnt", -col("cnt")), b.withColumn("cab", -col("cab")), dir, seq)
    }
    def compact(dir: String): Unit = Io.compactLmCounts(spark, dir)
    def plain(dir: String) = live(dir) // the merged reader IS the plain reader
  }

  private def vg(rows: Seq[(String, Long, Long)]) =
    rows.toDF("day", "v", "n").withColumn("day", to_date(col("day")))

  private object ValueGridFamily extends Family {
    val name = "valuegrid"
    private def view(df: org.apache.spark.sql.DataFrame) = canon(
      df.select(
        concat_ws("|", date_format(col("day"), "yyyy-MM-dd"), col("v")).as("k"),
        col("n")))
    def build(dir: String): Unit = Io.writeValueGrid(
      vg(Seq(("2026-01-01", 100L, 2L), ("2026-01-02", 200L, 1L))), dir, buckets = 4)
    def upsert(dir: String, seq: Long): Unit = Io.upsertValueGrid(
      // bumps an existing cell's count AND adds a new (day, v) cell
      vg(Seq(("2026-01-01", 100L, seq), ("2026-01-03", 300L + seq * 10, 1L))), dir, seq)
    def live(dir: String) = view(Io.readValueGrid(spark, dir))
    def asOf(dir: String, seq: Long) = view(Io.readValueGridAsOf(spark, dir, seq))
    def delete(dir: String, seq: Long): Unit =
      Io.upsertValueGrid(vg(Seq(("2026-01-02", 200L, -1L))), dir, seq)
    def compact(dir: String): Unit = Io.compactValueGrid(spark, dir)
    def plain(dir: String) = live(dir) // the merged reader IS the plain reader
  }

  private val families: Seq[Family] =
    Seq(IvfFamily, PqFamily, PostingsFamily, PhashFamily, DupGraphFamily,
      MinhashSigsFamily, LmCountsFamily, ValueGridFamily)

  test("[valuegrid] negative-delta takedown: zeroed cells vanish live, as-of resurrects them") {
    val dir = tmp("contract_vgtd") + "/art"
    ValueGridFamily.build(dir)
    val full = ValueGridFamily.live(dir)
    Io.upsertValueGrid(vg(Seq(("2026-01-02", 200L, -1L))), dir, seq = 1L)
    val after = ValueGridFamily.live(dir)
    assert(!after.exists(_.contains("2026-01-02")), after.toString)
    assert(after.exists(_.contains("2026-01-01")), after.toString)
    assert(ValueGridFamily.asOf(dir, 0L) == full)
    Io.compactValueGrid(spark, dir)
    assert(ValueGridFamily.plain(dir) == after)
    assert(ValueGridFamily.asOf(dir, 0L) == after)
  }

  test("[valuegrid] declared-bound guard fires at WRITE time on every path") {
    val dir = tmp("contract_vgbound") + "/art"
    intercept[Exception] {
      Io.writeValueGrid(vg(Seq(("2026-01-01", 1000001L, 1L))), dir)
    }
    ValueGridFamily.build(dir)
    intercept[Exception] {
      Io.upsertValueGrid(vg(Seq(("2026-01-01", -10L, 1L))), dir, seq = 1L)
    }
  }

  test("[lmcounts] negative-delta takedown: zeroed keys vanish live, as-of resurrects them") {
    val dir = tmp("contract_lmtd") + "/art"
    LmCountsFamily.build(dir)
    val full = LmCountsFamily.live(dir)
    // takedown doc 2 ("gamma alpha"): negate its grids at stamp 1
    val (ud, bd) = lmGrids(Seq(2L -> "gamma alpha"))
    Io.upsertLmCounts(
      ud.withColumn("cnt", -col("cnt")),
      bd.withColumn("cab", -col("cab")),
      dir,
      seq = 1L)
    val after = LmCountsFamily.live(dir)
    // gamma's count hits zero -> the key DROPS (exactly what a refit
    // on the filtered corpus would produce); alpha survives at 1
    assert(!after.exists(_.contains("gamma")), after.toString)
    assert(after.exists(s => s.contains("alpha") && s.contains("1")), after.toString)
    // time travel reconstructs the pre-takedown vocabulary
    assert(LmCountsFamily.asOf(dir, 0L) == full)
    // compaction purges the zeroed keys from the base too
    Io.compactLmCounts(spark, dir)
    assert(LmCountsFamily.plain(dir) == after)
    assert(LmCountsFamily.asOf(dir, 0L) == after)
  }

  for (f <- families) {
    test(s"[${f.name}] as-of clauses: 0 == base, mid == post-upsert snapshot, max == live") {
      val dir = tmp(s"contract_${f.name}") + "/art"
      f.build(dir)
      val snap0 = f.live(dir)
      f.upsert(dir, 1L)
      val snap1 = f.live(dir)
      f.upsert(dir, 2L)
      val snap2 = f.live(dir)
      // the fixture must actually move state or the clauses are vacuous
      assert(snap0 != snap1 && snap1 != snap2, s"${f.name}: fixture must mutate state")
      assert(f.asOf(dir, 0L) == snap0, s"${f.name}: as-of 0 != base build")
      assert(f.asOf(dir, 1L) == snap1, s"${f.name}: as-of mid != post-upsert-1 snapshot")
      assert(f.asOf(dir, 2L) == snap2, s"${f.name}: as-of max != live view")
    }

    test(s"[${f.name}] compaction preserves the live view and forfeits as-of history") {
      val dir = tmp(s"contract_${f.name}c") + "/art"
      f.build(dir)
      f.upsert(dir, 1L)
      f.upsert(dir, 2L)
      val preCompact = f.live(dir)
      f.compact(dir)
      assert(f.plain(dir) == preCompact, s"${f.name}: plain read after compact != pre-compact live")
      assert(f.live(dir) == preCompact, s"${f.name}: latest read after compact != pre-compact live")
      // one-generation rewrite: everything now lives at stamp 0
      assert(f.asOf(dir, 0L) == preCompact, s"${f.name}: compact must forfeit history")
    }
  }

  /** The on-disk layout under `dir`: one "child/dir/part=* : cols" line
    * per distinct (directory, parquet data columns) pair, partition
    * values folded to `*`, columns in file order from each footer.
    */
  private def layout(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val rootPath = fs.makeQualified(root).toUri.getPath
    val files = fs.listFiles(root, true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map { p =>
        val rel = p.getParent.toUri.getPath.stripPrefix(rootPath).stripPrefix("/")
          .split("/").map(s => if (s.contains("=")) s.takeWhile(_ != '=') + "=*" else s)
          .mkString("/")
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        val cols =
          try r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).mkString(",")
          finally r.close()
        s"${if (rel.isEmpty) "." else rel} : $cols"
      }
      .toSet
  }

  /** Per family: the layout after build + upsert(1) + delete(2), and
    * after compacting that state.
    */
  private val expectedLayouts: Map[String, (Set[String], Set[String])] = {
    val tomb = "_tombstones : id,seq"
    def tombstoned(compacted: String*) = (compacted.toSet + tomb, compacted.toSet)
    def same(layout: String*) = (layout.toSet, layout.toSet)
    Map(
      "ivf" -> tombstoned("centroids : cell,centroid", "cells/cell=* : id,v,__seq"),
      "pq" -> tombstoned("codebooks : sub,cell,centroid", "codes : id,pq_0,pq_1,__seq"),
      "postings" -> same(
        "term_bucket=* : term,id,positions,__seq", "_docseq : id,seq,deleted",
        "_doclen : id,dl,seq", "_meta : buckets"),
      "phash" -> tombstoned("pfx=* : id,code,__seq"),
      "dupgraph" -> tombstoned(
        "pairs/pair_bucket=* : id_a,id_b,__seq", "labels/id_bucket=* : id,cluster_id",
        "_meta : buckets,pairs_schema,labels_schema"),
      "minhashsigs" -> tombstoned(
        "sigs/id_bucket=* : id,sig,hs,__seq", "_meta : buckets,sigs_schema"),
      "lmcounts" -> same(
        "uni/term_bucket=* : term,cnt,__seq", "bi/prev_bucket=* : prev,term,cab,__seq",
        "_meta : buckets,uni_schema,bi_schema"),
      "valuegrid" -> same("grid/day_bucket=* : day,v,n,__seq", "_meta : buckets,grid_schema"))
  }

  for (f <- families) {
    test(s"[${f.name}] on-disk layout after build + upsert + delete, and after compaction") {
      val dir = tmp(s"contract_${f.name}l") + "/art"
      f.build(dir)
      f.upsert(dir, 1L)
      f.delete(dir, 2L)
      val written = layout(dir)
      f.compact(dir)
      val compacted = layout(dir)
      assert(expectedLayouts.get(f.name).contains((written, compacted)),
        s"${f.name}: layout drifted\n${written.toSeq.sorted.mkString("\n")}\n--\n${compacted.toSeq.sorted.mkString("\n")}")
    }
  }

  /** The parquet table dirs under `dir`: each data file's dir with
    * its partition (`k=v`) dirs stripped, sidecars included.
    */
  private def tableDirs(dir: String): Set[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") && !p.getFileName.toString.startsWith("."))
      .map(p => Iterator.iterate(p.getParent)(_.getParent).find(!_.getFileName.toString.contains("=")).get)
      .toSet
    finally walk.close()
  }

  for (f <- families) {
    test(s"[${f.name}] footer-read schema equals Spark's inferred schema, every table dir and sidecar") {
      val dir = tmp(s"contract_${f.name}s") + "/art"
      f.build(dir)
      f.upsert(dir, 1L)
      f.delete(dir, 2L)
      import scala.jdk.CollectionConverters._
      val dirs = tableDirs(dir)
      assert(dirs.nonEmpty)
      for (d <- dirs) {
        // a sidecar is read through its listed files (Io.readSidecar)
        val paths =
          if (!d.getFileName.toString.startsWith("_")) Seq(d.toString)
          else {
            val files = Files.list(d)
            try files.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq
            finally files.close()
          }
        val written = Io.writtenSchema(spark, d.toString)
        assert(written.nonEmpty, s"${f.name}: $d")
        assert(spark.read.schema(written.get).parquet(paths: _*).schema == spark.read.parquet(paths: _*).schema,
          s"${f.name}: $d")
      }
    }
  }

  for (f <- families.filter(_.rowVersioned)) {
    test(s"[${f.name}] tombstones: as-of hides a delete from its stamp on, as-of max == live") {
      val dir = tmp(s"contract_${f.name}t") + "/art"
      f.build(dir)
      f.upsert(dir, 1L)
      f.delete(dir, 2L)
      f.upsert(dir, 3L)
      def has2(view: Set[String]) = view.exists(_.startsWith("[2,"))
      assert(has2(f.asOf(dir, 1L)), s"${f.name}: id 2 missing before its delete")
      assert(!has2(f.asOf(dir, 2L)), s"${f.name}: id 2 served as-of its delete stamp")
      val live = f.live(dir)
      assert(!has2(live), s"${f.name}: id 2 served live after its delete")
      assert(f.asOf(dir, 3L) == live, s"${f.name}: as-of max != live view")
    }
  }

  /** A row-versioned family's raw operations for the history clause:
    * `put` writes (id, payload, cell/bucket) rows as the stamp-0 base
    * or upserts them at `seq`; `drop` tombstones `ids` at `seq`;
    * `live`/`asOf` render the resolved (id, payload) rows, one string
    * per row, sorted (duplicates stay visible).
    */
  private trait History {
    def name: String
    def put(dir: String, seq: Long, rows: Seq[(Long, Long, Int)]): Unit
    def drop(dir: String, seq: Long, ids: Seq[Long]): Unit
    def live(dir: String): Seq[String]
    def asOf(dir: String, seq: Long): Seq[String]
  }

  private def view(df: DataFrame, payload: String): Seq[String] =
    df.select(col("id"), col(payload)).collect().map(_.toString).toSeq.sorted

  private object IvfHistory extends History {
    val name = "ivf"
    def put(dir: String, seq: Long, rows: Seq[(Long, Long, Int)]): Unit = {
      val df = rows.toDF("id", "v", "cell")
      if (seq == 0L) Io.writeIvfIndex(df, Seq(Array(0.0, 1.0), Array(1.0, 0.0)), dir)
      else Io.upsertIvfIndex(df, dir, seq)
    }
    def drop(dir: String, seq: Long, ids: Seq[Long]): Unit =
      Io.deleteIvfIds(ids.toDF("id"), dir, seq)
    def live(dir: String) = view(Io.readIvfIndexLatest(spark, dir, "id")._2, "v")
    def asOf(dir: String, seq: Long) = view(Io.readIvfIndexAsOf(spark, dir, "id", seq)._2, "v")
  }

  private object PqHistory extends History {
    val name = "pq"
    def put(dir: String, seq: Long, rows: Seq[(Long, Long, Int)]): Unit = {
      val df = rows.map { case (id, v, c) => (id, v.toInt, c) }.toDF("id", "pq_0", "pq_1")
      if (seq == 0L) Io.writePqIndex(df, Seq(Seq(Array(0.0), Array(1.0))), dir)
      else Io.upsertPqIndex(df, dir, seq)
    }
    def drop(dir: String, seq: Long, ids: Seq[Long]): Unit =
      Io.deletePqIds(ids.toDF("id"), dir, seq)
    def live(dir: String) = view(Io.readPqIndexLatest(spark, dir, "id")._2, "pq_0")
    def asOf(dir: String, seq: Long) = view(Io.readPqIndexAsOf(spark, dir, "id", seq)._2, "pq_0")
  }

  private object PhashHistory extends History {
    val name = "phash"
    def put(dir: String, seq: Long, rows: Seq[(Long, Long, Int)]): Unit = {
      val df = rows.map { case (id, v, c) => (id, v, c.toLong) }.toDF("id", "code", "pfx")
      if (seq == 0L) Io.writePhashIndex(df, dir) else Io.upsertPhashIndex(df, dir, seq)
    }
    def drop(dir: String, seq: Long, ids: Seq[Long]): Unit =
      Io.deletePhashIds(ids.toDF("id"), dir, seq)
    def live(dir: String) = view(Io.readPhashIndexLatest(spark, dir), "code")
    def asOf(dir: String, seq: Long) = view(Io.readPhashIndexAsOf(spark, dir, seq), "code")
  }

  private object MinhashHistory extends History {
    val name = "minhashsigs"
    def put(dir: String, seq: Long, rows: Seq[(Long, Long, Int)]): Unit = {
      // the signature's bucket is hash(id): the payload rides as `v`
      val df = rows
        .map { case (id, v, _) => signed(Seq(id -> s"doc $id revision $v body")).withColumn("v", lit(v)) }
        .reduce(_ unionByName _)
      if (seq == 0L) Io.writeMinhashSigs(df, dir, buckets = 4)
      else Io.upsertMinhashSigs(df, dir, seq)
    }
    def drop(dir: String, seq: Long, ids: Seq[Long]): Unit =
      Io.deleteMinhashIds(ids.toDF("id"), dir, seq)
    def live(dir: String) = view(Io.readMinhashSigsLatest(spark, dir), "v")
    def asOf(dir: String, seq: Long) = view(Io.readMinhashSigsAsOf(spark, dir, seq), "v")
  }

  private val histories: Seq[History] = Seq(IvfHistory, PqHistory, PhashHistory, MinhashHistory)

  /** One history per row-versioned family. Stamp 0: the base; 1: id 1
    * upserted into another cell/bucket; 2: id 2 deleted; 3: id 2
    * re-upserted; 4: id 3 upserted into another cell; 5: id 3 deleted.
    */
  private def writeHistory(h: History, dir: String): Unit = {
    h.put(dir, 0L, Seq((1L, 10L, 0), (2L, 20L, 1), (3L, 30L, 0)))
    h.put(dir, 1L, Seq((1L, 11L, 1)))
    h.drop(dir, 2L, Seq(2L))
    h.put(dir, 3L, Seq((2L, 23L, 0)))
    h.put(dir, 4L, Seq((3L, 34L, 1)))
    h.drop(dir, 5L, Seq(3L))
  }

  /** The (id, payload) rows the window reader (row_number over the id
    * by descending stamp, tombstones anti-joined) resolved for
    * [[writeHistory]] as of each stamp; the last is also the live view.
    */
  private val expectedHistory: Seq[Seq[String]] = Seq(
    Seq("[1,10]", "[2,20]", "[3,30]"),
    Seq("[1,11]", "[2,20]", "[3,30]"),
    Seq("[1,11]", "[3,30]"),
    Seq("[1,11]", "[2,23]", "[3,30]"),
    Seq("[1,11]", "[2,23]", "[3,34]"),
    Seq("[1,11]", "[2,23]"))

  for (h <- histories) {
    test(s"[${h.name}] history: as-of every stamp and live, row for row (move, delete/re-upsert, upsert/delete)") {
      val dir = tmp(s"contract_${h.name}h") + "/art"
      writeHistory(h, dir)
      expectedHistory.zipWithIndex.foreach { case (want, s) =>
        assert(h.asOf(dir, s.toLong) == want, s"${h.name}: as-of $s")
      }
      assert(h.live(dir) == expectedHistory.last, s"${h.name}: live")
    }
  }

  for (h <- histories) {
    test(s"[${h.name}] rows sharing an (id, stamp) all survive; a tombstone hides them all") {
      val dir = tmp(s"contract_${h.name}tie") + "/art"
      h.put(dir, 0L, Seq((1L, 10L, 0), (1L, 11L, 1), (2L, 20L, 0)))
      h.put(dir, 1L, Seq((2L, 21L, 0), (2L, 22L, 1)))
      h.drop(dir, 2L, Seq(1L))
      assert(h.asOf(dir, 1L) == Seq("[1,10]", "[1,11]", "[2,21]", "[2,22]"), h.name)
      assert(h.live(dir) == Seq("[2,21]", "[2,22]"), h.name)
    }
  }

  test("[ivf] null ids: every null-id version is served, no stamp or tombstone hides one") {
    val dir = tmp("contract_ivfnull") + "/art"
    Io.writeIvfIndex(
      Seq((Option.empty[Long], 1L, 0), (None, 2L, 1), (Some(1L), 3L, 0)).toDF("id", "v", "cell"),
      Seq(Array(0.0, 1.0), Array(1.0, 0.0)),
      dir)
    Io.upsertIvfIndex(Seq((Option.empty[Long], 4L, 0)).toDF("id", "v", "cell"), dir, 1L)
    Io.deleteIvfIds(Seq(1L).toDF("id"), dir, 2L)
    assert(IvfHistory.live(dir) == Seq("[null,1]", "[null,2]", "[null,4]"))
  }

}
