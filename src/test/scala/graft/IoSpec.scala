package graft

import graft.sources.Io
import java.nio.file.Files
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

class IoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("S1 readJsonArray: multiLine JSON array (seed-file shape)") {
    val dir = tmp("seed")
    Files.writeString(
      java.nio.file.Paths.get(dir, "seed.json"),
      """[{"company_name":"Acme","website":"https://acme.ai"},
        | {"company_name":"BCorp","website":"https://bcorp.com"}]""".stripMargin)
    val df = Io.readJsonArray(spark, s"$dir/seed.json")
    assert(df.count() == 2)
    assert(df.columns.sorted.toSeq == Seq("company_name", "website"))
  }

  test("S7 readTextTree: glob + file provenance") {
    val dir = tmp("txt")
    Files.createDirectories(java.nio.file.Paths.get(dir, "a"))
    Files.writeString(java.nio.file.Paths.get(dir, "a", "x_clean.txt"), "line1\nline2")
    val df = Io.readTextTree(spark, s"$dir/*/*_clean.txt")
    assert(df.count() == 2)
    assert(df.select("source_path").head.getString(0).contains("x_clean.txt"))
  }

  test("§1.3 parseJsonQuarantine: valid rows parsed, corrupt quarantined") {
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("amount", DoubleType)))
    val df = Seq(
      """{"name":"a","amount":1.5}""",
      """{"name":"b"}""",
      """not json at all""",
      """{"other":"field"}""").toDF("js")
    val (valid, rejects) = Io.parseJsonQuarantine(df, "js", schema)
    // quarantine is for MALFORMED rows only: well-formed JSON with no
    // declared fields ({"other":...}) parses to an all-null row and
    // stays valid — schema-level validation is a separate concern
    assert(valid.count() == 3)
    assert(rejects.count() == 1)
    assert(rejects.head().getString(0) == "not json at all")
    assert(valid.columns.toSeq == Seq("name", "amount"))
  }

  test("S10/S11 sinks: date-partitioned JSONL + key-partitioned payloads") {
    val out1 = tmp("risk")
    val df = Seq(
      ("2024-01-01 10:00:00", "acme", "layoff"),
      ("2024-01-02 09:00:00", "bcorp", "breach")
    ).toDF("ts", "company_id", "risk_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    Io.writeDatePartitionedJson(df, "ts", out1)
    val dirs = new java.io.File(out1).listFiles().map(_.getName).filter(_.startsWith("date=")).sorted
    assert(dirs.toSeq == Seq("date=2024-01-01", "date=2024-01-02"))
    val back = Io.readJsonl(spark, out1)
    assert(back.count() == 2)

    val out2 = tmp("payloads")
    Io.writePayloads(Seq(("acme", 1), ("bcorp", 2)).toDF("company_id", "v"), "company_id", out2)
    val pdirs = new java.io.File(out2).listFiles().map(_.getName).filter(_.startsWith("company_id=")).sorted
    assert(pdirs.toSeq == Seq("company_id=acme", "company_id=bcorp"))
  }

  test("writeTrainingShards: portable hash sharding, bounded gzip files, round-trip") {
    val out = tmp("shards")
    val df = (1L to 200L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    Io.writeTrainingShards(df, col("doc_id"), out, numShards = 4, maxRecordsPerFile = 25L)
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.toSeq == (0 to 3).map(i => s"shard=$i"))
    // maxRecordsPerFile splits each shard into multiple gzip members
    val files = new java.io.File(out, "shard=0").listFiles().filter(_.getName.endsWith(".json.gz"))
    assert(files.length >= 2, s"expected split files, got ${files.length}")
    val back = spark.read.json(out)
    assert(back.count() == 200)
    // every row sits in the shard the PORTABLE hash assigns — not
    // wherever Spark's internal partitioner happened to put it
    val misplaced = back.filter(
      col("shard") =!= pmod(graft.operators.Sampling.hash32(col("doc_id")), lit(4L)))
    assert(misplaced.count() == 0)
  }

  test("A9 withRowMetrics: observe() counters") {
    val obs = Observation("m")
    val df = Seq(1, 2, 3).toDF("x").observe(obs, count(lit(1)).as("n_rows"))
    df.write.format("noop").mode("overwrite").save()
    assert(obs.get("n_rows") == 3L)
    // the Io helper compiles onto any frame
    val o2 = Io.withRowMetrics(Seq((1, "a")).toDF("k", "v"), "t")
    o2.write.format("noop").mode("overwrite").save()
  }

  test("CSV with explicit schema and ORC round-trip") {
    val dir = tmp("csv")
    Files.writeString(
      java.nio.file.Paths.get(dir, "data.csv"),
      "id,name,amount\n1,acme,1.5\n2,bcorp,2.25\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("amount", DoubleType)))
    val csv = Io.readCsv(spark, s"$dir/data.csv", schema)
    assert(csv.count() == 2)
    assert(csv.schema == schema)
    val orcDir = tmp("orc") + "/t"
    Io.writeOrc(csv, orcDir)
    val back = Io.readOrc(spark, orcDir).orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(back.head.getDouble(2) == 1.5)
  }

  test("writeBucketed: join on the bucket key plans with no shuffle exchange") {
    val a = (1 to 500).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 500).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Io.writeBucketed(a, "bkt_a", "k", 4)
    Io.writeBucketed(b, "bkt_b", "k", 4)
    // force a sort-merge join so the exchange (or its absence) shows
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      assert(joined.count() == 500)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("writePostings persists its bucket modulus; postingsBuckets reads it from the index") {
    val idx = Seq(
      ("alpha", 1L, Seq(0, 4)),
      ("beta", 1L, Seq(2)),
      ("alpha", 2L, Seq(7))
    ).toDF("term", "id", "positions")
    val dir = tmp("postings") + "/idx"
    // non-default modulus: a reader who GUESSED the default 64 would
    // prune to the wrong partitions and silently return empty
    Io.writePostings(idx, dir, buckets = 7)
    assert(Io.postingsBucketCount(spark, dir) == 7)
    val buckets = Io.postingsBuckets(spark, dir, Seq("alpha"))
    val pruned = Io.readPostings(spark, dir)
      .filter(col("term_bucket").isin(buckets: _*))
      .filter(col("term") === "alpha")
    assert(pruned.count() == 2, "meta-driven pruning must keep every posting of the term")
    // the meta sidecar is invisible to the data scan
    assert(Io.readPostings(spark, dir).count() == 3)
  }

  test("writeDupGraph: pairs round-trip, labels equal the in-line closure, meta persisted") {
    // two clusters (1-2-3 chain, 10-11) and a singleton 99 (no pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val dir = tmp("dupg") + "/g"
    Io.writeDupGraph(pairs, dir, buckets = 8)
    val backPairs = Io.readDupGraphPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(backPairs == Set((1L, 2L), (2L, 3L), (10L, 11L)))
    val labels = Io.readDupGraphLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inline = graft.operators.Dedup.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == inline, "persisted labels must equal the in-line transitive closure")
    // labels cover pair members only — singletons restored by coalesce
    assert(!labels.contains(99L))
    assert(Io.dupGraphBucketCount(spark, dir) == 8)
  }

  test("postings doc-version upsert: re-indexed docs replace their WHOLE posting set") {
    def index(rows: Seq[(Long, String)]) =
      graft.operators.TextAnalysis.invertedIndex(rows.toDF("id", "text"), "text", "id")
    val dir = tmp("postup") + "/idx"
    // v0: doc 1 contains 'stale' (the term its v1 drops), doc 2 untouched
    Io.writePostings(index(Seq(1L -> "alpha stale alpha", 2L -> "beta gamma")), dir, buckets = 8)
    // v1 re-indexes doc 1 only: 'stale' gone, 'fresh' added
    Io.upsertPostings(index(Seq(1L -> "alpha fresh")), dir, seq = 1L)
    val latest = Io.readPostingsLatest(spark, dir)
    val byTerm = latest.collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("id")) ->
        r.getAs[scala.collection.Seq[Int]]("positions").toSeq)
      .toMap
    // ghost term deleted: doc 1's old 'stale' posting must NOT survive
    assert(!byTerm.contains(("stale", 1L)), "dropped term ghost-matched from the old version")
    // replaced positions, not merged: 'alpha' now has v1's single position
    assert(byTerm(("alpha", 1L)) == Seq(0))
    assert(byTerm(("fresh", 1L)) == Seq(1))
    // untouched doc keeps its base postings
    assert(byTerm(("beta", 2L)) == Seq(0) && byTerm(("gamma", 2L)) == Seq(1))
  }

  test("upsertDupGraph: incremental star-edge closure equals the full recompute") {
    val dir = tmp("dupgup") + "/g"
    // base: clusters {1,2,3} and {5,6}
    Io.writeDupGraph(Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b"), dir, buckets = 8)
    // increment 1: new chain 10-11 AND a bridge 3-5 that must MERGE
    // the two base clusters down to canonical 1
    Io.upsertDupGraph(Seq((10L, 11L), (3L, 5L)).toDF("id_a", "id_b"), dir, seq = 1L)
    // increment 2: extend the new chain
    Io.upsertDupGraph(Seq((11L, 12L)).toDF("id_a", "id_b"), dir, seq = 2L)
    val got = Io.readDupGraphLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = graft.operators.Dedup
      .clusterPairs(
        Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L), (3L, 5L), (11L, 12L))
          .toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full, s"incremental $got != full $full")
    // and the pair set round-trips with both stamps' rows
    assert(Io.readDupGraphPairs(spark, dir).count() == 6)
    // a duplicate pair appended under a later stamp compacts away,
    // pageRank off the compacted pairs is unchanged (hygiene would
    // mask the dup anyway — compaction clears the bytes)
    Io.upsertDupGraph(Seq((1L, 2L)).toDF("id_a", "id_b"), dir, seq = 3L)
    assert(Io.readDupGraphPairs(spark, dir).count() == 7)
    Io.compactDupGraph(spark, dir)
    assert(Io.readDupGraphPairs(spark, dir).count() == 6)
    val labelsAfter = Io.readDupGraphLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelsAfter == full, "compaction must not touch labels")
  }

  test("readDupGraphPairsAsOf: each stamp reconstructs its state; later deletes invisible") {
    val dir = tmp("dupgasof") + "/g"
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Io.writeDupGraph(Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b"), dir, buckets = 8)
    Io.upsertDupGraph(Seq((2L, 3L)).toDF("id_a", "id_b"), dir, seq = 1L)
    Io.deleteDupGraphDocs(Seq(Tuple1(2L)).toDF("id"), dir, seq = 2L)
    // as-of 0: base only
    assert(pairSet(Io.readDupGraphPairsAsOf(spark, dir, 0L)) == Set((1L, 2L), (5L, 6L)))
    // as-of 1: base + upsert, the seq-2 tombstone NOT visible
    assert(pairSet(Io.readDupGraphPairsAsOf(spark, dir, 1L)) ==
      Set((1L, 2L), (5L, 6L), (2L, 3L)))
    // as-of max == the live view (doc 2's pairs hidden)
    assert(pairSet(Io.readDupGraphPairsAsOf(spark, dir, 2L)) ==
      pairSet(Io.readDupGraphPairs(spark, dir)))
    assert(pairSet(Io.readDupGraphPairsAsOf(spark, dir, 2L)) == Set((5L, 6L)))
    // re-append after the tombstone: the doc came back at seq 3 —
    // visible as-of 3, still hidden as-of 2
    Io.upsertDupGraph(Seq((2L, 3L)).toDF("id_a", "id_b"), dir, seq = 3L)
    assert(pairSet(Io.readDupGraphPairsAsOf(spark, dir, 2L)) == Set((5L, 6L)))
    assert(pairSet(Io.readDupGraphPairsAsOf(spark, dir, 3L)) == Set((5L, 6L), (2L, 3L)))
  }

  test("writeLmModel/readLmModel: scoring off the artifact bit-equals the in-line fit; empty LM reads empty") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the log"),
      (3L, "a cat and a dog")).toDF("doc_id", "text")
    val dir = tmp("lm") + "/m"
    val fit = TextAnalysis.fitBigramLm(docs, "text")
    Io.writeLmModel(fit, dir)
    val loaded = Io.readLmModel(spark, dir)
    assert((loaded._3, loaded._4) == ((fit._3, fit._4)))
    def scoreMap(lm: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Long, Long)) =
      TextAnalysis.scoreBigramLm(docs, "text", "doc_id", lm)
        .select($"id", $"nll_sum6").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scoreMap(loaded) == scoreMap(fit))
    // empty corpus -> fileless parquet dirs must read as empty frames
    val edir = tmp("lmE") + "/m"
    Io.writeLmModel(TextAnalysis.fitBigramLm(docs.filter(lit(false)), "text"), edir)
    val e = Io.readLmModel(spark, edir)
    assert(e._1.count() == 0L && e._2.count() == 0L)
  }

  test("readPostingsAsOf: re-indexed docs serve their original version below the clock") {
    import graft.operators.TextAnalysis
    val dir = tmp("postasof") + "/p"
    val v0 = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("id", "text")
    Io.writePostings(TextAnalysis.invertedIndex(v0, "text", "id"), dir, buckets = 8)
    // doc 1 re-indexed with NEW text at seq 1; doc 2 deleted at seq 2
    Io.upsertPostings(
      TextAnalysis.invertedIndex(Seq((1L, "omega beta")).toDF("id", "text"), "text", "id"),
      dir, seq = 1L)
    Io.deletePostingsDocs(Seq(Tuple1(2L)).toDF("id"), dir, seq = 2L)
    def terms(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select($"id", $"term").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // as-of 0: the original index exactly
    assert(terms(Io.readPostingsAsOf(spark, dir, 0L)) ==
      Set((1L, "alpha"), (1L, "beta"), (2L, "gamma"), (2L, "delta")))
    // as-of 1: doc 1's NEW version, doc 2 still alive
    assert(terms(Io.readPostingsAsOf(spark, dir, 1L)) ==
      Set((1L, "omega"), (1L, "beta"), (2L, "gamma"), (2L, "delta")))
    // as-of 2 == the live view (doc 2 gone)
    assert(terms(Io.readPostingsAsOf(spark, dir, 2L)) ==
      terms(Io.readPostingsLatest(spark, dir)))
    assert(terms(Io.readPostingsAsOf(spark, dir, 2L)) ==
      Set((1L, "omega"), (1L, "beta")))
  }

  test("compactSmallFiles: fragmented dir collapses to the byte-target count, rows identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smallfiles").toString + "/t"
    (1 to 5000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
      .repartition(40).write.mode("overwrite").parquet(dir)
    val beforeRows = spark.read.parquet(dir).orderBy($"id").collect().toSeq
    val (nBefore, nAfter) = Io.compactSmallFiles(spark, dir, targetBytes = 1L << 30)
    assert(nBefore == 40)
    assert(nAfter == 1, s"one gigabyte-target file expected, got $nAfter")
    val afterRows = spark.read.parquet(dir).orderBy($"id").collect().toSeq
    assert(afterRows == beforeRows)
  }

  test("dup graph with an EMPTY base: fileless parquet reads as empty, upserts still converge") {
    // the sf0.1 regression: a history window with no dup pairs writes
    // a fileless parquet dir — schema inference would throw; the
    // _meta-persisted schemas make it an empty frame instead
    val dir = tmp("dupgempty") + "/g"
    Io.writeDupGraph(Seq.empty[(Long, Long)].toDF("id_a", "id_b"), dir, buckets = 8)
    assert(Io.readDupGraphPairs(spark, dir).collect().isEmpty)
    assert(Io.readDupGraphLabels(spark, dir).collect().isEmpty)
    Io.upsertDupGraph(Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"), dir, seq = 1L)
    val labels = Io.readDupGraphLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), labels.toString)
  }

  test("deleteDupGraphDocs: removing a bridge doc SPLITS its cluster (re-closure, not a patch)") {
    val dir = tmp("dupgdel") + "/g"
    // one chain 1-2-3-4-5; doc 3 is the bridge
    Io.writeDupGraph(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b"), dir, buckets = 8)
    Io.deleteDupGraphDocs(Seq(3L).toDF("id"), dir, seq = 1L)
    val pairs = Io.readDupGraphPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (4L, 5L)), pairs.toString)
    val labels = Io.readDupGraphLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the cluster SPLIT: 4 and 5 must no longer share a label with 1, 2
    assert(labels == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L), labels.toString)
  }

  test("deleteDupGraphDocs bulk mode: N deferred deletes + 1 closure == N eager deletes") {
    // two chains 1-2-3-4-5 and 10-11; takedowns arrive as three
    // batches (3, then 10, then 5) — the bulk path writes three
    // tombstone stamps with recompute=false and closes ONCE
    val basePairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val eager = tmp("dupgbulk") + "/eager"
    Io.writeDupGraph(basePairs.toDF("id_a", "id_b"), eager, buckets = 8)
    Io.deleteDupGraphDocs(Seq(3L).toDF("id"), eager, seq = 1L)
    Io.deleteDupGraphDocs(Seq(10L).toDF("id"), eager, seq = 2L)
    Io.deleteDupGraphDocs(Seq(5L).toDF("id"), eager, seq = 3L)
    val bulk = tmp("dupgbulk") + "/bulk"
    Io.writeDupGraph(basePairs.toDF("id_a", "id_b"), bulk, buckets = 8)
    Io.deleteDupGraphDocs(Seq(3L).toDF("id"), bulk, seq = 1L, recompute = false)
    Io.deleteDupGraphDocs(Seq(10L).toDF("id"), bulk, seq = 2L, recompute = false)
    Io.deleteDupGraphDocs(Seq(5L).toDF("id"), bulk, seq = 3L, recompute = false)
    // before the closure: pairs already hide the docs, labels are stale
    val stale = Io.readDupGraphLabels(spark, bulk)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stale.contains(3L), "deferred delete must leave labels untouched until the closure")
    Io.recomputeDupGraphLabels(spark, bulk)
    def state(dir: String) = (
      Io.readDupGraphPairs(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      Io.readDupGraphLabels(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(state(bulk) == state(eager), s"${state(bulk)} vs ${state(eager)}")
    // only the split survivors remain labeled: 1-2 and nothing else
    assert(state(bulk)._2 == Map(1L -> 1L, 2L -> 1L), state(bulk)._2.toString)
    // each batch's stamp stays individually time-travelable either way
    (0L to 3L).foreach { s =>
      val pe = Io.readDupGraphPairsAsOf(spark, eager, s)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pb = Io.readDupGraphPairsAsOf(spark, bulk, s)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pe == pb, s"as-of $s: $pe vs $pb")
    }
  }

  test("empty minhash-sig and BPE-vocab artifacts read back as empty frames (explicit-schema rule)") {
    val sigDir = tmp("sigs_empty") + "/a"
    Io.writeMinhashSigs(
      graft.operators.Dedup.minhashSign(
        Seq.empty[(Long, String)].toDF("id", "text"), "text", "id", 3, 8),
      sigDir, buckets = 4)
    assert(Io.readMinhashSigs(spark, sigDir).collect().isEmpty)
    assert(Io.readMinhashSigsLatest(spark, sigDir).collect().isEmpty)
    assert(Io.readMinhashSigsAsOf(spark, sigDir, 5L).collect().isEmpty)
    val bpeDir = tmp("bpe_empty") + "/v"
    Io.writeBpeVocab(
      graft.operators.TextAnalysis.bpeVocabUnits(
        Seq(Tuple1("ab")).toDF("text").limit(0), "text", 1),
      bpeDir)
    assert(Io.readBpeVocab(spark, bpeDir).collect().isEmpty)
  }

  test("tombstones: delete hides every version at or below its stamp; re-upsert restores") {
    def index(rows: Seq[(Long, String)]) =
      graft.operators.TextAnalysis.invertedIndex(rows.toDF("id", "text"), "text", "id")
    val dir = tmp("tomb") + "/idx"
    Io.writePostings(index(Seq(1L -> "alpha beta", 2L -> "alpha gamma", 3L -> "beta")), dir, buckets = 4)
    // takedown doc 1 and 2 at seq 1
    Io.deletePostingsDocs(Seq(1L, 2L).toDF("id"), dir, seq = 1L)
    val afterDelete = Io.readPostingsLatest(spark, dir)
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
    assert(afterDelete == Set(3L), s"deleted docs still served: $afterDelete")
    // doc 2 re-indexed at seq 2 — restored with its NEW postings only
    Io.upsertPostings(index(Seq(2L -> "delta")), dir, seq = 2L)
    val restored = Io.readPostingsLatest(spark, dir)
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("id"))).toSet
    assert(restored == Set(("beta", 3L), ("delta", 2L)), restored.toString)
  }

  test("compactPostings: plain reader serves the effective corpus, history physically purged") {
    def index(rows: Seq[(Long, String)]) =
      graft.operators.TextAnalysis.invertedIndex(rows.toDF("id", "text"), "text", "id")
    val dir = tmp("cmp") + "/idx"
    Io.writePostings(index(Seq(1L -> "alpha beta", 2L -> "alpha", 3L -> "beta")), dir, buckets = 4)
    Io.deletePostingsDocs(Seq(1L).toDF("id"), dir, seq = 1L)
    Io.upsertPostings(index(Seq(2L -> "gamma")), dir, seq = 2L)
    val before = Io.readPostingsLatest(spark, dir)
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("id"))).toSet
    Io.compactPostings(spark, dir)
    // plain reader now equals the pre-compaction resolved view
    val after = Io.readPostings(spark, dir)
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("id"))).toSet
    assert(after == before, s"compacted view drifted: $after vs $before")
    assert(after == Set(("gamma", 2L), ("beta", 3L)))
    // deleted doc's rows are PHYSICALLY gone, not just masked
    val rawRows = spark.read.parquet(dir)
      .filter(col("id") === 1L).count()
    assert(rawRows == 0L, "tombstoned doc survived compaction on disk")
    // modulus preserved, staging cleaned
    assert(Io.postingsBucketCount(spark, dir) == 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "_compacting")))
  }

  test("compactIvfIndex: plain reader equals the latest view, tombstone sidecar removed") {
    import spark.implicits._
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    val vecs = Seq(
      (1L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.9)), (3L, Seq(0.8, 0.2)), (4L, Seq(0.2, 0.8))
    ).toDF("vec_id", "embedding")
    val dir = tmp("ivfcmp") + "/idx"
    graft.sources.Io.writeIvfIndex(
      graft.operators.Similarity.ivfAssign(vecs, "embedding", cents), cents, dir)
    Io.deleteIvfIds(Seq(3L).toDF("vec_id"), dir, seq = 1L)
    Io.compactIvfIndex(spark, dir, "vec_id")
    val (loaded, cells) = Io.readIvfIndex(spark, dir)
    assert(loaded.length == 2)
    assert(cells.select(col("vec_id")).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "/_tombstones")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "/cells_compacting")))
  }

  // ---- the engine's `file:` FileSystem (NioLocalFileSystem) --------

  private def rawStats(cls: Class[_ <: org.apache.hadoop.fs.FileSystem]) =
    org.apache.hadoop.fs.FileSystem.getStatistics("file", cls)

  test("engine session: `file:` is NioLocalFileSystem, and the session's writes go through it") {
    val dir = tmp("nio_fs")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRawFileSystem.getClass ==
      classOf[NioRawLocalFileSystem])
    // the write tasks' FileSystem (Hadoop caches by scheme and user,
    // not class): its output streams count into its class's statistics
    val before = rawStats(classOf[NioRawLocalFileSystem]).getBytesWritten
    spark.range(20).toDF("id").write.parquet(s"$dir/out")
    assert(rawStats(classOf[NioRawLocalFileSystem]).getBytesWritten > before)
  }

  /** Every file and dir under `root`: (relative path with UUIDs
    * folded to `U`, rwx bits), sorted.
    */
  private def tree(root: String): Seq[(String, String)] = {
    val r = java.nio.file.Paths.get(root)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    val walk = Files.walk(r)
    try walk.iterator().asScala.toSeq.map { p =>
      (uuid.replaceAllIn(r.relativize(p).toString, "U"),
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    }.sorted
    finally walk.close()
  }

  test("NioLocalFileSystem: partitioned parquet and JSON writes give the stock tree, .crc files and bits") {
    // the stock FileSystem for one write: the class by writer option,
    // uncached so the session's cached instance is not reused
    val stock = Map(
      "fs.file.impl" -> classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    val df = (0 until 40).map(i => (s"co${i % 5}", i.toLong, s"text $i")).toDF("company", "id", "body")
      .repartition(3)
    val stockRaw = rawStats(classOf[org.apache.hadoop.fs.RawLocalFileSystem])
    val nioRaw = rawStats(classOf[NioRawLocalFileSystem])
    for ((fmt, ext) <- Seq("parquet" -> ".parquet", "json" -> ".json")) {
      val (a, b) = (tmp(s"stock_$fmt") + "/out", tmp(s"nio_$fmt") + "/out")
      val stockBefore = stockRaw.getBytesWritten
      df.write.options(stock).partitionBy("company").format(fmt).save(a)
      assert(stockRaw.getBytesWritten > stockBefore, s"$fmt: stock write did not use the stock class")
      val nioBefore = nioRaw.getBytesWritten
      df.write.partitionBy("company").format(fmt).save(b)
      assert(nioRaw.getBytesWritten > nioBefore, s"$fmt: engine write did not use the engine class")
      val (ta, tb) = (tree(a), tree(b))
      assert(ta == tb, s"$fmt trees differ:\n${ta.mkString("\n")}\n--\n${tb.mkString("\n")}")
      // the comparison covers data files, their .crc siblings and dirs
      val paths = ta.map(_._1)
      assert(paths.count(_.endsWith(ext)) >= 5 && paths.count(_.endsWith(s"$ext.crc")) >= 5, paths)
      assert(paths.count(_.matches("company=co[0-4]")) == 5, paths)
    }
  }

  test("NioRawLocalFileSystem.setPermission: exactly the requested rwx bits; other modes go to Hadoop") {
    val raw = new org.apache.hadoop.fs.Path(tmp("nio_perm"))
      .getFileSystem(spark.sessionState.newHadoopConf())
      .asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRawFileSystem
    val dir = Files.createDirectory(java.nio.file.Paths.get(tmp("nio_perm"), "d"))
    val file = Files.createFile(dir.resolve("f"))
    def mode(p: java.nio.file.Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF
    def set(p: java.nio.file.Path, m: Int) =
      raw.setPermission(new org.apache.hadoop.fs.Path(p.toUri), new FsPermission(m.toShort))
    for (p <- Seq(file, dir); m <- Seq("000", "600", "640", "644", "700", "755", "777")) {
      set(p, Integer.parseInt(m, 8))
      assert(mode(p) == Integer.parseInt(m, 8), s"$p $m")
    }
    // the sticky bit: java.nio cannot set it, Hadoop's chmod can
    set(dir, Integer.parseInt("1777", 8))
    assert(mode(dir) == Integer.parseInt("1777", 8))
    // a setgid directory keeps its setgid, as under `chmod 0750`
    Files.setAttribute(dir, "unix:mode", Integer.valueOf(Integer.parseInt("2755", 8)))
    set(dir, Integer.parseInt("750", 8))
    assert(mode(dir) == Integer.parseInt("2750", 8))
  }

  test("artifact reads: readIvfIndexLatest and readMinhashSigsLatest each run 2 jobs") {
    val ivf = tmp("jobs_ivf") + "/idx"
    val cents = Seq(Array(0.0, 1.0), Array(1.0, 0.0), Array(0.5, 0.5))
    Io.writeIvfIndex(Seq((1L, 1L, 0), (2L, 2L, 1), (3L, 3L, 2)).toDF("id", "v", "cell"), cents, ivf)
    Io.upsertIvfIndex(Seq((1L, 11L, 2)).toDF("id", "v", "cell"), ivf, 1L)
    Io.deleteIvfIds(Seq(2L).toDF("id"), ivf, 2L)
    val r = runs(Io.readIvfIndexLatest(spark, ivf, "id"))
    assert(r.jobs == 2, r)
    assert(r.out._1.map(_.toSeq) == cents.map(_.toSeq))
    val sigs = tmp("jobs_sigs") + "/art"
    val signed = (rows: Seq[(Long, String)]) =>
      graft.operators.Dedup.minhashSign(rows.toDF("id", "text"), "text", "id", 3, 8)
    Io.writeMinhashSigs(signed(Seq(1L -> "alpha beta gamma delta", 2L -> "one two three four")), sigs, 4)
    Io.upsertMinhashSigs(signed(Seq(1L -> "alpha beta gamma epsilon zeta")), sigs, 1L)
    Io.deleteMinhashIds(Seq(2L).toDF("id"), sigs, 2L)
    val m = runs(Io.readMinhashSigsLatest(spark, sigs))
    assert(m.jobs == 2, m)
    assert(m.out.select("id").as[Long].collect().toSeq == Seq(1L))
  }
}
