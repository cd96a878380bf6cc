package graft

import graft.functions._
import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Second coverage wave for the driver contract: SURVEY §2 rows that
  * previously existed only as library functions + unit tests now get
  * oracle-checked queries — F4/F6-F9 predicate filters, the S4/C14/A6
  * ATS jobs pipeline, C15/C16 HTML facet extraction, IVF and
  * hyperplane-LSH similarity (the 100 TB scale paths of V2), dup
  * cluster resolution, and exact embedding near-dup pairs.
  *
  * Inputs are driver test tables; free-text/HTML/JSON columns are
  * constructed deterministically from table columns so a DuckDB oracle
  * can mirror every query exactly.
  */
object SparkEntryCoverage {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts: nanos-long or NTZ depending on testdata generation —
      // Engine.normalizeEventTs dispatches on the observed type.
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Engine.normalizeEventTs(s.read.parquet(s"$dir/$name.parquet"))
    } else s.read.parquet(s"$dir/$name.parquet")

  /** The ngram-Jaccard pair set over `documents` at the suite's
    * canonical operating point (n=3, t=0.2), built ONCE per dataset
    * dir per JVM and localCheckpointed — the harness-side mirror of
    * what a production pipeline does with the same artifact: derive
    * the expensive pair set once per corpus version and share it
    * across every consumer (cluster sizes, PageRank, leakage splits,
    * the dup-graph lifecycle). Before this memo the four dd_graph_*
    * lifecycle queries alone re-ran the identical shingle→band→verify
    * pipeline four times per suite run (~30 s of redundant work at
    * sf0.1). Each consumer still writes its own isolated artifact —
    * only the PAIR DISCOVERY is shared, so oracle isolation is
    * untouched. The memo is a PARQUET artifact, not a cached/
    * localCheckpointed frame: the Verify/Bench harnesses unpersist
    * every RDD between queries (per-query isolation hygiene), which
    * would strand an in-memory memo on dead checkpoint blocks —
    * filesystem artifacts are immune, and the readback is a pruned
    * columnar scan of a pair-count-bounded table. Keyed by
    * (applicationId, dir) so a fresh SparkContext rebuilds; the
    * schema rides along for the explicit-schema read-back (an empty
    * pair set writes a fileless dir — the read-back rule of
    * Io.readStamped).
    */
  private val docPairsCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, StructType)]
  private[graft] def docNgramPairs(s: SparkSession, dir: String): DataFrame = {
    val (path, schema) = docPairsCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir", {
        val p = s"/tmp/graft_idx/docpairs_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val pairs = Dedup
          .ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id", 3, 0.2)
        pairs.write.mode("overwrite").parquet(p)
        (p, pairs.schema)
      })
    s.read.schema(schema).parquet(path)
  }

  /** The co-purchase part graph (parts sharing ≥ 2 orders) built from
    * lineitem ONCE per (application, dataset) into a parquet memo —
    * the [[docNgramPairs]] discipline applied to the graph family's
    * shared input: ten Louvain/modularity queries derive the
    * identical self-join graph, and the r12 per-query truncation
    * (which fixed the 148-scans-per-plan re-expansion) still re-ran
    * the build itself once per query — ~10 redundant lineitem
    * self-joins per suite run. Only the EDGE DISCOVERY is shared;
    * every consumer still runs its own labelprop/coarsen/move/grade
    * pipeline from the memo, so each oracle is untouched. Parquet,
    * not localCheckpoint, for the same reason as [[docNgramPairs]]
    * (the harness unpersists RDDs between queries); keyed by
    * (applicationId, dir) so a fresh SparkContext rebuilds from the
    * parquet inputs. keepW keeps the co-order count column (the
    * weighted surfaces); the memo always stores it.
    */
  private val coPurchaseCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, StructType)]
  private def coPurchaseEdges(
      s: SparkSession,
      dir: String,
      keepW: Boolean = false): DataFrame = {
    val (path, schema) = coPurchaseCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir", {
        val p = s"/tmp/graft_idx/copurchase_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val op = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
        val e = op.select(col("o"), col("p").as("id_a"))
          .join(op.select(col("o"), col("p").as("id_b")), Seq("o"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2)
        e.write.mode("overwrite").parquet(p)
        (p, e.schema)
      })
    val e = s.read.schema(schema).parquet(path)
    if (keepW) e else e.select(col("id_a"), col("id_b"))
  }

  /** Shared immutable stamp-0 dup-graph BASE artifact per
    * (application, dataset, kind) — kind "full" = every verified
    * pair, "half" = both endpoints < 250 (the historical-half base
    * of the lifecycle queries). Nine queries used to run their own
    * [[graft.sources.Io.writeDupGraph]] (pair write + transitive
    * closure + label write) on identical inputs; the build now runs
    * ONCE per kind and: read-only consumers read the shared path in
    * place, mutating queries COPY it into a query-private directory
    * first ([[copyTree]] — a local file copy, no Spark job), so
    * upserts/takedowns/compactions stay query-isolated and every
    * oracle is unchanged. Same memo contract as [[docNgramPairs]]
    * (keyed by applicationId; filesystem artifact, immune to the
    * harness's per-query cache clearing).
    */
  private val dupBaseCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def dupGraphBase(s: SparkSession, dir: String, kind: String): String =
    dupBaseCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir:$kind", {
        val p = s"/tmp/graft_idx/dupbase_${kind}_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val pairs = docNgramPairs(s, dir).select(col("id_a"), col("id_b"))
        graft.sources.Io.writeDupGraph(
          if (kind == "half") pairs.filter(col("id_a") < 250 && col("id_b") < 250)
          else pairs,
          p)
        p
      })

  /** Shared immutable stamp-0 POSTINGS base per (application,
    * dataset) — the [[dupGraphBase]] discipline applied to the
    * inverted-index family: seven queries used to run their own
    * `writePostings(invertedIndex(docs))` on identical input; the
    * build now runs once, read-only consumers read it in place,
    * mutating lifecycle queries COPY it first. (st_postings_upsert
    * keeps its own build — its base is deliberately built from STALE
    * text.)
    */
  private val postingsBaseCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def postingsBase(s: SparkSession, dir: String): String =
    postingsBaseCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir", {
        val p = s"/tmp/graft_idx/postbase_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        graft.sources.Io.writePostings(
          TextAnalysis.invertedIndex(t(s, dir, "documents"), "text", "doc_id"),
          p)
        p
      })

  /** The canonical IVF fixture: frozen centroids (vec_id 1–4), the
    * query vector (vec_id 0) and the corpus (everything else) — the
    * prologue every v_ivf_* lifecycle query used to re-collect.
    */
  private[graft] def ivfFixture(
      s: SparkSession,
      dir: String): (Seq[Array[Double]], Array[Double], DataFrame) = {
    val emb = t(s, dir, "embeddings")
    val cents = emb
      .filter(col("vec_id").between(1, 4))
      .orderBy(col("vec_id"))
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      .toSeq
    val query = emb
      .filter(col("vec_id") === 0)
      .collect()
      .head
      .getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble)
      .toArray
    (cents, query, emb.filter(col("vec_id") =!= 0))
  }

  /** Shared immutable stamp-0 IVF BASE artifact per (application,
    * dataset, kind) — the [[dupGraphBase]] discipline for the vector
    * index family: kind "clean" assigns the true corpus, "stale" the
    * reversed-%5 variant the upsert/asof lifecycle queries start
    * from. Five queries used to run their own writeIvfIndex on one of
    * these two identical inputs; the build now runs once per kind,
    * read-only consumers read the shared path in place, mutating
    * queries COPY it first ([[copyTree]]), so every oracle is
    * unchanged.
    */
  private val ivfBaseCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def ivfBase(s: SparkSession, dir: String, kind: String): String =
    ivfBaseCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir:$kind", {
        val p = s"/tmp/graft_idx/ivfbase_${kind}_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val (cents, _, corpus) = ivfFixture(s, dir)
        val base =
          if (kind == "stale")
            corpus.withColumn(
              "embedding",
              when(col("vec_id") % 5 === 0, reverse(col("embedding")))
                .otherwise(col("embedding")))
          else corpus
        graft.sources.Io.writeIvfIndex(
          Similarity.ivfAssign(base, "embedding", cents), cents, p)
        p
      })

  /** Shared batch-BM25 EVAL CHASSIS per (application, dataset) — the
    * [[docNgramPairs]] discipline for the retrieval-eval family:
    * r_mrr_eval / r_ndcg_eval / r_pr_eval / r_map_eval all rank the
    * SAME doc_id%20 query set with the same batch BM25 and (three of
    * them) derive the same coverage judgments; the corpus-stats +
    * term-join pass now runs once per (app, dataset) and each metric
    * reads the scored/judged parquet artifacts in place. Only the
    * INPUT tables are shared — each query's metric fold and oracle
    * are untouched, so oracle isolation holds.
    */
  private val bm25EvalCache =
    scala.collection.concurrent.TrieMap
      .empty[String, (String, String, StructType, StructType)]
  private[graft] def bm25EvalTables(
      s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val (ps, pj, ss, sj) = bm25EvalCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir", {
        val base = s"/tmp/graft_idx/bm25eval_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val docs = t(s, dir, "documents")
        // referenced by the scorer, the per-query term counts, the
        // doc-term semi-join and the judgment join — materialize once
        // instead of re-tokenizing the query docs per reference
        val qterms = graft.operators.Checkpointing.truncate(
          docs
            .filter(col("doc_id") % 20 === 0)
            .select(
              col("doc_id").as("qid"),
              explode(slice(TextFns.tokens(col("text")), 3, 8)).as("term"))
            .distinct(),
          None, eager = true)
        // the scorer's materialized (doc, term) stats double as the
        // judgment universe: docTerms used to re-run the corpus
        // tokenize + distinct the scorer had already paid for — tf's
        // key set IS the distinct (doc, query-universe term) pairs
        val (tf, dl) = TextAnalysis.bm25TermStats(docs, "text", "doc_id", qterms)
        val scored = TextAnalysis
          .bm25ScoreFromStats(tf, dl, qterms)
          .withColumnRenamed("bm25", "score")
        val qn = qterms.groupBy(col("qid")).agg(count(lit(1)).as("n_q"))
        val docTerms = tf.select(col("doc_id"), col("term"))
        val judged = docTerms
          .join(broadcast(qterms), Seq("term"))
          .groupBy(col("qid"), col("doc_id"))
          .agg(count(lit(1)).as("m"))
          .join(broadcast(qn), Seq("qid"))
          .withColumn(
            "grade",
            when(col("m") === col("n_q"), 2L)
              .when(col("m") * 2 >= col("n_q"), 1L)
              .otherwise(0L))
          .filter(col("grade") > 0)
          .select(col("qid"), col("doc_id"), col("grade"))
        scored.write.mode("overwrite").parquet(s"$base/scored")
        judged.write.mode("overwrite").parquet(s"$base/judged")
        (s"$base/scored", s"$base/judged", scored.schema, judged.schema)
      })
    (s.read.schema(ss).parquet(ps), s.read.schema(sj).parquet(pj))
  }

  /** Memoized bigram-LM COUNT GRIDS per (application, dataset, doc
    * subset) — the docNgramPairs discipline for the LM family's
    * inputs: five lifecycle queries derive grids from the same four
    * corpus subsets; each grid's token-stream scan now runs once into
    * a parquet memo and every consumer reads it back (the per-query
    * artifact writes, merges and scoring stay un-shared — they ARE
    * the thing each query proves).
    */
  /** The (day, v, n) VALUE GRID, built ONCE per (application,
    * dataset) as a PERSISTED Io.writeValueGrid artifact (the 8th
    * seq-versioned family) and read back by every batch e-process
    * consumer — the mean monitor, the variance monitor and the mean
    * confidence sequence all fold the SAME sufficient statistic
    * (cents·10 ppm of the declared $1000 bound). The st_ twins keep
    * their own streamed builds: the artifact's upsert path IS what
    * those queries prove. The in-plan declared-bound guard now fires
    * inside writeValueGrid (every write of the family), the same
    * failure surface the memo build had. The memoLock serializes the
    * side-effecting build: TrieMap.getOrElseUpdate may evaluate the
    * thunk more than once under contention, and an artifact write
    * must happen exactly once per key.
    */
  private val memoLock = new Object
  private val valueGridCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def valueGridCells(s: SparkSession, dir: String): DataFrame = {
    val p = memoLock.synchronized {
      valueGridCache.getOrElseUpdate(
        s"${s.sparkContext.applicationId}:$dir", {
          val path = s"/tmp/graft_idx/valgrid_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
            s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
          graft.sources.Io.writeValueGrid(eventValueGrid(t(s, dir, "events")), path)
          path
        })
    }
    graft.sources.Io.readValueGrid(s, p)
  }

  /** The (day, v, n) grid fold from an events frame — cents·10 ppm
    * of the declared $1000 bound (the e-process family's canonical
    * quantization). Shared by the memoized full-corpus build and the
    * valgrid lifecycle queries' partial builds.
    */
  private def eventValueGrid(events: DataFrame): DataFrame =
    events
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(
        to_date(col("ts")).as("day"),
        expr("CAST(round(value * 100, 0) AS BIGINT) * 10").as("v"))
      .groupBy(col("day"), col("v"))
      .agg(count(lit(1)).as("n"))

  private val lmGridCache = scala.collection.concurrent.TrieMap
    .empty[String, (String, StructType, StructType)]
  private[graft] def lmCountGrids(
      s: SparkSession,
      dir: String,
      subset: String): (DataFrame, DataFrame) = {
    val (p, uniSchema, biSchema) = lmGridCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir:$subset", {
        val docs0 = t(s, dir, "documents")
        val docs = subset match {
          case "full" => docs0
          case "lt250" => docs0.filter(col("doc_id") < 250)
          case "ge250" => docs0.filter(col("doc_id") >= 250)
          case "mod10" => docs0.filter(col("doc_id") % 10 === 0)
          case other => throw new IllegalArgumentException(s"unknown subset $other")
        }
        val (u, b) = TextAnalysis.bigramCountGrids(docs, "text")
        val path = s"/tmp/graft_idx/lmgrid_${subset}_" +
          s"${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        u.write.mode("overwrite").parquet(s"$path/uni")
        b.write.mode("overwrite").parquet(s"$path/bi")
        (path, u.schema, b.schema)
      })
    (
      s.read.schema(uniSchema).parquet(s"$p/uni"),
      s.read.schema(biSchema).parquet(s"$p/bi"))
  }

  /** Micro-batch increment PAIR DISCOVERY, memoized per (application,
    * dataset, batchId) — the docNgramPairs discipline applied to the
    * streaming dup-graph twins: st_dupgraph_upsert, st_modularity and
    * st_louvain_move drain the SAME AvailableNow file source
    * (identical file set, reader options and `doc_id >= 250` filter),
    * so a FileStreamSource splits them into identical micro-batches
    * and their batch-b increments are the same frame. The two-table
    * discovery (Dedup.ngramJaccardAgainst — increment-proportional,
    * never a full-corpus recompute) now runs once per batch; the
    * other two queries read the memo. Only DISCOVERY is shared: each
    * query still copies its own base artifact, runs its own upsert
    * sequence and its own incremental closure — the maintenance each
    * one proves. The determinism assumption (same splits across the
    * three drains) is re-checked every round by each query's own
    * oracle at both correctness SFs.
    */
  private val streamIncCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, StructType)]
  private[graft] def streamIncrementPairs(
      s: SparkSession,
      dir: String,
      batch: DataFrame,
      batchId: Long): DataFrame = {
    val (path, schema) = streamIncCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir:$batchId", {
        val p = s"/tmp/graft_idx/stinc_${batchId}_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val pairs = graft.operators.Dedup
          .ngramJaccardAgainst(
            batch, s.read.parquet(s"$dir/documents.parquet"),
            "text", "doc_id", 3, 0.2)
          .select(col("id_a"), col("id_b"))
        pairs.write.mode("overwrite").parquet(p)
        (p, pairs.schema)
      })
    s.read.schema(schema).parquet(path)
  }

  /** The canonical PQ fixture: the 8 per-subspace codebooks sliced
    * from the frozen vec_id-1–4 centroids (subDim 8), the query
    * vector and the corpus — the prologue every v_pq_* lifecycle
    * query used to re-collect.
    */
  private[graft] def pqFixture(
      s: SparkSession,
      dir: String): (Seq[Seq[Array[Double]]], Array[Double], DataFrame) = {
    val (cents, query, corpus) = ivfFixture(s, dir)
    val subDim = 8
    val books = (0 until 8).map(sub => cents.map(_.slice(sub * subDim, (sub + 1) * subDim)))
    (books, query, corpus)
  }

  /** Shared immutable stamp-0 PQ BASE artifact per (application,
    * dataset, kind) — [[ivfBase]]'s mirror for the byte-coded layout
    * (kind "clean" / "stale" as there). Five v_pq_* lifecycle queries
    * used to run their own writePqIndex on one of two identical
    * encodes; read-only consumers read in place, mutators COPY first.
    */
  private val pqBaseCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def pqBase(s: SparkSession, dir: String, kind: String): String =
    pqBaseCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir:$kind", {
        val p = s"/tmp/graft_idx/pqbase_${kind}_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val (books, _, corpus) = pqFixture(s, dir)
        val base =
          if (kind == "stale")
            corpus.withColumn(
              "embedding",
              when(col("vec_id") % 5 === 0, reverse(col("embedding")))
                .otherwise(col("embedding")))
          else corpus
        graft.sources.Io.writePqIndex(
          Similarity.pqEncode(base, "embedding", 8, books), books, p)
        p
      })

  /** Shared immutable stamp-0 COMPOSED-INDEX base pair per
    * (application, dataset, kind) — [[ivfBase]]/[[pqBase]] for the
    * IVFADC hybrid: one cell-tagged encode lands BOTH artifacts
    * (coarse cells into the IVF family, cell-carrying codes into the
    * PQ family). Five v_ivfpq_* queries used to re-run the identical
    * assign+encode+write pair; the lifecycle queries mutate only the
    * PQ side, so mutators copy pqPath and read the coarse side in
    * place. Returns (ivfPath, pqPath).
    */
  private val ivfPqBaseCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private[graft] def ivfPqBase(
      s: SparkSession,
      dir: String,
      kind: String): (String, String) =
    ivfPqBaseCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir:$kind", {
        val tag = s"${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val ivfPath = s"/tmp/graft_idx/ivfpqbase_${kind}_c_$tag"
        val pqPath = s"/tmp/graft_idx/ivfpqbase_${kind}_p_$tag"
        val (cents, _, corpus) = ivfFixture(s, dir)
        val (books, _, _) = pqFixture(s, dir)
        val base =
          if (kind == "stale")
            corpus.withColumn(
              "embedding",
              when(col("vec_id") % 5 === 0, reverse(col("embedding")))
                .otherwise(col("embedding")))
          else corpus
        val enc = Similarity.pqEncode(
          Similarity.ivfAssign(base, "embedding", cents), "embedding", 8, books)
        graft.sources.Io.writeIvfIndex(
          enc.select(col("vec_id"), col("cell")), cents, ivfPath)
        graft.sources.Io.writePqIndex(enc, books, pqPath)
        (ivfPath, pqPath)
      })

  /** Shared immutable stamp-0 MINHASH-SIGNATURE base per
    * (application, dataset, kind) — the [[dupGraphBase]] discipline
    * for the signature family: kind "hist" signs the clean historical
    * half (doc_id < 250), "histstale" the %9-placeholder variant the
    * upsert/asof lifecycle queries start from. Mutators COPY first.
    */
  private val sigsBaseCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def sigsBase(s: SparkSession, dir: String, kind: String): String =
    sigsBaseCache.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir:$kind", {
        val p = s"/tmp/graft_idx/sigsbase_${kind}_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
          s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
        val hist = t(s, dir, "documents")
          .select(col("doc_id"), col("text"))
          .filter(col("doc_id") < 250)
        val base =
          if (kind == "histstale")
            hist.select(
              col("doc_id"),
              when(
                col("doc_id") % 9 === 0,
                lit("stale placeholder page content pending recrawl nothing indexed here"))
                .otherwise(col("text")).as("text"))
          else hist
        graft.sources.Io.writeMinhashSigs(
          Dedup.minhashSign(base, "text", "doc_id", 3, 8), p, buckets = 8)
        p
      })

  /** Recursive local-filesystem copy for the copy-on-write mutation
    * directories (wipes `dst` first). Driver-side java.nio only —
    * the artifacts live on the local FS in this harness; a cluster
    * deployment would use the object store's server-side copy.
    */
  private[graft] def deleteTree(dst: String): Unit = {
    import java.nio.file.{Files, Paths}
    val d0 = Paths.get(dst)
    if (Files.exists(d0)) {
      val del = Files.walk(d0)
      try del.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally del.close()
    }
  }

  private[graft] def copyTree(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val s0 = Paths.get(src)
    val d0 = Paths.get(dst)
    deleteTree(dst)
    val st = Files.walk(s0)
    try st.forEach { p =>
      val t = d0.resolve(s0.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally st.close()
  }

  /** Bigram-perplexity oracle builder: the LM is FIT over the docs
    * passing `fitWhere` but SCORES the whole corpus — "TRUE" mirrors
    * t_perplexity_bigram / the persisted and count-merged artifact
    * paths; "doc_id %% 10 <> 0" mirrors the post-takedown model.
    * Weights interpolated from the engine's own constants; both CTE
    * chains derive (t+v) from exact counts, so every log-prob is the
    * identical IEEE expression on both engines; OOV/backoff routing
    * is the same COALESCE chain as TextAnalysis.scoreBigramLm.
    */
  private[graft] def bigramPplOracleSql(fitWhere: String): String = {
    val bw = TextAnalysis.BigramWeight
    val uw = TextAnalysis.UnigramWeight
    s"""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
       |  FROM documents WHERE length(trim(text)) > 0),
       |tok AS (SELECT doc_id, CAST(gs.i AS BIGINT) AS pos, tk[CAST(gs.i+1 AS INT)] AS term,
       |          CASE WHEN gs.i = 0 THEN NULL ELSE tk[CAST(gs.i AS INT)] END AS prev
       |        FROM tk, LATERAL (SELECT unnest(generate_series(0, len(tk)-1)) AS i) gs),
       |tokf AS (SELECT * FROM tok WHERE $fitWhere),
       |vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tokf GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
       |big AS (SELECT prev, term, CAST(COUNT(*) AS BIGINT) AS cab FROM tokf
       |        WHERE prev IS NOT NULL GROUP BY 1, 2),
       |ctx AS (SELECT prev, CAST(SUM(cab) AS BIGINT) AS ca FROM big GROUP BY 1),
       |unilp AS (SELECT term,
       |    CAST(round(ln((CAST(cnt AS DOUBLE)+1.0)/(CAST(t AS DOUBLE)+CAST(v AS DOUBLE)))*1000000) AS BIGINT) AS lp6,
       |    CAST(round(ln($uw*((CAST(cnt AS DOUBLE)+1.0)/(CAST(t AS DOUBLE)+CAST(v AS DOUBLE))))*1000000) AS BIGINT) AS lpbo6
       |  FROM vocab, tot),
       |bilp AS (SELECT b.prev, b.term,
       |    CAST(round(ln($bw*(CAST(b.cab AS DOUBLE)/CAST(c.ca AS DOUBLE)) +
       |      $uw*((CAST(vv.cnt AS DOUBLE)+1.0)/(CAST(t AS DOUBLE)+CAST(v AS DOUBLE))))*1000000) AS BIGINT) AS lp6
       |  FROM big b JOIN ctx c USING (prev) JOIN vocab vv ON vv.term = b.term, tot),
       |scored AS (
       |  SELECT tok.doc_id,
       |    CASE WHEN tok.pos = 0 THEN COALESCE(u.lp6,
       |      CAST(round(ln(1.0/(CAST(t AS DOUBLE)+CAST(v AS DOUBLE)))*1000000) AS BIGINT))
       |    ELSE COALESCE(b.lp6, u.lpbo6,
       |      CAST(round(ln($uw/(CAST(t AS DOUBLE)+CAST(v AS DOUBLE)))*1000000) AS BIGINT)) END AS lp6
       |  FROM tok
       |  LEFT JOIN unilp u ON u.term = tok.term
       |  LEFT JOIN bilp b ON b.prev = tok.prev AND b.term = tok.term
       |  CROSS JOIN tot)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |       CAST(-SUM(lp6) AS BIGINT) AS nll_sum6,
       |       round(CAST(-SUM(lp6) AS DOUBLE) / (COUNT(*)*1000000.0), 6) AS mean_nll,
       |       round(exp(CAST(-SUM(lp6) AS DOUBLE) / (COUNT(*)*1000000.0)), 4) AS ppl
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** w_mann_kendall / st_mann_kendall shared oracle: the streaming
    * monitor merges partial daily count grids and re-runs the same
    * trend test, so one SQL is the truth for both paths.
    */
  private[graft] lazy val mannKendallOracleSql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |base AS (SELECT event_type, CAST(day - DATE '1970-01-01' AS BIGINT) AS dd, n FROM d),
        |sg AS (SELECT a.event_type,
        |         CAST(sum(CAST(sign(b.n - a.n) AS BIGINT)) AS BIGINT) AS s_stat
        |       FROM base a JOIN base b ON a.event_type = b.event_type AND a.dd < b.dd
        |       GROUP BY 1),
        |ti AS (SELECT event_type, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt
        |       FROM (SELECT event_type, n, CAST(count(*) AS BIGINT) AS t
        |             FROM d GROUP BY 1, 2)
        |       GROUP BY 1),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM d GROUP BY 1),
        |j AS (SELECT nd.event_type, nd.n_days, sg.s_stat,
        |        CAST(nd.n_days AS HUGEINT) * (nd.n_days - 1)
        |          * (2 * nd.n_days + 5) - ti.tt AS den
        |      FROM nd JOIN sg USING (event_type) JOIN ti USING (event_type)
        |      WHERE nd.n_days >= 2),
        |f AS (SELECT event_type, n_days, s_stat,
        |        CAST(CASE WHEN s_stat >= 0
        |             THEN (1000000 * s_stat) // (n_days * (n_days - 1) // 2)
        |             ELSE -((1000000 * -s_stat) // (n_days * (n_days - 1) // 2)) END AS BIGINT)
        |          AS tau6,
        |        CASE WHEN s_stat = 0 OR den <= 0 THEN CAST(0 AS BIGINT)
        |        ELSE CAST((CAST(18000000 AS HUGEINT)
        |                   * (abs(s_stat) - 1) * (abs(s_stat) - 1)) // den AS BIGINT) END
        |          AS z2_6
        |      FROM j)
        |SELECT event_type, n_days, s_stat, tau6, z2_6, z2_6 >= 3841459 AS significant
        |FROM f ORDER BY event_type""".stripMargin

  /** w_cusum / st_cusum shared oracle: the daily count grid is the
    * mergeable sufficient statistic, so one SQL is the truth for
    * both paths.
    */
  private[graft] lazy val cusumOracleSql: String =
    """WITH c AS (SELECT event_type AS grp, strftime(ts, '%Y-%m-%d') AS bucket,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT grp, list(n ORDER BY bucket) AS seq, CAST(sum(n) AS BIGINT) AS tot,
        |        CAST(count(*) AS BIGINT) AS days FROM c GROUP BY 1),
        |p AS (SELECT grp, days, seq, tot * 1000000 // days AS mu6 FROM g),
        |f AS (SELECT grp, days, mu6,
        |        list_reduce(
        |          list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
        |                       list_transform(seq, x -> [x, x])),
        |          (acc, e) -> [greatest(0, acc[1] + e[1] * 1000000 - mu6 - mu6 // 10),
        |                       greatest(acc[2],
        |                         greatest(0, acc[1] + e[1] * 1000000 - mu6 - mu6 // 10))]) AS st
        |      FROM p)
        |SELECT grp, days, mu6, st[1] AS cusum_final6, st[2] AS cusum_max6,
        |       st[2] > mu6 * 5 AS alarm
        |FROM f ORDER BY grp""".stripMargin

  /** w_fano / st_fano shared oracle: same daily-grid merge
    * invariance.
    */
  private[graft] lazy val fanoOracleSql: String =
    """WITH c AS (SELECT event_type AS grp, strftime(ts, '%Y-%m-%d') AS bucket,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS days,
        |        CAST(SUM(n) AS BIGINT) AS total,
        |        SUM(CAST(n AS HUGEINT) * n) AS ss
        |      FROM c GROUP BY 1)
        |SELECT grp, days, total,
        |  CASE WHEN days < 2 OR total <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(1000000 AS HUGEINT)
        |             * (CAST(days AS HUGEINT) * ss - CAST(total AS HUGEINT) * total))
        |            // (CAST(days - 1 AS HUGEINT) * total) AS BIGINT) END AS fano6
        |FROM g ORDER BY grp""".stripMargin

  /** w_page_hinkley / st_page_hinkley shared oracle: the streaming
    * monitor merges partial daily count grids and re-runs the same
    * running-mean fold, so one SQL is the truth for both paths.
    */
  private[graft] lazy val pageHinkleyOracleSql: String =
    """WITH c AS (SELECT event_type AS grp, strftime(ts, '%Y-%m-%d') AS bucket,
        |             CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT grp, list(n ORDER BY bucket) AS seq,
        |        CAST(count(*) AS BIGINT) AS days FROM c GROUP BY 1),
        |f AS (SELECT grp, days,
        |        list_reduce(
        |          list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |                        CAST(9223372036854775807 AS BIGINT), CAST(0 AS BIGINT)],
        |                       list_transform(seq, x -> [x, x, x, x, x])),
        |          (acc, e) -> [
        |            acc[1] + 1,
        |            acc[2] + e[1],
        |            acc[3] + e[1] * 1000000 - ((acc[2] + e[1]) * 1000000) // (acc[1] + 1),
        |            least(acc[4],
        |              acc[3] + e[1] * 1000000 - ((acc[2] + e[1]) * 1000000) // (acc[1] + 1)),
        |            greatest(acc[5],
        |              (acc[3] + e[1] * 1000000 - ((acc[2] + e[1]) * 1000000) // (acc[1] + 1))
        |              - least(acc[4],
        |                  acc[3] + e[1] * 1000000
        |                  - ((acc[2] + e[1]) * 1000000) // (acc[1] + 1)))]) AS st
        |      FROM g)
        |SELECT grp, days, st[3] AS m_final6, st[5] AS ph_max6,
        |       st[5] > 20000000 AS alarm
        |FROM f ORDER BY grp""".stripMargin

  /** w_logrank / st_logrank shared oracle: a per-entity lifetime is
    * (min day, max day) — both mergeable — so the streaming monitor's
    * min/max-merged partials feed the identical test; one SQL is the
    * truth for both paths (events lifetimes, 3-day ages, 1-day
    * censor horizon — the corpus ends abruptly, so only a tight
    * horizon leaves churn to test — parity groups).
    */
  private[graft] lazy val eventsLogRankOracleSql: String =
    """WITH u AS (SELECT user_id,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS g,
        |    min(CAST(ts AS DATE)) AS f, max(CAST(ts AS DATE)) AS l
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
        |cm AS (SELECT max(l) AS cmax FROM u),
        |sides AS (SELECT min(g) AS side_a, max(g) AS side_b FROM u),
        |lv AS (SELECT datediff('day', f, l) // 3 AS age,
        |         (datediff('day', l, cmax) < 1) AS cens,
        |         (g = (SELECT side_a FROM sides)) AS isa
        |       FROM u, cm),
        |ag AS (SELECT age,
        |    CAST(SUM(CASE WHEN NOT cens AND isa THEN 1 ELSE 0 END) AS BIGINT) AS da,
        |    CAST(SUM(CASE WHEN NOT cens AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS db,
        |    CAST(SUM(CASE WHEN cens AND isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN cens AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM lv GROUP BY 1),
        |g2 AS (SELECT age, da, db, ca, cb,
        |    CAST(SUM(da + ca) OVER (ORDER BY age DESC) AS BIGINT) AS na,
        |    CAST(SUM(db + cb) OVER (ORDER BY age DESC) AS BIGINT) AS nb
        |  FROM ag),
        |tt AS (SELECT da, db, ca, cb, na, nb,
        |    CAST((CAST(1000000 AS HUGEINT) * (da + db) * na) // (na + nb) AS BIGINT)
        |      AS e6,
        |    CASE WHEN na + nb < 2 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000 AS HUGEINT) * (da + db) * na * nb
        |               * (na + nb - da - db))
        |              // (CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb - 1))
        |              AS BIGINT) END AS v6
        |  FROM g2),
        |f AS (SELECT
        |    (SELECT side_a FROM sides) AS side_a,
        |    (SELECT side_b FROM sides) AS side_b,
        |    CAST(SUM(da + ca) AS BIGINT) AS n_a,
        |    CAST(SUM(db + cb) AS BIGINT) AS n_b,
        |    CAST(SUM(da) AS BIGINT) AS o_a,
        |    CAST(SUM(e6) AS BIGINT) AS e6,
        |    CAST(SUM(v6) AS BIGINT) AS v6
        |  FROM tt)
        |SELECT side_a, side_b, n_a, n_b, o_a, e6, v6,
        |  CASE WHEN v6 <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(((CAST(1000000 AS HUGEINT) * o_a - e6)
        |             * (CAST(1000000 AS HUGEINT) * o_a - e6)) // v6 AS BIGINT)
        |  END AS z2_6,
        |  CASE WHEN v6 <= 0 THEN FALSE
        |  ELSE ((CAST(1000000 AS HUGEINT) * o_a - e6)
        |        * (CAST(1000000 AS HUGEINT) * o_a - e6)) // v6 >= 3841459
        |  END AS significant
        |FROM f""".stripMargin

  /** a_qini / st_qini shared oracle: the per-user (spend, buyer,
    * treated) table is a sufficient statistic (sums and maxes merge),
    * so one SQL is the truth for both paths.
    */
  private[graft] lazy val qiniOracleSql: String =
    """WITH per AS (SELECT user_id,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS buyer,
        |    CAST(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS tr
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1),
        |rk AS (SELECT cents, user_id, tr, buyer,
        |    CAST(row_number() OVER (ORDER BY cents DESC, user_id) AS BIGINT) AS r
        |  FROM per),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per),
        |b AS (SELECT ((r - 1) * 10) // n + 1 AS bucket, tr, buyer FROM rk, t),
        |g AS (SELECT bucket,
        |    CAST(SUM(tr) AS BIGINT) AS n_t,
        |    CAST(SUM(tr * buyer) AS BIGINT) AS x_t,
        |    CAST(SUM(1 - tr) AS BIGINT) AS n_c,
        |    CAST(SUM((1 - tr) * buyer) AS BIGINT) AS x_c
        |  FROM b GROUP BY 1),
        |c AS (SELECT *,
        |    CAST(SUM(n_t) OVER (ORDER BY bucket) AS BIGINT) AS cnt,
        |    CAST(SUM(x_t) OVER (ORDER BY bucket) AS BIGINT) AS cxt,
        |    CAST(SUM(n_c) OVER (ORDER BY bucket) AS BIGINT) AS cnc,
        |    CAST(SUM(x_c) OVER (ORDER BY bucket) AS BIGINT) AS cxc
        |  FROM g)
        |SELECT CAST(bucket AS BIGINT) AS bucket, n_t, x_t, n_c, x_c,
        |  CASE WHEN n_t = 0 OR n_c = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((1000000 * x_t) // n_t - (1000000 * x_c) // n_c AS BIGINT)
        |  END AS uplift6,
        |  CASE WHEN cnc = 0 THEN CAST(1000000 * cxt AS BIGINT)
        |  ELSE CAST(CAST(1000000 AS HUGEINT) * cxt
        |       - (CAST(1000000 AS HUGEINT) * cxc * cnt) // cnc AS BIGINT)
        |  END AS qini6
        |FROM c ORDER BY bucket""".stripMargin

  /** a_cif / st_cif shared oracle: per-entity lifetime (min/max day)
    * and terminal cause ((day, cause) struct-max) are all mergeable,
    * so the streaming monitor's merged partials feed the identical
    * CIF; one SQL is the truth for both paths.
    */
  private[graft] lazy val cifOracleSql: String =
    """WITH RECURSIVE u AS (SELECT user_id,
        |    min(CAST(ts AS DATE)) AS f, max(CAST(ts AS DATE)) AS l,
        |    split_part(max(strftime(CAST(ts AS DATE), '%Y-%m-%d')
        |                   || '|' || event_type), '|', 2) AS cause
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1),
        |cm AS (SELECT max(l) AS cmax FROM u),
        |lv AS (SELECT datediff('day', f, l) // 3 AS age,
        |         (datediff('day', l, cmax) < 1) AS cens, cause FROM u, cm),
        |ag AS (SELECT age, CAST(SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |         CAST(SUM(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) AS c
        |       FROM lv GROUP BY 1),
        |g AS (SELECT age, d, c, CAST(sum(d + c) OVER (ORDER BY age DESC) AS BIGINT) AS n,
        |        row_number() OVER (ORDER BY age) AS i FROM ag),
        |km AS (
        |  SELECT i, CAST((1000000 * (n - d)) // n AS BIGINT) AS s6 FROM g WHERE i = 1
        |  UNION ALL
        |  SELECT g.i, CAST((km.s6 * (g.n - g.d)) // g.n AS BIGINT)
        |  FROM km JOIN g ON g.i = km.i + 1),
        |kj AS (SELECT g.age, g.n, km.s6,
        |         COALESCE(lag(km.s6) OVER (ORDER BY g.age), 1000000) AS s6prev
        |       FROM g JOIN km USING (i)),
        |ca AS (SELECT cause, age, CAST(COUNT(*) AS BIGINT) AS d_c
        |       FROM lv WHERE NOT cens GROUP BY 1, 2),
        |inc AS (SELECT ca.cause, ca.age, kj.n, ca.d_c,
        |          CAST((kj.s6prev * ((1000000 * ca.d_c) // kj.n)) // 1000000 AS BIGINT)
        |            AS inc6
        |        FROM ca JOIN kj ON ca.age = kj.age)
        |SELECT cause, age, n AS n_risk, d_c,
        |  CAST(SUM(inc6) OVER (PARTITION BY cause ORDER BY age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cif6
        |FROM inc ORDER BY cause, age""".stripMargin

  /** a_roc_auc / st_roc_auc shared oracle: the streaming monitor
    * merges partial per-score count grids and re-runs the same rank
    * chassis, so one SQL is the truth for both paths.
    */
  private[graft] lazy val rocAucOracleSql: String =
    """WITH base AS (SELECT (event_type = 'purchase') AS y,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |cnt AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
        |          CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np
        |        FROM base GROUP BY 1),
        |rk AS (SELECT v, t, np,
        |         CAST(COALESCE(SUM(t) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS BIGINT)
        |           AS rmin
        |       FROM cnt),
        |agg AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
        |               CAST(SUM(t - np) AS BIGINT) AS n_neg,
        |               SUM(CAST(np AS HUGEINT) * (2 * rmin + t - 1)) AS r2p
        |        FROM rk),
        |u AS (SELECT n_pos, n_neg,
        |        CAST(r2p - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS BIGINT) AS u2x
        |      FROM agg),
        |a AS (SELECT n_pos, n_neg, u2x,
        |        CAST((CAST(1000000 AS HUGEINT) * u2x)
        |             // (CAST(2 AS HUGEINT) * n_pos * n_neg) AS BIGINT) AS auc6
        |      FROM u)
        |SELECT n_pos, n_neg, u2x, auc6,
        |       CAST(2 * auc6 - 1000000 AS BIGINT) AS gini6
        |FROM a""".stripMargin

  /** a_brier_ece / st_brier_ece shared oracle: the streaming monitor
    * merges partial calibration-cell grids (all sums linear) and
    * re-derives the summary, so one SQL is the truth for both paths.
    */
  private[graft] lazy val brierEceOracleSql: String =
    """WITH base AS (SELECT (event_type = 'purchase') AS y,
        |    LEAST(1000000, CAST(round(value * 100) AS BIGINT) * 100) AS s6
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |b AS (SELECT LEAST(9, (s6 * 10) // 1000000) AS bin, s6,
        |        CASE WHEN y THEN 1 ELSE 0 END AS yy
        |      FROM base),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yy) AS BIGINT) AS x,
        |        CAST(SUM(s6) AS BIGINT) AS ss,
        |        CAST(SUM(CAST(s6 AS HUGEINT) * s6) AS HUGEINT) AS s2,
        |        CAST(SUM(s6 * yy) AS BIGINT) AS sy
        |      FROM b GROUP BY 1),
        |gg AS (SELECT n, x, s2, sy,
        |         CAST(abs((1000000 * x) // n - ss // n) AS BIGINT) AS gap6
        |       FROM g)
        |SELECT CAST(SUM(n) AS BIGINT) AS n,
        |  CAST(SUM(n * gap6) // SUM(n) AS BIGINT) AS ece6,
        |  CAST((SUM(s2) - CAST(2000000 AS HUGEINT) * SUM(sy)
        |        + CAST(1000000 AS HUGEINT) * 1000000 * SUM(x)) // SUM(n) AS BIGINT)
        |    AS brier12
        |FROM gg""".stripMargin

  /** Shared group-sequential-looks oracle: a_obf_looks and
    * a_pocock_looks differ ONLY in the 5 boundary literals, so one
    * builder keeps engine and oracle boundaries in lockstep with
    * [[graft.operators.Experiments.ObfZ2Micro5]] /
    * [[graft.operators.Experiments.PocockZ2Micro5]].
    */
  private[graft] def groupSeqLooksOracleSql(bounds: Seq[Long]): String =
    s"""WITH base AS (
        | SELECT event_type AS g,
        |        CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
        |        least(5, 1 + (CAST(ts AS DATE) - DATE '2024-01-01') // 6) AS look,
        |        CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS s
        | FROM events
        | WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |   AND event_type IS NOT NULL),
        |cells AS (SELECT g, v, CAST(look AS BIGINT) AS look,
        |            CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS x
        |          FROM base GROUP BY 1, 2, 3),
        |spine AS (SELECT DISTINCT g, look FROM cells),
        |vars AS (SELECT DISTINCT g, v FROM cells),
        |filled AS (SELECT s.g, vr.v, s.look,
        |             CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
        |             CAST(COALESCE(c.x, 0) AS BIGINT) AS x
        |           FROM spine s JOIN vars vr ON vr.g = s.g
        |           LEFT JOIN cells c ON c.g = s.g AND c.v = vr.v AND c.look = s.look),
        |cum AS (SELECT * FROM (
        |          SELECT g, v, look,
        |            CAST(SUM(n) OVER (PARTITION BY g, v ORDER BY look
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
        |            CAST(SUM(x) OVER (PARTITION BY g, v ORDER BY look
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cx
        |          FROM filled) WHERE cn > 0),
        |mm AS (SELECT g, look, COUNT(*) AS nv, MIN(v) AS variant_a, MAX(v) AS variant_b
        |       FROM cum GROUP BY 1, 2),
        |bd(look, bound6) AS (VALUES (CAST(1 AS BIGINT), CAST(${bounds(0)} AS BIGINT)),
        |  (2, ${bounds(1)}), (3, ${bounds(2)}), (4, ${bounds(3)}), (5, ${bounds(4)})),
        |j AS (SELECT mm.g, mm.look,
        |             a.cn AS n_a, a.cx AS x_a, b.cn AS n_b, b.cx AS x_b, bd.bound6
        |      FROM mm JOIN cum a ON a.g = mm.g AND a.look = mm.look AND a.v = mm.variant_a
        |              JOIN cum b ON b.g = mm.g AND b.look = mm.look AND b.v = mm.variant_b
        |              JOIN bd ON bd.look = mm.look
        |      WHERE mm.nv = 2),
        |z AS (SELECT j.*,
        |        CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN CAST(0 AS BIGINT)
        |        ELSE CAST((CAST(1000000 AS HUGEINT)
        |                   * (CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a)
        |                   * (CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a)
        |                   * CAST(n_a + n_b AS HUGEINT))
        |              // (CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
        |                  * CAST(x_a + x_b AS HUGEINT)
        |                  * CAST(n_a + n_b - x_a - x_b AS HUGEINT)) AS BIGINT) END AS z2_6
        |      FROM j)
        |SELECT g AS "group", look, n_a, x_a, n_b, x_b, z2_6, bound6,
        |       z2_6 >= bound6 AS crossed
        |FROM z ORDER BY "group", look""".stripMargin

  /** Hyperplanes for v_lsh_pairs — same seeded generator as
    * Similarity.hyperplaneSignature(seed=42); the literal values are
    * interpolated into the oracle SQL so both sides use identical
    * planes.
    */
  private val LshDim = 64
  private val LshBits = 8
  private lazy val lshPlanes: Array[Array[Double]] =
    Similarity.hyperplanes(LshDim, LshBits, 42L)

  /** Banded-LSH configuration for v_lsh_banded — 4 bands × 4 bits,
    * same seeded stream (the first 8 planes coincide with `lshPlanes`
    * by construction: one Random(42) stream).
    */
  private val LshBands = 4
  private val LshBandBits = 4
  private lazy val lshBandPlanes: Array[Array[Double]] =
    Similarity.hyperplanes(LshDim, LshBands * LshBandBits, 42L)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F4 — keyword timeline filter: events of selected types as
    // "date: type" lines (structured_extraction_v2.py:1328-1346)
    "f4_timeline" -> { (s, dir) =>
      t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "signup"))
        .select(
          col("event_id"),
          concat(date_format(col("ts"), "yyyy-MM-dd"), lit(": "), col("event_type"))
            .as("line"))
        .orderBy(col("event_id"))
    },
    // set ops beyond the reference's unions: intersect / except
    "u3_intersect_except" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val fast = d.filter(col("text").contains("fast")).select(col("doc_id"))
      val data = d.filter(col("text").contains("data")).select(col("doc_id"))
      fast.intersect(data).withColumn("op", lit("both"))
        .unionByName(fast.except(data).withColumn("op", lit("fast_only")))
        .orderBy(col("op"), col("doc_id"))
    },
    // pivot: event-type histogram as one row per user (conditional-agg
    // mirror in the oracle — same values, engine-native PIVOT plan)
    "a_pivot" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy(col("user_id"))
    },
    // OLAP rollup with grouping markers (beyond the reference —
    // subtotal/grand-total rows for the pricing summary shape)
    "a_rollup" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))
        .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"), col("l_linestatus"))
    },
    // TPC-H Q4 pattern: EXISTS correlated subquery as a left-semi join
    // with a non-equi conjunct (late-shipped orders per priority)
    "q4_priority_exists" -> { (s, dir) =>
      val o = t(s, dir, "orders").filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp_ntz"))
      val l = t(s, dir, "lineitem")
      o.join(
          l,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    // TPC-H Q16 pattern: count-distinct aggregate + HAVING filter
    "q16_supplier_cnt" -> { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1")
        .join(t(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .filter(col("supplier_cnt") > 40)
        .orderBy(col("p_brand"), col("p_size"))
    },
    // exact multi-quantile per group: percentile_cont at dyadic
    // fractions over the integer-valued quantity — interpolation is
    // exact rational arithmetic, so Spark and DuckDB agree bit-for-bit
    "a_quantiles" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(percentile(col("l_quantity"), array(lit(0.25), lit(0.5), lit(0.75))).as("qs"))
        .select(
          col("l_linestatus"),
          element_at(col("qs"), 1).as("q25"),
          element_at(col("qs"), 2).as("q50"),
          element_at(col("qs"), 3).as("q75"))
        .orderBy(col("l_linestatus"))
    },
    // exact equi-depth histogram boundaries over documents.n_chars
    // (Relational.equiDepthBoundaries): value at global rank
    // max(1, i·n div 10) under the (value, doc_id) total order — the
    // table-stats artifact computed exactly where approx_percentile
    // would be engine-opaque; range-partitioned sort, k-row broadcast
    // rank probe
    "a_equidepth" -> { (s, dir) =>
      Relational
        .equiDepthBoundaries(
          t(s, dir, "documents"), col("n_chars").cast("long"), col("doc_id"), 10)
        .orderBy(col("bucket"))
    },
    // full grouping-sets lattice: cube over (flag, status) with
    // grouping() markers disambiguating the null super-aggregate rows
    "a_cube" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))
        .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"), col("l_linestatus"))
    },
    // unpivot/melt: wide metric columns -> long (metric, value) rows
    // via stack() — the Generate-based melt that never shuffles;
    // exact-decimal sums keep the re-aggregation hash-matchable
    "a_unpivot" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .select(
          col("l_returnflag"),
          expr(
            "stack(3, 'discount', l_discount, 'extendedprice', l_extendedprice, " +
              "'quantity', l_quantity) as (metric, v)"))
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(sum(col("v").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy(col("l_returnflag"), col("metric"))
    },
    // ranking-window family: ntile quartiles + rank over order spend,
    // PARTITIONED by status (a global ntile would funnel the table
    // through one window partition — per-key windows scale)
    "w_ntile" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("rk", rank().over(w).cast("long"))
        .groupBy(col("o_orderstatus"), col("quartile"))
        .agg(
          count(lit(1)).as("n"),
          min(col("rk")).as("min_rank"),
          max(col("rk")).as("max_rank"))
        .orderBy(col("o_orderstatus"), col("quartile"))
    },
    // lead/lag window family: inter-event gap seconds per user
    "w_event_gaps" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn(
          "gap_us",
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).cast("long"))
        .select(col("user_id"), col("event_id"), col("gap_us"))
        .orderBy(col("user_id"), col("event_id"))
    },
    // J5 — risk enrichment join: retrieval-row context (source, score
    // stand-in) attached to each exploded risk signal — the
    // explode-after-UDF join (risk_detection.py:179-193)
    "j5_risk_enriched" -> { (s, dir) =>
      val cats = Seq(
        ("capacity", Seq("big", "huge"), "medium"),
        ("latency", Seq("slow", "lag"), "high"))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          col("source"),
          (col("n_chars") % 100).cast("double").as("score"),
          explode(TextAnalysis.riskSignals(col("text"), cats)).as("r"))
        .select(
          col("doc_id"),
          col("source"),
          col("score"),
          col("r.risk_type").as("risk_type"),
          col("r.keyword").as("keyword"),
          col("r.severity").as("severity"))
        .orderBy(col("doc_id"), col("risk_type"))
    },
    // E2 — payload point lookup: key-partitioned read of the
    // assembled nested payload (api.py:388-430 / tools.py:66-153)
    "e2_payload_lookup" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_spent"))
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .filter(col("c_custkey") % 100 === 42)
        .select(
          col("c_custkey"),
          col("c_name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spent"), lit(0.0)).as("total_spent"))
        .orderBy(col("c_custkey"))
    },
    // E3 — end-to-end nested payload assembly + canonical JSON
    // serialization (structured_extraction_v2.py:3394-3548, the
    // reference's core product): parent + per-child sorted arrays,
    // empty arrays (not null) for childless parents, one JSON doc per
    // row. Children are filtered so the empty-array branch actually
    // fires; every field is a non-null string/bigint so Spark's
    // to_json and the DuckDB oracle cannot diverge on null-omission
    // or double rendering.
    "e3_payload_assembly" -> { (s, dir) =>
      val companies = t(s, dir, "customer").select(
        col("c_custkey").as("company_id"),
        col("c_name").as("name"),
        col("c_mktsegment").as("segment"))
      val orders = t(s, dir, "orders")
      val events = orders
        .filter(col("o_totalprice") > 150000)
        .select(
          col("o_custkey").as("company_id"),
          col("o_orderkey").as("event_id"),
          col("o_orderpriority").as("title"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("occurred_on"),
          col("o_orderstatus").as("event_type"),
          round(col("o_totalprice") * 100).cast("long").as("amount_cents"))
      val priorities = orders
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("o_custkey").as("company_id"), col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"))
      val assembled = graft.pipelines.Payload.assemble(
        companies,
        "company_id",
        Seq(
          (events, "company_id",
            Seq("event_id", "title", "occurred_on", "event_type", "amount_cents"), "events"),
          (priorities, "company_id", Seq("priority", "n"), "priority_counts")))
      graft.pipelines.Payload.toJsonDocs(assembled).orderBy(col("payload_json"))
    },
    // F6 — page-error predicate: drop error pages / short error blurbs
    // (scraper_v2.py:1093-1129)
    "f6_page_error" -> { (s, dir) =>
      val pageText = when(col("doc_id") % 7 === 0, concat(lit("404 Not Found: "), col("text")))
        .when(col("doc_id") % 7 === 1, lit("Error loading page"))
        .when(col("doc_id") % 7 === 2, concat(lit("Checking your browser... "), col("text")))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), pageText.as("page_text"))
        .filter(!Filters.pageError(col("page_text")))
        .select(col("doc_id"), substring(col("page_text"), 1, 40).as("head40"))
        .orderBy(col("doc_id"))
    },
    // F7 — placeholder/section/name-validity gauntlet
    // (structured_extraction_v2.py:112-215)
    "f7_name_filter" -> { (s, dir) =>
      val name = when(col("c_custkey") % 5 === 0, lit("John Doe"))
        .when(col("c_custkey") % 5 === 1, lit("About Us"))
        .when(col("c_custkey") % 5 === 2, lit("Ada Lovelace"))
        .when(col("c_custkey") % 5 === 3, lit("grace hopper"))
        .otherwise(lit("Grace Murray Hopper"))
      t(s, dir, "customer")
        .select(col("c_custkey"), name.as("name"))
        .filter(
          Filters.isValidFullName(col("name")) &&
            !Filters.isPlaceholderName(col("name")) &&
            !Filters.isWebsiteSection(col("name")))
        .orderBy(col("c_custkey"))
    },
    // F8 — geo cleaning over candidate arrays: explode → plausibility
    // filter → distinct set per doc (structured_extraction_v2.py:1758-1845)
    "f8_geo_clean" -> { (s, dir) =>
      val cand = array(
        lit("San Francisco"),
        lit("visit London"),
        when(col("doc_id") % 3 === 0, lit("New York")).otherwise(lit("click here")),
        initcap(col("lang")),
        lit("NY"),
        lit("Paris"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(cand).as("cand"))
        .filter(Filters.isPlausibleCity(col("cand")))
        .groupBy(col("doc_id"))
        .agg(array_join(array_sort(collect_set(col("cand"))), ",").as("cities_csv"))
        .orderBy(col("doc_id"))
    },
    // F9 — article-link predicate: same-domain, skip listing paths,
    // require article-ish segment (news_extractor.py:91-130)
    "f9_article_links" -> { (s, dir) =>
      val id = col("doc_id").cast("string")
      val url = when(col("doc_id") % 4 === 0, concat(lit("https://site.example.com/blog/post-"), id))
        .when(col("doc_id") % 4 === 1, concat(lit("https://site.example.com/category/cat-"), id))
        .when(col("doc_id") % 4 === 2, concat(lit("https://other.example.com/blog/x-"), id))
        .otherwise(concat(lit("https://www.site.example.com/news/item-"), id))
      t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .filter(Filters.looksLikeArticleLink(col("url"), lit("site.example.com")))
        .orderBy(col("doc_id"))
    },
    // S4+C14+U2+D1+A6 — ATS pipeline end-to-end: Greenhouse + Lever
    // JSON payloads → parse/explode → union → first-wins dedup on
    // (title,url) → openings counts with eng/sales regex splits
    // (ats_extractor.py:114-288; scraper_v2.py:1045-1055,2693-2724)
    "s4_ats_jobs" -> { (s, dir) =>
      val key = col("s_suppkey").cast("string")
      val title1 = when(col("s_suppkey") % 3 === 0, lit("Software Engineer"))
        .when(col("s_suppkey") % 3 === 1, lit("Sales Executive"))
        .otherwise(lit("Product Designer"))
      val gh = concat(
        lit("{\"jobs\":[{\"title\":\""), title1,
        lit("\",\"absolute_url\":\"https://gh/a"), key,
        lit("\",\"location\":{\"name\":\"Remote\"}},{\"title\":\"Data Engineer\",\"absolute_url\":\"https://gh/b"), key,
        lit("\"}]}"))
      val lv = concat(
        lit("[{\"text\":\"Data Engineer\",\"hostedUrl\":\"https://gh/b"), key,
        lit("\",\"categories\":{\"location\":\"NYC\",\"team\":\"Data\"}}]"))
      val base = t(s, dir, "supplier")
        .select((col("s_suppkey") % 10).as("company_id"), gh.as("gh_resp"), lv.as("lv_resp"))
      val ghJobs = Jobs.parseGreenhouse(base.select(col("company_id"), col("gh_resp")), "gh_resp")
      val lvJobs = Jobs.parseLever(base.select(col("company_id"), col("lv_resp")), "lv_resp")
      val deduped = Jobs.unionDedup(
        Seq(ghJobs, lvJobs),
        _ => when(col("source") === "greenhouse", 0).otherwise(1))
      Jobs
        .openingsCounts(deduped)
        .orderBy(col("company_id"))
    },
    // S4 — full vendor routing: detect_ats over (html, url) decides
    // which parser runs; Workable + Ashby come from their API JSON
    // shapes, Workday from data-automation-id HTML blocks (second
    // Workday job has no location element → null)
    // (ats_extractor.py:43-113 detect, 289-560 parsers)
    "s4_ats_vendors" -> { (s, dir) =>
      val key = col("s_suppkey").cast("string")
      val v = col("s_suppkey") % 3
      val html = when(
        v === 0,
        concat(lit("<iframe src=\"https://apply.workable.com/acme-"), key, lit("/\"></iframe>")))
        .when(v === 1, lit("<div>open roles</div>"))
        .otherwise(concat(
          lit("<li data-automation-id=\"jobPosting\"><a data-automation-id=\"jobTitle\" href=\"/job/JR-"),
          key,
          lit("\">Staff Engineer "), key,
          lit("</a><span data-automation-id=\"locations\">Austin</span></li>" +
            "<li data-automation-id=\"jobPosting\"><a data-automation-id=\"jobTitle\" href=\"/job/PR-"),
          key,
          lit("\">Platform Engineer "), key,
          lit("</a></li><script src=\"https://acme.myworkdayjobs.com/w.js\"></script>")))
      // the ashby arm carries its marker ONLY in the careers URL —
      // detect must consult both inputs like the reference
      val url = when(v === 1, concat(lit("https://jobs.ashbyhq.com/org-"), key))
        .otherwise(lit("https://acme.example.com/careers"))
      val wb = concat(
        lit("{\"results\":[{\"title\":\"Backend Engineer\",\"location\":{\"city\":[\"Berlin\",\"Remote\"]}," +
          "\"department\":\"Eng\",\"shortlink\":\"https://wk/"), key, lit("\"}]}"))
      val as = concat(
        lit("{\"jobPostings\":[{\"title\":\"Data Scientist\",\"locationName\":\"NYC\"," +
          "\"team\":{\"name\":\"Data\"},\"publishedJobUrl\":\"https://ash/"), key, lit("\"}]}"))
      val base = t(s, dir, "supplier")
        .select(
          col("s_suppkey").as("company_id"),
          html.as("html"), url.as("careers_url"), wb.as("wb_resp"), as.as("as_resp"))
        .withColumn("vendor", Jobs.detectAts(col("html"), col("careers_url")))
      val wbJobs = Jobs.parseWorkable(
        base.filter(col("vendor") === "workable").select(col("company_id"), col("wb_resp")), "wb_resp")
      val asJobs = Jobs.parseAshby(
        base.filter(col("vendor") === "ashby").select(col("company_id"), col("as_resp")), "as_resp")
      val wdJobs = Jobs.parseWorkday(
        base.filter(col("vendor") === "workday")
          .select(col("company_id"), col("html"), col("careers_url")),
        "html", "careers_url")
      Jobs
        .unionDedup(Seq(wbJobs, asJobs, wdJobs), _ => lit(0))
        .select(col("company_id"), col("source"), col("title"), col("url"), col("location"))
        .orderBy(col("company_id"), col("title"))
    },
    // S6 — multi-source document loader END-TO-END
    // (structured_extraction_v2.py:835-1219 `load_all_sources`): a
    // deterministic per-company file TREE (one dir per company:
    // `_clean.txt` text, `_page.html` page, `_structured.json`
    // payload — the reference's source-map kinds) is seeded from the
    // nation table (company-bounded collect, fail-fast capped, the
    // reference's per-company loop shape), then the ENGINE does the
    // reference's work: Io.readTextTree lists the tree with
    // provenance (input_file_name), company_id and kind come from the
    // PATH (suffix routing), and each kind gets its parser — C12
    // JSON-LD org extraction (with the F7 placeholder-name filter
    // masking junk names), C15 table extraction with a numeric
    // roll-up, C14 recursive job mining, token stats for the text.
    // The oracle recomputes every parsed value in closed form from
    // nation — so a routing slip, a parser drift, or a provenance
    // regex bug all hash-mismatch.
    // S10 round-trip promoted to pass-q: high-value events become risk
    // signals, land in the date-partitioned JSONL sink
    // (Io.writeDatePartitionedJson — the reference's
    // risk_signals_{date}.jsonl shape), and the PUBLISHED rows are the
    // read-back of those JSON files with an explicit schema. The
    // oracle recomputes the signal set straight from the parquet fact
    // table, so a partition-column bug, a JSON type drift, or a lost
    // row in the sink all hash-mismatch. The sink dir is wiped first:
    // the sink is append-mode by design (daily files accrete), and the
    // round-trip must reflect THIS run only.
    "s10_risk_roundtrip" -> { (s, dir) =>
      val path = s"/tmp/graft_idx/risklog_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
        s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      deleteTree(path)
      graft.sources.Io.writeDatePartitionedJson(
        t(s, dir, "events")
          .filter(col("value") > 140.0 && col("ts").isNotNull)
          .select(
            col("event_id"), col("user_id"), col("event_type"),
            round(col("value") * 100.0, 0).cast("long").as("value_cents"),
            col("ts")),
        "ts",
        path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(
          "value_cents", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "date", org.apache.spark.sql.types.StringType)))
      s.read.schema(schema).json(path)
        .select(
          col("event_id"), col("user_id"), col("event_type"),
          col("value_cents"), col("date"))
        .orderBy(col("event_id"))
    },
    // S11 round-trip promoted to pass-q: per-segment payload documents
    // land in the key-partitioned JSON sink (Io.writePayloads — one
    // doc per entity, point lookups prune to one directory) and the
    // published rows are the read-back. Oracle recomputes the payload
    // aggregates from parquet; exact-cents money discipline.
    "s11_payload_roundtrip" -> { (s, dir) =>
      val path = s"/tmp/graft_idx/payloads_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
        s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.Io.writePayloads(
        t(s, dir, "customer")
          .groupBy(col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n_customers"),
            sum(expr("CAST(round(c_acctbal * 100) AS BIGINT)")).as("acctbal_cents")),
        "c_mktsegment",
        path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "n_customers", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "acctbal_cents", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "c_mktsegment", org.apache.spark.sql.types.StringType)))
      s.read.schema(schema).json(path)
        .select(col("c_mktsegment"), col("n_customers"), col("acctbal_cents"))
        .orderBy(col("c_mktsegment"))
    },
    "s6_source_map" -> { (s, dir) =>
      val treeDir = s"/tmp/graft_idx/s6tree_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
        s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      val seeds = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name")).collect()
      require(seeds.length <= 1000, "s6 seed set must stay company-bounded")
      val root = java.nio.file.Paths.get(treeDir)
      seeds.foreach { r =>
        val k = r.getLong(0)
        val name = r.getString(1)
        val d = root.resolve(s"company_$k")
        java.nio.file.Files.createDirectories(d)
        java.nio.file.Files.writeString(
          d.resolve(s"company_${k}_clean.txt"),
          s"company $k" + " unit" * ((k % 4) + 1).toInt)
        val ldName = if (k % 5 == 0) "Unknown" else name
        java.nio.file.Files.writeString(
          d.resolve(s"company_${k}_page.html"),
          s"""<html><body><script type="application/ld+json">""" +
            s"""{"@type":"Organization","name":"$ldName","numberOfEmployees":${k * 7 + 10}}""" +
            s"""</script><table><tr><th>q</th><th>rev</th></tr>""" +
            s"""<tr><td>q1</td><td>${k * 100}</td></tr>""" +
            s"""<tr><td>q2</td><td>${k * 100 + 50}</td></tr></table></body></html>""")
        val secondJob =
          if (k % 2 == 0) s""",{"title":"Sales $k","url":"https://x/$k"}""" else ""
        java.nio.file.Files.writeString(
          d.resolve(s"company_${k}_structured.json"),
          s"""{"company":"c$k","embedded":{"jobs":[""" +
            s"""{"title":"Engineer $k","location":"Remote"}$secondJob],""" +
            s""""note":{"title":"not a job"}}}""")
      }
      val routed = graft.sources.Io.readTextTree(s, treeDir, recursive = true)
        .select(
          regexp_extract(col("source_path"), "company_(\\d+)_", 1)
            .cast("long").as("company_id"),
          when(col("source_path").endsWith("_clean.txt"), "text")
            .when(col("source_path").endsWith("_page.html"), "html")
            .when(col("source_path").endsWith("_structured.json"), "json")
            .otherwise("other").as("kind"),
          col("value"))
      val txt = routed.filter(col("kind") === "text")
        .select(
          col("company_id"),
          size(split(trim(col("value")), " ")).cast("long").as("n_tokens"))
      val orgLd = from_json(
        element_at(HtmlFns.jsonLdScripts(col("value")), 1),
        StructType.fromDDL("name STRING, numberOfEmployees BIGINT"))
      val tbl = element_at(HtmlFns.extractTables(col("value")), 1)
      val html = routed.filter(col("kind") === "html")
        .withColumn("__org", orgLd)
        .withColumn("__tbl", tbl)
        .select(
          col("company_id"),
          when(Filters.isPlaceholderName(col("__org.name")), lit(null))
            .otherwise(col("__org.name")).as("org_name"),
          col("__org.numberOfEmployees").as("employees"),
          size(col("__tbl.rows")).cast("long").as("n_table_rows"),
          aggregate(
            transform(col("__tbl.rows"), r => element_at(r, 2).cast("long")),
            lit(0L),
            (a, x) => a + x).as("rev_total"))
      val jobs = routed.filter(col("kind") === "json")
        .select(
          col("company_id"),
          size(HtmlFns.mineJobs(col("value"))).cast("long").as("n_jobs"))
      txt
        .join(html, Seq("company_id"))
        .join(jobs, Seq("company_id"))
        .orderBy(col("company_id"))
    },
    // Chi-square independence of lang × source
    // (Checks.chiSquareIndependence): the corpus-composition gate —
    // a large statistic localizes a source over-feeding one language.
    // DECIMAL(38,0) cell terms, exact-integer chi26, one IEEE sqrt
    // for Cramér's V; the oracle mirrors every step in HUGEINT.
    "a_chi2_lang_source" -> { (s, dir) =>
      Checks
        .chiSquareIndependence(t(s, dir, "documents"), col("lang"), col("source"))
        .orderBy(col("n_rows"))
    },
    // Simpson concentration per source over langs
    // (Checks.simpsonDiversity): P(two docs share a lang), exact
    // integer — the monoculture drift gate.
    "a_simpson_diversity" -> { (s, dir) =>
      Checks
        .simpsonDiversity(t(s, dir, "documents"), col("source"), col("lang"))
        .withColumnRenamed("g", "source")
        .orderBy(col("source"))
    },
    // Herfindahl concentration per region over customer nations
    // (Checks.hhiConcentration): Σ share² in exact ppm, one division
    // per group — the with-replacement sibling of Simpson.
    "a_hhi_concentration" -> { (s, dir) =>
      val df = t(s, dir, "customer")
        .join(
          t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .join(
          t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
      Checks
        .hhiConcentration(df, col("r_name"), col("n_name"))
        .withColumnRenamed("g", "r_name")
        .orderBy(col("r_name"))
    },
    // Type-token + hapax stats per lang (TextAnalysis.ttrStats):
    // lexical-diversity gate — template spam pins low TTR, OCR noise
    // pins high hapax. Exact ppm integer divisions.
    "t_ttr_hapax" -> { (s, dir) =>
      TextAnalysis
        .ttrStats(t(s, dir, "documents"), "text", col("lang"))
        .withColumnRenamed("g", "lang")
        .orderBy(col("lang"))
    },
    // Good-Turing frequency-of-frequencies (TextAnalysis.goodTuring):
    // n_r / token-mass share / GT re-estimate r* per occurrence
    // count, plus the r=0 row carrying the unseen-mass estimate
    // n_1/N — the "how incomplete is this vocabulary" readout under
    // every smoothed LM the engine ships.
    // Term burstiness head (TextAnalysis.burstinessTop, Church &
    // Gale 1995): top-30 terms with occurrences-per-containing-doc
    // and doc share — evenly-stamped high-burst terms are template
    // boilerplate, the cross-doc twin of t_repetition.
    "t_burstiness" -> { (s, dir) =>
      TextAnalysis
        .burstinessTop(t(s, dir, "documents"), "text", "doc_id", 30)
        .orderBy(col("n").desc, col("term"))
    },
    // the trigram-shingle domain: the vocabulary whose completeness
    // an LM / decontamination table actually depends on (whole-word
    // GT is degenerate on a closed vocabulary)
    "t_good_turing" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(split(trim(col("text")), "\\s+").as("__tk"))
        .filter(size(col("__tk")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(__tk) - 2), i -> concat_ws(' ', slice(__tk, i, 3)))"))
          .as("tok"))
      TextAnalysis.goodTuringFromTokens(toks, maxR = 10)
    },
    // First-order Markov transition matrix over per-user event
    // sequences (Series.transitionMatrix): the behavioral fingerprint
    // (bot loops pin p(x|x) near 1e6). Total order (ts, event_id) —
    // the outOfOrderAudit tiebreaker rule.
    "w_transitions" -> { (s, dir) =>
      Series
        .transitionMatrix(
          t(s, dir, "events"),
          col("user_id"),
          Seq(col("ts"), col("event_id")),
          col("event_type"))
        .orderBy(col("from_state"), col("to_state"))
    },
    // Largest-remainder quota apportionment of a 100-doc sample
    // budget across langs (Sampling.quotaLargestRemainder): Σ quota
    // == 100 exactly; ties by stratum asc.
    "s_quota_lr" -> { (s, dir) =>
      Sampling
        .quotaLargestRemainder(t(s, dir, "documents"), col("lang"), 100L)
        .orderBy(col("stratum"))
    },
    // Common-neighbor link prediction (Graph.commonNeighbors) over
    // the part co-order graph (the g_triangles edge set — near-dup
    // clusters are CLIQUES by construction here, so they have no
    // distance-2 non-edges to predict): parts never co-ordered
    // (w >= 2) but sharing >= 2 co-order partners are the
    // recommendation candidates. Wedge join bounded by Σ deg².
    "g_common_neighbors" -> { (s, dir) =>
      // the memoized co-purchase build — same derivation, shared
      // across the graph family (see coPurchaseEdges)
      val edges = coPurchaseEdges(s, dir)
      Graph
        .commonNeighbors(edges)
        .filter(col("common") >= 2)
        .orderBy(col("id_a"), col("id_b"))
    },
    // Spearman rank correlation of the click vs purchase daily series
    // (Series.spearmanDaily): rank-robust "do they move together",
    // exact doubled-average-ranks, one IEEE sqrt — the whale-immune
    // companion of w_lead_lag's Pearson machinery.
    "a_spearman_daily" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      def daily(et: String) = ev
        .filter(col("event_type") === et)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      Series
        .spearmanDaily(daily("click"), daily("purchase"), "day", "n")
        .orderBy(col("n_days"))
    },
    // Manifest reconciliation (Checks.manifestDiff): the old export
    // lost a few rows (event_id % 4000 == 7 — a dropped retry batch),
    // the new export is retention-trimmed (ts < Jan 25) — the diff
    // reads unchanged/changed/removed per day partition without ever
    // re-comparing rows.
    "i_manifest_diff" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val day = date_format(col("ts"), "yyyy-MM-dd")
      val rowKey = concat_ws(":", col("event_id"), col("user_id"), col("event_type"))
      val oldM = Checks.partitionManifest(
        ev.filter(col("event_id") % 4000 =!= 7), day, rowKey)
      val newM = Checks.partitionManifest(
        ev.filter(col("ts") < to_timestamp(lit("2024-01-25"))), day, rowKey)
      Checks.manifestDiff(oldM, newM).orderBy(col("partition"))
    },
    // Jensen-Shannon divergence between the en and fr token
    // distributions (TextAnalysis.jsdTokens): the symmetric bounded
    // corpus-distance for mixture design; per-term micro-nat
    // rounding, exact integer sum (entropy-family discipline).
    "t_jsd_lang" -> { (s, dir) =>
      TextAnalysis
        .jsdTokens(t(s, dir, "documents"), "text", col("lang"), "en", "fr")
        .orderBy(col("n_terms"))
    },
    // Deterministic mode (Relational.modePerGroup): most frequent
    // source per lang, ties to the smallest — Spark's mode() is
    // nondeterministic on ties, this is the pinned version.
    "a_mode_source" -> { (s, dir) =>
      Relational
        .modePerGroup(t(s, dir, "documents"), col("lang"), col("source"))
        .withColumnRenamed("g", "lang")
        .orderBy(col("lang"))
    },
    // Calendar gap-fill with LOCF (Series.fillForwardDaily): every
    // (source, day) cell on the global grid carries the last observed
    // daily doc count — nulls only before a source's first sighting.
    // Sparse source chosen by doc_id-bucketing days so gaps exist.
    "w_fill_forward" -> { (s, dir) =>
      // a sparse daily series: per source, count docs on synthetic
      // days derived from doc_id (every source observes only its own
      // %7 days -> real gaps for LOCF to fill)
      val daily = t(s, dir, "documents")
        .filter(col("doc_id") % 7 < 3)
        .groupBy(
          col("source"),
          date_add(lit("2024-01-01").cast("date"), (col("doc_id") % 7).cast("int"))
            .as("day"))
        .agg(count(lit(1)).as("n"))
      Series
        .fillForwardDaily(daily, "source", "day", "n")
        .select(
          col("key").as("source"),
          date_format(col("day"), "yyyy-MM-dd").as("d"),
          col("n"),
          col("filled"))
        .orderBy(col("source"), col("d"))
    },
    // Persisted MinHash signature artifact (Io.writeMinhashSigs +
    // Dedup.minhashLshAgainstSigs): the history is signed ONCE and
    // landed; the batch scores against the ARTIFACT — history text
    // never reloads. Result must equal the from-texts recompute.
    "dd_sigs_persisted" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // read-only consumer of the SHARED clean historical base
      val aPath = sigsBase(s, dir, "hist")
      Dedup
        .minhashLshAgainstSigs(
          d.filter(col("doc_id") >= 250),
          graft.sources.Io.readMinhashSigsLatest(s, aPath),
          "text", "doc_id", 3, 8, 1, 0.05)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
    // Signature-artifact upsert: the base was signed off STALE texts
    // (%9 docs drifted), the re-crawl re-signs exactly those ids at
    // seq 1 — the last-wins read must make the batch's dedup
    // decisions equal a from-scratch run over TRUE texts (same
    // oracle as dd_sigs_persisted: only the engine path differs).
    "dd_sigs_upsert" -> { (s, dir) =>
      val aPath = s"/tmp/graft_idx/sigs_up_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val hist = d.filter(col("doc_id") < 250)
      // copy-on-write off the SHARED stale historical base
      copyTree(sigsBase(s, dir, "histstale"), aPath)
      graft.sources.Io.upsertMinhashSigs(
        Dedup.minhashSign(
          hist.filter(col("doc_id") % 9 === 0), "text", "doc_id", 3, 8),
        aPath, seq = 1L)
      Dedup
        .minhashLshAgainstSigs(
          d.filter(col("doc_id") >= 250),
          graft.sources.Io.readMinhashSigsLatest(s, aPath),
          "text", "doc_id", 3, 8, 1, 0.05)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
    // Signature-artifact TIME TRAVEL: as-of 0 on the upserted
    // artifact reproduces yesterday's dedup decisions against the
    // STALE history exactly — the oracle recomputes from the stale
    // texts in SQL.
    "dd_sigs_asof" -> { (s, dir) =>
      val aPath = s"/tmp/graft_idx/sigs_asof_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val hist = d.filter(col("doc_id") < 250)
      // copy-on-write off the SHARED stale historical base
      copyTree(sigsBase(s, dir, "histstale"), aPath)
      graft.sources.Io.upsertMinhashSigs(
        Dedup.minhashSign(
          hist.filter(col("doc_id") % 9 === 0), "text", "doc_id", 3, 8),
        aPath, seq = 1L)
      Dedup
        .minhashLshAgainstSigs(
          d.filter(col("doc_id") >= 250),
          graft.sources.Io.readMinhashSigsAsOf(s, aPath, asOfSeq = 0L),
          "text", "doc_id", 3, 8, 1, 0.05)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
    // Adamic-Adar link prediction (Graph.adamicAdar): common
    // neighbors discounted by 1/ln(deg) — a hub vouching for a pair
    // counts less than a selective mutual partner; per-middle
    // micro-weight rounded once, exact integer sums.
    "g_adamic_adar" -> { (s, dir) =>
      // the memoized co-purchase build — same derivation, shared
      // across the graph family (see coPurchaseEdges)
      val edges = coPurchaseEdges(s, dir)
      Graph
        .adamicAdar(edges)
        .filter(col("common") >= 2)
        .orderBy(col("id_a"), col("id_b"))
    },
    // 2-D skyline (Relational.skyline2d): parts no other part beats
    // on BOTH cheapness and size — the Pareto shortlist; exact
    // integer cents, group-level running-best window over the
    // distinct-price table only.
    "a_skyline" -> { (s, dir) =>
      Relational
        .skyline2d(
          t(s, dir, "part").select(
            col("p_partkey"),
            round(col("p_retailprice").cast("double") * 100.0, 0)
              .cast("long").as("price_cents"),
            col("p_size").cast("long").as("size")),
          col("price_cents"),
          col("size"))
        .orderBy(col("price_cents"), col("p_partkey"))
    },
    // Two-proportion z-test (Experiments.twoProportionZ): per
    // event-type A/B gate — do even-id users (variant A) hit
    // high-value events at a different rate than odd-id users (B)?
    // Pooled-variance z² in exact micro-units, one DECIMAL division;
    // significance is an integer compare vs the chi²₁ 95th literal.
    "a_ab_test" -> { (s, dir) =>
      Experiments
        .twoProportionZ(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("value").isNotNull),
          col("event_type"),
          when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
          (col("value") > 50.0).cast("long"))
        .orderBy(col("group"))
    },
    // Cluster Poisson bootstrap (Experiments.poissonBootDiff):
    // percentile CI for the A-vs-B mean-cents-per-event gap with
    // USERS as the resampling unit — md5-hex weights vs the injected
    // Poisson(1) CDF literals make both engines draw identical
    // replicates; the user×replicate explosion map-side combines to
    // 100 arm-partial rows.
    "a_poisson_boot" -> { (s, dir) =>
      Experiments.poissonBootDiff(
        t(s, dir, "events"),
        col("user_id"),
        col("user_id") % 2 === 0,
        round(col("value") * 100.0, 0).cast("long"),
        reps = 100)
    },
    // Sign-flip permutation test (Experiments.signFlipTest, Fisher
    // 1935): is per-user spend symmetric across January's halves?
    // The design-based null — md5-hex sign draws identical in both
    // engines, cluster-level flips, add-one p in exact ppm.
    "a_permutation" -> { (s, dir) =>
      val cents = round(col("value") * 100.0, 0).cast("long")
      val per = t(s, dir, "events")
        .filter(
          col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          (sum(when(col("ts") >= lit("2024-01-16").cast("timestamp"), cents)
            .otherwise(0L))
            - sum(when(col("ts") < lit("2024-01-16").cast("timestamp"), cents)
              .otherwise(0L))).as("d_cents"))
      Experiments.signFlipTest(per, col("user_id"), col("d_cents"), reps = 200)
    },
    // Gaussian partial pooling (Experiments.ebShrinkMeans, Efron &
    // Morris 1975): per-user mean spend shrunk toward the grand mean
    // with weight tau²/(tau² + sigma²_w/n) — the readout that stops
    // a 3-event user outranking a 300-event one; MoM prior entirely
    // in integers, one signed truncating division per group.
    "a_eb_means" -> { (s, dir) =>
      Experiments
        .ebShrinkMeans(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("value").isNotNull),
          col("user_id"),
          round(col("value") * 100.0, 0).cast("long"))
        .orderBy(col("group"))
    },
    // TOST equivalence gate (Experiments.tostEquivalence, Schuirmann
    // 1987): the SHIP decision a_ab_test can't make — per event
    // type, is the even-vs-odd-arm high-value rate gap provably
    // inside ±5 pp? Both one-sided z² predicates as exact integer
    // compares against the one-sided 95th literal; no sqrt anywhere.
    "a_tost" -> { (s, dir) =>
      Experiments
        .tostEquivalence(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("value").isNotNull),
          col("event_type"),
          when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
          (col("value") > 50.0).cast("long"),
          marginPpm = 50000L)
        .orderBy(col("group"))
    },
    // Coarsened exact matching (Experiments.cemAtt): ATT of the
    // even-id arm on purchase spend with users stratified by
    // coarsened activity (event-count and active-day buckets) —
    // strata lacking either arm drop, the match rate is reported,
    // and the one signed division is the documented sign·(|num| div
    // den) convention.
    "a_cem_att" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .filter(
          col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_ev"),
          countDistinct(to_date(col("ts"))).as("n_days"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100.0, 0).cast("long")).otherwise(0L))
            .as("spend_cents"))
      Experiments.cemAtt(
        per,
        col("user_id") % 2 === 0,
        col("spend_cents"),
        Seq(expr("n_ev div 20"), expr("n_days div 10")))
    },
    // Mann–Whitney U rank-sum (Experiments.mannWhitneyU): did click
    // values stochastically dominate purchase values? Doubled
    // mid-ranks keep ties integer; tie-corrected z² in micro-units.
    "a_mann_whitney" -> { (s, dir) =>
      Experiments.mannWhitneyU(
        t(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase") && col("value").isNotNull),
        col("event_type"),
        round(col("value") * 100.0, 0).cast("long"))
    },
    // CUPED variance reduction (Experiments.cupedAdjust): per-user
    // second-fortnight spend adjusted by first-fortnight spend —
    // theta from exact integer cross-products, per-user adjustment
    // with one truncating division per row.
    "a_cuped" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          sum(
            when(
              col("ts") < lit("2024-01-16").cast("timestamp"),
              round(col("value") * 100.0, 0).cast("long")).otherwise(0L)).as("pre_cents"),
          sum(
            when(
              col("ts") >= lit("2024-01-16").cast("timestamp"),
              round(col("value") * 100.0, 0).cast("long")).otherwise(0L)).as("post_cents"))
      Experiments
        .cupedAdjust(per, col("user_id"), col("post_cents"), col("pre_cents"))
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"))
    },
    // Sample-ratio-mismatch gate (Experiments.srmCheck): per event
    // type, does the observed control/treatment split match the
    // designed 1:3 allocation? chi² GOF vs literal design weights.
    "a_srm_check" -> { (s, dir) =>
      Experiments
        .srmCheck(
          t(s, dir, "events").filter(col("user_id").isNotNull),
          col("event_type"),
          when(col("user_id") % 4 === 0, lit("control")).otherwise(lit("treatment")),
          Map("control" -> 1L, "treatment" -> 3L))
        .orderBy(col("group"))
    },
    // Welch unequal-variance t² (Experiments.welchT): did the cent
    // value of each event type differ between even-id (A) and odd-id
    // (B) users? Two-stage micro pipeline, no pooled variance.
    "a_welch_t" -> { (s, dir) =>
      Experiments
        .welchT(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("value").isNotNull),
          col("event_type"),
          when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
          round(col("value") * 100.0, 0).cast("long"))
        .orderBy(col("group"))
    },
    // Wilcoxon signed-rank (Experiments.wilcoxonSignedRank): paired
    // per-user pre/post fortnight spend — did the within-user
    // difference shift, nonparametrically? Doubled mid-ranks over the
    // distinct-|d| table.
    "a_wilcoxon" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          sum(
            when(
              col("ts") < lit("2024-01-16").cast("timestamp"),
              round(col("value") * 100.0, 0).cast("long")).otherwise(0L)).as("pre_cents"),
          sum(
            when(
              col("ts") >= lit("2024-01-16").cast("timestamp"),
              round(col("value") * 100.0, 0).cast("long")).otherwise(0L)).as("post_cents"))
      Experiments.wilcoxonSignedRank(per, col("pre_cents"), col("post_cents"))
    },
    // Sign test (Experiments.signTest): the same paired fortnight
    // panel with magnitudes thrown away — up-movers vs down-movers
    // against a fair coin; what remains when spend sizes can't be
    // trusted.
    "a_sign_test" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          sum(
            when(
              col("ts") < lit("2024-01-16").cast("timestamp"),
              round(col("value") * 100.0, 0).cast("long")).otherwise(0L)).as("pre_cents"),
          sum(
            when(
              col("ts") >= lit("2024-01-16").cast("timestamp"),
              round(col("value") * 100.0, 0).cast("long")).otherwise(0L)).as("post_cents"))
      Experiments.signTest(per, col("pre_cents"), col("post_cents"))
    },
    // Cochran-Mantel-Haenszel (Experiments.mantelHaenszel): the
    // a_ab_test question re-asked with event_type held FIXED as a
    // stratum — per-stratum hypergeometric evidence summed, plus the
    // MH common odds ratio; the Simpson's-paradox-proof readout.
    "a_cmh" -> { (s, dir) =>
      Experiments.mantelHaenszel(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("value").isNotNull),
        col("event_type"),
        when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
        col("value") > 50.0)
    },
    // Delete-one-bucket jackknife (Experiments.jackknifeRatio): the
    // variance behind the purchase-share RATIO metric — leave-one-
    // user-bucket-out replicates, the CI machinery ratio metrics
    // actually get at scale.
    "a_jackknife" -> { (s, dir) =>
      Experiments.jackknifeRatio(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("event_type").isNotNull),
        col("user_id") % 10,
        when(col("event_type") === "purchase", 1L).otherwise(0L),
        lit(1L))
    },
    // Split-conformal threshold + coverage (Evaluation
    // .conformalThreshold): the distribution-free guarantee layer —
    // even users calibrate the 90% threshold over cent values, odd
    // users audit that the guarantee holds out of sample.
    "a_conformal" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
      Evaluation.conformalThreshold(
        ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 === 1),
        round(col("value") * 100.0, 0).cast("long"),
        100000L)
    },
    // Mondrian group-conditional conformal (Evaluation
    // .mondrianConformal): per-event-type 90% thresholds so easy
    // groups can't subsidize hard ones — per-group order statistics
    // off the count grid, no per-group sort anywhere.
    "a_mondrian" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull
          && col("event_type").isNotNull)
      Evaluation
        .mondrianConformal(
          ev.filter(col("user_id") % 2 === 0),
          ev.filter(col("user_id") % 2 === 1),
          col("event_type"),
          round(col("value") * 100.0, 0).cast("long"),
          100000L)
        .orderBy(col("g"))
    },
    // Zipf rank-frequency head (the corpus-linguistics smoke test):
    // the top-30 terms with rank x freq — a healthy natural corpus
    // keeps rf roughly constant; a template-spam corpus doesn't.
    // (t_zipf proper fits the SLOPE; this publishes the head table.)
    "t_zipf_head" -> { (s, dir) =>
      val top = t(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term"))
        .limit(30)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("freq").desc, col("term"))
      top
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(
          col("rank"), col("term"), col("freq"),
          (col("rank") * col("freq")).as("rf"))
        .orderBy(col("rank"))
    },
    // Good-Turing unseen mass + bias-corrected Chao1 richness
    // (TextAnalysis.vocabCoverage): how much vocabulary has the
    // corpus NOT seen — the sampling-theory complement of the
    // HLL/KMV sketches, off one frequency-of-frequency pass.
    "t_vocab_coverage" -> { (s, dir) =>
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text")
    },
    // Required sample size per arm (Experiments.mdeSampleSize): how
    // much traffic would each event type's observed A/B effect have
    // needed for 80% power at alpha 0.05? One ceiling division of
    // DECIMAL cross-products against the literal power constant.
    "a_power_mde" -> { (s, dir) =>
      Experiments
        .mdeSampleSize(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("value").isNotNull),
          col("event_type"),
          when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
          (col("value") > 50.0).cast("long"))
        .orderBy(col("group"))
    },
    // Difference-in-differences (Experiments.diffInDiff): per event
    // type, did even-id users' cent value move differently across
    // the fortnight boundary than odd-id users'? Four moment cells,
    // micro-exact means, four-cell Welch t².
    "a_did" -> { (s, dir) =>
      Experiments
        .diffInDiff(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull),
          col("event_type"),
          when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
          col("ts") >= lit("2024-01-16").cast("timestamp"),
          round(col("value") * 100.0, 0).cast("long"))
        .orderBy(col("group"))
    },
    // Cohen's kappa (Experiments.cohensKappa): chance-corrected
    // agreement between the cheap 80-char-prefix language gate and
    // the full-text classifier — the t_calibration pair reduced to
    // the one-number labeling-QA statistic.
    "a_kappa" -> { (s, dir) =>
      Experiments.cohensKappa(
        t(s, dir, "documents"),
        TextAnalysis.langId(col("text"), SparkEntry.langMarkers),
        TextAnalysis.langId(substring(col("text"), 1, 80), SparkEntry.langMarkers))
    },
    // Post-stratification (Experiments.postStratify): per-arm
    // high-value rate re-weighted by the pooled event-type mix —
    // the imbalance-robust readout next to the raw rate.
    "a_post_strat" -> { (s, dir) =>
      Experiments
        .postStratify(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("value").isNotNull),
          when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
          col("event_type"),
          (col("value") > 50.0).cast("long"))
        .orderBy(col("variant"))
    },
    // Mutual information lang × source (Checks.mutualInformation):
    // how many nats does source tell you about language? Per-cell
    // micro-nat terms rounded once then exactly summed; NMI puts the
    // association on a 0..1 scale.
    "a_mutual_info" -> { (s, dir) =>
      Checks.mutualInformation(t(s, dir, "documents"), col("lang"), col("source"))
    },
    // Neyman optimal allocation (Sampling.neymanAllocation): split a
    // 100-row audit budget across event types by n_h·σ_h of the cent
    // value — exact moment sums, one sqrt per stratum, largest-
    // remainder integer apportionment (Σ alloc == 100 exactly).
    "s_neyman_alloc" -> { (s, dir) =>
      Sampling
        .neymanAllocation(
          t(s, dir, "events")
            .filter(col("event_type").isNotNull && col("value").isNotNull),
          col("event_type"),
          round(col("value") * 100.0, 0).cast("long"),
          100L)
        .orderBy(col("stratum"))
    },
    // Dirichlet query likelihood (TextAnalysis.queryLikelihoodDirichlet):
    // the language-modeling retrieval scorer next to BM25 — top 10
    // docs for a 3-term query at mu=100, micro-nat exact scores.
    "r_ql_dirichlet" -> { (s, dir) =>
      TextAnalysis
        .queryLikelihoodDirichlet(
          t(s, dir, "documents"), "text", "doc_id",
          Seq("table", "query", "join"), 100L)
        .orderBy(col("score6").desc, col("id"))
        .limit(10)
        .select(col("id").as("doc_id"), col("len"), col("score6"))
    },
    // Group-sequential OBF looks (Experiments.obfLooks5): the a_ab_test
    // readout peeked CORRECTLY at 5 equally-spaced looks — cumulative
    // cells per look, pooled z² vs the O'Brien-Fleming boundary
    // literals (look-1 z² ~ 20.8 spends almost no alpha early).
    "a_obf_looks" -> { (s, dir) =>
      Experiments
        .obfLooks5(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull),
          col("event_type"),
          when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
          (col("value") > 50.0).cast("long"),
          least(
            lit(5L),
            lit(1L) +
              expr("CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') div 6 AS BIGINT)")))
        .orderBy(col("group"), col("look"))
    },
    // Pocock constant-boundary looks (Experiments.pocockLooks5): the
    // same 5-look readout under the OTHER canonical alpha-spending
    // schedule — even spending, easier early stops, harsher final
    // bar; OBF's early boundaries pass almost nothing. Same
    // cumulative-cell machinery, different literals.
    "a_pocock_looks" -> { (s, dir) =>
      Experiments
        .pocockLooks5(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull),
          col("event_type"),
          when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
          (col("value") > 50.0).cast("long"),
          least(
            lit(5L),
            lit(1L) +
              expr("CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') div 6 AS BIGINT)")))
        .orderBy(col("group"), col("look"))
    },
    // Empirical-Bayes rate shrinkage (Experiments.ebShrinkRates): per
    // user high-value rate pulled toward the global mean with
    // evidence-proportional strength — the rank-small-samples
    // estimator, method-of-moments prior in exact integers.
    "a_eb_rates" -> { (s, dir) =>
      Experiments
        .ebShrinkRates(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("value").isNotNull),
          col("user_id"),
          (col("value") > 50.0).cast("long"))
        .orderBy(col("group"))
    },
    // Directed reciprocity (Graph.reciprocity): consecutive-line part
    // transitions within each order as directed edges — the mutual-
    // follow fingerprint in exact ppm.
    "g_reciprocity" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      Graph.reciprocity(
        li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey").as("src"))
          .join(
            li.select(
              col("l_orderkey"),
              (col("l_linenumber") - 1).as("l_linenumber"),
              col("l_partkey").as("dst")),
            Seq("l_orderkey", "l_linenumber")))
    },
    // Fellegi-Sunter match weights (Relational.fsMatchWeights): per
    // comparison field, m/u probabilities and log-likelihood-ratio
    // weights learned from labeled candidate pairs (canon + typo-twin
    // customers blocked on the name's last 3 chars).
    "er_fs_weights" -> { (s, dir) =>
      val (pairs, fields, isMatch) = fsPairFixture(s, dir)
      Relational.fsMatchWeights(pairs, isMatch, fields).orderBy(col("field"))
    },
    // Fellegi-Sunter scoring (Relational.fsScorePairs): the learned
    // weights applied back over the candidate pairs at the zero
    // threshold, evaluated as a confusion one-row vs planted truth.
    "er_fs_scores" -> { (s, dir) =>
      val (pairs, fields, isMatch) = fsPairFixture(s, dir)
      val weights = Relational.fsMatchWeights(pairs, isMatch, fields)
      Relational
        .fsScorePairs(pairs, fields, weights, Seq("id_a", "id_b"))
        .withColumn("truth", col("id_b") === col("id_a") + 1000000L)
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("is_match_pred") && col("truth"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("is_match_pred") && !col("truth"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("is_match_pred") && col("truth"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("is_match_pred") && !col("truth"), 1L).otherwise(0L)).as("tn"))
    },
    // TextRank keywords (Mihalcea & Tarau 2004) — WEIGHTED PageRank
    // over the adjacent-token co-occurrence graph, COMPOSED from the
    // existing exact-integer pageRankWeighted: term ids by vocabulary
    // rank, canonical (least, greatest) edges weighted by adjacency
    // count (the unweighted variant ties every template term — the
    // co-occurrence COUNTS carry the signal on this corpus), top 15
    // terms by (rank desc, term). The corpus-level keyword extractor
    // next to per-doc RAKE (t_rake).
    "t_textrank" -> { (s, dir) =>
      val bp = TextAnalysis
        .bigramPairs(t(s, dir, "documents"), "text", "doc_id")
        .filter(col("prev").isNotNull && col("prev") =!= col("term"))
        .select(
          least(col("prev"), col("term")).as("ta"),
          greatest(col("prev"), col("term")).as("tb"))
        .groupBy(col("ta"), col("tb"))
        .agg(count(lit(1)).as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // vocabulary ids via the range-partitioned globalRank chassis —
      // a term domain is 1e7+ at corpus scale, so an unpartitioned
      // row_number window (one task sorting the whole vocabulary) is
      // exactly the funnel the r8/r9 sweeps eliminated elsewhere
      val vocab = Relational
        .globalRank(
          bp.select(col("ta").as("term"))
            .union(bp.select(col("tb").as("term")))
            .distinct(),
          Seq(col("term")),
          "tid")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = bp
        .join(vocab.select(col("term").as("ta"), col("tid").as("id_a")), Seq("ta"))
        .join(vocab.select(col("term").as("tb"), col("tid").as("id_b")), Seq("tb"))
        .select(col("id_a"), col("id_b"), col("w"))
      Graph.pageRankWeighted(pairs)
        .join(vocab.select(col("tid").as("id"), col("term")), Seq("id"))
        .orderBy(col("rank_units").desc, col("term"))
        .limit(15)
        .select(col("term"), col("rank_units"))
    },
    // Multi-touch attribution (Series.attributionCredits): purchase
    // conversions split one unit of credit over the click/view
    // touches of the prior 7 days — linear and 40/20/40 U-shape
    // models side by side, unattributed conversions surfaced.
    "a_attribution" -> { (s, dir) =>
      Series
        .attributionCredits(
          t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"),
          col("event_type") === "purchase",
          col("event_type").isin("click", "view"),
          col("event_type"),
          lookbackDays = 7)
        .orderBy(col("channel"))
    },
    // RFM segmentation (Relational.rfmSegments): per user recency/
    // frequency/monetary tercile scores by exact rank cutoffs over
    // purchase events — 3/2/1 best-first, segment = 100R + 10F + M.
    "a_rfm_segments" -> { (s, dir) =>
      Relational
        .rfmSegments(
          t(s, dir, "events").filter(col("event_type") === "purchase"),
          col("user_id"),
          col("ts"),
          col("value"))
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"))
    },
    // Dup-cluster purity: per near-dup cluster, the majority-source
    // fraction in exact ppm — a LOW-purity cluster is cross-source
    // syndication (the same article re-hosted), a high-purity one is
    // within-source re-posting; the triage column for takedown vs
    // canonicalization. Off the memoized pair artifact + closure.
    "dd_cluster_purity" -> { (s, dir) =>
      val labels = Dedup.clusterPairs(
        docNgramPairs(s, dir).select(col("id_a"), col("id_b")))
      val member = labels
        .join(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          col("id") === col("doc_id"))
      val perSrc = member
        .groupBy(col("cluster_id"), col("source"))
        .agg(count(lit(1)).as("ns"))
      perSrc
        .groupBy(col("cluster_id"))
        .agg(
          sum(col("ns")).as("sz"),
          count(lit(1)).as("n_sources"),
          max(col("ns")).as("__maj"))
        .select(
          col("cluster_id"),
          col("sz"),
          col("n_sources"),
          expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * __maj div sz AS BIGINT)").as("purity_ppm"))
        .orderBy(col("cluster_id"))
    },
    // Conversion latency: per converting user, seconds from FIRST
    // click to the first purchase at-or-after it; the exact lower/
    // upper-median average over users (the a_group_median order-stat
    // discipline — no approx percentile opacity).
    "a_conversion_latency" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val firstClick = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("c_us"))
      val lat = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
        .join(firstClick, Seq("user_id"))
        .filter(col("p_us") >= col("c_us"))
        .groupBy(col("user_id"))
        .agg(min(col("p_us") - col("c_us")).as("lat_us"))
        .select(col("user_id"), expr("CAST(lat_us div 1000000 AS BIGINT)").as("lat_s"))
      // lower/upper median off the distinct-latency count grid + the
      // range-partitioned prefix sum (the a_mood_median chassis) —
      // the latency table is one row per CONVERTING USER, so an
      // unpartitioned row_number over it is the single-task funnel.
      // A grid row is kept when its cumulative range covers either
      // median rank; the avg over kept rows equals the old row-level
      // readout exactly (same-row double cover keeps one row, as the
      // old OR-filter did).
      val counts = lat.groupBy(col("lat_s")).agg(count(lit(1)).as("t"))
      val tot = broadcast(counts.agg(sum(col("t")).as("n")))
      def covers(rank: String) =
        col("__below") < expr(rank) && expr(rank) <= col("__below") + col("t")
      Relational.globalCumSum(counts, Seq(col("lat_s")), "t", "__below")
        .crossJoin(tot)
        .filter(covers("CAST((n + 1) div 2 AS BIGINT)") ||
          covers("CAST((n + 2) div 2 AS BIGINT)"))
        .groupBy(col("n"))
        .agg(
          (sum(col("lat_s")).cast("double") / count(lit(1)).cast("double"))
            .as("median_latency_s"))
        .select(col("n").as("n_converted"), col("median_latency_s"))
    },
    // Near-dup exposure per source: share of docs touching >= 1
    // verified pair (off the memoized pair artifact) — the per-source
    // dup-rate gate beside the global cluster-size histogram.
    "dd_dupe_rate_by_source" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairIds = docNgramPairs(s, dir).select(col("id_a").as("doc_id"))
        .unionByName(docNgramPairs(s, dir).select(col("id_b").as("doc_id")))
        .distinct()
      docs
        .join(pairIds.withColumn("__duped", lit(1L)), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(coalesce(col("__duped"), lit(0L))).as("n_duped"))
        .withColumn(
          "dup_ppm",
          expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * n_duped div n_docs AS BIGINT)"))
        .orderBy(col("source"))
    },
    // C6 — investor + valuation extraction: known-VC list hit wins
    // (arm 0), else led-by / participation-from capture patterns
    // (arms 1-2); valuation from the $X billion|million patterns
    // (structured_extraction_v2.py:2165-2252)
    "c6_investors" -> { (s, dir) =>
      val desc = when(
        col("doc_id") % 4 === 0,
        lit("The round was led by Accel with broad support."))
        .when(
          col("doc_id") % 4 === 1,
          lit("Round led by Alpha Partners, at a $1.5 billion valuation."))
        .when(
          col("doc_id") % 4 === 2,
          lit("Growth financing with participation from Beta Fund. valued at $250 million"))
        .otherwise(lit("Quarterly product update, no financing."))
      t(s, dir, "documents")
        .select(col("doc_id"), desc.as("description"))
        .select(
          col("doc_id"),
          array_join(MoneyFns.extractInvestors(col("description")), ",").as("investors_csv"),
          MoneyFns.extractValuation(col("description")).as("valuation_usd"))
        .orderBy(col("doc_id"))
    },
    // C14 — recursive embedded-JSON job mining (scraper_v2.py:469-489)
    "c14_mined_jobs" -> { (s, dir) =>
      val key = col("p_partkey").cast("string")
      val json = concat(
        lit("{\"meta\":{\"title\":\"Dept "), key,
        lit("\",\"department\":\"Platform\"},\"postings\":[{\"title\":\"Engineer "), key,
        lit("\",\"url\":\"https://jobs/"), key,
        lit("\"},{\"noise\":true}]}"))
      t(s, dir, "part")
        .select(col("p_partkey"), explode(HtmlFns.mineJobs(json)).as("job"))
        .select(
          col("p_partkey"),
          col("job.title").as("title"),
          col("job.department").as("department"),
          col("job.url").as("url"))
        .orderBy(col("p_partkey"), col("title"))
    },
    // C15 — HTML table extraction (scraper_v2.py:299-350)
    "c15_html_tables" -> { (s, dir) =>
      val html = concat(
        lit("<table><caption>Stats</caption><tr><th>name</th><th>key</th></tr><tr><td>"),
        col("n_name"),
        lit("</td><td>"),
        col("n_nationkey").cast("string"),
        lit("</td></tr><tr><td>x</td><td>y</td></tr></table>"))
      t(s, dir, "nation")
        .select(col("n_nationkey"), explode(HtmlFns.extractTables(html)).as("tbl"))
        .select(
          col("n_nationkey"),
          col("tbl.caption").as("caption"),
          array_join(col("tbl.headers"), "|").as("headers"),
          array_join(transform(col("tbl.rows"), r => array_join(r, "|")), ";").as("rows_csv"))
        .orderBy(col("n_nationkey"))
    },
    // C16 — full HTML facet extraction: title/meta/links/images/text
    // plus scripts, forms (with labeled fields), navigation structure
    // (nav/footer/breadcrumbs, urljoined) and per-page statistics
    // (scraper_v2.py:182-468 basic facets, 259-298 forms, 868-903
    // scripts, 905-955 navigation, 1148-1172 statistics)
    "c16_html_facets" -> { (s, dir) =>
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><meta name=\"description\" content=\"about-"), col("lang"),
        lit("\"><script src=\"https://cdn.example.com/app-"), id,
        lit(".js\" async></script><script type=\"application/json\" id=\"data\">{\"k\":"), id,
        lit("}</script></head><body>" +
          "<nav><a href=\"/home\">Home</a><a href=\"https://ext.example.org/x-"), id,
        lit("\">Partners</a></nav>" +
          "<ol class=\"breadcrumb\"><a href=\"/\">Root</a><a href=\"/docs/"), id,
        lit("\">Here</a></ol>" +
          "<form action=\"/subscribe\" method=\"post\" id=\"f\">" +
          "<label for=\"em\">Email address</label>" +
          "<input type=\"email\" id=\"em\" name=\"email\" required>" +
          "<input type=\"submit\" value=\"Go\"></form>" +
          "<a href=\"/blog/a-"), id,
        lit("\">read</a><img src=\"/img/"), id,
        lit(".png\"><p>Hello <b>world</b></p>" +
          "<footer><a href=\"/privacy\">Privacy</a></footer></body></html>"))
      val base = lit("https://docs.example.com/pages/index.html")
      def anchorsCsv(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        array_join(transform(c, a => concat(a.getField("text"), lit("@"), a.getField("href"))), ",")
      // per-doc HTML parse fans six UDF evaluations off a narrow
      // small-file scan — spread to cluster width first or every
      // parse runs on the scan's single partition (the bigramPairs
      // Width rule, applied to the facet-parse kernel)
      graft.operators.Width.spread(t(s, dir, "documents"))
        .select(col("doc_id"), html.as("html"))
        .withColumn("scripts", HtmlFns.scripts(col("html")))
        .withColumn("form", element_at(HtmlFns.extractForms(col("html")), 1))
        .withColumn("nav", HtmlFns.navigation(col("html"), base))
        .withColumn("stats", HtmlFns.pageStatistics(col("html"), base))
        .select(
          col("doc_id"),
          HtmlFns.title(col("html")).as("title"),
          HtmlFns.metaContent(col("html"), "description").as("meta_desc"),
          array_join(HtmlFns.links(col("html")), ",").as("links_csv"),
          array_join(HtmlFns.images(col("html")), ",").as("images_csv"),
          HtmlFns.textContent(col("html")).as("text_content"),
          size(col("scripts")).cast("long").as("n_scripts"),
          array_join(
            filter(transform(col("scripts"), sc => sc.getField("src")), sr => sr =!= ""),
            ",").as("script_srcs_csv"),
          size(filter(col("scripts"), sc => sc.getField("async"))).cast("long")
            .as("script_async_count"),
          size(filter(col("scripts"), sc => sc.getField("has_json"))).cast("long")
            .as("script_json_count"),
          col("form.action").as("form_action"),
          col("form.method").as("form_method"),
          array_join(
            transform(
              col("form.fields"),
              f => concat_ws(
                ":",
                f.getField("ftype"), f.getField("name"), f.getField("label"),
                f.getField("required").cast("string"))),
            ",").as("form_fields_csv"),
          anchorsCsv(col("nav.main_nav")).as("main_nav_csv"),
          anchorsCsv(col("nav.footer_links")).as("footer_csv"),
          anchorsCsv(col("nav.breadcrumbs")).as("breadcrumbs_csv"),
          col("stats.total_links").as("total_links"),
          col("stats.internal_links").as("internal_links"),
          col("stats.external_links").as("external_links"),
          col("stats.total_images").as("total_images"),
          col("stats.total_forms").as("total_forms"),
          col("stats.total_tables").as("total_tables"),
          col("stats.word_count").as("word_count"))
        .orderBy(col("doc_id"))
    },
    // V2 scale path — IVF top-k: coarse-quantize into 4 cells
    // (centroids = vectors 1..4), probe the query's 2 nearest cells
    // PQ reconstruction-error report: per SUBSPACE, the mean cosine
    // gap between each vector's slice and its assigned codeword — the
    // codebook-quality diagnostic that names WHICH subspace's
    // codebook is starving recall (retrain that one, not all eight).
    // Per-term micro-rounding before the BIGINT sum (no float sums
    // ride a shuffle); map-only over the broadcast codebooks.
    "v_pq_error" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val subDim = 8
      val rows = (0 until 8).map { sub =>
        val sl = slice(col("embedding").cast("array<double>"), sub * subDim + 1, subDim)
        val best = greatest(cents.zipWithIndex.map { case (c, i) =>
          val cs = array(c.slice(sub * subDim, (sub + 1) * subDim).toIndexedSeq.map(lit): _*)
          struct(VectorFns.cosine(sl, cs).as("sim"), lit(i).as("cell"))
        }: _*)
        struct(
          lit(sub).as("sub"),
          round((lit(1.0) - best.getField("sim")) * lit(1e6), 0).cast("long").as("e6"))
      }
      emb
        .filter(col("vec_id") =!= 0)
        .select(explode(array(rows: _*)).as("r"))
        .groupBy(col("r.sub").cast("long").as("sub"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("r.e6")).as("__se"))
        .select(
          col("sub"),
          col("n_vecs"),
          expr("CAST(__se div n_vecs AS BIGINT)").as("err6_avg"))
        .orderBy(col("sub"))
    },
    // OOD review queue: the 20 vectors FARTHEST from every reference
    // centroid (max-cosine argmax with the ivf tie-break, then bottom
    // by similarity) — rank-based, threshold-free (a fixed cutoff
    // either floods or starves the queue as the store drifts; the
    // bottom-k is always exactly one review batch). Map-only over
    // a 4-centroid broadcast + one distributed TakeOrdered.
    "v_ood_queue" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val scored = cents.zipWithIndex.map { case (c, i) =>
        struct(
          VectorFns.cosine(col("embedding"), array(c.toIndexedSeq.map(lit): _*)).as("sim"),
          lit(i).as("cell"))
      }
      emb
        .filter(col("vec_id") =!= 0)
        .withColumn("best", greatest(scored: _*))
        .select(
          col("vec_id"),
          col("best.cell").cast("long").as("cell"),
          col("best.sim").as("best_sim"))
        .orderBy(col("best_sim").asc, col("vec_id"))
        .limit(20)
    },
    // Exact-integer power iteration (Similarity.powerIterationTop):
    // the dominant principal direction of the embedding store in
    // BIGINT fixed point — the anisotropy/collapse diagnostic. The
    // oracle unrolls the identical integer rounds, emulating
    // truncation-toward-zero where DuckDB's // would floor negatives.
    "v_power_iter" -> { (s, dir) =>
      Similarity
        .powerIterationTop(t(s, dir, "embeddings"), "vec_id", "embedding", 4)
        .orderBy(col("dim"))
    },
    // Matryoshka two-stage ANN (Similarity.matryoshkaTopK, Kusupati
    // et al. 2022): prefix-8-dim cosine shortlists 50 of the 499
    // candidates reading 1/8 of the vector bytes, then the exact
    // 64-dim cosine re-ranks only the shortlist — the
    // adaptive-retrieval scale path where full-width vectors never
    // see corpus-wide work. Oracle replays both stages.
    "v_matryoshka" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val query = emb
        .filter(col("vec_id") === 0)
        .collect()
        .head
        .getAs[scala.collection.Seq[Float]]("embedding")
        .map(_.toDouble)
        .toArray
      Similarity
        .matryoshkaTopK(
          emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
          query, 8, 50, 10)
    },
    "v_ivf_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val query = emb
        .filter(col("vec_id") === 0)
        .collect()
        .head
        .getAs[scala.collection.Seq[Float]]("embedding")
        .map(_.toDouble)
        .toArray
      val assigned = Similarity.ivfAssign(emb.filter(col("vec_id") =!= 0), "embedding", cents)
      Similarity
        .ivfTopK(assigned, "embedding", cents, query, 10, 2)
        .select(col("vec_id"), col("label"), col("cell"), col("score"))
    },
    // V2 scale path, PERSISTED index — the reference's index is built
    // once and queried forever (Pinecone auto-create-then-reuse); here
    // the IVF fit/assignment is written to parquet (cells partitioned
    // BY cell, so the probe prunes to 2/4 of the files) and the query
    // runs entirely off the loaded index. Must return exactly what
    // the in-line v_ivf_topk returns — same oracle.
    "v_ivf_persisted" -> { (s, dir) =>
      val (_, query, _) = ivfFixture(s, dir)
      // read-only consumer of the SHARED clean stamp-0 base
      val idxPath = ivfBase(s, dir, "clean")
      val (loadedCents, loadedCells) = graft.sources.Io.readIvfIndex(s, idxPath)
      Similarity
        .ivfTopK(loadedCells, "embedding", loadedCents, query, 10, 2)
        .select(col("vec_id"), col("label"), col("cell"), col("score"))
    },
    // Incremental index maintenance (the reference's Pinecone upsert
    // shape): the BASE build lands every 5th vector with a stale
    // (reversed) embedding; an upsert batch at seq 1 replaces them
    // with the true versions — assignment against the frozen
    // centroids, append-only write, last-wins read. The effective
    // corpus must equal the plain table, so v_ivf_topk's oracle is
    // shared: a broken last-wins would rank the reversed vectors and
    // miss.
    "v_ivf_upsert" -> { (s, dir) =>
      val (cents, query, corpus) = ivfFixture(s, dir)
      val idxPath = s"/tmp/graft_idx/ivf_up_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      // copy-on-write off the SHARED stale stamp-0 base
      copyTree(ivfBase(s, dir, "stale"), idxPath)
      graft.sources.Io.upsertIvfIndex(
        Similarity.ivfAssign(corpus.filter(col("vec_id") % 5 === 0), "embedding", cents),
        idxPath,
        seq = 1L)
      val (loadedCents, latest) = graft.sources.Io.readIvfIndexLatest(s, idxPath, "vec_id")
      Similarity
        .ivfTopK(latest, "embedding", loadedCents, query, 10, 2)
        .select(col("vec_id"), col("label"), col("cell"), col("score"))
    },
    // TIME TRAVEL over the same versioned index (Io.readIvfIndexAsOf):
    // after the seq-1 upserts fix the stale vectors, an as-of-seq-0
    // read serves the index EXACTLY as it stood before they landed —
    // reproduce yesterday's retrieval for an audit, or bisect a
    // quality regression to the batch that introduced it. The
    // stamped-append layout makes this a filter, not a restore; the
    // oracle ranks over the deliberately-stale corpus.
    "v_ivf_asof" -> { (s, dir) =>
      val (cents, query, corpus) = ivfFixture(s, dir)
      val idxPath = s"/tmp/graft_idx/ivf_asof_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      // copy-on-write off the SHARED stale stamp-0 base
      copyTree(ivfBase(s, dir, "stale"), idxPath)
      graft.sources.Io.upsertIvfIndex(
        Similarity.ivfAssign(corpus.filter(col("vec_id") % 5 === 0), "embedding", cents),
        idxPath,
        seq = 1L)
      val (loadedCents, asOf) = graft.sources.Io.readIvfIndexAsOf(s, idxPath, "vec_id", 0L)
      Similarity
        .ivfTopK(asOf, "embedding", loadedCents, query, 10, 2)
        .select(col("vec_id"), col("label"), col("cell"), col("score"))
    },
    // Tombstone deletes on the persisted IVF index (takedown /
    // right-to-be-forgotten): every 7th vector deleted at seq 1, the
    // 14th-multiples RE-UPSERTED at seq 2 (delete-then-restore — the
    // seq-order semantics a naive id blocklist can't express). The
    // top-k must rank over exactly the live rows; the oracle runs the
    // same IVF probe over the effective corpus.
    "v_ivf_delete" -> { (s, dir) =>
      val (cents, query, corpus) = ivfFixture(s, dir)
      val idxPath = s"/tmp/graft_idx/ivf_del_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      // copy-on-write off the SHARED clean stamp-0 base
      copyTree(ivfBase(s, dir, "clean"), idxPath)
      graft.sources.Io.deleteIvfIds(
        corpus.filter(col("vec_id") % 7 === 0).select(col("vec_id")), idxPath, seq = 1L)
      graft.sources.Io.upsertIvfIndex(
        Similarity.ivfAssign(corpus.filter(col("vec_id") % 14 === 0), "embedding", cents),
        idxPath,
        seq = 2L)
      val (loadedCents, latest) = graft.sources.Io.readIvfIndexLatest(s, idxPath, "vec_id")
      Similarity
        .ivfTopK(latest, "embedding", loadedCents, query, 10, 2)
        .select(col("vec_id"), col("label"), col("cell"), col("score"))
    },
    // Compaction closes the tombstone loop: same delete+restore
    // history as v_ivf_delete, then compactIvfIndex rewrites the
    // effective corpus as a fresh stamp-0 base and purges the
    // sidecar — after which the PLAIN reader (readIvfIndex, no
    // last-wins resolution) must serve the identical top-k. Same
    // oracle as v_ivf_delete.
    "v_ivf_compacted" -> { (s, dir) =>
      val (cents, query, corpus) = ivfFixture(s, dir)
      val idxPath = s"/tmp/graft_idx/ivf_cmp_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      // copy-on-write off the SHARED clean stamp-0 base
      copyTree(ivfBase(s, dir, "clean"), idxPath)
      graft.sources.Io.deleteIvfIds(
        corpus.filter(col("vec_id") % 7 === 0).select(col("vec_id")), idxPath, seq = 1L)
      graft.sources.Io.upsertIvfIndex(
        Similarity.ivfAssign(corpus.filter(col("vec_id") % 14 === 0), "embedding", cents),
        idxPath,
        seq = 2L)
      graft.sources.Io.compactIvfIndex(s, idxPath, "vec_id")
      val (loadedCents, cells) = graft.sources.Io.readIvfIndex(s, idxPath)
      Similarity
        .ivfTopK(cells, "embedding", loadedCents, query, 10, 2)
        .select(col("vec_id"), col("label"), col("cell"), col("score"))
    },
    // V2 scale path — hyperplane-LSH near-dup pairs: bucket on 8 sign
    // bits, verify candidates with exact cosine
    "v_lsh_pairs" -> { (s, dir) =>
      Similarity
        .lshNearDupPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          LshDim, LshBits, 0.25, 42L)
        .orderBy(col("id_a"), col("id_b"))
    },
    // V2 scale path, query side — LSH-bucketed top-k with radius-1
    // multi-probe: only rows whose 8-bit signature is within 1 sign
    // flip of the query's bucket are scored (9/256 of the bucket
    // space), then exact-ranked
    "v_lsh_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val query = emb
        .filter(col("vec_id") === 0)
        .collect().head
        .getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray
      Similarity
        .lshTopK(emb.filter(col("vec_id") =!= 0), "embedding", LshDim, LshBits, query, 10, 1, 42L)
        .select(col("vec_id"), col("label"), col("score"))
    },
    // V2 scale path, query side, RECALL variant — banded LSH top-k:
    // candidate on ANY full-band agreement with the query (4 bands ×
    // 4 bits, the OR-of-ANDs that fixed the pair path), exact-ranked.
    // The retrieval-side answer to lshTopK's single-table recall
    // collapse (AnnRecallSpec: 0.9 vs 0.3 measured).
    "v_lsh_topk_banded" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val query = emb
        .filter(col("vec_id") === 0)
        .collect().head
        .getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray
      Similarity
        .bandedLshTopK(
          emb.filter(col("vec_id") =!= 0), "embedding",
          LshDim, LshBands, LshBandBits, query, 10, 42L)
        .select(col("vec_id"), col("label"), col("score"))
    },
    // Multiprobe variant — each band matches within 1 sign flip
    // (probeRadius = 1), pushing per-neighbor probe probability
    // toward 1 where exact-band agreement leaves a recall gap
    // (AnnRecallSpec: 0.9 exact -> 1.0 probed on the driver data);
    // the oracle mirrors the per-band hamming predicate bit by bit
    "v_lsh_topk_probed" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val query = emb
        .filter(col("vec_id") === 0)
        .collect().head
        .getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray
      Similarity
        .bandedLshTopK(
          emb.filter(col("vec_id") =!= 0), "embedding",
          LshDim, LshBands, LshBandBits, query, 10, 42L, probeRadius = 1)
        .select(col("vec_id"), col("label"), col("score"))
    },
    // Two-stage retrieval via signed random projection
    // (Similarity.randomProject, Achlioptas/JL): 64-d floats quantize
    // to fixed-point and project through a literal ±1 sign matrix to
    // 16 exact-integer components — a map-only scan with 4x less
    // arithmetic than full cosine; stage 1 shortlists 40 candidates
    // by exact-BIGINT projected dot product, stage 2 re-ranks them
    // with exact cosine (the PQ-ADC shape without codebooks; same
    // measured tradeoff — shortlist 150 clears recall 0.7 on the
    // near-uniform worst-case corpus, AnnRecallSpec). The sign
    // matrix is injected verbatim into the oracle.
    "v_rp_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      val proj = Similarity.randomProject(emb, "embedding", 64, 16)
      val q = broadcast(
        proj.filter(col("vec_id") === 0)
          .select(col("rp").as("qrp"), col("embedding").as("qemb")))
      proj.filter(col("vec_id") =!= 0)
        .crossJoin(q)
        .withColumn("pscore", Similarity.intDot(col("rp"), col("qrp")))
        .orderBy(col("pscore").desc, col("vec_id"))
        .limit(150)
        .withColumn("score", graft.functions.VectorFns.cosine(col("embedding"), col("qemb")))
        .select(col("vec_id"), col("pscore"), col("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
    // Shortlist tuning curve for the two-stage RP retrieval — the
    // vector-side sibling of dd_threshold_sweep: ONE projection pass
    // ranks the corpus by integer projected dot; each shortlist size
    // reads its recall@10 against the exact cosine top-10 off the
    // same ranked table. The measured knee picks the production
    // shortlist (same curve AnnRecallSpec pins: 0.5/0.6/0.8/1.0).
    "v_recall_curve" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings").filter(col("embedding").isNotNull)
      val proj = Similarity.randomProject(emb, "embedding", 64, 16)
      val q = broadcast(
        proj.filter(col("vec_id") === 0)
          .select(col("rp").as("qrp"), col("embedding").as("qemb")))
      // projection ranks via the range-partitioned globalRank chassis
      // — the ranked table is the CORPUS, so an unpartitioned
      // row_number window here is the single-task funnel the registry
      // sweep forbids
      val ranked = Relational.globalRank(
        proj.filter(col("vec_id") =!= 0)
          .crossJoin(q)
          .withColumn("pscore", Similarity.intDot(col("rp"), col("qrp")))
          .withColumn(
            "score",
            graft.functions.VectorFns.cosine(col("embedding"), col("qemb"))),
        Seq(col("pscore").desc, col("vec_id")),
        "prank")
      val exactTop = ranked
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"))
      val sizes = s.range(1)
        .select(explode(array(Seq(40, 80, 150, 200).map(x => lit(x.toLong)): _*)).as("shortlist"))
      ranked
        .join(exactTop, Seq("vec_id"), "left_semi")
        .crossJoin(sizes)
        .filter(col("prank") <= col("shortlist"))
        .groupBy(col("shortlist"))
        .agg(count(lit(1)).as("n_hits"))
        .join(sizes, Seq("shortlist"), "right")
        .na.fill(0L, Seq("n_hits"))
        .withColumn("recall_ppm", expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * n_hits div 10 AS BIGINT)"))
        .orderBy(col("shortlist"))
    },
    // V2 scale path, recall variant — banded hyperplane LSH: 4 bands
    // × 4 bits, candidate on ANY full-band agreement (OR-of-ANDs),
    // exact-cosine verify. Strictly higher recall than the one-table
    // full-signature match at the same bit budget.
    "v_lsh_banded" -> { (s, dir) =>
      Similarity
        .bandedLshNearDupPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          LshDim, LshBands, LshBandBits, 0.25, 42L)
        .orderBy(col("id_a"), col("id_b"))
    },
    // Semantic dedup (SemDeDup shape): banded-LSH near-dup pairs over
    // the embedding space → connected components → smallest-id
    // canonical vector survives. The embedding-space analog of
    // dd_cluster_resolve's text-shingle pipeline — candidate
    // generation linear via the band join, exact-cosine verify,
    // O(log n)-round clustering.
    "dd_semdedup" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val pairs = Similarity
        .bandedLshNearDupPairs(emb, "vec_id", "embedding", LshDim, LshBands, LshBandBits, 0.45, 42L)
        .select(col("id_a"), col("id_b"))
      Dedup
        .resolveClusters(emb, "vec_id", pairs)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
    // Same clusters, MEDOID survivor (Dedup.medoidCanonicals): each
    // cluster keeps its best-connected member — argmax of exact
    // micro-unit cosine sums to the other members, ties to the
    // smallest id — instead of whichever doc got the low id. The
    // member x member scoring is quadratic per cluster, fail-fast
    // bounded (near-dup clusters are small by construction; an
    // oversized one is a template blob for upstream excision).
    "dd_medoid" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val pairs = Similarity
        .bandedLshNearDupPairs(emb, "vec_id", "embedding", LshDim, LshBands, LshBandBits, 0.45, 42L)
        .select(col("id_a"), col("id_b"))
      Dedup
        .medoidCanonicals(emb, "vec_id", "embedding", pairs)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
    // Product-quantization codes: 8 subspaces × 4 centroids (from
    // vectors 1..4), the FAISS-style compact ANN encoding
    "v_pq_codes" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val full = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val subDim = 8
      val centroids = (0 until 8).map(s => full.toSeq.map(_.slice(s * subDim, (s + 1) * subDim)))
      Similarity
        .pqEncode(emb, "embedding", subDim, centroids)
        .select(
          col("vec_id"),
          concat_ws(",", (0 until 8).map(s => col(s"pq_$s")): _*).as("codes_csv"))
        .orderBy(col("vec_id"))
    },
    // Mean token frequency-rank per doc — the CCNet-style
    // "commonness" quality signal without the transcendental: every
    // token gets its corpus frequency rank (1 = most frequent, total
    // order (tf desc, term)), and a doc's score is the exact integer
    // rank sum over token count. Rare-token-heavy docs rank high.
    // No ln/perplexity on purpose: transcendentals are not
    // bit-portable across engines; integer sums and one division are.
    // Ranking uses Relational.globalRank (distributed range sort +
    // zipWithIndex partition offsets) — a partition-less row_number
    // window would funnel the whole vocabulary through one task, the
    // WindowExec shape the t_line_dedup skew fix exists to avoid.
    "t_token_rank" -> { (s, dir) =>
      val terms = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      val ranked = Relational
        .globalRank(
          terms.groupBy(col("term")).agg(count(lit(1)).as("tf")),
          Seq(col("tf").desc, col("term")),
          "rank")
        .select(col("term"), col("rank"))
      terms.join(ranked, Seq("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("rank")).as("rank_sum"))
        .select(
          col("doc_id"),
          col("n_tokens"),
          (col("rank_sum").cast("double") / col("n_tokens").cast("double")).as("mean_rank"))
        .orderBy(col("doc_id"))
    },
    // Robust per-source length outliers via median/MAD — the
    // outlier gate that survives heavy-tailed length distributions
    // where mean/stddev (a_zscore_outliers) get dragged by the tail.
    // Exact interpolated percentiles on both sides; deviations and
    // the 3-MAD threshold are pure IEEE double ops.
    "t_mad_outliers" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
      val med = d.groupBy(col("source")).agg(percentile(col("n_chars"), lit(0.5)).as("med"))
      val withMed = d.join(broadcast(med), Seq("source"))
        .withColumn("dev", abs(col("n_chars").cast("double") - col("med")))
      val mad = withMed
        .groupBy(col("source").as("m_source"))
        .agg(percentile(col("dev"), lit(0.5)).as("mad"))
      withMed.join(broadcast(mad), col("source") === col("m_source"))
        .filter(col("mad") > 0.0 && col("dev") > lit(3.0) * col("mad"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("dev"), col("mad"))
        .orderBy(col("doc_id"))
    },
    // Vocabulary coverage / OOV rate: build the corpus top-100
    // vocabulary (count desc, term asc — total order), broadcast it,
    // and score every doc's out-of-vocabulary token fraction — the
    // tokenizer-fit signal a pretraining mixture is tuned against.
    // Two hash aggs + one broadcast anti-join; nothing quadratic.
    "t_oov_rate" -> { (s, dir) =>
      val terms = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      val vocab = broadcast(
        terms.groupBy(col("term")).agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("term")).limit(100)
          .select(col("term")))
      val tot = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      val oov = terms.join(vocab, Seq("term"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_oov"))
      tot.join(oov, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          col("n_tokens"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          (coalesce(col("n_oov"), lit(0L)).cast("double") / col("n_tokens").cast("double"))
            .as("oov_rate"))
        .orderBy(col("doc_id"))
    },
    // CCNet-style unigram-LM perplexity: the corpus's own add-one
    // smoothed unigram model scores every doc's mean negative
    // log-likelihood — the statistical quality gate perplexity-sharded
    // pretraining corpora are built on. Micro-nat integer accumulation
    // keeps the per-doc sum order-independent (TextAnalysis.perplexity).
    "t_perplexity" -> { (s, dir) =>
      TextAnalysis.perplexity(t(s, dir, "documents"), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // KMV distinct-count sketch: per-source vocabulary-size estimate
    // from the 64 smallest distinct token hashes, published next to
    // the exact count it approximates. Deterministic order statistic
    // over the shared portable hash — oracle-checkable where an HLL
    // is a black box (Sketches.kmvDistinct)
    "a_kmv_distinct" -> { (s, dir) =>
      val tok = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("term"))
      Sketches
        .kmvDistinct(tok, Seq(col("source")), col("term"), 64)
        .join(
          tok.groupBy(col("source"))
            .agg(countDistinct(col("term")).as("n_exact")),
          "source")
        .select(col("source"), col("n_exact"), col("n_seen"), col("kmv_est"))
        .orderBy(col("source"))
    },
    // Mergeable persisted KMV sketches (Sketches.kmvSketches →
    // kmvMergeEstimate): per-source sketch buffers written once as a
    // parquet artifact, then the corpus-wide vocabulary estimate
    // folds from the ARTIFACT (group-count-bounded rows) instead of
    // rescanning the token stream — daily sketches → monthly
    // distinct, the sketch-side member of the build-once family.
    // Lossless merge: each buffer keeps its group's k smallest
    // distinct hashes, so the union's k smallest survive
    // concatenation and the merged estimate must equal a full-rescan
    // global KMV — which is exactly how the oracle computes it.
    "a_kmv_merged" -> { (s, dir) =>
      val skPath = s"/tmp/graft_idx/kmv_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val tok = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("term"))
      Sketches
        .kmvSketches(tok, Seq(col("source")), col("term"), 64)
        .write.mode("overwrite").parquet(skPath)
      Sketches
        .kmvMergeEstimate(s.read.parquet(skPath), col("mins"), 64)
        .crossJoin(broadcast(tok.agg(countDistinct(col("term")).as("n_exact"))))
        .select(col("n_exact"), col("n_seen"), col("kmv_est"))
    },
    // HyperLogLog distinct estimate (Sketches.hllRegisters/
    // hllEstimate, Flajolet et al. 2007) — the portable-register
    // variant next to KMV: per-returnflag distinct order counts from
    // 2^10-register sketches published against the exact counts, on a
    // key populous enough (~4k-7.5k distinct per flag at sf0.01) to
    // exercise the RAW harmonic-mean estimator, not just the
    // linear-counting floor (a_hll_merged's 31-term vocabulary covers
    // that branch). Registers are integer-exact on both engines
    // (bucket/rho off the shared md5-slice hash, bit_length via
    // bin()); the estimate's only float ops are one shared-literal
    // division and the linear-counting ln, rounded to a whole BIGINT.
    "a_hll_distinct" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      Sketches
        .hllEstimate(
          Sketches.hllRegisters(li, Seq(col("l_returnflag")), col("l_orderkey"), 10),
          10,
          Seq(col("l_returnflag")))
        .join(
          li.groupBy(col("l_returnflag"))
            .agg(countDistinct(col("l_orderkey")).as("n_exact")),
          "l_returnflag")
        .select(col("l_returnflag"), col("n_exact"), col("n_occupied"), col("hll_est"))
        .orderBy(col("l_returnflag"))
    },
    // Mergeable persisted HLL registers (Sketches.hllMerge): per-source
    // register tables written once as a parquet artifact, then the
    // corpus-wide estimate max-merges from the ARTIFACT (2^p-bounded
    // rows) instead of rescanning the token stream. Register max is
    // the lossless union, so the merged estimate must equal a
    // full-rescan global build — which is exactly how the oracle
    // computes it (the kmv_merged discipline on the fixed-size sketch).
    "a_hll_merged" -> { (s, dir) =>
      val regPath = s"/tmp/graft_idx/hll_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val tok = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("term"))
      Sketches
        .hllRegisters(tok, Seq(col("source")), col("term"), 10)
        .write.mode("overwrite").parquet(regPath)
      Sketches
        .hllEstimate(Sketches.hllMerge(s.read.parquet(regPath)), 10)
        .crossJoin(broadcast(tok.agg(countDistinct(col("term")).as("n_exact"))))
        .select(col("n_exact"), col("n_occupied"), col("hll_est"))
    },
    // KMV set-operation overlap estimate (Sketches.kmvOverlapEstimate
    // — Beyer et al. 2007): customer-key overlap between the urgent
    // and the fulfilled order populations (genuinely partial overlap
    // — true Jaccard ≈ 0.85 at sf0.01; the full orders×customer pair
    // would be a degenerate 1.0) from two 64-hash sketches, published
    // against the exact counts. The join-size planning primitive: at
    // 100 TB the sketches are persisted artifacts and the estimate
    // costs two sketch reads, not a scan of either table. Union-k-min
    // membership in each side's buffer is exact (union's k-th order
    // statistic ≤ each side's k-th), so the oracle reproduces the
    // estimator bit-for-bit.
    "a_kmv_join_est" -> { (s, dir) =>
      val k = 64
      val orders = t(s, dir, "orders")
      val oKeys = orders
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("key"))
      val cKeys = orders
        .filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("key"))
      val exact = broadcast(
        oKeys.distinct()
          .join(cKeys.distinct(), Seq("key"))
          .agg(count(lit(1)).as("n_exact_inter"))
          .crossJoin(oKeys.agg(countDistinct(col("key")).as("n_exact_a")))
          .crossJoin(cKeys.agg(countDistinct(col("key")).as("n_exact_b"))))
      Sketches
        .kmvOverlapEstimate(
          Sketches.kmvSketches(oKeys, Seq.empty, col("key"), k),
          Sketches.kmvSketches(cKeys, Seq.empty, col("key"), k),
          col("mins"),
          k)
        .crossJoin(exact)
        .select(
          col("n_exact_a"), col("n_exact_b"), col("n_exact_inter"),
          col("n_union_seen"), col("n_both"),
          col("union_est"), col("jaccard_est"), col("inter_est"))
    },
    // Count-Min Sketch heavy-hitter estimation: a 4×1024 counter
    // sketch of the corpus token stream (Sketches.cmsBuild — one
    // map-side-combined hash agg, output bounded at depth·width rows
    // regardless of corpus size), probed for the exact top-10 terms
    // so the published row pairs every estimate with its ground
    // truth. CMS estimates are SUMS over a portable md5-slice hash —
    // order-free and engine-reproducible where SpaceSaving/
    // Misra-Gries are merge-order-dependent.
    "a_cms_heavy" -> { (s, dir) =>
      val tok = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(explode(TextFns.tokens(col("text"))).as("term"))
      val sketch = Sketches.cmsBuild(tok, col("term"), depth = 4, width = 1024)
      val top = tok
        .groupBy(col("term"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("term"))
        .limit(10)
      Sketches
        .cmsEstimate(top, col("term"), sketch, depth = 4, width = 1024)
        .select(col("term"), col("n_exact"), col("cms_est"))
        .orderBy(col("term"))
    },
    // Merged CMS shard sketches: two "daily" sketches built
    // independently (doc parity split), persisted, and SUM-merged on
    // read — CMS counters are LINEAR, so the merged table IS the
    // full-corpus sketch exactly (no approximation stacking), and the
    // probe must reproduce a_cms_heavy's estimates bit-for-bit. The
    // daily-roll-up shape for frequency sketches, next to the KMV
    // family's distinct-count merge.
    "a_cms_merged" -> { (s, dir) =>
      val skPath = s"/tmp/graft_idx/cms_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val docs = t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
      def tokOf(d: org.apache.spark.sql.DataFrame) =
        d.select(explode(TextFns.tokens(col("text"))).as("term"))
      Sketches
        .cmsBuild(tokOf(docs.filter(col("doc_id") % 2 === 0)), col("term"), 4, 1024)
        .write.mode("overwrite").parquet(skPath)
      Sketches
        .cmsBuild(tokOf(docs.filter(col("doc_id") % 2 =!= 0)), col("term"), 4, 1024)
        .write.mode("append").parquet(skPath)
      val merged = s.read.parquet(skPath)
        .groupBy(col("j"), col("bucket"))
        .agg(sum(col("c")).as("c"))
      val tok = tokOf(docs)
      val top = tok
        .groupBy(col("term"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("term"))
        .limit(10)
      Sketches
        .cmsEstimate(top, col("term"), merged, depth = 4, width = 1024)
        .select(col("term"), col("n_exact"), col("cms_est"))
        .orderBy(col("term"))
    },
    // Histogram quantile sketch (Sketches.histSketch/histQuantiles):
    // the third sketch of the family (CMS = frequency, KMV =
    // distinct, HIST = distribution) — exact-integer fixed-grid
    // buckets over price cents, built as two parity shards PERSISTED
    // to parquet and SUM-merged (counter linearity: the merged table
    // IS the full-corpus sketch), then p50/p90/p99 read off the
    // running grid totals. At 100 TB each shard is a 64-row table;
    // quantiles over a month of shards never rescan the fact table.
    "a_hist_quantile" -> { (s, dir) =>
      val skPath = s"/tmp/graft_idx/hist_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val li = t(s, dir, "lineitem")
      Sketches
        .histSketch(li.filter(col("l_orderkey") % 2 === 0), col("l_extendedprice"), 110000.0, 64)
        .write.mode("overwrite").parquet(skPath)
      Sketches
        .histSketch(li.filter(col("l_orderkey") % 2 =!= 0), col("l_extendedprice"), 110000.0, 64)
        .write.mode("append").parquet(skPath)
      val merged = s.read.parquet(skPath)
        .groupBy(col("bucket"))
        .agg(sum(col("n")).as("n"))
      Sketches
        .histQuantiles(merged, 110000.0, 64, Seq(50, 90, 99))
        .orderBy(col("q_pct"))
    },
    // Positional inverted index + exact phrase search: the classic
    // retrieval index next to the vector one — postings at (term,
    // doc) granularity, phrase match = left-fold of position-
    // intersection joins, each pruned to one term's postings
    // (TextAnalysis.invertedIndex/phraseSearch)
    "r_phrase_search" -> { (s, dir) =>
      val idx = TextAnalysis
        .invertedIndex(t(s, dir, "documents"), "text", "doc_id")
      TextAnalysis
        .phraseSearch(idx, Seq("table", "hash"))
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy(col("doc_id"))
    },
    // Persisted postings: the index artifact written once (bucketed
    // by term hash — bounded directories, scan prunes to the phrase
    // terms' buckets), loaded and queried like the reference's
    // built-once vector index; result must equal the in-line build
    // (same oracle as r_phrase_search)
    "r_phrase_persisted" -> { (s, dir) =>
      // read-only consumer of the SHARED postings base
      val idxPath = postingsBase(s, dir)
      val phrase = Seq("table", "hash")
      val pruned = graft.sources.Io
        .readPostings(s, idxPath)
        .filter(
          col("term_bucket")
            .isin(graft.sources.Io.postingsBuckets(s, idxPath, phrase): _*))
      TextAnalysis
        .phraseSearch(pruned, phrase)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy(col("doc_id"))
    },
    // Tombstone deletes on the persisted postings index: every 4th
    // doc deleted at seq 1 (takedown — ALL its terms vanish at once),
    // the 8th-multiples re-indexed at seq 2 (restored). The phrase
    // query must see exactly the live docs; the oracle mirrors the
    // phrase match over the effective corpus.
    "r_phrase_delete" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      // copy-on-write off the SHARED postings base
      val idxPath =
        s"/tmp/graft_idx/postings_del_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      copyTree(postingsBase(s, dir), idxPath)
      graft.sources.Io.deletePostingsDocs(
        docs.filter(col("doc_id") % 4 === 0).select(col("doc_id")), idxPath, seq = 1L)
      graft.sources.Io.upsertPostings(
        TextAnalysis.invertedIndex(
          docs.filter(col("doc_id") % 8 === 0), "text", "doc_id"),
        idxPath,
        seq = 2L)
      val phrase = Seq("table", "hash")
      val pruned = graft.sources.Io
        .readPostingsLatest(s, idxPath)
        .filter(
          col("term_bucket")
            .isin(graft.sources.Io.postingsBuckets(s, idxPath, phrase): _*))
      TextAnalysis
        .phraseSearch(pruned, phrase)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy(col("doc_id"))
    },
    // Postings TIME TRAVEL (Io.readPostingsAsOf): the same
    // takedown+restore history as r_phrase_delete, read AS OF 0 —
    // the seq-1 tombstones are invisible to the clock AND the seq-2
    // re-indexed doc versions must serve their ORIGINAL seq-0 rows,
    // so the phrase results equal the plain full-corpus search
    // (r_phrase_search's oracle). Reproduce yesterday's retrieval
    // against the index that produced it; third artifact family with
    // as-of reads.
    "r_phrase_asof" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      // copy-on-write off the SHARED postings base
      val idxPath =
        s"/tmp/graft_idx/postings_asof_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      copyTree(postingsBase(s, dir), idxPath)
      graft.sources.Io.deletePostingsDocs(
        docs.filter(col("doc_id") % 4 === 0).select(col("doc_id")), idxPath, seq = 1L)
      graft.sources.Io.upsertPostings(
        TextAnalysis.invertedIndex(
          docs.filter(col("doc_id") % 8 === 0), "text", "doc_id"),
        idxPath,
        seq = 2L)
      val phrase = Seq("table", "hash")
      val pruned = graft.sources.Io
        .readPostingsAsOf(s, idxPath, asOfSeq = 0L)
        .filter(
          col("term_bucket")
            .isin(graft.sources.Io.postingsBuckets(s, idxPath, phrase): _*))
      TextAnalysis
        .phraseSearch(pruned, phrase)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy(col("doc_id"))
    },
    // Postings compaction: same takedown+restore history as
    // r_phrase_delete, then compactPostings rebuilds the bucketed
    // base (same persisted modulus) — the PLAIN pruned reader must
    // serve the identical phrase results (r_phrase_delete's oracle)
    "r_phrase_compacted" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      // copy-on-write off the SHARED postings base
      val idxPath =
        s"/tmp/graft_idx/postings_cmp_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      copyTree(postingsBase(s, dir), idxPath)
      graft.sources.Io.deletePostingsDocs(
        docs.filter(col("doc_id") % 4 === 0).select(col("doc_id")), idxPath, seq = 1L)
      graft.sources.Io.upsertPostings(
        TextAnalysis.invertedIndex(
          docs.filter(col("doc_id") % 8 === 0), "text", "doc_id"),
        idxPath,
        seq = 2L)
      graft.sources.Io.compactPostings(s, idxPath)
      val phrase = Seq("table", "hash")
      val pruned = graft.sources.Io
        .readPostings(s, idxPath)
        .filter(
          col("term_bucket")
            .isin(graft.sources.Io.postingsBuckets(s, idxPath, phrase): _*))
      TextAnalysis
        .phraseSearch(pruned, phrase)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy(col("doc_id"))
    },
    // Collocation mining: top-30 bigrams by PMI with min support 5
    // (TextAnalysis.collocationPmi) — the phrase-detection complement
    // of t_top_terms' raw frequency ranking; ranked on integer
    // micro-nat PMI so the order is engine-exact
    // Code-switch detector (TextAnalysis.mixedLanguage): langId over
    // each doc's head and tail token halves — concatenation
    // artifacts a whole-doc classifier averages away; route to
    // splitting or reject. Pure per-row work.
    "t_mixed_lang" -> { (s, dir) =>
      TextAnalysis
        .mixedLanguage(t(s, dir, "documents"), "text", "doc_id", SparkEntry.langMarkers)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // Retrieval evaluation (TextAnalysis.bm25PerQuery + rank math):
    // every 20th doc becomes a query (tokens 3..10), relevant = its
    // source doc, and the published row is the relevant doc's rank,
    // reciprocal rank in exact micro-units (1e6 div rank — never a
    // float mean over varying denominators) and hit@10 — the er_
    // metrics pattern applied to the retrieval stack. Batch shape:
    // N queries cost one corpus stats pass + a term join, not N scans.
    "r_mrr_eval" -> { (s, dir) =>
      val (scored, _) = bm25EvalTables(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid"))
        .orderBy(col("score").desc, col("doc_id"))
      scored
        .withColumn("rnk", row_number().over(w))
        .filter(col("qid") === col("doc_id"))
        .select(
          col("qid"),
          col("rnk").cast("long").as("rel_rank"),
          expr("CAST(1000000 div rnk AS BIGINT)").as("rr6"),
          (col("rnk") <= 10).as("hit_at_10"))
        .orderBy(col("qid"))
    },
    // NDCG@10 (TextAnalysis.ndcgAtK): graded-relevance sibling of
    // r_mrr_eval over the same query set — judgments derived from
    // query-term coverage (all terms present = grade 2, at least
    // half = grade 1), ranks from the same batch BM25, and the DCG
    // rank weights are integer micro-unit constants computed once in
    // Scala and injected into BOTH plans (ndcgWeightSql), so the
    // whole eval is exact-integer past the BM25 sort
    "r_ndcg_eval" -> { (s, dir) =>
      val (scored, judged) = bm25EvalTables(s, dir)
      TextAnalysis.ndcgAtK(scored, judged, 10).orderBy(col("qid"))
    },
    // Precision/recall/F1@10 (TextAnalysis.precisionRecallAtK): the
    // binary-relevance readout over the SAME query set, BM25 ranks
    // and coverage judgments as r_ndcg_eval — fixed-k precision,
    // recall against each query's full positive set, F1 folded from
    // the rounded micro integers.
    "r_pr_eval" -> { (s, dir) =>
      val (scored, judged) = bm25EvalTables(s, dir)
      TextAnalysis.precisionRecallAtK(scored, judged, 10).orderBy(col("qid"))
    },
    // Average precision@10 (TextAnalysis.averagePrecisionAtK): the
    // order-sensitive per-query MAP term over the same chassis —
    // precision read exactly at each relevant hit, normalized by the
    // full positive set.
    "r_map_eval" -> { (s, dir) =>
      val (scored, judged) = bm25EvalTables(s, dir)
      TextAnalysis.averagePrecisionAtK(scored, judged, 10).orderBy(col("qid"))
    },
    // Reciprocal rank fusion (TextAnalysis.rrfFuse): hybrid retrieval
    // — the shared BM25 run fused with an embedding-cosine run over
    // the same query ids; 1/(60+rank) terms in exact micro integers,
    // so the fused ORDER is integer-deterministic even off double
    // scores. Top-5 fused per query.
    "r_rrf_fusion" -> { (s, dir) =>
      val (bm25, _) = bm25EvalTables(s, dir)
      val emb = t(s, dir, "embeddings")
      val qs = emb
        .filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val cos = emb
        .crossJoin(broadcast(qs))
        .withColumn("score", VectorFns.cosine(col("embedding"), col("qe")))
        .select(col("qid"), col("vec_id").as("doc_id"), col("score"))
      TextAnalysis
        .rrfFuse(bm25, cos, 60, 20)
        .filter(col("fused_rank") <= 5)
        .orderBy(col("qid"), col("fused_rank"))
    },
    // RRF fusion, ANN scale path (the marginAlignFromCandidates
    // precedent): the embedding leg's candidates come from the banded
    // hyperplane-LSH bucket join (4 bands × 4 bits, seed 42 — the
    // v_lsh_topk_banded config) between the query set and the corpus
    // — an equi-join on (band, bucket), NEVER r_rrf_fusion's
    // corpus × (corpus/20) crossJoin whose query side grows WITH the
    // corpus. Exact cosine runs only on bucket survivors; rrfFuse
    // consumes the shortlist unchanged. The oracle mirrors the band
    // predicate bit by bit (the v_lsh_topk_probed idiom), so parity
    // is exact by construction; fused-list agreement with the exact
    // crossJoin fusion is floored separately in AnnRecallSpec.
    "r_rrf_fusion_ann" -> { (s, dir) =>
      val (bm25, _) = bm25EvalTables(s, dir)
      val emb = t(s, dir, "embeddings")
      val signed = Similarity
        .hyperplaneSignature(emb, "embedding", LshDim, LshBands * LshBandBits, 42L)
        .select(col("vec_id"), col("embedding"), col("lsh_bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def banded(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val bucketCols = (0 until LshBands).map { b =>
          struct(
            lit(b).as("band"),
            substring(col("lsh_bucket"), b * LshBandBits + 1, LshBandBits).as("bucket"))
        }
        df.select(col("vec_id"), explode(array(bucketCols: _*)).as("bb"))
          .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      }
      val cand = banded(signed.filter(col("vec_id") % 20 === 0))
        .select(col("vec_id").as("qid"), col("band"), col("bucket"))
        .join(
          banded(signed).select(col("vec_id").as("doc_id"), col("band"), col("bucket")),
          Seq("band", "bucket"))
        .select(col("qid"), col("doc_id"))
        .distinct()
      val cos = cand
        .join(signed.select(col("vec_id").as("qid"), col("embedding").as("qe")), Seq("qid"))
        .join(signed.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
        .withColumn("score", VectorFns.cosine(col("embedding"), col("qe")))
        .select(col("qid"), col("doc_id"), col("score"))
      TextAnalysis
        .rrfFuse(bm25, cos, 60, 20)
        .filter(col("fused_rank") <= 5)
        .orderBy(col("qid"), col("fused_rank"))
    },
    // BPE merge learning (TextAnalysis.bpeTopMerges — Sennrich et al.
    // 2016): the first 3 merges learned from the corpus vocabulary —
    // integer pair counts weighted by word frequency, totally-ordered
    // argmax, plain-replace vocabulary rewrite; the tokenizer-
    // training step of a data pipeline, run on the vocab table (never
    // the corpus after the first word count)
    "t_bpe_merges" -> { (s, dir) =>
      TextAnalysis
        .bpeTopMerges(t(s, dir, "documents"), "text", 3)
        .orderBy(col("step"))
    },
    // BPE encoding (TextAnalysis.bpeEncodeUnits): the tokenizer the
    // corpus just learned, applied — per-doc subword-unit counts
    // after the 3 learned merges, computed by joining doc words to
    // the REWRITTEN VOCABULARY (the corpus is never char-split per
    // document; the vocab carries the encoding). n_units/n_words is
    // the learned tokenizer's fertility curve at k=3 merges.
    "t_bpe_encode" -> { (s, dir) =>
      TextAnalysis
        .bpeEncodeUnits(t(s, dir, "documents"), "text", "doc_id", 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // Gopher quality-rule battery (TextAnalysis.gopherGate — Rae et
    // al. 2021 §A1.1): the published pretraining filter rules with
    // named per-rule verdicts, every comparison cross-multiplied
    // exact integers; complements t_quality_gate's weighted score.
    "t_gopher_rules" -> { (s, dir) =>
      TextAnalysis
        .gopherGate(t(s, dir, "documents"), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // Code-vs-prose mixture router (TextAnalysis.codeGate): every
    // 4th doc's text is replaced by a deterministic code snippet —
    // the gate must route exactly those to 'code' at the 2% symbol
    // density operating point, prose stays prose.
    "t_code_detect" -> { (s, dir) =>
      val code = concat(
        lit("def load_"), col("doc_id").cast("string"),
        lit("(x) { if (x[0] >= 2) { return x[1] + "),
        col("doc_id").cast("string"),
        lit("; } return #cfg(x); }"))
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 4 === 0, code).otherwise(col("text")).as("text"))
      TextAnalysis
        .codeGate(d, "text", "doc_id", 20000L)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // Persisted tokenizer artifact (TextAnalysis.bpeVocabUnits →
    // Io.writeBpeVocab → bpeEncodeWithVocab): vocab fit ONCE on the
    // history half, every batch doc priced by a dictionary join —
    // OOV words price at character count (the documented
    // no-merges-applied upper bound), mirrored in the oracle.
    "t_bpe_persisted" -> { (s, dir) =>
      val vPath = s"/tmp/graft_idx/bpe_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val d = t(s, dir, "documents")
      graft.sources.Io.writeBpeVocab(
        TextAnalysis.bpeVocabUnits(d.filter(col("doc_id") < 250), "text", 3),
        vPath)
      TextAnalysis
        .bpeEncodeWithVocab(
          d.filter(col("doc_id") >= 250), "text", "doc_id",
          graft.sources.Io.readBpeVocab(s, vPath))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // RAKE keyword extraction (TextAnalysis.rakeKeywords — Rose et
    // al. 2010) with the integer scoring variant Σdeg/Σfreq (one
    // BIGINT division instead of a float-order-sensitive
    // Σ deg(w)/freq(w)): per-doc top-3 stopword-delimited phrases —
    // the document-level keyword op next to t_collocations'
    // corpus-level PMI phrases
    "t_rake" -> { (s, dir) =>
      TextAnalysis
        .rakeKeywords(
          t(s, dir, "documents"), "text", "doc_id", SparkEntry.qualityStops, 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("rank"))
    },
    "t_collocations" -> { (s, dir) =>
      TextAnalysis
        .collocationPmi(t(s, dir, "documents"), "text", minCount = 5L, k = 30)
        .select(col("term_a"), col("term_b"), col("n_pair"), col("pmi6"), col("pmi"))
        .orderBy(col("pmi6").desc, col("term_a"), col("term_b"))
    },
    // Interpolated-bigram perplexity: the context-conditioned upgrade
    // of t_perplexity — word sequences, not word bags, set the score
    // (same micro-nat exact-integer accumulation, first token scored
    // under the unigram). The FIT side composes from the memoized
    // full-corpus count grids — fitBigramLmFromCounts ∘
    // bigramCountGrids IS fitBigramLm, so values are bit-identical to
    // TextAnalysis.perplexityBigram on the raw docs; the scoring pass
    // keeps the in-line codegen tokenize (measured: a parquet round-
    // trip of the exploded pair stream costs more than re-deriving it
    // — the token stream is ~10× the text bytes).
    "t_perplexity_bigram" -> { (s, dir) =>
      val (u, b) = lmCountGrids(s, dir, "full")
      TextAnalysis
        .scoreBigramLm(t(s, dir, "documents"), "text", "doc_id",
          TextAnalysis.fitBigramLmFromCounts(u, b))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    // LANGUAGE, docs split into head/middle/tail terciles by
    // per-token LM negative log-likelihood (exact integer micro-nats
    // per token, rank cutoffs n div 3 / 2n div 3 — the quality-gate
    // integer-rank discipline) — the data-mix table a pretraining
    // curriculum samples from (head = fluent, tail = noisy). Window
    // over the doc-bounded score table, never the token stream.
    "t_ppl_buckets" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val scored = TextAnalysis
        .perplexity(docs, "text", "doc_id")
        .select(
          col("id").as("doc_id"),
          col("n_tokens"),
          expr("CAST(nll_sum6 div n_tokens AS BIGINT)").as("mnll6"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      scored
        .withColumn(
          "r",
          row_number()
            .over(w.partitionBy(col("lang")).orderBy(col("mnll6"), col("doc_id")))
            .cast("long"))
        .withColumn("nl", count(lit(1)).over(w.partitionBy(col("lang"))))
        .withColumn(
          "bucket",
          when(col("r") <= expr("nl div 3"), lit("head"))
            .when(col("r") <= expr("(2 * nl) div 3"), lit("middle"))
            .otherwise(lit("tail")))
        .groupBy(col("lang"), col("bucket"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("mnll6")).as("min_mnll6"),
          max(col("mnll6")).as("max_mnll6"))
        .orderBy(col("lang"), col("bucket"))
    },
    // Persisted bigram LM (Io.writeLmModel/readLmModel) — the
    // LM-stats member of the build-once family: fit writes the
    // micro-nat dictionaries ONCE, scoring runs entirely off the
    // loaded artifact (two dictionary joins, no re-fit), and because
    // every log-prob was rounded to BIGINT at fit time the parquet
    // round-trip is lossless — persisted scoring must bit-equal the
    // in-line path, which is t_perplexity_bigram's oracle, shared.
    "t_ppl_persisted" -> { (s, dir) =>
      val lmPath = s"/tmp/graft_idx/lm_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val docs = t(s, dir, "documents")
      graft.sources.Io.writeLmModel(
        TextAnalysis.fitBigramLm(docs, "text"), lmPath)
      TextAnalysis
        .scoreBigramLm(docs, "text", "doc_id", graft.sources.Io.readLmModel(s, lmPath))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // LM COUNT-GRID artifact, incremental fit (Io.writeLmCounts /
    // upsertLmCounts, the 7th seq-versioned family): the historical
    // half's count grids land at stamp 0, the batch half's partial
    // grids APPEND (counts are linear — no refit), and the model
    // derived from the merged grids must score bit-identically to the
    // in-line full-corpus fit — t_perplexity_bigram's oracle, shared.
    "t_lm_upsert" -> { (s, dir) =>
      val p = s"/tmp/graft_idx/lmc_up_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val docs = t(s, dir, "documents")
      val (u0, b0) = lmCountGrids(s, dir, "lt250")
      graft.sources.Io.writeLmCounts(u0, b0, p)
      val (u1, b1) = lmCountGrids(s, dir, "ge250")
      graft.sources.Io.upsertLmCounts(u1, b1, p, seq = 1L)
      val (mu, mb) = graft.sources.Io.readLmCounts(s, p)
      TextAnalysis
        .scoreBigramLm(docs, "text", "doc_id",
          TextAnalysis.fitBigramLmFromCounts(mu, mb))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // LM takedown as NEGATIVE deltas: every 10th doc's grids append
    // negated (subtraction IS removal for linear statistics — no
    // tombstone sidecar), and the merged model must equal a
    // from-scratch fit on the filtered corpus, still scoring ALL docs
    // (removed docs now read as OOV/backoff under the shrunk vocab).
    "t_lm_takedown" -> { (s, dir) =>
      val p = s"/tmp/graft_idx/lmc_del_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val docs = t(s, dir, "documents")
      val (u0, b0) = lmCountGrids(s, dir, "full")
      graft.sources.Io.writeLmCounts(u0, b0, p)
      val (ud, bd) = lmCountGrids(s, dir, "mod10")
      graft.sources.Io.upsertLmCounts(
        ud.withColumn("cnt", -col("cnt")),
        bd.withColumn("cab", -col("cab")),
        p,
        seq = 1L)
      val (mu, mb) = graft.sources.Io.readLmCounts(s, p)
      TextAnalysis
        .scoreBigramLm(docs, "text", "doc_id",
          TextAnalysis.fitBigramLmFromCounts(mu, mb))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // LM time travel: base half (0), increment (1), takedown (2) —
    // the as-of-1 read reconstructs the PRE-TAKEDOWN model (the
    // audit question "what did this doc score before the purge"),
    // which must equal the full-corpus fit. The dd_graph_asof
    // discipline on the count-grid family.
    "t_lm_asof" -> { (s, dir) =>
      val p = s"/tmp/graft_idx/lmc_asof_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val docs = t(s, dir, "documents")
      val (u0, b0) = lmCountGrids(s, dir, "lt250")
      graft.sources.Io.writeLmCounts(u0, b0, p)
      val (u1, b1) = lmCountGrids(s, dir, "ge250")
      graft.sources.Io.upsertLmCounts(u1, b1, p, seq = 1L)
      val (ud, bd) = lmCountGrids(s, dir, "mod10")
      graft.sources.Io.upsertLmCounts(
        ud.withColumn("cnt", -col("cnt")),
        bd.withColumn("cab", -col("cab")),
        p,
        seq = 2L)
      val (mu, mb) = graft.sources.Io.readLmCountsAsOf(s, p, asOfSeq = 1L)
      TextAnalysis
        .scoreBigramLm(docs, "text", "doc_id",
          TextAnalysis.fitBigramLmFromCounts(mu, mb))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // LM compaction: the full delta history (base + increment +
    // takedown negations) rewrites as ONE merged grid at stamp 0 with
    // zero-count keys purged; the model off the compacted PLAIN
    // reader must equal the post-takedown fit — proving the
    // compacted grid itself, not a cached merge, is the truth.
    "t_lm_compacted" -> { (s, dir) =>
      val p = s"/tmp/graft_idx/lmc_cmp_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val docs = t(s, dir, "documents")
      val (u0, b0) = lmCountGrids(s, dir, "lt250")
      graft.sources.Io.writeLmCounts(u0, b0, p)
      val (u1, b1) = lmCountGrids(s, dir, "ge250")
      graft.sources.Io.upsertLmCounts(u1, b1, p, seq = 1L)
      val (ud, bd) = lmCountGrids(s, dir, "mod10")
      graft.sources.Io.upsertLmCounts(
        ud.withColumn("cnt", -col("cnt")),
        bd.withColumn("cab", -col("cab")),
        p,
        seq = 2L)
      graft.sources.Io.compactLmCounts(s, p)
      val (mu, mb) = graft.sources.Io.readLmCounts(s, p)
      TextAnalysis
        .scoreBigramLm(docs, "text", "doc_id",
          TextAnalysis.fitBigramLmFromCounts(mu, mb))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // TF-IDF term weighting: explode tokens -> per-(doc, term) tf ->
    // per-term df -> tf * ln(N/df), all hash aggregates + one
    // broadcast of the scalar doc count
    "t_tfidf" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val n = broadcast(docs.agg(count(lit(1)).as("n_docs")))
      val terms = docs
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.join(df, Seq("term"))
        .crossJoin(n)
        .withColumn(
          "tfidf",
          // round(6): JVM Math.log and libm ln differ in the last ulp
          round(
            col("tf").cast("double") *
              log(col("n_docs").cast("double") / col("df").cast("double")),
            6))
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("term"))
    },
    // Sparse TF-IDF document similarity — the lexical complement of
    // the dense-embedding and Jaccard near-dup paths: cosine over
    // tf·idf weight vectors via an inverted-index join (sparse dot
    // product touches only SHARED terms). Weights quantize to 1e4
    // fixed-point BIGINTs BEFORE any sum, so the dot and norms are
    // exact order-free integer aggregations (the float-sum-order trap
    // a naive sparse dot hits); df ≤ 100 caps the term join the same
    // way jaccard's maxDf does (boilerplate terms carry ~zero idf
    // anyway) and bounds every integer below 1e15
    "dd_tfidf_pairs" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val n = broadcast(docs.agg(count(lit(1)).as("n_docs")))
      val tf = docs
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 100)
      val w = tf
        .join(dfT, Seq("term"))
        .crossJoin(n)
        .withColumn(
          "w4",
          round(
            col("tf").cast("double") *
              log(col("n_docs").cast("double") / col("df").cast("double")) *
              lit(1e4),
            0).cast("long"))
        .select(col("term"), col("doc_id"), col("w4"))
        .persist()
      val norms = w.groupBy(col("doc_id")).agg(sum(col("w4") * col("w4")).as("nrm"))
      w.join(
          w.select(col("term"), col("doc_id").as("doc_b"), col("w4").as("w4b")),
          Seq("term"))
        .filter(col("doc_id") < col("doc_b"))
        .groupBy(col("doc_id"), col("doc_b"))
        .agg(sum(col("w4") * col("w4b")).as("dot"))
        .join(norms.select(col("doc_id"), col("nrm").as("na")), "doc_id")
        .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
        .withColumn(
          "cos",
          col("dot").cast("double") /
            (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
        .filter(col("cos") >= 0.5)
        .select(col("doc_id").as("id_a"), col("doc_b").as("id_b"), col("cos"))
        .orderBy(col("id_a"), col("id_b"))
    },
    // BM25 document scoring for a 2-term query (≤2 contributions per
    // doc keeps the float sum commutative-safe; ln rounded at 6)
    "t_bm25" -> { (s, dir) =>
      bm25Scores(t(s, dir, "documents"), Seq("data", "join"))
        .orderBy(col("doc_id"))
    },
    // BM25 entirely off the persisted postings index — tf from
    // position counts, doc lengths from the _doclen sidecar (the
    // Lucene-norms pattern), scan pruned to the query terms' buckets:
    // at query time NO raw-text scan exists in the plan. Scores must
    // equal the corpus-scan t_bm25 over the indexed (non-empty-doc)
    // universe.
    "r_bm25_persisted" -> { (s, dir) =>
      // read-only consumer of the SHARED postings base
      val idxPath = postingsBase(s, dir)
      TextAnalysis
        .bm25FromPostings(s, idxPath, Seq("data", "join"))
        .orderBy(col("doc_id"))
    },
    // Hybrid retrieval: BM25 top-50 and featurizer-cosine top-50 fused
    // by reciprocal-rank fusion (Rag.rrfFuse). Each leg bounds its
    // candidates with TakeOrderedAndProject BEFORE ranking, so the
    // rank windows and the fusion join see <= 50 rows per leg at any
    // corpus size — the retrieve-then-fuse shape hybrid search ships
    "r_hybrid_rrf" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val lex = bm25Scores(docs, Seq("data", "join"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(50)
        .withColumn(
          "rank",
          row_number().over(w.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      val qv = VectorFns.embedText(lit("data join window"), 16)
      val vec = docs
        .select(
          col("doc_id"),
          VectorFns.cosine(VectorFns.embedText(col("text"), 16), qv).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
        .withColumn(
          "rank",
          row_number().over(w.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      graft.pipelines.Rag
        .rrfFuse(lex, vec, "doc_id", c = 60, k = 10)
        .select(
          col("doc_id"),
          col("rank_a").as("lex_rank"),
          col("rank_b").as("vec_rank"),
          col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
    },
    // Rank-biased overlap between the two retrieval legs
    // (TextAnalysis.rboTable, Webber et al. 2010): how differently
    // the lexical BM25 ranker and the vector ranker order their
    // top-10 — top-weighted (rank-1 disagreement costs most) and
    // native to non-conjoint lists, the ship/no-ship ranker
    // comparison a Kendall tau over the union gets wrong. Depth
    // weights injected once in micro-units; per-depth terms exact
    // integers; cumulative rbo6 over the 10-row grid.
    "r_rbo" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val lex = bm25Scores(docs, Seq("data", "join"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10)
        .withColumn(
          "rank",
          row_number().over(w.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      val qv = VectorFns.embedText(lit("data join window"), 16)
      val vec = docs
        .select(
          col("doc_id"),
          VectorFns.cosine(VectorFns.embedText(col("text"), 16), qv).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
        .withColumn(
          "rank",
          row_number().over(w.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      TextAnalysis
        .rboTable(lex, vec, "doc_id", "rank", 10, 0.9)
        .orderBy(col("d"))
    },
    // Hybrid retrieval with the LEXICAL leg entirely off the
    // persisted postings artifact (TextAnalysis.bm25FromPostings —
    // no raw-text scan on that leg): two artifact families composing
    // in one query, fused identically. Oracle is the hybrid mirror
    // over the indexed universe.
    "r_hybrid_persisted" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      // read-only consumer of the SHARED postings base
      val idxPath = postingsBase(s, dir)
      val lex = TextAnalysis
        .bm25FromPostings(s, idxPath, Seq("data", "join"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(50)
        .withColumn(
          "rank",
          row_number().over(w.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      val qv = VectorFns.embedText(lit("data join window"), 16)
      val vec = docs
        .select(
          col("doc_id"),
          VectorFns.cosine(VectorFns.embedText(col("text"), 16), qv).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
        .withColumn(
          "rank",
          row_number().over(w.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      graft.pipelines.Rag
        .rrfFuse(lex, vec, "doc_id", c = 60, k = 10)
        .select(
          col("doc_id"),
          col("rank_a").as("lex_rank"),
          col("rank_b").as("vec_rank"),
          col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
    },
    // weekly distinct users (I5 sibling: exact distinct per window)
    "i5_weekly_users" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(
          date_format(window(col("ts"), "7 days").getField("start"), "yyyy-MM-dd")
            .as("week_start"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("week_start"))
    },
    // JSON array parsing: embedded array-of-objects -> from_json ->
    // explode (the JSON-LD @graph shape, scraper_v2.py:120-181)
    "c12_json_array" -> { (s, dir) =>
      val js = concat(
        lit("[{\"t\":\"a\",\"v\":"), (col("doc_id") % 7).cast("string"),
        lit("},{\"t\":\"b\",\"v\":"), (col("doc_id") % 3).cast("string"),
        lit("}]"))
      val schema = "array<struct<t:string,v:long>>"
      t(s, dir, "documents")
        .select(col("doc_id"), from_json(js, org.apache.spark.sql.types.DataType.fromDDL(schema)).as("arr"))
        .select(col("doc_id"), explode(col("arr")).as("e"))
        .select(col("doc_id"), col("e.t").as("t"), col("e.v").as("v"))
        .orderBy(col("doc_id"), col("t"))
    },
    // cumulative daily revenue: exact decimal day totals, running sum
    // in date order (frame order fixes the float accumulation)
    "w_cumulative_revenue" -> { (s, dir) =>
      // exact long cents through the window: float window sums are
      // tree-summed in some engines (order-dependent bits); integer
      // sums are order-free
      val daily = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(sum((col("o_totalprice") * 100).cast("decimal(18,0)").cast("long")).as("day_cents"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      daily
        .withColumn("cum_cents", sum(col("day_cents")).over(w))
        .select(
          col("day"),
          (col("day_cents").cast("double") / 100.0).as("day_revenue"),
          (col("cum_cents").cast("double") / 100.0).as("cum_revenue"))
        .orderBy(col("day"))
    },
    // batch sessionization: gap > 1h starts a new session; session id
    // = running count of session starts per user (integer-exact)
    "w_sessionize" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn(
          "new_sess",
          when(
            col("prev_us").isNull ||
              unix_micros(col("ts")) - col("prev_us") > 3600L * 1000000L,
            1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("session_id"))
    },
    // exact median per group (no approx sketch): Spark's exact
    // percentile aggregate — percentile_cont(0.5) = avg of the two
    // middle values on even counts, identical to middle-row indexing
    // but ONE hash-agg pass instead of sorting every row of the group
    // through two window passes (3 giant window partitions at scale)
    "a_median" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.5)).as("median_qty"))
        .orderBy(col("l_returnflag"))
    },
    // A-family at skew: two-phase salted sum (exact long cents so both
    // phases and the oracle's single-phase sum agree bit-for-bit)
    "a_salted_sum" -> { (s, dir) =>
      val cents = t(s, dir, "events")
        .select(
          col("event_type"),
          (col("value") * 100).cast("decimal(18,0)").cast("long").as("cents"))
      Relational
        .saltedSumCount(cents, Seq("event_type"), "cents", 8)
        .select(
          col("event_type"),
          (col("sum_cents").cast("double") / 100.0).as("total_value"),
          col("n_rows"))
        .orderBy(col("event_type"))
    },
    // distribution histogram: fixed-width price bins
    "a_histogram" -> { (s, dir) =>
      t(s, dir, "orders")
        .withColumn("bin", least(floor(col("o_totalprice") / 50000.0).cast("long"), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("bin"))
    },
    // Edit-distance fuzzy match (entity resolution): canonical names ∪
    // typo variants, blocked on the name suffix, verified with
    // levenshtein ≤ 2 — candidates via the block equi-join, never
    // all-pairs
    "dd_fuzzy_match" -> { (s, dir) =>
      val canon = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      // variant: drop the 6th char ("Customer#…" -> "Custoer#…")
      val typo = canon.select(
        (col("id") + 1000000L).as("id"),
        concat(substring(col("name"), 1, 5), substring(col("name"), 7, 100)).as("name"))
      val all = canon.unionByName(typo)
        .withColumn("blk", substring(col("name"), -4, 4))
      val a = all.select(col("id").as("id_a"), col("name").as("name_a"), col("blk"))
      val b = all.select(col("id").as("id_b"), col("name").as("name_b"), col("blk"))
      a.join(b, Seq("blk"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("lev", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("lev") <= 2)
        .select(col("id_a"), col("id_b"), col("lev"))
        .orderBy(col("id_a"), col("id_b"))
    },
    // End-to-end entity resolution: blocking → levenshtein scoring →
    // transitive clustering (clusterPairs) → golden record per
    // cluster (min-id name wins via min_by — unique ids, no tie).
    // Composes the dd_fuzzy_match pair stage with the dedup family's
    // cluster resolution, the full ER pipeline in one plan
    "er_golden" -> { (s, dir) =>
      val canon = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val typo = canon.select(
        (col("id") + 1000000L).as("id"),
        concat(substring(col("name"), 1, 5), substring(col("name"), 7, 100)).as("name"))
      val all = canon.unionByName(typo)
        .withColumn("blk", substring(col("name"), -4, 4))
      val a = all.select(col("id").as("id_a"), col("name").as("name_a"), col("blk"))
      val b = all.select(col("id").as("id_b"), col("name").as("name_b"), col("blk"))
      val pairs = a.join(b, Seq("blk"))
        .filter(col("id_a") < col("id_b"))
        .filter(levenshtein(col("name_a"), col("name_b")) <= 2)
        .select(col("id_a"), col("id_b"))
      val labels = Dedup.clusterPairs(pairs)
        .withColumnRenamed("cluster_id", "__cluster")
      // canonical = min-id member: min(id) keeps the agg in primitive
      // HashAggregate (a min_by on the name STRING degrades to
      // SortAggregate — the i_cdc_apply lesson), the name joins back
      // referenced by the size rollup AND the canonical-name lookup —
      // materialize once or the union+label join re-runs per reference
      val members = graft.operators.Checkpointing.truncate(
        all
          .join(labels, Seq("id"), "left")
          .select(
            col("id"),
            col("name"),
            coalesce(col("__cluster"), col("id")).as("cluster_id")),
        None, eager = true)
      members
        .groupBy(col("cluster_id"))
        .agg(min(col("id")).as("__min_id"), count(lit(1)).as("n_members"))
        .join(
          members.select(col("id").as("__min_id"), col("name").as("canonical_name")),
          "__min_id")
        .select(col("cluster_id"), col("canonical_name"), col("n_members"))
        .orderBy(col("cluster_id"))
    },
    // Schema evolution across snapshot generations: an early
    // snapshot without the column and a later one with it read back
    // through mergeSchema into one frame — old rows surface the new
    // column as null (coalesced to '-' so neither engine's null
    // ordering matters). The lake-layout reality of any pipeline
    // that ships for years; the oracle recomputes the expectation
    // from the base table (the persisted-artifact oracle rule:
    // recompute, never read the artifact).
    "i_schema_merge" -> { (s, dir) =>
      val p = s"/tmp/graft_idx/schevo_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val o = t(s, dir, "orders")
      o.filter(col("o_orderdate") < lit("1996-01-01"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$p/s1")
      o.filter(col("o_orderdate") >= lit("1996-01-01"))
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority").as("priority"))
        .write.mode("overwrite").parquet(s"$p/s2")
      s.read.option("mergeSchema", "true").parquet(s"$p/s1", s"$p/s2")
        .groupBy(coalesce(col("priority"), lit("-")).as("priority"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .orderBy(col("priority"))
    },
    // Corpus datasheet (Gebru et al., "Datasheets for Datasets"):
    // the one-row release card a corpus ships with — doc/token/
    // source/language counts, empty and low-quality fractions, exact-
    // duplicate rate — every rate in exact integer ppm, every input
    // from the SAME shared constants the individual gates use
    // (langMarkers, qualityStops, fingerprint), so the card cannot
    // disagree with the pipeline it summarizes. One corpus pass +
    // a fingerprint self-join for the dup rate.
    "t_datasheet" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val base = docs.select(
        col("doc_id"),
        col("source"),
        TextFns.wordCount(col("text")).as("nt"),
        TextAnalysis.langId(col("text"), SparkEntry.langMarkers).as("lang_pred"),
        TextAnalysis.qualityScore(col("text"), SparkEntry.qualityStops).as("q"),
        TextFns.fingerprint(col("text")).as("fp"),
        (length(trim(col("text"))) === 0).as("is_empty"))
      val dupFps = base
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") > 1)
        .select(col("fp"), lit(true).as("is_dup"))
      base
        .join(dupFps, Seq("fp"), "left")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("is_empty"), 1L).otherwise(0L)).as("n_empty"),
          sum(col("nt")).cast("long").as("n_tokens"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang_pred")).as("n_langs_pred"),
          sum(when(col("q") < 0.5, 1L).otherwise(0L)).as("n_low_quality"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_exact_dup_docs"))
        .withColumn("low_quality_ppm", expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * n_low_quality div n_docs AS BIGINT)"))
        .withColumn("exact_dup_ppm", expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * n_exact_dup_docs div n_docs AS BIGINT)"))
        .withColumn("tokens_per_doc_milli", expr("CAST(CAST(1000 AS DECIMAL(38,0)) * n_tokens div n_docs AS BIGINT)"))
    },
    // Flesch reading-ease in exact milli-units
    // (TextAnalysis.readability): the classic pre-LLM quality gate —
    // integer divisions of exact sentence/word/vowel-group counts,
    // with the vowel-run syllable proxy every dictionary-free
    // implementation uses
    "t_readability" -> { (s, dir) =>
      TextAnalysis
        .readability(t(s, dir, "documents"), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // Kneser-Ney bigram perplexity (TextAnalysis.perplexityKn): the
    // context-DIVERSITY upgrade of t_perplexity_bigram — continuation
    // counts punish frequent-but-predictable words; D = 3/4 keeps
    // every seen-bigram probability one exact integer ratio
    "t_perplexity_kn" -> { (s, dir) =>
      TextAnalysis
        .perplexityKn(t(s, dir, "documents"), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // Topic-seam detection (TextAnalysis.topicBoundaries, the
    // TextTiling cohesion idea): each doc's weakest adjacent-block
    // seam by exact integer Jaccard — t_mixed_lang flags the
    // concatenation artifact, this says WHERE to cut it
    "t_segment" -> { (s, dir) =>
      TextAnalysis
        .topicBoundaries(t(s, dir, "documents"), "text", "doc_id", 6)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // Freshness lag per type: minutes between each type's newest
    // event and the corpus's newest — the staleness board an ingest
    // on-call reads ("purchases stopped 3 hours ago, clicks are
    // current"). The reference clock is the CORPUS max, not
    // wall-clock now(), so the report is deterministic and
    // replayable; exact integer minutes from microsecond timestamps.
    "dq_freshness" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val perType = ev
        .groupBy(col("event_type"))
        .agg(max(col("ts")).as("last_ts"))
      val corpusMax = broadcast(ev.agg(max(col("ts")).as("__cm")))
      perType
        .crossJoin(corpusMax)
        .select(
          col("event_type"),
          date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
          expr("CAST((unix_micros(__cm) - unix_micros(last_ts)) div 60000000 AS BIGINT)")
            .as("lag_minutes"))
        .orderBy(col("event_type"))
    },
    // Soft dedup: cluster-size inverse sampling weights — instead of
    // DROPPING duplicates, down-weight them so a 10-copy template
    // contributes ~one document's worth of mass to training
    // (weight6 = 1e6 div cluster_size per member; singletons weigh
    // 1e6). The sampling-side alternative to resolveClusters'
    // hard excision, fed by the same closure labels.
    "s_dup_weights" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = docNgramPairs(s, dir).select(col("id_a"), col("id_b"))
      val labels = Dedup.clusterPairs(pairs)
      val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      docs.select(col("doc_id"))
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .join(sizes, Seq("cluster_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("sz"), lit(1L)).as("cluster_size"),
          expr("CAST(1000000 div coalesce(sz, CAST(1 AS BIGINT)) AS BIGINT)").as("weight6"))
        .orderBy(col("doc_id"))
    },
    // Partition integrity manifest (Checks.partitionManifest): per
    // event day, row count + order-free XOR content checksum over
    // the portable row hash — the hand-off receipt both sides of a
    // 100 TB export recompute and diff (lost file, duplicated retry
    // batch, truncated copy all surface per partition without
    // comparing rows)
    "dq_manifest" -> { (s, dir) =>
      Checks
        .partitionManifest(
          t(s, dir, "events"),
          date_format(col("ts"), "yyyy-MM-dd"),
          concat_ws(":", col("event_id"), col("user_id"), col("event_type")))
        .orderBy(col("partition"))
    },
    // Phrase-match snippets (TextAnalysis.phraseSnippets): for every
    // "table hash" match, the first hit position and a 3-token
    // context cut from the doc's own token stream — the retrieval-UX
    // companion of r_phrase_search; the text join is match-bounded,
    // never a corpus scan
    "r_snippet" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextAnalysis
        .phraseSnippets(
          TextAnalysis.invertedIndex(docs, "text", "doc_id"),
          docs, "text", "doc_id", Seq("table", "hash"), window = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    // Trending terms: per-term robust trend across corpus-position
    // epochs (50-doc buckets; counts zero-filled over the full
    // epoch x term grid so an absent epoch reads as decline, not a
    // hole) — the top movers by median pairwise slope, the
    // "what is this corpus increasingly about" feed a crawl
    // scheduler reads. Bounded: top-20 frequent terms x epochs.
    "t_trending" -> { (s, dir) =>
      val toks = t(s, dir, "documents")
        .select((col("doc_id") / 50).cast("long").as("epoch"),
          explode(TextFns.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
      val top = toks.groupBy(col("term")).agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("term")).limit(20).select(col("term"))
      val epochs = toks.select(col("epoch")).distinct()
      val counts = toks
        .join(broadcast(top), Seq("term"), "left_semi")
        .groupBy(col("term"), col("epoch"))
        .agg(count(lit(1)).as("n"))
      val grid = broadcast(top).crossJoin(epochs)
        .join(counts, Seq("term", "epoch"), "left")
        .na.fill(0L, Seq("n"))
        .select(
          col("term"),
          col("epoch").cast("double").as("x"),
          col("n").cast("double").as("y"))
      Series
        .medianPairwiseSlope6(grid, "term", "x", "y")
        .orderBy(col("slope6").desc, col("term"))
        .limit(10)
    },
    // Event-time disorder audit (Checks.outOfOrderAudit): per type,
    // the fraction of arrivals whose event time regressed vs the
    // previous arrival for the same user — separates "pipeline is
    // late" (st_late_events' watermark drops) from "clocks are
    // wrong / partitions replayed" (this)
    "dq_out_of_order" -> { (s, dir) =>
      Checks
        .outOfOrderAudit(
          t(s, dir, "events"),
          col("event_type"), col("user_id"), col("event_id"), col("ts"))
        .orderBy(col("grp"))
    },
    // Heaps'-law vocabulary growth (V(n) ~ K n^beta): beta from the
    // same robust slope chassis over ln(cumulative tokens) vs
    // ln(cumulative vocab) at every 25th doc of a bounded prefix —
    // natural text sits near 0.5-0.8; a template corpus's vocab
    // saturates (beta -> 0). The prefix bound (doc_id < 2000) is
    // what keeps the cumulative windows and the pairwise fit
    // bounded by construction at any corpus size.
    "t_heaps" -> { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 2000)
      val toks = docs
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
      val firstSeen = toks
        .groupBy(col("term")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("new_v"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val pts = toks
        .groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
        .join(firstSeen, Seq("doc_id"), "left")
        .na.fill(0L, Seq("new_v"))
        .withColumn("cum_n", sum(col("nt")).over(w))
        .withColumn("cum_v", sum(col("new_v")).over(w))
        .filter(col("doc_id") % 25 === 0)
        .select(
          lit(0L).as("corpus"),
          log(col("cum_n").cast("double")).as("x"),
          log(col("cum_v").cast("double")).as("y"))
      Series
        .medianPairwiseSlope6(pts, "corpus", "x", "y")
        .select(col("n_points"), col("n_pairs"), col("slope6").as("beta6"))
    },
    // Cross-group embedding affinity matrix
    // (Similarity.groupAffinityMatrix): cosine of exact integer sum
    // vectors between every label pair — the redundancy/diversity
    // map a mixture designer reads before re-weighting sources
    // (v_embed_drift's each-vs-corpus score, upgraded to pairwise)
    "v_affinity" -> { (s, dir) =>
      Similarity
        .groupAffinityMatrix(t(s, dir, "embeddings"), col("label"), "embedding")
        .orderBy(col("group_a"), col("group_b"))
    },
    // Zipf exponent of the corpus vocabulary: the robust log-log fit
    // (Series.medianPairwiseSlope6 over ln rank / ln freq of the
    // top-100 terms; alpha6 = -slope6) — natural text sits near
    // alpha 1, template/boilerplate corpora drift off it, so the
    // exponent is a one-number corpus-health signal next to the
    // entropy family (the synthetic corpus's 31-term near-flat head
    // measures alpha ~0.05 — exactly the off-Zipf reading a
    // template corpus should produce). Pairwise work bounded at
    // <=100 points.
    "t_zipf" -> { (s, dir) =>
      val top = t(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy(col("term"))
        .agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("term"))
        .limit(100)
      val pts = top
        .withColumn(
          "r",
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("f").desc, col("term"))))
        .select(lit(0L).as("corpus"), log(col("r").cast("double")).as("x"), log(col("f").cast("double")).as("y"))
      Series
        .medianPairwiseSlope6(pts, "corpus", "x", "y")
        .select(
          col("n_points"),
          col("n_pairs"),
          (-col("slope6")).as("alpha6"))
    },
    // Threshold sweep over the same canary (Dedup.canarySweep): one
    // scored detector pass, each operating point reads recall AND
    // pair volume off it — the tuning table whose knee picks the
    // production threshold
    "dd_threshold_sweep" -> { (s, dir) =>
      Dedup
        .canarySweep(
          t(s, dir, "documents"), "text", "doc_id", 3, Seq(20, 35, 50, 65, 80))
        .orderBy(col("threshold_pct"))
    },
    // Detector canary (Dedup.canaryRecall): plant deterministic
    // dropout twins, run the REAL jaccard detector over corpus +
    // twins, report recovered-pair recall in exact ppm — the
    // measurement-in-production run that catches recall regressions
    // (threshold drift, broken shingle kernel, over-aggressive
    // df-cap) inside the pipeline itself
    "dd_canary_recall" -> { (s, dir) =>
      Dedup.canaryRecall(t(s, dir, "documents"), "text", "doc_id", 3, 0.2)
    },
    // Match-evidence audit (Dedup.explainJaccardPairs): every pair
    // the jaccard detector emits, with its evidence — set sizes,
    // shared-shingle count, jaccard AND containment in exact ppm.
    // Containment is the tell jaccard hides: a snippet quoted inside
    // a long doc scores low jaccard but cont6 ~ 1e6. The takedown-
    // dispute / reviewer record, same capped pipeline as the
    // detector.
    "dd_pair_explain" -> { (s, dir) =>
      Dedup
        .explainJaccardPairs(t(s, dir, "documents"), "text", "doc_id", 3, 0.2)
        .orderBy(col("id_a"), col("id_b"))
    },
    // PSI drift between two temporal snapshots (Checks.psiFromCounts
    // over Sketches.histSketch grids): price distribution before vs
    // after mid-1995 — the drift check reads two 64-row grids, never
    // the fact table twice at full width; add-one smoothing over the
    // union bucket set, micro-nat integer terms
    "dq_psi" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val a = Sketches.histSketch(
        li.filter(col("l_shipdate") < lit("1995-07-01")), col("l_extendedprice"), 110000.0, 64)
      val b = Sketches.histSketch(
        li.filter(col("l_shipdate") >= lit("1995-07-01")), col("l_extendedprice"), 110000.0, 64)
      Checks.psiFromCounts(a, b)
    },
    // Two-sample Kolmogorov-Smirnov drift score (Checks.ksFromCounts)
    // on the same histSketch grids as dq_psi: the CDF-gap statistic
    // that also NAMES the diverging bucket (argmax, min-bucket ties),
    // where PSI only totals the drift — exact integer micro-unit
    // CDFs, bounded 64-row grid windows.
    "dq_ks" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val a = Sketches.histSketch(
        li.filter(col("l_shipdate") < lit("1995-07-01")), col("l_extendedprice"), 110000.0, 64)
      val b = Sketches.histSketch(
        li.filter(col("l_shipdate") >= lit("1995-07-01")), col("l_extendedprice"), 110000.0, 64)
      Checks.ksFromCounts(a, b)
    },
    // Jensen-Shannon divergence (Checks.jsFromCounts) on the same
    // grids: the BOUNDED, symmetric drift score (<= ln2 micro-nats)
    // — PSI's unbounded blowups and KS's single-gap blindness both
    // fixed; same add-one smoothing and per-term micro-nat rounding.
    "dq_js" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val a = Sketches.histSketch(
        li.filter(col("l_shipdate") < lit("1995-07-01")), col("l_extendedprice"), 110000.0, 64)
      val b = Sketches.histSketch(
        li.filter(col("l_shipdate") >= lit("1995-07-01")), col("l_extendedprice"), 110000.0, 64)
      Checks.jsFromCounts(a, b)
    },
    // Cramer-von Mises criterion (Checks.cvmFromCounts) on the same
    // grids: the INTEGRATED squared CDF gap — broad low-grade drift
    // KS under-weights; exact integer micro CDFs, one DECIMAL
    // division.
    "dq_cvm" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val a = Sketches.histSketch(
        li.filter(col("l_shipdate") < lit("1995-07-01")), col("l_extendedprice"), 110000.0, 64)
      val b = Sketches.histSketch(
        li.filter(col("l_shipdate") >= lit("1995-07-01")), col("l_extendedprice"), 110000.0, 64)
      Checks.cvmFromCounts(a, b)
    },
    // Single-changepoint binomial split scan (Checks
    // .binomialSplitScan): for every day-grid split, the exact
    // micro-nat LRT gain of a two-rate model of the purchase share —
    // the WHERE companion of dq_volume_anomaly/w_page_hinkley's
    // WHETHER; the analyst reads the argmax day.
    "dq_rate_split" -> { (s, dir) =>
      Checks.binomialSplitScan(
        t(s, dir, "events")
          .filter(col("event_type").isNotNull && col("ts").isNotNull),
        col("event_type") === "purchase",
        date_format(col("ts"), "yyyy-MM-dd"))
    },
    // Mean-shift split scan (Checks.meanSplitScan): WHERE did the
    // cent-value LEVEL move — the continuous sibling of
    // dq_rate_split on the same day grid; staged truncating integer
    // divisions keep every stage inside DECIMAL(38,0).
    "dq_mean_split" -> { (s, dir) =>
      Checks.meanSplitScan(
        t(s, dir, "events")
          .filter(col("value").isNotNull && col("ts").isNotNull),
        round(col("value") * 100.0, 0).cast("long"),
        date_format(col("ts"), "yyyy-MM-dd"))
    },
    // Depth-2 binary segmentation of the purchase rate (Checks
    // .binomialBinseg2): the split scan's recursion — argmax split,
    // then the best split INSIDE each side under the side's own null
    // model; localizes up to 3 changepoints from one corpus scan
    // (every pass after the day-grid collapse is grid-bounded).
    "dq_rate_binseg" -> { (s, dir) =>
      Checks.binomialBinseg2(
        t(s, dir, "events")
          .filter(col("event_type").isNotNull && col("ts").isNotNull),
        col("event_type") === "purchase",
        date_format(col("ts"), "yyyy-MM-dd"))
    },
    // Depth-2 binary segmentation of the cent-value level (Checks
    // .meanBinseg2): the continuous sibling — each side re-scored
    // against its OWN pooled variance folded from the sub-grid.
    "dq_mean_binseg" -> { (s, dir) =>
      Checks.meanBinseg2(
        t(s, dir, "events")
          .filter(col("value").isNotNull && col("ts").isNotNull),
        round(col("value") * 100.0, 0).cast("long"),
        date_format(col("ts"), "yyyy-MM-dd"))
    },
    // Depth-3 binary segmentation (Checks.meanBinseg3FromCells via
    // the same grid): one level deeper for multi-changepoint
    // localization — the depth-2 splits bound four leaf segments,
    // each scanned against its OWN pooled variance; segment
    // restriction is plan-side (crossJoins with the 1-row best-split
    // frames), so a thin parent side empties its children instead of
    // erroring.
    "dq_mean_binseg3" -> { (s, dir) =>
      Checks.meanBinseg3FromCells(
        t(s, dir, "events")
          .filter(col("value").isNotNull && col("ts").isNotNull)
          .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("bucket"))
          .agg(
            count(lit(1)).as("n"),
            sum(round(col("value") * 100.0, 0).cast("long")).as("s"),
            sum(round(col("value") * 100.0, 0).cast("long").cast("decimal(38,0)")
              * round(col("value") * 100.0, 0).cast("long")).as("q")))
    },
    // Benford first-digit audit (Checks.benfordAudit): the
    // fraud/fabrication smoke test on order totals — observed vs
    // expected leading-digit frequency in exact integer ppm, with
    // the log10 expectations computed once in Scala and injected
    // into both plans (TPC-H prices are uniform-ish, so the audit
    // SHOULD show deviation — the point is the exact arithmetic,
    // not a pass)
    "dq_benford" -> { (s, dir) =>
      Checks
        .benfordAudit(t(s, dir, "orders"), col("o_totalprice"))
        .orderBy(col("digit"))
    },
    // Gini coefficient of revenue concentration across customers —
    // the one-number inequality measure (how much of the corpus/
    // revenue a few whales carry; the same math audits source
    // concentration in a training mixture). Ranks from the range-
    // partitioned globalRank (no global window); every SUM is an
    // exact integer (dollar-quantized via the round-parity idiom),
    // and only the final ratio is one double expression rounded to
    // micro-units — identical op sequence both engines, double-exact
    // while rank-weighted sums stay under 2^53 (dollars-scale
    // corpora; a cents-scale formulation overflowed BIGINT products,
    // which ANSI mode correctly refused to wrap).
    "a_gini" -> { (s, dir) =>
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice) AS BIGINT)")).as("dollars"))
      val ranked = Relational.globalRank(
        perCust.select(col("dollars"), col("o_custkey")),
        Seq(col("dollars"), col("o_custkey")),
        "rank")
      ranked
        .agg(
          count(lit(1)).as("n"),
          sum(col("dollars")).as("total"),
          sum(col("rank") * col("dollars")).as("rc"))
        .withColumn(
          "gini6",
          expr("CAST(round(1e6 * (2.0 * CAST(rc AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))" +
            " - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))) AS BIGINT)"))
        .select(col("n"), col("total"), col("gini6"))
    },
    // Theil inequality index (Checks.theilIndex): the DECOMPOSABLE
    // concentration score beside a_gini — per-user spend against the
    // mean in micro-nat terms, zero-spend users excluded by the ln
    // domain contract.
    "a_theil" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      Checks.theilIndex(per, col("cents"))
    },
    // Lorenz curve at deciles (Checks.lorenzCurve): the distribution
    // BEHIND a_gini's scalar on the same per-customer dollars —
    // range-partitioned rank + distributed prefix sum, equiDepth
    // probe ranks, wealth share <= population share row-by-row.
    "a_lorenz" -> { (s, dir) =>
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice) AS BIGINT)")).as("dollars"))
      Checks.lorenzCurve(perCust, col("dollars"), col("o_custkey"), 10)
    },
    // Fano factor (Checks.fanoFactor) over the daily count grid:
    // variance-to-mean burstiness per event type — 1e6 = Poisson,
    // far above = bursty, far below = suspiciously regular; the
    // cheapest bot-battery member, one moment pass.
    "w_fano" -> { (s, dir) =>
      Checks
        .fanoFactor(
          t(s, dir, "events")
            .groupBy(
              col("event_type").cast("string").as("grp"),
              date_format(col("ts"), "yyyy-MM-dd").as("bucket"))
            .agg(count(lit(1)).as("n")))
        .orderBy(col("grp"))
    },
    // Half-life-decayed engagement per user: each event weighs
    // round(1e6 * 0.5^(age/7)) with the weights computed once in
    // Scala and injected into BOTH plans (Series.decayWeights6) —
    // recency scoring as exact integer sums, no pow() anywhere; the
    // reference clock is the corpus max day (the dq_freshness rule)
    "a_decay_engagement" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val ref = broadcast(ev.agg(max(to_date(col("ts"))).as("__ref")))
      val ws = Series.decayWeights6(7, 60)
      val wCol = ws.zipWithIndex.foldLeft(lit(0L)) { case (acc, (wt, a)) =>
        when(col("__age") === a.toLong, lit(wt)).otherwise(acc)
      }
      ev.select(col("user_id"), to_date(col("ts")).as("d"))
        .crossJoin(ref)
        .withColumn("__age", datediff(col("__ref"), col("d")).cast("long"))
        .withColumn("__w", wCol)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("__w")).as("engagement6"))
        .orderBy(col("user_id"))
    },
    // Autocorrelation per type at lags 1-7 (Series.acfDaily): exact
    // integer ACF — a weekly ingest rhythm reads as the lag-7 peak,
    // the time-domain cross-check of w_seasonal's per-dow indexes
    "w_acf" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      Series
        .acfDaily(daily, "event_type", "day", "n", 7)
        .orderBy(col("event_type"), col("lag"))
    },
    // Changepoint LOCATION per type (Series.changepointDaily): the
    // binary-segmentation argmax that says WHERE the level shifted
    // (w_cusum alarms THAT it shifted) — split gain maximized on
    // rounded micro-units, earliest-day ties, reported as the first
    // day of the new regime
    "w_changepoint" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      Series
        .changepointDaily(daily, "event_type", "day", "n")
        .select(
          col("event_type"),
          col("n_days"),
          date_format(col("change_day"), "yyyy-MM-dd").as("change_day"),
          col("gain6"))
        .orderBy(col("event_type"))
    },
    // Gaps-and-islands coverage map (Relational.dayIslands): each
    // type's above-average activity days collapse into contiguous
    // runs (day - row_number constant within a run, exact epoch-day
    // integers) with the gap before each — the backfill worklist
    // (w_gap_fill fills values inside a range; this FINDS the
    // missing ranges)
    "w_islands" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val mean = daily
        .groupBy(col("event_type"))
        .agg((sum(col("n")).cast("double") / count(lit(1))).as("mu"))
      val active = daily
        .join(mean, Seq("event_type"))
        .filter(col("n").cast("double") > col("mu"))
      Relational
        .dayIslands(active, "event_type", "day")
        .select(
          col("event_type"),
          date_format(col("island_start"), "yyyy-MM-dd").as("island_start"),
          date_format(col("island_end"), "yyyy-MM-dd").as("island_end"),
          col("n_days"),
          col("gap_before_days"))
        .orderBy(col("event_type"), col("island_start"))
    },
    // Theil-Sen robust trend per event type (Series.theilSenDaily):
    // the median of pairwise daily-count slopes in exact micro-units
    // — one scraper-burst day flips an OLS trend, the median slope
    // shrugs. Pairwise is quadratic over the DAILY table only (30
    // days -> <=435 pairs per key), never the raw stream.
    "w_theilsen" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      Series
        .theilSenDaily(daily, "event_type", "day", "n")
        .orderBy(col("event_type"))
    },
    // Cochran-Armitage dose-response trend (Experiments
    // .cochranArmitage): does the high-value event rate trend across
    // the five calendar weeks (dose = week index)? One degree of
    // freedom spent on the LINEAR trend the unordered chi2 wastes.
    "a_ca_trend" -> { (s, dir) =>
      Experiments.cochranArmitage(
        t(s, dir, "events").filter(col("ts").isNotNull && col("value").isNotNull),
        lit(1L) +
          expr("CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') div 7 AS BIGINT)"),
        (col("value") > 50.0).cast("long"))
    },
    // Lead-lag cross-correlation (Series.crossCorrDaily): does the
    // click series LEAD the purchase series, and by how many days —
    // the causal-latency instrument the per-series ACF can't see.
    // Exact integer numerators/denominators; one IEEE sqrt+division
    // per lag, micro-rounded.
    "w_lead_lag" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      def daily(et: String) = ev
        .filter(col("event_type") === et)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      Series
        .crossCorrDaily(daily("click"), daily("purchase"), "day", "n", 7)
        .orderBy(col("lag"))
    },
    // Fano burstiness index (Series.fanoDaily): variance/mean of the
    // per-type daily volume in exact micro-units — organic Poisson
    // arrivals score ~1e6, a bursty scraper spikes above, a
    // rate-limited bot pins below (too regular); the dispersion gate
    // beside the volume z-test
    "w_fano" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      Series
        .fanoDaily(daily, "event_type", "day", "n")
        .orderBy(col("event_type"))
    },
    // Mann-Kendall trend significance (Series.mannKendallDaily): is
    // the per-type daily volume actually trending, or is the
    // Theil-Sen slope one outlier's doing — exact integer S and
    // micro-unit Kendall tau over the same bounded day grid
    "w_mann_kendall" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      Series
        .mannKendallDaily(daily, "event_type", "day", "n")
        .orderBy(col("event_type"))
    },
    // Sliding-window distinct via mergeable HLL registers — the
    // weekly-active-users shape at 100 TB: persist ONE 2^p-row
    // register table per day, and any trailing window's distinct
    // count is a register MAX-merge over that window's sketches — no
    // event rescan, no per-window count-distinct shuffle over the
    // stream. The exact trailing count is published beside the
    // estimate at test scale (it is precisely the computation the
    // sketch exists to avoid at 100 TB). Day-grid joins are
    // bounded-broadcast (the documented class).
    "a_hll_window" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(to_date(col("ts")).as("d"), col("user_id"))
      val daily = Sketches.hllRegisters(ev, Seq(col("d")), col("user_id"), 10)
      val days = daily.select(col("d").as("day")).distinct()
      val merged = days
        .join(daily, expr("datediff(day, d) BETWEEN 0 AND 6"))
        .groupBy(col("day"), col("bucket"))
        .agg(max(col("r")).as("r"))
      val exact = days
        .join(ev, expr("datediff(day, d) BETWEEN 0 AND 6"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      Sketches
        .hllEstimate(merged, 10, Seq(col("day")))
        .join(exact, "day")
        .select(
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_exact"),
          col("n_occupied"),
          col("hll_est"))
        .orderBy(col("day"))
    },
    // Pseudo-relevance feedback retrieval (Rocchio 1971 / RM-style
    // expansion): BM25 pass 1 -> top-5 feedback docs -> their top-3
    // co-occurring terms (count desc, term asc; query terms and the
    // shared stopword constants excluded) join the query -> BM25
    // pass 2 over the expanded term set. Everything stays
    // distributed: the feedback terms are a 3-row frame flowing into
    // bm25PerQuery's query-table side, never a driver loop.
    "r_prf_expand" -> { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents")
      val qTerms = Seq("data", "join")
      val q0 = qTerms.map(t0 => (0L, t0)).toDF("qid", "term")
      val top5 = TextAnalysis
        .bm25PerQuery(docs, "text", "doc_id", q0)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(5)
      val excluded = qTerms ++ SparkEntry.qualityStops
      val fb = docs
        .join(top5.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .select(explode(TextFns.tokens(col("text"))).as("term"))
        .filter(length(col("term")) > 0 && !col("term").isin(excluded: _*))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term"))
        .limit(3)
      val expanded = fb.select(lit(0L).as("qid"), col("term")).unionByName(q0)
      TextAnalysis
        .bm25PerQuery(docs, "text", "doc_id", expanded)
        .select(col("doc_id"), col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10)
    },
    // Forecast-accuracy panel (Series.seasonalNaiveEval, Hyndman &
    // Koehler 2006): WAPE/sMAPE/MASE of the season-7 naive forecast
    // over the last-14-day holdout of the daily revenue series —
    // MASE's denominator is the TRAIN-side seasonal-naive MAE, so
    // any model shipped later is judged on this same exact-integer
    // scale.
    "w_forecast_eval" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100.0, 0).cast("long")).as("y"))
      Series.seasonalNaiveEval(daily, "day", "y", season = 7, holdout = 14)
    },
    // Day-of-week seasonal decomposition (Series.seasonalIndexDow):
    // per-dow index in exact micro-units off the daily count table —
    // the weekly-shape complement of the CUSUM level monitor and the
    // volume gate's z-test (divide a day by its index to
    // deseasonalize before anomaly logic)
    "w_seasonal" -> { (s, dir) =>
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      Series.seasonalIndexDow(daily, "day", "n").orderBy(col("dow"))
    },
    // k-anonymity audit (Checks.kAnonymity, Sweeney 2002): groups of
    // the quasi-identifier combo (segment, nation, $1000 balance
    // bin) holding fewer than k=5 records — the re-identification
    // worklist a privacy-preserving training-data export suppresses
    // or generalizes before release. Balance bins via the integer-
    // cent round-parity idiom.
    "dq_k_anon" -> { (s, dir) =>
      val c = t(s, dir, "customer")
        .withColumn("bal_bin", expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000"))
      Checks
        .kAnonymity(c, Seq(col("c_mktsegment"), col("c_nationkey"), col("bal_bin")), 5L)
        .orderBy(col("c_mktsegment"), col("c_nationkey"), col("bal_bin"))
    },
    // the release-risk rollup of the same audit: group counts, rows
    // at risk, suppression fraction in exact ppm
    "dq_k_anon_stats" -> { (s, dir) =>
      val c = t(s, dir, "customer")
        .withColumn("bal_bin", expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000"))
      Checks
        .kAnonymityStats(c, Seq(col("c_mktsegment"), col("c_nationkey"), col("bal_bin")), 5L)
    },
    // Field-level survivorship over the same ER clusters
    // (Relational.goldenRecord): each field survives by its own rule
    // — name by longest ("most complete"), phone by highest seq
    // among non-nulls ("most recent wins"; the typo twin carries seq
    // 2 with phone present only for even ids), balance by max. Ties
    // to the smallest id, every argmax two primitive hash-aggs + an
    // id join-back (string values never enter an aggregate — the
    // SortAggregate trap).
    "er_survivorship" -> { (s, dir) =>
      val canon = t(s, dir, "customer").select(
        col("c_custkey").as("id"),
        col("c_name").as("name"),
        // the synthetic customer table has no phone column; derive a
        // deterministic one so the recency rule has a field to fight
        concat(lit("P-"), col("c_custkey")).as("phone"),
        col("c_acctbal").as("bal"),
        lit(1L).as("seq"))
      val twin = canon.select(
        (col("id") + 1000000L).as("id"),
        concat(substring(col("name"), 1, 5), substring(col("name"), 7, 100)).as("name"),
        when(col("id") % 2 === 0, concat(col("phone"), lit("9")))
          .otherwise(lit(null).cast("string")).as("phone"),
        (col("bal") + 10.0).as("bal"),
        lit(2L).as("seq"))
      val all = canon.unionByName(twin)
        .withColumn("blk", substring(col("name"), -4, 4))
      val a = all.select(col("id").as("id_a"), col("name").as("name_a"), col("blk"))
      val b = all.select(col("id").as("id_b"), col("name").as("name_b"), col("blk"))
      val pairs = a.join(b, Seq("blk"))
        .filter(col("id_a") < col("id_b"))
        .filter(levenshtein(col("name_a"), col("name_b")) <= 2)
        .select(col("id_a"), col("id_b"))
      val labels = Dedup.clusterPairs(pairs).withColumnRenamed("cluster_id", "__cluster")
      val members = all.drop("blk")
        .join(labels, Seq("id"), "left")
        .withColumn("cluster_id", coalesce(col("__cluster"), col("id")))
        .drop("__cluster")
      Relational
        .goldenRecord(
          members, "id", "cluster_id", "seq",
          longestCols = Seq("name"), recentCols = Seq("phone"), maxCols = Seq("bal"))
        .orderBy(col("cluster_id"))
    },
    // Blocking-quality audit (Christen's blocking metrics): reduction
    // ratio (how many of the N² pairs the block key spares us) and
    // pair completeness (how many TRUE matches share a block — a
    // truth pair split across blocks is unfindable no matter how good
    // the matcher). The fixture plants two typo classes: char-6
    // deletions keep the last-4 block key (caught), while every 3rd
    // twin mutates INSIDE the key (structurally missed) — so
    // completeness lands at ~2/3 and the metric demonstrably catches
    // blocking misses, not just blesses the scheme. No pair
    // enumeration: candidate counts fold from block sizes.
    "er_blocking_quality" -> { (s, dir) =>
      val canon = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val typoName = when(
        col("id") % 3 === 0,
        // drop the second-to-last char: the block key shifts
        concat(
          col("name").substr(lit(1), length(col("name")) - 2),
          col("name").substr(length(col("name")), lit(1))))
        .otherwise(
          concat(substring(col("name"), 1, 5), substring(col("name"), 7, 100)))
      val typo = canon.select((col("id") + 1000000L).as("id"), typoName.as("name"))
      val all = canon.unionByName(typo).withColumn("blk", substring(col("name"), -4, 4))
      val cand = all
        .groupBy(col("blk"))
        .agg(count(lit(1)).as("sz"))
        .agg(expr("CAST(sum(sz * (sz - 1)) div 2 AS BIGINT)").as("n_cand_pairs"))
      val truth = canon
        .select(col("id"), substring(col("name"), -4, 4).as("blk_a"))
        .join(
          typo.select(
            (col("id") - 1000000L).as("id"),
            substring(col("name"), -4, 4).as("blk_b")),
          "id")
        .agg(
          count(lit(1)).as("n_truth"),
          sum(when(col("blk_a") === col("blk_b"), 1L).otherwise(0L))
            .as("n_truth_blocked"))
      all
        .agg(count(lit(1)).as("n_records"))
        .crossJoin(broadcast(cand))
        .crossJoin(broadcast(truth))
        .select(
          col("n_records"),
          expr("CAST(CAST(n_records AS DECIMAL(38,0)) * (n_records - 1) div 2 AS BIGINT)")
            .as("n_total_pairs"),
          col("n_cand_pairs"),
          expr("CAST(CAST(1000000 AS DECIMAL(38,0)) " +
            "* (CAST(n_records AS DECIMAL(38,0)) * (n_records - 1) div 2 - n_cand_pairs) " +
            "div (CAST(n_records AS DECIMAL(38,0)) * (n_records - 1) div 2) AS BIGINT)")
            .as("rr_ppm"),
          col("n_truth"),
          col("n_truth_blocked"),
          expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * n_truth_blocked div n_truth AS BIGINT)")
            .as("completeness_ppm"))
    },
    // Pairwise clustering evaluation over the same ER run: precision/
    // recall/F1 against the fixture's ground truth (the typo twin is
    // id + 1e6, so the truth pair set is exactly (id, id+1e6)). NO
    // pair enumeration anywhere: |P| folds from cluster sizes
    // (Σ sz·(sz−1)/2, exact integer), TP joins each record's label to
    // its twin's, and pairwise F1 = 2·TP/(|P|+|T|) — every ratio a
    // division of identical integers on both engines. The eval loop
    // every production ER/dedup pipeline runs after threshold changes.
    "er_metrics" -> { (s, dir) =>
      val canon = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val typo = canon.select(
        (col("id") + 1000000L).as("id"),
        concat(substring(col("name"), 1, 5), substring(col("name"), 7, 100)).as("name"))
      val all = canon.unionByName(typo)
        .withColumn("blk", substring(col("name"), -4, 4))
      val a = all.select(col("id").as("id_a"), col("name").as("name_a"), col("blk"))
      val b = all.select(col("id").as("id_b"), col("name").as("name_b"), col("blk"))
      val pairs = a.join(b, Seq("blk"))
        .filter(col("id_a") < col("id_b"))
        .filter(levenshtein(col("name_a"), col("name_b")) <= 2)
        .select(col("id_a"), col("id_b"))
      val labels = Dedup.clusterPairs(pairs)
        .withColumnRenamed("cluster_id", "__cluster")
      val members = all
        .join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("__cluster"), col("id")).as("cluster_id"))
        .localCheckpoint() // one closure feeds sizes + the twin join
      val pPairs = members
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("sz"))
        .agg(expr("CAST(sum(sz * (sz - 1)) div 2 AS BIGINT)").as("n_pred_pairs"))
      val tp = members
        .select(col("id").as("cid"), col("cluster_id").as("cl_a"))
        .join(
          members.select(
            (col("id") - 1000000L).as("cid"),
            col("cluster_id").as("cl_b")),
          "cid")
        .filter(col("cl_a") === col("cl_b"))
        .agg(count(lit(1)).as("n_tp"))
      val tPairs = canon.agg(count(lit(1)).as("n_true_pairs"))
      pPairs
        .crossJoin(broadcast(tp))
        .crossJoin(broadcast(tPairs))
        .select(
          col("n_pred_pairs"),
          col("n_true_pairs"),
          col("n_tp"),
          when(col("n_pred_pairs") === 0, lit(0.0))
            .otherwise(col("n_tp").cast("double") / col("n_pred_pairs").cast("double"))
            .as("prec"),
          when(col("n_true_pairs") === 0, lit(0.0))
            .otherwise(col("n_tp").cast("double") / col("n_true_pairs").cast("double"))
            .as("rec"),
          when(col("n_pred_pairs") + col("n_true_pairs") === 0, lit(0.0))
            .otherwise(
              (col("n_tp") * 2).cast("double") /
                (col("n_pred_pairs") + col("n_true_pairs")).cast("double"))
            .as("f1"))
    },
    // ER golden records off the PERSISTED dup-graph artifact — the
    // fuzzy-pair pipeline (blocking + levenshtein) and its closure run
    // once into Io.writeDupGraph; the golden-record assembly consumes
    // the loaded labels. Proves the artifact seam is id-type-generic
    // (entity keys here, doc ids in the dd_* twins). Same oracle as
    // er_golden.
    "er_golden_persisted" -> { (s, dir) =>
      val canon = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val typo = canon.select(
        (col("id") + 1000000L).as("id"),
        concat(substring(col("name"), 1, 5), substring(col("name"), 7, 100)).as("name"))
      val all = canon.unionByName(typo)
        .withColumn("blk", substring(col("name"), -4, 4))
      val a = all.select(col("id").as("id_a"), col("name").as("name_a"), col("blk"))
      val b = all.select(col("id").as("id_b"), col("name").as("name_b"), col("blk"))
      val pairs = a.join(b, Seq("blk"))
        .filter(col("id_a") < col("id_b"))
        .filter(levenshtein(col("name_a"), col("name_b")) <= 2)
        .select(col("id_a"), col("id_b"))
      val gPath = s"/tmp/graft_idx/dupg_er_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.sources.Io.writeDupGraph(pairs, gPath)
      val labels = graft.sources.Io.readDupGraphLabels(s, gPath)
        .withColumnRenamed("cluster_id", "__cluster")
      // referenced by the size rollup AND the canonical-name lookup —
      // materialize once or the union+label join re-runs per reference
      val members = graft.operators.Checkpointing.truncate(
        all
          .join(labels, Seq("id"), "left")
          .select(
            col("id"),
            col("name"),
            coalesce(col("__cluster"), col("id")).as("cluster_id")),
        None, eager = true)
      members
        .groupBy(col("cluster_id"))
        .agg(min(col("id")).as("__min_id"), count(lit(1)).as("n_members"))
        .join(
          members.select(col("id").as("__min_id"), col("name").as("canonical_name")),
          "__min_id")
        .select(col("cluster_id"), col("canonical_name"), col("n_members"))
        .orderBy(col("cluster_id"))
    },
    // PQ top-k: ADC lookup-table scan + exact re-rank of the shortlist
    "v_pq_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val full = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val query = emb
        .filter(col("vec_id") === 0)
        .collect()
        .head
        .getAs[scala.collection.Seq[Float]]("embedding")
        .map(_.toDouble)
        .toArray
      val subDim = 8
      val centroids = (0 until 8).map(s => full.toSeq.map(_.slice(s * subDim, (s + 1) * subDim)))
      val encoded = Similarity.pqEncode(emb.filter(col("vec_id") =!= 0), "embedding", subDim, centroids)
      Similarity
        .pqTopK(encoded, "embedding", centroids, query, subDim, 50, 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // PQ codebook quality (the v_ivf_quality symmetry): each
    // subspace's 4-code partition graded by Calinski–Harabasz over
    // the SUBVECTOR geometry it quantizes — the per-subspace refit
    // signal for the OTHER index family (a low-CH subspace is a
    // codebook whose cells don't explain its slice of the embedding
    // space; quantization error concentrates exactly there).
    "v_pq_quality" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val full = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val subDim = 8
      val centroids = (0 until 8).map(sp => full.toSeq.map(_.slice(sp * subDim, (sp + 1) * subDim)))
      val encoded = Similarity
        .pqEncode(emb.filter(col("vec_id") =!= 0), "embedding", subDim, centroids)
      Similarity
        .pqSubspaceGrades(encoded, "embedding", subDim, 8)
        .orderBy(col("subspace"))
    },
    // The RESIDUAL codebooks graded (Similarity
    // .pqSubspaceGradesResidual) — the T258 symmetry of v_pq_quality:
    // the clusters under judgment are residual codes over residual
    // subvectors (x − c_cell rebuilt in-plan; the encode drops it),
    // so a residual codebook that stopped describing what the coarse
    // quantizer misses shows up as a low per-subspace CH — the number
    // that would queue the T253 refit for the residual generation.
    // Oracle replays assign → residual → residual-code argmax →
    // milli-quantized CH moments per subspace.
    "v_pq_quality_residual" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val full = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val donors = emb
        .filter(col("vec_id").between(5, 8))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val subDim = 8
      val cents = full.toSeq
      val donorRes = donors.map { v =>
        val cell = cents.zipWithIndex
          .map { case (c, i) => (Similarity.cosine(v, c), i) }
          .maxBy { case (sim, i) => (sim, i) }
          ._2
        v.zip(cents(cell)).map { case (x, y) => x - y }
      }
      val books = (0 until 8).map(sp =>
        donorRes.toSeq.map(_.slice(sp * subDim, (sp + 1) * subDim)))
      val encoded = Similarity.pqEncodeResidual(
        Similarity.ivfAssign(emb.filter(col("vec_id") =!= 0), "embedding", cents),
        "embedding", subDim, cents, books)
      Similarity
        .pqSubspaceGradesResidual(encoded, "embedding", subDim, cents, 8)
        .orderBy(col("subspace"))
    },
    // The refit WORKLIST the v_pq_quality grade feeds (Similarity
    // .pqRefitWorklist — the v_ivf_refit symmetry for the PQ family):
    // the frozen-codebook rule makes a codebook refit a REBUILD of
    // that subspace's whole code column, so the maintenance loop
    // processes ONE subspace per cycle, worst-first — the worklist is
    // the argmin-CH subspace (ties to the smaller id).
    "v_pq_refit" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val full = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val subDim = 8
      val centroids = (0 until 8).map(sp => full.toSeq.map(_.slice(sp * subDim, (sp + 1) * subDim)))
      val encoded = Similarity
        .pqEncode(emb.filter(col("vec_id") =!= 0), "embedding", subDim, centroids)
      Similarity.pqRefitWorklist(
        Similarity.pqSubspaceGrades(encoded, "embedding", subDim, 8))
    },
    // The ACTION on v_pq_refit's worklist — the T248 lifecycle loop
    // executed for the SECOND index family: grade all 8 subspaces,
    // pick the argmin-CH one, re-center its 4 codes on exact
    // milli-means of their assigned subvectors (Similarity
    // .pqRefittedSubCodebook — empty codes keep their centroid),
    // REBUILD that subspace's code column against the new codebook
    // (pqReencodeSubspace — the frozen-codebook rule: a codebook
    // change is a new index generation, never an increment), and
    // re-grade. Output: per subspace (ch6_before, ch6_after, refit) —
    // the refit row must show ch6 rising. The oracle replays the
    // whole loop: 8 before-chains, SQL argmin, 8 conditional
    // after-chains.
    "v_pq_refit_apply" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val full = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val subDim = 8
      val books = (0 until 8).map(sp => full.toSeq.map(_.slice(sp * subDim, (sp + 1) * subDim)))
      val encoded = Similarity
        .pqEncode(emb.filter(col("vec_id") =!= 0), "embedding", subDim, books)
      val grades = Similarity
        .pqSubspaceGrades(encoded, "embedding", subDim, 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // 1-row bounded bootstrap: the worklist IS the loop's control
      // decision (the ivfRecenteredCentroids collect class)
      val sp = Similarity.pqRefitWorklist(grades)
        .collect().head.getLong(0).toInt
      val newSub = Similarity
        .pqRefittedSubCodebook(encoded, "embedding", subDim, sp, books(sp))
      val reencoded = Similarity
        .pqReencodeSubspace(encoded, "embedding", subDim, sp, newSub)
      val after = Similarity
        .calinskiHarabasz(
          reencoded.withColumn(
            "__sub",
            slice(col("embedding").cast("array<double>"), sp * subDim + 1, subDim)),
          s"pq_$sp",
          "__sub")
        .select(lit(sp.toLong).as("subspace"), col("ch6").as("__after"))
      grades
        .join(broadcast(after), Seq("subspace"), "left")
        .select(
          col("subspace"), col("n"), col("k"), col("dim"),
          col("ch6").as("ch6_before"),
          coalesce(col("__after"), col("ch6")).as("ch6_after"),
          col("__after").isNotNull.as("refit"))
        .orderBy(col("subspace"))
    },
    // IVF-PQ hybrid top-k (Similarity.ivfPqTopK — the IVFADC layout):
    // the coarse quantizer routes the query to its 2 nearest cells,
    // the scan inside them ranks by the PQ lookup tables (byte codes,
    // never vectors), the 50-row shortlist re-ranks exact. The two
    // index families composed: cell routing cuts candidates, code
    // scan cuts bytes per candidate, and the cuts multiply — the
    // billion-vector shape.
    "v_ivfpq_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val full = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val query = emb
        .filter(col("vec_id") === 0)
        .collect()
        .head
        .getAs[scala.collection.Seq[Float]]("embedding")
        .map(_.toDouble)
        .toArray
      val subDim = 8
      val cents = full.toSeq
      val books = (0 until 8).map(sp => full.toSeq.map(_.slice(sp * subDim, (sp + 1) * subDim)))
      val encoded = Similarity.pqEncode(
        Similarity.ivfAssign(emb.filter(col("vec_id") =!= 0), "embedding", cents),
        "embedding", subDim, books)
      Similarity
        .ivfPqTopK(encoded, "embedding", cents, books, query, subDim,
          nprobe = 2, shortlist = 50, k = 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // The hybrid served from the PERSISTED artifacts: the coarse
    // centroids land in the IVF index family, the cell-tagged codes
    // land in the PQ index family (pqEncode keeps every column, so
    // the code rows carry `cell`), and the query loads both and runs
    // the IVFADC scan without re-assigning or re-encoding anything —
    // v_ivfpq_topk's oracle shared verbatim (artifact round-trips are
    // result-identity, the v_pq_persisted rule).
    "v_ivfpq_persisted" -> { (s, dir) =>
      val (_, query, _) = ivfFixture(s, dir)
      val subDim = 8
      // read-only consumer of the SHARED clean stamp-0 base pair
      val (ivfPath, pqPath) = ivfPqBase(s, dir, "clean")
      val (loadedCents, _) = graft.sources.Io.readIvfIndex(s, ivfPath)
      val (loadedBooks, codes) = graft.sources.Io.readPqIndex(s, pqPath)
      Similarity
        .ivfPqTopK(codes, "embedding", loadedCents, loadedBooks, query, subDim,
          nprobe = 2, shortlist = 50, k = 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // The composed index's MUTATION path — upsertPqIndex on the
    // CELL-TAGGED code rows: the base build lands every 5th vector
    // STALE (reversed embedding — assigned AND encoded as such), the
    // seq-1 upsert re-assigns + re-encodes the true versions against
    // the FROZEN coarse centroids and codebooks, and last-wins on the
    // code row carries the `cell` column with it — a vector that
    // MOVES across coarse cells on correction needs no separate
    // cell-tombstone machinery, because the cell lives in the same
    // row the id resolution replaces. Converged read must equal the
    // plain hybrid, so v_ivfpq_topk's oracle is shared — a broken
    // composed last-wins would rank reversed vectors (or probe the
    // stale cell) and hash-mismatch.
    "v_ivfpq_upsert" -> { (s, dir) =>
      val (cents, query, corpus) = ivfFixture(s, dir)
      val (books, _, _) = pqFixture(s, dir)
      val subDim = 8
      // coarse side is never mutated — read the SHARED stale base in
      // place; the code side is copied before the upserts land
      val (ivfPath, basePq) = ivfPqBase(s, dir, "stale")
      val pqPath = s"/tmp/graft_idx/ivfpq_up_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      copyTree(basePq, pqPath)
      graft.sources.Io.upsertPqIndex(
        Similarity.pqEncode(
          Similarity.ivfAssign(corpus.filter(col("vec_id") % 5 === 0), "embedding", cents),
          "embedding", subDim, books),
        pqPath,
        seq = 1L)
      val (loadedCents, _) = graft.sources.Io.readIvfIndex(s, ivfPath)
      val (loadedBooks, latest) = graft.sources.Io.readPqIndexLatest(s, pqPath, "vec_id")
      Similarity
        .ivfPqTopK(latest, "embedding", loadedCents, loadedBooks, query, subDim,
          nprobe = 2, shortlist = 50, k = 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // Composed-index TIME TRAVEL: the same stale-base + corrected-
    // upsert history as v_ivfpq_upsert, read AS OF 0 — the pre-upsert
    // hybrid, whose coarse cells, codes AND re-rank vectors are all
    // the stale (reversed) ones. The oracle probes and ranks the same
    // stale corpus view (the v_pq_asof discipline, composed).
    "v_ivfpq_asof" -> { (s, dir) =>
      val (cents, query, corpus) = ivfFixture(s, dir)
      val (books, _, _) = pqFixture(s, dir)
      val subDim = 8
      val (ivfPath, basePq) = ivfPqBase(s, dir, "stale")
      val pqPath = s"/tmp/graft_idx/ivfpq_ap_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      copyTree(basePq, pqPath)
      graft.sources.Io.upsertPqIndex(
        Similarity.pqEncode(
          Similarity.ivfAssign(corpus.filter(col("vec_id") % 5 === 0), "embedding", cents),
          "embedding", subDim, books),
        pqPath,
        seq = 1L)
      val (loadedCents, _) = graft.sources.Io.readIvfIndex(s, ivfPath)
      val (loadedBooks, asOf0) = graft.sources.Io.readPqIndexAsOf(s, pqPath, "vec_id", 0L)
      Similarity
        .ivfPqTopK(asOf0, "embedding", loadedCents, loadedBooks, query, subDim,
          nprobe = 2, shortlist = 50, k = 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // Composed-index takedown + COMPACTION: %7 ids tombstone at seq 1,
    // the %14 subset re-upserts at seq 2 (delete-then-reupsert
    // restores, purely by stamp order), compaction physically purges
    // the unservable rows and collapses history to one generation —
    // the hybrid over the compacted read must equal the hybrid over
    // the corpus minus the net-deleted ids (the v_pq_compacted rule
    // on the cell-tagged layout: the purge drops the cell row and the
    // code row TOGETHER, because they are the same row).
    "v_ivfpq_compacted" -> { (s, dir) =>
      val (cents, query, corpus) = ivfFixture(s, dir)
      val (books, _, _) = pqFixture(s, dir)
      val subDim = 8
      val (ivfPath, basePq) = ivfPqBase(s, dir, "clean")
      val pqPath = s"/tmp/graft_idx/ivfpq_cp_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      copyTree(basePq, pqPath)
      graft.sources.Io.deletePqIds(
        corpus.filter(col("vec_id") % 7 === 0).select(col("vec_id")), pqPath, seq = 1L)
      graft.sources.Io.upsertPqIndex(
        Similarity.pqEncode(
          Similarity.ivfAssign(corpus.filter(col("vec_id") % 14 === 0), "embedding", cents),
          "embedding", subDim, books),
        pqPath,
        seq = 2L)
      graft.sources.Io.compactPqIndex(s, pqPath, "vec_id")
      val (loadedCents, _) = graft.sources.Io.readIvfIndex(s, ivfPath)
      val (loadedBooks, codes) = graft.sources.Io.readPqIndex(s, pqPath)
      Similarity
        .ivfPqTopK(codes, "embedding", loadedCents, loadedBooks, query, subDim,
          nprobe = 2, shortlist = 50, k = 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // BATCHED IVFADC serving (Similarity.ivfPqTopKBatch) — the whole
    // query TABLE (every 125th vector) routed, ADC-scored and exactly
    // re-ranked in ONE plan: per-query probe routing and ADC lookup
    // tables collapse to Q·nprobe broadcast rows (a 32-entry array
    // each), the corpus never shuffles (broadcast hash join on
    // cell), and only the candidate set moves by qid for the
    // shortlist/re-rank windows (all qid-partitioned — no single-task
    // window). The index side reuses the standard vec-1..4 bootstrap;
    // the QUERY side is collect-free — no query vector ever becomes a
    // plan literal, which is what makes the nightly 100k-query eval
    // batch one job instead of 100k compiled plans. Oracle replays
    // the full per-qid chain (probe ties to the smaller cell, the
    // left-to-right ADC sum, both tie-broken windows); AnnRecallSpec
    // pins 1-query-batch ≡ single-query-hybrid row for row.
    "v_ivfpq_batch" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val full = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val subDim = 8
      val cents = full.toSeq
      val books = (0 until 8).map(sp => full.toSeq.map(_.slice(sp * subDim, (sp + 1) * subDim)))
      val encoded = Similarity.pqEncode(
        Similarity.ivfAssign(emb.filter(col("vec_id") =!= 0), "embedding", cents),
        "embedding", subDim, books)
      // index-side frames, in-plan: vecs 1-4 ARE cells 0-3, so the
      // cell id is vec_id - 1 (no window, no collect)
      val centsDf = emb
        .filter(col("vec_id").between(1, 4))
        .select(
          (col("vec_id") - 1).cast("int").as("cell"),
          col("embedding").cast("array<double>").as("ce"))
      val cbDf = centsDf
        .select(
          col("cell").as("code"), col("ce"),
          explode(array((0 until 8).map(lit): _*)).as("s"))
        .select(col("s"), col("code"), slice(col("ce"), col("s") * subDim + 1, lit(subDim)).as("be"))
      val queries = emb
        .filter(col("vec_id") % 125 === 0 && col("vec_id") =!= 0)
        .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qe"))
      Similarity
        .ivfPqTopKBatch(encoded, "embedding", centsDf, cbDf, queries, subDim,
          nSub = 8, codeCount = 4, nprobe = 2, shortlist = 50, k = 10)
        .select(col("qid"), col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // T258 ∘ T260: BATCHED serving of the RESIDUAL hybrid — the
    // composition's only new term (the per-cell constant dot(q, c))
    // rides the probe rows for free: candidates join probes ON cell,
    // so the probed row's constant IS the candidate's. The residual
    // CODEBOOK side is fully in-plan here (donor vecs 5-8 assigned by
    // a vec_id-partitioned window, residuals by zip_with, the
    // codebook exploded per subspace) — no donor collect on the query
    // path; the index-build side keeps the standard bootstrap. Oracle
    // = the residual chain per qid (probe ties to the smaller cell,
    // constant-first left-to-right sum, tie-broken windows).
    "v_ivfpq_batch_residual" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val full = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val donors = emb
        .filter(col("vec_id").between(5, 8))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val subDim = 8
      val cents = full.toSeq
      val donorRes = donors.map { v =>
        val cell = cents.zipWithIndex
          .map { case (c, i) => (Similarity.cosine(v, c), i) }
          .maxBy { case (sim, i) => (sim, i) }
          ._2
        v.zip(cents(cell)).map { case (x, y) => x - y }
      }
      val books = (0 until 8).map(sp =>
        donorRes.toSeq.map(_.slice(sp * subDim, (sp + 1) * subDim)))
      val encoded = Similarity.pqEncodeResidual(
        Similarity.ivfAssign(emb.filter(col("vec_id") =!= 0), "embedding", cents),
        "embedding", subDim, cents, books)
      val centsDf = emb
        .filter(col("vec_id").between(1, 4))
        .select(
          (col("vec_id") - 1).cast("int").as("cell"),
          col("embedding").cast("array<double>").as("ce"))
      // residual codebooks IN-PLAN: donors 5-8 assigned to their cell
      // (ties to the larger cell — the iassign convention), residual
      // by zip_with, one row per (s, code)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"))
        .orderBy(col("__sim").desc, col("cell").desc)
      val cbDf = emb
        .filter(col("vec_id").between(5, 8))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("de"))
        .crossJoin(broadcast(centsDf))
        .withColumn("__sim", graft.functions.VectorFns.cosine(col("de"), col("ce")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(
          (col("vec_id") - 5).cast("int").as("code"),
          zip_with(col("de"), col("ce"), (x, y) => x - y).as("r"))
        .select(
          col("code"), col("r"),
          explode(array((0 until 8).map(lit): _*)).as("s"))
        .select(col("s"), col("code"), slice(col("r"), col("s") * subDim + 1, lit(subDim)).as("be"))
      val queries = emb
        .filter(col("vec_id") % 125 === 0 && col("vec_id") =!= 0)
        .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qe"))
      Similarity
        .ivfPqTopKBatchResidual(encoded, "embedding", centsDf, cbDf, queries, subDim,
          nSub = 8, codeCount = 4, nprobe = 2, shortlist = 50, k = 10)
        .select(col("qid"), col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // BATCHED serving straight off the PERSISTED index artifacts —
    // the T260 operator fed by the parquet the index build already
    // landed: coarse centroids via Io.readIvfCentroidFrame and
    // codebooks via Io.readPqCodebookFrame arrive as FRAMES (the
    // batch operator's native shape), so the production path is
    // literal-free END-TO-END — build collects nothing at serve
    // time, the nightly query table joins the artifact's own
    // centroid/codebook rows in-plan, and the corpus codes never
    // shuffle (broadcast hash join on cell, the T260 contract). The
    // in-plan frame derivation v_ivfpq_batch uses (cells 0-3 ARE
    // vecs 1-4) is a fixture convenience; THIS is the shape a 100 TB
    // deployment runs, where centroids come from a trained index,
    // not from arithmetic on vec ids. Oracle shared verbatim with
    // v_ivfpq_batch — the artifact round-trip must be
    // result-identity.
    "v_ivfpq_batch_persisted" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val subDim = 8
      // read-only consumer of the SHARED clean stamp-0 base pair
      val (ivfPath, pqPath) = ivfPqBase(s, dir, "clean")
      val centsDf = graft.sources.Io.readIvfCentroidFrame(s, ivfPath)
      val cbDf = graft.sources.Io.readPqCodebookFrame(s, pqPath)
      val (_, codes) = graft.sources.Io.readPqIndex(s, pqPath)
      val queries = emb
        .filter(col("vec_id") % 125 === 0 && col("vec_id") =!= 0)
        .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qe"))
      Similarity
        .ivfPqTopKBatch(codes, "embedding", centsDf, cbDf, queries, subDim,
          nSub = 8, codeCount = 4, nprobe = 2, shortlist = 50, k = 10)
        .select(col("qid"), col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // Residual-encoding IVFADC (Similarity.pqEncodeResidual +
    // ivfPqResidualTopK) — the encoding Jégou-Douze-Schmid actually
    // ship: codes quantize x − c_cell, not x, so the byte budget
    // describes only what the coarse quantizer missed, and the
    // approximate inner product DECOMPOSES exactly as
    // dot(q, c_cell) + Σ_s dot(q_s, book_s[code_s]) — one per-cell
    // constant lookup on top of the same 8 table lookups, no vector
    // math on the scan. Residual codebooks derive from vecs 5–8's
    // residuals w.r.t. their ASSIGNED cells (vecs 1–4 are the coarse
    // centroids — their residuals are zero and carry no codebook
    // information; the 3-collect bootstrap is the bounded-constant
    // class: 4 centroids + 4 donors + 1 query). The oracle replays
    // the full residual chain: assign → subtract → residual-codebook
    // argmax (ties to the larger code) → decomposed ADC in the same
    // left-to-right addition order → exact re-rank.
    "v_ivfpq_residual" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val full = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val query = emb
        .filter(col("vec_id") === 0)
        .collect()
        .head
        .getAs[scala.collection.Seq[Float]]("embedding")
        .map(_.toDouble)
        .toArray
      val donors = emb
        .filter(col("vec_id").between(5, 8))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val subDim = 8
      val cents = full.toSeq
      // donor residuals w.r.t. their assigned cell — ties to the
      // larger cell, the ivfAssign/oracle convention
      val donorRes = donors.map { v =>
        val cell = cents.zipWithIndex
          .map { case (c, i) => (Similarity.cosine(v, c), i) }
          .maxBy { case (sim, i) => (sim, i) }
          ._2
        v.zip(cents(cell)).map { case (x, y) => x - y }
      }
      val books = (0 until 8).map(sp =>
        donorRes.toSeq.map(_.slice(sp * subDim, (sp + 1) * subDim)))
      val encoded = Similarity.pqEncodeResidual(
        Similarity.ivfAssign(emb.filter(col("vec_id") =!= 0), "embedding", cents),
        "embedding", subDim, cents, books)
      Similarity
        .ivfPqResidualTopK(encoded, "embedding", cents, books, query, subDim,
          nprobe = 2, shortlist = 50, k = 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // The residual hybrid served from the PERSISTED artifacts — the
    // v_ivfpq_persisted rule on residual codes: pqEncodeResidual's
    // rows carry the cell tag and the residual byte codes in one row,
    // so they flow through writeIvfIndex/writePqIndex UNCHANGED (the
    // residual codebooks land where the raw ones would); the query
    // loads both artifacts and serves without re-assigning,
    // re-subtracting or re-encoding anything. Residual-oracle shared
    // verbatim — artifact round-trips are result-identity.
    "v_ivfpq_residual_persisted" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val full = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val query = emb
        .filter(col("vec_id") === 0)
        .collect()
        .head
        .getAs[scala.collection.Seq[Float]]("embedding")
        .map(_.toDouble)
        .toArray
      val donors = emb
        .filter(col("vec_id").between(5, 8))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val subDim = 8
      val cents = full.toSeq
      val donorRes = donors.map { v =>
        val cell = cents.zipWithIndex
          .map { case (c, i) => (Similarity.cosine(v, c), i) }
          .maxBy { case (sim, i) => (sim, i) }
          ._2
        v.zip(cents(cell)).map { case (x, y) => x - y }
      }
      val books = (0 until 8).map(sp =>
        donorRes.toSeq.map(_.slice(sp * subDim, (sp + 1) * subDim)))
      val encoded = Similarity.pqEncodeResidual(
        Similarity.ivfAssign(emb.filter(col("vec_id") =!= 0), "embedding", cents),
        "embedding", subDim, cents, books)
      val ivfPath = s"/tmp/graft_idx/ivfpq_rc_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val pqPath = s"/tmp/graft_idx/ivfpq_rp_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.sources.Io.writeIvfIndex(encoded.select(col("vec_id"), col("cell")), cents, ivfPath)
      graft.sources.Io.writePqIndex(encoded, books, pqPath)
      val (loadedCents, _) = graft.sources.Io.readIvfIndex(s, ivfPath)
      val (loadedBooks, codes) = graft.sources.Io.readPqIndex(s, pqPath)
      Similarity
        .ivfPqResidualTopK(codes, "embedding", loadedCents, loadedBooks, query, subDim,
          nprobe = 2, shortlist = 50, k = 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // PQ top-k off the PERSISTED index: codebooks + codes written to
    // parquet once (the expensive encode is the build-time artifact),
    // the query loads and ranks without re-encoding anything — same
    // oracle as v_pq_topk, results must be identical
    "v_pq_persisted" -> { (s, dir) =>
      val (_, query, _) = pqFixture(s, dir)
      val subDim = 8
      // read-only consumer of the SHARED clean stamp-0 base
      val idxPath = pqBase(s, dir, "clean")
      val (books, codes) = graft.sources.Io.readPqIndex(s, idxPath)
      Similarity
        .pqTopK(codes, "embedding", books, query, subDim, 50, 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // Incremental PQ index maintenance — upsertIvfIndex's mirror for
    // the byte-coded layout: the base build lands every 5th vector
    // STALE (reversed embedding, encoded as such), an upsert batch at
    // seq 1 re-encodes the true versions against the FROZEN codebooks
    // and appends; last-wins read must converge to the plain table,
    // so v_pq_topk's oracle is shared — a broken last-wins would rank
    // the reversed vectors and hash-mismatch.
    "v_pq_upsert" -> { (s, dir) =>
      val (centroids, query, corpus) = pqFixture(s, dir)
      val subDim = 8
      val idxPath = s"/tmp/graft_idx/pq_up_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      // copy-on-write off the SHARED stale stamp-0 base
      copyTree(pqBase(s, dir, "stale"), idxPath)
      graft.sources.Io.upsertPqIndex(
        Similarity.pqEncode(
          corpus.filter(col("vec_id") % 5 === 0), "embedding", subDim, centroids),
        idxPath,
        seq = 1L)
      val (books, latest) = graft.sources.Io.readPqIndexLatest(s, idxPath, "vec_id")
      Similarity
        .pqTopK(latest, "embedding", books, query, subDim, 50, 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // PQ index TIME TRAVEL (Io.readPqIndexAsOf) — the fifth and last
    // artifact family gains as-of reads: same stale-base + corrected-
    // upsert history as v_pq_upsert, read AS OF 0 — the pre-upsert
    // index, whose codes AND re-rank vectors are the stale (reversed)
    // ones. Oracle probes the same stale corpus view (the v_ivf_asof
    // discipline on the byte-coded layout).
    "v_pq_asof" -> { (s, dir) =>
      val (centroids, query, corpus) = pqFixture(s, dir)
      val subDim = 8
      val idxPath = s"/tmp/graft_idx/pq_asof_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      // copy-on-write off the SHARED stale stamp-0 base
      copyTree(pqBase(s, dir, "stale"), idxPath)
      graft.sources.Io.upsertPqIndex(
        Similarity.pqEncode(
          corpus.filter(col("vec_id") % 5 === 0), "embedding", subDim, centroids),
        idxPath,
        seq = 1L)
      val (books, asOf0) = graft.sources.Io.readPqIndexAsOf(s, idxPath, "vec_id", asOfSeq = 0L)
      Similarity
        .pqTopK(asOf0, "embedding", books, query, subDim, 50, 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // Tombstone deletes on the persisted PQ index — v_ivf_delete's
    // mirror for the byte-coded layout, same delete-then-restore
    // seq semantics, oracle over the effective corpus
    "v_pq_delete" -> { (s, dir) =>
      val (centroids, query, corpus) = pqFixture(s, dir)
      val subDim = 8
      val idxPath = s"/tmp/graft_idx/pq_del_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      // copy-on-write off the SHARED clean stamp-0 base
      copyTree(pqBase(s, dir, "clean"), idxPath)
      graft.sources.Io.deletePqIds(
        corpus.filter(col("vec_id") % 7 === 0).select(col("vec_id")), idxPath, seq = 1L)
      graft.sources.Io.upsertPqIndex(
        Similarity.pqEncode(
          corpus.filter(col("vec_id") % 14 === 0), "embedding", subDim, centroids),
        idxPath,
        seq = 2L)
      val (books, latest) = graft.sources.Io.readPqIndexLatest(s, idxPath, "vec_id")
      Similarity
        .pqTopK(latest, "embedding", books, query, subDim, 50, 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // PQ compaction — v_ivf_compacted's mirror: delete+restore
    // history, compact, then the PLAIN reader serves the same top-k
    // (v_pq_delete's oracle)
    "v_pq_compacted" -> { (s, dir) =>
      val (centroids, query, corpus) = pqFixture(s, dir)
      val subDim = 8
      val idxPath = s"/tmp/graft_idx/pq_cmp_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      // copy-on-write off the SHARED clean stamp-0 base
      copyTree(pqBase(s, dir, "clean"), idxPath)
      graft.sources.Io.deletePqIds(
        corpus.filter(col("vec_id") % 7 === 0).select(col("vec_id")), idxPath, seq = 1L)
      graft.sources.Io.upsertPqIndex(
        Similarity.pqEncode(
          corpus.filter(col("vec_id") % 14 === 0), "embedding", subDim, centroids),
        idxPath,
        seq = 2L)
      graft.sources.Io.compactPqIndex(s, idxPath, "vec_id")
      val (books, codes) = graft.sources.Io.readPqIndex(s, idxPath)
      Similarity
        .pqTopK(codes, "embedding", books, query, subDim, 50, 10)
        .select(col("vec_id"), col("label"), col("approx_score"), col("score"))
    },
    // Embedding-distribution drift per label group vs the corpus
    // (Similarity.embeddingDriftByGroup): nano-quantized exact integer
    // sums, cosine of SUM vectors (scale-invariant — no division),
    // the encoder-bump / poisoned-feed early warning
    // Embedding dispersion (Similarity.embeddingDispersion): the
    // one-pass corpus-diversity readout — mean squared distance to
    // the centroid (and its pairwise twin) via the variance
    // identity, NO pairwise join; a falling value between snapshots
    // means mode collapse.
    "v_dispersion" -> { (s, dir) =>
      Similarity.embeddingDispersion(t(s, dir, "embeddings"), "embedding")
    },
    // Calinski-Harabasz variance-ratio (Similarity.calinskiHarabasz):
    // does the label column explain the embedding geometry —
    // between/within variance ratio from (label x dim) moment cells,
    // no pairwise join; grades any clustering the engine ships.
    "v_calinski" -> { (s, dir) =>
      Similarity.calinskiHarabasz(t(s, dir, "embeddings"), "label", "embedding")
    },
    // The same index grading the ANN index's OWN geometry: CH over
    // the ivfAssign cell labels — a falling score on refresh means
    // the frozen centroids no longer explain the corpus (time to
    // refit), the quantitative version of v_embed_drift's alarm.
    "v_ivf_quality" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      Similarity.calinskiHarabasz(
        Similarity.ivfAssign(emb.filter(col("vec_id") =!= 0), "embedding", cents),
        "cell",
        "embedding")
    },
    // The consumer that ACTS on v_ivf_quality's grade (Similarity
    // .ivfRefitWorklist — the i2_worklist pattern applied to index
    // maintenance): cells whose within-cell per-vector variance is
    // ≥ 0.9× the corpus total variance do no routing work and are
    // emitted as the refit worklist, worst first.
    "v_ivf_refit" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      Similarity.ivfRefitWorklist(
        Similarity.ivfAssign(emb.filter(col("vec_id") =!= 0), "embedding", cents),
        "cell",
        "embedding")
    },
    // The ACTION on v_ivf_refit's worklist (Similarity
    // .ivfRecenteredCentroids — a targeted Lloyd step): flagged cells
    // get re-centered on their assigned vectors' exact milli-mean,
    // untouched cells keep their centroids, and the refit index is
    // re-assigned and re-graded with the variance-ratio index —
    // closing the lifecycle loop grade → worklist → action →
    // re-grade. The oracle replays the whole loop in SQL.
    "v_ivf_refit_apply" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val cents = emb
        .filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id"))
        .collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val assigned = Similarity.ivfAssign(corpus, "embedding", cents)
      val newCents = Similarity.ivfRecenteredCentroids(
        assigned,
        Similarity.ivfRefitWorklist(assigned, "cell", "embedding"),
        cents,
        "cell",
        "embedding")
      Similarity.calinskiHarabasz(
        Similarity.ivfAssign(corpus, "embedding", newCents), "cell", "embedding")
    },
    "v_embed_drift" -> { (s, dir) =>
      Similarity
        .embeddingDriftByGroup(t(s, dir, "embeddings"), col("label"), "embedding")
        .orderBy(col("group"))
    },
    // Margin-based cross-source alignment (Similarity.marginAlignPairs
    // — the Artetxe & Schwenk bitext-mining ratio margin over the
    // even/odd vec_id split): each left vector's best right match,
    // kept when cosine beats the mean of both sides' 4-NN cosines by
    // 21/20 — hub vectors that are everyone's neighbor fail the
    // margin even with high raw cosine. Micro-unit integer cosines,
    // exact integer sums and an integer cross-multiplied test; the
    // published margin is one division of identical BIGINTs.
    "v_margin_pairs" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity
        .marginAlignPairs(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4, thrNum = 21L, thrDen = 20L)
        .orderBy(col("id_a"))
    },
    // Ingest-time embedding normalization (cosine -> dot at query time)
    "v_normalize" -> { (s, dir) =>
      Similarity
        .normalizeEmbeddings(t(s, dir, "embeddings"), "embedding")
        .select(
          col("vec_id"),
          col("norm"),
          element_at(col("embedding_unit"), 1).as("u0"),
          element_at(col("embedding_unit"), 2).as("u1"))
        .orderBy(col("vec_id"))
    },
    // Dup-cluster resolution: LSH/Jaccard pairs → connected components
    // → keep canonical doc per cluster (training-data dedup tail)
    "dd_cluster_resolve" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = docNgramPairs(s, dir)
      Dedup
        .resolveClusters(docs, "doc_id", pairs)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    // Canonical-doc resolution off the artifact's persisted labels
    // (Dedup.resolveClustersLabeled) — the fourth heavy consumer of
    // the build-once dup graph. Same oracle as dd_cluster_resolve.
    "dd_cluster_resolve_persisted" -> { (s, dir) =>
      // read-only consumer of the SHARED stamp-0 base
      val gPath = dupGraphBase(s, dir, "full")
      val docs = t(s, dir, "documents")
      Dedup
        .resolveClustersLabeled(
          docs, "doc_id", graft.sources.Io.readDupGraphLabels(s, gPath))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    // Cross-source duplication matrix: near-dup PAIRS bucketed by the
    // unordered source pair — the provenance audit that shows which
    // feeds copy from each other (pairs stream joins two slim
    // (id, source) projections; the matrix is |sources|² bounded)
    "dd_cross_source_dups" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      docNgramPairs(s, dir)
        .select(col("id_a"), col("id_b"))
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
        .groupBy(
          least(col("sa"), col("sb")).as("source_x"),
          greatest(col("sa"), col("sb")).as("source_y"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_x"), col("source_y"))
    },
    // Near-dup cluster-size histogram — the corpus-health metric a
    // dedup run reports (how much mass sits in how-big clusters).
    // Unpaired docs are size-1 clusters; two bounded hash aggs over
    // the label table, never the pair stream
    "dd_cluster_sizes" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val labels = Dedup.clusterPairs(
        docNgramPairs(s, dir).select(col("id_a"), col("id_b")))
      docs.select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("cluster"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz"))
    },
    // PageRank centrality over the near-dup pair graph (the Common
    // Crawl host-rank signal re-expressed over the engine's own dup
    // edges: high-rank hub documents are the boilerplate centers a
    // sampler down-weights). Exact integer fixed-point throughout —
    // see operators/Graph.scala for the recurrence and the per-
    // iteration shuffle shape.
    "g_pagerank" -> { (s, dir) =>
      val pairs = docNgramPairs(s, dir).select(col("id_a"), col("id_b"))
      Graph
        .pageRank(pairs)
        .select(col("id").as("doc_id"), col("rank_units"), col("rank"))
        .orderBy(col("doc_id"))
    },
    // Personalized PageRank (Haveliwala 2002) over the same near-dup
    // graph: teleport restarts only at the flagged seeds (doc_id %
    // 25), so rank measures CONNECTIVITY-WEIGHTED proximity to the
    // contamination set — the graded upgrade of g_taint's hop counts
    // (a doc two strong paths from a seed outranks one dangling off
    // a chain). Same exact-integer fixed-point arithmetic, same
    // one-shuffle-per-iteration shape.
    "g_ppr" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = docNgramPairs(s, dir).select(col("id_a"), col("id_b"))
      Graph
        .pageRank(
          pairs,
          seeds = Some(docs.filter(col("doc_id") % 25 === 0).select(col("doc_id"))))
        .select(col("id").as("doc_id"), col("rank_units"), col("rank"))
        .orderBy(col("doc_id"))
    },
    // Exact triangle counts + local clustering coefficient over the
    // co-purchase graph (parts sharing >= 2 orders): the standard
    // cohesion metric on a co-occurrence graph, via the degree-
    // oriented wedge join (Graph.triangleCounts — out-degree bounded
    // by sqrt(2m) under any raw-degree skew). The per-order pair
    // explode is bounded by order size (a whale basket is the df-cap
    // analog; TPC-H orders carry <= 7 parts). Triangle counts are a
    // pure graph property, so the oracle's plain id-ordered join must
    // agree exactly with the engine's degree-oriented one.
    // HITS hubs/authorities (Graph.hits, Kleinberg 1999) over the
    // DIRECTED bipartite buyer→supplier graph (customer places line
    // items with supplier): authoritative suppliers are those bought
    // from by high-hub customers, mutually recursive with customer
    // hub scores — the two-sided ranking one PageRank can't express.
    // Supplier ids mapped to -(suppkey+1) in the shared node universe
    // (the operator's documented bipartite contract — suppkey 0 exists
    // in this data, so a bare sign flip would collide with customer 0); exact integer
    // L1-normalized fixed point, 5 rounds; top-15 authorities
    // published.
    "g_hits" -> { (s, dir) =>
      val edges = t(s, dir, "lineitem")
        .join(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          col("o_custkey").as("src"),
          (-col("l_suppkey") - 1).as("dst"))
      Graph
        .hits(edges, 5)
        .filter(col("id") < 0)
        .select((-col("id") - 1).as("suppkey"), col("auth6"))
        .orderBy(col("auth6").desc, col("suppkey"))
        .limit(15)
    },
    // Degree assortativity (Graph.assortativity, Newman 2002) over
    // the part co-order graph: one number — hubs-link-hubs (+) vs
    // hubs-link-leaves (−), the structure fingerprint that flags a
    // spam/SEO-farm-shaped link graph before any ranking runs. Exact
    // integer sums, one IEEE sqrt+division micro-rounded.
    "g_assortativity" -> { (s, dir) =>
      // the memoized co-purchase build — same derivation, shared
      // across the graph family (see coPurchaseEdges)
      val edges = coPurchaseEdges(s, dir)
      Graph.assortativity(edges)
    },
    "g_triangles" -> { (s, dir) =>
      // the memoized co-purchase build — same derivation, shared
      // across the graph family (see coPurchaseEdges)
      val edges = coPurchaseEdges(s, dir)
      Graph.triangleCounts(edges)
        .select(col("id").as("part_id"), col("deg"), col("n_tri"), col("lcc"))
        .orderBy(col("part_id"))
    },
    // Contamination blast radius (Graph.bfsDistances): every doc
    // within 3 near-dup hops of a flagged seed (every 50th doc) —
    // the transitive taint a direct-overlap decontamination check
    // misses (paraphrase-of-a-paraphrase). Frontier-proportional BFS
    // rounds with visited anti-joins; seeds report dist 0.
    "g_taint" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = docNgramPairs(s, dir).select(col("id_a"), col("id_b"))
      Graph
        .bfsDistances(
          pairs, docs.filter(col("doc_id") % 50 === 0).select(col("doc_id")), 3)
        .select(col("id").as("doc_id"), col("dist"))
        .orderBy(col("doc_id"))
    },
    // k-core peeling over the same co-purchase graph (Graph.kCore, 6
    // fixed rounds at k=3): the dense-cluster detector next to
    // g_triangles' hub detector — nodes that survive repeated
    // degree-<3 peels with their residual degrees. Fixed rounds are
    // the oracle-checkable semantics (the mirror unrolls the same 6;
    // convergence makes later rounds no-ops on both engines).
    "g_kcore" -> { (s, dir) =>
      // the memoized co-purchase build — same derivation, shared
      // across the graph family (see coPurchaseEdges)
      val edges = coPurchaseEdges(s, dir)
      Graph.kCore(edges, k = 3, rounds = 6)
        .select(col("id").as("part_id"), col("deg"))
        .orderBy(col("part_id"))
    },
    // Weighted PageRank (Graph.pageRankWeighted) over the co-purchase
    // graph with co-order counts as weights: a neighbor sharing 9
    // orders pulls 9x the mass of one sharing 1 — the authority
    // signal the uniform split flattens. Exact integer per-edge
    // truncation, one 24-byte-edge shuffle per iteration.
    "g_pagerank_weighted" -> { (s, dir) =>
      // the memoized co-purchase build, weighted surface
      val edges = coPurchaseEdges(s, dir, keepW = true)
      Graph
        .pageRankWeighted(edges)
        .select(col("id").as("part_id"), col("rank_units"), col("rank"))
        .orderBy(col("part_id"))
    },
    // Community detection (Graph.labelPropagation): 4 synchronous LPA
    // rounds over the same co-purchase graph as g_kcore — min-label
    // deterministic argmax, so the oracle unrolls the identical
    // rounds; communities split the loose bridges the connected-
    // components view merges (template families inside one giant CC)
    "g_labelprop" -> { (s, dir) =>
      // the memoized co-purchase build — same derivation, shared
      // across the graph family (see coPurchaseEdges)
      val edges = coPurchaseEdges(s, dir)
      Graph.labelPropagation(edges, rounds = 4)
        .select(col("id").as("part_id"), col("community"))
        .orderBy(col("part_id"))
    },
    // Newman modularity (Graph.modularity) of the labelprop
    // partition over the same co-purchase graph: per-community
    // intra-edge share minus the degree-preserving chance share, in
    // exact micro-units — the score that says whether the clustering
    // found structure (Σ term6 ≈ 0 means it didn't).
    "g_modularity" -> { (s, dir) =>
      val edges = coPurchaseEdges(s, dir)
      Graph.modularity(edges, Graph.labelPropagation(edges, rounds = 4))
    },
    // The ACTION on g_modularity's grade (Graph.louvainBestMove —
    // the T248/T253 grade→action→re-grade discipline on the partition
    // family): across every (node, neighbor-community) pair, the
    // single strictly-best Louvain phase-1 relabel by exact integer
    // gain (ΔQ·2m² = 2m·(k_in(c) − k_in(a)) − k·(Σtot(c)+k−Σtot(a)),
    // DECIMAL-staged, ties to smaller id then smaller target), applied
    // only when positive — ONE move, not a synchronous sweep, because
    // parallel swaps can oscillate while the argmax move is MONOTONE:
    // Q after ≥ Q before by construction (GraphSpec proves both the
    // hand-fixture move and the fixed point). Output = the re-grade:
    // the per-community modularity table over the moved partition;
    // the oracle replays labelprop, every gain, the argmax and the
    // re-grade.
    "g_louvain_move" -> { (s, dir) =>
      val edges = coPurchaseEdges(s, dir)
      Graph.modularity(
        edges,
        Graph.louvainBestMove(edges, Graph.labelPropagation(edges, rounds = 4)))
    },
    // The move ITERATED — Graph.louvainMoves: 3 bounded phase-1
    // passes, each the strictly-best positive-gain relabel, so the
    // composition is monotone (Q0 <= Q1 <= Q2 <= Q3) and a mid-loop
    // fixed point absorbs (the null-best identity). Storage-wise the
    // labelprop chassis: edge frame + degree table derived once and
    // materialized, each relabel lineage-truncated (the pageRank
    // discipline) — the unrolled ORACLE replays all three argmax
    // moves CTE by CTE, so a single wrong tie-break or a stale
    // Σtot in any round hash-mismatches the final re-grade.
    "g_louvain_moves" -> { (s, dir) =>
      val edges = coPurchaseEdges(s, dir)
      Graph.modularity(
        edges,
        Graph.louvainMoves(edges, Graph.labelPropagation(edges, rounds = 4), moves = 3))
    },
    // The move off the PERSISTED dup-graph artifact — the
    // g_modularity_persisted posture applied to the ACTION: pairs and
    // labels both load from parquet, zero pair pipeline at read time.
    // The closure labels themselves are connected components, and no
    // Louvain move can improve a component partition (every node's
    // edges stay inside its component, so any cross-community gain
    // term k_in(c) is 0 and the gain is strictly negative) — grading
    // the raw artifact would be a vacuous fixed-point read. So the
    // graded partition is the artifact's labels DEGRADED the way the
    // IVF/PQ refit fixtures degrade their codebooks: every 7th node
    // split out as a singleton community (-id-1, collision-free with
    // the nonnegative cluster ids), and the best move provably
    // REPAIRS the split — the grade → action → re-grade contract on
    // persisted state. The oracle re-derives closure, degradation,
    // every gain, the argmax and the re-grade from scratch.
    "g_louvain_move_persisted" -> { (s, dir) =>
      // read-only consumer of the SHARED stamp-0 base
      val gPath = dupGraphBase(s, dir, "full")
      val pairs = graft.sources.Io.readDupGraphPairs(s, gPath)
      val degraded = graft.sources.Io.readDupGraphLabels(s, gPath)
        .select(
          col("id"),
          when(col("id") % 7 === 0, -col("id") - 1)
            .otherwise(col("cluster_id"))
            .as("community"))
      Graph.modularity(pairs, Graph.louvainBestMove(pairs, degraded))
    },
    // Louvain PHASE 2 — community aggregation (Graph.louvainCoarsen):
    // the co-purchase graph collapsed to labelprop's communities, one
    // super-node each, inter-community weights = original edge
    // counts, self-loops = intra counts. THE scale move: every
    // further community pass runs on this orders-of-magnitude-smaller
    // graph instead of the edge list. One hash aggregate over the
    // labeled edge stream.
    "g_louvain_coarsen" -> { (s, dir) =>
      val edges = coPurchaseEdges(s, dir)
      Graph.louvainCoarsen(edges, Graph.labelPropagation(edges, rounds = 4))
    },
    // The coarsening EXACTNESS proof as a query: weighted modularity
    // of the coarse graph under IDENTITY labels must reproduce the
    // original partition's per-community grade — e_c becomes the
    // self-loop weight, d_c the weighted degree with self-loops
    // counting twice, W the coarse total — so (community, intra,
    // degree_sum, term6) match g_modularity's rows EXACTLY (n_nodes
    // is the one honest difference: each community is now ONE
    // super-node, so it is dropped here). The oracle re-derives the
    // whole chain from the raw edge list — a coarsening that lost or
    // double-counted any mass hash-mismatches.
    "g_modularity_coarse" -> { (s, dir) =>
      val edges = coPurchaseEdges(s, dir)
      // the coarse graph is community-count bounded — materialize it
      // once (the iterative-operator storage rule) instead of
      // re-expanding the co-purchase build per downstream reference
      val coarse = graft.operators.Checkpointing.truncate(
        Graph.louvainCoarsen(edges, Graph.labelPropagation(edges, rounds = 4)),
        None, eager = true)
      val ident = coarse.select(col("id_a").as("id"))
        .unionAll(coarse.select(col("id_b").as("id")))
        .distinct()
        .select(col("id"), col("id").as("community"))
      Graph.modularityWeighted(coarse, ident)
        .select(col("community"), col("intra_w"), col("degree_sum"), col("term6"))
    },
    // Phase 2's OPTIMIZATION step (Graph.louvainBestMoveWeighted):
    // from identity labels on the coarse graph, a strictly-positive
    // move MERGES the two communities sharing more weight than the
    // degree-preserving chance level (gain·2W² = 2W·w_cd − k_c·k_d),
    // self-loop mass traveling with its super-node — the hierarchy
    // builder that runs on the community-count-sized graph, never
    // the corpus edge list. Output = the weighted re-grade of the
    // merged partition (n_nodes now counts SUPER-nodes: the merged
    // community reads 2). The oracle replays coarsen, every weighted
    // gain, the argmax and the weighted re-grade in HUGEINT.
    "g_louvain_move_coarse" -> { (s, dir) =>
      val edges = coPurchaseEdges(s, dir)
      val coarse = graft.operators.Checkpointing.truncate(
        Graph.louvainCoarsen(edges, Graph.labelPropagation(edges, rounds = 4)),
        None, eager = true)
      val ident = coarse.select(col("id_a").as("id"))
        .unionAll(coarse.select(col("id_b").as("id")))
        .distinct()
        .select(col("id"), col("id").as("community"))
      Graph.modularityWeighted(
        coarse, Graph.louvainBestMoveWeighted(coarse, ident))
    },
    // The merge pass ITERATED (Graph.louvainMovesWeighted, 2 passes):
    // the second pass's gains are computed against the MERGED
    // partition's Σtot — the hierarchy's actual inner loop, still
    // community-bounded (SCALE_r12 wave 4: the weighted move is flat
    // to x100 because it never touches the corpus edge list). The
    // oracle chains two full weighted-move replays before the
    // re-grade.
    "g_louvain_moves_coarse" -> { (s, dir) =>
      val edges = coPurchaseEdges(s, dir)
      val coarse = graft.operators.Checkpointing.truncate(
        Graph.louvainCoarsen(edges, Graph.labelPropagation(edges, rounds = 4)),
        None, eager = true)
      val ident = coarse.select(col("id_a").as("id"))
        .unionAll(coarse.select(col("id_b").as("id")))
        .distinct()
        .select(col("id"), col("id").as("community"))
      Graph.modularityWeighted(
        coarse, Graph.louvainMovesWeighted(coarse, ident, moves = 2))
    },
    // The hierarchy END-TO-END: labelprop partitions the co-purchase
    // graph, phase 2 coarsens and runs TWO merge passes on the
    // super-graph, and the merged coarse labels PROJECT BACK through
    // the phase-1 assignment (node → its community's merged
    // community) — the readout is plain modularity of the projected
    // partition on the ORIGINAL graph, which by the aggregation
    // invariance must capture exactly the coarse-side gains: every
    // merge that fired above chance on the super-graph raises Q on
    // the corpus graph. This is the query a 100 TB deployment runs
    // per hierarchy level: all corpus-proportional work happens once
    // (edges + labelprop + coarsen), the iterated optimization is
    // community-bounded. Oracle chains labelprop, coarsen, both
    // weighted move replays, the back-projection join and the plain
    // re-grade.
    "g_louvain_hierarchy" -> { (s, dir) =>
      val edges = coPurchaseEdges(s, dir)
      val lab1 = graft.operators.Checkpointing.truncate(
        Graph.labelPropagation(edges, rounds = 4), None, eager = true)
      val coarse = graft.operators.Checkpointing.truncate(
        Graph.louvainCoarsen(edges, lab1), None, eager = true)
      val ident = coarse.select(col("id_a").as("id"))
        .unionAll(coarse.select(col("id_b").as("id")))
        .distinct()
        .select(col("id"), col("id").as("community"))
      val merged = Graph.louvainMovesWeighted(coarse, ident, moves = 2)
      val projected = lab1
        .join(
          merged.select(col("id").as("community"), col("community").as("__c2")),
          Seq("community"))
        .select(col("id"), col("__c2").as("community"))
      Graph.modularity(edges, projected)
    },
    // The hierarchy RECURSES (Graph.louvainCoarsenWeighted): level
    // 1's merged partition coarsens AGAIN — weights sum into
    // canonical community pairs, self-loops fold into the community
    // loop, total W conserved level to level — and two more merge
    // passes run on the level-2 super-graph; the final labels
    // project back through BOTH levels (node → phase-1 community →
    // merged-1 → merged-2) and the readout is plain modularity on
    // the ORIGINAL graph. Every level after the first touches only
    // community-count-sized frames — the recursion a 100 TB
    // hierarchy iterates until the merge passes go dry. The oracle
    // chains both coarsens, all four weighted move replays, the
    // two-level back-projection and the plain re-grade.
    "g_louvain_hierarchy2" -> { (s, dir) =>
      val edges = coPurchaseEdges(s, dir)
      val lab1 = graft.operators.Checkpointing.truncate(
        Graph.labelPropagation(edges, rounds = 4), None, eager = true)
      val coarse1 = graft.operators.Checkpointing.truncate(
        Graph.louvainCoarsen(edges, lab1), None, eager = true)
      val ident1 = coarse1.select(col("id_a").as("id"))
        .unionAll(coarse1.select(col("id_b").as("id")))
        .distinct()
        .select(col("id"), col("id").as("community"))
      val merged1 = graft.operators.Checkpointing.truncate(
        Graph.louvainMovesWeighted(coarse1, ident1, moves = 2), None, eager = true)
      val coarse2 = graft.operators.Checkpointing.truncate(
        Graph.louvainCoarsenWeighted(coarse1, merged1), None, eager = true)
      val ident2 = coarse2.select(col("id_a").as("id"))
        .unionAll(coarse2.select(col("id_b").as("id")))
        .distinct()
        .select(col("id"), col("id").as("community"))
      val merged2 = Graph.louvainMovesWeighted(coarse2, ident2, moves = 2)
      val projected = lab1
        .join(
          merged1.select(col("id").as("community"), col("community").as("__c2")),
          Seq("community"))
        .join(
          merged2.select(col("id").as("__c2"), col("community").as("__c3")),
          Seq("__c2"))
        .select(col("id"), col("__c3").as("community"))
      Graph.modularity(edges, projected)
    },
    // PageRank off the PERSISTED dup-graph artifact (Io.writeDupGraph):
    // the shingle/band/verify pair pipeline runs ONCE into bucketed
    // parquet, the iteration loads the edge list back — the ANN-index
    // pattern (v_ivf_persisted) applied to the pair graph. At 100 TB
    // the in-line path re-derives a many-hour corpus scan inside every
    // graph/split/health consumer; the artifact pays it once. Results
    // must be identical to g_pagerank — one oracle, two paths.
    "g_pagerank_persisted" -> { (s, dir) =>
      // read-only consumer of the SHARED stamp-0 base (build-once
      // amortized across the whole artifact family, not per query)
      val gPath = dupGraphBase(s, dir, "full")
      Graph
        .pageRank(graft.sources.Io.readDupGraphPairs(s, gPath))
        .select(col("id").as("doc_id"), col("rank_units"), col("rank"))
        .orderBy(col("doc_id"))
    },
    // Modularity off the PERSISTED dup-graph artifact: pairs AND the
    // closure labels both come from parquet (Io.readDupGraphPairs /
    // readDupGraphLabels) — the partition being graded is the
    // artifact's own cluster assignment, so the score needs zero pair
    // pipeline and zero closure iteration at read time (the
    // g_pagerank_persisted posture; the judge-queued fix for
    // g_modularity's 7 s inline pair-graph rebuild). The oracle
    // re-derives both from scratch in DuckDB — any artifact drift
    // hash-mismatches.
    "g_modularity_persisted" -> { (s, dir) =>
      // read-only consumer of the SHARED stamp-0 base
      val gPath = dupGraphBase(s, dir, "full")
      Graph.modularity(
        graft.sources.Io.readDupGraphPairs(s, gPath),
        graft.sources.Io.readDupGraphLabels(s, gPath)
          .select(col("id"), col("cluster_id").as("community")))
    },
    // Cluster-size histogram off the artifact's persisted LABELS: the
    // transitive closure ran at build time (inside writeDupGraph) —
    // the query itself is two bounded hash aggs over a parquet scan,
    // no pair pipeline and no iteration at all. Same oracle as
    // dd_cluster_sizes: the persisted labels must reproduce the
    // in-line closure exactly.
    "dd_cluster_sizes_persisted" -> { (s, dir) =>
      // read-only consumer of the SHARED stamp-0 base
      val gPath = dupGraphBase(s, dir, "full")
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"))
        .join(
          graft.sources.Io.readDupGraphLabels(s, gPath),
          col("doc_id") === col("id"),
          "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("cluster"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz"))
    },
    // Two-table exact Jaccard (Dedup.ngramJaccardAgainst) — the
    // incremental pair-discovery operator: every pair touching a
    // batch doc (here the second half of the corpus), scored against
    // the full corpus. Must equal the single-table pair set
    // restricted to pairs touching the batch — the oracle is the
    // shared jaccard CTE with exactly that predicate.
    "dd_jaccard_against" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup
        .ngramJaccardAgainst(
          docs.filter(col("doc_id") >= 250), docs, "text", "doc_id", 3, 0.2)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    },
    // Incremental dup-graph maintenance (Io.upsertDupGraph): the base
    // artifact is built from the HISTORICAL half's pairs only; the
    // increment (every pair touching a batch doc) appends with a seq
    // stamp and the labels re-resolve incrementally — old clusters
    // re-enter the closure as depth-1 star edges, so the merge walks
    // the increment, not the full pair set. The final labels must
    // equal the FULL-corpus closure, so dd_cluster_sizes' oracle is
    // shared: an incremental closure that missed a merge (or dropped
    // a star) would produce a different histogram.
    "dd_graph_upsert" -> { (s, dir) =>
      // copy-on-write off the SHARED half base: the stamp-0 build is
      // amortized, the mutation directory stays query-private
      val gPath = s"/tmp/graft_idx/dupg_up_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      copyTree(dupGraphBase(s, dir, "half"), gPath)
      val docs = t(s, dir, "documents")
      val pairs = docNgramPairs(s, dir).select(col("id_a"), col("id_b"))
      graft.sources.Io.upsertDupGraph(
        pairs.filter(col("id_a") >= 250 || col("id_b") >= 250), gPath, seq = 1L)
      docs.select(col("doc_id"))
        .join(
          graft.sources.Io.readDupGraphLabels(s, gPath),
          col("doc_id") === col("id"),
          "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("cluster"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz"))
    },
    // Dup-graph TIME TRAVEL (Io.readDupGraphPairsAsOf, the v_ivf_asof
    // discipline on the pair artifact): base build (seq 0), incremental
    // upsert (seq 1), takedown of every 10th doc (seq 2) — then an
    // as-of-1 read reconstructs the PRE-TAKEDOWN graph (a state the
    // live view can no longer produce: the audit question "which
    // cluster did this doc sit in before the takedown"), whose
    // closure must equal the from-scratch full-corpus clustering —
    // dd_cluster_sizes' oracle, shared.
    "dd_graph_asof" -> { (s, dir) =>
      // copy-on-write off the SHARED half base (see dd_graph_upsert)
      val gPath = s"/tmp/graft_idx/dupg_asof_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      copyTree(dupGraphBase(s, dir, "half"), gPath)
      val docs = t(s, dir, "documents")
      val pairs = docNgramPairs(s, dir).select(col("id_a"), col("id_b"))
      // this query's readout re-closes from the AS-OF pair read below
      // and never consults the label table — skip both label
      // refreshes (the API's documented bulk-maintenance posture);
      // pair appends and tombstones, the state as-of reads resolve
      // from, are identical either way
      graft.sources.Io.upsertDupGraph(
        pairs.filter(col("id_a") >= 250 || col("id_b") >= 250), gPath, seq = 1L,
        recomputeLabels = false)
      graft.sources.Io.deleteDupGraphDocs(
        docs.filter(col("doc_id") % 10 === 0).select(col("doc_id")), gPath, seq = 2L,
        recompute = false)
      val labels = Dedup.clusterPairs(
        graft.sources.Io.readDupGraphPairsAsOf(s, gPath, asOfSeq = 1L)
          .select(col("id_a"), col("id_b")))
      docs.select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("cluster"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz"))
    },
    // Doc takedown from the dup graph (Io.deleteDupGraphDocs): every
    // 10th doc tombstoned — its pairs hidden, the label table
    // RE-CLOSED over live pairs (node removal can split clusters;
    // no incremental patch can express that, so the closure honestly
    // recomputes — labels only, never the pair pipeline). The
    // surviving docs' cluster-size histogram must equal a from-
    // scratch closure over the filtered pair set.
    "dd_graph_delete" -> { (s, dir) =>
      // copy-on-write off the SHARED full base (see dd_graph_upsert)
      val gPath = s"/tmp/graft_idx/dupg_del_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      copyTree(dupGraphBase(s, dir, "full"), gPath)
      val docs = t(s, dir, "documents")
      graft.sources.Io.deleteDupGraphDocs(
        docs.filter(col("doc_id") % 10 === 0).select(col("doc_id")), gPath, seq = 1L)
      docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"))
        .join(
          graft.sources.Io.readDupGraphLabels(s, gPath),
          col("doc_id") === col("id"),
          "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("cluster"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz"))
    },
    // Dup-graph compaction (Io.compactDupGraph) closing the family's
    // lifecycle loop: the increment lands TWICE in the pair base
    // (micro-batch double-discovery), every 10th doc is then taken
    // down, and compaction rewrites the pair base live-only +
    // distinct at stamp 0, purging the tombstone sidecar. The result
    // re-CLOSES from the PLAIN pair reader — proving the compacted
    // base itself (not the precomputed label table) equals the live
    // pair set; same oracle as dd_graph_delete.
    "dd_graph_compacted" -> { (s, dir) =>
      // copy-on-write off the SHARED half base (see dd_graph_upsert)
      val gPath = s"/tmp/graft_idx/dupg_cmp_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      copyTree(dupGraphBase(s, dir, "half"), gPath)
      val docs = t(s, dir, "documents")
      val pairs = docNgramPairs(s, dir).select(col("id_a"), col("id_b"))
      val incr = pairs.filter(col("id_a") >= 250 || col("id_b") >= 250)
      // the increment rides in DUPLICATED (unionAll, not union) — the
      // double-discovery a pair whose endpoints surface in two
      // micro-batches gets; both copies land in the pair base and
      // only compaction may collapse them
      // readout re-closes from the PLAIN pair reader after compaction
      // and never consults the label table — skip both label
      // refreshes (bulk-maintenance posture); the pair base,
      // tombstones and compaction are byte-identical either way
      graft.sources.Io.upsertDupGraph(incr.unionAll(incr), gPath, seq = 1L,
        recomputeLabels = false)
      graft.sources.Io.deleteDupGraphDocs(
        docs.filter(col("doc_id") % 10 === 0).select(col("doc_id")), gPath, seq = 2L,
        recompute = false)
      graft.sources.Io.compactDupGraph(s, gPath)
      val labels = Dedup.clusterPairs(
        graft.sources.Io.readDupGraphPairs(s, gPath).select(col("id_a"), col("id_b")))
      docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("cluster"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz"))
    },
    // Leakage-safe split off the artifact's labels
    // (Sampling.leakageSafeSplitLabeled): split assignment becomes a
    // label join + per-row hash — the third heavy consumer of the
    // same build-once artifact. Same oracle as s_leakage_split.
    "s_leakage_persisted" -> { (s, dir) =>
      // read-only consumer of the SHARED stamp-0 base
      val gPath = dupGraphBase(s, dir, "full")
      val docs = t(s, dir, "documents")
      Sampling
        .leakageSafeSplitLabeled(
          docs,
          "doc_id",
          graft.sources.Io.readDupGraphLabels(s, gPath),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    },
    // Embedding-cosine near-dup pairs (exact quadratic baseline; the
    // LSH variant above is the scale path)
    "dd_embed_neardup" -> { (s, dir) =>
      Dedup
        .embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)
        .orderBy(col("id_a"), col("id_b"))
    },
    // D6 — order-preserving text-part dedup: first occurrence of each
    // paragraph keeps its position, output re-sorted by position
    // (handle_chunking.py:94-102)
    "d6_ordered_parts" -> { (s, dir) =>
      val parts = t(s, dir, "documents")
        .select(
          col("doc_id"),
          posexplode(split(col("text"), " table ")).as(Seq("pos", "part")))
        .filter(length(trim(col("part"))) > 0)
      Relational
        .dedupeFirstWins(parts, Seq(col("doc_id"), trim(col("part"))), Seq(col("pos")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("part"))
        .orderBy(col("doc_id"), col("pos"))
    },
    // F7 — placeholder-date rejection: epoch/sentinel dates dropped
    // (is_placeholder_date, structured_extraction_v2.py:112-215)
    "f7_date_filter" -> { (s, dir) =>
      val d = when(col("o_orderkey") % 4 === 0, lit("1970-01-01"))
        .when(col("o_orderkey") % 4 === 1, lit("9999-12-31"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), to_date(d).as("d"))
        .filter(!Filters.isPlaceholderDate(col("d")))
        .select(col("o_orderkey"), date_format(col("d"), "yyyy-MM-dd").as("d"))
        .orderBy(col("o_orderkey"))
    },
    // S3 — real RSS *and* Atom feed parsing: per-source feeds built in
    // alternating dialects, then Feeds.feedEntries handles both —
    // RSS <item> title/link/description/pubDate (CDATA descriptions,
    // relative links resolved against the feed URL) and Atom <entry>
    // title/<link href>/summary/updated-else-published — with the
    // reference's per-feed limit 25 (scraper_v2.py:972-1043)
    "s3_feed_entries" -> { (s, dir) =>
      val id = col("doc_id").cast("string")
      val rssLink = when(col("doc_id") % 2 === 0, concat(lit("<link>/a/"), id, lit("</link>")))
        .otherwise(concat(lit("<link>https://feed/"), id, lit("</link>")))
      val rssDesc = when(
        col("doc_id") % 5 === 0,
        concat(lit("<description><![CDATA[s"), id, lit("]]></description>")))
        .otherwise(concat(lit("<description>s"), id, lit("</description>")))
      val rssItem = concat(
        lit("<item><title>t"), id, lit("</title>"), rssLink, rssDesc,
        lit("<pubDate>Mon, 01 Jan 2024</pubDate></item>"))
      val atomLink = when(col("doc_id") % 2 === 0, concat(lit("<link>/a/"), id, lit("</link>")))
        .otherwise(concat(lit("<link href=\"https://feed/"), id, lit("\"/>")))
      val atomDate = when(
        col("doc_id") % 3 === 0,
        lit("<published>2024-03-01T00:00:00Z</published>"))
        .otherwise(lit("<updated>2024-02-01T00:00:00Z</updated>"))
      val atomEntry = concat(
        lit("<entry><title>t"), id, lit("</title>"), atomLink,
        lit("<summary>s"), id, lit("</summary>"), atomDate, lit("</entry>"))
      val isRssSource = length(col("source")) % 2 === 0
      val blk = when(isRssSource, rssItem).otherwise(atomEntry)
      t(s, dir, "documents")
        .select(col("source"), blk.as("blk"))
        .groupBy(col("source"))
        .agg(concat_ws("", sort_array(collect_list(col("blk")))).as("body"))
        .select(
          col("source"),
          when(
            length(col("source")) % 2 === 0,
            concat(lit("<rss version=\"2.0\"><channel>"), col("body"), lit("</channel></rss>")))
            .otherwise(
              concat(lit("<feed xmlns=\"http://www.w3.org/2005/Atom\">"), col("body"), lit("</feed>")))
            .as("xml"))
        .select(
          col("source"),
          posexplode(
            Feeds.feedEntries(col("xml"), lit("https://news.example.com/feeds/rss.xml"), 25))
            .as(Seq("entry_index", "e")))
        .select(
          col("source"),
          col("entry_index").cast("long").as("entry_index"),
          col("e.title").as("title"),
          col("e.url").as("url"),
          col("e.summary").as("summary"),
          col("e.published").as("published"))
        .orderBy(col("source"), col("entry_index"))
    },
    // D2 — article dedup on coalesce(url, title) derived key
    // (scraper_v2.py:1058-1069)
    "d2_article_dedup" -> { (s, dir) =>
      val url = when(col("doc_id") % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("https://a/"), (col("doc_id") % 50).cast("string")))
      val title = concat(lit("T"), (col("doc_id") % 40).cast("string"))
      Relational
        .dedupeFirstWins(
          t(s, dir, "documents").select(col("doc_id"), url.as("url"), title.as("title")),
          Seq(coalesce(lower(col("url")), lower(col("title")))),
          Seq(col("doc_id")))
        .orderBy(col("doc_id"))
    },
    // I3 — vector-upsert last-wins merge: union of two snapshot
    // batches, keep the newest row per chunk id (embeddings.py:192-199)
    "i3_upsert_lastwins" -> { (s, dir) =>
      val e = t(s, dir, "events")
        .select(
          (col("event_id") % 200).as("chunk_id"),
          col("event_id"),
          col("ts"),
          col("value"))
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      val oldBatch = e.filter(col("ts") < cut)
      val newBatch = e.filter(col("ts") >= cut)
      Relational
        .latestPerKey(
          oldBatch.unionByName(newBatch),
          Seq(col("chunk_id")),
          Seq(col("ts"), col("event_id")))
        .select(col("chunk_id"), col("event_id"), col("value"))
        .orderBy(col("chunk_id"))
    },
    // SimHash near-dup pairs: bucket on the fingerprint's leading 2
    // hex chars, verify with exact Hamming distance ≤ 8 of 64 bits
    "dd_simhash_pairs" -> { (s, dir) =>
      Dedup
        .simhashNearDupPairs(t(s, dir, "documents"), "text", "doc_id", 2, 8)
        .orderBy(col("id_a"), col("id_b"))
    },
    // W1/F1 fallback-if-empty retrieval (SURVEY §7.4 hard part 3):
    // company filter matches nothing -> fall back to global top-k
    // (rag_search.py:54-65 semantics; driver-side conditional)
    "rag_fallback" -> { (s, dir) =>
      pipelines.Orbit.ragSearchCompany(
        t(s, dir, "documents"), "zzz", "spark join window", 10, chunkSize = 200)
    },
    // W1 per-key top-k via the bounded-heap Aggregator (map-side
    // partials shuffle ≤k rows per key per partition — the scale path;
    // same results as the wp_topk_per_source window formulation)
    "wp_topk_agg" -> { (s, dir) =>
      val topk = udaf(new graft.expressions.TopKAggregator(3))
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(topk(col("n_chars"), col("doc_id")).as("top"))
        .select(col("source"), explode(col("top")).as("e"))
        .select(col("source"), col("e._2").as("doc_id"), col("e._1").as("n_chars"))
        .orderBy(col("source"), col("doc_id"))
    },
    // As-of join: each click gets the latest preceding purchase value
    // for the same user (union + ignore-nulls window, one shuffle)
    "j_asof_join" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val clicks = e
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      Relational
        .asofJoin(clicks, purchases, "user_id", "ts", Seq("value"), col("event_id"))
        .select(col("user_id"), col("event_id"), col("asof_value"))
        .orderBy(col("user_id"), col("event_id"))
    },
    // Nearest-event join (Relational.nearestJoin): each purchase
    // attributed to the CLOSEST click either side — the bidirectional
    // sibling of j_asof_join (ties to the earlier match). Integer
    // micro-second distances; one union + two window frames over one
    // key sort, never a per-row range probe.
    "j_nearest_event" -> { (s, dir) =>
      val e = t(s, dir, "events").withColumn("us", expr("unix_micros(ts)"))
      val purchases = e
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us"), col("event_id"))
      val clicks = e
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("us"), col("event_id").as("click_id"))
      Relational
        .nearestJoin(purchases, clicks, "user_id", "us", Seq("click_id"), col("click_id"))
        .select(
          col("user_id"), col("event_id"),
          col("nearest_click_id"), col("nearest_dt"))
        .orderBy(col("user_id"), col("event_id"))
    },
    // Range join (point-in-interval) via grid bucketing: quantity →
    // price band without a cross product
    "j_range_join" -> { (s, dir) =>
      import s.implicits._
      val bands = Seq((0.0, 10.0, "low"), (10.0, 30.0, "mid"), (30.0, 50.0, "high"))
        .toDF("lo", "hi", "band")
      Relational
        .rangeJoinBucketed(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
          bands, "l_quantity", "lo", "hi", 7.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("band"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("band"))
    },
    // Quality-signal ratios (punct density, stopword ratio) and
    // order-preserving stopword removal (training-data preprocessing)
    "t_punct_stop" -> { (s, dir) =>
      val pt = concat(col("text"), lit(" ... end! (v"), col("doc_id").cast("string"), lit(")"))
      t(s, dir, "documents")
        .select(col("doc_id"), pt.as("pt"))
        .select(
          col("doc_id"),
          TextFns.punctRatio(col("pt")).as("punct_ratio"),
          TextFns.stopwordRatio(col("pt"), Seq("the", "a", "of")).as("stop_ratio"),
          TextFns.removeStopwords(col("pt"), Seq("data", "table")).as("no_stops"))
        .orderBy(col("doc_id"))
    },
    // Winnowing rolling-hash fingerprints (k=8 char grams, window 10):
    // the near-dup-robust document fingerprint set
    "t_winnow" -> { (s, dir) =>
      TextAnalysis
        .winnowTable(t(s, dir, "documents"), "text", "doc_id", 8, 10)
        .select(col("id").as("doc_id"), col("fp"))
        .orderBy(col("doc_id"), col("fp"))
    },
    // Deterministic 10% hash sample: same rows every run, any engine,
    // any partitioning (the sample-for-kmeans / subcorpus primitive)
    "s_hash_sample" -> { (s, dir) =>
      Sampling
        .hashSample(t(s, dir, "documents"), col("doc_id"), 0.1)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    // Token-budget carve: keep docs in hash order while each source's
    // running token total stays within 800 — the "N tokens per source"
    // corpus knob (stratifiedCap counts docs; budgets count tokens)
    "s_token_budget" -> { (s, dir) =>
      Sampling
        .tokenBudget(
          t(s, dir, "documents")
            .withColumn("n_toks", TextFns.wordCount(col("text"))),
          col("source"),
          col("doc_id"),
          col("n_toks"),
          800L)
        .select(col("doc_id"), col("source"), col("n_toks"))
        .orderBy(col("doc_id"))
    },
    // Contrastive negatives: 3 deterministic pseudo-random negatives
    // per doc from a 20% hash-sampled pool (broadcast ring, map-side
    // modular assignment — Sampling.hashNegatives)
    "s_hash_negatives" -> { (s, dir) =>
      Sampling
        .hashNegatives(t(s, dir, "documents"), col("doc_id"), 3, 0.2)
        .orderBy(col("anchor"), col("j"))
    },
    // Weighted sample: 5 docs per source, probability proportional to
    // token count (Efraimidis-Spirakis exponential keys over the
    // portable hash — deterministic weighted reservoir)
    // Gonzalez greedy k-center exemplars (Similarity.kCenterSelect,
    // 1985): 6 maximally-diverse vectors from a 100-vector hash-class
    // pool (vec_id % 5) — each pick is the point farthest (min cosine
    // distance to prior picks, the 2-approximation guarantee) from
    // the picked set, min-id seed, no RNG. The coverage-exemplar
    // complement of MMR: seed docs for labeling / eval-suite
    // selection. Pool bound ENFORCED (the mmr maxPool precedent);
    // dist column is the coverage-radius curve.
    "s_kcenter" -> { (s, dir) =>
      Similarity
        .kCenterSelect(
          t(s, dir, "embeddings")
            .filter(col("vec_id") =!= 0 && col("vec_id") % 5 === 0),
          "vec_id",
          "embedding",
          6)
        .orderBy(col("rank"))
    },
    "s_weighted_sample" -> { (s, dir) =>
      Sampling
        .weightedSample(
          t(s, dir, "documents")
            .withColumn("n_toks", TextFns.wordCount(col("text"))),
          col("source"),
          col("doc_id"),
          col("n_toks"),
          5)
        .select(col("doc_id"), col("source"), col("n_toks"))
        .orderBy(col("doc_id"))
    },
    // Deterministic train/val/test split assignment, counted per split
    "s_split_assign" -> { (s, dir) =>
      Sampling
        .splitAssign(
          t(s, dir, "documents"),
          col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("split"), col("source"))
    },
    // Leakage-safe split: near-dup clusters are the split unit — a
    // val doc whose near-dup sits in train is leakage. Same
    // train/val/test thresholds as s_split_assign, hashed on the
    // cluster's canonical id so no near-dup pair straddles a split.
    "s_leakage_split" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = docNgramPairs(s, dir).select(col("id_a"), col("id_b"))
      Sampling
        .leakageSafeSplit(docs, "doc_id", pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    },
    // Corpus-wide line dedup (C4/RefinedWeb rule): drop every 5-token
    // line that occurs >= 3 times ACROSS the corpus (boilerplate
    // removal), then reassemble each doc's surviving lines in their
    // original positions. Line granularity here is fixed 5-token
    // windows (the synthetic text has no punctuation); the operator
    // shape — segment → global df count → cap → positional
    // reassembly — is the real pipeline's.
    "t_line_dedup" -> { (s, dir) =>
      val toks = TextFns.tokens(col("text"))
      val nLines = ceil(size(toks) / lit(5.0)).cast("int")
      val lines = when(size(toks) === 0, array().cast("array<string>"))
        .otherwise(
          transform(sequence(lit(0), nLines - 1), i => concat_ws(" ", slice(toks, i * 5 + 1, lit(5)))))
      val exploded = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(lines).as(Seq("pos", "line")))
      Dedup.rareLineSurvivors(exploded, "line", maxDf = 3)
        .groupBy(col("doc_id"))
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("pos"), col("line")))),
              x => x.getField("line")),
            " ").as("cleaned"),
          count(lit(1)).as("n_lines_kept"))
        .orderBy(col("doc_id"))
    },
    // Incremental exact dedup — the daily-ingest shape: today's batch
    // dedups within itself (first-wins), then drops anything whose
    // content fingerprint the historical corpus already has (broadcast
    // anti-join on fingerprints, never on documents). Every 5th batch
    // doc re-posts a historical text, so the anti-join provably fires.
    // Incremental NEAR-dup — the fuzzy version of dd_incremental:
    // today's batch is checked against the historical corpus with
    // MinHash-LSH (batch bands join history bands, exact-Jaccard
    // verify) and matching batch docs are dropped. Every 7th batch
    // doc re-posts a historical text with 3 appended tokens
    // (Jaccard ~0.9 — an exact fingerprint would miss it), so the
    // near-dup anti-join provably fires where dd_incremental's
    // exact-hash path cannot.
    "dd_incremental_neardup" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val hist = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250).alias("b")
        .join(hist.alias("h"), col("b.doc_id") - 250 === col("h.doc_id"))
        .select(
          col("b.doc_id").as("doc_id"),
          when(
            col("b.doc_id") % 7 === 0,
            concat(col("h.text"), lit(" data stream batch"))).otherwise(col("b.text")).as("text"))
      val matched = Dedup
        .minhashLshAgainst(batch, hist, "text", "doc_id", 3, 8, 1, 0.3)
        .select(col("id_a").as("m_id"))
        .distinct()
      batch
        .join(matched, col("doc_id") === col("m_id"), "left_anti")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    "dd_incremental" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val hist = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250).alias("b")
        .join(hist.alias("h"), col("b.doc_id") - 250 === col("h.doc_id"))
        .select(
          col("b.doc_id").as("doc_id"),
          when(col("b.doc_id") % 5 === 0, col("h.text")).otherwise(col("b.text")).as("text"))
      val histFps = hist
        .select(TextFns.fingerprint(col("text")).as("fp"))
        .distinct()
      Dedup.exact(batch, "text", "doc_id")
        .withColumn("fp", TextFns.fingerprint(col("text")))
        .join(histFps, Seq("fp"), "left_anti")
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    },
    // T1 incremental, Bloom-prefilter variant: history fingerprints
    // compress to a broadcast Bloom filter; only probe-positives reach
    // the exact verify joins, so history is never shuffled (plan shape
    // pinned in OperatorsSpec). Result is exact — identical semantics
    // to dd_incremental's anti-join, different planted overlap (%3)
    "dd_bloom_incremental" -> { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val hist = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250).alias("b")
        .join(hist.alias("h"), col("b.doc_id") - 250 === col("h.doc_id"))
        .select(
          col("b.doc_id").as("doc_id"),
          when(col("b.doc_id") % 3 === 0, col("h.text")).otherwise(col("b.text")).as("text"))
      val histFps = hist
        .select(TextFns.fingerprint(col("text")).as("fp"))
        .distinct()
      Dedup.bloomIncremental(batch, histFps, "text", "doc_id", 1L << 14)
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    },
    // Per-user EWMA of purchase values in event-time order — the
    // time-series smoother. EWMA is order-DEPENDENT by definition;
    // Series.ewmaOrdered runs the sequential IEEE chain per key over
    // a shuffle-sorted stream with O(1) per-key state (external sort,
    // no collect_list buffer — a whale key with 10M purchases streams
    // instead of materializing). DuckDB's list_reduce seeds with the
    // first element; the fold seeds identically, so both engines run
    // the same IEEE chain bit-for-bit.
    // Rolling median of the last 10 purchases per user — the bounded-
    // window robust smoother next to w_ewma: the frame is ROWS
    // -9..current, so the aggregation buffer holds ≤10 values per row
    // regardless of a key's history length (the whale-key-safe shape
    // by construction). Exact percentile interpolation matches
    // DuckDB's median on both parities (odd = middle, even = mean of
    // the two middles).
    "w_rolling_median" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(-9, org.apache.spark.sql.expressions.Window.currentRow)
      t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .withColumn("us", expr("unix_micros(ts)"))
        .select(
          col("user_id"),
          col("event_id"),
          percentile(col("value"), lit(0.5)).over(w).as("med"))
        .orderBy(col("user_id"), col("event_id"))
    },
    "w_ewma" -> { (s, dir) =>
      Series.ewmaOrdered(
          t(s, dir, "events")
            .filter(col("event_type") === "purchase")
            .withColumn("us", expr("unix_micros(ts)")),
          "user_id", Seq("us", "event_id"), "value", 0.3)
        .select(
          col("user_id"),
          col("n").as("n_purchases"),
          col("ewma").as("ewma_value"))
        .orderBy(col("user_id"))
    },
    // Holt double-exponential smoothing per user (Series.holtOrdered —
    // ewmaOrdered's two-state sibling): level + trend + one-step
    // forecast over each user's purchase history, the next rung of
    // the forecasting ladder (spend trajectories, ingest-volume
    // projection). Same ordered streaming fold, bit-identical to the
    // oracle's sequential list_reduce over (level, trend) pairs;
    // alpha = 0.5 and beta = 0.3 chosen so 1−c equals the oracle's
    // literal double exactly (0.7 ties round-to-even)
    "w_holt" -> { (s, dir) =>
      Series.holtOrdered(
          t(s, dir, "events")
            .filter(col("event_type") === "purchase")
            .withColumn("us", expr("unix_micros(ts)")),
          "user_id", Seq("us", "event_id"), "value", 0.5, 0.3)
        .select(
          col("user_id"),
          col("n").as("n_purchases"),
          col("level"),
          col("trend"),
          col("forecast"))
        .orderBy(col("user_id"))
    },
    // Winsorized mean per source (robust-stats family, next to the
    // z-score/MAD gates): values clipped at the exact rank-(k+1) and
    // rank-(n-k) order statistics with k = n div 10 — all-integer
    // rank arithmetic (a float 0.1*n cut point would sit on a binary
    // rounding boundary), then an exact long sum divided at the edge
    "a_winsor_mean" -> { (s, dir) =>
      val ranked = rankedByChars(t(s, dir, "documents"))
        .withColumn("k", expr("n div 10"))
      val bounds = ranked
        .groupBy(col("source"))
        .agg(
          max(when(col("rn") === col("k") + 1, col("n_chars"))).as("lo"),
          max(when(col("rn") === col("n") - col("k"), col("n_chars"))).as("hi"))
      ranked
        .join(broadcast(bounds), "source")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(greatest(col("lo"), least(col("hi"), col("n_chars")))).cast("double") /
            count(lit(1)).cast("double")).as("winsor_mean_chars"))
        .orderBy(col("source"))
    },
    // Exact per-group median by rank selection: the two middle ranks
    // (equal when n is odd) average to the median — integer ranks and
    // a <=2-element exact sum, so the result is engine-reproducible
    // where interpolating percentile built-ins are not. Window per
    // source (bounded groups, the stratifiedCap posture)
    "a_group_median" -> { (s, dir) =>
      rankedByChars(t(s, dir, "documents"))
        .filter(expr("rn = (n + 1) div 2 OR rn = (n + 2) div 2"))
        .groupBy(col("source"))
        .agg(
          (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
            .as("median_chars"))
        .orderBy(col("source"))
    },
    // Cohort LTV curve: purchase spend per (first-activity-week
    // cohort, age week), cumulative across age, normalized per cohort
    // user — the revenue companion of a_retention's activity grid and
    // a_survival_km's churn curve. Money via the exact DECIMAL(18,2)
    // idiom; cumulative window bounded by the cohort×age GRID.
    "a_cohort_ltv" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(
          col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("wk"),
          col("value"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val sizes = cohort
        .groupBy(col("cohort_wk"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_wk"))
        .agg(
          count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(18,2)")).as("__sp"))
        .withColumn(
          "__cum",
          sum(col("__sp")).over(
            w.partitionBy(col("cohort_wk"))
              .orderBy(col("age_wk"))
              .rowsBetween(w.unboundedPreceding, w.currentRow)))
        .join(sizes, "cohort_wk")
        .select(
          col("cohort_wk"),
          col("age_wk"),
          col("n_users"),
          col("n_purchases"),
          col("__sp").cast("decimal(18,2)").cast("double").as("spend"),
          col("__cum").cast("decimal(18,2)").cast("double").as("cum_spend"),
          (col("__cum").cast("decimal(18,2)").cast("double") /
            col("n_users").cast("double")).as("ltv_per_user"))
        .orderBy(col("cohort_wk"), col("age_wk"))
    },
    // Kaplan-Meier survival over customer order lifetimes
    // (Series.kaplanMeier, 1958): 30-day ages, 365-day censoring
    // horizon — customers still ordering near the corpus clock are
    // CENSORED (alive, at-risk evidence only), which is exactly what
    // the naive mean-lifetime gets wrong. Exact sequential integer
    // product over the ~80-row bounded age grid; the oracle replays
    // the identical fold as a recursive CTE.
    "a_survival_km" -> { (s, dir) =>
      Series
        .kaplanMeier(
          t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate")),
          "o_custkey",
          "o_orderdate",
          30,
          365)
        .orderBy(col("age"))
    },
    // Nelson-Aalen cumulative hazard (Series.nelsonAalen): the
    // additive sibling of a_survival_km on the same survival grid —
    // per-age d/n terms micro-rounded once then exactly summed.
    "a_survival_hazard" -> { (s, dir) =>
      Series
        .nelsonAalen(
          t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate")),
          "o_custkey",
          "o_orderdate",
          30,
          365)
        .orderBy(col("age"))
    },
    // Log-rank test (Series.logRank): do even- and odd-keyed
    // customers' order-lifetime survival curves differ? Same
    // lifetime/censoring construction as a_survival_km, split by
    // customer parity; per-age hypergeometric terms micro-rounded
    // once then exactly summed, one DECIMAL division at the end.
    "a_logrank" -> { (s, dir) =>
      Series.logRank(
        t(s, dir, "orders")
          .select(
            col("o_custkey"),
            col("o_orderdate"),
            when(col("o_custkey") % 2 === 0, lit("A")).otherwise(lit("B")).as("par")),
        "o_custkey",
        "o_orderdate",
        "par",
        30,
        365)
    },
    // Events-based log-rank (Series.logRank on activity lifetimes):
    // the batch half of the st_logrank streaming pair — 3-day ages,
    // 1-day censor horizon (the events corpus ends abruptly, so only
    // a tight horizon leaves any churn to test), parity groups; one
    // shared oracle.
    "w_logrank" -> { (s, dir) =>
      Series.logRank(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(
            col("user_id"),
            to_date(col("ts")).as("day"),
            when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")).as("par")),
        "user_id",
        "day",
        "par",
        3,
        1)
    },
    // Greenwood variance band (Series.kaplanMeierGreenwood): the
    // uncertainty behind a_survival_km's point curve — per-age pico
    // terms rounded once then exactly summed, S^2-scaled.
    "a_km_greenwood" -> { (s, dir) =>
      Series
        .kaplanMeierGreenwood(
          t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate")),
          "o_custkey",
          "o_orderdate",
          30,
          365)
        .orderBy(col("age"))
    },
    // Stratified log-rank (Series.stratifiedLogRank): the a_logrank
    // question with a per-customer stratum held fixed — per-(stratum,
    // age) hypergeometric cells summed; cohort-mix confounding can't
    // fake or mask the arm effect.
    "a_strat_logrank" -> { (s, dir) =>
      Series.stratifiedLogRank(
        t(s, dir, "orders")
          .select(
            col("o_custkey"),
            col("o_orderdate"),
            when(col("o_custkey") % 2 === 0, lit("A")).otherwise(lit("B")).as("par"),
            concat(lit("s"), (col("o_custkey") % 3).cast("string")).as("st")),
        "o_custkey",
        "o_orderdate",
        "par",
        "st",
        30,
        365)
    },
    // Cumulative incidence under competing risks (Series
    // .cumulativeIncidence): WHICH event type terminates each user's
    // activity — per-cause churn decomposed against the all-cause KM
    // (the 1-KM-per-cause bias avoided); 3-day ages, 1-day censor
    // (the corpus ends abruptly — a wider horizon censors everyone).
    "a_cif" -> { (s, dir) =>
      Series
        .cumulativeIncidence(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("ts").isNotNull
              && col("event_type").isNotNull)
            .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type")),
          "user_id",
          "day",
          "event_type",
          3,
          1)
        .orderBy(col("cause"), col("age"))
    },
    // Gehan-Wilcoxon weighted log-rank (Series.gehanWilcoxon): the
    // early-difference-sensitive reading of a_logrank's comparison —
    // at-risk-count weights on the same per-age grid; a verdict
    // split between the two says the hazards cross.
    "a_gehan" -> { (s, dir) =>
      Series.gehanWilcoxon(
        t(s, dir, "orders")
          .select(
            col("o_custkey"),
            col("o_orderdate"),
            when(col("o_custkey") % 2 === 0, lit("A")).otherwise(lit("B")).as("par")),
        "o_custkey",
        "o_orderdate",
        "par",
        30,
        365)
    },
    // Qini curve (Evaluation.qiniCurve): a_gains re-asked causally —
    // where did the parity "treatment" CAUSE purchases, with the
    // control baseline subtracted at every score depth.
    "a_qini" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull
          && col("event_type").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("buyer"))
        .withColumn("treated", (col("user_id") % 2 === 0).cast("long"))
      Evaluation.qiniCurve(
        per, col("treated") === 1L, col("buyer") === 1L,
        col("cents"), col("user_id"), 10)
    },
    // Mantel-Haenszel hazard ratio (Series.hazardRatio): the effect
    // size behind a_logrank's verdict — observed-over-expected churn
    // ratio on the same two-group grid, per-side E6 terms
    // micro-rounded per age then exactly summed.
    "a_hazard_ratio" -> { (s, dir) =>
      Series.hazardRatio(
        t(s, dir, "orders")
          .select(
            col("o_custkey"),
            col("o_orderdate"),
            when(col("o_custkey") % 2 === 0, lit("A")).otherwise(lit("B")).as("par")),
        "o_custkey",
        "o_orderdate",
        "par",
        30,
        365)
    },
    // Restricted mean survival time (Series.restrictedMeanSurvival):
    // expected customer lifetime within the first 12 age units (360
    // days) — the model-free scalar that stays defined under
    // censoring; exact step areas under the KM curve.
    "a_rmst" -> { (s, dir) =>
      Series.restrictedMeanSurvival(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate")),
        "o_custkey",
        "o_orderdate",
        30,
        365,
        12L)
    },
    // Poisson rate ratio (Experiments.poissonRateRatio): events per
    // USER-DAY of exposure across the parity arms — the incidence
    // readout that an arm with stickier users can't fake; exact
    // conditional chi-square, rate ratio as the effect size.
    "a_rate_ratio" -> { (s, dir) =>
      Experiments.poissonRateRatio(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull),
        when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
        col("user_id"),
        to_date(col("ts")))
    },
    // Anytime-valid e-process monitor (Experiments.eProcessRate):
    // daily wealth against H0 "purchase share = 20%", betting
    // lambda 0.3, alpha 0.05 — peek every day forever, the Ville
    // guarantee holds with no look table; binary outcomes make the
    // log-wealth an exact integer affine map of the running counts.
    // Anytime-valid bounded-mean monitor (Experiments.eProcessMean):
    // is mean cent-value above $175 of the declared $1000 bound? —
    // the e-process family's VALUE member: one micro-nat ln term per
    // distinct value off the (day, value) grid, wealth cumulated
    // over the day domain, Ville-covered at every peek.
    "a_eprocess_mean" -> { (s, dir) =>
      Experiments.eProcessMeanFromCells(
        valueGridCells(s, dir),
        m0Ppm = 175000L,
        lambdaPpm = 300000L,
        alphaPpm = 50000L)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    },
    // Value-grid artifact lifecycle, clause 1 — UPSERT convergence:
    // the grid lands as two disjoint partial builds (even-cent events
    // at stamp 0, odd-cent events appended at stamp 1 — counts are
    // linear, so ANY disjoint split SUM-merges to the full grid); the
    // mean monitor over the merged read must equal the monitor over
    // the plain full-corpus grid, so a_eprocess_mean's oracle is
    // shared — a broken merge would shift ln-wealth and hash-mismatch.
    "a_valgrid_upsert" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull && col("ts").isNotNull)
      val cents = expr("CAST(round(value * 100, 0) AS BIGINT)")
      val path = s"/tmp/graft_idx/valgrid_up_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.sources.Io.writeValueGrid(
        eventValueGrid(ev.filter(pmod(cents, lit(2L)) === 0L)), path)
      graft.sources.Io.upsertValueGrid(
        eventValueGrid(ev.filter(pmod(cents, lit(2L)) === 1L)), path, 1L)
      Experiments.eProcessMeanFromCells(
        graft.sources.Io.readValueGrid(s, path),
        m0Ppm = 175000L,
        lambdaPpm = 300000L,
        alphaPpm = 50000L)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    },
    // Value-grid lifecycle, clause 2 — TAKEDOWN + AS-OF: the %5-cent
    // events' grid appends NEGATED at stamp 1 (subtraction IS removal
    // for a linear statistic); the as-of-0 read must resurrect the
    // pre-takedown monitor exactly (a_eprocess_mean's oracle shared).
    "a_valgrid_asof" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull && col("ts").isNotNull)
      val cents = expr("CAST(round(value * 100, 0) AS BIGINT)")
      val path = s"/tmp/graft_idx/valgrid_ao_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.sources.Io.writeValueGrid(eventValueGrid(ev), path)
      graft.sources.Io.upsertValueGrid(
        eventValueGrid(ev.filter(pmod(cents, lit(5L)) === 0L))
          .withColumn("n", -col("n")),
        path, 1L)
      Experiments.eProcessMeanFromCells(
        graft.sources.Io.readValueGridAsOf(s, path, 0L),
        m0Ppm = 175000L,
        lambdaPpm = 300000L,
        alphaPpm = 50000L)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    },
    // Value-grid lifecycle, clause 3 — COMPACTION: after the %5-cent
    // takedown the history rewrites as one merged generation at stamp
    // 0 (zero-count cells purged, as-of history forfeited); the
    // stamp-0 read must now equal the LIVE post-takedown view — the
    // monitor over events excluding the taken-down subset (its own
    // oracle re-derives that from scratch).
    "a_valgrid_compacted" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull && col("ts").isNotNull)
      val cents = expr("CAST(round(value * 100, 0) AS BIGINT)")
      val path = s"/tmp/graft_idx/valgrid_cp_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.sources.Io.writeValueGrid(eventValueGrid(ev), path)
      graft.sources.Io.upsertValueGrid(
        eventValueGrid(ev.filter(pmod(cents, lit(5L)) === 0L))
          .withColumn("n", -col("n")),
        path, 1L)
      graft.sources.Io.compactValueGrid(s, path)
      Experiments.eProcessMeanFromCells(
        graft.sources.Io.readValueGridAsOf(s, path, 0L),
        m0Ppm = 175000L,
        lambdaPpm = 300000L,
        alphaPpm = 50000L)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    },
    // Anytime-valid DISPERSION monitor (Experiments.eProcessVariance):
    // is the daily cent-value variance above the declared H0 band? —
    // v0 = 5000 ppm of the bounded-value variance cap B²/4 (= $1250²-
    // units against the $1000 declared bound; observed daily variance
    // is ~9-11k ppm at sf0.1 and ~7-14k ppm at sf0.01, so the monitor
    // demonstrably detects and crosses), betting λ = 100, α = 0.05.
    // A variance widening under a stable mean is invisible to
    // a_eprocess_mean — this is that gap, Ville-covered.
    "a_eprocess_var" -> { (s, dir) =>
      Experiments.eProcessVarianceFromCells(
        valueGridCells(s, dir),
        v0Ppm = 5000L,
        lambdaPpm = 100000000L,
        alphaPpm = 50000L)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    },
    "a_eprocess" -> { (s, dir) =>
      Experiments.eProcessRate(
        t(s, dir, "events")
          .filter(col("event_type").isNotNull && col("ts").isNotNull),
        col("event_type") === "purchase",
        to_date(col("ts")),
        p0Ppm = 200000L,
        lambdaPpm = 300000L,
        alphaPpm = 50000L)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    },
    // e-BH FDR control across a monitor FAMILY (Experiments
    // .eBhRejections — Wang & Ramdas 2022): 20 user-bucket
    // hypotheses, each H0 "bucket's purchase rate ≤ 15%", each
    // e-value the bucket's FINAL Bernoulli e-process wealth (the
    // affine count readout with the shared micro-nat constants —
    // final wealth needs only the TOTAL success/failure counts, no
    // day cumsum), then one e-BH pass rejects the k* top-ranked
    // buckets with FDR ≤ 5% under arbitrary dependence — the
    // composition layer that turns 20 per-slice monitors into ONE
    // multiplicity-honest alarm set. On this data the buckets hover
    // around a 20% rate, so sampling spread splits the set: the
    // high-wealth buckets clear ln(K·1e6/(α·k)) at their rank, the
    // low ones don't — both branches of k* exercised.
    "a_ebh_rates" -> { (s, dir) =>
      val (a6, b6, _) = Experiments.eProcessConstants(150000L, 300000L, 50000L)
      val evals = t(s, dir, "events")
        .filter(
          col("event_type").isNotNull && col("ts").isNotNull && col("user_id").isNotNull)
        .groupBy((col("user_id") % 20).as("hyp"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x"))
        .select(
          col("hyp"),
          (col("x").cast("decimal(38,0)") * a6 +
            (col("n") - col("x")).cast("decimal(38,0)") * b6).cast("long").as("ln_e6"))
      Experiments.eBhRejections(evals, alphaPpm = 50000L)
    },
    // Anytime-valid confidence sequence (Experiments
    // .eProcessConfidenceSeq): the running always-valid band for the
    // purchase rate — 99 percent-grid candidates each run their own
    // betting wealth, rejection latches via the per-candidate running
    // max, and each day reads [min, max] of the survivors; intervals
    // only shrink, and the whole PATH covers at 95%.
    "a_eprocess_cs" -> { (s, dir) =>
      Experiments.eProcessConfidenceSeq(
        t(s, dir, "events")
          .filter(col("event_type").isNotNull && col("ts").isNotNull),
        col("event_type") === "purchase",
        to_date(col("ts")),
        lambdaPpm = 500000L,
        alphaPpm = 50000L)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("day"))
    },
    // Anytime-valid confidence sequence for the MEAN (Experiments
    // .eProcessMeanCs): the running always-valid band for mean
    // cent-value as a share of the declared $1000 bound — 99
    // percent-grid candidates each run two betting wealths (above/
    // below, α/2 each, λ capped per candidate at the WSR positivity
    // bound), rejection latches, intervals only shrink, the whole
    // path covers at 95%. The value-metric completion of
    // a_eprocess_cs.
    "a_eprocess_mean_cs" -> { (s, dir) =>
      Experiments.eProcessMeanCsFromCells(
        valueGridCells(s, dir),
        lambdaPpm = 500000L,
        alphaPpm = 50000L)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("day"))
    },
    // Anytime-valid confidence sequence for the MEDIAN (Experiments
    // .eProcessMedianCs): the sign-test member of the CS family and
    // the FOURTH consumer of the shared (day, v, n) value grid — per
    // candidate m, two one-sided Bernoulli bets at p0 = 1/2 (under
    // H0 "median = m" both P(Y>m) and P(Y<m) are ≤ 1/2 for ANY
    // distribution, ties included), so the band holds with no
    // moment assumption at all — the location readout a heavy tail
    // can't drag. Cheapest member: two shared micro-nat constants,
    // zero ln calls in-plan.
    "a_eprocess_median_cs" -> { (s, dir) =>
      Experiments.eProcessMedianCsFromCells(
        valueGridCells(s, dir),
        lambdaPpm = 500000L,
        alphaPpm = 50000L)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("day"))
    },
    // The same sign-test machinery at q = 90% (Experiments
    // .eProcessQuantileCsFromCells): the always-valid TAIL band — is
    // p90 cent-value drifting up? — the tail-latency/tail-cost
    // readout a mean monitor can't see, distribution-free like the
    // median band (fifth consumer of the shared value grid).
    "a_eprocess_p90_cs" -> { (s, dir) =>
      Experiments.eProcessQuantileCsFromCells(
        valueGridCells(s, dir),
        qPpm = 900000L,
        lambdaPpm = 500000L,
        alphaPpm = 50000L)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("day"))
    },
    // Anytime-valid DIFFERENCE band (Experiments.eProcessDiffBand):
    // each parity arm runs its own purchase-rate confidence sequence
    // at alpha/2; the union bound makes [loA−hiB, hiA−loB] a
    // time-uniform 90% band for p_A − p_B — the always-valid effect
    // size beside a_eprocess_ab's always-valid test.
    "a_eprocess_diff" -> { (s, dir) =>
      Experiments.eProcessDiffBand(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull
            && col("event_type").isNotNull),
        col("user_id"),
        col("user_id") % 2 === 0,
        col("event_type") === "purchase",
        to_date(col("ts")),
        lambdaPpm = 500000L,
        alphaPpm = 100000L)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("day"))
    },
    // Two-sample anytime-valid A/B monitor (Experiments
    // .eProcessTwoSample): bet on the arm label of each purchase —
    // under H0 "equal purchase rates" with the 50/50 parity design,
    // successes are arm-A with probability exactly 1/2, so the
    // one-sample wealth chassis runs verbatim with p0 = pi_A.
    "a_eprocess_ab" -> { (s, dir) =>
      Experiments.eProcessTwoSample(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("ts").isNotNull
            && col("event_type").isNotNull),
        col("user_id"),
        col("user_id") % 2 === 0,
        col("event_type") === "purchase",
        to_date(col("ts")),
        piAPpm = 500000L,
        lambdaPpm = 200000L,
        alphaPpm = 50000L)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy(col("day"))
    },
    // Winsorized + trimmed per-arm means (Experiments.winsorizedMeans):
    // the heavy-tail-robust readout for the parity arms' cent values —
    // pooled exact order-statistic cutoffs at 1%/99% (identical clamps
    // for both arms), clamped and dropped-tail means in exact micro
    // cents; the whale-proof metric every raw arm mean needs beside it.
    "a_winsorized" -> { (s, dir) =>
      Experiments.winsorizedMeans(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("value").isNotNull),
        when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
        round(col("value") * 100.0, 0).cast("long"),
        loPpm = 10000L,
        hiPpm = 990000L)
    },
    // One-way ANOVA (Experiments.oneWayAnova): does mean cent value
    // differ across the 5 event types? SSB/SSW from one moment pass,
    // large-sample chi-square significance vs the dof-4 literal.
    "a_anova" -> { (s, dir) =>
      Experiments.oneWayAnova(
        t(s, dir, "events").filter(col("value").isNotNull),
        col("event_type"),
        round(col("value") * 100.0, 0).cast("long"))
    },
    // Kruskal-Wallis (Experiments.kruskalWallis): the k-armed
    // nonparametric test on the doubled-mid-rank chassis — did ANY
    // event type's value distribution shift?
    "a_kruskal" -> { (s, dir) =>
      Experiments.kruskalWallis(
        t(s, dir, "events")
          .filter(col("event_type").isNotNull && col("value").isNotNull),
        col("event_type"),
        round(col("value") * 100.0, 0).cast("long"))
    },
    // McNemar's paired binary test (Experiments.mcnemar): per user,
    // did the any-high-value flag flip between the two fortnights?
    // Only discordant pairs carry information.
    "a_mcnemar" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          max(
            when(
              col("ts") < lit("2024-01-16").cast("timestamp") && col("value") > 140.0,
              1L).otherwise(0L)).as("pre"),
          max(
            when(
              col("ts") >= lit("2024-01-16").cast("timestamp") && col("value") > 140.0,
              1L).otherwise(0L)).as("post"))
      Experiments.mcnemar(per, col("pre") === 1L, col("post") === 1L)
    },
    // Brown-Forsythe variance-equality gate (Experiments.brownForsythe):
    // ANOVA on |y - median_arm| — are the event types' SPREADS equal?
    "a_levene_bf" -> { (s, dir) =>
      Experiments.brownForsythe(
        t(s, dir, "events")
          .filter(col("event_type").isNotNull && col("value").isNotNull),
        col("event_type"),
        round(col("value") * 100.0, 0).cast("long"))
    },
    // FK-containment discovery (Checks.fkContainment): candidate
    // join-key pairs measured as child-distinct containment in the
    // parent — clean FKs read 1e6 ppm, the reversed direction names
    // its orphan mass.
    "dq_fk_candidates" -> { (s, dir) =>
      def cand(label: String, c: DataFrame, ck: String, p: DataFrame, pk: String) =
        Checks.fkContainment(c, col(ck), p, col(pk))
          .select(lit(label).as("candidate"), col("n_child_distinct"),
            col("n_contained"), col("containment_ppm"))
      cand("events_user__customer", t(s, dir, "events"), "user_id",
          t(s, dir, "customer"), "c_custkey")
        .unionByName(cand("lineitem_part__part", t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey"))
        .unionByName(cand("customer_nation__nation", t(s, dir, "customer"), "c_nationkey",
          t(s, dir, "nation"), "n_nationkey"))
        .unionByName(cand("orders_cust__events_user", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "events"), "user_id"))
        .orderBy(col("candidate"))
    },
    // Functional-dependency audit (Checks.fdViolations): does the
    // order key determine the return flag (it should not — orders
    // carry mixed-flag lines), and does nation determine region
    // (it must)? Violating keys + rows at risk, exactly.
    "dq_fd_check" -> { (s, dir) =>
      def fd(label: String, d: DataFrame, x: String, y: String) =
        Checks.fdViolations(d, col(x), col(y))
          .select(lit(label).as("fd"), col("n_keys"), col("n_violating_keys"),
            col("n_rows_at_risk"), col("fd_holds"))
      fd("order_to_flag", t(s, dir, "lineitem"), "l_orderkey", "l_returnflag")
        .unionByName(fd("nation_to_region", t(s, dir, "nation"),
          "n_nationkey", "n_regionkey"))
        .orderBy(col("fd"))
    },
    // Exact-size stratified draw (Sampling.stratifiedDraw): the
    // largest-remainder quotas FILLED by per-stratum md5-hash rank —
    // a deterministic 100-row audit sample whose strata match the
    // corpus mix exactly.
    "s_quota_draw" -> { (s, dir) =>
      Sampling
        .stratifiedDraw(
          t(s, dir, "events").filter(col("event_type").isNotNull && col("event_id").isNotNull),
          col("event_type"),
          col("event_id"),
          100L)
        .orderBy(col("stratum"), col("draw_rank"))
    },
    // Median with order-statistic CI (Relational.medianWithCi): per
    // event type, the cent-value median and its distribution-free
    // 95% interval — the exact error bar next to every group median.
    "a_median_ci" -> { (s, dir) =>
      Relational
        .medianWithCi(
          t(s, dir, "events").filter(col("event_type").isNotNull && col("value").isNotNull),
          col("event_type"),
          round(col("value") * 100.0, 0).cast("long"))
        .orderBy(col("group"))
    },
    // Hill tail-index (Series.hillTailIndex): how heavy is the order
    // price tail — alpha from the top-100 order statistics; alpha <=
    // 2 would mean infinite variance and ban mean-based stats on the
    // column.
    "a_hill_tail" -> { (s, dir) =>
      Series.hillTailIndex(
        t(s, dir, "orders"),
        round(col("o_totalprice") * 100.0, 0).cast("long"),
        100)
    },
    // Inter-arrival-time entropy (Series.iatEntropy): per-user gap
    // entropy over log2 buckets — the metronome/bot fingerprint next
    // to Fano burstiness and Markov transition loops.
    "w_iat_entropy" -> { (s, dir) =>
      Series
        .iatEntropy(
          t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"))
        .orderBy(col("key"))
    },
    // l-diversity audit (Checks.lDiversity): QI groups whose
    // sensitive balance-bin diversity is under l=3 — the attribute-
    // disclosure worklist k-anonymity misses.
    "dq_l_diversity" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      Checks
        .lDiversity(
          c,
          Seq("seg" -> col("c_mktsegment"), "nat" -> col("c_nationkey")),
          expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000"),
          6L)
        .orderBy(col("seg"), col("nat"))
    },
    // t-closeness audit (Checks.tCloseness): per QI group, exact-
    // integer EMD between the group's balance-bin distribution and
    // the corpus's — the distribution-disclosure gate l-diversity
    // misses.
    "dq_t_closeness" -> { (s, dir) =>
      val c = t(s, dir, "customer")
      Checks
        .tCloseness(
          c,
          Seq("seg" -> col("c_mktsegment"), "nat" -> col("c_nationkey")),
          expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000"))
        .orderBy(col("seg"), col("nat"))
    },
    // Association rules (Relational.associationRules): co-purchased
    // part pairs with support/confidence/lift — top 20 by (lift desc,
    // pair), pair floor 3 baskets.
    "a_basket_rules" -> { (s, dir) =>
      Relational
        .associationRules(
          t(s, dir, "lineitem"),
          col("l_orderkey"),
          col("l_partkey"),
          minPairCount = 3L)
        .orderBy(col("lift6").desc, col("item_a"), col("item_b"))
        .limit(20)
    },
    // Markov NLL anomaly scoring (Series.markovNll): each user's
    // event sequence scored by mean micro-nat NLL under the corpus's
    // own transition model — the model-based bot detector.
    "w_markov_nll" -> { (s, dir) =>
      Series
        .markovNll(
          t(s, dir, "events"),
          col("user_id"),
          Seq(col("ts"), col("event_id")),
          col("event_type"))
        .orderBy(col("key"))
    },
    // Pairwise Cramér's V matrix (Checks.chiSquareIndependence x3):
    // the categorical-association profile across lang, source and a
    // length bucket — which columns entangle.
    "a_cramers_matrix" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .withColumn("len_bucket", expr("CAST(n_chars div 200 AS BIGINT)"))
      def pair(label: String, a: String, b: String) =
        Checks.chiSquareIndependence(d, col(a), col(b))
          .select(lit(label).as("pair"), col("n_rows"), col("dof"),
            col("chi26"), col("cramer_v6"))
      pair("lang_source", "lang", "source")
        .unionByName(pair("lang_len", "lang", "len_bucket"))
        .unionByName(pair("source_len", "source", "len_bucket"))
        .orderBy(col("pair"))
    },
    // Time-weighted average (Series.twap): per-user cent value
    // weighted by how long each observation was current — the honest
    // mean of an irregularly-sampled signal (plain AVG over-weights
    // bursts).
    "w_twap" -> { (s, dir) =>
      Series
        .twap(
          t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100.0, 0).cast("long"))
        .orderBy(col("key"))
    },
    // Wald SPRT (Experiments.sprtBernoulli): per event type, the
    // always-on sequential monitor of the high-value rate — H0 p=0.3
    // vs H1 p=0.4, first boundary crossing in arrival order.
    "a_sprt" -> { (s, dir) =>
      Experiments
        .sprtBernoulli(
          t(s, dir, "events")
            .filter(col("value").isNotNull && col("ts").isNotNull && col("event_id").isNotNull),
          col("event_type"),
          Seq(col("ts"), col("event_id")),
          (col("value") > 50.0).cast("long"),
          p0 = 0.3, p1 = 0.4)
        .orderBy(col("group"))
    },
    // Capture-recapture dedup coverage (Dedup.captureRecapture):
    // estimate the TRUE near-dup pair count from how much the lexical
    // (n-gram Jaccard) and bit-sketch (SimHash) detectors overlap —
    // recall measurement with NO planted truth.
    "dd_capture_recapture" -> { (s, dir) =>
      Dedup.captureRecapture(
        docNgramPairs(s, dir),
        Dedup.simhashNearDupPairs(t(s, dir, "documents"), "text", "doc_id", 2, 8))
    },
    // BH step-up FDR (Experiments.bhStepUp): the five per-event-type
    // z-tests corrected for multiple testing at q=0.05 with literal
    // per-rank chi-square thresholds (m=5 fixed at authoring time).
    "a_bh_fdr" -> { (s, dir) =>
      val tests = Experiments.twoProportionZ(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("value").isNotNull),
        col("event_type"),
        when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
        (col("value") > 50.0).cast("long"))
      Experiments
        .bhStepUp(
          tests, col("group"), col("z2_6"), col("group"),
          Seq(6634897L, 5411894L, 4709292L, 4217885L, 3841459L))
        .orderBy(col("rank"))
    },
    // Holm step-down (Experiments.holmStepDown): the FWER correction
    // over the same 5-test family a_bh_fdr screens — reject ranks
    // strictly before the FIRST failure against chi2_1(alpha/(m-i+1))
    // literals; the ship/no-ship discipline where one false
    // rejection is the disaster.
    "a_holm" -> { (s, dir) =>
      val tests = Experiments.twoProportionZ(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("value").isNotNull),
        col("event_type"),
        when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
        (col("value") > 50.0).cast("long"))
      Experiments
        .holmStepDown(
          tests, col("group"), col("z2_6"), col("group"),
          Seq(6634897L, 6238533L, 5731139L, 5023886L, 3841459L))
        .orderBy(col("rank"))
    },
    // Cochran's Q (Experiments.cochranQ): per user, did the
    // any-high-value flag differ across January's three decades —
    // McNemar generalized to k=3 repeated measurements.
    "a_cochran_q" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          max(when(col("ts") < lit("2024-01-11").cast("timestamp")
            && col("value") > 140.0, 1L).otherwise(0L)).as("p1"),
          max(when(col("ts") >= lit("2024-01-11").cast("timestamp")
            && col("ts") < lit("2024-01-21").cast("timestamp")
            && col("value") > 140.0, 1L).otherwise(0L)).as("p2"),
          max(when(col("ts") >= lit("2024-01-21").cast("timestamp")
            && col("value") > 140.0, 1L).otherwise(0L)).as("p3"))
      val long = per.select(
        col("user_id"),
        explode(array(
          struct(lit("p1").as("t"), col("p1").as("x")),
          struct(lit("p2").as("t"), col("p2").as("x")),
          struct(lit("p3").as("t"), col("p3").as("x")))).as("e"))
        .select(col("user_id"), col("e.t").as("t"), col("e.x").as("x"))
      Experiments.cochranQ(long, col("user_id"), col("t"), col("x"))
    },
    // Runs test (Experiments.runsTest): is the even/odd-user A/B
    // assignment SEQUENCE random per event type, not just balanced?
    // The randomization audit marginal rates can't see.
    "a_runs_test" -> { (s, dir) =>
      Experiments
        .runsTest(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("ts").isNotNull && col("event_id").isNotNull),
          col("event_type"),
          Seq(col("ts"), col("event_id")),
          col("user_id") % 2 === 0)
        .orderBy(col("group"))
    },
    // Fleiss' kappa (Experiments.fleissKappa): three cheap language
    // raters (full text, 80-char and 40-char prefixes) judged as a
    // PANEL — the multi-rater labeling-QA statistic next to a_kappa.
    "a_fleiss_kappa" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val long = d.select(
        col("doc_id"),
        explode(array(
          TextAnalysis.langId(col("text"), SparkEntry.langMarkers),
          TextAnalysis.langId(substring(col("text"), 1, 80), SparkEntry.langMarkers),
          TextAnalysis.langId(substring(col("text"), 1, 40), SparkEntry.langMarkers)))
          .as("cat"))
      Experiments.fleissKappa(long, col("doc_id"), col("cat"))
    },
    // Mood's median test (composition): above/below the grand cent
    // median per event type, then the chi-square independence gate —
    // the quick-and-robust k-sample location check.
    "a_mood_median" -> { (s, dir) =>
      val base = t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type"), round(col("value") * 100.0, 0).cast("long").as("v"))
      // grand median off the distinct-value count grid + the
      // range-partitioned prefix sum — never a full-table
      // row_number().over(Window.orderBy(...)) (ONE task holding
      // every event at corpus scale): the grid is bounded by the
      // cent-value DOMAIN, and the lower median is the unique value
      // whose cumulative range covers rank (n+1) div 2
      val counts = base.groupBy(col("v")).agg(count(lit(1)).as("t"))
      val tot = broadcast(counts.agg(sum(col("t")).as("n")))
      val med = broadcast(
        Relational.globalCumSum(counts, Seq(col("v")), "t", "__below")
          .crossJoin(tot)
          .filter(
            col("__below") < expr("CAST((n + 1) div 2 AS BIGINT)") &&
              expr("CAST((n + 1) div 2 AS BIGINT)") <= col("__below") + col("t"))
          .select(col("v").as("med")))
      Checks.chiSquareIndependence(
        base.crossJoin(med),
        col("event_type"),
        col("v") > col("med"))
    },
    // Friedman test + Kendall's W (Experiments.friedman): did each
    // user's spend MIX shift across January's three decades? Within-
    // unit ranks cancel the 100x between-user volume differences.
    "a_friedman" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts") < lit("2024-01-11").cast("timestamp"),
            round(col("value") * 100.0, 0).cast("long")).otherwise(0L)).as("p1"),
          sum(when(col("ts") >= lit("2024-01-11").cast("timestamp")
            && col("ts") < lit("2024-01-21").cast("timestamp"),
            round(col("value") * 100.0, 0).cast("long")).otherwise(0L)).as("p2"),
          sum(when(col("ts") >= lit("2024-01-21").cast("timestamp"),
            round(col("value") * 100.0, 0).cast("long")).otherwise(0L)).as("p3"))
      val long = per.select(
        col("user_id"),
        explode(array(
          struct(lit("p1").as("t"), col("p1").as("x")),
          struct(lit("p2").as("t"), col("p2").as("x")),
          struct(lit("p3").as("t"), col("p3").as("x")))).as("e"))
        .select(col("user_id"), col("e.t").as("t"), col("e.x").as("x"))
      Experiments.friedman(long, col("user_id"), col("t"), col("x"))
    },
    // Jonckheere-Terpstra ordered k-arm trend (Experiments
    // .jonckheereTerpstra): do cent values shift upward across the
    // five calendar weeks? The continuous sibling of a_ca_trend and
    // the ordered upgrade of a_kruskal, with the full Lehmann
    // tie-corrected variance in exact integers.
    "a_jonckheere" -> { (s, dir) =>
      Experiments.jonckheereTerpstra(
        t(s, dir, "events").filter(col("ts").isNotNull && col("value").isNotNull),
        lit(1L) +
          expr("CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') div 7 AS BIGINT)"),
        round(col("value") * 100.0, 0).cast("long"))
    },
    // Page's L ordered trend (Experiments.pageTrend): the a_friedman
    // panel re-asked with the ORDER HYPOTHESIS "spend rises across
    // the three decades" — Page spends its one df on that order and
    // beats the omnibus Friedman when the order is right.
    "a_page_trend" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull && col("ts").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ts") < lit("2024-01-11").cast("timestamp"),
            round(col("value") * 100.0, 0).cast("long")).otherwise(0L)).as("p1"),
          sum(when(col("ts") >= lit("2024-01-11").cast("timestamp")
            && col("ts") < lit("2024-01-21").cast("timestamp"),
            round(col("value") * 100.0, 0).cast("long")).otherwise(0L)).as("p2"),
          sum(when(col("ts") >= lit("2024-01-21").cast("timestamp"),
            round(col("value") * 100.0, 0).cast("long")).otherwise(0L)).as("p3"))
      val long = per.select(
        col("user_id"),
        explode(array(
          struct(lit(1L).as("t"), col("p1").as("x")),
          struct(lit(2L).as("t"), col("p2").as("x")),
          struct(lit(3L).as("t"), col("p3").as("x")))).as("e"))
        .select(col("user_id"), col("e.t").as("t"), col("e.x").as("x"))
      Experiments.pageTrend(long, col("user_id"), col("t"), col("x"))
    },
    // ROC-AUC via the rank identity (Evaluation.rocAuc): how well
    // does the cent value separate purchases from everything else?
    // AUC = U+/(n+ n-) on the doubled-mid-rank chassis — the
    // trapezoidal ROC area without materializing the curve.
    "a_roc_auc" -> { (s, dir) =>
      Evaluation.rocAuc(
        t(s, dir, "events")
          .filter(col("event_type").isNotNull && col("value").isNotNull),
        col("event_type") === "purchase",
        round(col("value") * 100.0, 0).cast("long"))
    },
    // Reliability bins (Evaluation.calibrationBins): read the capped
    // cent value as a pseudo-probability of purchase and audit each
    // decile's claimed confidence against its observed rate.
    "a_calibration" -> { (s, dir) =>
      Evaluation
        .calibrationBins(
          t(s, dir, "events")
            .filter(col("event_type").isNotNull && col("value").isNotNull),
          col("event_type") === "purchase",
          least(lit(1000000L), round(col("value") * 100.0, 0).cast("long") * 100L),
          10)
        .select(col("bin"), col("n"), col("x"), col("conf6"), col("acc6"), col("gap6"))
    },
    // ECE + Brier (Evaluation.calibrationSummary): the one-row
    // calibration verdict derived from the bin grid's sufficient
    // statistics — zero extra corpus scans.
    "a_brier_ece" -> { (s, dir) =>
      Evaluation.calibrationSummary(
        Evaluation.calibrationBins(
          t(s, dir, "events")
            .filter(col("event_type").isNotNull && col("value").isNotNull),
          col("event_type") === "purchase",
          least(lit(1000000L), round(col("value") * 100.0, 0).cast("long") * 100L),
          10))
    },
    // Quantile treatment effects (Experiments
    // .quantileTreatmentEffect): WHERE did the A/B distributions
    // move — exact order-statistic probes per arm at each decile,
    // integer differences; the readout a mean test dilutes.
    "a_qte" -> { (s, dir) =>
      Experiments.quantileTreatmentEffect(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("value").isNotNull),
        when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
        round(col("value") * 100.0, 0).cast("long"),
        10)
    },
    // Youden-J optimal threshold (Evaluation.youdenThreshold): where
    // to CUT the purchase score — max TPR-FPR over every distinct
    // threshold via the descending rank chassis, plus the signed
    // MCC^2 at the chosen operating point.
    "a_youden" -> { (s, dir) =>
      Evaluation.youdenThreshold(
        t(s, dir, "events")
          .filter(col("event_type").isNotNull && col("value").isNotNull),
        col("event_type") === "purchase",
        round(col("value") * 100.0, 0).cast("long"))
    },
    // Gains/lift table (Evaluation.gainsTable): rank users by total
    // spend, slice into deciles — how concentrated are the buyers in
    // the top of the score? Range-partitioned ranks, exact
    // cross-product lift, k-bounded cumulative gains.
    "a_gains" -> { (s, dir) =>
      val per = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull
          && col("event_type").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("buyer"))
      Evaluation.gainsTable(per, col("buyer") === 1L, col("cents"), col("user_id"), 10)
    },
    // Isotonic calibration map (Evaluation.isotonicCalibration): the
    // FIX for what a_brier_ece diagnoses — the best monotone
    // bin-to-rate mapping via the PAV minimax identity, pure
    // grid-bounded joins.
    "a_isotonic" -> { (s, dir) =>
      Evaluation.isotonicCalibration(
        Evaluation.calibrationBins(
          t(s, dir, "events")
            .filter(col("event_type").isNotNull && col("value").isNotNull),
          col("event_type") === "purchase",
          least(lit(1000000L), round(col("value") * 100.0, 0).cast("long") * 100L),
          10))
    },
    // Murphy decomposition (Evaluation.brierDecomposition): WHY the
    // Brier score is what it is — reliability vs resolution vs
    // irreducible uncertainty, separating "calibrated" from
    // "useful"; pico-scaled exact cross-products off the bin grid.
    "a_brier_decomp" -> { (s, dir) =>
      Evaluation.brierDecomposition(
        Evaluation.calibrationBins(
          t(s, dir, "events")
            .filter(col("event_type").isNotNull && col("value").isNotNull),
          col("event_type") === "purchase",
          least(lit(1000000L), round(col("value") * 100.0, 0).cast("long") * 100L),
          10))
    },
    // Odds ratio with Wald CI (Experiments.oddsRatio): the 2x2
    // effect-size readout next to a_ab_test's significance —
    // Haldane-Anscombe half-unit cells keep zeros finite.
    "a_odds_ratio" -> { (s, dir) =>
      Experiments
        .oddsRatio(
          t(s, dir, "events")
            .filter(col("user_id").isNotNull && col("value").isNotNull),
          col("event_type"),
          when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")),
          (col("value") > 50.0).cast("long"))
        .orderBy(col("group"))
    },
    // Cliff's delta (composition off mannWhitneyU's doubled U):
    // the ordinal effect size — P(click > purchase) - P(purchase >
    // click) in exact micro-units.
    "a_cliffs_delta" -> { (s, dir) =>
      Experiments
        .mannWhitneyU(
          t(s, dir, "events")
            .filter(col("event_type").isin("click", "purchase") && col("value").isNotNull),
          col("event_type"),
          round(col("value") * 100.0, 0).cast("long"))
        .select(
          col("side_a"), col("side_b"), col("n_a"), col("n_b"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * u2x) " +
            "div (CAST(n_a AS DECIMAL(38,0)) * n_b) - 1000000 AS BIGINT)").as("delta6"))
    },
    // Retention cohorts: users cohorted by first-activity week, then
    // distinct actives per (cohort, week offset) — exact counts on
    // epoch-aligned integer week indexes (one min-agg + one join +
    // one count-distinct, all on the user key's partitioning)
    "a_retention" -> { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cwk"))
      e.join(cohort, "user_id")
        .groupBy(col("cwk"), (col("wk") - col("cwk")).as("offset_weeks"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(
          date_format(timestamp_micros(col("cwk") * 604800000000L), "yyyy-MM-dd")
            .as("cohort_week"),
          col("offset_weeks"),
          col("n_users"))
        .orderBy(col("cohort_week"), col("offset_weeks"))
    },
    // N-gram novelty: fraction of each doc's distinct trigrams that
    // appear NOWHERE else in the corpus — the diversity complement of
    // the repetition filter (near-zero novelty = templated/boilerplate
    // docs). Two-phase shingle df (the WordShingles kernel feeds both
    // sides), never a pair join
    "t_ngram_novelty" -> { (s, dir) =>
      // persisted: the df-count aggregate and the probe side read ONE
      // scan + shingle-kernel pass (the Dedup caching contract —
      // unpersisted, the corpus would tokenize/shingle twice)
      val sh = Dedup.shingleTable(t(s, dir, "documents"), "text", "doc_id", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfc = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      sh.join(dfc, "shingle")
        .groupBy(col("id"))
        .agg(
          count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(
          col("id").as("doc_id"),
          col("n_shingles"),
          col("n_unique"),
          (col("n_unique").cast("double") / col("n_shingles").cast("double")).as("novelty"))
        .orderBy(col("doc_id"))
    },
    // Skew-resistant salted join: events salt on event_id, the
    // customer dim replicates into 8 buckets — results identical to
    // the plain join (oracle is the plain join), the plan spreads a
    // hot user over 8 reducers (Relational.saltedJoin)
    "j_salted_join" -> { (s, dir) =>
      Relational
        .saltedJoin(
          t(s, dir, "events"),
          t(s, dir, "customer")
            .select(col("c_custkey").as("user_id"), col("c_mktsegment")),
          "user_id",
          col("event_id"),
          saltBuckets = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("c_mktsegment"))
    },
    // CDC apply: first-seen value per user forms the base snapshot,
    // the second half of the event stream becomes a changelog where
    // errors are DELETEs — latest change per key wins, a winning
    // delete removes the key (Relational.applyChanges)
    "i_cdc_apply" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val base = Relational
        .dedupeFirstWins(
          ev.filter(col("event_id") < 5000),
          Seq(col("user_id")),
          Seq(col("event_id")))
        .select(col("user_id"), col("value"))
      val changes = ev
        .filter(col("event_id") >= 5000)
        .select(
          col("user_id"),
          col("value"),
          when(col("event_type") === "error", "delete").otherwise("upsert").as("op"),
          col("event_id").as("seq"))
      Relational
        .applyChanges(base, changes, Seq("user_id"), Seq("value"), "op", "seq")
        .orderBy(col("user_id"))
    },
    // Z-order layout effectiveness: bucket lineitem under (a) a
    // Morton key over (l_partkey, l_suppkey) and (b) the natural
    // l_orderkey order, collect per-bucket min/max footer stats, and
    // count buckets a partkey range-scan must touch. The z-order
    // layout prunes multi-dimensionally — the lakehouse OPTIMIZE
    // ZORDER primitive, measured rather than asserted
    // (Layout.zValue/skippingReport)
    "o_zorder_skipping" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val z = Layout.zValue(col("l_partkey"), col("l_suppkey"), 10)
      Layout
        .skippingReport(
          li, "zorder", shiftright(z, 11), col("l_partkey"), 100L, 200L)
        .unionByName(
          Layout.skippingReport(
            li,
            "natural",
            shiftright(col("l_orderkey"), 8),
            col("l_partkey"),
            100L,
            200L))
        .orderBy(col("layout"))
    },
    // Epoch plan for data mixing: per-source token counts →
    // temperature-weighted share of a 1M-token budget → epochs per
    // source capped at 4 (repeat scarce sources; data-constrained
    // scaling, Muennighoff et al. 2023). Group-bounded driver
    // bootstrap, sorted-order normalizer fold, micro-unit BIGINT
    // outputs (Sampling.epochPlan)
    "s_epoch_plan" -> { (s, dir) =>
      Sampling
        .epochPlan(
          t(s, dir, "documents"),
          col("source"),
          TextFns.wordCount(col("text")),
          alpha = 0.7,
          budget = 1000000.0,
          maxEpochs = 4.0)
        .withColumnRenamed("group", "source")
        .orderBy(col("source"))
    },
    // Column profiling (the data-catalog pass): null count, exact
    // distinct count, modal value per column — one stacked scan into
    // a (column, value, n) counts table, stats as rollups of it
    // (Checks.profile)
    "dq_profile" -> { (s, dir) =>
      Checks
        .profile(
          t(s, dir, "orders"),
          Seq("o_custkey", "o_orderpriority", "o_orderstatus"))
        .withColumnRenamed("column", "col_name")
        .orderBy(col("col_name"))
    },
    // Key-skew summary (Checks.skewReport): the pre-flight whale-key
    // check for a shuffle key — exact integer order statistics over
    // the count-of-counts histogram, no global sort, no approx
    "dq_skew_report" -> { (s, dir) =>
      Checks.skewReport(t(s, dir, "events"), col("user_id"))
    },
    // The named offenders: 10 heaviest user_ids with exact counts and
    // micro-unit table share (Checks.skewTopKeys)
    "dq_skew_topk" -> { (s, dir) =>
      Checks.skewTopKeys(t(s, dir, "events"), col("user_id"), 10)
    },
    // Artifact coverage audit (Checks.coverageAudit): after a
    // postings build, reconcile indexed doc ids against the corpus —
    // the non-empty docs must ALL be indexed, nothing else may be.
    // The oracle recomputes the expected sets independently.
    "dq_index_coverage" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      // read-only consumer of the SHARED postings base
      val idxPath = postingsBase(s, dir)
      Checks.coverageAudit(
        docs.filter(length(trim(col("text"))) > 0),
        col("doc_id"),
        graft.sources.Io.readPostings(s, idxPath),
        col("id"))
    },
    // Distribution drift per source (Checks.ksDrift): max CDF gap of
    // each source's quality-score distribution vs the corpus over 20
    // fixed buckets — exact integer CDFs, the numeric-score member of
    // the drift family (tokens: t_source_kl; embeddings:
    // v_embed_drift). Quality derives from the shared engine
    // constants, so engine and oracle cannot desynchronize.
    "dq_dist_drift" -> { (s, dir) =>
      val scored = t(s, dir, "documents")
        .select(
          col("source"),
          TextAnalysis
            .qualityScore(col("text"), SparkEntry.qualityStops)
            .as("q"))
      Checks
        .ksDrift(scored, col("source"), col("q"), 0.0, 1.0, 20)
        .select(col("group").as("source"), col("n"), col("ks6"), col("ks"))
        .orderBy(col("source"))
    },
    // Ingest-volume anomaly gate (Checks.volumeAnomaly): each
    // (event_type, day)'s row count z-scored against the type's
    // trailing 7 days — the "did a source silently halve / a bot 10×
    // a feed" pre-training check. One hash-agg shrinks events to the
    // count table BEFORE any window; z = (w·n−sum)/sqrt(w·sumsq−sum²)
    // — two BIGINTs into one sqrt and one division; warm-up and
    // flat-history rows carry NULL z and are unflagged.
    "dq_volume_anomaly" -> { (s, dir) =>
      Checks
        .volumeAnomaly(
          t(s, dir, "events")
            .withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
          col("event_type"),
          col("day"),
          window = 7,
          minWindow = 3,
          zThreshold = 3.0)
        .orderBy(col("grp"), col("bucket"))
    },
    // CUSUM drift monitor over the same daily count table
    // (Checks.cusum — Page 1954): accumulates SUSTAINED level shifts
    // the per-day z-score never flags; group-mean reference and the
    // [S, maxS] fold all in exact micro-unit BIGINTs, order-pinned by
    // the bucket sort
    "w_cusum" -> { (s, dir) =>
      Checks
        .cusum(
          t(s, dir, "events")
            .groupBy(
              col("event_type").cast("string").as("grp"),
              date_format(col("ts"), "yyyy-MM-dd").as("bucket"))
            .agg(count(lit(1)).as("n")))
        .orderBy(col("grp"))
    },
    // Page-Hinkley drift monitor (Checks.pageHinkley) over the same
    // daily count table: running-mean reference (no baseline
    // parameter), [i, S, m, min_m, max_ph] fold in exact micro-unit
    // BIGINTs, one truncating division per step off the exact prefix
    // sum — order-pinned by the bucket sort, list_reduce oracle.
    "w_page_hinkley" -> { (s, dir) =>
      Checks
        .pageHinkley(
          t(s, dir, "events")
            .groupBy(
              col("event_type").cast("string").as("grp"),
              date_format(col("ts"), "yyyy-MM-dd").as("bucket"))
            .agg(count(lit(1)).as("n")),
          0L,
          20000000L)
        .orderBy(col("grp"))
    },
    // Kendall's tau-b (Checks.kendallTauB): does spend trend across
    // January, scored purely by concordant vs discordant pairs on
    // the gap-filled ($10-bucket x day) count grid — concordance
    // from partitioned prefix scans, never a pair join; exact tau-a
    // and the signed square of tau-b (no runtime sqrt).
    "a_kendall_tau" -> { (s, dir) =>
      Checks.kendallTauB(
        t(s, dir, "events")
          .filter(col("value").isNotNull && col("ts").isNotNull),
        expr("CAST(round(value * 100) AS BIGINT) div 1000"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS BIGINT)"))
    },
    // Krippendorff's alpha, nominal (Experiments.krippendorffAlpha):
    // do a user's events agree on one type? The missing-data
    // inter-rater statistic — units carry RAGGED rating counts,
    // single-event users drop out of both disagreement and margins.
    "a_krippendorff" -> { (s, dir) =>
      Experiments.krippendorffAlpha(
        t(s, dir, "events")
          .filter(col("user_id").isNotNull && col("event_type").isNotNull),
        col("user_id"),
        col("event_type"))
    },
    // Data-quality gate report (the dbt-tests / expectations
    // primitive): domain/positivity/not-null row checks share ONE
    // aggregate pass over orders, uniqueness is a key-count agg,
    // the FK check is a left-anti join against customer — every
    // check surveyed in one report instead of a fail-fast assert
    // (operators/Checks.scala)
    "dq_checks" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      Checks
        .rowChecks(
          orders,
          Seq(
            "orders_status_domain" ->
              col("o_orderstatus").isin("O", "F", "P"),
            "orders_positive_price" -> (col("o_totalprice") > 0),
            "orders_date_not_null" -> col("o_orderdate").isNotNull))
        .unionByName(
          Checks.uniqueCheck(orders, "orders_unique_key", Seq(col("o_orderkey"))))
        .unionByName(
          Checks.referentialCheck(
            orders,
            col("o_custkey"),
            t(s, dir, "customer"),
            col("c_custkey"),
            "orders_custkey_fk"))
        .orderBy(col("check_name"))
    },
    // Incremental aggregate maintenance: the per-user (count, spend)
    // materialized view built from history (event_id < 5000) is
    // REFRESHED with the new batch's delta aggregate — raw history is
    // never re-scanned (Relational.mergeAggDelta). The oracle
    // recomputes from ALL events, so the green check IS the
    // incremental == full-recompute theorem for these aggregates
    // Incremental JOIN maintenance — the join-delta algebra next to
    // i_incr_agg's aggregate deltas: for an append-only fact table
    // and a frozen dimension, Δ(F ⋈ D) = ΔF ⋈ D, so the maintained
    // enriched artifact appends ONLY the delta's join output — the
    // fact history is never re-scanned and never re-joined. (A
    // CHANGING dimension voids the identity; that case routes through
    // the upsert family's seq-versioned last-wins reads instead.)
    // Done-bar: the consumer aggregate off the artifact equals a
    // full-recompute join, which is exactly the oracle.
    "i_incr_join" -> { (s, dir) =>
      val jPath = s"/tmp/graft_idx/incrjoin_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      def enrich(o: DataFrame) = o
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(
          col("o_orderkey"),
          col("o_totalprice"),
          col("c_nationkey"),
          col("c_mktsegment"))
      val ord = t(s, dir, "orders")
      enrich(ord.filter(col("o_orderkey") % 3 =!= 0))
        .write.mode("overwrite").parquet(jPath)
      enrich(ord.filter(col("o_orderkey") % 3 === 0))
        .write.mode("append").parquet(jPath)
      s.read.parquet(jPath)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    },
    "i_incr_agg" -> { (s, dir) =>
      val ev = t(s, dir, "events").filter(col("event_type") === "purchase")
      def agg(df: DataFrame) = df
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("spend"))
      Relational
        .mergeAggDelta(
          agg(ev.filter(col("event_id") < 5000)),
          agg(ev.filter(col("event_id") >= 5000)),
          Seq("user_id"),
          Seq("n", "spend"))
        .select(
          col("user_id"),
          col("n").cast("long").as("n"),
          col("spend").cast("double").as("spend"))
        .orderBy(col("user_id"))
    },
    // SCD type-2 history: each user's event-type changelog becomes
    // versioned rows with [valid_from, valid_to) seq intervals,
    // consecutive same-state events collapsing into one version —
    // the queryable-history complement of i_cdc_apply's latest-wins
    // snapshot (Relational.scd2History)
    "i_scd2_history" -> { (s, dir) =>
      Relational
        .scd2History(
          t(s, dir, "events")
            .select(col("user_id"), col("event_id"), col("event_type")),
          Seq("user_id"),
          col("event_id"),
          Seq("event_type"))
        .select(
          col("user_id"),
          col("event_type"),
          col("valid_from"),
          col("valid_to"),
          col("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    },
    // Ordered funnel conversion: signup -> click -> purchase, each
    // stage within 12h of the previous one's completion
    // (Relational.orderedFunnel: chained min-aggs on the user key, no
    // event-stream window)
    "w_event_funnel" -> { (s, dir) =>
      Relational
        .orderedFunnel(
          t(s, dir, "events"),
          "user_id", "ts", "event_type",
          Seq("signup", "click", "purchase"),
          maxGapUs = 43200000000L)
        .select(
          col("user").as("user_id"),
          col("t1").as("t1_us"),
          col("t2").as("t2_us"),
          col("t3").as("t3_us"),
          when(col("t3").isNotNull, 3L)
            .when(col("t2").isNotNull, 2L)
            .otherwise(1L).as("stages_completed"))
        .orderBy(col("user_id"))
    },
    // Interval-overlap join: purchase activity windows [ts, ts+value
    // min] paired with overlapping click windows of the same user —
    // cell-bucketed equi-join, per-row first-overlap-cell dedup
    // (Relational.intervalOverlapJoin; no theta nest-loop, no
    // dropDuplicates shuffle)
    "j_interval_overlap" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      def side(tp: String, pre: String) = ev
        .filter(col("event_type") === tp)
        .select(
          col("user_id"),
          col("event_id").as(s"${pre}_id"),
          unix_micros(col("ts")).cast("double").as(s"${pre}_s"),
          (unix_micros(col("ts")).cast("double") + col("value") * lit(60000000.0))
            .as(s"${pre}_e"))
      Relational
        .intervalOverlapJoin(
          side("purchase", "p"),
          side("click", "c"),
          Seq("user_id"),
          "p_s", "p_e", "c_s", "c_e",
          cellSize = 3.6e9)
        .select(col("user_id"), col("p_id"), col("c_id"))
        .orderBy(col("user_id"), col("p_id"), col("c_id"))
    },
    // Exact distributed Pearson correlation per group, from the five
    // decimal power sums (Σx, Σy, Σxy, Σx², Σy²) cast to double only
    // at the edge — corr() builtins accumulate floats in partition
    // order and are not reproducible across engines; power sums are
    // (the a_zscore_outliers discipline extended to two variables)
    "a_corr_exact" -> { (s, dir) =>
      val x = col("l_quantity").cast("decimal(18,0)")
      val y = col("l_extendedprice").cast("decimal(18,2)")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum(x * y).cast("double").as("sxy"),
          sum(x * x).cast("double").as("sxx"),
          sum(y * y).cast("double").as("syy"))
        .select(
          col("l_returnflag"),
          col("n"),
          // zero-variance/n=1 guard: without it Spark's x/0.0 -> NULL
          // while DuckDB's -> NaN/Inf, a silent oracle divergence on
          // any constant-valued group (the a_zscore_outliers rule)
          when(
            col("n") * col("sxx") - col("sx") * col("sx") > 0.0 &&
              col("n") * col("syy") - col("sy") * col("sy") > 0.0,
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
            .as("corr_qty_price"))
        .orderBy(col("l_returnflag"))
    },
    // Per-source length outliers by z-score, with the moments computed
    // from EXACT decimal power sums (sum x, sum x²) cast to double at
    // the edge — the one way distributed variance is deterministic
    // across engines and partitionings (Welford/naive float orderings
    // are not); sqrt and division are correctly-rounded IEEE on both
    // sides, so the oracle hash-matches
    "a_zscore_outliers" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val x = col("n_chars").cast("decimal(18,0)")
      val m = d
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).cast("double").as("s1"),
          sum(x * x).cast("double").as("s2"))
      val variance = (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)
      val z = (col("n_chars").cast("double") - col("s1") / col("n")) / sqrt(col("__var"))
      d.join(broadcast(m.filter(col("n") > 1)), "source")
        // zero-variance sources have no outliers by definition — and
        // without the guard the two engines disagree on 0/0 (Spark
        // ANSI throws / NULLs, DuckDB NaN-sorts-high passes the filter)
        .withColumn("__var", variance)
        .filter(col("__var") > 0.0)
        .withColumn("z", z)
        .filter(abs(col("z")) > 1.8)
        .drop("__var")
        .select(col("doc_id"), col("source"), col("n_chars"), col("z"))
        .orderBy(col("doc_id"))
    },
    // Sequence packing: docs assigned to 512-token training bins per
    // source (greedy concat-then-chunk in deterministic hash order)
    "t_pack_bins" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), TextFns.wordCount(col("text")).as("n_tokens"))
      Sampling
        .packBins(docs, col("source"), col("doc_id"), col("n_tokens"), 512L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("pack_bin"))
        .orderBy(col("doc_id"))
    },
    // Time-series gap fill: densify each user's daily activity series
    // (missing days as explicit zero rows) — sequence+explode of the
    // per-user date bounds left-joined to the daily counts, the
    // standard resample-to-calendar shape for feature pipelines
    "w_gap_fill" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val daily = e
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val days = e
        .groupBy(col("user_id"))
        .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      days
        .join(daily, Seq("user_id", "day"), "left")
        .select(
          col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy(col("user_id"), col("day"))
    },
    // Mixture (curriculum) sampling: largest corpus matching a target
    // source composition (50/30/20), water-filled per-group hash
    // fractions — deterministic, engine-portable like hashSample
    "s_mixture_sample" -> { (s, dir) =>
      Sampling
        .mixtureSample(
          t(s, dir, "documents"),
          col("source"),
          col("doc_id"),
          Seq("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    // Temperature-based source balancing (T5/mT5 n^alpha rule):
    // alpha=0.5 flattens the domain mix toward uniform; broadcast
    // per-group fraction table + pure md5 threshold predicate
    "s_temperature_mix" -> { (s, dir) =>
      Sampling
        .temperatureSample(t(s, dir, "documents"), col("source"), col("doc_id"), 0.5, 200L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    // DSIR importance resampling (Xie et al. 2023): hashed-unigram
    // target-vs-raw log ratios score every doc; top-100 by mean
    // per-token log importance skews the corpus toward the target
    // (here lang='en') without a learned classifier. Bucket ratio
    // table is broadcast (≤1024 rows at any corpus size); doc sums
    // are exact micro-nat integers (see Sampling.dsirWeights).
    "s_dsir_sample" -> { (s, dir) =>
      Sampling
        .dsirWeights(t(s, dir, "documents"), "text", "doc_id", col("lang") === "en", 1024)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("avg_loglik").desc, col("doc_id"))
        .limit(100)
    },
    // Per-source deterministic cap (≤25 docs per source, hash-order
    // winners) — the "no domain dominates the corpus" control
    "s_stratified_cap" -> { (s, dir) =>
      Sampling
        .stratifiedCap(t(s, dir, "documents"), col("source"), col("doc_id"), 25)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    // The SQL surface end-to-end: the same V2 top-k through spark.sql
    // with the GraftExtensions-registered cosine_similarity function
    "v_sql_topk" -> { (s, dir) =>
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings_sqlv")
      s.sql(
        """WITH q AS (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS qe
          |           FROM embeddings_sqlv WHERE vec_id = 0)
          |SELECT vec_id, label,
          |       cosine_similarity(CAST(embedding AS ARRAY<DOUBLE>), qe) AS score
          |FROM embeddings_sqlv, q WHERE vec_id <> 0
          |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)
    },
    // TPC-H Q17 pattern — correlated scalar subquery (per-part average
    // threshold) through the SQL surface: Catalyst decorrelates it into
    // an aggregate + join, no per-row re-execution (what a naive
    // engine would do and the thing that dies first at 100 TB)
    "q17_small_qty" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q17")
      t(s, dir, "part").createOrReplaceTempView("part_q17")
      s.sql(
        """SELECT p_brand,
          |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
          |       COUNT(*) AS n_small
          |FROM lineitem_q17 JOIN part_q17 ON p_partkey = l_partkey
          |WHERE l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
          |                    FROM lineitem_q17 l2
          |                    WHERE l2.l_partkey = p_partkey)
          |GROUP BY p_brand
          |ORDER BY p_brand""".stripMargin)
    },
    // Benchmark decontamination: corpus docs' distinct 3-gram overlap
    // with the src0 "benchmark" slice — the pretraining hygiene step
    // that flags training docs leaking eval data
    "dd_decontaminate" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup
        .crossCorpusOverlap(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "text",
          "doc_id",
          3)
        .select(col("id").as("doc_id"), col("n_overlap"), col("contaminated"))
        .orderBy(col("doc_id"))
    },
    // C4/Gopher repetition filter signals: duplicate-bigram fraction
    // and top-bigram share per doc
    "t_repetition" -> { (s, dir) =>
      TextAnalysis
        .repetitionStats(t(s, dir, "documents"), "text", "doc_id", 2)
        .select(col("id").as("doc_id"), col("n_ngrams"), col("dup_frac"), col("top_frac"))
        .orderBy(col("doc_id"))
    },
    // The pretraining funnel END-TO-END as one declarative plan:
    // language gate → quality gate → exact dedup → benchmark
    // decontamination → deterministic 50% hash sample. Every stage is
    // individually oracle-checked elsewhere (t_lang_id,
    // t_quality_score, dd_exact_dedup, dd_decontaminate,
    // s_hash_sample); this composes them the way a real corpus build
    // runs, in one Catalyst plan — gates fuse into the scan
    // projection, the only shuffles are the dedup window and the
    // shingle-overlap agg, and the sample predicate costs one md5
    // per surviving row.
    "t_funnel_e2e" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.pipelines.Corpus
        .funnel(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "text",
          "doc_id",
          SparkEntry.langMarkers,
          keepLang = "dataish",
          SparkEntry.qualityStops,
          minQuality = 0.5,
          shingleN = 3,
          sampleFraction = 0.5)
        .select(col("doc_id"), col("source"), col("lang_pred"), col("quality"))
        .orderBy(col("doc_id"))
    },
    // Funnel with the CCNet-style perplexity gate: after the heuristic
    // lang/quality gates, the unigram LM fit on the survivors drops
    // the high-NLL tail (threshold shared with the oracle via
    // FunnelPplMax), then exact dedup + decontamination as in
    // t_funnel_e2e (sample 1.0 isolates the ppl stage's effect)
    "t_funnel_ppl" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.pipelines.Corpus
        .funnel(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "text",
          "doc_id",
          SparkEntry.langMarkers,
          keepLang = "dataish",
          SparkEntry.qualityStops,
          minQuality = 0.5,
          shingleN = 3,
          sampleFraction = 1.0,
          maxMeanNll = Some(FunnelPplMax))
        .select(col("doc_id"), col("source"), col("lang_pred"), col("quality"))
        .orderBy(col("doc_id"))
    },
    // Funnel with the near-dup collapse stage: every 9th doc gets a
    // planted near-duplicate (same text + 3 appended marker tokens,
    // Jaccard ~0.9 vs its source). Ids are remapped collision-free at
    // ANY scale factor: original doc_id n → 2n, its planted dup →
    // 2n+1 — so the ORIGINAL is always the smallest-id canonical and
    // no planted id can shadow a real document (an additive offset
    // would collide once the corpus outgrows it). MinHash-LSH pairs →
    // connected components → smallest-id survivor runs between exact
    // dedup and decontamination; planted dups that pass the gates
    // must vanish from the output, each collapsed into its source.
    "t_funnel_neardup" -> { (s, dir) =>
      val base = t(s, dir, "documents")
        .select((col("doc_id") * 2).as("doc_id"), col("text"), col("source"))
      val planted = base
        .filter(col("doc_id") % 18 === 0)
        .select(
          (col("doc_id") + 1).as("doc_id"),
          concat(col("text"), lit(" data stream batch")).as("text"),
          col("source"))
      graft.pipelines.Corpus
        .funnel(
          base.unionByName(planted).filter(col("source") =!= "src0"),
          base.filter(col("source") === "src0"),
          "text",
          "doc_id",
          SparkEntry.langMarkers,
          keepLang = "dataish",
          SparkEntry.qualityStops,
          minQuality = 0.5,
          shingleN = 3,
          sampleFraction = 1.0,
          nearDupJaccard = Some(0.3))
        .select(col("doc_id"), col("source"), col("lang_pred"), col("quality"))
        .orderBy(col("doc_id"))
    },
    // PII scrub — the standard pretraining redaction pass: emails,
    // SSNs, phone numbers, IPv4s → typed placeholders, plus per-class
    // audit counts. One codegen'd regexp projection, no UDF.
    "t_pii_scrub" -> { (s, dir) =>
      val planted = when(
        col("doc_id") % 4 === 0,
        concat(col("text"), lit(" Contact user"), col("doc_id"), lit("@example.com or 555-123-4567.")))
        .when(
          col("doc_id") % 4 === 1,
          concat(col("text"), lit(" SSN 123-45-6789 leaked from 10.0.0."), col("doc_id") % 256, lit(".")))
        .when(col("doc_id") % 4 === 2, concat(col("text"), lit(" Call (415) 555-0133.")))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), planted.as("raw"))
        .select(
          col("doc_id"),
          TextFns.redactPii(col("raw")).as("redacted"),
          TextFns.piiCounts(col("raw")).as("p"))
        .select(col("doc_id"), col("redacted"), col("p.n_emails"), col("p.n_ssns"), col("p.n_phones"), col("p.n_ips"))
        .orderBy(col("doc_id"))
    },
    // Multimodal frame sampling: one row per strideBytes window of the
    // binary content (the every-Nth-frame path for a real decoder)
    "mm_frame_sample" -> { (s, dir) =>
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text", "video")
      Multimodal
        .sampleFrames(media, 100)
        .select(
          col("media_id"),
          col("frame_index").cast("long").as("frame_index"),
          length(col("frame_bytes")).cast("long").as("n_frame_bytes"))
        .orderBy(col("media_id"), col("frame_index"))
    },
    // Container sniffing (Multimodal.sniffMedia): REAL magic-byte +
    // fixed-offset dimension parsing, no stub — blobs synthesized
    // with doc_id-derived PNG/GIF dims (plus JPEG/PDF/junk rows) are
    // parsed BACK by the engine, and the oracle checks against the
    // generator's ground truth: a parser bug cannot round-trip.
    "mm_sniff" -> { (s, dir) =>
      val w = (col("doc_id") % 1920 + 1).cast("long")
      val h = (col("doc_id") % 1080 + 1).cast("long")
      def be32(v: org.apache.spark.sql.Column) = unhex(lpad(hex(v), 8, "0"))
      def le16(v: org.apache.spark.sql.Column) = concat(
        unhex(lpad(hex(v % 256), 2, "0")),
        unhex(lpad(hex(shiftright(v, 8)), 2, "0")))
      val content = when(col("doc_id") % 5 === 0,
        concat(
          unhex(lit("89504E470D0A1A0A0000000D49484452")),
          be32(w), be32(h), unhex(lit("0806000000"))))
        .when(col("doc_id") % 5 === 1,
          concat(unhex(lit("474946383961")), le16(w), le16(h), unhex(lit("F70000"))))
        .when(col("doc_id") % 5 === 2, unhex(lit("FFD8FFE000104A46494600")))
        .when(col("doc_id") % 5 === 3, encode(lit("%PDF-1.7 fixture"), "UTF-8"))
        .otherwise(encode(lit("plain text payload"), "UTF-8"))
      Multimodal
        .sniffMedia(
          t(s, dir, "documents").select(col("doc_id"), content.as("content")),
          "content")
        .select(col("doc_id"), col("fmt"), col("width"), col("height"))
        .orderBy(col("doc_id"))
    }
  )

  // ---------------------------------------------------------------
  // Oracle SQL (DuckDB)
  // ---------------------------------------------------------------

  /** Sequential left-fold cosine, bit-identical to CosineSimilarity
    * (same as SparkEntry.sqlCosine — duplicated to keep this object
    * self-contained).
    */
  /** DuckDB mirror of `Sampling.hash32`: leading 32 md5 bits of the
    * stringified key as a BIGINT (hex fold, same as the minhash
    * oracle's slice parsing).
    */
  /** t_funnel_ppl's NLL ceiling — ONE constant interpolated into both
    * the Spark call and the oracle SQL (the repo's shared-threshold
    * rule), cutting the ~15% most corpus-atypical gate survivors.
    */
  private val FunnelPplMax: Double = 3.41

  /** Exact BM25 scores of `docs` for a bag of query terms (k1=1.2,
    * b=0.75): hash aggs + one broadcast scalar, shared by t_bm25 and
    * the hybrid-retrieval fusion. The per-doc sum spans at most
    * |qTerms| doubles — commutative at 2 terms, rounded at 6 —
    * keeping the score engine-reproducible.
    */
  private def bm25Scores(
      docs: org.apache.spark.sql.DataFrame,
      qTerms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val dl = docs.select(col("doc_id"), TextFns.wordCount(col("text")).as("dl"))
    val stats = broadcast(
      dl.agg(
        (sum(col("dl")).cast("double") / count(lit(1))).as("avglen"),
        count(lit(1)).as("n")))
    val tf = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(
      (col("n").cast("double") - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5) + 1.0)
    val num = col("tf").cast("double") * lit(2.2)
    val den = col("tf").cast("double") +
      lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * (col("dl").cast("double") / col("avglen")))
    tf.join(df, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(stats)
      .withColumn("contrib", idf * num / den)
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 6).as("bm25"))
  }

  /** Documents ranked by (n_chars, doc_id) within source plus the
    * group size — the shared prelude of the rank-based robust stats
    * (a_group_median, a_winsor_mean); one definition so both queries
    * agree on rank semantics.
    */
  private def rankedByChars(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    docs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn(
        "n",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
  }

  /** DuckDB mirror of `Dedup.ngramJaccardPairs(…, 3, 0.2)` as a CTE
    * block ending in `pairs(id_a, id_b)` — shared by the
    * cluster-resolve, cluster-size, and cross-source-dup oracles so
    * the shingle size, threshold, AND the engine's maxDf=1000
    * stop-shingle cap cannot drift between them (the cap runs BEFORE
    * both the set sizes and the intersection counts, exactly as the
    * dd_jaccard_pairs oracle mirrors it — without it these three
    * oracles would silently diverge on any corpus where a boilerplate
    * trigram tops 1000 docs).
    */
  /** DuckDB mirror of `Dedup.minhashLshAgainstSigs(batch >= 250,
    * hist < 250, 3, 8, 1, 0.05)` — the dd_minhash_pairs signature
    * chain split into batch/history sides, with the HISTORY text
    * expression parametrized so the as-of query can replay the stale
    * generation the artifact's stamp-0 rows were signed from.
    */
  private[graft] def minhashAgainstSigsOracle(histTextSql: String): String =
    s"""WITH src AS (
       | SELECT doc_id, $histTextSql AS text, 0 AS is_batch FROM documents WHERE doc_id < 250
       | UNION ALL
       | SELECT doc_id, text, 1 FROM documents WHERE doc_id >= 250),
       |tok AS (SELECT doc_id, is_batch, regexp_split_to_array(trim(text),'\\s+') AS tk FROM src),
       |shl AS (SELECT doc_id, is_batch, list_distinct(list_transform(generate_series(1, len(tk)-2),
       |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
       |        FROM tok WHERE len(tk) >= 3),
       |sig AS (SELECT doc_id, is_batch, sh, list_transform(generate_series(0, 7),
       |         i -> list_aggregate(list_transform(sh, s -> list_reduce(
       |                list_transform(generate_series(1, 8), d -> strpos('0123456789abcdef',
       |                  substring(CASE WHEN i // 4 = 0 THEN md5(s) ELSE md5(CAST(i // 4 AS VARCHAR) || ':' || s) END,
       |                            CAST((i % 4) * 8 + d AS INT), 1)) - 1),
       |                (a, b) -> a * 16 + b)), 'min')) AS sg
       |        FROM shl WHERE len(sh) > 0),
       |banded AS (SELECT doc_id, is_batch, gs.b AS band, md5(CAST(sg[gs.b + 1] AS VARCHAR)) AS bucket
       |           FROM sig, LATERAL (SELECT unnest(generate_series(0, 7)) AS b) gs),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
       |         WHERE a.is_batch = 1 AND b.is_batch = 0)
       |SELECT id_a, id_b
       |FROM cand JOIN shl sa ON sa.doc_id = id_a AND sa.is_batch = 1
       |          JOIN shl sb ON sb.doc_id = id_b AND sb.is_batch = 0
       |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.05
       |ORDER BY id_a, id_b""".stripMargin

  private val jaccardPairsSql: String =
    """tok AS (
      | SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS tk FROM documents),
      |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(tk)-2),
      |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
      |       FROM tok WHERE len(tk) >= 3),
      |sh AS (SELECT doc_id, shingle FROM sh0
      |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      |         FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (
      | SELECT id_a, id_b FROM cand
      | JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
      | WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.2)""".stripMargin

  /** The connected-components continuation of [[jaccardPairsSql]]
    * ending in `comp(id, cluster)` (recursive reachability, min-label
    * cluster ids) — shared by the cluster-resolve and cluster-size
    * oracles.
    */
  private val clusterCompSql: String = clusterCompSqlFrom("pairs")

  /** Cluster-size histogram over the %10-takedown survivors — shared
    * by dd_graph_delete (tombstone resolution) and dd_graph_compacted
    * (post-compaction plain-reader re-closure), which must agree.
    */
  private lazy val dupGraphSurvivorHistogramSql: String =
    s"""WITH RECURSIVE $jaccardPairsSql,
       |live AS (SELECT id_a, id_b FROM pairs
       |         WHERE id_a % 10 <> 0 AND id_b % 10 <> 0),
       |${clusterCompSqlFrom("live")},
       |lab AS (SELECT d.doc_id, COALESCE(comp.cluster, d.doc_id) AS cluster
       |        FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
       |        WHERE d.doc_id % 10 <> 0),
       |cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz FROM lab GROUP BY 1)
       |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters FROM cs
       |GROUP BY sz ORDER BY sz""".stripMargin

  /** The connected-components fragment over an arbitrary pair CTE —
    * the delete variants retarget it at a filtered live-pair set.
    */
  private def clusterCompSqlFrom(src: String): String =
    s"""edges AS (SELECT id_a AS src, id_b AS dst FROM $src
       |          UNION SELECT id_b, id_a FROM $src),
       |reach(a, b) AS (
       | SELECT src, dst FROM edges
       | UNION
       | SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
       |comp AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a)""".stripMargin

  /** One Louvain best-move replay as CTEs — the g_louvain_move oracle
    * fragment parameterized over the incoming label CTE so the
    * K-move and persisted variants chain it. Expects `e` (directed
    * edges src/dst), `deg` (id, deg) and `mm` (1-row m) in scope;
    * ends in `mlab$i(id, community)`. HUGEINT staging, argmax ties
    * (gain DESC, id, cn) and the null-best identity all mirror
    * Graph.louvainMoveStep.
    */
  private def louvainMoveSql(prev: String, i: Int): String =
    s"""tot$i AS (SELECT l.community, CAST(sum(deg.deg) AS BIGINT) AS s
       |        FROM deg JOIN $prev l ON l.id = deg.id GROUP BY 1),
       |kin$i AS MATERIALIZED (SELECT e.src AS id, l.community AS cn,
       |          CAST(count(*) AS BIGINT) AS kin
       |        FROM e JOIN $prev l ON l.id = e.dst GROUP BY 1, 2),
       |node$i AS (SELECT l.id, l.community, deg.deg AS k,
       |          COALESCE(ka.kin, CAST(0 AS BIGINT)) AS kin_a, ta.s AS s_a
       |         FROM $prev l JOIN deg ON deg.id = l.id
       |         LEFT JOIN kin$i ka ON ka.id = l.id AND ka.cn = l.community
       |         JOIN tot$i ta ON ta.community = l.community),
       |cand$i AS (SELECT n.id, kin$i.cn,
       |          CAST(2 AS HUGEINT) * mm.m * (kin$i.kin - n.kin_a)
       |            - CAST(n.k AS HUGEINT) * (tc.s + n.k - n.s_a) AS gain
       |         FROM node$i n
       |         JOIN kin$i ON kin$i.id = n.id AND kin$i.cn <> n.community
       |         JOIN tot$i tc ON tc.community = kin$i.cn CROSS JOIN mm),
       |best$i AS (SELECT id, cn FROM cand$i WHERE gain > 0
       |         ORDER BY gain DESC, id, cn LIMIT 1),
       |mlab$i AS MATERIALIZED (SELECT l.id,
       |          CASE WHEN b.id IS NOT NULL AND l.id = b.id THEN b.cn
       |               ELSE l.community END AS community
       |         FROM $prev l LEFT JOIN best$i b ON TRUE)""".stripMargin

  /** The modularity re-grade over a moved label CTE — the closing
    * SELECT shared by the Louvain-move oracles. Expects `deg` and
    * `mm` in scope; `edgeCte` is the undirected (id_a, id_b) pair
    * set the intra count scans.
    */
  private def louvainRegradeSql(labCte: String, edgeCte: String): String =
    s"""intraF AS (SELECT la.community, CAST(count(*) AS BIGINT) AS intra_edges
       |          FROM $edgeCte JOIN $labCte la ON la.id = $edgeCte.id_a
       |               JOIN $labCte lb ON lb.id = $edgeCte.id_b
       |          WHERE la.community = lb.community GROUP BY 1),
       |dcF AS (SELECT la.community, CAST(count(*) AS BIGINT) AS n_nodes,
       |         CAST(sum(deg.deg) AS BIGINT) AS degree_sum
       |       FROM deg JOIN $labCte la ON la.id = deg.id GROUP BY 1)
       |SELECT dcF.community, dcF.n_nodes,
       |  COALESCE(intraF.intra_edges, CAST(0 AS BIGINT)) AS intra_edges,
       |  dcF.degree_sum,
       |  CAST((CAST(1000000 AS HUGEINT)
       |        * COALESCE(intraF.intra_edges, CAST(0 AS BIGINT))) // mm.m
       |    - (CAST(1000000 AS HUGEINT) * dcF.degree_sum * dcF.degree_sum)
       |      // (CAST(4 AS HUGEINT) * mm.m * mm.m) AS BIGINT) AS term6
       |FROM dcF LEFT JOIN intraF ON intraF.community = dcF.community CROSS JOIN mm
       |ORDER BY dcF.community""".stripMargin

  /** Shared prefix for the coarse-ladder oracles: the co-purchase
    * graph, labelprop, the coarsened super-graph with self-loops,
    * its directed non-loop edges (`cd`), weighted degrees with
    * self-loops at 2w (`cdeg`), total weight (`ww`) and identity
    * labels (`ilab`).
    */
  private lazy val coarseLadderPrefixSql: String = {
    val rounds = (1 to 4).map { r =>
      val prev = if (r == 1) "l0" else s"l${r - 1}"
      s"""c$r AS MATERIALIZED (SELECT e.dst AS id, l.lbl, count(*) AS c
         |  FROM e JOIN $prev l ON e.src = l.id GROUP BY 1, 2),
         |l$r AS MATERIALIZED (SELECT id, lbl FROM (
         |  SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
         |  FROM c$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |ew AS (SELECT a.p AS u, b.p AS v, count(*) AS w
       |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
       |ed AS (SELECT u AS id_a, v AS id_b FROM ew WHERE w >= 2),
       |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ed
       |     UNION ALL SELECT id_b, id_a FROM ed),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM e),
       |$rounds,
       |lab AS (SELECT id, lbl AS community FROM l4),
       |coarse AS MATERIALIZED (
       |  SELECT least(la.community, lb.community) AS id_a,
       |         greatest(la.community, lb.community) AS id_b,
       |         CAST(count(*) AS BIGINT) AS w
       |  FROM ed JOIN lab la ON la.id = ed.id_a
       |          JOIN lab lb ON lb.id = ed.id_b
       |  GROUP BY 1, 2),
       |nl AS (SELECT id_a, id_b, w FROM coarse WHERE id_a <> id_b),
       |cd AS (SELECT id_a AS src, id_b AS dst, w FROM nl
       |       UNION ALL SELECT id_b, id_a, w FROM nl),
       |cdeg AS MATERIALIZED (SELECT id, CAST(sum(w) AS BIGINT) AS k FROM (
       |        SELECT src AS id, w FROM cd
       |        UNION ALL SELECT id_a AS id, 2 * w AS w FROM coarse
       |        WHERE id_a = id_b)
       |      GROUP BY 1),
       |ww AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM coarse),
       |ilab AS (SELECT id, id AS community FROM
       |         (SELECT id_a AS id FROM coarse UNION SELECT id_b FROM coarse))""".stripMargin
  }

  /** One WEIGHTED Louvain move replay off [[coarseLadderPrefixSql]]'s
    * frames (`cd`, `cdeg`, `ww`) — kin sums over non-loop weights,
    * the same HUGEINT gain, argmax ties (gain DESC, id, cn) and
    * null-best identity as [[louvainMoveSql]]; ends in
    * `wlab$i(id, community)`.
    */
  private def louvainMoveWSql(
      prev: String,
      i: Int,
      cd: String = "cd",
      cdeg: String = "cdeg"): String =
    s"""totW$i AS (SELECT l.community, CAST(sum($cdeg.k) AS BIGINT) AS s
       |        FROM $cdeg JOIN $prev l ON l.id = $cdeg.id GROUP BY 1),
       |kinW$i AS MATERIALIZED (SELECT $cd.src AS id, l.community AS cn,
       |          CAST(sum($cd.w) AS BIGINT) AS kin
       |        FROM $cd JOIN $prev l ON l.id = $cd.dst GROUP BY 1, 2),
       |nodeW$i AS (SELECT l.id, l.community, $cdeg.k,
       |          COALESCE(ka.kin, CAST(0 AS BIGINT)) AS kin_a, ta.s AS s_a
       |         FROM $prev l JOIN $cdeg ON $cdeg.id = l.id
       |         LEFT JOIN kinW$i ka ON ka.id = l.id AND ka.cn = l.community
       |         JOIN totW$i ta ON ta.community = l.community),
       |candW$i AS (SELECT n.id, kinW$i.cn,
       |          CAST(2 AS HUGEINT) * ww.m * (kinW$i.kin - n.kin_a)
       |            - CAST(n.k AS HUGEINT) * (tc.s + n.k - n.s_a) AS gain
       |         FROM nodeW$i n
       |         JOIN kinW$i ON kinW$i.id = n.id AND kinW$i.cn <> n.community
       |         JOIN totW$i tc ON tc.community = kinW$i.cn CROSS JOIN ww),
       |bestW$i AS (SELECT id, cn FROM candW$i WHERE gain > 0
       |         ORDER BY gain DESC, id, cn LIMIT 1),
       |wlab$i AS (SELECT l.id,
       |          CASE WHEN b.id IS NOT NULL AND l.id = b.id THEN b.cn
       |               ELSE l.community END AS community
       |         FROM $prev l LEFT JOIN bestW$i b ON TRUE)""".stripMargin

  /** The weighted modularity re-grade over a moved coarse label CTE
    * — the closing SELECT of the coarse-ladder move oracles.
    */
  private def louvainRegradeWSql(labCte: String): String =
    s"""intraW AS (SELECT la.community, CAST(sum(coarse.w) AS BIGINT) AS intra_w
       |          FROM coarse JOIN $labCte la ON la.id = coarse.id_a
       |               JOIN $labCte lb ON lb.id = coarse.id_b
       |          WHERE la.community = lb.community GROUP BY 1),
       |dcW AS (SELECT la.community, CAST(count(*) AS BIGINT) AS n_nodes,
       |         CAST(sum(cdeg.k) AS BIGINT) AS degree_sum
       |       FROM cdeg JOIN $labCte la ON la.id = cdeg.id GROUP BY 1)
       |SELECT dcW.community, dcW.n_nodes,
       |  COALESCE(intraW.intra_w, CAST(0 AS BIGINT)) AS intra_w,
       |  dcW.degree_sum,
       |  CAST((CAST(1000000 AS HUGEINT)
       |        * COALESCE(intraW.intra_w, CAST(0 AS BIGINT))) // ww.m
       |    - (CAST(1000000 AS HUGEINT) * dcW.degree_sum * dcW.degree_sum)
       |      // (CAST(4 AS HUGEINT) * ww.m * ww.m) AS BIGINT) AS term6
       |FROM dcW LEFT JOIN intraW ON intraW.community = dcW.community CROSS JOIN ww
       |ORDER BY dcW.community""".stripMargin

  /** Shared fuzzy-entity pair generation ending in
    * `pairs(id_a, id_b, lev)` (suffix blocking + levenshtein ≤ 2 over
    * the canon+typo fixture) — one fragment feeds the dd_fuzzy_match
    * and er_golden oracles, and `al(id, name, blk)` stays in scope
    * for the golden-record rollup.
    */
  /** Labeled FS candidate pairs: canon + typo-twin customers (the
    * er_metrics fixture widened with nation/balance/segment carried
    * onto the twin), blocked on the name's last 3 chars so blocks
    * hold non-twin members too — the estimator needs both classes.
    * Returns (pairs, fields, isMatch) for the two er_fs_* queries.
    */
  private def fsPairFixture(
      s: SparkSession,
      dir: String): (DataFrame, Seq[(String, org.apache.spark.sql.Column)],
        org.apache.spark.sql.Column) = {
    val canon = t(s, dir, "customer").select(
      col("c_custkey").as("id"), col("c_name").as("name"),
      col("c_nationkey").as("nation"), col("c_acctbal").as("bal"),
      col("c_mktsegment").as("seg"))
    val twin = canon.select(
      (col("id") + 1000000L).as("id"),
      concat(substring(col("name"), 1, 5), substring(col("name"), 7, 100)).as("name"),
      col("nation"),
      // a third of the twins drift their balance: m_balance < 1, so
      // the learned weights face real per-field noise instead of a
      // perfectly separable fixture
      when(col("id") % 3 === 0, col("bal") + 1.0).otherwise(col("bal")).as("bal"),
      col("seg"))
    val all = canon.unionByName(twin).withColumn("blk", substring(col("name"), -3, 3))
    def side(sfx: String) = all.select(
      col("id").as(s"id_$sfx"), col("nation").as(s"nation_$sfx"),
      col("bal").as(s"bal_$sfx"), col("seg").as(s"seg_$sfx"), col("blk"))
    val pairs = side("a").join(side("b"), Seq("blk")).filter(col("id_a") < col("id_b"))
    val fields = Seq(
      "nation" -> (col("nation_a") === col("nation_b")),
      "segment" -> (col("seg_a") === col("seg_b")),
      "balance" -> (col("bal_a") === col("bal_b")))
    (pairs, fields, col("id_b") === col("id_a") + 1000000L)
  }

  /** Shared oracle prefix for the er_fs_* queries: the labeled pair
    * set and the per-field m/u weight CTE, mirroring
    * [[fsPairFixture]] + `Relational.fsMatchWeights`.
    */
  private val fsWeightsSqlPrefix: String =
    """fs_canon AS (SELECT c_custkey AS id, c_name AS name, c_nationkey AS nation,
      |                    c_acctbal AS bal, c_mktsegment AS seg FROM customer),
      |fs_twin AS (SELECT id + 1000000 AS id,
      |              substring(name, 1, 5) || substring(name, 7, 100) AS name,
      |              nation,
      |              CASE WHEN id % 3 = 0 THEN bal + 1 ELSE bal END AS bal,
      |              seg FROM fs_canon),
      |fs_al AS (SELECT id, nation, bal, seg,
      |            substring(name, length(name) - 2, 3) AS blk
      |          FROM (SELECT * FROM fs_canon UNION ALL SELECT * FROM fs_twin)),
      |fs_p AS (SELECT a.id AS id_a, b.id AS id_b,
      |           a.nation = b.nation AS ag_nation,
      |           a.seg = b.seg AS ag_segment,
      |           a.bal = b.bal AS ag_balance,
      |           b.id = a.id + 1000000 AS m
      |         FROM fs_al a JOIN fs_al b ON a.blk = b.blk AND a.id < b.id),
      |fs_st AS (SELECT id_a, id_b, 'nation' AS field, ag_nation AS agree, m FROM fs_p
      |          UNION ALL SELECT id_a, id_b, 'segment', ag_segment, m FROM fs_p
      |          UNION ALL SELECT id_a, id_b, 'balance', ag_balance, m FROM fs_p),
      |fs_c AS (SELECT field,
      |           CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
      |           CAST(SUM(CASE WHEN NOT m THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatch,
      |           CAST(SUM(CASE WHEN m AND agree THEN 1 ELSE 0 END) AS BIGINT) AS a_match,
      |           CAST(SUM(CASE WHEN NOT m AND agree THEN 1 ELSE 0 END) AS BIGINT) AS a_unmatch
      |         FROM fs_st GROUP BY 1),
      |fs_w AS (SELECT field, n_match, n_unmatch, a_match, a_unmatch,
      |           CAST(1000000 * (a_match + 1) // (n_match + 2) AS BIGINT) AS m_ppm,
      |           CAST(1000000 * (a_unmatch + 1) // (n_unmatch + 2) AS BIGINT) AS u_ppm
      |         FROM fs_c),
      |fs_ww AS (SELECT *,
      |            CAST(round(ln(CAST(m_ppm AS DOUBLE) / CAST(u_ppm AS DOUBLE))
      |                       * 1000000.0) AS BIGINT) AS w_agree6,
      |            CAST(round(ln(CAST(1000000 - m_ppm AS DOUBLE)
      |                          / CAST(1000000 - u_ppm AS DOUBLE))
      |                       * 1000000.0) AS BIGINT) AS w_dis6
      |          FROM fs_w)""".stripMargin

  private val fuzzyPairsSql: String =
    """canon AS (SELECT c_custkey AS id, c_name AS name FROM customer),
      |typo AS (SELECT id + 1000000 AS id,
      |                substring(name, 1, 5) || substring(name, 7, 100) AS name
      |         FROM canon),
      |al AS (SELECT id, name, substring(name, length(name) - 3, 4) AS blk
      |       FROM (SELECT * FROM canon UNION ALL SELECT * FROM typo)),
      |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
      |                 CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
      |          FROM al a JOIN al b ON a.blk = b.blk AND a.id < b.id
      |          WHERE levenshtein(a.name, b.name) <= 2)""".stripMargin

  /** DuckDB mirror of the "table hash" phrase search — shared by the
    * in-line and persisted-index queries (the persisted path must be
    * an identity on results).
    */
  private[graft] val phraseSearchOracle: String = phraseSearchOracleFor("TRUE")

  /** phraseSearchOracle over a restricted effective corpus (delete variants). */
  private[graft] def phraseSearchOracleFor(corpusPred: String): String =
    s"""WITH tok AS (SELECT doc_id, CAST(gs.i - 1 AS BIGINT) AS pos, tk[CAST(gs.i AS INT)] AS term
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
      |        FROM documents WHERE length(trim(text)) > 0 AND ($corpusPred)),
      |       LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) gs),
      |pa AS (SELECT doc_id, pos FROM tok WHERE term = 'table'),
      |pb AS (SELECT doc_id, pos FROM tok WHERE term = 'hash')
      |SELECT pa.doc_id, CAST(count(*) AS INT) AS n_hits
      |FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND pb.pos = pa.pos + 1
      |GROUP BY pa.doc_id ORDER BY pa.doc_id""".stripMargin

  /** The engine's `Sketches.cmsBucket` for CMS row `j`:
    * md5("<j>:" || term) first 6 hex chars as a 24-bit int
    * (character-by-character, the minhash strpos idiom) mod 1024 —
    * identical buckets on both engines.
    */
  private def cmsBucketSql(j: Int): String =
    s"""(list_reduce(list_transform(generate_series(1, 6),
       |   d -> strpos('0123456789abcdef',
       |          substring(md5('$j:' || term), CAST(d AS INT), 1)) - 1),
       |   (a, b) -> a * 16 + b) % 1024)""".stripMargin

  /** CTE block ending in `sketch(j, bucket, c)` — the 4×1024 CMS of
    * the documents token stream. Shared by a_cms_heavy and the
    * streamed st_cms_sketch (counter sums are merge-invariant, so the
    * streamed sketch is bit-equal to this batch mirror).
    */
  private[graft] val cmsSketchSql: String = {
    val sketchRows = (0 until 4)
      .map(j => s"SELECT $j AS j, ${cmsBucketSql(j)} AS bucket FROM tok")
      .mkString("\n UNION ALL\n ")
    s"""tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |  FROM documents WHERE length(trim(text)) > 0),
       |jb AS ($sketchRows),
       |sketch AS (SELECT j, bucket, CAST(count(*) AS BIGINT) AS c FROM jb GROUP BY 1, 2)""".stripMargin
  }

  /** The trailing-window volume z-score oracle — shared by the batch
    * gate (dq_volume_anomaly) and the streamed-partial-counts path
    * (st_volume_anomaly): counts are linear, so the merged appends
    * must score identically to the one-pass aggregation.
    */
  private[graft] lazy val volumeAnomalyOracleSql: String =
    """WITH c AS (SELECT event_type AS grp, strftime(ts, '%Y-%m-%d') AS bucket,
      |             CAST(count(*) AS BIGINT) AS n
      |           FROM events GROUP BY 1, 2),
      |s AS (SELECT *, CAST(count(*) OVER wt AS BIGINT) AS w_cnt,
      |        CAST(COALESCE(sum(n) OVER wt, 0) AS BIGINT) AS w_sum,
      |        CAST(COALESCE(sum(n * n) OVER wt, 0) AS BIGINT) AS w_sumsq
      |      FROM c
      |      WINDOW wt AS (PARTITION BY grp ORDER BY bucket
      |                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |z AS (SELECT grp, bucket, n, w_cnt,
      |        CASE WHEN w_cnt >= 3
      |             THEN CAST(w_cnt * n - w_sum AS DOUBLE)
      |                  / sqrt(CAST(greatest(w_cnt * w_sumsq - w_sum * w_sum,
      |                                       w_cnt * w_cnt) AS DOUBLE))
      |             ELSE NULL END AS z
      |      FROM s)
      |SELECT grp, bucket, n, w_cnt, z,
      |       COALESCE(abs(z) >= 3.0, FALSE) AS is_anomaly
      |FROM z ORDER BY grp, bucket""".stripMargin

  /** The Kruskal-Wallis oracle — shared by the one-shot batch test
    * (a_kruskal) and the streaming count-grid monitor (st_kruskal):
    * ranks are not mergeable but the (v, arm, c) count grid is
    * linear, so the two paths must agree exactly.
    */
  private[graft] lazy val kruskalOracleSql: String =
    """WITH base AS (SELECT event_type AS arm, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |va AS (SELECT v, arm, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
        |vt AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM va GROUP BY 1),
        |rk AS (SELECT v, t, CAST(COALESCE(SUM(t) OVER (ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS BIGINT)
        |         AS rmin FROM vt),
        |arms AS (SELECT arm, CAST(SUM(c) AS BIGINT) AS n_g,
        |           CAST(SUM(c * (2 * rk.rmin + rk.t - 1)) AS BIGINT) AS r2_g
        |         FROM va JOIN rk USING (v) GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n
        |        FROM arms),
        |ts3 AS (SELECT CAST(SUM(t*t*t - t) AS BIGINT) AS ties3 FROM vt),
        |u AS (SELECT k, n,
        |        CAST((CAST(3000000 AS HUGEINT) * r2_g * r2_g)
        |             // (CAST(n_g AS HUGEINT) * n * (n + 1)) AS BIGINT) AS u_g6
        |      FROM arms CROSS JOIN tot),
        |agg AS (SELECT k, n, CAST(SUM(u_g6) AS BIGINT) AS a FROM u GROUP BY 1, 2),
        |h AS (SELECT k, n, ties3,
        |        greatest(CAST(0 AS BIGINT), a - 3000000 * (n + 1)) AS h6
        |      FROM agg CROSS JOIN ts3 WHERE k >= 2),
        |fin AS (SELECT k, n,
        |    CASE WHEN CAST(n AS HUGEINT) * n * n - n - ties3 <= 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(h6 AS HUGEINT) * (CAST(n AS HUGEINT) * n * n - n))
        |              // (CAST(n AS HUGEINT) * n * n - n - ties3) AS BIGINT) END AS hc6
        |  FROM h)
        |SELECT k, n, hc6,
        |  hc6 >= CASE k WHEN 2 THEN 3841459 WHEN 3 THEN 5991465 WHEN 4 THEN 7814728
        |                WHEN 5 THEN 9487729 WHEN 6 THEN 11070498 WHEN 7 THEN 12591587
        |                WHEN 8 THEN 14067140 WHEN 9 THEN 15507313 WHEN 10 THEN 16918978
        |                ELSE 18307038 END AS significant
        |FROM fin""".stripMargin

  /** The Mann-Whitney oracle — shared by the test itself and the
    * Cliff's-delta effect-size readout derived from its doubled U.
    */
  private[graft] lazy val mannWhitneyOracleSql: String =
    """WITH base AS (
        | SELECT event_type AS s, CAST(round(value * 100) AS BIGINT) AS v
        | FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
        |sides AS (SELECT MIN(s) AS side_a, MAX(s) AS side_b FROM base),
        |cnt AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
        |          CAST(SUM(CASE WHEN s = (SELECT side_a FROM sides) THEN 1 ELSE 0 END)
        |               AS BIGINT) AS na_v
        |        FROM base GROUP BY 1),
        |rk AS (SELECT v, t, na_v,
        |         CAST(COALESCE(SUM(t) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS BIGINT) AS rmin
        |       FROM cnt),
        |agg AS (SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
        |               CAST(SUM(t - na_v) AS BIGINT) AS n_b,
        |               SUM(CAST(na_v AS HUGEINT) * (2 * rmin + t - 1)) AS r2a,
        |               SUM(CAST(t AS HUGEINT) * t * t - t) AS ties3
        |        FROM rk),
        |u AS (SELECT side_a, side_b, n_a, n_b,
        |        CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2x, ties3
        |      FROM agg CROSS JOIN sides),
        |den AS (SELECT u.*,
        |         CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
        |         * (CAST(n_a + n_b + 1 AS HUGEINT) * CAST(n_a + n_b AS HUGEINT)
        |            * CAST(n_a + n_b - 1 AS HUGEINT) - CAST(ties3 AS HUGEINT)) AS d
        |        FROM u),
        |zz AS (SELECT side_a, side_b, n_a, n_b, u2x,
        |        CASE WHEN d <= 0 THEN CAST(0 AS BIGINT)
        |        ELSE CAST((CAST(3000000 AS HUGEINT)
        |                   * (CAST(u2x AS HUGEINT) - CAST(n_a AS HUGEINT) * n_b)
        |                   * (CAST(u2x AS HUGEINT) - CAST(n_a AS HUGEINT) * n_b)
        |                   * CAST(n_a + n_b AS HUGEINT)
        |                   * CAST(n_a + n_b - 1 AS HUGEINT)) // d AS BIGINT) END AS z2_6
        |       FROM den)
        |SELECT side_a, side_b, n_a, n_b, u2x, z2_6,
        |       z2_6 >= 3841459 AS significant
        |FROM zz""".stripMargin

  /** The two-proportion z-test oracle — shared by the one-shot batch
    * test (a_ab_test) and the streaming cell-artifact monitor
    * (st_ab_test), which must agree EXACTLY because the (n, x) cells
    * are the sufficient statistic and counts are linear.
    */
  private[graft] lazy val abTestOracleSql: String =
    """WITH cells AS (
      | SELECT event_type AS g,
      |        CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
      |        CAST(COUNT(*) AS BIGINT) AS n,
      |        CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
      | FROM events
      | WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
      | GROUP BY 1, 2),
      |mm AS (SELECT g, COUNT(*) AS nv, MIN(v) AS variant_a, MAX(v) AS variant_b
      |       FROM cells GROUP BY 1),
      |j AS (SELECT mm.g, mm.variant_a, mm.variant_b,
      |             a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b
      |      FROM mm JOIN cells a ON a.g = mm.g AND a.v = mm.variant_a
      |              JOIN cells b ON b.g = mm.g AND b.v = mm.variant_b
      |      WHERE mm.nv = 2),
      |z AS (SELECT j.*,
      |        CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN CAST(0 AS BIGINT)
      |        ELSE CAST((CAST(1000000 AS HUGEINT)
      |                   * CAST(x_a * n_b - x_b * n_a AS HUGEINT)
      |                   * CAST(x_a * n_b - x_b * n_a AS HUGEINT)
      |                   * CAST(n_a + n_b AS HUGEINT))
      |              // (CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
      |                  * CAST(x_a + x_b AS HUGEINT)
      |                  * CAST(n_a + n_b - x_a - x_b AS HUGEINT)) AS BIGINT) END AS z2_6
      |      FROM j)
      |SELECT g AS "group", variant_a, variant_b, n_a, x_a, n_b, x_b, z2_6,
      |       z2_6 >= 3841459 AS significant
      |FROM z ORDER BY "group"""".stripMargin

  /** The CMS heavy-hitter probe oracle — shared by the one-pass build
    * (a_cms_heavy) and the merged-shard-artifact path (a_cms_merged),
    * which must agree EXACTLY because CMS counters are linear.
    */
  private lazy val cmsHeavyOracleSql: String = {
    val probeBuckets = (0 until 4)
      .map(j => s"${cmsBucketSql(j)} AS b$j")
      .mkString(",\n   ")
    val sketchJoins = (0 until 4)
      .map(j => s"JOIN sketch s$j ON s$j.j = $j AND s$j.bucket = pb.b$j")
      .mkString("\n ")
    s"""WITH $cmsSketchSql,
       |top AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact FROM tok
       |        GROUP BY term ORDER BY n_exact DESC, term LIMIT 10),
       |pb AS (SELECT term, n_exact,
       |   $probeBuckets
       | FROM top)
       |SELECT pb.term, pb.n_exact,
       |  least(s0.c, s1.c, s2.c, s3.c) AS cms_est
       |FROM pb $sketchJoins
       |ORDER BY pb.term""".stripMargin
  }

  /** One PageRank iteration as a DuckDB CTE — `cur` from `prev`, the
    * exact integer recurrence of `Graph.pageRank` (damp=85,
    * unit=1e12). Kept as a generator so the 5 unrolled iterations in
    * the g_pagerank oracle cannot drift from each other.
    */
  /** Shared BPE oracle chain: corpus word counts → char-split padded
    * vocabulary v0 → `steps` unrolled merge rounds (pair counts p_r,
    * argmax b_r, rewrite v_r) as MATERIALIZED CTEs (the g_kcore
    * inlining lesson). Used by both t_bpe_merges and t_bpe_encode so
    * learner and encoder mirrors cannot desynchronize.
    */
  private def bpeVocabCtes(steps: Int, corpusFilter: String = "TRUE"): String = {
    val rounds = (1 to steps).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT tk[i] AS a, tk[i + 1] AS b, CAST(sum(c) AS BIGINT) AS cnt
         |  FROM (SELECT regexp_split_to_array(trim(s), ' ') AS tk, c FROM $prev),
         |       LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) g
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT replace(v.s, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ') AS s,
         |         v.c
         |  FROM $prev v CROSS JOIN b$r m)""".stripMargin
    }.mkString(",\n")
    s"""tokc AS MATERIALIZED (
       |  SELECT term AS w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |        FROM documents WHERE length(trim(text)) > 0 AND ($corpusFilter))
       |  WHERE length(term) > 0 GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT ' ' || array_to_string(
       |           list_transform(generate_series(1, CAST(length(w) AS INT)),
       |                          i -> substring(w, CAST(i AS INT), 1)), ' ') || ' ' AS s,
       |         c
       |  FROM tokc),
       |$rounds""".stripMargin
  }

  private def pageRankIterSql(prev: String, cur: String): String =
    s"""$cur AS (SELECT e.dst AS id, b.base + SUM(((r.r * 85) // 100) // d.deg) AS r
       |      FROM edges e JOIN $prev r ON r.id = e.src
       |           JOIN deg d ON d.id = e.src CROSS JOIN b
       |      GROUP BY e.dst, b.base)""".stripMargin

  /** DuckDB mirror of [[bm25Scores]] as a CTE block ending in
    * `bm(doc_id, bm25)` — shared by the t_bm25 and r_hybrid_rrf
    * oracles so a k1/b/term edit re-generates both (the
    * qualitySql/langIdSql convention). `dl` carries the same blank-doc
    * guard as `TextFns.wordCount` (regexp_split of '' is [''], length
    * 1 — unguarded it would shift avglen and every score on a corpus
    * with blank docs).
    */
  private def bm25Sql(terms: Seq[String], docPred: String = "TRUE"): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""dl AS (SELECT doc_id,
       |        CASE WHEN length(trim(text)) = 0 THEN 0
       |             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS dl
       |      FROM documents WHERE $docPred),
       |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avglen, COUNT(*) AS n FROM dl),
       |terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |          FROM documents WHERE $docPred),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms
       |       WHERE term IN ($termList) GROUP BY doc_id, term),
       |dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |contrib AS (
       | SELECT tf.doc_id,
       |        ln((CAST(n AS DOUBLE) - CAST(dfx.df AS DOUBLE) + 0.5) /
       |           (CAST(dfx.df AS DOUBLE) + 0.5) + 1.0) *
       |        (CAST(tf.tf AS DOUBLE) * 2.2) /
       |        (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE) / avglen))) AS c
       | FROM tf JOIN dfx ON tf.term = dfx.term JOIN dl ON tf.doc_id = dl.doc_id, stats),
       |bm AS (SELECT doc_id, round(SUM(c), 6) AS bm25 FROM contrib GROUP BY doc_id)""".stripMargin
  }

  /** The hybrid retrieve-then-fuse oracle (BM25 top-50 + featurizer-
    * cosine top-50, RRF c = 60, top-10), parameterized by the lexical
    * leg's doc universe — TRUE for the corpus-scan path, the
    * non-empty predicate for the index-resident lexical leg.
    */
  /** Global HLL distinct-vocabulary estimate by FULL RESCAN — the
    * done-bar both the batch merged-register path (a_hll_merged) and
    * the streamed per-batch register appends (st_hll_distinct) must
    * reproduce exactly, because register max-merge is lossless.
    */
  private[graft] lazy val hllMergedOracle: String = {
    val alphaNum = Sketches.hllAlpha(10) * 1024.0 * 1024.0 * 8589934592.0
    s"""WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |  FROM documents WHERE length(trim(text)) > 0),
       |hh AS (SELECT DISTINCT ${sqlHash32("term")} AS h FROM tok),
       |rg AS (SELECT h // 4194304 AS bucket,
       |         CASE WHEN h % 4194304 = 0 THEN CAST(23 AS BIGINT)
       |              ELSE CAST(23 - length(bin(h % 4194304)) AS BIGINT) END AS rho
       |       FROM hh),
       |reg AS (SELECT bucket, max(rho) AS r FROM rg GROUP BY 1),
       |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_occupied,
       |         CAST(sum(8589934592 // (CAST(1 AS BIGINT) << CAST(r AS INT))) AS BIGINT) AS s_occ
       |       FROM reg),
       |es AS (SELECT n_occupied,
       |         $alphaNum / CAST(s_occ + (1024 - n_occupied) * 8589934592 AS DOUBLE) AS raw,
       |         1024 - n_occupied AS zeros FROM ag),
       |ex AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS n_exact FROM tok)
       |SELECT n_exact, n_occupied,
       |  CAST(round(CASE WHEN raw <= ${2.5 * 1024.0} AND zeros > 0
       |       THEN 1024.0 * ln(1024.0 / CAST(zeros AS DOUBLE)) ELSE raw END, 0) AS BIGINT) AS hll_est
       |FROM es, ex""".stripMargin
  }

  /** The 16-bucket embedText mirror in DuckDB — blank docs guarded to
    * the zero vector exactly as VectorFns.embedText does (an
    * unguarded regexp_split would give them a unit vector at
    * md5('')'s bucket). Shared by the hybrid and RBO oracles.
    */
  private def sqlEmbed16(src: String): String = {
    val bucket = "((strpos('0123456789abcdef', substring(md5(t), 1, 1)) - 1) % 16)"
    s"CASE WHEN length(trim($src)) = 0 THEN list_transform(generate_series(0, 15), j -> 0.0) " +
      s"ELSE list_transform(generate_series(0, 15), j -> CAST(len(list_filter(" +
      s"regexp_split_to_array(trim($src), '\\s+'), t -> $bucket = j)) AS DOUBLE)) END"
  }

  private def hybridRrfOracle(lexDocPred: String): String = {
    def vexpr(src: String) = sqlEmbed16(src)
    s"""WITH ${bm25Sql(Seq("data", "join"), lexDocPred)},
       |lexr AS (SELECT doc_id, ra FROM (
       |   SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS ra FROM bm)
       |   WHERE ra <= 50),
       |vvec AS (SELECT doc_id, ${vexpr("text")} AS v FROM documents),
       |qvec AS (SELECT ${vexpr("'data join window'")} AS qv),
       |vscore AS (SELECT doc_id, ${sqlCosine("v", "qv")} AS score FROM vvec, qvec),
       |vecr AS (SELECT doc_id, rb FROM (
       |   SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rb FROM vscore)
       |   WHERE rb <= 50),
       |f AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.ra, v.rb,
       |        COALESCE(1.0/(60.0 + l.ra), 0.0) + COALESCE(1.0/(60.0 + v.rb), 0.0) AS rrf
       |      FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id)
       |SELECT doc_id, ra AS lex_rank, rb AS vec_rank, rrf FROM f
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
  }

  /** RBO replayed: the same two top-10 rank lists, the same injected
    * micro-unit depth weights (TextAnalysis.rboWeights — ONE power
    * chain, shared verbatim), per-depth exact-integer terms, running
    * sum over the 10-row grid.
    */
  private def rboOracle: String = {
    val w6 = graft.operators.TextAnalysis.rboWeights(10, 0.9)
    val vals = (1 to 10).map(d => s"(${d}, ${w6(d - 1)})").mkString(", ")
    s"""WITH ${bm25Sql(Seq("data", "join"), "TRUE")},
       |lexr AS (SELECT doc_id, ra FROM (
       |   SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS ra FROM bm)
       |   WHERE ra <= 10),
       |vvec AS (SELECT doc_id, ${sqlEmbed16("text")} AS v FROM documents),
       |qvec AS (SELECT ${sqlEmbed16("'data join window'")} AS qv),
       |vscore AS (SELECT doc_id, ${sqlCosine("v", "qv")} AS score FROM vvec, qvec),
       |vecr AS (SELECT doc_id, rb FROM (
       |   SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rb FROM vscore)
       |   WHERE rb <= 10),
       |bothr AS (SELECT l.doc_id, l.ra, v.rb FROM lexr l JOIN vecr v USING (doc_id)),
       |wt(d, w6) AS (VALUES $vals),
       |ov AS (SELECT wt.d, wt.w6, CAST(count(b.doc_id) AS BIGINT) AS n_overlap
       |       FROM wt LEFT JOIN bothr b ON b.ra <= wt.d AND b.rb <= wt.d GROUP BY 1, 2),
       |tm AS (SELECT d, n_overlap, w6, CAST(w6 * n_overlap // d AS BIGINT) AS term6 FROM ov)
       |SELECT CAST(d AS BIGINT) AS d, n_overlap, CAST(w6 AS BIGINT) AS w6, term6,
       |  CAST(sum(term6) OVER (ORDER BY d) AS BIGINT) AS rbo6
       |FROM tm ORDER BY d""".stripMargin
  }

  /** Shared semdedup oracle chain (banded-LSH candidates → 0.45
    * cosine verify → recursive closure), ending in `comp(id,
    * cluster)` — used by dd_semdedup and dd_medoid so the cluster
    * derivation cannot desynchronize between the two survivors.
    * Callers prepend `WITH RECURSIVE `.
    */
  private lazy val semdedupCompCtes: String = {
    val sigExpr = lshBandPlanes.map(p => sqlLshBit("embedding", p)).mkString(" || ")
    s"""sig AS (
       | SELECT vec_id, embedding, $sigExpr AS sig FROM embeddings),
       |banded AS (
       | SELECT vec_id, gs.band, substring(sig, gs.band * $LshBandBits + 1, $LshBandBits) AS bucket
       | FROM sig, (SELECT unnest(generate_series(0, ${LshBands - 1})) AS band) gs),
       |cand AS (
       | SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       | FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
       |  AND a.vec_id < b.vec_id),
       |pairs AS (
       | SELECT id_a, id_b FROM (
       |  SELECT c.id_a, c.id_b, ${sqlCosine("ea.embedding", "eb.embedding")} AS score
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.id_a
       |  JOIN embeddings eb ON eb.vec_id = c.id_b)
       | WHERE score >= 0.45),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(a, b) AS (
       | SELECT src, dst FROM edges
       | UNION
       | SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
       |comp AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a)""".stripMargin
  }

  private[graft] def sqlHash32(key: String): String =
    s"list_reduce(list_transform(generate_series(1, 8), " +
      s"d -> CAST(strpos('0123456789abcdef', substring(md5(CAST($key AS VARCHAR)), CAST(d AS INT), 1)) - 1 AS BIGINT)), " +
      s"(a, b) -> a * 16 + b)"

  /** v_ivfpq_batch oracle — the per-qid replay of the hybrid chain:
    * corpus assign/encode are query-independent (the pqTopkOracleFor
    * shapes), then EVERY stage that was a driver literal in the
    * single-query oracle becomes a qid-keyed CTE: probe routing
    * (PARTITION BY qid, ties to the smaller cell), the per-(qid, s,
    * code) ADC values, the left-to-right sum, and both tie-broken
    * per-qid windows.
    */
  private def ivfPqBatchOracle: String = {
    def sqlDot(a: String, b: String, n: Int): String =
      s"""list_reduce(list_transform(generate_series(1, $n),
         | i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)""".stripMargin
    def subSlice(v: String, s: String) = s"$v[($s*8+1):($s*8+8)]"
    s"""WITH cents AS (
       | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, embedding AS ce
       | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
       |qs AS (SELECT vec_id AS qid, embedding AS qe
       | FROM embeddings WHERE vec_id % 125 = 0 AND vec_id <> 0),
       |gs AS (SELECT unnest(generate_series(0, 7)) AS s),
       |iscored AS (
       | SELECT e2.vec_id, c2.cell, ${sqlCosine("e2.embedding", "c2.ce")} AS sim
       | FROM embeddings e2 CROSS JOIN cents c2 WHERE e2.vec_id <> 0),
       |iassign AS (SELECT vec_id, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
       |  FROM iscored) WHERE rn = 1),
       |cscored AS (
       | SELECT e.vec_id, e.label, e.embedding, gs.s, c.cell AS code,
       |        ${sqlCosine(subSlice("e.embedding", "gs.s"), subSlice("c.ce", "gs.s"))} AS sim
       | FROM embeddings e CROSS JOIN cents c CROSS JOIN gs
       | WHERE e.vec_id <> 0),
       |best AS (
       | SELECT vec_id, label, embedding, s, code FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY sim DESC, code DESC) AS rn
       |  FROM cscored) WHERE rn = 1),
       |probe AS (SELECT qid, cell FROM (
       | SELECT q.qid, c.cell,
       |        row_number() OVER (PARTITION BY q.qid
       |          ORDER BY ${sqlCosine("q.qe", "c.ce")} DESC, c.cell) AS rn
       | FROM qs q CROSS JOIN cents c) WHERE rn <= 2),
       |adcv AS (
       | SELECT q.qid, gs.s, c.cell AS code,
       |        ${sqlDot(subSlice("q.qe", "gs.s"), subSlice("c.ce", "gs.s"), 8)} AS v
       | FROM qs q CROSS JOIN cents c CROSS JOIN gs),
       |approx AS (
       | SELECT p.qid, b.vec_id, any_value(b.label) AS label,
       |        any_value(b.embedding) AS embedding,
       |        list(v.v ORDER BY b.s) AS vals
       | FROM iassign a
       | JOIN probe p ON p.cell = a.cell
       | JOIN best b ON b.vec_id = a.vec_id
       | JOIN adcv v ON v.qid = p.qid AND v.s = b.s AND v.code = b.code
       | GROUP BY p.qid, b.vec_id),
       |ascored AS (
       | SELECT qid, vec_id, label, embedding,
       |        vals[1]+vals[2]+vals[3]+vals[4]+vals[5]+vals[6]+vals[7]+vals[8]
       |          AS approx_score
       | FROM approx),
       |short AS (SELECT * FROM (
       | SELECT qid, vec_id, label, embedding, approx_score,
       |        row_number() OVER (PARTITION BY qid ORDER BY approx_score DESC, vec_id) AS rn
       | FROM ascored) WHERE rn <= 50),
       |rk AS (SELECT * FROM (
       | SELECT s.qid, s.vec_id, s.label, s.approx_score,
       |        ${sqlCosine("s.embedding", "q.qe")} AS score,
       |        row_number() OVER (PARTITION BY s.qid
       |          ORDER BY ${sqlCosine("s.embedding", "q.qe")} DESC, s.vec_id) AS krn
       | FROM short s JOIN qs q ON q.qid = s.qid) WHERE krn <= 10)
       |SELECT qid, vec_id, label, approx_score, score
       |FROM rk ORDER BY qid, score DESC, vec_id""".stripMargin
  }

  /** v_ivfpq_batch_residual oracle — the residual chain per qid:
    * corpus assign / residual subtraction / donor codebooks / code
    * argmax are query-independent (the ivfPqResidualOracle CTEs);
    * probe routing, the per-(qid, s, code) residual ADC values, the
    * per-cell constants dot(qe, ce) and the constant-first
    * left-to-right sum are qid-keyed (the ivfPqBatchOracle shapes).
    */
  private def ivfPqBatchResidualOracle: String = {
    def sqlDot(a: String, b: String, n: Int): String =
      s"""list_reduce(list_transform(generate_series(1, $n),
         | i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)""".stripMargin
    def subSlice(v: String, s: String) = s"$v[($s*8+1):($s*8+8)]"
    s"""WITH cents AS (
       | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, embedding AS ce
       | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
       |qs AS (SELECT vec_id AS qid, embedding AS qe
       | FROM embeddings WHERE vec_id % 125 = 0 AND vec_id <> 0),
       |gs AS (SELECT unnest(generate_series(0, 7)) AS s),
       |iscored AS (
       | SELECT e2.vec_id, c2.cell, ${sqlCosine("e2.embedding", "c2.ce")} AS sim
       | FROM embeddings e2 CROSS JOIN cents c2 WHERE e2.vec_id <> 0),
       |iassign AS (SELECT vec_id, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
       |  FROM iscored) WHERE rn = 1),
       |res AS (
       | SELECT e.vec_id, e.label, e.embedding, a.cell,
       |        list_transform(generate_series(1, 64),
       |          i -> CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)) AS r
       | FROM embeddings e JOIN iassign a USING (vec_id) JOIN cents c ON c.cell = a.cell),
       |bk AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, r AS br
       | FROM res WHERE vec_id BETWEEN 5 AND 8),
       |rscored AS (
       | SELECT d.vec_id, d.label, d.embedding, d.cell, gs.s, b.code,
       |        ${sqlCosine(subSlice("d.r", "gs.s"), subSlice("b.br", "gs.s"))} AS sim
       | FROM res d CROSS JOIN bk b CROSS JOIN gs),
       |rbest AS (
       | SELECT vec_id, label, embedding, cell, s, code FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY sim DESC, code DESC) AS rn
       |  FROM rscored) WHERE rn = 1),
       |probe AS (SELECT qid, cell, qconst FROM (
       | SELECT q.qid, c.cell,
       |        row_number() OVER (PARTITION BY q.qid
       |          ORDER BY ${sqlCosine("q.qe", "c.ce")} DESC, c.cell) AS rn,
       |        ${sqlDot("q.qe", "c.ce", 64)} AS qconst
       | FROM qs q CROSS JOIN cents c) WHERE rn <= 2),
       |adcv AS (
       | SELECT q.qid, gs.s, b.code,
       |        ${sqlDot(subSlice("q.qe", "gs.s"), subSlice("b.br", "gs.s"), 8)} AS v
       | FROM qs q CROSS JOIN bk b CROSS JOIN gs),
       |approx AS (
       | SELECT p.qid, b.vec_id, any_value(b.label) AS label,
       |        any_value(b.embedding) AS embedding, any_value(p.qconst) AS qconst,
       |        list(v.v ORDER BY b.s) AS vals
       | FROM rbest b
       | JOIN probe p ON p.cell = b.cell
       | JOIN adcv v ON v.qid = p.qid AND v.s = b.s AND v.code = b.code
       | GROUP BY p.qid, b.vec_id),
       |ascored AS (
       | SELECT qid, vec_id, label, embedding,
       |        qconst + vals[1]+vals[2]+vals[3]+vals[4]+vals[5]+vals[6]+vals[7]+vals[8]
       |          AS approx_score
       | FROM approx),
       |short AS (SELECT * FROM (
       | SELECT qid, vec_id, label, embedding, approx_score,
       |        row_number() OVER (PARTITION BY qid ORDER BY approx_score DESC, vec_id) AS rn
       | FROM ascored) WHERE rn <= 50),
       |rk AS (SELECT * FROM (
       | SELECT s.qid, s.vec_id, s.label, s.approx_score,
       |        ${sqlCosine("s.embedding", "q.qe")} AS score,
       |        row_number() OVER (PARTITION BY s.qid
       |          ORDER BY ${sqlCosine("s.embedding", "q.qe")} DESC, s.vec_id) AS krn
       | FROM short s JOIN qs q ON q.qid = s.qid) WHERE krn <= 10)
       |SELECT qid, vec_id, label, approx_score, score
       |FROM rk ORDER BY qid, score DESC, vec_id""".stripMargin
  }

  /** a_ebh_rates / st_ebh_rates shared oracle: the e-value table is
    * the affine final-wealth readout per user bucket (the SAME
    * eProcessConstants the engine injects), the e-BH pass is the
    * rank / shared-IEEE-ln-threshold / max-k chain mirrored
    * textually. The streaming twin SUM-merges partial (hyp, n, x)
    * grids and re-runs the identical readout, so one SQL serves both.
    */
  private[graft] lazy val ebhRatesOracleSql: String = {
    val (a6, b6, _) = Experiments.eProcessConstants(150000L, 300000L, 50000L)
    s"""WITH base AS (SELECT user_id % 20 AS hyp, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
       |  FROM events
       |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
       |  GROUP BY 1),
       |ev AS (SELECT CAST(hyp AS VARCHAR) AS hyp,
       |        CAST(x * ($a6) + (n - x) * ($b6) AS BIGINT) AS ln_e6 FROM base),
       |kt AS (SELECT CAST(COUNT(*) AS BIGINT) AS K FROM ev),
       |r AS (SELECT hyp, ln_e6,
       |        CAST(row_number() OVER (ORDER BY ln_e6 DESC, hyp) AS BIGINT) AS k FROM ev),
       |t AS (SELECT r.hyp, r.ln_e6, r.k,
       |        CAST(round(ln(CAST(kt.K AS DOUBLE) * 1000000.0
       |          / (50000 * CAST(r.k AS DOUBLE))) * 1000000, 0) AS BIGINT) AS thr6
       |      FROM r, kt),
       |ks AS (SELECT COALESCE(MAX(CASE WHEN ln_e6 >= thr6 THEN k END),
       |        CAST(0 AS BIGINT)) AS kstar FROM t)
       |SELECT hyp, ln_e6, k, thr6, k <= ks.kstar AS rejected
       |FROM t, ks ORDER BY k""".stripMargin
  }

  /** a_eprocess / st_eprocess shared oracle: the streaming monitor
    * merges partial (day, n, x) grids and re-runs the same affine
    * wealth readout, so one SQL is the truth for both paths; the
    * micro-nat constants come from the SAME eProcessConstants call
    * the engine uses (the ndcgWeights shared-constant discipline).
    */
  private[graft] lazy val eProcessOracleSql: String = {
    val (a6, b6, thr6) = Experiments.eProcessConstants(200000L, 300000L, 50000L)
    s"""WITH base AS (SELECT CAST(ts AS DATE) AS day,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS xx
       |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
       |d AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(xx) AS BIGINT) AS x
       |      FROM base GROUP BY 1),
       |c AS (SELECT day, n, x,
       |        CAST(SUM(x) OVER (ORDER BY day
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cx,
       |        CAST(SUM(n) OVER (ORDER BY day
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn
       |      FROM d)
       |SELECT strftime(day, '%Y-%m-%d') AS day, n, x,
       |  CAST(cx * ($a6) + (cn - cx) * ($b6) AS BIGINT) AS ln_e6,
       |  (cx * ($a6) + (cn - cx) * ($b6)) >= $thr6 AS crossed
       |FROM c ORDER BY day""".stripMargin
  }

  /** Shared BM25-leg + fusion chassis for the two r_rrf_fusion
    * oracles — `cosxBlock` supplies the embedding leg's CTE chain,
    * which must end in cosx(qid, doc_id, score): the exact query uses
    * the full cross join, the ANN variant the banded-signature
    * candidate join. Everything around it (BM25 run, per-leg top-20
    * ranks, the 1e6 div (60+rank) fusion, fused top-5) is identical.
    */
  private def rrfFusionOracleSql(cosxBlock: String): String =
    s"""WITH q AS (SELECT qid, term FROM (
       |    SELECT doc_id AS qid, unnest(tk[3:10]) AS term FROM (
       |      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
       |      FROM documents WHERE doc_id % 20 = 0)) GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
       |            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS dl
       |       FROM documents),
       |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avglen, COUNT(*) AS n FROM dl),
       |terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |          FROM documents),
       |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms
       |       WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
       |dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |contrib AS (SELECT tf.doc_id, tf.term,
       |        ln((CAST(n AS DOUBLE) - CAST(dfx.df AS DOUBLE) + 0.5) /
       |           (CAST(dfx.df AS DOUBLE) + 0.5) + 1.0) *
       |        (CAST(tf.tf AS DOUBLE) * 2.2) /
       |        (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE) / avglen))) AS c
       |      FROM tf JOIN dfx ON tf.term = dfx.term JOIN dl ON tf.doc_id = dl.doc_id, stats),
       |sc AS (SELECT q.qid, contrib.doc_id, round(SUM(c), 6) AS bm25
       |       FROM contrib JOIN q ON q.term = contrib.term GROUP BY 1, 2),
       |rk AS (SELECT qid, doc_id,
       |        row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rnk
       |       FROM sc),
       |ra AS (SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank_a FROM rk WHERE rnk <= 20),
       |$cosxBlock,
       |rb0 AS (SELECT qid, doc_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
       |        FROM cosx),
       |rb AS (SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rank_b FROM rb0 WHERE rnk <= 20),
       |fu AS (SELECT COALESCE(ra.qid, rb.qid) AS qid,
       |         COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
       |         ra.rank_a, rb.rank_b,
       |         CAST(COALESCE(1000000 // (60 + ra.rank_a), 0)
       |              + COALESCE(1000000 // (60 + rb.rank_b), 0) AS BIGINT) AS rrf6
       |       FROM ra FULL JOIN rb ON ra.qid = rb.qid AND ra.doc_id = rb.doc_id),
       |fr AS (SELECT qid, doc_id, rank_a, rank_b, rrf6,
       |         row_number() OVER (PARTITION BY qid ORDER BY rrf6 DESC, doc_id)
       |           AS fused_rank
       |       FROM fu)
       |SELECT qid, doc_id, rank_a, rank_b, rrf6, CAST(fused_rank AS BIGINT) AS fused_rank
       |FROM fr WHERE fused_rank <= 5 ORDER BY qid, fused_rank""".stripMargin

  private def sqlCosine(a: String, b: String): String = {
    val n = s"least(len($a), len($b))"
    def fold(x: String, y: String) =
      s"list_reduce(list_transform(generate_series(1, $n), i -> CAST($x[i] AS DOUBLE)*CAST($y[i] AS DOUBLE)), (x,y) -> x+y)"
    s"""CASE WHEN sqrt(${fold(a, a)}) * sqrt(${fold(b, b)}) = 0 THEN 0.0
       | ELSE ${fold(a, b)} / (sqrt(${fold(a, a)}) * sqrt(${fold(b, b)}))
       | END""".stripMargin
  }

  /** The bounded-mean e-process monitor's oracle over an events
    * subset (the value-grid family's shared oracle: the lifecycle
    * queries converge the artifact to the grid a plain rebuild on
    * `extraWhere`-filtered events would produce).
    */
  private def eProcessMeanOracleFor(extraWhere: String): String =
    s"""WITH base AS (SELECT CAST(ts AS DATE) AS day,
       |    CAST(round(value * 100) AS BIGINT) * 10 AS v
       |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
       |    AND ($extraWhere)),
       |cells AS (SELECT day, v, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM base GROUP BY 1, 2),
       |terms AS (SELECT day, n,
       |    CAST(round(ln(CAST(1000000000000 + 300000 * (v - 175000) AS DOUBLE)
       |        / 1e12) * 1000000) AS BIGINT) AS t6
       |  FROM cells),
       |daily AS (SELECT day, CAST(SUM(n) AS BIGINT) AS n,
       |    CAST(SUM(CAST(n AS HUGEINT) * t6) AS BIGINT) AS d6
       |  FROM terms GROUP BY 1),
       |cum AS (SELECT day, n,
       |    CAST(SUM(d6) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ln_e6
       |  FROM daily)
       |SELECT strftime(day, '%Y-%m-%d') AS day, n, ln_e6,
       |  ln_e6 >= 2995732 AS crossed
       |FROM cum ORDER BY day""".stripMargin

  /** The quantile-CS oracle at general q (the a_eprocess_median_cs
    * chain with per-side constants injected via
    * [[Experiments.eProcessQuantileCsConstants]] — at q = 50% both
    * sides coincide and this IS the median oracle).
    */
  private def quantileCsOracleFor(qPpm: Long, lambdaPpm: Long, alphaPpm: Long): String = {
    val (ag6, bg6, al6, bl6) = Experiments.eProcessQuantileCsConstants(qPpm, lambdaPpm)
    val thr6 = math.round(math.log(2e6 / alphaPpm) * 1e6)
    s"""WITH base AS (SELECT CAST(ts AS DATE) AS day,
       |    CAST(round(value * 100) AS BIGINT) * 10 AS v
       |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
       |cells AS (SELECT day, v, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1, 2),
       |daily AS (SELECT day, CAST(SUM(n) AS BIGINT) AS n FROM cells GROUP BY 1),
       |dcum AS (SELECT day, n,
       |    CAST(SUM(n) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn
       |  FROM daily),
       |grid AS (SELECT CAST(p AS BIGINT) AS pct, CAST(p * 10000 AS BIGINT) AS m
       |  FROM (SELECT unnest(generate_series(1, 99)) AS p)),
       |dp AS (SELECT day, pct,
       |    CAST(SUM(CASE WHEN v > m THEN n ELSE 0 END) AS BIGINT) AS xg,
       |    CAST(SUM(CASE WHEN v < m THEN n ELSE 0 END) AS BIGINT) AS xl
       |  FROM cells CROSS JOIN grid GROUP BY 1, 2),
       |cum AS (SELECT day, pct,
       |    CAST(SUM(xg) OVER w AS BIGINT) AS cxg,
       |    CAST(SUM(xl) OVER w AS BIGINT) AS cxl
       |  FROM dp WINDOW w AS (PARTITION BY pct ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |wl AS (SELECT c.day, c.pct,
       |    CAST(CAST(c.cxg AS HUGEINT) * ($ag6) + CAST(d.cn - c.cxg AS HUGEINT) * ($bg6)
       |      AS BIGINT) AS wg6,
       |    CAST(CAST(c.cxl AS HUGEINT) * ($al6) + CAST(d.cn - c.cxl AS HUGEINT) * ($bl6)
       |      AS BIGINT) AS wl6
       |  FROM cum c JOIN dcum d USING (day)),
       |sup AS (SELECT day, pct,
       |    MAX(GREATEST(wg6, wl6)) OVER (PARTITION BY pct ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sup6
       |  FROM wl),
       |surv AS (SELECT day, MIN(pct) AS lo_pct, MAX(pct) AS hi_pct
       |  FROM sup WHERE sup6 < $thr6 GROUP BY 1)
       |SELECT strftime(s.day, '%Y-%m-%d') AS day, d.n, s.lo_pct, s.hi_pct
       |FROM surv s JOIN daily d USING (day) ORDER BY day""".stripMargin
  }

  /** The IVFADC composed-index oracle: the pq ADC chain over the
    * corpus restricted to the query's 2 nearest coarse cells —
    * full-space argmax assignment over `assignEmbExpr` (the stale
    * variants substitute a CASE; must textually use alias `e2`),
    * probe ties to the SMALLER cell (the engine's stable sort),
    * codes/re-rank over `rankEmbExpr` (alias `e`).
    */
  private def ivfPqTopkOracleFor(
      assignEmbExpr: String,
      rankEmbExpr: String = "e.embedding",
      extraPred: String = "TRUE"): String =
    pqTopkOracleFor(
      s"e.vec_id <> 0 AND ($extraPred) AND e.vec_id IN (SELECT vec_id FROM pcand)",
      embExpr = rankEmbExpr,
      extraCtes =
        s"""iscored AS (
           | SELECT e2.vec_id, c2.cell, ${sqlCosine(s"($assignEmbExpr)", "c2.ce")} AS sim
           | FROM embeddings e2 CROSS JOIN cents c2 WHERE e2.vec_id <> 0),
           |iassign AS (SELECT vec_id, cell FROM (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
           |  FROM iscored) WHERE rn = 1),
           |iprobe AS (SELECT c3.cell FROM cents c3, q
           |  ORDER BY ${sqlCosine("q.qe", "c3.ce")} DESC, c3.cell LIMIT 2),
           |pcand AS (SELECT vec_id FROM iassign
           |  WHERE cell IN (SELECT cell FROM iprobe))""".stripMargin)

  /** Full residual-IVFADC replay for v_ivfpq_residual: coarse assign
    * (ties to the larger cell) → in-SQL residual subtraction →
    * residual codebooks from vec 5–8's residuals → per-subspace
    * argmax-cosine codes (ties to the larger code) → the DECOMPOSED
    * approximate score dot(q, c_cell) + Σ_s dot(q_s, book[code]) in
    * the engine's exact left-to-right addition order → exact re-rank.
    * Every fold mirrors sqlCosine's sequential i-ascending reduce, so
    * the doubles are bit-identical across engines.
    */
  private def ivfPqResidualOracle: String = {
    def sqlDot(a: String, b: String, n: Int): String =
      s"""list_reduce(list_transform(generate_series(1, $n),
         | i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)""".stripMargin
    def subSlice(v: String) = s"$v[(gs.s*8+1):(gs.s*8+8)]"
    s"""WITH cents AS (
       | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, embedding AS ce
       | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |iscored AS (
       | SELECT e2.vec_id, c2.cell, ${sqlCosine("e2.embedding", "c2.ce")} AS sim
       | FROM embeddings e2 CROSS JOIN cents c2 WHERE e2.vec_id <> 0),
       |iassign AS (SELECT vec_id, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
       |  FROM iscored) WHERE rn = 1),
       |res AS (
       | SELECT e.vec_id, e.label, e.embedding, a.cell,
       |        list_transform(generate_series(1, 64),
       |          i -> CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)) AS r
       | FROM embeddings e JOIN iassign a USING (vec_id) JOIN cents c ON c.cell = a.cell),
       |bk AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, r AS br
       | FROM res WHERE vec_id BETWEEN 5 AND 8),
       |iprobe AS (SELECT c3.cell FROM cents c3, q
       | ORDER BY ${sqlCosine("q.qe", "c3.ce")} DESC, c3.cell LIMIT 2),
       |scored AS (
       | SELECT d.vec_id, d.label, d.embedding, d.cell, gs.s, b.code,
       |        ${sqlCosine(subSlice("d.r"), subSlice("b.br"))} AS sim
       | FROM res d
       | CROSS JOIN bk b
       | CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) gs
       | WHERE d.cell IN (SELECT cell FROM iprobe)),
       |best AS (
       | SELECT vec_id, label, embedding, cell, s, code FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY sim DESC, code DESC) AS rn
       |  FROM scored) WHERE rn = 1),
       |adcv AS (
       | SELECT b.code, gs.s, ${sqlDot(subSlice("q.qe"), subSlice("b.br"), 8)} AS v
       | FROM bk b CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) gs, q),
       |cellc AS (SELECT c.cell, ${sqlDot("q.qe", "c.ce", 64)} AS cv FROM cents c, q),
       |approx AS (
       | SELECT b.vec_id, any_value(b.label) AS label, any_value(b.embedding) AS embedding,
       |        any_value(b.cell) AS cell, list(a.v ORDER BY b.s) AS vals
       | FROM best b JOIN adcv a ON a.s = b.s AND a.code = b.code
       | GROUP BY b.vec_id),
       |short AS (
       | SELECT a.vec_id, a.label, a.embedding,
       |        cc.cv + vals[1]+vals[2]+vals[3]+vals[4]+vals[5]+vals[6]+vals[7]+vals[8]
       |          AS approx_score
       | FROM approx a JOIN cellc cc ON cc.cell = a.cell
       | ORDER BY approx_score DESC, a.vec_id LIMIT 50)
       |SELECT vec_id, label, approx_score, ${sqlCosine("embedding", "q.qe")} AS score
       |FROM short, q
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  /** WITH-chain for one PQ subspace's BEFORE grade (the v_pq_quality
    * chain, shared with the refit family): codebook from vec 1–4
    * slices, assignment by subvector-cosine argmax (ties to the
    * larger code — greatest-struct semantics), milli-quantized CH
    * moment cells. Defines cents/sub/asg/x/cl/pj/t for subspace sp.
    */
  private def pqGradeChain(sp: Int): String = {
    val lo = sp * 8 + 1
    val hi = (sp + 1) * 8
    s"""cents$sp AS (
       | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
       |        embedding[$lo:$hi] AS ce
       | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
       |sub$sp AS (SELECT vec_id, embedding[$lo:$hi] AS sub
       |  FROM embeddings WHERE vec_id <> 0),
       |asg$sp AS (SELECT vec_id, sub, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
       |  FROM (SELECT b.vec_id, b.sub, c.cell, ${sqlCosine("b.sub", "c.ce")} AS sim
       |        FROM sub$sp b CROSS JOIN cents$sp c)) WHERE rn = 1),
       |x$sp AS (SELECT cell AS c, unnest(range(1, len(sub) + 1)) AS j,
       |        CAST(round(CAST(unnest(sub) AS DOUBLE) * 1000.0) AS BIGINT) AS q
       |      FROM asg$sp),
       |cl$sp AS (SELECT c, j, CAST(SUM(q) AS HUGEINT) AS scj,
       |    SUM(CAST(q AS HUGEINT) * q) AS qcj, CAST(COUNT(*) AS BIGINT) AS ncj
       |  FROM x$sp GROUP BY 1, 2),
       |pj$sp AS (SELECT j, SUM(scj) AS sj, CAST(SUM(ncj) AS BIGINT) AS nj,
       |    SUM(qcj) AS qj, SUM((scj * scj) // ncj) AS aj,
       |    CAST(COUNT(DISTINCT c) AS BIGINT) AS kj
       |  FROM cl$sp GROUP BY 1),
       |t$sp AS (SELECT CAST(COUNT(*) AS BIGINT) AS dim, MAX(nj) AS n, MAX(kj) AS k,
       |    SUM(qj) AS q, SUM(aj) AS a,
       |    SUM((sj * sj) // CAST(nj AS HUGEINT)) AS b
       |  FROM pj$sp)""".stripMargin
  }

  /** WITH-chain for one RESIDUAL subspace's grade — [[pqGradeChain]]
    * retargeted at residual codes over residual subvectors. Expects
    * the shared residual prefix (`res(vec_id, cell, r)`, `bk(code,
    * br)`) in scope; assignment is the residual-codebook cosine
    * argmax (ties to the larger code — the pqEncodeResidual
    * greatest-struct rule), then the same milli-quantized CH moment
    * tail ending in `t$sp` so [[pqGradeSelect]] reads it unchanged.
    */
  private def pqResidualGradeChain(sp: Int): String = {
    val lo = sp * 8 + 1
    val hi = (sp + 1) * 8
    s"""rs$sp AS (SELECT r.vec_id, r.r[$lo:$hi] AS sub, b.code,
       |    ${sqlCosine(s"r.r[$lo:$hi]", s"b.br[$lo:$hi]")} AS sim
       |  FROM res r CROSS JOIN bk b),
       |asgr$sp AS (SELECT vec_id, sub, code AS cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, code DESC) AS rn
       |  FROM rs$sp) WHERE rn = 1),
       |x$sp AS (SELECT cell AS c, unnest(range(1, len(sub) + 1)) AS j,
       |        CAST(round(CAST(unnest(sub) AS DOUBLE) * 1000.0) AS BIGINT) AS q
       |      FROM asgr$sp),
       |cl$sp AS (SELECT c, j, CAST(SUM(q) AS HUGEINT) AS scj,
       |    SUM(CAST(q AS HUGEINT) * q) AS qcj, CAST(COUNT(*) AS BIGINT) AS ncj
       |  FROM x$sp GROUP BY 1, 2),
       |pj$sp AS (SELECT j, SUM(scj) AS sj, CAST(SUM(ncj) AS BIGINT) AS nj,
       |    SUM(qcj) AS qj, SUM((scj * scj) // ncj) AS aj,
       |    CAST(COUNT(DISTINCT c) AS BIGINT) AS kj
       |  FROM cl$sp GROUP BY 1),
       |t$sp AS (SELECT CAST(COUNT(*) AS BIGINT) AS dim, MAX(nj) AS n, MAX(kj) AS k,
       |    SUM(qj) AS q, SUM(aj) AS a,
       |    SUM((sj * sj) // CAST(nj AS HUGEINT)) AS b
       |  FROM pj$sp)""".stripMargin
  }

  /** One subspace's grade row off [[pqGradeChain]]'s t-frame. */
  private def pqGradeSelect(sp: Int): String =
    s"""SELECT CAST($sp AS BIGINT) AS subspace, n, k, dim,
       |  greatest(CAST(0 AS BIGINT), CAST((a - b) // n AS BIGINT)) AS ssb6,
       |  greatest(CAST(0 AS BIGINT), CAST((q - a) // n AS BIGINT)) AS ssw6,
       |  CASE WHEN q - a <= 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST((CAST(1000000 AS HUGEINT)
       |               * greatest(CAST(0 AS HUGEINT), a - b) * (n - k))
       |              // ((q - a) * (k - 1)) AS BIGINT) END AS ch6
       |FROM t$sp""".stripMargin

  /** WITH-chain for one PQ subspace's AFTER-refit grade: codes
    * re-centered on exact milli-means of their assigned subvectors
    * (empty codes COALESCE to the old centroid), re-assignment
    * against the new codebook, CH re-grade. Rides [[pqGradeChain]]'s
    * cents/sub/x frames; defines m/nb/cb/asg2/x2/cl2/pj2/t2.
    */
  private def pqAfterChain(sp: Int): String =
    s"""m$sp AS (SELECT c, j, CAST(SUM(CAST(q AS HUGEINT)) // COUNT(*) AS BIGINT) AS m
       |  FROM x$sp GROUP BY c, j),
       |nb$sp AS (SELECT c AS cell, list(CAST(m AS DOUBLE) / 1000.0 ORDER BY j) AS ce
       |  FROM m$sp GROUP BY c),
       |cb$sp AS (SELECT c.cell,
       |    COALESCE(n.ce, list_transform(c.ce, v -> CAST(v AS DOUBLE))) AS ce
       |  FROM cents$sp c LEFT JOIN nb$sp n ON n.cell = c.cell),
       |asg2$sp AS (SELECT vec_id, sub, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
       |  FROM (SELECT b.vec_id, b.sub, c.cell, ${sqlCosine("b.sub", "c.ce")} AS sim
       |        FROM sub$sp b CROSS JOIN cb$sp c)) WHERE rn = 1),
       |x2$sp AS (SELECT cell AS c, unnest(range(1, len(sub) + 1)) AS j,
       |        CAST(round(CAST(unnest(sub) AS DOUBLE) * 1000.0) AS BIGINT) AS q
       |      FROM asg2$sp),
       |cl2$sp AS (SELECT c, j, CAST(SUM(q) AS HUGEINT) AS scj,
       |    SUM(CAST(q AS HUGEINT) * q) AS qcj, CAST(COUNT(*) AS BIGINT) AS ncj
       |  FROM x2$sp GROUP BY 1, 2),
       |pj2$sp AS (SELECT j, SUM(scj) AS sj, CAST(SUM(ncj) AS BIGINT) AS nj,
       |    SUM(qcj) AS qj, SUM((scj * scj) // ncj) AS aj,
       |    CAST(COUNT(DISTINCT c) AS BIGINT) AS kj
       |  FROM cl2$sp GROUP BY 1),
       |t2$sp AS (SELECT MAX(nj) AS n, MAX(kj) AS k,
       |    SUM(qj) AS q, SUM(aj) AS a,
       |    SUM((sj * sj) // CAST(nj AS HUGEINT)) AS b
       |  FROM pj2$sp)""".stripMargin

  /** One subspace's post-refit ch6 off [[pqAfterChain]]'s t2-frame. */
  private def pqAfterSelect(sp: Int): String =
    s"""SELECT CAST($sp AS BIGINT) AS subspace,
       |  CASE WHEN q - a <= 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST((CAST(1000000 AS HUGEINT)
       |               * greatest(CAST(0 AS HUGEINT), a - b) * (n - k))
       |              // ((q - a) * (k - 1)) AS BIGINT) END AS ch6
       |FROM t2$sp""".stripMargin

  /** Literal DuckDB list for a plane vector (Double.toString is
    * round-trip exact; DuckDB parses correctly rounded).
    */
  private def sqlPlane(p: Array[Double]): String =
    p.mkString("[", ", ", "]")

  /** Sign-of-dot bit for one plane: same sign as the cosine the Spark
    * side computes (division by positive norms preserves sign).
    */
  private def sqlLshBit(emb: String, p: Array[Double]): String =
    s"(CASE WHEN list_reduce(list_transform(generate_series(1, $LshDim), " +
      s"i -> CAST($emb[i] AS DOUBLE) * (${sqlPlane(p)})[i]), (x,y) -> x+y) > 0 " +
      "THEN '1' ELSE '0' END)"

  /** DuckDB mirror of Dedup.simhashFingerprint (same as
    * SparkEntry.sqlSimhash).
    */
  private def sqlSimhash(tk: String): String = {
    val digits = (0 until 16).map { pos =>
      val votes = (0 until 4).map { bit =>
        val mask = 1 << (3 - bit)
        s"(CASE WHEN list_reduce(list_transform($tk, t -> CASE WHEN (CAST(floor((strpos('0123456789abcdef', substring(md5(t), ${pos + 1}, 1)) - 1) / $mask) AS INT) % 2) = 1 THEN 1 ELSE -1 END), (x,y) -> x+y) > 0 THEN $mask ELSE 0 END)"
      }.mkString(" + ")
      s"substring('0123456789abcdef', ($votes) + 1, 1)"
    }
    digits.mkString(" || ")
  }

  /** The t_funnel_e2e oracle, shared verbatim by the streaming funnel.
    * st_funnel's dedup is streaming dropDuplicates — first-wins in
    * ARRIVAL order, which equals this oracle's min-doc_id first-wins
    * under either of two conditions, both of which hold here: the
    * single-split file source delivers rows in doc_id order, and (the
    * stronger, split-independent one) this corpus has NO duplicate
    * fingerprints at all, so the kept-row choice never arises. On a
    * multi-split corpus WITH duplicates, shuffle fetch order decides
    * the streaming survivor and min-id parity is not guaranteed —
    * that is streaming-dedup semantics, not a defect. lang/quality CTEs
    * are DERIVED from the engine's own marker/stopword/weight
    * constants (TextAnalysis.langIdSql/qualitySql) — a marker or
    * weight edit re-generates both sides, so this composed oracle
    * cannot silently desynchronize from t_quality_score/t_lang_id.
    */
  private[graft] lazy val funnelE2eOracle: String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS tk FROM documents),
       |lang AS (SELECT doc_id, ${TextAnalysis.langIdSql(SparkEntry.langMarkers, "tk")} AS lang_pred
       |  FROM tok),
       |qb AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS nc,
       |  CAST(len(regexp_split_to_array(trim(text),'\\s+')) AS DOUBLE) AS nt,
       |  ${TextAnalysis.stopHitsSql(SparkEntry.qualityStops, "regexp_split_to_array(trim(text),'\\s+')")} AS ns
       |  FROM documents),
       |qual AS (SELECT doc_id, ${TextAnalysis.qualitySql("nc", "nt", "ns")} AS quality
       |  FROM qb),
       |base AS (SELECT d.doc_id, d.text, d.source, l.lang_pred, q.quality
       |  FROM documents d JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
       |  WHERE d.source <> 'src0' AND l.lang_pred = 'dataish' AND q.quality >= 0.5),
       |ded AS (SELECT * FROM base
       |  QUALIFY row_number() OVER (
       |    PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
       |    ORDER BY doc_id) = 1),
       |dsh AS (SELECT b.doc_id, unnest(list_distinct(list_transform(generate_series(1, len(t.tk) - 2),
       |          i -> t.tk[i] || ' ' || t.tk[i+1] || ' ' || t.tk[i+2]))) AS s
       |        FROM ded b JOIN tok t USING (doc_id) WHERE len(t.tk) >= 3),
       |bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(generate_series(1, len(tk) - 2),
       |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
       |        FROM documents JOIN tok USING (doc_id) WHERE source = 'src0' AND len(tk) >= 3),
       |cont AS (SELECT DISTINCT dsh.doc_id FROM dsh JOIN bsh USING (s))
       |SELECT doc_id, source, lang_pred, quality FROM ded
       |WHERE doc_id NOT IN (SELECT doc_id FROM cont)
       |  AND ${sqlHash32("doc_id")} < ${Sampling.threshold(0.5)}
       |ORDER BY doc_id""".stripMargin

  /** The dd_incremental_neardup oracle — DuckDB mirror of
    * MinHashSignature (8 hashes from md5 slices, same formula as the
    * dd_minhash_pairs / t_funnel_neardup oracles). Shared verbatim by
    * the streaming variant (st_incremental_neardup): near-dup-vs-
    * static-history is stateless across micro-batches, so per-batch
    * application in foreachBatch computes exactly the batch result.
    */
  private[graft] lazy val incrementalNeardupOracle: String = {
    def sig(sh: String) =
      s"list_transform(generate_series(0, 7), i -> list_aggregate(list_transform($sh, " +
        "s -> list_reduce(list_transform(generate_series(1, 8), d -> strpos('0123456789abcdef', " +
        "substring(CASE WHEN i // 4 = 0 THEN md5(s) ELSE md5(CAST(i // 4 AS VARCHAR) || ':' || s) END, " +
        "CAST((i % 4) * 8 + d AS INT), 1)) - 1), (a, b) -> a * 16 + b)), 'min'))"
    val shingles =
      "list_distinct(list_transform(generate_series(1, len(tk)-2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))"
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |hist AS (SELECT doc_id, text FROM d WHERE doc_id < 250),
       |batch AS (SELECT b.doc_id, CASE WHEN b.doc_id % 7 = 0 THEN h.text || ' data stream batch' ELSE b.text END AS text
       |          FROM d b JOIN hist h ON b.doc_id - 250 = h.doc_id WHERE b.doc_id >= 250),
       |btok AS (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS tk FROM batch),
       |htok AS (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS tk FROM hist),
       |bshl AS (SELECT doc_id, $shingles AS sh FROM btok WHERE len(tk) >= 3),
       |hshl AS (SELECT doc_id, $shingles AS sh FROM htok WHERE len(tk) >= 3),
       |bsig AS (SELECT doc_id, ${sig("sh")} AS sg FROM bshl WHERE len(sh) > 0),
       |hsig AS (SELECT doc_id, ${sig("sh")} AS sg FROM hshl WHERE len(sh) > 0),
       |bband AS (SELECT doc_id, gs.b AS band, md5(CAST(sg[gs.b + 1] AS VARCHAR)) AS bucket
       |          FROM bsig, LATERAL (SELECT unnest(generate_series(0, 7)) AS b) gs),
       |hband AS (SELECT doc_id, gs.b AS band, md5(CAST(sg[gs.b + 1] AS VARCHAR)) AS bucket
       |          FROM hsig, LATERAL (SELECT unnest(generate_series(0, 7)) AS b) gs),
       |cand AS (SELECT DISTINCT b.doc_id AS id_a, h.doc_id AS id_b
       |         FROM bband b JOIN hband h ON b.band = h.band AND b.bucket = h.bucket),
       |matched AS (SELECT DISTINCT id_a FROM cand
       |  JOIN bshl sa ON sa.doc_id = id_a JOIN hshl sb ON sb.doc_id = id_b
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.3)
       |SELECT doc_id FROM batch
       |WHERE doc_id NOT IN (SELECT id_a FROM matched)
       |ORDER BY doc_id""".stripMargin
  }

  /** The v_ivf_topk oracle (coarse assign, probe 2/4 cells, exact
    * rank), shared by v_ivf_persisted (index round-trip must be
    * identity) and v_ivf_upsert (last-wins upserts must converge to
    * the plain corpus).
    */
  private[graft] lazy val ivfTopkOracle: String = ivfTopkOracleFor("b.vec_id <> 0")

  /** ivfTopkOracle over a restricted effective corpus — the delete
    * variants swap in the live-rows predicate (tombstones applied).
    */
  private[graft] def ivfTopkOracleFor(corpusPred: String): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cents AS (
       | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, embedding AS ce
       | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
       |scored AS (
       | SELECT b.vec_id, b.label, b.embedding, c.cell,
       |        ${sqlCosine("b.embedding", "c.ce")} AS sim
       | FROM embeddings b CROSS JOIN cents c WHERE $corpusPred),
       |assign AS (
       | SELECT vec_id, label, embedding, cell FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
       |  FROM scored) WHERE rn = 1),
       |probe AS (
       | SELECT cell FROM (
       |  SELECT c.cell, ${sqlCosine("c.ce", "q.qe")} AS sim FROM cents c, q
       |  ORDER BY sim DESC, cell ASC LIMIT 2))
       |SELECT a.vec_id, a.label, a.cell, ${sqlCosine("a.embedding", "q.qe")} AS score
       |FROM assign a, q
       |WHERE a.cell IN (SELECT cell FROM probe)
       |ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin

  /** The v_pq_topk oracle (ADC lookup-table scan + exact re-rank),
    * shared verbatim by v_pq_persisted: the persisted index must
    * reproduce the in-line encode + rank exactly.
    */
  private[graft] lazy val pqTopkOracle: String = pqTopkOracleFor("e.vec_id <> 0")

  /** pqTopkOracle over a restricted effective corpus (delete
    * variants); `embExpr` substitutes the corpus embedding (the
    * as-of/stale variants — the index's stored vector at that clock,
    * used by BOTH the code assignment and the exact re-rank).
    */
  private[graft] def pqTopkOracleFor(
      corpusPred: String,
      embExpr: String = "e.embedding",
      extraCtes: String = ""): String = {
    def subSlice(v: String, s: String) = s"$v[($s*8+1):($s*8+8)]"
    val codeCos = sqlCosine("sub_v", "sub_c")
    val extras = if (extraCtes.isEmpty) "" else extraCtes.stripSuffix(",") + ",\n"
    s"""WITH cents AS (
       | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, embedding AS ce
       | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |${extras}scored AS (
       | SELECT e.vec_id, e.label, ($embExpr) AS embedding, gs.s, c.cell,
       |        ${subSlice(s"($embExpr)", "gs.s")} AS sub_v,
       |        ${subSlice("c.ce", "gs.s")} AS sub_c
       | FROM embeddings e
       | CROSS JOIN cents c
       | CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) gs
       | WHERE $corpusPred),
       |best AS (
       | SELECT vec_id, label, embedding, s, cell FROM (
       |  SELECT vec_id, label, embedding, s, cell,
       |         row_number() OVER (PARTITION BY vec_id, s ORDER BY $codeCos DESC, cell DESC) AS rn
       |  FROM scored) WHERE rn = 1),
       |adcv AS (
       | SELECT c.cell, gs.s,
       |        list_reduce(list_transform(generate_series(1, 8),
       |          i -> CAST((${subSlice("q.qe", "gs.s")})[i] AS DOUBLE) *
       |               CAST((${subSlice("c.ce", "gs.s")})[i] AS DOUBLE)), (x,y) -> x+y) AS v
       | FROM cents c CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) gs, q),
       |approx AS (
       | SELECT b.vec_id, any_value(b.label) AS label, any_value(b.embedding) AS embedding,
       |        list(a.v ORDER BY b.s) AS vals
       | FROM best b JOIN adcv a ON a.s = b.s AND a.cell = b.cell
       | GROUP BY b.vec_id),
       |short AS (
       | SELECT vec_id, label, embedding,
       |        vals[1]+vals[2]+vals[3]+vals[4]+vals[5]+vals[6]+vals[7]+vals[8] AS approx_score
       | FROM approx
       | ORDER BY approx_score DESC, vec_id LIMIT 50)
       |SELECT vec_id, label, approx_score, ${sqlCosine("embedding", "q.qe")} AS score
       |FROM short, q
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  /** Persisted-artifact twins share their in-line query's oracle
    * VERBATIM — an artifact round-trip must be result-identity (the
    * v_ivf_persisted / r_phrase_persisted rule, here applied to the
    * dup-graph artifact): any drift between the persisted and in-line
    * paths hash-mismatches against the single shared oracle.
    */
  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    base ++ Map(
      // the persisted hybrid must reproduce the in-line composition
      // exactly — one oracle, two paths (the v_pq_persisted rule)
      "v_ivfpq_persisted" -> base("v_ivfpq_topk"),
      // batched serving off the artifact frames must reproduce the
      // in-plan batch exactly — one oracle, two frame sources
      "v_ivfpq_batch_persisted" -> base("v_ivfpq_batch"),
      // residual codes round-trip the same two artifact families —
      // the persisted serve must reproduce the in-line residual chain
      "v_ivfpq_residual_persisted" -> base("v_ivfpq_residual"),
      // composed last-wins (codes + the cell they carry) must
      // converge the hybrid to the plain table — same oracle again
      "v_ivfpq_upsert" -> base("v_ivfpq_topk"),
      "g_pagerank_persisted" -> base("g_pagerank"),
      "dd_cluster_sizes_persisted" -> base("dd_cluster_sizes"),
      "dd_cluster_resolve_persisted" -> base("dd_cluster_resolve"),
      "er_golden_persisted" -> base("er_golden"),
      "s_leakage_persisted" -> base("s_leakage_split"),
      // incremental closure must converge to the full-corpus closure
      "dd_graph_upsert" -> base("dd_cluster_sizes"),
      // persisted-LM scoring must bit-equal the in-line fit (micro-nat
      // rounding happened at fit time; parquet round-trip is lossless)
      "t_ppl_persisted" -> base("t_perplexity_bigram"),
      // count-grid merges are exact: incremental and as-of-1 models
      // must bit-equal the full-corpus fit...
      "t_lm_upsert" -> base("t_perplexity_bigram"),
      "t_lm_asof" -> base("t_perplexity_bigram"),
      // ...and the takedown/compacted models the filtered-corpus fit
      // (still scoring ALL docs — removed docs read as OOV/backoff)
      "t_lm_takedown" -> bigramPplOracleSql("doc_id % 10 <> 0"),
      "t_lm_compacted" -> bigramPplOracleSql("doc_id % 10 <> 0"),
      // the as-of-1 (pre-takedown) state IS the full-corpus graph:
      // later tombstones must be invisible to the time-travel read
      "dd_graph_asof" -> base("dd_cluster_sizes"))
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "f4_timeline" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d') || ': ' || event_type AS line
        |FROM events WHERE event_type IN ('purchase', 'signup')
        |ORDER BY event_id""".stripMargin,
    "u3_intersect_except" ->
      """WITH fast AS (SELECT doc_id FROM documents WHERE contains(text, 'fast')),
        |dat AS (SELECT doc_id FROM documents WHERE contains(text, 'data'))
        |SELECT doc_id, 'both' AS op FROM (SELECT doc_id FROM fast INTERSECT SELECT doc_id FROM dat)
        |UNION ALL
        |SELECT doc_id, 'fast_only' FROM (SELECT doc_id FROM fast EXCEPT SELECT doc_id FROM dat)
        |ORDER BY op, doc_id""".stripMargin,
    "a_pivot" ->
      """SELECT user_id,
        | CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        | CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        | CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        | CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        | CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "a_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(COUNT(*) AS BIGINT) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,
    "a_cube" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(COUNT(*) AS BIGINT) AS n_items,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,
    // avg(l_quantity) is exact here — quantities are integer-valued
    // doubles, so the sum is order-independent and both engines
    // compute the identical threshold (no float-boundary flips)
    "q17_small_qty" ->
      """SELECT p_brand,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n_small
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "a_unpivot" ->
      """SELECT l_returnflag, metric, CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (
        |  SELECT l_returnflag, 'discount' AS metric, l_discount AS v FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'quantity', l_quantity FROM lineitem)
        |GROUP BY l_returnflag, metric ORDER BY l_returnflag, metric""".stripMargin,
    "w_ntile" ->
      """WITH r AS (
        | SELECT o_orderstatus,
        |        ntile(4) OVER w AS quartile,
        |        rank() OVER w AS rk
        | FROM orders WHERE o_orderpriority = '1-URGENT'
        | WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey))
        |SELECT o_orderstatus, CAST(quartile AS BIGINT) AS quartile,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(MIN(rk) AS BIGINT) AS min_rank,
        |       CAST(MAX(rk) AS BIGINT) AS max_rank
        |FROM r GROUP BY o_orderstatus, quartile
        |ORDER BY o_orderstatus, quartile""".stripMargin,
    "w_event_gaps" ->
      """SELECT user_id, event_id,
        | CAST(epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT) AS gap_us
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "j5_risk_enriched" ->
      """WITH hits AS (
        | SELECT doc_id, source, CAST(n_chars % 100 AS DOUBLE) AS score, 'capacity' AS risk_type,
        |        CASE WHEN contains(lower(text),'big') THEN 'big'
        |             WHEN contains(lower(text),'huge') THEN 'huge' END AS keyword,
        |        'medium' AS severity
        | FROM documents
        | UNION ALL
        | SELECT doc_id, source, CAST(n_chars % 100 AS DOUBLE), 'latency',
        |        CASE WHEN contains(lower(text),'slow') THEN 'slow'
        |             WHEN contains(lower(text),'lag') THEN 'lag' END,
        |        'high'
        | FROM documents)
        |SELECT doc_id, source, score, risk_type, keyword, severity FROM hits
        |WHERE keyword IS NOT NULL ORDER BY doc_id, risk_type""".stripMargin,
    "e2_payload_lookup" ->
      """SELECT c_custkey, c_name,
        | COALESCE(n_orders, 0) AS n_orders,
        | COALESCE(total_spent, 0.0) AS total_spent
        |FROM customer LEFT JOIN (
        | SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        | FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey
        |WHERE c_custkey % 100 = 42
        |ORDER BY c_custkey""".stripMargin,
    // struct_pack field order mirrors the Spark struct order exactly;
    // CAST(to_json(...) AS VARCHAR) because DuckDB's JSON type would
    // otherwise come back as a JSON-typed column, not a string
    "e3_payload_assembly" ->
      """WITH companies AS (
        |  SELECT c_custkey AS company_id, c_name AS name, c_mktsegment AS segment FROM customer),
        |ev AS (
        |  SELECT o_custkey AS company_id,
        |    list_sort(list(struct_pack(event_id := o_orderkey, title := o_orderpriority,
        |      occurred_on := strftime(o_orderdate, '%Y-%m-%d'),
        |      event_type := o_orderstatus,
        |      amount_cents := CAST(round(o_totalprice * 100) AS BIGINT)))) AS events
        |  FROM orders WHERE o_totalprice > 150000 GROUP BY 1),
        |pc AS (
        |  SELECT company_id, list_sort(list(struct_pack(priority := p, n := n))) AS priority_counts
        |  FROM (SELECT o_custkey AS company_id, o_orderpriority AS p, CAST(count(*) AS BIGINT) AS n
        |        FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT CAST(to_json(struct_pack(
        |    company_id := c.company_id, name := c.name, segment := c.segment,
        |    events := coalesce(e.events, []),
        |    priority_counts := coalesce(p.priority_counts, []))) AS VARCHAR) AS payload_json
        |FROM companies c
        |LEFT JOIN ev e ON e.company_id = c.company_id
        |LEFT JOIN pc p ON p.company_id = c.company_id
        |ORDER BY payload_json""".stripMargin,
    "f6_page_error" -> {
      val phrases = Seq(
        "404 not found", "403 forbidden", "500 internal server error",
        "access denied", "page not found", "this page could not be found",
        "site can''t be reached", "connection refused", "err_",
        "service unavailable", "too many requests", "captcha",
        "are you a robot", "enable javascript", "checking your browser")
      val phraseHit = phrases.map(p => s"contains(lower(page_text), '$p')").mkString(" OR ")
      s"""WITH b AS (
         | SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN '404 Not Found: ' || text
         |       WHEN doc_id % 7 = 1 THEN 'Error loading page'
         |       WHEN doc_id % 7 = 2 THEN 'Checking your browser... ' || text
         |       ELSE text END AS page_text
         | FROM documents)
         |SELECT doc_id, substring(page_text, 1, 40) AS head40 FROM b
         |WHERE NOT (($phraseHit)
         |  OR (length(trim(page_text)) < 50 AND contains(lower(page_text), 'error')))
         |ORDER BY doc_id""".stripMargin
    },
    "f7_name_filter" ->
      """SELECT c_custkey,
        | CASE WHEN c_custkey % 5 = 2 THEN 'Ada Lovelace' ELSE 'Grace Murray Hopper' END AS name
        |FROM customer WHERE c_custkey % 5 IN (2, 4)
        |ORDER BY c_custkey""".stripMargin,
    "f8_geo_clean" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'New York,Paris,San Francisco'
        |      ELSE 'Paris,San Francisco' END AS cities_csv
        |FROM documents ORDER BY doc_id""".stripMargin,
    "f9_article_links" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 4 = 0 THEN 'https://site.example.com/blog/post-' || CAST(doc_id AS VARCHAR)
        |      ELSE 'https://www.site.example.com/news/item-' || CAST(doc_id AS VARCHAR) END AS url
        |FROM documents WHERE doc_id % 4 IN (0, 3)
        |ORDER BY doc_id""".stripMargin,
    "s4_ats_jobs" ->
      """WITH sup AS (
        | SELECT s_suppkey, s_suppkey % 10 AS company_id,
        |  CASE WHEN s_suppkey % 3 = 0 THEN 'Software Engineer'
        |       WHEN s_suppkey % 3 = 1 THEN 'Sales Executive'
        |       ELSE 'Product Designer' END AS t1
        | FROM supplier),
        |jobs AS (
        | SELECT company_id, t1 AS title FROM sup
        | UNION ALL
        | SELECT company_id, 'Data Engineer' FROM sup)
        |SELECT company_id, CAST(COUNT(*) AS BIGINT) AS job_openings_count,
        | CAST(COUNT(*) FILTER (WHERE regexp_matches(lower(title),
        |   '\b(engineer|developer|software|infra|platform|data|ml|ai)\b')) AS BIGINT) AS engineering_openings,
        | CAST(COUNT(*) FILTER (WHERE regexp_matches(lower(title),
        |   '\b(sales|account exec|business development|revenue)\b')) AS BIGINT) AS sales_openings
        |FROM jobs GROUP BY company_id ORDER BY company_id""".stripMargin,
    "c6_investors" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 4 = 0 THEN 'Accel'
        |      WHEN doc_id % 4 = 1 THEN 'Alpha Partners'
        |      WHEN doc_id % 4 = 2 THEN 'Beta Fund'
        |      ELSE '' END AS investors_csv,
        | CASE WHEN doc_id % 4 = 1 THEN CAST(1500000000 AS BIGINT)
        |      WHEN doc_id % 4 = 2 THEN CAST(250000000 AS BIGINT)
        |      ELSE CAST(NULL AS BIGINT) END AS valuation_usd
        |FROM documents ORDER BY doc_id""".stripMargin,
    "s4_ats_vendors" ->
      """WITH sup AS (
        | SELECT s_suppkey, CAST(s_suppkey AS VARCHAR) AS k, s_suppkey % 3 AS v FROM supplier),
        |jobs AS (
        | SELECT s_suppkey AS company_id, 'workable' AS source, 'Backend Engineer' AS title,
        |        'https://wk/' || k AS url, 'Berlin, Remote' AS location FROM sup WHERE v = 0
        | UNION ALL
        | SELECT s_suppkey, 'ashby', 'Data Scientist', 'https://ash/' || k, 'NYC' FROM sup WHERE v = 1
        | UNION ALL
        | SELECT s_suppkey, 'workday', 'Staff Engineer ' || k,
        |        'https://acme.example.com/job/JR-' || k, 'Austin' FROM sup WHERE v = 2
        | UNION ALL
        | SELECT s_suppkey, 'workday', 'Platform Engineer ' || k,
        |        'https://acme.example.com/job/PR-' || k, NULL FROM sup WHERE v = 2)
        |SELECT company_id, source, title, url, location FROM jobs
        |ORDER BY company_id, title""".stripMargin,
    "g_adamic_adar" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS id_a, b.p AS id_b FROM op a JOIN op b USING (o)
        |       WHERE a.p < b.p),
        |ew AS (SELECT id_a, id_b, COUNT(*) AS w FROM e0 GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b FROM ew WHERE w >= 2),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |deg AS (SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
        |wt AS (SELECT id, CAST(round(1000000.0 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS w6
        |       FROM deg),
        |wdg AS (SELECT e1.a AS u, e2.b AS v, CAST(COUNT(*) AS BIGINT) AS common,
        |               CAST(SUM(wt.w6) AS BIGINT) AS aa6
        |        FROM edges e1 JOIN edges e2 ON e1.b = e2.a
        |        JOIN wt ON wt.id = e1.b
        |        WHERE e1.a < e2.b GROUP BY 1, 2),
        |nonedge AS (SELECT wdg.* FROM wdg
        |            LEFT JOIN edges e ON e.a = wdg.u AND e.b = wdg.v
        |            WHERE e.a IS NULL)
        |SELECT u AS id_a, v AS id_b, common, aa6
        |FROM nonedge WHERE common >= 2 ORDER BY id_a, id_b""".stripMargin,
    "a_skyline" ->
      """WITH base AS (
        | SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |        CAST(p_size AS BIGINT) AS size
        | FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL),
        |g AS (SELECT price_cents AS m, MAX(size) AS gb FROM base GROUP BY 1),
        |k AS (SELECT m, gb,
        |        MAX(gb) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb
        |      FROM g)
        |SELECT b.p_partkey, b.price_cents, b.size
        |FROM base b JOIN k ON b.price_cents = k.m AND b.size = k.gb
        |WHERE k.pb IS NULL OR k.gb > k.pb
        |ORDER BY price_cents, p_partkey""".stripMargin,
    "a_ab_test" -> abTestOracleSql,
    // same md5-hex sign draws (< '8' + 14 zeros = exactly half the
    // 60-bit space); HUGEINT replicate sums
    "a_permutation" ->
      """WITH per AS (SELECT CAST(user_id AS VARCHAR) AS u,
        |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      - SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS d
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |obs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
        |    CAST(SUM(d) AS HUGEINT) AS tobs FROM per),
        |ts AS (SELECT r,
        |    SUM(CASE WHEN substring(md5(u || ':' || CAST(r AS VARCHAR)), 1, 15)
        |        < '800000000000000' THEN -CAST(d AS HUGEINT)
        |        ELSE CAST(d AS HUGEINT) END) AS t
        |  FROM per, (SELECT r FROM generate_series(0, 199) AS g(r)) reps
        |  GROUP BY r),
        |f AS (SELECT obs.n_units, CAST(COUNT(*) AS BIGINT) AS n_reps,
        |    CAST(obs.tobs AS BIGINT) AS t_obs,
        |    CAST(SUM(CASE WHEN abs(ts.t) >= abs(obs.tobs) THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_ge
        |  FROM ts, obs GROUP BY obs.n_units, obs.tobs)
        |SELECT n_units, n_reps, t_obs, n_ge,
        |  CAST((CAST(1000000 AS HUGEINT) * (1 + n_ge)) // (n_reps + 1) AS BIGINT)
        |    AS p_ppm
        |FROM f""".stripMargin,
    // same group cells and MoM moments; the one signed division
    // mirrored as sign * (abs // den)
    "a_eb_means" ->
      """WITH base AS (SELECT user_id AS g, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |cells AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
        |    SUM(CAST(v AS HUGEINT) * v) AS q FROM base GROUP BY 1),
        |c2 AS (SELECT g, n, s, q,
        |    CAST((CAST(1000000 AS HUGEINT) * s) // n AS BIGINT) AS raw6,
        |    CAST(s // n AS BIGINT) AS rawc,
        |    q - (CAST(s AS HUGEINT) * s) // n AS ssw
        |  FROM cells),
        |m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS gc, CAST(SUM(n) AS BIGINT) AS nt,
        |    CAST(SUM(s) AS BIGINT) AS st, CAST(SUM(rawc) AS BIGINT) AS sp,
        |    SUM(CAST(rawc AS HUGEINT) * rawc) AS spp, SUM(ssw) AS sswt
        |  FROM c2),
        |b AS (SELECT c2.g, c2.n, c2.raw6,
        |    CAST((CAST(1000000 AS HUGEINT) * st) // nt AS BIGINT) AS m6,
        |    CAST((CAST(1000 AS HUGEINT)
        |          * (CAST(gc AS HUGEINT) * spp - CAST(sp AS HUGEINT) * sp))
        |         // (CAST(gc AS HUGEINT) * (gc - 1)) AS BIGINT) AS vm,
        |    CAST((CAST(1000 AS HUGEINT) * sswt) // (nt - gc) AS BIGINT) AS sw2m
        |  FROM c2, m1),
        |b2 AS (SELECT b.*, CAST(sw2m // n AS BIGINT) AS sampm FROM b),
        |m2 AS (SELECT CAST(CAST(SUM(sampm) AS HUGEINT) // COUNT(*) AS BIGINT)
        |    AS avgm FROM b2),
        |f AS (SELECT b2.*, greatest(CAST(0 AS BIGINT), vm - m2.avgm) AS taum
        |  FROM b2, m2)
        |SELECT g AS "group", n, raw6,
        |  CASE WHEN taum + sampm = 0 THEN raw6
        |    ELSE m6 + (CASE WHEN raw6 < m6 THEN -1 ELSE 1 END)
        |      * CAST((CAST(taum AS HUGEINT) * abs(raw6 - m6))
        |             // (CAST(taum AS HUGEINT) + sampm) AS BIGINT) END AS shrunk6
        |FROM f ORDER BY g""".stripMargin,
    // same (group, variant) cells; both one-sided predicates as
    // HUGEINT compares against the one-sided 95th literal
    "a_tost" ->
      """WITH base AS (SELECT event_type AS g,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
        |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS s
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(s) AS BIGINT) AS x FROM base GROUP BY 1, 2),
        |mins AS (SELECT g, COUNT(*) AS nv, MIN(v) AS variant_a, MAX(v) AS variant_b
        |  FROM cells GROUP BY 1),
        |j AS (SELECT m.g, m.variant_a, m.variant_b,
        |    ca.n AS n_a, ca.x AS x_a, cb.n AS n_b, cb.x AS x_b
        |  FROM mins m
        |  JOIN cells ca ON ca.g = m.g AND ca.v = m.variant_a
        |  JOIN cells cb ON cb.g = m.g AND cb.v = m.variant_b
        |  WHERE m.nv = 2),
        |d AS (SELECT j.*,
        |    CAST((CAST(1000000 AS HUGEINT) * x_a) // n_a
        |      - (CAST(1000000 AS HUGEINT) * x_b) // n_b AS BIGINT) AS diff6,
        |    CAST((CAST(1000000000000 AS HUGEINT) * x_a * (n_a - x_a))
        |           // (CAST(n_a AS HUGEINT) * n_a * n_a)
        |      + (CAST(1000000000000 AS HUGEINT) * x_b * (n_b - x_b))
        |           // (CAST(n_b AS HUGEINT) * n_b * n_b) AS BIGINT) AS se2_12
        |  FROM j)
        |SELECT g AS "group", variant_a, variant_b, n_a, x_a, n_b, x_b,
        |  diff6, se2_12,
        |  (diff6 + 50000 > 0 AND 50000 - diff6 > 0
        |   AND CAST(1000000 AS HUGEINT) * (diff6 + 50000) * (diff6 + 50000)
        |       >= CAST(2705543 AS HUGEINT) * se2_12
        |   AND CAST(1000000 AS HUGEINT) * (50000 - diff6) * (50000 - diff6)
        |       >= CAST(2705543 AS HUGEINT) * se2_12) AS equivalent
        |FROM d ORDER BY g""".stripMargin,
    // same coarsened strata; the signed ATT division mirrored as
    // sign * (abs // den) so truncation agrees
    "a_cem_att" ->
      """WITH per AS (SELECT user_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_ev,
        |    CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS spend
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |s AS (SELECT n_ev // 20 AS k0, n_days // 10 AS k1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN spend ELSE 0 END) AS BIGINT) AS syt,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN spend ELSE 0 END) AS BIGINT) AS syc
        |  FROM per GROUP BY 1, 2),
        |g AS (SELECT
        |    CAST(COUNT(*) AS BIGINT) AS n_strata,
        |    CAST(SUM(CASE WHEN nt > 0 AND nc > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_strata_matched,
        |    CAST(SUM(nt) AS BIGINT) AS n_treated,
        |    CAST(SUM(CASE WHEN nt > 0 AND nc > 0 THEN nt ELSE 0 END) AS BIGINT)
        |      AS n_treated_matched,
        |    CAST(SUM(CASE WHEN nt > 0 AND nc > 0 THEN nc ELSE 0 END) AS BIGINT)
        |      AS n_control_matched,
        |    SUM(CASE WHEN nt > 0 AND nc > 0
        |        THEN CAST(nt AS HUGEINT)
        |             * ((CAST(1000000 AS HUGEINT) * syt) // nt
        |                - (CAST(1000000 AS HUGEINT) * syc) // nc)
        |        ELSE CAST(0 AS HUGEINT) END) AS num
        |  FROM s)
        |SELECT n_strata, n_strata_matched, n_treated, n_treated_matched,
        |  n_control_matched,
        |  CASE WHEN n_treated = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((CAST(1000000 AS HUGEINT) * n_treated_matched)
        |                 // n_treated AS BIGINT) END AS match_ppm,
        |  CASE WHEN n_treated_matched = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
        |                 * (abs(num) // n_treated_matched) AS BIGINT) END AS att6
        |FROM g""".stripMargin,
    // identical md5-hex weight draws from the SAME injected
    // Pois1HexCdf literals; HUGEINT mirrors the DECIMAL(38,0) stages
    "a_poisson_boot" -> {
      val wCase = "CASE " +
        operators.Experiments.Pois1HexCdf.zipWithIndex
          .map { case (x, k) => s"WHEN h < '$x' THEN $k" }
          .mkString(" ") + " ELSE 8 END"
      s"""WITH ev AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v
         |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
         |pu AS (SELECT CAST(user_id AS VARCHAR) AS u, (user_id % 2 = 0) AS a,
         |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv
         |  FROM ev GROUP BY 1, 2),
         |hs AS (SELECT pu.u, pu.a, pu.n, pu.sv, g.r,
         |    substring(md5(pu.u || ':' || CAST(g.r AS VARCHAR)), 1, 15) AS h
         |  FROM pu, (SELECT r FROM generate_series(0, 99) AS t(r)) g),
         |ws AS (SELECT r, a, n, sv, $wCase AS w FROM hs),
         |cells AS (SELECT r,
         |    CAST(SUM(CASE WHEN a THEN w * n ELSE 0 END) AS BIGINT) AS nwa,
         |    SUM(CASE WHEN a THEN CAST(w AS HUGEINT) * sv
         |        ELSE CAST(0 AS HUGEINT) END) AS swa,
         |    CAST(SUM(CASE WHEN NOT a THEN w * n ELSE 0 END) AS BIGINT) AS nwb,
         |    SUM(CASE WHEN NOT a THEN CAST(w AS HUGEINT) * sv
         |        ELSE CAST(0 AS HUGEINT) END) AS swb
         |  FROM ws GROUP BY r),
         |d AS (SELECT CAST((CAST(1000000 AS HUGEINT) * swa) // nwa
         |        - (CAST(1000000 AS HUGEINT) * swb) // nwb AS BIGINT) AS diff6
         |      FROM cells WHERE nwa > 0 AND nwb > 0),
         |ci AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
         |    list_sort(list(diff6)) AS s FROM d),
         |pt AS (SELECT
         |    CAST(SUM(CASE WHEN a THEN n ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN NOT a THEN n ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST((CAST(1000000 AS HUGEINT)
         |          * SUM(CASE WHEN a THEN CAST(sv AS HUGEINT) ELSE 0 END))
         |      // SUM(CASE WHEN a THEN n ELSE 0 END) AS BIGINT) AS mean_a6,
         |    CAST((CAST(1000000 AS HUGEINT)
         |          * SUM(CASE WHEN NOT a THEN CAST(sv AS HUGEINT) ELSE 0 END))
         |      // SUM(CASE WHEN NOT a THEN n ELSE 0 END) AS BIGINT) AS mean_b6
         |  FROM pu)
         |SELECT n_reps, n_a, n_b, mean_a6, mean_b6,
         |  (mean_a6 - mean_b6) AS diff_point6,
         |  s[CAST((n_reps * 25) // 1000 + 1 AS INTEGER)] AS diff_lo6,
         |  s[CAST(n_reps - (n_reps * 25) // 1000 AS INTEGER)] AS diff_hi6
         |FROM ci, pt""".stripMargin
    },
    "a_mann_whitney" -> mannWhitneyOracleSql,
    "a_cuped" ->
      """WITH per AS (
        | SELECT user_id,
        |   CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS pre_cents,
        |   CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS post_cents
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        | GROUP BY 1),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |              CAST(SUM(pre_cents) AS BIGINT) AS sx,
        |              CAST(SUM(post_cents) AS BIGINT) AS sy,
        |              SUM(CAST(pre_cents AS HUGEINT) * pre_cents) AS sxx,
        |              SUM(CAST(pre_cents AS HUGEINT) * post_cents) AS sxy
        |       FROM per),
        |th AS (SELECT n, sx,
        |        CAST((CAST(1000000 AS HUGEINT)
        |              * (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy))
        |             // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
        |             AS BIGINT) AS theta6
        |       FROM st)
        |SELECT p.user_id, p.post_cents AS metric, p.pre_cents AS covariate, th.theta6,
        |  CAST(1000000 AS BIGINT) * p.post_cents
        |   - CAST((CAST(th.theta6 AS HUGEINT)
        |           * (CAST(th.n AS HUGEINT) * p.pre_cents - th.sx))
        |          // CAST(th.n AS HUGEINT) AS BIGINT) AS adj6
        |FROM per p, th ORDER BY user_id""".stripMargin,
    "a_srm_check" ->
      """WITH w(v, wt) AS (VALUES ('control', CAST(1 AS BIGINT)), ('treatment', CAST(3 AS BIGINT))),
        |cells AS (
        | SELECT event_type AS g,
        |        CASE WHEN user_id % 4 = 0 THEN 'control' ELSE 'treatment' END AS v,
        |        CAST(COUNT(*) AS BIGINT) AS n_v
        | FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        | GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(SUM(n_v) AS BIGINT) AS N FROM cells GROUP BY 1),
        |grid AS (SELECT t.g, t.N, w.v, w.wt, CAST(COALESCE(c.n_v, 0) AS BIGINT) AS n_v
        |         FROM tot t CROSS JOIN w
        |         LEFT JOIN cells c ON c.g = t.g AND c.v = w.v),
        |terms AS (SELECT g, N,
        |   CAST((CAST(1000000 AS HUGEINT)
        |         * CAST(n_v * 4 - N * wt AS HUGEINT)
        |         * CAST(n_v * 4 - N * wt AS HUGEINT))
        |        // (CAST(N AS HUGEINT) * wt * 4) AS BIGINT) AS term6
        |  FROM grid)
        |SELECT g AS "group", MAX(N) AS n, CAST(COUNT(*) AS BIGINT) AS k,
        |       CAST(SUM(term6) AS BIGINT) AS chi2_6,
        |       CAST(SUM(term6) AS BIGINT) >= 3841459 AS significant
        |FROM terms GROUP BY 1 ORDER BY "group"""".stripMargin,
    "a_welch_t" ->
      """WITH cells AS (
        | SELECT event_type AS g,
        |        CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
        |        CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
        |        SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
        |            * CAST(round(value * 100) AS BIGINT)) AS ss
        | FROM events
        | WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
        | GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |mm AS (SELECT g, COUNT(*) AS nv, MIN(v) AS variant_a, MAX(v) AS variant_b
        |       FROM cells GROUP BY 1),
        |j AS (SELECT mm.g, mm.variant_a, mm.variant_b,
        |             a.n AS n_a, a.s AS s_a, a.ss AS ss_a,
        |             b.n AS n_b, b.s AS s_b, b.ss AS ss_b
        |      FROM mm JOIN cells a ON a.g = mm.g AND a.v = mm.variant_a
        |              JOIN cells b ON b.g = mm.g AND b.v = mm.variant_b
        |      WHERE mm.nv = 2),
        |st AS (SELECT g, variant_a, variant_b, n_a, n_b,
        |  CAST((CAST(1000000 AS HUGEINT)
        |        * (CAST(s_a AS HUGEINT) * n_b - CAST(s_b AS HUGEINT) * n_a))
        |       // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS md6,
        |  CAST((CAST(1000000 AS HUGEINT)
        |        * (CAST(n_a AS HUGEINT) * ss_a - CAST(s_a AS HUGEINT) * s_a))
        |       // (CAST(n_a AS HUGEINT) * n_a * (n_a - 1)) AS BIGINT) AS von_a,
        |  CAST((CAST(1000000 AS HUGEINT)
        |        * (CAST(n_b AS HUGEINT) * ss_b - CAST(s_b AS HUGEINT) * s_b))
        |       // (CAST(n_b AS HUGEINT) * n_b * (n_b - 1)) AS BIGINT) AS von_b
        | FROM j),
        |fin AS (SELECT g, variant_a, variant_b, n_a, n_b, md6,
        |  CASE WHEN von_a + von_b = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(md6 AS HUGEINT) * md6) // (von_a + von_b) AS BIGINT) END AS t2_6
        | FROM st)
        |SELECT g AS "group", variant_a, variant_b, n_a, n_b, md6, t2_6,
        |       t2_6 >= 3841459 AS significant
        |FROM fin ORDER BY "group"""".stripMargin,
    "a_wilcoxon" ->
      """WITH per AS (
        | SELECT user_id,
        |   CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS pre_cents,
        |   CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS post_cents
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        | GROUP BY 1),
        |d AS (SELECT post_cents - pre_cents AS d FROM per),
        |z AS (SELECT CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero FROM d),
        |cnt AS (SELECT abs(d) AS ad, CAST(COUNT(*) AS BIGINT) AS t,
        |          CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS np_v
        |        FROM d WHERE d <> 0 GROUP BY 1),
        |rk AS (SELECT ad, t, np_v,
        |         CAST(COALESCE(SUM(t) OVER (ORDER BY ad
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS BIGINT) AS rmin
        |       FROM cnt),
        |agg AS (SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) AS n,
        |               CAST(COALESCE(SUM(np_v * (2 * rmin + t - 1)), 0) AS BIGINT) AS t2x,
        |               CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS ties3
        |        FROM rk),
        |fin AS (SELECT n, z.n_zero, t2x,
        |   CAST(2 AS HUGEINT) * n * (n + 1) * (2 * n + 1) - ties3 AS den,
        |   CAST(2 AS HUGEINT) * t2x - CAST(n AS HUGEINT) * (n + 1) AS num0
        |  FROM agg CROSS JOIN z),
        |zz AS (SELECT n, n_zero, t2x,
        |  CASE WHEN den <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(3000000 AS HUGEINT) * num0 * num0) // den AS BIGINT) END AS z2_6
        | FROM fin)
        |SELECT n, n_zero, t2x, z2_6, z2_6 >= 3841459 AS significant FROM zz""".stripMargin,
    "a_power_mde" ->
      s"""WITH cells AS (
         | SELECT event_type AS g,
         |        CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
         |        CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
         | FROM events
         | WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
         | GROUP BY 1, 2),
         |mm AS (SELECT g, COUNT(*) AS nv, MIN(v) AS variant_a, MAX(v) AS variant_b
         |       FROM cells GROUP BY 1),
         |j AS (SELECT mm.g, mm.variant_a, mm.variant_b,
         |             a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b
         |      FROM mm JOIN cells a ON a.g = mm.g AND a.v = mm.variant_a
         |              JOIN cells b ON b.g = mm.g AND b.v = mm.variant_b
         |      WHERE mm.nv = 2),
         |d AS (SELECT j.*,
         |        CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a AS dd
         |      FROM j)
         |SELECT g AS "group", variant_a, variant_b, n_a, x_a, n_b, x_b,
         |  dd = 0 AS delta_zero,
         |  CASE WHEN dd = 0 THEN CAST(NULL AS BIGINT)
         |  ELSE CAST(
         |    (CAST(${Experiments.PowerConst05_80Micro} AS HUGEINT)
         |     * (CAST(x_a AS HUGEINT) * (n_a - x_a) * n_b * n_b
         |        + CAST(x_b AS HUGEINT) * (n_b - x_b) * n_a * n_a)
         |     + CAST(1000000 AS HUGEINT) * dd * dd - 1)
         |    // (CAST(1000000 AS HUGEINT) * dd * dd) AS BIGINT) END AS n_req
         |FROM d ORDER BY "group"""".stripMargin,
    "a_did" ->
      """WITH cells AS (
        | SELECT event_type AS g,
        |        CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        |        ts >= TIMESTAMP '2024-01-16' AS post,
        |        CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
        |        SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
        |            * CAST(round(value * 100) AS BIGINT)) AS ss
        | FROM events
        | WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |   AND event_type IS NOT NULL
        | GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
        |mc AS (SELECT g, arm, post, n,
        |  CAST((CAST(1000000 AS HUGEINT) * s) // n AS BIGINT) AS m6,
        |  CAST((CAST(1000000 AS HUGEINT)
        |        * (CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s))
        |       // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT) AS von6
        | FROM cells),
        |arms AS (SELECT g, COUNT(*) AS nc, MIN(arm) AS arm_a, MAX(arm) AS arm_b
        |         FROM mc GROUP BY 1),
        |j AS (SELECT a.g, a.arm_a, a.arm_b,
        |   ap.n AS n_a_pre, aq.n AS n_a_post, bp.n AS n_b_pre, bq.n AS n_b_post,
        |   ap.m6 AS m_ap, aq.m6 AS m_aq, bp.m6 AS m_bp, bq.m6 AS m_bq,
        |   ap.von6 + aq.von6 + bp.von6 + bq.von6 AS von
        | FROM arms a
        | JOIN mc ap ON ap.g = a.g AND ap.arm = a.arm_a AND NOT ap.post
        | JOIN mc aq ON aq.g = a.g AND aq.arm = a.arm_a AND aq.post
        | JOIN mc bp ON bp.g = a.g AND bp.arm = a.arm_b AND NOT bp.post
        | JOIN mc bq ON bq.g = a.g AND bq.arm = a.arm_b AND bq.post
        | WHERE a.nc = 4),
        |fin AS (SELECT g, arm_a, arm_b, n_a_pre, n_a_post, n_b_pre, n_b_post,
        |   m_bq - m_bp - m_aq + m_ap AS did6, von
        | FROM j)
        |SELECT g AS "group", arm_a, arm_b, n_a_pre, n_a_post, n_b_pre, n_b_post, did6,
        |  CASE WHEN von = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(did6 AS HUGEINT) * did6) // von AS BIGINT) END AS t2_6,
        |  CASE WHEN von = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(did6 AS HUGEINT) * did6) // von AS BIGINT) END >= 3841459
        |    AS significant
        |FROM fin ORDER BY "group"""".stripMargin,
    "a_kappa" ->
      s"""WITH tok AS (SELECT regexp_split_to_array(trim(text),'\\s+') AS tk,
         |    regexp_split_to_array(trim(substr(text, 1, 80)),'\\s+') AS pk FROM documents),
         |p AS (SELECT ${TextAnalysis.langIdSql(SparkEntry.langMarkers, "tk")} AS r1,
         |        ${TextAnalysis.langIdSql(SparkEntry.langMarkers, "pk")} AS r2
         |      FROM tok),
         |g AS (SELECT r1, r2, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
         |rw AS (SELECT r1 AS c, CAST(SUM(n) AS BIGINT) AS rn FROM g GROUP BY 1),
         |cl AS (SELECT r2 AS c, CAST(SUM(n) AS BIGINT) AS cn FROM g GROUP BY 1),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
         |        SUM(CAST(COALESCE(rn, 0) AS HUGEINT) * COALESCE(cn, 0)) AS mm
         |      FROM rw FULL OUTER JOIN cl USING (c)),
         |dg AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
         |        CAST(SUM(CASE WHEN r1 = r2 THEN n ELSE 0 END) AS BIGINT) AS dd FROM g),
         |fin AS (SELECT nt, dd, n_classes, mm,
         |   CAST(nt AS HUGEINT) * dd - mm AS knum,
         |   CAST(nt AS HUGEINT) * nt - mm AS kden
         | FROM dg CROSS JOIN m)
         |SELECT nt AS n, n_classes,
         |  CAST((CAST(1000000 AS HUGEINT) * dd) // nt AS BIGINT) AS po6,
         |  CAST((CAST(1000000 AS HUGEINT) * mm) // (CAST(nt AS HUGEINT) * nt) AS BIGINT)
         |    AS pe6,
         |  CASE WHEN kden = 0 THEN CAST(0 AS BIGINT)
         |       WHEN knum >= 0 THEN CAST((CAST(1000000 AS HUGEINT) * knum) // kden AS BIGINT)
         |       ELSE CAST(-((CAST(1000000 AS HUGEINT) * -knum) // kden) AS BIGINT) END
         |    AS kappa6
         |FROM fin""".stripMargin,
    "a_post_strat" ->
      """WITH cells AS (
        | SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
        |        event_type AS st,
        |        CAST(COUNT(*) AS BIGINT) AS n_vs,
        |        CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS x_vs
        | FROM events
        | WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
        | GROUP BY 1, 2),
        |strata AS (SELECT st, CAST(SUM(n_vs) AS BIGINT) AS n_s FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS nt FROM strata),
        |terms AS (SELECT c.v, c.n_vs, c.x_vs,
        |   CAST((CAST(1000000 AS HUGEINT) * s.n_s * c.x_vs)
        |        // (CAST(t.nt AS HUGEINT) * c.n_vs) AS BIGINT) AS term,
        |   CAST((CAST(1000000 AS HUGEINT) * s.n_s) // t.nt AS BIGINT) AS wterm
        |  FROM cells c JOIN strata s USING (st) CROSS JOIN tot t),
        |agg AS (SELECT v, CAST(SUM(n_vs) AS BIGINT) AS n, CAST(SUM(x_vs) AS BIGINT) AS x,
        |          CAST(SUM(term) AS BIGINT) AS adj_ppm,
        |          CAST(SUM(wterm) AS BIGINT) AS w_base_ppm
        |        FROM terms GROUP BY 1)
        |SELECT v AS variant, n,
        |  CAST((CAST(1000000 AS HUGEINT) * x) // n AS BIGINT) AS raw_ppm,
        |  adj_ppm, w_base_ppm
        |FROM agg ORDER BY variant""".stripMargin,
    "a_mutual_info" ->
      """WITH g AS (SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |ma AS (SELECT a, CAST(SUM(n) AS BIGINT) AS n_a FROM g GROUP BY 1),
        |mb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS n_b FROM g GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
        |         CAST(COUNT(DISTINCT a) AS BIGINT) AS ca,
        |         CAST(COUNT(DISTINCT b) AS BIGINT) AS cb FROM g),
        |mi AS (SELECT CAST(SUM(CAST(round(
        |          (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
        |          * ln((CAST(n AS DOUBLE) * CAST(nt AS DOUBLE))
        |               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
        |          * 1000000.0) AS BIGINT)) AS BIGINT) AS mi6
        |       FROM g JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tt),
        |hA AS (SELECT CAST(SUM(CAST(round(
        |          (CAST(n_a AS DOUBLE) / CAST(nt AS DOUBLE))
        |          * ln(CAST(nt AS DOUBLE) / CAST(n_a AS DOUBLE))
        |          * 1000000.0) AS BIGINT)) AS BIGINT) AS h_a6 FROM ma CROSS JOIN tt),
        |hB AS (SELECT CAST(SUM(CAST(round(
        |          (CAST(n_b AS DOUBLE) / CAST(nt AS DOUBLE))
        |          * ln(CAST(nt AS DOUBLE) / CAST(n_b AS DOUBLE))
        |          * 1000000.0) AS BIGINT)) AS BIGINT) AS h_b6 FROM mb CROSS JOIN tt)
        |SELECT nt AS n, ca AS classes_a, cb AS classes_b, mi6, h_a6, h_b6,
        |  CASE WHEN h_a6 + h_b6 = 0 THEN CAST(0 AS BIGINT)
        |       WHEN mi6 >= 0 THEN CAST((1000000 * 2 * mi6) // (h_a6 + h_b6) AS BIGINT)
        |       ELSE CAST(-((1000000 * 2 * -mi6) // (h_a6 + h_b6)) AS BIGINT) END AS nmi6
        |FROM tt CROSS JOIN mi CROSS JOIN hA CROSS JOIN hB""".stripMargin,
    "s_neyman_alloc" ->
      """WITH st AS (SELECT event_type AS stratum, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
        |    SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
        |        * CAST(round(value * 100) AS BIGINT)) AS ss
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1 HAVING COUNT(*) >= 2),
        |w AS (SELECT stratum, n,
        |   CAST(round(sqrt(
        |     (CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
        |      * CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) * 1000000.0) AS BIGINT) AS w6
        |  FROM st),
        |tt AS (SELECT CAST(SUM(w6) AS BIGINT) AS wt FROM w),
        |b AS (SELECT stratum, n, w6,
        |   CAST((CAST(100 AS HUGEINT) * w6) // wt AS BIGINT) AS base,
        |   CAST((CAST(100 AS HUGEINT) * w6) % wt AS BIGINT) AS rem
        |  FROM w CROSS JOIN tt),
        |lv AS (SELECT 100 - CAST(SUM(base) AS BIGINT) AS lft FROM b),
        |r AS (SELECT b.*, row_number() OVER (ORDER BY rem DESC, stratum) AS rk FROM b)
        |SELECT stratum, n, w6,
        |  CAST(base + CASE WHEN rk <= lft THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r CROSS JOIN lv ORDER BY stratum""".stripMargin,
    "r_ql_dirichlet" ->
      """WITH tok AS (SELECT doc_id AS id, unnest(regexp_split_to_array(trim(text),'\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |lens AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS len FROM tf GROUP BY 1),
        |ct AS (SELECT CAST(SUM(tf) AS BIGINT) AS c FROM tf),
        |qt(term) AS (VALUES ('table'), ('query'), ('join')),
        |cf AS (SELECT tf.term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf JOIN qt USING (term)
        |       GROUP BY 1),
        |grid AS (SELECT l.id, l.len, f.term, f.cf, ct.c, COALESCE(t.tf, 0) AS tf
        |  FROM lens l CROSS JOIN cf f CROSS JOIN ct
        |  LEFT JOIN tf t ON t.id = l.id AND t.term = f.term),
        |tm AS (SELECT id, len,
        |   CAST(round(ln(CAST(tf * c + 100 * cf AS DOUBLE)
        |                 / (CAST(len + 100 AS DOUBLE) * CAST(c AS DOUBLE)))
        |              * 1000000.0) AS BIGINT) AS t6
        |  FROM grid)
        |SELECT id AS doc_id, CAST(MAX(len) AS BIGINT) AS len,
        |       CAST(SUM(t6) AS BIGINT) AS score6
        |FROM tm GROUP BY 1 ORDER BY score6 DESC, doc_id LIMIT 10""".stripMargin,
    "a_obf_looks" -> groupSeqLooksOracleSql(Experiments.ObfZ2Micro5),
    "a_pocock_looks" -> groupSeqLooksOracleSql(Experiments.PocockZ2Micro5),
    "a_eb_rates" ->
      """WITH cells AS (
        | SELECT user_id AS g, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
        | FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL GROUP BY 1),
        |r AS (SELECT g, n, x, CAST((1000000 * x) // n AS BIGINT) AS raw6 FROM cells),
        |mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS gc,
        |         CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(x) AS BIGINT) AS xt,
        |         CAST(SUM(raw6) AS BIGINT) AS sp,
        |         SUM(CAST(raw6 AS HUGEINT) * raw6) AS spp
        |       FROM r),
        |pri AS (SELECT gc, CAST((1000000 * xt) // nt AS BIGINT) AS m6,
        |          CAST((CAST(gc AS HUGEINT) * spp - CAST(sp AS HUGEINT) * sp)
        |               // (CAST(gc AS HUGEINT) * (gc - 1)) AS BIGINT) AS v12
        |        FROM mo),
        |nu AS (SELECT m6,
        |         CASE WHEN v12 <= 0 THEN CAST(0 AS BIGINT)
        |         ELSE greatest(CAST(0 AS BIGINT),
        |           CAST((CAST(m6 AS HUGEINT) * (1000000 - m6)) // v12 AS BIGINT) - 1) END
        |           AS nu
        |       FROM pri)
        |SELECT r.g AS "group", r.n, r.x, r.raw6,
        |  CAST((CAST(1000000 AS HUGEINT) * r.x + CAST(nu.m6 AS HUGEINT) * nu.nu)
        |       // (r.n + nu.nu) AS BIGINT) AS eb6
        |FROM r CROSS JOIN nu ORDER BY "group"""".stripMargin,
    "g_reciprocity" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem),
        |ed0 AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
        |        FROM li a JOIN li b
        |          ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1),
        |ed AS (SELECT DISTINCT src, dst FROM ed0 WHERE src <> dst
        |       AND src IS NOT NULL AND dst IS NOT NULL),
        |rec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rec FROM ed e
        |        WHERE EXISTS (SELECT 1 FROM ed r WHERE r.src = e.dst AND r.dst = e.src)),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM ed)
        |SELECT tot.n_edges, rec.n_rec AS n_reciprocated,
        |  CASE WHEN tot.n_edges = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((1000000 * rec.n_rec) // tot.n_edges AS BIGINT) END AS reciprocity_ppm
        |FROM tot CROSS JOIN rec""".stripMargin,
    "t_textrank" -> {
      def iter(prev: String, cur: String): String =
        s"""$cur AS (SELECT e.dst AS id,
           |      b.base + SUM((((r.r * 85) // 100) * e.w) // d.wdeg) AS r
           |      FROM edges e JOIN $prev r ON r.id = e.src
           |           JOIN wdeg d ON d.id = e.src CROSS JOIN b
           |      GROUP BY e.dst, b.base)""".stripMargin
      s"""WITH tok AS (SELECT doc_id, CAST(gs.i AS BIGINT) AS pos, tk[CAST(gs.i AS INT)] AS term
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS tk
         |        FROM documents WHERE length(trim(text)) > 0) d,
         |       LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) gs),
         |adj AS (SELECT least(a.term, b.term) AS ta, greatest(a.term, b.term) AS tb,
         |               CAST(count(*) AS BIGINT) AS w
         |        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |        WHERE a.term <> b.term GROUP BY 1, 2),
         |vterm AS (SELECT DISTINCT term
         |          FROM (SELECT ta AS term FROM adj UNION ALL SELECT tb FROM adj)),
         |vocab AS (SELECT term, CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS tid
         |          FROM vterm),
         |pairs AS (SELECT va.tid AS id_a, vb.tid AS id_b, adj.w
         |          FROM adj JOIN vocab va ON va.term = adj.ta
         |                   JOIN vocab vb ON vb.term = adj.tb),
         |edges AS (SELECT id_a AS src, id_b AS dst, w FROM pairs
         |          UNION ALL SELECT id_b, id_a, w FROM pairs),
         |wdeg AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS wdeg FROM edges GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM wdeg),
         |b AS (SELECT (((100 - 85) * 1000000000000) // 100) // n AS base FROM nn),
         |r0 AS (SELECT id, 1000000000000 // n AS r FROM wdeg CROSS JOIN nn),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")},
         |${iter("r3", "r4")},
         |${iter("r4", "r5")}
         |SELECT v.term, CAST(r.r AS BIGINT) AS rank_units
         |FROM r5 r JOIN vocab v ON v.tid = r.id
         |ORDER BY rank_units DESC, term LIMIT 15""".stripMargin
    },
    "a_attribution" ->
      """WITH ev AS (SELECT user_id AS u, ts, event_id AS eid, event_type FROM events
        |            WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL),
        |c AS (SELECT u, ts AS cts, eid AS ceid FROM ev WHERE event_type = 'purchase'),
        |t AS (SELECT u, ts AS tts, eid AS teid, event_type AS ch FROM ev
        |      WHERE event_type IN ('click', 'view')),
        |m AS (SELECT c.u, c.ceid, t.ch, t.tts, t.teid FROM c JOIN t ON c.u = t.u
        |      AND t.tts < c.cts AND t.tts >= c.cts - INTERVAL 7 DAY),
        |r AS (SELECT *, row_number() OVER (PARTITION BY u, ceid ORDER BY tts, teid) AS rk,
        |        count(*) OVER (PARTITION BY u, ceid) AS n FROM m),
        |cr AS (SELECT ch, u, ceid,
        |        CAST(1000000 // n AS BIGINT) AS linear6,
        |        CAST(CASE WHEN n = 1 THEN 1000000 WHEN n = 2 THEN 500000
        |             WHEN rk = 1 OR rk = n THEN 400000
        |             ELSE 200000 // (n - 2) END AS BIGINT) AS ushape6
        |       FROM r),
        |pc AS (SELECT ch AS channel, CAST(count(*) AS BIGINT) AS n_touches,
        |         CAST(count(DISTINCT (u, ceid)) AS BIGINT) AS n_conversions,
        |         CAST(SUM(linear6) AS BIGINT) AS linear6,
        |         CAST(SUM(ushape6) AS BIGINT) AS ushape6
        |       FROM cr GROUP BY 1),
        |orp AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM c
        |        WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.u = c.u AND m.ceid = c.ceid)),
        |un AS (SELECT '(unattributed)' AS channel, CAST(0 AS BIGINT) AS n_touches,
        |         nn AS n_conversions, nn * 1000000 AS linear6, nn * 1000000 AS ushape6
        |       FROM orp WHERE nn > 0)
        |SELECT * FROM pc UNION ALL SELECT * FROM un ORDER BY channel""".stripMargin,
    "er_fs_weights" ->
      s"""WITH $fsWeightsSqlPrefix
         |SELECT field, n_match, n_unmatch, a_match, a_unmatch, m_ppm, u_ppm,
         |       w_agree6, w_dis6
         |FROM fs_ww ORDER BY field""".stripMargin,
    "er_fs_scores" ->
      s"""WITH $fsWeightsSqlPrefix,
         |fs_sc AS (SELECT st.id_a, st.id_b,
         |            CAST(SUM(CASE WHEN st.agree THEN w.w_agree6 ELSE w.w_dis6 END)
         |                 AS BIGINT) AS score6,
         |            bool_or(st.m) AS truth
         |          FROM fs_st st JOIN fs_ww w USING (field)
         |          GROUP BY 1, 2)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN score6 > 0 AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(SUM(CASE WHEN score6 > 0 AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(SUM(CASE WHEN score6 <= 0 AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(SUM(CASE WHEN score6 <= 0 AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |FROM fs_sc""".stripMargin,
    "a_rfm_segments" ->
      """WITH per AS (
        | SELECT user_id, MAX(CAST(ts AS DATE)) AS last_d,
        |        CAST(COUNT(*) AS BIGINT) AS frequency,
        |        CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
        | FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
        | GROUP BY 1),
        |clk AS (SELECT MAX(last_d) AS now_d FROM per),
        |base AS (SELECT per.*, CAST(date_diff('day', last_d, now_d) AS BIGINT) AS recency_days
        |         FROM per CROSS JOIN clk),
        |sc AS (
        | SELECT *,
        |  row_number() OVER (ORDER BY recency_days, user_id) AS rr,
        |  row_number() OVER (ORDER BY frequency DESC, user_id) AS rf,
        |  row_number() OVER (ORDER BY monetary_cents DESC, user_id) AS rm,
        |  CAST(COUNT(*) OVER () AS BIGINT) AS n
        | FROM base),
        |s2 AS (
        | SELECT user_id, recency_days, frequency, monetary_cents,
        |  CASE WHEN rr <= n // 3 THEN 3 WHEN rr <= (2 * n) // 3 THEN 2 ELSE 1 END AS r_score,
        |  CASE WHEN rf <= n // 3 THEN 3 WHEN rf <= (2 * n) // 3 THEN 2 ELSE 1 END AS f_score,
        |  CASE WHEN rm <= n // 3 THEN 3 WHEN rm <= (2 * n) // 3 THEN 2 ELSE 1 END AS m_score
        | FROM sc)
        |SELECT user_id, recency_days, frequency, monetary_cents,
        | CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
        | CAST(m_score AS BIGINT) AS m_score,
        | CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment
        |FROM s2 ORDER BY user_id""".stripMargin,
    "dd_cluster_purity" ->
      s"""WITH RECURSIVE $jaccardPairsSql,
         |$clusterCompSql,
         |mem AS (SELECT comp.cluster AS cluster_id, d.source
         |        FROM comp JOIN documents d ON d.doc_id = comp.id),
         |ps AS (SELECT cluster_id, source, CAST(COUNT(*) AS BIGINT) AS ns
         |       FROM mem GROUP BY 1, 2)
         |SELECT cluster_id, CAST(SUM(ns) AS BIGINT) AS sz,
         |       CAST(COUNT(*) AS BIGINT) AS n_sources,
         |       CAST((1000000 * MAX(ns)) // SUM(ns) AS BIGINT) AS purity_ppm
         |FROM ps GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "a_conversion_latency" ->
      """WITH fc AS (
        | SELECT user_id, MIN(epoch_us(ts)) AS c_us
        | FROM events WHERE event_type = 'click' GROUP BY 1),
        |lat AS (
        | SELECT e.user_id,
        |        CAST(MIN(epoch_us(e.ts) - fc.c_us) // 1000000 AS BIGINT) AS lat_s
        | FROM events e JOIN fc ON fc.user_id = e.user_id
        | WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fc.c_us
        | GROUP BY 1),
        |r AS (SELECT lat_s,
        |             row_number() OVER (ORDER BY lat_s, user_id) AS rn,
        |             CAST(COUNT(*) OVER () AS BIGINT) AS n
        |      FROM lat)
        |SELECT n AS n_converted,
        |       CAST(SUM(lat_s) AS DOUBLE) / COUNT(*) AS median_latency_s
        |FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |GROUP BY n""".stripMargin,
    "dd_sigs_persisted" -> minhashAgainstSigsOracle("text"),
    "dd_sigs_upsert" -> minhashAgainstSigsOracle("text"),
    "dd_sigs_asof" -> minhashAgainstSigsOracle(
      "CASE WHEN doc_id % 9 = 0 THEN 'stale placeholder page content pending recrawl " +
        "nothing indexed here' ELSE text END"),
    "a_mode_source" ->
      """WITH c AS (
        | SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        | FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT lang, source, n,
        |             row_number() OVER (PARTITION BY lang ORDER BY n DESC, source) AS rk
        |      FROM c)
        |SELECT lang, source AS mode, n AS n_mode FROM r WHERE rk = 1
        |ORDER BY lang""".stripMargin,
    "w_fill_forward" ->
      """WITH daily AS (
        | SELECT source, DATE '2024-01-01' + CAST(doc_id % 7 AS INT) AS day,
        |        CAST(COUNT(*) AS BIGINT) AS n
        | FROM documents WHERE doc_id % 7 < 3 GROUP BY 1, 2),
        |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |grid AS (
        | SELECT k.source, g.day
        | FROM (SELECT DISTINCT source FROM daily) k
        | CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM span),
        |                                           (SELECT hi FROM span),
        |                                           INTERVAL 1 DAY))::DATE AS day) g)
        |SELECT grid.source, strftime(grid.day, '%Y-%m-%d') AS d, daily.n,
        |       last_value(daily.n IGNORE NULLS) OVER (
        |         PARTITION BY grid.source ORDER BY grid.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM grid LEFT JOIN daily ON daily.source = grid.source AND daily.day = grid.day
        |ORDER BY grid.source, d""".stripMargin,
    "a_spearman_daily" ->
      """WITH c AS (
        | SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        | FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (
        | SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |j AS (SELECT c.n AS va, p.n AS vb FROM c JOIN p USING (day)),
        |r AS (
        | SELECT
        |  CAST(2 * rank() OVER (ORDER BY va) + COUNT(*) OVER (PARTITION BY va) - 1 AS BIGINT) AS ra,
        |  CAST(2 * rank() OVER (ORDER BY vb) + COUNT(*) OVER (PARTITION BY vb) - 1 AS BIGINT) AS rb
        | FROM j),
        |a AS (
        | SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |        CAST(SUM(ra) AS BIGINT) AS sa, CAST(SUM(rb) AS BIGINT) AS sb,
        |        CAST(SUM(ra*ra) AS BIGINT) AS saa, CAST(SUM(rb*rb) AS BIGINT) AS sbb,
        |        CAST(SUM(ra*rb) AS BIGINT) AS sab
        | FROM r)
        |SELECT n_days,
        | CASE WHEN n_days >= 2 AND n_days*saa - sa*sa > 0 AND n_days*sbb - sb*sb > 0
        |  THEN CAST(round(1000000.0 * CAST(n_days*sab - sa*sb AS DOUBLE)
        |    / (sqrt(CAST(n_days*saa - sa*sa AS DOUBLE)) * sqrt(CAST(n_days*sbb - sb*sb AS DOUBLE)))) AS BIGINT)
        |  ELSE NULL END AS rho6
        |FROM a ORDER BY n_days""".stripMargin,
    "i_manifest_diff" -> {
      val h = sqlHash32(
        "CAST(event_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR) || ':' || event_type")
      s"""WITH oldm AS (
         | SELECT strftime(ts, '%Y-%m-%d') AS partition,
         |        CAST(count(*) AS BIGINT) AS n_old, CAST(bit_xor($h) AS BIGINT) AS xo
         | FROM events WHERE event_id % 4000 <> 7 GROUP BY 1),
         |newm AS (
         | SELECT strftime(ts, '%Y-%m-%d') AS partition,
         |        CAST(count(*) AS BIGINT) AS n_new, CAST(bit_xor($h) AS BIGINT) AS xn
         | FROM events WHERE ts < TIMESTAMP '2024-01-25' GROUP BY 1)
         |SELECT partition,
         | CASE WHEN n_old IS NULL THEN 'added'
         |      WHEN n_new IS NULL THEN 'removed'
         |      WHEN n_old = n_new AND xo = xn THEN 'unchanged'
         |      ELSE 'changed' END AS status,
         | n_old, n_new
         |FROM oldm FULL OUTER JOIN newm USING (partition)
         |ORDER BY partition""".stripMargin
    },
    "t_jsd_lang" ->
      """WITH toks AS (
        | SELECT lang AS g, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        | FROM documents WHERE length(trim(text)) > 0 AND lang IN ('en', 'fr')),
        |counts AS (
        | SELECT tok,
        |  CAST(SUM(CASE WHEN g = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN g = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS b
        | FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb FROM counts),
        |terms AS (
        | SELECT ta, tb,
        |  CAST(round(500000.0 * (
        |    CASE WHEN a > 0 THEN (CAST(a AS DOUBLE)/ta) * ln((CAST(a AS DOUBLE)/ta)
        |      / ((CAST(a AS DOUBLE)/ta + CAST(b AS DOUBLE)/tb) / 2.0)) ELSE 0.0 END +
        |    CASE WHEN b > 0 THEN (CAST(b AS DOUBLE)/tb) * ln((CAST(b AS DOUBLE)/tb)
        |      / ((CAST(a AS DOUBLE)/ta + CAST(b AS DOUBLE)/tb) / 2.0)) ELSE 0.0 END)) AS BIGINT) AS t6
        | FROM counts CROSS JOIN tot WHERE ta > 0 AND tb > 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_terms, ta AS n_tokens_a, tb AS n_tokens_b,
        |       CAST(SUM(t6) AS BIGINT) AS jsd6
        |FROM terms GROUP BY ta, tb ORDER BY n_terms""".stripMargin,
    "dd_dupe_rate_by_source" ->
      s"""WITH $jaccardPairsSql,
         |pid AS (SELECT id_a AS doc_id FROM pairs UNION SELECT id_b FROM pairs)
         |SELECT d.source,
         | CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(SUM(CASE WHEN pid.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_duped,
         | CAST((1000000 * SUM(CASE WHEN pid.doc_id IS NOT NULL THEN 1 ELSE 0 END))
         |   // COUNT(*) AS BIGINT) AS dup_ppm
         |FROM documents d LEFT JOIN pid ON pid.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "a_chi2_lang_source" ->
      """WITH cells AS (
        | SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS n
        | FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        |rows_ AS (SELECT a, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY 1),
        |cols_ AS (SELECT b, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |               CAST(COUNT(DISTINCT a) AS BIGINT) AS na,
        |               CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM cells),
        |grid AS (
        | SELECT r.a, c.b, r.r, c.c, CAST(COALESCE(cl.n, 0) AS BIGINT) AS n
        | FROM rows_ r CROSS JOIN cols_ c
        | LEFT JOIN cells cl ON cl.a = r.a AND cl.b = c.b),
        |terms AS (
        | SELECT t.nn, t.na, t.nb,
        |   (CAST(1000000 AS HUGEINT)
        |     * CAST(t.nn * g.n - g.r * g.c AS HUGEINT)
        |     * CAST(t.nn * g.n - g.r * g.c AS HUGEINT))
        |   // (CAST(t.nn AS HUGEINT) * g.r * g.c) AS term6
        | FROM grid g CROSS JOIN tot t)
        |SELECT nn AS n_rows, na AS n_a, nb AS n_b,
        | (na - 1) * (nb - 1) AS dof,
        | CASE WHEN na > 1 AND nb > 1 THEN CAST(SUM(term6) AS BIGINT) ELSE 0 END AS chi26,
        | CASE WHEN na > 1 AND nb > 1 THEN
        |   CAST(round(1000 * sqrt(CAST(SUM(term6) AS DOUBLE)
        |     / CAST(nn * least(na - 1, nb - 1) AS DOUBLE))) AS BIGINT)
        |   ELSE 0 END AS cramer_v6
        |FROM terms GROUP BY nn, na, nb ORDER BY n_rows""".stripMargin,
    "a_simpson_diversity" ->
      """WITH cl AS (
        | SELECT source AS g, lang AS c2, CAST(COUNT(*) AS BIGINT) AS n
        | FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |             CAST(SUM(n * (n - 1)) AS BIGINT) AS pairs FROM cl GROUP BY 1)
        |SELECT g AS source, n, n_classes,
        | CAST((1000000 * pairs) // (n * (n - 1)) AS BIGINT) AS simpson6
        |FROM g WHERE n >= 2 ORDER BY source""".stripMargin,
    "a_hhi_concentration" ->
      """WITH base AS (
        | SELECT r_name, n_name FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | WHERE r_name IS NOT NULL AND n_name IS NOT NULL),
        |cl AS (SELECT r_name AS g, n_name AS c2, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM base GROUP BY 1, 2),
        |g AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |             CAST(SUM(n * n) AS BIGINT) AS sq FROM cl GROUP BY 1)
        |SELECT g AS r_name, n, n_classes,
        | CAST((1000000 * sq) // (n * n) AS BIGINT) AS hhi6
        |FROM g ORDER BY r_name""".stripMargin,
    // same tokenize pass; the r/r+1 self-join on the rank grid,
    // HUGEINT divisions
    // same tokenize; the (doc, term) -> term two-level aggregate,
    // top-30 by n with the term tiebreak
    "t_burstiness" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE length(trim(text)) > 0 AND doc_id IS NOT NULL),
        |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM base),
        |toks AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM base),
        |dt AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2),
        |tt AS (SELECT term, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY 1)
        |SELECT term, n, df,
        |  CAST((CAST(1000000 AS HUGEINT) * n) // df AS BIGINT) AS burst6,
        |  CAST((CAST(1000000 AS HUGEINT) * df) // nd.n_docs AS BIGINT)
        |    AS doc_share_ppm
        |FROM tt, nd ORDER BY n DESC, term LIMIT 30""".stripMargin,
    "t_good_turing" ->
      """WITH d AS (SELECT regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |toks AS (SELECT tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS tok
        |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) g
        |  WHERE len(tk) >= 3),
        |f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM f),
        |cells AS (SELECT n AS r, CAST(COUNT(*) AS BIGINT) AS n_r
        |  FROM f WHERE n <= 11 GROUP BY 1),
        |body AS (SELECT c.r, c.n_r,
        |    CAST((CAST(1000000 AS HUGEINT) * c.r * c.n_r) // t.nn AS BIGINT)
        |      AS mass_ppm,
        |    CAST((CAST(1000000 AS HUGEINT) * (c.r + 1) * COALESCE(nx.n_r, 0))
        |         // c.n_r AS BIGINT) AS r_star6
        |  FROM cells c LEFT JOIN cells nx ON nx.r = c.r + 1 CROSS JOIN t
        |  WHERE c.r <= 10),
        |zero AS (SELECT CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS n_r,
        |    CAST((CAST(1000000 AS HUGEINT)
        |          * COALESCE((SELECT n_r FROM cells WHERE r = 1), 0))
        |         // t.nn AS BIGINT) AS mass_ppm,
        |    CAST(0 AS BIGINT) AS r_star6
        |  FROM t)
        |SELECT * FROM zero UNION ALL SELECT * FROM body ORDER BY r""".stripMargin,
    "t_ttr_hapax" ->
      """WITH toks AS (
        | SELECT lang AS g, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        | FROM documents WHERE length(trim(text)) > 0 AND lang IS NOT NULL),
        |f AS (SELECT g, tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1, 2),
        |a AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |             CAST(COUNT(*) AS BIGINT) AS n_types,
        |             CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |      FROM f GROUP BY 1)
        |SELECT g AS lang, n_tokens, n_types, n_hapax,
        | CAST((1000000 * n_types) // n_tokens AS BIGINT) AS ttr_ppm,
        | CAST((1000000 * n_hapax) // n_types AS BIGINT) AS hapax_ppm
        |FROM a ORDER BY lang""".stripMargin,
    "w_transitions" ->
      """WITH seq AS (
        | SELECT event_type AS from_state,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
        | FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |p AS (SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS rt FROM p GROUP BY 1)
        |SELECT p.from_state, p.to_state, p.n,
        | CAST((1000000 * p.n) // rt.rt AS BIGINT) AS p6
        |FROM p JOIN rt USING (from_state) ORDER BY from_state, to_state""".stripMargin,
    "s_quota_lr" ->
      """WITH s AS (
        | SELECT lang AS stratum, CAST(COUNT(*) AS BIGINT) AS n
        | FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM s),
        |b AS (SELECT stratum, n, CAST((100 * n) // nn AS BIGINT) AS base,
        |             CAST((100 * n) % nn AS BIGINT) AS rem
        |      FROM s CROSS JOIN t),
        |l AS (SELECT CAST(100 - SUM(base) AS BIGINT) AS leftover FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, stratum) AS rk FROM b)
        |SELECT stratum, n,
        | CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM r CROSS JOIN l ORDER BY stratum""".stripMargin,
    "g_common_neighbors" ->
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |e0 AS (SELECT a.p AS id_a, b.p AS id_b FROM op a JOIN op b USING (o)
         |       WHERE a.p < b.p),
         |ew AS (SELECT id_a, id_b, COUNT(*) AS w FROM e0 GROUP BY 1, 2),
         |pairs AS (SELECT id_a, id_b FROM ew WHERE w >= 2),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |deg AS (SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
         |w AS (SELECT e1.a AS u, e2.b AS v, CAST(COUNT(*) AS BIGINT) AS common
         |      FROM edges e1 JOIN edges e2 ON e1.b = e2.a
         |      WHERE e1.a < e2.b GROUP BY 1, 2),
         |nonedge AS (SELECT w.* FROM w
         |            LEFT JOIN edges e ON e.a = w.u AND e.b = w.v
         |            WHERE e.a IS NULL)
         |SELECT u AS id_a, v AS id_b, common,
         | CAST((1000000 * common) // (da.deg + db.deg - common) AS BIGINT) AS jac6
         |FROM nonedge
         |JOIN deg da ON da.id = u JOIN deg db ON db.id = v
         |WHERE common >= 2
         |ORDER BY id_a, id_b""".stripMargin,
    "s10_risk_roundtrip" ->
      """SELECT event_id, user_id, event_type,
        | CAST(round(value * 100) AS BIGINT) AS value_cents,
        | strftime(ts, '%Y-%m-%d') AS date
        |FROM events
        |WHERE value > 140.0 AND ts IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "s11_payload_roundtrip" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        | CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "s6_source_map" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS company_id,
        | CAST(3 + (n_nationkey % 4) AS BIGINT) AS n_tokens,
        | CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_name END AS org_name,
        | CAST(n_nationkey * 7 + 10 AS BIGINT) AS employees,
        | CAST(2 AS BIGINT) AS n_table_rows,
        | CAST(n_nationkey * 200 + 50 AS BIGINT) AS rev_total,
        | CAST(2 - (n_nationkey % 2) AS BIGINT) AS n_jobs
        |FROM nation ORDER BY company_id""".stripMargin,
    "c14_mined_jobs" ->
      """SELECT p_partkey, 'Dept ' || CAST(p_partkey AS VARCHAR) AS title,
        |       'Platform' AS department, CAST(NULL AS VARCHAR) AS url
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 'Engineer ' || CAST(p_partkey AS VARCHAR),
        |       NULL, 'https://jobs/' || CAST(p_partkey AS VARCHAR)
        |FROM part
        |ORDER BY p_partkey, title""".stripMargin,
    "c15_html_tables" ->
      """SELECT n_nationkey, 'Stats' AS caption, 'name|key' AS headers,
        | n_name || '|' || CAST(n_nationkey AS VARCHAR) || ';x|y' AS rows_csv
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "c16_html_facets" ->
      """SELECT doc_id,
        | 'Doc ' || CAST(doc_id AS VARCHAR) AS title,
        | 'about-' || lang AS meta_desc,
        | '/home,https://ext.example.org/x-' || CAST(doc_id AS VARCHAR) ||
        |   ',/,/docs/' || CAST(doc_id AS VARCHAR) ||
        |   ',/blog/a-' || CAST(doc_id AS VARCHAR) || ',/privacy' AS links_csv,
        | '/img/' || CAST(doc_id AS VARCHAR) || '.png' AS images_csv,
        | 'Doc ' || CAST(doc_id AS VARCHAR) ||
        |   ' Home Partners Root Here Email address read Hello world Privacy' AS text_content,
        | CAST(2 AS BIGINT) AS n_scripts,
        | 'https://cdn.example.com/app-' || CAST(doc_id AS VARCHAR) || '.js' AS script_srcs_csv,
        | CAST(1 AS BIGINT) AS script_async_count,
        | CAST(1 AS BIGINT) AS script_json_count,
        | '/subscribe' AS form_action,
        | 'POST' AS form_method,
        | 'email:email:Email address:true,submit:::false' AS form_fields_csv,
        | 'Home@https://docs.example.com/home,Partners@https://ext.example.org/x-' ||
        |   CAST(doc_id AS VARCHAR) AS main_nav_csv,
        | 'Privacy@https://docs.example.com/privacy' AS footer_csv,
        | 'Root@https://docs.example.com/,Here@https://docs.example.com/docs/' ||
        |   CAST(doc_id AS VARCHAR) AS breadcrumbs_csv,
        | CAST(6 AS BIGINT) AS total_links,
        | CAST(5 AS BIGINT) AS internal_links,
        | CAST(1 AS BIGINT) AS external_links,
        | CAST(1 AS BIGINT) AS total_images,
        | CAST(1 AS BIGINT) AS total_forms,
        | CAST(0 AS BIGINT) AS total_tables,
        | CAST(12 AS BIGINT) AS word_count
        |FROM documents ORDER BY doc_id""".stripMargin,
    // per-sub best codeword (the pq tie-break), per-term micro
    // rounding, integer mean
    "v_pq_error" ->
      s"""WITH cents AS (
         | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, embedding AS ce
         | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
         |scored AS (
         | SELECT e.vec_id, gs.s, c.cell,
         |        ${sqlCosine("e.embedding[(gs.s*8+1):(gs.s*8+8)]", "c.ce[(gs.s*8+1):(gs.s*8+8)]")} AS sim
         | FROM embeddings e CROSS JOIN cents c
         | CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) gs
         | WHERE e.vec_id <> 0),
         |best AS (
         | SELECT vec_id, s, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY sim DESC, cell DESC) AS rn
         |  FROM scored) WHERE rn = 1),
         |e AS (SELECT s, CAST(round((1.0 - sim) * 1e6, 0) AS BIGINT) AS e6 FROM best)
         |SELECT CAST(s AS BIGINT) AS sub, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(CAST(sum(e6) AS BIGINT) // count(*) AS BIGINT) AS err6_avg
         |FROM e GROUP BY 1 ORDER BY sub""".stripMargin,
    // nearest-centroid assignment with the ivf tie-break (sim desc,
    // cell desc), then the bottom-20 by similarity
    "v_ood_queue" ->
      s"""WITH cents AS (
         | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, embedding AS ce
         | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
         |scored AS (
         | SELECT e.vec_id, c.cell, ${sqlCosine("e.embedding", "c.ce")} AS sim
         | FROM embeddings e CROSS JOIN cents c WHERE e.vec_id <> 0),
         |best AS (
         | SELECT vec_id, cell, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
         |  FROM scored) WHERE rn = 1)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell, sim AS best_sim
         |FROM best ORDER BY best_sim ASC, vec_id LIMIT 20""".stripMargin,
    // the identical integer power-iteration rounds; tdiv emulates
    // truncation toward zero (DuckDB // floors negatives)
    "v_power_iter" -> {
      def tdiv(x: String, y: String) =
        s"CASE WHEN $x >= 0 THEN $x // $y ELSE -((-($x)) // $y) END"
      val rounds = (1 to 4).map { r =>
        val pv = if (r == 1) "v0" else s"v${r - 1}"
        s"""s${r}r AS MATERIALIZED (SELECT id, CAST(sum(q * val) AS BIGINT) AS sraw
           |  FROM a JOIN $pv USING (dim) GROUP BY id),
           |s$r AS (SELECT id, CAST(${tdiv("sraw", "1000")} AS BIGINT) AS sp FROM s${r}r),
           |w$r AS MATERIALIZED (SELECT dim, CAST(sum(q * sp) AS BIGINT) AS w
           |  FROM a JOIN s$r USING (id) GROUP BY dim),
           |m$r AS (SELECT greatest(1, CAST(max(abs(w)) AS BIGINT) // 1000000) AS md FROM w$r),
           |v$r AS (SELECT dim, CAST(${tdiv("w", "md")} AS BIGINT) AS val FROM w$r, m$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH a AS MATERIALIZED (
         |  SELECT vec_id AS id, u.d AS dim,
         |         CAST(round(CAST(u.e AS DOUBLE) * 1000, 0) AS BIGINT) AS q
         |  FROM (SELECT vec_id, unnest(list_transform(generate_series(1, len(embedding)),
         |          i -> {'d': CAST(i AS BIGINT), 'e': embedding[i]})) AS u
         |        FROM embeddings WHERE embedding IS NOT NULL)),
         |v0 AS (SELECT DISTINCT dim, CAST(1000000 AS BIGINT) AS val FROM a),
         |$rounds
         |SELECT dim, val AS v6 FROM v4 ORDER BY dim""".stripMargin
    },
    // both matryoshka stages replayed: prefix-slice cosine shortlist
    // of 50 (ties on vec_id), exact full-width rerank of the
    // shortlist only
    "v_matryoshka" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pre AS (SELECT vec_id, embedding,
         |          ${sqlCosine("embedding[1:8]", "qe[1:8]")} AS prefix_score
         |        FROM embeddings, q WHERE vec_id <> 0),
         |short AS (SELECT vec_id, embedding, prefix_score FROM (
         |   SELECT *, row_number() OVER (ORDER BY prefix_score DESC, vec_id) AS rn FROM pre)
         |   WHERE rn <= 50)
         |SELECT vec_id, prefix_score, ${sqlCosine("embedding", "qe")} AS score
         |FROM short, q
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "v_ivf_topk" -> ivfTopkOracle,
    // identical semantics to v_ivf_topk by construction: the persisted
    // index must round-trip to the same assignment and ranking
    "v_ivf_persisted" -> ivfTopkOracle,
    // tombstones applied: effective corpus = all except deleted-and-
    // not-restored (del %7 at seq 1, restore %14 at seq 2)
    "v_ivf_delete" ->
      ivfTopkOracleFor("b.vec_id <> 0 AND NOT (b.vec_id % 7 = 0 AND b.vec_id % 14 <> 0)"),
    // compaction must preserve the effective corpus exactly
    "v_ivf_compacted" ->
      ivfTopkOracleFor("b.vec_id <> 0 AND NOT (b.vec_id % 7 = 0 AND b.vec_id % 14 <> 0)"),
    // ditto for the upserted index: stale versions written at seq 0
    // are fully replaced by the seq-1 upsert, so the effective corpus
    // IS the plain embeddings table
    "v_ivf_upsert" -> ivfTopkOracle,
    // the as-of-0 read serves the pre-upsert state: the oracle runs
    // the same probe over the corpus with the stale (reversed)
    // vectors the base index was deliberately built from
    "v_ivf_asof" -> {
      val be = "CASE WHEN b.vec_id % 5 = 0 THEN list_reverse(b.embedding) ELSE b.embedding END"
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cents AS (
         | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, embedding AS ce
         | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
         |stale AS (SELECT b.vec_id, b.label, $be AS embedding
         |          FROM embeddings b WHERE b.vec_id <> 0),
         |scored AS (
         | SELECT b.vec_id, b.label, b.embedding, c.cell,
         |        ${sqlCosine("b.embedding", "c.ce")} AS sim
         | FROM stale b CROSS JOIN cents c),
         |assign AS (
         | SELECT vec_id, label, embedding, cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
         |  FROM scored) WHERE rn = 1),
         |probe AS (
         | SELECT cell FROM (
         |  SELECT c.cell, ${sqlCosine("c.ce", "q.qe")} AS sim FROM cents c, q
         |  ORDER BY sim DESC, cell ASC LIMIT 2))
         |SELECT a.vec_id, a.label, a.cell, ${sqlCosine("a.embedding", "q.qe")} AS score
         |FROM assign a, q
         |WHERE a.cell IN (SELECT cell FROM probe)
         |ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin
    },
    "v_lsh_pairs" -> {
      val bucketExpr = lshPlanes.map(p => sqlLshBit("embedding", p)).mkString(" || ")
      s"""WITH sig AS (
         | SELECT vec_id, embedding, $bucketExpr AS lsh_bucket FROM embeddings)
         |SELECT id_a, id_b, score FROM (
         | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |        ${sqlCosine("a.embedding", "b.embedding")} AS score
         | FROM sig a JOIN sig b ON a.lsh_bucket = b.lsh_bucket AND a.vec_id < b.vec_id)
         |WHERE score >= 0.25 ORDER BY id_a, id_b""".stripMargin
    },
    "v_lsh_topk" -> {
      val sigE = lshPlanes.map(p => sqlLshBit("embedding", p)).mkString(" || ")
      val sigQ = lshPlanes.map(p => sqlLshBit("q.qe", p)).mkString(" || ")
      val ham = (1 to LshBits)
        .map(i => s"(CASE WHEN substring(s, $i, 1) = substring(qsv, $i, 1) THEN 0 ELSE 1 END)")
        .mkString(" + ")
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |qs AS (SELECT $sigQ AS qsv FROM q),
         |sig AS (SELECT vec_id, label, embedding, $sigE AS s FROM embeddings WHERE vec_id <> 0),
         |cand AS (SELECT vec_id, label, embedding FROM sig, qs WHERE $ham <= 1)
         |SELECT vec_id, label, score FROM (
         | SELECT c.vec_id, c.label, ${sqlCosine("c.embedding", "q.qe")} AS score FROM cand c, q)
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    },
    "v_lsh_topk_banded" -> {
      val sigE = lshBandPlanes.map(p => sqlLshBit("embedding", p)).mkString(" || ")
      val sigQ = lshBandPlanes.map(p => sqlLshBit("q.qe", p)).mkString(" || ")
      val anyBand = (0 until LshBands)
        .map(b =>
          s"substring(s, ${b * LshBandBits + 1}, $LshBandBits) = " +
            s"substring(qsv, ${b * LshBandBits + 1}, $LshBandBits)")
        .mkString(" OR ")
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |qs AS (SELECT $sigQ AS qsv FROM q),
         |sig AS (SELECT vec_id, label, embedding, $sigE AS s FROM embeddings WHERE vec_id <> 0),
         |cand AS (SELECT vec_id, label, embedding FROM sig, qs WHERE $anyBand)
         |SELECT vec_id, label, score FROM (
         | SELECT c.vec_id, c.label, ${sqlCosine("c.embedding", "q.qe")} AS score FROM cand c, q)
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    },
    "v_lsh_topk_probed" -> {
      val sigE = lshBandPlanes.map(p => sqlLshBit("embedding", p)).mkString(" || ")
      val sigQ = lshBandPlanes.map(p => sqlLshBit("q.qe", p)).mkString(" || ")
      // per-band hamming <= 1 — the multiprobe predicate, bit by bit
      val anyBand = (0 until LshBands)
        .map { b =>
          "(" + (0 until LshBandBits).map { i =>
            val pos = b * LshBandBits + i + 1
            s"(CASE WHEN substring(s, $pos, 1) = substring(qsv, $pos, 1) THEN 0 ELSE 1 END)"
          }.mkString(" + ") + ") <= 1"
        }
        .mkString(" OR ")
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |qs AS (SELECT $sigQ AS qsv FROM q),
         |sig AS (SELECT vec_id, label, embedding, $sigE AS s FROM embeddings WHERE vec_id <> 0),
         |cand AS (SELECT vec_id, label, embedding FROM sig, qs WHERE $anyBand)
         |SELECT vec_id, label, score FROM (
         | SELECT c.vec_id, c.label, ${sqlCosine("c.embedding", "q.qe")} AS score FROM cand c, q)
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    },
    // same projection ranks, same exact-cosine top-10 reference
    "v_recall_curve" -> {
      val signs = Similarity.rpSigns(64, 16)
        .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
      s"""WITH s AS (SELECT $signs AS m),
         |qv AS (SELECT vec_id, embedding,
         |         list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
         |       FROM embeddings WHERE embedding IS NOT NULL),
         |rp AS (SELECT vec_id, embedding,
         |         list_transform(generate_series(1, 16), j ->
         |           list_reduce(list_transform(generate_series(1, 64), i -> m[j][i] * q[i]),
         |                       (a, b) -> a + b)) AS rp
         |       FROM qv, s),
         |qq AS (SELECT rp AS qrp, embedding AS qe FROM rp WHERE vec_id = 0),
         |pd AS (SELECT r.vec_id, r.embedding,
         |         list_reduce(list_transform(generate_series(1, 16), j -> r.rp[j] * qq.qrp[j]),
         |                     (a, b) -> a + b) AS pscore,
         |         ${sqlCosine("r.embedding", "qq.qe")} AS score
         |       FROM rp r, qq WHERE r.vec_id <> 0),
         |rkd AS (SELECT vec_id, score,
         |          row_number() OVER (ORDER BY pscore DESC, vec_id) AS prank
         |        FROM pd),
         |ext AS (SELECT vec_id FROM rkd ORDER BY score DESC, vec_id LIMIT 10),
         |sz AS (SELECT CAST(unnest([40, 80, 150, 200]) AS BIGINT) AS shortlist),
         |h AS (SELECT sz.shortlist, CAST(count(r2.vec_id) AS BIGINT) AS n_hits
         |      FROM sz LEFT JOIN (SELECT rkd.prank, rkd.vec_id FROM rkd
         |                         JOIN ext ON ext.vec_id = rkd.vec_id) r2
         |        ON r2.prank <= sz.shortlist
         |      GROUP BY 1)
         |SELECT shortlist, n_hits,
         |       CAST(1000000 * n_hits // 10 AS BIGINT) AS recall_ppm
         |FROM h ORDER BY shortlist""".stripMargin
    },
    // the identical ±1 sign matrix (Similarity.rpSigns) as a 2D SQL
    // literal; quantize/round parity follows the v_int8_quant idiom
    "v_rp_topk" -> {
      val signs = Similarity.rpSigns(64, 16)
        .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
      s"""WITH s AS (SELECT $signs AS m),
         |qv AS (SELECT vec_id, embedding,
         |         list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
         |       FROM embeddings WHERE embedding IS NOT NULL),
         |rp AS (SELECT vec_id, embedding,
         |         list_transform(generate_series(1, 16), j ->
         |           list_reduce(list_transform(generate_series(1, 64), i -> m[j][i] * q[i]),
         |                       (a, b) -> a + b)) AS rp
         |       FROM qv, s),
         |qq AS (SELECT rp AS qrp, embedding AS qe FROM rp WHERE vec_id = 0),
         |pd AS (SELECT r.vec_id, r.embedding,
         |         list_reduce(list_transform(generate_series(1, 16), j -> r.rp[j] * qq.qrp[j]),
         |                     (a, b) -> a + b) AS pscore
         |       FROM rp r, qq WHERE r.vec_id <> 0),
         |cand AS (SELECT vec_id, embedding, pscore FROM pd
         |         ORDER BY pscore DESC, vec_id LIMIT 150)
         |SELECT vec_id, pscore, score FROM (
         |  SELECT c.vec_id, c.pscore, ${sqlCosine("c.embedding", "qq.qe")} AS score
         |  FROM cand c, qq)
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    },
    "v_lsh_banded" -> {
      val sigExpr = lshBandPlanes.map(p => sqlLshBit("embedding", p)).mkString(" || ")
      s"""WITH sig AS (
         | SELECT vec_id, embedding, $sigExpr AS sig FROM embeddings),
         |banded AS (
         | SELECT vec_id, gs.band, substring(sig, gs.band * $LshBandBits + 1, $LshBandBits) AS bucket
         | FROM sig, (SELECT unnest(generate_series(0, ${LshBands - 1})) AS band) gs),
         |cand AS (
         | SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         | FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
         |  AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, score FROM (
         | SELECT c.id_a, c.id_b, ${sqlCosine("ea.embedding", "eb.embedding")} AS score
         | FROM cand c
         | JOIN embeddings ea ON ea.vec_id = c.id_a
         | JOIN embeddings eb ON eb.vec_id = c.id_b)
         |WHERE score >= 0.25 ORDER BY id_a, id_b""".stripMargin
    },
    "dd_semdedup" ->
      s"""WITH RECURSIVE $semdedupCompCtes
         |SELECT e.vec_id, e.label
         |FROM embeddings e LEFT JOIN comp ON comp.id = e.vec_id
         |WHERE comp.id IS NULL OR comp.cluster = e.vec_id
         |ORDER BY e.vec_id""".stripMargin,
    // same clusters; survivor = medoid (max intra-cluster micro-unit
    // cosine sum, ties to smallest id) instead of smallest id
    "dd_medoid" ->
      s"""WITH RECURSIVE $semdedupCompCtes,
         |mm AS (SELECT c.id, c.cluster, e.embedding FROM comp c
         |       JOIN embeddings e ON e.vec_id = c.id),
         |ip AS (SELECT a.cluster, a.id AS ia,
         |         CAST(round(${sqlCosine("a.embedding", "b.embedding")} * 1000000) AS BIGINT) AS s6
         |       FROM mm a JOIN mm b ON a.cluster = b.cluster AND a.id <> b.id),
         |tt AS (SELECT cluster, ia AS id, CAST(SUM(s6) AS BIGINT) AS t6 FROM ip GROUP BY 1, 2),
         |med AS (SELECT id FROM (
         |  SELECT cluster, id, row_number() OVER (PARTITION BY cluster ORDER BY t6 DESC, id) AS rn
         |  FROM tt) WHERE rn = 1)
         |SELECT e.vec_id, e.label
         |FROM embeddings e LEFT JOIN comp ON comp.id = e.vec_id
         |WHERE comp.id IS NULL OR e.vec_id IN (SELECT id FROM med)
         |ORDER BY e.vec_id""".stripMargin,
    "v_pq_codes" -> {
      // sub = slice s of a vector; fold cosine over the 8-dim slices
      def subSlice(v: String, s: String) = s"$v[($s*8+1):($s*8+8)]"
      val cos = sqlCosine("sub_v", "sub_c")
      s"""WITH cents AS (
         | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, embedding AS ce
         | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
         |scored AS (
         | SELECT e.vec_id, gs.s, c.cell,
         |        ${subSlice("e.embedding", "gs.s")} AS sub_v,
         |        ${subSlice("c.ce", "gs.s")} AS sub_c
         | FROM embeddings e
         | CROSS JOIN cents c
         | CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) gs),
         |best AS (
         | SELECT vec_id, s, cell FROM (
         |  SELECT vec_id, s, cell,
         |         row_number() OVER (PARTITION BY vec_id, s ORDER BY $cos DESC, cell DESC) AS rn
         |  FROM scored) WHERE rn = 1)
         |SELECT vec_id, string_agg(CAST(cell AS VARCHAR), ',' ORDER BY s) AS codes_csv
         |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },
    "t_bm25" ->
      s"""WITH ${bm25Sql(Seq("data", "join"))}
         |SELECT doc_id, bm25 FROM bm ORDER BY doc_id""".stripMargin,
    // index-resident BM25: same scores over the INDEXED universe
    // (non-empty docs — the only rows an inverted index contains)
    "r_bm25_persisted" ->
      s"""WITH ${bm25Sql(Seq("data", "join"), "length(trim(text)) > 0")}
         |SELECT doc_id, bm25 FROM bm ORDER BY doc_id""".stripMargin,
    "r_hybrid_rrf" -> hybridRrfOracle("TRUE"),
    "r_rbo" -> rboOracle,
    // hybrid with the lexical leg off the persisted postings index —
    // BM25 over the indexed (non-empty-doc) universe
    "r_hybrid_persisted" -> hybridRrfOracle("length(trim(text)) > 0"),
    "i5_weekly_users" ->
      """SELECT strftime(make_timestamp((epoch_us(ts) // 604800000000) * 604800000000), '%Y-%m-%d') AS week_start,
        | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY week_start ORDER BY week_start""".stripMargin,
    "c12_json_array" ->
      """SELECT doc_id, 'a' AS t, CAST(doc_id % 7 AS BIGINT) AS v FROM documents
        |UNION ALL
        |SELECT doc_id, 'b', CAST(doc_id % 3 AS BIGINT) FROM documents
        |ORDER BY doc_id, t""".stripMargin,
    "w_cumulative_revenue" ->
      """WITH daily AS (
        | SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |        CAST(SUM(CAST(CAST(o_totalprice * 100 AS DECIMAL(18,0)) AS BIGINT)) AS BIGINT) AS day_cents
        | FROM orders GROUP BY day)
        |SELECT day, CAST(day_cents AS DOUBLE) / 100.0 AS day_revenue,
        |       CAST(SUM(day_cents) OVER (ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS cum_revenue
        |FROM daily ORDER BY day""".stripMargin,
    "w_sessionize" ->
      """WITH g AS (
        | SELECT user_id, event_id, ts,
        |        epoch_us(ts) - epoch_us(lag(ts, 1) OVER
        |          (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        | FROM events),
        |s AS (
        | SELECT user_id, event_id, ts,
        |        CASE WHEN gap_us IS NULL OR gap_us > 3600000000 THEN 1 ELSE 0 END AS new_sess
        | FROM g),
        |sid AS (
        | SELECT user_id,
        |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        | FROM s)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM sid GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "a_median" ->
      """SELECT l_returnflag, median(l_quantity) AS median_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "a_salted_sum" ->
      """SELECT event_type,
        | CAST(SUM(CAST(CAST(value * 100 AS DECIMAL(18,0)) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
        | CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a_histogram" ->
      """SELECT least(CAST(floor(o_totalprice / 50000.0) AS BIGINT), 9) AS bin,
        | CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY bin ORDER BY bin""".stripMargin,
    "t_token_rank" ->
      """WITH terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |               FROM documents WHERE length(trim(text)) > 0),
        |ranked AS (SELECT term, CAST(row_number() OVER (ORDER BY count(*) DESC, term) AS BIGINT) AS rank
        |           FROM terms GROUP BY term),
        |agg AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |               CAST(sum(r.rank) AS BIGINT) AS rank_sum
        |        FROM terms t JOIN ranked r USING (term) GROUP BY 1)
        |SELECT doc_id, n_tokens,
        |       CAST(rank_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_rank
        |FROM agg ORDER BY doc_id""".stripMargin,
    "t_mad_outliers" ->
      """WITH med AS (SELECT source, median(n_chars) AS med FROM documents GROUP BY 1),
        |dev AS (SELECT d.doc_id, d.source, d.n_chars,
        |               abs(CAST(d.n_chars AS DOUBLE) - m.med) AS dev
        |        FROM documents d JOIN med m USING (source)),
        |mad AS (SELECT source, median(dev) AS mad FROM dev GROUP BY 1)
        |SELECT v.doc_id, v.source, v.n_chars, v.dev, a.mad
        |FROM dev v JOIN mad a USING (source)
        |WHERE a.mad > 0.0 AND v.dev > CAST(3.0 AS DOUBLE) * a.mad
        |ORDER BY v.doc_id""".stripMargin,
    "t_oov_rate" ->
      // the length-guard keeps empty docs out on BOTH sides: DuckDB's
      // split of '' yields [''] (one token) where the engine's guarded
      // tokens() yields []
      """WITH terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |               FROM documents WHERE length(trim(text)) > 0),
        |vocab AS (SELECT term FROM (SELECT term, count(*) AS tf FROM terms GROUP BY 1
        |          ORDER BY tf DESC, term LIMIT 100)),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM terms GROUP BY 1),
        |oov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_oov FROM terms
        |        WHERE term NOT IN (SELECT term FROM vocab) GROUP BY 1)
        |SELECT t.doc_id, t.n_tokens, COALESCE(o.n_oov, 0) AS n_oov,
        |  CAST(COALESCE(o.n_oov, 0) AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS oov_rate
        |FROM tot t LEFT JOIN oov o USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "t_tfidf" ->
      """WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |terms AS (
        | SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |       round(CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 6) AS tfidf
        |FROM tf JOIN df ON tf.term = df.term, n
        |ORDER BY tf.doc_id, tf.term""".stripMargin,
    // weights quantize to 1e4 fixed-point BIGINTs before any sum —
    // dot and norms are exact integer aggregations on both engines
    "dd_tfidf_pairs" ->
      """WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |terms AS (
        | SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term HAVING COUNT(*) <= 100),
        |w AS (SELECT tf.term, tf.doc_id,
        |        CAST(round(CAST(tf.tf AS DOUBLE) *
        |          ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) * 10000) AS BIGINT) AS w4
        |      FROM tf JOIN df ON tf.term = df.term, n),
        |nrm AS (SELECT doc_id, CAST(sum(w4 * w4) AS BIGINT) AS nrm FROM w GROUP BY 1),
        |dot AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |          CAST(sum(a.w4 * b.w4) AS BIGINT) AS dot
        |        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cos
        |FROM dot JOIN nrm na ON na.doc_id = id_a JOIN nrm nb ON nb.doc_id = id_b
        |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "dd_fuzzy_match" ->
      s"""WITH $fuzzyPairsSql
         |SELECT id_a, id_b, lev FROM pairs ORDER BY id_a, id_b""".stripMargin,
    // blocking → scoring → transitive clustering → golden record, the
    // full ER pipeline; comp reuses the shared connected-components
    // fragment over the shared fuzzy pairs
    "er_golden" ->
      s"""WITH RECURSIVE $fuzzyPairsSql,
         |$clusterCompSql,
         |lab AS (SELECT al.id, al.name, COALESCE(comp.cluster, al.id) AS cluster_id
         |        FROM al LEFT JOIN comp ON comp.id = al.id)
         |SELECT cluster_id, min_by(name, id) AS canonical_name,
         |       CAST(count(*) AS BIGINT) AS n_members
         |FROM lab GROUP BY 1 ORDER BY cluster_id""".stripMargin,
    // recomputed expectation: pre-1996 rows have no priority column
    "i_schema_merge" ->
      """SELECT CASE WHEN o_orderdate >= DATE '1996-01-01' THEN o_orderpriority
        |            ELSE '-' END AS priority,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // every input from the same shared fragments the per-gate oracles
    // use: langIdSql, qualitySql/stopHitsSql, the md5 fingerprint
    "t_datasheet" -> {
      val tk = "regexp_split_to_array(trim(text),'\\s+')"
      s"""WITH b AS (SELECT doc_id, source,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tk) END AS nt,
         |  ${TextAnalysis.langIdSql(SparkEntry.langMarkers, tk)} AS lang_pred,
         |  CAST(length(text) AS DOUBLE) AS nc,
         |  CAST(len($tk) AS DOUBLE) AS ntq,
         |  ${TextAnalysis.stopHitsSql(SparkEntry.qualityStops, tk)} AS ns,
         |  md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
         |  length(trim(text)) = 0 AS is_empty
         |FROM documents),
         |q AS (SELECT b.*, ${TextAnalysis.qualitySql("nc", "ntq", "ns")} AS quality FROM b),
         |d AS (SELECT fp FROM q GROUP BY fp HAVING count(*) > 1),
         |f AS (SELECT q.*, d.fp IS NOT NULL AS is_dup FROM q LEFT JOIN d ON q.fp = d.fp),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN is_empty THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(count(DISTINCT lang_pred) AS BIGINT) AS n_langs_pred,
         |  CAST(sum(CASE WHEN quality < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
         |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup_docs
         |FROM f)
         |SELECT *,
         |  CAST(1000000 * n_low_quality // n_docs AS BIGINT) AS low_quality_ppm,
         |  CAST(1000000 * n_exact_dup_docs // n_docs AS BIGINT) AS exact_dup_ppm,
         |  CAST(1000 * n_tokens // n_docs AS BIGINT) AS tokens_per_doc_milli
         |FROM agg""".stripMargin
    },
    // same counts, same integer divisions ('g' flag: DuckDB's
    // regexp_replace is first-match unless global)
    "t_readability" ->
      """WITH b AS (SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(text, '[.!?]+'), s -> length(trim(s)) > 0)) AS rs,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
        |    length(regexp_replace(lower(text), '[aeiou]+', 'A', 'g'))
        |      - length(regexp_replace(regexp_replace(lower(text), '[aeiou]+', 'A', 'g'),
        |                              '[A]', '', 'g')) AS n_vg
        |  FROM documents)
        |SELECT doc_id, CAST(greatest(rs, 1) AS BIGINT) AS n_sents,
        |  CAST(n_words AS BIGINT) AS n_words, CAST(n_vg AS BIGINT) AS n_vowel_groups,
        |  CAST(206835 - (1015000 * n_words) // (1000 * greatest(rs, 1))
        |       - (84600000 * n_vg) // (1000 * n_words) AS BIGINT) AS flesch3
        |FROM b WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
    // same integer KN ratios; backoff decomposes as the same two
    // separately-rounded micro-nat logs
    "t_perplexity_kn" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok AS (SELECT doc_id, CAST(gs.i AS BIGINT) AS pos, tk[CAST(gs.i+1 AS INT)] AS term,
        |          CASE WHEN gs.i = 0 THEN NULL ELSE tk[CAST(gs.i AS INT)] END AS prev
        |        FROM tk, LATERAL (SELECT unnest(generate_series(0, len(tk)-1)) AS i) gs),
        |vocab AS (SELECT term FROM tok GROUP BY 1),
        |big AS (SELECT prev, term, CAST(COUNT(*) AS BIGINT) AS cab FROM tok
        |        WHERE prev IS NOT NULL GROUP BY 1, 2),
        |ctx AS (SELECT prev, CAST(SUM(cab) AS BIGINT) AS ca,
        |          CAST(COUNT(*) AS BIGINT) AS nv FROM big GROUP BY 1),
        |cont AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cw FROM big GROUP BY 1),
        |sc AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM big)
        |             + (SELECT CAST(count(*) AS BIGINT) FROM vocab) AS bv),
        |contlp AS (SELECT v.term,
        |    CAST(round(ln(CAST(COALESCE(c.cw, 0) + 1 AS DOUBLE) / CAST(bv AS DOUBLE)) * 1000000) AS BIGINT) AS pc6
        |  FROM vocab v LEFT JOIN cont c ON c.term = v.term, sc),
        |ctxlp AS (SELECT prev,
        |    CAST(round(ln(3.0 * CAST(nv AS DOUBLE) / (4.0 * CAST(ca AS DOUBLE))) * 1000000) AS BIGINT) AS lam6
        |  FROM ctx),
        |bilp AS (SELECT b.prev, b.term,
        |    CAST(round(ln(CAST((4*b.cab - 3) * bv + 3 * x.nv * (c.cw + 1) AS DOUBLE)
        |                  / CAST(4 * x.ca * bv AS DOUBLE)) * 1000000) AS BIGINT) AS bi6
        |  FROM big b JOIN ctx x ON x.prev = b.prev JOIN cont c ON c.term = b.term, sc),
        |oc AS (SELECT CAST(round(ln(1.0 / CAST(bv AS DOUBLE)) * 1000000) AS BIGINT) AS oov6 FROM sc),
        |scored AS (SELECT tok.doc_id,
        |    CASE WHEN tok.pos = 0 THEN COALESCE(cl.pc6, oc.oov6)
        |         WHEN b.bi6 IS NOT NULL THEN b.bi6
        |         WHEN xl.lam6 IS NOT NULL THEN xl.lam6 + COALESCE(cl.pc6, oc.oov6)
        |         ELSE COALESCE(cl.pc6, oc.oov6) END AS lp6
        |  FROM tok
        |  LEFT JOIN contlp cl ON cl.term = tok.term
        |  LEFT JOIN bilp b ON b.prev = tok.prev AND b.term = tok.term
        |  LEFT JOIN ctxlp xl ON xl.prev = tok.prev, oc)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(-SUM(lp6) AS BIGINT) AS nll_sum6,
        |       round(CAST(-SUM(lp6) AS DOUBLE) / (COUNT(*)*1000000.0), 6) AS mean_nll,
        |       round(exp(CAST(-SUM(lp6) AS DOUBLE) / (COUNT(*)*1000000.0)), 4) AS ppl
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same block split (0-based pos * blocks div n), same integer
    // seam jaccard, same earliest-tie argmin
    "t_segment" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |base AS (SELECT doc_id, len(t) AS n, (g.i - 1) * 6 // len(t) AS blk, t[g.i] AS term
        |         FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g
        |         WHERE len(t) >= 12),
        |sets AS (SELECT DISTINCT doc_id, n, blk, term FROM base),
        |sizes AS (SELECT doc_id, n, blk, CAST(count(*) AS BIGINT) AS sz
        |          FROM sets GROUP BY 1, 2, 3),
        |common AS (SELECT a.doc_id, a.blk, CAST(count(*) AS BIGINT) AS c
        |           FROM sets a JOIN sets b ON a.doc_id = b.doc_id
        |             AND b.blk = a.blk + 1 AND a.term = b.term
        |           GROUP BY 1, 2),
        |seams AS (SELECT l.doc_id, l.n, l.blk, l.sz AS sz_l, r.sz AS sz_r,
        |            COALESCE(c.c, 0) AS c
        |          FROM sizes l JOIN sizes r ON r.doc_id = l.doc_id AND r.blk = l.blk + 1
        |          LEFT JOIN common c ON c.doc_id = l.doc_id AND c.blk = l.blk
        |          WHERE l.blk < 5),
        |j AS (SELECT doc_id, n, blk,
        |        CAST(1000000 * c // (sz_l + sz_r - c) AS BIGINT) AS jac6 FROM seams),
        |w AS (SELECT doc_id, min(jac6) AS mj FROM j GROUP BY 1),
        |p AS (SELECT j.doc_id, j.n, min(j.blk) AS blk, w.mj
        |      FROM j JOIN w ON w.doc_id = j.doc_id AND j.jac6 = w.mj GROUP BY 1, 2, 4)
        |SELECT doc_id, CAST(blk + 1 AS BIGINT) AS seam_block,
        |       CAST((n * (blk + 1) + 5) // 6 AS BIGINT) AS seam_pos,
        |       CAST(mj AS BIGINT) AS min_jac6
        |FROM p ORDER BY doc_id""".stripMargin,
    // corpus-max reference clock, integer minutes
    "dq_freshness" ->
      """WITH m AS (SELECT max(ts) AS cm FROM events),
        |p AS (SELECT event_type, max(ts) AS last_ts FROM events GROUP BY 1)
        |SELECT event_type, strftime(last_ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
        |       CAST(epoch_us(cm - last_ts) // 60000000 AS BIGINT) AS lag_minutes
        |FROM p, m ORDER BY event_type""".stripMargin,
    // same closure labels; singletons weigh the full 1e6
    "s_dup_weights" ->
      s"""WITH RECURSIVE $jaccardPairsSql,
         |$clusterCompSql,
         |cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz FROM comp GROUP BY 1),
         |lab AS (SELECT comp.id, cs.sz FROM comp JOIN cs ON cs.cluster = comp.cluster)
         |SELECT d.doc_id, COALESCE(lab.sz, 1) AS cluster_size,
         |       CAST(1000000 // COALESCE(lab.sz, 1) AS BIGINT) AS weight6
         |FROM documents d LEFT JOIN lab ON lab.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // same portable row hash, same order-free XOR fold
    "dq_manifest" -> {
      val h = sqlHash32(
        "CAST(event_id AS VARCHAR) || ':' || CAST(user_id AS VARCHAR) || ':' || event_type")
      s"""SELECT strftime(ts, '%Y-%m-%d') AS partition,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(bit_xor($h) AS BIGINT) AS content_xor
         |FROM events GROUP BY 1 ORDER BY partition""".stripMargin
    },
    // adjacent-position join finds the same matches; 1-based slice
    // bounds mirror Spark's clip-at-end slice semantics
    "r_snippet" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |pos AS (SELECT doc_id, g.i - 1 AS p, tk[g.i] AS term
        |        FROM tok, LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) g),
        |m AS (SELECT a.doc_id, a.p AS start0
        |      FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        |      WHERE a.term = 'table' AND b.term = 'hash'),
        |f AS (SELECT doc_id, CAST(min(start0) AS BIGINT) AS first_pos FROM m GROUP BY 1)
        |SELECT f.doc_id, f.first_pos,
        |  array_to_string(
        |    tk[greatest(1, CAST(f.first_pos AS INT) + 1 - 3) :
        |       least(len(tk), greatest(1, CAST(f.first_pos AS INT) + 1 - 3) + 7)], ' ')
        |    AS snippet
        |FROM f JOIN tok ON tok.doc_id = f.doc_id
        |ORDER BY f.doc_id""".stripMargin,
    // same zero-filled epoch grid, same micro-rounded slopes and
    // lower-median pick, same (slope desc, term) top-10
    "t_trending" ->
      """WITH toks AS (SELECT doc_id // 50 AS epoch, term FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |    FROM documents WHERE length(trim(text)) > 0)
        |  WHERE length(term) > 0),
        |top AS (SELECT term FROM (SELECT term, count(*) AS f FROM toks GROUP BY 1)
        |        ORDER BY f DESC, term LIMIT 20),
        |ep AS (SELECT DISTINCT epoch FROM toks),
        |cnt AS (SELECT term, epoch, CAST(count(*) AS BIGINT) AS n FROM toks
        |        WHERE term IN (SELECT term FROM top) GROUP BY 1, 2),
        |grid AS (SELECT t.term, CAST(e.epoch AS DOUBLE) AS x,
        |           CAST(COALESCE(c.n, 0) AS DOUBLE) AS y
        |         FROM top t CROSS JOIN ep e
        |         LEFT JOIN cnt c ON c.term = t.term AND c.epoch = e.epoch),
        |sl AS (SELECT a.term, CAST(round(1e6 * (b.y - a.y) / (b.x - a.x)) AS BIGINT) AS slope6
        |       FROM grid a JOIN grid b ON a.term = b.term AND a.x < b.x),
        |rk AS (SELECT term, slope6,
        |         row_number() OVER (PARTITION BY term ORDER BY slope6) AS rn,
        |         count(*) OVER (PARTITION BY term) AS np FROM sl),
        |np2 AS (SELECT term, CAST(count(*) AS BIGINT) AS n_points FROM grid GROUP BY 1),
        |med AS (SELECT rk.term, np2.n_points, CAST(rk.np AS BIGINT) AS n_pairs, rk.slope6
        |        FROM rk JOIN np2 ON np2.term = rk.term
        |        WHERE rk.rn = (rk.np + 1) // 2)
        |SELECT term, n_points, n_pairs, slope6 FROM med
        |ORDER BY slope6 DESC, term LIMIT 10""".stripMargin,
    // same per-user lag over arrival order
    "dq_out_of_order" ->
      """WITH l AS (SELECT event_type AS grp, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        |  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN ts < prev THEN 1 ELSE 0 END) AS BIGINT) AS n_regressions,
        |  CAST(1000000 * sum(CASE WHEN ts < prev THEN 1 ELSE 0 END) // count(*) AS BIGINT)
        |    AS regression_ppm
        |FROM l GROUP BY 1 ORDER BY grp""".stripMargin,
    // same prefix bound, same cumulative windows, same median pick
    "t_heaps" ->
      """WITH toks AS (SELECT doc_id, term FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |    FROM documents WHERE doc_id < 2000 AND length(trim(text)) > 0)
        |  WHERE length(term) > 0),
        |fs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS new_v FROM (
        |    SELECT term, min(doc_id) AS doc_id FROM toks GROUP BY 1) GROUP BY 1),
        |pd AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks t GROUP BY 1),
        |cum AS (SELECT pd.doc_id,
        |          CAST(sum(pd.nt) OVER (ORDER BY pd.doc_id) AS BIGINT) AS cum_n,
        |          CAST(sum(COALESCE(fs.new_v, 0)) OVER (ORDER BY pd.doc_id) AS BIGINT) AS cum_v
        |        FROM pd LEFT JOIN fs ON fs.doc_id = pd.doc_id),
        |pts AS (SELECT ln(CAST(cum_n AS DOUBLE)) AS x, ln(CAST(cum_v AS DOUBLE)) AS y
        |        FROM cum WHERE doc_id % 25 = 0),
        |sl AS (SELECT CAST(round(1e6 * (b.y - a.y) / (b.x - a.x)) AS BIGINT) AS slope6
        |       FROM pts a JOIN pts b ON a.x < b.x),
        |rk AS (SELECT slope6, row_number() OVER (ORDER BY slope6) AS rn,
        |         count(*) OVER () AS np FROM sl)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n_points,
        |       CAST(np AS BIGINT) AS n_pairs, CAST(slope6 AS BIGINT) AS beta6
        |FROM rk WHERE rn = (np + 1) // 2""".stripMargin,
    // same nano-quantized integer sums, same scale-invariant cosine
    "v_affinity" -> {
      s"""WITH d AS (SELECT e.label AS g, s.i AS dim,
         |       CAST(round(CAST(e.embedding[s.i] AS DOUBLE) * 1e9) AS BIGINT) AS q
         |     FROM embeddings e,
         |       LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) s
         |     WHERE e.embedding IS NOT NULL),
         |sv AS (SELECT g, dim, CAST(sum(q) AS BIGINT) AS sq, CAST(count(*) AS BIGINT) AS c
         |       FROM d GROUP BY 1, 2),
         |gv AS (SELECT g, list(sq ORDER BY dim) AS v, max(c) AS n FROM sv GROUP BY g)
         |SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
         |       round(${sqlCosine("a.v", "b.v")}, 6) AS affinity_cos
         |FROM gv a JOIN gv b ON a.g < b.g
         |ORDER BY group_a, group_b""".stripMargin
    },
    // same top-100 rank order, same micro-rounded pairwise slopes,
    // same lower-median pick
    "t_zipf" ->
      """WITH tc AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |    FROM documents WHERE length(trim(text)) > 0)
        |  WHERE length(term) > 0 GROUP BY 1 ORDER BY f DESC, term LIMIT 100),
        |pts AS (SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, term) AS DOUBLE)) AS x,
        |          ln(CAST(f AS DOUBLE)) AS y FROM tc),
        |sl AS (SELECT CAST(round(1e6 * (b.y - a.y) / (b.x - a.x)) AS BIGINT) AS slope6
        |       FROM pts a JOIN pts b ON a.x < b.x),
        |rk AS (SELECT slope6, row_number() OVER (ORDER BY slope6) AS rn,
        |         count(*) OVER () AS np FROM sl),
        |m AS (SELECT slope6, np FROM rk WHERE rn = (np + 1) // 2)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n_points,
        |       CAST(np AS BIGINT) AS n_pairs,
        |       CAST(-slope6 AS BIGINT) AS alpha6
        |FROM m""".stripMargin,
    // same twin chain scored once at the floor; per-threshold counts
    // via jac6 >= pct*1e4 (exact integer comparisons)
    "dd_threshold_sweep" -> {
      val dropHash = sqlHash32("CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")
      s"""WITH tokd AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         |  FROM documents),
         |pl AS (SELECT doc_id, tk FROM tokd WHERE doc_id % 10 = 0 AND len(tk) >= 10),
         |kept AS (SELECT doc_id, tk[i] AS t, i
         |         FROM pl, LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) g
         |         WHERE $dropHash % 10 <> 0),
         |tw AS (SELECT doc_id + 1000000 AS doc_id, text FROM (
         |         SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS text
         |         FROM kept GROUP BY doc_id)),
         |uni AS (SELECT doc_id, text FROM documents
         |        UNION ALL SELECT doc_id, text FROM tw),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS tk FROM uni),
         |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(tk)-2),
         |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
         |       FROM tok WHERE len(tk) >= 3),
         |sh AS (SELECT doc_id, shingle FROM sh0
         |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
         |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
         |         FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |scored AS (SELECT id_a, id_b,
         |        CAST(1000000 * common // (sa.sz + sb.sz - common) AS BIGINT) AS jac6
         |      FROM cand JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |      WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.2),
         |th AS (SELECT CAST(unnest([20, 35, 50, 65, 80]) AS BIGINT) AS threshold_pct),
         |expd AS (SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM pl),
         |hits AS (SELECT s.jac6 FROM scored s
         |         JOIN expd ON s.id_a = expd.id_a AND s.id_b = expd.id_b),
         |f AS (SELECT th.threshold_pct, CAST(count(h.jac6) AS BIGINT) AS n_found
         |      FROM th LEFT JOIN hits h ON h.jac6 >= th.threshold_pct * 10000 GROUP BY 1),
         |v AS (SELECT th.threshold_pct, CAST(count(s2.id_a) AS BIGINT) AS n_pairs_total
         |      FROM th LEFT JOIN scored s2 ON s2.jac6 >= th.threshold_pct * 10000 GROUP BY 1),
         |p AS (SELECT CAST(count(*) AS BIGINT) AS n_planted FROM expd)
         |SELECT th.threshold_pct, p.n_planted, f.n_found,
         |       CAST(1000000 * f.n_found // p.n_planted AS BIGINT) AS recall_ppm,
         |       v.n_pairs_total
         |FROM th
         |JOIN f ON f.threshold_pct = th.threshold_pct
         |JOIN v ON v.threshold_pct = th.threshold_pct, p
         |ORDER BY th.threshold_pct""".stripMargin
    },
    // twins rebuilt with the same portable (doc_id, position) hash
    // dropout; the jaccard chain runs over documents UNION twins
    "dd_canary_recall" -> {
      val dropHash = sqlHash32("CAST(doc_id AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")
      s"""WITH tokd AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         |  FROM documents),
         |pl AS (SELECT doc_id, tk FROM tokd WHERE doc_id % 10 = 0 AND len(tk) >= 10),
         |kept AS (SELECT doc_id, tk[i] AS t, i
         |         FROM pl, LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) g
         |         WHERE $dropHash % 10 <> 0),
         |tw AS (SELECT doc_id + 1000000 AS doc_id, text FROM (
         |         SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS text
         |         FROM kept GROUP BY doc_id)),
         |uni AS (SELECT doc_id, text FROM documents
         |        UNION ALL SELECT doc_id, text FROM tw),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS tk FROM uni),
         |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(tk)-2),
         |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
         |       FROM tok WHERE len(tk) >= 3),
         |sh AS (SELECT doc_id, shingle FROM sh0
         |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
         |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
         |         FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs AS (
         | SELECT id_a, id_b FROM cand
         | JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         | WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.2),
         |expd AS (SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM pl),
         |f AS (SELECT CAST(count(*) AS BIGINT) AS n_found
         |      FROM pairs JOIN expd ON pairs.id_a = expd.id_a AND pairs.id_b = expd.id_b),
         |p AS (SELECT CAST(count(*) AS BIGINT) AS n_planted FROM expd)
         |SELECT n_planted, n_found,
         |       CAST(1000000 * n_found // n_planted AS BIGINT) AS recall_ppm
         |FROM p, f""".stripMargin
    },
    // the jaccardPairsSql chain with the evidence columns kept
    "dd_pair_explain" ->
      """WITH tok AS (
        | SELECT doc_id, regexp_split_to_array(trim(text),'\s+') AS tk FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(tk)-2),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
        |       FROM tok WHERE len(tk) >= 3),
        |sh AS (SELECT doc_id, shingle FROM sh0
        |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS common
        |         FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, sa.sz AS sz_a, sb.sz AS sz_b, common,
        |       CAST(1000000 * common // (sa.sz + sb.sz - common) AS BIGINT) AS jac6,
        |       CAST(1000000 * common // least(sa.sz, sb.sz) AS BIGINT) AS cont6
        |FROM cand
        |JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,
    // same grids, same add-one smoothing, same micro-nat rounding
    // the same grids, integer micro-unit CDF gap, argmax bucket
    "dq_ks" ->
      """WITH pa AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
        |  WHERE l_shipdate < DATE '1995-07-01'),
        |pb AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
        |  WHERE l_shipdate >= DATE '1995-07-01'),
        |ha AS (SELECT CAST(least(63, greatest(0, c) * 64 // 11000000) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_a FROM pa GROUP BY 1),
        |hb AS (SELECT CAST(least(63, greatest(0, c) * 64 // 11000000) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_b FROM pb GROUP BY 1),
        |j AS (SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
        |        COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        |      FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_a) AS BIGINT) AS na,
        |        CAST(sum(n_b) AS BIGINT) AS nb FROM j),
        |cum AS (SELECT bucket,
        |         CAST(sum(n_a) OVER (ORDER BY bucket) AS BIGINT) AS ca,
        |         CAST(sum(n_b) OVER (ORDER BY bucket) AS BIGINT) AS cb
        |       FROM j),
        |gaps AS (SELECT bucket,
        |          abs(1000000 * ca // na - 1000000 * cb // nb) AS gap6
        |        FROM cum, t)
        |SELECT t.k AS n_buckets, t.na AS n_rows_a, t.nb AS n_rows_b,
        |       g.bucket AS ks_bucket, CAST(g.gap6 AS BIGINT) AS ks6
        |FROM t, (SELECT bucket, gap6 FROM gaps ORDER BY gap6 DESC, bucket LIMIT 1) g""".stripMargin,
    // same grids and smoothing as dq_psi; midpoint-KL terms rounded
    // per bucket before the sum
    "dq_js" ->
      """WITH pa AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
        |  WHERE l_shipdate < DATE '1995-07-01'),
        |pb AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
        |  WHERE l_shipdate >= DATE '1995-07-01'),
        |ha AS (SELECT CAST(least(63, greatest(0, c) * 64 // 11000000) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_a FROM pa GROUP BY 1),
        |hb AS (SELECT CAST(least(63, greatest(0, c) * 64 // 11000000) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_b FROM pb GROUP BY 1),
        |j AS (SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
        |        COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        |      FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_a) AS BIGINT) AS na,
        |        CAST(sum(n_b) AS BIGINT) AS nb FROM j),
        |ps AS (SELECT CAST(n_a + 1 AS DOUBLE) / CAST(na + k AS DOUBLE) AS p,
        |         CAST(n_b + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE) AS q,
        |         k, na, nb
        |       FROM j, t),
        |terms AS (SELECT k, na, nb,
        |    CAST(round((p * ln(p / ((p + q) / 2.0))
        |              + q * ln(q / ((p + q) / 2.0))) / 2.0 * 1e6) AS BIGINT) AS t6
        |  FROM ps)
        |SELECT k AS n_buckets, na AS n_rows_a, nb AS n_rows_b,
        |       CAST(sum(t6) AS BIGINT) AS js6
        |FROM terms GROUP BY 1, 2, 3""".stripMargin,
    // same grids as dq_ks; squared micro CDF gaps weighted by the
    // combined bucket mass, one truncating division at the end
    "dq_mean_split" ->
      """WITH base AS (SELECT strftime(ts, '%Y-%m-%d') AS bucket,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |d AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
        |      FROM base GROUP BY 1),
        |c AS (SELECT bucket,
        |        CAST(SUM(n) OVER (ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
        |        CAST(SUM(s) OVER (ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sl
        |      FROM d),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn, CAST(SUM(v) AS BIGINT) AS ss,
        |        SUM(CAST(v AS HUGEINT) * v) AS qq
        |      FROM base),
        |w AS (SELECT bucket, nl, (nn - nl) AS nr,
        |        CAST((CAST(1000000 AS HUGEINT) * sl) // nl AS BIGINT) AS ml6,
        |        CAST((CAST(1000000 AS HUGEINT) * (ss - sl)) // (nn - nl) AS BIGINT) AS mr6,
        |        CAST((CAST(nl AS HUGEINT) * (nn - nl)) // nn AS BIGINT) AS wgt,
        |        CAST((CAST(nn AS HUGEINT) * qq - CAST(ss AS HUGEINT) * ss)
        |             // (CAST(nn AS HUGEINT) * nn) AS BIGINT) AS varc2
        |      FROM c, t WHERE nl < nn)
        |SELECT bucket, nl AS n_left, nr AS n_right, ml6 AS mean_l6, mr6 AS mean_r6,
        |  CASE WHEN varc2 <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(wgt AS HUGEINT) * (ml6 - mr6) * (ml6 - mr6))
        |            // (CAST(1000000 AS HUGEINT) * varc2) AS BIGINT) END AS z2_6
        |FROM w ORDER BY bucket""".stripMargin,
    // same day grid as dq_rate_split; the scan template is applied
    // to the full grid and to each side of the argmax split (ties to
    // the earliest bucket, deterministic because g6 is exact integer
    // in both engines)
    "dq_rate_binseg" -> {
      def term(c: String, n: String) =
        s"(CASE WHEN $c > 0 THEN CAST($c AS HUGEINT) " +
          s"* CAST(round(ln(CAST($c AS DOUBLE) / $n) * 1000000) AS BIGINT) " +
          "ELSE 0 END)"
      def ll(x: String, n: String) = s"(${term(x, n)} + ${term(s"($n - $x)", n)})"
      def scan(g: String) =
        s"""SELECT bucket, nl AS n_left, xl AS x_left,
           |    (nn - nl) AS n_right, (xx - xl) AS x_right,
           |    CAST(2 * (${ll("xl", "nl")}
           |              + ${ll("(xx - xl)", "(nn - nl)")}
           |              - ${ll("xx", "nn")}) AS BIGINT) AS g6
           |  FROM (SELECT bucket,
           |          CAST(SUM(n) OVER w AS BIGINT) AS nl,
           |          CAST(SUM(x) OVER w AS BIGINT) AS xl
           |        FROM $g WINDOW w AS (ORDER BY bucket
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) c,
           |       (SELECT CAST(SUM(n) AS BIGINT) AS nn,
           |               CAST(SUM(x) AS BIGINT) AS xx FROM $g) t
           |  WHERE nl < nn""".stripMargin
      def best(g: String) =
        s"SELECT * FROM (${scan(g)}) ORDER BY g6 DESC, bucket LIMIT 1"
      s"""WITH base AS (SELECT strftime(ts, '%Y-%m-%d') AS bucket,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS xx
         |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
         |d AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(xx) AS BIGINT) AS x
         |      FROM base GROUP BY 1),
         |b1 AS (${best("d")}),
         |dl AS (SELECT d.* FROM d, b1 WHERE d.bucket <= b1.bucket),
         |dr AS (SELECT d.* FROM d, b1 WHERE d.bucket > b1.bucket)
         |SELECT CAST(1 AS INTEGER) AS depth, '*' AS side, * FROM b1
         |UNION ALL SELECT CAST(2 AS INTEGER), 'L', * FROM (${best("dl")})
         |UNION ALL SELECT CAST(2 AS INTEGER), 'R', * FROM (${best("dr")})
         |ORDER BY depth, side""".stripMargin
    },
    // same cent-value day grid as dq_mean_split; each side re-scored
    // against its own pooled variance (the sub-grid's moments)
    "dq_mean_binseg" -> {
      def scan(g: String) =
        s"""SELECT bucket, nl AS n_left, (nn - nl) AS n_right,
           |    ml6 AS mean_l6, mr6 AS mean_r6,
           |    CASE WHEN varc2 <= 0 THEN CAST(0 AS BIGINT)
           |    ELSE CAST((CAST(wgt AS HUGEINT) * (ml6 - mr6) * (ml6 - mr6))
           |              // (CAST(1000000 AS HUGEINT) * varc2) AS BIGINT)
           |    END AS z2_6
           |  FROM (SELECT c.bucket, c.nl, t.nn,
           |      CAST((CAST(1000000 AS HUGEINT) * c.sl) // c.nl AS BIGINT) AS ml6,
           |      CAST((CAST(1000000 AS HUGEINT) * (t.ss - c.sl))
           |           // (t.nn - c.nl) AS BIGINT) AS mr6,
           |      CAST((CAST(c.nl AS HUGEINT) * (t.nn - c.nl)) // t.nn AS BIGINT) AS wgt,
           |      CAST((CAST(t.nn AS HUGEINT) * t.qq - CAST(t.ss AS HUGEINT) * t.ss)
           |           // (CAST(t.nn AS HUGEINT) * t.nn) AS BIGINT) AS varc2
           |    FROM (SELECT bucket,
           |            CAST(SUM(n) OVER w AS BIGINT) AS nl,
           |            CAST(SUM(s) OVER w AS BIGINT) AS sl
           |          FROM $g WINDOW w AS (ORDER BY bucket
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) c,
           |         (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS ss,
           |                 CAST(SUM(q) AS HUGEINT) AS qq FROM $g) t
           |    WHERE c.nl < t.nn)""".stripMargin
      def best(g: String) =
        s"SELECT * FROM (${scan(g)}) ORDER BY z2_6 DESC, bucket LIMIT 1"
      s"""WITH base AS (SELECT strftime(ts, '%Y-%m-%d') AS bucket,
         |    CAST(round(value * 100) AS BIGINT) AS v
         |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
         |d AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
         |        SUM(CAST(v AS HUGEINT) * v) AS q
         |      FROM base GROUP BY 1),
         |b1 AS (${best("d")}),
         |dl AS (SELECT d.* FROM d, b1 WHERE d.bucket <= b1.bucket),
         |dr AS (SELECT d.* FROM d, b1 WHERE d.bucket > b1.bucket)
         |SELECT CAST(1 AS INTEGER) AS depth, '*' AS side, * FROM b1
         |UNION ALL SELECT CAST(2 AS INTEGER), 'L', * FROM (${best("dl")})
         |UNION ALL SELECT CAST(2 AS INTEGER), 'R', * FROM (${best("dr")})
         |ORDER BY depth, side""".stripMargin
    },
    // the depth-2 chain deepened one level: the four leaf segments
    // bound by (tL, t1, tR), each re-scanned against its own pooled
    // variance; joins with the (possibly empty) best-split CTEs give
    // the missing-parent semantics
    "dq_mean_binseg3" -> {
      def scan(g: String) =
        s"""SELECT bucket, nl AS n_left, (nn - nl) AS n_right,
           |    ml6 AS mean_l6, mr6 AS mean_r6,
           |    CASE WHEN varc2 <= 0 THEN CAST(0 AS BIGINT)
           |    ELSE CAST((CAST(wgt AS HUGEINT) * (ml6 - mr6) * (ml6 - mr6))
           |              // (CAST(1000000 AS HUGEINT) * varc2) AS BIGINT)
           |    END AS z2_6
           |  FROM (SELECT c.bucket, c.nl, t.nn,
           |      CAST((CAST(1000000 AS HUGEINT) * c.sl) // c.nl AS BIGINT) AS ml6,
           |      CAST((CAST(1000000 AS HUGEINT) * (t.ss - c.sl))
           |           // (t.nn - c.nl) AS BIGINT) AS mr6,
           |      CAST((CAST(c.nl AS HUGEINT) * (t.nn - c.nl)) // t.nn AS BIGINT) AS wgt,
           |      CAST((CAST(t.nn AS HUGEINT) * t.qq - CAST(t.ss AS HUGEINT) * t.ss)
           |           // (CAST(t.nn AS HUGEINT) * t.nn) AS BIGINT) AS varc2
           |    FROM (SELECT bucket,
           |            CAST(SUM(n) OVER w AS BIGINT) AS nl,
           |            CAST(SUM(s) OVER w AS BIGINT) AS sl
           |          FROM $g WINDOW w AS (ORDER BY bucket
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) c,
           |         (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS ss,
           |                 CAST(SUM(q) AS HUGEINT) AS qq FROM $g) t
           |    WHERE c.nl < t.nn)""".stripMargin
      def best(g: String) =
        s"SELECT * FROM (${scan(g)}) ORDER BY z2_6 DESC, bucket LIMIT 1"
      s"""WITH base AS (SELECT strftime(ts, '%Y-%m-%d') AS bucket,
         |    CAST(round(value * 100) AS BIGINT) AS v
         |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
         |d AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
         |        SUM(CAST(v AS HUGEINT) * v) AS q
         |      FROM base GROUP BY 1),
         |b1 AS (${best("d")}),
         |dl AS (SELECT d.* FROM d, b1 WHERE d.bucket <= b1.bucket),
         |dr AS (SELECT d.* FROM d, b1 WHERE d.bucket > b1.bucket),
         |bl AS (${best("dl")}),
         |br AS (${best("dr")}),
         |dll AS (SELECT d.* FROM d, bl WHERE d.bucket <= bl.bucket),
         |dlr AS (SELECT d.* FROM d, bl, b1
         |        WHERE d.bucket > bl.bucket AND d.bucket <= b1.bucket),
         |drl AS (SELECT d.* FROM d, b1, br
         |        WHERE d.bucket > b1.bucket AND d.bucket <= br.bucket),
         |drr AS (SELECT d.* FROM d, br WHERE d.bucket > br.bucket)
         |SELECT CAST(1 AS INTEGER) AS depth, '*' AS side, * FROM b1
         |UNION ALL SELECT CAST(2 AS INTEGER), 'L', * FROM (${best("dl")})
         |UNION ALL SELECT CAST(2 AS INTEGER), 'R', * FROM (${best("dr")})
         |UNION ALL SELECT CAST(3 AS INTEGER), 'LL', * FROM (${best("dll")})
         |UNION ALL SELECT CAST(3 AS INTEGER), 'LR', * FROM (${best("dlr")})
         |UNION ALL SELECT CAST(3 AS INTEGER), 'RL', * FROM (${best("drl")})
         |UNION ALL SELECT CAST(3 AS INTEGER), 'RR', * FROM (${best("drr")})
         |ORDER BY depth, side""".stripMargin
    },
    "dq_rate_split" -> {
      def term(c: String, n: String) =
        s"(CASE WHEN $c > 0 THEN CAST($c AS HUGEINT) " +
          s"* CAST(round(ln(CAST($c AS DOUBLE) / $n) * 1000000) AS BIGINT) " +
          "ELSE 0 END)"
      def ll(x: String, n: String) = s"(${term(x, n)} + ${term(s"($n - $x)", n)})"
      s"""WITH base AS (SELECT strftime(ts, '%Y-%m-%d') AS bucket,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS xx
         |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
         |d AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(xx) AS BIGINT) AS x
         |      FROM base GROUP BY 1),
         |c AS (SELECT bucket,
         |        CAST(SUM(n) OVER (ORDER BY bucket
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
         |        CAST(SUM(x) OVER (ORDER BY bucket
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS xl
         |      FROM d),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(x) AS BIGINT) AS xx
         |      FROM d)
         |SELECT bucket, nl AS n_left, xl AS x_left,
         |  (nn - nl) AS n_right, (xx - xl) AS x_right,
         |  CAST(2 * (${ll("xl", "nl")}
         |            + ${ll("(xx - xl)", "(nn - nl)")}
         |            - ${ll("xx", "nn")}) AS BIGINT) AS g6
         |FROM c, t WHERE nl < nn ORDER BY bucket""".stripMargin
    },
    "dq_cvm" ->
      """WITH pa AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
        |  WHERE l_shipdate < DATE '1995-07-01'),
        |pb AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
        |  WHERE l_shipdate >= DATE '1995-07-01'),
        |ha AS (SELECT CAST(least(63, greatest(0, c) * 64 // 11000000) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_a FROM pa GROUP BY 1),
        |hb AS (SELECT CAST(least(63, greatest(0, c) * 64 // 11000000) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_b FROM pb GROUP BY 1),
        |j AS (SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
        |        COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        |      FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_a) AS BIGINT) AS na,
        |        CAST(sum(n_b) AS BIGINT) AS nb FROM j),
        |cum AS (SELECT bucket, n_a, n_b,
        |         CAST(sum(n_a) OVER (ORDER BY bucket) AS BIGINT) AS ca,
        |         CAST(sum(n_b) OVER (ORDER BY bucket) AS BIGINT) AS cb
        |       FROM j),
        |g AS (SELECT n_a, n_b,
        |        1000000 * ca // na - 1000000 * cb // nb AS gap6
        |      FROM cum, t),
        |s AS (SELECT CAST(SUM(CAST(n_a + n_b AS HUGEINT) * gap6 * gap6) AS HUGEINT)
        |        AS sq FROM g)
        |SELECT t.k AS n_buckets, t.na AS n_rows_a, t.nb AS n_rows_b,
        |  CAST((CAST(t.na AS HUGEINT) * t.nb * s.sq)
        |       // (CAST(t.na + t.nb AS HUGEINT) * (t.na + t.nb)
        |          * CAST(1000000 AS HUGEINT)) AS BIGINT) AS t6
        |FROM t, s""".stripMargin,
    "dq_psi" ->
      """WITH pa AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
        |  WHERE l_shipdate < DATE '1995-07-01'),
        |pb AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
        |  WHERE l_shipdate >= DATE '1995-07-01'),
        |ha AS (SELECT CAST(least(63, greatest(0, c) * 64 // 11000000) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_a FROM pa GROUP BY 1),
        |hb AS (SELECT CAST(least(63, greatest(0, c) * 64 // 11000000) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_b FROM pb GROUP BY 1),
        |j AS (SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
        |        COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        |      FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_a) AS BIGINT) AS na,
        |        CAST(sum(n_b) AS BIGINT) AS nb FROM j),
        |terms AS (SELECT
        |    CAST(round((CAST(n_a + 1 AS DOUBLE) / CAST(na + k AS DOUBLE)
        |          - CAST(n_b + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))
        |        * ln((CAST(n_a + 1 AS DOUBLE) / CAST(na + k AS DOUBLE))
        |           / (CAST(n_b + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE))) * 1e6) AS BIGINT) AS t6,
        |    k, na, nb
        |  FROM j, t)
        |SELECT k AS n_buckets, na AS n_rows_a, nb AS n_rows_b,
        |       CAST(sum(t6) AS BIGINT) AS psi6
        |FROM terms GROUP BY 1, 2, 3""".stripMargin,
    // same cent quantization and digit string-read; expectations
    // injected from Checks.benfordPpm
    "dq_benford" -> {
      s"""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
         |d AS (SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         |        CAST(count(*) AS BIGINT) AS n
         |      FROM c WHERE c > 0 GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM d)
         |SELECT digit, n, CAST(1000000 * n // nt AS BIGINT) AS obs_ppm,
         |       CAST(${Checks.benfordPpmSql("digit")} AS BIGINT) AS exp_ppm,
         |       CAST(1000000 * n // nt AS BIGINT)
         |         - CAST(${Checks.benfordPpmSql("digit")} AS BIGINT) AS dev_ppm
         |FROM d, t ORDER BY digit""".stripMargin
    },
    // same (dollars, custkey) total order, same rounded double ratio
    "a_theil" ->
      """WITH per AS (SELECT user_id,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL GROUP BY 1),
        |pos AS (SELECT cents FROM per WHERE cents > 0),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
        |      FROM pos),
        |terms AS (SELECT n, s,
        |    CAST(round((CAST(cents AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s AS DOUBLE))
        |        * ln(CAST(cents AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s AS DOUBLE))
        |        * 1e6) AS BIGINT) AS t6
        |  FROM pos, t)
        |SELECT n, s AS total, CAST(SUM(t6) // n AS BIGINT) AS theil6
        |FROM terms GROUP BY n, s""".stripMargin,
    "a_lorenz" ->
      """WITH per AS (SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS dollars
        |  FROM orders GROUP BY 1),
        |rk AS (SELECT dollars, o_custkey,
        |    CAST(row_number() OVER (ORDER BY dollars, o_custkey) AS BIGINT) AS r,
        |    CAST(SUM(dollars) OVER (ORDER BY dollars, o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM per),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dollars) AS BIGINT) AS total
        |      FROM per),
        |tg AS (SELECT CAST(g.d AS BIGINT) AS bucket,
        |         greatest(1, (g.d * t.n) // 10) AS r
        |       FROM generate_series(1, 10) AS g(d), t)
        |SELECT tg.bucket, rk.r AS rank,
        |  CAST((1000000 * rk.r) // t.n AS BIGINT) AS pop_share6,
        |  CAST((1000000 * rk.cum) // t.total AS BIGINT) AS wealth_share6
        |FROM tg JOIN rk ON rk.r = tg.r, t ORDER BY tg.bucket""".stripMargin,
    "w_fano" -> fanoOracleSql,
    "a_gini" ->
      """WITH pc AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS dollars
        |  FROM orders GROUP BY 1),
        |rk AS (SELECT dollars, row_number() OVER (ORDER BY dollars, o_custkey) AS rank FROM pc),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dollars) AS BIGINT) AS total,
        |         CAST(sum(rank * dollars) AS BIGINT) AS rc FROM rk)
        |SELECT n, total,
        |  CAST(round(1e6 * (2.0 * CAST(rc AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
        |       - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))) AS BIGINT) AS gini6
        |FROM ag""".stripMargin,
    // the identical injected decay table over the corpus-max clock
    "a_decay_engagement" -> {
      val wSql = Series.decayWeightSql(7, 60, "age")
      s"""WITH m AS (SELECT CAST(max(ts) AS DATE) AS ref FROM events),
         |e AS (SELECT user_id, CAST(ref - CAST(ts AS DATE) AS BIGINT) AS age
         |      FROM events, m)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |       CAST(sum($wSql) AS BIGINT) AS engagement6
         |FROM e GROUP BY 1 ORDER BY user_id""".stripMargin
    },
    // same scaled-integer centering (n*x - S), same truncating division
    "w_acf" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd, CAST(sum(cnt) AS BIGINT) AS s
        |       FROM d GROUP BY 1),
        |c AS (SELECT d.event_type, CAST(d.day - DATE '1970-01-01' AS BIGINT) AS dd,
        |        st.nd * d.cnt - st.s AS c
        |      FROM d JOIN st ON st.event_type = d.event_type),
        |den AS (SELECT event_type, CAST(sum(c*c) AS BIGINT) AS den FROM c GROUP BY 1
        |        HAVING sum(c*c) > 0),
        |lg AS (SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS lag),
        |p AS (SELECT a.event_type, lg.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |        CAST(sum(a.c * b.c) AS BIGINT) AS num
        |      FROM c a JOIN c b ON a.event_type = b.event_type, lg
        |      WHERE b.dd = a.dd + lg.lag GROUP BY 1, 2)
        |SELECT p.event_type, p.lag, p.n_pairs,
        |       CAST(1000000 * p.num // den.den AS BIGINT) AS acf6
        |FROM p JOIN den ON den.event_type = p.event_type
        |ORDER BY 1, 2""".stripMargin,
    // same split-gain formula, same rounded argmax and earliest tie
    "w_changepoint" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT event_type, day,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS t,
        |    CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS st,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nn,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS s,
        |    lead(day) OVER (PARTITION BY event_type ORDER BY day) AS next_d
        |  FROM d),
        |g AS (SELECT event_type, next_d, nn,
        |    CAST(round(1e6 * CAST((nn*st - s*t) * (nn*st - s*t) AS DOUBLE)
        |               / CAST(t * (nn - t) AS DOUBLE)) AS BIGINT) AS gain6
        |  FROM cum WHERE t < nn),
        |b AS (SELECT event_type, max(gain6) AS mg FROM g GROUP BY 1)
        |SELECT g.event_type, CAST(g.nn AS BIGINT) AS n_days,
        |       strftime(min(g.next_d), '%Y-%m-%d') AS change_day,
        |       CAST(b.mg AS BIGINT) AS gain6
        |FROM g JOIN b ON b.event_type = g.event_type AND g.gain6 = b.mg
        |GROUP BY 1, 2, 4 ORDER BY 1""".stripMargin,
    // identical islands key (epoch-day minus row_number)
    "w_islands" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(sum(n) AS DOUBLE) / count(*) AS mu FROM d GROUP BY 1),
        |a AS (SELECT d.event_type, d.day FROM d JOIN m ON d.event_type = m.event_type
        |      WHERE CAST(n AS DOUBLE) > mu),
        |r AS (SELECT event_type, CAST(day - DATE '1970-01-01' AS BIGINT) AS dd,
        |        row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn FROM a),
        |g AS (SELECT event_type, dd - rn AS grp, min(dd) AS s, max(dd) AS e,
        |        CAST(count(*) AS BIGINT) AS n_days FROM r GROUP BY 1, 2),
        |o AS (SELECT event_type, s, e, n_days,
        |        COALESCE(s - lag(e) OVER (PARTITION BY event_type ORDER BY s) - 1, 0) AS gap
        |      FROM g)
        |SELECT event_type,
        |  strftime(DATE '1970-01-01' + CAST(s AS INT), '%Y-%m-%d') AS island_start,
        |  strftime(DATE '1970-01-01' + CAST(e AS INT), '%Y-%m-%d') AS island_end,
        |  n_days, CAST(gap AS BIGINT) AS gap_before_days
        |FROM o ORDER BY event_type, island_start""".stripMargin,
    // same integer micro-slopes, same lower-median rank rule
    // identical centering, one IEEE sqrt+division per lag; positive
    // lag = clicks lead purchases
    "w_lead_lag" ->
      """WITH ca0 AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS da,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |cb0 AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS db,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |sa AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s FROM ca0),
        |sb AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s FROM cb0),
        |ca AS (SELECT da, CAST(sa.n * v - sa.s AS BIGINT) AS c FROM ca0, sa),
        |cb AS (SELECT db, CAST(sb.n * v - sb.s AS BIGINT) AS c FROM cb0, sb),
        |dena AS (SELECT CAST(sum(c * c) AS BIGINT) AS dena FROM ca),
        |denb AS (SELECT CAST(sum(c * c) AS BIGINT) AS denb FROM cb),
        |lg AS (SELECT unnest(generate_series(-7, 7)) AS lag),
        |nm AS (SELECT lg.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(ca.c * cb.c) AS BIGINT) AS num
        |       FROM lg JOIN ca ON TRUE JOIN cb ON cb.db = ca.da + lg.lag
        |       GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CAST(round(1e6 * CAST(num AS DOUBLE) /
        |       sqrt(CAST(dena AS DOUBLE) * CAST(denb AS DOUBLE)), 0) AS BIGINT) AS xcf6
        |FROM nm, dena, denb WHERE dena > 0 AND denb > 0
        |ORDER BY lag""".stripMargin,
    // n·Σx² − S² is non-negative (Cauchy-Schwarz), so // == div
    "w_fano" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |        CAST(sum(n) AS BIGINT) AS sum_n, CAST(sum(n * n) AS BIGINT) AS ss
        |      FROM d GROUP BY 1)
        |SELECT event_type, n_days, sum_n,
        |  CAST((1000000 * (n_days * ss - sum_n * sum_n)) // (n_days * sum_n) AS BIGINT) AS fano6
        |FROM g WHERE sum_n > 0 ORDER BY event_type""".stripMargin,
    // sign sums are exact; tau6 emulates truncation toward zero for
    // a possibly-negative S
    "w_mann_kendall" -> mannKendallOracleSql,
    // daily registers max-merged per trailing window; exact trailing
    // distinct beside the estimate
    "a_hll_window" -> {
      val alphaNum = Sketches.hllAlpha(10) * 1024.0 * 1024.0 * 8589934592.0
      s"""WITH ev AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
         |hh AS (SELECT DISTINCT d, ${sqlHash32("user_id")} AS h FROM ev),
         |rg AS (SELECT d, h // 4194304 AS bucket,
         |         CASE WHEN h % 4194304 = 0 THEN CAST(23 AS BIGINT)
         |              ELSE CAST(23 - length(bin(h % 4194304)) AS BIGINT) END AS rho
         |       FROM hh),
         |reg AS (SELECT d, bucket, max(rho) AS r FROM rg GROUP BY 1, 2),
         |days AS (SELECT DISTINCT d AS day FROM reg),
         |m AS (SELECT day, bucket, max(r) AS r FROM days JOIN reg
         |        ON datediff('day', reg.d, days.day) BETWEEN 0 AND 6 GROUP BY 1, 2),
         |ag AS (SELECT day, CAST(count(*) AS BIGINT) AS n_occupied,
         |         CAST(sum(8589934592 // (CAST(1 AS BIGINT) << CAST(r AS INT))) AS BIGINT) AS s_occ
         |       FROM m GROUP BY 1),
         |es AS (SELECT day, n_occupied,
         |         $alphaNum / CAST(s_occ + (1024 - n_occupied) * 8589934592 AS DOUBLE) AS raw,
         |         1024 - n_occupied AS zeros FROM ag),
         |ex AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |       FROM days JOIN ev ON datediff('day', ev.d, days.day) BETWEEN 0 AND 6 GROUP BY 1)
         |SELECT strftime(day, '%Y-%m-%d') AS day, n_exact, n_occupied,
         |  CAST(round(CASE WHEN raw <= ${2.5 * 1024.0} AND zeros > 0
         |       THEN 1024.0 * ln(1024.0 / CAST(zeros AS DOUBLE)) ELSE raw END, 0) AS BIGINT) AS hll_est
         |FROM es JOIN ex USING (day) ORDER BY day""".stripMargin
    },
    "w_theilsen" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |base AS (SELECT event_type, CAST(day - DATE '1970-01-01' AS BIGINT) AS dd, n FROM d),
        |sl AS (SELECT a.event_type,
        |         CAST(1000000 * (b.n - a.n) // (b.dd - a.dd) AS BIGINT) AS slope6
        |       FROM base a JOIN base b ON a.event_type = b.event_type AND a.dd < b.dd),
        |rk AS (SELECT event_type, slope6,
        |         row_number() OVER (PARTITION BY event_type ORDER BY slope6) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS np
        |       FROM sl),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM d GROUP BY 1)
        |SELECT rk.event_type, nd.n_days, CAST(rk.np AS BIGINT) AS n_pairs, rk.slope6
        |FROM rk JOIN nd ON nd.event_type = rk.event_type
        |WHERE rk.rn = (rk.np + 1) // 2
        |ORDER BY rk.event_type""".stripMargin,
    "a_ca_trend" ->
      """WITH base AS (SELECT
        |    1 + (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS w,
        |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS s
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |cells AS (SELECT CAST(w AS BIGINT) AS w, CAST(count(*) AS BIGINT) AS n_v,
        |            CAST(SUM(s) AS BIGINT) AS x_v
        |          FROM base GROUP BY 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(SUM(n_v) AS BIGINT) AS n,
        |          CAST(SUM(x_v) AS BIGINT) AS x,
        |          CAST(SUM(w * x_v) AS BIGINT) AS wx,
        |          CAST(SUM(w * n_v) AS BIGINT) AS wn,
        |          CAST(SUM(w * w * n_v) AS BIGINT) AS wwn
        |        FROM cells),
        |z AS (SELECT k, n, x,
        |        CAST(n AS HUGEINT) * wx - CAST(x AS HUGEINT) * wn AS num,
        |        CAST(x AS HUGEINT) * (n - x)
        |          * (CAST(n AS HUGEINT) * wwn - CAST(wn AS HUGEINT) * wn) AS den
        |      FROM agg),
        |f AS (SELECT k, n, x,
        |        CASE WHEN den <= 0 THEN CAST(0 AS BIGINT)
        |        ELSE CAST((CAST(1000000 AS HUGEINT) * num * num * n) // den
        |             AS BIGINT) END AS z2_6
        |      FROM z)
        |SELECT k, n, x, z2_6, z2_6 >= 3841459 AS significant FROM f""".stripMargin,
    // pass 1 reuses the shared bm25Sql chain; pass 2 re-scores
    // against the expanded term TABLE (the r_mrr_eval shape), with
    // dl/stats/terms CTEs shared between passes
    "r_prf_expand" -> {
      val stopsAndQuery = (Seq("data", "join") ++ SparkEntry.qualityStops)
        .map(t0 => s"'$t0'").mkString(", ")
      s"""WITH ${bm25Sql(Seq("data", "join"))},
         |top5 AS (SELECT doc_id FROM bm ORDER BY bm25 DESC, doc_id LIMIT 5),
         |fbt AS (SELECT term, count(*) AS c FROM (
         |    SELECT doc_id, term FROM terms WHERE doc_id IN (SELECT doc_id FROM top5))
         |  WHERE length(term) > 0 AND term NOT IN ($stopsAndQuery)
         |  GROUP BY 1 ORDER BY c DESC, term LIMIT 3),
         |q AS (SELECT term FROM fbt UNION ALL SELECT unnest(['data', 'join'])),
         |tf2 AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms
         |        WHERE term IN (SELECT term FROM q) GROUP BY 1, 2),
         |dfx2 AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf2 GROUP BY 1),
         |c2 AS (SELECT tf2.doc_id,
         |        ln((CAST(n AS DOUBLE) - CAST(dfx2.df AS DOUBLE) + 0.5) /
         |           (CAST(dfx2.df AS DOUBLE) + 0.5) + 1.0) *
         |        (CAST(tf2.tf AS DOUBLE) * 2.2) /
         |        (CAST(tf2.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE) / avglen))) AS c
         |      FROM tf2 JOIN dfx2 ON tf2.term = dfx2.term JOIN dl ON tf2.doc_id = dl.doc_id, stats)
         |SELECT doc_id, round(SUM(c), 6) AS bm25 FROM c2 GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin
    },
    // same cross-multiplied integer index; DuckDB's dayofweek is
    // already 0=Sunday (Spark's minus 1)
    // seasonal pairs from the same self-join-by-7-days; per-day
    // sMAPE terms truncating, WAPE/MASE one HUGEINT division each
    "w_forecast_eval" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1),
        |p AS (SELECT a.day, a.y, b.y AS yhat FROM d a JOIN d b ON a.day = b.day + 7),
        |m AS (SELECT max(day) AS mx FROM d),
        |s AS (SELECT p.*, (m.mx - p.day < 14) AS ev,
        |        CASE WHEN y + yhat = 0 THEN CAST(0 AS BIGINT)
        |             ELSE CAST((CAST(2000000 AS HUGEINT) * abs(y - yhat))
        |                       // (y + yhat) AS BIGINT) END AS t6
        |      FROM p, m),
        |g AS (SELECT
        |    CAST(SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |    CAST(SUM(CASE WHEN NOT ev THEN abs(y - yhat) ELSE 0 END) AS BIGINT) AS tsae,
        |    CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
        |    CAST(SUM(CASE WHEN ev THEN abs(y - yhat) ELSE 0 END) AS BIGINT) AS sum_abs_err,
        |    CAST(SUM(CASE WHEN ev THEN abs(y) ELSE 0 END) AS BIGINT) AS sum_abs_y,
        |    CAST(SUM(CASE WHEN ev AND y - yhat > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
        |    CAST(SUM(CASE WHEN ev AND y - yhat < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_under,
        |    CAST(SUM(CASE WHEN ev THEN t6 ELSE 0 END) AS BIGINT) AS smsum
        |  FROM s)
        |SELECT n_train, n_eval, sum_abs_err, sum_abs_y, n_over, n_under,
        |  CASE WHEN sum_abs_y = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((CAST(1000000 AS HUGEINT) * sum_abs_err)
        |                 // sum_abs_y AS BIGINT) END AS wape6,
        |  CASE WHEN n_eval = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(smsum // n_eval AS BIGINT) END AS smape6,
        |  CASE WHEN n_eval = 0 OR tsae = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((CAST(1000000 AS HUGEINT) * sum_abs_err * n_train)
        |                 // (CAST(n_eval AS HUGEINT) * tsae) AS BIGINT) END AS mase6
        |FROM g""".stripMargin,
    "w_seasonal" ->
      """WITH d0 AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, n FROM d0 WHERE day IS NOT NULL AND n IS NOT NULL),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS nd FROM d),
        |g AS (SELECT dayofweek(day) AS dow, CAST(count(*) AS BIGINT) AS n_days,
        |        CAST(sum(n) AS BIGINT) AS sum_n FROM d GROUP BY 1)
        |SELECT CAST(dow AS BIGINT) AS dow, n_days, sum_n,
        |  CAST((1000000 * sum_n * nd) // (n_days * total) AS BIGINT) AS idx6
        |FROM g, t ORDER BY dow""".stripMargin,
    "dq_k_anon" ->
      """WITH b AS (SELECT c_mktsegment, c_nationkey,
        |  CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_bin FROM customer),
        |g AS (SELECT c_mktsegment, c_nationkey, bal_bin,
        |  CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2, 3)
        |SELECT c_mktsegment, c_nationkey, bal_bin, n FROM g WHERE n < 5
        |ORDER BY c_mktsegment, c_nationkey, bal_bin""".stripMargin,
    "dq_k_anon_stats" ->
      """WITH b AS (SELECT c_mktsegment, c_nationkey,
        |  CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_bin FROM customer),
        |g AS (SELECT c_mktsegment, c_nationkey, bal_bin,
        |  CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2, 3)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(1000000 * sum(CASE WHEN n < 5 THEN n ELSE 0 END) // sum(n) AS BIGINT) AS suppression_ppm
        |FROM g""".stripMargin,
    // same pair/closure chain over the widened fixture; per-field
    // rules mirrored with max-len / max-seq picks, min-id ties, and
    // value fetch by the picked id
    "er_survivorship" ->
      s"""WITH RECURSIVE
         |canon AS (SELECT c_custkey AS id, c_name AS name,
         |                 'P-' || CAST(c_custkey AS VARCHAR) AS phone,
         |                 c_acctbal AS bal, CAST(1 AS BIGINT) AS seq FROM customer),
         |typo AS (SELECT id + 1000000 AS id,
         |                substring(name, 1, 5) || substring(name, 7, 100) AS name,
         |                CASE WHEN id % 2 = 0 THEN phone || '9' ELSE NULL END AS phone,
         |                bal + 10.0 AS bal, CAST(2 AS BIGINT) AS seq
         |         FROM canon),
         |al AS (SELECT *, substring(name, length(name) - 3, 4) AS blk
         |       FROM (SELECT * FROM canon UNION ALL SELECT * FROM typo)),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b
         |          FROM al a JOIN al b ON a.blk = b.blk AND a.id < b.id
         |          WHERE levenshtein(a.name, b.name) <= 2),
         |${clusterCompSqlFrom("pairs")},
         |lab AS (SELECT al.id, al.name, al.phone, al.bal, al.seq,
         |               COALESCE(comp.cluster, al.id) AS cluster_id
         |        FROM al LEFT JOIN comp ON comp.id = al.id),
         |nl AS (SELECT cluster_id, max(length(name)) AS ml FROM lab
         |       WHERE name IS NOT NULL GROUP BY 1),
         |nid AS (SELECT l.cluster_id, min(l.id) AS pid FROM lab l
         |        JOIN nl ON l.cluster_id = nl.cluster_id AND length(l.name) = nl.ml
         |        GROUP BY 1),
         |nv AS (SELECT nid.cluster_id, l.name FROM nid JOIN lab l ON l.id = nid.pid),
         |ps AS (SELECT cluster_id, max(seq) AS ms FROM lab
         |       WHERE phone IS NOT NULL GROUP BY 1),
         |pidc AS (SELECT l.cluster_id, min(l.id) AS pid FROM lab l
         |         JOIN ps ON l.cluster_id = ps.cluster_id AND l.seq = ps.ms
         |         WHERE l.phone IS NOT NULL GROUP BY 1),
         |pv AS (SELECT pidc.cluster_id, l.phone FROM pidc JOIN lab l ON l.id = pidc.pid),
         |bv AS (SELECT cluster_id, max(bal) AS bal FROM lab GROUP BY 1),
         |nm AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM lab GROUP BY 1)
         |SELECT nm.cluster_id, nm.n_members, nv.name, pv.phone, bv.bal
         |FROM nm
         |JOIN nv ON nv.cluster_id = nm.cluster_id
         |LEFT JOIN pv ON pv.cluster_id = nm.cluster_id
         |JOIN bv ON bv.cluster_id = nm.cluster_id
         |ORDER BY nm.cluster_id""".stripMargin,
    // blocking metrics: candidate counts fold from block sizes, the
    // in-key typo class (%3) structurally escapes its block
    "er_blocking_quality" ->
      """WITH canon AS (SELECT c_custkey AS id, c_name AS name FROM customer),
        |typo AS (SELECT id + 1000000 AS id,
        |    CASE WHEN id % 3 = 0
        |         THEN substr(name, 1, length(name) - 2) || substr(name, length(name), 1)
        |         ELSE substr(name, 1, 5) || substr(name, 7) END AS name
        |  FROM canon),
        |al AS (SELECT id, name FROM canon UNION ALL SELECT id, name FROM typo),
        |blk AS (SELECT id, substr(name, length(name) - 3, 4) AS blk FROM al),
        |cand AS (SELECT CAST(sum(sz * (sz - 1)) // 2 AS BIGINT) AS n_cand_pairs
        |         FROM (SELECT blk, count(*) AS sz FROM blk GROUP BY 1)),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM al),
        |tr AS (SELECT CAST(count(*) AS BIGINT) AS n_truth,
        |         CAST(sum(CASE WHEN a.blk = b.blk THEN 1 ELSE 0 END) AS BIGINT) AS n_truth_blocked
        |       FROM (SELECT id, blk FROM blk WHERE id < 1000000) a
        |       JOIN (SELECT id - 1000000 AS id, blk FROM blk WHERE id >= 1000000) b USING (id))
        |SELECT n_records,
        |  CAST(n_records * (n_records - 1) // 2 AS BIGINT) AS n_total_pairs,
        |  n_cand_pairs,
        |  CAST(1000000 * (n_records * (n_records - 1) // 2 - n_cand_pairs)
        |       // (n_records * (n_records - 1) // 2) AS BIGINT) AS rr_ppm,
        |  n_truth, n_truth_blocked,
        |  CAST(1000000 * n_truth_blocked // n_truth AS BIGINT) AS completeness_ppm
        |FROM n, cand, tr""".stripMargin,
    // pairwise P/R/F1 vs the twin ground truth — |P| from cluster
    // sizes, TP from the twin join, F1 = 2TP/(|P|+|T|); // is floor
    // division, exact on the even product sz·(sz−1)
    "er_metrics" ->
      s"""WITH RECURSIVE $fuzzyPairsSql,
         |$clusterCompSql,
         |lab AS (SELECT al.id, COALESCE(comp.cluster, al.id) AS cluster_id
         |        FROM al LEFT JOIN comp ON comp.id = al.id),
         |cs AS (SELECT cluster_id, count(*) AS sz FROM lab GROUP BY 1),
         |p AS (SELECT CAST(sum(sz * (sz - 1)) // 2 AS BIGINT) AS n_pred_pairs FROM cs),
         |tpc AS (SELECT CAST(count(*) AS BIGINT) AS n_tp
         |        FROM lab a JOIN lab b
         |          ON b.id = a.id + 1000000 AND b.cluster_id = a.cluster_id),
         |tc AS (SELECT CAST(count(*) AS BIGINT) AS n_true_pairs FROM canon)
         |SELECT n_pred_pairs, n_true_pairs, n_tp,
         |  CASE WHEN n_pred_pairs = 0 THEN 0.0
         |       ELSE CAST(n_tp AS DOUBLE) / CAST(n_pred_pairs AS DOUBLE) END AS prec,
         |  CASE WHEN n_true_pairs = 0 THEN 0.0
         |       ELSE CAST(n_tp AS DOUBLE) / CAST(n_true_pairs AS DOUBLE) END AS rec,
         |  CASE WHEN n_pred_pairs + n_true_pairs = 0 THEN 0.0
         |       ELSE CAST(2 * n_tp AS DOUBLE)
         |            / CAST(n_pred_pairs + n_true_pairs AS DOUBLE) END AS f1
         |FROM p, tpc, tc""".stripMargin,
    "v_pq_topk" -> pqTopkOracle,
    // the IVFADC composition: the pq ADC chain over the corpus
    // restricted to the query's 2 nearest coarse cells (full-space
    // argmax assignment, ties to the larger cell; probe ties to the
    // SMALLER cell — the engine's stable sort over ascending index)
    "v_ivfpq_topk" -> ivfPqTopkOracleFor("e2.embedding"),
    "v_ivfpq_residual" -> ivfPqResidualOracle,
    "v_ivfpq_batch" -> ivfPqBatchOracle,
    "v_ivfpq_batch_residual" -> ivfPqBatchResidualOracle,
    // takedown + compaction leaves the hybrid over the corpus minus
    // the net-deleted ids (the %7-not-%14 set) — the probe and ADC
    // chains see only survivors
    "v_ivfpq_compacted" -> ivfPqTopkOracleFor(
      "e2.embedding",
      extraPred = "NOT (e.vec_id % 7 = 0 AND e.vec_id % 14 <> 0)"),
    // the as-of-0 composed read: cells, codes AND re-rank vectors are
    // the stale (reversed) %5 versions — the same chain over the
    // stale corpus view
    "v_ivfpq_asof" -> ivfPqTopkOracleFor(
      "CASE WHEN e2.vec_id % 5 = 0 THEN list_reverse(e2.embedding) ELSE e2.embedding END",
      "CASE WHEN e.vec_id % 5 = 0 THEN list_reverse(e.embedding) ELSE e.embedding END"),
    // 8 copies of the v_calinski chain, one per subspace: assignment
    // by subvector-cosine argmax (ties to the larger code — the
    // greatest-struct semantics), then the milli-quantized CH moments
    "v_pq_quality" -> {
      val chains = (0 until 8).map(pqGradeChain).mkString(",\n")
      val selects = (0 until 8).map(pqGradeSelect).mkString("\nUNION ALL ")
      s"WITH $chains\n$selects\nORDER BY subspace"
    },
    // coarse assign → in-SQL residual → residual-code argmax per
    // subspace → the same milli-quantized CH moment tail
    "v_pq_quality_residual" -> {
      val prefix =
        s"""cents AS (
           | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
           |        embedding AS ce
           | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
           |iscored AS (
           | SELECT e2.vec_id, c2.cell, ${sqlCosine("e2.embedding", "c2.ce")} AS sim
           | FROM embeddings e2 CROSS JOIN cents c2 WHERE e2.vec_id <> 0),
           |iassign AS (SELECT vec_id, cell FROM (
           |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
           |  FROM iscored) WHERE rn = 1),
           |res AS MATERIALIZED (
           | SELECT e.vec_id, a.cell,
           |        list_transform(generate_series(1, 64),
           |          i -> CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)) AS r
           | FROM embeddings e JOIN iassign a USING (vec_id) JOIN cents c ON c.cell = a.cell),
           |bk AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, r AS br
           | FROM res WHERE vec_id BETWEEN 5 AND 8)""".stripMargin
      val chains = (0 until 8).map(pqResidualGradeChain).mkString(",\n")
      val selects = (0 until 8).map(pqGradeSelect).mkString("\nUNION ALL ")
      s"WITH $prefix,\n$chains\n$selects\nORDER BY subspace"
    },
    // the grade chains + SQL argmin: the worst-graded subspace is the
    // whole worklist (one REBUILD per maintenance cycle — the
    // frozen-codebook rule)
    "v_pq_refit" -> {
      val chains = (0 until 8).map(pqGradeChain).mkString(",\n")
      val selects = (0 until 8).map(pqGradeSelect).mkString("\nUNION ALL ")
      s"""WITH $chains,
         |g AS ($selects)
         |SELECT subspace, n, k, dim, ch6 FROM g
         |ORDER BY ch6 ASC, subspace ASC LIMIT 1""".stripMargin
    },
    // the whole PQ lifecycle loop replayed in SQL: 8 before-grades →
    // argmin winner → per-subspace refit chains (milli-mean
    // re-centering, re-assignment, CH re-grade) → the winner's
    // after-grade spliced into its row, every other row unchanged
    "v_pq_refit_apply" -> {
      val before = (0 until 8).map(pqGradeChain).mkString(",\n")
      val after = (0 until 8).map(pqAfterChain).mkString(",\n")
      val gsel = (0 until 8).map(pqGradeSelect).mkString("\nUNION ALL ")
      val asel = (0 until 8).map(pqAfterSelect).mkString("\nUNION ALL ")
      s"""WITH $before,
         |$after,
         |g AS ($gsel),
         |win AS (SELECT subspace AS ws FROM g ORDER BY ch6 ASC, subspace ASC LIMIT 1),
         |aft AS ($asel)
         |SELECT g.subspace, g.n, g.k, g.dim, g.ch6 AS ch6_before,
         |  CASE WHEN g.subspace = w.ws THEN aft.ch6 ELSE g.ch6 END AS ch6_after,
         |  g.subspace = w.ws AS refit
         |FROM g CROSS JOIN win w LEFT JOIN aft ON aft.subspace = g.subspace
         |ORDER BY g.subspace""".stripMargin
    },
    // the persisted index must reproduce the in-line encode+rank
    // exactly — one oracle, two paths
    "v_pq_persisted" -> pqTopkOracle,
    // last-wins upserts must converge the index to the plain table —
    // same oracle again (the v_ivf_upsert rule for the PQ layout)
    "v_pq_upsert" -> pqTopkOracle,
    // the as-of-0 read serves the pre-upsert index: stale (reversed)
    // vectors for the %5 ids in both the codes and the re-rank
    "v_pq_asof" -> pqTopkOracleFor(
      "e.vec_id <> 0",
      "CASE WHEN e.vec_id % 5 = 0 THEN list_reverse(e.embedding) ELSE e.embedding END"),
    "v_pq_delete" ->
      pqTopkOracleFor("e.vec_id <> 0 AND NOT (e.vec_id % 7 = 0 AND e.vec_id % 14 <> 0)"),
    "v_pq_compacted" ->
      pqTopkOracleFor("e.vec_id <> 0 AND NOT (e.vec_id % 7 = 0 AND e.vec_id % 14 <> 0)"),
    // same integer margin pipeline in SQL: micro-unit cosines, ranked
    // integer sums, cross-multiplied threshold, one BIGINT division
    "v_margin_pairs" -> {
      s"""WITH av AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings WHERE vec_id % 2 = 0),
         |bv AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings WHERE vec_id % 2 = 1),
         |s AS (SELECT id_a, id_b,
         |        CAST(round(${sqlCosine("va", "vb")} * 1e6, 0) AS BIGINT) AS q
         |      FROM av, bv),
         |ra AS (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY q DESC, id_b) AS rn FROM s),
         |sa AS (SELECT id_a, CAST(sum(q) AS BIGINT) AS sum_a, CAST(count(*) AS BIGINT) AS k_a
         |       FROM ra WHERE rn <= 4 GROUP BY 1),
         |rb AS (SELECT *, row_number() OVER (PARTITION BY id_b ORDER BY q DESC, id_a) AS rn FROM s),
         |sb AS (SELECT id_b, CAST(sum(q) AS BIGINT) AS sum_b, CAST(count(*) AS BIGINT) AS k_b
         |       FROM rb WHERE rn <= 4 GROUP BY 1),
         |best AS (SELECT id_a, id_b, q FROM ra WHERE rn = 1)
         |SELECT best.id_a, best.id_b, q AS cos6,
         |       CAST(2 * q * k_a * k_b AS DOUBLE)
         |         / CAST(sum_a * k_b + sum_b * k_a AS DOUBLE) AS margin
         |FROM best JOIN sa USING (id_a) JOIN sb USING (id_b)
         |WHERE sum_a * k_b + sum_b * k_a > 0
         |  AND 2 * q * k_a * k_b * 20 >= 21 * (sum_a * k_b + sum_b * k_a)
         |ORDER BY id_a""".stripMargin
    },
    // the ivf assignment chain (the ivfTopkOracle idiom) feeding the
    // v_calinski chain with c = cell
    "v_ivf_quality" ->
      s"""WITH cents AS (
         | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |        embedding AS ce
         | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
         |scored AS (
         | SELECT b.vec_id, b.embedding, c.cell,
         |        ${sqlCosine("b.embedding", "c.ce")} AS sim
         | FROM embeddings b CROSS JOIN cents c WHERE b.vec_id <> 0),
         |assign AS (
         | SELECT vec_id, embedding, cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
         |  FROM scored) WHERE rn = 1),
         |x AS (SELECT cell AS c, unnest(range(1, len(embedding) + 1)) AS j,
         |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS q
         |      FROM assign),
         |cells AS (SELECT c, j, CAST(SUM(q) AS HUGEINT) AS scj,
         |    SUM(CAST(q AS HUGEINT) * q) AS qcj, CAST(COUNT(*) AS BIGINT) AS ncj
         |  FROM x GROUP BY 1, 2),
         |pj AS (SELECT j, SUM(scj) AS sj, CAST(SUM(ncj) AS BIGINT) AS nj,
         |    SUM(qcj) AS qj, SUM((scj * scj) // ncj) AS aj,
         |    CAST(COUNT(DISTINCT c) AS BIGINT) AS kj
         |  FROM cells GROUP BY 1),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS dim, MAX(nj) AS n, MAX(kj) AS k,
         |    SUM(qj) AS q, SUM(aj) AS a,
         |    SUM((sj * sj) // CAST(nj AS HUGEINT)) AS b
         |  FROM pj)
         |SELECT n, k, dim,
         |  greatest(CAST(0 AS BIGINT), CAST((a - b) // n AS BIGINT)) AS ssb6,
         |  greatest(CAST(0 AS BIGINT), CAST((q - a) // n AS BIGINT)) AS ssw6,
         |  CASE WHEN q - a <= 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST((CAST(1000000 AS HUGEINT)
         |               * greatest(CAST(0 AS HUGEINT), a - b) * (n - k))
         |              // ((q - a) * (k - 1)) AS BIGINT) END AS ch6
         |FROM t""".stripMargin,
    // same assign chain + moment cells as v_ivf_quality; per-cell
    // within SS with the per-term truncating division, ratio of the
    // two already-rounded per-vector means, ≥ 900000 ppm emits
    "v_ivf_refit" ->
      s"""WITH cents AS (
         | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |        embedding AS ce
         | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
         |scored AS (
         | SELECT b.vec_id, b.embedding, c.cell,
         |        ${sqlCosine("b.embedding", "c.ce")} AS sim
         | FROM embeddings b CROSS JOIN cents c WHERE b.vec_id <> 0),
         |assign AS (
         | SELECT vec_id, embedding, cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
         |  FROM scored) WHERE rn = 1),
         |x AS (SELECT cell AS c, unnest(range(1, len(embedding) + 1)) AS j,
         |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS q
         |      FROM assign),
         |cells AS (SELECT c, j, CAST(SUM(q) AS HUGEINT) AS scj,
         |    SUM(CAST(q AS HUGEINT) * q) AS qcj, CAST(COUNT(*) AS BIGINT) AS ncj
         |  FROM x GROUP BY 1, 2),
         |pc AS (SELECT c, MAX(ncj) AS n, SUM(qcj - (scj * scj) // ncj) AS w
         |  FROM cells GROUP BY 1),
         |pj AS (SELECT j, SUM(scj) AS sj, CAST(SUM(ncj) AS BIGINT) AS nj,
         |    SUM(qcj) AS qj
         |  FROM cells GROUP BY 1),
         |t AS (SELECT MAX(nj) AS n, SUM(qj - (sj * sj) // CAST(nj AS HUGEINT)) AS tt
         |  FROM pj),
         |r AS (SELECT pc.c AS cell, pc.n,
         |    CAST(pc.w // pc.n AS BIGINT) AS within6,
         |    CAST(t.tt // t.n AS BIGINT) AS total6
         |  FROM pc CROSS JOIN t),
         |rr AS (SELECT cell, n, within6, total6,
         |    CASE WHEN total6 <= 0 THEN CAST(0 AS BIGINT)
         |      ELSE CAST((CAST(1000000 AS HUGEINT) * within6) // total6 AS BIGINT)
         |    END AS ratio_ppm
         |  FROM r)
         |SELECT cell, n, within6, total6, ratio_ppm FROM rr
         |WHERE ratio_ppm >= 900000 AND total6 > 0
         |ORDER BY ratio_ppm DESC, cell""".stripMargin,
    // the whole lifecycle loop replayed in SQL: assign → worklist
    // (the v_ivf_refit chain) → flagged cells re-centered on exact
    // milli-means (// then /1000.0, one IEEE double division —
    // engine-identical) → re-assign → CH re-grade
    "v_ivf_refit_apply" ->
      s"""WITH cents AS (
         | SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |        embedding AS ce
         | FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
         |scored AS (
         | SELECT b.vec_id, b.embedding, c.cell,
         |        ${sqlCosine("b.embedding", "c.ce")} AS sim
         | FROM embeddings b CROSS JOIN cents c WHERE b.vec_id <> 0),
         |assign AS (
         | SELECT vec_id, embedding, cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
         |  FROM scored) WHERE rn = 1),
         |x AS (SELECT cell AS c, unnest(range(1, len(embedding) + 1)) AS j,
         |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS q
         |      FROM assign),
         |cells AS (SELECT c, j, CAST(SUM(q) AS HUGEINT) AS scj,
         |    SUM(CAST(q AS HUGEINT) * q) AS qcj, CAST(COUNT(*) AS BIGINT) AS ncj
         |  FROM x GROUP BY 1, 2),
         |pc AS (SELECT c, MAX(ncj) AS n, SUM(qcj - (scj * scj) // ncj) AS w
         |  FROM cells GROUP BY 1),
         |pj0 AS (SELECT j, CAST(SUM(ncj) AS BIGINT) AS nj, SUM(qcj) AS qj,
         |    SUM(scj) AS sj
         |  FROM cells GROUP BY 1),
         |t0 AS (SELECT MAX(nj) AS n, SUM(qj - (sj * sj) // CAST(nj AS HUGEINT)) AS tt
         |  FROM pj0),
         |wl AS (SELECT pc.c AS cell FROM pc CROSS JOIN t0
         |  WHERE t0.tt // t0.n > 0
         |    AND (CAST(1000000 AS HUGEINT) * CAST(pc.w // pc.n AS BIGINT))
         |        // CAST(t0.tt // t0.n AS BIGINT) >= 900000),
         |newc AS (SELECT c AS cell,
         |    list(CAST(m AS DOUBLE) / 1000.0 ORDER BY j) AS ce
         |  FROM (SELECT c, j, CAST(SUM(CAST(q AS HUGEINT)) // COUNT(*) AS BIGINT) AS m
         |        FROM x WHERE c IN (SELECT cell FROM wl) GROUP BY c, j)
         |  GROUP BY c),
         |cents2 AS (SELECT c.cell,
         |    COALESCE(n.ce, list_transform(c.ce, v -> CAST(v AS DOUBLE))) AS ce
         |  FROM cents c LEFT JOIN newc n ON n.cell = c.cell),
         |scored2 AS (
         | SELECT b.vec_id, b.embedding, c.cell,
         |        ${sqlCosine("b.embedding", "c.ce")} AS sim
         | FROM embeddings b CROSS JOIN cents2 c WHERE b.vec_id <> 0),
         |assign2 AS (
         | SELECT vec_id, embedding, cell FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
         |  FROM scored2) WHERE rn = 1),
         |x2 AS (SELECT cell AS c, unnest(range(1, len(embedding) + 1)) AS j,
         |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS q
         |      FROM assign2),
         |cells2 AS (SELECT c, j, CAST(SUM(q) AS HUGEINT) AS scj,
         |    SUM(CAST(q AS HUGEINT) * q) AS qcj, CAST(COUNT(*) AS BIGINT) AS ncj
         |  FROM x2 GROUP BY 1, 2),
         |pj AS (SELECT j, SUM(scj) AS sj, CAST(SUM(ncj) AS BIGINT) AS nj,
         |    SUM(qcj) AS qj, SUM((scj * scj) // ncj) AS aj,
         |    CAST(COUNT(DISTINCT c) AS BIGINT) AS kj
         |  FROM cells2 GROUP BY 1),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS dim, MAX(nj) AS n, MAX(kj) AS k,
         |    SUM(qj) AS q, SUM(aj) AS a,
         |    SUM((sj * sj) // CAST(nj AS HUGEINT)) AS b
         |  FROM pj)
         |SELECT n, k, dim,
         |  greatest(CAST(0 AS BIGINT), CAST((a - b) // n AS BIGINT)) AS ssb6,
         |  greatest(CAST(0 AS BIGINT), CAST((q - a) // n AS BIGINT)) AS ssw6,
         |  CASE WHEN q - a <= 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST((CAST(1000000 AS HUGEINT)
         |               * greatest(CAST(0 AS HUGEINT), a - b) * (n - k))
         |              // ((q - a) * (k - 1)) AS BIGINT) END AS ch6
         |FROM t""".stripMargin,
    // same zipped-unnest cells; milli quantization (the extensive
    // per-cell quotient bound), Konig-Huygens twice
    "v_calinski" ->
      """WITH e AS (SELECT label AS c, embedding FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |x AS (SELECT c, unnest(range(1, len(embedding) + 1)) AS j,
        |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS q
        |      FROM e),
        |cells AS (SELECT c, j, CAST(SUM(q) AS HUGEINT) AS scj,
        |    SUM(CAST(q AS HUGEINT) * q) AS qcj, CAST(COUNT(*) AS BIGINT) AS ncj
        |  FROM x GROUP BY 1, 2),
        |pj AS (SELECT j, SUM(scj) AS sj, CAST(SUM(ncj) AS BIGINT) AS nj,
        |    SUM(qcj) AS qj, SUM((scj * scj) // ncj) AS aj,
        |    CAST(COUNT(DISTINCT c) AS BIGINT) AS kj
        |  FROM cells GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS dim, MAX(nj) AS n, MAX(kj) AS k,
        |    SUM(qj) AS q, SUM(aj) AS a,
        |    SUM((sj * sj) // CAST(nj AS HUGEINT)) AS b
        |  FROM pj)
        |SELECT n, k, dim,
        |  greatest(CAST(0 AS BIGINT), CAST((a - b) // n AS BIGINT)) AS ssb6,
        |  greatest(CAST(0 AS BIGINT), CAST((q - a) // n AS BIGINT)) AS ssw6,
        |  CASE WHEN q - a <= 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000 AS HUGEINT)
        |               * greatest(CAST(0 AS HUGEINT), a - b) * (n - k))
        |              // ((q - a) * (k - 1)) AS BIGINT) END AS ch6
        |FROM t""".stripMargin,
    // zipped unnests give the same coordinate grouping; per-j
    // centroid terms truncating, one HUGEINT fold
    "v_dispersion" ->
      """WITH e AS (SELECT embedding FROM embeddings WHERE embedding IS NOT NULL),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
        |x AS (SELECT unnest(range(1, len(embedding) + 1)) AS j,
        |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS q
        |      FROM e),
        |pj AS (SELECT j, CAST(SUM(q) AS HUGEINT) AS sj,
        |         SUM(CAST(q AS HUGEINT) * q) AS qj
        |       FROM x GROUP BY 1),
        |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS dim, SUM(qj) AS qq,
        |        CAST(SUM((sj * sj) // (CAST(n AS HUGEINT) * n)) AS BIGINT) AS cent
        |      FROM pj, nn),
        |f AS (SELECT nn.n, c.dim, CAST(c.qq // nn.n AS BIGINT) AS mean_sq12,
        |        c.cent AS centroid_sq12,
        |        greatest(CAST(0 AS BIGINT),
        |          CAST(c.qq // nn.n AS BIGINT) - c.cent) AS dispersion12
        |      FROM c, nn)
        |SELECT n, dim, mean_sq12, centroid_sq12, dispersion12,
        |  CASE WHEN n < 2 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((CAST(2 AS HUGEINT) * n * dispersion12)
        |                 // (n - 1) AS BIGINT) END AS pairwise12
        |FROM f""".stripMargin,
    "v_embed_drift" -> {
      s"""WITH dims AS (
         | SELECT label AS grp, gs.i - 1 AS dim,
         |        CAST(round(CAST(embedding[CAST(gs.i AS INT)] AS DOUBLE) * 1e9, 0) AS BIGINT) AS q
         | FROM embeddings,
         |      LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) gs
         | WHERE embedding IS NOT NULL),
         |sums AS (SELECT grp, dim, CAST(sum(q) AS BIGINT) AS sq,
         |                CAST(count(*) AS BIGINT) AS c
         |         FROM dims GROUP BY grp, dim),
         |gv AS (SELECT grp, list(CAST(sq AS DOUBLE) ORDER BY dim) AS v,
         |              max(c) AS n_vecs FROM sums GROUP BY grp),
         |cv AS (SELECT list(CAST(tq AS DOUBLE) ORDER BY dim) AS v
         |       FROM (SELECT dim, sum(sq) AS tq FROM sums GROUP BY dim))
         |SELECT gv.grp AS "group", gv.n_vecs,
         |       round(${sqlCosine("gv.v", "cv.v")}, 6) AS drift_cos
         |FROM gv, cv ORDER BY gv.grp""".stripMargin
    },
    "v_normalize" -> {
      val normExpr =
        "sqrt(list_reduce(list_transform(generate_series(1, len(embedding)), " +
          "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x,y) -> x+y))"
      s"""SELECT vec_id, $normExpr AS norm,
         | CASE WHEN $normExpr = 0.0 THEN CAST(embedding[1] AS DOUBLE)
         |      ELSE CAST(embedding[1] AS DOUBLE) / $normExpr END AS u0,
         | CASE WHEN $normExpr = 0.0 THEN CAST(embedding[2] AS DOUBLE)
         |      ELSE CAST(embedding[2] AS DOUBLE) / $normExpr END AS u1
         |FROM embeddings ORDER BY vec_id""".stripMargin
    },
    "dd_cluster_resolve" ->
      s"""WITH RECURSIVE $jaccardPairsSql,
         |$clusterCompSql
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
         |WHERE comp.id IS NULL OR comp.cluster = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dd_cross_source_dups" ->
      s"""WITH $jaccardPairsSql
         |SELECT least(da.source, db.source) AS source_x,
         |       greatest(da.source, db.source) AS source_y,
         |       CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs JOIN documents da ON da.doc_id = id_a
         |           JOIN documents db ON db.doc_id = id_b
         |GROUP BY 1, 2 ORDER BY source_x, source_y""".stripMargin,
    "dd_jaccard_against" ->
      s"""WITH $jaccardPairsSql
         |SELECT id_a, id_b FROM pairs
         |WHERE id_a >= 250 OR id_b >= 250
         |ORDER BY id_a, id_b""".stripMargin,
    // takedown: pairs touching a deleted doc drop, the closure re-runs
    // over the live set, and the histogram covers survivors only
    "dd_graph_delete" -> dupGraphSurvivorHistogramSql,
    // same live set — the append-twice + takedown history compacts to
    // exactly the pairs dd_graph_delete's tombstones hide, and the
    // shared oracle is the proof
    "dd_graph_compacted" -> dupGraphSurvivorHistogramSql,
    "dd_cluster_sizes" ->
      s"""WITH RECURSIVE $jaccardPairsSql,
         |$clusterCompSql,
         |lab AS (SELECT d.doc_id, COALESCE(comp.cluster, d.doc_id) AS cluster
         |        FROM documents d LEFT JOIN comp ON comp.id = d.doc_id),
         |cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz FROM lab GROUP BY 1)
         |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters FROM cs
         |GROUP BY sz ORDER BY sz""".stripMargin,
    // modularity of the closure partition over the near-dup pair
    // graph — mirrors Graph.modularity stage for stage (intra count,
    // degree sums, 1-row m, HUGEINT-staged term6), with comp(id,
    // cluster) as the community assignment; the engine reads both
    // from the persisted artifact, the oracle re-derives them
    "g_modularity_persisted" ->
      s"""WITH RECURSIVE $jaccardPairsSql,
         |$clusterCompSql,
         |intra AS (SELECT ca.cluster AS community, CAST(count(*) AS BIGINT) AS intra_edges
         |          FROM pairs JOIN comp ca ON ca.id = pairs.id_a
         |               JOIN comp cb ON cb.id = pairs.id_b
         |          WHERE ca.cluster = cb.cluster GROUP BY 1),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |          SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)
         |        GROUP BY 1),
         |dc AS (SELECT comp.cluster AS community, CAST(count(*) AS BIGINT) AS n_nodes,
         |         CAST(sum(deg.deg) AS BIGINT) AS degree_sum
         |       FROM deg JOIN comp ON comp.id = deg.id GROUP BY 1),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs)
         |SELECT dc.community, dc.n_nodes,
         |  COALESCE(intra.intra_edges, CAST(0 AS BIGINT)) AS intra_edges,
         |  dc.degree_sum,
         |  CAST((CAST(1000000 AS HUGEINT)
         |        * COALESCE(intra.intra_edges, CAST(0 AS BIGINT))) // mm.m
         |    - (CAST(1000000 AS HUGEINT) * dc.degree_sum * dc.degree_sum)
         |      // (CAST(4 AS HUGEINT) * mm.m * mm.m) AS BIGINT) AS term6
         |FROM dc LEFT JOIN intra ON intra.community = dc.community CROSS JOIN mm
         |ORDER BY dc.community""".stripMargin,
    "dd_embed_neardup" -> {
      s"""SELECT id_a, id_b, score FROM (
         | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |        ${sqlCosine("a.embedding", "b.embedding")} AS score
         | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |WHERE score >= 0.45 ORDER BY id_a, id_b""".stripMargin
    },
    // 3 BFS rounds unrolled (MATERIALIZED — the k-core inlining
    // lesson): frontier = neighbors of the previous frontier minus
    // everything already reached
    "g_taint" ->
      s"""WITH $jaccardPairsSql,
         |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
         |                   UNION SELECT id_b, id_a FROM pairs),
         |d0 AS MATERIALIZED (SELECT doc_id AS id FROM documents WHERE doc_id % 50 = 0),
         |f1 AS MATERIALIZED (SELECT DISTINCT e.dst AS id FROM e JOIN d0 ON e.src = d0.id
         |       WHERE e.dst NOT IN (SELECT id FROM d0)),
         |f2 AS MATERIALIZED (SELECT DISTINCT e.dst AS id FROM e JOIN f1 ON e.src = f1.id
         |       WHERE e.dst NOT IN (SELECT id FROM d0 UNION ALL SELECT id FROM f1)),
         |f3 AS MATERIALIZED (SELECT DISTINCT e.dst AS id FROM e JOIN f2 ON e.src = f2.id
         |       WHERE e.dst NOT IN (SELECT id FROM d0 UNION ALL SELECT id FROM f1
         |                           UNION ALL SELECT id FROM f2))
         |SELECT id AS doc_id, CAST(dist AS BIGINT) AS dist FROM (
         |  SELECT id, 0 AS dist FROM d0
         |  UNION ALL SELECT id, 1 FROM f1
         |  UNION ALL SELECT id, 2 FROM f2
         |  UNION ALL SELECT id, 3 FROM f3)
         |ORDER BY doc_id""".stripMargin,
    // the same 6 peeling rounds unrolled as CTEs
    // HITS unrolled: per round the a-side sum/normalize then the
    // h-side, all BIGINT with // (truncating division on
    // non-negatives == the engine's div), the same 1e6 unit
    "g_hits" -> {
      val rounds = (1 to 5).map { r =>
        val ph = if (r == 1) "h0" else s"h${r - 1}"
        s"""a${r}r AS MATERIALIZED (SELECT dst AS id, CAST(sum(h) AS BIGINT) AS ar
           |  FROM e JOIN $ph ON e.src = $ph.id GROUP BY 1),
           |sa$r AS (SELECT CAST(sum(ar) AS BIGINT) AS s FROM a${r}r),
           |a$r AS MATERIALIZED (SELECT id, CAST(ar * 1000000 // s AS BIGINT) AS a FROM a${r}r, sa$r),
           |h${r}r AS MATERIALIZED (SELECT src AS id, CAST(sum(a) AS BIGINT) AS hr
           |  FROM e JOIN a$r ON e.dst = a$r.id GROUP BY 1),
           |sh$r AS (SELECT CAST(sum(hr) AS BIGINT) AS s FROM h${r}r),
           |h$r AS MATERIALIZED (SELECT id, CAST(hr * 1000000 // s AS BIGINT) AS h FROM h${r}r, sh$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS src, -l_suppkey - 1 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |h0 AS (SELECT DISTINCT src AS id, CAST(1000000 AS BIGINT) AS h FROM e),
         |$rounds
         |SELECT CAST(-id - 1 AS BIGINT) AS suppkey, a AS auth6 FROM a5
         |ORDER BY auth6 DESC, suppkey LIMIT 15""".stripMargin
    },
    "g_kcore" -> {
      val rounds = (1 to 6).map { r =>
        val prev = if (r == 1) "e0" else s"e${r - 1}"
        s"""d$r AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
           |  SELECT u AS id FROM $prev UNION ALL SELECT v FROM $prev) GROUP BY id),
           |k$r AS MATERIALIZED (SELECT id FROM d$r WHERE deg >= 3),
           |e$r AS MATERIALIZED (SELECT u, v FROM $prev
           |        WHERE u IN (SELECT id FROM k$r) AND v IN (SELECT id FROM k$r))""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |ew AS (SELECT a.p AS u, b.p AS v, count(*) AS w
         |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
         |e0 AS MATERIALIZED (SELECT u, v FROM ew WHERE w >= 2),
         |$rounds
         |SELECT id AS part_id, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT u AS id FROM e6 UNION ALL SELECT v FROM e6) GROUP BY id
         |ORDER BY part_id""".stripMargin
    },
    // weight-proportional mass split, same truncating integer chain
    "g_pagerank_weighted" -> {
      def iter(prev: String, cur: String): String =
        s"""$cur AS (SELECT e.dst AS id,
           |      b.base + SUM((((r.r * 85) // 100) * e.w) // d.wdeg) AS r
           |      FROM edges e JOIN $prev r ON r.id = e.src
           |           JOIN wdeg d ON d.id = e.src CROSS JOIN b
           |      GROUP BY e.dst, b.base)""".stripMargin
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |ew AS (SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS w
         |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
         |e0 AS (SELECT u, v, w FROM ew WHERE w >= 2),
         |edges AS (SELECT u AS src, v AS dst, w FROM e0
         |          UNION ALL SELECT v, u, w FROM e0),
         |wdeg AS (SELECT src AS id, CAST(sum(w) AS BIGINT) AS wdeg FROM edges GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM wdeg),
         |b AS (SELECT (((100 - 85) * 1000000000000) // 100) // n AS base FROM nn),
         |r0 AS (SELECT id, 1000000000000 // n AS r FROM wdeg CROSS JOIN nn),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")},
         |${iter("r3", "r4")},
         |${iter("r4", "r5")}
         |SELECT id AS part_id, CAST(r AS BIGINT) AS rank_units,
         |       CAST(r AS DOUBLE) / 1000000000000.0 AS rank
         |FROM r5 ORDER BY part_id""".stripMargin
    },
    // the same 4 LPA rounds unrolled as MATERIALIZED CTEs; argmax via
    // row_number (count desc, label asc) — a different mechanism from
    // the engine's min-struct hash-agg, same total order
    "g_labelprop" -> {
      val rounds = (1 to 4).map { r =>
        val prev = if (r == 1) "l0" else s"l${r - 1}"
        s"""c$r AS MATERIALIZED (SELECT e.dst AS id, l.lbl, count(*) AS c
           |  FROM e JOIN $prev l ON e.src = l.id GROUP BY 1, 2),
           |l$r AS MATERIALIZED (SELECT id, lbl FROM (
           |  SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
           |  FROM c$r) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |ew AS (SELECT a.p AS u, b.p AS v, count(*) AS w
         |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
         |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM ew WHERE w >= 2
         |     UNION ALL SELECT v, u FROM ew WHERE w >= 2),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM e),
         |$rounds
         |SELECT id AS part_id, lbl AS community FROM l4 ORDER BY part_id""".stripMargin
    },
    // same labelprop chain, then the modularity readout over the
    // undirected (a < b) edge set: truncating micro shares, HUGEINT
    // for d_c^2 and 4m^2, subtraction after
    "g_modularity" -> {
      val rounds = (1 to 4).map { r =>
        val prev = if (r == 1) "l0" else s"l${r - 1}"
        s"""c$r AS MATERIALIZED (SELECT e.dst AS id, l.lbl, count(*) AS c
           |  FROM e JOIN $prev l ON e.src = l.id GROUP BY 1, 2),
           |l$r AS MATERIALIZED (SELECT id, lbl FROM (
           |  SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
           |  FROM c$r) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |ew AS (SELECT a.p AS u, b.p AS v, count(*) AS w
         |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
         |ed AS (SELECT u AS id_a, v AS id_b FROM ew WHERE w >= 2),
         |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ed
         |     UNION ALL SELECT id_b, id_a FROM ed),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM e),
         |$rounds,
         |lab AS (SELECT id, lbl AS community FROM l4),
         |intra AS (SELECT la.community, CAST(count(*) AS BIGINT) AS intra_edges
         |          FROM ed JOIN lab la ON la.id = ed.id_a
         |               JOIN lab lb ON lb.id = ed.id_b
         |          WHERE la.community = lb.community GROUP BY 1),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |          SELECT id_a AS id FROM ed UNION ALL SELECT id_b FROM ed)
         |        GROUP BY 1),
         |dc AS (SELECT lab.community, CAST(count(*) AS BIGINT) AS n_nodes,
         |         CAST(sum(deg.deg) AS BIGINT) AS degree_sum
         |       FROM deg JOIN lab ON lab.id = deg.id GROUP BY 1),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed)
         |SELECT dc.community, dc.n_nodes,
         |  COALESCE(intra.intra_edges, CAST(0 AS BIGINT)) AS intra_edges,
         |  dc.degree_sum,
         |  CAST((CAST(1000000 AS HUGEINT)
         |        * COALESCE(intra.intra_edges, CAST(0 AS BIGINT))) // mm.m
         |    - (CAST(1000000 AS HUGEINT) * dc.degree_sum * dc.degree_sum)
         |      // (CAST(4 AS HUGEINT) * mm.m * mm.m) AS BIGINT) AS term6
         |FROM dc LEFT JOIN intra ON intra.community = dc.community CROSS JOIN mm
         |ORDER BY dc.community""".stripMargin
    },
    // the g_modularity chain + the full move replay: every
    // (node, neighbor-community) integer gain, the argmax (gain DESC,
    // id, target), the CASE relabel, and the re-grade over the moved
    // partition — HUGEINT mirrors the engine's DECIMAL(38,0) staging
    "g_louvain_move" -> {
      val rounds = (1 to 4).map { r =>
        val prev = if (r == 1) "l0" else s"l${r - 1}"
        s"""c$r AS MATERIALIZED (SELECT e.dst AS id, l.lbl, count(*) AS c
           |  FROM e JOIN $prev l ON e.src = l.id GROUP BY 1, 2),
           |l$r AS MATERIALIZED (SELECT id, lbl FROM (
           |  SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
           |  FROM c$r) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |ew AS (SELECT a.p AS u, b.p AS v, count(*) AS w
         |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
         |ed AS (SELECT u AS id_a, v AS id_b FROM ew WHERE w >= 2),
         |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ed
         |     UNION ALL SELECT id_b, id_a FROM ed),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM e),
         |$rounds,
         |lab AS (SELECT id, lbl AS community FROM l4),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |          SELECT id_a AS id FROM ed UNION ALL SELECT id_b FROM ed)
         |        GROUP BY 1),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
         |tot AS (SELECT lab.community, CAST(sum(deg.deg) AS BIGINT) AS s
         |        FROM deg JOIN lab ON lab.id = deg.id GROUP BY 1),
         |kin AS (SELECT e.src AS id, l.community AS cn, CAST(count(*) AS BIGINT) AS kin
         |        FROM e JOIN lab l ON l.id = e.dst GROUP BY 1, 2),
         |node AS (SELECT lab.id, lab.community, deg.deg AS k,
         |          COALESCE(ka.kin, CAST(0 AS BIGINT)) AS kin_a, ta.s AS s_a
         |         FROM lab JOIN deg ON deg.id = lab.id
         |         LEFT JOIN kin ka ON ka.id = lab.id AND ka.cn = lab.community
         |         JOIN tot ta ON ta.community = lab.community),
         |cand AS (SELECT n.id, kin.cn,
         |          CAST(2 AS HUGEINT) * mm.m * (kin.kin - n.kin_a)
         |            - CAST(n.k AS HUGEINT) * (tc.s + n.k - n.s_a) AS gain
         |         FROM node n
         |         JOIN kin ON kin.id = n.id AND kin.cn <> n.community
         |         JOIN tot tc ON tc.community = kin.cn CROSS JOIN mm),
         |best AS (SELECT id, cn FROM cand WHERE gain > 0
         |         ORDER BY gain DESC, id, cn LIMIT 1),
         |lab2 AS (SELECT l.id,
         |          CASE WHEN b.id IS NOT NULL AND l.id = b.id THEN b.cn
         |               ELSE l.community END AS community
         |         FROM lab l LEFT JOIN best b ON TRUE),
         |intra2 AS (SELECT la.community, CAST(count(*) AS BIGINT) AS intra_edges
         |          FROM ed JOIN lab2 la ON la.id = ed.id_a
         |               JOIN lab2 lb ON lb.id = ed.id_b
         |          WHERE la.community = lb.community GROUP BY 1),
         |dc2 AS (SELECT lab2.community, CAST(count(*) AS BIGINT) AS n_nodes,
         |         CAST(sum(deg.deg) AS BIGINT) AS degree_sum
         |       FROM deg JOIN lab2 ON lab2.id = deg.id GROUP BY 1)
         |SELECT dc2.community, dc2.n_nodes,
         |  COALESCE(intra2.intra_edges, CAST(0 AS BIGINT)) AS intra_edges,
         |  dc2.degree_sum,
         |  CAST((CAST(1000000 AS HUGEINT)
         |        * COALESCE(intra2.intra_edges, CAST(0 AS BIGINT))) // mm.m
         |    - (CAST(1000000 AS HUGEINT) * dc2.degree_sum * dc2.degree_sum)
         |      // (CAST(4 AS HUGEINT) * mm.m * mm.m) AS BIGINT) AS term6
         |FROM dc2 LEFT JOIN intra2 ON intra2.community = dc2.community CROSS JOIN mm
         |ORDER BY dc2.community""".stripMargin
    },
    // three louvainMoveSql rounds chained off the labelprop labels,
    // then the re-grade over mlab3 — every argmax replayed
    "g_louvain_moves" -> {
      val rounds = (1 to 4).map { r =>
        val prev = if (r == 1) "l0" else s"l${r - 1}"
        s"""c$r AS MATERIALIZED (SELECT e.dst AS id, l.lbl, count(*) AS c
           |  FROM e JOIN $prev l ON e.src = l.id GROUP BY 1, 2),
           |l$r AS MATERIALIZED (SELECT id, lbl FROM (
           |  SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
           |  FROM c$r) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val moves = (1 to 3).map { i =>
        louvainMoveSql(if (i == 1) "lab" else s"mlab${i - 1}", i)
      }.mkString(",\n")
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |ew AS (SELECT a.p AS u, b.p AS v, count(*) AS w
         |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
         |ed AS (SELECT u AS id_a, v AS id_b FROM ew WHERE w >= 2),
         |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ed
         |     UNION ALL SELECT id_b, id_a FROM ed),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM e),
         |$rounds,
         |lab AS (SELECT id, lbl AS community FROM l4),
         |deg AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |          SELECT id_a AS id FROM ed UNION ALL SELECT id_b FROM ed)
         |        GROUP BY 1),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
         |$moves,
         |${louvainRegradeSql("mlab3", "ed")}""".stripMargin
    },
    // closure from scratch, the %7 singleton degradation, one move
    // replay, the re-grade — mirrors the engine's artifact read
    "g_louvain_move_persisted" ->
      s"""WITH RECURSIVE $jaccardPairsSql,
         |$clusterCompSql,
         |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
         |     UNION ALL SELECT id_b, id_a FROM pairs),
         |lab AS (SELECT id, CASE WHEN id % 7 = 0 THEN -id - 1 ELSE cluster END AS community
         |        FROM comp),
         |deg AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |          SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)
         |        GROUP BY 1),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
         |${louvainMoveSql("lab", 1)},
         |${louvainRegradeSql("mlab1", "pairs")}""".stripMargin,
    // the labelprop chain, then every edge mapped to its canonical
    // community pair and counted — self-loops are the intra rows
    "g_louvain_coarsen" -> {
      val rounds = (1 to 4).map { r =>
        val prev = if (r == 1) "l0" else s"l${r - 1}"
        s"""c$r AS MATERIALIZED (SELECT e.dst AS id, l.lbl, count(*) AS c
           |  FROM e JOIN $prev l ON e.src = l.id GROUP BY 1, 2),
           |l$r AS MATERIALIZED (SELECT id, lbl FROM (
           |  SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
           |  FROM c$r) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |ew AS (SELECT a.p AS u, b.p AS v, count(*) AS w
         |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
         |ed AS (SELECT u AS id_a, v AS id_b FROM ew WHERE w >= 2),
         |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ed
         |     UNION ALL SELECT id_b, id_a FROM ed),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM e),
         |$rounds,
         |lab AS (SELECT id, lbl AS community FROM l4)
         |SELECT least(la.community, lb.community) AS id_a,
         |       greatest(la.community, lb.community) AS id_b,
         |       CAST(count(*) AS BIGINT) AS w
         |FROM ed JOIN lab la ON la.id = ed.id_a
         |        JOIN lab lb ON lb.id = ed.id_b
         |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin
    },
    // deliberately NOT a coarse-graph replay: the oracle grades the
    // ORIGINAL partition with g_modularity's own chain (minus
    // n_nodes) — the engine's coarsen ∘ weighted-grade must land on
    // the same table by the aggregation-invariance theorem, so any
    // lost/double-counted mass in either phase-2 operator mismatches
    "g_modularity_coarse" -> {
      val rounds = (1 to 4).map { r =>
        val prev = if (r == 1) "l0" else s"l${r - 1}"
        s"""c$r AS MATERIALIZED (SELECT e.dst AS id, l.lbl, count(*) AS c
           |  FROM e JOIN $prev l ON e.src = l.id GROUP BY 1, 2),
           |l$r AS MATERIALIZED (SELECT id, lbl FROM (
           |  SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
           |  FROM c$r) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |ew AS (SELECT a.p AS u, b.p AS v, count(*) AS w
         |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
         |ed AS (SELECT u AS id_a, v AS id_b FROM ew WHERE w >= 2),
         |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ed
         |     UNION ALL SELECT id_b, id_a FROM ed),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM e),
         |$rounds,
         |lab AS (SELECT id, lbl AS community FROM l4),
         |intra AS (SELECT la.community, CAST(count(*) AS BIGINT) AS intra_edges
         |          FROM ed JOIN lab la ON la.id = ed.id_a
         |               JOIN lab lb ON lb.id = ed.id_b
         |          WHERE la.community = lb.community GROUP BY 1),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |          SELECT id_a AS id FROM ed UNION ALL SELECT id_b FROM ed)
         |        GROUP BY 1),
         |dc AS (SELECT lab.community, CAST(sum(deg.deg) AS BIGINT) AS degree_sum
         |       FROM deg JOIN lab ON lab.id = deg.id GROUP BY 1),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed)
         |SELECT dc.community,
         |  COALESCE(intra.intra_edges, CAST(0 AS BIGINT)) AS intra_w,
         |  dc.degree_sum,
         |  CAST((CAST(1000000 AS HUGEINT)
         |        * COALESCE(intra.intra_edges, CAST(0 AS BIGINT))) // mm.m
         |    - (CAST(1000000 AS HUGEINT) * dc.degree_sum * dc.degree_sum)
         |      // (CAST(4 AS HUGEINT) * mm.m * mm.m) AS BIGINT) AS term6
         |FROM dc LEFT JOIN intra ON intra.community = dc.community CROSS JOIN mm
         |ORDER BY dc.community""".stripMargin
    },
    // coarsen in SQL, then the full weighted-move replay: weighted
    // degrees with self-loops at 2w, loop-free kin sums, every
    // HUGEINT gain, the argmax, the weighted re-grade
    "g_louvain_move_coarse" ->
      s"""WITH $coarseLadderPrefixSql,
         |${louvainMoveWSql("ilab", 1)},
         |${louvainRegradeWSql("wlab1")}""".stripMargin,
    // two chained weighted-move replays — the second pass's gains
    // computed against the MERGED partition's Σtot
    "g_louvain_moves_coarse" ->
      s"""WITH $coarseLadderPrefixSql,
         |${louvainMoveWSql("ilab", 1)},
         |${louvainMoveWSql("wlab1", 2)},
         |${louvainRegradeWSql("wlab2")}""".stripMargin,
    // the level-2 recursion: weighted re-coarsen off the merged
    // labels (weights sum, W conserved so `ww` is shared), two more
    // move replays on the level-2 frames, the two-level
    // back-projection, the plain re-grade
    "g_louvain_hierarchy2" ->
      s"""WITH $coarseLadderPrefixSql,
         |${louvainMoveWSql("ilab", 1)},
         |${louvainMoveWSql("wlab1", 2)},
         |coarse2 AS MATERIALIZED (
         |  SELECT least(la.community, lb.community) AS id_a,
         |         greatest(la.community, lb.community) AS id_b,
         |         CAST(sum(coarse.w) AS BIGINT) AS w
         |  FROM coarse JOIN wlab2 la ON la.id = coarse.id_a
         |          JOIN wlab2 lb ON lb.id = coarse.id_b
         |  GROUP BY 1, 2),
         |nl2 AS (SELECT id_a, id_b, w FROM coarse2 WHERE id_a <> id_b),
         |cd2 AS (SELECT id_a AS src, id_b AS dst, w FROM nl2
         |       UNION ALL SELECT id_b, id_a, w FROM nl2),
         |cdeg2 AS MATERIALIZED (SELECT id, CAST(sum(w) AS BIGINT) AS k FROM (
         |        SELECT src AS id, w FROM cd2
         |        UNION ALL SELECT id_a AS id, 2 * w AS w FROM coarse2
         |        WHERE id_a = id_b)
         |      GROUP BY 1),
         |ilab2 AS (SELECT id, id AS community FROM
         |         (SELECT id_a AS id FROM coarse2 UNION SELECT id_b FROM coarse2)),
         |${louvainMoveWSql("ilab2", 3, cd = "cd2", cdeg = "cdeg2")},
         |${louvainMoveWSql("wlab3", 4, cd = "cd2", cdeg = "cdeg2")},
         |flab AS (SELECT l.id, w4.community
         |         FROM lab l JOIN wlab2 w2 ON w2.id = l.community
         |                    JOIN wlab4 w4 ON w4.id = w2.community),
         |deg AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |          SELECT id_a AS id FROM ed UNION ALL SELECT id_b FROM ed)
         |        GROUP BY 1),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
         |${louvainRegradeSql("flab", "ed")}""".stripMargin,
    // both merge replays, then the back-projection join (node → its
    // phase-1 community's merged community) and the PLAIN modularity
    // re-grade on the original edge list
    "g_louvain_hierarchy" ->
      s"""WITH $coarseLadderPrefixSql,
         |${louvainMoveWSql("ilab", 1)},
         |${louvainMoveWSql("wlab1", 2)},
         |flab AS (SELECT l.id, w2.community
         |         FROM lab l JOIN wlab2 w2 ON w2.id = l.community),
         |deg AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |          SELECT id_a AS id FROM ed UNION ALL SELECT id_b FROM ed)
         |        GROUP BY 1),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ed),
         |${louvainRegradeSql("flab", "ed")}""".stripMargin,
    // plain id-ordered triangle join — deliberately a DIFFERENT
    // algorithm from the engine's degree-oriented one; the counts are
    // a graph property so they must agree exactly
    // symmetrized endpoint-degree Pearson, same cross-multiplied
    // integer sums, one sqrt+division
    "g_assortativity" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT a.p AS id_a, b.p AS id_b, count(*) AS w
        |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
        |ud AS (SELECT id_a, id_b FROM e0 WHERE w >= 2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM ud
        |          UNION SELECT id_b, id_a FROM ud),
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
        |xy AS (SELECT da.deg AS x, db.deg AS y FROM edges e
        |       JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
        |       FROM xy),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT nn.n_nodes, ag.n AS n_edges_directed,
        |  CASE WHEN (ag.n * ag.sxx - ag.sx * ag.sx) <= 0
        |         OR (ag.n * ag.syy - ag.sy * ag.sy) <= 0 THEN 0
        |       ELSE CAST(round(1e6 * CAST(ag.n * ag.sxy - ag.sx * ag.sy AS DOUBLE) /
        |            sqrt(CAST(ag.n * ag.sxx - ag.sx * ag.sx AS DOUBLE) *
        |                 CAST(ag.n * ag.syy - ag.sy * ag.sy AS DOUBLE)), 0) AS BIGINT) END
        |    AS assort6
        |FROM ag, nn""".stripMargin,
    "g_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS id_a, b.p AS id_b, count(*) AS w
        |      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
        |edges AS (SELECT id_a, id_b FROM e WHERE w >= 2),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
        |         SELECT id_a AS id FROM edges UNION ALL SELECT id_b FROM edges)
        |        GROUP BY id),
        |tri AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
        |        FROM edges e1 JOIN edges e2 ON e2.id_a = e1.id_b
        |             JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
        |tc AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |        SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        |        UNION ALL SELECT z FROM tri) GROUP BY id)
        |SELECT deg.id AS part_id, deg.deg, COALESCE(tc.n_tri, 0) AS n_tri,
        |       CASE WHEN deg.deg < 2 THEN 0.0
        |            ELSE CAST(2 * COALESCE(tc.n_tri, 0) AS DOUBLE)
        |                 / CAST(deg.deg * (deg.deg - 1) AS DOUBLE) END AS lcc
        |FROM deg LEFT JOIN tc ON tc.id = deg.id
        |ORDER BY part_id""".stripMargin,
    // mirror of Graph.pageRank: same integer fixed-point recurrence
    // (// is floor division; every value non-negative, so it equals
    // Spark's truncating `div`), 5 unrolled iterations over the same
    // UNION ALL-symmetrized jaccard pair edges
    "g_pagerank" ->
      s"""WITH $jaccardPairsSql,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
         |b AS (SELECT (((100 - 85) * 1000000000000) // 100) // n AS base FROM nn),
         |r0 AS (SELECT id, 1000000000000 // n AS r FROM deg CROSS JOIN nn),
         |${pageRankIterSql("r0", "r1")},
         |${pageRankIterSql("r1", "r2")},
         |${pageRankIterSql("r2", "r3")},
         |${pageRankIterSql("r3", "r4")},
         |${pageRankIterSql("r4", "r5")}
         |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_units,
         |       CAST(r AS DOUBLE) / 1000000000000.0 AS rank
         |FROM r5 ORDER BY doc_id""".stripMargin,
    // seed-teleport variant: base mass and r0 restricted to in-graph
    // doc_id % 25 seeds; the per-iteration recurrence mirrors the
    // engine's restart() with a LEFT JOIN seed flag
    "g_ppr" -> {
      def iter(prev: String, cur: String): String =
        s"""$cur AS (SELECT e.dst AS id,
           |      (CASE WHEN s.id IS NOT NULL THEN b.base ELSE 0 END)
           |        + SUM(((r.r * 85) // 100) // d.deg) AS r
           |      FROM edges e JOIN $prev r ON r.id = e.src
           |           JOIN deg d ON d.id = e.src
           |           LEFT JOIN seeds s ON s.id = e.dst CROSS JOIN b
           |      GROUP BY e.dst, s.id, b.base)""".stripMargin
      s"""WITH $jaccardPairsSql,
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
         |seeds AS (SELECT id FROM deg WHERE id % 25 = 0),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM seeds),
         |b AS (SELECT (((100 - 85) * 1000000000000) // 100) // n AS base FROM ns),
         |r0 AS (SELECT d.id,
         |         CASE WHEN s.id IS NOT NULL THEN 1000000000000 // n ELSE 0 END AS r
         |       FROM deg d LEFT JOIN seeds s ON d.id = s.id CROSS JOIN ns),
         |${iter("r0", "r1")},
         |${iter("r1", "r2")},
         |${iter("r2", "r3")},
         |${iter("r3", "r4")},
         |${iter("r4", "r5")}
         |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_units,
         |       CAST(r AS DOUBLE) / 1000000000000.0 AS rank
         |FROM r5 ORDER BY doc_id""".stripMargin
    },
    "d6_ordered_parts" ->
      """WITH parts AS (
        | SELECT doc_id, CAST(p.i - 1 AS BIGINT) AS pos, pr[p.i] AS part
        | FROM (SELECT doc_id, string_split(text, ' table ') AS pr FROM documents),
        |      LATERAL (SELECT unnest(generate_series(1, len(pr))) AS i) p
        | WHERE length(trim(pr[p.i])) > 0)
        |SELECT doc_id, pos, part FROM (
        | SELECT doc_id, pos, part,
        |        row_number() OVER (PARTITION BY doc_id, trim(part) ORDER BY pos) AS rn
        | FROM parts) WHERE rn = 1 ORDER BY doc_id, pos""".stripMargin,
    "f7_date_filter" ->
      """WITH b AS (
        | SELECT o_orderkey,
        |  CAST(CASE WHEN o_orderkey % 4 = 0 THEN '1970-01-01'
        |            WHEN o_orderkey % 4 = 1 THEN '9999-12-31'
        |            ELSE strftime(o_orderdate, '%Y-%m-%d') END AS DATE) AS d
        | FROM orders)
        |SELECT o_orderkey, strftime(d, '%Y-%m-%d') AS d FROM b
        |WHERE d IS NOT NULL AND d NOT IN (DATE '1970-01-01', DATE '1900-01-01', DATE '9999-12-31')
        |ORDER BY o_orderkey""".stripMargin,
    "s3_feed_entries" ->
      """WITH d AS (
        | SELECT source, doc_id, CAST(doc_id AS VARCHAR) AS k, length(source) % 2 = 0 AS is_rss
        | FROM documents),
        |blocks AS (
        | SELECT source, doc_id, k, is_rss,
        |  CASE WHEN is_rss THEN
        |   '<item><title>t' || k || '</title>' ||
        |   CASE WHEN doc_id % 2 = 0 THEN '<link>/a/' || k || '</link>'
        |        ELSE '<link>https://feed/' || k || '</link>' END ||
        |   CASE WHEN doc_id % 5 = 0 THEN '<description><![CDATA[s' || k || ']]></description>'
        |        ELSE '<description>s' || k || '</description>' END ||
        |   '<pubDate>Mon, 01 Jan 2024</pubDate></item>'
        |  ELSE
        |   '<entry><title>t' || k || '</title>' ||
        |   CASE WHEN doc_id % 2 = 0 THEN '<link>/a/' || k || '</link>'
        |        ELSE '<link href="https://feed/' || k || '"/>' END ||
        |   '<summary>s' || k || '</summary>' ||
        |   CASE WHEN doc_id % 3 = 0 THEN '<published>2024-03-01T00:00:00Z</published>'
        |        ELSE '<updated>2024-02-01T00:00:00Z</updated>' END || '</entry>'
        |  END AS blk
        | FROM d),
        |ranked AS (
        | SELECT *, row_number() OVER (PARTITION BY source ORDER BY blk) AS rn FROM blocks)
        |SELECT source, CAST(rn - 1 AS BIGINT) AS entry_index,
        | 't' || k AS title,
        | CASE WHEN doc_id % 2 = 0 THEN 'https://news.example.com/a/' || k
        |      ELSE 'https://feed/' || k END AS url,
        | 's' || k AS summary,
        | CASE WHEN is_rss THEN 'Mon, 01 Jan 2024'
        |      WHEN doc_id % 3 = 0 THEN '2024-03-01T00:00:00Z'
        |      ELSE '2024-02-01T00:00:00Z' END AS published
        |FROM ranked WHERE rn <= 25
        |ORDER BY source, entry_index""".stripMargin,
    "d2_article_dedup" ->
      """WITH b AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN NULL
        |       ELSE 'https://a/' || CAST(doc_id % 50 AS VARCHAR) END AS url,
        |  'T' || CAST(doc_id % 40 AS VARCHAR) AS title
        | FROM documents)
        |SELECT doc_id, url, title FROM (
        | SELECT doc_id, url, title,
        |        row_number() OVER (PARTITION BY COALESCE(lower(url), lower(title))
        |                           ORDER BY doc_id) AS rn
        | FROM b) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "i3_upsert_lastwins" ->
      """SELECT chunk_id, event_id, value FROM (
        | SELECT event_id % 200 AS chunk_id, event_id, value,
        |        row_number() OVER (PARTITION BY event_id % 200
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1 ORDER BY chunk_id""".stripMargin,
    "rag_fallback" -> {
      val bucket =
        "((strpos('0123456789abcdef', substring(md5(t), 1, 1)) - 1) % 16)"
      s"""WITH chunks AS (
         | SELECT doc_id, source, CAST(gs.i AS BIGINT) AS chunk_index,
         |        substring(text, CAST(gs.i*200+1 AS INT), 200) AS chunk
         | FROM documents, LATERAL (SELECT unnest(generate_series(0, CAST(ceil(length(text)/200.0) AS BIGINT)-1)) AS i) gs),
         |vec AS (
         | SELECT doc_id, chunk_index, source,
         |        list_transform(generate_series(0, 15), j -> CAST(len(list_filter(
         |          regexp_split_to_array(trim(chunk), '\\s+'), t -> $bucket = j)) AS DOUBLE)) AS v
         | FROM chunks),
         |q AS (
         | SELECT list_transform(generate_series(0, 15), j -> CAST(len(list_filter(
         |          regexp_split_to_array(trim('zzz spark join window'), '\\s+'), t -> $bucket = j)) AS DOUBLE)) AS qv)
         |SELECT doc_id, chunk_index, source, ${sqlCosine("v", "qv")} AS score
         |FROM vec, q
         |ORDER BY score DESC, doc_id, chunk_index LIMIT 10""".stripMargin
    },
    "wp_topk_agg" ->
      """SELECT source, doc_id, n_chars FROM (
        | SELECT source, doc_id, n_chars,
        |        row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        | FROM documents) WHERE rn <= 3 ORDER BY source, doc_id""".stripMargin,
    "j_asof_join" ->
      """WITH clicks AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |purch AS (SELECT user_id, ts, event_id AS tie, value FROM events WHERE event_type = 'purchase'),
        |u AS (
        | SELECT user_id, ts, event_id, NULL AS tie, NULL AS v, 1 AS is_left FROM clicks
        | UNION ALL
        | SELECT user_id, ts, NULL, tie, value, 0 FROM purch),
        |w AS (
        | SELECT user_id, ts, event_id, is_left,
        |        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |          ORDER BY ts, is_left, tie
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_value
        | FROM u)
        |SELECT user_id, event_id, asof_value FROM w WHERE is_left = 1
        |ORDER BY user_id, event_id""".stripMargin,
    // same union + backward/forward IGNORE NULLS frames over one sort
    "j_nearest_event" ->
      """WITH purch AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |               WHERE event_type = 'purchase'),
        |clicks AS (SELECT user_id, epoch_us(ts) AS us, event_id AS click_id FROM events
        |           WHERE event_type = 'click'),
        |u AS (SELECT user_id, us, event_id, 1 AS is_left, NULL::BIGINT AS tie,
        |             NULL::BIGINT[] AS v
        |      FROM purch
        |      UNION ALL
        |      SELECT user_id, us, NULL, 0, click_id, [us, click_id] FROM clicks),
        |w AS (SELECT user_id, us, event_id, is_left,
        |        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |          ORDER BY us, is_left, tie
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b,
        |        first_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |          ORDER BY us, is_left, tie
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f
        |      FROM u),
        |n AS (SELECT user_id, us, event_id,
        |        CASE WHEN b IS NULL THEN f WHEN f IS NULL THEN b
        |             WHEN us - b[1] <= f[1] - us THEN b ELSE f END AS m
        |      FROM w WHERE is_left = 1)
        |SELECT user_id, event_id, m[2] AS nearest_click_id, m[1] - us AS nearest_dt
        |FROM n ORDER BY user_id, event_id""".stripMargin,
    "j_range_join" ->
      """WITH bands(lo, hi, band) AS (VALUES (0.0, 10.0, 'low'), (10.0, 30.0, 'mid'), (30.0, 50.0, 'high'))
        |SELECT l_orderkey, l_linenumber, l_quantity, band
        |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity <= hi
        |ORDER BY l_orderkey, l_linenumber, band""".stripMargin,
    "t_punct_stop" ->
      """WITH b AS (
        | SELECT doc_id, text || ' ... end! (v' || CAST(doc_id AS VARCHAR) || ')' AS pt
        | FROM documents),
        |t AS (SELECT doc_id, pt, regexp_split_to_array(trim(pt), '\s+') AS tk FROM b)
        |SELECT doc_id,
        | CASE WHEN length(pt) = 0 THEN NULL
        |      ELSE CAST(length(regexp_replace(pt, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) /
        |           CAST(length(pt) AS DOUBLE) END AS punct_ratio,
        | CASE WHEN len(tk) = 0 THEN NULL
        |      ELSE CAST(len(list_filter(tk, x -> list_contains(['the','a','of'], x))) AS DOUBLE) /
        |           CAST(len(tk) AS DOUBLE) END AS stop_ratio,
        | array_to_string(list_filter(tk, x -> NOT list_contains(['data','table'], x)), ' ') AS no_stops
        |FROM t ORDER BY doc_id""".stripMargin,
    "t_winnow" ->
      """WITH grams AS (
        | SELECT doc_id, greatest(length(text) - 7, 0) AS n,
        |        list_transform(generate_series(1, greatest(length(text) - 7, 0)),
        |                       i -> substring(md5(substring(text, CAST(i AS INT), 8)), 1, 8)) AS hs
        | FROM documents),
        |wins AS (
        | SELECT doc_id,
        |        list_distinct(list_transform(generate_series(1, n - 9),
        |                      i -> list_aggregate(hs[i:i+9], 'min'))) AS fps
        | FROM grams WHERE n >= 10)
        |SELECT doc_id, unnest(fps) AS fp FROM wins
        |ORDER BY doc_id, fp""".stripMargin,
    "q4_priority_exists" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |GROUP BY p_brand, p_size
        |HAVING COUNT(DISTINCT l_suppkey) > 40
        |ORDER BY p_brand, p_size""".stripMargin,
    "a_quantiles" ->
      """SELECT l_linestatus,
        |       quantile_cont(l_quantity, 0.25) AS q25,
        |       quantile_cont(l_quantity, 0.5)  AS q50,
        |       quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    // same rank probe: row_number under (v, doc_id), targets
    // max(1, i·n // 10)
    "a_equidepth" ->
      """WITH r AS (SELECT CAST(n_chars AS BIGINT) AS v,
        |        row_number() OVER (ORDER BY n_chars, doc_id) AS rnk
        |      FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |t AS (SELECT CAST(i AS BIGINT) AS bucket, greatest(1, (i * n) // 10) AS r
        |      FROM (SELECT unnest(generate_series(1, 10)) AS i), n)
        |SELECT bucket, r2.v AS ub FROM t JOIN r r2 ON r2.rnk = t.r
        |ORDER BY bucket""".stripMargin,
    "s_hash_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${sqlHash32("doc_id")} < ${Sampling.threshold(0.1)}
         |ORDER BY doc_id""".stripMargin,
    "s_hash_negatives" ->
      s"""WITH pool AS (SELECT doc_id AS neg_id,
         |        CAST(row_number() OVER (ORDER BY ${sqlHash32("doc_id")}, doc_id) AS BIGINT) - 1 AS rk
         |      FROM documents WHERE ${sqlHash32("doc_id")} < ${Sampling.threshold(0.2)}),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM pool),
         |probes AS (SELECT doc_id AS anchor, CAST(gs.j AS BIGINT) AS j,
         |        ${sqlHash32("doc_id || ':' || gs.j")} AS h
         |      FROM documents, LATERAL (SELECT unnest(generate_series(1, 3)) AS j) gs)
         |SELECT anchor, j, neg_id
         |FROM probes, n JOIN pool ON pool.rk = probes.h % n.c
         |WHERE neg_id <> anchor
         |ORDER BY anchor, j""".stripMargin,
    // unrolled Gonzalez greedy: min-id seed, then each round the
    // farthest candidate by min (1.0 - cosine) to the picked set
    // (the same elementwise expression the engine folds), ties on id
    "s_kcenter" -> {
      def sel(i: Int): String =
        if (i == 1)
          """s1 AS (SELECT 1 AS rank, vec_id, CAST(NULL AS DOUBLE) AS dist
            |       FROM pool ORDER BY vec_id LIMIT 1)""".stripMargin
        else {
          val prev = (1 until i).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
          s"""s$i AS (SELECT $i AS rank, p.vec_id,
             |  (SELECT min(1.0 - s) FROM sims WHERE ia = p.vec_id AND ib IN ($prev)) AS dist
             |  FROM pool p WHERE p.vec_id NOT IN ($prev)
             |  ORDER BY dist DESC, p.vec_id LIMIT 1)""".stripMargin
        }
      val selects = (1 to 6).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
      s"""WITH pool AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id <> 0 AND vec_id % 5 = 0 AND embedding IS NOT NULL),
         |sims AS (SELECT a.vec_id AS ia, b.vec_id AS ib, ${sqlCosine("a.embedding", "b.embedding")} AS s
         |         FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
         |${(1 to 6).map(sel).mkString(",\n")}
         |SELECT rank, vec_id, dist FROM ($selects) ORDER BY rank""".stripMargin
    },
    "s_weighted_sample" ->
      s"""WITH b AS (SELECT doc_id, source,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_toks,
         |  ${sqlHash32("doc_id")} AS h FROM documents),
         |k AS (SELECT doc_id, source, CAST(n_toks AS BIGINT) AS n_toks,
         |        round(ln(CAST(h + 1 AS DOUBLE) / 4294967296.0) / CAST(n_toks AS DOUBLE), 9) AS es
         |      FROM b WHERE n_toks > 0),
         |r AS (SELECT doc_id, source, n_toks,
         |        row_number() OVER (PARTITION BY source ORDER BY es DESC, doc_id) AS rn FROM k)
         |SELECT doc_id, source, n_toks FROM r WHERE rn <= 5
         |ORDER BY doc_id""".stripMargin,
    "s_token_budget" ->
      s"""WITH b AS (SELECT doc_id, source,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_toks,
         |  ${sqlHash32("doc_id")} AS h FROM documents),
         |r AS (SELECT doc_id, source, CAST(n_toks AS BIGINT) AS n_toks,
         |        sum(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
         |                          ROWS UNBOUNDED PRECEDING) AS run
         |      FROM b)
         |SELECT doc_id, source, n_toks FROM r WHERE run <= 800
         |ORDER BY doc_id""".stripMargin,
    "s_split_assign" ->
      s"""WITH h AS (SELECT source, ${sqlHash32("doc_id")} AS h FROM documents)
         |SELECT CASE WHEN h < ${Sampling.threshold(0.8)} THEN 'train'
         |            WHEN h < ${Sampling.threshold(0.9)} THEN 'val'
         |            ELSE 'test' END AS split,
         |       source, CAST(COUNT(*) AS BIGINT) AS n
         |FROM h GROUP BY 1, 2 ORDER BY split, source""".stripMargin,
    "s_leakage_split" ->
      // jaccard pairs + connected components (the shared recursive
      // mirror), then the s_split_assign thresholds hashed on the
      // cluster's canonical id (own id for singletons)
      s"""WITH RECURSIVE $jaccardPairsSql,
         |$clusterCompSql,
         |keyed AS (
         | SELECT d.doc_id,
         |        CASE WHEN c.cluster IS NOT NULL THEN c.cluster ELSE d.doc_id END AS k
         | FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |h AS (SELECT doc_id, ${sqlHash32("k")} AS h FROM keyed)
         |SELECT doc_id, CASE WHEN h < ${Sampling.threshold(0.8)} THEN 'train'
         |            WHEN h < ${Sampling.threshold(0.9)} THEN 'val'
         |            ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin,
    "s_stratified_cap" ->
      s"""SELECT doc_id, source FROM documents
         |QUALIFY row_number() OVER (PARTITION BY source
         |  ORDER BY ${sqlHash32("doc_id")}, doc_id) <= 25
         |ORDER BY doc_id""".stripMargin,
    "t_line_dedup" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |             FROM documents WHERE length(trim(text)) > 0),
        |lines AS (SELECT doc_id, i AS pos, array_to_string(tk[(i*5+1):(i*5+5)], ' ') AS line
        |  FROM tok, LATERAL (SELECT unnest(generate_series(0, CAST(ceil(len(tk)/5.0) AS INT) - 1)) AS i)),
        |kept AS (SELECT doc_id, pos, line FROM lines
        |         QUALIFY count(*) OVER (PARTITION BY line) < 3)
        |SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS cleaned,
        |       CAST(count(*) AS BIGINT) AS n_lines_kept
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dd_incremental_neardup" -> incrementalNeardupOracle,
    "dd_incremental" ->
      """WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
        |batch AS (SELECT b.doc_id, CASE WHEN b.doc_id % 5 = 0 THEN h.text ELSE b.text END AS text
        |          FROM documents b JOIN hist h ON b.doc_id - 250 = h.doc_id WHERE b.doc_id >= 250),
        |hfp AS (SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp FROM hist),
        |bd AS (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp FROM batch
        |       QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1)
        |SELECT doc_id, fp FROM bd
        |WHERE NOT EXISTS (SELECT 1 FROM hfp WHERE hfp.fp = bd.fp)
        |ORDER BY doc_id""".stripMargin,
    "dd_bloom_incremental" ->
      """WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
        |batch AS (SELECT b.doc_id, CASE WHEN b.doc_id % 3 = 0 THEN h.text ELSE b.text END AS text
        |          FROM documents b JOIN hist h ON b.doc_id - 250 = h.doc_id WHERE b.doc_id >= 250),
        |hfp AS (SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp FROM hist),
        |bd AS (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp FROM batch
        |       QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1)
        |SELECT doc_id, fp FROM bd
        |WHERE NOT EXISTS (SELECT 1 FROM hfp WHERE hfp.fp = bd.fp)
        |ORDER BY doc_id""".stripMargin,
    "w_rolling_median" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS us, event_id, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT user_id, event_id,
        |  median(value) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS med
        |FROM p ORDER BY user_id, event_id""".stripMargin,
    "w_ewma" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS us, event_id, value
        |  FROM events WHERE event_type = 'purchase'),
        |l AS (SELECT user_id, list(value ORDER BY us, event_id) AS vs FROM p GROUP BY 1)
        |SELECT user_id, CAST(len(vs) AS BIGINT) AS n_purchases,
        |       list_reduce(vs, (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma_value
        |FROM l ORDER BY user_id""".stripMargin,
    // the same sequential-fold mirror with a 2-element [level, trend]
    // accumulator; level' appears twice in the lambda but both
    // evaluations are the identical double expression
    "w_holt" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS us, event_id, value
        |  FROM events WHERE event_type = 'purchase'),
        |l AS (SELECT user_id, list(value ORDER BY us, event_id) AS vs FROM p GROUP BY 1),
        |f AS (SELECT user_id, CAST(len(vs) AS BIGINT) AS n_purchases,
        |        list_reduce(
        |          list_prepend([vs[1], 0.0], list_transform(vs[2:], x -> [x, 0.0])),
        |          (acc, e) -> [0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
        |                       0.3 * (0.5 * e[1] + 0.5 * (acc[1] + acc[2]) - acc[1])
        |                         + 0.7 * acc[2]]) AS st
        |      FROM l)
        |SELECT user_id, n_purchases, st[1] AS level, st[2] AS trend,
        |       st[1] + st[2] AS forecast
        |FROM f ORDER BY user_id""".stripMargin,
    "a_winsor_mean" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
        |        row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY source) AS n
        |      FROM documents),
        |rk AS (SELECT *, n // 10 AS k FROM r),
        |b AS (SELECT source,
        |        max(CASE WHEN rn = k + 1 THEN n_chars END) AS lo,
        |        max(CASE WHEN rn = n - k THEN n_chars END) AS hi
        |      FROM rk GROUP BY source)
        |SELECT rk.source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(greatest(b.lo, least(b.hi, rk.n_chars))) AS DOUBLE) /
        |         CAST(count(*) AS DOUBLE) AS winsor_mean_chars
        |FROM rk JOIN b ON rk.source = b.source
        |GROUP BY rk.source ORDER BY rk.source""".stripMargin,
    "a_group_median" ->
      """WITH r AS (SELECT source, n_chars,
        |        row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY source) AS n
        |      FROM documents)
        |SELECT source, CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS median_chars
        |FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |GROUP BY source ORDER BY source""".stripMargin,
    // same decimal money chain; the cumulative is a window over the
    // bounded cohort-age grid
    "a_cohort_ltv" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
        |sz AS (SELECT cohort_wk, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |       FROM c GROUP BY 1),
        |g AS (SELECT c.cohort_wk, e.wk - c.cohort_wk AS age_wk,
        |        CAST(count(*) AS BIGINT) AS n_purchases,
        |        CAST(sum(e.v) AS DECIMAL(18,2)) AS sp
        |      FROM e JOIN c USING (user_id) GROUP BY 1, 2),
        |cum AS (SELECT cohort_wk, age_wk, n_purchases, sp,
        |          CAST(sum(sp) OVER (PARTITION BY cohort_wk ORDER BY age_wk) AS DECIMAL(18,2)) AS cm
        |        FROM g)
        |SELECT CAST(cohort_wk AS BIGINT) AS cohort_wk, CAST(age_wk AS BIGINT) AS age_wk,
        |  sz.n_users, n_purchases,
        |  CAST(sp AS DOUBLE) AS spend, CAST(cm AS DOUBLE) AS cum_spend,
        |  CAST(cm AS DOUBLE) / CAST(sz.n_users AS DOUBLE) AS ltv_per_user
        |FROM cum JOIN sz USING (cohort_wk)
        |ORDER BY cohort_wk, age_wk""".stripMargin,
    // the identical integer product-limit fold as a recursive CTE
    // over the age-ordinal chain
    "a_survival_km" ->
      """WITH RECURSIVE u AS (SELECT o_custkey, min(o_orderdate) AS f, max(o_orderdate) AS l
        |  FROM orders GROUP BY 1),
        |cm AS (SELECT max(l) AS cmax FROM u),
        |lv AS (SELECT datediff('day', f, l) // 30 AS age,
        |         (datediff('day', l, cmax) < 365) AS cens FROM u, cm),
        |ag AS (SELECT age, CAST(sum(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |         CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) AS c FROM lv GROUP BY 1),
        |g AS (SELECT age, d, c, CAST(sum(d + c) OVER (ORDER BY age DESC) AS BIGINT) AS n,
        |        row_number() OVER (ORDER BY age) AS i FROM ag),
        |km AS (
        |  SELECT i, CAST((1000000 * (n - d)) // n AS BIGINT) AS s6 FROM g WHERE i = 1
        |  UNION ALL
        |  SELECT g.i, CAST((km.s6 * (g.n - g.d)) // g.n AS BIGINT)
        |  FROM km JOIN g ON g.i = km.i + 1)
        |SELECT CAST(g.age AS BIGINT) AS age, g.n AS n_risk, g.d AS n_churn,
        |       g.c AS n_censored, km.s6
        |FROM g JOIN km USING (i) ORDER BY age""".stripMargin,
    "a_survival_hazard" ->
      """WITH u AS (SELECT o_custkey, min(o_orderdate) AS f, max(o_orderdate) AS l
        |  FROM orders GROUP BY 1),
        |cm AS (SELECT max(l) AS cmax FROM u),
        |lv AS (SELECT datediff('day', f, l) // 30 AS age,
        |         (datediff('day', l, cmax) < 365) AS cens FROM u, cm),
        |ag AS (SELECT age, CAST(sum(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |         CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) AS c FROM lv GROUP BY 1),
        |g AS (SELECT age, d, c, CAST(sum(d + c) OVER (ORDER BY age DESC) AS BIGINT) AS n
        |      FROM ag)
        |SELECT CAST(age AS BIGINT) AS age, n AS n_risk, d AS n_churn, c AS n_censored,
        |  CAST(SUM((1000000 * d) // n) OVER (ORDER BY age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS h6
        |FROM g ORDER BY age""".stripMargin,
    "w_logrank" -> eventsLogRankOracleSql,
    "a_strat_logrank" ->
      """WITH u AS (SELECT o_custkey,
        |    CASE WHEN o_custkey % 2 = 0 THEN 'A' ELSE 'B' END AS g,
        |    's' || CAST(o_custkey % 3 AS VARCHAR) AS st,
        |    min(o_orderdate) AS f, max(o_orderdate) AS l
        |  FROM orders GROUP BY 1, 2, 3),
        |cm AS (SELECT max(l) AS cmax FROM u),
        |sides AS (SELECT min(g) AS side_a, max(g) AS side_b FROM u),
        |lv AS (SELECT st, datediff('day', f, l) // 30 AS age,
        |         (datediff('day', l, cmax) < 365) AS cens,
        |         (g = (SELECT side_a FROM sides)) AS isa
        |       FROM u, cm),
        |ag AS (SELECT st, age,
        |    CAST(SUM(CASE WHEN NOT cens AND isa THEN 1 ELSE 0 END) AS BIGINT) AS da,
        |    CAST(SUM(CASE WHEN NOT cens AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS db,
        |    CAST(SUM(CASE WHEN cens AND isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN cens AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM lv GROUP BY 1, 2),
        |g2 AS (SELECT st, age, da, db, ca, cb,
        |    CAST(SUM(da + ca) OVER (PARTITION BY st ORDER BY age DESC) AS BIGINT) AS na,
        |    CAST(SUM(db + cb) OVER (PARTITION BY st ORDER BY age DESC) AS BIGINT) AS nb
        |  FROM ag),
        |tt AS (SELECT st, da, db, ca, cb, na, nb,
        |    CAST((CAST(1000000 AS HUGEINT) * (da + db) * na) // (na + nb) AS BIGINT)
        |      AS e6,
        |    CASE WHEN na + nb < 2 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000 AS HUGEINT) * (da + db) * na * nb
        |               * (na + nb - da - db))
        |              // (CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb - 1))
        |              AS BIGINT) END AS v6
        |  FROM g2),
        |f AS (SELECT
        |    (SELECT side_a FROM sides) AS side_a,
        |    (SELECT side_b FROM sides) AS side_b,
        |    CAST(COUNT(DISTINCT st) AS BIGINT) AS k_strata,
        |    CAST(SUM(da + ca) AS BIGINT) AS n_a,
        |    CAST(SUM(db + cb) AS BIGINT) AS n_b,
        |    CAST(SUM(da) AS BIGINT) AS o_a,
        |    CAST(SUM(e6) AS BIGINT) AS e6,
        |    CAST(SUM(v6) AS BIGINT) AS v6
        |  FROM tt)
        |SELECT side_a, side_b, k_strata, n_a, n_b, o_a, e6, v6,
        |  CASE WHEN v6 <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(((CAST(1000000 AS HUGEINT) * o_a - e6)
        |             * (CAST(1000000 AS HUGEINT) * o_a - e6)) // v6 AS BIGINT)
        |  END AS z2_6,
        |  CASE WHEN v6 <= 0 THEN FALSE
        |  ELSE ((CAST(1000000 AS HUGEINT) * o_a - e6)
        |        * (CAST(1000000 AS HUGEINT) * o_a - e6)) // v6 >= 3841459
        |  END AS significant
        |FROM f""".stripMargin,
    "a_cif" -> cifOracleSql,
    "a_km_greenwood" ->
      """WITH RECURSIVE u AS (SELECT o_custkey, min(o_orderdate) AS f, max(o_orderdate) AS l
        |  FROM orders GROUP BY 1),
        |cm AS (SELECT max(l) AS cmax FROM u),
        |lv AS (SELECT datediff('day', f, l) // 30 AS age,
        |         (datediff('day', l, cmax) < 365) AS cens FROM u, cm),
        |ag AS (SELECT age, CAST(sum(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |         CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) AS c FROM lv GROUP BY 1),
        |g AS (SELECT age, d, c, CAST(sum(d + c) OVER (ORDER BY age DESC) AS BIGINT) AS n,
        |        row_number() OVER (ORDER BY age) AS i FROM ag),
        |km AS (
        |  SELECT i, CAST((1000000 * (n - d)) // n AS BIGINT) AS s6 FROM g WHERE i = 1
        |  UNION ALL
        |  SELECT g.i, CAST((km.s6 * (g.n - g.d)) // g.n AS BIGINT)
        |  FROM km JOIN g ON g.i = km.i + 1),
        |kj AS (SELECT g.age, g.n, g.d, g.c, km.s6 FROM g JOIN km USING (i)),
        |gw AS (SELECT age, n, d, c, s6,
        |    CASE WHEN n - d <= 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000000000 AS HUGEINT) * d)
        |              // (CAST(n AS HUGEINT) * (n - d)) AS BIGINT) END AS g12
        |  FROM kj),
        |cg AS (SELECT age, n, d, c, s6,
        |    CAST(SUM(g12) OVER (ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS gsum
        |  FROM gw)
        |SELECT CAST(age AS BIGINT) AS age, n AS n_risk, d AS n_churn, c AS n_censored,
        |  s6,
        |  CAST((CAST(s6 AS HUGEINT) * s6 * gsum)
        |       // CAST(1000000000000 AS HUGEINT) AS BIGINT) AS gvar12
        |FROM cg ORDER BY age""".stripMargin,
    "a_gehan" ->
      """WITH u AS (SELECT o_custkey,
        |    CASE WHEN o_custkey % 2 = 0 THEN 'A' ELSE 'B' END AS g,
        |    min(o_orderdate) AS f, max(o_orderdate) AS l
        |  FROM orders GROUP BY 1, 2),
        |cm AS (SELECT max(l) AS cmax FROM u),
        |sides AS (SELECT min(g) AS side_a, max(g) AS side_b FROM u),
        |lv AS (SELECT datediff('day', f, l) // 30 AS age,
        |         (datediff('day', l, cmax) < 365) AS cens,
        |         (g = (SELECT side_a FROM sides)) AS isa
        |       FROM u, cm),
        |ag AS (SELECT age,
        |    CAST(SUM(CASE WHEN NOT cens AND isa THEN 1 ELSE 0 END) AS BIGINT) AS da,
        |    CAST(SUM(CASE WHEN NOT cens AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS db,
        |    CAST(SUM(CASE WHEN cens AND isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN cens AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM lv GROUP BY 1),
        |g2 AS (SELECT age, da, db, ca, cb,
        |    CAST(SUM(da + ca) OVER (ORDER BY age DESC) AS BIGINT) AS na,
        |    CAST(SUM(db + cb) OVER (ORDER BY age DESC) AS BIGINT) AS nb
        |  FROM ag),
        |tt AS (SELECT da, db, ca, cb, na, nb,
        |    CASE WHEN na + nb = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000 AS HUGEINT) * (da + db) * na) // (na + nb)
        |              AS BIGINT) END AS e6,
        |    CASE WHEN na + nb < 2 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000 AS HUGEINT) * (da + db) * na * nb
        |               * (na + nb - da - db))
        |              // (CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb - 1))
        |              AS BIGINT) END AS v6
        |  FROM g2),
        |ww AS (SELECT da, db, ca, cb,
        |    CAST(1000000 AS HUGEINT) * (na + nb) * da
        |      - CAST(na + nb AS HUGEINT) * e6 AS num,
        |    CAST(na + nb AS HUGEINT) * (na + nb) * v6 AS den6
        |  FROM tt),
        |f AS (SELECT
        |    (SELECT side_a FROM sides) AS side_a,
        |    (SELECT side_b FROM sides) AS side_b,
        |    CAST(SUM(da + ca) AS BIGINT) AS n_a,
        |    CAST(SUM(db + cb) AS BIGINT) AS n_b,
        |    CAST(SUM(da) AS BIGINT) AS o_a,
        |    SUM(num) AS num, SUM(den6) AS den6
        |  FROM ww)
        |SELECT side_a, side_b, n_a, n_b, o_a,
        |  CASE WHEN den6 <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((num * num) // den6 AS BIGINT) END AS z2_6,
        |  CASE WHEN den6 <= 0 THEN FALSE
        |  ELSE (num * num) // den6 >= 3841459 END AS significant
        |FROM f""".stripMargin,
    "a_qini" -> qiniOracleSql,
    "a_rmst" ->
      """WITH RECURSIVE u AS (SELECT o_custkey, min(o_orderdate) AS f, max(o_orderdate) AS l
        |  FROM orders GROUP BY 1),
        |cm AS (SELECT max(l) AS cmax FROM u),
        |lv AS (SELECT datediff('day', f, l) // 30 AS age,
        |         (datediff('day', l, cmax) < 365) AS cens FROM u, cm),
        |ag AS (SELECT age, CAST(sum(CASE WHEN NOT cens THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |         CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) AS c FROM lv GROUP BY 1),
        |g AS (SELECT age, d, c, CAST(sum(d + c) OVER (ORDER BY age DESC) AS BIGINT) AS n,
        |        row_number() OVER (ORDER BY age) AS i FROM ag),
        |km AS (
        |  SELECT i, CAST((1000000 * (n - d)) // n AS BIGINT) AS s6 FROM g WHERE i = 1
        |  UNION ALL
        |  SELECT g.i, CAST((km.s6 * (g.n - g.d)) // g.n AS BIGINT)
        |  FROM km JOIN g ON g.i = km.i + 1),
        |kj AS (SELECT g.age, g.n, km.s6 FROM g JOIN km USING (i)),
        |kk AS (SELECT age, s6, lead(age) OVER (ORDER BY age) AS nxt FROM kj)
        |SELECT CAST(12 AS BIGINT) AS tau,
        |  (SELECT CAST(MAX(n) AS BIGINT) FROM kj) AS n_entities,
        |  CAST(least((SELECT MIN(age) FROM kj), 12) * 1000000
        |    + COALESCE(SUM(s6 * (least(COALESCE(nxt, 12), 12) - least(age, 12))), 0)
        |    AS BIGINT) AS rmst6
        |FROM kk""".stripMargin,
    "a_hazard_ratio" ->
      """WITH u AS (SELECT o_custkey,
        |    CASE WHEN o_custkey % 2 = 0 THEN 'A' ELSE 'B' END AS g,
        |    min(o_orderdate) AS f, max(o_orderdate) AS l
        |  FROM orders GROUP BY 1, 2),
        |cm AS (SELECT max(l) AS cmax FROM u),
        |sides AS (SELECT min(g) AS side_a, max(g) AS side_b FROM u),
        |lv AS (SELECT datediff('day', f, l) // 30 AS age,
        |         (datediff('day', l, cmax) < 365) AS cens,
        |         (g = (SELECT side_a FROM sides)) AS isa
        |       FROM u, cm),
        |ag AS (SELECT age,
        |    CAST(SUM(CASE WHEN NOT cens AND isa THEN 1 ELSE 0 END) AS BIGINT) AS da,
        |    CAST(SUM(CASE WHEN NOT cens AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS db,
        |    CAST(SUM(CASE WHEN cens AND isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN cens AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM lv GROUP BY 1),
        |g2 AS (SELECT age, da, db, ca, cb,
        |    CAST(SUM(da + ca) OVER (ORDER BY age DESC) AS BIGINT) AS na,
        |    CAST(SUM(db + cb) OVER (ORDER BY age DESC) AS BIGINT) AS nb
        |  FROM ag),
        |tt AS (SELECT da, db,
        |    CASE WHEN na + nb = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000 AS HUGEINT) * (da + db) * na) // (na + nb)
        |              AS BIGINT) END AS ea6,
        |    CASE WHEN na + nb = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000 AS HUGEINT) * (da + db) * nb) // (na + nb)
        |              AS BIGINT) END AS eb6
        |  FROM g2),
        |f AS (SELECT
        |    (SELECT side_a FROM sides) AS side_a,
        |    (SELECT side_b FROM sides) AS side_b,
        |    CAST(SUM(da) AS BIGINT) AS o_a, CAST(SUM(db) AS BIGINT) AS o_b,
        |    CAST(SUM(ea6) AS BIGINT) AS ea6, CAST(SUM(eb6) AS BIGINT) AS eb6
        |  FROM tt)
        |SELECT side_a, side_b, o_a, o_b, ea6, eb6,
        |  CASE WHEN o_b <= 0 OR ea6 <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(1000000 AS HUGEINT) * o_a * eb6)
        |            // (CAST(o_b AS HUGEINT) * ea6) AS BIGINT) END AS hr6
        |FROM f""".stripMargin,
    "a_eprocess" -> eProcessOracleSql,
    "a_ebh_rates" -> ebhRatesOracleSql,
    // same (day, value) grid; the per-value integer-ratio ln term,
    // HUGEINT count-multiply, day-window cumulative
    "a_eprocess_mean" -> eProcessMeanOracleFor("TRUE"),
    // disjoint partial grids SUM-merge to the full grid: the upserted
    // artifact's monitor must equal the plain full-corpus monitor
    "a_valgrid_upsert" -> eProcessMeanOracleFor("TRUE"),
    // the as-of-0 read resurrects the pre-takedown grid exactly
    "a_valgrid_asof" -> eProcessMeanOracleFor("TRUE"),
    // post-compaction the stamp-0 view IS the live post-takedown
    // view: the monitor over events excluding the %5-cent subset
    "a_valgrid_compacted" -> eProcessMeanOracleFor(
      "CAST(round(value * 100) AS BIGINT) % 5 <> 0"),
    // the sign-test CS replayed in SQL: same candidate grid, same
    // injected micro-nat constants, same affine integer wealth and
    // partitioned running-max latch — ties count in n, in neither
    // indicator
    "a_eprocess_median_cs" -> quantileCsOracleFor(500000L, 500000L, 50000L),
    // the same machinery at q = 90% — the always-valid tail band
    "a_eprocess_p90_cs" -> quantileCsOracleFor(900000L, 500000L, 50000L),
    // same (day, v, n) grid; per-day unbiased sample variance in
    // exact ppm² (HUGEINT cross-products, sequential truncations
    // mirrored), one micro-nat ln term per DAY
    "a_eprocess_var" ->
      """WITH base AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100) AS BIGINT) * 10 AS v
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |cells AS (SELECT day, v, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM base GROUP BY 1, 2),
        |d AS (SELECT day, CAST(SUM(n) AS BIGINT) AS n,
        |    SUM(CAST(n AS HUGEINT) * v) AS s,
        |    SUM(CAST(n AS HUGEINT) * v * v) AS q
        |  FROM cells GROUP BY 1),
        |z AS (SELECT day, n,
        |    CAST(((n * q - s * s) // (CAST(n AS HUGEINT) * (n - 1))) // 250000
        |      AS BIGINT) AS var_hat_ppm
        |  FROM d WHERE n >= 2),
        |t AS (SELECT day, n, var_hat_ppm,
        |    CAST(round(ln(CAST(1000000000000 + 100000000 * (var_hat_ppm - 5000)
        |        AS DOUBLE) / 1e12) * 1000000) AS BIGINT) AS t6
        |  FROM z),
        |cum AS (SELECT day, n, var_hat_ppm,
        |    CAST(SUM(t6) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ln_e6
        |  FROM t)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n, var_hat_ppm, ln_e6,
        |  ln_e6 >= 2995732 AS crossed
        |FROM cum ORDER BY day""".stripMargin,
    // per-(value, candidate, side) micro-nat terms off the shared
    // value grid; 99-candidate partitioned running sums + sup latch;
    // grid literals interpolated from eProcessMeanCsGrid (the
    // shared-constant discipline)
    "a_eprocess_mean_cs" -> {
      val gridVals = Experiments.eProcessMeanCsGrid(500000L)
        .map { case (p, m0, lam) => s"($p, $m0, $lam)" }.mkString(", ")
      val thr6 = math.round(math.log(2e6 / 50000L) * 1e6)
      s"""WITH grid(pct, m0, lam6) AS (VALUES $gridVals),
         |base AS (SELECT CAST(ts AS DATE) AS day,
         |    CAST(round(value * 100) AS BIGINT) * 10 AS v
         |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
         |cells AS (SELECT day, v, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM base GROUP BY 1, 2),
         |d AS (SELECT day, CAST(SUM(n) AS BIGINT) AS n FROM cells GROUP BY 1),
         |tt AS (SELECT day, pct,
         |    CAST(SUM(CAST(n AS HUGEINT)
         |      * CAST(round(ln(CAST(1000000000000 + lam6 * (v - m0) AS DOUBLE)
         |          / 1e12) * 1000000) AS BIGINT)) AS BIGINT) AS d6p,
         |    CAST(SUM(CAST(n AS HUGEINT)
         |      * CAST(round(ln(CAST(1000000000000 - lam6 * (v - m0) AS DOUBLE)
         |          / 1e12) * 1000000) AS BIGINT)) AS BIGINT) AS d6n
         |  FROM cells CROSS JOIN grid GROUP BY 1, 2),
         |w AS (SELECT day, pct,
         |    SUM(d6p) OVER (PARTITION BY pct ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnp,
         |    SUM(d6n) OVER (PARTITION BY pct ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnn
         |  FROM tt),
         |s AS (SELECT day, pct,
         |    MAX(greatest(lnp, lnn)) OVER (PARTITION BY pct ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sup6
         |  FROM w)
         |SELECT strftime(s.day, '%Y-%m-%d') AS day, d.n,
         |  CAST(MIN(pct) AS BIGINT) AS lo_pct, CAST(MAX(pct) AS BIGINT) AS hi_pct
         |FROM s JOIN d ON d.day = s.day WHERE sup6 < $thr6
         |GROUP BY 1, 2 ORDER BY day""".stripMargin
    },
    "a_eprocess_cs" -> {
      val thr6 = math.round(math.log(2e6 / 50000L) * 1e6)
      val gridVals = Experiments.eProcessCsGrid(500000L)
        .map { case (p, ap, bp, an, bn) => s"($p, $ap, $bp, $an, $bn)" }
        .mkString(", ")
      s"""WITH grid(pct, ap6, bp6, an6, bn6) AS (VALUES $gridVals),
         |base AS (SELECT CAST(ts AS DATE) AS day,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS xx
         |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
         |d AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(xx) AS BIGINT) AS x
         |      FROM base GROUP BY 1),
         |c AS (SELECT day, n, x,
         |        CAST(SUM(x) OVER (ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cx,
         |        CAST(SUM(n) OVER (ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn
         |      FROM d),
         |w AS (SELECT c.day, c.n, c.x, g.pct,
         |        GREATEST(
         |          CAST(c.cx * g.ap6 + (c.cn - c.cx) * g.bp6 AS BIGINT),
         |          CAST(c.cx * g.an6 + (c.cn - c.cx) * g.bn6 AS BIGINT)) AS ln_e6
         |      FROM c CROSS JOIN grid g),
         |s AS (SELECT day, n, x, pct,
         |        MAX(ln_e6) OVER (PARTITION BY pct ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sup6
         |      FROM w)
         |SELECT strftime(day, '%Y-%m-%d') AS day, n, x,
         |  CAST(MIN(pct) AS BIGINT) AS lo_pct, CAST(MAX(pct) AS BIGINT) AS hi_pct
         |FROM s WHERE sup6 < $thr6
         |GROUP BY day, n, x ORDER BY day""".stripMargin
    },
    "a_eprocess_diff" -> {
      val thr6 = math.round(math.log(2e6 / 50000L) * 1e6)
      val gridVals = Experiments.eProcessCsGrid(500000L)
        .map { case (p, ap, bp, an, bn) => s"($p, $ap, $bp, $an, $bn)" }
        .mkString(", ")
      def arm(pred: String, suf: String) =
        s"""base_$suf AS (SELECT CAST(ts AS DATE) AS day,
           |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS xx
           |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           |    AND event_type IS NOT NULL AND $pred),
           |d_$suf AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
           |        CAST(SUM(xx) AS BIGINT) AS x
           |      FROM base_$suf GROUP BY 1),
           |c_$suf AS (SELECT day, n, x,
           |        CAST(SUM(x) OVER (ORDER BY day
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cx,
           |        CAST(SUM(n) OVER (ORDER BY day
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn
           |      FROM d_$suf),
           |w_$suf AS (SELECT c.day, c.n, c.x, g.pct,
           |        GREATEST(
           |          CAST(c.cx * g.ap6 + (c.cn - c.cx) * g.bp6 AS BIGINT),
           |          CAST(c.cx * g.an6 + (c.cn - c.cx) * g.bn6 AS BIGINT)) AS ln_e6
           |      FROM c_$suf c CROSS JOIN grid g),
           |s_$suf AS (SELECT day, n, x, pct,
           |        MAX(ln_e6) OVER (PARTITION BY pct ORDER BY day
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sup6
           |      FROM w_$suf),
           |band_$suf AS (SELECT day, n, x,
           |        CAST(MIN(pct) AS BIGINT) AS lo, CAST(MAX(pct) AS BIGINT) AS hi
           |      FROM s_$suf WHERE sup6 < $thr6 GROUP BY day, n, x)"""
      s"""WITH grid(pct, ap6, bp6, an6, bn6) AS (VALUES $gridVals),
         |${arm("user_id % 2 = 0", "a")},
         |${arm("user_id % 2 <> 0", "b")}
         |SELECT strftime(a.day, '%Y-%m-%d') AS day,
         |  a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b,
         |  CAST(a.lo - b.hi AS BIGINT) AS lo_diff_pct,
         |  CAST(a.hi - b.lo AS BIGINT) AS hi_diff_pct
         |FROM band_a a JOIN band_b b ON a.day = b.day
         |ORDER BY day""".stripMargin
    },
    "a_eprocess_ab" -> {
      val (a6, b6, thr6) = Experiments.eProcessConstants(500000L, 200000L, 50000L)
      s"""WITH base AS (SELECT CAST(ts AS DATE) AS day,
         |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS xx
         |  FROM events
         |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |    AND event_type = 'purchase'),
         |d AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(xx) AS BIGINT) AS x
         |      FROM base GROUP BY 1),
         |c AS (SELECT day, n, x,
         |        CAST(SUM(x) OVER (ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cx,
         |        CAST(SUM(n) OVER (ORDER BY day
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn
         |      FROM d)
         |SELECT strftime(day, '%Y-%m-%d') AS day, n, x,
         |  CAST(cx * ($a6) + (cn - cx) * ($b6) AS BIGINT) AS ln_e6,
         |  (cx * ($a6) + (cn - cx) * ($b6)) >= $thr6 AS crossed
         |FROM c ORDER BY day""".stripMargin
    },
    "a_winsorized" ->
      """WITH base AS (SELECT
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS s,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |cnt AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM base GROUP BY 1),
        |tot AS (SELECT CAST(SUM(t) AS BIGINT) AS n FROM cnt),
        |cum AS (SELECT v, t,
        |          CAST(COALESCE(SUM(t) OVER (ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS b
        |        FROM cnt),
        |rk AS (SELECT n,
        |         GREATEST(1, (CAST(n AS HUGEINT) * 10000 + 999999) // 1000000) AS rlo,
        |         GREATEST(GREATEST(1, (CAST(n AS HUGEINT) * 10000 + 999999) // 1000000),
        |                  LEAST(n, (CAST(n AS HUGEINT) * 990000 + 999999) // 1000000))
        |           AS rhi
        |       FROM tot),
        |lo AS (SELECT v AS lo_cut FROM cum, rk WHERE b < rlo AND rlo <= b + t),
        |hi AS (SELECT v AS hi_cut FROM cum, rk WHERE b < rhi AND rhi <= b + t)
        |SELECT s AS side, CAST(COUNT(*) AS BIGINT) AS n, lo_cut, hi_cut,
        |  CAST(SUM(CASE WHEN v < lo_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_lo_clamped,
        |  CAST(SUM(CASE WHEN v > hi_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_clamped,
        |  CAST((CAST(1000000 AS HUGEINT)
        |        * SUM(GREATEST(lo_cut, LEAST(hi_cut, v))))
        |       // COUNT(*) AS BIGINT) AS wins_mean6,
        |  CAST(SUM(CASE WHEN v >= lo_cut AND v <= hi_cut THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_trim,
        |  CASE WHEN SUM(CASE WHEN v >= lo_cut AND v <= hi_cut THEN 1 ELSE 0 END) = 0
        |       THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(1000000 AS HUGEINT)
        |             * SUM(CASE WHEN v >= lo_cut AND v <= hi_cut THEN v ELSE 0 END))
        |            // SUM(CASE WHEN v >= lo_cut AND v <= hi_cut THEN 1 ELSE 0 END)
        |       AS BIGINT) END AS trim_mean6
        |FROM base, lo, hi
        |GROUP BY s, lo_cut, hi_cut
        |ORDER BY side""".stripMargin,
    "a_rate_ratio" ->
      """WITH base AS (SELECT
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS s,
        |    user_id AS u, CAST(ts AS DATE) AS d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |ev AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS o FROM base GROUP BY 1),
        |ex AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS ex
        |       FROM (SELECT DISTINCT s, u, d FROM base) GROUP BY 1),
        |f AS (SELECT 'A' AS side_a, 'B' AS side_b,
        |    (SELECT o FROM ev WHERE s = 'A') AS o_a,
        |    (SELECT o FROM ev WHERE s = 'B') AS o_b,
        |    (SELECT ex FROM ex WHERE s = 'A') AS exp_a,
        |    (SELECT ex FROM ex WHERE s = 'B') AS exp_b)
        |SELECT side_a, side_b, o_a, o_b, exp_a, exp_b,
        |  CASE WHEN o_b = 0 OR exp_a = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(1000000 AS HUGEINT) * o_a * exp_b)
        |            // (CAST(o_b AS HUGEINT) * exp_a) AS BIGINT) END AS rr6,
        |  CASE WHEN o_a + o_b = 0 OR exp_a = 0 OR exp_b = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(
        |    (CAST(1000000 AS HUGEINT)
        |     * (CAST(o_a AS HUGEINT) * exp_b - CAST(o_b AS HUGEINT) * exp_a)
        |     * (CAST(o_a AS HUGEINT) * exp_b - CAST(o_b AS HUGEINT) * exp_a))
        |    // (CAST(o_a + o_b AS HUGEINT) * exp_a * exp_b) AS BIGINT) END AS z2_6,
        |  CASE WHEN o_a + o_b = 0 OR exp_a = 0 OR exp_b = 0 THEN FALSE
        |  ELSE (CAST(1000000 AS HUGEINT)
        |        * (CAST(o_a AS HUGEINT) * exp_b - CAST(o_b AS HUGEINT) * exp_a)
        |        * (CAST(o_a AS HUGEINT) * exp_b - CAST(o_b AS HUGEINT) * exp_a))
        |       // (CAST(o_a + o_b AS HUGEINT) * exp_a * exp_b) >= 3841459
        |  END AS significant
        |FROM f""".stripMargin,
    "a_logrank" ->
      """WITH u AS (SELECT o_custkey,
        |    CASE WHEN o_custkey % 2 = 0 THEN 'A' ELSE 'B' END AS g,
        |    min(o_orderdate) AS f, max(o_orderdate) AS l
        |  FROM orders GROUP BY 1, 2),
        |cm AS (SELECT max(l) AS cmax FROM u),
        |sides AS (SELECT min(g) AS side_a, max(g) AS side_b FROM u),
        |lv AS (SELECT datediff('day', f, l) // 30 AS age,
        |         (datediff('day', l, cmax) < 365) AS cens,
        |         (g = (SELECT side_a FROM sides)) AS isa
        |       FROM u, cm),
        |ag AS (SELECT age,
        |    CAST(SUM(CASE WHEN NOT cens AND isa THEN 1 ELSE 0 END) AS BIGINT) AS da,
        |    CAST(SUM(CASE WHEN NOT cens AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS db,
        |    CAST(SUM(CASE WHEN cens AND isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN cens AND NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM lv GROUP BY 1),
        |g2 AS (SELECT age, da, db, ca, cb,
        |    CAST(SUM(da + ca) OVER (ORDER BY age DESC) AS BIGINT) AS na,
        |    CAST(SUM(db + cb) OVER (ORDER BY age DESC) AS BIGINT) AS nb
        |  FROM ag),
        |tt AS (SELECT da, db, ca, cb, na, nb,
        |    CAST((CAST(1000000 AS HUGEINT) * (da + db) * na) // (na + nb) AS BIGINT)
        |      AS e6,
        |    CASE WHEN na + nb < 2 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000 AS HUGEINT) * (da + db) * na * nb
        |               * (na + nb - da - db))
        |              // (CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb - 1))
        |              AS BIGINT) END AS v6
        |  FROM g2),
        |f AS (SELECT
        |    (SELECT side_a FROM sides) AS side_a,
        |    (SELECT side_b FROM sides) AS side_b,
        |    CAST(SUM(da + ca) AS BIGINT) AS n_a,
        |    CAST(SUM(db + cb) AS BIGINT) AS n_b,
        |    CAST(SUM(da) AS BIGINT) AS o_a,
        |    CAST(SUM(e6) AS BIGINT) AS e6,
        |    CAST(SUM(v6) AS BIGINT) AS v6
        |  FROM tt)
        |SELECT side_a, side_b, n_a, n_b, o_a, e6, v6,
        |  CASE WHEN v6 <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(((CAST(1000000 AS HUGEINT) * o_a - e6)
        |             * (CAST(1000000 AS HUGEINT) * o_a - e6)) // v6 AS BIGINT)
        |  END AS z2_6,
        |  CASE WHEN v6 <= 0 THEN FALSE
        |  ELSE ((CAST(1000000 AS HUGEINT) * o_a - e6)
        |        * (CAST(1000000 AS HUGEINT) * o_a - e6)) // v6 >= 3841459
        |  END AS significant
        |FROM f""".stripMargin,
    "a_anova" ->
      """WITH arms AS (SELECT event_type AS arm, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s_g,
        |    SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
        |        * CAST(round(value * 100) AS BIGINT)) AS ss_g
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1 HAVING COUNT(*) >= 2),
        |tg AS (SELECT *,
        |    CAST((CAST(1000000 AS HUGEINT) * s_g * s_g) // n_g AS BIGINT) AS t_g
        |  FROM arms),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
        |    CAST(SUM(s_g) AS BIGINT) AS s, SUM(ss_g) AS ss,
        |    CAST(SUM(t_g) AS BIGINT) AS tsum
        |  FROM tg),
        |st AS (SELECT k, n,
        |    greatest(CAST(0 AS BIGINT),
        |      tsum - CAST((CAST(1000000 AS HUGEINT) * s * s) // n AS BIGINT)) AS ssb6,
        |    CAST(1000000 AS HUGEINT) * ss - tsum AS ssw6
        |  FROM agg WHERE k >= 2),
        |fin AS (SELECT k, n, ssb6, ssw6,
        |    CASE WHEN ssw6 = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(ssb6 AS HUGEINT) * (n - k) * 1000000)
        |              // (ssw6 * (k - 1)) AS BIGINT) END AS f6,
        |    CASE WHEN ssw6 = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(ssb6 AS HUGEINT) * (n - k) * 1000000) // ssw6 AS BIGINT)
        |    END AS chi2_6
        |  FROM st)
        |SELECT k, n, ssb6, CAST(ssw6 AS BIGINT) AS ssw6, f6, chi2_6,
        |  chi2_6 >= CASE k WHEN 2 THEN 3841459 WHEN 3 THEN 5991465 WHEN 4 THEN 7814728
        |                   WHEN 5 THEN 9487729 WHEN 6 THEN 11070498 WHEN 7 THEN 12591587
        |                   WHEN 8 THEN 14067140 WHEN 9 THEN 15507313 WHEN 10 THEN 16918978
        |                   ELSE 18307038 END AS significant
        |FROM fin""".stripMargin,
    "a_kruskal" -> kruskalOracleSql,
    "a_mcnemar" ->
      """WITH per AS (SELECT user_id,
        |    max(CASE WHEN ts < TIMESTAMP '2024-01-16' AND value > 140.0 THEN 1 ELSE 0 END)
        |      AS pre,
        |    max(CASE WHEN ts >= TIMESTAMP '2024-01-16' AND value > 140.0 THEN 1 ELSE 0 END)
        |      AS post
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM per)
        |SELECT n, b, c,
        |  CASE WHEN b + c = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(1000000 AS HUGEINT) * (CAST(b AS HUGEINT) - c)
        |             * (CAST(b AS HUGEINT) - c)) // (b + c) AS BIGINT) END AS chi2_6,
        |  CASE WHEN b + c = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(1000000 AS HUGEINT) * (CAST(b AS HUGEINT) - c)
        |             * (CAST(b AS HUGEINT) - c)) // (b + c) AS BIGINT) END >= 3841459
        |    AS significant
        |FROM agg""".stripMargin,
    "a_levene_bf" ->
      """WITH base AS (SELECT event_type AS arm, CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |meds AS (SELECT arm, y AS med FROM (
        |    SELECT arm, y, row_number() OVER (PARTITION BY arm ORDER BY y) AS rn,
        |           count(*) OVER (PARTITION BY arm) AS nn
        |    FROM base) WHERE rn = (nn + 1) // 2),
        |z AS (SELECT b.arm, abs(b.y - m.med) AS y FROM base b JOIN meds m USING (arm)),
        |arms AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_g,
        |    CAST(SUM(y) AS BIGINT) AS s_g,
        |    SUM(CAST(y AS HUGEINT) * y) AS ss_g
        |  FROM z GROUP BY 1 HAVING COUNT(*) >= 2),
        |tg AS (SELECT *,
        |    CAST((CAST(1000000 AS HUGEINT) * s_g * s_g) // n_g AS BIGINT) AS t_g
        |  FROM arms),
        |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
        |    CAST(SUM(s_g) AS BIGINT) AS s, SUM(ss_g) AS ss,
        |    CAST(SUM(t_g) AS BIGINT) AS tsum
        |  FROM tg),
        |st AS (SELECT k, n,
        |    greatest(CAST(0 AS BIGINT),
        |      tsum - CAST((CAST(1000000 AS HUGEINT) * s * s) // n AS BIGINT)) AS ssb6,
        |    CAST(1000000 AS HUGEINT) * ss - tsum AS ssw6
        |  FROM agg WHERE k >= 2),
        |fin AS (SELECT k, n, ssb6, ssw6,
        |    CASE WHEN ssw6 = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(ssb6 AS HUGEINT) * (n - k) * 1000000)
        |              // (ssw6 * (k - 1)) AS BIGINT) END AS f6,
        |    CASE WHEN ssw6 = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(ssb6 AS HUGEINT) * (n - k) * 1000000) // ssw6 AS BIGINT)
        |    END AS chi2_6
        |  FROM st)
        |SELECT k, n, ssb6, CAST(ssw6 AS BIGINT) AS ssw6, f6, chi2_6,
        |  chi2_6 >= CASE k WHEN 2 THEN 3841459 WHEN 3 THEN 5991465 WHEN 4 THEN 7814728
        |                   WHEN 5 THEN 9487729 WHEN 6 THEN 11070498 WHEN 7 THEN 12591587
        |                   WHEN 8 THEN 14067140 WHEN 9 THEN 15507313 WHEN 10 THEN 16918978
        |                   ELSE 18307038 END AS significant
        |FROM fin""".stripMargin,
    "dq_fk_candidates" ->
      """WITH c1 AS (SELECT 'events_user__customer' AS candidate,
        |  (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
        |   WHERE user_id IS NOT NULL) AS n_child_distinct,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |    (SELECT DISTINCT user_id AS k FROM events WHERE user_id IS NOT NULL) c
        |   WHERE EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.k)) AS n_contained),
        |c2 AS (SELECT 'lineitem_part__part' AS candidate,
        |  (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem
        |   WHERE l_partkey IS NOT NULL) AS n_child_distinct,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |    (SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_partkey IS NOT NULL) c
        |   WHERE EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = c.k)) AS n_contained),
        |c3 AS (SELECT 'customer_nation__nation' AS candidate,
        |  (SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) FROM customer
        |   WHERE c_nationkey IS NOT NULL) AS n_child_distinct,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |    (SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_nationkey IS NOT NULL) c
        |   WHERE EXISTS (SELECT 1 FROM nation p WHERE p.n_nationkey = c.k)) AS n_contained),
        |c4 AS (SELECT 'orders_cust__events_user' AS candidate,
        |  (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
        |   WHERE o_custkey IS NOT NULL) AS n_child_distinct,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |    (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL) c
        |   WHERE EXISTS (SELECT 1 FROM events p WHERE p.user_id = c.k)) AS n_contained),
        |u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
        |      UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4)
        |SELECT candidate, n_child_distinct, n_contained,
        |  CASE WHEN n_child_distinct = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(1000000 * n_contained // n_child_distinct AS BIGINT)
        |  END AS containment_ppm
        |FROM u ORDER BY candidate""".stripMargin,
    "dq_fd_check" ->
      """WITH f1g AS (SELECT l_orderkey AS x, CAST(COUNT(DISTINCT l_returnflag) AS BIGINT)
        |    AS ny, CAST(COUNT(*) AS BIGINT) AS nr
        |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |f1 AS (SELECT 'order_to_flag' AS fd, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
        |    CAST(SUM(CASE WHEN ny > 1 THEN nr ELSE 0 END) AS BIGINT) AS n_rows_at_risk
        |  FROM f1g),
        |f2g AS (SELECT n_nationkey AS x, CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS ny,
        |    CAST(COUNT(*) AS BIGINT) AS nr
        |  FROM nation WHERE n_nationkey IS NOT NULL GROUP BY 1),
        |f2 AS (SELECT 'nation_to_region' AS fd, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
        |    CAST(SUM(CASE WHEN ny > 1 THEN nr ELSE 0 END) AS BIGINT) AS n_rows_at_risk
        |  FROM f2g),
        |u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
        |SELECT fd, n_keys, n_violating_keys, n_rows_at_risk,
        |       n_violating_keys = 0 AS fd_holds
        |FROM u ORDER BY fd""".stripMargin,
    "s_quota_draw" ->
      s"""WITH base AS (SELECT event_type AS stratum, event_id AS key FROM events
         |  WHERE event_type IS NOT NULL AND event_id IS NOT NULL),
         |s AS (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM s),
         |b AS (SELECT stratum, n, CAST((100 * n) // nn AS BIGINT) AS base,
         |             CAST((100 * n) % nn AS BIGINT) AS rem
         |      FROM s CROSS JOIN t),
         |l AS (SELECT CAST(100 - SUM(base) AS BIGINT) AS leftover FROM b),
         |q AS (SELECT stratum,
         |        CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum)
         |                         <= (SELECT leftover FROM l) THEN 1 ELSE 0 END AS BIGINT)
         |          AS quota
         |      FROM b),
         |rk AS (SELECT stratum, key,
         |         CAST(row_number() OVER (PARTITION BY stratum
         |           ORDER BY ${sqlHash32("key")}, key) AS BIGINT) AS draw_rank
         |       FROM base)
         |SELECT rk.stratum, rk.key, rk.draw_rank
         |FROM rk JOIN q USING (stratum)
         |WHERE rk.draw_rank <= q.quota
         |ORDER BY stratum, draw_rank""".stripMargin,
    "a_median_ci" ->
      """WITH base AS (SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT g, v,
        |        CAST(row_number() OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS rn,
        |        CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |      FROM base),
        |x AS (SELECT *, (n + 1) // 2 AS m,
        |        CAST(floor(0.979982 * sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS o
        |      FROM r),
        |y AS (SELECT *, greatest(1, m - o) AS lo, least(n, m + o) AS hi FROM x)
        |SELECT g AS "group", CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MAX(CASE WHEN rn = lo THEN v END) AS BIGINT) AS ci_lo,
        |  CAST(MAX(CASE WHEN rn = m THEN v END) AS BIGINT) AS median,
        |  CAST(MAX(CASE WHEN rn = hi THEN v END) AS BIGINT) AS ci_hi
        |FROM y WHERE rn = m OR rn = lo OR rn = hi
        |GROUP BY g ORDER BY "group"""".stripMargin,
    "a_hill_tail" ->
      """WITH pos AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
        |  WHERE o_totalprice IS NOT NULL AND CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |top AS (SELECT v, row_number() OVER (ORDER BY v DESC) AS rn FROM pos
        |        QUALIFY rn <= 101),
        |ref AS (SELECT CAST(MIN(v) AS BIGINT) AS x_ref FROM top),
        |t AS (SELECT CAST(round(ln(CAST(v AS DOUBLE) / CAST(x_ref AS DOUBLE))
        |             * 1000000.0) AS BIGINT) AS t6
        |      FROM top CROSS JOIN ref WHERE rn <= 100),
        |h AS (SELECT CAST(SUM(t6) // 100 AS BIGINT) AS h6 FROM t)
        |SELECT CAST(100 AS BIGINT) AS k, ref.x_ref, h.h6,
        |  CASE WHEN h.h6 = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(1000000000000 // h.h6 AS BIGINT) END AS alpha6
        |FROM h CROSS JOIN ref""".stripMargin,
    "w_iat_entropy" ->
      """WITH e AS (SELECT user_id AS k, ts, event_id FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL),
        |g AS (SELECT k,
        |        CAST(floor(log2(CAST(epoch_us(ts) - epoch_us(prev) AS DOUBLE)
        |             / 1000000.0 + 1.0)) AS BIGINT) AS bucket
        |      FROM (SELECT k, ts,
        |              lag(ts) OVER (PARTITION BY k ORDER BY ts, event_id) AS prev
        |            FROM e)
        |      WHERE prev IS NOT NULL),
        |cells AS (SELECT k, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
        |tot AS (SELECT k, CAST(SUM(c) AS BIGINT) AS n_gaps FROM cells GROUP BY 1),
        |t AS (SELECT cells.k, n_gaps,
        |        CAST(round((CAST(c AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |             * ln(CAST(n_gaps AS DOUBLE) / CAST(c AS DOUBLE))
        |             * 1000000.0) AS BIGINT) AS t6
        |      FROM cells JOIN tot USING (k))
        |SELECT k AS key, CAST(MAX(n_gaps) AS BIGINT) AS n_gaps,
        |       CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |       CAST(SUM(t6) AS BIGINT) AS entropy6
        |FROM t GROUP BY 1 ORDER BY key""".stripMargin,
    "dq_l_diversity" ->
      """WITH g AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS s,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT seg, nat, CAST(SUM(c) AS BIGINT) AS n_rows,
        |       CAST(COUNT(*) AS BIGINT) AS n_distinct_sensitive
        |FROM g GROUP BY 1, 2 HAVING COUNT(*) < 6 ORDER BY seg, nat""".stripMargin,
    "dq_t_closeness" ->
      """WITH cells AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM customer GROUP BY 1, 2, 3),
        |corpus AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cc FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb, CAST(SUM(cc) AS BIGINT) AS nt
        |        FROM corpus),
        |grp AS (SELECT seg, nat, CAST(SUM(c) AS BIGINT) AS n_g FROM cells GROUP BY 1, 2),
        |dom AS (SELECT g.seg, g.nat, g.n_g, co.b, co.cc, COALESCE(cl.c, 0) AS c
        |        FROM grp g CROSS JOIN corpus co
        |        LEFT JOIN cells cl ON cl.seg = g.seg AND cl.nat = g.nat AND cl.b = co.b),
        |w AS (SELECT seg, nat, n_g, b, nb, nt,
        |        CAST(SUM(c) OVER (PARTITION BY seg, nat ORDER BY b
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_g,
        |        CAST(SUM(cc) OVER (PARTITION BY seg, nat ORDER BY b
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM dom CROSS JOIN tot),
        |gp AS (SELECT seg, nat, n_g, nb,
        |         abs((1000000 * cum_g) // n_g - (1000000 * cum) // nt) AS gap
        |       FROM w)
        |SELECT seg, nat, CAST(MAX(n_g) AS BIGINT) AS n_rows,
        |       CAST(SUM(gap) // MAX(nb) AS BIGINT) AS emd6
        |FROM gp GROUP BY seg, nat ORDER BY seg, nat""".stripMargin,
    "a_basket_rules" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM bi),
        |it AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_i FROM bi GROUP BY 1),
        |pr AS (SELECT x.i AS item_a, y.i AS item_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |       FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |j AS (SELECT pr.item_a, pr.item_b, a.n_i AS n_a, bb.n_i AS n_b, pr.n_ab, nb.n
        |      FROM pr JOIN it a ON a.i = pr.item_a JOIN it bb ON bb.i = pr.item_b
        |      CROSS JOIN nb)
        |SELECT item_a, item_b, n_a, n_b, n_ab,
        |  CAST(1000000 * n_ab // n AS BIGINT) AS support_ppm,
        |  CAST(1000000 * n_ab // n_a AS BIGINT) AS conf_a_b_ppm,
        |  CAST(1000000 * n_ab // n_b AS BIGINT) AS conf_b_a_ppm,
        |  CAST((CAST(1000000 AS HUGEINT) * n_ab * n) // (CAST(n_a AS HUGEINT) * n_b)
        |       AS BIGINT) AS lift6
        |FROM j ORDER BY lift6 DESC, item_a, item_b LIMIT 20""".stripMargin,
    "w_markov_nll" ->
      """WITH e AS (SELECT user_id AS k, event_type AS st, ts, event_id FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |tr AS (SELECT k, st AS from_state,
        |         lead(st) OVER (PARTITION BY k ORDER BY ts, event_id) AS to_state
        |       FROM e),
        |t2 AS (SELECT * FROM tr WHERE to_state IS NOT NULL),
        |cells AS (SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
        |          FROM t2 GROUP BY 1, 2),
        |rt AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |model AS (SELECT c.from_state, c.to_state,
        |    greatest(1, CAST((1000000 * c.n) // r.rt AS BIGINT)) AS p6
        |  FROM cells c JOIN rt r USING (from_state)),
        |m2 AS (SELECT from_state, to_state,
        |    CAST(round(ln(1000000.0 / CAST(p6 AS DOUBLE)) * 1000000.0) AS BIGINT) AS nll6
        |  FROM model)
        |SELECT k AS key, CAST(COUNT(*) AS BIGINT) AS n_transitions,
        |       CAST(SUM(nll6) AS BIGINT) AS nll_sum6,
        |       CAST(SUM(nll6) // COUNT(*) AS BIGINT) AS mean_nll6
        |FROM t2 JOIN m2 USING (from_state, to_state)
        |GROUP BY 1 ORDER BY key""".stripMargin,
    "a_cramers_matrix" -> {
      def block(label: String, ae: String, be: String): String =
        s"""SELECT '$label' AS pair, nn AS n_rows, (na - 1) * (nb - 1) AS dof,
           | CASE WHEN na > 1 AND nb > 1 THEN CAST(SUM(term6) AS BIGINT) ELSE 0 END AS chi26,
           | CASE WHEN na > 1 AND nb > 1 THEN
           |   CAST(round(1000 * sqrt(CAST(SUM(term6) AS DOUBLE)
           |     / CAST(nn * least(na - 1, nb - 1) AS DOUBLE))) AS BIGINT)
           | ELSE 0 END AS cramer_v6
           |FROM (
           | WITH cells AS (SELECT $ae AS a, $be AS b, CAST(COUNT(*) AS BIGINT) AS n
           |   FROM d WHERE $ae IS NOT NULL AND $be IS NOT NULL GROUP BY 1, 2),
           | rows_ AS (SELECT a, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY 1),
           | cols_ AS (SELECT b, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY 1),
           | tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
           |         CAST(COUNT(DISTINCT a) AS BIGINT) AS na,
           |         CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM cells),
           | grid AS (SELECT r.a, c.b, r.r, c.c, CAST(COALESCE(cl.n, 0) AS BIGINT) AS n
           |   FROM rows_ r CROSS JOIN cols_ c
           |   LEFT JOIN cells cl ON cl.a = r.a AND cl.b = c.b)
           | SELECT t.nn, t.na, t.nb,
           |   (CAST(1000000 AS HUGEINT)
           |     * CAST(t.nn * g.n - g.r * g.c AS HUGEINT)
           |     * CAST(t.nn * g.n - g.r * g.c AS HUGEINT))
           |   // (CAST(t.nn AS HUGEINT) * g.r * g.c) AS term6
           | FROM grid g CROSS JOIN tot t)
           |GROUP BY nn, na, nb""".stripMargin
      s"""WITH d AS (SELECT lang, source, CAST(n_chars // 200 AS BIGINT) AS len_bucket
         |  FROM documents)
         |SELECT * FROM (
         |${block("lang_source", "lang", "source")}
         |UNION ALL
         |${block("lang_len", "lang", "len_bucket")}
         |UNION ALL
         |${block("source_len", "source", "len_bucket")})
         |ORDER BY pair""".stripMargin
    },
    "w_twap" ->
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS t, event_id AS eid,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT k, v,
        |        lead(t) OVER (PARTITION BY k ORDER BY t, eid) - t AS gap
        |      FROM e),
        |agg AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    CAST(SUM(COALESCE(gap, 0)) AS BIGINT) AS span_micros,
        |    SUM(CASE WHEN gap IS NOT NULL THEN CAST(v AS HUGEINT) * gap
        |        ELSE CAST(0 AS HUGEINT) END) AS wv
        |  FROM g GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT k AS key, n_obs, span_micros,
        |  CASE WHEN span_micros = 0 THEN CAST(NULL AS BIGINT)
        |  ELSE CAST(wv // CAST(span_micros AS HUGEINT) AS BIGINT) END AS twap
        |FROM agg ORDER BY key""".stripMargin,
    "a_sprt" -> {
      // the SAME driver-side literal math as Experiments.sprtBernoulli
      // (p0 = 0.3, p1 = 0.4, alpha = beta = 0.05)
      val l1 = math.round(1e6 * math.log(0.4 / 0.3))
      val l0 = math.round(1e6 * math.log(0.6 / 0.7))
      val hi = math.round(1e6 * math.log(0.95 / 0.05))
      val lo = math.round(1e6 * math.log(0.05 / 0.95))
      s"""WITH e AS (SELECT event_type AS g,
         |    CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS s, ts, event_id
         |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
         |    AND ts IS NOT NULL AND event_id IS NOT NULL),
         |sc AS (SELECT g,
         |    CAST(row_number() OVER (PARTITION BY g ORDER BY ts, event_id) AS BIGINT) AS rn,
         |    CAST(count(*) OVER (PARTITION BY g ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n,
         |    CAST(SUM(s) OVER (PARTITION BY g ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS x
         |  FROM e),
         |ll AS (SELECT g, rn, n, x,
         |    CAST(x * $l1 + (n - x) * $l0 AS BIGINT) AS llr6,
         |    CASE WHEN x * $l1 + (n - x) * $l0 >= $hi THEN 'accept_h1'
         |         WHEN x * $l1 + (n - x) * $l0 <= $lo THEN 'accept_h0'
         |         ELSE 'continue' END AS decision
         |  FROM sc),
         |fc AS (SELECT g, MIN(rn) AS rn FROM ll WHERE decision <> 'continue' GROUP BY 1),
         |dec AS (SELECT ll.* FROM ll JOIN fc USING (g, rn)),
         |und AS (SELECT ll.* FROM ll JOIN
         |  (SELECT g, MAX(rn) AS rn FROM ll
         |   WHERE g NOT IN (SELECT g FROM fc) GROUP BY 1) u USING (g, rn))
         |SELECT g AS "group", n AS n_at_decision, x AS x_at_decision, llr6, decision
         |FROM (SELECT * FROM dec UNION ALL SELECT * FROM und)
         |ORDER BY "group"""".stripMargin
    },
    "dd_capture_recapture" ->
      s"""WITH $jaccardPairsSql,
         |sim AS (SELECT doc_id, ${sqlSimhash("tk")} AS simhash FROM tok),
         |sp0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |          a.simhash AS sh_a, b.simhash AS sh_b
         |        FROM sim a JOIN sim b
         |          ON substring(a.simhash, 1, 2) = substring(b.simhash, 1, 2)
         |         AND a.doc_id < b.doc_id),
         |sp AS (SELECT id_a, id_b FROM (
         |  SELECT id_a, id_b,
         |   CAST(list_reduce(list_transform(generate_series(1, 16), i ->
         |     bit_count(xor(strpos('0123456789abcdef', substring(sh_a, i, 1)) - 1,
         |                   strpos('0123456789abcdef', substring(sh_b, i, 1)) - 1))),
         |     (x, y) -> x + y) AS BIGINT) AS hamming
         |  FROM sp0) WHERE hamming <= 8),
         |pa AS (SELECT DISTINCT id_a, id_b FROM pairs),
         |pb AS (SELECT DISTINCT id_a, id_b FROM sp),
         |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a FROM pa),
         |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM pb),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap
         |      FROM pa JOIN pb USING (id_a, id_b)),
         |f AS (SELECT n_a, n_b, n_overlap,
         |        CAST((n_a + 1) * (n_b + 1) // (n_overlap + 1) AS BIGINT) - 1 AS n_hat
         |      FROM na CROSS JOIN nb CROSS JOIN m)
         |SELECT n_a, n_b, n_overlap, n_hat,
         |  CASE WHEN n_hat = 0 THEN CAST(0 AS BIGINT)
         |  ELSE CAST(1000000 * n_a // n_hat AS BIGINT) END AS recall_a_ppm,
         |  CASE WHEN n_hat = 0 THEN CAST(0 AS BIGINT)
         |  ELSE CAST(1000000 * n_b // n_hat AS BIGINT) END AS recall_b_ppm
         |FROM f""".stripMargin,
    "a_bh_fdr" ->
      s"""WITH zt AS ($abTestOracleSql),
         |r AS (SELECT "group", z2_6,
         |        CAST(row_number() OVER (ORDER BY z2_6 DESC, "group") AS BIGINT) AS rank
         |      FROM zt),
         |thr(rank, thr6) AS (VALUES (CAST(1 AS BIGINT), CAST(6634897 AS BIGINT)),
         |  (2, 5411894), (3, 4709292), (4, 4217885), (5, 3841459)),
         |j AS (SELECT r."group", r.rank, r.z2_6, thr.thr6,
         |        CASE WHEN r.z2_6 >= thr.thr6 THEN r.rank ELSE 0 END AS pass
         |      FROM r JOIN thr ON thr.rank = r.rank),
         |c AS (SELECT MAX(pass) AS cut FROM j)
         |SELECT "group", rank, z2_6, thr6, rank <= cut AS significant
         |FROM j CROSS JOIN c ORDER BY rank""".stripMargin,
    // same ranked family; the step-DOWN scan — min failing rank,
    // reject strictly before it
    "a_holm" ->
      s"""WITH zt AS ($abTestOracleSql),
         |r AS (SELECT "group", z2_6,
         |        CAST(row_number() OVER (ORDER BY z2_6 DESC, "group") AS BIGINT) AS rank
         |      FROM zt),
         |thr(rank, thr6) AS (VALUES (CAST(1 AS BIGINT), CAST(6634897 AS BIGINT)),
         |  (2, 6238533), (3, 5731139), (4, 5023886), (5, 3841459)),
         |j AS (SELECT r."group", r.rank, r.z2_6, thr.thr6,
         |        CASE WHEN r.z2_6 < thr.thr6 THEN r.rank ELSE 6 END AS fail
         |      FROM r JOIN thr ON thr.rank = r.rank),
         |c AS (SELECT MIN(fail) AS cut FROM j)
         |SELECT "group", rank, z2_6, thr6, rank < cut AS significant
         |FROM j CROSS JOIN c ORDER BY rank""".stripMargin,
    "a_cochran_q" ->
      """WITH per AS (SELECT user_id,
        |    max(CASE WHEN ts < TIMESTAMP '2024-01-11' AND value > 140.0
        |        THEN 1 ELSE 0 END) AS p1,
        |    max(CASE WHEN ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-21'
        |        AND value > 140.0 THEN 1 ELSE 0 END) AS p2,
        |    max(CASE WHEN ts >= TIMESTAMP '2024-01-21' AND value > 140.0
        |        THEN 1 ELSE 0 END) AS p3
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |r AS (SELECT user_id, p1 + p2 + p3 AS r FROM per),
        |ra AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units, CAST(SUM(r) AS BIGINT) AS n,
        |         CAST(SUM(r * r) AS BIGINT) AS rr FROM r),
        |ca AS (SELECT CAST(SUM(p1) AS BIGINT) AS c1, CAST(SUM(p2) AS BIGINT) AS c2,
        |         CAST(SUM(p3) AS BIGINT) AS c3 FROM per),
        |f AS (SELECT n_units, n, rr, c1*c1 + c2*c2 + c3*c3 AS cc FROM ra CROSS JOIN ca)
        |SELECT CAST(3 AS BIGINT) AS k, n_units,
        |  CASE WHEN 3 * n - rr = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(1000000 AS HUGEINT) * 2
        |             * (CAST(3 AS HUGEINT) * cc - CAST(n AS HUGEINT) * n))
        |            // (3 * n - rr) AS BIGINT) END AS q6,
        |  CASE WHEN 3 * n - rr = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(1000000 AS HUGEINT) * 2
        |             * (CAST(3 AS HUGEINT) * cc - CAST(n AS HUGEINT) * n))
        |            // (3 * n - rr) AS BIGINT) END >= 5991465 AS significant
        |FROM f""".stripMargin,
    "a_runs_test" ->
      """WITH e AS (SELECT event_type AS g, (user_id % 2 = 0) AS f, ts, event_id
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
        |l AS (SELECT g, f,
        |        lag(f) OVER (PARTITION BY g ORDER BY ts, event_id) AS prev
        |      FROM e),
        |agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN NOT f THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN prev IS NULL OR prev <> f THEN 1 ELSE 0 END) AS BIGINT)
        |      AS runs
        |  FROM l GROUP BY 1),
        |z AS (SELECT *,
        |  CASE WHEN 2 * n_a * n_b <= n THEN CAST(0 AS BIGINT)
        |  ELSE CAST(
        |    (CAST(1000000 AS HUGEINT)
        |     * (CAST(n AS HUGEINT) * runs - CAST(2 AS HUGEINT) * n_a * n_b - n)
        |     * (CAST(n AS HUGEINT) * runs - CAST(2 AS HUGEINT) * n_a * n_b - n)
        |     * CAST(n - 1 AS HUGEINT))
        |    // (CAST(2 AS HUGEINT) * n_a * n_b
        |        * (CAST(2 AS HUGEINT) * n_a * n_b - n)) AS BIGINT) END AS z2_6
        |  FROM agg)
        |SELECT g AS "group", n, n_a, n_b, runs, z2_6,
        |       z2_6 >= 3841459 AS significant
        |FROM z ORDER BY "group"""".stripMargin,
    "a_fleiss_kappa" ->
      s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS tk,
         |    regexp_split_to_array(trim(substr(text, 1, 80)),'\\s+') AS p80,
         |    regexp_split_to_array(trim(substr(text, 1, 40)),'\\s+') AS p40
         |  FROM documents),
         |rt AS (SELECT doc_id, ${TextAnalysis.langIdSql(SparkEntry.langMarkers, "tk")} AS cat FROM tok
         |  UNION ALL SELECT doc_id, ${TextAnalysis.langIdSql(SparkEntry.langMarkers, "p80")} FROM tok
         |  UNION ALL SELECT doc_id, ${TextAnalysis.langIdSql(SparkEntry.langMarkers, "p40")} FROM tok),
         |cells AS (SELECT doc_id AS u, cat, CAST(COUNT(*) AS BIGINT) AS c FROM rt GROUP BY 1, 2),
         |un AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_units FROM cells),
         |pn AS (SELECT CAST(SUM(ss - nn) AS BIGINT) AS pnum FROM
         |  (SELECT u, SUM(c * c) AS ss, SUM(c) AS nn FROM cells GROUP BY 1)),
         |pj AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
         |         SUM(CAST(cj AS HUGEINT) * cj) AS cc FROM
         |  (SELECT cat, SUM(c) AS cj FROM cells GROUP BY 1)),
         |f AS (SELECT n_units, n_categories,
         |    CAST((CAST(1000000 AS HUGEINT) * pnum)
         |         // (CAST(n_units AS HUGEINT) * 3 * 2) AS BIGINT) AS pbar6,
         |    CAST((CAST(1000000 AS HUGEINT) * cc)
         |         // (CAST(n_units AS HUGEINT) * 3 * n_units * 3) AS BIGINT) AS pe6
         |  FROM un CROSS JOIN pn CROSS JOIN pj)
         |SELECT n_units, CAST(3 AS BIGINT) AS n_raters, n_categories, pbar6, pe6,
         |  CASE WHEN pe6 >= 1000000 THEN CAST(0 AS BIGINT)
         |       WHEN pbar6 >= pe6
         |         THEN CAST((1000000 * (pbar6 - pe6)) // (1000000 - pe6) AS BIGINT)
         |       ELSE CAST(-((1000000 * (pe6 - pbar6)) // (1000000 - pe6)) AS BIGINT)
         |  END AS kappa6
         |FROM f""".stripMargin,
    "a_mood_median" ->
      """WITH base AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS n
        |      FROM base),
        |med AS (SELECT v AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (SELECT event_type AS a, (v > med) AS b FROM base CROSS JOIN med),
        |cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
        |rows_ AS (SELECT a, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY 1),
        |cols_ AS (SELECT b, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |               CAST(COUNT(DISTINCT a) AS BIGINT) AS na,
        |               CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM cells),
        |grid AS (SELECT r.a, c.b, r.r, c.c, CAST(COALESCE(cl.n, 0) AS BIGINT) AS n
        |  FROM rows_ r CROSS JOIN cols_ c
        |  LEFT JOIN cells cl ON cl.a = r.a AND cl.b = c.b),
        |terms AS (SELECT t.nn, t.na, t.nb,
        |   (CAST(1000000 AS HUGEINT)
        |     * CAST(t.nn * g.n - g.r * g.c AS HUGEINT)
        |     * CAST(t.nn * g.n - g.r * g.c AS HUGEINT))
        |   // (CAST(t.nn AS HUGEINT) * g.r * g.c) AS term6
        |  FROM grid g CROSS JOIN tot t)
        |SELECT nn AS n_rows, na AS n_a, nb AS n_b,
        | (na - 1) * (nb - 1) AS dof,
        | CASE WHEN na > 1 AND nb > 1 THEN CAST(SUM(term6) AS BIGINT) ELSE 0 END AS chi26,
        | CASE WHEN na > 1 AND nb > 1 THEN
        |   CAST(round(1000 * sqrt(CAST(SUM(term6) AS DOUBLE)
        |     / CAST(nn * least(na - 1, nb - 1) AS DOUBLE))) AS BIGINT)
        | ELSE 0 END AS cramer_v6
        |FROM terms GROUP BY nn, na, nb""".stripMargin,
    "a_friedman" ->
      """WITH per AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-11'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS p1,
        |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-21'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS p2,
        |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-21'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS p3
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |base AS (SELECT user_id AS u, 'p1' AS trt, p1 AS v FROM per
        |  UNION ALL SELECT user_id, 'p2', p2 FROM per
        |  UNION ALL SELECT user_id, 'p3', p3 FROM per),
        |dv AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS t FROM base GROUP BY 1, 2),
        |rk AS (SELECT u, v, t,
        |         CAST(COALESCE(SUM(t) OVER (PARTITION BY u ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS BIGINT)
        |           AS rmin
        |       FROM dv),
        |rnk AS (SELECT b.u, b.trt, 2 * rk.rmin + rk.t - 1 AS d
        |        FROM base b JOIN rk ON rk.u = b.u AND rk.v = b.v),
        |nn AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n FROM rnk),
        |dd AS (SELECT CAST(SUM(d * d) AS BIGINT) AS d2 FROM rnk),
        |r2 AS (SELECT trt, CAST(SUM(d) AS BIGINT) AS r2 FROM rnk GROUP BY 1),
        |num AS (SELECT SUM(CAST(r2 - n * 4 AS HUGEINT) * (r2 - n * 4)) AS ns
        |        FROM r2 CROSS JOIN nn),
        |f AS (SELECT n, d2, ns,
        |        CASE WHEN d2 - n * 48 = 0 THEN CAST(0 AS BIGINT)
        |        ELSE CAST((CAST(1000000 AS HUGEINT) * 2 * ns) // (d2 - n * 48) AS BIGINT)
        |        END AS chi2_6
        |      FROM nn CROSS JOIN dd CROSS JOIN num)
        |SELECT CAST(3 AS BIGINT) AS k, n AS n_units, chi2_6,
        |  CAST(chi2_6 // (n * 2) AS BIGINT) AS w6,
        |  chi2_6 >= 5991465 AS significant
        |FROM f""".stripMargin,
    "a_jonckheere" ->
      """WITH base AS (SELECT
        |    1 + (CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS arm,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |va AS (SELECT CAST(arm AS BIGINT) AS arm, v, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM base GROUP BY 1, 2),
        |spine AS (SELECT DISTINCT v FROM va),
        |arms AS (SELECT DISTINCT arm FROM va),
        |filled AS (SELECT a.arm, s.v, CAST(COALESCE(va.c, 0) AS BIGINT) AS c
        |           FROM arms a CROSS JOIN spine s
        |           LEFT JOIN va ON va.arm = a.arm AND va.v = s.v),
        |bg AS (SELECT arm, v, c,
        |         CAST(COALESCE(SUM(c) OVER (PARTITION BY arm ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS b
        |       FROM filled),
        |jt AS (SELECT CAST(COALESCE(SUM(h.c * (2 * g.b + g.c)), 0) AS BIGINT) AS jt2
        |       FROM bg g JOIN va h ON h.v = g.v AND g.arm < h.arm),
        |gs AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n_g) AS BIGINT) AS n,
        |         CAST(SUM(n_g * n_g) AS BIGINT) AS sq,
        |         CAST(SUM(n_g * (n_g - 1) * (2 * n_g + 5)) AS BIGINT) AS ga,
        |         CAST(SUM(n_g * (n_g - 1) * (n_g - 2)) AS BIGINT) AS gb,
        |         CAST(SUM(n_g * (n_g - 1)) AS BIGINT) AS gc
        |       FROM (SELECT arm, CAST(SUM(c) AS BIGINT) AS n_g FROM va GROUP BY 1)),
        |tt AS (SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS ta,
        |         CAST(SUM(t * (t - 1) * (t - 2)) AS BIGINT) AS tb,
        |         CAST(SUM(t * (t - 1)) AS BIGINT) AS tc
        |       FROM (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM va GROUP BY 1)),
        |f AS (SELECT k, n, jt2, CAST((n * n - sq) // 2 AS BIGINT) AS e2,
        |        CASE WHEN n < 3 THEN CAST(0 AS HUGEINT)
        |        ELSE ((CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - ga - ta)
        |                * n * (n - 1) * (n - 2)
        |              + 2 * CAST(gb AS HUGEINT) * tb
        |              + 9 * CAST(n - 2 AS HUGEINT) * gc * tc)
        |             // (CAST(n AS HUGEINT) * (n - 1) * (n - 2)) END AS var72
        |      FROM jt CROSS JOIN gs CROSS JOIN tt)
        |SELECT k, n, jt2, e2,
        |  CASE WHEN var72 <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(18000000 AS HUGEINT) * (jt2 - e2) * (jt2 - e2))
        |       // var72 AS BIGINT) END AS z2_6,
        |  CASE WHEN var72 <= 0 THEN FALSE
        |  ELSE (CAST(18000000 AS HUGEINT) * (jt2 - e2) * (jt2 - e2)) // var72
        |       >= 3841459 END AS significant
        |FROM f""".stripMargin,
    "a_page_trend" ->
      """WITH per AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-11'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS p1,
        |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-21'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS p2,
        |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-21'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS p3
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |base AS (SELECT user_id AS u, CAST(1 AS BIGINT) AS w, p1 AS v FROM per
        |  UNION ALL SELECT user_id, 2, p2 FROM per
        |  UNION ALL SELECT user_id, 3, p3 FROM per),
        |dv AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS t FROM base GROUP BY 1, 2),
        |rk AS (SELECT u, v, t,
        |         CAST(COALESCE(SUM(t) OVER (PARTITION BY u ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS BIGINT)
        |           AS rmin
        |       FROM dv),
        |rnk AS (SELECT b.u, b.w, 2 * rk.rmin + rk.t - 1 AS d
        |        FROM base b JOIN rk ON rk.u = b.u AND rk.v = b.v),
        |nn AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n FROM rnk),
        |l AS (SELECT CAST(SUM(w * d) AS BIGINT) AS l2 FROM rnk),
        |f AS (SELECT n, l2, CAST(n * 24 AS BIGINT) AS e2,
        |        CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
        |        ELSE CAST((CAST(36000000 AS HUGEINT)
        |               * (l2 - n * 24) * (l2 - n * 24))
        |             // (CAST(n AS HUGEINT) * 288) AS BIGINT) END AS z2_6
        |      FROM nn CROSS JOIN l)
        |SELECT CAST(3 AS BIGINT) AS k, n AS n_units, l2, e2, z2_6,
        |       z2_6 >= 3841459 AS significant
        |FROM f""".stripMargin,
    "a_roc_auc" -> rocAucOracleSql,
    "a_calibration" ->
      """WITH base AS (SELECT (event_type = 'purchase') AS y,
        |    LEAST(1000000, CAST(round(value * 100) AS BIGINT) * 100) AS s6
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |b AS (SELECT LEAST(9, (s6 * 10) // 1000000) AS bin, s6,
        |        CASE WHEN y THEN 1 ELSE 0 END AS yy
        |      FROM base),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yy) AS BIGINT) AS x,
        |        CAST(SUM(s6) AS BIGINT) AS ss
        |      FROM b GROUP BY 1)
        |SELECT CAST(bin AS BIGINT) AS bin, n, x,
        |  CAST(ss // n AS BIGINT) AS conf6,
        |  CAST((1000000 * x) // n AS BIGINT) AS acc6,
        |  CAST(abs((1000000 * x) // n - ss // n) AS BIGINT) AS gap6
        |FROM g ORDER BY bin""".stripMargin,
    "a_brier_ece" -> brierEceOracleSql,
    "a_qte" ->
      """WITH base AS (SELECT
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS s,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base WHERE s = 'A'),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base WHERE s = 'B'),
        |ra AS (SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS r
        |       FROM base WHERE s = 'A'),
        |rb AS (SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS r
        |       FROM base WHERE s = 'B'),
        |ta AS (SELECT CAST(g.d AS BIGINT) AS bucket, greatest(1, (g.d * na.n) // 10) AS r
        |       FROM generate_series(1, 10) AS g(d), na),
        |tb AS (SELECT CAST(g.d AS BIGINT) AS bucket, greatest(1, (g.d * nb.n) // 10) AS r
        |       FROM generate_series(1, 10) AS g(d), nb),
        |qa AS (SELECT ta.bucket, ra.v AS q_a FROM ta JOIN ra USING (r)),
        |qb AS (SELECT tb.bucket, rb.v AS q_b FROM tb JOIN rb USING (r))
        |SELECT qa.bucket, 'A' AS side_a, 'B' AS side_b, q_a, q_b,
        |       q_a - q_b AS qte
        |FROM qa JOIN qb USING (bucket) ORDER BY qa.bucket""".stripMargin,
    "a_youden" ->
      """WITH base AS (SELECT (event_type = 'purchase') AS y,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |cnt AS (SELECT v,
        |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM base GROUP BY 1),
        |t AS (SELECT CAST(SUM(np) AS BIGINT) AS tnp, CAST(SUM(nn) AS BIGINT) AS tnn
        |      FROM cnt),
        |cum AS (SELECT v,
        |    CAST(SUM(np) OVER (ORDER BY v DESC) AS BIGINT) AS tp,
        |    CAST(SUM(nn) OVER (ORDER BY v DESC) AS BIGINT) AS fp
        |  FROM cnt),
        |j AS (SELECT v, tp, fp, tnp, tnn,
        |    CAST((1000000 * tp) // tnp AS BIGINT)
        |      - CAST((1000000 * fp) // tnn AS BIGINT) AS j6
        |  FROM cum, t),
        |best AS (SELECT * FROM j ORDER BY j6 DESC, v DESC LIMIT 1),
        |d AS (SELECT *,
        |    CAST(tp AS HUGEINT) * (tnn - fp) - CAST(fp AS HUGEINT) * (tnp - tp) AS dd
        |  FROM best)
        |SELECT v AS thr, tnp AS n_pos, tnn AS n_neg, tp, fp, j6,
        |  CASE WHEN tp + fp = 0 OR tnp + tnn - tp - fp = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CASE WHEN dd >= 0 THEN 1 ELSE -1 END)
        |    * ((CAST(1000000 AS HUGEINT) * dd * dd)
        |       // (CAST(tp + fp AS HUGEINT) * tnp * tnn * (tnp + tnn - tp - fp)))
        |    AS BIGINT) END AS mcc2s6
        |FROM d""".stripMargin,
    "a_gains" ->
      """WITH per AS (SELECT user_id,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS buyer
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1),
        |rk AS (SELECT cents, user_id, buyer,
        |    CAST(row_number() OVER (ORDER BY cents DESC, user_id) AS BIGINT) AS r
        |  FROM per),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(buyer) AS BIGINT) AS x
        |      FROM per),
        |b AS (SELECT ((r - 1) * 10) // n + 1 AS bucket, buyer, n, x FROM rk, t),
        |g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_d,
        |        CAST(SUM(buyer) AS BIGINT) AS x_d,
        |        ANY_VALUE(n) AS n, ANY_VALUE(x) AS x
        |      FROM b GROUP BY 1),
        |c AS (SELECT *, CAST(SUM(x_d) OVER (ORDER BY bucket) AS BIGINT) AS cumx FROM g)
        |SELECT CAST(bucket AS BIGINT) AS bucket, n_d AS n, x_d AS x,
        |  CAST((1000000 * x_d) // n_d AS BIGINT) AS rate6,
        |  CASE WHEN x = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(1000000 AS HUGEINT) * x_d * n)
        |            // (CAST(n_d AS HUGEINT) * x) AS BIGINT) END AS lift6,
        |  CASE WHEN x = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((1000000 * cumx) // x AS BIGINT) END AS cum_gain6
        |FROM c ORDER BY bucket""".stripMargin,
    "a_isotonic" ->
      """WITH base AS (SELECT (event_type = 'purchase') AS y,
        |    LEAST(1000000, CAST(round(value * 100) AS BIGINT) * 100) AS s6
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |b AS (SELECT LEAST(9, (s6 * 10) // 1000000) AS bin, s6,
        |        CASE WHEN y THEN 1 ELSE 0 END AS yy
        |      FROM base),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yy) AS BIGINT) AS x
        |      FROM b GROUP BY 1),
        |acc AS (SELECT bin, n, x, CAST((1000000 * x) // n AS BIGINT) AS acc6 FROM g),
        |iv AS (SELECT j.bin AS j, l.bin AS l,
        |         CAST((1000000 * SUM(m.x)) // SUM(m.n) AS BIGINT) AS avg6
        |       FROM g j JOIN g l ON j.bin <= l.bin
        |            JOIN g m ON m.bin BETWEEN j.bin AND l.bin
        |       GROUP BY 1, 2),
        |mn AS (SELECT iv.j, i.bin AS i, MIN(avg6) AS m
        |       FROM iv JOIN g i ON i.bin >= iv.j AND i.bin <= iv.l
        |       GROUP BY 1, 2),
        |iso AS (SELECT i AS bin, CAST(MAX(m) AS BIGINT) AS iso6 FROM mn GROUP BY 1)
        |SELECT acc.bin, acc.n, acc.x, acc.acc6, iso.iso6
        |FROM acc JOIN iso USING (bin) ORDER BY acc.bin""".stripMargin,
    "a_brier_decomp" ->
      """WITH base AS (SELECT (event_type = 'purchase') AS y,
        |    LEAST(1000000, CAST(round(value * 100) AS BIGINT) * 100) AS s6
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |b AS (SELECT LEAST(9, (s6 * 10) // 1000000) AS bin, s6,
        |        CASE WHEN y THEN 1 ELSE 0 END AS yy
        |      FROM base),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(yy) AS BIGINT) AS x,
        |        CAST(SUM(s6) AS BIGINT) AS ss
        |      FROM b GROUP BY 1),
        |a2 AS (SELECT bin, n, x, CAST(ss // n AS BIGINT) AS conf6,
        |         CAST((1000000 * x) // n AS BIGINT) AS acc6 FROM g),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(x) AS BIGINT) AS xt FROM g),
        |bb AS (SELECT nt, CAST((1000000 * xt) // nt AS BIGINT) AS base6 FROM t)
        |SELECT nt AS n, base6,
        |  CAST(SUM(CAST(a2.n AS HUGEINT) * (conf6 - acc6) * (conf6 - acc6)) // nt
        |       AS BIGINT) AS rel12,
        |  CAST(SUM(CAST(a2.n AS HUGEINT) * (acc6 - base6) * (acc6 - base6)) // nt
        |       AS BIGINT) AS res12,
        |  CAST(base6 * (1000000 - base6) AS BIGINT) AS unc12
        |FROM a2, bb GROUP BY nt, base6""".stripMargin,
    "a_odds_ratio" ->
      """WITH cells AS (
        | SELECT event_type AS g,
        |        CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
        |        CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
        | FROM events
        | WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
        | GROUP BY 1, 2),
        |mm AS (SELECT g, COUNT(*) AS nv, MIN(v) AS variant_a, MAX(v) AS variant_b
        |       FROM cells GROUP BY 1),
        |j AS (SELECT mm.g, mm.variant_a, mm.variant_b,
        |             a.n AS n_a, a.x AS x_a, b.n AS n_b, b.x AS x_b
        |      FROM mm JOIN cells a ON a.g = mm.g AND a.v = mm.variant_a
        |              JOIN cells b ON b.g = mm.g AND b.v = mm.variant_b
        |      WHERE mm.nv = 2),
        |h AS (SELECT j.*,
        |        2 * x_a + 1 AS a1, 2 * (n_a - x_a) + 1 AS a0,
        |        2 * x_b + 1 AS b1, 2 * (n_b - x_b) + 1 AS b0
        |      FROM j),
        |z AS (SELECT g, variant_a, variant_b, n_a, x_a, n_b, x_b,
        |        CAST(round(ln((CAST(b1 AS DOUBLE) * CAST(a0 AS DOUBLE))
        |                      / (CAST(a1 AS DOUBLE) * CAST(b0 AS DOUBLE)))
        |                   * 1000000.0) AS BIGINT) AS ln_or6,
        |        CAST(round(1.959964 * sqrt(2.0 / CAST(a1 AS DOUBLE)
        |              + 2.0 / CAST(a0 AS DOUBLE) + 2.0 / CAST(b1 AS DOUBLE)
        |              + 2.0 / CAST(b0 AS DOUBLE)) * 1000000.0) AS BIGINT) AS hw6
        |      FROM h)
        |SELECT g AS "group", variant_a, variant_b, n_a, x_a, n_b, x_b, ln_or6,
        |  ln_or6 - hw6 AS ci_lo6, ln_or6 + hw6 AS ci_hi6,
        |  (ln_or6 - hw6 > 0 OR ln_or6 + hw6 < 0) AS significant
        |FROM z ORDER BY "group"""".stripMargin,
    "a_cliffs_delta" ->
      s"""WITH mw AS ($mannWhitneyOracleSql)
         |SELECT side_a, side_b, n_a, n_b,
         |  CAST((1000000 * u2x) // (n_a * n_b) - 1000000 AS BIGINT) AS delta6
         |FROM mw""".stripMargin,
    "a_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cwk FROM e GROUP BY 1)
        |SELECT strftime(make_timestamp(cwk * 604800000000), '%Y-%m-%d') AS cohort_week,
        |       CAST(wk - cwk AS BIGINT) AS offset_weeks,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, offset_weeks""".stripMargin,
    "t_ngram_novelty" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |       FROM tok WHERE len(tk) >= 3),
        |dfc AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1)
        |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |       CAST(count(*) FILTER (df = 1) AS BIGINT) AS n_unique,
        |       CAST(count(*) FILTER (df = 1) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
        |FROM sh JOIN dfc ON sh.s = dfc.s
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "j_salted_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "i_cdc_apply" ->
      """WITH base AS (
        |  SELECT user_id, value, CAST(-9223372036854775808 AS BIGINT) AS seq, 'upsert' AS op
        |  FROM (SELECT user_id, value,
        |          row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |        FROM events WHERE event_id < 5000)
        |  WHERE rn = 1),
        |chg AS (SELECT user_id, value, event_id AS seq,
        |          CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
        |        FROM events WHERE event_id >= 5000),
        |u AS (SELECT user_id, value, seq, op FROM base
        |      UNION ALL SELECT user_id, value, seq, op FROM chg),
        |w AS (SELECT user_id, max_by(op, seq) AS op, max_by(value, seq) AS value
        |      FROM u GROUP BY 1)
        |SELECT user_id, value FROM w WHERE op <> 'delete'
        |ORDER BY user_id""".stripMargin,
    "o_zorder_skipping" -> {
      // the engine's Layout.zValue: bit b of partkey%1024 at position
      // 2b+1, bit b of suppkey%1024 at position 2b, bucket = z // 2048
      val zExpr = (0 until 10)
        .map(b =>
          s"((l_partkey % 1024) // ${1L << b} % 2) * ${1L << (2 * b + 1)} + " +
            s"((l_suppkey % 1024) // ${1L << b} % 2) * ${1L << (2 * b)}")
        .mkString(" + ")
      s"""WITH zb AS (SELECT ($zExpr) // 2048 AS bucket,
         |            min(l_partkey) AS mn, max(l_partkey) AS mx
         |            FROM lineitem GROUP BY 1),
         |nb AS (SELECT l_orderkey // 256 AS bucket,
         |       min(l_partkey) AS mn, max(l_partkey) AS mx
         |       FROM lineitem GROUP BY 1),
         |zr AS (SELECT 'zorder' AS layout, CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(sum(CASE WHEN mn < 200 AND mx >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS touched
         |       FROM zb),
         |nr AS (SELECT 'natural' AS layout, CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(sum(CASE WHEN mn < 200 AND mx >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS touched
         |       FROM nb)
         |SELECT layout, n_buckets, touched FROM zr
         |UNION ALL SELECT layout, n_buckets, touched FROM nr
         |ORDER BY layout""".stripMargin
    },
    // the normalizer folds an ORDERED list (left fold seeded with the
    // first element — bit-equal to the engine's 0.0-seeded foldLeft
    // over source-sorted counts); every per-source double repeats the
    // identical IEEE chain
    "s_epoch_plan" ->
      """WITH c AS (SELECT source,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS n_toks
        |  FROM documents GROUP BY 1
        |  HAVING n_toks > 0),
        |zl AS (SELECT list_reduce(list(pow(CAST(n_toks AS DOUBLE), 0.7) ORDER BY source),
        |                          (a, b) -> a + b) AS z FROM c),
        |p AS (SELECT source, n_toks,
        |        pow(CAST(n_toks AS DOUBLE), 0.7) / z AS w,
        |        least((pow(CAST(n_toks AS DOUBLE), 0.7) / z * 1000000.0) / CAST(n_toks AS DOUBLE), 4.0) AS ep
        |      FROM c CROSS JOIN zl)
        |SELECT source, n_toks,
        |  CAST(round(w * 1000000) AS BIGINT) AS w6,
        |  CAST(round(ep * 1000000) AS BIGINT) AS epochs6,
        |  CAST(CAST(round(ep * 1000000) AS BIGINT) AS DOUBLE) / 1000000.0 AS epochs
        |FROM p ORDER BY source""".stripMargin,
    // per-column legs generated from one template (tie-break: highest
    // n, then smallest value-string — the profile contract)
    "dq_profile" -> {
      def leg(c: String): String =
        s"""SELECT '$c' AS col_name,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  (SELECT CAST($c AS VARCHAR) FROM orders WHERE $c IS NOT NULL
           |   GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1) AS top_value,
           |  (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE $c IS NOT NULL
           |   GROUP BY CAST($c AS VARCHAR) ORDER BY count(*) DESC, CAST($c AS VARCHAR) LIMIT 1) AS top_n
           |FROM orders""".stripMargin
      Seq("o_custkey", "o_orderpriority", "o_orderstatus")
        .map(leg)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    // exact integer order statistics over the count-of-counts
    // histogram; percentile targets in ceil integer division (//),
    // mirroring Checks.skewReport bit for bit
    "dq_skew_report" ->
      """WITH gs AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id),
        |cc AS (SELECT n, CAST(count(*) AS BIGINT) AS groups FROM gs GROUP BY n),
        |tot AS (SELECT CAST(sum(groups) AS BIGINT) AS n_keys,
        |               CAST(sum(n * groups) AS BIGINT) AS total_rows,
        |               CAST(max(n) AS BIGINT) AS max_n FROM cc),
        |cum AS (SELECT n, sum(groups) OVER (ORDER BY n) AS cum FROM cc),
        |p50 AS (SELECT min(n) AS v FROM cum, tot WHERE cum >= (1 * n_keys + 1) // 2),
        |p99 AS (SELECT min(n) AS v FROM cum, tot WHERE cum >= (99 * n_keys + 99) // 100)
        |SELECT tot.n_keys, tot.total_rows, tot.max_n,
        |       CAST(p50.v AS BIGINT) AS p50_n, CAST(p99.v AS BIGINT) AS p99_n,
        |       (tot.max_n * 1000000 * tot.n_keys) // tot.total_rows AS skew6
        |FROM tot, p50, p99""".stripMargin,
    "dq_skew_topk" ->
      """WITH gs AS (SELECT CAST(user_id AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n
        |            FROM events GROUP BY user_id),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM gs)
        |SELECT key, n, (n * 1000000) // t AS share6 FROM gs, tot
        |ORDER BY n DESC, key LIMIT 10""".stripMargin,
    "dq_index_coverage" ->
      """WITH e AS (SELECT DISTINCT doc_id FROM documents WHERE length(trim(text)) > 0),
        |a AS (SELECT DISTINCT doc_id FROM documents WHERE length(trim(text)) > 0)
        |SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_expected,
        |       CAST((SELECT count(*) FROM a) AS BIGINT) AS n_actual,
        |       CAST(0 AS BIGINT) AS n_missing,
        |       CAST(0 AS BIGINT) AS n_extra,
        |       TRUE AS covered""".stripMargin,
    // quality CTEs derived from the shared engine constants (the
    // t_funnel_e2e rule); the KS walk replays ksDrift's integer
    // same trailing-ROWS window over the pre-aggregated count table;
    // the CASE guard and the z expression mirror the engine verbatim
    "dq_volume_anomaly" -> volumeAnomalyOracleSql,
    // the identical [S, maxS] micro-unit fold replayed by list_reduce
    // over the bucket-ordered counts
    "w_cusum" -> cusumOracleSql,
    // the identical [i, S, m, min_m, max_ph] running-mean fold
    // replayed by list_reduce; mean6 = (1e6*S_i) // i off the exact
    // prefix sum (S >= 0, so floor == truncation on both engines);
    // shared with the streaming twin st_page_hinkley
    "w_page_hinkley" -> pageHinkleyOracleSql,
    "a_sign_test" ->
      """WITH per AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS pre,
        |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS post
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |agg AS (SELECT
        |    CAST(SUM(CASE WHEN post > pre THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(SUM(CASE WHEN post < pre THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |    CAST(SUM(CASE WHEN post = pre THEN 1 ELSE 0 END) AS BIGINT) AS n_tie
        |  FROM per)
        |SELECT n_pos, n_neg, n_tie,
        |  CASE WHEN n_pos + n_neg = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(1000000 AS HUGEINT) * (n_pos - n_neg) * (n_pos - n_neg))
        |            // (n_pos + n_neg) AS BIGINT) END AS z2_6,
        |  CASE WHEN n_pos + n_neg = 0 THEN FALSE
        |  ELSE (CAST(1000000 AS HUGEINT) * (n_pos - n_neg) * (n_pos - n_neg))
        |       // (n_pos + n_neg) >= 3841459 END AS significant
        |FROM agg""".stripMargin,
    "a_cmh" ->
      """WITH cells AS (SELECT event_type AS st,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |strata AS (SELECT st,
        |    CAST(SUM(CASE WHEN v = 'A' THEN n ELSE 0 END) AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN v = 'A' THEN x ELSE 0 END) AS BIGINT) AS xa,
        |    CAST(SUM(CASE WHEN v = 'B' THEN n ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN v = 'B' THEN x ELSE 0 END) AS BIGINT) AS xb
        |  FROM cells GROUP BY 1),
        |t2 AS (SELECT st, na, xa, nb, xb,
        |    CASE WHEN na + nb = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000 AS HUGEINT) * na * (xa + xb)) // (na + nb)
        |              AS BIGINT) END AS e6,
        |    CASE WHEN na + nb < 2 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000 AS HUGEINT) * na * nb * (xa + xb)
        |               * (na + nb - xa - xb))
        |              // (CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb - 1))
        |              AS BIGINT) END AS v6,
        |    CASE WHEN na + nb = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000 AS HUGEINT) * xa * (nb - xb)) // (na + nb)
        |              AS BIGINT) END AS rn6,
        |    CASE WHEN na + nb = 0 THEN CAST(0 AS BIGINT)
        |    ELSE CAST((CAST(1000000 AS HUGEINT) * xb * (na - xa)) // (na + nb)
        |              AS BIGINT) END AS rd6
        |  FROM strata),
        |f AS (SELECT 'A' AS variant_a, 'B' AS variant_b,
        |    CAST(COUNT(*) AS BIGINT) AS k_strata,
        |    CAST(SUM(na + nb) AS BIGINT) AS n, CAST(SUM(xa) AS BIGINT) AS o_a,
        |    CAST(SUM(e6) AS BIGINT) AS e6, CAST(SUM(v6) AS BIGINT) AS v6,
        |    CAST(SUM(rn6) AS BIGINT) AS rn, CAST(SUM(rd6) AS BIGINT) AS rd
        |  FROM t2)
        |SELECT variant_a, variant_b, k_strata, n, o_a, e6, v6,
        |  CASE WHEN v6 <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(((CAST(1000000 AS HUGEINT) * o_a - e6)
        |             * (CAST(1000000 AS HUGEINT) * o_a - e6)) // v6 AS BIGINT)
        |  END AS z2_6,
        |  CASE WHEN rd <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(1000000 AS HUGEINT) * rn) // rd AS BIGINT) END AS or_mh6,
        |  CASE WHEN v6 <= 0 THEN FALSE
        |  ELSE ((CAST(1000000 AS HUGEINT) * o_a - e6)
        |        * (CAST(1000000 AS HUGEINT) * o_a - e6)) // v6 >= 3841459
        |  END AS significant
        |FROM f""".stripMargin,
    "a_jackknife" ->
      """WITH cells AS (SELECT user_id % 10 AS b,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS x,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(x) AS BIGINT) AS xt,
        |        CAST(SUM(n) AS BIGINT) AS nt FROM cells),
        |reps AS (SELECT b,
        |    CAST((CAST(1000000 AS HUGEINT) * (xt - x)) // (nt - n) AS BIGINT) AS r6
        |  FROM cells, t),
        |rb AS (SELECT CAST(SUM(r6) // COUNT(*) AS BIGINT) AS rbar6 FROM reps),
        |ss AS (SELECT SUM(CAST(r6 - rbar6 AS HUGEINT) * (r6 - rbar6)) AS sq
        |       FROM reps, rb)
        |SELECT t.k, t.xt AS num, t.nt AS den,
        |  CAST((CAST(1000000 AS HUGEINT) * t.xt) // t.nt AS BIGINT) AS ratio6,
        |  rb.rbar6,
        |  CAST((CAST(t.k - 1 AS HUGEINT) * ss.sq) // t.k AS BIGINT) AS jk_var12
        |FROM t, rb, ss""".stripMargin,
    "a_conformal" ->
      """WITH cal AS (SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND user_id % 2 = 0),
        |hold AS (SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND user_id % 2 = 1),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cal),
        |rr AS (SELECT n, least(n, ((n + 1) * 900000 + 999999) // 1000000) AS r FROM nn),
        |q AS (SELECT rk.v AS qhat, rr.n, rr.r
        |      FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM cal) rk, rr
        |      WHERE rk.rn = rr.r),
        |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |        CAST(SUM(CASE WHEN hold.v <= q.qhat THEN 1 ELSE 0 END) AS BIGINT) AS cov
        |      FROM hold, q)
        |SELECT q.n AS n_cal, q.r AS rank, q.qhat, h.m AS n_holdout, h.cov AS covered,
        |  CAST((1000000 * h.cov) // h.m AS BIGINT) AS coverage6,
        |  CAST(900000 AS BIGINT) AS target6
        |FROM q, h""".stripMargin,
    "a_mondrian" ->
      """WITH cal AS (SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL AND user_id % 2 = 0),
        |hold AS (SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL AND user_id % 2 = 1),
        |grid AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM cal GROUP BY 1, 2),
        |ng AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_cal FROM grid GROUP BY 1),
        |nr AS (SELECT g, n_cal,
        |         least(n_cal, ((n_cal + 1) * 900000 + 999999) // 1000000) AS rank
        |       FROM ng),
        |cum AS (SELECT g, v,
        |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM grid),
        |q AS (SELECT cum.g, nr.n_cal, nr.rank, CAST(MIN(cum.v) AS BIGINT) AS qhat
        |      FROM cum JOIN nr ON nr.g = cum.g WHERE cum.cum >= nr.rank
        |      GROUP BY 1, 2, 3),
        |h AS (SELECT hold.g, CAST(COUNT(*) AS BIGINT) AS m,
        |        CAST(SUM(CASE WHEN hold.v <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
        |          AS cov,
        |        ANY_VALUE(q.n_cal) AS n_cal, ANY_VALUE(q.rank) AS rank,
        |        ANY_VALUE(q.qhat) AS qhat
        |      FROM hold JOIN q ON q.g = hold.g GROUP BY 1)
        |SELECT g, n_cal, rank, qhat, m AS n_holdout, cov AS covered,
        |  CAST((1000000 * cov) // m AS BIGINT) AS coverage6,
        |  CAST(900000 AS BIGINT) AS target6
        |FROM h ORDER BY g""".stripMargin,
    "t_zipf_head" ->
      """WITH terms AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM terms GROUP BY 1),
        |top AS (SELECT term, freq FROM cnt ORDER BY freq DESC, term LIMIT 30),
        |rk AS (SELECT CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT)
        |         AS rank, term, freq FROM top)
        |SELECT rank, term, freq, rank * freq AS rf FROM rk ORDER BY rank""".stripMargin,
    "t_vocab_coverage" ->
      """WITH terms AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM terms GROUP BY 1),
        |agg AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM cnt)
        |SELECT n_tokens, n_types, n1, n2,
        |  CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((1000000 * n1) // n_tokens AS BIGINT) END AS gt_unseen6,
        |  CAST(n_types + (CAST(n1 AS HUGEINT) * (n1 - 1)) // (2 * (n2 + 1)) AS BIGINT)
        |    AS chao1
        |FROM agg""".stripMargin,
    "a_kendall_tau" ->
      """WITH base AS (SELECT CAST(round(value * 100) AS BIGINT) // 1000 AS x,
        |    CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
        |xs AS (SELECT x, CAST(SUM(c) AS BIGINT) AS nx FROM cells GROUP BY 1),
        |ys AS (SELECT y, CAST(SUM(c) AS BIGINT) AS ny FROM cells GROUP BY 1),
        |dims AS (SELECT
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM xs) AS kx,
        |    (SELECT CAST(SUM(nx * (nx - 1)) AS BIGINT) FROM xs) AS tx2,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ys) AS ky,
        |    (SELECT CAST(SUM(ny * (ny - 1)) AS BIGINT) FROM ys) AS ty2),
        |dense AS (SELECT xs.x, xs.nx, ys.y, CAST(COALESCE(cells.c, 0) AS BIGINT) AS c
        |          FROM xs CROSS JOIN ys
        |          LEFT JOIN cells ON cells.x = xs.x AND cells.y = ys.y),
        |aa AS (SELECT x, y, nx, c,
        |         CAST(COALESCE(SUM(c) OVER (PARTITION BY x ORDER BY y
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ab
        |       FROM dense),
        |fg AS (SELECT x, y, c,
        |         CAST(COALESCE(SUM(ab) OVER (PARTITION BY y ORDER BY x
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS f,
        |         CAST(COALESCE(SUM(nx - ab - c) OVER (PARTITION BY y ORDER BY x
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS g
        |       FROM aa),
        |agg AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |          SUM(CAST(c AS HUGEINT) * f) AS cp,
        |          SUM(CAST(c AS HUGEINT) * g) AS dp
        |        FROM fg),
        |f2 AS (SELECT n, cp, dp, kx, ky, tx2, ty2 FROM agg CROSS JOIN dims)
        |SELECT n, kx, ky, CAST(cp AS BIGINT) AS c_pairs, CAST(dp AS BIGINT) AS d_pairs,
        |  CASE WHEN n < 2 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CAST(2000000 AS HUGEINT) * (cp - dp))
        |            // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) END AS tau_a6,
        |  CASE WHEN n < 2 OR CAST(n AS HUGEINT) * (n - 1) - tx2 <= 0
        |         OR CAST(n AS HUGEINT) * (n - 1) - ty2 <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((CASE WHEN cp >= dp THEN 1 ELSE -1 END)
        |    * ((CAST(4000000 AS HUGEINT) * (cp - dp) * (cp - dp))
        |       // ((CAST(n AS HUGEINT) * (n - 1) - tx2)
        |          * (CAST(n AS HUGEINT) * (n - 1) - ty2))) AS BIGINT) END AS taub2s6
        |FROM f2""".stripMargin,
    "a_krippendorff" ->
      """WITH cells AS (SELECT user_id AS u, event_type AS cat,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |units AS (SELECT u, CAST(SUM(c) AS BIGINT) AS m, CAST(SUM(c * c) AS BIGINT) AS ss
        |          FROM cells GROUP BY 1 HAVING SUM(c) >= 2),
        |du AS (SELECT u, m,
        |         CAST((CAST(1000000 AS HUGEINT) * (CAST(m AS HUGEINT) * m - ss))
        |              // (m - 1) AS BIGINT) AS do6u
        |       FROM units),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units, CAST(SUM(m) AS BIGINT) AS n,
        |          CAST(SUM(do6u) AS BIGINT) AS do6 FROM du),
        |cm AS (SELECT cat, CAST(SUM(c) AS BIGINT) AS nc
        |       FROM cells JOIN units USING (u) GROUP BY 1),
        |ca AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_categories,
        |         SUM(CAST(nc AS HUGEINT) * nc) AS cc FROM cm),
        |f AS (SELECT n_units, n, n_categories, do6,
        |        CAST(n AS HUGEINT) * n - cc AS de
        |      FROM tot CROSS JOIN ca)
        |SELECT n_units, n, n_categories, do6,
        |  CASE WHEN de IS NULL OR de <= 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(1000000 - (CAST(do6 AS HUGEINT) * (n - 1)) // de AS BIGINT)
        |  END AS alpha6
        |FROM f""".stripMargin,
    // arithmetic with // division
    "dq_dist_drift" ->
      s"""WITH qb AS (SELECT doc_id, source, CAST(length(text) AS DOUBLE) AS nc,
         |  CAST(len(regexp_split_to_array(trim(text),'\\s+')) AS DOUBLE) AS nt,
         |  ${TextAnalysis.stopHitsSql(SparkEntry.qualityStops, "regexp_split_to_array(trim(text),'\\s+')")} AS ns
         |  FROM documents),
         |qual AS (SELECT source, ${TextAnalysis.qualitySql("nc", "nt", "ns")} AS q FROM qb),
         |bk AS (SELECT source,
         |         least(greatest(CAST(floor((q - 0.0) / 1.0 * 20) AS BIGINT), 0), 19) AS bucket
         |       FROM qual WHERE q IS NOT NULL AND source IS NOT NULL),
         |counts AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS c FROM bk GROUP BY 1, 2),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bk),
         |chist AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM bk GROUP BY 1),
         |buckets AS (SELECT unnest(generate_series(0, 19)) AS bucket),
         |ccdf AS (SELECT b.bucket, sum(COALESCE(ch.c, 0)) OVER (ORDER BY b.bucket) AS cum
         |         FROM buckets b LEFT JOIN chist ch USING (bucket)),
         |ccdf6 AS (SELECT bucket, cum * 1000000 // t AS cdf6 FROM ccdf, tot),
         |gn AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM bk GROUP BY source),
         |grid AS (SELECT g.source, g.n, b.bucket FROM gn g, buckets b),
         |gcum AS (SELECT grid.source, grid.n, grid.bucket,
         |           sum(COALESCE(c.c, 0)) OVER (PARTITION BY grid.source ORDER BY grid.bucket) AS cum
         |         FROM grid LEFT JOIN counts c ON c.source = grid.source AND c.bucket = grid.bucket),
         |gaps AS (SELECT g.source, g.n, abs(g.cum * 1000000 // g.n - c6.cdf6) AS gap
         |         FROM gcum g JOIN ccdf6 c6 USING (bucket))
         |SELECT source, CAST(max(n) AS BIGINT) AS n, CAST(max(gap) AS BIGINT) AS ks6,
         |       CAST(max(gap) AS DOUBLE) / 1e6 AS ks
         |FROM gaps GROUP BY source ORDER BY source""".stripMargin,
    "dq_checks" ->
      """WITH rc AS (
        | SELECT 'orders_status_domain' AS check_name,
        |   CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
        | FROM orders
        | UNION ALL SELECT 'orders_positive_price',
        |   CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT) FROM orders
        | UNION ALL SELECT 'orders_date_not_null',
        |   CAST(sum(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) FROM orders
        | UNION ALL SELECT 'orders_unique_key',
        |   (SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders)
        | UNION ALL SELECT 'orders_custkey_fk',
        |   (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |      ON o.o_custkey = c.c_custkey
        |    WHERE c.c_custkey IS NULL))
        |SELECT check_name, n_violations, n_violations = 0 AS pass
        |FROM rc ORDER BY check_name""".stripMargin,
    // full recompute over ALL events — the incremental merge must
    // land on exactly this
    // full-recompute join — the maintained artifact must agree
    "i_incr_join" ->
      """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "i_incr_agg" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS spend
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "i_scd2_history" ->
      """WITH c AS (SELECT user_id, event_id AS seq, event_type FROM events),
        |m AS (SELECT user_id, seq, event_type,
        |        lag(event_type) OVER w AS pv, lag(seq) OVER w AS ps
        |      FROM c WINDOW w AS (PARTITION BY user_id ORDER BY seq)),
        |ch AS (SELECT user_id, seq, event_type FROM m
        |       WHERE ps IS NULL OR pv IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, seq AS valid_from,
        |       lead(seq) OVER w2 AS valid_to,
        |       (lead(seq) OVER w2 IS NULL) AS is_current
        |FROM ch WINDOW w2 AS (PARTITION BY user_id ORDER BY seq)
        |ORDER BY user_id, valid_from""".stripMargin,
    "w_event_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |s AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
        |c AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s USING (user_id)
        |      WHERE event_type = 'click' AND us > t1 AND us <= t1 + 43200000000 GROUP BY 1),
        |p AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND us > t2 AND us <= t2 + 43200000000 GROUP BY 1)
        |SELECT s.user_id, CAST(t1 AS BIGINT) AS t1_us, CAST(t2 AS BIGINT) AS t2_us,
        |       CAST(t3 AS BIGINT) AS t3_us,
        |       CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
        |         AS stages_completed
        |FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "j_interval_overlap" ->
      """WITH p AS (SELECT user_id, event_id AS p_id, CAST(epoch_us(ts) AS DOUBLE) AS ps,
        |            CAST(epoch_us(ts) AS DOUBLE) + value*60000000.0 AS pe
        |          FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS c_id, CAST(epoch_us(ts) AS DOUBLE) AS cs,
        |        CAST(epoch_us(ts) AS DOUBLE) + value*60000000.0 AS ce
        |      FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p_id, c_id
        |FROM p JOIN c ON p.user_id = c.user_id AND ps <= ce AND cs <= pe
        |ORDER BY p.user_id, p_id, c_id""".stripMargin,
    "a_corr_exact" ->
      """WITH m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,0)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,0)) * CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        | FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |       CASE WHEN n*sxx - sx*sx > 0.0 AND n*syy - sy*sy > 0.0
        |            THEN (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
        |       END AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "a_zscore_outliers" ->
      """WITH m AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(n_chars AS DECIMAL(18,0)) * CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) AS s2
        |  FROM documents GROUP BY source),
        |v AS (SELECT source, n, s1, (s2 - s1 * s1 / n) / (n - 1) AS var
        |      FROM m WHERE n > 1)
        |SELECT d.doc_id, d.source, d.n_chars,
        |  (CAST(d.n_chars AS DOUBLE) - v.s1 / v.n) / sqrt(v.var) AS z
        |FROM documents d JOIN v USING (source)
        |WHERE v.var > 0
        |  AND abs((CAST(d.n_chars AS DOUBLE) - v.s1 / v.n) / sqrt(v.var)) > 1.8
        |ORDER BY d.doc_id""".stripMargin,
    "t_pack_bins" ->
      s"""WITH t AS (SELECT doc_id, source,
         |        CASE WHEN length(trim(text)) = 0 THEN 0
         |             ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |        END AS n_tokens,
         |        ${sqlHash32("doc_id")} AS h
         |      FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |        SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
         |      FROM t)
         |SELECT doc_id, source, n_tokens, CAST(cum_before // 512 AS BIGINT) AS pack_bin
         |FROM c ORDER BY doc_id""".stripMargin,
    "w_gap_fill" ->
      """WITH bounds AS (SELECT user_id, CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events GROUP BY 1),
        |days AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds),
        |cnt AS (SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
        |SELECT d.user_id, strftime(d.day, '%Y-%m-%d') AS day, COALESCE(c.n, 0) AS n_events
        |FROM days d LEFT JOIN cnt c ON c.user_id = d.user_id AND c.day = d.day
        |ORDER BY d.user_id, day""".stripMargin,
    // mirrors Sampling.mixtureSample's water-filling exactly: T =
    // min(n_g / w_g), f_g = w_g * T / n_g, keep hash32 < f_g * 2^32 —
    // counts and fractions recomputed from the same data via the same
    // IEEE double ops, so the boundary rows agree bit-for-bit
    // counts seed from the TARGET list (left join, missing -> 0) so a
    // target group with no rows sinks T to 0 and the sample is empty —
    // the same water-filling semantics the engine implements
    "s_mixture_sample" ->
      s"""WITH w(g, wt) AS (VALUES ('src1', 0.5), ('src2', 0.3), ('src3', 0.2)),
         |cnt AS (SELECT g, wt, COALESCE(c.n, 0.0) AS n FROM w
         |        LEFT JOIN (SELECT source AS g, CAST(count(*) AS DOUBLE) AS n
         |                   FROM documents GROUP BY 1) c USING (g)),
         |t AS (SELECT min(n / wt) AS t FROM cnt),
         |f AS (SELECT g, CASE WHEN n = 0 THEN 0.0 ELSE wt * t.t / n END AS f FROM cnt, t)
         |SELECT d.doc_id, d.source FROM documents d JOIN f ON d.source = f.g
         |WHERE CAST(${sqlHash32("d.doc_id")} AS DOUBLE) < f.f * 4294967296.0
         |ORDER BY d.doc_id""".stripMargin,
    "s_temperature_mix" ->
      // the normalizer is a SEQUENTIAL fold in group order (list_reduce
      // over list(... ORDER BY g)) mirroring the engine's sorted Scala
      // fold — a plain SUM would accumulate in engine-dependent order;
      // thresholds truncate once to integer hash cutoffs (long compare
      // at row scope, matching (f * 2^32).toLong)
      s"""WITH c AS (SELECT source AS g, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
         |z AS (SELECT list_reduce(list(pow(CAST(n AS DOUBLE), 0.5) ORDER BY g), (a, b) -> a + b) AS z FROM c),
         |f AS (SELECT g, CAST(trunc(least(1.0, pow(CAST(n AS DOUBLE), 0.5) / z.z * 200.0 / CAST(n AS DOUBLE))
         |                           * 4294967296.0) AS BIGINT) AS t
         |      FROM c, z)
         |SELECT d.doc_id, d.source FROM documents d JOIN f ON d.source = f.g
         |WHERE ${sqlHash32("d.doc_id")} < f.t
         |ORDER BY d.doc_id""".stripMargin,
    "s_dsir_sample" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, ${sqlHash32("term")} % 1024 AS f
         |  FROM (SELECT doc_id, lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |        FROM documents WHERE length(trim(text)) > 0)),
         |fc AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS cr,
         |              CAST(COALESCE(SUM(CASE WHEN lang = 'en' THEN 1 END), 0) AS BIGINT) AS ct
         |       FROM tok GROUP BY f),
         |tots AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt FROM fc),
         |lr AS (SELECT fc.f,
         |         CAST(round((ln((CAST(ct AS DOUBLE)+1.0)/(CAST(tt AS DOUBLE)+1024.0))
         |                   - ln((CAST(cr AS DOUBLE)+1.0)/(CAST(tr AS DOUBLE)+1024.0)))*1000000) AS BIGINT) AS lr6
         |       FROM fc, tots)
         |SELECT tok.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       CAST(SUM(lr.lr6) AS BIGINT) AS weight6,
         |       round(CAST(SUM(lr.lr6) AS DOUBLE) / (COUNT(*)*1000000.0), 6) AS avg_loglik
         |FROM tok JOIN lr USING (f)
         |GROUP BY tok.doc_id
         |ORDER BY avg_loglik DESC, doc_id LIMIT 100""".stripMargin,
    // the same unigram-LM chain, bucketed by integer rank cutoffs
    "t_ppl_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY term),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
        |lp AS (SELECT term,
        |         CAST(round(ln((CAST(cnt AS DOUBLE)+1.0)/(CAST(t AS DOUBLE)+CAST(v AS DOUBLE)))*1000000) AS BIGINT) AS lp6
        |       FROM vocab, tot),
        |sc AS (SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |         CAST(-SUM(lp.lp6) AS BIGINT) AS nll6
        |       FROM tok JOIN lp ON tok.term = lp.term GROUP BY 1),
        |m AS (SELECT d.lang, sc.doc_id, sc.n_tokens,
        |        CAST(sc.nll6 // sc.n_tokens AS BIGINT) AS mnll6
        |      FROM sc JOIN documents d USING (doc_id)),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY mnll6, doc_id) AS r,
        |         count(*) OVER (PARTITION BY lang) AS nl FROM m),
        |b AS (SELECT lang,
        |        CASE WHEN r <= nl // 3 THEN 'head'
        |             WHEN r <= (2 * nl) // 3 THEN 'middle'
        |             ELSE 'tail' END AS bucket, n_tokens, mnll6 FROM rk)
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(mnll6) AS min_mnll6, max(mnll6) AS max_mnll6
        |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    "t_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY term),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
        |lp AS (SELECT term,
        |         CAST(round(ln((CAST(cnt AS DOUBLE)+1.0)/(CAST(t AS DOUBLE)+CAST(v AS DOUBLE)))*1000000) AS BIGINT) AS lp6
        |       FROM vocab, tot)
        |SELECT tok.doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(-SUM(lp.lp6) AS BIGINT) AS nll_sum6,
        |       round(CAST(-SUM(lp.lp6) AS DOUBLE) / (COUNT(*)*1000000.0), 6) AS mean_nll,
        |       round(exp(CAST(-SUM(lp.lp6) AS DOUBLE) / (COUNT(*)*1000000.0)), 4) AS ppl
        |FROM tok JOIN lp ON tok.term = lp.term
        |GROUP BY tok.doc_id
        |ORDER BY doc_id""".stripMargin,
    "a_kmv_distinct" -> {
      val k = 64
      s"""WITH tok AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents WHERE length(trim(text)) > 0),
         |hh AS (SELECT DISTINCT source, ${sqlHash32("term")} AS h FROM tok),
         |rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hh),
         |agg AS (SELECT source, CAST(count(*) FILTER (rn <= $k) AS BIGINT) AS n_seen,
         |          max(h) FILTER (rn = $k) AS hk
         |        FROM rk GROUP BY 1),
         |ex AS (SELECT source, CAST(count(DISTINCT term) AS BIGINT) AS n_exact FROM tok GROUP BY 1)
         |SELECT source, n_exact, n_seen,
         |       CASE WHEN n_seen < $k THEN CAST(n_seen AS DOUBLE)
         |            ELSE ${(k - 1).toDouble * 4294967296.0} / CAST(hk AS DOUBLE) END AS kmv_est
         |FROM ex JOIN agg USING (source) ORDER BY source""".stripMargin
    },
    // global KMV by full rescan — the merged-sketch path must agree
    "a_kmv_merged" -> {
      val k = 64
      s"""WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents WHERE length(trim(text)) > 0),
         |hh AS (SELECT DISTINCT ${sqlHash32("term")} AS h FROM tok),
         |rk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hh),
         |agg AS (SELECT CAST(count(*) FILTER (rn <= $k) AS BIGINT) AS n_seen,
         |          max(h) FILTER (rn = $k) AS hk
         |        FROM rk),
         |ex AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS n_exact FROM tok)
         |SELECT n_exact, n_seen,
         |       CASE WHEN n_seen < $k THEN CAST(n_seen AS DOUBLE)
         |            ELSE ${(k - 1).toDouble * 4294967296.0} / CAST(hk AS DOUBLE) END AS kmv_est
         |FROM ex, agg""".stripMargin
    },
    // HLL registers replayed integer-exactly (bucket = h // 2^22,
    // rho via bin-length), the same alpha literal, one double
    // division + the linear-counting ln, round-then-cast
    "a_hll_distinct" -> {
      val alphaNum = Sketches.hllAlpha(10) * 1024.0 * 1024.0 * 8589934592.0
      s"""WITH hh AS (SELECT DISTINCT l_returnflag, ${sqlHash32("l_orderkey")} AS h FROM lineitem),
         |rg AS (SELECT l_returnflag, h // 4194304 AS bucket,
         |         CASE WHEN h % 4194304 = 0 THEN CAST(23 AS BIGINT)
         |              ELSE CAST(23 - length(bin(h % 4194304)) AS BIGINT) END AS rho
         |       FROM hh),
         |reg AS (SELECT l_returnflag, bucket, max(rho) AS r FROM rg GROUP BY 1, 2),
         |ag AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_occupied,
         |         CAST(sum(8589934592 // (CAST(1 AS BIGINT) << CAST(r AS INT))) AS BIGINT) AS s_occ
         |       FROM reg GROUP BY 1),
         |es AS (SELECT l_returnflag, n_occupied,
         |         $alphaNum / CAST(s_occ + (1024 - n_occupied) * 8589934592 AS DOUBLE) AS raw,
         |         1024 - n_occupied AS zeros FROM ag),
         |ex AS (SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact
         |       FROM lineitem GROUP BY 1)
         |SELECT l_returnflag, n_exact, n_occupied,
         |  CAST(round(CASE WHEN raw <= ${2.5 * 1024.0} AND zeros > 0
         |       THEN 1024.0 * ln(1024.0 / CAST(zeros AS DOUBLE)) ELSE raw END, 0) AS BIGINT) AS hll_est
         |FROM es JOIN ex USING (l_returnflag) ORDER BY l_returnflag""".stripMargin
    },
    // global HLL by full rescan — the merged-register path must agree
    "a_hll_merged" -> hllMergedOracle,
    // the estimator replayed on the raw keys: per-side 64 smallest
    // distinct hashes, union rank, buffer-membership flags
    "a_kmv_join_est" -> {
      val k = 64
      s"""WITH ka AS (SELECT DISTINCT ${sqlHash32("o_custkey")} AS h FROM orders
         |            WHERE o_orderpriority = '1-URGENT'),
         |kb AS (SELECT DISTINCT ${sqlHash32("o_custkey")} AS h FROM orders
         |       WHERE o_orderstatus = 'F'),
         |sa AS (SELECT h FROM ka ORDER BY h LIMIT $k),
         |sb AS (SELECT h FROM kb ORDER BY h LIMIT $k),
         |uni AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
         |        FROM (SELECT h FROM sa UNION SELECT h FROM sb)),
         |u AS (SELECT * FROM uni WHERE rn <= $k),
         |fl AS (SELECT u.rn, u.h,
         |         (sa.h IS NOT NULL) AS in_a, (sb.h IS NOT NULL) AS in_b
         |       FROM u LEFT JOIN sa ON sa.h = u.h LEFT JOIN sb ON sb.h = u.h),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_union_seen,
         |          max(CASE WHEN rn = $k THEN h END) AS hk,
         |          CAST(COALESCE(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_both
         |        FROM fl),
         |est AS (SELECT n_union_seen, n_both,
         |          CASE WHEN n_union_seen < $k THEN CAST(n_union_seen AS DOUBLE)
         |               ELSE ${(k - 1).toDouble * 4294967296.0} / CAST(hk AS DOUBLE) END AS union_est,
         |          CASE WHEN n_union_seen = 0 THEN 0.0
         |               ELSE CAST(n_both AS DOUBLE) / CAST(n_union_seen AS DOUBLE) END AS jaccard_est
         |        FROM agg),
         |ex AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact_a FROM orders
         |       WHERE o_orderpriority = '1-URGENT'),
         |ey AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact_b FROM orders
         |       WHERE o_orderstatus = 'F'),
         |ei AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_inter
         |       FROM (SELECT DISTINCT o_custkey FROM orders
         |             WHERE o_orderpriority = '1-URGENT') o
         |       JOIN (SELECT DISTINCT o_custkey FROM orders
         |             WHERE o_orderstatus = 'F') c USING (o_custkey))
         |SELECT n_exact_a, n_exact_b, n_exact_inter, n_union_seen, n_both,
         |       union_est, jaccard_est, jaccard_est * union_est AS inter_est
         |FROM est, ex, ey, ei""".stripMargin
    },
    "a_cms_heavy" -> cmsHeavyOracleSql,
    // CMS is LINEAR: the sum of per-shard counter tables IS the
    // full-corpus sketch, exactly — so the merged-artifact path
    // shares the full-build oracle verbatim
    "a_cms_merged" -> cmsHeavyOracleSql,
    // shard-merge is exact (counter linearity), so the oracle just
    // rebuilds the full-corpus grid: same cent quantization, same
    // integer bucket rule, same ceil-rank targets off running totals
    "a_hist_quantile" ->
      """WITH pc AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
        |hb AS (SELECT CAST(least(63, greatest(0, c) * 64 // 11000000) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n FROM pc GROUP BY 1),
        |cum AS (SELECT bucket, n, CAST(SUM(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n FROM hb),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM hb),
        |qs AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS q_pct),
        |tgt AS (SELECT q_pct, (n_total * q_pct + 99) // 100 AS target, n_total FROM qs, tot),
        |pick AS (SELECT t.q_pct, min(c.bucket) AS bucket, t.n_total
        |         FROM tgt t JOIN cum c ON c.cum_n >= t.target GROUP BY 1, 3)
        |SELECT p.q_pct, p.bucket, p.bucket * 1718.75 AS est, c.cum_n, p.n_total
        |FROM pick p JOIN cum c ON p.bucket = c.bucket ORDER BY p.q_pct""".stripMargin,
    "r_phrase_search" -> phraseSearchOracle,
    // as-of-0 sees through the seq-1 deletes AND the seq-2 re-index:
    // the full-corpus phrase results
    "r_phrase_asof" -> phraseSearchOracle,
    // persisted-and-loaded index must land on the identical result
    "r_phrase_persisted" -> phraseSearchOracle,
    // tombstoned docs excluded (del %4 at seq 1, re-indexed %8 at 2)
    "r_phrase_delete" ->
      phraseSearchOracleFor("NOT (doc_id % 4 = 0 AND doc_id % 8 <> 0)"),
    "r_phrase_compacted" ->
      phraseSearchOracleFor("NOT (doc_id % 4 = 0 AND doc_id % 8 <> 0)"),
    // same multi-query BM25 (shared constants with bm25Sql), same
    // (bm25 desc, doc_id) rank, reciprocal rank in integer micro-units
    "r_mrr_eval" ->
      """WITH q AS (SELECT qid, term FROM (
        |    SELECT doc_id AS qid, unnest(tk[3:10]) AS term FROM (
        |      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |      FROM documents WHERE doc_id % 20 = 0)) GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS dl
        |       FROM documents),
        |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avglen, COUNT(*) AS n FROM dl),
        |terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |          FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms
        |       WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
        |dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |contrib AS (SELECT tf.doc_id, tf.term,
        |        ln((CAST(n AS DOUBLE) - CAST(dfx.df AS DOUBLE) + 0.5) /
        |           (CAST(dfx.df AS DOUBLE) + 0.5) + 1.0) *
        |        (CAST(tf.tf AS DOUBLE) * 2.2) /
        |        (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE) / avglen))) AS c
        |      FROM tf JOIN dfx ON tf.term = dfx.term JOIN dl ON tf.doc_id = dl.doc_id, stats),
        |sc AS (SELECT q.qid, contrib.doc_id, round(SUM(c), 6) AS bm25
        |       FROM contrib JOIN q ON q.term = contrib.term GROUP BY 1, 2),
        |rk AS (SELECT qid, doc_id,
        |        row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rnk
        |       FROM sc)
        |SELECT qid, CAST(rnk AS BIGINT) AS rel_rank,
        |       CAST(1000000 // rnk AS BIGINT) AS rr6, rnk <= 10 AS hit_at_10
        |FROM rk WHERE qid = doc_id ORDER BY qid""".stripMargin,
    // same query set + BM25 chain as r_mrr_eval; judgments from
    // query-term coverage; rank weights injected from the SAME Scala
    // constants the engine uses (TextAnalysis.ndcgWeightSql)
    "r_ndcg_eval" -> {
      val wRnk = TextAnalysis.ndcgWeightSql(10, "rk.rnk")
      val wIdeal = TextAnalysis.ndcgWeightSql(10, "ir.i")
      s"""WITH q AS (SELECT qid, term FROM (
         |    SELECT doc_id AS qid, unnest(tk[3:10]) AS term FROM (
         |      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         |      FROM documents WHERE doc_id % 20 = 0)) GROUP BY 1, 2),
         |qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_q FROM q GROUP BY 1),
         |dl AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
         |            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS dl
         |       FROM documents),
         |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avglen, COUNT(*) AS n FROM dl),
         |terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |          FROM documents),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms
         |       WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
         |dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |contrib AS (SELECT tf.doc_id, tf.term,
         |        ln((CAST(n AS DOUBLE) - CAST(dfx.df AS DOUBLE) + 0.5) /
         |           (CAST(dfx.df AS DOUBLE) + 0.5) + 1.0) *
         |        (CAST(tf.tf AS DOUBLE) * 2.2) /
         |        (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE) / avglen))) AS c
         |      FROM tf JOIN dfx ON tf.term = dfx.term JOIN dl ON tf.doc_id = dl.doc_id, stats),
         |sc AS (SELECT q.qid, contrib.doc_id, round(SUM(c), 6) AS bm25
         |       FROM contrib JOIN q ON q.term = contrib.term GROUP BY 1, 2),
         |rk AS (SELECT qid, doc_id,
         |        row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rnk
         |       FROM sc),
         |jm AS (SELECT q.qid, tf.doc_id, CAST(count(*) AS BIGINT) AS m
         |       FROM tf JOIN q ON q.term = tf.term GROUP BY 1, 2),
         |jp AS (SELECT jm.qid, jm.doc_id,
         |        CASE WHEN m = n_q THEN 2 WHEN 2 * m >= n_q THEN 1 ELSE 0 END AS grade
         |       FROM jm JOIN qn ON jm.qid = qn.qid
         |       WHERE CASE WHEN m = n_q THEN 2 WHEN 2 * m >= n_q THEN 1 ELSE 0 END > 0),
         |dcg AS (SELECT rk.qid,
         |         CAST(SUM((CASE WHEN jp.grade = 2 THEN 3 WHEN jp.grade = 1 THEN 1 ELSE 0 END)
         |                  * ($wRnk)) AS BIGINT) AS dcg6,
         |         CAST(SUM(CASE WHEN jp.grade > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_k
         |        FROM rk LEFT JOIN jp ON rk.qid = jp.qid AND rk.doc_id = jp.doc_id
         |        WHERE rk.rnk <= 10 GROUP BY 1),
         |ir AS (SELECT qid, grade, doc_id,
         |        row_number() OVER (PARTITION BY qid ORDER BY grade DESC, doc_id) AS i
         |       FROM jp),
         |idcg AS (SELECT ir.qid,
         |         CAST(SUM((CASE WHEN ir.grade = 2 THEN 3 ELSE 1 END) * ($wIdeal)) AS BIGINT) AS idcg6
         |        FROM ir WHERE ir.i <= 10 GROUP BY 1)
         |SELECT d.qid, d.dcg6, i.idcg6,
         |       CAST(CASE WHEN i.idcg6 > 0 THEN (1000000 * d.dcg6) // i.idcg6 ELSE 0 END AS BIGINT) AS ndcg6,
         |       d.n_rel_k
         |FROM dcg d JOIN idcg i ON d.qid = i.qid ORDER BY d.qid""".stripMargin
    },
    // same query set, BM25 chain and coverage judgments as
    // r_ndcg_eval; fixed-k precision, full-positive-set recall, F1
    // folded from the rounded micro integers
    "r_pr_eval" ->
      """WITH q AS (SELECT qid, term FROM (
        |    SELECT doc_id AS qid, unnest(tk[3:10]) AS term FROM (
        |      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |      FROM documents WHERE doc_id % 20 = 0)) GROUP BY 1, 2),
        |qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_q FROM q GROUP BY 1),
        |dl AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS dl
        |       FROM documents),
        |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avglen, COUNT(*) AS n FROM dl),
        |terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |          FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms
        |       WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
        |dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |contrib AS (SELECT tf.doc_id, tf.term,
        |        ln((CAST(n AS DOUBLE) - CAST(dfx.df AS DOUBLE) + 0.5) /
        |           (CAST(dfx.df AS DOUBLE) + 0.5) + 1.0) *
        |        (CAST(tf.tf AS DOUBLE) * 2.2) /
        |        (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE) / avglen))) AS c
        |      FROM tf JOIN dfx ON tf.term = dfx.term JOIN dl ON tf.doc_id = dl.doc_id, stats),
        |sc AS (SELECT q.qid, contrib.doc_id, round(SUM(c), 6) AS bm25
        |       FROM contrib JOIN q ON q.term = contrib.term GROUP BY 1, 2),
        |rk AS (SELECT qid, doc_id,
        |        row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rnk
        |       FROM sc),
        |jm AS (SELECT q.qid, tf.doc_id, CAST(count(*) AS BIGINT) AS m
        |       FROM tf JOIN q ON q.term = tf.term GROUP BY 1, 2),
        |jp AS (SELECT jm.qid, jm.doc_id
        |       FROM jm JOIN qn ON jm.qid = qn.qid
        |       WHERE CASE WHEN m = n_q THEN 2 WHEN 2 * m >= n_q THEN 1 ELSE 0 END > 0),
        |np AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_pos FROM jp GROUP BY 1),
        |tpx AS (SELECT rk.qid,
        |          CAST(SUM(CASE WHEN jp.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp
        |        FROM rk LEFT JOIN jp ON rk.qid = jp.qid AND rk.doc_id = jp.doc_id
        |        WHERE rk.rnk <= 10 GROUP BY 1),
        |f AS (SELECT np.qid, np.n_pos, CAST(COALESCE(tpx.tp, 0) AS BIGINT) AS tp
        |      FROM np LEFT JOIN tpx ON np.qid = tpx.qid),
        |g AS (SELECT qid, n_pos, tp,
        |        CAST((1000000 * tp) // 10 AS BIGINT) AS p6,
        |        CAST((1000000 * tp) // n_pos AS BIGINT) AS r6
        |      FROM f)
        |SELECT qid, n_pos, tp, p6, r6,
        |  CASE WHEN p6 + r6 = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST((2 * p6 * r6) // (p6 + r6) AS BIGINT) END AS f16
        |FROM g ORDER BY qid""".stripMargin,
    // same chassis; per-relevant-rank precision then the two-stage
    // division, both truncating off exact counts
    "r_map_eval" ->
      """WITH q AS (SELECT qid, term FROM (
        |    SELECT doc_id AS qid, unnest(tk[3:10]) AS term FROM (
        |      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |      FROM documents WHERE doc_id % 20 = 0)) GROUP BY 1, 2),
        |qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_q FROM q GROUP BY 1),
        |dl AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS dl
        |       FROM documents),
        |stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avglen, COUNT(*) AS n FROM dl),
        |terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |          FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms
        |       WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
        |dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |contrib AS (SELECT tf.doc_id, tf.term,
        |        ln((CAST(n AS DOUBLE) - CAST(dfx.df AS DOUBLE) + 0.5) /
        |           (CAST(dfx.df AS DOUBLE) + 0.5) + 1.0) *
        |        (CAST(tf.tf AS DOUBLE) * 2.2) /
        |        (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE) / avglen))) AS c
        |      FROM tf JOIN dfx ON tf.term = dfx.term JOIN dl ON tf.doc_id = dl.doc_id, stats),
        |sc AS (SELECT q.qid, contrib.doc_id, round(SUM(c), 6) AS bm25
        |       FROM contrib JOIN q ON q.term = contrib.term GROUP BY 1, 2),
        |rk AS (SELECT qid, doc_id,
        |        row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rnk
        |       FROM sc),
        |jm AS (SELECT q.qid, tf.doc_id, CAST(count(*) AS BIGINT) AS m
        |       FROM tf JOIN q ON q.term = tf.term GROUP BY 1, 2),
        |jp AS (SELECT jm.qid, jm.doc_id
        |       FROM jm JOIN qn ON jm.qid = qn.qid
        |       WHERE CASE WHEN m = n_q THEN 2 WHEN 2 * m >= n_q THEN 1 ELSE 0 END > 0),
        |np AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_pos FROM jp GROUP BY 1),
        |rk2 AS (SELECT rk.qid, rk.rnk,
        |          CASE WHEN jp.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
        |        FROM rk LEFT JOIN jp ON rk.qid = jp.qid AND rk.doc_id = jp.doc_id
        |        WHERE rk.rnk <= 10),
        |cr AS (SELECT qid, rnk, rel,
        |         CAST(SUM(rel) OVER (PARTITION BY qid ORDER BY rnk
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumrel
        |       FROM rk2),
        |tm AS (SELECT qid, CAST(SUM((1000000 * cumrel) // rnk) AS BIGINT) AS psum,
        |         CAST(COUNT(*) AS BIGINT) AS n_rel_k
        |       FROM cr WHERE rel = 1 GROUP BY 1),
        |f AS (SELECT np.qid, np.n_pos,
        |        CAST(COALESCE(tm.psum, 0) AS BIGINT) AS psum,
        |        CAST(COALESCE(tm.n_rel_k, 0) AS BIGINT) AS n_rel_k
        |      FROM np LEFT JOIN tm ON np.qid = tm.qid)
        |SELECT qid, n_pos, n_rel_k, CAST(psum // n_pos AS BIGINT) AS ap6
        |FROM f ORDER BY qid""".stripMargin,
    // BM25 rank chain shared with r_mrr_eval; cosine run mirrors the
    // v2_cosine_topk sequential double fold; integer RRF terms
    "r_rrf_fusion" -> rrfFusionOracleSql(
      """qe AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 20 = 0),
        |cosx AS (SELECT qe.qid, e.vec_id AS doc_id,
        |    CASE WHEN sqrt(list_reduce(list_transform(
        |             generate_series(1, least(len(e.embedding), len(qe.qv))),
        |             i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE)),
        |             (x,y) -> x+y))
        |         * sqrt(list_reduce(list_transform(
        |             generate_series(1, least(len(e.embedding), len(qe.qv))),
        |             i -> CAST(qe.qv[i] AS DOUBLE)*CAST(qe.qv[i] AS DOUBLE)),
        |             (x,y) -> x+y)) = 0 THEN 0.0
        |    ELSE list_reduce(list_transform(
        |             generate_series(1, least(len(e.embedding), len(qe.qv))),
        |             i -> CAST(e.embedding[i] AS DOUBLE)*CAST(qe.qv[i] AS DOUBLE)),
        |             (x,y) -> x+y)
        |         / (sqrt(list_reduce(list_transform(
        |             generate_series(1, least(len(e.embedding), len(qe.qv))),
        |             i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE)),
        |             (x,y) -> x+y))
        |          * sqrt(list_reduce(list_transform(
        |             generate_series(1, least(len(e.embedding), len(qe.qv))),
        |             i -> CAST(qe.qv[i] AS DOUBLE)*CAST(qe.qv[i] AS DOUBLE)),
        |             (x,y) -> x+y)))
        |    END AS score
        |  FROM embeddings e, qe)""".stripMargin),
    // the ANN variant: same fusion chassis, the embedding leg's
    // candidates from the bit-identical banded-signature predicate
    // (the v_lsh_topk_probed oracle idiom) instead of the cross join
    "r_rrf_fusion_ann" -> {
      val sigE = lshBandPlanes.map(p => sqlLshBit("embedding", p)).mkString(" || ")
      val anyBand = (0 until LshBands)
        .map(b =>
          s"substring(e.s, ${b * LshBandBits + 1}, $LshBandBits) = " +
            s"substring(qe.qs, ${b * LshBandBits + 1}, $LshBandBits)")
        .mkString(" OR ")
      rrfFusionOracleSql(
        s"""sig AS (SELECT vec_id, embedding, $sigE AS s FROM embeddings),
           |qe AS (SELECT vec_id AS qid, embedding AS qv, s AS qs
           |       FROM sig WHERE vec_id % 20 = 0),
           |cand AS (SELECT DISTINCT qe.qid, e.vec_id AS doc_id, qe.qv, e.embedding
           |         FROM sig e JOIN qe ON ($anyBand)),
           |cosx AS (SELECT qid, doc_id, ${sqlCosine("embedding", "qv")} AS score
           |         FROM cand)""".stripMargin)
    },
    // the same 3 merge steps unrolled as MATERIALIZED CTEs (the
    // g_kcore lesson): per step, pair counts from the previous
    // vocabulary, totally-ordered argmax, plain-replace rewrite
    "t_bpe_merges" ->
      s"""WITH ${bpeVocabCtes(3)}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS step, a AS sym_a, b AS sym_b, cnt FROM b1
         |  UNION ALL SELECT 2, a, b, cnt FROM b2
         |  UNION ALL SELECT 3, a, b, cnt FROM b3)
         |ORDER BY step""".stripMargin,
    // the same learned vocabulary (shared CTE chain), applied: word
    // maps back from its merged sequence by stripping spaces, units
    // = symbols left after the merges
    "t_bpe_encode" ->
      s"""WITH ${bpeVocabCtes(3)},
         |u AS (SELECT replace(trim(s), ' ', '') AS w,
         |        CAST(len(regexp_split_to_array(trim(s), ' ')) AS BIGINT) AS units FROM v3),
         |dw AS (SELECT doc_id, term AS w
         |       FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |             FROM documents WHERE length(trim(text)) > 0)
         |       WHERE length(term) > 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(units) AS BIGINT) AS n_units
         |FROM dw JOIN u USING (w) GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "t_gopher_rules" -> {
      val stops = TextAnalysis.GopherStops.map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH b AS (
         | SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS tk
         | FROM documents WHERE length(trim(text)) > 0),
         |m AS (
         | SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  CAST(list_reduce(list_transform(tk, t -> length(t)), (a, b) -> a + b) AS BIGINT) AS wchars,
         |  CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha,
         |  CAST(len(list_distinct(list_filter(list_transform(tk, t -> lower(t)),
         |       t -> list_contains($stops, t)))) AS BIGINT) AS stops,
         |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
         |    + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS sym,
         |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS nl,
         |  CAST(len(list_filter(string_split(text, chr(10)), l -> ends_with(l, '...'))) AS BIGINT) AS ell
         | FROM b)
         |SELECT doc_id, n_words,
         | CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS r_word_count,
         | CAST(3 * n_words <= wchars AND wchars <= 10 * n_words AS BIGINT) AS r_mean_word_len,
         | CAST(10 * sym <= n_words AS BIGINT) AS r_symbol_ratio,
         | CAST(5 * alpha >= 4 * n_words AS BIGINT) AS r_alpha_words,
         | CAST(stops >= 2 AS BIGINT) AS r_stopwords,
         | CAST(10 * ell <= 3 * nl AS BIGINT) AS r_ellipsis,
         | CAST((n_words >= 50 AND n_words <= 100000)
         |   AND (3 * n_words <= wchars AND wchars <= 10 * n_words)
         |   AND (10 * sym <= n_words) AND (5 * alpha >= 4 * n_words)
         |   AND (stops >= 2) AND (10 * ell <= 3 * nl) AS BIGINT) AS pass
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "t_code_detect" ->
      """WITH d AS (
        | SELECT doc_id,
        |   CASE WHEN doc_id % 4 = 0 THEN
        |     'def load_' || CAST(doc_id AS VARCHAR) || '(x) { if (x[0] >= 2) { return x[1] + '
        |       || CAST(doc_id AS VARCHAR) || '; } return #cfg(x); }'
        |   ELSE text END AS text
        | FROM documents),
        |m AS (
        | SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |        CAST(length(text) - length(regexp_replace(text, '[{}\[\]();=<>#]', '', 'g')) AS BIGINT) AS sym
        | FROM d WHERE length(text) > 0)
        |SELECT doc_id, n_chars,
        | CAST((1000000 * sym) // n_chars AS BIGINT) AS sym_ppm,
        | CASE WHEN (1000000 * sym) // n_chars >= 20000 THEN 'code' ELSE 'prose' END AS kind
        |FROM m ORDER BY doc_id""".stripMargin,
    // frozen vocab fit on the history half; batch words join, OOV
    // prices at char count (the documented upper-bound contract)
    "t_bpe_persisted" ->
      s"""WITH ${bpeVocabCtes(3, "doc_id < 250")},
         |u AS (SELECT replace(trim(s), ' ', '') AS w,
         |        CAST(len(regexp_split_to_array(trim(s), ' ')) AS BIGINT) AS units FROM v3),
         |dw AS (SELECT doc_id, term AS w
         |       FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |             FROM documents WHERE length(trim(text)) > 0 AND doc_id >= 250)
         |       WHERE length(term) > 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(COALESCE(u.units, length(dw.w))) AS BIGINT) AS n_units
         |FROM dw LEFT JOIN u USING (w) GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // same half-split on the token array, same shared langId CASE —
    // engine and oracle derive from one marker constant
    "t_mixed_lang" ->
      s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS tk
         |  FROM documents WHERE length(trim(text)) > 0),
         |h AS (SELECT doc_id, tk[1:len(tk)//2] AS h1, tk[len(tk)//2+1:len(tk)] AS h2
         |      FROM tok WHERE len(tk) >= 2),
         |x AS (SELECT doc_id,
         |        ${TextAnalysis.langIdSql(SparkEntry.langMarkers, "h1")} AS lang_head,
         |        ${TextAnalysis.langIdSql(SparkEntry.langMarkers, "h2")} AS lang_tail
         |      FROM h)
         |SELECT doc_id, lang_head, lang_tail, lang_head <> lang_tail AS is_mixed
         |FROM x ORDER BY doc_id""".stripMargin,
    // same phrase segmentation (running stopword count as group id),
    // same Σdeg/Σfreq integer scoring, same (score desc, phrase) rank
    "t_rake" ->
      s"""WITH tok AS (SELECT doc_id, CAST(p.i - 1 AS BIGINT) AS pos, tk[CAST(p.i AS INT)] AS t
         |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
         |        FROM documents WHERE length(trim(text)) > 0),
         |       LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) p),
         |m AS (SELECT doc_id, pos, t,
         |        CASE WHEN t IN (${SparkEntry.qualityStops.map(s => s"'$s'").mkString(", ")})
         |             THEN 1 ELSE 0 END AS st
         |      FROM tok),
         |g AS (SELECT *, sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM m),
         |pw AS (SELECT doc_id, grp, pos, t FROM g WHERE st = 0),
         |ph AS (SELECT doc_id, grp, string_agg(t, ' ' ORDER BY pos) AS phrase,
         |        CAST(count(*) AS BIGINT) AS plen FROM pw GROUP BY 1, 2),
         |ws AS (SELECT pw.doc_id, pw.t, CAST(count(*) AS BIGINT) AS freq,
         |        CAST(sum(plen) AS BIGINT) AS deg
         |       FROM pw JOIN ph USING (doc_id, grp) GROUP BY 1, 2),
         |sc AS (SELECT pw.doc_id, ph.phrase,
         |        CAST(sum(ws.deg) AS BIGINT) AS deg_sum,
         |        CAST(sum(ws.freq) AS BIGINT) AS freq_sum
         |       FROM pw JOIN ph USING (doc_id, grp)
         |       JOIN ws ON ws.doc_id = pw.doc_id AND ws.t = pw.t
         |       GROUP BY 1, 2),
         |rk AS (SELECT doc_id, phrase,
         |        CAST(deg_sum AS DOUBLE) / CAST(freq_sum AS DOUBLE) AS score,
         |        row_number() OVER (PARTITION BY doc_id
         |          ORDER BY CAST(deg_sum AS DOUBLE) / CAST(freq_sum AS DOUBLE) DESC, phrase) AS rnk
         |       FROM sc)
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rank, phrase, score FROM rk
         |WHERE rnk <= 3 ORDER BY doc_id, rank""".stripMargin,
    // same micro-nat discipline; bigrams = adjacent token pairs, the
    // bigramPairs definition (prev at i-1, term at i, i >= 2)
    "t_collocations" ->
      """WITH tk AS (SELECT regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |tok AS (SELECT unnest(tk) AS term FROM tk),
        |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        |nu AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
        |bip AS (SELECT tk[CAST(gs.i AS INT)] AS term_a, tk[CAST(gs.i + 1 AS INT)] AS term_b
        |        FROM tk, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i) gs),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bip),
        |bi AS (SELECT term_a, term_b, CAST(count(*) AS BIGINT) AS n_pair FROM bip
        |       GROUP BY 1, 2 HAVING count(*) >= 5),
        |sc AS (SELECT term_a, term_b, n_pair,
        |         CAST(round(ln((CAST(n_pair AS DOUBLE)/CAST(nb.n AS DOUBLE)) /
        |           ((CAST(ua.c AS DOUBLE)/CAST(nu.n AS DOUBLE)) *
        |            (CAST(ub.c AS DOUBLE)/CAST(nu.n AS DOUBLE))))*1000000) AS BIGINT) AS pmi6
        |       FROM bi JOIN uni ua ON ua.term = bi.term_a
        |            JOIN uni ub ON ub.term = bi.term_b
        |            CROSS JOIN nu CROSS JOIN nb)
        |SELECT term_a, term_b, n_pair, pmi6, CAST(pmi6 AS DOUBLE)/1000000.0 AS pmi
        |FROM sc ORDER BY pmi6 DESC, term_a, term_b LIMIT 30""".stripMargin,
    "t_perplexity_bigram" -> bigramPplOracleSql("TRUE"),
    "v_sql_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, ${sqlCosine("embedding", "qe")} AS score
         |FROM embeddings, q WHERE vec_id <> 0
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "dd_decontaminate" ->
      """WITH tok AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |sh AS (SELECT doc_id, source,
        |        unnest(list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |       FROM tok WHERE len(tk) >= 3),
        |bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0'),
        |cnt AS (SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        |        FROM sh JOIN bench USING (s) WHERE sh.source <> 'src0' GROUP BY sh.doc_id)
        |SELECT d.doc_id, COALESCE(c.n_overlap, 0) AS n_overlap,
        |       COALESCE(c.n_overlap, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id
        |WHERE d.source <> 'src0'
        |ORDER BY d.doc_id""".stripMargin,
    "t_repetition" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
        |g AS (SELECT doc_id, len(tk) - 1 AS total,
        |       unnest(list_transform(generate_series(1, len(tk) - 1),
        |         i -> tk[i] || ' ' || tk[i+1])) AS gm
        |      FROM tok WHERE len(tk) >= 2),
        |cnt AS (SELECT doc_id, total, gm, COUNT(*) AS c FROM g GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(MAX(total) AS BIGINT) AS n_ngrams,
        |       1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS dup_frac,
        |       CAST(MAX(c) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS top_frac
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t_funnel_e2e" -> funnelE2eOracle,
    "t_funnel_ppl" ->
      // t_funnel_e2e's derived lang/quality fragments + the perplexity
      // gate CTEs (same micro-nat formulas as the t_perplexity oracle,
      // fit over the gated population `base`); threshold interpolated
      // from FunnelPplMax so both sides share one literal
      s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS tk FROM documents),
         |lang AS (SELECT doc_id, ${TextAnalysis.langIdSql(SparkEntry.langMarkers, "tk")} AS lang_pred
         |  FROM tok),
         |qb AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS nc,
         |  CAST(len(regexp_split_to_array(trim(text),'\\s+')) AS DOUBLE) AS nt,
         |  ${TextAnalysis.stopHitsSql(SparkEntry.qualityStops, "regexp_split_to_array(trim(text),'\\s+')")} AS ns
         |  FROM documents),
         |qual AS (SELECT doc_id, ${TextAnalysis.qualitySql("nc", "nt", "ns")} AS quality
         |  FROM qb),
         |base AS (SELECT d.doc_id, d.text, d.source, l.lang_pred, q.quality
         |  FROM documents d JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
         |  WHERE d.source <> 'src0' AND l.lang_pred = 'dataish' AND q.quality >= 0.5),
         |ptok AS (SELECT b.doc_id, unnest(t.tk) AS term FROM base b JOIN tok t USING (doc_id)
         |  WHERE length(trim(b.text)) > 0),
         |pvocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM ptok GROUP BY term),
         |ptot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS v FROM pvocab),
         |plp AS (SELECT term,
         |  CAST(round(ln((CAST(cnt AS DOUBLE)+1.0)/(CAST(t AS DOUBLE)+CAST(v AS DOUBLE)))*1000000) AS BIGINT) AS lp6
         |  FROM pvocab, ptot),
         |pnll AS (SELECT ptok.doc_id,
         |  round(CAST(-SUM(plp.lp6) AS DOUBLE)/(COUNT(*)*1000000.0), 6) AS mean_nll
         |  FROM ptok JOIN plp USING (term) GROUP BY ptok.doc_id),
         |pbase AS (SELECT base.* FROM base JOIN pnll USING (doc_id)
         |  WHERE pnll.mean_nll <= $FunnelPplMax),
         |ded AS (SELECT * FROM pbase
         |  QUALIFY row_number() OVER (
         |    PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
         |    ORDER BY doc_id) = 1),
         |dsh AS (SELECT b.doc_id, unnest(list_distinct(list_transform(generate_series(1, len(t.tk) - 2),
         |          i -> t.tk[i] || ' ' || t.tk[i+1] || ' ' || t.tk[i+2]))) AS s
         |        FROM ded b JOIN tok t USING (doc_id) WHERE len(t.tk) >= 3),
         |bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(generate_series(1, len(tk) - 2),
         |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |        FROM documents JOIN tok USING (doc_id) WHERE source = 'src0' AND len(tk) >= 3),
         |cont AS (SELECT DISTINCT dsh.doc_id FROM dsh JOIN bsh USING (s))
         |SELECT doc_id, source, lang_pred, quality FROM ded
         |WHERE doc_id NOT IN (SELECT doc_id FROM cont)
         |ORDER BY doc_id""".stripMargin,
    "t_funnel_neardup" ->
      // same derived lang/quality fragments as t_funnel_e2e; the
      // near-dup stage mirrors dd_minhash_pairs (signature/banding)
      // and dd_cluster_resolve (recursive components) over the
      // exact-dedup survivors
      s"""WITH RECURSIVE docs AS (
         | SELECT doc_id * 2 AS doc_id, text, source FROM documents
         | UNION ALL
         | SELECT doc_id * 2 + 1, text || ' data stream batch', source
         | FROM documents WHERE doc_id % 9 = 0),
         |tok AS (SELECT doc_id, regexp_split_to_array(trim(text),'\\s+') AS tk FROM docs),
         |lang AS (SELECT doc_id, ${TextAnalysis.langIdSql(SparkEntry.langMarkers, "tk")} AS lang_pred
         |  FROM tok),
         |qb AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS nc,
         |  CAST(len(regexp_split_to_array(trim(text),'\\s+')) AS DOUBLE) AS nt,
         |  ${TextAnalysis.stopHitsSql(SparkEntry.qualityStops, "regexp_split_to_array(trim(text),'\\s+')")} AS ns
         |  FROM docs),
         |qual AS (SELECT doc_id, ${TextAnalysis.qualitySql("nc", "nt", "ns")} AS quality
         |  FROM qb),
         |base AS (SELECT d.doc_id, d.text, d.source, l.lang_pred, q.quality
         |  FROM docs d JOIN lang l USING (doc_id) JOIN qual q USING (doc_id)
         |  WHERE d.source <> 'src0' AND l.lang_pred = 'dataish' AND q.quality >= 0.5),
         |ded AS (SELECT * FROM base
         |  QUALIFY row_number() OVER (
         |    PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
         |    ORDER BY doc_id) = 1),
         |shl AS (SELECT b.doc_id, list_distinct(list_transform(generate_series(1, len(t.tk)-2),
         |         i -> t.tk[i] || ' ' || t.tk[i+1] || ' ' || t.tk[i+2])) AS sh
         |        FROM ded b JOIN tok t USING (doc_id) WHERE len(t.tk) >= 3),
         |sig AS (SELECT doc_id, sh, list_transform(generate_series(0, 7),
         |         i -> list_aggregate(list_transform(sh, s -> list_reduce(
         |                list_transform(generate_series(1, 8), d -> strpos('0123456789abcdef',
         |                  substring(CASE WHEN i // 4 = 0 THEN md5(s) ELSE md5(CAST(i // 4 AS VARCHAR) || ':' || s) END,
         |                            CAST((i % 4) * 8 + d AS INT), 1)) - 1),
         |                (a, b) -> a * 16 + b)), 'min')) AS sg
         |        FROM shl WHERE len(sh) > 0),
         |banded AS (SELECT doc_id, gs.b AS band, md5(CAST(sg[gs.b + 1] AS VARCHAR)) AS bucket
         |           FROM sig, LATERAL (SELECT unnest(generate_series(0, 7)) AS b) gs),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
         |         WHERE a.doc_id < b.doc_id),
         |pairs AS (SELECT id_a, id_b FROM cand
         |  JOIN shl sa ON sa.doc_id = id_a JOIN shl sb ON sb.doc_id = id_b
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.3),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         | SELECT src, dst FROM edges
         | UNION
         | SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |comp AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
         |canon AS (SELECT d.* FROM ded d LEFT JOIN comp ON comp.id = d.doc_id
         |          WHERE comp.id IS NULL OR comp.cluster = d.doc_id),
         |dsh AS (SELECT c.doc_id, unnest(s.sh) AS s FROM canon c JOIN shl s USING (doc_id)),
         |bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(generate_series(1, len(tk) - 2),
         |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
         |        FROM docs JOIN tok USING (doc_id)
         |        WHERE source = 'src0' AND doc_id % 2 = 0 AND len(tk) >= 3),
         |cont AS (SELECT DISTINCT dsh.doc_id FROM dsh JOIN bsh USING (s))
         |SELECT doc_id, source, lang_pred, quality FROM canon
         |WHERE doc_id NOT IN (SELECT doc_id FROM cont)
         |ORDER BY doc_id""".stripMargin,
    "t_pii_scrub" -> {
      // interpolate the ENGINE's own patterns so the two sides cannot
      // drift; the patterns are RE2-safe by construction (TextFns note)
      val (em, ssn, ph, ip) = (TextFns.EmailRe, TextFns.SsnRe, TextFns.PhoneRe, TextFns.Ipv4Re)
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 0 THEN text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567.'
         |         WHEN doc_id % 4 = 1 THEN text || ' SSN 123-45-6789 leaked from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
         |         WHEN doc_id % 4 = 2 THEN text || ' Call (415) 555-0133.'
         |         ELSE text END AS raw
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw,
         |    '$em', '[EMAIL]', 'g'), '$ssn', '[SSN]', 'g'), '$ph', '[PHONE]', 'g'), '$ip', '[IP]', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(raw, '$em')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(raw, '$ssn')) AS BIGINT) AS n_ssns,
         |  CAST(len(regexp_extract_all(raw, '$ph')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(raw, '$ip')) AS BIGINT) AS n_ips
         |FROM raw ORDER BY doc_id""".stripMargin
    },
    "mm_frame_sample" ->
      // empty docs emit ZERO frames (mirrors Multimodal.sampleFrames's
      // when(nFrames > 0) guard — without the WHERE, the series would
      // still yield i=0 for length 0 and diverge on any empty text)
      """SELECT doc_id AS media_id, CAST(gs.i AS BIGINT) AS frame_index,
        | CAST(least(100, length(text) - gs.i * 100) AS BIGINT) AS n_frame_bytes
        |FROM documents,
        | LATERAL (SELECT unnest(generate_series(0,
        |   greatest(CAST(ceil(length(text) / 100.0) AS INT) - 1, 0))) AS i) gs
        |WHERE length(text) > 0
        |ORDER BY media_id, frame_index""".stripMargin,
    // the generator's ground truth — the engine must parse the
    // synthesized headers BACK to exactly these doc_id-derived dims
    "mm_sniff" ->
      """SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |    WHEN 2 THEN 'jpeg' WHEN 3 THEN 'pdf' ELSE 'unknown' END AS fmt,
        |  CASE WHEN doc_id % 5 IN (0, 1)
        |    THEN CAST(doc_id % 1920 + 1 AS INTEGER) END AS width,
        |  CASE WHEN doc_id % 5 IN (0, 1)
        |    THEN CAST(doc_id % 1080 + 1 AS INTEGER) END AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dd_simhash_pairs" -> {
      s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents),
         |sim AS (SELECT doc_id, ${sqlSimhash("tk")} AS simhash FROM tok),
         |pairs AS (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sh_a, b.simhash AS sh_b
         | FROM sim a JOIN sim b
         |   ON substring(a.simhash, 1, 2) = substring(b.simhash, 1, 2)
         |  AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM (
         | SELECT id_a, id_b,
         |  CAST(list_reduce(list_transform(generate_series(1, 16), i ->
         |    bit_count(xor(strpos('0123456789abcdef', substring(sh_a, i, 1)) - 1,
         |                  strpos('0123456789abcdef', substring(sh_b, i, 1)) - 1))), (x,y) -> x+y) AS BIGINT) AS hamming
         | FROM pairs)
         |WHERE hamming <= 8 ORDER BY id_a, id_b""".stripMargin
    }
  )
}
