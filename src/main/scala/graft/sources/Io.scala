package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** SURVEY §2.1 — sources and sinks. The reference's edges are JSON
  * (pretty + JSONL), text files and blob stores; the engine
  * standardizes on Parquet internally with JSON at the edges.
  *
  * Cloud stores (the reference's GCS, S5) are path schemes to Spark —
  * `gs://`/`s3a://` URIs work through the same readers once the
  * connector jars are on the cluster; nothing here is local-FS bound.
  */
object Io {

  /** S1 — seed scan: one JSON array document (multiLine) — the Forbes
    * seed file shape (`/root/reference/src/scraper_v2.py:4133-4147`).
    */
  def readJsonArray(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("multiLine", "true")
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** S10-shape — JSONL (one object per line), e.g. risk-signal logs. */
  def readJsonl(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** S7 — recursive text scan with file provenance: one row per line
    * plus the source path (`input_file_name`), the
    * `*_clean.txt`-walk analogue (`handle_chunking.py:12-25`).
    *
    * `recursive = true` walks the whole tree under `path` filtered by
    * `pathGlobFilter` — a plain Hadoop glob has no `**`, so files
    * nested deeper than the literal pattern would be silently skipped.
    * Use `recursive = false` only for a single-level glob.
    */
  def readTextTree(
      spark: SparkSession,
      path: String,
      recursive: Boolean = false,
      globFilter: Option[String] = None): DataFrame = {
    val reader = spark.read
      .option("recursiveFileLookup", recursive.toString)
    globFilter
      .foldLeft(reader)((r, g) => r.option("pathGlobFilter", g))
      .textFile(path)
      .withColumn("source_path", input_file_name())
  }

  /** §1.3 — permissive JSON parsing with quarantine: malformed rows
    * land in a reject frame instead of aborting (the reference drops
    * ValidationError rows with a warning,
    * `structured_extraction_v2.py:2300-2302`). Returns (valid, rejects).
    */
  def parseJsonQuarantine(
      df: DataFrame,
      jsonCol: String,
      schema: StructType): (DataFrame, DataFrame) = {
    // malformed-ness comes from the parser's corrupt-record column,
    // NOT from "all declared fields are null" — '{}' or explicit
    // nulls are well-formed rows that must survive as valid
    val corrupt = "__corrupt"
    val parsed = df.withColumn(
      "__parsed",
      from_json(
        col(jsonCol),
        schema.add(corrupt, org.apache.spark.sql.types.StringType),
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt)))
    val isBad = col("__parsed").isNull || col(s"__parsed.$corrupt").isNotNull
    val valid = parsed.filter(!isBad)
      .select(col("*"), col("__parsed.*"))
      .drop("__parsed", jsonCol, corrupt)
    val rejects = parsed.filter(isBad).drop("__parsed")
    (valid, rejects)
  }

  /** S10 — date-partitioned append JSONL sink (risk signals:
    * `data/risk_signals/risk_signals_{date}.jsonl`,
    * `src/agents/tools.py:308-337`).
    */
  def writeDatePartitionedJson(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("date", date_format(col(tsCol), "yyyy-MM-dd"))
      .write
      .mode("append")
      .partitionBy("date")
      .json(path)

  /** S11 — payload sink: one JSON document per entity
    * (`structured_extraction_v2.py:798-833`). Partitioned by the key
    * so a point lookup (E2) prunes to one directory.
    */
  def writePayloads(df: DataFrame, keyCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(keyCol).json(path)

  /** Engine-internal standard: partitioned Parquet. `partitionBy` on
    * the natural pruning key (company/date) is what makes I2-style
    * incremental skips free at scale.
    */
  def writeParquet(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }

  /** A9/S13 — metrics via `observe`: named aggregates collected on the
    * driver after an action, the accumulator-based counter analogue
    * (`src/agents/metrics.py:20-26`). Returns the observed DataFrame;
    * read results from `QueryExecutionListener` or
    * `Observation` at the call site.
    */
  def withRowMetrics(df: DataFrame, name: String): DataFrame =
    df.observe(
      name,
      count(lit(1)).as("n_rows"),
      sum(when(col(df.columns.head).isNull, 1L).otherwise(0L)).as("null_keys"))

  /** CSV source with explicit schema (never inference for curated
    * tables, §1.3) — header + permissive mode, corrupt rows preserved
    * in `_corrupt_record` when the schema declares it.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .schema(schema)
      .csv(path)

  /** Columnar ORC sink/source round-trip (engine standard is Parquet;
    * ORC for interop with hive-side consumers).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Training-shard export: the shape a trainer's data loader reads —
    * `shard=K/part-*.json.gz` JSONL directories with a FIXED shard
    * count and a bounded records-per-file. Shard assignment is
    * `pmod(hash32(key), numShards)` over the engine's portable md5
    * hash, NOT Spark's internal partitioner — the same doc lands in
    * the same shard on any engine, any partitioning, any rerun, so
    * dataloader resume/repeat contracts survive a re-export.
    *
    * One clustering shuffle on the shard id (hash-uniform by
    * construction, so no skew), then each shard directory is written
    * by bounded-size files — `maxRecordsPerFile` is what keeps a
    * 100 TB export from producing multi-GB unsplittable gzip members.
    */
  def writeTrainingShards(
      df: DataFrame,
      key: Column,
      path: String,
      numShards: Int,
      maxRecordsPerFile: Long = 0L,
      gzip: Boolean = true): Unit = {
    require(numShards > 0, "numShards must be positive")
    val sharded = df
      .withColumn("shard", pmod(graft.operators.Sampling.hash32(key), lit(numShards.toLong)))
      .repartition(col("shard"))
      .write
      .mode("overwrite")
      .partitionBy("shard")
      .option("compression", if (gzip) "gzip" else "none")
    (if (maxRecordsPerFile > 0L) sharded.option("maxRecordsPerFile", maxRecordsPerFile)
     else sharded).json(path)
  }

  /** Bucketed managed table: pre-shuffles on the join key at write
    * time so repeated joins/aggregations on that key run with NO
    * exchange — the co-located-join layout for fact tables reused
    * across queries at 100 TB (pay the shuffle once on ingest, not
    * per query). Same bucket count on both sides is required for the
    * shuffle-free sort-merge join.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  // ---- persistent artifacts: one seq-versioned lifecycle ------------
  //
  // The reference's vector index is PERSISTENT: built once, queried
  // many times, upserted incrementally (Pinecone auto-create-then-
  // reuse, `src/services/embeddings.py:117-152`). At 100 TB the index
  // BUILD (k-means fit + full-corpus assignment/encoding) is the
  // expensive artifact — a retrieval path that re-fits per query pays
  // it every time. These sinks/sources make the fit a one-time cost:
  // centroids/codebooks are tiny parquet side tables, and the
  // assigned corpus is laid out partitioned BY CELL so an IVF probe
  // reads only the probed cells' directories: the probe's `cell IN`
  // filter reaches the scan as a partition filter (nprobe/nlist of
  // the files), through the latest read too, because that read
  // resolves last-wins when the index is OPENED ([[readLastWins]])
  // and leaves no window in the served plan.
  //
  // Every derived artifact below (IVF cells, PQ codes, postings, phash
  // codes, dup-graph pairs, MinHash signatures, LM count grids, value
  // grid) runs ONE lifecycle, implemented once by the primitives in
  // this section:
  //
  //   write    the base build lands at stamp `__seq` = 0 (overwrite);
  //            an upsert APPENDS its rows at a caller stamp > 0 —
  //            no existing file is rewritten ([[writeStamped]])
  //   delete   a seq-stamped row per id in the `_tombstones` sidecar
  //            ([[writeTombstones]]); the linear families append the
  //            removed rows' counts NEGATED instead
  //   resolve  live, or AS OF a stamp (rows and tombstones restricted
  //            to stamps <= the clock — time travel is a FILTER, not a
  //            restore), in one of four shapes:
  //              row-versioned (IVF cells, PQ codes, phash, MinHash
  //                sigs): last-wins per id minus the tombstones at or
  //                above the row's stamp, resolved at open
  //                ([[readLastWins]])
  //              edge set (dup-graph pairs): union; a tombstone hides
  //                the pairs on either endpoint ([[hideTombstoned]])
  //              doc-versioned (postings): max stamp per doc from the
  //                `_docseq` sidecar, joined back
  //              linear counts (LM uni/bi, value grid): sum-merge, keys
  //                whose count reaches zero drop ([[sumMerged]])
  //   compact  the resolved view rewritten as ONE stamp-0 generation,
  //            staged and swapped in, tombstones purged — pre-compaction
  //            as-of states are forfeited ([[compactDir]])
  //
  // Each family is configuration (directories, id column, bucket
  // column) plus its own encoding: IVF centroids, PQ codebooks, the
  // dup-graph closure and label swap, the postings `_docseq`/`_doclen`
  // sidecars, the value grid's declared bound. ArtifactContractSpec
  // runs the shared clauses over all eight.

  /** The one stamp guard: stamp 0 belongs to the base build (and to
    * compaction's rewrite), so every upsert and delete carries a
    * positive stamp; callers use distinct stamps per operation.
    */
  private def requireStamp(seq: Long, op: String): Unit =
    require(seq > 0L, s"$op seq must be positive (0 is the base build's stamp)")

  /** hash(`key`) mod `buckets` — the bounded bucket every bucketed
    * family partitions by (one directory per bucket, never per key:
    * key-sized directory listings are their own scale problem).
    */
  private def bucketOf(key: String, buckets: Int): Column =
    pmod(xxhash64(col(key)), lit(buckets.toLong))

  /** Write `df` to `dir`, partitioned by `part` if given. A partitioned
    * write is clustered by its partition column first (REBALANCE-
    * before-partitionBy): each partition lands in ONE task → one file
    * per partition per generation, instead of a file per (task ×
    * partition) that every later read/copy pays in listing. At
    * production scale the bucket modulus is the file-sizing knob.
    */
  private def writeDir(df: DataFrame, dir: String, part: Option[String], mode: String): Unit = {
    val w = part.fold(df)(p => df.repartition(col(p))).write.mode(mode)
    part.fold(w)(p => w.partitionBy(p)).parquet(dir)
  }

  /** The stamped write: no `upsertSeq` overwrites `dir` with the base
    * at stamp 0; `Some(seq)` appends at `seq` after the stamp guard.
    * Base rows carry the stamp too, so every file under `dir` shares
    * ONE schema with later appends (mixed parquet schemas under a
    * directory read back nondeterministically without mergeSchema).
    * Returns the written schema, for families that persist it.
    */
  private def writeStamped(
      df: DataFrame,
      dir: String,
      part: Option[String],
      upsertSeq: Option[Long] = None): StructType = {
    upsertSeq.foreach(requireStamp(_, "upsert"))
    val stamped = df.withColumn("__seq", lit(upsertSeq.getOrElse(0L)))
    writeDir(stamped, dir, part, if (upsertSeq.isEmpty) "overwrite" else "append")
    stamped.schema
  }

  /** A stamped dir's files as written: with the family's persisted
    * schema when it has one (an EMPTY artifact writes a fileless dir,
    * and schema inference on it throws — supplied, it reads as an
    * empty frame), else with the schema Spark wrote into the first
    * data file's footer ([[writtenSchema]]). One file listing by the
    * scan, taken here.
    */
  private def readFiles(spark: SparkSession, dir: String, schema: Option[StructType]): DataFrame =
    schema.orElse(writtenSchema(spark, dir)).fold(spark.read)(s => spark.read.schema(s)).parquet(dir)

  /** The schema Spark's (non-merging) inference gives the parquet
    * files under `dir`, read here instead of in a Spark job:
    * the Spark schema written under [[SparkRowMetadata]] in the footer
    * of the first data file in path order — the file that inference
    * reads. None when `dir` has no data file, or its footer no such
    * key (files Spark did not write): the caller then infers.
    */
  private[graft] def writtenSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    // skip what Spark's file index skips (`_x` unless `k=v`, `.x`);
    // sort a dir `d` as "d/", so the depth-first first file is the
    // first full path, as inference orders them
    def firstFile(p: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] =
      fs.listStatus(p)
        .filterNot { s =>
          val n = s.getPath.getName
          (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
        }
        .sortBy(s => if (s.isDirectory) s.getPath.getName + "/" else s.getPath.getName)
        .iterator
        .flatMap(s => if (s.isDirectory) firstFile(s.getPath) else Some(s.getPath))
        .nextOption()
    val first =
      try firstFile(root)
      catch { case _: java.io.FileNotFoundException => None }
    first.flatMap(footerSchema(conf, _))
  }

  /** The key under which Spark writes a parquet file's Spark schema. */
  private val SparkRowMetadata = "org.apache.spark.sql.parquet.row.metadata"

  private def footerSchema(
      conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path): Option[StructType] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val json =
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkRowMetadata))
      finally reader.close()
    json.flatMap(j => scala.util.Try(schemaOf(j)).toOption)
  }

  /** `files`' rows with `__seq` defaulted to 0, restricted to stamps
    * <= `asOf`.
    */
  private def stamped(files: DataFrame, asOf: Option[Long]): DataFrame = {
    asOf.foreach(m => require(m >= 0L, "asOfSeq must be >= 0"))
    val rows = files.withColumn("__seq", coalesce(col("__seq"), lit(0L)))
    asOf.fold(rows)(m => rows.filter(col("__seq") <= m))
  }

  private def readStamped(
      spark: SparkSession,
      dir: String,
      schema: Option[StructType] = None,
      asOf: Option[Long] = None): DataFrame =
    stamped(readFiles(spark, dir, schema), asOf)

  /** The parquet rows of `path`'s underscore sidecar `name`, read
    * through its listed files: Spark's file index treats a leaf path
    * that starts with `_` as hidden and warns "All paths were ignored"
    * when the sidecar dir itself is the read path (the rows come back
    * either way), and a glob read path warns with a stack trace.
    */
  private def readSidecar(spark: SparkSession, path: String, name: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/$name")
    val conf = spark.sessionState.newHadoopConf()
    val files = dir.getFileSystem(conf).listStatus(dir).map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
    // inference reads the first file in path order; read its footer here
    val schema = files.minOption.flatMap(f => footerSchema(conf, new org.apache.hadoop.fs.Path(f)))
    schema.fold(spark.read)(s => spark.read.schema(s)).parquet(files.toIndexedSeq: _*)
  }

  // ---- tombstone deletes (takedown / right-to-be-forgotten) -------
  //
  // A training-data engine must be able to REMOVE documents from its
  // persisted artifacts — takedown requests, licensing reversals,
  // contamination discoveries — without rewriting a 100 TB index. The
  // discipline is the upsert one inverted: deletes land as seq-stamped
  // tombstone rows in an underscore sidecar (invisible to the data
  // scan, append-only, no existing file rewritten), and the readers
  // treat a tombstone at stamp s as deleting every version with stamp
  // <= s — so delete-then-reupsert restores the doc, and
  // upsert-then-delete removes it, purely by seq order. Physical
  // purging is compaction's job; the tombstone makes the doc
  // UNSERVABLE immediately, which is what the request requires.

  /** One (id, seq) row per distinct id in `ids`' first column — a
    * tombstone, or (with its `deleted` flag) a postings doc version.
    */
  private def idStamps(ids: DataFrame, seq: Long): DataFrame =
    ids.select(col(ids.columns.head).as("id")).distinct().withColumn("seq", lit(seq))

  private def writeTombstones(ids: DataFrame, path: String, seq: Long): Unit = {
    requireStamp(seq, "delete")
    idStamps(ids, seq).write.mode("append").parquet(s"$path/_tombstones")
  }

  /** `path`'s tombstones (id, seq) visible at the `asOf` clock, if it
    * has a `_tombstones` sidecar.
    */
  private def readTombstones(
      spark: SparkSession,
      path: String,
      asOf: Option[Long]): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) None
    else {
      val all = readSidecar(spark, path, "_tombstones")
      Some(asOf.fold(all)(m => all.filter(col("seq") <= m)))
    }
  }

  /** Drop the rows of `rows` (which carry `__seq`) where any of
    * `idCols` has a tombstone at or above the row's stamp. `asOf`
    * restricts which tombstones are VISIBLE (the as-of read's clock).
    */
  private def hideTombstoned(
      rows: DataFrame,
      idCols: Seq[String],
      path: String,
      asOf: Option[Long]): DataFrame =
    readTombstones(rows.sparkSession, path, asOf).fold(rows) { all =>
      val tmax = all.groupBy(col("id").as("__tid")).agg(max(col("seq")).as("__tseq"))
      idCols.foldLeft(rows)((r, id) =>
        r.join(tmax, col(id) === col("__tid") && col("__seq") <= col("__tseq"), "left_anti"))
    }

  /** The row-versioned resolution: the LATEST version of every
    * `idCol` under `dir` (max `__seq`), minus tombstoned ids, at the
    * `asOf` clock or live. Stamps dropped.
    *
    * "Latest" is resolved once, here, when the artifact is opened: a
    * version at stamp s is stale iff its id has an upsert above s or
    * a tombstone at or above s, so only the ids stamped > 0 (the
    * upserts and tombstones since the last compaction) can hide
    * anything. Their narrow (id, stamp) rows are collected into a
    * local relation of per-id bounds — hide every version below the
    * bound — and the served frame is the versions left-anti-joined
    * against it. The collect and the served scan share ONE file
    * listing, so an append landing in between is seen by neither.
    * A query over the frame then runs no window and no shuffle:
    * filters on partition columns (an IVF probe's `cell IN`) push
    * through the anti-join to the file level, and the bounds
    * broadcast as one small job; with no upserts or
    * tombstones the join folds away and the query is the scan alone.
    * The id is the whole join key, so a stale copy an upsert left in
    * another cell or bucket stays hidden.
    *
    * Rows sharing an (id, stamp) pair all survive (none has a higher
    * stamp), as do rows with a null id (no stamp or tombstone can
    * match a null); callers use distinct stamps and non-null ids.
    */
  private def readLastWins(
      spark: SparkSession,
      path: String,
      dir: String,
      idCol: String,
      schema: Option[StructType] = None,
      asOf: Option[Long] = None): DataFrame = {
    val files = readFiles(spark, dir, schema)
    val idType = files.schema(idCol).dataType
    // the RAW stamp: parquet stats skip the stamp-0 base files, which
    // a filter on coalesce(__seq, 0) would not push down
    val upserts = files
      .filter(col("__seq") > 0L && asOf.fold(lit(true))(m => col("__seq") <= m))
      .select(col(idCol).as("id"), col("__seq").as("below"))
    val marks = readTombstones(spark, path, asOf).fold(upserts)(t =>
      upserts.unionByName(t.select(col("id").cast(idType).as("id"), (col("seq") + 1L).as("below"))))
    // one row per version upserted or tombstoned since the last
    // compaction (which restamps every live row to 0 and purges the
    // tombstones): the mutation history, never the index
    val bounds = marks.collect().groupMapReduce(_.get(0))(_.getLong(1))(math.max)
    val hidden = spark.createDataFrame(
      bounds.toSeq.map { case (id, below) => Row(id, below) }.asJava,
      StructType(Seq(StructField("__hid", idType), StructField("__hbelow", LongType))))
    stamped(files, asOf)
      .join(hidden, col(idCol) === col("__hid") && col("__seq") < col("__hbelow"), "left_anti")
      .drop("__seq")
  }

  /** The linear-counts resolution: SUM `count` per `keys`; keys whose
    * merged count reaches 0 DROP (a taken-down doc's keys vanish
    * exactly as a rebuild without it would produce).
    */
  private def sumMerged(rows: DataFrame, keys: Seq[String], count: String): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(sum(col(count)).as(count)).filter(col(count) > 0L)

  /** Compaction — the physical-purge half of the tombstone story and
    * the cure for append-only accumulation: `resolved` (the family's
    * live view with its partition column) is written as ONE stamp-0
    * generation to a staging sibling, swapped over `dir`, and the
    * `_tombstones` sidecar of `purgeTombstonesOf` deleted — the
    * compacted base holds only LIVE rows, so keeping the tombstones
    * would wrongly re-hide ids re-upserted before compaction. Never
    * overwrite a path while lazily reading it: the stage is complete
    * before `dir` is touched.
    */
  private def compactDir(
      resolved: DataFrame,
      dir: String,
      part: Option[String],
      purgeTombstonesOf: Option[String] = None): Unit = {
    val spark = resolved.sparkSession
    writeStamped(resolved, stagingOf(dir), part)
    swapDir(spark, stagingOf(dir), dir)
    purgeTombstonesOf.foreach(p => deleteDir(spark, s"$p/_tombstones"))
  }

  /** The staging sibling a compaction of `dir` writes first. */
  private def stagingOf(dir: String): String = s"${dir}_compacting"

  /** An artifact's identity rides with it in the underscore `_meta`
    * child (invisible to the data scan): the bucket modulus — a
    * guessed mismatch would prune to the WRONG partitions and make
    * lookups silently return empty — and the persisted schemas of the
    * explicit-schema read-backs.
    */
  private def writeMeta(meta: DataFrame, path: String): Unit =
    meta.coalesce(1).write.mode("overwrite").parquet(s"$path/_meta")

  /** `path/_meta`'s bucket modulus and the named persisted schemas
    * (one tiny job).
    */
  private def readMeta(
      spark: SparkSession,
      path: String,
      schemas: String*): (Int, Seq[StructType]) = {
    val m = readSidecar(spark, path, "_meta").select(("buckets" +: schemas).map(col): _*).head()
    (m.getInt(0), schemas.indices.map(i => schemaOf(m.getString(i + 1))))
  }

  private def schemaOf(json: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]

  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Replace `dst` with the fully-written staged dir `src` by rename —
    * the staged-swap step for artifact maintenance without the old
    * read-back + rewrite (which paid the table's I/O twice per swap).
    * Crash contract: `src` is complete before `dst` is touched, so an
    * interrupted swap re-runs from the stage. On object stores without
    * atomic rename the FS client copies server-side — still cheaper
    * than pulling the table through Spark again.
    */
  private def swapDir(spark: SparkSession, src: String, dst: String): Unit = {
    val s = new org.apache.hadoop.fs.Path(src)
    val d = new org.apache.hadoop.fs.Path(dst)
    val fs = s.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(d)) fs.delete(d, true)
    if (!fs.rename(s, d))
      throw new java.io.IOException(s"swapDir: rename $src -> $dst failed")
  }

  // ---- IVF index (row-versioned: `cells`, id = caller's idCol) ------

  /** Persist an IVF index: `path/centroids` (cell, centroid) and
    * `path/cells` — the corpus with its cell assignment, partitioned
    * by cell, at stamp 0. Loading + `ivfTopK` must return exactly what
    * the in-line fit returned for the same centroids.
    */
  def writeIvfIndex(
      assigned: DataFrame,
      centroids: Seq[Array[Double]],
      path: String): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    writeStamped(assigned, s"$path/cells", Some("cell"))
  }

  private def readCentroids(spark: SparkSession, path: String): Seq[Array[Double]] =
    readFiles(spark, s"$path/centroids", None)
      .collect()
      .sortBy(_.getAs[Int]("cell"))
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
      .toSeq

  /** Load an IVF index written by [[writeIvfIndex]]: (centroids in
    * cell order, assigned corpus). Filters on `cell` prune to the
    * probed partition directories. Upsert stamps are dropped — use
    * [[readIvfIndexLatest]] when the index has live upserts.
    */
  def readIvfIndex(spark: SparkSession, path: String): (Seq[Array[Double]], DataFrame) =
    (readCentroids(spark, path), readFiles(spark, s"$path/cells", None).drop("__seq"))

  /** Incremental IVF upsert — the reference's index maintenance shape
    * (Pinecone upserts vectors into an EXISTING index; the fit is
    * never repeated): `assigned` (new/changed vectors already
    * cell-assigned against the index's frozen centroids via
    * [[graft.operators.Similarity.ivfAssign]]) lands as an APPEND to
    * the cell-partitioned layout, stamped with `seq` — a caller
    * batch number that must increase per upsert. No rewrite of
    * existing files, no shuffle of the existing index: the append
    * touches only the incoming rows' cell directories.
    * [[readIvfIndexLatest]] resolves replaced ids last-wins on the
    * stamp. (Re-fitting centroids is a REBUILD, not an upsert —
    * assignment against frozen centroids is what keeps the increment
    * cheap, at the cost of drift the operator's caller monitors.)
    */
  def upsertIvfIndex(assigned: DataFrame, path: String, seq: Long): Unit =
    writeStamped(assigned, s"$path/cells", Some("cell"), Some(seq))

  /** Tombstone-delete vectors from a persisted IVF index: `ids` (one
    * column, the vector ids) become unservable to
    * [[readIvfIndexLatest]] from this stamp on — no cell file is
    * rewritten. Re-upserting an id at a HIGHER stamp restores it.
    */
  def deleteIvfIds(ids: DataFrame, path: String, seq: Long): Unit =
    writeTombstones(ids, path, seq)

  /** Load an IVF index with upserts and tombstones applied: centroids
    * + the LATEST live version of every vector ([[readLastWins]] per
    * `idCol`).
    */
  def readIvfIndexLatest(
      spark: SparkSession,
      path: String,
      idCol: String): (Seq[Array[Double]], DataFrame) =
    (readCentroids(spark, path), readLastWins(spark, path, s"$path/cells", idCol))

  /** TIME TRAVEL over the seq-versioned IVF layout:
    * [[readIvfIndexLatest]] restricted to upserts and tombstones with
    * stamps <= `asOfSeq` — the index exactly as it stood before later
    * batches landed. The versioned upsert layout (stamped appends,
    * never in-place rewrites) is what makes this a FILTER rather
    * than a restore: reproduce yesterday's retrieval for an audit,
    * bisect a quality regression to the batch that introduced it, or
    * roll a bad upsert back by re-publishing its predecessor. As-of
    * the max stamp == [[readIvfIndexLatest]].
    */
  def readIvfIndexAsOf(
      spark: SparkSession,
      path: String,
      idCol: String,
      asOfSeq: Long): (Seq[Array[Double]], DataFrame) =
    (readCentroids(spark, path),
      readLastWins(spark, path, s"$path/cells", idCol, asOf = Some(asOfSeq)))

  /** Compact a persisted IVF index: the effective corpus (upserts
    * last-wins, tombstones applied) becomes the new stamp-0 base, the
    * tombstone sidecar is purged. [[readIvfIndex]] afterwards serves
    * exactly what [[readIvfIndexLatest]] served before.
    */
  def compactIvfIndex(spark: SparkSession, path: String, idCol: String): Unit =
    compactDir(
      readLastWins(spark, path, s"$path/cells", idCol), s"$path/cells", Some("cell"), Some(path))

  /** The IVF index's coarse centroids as a FRAME — (cell int,
    * ce array<double>), the exact shape
    * [[graft.operators.Similarity.ivfPqTopKBatch]] consumes. The
    * single-query readers ([[readIvfIndex]]) collect the centroid
    * table into driver literals because a one-off probe bakes its
    * query into the plan anyway; the BATCHED serving path must stay
    * literal-free end-to-end, so this reader keeps the nlist-bounded
    * table in-plan — Catalyst broadcasts it into the probe
    * crossJoin, nothing ever touches the driver.
    */
  def readIvfCentroidFrame(spark: SparkSession, path: String): DataFrame =
    readFiles(spark, s"$path/centroids", None)
      .select(
        col("cell").cast("int").as("cell"),
        col("centroid").cast("array<double>").as("ce"))

  // ---- PQ index (row-versioned: `codes`, unpartitioned) -------------

  /** Persist a PQ index: `path/codebooks` (sub, cell, centroid) and
    * `path/codes` — the byte-coded corpus (the pq_* columns replace
    * the full vectors in the scan; keep the embedding column in
    * `codes` only if the exact re-rank should read it from the index
    * rather than joining back to the corpus).
    */
  def writePqIndex(
      codes: DataFrame,
      codebooks: Seq[Seq[Array[Double]]],
      path: String): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    codebooks.zipWithIndex
      .flatMap { case (subCents, s) =>
        subCents.zipWithIndex.map { case (c, i) => (s, i, c.toSeq) }
      }
      .toDF("sub", "cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    writeStamped(codes, s"$path/codes", None)
  }

  /** Load a PQ index written by [[writePqIndex]]: (codebooks indexed
    * [sub][cell], coded corpus). Upsert stamps are dropped — use
    * [[readPqIndexLatest]] when the index has live upserts.
    */
  def readPqIndex(
      spark: SparkSession,
      path: String): (Seq[Seq[Array[Double]]], DataFrame) =
    (readPqCodebooks(spark, path), readFiles(spark, s"$path/codes", None).drop("__seq"))

  /** Incremental PQ upsert — [[upsertIvfIndex]]'s mirror for the
    * byte-coded layout: `codes` (new/changed vectors already ENCODED
    * against the index's FROZEN codebooks via
    * [[graft.operators.Similarity.pqEncode]]) appends with a caller
    * seq stamp; no rewrite of existing files, no re-fit.
    * [[readPqIndexLatest]] resolves replaced ids last-wins on the
    * stamp. (Re-fitting codebooks is a REBUILD — encoding against
    * frozen codebooks keeps the increment cheap at the cost of drift
    * the caller monitors, the exact IVF-centroid tradeoff.)
    */
  def upsertPqIndex(codes: DataFrame, path: String, seq: Long): Unit =
    writeStamped(codes, s"$path/codes", None, Some(seq))

  /** Tombstone-delete coded vectors from a persisted PQ index — the
    * [[deleteIvfIds]] mirror for the byte-coded layout.
    */
  def deletePqIds(ids: DataFrame, path: String, seq: Long): Unit =
    writeTombstones(ids, path, seq)

  /** Load a PQ index with upserts and tombstones applied: codebooks +
    * the LATEST live version of every code row — identical to
    * [[readIvfIndexLatest]]'s contract.
    */
  def readPqIndexLatest(
      spark: SparkSession,
      path: String,
      idCol: String): (Seq[Seq[Array[Double]]], DataFrame) =
    (readPqCodebooks(spark, path), readLastWins(spark, path, s"$path/codes", idCol))

  /** Time-travel read of a PQ index AS OF `asOfSeq`: code rows and
    * tombstones restricted to stamps <= the clock, then
    * [[readPqIndexLatest]]'s resolution. Codebooks are frozen at build
    * time, so they need no clock.
    */
  def readPqIndexAsOf(
      spark: SparkSession,
      path: String,
      idCol: String,
      asOfSeq: Long): (Seq[Seq[Array[Double]]], DataFrame) =
    (readPqCodebooks(spark, path),
      readLastWins(spark, path, s"$path/codes", idCol, asOf = Some(asOfSeq)))

  /** Compact a persisted PQ index — [[compactIvfIndex]]'s mirror for
    * the byte-coded layout.
    */
  def compactPqIndex(spark: SparkSession, path: String, idCol: String): Unit =
    compactDir(readLastWins(spark, path, s"$path/codes", idCol), s"$path/codes", None, Some(path))

  private def readPqCodebooks(spark: SparkSession, path: String): Seq[Seq[Array[Double]]] =
    readFiles(spark, s"$path/codebooks", None)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getAs[scala.collection.Seq[Double]](2).toArray))
      .groupBy(_._1)
      .toSeq
      .sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)

  /** The PQ index's codebooks as a FRAME — (s int, code int,
    * be array<double>), [[graft.operators.Similarity.ivfPqTopKBatch]]'s
    * codebook shape: one row per (subspace, code word). S·K rows
    * total (bounded by the index geometry, never the corpus), kept
    * in-plan for the batched ADC-table build — the collect-backed
    * [[readPqCodebooks]] stays the single-query bootstrap's reader.
    */
  def readPqCodebookFrame(spark: SparkSession, path: String): DataFrame =
    readFiles(spark, s"$path/codebooks", None)
      .select(
        col("sub").cast("int").as("s"),
        col("cell").cast("int").as("code"),
        col("centroid").cast("array<double>").as("be"))

  // ---- postings (doc-versioned: root dir, `_docseq`/`_doclen`) -------

  /** Persist a positional inverted index
    * (`TextAnalysis.invertedIndex` output) partitioned by a bounded
    * TERM-HASH bucket, so a phrase query that pre-filters to its
    * terms' buckets prunes the scan to a handful of partitions at any
    * index size. The modulus persists in `_meta` ([[postingsBuckets]]
    * reads it back).
    */
  def writePostings(index: DataFrame, path: String, buckets: Int = 64): Unit = {
    require(buckets > 0, "buckets must be positive")
    val spark = index.sparkSession
    import spark.implicits._
    writeStamped(
      index.withColumn("term_bucket", bucketOf("term", buckets)), path, Some("term_bucket"))
    writeDocVersions(index, path, 0L)
    writeMeta(Seq(buckets).toDF("buckets"), path)
  }

  /** The postings sidecars for the doc versions in `index` at `seq`
    * (stamp 0 overwrites, the base build). `_docseq`: one (id, seq,
    * deleted) row per doc version, so the read-side resolution
    * aggregates a doc-count-bounded slim table instead of re-scanning
    * the postings for the per-doc max stamp. `_doclen` (the
    * Lucene-norms idea): token count per doc version derived from the
    * postings themselves, so BM25 runs entirely off the index.
    */
  private def writeDocVersions(index: DataFrame, path: String, seq: Long): Unit = {
    writeDocSeq(index.select(col("id")), path, seq, deleted = false)
    index.groupBy(col("id"))
      .agg(sum(size(col("positions"))).cast("long").as("dl"))
      .withColumn("seq", lit(seq))
      .write.mode(if (seq == 0L) "overwrite" else "append").parquet(s"$path/_doclen")
  }

  private def writeDocSeq(ids: DataFrame, path: String, seq: Long, deleted: Boolean): Unit =
    idStamps(ids, seq)
      .withColumn("deleted", lit(deleted))
      .write.mode(if (seq == 0L) "overwrite" else "append").parquet(s"$path/_docseq")

  /** Load a [[writePostings]] index. Pair with
    * `postingsBuckets(path, terms)` to pre-filter the partition
    * column. Upsert stamps are dropped — use [[readPostingsLatest]]
    * when the index has live upserts.
    */
  def readPostings(spark: SparkSession, path: String): DataFrame =
    readFiles(spark, path, None).drop("__seq")

  /** Incremental postings upsert — the IVF/PQ maintenance shape for
    * the retrieval index: `index` is the
    * [[graft.operators.TextAnalysis.invertedIndex]] output for the
    * RE-INDEXED docs only (the daily changed-page increment), landed
    * as an append to the bucketed layout with a caller seq stamp that
    * must increase per upsert. Resolution granularity is the DOC
    * VERSION, not the (term, doc) row: [[readPostingsLatest]] keeps
    * only rows whose stamp equals their doc's maximum, so a term the
    * new version DROPPED cannot ghost-match from the old version's
    * rows — per-row last-wins could never express that deletion.
    * Contract: an upsert replaces postings for ids PRESENT in the
    * increment; removing a doc entirely is [[deletePostingsDocs]].
    */
  def upsertPostings(index: DataFrame, path: String, seq: Long): Unit = {
    val buckets = postingsBucketCount(index.sparkSession, path)
    writeStamped(
      index.withColumn("term_bucket", bucketOf("term", buckets)),
      path, Some("term_bucket"), Some(seq))
    writeDocVersions(index, path, seq)
  }

  /** Tombstone-delete whole documents from a persisted postings
    * index: `ids` (one column, the doc ids) get a deleted doc-version
    * row at `seq`, so [[readPostingsLatest]] serves NO postings for
    * them — every term vanishes at once, no bucket file rewritten.
    * Re-indexing a doc at a higher stamp (upsertPostings) restores
    * it. The takedown shape for the retrieval index.
    */
  def deletePostingsDocs(ids: DataFrame, path: String, seq: Long): Unit = {
    requireStamp(seq, "delete")
    writeDocSeq(ids, path, seq, deleted = true)
  }

  /** The live doc versions of a postings index: (\_\_did, __max_seq)
    * for every doc whose latest sidecar row (at the `asOf` clock) is
    * not a tombstone.
    */
  private def livePostingsDocs(
      spark: SparkSession,
      path: String,
      asOf: Option[Long]): DataFrame = {
    val all = readSidecar(spark, path, "_docseq")
    val raw = asOf.fold(all)(m => all.filter(col("seq") <= m))
    val withFlag =
      if (raw.columns.contains("deleted"))
        raw.withColumn("deleted", coalesce(col("deleted"), lit(false)))
      else raw.withColumn("deleted", lit(false))
    graft.operators.Relational
      .dedupeFirstWins(withFlag, Seq(col("id")), Seq(col("seq").desc))
      .filter(!col("deleted"))
      .select(col("id").as("__did"), col("seq").as("__max_seq"))
  }

  private def postingsAt(spark: SparkSession, path: String, asOf: Option[Long]): DataFrame =
    readStamped(spark, path, asOf = asOf)
      .join(
        livePostingsDocs(spark, path, asOf),
        col("id") === col("__did") && col("__seq") === col("__max_seq"))
      .drop("__did", "__max_seq", "__seq")

  /** Time-travel read of a postings index AS OF `asOfSeq`: the
    * doc-version sidecar and the postings rows are both restricted to
    * stamps <= the as-of clock, then the usual per-doc max-stamp
    * resolution runs — so a read below a takedown's or re-index's
    * stamp serves yesterday's index exactly (reproduce a retrieval
    * regression against the index that produced it). As-of max(seq)
    * == [[readPostingsLatest]]; as-of 0 == the base build.
    */
  def readPostingsAsOf(
      spark: SparkSession,
      path: String,
      asOfSeq: Long): DataFrame =
    postingsAt(spark, path, Some(asOfSeq))

  /** Load a postings index with upserts applied: each doc's LATEST
    * version's postings only (doc-level max stamp from the `_docseq`
    * sidecar — doc-count-bounded — joined back on (id, stamp)). The
    * main index scan stays single and partition-prunable; the join
    * key is slim. Ties on the stamp keep both versions' rows —
    * callers must use distinct positive stamps per upsert.
    */
  def readPostingsLatest(spark: SparkSession, path: String): DataFrame =
    postingsAt(spark, path, None)

  /** Live doc lengths (id, dl) from the `_doclen` sidecar — each live
    * doc's CURRENT version's token count. The input to index-resident
    * length-normalized scoring ([[graft.operators.TextAnalysis
    * .bm25FromPostings]]); doc-count-bounded, no corpus scan.
    */
  def readPostingsDocLengths(spark: SparkSession, path: String): DataFrame =
    readSidecar(spark, path, "_doclen")
      .join(
        livePostingsDocs(spark, path, None),
        col("id") === col("__did") && col("seq") === col("__max_seq"))
      .select(col("id"), col("dl"))

  /** Compact a persisted postings index: materialize the effective
    * postings (doc-version resolution + tombstones) and rebuild the
    * bucketed base via [[writePostings]] with the SAME persisted
    * modulus — the doc-seq sidecar resets to stamp 0, tombstoned
    * docs' bytes are gone, and [[readPostings]] afterwards serves
    * what [[readPostingsLatest]] served before. The stage is a
    * SIBLING: writePostings overwrites the index root.
    */
  def compactPostings(spark: SparkSession, path: String): Unit = {
    val buckets = postingsBucketCount(spark, path)
    readPostingsLatest(spark, path)
      .drop("term_bucket")
      .write.mode("overwrite").parquet(stagingOf(path))
    writePostings(readFiles(spark, stagingOf(path), None), path, buckets)
    deleteDir(spark, stagingOf(path))
  }

  /** The bucket modulus `path`'s index was written with (persisted by
    * [[writePostings]]) — fails fast on a pre-meta or foreign layout
    * instead of guessing.
    */
  def postingsBucketCount(spark: SparkSession, path: String): Int =
    readMeta(spark, path)._1

  /** The partition buckets `writePostings` assigned to `terms` — the
    * pruning predicate for a phrase query over a loaded index. The
    * bucket modulus comes from the index's own persisted `_meta`, so
    * the write/read pair CANNOT desynchronize — the silent-empty
    * failure mode of a caller-supplied count is structurally gone.
    */
  def postingsBuckets(
      spark: SparkSession,
      path: String,
      terms: Seq[String]): Seq[Long] = {
    import spark.implicits._
    val buckets = postingsBucketCount(spark, path)
    terms
      .toDF("term")
      .select(bucketOf("term", buckets))
      .collect()
      .map(_.getLong(0))
      .distinct
      .toSeq
  }

  // ---- persistent near-dup pair graph (edge set: `pairs`) -----------
  //
  // The near-dup pair pipeline (shingle → band → verify) and its
  // transitive closure are, after the ANN index build, the most
  // expensive artifacts the engine derives — and they feed MANY
  // consumers: cluster-size health reports, PageRank centrality,
  // leakage-safe splits, golden-record resolution. At 100 TB that
  // pipeline is a many-hour scan; re-deriving it inside every
  // consumer query multiplies it per consumer. These sinks make it a
  // build-once artifact: pairs and cluster labels land as parquet
  // partitioned by an id-hash bucket (a per-doc neighbor or label
  // lookup prunes to one bucket), and every consumer loads instead of
  // re-deriving.

  /** Persist a near-dup pair graph: `path/pairs` (the verified edge
    * list, partitioned by `pair_bucket` = hash(id_a) mod `buckets`)
    * and `path/labels` — the transitive-closure cluster labels
    * (id, cluster_id) computed here via [[graft.operators.Dedup
    * .clusterPairs]], partitioned by hash(id) likewise. The pair
    * frame is WRITTEN FIRST and the closure runs off the written
    * parquet, so the upstream pair pipeline executes exactly once
    * per build no matter how expensive its lineage is.
    *
    * Labels cover ids that appear in at least one pair — singleton
    * docs are absent by construction and consumers restore them with
    * `coalesce(cluster_id, id)`, the same rule the in-line
    * clusterPairs consumers already apply. The bucket modulus and
    * both schemas persist in `path/_meta` ([[writeMeta]]), so an
    * empty pair set reads back as an empty frame. `checkpointDir`
    * passes through to the closure's iteration-truncation policy
    * ([[graft.operators.Checkpointing]]).
    */
  def writeDupGraph(
      pairs: DataFrame,
      path: String,
      buckets: Int = 64,
      checkpointDir: Option[String] = None): Unit = {
    require(buckets > 0, "buckets must be positive")
    val spark = pairs.sparkSession
    import spark.implicits._
    val pairsSchema = writeStamped(
      pairs.withColumn("pair_bucket", bucketOf("id_a", buckets)),
      s"$path/pairs", Some("pair_bucket"))
    val labels = graft.operators.Dedup
      .clusterPairs(
        spark.read.schema(pairsSchema).parquet(s"$path/pairs").select(col("id_a"), col("id_b")),
        checkpointDir = checkpointDir)
      .withColumn("id_bucket", bucketOf("id", buckets))
    writeDir(labels, s"$path/labels", Some("id_bucket"), "overwrite")
    writeMeta(
      Seq((buckets, pairsSchema.json, labels.schema.json))
        .toDF("buckets", "pairs_schema", "labels_schema"),
      path)
  }

  private def dupGraphPairsAt(spark: SparkSession, path: String, asOf: Option[Long]): DataFrame = {
    val (_, Seq(pairsSchema)) = readMeta(spark, path, "pairs_schema")
    hideTombstoned(
      readStamped(spark, s"$path/pairs", Some(pairsSchema), asOf), Seq("id_a", "id_b"), path, asOf)
      .drop("pair_bucket", "__seq")
  }

  /** Load a [[writeDupGraph]] edge list: (id_a, id_b) plus whatever
    * verification columns the build carried (jaccard score etc.).
    * Doc tombstones ([[deleteDupGraphDocs]]) hide every pair touching
    * a deleted doc at or below the tombstone stamp — pairs re-appended
    * at a higher stamp (the doc came back) stay live. A neighbor
    * lookup for doc d prunes on `pair_bucket = hash(d) mod
    * bucketCount` — see [[dupGraphBucketCount]].
    */
  def readDupGraphPairs(spark: SparkSession, path: String): DataFrame =
    dupGraphPairsAt(spark, path, None)

  /** Time-travel read of the dup-graph pair set AS OF `asOfSeq`:
    * every appended pair carries its stamp (base build = 0) and
    * tombstones carry theirs, so the graph exactly as it stood at
    * stamp `asOfSeq` is a FILTER, not a restore from backup. As-of
    * the max stamp == the live [[readDupGraphPairs]] view; as-of 0 ==
    * the base build; an as-of read BELOW a delete's stamp sees the
    * pre-takedown graph — the audit/debug view ("which cluster did
    * this doc sit in before Tuesday's takedown") that no current-view
    * read can produce. Compaction ([[compactDupGraph]]) forfeits
    * pre-compaction as-of states, as in every family.
    */
  def readDupGraphPairsAsOf(
      spark: SparkSession,
      path: String,
      asOfSeq: Long): DataFrame =
    dupGraphPairsAt(spark, path, Some(asOfSeq))

  /** Tombstone-delete DOCS from the dup graph (the takedown shape for
    * the pair artifact): every pair touching the ids is hidden from
    * this stamp on, and — because removing a node can SPLIT a cluster,
    * which no incremental label patch can express — the label table
    * is re-closed over the LIVE pairs. The recompute is the honest
    * cost of graph deletion; it re-runs only the closure (labels are
    * doc-bounded), never the pair-discovery pipeline.
    *
    * BULK TAKEDOWNS: the closure is O(live pairs) per call, so N
    * small takedown batches paying N closures is the artifact
    * family's write-amplification hot spot at production scale. Pass
    * `recompute = false` for every batch but the last (or for all of
    * them, then call [[recomputeDupGraphLabels]] once) — tombstones
    * are the durable truth and each batch's stamp stays individually
    * time-travelable ([[readDupGraphPairsAsOf]] semantics are
    * IDENTICAL either way; only label-refresh timing differs). The
    * trade: between a deferred delete and the final closure the PAIR
    * reads already hide the docs but the LABEL table is stale — a
    * label consumer in that window can still see a tombstoned id or
    * a cluster that the takedown split. Defer only within a
    * maintenance window that ends with the one closure.
    */
  def deleteDupGraphDocs(
      ids: DataFrame,
      path: String,
      seq: Long,
      checkpointDir: Option[String] = None,
      recompute: Boolean = true): Unit = {
    writeTombstones(ids, path, seq)
    if (recompute) recomputeDupGraphLabels(ids.sparkSession, path, checkpointDir)
  }

  /** Stage `labels` to `labels_next` and swap it in by rename instead
    * of read-back + rewrite (half the label I/O per refresh, same
    * crash contract: the staged dir survives until the live one is
    * replaced, so an interrupted swap is re-runnable from the stage).
    */
  private def swapLabels(labels: DataFrame, path: String, buckets: Int): Unit = {
    writeDir(
      labels.withColumn("id_bucket", bucketOf("id", buckets)),
      s"$path/labels_next", Some("id_bucket"), "overwrite")
    swapDir(labels.sparkSession, s"$path/labels_next", s"$path/labels")
  }

  /** Re-close the dup graph's label table from its live pair set —
    * the maintenance step after [[deleteDupGraphDocs]] (invoked there
    * automatically) or any out-of-band pair surgery.
    */
  def recomputeDupGraphLabels(
      spark: SparkSession,
      path: String,
      checkpointDir: Option[String] = None): Unit = {
    val (buckets, _) = readMeta(spark, path)
    swapLabels(
      graft.operators.Dedup.clusterPairs(
        readDupGraphPairs(spark, path).select(col("id_a"), col("id_b")),
        checkpointDir = checkpointDir),
      path, buckets)
  }

  /** Load [[writeDupGraph]] cluster labels: (id, cluster_id), pair-
    * member ids only — restore singletons with coalesce(label, id).
    */
  def readDupGraphLabels(spark: SparkSession, path: String): DataFrame = {
    val (_, Seq(labelsSchema)) = readMeta(spark, path, "labels_schema")
    spark.read.schema(labelsSchema).parquet(s"$path/labels").drop("id_bucket")
  }

  /** The persisted bucket modulus of a dup-graph artifact — for
    * building pruning predicates on `pair_bucket`/`id_bucket`.
    */
  def dupGraphBucketCount(spark: SparkSession, path: String): Int =
    readMeta(spark, path)._1

  /** Compact a dup-graph artifact's pair set: distinct live pairs
    * rewritten as a fresh stamp-0 base. Streaming maintenance can
    * append the same pair under two stamps (a pair whose endpoints
    * arrive in different micro-batches is discovered by both); the
    * duplicates are harmless to the closure and to every label
    * consumer, but they inflate the pair scan — this clears them,
    * plus the file accumulation of a long append history. Labels are
    * already a resolved table and are untouched.
    */
  def compactDupGraph(spark: SparkSession, path: String): Unit = {
    val (buckets, _) = readMeta(spark, path)
    compactDir(
      readDupGraphPairs(spark, path).distinct()
        .withColumn("pair_bucket", bucketOf("id_a", buckets)),
      s"$path/pairs", Some("pair_bucket"), Some(path))
  }

  /** Incremental dup-graph maintenance — the IVF/PQ/postings upsert
    * discipline applied to the pair-graph artifact (the reference's
    * daily changed-page increment, where a batch's new near-dup pairs
    * must NOT trigger a full-corpus re-closure): `newPairs` (the
    * increment's verified pairs — batch×batch plus batch×history)
    * appends to `path/pairs` with a seq stamp, and the label table is
    * re-resolved INCREMENTALLY — every existing cluster re-enters the
    * closure as depth-1 star edges (member → its label), so the merge
    * converges in O(log new-chain-length) rounds over the
    * increment + star edges instead of re-walking the full pair set's
    * chains. The rewritten labels are the artifact's new truth
    * (labels are a resolved VIEW, small next to the pair set — a
    * doc-count table, not a pair table, so the rewrite is the cheap
    * part of the update).
    *
    * Equivalence: union-with-stars has the same transitive closure as
    * the full pair set (a star edge is itself a consequence of the
    * old pairs; every old pair is label-connected through its star),
    * and min-label propagation keeps cluster ids stable under
    * increments — the canonical id only ever decreases.
    *
    * Takedown interaction (seq order, like every artifact family): an
    * increment pair touching a previously-tombstoned id lands ABOVE
    * the tombstone stamp and therefore RE-ADDS that doc to the graph.
    * If the takedown must stick, filter the increment against the
    * takedown list before upserting.
    */
  def upsertDupGraph(
      newPairs: DataFrame,
      path: String,
      seq: Long,
      checkpointDir: Option[String] = None,
      recomputeLabels: Boolean = true): Unit = {
    val spark = newPairs.sparkSession
    val (buckets, Seq(pairsSchema)) = readMeta(spark, path, "pairs_schema")
    writeStamped(
      newPairs.withColumn("pair_bucket", bucketOf("id_a", buckets)),
      s"$path/pairs", Some("pair_bucket"), Some(seq))
    // `recomputeLabels = false` is the bulk-maintenance posture the
    // delete path already offers: appends are the durable truth (pair
    // reads and as-of reads are correct immediately); skip the
    // star-edge merge when the maintenance window ends with its own
    // label refresh (or when the consumer reads pairs, not labels) —
    // N batched upserts then pay ONE closure, not N.
    if (!recomputeLabels) return
    val oldLabels = readDupGraphLabels(spark, path)
    val stars = oldLabels
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("id_a"), col("cluster_id").as("id_b"))
    val merged = graft.operators.Dedup.clusterPairs(
      // read the increment back from the artifact (pair lineage runs
      // once, into the append) and fold in the star edges
      readStamped(spark, s"$path/pairs", Some(pairsSchema))
        .filter(col("__seq") === seq)
        .select(col("id_a"), col("id_b"))
        .unionByName(stars),
      checkpointDir = checkpointDir)
    // docs untouched by the increment keep their labels; docs in the
    // merged closure take the new (possibly lower) canonical id
    swapLabels(
      oldLabels
        .join(merged.withColumnRenamed("cluster_id", "__new"), Seq("id"), "full")
        .select(col("id"), coalesce(col("__new"), col("cluster_id")).as("cluster_id")),
      path, buckets)
  }

  // ---- perceptual-hash codes (row-versioned: root dir, by `pfx`) -----

  /** Persist a perceptual-hash code table
    * ([[graft.operators.Multimodal.phashCodes]] output) partitioned
    * by the 8-bit prefix bucket — the multimodal member of the
    * persistent-index family: codes are the hash of the DECODED
    * media (the expensive step at 100 TB of images), so the build
    * runs once and every dedup/probe consumer loads 2-byte codes
    * instead of re-decoding bytes; a single-image probe prunes to
    * its prefix directory.
    */
  def writePhashIndex(codes: DataFrame, path: String): Unit =
    writeStamped(codes, path, Some("pfx"))

  def readPhashIndex(spark: SparkSession, path: String): DataFrame =
    readFiles(spark, path, None).drop("__seq")

  /** Append re-hashed media codes to a persisted phash index with a
    * caller seq stamp (the re-crawled-image shape: decode + hash runs
    * only on the increment, the base is never rewritten). A re-hashed
    * image whose code changed may land in a DIFFERENT `pfx` directory
    * than its old version — [[readPhashIndexLatest]] resolves
    * last-wins per id across buckets, which is why the latest reader
    * (not the raw scan) is the correct consumer of an upserted index:
    * a `pfx` filter over it still prunes to the bucket directories
    * and the stale row stays hidden. After [[compactPhashIndex]] the
    * stale row is physically gone and the raw scan is correct again.
    */
  def upsertPhashIndex(codes: DataFrame, path: String, seq: Long): Unit =
    writeStamped(codes, path, Some("pfx"), Some(seq))

  /** Tombstone-delete media ids from a persisted phash index — the
    * [[deleteIvfIds]] shape for the code table (media takedown
    * without touching code files).
    */
  def deletePhashIds(ids: DataFrame, path: String, seq: Long): Unit =
    writeTombstones(ids, path, seq)

  /** Load a phash index with upserts + tombstones applied: the LATEST
    * live version of every media id ([[readLastWins]]).
    */
  def readPhashIndexLatest(spark: SparkSession, path: String): DataFrame =
    readLastWins(spark, path, path, "id")

  /** Time-travel read of a phash index AS OF `asOfSeq`: code rows
    * and tombstones restricted to stamps <= the clock, then the same
    * last-wins resolution as [[readPhashIndexLatest]] — an as-of
    * below a takedown's stamp serves the pre-takedown code table.
    */
  def readPhashIndexAsOf(
      spark: SparkSession,
      path: String,
      asOfSeq: Long): DataFrame =
    readLastWins(spark, path, path, "id", asOf = Some(asOfSeq))

  /** Compact a persisted phash index: resolve last-wins + tombstones
    * once, rewrite as a stamp-0 base. The swapped-in stage has no
    * `_tombstones` child, so the purge rides along. [[readPhashIndex]]
    * afterwards serves exactly what [[readPhashIndexLatest]] served
    * before.
    */
  def compactPhashIndex(spark: SparkSession, path: String): Unit =
    compactDir(readPhashIndexLatest(spark, path), path, Some("pfx"))

  // ---- minhash signature artifact (row-versioned: `sigs`) ----------
  //
  // The incremental near-dup pipeline's history side: signatures are
  // ONE full-corpus shingle pass, and every daily batch afterwards
  // needs only them (band candidates + hash-set verification both
  // read the signature table, never the history TEXT). At 100 TB the
  // re-signing cost this artifact removes is the dominant term of
  // the daily near-dup run — the same fit-once/score-forever shape
  // as the LM-stats artifact.

  /** Persist a MinHash signature table ([[graft.operators.Dedup
    * .minhashSign]] output: id, sig array, hs sorted hash set) as a
    * stamp-0 base, partitioned by hash(id) mod `buckets` (per-doc
    * signature lookups prune to one bucket). Modulus + schema persist
    * in `_meta`.
    */
  def writeMinhashSigs(sigs: DataFrame, path: String, buckets: Int = 64): Unit = {
    require(buckets > 0, "buckets must be positive")
    val spark = sigs.sparkSession
    import spark.implicits._
    val schema = writeStamped(
      sigs.withColumn("id_bucket", bucketOf("id", buckets)), s"$path/sigs", Some("id_bucket"))
    writeMeta(Seq((buckets, schema.json)).toDF("buckets", "sigs_schema"), path)
  }

  /** Append re-signed docs with a caller seq stamp — the re-crawled
    * page shape: shingle + sign runs only on the increment, the base
    * is never rewritten. [[readMinhashSigsLatest]] resolves replaced
    * ids last-wins on the stamp.
    */
  def upsertMinhashSigs(sigs: DataFrame, path: String, seq: Long): Unit = {
    val (buckets, _) = readMeta(sigs.sparkSession, path)
    writeStamped(
      sigs.withColumn("id_bucket", bucketOf("id", buckets)),
      s"$path/sigs", Some("id_bucket"), Some(seq))
  }

  /** Tombstone-delete doc ids from a signature artifact (takedown
    * without rewriting signature files; re-signing at a higher stamp
    * restores).
    */
  def deleteMinhashIds(ids: DataFrame, path: String, seq: Long): Unit =
    writeTombstones(ids, path, seq)

  /** Plain read (stamps dropped) — for freshly-built or compacted
    * artifacts; use [[readMinhashSigsLatest]] under live upserts.
    */
  def readMinhashSigs(spark: SparkSession, path: String): DataFrame = {
    val (_, Seq(schema)) = readMeta(spark, path, "sigs_schema")
    spark.read.schema(schema).parquet(s"$path/sigs").drop("__seq", "id_bucket")
  }

  private def minhashSigsAt(spark: SparkSession, path: String, asOf: Option[Long]): DataFrame = {
    val (_, Seq(schema)) = readMeta(spark, path, "sigs_schema")
    readLastWins(spark, path, s"$path/sigs", "id", Some(schema), asOf).drop("id_bucket")
  }

  /** Latest signature per id (max stamp, tombstones applied) — the
    * live history side of the daily near-dup run.
    */
  def readMinhashSigsLatest(spark: SparkSession, path: String): DataFrame =
    minhashSigsAt(spark, path, None)

  /** Time-travel read AS OF `asOfSeq` — signature rows and tombstones
    * restricted to stamps <= the clock, then last-wins: reproduce
    * yesterday's dedup decisions against yesterday's history.
    */
  def readMinhashSigsAsOf(spark: SparkSession, path: String, asOfSeq: Long): DataFrame =
    minhashSigsAt(spark, path, Some(asOfSeq))

  /** Compact: resolve last-wins + tombstones once, rewrite as a
    * stamp-0 base, purge the tombstone sidecar — [[readMinhashSigs]]
    * afterwards serves what [[readMinhashSigsLatest]] served before.
    */
  def compactMinhashSigs(spark: SparkSession, path: String): Unit = {
    val (buckets, _) = readMeta(spark, path)
    compactDir(
      readMinhashSigsLatest(spark, path).withColumn("id_bucket", bucketOf("id", buckets)),
      s"$path/sigs", Some("id_bucket"), Some(path))
  }

  /** Persist a learned BPE vocab-units table
    * ([[graft.operators.TextAnalysis.bpeVocabUnits]]) — the tokenizer
    * artifact: fit once per corpus release, price every later batch's
    * token budget by a dictionary join. Flat layout (the table is
    * vocab-bounded) + `_meta` schema for the explicit-schema
    * read-back (empty vocab reads as an empty frame). Versioned by
    * PATH, not by stamps: a tokenizer re-fit is a REBUILD (frozen-
    * codebook rule), never an in-place upsert.
    */
  def writeBpeVocab(units: DataFrame, path: String): Unit = {
    val spark = units.sparkSession
    import spark.implicits._
    units.write.mode("overwrite").parquet(s"$path/units")
    writeMeta(Seq(units.schema.json).toDF("units_schema"), path)
  }

  /** Load a [[writeBpeVocab]] artifact: (w, units). */
  def readBpeVocab(spark: SparkSession, path: String): DataFrame = {
    val schema = schemaOf(
      readSidecar(spark, path, "_meta").select(col("units_schema")).head().getString(0))
    spark.read.schema(schema).parquet(s"$path/units")
  }

  /** Persist a fitted bigram LM ([[graft.operators.TextAnalysis
    * .fitBigramLm]]'s (biLp, uniLp, oov6, oovbo6)) as a build-once
    * artifact — the LM-stats member of the IVF/postings/dup-graph
    * family: at 100 TB the LM fit is a full token-stream scan, while
    * scoring any new batch off the ARTIFACT is two dictionary
    * equi-joins, so fit once per corpus release and score forever.
    * Layout: `bigrams/` term-dictionary rows bucketed by hash(prev)
    * (a scorer's bigram join prunes to the probe terms' buckets),
    * `unigrams/` flat, `_meta` carrying bucket modulus + the two OOV
    * constants + both schemas (explicit-schema read-backs: an empty
    * LM — one-doc corpus — must read as an empty frame).
    */
  def writeLmModel(
      lm: (DataFrame, DataFrame, Long, Long),
      path: String,
      buckets: Int = 64): Unit = {
    require(buckets > 0, "buckets must be positive")
    val (biLp, uniLp, oov6, oovbo6) = lm
    val spark = biLp.sparkSession
    import spark.implicits._
    val bi = biLp.withColumn("prev_bucket", bucketOf("prev", buckets))
    writeDir(bi, s"$path/bigrams", Some("prev_bucket"), "overwrite")
    uniLp.write.mode("overwrite").parquet(s"$path/unigrams")
    writeMeta(
      Seq((buckets, oov6, oovbo6, bi.schema.json, uniLp.schema.json))
        .toDF("buckets", "oov6", "oovbo6", "bi_schema", "uni_schema"),
      path)
  }

  /** Load a [[writeLmModel]] artifact back into the exact
    * (biLp, uniLp, oov6, oovbo6) shape [[graft.operators
    * .TextAnalysis.scoreBigramLm]] consumes — scoring off the loaded
    * model must be bit-identical to scoring off the in-line fit
    * (every log-prob was rounded to BIGINT micro-nats at FIT time, so
    * the parquet round-trip is lossless by construction).
    */
  def readLmModel(
      spark: SparkSession,
      path: String): (DataFrame, DataFrame, Long, Long) = {
    val m = readSidecar(spark, path, "_meta")
      .select(col("oov6"), col("oovbo6"), col("bi_schema"), col("uni_schema"))
      .head()
    val bi = spark.read.schema(schemaOf(m.getString(2))).parquet(s"$path/bigrams")
      .drop("prev_bucket")
    val uni = spark.read.schema(schemaOf(m.getString(3))).parquet(s"$path/unigrams")
    (bi, uni, m.getLong(0), m.getLong(1))
  }

  // --- LM COUNT-GRID artifact family (linear counts: `uni`, `bi`) ---
  //
  // [[writeLmModel]] persists derived LOG-PROBS — correct for a frozen
  // release, but log-probs are not mergeable, so a live corpus would
  // re-fit per increment. The count grids ARE mergeable (linear in
  // documents): this family persists (term, cnt) / (prev, term, cab)
  // with upsert-seq stamps, increments append partial grids, a doc
  // TAKEDOWN appends the removed docs' grids NEGATED (no tombstone
  // sidecar — counts subtract exactly), as-of reads reconstruct any
  // historical model, and [[graft.operators.TextAnalysis
  // .fitBigramLmFromCounts]] derives a scorer bit-identical to a
  // from-scratch fit over the same live corpus.

  private def writeLmGrids(
      uni: DataFrame,
      bi: DataFrame,
      path: String,
      buckets: Int,
      upsertSeq: Option[Long]): (StructType, StructType) =
    (writeStamped(
      uni.withColumn("term_bucket", bucketOf("term", buckets)),
      s"$path/uni", Some("term_bucket"), upsertSeq),
      writeStamped(
        bi.withColumn("prev_bucket", bucketOf("prev", buckets)),
        s"$path/bi", Some("prev_bucket"), upsertSeq))

  /** Persist bigram-LM count grids at upsert-stamp 0. Layout:
    * `uni/` (term, cnt, __seq) bucketed by hash(term); `bi/`
    * (prev, term, cab, __seq) bucketed by hash(prev); `_meta` with
    * the modulus + both schemas.
    */
  def writeLmCounts(
      uni: DataFrame,
      bi: DataFrame,
      path: String,
      buckets: Int = 64): Unit = {
    require(buckets > 0, "buckets must be positive")
    val spark = uni.sparkSession
    import spark.implicits._
    val (u, b) = writeLmGrids(uni, bi, path, buckets, None)
    writeMeta(Seq((buckets, u.json, b.json)).toDF("buckets", "uni_schema", "bi_schema"), path)
  }

  /** Append an increment's partial count grids with a seq stamp.
    * A TAKEDOWN is the same call with the removed docs' grids
    * NEGATED by the caller (counts are linear — no tombstone
    * machinery, subtraction IS removal).
    */
  def upsertLmCounts(
      uniDelta: DataFrame,
      biDelta: DataFrame,
      path: String,
      seq: Long): Unit = {
    val (buckets, _) = readMeta(uniDelta.sparkSession, path)
    writeLmGrids(uniDelta, biDelta, path, buckets, Some(seq))
  }

  /** Merged count grids AS OF a stamp ([[sumMerged]] over all deltas
    * with `__seq <= asOfSeq`: a taken-down doc's types vanish from the
    * vocab exactly as a re-fit would drop them). Returns (uni, bi)
    * scorer-fit inputs.
    */
  def readLmCountsAsOf(
      spark: SparkSession,
      path: String,
      asOfSeq: Long): (DataFrame, DataFrame) = {
    val (_, Seq(uniSchema, biSchema)) = readMeta(spark, path, "uni_schema", "bi_schema")
    (sumMerged(
      readStamped(spark, s"$path/uni", Some(uniSchema), Some(asOfSeq)), Seq("term"), "cnt"),
      sumMerged(
        readStamped(spark, s"$path/bi", Some(biSchema), Some(asOfSeq)), Seq("prev", "term"), "cab"))
  }

  /** Latest merged grids (as-of the maximum stamp). */
  def readLmCounts(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    readLmCountsAsOf(spark, path, Long.MaxValue)

  /** Rewrite the delta history as ONE merged grid at stamp 0 — the
    * family's compaction: a month of micro-batch appends (and
    * takedown negations) collapses so readers stop re-merging
    * history; zero-count keys purged.
    */
  def compactLmCounts(spark: SparkSession, path: String): Unit = {
    val (buckets, _) = readMeta(spark, path)
    val (uni, bi) = readLmCounts(spark, path)
    compactDir(
      uni.withColumn("term_bucket", bucketOf("term", buckets)), s"$path/uni", Some("term_bucket"))
    compactDir(
      bi.withColumn("prev_bucket", bucketOf("prev", buckets)), s"$path/bi", Some("prev_bucket"))
  }

  /** Persisted (day, v, n) VALUE-GRID artifact — a linear-counts
    * family: the e-process monitors' shared sufficient statistic (the
    * mean monitor, the variance monitor and the mean confidence
    * sequence all fold the SAME grid) promoted from a session memo to
    * a lifecycle artifact. Counts are LINEAR, so the lmCounts rules
    * apply verbatim: an increment appends its partial grid under a
    * seq stamp, a TAKEDOWN appends the removed rows' grid NEGATED,
    * readers sum-merge with zero-count keys dropping, and compaction
    * rewrites one merged generation at stamp 0. The streaming
    * monitors' append posture IS this artifact's upsert path.
    *
    * The declared-bound contract (v ∈ [0, 1e6] — ppm of the family's
    * documented value bound) is enforced at EVERY write, so a
    * violating increment fails at append time, never twelve hours
    * later inside a consumer — the same fail-fast surface the memo
    * build had, now owned by the artifact.
    */
  def writeValueGrid(cells: DataFrame, path: String, buckets: Int = 32): Unit = {
    require(buckets > 0, "buckets must be positive")
    val spark = cells.sparkSession
    import spark.implicits._
    val schema = writeStamped(
      valueGridGuard(cells).withColumn("day_bucket", bucketOf("day", buckets)),
      s"$path/grid", Some("day_bucket"))
    writeMeta(Seq((buckets, schema.json)).toDF("buckets", "grid_schema"), path)
  }

  private def valueGridGuard(df: DataFrame): DataFrame =
    df.select(col("day"), col("v"), col("n")).filter(
      assert_true(
        col("v") >= 0L && col("v") <= 1000000L,
        lit("valueGrid: v outside [0, 1e6] — the declared value bound " +
          "is violated")).isNull)

  /** Append an increment's partial (day, v, n) grid with a seq stamp;
    * negate `n` for a takedown (counts are linear).
    */
  def upsertValueGrid(delta: DataFrame, path: String, seq: Long): Unit = {
    val (buckets, _) = readMeta(delta.sparkSession, path)
    writeStamped(
      valueGridGuard(delta).withColumn("day_bucket", bucketOf("day", buckets)),
      s"$path/grid", Some("day_bucket"), Some(seq))
  }

  /** Merged grid AS OF a stamp ([[sumMerged]]: a taken-down day×value
    * cell vanishes exactly as a rebuild on the filtered events would
    * produce). Returns the (day, v, n) monitor-fit grid.
    */
  def readValueGridAsOf(spark: SparkSession, path: String, asOfSeq: Long): DataFrame = {
    val (_, Seq(schema)) = readMeta(spark, path, "grid_schema")
    sumMerged(readStamped(spark, s"$path/grid", Some(schema), Some(asOfSeq)), Seq("day", "v"), "n")
  }

  /** Latest merged grid (as-of the maximum stamp). */
  def readValueGrid(spark: SparkSession, path: String): DataFrame =
    readValueGridAsOf(spark, path, Long.MaxValue)

  /** Rewrite the delta history as ONE merged grid at stamp 0 —
    * the family's compaction (zero-count keys purged, history
    * forfeited).
    */
  def compactValueGrid(spark: SparkSession, path: String): Unit = {
    val (buckets, _) = readMeta(spark, path)
    compactDir(
      readValueGrid(spark, path).withColumn("day_bucket", bucketOf("day", buckets)),
      s"$path/grid", Some("day_bucket"))
  }

  /** Rewrite a parquet directory into ~`targetBytes`-sized files —
    * the cure for long append histories and over-parallel writes (a
    * 32-task write of a 10 MB table leaves 32 tiny files; a month of
    * micro-batch appends leaves thousands — and at 100 TB the
    * NameNode/listing cost and per-file open overhead of a
    * small-files directory dominate reads long before the bytes do).
    * File count = ceil(total data bytes / targetBytes), floor 1;
    * staged rewrite (never overwrite a path while lazily reading it),
    * rows byte-identical. Returns (filesBefore, filesAfter).
    */
  def compactSmallFiles(
      spark: SparkSession,
      path: String,
      targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles() = {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
          buf += f
      }
      buf.toSeq
    }
    val before = dataFiles()
    val total = before.map(_.getLen).sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    val stage = stagingOf(path)
    spark.read.parquet(path).repartition(n).write.mode("overwrite").parquet(stage)
    // repartition again on the live rewrite: the stage read-back may
    // pack several small files per split (files.maxPartitionBytes),
    // and the file count must come out n either way
    spark.read.parquet(stage).repartition(n).write.mode("overwrite").parquet(path)
    deleteDir(spark, stage)
    (before.size, dataFiles().size)
  }
}
