package graft.pipelines

import graft.operators.{Relational, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** The reference's entity-level query surface over the typed model
  * (`graft.model.Models`): a user of project_orbit can run each of
  * these against Datasets of the same shape.
  *
  * Every operation is a declarative DataFrame transform — aggregation
  * semantics (null-when-empty etc.) follow the reference exactly
  * (SURVEY §7.4 hard part 5).
  */
object Orbit {

  /** A1 — funding summary per company
    * (`/root/reference/src/structured_extraction_v2.py:1984-2000`):
    * total = sum(amount_usd), null when the sum is 0 (`or None`);
    * last round name/date/valuation from the max-occurred_on funding
    * event (deterministic tie-break on event_id).
    */
  def fundingSummary(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "funding")
      .groupBy(col("company_id"))
      .agg(
        sum(col("amount_usd")).as("total_raised_usd"),
        max_by(
          struct(col("round_name"), col("occurred_on"), col("valuation_usd")),
          struct(col("occurred_on"), col("event_id"))).as("last"))
      .select(
        col("company_id"),
        // reference: `total or None` — 0 (or all-null sum) -> null
        when(col("total_raised_usd") === 0, lit(null).cast("double"))
          .otherwise(col("total_raised_usd"))
          .as("total_raised_usd"),
        col("last.round_name").as("last_round_name"),
        col("last.occurred_on").as("last_round_date"),
        col("last.valuation_usd").as("last_disclosed_valuation_usd"))

  /** A2 — event-type histogram (`structured_extraction_v2.py:3503-3508`). */
  def eventHistogram(events: DataFrame): DataFrame =
    events.groupBy(col("company_id"), col("event_type")).count()

  /** A4+A5 — visibility: 30-day news-mention count relative to
    * `asOf`, and keyword sentiment over titles with the reference's
    * positive/negative lists (`structured_extraction_v2.py:3161-3235`);
    * both null when there is no signal.
    */
  def visibility(news: DataFrame, asOf: Column): DataFrame = {
    val positives = Seq("launches", "raises", "partners", "expands", "announces", "introduces")
    val negatives = Seq("layoff", "closes", "incident", "breach", "lawsuit", "investigation")
    val (posF, negF) = TextAnalysis.sentimentFlags(col("title"), positives, negatives)
    news
      .groupBy(col("company_id"))
      .agg(
        sum(
          // bounded on BOTH ends: a point-in-time asOf must not count
          // articles published after it
          when(
            to_date(col("date_published")) >= date_sub(asOf, 30) &&
              to_date(col("date_published")) <= asOf,
            1L).otherwise(0L)).as("news_mentions_30d"),
        sum(posF).as("n_pos"),
        sum(negF).as("n_neg"))
      .select(
        col("company_id"),
        col("news_mentions_30d"),
        // reference: None when positive+negative == 0 (`:3207`)
        when(col("n_pos") + col("n_neg") === 0, lit(null).cast("double"))
          .otherwise(col("n_pos").cast("double") / (col("n_pos") + col("n_neg")))
          .as("avg_sentiment"))
  }

  /** Reference risk categories (`risk_detection.py:21-44`). */
  val RiskCategories: Seq[(String, Seq[String], String)] = Seq(
    ("layoff", Seq("layoff", "laid off", "job cuts", "workforce reduction"), "high"),
    ("security_incident", Seq("breach", "hacked", "vulnerability", "data leak"), "critical"),
    ("regulatory", Seq("lawsuit", "investigation", "fine", "subpoena"), "high"),
    ("leadership_exit", Seq("steps down", "resigns", "departure"), "medium"),
    ("financial_stress", Seq("down round", "layoffs ahead", "cash crunch"), "medium"))

  /** F5+D5+J5 — risk scan over retrieved chunks: explode detected
    * signals, attach chunk provenance, dedup on (risk_type, source)
    * (`risk_detection.py:47-82,197-209`).
    */
  def riskScan(chunks: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val exploded = chunks
      .select(
        col(sourceCol).as("source"),
        posexplode(TextAnalysis.riskSignals(col(textCol), RiskCategories))
          .as(Seq("ord", "r")))
      .select(
        col("r.risk_type").as("risk_type"),
        col("r.keyword").as("keyword"),
        col("r.severity").as("severity"),
        col("source"),
        col("ord"))
    Relational
      .dedupeFirstWins(exploded, Seq(col("risk_type"), col("source")), Seq(col("ord")))
      .drop("ord")
  }

  /** E3/J6 — assemble the nested per-company payload from entity
    * tables (`structured_extraction_v2.py:3484-3494`). Children become
    * sorted arrays; companies without children get empty arrays.
    */
  def assemblePayloads(
      companies: DataFrame,
      events: DataFrame,
      snapshots: DataFrame,
      products: DataFrame,
      leadership: DataFrame,
      visibility: DataFrame,
      news: DataFrame): DataFrame =
    Payload.assemble(
      companies,
      "company_id",
      Seq(
        (events, "company_id", Seq("event_id", "title", "occurred_on", "event_type", "amount_usd"), "events"),
        (snapshots, "company_id", Seq("as_of", "headcount_total", "job_openings_count"), "snapshots"),
        (products, "company_id", Seq("product_id", "name", "pricing_model"), "products"),
        (leadership, "company_id", Seq("person_id", "name", "role", "is_founder"), "leadership"),
        (visibility, "company_id", Seq("as_of", "news_mentions_30d", "avg_sentiment"), "visibility"),
        (news, "company_id", Seq("article_id", "title", "date_published"), "news_articles")))

  /** E2 — payload point lookup (`api.py:388-430`). */
  def payloadLookup(payloads: DataFrame, companyId: String): DataFrame =
    payloads.filter(col("company_id") === companyId)

  /** E1/F1 — retrieval with the reference's fallback-if-empty
    * company filter (`rag_pipeline.py:51-75`): filter chunks whose
    * source contains the company id; if that yields nothing, fall
    * back to the unfiltered corpus. The query is the company id
    * prepended to the query text ([[Rag.augmentQuery]]). A
    * driver-side conditional, as the semantics demand (SURVEY §7.4
    * hard part 3), but one execution per hit: the filtered top-k runs
    * once and comes back as a local relation of the same schema
    * (collecting it runs no job); only an empty result returns the
    * unfiltered plan for the caller to run.
    *
    * Edge inputs:
    *   - a blank or whitespace-only company id filters nothing: the
    *     unfiltered plan is returned directly, unrun (an empty
    *     substring would match every source anyway);
    *   - the filter is a case-folded SUBSTRING match on `source`, so
    *     an id that is a substring of another company's source
    *     (`acme` in `acme-labs/feed`) also returns that company's
    *     chunks — the reference's semantics, kept;
    *   - `topK` above the number of chunks returns every chunk;
    *   - empty query text searches on the company id alone; with a
    *     blank id too, every chunk scores 0.0 and the order is
    *     (doc_id, chunk_index).
    */
  def ragSearchCompany(
      docs: DataFrame,
      companyId: String,
      queryText: String,
      topK: Int,
      chunkSize: Int = 1000): DataFrame = {
    val query = Rag.augmentQuery(companyId, queryText)
    def unfiltered = Rag.topKChunks(docs, query, topK, chunkSize)
    if (companyId.trim.isEmpty) unfiltered
    else {
      val filtered = Rag.topKChunks(docs, query, topK, chunkSize, sourceContains = Some(companyId))
      // bounded collect: a top-k result of at most `topK` rows (the
      // ≤k-row class PlanHygieneSpec permits), never the corpus
      val hits = filtered.collect()
      if (hits.nonEmpty)
        docs.sparkSession.createDataFrame(java.util.Arrays.asList(hits: _*), filtered.schema)
      else unfiltered
    }
  }
}
