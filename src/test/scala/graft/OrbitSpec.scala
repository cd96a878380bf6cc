package graft

import graft.model.Models._
import graft.pipelines.{Orbit, Rag}
import java.sql.Date
import org.apache.spark.sql.functions._

class OrbitSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  private lazy val events = Seq(
    Event("e1", "acme", "Series A", d("2021-05-01"), "funding",
      round_name = Some("Series A"), amount_usd = Some(1.0e7)),
    Event("e2", "acme", "Series B", d("2023-02-01"), "funding",
      round_name = Some("Series B"), amount_usd = Some(5.0e7), valuation_usd = Some(5.0e8)),
    Event("e3", "acme", "Launch", d("2023-06-01"), "product_release"),
    Event("e4", "bcorp", "Zero round", d("2022-01-01"), "funding", amount_usd = Some(0.0)),
    Event("e5", "ccorp", "Undisclosed", d("2022-03-01"), "funding")
  ).toDS()

  test("A1 fundingSummary: totals, max-by-date last round, None-when-zero") {
    val got = Orbit.fundingSummary(events.toDF()).collect()
      .map(r => r.getString(0) -> r).toMap
    val acme = got("acme")
    assert(acme.getDouble(1) == 6.0e7)
    assert(acme.getString(2) == "Series B")
    assert(acme.getDate(3) == d("2023-02-01"))
    assert(acme.getDouble(4) == 5.0e8)
    assert(got("bcorp").isNullAt(1)) // sum 0 -> None (reference `or None`)
    assert(got("ccorp").isNullAt(1)) // all amounts null -> None
  }

  test("A4/A5 visibility: 30-day mentions + sentiment, None when no keywords") {
    val news = Seq(
      NewsArticle("n1", "acme", "Acme launches product", date_published = Some("2024-01-20")),
      NewsArticle("n2", "acme", "Acme hit by breach", date_published = Some("2023-06-01")),
      NewsArticle("n3", "bcorp", "BCorp quarterly report", date_published = Some("2024-01-25"))
    ).toDS()
    val got = Orbit.visibility(news.toDF(), lit("2024-02-01").cast("date"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("acme").getLong(1) == 1L)     // only n1 within 30d of asOf
    assert(got("acme").getDouble(2) == 0.5)  // 1 pos (launches), 1 neg (breach)
    assert(got("bcorp").getLong(1) == 1L)
    assert(got("bcorp").isNullAt(2))         // no sentiment keywords -> null
  }

  test("F5/D5 riskScan: reference categories, dedup on (risk_type, source)") {
    val chunks = Seq(
      ("massive layoff announced amid investigation", "acme/news1"),
      ("another layoff wave", "acme/news1"), // same (risk,source) -> deduped
      ("big data breach reported", "acme/sec")
    ).toDF("text", "source")
    val got = Orbit.riskScan(chunks, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got.count(x => x._1 == "layoff" && x._4 == "acme/news1") == 1)
    assert(got.exists(x => x._1 == "regulatory" && x._2 == "investigation"))
    assert(got.exists(x => x._1 == "security_incident" && x._3 == "critical"))
    // workflow branch semantics (test_workflow_branches): risk_count>0 => flagged path
    assert(got.length > 0)
  }

  test("E3 assemblePayloads: nested arrays per company, empty when missing") {
    val companies = Seq(
      Company("acme", "Acme Inc"), Company("bcorp", "BCorp Ltd")).toDS().toDF()
    val snapshots = Seq(
      Snapshot("acme", d("2024-01-01"), headcount_total = Some(100))).toDS().toDF()
    val products = Seq(
      Product("p1", "acme", "AcmeDB", pricing_model = Some("usage"))).toDS().toDF()
    val leadership = Seq(
      Leadership("l1", "acme", "Jo Founder", "CEO", is_founder = true)).toDS().toDF()
    val vis = Seq(
      Visibility("acme", d("2024-01-01"), news_mentions_30d = Some(3))).toDS().toDF()
    val news = Seq(
      NewsArticle("n1", "acme", "Acme launches")).toDS().toDF()
    val out = Orbit.assemblePayloads(
      companies, events.toDF(), snapshots, products, leadership, vis, news)
    val rows = out.orderBy("company_id").collect()
    val acme = rows(0)
    def arr(name: String) = acme.getSeq[org.apache.spark.sql.Row](acme.fieldIndex(name))
    assert(arr("events").length == 3 && arr("products").length == 1)
    assert(arr("leadership").head.getString(1) == "Jo Founder")
    val bcorp = rows(1)
    assert(bcorp.getSeq[Any](bcorp.fieldIndex("products")).isEmpty) // [] not null
    // E2 point lookup
    assert(Orbit.payloadLookup(out, "acme").count() == 1)
  }

  test("E1 ragSearchCompany: company filter with fallback-if-empty") {
    val docs = Seq(
      (1L, "acme quarterly spark results", "acme/blog"),
      (2L, "unrelated corpus text", "other/site"),
      (3L, "spark results for everyone else", "other/news")
    ).toDF("doc_id", "text", "source")
    // acme has one chunk, fewer than k: only its own, none filled in
    val hit = Orbit.ragSearchCompany(docs, "acme", "spark results", 5, chunkSize = 100)
    val own = Rag.topKChunks(docs, "acme spark results", 5, 100, sourceContains = Some("acme"))
    assert(hit.schema == own.schema)
    assert(hit.collect().toSeq == own.collect().toSeq)
    assert(hit.collect().map(_.getString(2)).toSeq == Seq("acme/blog"))
    // no source matches "zcorp" -> the unfiltered top-k
    val fallback = Orbit.ragSearchCompany(docs, "zcorp", "spark results", 5, chunkSize = 100)
    assert(fallback.collect().toSeq ==
      Rag.topKChunks(docs, "zcorp spark results", 5, 100).collect().toSeq)
    assert(fallback.count() == 3)
  }

  test("E1 ragSearchCompany: a company hit runs one execution, its result none") {
    // an RDD-backed frame: a local Seq would be folded by the optimizer
    // and run no job at all
    val docs = spark.sparkContext.parallelize(Seq(
      (1L, "acme quarterly spark results", "acme/blog"),
      (2L, "unrelated corpus text", "other/site")
    ), 2).toDF("doc_id", "text", "source")
    val SparkSpec.Runs(hit, started, searchRuns, _) =
      runs(Orbit.ragSearchCompany(docs, "acme", "spark results", 5, chunkSize = 100))
    assert(started == 1 && searchRuns == 1)
    // the hit comes back local: collecting it launches no job
    val SparkSpec.Runs(rows, _, jobRuns, _) = runs(hit.collect())
    assert(rows.length == 1 && jobRuns == 0)
    // a fallback pays the empty filtered top-k, then the caller's run
    val SparkSpec.Runs(_, _, fallbackRuns, _) = runs(
      Orbit.ragSearchCompany(docs, "zcorp", "spark results", 5, chunkSize = 100).collect())
    assert(fallbackRuns == 2)
  }

  // edge inputs of the serving API
  private lazy val edgeDocs = Seq(
    (1L, "acme quarterly spark results", "acme/blog"),
    (2L, "acme labs spark results preview", "acme-labs/feed"),
    (3L, "unrelated corpus text", "other/site")
  ).toDF("doc_id", "text", "source")

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq

  test("E1 ragSearchCompany: a blank company id runs the unfiltered plan, unrun") {
    val unfiltered = rows(Rag.topKChunks(edgeDocs, "spark results", 5, 100))
    for (id <- Seq("", "   ")) {
      val SparkSpec.Runs(out, started, _, _) =
        runs(Orbit.ragSearchCompany(edgeDocs, id, "spark results", 5, chunkSize = 100))
      assert(started == 0, s"id '$id' ran $started executions before the caller's")
      assert(rows(out) == unfiltered)
    }
    // the same rows the empty-substring filter used to return as a "hit"
    assert(rows(Rag.topKChunks(edgeDocs, " spark results", 5, 100, sourceContains = Some(""))) ==
      unfiltered)
  }

  test("E1 ragSearchCompany: an id that is a substring of another company's source matches both") {
    def sources(id: String) =
      rows(Orbit.ragSearchCompany(edgeDocs, id, "spark results", 5, chunkSize = 100))
        .map(_.getString(2)).toSet
    assert(sources("acme") == Set("acme/blog", "acme-labs/feed"))
    assert(sources("ACME-labs") == Set("acme-labs/feed"))
  }

  test("E1 ragSearchCompany: k above the corpus size returns every candidate chunk") {
    val hit = rows(Orbit.ragSearchCompany(edgeDocs, "acme", "spark results", 50, chunkSize = 100))
    assert(hit.map(_.getLong(0)).sorted == Seq(1L, 2L))
    val fallback = rows(Orbit.ragSearchCompany(edgeDocs, "zcorp", "spark results", 50, chunkSize = 100))
    assert(fallback.map(_.getLong(0)).sorted == Seq(1L, 2L, 3L))
  }

  test("E1 ragSearchCompany: empty query text searches on the company id alone") {
    assert(rows(Orbit.ragSearchCompany(edgeDocs, "acme", "", 5, chunkSize = 100)) ==
      rows(Rag.topKChunks(edgeDocs, "acme", 5, 100, sourceContains = Some("acme"))))
    // nothing to embed: every chunk scores 0.0, ordered by doc id
    val blank = rows(Orbit.ragSearchCompany(edgeDocs, " ", "", 5, chunkSize = 100))
    assert(blank.map(r => (r.getLong(0), r.getDouble(3))) == Seq((1L, 0.0), (2L, 0.0), (3L, 0.0)))
  }

  test("event_type domain matches the reference's 18-value enum") {
    assert(EventTypes.size == 18 && EventTypes.contains("open_source_release"))
    assert(events.collect().forall(e => EventTypes.contains(e.event_type)))
  }
}
