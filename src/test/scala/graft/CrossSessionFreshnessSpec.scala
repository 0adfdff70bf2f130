package graft

import org.apache.spark.sql.functions._
import graft.ops.{AnnFamily, RetrievalOps, TextOps, VectorOps}

/** Cross-session serving freshness — the stale-listing hazard the BM25
  * streaming spec surfaced, asserted for the other stored-model families:
  * a session whose relation cache froze a table's file listing (first
  * read) must still see rows a DIFFERENT session appended, because every
  * serve entry point re-lists (Warehouse.refreshDb / refreshIndex).
  * Without the refresh, the assertions below fail with the pre-append
  * row counts — reproduced while developing the fix.
  */
class CrossSessionFreshnessSpec extends SparkSpec {

  import spark.implicits._

  test("PQ ANN serve sees vectors another session appended") {
    val db = "fresh_pq_db"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val t0 = maxId * 2 / 3
    VectorOps.build(AnnFamily.Pq, emb.filter(col("vec_id") <= t0), db)
    // freeze this session's listing of the codes table
    val before = spark.table(s"$db.${VectorOps.PqCodesTable}").count()
    // another session appends (the streaming-ingest situation)
    val s2 = spark.newSession()
    VectorOps.append(AnnFamily.Pq, s2, db,
      Tables.t(s2, sf, "embeddings")
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .filter(col("vec_id") > t0))
    // the serve entry must re-list and score the grown corpus
    VectorOps.topkFromIndex(AnnFamily.Pq, spark, sf, db)
    assert(spark.table(s"$db.${VectorOps.PqCodesTable}").count() ==
      emb.count(), s"serve left the codes listing at the stale $before")
  }

  test("stored-LM perplexity serve sees another session's count append") {
    val db = "fresh_lm_db"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val docs = Tables.t(spark, sf, "documents")
    TextOps.buildLmModel(docs.filter(col("doc_id") < 300), db)
    val stale = spark.table(s"$db.${TextOps.LmCountsTable}").count()
    val s2 = spark.newSession()
    TextOps.appendToLmModel(s2, db,
      Tables.t(s2, sf, "documents").filter(col("doc_id") >= 300))
    val served = TextOps.perplexityFilterFromModel(spark, sf, db)
    served.count()
    assert(spark.table(s"$db.${TextOps.LmCountsTable}").count() >= stale,
      "count table went backwards")
    // the serve must match a serve from a COLD session over the same db
    val cold = spark.newSession()
    val coldServe = TextOps.perplexityFilterFromModel(cold, sf, db)
      .collect().toSeq.map(_.toSeq)
    assert(served.collect().toSeq.map(_.toSeq) == coldServe,
      "warm-session serve diverged from a cold session over the same model")
  }

  test("BM25 serve sees postings another session appended (regression)") {
    val db = "fresh_bm25_db"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    RetrievalOps.buildBm25Index(docs.filter(col("doc_id") < 300), db)
    spark.table(s"$db.${RetrievalOps.DocLenTable}").count()
    val s2 = spark.newSession()
    RetrievalOps.appendToBm25Index(s2, db,
      Tables.t(s2, sf, "documents").select("doc_id", "text")
        .filter(col("doc_id") >= 300))
    val served = RetrievalOps.bm25TopKFromIndex(spark, sf, db)
      .collect().toSeq.map(_.toSeq)
    RetrievalOps.buildBm25Index(docs, "fresh_bm25_full")
    assert(served == RetrievalOps.bm25TopKFromIndex(spark, sf,
      "fresh_bm25_full").collect().toSeq.map(_.toSeq),
      "serve over the appended index diverged from a fresh full build")
  }
}
