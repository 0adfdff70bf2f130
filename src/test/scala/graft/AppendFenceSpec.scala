package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{BasketOps, ChunkOps, IncrementalClusters, ReservoirOps,
  RetrievalOps, ScdOps, SetJoinOps, TextOps, TimeSeriesOps, VectorOps,
  WinnowOps}
import graft.pipeline.{Bm25Ingest, CdcIngest, CorpusPipeline, FencedAppend,
  LinkIngest, VectorIngest}

/** The append-only fence, proven once for every family that appends to
  * stored state, on a few crafted rows. Each family runs the same cases:
  * an in-order batch lands and advances the fence; a replay of it is
  * refused and changes nothing; an empty batch is refused (BM25, phrase)
  * or skipped; and with the stored bound removed, the append names the
  * family's rebuild, or the fence admits any batch when it is optional.
  */
class AppendFenceSpec extends SparkSpec {

  import spark.implicits._

  /** One fenced family. `append` folds a batch through the family's entry
    * point; `batch(k)` is the k-th in-order batch above the build, and
    * `empty` an empty one (default: no rows).
    */
  private case class Family(label: String, fence: FencedAppend.Fence,
                            tables: Seq[String], build: String => Unit,
                            append: (String, DataFrame) => Unit,
                            batch: Int => DataFrame,
                            emptyRefused: Boolean = false,
                            empty: Option[DataFrame] = None)

  private def textDocs(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, (0 until 12).map(j => s"w${id % 3}x$j").mkString(" ")))
      .toDF("doc_id", "text")

  private def events(ts: Seq[Long]): DataFrame =
    ts.map(t => (t, t, t % 2, "click", t.toDouble))
      .toDF("event_id", "ts", "user_id", "event_type", "value")

  private def feed(ts: Seq[Long]): DataFrame =
    ts.map(t => (t % 2, s"s${t % 3}", t, t))
      .toDF("user_id", "status", "ts", "event_id")

  private def vectors(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, Array.tabulate(4)(d => ((id * 7 + d * 3) % 11).toFloat)))
      .toDF("vec_id", "embedding")

  private def corpusDocs(ids: Seq[Long]): DataFrame =
    ids.map { id =>
      val text = (0 until 24).map(j => s"w${id}x$j").mkString(" ")
      (id, text, "en", s"src${id % 2}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")

  private def ids(k: Int): Seq[Long] = Seq(10L * (k + 1), 10L * (k + 1) + 1)
  private val base = 1L to 4L

  /** A [[FencedAppend]] sink, driven outside any stream (no ledger). */
  private def sink(label: String, f: FencedAppend.Family,
                   tables: Seq[String], build: String => Unit,
                   batch: Int => DataFrame) =
    Family(label, f.fence, tables, build,
      (db, b) => FencedAppend.append(spark, f, db, "fence", b, -1L), batch)

  /** Trending folds an order-key range: a batch is the one-row frame of
    * its key bound, and a range with no orders is its empty batch.
    */
  private lazy val trendDir = {
    val dir = TempDirs.create("graft-fence-trend")
    val day = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val keys = base ++ ids(0)
    keys.map(k => (k, day)).toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((7L, "A")).toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    keys.map(k => (k, 7L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  private val families = Seq(
    Family("bm25", RetrievalOps.Bm25Fence,
      Seq(RetrievalOps.PostingsTable, RetrievalOps.DfTable,
        RetrievalOps.DocLenTable, RetrievalOps.TotalsTable),
      db => RetrievalOps.buildBm25Index(textDocs(base), db),
      (db, b) => RetrievalOps.appendToBm25Index(spark, db, b),
      k => textDocs(ids(k)), emptyRefused = true),
    Family("phrase", RetrievalOps.PhraseFence, Seq(RetrievalOps.PositionsTable),
      db => RetrievalOps.buildPhraseIndex(textDocs(base), db),
      (db, b) => RetrievalOps.appendToPhraseIndex(spark, db, b),
      k => textDocs(ids(k)), emptyRefused = true),
    Family("winnow", WinnowOps.Fence, Seq(WinnowOps.IndexTable),
      db => WinnowOps.buildPrintIndex(textDocs(base), db),
      (db, b) => WinnowOps.appendToPrintIndex(spark, b, db),
      k => textDocs(ids(k))),
    Family("jaccard", SetJoinOps.JaccardFence,
      Seq(SetJoinOps.ShinglesTable, SetJoinOps.SizesTable,
        SetJoinOps.PrefixTable),
      db => SetJoinOps.buildJaccardIndex(textDocs(base), db),
      (db, b) => SetJoinOps.appendToJaccardIndex(spark, db, b),
      k => textDocs(ids(k))),
    Family("clusters", IncrementalClusters.Fence,
      Seq(IncrementalClusters.LabelsTable),
      db => IncrementalClusters.buildClusterState(spark, textDocs(base), db),
      (db, b) => IncrementalClusters.appendBatchClusters(spark, b,
        TextOps.bandsOfDocs(textDocs(base)), db),
      k => textDocs(ids(k))),
    Family("scd2", ScdOps.Fence, Seq(ScdOps.HistTable),
      db => ScdOps.buildScd2(feed(base), db),
      (db, b) => ScdOps.applyScd2Batch(spark, b, db),
      k => feed(ids(k))),
    Family("value histogram", TimeSeriesOps.HistFence,
      Seq(TimeSeriesOps.HistTable),
      db => TimeSeriesOps.buildValueHistogram(events(base), db),
      (db, b) => TimeSeriesOps.appendValueHistogram(spark, b, db),
      k => events(ids(k))),
    Family("day samples", ReservoirOps.Fence,
      Seq(ReservoirOps.SampleTable, ReservoirOps.TotalsTable),
      db => ReservoirOps.buildDaySamples(events(base), db),
      (db, b) => ReservoirOps.appendDaySamples(spark, b, db),
      k => events(ids(k))),
    Family("trending", BasketOps.TrendFence, Seq(BasketOps.Table),
      db => BasketOps.buildTrending(spark, trendDir, base.max, db),
      (db, b) => BasketOps.appendTrending(spark, trendDir,
        b.agg(max("o_orderkey")).head.getLong(0), db),
      k => Seq(ids(k).max).toDF("o_orderkey"),
      // a key bound past every order folds an empty range
      empty = Some(Seq(99L).toDF("o_orderkey"))),
    sink("bm25 sink", Bm25Ingest.IngestFamily,
      Seq(RetrievalOps.PostingsTable, RetrievalOps.DocLenTable),
      db => RetrievalOps.buildBm25Index(textDocs(base), db),
      k => textDocs(ids(k))),
    sink("cdc sink", CdcIngest.IngestFamily,
      Seq(CdcIngest.OutputTable, ChunkOps.ChunkIndexTable),
      db => ChunkOps.buildChunkIndex(textDocs(base), db),
      k => textDocs(ids(k))),
    sink("link sink", LinkIngest.IngestFamily, Seq(LinkIngest.LinkFactsTable),
      db => LinkIngest.buildLinkFacts(spark,
        (1L to 6L).map(id => (id, s"src${id % 5}")).toDF("doc_id", "source"),
        db),
      k => ids(k).map(id => (id, s"src${id % 5}")).toDF("doc_id", "source")),
    sink("vector sink", VectorIngest.IngestFamily,
      Seq(VectorOps.SqCodesTable),
      db => VectorOps.buildSqIndex(vectors(0L to 7L), db),
      k => vectors(ids(k))),
    sink("corpus sink", CorpusPipeline.IngestFamily, Seq("s1_clean"),
      db => CorpusPipeline.runFresh(spark, corpusDocs(1L to 8L), "fence", db),
      k => corpusDocs(ids(k))))

  private def contents(db: String, tables: Seq[String]): Seq[Seq[String]] = {
    graft.store.Warehouse.refreshDb(spark, db)
    tables.map(t => spark.table(s"`$db`.`$t`").collect().map(_.toString)
      .sorted.toSeq)
  }

  /** Remove the stored bound, the way a table from before the fence, or
    * a db never built, carries none.
    */
  private def dropBound(db: String, f: FencedAppend.Fence): Unit = {
    val props = f.key.map(_._2)
    f.table match {
      case Some(t) => spark.sql(s"ALTER TABLE `$db`.`$t` UNSET TBLPROPERTIES " +
        props.map(p => s"'$p'").mkString("(", ", ", ")"))
      case None =>
        props.foreach(p => CorpusPipeline.setDbProp(spark, db, p, ""))
    }
  }

  for (f <- families)
    test(s"${f.label}: in-order lands, a replay is refused, an empty batch " +
        "and a missing bound behave as the family declares") {
      val db = "fence_" + f.label.replace(" ", "_")
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      try {
        f.build(db)
        val first = f.batch(0)
        f.append(db, first)
        assert(f.fence.stored(spark, db) ==
          f.fence.boundsOf(first).map(_.hi), "the fence did not advance")
        val landed = (contents(db, f.tables), f.fence.stored(spark, db))

        val replay = intercept[IllegalArgumentException](f.append(db, first))
        for (word <- Seq("refused", "watermark", "append-only", "fence"))
          assert(replay.getMessage.contains(word), replay.getMessage)
        assert((contents(db, f.tables), f.fence.stored(spark, db)) == landed,
          "a refused replay changed the stored state")

        val empty = f.empty.getOrElse(first.limit(0))
        if (f.emptyRefused)
          assert(intercept[IllegalArgumentException](f.append(db, empty))
            .getMessage.contains("empty batch"))
        else f.append(db, empty)
        assert((contents(db, f.tables), f.fence.stored(spark, db)) == landed,
          "an empty batch changed the stored state")

        dropBound(db, f.fence)
        val next = f.batch(1)
        f.fence.rebuild match {
          case Some(build) =>
            val missing =
              intercept[IllegalArgumentException](f.append(db, next))
            assert(missing.getMessage.contains(build), missing.getMessage)
          case None =>
            assert(f.fence.stored(spark, db).isEmpty)
            assert(f.fence.check(f.label, spark, db, next).nonEmpty)
        }
      } finally spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    }
}
