package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{ChunkOps, LinkOps, RetrievalOps, VectorOps}
import graft.pipeline.{Bm25Ingest, CdcIngest, CorpusPipeline, FencedAppend,
  LinkIngest, VectorIngest}

/** The exactly-once crash matrix, proven once for every [[FencedAppend]]
  * family on a handful of synthetic rows. For each stage a family
  * declares: crash right after it, redeliver the same epoch, and the
  * tables must equal a crash-free ingest of the same batch into a second
  * db; replaying the committed epoch appends nothing; a stale batch under
  * a fresh epoch is refused; an overlapping batch with different content
  * is refused (by the content proof for the overlap-admitting families,
  * by the fence for the others).
  */
class FencedAppendSpec extends SparkSpec {

  import spark.implicits._

  /** One sink family under test. `batch(k)` is the k-th fresh batch (ids
    * ascending above the base), `stale` lies wholly inside the base, and
    * `rogue(k)` re-sends one of batch k's ids with different content
    * (plus a fresh id, so an overlap-admitting fence passes it).
    */
  private case class Sink(label: String, family: FencedAppend.Family,
                          stages: Seq[String], tables: Seq[String],
                          build: String => Unit, batch: Int => DataFrame,
                          stale: DataFrame, rogue: Int => DataFrame,
                          rogueRefusal: String)

  private def words(id: Long, n: Int): String =
    (0 until n).map(j => s"w${id}x$j").mkString(" ")

  private def textDocs(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, s"${words(id, 3)} shared words")).toDF("doc_id", "text")

  private val bm25 = Sink("bm25", Bm25Ingest.IngestFamily,
    Seq(RetrievalOps.PostingsTable, RetrievalOps.DocLenTable, "derived_stats"),
    Seq(RetrievalOps.PostingsTable, RetrievalOps.DfTable,
      RetrievalOps.DocLenTable, RetrievalOps.TotalsTable),
    db => RetrievalOps.buildBm25Index(textDocs(1L to 4L), db),
    k => textDocs(Seq(10L + 2 * k, 11L + 2 * k)),
    textDocs(Seq(2L, 3L)),
    k => Seq((10L + 2 * k, "six entirely different tokens right here"),
      (1000L + k, "fresh")).toDF("doc_id", "text"),
    "DIFFERENT content")

  private val cdc = Sink("cdc", CdcIngest.IngestFamily,
    Seq(CdcIngest.OutputTable, ChunkOps.ChunkIndexTable),
    Seq(CdcIngest.OutputTable, ChunkOps.ChunkIndexTable),
    db => ChunkOps.buildChunkIndex(textDocs(1L to 4L), db),
    k => textDocs(Seq(10L + 2 * k, 11L + 2 * k)),
    textDocs(Seq(2L, 3L)),
    k => Seq((10L + 2 * k, "a very much longer replacement text with " +
      "many more chunks than before " * 3), (1000L + k, "fresh"))
      .toDF("doc_id", "text"),
    "DIFFERENT content")

  private def linkDocs(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, s"src${id % 5}")).toDF("doc_id", "source")

  private val link = Sink("link", LinkIngest.IngestFamily,
    Seq(LinkIngest.LinkFactsTable, LinkOps.AuthorityTable),
    Seq(LinkIngest.LinkFactsTable, LinkOps.AuthorityTable),
    db => LinkIngest.buildLinkFacts(spark, linkDocs(1L to 6L), db),
    k => linkDocs(Seq(10L + 2 * k, 11L + 2 * k)),
    linkDocs(Seq(2L, 3L)),
    k => Seq((10L + 2 * k, "src15"), (1000L + k, "src2"))
      .toDF("doc_id", "source"),
    "DIFFERENT link rows")

  private def vectors(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, Array.tabulate(4)(d => ((id * 7 + d * 3) % 11).toFloat)))
      .toDF("vec_id", "embedding")

  private val vector = Sink("vector", VectorIngest.IngestFamily,
    Seq(VectorOps.IvfAssignmentsTable, VectorOps.SqCodesTable),
    Seq(VectorOps.IvfAssignmentsTable, VectorOps.SqCodesTable),
    db => {
      VectorOps.buildIvfIndex(vectors(0L to 7L), db, nCells = 2)
      VectorOps.buildSqIndex(vectors(0L to 7L), db)
    },
    k => vectors(Seq(10L + 2 * k, 11L + 2 * k)),
    vectors(Seq(2L, 3L)),
    k => vectors(Seq(10L + 2 * k, 1000L + k))
      .withColumn("embedding", transform(col("embedding"), _ + 1.0f)),
    "append-only")

  private def corpusDocs(ids: Seq[Long]): DataFrame =
    ids.map { id =>
      val text = words(id, 24)
      (id, text, "en", s"src${id % 2}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")

  private val corpus = Sink("corpus", CorpusPipeline.IngestFamily,
    Seq("s1_s2", "stamps"),
    Seq("s1_clean", "s2_dedup", CorpusPipeline.HashIndexTable,
      CorpusPipeline.IndexTable, CorpusPipeline.EvalGramsTable),
    db => CorpusPipeline.runFresh(spark, corpusDocs(1L to 8L), "fa_base", db),
    k => corpusDocs(Seq(10L + 2 * k, 11L + 2 * k)),
    corpusDocs(Seq(2L, 3L)),
    k => corpusDocs(Seq(10L + 2 * k, 1000L + k))
      .withColumn("text", concat(col("text"), lit(" changed"))),
    "append-only")

  /** Every row of the family's tables, column order and row order fixed. */
  private def contents(db: String, tables: Seq[String]): Seq[Seq[String]] = {
    graft.store.Warehouse.refreshDb(spark, db)
    tables.map { t =>
      val df = spark.table(s"`$db`.`$t`")
      df.select(df.columns.sorted.toIndexedSeq.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    }
  }

  for (f <- Seq(bm25, cdc, link, vector, corpus))
    test(s"${f.label}: each stage's crash heals on redelivery; replays, " +
        "stale and rogue batches change nothing") {
      val (crash, ref) = (s"fenced_${f.label}_crash", s"fenced_${f.label}_ref")
      for (db <- Seq(crash, ref)) {
        spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
        f.build(db)
      }
      def ingest(db: String, b: DataFrame, epoch: Long,
                 failAfter: Option[String] = None): Unit =
        FencedAppend.append(spark, f.family, db, "fenced", b, epoch, failAfter)
      try f.stages.zipWithIndex.foreach { case (stage, k) =>
        val b = f.batch(k)
        ingest(ref, b, k.toLong)
        val expected = contents(ref, f.tables)
        val crashed = intercept[RuntimeException](
          ingest(crash, b, k.toLong, Some(stage)))
        assert(crashed.getMessage == s"test failpoint after $stage")
        ingest(crash, b, k.toLong)
        assert(contents(crash, f.tables) == expected,
          s"redelivery after a crash after $stage diverged from a " +
            "crash-free ingest")
        ingest(crash, b, k.toLong)
        val stale = intercept[IllegalArgumentException](
          ingest(crash, f.stale, 100L + k))
        assert(stale.getMessage.contains("append-only"), stale.getMessage)
        val rogue = intercept[IllegalArgumentException](
          ingest(crash, f.rogue(k), 200L + k))
        assert(rogue.getMessage.contains(f.rogueRefusal), rogue.getMessage)
        assert(contents(crash, f.tables) == expected,
          s"a replay, stale or rogue batch after $stage changed the tables")
      } finally for (db <- Seq(crash, ref))
        spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    }

  private val FenceProp = "graft.fenced.max_id"
  private val LedgerBase = "graft.fenced.last_epoch"

  /** A family whose two stages only log that they ran: the protocol's own
    * order, with no sink behind it. `onStage` runs inside each stage and
    * `fenceWrite` just before the fence is written.
    */
  private def logged(ran: scala.collection.mutable.Buffer[String],
                     onStage: (FencedAppend.Batch, String) => Unit = (_, _) => (),
                     fenceWrite: () => Unit = () => ()) =
    FencedAppend.Family(
      name = "loggedAppend", ledgerBase = LedgerBase,
      fence = new FencedAppend.Fence(None, Seq("id" -> FenceProp),
          FencedAppend.Lo, None) {
        override def advance(s: org.apache.spark.sql.SparkSession,
                             db: String, to: Seq[Long]): Unit = {
          fenceWrite()
          super.advance(s, db, to)
        }
      },
      prepare = graft.store.Warehouse.ensureDatabase,
      stages = b => Seq("a", "b").map(st =>
        st -> (() => { ran += st; onStage(b, st) })))

  private def leaseOf(db: String): Option[String] =
    CorpusPipeline.dbProps(spark, db).get(CorpusPipeline.LeaseProp)
      .filter(_.nonEmpty)

  test("the ledger commits before the fence: a crash between the two " +
      "leaves a replay, never a wedged stream") {
    val db = "fenced_protocol_commit"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    var crashFence = true
    val family = logged(ran, fenceWrite = () => if (crashFence) {
      crashFence = false
      throw new RuntimeException("crash before the fence write")
    })
    val batch = Seq(1L, 2L).toDF("id")
    intercept[RuntimeException](
      FencedAppend.append(spark, family, db, "t", batch, 0L))
    assert(FencedAppend.storedLong(spark, db,
      FencedAppend.epochProp(LedgerBase, "t")).contains(0L),
      "the epoch must be committed before the fence moves")
    assert(FencedAppend.storedLong(spark, db, FenceProp).isEmpty)
    assert(leaseOf(db).isEmpty, "the lease must be released on a crash")
    ran.clear()
    FencedAppend.append(spark, family, db, "t", batch, 0L)
    assert(ran.isEmpty, "the redelivery must be a ledger no-op")
    FencedAppend.append(spark, family, db, "t", Seq(3L).toDF("id"), 1L)
    assert(ran == Seq("a", "b"))
    assert(FencedAppend.storedLong(spark, db, FenceProp).contains(3L))
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("every stage renews the lease: a runner whose lease was taken " +
      "over stops before its next stage and commits nothing") {
    val db = "fenced_protocol_lease"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val taken = s"other-runner:${System.currentTimeMillis() + 60000L}"
    val family = logged(ran, onStage = (b, st) =>
      if (st == "a") CorpusPipeline.setDbProp(b.s, b.db,
        CorpusPipeline.LeaseProp, taken))
    intercept[CorpusPipeline.LeaseHeldException](
      FencedAppend.append(spark, family, db, "t", Seq(1L).toDF("id"), 0L))
    assert(ran == Seq("a"), "stage b ran without the lease")
    assert(FencedAppend.storedLong(spark, db,
      FencedAppend.epochProp(LedgerBase, "t")).isEmpty)
    assert(FencedAppend.storedLong(spark, db, FenceProp).isEmpty)
    assert(leaseOf(db).contains(taken), "the new owner's lease was cleared")
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("ledger keys are pinned: a changed derivation orphans every " +
      "stored committed epoch") {
    assert(FencedAppend.epochProp("graft.corpus.last_epoch", "stream-a") ==
      "graft.corpus.last_epoch.2913a742b388df263577f0b1b9b4532c")
  }
}
