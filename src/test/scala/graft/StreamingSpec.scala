package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Ev, UserAgg}

/** Batch/stream parity for the event-time operators: the same rows through
  * the streaming path (MemoryStream micro-batches) must agree with the batch
  * expressions.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def evs: Seq[Ev] = {
    val h = 3600L * 1000000L
    Seq(
      Ev(1L, 1 * h + 100, "click", 1.0), Ev(1L, 1 * h + 200, "view", 2.0),
      Ev(2L, 1 * h + 300, "click", 3.0), Ev(1L, 2 * h + 100, "click", 4.0),
      Ev(2L, 3 * h + 100, "view", 5.0))
  }

  test("streaming hourly counts equal batch groupBy over the same rows") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val streamDf = mem.toDF().withColumn("ts_us", timestamp_micros(col("tsUs")))
      .withColumnRenamed("eventType", "event_type")
    val q = StreamingOps.hourlyCounts(streamDf).writeStream
      .format("memory").queryName("hourly").outputMode(OutputMode.Append()).start()
    mem.addData(evs: _*); q.processAllAvailable()
    mem.addData(Ev(9L, 12L * 3600L * 1000000L, "click", 0.0)) // advance watermark
    q.processAllAvailable(); q.stop()
    // Append mode holds back windows until the watermark passes; compare the
    // emitted prefix against batch results for those same windows.
    val batch = evs.toDF().withColumn("ts_us", timestamp_micros(col("tsUs")))
      .withColumnRenamed("eventType", "event_type")
      .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
    val streamed = spark.table("hourly")
    assert(streamed.count() >= 4) // all original-event windows were released
    val joined = streamed.join(batch, Seq("ws", "event_type"))
    assert(joined.count() == streamed.count())
    assert(joined.filter(streamed("cnt") =!= batch("cnt")).count() == 0)
  }

  test("mapGroupsWithState running per-user aggregate across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.runningUserAgg(mem.toDS()).writeStream
      .format("memory").queryName("running").outputMode(OutputMode.Update()).start()
    mem.addData(evs.take(3): _*); q.processAllAvailable()
    mem.addData(evs.drop(3): _*); q.processAllAvailable()
    q.stop()
    val last = spark.table("running").as[UserAgg].collect()
      .groupBy(_.userId).map { case (u, rows) => u -> rows.maxBy(_.n) }
    assert(last(1L).n == 3 && math.abs(last(1L).valueSum - 7.0) < 1e-9)
    assert(last(2L).n == 2 && math.abs(last(2L).valueSum - 8.0) < 1e-9)
  }

  test("late data beyond the watermark is dropped from append aggregations") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val streamDf = mem.toDF().withColumn("ts_us", timestamp_micros(col("tsUs")))
      .withColumnRenamed("eventType", "event_type")
    val q = StreamingOps.hourlyCounts(streamDf).writeStream
      .format("memory").queryName("late").outputMode(OutputMode.Append()).start()
    val h = 3600L * 1000000L
    mem.addData(Ev(1L, 1 * h, "click", 1.0)); q.processAllAvailable()
    mem.addData(Ev(2L, 10 * h, "click", 1.0)); q.processAllAvailable() // wm -> 8h
    // this event is 7h older than the watermark: must be dropped
    mem.addData(Ev(3L, 1 * h + 500, "click", 1.0)); q.processAllAvailable()
    mem.addData(Ev(4L, 20 * h, "click", 1.0)); q.processAllAvailable() // flush
    q.stop()
    val w1 = spark.table("late")
      .filter(col("ws") === timestamp_micros(lit(1 * h))).collect()
    assert(w1.length == 1 && w1.head.getAs[Long]("cnt") == 1L) // late row excluded
  }

  test("flatMapGroupsWithState timeout sessions emit closed sessions with correct bounds") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.timeoutSessions(mem.toDS()).writeStream
      .format("memory").queryName("tsessions").outputMode(OutputMode.Append()).start()
    val h = 3600L * 1000000L
    mem.addData(Ev(1L, 1 * h, "click", 1.0), Ev(1L, 1 * h + 60_000_000L, "view", 2.0),
      Ev(1L, 2 * h, "click", 3.0))
    q.processAllAvailable()
    mem.addData(Ev(9L, 12 * h, "click", 0.0)) // advance watermark, time out state
    q.processAllAvailable(); q.stop()
    val got = spark.table("tsessions").orderBy("startUs")
      .as[StreamingOps.Session].collect().toSeq
    // user 1: [1h, 1h+1m] (2 events) closed by gap; [2h, 2h] (1 event)
    // closed by event-time timeout after the watermark passed 2h+30m
    assert(got.contains(StreamingOps.Session(1L, 1 * h, 1 * h + 60_000_000L, 2L)))
    assert(got.contains(StreamingOps.Session(1L, 2 * h, 2 * h, 1L)))
  }

  test("foreachBatch sink lands streaming aggregates in a warehouse table") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val streamDf = mem.toDF().withColumn("ts_us", timestamp_micros(col("tsUs")))
      .withColumnRenamed("eventType", "event_type")
    val q = StreamingOps.sinkToWarehouse(
      StreamingOps.hourlyCounts(streamDf), "stream_wh", "hourly_counts")
    val h = 3600L * 1000000L
    mem.addData(Ev(1L, 1 * h, "click", 1.0), Ev(2L, 1 * h + 1, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(3L, 20 * h, "view", 1.0)) // advance watermark -> release window
    q.processAllAvailable(); q.stop()
    val landed = spark.table("stream_wh.hourly_counts")
    assert(landed.filter(col("event_type") === "click").head().getAs[Long]("cnt") == 2L)
  }

  test("streaming session windows close after the gap and match batch sessionization") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val streamDf = mem.toDF()
      .withColumn("ts_us", timestamp_micros(col("tsUs")))
      .withColumnRenamed("userId", "user_id")
    val q = StreamingOps.streamingSessions(streamDf).writeStream
      .format("memory").queryName("sessions").outputMode(OutputMode.Append()).start()
    mem.addData(evs: _*); q.processAllAvailable()
    // sentinel far in the future advances the watermark past every session
    // end, so append mode releases the closed sessions
    mem.addData(Ev(9L, 12L * 3600L * 1000000L, "click", 0.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("sessions").orderBy("user_id", "session_start_us")
      .as[(Long, Long, Long)].collect().toSeq
    // gap 30min: user 1 -> {h1: 2 events}, {h2: 1}; user 2 -> {h1: 1}, {h3: 1}
    // (append mode emits sessions closed before the final watermark; all but
    // the max-ts session close here)
    assert(got.contains((1L, 3600000100L, 2L)))
    assert(got.contains((1L, 7200000100L, 1L)))
    assert(got.contains((2L, 3600000300L, 1L)))
  }

  test("streamed micro-batch dedup log equals batch dedup of the same rows") {
    implicit val sq = spark.sqlContext
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    // exact duplicates that CROSS micro-batch boundaries (chunk size 40
    // puts the +100000 copies in later triggers than their originals)
    val dups = docs.take(5).map { case (id, tx) => (id + 100000L, tx) }
    val all = docs ++ dups
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.sinkDedupedLog(
      mem.toDF().toDF("doc_id", "text"), "stream_dedup", "survivor_log")
    all.grouped(40).foreach { chunk =>
      mem.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = StreamingOps.dedupedCorpus(spark, "stream_dedup", "survivor_log")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = graft.ops.TextOps.dedupGroups(all.toDF("doc_id", "text"))
      .select("doc_id", "dup_cnt").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed == batch)
    assert(streamed.length == all.length - dups.length) // dups collapsed
    // the log appended batch-local groups only — it was never rewritten, so
    // it holds one row per (trigger, hash), more than the resolved view when
    // duplicates crossed triggers
    val logRows = spark.table("stream_dedup.survivor_log").count()
    assert(logRows >= streamed.length)

    // scheduled compaction re-anchors the log to the unique-hash count
    // without changing what dedupedCorpus reads
    import java.time.LocalDateTime
    import graft.pipeline.ScheduleRunner
    val entry = StreamingOps.dedupLogCompactionEntry(
      "dedup-compact", "0 4 * * *", "stream_dedup", "survivor_log")
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    val runner = new ScheduleRunner(Seq(entry), startAt = t0)
    assert(runner.tick(spark, t0.plusHours(4)) == Seq("dedup-compact"))
    assert(spark.table("stream_dedup.survivor_log").count() == streamed.length)
    val afterCompact = StreamingOps.dedupedCorpus(spark, "stream_dedup", "survivor_log")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(afterCompact == streamed)
  }

  test("dedup log: post-compaction crash-window redelivery keeps earlier epochs' counts") {
    // The round-14 ADVICE scenario: epoch E lands, the ledger is not yet
    // set (crash window), a compaction rewrites the log, THEN E is
    // redelivered — two NON-identical rows now share (epoch=E, hash): the
    // compacted summary (cross-epoch sum, global min id) and the raw
    // batch row. An arbitrary row pick loses earlier epochs' counts
    // nondeterministically; the max/min pre-resolution keeps the summary.
    import graft.streaming.StreamingOps
    val (db, tbl) = ("stream_dedup_rd", "survivor_log")
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val e0 = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha")).toDF("doc_id", "text")
    val e1 = Seq((4L, "alpha"), (5L, "gamma")).toDF("doc_id", "text")
    graft.store.Warehouse.saveModel(
      graft.ops.TextOps.dedupGroups(e0).withColumn("epoch", lit(0L)), db, tbl)
    graft.ops.TextOps.dedupGroups(e1).withColumn("epoch", lit(1L))
      .select(spark.table(s"`$db`.`$tbl`").columns.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(s"`$db`.`$tbl`")
    val expected = graft.ops.TextOps.dedupGroups(
        e0.unionByName(e1)).select("doc_id", "dup_cnt").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    StreamingOps.compactDedupLog(spark, db, tbl)
    // crash-window redelivery of epoch 1's RAW batch rows, post-compaction
    graft.ops.TextOps.dedupGroups(e1).withColumn("epoch", lit(1L))
      .select(spark.table(s"`$db`.`$tbl`").columns.map(col).toIndexedSeq: _*)
      .write.mode("append").insertInto(s"`$db`.`$tbl`")
    val got = StreamingOps.dedupedCorpus(spark, db, tbl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected,
      "the compacted summary must dominate the redelivered raw row " +
        "(alpha's epoch-0 counts survive)")
    // and a SECOND compaction over the redelivered state is idempotent
    StreamingOps.compactDedupLog(spark, db, tbl)
    val got2 = StreamingOps.dedupedCorpus(spark, db, tbl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == expected)
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("legacy pre-epoch dedup log refuses loudly and migrates once") {
    import graft.streaming.StreamingOps
    val (db, tbl) = ("stream_dedup_legacy", "survivor_log")
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    // a log created before the epoch column existed: one row per
    // (micro-batch, hash) — per-batch INCREMENTS, not copies
    val legacy = Seq(
      ("h_a", 1L, 2L), ("h_a", 4L, 1L), ("h_b", 2L, 1L))
      .toDF("text_hash", "doc_id", "dup_cnt")
    graft.store.Warehouse.saveModel(legacy, db, tbl)
    val e = intercept[IllegalArgumentException] {
      StreamingOps.dedupedCorpus(spark, db, tbl).collect()
    }
    assert(e.getMessage.contains("migrateDedupLog"),
      s"the refusal must name the migration step: ${e.getMessage}")
    StreamingOps.migrateDedupLog(spark, db, tbl)
    // migration compacts (sum/min across the legacy increments) — NOT an
    // in-place stamp, whose max() pre-resolution would undercount h_a
    val got = StreamingOps.dedupedCorpus(spark, db, tbl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 3L), (2L, 1L)))
    assert(spark.table(s"`$db`.`$tbl`").select("epoch").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(StreamingOps.LegacyEpoch))
    // idempotent: a second migrate is a no-op
    StreamingOps.migrateDedupLog(spark, db, tbl)
    assert(StreamingOps.dedupedCorpus(spark, db, tbl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == got)
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("watermark-bounded streaming dedup collapses replays, keeps distinct docs") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val streamDf = mem.toDF().toDF("doc_id", "ts_s", "text")
      .withColumn("event_time", timestamp_seconds(col("ts_s")))
    val q = StreamingOps.dedupWithinWatermark(streamDf).writeStream
      .format("memory").queryName("wm_dedup")
      .outputMode(OutputMode.Append()).start()
    // replays of doc A land in the same and the NEXT micro-batch, all
    // inside the 10-minute horizon; B and C are distinct content
    mem.addData((1L, 100L, "alpha body"), (2L, 110L, "alpha body"),
      (3L, 120L, "beta body"))
    q.processAllAvailable()
    mem.addData((4L, 130L, "alpha body"), (5L, 140L, "gamma body"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wm_dedup").select("text").as[String]
      .collect().sorted.toSeq
    assert(got == Seq("alpha body", "beta body", "gamma body"))
  }

  test("streaming CDC merge: partition-scoped per trigger, idempotent on replay") {
    implicit val sq = spark.sqlContext
    val (db, table) = ("stream_cdc", "state")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    val mem = MemoryStream[(Long, String, String, Long)]
    val q = StreamingOps.sinkCdcMerge(
      mem.toDF().toDF("k", "val", "pk", "v"),
      db, table, keys = Seq("k"), versionCol = "v", partitionCols = Seq("pk"))
    def filesOf(pk: String): Map[String, Long] = {
      val loc = new java.net.URI(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
        .location.toString).getPath
      Option(new java.io.File(s"$loc/pk=$pk").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    def state() = {
      // the merge runs in foreachBatch's CLONED session; a reader session
      // must refresh after an external partition replacement (standard
      // Spark semantics — session-local relation caches)
      spark.catalog.refreshTable(s"`$db`.`$table`")
      spark.table(s"`$db`.`$table`")
        .select("k", "val", "pk", "v").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    }
    // trigger 1: seed two partitions (intra-batch dup on k=1 — the merge's
    // batch resolution must pick the newer version even on the create path)
    mem.addData((1L, "stale", "p1", 1L), (1L, "a", "p1", 2L),
      (2L, "b", "p1", 1L), (3L, "c", "p2", 1L))
    q.processAllAvailable()
    assert(state() == Seq((1L, "a", "p1", 2L), (2L, "b", "p1", 1L),
      (3L, "c", "p2", 1L)))
    val p1Files = filesOf("p1")
    // trigger 2 touches ONLY p2: update k=3, insert k=4 — p1 files must
    // be bit-untouched (the partition-scoped write path, per trigger)
    mem.addData((3L, "c2", "p2", 2L), (4L, "d", "p2", 1L))
    q.processAllAvailable()
    assert(filesOf("p1") == p1Files,
      "a p2-only trigger rewrote partition p1")
    val afterT2 = Seq((1L, "a", "p1", 2L), (2L, "b", "p1", 1L),
      (3L, "c2", "p2", 2L), (4L, "d", "p2", 1L))
    assert(state() == afterT2)
    // trigger 3: at-least-once redelivery of trigger 2 — idempotent, and
    // p1 still untouched
    mem.addData((3L, "c2", "p2", 2L), (4L, "d", "p2", 1L))
    q.processAllAvailable()
    q.stop()
    assert(state() == afterT2)
    assert(filesOf("p1") == p1Files)
  }

  test("streaming quality gate passes exactly what the batch gate passes") {
    implicit val sq = spark.sqlContext
    val docs = Tables.t(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.qualityGatedCorpus(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("quality_gate")
      .outputMode(OutputMode.Append()).start()
    docs.grouped(100).foreach { chunk =>
      mem.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("quality_gate").select("doc_id")
      .as[Long].collect().sorted.toSeq
    val batch = graft.ops.TextOps.qualityGateStats(
        docs.toDF("doc_id", "text"))
      .filter(graft.ops.TextOps.qualityGate)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.length < docs.length) // gate bites
  }

  test("streaming ingest lands micro-batches in the batch path's partition layout") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val streamDf = mem.toDF()
      .withColumn("ts_us", timestamp_micros(col("tsUs")))
      .select(col("userId").as("user_id"), col("ts_us"), col("value"))
    val q = StreamingOps.sinkToPartitionedWarehouse(streamDf, "ts_us",
      graft.pipeline.PartitionGrain.Daily, "stream_part_wh", "events_daily")
    val day = 86400L * 1000000L
    // two micro-batches: same day twice (appends accrete), then a new day
    mem.addData(Ev(1L, 1 * day + 100, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(2L, 1 * day + 200, "click", 1.0), Ev(3L, 2 * day + 50, "view", 2.0))
    q.processAllAvailable(); q.stop()

    val tbl = spark.table("stream_part_wh.events_daily")
    val byPart = tbl.groupBy("part_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byPart == Map("1970-01-02" -> 2L, "1970-01-03" -> 1L))
    // and the batch-side corrective path reads/writes the same layout:
    // backfilling day 2 from an empty-but-aligned source clears only it
    import java.time.LocalDate
    graft.pipeline.PartitionedMaterializer.backfill(spark,
      tbl.filter(lit(false)).drop("part_key"), "ts_us",
      graft.pipeline.PartitionGrain.Daily, "stream_part_wh", "events_daily",
      LocalDate.of(1970, 1, 3), LocalDate.of(1970, 1, 4))
    val after = spark.table("stream_part_wh.events_daily")
      .groupBy("part_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == Map("1970-01-02" -> 2L))
  }

  test("streaming near-dup sink: probes the index, survivors join it for later triggers") {
    import graft.ops.IncrementalDedup
    implicit val sq = spark.sqlContext
    // historical corpus: two docs already indexed
    IncrementalDedup.buildIndexFrom(Seq(
      (1001L, "alpha beta gamma delta"),
      (1002L, "one two three four five")).toDF("doc_id", "text"))
    try {
      val mem = MemoryStream[(Long, String)]
      val q = StreamingOps.sinkIncrementalNearDup(
        mem.toDF().toDF("doc_id", "text"), "stream_inc", "near_dup_log")
      // trigger 1: an exact dup of corpus doc 1001 + a novel doc
      mem.addData((1L, "alpha beta gamma delta"),
        (2L, "red green blue yellow orange"))
      q.processAllAvailable()
      // trigger 2: a dup of trigger 1's SURVIVOR (not in the original
      // corpus — caught only because the survivor's bands were appended)
      // + an INTRA-trigger duplicate pair (novel text arriving twice in
      // the same micro-batch — the lower id must canonize the higher)
      mem.addData((3L, "red green blue yellow orange"),
        (4L, "cat dog mouse horse cow"),
        (5L, "cat dog mouse horse cow"))
      q.processAllAvailable(); q.stop()
      val log = spark.table("stream_inc.near_dup_log").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3)))
        .toMap
      assert(log(1L)._3 == 0 && log(1L)._2 == 1001L,
        s"doc 1 should match corpus doc 1001: ${log(1L)}")
      assert(log(2L) == ((0L, 2L, 1)), s"doc 2 should survive: ${log(2L)}")
      assert(log(3L)._3 == 0 && log(3L)._2 == 2L,
        s"doc 3 should match trigger-1 survivor 2: ${log(3L)}")
      assert(log(4L) == ((0L, 4L, 1)), s"doc 4 should survive: ${log(4L)}")
      assert(log(5L)._3 == 0 && log(5L)._2 == 4L,
        s"doc 5 should match its intra-trigger mate 4: ${log(5L)}")
      // only the canon's bands entered the index: a later probe of the
      // same text cites 4, and exactly one of {4,5} is in the index
      val inIdx = spark.table(
        s"`${IncrementalDedup.IndexDb}`.`${IncrementalDedup.IndexTable}`")
        .filter(col("doc_id").isin(4L, 5L))
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(inIdx == Set(4L), s"index should hold only the canon: $inIdx")
    } finally {
      // this test overwrote the shared fixture index — drop it so the
      // batch incremental-dedup tests rebuild the corpus-only state
      spark.sql(s"DROP TABLE IF EXISTS `${IncrementalDedup.IndexDb}`.`${IncrementalDedup.IndexTable}`")
      spark.sql("DROP TABLE IF EXISTS `stream_inc`.`near_dup_log`")
    }
  }

  test("streaming cluster sink: micro-batches fold into band index AND " +
      "cluster labeling; streamed state bit-equal to a fresh build over " +
      "the union; replays and mid-crash redeliveries stay exact") {
    import graft.ops.{IncrementalClusters, IncrementalDedup}
    implicit val sq = spark.sqlContext
    val db = "stream_clusters"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    spark.sql("DROP DATABASE IF EXISTS `stream_clusters_ref` CASCADE")
    graft.store.Warehouse.ensureDatabase(spark, db)
    val corpusRows = Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "one two three four five"),
      (12L, "solo text never repeated"))
    val t1 = Seq(
      (20L, "alpha beta gamma delta"),       // merges with corpus 10
      (21L, "red green blue yellow orange")) // novel
    val t2 = Seq(
      (30L, "red green blue yellow orange"), // merges with t1's 21
      (31L, "cat dog mouse horse cow"),
      (32L, "cat dog mouse horse cow"))      // intra-trigger pair
    def df(x: Seq[(Long, String)]) = x.toDF("doc_id", "text")
    // base state: band index + cluster labeling over the corpus
    IncrementalDedup.buildIndexFrom(df(corpusRows))
    IncrementalClusters.buildClusterState(spark, df(corpusRows), db)
    try {
      val mem = MemoryStream[(Long, String)]
      val q = StreamingOps.sinkIncrementalClusters(
        mem.toDF().toDF("doc_id", "text"), db)
      mem.addData(t1: _*); q.processAllAvailable()
      mem.addData(t2: _*); q.processAllAvailable(); q.stop()
      def state() = IncrementalClusters.clusterState(spark, db).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      val streamed = state()
      // reference: a fresh full build over the union corpus
      IncrementalClusters.buildClusterState(spark,
        df(corpusRows ++ t1 ++ t2), "stream_clusters_ref")
      val fresh = IncrementalClusters.clusterState(spark, "stream_clusters_ref")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(streamed == fresh,
        "streamed cluster state diverged from a fresh build over the union")
      // committed-epoch replay: exact no-op on state AND index
      val idxRows = spark.table(
        s"`${IncrementalDedup.IndexDb}`.`${IncrementalDedup.IndexTable}`").count()
      StreamingOps.processClusterBatch(df(t2), db, epochId = 1L)
      assert(state() == streamed, "a committed-epoch replay changed state")
      assert(spark.table(s"`${IncrementalDedup.IndexDb}`.`${
        IncrementalDedup.IndexTable}`").count() == idxRows,
        "a committed-epoch replay grew the index")
      // mid-crash redelivery (epoch advanced past the ledger, ids already
      // labeled): the content proof must skip the fold, not crash-loop on
      // the append-only guard
      StreamingOps.processClusterBatch(df(t2), db, epochId = 99L)
      assert(state() == streamed, "a content-proven redelivery changed state")
      // an OVERLAPPING but not contained batch still fails loudly
      val rogue = Seq((31L, "cat dog mouse horse cow"),
        (40L, "wholly new never seen text")).toDF("doc_id", "text")
      val err = intercept[IllegalArgumentException] {
        StreamingOps.processClusterBatch(rogue, db, epochId = 100L)
      }
      assert(err.getMessage.contains("append-only"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `${IncrementalDedup.IndexDb}`.`${IncrementalDedup.IndexTable}`")
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      spark.sql("DROP DATABASE IF EXISTS `stream_clusters_ref` CASCADE")
    }
  }

  test("configured checkpoint root gives every sink a durable WAL location") {
    implicit val sq = spark.sqlContext
    val root = TempDirs.create("graft-stream-ckpt")
    spark.conf.set(StreamingOps.CheckpointRootKey, root)
    try {
      val mem = MemoryStream[(Long, String)]
      val q = StreamingOps.sinkDedupedLog(
        mem.toDF().toDF("doc_id", "text"), "stream_ckpt", "log")
      mem.addData((1L, "a b c"), (2L, "a b c"))
      q.processAllAvailable(); q.stop()
      // the WAL (offsets/commits) landed under <root>/<db>.<table> — the
      // restart-resume location a durable deployment points at shared
      // storage
      val walDir = new java.io.File(s"$root/stream_ckpt.log")
      assert(walDir.isDirectory,
        s"sink did not place its checkpoint under the configured root")
      assert(new java.io.File(walDir, "offsets").isDirectory &&
        new java.io.File(walDir, "commits").isDirectory,
        s"expected offsets+commits WAL in $walDir: " +
          walDir.listFiles().map(_.getName).mkString(", "))
    } finally {
      spark.conf.unset(StreamingOps.CheckpointRootKey)
      spark.sql("DROP TABLE IF EXISTS `stream_ckpt`.`log`")
    }
  }

  test("near-dup sink replay: identical verdicts, zero index growth") {
    import graft.ops.IncrementalDedup
    IncrementalDedup.buildIndexFrom(Seq(
      (1001L, "alpha beta gamma delta")).toDF("doc_id", "text"))
    val (db, table) = ("stream_replay", "near_dup_log")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    val fqn = s"`${IncrementalDedup.IndexDb}`.`${IncrementalDedup.IndexTable}`"
    try {
      // one trigger: a corpus dup + a novel survivor + an intra-trigger pair
      val trigger = Seq(
        (1L, "alpha beta gamma delta"),
        (2L, "red green blue yellow orange"),
        (3L, "red green blue yellow orange")).toDF("doc_id", "text")
      StreamingOps.processNearDupBatch(trigger, db, table)
      val idxAfterFirst = spark.table(fqn).count()
      val verdictsFirst = spark.table(s"`$db`.`$table`").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .sortBy(_._1).toSeq
      // the at-least-once case: the SAME trigger fires again
      StreamingOps.processNearDupBatch(trigger, db, table)
      assert(spark.table(fqn).count() == idxAfterFirst,
        "a replayed trigger must append zero index rows")
      val all = spark.table(s"`$db`.`$table`").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .toSeq
      // the log gained one duplicate row per doc, byte-identical content
      assert(all.size == 2 * verdictsFirst.size)
      assert(all.distinct.sorted == verdictsFirst.sorted,
        s"replayed verdicts diverged: ${all.sorted} vs $verdictsFirst")
      // and a THIRD replay is still a no-op at the index
      StreamingOps.processNearDupBatch(trigger, db, table)
      assert(spark.table(fqn).count() == idxAfterFirst)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $fqn")
      spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    }
  }

  test("streaming ANN ingest: micro-batches grow every stored index family " +
      "through frozen-parameter appends; replays skip; out-of-order refused") {
    import graft.ops.{AnnFamily, VectorOps}
    import graft.pipeline.VectorIngest
    implicit val sq = spark.sqlContext
    val db = "ann_stream_db"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val t0 = maxId * 2 / 3
    // yesterday's scheduled build: all four families over the base slice
    VectorOps.build(AnnFamily.Ivf, emb.filter(col("vec_id") <= t0), db)
    VectorOps.build(AnnFamily.Pq, emb.filter(col("vec_id") <= t0), db)
    VectorOps.build(AnnFamily.IvfPq, emb.filter(col("vec_id") <= t0), db)
    VectorOps.build(AnnFamily.Sq, emb.filter(col("vec_id") <= t0), db)

    // the rest arrives as TWO stream micro-batches (ascending vec_ids)
    val rest = emb.filter(col("vec_id") > t0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val mem = MemoryStream[(Long, Array[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch(VectorIngest.vectorIngestSink("annStream", db))
      .start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    // every family holds the FULL corpus, bit-equal to a frozen-parameter
    // assignment/encode of the union (the appendTo* law, through a real
    // streaming query)
    val vecs = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("vec"))
    def cellsOf(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(cellsOf(spark.table(s"$db.${VectorOps.IvfAssignmentsTable}")) ==
      cellsOf(VectorOps.assignToCells(vecs,
        spark.table(s"$db.${VectorOps.IvfCentroidsTable}"))))
    assert(spark.table(s"$db.${VectorOps.PqCodesTable}").count() == emb.count())
    assert(spark.table(s"$db.${VectorOps.IvfPqCodesTable}").count() == emb.count())
    // SQ: streamed codes bit-equal to a frozen-parameter encode of the
    // union under the base slice's stored (min, width)
    val (sqMins, sqWidths) = VectorOps.loadSqParams(spark, db)
    def sqKey(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "codes").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1).toSeq
    assert(sqKey(spark.table(s"$db.${VectorOps.SqCodesTable}")) ==
      sqKey(VectorOps.sqEncode(emb, sqMins, sqWidths)))

    // a committed-epoch replay is an exact no-op (would otherwise trip
    // the append-only guard before it could double-append)
    val before = spark.table(s"$db.${VectorOps.PqCodesTable}").count()
    VectorIngest.vectorIngestBatch(spark, "annStream",
      b2.toIndexedSeq.toDF("vec_id", "embedding"), db, epochId = 1L)
    assert(spark.table(s"$db.${VectorOps.PqCodesTable}").count() == before)
    // an out-of-order batch (stale ids, fresh epoch) is refused loudly
    val e = intercept[IllegalArgumentException] {
      VectorIngest.vectorIngestBatch(spark, "annStream",
        b1.take(1).toIndexedSeq.toDF("vec_id", "embedding"), db, epochId = 7L)
    }
    assert(e.getMessage.contains("append-only"))
    // and the grown index serves with zero training jobs
    val served = VectorOps.topkFromIndex(AnnFamily.Pq, spark, sf, db)
    assert(!served.queryExecution.executedPlan.toString.contains("vec_sqdist"))
    assert(served.collect().length == 25)
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("streaming ANN ingest grows SHARDED families through hash-slice " +
      "routed appends; committed-epoch replays stay no-ops") {
    import graft.ops.{AnnFamily, VectorOps}
    import graft.pipeline.VectorIngest
    val db = "ann_shard_stream_db"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val t0 = maxId * 2 / 3
    VectorOps.build(AnnFamily.Pq, emb.filter(col("vec_id") <= t0), db, 2)
    val batch = emb.filter(col("vec_id") > t0).select("vec_id", "embedding")
    VectorIngest.vectorIngestBatch(spark, "shardStream", batch, db, epochId = 0L)
    def key(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.toString).toSeq
    }
    // each shard holds exactly the frozen-codebook encode of ITS hash
    // slice of the union corpus — the batch routed by the builders' law
    for (sh <- 0 until 2) {
      val books = VectorOps.loadPqBooks(spark, db,
        s"${VectorOps.PqCodebooksTable}_$sh")
      val slice = emb.filter(pmod(xxhash64(col("vec_id")), lit(2L)) === sh)
      assert(key(spark.table(s"$db.${VectorOps.PqCodesTable}_$sh")) ==
        key(VectorOps.pqEncode(slice, books, books(0).head.size)),
        s"shard $sh diverged after the streamed append")
    }
    // the committed epoch replays as a pure no-op
    val before = spark.table(s"$db.${VectorOps.PqCodesTable}_0").count()
    VectorIngest.vectorIngestBatch(spark, "shardStream", batch, db, epochId = 0L)
    assert(spark.table(s"$db.${VectorOps.PqCodesTable}_0").count() == before)
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("streaming ANN ingest: a mid-batch crash replays to exactly the " +
      "missing rows — no family ever carries a batch twice") {
    import graft.ops.{AnnFamily, VectorOps}
    import graft.pipeline.VectorIngest
    val db = "ann_crash_db"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    val emb = Tables.t(spark, sf, "embeddings")
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val t0 = maxId * 2 / 3
    VectorOps.build(AnnFamily.Ivf, emb.filter(col("vec_id") <= t0), db)
    VectorOps.build(AnnFamily.Pq, emb.filter(col("vec_id") <= t0), db)
    val batch = emb.filter(col("vec_id") > t0)
      .select("vec_id", "embedding")
    // crash right after the FIRST family (IVF) lands, epoch uncommitted
    intercept[RuntimeException] {
      VectorIngest.vectorIngestBatch(spark, "crash", batch, db,
        epochId = 0L, failAfter = Some(VectorOps.IvfAssignmentsTable))
    }
    assert(spark.table(s"$db.${VectorOps.IvfAssignmentsTable}").count() ==
      emb.count(), "IVF landed before the crash")
    assert(spark.table(s"$db.${VectorOps.PqCodesTable}").count() <
      emb.count(), "PQ must NOT have landed")
    // the streaming engine re-delivers the same epoch: the replay appends
    // exactly the missing rows (IVF's range-pruned anti-join drops the
    // already-landed ids), then commits the epoch
    VectorIngest.vectorIngestBatch(spark, "crash", batch, db, epochId = 0L)
    for (t <- Seq(VectorOps.IvfAssignmentsTable, VectorOps.PqCodesTable)) {
      val ids = spark.table(s"$db.$t").groupBy("vec_id")
        .count().filter(col("count") > 1).count()
      assert(ids == 0L, s"$t holds duplicated vec_ids after the replay")
      assert(spark.table(s"$db.$t").count() == emb.count())
    }
    // a SECOND re-delivery of the now-committed epoch is a pure no-op
    val before = spark.table(s"$db.${VectorOps.IvfAssignmentsTable}").count()
    VectorIngest.vectorIngestBatch(spark, "crash", batch, db, epochId = 0L)
    assert(spark.table(s"$db.${VectorOps.IvfAssignmentsTable}").count() == before)

    // the post-appends crash window (epoch committed, append-only guard
    // one batch stale — the only reachable state under the epoch-first
    // commit order): the replay is a ledger no-op, never a guard trip,
    // and the next batch re-advances the guard. The guard-first order
    // had the INVERSE window, which wedged the stream (replayed epoch
    // absent from the ledger + ids already "ingested" → require threw on
    // every redelivery).
    val staleMax = (t0 - 1).toString
    spark.sql(s"ALTER DATABASE `$db` SET DBPROPERTIES " +
      s"('${VectorIngest.MaxVecIdProp}'='$staleMax')")
    VectorIngest.vectorIngestBatch(spark, "crash", batch, db, epochId = 0L)
    assert(spark.table(s"$db.${VectorOps.IvfAssignmentsTable}").count() == before,
      "stale-guard replay of a committed epoch must be a no-op")
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("streaming BM25 ingest: grown index bit-equal to a fresh full build; crash windows heal") {
    implicit val sq = spark.sqlContext
    import graft.ops.RetrievalOps
    import graft.pipeline.Bm25Ingest
    val db = "bm25_stream_db"
    for (d <- Seq(db, "bm25_stream_full"))
      spark.sql(s"DROP DATABASE IF EXISTS `$d` CASCADE")
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    RetrievalOps.buildBm25Index(docs.filter(col("doc_id") < 300), db)
    val rest = docs.filter(col("doc_id") >= 300)
      .as[(Long, String)].collect().sortBy(_._1)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch(Bm25Ingest.bm25IngestSink("bm25Stream", db))
      .start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    // every table bit-equal to a from-scratch build over the union (this
    // session read the index during the base build, so it must re-list
    // what the stream's cloned session appended — the REFRESH contract,
    // which serving performs implicitly)
    RetrievalOps.refreshIndex(spark, db)
    RetrievalOps.buildBm25Index(docs, "bm25_stream_full")
    def dump(d: String, tbl: String, cols: String*): Seq[Seq[Any]] =
      spark.table(s"`$d`.`$tbl`").select(cols.map(col).toIndexedSeq: _*)
        .orderBy(cols.map(col).toIndexedSeq: _*)
        .collect().toSeq.map(_.toSeq)
    for ((tbl, cols) <- Seq(
        RetrievalOps.PostingsTable -> Seq("w", "doc_id", "tf", "bkt"),
        RetrievalOps.DfTable -> Seq("w", "df"),
        RetrievalOps.DocLenTable -> Seq("doc_id", "dl"),
        RetrievalOps.TotalsTable -> Seq("n_docs", "total_len")))
      assert(dump(db, tbl, cols: _*) == dump("bm25_stream_full", tbl, cols: _*),
        s"streamed $tbl diverged from the fresh build")
    // committed-epoch replay is a pure no-op
    val before = spark.table(s"$db.${RetrievalOps.PostingsTable}").count()
    Bm25Ingest.bm25IngestBatch(spark, "bm25Stream",
      b2.toIndexedSeq.toDF("doc_id", "text"), db, epochId = 1L)
    assert(spark.table(s"$db.${RetrievalOps.PostingsTable}").count() == before)
    // a fully-stale batch under a FRESH epoch is refused loudly
    val e = intercept[IllegalArgumentException] {
      Bm25Ingest.bm25IngestBatch(spark, "bm25Stream",
        b1.take(1).toIndexedSeq.toDF("doc_id", "text"), db, epochId = 7L)
    }
    assert(e.getMessage.contains("append-only"))
    // mid-crash: postings landed, doclen/stats did not, epoch uncommitted
    val b3 = Seq((9000L, "zz yy zz"), (9001L, "yy qq")).toDF("doc_id", "text")
    intercept[RuntimeException] {
      Bm25Ingest.bm25IngestBatch(spark, "bm25Stream", b3, db, epochId = 2L,
        failAfter = Some(RetrievalOps.PostingsTable))
    }
    // redelivery heals: row-idempotent fact appends + derived-stat rebuild
    Bm25Ingest.bm25IngestBatch(spark, "bm25Stream", b3, db, epochId = 2L)
    RetrievalOps.refreshIndex(spark, db)
    val dupPostings = spark.table(s"$db.${RetrievalOps.PostingsTable}")
      .groupBy("doc_id", "w").count().filter(col("count") > 1).count()
    assert(dupPostings == 0L, "postings hold duplicated rows after replay")
    RetrievalOps.buildBm25Index(docs.unionByName(b3), "bm25_stream_full2")
    for ((tbl, cols) <- Seq(
        RetrievalOps.PostingsTable -> Seq("w", "doc_id", "tf", "bkt"),
        RetrievalOps.DfTable -> Seq("w", "df"),
        RetrievalOps.TotalsTable -> Seq("n_docs", "total_len")))
      assert(dump(db, tbl, cols: _*) == dump("bm25_stream_full2", tbl, cols: _*),
        s"post-crash $tbl diverged from the fresh build over the union")
    // and the grown index serves: same ranking as the fresh index
    assert(RetrievalOps.bm25TopKFromIndex(spark, sf, db)
      .collect().toSeq.map(_.toSeq) ==
      RetrievalOps.bm25TopKFromIndex(spark, sf, "bm25_stream_full2")
        .collect().toSeq.map(_.toSeq))
    // an overlapping id with DIFFERENT content (past the fence via a
    // fresh higher id) is NOT a redelivery — the content proof refuses
    val rogue = Seq((9001L, "utterly different words now appear here"),
      (9050L, "fresh doc")).toDF("doc_id", "text")
    val e3 = intercept[IllegalArgumentException] {
      Bm25Ingest.bm25IngestBatch(spark, "bm25Stream", rogue, db, epochId = 3L)
    }
    assert(e3.getMessage.contains("DIFFERENT content"))
    for (d <- Seq(db, "bm25_stream_full", "bm25_stream_full2"))
      spark.sql(s"DROP DATABASE IF EXISTS `$d` CASCADE")
  }
  test("streaming CDC rewrite: output matches batch-at-a-time reference; poisoned redelivery discarded") {
    implicit val sq = spark.sqlContext
    import graft.ops.ChunkOps
    import graft.pipeline.CdcIngest
    val db = "cdc_stream_db"
    val ref = "cdc_stream_ref"
    for (d <- Seq(db, ref)) spark.sql(s"DROP DATABASE IF EXISTS `$d` CASCADE")
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val base = docs.filter(col("doc_id") < 300)
    ChunkOps.buildChunkIndex(base, db)
    ChunkOps.buildChunkIndex(base, ref)
    val rest = docs.filter(col("doc_id") >= 300)
      .as[(Long, String)].collect().sortBy(_._1)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch(CdcIngest.cdcIngestSink("cdcStream", db))
      .start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    // batch-at-a-time reference: b1 vs base index, then b2 vs base ∪ b1
    def dfOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    val ref1 = ChunkOps.cdcRewriteAgainst(dfOf(b1.toIndexedSeq), spark, ref)
      .collect().toSeq.map(_.toSeq)
    ChunkOps.appendToChunkIndex(spark, ref, dfOf(b1.toIndexedSeq))
    val ref2 = ChunkOps.cdcRewriteAgainst(dfOf(b2.toIndexedSeq), spark, ref)
      .collect().toSeq.map(_.toSeq)
    graft.store.Warehouse.refreshDb(spark, db)
    val streamed = spark.table(s"$db.${CdcIngest.OutputTable}")
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(streamed == (ref1 ++ ref2),
      "streamed output diverged from the batch-at-a-time reference")
    // committed-epoch replay is a pure no-op
    val before = spark.table(s"$db.${CdcIngest.OutputTable}").count()
    CdcIngest.cdcIngestBatch(spark, "cdcStream",
      dfOf(b2.toIndexedSeq), db, epochId = 1L)
    assert(spark.table(s"$db.${CdcIngest.OutputTable}").count() == before)
    // crash AFTER the output lands but BEFORE the index fold: the
    // redelivered rewrite is POISONED (its own chunks are still absent,
    // then present after the fold) — the row-idempotent output append
    // must keep the first attempt's rows
    val b3 = Seq((9000L, b1.head._2), (9001L, "wholly novel content here"))
    intercept[RuntimeException] {
      CdcIngest.cdcIngestBatch(spark, "cdcStream", dfOf(b3), db,
        epochId = 2L, failAfter = Some(CdcIngest.OutputTable))
    }
    val firstAttempt = spark.table(s"$db.${CdcIngest.OutputTable}")
      .filter(col("doc_id") >= 9000L).orderBy("doc_id")
      .collect().toSeq.map(_.toSeq)
    assert(firstAttempt.size == 2, "first attempt's output must have landed")
    CdcIngest.cdcIngestBatch(spark, "cdcStream", dfOf(b3), db, epochId = 2L)
    graft.store.Warehouse.refreshDb(spark, db)
    val afterReplay = spark.table(s"$db.${CdcIngest.OutputTable}")
      .filter(col("doc_id") >= 9000L).orderBy("doc_id")
      .collect().toSeq.map(_.toSeq)
    assert(afterReplay == firstAttempt,
      "redelivery overwrote the first attempt's output rows")
    // doc 9000 duplicates b1's first text: its chunks excised; 9001 novel
    val r9000 = afterReplay.head
    assert(r9000(2).asInstanceOf[Long] > 0L, "duplicate batch doc must excise")
    // and the index now holds the batch: a repeat of 9001's text excises
    val again = ChunkOps.cdcRewriteAgainst(
      dfOf(Seq((9500L, "wholly novel content here"))), spark, db).head
    assert(again.getLong(2) == again.getLong(1),
      "post-fold repeat of a streamed doc must excise every chunk")
    // overlapping id + DIFFERENT content past the fence: the index-
    // independent chunk-count proof refuses loudly
    val e2 = intercept[IllegalArgumentException] {
      CdcIngest.cdcIngestBatch(spark, "cdcStream", dfOf(Seq(
        (9001L, "a very much longer replacement text with many more chunks than before " * 3),
        (9600L, "another fresh doc"))), db, epochId = 3L)
    }
    assert(e2.getMessage.contains("DIFFERENT content"))
    for (d <- Seq(db, ref)) spark.sql(s"DROP DATABASE IF EXISTS `$d` CASCADE")
  }
  test("streaming domain-classifier delta growth: exactly-once through a real stream") {
    implicit val sq = spark.sqlContext
    import graft.ops.DomainOps
    import graft.pipeline.DeltaModelIngest
    val db = "dc_stream_db"
    for (d <- Seq(db, "dc_stream_ref"))
      spark.sql(s"DROP DATABASE IF EXISTS `$d` CASCADE")
    val docs = Tables.t(spark, sf, "documents")
      .select("doc_id", "text", "source")
    DomainOps.buildDomainClassifier(docs.filter(col("doc_id") < 300), db)
    val rest = docs.filter(col("doc_id") >= 300)
      .as[(Long, String, String)].collect().sortBy(_._1)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val mem = MemoryStream[(Long, String, String)]
    val q = mem.toDF().toDF("doc_id", "text", "source").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch(DomainOps.dcDeltaSink("dcStream", db))
      .start()
    try {
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    DomainOps.buildDomainClassifier(docs, "dc_stream_ref")
    def counts(d: String, eff: Boolean) = (
      if (eff) DeltaModelIngest.effectiveCounts(spark, DomainOps.dcFamily(d))
      else spark.table(s"$d.${DomainOps.DcCountsTable}"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(counts(db, eff = true) == counts("dc_stream_ref", eff = false),
      "streamed delta counts diverged from the union retrain")
    // and the served predictions match a fresh full model exactly
    assert(DomainOps.domainClassifyFromModel(spark, sf, db)
      .collect().toSeq.map(_.toSeq) ==
      DomainOps.domainClassifyFromModel(spark, sf, "dc_stream_ref")
        .collect().toSeq.map(_.toSeq))
    for (d <- Seq(db, "dc_stream_ref"))
      spark.sql(s"DROP DATABASE IF EXISTS `$d` CASCADE")
  }
}
