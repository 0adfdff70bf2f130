package graft.store

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration.{DurationInt, FiniteDuration}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Load-mode contract (SURVEY.md §2.A semantics note).
  *
  * The reference's `mode: incremental` is NOT an append: extract never passes
  * a watermark last-value (reference: _tenant_factory.py:232-238 vs
  * base.py:71-73), and the load DELETEs all rows then re-INSERTs
  * (_tenant_factory.py:290-299). Both reference modes are full snapshots;
  * they differ only in whether table identity survives. We implement both
  * faithful modes plus the *declared* semantics as a proper watermark append.
  */
sealed trait LoadMode
object LoadMode {
  /** DROP + CTAS — schema drift absorbed (reference: _tenant_factory.py:300-307). */
  case object FullRefresh extends LoadMode
  /** Keep table identity; replace all rows (reference "incremental",
    * _tenant_factory.py:290-299). Schema drift fails loudly (INSERT contract).
    */
  case object SnapshotReplace extends LoadMode
  /** The upgrade the reference declares but never does: append rows strictly
    * newer than the stored watermark.
    */
  case object WatermarkAppend extends LoadMode

  def parse(s: String): LoadMode = s match {
    case "full"        => FullRefresh
    case "incremental" => SnapshotReplace // reference-effective behavior
    case "append"      => WatermarkAppend
    case other         => throw new IllegalArgumentException(s"unknown mode: $other")
  }
}

/** Warehouse operators A6-A12 (SURVEY.md §2.A) on Spark managed tables.
  * The reference's S3-landing → Hive-bridge → Iceberg-CTAS triple hop
  * (_tenant_factory.py:249-310) collapses to direct parquet writes.
  */
object Warehouse {

  /** A11 — namespace DDL (`CREATE SCHEMA IF NOT EXISTS`, _tenant_factory.py:276,288).
    * A catalog lookup first: every load and model save calls this, and the
    * database almost always exists already. The session catalog's own
    * check takes the name as given, with no identifier parsing.
    */
  def ensureDatabase(spark: SparkSession, db: String): Unit =
    if (!spark.sessionState.catalog.databaseExists(db))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /** Rows a write produced, read from the write's own job: `write` gets
    * `df` with a row-count observation attached, so no second scan of the
    * written table is needed. The observation is read only after the
    * write returned. Its value arrives through the session's listener bus,
    * which may drop an event when its queue overflows, and a `write` that
    * never runs the observed plan never reports at all; so the wait is
    * bounded by `wait`, and None means the count did not arrive and the
    * caller must count the table itself.
    */
  def countWritten(df: DataFrame, wait: FiniteDuration = CountWait)
                  (write: DataFrame => Unit): Option[Long] = {
    val rows = org.apache.spark.sql.Observation()
    write(df.observe(rows, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("rows")))
    try {
      Await.ready(rows.future, wait)
      rows.future.value.flatMap(_.toOption).map(_.getLong(0))
    } catch { case _: TimeoutException => None }
  }

  /** How long [[countWritten]] waits for a finished write's count. The
    * event normally lands within milliseconds of the job's end.
    */
  val CountWait: FiniteDuration = 30.seconds

  /** A6 — columnar landing write (s3.write_parquet call site,
    * _tenant_factory.py:249-253).
    */
  def writeLanding(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(dir)

  /** A7 — landing read-back (replaces the Hive external-table bridge). */
  def readLanding(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** A catalog-unknown table whose default location survives on disk (a
    * previous process's warehouse dir reused by this one) makes every
    * saveAsTable create path throw LOCATION_ALREADY_EXISTS. Managed-table
    * contract: the catalog owns the location — a directory the catalog
    * doesn't know about is stale output, safe to clear before create.
    *
    * Guard: the recursive delete runs ONLY under a warehouse dir this
    * process created (graft.TempDirs) — against a user-configured shared
    * or persistent warehouse dir, blindly deleting would destroy data
    * another process (or a parked external dataset) owns. There we warn
    * loudly and let the create path fail with LOCATION_ALREADY_EXISTS, so
    * the operator decides what the directory is.
    */
  private def dropStaleLocation(spark: SparkSession, db: String,
                                table: String): Unit = {
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(spark.catalog.getDatabase(db).locationUri),
      table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) {
      // ownership is decided on the PATH component only, so the scheme must
      // be local too — a remote (hdfs/s3) location whose path merely
      // coincides with a local temp dir is never ours to delete
      val scheme = loc.toUri.getScheme
      val localFs = scheme == null || scheme == "file"
      if (localFs && graft.TempDirs.ownsPath(loc.toUri.getPath)) fs.delete(loc, true)
      else System.err.println(
        s"[warehouse] NOT clearing catalog-unknown location $loc (outside " +
          "this process's temp warehouse dirs); the following create may " +
          "fail with LOCATION_ALREADY_EXISTS — remove the directory " +
          "manually if it is stale output")
    }
  }

  /** A8/A9/append — load a batch into `db.table` under the given mode. */
  def load(spark: SparkSession, df: DataFrame, db: String, table: String,
           mode: LoadMode): Unit = {
    ensureDatabase(spark, db)
    val fq = s"`$db`.`$table`"
    val exists = spark.catalog.tableExists(s"$db.$table")
    if (!exists) dropStaleLocation(spark, db, table)
    mode match {
      case LoadMode.FullRefresh =>
        df.write.mode(SaveMode.Overwrite)
          .option("overwriteSchema", "true").format("parquet").saveAsTable(fq)
      case LoadMode.SnapshotReplace =>
        if (!exists) {
          df.write.format("parquet").saveAsTable(fq)
        } else {
          // Positional insertInto is the same breakage class as the
          // reference's INSERT INTO on drift — validate names first, fail loud.
          requireSameColumns(spark, df, db, table)
          df.write.mode(SaveMode.Overwrite).insertInto(fq)
        }
      case LoadMode.WatermarkAppend =>
        if (!exists) df.write.format("parquet").saveAsTable(fq)
        else {
          requireSameColumns(spark, df, db, table)
          df.write.mode(SaveMode.Append).insertInto(fq)
        }
    }
  }

  /** Highest stored watermark value, for the append path's strict-`>` filter.
    * Maintenance read: the table-wide watermark, not a tenant-scoped one.
    */
  def currentWatermark(spark: SparkSession, db: String, table: String,
                       column: String): Option[Any] =
    appendState(spark, db, table, column).flatMap(_.watermark)

  /** Stored watermark and row count of an append target, read by one
    * aggregate job; None when the table does not exist yet. The row count
    * lets an append report the table's size as prior rows plus rows
    * written, without re-reading the table afterwards. Maintenance read,
    * like [[currentWatermark]]: table-wide, not tenant-scoped.
    */
  def appendState(spark: SparkSession, db: String, table: String,
                  column: String): Option[AppendState] =
    graft.plans.TenantIsolationRule.withMaintenanceBypass(spark) {
      import org.apache.spark.sql.functions.{count, lit, max}
      if (!spark.catalog.tableExists(s"$db.$table")) None
      else {
        val r = spark.table(s"`$db`.`$table`").agg(max(column), count(lit(1))).head()
        Some(AppendState(Option(r.get(0)), r.getLong(1)))
      }
    }

  /** An append target's highest watermark (None when it holds no value)
    * and its row count.
    */
  final case class AppendState(watermark: Option[Any], rows: Long)

  /** Re-list every table of a model/index database in THIS session.
    * Spark's per-session relation cache freezes an UNPARTITIONED table's
    * file listing at first read, so a session that touched a stored model
    * before another session (a streaming ingest's cloned foreachBatch
    * session, a concurrent writer JVM) appended or rewrote it would keep
    * serving the stale listing forever — the REFRESH TABLE contract.
    * Every stored-model SERVE entry point calls this so long-lived
    * serving sessions always score against what has actually landed.
    * Metadata-only: the re-list cost is paid by the next query, which
    * wants the fresh files anyway; partitioned tables re-list per query
    * regardless and the refresh is a no-op-priced invalidation.
    */
  def refreshDb(spark: SparkSession, db: String): Unit =
    if (spark.catalog.databaseExists(db))
      spark.catalog.listTables(db).collect()
        // listTables also returns session temp VIEWS (e.g. a memory-sink
        // query's name) — refreshing those under `db` resolves to a
        // nonexistent table and throws
        .filter(!_.isTemporary)
        .foreach(t => spark.catalog.refreshTable(s"`$db`.`${t.name}`"))

  /** A table's properties, off the session catalog: the one way a
    * stored table's frozen layout, fence, lineage or ledger is read.
    */
  def tableProps(spark: SparkSession, db: String,
                 table: String): Map[String, String] =
    tableMeta(spark, db, table).properties

  /** Read a frozen layout property (bucket modulus, …) off a table,
    * refusing LOUDLY when absent — the shared contract of every
    * stored-index family: a layout parameter the builder froze must never
    * be guessed.
    */
  def readTablePropLong(spark: SparkSession, db: String, table: String,
                        prop: String, hint: String): Long = {
    val v = tableProps(spark, db, table).get(prop)
    require(v.nonEmpty, s"$prop missing on $db.$table — $hint")
    v.get.toLong
  }

  /** A14 — model-output sink (dbt CTAS, materialized='table'). Partition
    * columns (e.g. the synthesized `partition_key`, C6) turn downstream
    * equality filters into partition pruning — the scan never opens
    * non-matching directories.
    */
  def saveModel(df: DataFrame, db: String, alias: String,
                partitionCols: Seq[String] = Seq.empty): Unit = {
    val spark = df.sparkSession
    ensureDatabase(spark, db)
    if (!spark.catalog.tableExists(s"$db.$alias"))
      dropStaleLocation(spark, db, alias)
    val w = df.write.mode(SaveMode.Overwrite).option("overwriteSchema", "true")
      .format("parquet")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .saveAsTable(s"`$db`.`$alias`")
  }

  /** Bucketed sink: co-locates future joins/aggregations on `bucketCols` —
    * two tables bucketed identically join with NO shuffle exchange (the
    * 100 TB answer to repeated fact⋈fact joins on the same key). Sorted
    * within buckets so sort-merge reads skip the sort too.
    */
  def saveBucketed(df: DataFrame, db: String, table: String,
                   bucketCols: Seq[String], numBuckets: Int): Unit = {
    val spark = df.sparkSession
    ensureDatabase(spark, db)
    if (!spark.catalog.tableExists(s"$db.$table"))
      dropStaleLocation(spark, db, table)
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(s"`$db`.`$table`")
  }

  /** Rewrite a managed table through the [[stagedSwap]], preserving its
    * partition and bucket layout (read from catalog metadata): stage
    * transform(read) with the original layout, then replace the whole
    * table from it. The shared core of compaction, delete-rewrite and the
    * stored-model folds; `reshape` applies to both writes (see
    * [[compact]]). Reads run under the tenant-isolation maintenance
    * bypass — table maintenance is tenant-agnostic by design (a
    * tenant-scoped session must not silently drop other tenants' rows).
    */
  def rewriteVia(spark: SparkSession, db: String, table: String)
                (transform: DataFrame => DataFrame,
                 reshape: DataFrame => DataFrame = identity): Unit =
    graft.plans.TenantIsolationRule.withMaintenanceBypass(spark) {
      recover(spark, db, table)
      val meta = tableMeta(spark, db, table)
      stagedSwap(spark, db, table, WholeTable, reshape)(tmp =>
        writeWithLayout(reshape(transform(spark.table(s"`$db`.`$table`"))),
          meta, tmp))
    }

  /** Replace the partitions `replacement` has rows for, plus the
    * `alsoDrop` partitions (values lined up with `pcols`), through the
    * [[stagedSwap]]. A partition in neither is untouched; one in
    * `alsoDrop` that `replacement` has no rows for ends dropped — a
    * delete's emptied partitions, grain evolution's old-grain keys.
    */
  private[graft] def replacePartitions(spark: SparkSession, db: String,
                                       table: String, pcols: Seq[String],
                                       replacement: DataFrame,
                                       alsoDrop: Seq[Seq[Any]] = Nil): Unit =
    stagedSwap(spark, db, table, Partitions) { tmp =>
      replacement.write.mode(SaveMode.Overwrite)
        .option("overwriteSchema", "true").format("parquet")
        .partitionBy(pcols: _*).saveAsTable(tmp)
      // empty tmp partitions: recovery reads the whole drop set off the
      // tmp's catalog entry, so the manifest never lists keys
      partitionSpecs(pcols, alsoDrop).grouped(100).foreach(chunk =>
        spark.sql(s"ALTER TABLE $tmp ADD IF NOT EXISTS ${chunk.mkString(" ")}"))
    }

  /** The one tmp table every swap of `table` stages through. */
  private[graft] def swapTmp(table: String): String = s"${table}__swap_tmp"

  /** The tmp's manifest property: what a stamped swap replaces — the
    * whole table, or the partitions the tmp's catalog entry lists.
    */
  private val ManifestProp = "graft.swap.manifest"
  private val WholeTable = "table"
  private val Partitions = "partitions"

  /** The swap's steps in order. A test crashes a swap right after one of
    * them lands by naming it in [[swapFailAfter]] for its thread.
    */
  private[graft] val SwapSteps = Seq("written", "stamped", "dropped", "appended")
  private[graft] val swapFailAfter =
    new scala.util.DynamicVariable[Option[String]](None)

  private def landed(step: String): Unit =
    if (swapFailAfter.value.contains(step))
      throw new RuntimeException(s"test failpoint after swap step $step")

  /** The staged swap: the one way [[rewriteVia]] and [[replacePartitions]]
    * (merge, delete, grain evolution) replace a table's rows. Plain parquet
    * under a Hive-style catalog cannot commit a drop+write atomically —
    * that is what the paper's Iceberg commits buy — so the swap runs in
    * steps, each leaving a state [[recover]] can finish or undo:
    *
    *  1. written — the replacement lands in [[swapTmp]], plus an empty
    *     partition for each key to drop that has no rows. saveAsTable
    *     commits the catalog entry only after the data, so a crash
    *     mid-write leaves a catalog-unknown directory (cleared by
    *     [[dropStaleLocation]]), never a table;
    *  2. stamped — one ALTER sets the manifest and the target's user
    *     TBLPROPERTIES on the tmp. This is the commit point: before it the
    *     target is untouched and recovery discards the tmp; from it on the
    *     tmp is the complete intended state, and once step 3 lands the
    *     only copy, so recovery finishes the swap;
    *  3. dropped — the whole target, or every partition the tmp lists
    *     (metadata DDL via [[dropPartitions]]);
    *  4. appended — the tmp's rows land in the target and the user
    *     properties are re-applied (saveAsTable recreates a table without
    *     them, which would erase generation stamps and bucket moduli that
    *     readers treat as hard contracts). The tmp is dropped last.
    *
    * Steps 3-4 re-run from the tmp alone, so a recovery that itself
    * crashes just runs again. Every entry point calls [[recover]] before
    * it plans over the table: a retry that read a half-swapped target
    * would recompute from partial data and overwrite the only full copy.
    */
  private def stagedSwap(spark: SparkSession, db: String, table: String,
                         scope: String,
                         reshape: DataFrame => DataFrame = identity)
                        (writeTmp: String => Unit): Unit =
    graft.plans.TenantIsolationRule.withMaintenanceBypass(spark) {
      val tmp = swapTmp(table)
      // entry points recover first, so a tmp here means a concurrent swap
      // of the same table or a caller that skipped recovery — overwriting
      // it could destroy the only copy of a crashed swap's dropped rows
      require(!spark.catalog.tableExists(s"$db.$tmp"),
        s"refusing to overwrite surviving `$db`.`$tmp`: a crashed swap " +
          "left it holding the only copy of what it dropped (run " +
          "Warehouse.recover first), or a concurrent rewrite of the same " +
          "table is in flight")
      dropStaleLocation(spark, db, tmp)
      writeTmp(s"`$db`.`$tmp`")
      landed("written")
      setProps(spark, s"`$db`.`$tmp`",
        userProps(tableMeta(spark, db, table)) + (ManifestProp -> scope))
      landed("stamped")
      finishSwap(spark, db, table, reshape)
    }

  /** Steps 3-4 of the [[stagedSwap]], read from the stamped tmp alone —
    * the target may be partial or missing.
    */
  private def finishSwap(spark: SparkSession, db: String, table: String,
                         reshape: DataFrame => DataFrame = identity): Unit = {
    import org.apache.spark.sql.functions.col
    val fq = s"`$db`.`$table`"
    val tmp = s"`$db`.`${swapTmp(table)}`"
    val meta = tableMeta(spark, db, swapTmp(table))
    meta.properties(ManifestProp) match {
      case WholeTable =>
        spark.sql(s"DROP TABLE IF EXISTS $fq")
        dropStaleLocation(spark, db, table)
        landed("dropped")
        writeWithLayout(reshape(spark.table(tmp)), meta, fq)
      case Partitions =>
        val pcols = meta.partitionColumnNames
        dropPartitions(spark, db, table, pcols,
          spark.sessionState.catalog.listPartitions(meta.identifier)
            .map(p => pcols.map(p.spec)))
        landed("dropped")
        spark.table(tmp).select(spark.table(fq).columns.map(col).toIndexedSeq: _*)
          .write.mode(SaveMode.Append).insertInto(fq)
      case other => throw new IllegalStateException(
        s"unreadable swap manifest '$other' on $tmp")
    }
    landed("appended")
    setProps(spark, fq, userProps(meta))
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    // the drop deleted files under the table location; a cached relation
    // or file index from before would keep serving the deleted paths
    // (FAILED_READ_FILE on the next scan) — invalidate
    spark.catalog.refreshTable(fq)
  }

  /** Finish or discard a crashed [[stagedSwap]] of `db.table`. A stamped
    * tmp is finished; an unstamped one is dropped, since the target was
    * never touched and the next run restages from it. Every entry point
    * that plans over a table calls this first. Idempotent; true when a
    * surviving tmp was handled.
    */
  def recover(spark: SparkSession, db: String, table: String): Boolean =
    graft.plans.TenantIsolationRule.withMaintenanceBypass(spark) {
      // expression-shaped, no early `return`: a non-local return from this
      // closure would ride NonLocalReturnControl through the bypass wrapper
      val tmp = swapTmp(table)
      spark.catalog.tableExists(s"$db.$tmp") && {
        val stamped = tableMeta(spark, db, tmp).properties.contains(ManifestProp)
        System.err.println(s"[warehouse] surviving `$db`.`$tmp` " + (
          if (stamped) "is stamped: finishing the crashed swap"
          else "is unstamped: the target was never touched, discarding it"))
        if (stamped) finishSwap(spark, db, table)
        else spark.sql(s"DROP TABLE IF EXISTS `$db`.`$tmp`")
        true
      }
    }

  /** Drop partitions of `db.table` by metadata DDL, 100 specs per
    * statement; absent ones are skipped. Each of `values` lines up with
    * `pcols`. The one place a partition drop is issued: the staged swap
    * and a backfill's declared range.
    */
  private[graft] def dropPartitions(spark: SparkSession, db: String,
                                    table: String, pcols: Seq[String],
                                    values: Seq[Seq[Any]]): Unit =
    partitionSpecs(pcols, values).grouped(100).foreach(chunk =>
      spark.sql(s"ALTER TABLE `$db`.`$table` DROP IF EXISTS " +
        chunk.mkString(", ")))

  private def partitionSpecs(pcols: Seq[String],
                             values: Seq[Seq[Any]]): Seq[String] =
    values.map(vs => pcols.zip(vs).map { case (c, v) =>
      s"`$c`='${v.toString.replace("'", "''")}'"
    }.mkString("PARTITION (", ", ", ")"))

  private def tableMeta(spark: SparkSession, db: String, table: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))

  /** A table's user TBLPROPERTIES: what a swap carries across. */
  private def userProps(meta: org.apache.spark.sql.catalyst.catalog.CatalogTable)
      : Map[String, String] =
    meta.properties.filterNot { case (k, _) =>
      k.startsWith("spark.") || k == ManifestProp }

  /** Set TBLPROPERTIES in one ALTER (none when `props` is empty). */
  private def setProps(spark: SparkSession, fqTable: String,
                             props: Map[String, String]): Unit =
    if (props.nonEmpty)
      spark.sql(s"ALTER TABLE $fqTable SET TBLPROPERTIES (" +
        props.map { case (k, v) =>
          s"'${k.replace("'", "''")}' = '${v.replace("'", "''")}'"
        }.mkString(", ") + ")")

  /** Layout-preserving table write (partition + bucket spec from `meta`). */
  private def writeWithLayout(df: DataFrame,
                              meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
                              target: String): Unit = {
    var w = df.write.mode(SaveMode.Overwrite)
      .option("overwriteSchema", "true").format("parquet")
    if (meta.partitionColumnNames.nonEmpty)
      w = w.partitionBy(meta.partitionColumnNames: _*)
    meta.bucketSpec.foreach { bs =>
      w = w.bucketBy(bs.numBuckets,
        bs.bucketColumnNames.head, bs.bucketColumnNames.tail: _*)
      if (bs.sortColumnNames.nonEmpty)
        w = w.sortBy(bs.sortColumnNames.head, bs.sortColumnNames.tail: _*)
    }
    w.saveAsTable(target)
  }

  /** Keyed latest-wins upsert (MERGE semantics without update-in-place):
    * batch rows replace existing rows on key when newer by `versionCol`
    * (batch wins version ties — the replay/idempotency contract), unseen
    * keys insert. Schema drift fails loudly (same contract as append).
    *
    * Write amplification is PARTITION-SCOPED: on a partitioned target the
    * merge rewrites ONLY the partitions the batch touches
    * ([[mergePartitionScoped]] — the Iceberg/Delta MERGE shape on plain
    * parquet); a 1,000-row CDC batch against a 100 TB table costs a few
    * partitions, not the table. Unpartitioned tables fall back to the full
    * checkpointed temp-swap rewrite ([[rewriteVia]]) — correct at any
    * scale but linear in table size per batch, so a high-frequency CDC
    * target should be partitioned.
    *
    * Determinism: the batch is first resolved per key ([[resolveBatch]] —
    * intra-batch (key, version) ties pick a content-hash winner, not an
    * arbitrary partition-order one), then ONE window over
    * union(current, batch) picks the survivor. No per-row point updates,
    * no live-file rewrite hazard (both paths stage through the swap tmp).
    */
  def mergeUpsert(spark: SparkSession, batch: DataFrame, db: String,
                  table: String, keys: Seq[String],
                  versionCol: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit, row_number}
    require(keys.nonEmpty, "mergeUpsert needs at least one key column")
    // at-least-once retry guard: recover BEFORE any plan (or schema
    // check) reads the target ([[stagedSwap]])
    recover(spark, db, table)
    requireSameColumns(spark, batch, db, table)
    val resolved = resolveBatch(batch, keys, versionCol)
    val pcols = tableMeta(spark, db, table).partitionColumnNames
    if (pcols.nonEmpty)
      mergePartitionScoped(spark, resolved, db, table, keys, versionCol, pcols)
    else {
      val w = mergeWindow(spark.table(s"`$db`.`$table`").columns, keys, versionCol)
      rewriteVia(spark, db, table)(current =>
        current.withColumn("__is_batch", lit(0))
          .unionByName(resolved.withColumn("__is_batch", lit(1)))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__is_batch", "__rn"))
    }
  }

  /** Deterministic intra-batch resolution: one row per key. Latest version
    * wins; a (key, version) tie inside ONE batch — which the documented
    * latest-wins/replay contract doesn't order — resolves by content hash
    * (xxhash64 over every column) so the winner is a function of the
    * DATA, never of partition layout or task scheduling. Equal-content
    * duplicates collapse to the same row either way.
    */
  private def resolveBatch(batch: DataFrame, keys: Seq[String],
                           versionCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, row_number, xxhash64}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc,
        xxhash64(batch.columns.map(col).toIndexedSeq: _*).asc)
    batch.withColumn("__bn", row_number().over(w))
      .filter(col("__bn") === 1).drop("__bn")
  }

  /** Survivor window for union(current, batch): newest version first,
    * batch beats current on version ties (replay idempotency), and a
    * content-hash tail keeps even a degenerate pre-existing duplicate-key
    * table deterministic.
    */
  private def mergeWindow(cols: Seq[String], keys: Seq[String],
                          versionCol: String) = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col("__is_batch").desc,
        xxhash64(cols.map(col).toIndexedSeq: _*).asc)
  }

  /** Partition-scoped merge: rewrite ONLY the partitions the batch
    * touches.
    *
    *  1. Affected partitions = the batch's distinct partition values (the
    *     only driver collect — bounded by partitions-touched-per-batch,
    *     never by table or batch size).
    *  2. Current rows of those partitions come from a plan-time pruning
    *     predicate (literal IN over the affected values — the scan's
    *     PartitionFilters; untouched partitions are never READ, let alone
    *     rewritten).
    *  3. One latest-wins window over union(current slice, batch) replaces
    *     the affected partitions through the [[stagedSwap]] (never
    *     scan-and-overwrite the same files); the merged slice has rows in
    *     every affected partition, so the tmp's own partitions are exactly
    *     the set to drop.
    *
    * CONTRACT — partition assignment must be key-stable: a key whose
    * partition value CHANGES between batches would leave its old row
    * behind in an untouched partition (this path deliberately never
    * scans those). That is the standard partition-scoped-merge contract
    * (partition by an immutable derivation of the key/creation time, not
    * by mutable state). NULL partition values are rejected loudly: they
    * land in the Hive default partition, which DROP PARTITION cannot
    * address ranged-ly (same exclusion as the backfill path).
    */
  private def mergePartitionScoped(spark: SparkSession, batch: DataFrame,
                                   db: String, table: String,
                                   keys: Seq[String], versionCol: String,
                                   pcols: Seq[String]): Unit =
    graft.plans.TenantIsolationRule.withMaintenanceBypass(spark) {
      import org.apache.spark.sql.functions.{col, lit, row_number}
      val fq = s"`$db`.`$table`"
      val affected = batch.select(pcols.map(col).toIndexedSeq: _*)
        .distinct().collect()
      if (affected.nonEmpty) { // no early return inside the bypass closure
        require(affected.forall(r => pcols.indices.forall(!r.isNullAt(_))),
          s"mergeUpsert on partitioned $db.$table: batch has NULL partition " +
            s"values in (${pcols.mkString(", ")}) — undatable rows cannot be " +
            "merge-scoped (same contract as partitioned appends)")
        val current = spark.table(fq).filter(pruneTo(pcols, affected))
        val w = mergeWindow(spark.table(fq).columns, keys, versionCol)
        val merged = current.withColumn("__is_batch", lit(0))
          .unionByName(batch.withColumn("__is_batch", lit(1)))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__is_batch", "__rn")
        replacePartitions(spark, db, table, pcols, merged)
      }
    }

  /** Plan-time pruning predicate over literal partition values. */
  private def pruneTo(pcols: Seq[String],
                      affected: Array[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.functions.{col, lit}
    affected.map { r =>
      pcols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
  }

  /** Small-file compaction: rewrite a flat managed table into at most
    * `numFiles` files, and a partitioned one into one file per partition
    * directory (rows hash on the partition columns, so each directory's
    * rows meet in one of the `numFiles` tasks); a bucketed table keeps one
    * file per bucket on top of that. The repartition applies on
    * BOTH writes — rereading the tmp would otherwise re-split by
    * maxPartitionBytes and undo the compaction. Streaming appends and
    * per-batch snapshot loads accrete small files; periodic compaction
    * keeps scan task counts and footer overhead sane at warehouse scale.
    */
  def compact(spark: SparkSession, db: String, table: String,
              numFiles: Int): Unit = {
    // before the layout read: a crashed swap may have dropped the target
    recover(spark, db, table)
    val pcols = tableMeta(spark, db, table).partitionColumnNames
    def shrink(df: DataFrame): DataFrame =
      if (pcols.nonEmpty)
        df.repartition(numFiles, pcols.map(org.apache.spark.sql.functions.col): _*)
      else df.repartition(numFiles)
    rewriteVia(spark, db, table)(identity, shrink)
  }

  /** Data-file count of a managed table — the small-file health metric
    * the scheduled compaction trigger reads
    * ([[graft.pipeline.ScheduleRunner.compactionEntry]]). One file-index
    * listing; no data scan.
    */
  def fileCount(spark: SparkSession, db: String, table: String): Int =
    graft.plans.TenantIsolationRule.withMaintenanceBypass(spark) {
      spark.table(s"`$db`.`$table`").inputFiles.length
    }

  /** The data-file count [[compact]]`(numFiles)` can leave — the floor
    * the compaction trigger compares against, since a partitioned table
    * never drops below one file per partition directory, nor a bucketed
    * one below one file per bucket per task. One file-index listing for a
    * partitioned table; none for a flat one.
    */
  private[graft] def compactedFileCount(spark: SparkSession, db: String,
                                        table: String, numFiles: Int): Int = {
    val meta = tableMeta(spark, db, table)
    meta.bucketSpec.fold(1)(_.numBuckets) * (
      if (meta.partitionColumnNames.isEmpty) numFiles
      else graft.plans.TenantIsolationRule.withMaintenanceBypass(spark) {
        spark.table(s"`$db`.`$table`").inputFiles
          .map(f => new org.apache.hadoop.fs.Path(f).getParent.toString)
          .distinct.length
      })
  }

  /** Table + column statistics for the cost-based optimizer — accurate
    * broadcast decisions and join reordering need them (AQE covers runtime
    * sizes; CBO needs these at plan time).
    */
  def analyze(spark: SparkSession, db: String, table: String,
              columns: Seq[String] = Seq.empty): Unit = {
    spark.sql(s"ANALYZE TABLE `$db`.`$table` COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE `$db`.`$table` COMPUTE STATISTICS " +
        s"FOR COLUMNS ${columns.map(c => s"`$c`").mkString(", ")}")
  }

  /** C18 — DELETE WHERE on a plain-parquet managed table: anti-filter
    * rewrite with a checkpoint through a temp table so we never scan-and-
    * overwrite the same files in one job (SURVEY.md §7.5). Runs entirely on
    * executors — no driver-side row handling.
    *
    * Write amplification is PARTITION-SCOPED like [[mergeUpsert]]: on a
    * partitioned target, one column-pruned scan finds the partitions that
    * actually CONTAIN matching rows, and only those swap in their
    * filtered slice through the [[stagedSwap]]. A partition the delete
    * empties ends dropped, which dynamic overwrite could not do. A delete
    * whose predicate touches nothing rewrites nothing. Unpartitioned
    * tables keep the full-table swap.
    */
  def deleteWhere(spark: SparkSession, db: String, table: String,
                  predicate: Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    // retry guard — same contract as mergeUpsert
    recover(spark, db, table)
    // SQL DELETE keeps rows whose predicate is NULL — !pred alone would
    // drop them (NULL is not true), inverting that contract.
    val matches = coalesce(predicate, lit(false))
    val pcols = tableMeta(spark, db, table).partitionColumnNames
    if (pcols.isEmpty)
      rewriteVia(spark, db, table)(_.filter(!matches))
    else graft.plans.TenantIsolationRule.withMaintenanceBypass(spark) {
      import org.apache.spark.sql.functions.col
      val fq = s"`$db`.`$table`"
      // one column-pruned scan: which partitions hold matching rows?
      // (driver collect bounded by partition count — metadata scale)
      val affected = spark.table(fq).filter(matches)
        .select(pcols.map(col).toIndexedSeq: _*).distinct().collect()
      if (affected.nonEmpty) { // no early return inside the bypass closure
        require(affected.forall(r => pcols.indices.forall(!r.isNullAt(_))),
          s"deleteWhere on partitioned $db.$table: matching rows carry NULL " +
            s"partition values in (${pcols.mkString(", ")}) — the Hive " +
            "default partition cannot be replaced by partition spec")
        val slice = spark.table(fq).filter(pruneTo(pcols, affected))
        replacePartitions(spark, db, table, pcols, slice.filter(!matches),
          alsoDrop = affected.toSeq.map(r => pcols.indices.map(r.get)))
      }
    }
  }

  /** A15 — deterministic preview (reference samples 5 unordered rows,
    * trino.py:55-71; we order by the given key so it's reproducible).
    */
  def preview(spark: SparkSession, db: String, table: String,
              orderBy: Seq[String], n: Int = 5): DataFrame = {
    val t = spark.table(s"`$db`.`$table`")
    t.orderBy(orderBy.map(org.apache.spark.sql.functions.col): _*).limit(n)
  }

  private def requireSameColumns(spark: SparkSession, df: DataFrame,
                                 db: String, table: String): Unit = {
    // names AND types: positional insertInto would otherwise cast a
    // type-drifted column silently (NULL-corrupting non-castable values)
    val existing = spark.table(s"`$db`.`$table`").schema.fields
      .map(f => (f.name, f.dataType)).toSeq
    val incoming = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(existing == incoming,
      s"schema drift on $db.$table: table has $existing, batch has $incoming " +
        "(use LoadMode.FullRefresh to absorb drift)")
  }
}
