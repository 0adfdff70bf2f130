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

  /** Read a frozen layout property (bucket modulus, append fence, …) off
    * a table, refusing LOUDLY when absent — the shared contract of every
    * stored-index family: a layout parameter the builder froze must never
    * be guessed.
    */
  def readTablePropLong(spark: SparkSession, db: String, table: String,
                        prop: String, hint: String): Long = {
    val rows = spark.sql(s"SHOW TBLPROPERTIES `$db`.`$table`")
      .filter(org.apache.spark.sql.functions.col("key") === prop)
      .select("value").collect()
    require(rows.nonEmpty, s"$prop missing on $db.$table — $hint")
    rows(0).getString(0).toLong
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

  /** Rewrite a managed table through a temp-table checkpoint, preserving
    * its partition and bucket layout (read from catalog metadata). The
    * shared core of compaction and delete-rewrite: write transform(read)
    * to `__rw_tmp` with the original layout, overwrite the target from it,
    * drop the tmp. Reads run under the tenant-isolation maintenance bypass
    * — table maintenance is tenant-agnostic by design (a tenant-scoped
    * session must not silently drop other tenants' rows).
    */
  def rewriteVia(spark: SparkSession, db: String, table: String)
                (transform: DataFrame => DataFrame,
                 reshape: DataFrame => DataFrame = identity): Unit =
    graft.plans.TenantIsolationRule.withMaintenanceBypass(spark) {
      recoverRewrite(spark, db, table)
      val fq = s"`$db`.`$table`"
      val tmp = s"`$db`.`${table}__rw_tmp`"
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
      def write(df: DataFrame, target: String): Unit =
        writeWithLayout(reshape(df), meta, target)
      write(transform(spark.table(fq)), tmp)
      // saveAsTable(Overwrite) recreates tables WITHOUT their
      // TBLPROPERTIES — silently erasing frozen layout/generation stamps
      // (the DeltaModelIngest generation, the index bucket moduli), which
      // downstream readers treat as hard contracts. Stamp the pre-rewrite
      // user properties onto the TMP FIRST: from here on they ride the
      // surviving tmp through any crash, so recoverRewrite can restore
      // them with the data (a tmp-without-props crash window would lose
      // them permanently — the target overwrite below drops the only
      // other copy).
      val userProps = meta.properties.filterNot(_._1.startsWith("spark."))
      applyUserProps(spark, tmp, userProps)
      write(spark.table(tmp), fq)
      applyUserProps(spark, fq, userProps)
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
    }

  /** Re-apply preserved user TBLPROPERTIES after a saveAsTable(Overwrite)
    * recreated a table bare — shared by [[rewriteVia]] (both the tmp
    * stamp and the target re-apply) and [[recoverRewrite]].
    */
  private def applyUserProps(spark: SparkSession, fqTable: String,
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

  /** Crash recovery for [[rewriteVia]]'s full-table swap: a surviving
    * `{table}__rw_tmp` IN THE CATALOG means a previous rewrite died after
    * its tmp was completely written (saveAsTable commits the catalog entry
    * only after the data lands — a crash mid-tmp-write leaves a
    * catalog-unknown directory, cleared by [[dropStaleLocation]], never a
    * table) but before the target swap finished. The tmp then holds the
    * complete intended state and may be the ONLY copy (the target overwrite
    * drops the old table first). Recovery completes the swap from the tmp —
    * layout read from the tmp's own metadata, because the target may be
    * mid-overwrite or missing — and only then drops it. Without this, a
    * retry (scheduler re-run, streaming micro-batch replay) would read the
    * partial target and OVERWRITE the tmp, permanently losing rows.
    * Idempotent; returns true when a recovery was performed.
    */
  def recoverRewrite(spark: SparkSession, db: String, table: String): Boolean =
    graft.plans.TenantIsolationRule.withMaintenanceBypass(spark) {
      // expression-shaped, no early `return`: a non-local return from this
      // closure would ride NonLocalReturnControl through the bypass wrapper
      // and silently break if the wrapper ever gained a catch-Throwable
      val tmpName = s"${table}__rw_tmp"
      if (!spark.catalog.tableExists(s"$db.$tmpName")) false
      else {
        System.err.println(s"[warehouse] surviving `$db`.`$tmpName` found — " +
          "completing the crashed rewrite's swap before proceeding")
        val meta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tmpName, Some(db)))
        // user TBLPROPERTIES travel on the tmp (rewriteVia stamps them
        // right after the tmp write); a tmp from the narrow pre-stamp
        // window carries none, but the TARGET is then still the intact
        // pre-rewrite table — read its props as the fallback before the
        // rebuild drops them. Without the re-apply, crash recovery
        // permanently erased generation stamps and bucket moduli.
        val tmpProps = meta.properties.filterNot(_._1.startsWith("spark."))
        val targetProps =
          if (spark.catalog.tableExists(s"$db.$table"))
            spark.sessionState.catalog.getTableMetadata(
                org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
              .properties.filterNot(_._1.startsWith("spark."))
          else Map.empty[String, String]
        if (!spark.catalog.tableExists(s"$db.$table"))
          dropStaleLocation(spark, db, table)
        writeWithLayout(spark.table(s"`$db`.`$tmpName`"), meta, s"`$db`.`$table`")
        applyUserProps(spark, s"`$db`.`$table`", targetProps ++ tmpProps)
        spark.sql(s"DROP TABLE IF EXISTS `$db`.`$tmpName`")
        true
      }
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
    * no live-file rewrite hazard (both paths checkpoint through a temp
    * table).
    */
  def mergeUpsert(spark: SparkSession, batch: DataFrame, db: String,
                  table: String, keys: Seq[String],
                  versionCol: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit, row_number}
    require(keys.nonEmpty, "mergeUpsert needs at least one key column")
    // Retry-after-crash guard (at-least-once safety): a surviving rewrite
    // tmp means the target is partial and the tmp holds the only complete
    // copy — recover BEFORE any plan (or schema check) reads the target,
    // or this retry would recompute from partial data and overwrite the tmp.
    recoverReplacement(spark, db, table)
    recoverRewrite(spark, db, table)
    recoverEvolve(spark, db, table)
    requireSameColumns(spark, batch, db, table)
    val resolved = resolveBatch(batch, keys, versionCol)
    val pcols = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
      .partitionColumnNames
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
    *  3. One latest-wins window over union(current slice, batch), written
    *     to a temp table (checkpoint — never scan-and-overwrite the same
    *     files), then `ALTER TABLE … DROP PARTITION` (metadata-only,
    *     chunked) + append — the same declared-set replacement mechanics
    *     as [[graft.pipeline.PartitionedMaterializer.backfill]].
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
        replacePartitions(spark, db, table, pcols, affected, merged)
      }
    }

  /** Declared-set partition replacement (the Backfill mechanics shared by
    * the partition-scoped merge and delete): write `replacement` to a temp
    * table (checkpoint — never scan-and-overwrite the same files), drop
    * exactly the `affected` partitions by metadata DDL (chunked), append
    * the replacement, drop the temp. A partition the replacement has no
    * rows for stays DROPPED — which is why this beats dynamic partition
    * overwrite for delete (an emptied partition must actually disappear).
    *
    * CRASH WINDOW: plain parquet + a Hive-style catalog cannot make
    * drop+append atomic (that is what table formats with snapshot commits
    * buy). The exposure is bounded and RECOVERABLE by construction: the
    * temp table holds the complete replacement slice and is dropped LAST,
    * so a crash anywhere inside the window leaves either the old state +
    * tmp (before the drop) or a partial target + tmp (between drop and
    * append-complete) — [[recoverReplacement]] finishes the swap from the
    * surviving tmp in both cases. Only a successful append drops the tmp.
    * Every partition-rewriting entry point ([[mergeUpsert]], [[deleteWhere]])
    * auto-recovers at entry, so an at-least-once retry is safe; this method
    * itself refuses to run while a tmp survives (see the require below).
    */
  private def replacePartitions(spark: SparkSession, db: String,
                                table: String, pcols: Seq[String],
                                affected: Array[org.apache.spark.sql.Row],
                                replacement: DataFrame): Unit = {
    val tmpName = s"${table}__rw_part_tmp"
    // Defense-in-depth: every entry point recovers a surviving tmp BEFORE
    // building its replacement plan, so reaching here with one still in the
    // catalog means either a concurrent rewrite of the same table (two runs
    // would clobber each other's tmp) or a caller that skipped recovery.
    // Overwriting would destroy the only copy of a crashed run's dropped
    // partitions — fail loudly instead.
    require(!spark.catalog.tableExists(s"$db.$tmpName"),
      s"refusing to overwrite surviving `$db`.`$tmpName`: a crashed " +
        "partition swap left it holding the only copy of its dropped " +
        "partitions (run Warehouse.recoverReplacement first), or a " +
        "concurrent rewrite of the same table is in flight")
    dropStaleLocation(spark, db, tmpName)
    replacement.write.mode(SaveMode.Overwrite).option("overwriteSchema", "true")
      .format("parquet").partitionBy(pcols: _*)
      .saveAsTable(s"`$db`.`$tmpName`")
    finishReplacement(spark, db, table, pcols, affected)
  }

  /** The drop+append tail of [[replacePartitions]] — also the whole of a
    * crash [[recoverReplacement]], which re-enters here with the
    * surviving tmp as its input. `tmpName` defaults to the merge/delete
    * tmp; the grain-evolution path passes its own ([[evolveTmpName]]).
    */
  private def finishReplacement(spark: SparkSession, db: String,
                                table: String, pcols: Seq[String],
                                affected: Array[org.apache.spark.sql.Row],
                                tmpName: String = null): Unit = {
    import org.apache.spark.sql.functions.col
    val fq = s"`$db`.`$table`"
    val tmp = s"`$db`.`${Option(tmpName).getOrElse(s"${table}__rw_part_tmp")}`"
    affected.grouped(100).foreach { chunk =>
      val specs = chunk.map { r =>
        pcols.zipWithIndex.map { case (c, i) =>
          s"`$c`='${r.get(i).toString.replace("'", "''")}'"
        }.mkString("PARTITION (", ", ", ")")
      }.mkString(", ")
      spark.sql(s"ALTER TABLE $fq DROP IF EXISTS $specs")
    }
    val cols = spark.table(fq).columns
    spark.table(tmp).select(cols.map(col).toIndexedSeq: _*)
      .write.mode(SaveMode.Append).insertInto(fq)
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    // DROP PARTITION deleted files under the table location; a cached
    // relation/file index from before the replacement would keep serving
    // the deleted paths (FAILED_READ_FILE on the next scan) — invalidate.
    spark.catalog.refreshTable(s"`$db`.`$table`")
  }

  /** Crash recovery for [[replacePartitions]]: when a merge/delete died
    * inside its drop+append window, `{table}__rw_part_tmp` survives with
    * the COMPLETE replacement slice. Recovery re-drops the affected
    * partitions (derived from the tmp's own distinct partition values —
    * the same set the crashed run computed), re-appends from the tmp, and
    * only then drops it. Idempotent: after a successful run (or a second
    * recovery) the tmp is gone and this is a no-op; a recovery that
    * itself crashes can simply re-run. Returns true when a recovery was
    * performed. Note the one case recovery cannot see: a delete whose
    * replacement slice is EMPTY for some affected partition drops that
    * partition and appends nothing — recovery re-drops only partitions
    * present in the tmp, so a fully-emptied partition that was already
    * dropped stays dropped (correct), and one not yet dropped is left
    * intact (the delete re-runs; deletes are idempotent by definition).
    */
  def recoverReplacement(spark: SparkSession, db: String,
                         table: String): Boolean =
    graft.plans.TenantIsolationRule.withMaintenanceBypass(spark) {
      import org.apache.spark.sql.functions.col
      val tmpName = s"${table}__rw_part_tmp"
      if (!spark.catalog.tableExists(s"$db.$tmpName")) false
      else {
        val pcols = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
          .partitionColumnNames
        val affected = spark.table(s"`$db`.`$tmpName`")
          .select(pcols.map(col).toIndexedSeq: _*).distinct().collect()
        if (affected.nonEmpty)
          finishReplacement(spark, db, table, pcols, affected)
        else spark.sql(s"DROP TABLE IF EXISTS `$db`.`$tmpName`")
        true
      }
    }

  /** Tmp-table name and manifest property of a partition-grain evolution
    * in flight ([[evolveReplacePartitions]]). A DISTINCT name from the
    * merge/delete tmp: an evolve replaces partitions whose keys are NOT
    * derivable from the replacement slice (the dropped old-grain keys
    * differ from the appended new-grain keys), so its recovery needs the
    * manifest and must never be confused with a plain partition swap.
    */
  private[graft] def evolveTmpName(table: String): String = s"${table}__evolve_tmp"
  private[graft] val EvolveManifestProp = "graft.evolve.drop_keys"

  /** Partition replacement where the DROPPED keys differ from the
    * appended ones — the grain-evolution write path. Sequence:
    *
    *  1. the replacement slice lands as `{table}__evolve_tmp`
    *     (saveAsTable commits the catalog entry only after the data —
    *     same completeness invariant as the merge tmp);
    *  2. the old-grain keys to drop are recorded ON the tmp itself as a
    *     table property (the recovery manifest — recovery must know what
    *     to drop even though the tmp's own partition values are the NEW
    *     keys);
    *  3. drop manifest keys + the tmp's own keys (re-runs/partial appends),
    *     append, drop the tmp.
    *
    * Crash windows: before step 1 commits — no catalog tmp, table
    * untouched (stale dir cleared next run). Between 1 and 2 — tmp exists
    * WITHOUT a manifest: nothing was dropped yet, so [[recoverEvolve]]
    * discards the tmp and the evolve simply re-runs. After 2 —
    * [[recoverEvolve]] replays step 3 idempotently from the manifest +
    * tmp. Single partition column only (grain keys are scalar strings).
    */
  private[graft] def evolveReplacePartitions(spark: SparkSession, db: String,
                                             table: String, partCol: String,
                                             dropKeys: Seq[String],
                                             replacement: DataFrame): Unit = {
    val tmpName = evolveTmpName(table)
    require(!spark.catalog.tableExists(s"$db.$tmpName"),
      s"refusing to overwrite surviving `$db`.`$tmpName`: a crashed grain " +
        "evolution may have dropped partitions recoverable only from it " +
        "(run Warehouse.recoverEvolve first), or a concurrent evolve of " +
        "the same table is in flight")
    // the manifest rides a catalog property — bound its size loudly
    // instead of silently exceeding metastore limits (evolve decade-long
    // ranges in chunks)
    require(dropKeys.nonEmpty && dropKeys.mkString(",").length <= 60000,
      s"evolve drop-key manifest too large (${dropKeys.size} keys) — " +
        "evolve the range in smaller chunks")
    dropStaleLocation(spark, db, tmpName)
    replacement.write.mode(SaveMode.Overwrite).option("overwriteSchema", "true")
      .format("parquet").partitionBy(partCol)
      .saveAsTable(s"`$db`.`$tmpName`")
    spark.sql(s"ALTER TABLE `$db`.`$tmpName` SET TBLPROPERTIES(" +
      s"'$EvolveManifestProp'='${dropKeys.mkString(",").replace("'", "''")}')")
    finishEvolve(spark, db, table, partCol, dropKeys)
  }

  /** The drop+append tail of [[evolveReplacePartitions]]: affected =
    * manifest keys ∪ the tmp's own keys (a partial append's new-grain
    * partitions must re-drop before the re-append, or recovery would
    * double them).
    */
  private def finishEvolve(spark: SparkSession, db: String, table: String,
                           partCol: String, dropKeys: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val tmpName = evolveTmpName(table)
    val tmpKeys = spark.table(s"`$db`.`$tmpName`")
      .select(col(partCol)).distinct().collect().map(_.get(0).toString)
    val affected = (dropKeys ++ tmpKeys).distinct
      .map(k => org.apache.spark.sql.Row(k)).toArray
    finishReplacement(spark, db, table, Seq(partCol), affected, tmpName)
  }

  /** Crash recovery for a partition-grain evolution. A surviving
    * `{table}__evolve_tmp` WITH its manifest property means drops may have
    * begun and the tmp holds the complete new-grain slice — replay the
    * drop+append from the manifest (idempotent). WITHOUT the manifest the
    * crash hit before any drop: the table is intact and the tmp is
    * incomplete state — discard it and let the evolve re-run. Returns true
    * when anything was done.
    */
  def recoverEvolve(spark: SparkSession, db: String, table: String): Boolean =
    graft.plans.TenantIsolationRule.withMaintenanceBypass(spark) {
      val tmpName = evolveTmpName(table)
      if (!spark.catalog.tableExists(s"$db.$tmpName")) false
      else {
        val meta = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tmpName, Some(db)))
        meta.properties.get(EvolveManifestProp) match {
          case Some(manifest) =>
            System.err.println(s"[warehouse] surviving `$db`.`$tmpName` with " +
              "manifest — completing the crashed grain evolution")
            val pcols = meta.partitionColumnNames
            finishEvolve(spark, db, table, pcols.head,
              manifest.split(',').toSeq.filter(_.nonEmpty))
          case None =>
            System.err.println(s"[warehouse] surviving `$db`.`$tmpName` has " +
              "no manifest — the evolve crashed before any partition drop; " +
              "discarding the incomplete tmp (re-run the evolve)")
            spark.sql(s"DROP TABLE IF EXISTS `$db`.`$tmpName`")
        }
        true
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

  /** Small-file compaction: rewrite a managed table into `numFiles` output
    * files per partition. The repartition applies on BOTH writes —
    * rereading the tmp would otherwise re-split by maxPartitionBytes and
    * undo the compaction. Streaming appends and per-batch snapshot loads
    * accrete small files; periodic compaction keeps scan task counts and
    * footer overhead sane at warehouse scale.
    */
  def compact(spark: SparkSession, db: String, table: String,
              numFiles: Int): Unit = {
    val pcols = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
      .partitionColumnNames
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
    * actually CONTAIN matching rows, and only those are rewritten (drop +
    * append of the filtered slice — a fully-emptied partition stays
    * dropped, which dynamic overwrite could not do). A delete whose
    * predicate touches nothing rewrites nothing. Unpartitioned tables
    * keep the full temp-swap rewrite.
    */
  def deleteWhere(spark: SparkSession, db: String, table: String,
                  predicate: Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    // Retry-after-crash guard — same contract as mergeUpsert: make the
    // target whole from any surviving rewrite tmp before planning over it.
    recoverReplacement(spark, db, table)
    recoverRewrite(spark, db, table)
    recoverEvolve(spark, db, table)
    // SQL DELETE keeps rows whose predicate is NULL — !pred alone would
    // drop them (NULL is not true), inverting that contract.
    val matches = coalesce(predicate, lit(false))
    val pcols = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
      .partitionColumnNames
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
        replacePartitions(spark, db, table, pcols, affected,
          slice.filter(!matches))
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
