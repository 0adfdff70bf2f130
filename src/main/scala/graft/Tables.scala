package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table access for the query registry (TESTDATA.md).
  *
  * Every query receives `(spark, sfDir)` and resolves its inputs here, so the
  * scan is always a plain parquet read that Catalyst can prune/push into
  * (column pruning + predicate pushdown reach the parquet scan — the same
  * pushdown posture the reference hand-builds into its extraction SQL,
  * mozart_etl/lib/extract/connectors/base.py:56-79).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // every registry query reads through here, so its session carries the
    // engine's optimizer rules (graft.plans.rules)
    graft.plans.install(spark)
    // events.ts: the engine-wide contract is a ns-epoch Long — exact
    // ordering/arithmetic bit-identical to the DuckDB oracle's
    // epoch_ns(ts). The fixture has shipped as both TIMESTAMP(NANOS)
    // (read natively as Long under nanosAsLong) and TIMESTAMP(MICROS)
    // (read as TIMESTAMP_NTZ, normalized to ns here — µs→ns is exact, and
    // unix_micros on the UTC-session cast is the instant itself). The
    // guarded conf set covers caller sessions lacking the nanos flag — a
    // table accessor must not unconditionally mutate session state.
    if (name == "events" &&
        !spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" &&
        df.schema.fields.exists(f => f.name == "ts" &&
          (f.dataType == org.apache.spark.sql.types.TimestampType ||
           f.dataType == org.apache.spark.sql.types.TimestampNTZType))) {
      // The µs→ns derivation below casts through the SESSION timezone; a
      // non-UTC session would silently shift every ts by the zone offset
      // versus the DuckDB oracle's epoch_ns. Fail loudly instead — the
      // engine-wide contract (Verify/Bench/every spec session) is UTC.
      val tz = spark.conf.get("spark.sql.session.timeZone")
      require(java.time.ZoneId.of(tz).normalized == java.time.ZoneOffset.UTC,
        s"events.ts ns normalization requires a UTC session " +
          s"(spark.sql.session.timeZone=$tz) — set it to UTC before " +
          "reading events, or land events as int64 ns at write time")
      // ts becomes a COMPUTED column — the installed EpochNsTranspose
      // keeps watermark predicates reaching the parquet scan's PushedFilters
      df.withColumn("ts",
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts").cast("timestamp")) *
          org.apache.spark.sql.functions.lit(1000L))
    } else df
  }

  /** Register fixture tables as temp views so `spark.sql` queries (the
    * SQL-model path, SURVEY.md §3.3) can name them like the DuckDB oracle
    * does. Idempotent; callers pass only the tables they read so unused
    * files are never opened.
    */
  def registerViews(spark: SparkSession, sfDir: String,
                    names: Seq[String] = all): Unit =
    names.foreach(n => t(spark, sfDir, n).createOrReplaceTempView(n))
}
