package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.config.TenantConfig
import graft.extract.Extractor
import graft.model.{ModelDag, Renderer, SqlModel}
import graft.source.Source
import graft.store.{LoadMode, Warehouse}

/** One tenant's full input → staging → mart run (reference lifecycle,
  * SURVEY.md §3.2-3.3): extract each table spec through [[Extractor]] into
  * `{tid}_raw`, then execute the SQL-model DAG into `{tid}`.
  *
  * Isolation model: the reference forks one OS process per tenant
  * (workspace.yaml:2-9); here isolation is per-database on a shared
  * SparkSession — the scale path on a real cluster is one `spark-submit`
  * per tenant with the same code.
  */
final class TenantPipeline(
    tenant: TenantConfig,
    source: Source,
    models: Seq[SqlModel],
    extraVars: Map[String, String] = Map.empty,
    env: Environment = Environment.Prod) {

  require(TenantPipeline.appendWithoutWatermark(tenant).isEmpty,
    TenantPipeline.appendWithoutWatermark(tenant).mkString("; "))

  /** Environment-scoped database names (environment_helpers.py:12-16):
    * Local runs land in `dev_{tid}` / `dev_{tid}_raw`, so the same tenant
    * can run in dev and prod against one warehouse without colliding.
    */
  private val rawDb: String = tenant.rawDatabase(env)
  private val martDb: String = tenant.database(env)

  /** dbt-style var context: tenant_id + tenant params (reference:
    * _tenant_factory.py:364 `{tenant_id, **tenant.params}`).
    */
  def varContext: Map[String, String] =
    Map("tenant_id" -> tenant.id) ++ tenant.params ++ extraVars

  def renderer: Renderer = new Renderer(
    vars = varContext,
    // declared source schemas get the same environment prefix as the
    // extract that landed them — a Local model must read the Local raw db
    resolveSource = (schema, table) => s"`${env.schemaFor(schema)}`.`$table`",
    resolveRef = name => {
      val m = models.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"unresolved ref('$name')"))
      s"`${modelSchema(m)}`.`${m.alias}`"
    })

  private def modelSchema(m: SqlModel): String = {
    // config(schema=var('tenant_id', ...)) — custom generate_schema_name uses
    // the var value verbatim, no target-schema prefix (reference:
    // macros/generate_schema_name.sql:1-7). The environment prefix applies
    // on top, so dev materializations of explicit schemas are isolated too.
    val base = m.config.get("schema") match {
      // the actual var(...) CALL syntax, not any name starting with the
      // substring "var" — a literal schema like "variant_marts" must land
      // where it says, not silently redirect to the tenant schema
      case Some(s) if s.matches("""var\s*\(.*""") => tenant.id
      case Some(s) if s.nonEmpty => s
      case _ => tenant.id
    }
    env.schemaFor(base)
  }

  /** Databases a run reads or writes: the environment-scoped raw and mart
    * databases, every model schema, and every schema a model reads through
    * `source()`. Runs whose sets are disjoint can run at the same time
    * ([[ScheduleRunner.forTenant]]). Reads count as much as writes: an
    * overwrite deletes the target's files before it commits, so a run
    * reading that table meanwhile can see it missing or partial. Models
    * read through `source()` and `ref()` only; a table named directly in a
    * model's SQL is not seen here.
    */
  def databases: Set[String] = Set(rawDb, martDb) ++ models.map(modelSchema) ++
    models.flatMap(_.sources).map { case (schema, _) => env.schemaFor(schema) }

  /** Stage 1 — extraction into `{tid}_raw` (reference asset body,
    * _tenant_factory.py:212-326). Returns each table's row count after the
    * load, taken from the load's own job rather than a re-read (the table
    * is re-read only when that count does not arrive,
    * [[Warehouse.countWritten]]).
    */
  def runExtract(spark: SparkSession, landingDir: Option[String] = None,
                 rowLimit: Option[Int] = None): Map[String, Long] = {
    Warehouse.ensureDatabase(spark, rawDb)
    tenant.tables.map { spec =>
      val mode = LoadMode.parse(spec.mode)
      // an append reports prior rows + rows written; the prior count comes
      // from the job that reads the watermark (the constructor guarantees
      // an append table its incremental column)
      val prior = mode match {
        case LoadMode.WatermarkAppend => spec.incrementalColumn.flatMap(c =>
          Warehouse.appendState(spark, rawDb, spec.name, c))
        case _ => None // reference never passes last_value (§2.A note)
      }
      val df = Extractor.extract(source.scan(spark, spec), spec, tenant,
        prior.flatMap(_.watermark), rowLimit)
      landingDir.foreach { dir =>
        Warehouse.writeLanding(df, s"$dir/${tenant.storagePrefix}/${spec.name}")
      }
      val rows = Warehouse.countWritten(df)(
        Warehouse.load(spark, _, rawDb, spec.name, mode))
        .map(prior.map(_.rows).getOrElse(0L) + _)
        .getOrElse(spark.table(s"`$rawDb`.`${spec.name}`").count())
      // qualified key: raw tables and model aliases may share a bare name,
      // and run() merges both maps — bare keys would clobber each other
      s"$rawDb.${spec.name}" -> rows
    }.toMap
  }

  /** Stage 2 — SQL-model DAG (reference: dbt build,
    * _tenant_factory.py:361-392). Each model: render → spark.sql → CTAS;
    * its row count is read from the CTAS job (or re-read, as in
    * [[runExtract]], when that count does not arrive).
    * Models within a DAG level share no ref edges and run concurrently
    * (`threads` ≈ dbt's profile threads, reference profiles.yml:14,26) —
    * Spark's scheduler interleaves the independent jobs on one session.
    */
  def runModels(spark: SparkSession, threads: Int = 4): Map[String, Long] = {
    Warehouse.ensureDatabase(spark, martDb)
    val r = renderer
    // every model of a level finishes before the level reports
    // (Parallel.runAll): a sibling still writing when a failure is thrown
    // would race a retry's DROP+CTAS on the same database
    ModelDag.levels(models).flatMap { level =>
      Parallel.runAllOrFail(threads, "model", level.map { m =>
        m.name -> (() => {
          val key = s"${modelSchema(m)}.${m.alias}"
          key -> Warehouse.countWritten(spark.sql(r.render(m)))(
            Warehouse.saveModel(_, modelSchema(m), m.alias))
            .getOrElse(spark.table(s"`${modelSchema(m)}`.`${m.alias}`").count())
        })
      })
    }.toMap
  }

  private def materializedTables: Seq[(String, String, Seq[String])] =
    tenant.tables.map(t => (rawDb, t.name, t.primaryKey)) ++
      models.map(m => (modelSchema(m), m.alias, Seq.empty[String]))

  /** Per-table materialization metadata — row count + a deterministic
    * preview, the reference's UI metadata surface
    * (_tenant_factory.py:317-326, 385-390) without the 5-arbitrary-rows
    * nondeterminism.
    */
  def report(spark: SparkSession, previewRows: Int = 5)
      : Map[String, (Long, Seq[String])] = {
    materializedTables.map { case (db, table, pk) =>
      val df = spark.table(s"`$db`.`$table`")
      // PK when declared, else ALL columns — a non-unique first column
      // alone would leave tied rows in arbitrary order
      val orderCols = if (pk.nonEmpty) pk else df.columns.toSeq
      val preview = Warehouse.preview(spark, db, table, orderCols, previewRows)
        .collect().map(_.toString).toSeq
      s"$db.$table" -> (df.count(), preview)
    }.toMap
  }

  /** Full per-materialization metadata in the reference's enriched shape
    * (_tenant_factory.py:317-326: num_rows / table / tenant +
    * _build_arrow_preview:69-80 column schema +
    * _build_trino_preview:83-98 markdown preview table), keyed by the
    * qualified table name. Deterministic: the preview is PK-ordered (or
    * all-columns-ordered) like [[report]].
    */
  def metadata(spark: SparkSession, previewRows: Int = 5,
               knownCounts: Map[String, Long] = Map.empty)
      : Map[String, TenantPipeline.Materialization] =
    materializedTables.map { case (db, table, pk) =>
      val df = spark.table(s"`$db`.`$table`")
      val orderCols = if (pk.nonEmpty) pk else df.columns.toSeq
      val preview = Warehouse.preview(spark, db, table, orderCols, previewRows)
      s"$db.$table" -> TenantPipeline.Materialization(
        table = s"$db.$table",
        tenant = tenant.id,
        // run() already counted every table it materialized — reuse those
        // counts instead of a second full-scan count job per table (keys
        // are the qualified db.table names run() emits)
        numRows = knownCounts.getOrElse(s"$db.$table", df.count()),
        columns = df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString),
        previewMarkdown = TenantPipeline.markdownTable(preview))
    }.toMap

  /** Asset key for a model — the reference's translator contract
    * (mozart_etl/lib/dbt/translator.py:31-47): strip the `{tid}__` prefix;
    * `mart_*` → `[tid, output, name]`, other models → `[tid, staging,
    * name]`, raw extracts → `[tid, input, table]`.
    */
  def assetKey(m: SqlModel): Seq[String] = {
    val clean = m.name.stripPrefix(s"${tenant.id}__")
    val layer = if (clean.startsWith("mart_")) "output" else "staging"
    Seq(tenant.id, layer, clean)
  }

  /** Asset lineage: every asset key → its upstream asset keys (ref() edges
    * to model keys, source() edges to input keys). The reference attaches
    * eager automation to these edges (translator.py:52-55) — here the DAG
    * levels of [[runModels]] ARE the eager propagation: a run materializes
    * each asset after all its upstreams in the same pass.
    */
  def lineage: Map[String, Seq[String]] = {
    def key(parts: Seq[String]): String = parts.mkString("/")
    val inputs = tenant.tables.map(spec =>
      key(Seq(tenant.id, "input", spec.name)) -> Seq.empty[String])
    val modelEdges = models.map { m =>
      val ups = m.refs.flatMap(r => models.find(_.name == r))
        .map(r => key(assetKey(r))) ++
        m.sources.map { case (_, tbl) => key(Seq(tenant.id, "input", tbl)) }
      key(assetKey(m)) -> ups
    }
    (inputs ++ modelEdges).toMap
  }

  def run(spark: SparkSession): Map[String, Long] =
    runExtract(spark) ++ runModels(spark)

  def runWithMetadata(spark: SparkSession)
      : Map[String, TenantPipeline.Materialization] =
    metadata(spark, knownCounts = run(spark))

  /** Render-only (no execution) — for tests and dry runs. */
  def renderAll: Map[String, String] = {
    val r = renderer
    ModelDag.topoSort(models).map(m => m.name -> r.render(m)).toMap
  }
}

object TenantPipeline {

  /** One finding per `mode: append` table that declares no
    * `incremental_column`. Such a table has no watermark, and
    * [[graft.extract.Extractor.watermark]] is then a no-op, so every fire
    * would append the tenant's whole slice again.
    */
  def appendWithoutWatermark(tenant: TenantConfig): Seq[String] =
    tenant.tables.filter(t => t.mode == "append" && t.incrementalColumn.isEmpty)
      .map(t => s"tenant '${tenant.id}' table '${t.name}': mode 'append' " +
        "needs an incremental_column")

  /** One materialization's UI metadata — the reference MaterializeResult
    * payload (_tenant_factory.py:317-326): row count, qualified table,
    * owning tenant, column schema, and a markdown preview.
    */
  final case class Materialization(
      table: String, tenant: String, numRows: Long,
      columns: Seq[(String, String)], previewMarkdown: String)

  /** GitHub-style markdown table of a (small, already-limited) frame —
    * the reference's preview rendering (_build_trino_preview:89-95:
    * header row, `---` separator, one row per record).
    */
  private[pipeline] def markdownTable(df: DataFrame): String = {
    // '|' and newlines inside a cell would break the table structure
    def cell(v: Any): String = String.valueOf(v)
      .replace("\\", "\\\\").replace("|", "\\|")
      .replace("\n", " ").replace("\r", " ")
    val cols = df.columns.toSeq
    val header = cols.map(cell).mkString("| ", " | ", " |")
    val sep = cols.map(_ => "---").mkString("| ", " | ", " |")
    val body = df.collect().map(r =>
      cols.indices.map(i => cell(r.get(i))).mkString("| ", " | ", " |"))
    (header +: sep +: body).mkString("\n")
  }
}
