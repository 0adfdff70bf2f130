package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.config.TenantConfig
import graft.model.SqlModel
import graft.source.Source

/** Multi-tenant workspace discovery — the engine-owned half of the
  * reference's sync_tenants script (scripts/sync_tenants.py:32-41 scans
  * `code_locations/&#42;/tenant.yaml`; :53-116 generates workspace/boilerplate;
  * :140-154 is the `--check` CI drift gate).
  *
  * Spark-first difference: the reference generates one OS process per
  * tenant via workspace.yaml boilerplate; here the registry IS the
  * workspace — it stands the tenants up directly on a shared session with
  * per-database isolation (the cluster-scale variant is one spark-submit
  * per tenant over the same layout). No generated files, so "drift" reduces
  * to real invariants: ids match their directories, derived databases are
  * collision-free, schedules parse.
  *
  * Expected layout under `root` (one directory per tenant, reference
  * code_locations shape):
  * {{{
  *   root/<tenant_dir>/tenant.yaml
  *   root/<tenant_dir>/models/&#42;.sql   (optional dbt-dialect models)
  * }}}
  * Directories starting with `_` or `.` are skipped (sync_tenants.py:36-39).
  */
object TenantRegistry {

  /** One discovered tenant: its parsed config + authored models, tagged
    * with the directory it came from.
    */
  final case class Discovered(dir: String, tenant: TenantConfig,
                              models: Seq[SqlModel])

  /** Files.list leaks its DirectoryStream unless closed — a re-scan loop
    * (schedule tick per workspace) would exhaust fds without this.
    */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Scan `root` for tenant directories, sorted by directory name
    * (sync_tenants.py:33-40). Models load from `<dir>/models/&#42;.sql`,
    * model name = file basename (dbt file-name contract).
    */
  def discover(root: String, env: Map[String, String] = sys.env): Seq[Discovered] = {
    val rootPath = Paths.get(root)
    require(Files.isDirectory(rootPath), s"tenant root not a directory: $root")
    listDir(rootPath)
      .filter(Files.isDirectory(_))
      .filterNot { d =>
        val n = d.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }
      .filter(d => Files.exists(d.resolve("tenant.yaml")))
      .sortBy(_.getFileName.toString)
      .map { d =>
        val tenant = TenantConfig.load(d.resolve("tenant.yaml").toString, env)
        Discovered(d.getFileName.toString, tenant, loadModels(d))
      }
  }

  private def loadModels(dir: Path): Seq[SqlModel] = {
    val modelsDir = dir.resolve("models")
    if (!Files.isDirectory(modelsDir)) Seq.empty
    else listDir(modelsDir)
      .filter(_.getFileName.toString.endsWith(".sql"))
      .sortBy(_.getFileName.toString)
      .map { f =>
        val name = f.getFileName.toString.stripSuffix(".sql")
        SqlModel(name, Files.readString(f))
      }
  }

  /** `--check`-style drift validation (sync_tenants.py:140-154). Returns
    * human-readable findings; empty = in sync. Checked invariants:
    *  - tenant id matches its directory name (the reference's generated
    *    `location_name: {tid}` contract, sync_tenants.py:60-64);
    *  - ids unique, and no tenant's database collides with another's
    *    (including the `{id}` vs `{id}_raw` cross-collision a tenant named
    *    `x_raw` would cause);
    *  - a declared schedule parses as five-field cron;
    *  - every model ref() resolves within the tenant's own model set;
    *  - every `mode: append` table declares its `incremental_column`.
    */
  def check(discovered: Seq[Discovered]): Seq[String] = {
    val idDrift = discovered.filter(d => d.tenant.id != d.dir)
      .map(d => s"tenant dir '${d.dir}' declares id '${d.tenant.id}' (must match)")
    val dupIds = discovered.groupBy(_.tenant.id).filter(_._2.size > 1).keys
      .map(id => s"duplicate tenant id '$id'")
    // collision check runs on bare names: environment prefixing is a
    // constant injective rename (`dev_` + name), so the prefixed collision
    // set is identical to the bare one in every environment
    val dbOwners = discovered.flatMap(d =>
      Seq(d.tenant.database -> d.tenant.id,
        d.tenant.rawDatabase -> d.tenant.id))
    val dbDrift = dbOwners.groupBy(_._1)
      .filter { case (_, owners) => owners.map(_._2).distinct.size > 1 }
      .map { case (db, owners) =>
        s"database '$db' claimed by tenants ${owners.map(_._2).distinct.sorted.mkString(", ")}"
      }
    val schedDrift = discovered.filter(_.tenant.schedule.nonEmpty).flatMap { d =>
      try { CronSchedule.parse(d.tenant.schedule); None }
      catch { case e: Exception =>
        Some(s"tenant '${d.tenant.id}' schedule: ${e.getMessage}") }
    }
    val refDrift = discovered.flatMap { d =>
      val names = d.models.map(_.name).toSet
      d.models.flatMap(m => m.refs.filterNot(names)
        .map(r => s"tenant '${d.tenant.id}' model '${m.name}': unresolved ref('$r')"))
    }
    val appendDrift = discovered.flatMap(d => TenantPipeline.appendWithoutWatermark(d.tenant))
    (idDrift ++ dupIds ++ dbDrift ++ schedDrift ++ refDrift ++ appendDrift).toSeq.sorted
  }

  /** Build one pipeline per discovered tenant over a shared source factory.
    * `environment` defaults to detection from the PROCESS environment
    * (reference reads os.getenv, environment_helpers.py:4-9) — a plain
    * laptop run lands in `dev_` namespaces unless the deployment vars say
    * otherwise. Deliberately NOT detected from any yaml-var map: a caller
    * passing curated yaml vars must not silently flip a prod run to dev.
    */
  def pipelines(discovered: Seq[Discovered],
                source: TenantConfig => Source,
                environment: Environment = Environment.detect())
      : Seq[(TenantConfig, TenantPipeline)] =
    discovered.map(d =>
      d.tenant -> new TenantPipeline(d.tenant, source(d.tenant), d.models,
        env = environment))

  /** Discover, drift-check (fail loud, the CI gate's exit-1), then run all
    * tenant pipelines concurrently on the shared session. Isolation is
    * per-database; the TenantIsolationRule (when installed) scopes reads on
    * top. Returns per-tenant materialization counts.
    */
  def runAll(spark: SparkSession, root: String,
             source: TenantConfig => Source,
             env: Map[String, String] = sys.env,
             parallelism: Int = 4,
             environment: Environment = Environment.detect())
      : Map[String, Map[String, Long]] = {
    // `env` resolves yaml ${VAR} placeholders ONLY; the deployment
    // environment comes from process detection (or the explicit parameter)
    // so a curated var map can never silently retarget prod to dev_
    val e = environment
    val discovered = discover(root, env)
    val drift = check(discovered)
    require(drift.isEmpty, s"tenant workspace drift:\n  ${drift.mkString("\n  ")}")
    // every tenant finishes before anything is reported (Parallel.runAll)
    val runs = pipelines(discovered, source, e).map { case (tenant, p) =>
      tenant.id -> (() => tenant.id -> p.run(spark))
    }
    Parallel.runAllOrFail(parallelism, "tenant run", runs).toMap
  }

  /** Schedule entries for every discovered tenant — composes with
    * [[ScheduleRunner]] so one loop ticks the whole workspace.
    */
  def scheduleEntries(discovered: Seq[Discovered],
                      source: TenantConfig => Source,
                      environment: Environment = Environment.detect())
      : Seq[ScheduleRunner.Entry] =
    pipelines(discovered.filter(_.tenant.schedule.nonEmpty), source, environment)
      .map { case (tenant, p) => ScheduleRunner.forTenant(tenant, p) }
}
