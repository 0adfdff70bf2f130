package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation for the ELT workload. Everything the program
  * reads is written here from the sf0.1 fixtures: source Parquet with a
  * `project_id` column, and a tenant workspace of tenant.yaml files and
  * SQL models.
  */
object Inputs {

  /** One generated tenant: its id, the project it extracts and the
    * minimum order total its staging model keeps.
    */
  final case class Tenant(id: String, project: String, minTotal: Int)

  def projectId(i: Int): String = f"p$i%03d"

  /** Tenants t00.. with distinct projects drawn from `projects` by a
    * seeded shuffle, and seeded order-total thresholds.
    */
  def tenants(seed: Long, n: Int, projects: Int): Seq[Tenant] = {
    require(projects >= n, s"$n tenants need at least $n projects")
    val rnd = new scala.util.Random(seed)
    val picks = rnd.shuffle((0 until projects).toList).take(n)
    picks.zipWithIndex.map { case (p, i) =>
      Tenant(f"t$i%02d", projectId(p), rnd.nextInt(20000)) }
  }

  /** `project_id` of an order key: a seeded hash into `projects` buckets. */
  def projectOf(key: Column, seed: Long, projects: Int): Column =
    concat(lit("p"), lpad(pmod(xxhash64(key, lit(seed)), lit(projects.toLong))
      .cast("string"), 3, "0"))

  /** Orders from `sf`, each row tagged with the project of its order. */
  def ordersFrame(spark: SparkSession, sf: String, seed: Long, projects: Int): DataFrame =
    spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("project_id", projectOf(col("o_orderkey"), seed, projects))

  /** Files per generated source table: one per core, so extract scans
    * run in parallel.
    */
  val SourceFiles = 4

  def write(df: DataFrame, path: String): Unit =
    df.repartition(SourceFiles).write.mode("overwrite").parquet(path)

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def dataFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_")).count()
      finally s.close()
    }

  // ---- tenant workspace --------------------------------------------------

  private def yaml(t: Tenant, tables: String, schedule: String): String =
    s"""tenant:
       |  id: ${t.id}
       |  name: "Benchmark tenant ${t.id}"
       |  source:
       |    type: parquet
       |  params:
       |    project_id: "${t.project}"
       |    min_total: "${t.minTotal}"
       |  schedule: "$schedule"
       |tables:
       |$tables""".stripMargin

  val OrdersColumns: Seq[String] =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "project_id")

  private val OrdersTable: String =
    s"""  - name: orders
       |    source_table: orders
       |    primary_key: [o_orderkey]
       |    columns: [${OrdersColumns.mkString(", ")}]
       |    tenant_filter: project_id
       |    incremental_column: o_orderdate
       |    mode: append
       |""".stripMargin

  private def header(t: Tenant, alias: Option[String] = None): String =
    s"{{ config(materialized='table', schema=var('tenant_id', '${t.id}')" +
      alias.map(a => s", alias='$a'").getOrElse("") + ") }}\n"

  /** One staging model and a daily mart. */
  def models(t: Tenant): Map[String, String] = Map(
    s"${t.id}__stg_orders" -> (header(t, Some("stg_orders")) +
      s"""SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date,
         |       CAST(o_totalprice AS DECIMAL(18,2)) AS total
         |FROM {{ source('${t.id}_raw', 'orders') }}
         |WHERE o_totalprice >= {{ var('min_total') }}
         |""".stripMargin),
    s"${t.id}__mart_daily" -> (header(t, Some("mart_daily")) +
      s"""SELECT order_date, count(*) AS n_orders, sum(total) AS revenue
         |FROM {{ ref('${t.id}__stg_orders') }}
         |GROUP BY order_date
         |""".stripMargin))

  /** Write one directory per tenant. A `broken` tenant's mart selects a
    * column that does not exist.
    */
  def writeWorkspace(root: Path, ts: Seq[Tenant], schedule: Tenant => String,
                     broken: Set[String]): Unit = ts.foreach { t =>
    val dir = Files.createDirectories(root.resolve(t.id))
    Files.writeString(dir.resolve("tenant.yaml"), yaml(t, OrdersTable, schedule(t)))
    val modelDir = Files.createDirectories(dir.resolve("models"))
    models(t).foreach { case (name, sql) =>
      val text = if (broken(t.id) && name.contains("mart_"))
        sql.replace("count(*) AS n_", "count(no_such_column) AS n_") else sql
      Files.writeString(modelDir.resolve(s"$name.sql"), text)
    }
  }

  def tmpDir(prefix: String): Path = Paths.get(graft.TempDirs.create(prefix))
}
