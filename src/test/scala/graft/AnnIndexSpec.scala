package graft

import java.time.LocalDateTime
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{AnnCode, AnnFamily, VectorOps}
import graft.pipeline.{ScheduleRunner, VectorIngest}

/** The stored ANN index lifecycle, proven once for every family and for
  * the single (S=1) and sharded (S=2) layouts: build → serve → a
  * `VectorIngest` batch → serve → a refresh fire after one table is
  * dropped. Each case pins the exact stored tables and their layout, the
  * frozen-parameter append law (the grown tables equal the stored
  * parameters' encode of the union), and the probe-set top-5 with its
  * self-hit; at S=1 the one-slice `_0` layout serves bit-equal to the
  * single index.
  */
class AnnIndexSpec extends SparkSpec {

  /** The stored table names and layouts, spelled out: the family list may
    * not rename or re-lay what an earlier build stored.
    */
  private val codes8 = (0 until VectorOps.PqSubspaces).map(m => s"code_$m")
  private val Stored: Map[String, (Seq[String], Seq[String], Seq[String])] = Map(
    // family -> (tables, code-table columns, code-table partition columns)
    "ivf" -> ((Seq("ivf_assignments", "ivf_centroids"),
      Seq("vec_id", "cell", "embedding"), Nil)),
    "pq" -> ((Seq("pq_codes", "pq_codebooks"), "vec_id" +: codes8, Nil)),
    "sq" -> ((Seq("sq_codes", "sq_params"), Seq("vec_id", "codes"), Nil)),
    "ivfsq" -> ((Seq("ivfsq_codes", "ivfsq_centroids", "ivfsq_params"),
      Seq("vec_id", "codes", "cell"), Seq("cell"))),
    "ivfpq" -> ((Seq("ivfpq_codes", "ivfpq_centroids", "ivfpq_codebooks"),
      ("vec_id" +: codes8) :+ "cell", Seq("cell"))))

  private def tablesOf(db: String): Set[String] =
    spark.catalog.listTables(db).collect().map(_.name).toSet

  private def full(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rnk"),
      r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSeq

  /** 5 probes × top-5, each probe its own rank-1 hit at cosine 1. */
  private def checkServe(rows: Seq[(Long, Int, Long, Double)], what: String) = {
    assert(rows.length == 25, s"$what: ${rows.length} rows")
    rows.filter(_._2 == 1).foreach { case (p, _, n, c) =>
      assert(p == n && math.abs(c - 1.0) < 1e-12, s"$what: probe $p top-1 $n ($c)")
    }
  }

  /** The frozen-parameter encode of `vecs` under one slice's stored
    * centroids and codebooks/ranges — what its code table must hold.
    */
  private def frozen(f: AnnFamily, db: String, sfx: String,
                     vecs: DataFrame): DataFrame = {
    val codes = f.code match {
      case AnnCode.Flat => vecs.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
      case AnnCode.Sq8(params) =>
        val (mins, widths) = VectorOps.loadSqParams(spark, db, params + sfx)
        VectorOps.sqEncode(vecs, mins, widths)
      case AnnCode.Pq(codebooks) =>
        val books = VectorOps.loadPqBooks(spark, db, codebooks + sfx)
        VectorOps.pqEncode(vecs, books, books(0).head.size)
    }
    f.centroidsTable.fold(codes)(cents => codes.join(VectorOps.assignToCells(
      vecs.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("vec")),
      spark.table(s"`$db`.`$cents$sfx`")), "vec_id"))
  }

  private def rowsOf(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq
  }

  for (f <- AnnFamily.All; n <- Seq(1, 2))
    test(s"${f.name} S=$n: build, serve, ingest a batch, serve, refresh a " +
        "dropped table") {
      val db = s"ann_matrix_${f.name}_s$n"
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      try {
        val emb = VectorOps.indexable(Tables.t(spark, sf, "embeddings"))
          .select("vec_id", "embedding")
        val t0 = emb.agg(max("vec_id")).head.getLong(0) * 2 / 3
        VectorOps.build(f, emb.filter(col("vec_id") <= t0), db, n)

        val (tables, codeCols, partCols) = Stored(f.name)
        val sfx = if (n == 1) Seq("") else (0 until n).map(i => s"_$i")
        assert(tablesOf(db) == (for (x <- sfx; t <- tables) yield t + x).toSet)
        for (x <- sfx) {
          val meta = spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(tables.head + x, Some(db)))
          assert(meta.schema.fieldNames.toSeq == codeCols, meta.schema)
          assert(meta.partitionColumnNames == partCols)
        }
        assert(VectorOps.layout(spark, db, f) == sfx)

        val served = full(VectorOps.topkFromIndex(f, spark, sf, db))
        checkServe(served, "built")
        if (n == 1) {
          // the one-slice `_0` layout serves exactly like the single index
          AnnIndexSpec.moveSlice(spark, db, f, "", "_0")
          assert(VectorOps.layout(spark, db, f) == Seq("_0"))
          assert(full(VectorOps.topkFromIndex(f, spark, sf, db)) == served,
            "the one-slice layout diverged from the single index")
          AnnIndexSpec.moveSlice(spark, db, f, "_0", "")
        }

        VectorIngest.vectorIngestBatch(spark, "matrix",
          emb.filter(col("vec_id") > t0), db, epochId = 0L)
        for ((x, sh) <- sfx.zipWithIndex) {
          val slice = if (n == 1) emb
            else emb.filter(pmod(xxhash64(col("vec_id")), lit(n.toLong)) === sh)
          val stored = spark.table(s"`$db`.`${f.codesTable}$x`")
          assert(rowsOf(stored) == rowsOf(frozen(f, db, x, slice)),
            s"slice '$x' diverged from the frozen-parameter encode of the union")
        }
        assert(sfx.map(x => spark.table(s"`$db`.`${f.codesTable}$x`").count())
          .sum == emb.count())
        checkServe(full(VectorOps.topkFromIndex(f, spark, sf, db)), "grown")

        spark.sql(s"DROP TABLE `$db`.`${f.tables.last}${sfx.last}`")
        val entry = VectorOps.refreshEntry(f, s"refresh-${f.name}",
          "0 4 * * *", db, s => Tables.t(s, sf, "embeddings"), nShards = n)
        assert(entry.name.nonEmpty && entry.target.startsWith(s"$db.${f.codesTable}"))
        assert(entry.tags == Map("pipeline" -> "ann-index"))
        val at = LocalDateTime.parse("2026-01-01T00:00:00")
        assert(new ScheduleRunner(Seq(entry), startAt = at)
          .tick(spark, at.plusHours(4)) == Seq(entry.id))
        assert(tablesOf(db) == (for (x <- sfx; t <- tables) yield t + x).toSet)
        checkServe(full(VectorOps.topkFromIndex(f, spark, sf, db)), "refreshed")
      } finally spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    }

  test("a rebuild in another shape drops the earlier layout's tables") {
    val db = "ann_matrix_reshape"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    try {
      val emb = Tables.t(spark, sf, "embeddings")
      val f = AnnFamily.Sq
      for ((n, sfx) <- Seq(3 -> Seq("_0", "_1", "_2"), 2 -> Seq("_0", "_1"),
          1 -> Seq(""), 2 -> Seq("_0", "_1"))) {
        VectorOps.build(f, emb, db, n)
        assert(tablesOf(db) == (for (x <- sfx; t <- f.tables) yield t + x).toSet,
          s"after the S=$n build")
        checkServe(full(VectorOps.topkFromIndex(f, spark, sf, db)), s"S=$n")
      }
    } finally spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }

  test("ingest into a db with no ANN index names every family") {
    val db = "ann_matrix_empty"
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
    try {
      val batch = VectorOps.indexable(Tables.t(spark, sf, "embeddings"))
        .select("vec_id", "embedding").limit(2)
      val e = intercept[IllegalArgumentException](
        VectorIngest.vectorIngestBatch(spark, "matrix", batch, db))
      val words = e.getMessage.split("[^a-z]+").toSet
      for (f <- AnnFamily.All) assert(words(f.name), e.getMessage)
      assert(e.getMessage.contains("VectorOps.build"), e.getMessage)
    } finally spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
  }
}

object AnnIndexSpec {

  /** Move one slice's tables from suffix `from` to suffix `to` by copy and
    * drop — `moveSlice(…, "", "_0")` lays out the single index as the
    * one-slice `_0` grid a sharded build at S=1 stored before S=1 became
    * the single index. (A table RENAME loses a partitioned table's rows.)
    */
  def moveSlice(spark: org.apache.spark.sql.SparkSession, db: String,
                f: AnnFamily, from: String, to: String): Unit =
    f.tables.foreach { t =>
      graft.store.Warehouse.saveModel(spark.table(s"`$db`.`$t$from`"), db,
        t + to, if (t == f.codesTable && f.cellPartitioned) Seq("cell") else Nil)
      spark.sql(s"DROP TABLE `$db`.`$t$from`")
    }
}
