package graft

import java.time.LocalDate
import org.apache.spark.sql.functions._
import graft.pipeline.{PartitionGrain, PartitionedMaterializer}
import graft.store.Warehouse

/** The staged-swap crash matrix, proven once for every Warehouse writer
  * that swaps. For each swap step: crash right after it lands, then
  *  - a bare `recover` finishes a stamped swap (the table equals a
  *    crash-free run) or discards an unstamped one (the table stays as
  *    the crash left it);
  *  - the next call of the same writer, which recovers at entry, ends
  *    equal to a crash-free run.
  * Either way the user TBLPROPERTIES survive, no tmp remains and a
  * second `recover` has nothing to do.
  */
class StagedSwapSpec extends SparkSpec {

  import spark.implicits._

  private val db = "graft_swap_matrix"
  private val Props = Map("graft.test.generation" -> "7",
    "graft.test.modulus" -> "64")

  /** One swapping writer: `create` builds its table, `run` swaps it. */
  private case class Writer(label: String, create: String => Unit,
                            run: String => Unit)

  private def createFlat(t: String): Unit =
    Warehouse.saveModel(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L),
      (4L, "d", 1L)).toDF("k", "val", "v").repartition(3), db, t)

  private def createPartitioned(t: String): Unit =
    Warehouse.saveModel(Seq((1L, "a", 1L, "p1"), (2L, "b", 1L, "p1"),
      (3L, "c", 1L, "p2"), (4L, "d", 1L, "p2"), (5L, "e", 1L, "p3"))
      .toDF("k", "val", "v", "pk").repartition(3), db, t, Seq("pk"))

  private def createDaily(t: String): Unit = {
    PartitionedMaterializer.backfill(spark, Seq((1L, "1996-01-03"),
      (2L, "1996-01-03"), (3L, "1996-01-17"), (4L, "1996-01-30"),
      (5L, "1996-02-02")).toDF("k", "d").select($"k", to_timestamp($"d").as("ts")),
      "ts", PartitionGrain.Daily, db, t,
      LocalDate.of(1996, 1, 1), LocalDate.of(1996, 3, 1))
    ()
  }

  private val writers = Seq(
    Writer("compact flat", createFlat, Warehouse.compact(spark, db, _, 1)),
    Writer("compact partitioned", createPartitioned,
      Warehouse.compact(spark, db, _, 2)),
    Writer("merge flat", createFlat, t => Warehouse.mergeUpsert(spark,
      Seq((2L, "b2", 2L), (9L, "z", 1L)).toDF("k", "val", "v"),
      db, t, Seq("k"), "v")),
    Writer("merge partitioned", createPartitioned, t => Warehouse.mergeUpsert(
      spark, Seq((3L, "c2", 2L, "p2"), (6L, "f", 1L, "p1"))
        .toDF("k", "val", "v", "pk"), db, t, Seq("k"), "v")),
    Writer("delete flat", createFlat,
      Warehouse.deleteWhere(spark, db, _, $"k" % 2 === 0)),
    // p1 and p2 keep rows; p3 empties, so the swap drops it
    Writer("delete partitioned", createPartitioned,
      Warehouse.deleteWhere(spark, db, _,
        $"k" === 2L || $"k" === 3L || $"pk" === "p3")),
    Writer("evolve grain", createDaily, t => {
      PartitionedMaterializer.evolveGrain(spark, db, t, "ts",
        PartitionGrain.Daily, PartitionGrain.Monthly,
        LocalDate.of(1996, 1, 1), LocalDate.of(1996, 2, 1))
      ()
    }))

  private def fresh(w: Writer, t: String): Unit = {
    Warehouse.ensureDatabase(spark, db)
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$t`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`${Warehouse.swapTmp(t)}`")
    w.create(t)
    spark.sql(s"ALTER TABLE `$db`.`$t` SET TBLPROPERTIES (" +
      Props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
  }

  private def rows(t: String): Seq[String] = {
    val df = spark.table(s"`$db`.`$t`")
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
      .map(_.toString).sorted.toSeq
  }

  private def props(t: String): Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db)))
      .properties.filter(_._1.startsWith("graft.test."))

  private def tmpLeft(t: String): Boolean =
    spark.catalog.tableExists(s"$db.${Warehouse.swapTmp(t)}")

  private def crash(w: Writer, t: String, step: String): Unit = {
    StagedSwapSpec.crashAfter(step)(w.run(t))
    assert(tmpLeft(t), s"${w.label}: no tmp after a crash at $step")
  }

  private def assertWhole(w: Writer, t: String, step: String,
                          expected: Seq[String]): Unit = {
    val at = s"${w.label}, crash after $step"
    assert(rows(t) == expected, at)
    assert(props(t) == Props, at)
    assert(!tmpLeft(t), at)
    assert(!Warehouse.recover(spark, db, t), at)
  }

  for (w <- writers)
    test(s"${w.label}: a crash after each swap step recovers to the " +
        "crash-free table") {
      fresh(w, "ref")
      w.run("ref")
      val clean = rows("ref")
      assert(props("ref") == Props)
      for (step <- Warehouse.SwapSteps) {
        fresh(w, "t")
        crash(w, "t", step)
        // an unstamped tmp is discarded: the target stays as it was
        val expected = if (step == "written") rows("t") else clean
        assert(Warehouse.recover(spark, db, "t"))
        assertWhole(w, "t", step, expected)

        fresh(w, "t")
        crash(w, "t", step)
        w.run("t")
        assertWhole(w, "t", step, clean)
      }
    }
}

object StagedSwapSpec extends org.scalatest.Assertions {

  /** Run `swap` with the staged swap's failpoint set after `step`; it must
    * crash there.
    */
  def crashAfter(step: String)(swap: => Unit): Unit = {
    val e = intercept[RuntimeException](
      Warehouse.swapFailAfter.withValue(Some(step))(swap))
    assert(e.getMessage == s"test failpoint after swap step $step", e)
  }
}
