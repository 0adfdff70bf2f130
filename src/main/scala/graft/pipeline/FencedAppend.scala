package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, min, struct}

/** The one exactly-once append protocol behind every streaming ingest
  * sink ([[Bm25Ingest]], [[CdcIngest]], [[LinkIngest]], [[VectorIngest]],
  * [[CorpusPipeline.corpusIngestBatch]]), the one append fence ([[Fence]])
  * behind every append-only stored state, and the one lease loan behind
  * every other db writer ([[withLease]]). A sink supplies only its data —
  * a [[Family]] — and [[append]] runs the protocol in one fixed order
  * (DESIGN.md "Exactly-once appends" gives the order and why the ledger
  * commits before the fence).
  *
  * Ledger keys are derived here and nowhere else: each sink keeps a
  * per-source committed-epoch property `<family base>.<md5(srcTag)>` on
  * its target database, and a changed derivation would orphan every
  * stored committed epoch ([[DeltaModelIngest]] truncates the same
  * digest to 12 chars, because it also names physical delta tables).
  */
private[graft] object FencedAppend {

  def digest(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The per-source committed-epoch ledger key. */
  def epochProp(base: String, srcTag: String): String =
    s"$base.${digest(srcTag)}"

  /** Hold `db`'s run lease ([[CorpusPipeline.acquireLease]]) for `body`,
    * which gets the fencing token; released in `finally`.
    */
  def withLease[A](s: SparkSession, db: String)(body: String => A): A = {
    val lease = CorpusPipeline.acquireLease(s, db)
    try body(lease)
    finally CorpusPipeline.releaseLease(s, db, lease)
  }

  /** A long-valued db property: a ledger's committed epoch or a fence. */
  def storedLong(s: SparkSession, db: String, prop: String): Option[Long] =
    CorpusPipeline.dbProps(s, db).get(prop).filter(_.nonEmpty).map(_.toLong)

  /** `epochId` is already committed under `prop`: a replay whose writes
    * all landed. Negative epochs (no stream) are never replays.
    */
  def replayed(s: SparkSession, db: String, prop: String,
               epochId: Long): Boolean =
    epochId >= 0 && storedLong(s, db, prop).exists(_ >= epochId)

  def commitEpoch(s: SparkSession, db: String, prop: String,
                  epochId: Long): Unit =
    CorpusPipeline.setDbProp(s, db, prop, epochId.toString)

  /** Which batch bound must clear the stored fence: `Lo` refuses any
    * overlap with what already landed; `Hi` admits an overlap, which the
    * family's row-idempotent appends and content proof absorb.
    */
  sealed abstract class Bound(val label: String)
  case object Lo extends Bound("min")
  case object Hi extends Bound("max")

  /** A batch's least and greatest key under a [[Fence]]. */
  final case class Bounds(lo: Seq[Long], hi: Seq[Long])

  private val keyOrder = Ordering.Implicits.seqOrdering[Seq, Long]

  /** The append-only fence of one stored family: the strict-`>`
    * watermark every append must clear (DESIGN.md "Exactly-once
    * appends"). A constant per family; where the caller calls [[advance]]
    * makes it fence-first or fence-last.
    *
    * @param table   the table whose property holds the stored bound, or
    *                None for a property of the db itself
    * @param key     (batch column, property) pairs: one id column, or
    *                `ts` then `event_id`, compared in that order
    * @param bound   which batch bound must clear the stored one
    * @param rebuild the build that re-anchors the family, named when the
    *                stored bound is missing; None: a missing bound admits
    *                any batch
    */
  case class Fence(table: Option[String], key: Seq[(String, String)],
                   bound: Bound, rebuild: Option[String]) {

    private def where(db: String) = table.fold(s"`$db`")(t => s"`$db`.`$t`")

    private def show(v: Seq[Long]) =
      key.map(_._1).zip(v).map { case (c, x) => s"$c=$x" }
        .mkString("(", ", ", ")")

    /** The stored bound; a missing one refuses when [[rebuild]] is set. */
    def stored(s: SparkSession, db: String): Option[Seq[Long]] = {
      val props = table.fold(CorpusPipeline.dbProps(s, db))(
        graft.store.Warehouse.tableProps(s, db, _))
      val v = key.flatMap(k => props.get(k._2).filter(_.nonEmpty).map(_.toLong))
      if (v.size == key.size) Some(v)
      else {
        require(rebuild.isEmpty, s"${key.map(_._2).mkString(", ")} missing " +
          s"on ${where(db)} — rebuild with ${rebuild.get} before appending")
        None
      }
    }

    /** The batch's bounds; None for an empty batch. */
    def boundsOf(frame: DataFrame): Option[Bounds] = {
      val cols = key.map(c => col(c._1).cast("long"))
      val k = if (cols.size == 1) cols.head else struct(cols: _*)
      val r = frame.agg(min(k), max(k)).head()
      def at(i: Int): Seq[Long] =
        if (key.size == 1) Seq(r.getLong(i))
        else key.indices.map(r.getStruct(i).getLong)
      if (r.isNullAt(0)) None else Some(Bounds(at(0), at(1)))
    }

    /** The stored bound already covers `at`: a batch bounded there would
      * not clear it.
      */
    def holds(s: SparkSession, db: String, at: Seq[Long]): Boolean =
      stored(s, db).exists(st => !keyOrder.gt(at, st))

    /** Refuse `b` unless its [[bound]] clears the stored one. */
    def check(who: String, s: SparkSession, db: String, b: Bounds): Unit = {
      val at = if (bound == Lo) b.lo else b.hi
      stored(s, db).foreach(st => require(keyOrder.gt(at, st),
        s"$who: batch ${bound.label} ${show(at)} does not clear the stored " +
          s"watermark ${show(st)} on ${where(db)} — a replayed, overlapping " +
          "or out-of-order batch is refused by the append-only fence" +
          rebuild.fold("")(r => s"; re-anchor with $r")))
    }

    /** [[check]] a batch frame: its bounds, or None when it is empty. */
    def check(who: String, s: SparkSession, db: String,
              frame: DataFrame): Option[Bounds] =
      boundsOf(frame).map { b => check(who, s, db, b); b }

    /** Write the stored bound forward to `to`, in one statement. */
    def advance(s: SparkSession, db: String, to: Seq[Long]): Unit = {
      val kv = key.map(_._2).zip(to).map { case (k, v) => s"'$k'='$v'" }
        .mkString("(", ", ", ")")
      s.sql(table.fold(s"ALTER DATABASE `$db` SET DBPROPERTIES $kv")(t =>
        s"ALTER TABLE `$db`.`$t` SET TBLPROPERTIES $kv"))
    }
  }

  /** One pinned micro-batch under the lease, as a family's stages see it.
    * `pin` registers a further frame for unpersist at the end.
    */
  final case class Batch(s: SparkSession, db: String, srcTag: String,
                         frame: DataFrame, lo: Long, hi: Long, epochId: Long,
                         lease: String, pin: DataFrame => DataFrame)

  /** What one sink family supplies.
    *
    * @param name     the public entry point; prefixes the fence refusal
    * @param prepare  runs before the lease (create the db, or require the
    *                 state the sink grows)
    * @param pinned   the frame to pin, derived from the delivered batch
    * @param stages   the ordered named writes; `failAfter` names one
    * @param proof    a content proof, run when the ledger has no record of
    *                 the epoch, that the batch already landed (skip it)
    */
  final case class Family(name: String, ledgerBase: String, fence: Fence,
                          prepare: (SparkSession, String) => Unit,
                          stages: Batch => Seq[(String, () => Unit)],
                          pinned: DataFrame => DataFrame = identity,
                          proof: Batch => Boolean = _ => false)

  /** Fold one micro-batch into `db` exactly once. `failAfter` is a
    * TEST-ONLY failpoint: throw right after the named stage lands, with
    * the epoch uncommitted (a mid-batch crash).
    */
  def append(s: SparkSession, family: Family, db: String, srcTag: String,
             batch: DataFrame, epochId: Long,
             failAfter: Option[String] = None): Unit =
    if (!batch.isEmpty) {
      family.prepare(s, db)
      withLease(s, db) { lease =>
        // a stream's cloned session may hold a listing that a rebuild in
        // another session has since replaced
        graft.store.Warehouse.refreshDb(s, db)
        val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        def pin(df: DataFrame): DataFrame = { pins += df; df }
        try {
          val frame = pin(family.pinned(batch).persist())
          val ledger = epochProp(family.ledgerBase, srcTag)
          if (!replayed(s, db, ledger, epochId))
            family.fence.boundsOf(frame).foreach { bounds =>
              val b = Batch(s, db, srcTag, frame, bounds.lo.head,
                bounds.hi.head, epochId, lease, pin)
              if (epochId < 0 || !family.proof(b)) {
                family.fence.check(family.name, s, db, bounds)
                family.stages(b).foreach { case (stage, write) =>
                  CorpusPipeline.renewLease(s, db, lease)
                  write()
                  if (failAfter.contains(stage))
                    throw new RuntimeException(s"test failpoint after $stage")
                }
                // ledger BEFORE fence: fence-first would refuse a crashed
                // epoch's every redelivery (DESIGN.md "Exactly-once appends")
                if (epochId >= 0) commitEpoch(s, db, ledger, epochId)
                family.fence.advance(s, db, bounds.hi)
              }
            }
        } finally pins.foreach(df =>
          try df.unpersist()
          catch { case scala.util.control.NonFatal(_) => () })
      }
    }
}
