package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{max, min}

/** The one exactly-once append protocol behind every streaming ingest
  * sink ([[Bm25Ingest]], [[CdcIngest]], [[LinkIngest]], [[VectorIngest]],
  * [[CorpusPipeline.corpusIngestBatch]]), and the one lease loan behind
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
    * overlap with the ingested ids; `Hi` admits an overlap, which the
    * family's row-idempotent appends and content proof absorb.
    */
  sealed abstract class Bound(val label: String)
  case object Lo extends Bound("min")
  case object Hi extends Bound("max")

  /** An append-only id fence: `read` the stored max (None: no fence yet)
    * and `write` it forward to a committed batch's max.
    */
  final case class Fence(bound: Bound,
                         read: (SparkSession, String) => Option[Long],
                         write: (SparkSession, String, Long) => Unit)

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
  final case class Family(name: String, idCol: String, ledgerBase: String,
                          fence: Fence,
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
          if (!replayed(s, db, ledger, epochId)) {
            val bounds = frame.agg(min(family.idCol), max(family.idCol)).head()
            val b = Batch(s, db, srcTag, frame, bounds.getLong(0),
              bounds.getLong(1), epochId, lease, pin)
            if (epochId < 0 || !family.proof(b)) {
              val bound = if (family.fence.bound == Lo) b.lo else b.hi
              family.fence.read(s, db).foreach(stored => require(
                bound > stored,
                s"${family.name}: batch ${family.fence.bound.label} " +
                  s"${family.idCol} $bound <= ingested max $stored — " +
                  "out-of-order ingest refused (the append-only contract)"))
              family.stages(b).foreach { case (stage, write) =>
                CorpusPipeline.renewLease(s, db, lease)
                write()
                if (failAfter.contains(stage))
                  throw new RuntimeException(s"test failpoint after $stage")
              }
              // ledger BEFORE fence: fence-first would refuse a crashed
              // epoch's every redelivery (DESIGN.md "Exactly-once appends")
              if (epochId >= 0) commitEpoch(s, db, ledger, epochId)
              family.fence.write(s, db, b.hi)
            }
          }
        } finally pins.foreach(df =>
          try df.unpersist()
          catch { case scala.util.control.NonFatal(_) => () })
      }
    }
}
