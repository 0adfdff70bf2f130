package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source scan: every table swap runs on Warehouse's one staged swap, and
  * every partition drop goes through `Warehouse.dropPartitions`. A writer
  * that hand-rolls a drop, or revives one of the retired swap protocols,
  * fails here instead of escaping the crash matrix in StagedSwapSpec.
  */
class StagedSwapGuardSpec extends AnyFunSuite {

  /** Files allowed to issue a partition-dropping `ALTER TABLE … DROP`.
    * IncrementalClusters is the one exception: it drops the parts its
    * fence-guarded dynamic partition overwrite emptied. It stages nothing
    * to finish — a crash between the overwrite and its fence advance is
    * refused on replay, and the scheduled full rebuild is its recovery.
    */
  private val DropOwners = Set("Warehouse.scala", "IncrementalClusters.scala")
  private val PartitionDrop = """(?i)ALTER\s+TABLE\b.*\bDROP\b""".r

  /** The retired swap protocols' recover functions and tmp suffixes,
    * spelled in parts so that a grep of the tree for them finds none.
    */
  private val Retired =
    Seq("Rewrite", "Replacement", "Evolve").map("recover" + _) ++
      Seq("rw", "rw_part", "evolve").map(p => s"__${p}_tmp")

  test("no partition drop or retired swap protocol outside the staged swap") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = for {
      f <- files(root)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala
        .zipWithIndex
      hit <- Retired.filter(line.contains) ++
        PartitionDrop.findFirstIn(line).filterNot(_ => DropOwners(f.getName))
    } yield s"${f.getPath}:${i + 1}: $hit"
    assert(offenders.isEmpty,
      "use Warehouse.recover / Warehouse.dropPartitions / the staged swap " +
        "instead:\n" + offenders.mkString("\n"))
  }
}
