package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source scan: the lease protocol and the exactly-once replay test live
  * in CorpusPipeline (the lease itself) and FencedAppend (its one loan and
  * the shared ledger read). A new sink that re-rolls either by hand fails
  * here instead of drifting from the tested protocol.
  */
class LeaseLoanGuardSpec extends AnyFunSuite {

  private val Owners = Set("CorpusPipeline.scala", "FencedAppend.scala")
  private val Banned =
    Seq("acquireLease(", "releaseLease(", ".exists(_ >= epochId)")

  test("no hand-written lease loan or replay test outside the protocol") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val offenders = for {
      f <- files(root) if !Owners(f.getName)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala
        .zipWithIndex
      banned <- Banned if line.contains(banned)
    } yield s"${f.getPath}:${i + 1}: $banned"
    assert(offenders.isEmpty,
      "use FencedAppend.withLease / FencedAppend.replayed instead:\n" +
        offenders.mkString("\n"))
  }
}
