package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source scan: every append-only fence is written by `FencedAppend.Fence`
  * (its `advance`), or seeded by the build that lays the family out. A
  * writer that sets a fence property by hand — the hand-written check that
  * goes with it escapes AppendFenceSpec — fails here.
  */
class FenceGuardSpec extends AnyFunSuite {

  private val Owner = "FencedAppend.scala"
  private val FenceValue = """(max_doc|max_vec|wm_)""".r
  private val Write = """SET TBLPROPERTIES|setDbProp\(""".r
  private val Def = """\bdef\s+(\w+)""".r
  private val Const = """\bval\s+(\w+)\s*=\s*"([^"]*)"""".r

  test("no fence property is written outside the fence and the builds") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val sources = files(root).map(f =>
      f -> java.nio.file.Files.readAllLines(f.toPath).asScala.toIndexedSeq)
    // the constants that name a fence property, wherever they are declared
    val fenceNames = (for {
      (_, lines) <- sources
      line <- lines
      m <- Const.findAllMatchIn(line)
      if FenceValue.findFirstIn(m.group(2)).isDefined
    } yield m.group(1)).toSet
    assert(fenceNames.nonEmpty, "found no fence property constants")
    val fenceKey = ("""\b(""" + fenceNames.mkString("|") + """)\b""").r
    val offenders = for {
      (f, lines) <- sources if f.getName != Owner
      (line, i) <- lines.zipWithIndex if Write.findFirstIn(line).isDefined
      // the statement: this line and every line it continues onto
      stmt = (i until lines.size).takeWhile(j => j == i ||
        lines(j - 1).trim.matches(""".*[+(,]$""")).map(lines).mkString(" ")
      if fenceKey.findFirstIn(stmt).isDefined ||
        FenceValue.findFirstIn(stmt).isDefined
      enclosing = lines.take(i + 1).flatMap(Def.findFirstMatchIn(_))
        .lastOption.map(_.group(1)).getOrElse("")
      if !enclosing.startsWith("build")
    } yield s"${f.getPath}:${i + 1} (in $enclosing): ${line.trim}"
    assert(offenders.isEmpty,
      "advance a fence with FencedAppend.Fence.advance instead:\n" +
        offenders.mkString("\n"))
  }
}
