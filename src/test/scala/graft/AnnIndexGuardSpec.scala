package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.ops.AnnFamily

/** Source scan: every stored ANN index table is written by the one
  * lifecycle (`VectorOps.build` and `VectorOps.append`, through their
  * per-slice writers), and none of the per-family functions it replaced
  * comes back. A hand-rolled `saveModel`/`insertInto` of an index table
  * escapes the AnnIndexSpec matrix; it fails here instead.
  */
class AnnIndexGuardSpec extends AnyFunSuite {

  private val Owner = "VectorQuantOps.scala"
  private val Writers = Set("buildSlice", "appendSlice")
  private val Write = """saveModel\(|insertInto\(""".r
  // member defs only: a local def inside a writer stays that writer's
  private val Def = """^  \S.*\bdef\s+(\w+)""".r
  private val Const = """\bval\s+(\w+)\s*=\s*"([^"]*)"""".r

  /** The retired per-family lifecycle functions, spelled in parts so
    * that a grep of the tree for them finds none.
    */
  private val Retired: Seq[String] = {
    val fams = Seq("Ivf", "Pq", "Sq", "IvfSq", "IvfPq")
    def lower(f: String) = f.head.toLower + f.tail
    fams.flatMap(f => Seq("build", "buildSharded", "appendTo", "appendToSharded")
      .map(verb => s"$verb${f}Index")) ++
      fams.flatMap(f => Seq("CosineTopkFromIndex", "CosineTopkFromShardedIndex",
        "RefreshEntry", "ShardedRefreshEntry").map(lower(f) + _)) :+
      ("ivfSemanticDedupFrom" + "ShardedIndex")
  }

  private def sources(dir: String): Seq[(java.io.File, IndexedSeq[String])] = {
    val root = new java.io.File(dir)
    assert(root.isDirectory, s"run from the project root: $root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    files(root).map(f =>
      f -> java.nio.file.Files.readAllLines(f.toPath).asScala.toIndexedSeq)
  }

  test("no ANN index table is written outside the lifecycle") {
    val main = sources("src/main/scala")
    val names = AnnFamily.All.flatMap(_.tables).toSet
    // the constants that hold a stored table name, wherever declared
    val consts = (for {
      (_, lines) <- main
      line <- lines
      m <- Const.findAllMatchIn(line) if names(m.group(2))
    } yield m.group(2) -> m.group(1)).toMap
    assert(consts.keySet == names, s"table-name constants: $consts")
    val tableRef = ("""\b(""" + (consts.values ++ names ++
      Seq("codesTable", "centroidsTable", "paramsTable")).mkString("|") +
      """)\b""").r
    val offenders = for {
      (f, lines) <- main
      (line, i) <- lines.zipWithIndex if Write.findFirstIn(line).isDefined
      // the statement: this line and every line it continues onto
      stmt = (i until lines.size).takeWhile(j => j == i ||
        lines(j - 1).trim.matches(""".*[+(,]$""")).map(lines).mkString(" ")
      if tableRef.findFirstIn(stmt).isDefined
      enclosing = lines.take(i + 1).flatMap(Def.findFirstMatchIn(_))
        .lastOption.map(_.group(1)).getOrElse("")
      if f.getName != Owner || !Writers(enclosing)
    } yield s"${f.getPath}:${i + 1} (in $enclosing): ${line.trim}"
    assert(offenders.isEmpty,
      "write ANN index tables through VectorOps.build / VectorOps.append:\n" +
        offenders.mkString("\n"))
  }

  test("no retired per-family lifecycle function is named") {
    val word = ("""\b(""" + Retired.mkString("|") + """)\b""").r
    val offenders = for {
      (f, lines) <- sources("src/main/scala") ++ sources("src/test/scala")
      (line, i) <- lines.zipWithIndex
      hit <- word.findFirstIn(line)
    } yield s"${f.getPath}:${i + 1}: $hit"
    assert(offenders.isEmpty,
      "use the family-parameterised lifecycle (VectorOps.build / append / " +
        "topkFromIndex / refreshEntry) instead:\n" + offenders.mkString("\n"))
  }
}
