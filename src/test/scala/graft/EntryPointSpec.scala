package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No entry point without a caller: every `object … { def main(` under
  * src/main/scala must be named in the README, a spec, a script or the
  * perfbench harness. A `main` that nothing runs rots unnoticed and still
  * costs every refactor a compile-and-fix pass. File scan only, no Spark
  * session.
  */
class EntryPointSpec extends AnyFunSuite {

  private def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .filterNot(f => f.iterator.asScala.exists(c =>
          c.toString == "target" || c.toString == ".work"))
        .toList
      finally s.close()
    }
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** Simple names of the objects that declare a `main`, each `main`
    * attributed to the nearest `object` declared above it.
    */
  private def mainObjects: Set[String] =
    files("src/main/scala").filter(_.toString.endsWith(".scala")).flatMap { f =>
      val src = read(f)
      val objects = """\bobject\s+(\w+)""".r.findAllMatchIn(src)
        .map(m => m.start -> m.group(1)).toSeq
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).flatMap { m =>
        objects.filter(_._1 < m.start).lastOption.map(_._2)
      }
    }.toSet

  test("every main under src/main/scala is named in README, a spec, a script or perfbench") {
    val mains = mainObjects
    assert(mains.contains("Bench") && mains.contains("EnduranceBench"), mains)
    val self = Paths.get("src/test/scala/graft/EntryPointSpec.scala")
    val corpus = (Seq(Paths.get("README.md")) ++
      Seq("src/test", "scripts", "perfbench").flatMap(files))
      .filterNot(_.normalize == self.normalize).map(read).mkString("\n")
    val uncalled = mains.filterNot(n => s"\\b$n\\b".r.findFirstIn(corpus).isDefined)
    assert(uncalled.isEmpty,
      s"entry points with no caller: ${uncalled.toSeq.sorted.mkString(", ")}")
  }
}
