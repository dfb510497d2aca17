package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The program's entry points, pinned: a new `main` must be added here
  * on purpose, and one that nothing runs any more must be deleted. */
class EntryPointsSpec extends AnyFunSuite {

  private val mainDef =
    """def\s+main\s*\(\s*\w+\s*:\s*Array\s*\[\s*String\s*\]\s*\)""".r
  private val objectDecl = """\bobject\s+(\w+)""".r
  private val packageDecl = """(?m)^package\s+([\w.]+)""".r

  /** `package.Object` for every object that declares a main, attributed
    * to the nearest object declared above the `def`. */
  private def mainObjects(src: String): Seq[String] = {
    val pkg = packageDecl.findFirstMatchIn(src).map(_.group(1) + ".")
      .getOrElse("")
    val objects = objectDecl.findAllMatchIn(src).toSeq
    mainDef.findAllMatchIn(src).toSeq.map { m =>
      objects.filter(_.start < m.start).lastOption
        .fold(s"<no object>@${m.start}")(pkg + _.group(1))
    }
  }

  test("the mains under src/main/scala are exactly the runtime entry points") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    val found = files.flatMap(p =>
      mainObjects(new String(Files.readAllBytes(p), "UTF-8"))).sorted
    assert(found == Seq("graft.Bench", "graft.BenchOne", "graft.CliMain",
      "graft.DebugMain", "graft.Verify"))
  }
}
