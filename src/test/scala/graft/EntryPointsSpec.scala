package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `src/main` holds the shipped entry points and nothing else with a
  * `main`: one-off probes belong in a scratch directory or the test tree
  * (ROADMAP: "probes do not belong in `src/main`"). Adding an entry point
  * means editing `kept` on purpose. */
class EntryPointsSpec extends AnyFunSuite {

  private val kept = Set(
    "graft/Main.scala",
    "graft/Verify.scala",
    "graft/Bench.scala",
    "graft/tools/ExplainQ.scala",
    "graft/tools/GenScale.scala")

  test("exactly the kept entry points define a main in src/main") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val withMain =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("def main("))
        .map((p: Path) => root.relativize(p).toString.replace('\\', '/'))
        .toSet
      finally walk.close()
    assert(withMain === kept)
  }
}
