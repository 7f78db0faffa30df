package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `src/main` has one metrics path: one listener class, the
  * `Observability.QueryMetrics` collector, and one local property that
  * labels a run's jobs and stages, the correlation id (ROADMAP: "use one
  * metrics listener"). A second listener or label means editing this spec
  * on purpose. */
class ListenersSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Each match of `re` in `src/main`, with the file it is in. */
  private def matches(re: scala.util.matching.Regex): Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .sortBy(_.toString)
      .flatMap { (p: Path) =>
        val rel = root.relativize(p).toString.replace('\\', '/')
        re.findAllMatchIn(Files.readString(p)).map(m => rel -> m.group(1)).toSeq
      }
    finally walk.close()
  }

  test("exactly one SparkListener or QueryExecutionListener subclass in src/main") {
    val listeners = matches(
      """(?:extends|with|new)\s+((?:Spark|QueryExecution|StreamingQuery)Listener\w*)""".r)
    assert(listeners === Seq("graft/ops/Observability.scala" -> "SparkListener"))
  }

  test("src/main sets one local property, the correlation id") {
    assert(matches("""setLocalProperty\(\s*([^,]+),""".r).distinct ===
      Seq("graft/ops/Observability.scala" -> "LabelKey"))
    assert(ops.Observability.LabelKey === "graft.run_id")
  }
}
