package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.Assertions.fail
import scala.jdk.CollectionConverters._

/** Runs a main class of this build in a fresh JVM (this JVM's class path
  * and `--add-opens`, `-Xmx1g`) and reports the classes it loaded, from
  * `-Xlog:class+load`. The first SQL parse in a JVM loads about 1,000
  * ANTLR and parser classes, so whether `SqlBaseParser` is among them is
  * the check that a path makes no parser call. Building the session state
  * loads some of the parser's nested `*Context` classes without parsing
  * anything, so a check names the parser class itself ([[Parser]]). */
object ChildJvm {
  val Parser = "org.apache.spark.sql.catalyst.parser.SqlBaseParser"

  /** The classes `main` loaded, run with `args` and its logs in `dir`;
    * fails on a non-zero exit or an empty class log. */
  def classesLoaded(dir: Path, main: String, args: String*): Set[String] = {
    val classLog = dir.resolve("classes.log")
    val out = dir.resolve("stdout.log")
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString,
      "-cp", System.getProperty("java.class.path"), "-Xmx1g",
      s"-Xlog:class+load:file=$classLog") ++ opens ++ (main +: args)
    val exit = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(out.toFile).start().waitFor()
    if (exit != 0) fail(s"$main exited $exit:\n${Files.readString(out)}")
    // "[uptime][info][class,load] <class> source: ..."
    val loaded = Files.readAllLines(classLog).asScala.map(_.split(" ")(1)).toSet
    if (!loaded.contains(main)) fail(s"no class loads logged in $classLog")
    loaded
  }
}
