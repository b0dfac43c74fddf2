package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Dead-API census: every public `def` in `src/main` (a line that starts
  * with `def`, after indentation) must be referred to by some line of
  * `src/main` or `streambench/src` other than a comment line or a line
  * that defines a def of the same name. References match whole words, as
  * `grep -w` does, so a test-only entry point fails here instead of
  * lingering until the next deletion pass. */
class DeadApiSpec extends AnyFunSuite {

  /** The `fakekafka` test double's admin surface: Kafka's topic admin
    * and retention, which the jobs never call but FakeKafkaSpec does. */
  private val allowed = Set(
    "FakeBroker.deleteTopic", "FakeBroker.listTopics", "FakeBroker.truncateTo")

  private def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$dir not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    finally walk.close()
  }

  private def lines(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq

  test("every public def in src/main has a caller outside tests") {
    val mainFiles = scalaFiles("src/main")
    val corpus = (mainFiles ++ scalaFiles("streambench/src")).flatMap(lines)
      .filterNot(_.trim.matches("""(//|\*|/\*).*"""))
    // whole-word occurrences: the lines that hold each word as a token
    val linesWith: Map[String, Seq[String]] = corpus
      .flatMap(l => l.split("\\W+").distinct.map(_ -> l))
      .groupMap(_._1)(_._2)
    val DefLine = """^\s*def (\w+).*""".r
    val dead = for {
      f <- mainFiles
      name <- lines(f).collect { case DefLine(n) => n }.distinct
      ownDef = s"def $name\\b".r
      if linesWith.getOrElse(name, Nil).forall(l => ownDef.findFirstIn(l).isDefined)
    } yield s"${f.getFileName.toString.stripSuffix(".scala")}.$name"
    assert(dead.toSet == allowed,
      s"public defs that nothing outside tests calls: ${dead.filterNot(allowed).mkString(", ")}; " +
        s"allowlisted but now called: ${allowed.diff(dead.toSet).mkString(", ")}")
  }
}
