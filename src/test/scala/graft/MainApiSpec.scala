package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** src/main keeps no API that only tests call: every def that is neither
  * `override` nor `private` is named on some other src/main line. */
class MainApiSpec extends AnyFunSuite {

  /** Test accessors, named only by the specs that read them. */
  private val allowed = Set(
    "scansOf",       // PlanInspect.Census: file scans of one table
    "snapshotFiles") // IndexLog: an index's retained file lists

  test("every src/main def is used in src/main (two test accessors excepted)") {
    val lines = Files.walk(Paths.get("src/main")).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.map {
        case (l, i) => (s"$p:${i + 1}", l)
      })
    val found = testOnlyDefs(lines).filterNot { case (_, name) => allowed(name) }
    assert(found.isEmpty, found.map { case (at, name) => s"$at: $name" }.mkString("\n"))
  }

  test("the guard flags a def named on no other line, and skips override and private") {
    val lines = Seq(
      "  def used(x: Int): Int = x",
      "  private[graft] def lonely(): Unit = ()",
      "  final def alsoLonely: Int = used(1)",
      "  override def toString: String = \"\"",
      "  private def hidden(): Unit = ()",
      "  // usedInComment is fine: any other line counts",
      "  def usedInComment(): Unit = ()",
    ).zipWithIndex.map { case (l, i) => (s"L${i + 1}", l) }
    assert(testOnlyDefs(lines).map(_._2) == Seq("lonely", "alsoLonely"))
  }

  /** (location, name) of every def in `lines` that is neither `override`
    * nor `private`/`private[this]` and whose name, as a whole word, is on
    * no other line. */
  private def testOnlyDefs(lines: Seq[(String, String)]): Seq[(String, String)] = {
    val defLine = """^\s*((?:[\w\[\]]+\s+)*)def\s+([A-Za-z_]\w*)""".r
    val linesNaming = lines.flatMap { case (_, l) => """\w+""".r.findAllIn(l).toSet }
      .groupBy(identity).view.mapValues(_.size).toMap
    lines.collect { case (at, l) => (at, defLine.findPrefixMatchOf(l)) }.collect {
      case (at, Some(m)) if !m.group(1).split("\\s+").exists(Set("override", "private", "private[this]")) &&
          linesNaming(m.group(2)) == 1 => (at, m.group(2))
    }
  }
}
