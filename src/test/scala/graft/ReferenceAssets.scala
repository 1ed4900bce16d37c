package graft

import org.scalactic.source.Position
import org.scalatest.Assertions

/** The reference project's shipped artifacts that some specs compare
  * against, all on the read-only reference mount. Nothing that can be
  * obtained offline replaces them, so a spec states what their absence
  * means: `require` fails the test, `assume` cancels it. Either way the
  * message names every missing file. */
object ReferenceAssets {
  val Root = "/root/reference"
  val SurveyCsv = s"$Root/example_survey_large.csv"
  val GoldenWorkbook = s"$Root/Example analysis output.xlsx"
  val VaderLexicon =
    s"$Root/.venv/lib/python3.9/site-packages/vaderSentiment/vader_lexicon.txt"
  /** The shipped 278-entry memo cache (`GRAFT_REF_CACHE` overrides it). */
  def memoCache: String = SparkEntry.refCachePath
  /** langdetect's language profiles (`GRAFT_LANGDETECT_PROFILES` overrides them). */
  def langdetectProfiles: String = graft.functions.LangDetectNB.profilesDir

  private def missing(paths: Seq[String]): Option[String] =
    paths.filterNot(p => new java.io.File(p).exists) match {
      case Seq() => None
      case ms => Some(ms.map(p => s"reference asset missing: $p").mkString("; "))
    }

  /** Fails the calling test unless every path exists. */
  def require(paths: String*)(implicit pos: Position): Unit =
    missing(paths).foreach(Assertions.fail(_)(pos))

  /** Cancels the calling test unless every path exists. */
  def assume(paths: String*)(implicit pos: Position): Unit =
    missing(paths).foreach(Assertions.cancel(_)(pos))
}
