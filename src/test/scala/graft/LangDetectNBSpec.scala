package graft

import org.apache.spark.sql.functions._
import graft.functions.{LangDetectNB, TextExprs}

/** The langdetect-parity NB detector, evaluated where the fixture can't:
  * on real multilingual text. (The driver's documents fixture draws the
  * SAME synthetic vocabulary under every lang label — BASELINE.md — so
  * fixture accuracy measures a prior, not skill; q303/q304 pin the
  * dataflow and the oracle parity, this spec pins detection quality.) */
class LangDetectNBSpec extends SparkSpec {

  // real-text snippets, one per supported language (public pangram-style
  // sentences composed for this spec)
  private val samples: Seq[(String, String)] = Seq(
    "en" -> "The quick brown fox jumps over the lazy dog while the children watch from the garden.",
    "es" -> "El rápido zorro marrón salta sobre el perro perezoso mientras los niños miran desde el jardín.",
    "de" -> "Der schnelle braune Fuchs springt über den faulen Hund, während die Kinder aus dem Garten zuschauen.",
    "fr" -> "Le rapide renard brun saute par-dessus le chien paresseux pendant que les enfants regardent depuis le jardin.",
    "it" -> "La veloce volpe marrone salta sopra il cane pigro mentre i bambini guardano dal giardino.",
    "pt" -> "A rápida raposa marrom pula sobre o cachorro preguiçoso enquanto as crianças observam do jardim.",
    "nl" -> "De snelle bruine vos springt over de luie hond terwijl de kinderen vanuit de tuin toekijken.")

  test("NB detects all seven Latin-script languages on real text") {
    ReferenceAssets.require(ReferenceAssets.langdetectProfiles)
    samples.foreach { case (lang, text) =>
      val (pred, n) = LangDetectNB.predict(text)
      assert(pred === lang, s"$lang: got $pred")
      assert(n > 0)
    }
  }

  test("measured uplift over the stopword scan (it/pt/nl are out of its vocabulary)") {
    ReferenceAssets.require(ReferenceAssets.langdetectProfiles)
    import spark.implicits._
    val df = samples.toDF("lang", "text")
    val stop = TextExprs.withLangId(df, col("text"), "pred")
      .select("lang", "pred").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // the stopword scan only knows en/es/de/fr(/zh): it CANNOT be right on
    // it/pt/nl, and their Romance/Germanic stopword overlap misroutes them
    val stopAcc = samples.count { case (l, _) => stop(l) == l }
    val nbAcc = samples.count { case (l, t) => LangDetectNB.predict(t)._1 == l }
    assert(nbAcc === samples.size)
    assert(stopAcc < nbAcc, s"stopword=$stopAcc nb=$nbAcc")
  }

  test("deterministic: same text, same prediction and gram count") {
    ReferenceAssets.require(ReferenceAssets.langdetectProfiles)
    val a = LangDetectNB.predict(samples(3)._2)
    val b = LangDetectNB.predict(samples(3)._2)
    assert(a === b)
  }

  test("no-signal and empty inputs degrade to 'unknown'") {
    ReferenceAssets.require(ReferenceAssets.langdetectProfiles)
    assert(LangDetectNB.predict("")._1 === "unknown")
    assert(LangDetectNB.predict("12345 !!! ###")._1 === "unknown")
    assert(LangDetectNB.predict(null)._1 === "unknown")
  }

  test("gram extraction: at most a leading space, never trailing or interior") {
    val gs = LangDetectNB.grams(LangDetectNB.normalize("ab cd")).toSeq
    assert(gs.forall(g => g.last != ' ' && !g.drop(1).contains(' ')))
    // occurrences, not distinct: 'a' twice in "aa"
    val aa = LangDetectNB.grams(LangDetectNB.normalize("aa")).toSeq
    assert(aa.count(_ == "a") === 2)
    assert(aa.contains(" a") && aa.contains("aa") && aa.contains(" aa"))
  }

  test("q303 dataflow runs on the fixture; predictions cover the doc set") {
    ReferenceAssets.require(ReferenceAssets.langdetectProfiles)
    val r = SparkEntry.queries("q303_langdetect_nb")(spark, sf())
    val docs = graft.sources.Tables.table(spark, sf(), "documents").count()
    assert(r.count() === docs)
    assert(r.where(col("pred") === "unknown" && col("n_grams") > 0).count() === 0)
  }

  test("the materialized model is dense: every gram has all language rows") {
    ReferenceAssets.require(ReferenceAssets.langdetectProfiles)
    LangDetectNB.ensureModelWritten
    val m = spark.read.parquet(LangDetectNB.modelPath)
    val langs = LangDetectNB.Langs.map(_._1).toSet
    assert(m.select("lang").distinct().collect().map(_.getString(0)).toSet === langs)
    val counts = m.groupBy("gram").count()
      .select(countDistinct("count")).head().getLong(0)
    assert(counts === 1L) // same row count for every gram
  }
}
