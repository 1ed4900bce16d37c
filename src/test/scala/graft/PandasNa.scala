package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.SurveyPipeline

/** The reference's pandas NA step, for the specs that compare with its
  * shipped artifacts. The reference reads the CSV with pandas and then
  * `str()`-ifies each answer (survey_analysis.py:283), so a missing or
  * sentinel cell ("N/A", "NULL", …) becomes the LITERAL string "nan" in its
  * wide frame, and the golden workbook carries those cells. "nan" is in
  * FILLER_VALUES (:60), so classification is unaffected; only the displayed
  * answer text differs. The engine keeps real nulls. */
object PandasNa {

  /** pandas `read_csv`'s default NA sentinels. */
  private val Values: Seq[String] = Seq(
    "", "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None",
    "n/a", "nan", "null")

  /** `df` with every question cell pandas would read as NaN set to "nan". */
  def apply(df: DataFrame): DataFrame = {
    val qset = SurveyPipeline.questionColumns(df).toSet
    df.select(df.columns.map { c =>
      if (qset(c)) when(col(c).isNull || col(c).isin(Values: _*), lit("nan")).otherwise(col(c)).as(c)
      else col(c)
    }: _*)
  }
}
