package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Lexicons, TextExprs}
import graft.operators.SurveyPipeline
import graft.queries.QueryHelpers._

/** The reference pipeline's own dataflow (clean -> classify -> pivot)
  * re-expressed on the documents corpus.
  *
  * Query/oracle pairs split out of the SparkEntry book (round 13);
  * aggregated by [[graft.SparkEntry]]. Conventions in QueryHelpers. */
private[graft] object SurveyQueries extends QueryBook {

  /** q312's deterministic complaint injection: (doc_id residue, appended
    * tail). First matching residue wins (a CASE chain in both engines).
    * Tails are chosen to hit the reference's negative lexicon plus three
    * distinct category keyword families (Shipping / Price / Support) —
    * the synthetic corpus itself contains no negative-lexicon word, so
    * without them the complaint mine is empty. Lexicon-twin constants:
    * the SAME pairs build the Spark CASE and the DuckDB CASE. */
  private val complaintTails: Seq[(Int, String)] = Seq(
    7 -> " entrega delayed and late",
    11 -> " too expensive price tag",
    13 -> " awful support refund process")

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q20_clean_filler" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextExprs.cleanText(col("text")).as("clean_text"),
        TextExprs.isFiller(col("text")).as("is_filler"))
    }),

    "q21_classify_demo" -> ((s, dir) => {
      TextExprs.withClassification(t(s, dir, "documents"), col("text"), "_cls")
        .select(col("doc_id"),
          col("_cls.sentiment").as("sentiment"),
          col("_cls.category").as("category"))
    }),

    "q22_summary_pivot" -> ((s, dir) => {
      TextExprs.withClassification(t(s, dir, "documents"), col("text"), "_cls")
        .select(col("source").as("Product"), col("lang").as("Question"),
          col("_cls.sentiment").as("Sentiment"))
        .groupBy("Product", "Question")
        .pivot("Sentiment", Lexicons.SentimentOrder)
        .count()
        .na.fill(0, Lexicons.SentimentOrder)
    }),

    "q23_explode_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(TextExprs.cleanText(col("text")), " ")).as("token"))
        .where(col("token") =!= "")
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
    }),

    "q33_survey_wide" -> ((s, dir) => {
      // flagship reference parity: survey-shaped frame → explode(products) →
      // staged classify → wide triplet columns (O5/O6/O8/O9/O10)
      val survey = t(s, dir, "documents").select(
        col("doc_id").cast("string").as("Email"),
        col("source").as("Name"),
        concat_ws(",", col("source"), col("lang")).as("Products"),
        col("text").as("Q Feedback"))
      SurveyPipeline.analyzeWide(survey, "retail", idCol = Some(col("Email")))
    }),

    "q38_summary_unpivot" -> ((s, dir) => {
      // reference O11-O13 end-to-end: multi-question wide frame → unpivot
      // (melt *_Sentiment) → group-count → fixed-order pivot
      val survey = t(s, dir, "documents").select(
        col("doc_id").cast("string").as("Email"),
        col("source").as("Name"),
        concat_ws(",", col("source"), col("lang")).as("Products"),
        col("text").as("Q Feedback"),
        substring(col("text"), 1, 80).as("Q Short"))
      SurveyPipeline.buildSummary(
        SurveyPipeline.analyzeWide(survey, "retail", idCol = Some(col("Email"))))
    }),

    "q312_top_complaint_themes" -> ((s, dir) => {
      // The reference README's "top complaint themes per product" —
      // described at README.md:26-27 but absent from survey_analysis.py;
      // implemented r14 as SurveyPipeline.topThemes over the q38
      // two-question wide frame: Negative answers' categories counted per
      // product, top-3 by (count desc, theme asc). The synthetic corpus
      // carries none of the reference's negative lexicon, so deterministic
      // complaint tails are appended to Q Feedback by doc_id residue
      // (`complaintTails` — the q82 fixture-shaping precedent, injected
      // into BOTH engines from the same constants).
      val tail = complaintTails.foldLeft(when(lit(false), lit(""))) {
        case (acc, (m, t)) => acc.when(pmod(col("doc_id"), lit(m)) === 0, lit(t))
      }.otherwise(lit(""))
      val survey = t(s, dir, "documents").select(
        col("doc_id").cast("string").as("Email"),
        col("source").as("Name"),
        concat_ws(",", col("source"), col("lang")).as("Products"),
        concat(col("text"), tail).as("Q Feedback"),
        substring(col("text"), 1, 80).as("Q Short"))
      SurveyPipeline.topThemes(
          SurveyPipeline.analyzeWide(survey, "retail", idCol = Some(col("Email"))), 3)
        .select(col("Product"), col("theme"), col("n_complaints"),
          col("rank").cast("long").as("rank"))
    }),

    "q323_stream_classified_summary" -> ((s, dir) => {
      // SURVEY.md §7.6's flagship made oracle-real: the reference's
      // classify → aggregate dataflow streamed. Documents replay as a
      // 4-batch file stream; each micro-batch runs the SAME cache-join
      // classify shape (EventStreams.classifiedSummary with the
      // pure-expression demo classifier — zero network) and appends
      // long-form (product, sentiment, n, batch_id). Per-batch counts
      // depend on batch membership, but their SUM per (product,
      // sentiment) equals the one-shot batch classification regardless of
      // the split — which is what the read-back aggregates and DuckDB
      // twins via the q22 sentiment CTE. The q312 complaint tails are
      // injected so the gate sees real Negative/Positive traffic, not an
      // all-Neutral corpus.
      val tail = complaintTails.foldLeft(when(lit(false), lit(""))) {
        case (acc, (m, t)) => acc.when(pmod(col("doc_id"), lit(m)) === 0, lit(t))
      }.otherwise(lit(""))
      val docs = t(s, dir, "documents").select(
        col("doc_id"), col("source").as("product"),
        concat(col("text"), tail).as("answer"))
      streamReplay(s, "q323", modSlices(docs, "doc_id", 4), 4) { (stream, ckpt, out) =>
        graft.streaming.EventStreams.classifiedSummary(stream, "retail",
          graft.operators.DemoAnswerClassifier, out, ckpt)
      }
        .groupBy("product", "sentiment")
        .agg(sum("n").as("n_answers"))
    }),

    "q122_cached_api_classify" -> ((s, dir) => {
      // The reference's API-classify dataflow under the driver's hash gate
      // (previously spec-only): CacheJoinClassifier probes the reference's
      // SHIPPED 278-entry memo cache (/root/reference/.analysis_cache.json,
      // read as DATA and parsed driver-side — fixture-sized, the bounded-
      // collect license) as a cache TABLE, with RemoteBatchClassifier as
      // the on-miss path behind a transport that THROWS: zero network by
      // construction. The run only hash-matches the oracle if the cache
      // join produces ZERO misses — any miss would take the retry ladder
      // to the (Neutral, No Feedback) degrade and change the output. At
      // 100 TB the cache is a parquet table and the same anti-join/union
      // dataflow degrades from broadcast to shuffled hash join (Classify
      // scaladoc); the fixture keeps the full dataflow, shrunk. The path
      // is a knob (GRAFT_REF_CACHE) and every entry's shape is validated
      // up front, so a missing checkout or a malformed entry is a clear
      // fixture error, not an AIOOBE from deep inside the parse.
      val cacheFile = new java.io.File(refCachePath)
      require(cacheFile.isFile,
        s"q122 fixture cache not found at $cacheFile — set GRAFT_REF_CACHE " +
          "to the reference's .analysis_cache.json")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val rootNode = mapper.readTree(cacheFile)
      import scala.jdk.CollectionConverters._
      val entries = rootNode.properties().asScala.map { e =>
        val parts = e.getKey.split("\\Q|||\\E", 3)
        require(parts.length == 3,
          s"q122 cache key lacks the industry|||question|||answer shape: '${e.getKey}'")
        require(e.getValue.isArray && e.getValue.size() >= 2,
          s"q122 cache value for '${e.getKey}' is not a [sentiment, category] array")
        (parts(0), parts(1), parts(2),
          e.getValue.get(0).asText, e.getValue.get(1).asText)
      }.toSeq
      val sp = s
      import sp.implicits._
      val cache = entries.toDF("industry", "question", "answer", "sentiment", "category")
      val keys = cache.select("industry", "question", "answer")
      val noNetwork = new graft.operators.RemoteBatchClassifier(
        transport = (_, _, _) =>
          throw new java.io.IOException("no network in fixture mode"),
        maxAttempts = 1, sleeper = _ => ())
      new graft.operators.CacheJoinClassifier(cache, noNetwork).classify(keys)
    }),
  )

  val oracleSql: ListMap[String, String] = ListMap(
      "q20_clean_filler" ->
        s"""SELECT doc_id, ${cleanSql("text")} AS clean_text,
           | ${isFillerSql("text")} AS is_filler
           |FROM documents""".stripMargin,

      "q21_classify_demo" ->
        s"""$classifiedCte
           |SELECT doc_id,
           | ${sentimentSql(isFillerSql(cln), low)} AS sentiment,
           | ${categorySql(isFillerSql(cln), low)} AS category
           |FROM c2""".stripMargin,

      "q22_summary_pivot" ->
        s"""$classifiedCte,
           |cls AS (SELECT source, lang,
           |  ${sentimentSql(isFillerSql(cln), low)} AS sentiment FROM c2)
           |SELECT source AS "Product", lang AS "Question",
           | count(*) FILTER (WHERE sentiment = 'Positive') AS "Positive",
           | count(*) FILTER (WHERE sentiment = 'Neutral') AS "Neutral",
           | count(*) FILTER (WHERE sentiment = 'Negative') AS "Negative",
           | count(*) FILTER (WHERE sentiment = 'Mixed') AS "Mixed"
           |FROM cls GROUP BY source, lang""".stripMargin,

      "q23_explode_tokens" ->
        s"""SELECT token, count(*) AS n FROM (
           |  SELECT unnest(string_split(${cleanSql("text")}, ' ')) AS token FROM documents)
           |WHERE token <> '' GROUP BY token""".stripMargin,

      "q33_survey_wide" ->
        s"""$classifiedCte
           |SELECT CAST(doc_id AS VARCHAR) AS "ResponseID",
           | trim(unnest(string_split(source || ',' || lang, ','))) AS "Product",
           | $cln AS "Q_Feedback_Answer",
           | ${sentimentSql(isFillerSql(cln), low)} AS "Q_Feedback_Sentiment",
           | ${categorySql(isFillerSql(cln), low)} AS "Q_Feedback_Category"
           |FROM c2""".stripMargin,

      "q38_summary_unpivot" -> {
        val cln1 = cleanSql("text"); val cln2 = cleanSql("substring(text, 1, 80)")
        s"""WITH c1 AS (SELECT source, lang, $cln1 AS cln1, $cln2 AS cln2 FROM documents),
           |c2 AS (SELECT *, lower(cln1) AS low1, lower(cln2) AS low2 FROM c1),
           |w AS (
           |  SELECT trim(unnest(string_split(source || ',' || lang, ','))) AS "Product",
           |   'Q_Feedback' AS "Question",
           |   ${sentimentSql(isFillerSql("cln1"), "low1")} AS sent
           |  FROM c2
           |  UNION ALL
           |  SELECT trim(unnest(string_split(source || ',' || lang, ','))) AS "Product",
           |   'Q_Short' AS "Question",
           |   ${sentimentSql(isFillerSql("cln2"), "low2")} AS sent
           |  FROM c2)
           |SELECT "Product", "Question",
           | count(*) FILTER (WHERE sent = 'Positive') AS "Positive",
           | count(*) FILTER (WHERE sent = 'Neutral') AS "Neutral",
           | count(*) FILTER (WHERE sent = 'Negative') AS "Negative",
           | count(*) FILTER (WHERE sent = 'Mixed') AS "Mixed"
           |FROM w GROUP BY 1, 2""".stripMargin
      },

      "q312_top_complaint_themes" -> {
        val tailCase = "CASE " + complaintTails.map { case (m, t) =>
          s"WHEN doc_id % $m = 0 THEN '$t'" }.mkString(" ") + " ELSE '' END"
        val cln1 = cleanSql(s"text || $tailCase")
        val cln2 = cleanSql("substring(text, 1, 80)")
        s"""WITH c1 AS (SELECT source, lang, $cln1 AS cln1, $cln2 AS cln2 FROM documents),
           |c2 AS (SELECT *, lower(cln1) AS low1, lower(cln2) AS low2 FROM c1),
           |w AS (
           |  SELECT trim(unnest(string_split(source || ',' || lang, ','))) AS "Product",
           |   ${sentimentSql(isFillerSql("cln1"), "low1")} AS sent,
           |   ${categorySql(isFillerSql("cln1"), "low1")} AS theme
           |  FROM c2
           |  UNION ALL
           |  SELECT trim(unnest(string_split(source || ',' || lang, ','))) AS "Product",
           |   ${sentimentSql(isFillerSql("cln2"), "low2")} AS sent,
           |   ${categorySql(isFillerSql("cln2"), "low2")} AS theme
           |  FROM c2),
           |n AS (SELECT "Product", theme, CAST(count(*) AS BIGINT) AS n_complaints
           |  FROM w WHERE sent = 'Negative' GROUP BY 1, 2)
           |SELECT "Product", theme, n_complaints,
           | row_number() OVER (PARTITION BY "Product"
           |   ORDER BY n_complaints DESC, theme) AS rank
           |FROM n
           |QUALIFY rank <= 3""".stripMargin
      },

      "q323_stream_classified_summary" -> {
        val tailCase = "CASE " + complaintTails.map { case (m, t) =>
          s"WHEN doc_id % $m = 0 THEN '$t'" }.mkString(" ") + " ELSE '' END"
        s"""WITH c1 AS (SELECT source, ${cleanSql(s"text || $tailCase")} AS cln FROM documents),
           |c2 AS (SELECT source, cln, lower(cln) AS low FROM c1)
           |SELECT source AS product,
           | ${sentimentSql(isFillerSql("cln"), "low")} AS sentiment,
           | CAST(count(*) AS BIGINT) AS n_answers
           |FROM c2 GROUP BY 1, 2""".stripMargin
      },

      // the same JSON fixture parsed in SQL: JSON object -> MAP entries;
      // the key splits on the reference's '|||' delimiter (answer keeps
      // any further delimiters via the rejoin)
      "q122_cached_api_classify" ->
        s"""WITH raw AS (SELECT content
          |  FROM read_text('$refCachePath')),
          |kv AS (SELECT unnest(map_entries(
          |   content::JSON::MAP(VARCHAR, VARCHAR[]))) AS e FROM raw)
          |SELECT string_split(e.key, '|||')[1] AS industry,
          | string_split(e.key, '|||')[2] AS question,
          | array_to_string(string_split(e.key, '|||')[3:], '|||') AS answer,
          | e.value[1] AS sentiment, e.value[2] AS category
          |FROM kv""".stripMargin,
  )
}
