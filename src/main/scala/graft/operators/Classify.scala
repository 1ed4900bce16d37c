package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextExprs

/** Classification as a *dataflow*, not a row loop.
  *
  * The reference memoizes per-row classifier calls in a JSON dict
  * (survey_analysis.py:145-165,257-273 — 2500 answers → 278 calls). At scale
  * that memo dict becomes the single most important rewrite: classify the
  * DISTINCT (industry, question, answer) keys, not the rows, and join the
  * results back. The cache file becomes a persisted cache *table* probed with
  * a left-anti join; hits and misses are unioned and broadcast back onto the
  * fact rows. 100 TB of rows with 10^6 distinct answers costs 10^6 classifier
  * invocations, exactly like the reference's dict — but distributed.
  */
trait AnswerClassifier extends Serializable {
  /** keys: DataFrame(industry, question, answer) — distinct classification
    * keys. Returns the same columns plus (sentiment, category), one row per
    * key it was given and no others ([[Classify.applyTo]] joins back on the
    * answer alone). */
  def classify(keys: DataFrame): DataFrame
}

/** Pure-expression demo classifier (survey_analysis.py:112-141) — whole-stage
  * codegen, no shuffle, no state. */
object DemoAnswerClassifier extends AnswerClassifier {
  override def classify(keys: DataFrame): DataFrame =
    TextExprs.withClassification(keys, col("answer"), "_cls")
      .select(col("industry"), col("question"), col("answer"),
        col("_cls.sentiment").as("sentiment"), col("_cls.category").as("category"))
}

/** VADER-branch demo classifier (survey_analysis.py:118-127): sentiment
  * from the ported VADER compound score (functions.Vader), category from
  * the same keyword table as the fallback path. Pure expressions — flows
  * through the distinct-key join like every classifier, so the 7.5k-word
  * lexicon scores each distinct answer once, not each row. */
final class VaderDemoClassifier(lex: graft.functions.Vader.Lexicon)
    extends AnswerClassifier {
  override def classify(keys: DataFrame): DataFrame =
    keys.select(col("industry"), col("question"), col("answer"),
      when(TextExprs.isFiller(col("answer")), "Neutral")
        .otherwise(TextExprs.demoSentimentVader(col("answer"), lex)).as("sentiment"),
      when(TextExprs.isFiller(col("answer")), "No Feedback")
        .otherwise(TextExprs.demoCategory(col("answer"))).as("category"))
}

/** The memo-cache rewrite (survey_analysis.py:257-273 → dataflow):
  * distinct keys → hits (cache rows semi-joined with the keys) ∥ misses
  * (left-anti → inner classifier) → union. The cache table is expected small
  * relative to the data (distinct answers), so Spark will broadcast it when
  * under the threshold; at larger cache sizes this degrades gracefully to a
  * shuffled hash join on the same keys.
  *
  * Hits are a semi join of the cache, not an inner join of the keys: the
  * rows are the same (the keys are distinct), but the planner's size
  * estimate stays the cache's instead of the product of both sides, so a
  * small result joins back by broadcast as planned rather than by whichever
  * join AQE picks as the stages happen to finish.
  */
final class CacheJoinClassifier(cache: DataFrame, onMiss: AnswerClassifier)
    extends AnswerClassifier {
  private val keyCols = Seq("industry", "question", "answer")
  override def classify(keys: DataFrame): DataFrame = {
    val k = keys.select(keyCols.map(col): _*).distinct()
    val hits = cache.join(k, keyCols, "left_semi")
      .select((keyCols ++ Seq("sentiment", "category")).map(col): _*)
    val misses = k.join(cache.select(keyCols.map(col): _*), keyCols, "left_anti")
    hits.unionByName(onMiss.classify(misses))
  }
}

/** Executor-side batched remote classifier — the Spark analog of the
  * reference's OpenAI path (survey_analysis.py:171-217), kept behind a
  * transport function so it is testable offline and deterministic.
  *
  * Policy carried verbatim from the reference:
  *  - answers truncated to `maxChars` (600) ONLY for the transport call; the
  *    key keeps full text (survey_analysis.py:265 vs :259)
  *  - ≤5 attempts, exponential backoff 1,2,4,8,8 s (:189-217)
  *  - terminal failure degrades to ("Neutral","No Feedback") (:215-217)
  *  - responses normalized via normalize_sentiment; empty category →
  *    "No Feedback" (:203-211)
  *
  * Parallelism = partitions of the *distinct-key* frame — repartition the
  * (small) key set, never the fact table, to cap remote concurrency.
  */
final class RemoteBatchClassifier(
    transport: (String, String, String) => (String, String),
    maxChars: Int = 600,
    maxAttempts: Int = 5,
    backoffMillis: Seq[Long] = Seq(1000L, 2000L, 4000L, 8000L, 8000L),
    sleeper: Long => Unit = Thread.sleep,
) extends AnswerClassifier {
  override def classify(keys: DataFrame): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    val t = transport; val mc = maxChars; val ma = maxAttempts
    val bo = backoffMillis; val sl = sleeper
    keys.select("industry", "question", "answer").as[(String, String, String)]
      .mapPartitions { it =>
        it.map { case (ind, q, ans) =>
          val truncated = if (ans.length > mc) ans.substring(0, mc) else ans
          var attempt = 0
          var out: (String, String) = null
          while (out == null && attempt < ma) {
            try {
              val (s, c) = t(ind, q, truncated)
              val sent = Seq("positive", "neutral", "negative", "mixed")
                .find(_ == Option(s).getOrElse("").trim.toLowerCase)
                .map(_.capitalize).getOrElse("Neutral")
              val cat = Option(c).map(_.trim).filter(_.nonEmpty).getOrElse("No Feedback")
              out = (sent, cat)
            } catch {
              case _: Exception =>
                if (attempt < ma - 1) sl(bo(math.min(attempt, bo.length - 1)))
            }
            attempt += 1
          }
          val r = if (out == null) ("Neutral", "No Feedback") else out
          (ind, q, ans, r._1, r._2)
        }
      }
      .toDF("industry", "question", "answer", "sentiment", "category")
  }
}

/** The wire-level transport for [[RemoteBatchClassifier]]: a
  * chat-completions-style JSON POST over plain `HttpURLConnection` (JDK
  * only — executors need no extra client library), mirroring the
  * reference's request shape verbatim (survey_analysis.py:182-203): same
  * system/user prompts, model, temperature 0.1, max_tokens 40,
  * response_format json_object; the response's
  * `choices[0].message.content` is parsed as JSON `{sentiment, category}`.
  * Raw strings are returned — [[RemoteBatchClassifier]] owns normalization
  * and the retry/degrade policy; any non-2xx status or malformed body
  * throws, which is what arms that retry.
  *
  * A case class, not a lambda: instances ship to executors inside the
  * mapPartitions closure, and the Jackson mapper is rebuilt per executor
  * via @transient lazy.
  */
final case class OpenAiChatTransport(
    endpoint: String,
    apiKey: String,
    model: String = "gpt-4o-mini",
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 60000,
) extends ((String, String, String) => (String, String)) with Serializable {

  @transient private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override def apply(industry: String, question: String, answer: String): (String, String) = {
    val sysPrompt = "You are an expert CRM assistant that analyzes online customer feedback."
    val userPrompt =
      "Respond ONLY as JSON with keys 'sentiment' and 'category'.\n" +
        s"Industry: $industry\nQuestion: $question\nAnswer: $answer\n" +
        "Sentiment must be one of: Positive, Neutral, Negative, Mixed. Category should be 1 to 3 words."
    val root = mapper.createObjectNode()
    root.put("model", model)
    root.put("temperature", 0.1)
    root.put("max_tokens", 40)
    root.putObject("response_format").put("type", "json_object")
    val msgs = root.putArray("messages")
    msgs.addObject().put("role", "system").put("content", sysPrompt)
    msgs.addObject().put("role", "user").put("content", userPrompt)
    val body = mapper.writeValueAsBytes(root)

    val conn = java.net.URI.create(endpoint).toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(connectTimeoutMs)
      conn.setReadTimeout(readTimeoutMs)
      conn.setRequestProperty("Content-Type", "application/json")
      if (apiKey.nonEmpty) conn.setRequestProperty("Authorization", s"Bearer $apiKey")
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      val code = conn.getResponseCode
      if (code < 200 || code >= 300)
        throw new java.io.IOException(s"HTTP $code from $endpoint")
      val bytes = conn.getInputStream.readAllBytes()
      val content = mapper.readTree(bytes)
        .path("choices").path(0).path("message").path("content").asText("{}")
      val payload = mapper.readTree(content)
      (payload.path("sentiment").asText("Neutral"),
        payload.path("category").asText(""))
    } finally conn.disconnect()
  }
}

object Classify {
  /** The one key builder: the distinct (industry, question, answer)
    * classification keys of `df`, one set per (question label, answer
    * column) pair, where `answer` is [[TextExprs.cleanText]] of the column.
    * This is the cache table's key format. */
  def keys(df: DataFrame, industry: String, questions: Seq[(String, Column)]): DataFrame =
    questions.map { case (question, answer) =>
      df.select(lit(industry).as("industry"), lit(question).as("question"),
        TextExprs.cleanText(answer).as("answer"))
    }.reduce(_ unionByName _).distinct()

  /** Apply a classifier to a fact frame, all answer columns in one call: for
    * each (question label, answer column, output column) it classifies the
    * column's distinct keys and left-joins the results back on the cleaned
    * answer as `outCol` = struct(sentiment, category). Every column's keys
    * come from `df` itself, never from the previous join, so the plan grows
    * linearly in the number of columns. Within one column industry and
    * question are fixed, so the cleaned answer is the whole key; the result
    * is deterministic per key, so Spark task retries are safe.
    */
  def applyTo(
      df: DataFrame,
      industry: String,
      answers: Seq[(String, Column, String)],
      clf: AnswerClassifier,
  ): DataFrame = {
    val keyCols = answers.indices.map(i => s"_g_answer$i")
    // No forced broadcast: the distinct-key result is usually tiny (the
    // reference's 9x dedup) and AQE will broadcast it at runtime; at 100 TB
    // with a huge key space it degrades to a shuffled hash join instead of
    // OOMing the driver.
    answers.zip(keyCols).foldLeft(df) { case (d, ((question, answer, outCol), key)) =>
      val results = clf.classify(keys(df, industry, Seq(question -> answer)))
        .select(col("answer").as(key), struct(col("sentiment"), col("category")).as(outCol))
      d.withColumn(key, TextExprs.cleanText(answer)).join(results, Seq(key), "left")
    }.drop(keyCols: _*)
  }
}
