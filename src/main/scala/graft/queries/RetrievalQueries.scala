package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextExprs, VectorExprs}
import graft.operators.Retrieval
import graft.queries.QueryHelpers._

/** Retrieval scoring: TF-IDF, BM25, phrase search, fusion,
  * reranking, ranking metrics.
  *
  * Query/oracle pairs split out of the SparkEntry book (round 13);
  * aggregated by [[graft.SparkEntry]]. Conventions in QueryHelpers. */
private[graft] object RetrievalQueries extends QueryBook {

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q51_tfidf" -> ((s, dir) => {
      Retrieval.tfidfTopK(t(s, dir, "documents"), col("doc_id"), col("text"), k = 3)
    }),

    "q52_bm25" -> ((s, dir) => {
      Retrieval.bm25(t(s, dir, "documents"), col("doc_id"), col("text"),
        terms = Seq("spark", "vector", "stream"))
    }),

    "q344_lex_index_query" -> ((s, dir) => {
      // Build-once / query-many BM25 (operators.LexIndex — the q123
      // discipline for LEXICAL retrieval): postings (+denormalized dl),
      // dict, and corpus stats are WRITTEN as a parquet artifact, then
      // the query is answered entirely from the store — the only scan is
      // the postings table, partition-pruned to the terms' hash buckets,
      // with zero documents-table reads and zero corpus-wide aggregates
      // on the query path (PlanSpec pins all three). Built from the same
      // tokenize pass as q52, the round trip reproduces q52's scores, so
      // the oracle is q52's twin verbatim.
      val ixDir = s"target/lex_index/${new java.io.File(dir).getName}"
      graft.operators.LexIndex.build(
        t(s, dir, "documents"), col("doc_id"), col("text"), ixDir)
      graft.operators.LexIndex.query(s, ixDir,
        terms = Seq("spark", "vector", "stream"))
    }),

    "q346_lex_index_upsert" -> ((s, dir) => {
      // Lexical-index INGEST (q129's incremental contract on the BM25
      // artifact): the index is built on the standing corpus (doc_id % 10
      // != 0), the fresh batch is APPENDED — new postings land as new
      // bucket files, dict dfreq merges additively, and the corpus stats
      // recombine as exact integer totals, so build(A)+append(B) is
      // BIT-IDENTICAL to build(A∪B) — and the query must reproduce the
      // full-corpus q52 scores, which is exactly what the twin checks.
      // The standing postings are never read or rewritten by the ingest.
      val ixDir = s"target/lex_index_upsert/${new java.io.File(dir).getName}"
      val docs = t(s, dir, "documents")
      graft.operators.LexIndex.build(
        docs.where(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"), ixDir)
      graft.operators.LexIndex.append(s, ixDir,
        docs.where(col("doc_id") % 10 === 0), col("doc_id"), col("text"))
      // maintenance pass under the same hash gate (the q129 discipline):
      // rewriting the multi-fragment buckets (build + append = 2 files
      // each) must be invisible to the query — compact ≡ append ≡ build
      graft.operators.LexIndex.compact(s, ixDir, maxFragments = 1)
      graft.operators.LexIndex.query(s, ixDir,
        terms = Seq("spark", "vector", "stream"))
    }),

    "q347_lex_query_table" -> ((s, dir) => {
      // BATCHED query-table retrieval (VERDICT r16 #1 — the production
      // grain): 64 queries answered from the persisted BM25 artifact with
      // ONE postings scan and ZERO per-query driver work. queryMany
      // explodes the term arrays, buckets them IN THE PLAN with the
      // artifact's stored xxhash64 modulus, equi-joins postings on
      // (tok_bucket, token) with the query side broadcast, and aggregates
      // per (query, doc) — at 100 TB ten thousand queries ride one
      // artifact pass instead of ten thousand round trips. Top-10 per
      // query on the rounded score, doc_id tie-break (deterministic).
      // The query table is a shared Scala constant; the oracle's VALUES
      // are generated from the SAME constant.
      val ixDir = s"target/lex_index_many/${new java.io.File(dir).getName}"
      graft.operators.LexIndex.build(
        t(s, dir, "documents"), col("doc_id"), col("text"), ixDir)
      val sp = s
      import sp.implicits._
      val q = manyQueries.toDF("query_id", "terms")
      graft.operators.LexIndex.queryMany(s, ixDir, q, k = 10)
        .select(col("query_id").as("qid"), col("rnk"), col("doc_id"),
          col("score"))
    }),

    "q348_hybrid_artifacts" -> ((s, dir) => {
      // ARTIFACT-ONLY hybrid retrieval (VERDICT r16 #2): the persisted
      // BM25 inverted index (q344) and the persisted IVFADC index (q123)
      // composed into RRF top-k — the answer path reads ONLY the two
      // stored artifacts (Round17Spec pins zero documents/embeddings
      // scans in the plan). The probe vector is the query INPUT (one
      // bounded head() at setup — in production it arrives from outside
      // the corpus); the lexical pool is LexIndex.query's top-50 on the
      // rounded score, the dense pool is AnnIndex.query's ADC top-50 over
      // 2 probed cells, and the fusion is q273's RRF arithmetic on the
      // two bounded pools (triangular rank join — zero-window posture).
      val (lexDir, annDir, qvs) = hybridArtifacts(s, dir, "", 1)
      val sp = s
      import sp.implicits._
      val kPool = 50
      // queryMany on a one-row query table returns the top-50 WITH ranks
      // from one artifact scan (review r17: the previous triangular
      // self-join re-executed the whole pool twice to rank 50 rows)
      val lex = graft.operators.LexIndex.queryMany(s, lexDir,
          Seq((0L, Seq("spark", "vector", "stream"))).toDF("query_id", "terms"),
          k = kPool)
        .select(col("doc_id"), col("rnk").as("lex_rank"))
      val dense = graft.operators.AnnIndex.query(s, annDir,
          qvs.toDF("query_id", "qv"), k = kPool, nProbe = 2)
        .select(col("corpus_id").as("doc_id"), col("rnk").as("dense_rank"))
      lex.join(dense, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
          coalesce(col("dense_rank"), lit(0L)).as("dense_rank"),
          round(
            when(col("lex_rank").isNotNull, lit(1.0) / (col("lex_rank") + 60))
              .otherwise(0.0) +
            when(col("dense_rank").isNotNull, lit(1.0) / (col("dense_rank") + 60))
              .otherwise(0.0), 6).as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("doc_id").asc).limit(20)
    }),

    "q352_hybrid_query_table" -> ((s, dir) => {
      // BATCHED artifact-only hybrid — the full production retrieval
      // grain, closing the story q347 and q348 each tell half of: a
      // query TABLE (8 queries, each with a term list AND a query
      // vector) answered from the two persisted indexes with ONE
      // postings scan (LexIndex.queryMany) + ONE codes probe
      // (AnnIndex.query), RRF-fused per query, top-10 per query. The
      // query vectors are bounded INPUT (8-row collect at setup); the
      // answer path never scans documents or embeddings. At 100 TB this
      // is the retrieval service's nightly batch: thousands of queries,
      // two artifact passes, zero corpus passes.
      val (lexDir, annDir, qvs) = hybridArtifacts(s, dir, "q", 8)
      val sp = s
      import sp.implicits._
      val kPool = 50
      val lex = graft.operators.LexIndex.queryMany(s, lexDir,
          manyQueries.take(8).toDF("query_id", "terms"), k = kPool)
        .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rank"))
      val dense = graft.operators.AnnIndex.query(s, annDir,
          qvs.toDF("query_id", "qv"), k = kPool, nProbe = 2)
        .select(col("query_id"), col("corpus_id").as("doc_id"),
          col("rnk").as("dense_rank"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("rrf_score").desc, col("doc_id").asc)
      lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"),
          coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
          coalesce(col("dense_rank"), lit(0L)).as("dense_rank"),
          round(
            when(col("lex_rank").isNotNull, lit(1.0) / (col("lex_rank") + 60))
              .otherwise(0.0) +
            when(col("dense_rank").isNotNull, lit(1.0) / (col("dense_rank") + 60))
              .otherwise(0.0), 6).as("rrf_score"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 10)
        .select(col("query_id").as("qid"), col("rnk"), col("doc_id"),
          col("lex_rank"), col("dense_rank"), col("rrf_score"))
    }),

    "q350_lex_index_ingest" -> ((s, dir) => {
      // INDEX-AT-INGEST (VERDICT r16 #4): LexIndex composed into the
      // replay rig — each micro-batch of the document stream is committed
      // into the persisted BM25 artifact inside foreachBatch (batch 0
      // builds, later batches append under the manifest-commit protocol;
      // one commit per batch, the q345 scrub-at-ingest posture applied to
      // indexing). Exact-integer additive stats make the stream-built
      // artifact answer IDENTICALLY to a one-shot full-corpus build, so
      // the query twin is q52's verbatim — any batch double-ingested or
      // lost by the commit protocol breaks the hash.
      val ixDir = s"target/lex_index_ingest/${new java.io.File(dir).getName}"
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      streamReplay(s, "q350", modSlices(docs, "doc_id", 4), 4) { (stream, ckpt, out) =>
        graft.streaming.EventStreams.indexedIngest(stream, ixDir, out, ckpt)
      }
      graft.operators.LexIndex.query(s, ixDir,
        terms = Seq("spark", "vector", "stream"))
    }),

    "q132_phrase_search" -> ((s, dir) => {
      // Exact phrase search over positional postings (the inverted-index
      // adjacency-anchor algorithm) with a bounded per-phrase top-k —
      // the retrieval-side complement of q52's BM25 bag-of-words scoring.
      // The phrase list is a shared Scala constant; the oracle SQL is
      // generated from the SAME constant so the two sides cannot drift.
      graft.operators.Retrieval.phraseSearch(
          t(s, dir, "documents"), col("doc_id"), col("text"),
          phraseQueries, k = 20)
        .select(col("phrase"), col("rank").as("rnk"), col("doc_id"), col("n_hits"))
    }),

    "q143_retrieve_rerank" -> ((s, dir) => {
      // The full two-stage retrieval stack in ONE query: SPARSE retrieve
      // (q52's BM25 over the token stream) → bounded top-20 pool on the
      // ROUNDED score → DENSE diversify (q118's greedy MMR over the
      // pool's embeddings, driver-side on the k² = 400 bounded sims).
      // This is the retrieve-then-rerank architecture every RAG/search
      // stack runs; both stages already exist as operators — this query
      // is their composition, and the corpus-sized work remains entirely
      // in the BM25 stage.
      val lam = 0.7
      val bm = Retrieval.bm25(t(s, dir, "documents"), col("doc_id"), col("text"),
        terms = Seq("spark", "vector", "stream"))
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding").cast("array<double>").as("v"))
      val pool = bm.join(emb, "doc_id")
        .orderBy(col("score").desc, col("doc_id").asc).limit(20)
        .collect()
      val cand = pool.toSeq.map(r =>
        (r.getLong(0), r.getDouble(1), r.getSeq[Double](2)))
      val sp = s
      import sp.implicits._
      graft.operators.Mmr.rerank(cand, k = 5, lam = lam)
        .toDF("rnk", "doc_id", "mmr_score")
    }),

    "q154_ranking_ndcg" -> ((s, dir) => {
      // Ranking EVALUATION: nDCG@20 of the q133 quality score against
      // the gold source labels — does the filter's ORDERING concentrate
      // the positives at the top (complement of q145's calibration,
      // which checks the probabilities)? The rank is GlobalRank's range
      // exchange; DCG reads 20 rows; the ideal DCG closed form comes
      // from a 20-row range, never a second corpus pass.
      val posSources = (0 to 4).map(i => s"src$i")
      val docs = t(s, dir, "documents")
      val scored = graft.operators.TextAnalysis.hashNbClassifier(
        docs, col("doc_id"), col("text"), col("source").isin(posSources: _*))
      val lab = scored.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("quality_w"),
          when(col("source").isin(posSources: _*), 1L).otherwise(0L).as("y"))
        .localCheckpoint(true) // slim per-doc manifest; rank + n_pos read it
      val ranked = graft.operators.GlobalRank.withRowNumber(lab,
        Seq(col("quality_w").desc, col("doc_id").asc), "_rn")
      val dcg = ranked.where(col("_rn") <= 20)
        .agg(sum(col("y").cast("double") / log2(col("_rn") + 1)).as("_dcg"))
      val npos = lab.agg(sum("y").as("_np"))
      val idcg = s.range(1, 21).crossJoin(broadcast(npos))
        .where(col("id") <= least(col("_np"), lit(20L)))
        .agg(sum(lit(1.0) / log2(col("id") + 1)).as("_idcg"))
      dcg.crossJoin(broadcast(npos)).crossJoin(broadcast(idcg))
        .select(lit(20L).as("k"), col("_np").as("n_pos"),
          round(col("_dcg"), 6).as("dcg"),
          round(col("_idcg"), 6).as("idcg"),
          round(col("_dcg") / col("_idcg"), 6).as("ndcg"))
    }),

    "q165_hard_negatives" -> ((s, dir) => {
      // HARD-NEGATIVE mining for retrieval training (the lexical
      // counterpart of q117's embedding triplets): per query, the
      // top-scoring documents that do NOT satisfy the relevance proxy
      // (here: contain BOTH query terms) — exactly the near-miss
      // negatives a reranker/bi-encoder needs. BM25 arithmetic is q52's
      // (k1=1.2, b=0.75); queries are 2-term so every per-doc score is
      // one order-safe two-double sum; ranking is a per-query
      // PARTITIONED window over the scored stream. One tokenize pass;
      // the query-term table broadcasts.
      val sp = s
      import sp.implicits._
      val qt = Seq((1L, "spark"), (1L, "join"), (2L, "vector"),
        (2L, "stream"), (3L, "batch"), (3L, "window")).toDF("qid", "token")
      val tf = graft.operators.Retrieval.termFreqs(
        t(s, dir, "documents"), col("doc_id"), col("text"))
        .localCheckpoint(true) // read by doc lengths AND the score join
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val stats = dl.agg(count(lit(1)).cast("double").as("_nd"),
        avg("dl").as("_avgdl"))
      val matches = tf.join(broadcast(qt), "token")
      // (doc_id, token) is unique in tf, so a row count IS the doc freq
      val dfreq = tf.join(broadcast(qt.select("token").distinct()), "token")
        .groupBy("token").agg(count(lit(1)).as("dfreq"))
      val idf = log(lit(1.0) + (col("_nd") - col("dfreq") + 0.5)
        / (col("dfreq") + 0.5))
      val norm = col("tf") + lit(1.2) * (lit(0.25) + lit(0.75)
        * col("dl") / col("_avgdl"))
      val sc = matches
        .join(broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("_s", idf * col("tf") * 2.2 / norm)
        .groupBy("qid", "doc_id")
        .agg(sum("_s").as("_sum"), countDistinct("token").as("_nm"))
      val w = Window.partitionBy("qid")
        .orderBy(round(col("_sum"), 6).desc, col("doc_id").asc)
      sc.where(col("_nm") < 2)
        .select(col("qid"), col("doc_id"), round(col("_sum"), 6).as("score"),
          row_number().over(w).as("rnk"))
        .where(col("rnk") <= 5)
        .select(col("qid"), col("rnk").cast("long").as("rnk"),
          col("doc_id"), col("score"))
    }),

    "q234_phrase_search" -> ((s, dir) => {
      // Positional phrase search — the inverted-index primitive BM25
      // (q52/q132) can't express: "A B" matches only where the terms are
      // ADJACENT. The engine side builds positional postings (token,
      // doc, pos) once and answers each phrase with an equi-join of the
      // two term posting lists on (doc, pos+1) — the indexed path that
      // at 100 TB reads two posting lists, never the corpus text. The
      // oracle proves the same result by per-doc bigram scanning.
      val posts = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(TextExprs.cleanText(col("text"))), " ")))
        .toDF("doc_id", "pos", "tok")
      val phrases = Seq("fast table", "table table", "spark window")
      phrases.map { ph =>
        val Array(a, b) = ph.split(" ")
        posts.where(col("tok") === a).as("pa")
          .join(posts.where(col("tok") === b).as("pb"),
            col("pa.doc_id") === col("pb.doc_id") &&
              col("pb.pos") === col("pa.pos") + 1)
          .agg(countDistinct(col("pa.doc_id")).as("n_docs"),
            count(lit(1)).as("n_occurrences"))
          .select(lit(ph).as("phrase"), col("n_docs"), col("n_occurrences"))
      }.reduce(_ unionAll _)
    }),

    "q273_rrf_fusion" -> ((s, dir) => {
      // Hybrid-search fusion: Reciprocal Rank Fusion (Cormack 2009) of
      // the sparse BM25 list and the dense cosine list — ranks, not
      // scores, so the incompatible scales never need calibration.
      // Both lists are bounded top-50 pools cut on ROUNDED scores with
      // doc_id tie-breaks (TakeOrderedAndProject — deterministic sets,
      // never a global sort); ranks come from the 50²-bounded
      // triangular self-join (zero-window posture), the fused score is
      // a two-term sum, and absent-from-list is an explicit rank 0.
      val kPool = 50
      def rank(df: DataFrame, score: String, name: String): DataFrame =
        df.as("a").join(df.select(col("doc_id").as("_bid"),
            col(score).as("_bs")).as("b"),
            col("_bs") > col(score) ||
            (col("_bs") === col(score) && col("_bid") < col("doc_id")), "left")
          .groupBy(col("doc_id"))
          .agg((count(col("_bid")) + 1L).as(name))
      val lex = Retrieval.bm25(t(s, dir, "documents"), col("doc_id"),
          col("text"), terms = Seq("spark", "vector", "stream"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(kPool)
        .localCheckpoint()
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("v"))
      val probe = broadcast(emb.where(col("doc_id") === 0)
        .select(col("v").as("q")))
      val dense = emb.crossJoin(probe)
        .select(col("doc_id"),
          round(VectorExprs.cosine(col("v"), col("q")), 6).as("cos"))
        .orderBy(col("cos").desc, col("doc_id").asc).limit(kPool)
        .localCheckpoint()
      rank(lex, "score", "lex_rank")
        .join(rank(dense, "cos", "dense_rank"), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
          coalesce(col("dense_rank"), lit(0L)).as("dense_rank"),
          round(
            when(col("lex_rank").isNotNull, lit(1.0) / (col("lex_rank") + 60))
              .otherwise(0.0) +
            when(col("dense_rank").isNotNull, lit(1.0) / (col("dense_rank") + 60))
              .otherwise(0.0), 6).as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("doc_id").asc).limit(20)
    }),
  )

  val oracleSql: ListMap[String, String] = ListMap(
      "q51_tfidf" ->
        s"""WITH tok AS (SELECT doc_id,
           |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS token FROM documents),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           |  WHERE token <> '' GROUP BY doc_id, token),
           |n AS (SELECT count(*) AS n FROM documents),
           |dfq AS (SELECT token, count(*) AS dfreq FROM tf GROUP BY token),
           |sc AS (SELECT tf.doc_id, tf.token,
           |   round(tf.tf * ln((n.n + 1.0) / (dfq.dfreq + 1.0)), 4) AS score
           |  FROM tf JOIN dfq USING (token) CROSS JOIN n)
           |SELECT doc_id, token, score,
           | row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rnk
           |FROM sc QUALIFY rnk <= 3""".stripMargin,

      "q52_bm25" -> bm25Sql,

      // q344 is q52's build+query round trip through the stored postings
      // artifact — scores must be bit-identical, so the twin is q52's
      "q344_lex_index_query" -> bm25Sql,

      // q346 is build(90%)+append(10%)+query: additive stats make the
      // upsert bit-identical to a full build, so the twin is again q52's
      "q346_lex_index_upsert" -> bm25Sql,

      // q350 streams the corpus through build+append (4 micro-batch
      // commits); the stream-built artifact must answer exactly like a
      // one-shot build, so the twin is once more q52's verbatim
      "q350_lex_index_ingest" -> bm25Sql,

      // q347: bm25Sql generalized to the query-table grain — the VALUES
      // are generated from the SAME manyQueries constant the engine runs
      "q347_lex_query_table" -> {
        val qvals = manyQueries.flatMap { case (qid, ts) =>
          ts.map(t => s"($qid, '$t')")
        }.mkString(", ")
        s"""WITH tok AS (SELECT doc_id,
           |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS token FROM documents),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           |  WHERE token <> '' GROUP BY doc_id, token),
           |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
           |st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dl),
           |qt(qid, token) AS (SELECT * FROM (VALUES $qvals)),
           |dfq AS (SELECT token, count(*) AS dfreq FROM tf GROUP BY token),
           |sc AS (SELECT qt.qid, tf.doc_id,
           |   ln(1.0 + (st.nd - dfq.dfreq + 0.5) / (dfq.dfreq + 0.5))
           |     * tf.tf * (1.2 + 1.0)
           |     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS s
           |  FROM tf JOIN qt USING (token) JOIN dfq USING (token)
           |  JOIN dl USING (doc_id) CROSS JOIN st),
           |ag AS (SELECT qid, doc_id, round(sum(s), 4) AS score FROM sc
           |  GROUP BY 1, 2)
           |SELECT CAST(qid AS BIGINT) AS qid,
           | CAST(row_number() OVER (PARTITION BY qid
           |   ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk,
           | doc_id, score
           |FROM ag QUALIFY rnk <= 10""".stripMargin
      },

      // q352: the q347 per-query bm25 chain cut to top-50 per query,
      // fused with the 8-query IVFADC chain (ivfadcOracle at k=50) by
      // the same RRF arithmetic, top-10 per query
      "q352_hybrid_query_table" -> {
        val qvals = manyQueries.take(8).flatMap { case (qid, ts) =>
          ts.map(t => s"($qid, '$t')")
        }.mkString(", ")
        s"""WITH tok AS (SELECT doc_id,
           |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS token
           |  FROM documents),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           |  WHERE token <> '' GROUP BY doc_id, token),
           |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
           |  FROM tf GROUP BY doc_id),
           |st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dl),
           |qt(qid, token) AS (SELECT * FROM (VALUES $qvals)),
           |dfq AS (SELECT token, count(*) AS dfreq FROM tf GROUP BY token),
           |sc AS (SELECT qt.qid, tf.doc_id,
           |   ln(1.0 + (st.nd - dfq.dfreq + 0.5) / (dfq.dfreq + 0.5))
           |     * tf.tf * (1.2 + 1.0)
           |     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS s
           |  FROM tf JOIN qt USING (token) JOIN dfq USING (token)
           |  JOIN dl USING (doc_id) CROSS JOIN st),
           |ag AS (SELECT qid, doc_id, round(sum(s), 4) AS score FROM sc
           |  GROUP BY 1, 2),
           |lex AS (SELECT qid, doc_id,
           |   CAST(row_number() OVER (PARTITION BY qid
           |     ORDER BY score DESC, doc_id ASC) AS BIGINT) AS lex_rank
           |  FROM ag QUALIFY lex_rank <= 50),
           |den0 AS (
           |${QueryHelpers.ivfadcOracle("vec_id < 8", k = 50, nProbe = 2)}
           |),
           |den AS (SELECT query_id AS qid, corpus_id AS doc_id,
           |   rnk AS dense_rank FROM den0),
           |fused AS (SELECT coalesce(l.qid, d.qid) AS qid,
           |   coalesce(l.doc_id, d.doc_id) AS doc_id,
           |   coalesce(l.lex_rank, 0) AS lex_rank,
           |   coalesce(d.dense_rank, 0) AS dense_rank,
           |   round((CASE WHEN l.lex_rank IS NOT NULL
           |      THEN 1.0 / (l.lex_rank + 60) ELSE 0.0 END) +
           |     (CASE WHEN d.dense_rank IS NOT NULL
           |      THEN 1.0 / (d.dense_rank + 60) ELSE 0.0 END), 6)
           |     AS rrf_score
           |  FROM lex l FULL OUTER JOIN den d
           |   ON l.qid = d.qid AND l.doc_id = d.doc_id)
           |SELECT CAST(qid AS BIGINT) AS qid,
           | CAST(row_number() OVER (PARTITION BY qid
           |   ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rnk,
           | doc_id, lex_rank, dense_rank, rrf_score
           |FROM fused QUALIFY rnk <= 10""".stripMargin
      },

      // q348: the bm25 chain's top-50 ranks fused with the IVFADC chain's
      // ADC top-50 ranks (ivfadcOracle re-pointed at the single probe) —
      // q273's RRF arithmetic over the two artifact-derived pools
      "q348_hybrid_artifacts" ->
        s"""WITH tok AS (SELECT doc_id,
           |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS token
           |  FROM documents),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           |  WHERE token <> '' GROUP BY doc_id, token),
           |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
           |  FROM tf GROUP BY doc_id),
           |st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dl),
           |bsc AS (SELECT tf.doc_id,
           |   ln(1.0 + (st.nd - dfq.dfreq + 0.5) / (dfq.dfreq + 0.5))
           |     * tf.tf * (1.2 + 1.0)
           |     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS s
           |  FROM tf
           |  JOIN (SELECT token, count(*) AS dfreq FROM tf GROUP BY token)
           |   dfq USING (token)
           |  JOIN dl USING (doc_id) CROSS JOIN st
           |  WHERE tf.token IN ('spark', 'vector', 'stream')),
           |bm AS (SELECT doc_id, round(sum(s), 4) AS rel FROM bsc
           |  GROUP BY doc_id),
           |lex AS (SELECT doc_id,
           |   CAST(row_number() OVER (ORDER BY rel DESC, doc_id)
           |     AS BIGINT) AS lex_rank
           |  FROM bm ORDER BY rel DESC, doc_id LIMIT 50),
           |den0 AS (
           |${QueryHelpers.ivfadcOracle("vec_id = 0", k = 50, nProbe = 2)}
           |),
           |den AS (SELECT corpus_id AS doc_id, rnk AS dense_rank FROM den0),
           |fused AS (SELECT coalesce(lex.doc_id, den.doc_id) AS doc_id,
           |   coalesce(lex.lex_rank, 0) AS lex_rank,
           |   coalesce(den.dense_rank, 0) AS dense_rank,
           |   round((CASE WHEN lex.lex_rank IS NOT NULL
           |      THEN 1.0 / (lex.lex_rank + 60) ELSE 0.0 END) +
           |     (CASE WHEN den.dense_rank IS NOT NULL
           |      THEN 1.0 / (den.dense_rank + 60) ELSE 0.0 END), 6)
           |     AS rrf_score
           |  FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id)
           |SELECT doc_id, lex_rank, dense_rank, rrf_score FROM fused
           |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,

      "q132_phrase_search" -> {
        val qvals = phraseQueries.flatMap { p =>
          val ts = p.split(" ")
          ts.zipWithIndex.map { case (tok, i) => s"('$p', '$tok', $i, ${ts.length})" }
        }.mkString(", ")
        s"""WITH tk AS (SELECT doc_id, string_split(lower(${cleanSql("text")}), ' ') AS ts FROM documents),
           |po0 AS (SELECT doc_id, unnest(ts) AS token, unnest(range(0, len(ts))) AS pos FROM tk),
           |po AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, token FROM po0 WHERE token <> ''),
           |qt(phrase, token, qpos, plen) AS (SELECT * FROM (VALUES $qvals)),
           |an AS (SELECT phrase, plen, doc_id, po.pos - qpos AS anchor, count(*) AS nt
           |  FROM po JOIN qt USING (token) GROUP BY 1, 2, 3, 4),
           |hits AS (SELECT phrase, doc_id, CAST(count(*) AS BIGINT) AS n_hits
           |  FROM an WHERE nt = plen GROUP BY 1, 2)
           |SELECT phrase, CAST(row_number() OVER (PARTITION BY phrase
           |   ORDER BY n_hits DESC, doc_id ASC) AS BIGINT) AS rnk,
           | doc_id, n_hits
           |FROM hits QUALIFY rnk <= 20""".stripMargin
      },

      "q143_retrieve_rerank" -> {
        val lam = 0.7
        def cosSql(a: String, b: String): String =
          s"""round(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) /
             | (sqrt(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i]))) *
             |  sqrt(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i])))), 6)""".stripMargin
        val sb = new StringBuilder
        sb ++= s"""WITH tok AS (SELECT doc_id,
                  |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS token FROM documents),
                  |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
                  |  WHERE token <> '' GROUP BY doc_id, token),
                  |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
                  |st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dl),
                  |bsc AS (SELECT tf.doc_id,
                  |   ln(1.0 + (st.nd - dfq.dfreq + 0.5) / (dfq.dfreq + 0.5))
                  |     * tf.tf * (1.2 + 1.0)
                  |     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS s
                  |  FROM tf
                  |  JOIN (SELECT token, count(*) AS dfreq FROM tf GROUP BY token) dfq USING (token)
                  |  JOIN dl USING (doc_id) CROSS JOIN st
                  |  WHERE tf.token IN ('spark', 'vector', 'stream')),
                  |bm AS (SELECT doc_id, round(sum(s), 4) AS rel FROM bsc GROUP BY doc_id),
                  |cand AS (SELECT bm.doc_id, bm.rel, e.embedding::DOUBLE[] AS v
                  |  FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id
                  |  ORDER BY rel DESC, doc_id LIMIT 20),
                  |sims AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  |   ${cosSql("a.v", "b.v")} AS sim
                  |  FROM cand a JOIN cand b ON a.doc_id <> b.doc_id),
                  |s1 AS (SELECT doc_id, rel AS score FROM cand
                  |  ORDER BY rel DESC, doc_id LIMIT 1),
                  |sel1 AS (SELECT doc_id FROM s1),
                  |""".stripMargin
        for (i <- 2 to 5) {
          sb ++= s"""m$i AS (SELECT c.doc_id, $lam * c.rel - ${1 - lam} * max(p.sim) AS score
                    |  FROM cand c JOIN sims p ON p.id_a = c.doc_id
                    |  WHERE p.id_b IN (SELECT doc_id FROM sel${i - 1})
                    |   AND c.doc_id NOT IN (SELECT doc_id FROM sel${i - 1})
                    |  GROUP BY c.doc_id, c.rel),
                    |s$i AS (SELECT doc_id, score FROM m$i
                    |  ORDER BY score DESC, doc_id LIMIT 1),
                    |sel$i AS (SELECT doc_id FROM sel${i - 1} UNION ALL SELECT doc_id FROM s$i),
                    |""".stripMargin
        }
        sb ++= "_t AS (SELECT 1)\n"
        sb ++= (1 to 5).map(i =>
          s"SELECT CAST($i AS BIGINT) AS rnk, doc_id, round(score, 6) AS mmr_score FROM s$i")
          .mkString("", "\nUNION ALL ", "")
        sb.toString
      },

      "q154_ranking_ndcg" ->
        s"""WITH q AS (
           |$nbQualitySql
           |),
           |l AS (SELECT q.doc_id, q.quality_w,
           |   CASE WHEN d.source IN ('src0','src1','src2','src3','src4')
           |        THEN 1 ELSE 0 END AS y
           |  FROM q JOIN documents d USING (doc_id)),
           |r AS (SELECT doc_id, quality_w, y,
           |   CAST(row_number() OVER (ORDER BY quality_w DESC, doc_id ASC) AS BIGINT) AS rn
           |  FROM l),
           |np AS (SELECT CAST(sum(y) AS BIGINT) AS n_pos FROM l),
           |d AS (SELECT sum(CAST(y AS DOUBLE) / log2(rn + 1)) AS dcg FROM r WHERE rn <= 20),
           |i AS (SELECT sum(1.0 / log2(g + 1)) AS idcg
           |  FROM (SELECT CAST(unnest(range(1, 21)) AS BIGINT) AS g), np
           |  WHERE g <= least(np.n_pos, 20))
           |SELECT CAST(20 AS BIGINT) AS k, np.n_pos,
           | round(d.dcg, 6) AS dcg, round(i.idcg, 6) AS idcg,
           | round(d.dcg / i.idcg, 6) AS ndcg
           |FROM d, i, np""".stripMargin,

      "q165_hard_negatives" ->
        s"""WITH tok AS (SELECT doc_id,
           |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS token FROM documents),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           |  WHERE token <> '' GROUP BY doc_id, token),
           |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
           |st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dl),
           |qt(qid, token) AS (VALUES (1, 'spark'), (1, 'join'), (2, 'vector'),
           |   (2, 'stream'), (3, 'batch'), (3, 'window')),
           |dfq AS (SELECT token, count(*) AS dfreq FROM tf
           |  WHERE token IN (SELECT token FROM qt) GROUP BY token),
           |sc AS (SELECT qt.qid, tf.doc_id,
           |   sum(ln(1.0 + (st.nd - dfq.dfreq + 0.5) / (dfq.dfreq + 0.5))
           |     * tf.tf * 2.2
           |     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))) AS s,
           |   count(DISTINCT tf.token) AS nm
           |  FROM tf JOIN qt USING (token) JOIN dfq USING (token)
           |  JOIN dl USING (doc_id) CROSS JOIN st
           |  GROUP BY 1, 2),
           |h AS (SELECT qid, doc_id, round(s, 6) AS score,
           |   CAST(row_number() OVER (PARTITION BY qid
           |     ORDER BY round(s, 6) DESC, doc_id ASC) AS BIGINT) AS rnk
           |  FROM sc WHERE nm < 2)
           |SELECT CAST(qid AS BIGINT) AS qid, rnk, doc_id, score
           |FROM h WHERE rnk <= 5""".stripMargin,

      "q234_phrase_search" -> {
        def one(ph: String): String = {
          val Array(a, b) = ph.split(" ")
          s"""SELECT '$ph' AS phrase,
             | CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |   AS n_docs,
             | CAST(sum(n) AS BIGINT) AS n_occurrences
             |FROM (SELECT doc_id,
             |   len(list_filter(range(1, len(toks)),
             |     i -> toks[i] = '$a' AND toks[i + 1] = '$b')) AS n
             |  FROM (SELECT doc_id,
             |     string_split(lower(${cleanSql("text")}), ' ') AS toks
             |    FROM documents) d) m"""
        }
        Seq("fast table", "table table", "spark window").map(one)
          .map(q => q.stripMargin.replace('\n', ' '))
          .mkString(" UNION ALL ")
      },

      "q273_rrf_fusion" ->
        s"""WITH tok AS (SELECT doc_id,
           |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS token
           |  FROM documents),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           |  WHERE token <> '' GROUP BY doc_id, token),
           |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
           |  FROM tf GROUP BY doc_id),
           |st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dl),
           |bsc AS (SELECT tf.doc_id,
           |   ln(1.0 + (st.nd - dfq.dfreq + 0.5) / (dfq.dfreq + 0.5))
           |     * tf.tf * (1.2 + 1.0)
           |     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS s
           |  FROM tf
           |  JOIN (SELECT token, count(*) AS dfreq FROM tf GROUP BY token)
           |   dfq USING (token)
           |  JOIN dl USING (doc_id) CROSS JOIN st
           |  WHERE tf.token IN ('spark', 'vector', 'stream')),
           |bm AS (SELECT doc_id, round(sum(s), 4) AS rel FROM bsc
           |  GROUP BY doc_id),
           |lex AS (SELECT doc_id,
           |   CAST(row_number() OVER (ORDER BY rel DESC, doc_id)
           |     AS BIGINT) AS lex_rank
           |  FROM bm ORDER BY rel DESC, doc_id LIMIT 50),
           |pr AS (SELECT embedding::DOUBLE[] AS q FROM embeddings
           |  WHERE vec_id = 0),
           |cs AS (SELECT e.vec_id AS doc_id,
           |   round(list_sum(list_transform(range(1, 65),
           |      i -> e.embedding[i] * pr.q[i])) /
           |    (sqrt(list_sum(list_transform(range(1, 65),
           |      i -> e.embedding[i] * e.embedding[i]))) *
           |     sqrt(list_sum(list_transform(range(1, 65),
           |      i -> pr.q[i] * pr.q[i])))), 6) AS cos
           |  FROM embeddings e, pr),
           |den AS (SELECT doc_id,
           |   CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
           |     AS BIGINT) AS dense_rank
           |  FROM cs ORDER BY cos DESC, doc_id LIMIT 50),
           |fused AS (SELECT coalesce(lex.doc_id, den.doc_id) AS doc_id,
           |   coalesce(lex.lex_rank, 0) AS lex_rank,
           |   coalesce(den.dense_rank, 0) AS dense_rank,
           |   round((CASE WHEN lex.lex_rank IS NOT NULL
           |      THEN 1.0 / (lex.lex_rank + 60) ELSE 0.0 END) +
           |     (CASE WHEN den.dense_rank IS NOT NULL
           |      THEN 1.0 / (den.dense_rank + 60) ELSE 0.0 END), 6)
           |     AS rrf_score
           |  FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id)
           |SELECT doc_id, lex_rank, dense_rank, rrf_score FROM fused
           |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,
  )

  /** q347's query table: 64 deterministic term triples over a fixed
    * 16-token pool — one shared constant generates BOTH the engine's
    * queries DataFrame and the oracle's VALUES rows, so the two sides
    * cannot drift. Triples may collapse (distinct), giving a mix of 1-,
    * 2- and 3-term queries; terms absent from a corpus simply match no
    * postings on either side. */
  private lazy val manyQueryPool = Vector("spark", "vector", "stream", "table",
    "join", "batch", "window", "fast", "data", "query", "index", "cache",
    "merge", "scan", "filter", "group")
  private[graft] lazy val manyQueries: Seq[(Long, Seq[String])] =
    (0 until 64).map { i =>
      (i.toLong, Seq(manyQueryPool(i % 16), manyQueryPool((i / 2 + 3) % 16),
        manyQueryPool((i * 5 + 1) % 16)).distinct)
    }

  /** The q348/q352 setup: build the BM25 index of `documents` under
    * `target/hybrid_lex<tag>/<fixture>` and the IVFADC index of
    * `embeddings` under `target/hybrid_ann<tag>/<fixture>`, and fetch the
    * query vectors `vec_id < nq` as (query_id, qv) — the bounded query
    * INPUT. The three are independent; each build is a chain of
    * driver-latency-bound commits, so they overlap. */
  private def hybridArtifacts(s: SparkSession, dir: String, tag: String,
      nq: Int): (String, String, Seq[(Long, Seq[Double])]) = {
    val fixture = new java.io.File(dir).getName
    val (lexDir, annDir) = (s"target/hybrid_lex$tag/$fixture", s"target/hybrid_ann$tag/$fixture")
    val emb = t(s, dir, "embeddings")
    var qvs = Seq.empty[(Long, Seq[Double])]
    graft.GraftSession.concurrently(s)(
      () => graft.operators.LexIndex.build(
        t(s, dir, "documents"), col("doc_id"), col("text"), lexDir),
      () => graft.operators.AnnIndex.build(emb, col("vec_id"), col("embedding"), annDir),
      () => qvs = emb.where(col("vec_id") < nq)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)
    (lexDir, annDir, qvs)
  }

  /** Shared q52/q344 twin: BM25 from first principles over the same
    * tokenize chain — q344's stored-artifact round trip must reproduce
    * these scores bit-for-bit. */
  private def bm25Sql: String =
    s"""WITH tok AS (SELECT doc_id,
       |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
       |  WHERE token <> '' GROUP BY doc_id, token),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dl),
       |sc AS (SELECT tf.doc_id,
       |   ln(1.0 + (st.nd - dfq.dfreq + 0.5) / (dfq.dfreq + 0.5))
       |     * tf.tf * (1.2 + 1.0)
       |     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS s
       |  FROM tf
       |  JOIN (SELECT token, count(*) AS dfreq FROM tf GROUP BY token) dfq USING (token)
       |  JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.token IN ('spark', 'vector', 'stream'))
       |SELECT doc_id, round(sum(s), 4) AS score FROM sc GROUP BY doc_id""".stripMargin
}
