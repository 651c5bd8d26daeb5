package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyword retrieval over the corpus (NOT-IN-REFERENCE extension): BM25
  * scoring — the lexical-search complement of the embedding ANN operators in
  * [[graft.sim.Embeddings]] (hybrid retrieval pipelines run both).
  *
  * Scale shape: the corpus scan filters to QUERY-TERM POSTINGS before any
  * shuffle — `array_intersect` against a literal term array keeps only
  * matching tokens, so the exploded stream is postings-sized, not
  * corpus-sized (the inverted-index access path, derived not materialized).
  * Term document-frequencies and the corpus aggregates (N, avgdl) are
  * term-count-sized → broadcast back; the final top-k is a
  * TakeOrderedAndProject (per-partition heaps, only k rows to the driver),
  * never a global sort.
  */
object Search {

  /** BM25 top-k: score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with the Robertson–Sparck-Jones idf = ln(1 + (N−df+0.5)/(df+0.5)).
    * Tokenization is lowercase whitespace ([[TextOps.tokens]]); `dl` is the
    * full document token count. Returns `(id, n_terms_matched, score)` for
    * the top `k` docs, score rounded to 6 so the ordering (score desc, id
    * asc) is engine-reproducible.
    */
  /** The (doc, term) tf frame feeding [[bm25TopK]], UNPINNED — split out
    * so PlanQualitySpec can assert the filtered-explode shape (the
    * query-term filter runs inside the Generate, so the exploded stream
    * is postings-sized) on a plan the pin below would otherwise hide. */
  private[graft] def bm25TfFrame(df: DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String]): DataFrame = {
    val terms = array(queryTerms.distinct.map(t => lit(t.toLowerCase)): _*)
    val toks = TextOps.tokens(lower(col(textCol)))
    // postings: only query-term occurrences leave the scan
    val postings = df.select(col(idCol).as("__id"),
        size(toks).cast("double").as("dl"),
        explode(filter(toks, t => array_contains(terms, t))).as("term"))
    postings.groupBy(col("__id"), col("term"))
      .agg(first(col("dl")).as("dl"), count(lit(1)).as("tf"))
  }

  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(k > 0, s"k must be positive, got $k")
    // tf feeds the df-count aggregate AND the scoring join — unpinned,
    // each re-ran the corpus tokenize + filtered explode (guide §2.4).
    // Query-term postings only: a bounded, tiny frame to materialize.
    val tf = bm25TfFrame(df, idCol, textCol, queryTerms).localCheckpoint()
    val dfCounts = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df_t"))
    val corpus = df.agg(count(lit(1)).as("n_docs"),
      avg(size(TextOps.tokens(lower(col(textCol)))).cast("double")).as("avgdl"))
    tf.join(broadcast(dfCounts), Seq("term"))
      .crossJoin(broadcast(corpus))
      .select(col("__id"),
        (log(lit(1.0) + (col("n_docs") - col("df_t") + 0.5) / (col("df_t") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + (lit(1 - b) + col("dl") * b / col("avgdl")) * k1)).as("s"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_terms_matched"), sum(col("s")).as("score"))
      .select(col("__id").as(idCol), col("n_terms_matched"),
        round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** TF-IDF top terms per document — the keyword-extraction census
    * (salient-term summaries, topic labels, lexical features for
    * classifiers). `idf = ln((N+1)/(df+1)) + 1`, the smoothed form that
    * never zeroes a corpus-wide term; `score = tf · idf` rounded to 6 so
    * the (score desc, term asc) ordering is engine-reproducible.
    *
    * Plan: one corpus-sized explode → (doc, term) tf aggregate, a
    * term-count-sized df frame broadcast back, the 1-row N broadcast
    * (the n4 corpus-stats shape), and a PARTITIONED row_number window —
    * ≤ topK rows per doc survive. Tokenization is lowercase whitespace
    * ([[TextOps.tokens]]), NULL ids/texts drop. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
      topK: Int = 3): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val toks = TextOps.tokens(lower(col(textCol)))
    val base = df.where(col(idCol).isNotNull && col(textCol).isNotNull)
    // tf feeds the document-frequency aggregate AND the scoring join —
    // unpinned, each re-ran the corpus tokenize + explode + (doc, term)
    // shuffle (guide §2.4). Value-level cells, the d-family storage class.
    val tf = base
      .select(col(idCol).as("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfc), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf").cast("double") *
        (log((col("n_docs").cast("double") + 1.0) /
          (col("df_t").cast("double") + 1.0)) + 1.0), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df_t"),
        col("score"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Hybrid retrieval via reciprocal-rank fusion — [[bm25TopK]]'s lexical
    * list and a dense cosine list over an ALIGNED embedding table, fused
    * as `rrf(d) = 1/(rrfK + rank_lex) + 1/(rrfK + rank_dense)` (absent
    * from a list → that term is 0 — RRF over retrieved lists, the
    * production shape).
    *
    * Each retriever runs fully distributed and returns only its bounded
    * top-`kPerList` (BM25 ends in a TakeOrderedAndProject; the dense leg
    * is the n1 bounded-heap aggregate); the fusion itself is a
    * 2·kPerList-row driver protocol (the n10 MMR doctrine). Each RRF term
    * is one division and the sum is the fixed two-term chain lex + dense,
    * so the fused ordering replays bit-exactly; ties break by id.
    *
    * Returns the fused top `topK`: `(doc_id, rank_lex, rank_dense, rrf)`
    * with NULL rank for a list the doc missed. */
  def hybridRrf(docs: DataFrame, idCol: String, textCol: String,
      emb: DataFrame, vecIdCol: String, vecCol: String,
      queryTerms: Seq[String], queryVecId: Long,
      kPerList: Int = 50, rrfK: Int = 60, topK: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the two retrievers are INDEPENDENT bounded protocols over different
    // tables — their collects run as concurrent Spark jobs (guide §2.6)
    val Seq(lexIds, denseIds) = graft.Tables.concurrently(Seq(
      () => bm25TopK(docs, idCol, textCol, queryTerms, kPerList)
        .select(col(idCol).cast("long")).as[Long].collect(),
      () => graft.sim.Embeddings.bruteForceTopKAgg(
          emb, vecIdCol, vecCol,
          emb.where(col(vecIdCol) === queryVecId), vecIdCol, vecCol, kPerList)
        .orderBy(col("rank").asc)
        .select(col("corpus_id")).as[Long].collect()))
    val lexRank = lexIds.zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val denseRank = denseIds.zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val fused = (lexRank.keySet ++ denseRank.keySet).toSeq
      .map { id =>
        val lt = lexRank.get(id).map(r => 1.0 / (rrfK + r)).getOrElse(0.0)
        val dt = denseRank.get(id).map(r => 1.0 / (rrfK + r)).getOrElse(0.0)
        (id, lexRank.get(id), denseRank.get(id), lt + dt)
      }
      .sortBy { case (id, _, _, s) => (-s, id) }
      .take(topK)
    fused.toDF("doc_id", "rank_lex", "rank_dense", "rrf")
  }
}
