package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval over a document corpus — the "find training examples
  * related to these probes" / "retrieval-quality filtering" primitive a
  * data pipeline runs long before any embedding model exists. BM25 is the
  * standard public formulation (Robertson & Zaragoza 2009, "The
  * Probabilistic Relevance Framework: BM25 and Beyond"), here in the
  * non-negative Lucene idf variant:
  *
  *   score(q, d) = Σ_{t ∈ distinct(q)}
  *     ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) ·
  *     tf_{t,d}·(k1+1) / (tf_{t,d} + k1·(1 − b + b·|d|/avgdl))
  *
  * Portability discipline (q107's): every (query, term, doc) contribution
  * is computed from EXACT INTEGER inputs (tf, df, |d|, N, Σ|d| — note
  * |d|/avgdl = |d|·N/Σ|d|, so no pre-rounded average enters) and
  * quantized ONCE to integer micro-units, round(score·1e6); documents
  * then sum exact BIGINTs, so the released scores and the ranks they
  * induce reproduce on any engine evaluating the same double formula.
  *
  * Scale shape — the classic distributed inverted-index join, never a
  * cross product: one token-keyed aggregate for per-doc term frequencies
  * (map-side combined), a doc-keyed aggregate for lengths, a token-keyed
  * df aggregate over the tf table (posting-list-sized, not corpus-sized),
  * one single-row broadcast for (N, Σ|d|), then query terms equi-join the
  * tf postings on the token — the shuffle carries only postings for terms
  * that actually appear in queries. Top-k per query is a query-keyed
  * window over the scored candidates (bounded by matched docs, not N).
  */
object Retrieval {

  /** Top-`k` corpus docs per query by BM25, released as (query id,
    * doc id, rank, score_e6) with rank ties broken by doc id. Tokens are
    * the canonical lowercased-whitespace tokenization every oracle
    * mirrors; duplicate query terms count once. Docs sharing no term with
    * a query are absent; queries with no corpus term release nothing.
    */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 > 0.0, s"k1 must be positive, got $k1")
    require(b >= 0.0 && b <= 1.0, s"b must be in [0, 1], got $b")
    Inputs.present(docs, "docs side", idCol, textCol)
    Inputs.present(queries, "queries side", qidCol, qtextCol)
    require(qidCol != idCol,
      s"query and doc id columns share the name '$idCol' — the postings " +
        "join would be ambiguous; rename one side first")
    require(qidCol != "token" && idCol != "token",
      "id columns must not be named 'token' (the tokenization scratch name)")
    val dToks = TextAnalysis.wordRows(docs, textCol, "token", col(idCol))
    val tf = dToks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("__tf"))
    val dlen = dToks.groupBy(col(idCol)).agg(count(lit(1)).as("__dl"))
    val stats = dlen.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__total"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    val qTerms = TextAnalysis.wordRows(queries, qtextCol, "token", col(qidCol))
      .select(col(qidCol), col("token")).distinct()
    val contrib = qTerms
      .join(tf, "token")
      .join(dfreq, "token")
      .join(dlen, idCol)
      .crossJoin(broadcast(stats))
      .select(col(qidCol), col(idCol),
        round(
          log(lit(1.0) +
            (col("__n").cast("double") - col("__df").cast("double") + lit(0.5)) /
              (col("__df").cast("double") + lit(0.5))) *
            (col("__tf").cast("double") * lit(k1 + 1.0)) /
            (col("__tf").cast("double") + lit(k1) *
              (lit(1.0 - b) + lit(b) * col("__dl").cast("double") *
                col("__n").cast("double") / col("__total").cast("double"))) *
            lit(1e6), 0).cast("long").as("__c_e6"))
    val scored = contrib.groupBy(col(qidCol), col(idCol))
      .agg(sum(col("__c_e6")).as("score_e6"))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("score_e6").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): combine
    * several per-query rankings of the same corpus into one, scoring
    * each (query, doc) as the sum over rankings of 1/(kConst + rank) —
    * the standard zero-tuning way to merge BM25 with an embedding
    * retriever (hybrid search). Scores are integer micro-units
    * (`scale div (kConst + rank)` summed as longs — the
    * [[graft.pipeline.Graph.pageRank]] exactness discipline), so the
    * fused ranking is bit-identical on any engine; ties break by doc id.
    *
    * Input is the UNION of the rankings as (query, doc, rank) rows — a
    * doc absent from one ranking simply contributes nothing from it. A
    * duplicate (query, doc) within one ranking should have been deduped
    * upstream; this operator cannot tell two rankings apart from one
    * ranking with duplicates, so it guards nothing and documents that
    * the caller owns ranking integrity. Non-positive ranks fail loudly.
    *
    * Scale shape: ONE (query, doc)-keyed sum with map-side partials +
    * one per-query top-`k` window with a rank prefilter — no joins.
    */
  def reciprocalRankFusion(
      rankings: DataFrame, qidCol: String, idCol: String, rankCol: String,
      k: Int, kConst: Long = 60L,
      scale: Long = 1000000000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kConst >= 1L, s"kConst must be >= 1, got $kConst")
    require(scale >= 1000000L, s"scale too coarse for stable scores: $scale")
    Inputs.present(rankings, "rankings side", qidCol, idCol, rankCol)
    val r = when(col(rankCol).cast("long") <= 0L,
      raise_error(concat(lit(s"reciprocalRankFusion: non-positive rank " +
        s"in '$rankCol': "), col(rankCol).cast("string"))).cast("long"))
      .otherwise(col(rankCol).cast("long"))
    val scored = rankings
      .where(col(qidCol).isNotNull && col(idCol).isNotNull && r.isNotNull)
      .select(col(qidCol), col(idCol), r.as("__r"))
      .select(col(qidCol), col(idCol),
        expr(s"${scale}L div (${kConst}L + __r)").as("__s"))
      .groupBy(col(qidCol), col(idCol))
      .agg(sum(col("__s")).as("rrf_e12"))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("rrf_e12").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }
}
