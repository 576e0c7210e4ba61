package graft.movies

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Checkpointer._

/** Stats-cached search over a FIXED corpus — the ES-server shape
  * (search_api/api.py:41-111 serves many queries against one index):
  * build once, then every query costs only its scoring pass.
  *
  * [[Search.score]] recomputes the corpus stats aggregate (avgdl per
  * field, df per query term, N) on EVERY invocation — the right shape
  * for a one-shot query, wasteful when serving. `SearchIndex` hoists
  * them:
  *
  *  - the analyzed corpus (`__toks_*` columns) materializes ONCE
  *    (localCheckpoint) — the analyzer/stemmer never re-runs;
  *  - avgdl per field and N collect in ONE stats action at build;
  *  - document frequencies materialize as a distributed term→df table
  *    (vocabulary-sized — NOT collected: at web scale the vocabulary
  *    doesn't fit a driver). A query's ≤few terms resolve with one
  *    tiny lookup against the checkpointed table, memoized in a driver
  *    cache so repeated terms cost nothing.
  *
  * Scoring arithmetic is [[Search.bm25f]] — the same code path as the
  * one-shot scorer, so ranks are bit-identical (MoviesSpec asserts it).
  */
final class SearchIndex private (
    analyzed: DataFrame,
    fields: Seq[String],
    weights: Map[String, Int],
    avgdls: Map[String, Double],
    nDocs: Long,
    dfTable: DataFrame) {

  private val dfCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Driver-memory bound for the term-df memo: a long-lived server
    * seeing unbounded distinct queries must not grow the cache
    * forever. Eviction is a full clear (the memo is a pure cache —
    * re-misses just re-read the checkpointed vocabulary table).
    */
  private val MaxCachedTerms = 1 << 20

  /** df for each term: cache hits are free; misses resolve in one
    * filter-collect against the materialized vocabulary table (reads
    * the checkpoint, never re-analyzes the corpus).
    */
  private def dfOf(terms: Seq[String]): Map[String, Long] = {
    val missing = terms.filterNot(dfCache.contains)
    if (missing.nonEmpty) {
      val fetched = dfTable
        .filter(col("term").isin(missing: _*))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (dfCache.size + missing.size > MaxCachedTerms) dfCache.clear()
      missing.foreach(t => dfCache.put(t, fetched.getOrElse(t, 0L)))
    }
    terms.map(t => t -> dfCache(t)).toMap
  }

  /** BM25F scoring against the held stats — same contract as
    * [[Search.score]]: all doc columns plus `score`, zero-scoring docs
    * dropped.
    */
  def score(query: String): DataFrame = {
    val terms = Search.analyzeQuery(analyzed.sparkSession, query)
    if (terms.isEmpty || nDocs == 0L)
      return Search.dropAnalyzed(analyzed, fields)
        .withColumn("score", lit(0.0)).filter(col("score") > 0)
    Search.dropAnalyzed(
      analyzed
        .withColumn("score",
          Search.bm25f(terms, fields, weights, avgdls, dfOf(terms),
            nDocs.toDouble))
        .filter(col("score") > 0),
      fields)
  }

  /** Full search-API semantics over the index ([[Search.search]]'s
    * contract: optional query, validated sort, limit/offset).
    */
  def search(
      query: Option[String],
      sortField: String = "id",
      asc: Boolean = true,
      page: Int = 1,
      limit: Int = 50): DataFrame = {
    Search.validateSearchArgs(sortField, page, limit)
    val base = query.fold(
      Search.dropAnalyzed(analyzed, fields).withColumn("score", lit(0.0)))(
      q => score(q))
    Search.orderAndPage(base, query.isDefined, sortField, asc, page, limit)
  }
}

object SearchIndex {

  /** Analyze + collect corpus stats + materialize the df vocabulary.
    * Costs two corpus passes at build (stats aggregate, df groupBy);
    * every subsequent query reads only the checkpointed analyzed
    * corpus.
    */
  def build(
      docs: DataFrame,
      weights: Map[String, Int] = Search.DefaultWeights): SearchIndex = {
    val fields = weights.keys.toSeq.sorted
    val analyzed = Search.withAnalyzed(docs, fields).graftCheckpoint()
    val statAggs =
      fields.map(f => avg(size(Search.toks(f))).as(s"avgdl_$f")) :+
        count(lit(1)).as("n_docs")
    val stats = analyzed.agg(statAggs.head, statAggs.tail: _*).head()
    val n = stats.getAs[Long]("n_docs")
    val avgdls = fields.map { f =>
      // empty corpus → avg is null; scoring early-outs on nDocs == 0
      f -> (if (n == 0L) 0.0 else stats.getAs[Double](s"avgdl_$f"))
    }.toMap
    // document-level df: #docs whose UNION of field token sets holds
    // the term — matches Search.score's any-field definition exactly
    val dfTable = analyzed
      .select(explode(array_distinct(
        concat(fields.map(Search.toks): _*))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .graftCheckpoint()
    new SearchIndex(analyzed, fields, weights, avgdls, n, dfTable)
  }
}
