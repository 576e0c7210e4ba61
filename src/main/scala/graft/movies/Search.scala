package graft.movies

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weighted multi-field full-text search over movie docs — our engine's
  * re-expression of the ES `multi_match` query (search_api/api.py:93-100)
  * with the reference's boosts: title^4, description^3, genres_names^2,
  * actors_names^4, writers_names^1, directors_names^3.
  *
  * Scoring (documented, ours — ES BM25 exactness is out of scope, SURVEY
  * §7.3.1): field-weighted BM25F, see [[score]]. Docs scoring 0 drop.
  * Ordering: score desc, then id asc (stable pagination).
  *
  * Scale: the query token array is a literal broadcast into a codegen'd
  * per-row expression — scoring is one streaming pass over the corpus,
  * no shuffle until the final top-k / pagination sort.
  */
object Search {

  val DefaultWeights: Map[String, Int] = Map(
    "title" -> 4, "description" -> 3, "genres_names" -> 2,
    "actors_names" -> 4, "writers_names" -> 1, "directors_names" -> 3)

  /** Analyzed-token columns for each searchable field; array fields are
    * analyzed element-wise and flattened.
    */
  def analyzedField(field: String): Column = field match {
    case "title" | "description" => Analyzer.analyze(col(field))
    case arrayField =>
      coalesce(
        flatten(transform(col(arrayField), e => Analyzer.analyze(e))),
        array().cast("array<string>"))
  }

  /** Analyze every searchable field ONCE into a materialized token
    * column (`__toks_<field>`). Both the corpus-stats pass and the
    * scoring pass read these shared columns, so the analyzer (stemmer
    * included) runs once per field per pass instead of once per
    * (term, field) per row — at corpus scale the stemmer was the
    * query-path bottleneck, not the arithmetic.
    */
  private[movies] def withAnalyzed(docs: DataFrame, fields: Seq[String]): DataFrame =
    fields.foldLeft(docs)((d, f) =>
      d.withColumn(s"__toks_$f", analyzedField(f)))

  private[movies] def toks(f: String): Column = col(s"__toks_$f")

  private[movies] def dropAnalyzed(df: DataFrame, fields: Seq[String]): DataFrame =
    df.drop(fields.map(f => s"__toks_$f"): _*)

  /** The query's distinct analyzed terms, evaluated on the driver: the
    * analyzer runs over a one-row local relation, which Catalyst folds
    * into a local result, so analyzing a query launches no Spark job.
    * Every search face analyzes through here.
    */
  private[movies] def analyzeQuery(
      spark: SparkSession, query: String): Seq[String] = {
    import spark.implicits._
    Seq(query).toDF("q").select(Analyzer.analyze(col("q")))
      .head().getSeq[String](0).distinct
  }

  // the BM25F constants, shared with PostingIndex's batched face so a
  // constant change cannot silently desync the two score expressions
  private[movies] val K1 = 1.2
  private[movies] val B = 0.75

  /** BM25F multi-field scoring (the SURVEY §7.1.5 upgrade, Robertson's
    * field-weighted BM25): per query term t,
    *   tf̃_t  = Σ_f w_f · tf_ft / (1 - b + b·dl_f/avgdl_f)
    *   idf_t = ln(1 + (N - df_t + 0.5)/(df_t + 0.5))   with df_t =
    *           #docs where ANY field contains t (document-level stats)
    *   score = Σ_t idf_t · tf̃_t / (k1 + tf̃_t)
    *
    * Three ranking bugs this shape fixes, each found on the golden
    * 1000-movie corpus: plain tf let a long plot repeating one term
    * beat an exact short title ("Star Wait" > "Star Wars"); per-field
    * summing let one term collected across many fields beat a
    * two-term title match ("Jeffree Star" via title+actors); per-FIELD
    * idf made a term that is rare in a minor field explode (star in
    * actors_names). Document-level idf + per-term saturation make
    * matching MORE query terms dominate matching one term hard.
    *
    * Corpus stats (df per term, avgdl per field) come from ONE
    * aggregate pass; the driver holds ~|fields|+|terms| numbers, so the
    * op distributes at any corpus size.
    */
  def score(
      docs: DataFrame,
      query: String,
      weights: Map[String, Int] = DefaultWeights): DataFrame = {
    val terms = analyzeQuery(docs.sparkSession, query)
    if (terms.isEmpty)
      return docs.withColumn("score", lit(0.0)).filter(col("score") > 0)
    val fields = weights.keys.toSeq.sorted
    val analyzed = withAnalyzed(docs, fields)

    val statAggs =
      fields.map(f => avg(size(toks(f))).as(s"avgdl_$f")) ++
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(
            fields.map(f => array_contains(toks(f), t))
              .reduce(_ || _), 1L).otherwise(0L)).as(s"df_$i")
        } :+
        count(lit(1)).as("n_docs")
    val stats = analyzed.agg(statAggs.head, statAggs.tail: _*).head()
    val n = stats.getAs[Long]("n_docs").toDouble
    val avgdl = fields.map(f =>
      f -> stats.getAs[Double](s"avgdl_$f")).toMap
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      t -> stats.getAs[Long](s"df_$i")
    }.toMap
    dropAnalyzed(
      analyzed
        .withColumn("score", bm25f(terms, fields, weights, avgdl, dfs, n))
        .filter(col("score") > 0),
      fields)
  }

  /** The BM25F scoring column over pre-analyzed `__toks_*` columns,
    * given driver-held corpus stats — shared by the one-shot [[score]]
    * and the stats-cached [[SearchIndex]], so the two paths cannot
    * drift arithmetically.
    */
  private[movies] def bm25f(
      terms: Seq[String], fields: Seq[String], weights: Map[String, Int],
      avgdls: Map[String, Double], dfs: Map[String, Long],
      n: Double): Column =
    terms.map { t =>
      val df = dfs.getOrElse(t, 0L).toDouble
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      val tfTilde = fields.map { f =>
        val avgdl = math.max(avgdls(f), 1e-9)
        val dl = size(toks(f)).cast("double")
        val tf = size(filter(toks(f), x => x === lit(t))).cast("double")
        lit(weights(f).toDouble) * tf /
          (lit(1 - B) + lit(B) * dl / lit(avgdl))
      }.reduce(_ + _)
      lit(idf) * tfTilde / (lit(K1) + tfTilde)
    }.reduce(_ + _)

  /** Full search-API semantics (api.py:63-111): optional query, sort
    * (id | title | imdb_rating, asc|desc), limit/offset pagination.
    * When a query is present, primary order is relevance.
    */
  def search(
      docs: DataFrame,
      query: Option[String],
      sortField: String = "id",
      asc: Boolean = true,
      page: Int = 1,
      limit: Int = 50): DataFrame = {
    validateSearchArgs(sortField, page, limit)
    val base = query.fold(docs.withColumn("score", lit(0.0)))(q => score(docs, q))
    orderAndPage(base, query.isDefined, sortField, asc, page, limit)
  }

  /** The 422-contract validation (api.py:68-70), callable BEFORE any
    * plan work: an invalid request must reject without paying the
    * scoring face's corpus-stats jobs.
    */
  private[movies] def validateSearchArgs(
      sortField: String, page: Int, limit: Int): Unit = {
    require(Seq("id", "title", "imdb_rating").contains(sortField),
      s"unsupported sort field: $sortField")
    require(page > 0 && limit > 0, "page/limit must be positive")
    // the page's end row in Long: Int arithmetic wraps for deep pages,
    // and Spark rejects an offset + limit above Int.MaxValue
    require(page.toLong * limit <= Int.MaxValue,
      s"page * limit = ${page.toLong * limit} exceeds ${Int.MaxValue}")
  }

  /** The search API's total order + offset pagination, shared by every
    * face (full-scan, [[SearchIndex]], [[PostingIndex]]) so the
    * validation (api.py:68-70's 422 contract), the NULLS LAST rule and
    * the id tie-break cannot drift between them — [[searchAfter]]'s
    * cursor predicate depends on all three faces paginating EXACTLY
    * this order.
    */
  private[movies] def orderAndPage(
      base: DataFrame, hasQuery: Boolean, sortField: String,
      asc: Boolean, page: Int, limit: Int): DataFrame = {
    validateSearchArgs(sortField, page, limit)
    val sortCol = if (asc) col(sortField).asc_nulls_last
                  else col(sortField).desc_nulls_last
    val ordered =
      if (hasQuery) base.orderBy(col("score").desc, sortCol, col("id").asc)
      else base.orderBy(sortCol, col("id").asc)
    ordered.offset(((page - 1).toLong * limit).toInt).limit(limit)
  }

  /** Deep-pagination cursor: the last row of a page, as (score — only
    * meaningful when a query was given, sort value — None when the row
    * sorts in the trailing NULL zone, id). Build one with
    * [[cursorOf]].
    */
  final case class SearchAfter(
      score: Double, sortValue: Option[Any], id: String)

  /** Cursor for the NEXT page after `row` (a row of a [[searchAfter]]
    * or [[search]] page, schema = doc columns + score).
    */
  def cursorOf(row: org.apache.spark.sql.Row, sortField: String): SearchAfter =
    SearchAfter(
      score = row.getAs[Double]("score"),
      sortValue = Option(row.getAs[Any](sortField)),
      id = row.getAs[String]("id"))

  /** Keyset (`search_after`) pagination — the deep-page face of
    * [[search]]. Offset pagination re-sorts and SKIPS (page-1)·limit
    * rows, so page 10⁶ costs a million-row scan past the sort; this
    * face turns the page boundary into a lexicographic row predicate
    * on the total order (score desc, sort key with nulls last, id) —
    * the [[graft.cdc.Keyset.lowerBound]] tuple-predicate pattern on
    * the search API's sort — so every page is filter + top-`limit`
    * (TakeOrderedAndProject; the predicate is plain column
    * comparisons, pushable to the scan). Matches the reference's
    * pagination intent (api.py:85-86) at scan-bounded cost;
    * MoviesSpec walks both faces to equality, null zone included.
    *
    * `after` = None yields page 1; feed [[cursorOf]] of each page's
    * last row to get the next. Page walk ≡ [[search]]'s offset walk
    * because both paginate the SAME total order (ids break all ties).
    */
  def searchAfter(
      docs: DataFrame,
      query: Option[String],
      sortField: String = "id",
      asc: Boolean = true,
      limit: Int = 50,
      after: Option[SearchAfter] = None): DataFrame = {
    validateSearchArgs(sortField, page = 1, limit = limit)
    val base = query.fold(docs.withColumn("score", lit(0.0)))(q =>
      score(docs, q))
    searchAfterScored(base, query.isDefined, sortField, asc, limit, after)
  }

  /** The cursor predicate + page order over an ALREADY-SCORED frame —
    * shared with [[PostingIndex.searchAfter]] so the pruned face's
    * deep pagination cannot drift from this one.
    */
  private[movies] def searchAfterScored(
      base: DataFrame,
      hasQuery: Boolean,
      sortField: String,
      asc: Boolean,
      limit: Int,
      after: Option[SearchAfter]): DataFrame = {
    val sortCol = if (asc) col(sortField).asc_nulls_last
                  else col(sortField).desc_nulls_last
    val paged = after.fold(base) { cur =>
      // strictly-after on the (nullable) sort key, honoring the
      // NULLS LAST zone: any null sorts after every non-null value in
      // BOTH directions, and within the null zone order falls to id
      val s = col(sortField)
      val (sortStrict, sortEqual) = cur.sortValue match {
        case Some(v) =>
          ((if (asc) s > lit(v) else s < lit(v)) || s.isNull,
            s === lit(v))
        case None => (lit(false), s.isNull)
      }
      val tail = sortStrict || (sortEqual && col("id") > lit(cur.id))
      base.filter(
        if (hasQuery)
          col("score") < lit(cur.score) ||
            (col("score") === lit(cur.score) && tail)
        else tail)
    }
    val ordered =
      if (hasQuery) paged.orderBy(col("score").desc, sortCol, col("id").asc)
      else paged.orderBy(sortCol, col("id").asc)
    ordered.limit(limit)
  }
}
