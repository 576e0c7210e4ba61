package platbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.collection.mutable

/** The referee: a plain-Scala model of what the generator wrote, built
  * from the documented semantics of the platform (legacy ingest rules,
  * document shapes, the CDC propagation graph and BM25F scoring) and
  * never from the program's own outputs.
  */
object Model {

  /** Hex sha-256 of `ns \0 key`, first 32 characters — the documented
    * deterministic surrogate id of the normalized tables.
    */
  def surrogateId(ns: String, key: String*): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val bytes = md.digest((ns +: key).mkString("\u0000")
      .getBytes(StandardCharsets.UTF_8))
    bytes.map(b => f"${b & 0xff}%02x").mkString.take(32)
  }

  final case class Film(title: String, description: Option[String],
      rating: Option[Double])
  final case class Pfw(film: String, person: String, role: String)

  final case class MovieDoc(
      id: String, rating: Option[Double], title: String,
      description: Option[String],
      actorsNames: Seq[String], writersNames: Seq[String],
      directorsNames: Seq[String], genresNames: Seq[String],
      actors: Seq[(String, String)], writers: Seq[(String, String)],
      directors: Seq[(String, String)], genres: Seq[(String, String)])
  final case class PersonDoc(id: String, fullName: String,
      roles: Seq[String], filmIds: Seq[String])
  final case class GenreDoc(id: String, name: String,
      filmworks: Seq[(String, String, Option[Double])])

  private def sentinel(s: String): Option[String] =
    if (s == null || s == "N/A" || s == "") None else Some(s)

  private def csv(s: String): Seq[String] =
    if (s == null) Nil
    else s.split(", ", -1).toSeq.map(_.trim).flatMap(sentinel).distinct

  /** The five normalized tables, held mutably so CDC rounds can apply. */
  final class Db {
    val films = mutable.HashMap.empty[String, Film]
    val persons = mutable.HashMap.empty[String, String]
    val genres = mutable.HashMap.empty[String, String]
    val pfw = mutable.LinkedHashSet.empty[Pfw]
    val gfw = mutable.LinkedHashSet.empty[(String, String)]
    // reverse indexes for the propagation graph and document builders
    val pfwByFilm = mutable.HashMap.empty[String, mutable.Set[Pfw]]
    val pfwByPerson = mutable.HashMap.empty[String, mutable.Set[Pfw]]
    val gfwByFilm = mutable.HashMap.empty[String, mutable.Set[String]]
    val gfwByGenre = mutable.HashMap.empty[String, mutable.Set[String]]

    def addPfw(p: Pfw): Unit = if (pfw.add(p)) {
      pfwByFilm.getOrElseUpdate(p.film, mutable.Set.empty) += p
      pfwByPerson.getOrElseUpdate(p.person, mutable.Set.empty) += p
    }
    def addGfw(film: String, genre: String): Unit =
      if (gfw.add((film, genre))) {
        gfwByFilm.getOrElseUpdate(film, mutable.Set.empty) += genre
        gfwByGenre.getOrElseUpdate(genre, mutable.Set.empty) += film
      }

    def pfwId(p: Pfw): String =
      surrogateId("pfw", p.film, persons(p.person), p.role)
    def gfwId(film: String, genre: String): String =
      surrogateId("gfw", film, genres(genre))

    def movieDoc(id: String): MovieDoc = {
      val f = films(id)
      val ps = pfwByFilm.getOrElse(id, mutable.Set.empty).toSeq
        .map(p => (persons(p.person), p.person, p.role)).sorted
      val gs = gfwByFilm.getOrElse(id, mutable.Set.empty).toSeq
        .map(g => (genres(g), g)).sorted
      def role(r: String) = ps.filter(_._3 == r).map(p => (p._2, p._1))
      MovieDoc(id, f.rating, f.title, f.description,
        role("actor").map(_._2), role("writer").map(_._2),
        role("director").map(_._2), gs.map(_._1),
        role("actor"), role("writer"), role("director"),
        gs.map { case (n, g) => (g, n) })
    }
    def personDoc(id: String): PersonDoc = {
      val ps = pfwByPerson.getOrElse(id, mutable.Set.empty).toSeq
      PersonDoc(id, persons(id), ps.map(_.role).distinct.sorted,
        ps.map(_.film).distinct.sorted)
    }
    def genreDoc(id: String): GenreDoc = {
      val fs = gfwByGenre.getOrElse(id, mutable.Set.empty).toSeq
        .map(f => (films(f).title, f, films(f).rating))
        .sortBy(t => (t._1, t._2))
      GenreDoc(id, genres(id), fs.map { case (t, f, r) => (f, t, r) })
    }

    /** Every doc of each kind as a full rebuild over the tables gives it. */
    def movieDocs: Map[String, MovieDoc] = films.keys.map(k => k -> movieDoc(k)).toMap
    def personDocs: Map[String, PersonDoc] = persons.keys.map(k => k -> personDoc(k)).toMap
    def genreDocs: Map[String, GenreDoc] = genres.keys.map(k => k -> genreDoc(k)).toMap
  }

  /** Legacy rows → normalized tables, by the documented ingest rules:
    * exact-duplicate rows drop; "N/A"/"" cells are NULL; sentinel-named
    * actors and writers drop with their references; genre and director
    * CSV cells split on ", "; the writers JSON array wins over the
    * single-writer fallback when it is non-empty; one person per
    * distinct full name across roles; sha-256 surrogate ids.
    */
  def normalize(db: Gen.LegacyDb): Db = {
    val out = new Db
    val movies = db.movies.distinct
    val actorName = db.actors.distinct.flatMap { case (id, n) =>
      sentinel(n).map(id.toString -> _) }.toMap
    val writerName = db.writers.distinct.flatMap { case (id, n) =>
      sentinel(n).map(id -> _) }.toMap
    val contrib = mutable.LinkedHashSet.empty[(String, String, String)]
    val jsonId = "\"id\": \"([^\"]*)\"".r
    movies.foreach { m =>
      out.films(m.id) = Film(sentinel(m.title).orNull,
        sentinel(m.plot), sentinel(m.imdbRating).map(_.toDouble))
      csv(m.genre).foreach { g =>
        out.genres(surrogateId("genre", g)) = g
        out.gfw += ((m.id, surrogateId("genre", g)))
      }
      csv(m.director).foreach(n => contrib += ((m.id, n, "director")))
      val fromJson = jsonId.findAllMatchIn(m.writers).map(_.group(1)).toSeq
      val wids =
        if (fromJson.nonEmpty) fromJson
        else sentinel(m.writer).toSeq
      wids.distinct.flatMap(writerName.get)
        .foreach(n => contrib += ((m.id, n, "writer")))
    }
    db.movieActors.distinct.foreach { case (film, actor) =>
      actorName.get(actor).foreach(n => contrib += ((film, n, "actor")))
    }
    // rebuild gfw through the indexing path
    val gfw0 = out.gfw.toSeq
    out.gfw.clear()
    gfw0.foreach { case (f, g) => out.addGfw(f, g) }
    contrib.foreach { case (film, name, role) =>
      val pid = surrogateId("person", name)
      out.persons(pid) = name
      out.addPfw(Pfw(film, pid, role))
    }
    out
  }

  // ------------------------------------------------------------ BM25F

  /** Field weights and BM25F constants as documented on `Search`. */
  val Weights: Seq[(String, Double)] = Seq(
    "actors_names" -> 4.0, "description" -> 3.0, "directors_names" -> 3.0,
    "genres_names" -> 2.0, "title" -> 4.0, "writers_names" -> 1.0)
  val K1 = 1.2
  val B = 0.75

  /** Analyzed tokens per field, in `Weights` order. The generator's
    * vocabulary is analyzer-invariant, so tokens are the words.
    */
  def fieldTokens(d: MovieDoc): Array[Array[String]] = {
    def t(s: String): Array[String] =
      if (s == null) Array.empty else s.split("[^a-z0-9']+").filter(_.nonEmpty)
    Array(d.actorsNames.flatMap(t).toArray, d.description.map(t)
      .getOrElse(Array.empty[String]), d.directorsNames.flatMap(t).toArray,
      d.genresNames.flatMap(t).toArray, t(d.title),
      d.writersNames.flatMap(t).toArray)
  }

  /** A searchable snapshot of the movie docs. */
  final class SearchModel(docs: Seq[MovieDoc]) {
    private val byId = docs.map(d => d.id -> d).toMap
    private val toks = docs.map(d => d.id -> fieldTokens(d)).toMap
    private val n = docs.size.toDouble
    private val avgdl: Array[Double] = Array.tabulate(Weights.size) { f =>
      val sum = toks.valuesIterator.map(_(f).length.toLong).sum
      if (docs.isEmpty) 0.0 else sum.toDouble / docs.size
    }
    private val postings: Map[String, Set[String]] = {
      val m = mutable.HashMap.empty[String, mutable.Set[String]]
      toks.foreach { case (id, fs) =>
        fs.foreach(_.foreach(t => m.getOrElseUpdate(t, mutable.Set.empty) += id))
      }
      m.map { case (k, v) => k -> v.toSet }.toMap
    }

    private def score(id: String, terms: Seq[String],
        dfs: Map[String, Int]): Double = {
      val fs = toks(id)
      terms.map { t =>
        val df = dfs(t).toDouble
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        val tfTilde = Weights.indices.map { f =>
          val a = math.max(avgdl(f), 1e-9)
          val dl = fs(f).length.toDouble
          val tf = fs(f).count(_ == t).toDouble
          Weights(f)._2 * tf / ((1 - B) + B * dl / a)
        }.reduce(_ + _)
        idf * tfTilde / (K1 + tfTilde)
      }.reduce(_ + _)
    }

    private def sortKey(d: MovieDoc, field: String): Option[Either[String, Double]] =
      field match {
        case "id" => Some(Left(d.id))
        case "title" => Option(d.title).map(Left(_))
        case _ => d.rating.map(Right(_))
      }
    private def cmpKey(a: Option[Either[String, Double]],
        b: Option[Either[String, Double]], asc: Boolean): Int = (a, b) match {
      case (None, None) => 0
      case (None, _) => 1 // nulls last either way
      case (_, None) => -1
      case (Some(x), Some(y)) =>
        val c = (x, y) match {
          case (Left(s), Left(u)) => s.compareTo(u)
          case (Right(s), Right(u)) => java.lang.Double.compare(s, u)
          case _ => 0
        }
        if (asc) c else -c
    }

    /** One page: score desc (queries only), sort field with nulls last,
      * id asc; offset (page-1)*limit.
      */
    def page(req: Gen.Request, limit: Int): Seq[(String, Double)] = {
      val scored: Seq[(MovieDoc, Double)] = req.query match {
        case None => docs.map(d => (d, 0.0))
        case Some(q) =>
          val terms = q.split("[^a-z0-9']+").filter(_.nonEmpty).toSeq.distinct
          val dfs = terms.map(t => t -> postings.getOrElse(t, Set.empty).size).toMap
          val cand = terms.flatMap(t => postings.getOrElse(t, Set.empty)).distinct
          cand.map(id => (byId(id), score(id, terms, dfs))).filter(_._2 > 0)
      }
      val ord = new Ordering[(MovieDoc, Double)] {
        def compare(a: (MovieDoc, Double), b: (MovieDoc, Double)): Int = {
          val s = if (req.query.isDefined)
            java.lang.Double.compare(b._2, a._2) else 0
          if (s != 0) s
          else {
            val k = cmpKey(sortKey(a._1, req.sortField),
              sortKey(b._1, req.sortField), req.asc)
            if (k != 0) k else a._1.id.compareTo(b._1.id)
          }
        }
      }
      scored.sorted(ord).slice((req.page - 1) * limit, req.page * limit)
        .map { case (d, s) => (d.id, s) }
    }
  }

  // ------------------------------------------------------------ Jaccard

  def shingles(text: String, n: Int): Set[String] = {
    val w = text.split("\\s+").filter(_.nonEmpty)
    if (w.length < n) Set.empty
    else w.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else (a intersect b).size.toDouble / (a union b).size
}
