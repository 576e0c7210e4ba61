package platbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.LogUpsertSink
import graft.movies.{Docs, Ingest, PostingIndex, Schemas}

/** What a workload needs: the session, the tracer, its arguments and
  * its own scratch directory.
  */
final class Ctx(val spark: SparkSession, val tr: Trace, val seed: Long,
    val seconds: Int, val dir: String, t0EpochS: Double) {

  /** Set-up time: from the benchmark process's start to now. */
  def setupSeconds(): Double = System.currentTimeMillis() / 1000.0 - t0EpochS

  private val problems = mutable.ArrayBuffer.empty[String]

  /** Record a failed output check (the run then reports correct=false). */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      problems += what
      System.err.println(s"[platbench] CHECK FAILED: $what")
    }
  def correct: Boolean = problems.isEmpty

  private val born = System.nanoTime()
  /** Progress line on stderr: elapsed seconds since the JVM's session. */
  def log(what: String): Unit =
    System.err.println(f"[platbench] ${Stats.secs(born)}%7.1fs $what")
}

final case class Metric(name: String, value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Int, failed: Int,
    metrics: Seq[Metric]) {
  def json: String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v)
        .toPlainString
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Disk {
  def bytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new File(path))
  }
  def mb(paths: String*): Double = paths.map(bytes).sum / Trace.MB
  def rm(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(del)
      f.delete(); ()
    }
    del(new File(path))
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Spark rows → model documents, for comparison with the referee. */
object Conv {
  private def opt[T](r: Row, i: Int): Option[T] =
    if (r.isNullAt(i)) None else Some(r.getAs[T](i))
  private def strs(r: Row, f: String): Seq[String] =
    r.getAs[scala.collection.Seq[String]](f).toSeq
  private def idNames(r: Row, f: String): Seq[(String, String)] =
    r.getAs[scala.collection.Seq[Row]](f).toSeq
      .map(x => (x.getString(0), x.getString(1)))

  def movieDoc(r: Row): Model.MovieDoc = Model.MovieDoc(
    r.getAs[String]("id"),
    opt[Double](r, r.fieldIndex("imdb_rating")),
    r.getAs[String]("title"),
    opt[String](r, r.fieldIndex("description")),
    strs(r, "actors_names"), strs(r, "writers_names"),
    strs(r, "directors_names"), strs(r, "genres_names"),
    idNames(r, "actors"), idNames(r, "writers"), idNames(r, "directors"),
    idNames(r, "genres"))

  def personDoc(r: Row): Model.PersonDoc = Model.PersonDoc(
    r.getAs[String]("id"), r.getAs[String]("full_name"),
    strs(r, "roles"), strs(r, "film_ids"))

  def genreDoc(r: Row): Model.GenreDoc = Model.GenreDoc(
    r.getAs[String]("id"), r.getAs[String]("name"),
    r.getAs[scala.collection.Seq[Row]]("filmworks").toSeq.map(x =>
      (x.getString(0), x.getString(1),
        if (x.isNullAt(2)) None else Some(x.getDouble(2)))))
}

/** The cdc workload's bulk load: legacy tables
  * → `Ingest.normalize` → five normalized tables on disk → `Docs.*` →
  * persons and genres into `LogUpsertSink`s, movies into
  * `PostingIndex.build` (the movies store is the index).
  */
object Load {
  val Tables: Seq[String] =
    Seq("film_work", "person", "genre", "person_film_work", "genre_film_work")

  /** Write the generated legacy DB as parquet with the legacy schemas. */
  def writeLegacy(spark: SparkSession, db: Gen.LegacyDb, dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    def put(name: String, schema: org.apache.spark.sql.types.StructType,
        rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.parquet(s"$dir/$name")
    put("movies", Schemas.LegacyMovies, db.movies.map(m => Row(m.id,
      m.genre, m.director, m.writer, m.title, m.plot, null, m.imdbRating,
      m.writers)))
    put("actors", Schemas.LegacyActors, db.actors.map { case (i, n) => Row(i, n) })
    put("writers", Schemas.LegacyWriters, db.writers.map { case (i, n) => Row(i, n) })
    put("movie_actors", Schemas.LegacyMovieActors,
      db.movieActors.map { case (m, a) => Row(m, a) })
  }

  final case class Stores(dir: String, index: PostingIndex,
      persons: LogUpsertSink, genres: LogUpsertSink) {
    def table(name: String): String = s"$dir/db/$name"
    def storeDirs: Seq[String] = Seq(s"$dir/idx", s"$dir/persons", s"$dir/genres")
  }

  final case class Times(ingestS: Double, docsS: Double, indexS: Double)

  def run(c: Ctx, legacyDir: String, out: String): (Stores, Times) = {
    val spark = c.spark
    val tr = c.tr
    def legacy(n: String) = spark.read.parquet(s"$legacyDir/$n")
    var t = System.nanoTime()
    tr.span("ingest") {
      val n = Ingest.normalize(legacy("movies"), legacy("actors"),
        legacy("writers"), legacy("movie_actors"))
      Seq(n.filmWork, n.person, n.genre, n.personFilmWork, n.genreFilmWork)
        .zip(Tables).foreach { case (df, name) =>
          df.write.parquet(s"$out/db/$name")
        }
    }
    val ingestS = Stats.secs(t)
    def tab(n: String) = spark.read.parquet(s"$out/db/$n")
    t = System.nanoTime()
    tr.span("docs.full") {
      Docs.movieDocs(tab("film_work"), tab("person"), tab("genre"),
        tab("person_film_work"), tab("genre_film_work"))
        .write.parquet(s"$out/stage/movies")
      Docs.personDocs(tab("person"), tab("person_film_work"))
        .write.parquet(s"$out/stage/persons")
      Docs.genreDocs(tab("genre"), tab("film_work"), tab("genre_film_work"))
        .write.parquet(s"$out/stage/genres")
    }
    val docsS = Stats.secs(t)
    val persons = new LogUpsertSink(spark, s"$out/persons", "id", nBuckets = 16)
    val genres = new LogUpsertSink(spark, s"$out/genres", "id", nBuckets = 4)
    tr.span("sink.persons")(persons.upsert(spark.read.parquet(s"$out/stage/persons")))
    tr.span("sink.genres")(genres.upsert(spark.read.parquet(s"$out/stage/genres")))
    t = System.nanoTime()
    val index = tr.span("index.build") {
      PostingIndex.build(spark.read.parquet(s"$out/stage/movies"), s"$out/idx")
    }
    val indexS = Stats.secs(t)
    Disk.rm(s"$out/stage")
    (Stores(out, index, persons, genres), Times(ingestS, docsS, indexS))
  }

  /** Compare the five normalized tables on disk with the model. */
  def checkTables(c: Ctx, s: Stores, m: Model.Db): Unit = {
    val spark = c.spark
    def rows(n: String, cols: String*): Set[Seq[Any]] =
      spark.read.parquet(s.table(n)).select(cols.map(col): _*).collect()
        .map(_.toSeq).toSet
    c.check(rows("film_work", "id", "title", "description", "rating", "type") ==
      m.films.map { case (id, f) =>
        Seq(id, f.title, f.description.orNull, f.rating.getOrElse(null), "movie") }.toSet,
      "film_work differs from the model")
    c.check(rows("genre", "id", "name") ==
      m.genres.map { case (id, n) => Seq(id, n) }.toSet,
      "genre differs from the model")
    c.check(rows("person", "id", "full_name") ==
      m.persons.map { case (id, n) => Seq(id, n) }.toSet,
      "person differs from the model")
    c.check(rows("genre_film_work", "id", "film_work_id", "genre_id") ==
      m.gfw.map { case (f, g) => Seq(m.gfwId(f, g), f, g) }.toSet,
      "genre_film_work differs from the model")
    c.check(rows("person_film_work", "id", "film_work_id", "person_id", "role") ==
      m.pfw.map(p => Seq(m.pfwId(p), p.film, p.person, p.role)).toSet,
      "person_film_work differs from the model")
  }

  /** Compare a store's docs with the model's, by id: each must equal its
    * `want` doc, or its `alt` doc where the model allows a second state.
    */
  def checkDocs[D](c: Ctx, what: String, got: Seq[D], want: Map[String, D],
      id: D => String, alt: Map[String, D] = Map.empty[String, D]): Unit = {
    val g = got.map(d => id(d) -> d).toMap
    c.check(g.size == got.size, s"$what: duplicate ids in the store")
    val wrong = want.keys.filter(k =>
      !g.get(k).exists(d => d == want(k) || alt.get(k).contains(d))).toSeq
    val extra = g.keys.filterNot(want.contains).toSeq
    c.check(wrong.isEmpty && extra.isEmpty,
      s"$what: ${wrong.size} docs differ from the model (e.g. " +
        s"${wrong.take(1).map(k => s"got ${g.get(k)} want ${want(k)}").mkString}), " +
        s"${extra.size} unexpected")
  }
}
