package graft.movies

import org.apache.spark.sql.types._

/** Declared schemas for the movie-platform domain — never inferred.
  *
  * Sources: legacy table shapes from `sqlite_to_postgresql/db.sqlite`
  * (read at sqlite_to_postgresql/etl.py:62-117), normalized DDL from
  * sqlite_to_postgresql/postgres_init.sql:2-55, document contracts from
  * postgres_to_es/daemon.py:43-77 and the three *.es.schema.json
  * strict mappings.
  */
object Schemas {

  // ---- legacy (dirty) input ------------------------------------------
  val LegacyMovies: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("genre", StringType),       // ", "-joined list
    StructField("director", StringType),    // ", "-joined list, may be N/A
    StructField("writer", StringType),      // single writer id (fallback)
    StructField("title", StringType),
    StructField("plot", StringType),
    StructField("ratings", StringType),     // unused by the ETL
    StructField("imdb_rating", StringType), // float-as-string or N/A
    StructField("writers", StringType)))    // JSON '[{"id": ...}]' or ""

  val LegacyActors: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType)))

  val LegacyWriters: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("name", StringType)))

  val LegacyMovieActors: StructType = StructType(Seq(
    StructField("movie_id", StringType),
    StructField("actor_id", StringType)))

  // ---- normalized relational tables (postgres_init.sql) --------------
  val FilmWork: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("title", StringType, nullable = false),
    StructField("description", StringType),
    StructField("creation_date", DateType),
    StructField("certificate", StringType),
    StructField("file_path", StringType),
    StructField("rating", DoubleType),
    StructField("type", StringType), // movie | series | tv_show
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))

  val Genre: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("description", StringType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))

  val Person: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("full_name", StringType, nullable = false),
    StructField("birth_date", DateType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))

  val GenreFilmWork: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("film_work_id", StringType, nullable = false),
    StructField("genre_id", StringType, nullable = false),
    StructField("created_at", TimestampType)))

  val PersonFilmWork: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("film_work_id", StringType, nullable = false),
    StructField("person_id", StringType, nullable = false),
    StructField("role", StringType, nullable = false), // actor|director|writer
    StructField("created_at", TimestampType)))

  // ---- document contracts (sink schemas) -----------------------------
  val IdName: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("name", StringType)))

  /** movies index doc (daemon.py:43-56; movies.es.schema.json:42-133). */
  val MovieDoc: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("imdb_rating", DoubleType),
    StructField("title", StringType),
    StructField("description", StringType),
    StructField("actors_names", ArrayType(StringType), nullable = false),
    StructField("writers_names", ArrayType(StringType), nullable = false),
    StructField("directors_names", ArrayType(StringType), nullable = false),
    StructField("genres_names", ArrayType(StringType), nullable = false),
    StructField("actors", ArrayType(IdName), nullable = false),
    StructField("writers", ArrayType(IdName), nullable = false),
    StructField("directors", ArrayType(IdName), nullable = false),
    StructField("genres", ArrayType(IdName), nullable = false)))

  /** persons index doc (daemon.py:65-70). */
  val PersonDoc: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("full_name", StringType),
    StructField("roles", ArrayType(StringType), nullable = false),
    StructField("film_ids", ArrayType(StringType), nullable = false)))

  /** genres index doc (daemon.py:73-77; genres.es.schema.json:57-72). */
  val GenreDoc: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType),
    StructField("filmworks", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("title", StringType),
      StructField("imdb_rating", DoubleType)))), nullable = false)))

  val Roles: Seq[String] = Seq("actor", "director", "writer")
}
