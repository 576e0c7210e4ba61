package graft.movies

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document denormalization: normalized tables → the three index docs.
  *
  * Re-expresses the reference's LEFT JOIN LATERAL array_agg queries
  * (postgres_to_es/daemon.py:160-200, 249-271, 296-321) and the per-role
  * transform stage (daemon.py:203-340) as aggregate-then-left-join — the
  * shuffle-friendly Spark shape: one groupBy per bridge table, then one
  * left join per film/person/genre, then per-row array reshaping with
  * higher-order functions (no row explosion, no lateral).
  *
  * Null discipline: sink arrays are never null, always [] — fixing the
  * reference's crash on person-with-zero-films (daemon.py:284) and its
  * NULL-vs-[] inconsistency (SURVEY §7.3.5).
  *
  * Determinism: collected arrays are sorted (by name, id) — collect_list
  * order is otherwise partition-dependent, which breaks idempotent
  * re-indexing and any hash-based comparison.
  *
  * Scale: films/persons/genres shuffle on their own ids once; the
  * aggregates are partial (map-side combine). `docIds` (the CDC driving
  * set) is applied as a left_semi join BEFORE the heavy joins, so an
  * incremental tick touches only affected rows.
  */
object Docs {

  private def sortedStructs(c: org.apache.spark.sql.Column) =
    array_sort(c) // structs compare field-by-field: (name|title, id, ...)

  /** movies index docs. Pass `docIds` (single col `id`) to restrict to a
    * changed-film driving set (daemon.py:195's `fw.id = ANY(:ids)`).
    */
  def movieDocs(
      filmWork: DataFrame,
      person: DataFrame,
      genre: DataFrame,
      personFilmWork: DataFrame,
      genreFilmWork: DataFrame,
      docIds: Option[DataFrame] = None): DataFrame = {

    val films = docIds.fold(filmWork)(ids =>
      filmWork.join(ids.select(col("id")), Seq("id"), "left_semi"))

    // persons per film: one agg over the (possibly restricted) bridge
    val pfw = docIds.fold(personFilmWork)(ids =>
      personFilmWork.join(ids.select(col("id").as("film_work_id")),
        Seq("film_work_id"), "left_semi"))
    val personsPerFilm = pfw
      .join(person.select(col("id").as("person_id"), col("full_name")),
        Seq("person_id"))
      .groupBy(col("film_work_id"))
      .agg(sortedStructs(collect_list(struct(
        col("full_name").as("name"),
        col("person_id").as("id"),
        col("role").as("role")))).as("persons"))

    val gfw = docIds.fold(genreFilmWork)(ids =>
      genreFilmWork.join(ids.select(col("id").as("film_work_id")),
        Seq("film_work_id"), "left_semi"))
    val genresPerFilm = gfw
      .join(genre.select(col("id").as("genre_id"), col("name")),
        Seq("genre_id"))
      .groupBy(col("film_work_id"))
      .agg(sortedStructs(collect_list(struct(
        col("name").as("name"),
        col("genre_id").as("id")))).as("genres_ns"))

    def role(r: String) = {
      val filtered = filter(col("persons"), p => p.getField("role") === r)
      transform(filtered,
        p => struct(p.getField("id").as("id"), p.getField("name").as("name")))
    }
    def roleNames(r: String) =
      transform(filter(col("persons"), p => p.getField("role") === r),
        p => p.getField("name"))

    films
      .join(personsPerFilm, films("id") === personsPerFilm("film_work_id"),
        "left_outer")
      .drop("film_work_id")
      .join(genresPerFilm, films("id") === genresPerFilm("film_work_id"),
        "left_outer")
      .drop("film_work_id")
      .withColumn("persons",
        coalesce(col("persons"), array().cast(
          "array<struct<name:string,id:string,role:string>>")))
      .withColumn("genres_ns",
        coalesce(col("genres_ns"),
          array().cast("array<struct<name:string,id:string>>")))
      .select(
        col("id"),
        col("rating").as("imdb_rating"),
        col("title"),
        col("description"),
        roleNames("actor").as("actors_names"),
        roleNames("writer").as("writers_names"),
        roleNames("director").as("directors_names"),
        transform(col("genres_ns"), g => g.getField("name"))
          .as("genres_names"),
        role("actor").as("actors"),
        role("writer").as("writers"),
        role("director").as("directors"),
        transform(col("genres_ns"), g =>
          struct(g.getField("id").as("id"), g.getField("name").as("name")))
          .as("genres"))
  }

  /** persons index docs (daemon.py:249-293): roles is a distinct set,
    * film_ids distinct — both sorted for determinism.
    */
  def personDocs(
      person: DataFrame,
      personFilmWork: DataFrame,
      docIds: Option[DataFrame] = None): DataFrame = {

    val persons = docIds.fold(person)(ids =>
      person.join(ids.select(col("id")), Seq("id"), "left_semi"))
    val pfw = docIds.fold(personFilmWork)(ids =>
      personFilmWork.join(ids.select(col("id").as("person_id")),
        Seq("person_id"), "left_semi"))

    val filmsPerPerson = pfw
      .groupBy(col("person_id"))
      .agg(
        sort_array(collect_set(col("role"))).as("roles"),
        sort_array(collect_set(col("film_work_id"))).as("film_ids"))

    persons
      .join(filmsPerPerson, persons("id") === filmsPerPerson("person_id"),
        "left_outer")
      .select(
        col("id"),
        col("full_name"),
        coalesce(col("roles"), array().cast("array<string>")).as("roles"),
        coalesce(col("film_ids"), array().cast("array<string>"))
          .as("film_ids"))
  }

  /** genres index docs (daemon.py:296-340). */
  def genreDocs(
      genre: DataFrame,
      filmWork: DataFrame,
      genreFilmWork: DataFrame,
      docIds: Option[DataFrame] = None): DataFrame = {

    val genres = docIds.fold(genre)(ids =>
      genre.join(ids.select(col("id")), Seq("id"), "left_semi"))
    val gfw = docIds.fold(genreFilmWork)(ids =>
      genreFilmWork.join(ids.select(col("id").as("genre_id")),
        Seq("genre_id"), "left_semi"))

    val filmsPerGenre = gfw
      .join(filmWork.select(col("id").as("film_work_id"), col("title"),
        col("rating")), Seq("film_work_id"))
      .groupBy(col("genre_id"))
      .agg(sortedStructs(collect_list(struct(
        col("title").as("title"),
        col("film_work_id").as("id"),
        col("rating").as("imdb_rating")))).as("fw_sorted"))

    genres
      .join(filmsPerGenre, genres("id") === filmsPerGenre("genre_id"),
        "left_outer")
      .select(
        col("id"),
        col("name"),
        coalesce(
          transform(col("fw_sorted"), f => struct(
            f.getField("id").as("id"),
            f.getField("title").as("title"),
            f.getField("imdb_rating").as("imdb_rating"))),
          array().cast(
            "array<struct<id:string,title:string,imdb_rating:double>>"))
          .as("filmworks"))
  }
}
