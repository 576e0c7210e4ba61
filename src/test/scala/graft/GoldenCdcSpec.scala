package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.cdc._
import graft.movies.{Docs, Ingest, Schemas}

/** CDC over the REAL golden corpus: ingest the 1000-movie legacy data,
  * persist the normalized tables, drain the incremental pipeline from a
  * cold start, and require the movies index to equal the direct batch
  * denormalization (and the persons and genres indexes theirs) — the
  * incremental path must converge to the batch answer on real data,
  * not just fixtures.
  */
class GoldenCdcSpec extends SparkTestBase {

  test("cold-start drain over the golden corpus equals batch denorm") {
    import spark.implicits._
    def res(name: String): String =
      getClass.getResource(s"/legacy/$name.jsonl").getPath
    def read(name: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).json(res(name))
    val norm = Ingest.normalize(
      read("movies", Schemas.LegacyMovies),
      read("actors", Schemas.LegacyActors),
      read("writers", Schemas.LegacyWriters),
      read("movie_actors", Schemas.LegacyMovieActors))

    val dir = Files.createTempDirectory("graft_golden_cdc").toString
    norm.filmWork.write.parquet(s"$dir/film_work")
    norm.person.write.parquet(s"$dir/person")
    norm.genre.write.parquet(s"$dir/genre")
    norm.personFilmWork.write.parquet(s"$dir/person_film_work")
    norm.genreFilmWork.write.parquet(s"$dir/genre_film_work")

    val tables = CdcPipeline.Tables(
      filmWork = () => spark.read.parquet(s"$dir/film_work"),
      person = () => spark.read.parquet(s"$dir/person"),
      genre = () => spark.read.parquet(s"$dir/genre"),
      personFilmWork = () => spark.read.parquet(s"$dir/person_film_work"),
      genreFilmWork = () => spark.read.parquet(s"$dir/genre_film_work"))
    val sinks = CdcPipeline.Sinks(
      movies = new UpsertSink(spark, s"$dir/idx_movies", "id", 16),
      persons = new UpsertSink(spark, s"$dir/idx_persons", "id", 16),
      genres = new UpsertSink(spark, s"$dir/idx_genres", "id", 16))
    CdcPipeline.drain(spark, tables, sinks,
      new Keyset.CursorStore(s"$dir/cursors"), batchSize = 300)

    val incremental = sinks.movies.read().get
    val batch = Docs.movieDocs(
      tables.filmWork(), tables.person(), tables.genre(),
      tables.personFilmWork(), tables.genreFilmWork())
    assert(incremental.count() === 1000)
    assert(incremental.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(incremental).count() === 0)
    assert(sinks.persons.read().get.count() ===
      tables.person().count())
    assert(sinks.genres.read().get.count() === tables.genre().count())
    // persons and genres equal their batch denorm too
    for ((store, want) <- Seq(
        sinks.persons -> Docs.personDocs(tables.person(), tables.personFilmWork()),
        sinks.genres -> Docs.genreDocs(tables.genre(), tables.filmWork(),
          tables.genreFilmWork()))) {
      val got = store.read().get
      assert(got.exceptAll(want).count() === 0)
      assert(want.exceptAll(got).count() === 0)
    }
  }
}
