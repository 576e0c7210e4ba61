package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import graft.movies.{Ingest, Schemas}
import graft.sources.{JdbcIO, SqliteFile}

/** S1/S2/S4 end-to-end over REAL external storage:
  *
  *  1. [[SqliteFile]] reads `legacy/db.sqlite` (b-tree pages, overflow
  *     chains, rowid aliasing) — validated row-for-row against the JSONL
  *     export of the reference's legacy tables. SQLite itself wrote the
  *     file from those rows with the legacy DDL
  *     (`tools/make_sqlite_fixtures.py`), so the suite needs nothing
  *     outside the repo.
  *  2. The legacy tables round-trip through a real JDBC engine
  *     (embedded Apache Derby, shipped with Spark): write.jdbc →
  *     read.jdbc (partitioned for the numeric-keyed table) →
  *     Ingest.normalize on the JDBC-read frames → normalized tables
  *     written back over JDBC and re-read.
  *
  * Golden counts per the reference's own migration output
  * (sqlite_to_postgresql/load_data.py:49): 1000 movies / 2683 actors /
  * 1192 writers / 3519 movie_actors.
  */
class GoldenJdbcSpec extends SparkTestBase {

  private val SqlitePath = getClass.getResource("/legacy/db.sqlite").getPath

  private val LegacySchemas = Map(
    "movies" -> Schemas.LegacyMovies,
    "actors" -> Schemas.LegacyActors,
    "writers" -> Schemas.LegacyWriters,
    "movie_actors" -> Schemas.LegacyMovieActors)

  private lazy val legacy: Map[String, DataFrame] = Map(
    "movies" -> SqliteFile.readTable(
      spark, SqlitePath, "movies", Schemas.LegacyMovies),
    // actors.id is INTEGER PRIMARY KEY → rowid alias in the file format
    "actors" -> SqliteFile.readTable(
      spark, SqlitePath, "actors", Schemas.LegacyActors,
      rowidAlias = Some("id")),
    "writers" -> SqliteFile.readTable(
      spark, SqlitePath, "writers", Schemas.LegacyWriters),
    "movie_actors" -> SqliteFile.readTable(
      spark, SqlitePath, "movie_actors", Schemas.LegacyMovieActors))

  test("S1: sqlite file reader reproduces the JSONL golden export " +
       "row-for-row (all 4 tables)") {
    for ((name, df) <- legacy) {
      val gold = spark.read.schema(LegacySchemas(name))
        .json(getClass.getResource(s"/legacy/$name.jsonl").getPath)
      assert(df.count() === gold.count(), s"$name count")
      assert(df.exceptAll(gold).count() === 0, s"$name: extra rows")
      assert(gold.exceptAll(df).count() === 0, s"$name: missing rows")
    }
  }

  test("S2/S4: golden JDBC round trip through embedded Derby, " +
       "normalize on JDBC-read frames, normalized tables re-read " +
       "over JDBC") {
    val dir = Files.createTempDirectory("graft_derby").toString
    val url = s"jdbc:derby:$dir/legacydb;create=true"

    // S4: batch-insert all legacy tables over JDBC
    legacy.foreach { case (n, df) => JdbcIO.write(df, url, n) }

    // S2: read back — partitioned range scan on the numeric-keyed dim
    val movies = JdbcIO.read(spark, url, "movies")
    val actors = JdbcIO.readPartitioned(
      spark, url, "actors", "id", lower = 1, upper = 3000,
      numPartitions = 4)
    val writers = JdbcIO.read(spark, url, "writers")
    val movieActors = JdbcIO.read(spark, url, "movie_actors")
    assert(actors.rdd.getNumPartitions === 4)

    assert(movies.count() === 1000)
    assert(actors.count() === 2683)
    assert(writers.count() === 1192)
    assert(movieActors.count() === 3519)

    val n = Ingest.normalize(movies, actors, writers, movieActors)
    assert(n.filmWork.count() === 1000)

    // S4 again: normalized tables land over JDBC and re-read intact
    JdbcIO.write(n.filmWork, url, "film_work")
    JdbcIO.write(n.person, url, "person")
    JdbcIO.write(n.genre, url, "genre")
    JdbcIO.write(n.personFilmWork, url, "person_film_work")
    JdbcIO.write(n.genreFilmWork, url, "genre_film_work")

    assert(JdbcIO.read(spark, url, "film_work").count() === 1000)
    val pfw = JdbcIO.read(spark, url, "person_film_work")
    assert(pfw.count() === n.personFilmWork.count())
    assert(JdbcIO.read(spark, url, "person").count() === n.person.count())

    // idempotent re-write face: overwrite replaces, not duplicates
    JdbcIO.write(n.genre, url, "genre", SaveMode.Overwrite)
    assert(JdbcIO.read(spark, url, "genre").count() === n.genre.count())
  }

  test("connector retry: transient failures recover with exponential " +
       "backoff; a retried Derby write still succeeds and a retried " +
       "persistent failure exhausts its attempts") {
    // withRetry machinery: succeeds on attempt 3, two backoffs slept
    val policy = JdbcIO.RetryPolicy(
      maxAttempts = 5, initialBackoffMs = 20L, maxBackoffMs = 1000L)
    var calls = 0
    val t0 = System.nanoTime()
    val got = JdbcIO.withRetry(policy) {
      calls += 1
      if (calls < 3) sys.error(s"transient #$calls")
      "ok"
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(got === "ok" && calls === 3)
    assert(elapsedMs >= 60, s"expected >= 20+40ms of backoff, got $elapsedMs")

    // retried JDBC round trip against real Derby
    val dir = Files.createTempDirectory("graft_derby_retry").toString
    val url = s"jdbc:derby:$dir/retrydb;create=true"
    val df = spark.range(10).toDF("id")
    JdbcIO.write(df, url, "t_retry", retry = Some(policy))
    assert(JdbcIO.read(spark, url, "t_retry", retry = Some(policy))
      .count() === 10)

    // a persistent failure (table exists + ErrorIfExists) retries
    // maxAttempts times, sleeps between them, then rethrows
    val t1 = System.nanoTime()
    intercept[Exception] {
      JdbcIO.write(df, url, "t_retry",
        retry = Some(JdbcIO.RetryPolicy(
          maxAttempts = 2, initialBackoffMs = 50L, maxBackoffMs = 100L)))
    }
    val failedMs = (System.nanoTime() - t1) / 1000000
    assert(failedMs >= 50, s"one 50ms backoff expected, got $failedMs")
  }
}
