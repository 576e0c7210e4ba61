package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc._

/** CDC pipeline: keyset batching, propagation graph, idempotent upsert,
  * restart/resume (FIXTURES.md §B must-cover cases).
  */
class CdcSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)

  private def tmp(): String =
    Files.createTempDirectory("graft_cdc").toString

  // mutable "database": parquet dirs we rewrite between ticks
  private def writeTable(dir: String, name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name")

  private def tables(dir: String) = CdcPipeline.Tables(
    filmWork = () => spark.read.parquet(s"$dir/film_work"),
    person = () => spark.read.parquet(s"$dir/person"),
    genre = () => spark.read.parquet(s"$dir/genre"),
    personFilmWork = () => spark.read.parquet(s"$dir/person_film_work"),
    genreFilmWork = () => spark.read.parquet(s"$dir/genre_film_work"))

  private def seed(dir: String): Unit = {
    writeTable(dir, "film_work", Seq(
      ("f1", "Star Wars", "Space opera", 8.6, ts(100), ts(100)),
      ("f2", "Quiet Film", "Slow burn", 6.0, ts(100), ts(100))
    ).toDF("id", "title", "description", "rating", "created_at", "updated_at"))
    writeTable(dir, "person", Seq(
      ("p1", "George Lucas", ts(100), ts(100)),
      ("p2", "Mark Hamill", ts(100), ts(100))
    ).toDF("id", "full_name", "created_at", "updated_at"))
    writeTable(dir, "genre", Seq(
      ("g1", "Sci-Fi", ts(100), ts(100))
    ).toDF("id", "name", "created_at", "updated_at"))
    writeTable(dir, "person_film_work", Seq(
      ("pfw1", "f1", "p1", "director", ts(100)),
      ("pfw2", "f1", "p2", "actor", ts(100))
    ).toDF("id", "film_work_id", "person_id", "role", "created_at"))
    writeTable(dir, "genre_film_work", Seq(
      ("gfw1", "f1", "g1", ts(100))
    ).toDF("id", "film_work_id", "genre_id", "created_at"))
  }

  private def mkSinks(dir: String) = CdcPipeline.Sinks(
    movies = new UpsertSink(spark, s"$dir/idx_movies", "id", nBuckets = 4),
    persons = new UpsertSink(spark, s"$dir/idx_persons", "id", nBuckets = 4),
    genres = new UpsertSink(spark, s"$dir/idx_genres", "id", nBuckets = 4))

  test("initial drain indexes everything; arrays populated") {
    val dir = tmp(); seed(dir)
    val sinks = mkSinks(dir)
    val cursors = new Keyset.CursorStore(s"$dir/cursors")
    CdcPipeline.drain(spark, tables(dir), sinks, cursors, batchSize = 10)

    val movies = sinks.movies.read().get.collect()
    assert(movies.map(_.getString(0)).sorted === Array("f1", "f2"))
    val f1 = movies.find(_.getString(0) == "f1").get
    assert(f1.getSeq[String](f1.fieldIndex("actors_names")) ===
      Seq("Mark Hamill"))
    assert(sinks.persons.read().get.count() === 2)
    assert(sinks.genres.read().get.count() === 1)
  }

  test("person rename propagates to affected movie docs AND persons index") {
    val dir = tmp(); seed(dir)
    val sinks = mkSinks(dir)
    val cursors = new Keyset.CursorStore(s"$dir/cursors")
    CdcPipeline.drain(spark, tables(dir), sinks, cursors, batchSize = 10)

    // rename p2 with a newer updated_at
    writeTable(dir, "person", Seq(
      ("p1", "George Lucas", ts(100), ts(100)),
      ("p2", "Mark R. Hamill", ts(100), ts(200))
    ).toDF("id", "full_name", "created_at", "updated_at"))

    CdcPipeline.drain(spark, tables(dir), sinks, cursors, batchSize = 10)
    val f1 = sinks.movies.read().get.filter($"id" === "f1").head
    assert(f1.getSeq[String](f1.fieldIndex("actors_names")) ===
      Seq("Mark R. Hamill"))
    // divergence fix: persons index refreshes on update too (the
    // reference watched created_at only — daemon.py:522-527)
    val p2 = sinks.persons.read().get.filter($"id" === "p2").head
    assert(p2.getString(1) === "Mark R. Hamill")
  }

  // also covers the person doc's film_ids and roles
  test("bridge-row insert (created_at only) regenerates the film doc") {
    val dir = tmp(); seed(dir)
    val sinks = mkSinks(dir)
    val cursors = new Keyset.CursorStore(s"$dir/cursors")
    CdcPipeline.drain(spark, tables(dir), sinks, cursors, batchSize = 10)
    def p1() = sinks.persons.read().get.filter($"id" === "p1")
      .select($"film_ids", $"roles").as[(Seq[String], Seq[String])].head()
    assert(p1() === ((Seq("f1"), Seq("director"))))

    // cast p1 as actor on f2 via a new bridge row
    writeTable(dir, "person_film_work", Seq(
      ("pfw1", "f1", "p1", "director", ts(100)),
      ("pfw2", "f1", "p2", "actor", ts(100)),
      ("pfw3", "f2", "p1", "actor", ts(300))
    ).toDF("id", "film_work_id", "person_id", "role", "created_at"))

    CdcPipeline.drain(spark, tables(dir), sinks, cursors, batchSize = 10)
    val f2 = sinks.movies.read().get.filter($"id" === "f2").head
    assert(f2.getSeq[String](f2.fieldIndex("actors_names")) ===
      Seq("George Lucas"))
    assert(p1() === ((Seq("f1", "f2"), Seq("actor", "director"))))
  }

  test("a film retitle refreshes the genre doc's filmworks") {
    val dir = tmp(); seed(dir)
    val sinks = mkSinks(dir)
    val cursors = new Keyset.CursorStore(s"$dir/cursors")
    CdcPipeline.drain(spark, tables(dir), sinks, cursors, batchSize = 10)
    def titles() = sinks.genres.read().get.filter($"id" === "g1")
      .select($"filmworks.title").as[Seq[String]].head()
    assert(titles() === Seq("Star Wars"))

    writeTable(dir, "film_work", Seq(
      ("f1", "Galactic Saga", "Space opera", 8.6, ts(100), ts(250)),
      ("f2", "Quiet Film", "Slow burn", 6.0, ts(100), ts(100))
    ).toDF("id", "title", "description", "rating", "created_at", "updated_at"))
    CdcPipeline.drain(spark, tables(dir), sinks, cursors, batchSize = 10)
    assert(titles() === Seq("Galactic Saga"))
  }

  test("drain throws, naming the pending processes, when its last " +
       "allowed tick still consumed rows; the default drain does not") {
    val dir = tmp(); seed(dir)
    val e = intercept[IllegalStateException] {
      CdcPipeline.drain(spark, tables(dir), mkSinks(dir),
        new Keyset.CursorStore(s"$dir/cursors"), batchSize = 1, maxTicks = 1)
    }
    assert(e.getMessage.contains("film_work.movies"), e.getMessage)
    assert(e.getMessage.contains("person.persons"), e.getMessage)
    val fresh = tmp(); seed(fresh)
    CdcPipeline.drain(spark, tables(fresh), mkSinks(fresh),
      new Keyset.CursorStore(s"$fresh/cursors"))
  }

  test("fused tick: a change to all five tables makes ONE upsert per " +
       "target; the search index gains one delta segment per consuming " +
       "tick and ends equal to a rebuild over the final tables") {
    import graft.movies.{Docs, PostingIndex, PostingIndexSink}
    final class CountingSink(inner: DocSink) extends DocSink {
      var upserts = 0
      def idCol: String = inner.idCol
      def upsert(docs: DataFrame): Unit = { upserts += 1; inner.upsert(docs) }
      def delete(ids: DataFrame): Unit = inner.delete(ids)
      def read(): Option[DataFrame] = inner.read()
    }
    val dir = tmp(); seed(dir)
    val t = tables(dir)
    val shape = Docs.movieDocs(t.filmWork(), t.person(), t.genre(),
      t.personFilmWork(), t.genreFilmWork()).limit(0)
    val idxSink = new PostingIndexSink(PostingIndex.build(
      shape, s"$dir/search_idx", nTermBuckets = 4, nDocBuckets = 4))
    val plain = mkSinks(dir)
    val counted = Seq(idxSink, plain.persons, plain.genres).map(new CountingSink(_))
    val sinks = CdcPipeline.Sinks(counted(0), counted(1), counted(2))
    def upserts() = counted.map(_.upserts)
    def segments() = Option(new java.io.File(s"$dir/search_idx/delta")
      .listFiles()).toSeq.flatten.count(_.getName.startsWith("seg-"))
    val cursors = new Keyset.CursorStore(s"$dir/cursors")
    CdcPipeline.drain(spark, t, sinks, cursors, batchSize = 10)
    assert(upserts() === Seq(1, 1, 1))
    assert(segments() === 1)

    writeTable(dir, "film_work", Seq(
      ("f1", "Galactic Saga", "Space opera", 8.6, ts(100), ts(200)),
      ("f2", "Quiet Film", "Slow burn", 6.0, ts(100), ts(100))
    ).toDF("id", "title", "description", "rating", "created_at", "updated_at"))
    writeTable(dir, "person", Seq(
      ("p1", "George Lucas", ts(100), ts(100)),
      ("p2", "Mark R. Hamill", ts(100), ts(200))
    ).toDF("id", "full_name", "created_at", "updated_at"))
    writeTable(dir, "genre", Seq(
      ("g1", "Science Fiction", ts(100), ts(200))
    ).toDF("id", "name", "created_at", "updated_at"))
    writeTable(dir, "person_film_work", Seq(
      ("pfw1", "f1", "p1", "director", ts(100)),
      ("pfw2", "f1", "p2", "actor", ts(100)),
      ("pfw3", "f2", "p1", "actor", ts(200))
    ).toDF("id", "film_work_id", "person_id", "role", "created_at"))
    writeTable(dir, "genre_film_work", Seq(
      ("gfw1", "f1", "g1", ts(100)),
      ("gfw2", "f2", "g1", ts(200))
    ).toDF("id", "film_work_id", "genre_id", "created_at"))

    val res = CdcPipeline.tick(spark, t, sinks, cursors, batchSize = 10)
    assert(res.values.forall(_.consumed), res)
    assert(upserts() === Seq(2, 2, 2))
    assert(segments() === 2)
    // docsWritten is the count of the process's target
    assert(res("person.movies").docsWritten === 2L)
    assert(res("genre_film_work.genres").docsWritten === 1L)
    val idle = CdcPipeline.tick(spark, t, sinks, cursors, batchSize = 10)
    assert(!idle.values.exists(_.consumed))
    assert(upserts() === Seq(2, 2, 2))
    assert(segments() === 2)

    def docSet(df: DataFrame) = df
      .select($"id", to_json(struct(col("*"))).as("doc"))
      .as[(String, String)].collect().sortBy(_._1).toSeq
    assert(docSet(idxSink.read().get) === docSet(Docs.movieDocs(t.filmWork(),
      t.person(), t.genre(), t.personFilmWork(), t.genreFilmWork())))
    assert(docSet(sinks.persons.read().get) ===
      docSet(Docs.personDocs(t.person(), t.personFilmWork())))
    assert(docSet(sinks.genres.read().get) ===
      docSet(Docs.genreDocs(t.genre(), t.filmWork(), t.genreFilmWork())))
  }

  test("PostingIndex.upsert rejects a batch whose column type drifted " +
       "from the built corpus, naming the column") {
    import graft.movies.{Docs, PostingIndex}
    val dir = tmp(); seed(dir)
    val t = tables(dir)
    val docs = Docs.movieDocs(t.filmWork(), t.person(), t.genre(),
      t.personFilmWork(), t.genreFilmWork())
    val idx = PostingIndex.build(docs, s"$dir/search_idx",
      nTermBuckets = 4, nDocBuckets = 4)
    val drifted = docs.filter($"id" === "f1")
      .withColumn("imdb_rating", $"imdb_rating".cast("string"))
    val e = intercept[IllegalArgumentException](idx.upsert(drifted))
    assert(e.getMessage.contains("'imdb_rating'"), e.getMessage)
    // the same batch at the stored types lands
    assert(idx.upsert(docs.filter($"id" === "f1")).numDocs === 2L)
  }

  test("keyset cursor: equal-timestamp rows straddling a batch boundary " +
       "all get consumed; restart resumes from persisted cursor") {
    val dir = tmp(); seed(dir)
    val sinks = mkSinks(dir)
    // batchSize=1 forces ties at ts=100 to split across batches
    val cursors1 = new Keyset.CursorStore(s"$dir/cursors")
    CdcPipeline.tick(spark, tables(dir), sinks, cursors1, batchSize = 1)
    // "restart": fresh store instance over the same dir
    val cursors2 = new Keyset.CursorStore(s"$dir/cursors")
    CdcPipeline.drain(spark, tables(dir), sinks, cursors2, batchSize = 1)
    assert(sinks.movies.read().get.select("id").as[String].collect().sorted
      === Array("f1", "f2"))
    assert(sinks.persons.read().get.count() === 2)
  }

  test("replaying a batch suffix is a no-op (upsert idempotence)") {
    val dir = tmp(); seed(dir)
    val sinks = mkSinks(dir)
    val cursors = new Keyset.CursorStore(s"$dir/cursors")
    CdcPipeline.drain(spark, tables(dir), sinks, cursors, batchSize = 10)
    val before = sinks.movies.read().get.orderBy("id").collect().toSeq

    // wind the film_work cursor back to zero and replay
    cursors.save("film_work.movies", Keyset.Cursor.Zero)
    CdcPipeline.drain(spark, tables(dir), sinks, cursors, batchSize = 10)
    val after = sinks.movies.read().get.orderBy("id").collect().toSeq
    assert(after === before)
  }

  test("targeted delete removes exactly the requested ids, survives an " +
       "emptied bucket, and replaying the delete is a no-op") {
    import spark.implicits._
    val dir = tmp(); seed(dir)
    val sinks = mkSinks(dir)
    CdcPipeline.drain(spark, tables(dir), sinks,
      new Keyset.CursorStore(s"$dir/cursors"), batchSize = 10)
    val all = sinks.movies.read().get.select($"id").as[String].collect().toSet
    assert(all.size >= 2)
    // delete all but one doc: with 4 buckets over few docs, some bucket
    // is guaranteed to empty out entirely
    val survivor = all.min
    val victims = (all - survivor).toSeq.toDF("id")
    sinks.movies.delete(victims)
    val left = sinks.movies.read().get.select($"id").as[String].collect().toSet
    assert(left === Set(survivor))
    sinks.movies.delete(victims) // replay
    val again = sinks.movies.read().get.select($"id").as[String].collect().toSet
    assert(again === Set(survivor))
  }

  test("deleting EVERY doc collapses the store to absent: read() is None " +
       "(not an unreadable directory), replay is a no-op, and the next " +
       "upsert bootstraps fresh") {
    import spark.implicits._
    val dir = tmp(); seed(dir)
    val sinks = mkSinks(dir)
    CdcPipeline.drain(spark, tables(dir), sinks,
      new Keyset.CursorStore(s"$dir/cursors"), batchSize = 10)
    val all = sinks.movies.read().get.select($"id").as[String].collect().toSet
    assert(all.nonEmpty)
    sinks.movies.delete(all.toSeq.toDF("id"))
    assert(sinks.movies.read().isEmpty,
      "an emptied store must read as absent, not throw on an empty dir")
    sinks.movies.delete(all.toSeq.toDF("id")) // replay against absent store
    assert(sinks.movies.read().isEmpty)
    sinks.movies.upsert(Seq(("zz", "fresh")).toDF("id", "title"))
    assert(sinks.movies.read().get.select($"id").as[String].collect()
      === Array("zz"))
  }

  test("property: arbitrary batch sizes over ts-colliding change sets " +
       "converge to the same final index state as one-shot processing") {
    for (seed <- Seq(1, 7, 13)) {
      val rnd = new scala.util.Random(seed)
      val nFilms = 6 + rnd.nextInt(6)
      // deliberately collide timestamps to stress the keyset boundary
      val films = (1 to nFilms).map { i =>
        (s"f$i", s"Film $i", s"plot $i", 5.0 + i,
          ts(100 + rnd.nextInt(3)), ts(100 + rnd.nextInt(3)))
      }
      val dirA = tmp(); val dirB = tmp()
      for (d <- Seq(dirA, dirB)) {
        writeTable(d, "film_work", films.toDF(
          "id", "title", "description", "rating", "created_at", "updated_at"))
        writeTable(d, "person", Seq.empty[(String, String, Timestamp, Timestamp)]
          .toDF("id", "full_name", "created_at", "updated_at"))
        writeTable(d, "genre", Seq.empty[(String, String, Timestamp, Timestamp)]
          .toDF("id", "name", "created_at", "updated_at"))
        writeTable(d, "person_film_work",
          Seq.empty[(String, String, String, String, Timestamp)]
            .toDF("id", "film_work_id", "person_id", "role", "created_at"))
        writeTable(d, "genre_film_work",
          Seq.empty[(String, String, String, Timestamp)]
            .toDF("id", "film_work_id", "genre_id", "created_at"))
      }
      val sinksA = mkSinks(dirA); val sinksB = mkSinks(dirB)
      // A: tiny random batches (1..2); B: one shot
      CdcPipeline.drain(spark, tables(dirA), sinksA,
        new Keyset.CursorStore(s"$dirA/cursors"), 1 + rnd.nextInt(2))
      CdcPipeline.drain(spark, tables(dirB), sinksB,
        new Keyset.CursorStore(s"$dirB/cursors"), 100)
      val a = sinksA.movies.read().get.orderBy("id").collect().toSeq
      val b = sinksB.movies.read().get.orderBy("id").collect().toSeq
      assert(a === b, s"seed $seed diverged")
      assert(a.length === nFilms)
    }
  }

  test("CDC → search composition: the movies sink IS an updatable " +
       "search index (PostingIndexSink) — a title change mid-drain " +
       "changes SEARCH results on the next tick, the replayed tick is " +
       "absorbed, and the final index serves bit-identically to a " +
       "rebuild over the final store") {
    import graft.movies.{Docs, PostingIndex, PostingIndexSink, Search}
    val dir = tmp(); seed(dir)
    val t = tables(dir)
    // bootstrap the index empty (the movie-doc schema); tick 1's
    // upsert is the first build
    val shape = Docs.movieDocs(t.filmWork(), t.person(), t.genre(),
      t.personFilmWork(), t.genreFilmWork()).limit(0)
    val idxSink = new PostingIndexSink(PostingIndex.build(
      shape, s"$dir/search_idx", nTermBuckets = 4, nDocBuckets = 4))
    val sinks = CdcPipeline.Sinks(
      movies = idxSink,
      persons = new UpsertSink(spark, s"$dir/idx_persons", "id", 4),
      genres = new UpsertSink(spark, s"$dir/idx_genres", "id", 4))
    val cursors = new Keyset.CursorStore(s"$dir/cursors")
    CdcPipeline.drain(spark, t, sinks, cursors, batchSize = 10)
    def hits(q: String) = idxSink.index.score(q)
      .select("id").as[String].collect().toSeq.sorted
    assert(hits("star wars") === Seq("f1"))
    // the UPDATE: retitle f1 — the reference's steady state (a changed
    // row becomes a re-denormalized doc becomes an UPDATED search
    // document, served on the next tick)
    writeTable(dir, "film_work", Seq(
      ("f1", "Galactic Saga", "Space opera", 8.6, ts(100), ts(250)),
      ("f2", "Quiet Film", "Slow burn", 6.0, ts(100), ts(100))
    ).toDF("id", "title", "description", "rating",
      "created_at", "updated_at"))
    CdcPipeline.drain(spark, t, sinks, cursors, batchSize = 10)
    assert(hits("star wars").isEmpty, "stale title must stop matching")
    assert(hits("galactic saga") === Seq("f1"), "the update is served")
    // replay the film_work suffix: the index absorbs the duplicate
    // delivery exactly like the doc sinks (T2 through search serving)
    cursors.save("film_work.movies", Keyset.Cursor.Zero)
    CdcPipeline.drain(spark, t, sinks, cursors, batchSize = 10)
    assert(hits("galactic saga") === Seq("f1"))
    // maintained index ≡ rebuild over the final store ≡ full scan,
    // bit-for-bit
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"score").as[(String, Double)].collect()
        .sortBy(_._1).toSeq
    val store = idxSink.read().get.localCheckpoint()
    val rebuilt = PostingIndex.build(store, s"$dir/rebuilt_idx",
      nTermBuckets = 4, nDocBuckets = 4)
    for (q <- Seq("galactic saga", "quiet film", "George Lucas")) {
      val got = ranked(idxSink.index.score(q))
      assert(got === ranked(rebuilt.score(q)), s"≠ rebuild: $q")
      assert(got === ranked(Search.score(store, q)), s"≠ fullscan: $q")
    }
    // compaction through the sink face preserves serving
    idxSink.compact()
    assert(hits("galactic saga") === Seq("f1"))
  }

  test("CDC → ANN through the sink face (VERDICT r12 #3): the movies " +
       "pipeline drives an IvfPqIndexSink (docs re-embedded per tick); " +
       "an UPDATE moves the doc's vector in the served index, replay " +
       "absorbs, and the maintained store ≡ a fresh encode of the " +
       "final docs — compact included") {
    import graft.ops.{IvfPqIndexSink, SimilarityOps}
    val dir = tmp(); seed(dir)
    val t = tables(dir)
    val centers = Array.tabulate(4)(c =>
      Array.tabulate(8)(i => if (i == 2 * c) 6.0 else 0.0))
    val codebooks = Array.tabulate(2)(sp => Array.tabulate(4)(cd =>
      Array.tabulate(4)(j => ((sp * 5 + cd * 3 + j) % 7 - 3).toDouble)))
    // per-tick re-embedding of the re-denormalized doc (the q294
    // pattern): title+description feed every component, so a retitle
    // genuinely moves the vector
    def embed(d: DataFrame): DataFrame = d.withColumn("embedding",
      transform(sequence(lit(0), lit(7)), i =>
        (pmod(xxhash64($"title", coalesce($"description", lit(""))) +
          i * lit(37L), lit(97L)) - 48).cast("float")))
    val ivf = new IvfPqIndexSink(spark, s"$dir/ann_idx",
      "id", "embedding", centers, codebooks)
    // adapter: the pipeline hands re-denormalized docs to every sink;
    // this one embeds before indexing (upstream embedding production)
    val annSink = new DocSink {
      def idCol: String = "id"
      def upsert(docs: DataFrame): Unit = ivf.upsert(embed(docs))
      def delete(ids: DataFrame): Unit = ivf.delete(ids)
      def read(): Option[DataFrame] = ivf.read()
    }
    val docStore = new UpsertSink(spark, s"$dir/doc_store", "id", 4)
    val fanout = new DocSink {
      def idCol: String = "id"
      def upsert(docs: DataFrame): Unit = {
        val pinned = docs.localCheckpoint()
        docStore.upsert(pinned); annSink.upsert(pinned)
      }
      def delete(ids: DataFrame): Unit = {
        docStore.delete(ids); annSink.delete(ids)
      }
      def read(): Option[DataFrame] = docStore.read()
    }
    val sinks = CdcPipeline.Sinks(
      movies = fanout,
      persons = new UpsertSink(spark, s"$dir/idx_persons", "id", 4),
      genres = new UpsertSink(spark, s"$dir/idx_genres", "id", 4))
    val cursors = new Keyset.CursorStore(s"$dir/cursors")
    CdcPipeline.drain(spark, t, sinks, cursors, batchSize = 10)
    def ivfRows(d: DataFrame) = d
      .select($"id", $"cell".cast("int"),
        concat_ws(",", $"codes".cast("array<string>")))
      .as[(String, Int, String)].collect().toSet
    def wantRows() = ivfRows(SimilarityOps.ivfPqIndex(
      embed(docStore.read().get), "id", "embedding", centers, codebooks))
    assert(ivf.read().map(ivfRows).get === wantRows(),
      "post-drain ANN store ≠ fresh encode of the doc store")
    // the UPDATE: retitle f1 — the re-embedded vector must replace by
    // id on the next tick (daemon.py:358-381, index-agnostic)
    writeTable(dir, "film_work", Seq(
      ("f1", "Galactic Saga", "Space opera", 8.6, ts(100), ts(250)),
      ("f2", "Quiet Film", "Slow burn", 6.0, ts(100), ts(100))
    ).toDF("id", "title", "description", "rating",
      "created_at", "updated_at"))
    CdcPipeline.drain(spark, t, sinks, cursors, batchSize = 10)
    assert(ivf.read().map(ivfRows).get === wantRows(),
      "post-update ANN store ≠ fresh encode (stale vector serving?)")
    // replay the film_work suffix — the ANN index absorbs duplicates
    cursors.save("film_work.movies", Keyset.Cursor.Zero)
    CdcPipeline.drain(spark, t, sinks, cursors, batchSize = 10)
    assert(ivf.read().map(ivfRows).get === wantRows())
    // serving: a full-depth stored probe with f1's CURRENT vector
    // ranks f1 first (exact self-match), through the maintained layout
    val corpus = embed(docStore.read().get.localCheckpoint())
    val qv = corpus.filter($"id" === "f1").select($"embedding")
      .head.getSeq[Float](0).map(_.toDouble).toArray
    val top = SimilarityOps.ivfPqTopKStored(spark, ivf.dir, "id",
        corpus, "id", "embedding", qv, centers, codebooks,
        nProbe = 4, shortlist = 100, k = 1)
      .select($"id").as[String].head()
    assert(top === "f1", "the updated vector must serve its own doc")
    // compaction through the sink face preserves the store exactly
    ivf.compact()
    assert(ivf.read().map(ivfRows).get === wantRows())
  }

  test("pipeline is sink-agnostic (S5): an in-memory DocSink converges " +
       "to the same documents as the parquet UpsertSink") {
    // minimal alternative DocSink impl — the shape an ES-backed sink
    // (es.mapping.id) would take; collect() is test-only
    final class MemSink(val idCol: String) extends DocSink {
      private var schema: Option[org.apache.spark.sql.types.StructType] = None
      private val state =
        scala.collection.mutable.LinkedHashMap[String, org.apache.spark.sql.Row]()
      def upsert(docs: DataFrame): Unit = {
        schema = Some(docs.schema)
        docs.collect().foreach(r => state(r.getAs[String](idCol)) = r)
      }
      def delete(ids: DataFrame): Unit =
        ids.select(idCol).collect().foreach { r =>
          state.remove(r.getString(0)); ()
        }
      def read(): Option[DataFrame] = schema.map { s =>
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(state.values.toSeq.asJava, s)
      }
    }

    val dirA = tmp(); seed(dirA)
    val parquetSinks = mkSinks(dirA)
    CdcPipeline.drain(spark, tables(dirA), parquetSinks,
      new Keyset.CursorStore(s"$dirA/cursors"), batchSize = 10)

    val dirB = tmp(); seed(dirB)
    val memSinks = CdcPipeline.Sinks(
      movies = new MemSink("id"), persons = new MemSink("id"),
      genres = new MemSink("id"))
    CdcPipeline.drain(spark, tables(dirB), memSinks,
      new Keyset.CursorStore(s"$dirB/cursors"), batchSize = 10)

    def docSet(s: DocSink) = s.read().get
      .select($"id", to_json(struct(col("*"))).as("doc"))
      .as[(String, String)].collect().sortBy(_._1).toSeq
    assert(docSet(memSinks.movies) === docSet(parquetSinks.movies))
    assert(docSet(memSinks.persons) === docSet(parquetSinks.persons))
    assert(docSet(memSinks.genres) === docSet(parquetSinks.genres))
  }

  test("upsert rewrites only affected buckets") {
    val dir = tmp()
    val sink = new UpsertSink(spark, s"$dir/store", "id", nBuckets = 8)
    sink.upsert(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "v"))
    val v1 = sink.read().get.orderBy("id").as[(String, Int)].collect()
    assert(v1 === Array(("a", 1), ("b", 2), ("c", 3)))
    sink.upsert(Seq(("b", 20), ("d", 4)).toDF("id", "v"))
    val v2 = sink.read().get.orderBy("id").as[(String, Int)].collect()
    assert(v2 === Array(("a", 1), ("b", 20), ("c", 3), ("d", 4)))
  }

  test("sink retry absorbs a transient driver-visible fault: first " +
       "attempt throws, second succeeds, store state correct (T8)") {
    import graft.sources.JdbcIO
    val dir = tmp()
    // poison expression: the FIRST evaluation anywhere throws (the
    // connection-reset moment the reference's backoff decorator exists
    // for — postgres_to_es/utils.py:19-53); later evaluations pass
    // values through untouched. local[*] shares the JVM, so the flag is
    // visible to tasks, and task maxFailures=1 turns the throw into a
    // driver-visible job failure — exactly what JdbcIO.withRetry covers.
    def poisoned(df: DataFrame): DataFrame = {
      val p = udf { (v: Int) =>
        if (!CdcSpecFault.fired.getAndSet(true))
          throw new RuntimeException("injected transient fault")
        v
      }
      df.withColumn("v", p(col("v")))
    }
    val sink = new UpsertSink(spark, s"$dir/store", "id", nBuckets = 4,
      retry = Some(JdbcIO.RetryPolicy(maxAttempts = 3, initialBackoffMs = 1)))
    sink.upsert(Seq(("a", 1), ("b", 2)).toDF("id", "v"))
    CdcSpecFault.fired.set(false)
    sink.upsert(poisoned(Seq(("b", 20), ("c", 3)).toDF("id", "v")))
    assert(CdcSpecFault.fired.get, "fault never fired — test is vacuous")
    assert(sink.read().get.orderBy("id").as[(String, Int)].collect() ===
      Array(("a", 1), ("b", 20), ("c", 3)))
    // delete path retries the same way (poison IS the id column, so it
    // can't be pruned away)
    CdcSpecFault.fired.set(false)
    val pid = udf { (s: String) =>
      if (!CdcSpecFault.fired.getAndSet(true))
        throw new RuntimeException("injected transient fault")
      s
    }
    val del = Seq("b").toDF("id0").select(pid(col("id0")).as("id"))
    sink.delete(del)
    assert(CdcSpecFault.fired.get, "delete fault never fired")
    assert(sink.read().get.orderBy("id").as[(String, Int)].collect() ===
      Array(("a", 1), ("c", 3)))
    // without a policy the same fault surfaces (retry, not luck)
    CdcSpecFault.fired.set(false)
    val bare = new UpsertSink(spark, s"$dir/store2", "id", nBuckets = 4)
    bare.upsert(Seq(("x", 1)).toDF("id", "v"))
    intercept[Exception] {
      bare.upsert(poisoned(Seq(("y", 2)).toDF("id", "v")))
    }
  }
}

/** Shared one-shot fault flag for the retry fault-injection test (object
  * scope so executor threads in local mode see the same instance).
  */
object CdcSpecFault {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
}
