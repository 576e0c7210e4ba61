package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.movies._

/** End-to-end movies domain: ingest fixtures (FIXTURES.md §A must-cover),
  * document invariants (§C), search intent.
  */
class MoviesSpec extends SparkTestBase {
  import spark.implicits._

  // ---- fixture: dirty legacy input covering every §A case -------------
  private lazy val legacyMovies = Seq(
    // normal movie: genres CSV, writers JSON (with a duplicate id), rating
    ("m1", "Action, Sci-Fi", "George Lucas", "",
      "Star Wars", "A space opera.", "x", "8.6",
      """[{"id":"w1"},{"id":"w1"},{"id":"w2"}]"""),
    // writers="" fallback to single writer col; director N/A; rating N/A
    ("m2", "Drama, Drama", "N/A", "w2",
      "Quiet Film", "N/A", "x", "N/A", ""),
    // duplicate row (DISTINCT semantics) + bad-writer reference w9 (no dim)
    ("m3", "Action", "Rick Author", "",
      "Loud Film", "Explosions.", "x", "5.1", """[{"id":"w9"}]"""),
    ("m3", "Action", "Rick Author", "",
      "Loud Film", "Explosions.", "x", "5.1", """[{"id":"w9"}]""")
  ).toDF("id", "genre", "director", "writer", "title", "plot", "ratings",
    "imdb_rating", "writers")

  private lazy val legacyActors = Seq(
    (1L, "Mark Hamill"), (2L, "N/A"), (3L, "George Lucas"), (1L, "Mark Hamill")
  ).toDF("id", "name")

  // w2's name is also a director's name on m1 → same person, many roles
  private lazy val legacyWriters = Seq(
    ("w1", "Leigh Brackett"), ("w2", "George Lucas"), ("w3", "")
  ).toDF("id", "name")

  private lazy val legacyMovieActors = Seq(
    ("m1", "1"), ("m1", "2"), ("m3", "3"), ("m1", "1")
  ).toDF("movie_id", "actor_id")

  private lazy val norm = Ingest.normalize(
    legacyMovies, legacyActors, legacyWriters, legacyMovieActors)

  test("ingest: sentinel cleaning, distinct, rating cast") {
    val films = norm.filmWork.orderBy("id").collect()
    assert(films.length === 3) // m3 deduped
    val byId = films.map(r => r.getString(0) -> r).toMap
    assert(byId("m1").getAs[Double]("rating") === 8.6)
    assert(byId("m2").isNullAt(byId("m2").fieldIndex("rating"))) // N/A → null
    assert(byId("m2").isNullAt(byId("m2").fieldIndex("description")))
  }

  test("ingest: genre minting dedups CSV repeats, bridges are unique") {
    val genres = norm.genre.select("name").as[String].collect().sorted
    assert(genres === Array("Action", "Drama", "Sci-Fi"))
    // m2 "Drama, Drama" → one bridge row
    val m2Bridges = norm.genreFilmWork.filter($"film_work_id" === "m2").count()
    assert(m2Bridges === 1)
  }

  test("ingest: person minting merges same name across roles; " +
       "sentinel people and their references drop") {
    val persons = norm.person.select("full_name").as[String].collect().sorted
    // George Lucas (director m1 + writer m1 + actor m3), Leigh Brackett,
    // Mark Hamill, Rick Author. N/A actor and empty-name writer w3 drop.
    assert(persons === Array(
      "George Lucas", "Leigh Brackett", "Mark Hamill", "Rick Author"))
    val lucasRoles = norm.personFilmWork
      .join(norm.person.filter($"full_name" === "George Lucas"),
        norm.personFilmWork("person_id") === norm.person("id"))
      .select("role").as[String].collect().distinct.sorted
    assert(lucasRoles === Array("actor", "director", "writer"))
  }

  test("ingest: writers JSON dedup + fallback + dropped invalid refs") {
    // m1 writer ids: w1 (deduped), w2; m2 falls back to w2;
    // m3's w9 has no dim row → contributes nothing
    val writerRows = norm.personFilmWork.filter($"role" === "writer")
      .join(norm.person, norm.personFilmWork("person_id") === norm.person("id"))
      .select($"film_work_id", $"full_name").as[(String, String)]
      .collect().toSet
    assert(writerRows === Set(
      ("m1", "Leigh Brackett"), ("m1", "George Lucas"),
      ("m2", "George Lucas")))
  }

  test("movie docs: arrays never null, names align with structs") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork).collect()
    assert(docs.length === 3)
    docs.foreach { r =>
      Seq("actors_names", "writers_names", "directors_names", "genres_names",
        "actors", "writers", "directors", "genres").foreach { f =>
        assert(!r.isNullAt(r.fieldIndex(f)), s"$f must not be null")
      }
      // alignment: names[i] == structs[i].name
      Seq("actors", "writers", "directors").foreach { f =>
        val names = r.getSeq[String](r.fieldIndex(f + "_names"))
        val structs = r.getSeq[Row](r.fieldIndex(f)).map(_.getString(1))
        assert(names === structs, s"$f names misaligned")
      }
    }
    val m1 = docs.find(_.getString(0) == "m1").get
    assert(m1.getSeq[String](m1.fieldIndex("actors_names")) ===
      Seq("Mark Hamill")) // N/A actor dropped
    assert(m1.getSeq[String](m1.fieldIndex("directors_names")) ===
      Seq("George Lucas"))
    assert(m1.getSeq[String](m1.fieldIndex("genres_names")).sorted ===
      Seq("Action", "Sci-Fi"))
  }

  test("person docs: roles distinct set; zero-film person gets []") {
    val pZero = Seq(("p_zero", "Nobody Famous")).toDF("id", "full_name")
      .withColumn("birth_date", lit(null).cast("date"))
      .withColumn("created_at", current_timestamp())
      .withColumn("updated_at", current_timestamp())
    val docs = Docs.personDocs(
      norm.person.unionByName(pZero), norm.personFilmWork).collect()
    val zero = docs.find(_.getString(0) == "p_zero").get
    assert(zero.getSeq[String](2) === Seq()) // fixed reference crash
    assert(zero.getSeq[String](3) === Seq())
    val lucas = docs.find(_.getString(1) == "George Lucas").get
    assert(lucas.getSeq[String](2) === Seq("actor", "director", "writer"))
  }

  test("genre docs: filmworks carry title + rating, empty genre gets []") {
    val docs = Docs.genreDocs(norm.genre, norm.filmWork, norm.genreFilmWork)
      .collect()
    val action = docs.find(_.getString(1) == "Action").get
    val fwTitles = action.getSeq[Row](2).map(_.getString(1))
    assert(fwTitles.sorted === Seq("Loud Film", "Star Wars"))
  }

  test("search: title boost ranks the title match first; " +
       "person-name query matches via role name fields") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork)
    val starHits = Search.search(docs, Some("star wars"), "imdb_rating",
      asc = false).select("id").as[String].collect()
    assert(starHits.headOption === Some("m1"))
    val lucasHits = Search.search(docs, Some("George Lucas"))
      .select("id").as[String].collect()
    // m1: director+writer; m2: fallback writer; m3: actor
    assert(lucasHits.toSet === Set("m1", "m2", "m3"))
  }

  test("search: stemmed match (explosions ~ explosion) and pagination") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork)
    val hits = Search.search(docs, Some("explosion"))
      .select("id").as[String].collect()
    assert(hits === Array("m3")) // plot says "Explosions."
    val page1 = Search.search(docs, None, "title", asc = true,
      page = 1, limit = 2).select("id").as[String].collect()
    val page2 = Search.search(docs, None, "title", asc = true,
      page = 2, limit = 2).select("id").as[String].collect()
    assert(page1.length === 2 && page2.length === 1)
    assert((page1 ++ page2).distinct.length === 3)
  }

  test("search API: a page whose rows lie past Int.MaxValue is rejected " +
       "(the 422 contract) on every face — never a wrapped offset " +
       "serving the wrong rows") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork).localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pidx_deep").toString
    val idx = PostingIndex.build(docs, dir,
      nTermBuckets = 4, nDocBuckets = 4)
    val sidx = SearchIndex.build(docs)
    // (page - 1) * limit wraps to 4 in Int for the first; the second
    // wraps negative; the third's offset fits but offset + limit does not
    for {
      (page, limit) <- Seq((85899347, 50), (50000000, 50), (42949673, 50))
      q <- Seq(None, Some("star wars"))
    } {
      intercept[IllegalArgumentException] {
        Search.search(docs, q, page = page, limit = limit)
      }
      intercept[IllegalArgumentException] {
        sidx.search(q, page = page, limit = limit)
      }
      intercept[IllegalArgumentException] {
        idx.search(q, page = page, limit = limit)
      }
    }
    // the deepest page that fits still serves (empty past the corpus)
    assert(Search.search(docs, None, page = 42949672, limit = 50)
      .collect().isEmpty)
  }

  test("SearchIndex: repeated searches reuse the hoisted corpus stats " +
       "(no per-query stats aggregate) and rank identically to the " +
       "one-shot scorer") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork)
    val idx = SearchIndex.build(docs)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"score").as[(String, Double)].collect()
        .sortBy(_._1).toSeq
    // bit-identical scores to the one-shot path on several queries,
    // including an unknown term (df = 0) and a repeated query
    for (q <- Seq("star wars", "George Lucas", "explosion",
        "star nonexistentterm", "star wars"))
      assert(ranked(idx.score(q)) === ranked(Search.score(docs, q)), q)
    // the stats are hoisted: a REPEATED query (terms memoized) runs
    // strictly fewer Spark jobs than the one-shot scorer, which pays
    // its corpus-stats aggregate every call
    def countJobs(group: String)(f: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try f finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    idx.score("star wars").collect() // warm the term cache
    val indexed = countJobs("idx_search")(idx.score("star wars").collect())
    val oneShot = countJobs("oneshot_search")(
      Search.score(docs, "star wars").collect())
    assert(indexed < oneShot,
      s"indexed search ran $indexed jobs vs one-shot $oneShot — " +
        "stats aggregate not hoisted")
    // index-backed full API face behaves like Search.search
    val viaIdx = idx.search(Some("star wars"), "imdb_rating", asc = false)
      .select("id").as[String].collect()
    val viaSearch = Search.search(docs, Some("star wars"), "imdb_rating",
      asc = false).select("id").as[String].collect()
    assert(viaIdx.toSeq === viaSearch.toSeq)
  }

  test("searchAfter: keyset page walk ≡ offset pagination on every " +
       "sort/direction/query combination, including the NULLS LAST " +
       "zone (m2 has a null rating) — and each page plans as top-k, " +
       "not a global sort") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork)
    def walk(query: Option[String], sortField: String, asc: Boolean,
        limit: Int): Seq[Seq[String]] = {
      val pages = Seq.newBuilder[Seq[String]]
      var after: Option[Search.SearchAfter] = None
      var done = false
      while (!done) {
        val rows = Search.searchAfter(docs, query, sortField, asc,
          limit, after).collect()
        if (rows.isEmpty) done = true
        else {
          pages += rows.map(_.getAs[String]("id")).toSeq
          after = Some(Search.cursorOf(rows.last, sortField))
          if (rows.length < limit) done = true
        }
      }
      pages.result()
    }
    def offsetWalk(query: Option[String], sortField: String, asc: Boolean,
        limit: Int): Seq[Seq[String]] =
      Iterator.from(1)
        .map(p => Search.search(docs, query, sortField, asc, p, limit)
          .select("id").as[String].collect().toSeq)
        .takeWhile(_.nonEmpty).toSeq
    // null-zone crossing: imdb_rating sorts (desc + asc) with m2's
    // null rating last; limit 1 forces a cursor AT the null boundary
    for {
      (q, sf, asc) <- Seq(
        (None, "imdb_rating", false), (None, "imdb_rating", true),
        (None, "title", true), (None, "id", false),
        (Some("lucas film"), "imdb_rating", false),
        (Some("star wars"), "id", true))
      limit <- Seq(1, 2)
    } assert(walk(q, sf, asc, limit) === offsetWalk(q, sf, asc, limit),
      s"(query=$q, sort=$sf, asc=$asc, limit=$limit)")
    // page shape: filter + TakeOrderedAndProject — never a global Sort
    val p = Search.searchAfter(docs, None, "imdb_rating", asc = false,
        limit = 2, after = Some(Search.SearchAfter(0.0, Some(8.6), "m1")))
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("PostingIndex: posting-pruned BM25F is referee-equal to the " +
       "full-scan scorer — bit-identical score column on every search " +
       "fixture query — and the reopened index serves identically") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork)
    val dir = java.nio.file.Files.createTempDirectory("graft_pidx").toString
    val idx = PostingIndex.build(docs, dir,
      nTermBuckets = 4, nDocBuckets = 4)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"score").as[(String, Double)].collect()
        .sortBy(_._1).toSeq
    // the MoviesSpec queries: title boost, person-name across fields,
    // stemmed match, an unknown term (df = 0), a fully-absent query
    for (q <- Seq("star wars", "George Lucas", "explosion",
        "star nonexistentterm", "zzz absentterm", "star wars")) {
      val pruned = ranked(idx.score(q))
      assert(pruned === ranked(Search.score(docs, q)), q)
    }
    // schema parity with the full-scan face (payload columns + score)
    assert(idx.score("star wars").columns.toSeq ===
      Search.score(docs, "star wars").columns.toSeq)
    // empty / all-stopword queries: empty result, full schema
    assert(idx.scoreTerms(Nil).collect().isEmpty)
    // search-API face parity (relevance order, sort, pagination)
    val viaIdx = idx.search(Some("star wars"), "imdb_rating", asc = false)
      .select("id").as[String].collect()
    val viaSearch = Search.search(docs, Some("star wars"), "imdb_rating",
      asc = false).select("id").as[String].collect()
    assert(viaIdx.toSeq === viaSearch.toSeq)
    val browse = idx.search(None, "title", asc = true, page = 2, limit = 2)
      .select("id").as[String].collect()
    assert(browse.length === 1)
    // serving restart: open() resolves stats.json and ranks identically
    val reopened = PostingIndex.open(spark, dir)
    assert(ranked(reopened.score("George Lucas")) ===
      ranked(Search.score(docs, "George Lucas")))
  }

  test("PostingIndex.refresh: append-only delta under exact integer " +
       "dl-sum stats ≡ from-scratch rebuild over corpus ∪ delta, " +
       "bit-for-bit — and both ≡ the full-scan scorer on the union") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork).localCheckpoint()
    val base = docs.filter($"id" =!= "m3")
    val delta = docs.filter($"id" === "m3")
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"score").as[(String, Double)].collect()
        .sortBy(_._1).toSeq
    val dirA = java.nio.file.Files.createTempDirectory("graft_pidx_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_pidx_b").toString
    val refreshed = PostingIndex
      .build(base, dirA, nTermBuckets = 4, nDocBuckets = 4)
      .refresh(delta)
    val rebuilt = PostingIndex.build(docs, dirB,
      nTermBuckets = 4, nDocBuckets = 4)
    for (q <- Seq("star wars", "George Lucas", "explosion",
        "loud film")) {
      val r = ranked(refreshed.score(q))
      assert(r === ranked(rebuilt.score(q)), s"refresh≠rebuild: $q")
      assert(r === ranked(Search.score(docs, q)), s"refresh≠fullscan: $q")
    }
    // delta docs are served (not just counted): m3-only term hits
    assert(refreshed.score("explosion").select("id").as[String]
      .collect().toSeq === Seq("m3"))
    // empty delta is a no-op
    val same = refreshed.refresh(docs.filter(lit(false)))
    assert(ranked(same.score("star wars")) ===
      ranked(Search.score(docs, "star wars")))
  }

  test("PostingIndex.upsert/delete: log-structured maintenance ≡ " +
       "from-scratch rebuild bit-for-bit (scores AND ranking) — " +
       "replace-then-query, delete-then-query, replay absorption, " +
       "reopen, torn-write recovery, compaction") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork).localCheckpoint()
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"score").as[(String, Double)].collect()
        .sortBy(_._1).toSeq
    def freshDir() = java.nio.file.Files
      .createTempDirectory("graft_pidx_upd").toString
    val queries = Seq("star wars", "George Lucas", "explosion",
      "quiet film", "renameterm saga")
    // referee: maintained index vs a REBUILD over the expected corpus
    // vs the full-scan scorer — all three bit-identical per query
    def assertEquiv(
        idx: PostingIndex, corpus: org.apache.spark.sql.DataFrame,
        label: String): Unit = {
      val rebuilt = PostingIndex.build(corpus, freshDir(),
        nTermBuckets = 4, nDocBuckets = 4)
      for (q <- queries) {
        val got = ranked(idx.score(q))
        assert(got === ranked(rebuilt.score(q)), s"$label ≠ rebuild: $q")
        assert(got === ranked(Search.score(corpus, q)),
          s"$label ≠ fullscan: $q")
      }
    }
    // start from m1+m2; the UPDATE retitles m1 (old title term must
    // stop matching, a fresh unique term must match), the same batch
    // INSERTS m3 — one upsert exercising replace + insert together
    val m1v2 = docs.filter($"id" === "m1")
      .withColumn("title", lit("Renamed Saga"))
      .withColumn("description", lit("A renameterm story."))
      .localCheckpoint()
    val batch = m1v2.unionByName(docs.filter($"id" === "m3"))
      .localCheckpoint()
    val corpusV2 = docs.filter($"id" === "m2").unionByName(batch)
      .localCheckpoint()
    val dir = freshDir()
    val idx0 = PostingIndex.build(docs.filter($"id" =!= "m3"), dir,
      nTermBuckets = 4, nDocBuckets = 4)
    val idx1 = idx0.upsert(batch)
    assertEquiv(idx1, corpusV2, "upsert")
    // replace-then-query: the old title's terms no longer hit m1; the
    // replacement's unique term serves m1 (and only m1)
    assert(!idx1.score("star wars").select("id").as[String].collect()
      .contains("m1"))
    assert(idx1.score("renameterm").select("id").as[String].collect()
      .toSeq === Seq("m1"))
    // replay absorption: re-delivering the same batch changes nothing
    // (subtract == add; the duplicate segment supersedes with equal
    // content)
    val idxReplay = idx1.upsert(batch)
    assertEquiv(idxReplay, corpusV2, "replayed upsert")
    // split-brain tripwire: a SUPERSEDED handle must refuse to write
    // (it would sweep the replay's published segment as debris and
    // apply stats deltas against stale integers)
    val staleErr = intercept[IllegalArgumentException] {
      idx1.upsert(batch)
    }
    assert(staleErr.getMessage.contains("stale index handle"))
    // delete-then-query: m2 vanishes at every probe; stats shrink by
    // exactly m2's integer dls (scores of survivors == rebuild)
    val idx2 = idxReplay.delete(Seq("m2").toDF("id"))
    val corpusV3 = corpusV2.filter($"id" =!= "m2").localCheckpoint()
    assertEquiv(idx2, corpusV3, "delete")
    assert(!idx2.score("quiet film").select("id").as[String].collect()
      .contains("m2")) // m3's "Loud Film" still legitimately matches
    // deleting absent ids is a no-op (idempotent delete)
    assertEquiv(idx2.delete(Seq("m2", "ghost").toDF("id")), corpusV3,
      "re-delete")
    // serving restart mid-maintenance: open() resumes the exact state
    val reopened = PostingIndex.open(spark, dir)
    assertEquiv(reopened, corpusV3, "reopen")
    // batched face over the maintained index == single face per query
    val multi = reopened.scoreMulti(
      queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }
        .toDF("qid", "q"), "qid", "q")
      .select($"qid", $"id", $"score").as[(Long, String, Double)]
      .collect().groupBy(_._1)
      .map { case (k, v) => k -> v.map(t => (t._2, t._3)).sortBy(_._1).toSeq }
    for ((q, i) <- queries.zipWithIndex)
      assert(multi.getOrElse(i.toLong, Seq.empty) ===
        ranked(reopened.score(q)), s"multi≠single on maintained: $q")
    // torn-write recovery: a segment whose stats publish never landed
    // is crash debris — the reopened index serves the PRE-crash state,
    // and the next maintenance op sweeps and re-applies cleanly
    val statsPath = java.nio.file.Paths.get(dir, "stats.json")
    val statsBefore = java.nio.file.Files.readAllBytes(statsPath)
    val m2back = docs.filter($"id" === "m2").localCheckpoint()
    reopened.upsert(m2back) // segment + stats land...
    java.nio.file.Files.write(statsPath, statsBefore) // ...crash: undone
    // drop the Hadoop local-FS checksum sidecar the byte-restore broke
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, ".stats.json.crc"))
    val recovered = PostingIndex.open(spark, dir)
    assertEquiv(recovered, corpusV3, "post-crash (debris ignored)")
    val healed = recovered.upsert(m2back)
    assertEquiv(healed, corpusV3.unionByName(m2back), "healed re-upsert")
    // compaction folds the log into a fresh base — bit-identical
    // serving, segments gone, and maintenance keeps working after
    // (retainVersions = 1 throughout this drill: gc to exactly the
    // live layout; the retention window gets its own drill below)
    val compacted = healed.compact(retainVersions = 1)
    assertEquiv(compacted, corpusV3.unionByName(m2back), "compacted")
    assert(!new java.io.File(s"$dir/delta").exists(),
      "compaction drops the delta log")
    val corpusV5 = corpusV3.unionByName(m2back).filter($"id" =!= "m3")
      .localCheckpoint()
    val idx5 = compacted.delete(Seq("m3").toDF("id"))
    assertEquiv(idx5, corpusV5, "post-compact delete")
    // compact-crash drill, BOTH sides of the versioned publish:
    // (a) dying right AFTER the stats publish (sweepAfter = false):
    //     the reopened index serves the NEW layout; the old layout
    //     dirs + folded segments are debris still on disk
    val crashed = idx5.compactImpl(sweepAfter = false, retainVersions = 1)
    assertEquiv(PostingIndex.open(spark, dir), corpusV5,
      "post-publish compact crash")
    assert(new java.io.File(s"$dir/delta").exists(),
      "the crash left the folded segments behind (debris)")
    // (b) dying BEFORE the publish: a half-written higher-version
    //     layout dir must be invisible to readers
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "docs-99"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "docs-99", "not-parquet"), "junk")
    assertEquiv(PostingIndex.open(spark, dir), corpusV5,
      "pre-publish compact crash (half-written layout ignored)")
    // the next writer sweeps BOTH kinds of debris and serving goes on
    val swept = crashed.compact(retainVersions = 1)
    assertEquiv(swept, corpusV5, "post-crash sweep")
    val leftover = new java.io.File(dir).list().toSet
    assert(!leftover.contains("docs-99") && !leftover.contains("docs") &&
      !leftover.contains("postings"),
      s"stale layout debris survived the sweep: $leftover")
    assertEquiv(swept.upsert(docs.filter($"id" === "m3")),
      corpusV5.unionByName(docs.filter($"id" === "m3")),
      "maintenance continues on the swept index")
  }

  test("PostingIndex compact retention window (VERDICT r11 #2): a " +
       "reader holding a pre-compact handle survives the compact AND " +
       "the next maintenance op's sweep, then ages out after " +
       "retainVersions newer layouts exist") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork).localCheckpoint()
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"score").as[(String, Double)].collect()
        .sortBy(_._1).toSeq
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pidx_retain").toString
    val m3 = docs.filter($"id" === "m3").localCheckpoint()
    var writer = PostingIndex.build(docs.filter($"id" =!= "m3"), dir,
      nTermBuckets = 4, nDocBuckets = 4)
    writer = writer.upsert(m3)
    // the reader binds to layout 0 + the live segment (seq window
    // includes the upsert) — the full pre-compact state
    val reader = PostingIndex.open(spark, dir)
    val want = ranked(reader.score("star wars"))
    assert(want.nonEmpty)
    // compact publishes layout 1; default retainVersions = 2 keeps
    // layout 0 AND its folded segment alive for the reader
    writer = writer.compact()
    assert(ranked(reader.score("star wars")) === want,
      "reader must survive the compact it predates")
    // the NEXT maintenance op's sweep must also spare the retained
    // layout (this is the sweep that used to delete it)
    writer = writer.delete(Seq("m2").toDF("id"))
    assert(ranked(reader.score("star wars")) === want,
      "reader must survive the next maintenance op's sweep")
    assert(new java.io.File(s"$dir/docs").exists(),
      "retained layout 0 dirs must still be on disk")
    // a second compact publishes layout 2 — layout 0 ages out of the
    // window (retained = {1}), and the aged reader's dirs are gone
    writer = writer.compact()
    assert(!new java.io.File(s"$dir/docs").exists() &&
      !new java.io.File(s"$dir/postings").exists(),
      "layout 0 must age out after retainVersions newer layouts")
    intercept[Exception] { reader.score("star wars").collect() }
    // user-placed dirs whose names merely START with docs/postings are
    // never swept (ADVICE r11), and foreign debris in delta/ neither
    // breaks serving nor survives a writer sweep
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "docs_backup"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "delta", "seg-bogus"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "delta", "seg-12x-u"))
    val cur = PostingIndex.open(spark, dir)
    val wantCur = ranked(cur.score("loud film"))
    assert(ranked(PostingIndex.open(spark, dir).score("loud film"))
      === wantCur, "foreign delta debris must not break serving")
    val after = cur.upsert(m3) // writer op sweeps malformed seg-* names
    assert(!new java.io.File(s"$dir/delta/seg-bogus").exists() &&
      !new java.io.File(s"$dir/delta/seg-12x-u").exists(),
      "malformed seg-* debris must be swept by the next writer")
    assert(new java.io.File(s"$dir/docs_backup").exists(),
      "a user-placed docs_backup dir must never be swept")
    // duplicate-id upsert tripwire (ADVICE r11): loud, not silent
    val dupErr = intercept[IllegalArgumentException] {
      after.upsert(m3.unionByName(m3))
    }
    assert(dupErr.getMessage.contains("unique"))
  }

  test("scoreTermsTopK max-score pruning (VERDICT r11 #3): top-k is " +
       "BIT-IDENTICAL to the full serve on both branches, the pruned " +
       "branch genuinely fires on a stopword-grade term (skipping its " +
       "posting scan), and every unsafe state falls back exactly") {
    val docs = (1L to 400L).map { i =>
      val common = if (i % 3 != 0) " graftcommon" else "" // df ≈ 267/400
      val rare = if (i % 97 == 0) " graftrare" else ""    // df = 4/400
      (i, s"word${i % 23} filler row$common$rare")
    }.toDF("id", "text").localCheckpoint()
    val tokens = Map("text" -> split($"text", "\\s+"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pidx_topk").toString + "/idx"
    var idx = PostingIndex.buildTokenized(docs, dir, tokens,
      Map("text" -> 1), idCol = "id", nTermBuckets = 4, nDocBuckets = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"score").as[(Long, Double)].collect().toSeq
    def full(terms: Seq[String], k: Int) = rows(
      idx.scoreTerms(terms).orderBy($"score".desc, $"id").limit(k))
    // the designed case: a selective term + a stopword-grade term —
    // the pruned branch must fire AND match the full serve bit-for-bit
    val (pruned, fired) =
      idx.scoreTermsTopKImpl(Seq("graftrare", "graftcommon"), 3)
    assert(fired, "expected the max-score pruned branch to fire")
    assert(rows(pruned) === full(Seq("graftrare", "graftcommon"), 3))
    // k exceeding the selective candidates: NOT safe — exact fallback
    val (fb1, fired1) =
      idx.scoreTermsTopKImpl(Seq("graftrare", "graftcommon"), 50)
    assert(!fired1)
    assert(rows(fb1) === full(Seq("graftrare", "graftcommon"), 50))
    // all-stopword query: nothing selective to generate candidates
    val (fb2, fired2) = idx.scoreTermsTopKImpl(Seq("graftcommon"), 5)
    assert(!fired2)
    assert(rows(fb2) === full(Seq("graftcommon"), 5))
    // absent term alongside: df = 0 terms drop, parity holds
    val (fb3, _) =
      idx.scoreTermsTopKImpl(Seq("graftrare", "graftcommon", "ghost"), 3)
    assert(rows(fb3) === full(Seq("graftrare", "graftcommon", "ghost"), 3))
    // a MAINTAINED index (live delta segments — the CDC steady state):
    // the pruned branch must STILL FIRE (VERDICT r12 #1), with dfs
    // corrected by exact integer deltas from the live log, and stay
    // bit-identical to the exact fold over the new state. The batch
    // changes df in all four ways: a NEW doc adds graftrare+graftcommon;
    // a REPLACE removes doc 97's graftrare membership (df 4→3 base-side,
    // +1 new = 4); a REPLACE adds graftrare to doc 2; a DELETE removes
    // doc 194's graftrare. Net graftrare df: 4 −1(97) +1(2) −1(194)
    // +1(401) = 4.
    idx = idx.upsert(Seq(
        (401L, "graftrare graftcommon fresh"),
        (97L, "word5 filler row graftcommon"),
        (2L, "word2 filler row graftrare graftcommon"))
      .toDF("id", "text"), tokens)
    idx = idx.delete(Seq(194L).toDF("id"))
    val (p4, fired4) =
      idx.scoreTermsTopKImpl(Seq("graftrare", "graftcommon"), 3)
    assert(fired4,
      "the pruned branch must fire on a LIVE delta log (maintained dfs)")
    assert(rows(p4) === full(Seq("graftrare", "graftcommon"), 3))
    assert(rows(p4).map(_._1).contains(401L),
      "the upserted doc must be servable through the pruned branch")
    // a deleted doc must not surface even when its base postings still
    // name it: probe with k large enough to reach every graftrare match
    // while keeping the prune safe
    val (p4b, _) = idx.scoreTermsTopKImpl(Seq("graftrare", "graftcommon"), 4)
    assert(!rows(p4b).map(_._1).contains(194L) &&
      !rows(p4b).map(_._1).contains(97L),
      "deleted/replaced-away docs must not serve from stale postings")
    assert(rows(p4b) === full(Seq("graftrare", "graftcommon"), 4))
    // compact rewrites the df side table — pruning resumes, new doc in
    idx = idx.compact()
    val (p5, fired5) =
      idx.scoreTermsTopKImpl(Seq("graftrare", "graftcommon"), 3)
    assert(fired5)
    assert(rows(p5) === full(Seq("graftrare", "graftcommon"), 3))
    assert(rows(p5).map(_._1).contains(401L))
    // bulk refresh APPENDS (term, +df) delta rows to the side table
    // (VERDICT r13 #1): pruning keeps firing straight through the
    // refresh, with dfs folded by sum — bit-parity against the exact
    // serve over the refreshed corpus. The delta shifts both dfs
    // (graftrare +2, graftcommon +1 of 3 new docs).
    idx = idx.refresh(
      Seq((500L, "word1 filler row graftcommon"),
          (501L, "word2 graftrare filler"),
          (502L, "word3 graftrare filler")).toDF("id", "text"), tokens)
    val (p6, fired6) =
      idx.scoreTermsTopKImpl(Seq("graftrare", "graftcommon"), 3)
    assert(fired6,
      "the pruned branch must keep firing through a bulk refresh " +
        "(maintained dfstats, VERDICT r13 #1)")
    assert(rows(p6) === full(Seq("graftrare", "graftcommon"), 3))
    assert(rows(idx.scoreTermsTopKImpl(Seq("graftrare", "graftcommon"),
        5)._1).map(_._1).exists(Set(501L, 502L)),
      "refreshed docs must be servable through the pruned branch")
    // a SECOND refresh stacks another delta row per term — the sum
    // fold must still match exactly
    idx = idx.refresh(
      Seq((503L, "word4 graftrare graftcommon")).toDF("id", "text"),
      tokens)
    val (p7, fired7) =
      idx.scoreTermsTopKImpl(Seq("graftrare", "graftcommon"), 3)
    assert(fired7)
    assert(rows(p7) === full(Seq("graftrare", "graftcommon"), 3))
    // refresh → upsert/delete → topK: the side-table sum fold and the
    // delta-log signed corrections compose (the CDC steady state
    // crossing a bulk load)
    idx = idx.upsert(Seq((503L, "word4 graftcommon")).toDF("id", "text"),
      tokens)
    idx = idx.delete(Seq(501L).toDF("id"))
    val (p8, fired8) =
      idx.scoreTermsTopKImpl(Seq("graftrare", "graftcommon"), 3)
    assert(fired8,
      "pruning must fire with BOTH refresh delta rows and live log " +
        "segments in play")
    assert(rows(p8) === full(Seq("graftrare", "graftcommon"), 3))
    // compact rewrites the side table flat — parity and pruning hold
    idx = idx.compact()
    val (p9, fired9) =
      idx.scoreTermsTopKImpl(Seq("graftrare", "graftcommon"), 3)
    assert(fired9)
    assert(rows(p9) === full(Seq("graftrare", "graftcommon"), 3))
  }

  test("scoreTermsTopKMulti (batched max-score pruning): per query " +
       "BIT-IDENTICAL to scoreTermsMulti ranked+truncated, the pruned " +
       "branch fires for exactly the safely-prunable queries (mixed " +
       "batch: prunable / all-stopword / all-selective / ghost-term), " +
       "on the immutable AND the maintained layout") {
    val docs = (1L to 400L).map { i =>
      val common = if (i % 3 != 0) " graftcommon" else ""
      val rare = if (i % 97 == 0) " graftrare" else ""
      (i, s"word${i % 23} filler row$common$rare")
    }.toDF("id", "text").localCheckpoint()
    val tokens = Map("text" -> split($"text", "\\s+"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pidx_topk_multi").toString + "/idx"
    var idx = PostingIndex.buildTokenized(docs, dir, tokens,
      Map("text" -> 1), idCol = "id", nTermBuckets = 4, nDocBuckets = 4)
    val queries = Seq(
      (1L, Seq("graftrare", "graftcommon")), // prunable, safe
      (2L, Seq("graftcommon")),              // all-stopword → exact
      (3L, Seq("graftrare")),                // nothing excluded → exact
      (4L, Seq("ghost", "graftcommon")),     // ghost drops → exact
      (5L, Seq("word5", "graftcommon")))     // second prunable query
      .toDF("qid", "terms").localCheckpoint()
    def want(k: Int) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"score".desc, $"id".asc)
      idx.scoreTermsMulti(queries, "qid", "terms")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= k)
        .select($"qid", $"id", $"score", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSet
    }
    def got(k: Int) = {
      val (res, safe) = idx.scoreTermsTopKMultiImpl(queries, "qid",
        "terms", k)
      (res.select($"qid", $"id", $"score", $"rank")
        .as[(Long, Long, Double, Long)].collect().toSet, safe)
    }
    val (g3, safe3) = got(3)
    assert(g3 === want(3))
    assert(safe3.contains(1L),
      "the designed rare+stopword query must serve from the pruned branch")
    assert(!safe3.contains(2L) && !safe3.contains(3L) &&
      !safe3.contains(4L),
      s"only prunable queries may take the pruned branch: $safe3")
    // k exceeding the selective candidate pools: everyone exact, still
    // identical
    val (g50, safe50) = got(50)
    assert(g50 === want(50))
    assert(safe50.isEmpty)
    // MAINTAINED layout: live upsert+delete segments changing df in
    // several ways — batched pruning must still fire and match
    idx = idx.upsert(Seq(
        (401L, "graftrare graftcommon fresh"),
        (97L, "word5 filler row graftcommon"))
      .toDF("id", "text"), tokens)
    idx = idx.delete(Seq(194L).toDF("id"))
    val (gm, safem) = got(3)
    assert(gm === want(3))
    assert(safem.contains(1L),
      "batched pruning must fire on a LIVE delta log")
    assert(gm.exists { case (q, id, _, _) => q == 1L && id == 401L },
      "the upserted doc must serve through the batched pruned branch")
    assert(!gm.exists(_._2 == 194L),
      "a deleted doc must not serve from any batched branch")
    // a NULL-keyed query joins the batch (ADVICE r13 #2): it must
    // serve EXACTLY — the isin splits cannot route SQL NULL — while
    // the prunable queries KEEP the pruned branch; one null id must
    // not forfeit the whole batch's pruning
    val withNull = queries.unionByName(
      Seq(Tuple1(Seq("word3", "graftcommon"))).toDF("terms")
        .select(lit(null).cast("long").as("qid"), $"terms"))
    def optRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"id", $"score", $"rank").collect()
        .map(r => (Option(r.get(0)), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
    val wantNull = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"score".desc, $"id".asc)
      optRows(idx.scoreTermsMulti(withNull, "qid", "terms")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 3))
    }
    val (resN, safeN) =
      idx.scoreTermsTopKMultiImpl(withNull, "qid", "terms", 3)
    assert(optRows(resN) === wantNull,
      "a mixed batch with a null-keyed query must serve every query " +
        "exactly (nulls exact, rest through their own splits)")
    assert(wantNull.exists(_._1.isEmpty),
      "the null-keyed query must actually contribute served rows")
    assert(safeN.contains(1L),
      "the prunable query must keep the pruned branch despite a " +
        "null-keyed query in the batch")
  }

  test("search API over a MAINTAINED index (live delta segments): " +
       "query + sort + pagination and the pure browse all equal the " +
       "full-scan Search.search over the current corpus") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork).localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pidx_api").toString
    val m1v2 = docs.filter($"id" === "m1")
      .withColumn("title", lit("Renamed Saga")).localCheckpoint()
    // maintained state: m3 inserted, m1 replaced, one doc deleted and
    // re-upserted (a tombstone superseded by a later segment)
    val idx = PostingIndex
      .build(docs.filter($"id" =!= "m3"), dir,
        nTermBuckets = 4, nDocBuckets = 4)
      .upsert(docs.filter($"id" === "m3"))
      .upsert(m1v2)
      .delete(Seq("m2").toDF("id"))
      .upsert(docs.filter($"id" === "m2"))
    val corpus = docs.filter($"id" =!= "m1").unionByName(m1v2)
      .localCheckpoint()
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[String].collect().toSeq
    for {
      (q, sf, asc) <- Seq(
        (None, "title", true), (None, "imdb_rating", false),
        (Some("film"), "id", true),
        (Some("renamed saga"), "imdb_rating", false))
      page <- Seq(1, 2)
    } assert(
      ids(idx.search(q, sf, asc, page, limit = 2)) ===
        ids(Search.search(corpus, q, sf, asc, page, limit = 2)),
      s"(query=$q, sort=$sf, asc=$asc, page=$page)")
    // keyset deep pagination over the pruned MAINTAINED path: cursor
    // walks page-for-page equal to the full-scan searchAfter face
    // (shared predicate), limit 1 to cross every boundary incl. the
    // null-rating zone
    for ((q, sf, asc) <- Seq(
        (Some("film"), "imdb_rating", false), (None, "title", true))) {
      def walk(f: (Option[Search.SearchAfter]) =>
          org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
        var cur: Option[Search.SearchAfter] = None
        val pages = Seq.newBuilder[Seq[String]]
        var go = true
        while (go) {
          val rows = f(cur).collect()
          if (rows.isEmpty) go = false
          else {
            pages += rows.map(_.getAs[String]("id")).toSeq
            cur = Some(Search.cursorOf(rows.last, sf))
          }
        }
        pages.result()
      }
      assert(
        walk(c => idx.searchAfter(q, sf, asc, limit = 1, after = c)) ===
          walk(c =>
            Search.searchAfter(corpus, q, sf, asc, limit = 1, after = c)),
        s"searchAfter walk (query=$q, sort=$sf, asc=$asc)")
    }
  }

  test("PostingIndex read pins are per-handle snapshots: a handle that " +
       "served keeps its pages through later upserts, deletes and a " +
       "compact; later handles serve the current docs, and a handle " +
       "first read after the compact still folds its retained segments") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork).localCheckpoint()
    def freshDir() = java.nio.file.Files
      .createTempDirectory("graft_pidx_pin").toString
    val m1v2 = docs.filter($"id" === "m1")
      .withColumn("title", lit("Renamed Saga")).localCheckpoint()
    // h1: maintained (m3 arrives as a segment), so serving pins its fold
    val h1 = PostingIndex.build(docs.filter($"id" =!= "m3"), freshDir(),
        nTermBuckets = 4, nDocBuckets = 4)
      .upsert(docs.filter($"id" === "m3"))
    val requests = Seq(
      (Some("film"), "id", true), (Some("star wars"), "imdb_rating", false),
      (Some("renamed saga"), "id", true), (None, "title", true))
    def pages(serve: (Option[String], String, Boolean, Int) =>
        org.apache.spark.sql.DataFrame): Seq[Seq[(String, Double)]] =
      for ((q, sf, asc) <- requests; page <- Seq(1, 2))
        yield serve(q, sf, asc, page).select($"id", $"score")
          .as[(String, Double)].collect().toSeq
    def viaIndex(idx: PostingIndex) =
      pages((q, sf, asc, p) => idx.search(q, sf, asc, p, limit = 2))
    def ids(ps: Seq[Seq[(String, Double)]]) = ps.map(_.map(_._1))
    def viaScan(corpus: org.apache.spark.sql.DataFrame) = ids(
      pages((q, sf, asc, p) => Search.search(corpus, q, sf, asc, p, 2)))
    val h1Pages = viaIndex(h1)
    // the writer moves on: m1 replaced and m2 deleted (→ h2), then a
    // compact with the default retention (→ h3); h2 is first read
    // only after the compact
    val h2 = h1.upsert(m1v2).delete(Seq("m2").toDF("id"))
    val h3 = h2.compact()
    val current = docs.filter(!$"id".isin("m1", "m2")).unionByName(m1v2)
    assert(viaIndex(h1) === h1Pages, "h1's pages moved under its pin")
    assert(h1Pages === viaIndex(PostingIndex.build(docs, freshDir(),
      nTermBuckets = 4, nDocBuckets = 4)), "h1 ≢ a rebuild over its docs")
    assert(ids(viaIndex(h2)) === viaScan(current),
      "h2 first read after the compact")
    assert(ids(viaIndex(h3)) === viaScan(current), "h3 (compacted)")
  }

  test("PostingIndex.scoreTermsMulti: one batch, zero per-query jobs' " +
       "worth of driver actions — per-(term,doc) contributions shared " +
       "across queries, per-query folds in term order — bit-identical " +
       "to the single face per query") {
    val docs = Docs.movieDocs(norm.filmWork, norm.person, norm.genre,
      norm.personFilmWork, norm.genreFilmWork)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pidx_multi").toString
    val idx = PostingIndex.build(docs, dir,
      nTermBuckets = 4, nDocBuckets = 4)
    val queryStrings = Seq(
      1L -> "star wars", 2L -> "George Lucas", 3L -> "explosion",
      4L -> "zzz absentterm", 5L -> "star wars lucas")
    val out = idx.scoreMulti(queryStrings.toDF("qid", "q"), "qid", "q")
      .select($"qid", $"id", $"score").as[(Long, String, Double)]
      .collect().groupBy(_._1)
      .map { case (k, v) =>
        k -> v.map(t => (t._2, t._3)).sortBy(_._1).toSeq }
    for ((qid, q) <- queryStrings) {
      val single = idx.score(q).select($"id", $"score")
        .as[(String, Double)].collect().sortBy(_._1).toSeq
      assert(out.getOrElse(qid, Seq.empty) === single,
        s"multi≠single for query '$q'")
    }
    // all-absent-terms query contributes no rows (score>0 per query)
    assert(!out.contains(4L))
    // schema: query id + full payload + score
    val cols = idx.scoreMulti(queryStrings.toDF("qid", "q"), "qid", "q")
      .columns.toSeq
    assert(cols.head === "qid" && cols.last === "score" &&
      cols.contains("title"))
    // empty batch → empty result, full schema
    assert(idx.scoreMulti(Seq.empty[(Long, String)].toDF("qid", "q"),
      "qid", "q").isEmpty)
  }

  test("russian snowball: inflected forms stem to the published roots") {
    val cases = Seq(
      // noun case endings fold to one root
      "войны" -> "войн", "война" -> "войн", "войну" -> "войн",
      "войне" -> "войн", "люди" -> "люд",
      // adjectives (incl. ё→е)
      "звёздные" -> "звездн", "звёздная" -> "звездн",
      "звёздный" -> "звездн", "красивый" -> "красив",
      "красивая" -> "красив", "важная" -> "важн",
      // verbs, perfective gerund, reflexive
      "бежала" -> "бежа", "сделав" -> "сдела", "осталась" -> "оста",
      // derivational ость strips ONLY inside R2
      "вероятность" -> "вероятн", "радость" -> "радост",
      // superlative tidy-up
      "добрейшей" -> "добр")
    cases.foreach { case (w, want) =>
      assert(Analyzer.russianStem(w) === want, s"stem($w)")
    }
  }

  test("analyzer: en+ru stemming and stopword removal") {
    val toks = Seq("The running dogs and Звёздные войны")
      .toDF("t").select(Analyzer.analyze($"t")).head.getSeq[String](0)
    assert(!toks.contains("the") && !toks.contains("and"))
    assert(toks.contains("run") || toks.contains("runn"))
    assert(toks.contains("dog"))
    // "звёздные" (adjective) and "войны" (noun) stem to shared prefixes
    // with other forms: analyze("звёздная война") must overlap
    val toks2 = Seq("звёздная война").toDF("t")
      .select(Analyzer.analyze($"t")).head.getSeq[String](0)
    assert(toks.intersect(toks2).size === 2,
      s"ru forms must stem together: $toks vs $toks2")
  }
}
