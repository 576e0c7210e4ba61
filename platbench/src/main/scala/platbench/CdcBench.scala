package platbench

import java.sql.Timestamp
import java.time.Instant
import java.time.temporal.ChronoUnit
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.cdc.{CdcPipeline, Keyset}
import graft.movies.{Analyzer, Docs, PostingIndex, PostingIndexSink}

/** `cdc`: rounds of source changes, each committed and then drained by
  * `CdcPipeline.drain` into the movies search index (`PostingIndexSink`)
  * and the persons/genres `LogUpsertSink`s, with search requests against
  * the live index after every drain and compaction before every round.
  *
  * Set-up (untimed): generate, bulk-load and check the load against
  * the model, position every process's cursor at its table's last
  * (ts, id) — the state a completed drain leaves — and run one warm-up
  * round. Timed: whole rounds, as many as fit the run's seconds at
  * ~20 s a round, at least one. `batch_s` is the median round
  * maintenance time (compaction, then changes committed → `drain`
  * returned with all three stores serving them); `read_p50_ms` the
  * median latency of the requests between rounds.
  */
object CdcBench {
  val Movies = 500
  val ReadsPerRound = 4
  val NominalRoundS = 20
  val Limit = 50

  def serve(idx: PostingIndex, r: Gen.Request): Seq[(String, Double)] =
    idx.search(r.query, r.sortField, r.asc, r.page, Limit).collect().toSeq
      .map(row => (row.getAs[String]("id"), row.getAs[Double]("score")))

  def pagesMatch(got: Seq[(String, Double)], want: Seq[(String, Double)]): Boolean =
    got.map(_._1) == want.map(_._1) &&
      got.zip(want).forall { case ((_, a), (_, b)) =>
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)) }

  /** Every corpus word and every reserved word a run can use must
    * analyze to itself — the premise of the plain-Scala BM25F referee.
    */
  def checkAnalyzer(c: Ctx): Unit = {
    import c.spark.implicits._
    val words = Gen.AllWords2 ++ (0 until 8 * 64).map(Gen.reservedWord) ++
      (0 until 64).map(r => Gen.reservedWord(100000 + r))
    val bad = words.toDF("w")
      .select(col("w"), Analyzer.analyze(col("w")).as("a"))
      .filter(size(col("a")) =!= 1 || col("a")(0) =!= col("w"))
      .as[(String, Seq[String])].collect()
    c.check(bad.isEmpty,
      s"analyzer changes ${bad.length} vocabulary words, e.g. ${bad.take(3).toSeq}")
  }

  private def ts(micros: Long) =
    Timestamp.from(Instant.EPOCH.plus(micros, ChronoUnit.MICROS))

  /** The round's changes, drawn against the model's current state. The
    * make-up is the same every round: 12 film edits, 4 person renames
    * (one of them a top-5 person by film count: fan-out), 1 genre rename
    * (a genre ranked 3rd-6th by film count: wide fan-out), 3 new films
    * with 3 cast and 2 genre rows each, 10 new person bridge rows and 5
    * new genre bridge rows. No deletes (keyset CDC cannot see them).
    */
  def makeRound(seed: Long, r: Int, m: Model.Db, db: Gen.LegacyDb): Gen.Round = {
    val rng = new Random(seed * 31L + r)
    val films = m.films.keys.toIndexedSeq.sorted
    val persons = m.persons.keys.toIndexedSeq.sorted
    val genres = m.genres.keys.toIndexedSeq.sorted
    val titleZ = new Gen.Zipf(db.titleWords.size, 1.0)
    def title() = Gen.words(rng, db.titleWords, titleZ, 1 + rng.nextInt(3))
    def rating() = Some((10 + rng.nextInt(81)) / 10.0)
    val edits = rng.shuffle(films).take(12).map(f => (f, title(), rating()))
    val byFilms = persons.sortBy(p => (-m.pfwByPerson.get(p).fold(0)(_.size), p))
    val fan = byFilms(r % 5)
    val renamed = (fan +: rng.shuffle(persons.filterNot(_ == fan)).take(3))
      .zipWithIndex.map { case (p, i) =>
        (p, s"${Gen.reservedWord(8 * r + 2 * i)} ${Gen.reservedWord(8 * r + 2 * i + 1)}")
      }
    val byGenre = genres.sortBy(g => (-m.gfwByGenre.get(g).fold(0)(_.size), g))
    val genreRename = Seq((byGenre(2 + r % 4), Gen.reservedWord(100000 + r)))
    val newFilms = (0 until 3).map(i => (f"tn$r%05d$i", title(), rating()))
    val roles = Seq("actor", "director", "writer")
    val newPfw = mutable.LinkedHashSet.empty[(String, String, String)]
    newFilms.foreach { case (f, _, _) =>
      while (newPfw.count(_._1 == f) < 3)
        newPfw += ((f, persons(rng.nextInt(persons.size)), roles(rng.nextInt(3))))
    }
    while (newPfw.size < 19) {
      val p = (films(rng.nextInt(films.size)), persons(rng.nextInt(persons.size)),
        roles(rng.nextInt(3)))
      if (!m.pfw.contains(Model.Pfw(p._1, p._2, p._3))) newPfw += p
    }
    val newGfw = mutable.LinkedHashSet.empty[(String, String)]
    newFilms.foreach { case (f, _, _) =>
      while (newGfw.count(_._1 == f) < 2)
        newGfw += ((f, genres(rng.nextInt(genres.size))))
    }
    while (newGfw.size < 11) {
      val g = (films(rng.nextInt(films.size)), genres(rng.nextInt(genres.size)))
      if (!m.gfw.contains(g)) newGfw += g
    }
    Gen.Round(Gen.roundTsMicros(seed, r), edits, renamed, genreRename,
      newFilms, newPfw.toSeq, newGfw.toSeq)
  }

  /** Movie docs whose content a round changes (all of them are then
    * due for re-denormalization).
    */
  def affectedFilms(m: Model.Db, rd: Gen.Round): Set[String] =
    (rd.filmEdits.map(_._1) ++ rd.newFilms.map(_._1) ++
      rd.personRenames.flatMap(p => m.pfwByPerson.get(p._1).toSeq.flatten.map(_.film)) ++
      rd.genreRenames.flatMap(g => m.gfwByGenre.get(g._1).toSeq.flatten) ++
      rd.newPfw.map(_._1) ++ rd.newGfw.map(_._1)).toSet

  def applyToModel(m: Model.Db, rd: Gen.Round): Unit = {
    rd.filmEdits.foreach { case (f, t, r) => m.films(f) = m.films(f).copy(title = t, rating = r) }
    rd.newFilms.foreach { case (f, t, r) => m.films(f) = Model.Film(t, None, r) }
    rd.personRenames.foreach { case (p, n) => m.persons(p) = n }
    rd.genreRenames.foreach { case (g, n) => m.genres(g) = n }
    rd.newPfw.foreach { case (f, p, r) => m.addPfw(Model.Pfw(f, p, r)) }
    rd.newGfw.foreach { case (f, g) => m.addGfw(f, g) }
  }

  def run(c: Ctx): Result = {
    val spark = c.spark
    val tr = c.tr
    val db = Gen.legacyDb(c.seed, Movies)
    val legacyDir = s"${c.dir}/legacy"
    Load.writeLegacy(spark, db, legacyDir)
    val model = Model.normalize(db)
    c.log("generated")
    val (stores, loadTimes) = Load.run(c, legacyDir, s"${c.dir}/live")
    c.log("loaded")
    def storeDocs(idx: PostingIndex) = (
      idx.currentDocs.collect().toSeq.map(Conv.movieDoc),
      stores.persons.read().get.collect().toSeq.map(Conv.personDoc),
      stores.genres.read().get.collect().toSeq.map(Conv.genreDoc))

    // the bulk load against the model (untimed)
    checkAnalyzer(c)
    Load.checkTables(c, stores, model)
    val (movies0, persons0, genres0) = storeDocs(stores.index)
    Load.checkDocs(c, "loaded movies", movies0, model.movieDocs,
      (d: Model.MovieDoc) => d.id)
    Load.checkDocs(c, "loaded persons", persons0, model.personDocs,
      (d: Model.PersonDoc) => d.id)
    Load.checkDocs(c, "loaded genres", genres0, model.genreDocs,
      (d: Model.GenreDoc) => d.id)
    // two program outputs against each other: person docs' film lists
    // and movie docs' role arrays describe the same (film, person) pairs
    val filmPersonPairs = movies0.flatMap(d =>
      (d.actors ++ d.writers ++ d.directors).map(p => (d.id, p._1))).distinct.size
    c.check(persons0.map(_.filmIds.size).sum == filmPersonPairs,
      s"Σ |film_ids| over person docs (${persons0.map(_.filmIds.size).sum}) ≠ " +
        s"distinct (film, person) pairs in movie docs ($filmPersonPairs)")
    c.log("load checked")

    // person and genre docs as the CDC graph refreshes them: on the
    // person's or genre's own change only (see CHANGES.md, FOUND); the
    // final check accepts these or the full-rebuild docs
    val cdcPersons = mutable.HashMap.empty[String, Model.PersonDoc] ++ model.personDocs
    val cdcGenres = mutable.HashMap.empty[String, Model.GenreDoc] ++ model.genreDocs

    val paths = mutable.HashMap.empty[String, String] ++
      Load.Tables.map(t => t -> stores.table(t))
    def read(t: String) = spark.read.parquet(paths(t))
    val tables = CdcPipeline.Tables(() => read("film_work"), () => read("person"),
      () => read("genre"), () => read("person_film_work"),
      () => read("genre_film_work"))
    val procs = CdcPipeline.processes(tables)
    val cursors = new Keyset.CursorStore(s"${c.dir}/cursors")
    def lastCursor(df: DataFrame, tsCol: String): Keyset.Cursor = {
      val r = df.select(unix_micros(col(tsCol)), col("id"))
        .orderBy(col(tsCol).desc, col("id").desc).head()
      Keyset.Cursor(r.getLong(0), r.getString(1))
    }
    procs.foreach(p => cursors.save(p.name, lastCursor(p.table(), p.tsCol)))

    var tag = "r0"
    val idxSink = new PostingIndexSink(stores.index)
    val traced = Seq("movies" -> idxSink, "persons" -> stores.persons,
      "genres" -> stores.genres).map { case (n, s) =>
      n -> new TracedSink(n, s, tr, () => tag, s"${c.dir}/probe") }.toMap
    val sinks =
      if (tr.on) CdcPipeline.Sinks(traced("movies"), traced("persons"), traced("genres"))
      else CdcPipeline.Sinks(idxSink, stores.persons, stores.genres)

    /** Write a round's changes into the source tables: updated tables
      * are rewritten to a new version directory, bridge inserts append.
      */
    def commit(r: Int, rd: Gen.Round): Unit = {
      var k = 0L
      def next() = { k += 1; ts(rd.tsMicros + k) }
      def rewrite(t: String, upd: DataFrame, adds: Seq[Row]): Unit = {
        val old = read(t)
        val cols = upd.columns.filter(_ != "id").toSet
        val merged = old.join(upd.select(upd.columns.map(x => col(x).as(s"__$x")): _*),
          old("id") === col("__id"), "left_outer")
          .select(old.columns.map(x =>
            if (cols(x)) coalesce(col(s"__$x"), old(x)).as(x) else old(x)): _*)
        val out = s"${stores.dir}/db/$t-v$r"
        merged.unionByName(spark.createDataFrame(adds.asJava, old.schema))
          .coalesce(1).write.parquet(out)
        val prev = paths(t)
        paths(t) = out
        if (prev != stores.table(t)) Disk.rm(prev)
      }
      import spark.implicits._
      val filmUpd = rd.filmEdits.map { case (f, t, rt) => (f, t, rt, next()) }
        .toDF("id", "title", "rating", "updated_at")
      val filmAdds = rd.newFilms.map { case (f, t, rt) =>
        val s = next()
        Row(f, t, null, null, null, null, rt.getOrElse(null), "movie", s, s)
      }
      rewrite("film_work", filmUpd, filmAdds)
      rewrite("person", rd.personRenames.map { case (p, n) => (p, n, next()) }
        .toDF("id", "full_name", "updated_at"), Nil)
      rewrite("genre", rd.genreRenames.map { case (g, n) => (g, n, next()) }
        .toDF("id", "name", "updated_at"), Nil)
      val pfwRows = rd.newPfw.map { case (f, p, role) =>
        Row(model.pfwId(Model.Pfw(f, p, role)), f, p, role, next()) }
      spark.createDataFrame(pfwRows.asJava, read("person_film_work").schema)
        .coalesce(1).write.mode("append").parquet(paths("person_film_work"))
      val gfwRows = rd.newGfw.map { case (f, g) => Row(model.gfwId(f, g), f, g, next()) }
      spark.createDataFrame(gfwRows.asJava, read("genre_film_work").schema)
        .coalesce(1).write.mode("append").parquet(paths("genre_film_work"))
    }

    final case class RoundOut(drainS: Double, compactS: Double, changed: Int,
        changedDocs: Int, reads: Seq[Double], readWall: Seq[(Long, Long)],
        segs: Seq[Double],
        rowsConsumed: Long, cursorsAdvanced: Int, wall: (Long, Long))
    val rounds = mutable.ArrayBuffer.empty[RoundOut]
    var failed = 0

    def liveSegments(): Double = {
      val dir = s"${stores.dir}/idx"
      val stats = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/stats.json")))
      def num(k: String) = s""""$k":(-?\\d+)""".r.findFirstMatchIn(stats).get.group(1).toLong
      val (thru, folded) = (num("thruSeq"), num("foldedSeq"))
      val delta = new java.io.File(s"$dir/delta")
      Option(delta.listFiles()).toSeq.flatten.map(_.getName).flatMap(
        n => "^seg-(\\d+)-[ud]$".r.findFirstMatchIn(n).map(_.group(1).toLong))
        .count(s => s > folded && s <= thru).toDouble
    }

    def doRound(r: Int): Unit = {
      tag = s"r$r"
      // compaction on a fixed cadence: before every round after the
      // warm-up one, so each round's reads see one round of delta log
      val c0 = System.nanoTime()
      if (r > 0) tr.span("sink.compact", tag) {
        idxSink.compact(); stores.persons.compact(); stores.genres.compact()
      }
      val compactS = Stats.secs(c0)
      val rd = makeRound(c.seed, r, model, db)
      val affected = affectedFilms(model, rd)
      applyToModel(model, rd)
      rd.personRenames.foreach { case (p, _) => cdcPersons(p) = model.personDoc(p) }
      rd.genreRenames.foreach { case (g, _) => cdcGenres(g) = model.genreDoc(g) }
      commit(r, rd)
      c.log(s"round $r committed")
      val before = procs.map(p => p.name -> cursors.load(p.name)).toMap
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      tr.span(Trace.DrainLayer, tag)(
        CdcPipeline.drain(spark, tables, sinks, cursors))
      val drainS = Stats.secs(t0)
      c.log(f"round $r drained in $drainS%.1fs")
      val w1 = System.currentTimeMillis()
      // reads against the live index: each renamed person's new name,
      // fan-out person first
      val reads = mutable.ArrayBuffer.empty[Double]
      val readWall = mutable.ArrayBuffer.empty[(Long, Long)]
      val segs = mutable.ArrayBuffer.empty[Double]
      val served = mutable.ArrayBuffer.empty[(Gen.Request, Seq[(String, Double)])]
      val renamed = rd.personRenames.take(ReadsPerRound)
      val toServe = renamed.map { case (_, n) =>
        Gen.Request(Some(n), "id", asc = true, page = 1) }
      toServe.zipWithIndex.foreach { case (q, i) =>
        if (tr.on) segs += liveSegments()
        val w0 = System.currentTimeMillis()
        val q0 = System.nanoTime()
        try {
          val page = tr.span("serve", s"$tag-q$i")(serve(idxSink.index, q))
          reads += (System.nanoTime() - q0) / 1e6
          readWall += ((w0, System.currentTimeMillis()))
          served += ((q, page))
        } catch { case e: Exception =>
          failed += 1
          reads += (System.nanoTime() - q0) / 1e6
          readWall += ((w0, System.currentTimeMillis()))
          System.err.println(s"[platbench] request failed: $q: $e")
        }
      }
      c.log(s"round $r served ${reads.size} requests")
      // each page against a plain-Scala BM25F over the model's current
      // movie docs, and against the renamed person's films
      val referee = new Model.SearchModel(model.movieDocs.values.toSeq)
      served.foreach { case (q, page) =>
        val want = referee.page(q, Limit)
        c.check(pagesMatch(page, want),
          s"round $r: page differs from the BM25F referee for $q: got " +
            s"${page.take(3)}… (${page.size}) want ${want.take(3)}… (${want.size})")
        val pid = renamed.collectFirst { case (p, n) if q.query.contains(n) => p }.get
        val films = model.pfwByPerson(pid).map(_.film).toSet
        c.check(page.size == math.min(Limit, films.size) &&
            page.forall(p => films(p._1)),
          s"round $r: search for renamed person '${q.query.get}' returned " +
            s"${page.size} films, ${page.count(p => !films(p._1))} not " +
            s"theirs; want ${math.min(Limit, films.size)}")
      }
      var consumed = 0L
      var advanced = 0
      if (tr.on) tr.span(Trace.TraceLayer, tag) {
        procs.foreach { p =>
          val (a, b) = (before(p.name), cursors.load(p.name))
          if (a != b) {
            advanced += 1
            consumed += p.table().filter(
              Keyset.lowerBound(p.tsCol, "id", a.tsMicros, a.lastId) &&
                !Keyset.lowerBound(p.tsCol, "id", b.tsMicros, b.lastId)).count()
          }
        }
      }
      rounds += RoundOut(drainS, compactS, rd.changedRows,
        affected.size + rd.personRenames.size + rd.genreRenames.size,
        reads.toSeq, readWall.toSeq, segs.toSeq, consumed, advanced, (w0, w1))
    }

    doRound(0)
    rounds.clear()
    traced.values.foreach(_.reset())
    val setupS = c.setupSeconds()

    // ---- timed
    Trace.resetPeaks()
    val (gc0, _) = Trace.jvm()
    tr.startTimed()
    (1 to Main.rounds(c.seconds, NominalRoundS)).foreach(doRound)
    val (gc1, heap) = Trace.jvm()
    val storeMb = Disk.mb(stores.storeDirs: _*)
    c.log(s"${rounds.size} timed rounds")

    // ---- checks (untimed)
    val (movies, persons, genres) = storeDocs(idxSink.index)
    Load.checkDocs(c, "movies store", movies, model.movieDocs,
      (d: Model.MovieDoc) => d.id)
    val rebuilt = Docs.movieDocs(read("film_work"), read("person"), read("genre"),
      read("person_film_work"), read("genre_film_work"))
      .collect().toSeq.map(Conv.movieDoc)
    c.check(movies.sortBy(_.id) == rebuilt.sortBy(_.id),
      "maintained movies index ≠ Docs.movieDocs over the final tables")
    val (wantPersons, wantGenres) = (model.personDocs, model.genreDocs)
    Load.checkDocs(c, "persons store", persons, wantPersons,
      (d: Model.PersonDoc) => d.id, cdcPersons.toMap)
    Load.checkDocs(c, "genres store", genres, wantGenres,
      (d: Model.GenreDoc) => d.id, cdcGenres.toMap)
    // store docs a full rebuild would give otherwise: the propagation gap
    val stalePersons = persons.count(d => !wantPersons.get(d.id).contains(d))
    val staleGenres = genres.count(d => !wantGenres.get(d.id).contains(d))
    System.err.println(s"[platbench] after ${rounds.size} rounds: $stalePersons " +
      s"person docs and $staleGenres genre docs differ from a full rebuild")

    c.log("checked")
    val n = rounds.size
    val reads = rounds.flatMap(_.reads).toSeq
    val metrics =
      if (!tr.on) Seq(
        Metric("setup_s", setupS, "s"),
        Metric("batch_s", Stats.median(rounds.map(x => x.compactS + x.drainS).toSeq), "s"),
        Metric("read_p50_ms", Stats.median(reads), "ms"),
        Metric("store_mb", storeMb, "MB"))
      else {
        tr.flush()
        def per(layer: String => Boolean) = {
          val a = tr.agg(layer)
          (a, Trace.covered(a.jobIntervals) / 1000.0 / n)
        }
        val (rebuild, rebuildS) = per(_ == "docs.rebuild")
        val (keyset, keysetS) = per(_ == "keyset")
        val sinkL = (l: String) => l.startsWith("sink.") && l != "sink.compact"
        val (sinkA, _) = per(sinkL)
        // every job drain started, whichever layer it was attributed to
        val drainL = (l: String) => l == "keyset" || l == "docs.rebuild" ||
          l.startsWith("cdc.other") || sinkL(l)
        val drainA = tr.agg(drainL)
        val drainJobs = (1 to n).map(i => tr.agg(drainL, _ == s"r$i"))
        val gaps = (1 to n).map { i =>
          val (w0, w1) = rounds(i - 1).wall
          ((w1 - w0) - Trace.covered(drainJobs(i - 1).jobIntervals)) / 1000.0
        }
        // commit gap: from a sink call's return to the next drain job
        val starts = tr.jobStarts(drainL)
        val ends = rounds.map(_.wall._2)
        val commitGaps = traced.values.flatMap(_.upsertEnds).map { e =>
          (starts.find(_ >= e).toSeq ++ ends.filter(_ >= e)).min - e
        }.map(_.toDouble).toSeq
        val rows = traced.values.map(_.rows).sum.toDouble
        val docBytes = traced.values.map(_.docBytes).sum.toDouble
        val idsOut = traced.values.map(_.ids.size).sum.toDouble
        val layers = Map(
          "docs.rebuild_s" -> rebuildS,
          "docs.rebuild_jobs" -> rebuild.jobs.toDouble / n,
          "docs.rebuilt_docs" -> rows / n,
          "docs.rebuilds_per_changed_doc" -> rows / rounds.map(_.changedDocs).sum,
          "keyset.scan_s" -> keysetS,
          "keyset.jobs" -> keyset.jobs.toDouble / n,
          "keyset.rows_consumed" -> rounds.map(_.rowsConsumed).sum.toDouble / n,
          "keyset.input_mb" -> keyset.inputMb / n,
          "cdc.source_mb" -> Disk.mb(Load.Tables.map(paths): _*),
          "cursor.save_ms" -> (if (commitGaps.isEmpty) 0.0 else Stats.median(commitGaps)),
          "cursor.saves" -> rounds.map(_.cursorsAdvanced).sum.toDouble / n,
          "propagate.ids_out" -> idsOut / n,
          "cdc.ticks_per_round" -> keyset.execs.toDouble / procs.size / n,
          "cdc.jobs_per_round" -> drainA.jobs.toDouble / n,
          "cdc.driver_gap_s" -> gaps.sum / n,
          "cdc.changes_per_s" -> rounds.map(_.changed).sum /
            rounds.map(x => x.drainS + x.compactS).sum,
          "cdc.stale_docs" -> (stalePersons + staleGenres).toDouble,
          "sink.movies.upsert_s" -> traced("movies").seconds / n,
          "sink.persons.upsert_s" -> traced("persons").seconds / n,
          "sink.genres.upsert_s" -> traced("genres").seconds / n,
          "sink.upsert_jobs" -> sinkA.jobs.toDouble / n,
          "sink.written_mb" -> sinkA.outMb / n,
          "sink.write_amp" -> sinkA.outMb * Trace.MB / math.max(docBytes, 1.0),
          "sink.compact_s" -> rounds.map(_.compactS).sum / n,
          "index.live_segments" -> rounds.flatMap(_.segs).sum / rounds.flatMap(_.segs).size) ++
          PerLayer.load(tr, loadTimes) ++
          PerLayer.serve(tr, rounds.indices.flatMap(i => rounds(i).reads.indices
            .map(q => s"r${i + 1}-q$q")), rounds.flatMap(_.readWall).toSeq, reads) ++
          PerLayer.runtime(tr, gc1 - gc0, heap)
        PerLayer.metrics(layers)
      }
    Result(c.correct, n * (1 + ReadsPerRound), failed, metrics)
  }
}
