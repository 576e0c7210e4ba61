package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.cdc.LogUpsertSink

/** [[graft.cdc.LogUpsertSink]] — the O(|batch|)-per-tick doc store.
  * Drills the full [[graft.cdc.DocSink]] contract, compaction
  * equivalence and sweep, crash-marker handling, CdcPipeline drain ≡
  * full rebuild, AND the property a bucketed-rewrite store cannot give:
  * an upsert is exactly ONE job that never reads the store, so
  * per-tick cost is flat in store size.
  */
class LogSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_lsink").toString

  private def docs(rows: (String, String)*): DataFrame =
    rows.toDF("id", "title")

  private def state(s: LogUpsertSink): Set[(String, String)] =
    s.read().get.as[(String, String)].collect().toSet

  private def entries(dir: String, sub: String = ""): Set[String] = {
    val d = new java.io.File(if (sub.isEmpty) dir else s"$dir/$sub")
    if (!d.exists()) Set.empty else d.listFiles().map(_.getName).toSet
  }

  test("upsert-by-id contract: insert, replace, replay no-op (content), " +
       "targeted + total delete, absent-store semantics") {
    val dir = tmp()
    val sink = new LogUpsertSink(spark, dir, "id", nBuckets = 4)
    assert(sink.read() === None)
    sink.delete(Seq("ghost").toDF("id")) // delete on absent store: no-op
    assert(sink.read() === None)
    sink.upsert(docs("a" -> "one", "b" -> "two", "c" -> "three"))
    assert(state(sink) === Set("a" -> "one", "b" -> "two", "c" -> "three"))
    sink.upsert(docs("b" -> "TWO", "d" -> "four")) // replace + add
    val expect =
      Set("a" -> "one", "b" -> "TWO", "c" -> "three", "d" -> "four")
    assert(state(sink) === expect)
    sink.upsert(docs("b" -> "TWO", "d" -> "four")) // replay: same content
    assert(state(sink) === expect)
    // column order of read() matches the upsert schema
    assert(sink.read().get.columns.toSeq === Seq("id", "title"))
    // targeted delete: absent ids ignored, replay no-op
    sink.delete(Seq("a", "never_existed").toDF("id"))
    assert(state(sink) === expect.filterNot(_._1 == "a"))
    sink.delete(Seq("a").toDF("id"))
    assert(state(sink) === expect.filterNot(_._1 == "a"))
    // a tombstone older than a later re-upsert loses
    sink.upsert(docs("a" -> "back"))
    assert(state(sink) === expect.filterNot(_._1 == "a") + ("a" -> "back"))
    // total tombstoning: read() reports None even BEFORE compaction
    // (read().isDefined means 'has docs'); compaction then collapses
    // the store to ABSENT (empty store == no store)
    sink.delete(Seq("a", "b", "c", "d").toDF("id"))
    assert(sink.read() === None)
    sink.compact()
    assert(sink.read() === None)
    assert(!new java.io.File(dir).exists(), "emptied store fully collapses")
    sink.upsert(docs("fresh" -> "start")) // bootstraps again
    assert(state(sink) === Set("fresh" -> "start"))
  }

  test("compaction: read() before == after; folded segments and " +
       "superseded bases are swept; post-compact writes keep working; " +
       "re-compacting with nothing new is a no-op") {
    val dir = tmp()
    val sink = new LogUpsertSink(spark, dir, "id", nBuckets = 4)
    sink.upsert(docs((1 to 9).map(i => s"k$i" -> s"v$i"): _*))
    sink.upsert(docs("k1" -> "V1"))
    sink.delete(Seq("k2").toDF("id"))
    val before = state(sink)
    sink.compact()
    assert(state(sink) === before, "compaction must not change content")
    assert(entries(dir, "log").isEmpty, "all folded segments swept")
    assert(entries(dir).count(_.startsWith("base-")) === 1)
    val baseDirs = entries(dir)
    sink.compact() // nothing new: no-op, no new base dir
    assert(entries(dir) === baseDirs)
    // log keeps working on top of the base, and a second compact folds
    sink.upsert(docs("k3" -> "V3", "k10" -> "v10"))
    assert(state(sink) === before - (("k3", "v3")) + ("k3" -> "V3") +
      ("k10" -> "v10"))
    sink.compact()
    assert(entries(dir).count(_.startsWith("base-")) === 1,
      "superseded base swept")
    assert(state(sink) === before - (("k3", "v3")) + ("k3" -> "V3") +
      ("k10" -> "v10"))
  }

  test("CRASH safety: a markerless (mid-write-crashed) segment with " +
       "CONFLICTING content is invisible to readers and swept by the " +
       "next write; a stale already-folded segment left by a crash " +
       "between base write and sweep is excluded by seq") {
    val dir = tmp()
    val sink = new LogUpsertSink(spark, dir, "id", nBuckets = 4)
    sink.upsert(docs("a" -> "one", "b" -> "two"))
    val before = state(sink)
    // crash mid-segment-write: a later segment that CONTRADICTS the
    // store (a -> CORRUPT) loses its _SUCCESS marker — if the reader
    // ever consumed it, 'CORRUPT' would win the latest-per-key race
    sink.upsert(docs("a" -> "CORRUPT"))
    val crashed = new java.io.File(s"$dir/log").listFiles()
      .filter(_.getName.startsWith("seg-"))
      .maxBy(_.getName.stripPrefix("seg-").split("-")(0).toInt)
    assert(new java.io.File(crashed, "_SUCCESS").delete())
    assert(state(sink) === before, "markerless segment must be invisible")
    sink.upsert(docs("c" -> "three")) // writer sweeps crashed attempts
    // the crashed attempt is gone (its freed seq may be reused by the
    // new segment — name reuse after a sweep is fine); every surviving
    // segment dir carries a _SUCCESS marker and CORRUPT never surfaces
    val unmarked = new java.io.File(s"$dir/log").listFiles()
      .filter(_.getName.startsWith("seg-"))
      .filterNot(d => new java.io.File(d, "_SUCCESS").exists())
    assert(unmarked.isEmpty, s"crashed segments not swept: ${unmarked.toSeq}")
    val after = before + ("c" -> "three")
    assert(state(sink) === after)
    // crash between base write and segment sweep: fold a short-lived
    // doc (upsert d, tombstone d, compact), then restore the folded
    // upsert segment — if the reader did not exclude it by seq, 'd'
    // would resurrect (the base has no d row to outvote it)
    def copy(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        if (f.isDirectory) copy(f, new java.io.File(dst, f.getName))
        else { Files.copy(f.toPath,
          new java.io.File(dst, f.getName).toPath); () }
      }
    }
    sink.upsert(docs("d" -> "temp"))
    val dSeg = new java.io.File(s"$dir/log").listFiles()
      .filter(_.getName.endsWith("-u"))
      .maxBy(_.getName.stripPrefix("seg-").split("-")(0).toInt)
    val stash = new java.io.File(tmp(), dSeg.getName)
    copy(dSeg, stash)
    sink.delete(Seq("d").toDF("id"))
    sink.compact()
    assert(state(sink) === after)
    copy(stash, new java.io.File(s"$dir/log/${dSeg.getName}"))
    assert(state(sink) === after,
      "stale (already-folded) segment must be excluded by seq — " +
        "otherwise the tombstoned doc resurrects")
    sink.upsert(docs("e" -> "five")) // writers tolerate the stale dir
    assert(state(sink) === after + ("e" -> "five"))
    // a MARKED but DATALESS segment (an empty batch's marker landed,
    // the crash hit before writeSegment's cleanup) is equally debris:
    // it has no readable schema, so it must never count as live
    val dataless = new java.io.File(s"$dir/log/seg-77-u")
    assert(dataless.mkdirs())
    assert(new java.io.File(dataless, "_SUCCESS").createNewFile())
    assert(state(sink) === after + ("e" -> "five"),
      "dataless marked segment must be invisible")
    sink.compact()
    assert(!dataless.exists(), "dataless segment swept by compact")
    // empty upsert/delete batches are pure no-ops
    sink.upsert(docs())
    sink.delete(Seq.empty[String].toDF("id"))
    assert(state(sink) === after + ("e" -> "five"))
    // crash AFTER a successful base publish but before its sweep: the
    // next compact (even with NOTHING new to fold) sweeps the debris
    sink.compact() // fold everything so the store is base-only
    val planted = new java.io.File(s"$dir/log/seg-0-u")
    copy(stash, planted) // an already-folded segment (seq 0 <= thru)
    assert(state(sink) === after + ("e" -> "five"))
    sink.compact() // not foldable — must still sweep
    assert(!planted.exists(),
      "already-folded debris must be swept by a non-foldable compact")
    assert(state(sink) === after + ("e" -> "five"))
  }

  test("O(|batch|) per tick: an upsert is exactly ONE Spark job and " +
       "zero store reads, regardless of how many segments the store " +
       "already holds — the property the bucket-rewrite sinks lack") {
    val dir = tmp()
    val sink = new LogUpsertSink(spark, dir, "id", nBuckets = 4)
    for (i <- 1 to 12)
      sink.upsert(docs(s"k${i % 5}" -> s"v$i")) // 12 segments, 5 hot keys
    def countJobs(f: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(200) }
      finally spark.sparkContext.removeSparkListener(l)
      jobs.get()
    }
    val batch = docs("k1" -> "fresh").localCheckpoint() // pin the input
    assert(countJobs(sink.upsert(batch)) === 1,
      "an upsert must be one write job — no store read, no merge")
    assert(state(sink).contains("k1" -> "fresh"))
  }

  test("EMPTY batches are no-ops, not crashes: an empty upsert or " +
       "delete leaves an absent store absent and adds no segment to a " +
       "live one") {
    val dir = tmp()
    val sink = new LogUpsertSink(spark, dir, "id", nBuckets = 4)
    sink.upsert(docs()) // empty upsert on an ABSENT store
    sink.delete(Seq.empty[String].toDF("id"))
    assert(sink.read() === None)
    assert(entries(dir, "log").isEmpty, "an empty batch wrote a segment")
    sink.upsert(docs("a" -> "one")) // the next real upsert bootstraps
    val log = entries(dir, "log")
    assert(log === Set("seg-0-u"))
    sink.upsert(docs()) // empty upsert on a live store
    sink.delete(Seq.empty[String].toDF("id"))
    assert(entries(dir, "log") === log)
    assert(state(sink) === Set("a" -> "one"))
    sink.compact()
    assert(state(sink) === Set("a" -> "one"))
  }

  test("reserved sink columns (__seq, __op, bucket) are refused before " +
       "anything is written") {
    import org.apache.spark.sql.functions.lit
    val dir = tmp()
    val sink = new LogUpsertSink(spark, dir, "id", nBuckets = 4)
    for (c <- Seq("__seq", "__op", "bucket")) {
      val e = intercept[IllegalArgumentException] {
        sink.upsert(docs("a" -> "one").withColumn(c, lit(1)))
      }
      assert(e.getMessage.contains("reserved sink columns"), c)
      assert(sink.read() === None, s"a batch with '$c' reached the store")
      assert(entries(dir, "log").isEmpty)
    }
    sink.upsert(docs("a" -> "one"))
    assert(state(sink) === Set("a" -> "one"))
  }

  test("delete over a compacted base: tombstones hide base docs, and " +
       "the next compact folds them out of the base") {
    val dir = tmp()
    val sink = new LogUpsertSink(spark, dir, "id", nBuckets = 4)
    sink.upsert(docs("a" -> "one", "b" -> "two", "c" -> "three"))
    sink.compact()
    assert(entries(dir, "log").isEmpty, "store is base-only")
    // the store's docs live only in the base: the delete must still
    // count it as present and write its tombstone
    sink.delete(Seq("b").toDF("id"))
    assert(entries(dir, "log").count(_.endsWith("-d")) === 1)
    assert(state(sink) === Set("a" -> "one", "c" -> "three"))
    sink.compact()
    assert(entries(dir, "log").isEmpty)
    assert(entries(dir).count(_.startsWith("base-")) === 1)
    assert(state(sink) === Set("a" -> "one", "c" -> "three"))
    sink.delete(Seq("a", "c").toDF("id"))
    assert(sink.read() === None, "every base doc tombstoned")
    sink.compact()
    assert(!new java.io.File(dir).exists(), "emptied store fully collapses")
  }

  test("nondeterministic input plan: the batch is evaluated once, so " +
       "every read and the compacted base serve that one evaluation") {
    import org.apache.spark.sql.functions.{concat, lit, rand}
    val dir = tmp()
    val sink = new LogUpsertSink(spark, dir, "id", nBuckets = 8)
    // ids depend on rand(): every evaluation of this plan yields a
    // DIFFERENT id set
    val volatile = spark.range(64)
      .select(concat(lit("id_"), (rand() * 1e9).cast("long")).as("id"),
        lit("v").as("title"))
    sink.upsert(volatile)
    val first = state(sink)
    assert(first.size === 64)
    assert(state(sink) === first, "a second read saw another evaluation")
    sink.compact()
    assert(state(sink) === first, "compaction saw another evaluation")
  }

  test("drop-in DocSink: CdcPipeline drain over log sinks matches a " +
       "full rebuild of the movies, persons and genres docs — before " +
       "AND after compaction") {
    import java.sql.Timestamp
    import graft.cdc._
    def ts(s: Long) = new Timestamp(s * 1000)
    val src = tmp()
    def w(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$src/$name")
    w("film_work", Seq(
      ("f1", "Star Wars", "Space opera", 8.6, ts(100), ts(100)),
      ("f2", "Quiet Film", "Slow burn", 6.0, ts(100), ts(101))
    ).toDF("id", "title", "description", "rating", "created_at", "updated_at"))
    w("person", Seq(("p1", "George Lucas", ts(100), ts(100)))
      .toDF("id", "full_name", "created_at", "updated_at"))
    w("genre", Seq(("g1", "Sci-Fi", ts(100), ts(100)))
      .toDF("id", "name", "created_at", "updated_at"))
    w("person_film_work", Seq(("pfw1", "f1", "p1", "director", ts(100)))
      .toDF("id", "film_work_id", "person_id", "role", "created_at"))
    w("genre_film_work", Seq(("gfw1", "f1", "g1", ts(100)))
      .toDF("id", "film_work_id", "genre_id", "created_at"))
    val t = CdcPipeline.Tables(
      filmWork = () => spark.read.parquet(s"$src/film_work"),
      person = () => spark.read.parquet(s"$src/person"),
      genre = () => spark.read.parquet(s"$src/genre"),
      personFilmWork = () => spark.read.parquet(s"$src/person_film_work"),
      genreFilmWork = () => spark.read.parquet(s"$src/genre_film_work"))
    val b = tmp()
    val logSinks = CdcPipeline.Sinks(
      movies = new LogUpsertSink(spark, s"$b/m", "id", nBuckets = 4),
      persons = new LogUpsertSink(spark, s"$b/p", "id", nBuckets = 4),
      genres = new LogUpsertSink(spark, s"$b/g", "id", nBuckets = 4))
    CdcPipeline.drain(spark, t, logSinks,
      new Keyset.CursorStore(s"$b/cursors"), batchSize = 1)
    val rebuilt = Seq(
      logSinks.movies -> graft.movies.Docs.movieDocs(t.filmWork(),
        t.person(), t.genre(), t.personFilmWork(), t.genreFilmWork()),
      logSinks.persons ->
        graft.movies.Docs.personDocs(t.person(), t.personFilmWork()),
      logSinks.genres -> graft.movies.Docs.genreDocs(t.genre(),
        t.filmWork(), t.genreFilmWork()))
    def check(): Unit =
      for ((sink, want) <- rebuilt) {
        val xs = want.toJSON.collect().sorted.toSeq
        val ys = sink.read().get.selectExpr(want.columns.toIndexedSeq: _*)
          .toJSON.collect().sorted.toSeq
        assert(ys === xs)
      }
    check()
    Seq(logSinks.movies, logSinks.persons, logSinks.genres)
      .foreach { case s: LogUpsertSink => s.compact() }
    check()
  }
}
