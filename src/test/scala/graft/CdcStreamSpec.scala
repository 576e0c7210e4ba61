package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc._
import graft.streaming.KeysetSourceProvider

/** The CDC fan-out running as a REAL Structured Streaming query:
  * DSv2 keyset source on the person table → foreachBatch (propagate
  * changed person ids through the bridge → rebuild affected movie docs →
  * idempotent DocSink upsert) — the reference's person→movies process
  * (postgres_to_es/daemon.py:503-510) under engine checkpointing.
  */
class CdcStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("person→movies process end-to-end through readStream: initial " +
       "index, then a person rename refreshes exactly the affected doc") {
    val dir = Files.createTempDirectory("graft_cdcstream").toString
    def writeTable(name: String, df: DataFrame): Unit =
      df.write.mode("append").parquet(s"$dir/$name")

    writeTable("film_work", Seq(
      ("f1", "Star Wars", "Space opera", 8.6, ts(100), ts(100)),
      ("f2", "Quiet Film", "Slow burn", 6.0, ts(100), ts(100))
    ).toDF("id", "title", "description", "rating", "created_at", "updated_at"))
    writeTable("person", Seq(
      ("p1", "George Lucas", ts(100), ts(100)),
      ("p2", "Mark Hamill", ts(100), ts(100))
    ).toDF("id", "full_name", "created_at", "updated_at"))
    writeTable("genre", Seq(("g1", "Sci-Fi", ts(100), ts(100))
    ).toDF("id", "name", "created_at", "updated_at"))
    writeTable("person_film_work", Seq(
      ("pfw1", "f1", "p1", "director", ts(100)),
      ("pfw2", "f1", "p2", "actor", ts(100))
    ).toDF("id", "film_work_id", "person_id", "role", "created_at"))
    writeTable("genre_film_work", Seq(("gfw1", "f1", "g1", ts(100))
    ).toDF("id", "film_work_id", "genre_id", "created_at"))

    // person is an append-only change log (the source contract — see
    // KeysetSourceProvider scaladoc): an UPDATE lands as a new version
    // row, and readers take the latest version per id.
    val t = CdcPipeline.Tables(
      filmWork = () => spark.read.parquet(s"$dir/film_work"),
      person = () => Snapshot.latestPerKey(
        spark.read.parquet(s"$dir/person"), "id", "updated_at", "id"),
      genre = () => spark.read.parquet(s"$dir/genre"),
      personFilmWork = () => spark.read.parquet(s"$dir/person_film_work"),
      genreFilmWork = () => spark.read.parquet(s"$dir/genre_film_work"))
    val movieSink = new LogUpsertSink(spark, s"$dir/idx_movies", "id", 4)

    // person.movies process: changed persons → affected film ids →
    // restricted rebuild → idempotent upsert (daemon.py:503-510)
    val q = spark.readStream
      .format(classOf[KeysetSourceProvider].getName)
      .option("path", s"$dir/person")
      .option("tsCol", "updated_at")
      .option("idCol", "id")
      .option("batchSize", "10")
      .load()
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt_person_movies")
      .foreachBatch { (changed: DataFrame, _: Long) =>
        val filmIds = t.personFilmWork()
          .join(broadcast(changed.select(col("id").as("person_id"))),
            Seq("person_id"), "left_semi")
          .select(col("film_work_id").as("id")).distinct()
        val docs = graft.movies.Docs.movieDocs(
          t.filmWork(), t.person(), t.genre(),
          t.personFilmWork(), t.genreFilmWork(), Some(filmIds))
        movieSink.upsert(docs)
      }
      .start()

    try {
      q.processAllAvailable()
      val v1 = movieSink.read().get
      // only f1 has people; the person-driven process indexes just it
      assert(v1.select("id").as[String].collect().sorted === Array("f1"))
      val names1 = v1.filter($"id" === "f1")
        .select(array_join($"actors_names", ",")).as[String].head()
      assert(names1 === "Mark Hamill")

      // rename p2: the UPDATE is a NEW VERSION ROW appended to the log
      // (newer updated_at); Snapshot.latestPerKey in the rebuild picks
      // it. Appending — never rewriting the watched dir in place — is
      // the source's append-only contract; a rewrite would race the
      // trigger loop's scans.
      writeTable("person", Seq(("p2", "Mark R. Hamill", ts(100), ts(200)))
        .toDF("id", "full_name", "created_at", "updated_at"))

      q.processAllAvailable()
      val names2 = movieSink.read().get.filter($"id" === "f1")
        .select(array_join($"actors_names", ",")).as[String].head()
      assert(names2 === "Mark R. Hamill",
        "person rename must refresh the affected movie doc")
    } finally q.stop()
  }

  test("q149 cross-check: the batch 3-tick keyset loop equals the DSv2 " +
       "KeysetSource stream draining the same event prefix") {
    import org.apache.spark.sql.expressions.Window
    val dir = Files.createTempDirectory("graft_cdc_e2e_x").toString
    // stage q149's exact input: the first 360 events in (ts, did) order
    val e = Tables.load(spark, sfDir, "events")
      .withColumn("did", lpad($"event_id".cast("string"), 12, "0"))
    e.orderBy(unix_micros($"ts").asc, $"did".asc).limit(360)
      .write.parquet(s"$dir/events_prefix")
    val sink = new LogUpsertSink(spark, s"$dir/store", "user_id", 4)
    // a second store rides the SAME micro-batches with a mid-stream
    // compaction — folding the log must not change the store under
    // real streaming checkpointing either
    val logSink = new LogUpsertSink(spark, s"$dir/logstore", "user_id", 4)
    val latestInBatch = Window.partitionBy($"user_id")
      .orderBy(unix_micros($"ts").desc, $"did".desc)
    val q = spark.readStream
      .format(classOf[KeysetSourceProvider].getName)
      .option("path", s"$dir/events_prefix")
      .option("tsCol", "ts")
      .option("idCol", "did")
      .option("batchSize", "120") // q149's tick size → 3 micro-batches
      .load()
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = batch
          .withColumn("rk", row_number().over(latestInBatch))
          .filter(col("rk") === 1).drop("rk")
          .localCheckpoint()
        sink.upsert(docs)
        logSink.upsert(docs)
        if (batchId == 1L) logSink.compact() // mid-stream fold
      }
      .start() // default trigger: processAllAvailable drains the prefix
    try q.processAllAvailable() finally q.stop()
    logSink.compact()
    val lcols = logSink.read().get.columns.toIndexedSeq
    assert(logSink.read().get.toJSON.collect().sorted.toSeq ===
      sink.read().get.selectExpr(lcols: _*).toJSON.collect().sorted.toSeq,
      "the compacted store must equal the uncompacted one under " +
        "streaming delivery")
    val streamed = sink.read().get
      .select($"user_id", $"event_id", $"event_type",
        round($"value" * 100, 0).cast("long").as("value_c"),
        unix_micros($"ts").as("ts_us"))
      .orderBy($"user_id")
      .collect().toSeq
    val batchLoop = SparkEntry.queries("q149_cdc_end_to_end")(spark, sfDir)
      .collect().toSeq
    assert(streamed === batchLoop)
  }

  test("q149 gate removes its store and cursor dir, and its result " +
       "still reads after the removal") {
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def e2eDirs(): Set[String] = tmpRoot.listFiles().map(_.getName)
      .filter(_.startsWith("graft_cdc_e2e")).toSet
    val before = e2eDirs()
    val out = SparkEntry.queries("q149_cdc_end_to_end")(spark, sfDir)
    assert(e2eDirs() === before, "the gate left its temp dir behind")
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(out.collect().toSeq === rows.toSeq)
  }
}
