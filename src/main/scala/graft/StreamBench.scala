package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Sustained-rate readout for the CDC path (round-8 VERDICT task #6,
  * extended per round-9 tasks #3/#5): drain the whole sf events table
  * through the CDC faces at the reference daemon's own batch-size
  * tunables (daemon.py:397-400, `--pg-batch`/`--es-batch` default
  * 1000) and report events/s —
  *
  *  - `log_sink`: the q149 end-to-end shape — Keyset.nextBatch →
  *    latest-per-key reduce → [[graft.cdc.LogUpsertSink]] upsert per
  *    tick (source + transform + sink, the full pipeline rate);
  *    append-only segments, O(|batch|) per tick by construction;
  *    compaction every 50 ticks is included in the total;
  *  - `search_index` / `ann_index`: the same loop maintaining an
  *    updatable search / IVF×PQ index through its DocSink face;
  *  - `es_wire`: the same loop over [[graft.cdc.EsWire.EsDocSink]]
  *    POSTing real `_bulk` bodies from executors to an in-process
  *    [[graft.cdc.EsStub]] — the doc-level sink the O(store) analysis
  *    recommends (no store rewrite at all; the stub serializes
  *    requests, so treat the number as a floor);
  *  - `dsv2_parquet`: the engine-trigger face — the DSv2 KeysetSource
  *    micro-batch stream appending to a parquet file sink under a real
  *    streaming checkpoint (source-side sustained rate).
  *
  * Each batch-loop face also reports `tick_ratio`: median duration of
  * its last quarter of ticks over its second quarter (`tickRatio`) —
  * ≈1 means per-tick cost is FLAT in store size (the log sink's design
  * property). The `*_hikey` faces key by the unique event id, so their
  * stores grow to the full row count across the drain.
  *
  * Prints one JSON line and writes `_streambench.json`; recorded in
  * BASELINE.md. Every path asserts it drained exactly the table's row
  * count (and the sinks, that they hold exactly the distinct-key
  * count) — a silent under-delivery can't report a rate.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-stream-bench")
    spark.sparkContext.setLogLevel("WARN")
    Tables.validate(spark, sfDir)

    val events = Tables.load(spark, sfDir, "events")
      .withColumn("did", lpad(col("event_id").cast("string"), 12, "0"))
    val total = events.count()
    val users = events.select(col("user_id")).distinct().count()

    // string-keyed physical copy for the DSv2 source (it watches a
    // parquet dir; the keyset tiebreaker must be a string column)
    val srcDir =
      Files.createTempDirectory("graft_sb_src").toString + "/events"
    events.write.parquet(srcDir)

    /** Drain via keyset ticks into `store`; returns (total sec,
      * per-tick secs). `postTick` runs outside tick timing — the log
      * face schedules compaction there but its cost still lands in the
      * total.
      */
    def drainLoop(
        batchSize: Int, store: graft.cdc.DocSink,
        postTick: Int => Unit = _ => (),
        keyCol: String = "user_id"): (Double, Vector[Double]) = {
      import graft.cdc.Keyset
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col(keyCol))
        .orderBy(unix_micros(col("ts")).desc, col("did").desc)
      var cur = Keyset.Cursor.Zero
      var n = 0L
      var tick = 0
      val ticks = Vector.newBuilder[Double]
      val t0 = System.nanoTime()
      var done = false
      while (!done) {
        val tt0 = System.nanoTime()
        val (batch, next) =
          Keyset.nextBatch(events, "ts", "did", cur, batchSize)
        if (next == cur) done = true
        else {
          val b = batch.localCheckpoint() // pin: the sink must not re-scan
          n += b.count()
          store.upsert(b.withColumn("rk", row_number().over(w))
            .filter(col("rk") === 1).drop("rk"))
          cur = next
          ticks += (System.nanoTime() - tt0) / 1e9
          tick += 1
          postTick(tick)
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      require(n == total, s"batch loop drained $n of $total rows")
      (sec, ticks.result())
    }

    def requireStoreComplete(count: Long, face: String): Unit =
      require(count == users,
        s"$face holds $count of $users latest-per-key docs")

    def logFace(batchSize: Int): (Double, Vector[Double]) = {
      val tmp = Files.createTempDirectory("graft_sb_log").toString
      val store = new graft.cdc.LogUpsertSink(
        spark, s"$tmp/store", "user_id", nBuckets = 32)
      val r = drainLoop(batchSize, store,
        postTick = t => if (t % 50 == 0) store.compact())
      store.compact()
      requireStoreComplete(store.read().get.count(), "log_sink")
      r
    }

    def esFace(batchSize: Int): (Double, Vector[Double]) = {
      val stub = new graft.cdc.EsStub
      try {
        val store = new graft.cdc.EsWire.EsDocSink(
          spark, stub.host, "events", "user_id", batchSize = batchSize)
        val r = drainLoop(batchSize, store)
        requireStoreComplete(stub.store.size.toLong, "es_wire")
        r
      } finally stub.stop()
    }

    def dsv2(batchSize: Int): Double = {
      val ckpt = Files.createTempDirectory("graft_sb_ckpt").toString
      val out = Files.createTempDirectory("graft_sb_out").toString + "/o"
      val t0 = System.nanoTime()
      val q = spark.readStream
        .format(classOf[graft.streaming.KeysetSourceProvider].getName)
        .option("path", srcDir)
        .option("tsCol", "ts")
        .option("idCol", "did")
        .option("batchSize", batchSize.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val n = spark.read.parquet(out).count()
      require(n == total, s"DSv2 stream drained $n of $total rows")
      sec
    }

    /** median(4th quarter of ticks) / median(2nd quarter): flat ==
      * ~1. Two deliberate instrument choices (VERDICT r14 #3 — make
      * the ratio measure the STORE-SIZE trend it exists for, not the
      * box or the harness):
      *
      *  - MEDIAN, not mean: one gc/host burst landing in either
      *    quarter used to fake a growing-store signal — r14's
      *    search_index @1000 read 2.72 on a noisy host and flipped
      *    faces between runs on unchanged code; a quarter's median is
      *    insensitive to a minority of outlier ticks.
      *  - Q2 as the base, not Q1 — PHASE ALIGNMENT: the index faces
      *    compact every 50 ticks, and a face whose per-tick cost
      *    scales with the live segment count (the search sink's
      *    stats-delta read) is a sawtooth in the segment phase. On a
      *    100-tick drain Q1 spans segments 0-25 of cycle one while
      *    Q4 spans 26-50 of cycle two — DIFFERENT phases, so a
      *    Q1-based ratio reads the sawtooth as growth by
      *    construction (measured 1.3-1.85 across three quiet-box
      *    drains on a steady-state store). Q2 and Q4 sit at the SAME
      *    phase window of their cycles, so their ratio isolates
      *    store-size growth; Q1's JIT warmup drops out with it. The
      *    hikey faces (whose stores genuinely grow) still read > 1.
      */
    def tickRatio(ticks: Vector[Double]): Double = {
      if (ticks.length < 2) return 1.0 // a 0/1-tick drain has no trend
      val q = math.max(1, ticks.length / 4)
      def med(xs: Vector[Double]): Double = {
        val s = xs.sorted
        if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
      }
      val base = med(ticks.slice(q, 2 * q))
      val last = med(ticks.takeRight(q))
      if (base <= 0) 0.0 else last / base
    }

    val batches = Seq(1000, 10000)
    def fmtTicks(r: (Int, (Double, Vector[Double]))) =
      s""""${r._1}":{"sec":${r._2._1},""" +
        s""""events_per_sec":${(total / r._2._1).toLong},""" +
        s""""tick_ratio":${math.round(tickRatio(r._2._2) * 100) / 100.0}}"""
    def fmt(r: (Int, Double)) =
      s""""${r._1}":{"sec":${r._2},""" +
        s""""events_per_sec":${(total / r._2).toLong}}"""

    // STORE GROWTH: keyed by the unique event id the doc store grows
    // to the full row count across the drain (vs the bounded user_id
    // key domain); an O(store)-per-tick sink's tick_ratio would rise
    // through the run, the log sink's stays ~1
    def logHiKey(batchSize: Int): (Double, Vector[Double]) = {
      val tmp = Files.createTempDirectory("graft_sb_hik_l").toString
      val store = new graft.cdc.LogUpsertSink(
        spark, s"$tmp/store", "did", nBuckets = 32)
      val r = drainLoop(batchSize, store,
        postTick = t => if (t % 50 == 0) store.compact(),
        keyCol = "did")
      store.compact()
      require(store.read().get.count() == total, "hikey log store")
      r
    }

    // CDC → SEARCH maintenance face (round 11): the drain upserts into
    // the UPDATABLE PostingIndex through its DocSink face — per-tick
    // cost = a log-sink tick + the stats-delta reads + one segment
    // write; tick_ratio ~1 proves maintaining SEARCH serving stays
    // O(batch) as the store grows (the whole point of the r11 index)
    def searchIndexFace(batchSize: Int): (Double, Vector[Double]) = {
      val tmp = Files.createTempDirectory("graft_sb_sidx").toString
      val tokens = Map(
        "title" -> array(col("event_type")),
        "body" -> graft.ops.TextOps.tokenize(col("props")))
      val sink = new graft.movies.PostingIndexSink(
        graft.movies.PostingIndex.buildTokenized(
          events.limit(0), s"$tmp/index", tokens,
          weights = Map("title" -> 4, "body" -> 1),
          idCol = "user_id", nTermBuckets = 16, nDocBuckets = 32),
        tokens = Some(tokens))
      val r = drainLoop(batchSize, sink,
        postTick = t => if (t % 50 == 0) sink.compact())
      sink.compact()
      requireStoreComplete(sink.read().get.count(), "search_index")
      // the drained index must actually SERVE: every stored doc holds
      // its event_type in the title field, so the five types cover all
      require(sink.index.scoreTerms(Seq(
          "click", "view", "purchase", "signup", "error")).count() == users,
        "search serve over the drained index is incomplete")
      r
    }

    // search_index at a HIGH key domain (VERDICT r15 #6): the regular
    // face's residual tick_ratio ~1.2 is explained as the
    // empty-base-vs-saturated-base fold difference, BOUNDED by the key
    // domain — a claim that was argued on the 1500-user face but never
    // measured where the base fold is the cost. Keying by the unique
    // event id grows the doc store to the full row count (~40× the
    // user domain): if the residual were O(store) it would grow with
    // the domain here; a flat ratio measures the bound.
    def searchIndexHiKey(batchSize: Int): (Double, Vector[Double]) = {
      val tmp = Files.createTempDirectory("graft_sb_sidx_hik").toString
      val tokens = Map(
        "title" -> array(col("event_type")),
        "body" -> graft.ops.TextOps.tokenize(col("props")))
      val sink = new graft.movies.PostingIndexSink(
        graft.movies.PostingIndex.buildTokenized(
          events.limit(0), s"$tmp/index", tokens,
          weights = Map("title" -> 4, "body" -> 1),
          idCol = "did", nTermBuckets = 16, nDocBuckets = 32),
        tokens = Some(tokens))
      val r = drainLoop(batchSize, sink,
        postTick = t => if (t % 50 == 0) sink.compact(),
        keyCol = "did")
      sink.compact()
      require(sink.read().get.count() == total, "hikey search store")
      r
    }

    // CDC → ANN maintenance face (round 12): the drain RE-EMBEDS each
    // tick's latest-per-user doc and upserts BY ID into a stored
    // IVF×PQ layout (seq-ordered tombstones + row append per tick,
    // compaction every 50 ticks) — per-tick cost = one tombstone-table
    // probe + two O(|batch|) writes; tick_ratio ~1 proves maintaining
    // ANN serving stays O(batch) as the store grows (the q294
    // composition, measured as a rate)
    def annIndexFace(batchSize: Int): (Double, Vector[Double]) = {
      import graft.ops.SimilarityOps
      val tmp = Files.createTempDirectory("graft_sb_ann").toString
      val dir = s"$tmp/ivfpq"
      val centers = Array.tabulate(4)(c =>
        Array.tabulate(8)(i => if (i == 2 * c) 6.0 else 0.0))
      val codebooks = Array.tabulate(2)(sp => Array.tabulate(4)(cd =>
        Array.tabulate(4)(j => ((sp * 5 + cd * 3 + j) % 7 - 3).toDouble)))
      def embed(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("value_c", round(col("value") * 100).cast("long"))
        .withColumn("embedding",
          transform(sequence(lit(0), lit(7)), i =>
            (pmod(col("value_c") + (i + 1) * 37 +
              length(col("event_type")) * 13, lit(97L)) - 48)
              .cast("float")))
        .select(col("user_id"), col("embedding"))
      val store = new graft.cdc.DocSink {
        val idCol = "user_id"
        def upsert(docs: org.apache.spark.sql.DataFrame): Unit =
          SimilarityOps.upsertIntoIvfPqIndex(dir, embed(docs),
            "user_id", "embedding", centers, codebooks)
        def delete(ids: org.apache.spark.sql.DataFrame): Unit =
          SimilarityOps.removeFromIvfPqIndex(dir, ids, idCol)
        def read(): Option[org.apache.spark.sql.DataFrame] = {
          val p = new org.apache.hadoop.fs.Path(dir)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(p)) None
          else Some(SimilarityOps.activeIvfPqIndex(spark, dir, idCol))
        }
      }
      val r = drainLoop(batchSize, store,
        postTick = t => if (t % 50 == 0)
          SimilarityOps.compactIvfPqIndex(spark, dir, "user_id"))
      SimilarityOps.compactIvfPqIndex(spark, dir, "user_id")
      requireStoreComplete(store.read().get.count(), "ann_index")
      // the drained index must actually SERVE: a full-depth probe over
      // the maintained layout returns a full top-10 (vectors for the
      // re-rank come from the source's own latest-per-user fold)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")).desc, col("did").desc)
      val vectors = embed(events
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1))
      val qvec = Array.tabulate(8)(i => ((i + 1) * 19 % 23 - 11).toDouble)
      require(SimilarityOps.ivfPqTopKStored(spark, dir, "user_id",
          vectors, "user_id", "embedding", qvec, centers, codebooks,
          nProbe = 4, shortlist = 100000, k = 10).count() == 10,
        "ANN serve over the drained index is incomplete")
      r
    }

    val logs = batches.map(b => b -> logFace(b))
    val sidx = batches.map(b => b -> searchIndexFace(b))
    val aidx = batches.map(b => b -> annIndexFace(b))
    val es = batches.map(b => b -> esFace(b))
    val streams = batches.map(b => b -> dsv2(b))
    val hik = Seq(
      "log_sink_hikey" -> (1000 -> logHiKey(1000)),
      "search_index_hikey" -> (1000 -> searchIndexHiKey(1000)))
    val json =
      s"""{"metric":"cdc_throughput","rows":$total,"keys":$users,""" +
        s""""log_sink":{${logs.map(fmtTicks).mkString(",")}},""" +
        s""""search_index":{${sidx.map(fmtTicks).mkString(",")}},""" +
        s""""ann_index":{${aidx.map(fmtTicks).mkString(",")}},""" +
        s""""es_wire":{${es.map(fmtTicks).mkString(",")}},""" +
        hik.map { case (k, r) => s""""$k":{${fmtTicks(r)}}""" }
          .mkString("", ",", ",") +
        s""""dsv2_parquet":{${streams.map(fmt).mkString(",")}},""" +
        s""""sf":"$sfDir"}"""
    println(json)
    Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_STREAMBENCH_OUT", "_streambench.json")),
      json + "\n")
    spark.stop()
  }
}
