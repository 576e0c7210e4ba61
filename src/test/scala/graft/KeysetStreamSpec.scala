package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{KeysetOffset, KeysetSourceProvider}

/** DSv2 keyset streaming source (S3/T1/T2 under real engine
  * checkpointing): micro-batches follow the (ts, id) keyset order with
  * admission control, appends are picked up live, and a restart resumes
  * from the checkpoint with no re-delivery.
  */
class KeysetStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)

  private def readKeyset(dir: String, batchSize: Int): DataFrame =
    spark.readStream
      .format(classOf[KeysetSourceProvider].getName)
      .option("path", dir)
      .option("tsCol", "updated_at")
      .option("idCol", "id")
      .option("batchSize", batchSize.toString)
      .load()

  test("offset json round-trips (incl. cursor zero and quoting)") {
    for (o <- Seq(KeysetOffset.Zero, KeysetOffset(123L, "f\"1\\x"))) {
      assert(KeysetOffset.fromJson(o.json()) === o)
    }
  }

  test("streams every row exactly once in batchSize-bounded micro-batches " +
       "and picks up appended rows") {
    val dir = Files.createTempDirectory("graft_ks_src").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_ks_ckpt").toString
    Seq(("f1", "A", ts(100)), ("f2", "B", ts(100)), ("f3", "C", ts(200)))
      .toDF("id", "title", "updated_at")
      .write.parquet(dir)

    val q = readKeyset(dir, batchSize = 1)
      .writeStream.format("memory").queryName("ks1")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val got = spark.table("ks1").select("id").as[String].collect().sorted
      assert(got === Array("f1", "f2", "f3"))
      // batchSize=1 → at least 3 micro-batches committed
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)

      // live append with a newer ts
      Seq(("f4", "D", ts(300))).toDF("id", "title", "updated_at")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got2 = spark.table("ks1").select("id").as[String].collect().sorted
      assert(got2 === Array("f1", "f2", "f3", "f4"))
    } finally q.stop()
  }

  test("restart resumes from the engine checkpoint: only rows after the " +
       "committed cursor are delivered") {
    val dir = Files.createTempDirectory("graft_ks_src2").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_ks_ckpt2").toString
    val out = Files.createTempDirectory("graft_ks_out2").toString + "/o"
    Seq(("f1", "A", ts(100)), ("f2", "B", ts(100)))
      .toDF("id", "title", "updated_at")
      .write.parquet(dir)

    // file sink (recovery-capable, unlike the memory sink): a replay
    // after restart would duplicate f1/f2 in the output
    def run(): Unit = {
      val q = readKeyset(dir, batchSize = 10)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
    }

    run()
    assert(spark.read.parquet(out).count() === 2)

    // equal-ts tiebreak on id (f2a sorts after f2 at ts=100) + later row
    Seq(("f2a", "B2", ts(100)), ("f9", "Z", ts(900)))
      .toDF("id", "title", "updated_at")
      .write.mode("append").parquet(dir)

    run()
    val got = spark.read.parquet(out).select("id").as[String].collect().sorted
    assert(got === Array("f1", "f2", "f2a", "f9"),
      "restart must resume from the cursor (no re-delivery, no loss)")
  }

  test("mid-stream kill + restart-from-checkpoint: a micro-batch that " +
       "dies after a PARTIAL upsert is replayed whole on restart and the " +
       "store converges to the exact batch-loop state (the q149 " +
       "semantics under the real engine trigger; reference restart " +
       "behavior daemon.py:104-126)") {
    import org.apache.spark.sql.functions.col
    import graft.cdc.LogUpsertSink
    val dir = Files.createTempDirectory("graft_ks_kill").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_ks_kill_ckpt").toString
    val storeDir = Files.createTempDirectory("graft_ks_kill_store").toString
    val rows = (1 to 9).map(i => (f"r$i%02d", s"v$i", ts(100L * i)))
    rows.toDF("id", "title", "updated_at").write.parquet(dir)
    val store = new LogUpsertSink(spark, s"$storeDir/s", "id", nBuckets = 4)

    // crash injection: the SECOND micro-batch upserts only its first row,
    // then dies — a partial sink write, the worst restart case. armed is
    // a file flag so the restarted run (fresh lambda instances) sees it.
    val armedFlag = java.nio.file.Paths.get(storeDir, "armed")
    Files.createFile(armedFlag)
    def start() = readKeyset(dir, batchSize = 3)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = batch.select(col("id"), col("title"), col("updated_at"))
        if (batchId == 1 && Files.exists(armedFlag)) {
          store.upsert(docs.orderBy(col("id")).limit(1))
          Files.delete(armedFlag) // crash exactly once
          throw new RuntimeException("injected executor-side crash")
        }
        store.upsert(docs)
      }
      .start()

    val q1 = start()
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(died.getMessage.contains("injected") ||
      Option(died.getCause).exists(_.getMessage.contains("injected")))
    // the crash left a partial batch-1 upsert behind (r04 only)
    val mid = store.read().get.select("id").as[String].collect().sorted
    assert(mid.length < rows.length && mid.contains("r04"),
      s"expected a partial store, got ${mid.mkString(",")}")

    // restart from the SAME checkpoint: the engine replays batch 1 in
    // full; the idempotent upsert absorbs the duplicate r04, and the
    // drain continues to the end of the table
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val fin = store.read().get
      .select("id", "title").as[(String, String)].collect().sorted.toSeq
    assert(fin === rows.map(r => (r._1, r._2)).sorted,
      "restarted stream must converge to the exact one-shot state")
  }

  test("mid-stream kill + restart THROUGH THE SEARCH INDEX: a partial " +
       "index upsert PUBLISHED by a dying micro-batch is superseded by " +
       "the replayed whole batch — the restarted drain converges to " +
       "serving bit-identical to a rebuild over the full table (T2 " +
       "effectively-once through search serving, with a mid-stream " +
       "compaction riding the same delivery)") {
    import org.apache.spark.sql.functions._
    import graft.movies.{PostingIndex, PostingIndexSink}
    val dir = Files.createTempDirectory("graft_ks_sidx").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_ks_sidx_ckpt").toString
    val scratch = Files.createTempDirectory("graft_ks_sidx_store").toString
    val rows = (1 to 9).map(i =>
      (f"r$i%02d", s"term${i % 3} filler row", ts(100L * i)))
    val rowsDf = rows.toDF("id", "title", "updated_at").localCheckpoint()
    rowsDf.write.parquet(dir)
    val tokens = Map("title" -> split(col("title"), "\\s+"))
    val sink = new PostingIndexSink(
      PostingIndex.buildTokenized(rowsDf.limit(0), s"$scratch/idx",
        tokens, Map("title" -> 1), idCol = "id",
        nTermBuckets = 4, nDocBuckets = 4),
      tokens = Some(tokens))
    val armedFlag = java.nio.file.Paths.get(scratch, "armed")
    Files.createFile(armedFlag)
    def start() = readKeyset(dir, batchSize = 3)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = batch.select(col("id"), col("title"), col("updated_at"))
        if (batchId == 1 && Files.exists(armedFlag)) {
          // the worst case: a SUB-batch lands as a fully-published
          // index segment, then the tick dies
          sink.upsert(docs.orderBy(col("id")).limit(1))
          Files.delete(armedFlag)
          throw new RuntimeException("injected executor-side crash")
        }
        sink.upsert(docs)
        if (batchId == 2L) sink.compact() // mid-stream fold
      }
      .start()
    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable(); q1.awaitTermination()
    }
    // the partial publish serves r04 but not the rest of its batch
    val mid = sink.read().get.select("id").as[String].collect().sorted
    assert(mid.length < rows.length && mid.contains("r04"),
      s"expected a partial index, got ${mid.mkString(",")}")
    // restart from the SAME checkpoint: the engine replays batch 1 in
    // full; the seq-ordered fold absorbs the duplicate r04
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(sink.read().get.select("id").as[String].collect().sorted
      === rows.map(_._1).sorted.toArray)
    // serving referee: the crashed-replayed-compacted index scores
    // bit-identically to a fresh build over the table
    val rebuilt = PostingIndex.buildTokenized(rowsDf, s"$scratch/ref",
      tokens, Map("title" -> 1), idCol = "id",
      nTermBuckets = 4, nDocBuckets = 4)
    def ranked(df: DataFrame) = df.select($"id", $"score")
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    for (terms <- Seq(Seq("term0"), Seq("term1", "term2"), Seq("filler")))
      assert(ranked(sink.index.scoreTerms(terms)) ===
        ranked(rebuilt.scoreTerms(terms)), s"terms=$terms")
  }

  test("mid-stream kill + restart THROUGH THE ANN INDEX (VERDICT r13 " +
       "#6, the IvfPqIndexSink leg symmetric to the search-index " +
       "drill): a partial vector upsert published by a dying " +
       "micro-batch is superseded by the replayed whole batch; the " +
       "restarted drain's full-depth probe serves every table id " +
       "exactly once — ghost and lost counters both zero — and " +
       "matches the in-memory probe over a fresh encode") {
    import org.apache.spark.sql.functions._
    import graft.ops.{IvfPqIndexSink, SimilarityOps}
    val dim = 16
    def vecOf(i: Int): Array[Float] = {
      val spike = (i % 4) * 4
      Array.tabulate(dim)(j =>
        (if (j == spike) 8.0f else 0.0f) +
          (if (j == 3) ((i * 7) % 5 - 2) * 0.05f else 0.0f))
    }
    val centers = Array.tabulate(4)(c =>
      Array.tabulate(dim)(j => if (j == c * 4) 8.0 else 0.0))
    val codebooks = Array.tabulate(2)(sp => Array.tabulate(4)(c =>
      Array.tabulate(8)(j => ((sp * 31 + c * 7 + j) % 5 - 2).toDouble)))
    val dir = Files.createTempDirectory("graft_ks_ann").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_ks_ann_ckpt").toString
    val scratch = Files.createTempDirectory("graft_ks_ann_store").toString
    val rows = (1 to 9).map(i => (f"r$i%02d", vecOf(i), ts(100L * i)))
    val rowsDf = rows.toDF("id", "embedding", "updated_at")
      .localCheckpoint()
    rowsDf.write.parquet(dir)
    val sink = new IvfPqIndexSink(spark, s"$scratch/idx", "id",
      "embedding", centers, codebooks)
    val armedFlag = java.nio.file.Paths.get(scratch, "armed")
    Files.createFile(armedFlag)
    def start() = readKeyset(dir, batchSize = 3)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = batch.select(col("id"), col("embedding"))
        if (batchId == 1 && Files.exists(armedFlag)) {
          // worst case: a sub-batch lands as fully-published rows +
          // tombstones, then the tick dies
          sink.upsert(docs.orderBy(col("id")).limit(1))
          Files.delete(armedFlag)
          throw new RuntimeException("injected executor-side crash")
        }
        sink.upsert(docs)
        if (batchId == 2L) sink.compact() // mid-stream fold
      }
      .start()
    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable(); q1.awaitTermination()
    }
    // the partial publish serves r04 but not the rest of its batch
    val mid = sink.read().get.select("id").as[String].collect().sorted
    assert(mid.length < rows.length && mid.contains("r04"),
      s"expected a partial ANN store, got ${mid.mkString(",")}")
    // restart from the SAME checkpoint: the engine replays batch 1 in
    // full; the seq-ordered tombstones absorb the duplicate r04
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // the live encoded view serves every id EXACTLY ONCE (ghost = a
    // served id not in the table, lost = a table id not served, a
    // double = two live versions of one id — all must be zero)
    val live = sink.read().get
    val perId = live.groupBy($"id").count()
      .as[(String, Long)].collect().toMap
    val expected = rows.map(_._1).toSet
    assert(perId.keySet === expected, s"ghost/lost ids: served " +
      s"${perId.keySet} vs table $expected")
    assert(perId.values.forall(_ == 1L),
      s"an id serves two live versions: $perId")
    // full-depth serving referee: the stored probe over the
    // crashed-replayed-compacted store == the in-memory probe over a
    // fresh encode of the table (frozen quantization) — rank for rank
    val qv = vecOf(1).map(_.toDouble)
    val got = SimilarityOps.ivfPqTopKStored(spark, sink.dir, "id",
        rowsDf.select($"id", $"embedding"), "id", "embedding", qv,
        centers, codebooks, nProbe = 4, shortlist = 16, k = 9)
      .select($"id", $"cos_micro").as[(String, Long)].collect().toSeq
    val want = SimilarityOps.ivfPqTopK(
        SimilarityOps.ivfPqIndex(rowsDf.select($"id", $"embedding"),
          "id", "embedding", centers, codebooks),
        "id", rowsDf.select($"id", $"embedding"), "id", "embedding",
        qv, centers, codebooks, nProbe = 4, shortlist = 16, k = 9)
      .select($"id", $"cos_micro").as[(String, Long)].collect().toSeq
    assert(got === want,
      "restarted ANN serving must equal the fresh-encode referee")
    assert(got.length === 9, "full-depth probe must rank every id")
  }

  test("dual-sink FAN-OUT from one checkpointed stream (VERDICT r14 " +
       "#6, the reference's T4 graph: daemon.py:497-535 fans one " +
       "change into several indexes): each tick frame feeds the " +
       "SEARCH sink AND the ANN sink; the kill lands BETWEEN them — " +
       "the worst divergence, one store a tick ahead — and the " +
       "restart replays the whole frame into both, converging both " +
       "stores onto their rebuild/fresh-encode referees") {
    import org.apache.spark.sql.functions._
    import graft.movies.{PostingIndex, PostingIndexSink}
    import graft.ops.{IvfPqIndexSink, SimilarityOps}
    val dim = 16
    def vecOf(i: Int): Array[Float] = {
      val spike = (i % 4) * 4
      Array.tabulate(dim)(j =>
        (if (j == spike) 8.0f else 0.0f) +
          (if (j == 3) ((i * 7) % 5 - 2) * 0.05f else 0.0f))
    }
    val centers = Array.tabulate(4)(c =>
      Array.tabulate(dim)(j => if (j == c * 4) 8.0 else 0.0))
    val codebooks = Array.tabulate(2)(sp => Array.tabulate(4)(c =>
      Array.tabulate(8)(j => ((sp * 31 + c * 7 + j) % 5 - 2).toDouble)))
    val dir = Files.createTempDirectory("graft_ks_fan").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_ks_fan_ckpt").toString
    val scratch = Files.createTempDirectory("graft_ks_fan_store").toString
    val rows = (1 to 9).map(i =>
      (f"r$i%02d", s"term${i % 3} filler row", vecOf(i), ts(100L * i)))
    val rowsDf = rows.toDF("id", "title", "embedding", "updated_at")
      .localCheckpoint()
    rowsDf.write.parquet(dir)
    val tokens = Map("title" -> split(col("title"), "\\s+"))
    val searchSink = new PostingIndexSink(
      PostingIndex.buildTokenized(
        rowsDf.select($"id", $"title").limit(0), s"$scratch/sidx",
        tokens, Map("title" -> 1), idCol = "id",
        nTermBuckets = 4, nDocBuckets = 4),
      tokens = Some(tokens))
    val annSink = new IvfPqIndexSink(spark, s"$scratch/vidx", "id",
      "embedding", centers, codebooks)
    val armedFlag = java.nio.file.Paths.get(scratch, "armed")
    Files.createFile(armedFlag)
    def start() = readKeyset(dir, batchSize = 3)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // ONE pinned tick frame fans into both sinks — the q293/q294
        // tick discipline: both indexes must see the same evaluation
        // of the micro-batch, never two runs of its plan
        val frame = batch
          .select(col("id"), col("title"), col("embedding"))
          .localCheckpoint()
        searchSink.upsert(frame.select(col("id"), col("title")))
        if (batchId == 1 && Files.exists(armedFlag)) {
          // kill BETWEEN the two sinks: search has tick 1, ANN does
          // not — the stores diverge by one whole frame
          Files.delete(armedFlag)
          throw new RuntimeException("injected inter-sink crash")
        }
        annSink.upsert(frame.select(col("id"), col("embedding")))
        if (batchId == 2L) { searchSink.compact(); annSink.compact() }
      }
      .start()
    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable(); q1.awaitTermination()
    }
    // the kill point: search serves tick 1's frame, ANN is a tick
    // behind — exactly the divergence the replay must heal
    val sMid = searchSink.read().get
      .select("id").as[String].collect().toSet
    val aMid = annSink.read().map(
      _.select("id").as[String].collect().toSet).getOrElse(Set.empty)
    assert(aMid.subsetOf(sMid) && aMid.size < sMid.size,
      s"expected ANN one frame behind search: ann=$aMid search=$sMid")
    // restart from the SAME checkpoint: the engine replays the frame
    // into BOTH sinks — the search index absorbs its duplicate (seq
    // fold), the ANN store takes it fresh; the drain then finishes
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // ghost/lost/double counters on both stores
    for ((name, served) <- Seq(
        "search" -> searchSink.read().get.groupBy($"id").count()
          .as[(String, Long)].collect(),
        "ann" -> annSink.read().get.groupBy($"id").count()
          .as[(String, Long)].collect())) {
      assert(served.map(_._1).toSet === rows.map(_._1).toSet,
        s"$name ghost/lost ids after restart")
      assert(served.forall(_._2 == 1L), s"$name double-serves an id")
    }
    // SEARCH referee: scores bit-identical to a fresh build
    val rebuilt = PostingIndex.buildTokenized(
      rowsDf.select($"id", $"title"), s"$scratch/ref",
      tokens, Map("title" -> 1), idCol = "id",
      nTermBuckets = 4, nDocBuckets = 4)
    def ranked(df: DataFrame) = df.select($"id", $"score")
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    for (terms <- Seq(Seq("term0"), Seq("term1", "term2"), Seq("filler")))
      assert(ranked(searchSink.index.scoreTerms(terms)) ===
        ranked(rebuilt.scoreTerms(terms)), s"terms=$terms")
    // ANN referee: the stored full-depth probe == the in-memory probe
    // over a fresh encode, rank for rank
    val qv = vecOf(1).map(_.toDouble)
    val got = SimilarityOps.ivfPqTopKStored(spark, annSink.dir, "id",
        rowsDf.select($"id", $"embedding"), "id", "embedding", qv,
        centers, codebooks, nProbe = 4, shortlist = 16, k = 9)
      .select($"id", $"cos_micro").as[(String, Long)].collect().toSeq
    val want = SimilarityOps.ivfPqTopK(
        SimilarityOps.ivfPqIndex(rowsDf.select($"id", $"embedding"),
          "id", "embedding", centers, codebooks),
        "id", rowsDf.select($"id", $"embedding"), "id", "embedding",
        qv, centers, codebooks, nProbe = 4, shortlist = 16, k = 9)
      .select($"id", $"cos_micro").as[(String, Long)].collect().toSeq
    assert(got === want && got.length === 9,
      "fanned-out ANN serving must equal the fresh-encode referee")
  }
}
