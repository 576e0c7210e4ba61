package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.cdc.{DocSink, LogUpsertSink}

/** Differential property drill over the WHOLE parquet sink family:
  * seeded-random sequences of upsert / targeted-delete / replay /
  * compact against every store at once, each step compared to an
  * in-memory Map model (the DocSink contract is exactly last-write-wins
  * by id). The sinks implement the same contract through different
  * storage disciplines (the log-structured doc store, the round-11
  * SEARCH-INDEX face whose store IS an updatable PostingIndex, and the
  * IVF×PQ vector index) — a divergence in ANY of replace semantics,
  * delete idempotence, replay absorption, empty-batch handling or
  * compaction equivalence shows up as a model mismatch here without
  * hand-writing the case.
  */
class SinkPropertySpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_sinkprop").toString

  private def df(rows: Seq[(String, String)]): DataFrame =
    rows.toDF("id", "title")

  private def contents(s: DocSink): Set[(String, String)] =
    s.read().map(_.as[(String, String)].collect().toSet)
      .getOrElse(Set.empty)

  test("random op sequences: LogUpsertSink ≡ PostingIndexSink ≡ " +
       "IvfPqIndexSink ≡ the in-memory model at every checkpoint, " +
       "including replays, empty batches, hot-id churn and compaction") {
    val rnd = new scala.util.Random(20260815L)
    val ids = (1 to 12).map(i => s"id_$i")
    for (run <- 1 to 2) {
      val model = scala.collection.mutable.Map.empty[String, String]
      val pidxTokens = Map("title" ->
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("title"), "\\s+"))
      val log = new LogUpsertSink(spark, s"${tmp()}/s", "id", nBuckets = 4)
      val pidx = new graft.movies.PostingIndexSink(
        graft.movies.PostingIndex.buildTokenized(
          df(Seq.empty).limit(0), s"${tmp()}/s", pidxTokens,
          Map("title" -> 1), idCol = "id",
          nTermBuckets = 4, nDocBuckets = 4),
        tokens = Some(pidxTokens))
      val sinks: Seq[DocSink] = Seq(log, pidx)
      // the vector-index leg (VERDICT r12 #3): the IvfPqIndexSink's
      // docs carry an embedding derived deterministically from the
      // payload (a changed title genuinely moves the vector, the q294
      // re-embedding pattern), and its store is compared against a
      // fresh frozen-quantization encode of the model — the
      // IndexMaintenanceSpec equivalence, driven by the SAME op
      // sequence as the doc sinks.
      import org.apache.spark.sql.functions._
      val ivfCenters = Array.tabulate(4)(c =>
        Array.tabulate(8)(i => if (i == 2 * c) 6.0 else 0.0))
      val ivfCodebooks = Array.tabulate(2)(sp => Array.tabulate(4)(cd =>
        Array.tabulate(4)(j => ((sp * 5 + cd * 3 + j) % 7 - 3).toDouble)))
      def embed(d: DataFrame): DataFrame = d.withColumn("embedding",
        transform(sequence(lit(0), lit(7)), i =>
          (pmod(xxhash64(col("title")) + i * lit(37L), lit(97L)) - 48)
            .cast("float")))
      val ivf = new graft.ops.IvfPqIndexSink(spark, s"${tmp()}/idx",
        "id", "embedding", ivfCenters, ivfCodebooks)
      def ivfRows(d: DataFrame): Set[(String, Int, String)] = d
        .select(col("id"), col("cell").cast("int"),
          concat_ws(",", col("codes").cast("array<string>")))
        .as[(String, Int, String)].collect().toSet
      var lastBatch: Seq[(String, String)] = Seq.empty
      def check(step: String): Unit = {
        val want = model.toSet
        for (s <- sinks)
          assert(contents(s) === want,
            s"run $run after $step: ${s.getClass.getSimpleName} diverged")
        val ivfWant =
          if (model.isEmpty) Set.empty[(String, Int, String)]
          else ivfRows(graft.ops.SimilarityOps.ivfPqIndex(
            embed(df(model.toSeq)), "id", "embedding",
            ivfCenters, ivfCodebooks))
        assert(ivf.read().map(ivfRows).getOrElse(Set.empty) === ivfWant,
          s"run $run after $step: IvfPqIndexSink ≠ fresh encode of model")
      }
      for (step <- 1 to 14) {
        rnd.nextInt(5) match {
          case 0 | 1 => // upsert a random batch (possibly empty)
            val batch = rnd.shuffle(ids).take(rnd.nextInt(5))
              .map(id => id -> s"v${run}_${step}_$id")
            sinks.foreach(_.upsert(df(batch)))
            ivf.upsert(embed(df(batch)))
            batch.foreach { case (k, v) => model(k) = v }
            lastBatch = batch
          case 2 => // targeted delete incl. absent ids
            val victims = rnd.shuffle(ids).take(rnd.nextInt(4)) :+ "ghost"
            sinks.foreach(_.delete(victims.toDF("id")))
            ivf.delete(victims.toDF("id"))
            victims.foreach(model.remove)
          case 3 => // replay the previous upsert batch — must absorb
            sinks.foreach(_.upsert(df(lastBatch)))
            ivf.upsert(embed(df(lastBatch)))
            lastBatch.foreach { case (k, v) => model(k) = v }
          case 4 => // fold every store
            log.compact(); pidx.compact(); ivf.compact()
        }
        if (step % 4 == 0) check(s"step $step")
      }
      log.compact(); pidx.compact(); ivf.compact()
      check("final compact")
      // the vector sink's store isn't just rows — it must SERVE: a
      // post-compact full-depth stored probe returns exactly the
      // model's ids (ranked by true cosine via the re-rank corpus)
      if (model.nonEmpty) {
        val corpus = embed(df(model.toSeq))
        val qv = Array.tabulate(8)(i => ((i * 19) % 23 - 11).toDouble)
        val served = graft.ops.SimilarityOps.ivfPqTopKStored(spark,
            ivf.dir, "id", corpus, "id", "embedding", qv,
            ivfCenters, ivfCodebooks,
            nProbe = 4, shortlist = 1000, k = model.size)
          .select(col("id")).as[String].collect().toSet
        assert(served === model.keySet,
          s"run $run: post-compact stored probe ≠ the model's ids")
      }
      // the index sink's store isn't just rows — it must SERVE: every
      // live doc's title tokens find exactly the model's docs
      val want = model.toSet
      if (want.nonEmpty) {
        val served = pidx.index
          .scoreTerms(want.map(_._2.split("\\s+").head).toSeq.distinct)
          .select("id").as[String].collect().toSet
        assert(served === want.map(_._1),
          s"run $run: index serve diverged from the model")
      }
    }
  }

  test("stale-writer tripwire (VERDICT r11 #5): a SUPERSEDED " +
       "LogUpsertSink handle refuses every mutating op once a newer " +
       "writer advanced the store, while a re-opened handle resumes " +
       "normally — the PostingIndex requireCurrent contract on the " +
       "sink family") {
    val d = s"${tmp()}/s"
    val h1 = new LogUpsertSink(spark, d, "id", nBuckets = 4)
    h1.upsert(df(Seq("a" -> "v1")))
    // a restart re-opens the store: the new handle snapshots the
    // current version and becomes the single writer
    val h2 = new LogUpsertSink(spark, d, "id", nBuckets = 4)
    h2.upsert(df(Seq("b" -> "v2")))
    // the superseded handle must trip on EVERY mutating op — its
    // publish or sweep would supersede h2's segments (compact sweeps)
    for (op <- Seq(
        () => h1.upsert(df(Seq("a" -> "v3"))),
        () => h1.delete(Seq("a").toDF("id")),
        () => h1.compact())) {
      val err = intercept[IllegalArgumentException](op())
      assert(err.getMessage.contains("stale sink handle"))
    }
    // the store is uncorrupted and the live writer keeps going
    h2.upsert(df(Seq("c" -> "v4")))
    assert(contents(h2) === Set("a" -> "v1", "b" -> "v2", "c" -> "v4"))
    h2.compact()
    assert(contents(h2) === Set("a" -> "v1", "b" -> "v2", "c" -> "v4"))
  }
}
