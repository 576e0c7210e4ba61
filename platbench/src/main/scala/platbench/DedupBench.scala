package platbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, GraphOps, TextOps}

/** `dedup`: the near-duplicate chain over a generated corpus with
  * planted clusters — word 3-shingles → MinHash signatures → LSH
  * candidate pairs → Jaccard verification → connected components → one
  * survivor per cluster — then near-dup lookups of new documents
  * against the stored LSH band-key index.
  *
  * Set-up (untimed): generate and write the corpus, then one warm-up
  * round (one pass, one lookup). Timed: whole (pass + lookups) rounds,
  * as many as fit the run's seconds at ~20 s a round, at least one.
  * `batch_s` is the median pass (corpus → survivor set written),
  * `read_p50_ms` the median lookup.
  */
object DedupBench {
  val Clusters = 1000
  val K = 60
  val Bands = 30
  val Rows = 2
  val ShingleN = 3
  val MinJaccardMilli = 500
  val LookupsPerRound = 9
  val NominalRoundS = 20
  // recall floors of the checks; measured recall is 0.997-0.998 (pairs)
  // and ~1.0 (lookups), below 1 only by the MinHash fault in CHANGES.md
  val MinPairRecall = 0.95
  val MinLookupRecall = 0.5

  final case class Corpus(docs: IndexedSeq[(String, String)],
      clusters: Seq[Seq[String]], originals: IndexedSeq[String])

  /** Planted make-up: 55 % singletons; 35 % near-dup clusters of an
    * original plus 1-4 copies, each copy one word substituted (a tenth
    * of copies verbatim); 10 % decoy pairs — an original and a document
    * sharing only its first 40 % of words (Jaccard ≈ 0.25, so a likely
    * LSH candidate that verification must reject): two clusters. Each
    * document is 40-60 words drawn uniformly from 4374 words.
    */
  def corpus(seed: Long, nClusters: Int): Corpus = {
    val r = new Random(seed * 104729L + 11L)
    val vocab = Gen.AllWords2
    def fresh(n: Int) = IndexedSeq.fill(n)(vocab(r.nextInt(vocab.size)))
    def mutate(w: IndexedSeq[String]) = {
      val i = r.nextInt(w.size)
      var x = w(i)
      while (x == w(i)) x = vocab(r.nextInt(vocab.size))
      w.updated(i, x)
    }
    val groups = mutable.ArrayBuffer.empty[Seq[IndexedSeq[String]]]
    val originals = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    (0 until nClusters).foreach { _ =>
      val orig = fresh(40 + r.nextInt(21))
      val u = r.nextDouble()
      if (u < 0.55) groups += Seq(orig)
      else if (u < 0.90) {
        originals += orig
        groups += orig +: Seq.fill(1 + r.nextInt(4))(
          if (r.nextDouble() < 0.1) orig else mutate(orig))
      } else {
        groups += Seq(orig)
        groups += Seq(orig.take(orig.size * 2 / 5) ++ fresh(orig.size - orig.size * 2 / 5))
      }
    }
    val n = groups.map(_.size).sum
    val ids = r.shuffle((0 until n).map(i => f"d$i%07d")).iterator
    val clusters = groups.map(_.map(w => (ids.next(), w.mkString(" "))))
    Corpus(clusters.flatten.toIndexedSeq, clusters.map(_.map(_._1)).toSeq,
      originals.map(_.mkString(" ")).toIndexedSeq)
  }

  def run(c: Ctx): Result = {
    val spark = c.spark
    import spark.implicits._
    val tr = c.tr
    val cp = corpus(c.seed, Clusters)
    val corpusDir = s"${c.dir}/corpus"
    cp.docs.toDF("id", "text").coalesce(1).write.parquet(corpusDir)
    val shingles = cp.docs.map { case (id, t) => id -> Model.shingles(t, ShingleN) }.toMap
    val probeRng = new Random(c.seed * 7L + 5L)
    c.log(s"generated ${cp.docs.size} docs")

    final case class Pass(seconds: Double, minhashS: Double, lshS: Double,
        ccS: Double, candidates: Long, verified: Seq[(String, String)],
        survivors: Set[String], bandKeys: String, shingleStore: String,
        storeMb: Double)

    def pass(i: Int): Pass = {
      val out = s"${c.dir}/pass$i"
      val t0 = System.nanoTime()
      val docs = spark.read.parquet(corpusDir)
      val sh = docs.select(col("id"), TextOps.shingleHashes(col("text"), ShingleN).as("sh"))
      val sigs = tr.span("dedup.minhash") {
        sh.write.parquet(s"$out/shingles")
        DedupOps.minhashSignatures(spark.read.parquet(s"$out/shingles"), "id", "sh", K)
          .localCheckpoint()
      }
      val t1 = System.nanoTime()
      val stored = spark.read.parquet(s"$out/shingles")
      val cands = DedupOps.lshCandidatePairs(sigs, "id", "sig", Bands, Rows)
      val verified = tr.span("dedup.lsh") {
        DedupOps.lshBandKeyTable(sigs, "id", "sig", Bands, Rows)
          .write.parquet(s"$out/bandkeys")
        cands
          .join(stored.select(col("id").as("id_a"), col("sh").as("sa")), "id_a")
          .join(stored.select(col("id").as("id_b"), col("sh").as("sb")), "id_b")
          .filter(DedupOps.jaccardMilli(col("sa"), col("sb")) >= MinJaccardMilli)
          .select("id_a", "id_b").localCheckpoint()
      }
      val t2 = System.nanoTime()
      val survivors = tr.span("graph.cc") {
        GraphOps.dropNearDuplicates(docs.select("id"), "id", verified)
          .write.parquet(s"$out/survivors")
        spark.read.parquet(s"$out/survivors").as[String].collect().toSet
      }
      val t3 = System.nanoTime()
      val candidates =
        if (tr.on) tr.span(Trace.TraceLayer)(cands.count()) else 0L
      Pass((t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        candidates, verified.as[(String, String)].collect().toSeq, survivors,
        s"$out/bandkeys", s"$out/shingles",
        Disk.mb(s"$out/survivors", s"$out/bandkeys"))
    }

    /** Near-dup lookup: corpus ids whose Jaccard with `text` meets the
      * threshold, via the stored band-key index.
      */
    def lookup(p: Pass, text: String, tag: String): Set[String] = tr.span("lookup", tag) {
      val pdf = Seq(("~probe", text)).toDF("id", "text")
        .select(col("id"), TextOps.shingleHashes(col("text"), ShingleN).as("sh"))
      val psig = DedupOps.minhashSignatures(pdf, "id", "sh", K)
      val cands = DedupOps.lshCandidatePairsIncrementalIndexed(
        spark.read.parquet(p.bandKeys), psig, "id", "sig", Bands, Rows)
        .select(when(col("id_a") === "~probe", col("id_b")).otherwise(col("id_a")).as("id"))
      cands.join(spark.read.parquet(p.shingleStore), "id")
        .crossJoin(pdf.select(col("sh").as("psh")))
        .filter(DedupOps.jaccardMilli(col("sh"), col("psh")) >= MinJaccardMilli)
        .select("id").as[String].collect().toSet
    }

    /** A lookup probes a one-word edit of a planted original: a new
      * near-duplicate whose answer is (most of) the original's cluster.
      */
    def probeText(): String = {
      val w = cp.originals(probeRng.nextInt(cp.originals.size)).split(" ")
      val i = probeRng.nextInt(w.length)
      var x = w(i)
      while (x == w(i)) x = Gen.AllWords2(probeRng.nextInt(Gen.AllWords2.size))
      w.updated(i, x).mkString(" ")
    }

    val passes = mutable.ArrayBuffer.empty[Pass]
    val reads = mutable.ArrayBuffer.empty[Double]
    val lookups = mutable.ArrayBuffer.empty[(String, Set[String])]
    var failed = 0
    def round(i: Int): Unit = {
      val p = pass(i)
      passes += p
      c.log(f"pass $i in ${p.seconds}%.1fs")
      // the warm-up round makes one lookup, enough to warm the path; a
      // timed round makes enough that their median is past the slow
      // first lookup on the pass's new index files
      (0 until (if (i == 0) 1 else LookupsPerRound)).foreach { j =>
        val t = probeText()
        val q0 = System.nanoTime()
        try lookups += ((t, lookup(p, t, s"l$i-$j")))
        catch { case e: Exception =>
          failed += 1
          System.err.println(s"[platbench] lookup failed: $e")
        }
        reads += (System.nanoTime() - q0) / 1e6
        c.log(f"pass $i lookup $j in ${reads.last}%.0f ms")
      }
      c.log(s"pass $i lookups done")
      if (i > 1) Disk.rm(s"${c.dir}/pass${i - 1}")
    }

    round(0)
    passes.clear(); reads.clear(); lookups.clear()
    Disk.rm(s"${c.dir}/pass0")
    val setupS = c.setupSeconds()

    // ---- timed
    Trace.resetPeaks()
    val (gc0, _) = Trace.jvm()
    tr.startTimed()
    (1 to Main.rounds(c.seconds, NominalRoundS)).foreach(round)
    val (gc1, heap) = Trace.jvm()

    // ---- checks (untimed), on every pass and lookup
    val corpusIds = cp.docs.map(_._1).toSet
    val minJ = MinJaccardMilli / 1000.0
    // planted near-dup pairs: same cluster, exact Jaccard at or above
    // the threshold
    val planted = cp.clusters.flatMap(_.sorted.combinations(2).collect {
      case Seq(a, b) if Model.jaccard(shingles(a), shingles(b)) >= minJ => (a, b)
    }).toSet
    /** Non-minimum members of the components of `pairs` (plain-Scala
      * union-find, not the program's components).
      */
    def nonMinimum(pairs: Iterable[(String, String)]): Set[String] = {
      val parent = mutable.HashMap.empty[String, String]
      def find(x: String): String = {
        val p0 = parent.getOrElse(x, x)
        if (p0 == x) x else { val r = find(p0); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      pairs.flatMap(e => Seq(e._1, e._2)).toSet.filter(x => find(x) != x)
    }
    // one survivor per component of the planted pairs; LSH may miss a few
    // pairs (see MinPairRecall), each leaving at most one extra survivor
    val plantedSurvivors = corpusIds.size - nonMinimum(planted).size
    def pairRecall(p: Pass) = p.verified.map { case (a, b) =>
      if (a < b) (a, b) else (b, a) }.toSet.intersect(planted).size.toDouble / planted.size
    passes.foreach { p =>
      val bad = p.verified.filter { case (a, b) =>
        Model.jaccard(shingles(a), shingles(b)) < minJ }
      c.check(bad.isEmpty, s"${bad.size} verified pairs below the Jaccard " +
        s"threshold by exact Jaccard, e.g. ${bad.take(2)}")
      c.check(pairRecall(p) >= MinPairRecall, f"verified pairs hold ${pairRecall(p)}%.4f " +
        f"of the ${planted.size} planted near-dup pairs; want ≥ $MinPairRecall")
      val removed = nonMinimum(p.verified)
      c.check((p.survivors ++ removed) == corpusIds &&
        (p.survivors intersect removed).isEmpty,
        s"survivors (${p.survivors.size}) + removed (${removed.size}) ≠ corpus " +
          s"(${corpusIds.size})")
      c.check(p.survivors.size >= plantedSurvivors &&
        p.survivors.size <= plantedSurvivors * 101 / 100,
        s"${p.survivors.size} survivors for $plantedSurvivors planted " +
          "clusters; want at most 1 % more")
    }
    // each lookup's answer: every corpus doc at or above the threshold
    // against the probe, by exact Jaccard over the whole corpus
    var (found, due) = (0, 0)
    lookups.foreach { case (t, got) =>
      val sh = Model.shingles(t, ShingleN)
      val want = cp.docs.map(_._1).filter(id => Model.jaccard(sh, shingles(id)) >= minJ).toSet
      c.check(got.subsetOf(want), s"lookup returned ${(got -- want).size} ids " +
        "below the Jaccard threshold by exact Jaccard")
      found += (got intersect want).size
      due += want.size
    }
    c.check(found >= MinLookupRecall * due, s"lookups found $found of the $due " +
      s"corpus docs at or above the threshold; want ≥ $MinLookupRecall of them")

    c.log("checked")
    val metrics =
      if (!tr.on) Seq(
        Metric("setup_s", setupS, "s"),
        Metric("batch_s", Stats.median(passes.map(_.seconds).toSeq), "s"),
        Metric("read_p50_ms", Stats.median(reads.toSeq), "ms"),
        Metric("store_mb", passes.last.storeMb, "MB"))
      else {
        tr.flush()
        val n = passes.size
        val cand = passes.map(_.candidates).sum.toDouble
        val ver = passes.map(_.verified.size).sum.toDouble
        PerLayer.metrics(Map(
          "dedup.minhash_s" -> passes.map(_.minhashS).sum / n,
          "dedup.lsh_verify_s" -> passes.map(_.lshS).sum / n,
          "dedup.candidate_pairs" -> cand / n,
          "dedup.verified_pairs" -> ver / n,
          "dedup.pair_precision" -> (if (cand == 0) 0.0 else ver / cand),
          "graph.cc_s" -> passes.map(_.ccS).sum / n,
          "graph.cc_jobs" -> tr.agg(_ == "graph.cc").jobs.toDouble / n,
          "dedup.survivors" -> passes.map(_.survivors.size).sum.toDouble / n,
          "dedup.planted_clusters" -> plantedSurvivors.toDouble,
          "dedup.pair_recall" -> passes.map(pairRecall).sum / n) ++
          PerLayer.runtime(tr, gc1 - gc0, heap))
      }
    Result(c.correct, passes.size * (1 + LookupsPerRound), failed, metrics)
  }
}
