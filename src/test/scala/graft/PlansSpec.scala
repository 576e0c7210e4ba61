package graft

import org.apache.spark.sql.functions._

/** Physical-plan shape assertions: the scale properties (pushdown,
  * pruning, partial aggregation, broadcast choice, top-k) must hold in
  * the plans, not just in intent. These guard against regressions that
  * correctness tests cannot see.
  */
class PlansSpec extends SparkTestBase {
  import spark.implicits._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q01: aggregation is map-side partial (two HashAggregate levels)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("q02: dims broadcast; no cartesian; scans prune to needed columns") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // lineitem scan must not read all 16 columns
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    val lineitemSchema = readSchemas.find(_.contains("l_extendedprice"))
    assert(lineitemSchema.isDefined, p)
    assert(lineitemSchema.get.split(",").length <= 4,
      s"lineitem scan too wide: ${lineitemSchema.get}")
  }

  test("q05: sort+limit plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q05_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("filter on a scanned column reaches the parquet scan as a " +
       "pushed filter") {
    val p = Tables.load(spark, sfDir, "documents")
      .filter($"source" === "src3")
      .select($"doc_id")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(source), EqualTo(source,src3)]")
      || p.contains("EqualTo(source,src3)"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"), p)
  }

  test("keyset CDC scan pushes the ts boundary predicate to the parquet " +
       "scan (row-group pruning per tick — the scale contract of keyset " +
       "pagination)") {
    import graft.cdc.Keyset
    val e = Tables.load(spark, sfDir, "events")
    // A real mid-table cursor (a trivially-true Zero boundary could be
    // legally elided by the optimizer and prove nothing).
    val mid = e.agg(expr("max(unix_micros(ts))")).head.getLong(0) - 1000000L
    // (a) idCol is a plain scan attribute → the whole Or is pushable
    val (batch, _) = Keyset.nextBatch(
      e.withColumn("eid", $"event_id".cast("string")),
      "ts", "eid", Keyset.Cursor(mid, "42"), 50)
    val p = batch.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).mkString(";")
    assert(pushed.contains("GreaterThanOrEqual(ts,"),
      s"ts boundary not pushed to the events scan: [$pushed]\n$p")
    // (b) q149's shape: idCol DERIVED (lpad over event_id) — the Or leg
    // is untranslatable, but the redundant ts>=cursor conjunct must
    // still reach the scan and prune row groups.
    val (batch2, _) = Keyset.nextBatch(
      e.withColumn("did", lpad($"event_id".cast("string"), 12, "0")),
      "ts", "did", Keyset.Cursor(mid, "000000000042"), 50)
    val p2 = batch2.queryExecution.executedPlan.toString
    val pushed2 = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p2).map(_.group(1)).mkString(";")
    assert(pushed2.contains("GreaterThanOrEqual(ts,"),
      s"ts bound not pushed under a derived idCol: [$pushed2]\n$p2")
    // The events scan itself must be cast-free: ts reads natively as
    // TimestampType (Tables.load disables NTZ inference), so no
    // normalize-cast sits between predicates and the scan attribute.
    assert(e.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("ivfPq serving: the stored-index scan is cell-pruned BEFORE " +
       "scoring (pushed cell predicate + partition pruning)") {
    import graft.ops.SimilarityOps
    val centers = Array.tabulate(8)(c =>
      Array.tabulate(64)(i => if (i == c * 8) 8.0 else 0.0))
    val codebooks = Array.tabulate(2)(sp => Array.tabulate(4)(c =>
      Array.tabulate(32)(i => ((sp * 31 + c * 7 + i) % 5 - 2).toDouble)))
    val e = Tables.load(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_index").toString
    // the stored serving layout: (id, cell, codes) partitioned by cell
    SimilarityOps.ivfPqIndex(
        e.select($"vec_id", $"embedding"), "vec_id", "embedding",
        centers, codebooks)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val index = spark.read.parquet(dir)
    val qvec = e.filter($"vec_id" === 0L).select($"embedding")
      .head.getSeq[Float](0).map(_.toDouble).toArray
    val served = SimilarityOps.ivfPqTopK(
      index, "vec_id", e, "vec_id", "embedding",
      qvec, centers, codebooks, nProbe = 2, shortlist = 50, k = 10)
    val p = served.queryExecution.executedPlan.toString
    // partition-pruned scan: only the 2 probed of 8 cell directories read
    assert(p.contains("PartitionFilters") && p.contains("cell"), p)
    val scan = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(p)
    assert(scan.exists(_.contains("cell")), p)
    // and the executed scan must actually skip unprobed partitions
    val probed = SimilarityOps.ivfRoute(qvec, centers, 2).toSet
    val scannedCells = index
      .filter($"cell".isin(probed.toSeq: _*))
      .select($"cell").distinct().as[Int].collect().toSet
    assert(scannedCells.subsetOf(probed))
    // result matches the unpartitioned in-memory index path bit-for-bit
    val inMem = SimilarityOps.ivfPqTopK(
      SimilarityOps.ivfPqIndex(
        e.select($"vec_id", $"embedding"), "vec_id", "embedding",
        centers, codebooks),
      "vec_id", e, "vec_id", "embedding",
      qvec, centers, codebooks, nProbe = 2, shortlist = 50, k = 10)
    assert(served.collect().toSeq === inMem.collect().toSeq)
  }

  test("IVF×PQ STORED probe: the re-rank vector fetch pushes the " +
       "shortlist's id literals into the corpus scan (row-group " +
       "skipping on the sorted layout — VERDICT r12 #6), and the " +
       "served result equals the in-memory face bit-for-bit") {
    import graft.ops.SimilarityOps
    val centers = Array.tabulate(8)(c =>
      Array.tabulate(64)(i => if (i == c * 8) 8.0 else 0.0))
    val codebooks = Array.tabulate(2)(sp => Array.tabulate(4)(c =>
      Array.tabulate(32)(i => ((sp * 31 + c * 7 + i) % 5 - 2).toDouble)))
    val e = Tables.load(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_rerank").toString + "/idx"
    // the sorted serving layout (cells id-sorted within files)
    SimilarityOps.writeIvfPqIndex(
      SimilarityOps.ivfPqIndex(
        e.select($"vec_id", $"embedding"), "vec_id", "embedding",
        centers, codebooks), dir, "vec_id")
    val qvec = e.filter($"vec_id" === 0L).select($"embedding")
      .head.getSeq[Float](0).map(_.toDouble).toArray
    val served = SimilarityOps.ivfPqTopKStored(spark, dir, "vec_id",
      e, "vec_id", "embedding", qvec, centers, codebooks,
      nProbe = 2, shortlist = 50, k = 10)
    val p = served.queryExecution.executedPlan.toString
    // the corpus-side scan must carry the pushed In(vec_id, ...) from
    // the shortlist's literal ids — the point-lookup re-rank fetch
    // (plain contains: a long IN-list is truncated inside the plan
    // string's PushedFilters bracket, so a bracket-matching regex
    // never closes)
    assert(p.contains("PushedFilters: [In(vec_id"),
      s"no pushed id IN-list on the re-rank corpus scan:\n$p")
    // bit-parity with the in-memory face (the join-source referee)
    val inMem = SimilarityOps.ivfPqTopK(
      SimilarityOps.ivfPqIndex(
        e.select($"vec_id", $"embedding"), "vec_id", "embedding",
        centers, codebooks),
      "vec_id", e, "vec_id", "embedding",
      qvec, centers, codebooks, nProbe = 2, shortlist = 50, k = 10)
    assert(served.collect().toSeq === inMem.collect().toSeq)
    // the multi face shares the literal-fetch path — parity there too
    val queries = e.filter($"vec_id" < 3L)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val multiStored = SimilarityOps.ivfPqTopKMultiStored(spark, dir,
        "vec_id", e, "vec_id", "embedding", queries, "qid", "qv",
        centers, codebooks, nProbe = 2, shortlist = 50, k = 10)
      .select($"qid", $"rank", $"vec_id", $"cos_micro")
      .as[(Long, Long, Long, Long)].collect().toSet
    val multiMem = SimilarityOps.ivfPqTopKMulti(
        SimilarityOps.ivfPqIndex(
          e.select($"vec_id", $"embedding"), "vec_id", "embedding",
          centers, codebooks),
        "vec_id", e, "vec_id", "embedding", queries, "qid", "qv",
        centers, codebooks, nProbe = 2, shortlist = 50, k = 10)
      .select($"qid", $"rank", $"vec_id", $"cos_micro")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(multiStored === multiMem)
  }

  test("IVF×PQ index REFRESH: delta append under frozen quantization ≡ " +
       "full rebuild, and serving still prunes to the probed cells") {
    import graft.ops.SimilarityOps
    val centers = Array.tabulate(8)(c =>
      Array.tabulate(64)(i => if (i == c * 8) 8.0 else 0.0))
    val codebooks = Array.tabulate(2)(sp => Array.tabulate(4)(c =>
      Array.tabulate(32)(i => ((sp * 31 + c * 7 + i) % 5 - 2).toDouble)))
    val e = Tables.load(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_refresh").toString
    // day 0: index vec_id < 300; day 1: accept [300, ∞) as the delta
    SimilarityOps.ivfPqIndex(
        e.filter($"vec_id" < 300).select($"vec_id", $"embedding"),
        "vec_id", "embedding", centers, codebooks)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    SimilarityOps.refreshIvfPqIndex(
      dir, e.filter($"vec_id" >= 300).select($"vec_id", $"embedding"),
      "vec_id", "embedding", centers, codebooks)
    val appended = spark.read.parquet(dir)
    // appended ≡ rebuilt row set (codes compared as strings — arrays)
    val rebuilt = SimilarityOps.ivfPqIndex(
      e.select($"vec_id", $"embedding"), "vec_id", "embedding",
      centers, codebooks)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"cell", concat_ws(",", $"codes").as("c"))
      .as[(Long, Int, String)].collect().toSet
    assert(rows(appended) === rows(rebuilt))
    // serving over the appended dir: still partition-pruned, and
    // bit-identical to the in-memory index over corpus∪delta
    val qvec = e.filter($"vec_id" === 0L).select($"embedding")
      .head.getSeq[Float](0).map(_.toDouble).toArray
    val served = SimilarityOps.ivfPqTopK(
      appended, "vec_id", e, "vec_id", "embedding",
      qvec, centers, codebooks, nProbe = 2, shortlist = 50, k = 10)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cell"), p)
    val inMem = SimilarityOps.ivfPqTopK(
      rebuilt, "vec_id", e, "vec_id", "embedding",
      qvec, centers, codebooks, nProbe = 2, shortlist = 50, k = 10)
    assert(served.collect().toSeq === inMem.collect().toSeq)
  }

  test("incremental LSH dedup against the STORED bucketed index: the " +
       "corpus side is never shuffled (bucket-join pruning)") {
    import graft.ops.{BucketingOps, DedupOps, TextOps}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sh = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", TextOps.shingleHashes($"text", 3).as("hashes"))
    val sig = DedupOps.minhashSignatures(sh, "doc_id", "hashes", 16)
      .localCheckpoint()
    BucketingOps.writeBucketed(
      DedupOps.lshBandKeyTable(
        sig.filter($"doc_id" < 400), "doc_id", "sig", bands = 4, rows = 4),
      "graft_plansspec_lsh_idx", Seq("band", "bh"), nBuckets = 4)
    val pairs = DedupOps.lshCandidatePairsIncrementalIndexed(
      spark.table("graft_plansspec_lsh_idx"),
      sig.filter($"doc_id" >= 400), "doc_id", "sig", bands = 4, rows = 4)
    // AQE off so the executed plan is a concrete tree we can walk;
    // broadcasts off so the corpus side can't dodge the assertion by
    // being broadcast at toy scale — at 100 TB it never would be
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = pairs.queryExecution.executedPlan
      // the index is read as a bucketed scan...
      val bucketScans = plan.collect {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }
      assert(bucketScans.nonEmpty, plan.toString)
      // ...and every join input that carries corpus rows reaches its
      // join WITHOUT a shuffle: the bucketed layout satisfies the
      // (band, bh) distribution for the bounding aggregate, the bound
      // join-back, and the delta probe alike. (The final distinct over
      // the emitted PAIRS may shuffle — that stream is |candidates|,
      // not |corpus|.)
      def hasBucketScan(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collectFirst {
          case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
        }.isDefined
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.nonEmpty, plan.toString)
      val corpusSideShuffles = joins.flatMap(_.children)
        .filter(hasBucketScan)
        .flatMap(_.collect { case s: ShuffleExchangeExec => s })
      assert(corpusSideShuffles.isEmpty,
        s"corpus-side shuffle found:\n$plan")
      // and the indexed path emits exactly the recompute path's pairs
      val direct = DedupOps.lshCandidatePairsIncremental(
          sig.filter($"doc_id" < 400), sig.filter($"doc_id" >= 400),
          "doc_id", "sig", bands = 4, rows = 4)
        .as[(Long, Long)].collect().toSet
      val got = pairs.as[(Long, Long)].collect().toSet
      assert(got === direct)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("LSH index REFRESH: appended index ≡ rebuilt index (pair set), " +
       "and the corpus side still never shuffles") {
    import graft.ops.{BucketingOps, DedupOps, TextOps}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sh = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", TextOps.shingleHashes($"text", 3).as("hashes"))
    val sig = DedupOps.minhashSignatures(sh, "doc_id", "hashes", 16)
      .localCheckpoint()
    // day 0: index the sub-300 corpus; day 1: accept [300, 400) and
    // REFRESH the stored index with one |delta| pass (no corpus pass)
    BucketingOps.writeBucketed(
      DedupOps.lshBandKeyTable(
        sig.filter($"doc_id" < 300), "doc_id", "sig", bands = 4, rows = 4),
      "graft_refresh_lsh_idx", Seq("band", "bh"), nBuckets = 4)
    DedupOps.refreshLshIndex(
      "graft_refresh_lsh_idx",
      sig.filter($"doc_id" >= 300 && $"doc_id" < 400),
      "doc_id", "sig", bands = 4, rows = 4, nBuckets = 4)
    // the appended index must hold exactly a from-scratch rebuild's keys
    BucketingOps.writeBucketed(
      DedupOps.lshBandKeyTable(
        sig.filter($"doc_id" < 400), "doc_id", "sig", bands = 4, rows = 4),
      "graft_refresh_lsh_full", Seq("band", "bh"), nBuckets = 4)
    val keysOf = (t: String) => spark.table(t)
      .select($"band", $"bh", $"doc_id")
      .as[(Int, Long, Long)].collect().toSet
    assert(keysOf("graft_refresh_lsh_idx") ===
      keysOf("graft_refresh_lsh_full"))
    // day 2 probe against the appended index: same pairs as the rebuilt
    // index, and the corpus side of every join is still exchange-free
    // (multi-file buckets may re-Sort — a |bucket| cost — but never
    // re-shuffle, the |corpus| cost)
    val probe = sig.filter($"doc_id" >= 400)
    val pairs = DedupOps.lshCandidatePairsIncrementalIndexed(
      spark.table("graft_refresh_lsh_idx"), probe,
      "doc_id", "sig", bands = 4, rows = 4)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = pairs.queryExecution.executedPlan
      def hasBucketScan(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collectFirst {
          case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
        }.isDefined
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.nonEmpty, plan.toString)
      val corpusSideShuffles = joins.flatMap(_.children)
        .filter(hasBucketScan)
        .flatMap(_.collect { case s: ShuffleExchangeExec => s })
      assert(corpusSideShuffles.isEmpty,
        s"corpus-side shuffle found:\n$plan")
      val viaRebuilt = DedupOps.lshCandidatePairsIncrementalIndexed(
          spark.table("graft_refresh_lsh_full"), probe,
          "doc_id", "sig", bands = 4, rows = 4)
        .as[(Long, Long)].collect().toSet
      assert(pairs.as[(Long, Long)].collect().toSet === viaRebuilt)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("LSH index DELETE (right-to-be-forgotten): tombstoned probe ≡ " +
       "rebuild-without-deleted, the corpus side still never shuffles, " +
       "and compaction folds the tombstones into the layout") {
    import graft.ops.{BucketingOps, DedupOps, TextOps}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sh = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", TextOps.shingleHashes($"text", 3).as("hashes"))
    val sig = DedupOps.minhashSignatures(sh, "doc_id", "hashes", 16)
      .localCheckpoint()
    BucketingOps.writeBucketed(
      DedupOps.lshBandKeyTable(
        sig.filter($"doc_id" < 400), "doc_id", "sig", bands = 4, rows = 4),
      "graft_del_lsh_idx", Seq("band", "bh"), nBuckets = 4)
    // forget every doc_id ≡ 0 (mod 7) — ids that DO participate in pairs
    val deleted = sig.filter($"doc_id" < 400 && $"doc_id" % 7 === 0)
      .select($"doc_id")
    DedupOps.removeFromLshIndex(spark, "graft_del_lsh_idx",
      deleted, "doc_id")
    // reference: a from-scratch index over corpus ∖ deleted
    BucketingOps.writeBucketed(
      DedupOps.lshBandKeyTable(
        sig.filter($"doc_id" < 400 && $"doc_id" % 7 =!= 0),
        "doc_id", "sig", bands = 4, rows = 4),
      "graft_del_lsh_ref", Seq("band", "bh"), nBuckets = 4)
    val active = DedupOps.activeLshIndex(spark, "graft_del_lsh_idx",
      "doc_id")
    val keyset = (df: org.apache.spark.sql.DataFrame) => df
      .select($"band", $"bh", $"doc_id")
      .as[(Int, Long, Long)].collect().toSet
    assert(keyset(active) === keyset(spark.table("graft_del_lsh_ref")))
    // probing the tombstoned index = probing the rebuilt one, and the
    // broadcast anti-join adds no corpus-side ShuffleExchange
    val probe = sig.filter($"doc_id" >= 400)
    val pairs = DedupOps.lshCandidatePairsIncrementalIndexed(
      active, probe, "doc_id", "sig", bands = 4, rows = 4)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = pairs.queryExecution.executedPlan
      def hasBucketScan(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collectFirst {
          case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
        }.isDefined
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      // only shuffles whose own subtree carries the bucketed corpus
      // scan count — the tombstone distinct's |deleted|-sized exchange
      // under the broadcast side is not a corpus shuffle
      val corpusSideShuffles = joins.flatMap(_.children)
        .filter(hasBucketScan)
        .flatMap(_.collect {
          case s: ShuffleExchangeExec if hasBucketScan(s) => s
        })
      assert(corpusSideShuffles.isEmpty,
        s"corpus-side shuffle found:\n$plan")
      val viaRef = DedupOps.lshCandidatePairsIncrementalIndexed(
          spark.table("graft_del_lsh_ref"), probe,
          "doc_id", "sig", bands = 4, rows = 4)
        .as[(Long, Long)].collect().toSet
      assert(pairs.as[(Long, Long)].collect().toSet === viaRef)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
    // compaction: layout now equals the reference index, tombstones
    // cleared (activeLshIndex reads the bare table again)
    DedupOps.compactLshIndex(spark, "graft_del_lsh_idx", "doc_id",
      nBuckets = 4)
    assert(keyset(spark.table("graft_del_lsh_idx")) ===
      keyset(spark.table("graft_del_lsh_ref")))
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val tomb = new org.apache.hadoop.fs.Path(
      warehouse + "/graft_del_lsh_idx__tombstones")
    val fs = tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(tomb), "compaction must clear the tombstones")
  }

  test("q03 semi join stays a semi join (no inner-join row explosion)") {
    val p = plan("q03_semi_join")
    assert(p.contains("LeftSemi"), p)
  }

  test("q35 ann top-k: query side broadcast, corpus side streamed") {
    val p = plan("q35_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("global audit: no conformance query plans a CartesianProduct, " +
       "and none scans all columns of a wide table it projects from") {
    val plans = SparkEntry.allQueries.map { q =>
      q.name -> q.build(spark, sfDir).queryExecution.executedPlan.toString
    }
    // BNLJ materializes |A|×|B| rows — only sanctioned where a side is
    // small BY CONSTRUCTION: q35's brute-force baseline broadcasts the
    // 10-query set over the corpus (the operator's definition); q37's
    // probe step crosses the query set with the nList-row centroid
    // table (k×nList rows — the corpus itself joins by cell equi-key).
    // Everything else — notably near-dup pair generation — must reach
    // candidates through equi-joins (LSH buckets, posting lists, cells).
    // q74's cross join broadcasts a ONE-row min/max bounds aggregate to
    // build the date spine — constant-size by construction; q89 reuses
    // the same 1-row bounds pattern for its week cutoff. q88 self-pairs
    // the DISTINCT name dictionary under an inequality — the dictionary
    // is vocabulary-sized regardless of corpus size (the fact table
    // never crosses itself).
    // q98 is q35's shape over int8 codes: the 8-query broadcast side is
    // small by construction, the corpus streams. q96 crosses with a
    // ONE-row corpus-count aggregate (q74's bounds pattern), and q106
    // crosses each PageRank iteration with its ONE-row dangling-mass
    // aggregate (same pattern — in-plan scalar instead of a per-round
    // driver collect). q121 crosses the embeddings scan with its
    // ONE-row query vector (the same in-plan scalar pattern). q124
    // crosses the bigram stream with its ONE-row vocabulary-size
    // aggregate, and q129 crosses the (≤dim-row) bucket-frequency
    // table with its two ONE-row corpus-total aggregates — all three
    // are the q96 scalar pattern.
    // q140 crosses the |quantiles|-row literal target table with the
    // ONE-row count aggregate of the k-row sketch (both constant-size
    // by construction — the rank join itself is an equi-join), and
    // q141 is q106's loop: one ONE-row dangling/seed-mass scalar cross
    // per iteration.
    val bnljSanctioned =
      Set("q35_ann_topk", "q37_ivf_topk", "q74_forward_fill",
        "q88_fuzzy_match", "q89_incremental_rollup", "q96_tfidf_topk",
        "q98_quantized_topk", "q106_pagerank", "q121_hybrid_rrf",
        "q124_bigram_lm", "q129_dsir_score",
        "q135_pq_rerank", // 1-row query-vector crossJoin (q121 pattern)
        "q140_quantile_sketch", "q141_personalized_pagerank",
        // q146 crosses the |groups|-row count table with the literal
        // quantile list — both bounded; the rank join is an equi-join
        "q146_grouped_quantiles",
        // q153 crosses the bigram table with its TWO 1-row total-count
        // aggregates (Nt, Nb — the q96 scalar pattern); the c1/c2
        // attaches are equi-joins on the unigram table
        "q153_pmi_bigrams",
        // q162 crosses each HITS half-round's score table with its
        // ONE-row max aggregate (the q106 in-plan-scalar pattern: L∞
        // normalization without a per-round driver collect)
        "q162_hits",
        // q164 crosses the pair stream with its ONE-row basket-count
        // aggregate, q167 the event scan with its ONE-row max-date
        // aggregate, q170 the pair table with its ONE-row token-total
        // aggregate — all the q96 scalar pattern
        "q164_item_lift", "q167_time_decay", "q170_skipgram_assoc",
        // q171 crosses the scan with its ONE-row sorted-boundary array
        // (range-partition planning — the q96 scalar pattern); q172
        // crosses two ONE-row aggregates (estimate × exact count)
        "q171_equidepth_buckets", "q172_join_cardinality",
        // q179/q192 cross the distinct-score histogram with its ONE-row
        // class-totals aggregate (and q179 a second 1-row AUC scalar);
        // q193 crosses the |A|×|B|-cell contingency table with its
        // ONE-row total/dof/V² aggregate — all the q96 scalar pattern
        "q179_roc_auc", "q192_pr_curve", "q193_chi_square",
        // q178 crosses the dim-row bucket-frequency tables with their
        // TWO ONE-row corpus-total aggregates (q129's exact shape)
        "q178_kl_divergence",
        // q198 crosses the ≤9-row digit table with its ONE-row total
        // and the result with its ONE-row Benford-stat aggregate
        "q198_benford",
        // q201 crosses pairs of ONE-row audit counts per relation;
        // q202 crosses the bucket table with its ONE-row id-domain
        // bounds; q203's spine is a broadcast cross of two DOMAIN-
        // sized dims (types × days) — never a corpus product
        "q201_ref_integrity", "q202_id_gaps", "q203_zero_fill",
        // q208 crosses the |types|×7 cell table with its ONE-row
        // mi-total aggregate (q96 scalar pattern)
        "q208_mutual_info",
        // q219 is q178's exact cross shape (two 1-row totals + the
        // 1-row PSI scalar); q221 crosses orders with its ONE-row
        // max-date aggregate (q167 pattern)
        "q219_psi", "q221_rfm",
        // q213 is q193's chi-square machinery (1-row total cross)
        "q213_ab_test",
        // q223 broadcasts the 512-row weight TABLE (model-as-table,
        // constant size); q224 crosses the value histogram with its
        // ONE-row max-D aggregate (q96 scalar pattern)
        "q223_matmul", "q224_ks_test",
        // q225's label-inequality join broadcasts the 64-row candidate
        // pool — bounded by construction (the q35 sanction argument)
        "q225_hard_negatives",
        // q228 crosses the group histogram with the ONE-row pooled-N
        // aggregate (q96 scalar pattern)
        "q228_quantile_matching",
        // q233's spine is a broadcast cross of two DOMAIN-sized dims
        // (langs × distinct values — q203's sanction argument)
        "q233_grouped_ks",
        // q235 crosses the score histogram with its ONE-row max-profit
        // aggregate; q238 crosses the per-source table with the
        // ONE-row MRR aggregate (q96 scalar pattern)
        "q235_threshold_opt", "q238_mrr",
        // q240 crosses the revenue scan with its ONE-row Gini
        // aggregates and the result with the ONE-row HHI aggregate
        "q240_concentration",
        // q217 crosses the multiplicity histogram with its ONE-row
        // total-count aggregate (q96 scalar pattern — replaced the
        // global OVER () window when the CDF moved to prefixSums)
        "q217_skew_profile",
        // q249 crosses the ≤20-row candidate shortlist with the 1-row
        // query vector and, per MMR round, with the 1-row pick (q121
        // pattern; rounds are k=5 by construction)
        "q249_mmr_rerank",
        // q252 crosses the |classes|-row spine with its ONE-row
        // √-count total (q96 scalar pattern)
        "q252_temperature_mix",
        // q257 crosses its two ONE-row report aggregates (cluster
        // stats × doc count — q201's audit-counts pattern)
        "q257_dedup_report",
        // q262 crosses the score histogram with its ONE-row total
        // (the q240/q217 prefix-fold scalar pattern)
        "q262_ccnet_buckets",
        // q263 is q35's brute-force shape three times over (10-query
        // broadcast side, corpus streams)
        "q263_matryoshka_eval",
        // q266 composes q37's IVF probe (1-row query cross + centroid
        // cross) with q249's per-round 1-row MMR picks
        "q266_retrieval_pipeline",
        // q268 crosses the test-doc stream with the |classes|-row
        // broadcast model-stats table (model-as-table, the q223
        // argument) and nbTrain's class stats with two ONE-row
        // aggregates (vocab size, train count — q96 scalar pattern)
        "q268_nb_confusion",
        // q269's semantic ranker is q35's brute-force shape (5-query
        // broadcast side, corpus streams)
        "q269_rrf_fusion",
        // q270 streams the corpus past the |clusters|-row broadcast
        // centroid-array table (model-as-table, q223's argument)
        "q270_silhouette",
        // q271 is q35's sanction argument: the 20-row anchor set
        // broadcasts, the corpus streams
        "q271_hard_negatives",
        // q272 crosses the |states|-row state table with its ONE-row
        // count aggregate (q96 scalar pattern); each power-iteration
        // round is an equi-join on the from-state
        "q272_markov_stationary",
        // q273 crosses the ≤nBins-row bin table with its ONE-row
        // Brier and ECE aggregates (q179's scalar-attach pattern)
        "q273_calibration",
        // q274 crosses the dim²-bounded pair-sum table with its
        // ONE-row corpus-count aggregate (q96 scalar pattern); the
        // component-sum attaches are equi-joins on j/k
        "q274_embedding_covariance",
        // q275 crosses the |communities|-row rollup with its ONE-row
        // edge-count and ONE-row Q aggregates (q96 scalar pattern);
        // the LPA rounds and intra-edge counts are equi-joins
        "q275_modularity",
        // q276 is q268's exact plan shape over merged count shards;
        // q277 crosses the vocabulary-sized count table with its
        // ONE-row vocab-size and corpus-total aggregates (q96 scalar
        // pattern)
        "q276_nb_incremental", "q277_nb_top_tokens",
        // q278 broadcasts the smaller language slice over the other
        // (the q35 brute-force conformance argument; ANN shortlist is
        // the scale path, mutual/margin logic unchanged)
        "q278_bitext_mining",
        // q285 crosses the catalog-sized part-revenue table with its
        // ONE-row revenue total (q96 scalar pattern)
        "q285_abc_classification",
        // q288's shortlist builder is q35's brute-force shape (5-query
        // broadcast side, corpus streams); the MMR folds themselves run
        // inside MapGroups with zero joins
        "q288_mmr_serve_grouped",
        // q289 broadcasts the 5-row query-LUT table over the coded
        // corpus (model-as-table, q223's argument) and the 5-row query
        // set over the ≤250-row re-rank shortlist
        "q289_pq_serve_batch",
        // q292's router crosses the 5-row query set with the broadcast
        // 8-row centroid table (model-as-table: |queries|×nList rows,
        // both sides driver-bounded); ADC join and re-rank fetch are
        // equi-joins on cell/id
        "q292_ivfpq_serve_batch")
    // collect ALL offenders before failing — a one-at-a-time assert
    // hides the second offender behind the first across long re-runs
    val offenses = scala.collection.mutable.ListBuffer.empty[String]
    for ((name, p) <- plans) {
      if (p.contains("CartesianProduct"))
        offenses += s"$name plans a CartesianProduct"
      if (!bnljSanctioned(name) && p.contains("BroadcastNestedLoopJoin"))
        offenses += s"$name plans an unsanctioned BroadcastNestedLoopJoin"
      // wide-table pruning: any lineitem (16 cols) scan must project < 10
      "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
        .map(_.group(1)).filter(_.contains("l_extendedprice")).foreach { rs =>
          if (rs.split(",").length >= 10)
            offenses += s"$name reads too much of lineitem: $rs"
        }
    }
    assert(offenses.isEmpty, offenses.mkString("\n"))
  }

  test("partitioned layout: a lang filter over writePartitioned output " +
       "prunes directories at planning time, not with a row filter") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_part_spec").toString
    graft.ops.LayoutOps.writePartitioned(
      Tables.load(spark, sfDir, "documents"), path, "lang")
    val p = spark.read.parquet(path)
      .filter(col("lang") === "en")
      .groupBy(col("source")).count()
      .queryExecution.executedPlan.toString
    // the lang predicate must land in PartitionFilters (directory
    // pruning — zero I/O for other langs), not in PushedFilters /
    // post-scan Filter (which would still enumerate every file)
    assert(p.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(p).isDefined, p)
    assert(!"Filter [^\n]*lang".r.findFirstIn(p).isDefined, p)
  }

  test("runtime bloom filter: a selective dim predicate injects a bloom " +
       "probe into the fact scan side of a shuffle join") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      // force a shuffle join and drop the size gates so the rewrite
      // fires at test scale; at 100 TB the defaults (10 MB creation /
      // 10 GB application side) gate it to genuinely selective dims
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter" +
        ".applicationSideScanSizeThreshold", "0")
      val li = Tables.load(spark, sfDir, "lineitem")
        .select(col("l_suppkey"), col("l_quantity"))
      val supp = Tables.load(spark, sfDir, "supplier")
        .filter(col("s_nationkey") === 3) // selective creation side
        .select(col("s_suppkey"))
      val p = li.join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_suppkey")).count()
        .queryExecution.optimizedPlan.toString
      assert(p.toLowerCase.contains("bloomfilter"),
        s"no runtime bloom filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("native expressions keep their stages in whole-stage codegen") {
    val p = Tables.load(spark, sfDir, "documents")
      .select(graft.ops.TextOps.fingerprint($"text").as("fp"))
      .queryExecution.executedPlan.toString
    // '*(n)' marks WholeStageCodegen; the graft_polyhash projection must
    // carry it (the HOF formulation loses it — PolyHashSpec)
    assert(p.contains("*(1) Project [graft_polyhash"), p)
  }

  test("grouped MMR serving shape: the whole multi-query rerank is ONE " +
       "Spark job (zero per-query driver actions), one exchange, a " +
       "MapGroups fold — vs k jobs PER QUERY for the sequential form") {
    import graft.ops.SimilarityOps
    val rows = for { q <- 1L to 5L; c <- 0 until 15 } yield
      (q, 100L * q + c, Array.tabulate(8)(i =>
        (((q * 97 + c) * 31 + i * 17) % 13 - 6).toFloat / 3f),
        500000L + (c * 7919L) % 300000L)
    val cand = rows.toDF("qid", "id", "emb", "rel")
      .localCheckpoint() // pin inputs: count only the rerank's own jobs
    val out = SimilarityOps.mmrTopKGrouped(
      cand, "qid", "id", "emb", "rel", k = 5, lambdaPpm = 700000L)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("MapGroups"), p)
    assert("Exchange".r.findAllIn(p).size === 1,
      s"expected exactly one exchange (the groupByKey shuffle):\n$p")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(out.collect().length === 25)
      // onJobStart fires before a job's first task; by the time the
      // action returned, every start event for its jobs was posted —
      // the short sleep only covers listener-bus delivery
      Thread.sleep(200)
      // 5 queries × k=5 through the driver-sequenced form would be
      // ≥25 jobs; the grouped form is one (AQE may add a stage probe)
      assert(jobs.get() <= 3, s"grouped MMR ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("posting-pruned search serving shape: a selective query reads " +
       "posting buckets and candidate doc-buckets (PartitionFilters on " +
       "both scans), joined semi — NOT a full corpus scan per query") {
    import graft.movies.PostingIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pidx_plan").toString
    // 100 docs; the probe term appears in exactly ONE document, so the
    // pruned plan must touch one posting bucket and one doc bucket
    val corpus = (1 to 100).map(i =>
      (f"doc_$i%03d", s"filler common words row $i" +
        (if (i == 37) " needleterm" else ""))).toDF("id", "text")
    val idx = PostingIndex.buildTokenized(corpus, dir,
      tokens = Map("text" -> split(col("text"), "\\s+")),
      weights = Map("text" -> 1), idCol = "id",
      nTermBuckets = 8, nDocBuckets = 8)
    val out = idx.scoreTerms(Seq("needleterm"))
    assert(out.select("id").as[String].collect().toSeq === Seq("doc_037"))
    val p = out.queryExecution.executedPlan.toString
    // both stored scans carry partition filters (directory pruning)
    val dbF = "PartitionFilters: \\[[^\\]]*__db[^\\]]*\\]".r.findFirstIn(p)
    val tbF = "PartitionFilters: \\[[^\\]]*__tb[^\\]]*\\]".r.findFirstIn(p)
    assert(dbF.isDefined && tbF.isDefined, p)
    // ...and prune to exactly the one candidate's bucket / the one
    // term's bucket (single-value filters: rendered `= b` or `IN (b)`)
    val Seq(db, tb) = Seq("doc_037" -> 8, "needleterm" -> 8).map {
      case (v, n) => Seq(v).toDF("v")
        .select(pmod(xxhash64(col("v")), lit(n)).cast("int"))
        .head().getInt(0)
    }
    assert(dbF.get.contains(s"= $db)") || dbF.get.contains(s"IN ($db)"),
      s"docs scan not pruned to bucket $db: ${dbF.get}")
    assert(tbF.get.contains(s"= $tb)") || tbF.get.contains(s"IN ($tb)"),
      s"postings scan not pruned to bucket $tb: ${tbF.get}")
    // candidates arrive via a semi join, not a second full pass
    assert(p.contains("LeftSemi"), p)
  }

  test("maintained posting-search serving shape: with live delta " +
       "segments, the BASE scans keep their partition filters (docs " +
       "pruned by candidate id-buckets, postings by term buckets) and " +
       "superseded versions drop via a broadcast anti-join — an " +
       "update never degrades serving to a corpus scan") {
    import scala.jdk.CollectionConverters._
    import graft.movies.PostingIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pidx_maint_plan").toString
    val corpus = (1 to 100).map(i =>
      (f"doc_$i%03d", s"filler common words row $i" +
        (if (i == 37) " needleterm" else ""))).toDF("id", "text")
    val tokens = Map("text" -> split(col("text"), "\\s+"))
    val idx = PostingIndex.buildTokenized(corpus, dir,
      tokens = tokens, weights = Map("text" -> 1), idCol = "id",
      nTermBuckets = 8, nDocBuckets = 8)
      .upsert(Seq(("doc_037", "now a plain row"),
        ("doc_101", "fresh needleterm row")).toDF("id", "text"), tokens)
    // Since r17 the maintained serve PINS its folded candidate set
    // once (one evaluation instead of one per downstream action), so
    // the pruned base scans and the superseded-version anti-join live
    // in the PIN's executed plan — the served frame reads the pinned
    // RDD. Capture every executed plan of the serve (the pin is a
    // checkpoint action, which runs through withAction and therefore
    // reaches QueryExecutionListener) and assert the shape there.
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { captured.add(qe.executedPlan.toString); () }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = idx.scoreTerms(Seq("needleterm"))
      // the old doc_037 version is superseded; the upserted doc_101 hits
      assert(out.select("id").as[String].collect().toSeq === Seq("doc_101"))
      // the served plan reads the pinned candidates — NO file scan of
      // the corpus remains downstream of the pin
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("FileScan"), p)
      // listener delivery is async: flush the bus once, then look for
      // the pin plan carrying the pruned scans + the touched-id
      // broadcast anti-join
      org.apache.spark.GraftListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      def anyCaptured(re: scala.util.matching.Regex): Boolean =
        captured.asScala.exists(s => re.findFirstIn(s).isDefined)
      def dump() = captured.asScala.mkString("\n--- captured plan ---\n")
      assert(anyCaptured("PartitionFilters: \\[[^\\]]*__db".r), dump())
      assert(anyCaptured("PartitionFilters: \\[[^\\]]*__tb".r), dump())
      assert(anyCaptured(
        "(?s)BroadcastHashJoin[^\\n]*LeftAnti".r), dump())
    } finally spark.listenerManager.unregister(listener)
  }

  test("posting-search job budget: PostingIndex.search(Some(q)) runs " +
       "≤ 5 Spark jobs on a fresh empty-log handle, ≤ 10 for the first " +
       "query on a fresh maintained handle (which pins its delta fold) " +
       "and ≤ 6 for a warm query on it") {
    import graft.movies.PostingIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pidx_budget").toString
    val corpus = (1 to 100).map(i =>
      (f"doc_$i%03d", s"filler common words row $i" +
        (if (i % 10 == 0) " needle" else ""))).toDF("id", "title")
    val built = PostingIndex.build(corpus, dir,
      weights = Map("title" -> 1), nTermBuckets = 8, nDocBuckets = 8)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // jobs of one served page, the listener bus flushed on both sides
    def jobsOf(idx: PostingIndex, q: String): Int = {
      org.apache.spark.GraftListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      jobs.set(0)
      assert(idx.search(Some(q), limit = 5).collect().nonEmpty, q)
      org.apache.spark.GraftListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val empty = jobsOf(built, "needle")
      val maintained = built
        .upsert(Seq(("doc_010", "now plain"), ("doc_101", "fresh needle row"))
          .toDF("id", "title"))
        .delete(Seq("doc_020").toDF("id"))
      val first = jobsOf(maintained, "needle")
      val warm = jobsOf(maintained, "needle row")
      assert(empty <= 5, s"empty-log search ran $empty jobs")
      assert(first <= 10, s"first maintained search ran $first jobs")
      assert(warm <= 6, s"warm maintained search ran $warm jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pruned deep-pagination page shape: PostingIndex.searchAfter " +
       "browse pages plan as filter + TakeOrderedAndProject over the " +
       "current view — never a global Sort") {
    import graft.movies.{PostingIndex, Search}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pidx_sa_plan").toString
    val corpus = (1 to 50).map(i =>
      (f"doc_$i%03d", s"row $i words", 10.0 - i * 0.1))
      .toDF("id", "title", "imdb_rating")
    val idx = PostingIndex.buildTokenized(corpus, dir,
      tokens = Map("title" -> split(col("title"), "\\s+")),
      weights = Map("title" -> 1), idCol = "id",
      nTermBuckets = 4, nDocBuckets = 4)
    val page = idx.searchAfter(None, "imdb_rating", asc = false,
      limit = 2, after = Some(Search.SearchAfter(0.0, Some(8.6), "doc_014")))
    assert(page.collect().map(_.getString(0)).toSeq ===
      Seq("doc_015", "doc_016"))
    val p = page.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("batched posting-search serving shape: the whole query batch " +
       "rides bucket-pruned posting/doc scans (PartitionFilters on " +
       "__tb and __db) with a constant job count — not a corpus scan " +
       "or a routing job per query") {
    import graft.movies.PostingIndex
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pidx_multi_plan").toString
    val corpus = (1 to 200).map(i =>
      (f"doc_$i%03d", s"common words row $i" +
        (if (i % 7 == 0) " sevenish" else "") +
        (if (i % 11 == 0) " elevenish" else ""))).toDF("id", "text")
    val idx = PostingIndex.buildTokenized(corpus, dir,
      tokens = Map("text" -> split(col("text"), "\\s+")),
      weights = Map("text" -> 1), idCol = "id",
      nTermBuckets = 8, nDocBuckets = 8)
    val queries = Seq(1L -> Seq("sevenish"), 2L -> Seq("elevenish"),
      3L -> Seq("sevenish", "elevenish"), 4L -> Seq("absentterm"))
      .toDF("qid", "terms").localCheckpoint()
    val out = idx.scoreTermsMulti(queries, "qid", "terms")
    val p = out.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*__tb".r.findFirstIn(p).isDefined, p)
    assert("PartitionFilters: \\[[^\\]]*__db".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("CartesianProduct"), p)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val rows =
      try { val r = out.collect(); Thread.sleep(200); r }
      finally spark.sparkContext.removeSparkListener(listener)
    // 28 sevenish docs (q1), 18 elevenish (q2); q3 matches the union
    // (docs 77/154 carry both terms → 44 distinct); absent term → 0
    assert(rows.count(_.getLong(0) == 1L) === 28)
    assert(rows.count(_.getLong(0) == 2L) === 18)
    assert(rows.count(_.getLong(0) == 3L) === 44)
    assert(!rows.exists(_.getLong(0) == 4L))
    // job count is a constant of the plan, not of |queries| — the
    // single face costs ≥ 3 driver actions per query
    assert(jobs.get() <= 10, s"batched posting search ran ${jobs.get()} jobs")
  }

  test("batched IVF×PQ serving shape: the probe join partition-prunes " +
       "the cell-partitioned stored index (no full index scan for a " +
       "multi-query batch), zero per-query jobs, stored ≡ in-memory") {
    import graft.ops.SimilarityOps
    val centers = Array.tabulate(8)(c =>
      Array.tabulate(64)(i => if (i == c * 8) 8.0 else 0.0))
    val codebooks = Array.tabulate(2)(sp => Array.tabulate(4)(c =>
      Array.tabulate(32)(i => ((sp * 31 + c * 7 + i) % 5 - 2).toDouble)))
    val e = Tables.load(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("ivfpq_multi_index").toString
    SimilarityOps.ivfPqIndex(
        e.select($"vec_id", $"embedding"), "vec_id", "embedding",
        centers, codebooks)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    // 3 queries × nProbe 2 probe ≤ 6 of the 8 cells — pruning must
    // show even when the batch's routes collectively spread out
    val queries = e.filter($"vec_id" < 3L)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
      .localCheckpoint() // pin inputs: count only the serving jobs
    val served = SimilarityOps.ivfPqTopKMultiStored(
      spark, dir, "vec_id", e, "vec_id", "embedding",
      queries, "query_id", "qvec", centers, codebooks,
      nProbe = 2, shortlist = 50, k = 10)
    val p = served.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r.findFirstIn(p)
    assert(pf.isDefined, p)
    // the filter's literal cell set == the union of the queries'
    // routes (driver ivfRoute as the referee of the in-plan routing),
    // a strict subset of the 8 partitions
    val expected = queries.select($"qvec").as[Seq[Float]].collect()
      .flatMap(q =>
        SimilarityOps.ivfRoute(q.map(_.toDouble).toArray, centers, 2))
      .toSet
    val inSet = "IN \\(([-0-9, ]+)\\)".r.findFirstMatchIn(pf.get)
      .map(_.group(1).split(",").map(_.trim.toInt).toSet)
      .orElse("= ([0-9]+)\\)".r.findFirstMatchIn(pf.get)
        .map(m => Set(m.group(1).toInt)))
    assert(inSet.isDefined, pf.get)
    assert(inSet.get === expected, s"pruned to ${inSet.get}, routes say $expected")
    assert(inSet.get.size < 8, "no partition actually pruned")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val rows =
      try { val r = served.collect(); Thread.sleep(200); r }
      finally spark.sparkContext.removeSparkListener(listener)
    assert(rows.length === 30)
    // job count is a constant of the plan (windows, joins, AQE stage
    // materializations), NOT a function of |queries| — per-query
    // serving would pay ≥ 3 jobs per query for routes + LUTs alone
    assert(jobs.get() <= 10, s"batched IVF×PQ ran ${jobs.get()} jobs")
    // ...and the stored pruned path is row-identical to the in-memory
    // multi face (which TextDedupSimSpec referees against N single runs)
    val inMem = SimilarityOps.ivfPqTopKMulti(
      SimilarityOps.ivfPqIndex(
        e.select($"vec_id", $"embedding"), "vec_id", "embedding",
        centers, codebooks),
      "vec_id", e, "vec_id", "embedding",
      queries, "query_id", "qvec", centers, codebooks,
      nProbe = 2, shortlist = 50, k = 10)
      .orderBy($"query_id", $"rank").collect().toSeq
    assert(served.orderBy($"query_id", $"rank").collect().toSeq === inMem)
  }

  test("batched PQ serving shape: per-query LUTs ride a broadcast (no " +
       "per-query collect), the coded corpus scans once, and the " +
       "per-query top-k is one window shuffle") {
    import graft.ops.SimilarityOps
    val codebooks = Array.tabulate(2)(sp => Array.tabulate(4)(c =>
      Array.tabulate(32)(i => ((sp * 31 + c * 7 + i) % 5 - 2).toDouble)))
    val e = Tables.load(spark, sfDir, "embeddings")
    val codes = e.select($"vec_id",
      SimilarityOps.pqEncode($"embedding", codebooks).as("codes"))
    val queries = e.filter($"vec_id" < 5L)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val p = SimilarityOps.pqAdcTopKMulti(codes, "vec_id", "codes",
        queries, "query_id", "qvec", codebooks, k = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly one Window operator (WindowGroupLimit pre-filters are
    // the efficient per-group top-k, not extra windows)
    assert("""Window \[""".r.findAllIn(p).size === 1, p)
    // the coded corpus is scanned exactly once for ALL queries: one
    // embeddings scan on the codes side + one on the broadcast query
    // side = 2 total
    assert("Scan parquet".r.findAllIn(p).size === 2, p)
  }
}
