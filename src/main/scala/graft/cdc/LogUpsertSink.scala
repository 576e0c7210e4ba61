package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Log-structured [[DocSink]], the file-backed doc store: O(|batch|)
  * per tick, ALWAYS — the idempotent upsert-by-id contract (reference
  * semantics: postgres_to_es/daemon.py:358-381), but a write never
  * reads or rewrites the store.
  *
  * Why: a bucketed-rewrite store pays O(affected buckets) per tick,
  * which the round-9 StreamBench readout showed degenerates to
  * O(store) once a uniform-key batch touches every bucket (388 ev/s at
  * batch 1000). This sink appends each batch as an immutable log
  * segment and defers the merge to the READ (log-compaction view) and
  * to an explicit [[compact]]:
  *
  *   dir/log/seg-<n>-u/   one upsert batch (+ constant __seq, __op)
  *   dir/log/seg-<n>-d/   one delete batch: distinct ids (+ meta)
  *   dir/base-<thru>/     compacted snapshot, id-bucketed parquet,
  *                        folding every segment with seq ≤ thru
  *
  * Commit protocol: a segment or base dir is LIVE iff Spark's own
  * `_SUCCESS` marker exists — a crash mid-write leaves a markerless
  * dir that every reader ignores and the next write sweeps, so no
  * pointer file and no rename dance is needed; the newest marked
  * `base-<thru>` wins, and stale segments (seq ≤ thru, the crash
  * window between base write and sweep) are excluded by a residual
  * `__seq > thru` filter (a constant column per file — parquet
  * row-group stats skip the whole segment).
  *
  * read() = Snapshot.latestPerKey over base ∪ live segments on
  * (__seq) — the newest version of each id wins, tombstones drop.
  * Replaying a batch suffix appends duplicate segments with HIGHER
  * seqs carrying the same values: read() is unchanged (the T2
  * effectively-once contract holds on content, while the log keeps
  * the full version history until compaction).
  *
  * Scale: upsert/delete = one |batch|-sized write job, zero store
  * reads — per-tick cost is flat in store size (StreamBench row).
  * read() costs O(base + log) with one key shuffle; schedule
  * [[compact]] to bound the log (cost: one base+log pass, amortized
  * across the ticks between compactions). Single writer, like the
  * index sinks; readers materialize before the next compact.
  * Pass a [[WriterLease]] to make the single-writer contract
  * PREVENTIVE (a superseded writer aborts before paying any op work)
  * on top of the detective stale-handle tripwire (VERDICT r13 #5).
  */
final class LogUpsertSink(
    spark: SparkSession, dir: String, val idCol: String,
    nBuckets: Int = 64,
    retry: Option[graft.sources.JdbcIO.RetryPolicy] = None,
    lease: Option[WriterLease] = None)
    extends DocSink {

  private val SeqCol = "__seq"
  private val OpCol = "__op"

  private def withSinkRetry[T](f: => T): T =
    retry.fold(f)(p => graft.sources.JdbcIO.withRetry(p)(f))

  private def fs = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logPath = new Path(dir, "log")

  private def isLive(p: Path): Boolean =
    fs.exists(new Path(p, "_SUCCESS"))

  private case class Seg(seq: Long, op: String, path: Path)

  /** Live log segments, ascending by seq; sweeps crash debris when
    * `sweep` (writers sweep, readers must not mutate). Debris is a
    * segment dir that is MARKERLESS (death mid-write) or marked but
    * DATALESS (an empty batch's marker landed but the crash hit before
    * [[writeSegment]]'s cleanup — a dataless dir has no readable
    * schema, so it must never count as live). An empty batch whose
    * write left a zero-row part file and then crashed before that
    * cleanup stays live: it folds to nothing, and the next [[compact]]
    * folds it away.
    */
  private def segments(sweep: Boolean = false): Seq[Seg] =
    if (!fs.exists(logPath)) Seq.empty
    else fs.listStatus(logPath).map(_.getPath).flatMap { p =>
      p.getName match {
        case s if s.startsWith("seg-") =>
          val live = isLive(p) && fs.listStatus(p)
            .exists(_.getPath.getName.startsWith("part-"))
          if (!live && sweep) { fs.delete(p, true); None }
          else if (!live) None
          else {
            val Array(n, op) = s.stripPrefix("seg-").split("-", 2)
            Some(Seg(n.toLong, op, p))
          }
        case _ => None
      }
    }.sortBy(_.seq).toSeq

  /** A base dir counts only when committed AND non-empty — a crashed
    * empty-compact attempt leaves a marker with no bucket dirs, which
    * must stay invisible (no readable schema inside).
    */
  private def baseHasData(p: Path): Boolean =
    isLive(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith("bucket="))

  /** Newest live compacted base, if any: (thru seq, path). */
  private def currentBase(): Option[(Long, Path)] =
    if (!fs.exists(new Path(dir))) None
    else fs.listStatus(new Path(dir)).map(_.getPath).collect {
      case p if p.getName.startsWith("base-") && baseHasData(p) =>
        (p.getName.stripPrefix("base-").toLong, p)
    }.sortBy(_._1).lastOption

  private def nextSeq(): Long = {
    val segMax =
      if (!fs.exists(logPath)) -1L
      else fs.listStatus(logPath).map(_.getPath.getName).collect {
        case s if s.startsWith("seg-") =>
          s.stripPrefix("seg-").split("-", 2)(0).toLong
      }.foldLeft(-1L)(math.max)
    math.max(segMax, currentBase().map(_._1).getOrElse(-1L)) + 1L
  }

  /** The store's highest PUBLISHED seq (live segments + base) — the
    * split-brain token. Deliberately counts only live state: a torn
    * own-write (markerless/dataless debris) must not trip the retry
    * path, and debris sweeps must not move the token.
    */
  private def storeVersion(): Long =
    math.max(segments().map(_.seq).foldLeft(-1L)(math.max),
      currentBase().map(_._1).getOrElse(-1L))

  // ---- writer-side split-brain tripwire (the PostingIndex
  // requireCurrent contract, VERDICT r11 #5): remember the store's
  // published version as of this handle's construction / last own
  // write; a mutating op on a handle whose store was advanced by
  // ANOTHER writer's publish would supersede or sweep that writer's
  // segments — refuse loudly instead. Reads never check (readers can
  // lag); re-opening the sink snapshots the current version.
  private var expectedVersion: Long = storeVersion()

  private def requireCurrent(): Unit = {
    // PREVENTIVE layer first (VERDICT r13 #5, when a lease is wired):
    // a superseded writer aborts on the advisory lease BEFORE paying
    // any op work; the seq check below stays the detective backstop
    // for the acquire window the lease cannot close
    lease.foreach(_.requireHeld())
    val now = storeVersion()
    // trip ONLY on an ADVANCE (a publish this handle never saw — a
    // newer writer). A REGRESSION is this handle's own torn write or
    // a simulated crash (the store never moves backwards under the
    // single-writer contract) — a legitimate retry, never a trip.
    require(now <= expectedVersion,
      s"stale sink handle at $dir: store is at published seq $now but " +
        s"this handle last saw $expectedVersion — a newer writer " +
        "advanced the store (single-writer contract); re-open the " +
        "sink to resume")
  }

  /** Returns whether the segment actually landed (false = empty
    * batch, dropped).
    */
  private def writeSegment(df: DataFrame, seq: Long, op: String): Boolean = {
    val p = new Path(logPath, s"seg-$seq-$op")
    df.withColumn(SeqCol, lit(seq)).withColumn(OpCol, lit(op))
      .write.parquet(p.toString)
    // an EMPTY batch leaves no part file or (Spark 4) one zero-row part
    // file that keeps the schema — either way drop the dir (empty batch
    // == no-op), or an empty upsert on an absent store would read back
    // as Some(empty). A non-empty write never leaves only a zero-row
    // file, so just a lone part file needs its footer's row count: a
    // driver-side read, not a second evaluation of the plan
    val parts = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    if (parts.isEmpty || (parts.length == 1 && rowCount(parts.head) == 0L))
      { fs.delete(p, true); false }
    else true
  }

  private def rowCount(part: Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        part, spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  }

  /** Upsert `docs` (unique by idCol — enforce upstream): ONE write job,
    * no store read, per-tick cost O(|batch|) regardless of store size.
    */
  def upsert(docs: DataFrame): Unit = withSinkRetry {
    require(!docs.columns.contains(SeqCol) && !docs.columns.contains(OpCol)
        && !docs.columns.contains("bucket"),
      s"$SeqCol/$OpCol/bucket are reserved sink columns — compact() " +
        "partitions the base on 'bucket', which would silently clobber " +
        "a doc column of that name")
    requireCurrent()
    segments(sweep = true) // clear crashed attempts before appending
    val seq = nextSeq()
    // the token advances to THIS handle's OWN publish, never by
    // re-reading disk — re-snapshotting at op end would silently adopt
    // a concurrent foreign writer's publish and disarm the tripwire
    if (writeSegment(docs, seq, "u")) expectedVersion = seq
  }

  /** Tombstone-append delete: absent ids ignored (they tombstone
    * nothing at read), idempotent, O(|batch|). No-op on an absent
    * store.
    */
  def delete(ids: DataFrame): Unit = withSinkRetry {
    requireCurrent()
    val exists = currentBase().nonEmpty || segments(sweep = true).exists(_.op == "u")
    if (exists) {
      val seq = nextSeq()
      // own-publish token advance (see upsert)
      if (writeSegment(ids.select(col(idCol)).distinct(), seq, "d"))
        expectedVersion = seq
    }
  }

  /** The current snapshot with meta columns still attached, plus the
    * highest folded-or-live seq and the doc column order — shared by
    * [[read]] and [[compact]].
    */
  private def snapshotWithMeta(): Option[(DataFrame, Long, Seq[String])] = {
    val base = currentBase()
    val segs = segments().filter(s => s.seq > base.fold(-1L)(_._1))
    if (base.isEmpty && !segs.exists(_.op == "u")) return None
    val thru = base.fold(-1L)(_._1)
    val baseDf = base.map { case (t, p) =>
      spark.read.parquet(p.toString).drop("bucket")
        .withColumn(SeqCol, lit(t)).withColumn(OpCol, lit("u"))
    }
    val schemaSrc = baseDf.getOrElse(
      spark.read.parquet(segs.filter(_.op == "u").head.path.toString))
    val docCols = schemaSrc
      .columns.toSeq.filterNot(c => c == SeqCol || c == OpCol)
    val logDf =
      if (segs.isEmpty) None
      else {
        // EXPLICIT schema (doc fields + __seq/__op off the base's /
        // first upsert segment's own footer — driver-side, no job),
        // not mergeSchema: the merge read launches a distributed
        // footer-merge job on every snapshot/read/compact call. Delete
        // segments carry only (id, __seq, __op); their missing doc
        // columns read as nulls under the fixed schema — exactly the
        // old unionByName(allowMissingColumns) fill.
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val full = StructType(
          schemaSrc.schema.fields
            .filter(f => docCols.contains(f.name))
            .map(_.copy(nullable = true)) ++
          Seq(StructField(SeqCol, LongType), StructField(OpCol, StringType)))
        Some(spark.read.schema(full)
          .parquet(segs.map(_.path.toString): _*)
          .filter(col(SeqCol) > thru)) // crash-window stale segs drop here
      }
    val all = (baseDf.toSeq ++ logDf.toSeq)
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    val snap = Snapshot.latestPerKey(all, idCol, SeqCol, SeqCol)
      .filter(col(OpCol) === "u")
    val maxSeq = math.max(thru, segs.map(_.seq).foldLeft(-1L)(math.max))
    Some((snap, maxSeq, docCols))
  }

  def read(): Option[DataFrame] = {
    // all-tombstoned-uncompacted folds to empty: report None like a
    // compacted emptied store, so read().isDefined means 'store has
    // docs'. The emptiness probe costs a snapshot-fold job, so pay it
    // ONLY when a live tombstone segment makes emptiness possible at
    // all — the common tombstone-free read stays job-free here.
    val mayBeEmpty = segments().exists(_.op == "d")
    snapshotWithMeta().map { case (snap, _, docCols) =>
      snap.select(docCols.map(col): _*)
    }.filter(s => !mayBeEmpty || !s.isEmpty)
  }

  /** Remove everything the base at `thru` supersedes: segments it
    * already folded and older bases.
    */
  private def sweepFolded(thru: Long): Unit = {
    segments().filter(_.seq <= thru)
      .foreach(s => fs.delete(s.path, true))
    fs.listStatus(new Path(dir)).map(_.getPath).foreach { p =>
      if (p.getName.startsWith("base-") &&
          p.getName.stripPrefix("base-").toLong < thru)
        { fs.delete(p, true); () }
    }
  }

  /** Fold the log into a fresh id-bucketed `base-<thru>` and sweep the
    * folded segments + superseded bases. An empty snapshot collapses
    * the store to absent (empty store == no store, the sink-family
    * invariant). Crash-safe: the new base is invisible until its
    * `_SUCCESS` lands; a crash before that leaves the old base + log
    * intact, a crash after it leaves stale segments that readers
    * already exclude and the next compact sweeps.
    */
  def compact(): Unit = withSinkRetry {
    requireCurrent()
    // sweep crash debris first: markerless/dataless segments, bases
    // that are marked but hold no bucket data (a crashed empty-compact
    // attempt), and — for a crash AFTER a successful base publish but
    // before its sweep — segments the current base already folded plus
    // superseded bases (otherwise that debris would wait for the next
    // FOLDABLE compact, a storage leak on an idle store)
    segments(sweep = true)
    if (fs.exists(new Path(dir)))
      fs.listStatus(new Path(dir)).map(_.getPath).foreach { p =>
        if (p.getName.startsWith("base-") && !baseHasData(p))
          { fs.delete(p, true); () }
      }
    currentBase().foreach { case (thru, _) => sweepFolded(thru) }
    // nothing newer than the current base → nothing to fold
    val foldable =
      segments().exists(_.seq > currentBase().fold(-1L)(_._1))
    if (foldable) snapshotWithMeta() match {
      case None => ()
      case Some((snap, thru, docCols)) =>
        // the fold write reads the old base + segments, which stay on
        // disk until AFTER it succeeds — no self-overwrite, and no
        // store-sized checkpoint pinning executor memory at scale;
        // emptiness is read off the written layout, not a count job
        val basePath = new Path(dir, s"base-$thru")
        snap.select(docCols.map(col): _*)
          .withColumn("bucket", pmod(xxhash64(col(idCol)), lit(nBuckets)))
          .write.partitionBy("bucket").parquet(basePath.toString)
        if (!baseHasData(basePath)) {
          // the whole store was tombstoned: collapse to absent (empty
          // store == no store — the sink-family invariant)
          fs.delete(new Path(dir), true); ()
        } else sweepFolded(thru)
    }
    // folding preserves the published high-water (base-<thru> replaces
    // segments whose max seq IS thru), so the token only moves on the
    // empty-collapse — never re-read from disk (foreign-publish
    // adoption, see upsert)
    if (!fs.exists(new Path(dir))) expectedVersion = -1L
  }
}
