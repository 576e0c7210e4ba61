package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ATOMIC SERVE-POINTER for retrained IVF×PQ layouts (VERDICT r14 #2 —
  * the retrain cutover made operational instead of a caller
  * convention): [[SimilarityOps.retrainIvfPqIndex]] rebuilds into a
  * fresh dir and documents "serve the new dir with THESE", but nothing
  * used to swap serving atomically or retire the old layout. This is
  * the current-pointer pattern (one atomically replaced pointer names
  * the live immutable layout) applied to the vector index:
  *
  *   root/__current.json      the serve pointer ([[JsonSidecar]] —
  *                            atomic overwrite-rename): live layout
  *                            NAME, quantization VERSION, and the
  *                            centers/codebooks that decode it
  *   root/layout-<v>/         one immutable-once-published
  *                            cell-partitioned [[SimilarityOps.ivfPqIndex]]
  *                            layout per quantization generation (plus
  *                            its own `__tombstones`/`__maint.json`
  *                            siblings — maintenance ops keep working
  *                            against the CURRENT layout dir as before)
  *
  * Why the pointer carries the QUANTIZATION, not just the dir: codes
  * are undecodable without their own centers/codebooks, and the drift
  * failure mode this exists for is exactly "serving a layout with the
  * wrong generation's quantization". One atomic read hands a server
  * everything consistent: (dir, centers, codebooks) of one generation.
  *
  * Reader contract: [[openCurrent]] is one tiny JSON read; the handle
  * stays valid while its layout dir lives — `retainVersions` (the
  * PostingIndex retained-layout rule) keeps the previous generations
  * on disk through a cutover, so an in-flight reader that opened the
  * OLD pointer keeps serving until its generation ages out of the
  * window; re-open to rebind (the PostingIndexSink pattern). The swap
  * itself is the sidecar's atomic overwrite — a reader sees the old
  * generation or the new one, never absence, never a torn mix.
  *
  * Writer contract: single writer like every store (pass the root's
  * [[graft.cdc.WriterLease]] to make it preventive); a crash before
  * the pointer swap leaves the old generation serving and the
  * half-built `layout-<v+1>` as debris the next cutover's lease-held
  * PRE-BUILD sweep removes (exact-name matching only — the
  * PostingIndex.sweepStaleLayouts discipline).
  *
  * Reference behavior: the reference serves search relevance through
  * one live index alias while reindexes build aside
  * (search_api/api.py:93-100 serves; the daemon maintains — this is
  * the same alias-swap operational shape for the vector index).
  */
object IvfPqCurrent {

  /** One consistent serving generation: the layout dir to probe and
    * the quantization that decodes it. Serve with
    * [[SimilarityOps.ivfPqTopKStored]] /
    * [[SimilarityOps.ivfPqTopKMultiStored]] (or their audited faces)
    * against `dir` + `centers` + `codebooks`; maintain with the
    * `*IvfPqIndex` ops against the same dir.
    */
  final case class Current(
      root: String,
      version: Long,
      dir: String,
      centers: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]])

  private def pointerPath(root: String): Path =
    new Path(root.stripSuffix("/"), "__current.json")

  private def layoutName(version: Long): String = s"layout-$version"

  private val LayoutRe = "^layout-(\\d+)$".r

  /** The serve pointer, if one has been published. Parse corruption is
    * loud (the atomic publish never exposes a torn file).
    */
  def read(spark: SparkSession, root: String): Option[Current] =
    JsonSidecar.read(spark, pointerPath(root)).map { parsed =>
      val n = parsed.orNull
      require(n != null && n.hasNonNull("version") &&
        n.hasNonNull("layout") && n.hasNonNull("centers") &&
        n.hasNonNull("codebooks"),
        s"corrupt IVF×PQ serve pointer at ${pointerPath(root)} — " +
          "re-publish via retrainCutover/publish (the layout dirs " +
          "themselves are intact)")
      import scala.jdk.CollectionConverters._
      def arr1(v: com.fasterxml.jackson.databind.JsonNode) =
        v.elements().asScala.map(_.asDouble()).toArray
      val centers = n.path("centers").elements().asScala.map(arr1).toArray
      val codebooks = n.path("codebooks").elements().asScala
        .map(_.elements().asScala.map(arr1).toArray).toArray
      Current(root, n.path("version").asLong(),
        new Path(root.stripSuffix("/"), n.path("layout").asText())
          .toString,
        centers, codebooks)
    }

  /** The serve pointer — loud when the store was never published. */
  def openCurrent(spark: SparkSession, root: String): Current =
    read(spark, root).getOrElse(throw new IllegalArgumentException(
      s"no IVF×PQ serve pointer under $root — publish a first " +
        "generation via IvfPqCurrent.publish (or retrainCutover)"))

  /** An [[IvfPqIndexSink]] bound to the CURRENT generation — the
    * daemon's rebind face after a cutover (the PostingIndexSink
    * re-open pattern): one atomic pointer read hands the sink the
    * layout dir AND the quantization that encodes into it, so the
    * sink can never pair a new generation's dir with an old
    * generation's codebooks. Pass the ROOT's lease: ONE writer
    * governs maintenance and cutover on a store — a cutover in
    * progress holds it, so a maintenance writer racing the rebuild is
    * refused at acquire instead of landing rows the rebuild never
    * reads (IndexMaintenanceSpec's maintained-cutover drill).
    */
  def sinkOnCurrent(
      spark: SparkSession, root: String, idCol: String, vecCol: String,
      lease: Option[graft.cdc.WriterLease] = None): IvfPqIndexSink = {
    val cur = openCurrent(spark, root)
    new IvfPqIndexSink(spark, cur.dir, idCol, vecCol,
      cur.centers, cur.codebooks, lease)
  }

  private def writePointer(
      spark: SparkSession, root: String, version: Long,
      centers: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): Unit = {
    val n = JsonSidecar.newRoot
    n.put("version", version)
    n.put("layout", layoutName(version))
    val ca = n.putArray("centers")
    centers.foreach { c => val r = ca.addArray(); c.foreach(r.add) }
    val ba = n.putArray("codebooks")
    codebooks.foreach { cb =>
      val s = ba.addArray()
      cb.foreach { cw => val r = s.addArray(); cw.foreach(r.add) }
    }
    JsonSidecar.publish(spark, pointerPath(root), n)
  }

  /** Publish a generation built with the GIVEN quantization: build
    * `layout-<v+1>` (v+1 = 0 on a fresh root) from `corpus`, swap the
    * pointer, retire generations beyond `retainVersions`. The first
    * publish of a store and the externally-trained cutover are the
    * same operation.
    */
  def publish(
      corpus: DataFrame, idCol: String, vecCol: String, root: String,
      centers: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      retainVersions: Int = 2,
      lease: Option[graft.cdc.WriterLease] = None): Current = {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    lease.foreach(_.requireHeld()) // preventive gate BEFORE any op work
    val spark = corpus.sparkSession
    val version = read(spark, root).fold(0L)(_.version + 1L)
    // sweep torn-cutover debris ABOVE the pointer first: a crashed
    // previous cutover may have staged exactly this version's dir,
    // and the fresh build below must not collide with half-built rows
    sweepAbove(spark, root, version - 1L)
    val dir = new Path(root.stripSuffix("/"), layoutName(version)).toString
    SimilarityOps.writeIvfPqIndex(
      SimilarityOps.ivfPqIndex(corpus, idCol, vecCol, centers, codebooks),
      dir, idCol)
    // mid-op renewal at the build/swap boundary (the build is the long
    // phase; a writer superseded during it aborts HERE — the staged
    // layout becomes retirement-sweep debris, the pointer never moves)
    lease.foreach(_.requireHeld())
    writePointer(spark, root, version, centers, codebooks)
    retire(spark, root, version, retainVersions, lease)
    Current(root, version, dir, centers, codebooks)
  }

  /** The [[SimilarityOps.IvfScanAudit]] `needsRetrain` remedy
    * END-TO-END: re-train the quantization on a bounded uniform
    * driver sample of the current corpus
    * ([[SimilarityOps.retrainIvfPqIndex]]'s sampling discipline),
    * rebuild into the NEXT generation dir, swap the serve pointer
    * atomically, and retire generations beyond the retention window.
    * Old-pointer readers keep serving their generation until it ages
    * out; the rebuilt store records fresh scan stats, so an audited
    * serve through the swapped pointer re-arms `needsRetrain` against
    * the retrained band (and clears, absent fresh drift).
    */
  def retrainCutover(
      corpus: DataFrame, idCol: String, vecCol: String, root: String,
      nList: Int, m: Int, codebookK: Int,
      sampleN: Int = 512, maxIter: Int = 5, seed: Long = 13L,
      retainVersions: Int = 2,
      lease: Option[graft.cdc.WriterLease] = None): Current = {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    lease.foreach(_.requireHeld()) // preventive gate BEFORE any op work
    val spark = corpus.sparkSession
    val version = read(spark, root).fold(0L)(_.version + 1L)
    sweepAbove(spark, root, version - 1L) // torn-cutover debris
    val dir = new Path(root.stripSuffix("/"), layoutName(version)).toString
    val (centers, codebooks) = SimilarityOps.retrainIvfPqIndex(
      corpus, idCol, vecCol, dir, nList, m, codebookK,
      sampleN, maxIter, seed)
    lease.foreach(_.requireHeld()) // build/swap boundary renewal
    writePointer(spark, root, version, centers, codebooks)
    retire(spark, root, version, retainVersions, lease)
    Current(root, version, dir, centers, codebooks)
  }

  /** Drop every `layout-<v>` generation BELOW the newest
    * `retainVersions` (counted from `current` DOWN), with its
    * tombstone table and maintenance/lease sidecars. Exact generated
    * names only — a user-placed `layout_backup` under the root is
    * never touched (the sweepStaleLayouts discipline).
    *
    * Deliberately does NOT touch generations ABOVE the pointer
    * (ADVICE r15): retire runs after the swap, and if this writer's
    * lease lapsed between the boundary renewal and here, an
    * above-pointer dir may be a newly-admitted writer's in-progress
    * staged layout, not our debris. Torn-cutover debris above the
    * pointer is swept by the NEXT cutover's pre-build [[sweepAbove]],
    * which runs with the lease freshly checked. A lease re-check here
    * narrows (not closes) the same window for the below-window drops,
    * which only ever touch generations no new writer would stage.
    */
  private def retire(
      spark: SparkSession, root: String, current: Long,
      retainVersions: Int,
      lease: Option[graft.cdc.WriterLease]): Unit = {
    lease.foreach(_.requireHeld())
    dropGenerations(spark, root, v => v < current - (retainVersions - 1))
  }

  /** Pre-build debris sweep: generations ABOVE the published pointer
    * are half-built remains of a torn cutover (staged, never swapped)
    * — they must go before a retry rebuilds their version.
    */
  private def sweepAbove(
      spark: SparkSession, root: String, current: Long): Unit =
    dropGenerations(spark, root, v => v > current)

  private def dropGenerations(
      spark: SparkSession, root: String, doomed: Long => Boolean): Unit = {
    val rootPath = new Path(root.stripSuffix("/"))
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return
    fs.listStatus(rootPath).map(_.getPath).foreach { p =>
      p.getName match {
        // the length guard keeps a non-generated `layout-<huge>` name
        // from overflowing toLong — generated versions are sequential
        // small ints; anything else is foreign and stays untouched
        case LayoutRe(v) if v.length <= 18 && doomed(v.toLong) =>
          // sidecars BEFORE the layout dir (ADVICE r15): the sweep's
          // exact-name match anchors on the dir name, so a crash after
          // the dir delete would strand the siblings as orphans no
          // retry can ever match again; dir-first stranded tombstones
          // do not self-heal (scan stats do, on rebuild)
          val tomb = new Path(p.toString + "__tombstones")
          if (fs.exists(tomb)) { fs.delete(tomb, true); () }
          SeqSidecar.clear(spark, p.toString)
          JsonSidecar.delete(spark, new Path(p.toString + "__lease.json"))
          fs.delete(p, true)
        case _ => ()
      }
    }
  }
}
