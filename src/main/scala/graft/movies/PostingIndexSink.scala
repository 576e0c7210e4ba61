package graft.movies

import org.apache.spark.sql.{Column, DataFrame}
import graft.cdc.DocSink

/** [[graft.cdc.DocSink]] face of the updatable [[PostingIndex]] — the
  * reference's full steady state as one component: the CDC loop
  * upserts re-denormalized docs by id (postgres_to_es/daemon.py:
  * 358-381) and the search index SERVES the update moments later
  * (movies.es.schema.json:3, refresh_interval: 1s). Plug it into
  * [[graft.cdc.CdcPipeline.Sinks]] and every tick maintains search
  * serving incrementally — O(|batch| + touched buckets + delta log)
  * per tick, never O(corpus) (CdcSpec drills the composition:
  * update-then-search, replay absorption, ≡ rebuild over the final
  * store). The pipeline's tick is fused per target: however many
  * processes fed the movies index, a tick makes ONE [[upsert]] here,
  * so the delta log grows by one segment per consuming tick.
  *
  * The functional index handle is rebound on every write (single
  * writer, the parquet-sink family contract); [[index]] exposes the
  * live handle for serving. Schedule [[compact]] on the cadence the
  * delta log grows — the [[graft.cdc.LogUpsertSink]] rule.
  *
  * `tokens` = None uses the movies-face analyzer fields; pass the
  * build's token map for a generic index.
  *
  * Pass a [[graft.cdc.WriterLease]] to make the single-writer
  * contract PREVENTIVE (a superseded writer aborts before paying any
  * op work) on top of the index's own stale-handle tripwire, which
  * remains the backstop (VERDICT r13 #5 — the lease's acquire window
  * is not atomic).
  */
final class PostingIndexSink(
    initial: PostingIndex,
    tokens: Option[Map[String, Column]] = None,
    lease: Option[graft.cdc.WriterLease] = None) extends DocSink {

  @volatile private var current: PostingIndex = initial

  /** The live index handle — serve queries off this. */
  def index: PostingIndex = current

  def idCol: String = current.idCol

  private def requireLease(): Unit = lease.foreach(_.requireHeld())

  def upsert(docs: DataFrame): Unit = {
    requireLease()
    current = tokens.fold(current.upsert(docs))(t => current.upsert(docs, t))
  }

  def delete(ids: DataFrame): Unit = {
    requireLease()
    current = current.delete(ids)
  }

  /** The sink-family read view: the index's current doc payloads;
    * None when the store is empty ('isDefined == has docs').
    */
  def read(): Option[DataFrame] =
    if (current.numDocs == 0L) None else Some(current.currentDocs)

  /** Fold the delta log into a fresh base ([[PostingIndex.compact]]). */
  def compact(): Unit = {
    requireLease()
    current = current.compact()
  }
}
