package graft.cdc

import org.apache.spark.sql.DataFrame

/** Pluggable idempotent document sink (SURVEY §2.1 S5) — the engine-side
  * contract of the reference's Elasticsearch bulk upsert
  * (postgres_to_es/daemon.py:358-381): writes are keyed on `idCol`, a
  * re-write of an existing id REPLACES the document, so replaying any
  * batch suffix is a no-op (the T2 effectively-once contract rests on
  * this).
  *
  * Implementations:
  *  - [[LogUpsertSink]] (the file-backed store, O(|batch|) per tick):
  *    append-only log segments + latest-per-key read view + scheduled
  *    compaction; crash-safe by Spark's `_SUCCESS` commit marker.
  *  - [[graft.movies.PostingIndexSink]] / [[graft.ops.IvfPqIndexSink]]:
  *    the store IS an updatable search / vector index.
  *  - [[EsWire.EsDocSink]] (live wire): POSTs the q267-checked
  *    [[EsBulk]] `_bulk` bodies over HTTP from executors, with the
  *    reference's backoff/partial-failure semantics — drilled in
  *    EsWireSpec against an in-process stub server.
  *  - elasticsearch-hadoop connector bind point (not a dependency of
  *    this repo; plugs straight in):
  *    {{{
  *    final class EsDocSink(resource: String, val idCol: String)
  *        extends DocSink {
  *      def upsert(docs: DataFrame): Unit =
  *        docs.write.format("es")
  *          .option("es.mapping.id", idCol)      // upsert-by-id semantics
  *          .option("es.write.operation", "index")
  *          .mode("append").save(resource)       // e.g. "movies"
  *      def delete(ids: DataFrame): Unit =
  *        ids.write.format("es")
  *          .option("es.mapping.id", idCol)
  *          .option("es.write.operation", "delete")
  *          .mode("append").save(resource)
  *      def read(): Option[DataFrame] = ...      // spark.read.format("es")
  *    }
  *    }}}
  *    `es.mapping.id` is exactly the `_id=doc.id` of the reference's
  *    helpers.bulk call, so idempotence semantics carry over unchanged.
  *
  * Single writer + stale-handle tripwire: the parquet sinks are
  * single-writer stores, and a SUPERSEDED handle (one whose store was
  * advanced by a newer writer — split brain) must refuse to mutate:
  * it could sweep segments the newer writer published.
  * [[LogUpsertSink]] verifies its remembered store version (highest
  * published seq) against disk before every mutating op and trips a
  * loud require — the PostingIndex `requireCurrent` contract applied
  * to the sink family (SinkPropertySpec asserts the trip). Re-OPENING
  * a handle (a restart) snapshots the current version and proceeds
  * normally.
  *
  * Retries: the reference wraps every connector call in an
  * exponential-backoff decorator (postgres_to_es/utils.py:19-53).
  * Executor-side transient faults are already covered by Spark task
  * retries; for driver-visible connector failures wrap sink calls in
  * `JdbcIO.withRetry` (LogUpsertSink's `retry` option does exactly
  * that) — safe precisely BECAUSE this contract is idempotent
  * upsert-by-id, so a partially-applied failed attempt replays
  * harmlessly.
  */
trait DocSink {

  /** Column whose value keys the upsert (the document id). */
  def idCol: String

  /** Insert-or-replace `docs` by [[idCol]]; must be idempotent. */
  def upsert(docs: DataFrame): Unit

  /** Remove the documents whose ids appear in `ids` ([[idCol]] column);
    * absent ids are ignored; idempotent.
    */
  def delete(ids: DataFrame): Unit

  /** Current store contents (None before the first upsert). */
  def read(): Option[DataFrame]
}
