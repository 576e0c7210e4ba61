package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC source/sink face (SURVEY §2.1 S1/S2/S4).
  *
  * Reference analogues: the SQLite full scan (sqlite_to_postgresql/
  * etl.py:62-117, here via [[SqliteFile]] + a JDBC round trip), the
  * parameterized PostgreSQL batch source (postgres_to_es/daemon.py:80-87),
  * and the multi-row INSERT sink (etl.py:205-232).
  *
  * Scale notes:
  *  - [[readPartitioned]] issues one range-predicate query per partition
  *    (Spark's partitionColumn machinery) so a big table scans in
  *    parallel across executors instead of through one connection.
  *  - Predicates/required columns push into the remote SQL (Catalyst
  *    JDBC pushdown) — filter/select BEFORE any wide transform.
  *  - The CDC keyset scan (S3) deliberately does NOT use offset-based
  *    partitioning; its resumable (ts, id) batches live in cdc.Keyset.
  *  - Writes go through `df.write.jdbc`, which batches inserts per
  *    partition (reference's mogrify multi-row INSERT, minus the string
  *    pasting). Idempotent upserts are the sink's job — see
  *    cdc.DocSink.
  *
  * Tested end-to-end against embedded Apache Derby (the JDBC engine
  * shipped with Spark) in GoldenJdbcSpec — same API binds to
  * PostgreSQL/MySQL/SQLite by switching the URL/driver.
  */
object JdbcIO {

  private def props(extra: Map[String, String]): Properties = {
    val p = new Properties()
    extra.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  /** Exponential-backoff retry policy for driver-side connector
    * actions — parity with the reference's backoff decorator
    * (postgres_to_es/utils.py:19-53: start sleep, ×2 factor, 10 s
    * border). `maxAttempts` counts the first try.
    */
  final case class RetryPolicy(
      maxAttempts: Int = 5,
      initialBackoffMs: Long = 100L,
      maxBackoffMs: Long = 10000L,
      factor: Double = 2.0) {
    require(maxAttempts >= 1 && initialBackoffMs >= 0 &&
      maxBackoffMs >= initialBackoffMs && factor >= 1.0,
      s"invalid retry policy: $this")
  }

  /** Run a driver-side connector action with retries. Spark's own task
    * retries already cover executor-side transient faults mid-job; this
    * wrapper covers failures Spark does NOT retry — the driver-visible
    * connection setup / DDL / whole-action errors a flaky database
    * throws (the reference wraps every Postgres/ES/Redis call the same
    * way). Only non-fatal exceptions retry; the last failure rethrows.
    *
    * CAUTION: the wrapped action re-runs WHOLE — pair with idempotent
    * sinks (DocSink's upsert-by-id contract, SaveMode.Overwrite) so a
    * partially-applied failed attempt is harmless on replay.
    */
  def withRetry[T](policy: RetryPolicy = RetryPolicy())(f: => T): T = {
    var attempt = 1
    var backoff = policy.initialBackoffMs
    var result: Option[T] = None
    while (result.isEmpty) {
      try result = Some(f)
      catch {
        case scala.util.control.NonFatal(e)
            if attempt < policy.maxAttempts =>
          Thread.sleep(backoff)
          backoff = math.min(
            (backoff * policy.factor).toLong, policy.maxBackoffMs)
          attempt += 1
      }
    }
    result.get
  }

  /** Full-table (or pushdown-narrowed) scan over one connection. */
  def read(
      spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty,
      retry: Option[RetryPolicy] = None): DataFrame =
    retry.fold(spark.read.jdbc(url, table, props(options)))(p =>
      withRetry(p)(spark.read.jdbc(url, table, props(options))))

  /** Parallel range scan: `numPartitions` concurrent connections, each
    * reading `[lower, upper)` stripes of `partitionCol` (must be
    * numeric/date). The 100 TB-side answer to "one JDBC cursor".
    */
  def readPartitioned(
      spark: SparkSession, url: String, table: String,
      partitionCol: String, lower: Long, upper: Long, numPartitions: Int,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.jdbc(
      url, table, partitionCol, lower, upper, numPartitions, props(options))

  /** Append/overwrite batch insert sink (S4). `retry` wraps the whole
    * write action ([[withRetry]]'s idempotence caveat applies: use with
    * Overwrite, or Append only when a replayed batch is acceptable /
    * deduplicated downstream).
    */
  def write(
      df: DataFrame, url: String, table: String,
      mode: SaveMode = SaveMode.ErrorIfExists,
      options: Map[String, String] = Map.empty,
      retry: Option[RetryPolicy] = None): Unit =
    retry.fold(df.write.mode(mode).jdbc(url, table, props(options)))(p =>
      withRetry(p)(df.write.mode(mode).jdbc(url, table, props(options))))
}
