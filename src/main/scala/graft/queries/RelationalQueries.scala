package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Checkpointer._

/** Relational operator conformance suite (SURVEY.md §2.2-§2.8).
  *
  * Each query exercises one operator family from the reference inventory,
  * re-expressed over the driver's TPC-H-ish tables so the DuckDB oracle can
  * hash-check it. Mapping to SURVEY §2 ids is noted per query.
  *
  * Scale notes: dims (region/nation/supplier/part/customer) are broadcast;
  * fact-fact joins shuffle on their keys; aggregates are partial (map-side
  * combine) by construction since all are Catalyst built-ins.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** One SQL text, two engines (q52): stick to the portable subset —
    * ANSI EXISTS, no engine-specific functions.
    */
  val ExistsSql: String =
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  /** Money in integer cents: order-independent sums, exact oracle compare. */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100, 0).cast("long")

  val all: Seq[GraftQuery] = Seq(

    // A1/A5/O3 + map-side partial agg: TPC-H Q1-shaped pricing summary.
    // Reference analogue: array_agg-free grouped aggregation (daemon.py:173+).
    GraftQuery(
      "q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |  CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT) AS sum_disc_c,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum(cents($"l_quantity")).as("sum_qty_c"),
          sum(cents($"l_extendedprice")).as("sum_price_c"),
          sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 10000, 0)
            .cast("long")).as("sum_disc_c"),
          count(lit(1)).as("cnt"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // J1 (broadcast dim joins) + multi-way equi-join + grouped agg.
    GraftQuery(
      "q02_revenue_by_nation",
      """SELECT n_name,
        |  CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT) AS revenue_c,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region").filter($"r_name" === "ASIA"))
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(n, $"c_nationkey" === $"n_nationkey")
        .join(r, $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(
          sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 10000, 0)
            .cast("long")).as("revenue_c"),
          count(lit(1)).as("n_items"))
        .orderBy($"n_name")
    },

    // J3: change-propagation semi-join (EXISTS). Reference daemon.py:139-152.
    GraftQuery(
      "q03_semi_join",
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import s.implicits._
      val o = t(s, dir, "orders")
      val hot = t(s, dir, "lineitem").filter($"l_quantity" >= 45)
        .select($"l_orderkey".as("o_orderkey"))
      o.join(hot, Seq("o_orderkey"), "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    },

    // P2-style anti-join (NOT EXISTS): customers with no finished orders.
    GraftQuery(
      "q04_anti_join",
      """SELECT c_mktsegment, COUNT(*) AS n_custs
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      import s.implicits._
      val c = t(s, dir, "customer")
      val f = t(s, dir, "orders").filter($"o_orderstatus" === "F")
        .select($"o_custkey".as("c_custkey"))
      c.join(f, Seq("c_custkey"), "left_anti")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_custs"))
        .orderBy($"c_mktsegment")
    },

    // O2/O4: top-k — Spark plans TakeOrderedAndProject (no full sort at scale).
    GraftQuery(
      "q05_topk_orders",
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS total_c
        |FROM orders
        |ORDER BY total_c DESC, o_orderkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", cents($"o_totalprice").as("total_c"))
        .orderBy($"total_c".desc, $"o_orderkey")
        .limit(10)
    },

    // Window (row_number) — latest order per customer; CDC O1 total-order.
    GraftQuery(
      "q06_latest_order_per_customer",
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"o_custkey", $"o_orderkey",
          date_format($"o_orderdate", "yyyy-MM-dd").as("odate"))
        .orderBy($"o_custkey")
    },

    // U1: union of role-tagged streams then per-entity aggregation
    // (reference etl.py:169-185 director/actor/writer fan-in).
    GraftQuery(
      "q07_union_role_streams",
      """SELECT user_id, src, COUNT(*) AS n
        |FROM (
        |  SELECT user_id, 'clicker' AS src FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, 'viewer' AS src FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, 'buyer' AS src FROM events WHERE event_type = 'purchase'
        |)
        |GROUP BY user_id, src
        |ORDER BY user_id, src""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = t(s, dir, "events")
      def tagged(et: String, src: String) =
        e.filter($"event_type" === et).select($"user_id", lit(src).as("src"))
      tagged("click", "clicker")
        .union(tagged("view", "viewer"))
        .union(tagged("purchase", "buyer"))
        .groupBy($"user_id", $"src")
        .agg(count(lit(1)).as("n"))
        .orderBy($"user_id", $"src")
    },

    // A4: row-level DISTINCT (reference SELECT DISTINCT * scans, etl.py:68-96).
    GraftQuery(
      "q08_distinct",
      """SELECT DISTINCT p_brand, p_type FROM part
        |ORDER BY p_brand, p_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "part").select($"p_brand", $"p_type").distinct()
        .orderBy($"p_brand", $"p_type")
    },

    // A1/J5: aggregate-then-left-join denormalization — the Spark-native
    // re-expression of the reference's LEFT JOIN LATERAL array_agg
    // (daemon.py:160-200). Arrays sorted then stringified for hash-compare.
    GraftQuery(
      "q09_denorm_order_parts",
      """SELECT o.o_orderkey, o.o_orderstatus, a.parts, a.n_items
        |FROM orders o
        |LEFT JOIN (
        |  SELECT l_orderkey,
        |    string_agg(CAST(l_partkey AS STRING), ',' ORDER BY l_partkey) AS parts,
        |    COUNT(*) AS n_items
        |  FROM lineitem GROUP BY l_orderkey) a
        |ON o.o_orderkey = a.l_orderkey
        |ORDER BY o.o_orderkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      val agg = t(s, dir, "lineitem")
        .groupBy($"l_orderkey")
        .agg(
          array_join(
            transform(sort_array(collect_list($"l_partkey")), _.cast("string")),
            ",").as("parts"),
          count(lit(1)).as("n_items"))
      t(s, dir, "orders")
        .join(agg, $"o_orderkey" === $"l_orderkey", "left_outer")
        .select($"o_orderkey", $"o_orderstatus", $"parts", $"n_items")
        .orderBy($"o_orderkey")
    },

    // A2 (filtered agg) + A3 (distinct-set agg). Reference views.py:30-32,
    // daemon.py:283-286.
    GraftQuery(
      "q10_filtered_and_set_agg",
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(
          count(when($"o_orderstatus" === "F", 1)).as("n_f"),
          array_join(sort_array(collect_set($"o_orderstatus")), ",")
            .as("statuses"))
        .orderBy($"o_orderpriority")
    },

    // F2: JSON-string column parse (reference etl.py:99 writers JSON).
    // Spark uses typed from_json; oracle extracts the same integer.
    GraftQuery(
      "q11_json_extract",
      """SELECT event_type,
        |  CAST(SUM(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS cnt
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.types._
      val kSchema = StructType(Seq(StructField("k", LongType)))
      t(s, dir, "events")
        .withColumn("k", from_json($"props", kSchema).getField("k"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), count(lit(1)).as("cnt"))
        .orderBy($"event_type")
    },

    // P1 (sentinel→NULL) + P6/F3 (null fallback/coalesce).
    GraftQuery(
      "q12_sentinel_clean",
      """SELECT doc_id, COALESCE(NULLIF(NULLIF(source,'src0'),''),'unknown') AS src
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "documents")
        .select(
          $"doc_id",
          coalesce(
            when($"source".isin("src0", ""), lit(null)).otherwise($"source"),
            lit("unknown")).as("src"))
        .orderBy($"doc_id")
    },

    // O4: offset pagination over a total order (api.py:85-86; page 3, size 20).
    GraftQuery(
      "q13_pagination",
      """SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS total_c
        |FROM orders
        |ORDER BY total_c DESC, o_orderkey
        |LIMIT 20 OFFSET 40""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .select($"o_orderkey", cents($"o_totalprice").as("total_c"))
        .orderBy($"total_c".desc, $"o_orderkey")
        .offset(40)
        .limit(20)
    },

    // P8/P9: substring search + facet counts (admin.py:20-47).
    GraftQuery(
      "q14_substring_facets",
      """SELECT p_brand, COUNT(*) AS n
        |FROM part
        |WHERE lower(p_name) LIKE '%widget%'
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "part")
        .filter(lower($"p_name").contains("widget"))
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n"))
        .orderBy($"p_brand")
    },

    // S3/O1: the CDC keyset batch scan in oracle-checkable form — rows
    // strictly after cursor (ts, id) in (ts, id) total order, limited.
    // Same predicate/order shape as cdc.Keyset.nextBatch; cursor derived
    // from the data (last ts of event 42) so it exists at every SF.
    GraftQuery(
      "q42_keyset_batch",
      """WITH c AS (SELECT max(epoch_us(ts)) AS ts0 FROM events
        |           WHERE event_id = 42)
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |FROM events, c
        |WHERE epoch_us(ts) > c.ts0
        |   OR (epoch_us(ts) = c.ts0 AND event_id > 42)
        |ORDER BY ts_us, event_id
        |LIMIT 100""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = Tables.load(s, dir, "events")
      val tsUs = unix_micros($"ts")
      val ts0 = e.filter($"event_id" === 42)
        .agg(max(unix_micros($"ts"))).head().getLong(0)
      // ts attribute vs TIMESTAMP literal (not unix_micros(ts) vs long):
      // the pushable form — same shape as cdc.Keyset.nextBatch, where
      // PlansSpec asserts the parquet PushedFilters.
      val ts0Ts = timestamp_micros(lit(ts0))
      e.filter($"ts" > ts0Ts || ($"ts" === ts0Ts && $"event_id" > 42))
        .orderBy($"ts".asc, $"event_id".asc)
        .limit(100)
        .select($"event_id", $"user_id", tsUs.as("ts_us"))
    },

    // CDC END-TO-END (S3+S5+S7+T2 composed — the reference's whole
    // incremental loop, postgres_to_es/daemon.py:90-129 source →
    // :358-381 sink, in ONE oracle-checked gate): three keyset ticks
    // drive Keyset.nextBatch over events (file-backed CursorStore
    // between ticks, as a restart would), each batch reduces to
    // latest-per-user and upserts into a LogUpsertSink store; tick 2 is
    // REPLAYED before tick 3 to prove effectively-once (the idempotent
    // upsert absorbs the duplicate delivery). The final store must
    // equal latest-per-user over the first 360 events in (ts, id)
    // order — which is what the oracle computes directly. q42/q15 gate
    // the pieces; this gates their composition.
    GraftQuery(
      "q149_cdc_end_to_end",
      """WITH ordered AS (
        |  SELECT *, lpad(CAST(event_id AS VARCHAR), 12, '0') AS did,
        |    row_number() OVER (
        |      ORDER BY epoch_us(ts), lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |      AS rn
        |  FROM events),
        |prefix AS (SELECT * FROM ordered WHERE rn <= 360),
        |latest AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(round(value*100) AS BIGINT) AS value_c,
        |    epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, did DESC) AS rk
        |  FROM prefix)
        |SELECT user_id, event_id, event_type, value_c, ts_us
        |FROM latest WHERE rk = 1
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.cdc.{Keyset, LogUpsertSink}
      val e = t(s, dir, "events")
        .withColumn("did", lpad($"event_id".cast("string"), 12, "0"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_e2e")
      try {
        val store =
          new LogUpsertSink(s, s"$tmp/store", "user_id", nBuckets = 8)
        val cursors = new Keyset.CursorStore(s"$tmp/cursors")
        val latestInBatch = Window.partitionBy($"user_id")
          .orderBy(unix_micros($"ts").desc, $"did".desc)
        def tick(): DataFrame = {
          val cur = cursors.load("events") // file round-trip = restart-safe
          val (batch, next) = Keyset.nextBatch(e, "ts", "did", cur, 120)
          val docs = batch
            .withColumn("rk", row_number().over(latestInBatch))
            .filter($"rk" === 1).drop("rk")
            .graftCheckpoint() // pin the batch: the store must not re-scan
          store.upsert(docs)
          cursors.save("events", next)
          docs
        }
        tick()
        val t2 = tick()
        store.upsert(t2) // duplicate delivery of tick 2: must be a no-op
        tick()
        val out = store.read().get
          .select($"user_id", $"event_id", $"event_type",
            cents($"value").as("value_c"), unix_micros($"ts").as("ts_us"))
          .orderBy($"user_id")
        // at most one row per user of a 360-event prefix: collected, so
        // the result outlives the store dir removed below
        s.createDataFrame(java.util.Arrays.asList(out.collect(): _*),
          out.schema)
      } finally {
        val p = new org.apache.hadoop.fs.Path(tmp.toString)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    },

    // The ES BULK WIRE FORMAT (S5's missing live half, made checkable:
    // no ES server exists here, but the byte-exact `_bulk` request
    // bodies the reference's helpers.bulk generates —
    // daemon.py:358-381 — are a pure transformation): action+source
    // NDJSON per doc, 100-doc batches in id order, md5 of each body in
    // the hash. A live connector is exactly "POST these strings".
    GraftQuery(
      "q267_es_bulk_payload",
      """WITH src AS (
        |  SELECT doc_id,
        |    '{"index":{"_index":"docs","_id":"' || CAST(doc_id AS VARCHAR)
        |      || '"}}' || chr(10) ||
        |    '{"doc_id":' || CAST(doc_id AS VARCHAR) || ',"lang":"' || lang
        |      || '","source":"' || source || '"}' AS lines
        |  FROM documents),
        |ranked AS (
        |  SELECT lines,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS rk
        |  FROM src)
        |SELECT rk // 100 AS es_batch, COUNT(*) AS n_docs,
        |  CAST(SUM(len(lines)) + COUNT(*) AS BIGINT) AS payload_chars,
        |  md5(string_agg(lines, chr(10) ORDER BY rk) || chr(10))
        |    AS payload_md5
        |FROM ranked GROUP BY 1 ORDER BY es_batch""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      import graft.cdc.EsBulk
      val docs = t(s, dir, "documents")
        .select($"doc_id", concat(
          lit("{\"doc_id\":"), $"doc_id".cast("string"),
          lit(",\"lang\":\""), $"lang",
          lit("\",\"source\":\""), $"source", lit("\"}")).as("sj"))
      EsBulk.bulkBodies(docs, "docs", "doc_id", "sj", batchSize = 100)
        .orderBy($"es_batch")
    },

    // S5/T2 batch analogue: idempotent upsert = keep latest row per key
    // (what the ES bulk-upsert by doc id converges to).
    GraftQuery(
      "q15_upsert_latest_per_key",
      """SELECT user_id, event_id, event_type,
        |  CAST(round(value*100) AS BIGINT) AS value_c
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".desc, $"event_id".desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", $"event_type",
          cents($"value").as("value_c"))
        .orderBy($"user_id")
    },

    // Hierarchical subtotals: ROLLUP over (nation, order-year) — per
    // group, per nation, and grand total in one shuffle-reusing pass
    // (Spark expands grouping sets map-side; no extra scans).
    GraftQuery(
      "q46_rollup",
      """SELECT n.n_name AS nation, strftime(o.o_orderdate, '%Y') AS yr,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(round(o.o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_c,
        |  CAST(grouping(n.n_name) AS BIGINT) AS g_nation,
        |  CAST(grouping(strftime(o.o_orderdate, '%Y')) AS BIGINT) AS g_yr
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY ROLLUP(n.n_name, strftime(o.o_orderdate, '%Y'))
        |ORDER BY nation NULLS FIRST, yr NULLS FIRST""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      orders
        .join(customer, $"o_custkey" === $"c_custkey")
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .select($"n_name".as("nation"),
          date_format($"o_orderdate", "yyyy").as("yr"),
          cents($"o_totalprice").as("price_c"))
        .rollup($"nation", $"yr")
        .agg(count(lit(1)).as("n_orders"), sum($"price_c").as("total_c"),
          grouping($"nation").cast("long").as("g_nation"),
          grouping($"yr").cast("long").as("g_yr"))
        .orderBy($"nation".asc_nulls_first, $"yr".asc_nulls_first)
    },

    // Set operations beyond the reference's union (SURVEY §2.7 notes
    // only left_anti-like semantics exist there): INTERSECT/EXCEPT with
    // DISTINCT semantics on both engines.
    GraftQuery(
      "q51_set_ops",
      """SELECT user_id, d FROM (
        |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS d FROM events
        |  WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT user_id, strftime(ts, '%Y-%m-%d') FROM events
        |  WHERE event_type = 'click')
        |EXCEPT
        |SELECT user_id, strftime(ts, '%Y-%m-%d') FROM events
        |WHERE event_type = 'error'
        |ORDER BY user_id, d""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = t(s, dir, "events")
      def days(tp: String) =
        e.filter($"event_type" === tp)
          .select($"user_id", date_format($"ts", "yyyy-MM-dd").as("d"))
      days("purchase").intersect(days("click")).except(days("error"))
        .orderBy($"user_id", $"d")
    },

    // Correlated EXISTS subquery, exercised through the engine's SQL
    // face: the exact same SQL text runs on Spark (temp views +
    // spark.sql) and DuckDB — Catalyst decorrelates it to a semi-join
    // (no per-row subquery execution).
    GraftQuery(
      "q52_exists_sql",
      RelationalQueries.ExistsSql) { (s, dir) =>
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(RelationalQueries.ExistsSql)
    },

    // Pivot (long → wide): per-user event-type counts as columns. Spark
    // plans pivot with explicit values as ONE pass of conditional aggs
    // (no per-value scans); the oracle is the equivalent CASE spelling.
    GraftQuery(
      "q49_pivot",
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .groupBy($"user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(coalesce(count(lit(1)), lit(0L)))
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
        .orderBy($"user_id")
    },

    // J6: per-person films denormalization (Docs.personDocs over
    // TPC-H shapes: customer=person, orders=bridge, order status=role,
    // order key=film id). Arrays sorted then stringified for the hash
    // compare; customers with no orders keep empty arrays (the P6
    // null→[] discipline).
    GraftQuery(
      "q53_person_docs",
      """SELECT c_custkey AS id, c_name AS full_name,
        |  COALESCE(a.roles, '') AS roles,
        |  COALESCE(a.film_ids, '') AS film_ids
        |FROM customer
        |LEFT JOIN (
        |  SELECT o_custkey,
        |    array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
        |      AS roles,
        |    array_to_string(list_sort(list(DISTINCT
        |      CAST(o_orderkey AS STRING))), ',') AS film_ids
        |  FROM orders GROUP BY o_custkey) a ON a.o_custkey = c_custkey
        |ORDER BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val person = t(s, dir, "customer")
        .select($"c_custkey".as("id"), $"c_name".as("full_name"))
      val bridge = t(s, dir, "orders").select(
        $"o_custkey".as("person_id"),
        $"o_orderkey".cast("string").as("film_work_id"),
        $"o_orderstatus".as("role"))
      graft.movies.Docs.personDocs(person, bridge)
        .select($"id", $"full_name",
          array_join($"roles", ",").as("roles"),
          array_join($"film_ids", ",").as("film_ids"))
        .orderBy($"id")
    },

    // J7: per-genre filmworks denormalization (Docs.genreDocs over
    // TPC-H shapes: brand=genre, part=film, retail cents=rating).
    // Struct arrays sort by (title, id, rating) in the op; the oracle
    // string_aggs in the same (p_name, p_partkey) order.
    GraftQuery(
      "q54_genre_docs",
      """SELECT b.p_brand AS id, b.p_brand AS name,
        |  COALESCE(a.films, '') AS films
        |FROM (SELECT DISTINCT p_brand FROM part) b
        |LEFT JOIN (
        |  SELECT p_brand,
        |    string_agg(
        |      CAST(p_partkey AS STRING) || ':' || p_name || ':' ||
        |        CAST(CAST(round(p_retailprice*100) AS BIGINT) AS STRING),
        |      ',' ORDER BY p_name, p_partkey) AS films
        |  FROM part GROUP BY p_brand) a ON a.p_brand = b.p_brand
        |ORDER BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val parts = t(s, dir, "part")
      val genreDim = parts.select($"p_brand".as("id"), $"p_brand".as("name"))
        .distinct()
      val filmWork = parts.select($"p_partkey".as("id"),
        $"p_name".as("title"), cents($"p_retailprice").as("rating"))
      val gfw = parts.select($"p_brand".as("genre_id"),
        $"p_partkey".as("film_work_id"))
      graft.movies.Docs.genreDocs(genreDim, filmWork, gfw)
        .select($"id", $"name",
          array_join(
            transform($"filmworks", f => concat_ws(":",
              f.getField("id"), f.getField("title"),
              // the doc contract types imdb_rating double; the cents
              // are integral, so render as integer like the oracle
              f.getField("imdb_rating").cast("long"))), ",").as("films"))
        .orderBy($"id")
    },

    // Exact nearest-rank percentiles (p50/p90/p99) per group, computed
    // with the same integer/window arithmetic on both engines — no
    // interpolation, so results hash-match exactly. At scale this is
    // one shuffle (window) + map-side-combinable final agg; for sketch
    // trade-offs use percentile_approx/approx_count_distinct instead.
    GraftQuery(
      "q47_percentile_rank",
      """WITH v AS (
        |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS value_c,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(round(value*100) AS BIGINT), event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type,
        |  MAX(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT) THEN value_c END) AS p50_c,
        |  MAX(CASE WHEN rn = CAST(ceil(0.9*n) AS BIGINT) THEN value_c END) AS p90_c,
        |  MAX(CASE WHEN rn = CAST(ceil(0.99*n) AS BIGINT) THEN value_c END) AS p99_c,
        |  MAX(n) AS n
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val byType = Window.partitionBy($"event_type")
      val w = byType.orderBy($"value_c".asc, $"event_id".asc)
      def atQ(q: Double) = max(when(
        $"rn" === ceil(lit(q) * $"n").cast("long"), $"value_c"))
      t(s, dir, "events")
        .select($"event_type", cents($"value").as("value_c"), $"event_id")
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(byType))
        .groupBy($"event_type")
        .agg(atQ(0.5).as("p50_c"), atQ(0.9).as("p90_c"),
          atQ(0.99).as("p99_c"), max($"n").as("n"))
        .orderBy($"event_type")
    },

    // Correlated EXISTS / NOT EXISTS — the SQL face of q03/q04's
    // DataFrame semi/anti joins. Catalyst rewrites both predicates into
    // one semi- plus one anti-join on the correlation key; identical
    // SQL text runs on both engines (q73 pattern).
    GraftQuery("q92_exists_sql", RelationalSql.ExistsNotExists) {
      (s, dir) =>
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(RelationalSql.ExistsNotExists)
    },

    // Correlated LATERAL subquery with per-row ORDER BY + LIMIT (top-2
    // suppliers per nation) — Catalyst decorrelates the limit into a
    // partitioned window rank, not a per-row re-execution; identical
    // SQL text runs on both engines (q73 pattern). Money compares in
    // integer cents per the determinism contract.
    GraftQuery("q101_lateral_topk", RelationalSql.LateralTopK) {
      (s, dir) =>
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "supplier").createOrReplaceTempView("supplier")
      s.sql(RelationalSql.LateralTopK)
    },

    // Scalar-function conformance sweep (SURVEY §2.8): 20 string/date/
    // math built-ins whose semantics are identical across engines, run
    // as identical SQL text. Functions with engine-varying semantics
    // are deliberately absent: round() ties (half-up vs half-away)
    // appear only on positive cents where both agree, no DOW numbering
    // (engines disagree on week origin), no transcendentals (ulp
    // drift), dates leave as strings (dtype-sensitive gate).
    GraftQuery("q103_scalar_suite", RelationalSql.ScalarSuite) {
      (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(RelationalSql.ScalarSuite)
    },

    // Map-type operators (§2.8 map minting/lookup): per-customer
    // status→count maps via map_from_entries, read back with
    // map_keys/map_entries/element_at. Maps can't travel to the gate
    // (pandas can't sort dict cells — same reason as q17/A6), so the
    // surface is the entry list sorted and stringified; the DuckDB
    // oracle computes the identical strings relationally.
    GraftQuery(
      "q113_map_funcs",
      """WITH sc AS (
        |  SELECT o_custkey, o_orderstatus AS st, COUNT(*) AS cnt
        |  FROM orders WHERE o_custkey < 50
        |  GROUP BY o_custkey, o_orderstatus)
        |SELECT o_custkey,
        |  CAST(COUNT(*) AS INTEGER) AS n_keys,
        |  string_agg(st || ':' || CAST(cnt AS STRING), ',' ORDER BY st)
        |    AS entries_csv,
        |  string_agg(st, ',' ORDER BY st) AS keys_csv,
        |  CAST(COALESCE(MAX(CASE WHEN st = 'O' THEN cnt END), 0) AS BIGINT)
        |    AS n_open
        |FROM sc GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      t(s, dir, "orders").filter($"o_custkey" < 50)
        .groupBy($"o_custkey", $"o_orderstatus").count()
        .groupBy($"o_custkey")
        .agg(map_from_entries(
          sort_array(collect_list(struct($"o_orderstatus", $"count"))))
          .as("m"))
        .select($"o_custkey",
          size($"m").as("n_keys"),
          array_join(transform(map_entries($"m"), e =>
            concat(e.getField("key"), lit(":"),
              e.getField("value").cast("string"))), ",").as("entries_csv"),
          array_join(map_keys($"m"), ",").as("keys_csv"),
          coalesce(element_at($"m", "O"), lit(0L)).as("n_open"))
        .orderBy($"o_custkey")
    },

    // NULL-semantics suite: nulls group TOGETHER under GROUP BY,
    // COUNT(col) skips them where COUNT(*) doesn't, aggregates ignore
    // them, and a null-safe equality join (Spark `<=>` ≡ SQL IS NOT
    // DISTINCT FROM) matches null probe keys to null rows — the exact
    // places naive SQL ports silently drop or duplicate rows. Nulls
    // minted via NULLIF so the same base tables serve.
    GraftQuery(
      "q114_null_semantics",
      """WITH o AS (
        |  SELECT NULLIF(o_orderstatus, 'P') AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders),
        |g AS (
        |  SELECT COALESCE(st, '<null>') AS st_key,
        |    COUNT(*) AS n_all, COUNT(st) AS n_nonnull,
        |    CAST(SUM(price_c) AS BIGINT) AS sum_c
        |  FROM o GROUP BY st),
        |probe(st) AS (VALUES ('O'), ('F'), (NULL)),
        |j AS (
        |  SELECT COALESCE(p.st, '<null>') AS st_key, COUNT(*) AS n_matched
        |  FROM probe p JOIN o ON o.st IS NOT DISTINCT FROM p.st
        |  GROUP BY p.st)
        |SELECT g.st_key, g.n_all, g.n_nonnull, g.sum_c, j.n_matched
        |FROM g JOIN j ON g.st_key = j.st_key
        |ORDER BY g.st_key""".stripMargin) { (s, dir) =>
      import s.implicits._
      val o = t(s, dir, "orders").select(
        when($"o_orderstatus" === "P", lit(null).cast("string"))
          .otherwise($"o_orderstatus").as("st"),
        round($"o_totalprice" * 100, 0).cast("long").as("price_c"))
      val g = o.groupBy($"st")
        .agg(count(lit(1)).as("n_all"), count($"st").as("n_nonnull"),
          sum($"price_c").as("sum_c"))
        .select(coalesce($"st", lit("<null>")).as("st_key"),
          $"n_all", $"n_nonnull", $"sum_c")
      val probe = Seq(Some("O"), Some("F"), None)
        .toDF("pst")
      val j = probe.join(o, $"pst" <=> $"st")
        .groupBy($"pst")
        .agg(count(lit(1)).as("n_matched"))
        .select(coalesce($"pst", lit("<null>")).as("st_key"),
          $"n_matched")
      g.join(j, "st_key").orderBy($"st_key")
    },

    // Bloom-pruned join (semi-join reduction): build a 16Ki-bit / 3-hash
    // portable bloom filter over the filtered dimension's keys (driver
    // collect bounded at 256 longs — the filter itself), prune the fact
    // scan with a pure per-row membership expression BEFORE the shuffle,
    // then exact-join to drop false positives. No false negatives by
    // construction (same hash both sides), so the result is identical to
    // the plain join — which is exactly what the oracle checks. At scale
    // this ships ~10 bits/dimension-key to the fact scan instead of
    // shuffling the full fact table (SketchOps.bloomBuild scaladoc).
    GraftQuery(
      "q126_bloom_join",
      """SELECT c.c_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_c
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_acctbal > 9000
        |GROUP BY c.c_custkey
        |ORDER BY c.c_custkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.ops.SketchOps
      val dim = t(s, dir, "customer").filter($"c_acctbal" > 9000)
      val bloom = SketchOps.bloomBuild(
        dim.select($"c_custkey"), "c_custkey",
        mBits = 1 << 14, numHash = 3, salt = "bl1")
      t(s, dir, "orders")
        .filter(SketchOps.bloomMightContain($"o_custkey", bloom, 3, "bl1"))
        .join(dim, $"o_custkey" === $"c_custkey")
        .groupBy($"c_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(cents($"o_totalprice")).as("revenue_c"))
        .orderBy($"c_custkey")
    },

    // Referential-integrity audit across the whole star schema: per FK
    // relation, child row count, orphan count (anti-join against the
    // parent key set) and orphan rate in ppm — the ingest-QA gate a
    // warehouse runs after every load. Each relation is one DISTINCT
    // on the parent key + one anti-join; relations union to a
    // 5-row report.
    GraftQuery(
      "q201_ref_integrity",
      """WITH rels AS (
        |  SELECT 'lineitem.l_orderkey->orders' AS rel,
        |    (SELECT COUNT(*) FROM lineitem) AS n_child,
        |    (SELECT COUNT(*) FROM lineitem
        |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |      AS n_orphan
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem
        |     WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey->supplier',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem
        |     WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) FROM orders
        |     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |  UNION ALL
        |  SELECT 'customer.c_nationkey->nation',
        |    (SELECT COUNT(*) FROM customer),
        |    (SELECT COUNT(*) FROM customer
        |     WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)))
        |SELECT rel, CAST(n_child AS BIGINT) AS n_child,
        |  CAST(n_orphan AS BIGINT) AS n_orphan,
        |  CAST(n_orphan * 1000000 // n_child AS BIGINT) AS orphan_ppm
        |FROM rels ORDER BY rel""".stripMargin) { (s, dir) =>
      import s.implicits._
      val div = graft.functions.GraftColumns.longDiv _
      def audit(relName: String, child: org.apache.spark.sql.DataFrame,
          fk: String, parent: org.apache.spark.sql.DataFrame,
          pk: String) = {
        val keys = child.select(col(fk))
        val orphans = keys.join(parent.select(col(pk)),
          col(fk) === col(pk), "left_anti")
        keys.agg(count(lit(1)).as("n_child"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphan")))
          .select(lit(relName).as("rel"), $"n_child", $"n_orphan",
            div($"n_orphan" * 1000000L, $"n_child").as("orphan_ppm"))
      }
      val li = t(s, dir, "lineitem")
      audit("lineitem.l_orderkey->orders", li, "l_orderkey",
          t(s, dir, "orders"), "o_orderkey")
        .unionByName(audit("lineitem.l_partkey->part", li, "l_partkey",
          t(s, dir, "part"), "p_partkey"))
        .unionByName(audit("lineitem.l_suppkey->supplier", li,
          "l_suppkey", t(s, dir, "supplier"), "s_suppkey"))
        .unionByName(audit("orders.o_custkey->customer",
          t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"))
        .unionByName(audit("customer.c_nationkey->nation",
          t(s, dir, "customer"), "c_nationkey",
          t(s, dir, "nation"), "n_nationkey"))
        .orderBy($"rel")
    },

    // Id-sequence gap audit (ingestion completeness): bucket the id
    // domain into 1000-wide ranges; a bucket's missing count is its
    // in-domain span minus its present distinct ids — pure groupBy
    // arithmetic, NO ordered window over the corpus-sized id stream
    // (the global-window lead/lag shape would serialize; the bucket
    // report is exact and localizes every hole to a 1000-id range).
    // Domain bounds ride as an in-plan 1-row scalar.
    GraftQuery(
      "q202_id_gaps",
      """WITH ids AS (
        |  SELECT DISTINCT event_id AS id FROM events
        |  WHERE event_id % 97 <> 13),
        |b AS (
        |  SELECT id // 1000 AS bucket, COUNT(*) AS present
        |  FROM ids GROUP BY 1),
        |t AS (SELECT MIN(id) AS lo, MAX(id) AS hi FROM ids),
        |spans AS (
        |  SELECT bucket, present,
        |    LEAST(hi, bucket * 1000 + 999)
        |      - GREATEST(lo, bucket * 1000) + 1 AS span
        |  FROM b CROSS JOIN t)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(span AS BIGINT) AS span,
        |  CAST(present AS BIGINT) AS present,
        |  CAST(span - present AS BIGINT) AS missing
        |FROM spans WHERE span - present > 0
        |ORDER BY bucket""".stripMargin) { (s, dir) =>
      import s.implicits._
      val div = graft.functions.GraftColumns.longDiv _
      // the shipped ids are dense 0..N-1: drop a deterministic ~1% so
      // the audit demonstrably localizes real holes (id % 97 == 13)
      val ids = t(s, dir, "events")
        .where($"event_id" % 97L =!= 13L)
        .select($"event_id".as("id")).distinct()
      val buckets = ids.groupBy(div($"id", lit(1000L)).as("bucket"))
        .agg(count(lit(1)).as("present"))
      val bounds = ids.agg(min($"id").as("lo"), max($"id").as("hi"))
      buckets.crossJoin(broadcast(bounds))
        .select($"bucket",
          (least($"hi", $"bucket" * 1000L + 999L) -
            greatest($"lo", $"bucket" * 1000L) + 1L).as("span"),
          $"present")
        .withColumn("missing", $"span" - $"present")
        .where($"missing" > 0L)
        .orderBy($"bucket")
    },

    // Join-key skew profile (shuffle-planning diagnosis): for a join
    // key column, the key-multiplicity distribution — nearest-rank
    // p50/p90/p99/max over the MULTIPLICITY HISTOGRAM (two nested
    // domain reductions: corpus → per-key counts → counts-of-counts;
    // no corpus-sized window) — plus the top-5 hot keys. The readout
    // that decides salting/broadcast before a 100 TB join.
    GraftQuery(
      "q217_skew_profile",
      """WITH k AS (
        |  SELECT l_partkey AS key, COUNT(*) AS m
        |  FROM lineitem GROUP BY 1),
        |hist AS (SELECT m, COUNT(*) AS nk FROM k GROUP BY 1),
        |c AS (
        |  SELECT m, nk,
        |    SUM(nk) OVER (ORDER BY m) AS cum,
        |    SUM(nk) OVER () AS n
        |  FROM hist),
        |qs AS (
        |  SELECT
        |    MIN(CASE WHEN cum * 100 >= n * 50 THEN m END) AS p50,
        |    MIN(CASE WHEN cum * 100 >= n * 90 THEN m END) AS p90,
        |    MIN(CASE WHEN cum * 100 >= n * 99 THEN m END) AS p99,
        |    MAX(m) AS mx
        |  FROM c),
        |hot AS (
        |  SELECT key, m,
        |    row_number() OVER (ORDER BY m DESC, key) AS r
        |  FROM k),
        |rows_ AS (
        |  SELECT 'p50' AS metric, CAST(-1 AS BIGINT) AS key,
        |    CAST(p50 AS BIGINT) AS v FROM qs
        |  UNION ALL SELECT 'p90', -1, p90 FROM qs
        |  UNION ALL SELECT 'p99', -1, p99 FROM qs
        |  UNION ALL SELECT 'pmax', -1, mx FROM qs
        |  UNION ALL SELECT 'hot' || CAST(r AS VARCHAR), key, m
        |  FROM hot WHERE r <= 5)
        |SELECT metric, CAST(key AS BIGINT) AS key, CAST(v AS BIGINT) AS v
        |FROM rows_ ORDER BY metric, key""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val k = t(s, dir, "lineitem")
        .groupBy($"l_partkey".as("key")).agg(count(lit(1)).as("m"))
      // multiplicity-histogram CDF: the distinct-multiplicity domain
      // grows with the corpus — range-partitioned prefix sum +
      // broadcast total, not a global ordered window (VERDICT r7 #2
      // class)
      val hist = k.groupBy($"m").agg(count(lit(1)).as("nk"))
      val totH = hist.agg(sum($"nk").as("n"))
      val c = graft.ops.IdOps
        .prefixSums(hist, Seq("nk"), Seq("cum"), inclusive = true, "m")
        .crossJoin(broadcast(totH))
      val qs = c.agg(
        min(when($"cum" * 100L >= $"n" * 50L, $"m")).as("p50"),
        min(when($"cum" * 100L >= $"n" * 90L, $"m")).as("p90"),
        min(when($"cum" * 100L >= $"n" * 99L, $"m")).as("p99"),
        max($"m").as("mx"))
      // top-5 hot keys: TakeOrdered limit FIRST (parallel reducers),
      // then rank within the 5 surviving rows — the global row_number
      // window only ever sees a bounded input
      val hot = k
        .orderBy($"m".desc, $"key").limit(5)
        .withColumn("r", row_number().over(Window.orderBy($"m".desc, $"key")))
        .where($"r" <= 5)
      val qRows = qs.select(explode(array(
          struct(lit("p50").as("metric"), lit(-1L).as("key"),
            $"p50".as("v")),
          struct(lit("p90").as("metric"), lit(-1L).as("key"),
            $"p90".as("v")),
          struct(lit("p99").as("metric"), lit(-1L).as("key"),
            $"p99".as("v")),
          struct(lit("pmax").as("metric"), lit(-1L).as("key"),
            $"mx".as("v")))).as("s"))
        .select($"s.metric", $"s.key", $"s.v")
      qRows.unionByName(hot.select(
          concat(lit("hot"), $"r".cast("string")).as("metric"),
          $"key", $"m".as("v")))
        .orderBy($"metric", $"key")
    },

    // RFM customer segmentation (recency / frequency / monetary
    // quintiles): per-customer metrics in one orders pass, each metric
    // percentile-ranked via CurationOps.percentileNormalize (the
    // strictly-below rule over the VALUE HISTOGRAM — q168's contract,
    // no corpus row_number), quintile = pct·5 div 1e6 + 1; segments
    // roll up to ≤125 rows. Corpus max date rides as an in-plan 1-row
    // scalar.
    GraftQuery(
      "q221_rfm",
      """WITH gmax AS (
        |  SELECT MAX(epoch_us(o_orderdate)) AS mt FROM orders),
        |m AS (
        |  SELECT o_custkey AS ck,
        |    (gmax.mt - MAX(epoch_us(o_orderdate))) // 86400000000
        |      AS rec,
        |    COUNT(*) AS f,
        |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT))
        |      AS BIGINT) AS mon
        |  FROM orders CROSS JOIN gmax GROUP BY ck, gmax.mt),
        |n_ AS (SELECT COUNT(*) AS n FROM m),
        |p AS (
        |  SELECT ck,
        |    (RANK() OVER (ORDER BY rec) - 1) * 1000000 // n_.n AS rp,
        |    (RANK() OVER (ORDER BY f) - 1) * 1000000 // n_.n AS fp,
        |    (RANK() OVER (ORDER BY mon) - 1) * 1000000 // n_.n AS mp
        |  FROM m CROSS JOIN n_),
        |q AS (
        |  SELECT ck, rp * 5 // 1000000 + 1 AS rq,
        |    fp * 5 // 1000000 + 1 AS fq, mp * 5 // 1000000 + 1 AS mq
        |  FROM p)
        |SELECT CAST(rq AS BIGINT) AS rq, CAST(fq AS BIGINT) AS fq,
        |  CAST(mq AS BIGINT) AS mq, COUNT(*) AS n_customers,
        |  CAST(SUM(ck) AS BIGINT) AS ck_sum
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      import graft.ops.CurationOps
      val div = graft.functions.GraftColumns.longDiv _
      val orders = t(s, dir, "orders")
        .select($"o_custkey".as("ck"),
          // NTZ → session-TZ reinterpretation (UTC session: a no-op,
          // the q18 pattern) so unix_micros resolves
          unix_micros($"o_orderdate".cast("timestamp")).as("od"),
          cents($"o_totalprice").as("vc"))
      val gmax = orders.agg(max($"od").as("__mt"))
      val m = orders.crossJoin(broadcast(gmax))
        .groupBy($"ck")
        .agg(div(min($"__mt") - max($"od"), lit(86400000000L)).as("rec"),
          count(lit(1)).as("f"), sum($"vc").as("mon"))
        .withColumn("g", lit(1L))
      def quint(df: org.apache.spark.sql.DataFrame, c: String,
          out: String) =
        CurationOps.percentileNormalize(df, "g", c)
          .withColumn(out, div($"pct_ppm" * 5L, lit(1000000L)) + 1L)
          .drop("pct_ppm")
      val q3 = quint(quint(quint(m, "rec", "rq"), "f", "fq"), "mon", "mq")
      q3.groupBy($"rq", $"fq", $"mq")
        .agg(count(lit(1)).as("n_customers"), sum($"ck").as("ck_sum"))
        .orderBy($"rq", $"fq", $"mq")
    },

    // 2-D skyline / Pareto front (minimize price, maximize size —
    // "best value for money" over parts): the classic dominance query
    // WITHOUT the n² dominance join — in 2-D a row is on the skyline
    // iff its size beats every STRICTLY-CHEAPER row's max size (one
    // RANGE-frame running max over the price order) and nothing at its
    // own price has more size (one equal-price max). Two windows over
    // the dimension table; equal (price, size) ties are mutually
    // non-dominating and all kept.
    GraftQuery(
      "q230_skyline",
      """WITH p AS (
        |  SELECT p_partkey,
        |    CAST(round(p_retailprice*100) AS BIGINT) AS price_c,
        |    CAST(p_size AS BIGINT) AS size
        |  FROM part),
        |w AS (
        |  SELECT p_partkey, price_c, size,
        |    MAX(size) OVER (ORDER BY price_c
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS best_cheaper,
        |    MAX(size) OVER (PARTITION BY price_c) AS best_here
        |  FROM p)
        |SELECT p_partkey, price_c, size
        |FROM w
        |WHERE (best_cheaper IS NULL OR size > best_cheaper)
        |  AND size = best_here
        |ORDER BY price_c, p_partkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val p = t(s, dir, "part")
        .select($"p_partkey", cents($"p_retailprice").as("price_c"),
          $"p_size".cast("long").as("size"))
      // best-so-far over the strictly-cheaper prefix: exclusive prefix
      // MAX over the price VALUE HISTOGRAM (range-partitioned, NULL on
      // the cheapest price = SQL's empty-frame MAX), equi-joined back —
      // the global range window walked every part row through one
      // reducer on a price domain that grows with the corpus (VERDICT
      // r7 #2 class)
      val hist = p.groupBy($"price_c").agg(max($"size").as("best_here"))
      val cum = graft.ops.IdOps.prefixMaxes(
        hist, Seq("best_here"), Seq("best_cheaper"),
        inclusive = false, "price_c")
      p.join(cum, Seq("price_c"))
        .where(($"best_cheaper".isNull || $"size" > $"best_cheaper") &&
          $"size" === $"best_here")
        .select($"p_partkey", $"price_c", $"size")
        .orderBy($"price_c", $"p_partkey")
    },

    // Incremental JOIN-view maintenance (ΔV = ΔA ⋈ B for an
    // append-only fact): the denormalized order-customer view is
    // materialized for the base orders, then a late-arriving order
    // delta joins the dimension ALONE and unions in — |Δ| join cost
    // per refresh, never a re-join of the base (the materialized-view
    // law next to q89's rollup merge and q115's incremental CC). The
    // oracle computes the FULL join from scratch: incremental ≡
    // recomputed is exactly the gate.
    GraftQuery(
      "q237_incremental_join",
      """SELECT c.c_mktsegment, o.o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(o.o_totalprice*100) AS BIGINT))
        |    AS BIGINT) AS revenue_c
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val customer = t(s, dir, "customer")
        .select($"c_custkey", $"c_mktsegment")
      val orders = t(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_orderstatus",
          cents($"o_totalprice").as("vc"))
      def joined(o: org.apache.spark.sql.DataFrame) =
        o.join(customer, $"c_custkey" === $"o_custkey")
          .select($"c_mktsegment", $"o_orderstatus", $"vc")
      // the materialized base view — checkpointed so the incremental
      // path demonstrably does NOT re-execute the base join
      val baseView = joined(orders.where($"o_orderkey" % 5L =!= 0L))
        .graftCheckpoint()
      val delta = orders.where($"o_orderkey" % 5L === 0L)
      baseView.unionByName(joined(delta))
        .groupBy($"c_mktsegment", $"o_orderstatus")
        .agg(count(lit(1)).as("n"), sum($"vc").as("revenue_c"))
        .orderBy($"c_mktsegment", $"o_orderstatus")
    },

    // Revenue-concentration readout: exact Gini coefficient over the
    // per-customer revenue VALUE HISTOGRAM (2·Σ rank·x expands to
    // Σ v·c·(2·cum_before + c + 1) per distinct value — no corpus
    // row_number; the q163 histogram contract), Herfindahl index from
    // ppm shares, and the top-10% revenue share from the rank-trim
    // interval arithmetic of q220. One row.
    GraftQuery(
      "q240_concentration",
      """WITH m AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |h AS (SELECT rev AS v, COUNT(*) AS c FROM m GROUP BY 1),
        |w AS (
        |  SELECT v, c,
        |    SUM(c) OVER (ORDER BY v) - c AS cumb,
        |    SUM(c) OVER () AS n, SUM(v*c) OVER () AS sx
        |  FROM h),
        |g AS (
        |  SELECT MIN(n) AS n, MIN(sx) AS sx,
        |    CAST(SUM(v * c * (2*cumb + c + 1)) AS BIGINT) AS s2,
        |    CAST(SUM(CASE WHEN cumb + c > n - (n // 10)
        |      THEN v * (cumb + c - GREATEST(cumb, n - (n // 10)))
        |      ELSE 0 END) AS BIGINT) AS top_rev
        |  FROM w),
        |hh AS (
        |  SELECT CAST(SUM(((m.rev * 1000000 // g.sx)
        |      * (m.rev * 1000000 // g.sx)) // 1000000) AS BIGINT)
        |    AS hhi_ppm
        |  FROM m CROSS JOIN g)
        |SELECT CAST(g.n AS BIGINT) AS n_customers,
        |  CAST(g.sx AS BIGINT) AS total_rev_c,
        |  CASE WHEN g.n * g.sx // 1000000 > 0 THEN
        |    CAST((g.s2 - (g.n + 1) * g.sx)
        |      // (g.n * g.sx // 1000000) AS BIGINT)
        |  END AS gini_ppm,
        |  hh.hhi_ppm,
        |  CAST(g.top_rev * 1000000 // g.sx AS BIGINT)
        |    AS top_decile_share_ppm
        |FROM g CROSS JOIN hh""".stripMargin) { (s, dir) =>
      import s.implicits._
      val div = graft.functions.GraftColumns.longDiv _
      val m = t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(sum(cents($"o_totalprice")).as("rev"))
        .graftCheckpoint() // histogram + HHI share scan
      // The revenue-value domain grows with the corpus — a global
      // `SUM OVER (ORDER BY v)` window (and the `OVER ()` totals)
      // would funnel the whole histogram through one reducer at scale.
      // Range-partitioned prefix sum + broadcast 1-row totals compute
      // the identical exact values with parallel reducers (VERDICT r7
      // #2; the oracle keeps the window formulation).
      val h = m.groupBy($"rev".as("v")).agg(count(lit(1)).as("c"))
      val tot = h.agg(sum($"c").as("n"), sum($"v" * $"c").as("sx"))
      val w = graft.ops.IdOps
        .prefixSums(h, Seq("c"), Seq("cumb"), inclusive = false, "v")
        .crossJoin(broadcast(tot))
      val cut = $"n" - div($"n", lit(10L))
      val g = w.agg(min($"n").as("n"), min($"sx").as("sx"),
        sum($"v" * $"c" * (lit(2L) * $"cumb" + $"c" + 1L)).as("s2"),
        sum(when($"cumb" + $"c" > cut,
          $"v" * ($"cumb" + $"c" - greatest($"cumb", cut)))
          .otherwise(0L)).as("top_rev"))
      val hh = m.crossJoin(broadcast(g))
        .agg(sum(div(
          div($"rev" * 1000000L, $"sx") * div($"rev" * 1000000L, $"sx"),
          lit(1000000L))).as("hhi_ppm"))
      g.crossJoin(broadcast(hh))
        .select($"n".as("n_customers"), $"sx".as("total_rev_c"),
          // (s2 − (n+1)sx)·1e6 overflows Long at realistic revenue
          // totals — scale the denominator down instead (q205 form)
          when(div($"n" * $"sx", lit(1000000L)) > 0L,
            div($"s2" - ($"n" + 1L) * $"sx",
              div($"n" * $"sx", lit(1000000L)))).as("gini_ppm"),
          $"hhi_ppm",
          div($"top_rev" * 1000000L, $"sx").as("top_decile_share_ppm"))
    },

    // Deterministic argmax WITHOUT a join or window: max(struct(v, k))
    // — the struct's lexicographic order makes "the key holding the
    // max value, ties to the larger key" a plain map-side-combinable
    // aggregate (built-in max_by's tie behavior is NONDETERMINISTIC —
    // this idiom is the hash-stable form; the oracle replays it as a
    // rank-1 window with the identical total order).
    GraftQuery(
      "q246_argmax",
      """WITH c AS (
        |  SELECT l_returnflag AS f, l_orderkey,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS price_c
        |  FROM lineitem),
        |r AS (
        |  SELECT f, l_orderkey, price_c,
        |    row_number() OVER (PARTITION BY f
        |      ORDER BY price_c DESC, l_orderkey DESC) AS rk,
        |    COUNT(*) OVER (PARTITION BY f) AS n
        |  FROM c)
        |SELECT f AS l_returnflag, CAST(n AS BIGINT) AS n,
        |  price_c AS top_price_c,
        |  CAST(l_orderkey AS BIGINT) AS top_orderkey
        |FROM r WHERE rk = 1 ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .select($"l_returnflag".as("f"), $"l_orderkey",
          cents($"l_extendedprice").as("price_c"))
        .groupBy($"f")
        .agg(count(lit(1)).as("n"),
          max(struct($"price_c", $"l_orderkey")).as("__m"))
        .select($"f".as("l_returnflag"), $"n",
          $"__m.price_c".as("top_price_c"),
          $"__m.l_orderkey".cast("long").as("top_orderkey"))
        .orderBy($"l_returnflag")
    },

    // TPC-H Q3 shape (shipping priority): the canonical 3-table
    // selective join + revenue agg + top-10. Revenue in exact integer
    // milli-cents (cents·(1000−disc_milli)); broadcast dim (customer
    // segment slice), shuffle equi-join orders⋈lineitem, TakeOrdered.
    GraftQuery(
      "q279_shipping_priority",
      """SELECT l.l_orderkey,
        |  CAST(SUM(CAST(round(l.l_extendedprice*100) AS BIGINT) *
        |    (1000 - CAST(round(l.l_discount*1000) AS BIGINT)))
        |    AS BIGINT) AS revenue_mc,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS odate,
        |  o.o_orderpriority
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l.l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 3, 4
        |ORDER BY revenue_mc DESC, l_orderkey LIMIT 10""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" > lit("1998-06-01").cast("timestamp"))
        .join(t(s, dir, "orders")
          .filter($"o_orderdate" < lit("1998-06-01").cast("timestamp")),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(t(s, dir, "customer")
          .filter($"c_mktsegment" === "BUILDING")),
          $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey",
          date_format($"o_orderdate", "yyyy-MM-dd").as("odate"),
          $"o_orderpriority")
        .agg(sum(cents($"l_extendedprice") *
          (lit(1000L) - round($"l_discount" * 1000, 0).cast("long")))
          .as("revenue_mc"))
        .select($"l_orderkey", $"revenue_mc", $"odate",
          $"o_orderpriority")
        .orderBy($"revenue_mc".desc, $"l_orderkey").limit(10)
    },

    // TPC-H Q10 shape (returned items): who returned the most revenue
    // in the window — 4-table join (two broadcast dims), grouped
    // revenue, top-20.
    GraftQuery(
      "q280_returned_items",
      """SELECT c.c_custkey, c.c_name, n.n_name AS nation,
        |  CAST(SUM(CAST(round(l.l_extendedprice*100) AS BIGINT) *
        |    (1000 - CAST(round(l.l_discount*1000) AS BIGINT)))
        |    AS BIGINT) AS revenue_mc,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM customer c
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '2000-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_mc DESC, c_custkey LIMIT 20""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_returnflag" === "R")
        .join(t(s, dir, "orders")
          .filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp")),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(t(s, dir, "customer")),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(t(s, dir, "nation")),
          $"c_nationkey" === $"n_nationkey")
        .groupBy($"c_custkey", $"c_name", $"n_name".as("nation"))
        .agg(sum(cents($"l_extendedprice") *
          (lit(1000L) - round($"l_discount" * 1000, 0).cast("long")))
          .as("revenue_mc"),
          count(lit(1)).as("n_items"))
        .orderBy($"revenue_mc".desc, $"c_custkey").limit(20)
    },

    // TPC-H Q18 shape (large-volume customers): HAVING on an order's
    // total quantity, then a semi-join-shaped join-back for the order
    // and customer detail — the agg-then-filter-then-rejoin composite.
    // Quantities in exact deci-units.
    GraftQuery(
      "q281_large_volume",
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(round(l_quantity*10) AS BIGINT)) AS BIGINT)
        |      AS qty_d
        |  FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(round(l_quantity*10) AS BIGINT)) > 3000)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS odate,
        |  CAST(round(o.o_totalprice*100) AS BIGINT) AS total_c,
        |  big.qty_d
        |FROM big
        |JOIN orders o ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY total_c DESC, o_orderkey LIMIT 20""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      val big = t(s, dir, "lineitem")
        .groupBy($"l_orderkey")
        .agg(sum(round($"l_quantity" * 10, 0).cast("long")).as("qty_d"))
        .filter($"qty_d" > 3000L)
      big
        .join(t(s, dir, "orders"), $"o_orderkey" === $"l_orderkey")
        .join(broadcast(t(s, dir, "customer")),
          $"c_custkey" === $"o_custkey")
        .select($"c_name", $"c_custkey", $"o_orderkey",
          date_format($"o_orderdate", "yyyy-MM-dd").as("odate"),
          cents($"o_totalprice").as("total_c"), $"qty_d")
        .orderBy($"total_c".desc, $"o_orderkey").limit(20)
    },

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated
    // scalar subquery "l_quantity < 0.2·avg(quantity) per part",
    // decorrelated the way an optimizer must — ONE per-part aggregate
    // joined back to the fact (never a per-row subquery execution).
    // Exact integers: deci-unit quantities, floor-div per-part mean,
    // and 5·qty < mean ⇔ qty < mean/5 without rationals.
    GraftQuery(
      "q282_small_qty_revenue",
      """WITH pavg AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(round(l_quantity*10) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS avg_d
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(round(l.l_extendedprice*100) AS BIGINT))
        |    AS BIGINT) AS revenue_c
        |FROM lineitem l JOIN pavg p ON p.l_partkey = l.l_partkey
        |WHERE CAST(round(l.l_quantity*10) AS BIGINT) * 5 < p.avg_d
        |""".stripMargin) { (s, dir) =>
      import s.implicits._
      val div = graft.functions.GraftColumns.longDiv _
      val li = t(s, dir, "lineitem")
        .select($"l_partkey", $"l_extendedprice",
          round($"l_quantity" * 10, 0).cast("long").as("qty_d"))
      val pavg = li.groupBy($"l_partkey")
        .agg(div(sum($"qty_d"), count(lit(1))).as("avg_d"))
      li.join(pavg, Seq("l_partkey"))
        .filter($"qty_d" * 5 < $"avg_d")
        .agg(count(lit(1)).as("n_lines"),
          sum(cents($"l_extendedprice")).as("revenue_c"))
    },

    // ABC / Pareto revenue classification: parts ranked by revenue,
    // cumulative share cut at 80%/95% (inclusive-cum ppm against the
    // 1-row total). The ranking window runs over the PART domain —
    // catalog-sized, not corpus-sized (the fact table reduces to one
    // row per part first; bounded-domain contract). 3-row readout.
    GraftQuery(
      "q285_abc_classification",
      """WITH pr AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT))
        |      AS BIGINT) AS rev_c
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS t FROM pr),
        |cum AS (
        |  SELECT l_partkey, rev_c,
        |    CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey)
        |      * 1000000 // tot.t AS BIGINT) AS cum_ppm
        |  FROM pr CROSS JOIN tot),
        |cls AS (
        |  SELECT CASE WHEN cum_ppm <= 800000 THEN 'A'
        |              WHEN cum_ppm <= 950000 THEN 'B'
        |              ELSE 'C' END AS abc, rev_c
        |  FROM cum)
        |SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(rev_c) AS BIGINT) AS revenue_c,
        |  CAST(SUM(rev_c) * 1000000 // MIN(tot.t) AS BIGINT)
        |    AS share_ppm
        |FROM cls CROSS JOIN tot
        |GROUP BY abc ORDER BY abc""".stripMargin) { (s, dir) =>
      import s.implicits._
      val div = graft.functions.GraftColumns.longDiv _
      val pr = t(s, dir, "lineitem")
        .groupBy($"l_partkey")
        .agg(sum(cents($"l_extendedprice")).as("rev_c"))
      val tot = pr.agg(sum($"rev_c").as("__t"))
      val w = Window.orderBy($"rev_c".desc, $"l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pr.crossJoin(broadcast(tot))
        .withColumn("cum_ppm",
          div(sum($"rev_c").over(w) * 1000000L, $"__t"))
        .withColumn("abc",
          when($"cum_ppm" <= 800000L, "A")
            .when($"cum_ppm" <= 950000L, "B").otherwise("C"))
        .groupBy($"abc")
        .agg(count(lit(1)).as("n_parts"),
          sum($"rev_c").as("revenue_c"),
          div(sum($"rev_c") * 1000000L, min($"__t")).as("share_ppm"))
        .orderBy($"abc")
    },

    // UNPIVOT (wide → long melt): the inverse of q113's PIVOT —
    // per-order charge components (price, tax-cents, discount-cents)
    // melted to (o_orderkey, component, amount_c) rows via `stack`.
    // Pure per-row projection + explode; zero shuffle besides the
    // final order.
    GraftQuery(
      "q286_unpivot",
      """SELECT o_orderkey, component, amount_c FROM (
        |  SELECT l_orderkey AS o_orderkey,
        |    CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT))
        |      AS BIGINT) AS price_c,
        |    CAST(SUM(CAST(round(l_extendedprice*l_tax*100) AS BIGINT))
        |      AS BIGINT) AS tax_c,
        |    CAST(SUM(CAST(round(l_extendedprice*l_discount*100)
        |      AS BIGINT)) AS BIGINT) AS disc_c
        |  FROM lineitem WHERE l_orderkey < 200 GROUP BY 1)
        |UNPIVOT (amount_c FOR component IN
        |  (price_c AS 'price', tax_c AS 'tax', disc_c AS 'discount'))
        |ORDER BY o_orderkey, component""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_orderkey" < 200)
        .groupBy($"l_orderkey".as("o_orderkey"))
        .agg(
          sum(cents($"l_extendedprice")).as("price_c"),
          sum(round($"l_extendedprice" * $"l_tax" * 100, 0).cast("long"))
            .as("tax_c"),
          sum(round($"l_extendedprice" * $"l_discount" * 100, 0)
            .cast("long")).as("disc_c"))
        .select($"o_orderkey", expr(
          "stack(3, 'price', price_c, 'tax', tax_c, " +
            "'discount', disc_c) AS (component, amount_c)"))
        .orderBy($"o_orderkey", $"component")
    })
}

/** SQL texts that run verbatim on BOTH engines (q73 pattern). */
private object RelationalSql {
  val ExistsNotExists: String =
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o2
      |    WHERE o2.o_custkey = c.c_custkey
      |      AND o2.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  val LateralTopK: String =
    """SELECT n.n_name, t.s_name, t.acctbal_cents
      |FROM nation n, LATERAL (
      |  SELECT s_name,
      |    CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents
      |  FROM supplier s
      |  WHERE s.s_nationkey = n.n_nationkey
      |  ORDER BY acctbal_cents DESC, s_name
      |  LIMIT 2) t
      |ORDER BY n.n_name, t.acctbal_cents DESC, t.s_name""".stripMargin

  val ScalarSuite: String =
    """SELECT o_orderkey,
      |  upper(o_orderpriority) AS s_upper,
      |  lower(o_orderpriority) AS s_lower,
      |  substr(o_orderpriority, 3) AS s_substr,
      |  lpad(o_orderstatus, 5, '*') AS s_lpad,
      |  rpad(o_orderstatus, 5, '.') AS s_rpad,
      |  split_part(o_orderpriority, '-', 1) AS s_split,
      |  translate(o_orderpriority, 'AEIOU', 'aeiou') AS s_translate,
      |  repeat(o_orderstatus, 3) AS s_repeat,
      |  reverse(o_orderpriority) AS s_reverse,
      |  left(o_orderpriority, 4) AS s_left,
      |  right(o_orderpriority, 3) AS s_right,
      |  CAST(instr(o_orderpriority, '-') AS BIGINT) AS n_instr,
      |  CAST(length(o_orderpriority) AS BIGINT) AS n_len,
      |  CAST(levenshtein(o_orderstatus, 'OF') AS BIGINT) AS n_lev,
      |  concat_ws('#', o_orderstatus, o_orderpriority) AS s_concat,
      |  CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS STRING)
      |    AS d_trunc,
      |  CAST(last_day(CAST(o_orderdate AS DATE)) AS STRING) AS d_lastday,
      |  CAST(extract(year FROM o_orderdate) AS BIGINT) AS n_year,
      |  CAST(extract(day FROM o_orderdate) AS BIGINT) AS n_day,
      |  abs(CAST(round(o_totalprice * 100) AS BIGINT) - 10000000) AS n_abs,
      |  greatest(CAST(round(o_totalprice * 100) AS BIGINT), 5000000)
      |    AS n_greatest,
      |  least(CAST(o_orderkey AS BIGINT) % 7, 3) AS n_least
      |FROM orders WHERE o_orderkey < 300
      |ORDER BY o_orderkey""".stripMargin
}
