package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.functions.{Estimate, Exact, LatestAggregator, LatestIn}
import graft.model.Tables
import graft.util.Scratch

/** Source/sink/DAG operators that complete the reference inventory:
  * the binaryFile object-store scan with filename parsing (S1/S2/F1),
  * the materialized-intermediate-with-skip dataflow edge (D1, Luigi's
  * target-exists pruning), and the custom Aggregator UDAF (K2 as a
  * user-defined aggregation). */
object Extras {

  /** Write one small .bin object per station into `out`, named
    * `station_id_<id>_<basicIso>.bin` — the reference's S3 object
    * layout (reference: tasks.py:20-25, estimate_queue.py:38). The
    * write runs on executors via foreachPartition (a custom sink, not
    * a driver-side loop); content is `<id>:<basicIso>` bytes so every
    * byte of the fixture is derivable by the oracle. */
  private def writeStationObjects(spark: SparkSession, dir: String, out: String): Unit = {
    val latest = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max_by(date_format(col("ts"), "yyyyMMdd'T'HHmmss"),
        struct(col("ts"), col("event_id"))).as("ts_basic"))
      .select(col("user_id"), col("ts_basic"))
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    latest.foreachPartition { rows: Iterator[Row] =>
      val fs = new Path(out).getFileSystem(conf.value)
      rows.foreach { r =>
        val name = s"station_id_${r.getLong(0)}_${r.getString(1)}.bin"
        val body = s"${r.getLong(0)}:${r.getString(1)}"
        val os = fs.create(new Path(out, name), true)
        try os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally os.close()
      }
    }
  }

  /** One text, two engines (see q_sql_frontend below). Declared BEFORE
    * `all` — object vals initialize in declaration order, and the
    * QueryDef's oracle captures this value eagerly. */
  val SqlFrontendText: String =
    """SELECT c_mktsegment, count(*) AS n,
  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS STRING) AS DOUBLE)
    AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'F'
GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** One LATERAL text, two engines (see q_lateral_topk below): the
    * correlated lateral subquery — per outer row, an ordered-and-
    * limited dependent subquery — is its own operator (Spark plans a
    * LateralJoin / DomainJoin rewrite, NOT a window): the "top-k
    * related rows per entity" shape written the way SQL users write
    * it. Dialect-neutral: comma-LATERAL syntax and a full-key ORDER
    * BY parse identically in both engines. */
  val LateralTopKText: String =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey"""

  /** One null-semantics text, two engines (see q_null_semantics
    * below): the SQL three-valued-logic landmines every cross-engine
    * port trips on, pinned as a single gated result — count(*) vs
    * count(col) under NULLs, aggregate NULL-skipping, the NULL group
    * key being a real GROUP BY group, grouping sets totals, and the
    * classic `NOT IN (subquery containing NULL)` ⇒ zero rows trap.
    * Nulls are synthesized deterministically (the testdata has none),
    * so the contract is engine semantics, not data luck. */
  val NullSemanticsText: String =
    """WITH n AS (
  SELECT event_id,
    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v,
    CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_type END AS k
  FROM events),
trap AS (
  SELECT CAST(count(*) AS BIGINT) AS not_in_rows
  FROM n WHERE event_id NOT IN
    (SELECT CASE WHEN event_id % 2 = 0 THEN event_id ELSE NULL END FROM n))
SELECT k,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(v) AS BIGINT) AS n_nonnull,
  CAST(CAST(sum(CAST(v AS DECIMAL(30,2))) AS STRING) AS DOUBLE) AS sum_v,
  CAST(grouping(k) AS BIGINT) AS is_total,
  (SELECT not_in_rows FROM trap) AS not_in_rows
FROM n GROUP BY GROUPING SETS ((k), ()) ORDER BY is_total, k NULLS FIRST"""

  /** One recursive text, two engines (see q_recursive_cte below).
    * Declared before `all` for the same initialization-order reason as
    * [[SqlFrontendText]]. Dialect-neutral choices: `floor(x / 10)` for
    * integer parent derivation (both engines' `/` on integers is
    * double; `//` vs `div` would fork the text) and explicit BIGINT
    * casts on every output. */
  val RecursiveCteText: String =
    """WITH RECURSIVE anc(node, up, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  UNION ALL
  SELECT node, CAST(floor(up / 10) AS BIGINT), depth + 1
  FROM anc WHERE up > 0)
SELECT CAST(depth AS BIGINT) AS depth, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(node) AS BIGINT) AS sum_node
FROM anc GROUP BY depth ORDER BY depth"""

  val all: Seq[QueryDef] = Seq(

    // --- S1/S2/F1: object-store prefix scan of binary objects +
    // filename regex parse + Oslo timestamp decode. binaryFile is the
    // exact Spark shape of the reference's S3 prefix listing
    // (preprocess_image.py:22-33): one object = one row with
    // (path, modificationTime, length, content).
    QueryDef("q_binary_source",
      (spark, dir) => {
        val out = Scratch.fresh(spark, dir, "binary-source")
        writeStationObjects(spark, dir, out)
        val basicTs = Estimate.parseStationTs(col("path"))
        spark.read.format("binaryFile")
          .option("pathGlobFilter", "*.bin")
          .load(out)
          .select(
            Estimate.parseStationId(col("path")).as("station_id"),
            basicTs.as("ts_basic"),
            Estimate.osloEpoch(basicTs).as("oslo_epoch"),
            col("length").as("n_bytes"),
            md5(col("content")).as("content_md5"))
          .orderBy(col("station_id"))
      },
      Some("""WITH latest AS (
  SELECT user_id, ts_basic FROM (
    SELECT user_id, strftime(ts, '%Y%m%dT%H%M%S') AS ts_basic,
      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1)
SELECT user_id AS station_id, ts_basic,
  CAST(epoch(timezone('Europe/Oslo', strptime(ts_basic, '%Y%m%dT%H%M%S'))) AS BIGINT) AS oslo_epoch,
  CAST(length(CAST(user_id AS VARCHAR) || ':' || ts_basic) AS BIGINT) AS n_bytes,
  md5(CAST(user_id AS VARCHAR) || ':' || ts_basic) AS content_md5
FROM latest ORDER BY station_id""")),

    // --- F1 strict mode: the reference RAISES on a malformed object
    // key (estimate_queue.py:40-45 ValueError) where q_binary_source
    // demonstrates the set-at-a-time NULL-rejection. Here a synthetic
    // key corpus carries deterministic poison rows (event_id % 97 → a
    // scratch file name); the audit returns the exact malformed count
    // (oracle-pinned) and runs parseStationIdStrict — raise_error
    // armed — over every valid key: one malformed key slipping past
    // the quarantine predicate would abort the job, which is the
    // fail-fast contract. EstimateSpec pins that the strict parser
    // actually throws on poison input. Single-pass conditional
    // aggregation: no join, no second scan.
    QueryDef("q_parse_strict",
      (spark, dir) => {
        val key = when(col("event_id") % 97 === 0,
          concat(lit("scratch_"), col("event_id").cast("string"), lit(".tmp")))
          .otherwise(concat(lit("station_id_"), col("user_id").cast("string"),
            lit("_"), date_format(col("ts"), "yyyyMMdd'T'HHmmss"), lit(".bin")))
        val valid = col("key").rlike(Estimate.StationKeyRegex)
        Tables.events(spark, dir)
          .select(key.as("key"))
          .agg(
            count(when(valid, lit(1))).as("n_valid"),
            sum(when(valid, Estimate.parseStationIdStrict(col("key"))))
              .as("sum_station_id"),
            count(when(!valid, lit(1))).as("n_malformed"))
      },
      Some(s"""WITH keys AS (
  SELECT CASE WHEN event_id % 97 = 0
    THEN 'scratch_' || CAST(event_id AS VARCHAR) || '.tmp'
    ELSE 'station_id_' || CAST(user_id AS VARCHAR) || '_' ||
         strftime(ts, '%Y%m%dT%H%M%S') || '.bin' END AS key
  FROM events)
SELECT
  CAST(count(*) FILTER (WHERE regexp_matches(key, '${Estimate.StationKeyRegex}')) AS BIGINT) AS n_valid,
  CAST(sum(TRY_CAST(regexp_extract(key, '${Estimate.StationKeyRegex}', 1) AS BIGINT)) AS BIGINT) AS sum_station_id,
  CAST(count(*) FILTER (WHERE NOT regexp_matches(key, '${Estimate.StationKeyRegex}')) AS BIGINT) AS n_malformed
FROM keys""")),

    // --- D1: materialized intermediate + target-exists skip (Luigi's
    // incremental recompute, tasks.py:19-29). Stage 1 aggregates and
    // writes the intermediate parquet only if the target is absent
    // (the second invocation below demonstrates the skip); stage 2 is
    // a separate plan that starts from the materialized scan.
    QueryDef("q_checkpoint_reuse",
      (spark, dir) => {
        val target = Scratch.fresh(spark, dir, "checkpoint-reuse") + "/hourly"
        val tp = new Path(target)
        def stage1(): Unit =
          if (!tp.getFileSystem(spark.sessionState.newHadoopConf()).exists(tp)) {
            Tables.events(spark, dir)
              .groupBy(col("user_id"),
                date_trunc("hour", col("ts")).as("hour"))
              .agg(Exact.decAvg(col("value"), 2).as("avg_value"),
                count(lit(1)).as("n"))
              .write.mode("overwrite").parquet(target)
          }
        stage1()   // materializes
        stage1()   // target exists → skipped (Luigi-style pruning)
        spark.read.parquet(target)
          .select(col("user_id"), unix_micros(col("hour")).as("hour_us"),
            col("n"), col("avg_value"),
            Estimate.piecewiseInterp(col("avg_value") * lit(Pipeline.XScale))
              .as("meters"))
          .orderBy(col("user_id"), col("hour_us"))
      },
      Some(s"""WITH hourly AS (
  SELECT user_id, epoch_us(date_trunc('hour', ts)) AS hour_us,
    ${Exact.decAvgSql("value", 2)} AS avg_value, count(*) AS n
  FROM events GROUP BY 1, 2)
SELECT user_id, hour_us, n, avg_value,
  ${Estimate.piecewiseInterpSql(s"avg_value * ${Estimate.d(Pipeline.XScale)}")} AS meters
FROM hourly ORDER BY user_id, hour_us""")),

    // --- Source-format round-trip: the same rows written+read back
    // through JSON-lines and CSV (explicit schemas — streaming and
    // production never infer) must survive bit-exactly; the query
    // RETURNS the proof (row count + mismatch counts vs the parquet
    // original), so the oracle gates the round-trip itself.
    QueryDef("q_format_roundtrip",
      (spark, dir) => {
        val tmp = Scratch.fresh(spark, dir, "format-roundtrip")
        val ev = Tables.events(spark, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_micros(col("ts")).as("ts_us"))
        ev.write.mode("overwrite").json(s"$tmp/json")
        ev.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
        ev.write.mode("overwrite").orc(s"$tmp/orc")
        val schema = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts_us LONG"
        val fromJson = spark.read.schema(schema).json(s"$tmp/json")
        val fromCsv = spark.read.schema(schema)
          .option("header", "true").csv(s"$tmp/csv")
        val fromOrc = spark.read.schema(schema).orc(s"$tmp/orc")
        ev.agg(count(lit(1)).as("n_rows")).crossJoin(
          fromJson.exceptAll(ev).agg(count(lit(1)).as("json_mismatch"))).crossJoin(
          fromCsv.exceptAll(ev).agg(count(lit(1)).as("csv_mismatch"))).crossJoin(
          fromOrc.exceptAll(ev).agg(count(lit(1)).as("orc_mismatch")))
      },
      Some("""SELECT count(*) AS n_rows, CAST(0 AS BIGINT) AS json_mismatch,
  CAST(0 AS BIGINT) AS csv_mismatch, CAST(0 AS BIGINT) AS orc_mismatch
FROM events""")),

    // --- Partitioned write + partition pruning: events written
    // partitioned by event_type; the filtered read-back scans ONE
    // partition (PartitionFilters in the plan — PlanSpec asserts it).
    // At 100 TB this is the difference between scanning 1/k of the
    // data and all of it.
    QueryDef("q_partitioned_scan",
      (spark, dir) => {
        val tmp = Scratch.fresh(spark, dir, "partitioned-scan") + "/events_by_type"
        Tables.events(spark, dir)
          .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
        spark.read.parquet(tmp)
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), Exact.decSum(col("value"), 2).as("sum_value"))
          .orderBy(col("user_id"))
      },
      Some(s"""SELECT user_id, count(*) AS n, ${Exact.decSumSql("value", 2)} AS sum_value
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY user_id""")),

    // --- Native per-group top-k: custom LogicalPlan + SparkStrategy +
    // SparkPlan (extension point (c) as a whole operator, not just an
    // optimizer rule). Two-phase bounded heaps: each map task keeps at
    // most k rows per group before the shuffle, so the exchange volume
    // is groups × k × tasks regardless of input size — vs the window
    // rendition (q_topk_per_group) which shuffles EVERY row and fully
    // sorts each group. Same answer, oracle-gated both ways;
    // GroupTopKSpec pins plan shape and window-equivalence.
    QueryDef("q_group_topk_native",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(col("event_type"), col("event_id"), col("value"))
        graft.plans.GroupTopK.topK(ev, Seq("event_type"),
          Seq(("value", true), ("event_id", false)), 3)
          .orderBy(col("event_type"), col("value").desc, col("event_id"))
      },
      Some("""SELECT event_type, event_id, value FROM (
  SELECT event_type, event_id, value,
    row_number() OVER (PARTITION BY event_type
                       ORDER BY value DESC NULLS LAST, event_id) AS rn
  FROM events) WHERE rn <= 3
ORDER BY event_type, value DESC NULLS LAST, event_id""")),

    // --- Custom Aggregator UDAF: latest-by-timestamp as a typed
    // user-defined aggregation (mergeable partial aggregation — the
    // same scale shape as max_by).
    QueryDef("q_udaf_latest",
      (spark, dir) => {
        val latestValue = udaf(LatestAggregator)
        Tables.events(spark, dir)
          .groupBy(col("user_id"))
          .agg(latestValue(unix_micros(col("ts")), col("event_id"), col("value"))
            .as("last_value"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, last_value FROM (
  SELECT user_id, value AS last_value,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1 ORDER BY user_id""")),

    // --- PER-ATTRIBUTE keyed merge: DynamoDB update_item semantics
    // (reference: queue_time_predictions/estimate_queue.py:170-174 —
    // each update writes only the attributes it carries; absent
    // attributes keep their previous value). The whole-row LWW
    // renditions (flagship, q_latest_by_user, q_udaf_latest) take the
    // latest ROW; this takes the latest NON-NULL value PER COLUMN —
    // a different, and the reference-faithful, merge. Rendered as one
    // conditional struct-max per attribute (event feeds here carry
    // `value` except on clicks and `k` except on views, simulating
    // partial updates): max() skips nulls and struct comparison is
    // lexicographic on (ts, event_id, payload) with unique (ts,
    // event_id) — a MERGEABLE aggregation, so map-side partials
    // collapse before the one shuffle (the "aggregate, don't window"
    // doctrine at 100 TB; a per-column window would sort every key's
    // history twice).
    QueryDef("q_upsert_attr_merge",
      (spark, dir) => {
        val ev = Tables.events(spark, dir).select(
          col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          when(col("event_type") =!= "click", col("value")).as("v"),
          when(col("event_type") =!= "view",
            get_json_object(col("props"), "$.k").cast("long")).as("k"))
        ev.groupBy(col("user_id")).agg(
          max(when(col("v").isNotNull,
            struct(col("ts_us"), col("event_id"), col("v")))).as("mv"),
          max(when(col("k").isNotNull,
            struct(col("ts_us"), col("event_id"), col("k")))).as("mk"))
          .select(col("user_id"),
            col("mv.ts_us").as("v_ts_us"), col("mv.v").as("last_value"),
            col("mk.ts_us").as("k_ts_us"), col("mk.k").as("last_k"))
          .orderBy(col("user_id"))
      },
      Some("""WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
    CASE WHEN event_type <> 'click' THEN value END AS v,
    CASE WHEN event_type <> 'view'
         THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
  FROM events),
m AS (
  SELECT user_id,
    max(struct_pack(ts_us := ts_us, event_id := event_id, v := v))
      FILTER (WHERE v IS NOT NULL) AS mv,
    max(struct_pack(ts_us := ts_us, event_id := event_id, k := k))
      FILTER (WHERE k IS NOT NULL) AS mk
  FROM ev GROUP BY user_id)
SELECT user_id, mv.ts_us AS v_ts_us, mv.v AS last_value,
  mk.ts_us AS k_ts_us, mk.k AS last_k
FROM m ORDER BY user_id""")),

    // --- DataSource V2 custom source (sources/SynthSource.scala): the
    // S1 prefix scan as a planned, parallel, pruned scan. The id-range
    // filter prunes input partitions at planning time, the projection
    // prunes ts out of the reader, and the rows are a pure function of
    // the row index so DuckDB regenerates them exactly from range().
    // Decimal sum keeps the per-station aggregate order-independent.
    QueryDef("q_custom_source",
      (spark, _) => spark.read.format("graft.sources.SynthSource")
        .option("rows", "500000").load()
        .filter(col("id") < 100000L)
        .groupBy(col("station_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(20,2)"))
            .cast("string").cast("double").as("sum_v"),
          min(col("id")).as("first_id"))
        .orderBy(col("station_id")),
      Some("""SELECT CAST(i % 149 AS INT) AS station_id,
  CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(sum(CAST(((i * 2654435761) % 1000000) / 100.0 AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS sum_v,
  min(i) AS first_id
FROM (SELECT range AS i FROM range(0, 500000))
WHERE i < 100000
GROUP BY 1 ORDER BY 1""")),

    // --- DSv2 SINK with manifest commit (K1 as a cluster warehouse
    // commits it): events are written through graft.sources
    // .ManifestSink — every task stages a uniquely-named part file
    // and reports (rows, key min/max) in its WriterCommitMessage; the
    // driver publishes _MANIFEST.json LAST as the atomic commit
    // point. The query then reads the manifest back and returns the
    // commit-protocol proof: manifest totals must equal the source
    // table's count/min/max REGARDLESS of how many partitions wrote —
    // which is exactly what the oracle checks. (The per-file stats
    // are partition-layout-dependent metadata; only their rollup is
    // deterministic, so only the rollup is the gated output.)
    QueryDef("q_sink_manifest",
      (spark, dir) => {
        val target = Scratch.fresh(spark, dir, "sink-manifest")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .write.format("graft.sources.ManifestSink")
          .option("path", target).mode("overwrite").save()
        val parts = graft.sources.ManifestSink.readManifest(
          spark.sparkContext.hadoopConfiguration, target)
        val nonEmpty = parts.filter(_._2 > 0)
        import spark.implicits._
        Seq((parts.map(_._2).sum,
          nonEmpty.map(_._3).min, nonEmpty.map(_._4).max))
          .toDF("total_rows", "key_min", "key_max")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS total_rows,
  min(event_id) AS key_min, max(event_id) AS key_max
FROM events""")),

    // --- DSv2 warehouse ROUNDTRIP: sink commit → manifest-planned,
    // stats-pruned read (graft.sources.ManifestSource). The write
    // range-partitions on the key so committed parts carry disjoint
    // (min,max) ranges; the read-back then filters on the key, which
    // the source uses to prune whole part files against the
    // manifest's per-part statistics (ManifestSourceSpec pins the
    // pruning count; here the gate is end-to-end fidelity: whatever
    // the engine commits and re-reads must agree with DuckDB reading
    // the ORIGINAL parquet). Filters stay residual in the plan, so
    // the aggregate is exact even when a part range straddles the
    // bound.
    QueryDef("q_manifest_roundtrip",
      (spark, dir) => {
        val target = Scratch.fresh(spark, dir, "manifest-roundtrip")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .repartitionByRange(8, col("event_id"))
          .write.format("graft.sources.ManifestSink")
          .option("path", target).mode("overwrite").save()
        spark.read.format("graft.sources.ManifestSource")
          .option("path", target).load() // schema from the manifest header
          .filter(col("event_id") < 1000L)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            Exact.decSum(col("value"), 2).as("sum_value"),
            min(col("event_id")).as("min_id"),
            max(col("event_id")).as("max_id"))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, count(*) AS n,
  ${Exact.decSumSql("value", 2)} AS sum_value,
  min(event_id) AS min_id, max(event_id) AS max_id
FROM events WHERE event_id < 1000
GROUP BY event_type ORDER BY event_type""")),

    // --- METADATA-ONLY aggregation through the planner: a global
    // COUNT(*)/MIN(key)/MAX(key) over a manifest-committed table is
    // answered entirely from the manifest's per-part statistics —
    // ManifestSource's SupportsPushDownAggregates path plans ONE
    // synthetic partition and never opens a data file
    // (ManifestSourceSpec proves it by deleting the part files first).
    // At 100 TB this is "count a petabyte table from its footers".
    // The oracle recomputes the same aggregates from the raw rows —
    // the stats path must agree with the data path exactly.
    QueryDef("q_manifest_stats_agg",
      (spark, dir) => {
        val target = Scratch.fresh(spark, dir, "manifest-stats-agg")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .write.format("graft.sources.ManifestSink")
          .option("path", target).mode("overwrite").save()
        spark.read.format("graft.sources.ManifestSource")
          .option("path", target).load()
          .agg(count(lit(1)).as("n_rows"),
            min(col("event_id")).as("key_min"),
            max(col("event_id")).as("key_max"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
  min(event_id) AS key_min, max(event_id) AS key_max
FROM events""")),

    // --- STRING-STATS PART PRUNING through the manifest loop: the
    // table is clustered BY THE STRING column (range layout), so each
    // part's smin/smax stats are selective and the equality predicate
    // prunes the scan to the one-or-two parts whose range can hold
    // 'purchase' — the categorical-column twin of the long-key range
    // pruning (ManifestSourceSpec proves file-level skipping by
    // deleting the out-of-plan parts). At 100 TB "cluster by the
    // filter column, prune by footer stats" is the difference between
    // scanning a table and scanning a category.
    QueryDef("q_manifest_strprune",
      (spark, dir) => {
        val target = Scratch.fresh(spark, dir, "manifest-strprune")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .repartitionByRange(8, col("event_type"))
          .write.format("graft.sources.ManifestSink")
          .option("path", target).mode("overwrite").save()
        spark.read.format("graft.sources.ManifestSource")
          .option("path", target).load()
          .filter(col("event_type") === "purchase")
          .agg(count(lit(1)).as("n_rows"),
            Exact.decSum(col("value"), 2).as("sum_value"),
            min(col("event_id")).as("key_min"),
            max(col("event_id")).as("key_max"))
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
  ${Exact.decSumSql("value", 2)} AS sum_value,
  min(event_id) AS key_min, max(event_id) AS key_max
FROM events WHERE event_type = 'purchase'""")),

    // --- SMALL-FILES COMPACTION through the manifest loop: a table
    // committed as 32 small parts is read back through ManifestSource
    // and rewritten range-partitioned into 4 — the OPTIMIZE/compact
    // maintenance op every 100 TB table needs (a million tiny files
    // turn listing and task scheduling into the bottleneck; the
    // manifest protocol makes the rewrite atomic: readers see the old
    // layout until the new manifest publishes). The 32→4 layout
    // constants are part of the operator's contract (stated in the
    // oracle); the data rollup must survive the rewrite bit-for-bit,
    // and the rewrite leaves parts key-disjoint, so the compacted
    // table is strictly better for the source's range pruning.
    QueryDef("q_sink_compact",
      (spark, dir) => {
        val root = Scratch.fresh(spark, dir, "sink-compact")
        val (small, packed) = (s"$root/small", s"$root/packed")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .repartition(32)
          .write.format("graft.sources.ManifestSink")
          .option("path", small).mode("overwrite").save()
        spark.read.format("graft.sources.ManifestSource")
          .option("path", small).load()
          .repartitionByRange(4, col("event_id"))
          .write.format("graft.sources.ManifestSink")
          .option("path", packed).mode("overwrite").save()
        val conf = spark.sessionState.newHadoopConf()
        val before = graft.sources.ManifestSink.readManifest(conf, small)
        val after = graft.sources.ManifestSink.readManifest(conf, packed)
        val nonEmpty = after.filter(_._2 > 0)
        import spark.implicits._
        Seq((before.size, after.size, after.map(_._2).sum,
          nonEmpty.map(_._3).min, nonEmpty.map(_._4).max))
          .toDF("n_parts_before", "n_parts_after", "total_rows",
            "key_min", "key_max")
      },
      Some("""SELECT CAST(32 AS INT) AS n_parts_before,
  CAST(4 AS INT) AS n_parts_after,
  CAST(count(*) AS BIGINT) AS total_rows,
  min(event_id) AS key_min, max(event_id) AS key_max
FROM events""")),

    // --- SQL-TEXT FRONT-END parity: the exact same ANSI SQL string
    // runs through spark.sql() over registered temp views AND through
    // the DuckDB oracle — the oracle IS the query text. This is the
    // switch-over surface for a SQL-first user of the reference: the
    // engine accepts the dialect-neutral text directly (CAST AS
    // STRING is the one portability choice — both engines accept it;
    // the exact-decimal sum convention works verbatim in both).
    QueryDef("q_sql_frontend",
      (spark, dir) => {
        Tables.orders(spark, dir).createOrReplaceTempView("orders")
        Tables.customer(spark, dir).createOrReplaceTempView("customer")
        spark.sql(Extras.SqlFrontendText)
      },
      Some(Extras.SqlFrontendText)),

    // --- RECURSIVE CTE (SQL:1999 WITH RECURSIVE, Spark 4's recursion
    // operator): ancestor-chain walk over the digit-strip hierarchy
    // (parent(k) = ⌊k/10⌋ — a synthetic but genuinely multi-level
    // org tree on the customer keys), grouped into a per-depth
    // profile. Same one-text-two-engines contract as q_sql_frontend:
    // the oracle IS the query. Execution-wise each recursion step is
    // a fully distributed union iteration (no driver loop), the
    // anchor/step shuffles on nothing (narrow maps + final agg), and
    // Spark's cteRecursionLevelLimit bounds runaway recursion — the
    // engine-native form of the chained-CTE fixpoints q_pagerank and
    // q_shortest_path spell out manually.
    QueryDef("q_recursive_cte",
      (spark, dir) => {
        Tables.customer(spark, dir).createOrReplaceTempView("customer")
        spark.sql(Extras.RecursiveCteText)
      },
      Some(Extras.RecursiveCteText)),

    // --- NULL-SEMANTICS TORTURE (see [[Extras.NullSemanticsText]]):
    // one text, two engines; the gate fails if either engine drifts
    // on any of the three-valued-logic contracts.
    QueryDef("q_null_semantics",
      (spark, dir) => {
        Tables.events(spark, dir).createOrReplaceTempView("events")
        spark.sql(Extras.NullSemanticsText)
      },
      Some(Extras.NullSemanticsText)),

    // --- CORRELATED LATERAL JOIN (SQL:99 LATERAL, Spark's
    // LateralJoin): per customer, their top-2 orders by price —
    // expressed as the dependent subquery SQL users actually write,
    // not the window-function rewrite (q_topk_per_group covers that
    // form; this gates that the ENGINE's decorrelation produces the
    // same rows). Same one-text-two-engines contract as
    // q_sql_frontend: the oracle IS the query. At scale Spark
    // decorrelates the limit-per-group into a partitioned rewrite —
    // never an outer-row-count loop of subqueries.
    QueryDef("q_lateral_topk",
      (spark, dir) => {
        Tables.customer(spark, dir).createOrReplaceTempView("customer")
        Tables.orders(spark, dir).createOrReplaceTempView("orders")
        spark.sql(Extras.LateralTopKText)
      },
      Some(Extras.LateralTopKText)),

    // --- OBSERVED METRICS (Dataset.observe → CollectMetrics): the
    // "free data-quality counters" operator — aggregates accumulated
    // ON THE SIDE of a running job, costing zero extra scans (the
    // alternative is a second pass over the data purely for metrics).
    // The query runs its real action through the noop sink with an
    // observe() node attached, then reads the metrics row off the
    // executed plan and returns it as the result — so the driver
    // gate checks that side-channel metrics equal a direct aggregate
    // of the same data, which is exactly the property that makes
    // them trustworthy for production monitoring.
    QueryDef("q_observe_metrics",
      (spark, dir) => {
        val observed = Tables.lineitem(spark, dir)
          .filter(col("l_quantity") > 10)
          .observe("graft_obs",
            count(lit(1)).as("n_rows"),
            Exact.decSum(col("l_extendedprice"), 2).as("sum_price"),
            max(col("l_quantity")).as("max_qty"))
        // run the dataset's OWN query execution (toRdd + a no-op
        // distributed action): a write would spawn a separate
        // execution whose metrics land on a listener, not here. No
        // row ever reaches the driver — foreach of the InternalRow
        // RDD discards on executors.
        observed.queryExecution.toRdd.foreach(_ => ())
        val m = observed.queryExecution.observedMetrics("graft_obs")
        import spark.implicits._
        Seq((m.getAs[Long]("n_rows"), m.getAs[Double]("sum_price"),
          m.getAs[Double]("max_qty")))
          .toDF("n_rows", "sum_price", "max_qty")
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
  ${Exact.decSumSql("l_extendedprice", 2)} AS sum_price,
  max(l_quantity) AS max_qty
FROM lineitem WHERE l_quantity > 10""")),

    // --- SNAPSHOT CHANGELOG (CDC) between two manifest commits: two
    // versions of the keyed table are committed through the sink —
    // v1 missing every 7th key, v2 missing every 11th and with every
    // 5th value bumped — then read back through the source and
    // FULL-OUTER-joined on the key to classify added / removed /
    // changed / unchanged, the diff every incremental
    // materialization and table-format CDF builds on. One shuffle on
    // the key (both sides co-partition); the rollup carries counts
    // plus an exact-decimal net-delta so the changelog is
    // value-auditable, not just row-countable. The oracle restates
    // the v1/v2 derivations analytically over the raw table.
    QueryDef("q_cdc_diff",
      (spark, dir) => {
        val root = Scratch.fresh(spark, dir, "cdc-diff")
        val (t1, t2) = (s"$root/v1", s"$root/v2")
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
        base.filter(col("event_id") % 7 =!= 0)
          .write.format("graft.sources.ManifestSink")
          .option("path", t1).mode("overwrite").save()
        base.filter(col("event_id") % 11 =!= 0)
          .select(col("event_id"),
            when(col("event_id") % 5 === 0, col("value") + 1.0)
              .otherwise(col("value")).as("value"))
          .write.format("graft.sources.ManifestSink")
          .option("path", t2).mode("overwrite").save()
        def snap(p: String, v: String) =
          spark.read.format("graft.sources.ManifestSource")
            .option("path", p).load()
            .select(col("event_id"), col("value").as(v))
        snap(t1, "v1").join(snap(t2, "v2"), Seq("event_id"), "full_outer")
          .agg(
            sum(when(col("v1").isNull, 1L).otherwise(0L)).as("n_added"),
            sum(when(col("v2").isNull, 1L).otherwise(0L)).as("n_removed"),
            sum(when(col("v1").isNotNull && col("v2").isNotNull &&
              col("v1") =!= col("v2"), 1L).otherwise(0L)).as("n_changed"),
            sum(when(col("v1").isNotNull && col("v2") === col("v1"), 1L)
              .otherwise(0L)).as("n_unchanged"),
            Exact.decSum(coalesce(col("v2"), lit(0.0))
              - coalesce(col("v1"), lit(0.0)), 2).as("net_delta"))
      },
      Some(s"""WITH v1 AS (
  SELECT event_id, value FROM events WHERE event_id % 7 <> 0),
v2 AS (
  SELECT event_id,
    CASE WHEN event_id % 5 = 0 THEN value + 1.0 ELSE value END AS value
  FROM events WHERE event_id % 11 <> 0),
j AS (
  SELECT coalesce(v1.event_id, v2.event_id) AS event_id,
    v1.value AS a, v2.value AS b
  FROM v1 FULL OUTER JOIN v2 ON v1.event_id = v2.event_id)
SELECT
  CAST(sum(CASE WHEN a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
  CAST(sum(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
  CAST(sum(CASE WHEN a IS NOT NULL AND b IS NOT NULL AND a <> b
    THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
  CAST(sum(CASE WHEN a IS NOT NULL AND b = a THEN 1 ELSE 0 END) AS BIGINT)
    AS n_unchanged,
  ${Exact.decSumSql("coalesce(b, 0.0) - coalesce(a, 0.0)", 2)} AS net_delta
FROM j""")),
  )
}
