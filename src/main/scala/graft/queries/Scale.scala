package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.model.Tables
import graft.sources.GraftCatalog
import graft.util.Scratch

/** Skew- and co-location patterns: the join/aggregation shapes that
  * decide whether a plan survives a 100× scale-up. Each query produces
  * the SAME answer as its naive rendition (oracle = the plain SQL), so
  * the driver gate proves the rewrite is semantics-preserving while
  * the plan shape (asserted in PlanSpec/ScaleSpec) carries the scale
  * property.
  *
  * Reference analog: the one-key DynamoDB upsert stream
  * (queue_time_predictions/estimate_queue.py:166-178) — at fleet scale
  * a handful of busy stations dominates the feed, which is exactly the
  * skewed-key regime these patterns exist for.
  */
object Scale {

  /** Salt fan-out factor. At 100 TB this is sized from the skew ratio
    * (hot-key rows / median-key rows); 8 here keeps the sf0.01 verify
    * fast while exercising the full pattern. */
  val Salts = 8

  val all: Seq[QueryDef] = Seq(

    // --- Salted skew join: fact side gets a deterministic salt from a
    // NON-KEY column (so hot key rows spread over `Salts` reducers);
    // the dim side is replicated ×Salts with explode. The join key
    // becomes (key, salt) — the hot key's rows land on Salts tasks
    // instead of one. AQE's skew-join handles moderate skew
    // automatically; explicit salting is the pattern for the extreme
    // tail (one key = 30% of rows) where even a split partition's
    // build side overwhelms a task. Result ≡ the plain join (oracle).
    QueryDef("q_join_skew_salted",
      (spark, dir) => {
        val fact = Tables.orders(spark, dir)
          .select(col("o_custkey"), col("o_totalprice"),
            pmod(xxhash64(col("o_orderkey")), lit(Salts.toLong)).as("salt"))
        val dim = Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment"))
          .withColumn("salt", explode(array((0 until Salts).map(s =>
            lit(s.toLong)): _*)))
        fact.join(dim,
          col("o_custkey") === col("c_custkey") && fact("salt") === dim("salt"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            Exact.decSum(col("o_totalprice"), 2).as("total_price"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n_orders,
  ${Exact.decSumSql("o_totalprice", 2)} AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // --- AQE-NATIVE skew join: the adaptive twin of
    // q_join_skew_salted. The fact side is deliberately skewed (2/3
    // of orders collapse onto key 1), the join is forced to
    // sort-merge (no broadcast, no salt), and ADAPTIVE skew handling
    // — not query logic — splits the hot partition at runtime into
    // advisory-sized slices, replicating the matching build rows.
    // Salting remains the answer for the extreme tail (one key per
    // task is still too big); AQE is the answer for everything milder
    // — the engine demonstrates BOTH, producing the identical
    // oracle-gated result. The skew knobs ride a CHILD session
    // (shared SparkContext, isolated SQLConf) so thresholds tuned to
    // test-data scale leak into no other query; at 100 TB the same
    // shape runs with the stock 256 MB thresholds. AqeSpec pins
    // `skew=true` in the final adaptive plan.
    QueryDef("q_join_skew_aqe",
      (spark, dir) => {
        val s = spark.newSession()
        s.conf.set("spark.sql.adaptive.enabled", "true")
        s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        s.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "8KB")
        s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        // keep the join a genuine shuffle join at any SF: a broadcast
        // dim side would dissolve the skew instead of handling it
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        // a skewed reduce partition is split at MAP-OUTPUT granularity
        // (PartialReducerPartitionSpec groups map outputs), so a
        // single-row-group local scan — one effective map task — would
        // make the hot partition unsplittable and the optimization
        // silently skip; round-robin the fact across 8 tasks first so
        // the join shuffle has several map outputs, as any 100 TB
        // fact table trivially does (there this repartition is
        // dropped — the natural scan parallelism provides the maps)
        val fact = Tables.orders(s, dir).repartition(8).select(
          when(col("o_orderkey") % 3 =!= 0, lit(1L))
            .otherwise(col("o_custkey")).as("k"),
          col("o_totalprice"))
        val dim = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"))
        fact.hint("merge").join(dim, col("k") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            Exact.decSum(col("o_totalprice"), 2).as("total_price"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""WITH f AS (
  SELECT CASE WHEN o_orderkey % 3 <> 0 THEN 1 ELSE o_custkey END AS k,
    o_totalprice
  FROM orders)
SELECT c_mktsegment, count(*) AS n_orders,
  ${Exact.decSumSql("o_totalprice", 2)} AS total_price
FROM f JOIN customer ON k = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // --- Two-stage (salted) aggregation: a 5-value group key caps the
    // final reduce at 5 tasks; the salted partial stage aggregates on
    // (key, salt) first — Salts× the reduce parallelism — then the
    // tiny (5 × Salts)-row result re-aggregates on the key alone.
    // decSum is decimal (associative, order-independent), so the
    // two-stage split is exact. Result ≡ single-stage (oracle).
    QueryDef("q_agg_salted",
      (spark, dir) => Tables.events(spark, dir)
        .select(col("event_type"), col("value"),
          pmod(xxhash64(col("event_id")), lit(Salts.toLong)).as("salt"))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 2)))
            .as("sum_dec"))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"),
          sum(col("sum_dec")).cast("string").cast("double").as("sum_value"))
        .orderBy(col("event_type")),
      Some(s"""SELECT event_type, count(*) AS n,
  ${Exact.decSumSql("value", 2)} AS sum_value
FROM events GROUP BY event_type ORDER BY event_type""")),

    // --- Binned interval join: point-in-interval joins plan as
    // nested-loop unless the range predicate is rewritten as an
    // equi-join. Each interval explodes to the fixed-width time bins
    // it overlaps; points carry their own bin; the join becomes
    // bin = bin plus a residual range filter. A point's bin is unique,
    // so no post-join dedup is needed. q_join_range keeps the
    // broadcast-nested-loop form for tiny build sides; this is the
    // form for when BOTH sides are large — the planner picks hash
    // join (broadcast here, shuffle-on-bin at 100 TB), never a
    // nested loop (ScaleSpec asserts it). Bin width tunes the
    // replication factor: interval rows duplicate ×(width/binW),
    // points never duplicate.
    QueryDef("q_interval_bin_join",
      (spark, dir) => {
        val binW = 21600000000L // 6 h in µs
        val ev = Tables.events(spark, dir)
          .select(unix_micros(col("ts")).as("ts_us"), col("value"))
        val bounds = ev.agg(min(col("ts_us")).as("t0"),
          max(col("ts_us")).as("t1"))
        // 25 deterministic, overlapping intervals spread over the ts
        // domain, derived from nation keys with pure long arithmetic
        // (div = floor division on positives — identical in DuckDB).
        val iv = Tables.nation(spark, dir)
          .select(col("n_nationkey").cast("long").as("iv_id"))
          .crossJoin(broadcast(bounds))
          .select(col("iv_id"),
            expr("t0 + ((t1 - t0) * iv_id) div 25").as("lo"),
            expr("t0 + ((t1 - t0) * iv_id) div 25" +
              " + ((t1 - t0) * (1 + iv_id % 3)) div 50").as("hi"))
        val ivBins = iv.select(col("iv_id"), col("lo"), col("hi"),
          explode(sequence(expr(s"lo div $binW"), expr(s"hi div $binW")))
            .as("iv_bin"))
        ev.withColumn("bin", expr(s"ts_us div $binW"))
          .join(ivBins, col("bin") === col("iv_bin") &&
            col("ts_us") >= col("lo") && col("ts_us") < col("hi"))
          .groupBy(col("iv_id"))
          .agg(count(lit(1)).as("n"),
            Exact.decSum(col("value"), 2).as("sum_value"))
          .orderBy(col("iv_id"))
      },
      Some(s"""WITH b AS (
  SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1 FROM events),
iv AS (
  SELECT CAST(n_nationkey AS BIGINT) AS iv_id,
    t0 + ((t1 - t0) * n_nationkey) // 25 AS lo,
    t0 + ((t1 - t0) * n_nationkey) // 25
      + ((t1 - t0) * (1 + n_nationkey % 3)) // 50 AS hi
  FROM nation, b)
SELECT iv_id, count(*) AS n, ${Exact.decSumSql("value", 2)} AS sum_value
FROM iv JOIN (SELECT epoch_us(ts) AS ts_us, value FROM events) e
  ON e.ts_us >= iv.lo AND e.ts_us < iv.hi
GROUP BY iv_id ORDER BY iv_id""")),

    // --- Dynamic partition pruning: the fact side is partitioned on
    // the join key; the dim-side filter is on a NON-partition column
    // (category), so static pruning can't apply — the optimizer
    // inserts a dynamicpruning subquery that evaluates the dim filter
    // first and prunes fact partitions at runtime (ScaleSpec asserts
    // the plan carries it). At 100 TB this is the difference between
    // scanning 2/5 of the table and all of it, decided per query
    // without re-layout.
    QueryDef("q_dpp_join",
      (spark, dir) => {
        import spark.implicits._
        val base = Scratch.fresh(spark, dir, "dpp-join")
        val tmp = s"$base/events_by_type"
        Tables.events(spark, dir)
          .select(col("event_id"), col("user_id"), col("value"),
            col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
        // The dim must be a file-based relation: a LocalRelation's
        // filter constant-folds away (ConvertToLocalRelation) before
        // the PartitionPruning rule can see a selective predicate.
        Seq(
          ("click", "engagement"), ("view", "engagement"),
          ("purchase", "monetized"), ("signup", "lifecycle"),
          ("error", "ops")).toDF("d_event_type", "category")
          .write.mode("overwrite").parquet(s"$base/dim")
        spark.read.parquet(tmp)
          .join(spark.read.parquet(s"$base/dim")
            .filter(col("category") === "engagement"),
            col("event_type") === col("d_event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            Exact.decSum(col("value"), 2).as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, count(*) AS n,
  ${Exact.decSumSql("value", 2)} AS sum_value
FROM events JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
  ('purchase', 'monetized'), ('signup', 'lifecycle'), ('error', 'ops'))
  AS d(d_event_type, category) ON event_type = d_event_type
WHERE category = 'engagement'
GROUP BY event_type ORDER BY event_type""")),

    // --- Bucketed co-located join: both fact tables written bucketed
    // (and sorted) on the join key with the same bucket count — the
    // join reads bucket i against bucket i with NO exchange and NO
    // sort (ScaleSpec asserts both are absent below the join). At
    // 100 TB this turns the recurring fact-fact join into a local
    // merge: the shuffle is paid once at write time, amortized over
    // every subsequent query. The repartition before write puts each
    // bucket in exactly one file, which is what lets the reader trust
    // the sort order.
    QueryDef("q_bucketed_join",
      (spark, dir) => {
        val tmp = Scratch.fresh(spark, dir, "bucketed-join")
        val nb = 8
        spark.sql("DROP TABLE IF EXISTS graft_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS graft_ord_bucketed")
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .repartition(nb, col("l_orderkey"))
          .write.mode("overwrite").option("path", s"$tmp/li")
          .bucketBy(nb, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("graft_li_bucketed")
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderstatus"))
          .repartition(nb, col("o_orderkey"))
          .write.mode("overwrite").option("path", s"$tmp/ord")
          .bucketBy(nb, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable("graft_ord_bucketed")
        // MERGE hint: at test SF the dim side fits the broadcast
        // threshold, which would bypass the bucket co-location this
        // operator demonstrates; at 100 TB neither side broadcasts and
        // SMJ is what the planner picks anyway.
        spark.table("graft_li_bucketed").hint("merge")
          .join(spark.table("graft_ord_bucketed"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_items"),
            Exact.decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
              .as("revenue"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n_items,
  ${Exact.decSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // --- Runtime bloom-filter pruning: the row-level twin of DPP.
    // A selective dim filter (one brand ≈ 1/25 of part) can't prune
    // the fact side statically — the matching l_partkey set only
    // exists at runtime. Spark's InjectRuntimeFilter builds a bloom
    // filter over the filtered dim's join keys and pushes a
    // might_contain() predicate into the fact scan, so ~96% of
    // lineitem rows die BEFORE the shuffle instead of after it — at
    // 100 TB that is the difference between shuffling 4 TB and 100 TB.
    // The thresholds are tuned on a child session (isolated SQLConf,
    // shared SparkContext) because the defaults gate injection on a
    // ≥10 GB application-side scan — correct for production, never
    // true at test SF; broadcast is disabled so the bloom filter (not
    // a broadcast hash join's build side) is the pruning mechanism
    // under test, matching the 100 TB regime where the fact side
    // always reaches a shuffle. ScaleSpec pins the injected filter.
    // Result ≡ the plain join (oracle).
    QueryDef("q_bloom_prune",
      (spark, dir) => {
        val s = spark.newSession()
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
          "0")
        val li = Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_extendedprice"),
            col("l_returnflag"))
        val p = Tables.part(s, dir)
          .filter(col("p_brand") === "Brand#13")
          .select(col("p_partkey"))
        li.join(p, col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            Exact.decSum(col("l_extendedprice"), 2).as("revenue"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, count(*) AS n_items,
  ${Exact.decSumSql("l_extendedprice", 2)} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#13'
GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // --- 2-D skyline (Pareto frontier): parts no other part beats on
    // BOTH (smaller p_size, higher p_retailprice). The textbook form
    // is an UNPARTITIONED running-max window over the full sort — one
    // task at 100 TB. The scale-safe decomposition here: (1) per-size
    // max price — an ordinary parallel hash aggregate; (2) the
    // strictly-smaller-size running max runs over the TINY per-size
    // table (≤ distinct sizes rows); (3) broadcast both back. A row
    // survives iff it carries its size's max price AND beats every
    // smaller size's max. Identical answer to the naive window
    // (oracle states exactly that); the corpus is never globally
    // sorted. Duplicate Pareto points (same size, same price) all
    // survive — strict dominance, pinned by the oracle.
    QueryDef("q_skyline",
      (spark, dir) => {
        val parts = Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
        val perSize = parts.groupBy(col("p_size"))
          .agg(max(col("p_retailprice")).as("size_max"))
        val wPrev = org.apache.spark.sql.expressions.Window
          .orderBy(col("p_size"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val frontier = perSize
          .withColumn("prev_max", max(col("size_max")).over(wPrev))
        parts.join(broadcast(frontier), Seq("p_size"))
          .filter(col("p_retailprice") === col("size_max") &&
            (col("prev_max").isNull ||
              col("p_retailprice") > col("prev_max")))
          .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
          .orderBy(col("p_size"), col("p_partkey"))
      },
      Some("""SELECT p_partkey, p_size, p_retailprice
FROM (
  SELECT p_partkey, p_size, p_retailprice,
    max(p_retailprice) OVER (ORDER BY p_size
      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max,
    max(p_retailprice) OVER (PARTITION BY p_size) AS size_max
  FROM part)
WHERE p_retailprice = size_max
  AND (prev_max IS NULL OR p_retailprice > prev_max)
ORDER BY p_size, p_partkey""")),

    // --- Z-order (Morton) layout key: interleave the bits of two
    // bucketed dimensions so that SORTING BY ONE derived column
    // clusters the data in BOTH — the standard multi-dimensional
    // data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER). A writer
    // pairs this with repartitionByRange(zval) +
    // sortWithinPartitions(zval): each output file then owns a
    // contiguous z-range = one bounded tile in (custkey, date) space,
    // so parquet min/max footers prune 2-D predicates on EITHER
    // dimension — a plain sort by custkey would leave date min/max
    // spanning every file. The interleave itself is a pure narrow map
    // of shifts/masks (codegen'd, no shuffle); date buckets via a
    // MONOTONE div-10-days cap so locality in time survives
    // bucketing. ScaleSpec pins the tile-bound property (a 1024-code
    // z-block spans ≤32 values of each dimension).
    QueryDef("q_zorder_layout",
      (spark, dir) => {
        val a = pmod(col("o_custkey"), lit(256L)).cast("int")
        // clamp BOTH ends: a pre-epoch date would otherwise yield a
        // negative zb and silently corrupt the bit interleave (the
        // testdata's min date happens to equal the epoch — the guard
        // must not rely on that)
        val b = greatest(
          least(
            (datediff(col("o_orderdate"), lit("1995-01-01")) / lit(10))
              .cast("int"),
            lit(255)),
          lit(0))
        val zval = (0 until 8).map { k =>
          (shiftright(col("za"), k).bitwiseAND(lit(1)).cast("bigint")
            * lit(1L << (2 * k + 1))) +
            (shiftright(col("zb"), k).bitwiseAND(lit(1)).cast("bigint")
              * lit(1L << (2 * k)))
        }.reduce(_ + _)
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), a.as("za"), b.as("zb"))
          .withColumn("zval", zval)
          .withColumn("zblock", (col("zval") / lit(1024L)).cast("bigint"))
          .orderBy(col("zval"), col("o_orderkey"))
      },
      Some({
        val terms = (0 until 8).map { k =>
          s"((za >> $k) & 1) * ${1L << (2 * k + 1)} + " +
            s"((zb >> $k) & 1) * ${1L << (2 * k)}"
        }.mkString(" + ")
        s"""WITH d AS (
  SELECT o_orderkey,
    CAST(o_custkey % 256 AS INT) AS za,
    CAST(greatest(least(
      date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) // 10,
      255), 0) AS INT) AS zb
  FROM orders)
SELECT o_orderkey, za, zb,
  CAST($terms AS BIGINT) AS zval,
  CAST(($terms) // 1024 AS BIGINT) AS zblock
FROM d ORDER BY zval, o_orderkey"""
      })),

    // --- CBO EQUI-DEPTH HISTOGRAMS drive a live plan flip
    // (`CALL analyze(histograms => true)` → graft.hist props → DSv2
    // columnStats().histogram() → FilterEstimation): the fact's `s`
    // column is SKEWED — 98% of rows sit on one hot value, 2% spread
    // over a huge range — so NDV+min/max estimate `s > hot` at ~100%
    // of the table (uniformity), while the histogram sees ~15/16 bins
    // pinned at the hot value and estimates ~1/16. The gate runs the
    // SAME filter+join on two IDENTICAL fact tables — one analyzed
    // plain, one with histograms — under one threshold sized from the
    // histogram estimate: the plain table plans sort-merge
    // (over-estimate exceeds the threshold), the histogram table
    // flips to broadcast (`flip` boolean), and both answers restate
    // from the raw tables (oracle). At 100 TB this is the difference
    // between shuffling the dim against a "whole-table" phantom and
    // broadcasting the true 2% — per-bin stats are how skewed range
    // predicates get sized. Scan-side pruning is deliberately
    // neutralized (hash layout: every part spans the full s range) so
    // the CBO estimate is the only variable.
    QueryDef("q_cbo_hist",
      (spark, dir) => {
        val base = Scratch.fresh(spark, dir, "cbo-hist")
        GraftCatalog.register(spark, "gch", base)
        val fact = Tables.events(spark, dir).select(
          col("event_id").as("k"),
          when(col("event_id") % 50 === 0,
            lit(1000000L) + col("event_id")).otherwise(lit(5L)).as("s"),
          col("value"))
        Seq("fa", "fb").foreach { t =>
          fact.repartition(4, col("k"))
            .write.format("graft.sources.ManifestSink")
            .option("path", s"$base/ns/$t").option("history", "true")
            .mode("overwrite").save()
        }
        Tables.orders(spark, dir)
          .select((col("o_orderkey") % 5000).as("dk"), col("o_totalprice"))
          .repartition(4)
          .write.format("graft.sources.ManifestSink")
          .option("path", s"$base/ns/dim").option("history", "true")
          .mode("overwrite").save()
        spark.sql("CALL gch.system.analyze(table => 'ns.fa')")
        spark.sql(
          "CALL gch.system.analyze(table => 'ns.fb', histograms => true)")
        def q(t: String) = spark.sql(
          s"""SELECT count(*) AS n,
            CAST(CAST(sum(CAST(d.o_totalprice AS DECIMAL(30,2)))
              AS STRING) AS DOUBLE) AS sum_price
          FROM gch.ns.$t f JOIN gch.ns.dim d ON f.k = d.dk
          WHERE f.s > 5""")
        def filterEst(df: org.apache.spark.sql.DataFrame): BigInt =
          df.queryExecution.optimizedPlan.collect {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              f.stats.rowCount
          }.flatten.headOption.getOrElse(BigInt(-1))
        def broadcasts(df: org.apache.spark.sql.DataFrame): Boolean =
          df.queryExecution.executedPlan.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
        val saved = Seq("spark.sql.cbo.enabled",
          "spark.sql.adaptive.enabled",
          "spark.sql.autoBroadcastJoinThreshold")
          .map(c => c -> spark.conf.get(c))
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try {
          // threshold sized from the HISTOGRAM estimate: 4× leaves
          // room for stats noise while staying far under the uniform
          // over-estimate (~16× by construction) and far under the
          // dim's size (~150% of the fact) at every scale factor
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
            "10485760")
          val sizeH = q("fb").queryExecution.optimizedPlan.collect {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              f.stats.sizeInBytes
          }.head
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
            (sizeH * 4).toString)
          val (estU, estH) = (filterEst(q("fa")), filterEst(q("fb")))
          val dfU = q("fa"); val dfH = q("fb")
          val flip = !broadcasts(dfU) && broadcasts(dfH)
          val total = fact.count()
          dfH
            .withColumn("flip_smj_to_bhj", lit(flip))
            .withColumn("uniform_overestimates",
              lit(estU > total * 4 / 5))
            .withColumn("hist_sees_skew",
              lit(estH >= 0 && estH < total / 4))
        } finally saved.foreach { case (c, v) => spark.conf.set(c, v) }
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(30,2))) AS VARCHAR)
    AS DOUBLE) AS sum_price,
  true AS flip_smj_to_bhj, true AS uniform_overestimates,
  true AS hist_sees_skew
FROM events e JOIN orders o ON e.event_id = o.o_orderkey % 5000
WHERE e.event_id % 50 = 0""")),
  )
}
