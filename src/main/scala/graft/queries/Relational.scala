package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Estimate, Exact}
import graft.model.Tables

/** Relational operator surface (SURVEY.md §2.2): each reference
  * operator generalized to set-at-a-time Spark, one named query per
  * operator family, each with a DuckDB oracle.
  *
  * Determinism rules: every query ends in a total-order ORDER BY;
  * double aggregates go through Exact.decSum/decAvg (order-independent
  * decimal accumulation); DuckDB NULL ordering is spelled explicitly
  * (Spark ASC = NULLS FIRST); int sums are CAST to BIGINT on the DuckDB
  * side (its sum(int) is HUGEINT).
  *
  * Scale notes are per-query; the common ones: projections/filters fuse
  * into the scan (WholeStageCodegen, parquet pushdown), dim joins are
  * broadcast (zero shuffle), fact joins and aggs shuffle once on their
  * key, windows shuffle once on the partition key. No collect anywhere.
  */
object Relational {
  import Estimate.d

  // DuckDB parses bare decimal literals in VALUES as DECIMAL; CAST each
  // so the joined columns come out DOUBLE like Spark's.
  private def dd(x: Double): String = s"CAST(${d(x)} AS DOUBLE)"

  private val segmentsSql: String = Estimate.Points.sliding(2).collect {
    case Seq((xa, ya), (xb, yb)) => s"(${dd(xa)}, ${dd(xb)}, ${dd(ya)}, ${dd(yb)})"
  }.mkString(", ")

  private val knotsSql: String =
    Estimate.Points.map { case (x, m) => s"(${dd(x)}, ${dd(m)})" }.mkString(", ")

  val all: Seq[QueryDef] = Seq(

    // --- Scan + projection + limit (S1-S3 generalized). Projection is
    // pruned into the parquet scan; ORDER BY + LIMIT plans as
    // TakeOrderedAndProject (no full sort at scale).
    QueryDef("q_scan_project",
      (spark, dir) => Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        // ORDER BY every output column: (orderkey, linenumber) is NOT
        // unique at larger SFs, and only a total order is deterministic.
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .limit(100),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice LIMIT 100""")),

    // --- Compound predicate filter (E3/E7 thresholds generalized).
    // Predicates push down to the parquet row-group level.
    QueryDef("q_filter_compound",
      (spark, dir) => Tables.lineitem(spark, dir)
        .filter((col("l_returnflag") === "R" || col("l_linestatus") === "F")
          && col("l_quantity") > 25.0
          && col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00"))
          && !(col("l_discount") >= 0.05 && col("l_discount") <= 0.07))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_returnflag"), col("l_linestatus"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"), col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag, l_linestatus
FROM lineitem
WHERE (l_returnflag = 'R' OR l_linestatus = 'F')
  AND l_quantity > 25.0
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND NOT (l_discount >= 0.05 AND l_discount <= 0.07)
ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag, l_linestatus""")),

    // --- Scalar math projection (P3, E1, E2, E6, E8, E9 generalized).
    QueryDef("q_scalar_math",
      (spark, dir) => Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))).as("charge"),
          least(greatest(col("l_quantity"), lit(5.0)), lit(45.0)).as("capped_qty"),
          (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
          floor(col("l_extendedprice") / lit(1000.0)).as("price_bucket"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      // unit_price is the RAW IEEE-754 division on both sides — any
      // post-hoc 2-digit rounding (Spark round(), decimal casts, DuckDB
      // round()) resolves midpoint doubles differently between engines
      // and cannot hash-match; identical operation order can.
      Some("""SELECT l_orderkey, l_linenumber,
  l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge,
  least(greatest(l_quantity, 5.0), 45.0) AS capped_qty,
  l_extendedprice / l_quantity AS unit_price,
  CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_bucket
FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    // --- Conditional expression: the E5 piecewise interpolation as a
    // standalone per-row when-chain (constant-folded, codegen'd).
    QueryDef("q_conditional_interp",
      (spark, dir) => Tables.events(spark, dir)
        .select(col("event_id"), col("value"),
          (col("value") * lit(Pipeline.XScale)).as("x_pos"))
        .withColumn("meters", Estimate.piecewiseInterp(col("x_pos")))
        .orderBy(col("event_id")),
      Some(s"""SELECT event_id, value, x_pos, ${Estimate.piecewiseInterpSql("x_pos")} AS meters
FROM (SELECT event_id, value, value * ${d(Pipeline.XScale)} AS x_pos FROM events)
ORDER BY event_id""")),

    // --- String / regex functions (F1 generalized).
    QueryDef("q_string_funcs",
      (spark, dir) => {
        val key = concat(lit("station_id_"), col("doc_id").cast("string"),
          lit("_20200506T094000.bin"))
        Tables.documents(spark, dir).select(
          col("doc_id"),
          upper(substring(col("text"), 1, 10)).as("head10"),
          length(col("text")).as("len_chars"),
          size(split(col("text"), " ")).as("n_tokens"),
          concat(col("lang"), lit("-"), col("source")).as("tag"),
          regexp_extract(col("text"), "^([a-z]+)", 1).as("first_word"),
          // Guarded: bare element_at(_, 2) throws under ANSI mode for
          // 1-token docs; '' (not NULL) matches DuckDB split_part.
          when(size(split(col("text"), " ")) >= 2,
            element_at(split(col("text"), " "), 2))
            .otherwise(lit("")).as("second_word"),
          col("text").contains("spark").as("has_spark"),
          instr(col("text"), "spark").as("spark_pos"),
          Estimate.parseStationId(key).as("parsed_station"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
  upper(substring(text, 1, 10)) AS head10,
  CAST(length(text) AS INT) AS len_chars,
  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
  concat(lang, '-', source) AS tag,
  regexp_extract(text, '^([a-z]+)', 1) AS first_word,
  split_part(text, ' ', 2) AS second_word,
  contains(text, 'spark') AS has_spark,
  CAST(instr(text, 'spark') AS INT) AS spark_pos,
  CAST(regexp_extract(concat('station_id_', CAST(doc_id AS VARCHAR), '_20200506T094000.bin'),
       'station_id_([0-9]+)_([0-9T]+)\.bin', 1) AS BIGINT) AS parsed_station
FROM documents ORDER BY doc_id""")),

    // --- Date/time functions (F1 timestamp semantics generalized).
    QueryDef("q_datetime_funcs",
      (spark, dir) => Tables.orders(spark, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        quarter(col("o_orderdate")).as("qtr"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_trunc("month", col("o_orderdate")).as("mon_start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("plus30"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        datediff(col("o_orderdate"), to_timestamp(lit("1995-01-01 00:00:00"))).as("days_since"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
  CAST(year(o_orderdate) AS INT) AS yr,
  CAST(month(o_orderdate) AS INT) AS mo,
  CAST(quarter(o_orderdate) AS INT) AS qtr,
  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon_start,
  o_orderdate + INTERVAL 30 DAY AS plus30,
  CAST(epoch(date_trunc('second', o_orderdate)) AS BIGINT) AS epoch_s,
  CAST(datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT) AS days_since
FROM orders ORDER BY o_orderkey""")),

    // --- Europe/Oslo naive-local → epoch conversion, the reference's
    // exact timestamp semantics (estimate_queue.py:49-51).
    QueryDef("q_oslo_epoch",
      (spark, dir) => {
        val basic = date_format(col("ts"), "yyyyMMdd'T'HHmmss")
        Tables.events(spark, dir).select(
          col("event_id"),
          basic.as("basic_iso"),
          Estimate.osloEpoch(basic).as("oslo_epoch"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
  strftime(ts, '%Y%m%dT%H%M%S') AS basic_iso,
  CAST(epoch(timezone('Europe/Oslo', strptime(strftime(ts, '%Y%m%dT%H%M%S'), '%Y%m%dT%H%M%S'))) AS BIGINT) AS oslo_epoch
FROM events ORDER BY event_id""")),

    // --- JSON functions (prediction-dict assembly, estimate_queue.py:85-88).
    QueryDef("q_json_funcs",
      (spark, dir) => {
        val k = get_json_object(col("props"), "$.k").cast("int")
        Tables.events(spark, dir).select(
          col("event_id"),
          k.as("k"),
          when(k >= 80, "high").when(k >= 40, "mid").otherwise("low").as("k_bucket"),
          to_json(struct(k.as("k"))).as("props_rebuilt"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, k,
  CASE WHEN k >= 80 THEN 'high' WHEN k >= 40 THEN 'mid' ELSE 'low' END AS k_bucket,
  to_json({'k': k}) AS props_rebuilt
FROM (SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
ORDER BY event_id""")),

    // --- Array functions (P1/P2/P4 generalized over the feature-vector
    // column). sum-of-squares uses decimal accumulation (Exact.sumSq).
    // The slice/transform results are reduced to scalar digests (the
    // driver comparator canonicalizes scalars only): an exact decimal
    // sum of the transformed head plus its first element — same array
    // semantics exercised, hash-comparable output.
    QueryDef("q_array_funcs",
      (spark, dir) => {
        val head4 = slice(col("embedding"), 1, 4)
        val doubled = transform(head4, x => x.cast("double") * lit(2.0))
        Tables.embeddings(spark, dir).select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first_val"),
          array_min(col("embedding")).cast("double").as("emb_min"),
          array_max(col("embedding")).cast("double").as("emb_max"),
          Exact.sumSq(col("embedding")).as("sumsq"),
          size(head4).as("head4_len"),
          Exact.decSumArr(doubled).as("doubled_sum"),
          element_at(doubled, 1).as("doubled_first"),
          array_position(col("embedding"), array_max(col("embedding")))
            .as("argmax_pos"))
          .orderBy(col("vec_id"))
      },
      Some(s"""SELECT vec_id,
  CAST(len(embedding) AS INT) AS dim,
  CAST(embedding[1] AS DOUBLE) AS first_val,
  CAST(list_min(embedding) AS DOUBLE) AS emb_min,
  CAST(list_max(embedding) AS DOUBLE) AS emb_max,
  ${Exact.sumSqSql("embedding")} AS sumsq,
  CAST(len(embedding[1:4]) AS INT) AS head4_len,
  ${Exact.decSumArrSql("list_transform(embedding[1:4], x -> CAST(x AS DOUBLE) * 2.0)")} AS doubled_sum,
  CAST(embedding[1] AS DOUBLE) * 2.0 AS doubled_first,
  CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS argmax_pos
FROM embeddings ORDER BY vec_id""")),

    // --- Struct + map build / field access (prediction record
    // assembly, estimate_queue.py:80-88 dict). The struct/map is built
    // and consumed inside the query; the output is its scalar fields
    // (the driver comparator canonicalizes scalars only).
    QueryDef("q_struct_funcs",
      (spark, dir) => {
        val obs = struct(col("user_id").as("station"), col("event_type").as("kind"),
          col("value").as("reading"))
        val m = map_from_arrays(
          array(lit("kind"), lit("station")),
          array(col("event_type"), col("user_id").cast("string")))
        Tables.events(spark, dir).select(
          col("event_id"),
          obs.getField("station").as("obs_station"),
          obs.getField("kind").as("obs_kind"),
          (obs.getField("reading") * 2.0).as("reading2"),
          upper(obs.getField("kind")).as("kind_u"),
          element_at(m, "kind").as("m_kind"),
          size(m).as("m_size"),
          array_join(map_keys(m), ",").as("m_keys"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
  user_id AS obs_station,
  event_type AS obs_kind,
  value * 2.0 AS reading2,
  upper(event_type) AS kind_u,
  event_type AS m_kind,
  CAST(2 AS INT) AS m_size,
  'kind,station' AS m_keys
FROM events ORDER BY event_id""")),

    // --- Broadcast dim join (K2 keyed lookup generalized): both dims
    // are broadcast — zero shuffle on the probe side at any scale.
    QueryDef("q_join_broadcast",
      (spark, dir) => Tables.customer(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(spark, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          Exact.decSum(col("c_acctbal"), 2).as("acct_total"))
        .orderBy(col("r_name"), col("n_name")),
      Some(s"""SELECT r_name, n_name, count(*) AS n_cust,
  ${Exact.decSumSql("c_acctbal", 2)} AS acct_total
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name""")),

    // --- Large equi join (shuffle / sort-merge at scale; AQE picks the
    // physical strategy) + aggregation.
    QueryDef("q_join_shuffle",
      (spark, dir) => Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          Exact.decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"))
        .orderBy(col("o_orderpriority")),
      Some(s"""SELECT o_orderpriority, count(*) AS n_items,
  ${Exact.decSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // --- Semi join (EXISTS; S1 empty-prefix existence check generalized).
    QueryDef("q_join_semi",
      (spark, dir) => {
        val heavy = Tables.lineitem(spark, dir).filter(col("l_quantity") > 45.0)
        Tables.orders(spark, dir)
          .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .select(col("o_orderkey"), col("o_orderstatus"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
ORDER BY o_orderkey""")),

    // --- Anti join (NOT EXISTS): orders with no near-capacity item.
    QueryDef("q_join_anti",
      (spark, dir) => {
        val heavy = Tables.lineitem(spark, dir).filter(col("l_quantity") > 49.0)
        Tables.orders(spark, dir)
          .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_anti")
          .select(col("o_orderkey"), col("o_orderstatus"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderstatus FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 49.0)
ORDER BY o_orderkey""")),

    // --- Outer joins: customers with/without orders in both
    // directions (NULL-extended sides), plus the full-outer union of
    // match states. COALESCE keys keep the output total-ordered.
    QueryDef("q_join_outer",
      (spark, dir) => {
        val bigOrders = Tables.orders(spark, dir)
          .filter(col("o_totalprice") > 300000.0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_name"))
          .join(bigOrders, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("c_custkey"), lit(-1L)).as("cust_k"),
            coalesce(col("o_orderkey"), lit(-1L)).as("order_k"),
            col("c_name"), col("o_totalprice"),
            when(col("c_custkey").isNull, "order_only")
              .when(col("o_orderkey").isNull, "customer_only")
              .otherwise("both").as("side"))
          .orderBy(col("cust_k"), col("order_k"))
      },
      Some("""SELECT coalesce(c_custkey, -1) AS cust_k,
  coalesce(o_orderkey, -1) AS order_k,
  c_name, o_totalprice,
  CASE WHEN c_custkey IS NULL THEN 'order_only'
       WHEN o_orderkey IS NULL THEN 'customer_only'
       ELSE 'both' END AS side
FROM customer
FULL OUTER JOIN (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                 WHERE o_totalprice > 300000.0) o
  ON c_custkey = o_custkey
ORDER BY cust_k, order_k""")),

    // --- Theta/range join: event x-position against calibration
    // segment intervals (E5 as a join). The tiny segment table is
    // broadcast → BroadcastNestedLoopJoin, no shuffle of the fact side.
    QueryDef("q_join_range",
      (spark, dir) => {
        import spark.implicits._
        val segs = Estimate.Points.sliding(2).collect {
          case Seq((xa, ya), (xb, yb)) => (xa, xb, ya, yb)
        }.toSeq.toDF("seg_lo", "seg_hi", "m_lo", "m_hi")
        Tables.events(spark, dir)
          .select(col("event_id"), (col("value") * lit(Pipeline.XScale)).as("x_pos"))
          .join(broadcast(segs),
            col("x_pos") >= col("seg_lo") && col("x_pos") < col("seg_hi"))
          .orderBy(col("event_id"))
      },
      Some(s"""SELECT event_id, x_pos, seg_lo, seg_hi, m_lo, m_hi
FROM (SELECT event_id, value * ${d(Pipeline.XScale)} AS x_pos FROM events) e
JOIN (VALUES $segmentsSql) seg(seg_lo, seg_hi, m_lo, m_hi)
  ON e.x_pos >= seg.seg_lo AND e.x_pos < seg.seg_hi
ORDER BY event_id""")),

    // --- As-of join (backward): last calibration knot at or before each
    // x-position. The calibration table is tiny and literal, so the
    // as-of collapses to a pure projection: filter the literal knot
    // array per row and take array_max (structs order by leading field
    // kx → backward as-of argmax). ZERO joins, zero shuffles, stays in
    // WholeStageCodegen — the production form when the build side fits
    // in an expression; q_join_range keeps the broadcast-join form for
    // larger build sides.
    QueryDef("q_asof_knot",
      (spark, dir) => {
        val knotsArr = array(Estimate.Points.map { case (x, m) =>
          struct(lit(x).as("kx"), lit(m).as("km"))
        }: _*)
        val best = array_max(filter(knotsArr,
          k => k.getField("kx") <= col("x_pos")))
        Tables.events(spark, dir)
          .select(col("event_id"),
            Estimate.clampNonNeg(col("value") * lit(Pipeline.XScale)).as("x_pos"))
          .withColumn("k", best)
          .filter(col("k").isNotNull)   // x_pos before the first knot: no as-of match
          .select(col("event_id"), col("x_pos"),
            col("k.kx").as("knot_x"), col("k.km").as("knot_m"))
          .orderBy(col("event_id"))
      },
      Some(s"""SELECT event_id, x_pos, max(kx) AS knot_x, arg_max(km, kx) AS knot_m
FROM (SELECT event_id, ${Estimate.clampNonNegSql(s"value * ${d(Pipeline.XScale)}")} AS x_pos FROM events) e
JOIN (VALUES $knotsSql) k(kx, km) ON k.kx <= e.x_pos
GROUP BY event_id, x_pos ORDER BY event_id""")),

    // --- Multi-join analytics (TPC-H Q3 shape): shipping-priority
    // revenue — two fact joins on the order key, partial-aggregated,
    // top-k by revenue. The canonical 3-table plan a switching user
    // runs on day one.
    QueryDef("q_pricing_topk",
      (spark, dir) => Tables.customer(spark, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < to_timestamp(lit("1995-03-15 00:00:00")))
        .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > to_timestamp(lit("1995-03-15 00:00:00")))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(Exact.decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10),
      Some(s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
  ${Exact.decSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // --- Star-shaped 5-table join (TPC-H Q5 shape): revenue by nation
    // — broadcast dims over one fact-fact shuffle join.
    QueryDef("q_region_volume",
      (spark, dir) => Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(spark, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(spark, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(Exact.decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name")),
      Some(s"""SELECT n_name,
  ${Exact.decSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    // --- Hash aggregation with the full agg-function family (fleet-wide
    // rollup of per-record estimates). Partial (map-side) aggregation is
    // automatic; one shuffle on the group key.
    QueryDef("q_agg_events",
      (spark, dir) => Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          Exact.decSum(col("value"), 2).as("sum_value"),
          Exact.decAvg(col("value"), 2).as("avg_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type")),
      Some(s"""SELECT event_type, count(*) AS n,
  count(DISTINCT user_id) AS n_users,
  ${Exact.decSumSql("value", 2)} AS sum_value,
  ${Exact.decAvgSql("value", 2)} AS avg_value,
  min(value) AS min_value,
  max(value) AS max_value
FROM events GROUP BY event_type ORDER BY event_type""")),

    // --- TPC-H Q1-shaped pricing summary (decimal-exact aggregates).
    QueryDef("q_agg_lineitem",
      // fan the one-task single-file scan out before the six decimal
      // partial folds (guide §2.5; exact decimal sums are
      // partitioning-independent); the filter and a narrow projection
      // run below the exchange so it carries only the five agg inputs
      (spark, dir) => graft.util.Par.fanOut(Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01 00:00:00")))
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Exact.decSum(col("l_quantity"), 2).as("sum_qty"),
          Exact.decSum(col("l_extendedprice"), 2).as("sum_base_price"),
          Exact.decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("sum_disc_price"),
          Exact.decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
          Exact.decAvg(col("l_quantity"), 2).as("avg_qty"),
          Exact.decAvg(col("l_extendedprice"), 2).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus,
  ${Exact.decSumSql("l_quantity", 2)} AS sum_qty,
  ${Exact.decSumSql("l_extendedprice", 2)} AS sum_base_price,
  ${Exact.decSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
  ${Exact.decSumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
  ${Exact.decAvgSql("l_quantity", 2)} AS avg_qty,
  ${Exact.decAvgSql("l_extendedprice", 2)} AS avg_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""")),

    // --- ROLLUP (hierarchical aggregates).
    QueryDef("q_rollup_events",
      (spark, dir) => Tables.events(spark, dir)
        .withColumn("mon", date_trunc("month", col("ts")))
        .rollup(col("event_type"), col("mon"))
        .agg(count(lit(1)).as("n"), Exact.decSum(col("value"), 2).as("sum_value"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("mon")),
      Some(s"""SELECT event_type, mon, count(*) AS n, ${Exact.decSumSql("value", 2)} AS sum_value
FROM (SELECT event_type, CAST(date_trunc('month', ts) AS TIMESTAMP) AS mon, value FROM events)
GROUP BY ROLLUP(event_type, mon)
ORDER BY event_type NULLS FIRST, mon NULLS FIRST""")),

    // --- CUBE.
    QueryDef("q_cube_docs",
      (spark, dir) => Tables.documents(spark, dir)
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("source")),
      Some("""SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY CUBE(lang, source)
ORDER BY lang NULLS FIRST, source NULLS FIRST""")),

    // --- GROUPING SETS via the typed Dataset API (no temp-view side
    // effect on the shared session).
    QueryDef("q_grouping_sets",
      (spark, dir) => Tables.events(spark, dir)
        .groupingSets(
          Seq(Seq(col("event_type")), Seq(col("user_id")), Seq.empty),
          col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"), Exact.decSum(col("value"), 2).as("sum_value"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("user_id")),
      Some(s"""SELECT event_type, user_id, count(*) AS n, ${Exact.decSumSql("value", 2)} AS sum_value
FROM events
GROUP BY GROUPING SETS ((event_type), (user_id), ())
ORDER BY event_type NULLS FIRST, user_id NULLS FIRST""")),

    // --- DISTINCT (exact dedup of the flag/status domain).
    QueryDef("q_distinct_flags",
      (spark, dir) => Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
ORDER BY l_returnflag, l_linestatus""")),

    // --- Ranking window functions (K2 last-write-wins machinery).
    QueryDef("q_window_rank",
      (spark, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wv = Window.partitionBy(col("user_id"))
          .orderBy(col("value").desc, col("event_id"))
        Tables.events(spark, dir).select(
          col("user_id"), col("event_id"),
          row_number().over(w).as("rn"),
          rank().over(wv).as("rk"),
          dense_rank().over(wv).as("drk"),
          ntile(4).over(w).as("quartile"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id,
  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
  rank() OVER (PARTITION BY user_id ORDER BY value DESC NULLS LAST, event_id) AS rk,
  dense_rank() OVER (PARTITION BY user_id ORDER BY value DESC NULLS LAST, event_id) AS drk,
  ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS quartile
FROM events ORDER BY user_id, event_id""")),

    // --- Analytic window functions + sliding frame (rolling smoothing
    // of the per-station estimate feed).
    QueryDef("q_window_analytic",
      (spark, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(spark, dir).select(
          col("user_id"), col("event_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("run_count"),
          round(avg(col("value")).over(w.rowsBetween(-3, 0)), 6).as("roll_avg"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, value,
  lag(value, 1) OVER w AS prev_value,
  lead(value, 1) OVER w AS next_value,
  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_count,
  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS roll_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id""")),

    // --- Latest-per-key as aggregation (K2 upsert via max_by/arg_max).
    QueryDef("q_latest_by_user",
      (spark, dir) => {
        val ord = unix_micros(col("ts")) * lit(1000L) + col("event_id")
        Tables.events(spark, dir)
          .groupBy(col("user_id"))
          .agg(
            max_by(col("value"), ord).as("last_value"),
            max_by(col("event_type"), ord).as("last_type"),
            max_by(unix_micros(col("ts")), ord).as("last_ts_us"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id,
  arg_max(value, epoch_us(ts) * 1000 + event_id) AS last_value,
  arg_max(event_type, epoch_us(ts) * 1000 + event_id) AS last_type,
  arg_max(epoch_us(ts), epoch_us(ts) * 1000 + event_id) AS last_ts_us
FROM events GROUP BY user_id ORDER BY user_id""")),

    // --- Global top-k (TakeOrderedAndProject: per-partition heaps, no
    // full sort at scale).
    QueryDef("q_topk",
      (spark, dir) => Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("value").desc, col("event_id"))
        .limit(20),
      Some("""SELECT event_id, user_id, value FROM events
ORDER BY value DESC NULLS LAST, event_id LIMIT 20""")),

    // --- Per-group top-k via ranking window.
    QueryDef("q_topk_per_group",
      (spark, dir) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value").desc, col("event_id"))
        // NO repartition pin on the window key: it would stop Catalyst
        // planning the Partial WindowGroupLimit below the exchange, so
        // every row would cross the shuffle instead of k per group per
        // task (PlanSpec pins the partial limit; a pin measured within
        // noise of none at 10k and 300k events)
        Tables.events(spark, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("event_type"), col("rn"), col("event_id"), col("value"))
          .orderBy(col("event_type"), col("rn"))
      },
      Some("""SELECT event_type, rn, event_id, value FROM (
  SELECT event_type, event_id, value,
    row_number() OVER (PARTITION BY event_type
                       ORDER BY value DESC NULLS LAST, event_id) AS rn
  FROM events) WHERE rn <= 3
ORDER BY event_type, rn""")),

    // --- Set operations (UNION distinct / INTERSECT / EXCEPT).
    QueryDef("q_set_ops",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
        val unionExcept = users("purchase").union(users("signup")).distinct()
          .except(users("error")).withColumn("op", lit("union_except"))
        val inter = users("purchase").intersect(users("click"))
          .withColumn("op", lit("intersect"))
        unionExcept.unionByName(inter)
          .select(col("op"), col("user_id"))
          .orderBy(col("op"), col("user_id"))
      },
      Some("""SELECT op, user_id FROM (
  SELECT 'union_except' AS op, user_id FROM (
    (SELECT user_id FROM events WHERE event_type = 'purchase'
     UNION SELECT user_id FROM events WHERE event_type = 'signup')
    EXCEPT SELECT user_id FROM events WHERE event_type = 'error')
  UNION ALL
  SELECT 'intersect' AS op, user_id FROM (
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT SELECT user_id FROM events WHERE event_type = 'click'))
ORDER BY op, user_id""")),

    // --- PIVOT: event types to columns (explicit value list, so the
    // plan is a single partial-aggregated pass — no distinct-scan and
    // fully deterministic columns at any scale).
    QueryDef("q_pivot",
      (spark, dir) => Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(Exact.decSum(col("value"), 2))
        .orderBy(col("user_id")),
      Some(s"""SELECT user_id,
  ${Seq("click", "error", "purchase", "signup", "view").map(t =>
    s"CAST(sum(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(30,2)) END) AS DOUBLE) AS $t")
    .mkString(",\n  ")}
FROM events GROUP BY user_id ORDER BY user_id""")),

    // --- UNPIVOT/melt: wide lineitem measures to long form.
    QueryDef("q_unpivot",
      // NOT fanned out (guide §2.5 audit): the sort keys (l_orderkey,
      // l_linenumber, measure) are not a total order in this data —
      // duplicate (ok, ln) rows exist, and their tie order under the
      // declared ORDER BY is whatever the upstream partitioning
      // yields. Repartitioning reorders the ties and changes the
      // hash-gated output; parallelism here is not worth a semantics
      // risk, so the single-scan pipeline stays.
      (spark, dir) => Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure")),
      Some("""SELECT l_orderkey, l_linenumber, measure, val FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem)
ORDER BY l_orderkey, l_linenumber, measure""")),

    // --- RANGE window frame: value-range running statistics (the
    // frame is defined by value distance, not row count). Partitioned
    // by station (user_id): window parallelism equals partition-key
    // cardinality, so a 5-value key like event_type would cap the
    // whole stage at 5 tasks regardless of cluster size.
    QueryDef("q_window_range",
      (spark, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("value"))
          .rangeBetween(-10L, 0L)
        Tables.events(spark, dir).select(
          col("event_id"), col("user_id"), col("value"),
          count(lit(1)).over(w).as("n_within_10"),
          min(col("value")).over(w).as("min_within_10"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id, value,
  count(*) OVER w AS n_within_10,
  min(value) OVER w AS min_within_10
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value
             RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)
ORDER BY event_id""")),

    // --- Exact median / interpolated percentiles per group.
    QueryDef("q_percentiles",
      (spark, dir) => Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(median(col("value")).as("med"),
          percentile(col("value"), lit(0.9)).as("p90"),
          percentile(col("value"), lit(0.99)).as("p99"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type,
  median(value) AS med,
  quantile_cont(value, 0.9) AS p90,
  quantile_cont(value, 0.99) AS p99
FROM events GROUP BY event_type ORDER BY event_type""")),

    // --- Approximate quantiles (positive-indexed variant of the
    // Greenwald-Khanna sketch): mergeable partial state, so the
    // aggregation stays two-phase at any cluster size — the scale form
    // of q_percentiles, whose exact percentile must buffer each
    // group's values. Sketch internals differ across engines → no SQL
    // oracle (driver rows-only check); PropertySpec bounds the
    // estimate against the exact percentile instead.
    QueryDef("q_approx_quantile",
      (spark, dir) => Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_med"),
          percentile_approx(col("value"), lit(0.9), lit(10000)).as("approx_p90"),
          median(col("value")).as("exact_med"),
          percentile(col("value"), lit(0.9)).as("exact_p90"))
        .orderBy(col("event_type")),
      None),

    // --- Approximate distinct (HLL sketch). Sketch internals differ
    // across engines → no SQL oracle (driver rows-only check); the
    // scalatest suite bounds it against the exact count instead.
    QueryDef("q_approx_distinct",
      (spark, dir) => Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .orderBy(col("event_type")),
      None),

    // --- Error-bound companions: the sketch VALUES can't cross
    // engines, but the sketches' accuracy contract can — emit
    // |approx − exact| ≤ bound as an int alongside the exact SQL
    // aggregate, and let the oracle compute the same exact side and
    // pin the contract bit to 1. A sketch drifting out of its
    // published bound flips the bit and reds the row.
    QueryDef("q_approx_distinct_check",
      (spark, dir) => Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        // default HLL++ rsd is 5% (one σ); 3σ = 15% relative error
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            <= col("exact_users") * lit(0.15)).cast("int").as("within_3rsd"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type,
  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
  CAST(1 AS INT) AS within_3rsd
FROM events GROUP BY event_type ORDER BY event_type""")),

    // --- Quantile-sketch contract: percentile_approx(accuracy=10000)
    // guarantees rank error ≤ 1/10000; the check brackets the estimate
    // between the exact interpolated percentiles one full rank-percent
    // away (100× the guarantee) on each side. Exact percentiles are
    // plain SQL on both engines (same functions q_percentiles gates).
    QueryDef("q_approx_quantile_check",
      (spark, dir) => Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("am"),
          percentile_approx(col("value"), lit(0.9), lit(10000)).as("a90"),
          median(col("value")).as("exact_med"),
          percentile(col("value"), lit(0.9)).as("exact_p90"),
          percentile(col("value"), lit(0.49)).as("lo_m"),
          percentile(col("value"), lit(0.51)).as("hi_m"),
          percentile(col("value"), lit(0.89)).as("lo_90"),
          percentile(col("value"), lit(0.91)).as("hi_90"))
        .select(col("event_type"), col("exact_med"), col("exact_p90"),
          (col("am") >= col("lo_m") && col("am") <= col("hi_m"))
            .cast("int").as("med_in_bounds"),
          (col("a90") >= col("lo_90") && col("a90") <= col("hi_90"))
            .cast("int").as("p90_in_bounds"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type,
  median(value) AS exact_med,
  quantile_cont(value, 0.9) AS exact_p90,
  CAST(1 AS INT) AS med_in_bounds,
  CAST(1 AS INT) AS p90_in_bounds
FROM events GROUP BY event_type ORDER BY event_type""")),

    // --- Large-volume orders (TPC-H Q18 shape): HAVING over a fact
    // rollup, then join the survivors back to their dimensions and
    // take the global top-k. The scale property: the lineitem rollup
    // partial-aggregates map-side and the HAVING prunes to a tiny
    // survivor set BEFORE any dimension join (at 100 TB the join
    // probes thousands of orders, not billions); top-k is
    // TakeOrderedAndProject. Quantity sum is integral doubles (exact
    // at any order) cast through bigint.
    QueryDef("q_big_orders",
      (spark, dir) => {
        val big = Tables.lineitem(spark, dir)
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).cast("bigint").as("total_qty"))
          .filter(col("total_qty") >= 110)
        Tables.orders(spark, dir)
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(Tables.customer(spark, dir),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
            col("o_totalprice"), col("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT c_name, o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(sum(l_quantity) AS BIGINT) >= 110) b
  ON o_orderkey = b.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),

    // --- TRY-mode expressions (ANSI-safe error tolerance): Spark 4
    // runs ANSI mode by default, where overflow and bad casts THROW —
    // correct for a warehouse, fatal for a 100 TB batch job where one
    // poison row kills the stage. The try_* family converts those
    // errors to NULL row-locally: try_add/try_multiply null on bigint
    // overflow, try_cast nulls an unparseable cast, try_element_at
    // nulls out-of-bounds access. Overflow is the EXCEPTION, not the
    // rule: only the 0.1% "poison" rows (event_id % 1000 == 0 stands
    // in for the one corrupt record per shard) carry Long.MaxValue —
    // try-error unwinding is ~100× costlier than a codegen'd add, so
    // an always-overflowing operand turns a projection into an
    // exception benchmark (it cost 11 s at sf0.1). The oracle states
    // each outcome explicitly (CASE overflow guards, TRY_CAST, native
    // OOB-NULL list access), so the null-instead-of-error contract
    // itself is what's gated — on both the poison and clean paths at
    // every SF.
    QueryDef("q_try_expr",
      (spark, dir) => {
        val isPoison = col("event_id") % 1000 === 0
        val poison = when(isPoison, lit(Long.MaxValue))
          .otherwise(col("event_id"))
        // Pre-screen: when the poison predicate is decidable row-locally
        // (here: the operand IS Long.MaxValue), a CASE guard routes the
        // known-overflow rows straight to NULL so the ~100×-costlier
        // try-unwind is paid only by rows whose outcome is genuinely
        // unknown. try_* still guards the clean path, so the
        // null-instead-of-error contract is unchanged — this dropped the
        // query from 4.6 s to sub-second at sf0.1.
        Tables.events(spark, dir)
          .select(col("event_id"),
            // overflows iff poison row AND event_id > 0 (id 0 adds 0)
            when(isPoison && col("event_id") > 0, lit(null).cast("long"))
              .otherwise(try_add(poison, col("event_id"))).as("safe_add"),
            // overflows iff poison row (Long.MaxValue * 3, incl. id 0)
            when(isPoison, lit(null).cast("long"))
              .otherwise(try_multiply(poison, lit(3L))).as("safe_mul"),
            // try_cast pays a per-row exception unwind for every
            // non-numeric string — on a column where ~0% of values
            // are numeric that is an exception benchmark all over
            // again. The shape guard routes strings that cannot
            // possibly parse (no leading digit/sign/whitespace)
            // straight to NULL; try_cast still owns the ambiguous
            // tail ("12abc", " x", overflow), so the contract is
            // unchanged. Leading whitespace is tolerated because
            // BOTH engines' try_cast trim it (" 12" → 12) — checked
            // as a first-char set, NOT folded into the regex: a
            // leading `\s*` makes the anchored match ~2.7x slower
            // than prefix-shape + one substring compare (measured).
            when(col("event_type").rlike("^[+-]?[0-9]") ||
                substring(col("event_type"), 1, 1)
                  .isin(" ", "\t", "\n", "\r", "\u000B", "\f"),
              col("event_type").try_cast("int"))
              .otherwise(lit(null).cast("int")).as("safe_cast"),
            try_element_at(split(col("event_type"), "x"), lit(5))
              .as("safe_elem"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
  CASE WHEN event_id % 1000 = 0 AND event_id > 0 THEN NULL
       WHEN event_id % 1000 = 0 THEN 9223372036854775807
       ELSE event_id + event_id END AS safe_add,
  CASE WHEN event_id % 1000 = 0 THEN NULL
       ELSE event_id * 3 END AS safe_mul,
  TRY_CAST(event_type AS INT) AS safe_cast,
  string_split(event_type, 'x')[5] AS safe_elem
FROM events ORDER BY event_id""")),

    // --- Outer generator: explode_outer preserves rows whose array is
    // EMPTY (a plain explode silently drops them — the classic "my
    // dedup ate 4% of the corpus" bug). Docs with no ≥8-char token
    // survive as a NULL-token row, so downstream accounting still sees
    // every input doc. NULLS FIRST is stated on both sides (DuckDB
    // defaults NULLS LAST; Spark defaults NULLS FIRST — the one ORDER
    // BY divergence that bites every cross-engine oracle).
    QueryDef("q_explode_outer",
      (spark, dir) => {
        val longToks = filter(split(col("text"), " "),
          t => length(t) >= 8)
        Tables.documents(spark, dir)
          .select(col("doc_id"), explode_outer(longToks).as("tok"))
          .orderBy(col("doc_id"), col("tok").asc_nulls_first)
      },
      Some("""WITH l AS (
  SELECT doc_id,
    list_filter(string_split(text, ' '), t -> length(t) >= 8) AS ll
  FROM documents)
SELECT doc_id, unnest(ll) AS tok FROM l WHERE len(ll) > 0
UNION ALL
SELECT doc_id, NULL AS tok FROM l WHERE len(ll) = 0
ORDER BY doc_id, tok NULLS FIRST""")),

    // --- VARIANT semi-structured handling (Spark 4 native type):
    // parse once into the binary variant encoding, then extract typed
    // paths with variant_get — the schema-on-read shape that replaces
    // repeated get_json_object string re-parsing (each of which
    // re-tokenizes the JSON text; variant parses ONCE and navigates
    // an encoded tree). Output is projected to typed scalars since
    // the variant binary itself is engine-internal; the oracle reads
    // the same paths with DuckDB's JSON navigation.
    QueryDef("q_variant",
      (spark, dir) => {
        val v = parse_json(col("props"))
        Tables.events(spark, dir)
          .select(col("event_id"), v.as("vj"))
          .select(col("event_id"),
            variant_get(col("vj"), "$.k", "bigint").as("k_typed"),
            variant_get(col("vj"), "$.missing", "bigint").as("k_absent"),
            is_variant_null(variant_get(col("vj"), "$.k", "variant"))
              .as("k_is_json_null"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
  CAST(json_extract_string(props, '$.missing') AS BIGINT) AS k_absent,
  -- derived from the data (JSON null extracts as the literal 'null'),
  -- not hardcoded: a regenerated corpus that starts carrying
  -- {"k": null} flips both engines together. Residual assumption:
  -- $.k is PRESENT on every row (a missing key is NULL-vs-false
  -- divergent between is_variant_null and this COALESCE).
  COALESCE(json_extract(props, '$.k') = 'null', FALSE) AS k_is_json_null
FROM events ORDER BY event_id""")),

    // --- LATERAL correlated subquery (SQL surface): per outer row,
    // run a dependent subquery — here each nation pulls its top-2
    // customers by balance. Catalyst DECORRELATES the lateral into a
    // ranked window + join (no per-row re-execution — `.explain`
    // shows Window + Join, not a loop), which is why the construct
    // survives 100 TB: it is planned set-at-a-time like
    // q_topk_per_group, just spelled in SQL. Declared through
    // spark.sql over temp views — the same logical plan the
    // DataFrame API builds, exercising the SQL front door the rest of
    // the surface leaves implicit.
    QueryDef("q_lateral",
      (spark, dir) => {
        Tables.nation(spark, dir).createOrReplaceTempView("graft_nation_v")
        Tables.customer(spark, dir)
          .createOrReplaceTempView("graft_customer_v")
        spark.sql("""
          SELECT n.n_name, t.c_custkey, t.c_acctbal
          FROM graft_nation_v n
          JOIN LATERAL (
            SELECT c_custkey, c_acctbal FROM graft_customer_v
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT 2
          ) t
          ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""")
      },
      Some("""SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n
JOIN LATERAL (
  SELECT c_custkey, c_acctbal FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2
) t ON true
ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""")),

    // --- Bitmap-based EXACT distinct count: values bucket into 32k-bit
    // bitmaps (bitmap_bucket_number / bitmap_bit_position), each
    // (group, bucket) OR-merges its bitmap map-side, and the distinct
    // count is the sum of per-bucket popcounts. Unlike COUNT(DISTINCT)
    // — whose Expand-based rewrite shuffles every distinct VALUE —
    // the shuffle here carries fixed-size bitmaps per (group, bucket),
    // and the aggregate is mergeable/incremental (bitmap_or_agg can
    // fold tomorrow's partition into yesterday's materialized bitmaps
    // — the incremental-rollup pattern q_incremental_agg shows for
    // sums, extended to DISTINCT). Oracle = plain COUNT(DISTINCT):
    // the bitmap path must be EXACT, not a sketch.
    QueryDef("q_bitmap_distinct",
      (spark, dir) => Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_partkey"))
        .groupBy(col("l_returnflag"),
          expr("bitmap_bucket_number(l_partkey)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))")
          .as("bm"))
        .groupBy(col("l_returnflag"))
        .agg(sum(expr("bitmap_count(bm)")).as("distinct_parts"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
  CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // --- DataSketches HLL with the MERGE contract: the property that
    // makes sketches the 100 TB cardinality tool is that
    // per-partition sketches union and still estimate within the
    // published bound. NOTE the contract deliberately does NOT assert
    // merged == direct: DataSketches keeps a HIP (historical inverse
    // probability) accumulator on a directly-fed sketch but must fall
    // back to the composite estimator after a union, so the two
    // estimates legitimately differ once past sparse mode — a 10×-SF
    // run of an earlier "lossless union" rendition caught exactly
    // that. What IS guaranteed (and pinned to 1): the direct AND the
    // re-merged estimate are each within bound of exact
    // COUNT(DISTINCT). This is the materialize-partials / merge-later
    // pattern (q_incremental_agg, q_bitmap_distinct) extended to
    // approximate state.
    QueryDef("q_hll_merge",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(col("event_type"), col("user_id"), col("event_id"))
        val direct = ev.groupBy(col("event_type"))
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
            .as("est_direct"))
        val merged = ev
          .withColumn("half", pmod(col("event_id"), lit(2L)))
          .groupBy(col("event_type"), col("half"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
          .groupBy(col("event_type"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
            .as("est_merged"))
        val exact = ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_distinct"))
        def inBound(est: org.apache.spark.sql.Column) =
          (abs(est - col("exact_distinct")).cast("double")
            / col("exact_distinct").cast("double") < 0.1).cast("int")
        exact.join(direct, Seq("event_type"))
          .join(merged, Seq("event_type"))
          .select(col("event_type"), col("exact_distinct"),
            inBound(col("est_direct")).as("direct_within_bound"),
            inBound(col("est_merged")).as("merged_within_bound"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
  CAST(1 AS INT) AS direct_within_bound,
  CAST(1 AS INT) AS merged_within_bound
FROM events GROUP BY event_type ORDER BY event_type""")),

    // --- PIVOT (wide aggregation): per-user event_type breakdown as
    // columns. The value list is EXPLICIT — omitting it makes Spark
    // run a driver-side distinct scan to discover columns, a hidden
    // collect that a 100 TB job must never pay (and that makes the
    // output schema data-dependent). With the list pinned, pivot
    // plans as one two-phase hash aggregation: partial per-partition
    // (user_id × 5 conditional decimal sums), one shuffle on
    // user_id. Sums ride the exact decimal→text→double route.
    QueryDef("q_pivot_events",
      (spark, dir) => Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(Exact.decSum(col("value")))
        .orderBy(col("user_id")),
      Some({
        def c(t: String) =
          "CAST(CAST(sum(CASE WHEN event_type = '" + t +
            "' THEN CAST(value AS DECIMAL(30,6)) END) AS VARCHAR) " +
            s"AS DOUBLE) AS $t"
        s"""SELECT user_id, ${Seq("click", "error", "purchase", "signup",
            "view").map(c).mkString(", ")}
FROM events GROUP BY user_id ORDER BY user_id"""
      })),

    // --- UNPIVOT (wide → long): Spark 4's native `unpivot` (melt)
    // over the lineitem measure columns, then a per-metric rollup —
    // the schema-normalization shape that turns N measure columns
    // into (metric, value) rows for generic downstream aggregation.
    // Narrow map (each input row emits 3) + one two-phase agg on the
    // 3-value metric key; the oracle restates the melt as UNION ALL.
    QueryDef("q_unpivot_lineitem",
      // fan the one-task single-file scan out before Expand + the
      // decimal partial fold over the tripled rows (guide §2.5)
      (spark, dir) => graft.util.Par.fanOut(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount")))
        .unpivot(Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount")), "metric", "mval")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"), Exact.decSum(col("mval")).as("total"))
        .orderBy(col("metric")),
      Some(s"""WITH m AS (
  SELECT 'l_quantity' AS metric, l_quantity AS mval FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT 'l_discount', l_discount FROM lineitem)
SELECT metric, CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("mval")} AS total
FROM m GROUP BY metric ORDER BY metric""")),

    // --- Null-safe equi join (<=>): NULL keys MATCH each other
    // instead of vanishing — the semantics a keyed enrichment needs
    // when "unknown" is itself a dimension value (the testdata has
    // no native NULLs, so the key derives one: nullif maps 'error'
    // to NULL on both sides). Planned as a HASH join on the
    // null-safe key (Spark keys the exchange on coalesce-like
    // wrapping of <=>), not a nested loop; the 5-row dim broadcasts.
    // The oracle spells the identical IS NOT DISTINCT FROM.
    QueryDef("q_join_nullsafe",
      (spark, dir) => {
        val dim = Tables.events(spark, dir)
          .select(nullif(col("event_type"), lit("error")).as("dim_key"))
          .distinct()
          .withColumn("dim_tag",
            concat(lit("tag_"), coalesce(col("dim_key"), lit("unknown"))))
        Tables.events(spark, dir)
          .select(col("event_id"),
            nullif(col("event_type"), lit("error")).as("k"))
          .join(broadcast(dim), col("k") <=> col("dim_key"))
          .groupBy(col("dim_tag"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("dim_tag"))
      },
      Some("""WITH dim AS (
  SELECT DISTINCT nullif(event_type, 'error') AS dim_key FROM events),
d2 AS (
  SELECT dim_key, 'tag_' || coalesce(dim_key, 'unknown') AS dim_tag
  FROM dim),
e AS (
  SELECT event_id, nullif(event_type, 'error') AS k FROM events)
SELECT dim_tag, CAST(count(*) AS BIGINT) AS n
FROM e JOIN d2 ON k IS NOT DISTINCT FROM dim_key
GROUP BY dim_tag ORDER BY dim_tag""")),

    // --- Exact discrete percentiles per group (p50/p90): the element
    // AT position ceil(p·n) of the within-group value order — no
    // interpolation arithmetic, so the result is an actual data value
    // and cross-engine exactness is free (quantile_cont/percentile
    // interpolation formulas differ between engines; percentile_disc
    // semantics don't). One shuffle on event_type; the rank window
    // reuses that exchange. The production-scale companion is the
    // KLL-style sketch already gated by q_approx_quantile_check —
    // this is the exact small-group form.
    QueryDef("q_percentile_disc",
      (spark, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(col("value"), col("event_id"))
        Tables.events(spark, dir)
          .select(col("event_type"), col("event_id"), col("value"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("event_type"))))
          .groupBy(col("event_type"))
          .agg(max(col("n")).as("n"),
            max(when(col("rn") === ceil(col("n") * lit(0.5)),
              col("value"))).as("p50"),
            max(when(col("rn") === ceil(col("n") * lit(0.9)),
              col("value"))).as("p90"))
          .orderBy(col("event_type"))
      },
      Some("""WITH r AS (
  SELECT event_type, value,
    row_number() OVER (PARTITION BY event_type
      ORDER BY value, event_id) AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM events)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
  max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN value END)
    AS p50,
  max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN value END)
    AS p90
FROM r GROUP BY event_type ORDER BY event_type""")),
  )
}
