package graft

import org.apache.spark.sql.DataFrame

/** Perf harness: per query, one untimed warmup run then 3 timed runs,
  * reporting the median — JIT/first-scan warmup and sandbox jitter
  * cannot masquerade as regressions (round-2 lesson: a single cold
  * run recorded a 2× phantom slowdown on identical code).
  *
  * Execution goes through the noop sink, which consumes every row of
  * the final plan: unlike `count()`, Catalyst cannot prune away the
  * projected expressions, so projection-heavy queries are actually
  * measured. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.util.Env.orElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.util.Env.orElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.util.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def exec(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Session warmup: pay executor spin-up + first-parquet-scan cost
    // once, outside any query's timing.
    exec(spark.read.parquet(s"$sfDir/lineitem.parquet"))
    exec(spark.read.parquet(s"$sfDir/events.parquet"))

    // Optional comma-separated subset (dev loop: re-time one query
    // after a plan change without paying for the other ~100).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Inter-query state hygiene, OUTSIDE any timed region: queries
    // that localCheckpoint/cache leave blocks in the block manager
    // until the ContextCleaner happens to GC them — across ~300
    // queries in one JVM the accumulation degrades late queries
    // through memory pressure, which round 17's board measured as a
    // 3.5× phantom slowdown on q_semdedup (1.9 s isolated, 6.8 s on
    // the full board, identical code). Dropping persisted blocks
    // between queries makes each measurement self-contained; any
    // checkpoint cost a query actually pays stays inside its timing.
    def dropState(): Unit = try {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    } catch { case _: Throwable => () }

    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      def run(): Double = {
        val t0 = System.nanoTime()
        exec(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      val median =
        try { run(); Seq(run(), run(), run()).sorted.apply(1) }
        catch { case _: Throwable => -1.0 }
      dropState()
      name -> median
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // Streaming queries carry fixed micro-batch machinery cost (~5 s
    // floor each at any SF) that drowns the batch signal in one grand
    // total; report the subtotals separately so round-over-round perf
    // comparison can track each population on its own floor.
    val streamTotal = results
      .collect { case (k, v) if v >= 0 && k.startsWith("q_stream_") => v }.sum
    val batchTotal = total - streamTotal
    val line = s"""{"metric":"total","value":$total,"unit":"sec","batch_sec":$batchTotal,"streaming_sec":$streamTotal,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // Also persist the line to a file: a truncated stdout capture must
    // not lose the result (BENCH_r04's tail dropped the total).
    val outFile = graft.util.Env.orElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    spark.stop()
    // Re-emit AFTER spark.stop(): Spark's shutdown logging goes to
    // stderr, and build.sbt suppresses sbt's "[success]" epilogue, so
    // this print is the final stdout line — exactly what a tail-parsing
    // harness reads. (The earlier print + file write still guard
    // against a hang inside stop().)
    println(line)
    // The full line above is ~15 KB at 224 queries — larger than a
    // tail-scraping harness's capture window, so a truncated tail sees
    // an unparseable fragment. Emit a COMPACT summary as the true final
    // line: same top-level contract (metric/value/unit/sf), no
    // per-query map (that detail lives in the full line + the file).
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","batch_sec":$batchTotal,"streaming_sec":$streamTotal,"nq":${results.size},"sf":"$sfDir"}"""
    println(summary)
    System.out.flush()
  }
}
