package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Closed-loop benchmark client for graft: one client runs a
  * workload's queries pass after pass, each query only after the last
  * one finished. Each execution is split into the three calls into the
  * library: the `graft.queries` builder (with its eager DDL, DML and
  * model fits), forcing the executed plan (Catalyst plus graft.plans),
  * and the noop-sink write (execution).
  *
  * The first `WarmupPasses` passes are untimed. Pass 0 writes each
  * query's output as parquet for the output check that `run.py`
  * makes after this program exits. Timed passes follow until `--seconds` have
  * passed and at least `MinPasses` are done. With `--trace 1` every
  * second timed pass runs with the listeners recording, and every span
  * and per-query counter is written out. A last untimed pass writes the
  * output of each query without an oracle again, so `run.py` can check
  * that it did not change since pass 0.
  *
  * Writes `<out>/result.json`; `run.py` turns it into metrics. */
object Main {
  final case class Conf(workload: String, data: String, out: String, scratch: String,
      queries: Seq[String], seconds: Double, seed: Long, trace: Boolean)

  private val Cores = Runtime.getRuntime.availableProcessors
  private val WarmupPasses = 2
  private val MinPasses = 3

  private def conf(args: Array[String]): Conf = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(kv("workload"), kv("data"), kv("out"), kv("scratch"), kv("queries").split(",").toSeq,
      kv("seconds").toDouble, kv("seed").toLong, kv("trace") == "1")
  }

  private def session(c: Conf): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${c.scratch}/warehouse")
      .config("spark.local.dir", s"${c.scratch}/local")
    if (c.trace)
      b.config("spark.sql.streaming.streamingQueryListeners", classOf[Trace.StreamListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")

  def main(args: Array[String]): Unit = {
    val c = conf(args)
    val tables = new File(c.data).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted

    // Set-up, timed from JVM start: the session with extensions plus
    // the first scan of every input table.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(c)
    val sessionReady = (System.currentTimeMillis() - jvmStartMs) / 1e3
    tables.foreach(t => noop(spark.read.parquet(t)))
    val setup = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext

    val queries = graft.SparkEntry.queries
    val spans = mutable.ArrayBuffer.empty[Span]
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val schemas = mutable.Map.empty[String, StructType]
    val roots = Seq(new File(s"${c.scratch}/warehouse"), new File(System.getProperty("java.io.tmpdir")))
    val heap = ManagementFactory.getMemoryMXBean
    var traced = false

    var lastId = 0
    def timed[T](name: String, parent: Int, q: String, pass: Int, id: Int = 0)(body: => T): (T, Span) = {
      val spanId = if (id != 0) id else { lastId += 1; lastId }
      if (traced && parent != 0) sc.setLocalProperty(Trace.PhaseProp, name)
      val (ms, ns) = (System.currentTimeMillis(), System.nanoTime())
      var span: Span = null
      val out = try body finally {
        span = Span(spanId, parent, name, q, pass, ns, System.nanoTime(), ms, System.currentTimeMillis())
        spans += span
        if (traced) sc.setLocalProperty(Trace.PhaseProp, null)
      }
      (out, span)
    }

    def runQuery(q: String, pass: Int, check: Option[String]): Map[String, Any] = {
      lastId += 1
      val rootId = lastId
      var phase = "build"
      var failure: Option[Map[String, String]] = None
      val phaseSpans = mutable.ArrayBuffer.empty[Span]
      val (_, root) = timed("query", 0, q, pass, rootId) {
        try {
          val (df, s1) = timed("queries.build", rootId, q, pass)(queries(q)(spark, c.data))
          phaseSpans += s1; phase = "plan"
          phaseSpans += timed("plans.plan", rootId, q, pass)(df.queryExecution.executedPlan)._2
          phase = "exec"
          phaseSpans += timed("exec.run", rootId, q, pass) {
            // part files are numbered in partition order, so the check
            // reads rows back in the order the query returned them
            check match {
              case Some(dir) => df.write.mode("overwrite").parquet(s"${c.out}/$dir/$q")
              case None => noop(df)
            }
          }._2
          phase = "check"
          // The content of pass 0 is checked by run.py; later passes
          // must return the same schema.
          phaseSpans += timed("check", rootId, q, pass) {
            if (pass == 0) schemas(q) = df.schema
            else if (schemas.get(q).exists(_ != df.schema))
              throw new IllegalStateException(s"output schema changed since pass 0: ${df.schema.simpleString}")
          }._2
        } catch {
          case e: Throwable =>
            failure = Some(Map("phase" -> phase, "class" -> e.getClass.getName, "message" -> firstLine(e)))
        }
      }
      def sec(name: String) = phaseSpans.find(_.name == name).map(_.seconds).getOrElse(0.0)
      val layers = if (traced) Some(Layers.collect(sc, root, phaseSpans.toSeq, roots)) else None
      Map("query" -> q, "pass" -> pass, "traced" -> traced, "build_s" -> sec("queries.build"),
        "plan_s" -> sec("plans.plan"), "exec_s" -> sec("exec.run"),
        "latency_s" -> (sec("queries.build") + sec("plans.plan") + sec("exec.run")),
        "failure" -> failure, "layers" -> layers)
    }

    def runPass(pass: Int, check: Option[String] = None, queries: Seq[String] = c.queries): Unit = {
      val order = new scala.util.Random(c.seed * 1000003L + pass).shuffle(queries)
      val t0 = System.nanoTime()
      order.foreach(q => execs += runQuery(q, pass, check))
      val wall = (System.nanoTime() - t0) / 1e9
      // retained heap, measured outside the timed region
      System.gc(); System.gc()
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "retained_heap_mb" -> heap.getHeapMemoryUsage.getUsed / 1048576.0)
    }

    if (c.trace) {
      sc.addSparkListener(new Trace.Listener)
      spark.listenerManager.register(new Trace.QeListener)
    }
    // untimed: pass 0 keeps its outputs for the check, and the later
    // warm-up passes let the JIT settle before anything is timed
    runPass(0, check = Some("check"))
    (1 until WarmupPasses).foreach(p => runPass(p))
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // A traced run alternates untraced and traced passes, at least two
    // of each, so the JVM's warm-up trend falls on both sides of
    // trace.overhead_ratio alike.
    val minPasses = if (c.trace) 4 else MinPasses
    var pass = WarmupPasses
    while (pass < WarmupPasses + minPasses || elapsed < c.seconds) {
      traced = c.trace && (pass - WarmupPasses) % 2 == 1
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(sc)
        Trace.take()
      }
      Trace.enabled = traced
      runPass(pass)
      pass += 1
    }
    val timedS = elapsed
    Trace.enabled = false
    traced = false
    // untimed: queries without an oracle write their output once more
    val oracles = graft.SparkEntry.oracleSql.filter { case (q, sql) => c.queries.contains(q) && sql != null }
    val unchecked = c.queries.filterNot(oracles.contains)
    if (unchecked.nonEmpty) runPass(pass, check = Some("check-last"), queries = unchecked)

    val result = Map(
      "workload" -> c.workload, "seed" -> c.seed, "cores" -> Cores,
      "first_timed_pass" -> WarmupPasses, "last_timed_pass" -> (pass - 1),
      "timed_s" -> timedS, "setup_s" -> setup, "session_ready_s" -> sessionReady,
      "passes" -> passes.toSeq, "executions" -> execs.toSeq,
      "spans" -> (if (c.trace) spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "query" -> s.query, "pass" -> s.pass,
        "start_s" -> (s.startNs - start) / 1e9, "dur_s" -> s.seconds)) else Nil))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(new File(s"${c.out}/result.json"), result)
    json.writeValue(new File(s"${c.out}/oracle_sql.json"), oracles)
    json.writeValue(new File(s"${c.out}/invariant_sql.json"),
      Map("q_model_score" -> ModelScoreCheck.sql).filter { case (q, _) => c.queries.contains(q) })
    spark.stop()
  }
}

/** Per-query layer counters of the traced run, from the listener
  * records gathered while the query ran. */
object Layers {
  def collect(sc: org.apache.spark.SparkContext, root: Span, phases: Seq[Span],
      roots: Seq[File]): Map[String, Any] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val (jobs, stages, tasks, qes, progress, blockPeak) = Trace.take()

    def within(s: Span, t: Long) = t >= s.startMs && t <= s.endMs
    def phaseAt(t: Long, prop: Option[String]): String =
      prop.flatMap(p => phases.find(s => s.name == p && within(s, t)))
        .orElse(phases.find(within(_, t))).map(_.name).getOrElse("other")
    val jobPhase = jobs.map(j => j -> phaseAt(j.timeMs, j.phase))
    val stagePhase = jobPhase.flatMap { case (j, p) => j.stages.map(_ -> p) }.reverse.toMap
    val execStages = stages.filter { case (id, _) => stagePhase.get(id).contains("exec.run") }
    val execTasks = tasks.filter(t => execStages.contains(t.stage))

    // skew: max / median task shuffle-read bytes, worst reduce stage
    val skew = tasks.filter(_.shRBytes > 0).groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val b = ts.map(_.shRBytes).sorted
      val med = b(b.size / 2).toDouble
      if (med > 0) b.last / med else 0.0
    }.maxOption.getOrElse(0.0)

    val writes = qes.filter(_.graftWrite)
    val perStream = progress.groupBy(_.query).values
    def dur(k: String) = progress.map(_.durations.getOrElse(k, 0L)).sum
    val bytesWritten = roots.map(r => filesSince(r, root.startMs)).sum

    Map(
      "build_jobs" -> jobPhase.count(_._2 == "queries.build"),
      "exec_jobs" -> jobPhase.count(_._2 == "exec.run"),
      "exec_stages" -> execStages.size,
      "exec_tasks" -> execTasks.size,
      "exec_one_task_stages" -> execStages.values.count(_.numTasks == 1),
      "exec_task_cpu_s" -> execTasks.map(_.cpuNs).sum / 1e9,
      "exec_task_run_s" -> execTasks.map(_.runMs).sum / 1e3,
      "exec_task_wait_s" -> execTasks.map(t => math.max(0L, t.launchMs - execStages(t.stage).submitMs)).sum / 1e3,
      "exec_gc_s" -> execTasks.map(_.gcMs).sum / 1e3,
      "shuffle_write_bytes" -> tasks.map(_.shWBytes).sum,
      "shuffle_records_written" -> tasks.map(_.shWRecs).sum,
      "shuffle_read_bytes" -> tasks.map(_.shRBytes).sum,
      "shuffle_fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "shuffle_spill_bytes" -> tasks.map(_.spillBytes).sum,
      "shuffle_skew" -> skew,
      "scan_input_bytes" -> tasks.map(_.inBytes).sum,
      "scan_input_records" -> tasks.map(_.inRecs).sum,
      "scan_parts_planned" -> qes.map(_.partsPlanned).sum,
      "scan_parts_skipped" -> qes.map(_.partsSkipped).sum,
      "plan_exchanges" -> qes.map(_.exchanges).sum,
      "plan_group_topk_nodes" -> qes.map(_.groupTopK).sum,
      "write_cmds" -> writes.size,
      "write_cmd_s" -> writes.map(_.seconds).sum,
      "write_records" -> writes.map(_.writeRows).sum,
      "write_bytes" -> bytesWritten,
      "stream_batches" -> progress.size,
      "stream_empty_batches" -> progress.count(_.inputRows == 0),
      "stream_trigger_ms" -> dur("triggerExecution"),
      "stream_add_batch_ms" -> dur("addBatch"),
      "stream_query_planning_ms" -> dur("queryPlanning"),
      "stream_wal_commit_ms" -> dur("walCommit"),
      "stream_state_rows" -> perStream.map(_.map(_.stateRows).max).sum,
      "stream_state_commit_ms" -> progress.map(_.stateCommitMs).sum,
      "stream_state_memory_bytes" -> perStream.map(_.map(_.stateMemory).max).sum,
      "pin_block_bytes_peak" -> blockPeak)
  }

  /** Bytes of regular files under `dir` last modified at or after `ms`. */
  private def filesSince(dir: File, ms: Long): Long =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) filesSince(f, ms)
      else if (f.lastModified() >= ms) f.length()
      else 0L
    }.sum
}

/** A check of q_model_score, which has no oracle. DuckDB SQL over the
  * views `got` (the query's output) and `embeddings` (its input) that
  * returns one row per violation with its reason:
  *  - every embedding is scored exactly once;
  *  - the regression head recovers x_pos, which graft.ml.Scoring trains
  *    on the exact linear target 400 + 900 e1 + 500 e2 + 250 e3
  *    (clamped at 0, E1);
  *  - lanes is 1 or 2 and queue_full is a probability;
  *  - meters, cars and expected_queue_time follow from the query's own
  *    x_pos, lanes and queue_full through the library's SQL emitters of
  *    the E3-E9 chain. */
object ModelScoreCheck {
  import graft.functions.Estimate._

  private def close(a: String, b: String) = s"abs(($a) - ($b)) <= 1e-6 * (1.0 + abs($b))"

  val sql: String = {
    val target = "400.0 + 900.0 * e.embedding[1]::DOUBLE + 500.0 * e.embedding[2]::DOUBLE " +
      "+ 250.0 * e.embedding[3]::DOUBLE"
    val meters = unseenAdjustSql("g.x_pos",
      s"(${saturateIfFullSql("g.queue_full", piecewiseInterpSql("g.x_pos"))}) * g.lanes")
    val rules = Seq(
      "scored once" -> "count(*) OVER (PARTITION BY coalesce(g.vec_id, e.vec_id)) = 1",
      "x_pos" -> close("g.x_pos", clampNonNegSql(target)),
      "lanes" -> "g.lanes IN (1.0, 2.0)",
      "queue_full" -> "g.queue_full BETWEEN 0.0 AND 1.0",
      "meters" -> close("g.meters", meters),
      "cars" -> close("g.cars", carsOfSql("g.meters")),
      "expected_queue_time" -> close("g.expected_queue_time", queueTimeSql("g.cars")))
    val failed = rules.map { case (name, rule) => s"CASE WHEN NOT coalesce($rule, false) THEN '$name' END" }
    s"""SELECT vec_id, reason FROM (
       |  SELECT coalesce(g.vec_id, e.vec_id) AS vec_id, concat_ws(', ', ${failed.mkString(", ")}) AS reason
       |  FROM got g FULL JOIN embeddings e ON g.vec_id = e.vec_id)
       |WHERE reason <> ''""".stripMargin
  }
}
