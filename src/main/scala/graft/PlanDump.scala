package graft

import java.nio.file.{Files, Paths}

/** Optimization-round helper: dump `.explain("formatted")` for named
  * queries to files (plans/rNN/<query>_<tag>.txt) so plan-shape claims
  * in OPTIMIZATION_rNN.md are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <q1,q2,...>
  * Same session as Bench ([[graft.util.Session]]), so the dumped plan
  * is the plan the bench times. Constructing a query executes its setup (DDL
  * ladders etc.); the dump is the FINAL returned DataFrame's plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, tag, names) = args.take(3)
    val sfDir = graft.util.Env.orElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.util.Env.orElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.util.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty)
    val qs = SparkEntry.queries
    wanted.foreach { name =>
      qs.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), txt)
            println(s"[plandump] wrote $outDir/${name}_$tag.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
