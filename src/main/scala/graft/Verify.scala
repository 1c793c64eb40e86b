package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Args take precedence; absent args fall back to REQUIRED env vars
    // that fail fast naming the missing variable (U1, util.py:4-11).
    val (sfDir, outDir) = args match {
      case Array(s, o) => (s, o)
      case _ => (graft.util.Env.required("SPARK_GRAFT_SF_DIR"),
        graft.util.Env.required("SPARK_GRAFT_OUT_DIR"))
    }
    val cpus = graft.util.Env.orElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.util.Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset: SPARK_GRAFT_ONLY=q_a,q_b re-verifies just the
    // named queries (the driver never sets it, so its gate always runs
    // the full surface).
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a null oracle (an object-initialization-order bug) must cost one
    // gate row, not the whole round's dump
    val json = SparkEntry.oracleSql
      .filter(kv => keep(kv._1))
      .filter { case (k, v) =>
        val ok = v != null
        if (!ok) System.err.println(s"[verify] $k: NULL oracle skipped")
        ok
      }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
