package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Scratch state of the query builders: table paths, checkpoints,
  * staged files and catalog warehouses.
  *
  * Every scratch path lives under `spark.sql.warehouse.dir` — the
  * deployment's shared filesystem, which executors can read, unlike
  * the driver's local temp dir — and is keyed by (input dir, tag), so
  * a re-run reuses its own path instead of leaking a new one. Each
  * call site owns a tag that no other site uses.
  */
object Scratch {
  /** `<warehouse>/graft-wh/<tag>/<md5(dir#tag)>`, deleted on entry so
    * every build starts from an empty path (idempotent reruns). */
  def fresh(spark: SparkSession, dir: String, tag: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir#$tag".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val path = s"${spark.conf.get("spark.sql.warehouse.dir")}/graft-wh/$tag/$key"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    path
  }
}
