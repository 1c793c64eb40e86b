package graft.util

import java.io.File

import graft.{SparkEntry, SparkSpec}

/** Query builders keep their scratch state (tables, checkpoints,
  * staged files, catalog warehouses, model dirs) under the warehouse,
  * keyed by (input dir, tag): a rerun reuses the same paths instead of
  * leaking a fresh temp directory per execution. One converted query
  * per family: object-store scan, partitioned write, MLlib model,
  * streaming state, SQL MERGE through a registered catalog. */
class ScratchSpec extends SparkSpec {

  private val Queries = Seq("q_binary_source", "q_partitioned_scan",
    "q_model_score", "q_stream_ttl", "q_merge_sql")

  private def graftNames(d: File): Set[String] =
    Option(d.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("graft-")).toSet

  /** Every path up to `depth` levels below the warehouse's `graft-*`
    * entries (`graft-wh/<tag>/<key>` is three levels). */
  private def under(d: File, depth: Int): Set[String] =
    if (depth == 0 || !d.isDirectory) Set.empty
    else d.listFiles().toSet.flatMap { (f: File) =>
      under(f, depth - 1) + f.getPath
    }

  test("converted builders leave nothing in java.io.tmpdir and reuse their warehouse scratch") {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val wh = new File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    def whScratch: Set[String] =
      graftNames(wh).flatMap(n => under(new File(wh, n), 2) + n)
    def runAll(): Unit = Queries.foreach { q =>
      SparkEntry.queries(q)(spark, Sf0001)
        .write.format("noop").mode("overwrite").save()
    }
    val tmpBefore = graftNames(tmp)
    runAll()
    val afterFirst = whScratch
    assert(afterFirst.exists(_.contains("graft-wh")))
    runAll()
    val leaked = graftNames(tmp) -- tmpBefore
    assert(leaked.isEmpty, s"builders left temp dirs: $leaked")
    val afterSecond = whScratch
    assert(afterSecond === afterFirst,
      s"rerun changed the warehouse scratch: +${afterSecond -- afterFirst} " +
        s"-${afterFirst -- afterSecond}")
  }
}
