package graft.util

import org.apache.spark.sql.SparkSession

/** The one local session every graft main and the test suite runs
  * on: `local[cores]` with as many shuffle partitions as cores, UTC
  * session time, nanosecond parquet timestamps read as longs (the
  * events table's storage drift, see Tables), graft's Catalyst
  * extensions, and no UI. Callers add their own settings to the
  * returned builder. */
object Session {
  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
}
