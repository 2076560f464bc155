package graft
import org.apache.spark.sql.SparkSession

/** The session every tooling main runs on: `local[cpus]` with the
  * graft extensions, one shuffle partition per core, UTC session time
  * and no UI.
  */
object GraftSession {
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
