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

  /** [[local]] on `SPARK_GRAFT_CPUS` cores (`defaultCpus` when unset),
    * at log level `logLevel`.
    */
  def fromEnv(defaultCpus: Int, logLevel: String = "ERROR"): SparkSession = {
    val spark = local(sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(_.toInt))
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The data directory the tooling mains read: `SPARK_GRAFT_SF_DIR`. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
}
