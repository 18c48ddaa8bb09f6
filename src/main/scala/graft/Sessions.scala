package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration: Bench, Verify, [[Dev]] and
  * the test suites all build their session here, so a plan or a timing
  * from one of them is the plan or timing the others see.
  */
object Sessions {

  /** Cores for a local session: `SPARK_GRAFT_CPUS` when set, else every
    * processor the JVM sees.
    */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** `local[cores]` with one shuffle partition per core, no UI, UTC
    * session time zone and WARN logging. `conf` adds further settings
    * (the test session's warehouse dir). Returns the active session
    * when one is already running.
    */
  def local(cores: Int = defaultCores,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
