package perfbench

import org.apache.spark.sql.SparkSession

/** The session shape every benchmark phase uses: the engine's own
  * tuned builder at local[nproc], as Bench and Verify build it. */
object Session {
  /** Cores the session runs on: every core the JVM sees. */
  val cores: Int = Runtime.getRuntime.availableProcessors

  def create(): SparkSession = {
    val spark = graft.EngineConf.tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
