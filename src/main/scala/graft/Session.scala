package graft

import org.apache.spark.sql.SparkSession

/** The one definition of the engine's Spark session. Verify, Bench,
  * ScaleSmoke, ShuffleAudit and the test suites all build through it,
  * so the session whose results Verify hashes is the session Bench
  * times; callers differ only in the core count. */
object Session {
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the events fixture is timestamp[us]/NTZ, so its cast to
      // TimestampType depends on the session time zone: unpinned, a
      // non-UTC host computes ts-dependent keys over shifted instants
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
