package graft

/** The shared test session comes from the one session definition
  * (`graft.Session`) and carries its settings. Verify's result hashes
  * depend on the UTC pin. */
class SessionSpec extends GraftSuite {
  test("the shared test session carries the session definition's settings") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
