package graft

/** SessionScope restores exactly the session state it found: old values
  * come back, keys that were not set are unset again (never pinned to
  * their default), nested scopes unwind in order, and a thrown exception
  * restores like a normal exit. */
class SessionScopeSpec extends GraftSuite {

  private val absent = "spark.sql.cbo.joinReorder.dp.threshold"
  private val custom = "graft.test.sessionScope"

  test("withConf: a key absent before the scope is absent after it") {
    assert(!spark.conf.getAll.contains(absent))
    // getOption reports the default although nothing set the key —
    // the value a getOption-based restore would pin
    assert(spark.conf.getOption(absent).isDefined)
    SessionScope.withConf(spark)(absent -> "7") {
      assert(spark.conf.get(absent) == "7")
    }
    assert(!spark.conf.getAll.contains(absent))
  }

  test("withConf: nested scopes restore each level on exit") {
    val parts = "spark.sql.shuffle.partitions"
    val outer = spark.conf.get(parts)
    assert(!spark.conf.getAll.contains(custom))
    SessionScope.withConf(spark)(parts -> "5", custom -> "a") {
      SessionScope.withConf(spark)(parts -> "6", custom -> "b") {
        assert(spark.conf.get(parts) == "6" && spark.conf.get(custom) == "b")
      }
      assert(spark.conf.get(parts) == "5" && spark.conf.get(custom) == "a")
    }
    assert(spark.conf.get(parts) == outer)
    assert(!spark.conf.getAll.contains(custom))
  }

  test("withConf: restores when the body throws") {
    val parts = "spark.sql.shuffle.partitions"
    val before = spark.conf.getAll
    val e = intercept[IllegalStateException] {
      SessionScope.withConf(spark)(parts -> "9", absent -> "3", custom -> "x") {
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(spark.conf.getAll == before)
  }

  test("withViews: views exist inside the scope only, and frames built " +
      "inside keep working after it") {
    def views(): Set[String] = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = views()
    val df = SessionScope.withViews(spark)(
        "graft_scope_a" -> spark.range(10).toDF("x")) {
      assert(views().contains("graft_scope_a"))
      spark.sql("SELECT sum(x) AS s FROM graft_scope_a")
    }
    assert(views() == before)
    assert(df.collect()(0).getLong(0) == 45L)
    intercept[RuntimeException] {
      SessionScope.withViews(spark)("graft_scope_b" -> spark.range(1).toDF()) {
        throw new RuntimeException("boom")
      }
    }
    assert(views() == before)
  }
}
