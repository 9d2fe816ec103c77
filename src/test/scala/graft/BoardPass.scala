package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}

/** The one construction of the whole board per test JVM.
  *
  * Every board-wide check that does not depend on partition layout
  * reads this record instead of building the 380 keys again:
  * PlanShapeSpec's standing audit (residue, logical global windows,
  * physical window sweep) and the wide leg of DeterminismSweepSpec.
  * The pass runs once, on first use, inside the sweep's wide layout
  * (3 shuffle partitions, 128 MB input splits). The listener bus is
  * drained after each key's construction and after its collect, so
  * the physical sweep attributes every execution to the key that
  * ran it.
  */
object BoardPass {

  /** What the pass found. `sweep` is `WindowAudit.report()` taken at
    * the end of the pass, so later suites cannot change it; `wideRows`
    * holds the swept keys' rows at the wide layout. */
  final case class Record(
      residue: Seq[String],
      globalWindowKeys: Set[String],
      sweep: (Seq[String], Set[String]),
      wideRows: Map[String, Seq[String]])

  lazy val record: Record = {
    val spark = SparkTestBase.spark
    val sf = SparkTestBase.sf
    def views(): Set[String] = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    // SessionCatalog's list, not spark.catalog.listFunctions(): that
    // builds a Function record for each of the ~500 built-ins on every
    // call, which took about a third of the pass's time
    def tempFunctions(): Set[String] =
      spark.sessionState.catalog.listTemporaryFunctions().map(_.funcName).toSet
    def diff(kind: String, before: Set[String], after: Set[String]) =
      (after -- before).toSeq.sorted.map(s"+$kind " + _) ++
        (before -- after).toSeq.sorted.map(s"-$kind " + _)
    def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)

    SessionScope.withConf(spark)(
        "spark.sql.shuffle.partitions" -> "3",
        "spark.sql.files.maxPartitionBytes" -> "134217728") {
      // the graft kernels are session-wide registrations that many
      // keys repeat, so they belong to the baseline
      graft.functions.GraftFunctions.register(spark)
      val residue = Seq.newBuilder[String]
      val globalWindowKeys = Set.newBuilder[String]
      val wideRows = Map.newBuilder[String, Seq[String]]
      WindowAudit.findings.clear()
      val listener = WindowAudit.register(spark)
      try SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (k, fn) =>
        val (conf0, views0, fns0) =
          (spark.conf.getAll, views(), tempFunctions())
        WindowAudit.currentKey = k
        val df = fn(spark, sf)
        drain()
        val (conf1, views1, fns1) =
          (spark.conf.getAll, views(), tempFunctions())
        val confDiff = (conf0.keySet ++ conf1.keySet).toSeq.sorted
          .filter(c => conf0.get(c) != conf1.get(c))
          .map(c => s"$c: ${conf0.getOrElse(c, "<unset>")} -> " +
            conf1.getOrElse(c, "<unset>"))
        val stateDiff = confDiff ++ diff("view", views0, views1) ++
          diff("function", fns0, fns1)
        if (stateDiff.nonEmpty)
          residue += s"$k: ${stateDiff.mkString(", ")}"
        if (df.queryExecution.optimizedPlan.exists {
              case w: LWindow =>
                w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable)
              case _ => false
            })
          globalWindowKeys += k
        if (DeterminismSweepSpec.swept(k, df.schema)) {
          wideRows += k -> df.collect().toSeq.map(_.toString)
          drain()
        }
      }
      finally spark.listenerManager.unregister(listener)
      Record(residue.result(), globalWindowKeys.result(), WindowAudit.report(),
        wideRows.result())
    }
  }
}
