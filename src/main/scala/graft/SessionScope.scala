package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scoped session state for a key: SQL conf overrides and temp views
  * that hold only for the extent of a block, so a key leaves the shared
  * session exactly as it found it.
  *
  * Both scopes restore on normal exit and when the block throws, and
  * both nest. A frame built inside a scope keeps its resolved plan after
  * the scope exits (temp views are resolved at analysis), but a plan
  * whose *execution* reads a conf runs under whatever conf is current
  * when it executes — materialize inside the scope when that matters.
  */
object SessionScope {

  /** Run `body` with the given SQL conf entries set. On exit a key that
    * was explicitly set before gets its old value back, and a key that
    * was not is unset — never pinned to the default `getOption`
    * reports for it. */
  def withConf[T](s: SparkSession)(entries: (String, String)*)(body: => T): T = {
    val explicit = s.conf.getAll
    val saved = entries.map { case (k, _) => k -> explicit.get(k) }
    entries.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally saved.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Run `body` with the given frames registered as temp views, and
    * drop them on exit. */
  def withViews[T](s: SparkSession)(views: (String, DataFrame)*)(body: => T): T = {
    views.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    try body finally views.foreach { case (name, _) => s.catalog.dropTempView(name) }
  }
}
