package graft

/** Shared parser for BASELINE.md's "## rNN per-query seconds" anchor
  * tables, so a format change cannot split the runtime drift gate
  * from the completeness test (copies of the section/row regexes
  * with different cwd fallbacks once did). Bench consumes
  * [[anchorsFor]] (env-filtered values), RelationalCoreSpec consumes
  * [[latestKeys]] (key completeness, deliberately env-agnostic —
  * a key must be anchored no matter which box anchored it).
  */
private[graft] object BaselineAnchors {
  private val sectRe = "(?s)## r(\\d+) per-query seconds.*?(?=\n## |\\z)".r
  private val rowRe = "\\|\\s*`([a-z0-9_]+)`\\s*\\|\\s*([0-9.]+)\\s*\\|".r
  private val envRe = "\\(local\\[(\\d+)\\],\\s*(sf[0-9.]+)".r

  /** BASELINE.md text: cwd copy if present, else the repo checkout
    * (the driver may run Bench from a bare directory). */
  def readText(): Option[String] = {
    val repoDir = Option(System.getProperty("user.dir"))
      .filter(d => java.nio.file.Files.exists(
        java.nio.file.Paths.get(d, "BASELINE.md")))
      .getOrElse("/root/repo")
    val p = java.nio.file.Paths.get(repoDir, "BASELINE.md")
    if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p))
    else None
  }

  /** (round, section text) of every per-query anchor section, in
    * round order. */
  private def sections(text: String): Seq[(Int, String)] =
    sectRe.findAllMatchIn(text).toSeq
      .map(m => m.group(1).toInt -> m.group(0)).sortBy(_._1)

  /** The highest round number among the anchor sections, if any. */
  def latestRound(text: String): Option[Int] =
    sections(text).lastOption.map(_._1)

  /** key → anchor seconds rows of one section. */
  def rows(section: String): Map[String, Double] =
    rowRe.findAllMatchIn(section)
      .map(r => r.group(1) -> r.group(2).toDouble).toMap

  /** True when the section's recorded "(local[N], sfX …)" header
    * matches this run's core count and fixture scale — anchors from
    * a different machine shape or scale must disarm the drift gate,
    * not flag half the board. */
  def envMatches(section: String, cpus: String, sfDir: String): Boolean =
    envRe.findFirstMatchIn(section).exists(e =>
      e.group(1) == cpus &&
        sfDir.stripSuffix("/").endsWith(e.group(2)))

  /** Env-filtered anchors for the drift gate (Bench): the round and
    * rows of the LATEST section whose header matches this run's env —
    * not merely the latest section overall. One round can anchor the
    * board at several core counts (32 and 8), so it contributes
    * same-numbered sections and the gate must pick the matching one
    * instead of disarming whenever another env's table happens to sit
    * last in the file. None = no section matches. */
  def anchorsFor(text: String, cpus: String,
      sfDir: String): Option[(Int, Map[String, Double])] =
    sections(text).filter(x => envMatches(x._2, cpus, sfDir)).lastOption
      .map { case (round, section) => round -> rows(section) }

  /** Every key anchored in the newest round, env-agnostic (the
    * completeness gate in RelationalCoreSpec): the union over all of
    * that round's sections, since one round may split the board's
    * envs across several tables. None = no table. */
  def latestKeys(text: String): Option[Set[String]] =
    latestRound(text).map(n =>
      sections(text).filter(_._1 == n).flatMap(x => rows(x._2).keySet).toSet)
}
