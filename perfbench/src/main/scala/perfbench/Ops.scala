package perfbench

import graft.SparkEntry

import Main.Ctx

/** The operator-suite layer: `SparkEntry.warmSharedCaches` and every
  * `SparkEntry.queries` entry, each run to a count, over a star schema the
  * benchmark generates. All of it runs under the job group `ops`. */
object Ops {

  /** The queries with a metric of their own, by id prefix; the others are
    * summed in `ops.other_s`. */
  val Named: Seq[String] = Seq(
    "q13", "q14", "q16", "q24", "q25b", "q26", "q27", "q28", "q30",
    "q31b", "q32", "q34", "q34b", "q35", "q36", "q37", "q42"
  )

  private def id(query: String): String = query.takeWhile(_ != '_')

  /** Generate the tables, warm the shared caches, run every query to a
    * count. Each query is one checked operation; every query time goes to
    * `raw` as `ops_query_s`. */
  def traced(c: Ctx): Seq[(String, Double, String)] = {
    val spark = c.spark
    val dir = c.dir("ops-tables")
    Gen.writeOps(spark, c.args.seed, dir, c.args.scale)
    val (_, tSetup) = c.tr.span("ops") {
      c.ledger.op("ops warmSharedCaches")(SparkEntry.warmSharedCaches(spark, dir))
    }
    val times = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (_, t) = c.tr.span("ops")(c.ledger.op(s"ops $name")(fn(spark, dir).count()))
      SparkEntry.releaseTransientCaches()
      name -> t.wallS
    }
    SparkEntry.releaseSharedCaches()
    val s = c.tr.groupStats("ops")
    c.raw.putMap("ops_query_s", times)
    c.raw.put("ops_suite_s", tSetup.wallS + times.map(_._2).sum)
    metrics(tSetup.wallS, s.jobs, s.shuffleBytes / 1048576.0, times)
  }

  private def metrics(setupS: Double, jobs: Int, shuffleMb: Double, times: Seq[(String, Double)])
      : Seq[(String, Double, String)] = {
    val byId = times.map { case (q, w) => id(q) -> w }.toMap
    Seq(
      ("ops.setup_s", setupS, "s"),
      ("ops.jobs", jobs.toDouble, "count"),
      ("ops.shuffle_mb", shuffleMb, "MB"),
      ("ops.other_s", times.filterNot(q => Named.contains(id(q._1))).map(_._2).sum, "s")
    ) ++ Named.map(q => (s"ops.${q}_s", byId.getOrElse(q, 0.0), "s"))
  }

  /** Ops metrics of a run that does not run the suite. */
  def idleMetrics: Seq[(String, Double, String)] = metrics(0.0, 0, 0.0, Nil)
}
