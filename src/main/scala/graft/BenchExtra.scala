package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev-only measurement harness (guide §1.4) — NOT part of the driver
  * contract, which times only `graft.Bench`. Subcommands:
  *
  *   setup [reps]                  time each memoized shared chain individually
  *   q <name> [reps]               time one query with the noop sink (no count shortcut)
  *   pipeline <cpus> <files>       one Bench-shaped pipeline run with per-stage walls
  *   legs <files> <pairs>          Bench's leg protocol: warm-ups, then `pairs`
  *                                 interleaved local[2]/local[8] legs, per-stage walls
  *   explain <names> <dir> <suffix>  write .explain("formatted") for comma-separated queries
  *
  * Bad arguments print the usage and exit 2. Session config mirrors
  * Bench.session so numbers are comparable.
  */
object BenchExtra {

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val s = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-extra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[bench-extra] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  private val Usage =
    "usage: graft.BenchExtra setup [reps] | q <name> [reps] | pipeline <cpus> <files> | " +
      "legs <files> <pairs> | explain <names> <dir> <suffix>  (reps, cpus, files, pairs: integers >= 1)"

  private def usage(why: String): Nothing = {
    System.err.println(s"$why\n$Usage")
    sys.exit(2)
  }

  /** An integer argument in [1, max], or the usage message and exit 2. */
  private def positive(name: String, v: String, max: Long = Int.MaxValue): Long =
    v.toLongOption.filter(x => x >= 1 && x <= max).getOrElse(usage(s"$name must be an integer in [1, $max], got '$v'"))

  private def reps(rest: List[String]): Int =
    rest.headOption.map(positive("reps", _)).getOrElse(3L).toInt

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.toList match {
      case "setup" :: rest =>
        val n = reps(rest)
        val spark = session()
        (1 to n).foreach { r =>
          spark.sparkContext.setJobDescription(s"setup rep $r")
          SparkEntry.sharedChains.foreach(c => time(s"rep$r ${c.name}")(c(spark, sfDir)))
          SparkEntry.releaseTransientCaches()
          SparkEntry.releaseSharedCaches()
          spark.catalog.clearCache()
        }
        spark.stop()
      case "q" :: name :: rest =>
        val n = reps(rest)
        val fn = SparkEntry.queries.getOrElse(name, usage(s"unknown query '$name'"))
        val spark = session()
        (1 to n).foreach { r =>
          spark.sparkContext.setJobDescription(s"$name warm rep $r")
          time(s"rep$r warm")(SparkEntry.warmSharedCaches(spark, sfDir))
          spark.sparkContext.setJobDescription(s"$name rep $r")
          time(s"rep$r $name")(
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          )
          SparkEntry.releaseTransientCaches()
          SparkEntry.releaseSharedCaches()
          spark.catalog.clearCache()
        }
        spark.stop()
      case "pipeline" :: cpusArg :: nFiles :: _ =>
        val cpus = positive("cpus", cpusArg).toInt
        val (secs, stages, _) = Bench.pipelineRun(cpus, positive("files", nFiles, Long.MaxValue))
        println(f"[bench-extra] pipeline local[$cpus] $nFiles files ${secs}%.1f s")
        stages.toSeq.sortBy(_._1).foreach { case (st, ms) =>
          println(f"[bench-extra]   stage $st%-12s ${ms / 1000.0}%.1f s")
        }
      // Bench-shaped leg protocol in ONE JVM (warmup per level, then
      // interleaved 2/8 pairs) with per-stage walls per leg — for decomposing
      // the per-leg fixed cost without touching the frozen Bench.
      case "legs" :: nFiles :: pairsArg :: _ =>
        val n = positive("files", nFiles, Long.MaxValue)
        val pairs = positive("pairs", pairsArg).toInt
        def leg(cpus: Int, label: String): Double = {
          val (secs, stages, _) = Bench.pipelineRun(cpus, n)
          println(f"[bench-extra] $label local[$cpus] $n files ${secs}%.1f s")
          stages.toSeq.sortBy(_._1).foreach { case (st, ms) =>
            println(f"[bench-extra]   stage $st%-12s ${ms / 1000.0}%.1f s")
          }
          secs
        }
        leg(2, "warmup"); leg(8, "warmup")
        val t2 = Seq.newBuilder[Double]; val t8 = Seq.newBuilder[Double]
        (1 to pairs).foreach { p =>
          t2 += leg(2, s"pair$p"); t8 += leg(8, s"pair$p")
        }
        val m2 = Bench.median(t2.result()); val m8 = Bench.median(t8.result())
        println(f"[bench-extra] legs median t2=${m2}%.1f t8=${m8}%.1f ratio=${m2 / m8}%.2f eff=${m2 / m8 / 4}%.3f")
      case "explain" :: names :: outDir :: suffix :: _ =>
        names.split(",").filterNot(SparkEntry.queries.contains).foreach(n => usage(s"unknown query '$n'"))
        val spark = session()
        SparkEntry.warmSharedCaches(spark, sfDir)
        Files.createDirectories(Paths.get(outDir))
        names.split(",").foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode
          )
          val out = Paths.get(outDir, s"$name$suffix.txt")
          Files.write(out, txt.getBytes(StandardCharsets.UTF_8))
          SparkEntry.releaseTransientCaches()
          println(s"[bench-extra] wrote plan for $name to $out")
        }
        spark.stop()
      case other =>
        usage(s"unknown args: ${other.mkString(" ")}")
    }
  }
}
