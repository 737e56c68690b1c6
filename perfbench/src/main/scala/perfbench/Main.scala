package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The repository benchmark: one workload per run, end-to-end metrics with
  * tracing off (`--trace 0`) or per-layer metrics from a traced run
  * (`--trace 1`), output checks in both. The last stdout line is the
  * result object; see README.md in this directory.
  */
object Main {

  val Workloads: Seq[String] = Seq("dedup-mixed", "stream-ingest")

  val Usage: String =
    s"""usage: perfbench.Main --workload <${Workloads.mkString("|")}> --seed <n> --seconds <n> --trace <0|1>
       |                      [--work <dir>] [--scale <fraction>]
       |  --seed     non-negative integer; the same seed gives the same inputs
       |  --seconds  measurement window, 1-600
       |  --trace    0: end-to-end metrics; 1: per-layer metrics from a traced run
       |  --work     scratch directory (default .bench_build/work)
       |  --scale    input-size multiplier in (0, 1], for smoke tests (default 1)""".stripMargin

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String, scale: Double)

  def parse(argv: Seq[String]): Either[String, Args] = {
    val known = Set("--workload", "--seed", "--seconds", "--trace", "--work", "--scale")
    if (argv.length % 2 != 0) return Left(s"expected flag/value pairs, got: ${argv.mkString(" ")}")
    val kv = argv.grouped(2).map(p => p.head -> p(1)).toSeq
    kv.map(_._1).find(!known(_)).foreach(f => return Left(s"unknown flag $f"))
    kv.groupBy(_._1).find(_._2.size > 1).foreach(f => return Left(s"flag ${f._1} given twice"))
    val m = kv.toMap
    def need(k: String): Either[String, String] = m.get(k).toRight(s"missing $k")
    for {
      w <- need("--workload").filterOrElse(Workloads.contains, s"unknown workload ${m("--workload")}")
      s <- need("--seed").flatMap(v => v.toLongOption.filter(_ >= 0).toRight(s"bad --seed $v"))
      sec <- need("--seconds").flatMap(v => v.toIntOption.filter(x => x >= 1 && x <= 600).toRight(s"bad --seconds $v"))
      tr <- need("--trace").flatMap {
        case "0" => Right(false)
        case "1" => Right(true)
        case v => Left(s"bad --trace $v")
      }
      sc <- m.get("--scale") match {
        case None => Right(1.0)
        case Some(v) => v.toDoubleOption.filter(x => x > 0 && x <= 1).toRight(s"bad --scale $v")
      }
    } yield Args(w, s, sec, tr, m.getOrElse("--work", ".bench_build/work"), sc)
  }

  def main(argv: Array[String]): Unit = parse(argv.toSeq) match {
    case Left(err) =>
      System.err.println(s"perfbench: $err\n$Usage")
      sys.exit(2)
    case Right(a) =>
      val r = run(a)
      println(r.json)
      if (!r.correct) sys.exit(1)
  }

  // ------------------------------------------------------------ results --

  final case class Result(metrics: Seq[(String, Double, String)], attempted: Int, failed: Int) {
    def correct: Boolean = failed == 0
    def json: String = {
      val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Checks and operations of one run: every entry counts toward
    * `attempted`, every false one toward `failed`. */
  final class Ledger {
    private val entries = mutable.ArrayBuffer.empty[(String, Boolean)]
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      entries += (name -> ok)
      println(s"check ${if (ok) "ok  " else "FAIL"} $name${if (detail.isEmpty) "" else s": $detail"}")
    }
    /** An operation that must complete; a throw counts as one failure. */
    def op[T](name: String)(body: => T): Option[T] =
      try { val v = body; entries += (name -> true); Some(v) }
      catch {
        case e: Exception =>
          entries += (name -> false)
          println(s"check FAIL $name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    def attempted: Int = entries.size
    def failed: Int = entries.count(!_._2)
  }

  /** Extra figures printed as one `raw` line (not part of the result). */
  final class Raw {
    val fields = mutable.LinkedHashMap.empty[String, String]
    def put(k: String, v: Double): Unit = fields(k) = num(v)
    def putSeq(k: String, v: Seq[Double]): Unit = fields(k) = v.map(num).mkString("[", ", ", "]")
    def putStr(k: String, v: String): Unit = fields(k) = "\"" + v + "\""
    def putMap(k: String, v: Seq[(String, Double)]): Unit =
      fields(k) = v.map { case (n, x) => s""""$n": ${num(x)}""" }.mkString("{", ", ", "}")
    def line: String = fields.map { case (k, v) => s""""$k": $v""" }.mkString("raw {", ", ", "}")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it: the sample
    * at sorted index n - 11, and its percentile rank. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.length < 11) (s.lastOption.getOrElse(0.0), 100.0)
    else (s(s.length - 11), 100.0 * (s.length - 10) / s.length)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  def dirMb(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / 1048576.0

  // ----------------------------------------------------------- workloads --

  /** Input sizes at scale 1: chosen so one run (set-up repeats, warm-up,
    * the measured reps and the checks) takes about a minute at local[4]. */
  final case class Sizes(mixed: Long, corpus: Long, stream: Long, streamFiles: Int)

  def sizes(scale: Double): Sizes = Sizes(
    mixed = math.max(200L, (30000 * scale).toLong),
    corpus = math.max(200L, (2000 * scale).toLong),
    stream = math.max(40L, (480 * scale).toLong) / 4 * 4,
    streamFiles = math.max(4, (24 * scale).toInt)
  )

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(a: Args): Result = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val work = Paths.get(a.work, s"${a.workload}-${ProcessHandle.current().pid()}").toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)
    val spark = session(cores, work.toString)
    val tr = new Trace(spark.sparkContext, cores)
    spark.sparkContext.addSparkListener(tr)
    val progress = new StreamProgress
    spark.streams.addListener(progress)
    val ledger = new Ledger
    val raw = new Raw
    raw.putStr("workload", a.workload)
    raw.put("seed", a.seed.toDouble)
    raw.put("cores", cores.toDouble)
    val ctx = Ctx(spark, tr, progress, ledger, raw, a, cores, work, sizes(a.scale))
    try {
      val metrics = (a.workload, a.trace) match {
        case ("stream-ingest", false) => Stream.endToEnd(ctx)
        case ("stream-ingest", true) => Stream.traced(ctx)
        case (_, false) => Batch.endToEnd(ctx)
        case (_, true) => Batch.traced(ctx)
      }
      raw.put("failed_frac", ledger.failed.toDouble / math.max(1, ledger.attempted))
      println(raw.line)
      Result(metrics, ledger.attempted, ledger.failed)
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
      deleteTree(work)
    }
  }

  final case class Ctx(
      spark: SparkSession,
      tr: Trace,
      progress: StreamProgress,
      ledger: Ledger,
      raw: Raw,
      args: Args,
      cores: Int,
      work: Path,
      size: Sizes
  ) {
    def dir(name: String): String = work.resolve(name).toString
  }

  // --------------------------------------------------------------- checks --

  /** Exact set Jaccard of two ascending int arrays, rounded to 6 dp
    * HALF_EVEN on the double's exact binary value: the benchmark's own
    * kernel, independent of the engine's. */
  def jaccard6(a: Array[Int], b: Array[Int]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    if (inter == 0) 0.0
    else
      new java.math.BigDecimal(inter.toDouble / (a.length + b.length - inter))
        .setScale(6, java.math.RoundingMode.HALF_EVEN).doubleValue()
  }

  val jaccardUdf = udf((a: Seq[Int], b: Seq[Int]) => jaccard6(a.toArray, b.toArray))

  /** Order-independent (rows, checksum) of a table over `cols`. */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def pairsChecksum(pairs: DataFrame): (Long, Long) = checksum(pairs, Seq("group", "a", "b", "sim"))
  def componentsChecksum(c: DataFrame): (Long, Long) = checksum(c, Seq("doc_id", "cluster_id"))
}
