package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One generated input file plus its planted ground truth. The engine sees
  * only (repo, path, commit, lang, content); `family` and `xclass` stay with
  * the benchmark.
  *
  *  - `family`: files planted as near-duplicates of one another (a base, its
  *    exact copies and its variants); -1 for none.
  *  - `xclass`: files with byte-identical content (an exact-dup class, all
  *    in one `lang` group); -1 for a file planted as unique.
  */
final case class GenFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    family: Long,
    xclass: Long
)

/** The benchmark's own input generators. Every output is a pure function of
  * (workload, seed, size, index): the same seed gives the same bytes in any
  * run, at any parallelism, and no edit to the engine's own test generators
  * can move a workload. Tokens are plain lower-case letters and digits so
  * the reference tokenizer keeps each one whole.
  */
object Gen {

  val Langs: Array[String] = Array("scala", "java", "py", "go")

  /** SplitMix64 stream. */
  final class Rng(seed: Long) {
    private var s = seed
    def next(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
  }

  private def mix(seed: Long, salt: Long, i: Long): Long =
    seed * 0x5851f42d4c957f2dL ^ salt * 0x2545f4914f6cdd1dL ^ i * 0x9e3779b97f4a7c15L

  private def commitOf(seed: Long, i: Long): String =
    f"${mix(seed, 7L, i) & 0xffffffffffL}%010x"

  // ---------------------------------------------------------------- mixed --

  /** 40-token license header carried by about 30% of the mixed files. */
  private val header: String = (0 until 40).map(k => s"lic$k").mkString(" ")

  /** Token sequence of mixed-corpus base `b` in `repo`: 40-119 tokens, 30%
    * from a 400-word shared keyword pool, 70% from the repo's 200-word
    * namespace (so a repo word is in about 25 files and survives min-df). */
  private def mixedBase(seed: Long, b: Long, repo: Long): Array[String] = {
    val r = new Rng(mix(seed, 1L, b))
    Array.fill(40 + r.below(80)) {
      if (r.below(10) < 3) s"kw${r.below(400)}" else s"r${repo}t${r.below(200)}"
    }
  }

  /** The dedup-mixed corpus, in blocks of 20 files. Per block: a base
    * (offset 0), two exact copies (1, 2), two near-duplicates with 10% of
    * token positions replaced by words of a 500-word pool (3, 4; Jaccard
    * about 0.8; the pool words are common enough to survive min-df, so a
    * variant never collapses onto its base), and a substring
    * clone at file indexes i % 50 == 7 (the base inside twice its length of
    * keyword filler). Everything else is a singleton, so about 73% of the
    * files are singletons. Blocks whose base hashes into 3 of 10 carry the
    * license header, as do 3 in 10 singletons. */
  def mixed(seed: Long, i: Long): GenFile = {
    val blk = i / 20
    val k = (i % 20).toInt
    val substring = i % 50 == 7
    val planted = k <= 4 || substring
    val baseIdx = if (planted) blk else -1L - i // singletons: a base of their own
    val lang = Langs(((if (planted) blk else i) % Langs.length).toInt)
    val base = mixedBase(seed, baseIdx, i / 100)
    val body: Array[String] =
      if (!planted || k <= 2) base
      else if (substring) {
        val r = new Rng(mix(seed, 2L, i))
        Array.fill(base.length)(s"kw${r.below(400)}") ++ base ++ Array.fill(base.length)(s"kw${r.below(400)}")
      } else {
        val r = new Rng(mix(seed, 3L, i))
        val out = base.clone()
        for (_ <- 0 until math.max(1, base.length / 10)) out(r.below(out.length)) = s"mut${r.below(500)}"
        out
      }
    val withHeader = java.lang.Long.remainderUnsigned(mix(seed, 4L, baseIdx), 10L) < 3L
    val content = (if (withHeader) header + " " else "") + body.mkString(" ")
    GenFile(
      repo = f"repo${i / 100}%05d",
      path = f"src/m$i%07d.$lang",
      commit = commitOf(seed, i),
      lang = lang,
      content = content,
      family = if (planted) blk else -1L,
      xclass = if (planted && k <= 2) blk else -1L
    )
  }

  /** Blocks of a mixed corpus of `n` files that hold all five planted
    * members (offsets 0-4). */
  def mixedBlocks(n: Long): Long = (n + 15) / 20

  /** Planted truth pairs of mixed-corpus block `blk`, taken from the
    * generator's own word sets, so no engine stage can move them: every
    * pair among the base, its two exact copies and its two near-duplicates
    * whose Jaccard over distinct words is at least `minJ`. The engine's
    * min-df filter only drops words of a single file, which the planted
    * members share, so a margin above the threshold keeps every such pair
    * above it in the engine's token space too. Returns
    * (path a, path b, Jaccard) with path a < path b. */
  def mixedTruthPairs(seed: Long, blk: Long, minJ: Double): Seq[(String, String, Double)] = {
    val files = (0 until 5).map(k => mixed(seed, blk * 20 + k))
    val sets = files.map(_.content.split(" ").toSet)
    for {
      x <- 0 until 5
      y <- x + 1 until 5
      j = (sets(x) & sets(y)).size.toDouble / (sets(x) | sets(y)).size
      if j >= minJ
    } yield (files(x).path, files(y).path, j)
  }

  // --------------------------------------------------------------- stream --

  /** Ingest-stream file `i` against a mixed corpus of `n` files. By i % 4:
    *  - 0: exact re-upload of corpus file (i * 7919) mod n under a new path
    *    (the first-seen gate must drop it);
    *  - 1: near-duplicate of a corpus base (every 10th token removed, one
    *    stream-unique token added; Jaccard about 0.9 on the corpus
    *    vocabulary) — `family` names the base block;
    *  - 2: a novel file of stream-only words;
    *  - 3: a byte copy of stream file i - 1 under another path (the gate's
    *    within-stream leg must drop it).
    * So exactly the files with i % 4 in {1, 2} are accepted. */
  def stream(seed: Long, n: Long, i: Long): GenFile = {
    val repo = f"ingest${i / 100}%05d"
    val commit = f"s$i%09d"
    (i % 4).toInt match {
      case 3 =>
        val orig = stream(seed, n, i - 1)
        orig.copy(path = s"in/dup$i/" + orig.path.split('/').last)
      case 0 =>
        val src = mixed(seed, (i * 7919L) % n)
        src.copy(repo = repo, path = f"in/re$i%07d.${src.lang}", commit = commit, family = -1L, xclass = -1L)
      case 1 =>
        val blk = ((i * 104729L) % (n / 20)).toLong
        val src = mixed(seed, blk * 20)
        val kept = src.content.split(" ").zipWithIndex.collect { case (t, k) if k % 10 != 3 => t }
        GenFile(repo, f"in/near$i%07d.${src.lang}", commit, src.lang, (kept :+ s"zsnear$i").mkString(" "), blk, -1L)
      case _ =>
        val lang = Langs((i % Langs.length).toInt)
        val r = new Rng(mix(seed, 10L, i))
        val body = Array.tabulate(40 + r.below(40))(k => s"zs${i}n$k")
        GenFile(repo, f"in/new$i%07d.$lang", commit, lang, body.mkString(" "), -1L, -1L)
    }
  }

  // ------------------------------------------------------------------ ops --

  private def ts(ms: Long): Timestamp = new Timestamp(ms)
  private val Day = 86400000L
  private val Y1992 = 694224000000L // 1992-01-01T00:00:00Z
  private val Y2024 = 1704067200000L // 2024-01-01T00:00:00Z

  /** Words of the operator-suite documents: a 30-word vocabulary, so short
    * documents overlap heavily and the pair queries have work to do. */
  private val OpsWords: Array[String] = ("the a fast slow big small key value row column table scan join " +
    "filter sort merge group agg hash window order line part customer data query stream batch spark vector").split(" ")

  private def money(r: Rng, lo: Int, hi: Int): Double = (lo * 100 + r.below((hi - lo) * 100)) / 100.0

  /** The operator suite's star schema plus its documents, embeddings and
    * events tables, written as `dir/<table>.parquet` with the column names
    * and types `SparkEntry.queries` reads. At scale 1 the sizes are those of
    * the smallest shared test scale: 6,000 lineitems, 1,500 orders, 500
    * documents, 500 embeddings of dimension 64 and 1,000 events. Every row
    * is a pure function of (seed, table, row). In the documents table, every
    * id ending in 9 repeats the text of the id before it, and every id
    * ending in 8 is a copy of the id two before it with a tenth of its words
    * replaced, so the exact and near-duplicate queries emit pairs. */
  def writeOps(spark: SparkSession, seed: Long, dir: String, scale: Double): Unit = {
    def n(k: Int): Int = math.max(10, (k * scale).toInt)
    def table(name: String, schema: StructType, rows: Int)(row: (Rng, Int) => Row): Unit = {
      val salt = name.hashCode.toLong
      val data = (0 until rows).map(i => row(new Rng(mix(seed, salt, i.toLong)), i))
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    def st(fields: (String, DataType)*): StructType = StructType(fields.map { case (f, t) => StructField(f, t) })
    val (nOrders, nCust, nPart, nSupp, nDocs) = (n(1500), n(150), n(200), 10, n(500))

    table("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType), 5) { (_, i) =>
      Row(i, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i))
    }
    table("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType), 25) {
      (_, i) => Row(i, s"NATION_$i", i % 5)
    }
    table("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType), nCust) { (r, i) =>
      Row(i.toLong, f"Customer#$i%09d", r.below(25), money(r, -999, 9999),
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(r.below(5)))
    }
    table("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType), nSupp) { (r, i) =>
      Row(i.toLong, f"Supplier#$i%09d", r.below(25), money(r, -999, 9999))
    }
    table("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType), nPart) { (r, i) =>
      Row(i.toLong, Seq("cold", "small", "large", "red", "green")(r.below(5)) + " widget", s"Brand#${1 + r.below(25)}",
        Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")(r.below(6)), 1 + r.below(50), 900.0 + i / 10.0)
    }
    table("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType), nOrders) {
      (r, i) =>
        Row(i.toLong, r.below(nCust).toLong, Seq("F", "O", "P")(r.below(3)), money(r, 1000, 400000),
          ts(Y1992 + r.below(9 * 365) * Day), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.below(5)))
    }
    table("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType), 4 * nOrders) { (r, i) =>
      val qty = 1 + r.below(50)
      Row((i / 4).toLong, r.below(nPart).toLong, r.below(nSupp).toLong, 1 + i % 4, qty.toDouble,
        qty * money(r, 900, 2100), r.below(11) / 100.0, r.below(9) / 100.0, Seq("A", "N", "R")(r.below(3)),
        Seq("F", "O")(r.below(2)), ts(Y1992 + r.below(9 * 365) * Day))
    }
    table("events", st("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), n(1000)) { (r, i) =>
      Row(i.toLong, ts(Y2024 + i * 2592L * 1000L + r.below(1000000)), r.below(15).toLong,
        Seq("click", "error", "purchase", "signup", "view")(r.below(5)), money(r, 0, 200), s"""{"k": ${r.below(100)}}""")
    }
    table("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType), n(500)) {
      (r, i) =>
        val label = r.below(10)
        // a label centroid plus noise, so near neighbours exist
        val c = new Rng(mix(seed, 11L, label.toLong))
        Row(i.toLong, Seq.fill(64)(((c.below(2001) - 1000) / 5000.0 + (r.below(2001) - 1000) / 20000.0).toFloat), label)
    }
    def docText(i: Int): String = {
      val r = new Rng(mix(seed, 12L, i.toLong))
      i % 10 match {
        case 9 => docText(i - 1)
        case 8 =>
          val words = docText(i - 2).split(" ")
          for (_ <- 0 until math.max(1, words.length / 10)) words(r.below(words.length)) = OpsWords(r.below(OpsWords.length))
          words.mkString(" ")
        case _ => Array.fill(10 + r.below(90))(OpsWords(r.below(OpsWords.length))).mkString(" ")
      }
    }
    // one language per run of ten ids, so planted duplicates share a group
    table("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType), nDocs) { (r, i) =>
      val text = docText(i)
      val lang = Seq("de", "en", "es", "fr", "zh")(new Rng(mix(seed, 13L, i / 10L)).below(5))
      Row(i.toLong, text, lang, s"src${r.below(20)}", text.length.toLong)
    }
  }

  // ------------------------------------------------------------- frames --

  /** Distributed generation: `file(i)` for i in [0, n). */
  def frame(spark: SparkSession, n: Long, file: Long => GenFile): DataFrame = {
    import spark.implicits._
    spark.range(n).map(i => file(i)).toDF()
  }

  /** The engine-visible columns of a generated frame. */
  val InputCols: Seq[String] = Seq("repo", "path", "commit", "lang", "content")

  def input(df: DataFrame): DataFrame = df.select(InputCols.map(df.col): _*)
}
