package graft

import graft.dedup.{Checkpoints, Config}
import org.apache.spark.sql.functions._

/** Coverage for the remaining SURVEY §2 source/sink items: CSV scan with
  * header (S1), text/CSV sink (S5) and anti-join resume (S8/J7).
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("S1/S5: CSV sink + header scan round-trips the reference input shape") {
    val dir = tmpDir("graft-csv")
    val rows = Seq(
      ("CN101", 2015, "Machine learning algorithm", "Advanced machine learning, with \"quotes\" and, commas."),
      ("CN102", 2015, "Deep learning framework", "Deep learning framework for large scale data.")
    ).toDF("pnr", "year", "title_en", "abstract_en")
    rows.coalesce(1).write.option("header", true).mode("overwrite").csv(dir)
    val back = spark.read.option("header", true).option("inferSchema", true).csv(dir)
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("pnr", "year", "title_en", "abstract_en"))
    val r = back.filter(col("pnr") === "CN101").head()
    assert(r.getAs[String]("abstract_en").contains("\"quotes\" and, commas"))
    assert(r.getAs[Int]("year") == 2015)
  }

  test("S2: header-sniffing reader — named columns when present, positional fallback") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("graft-sniff")
    // headered file with the expected columns in a DIFFERENT order + an extra
    val withHeader = s"$dir/with_header.csv"
    Files.write(
      Paths.get(withHeader),
      "year,extra,pnr,title\n2015,x,CN101,alpha\n2016,y,CN102,beta\n".getBytes("UTF-8")
    )
    // headerless file: same data positionally as (pnr, title, year)
    val noHeader = s"$dir/no_header.csv"
    Files.write(
      Paths.get(noHeader),
      "CN101,alpha,2015,junk\nCN102,beta,2016,junk\n".getBytes("UTF-8")
    )
    val want = Set(("CN101", "alpha", "2015"), ("CN102", "beta", "2016"))
    val a = graft.sources.Sources
      .readDelimited(spark, withHeader, Seq("pnr", "title", "year"))
      .as[(String, String, String)]
      .collect()
      .toSet
    val b = graft.sources.Sources
      .readDelimited(spark, noHeader, Seq("pnr", "title", "year"))
      .as[(String, String, String)]
      .collect()
      .toSet
    assert(a == want, s"named-column read: $a")
    assert(b == want, s"positional read: $b")

    // directory with MIXED files: each file is sniffed independently — the
    // headered file's first line is stripped, the headerless one's is data
    val both = graft.sources.Sources
      .readDelimited(spark, dir, Seq("pnr", "title", "year"))
      .as[(String, String, String)]
      .collect()
    assert(both.length == 4, s"expected 2+2 rows from the mixed dir, got ${both.toSeq}")
    assert(both.toSet == want, s"mixed-dir read: ${both.toSeq}")
  }

  test("S2 at scale: a 1000-file mixed directory plans ONE scan per shape, not a 1000-way union") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("graft-sniff-1k")
    (0 until 500).foreach { i =>
      Files.write(
        Paths.get(f"$dir%s/h$i%03d.csv"),
        s"year,extra,pnr,title\n${2000 + i},x,CNH$i,alphaH$i\n".getBytes("UTF-8")
      )
      Files.write(
        Paths.get(f"$dir%s/p$i%03d.csv"),
        s"CNP$i,alphaP$i,${3000 + i},junk\n".getBytes("UTF-8")
      )
    }
    val df = graft.sources.Sources.readDelimited(spark, dir, Seq("pnr", "title", "year"))
    // two shapes (one shared header line + one positional arity) -> two scans
    val leaves = df.queryExecution.analyzed.collectLeaves().length
    assert(leaves <= 2, s"plan has $leaves relation leaves — grouping by sniff outcome failed")
    val rows = df.as[(String, String, String)].collect()
    assert(rows.length == 1000)
    assert(rows.count(_._1.startsWith("CNH")) == 500)
    assert(rows.count(_._1.startsWith("CNP")) == 500)
    assert(rows.contains(("CNH7", "alphaH7", "2007")))
    assert(rows.contains(("CNP7", "alphaP7", "3007")))
  }

  test("sidecar heal: a committed stage missing its metrics gets them rebuilt on resume") {
    val work = tmpDir("graft-heal")
    val rows = (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")
    Checkpoints.stage(spark, "heal", s"$work/heal")(rows)
    Checkpoints.awaitAllSidecars()
    // simulate a run killed between data commit and sidecar write
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
    }
    rmr(new java.io.File(s"$work/heal_metrics"))
    assert(!Checkpoints.exists(spark, s"$work/heal_metrics"))
    // resume: stage data is reused (build must NOT rerun), sidecar is healed
    val resumed = Checkpoints.stage(spark, "heal", s"$work/heal")(
      sys.error("build must not re-run for a committed stage"): org.apache.spark.sql.DataFrame
    )
    assert(resumed.count() == 20)
    assert(Checkpoints.stageRowCount(spark, s"$work/heal") == 20L)
  }

  test("config guard: resuming a stage under a different config rebuilds it") {
    val work = tmpDir("graft-cfg-guard")
    val rows = (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
    val rows2 = (1L to 25L).map(i => (i, s"w$i")).toDF("k", "v")
    val sigA = Config(threshold = 0.7).stageFingerprints("pairs")
    val sigB = Config(threshold = 0.5).stageFingerprints("pairs")
    assert(sigA != sigB)
    // upstream stages don't depend on threshold: their sigs are unchanged
    assert(
      Config(threshold = 0.7).stageFingerprints("candidates") ==
        Config(threshold = 0.5).stageFingerprints("candidates")
    )
    // plan-only knob must NOT change any fingerprint (checkpoints are
    // reusable across encode plans — the bench evidence leg proves bitwise
    // equality); shingleK reaches every stage through the cumulative prefix
    assert(Config(broadcastMaxVocab = 1L).stageFingerprints == Config().stageFingerprints)
    assert(
      Config(shingleK = 3).stageFingerprints.forall { case (k, v) =>
        v != Config().stageFingerprints(k)
      }
    )
    Checkpoints.stage(spark, "g", s"$work/g", Nil, Nil, sigA)(rows)
    Checkpoints.awaitAllSidecars()
    // same sig: resumes without rebuilding
    val resumed = Checkpoints.stage(spark, "g", s"$work/g", Nil, Nil, sigA)(
      sys.error("build must not re-run"): org.apache.spark.sql.DataFrame
    )
    assert(resumed.count() == 10)
    // different sig: rebuilds (returns the NEW build, not the stale table)
    val rebuilt = Checkpoints.stage(spark, "g", s"$work/g", Nil, Nil, sigB)(rows2)
    Checkpoints.awaitAllSidecars()
    assert(rebuilt.count() == 25)
    // ... and stamps the new sig: resuming at sigB now skips the build
    val kept = Checkpoints.stage(spark, "g", s"$work/g", Nil, Nil, sigB)(
      sys.error("build must not re-run after re-stamp"): org.apache.spark.sql.DataFrame
    )
    assert(kept.count() == 25)
    // empty sig (ad-hoc caller) and pre-guard manifests stay accepted
    assert(Checkpoints.stage(spark, "g", s"$work/g")(rows).count() == 25)
  }

  test("lineage manifest is valid JSON even for paths with quotes/backslashes") {
    import graft.dedup.JsonText
    // the quoter itself
    assert(JsonText.quote("""a"b\c""" + "\t\n") == """"a\"b\\c\t\n"""")
    assert(JsonText.quote("plain") == "\"plain\"")
    // end-to-end: a workDir containing a quote round-trips through
    // _lineage.json -> a real JSON parser (Spark's reader)
    val work = tmpDir("graft-lineage-\"q\"")
    val rows = (1L to 5L).map(i => (i, s"v$i")).toDF("k", "v")
    Checkpoints.stage(spark, "lin", s"$work/lin", inputs = Seq(s"$work/in\"put"))(rows)
    Checkpoints.awaitAllSidecars()
    val parsed = spark.read.json(s"$work/lin_lineage.json").collect()
    assert(parsed.length == 1)
    val r = parsed.head
    assert(r.getAs[String]("stage") == "lin")
    assert(r.getAs[String]("path") == s"$work/lin")
    assert(r.getAs[scala.collection.Seq[String]]("inputs").toSeq == Seq(s"$work/in\"put"))
  }

  test("S8/J7: anti-join resume skips keys already in the checkpoint") {
    val work = (1L to 100L).map(i => (i, s"payload$i")).toDF("k", "v")
    val done = (1L to 40L).map(i => Tuple1(i)).toDF("k")
    val remaining = Checkpoints.resumeAnti(work, done, Seq("k"))
    assert(remaining.count() == 60)
    assert(remaining.agg(min("k")).head().getLong(0) == 41L)
    // idempotence: resuming against everything leaves nothing
    assert(Checkpoints.resumeAnti(work, work.select("k"), Seq("k")).count() == 0)
  }

  test("S7: composite (two-column) partitioned sink with per-partition metrics") {
    val work = tmpDir("graft-s7")
    val rows = Seq(
      (1L, "2015", "A", "x"), (2L, "2015", "A", "y"),
      (3L, "2015", "B", "z"), (4L, "2016", "A", "w"), (5L, "2016", "B", "v")
    ).toDF("id", "year", "typ", "payload")
    val back = Checkpoints.stage(spark, "s7", s"$work/s7", Seq("year", "typ"))(rows)
    Checkpoints.awaitAllSidecars()
    assert(back.count() == 5)
    // hive-style two-level partition dirs exist
    val dirs = new java.io.File(s"$work/s7").listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("year=2015", "year=2016"))
    // metrics sidecar has one row per (year, typ) partition with exact counts
    val m = spark.read
      .parquet(s"$work/s7_metrics")
      .select("partition", "rows")
      .as[(String, Long)]
      .collect()
      .toMap
    assert(m == Map(
      "year=2015/typ=A" -> 2L, "year=2015/typ=B" -> 1L,
      "year=2016/typ=A" -> 1L, "year=2016/typ=B" -> 1L
    ))
  }
}
