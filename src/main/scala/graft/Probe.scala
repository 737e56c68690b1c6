package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.dedup._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Consolidated dev-only probes — one entry point, one subcommand each
  * (round-5 verdict: the nine standalone probe mains were working tools but
  * noise in the LoC signal). All are profilers for iterating on a single
  * stage without a full bench run; none participate in the driver contract.
  *
  * Usage: runMain graft.Probe <subcommand> [args]
  *
  *   scale  [nFiles] [cpus...]      pipeline leg at arbitrary (cpus, nFiles)
  *   encode [nFiles] [cpus] [reps]  broadcast-dict vs shuffle-join encode legs
  *   band   [nFiles] [cpus]         LSH candidate duplication factor
  *   qtime  <sfDir> <query...>      named SparkEntry queries, bench cache rules
  *   qprobe [sfDir]                 q23/q25 detector sub-chain breakdown
  *   sd     [sfDir]                 substring-dedup (q31) sub-chain breakdown
  *   vocab  <workDir> [cpus]        vocab-stage sub-steps over a docs checkpoint
  *   plans                          regenerate PLANS.md (explain formatted)
  */
object Probe {

  def main(args: Array[String]): Unit = args.toList match {
    case "scale" :: rest  => scale(rest)
    case "encode" :: rest => encode(rest)
    case "band" :: rest   => band(rest)
    case "qtime" :: rest  => qtime(rest)
    case "qprobe" :: rest => qprobe(rest)
    case "sd" :: rest     => sd(rest)
    case "vocab" :: rest  => vocab(rest)
    case "plans" :: _     => plans()
    case other =>
      System.err.println(s"unknown probe subcommand: ${other.mkString(" ")} " +
        "(expected scale|encode|band|qtime|qprobe|sd|vocab|plans)")
      sys.exit(2)
  }

  private def session(cpus: Int, shufflePartitions: Int = -1): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        (if (shufflePartitions > 0) shufflePartitions else cpus).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[T](tag: String, label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"$tag $label%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  /** Runs the exact Bench pipeline leg (tmpfs work dirs, cleanup, per-stage
    * breakdown) at arbitrary (cpus, nFiles) pairs so serial-fraction fixes
    * can be iterated without the full bench. */
  private def scale(args: List[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(250000L)
    val levels = if (args.length > 1) args.tail.map(_.toInt) else List(2, 8)
    Bench.pipelineRun(8, math.min(n, 50000L)) // warmup
    val res = levels.map { c =>
      val (secs, stages, _) = Bench.pipelineRun(c, n)
      println(f"SCALE cpus=$c n=$n secs=$secs%.1f files/sec=${n / secs}%.0f")
      stages.toSeq.sortBy(_._1).foreach { case (s, ms) => println(f"  stage $s%-12s ${ms / 1000.0}%.1f s") }
      c -> secs
    }
    for (List((c1, t1), (c2, t2)) <- res.sliding(2)) {
      val eff = (t1 / t2) / (c2.toDouble / c1)
      println(f"EFF $c1%d->$c2%d: $eff%.3f")
    }
  }

  /** Encode-path evidence: interleaved reps of the broadcast-dict plan vs
    * the forced shuffle-join plan (broadcastMaxVocab clamped under the
    * corpus vocabulary) at one parallelism level, with per-stage wall
    * breakdowns — separates a real plan-cost difference from single-shot
    * leg variance (round 4: 15.9k vs 11.8k files/s across same-code runs). */
  private def encode(args: List[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cpus = args.lift(1).map(_.toInt).getOrElse(8)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    // warm up BOTH plans: the shuffle-join encode has its own codegen/JIT
    // paths, and leaving it cold would bias exactly the comparison this
    // probe exists to settle
    val shuffleCfg = Config(broadcastMaxVocab = 100000L)
    Bench.pipelineRun(cpus, math.min(n, 100000L))
    Bench.pipelineRun(cpus, math.min(n, 100000L), shuffleCfg)
    val legs = (1 to reps).flatMap { r =>
      Seq(("broadcast", Config()), ("shuffle", shuffleCfg)).map { case (label, cfg) =>
        val (secs, stages, _) = Bench.pipelineRun(cpus, n, cfg)
        println(f"ENCODE rep=$r path=$label%-9s secs=$secs%.1f files/sec=${n / secs}%.0f")
        stages.toSeq.sortBy(_._1).foreach { case (s, ms) => println(f"  stage $s%-12s ${ms / 1000.0}%.1f s") }
        (label, secs)
      }
    }
    Seq("broadcast", "shuffle").foreach { label =>
      val ts = legs.filter(_._1 == label).map(_._2)
      val med = Bench.median(ts) // midpoint-averaged, same as the bench legs
      println(f"ENCODE median path=$label%-9s secs=$med%.1f files/sec=${n / med}%.0f (all: ${ts.sorted.map(t => f"$t%.1f").mkString(", ")})")
    }
  }

  /** Candidate-pair duplication factor (raw band-bucket pair slots vs
    * distinct pairs) at the default config — decides whether first-band
    * dedup pays for the band-hash arrays it must carry through the
    * exchange. */
  private def band(args: List[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val cpus = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = session(cpus)
    val cfg = Config()
    val docs = Pipeline.prepareDocs(CorpusGen.corpus(spark, n).toDF(), cfg)
    val vocab = Vocabulary.build(docs, cfg)
    val encoded = Vocabulary.encode(docs, vocab).persist()
    encoded.count()
    // pipeline shape: signatures on exact-class reps with the max-df cap
    val classMap = Pipeline.exactClassMap(docs.join(encoded.select("doc_id"), "doc_id"))
    val nDocs = docs.count()
    val hot = Vocabulary.hotTokenIds(vocab, nDocs, cfg)
    val reps = classMap.filter(col("doc_id") === col("rep_id")).select("doc_id")
    val sigInput = encoded
      .join(reps, "doc_id")
      .withColumn("sig_tokens", ArrayExceptSorted(col("tokens"), hot))
      .filter(size(col("sig_tokens")) > 0)
      .withColumn("tokens", col("sig_tokens"))
      .drop("sig_tokens")
    val sigs = MinHash.withSignature(sigInput, cfg).persist()
    sigs.count()
    val rows = MinHash.bandRows(sigs, cfg)
    val agg = rows
      .groupBy("group", "band", "band_hash")
      .agg(count(lit(1)).as("n"))
      .agg(
        sum(expr("(n * (n - 1)) div 2")).as("raw_pairs"),
        count(lit(1)).as("buckets"),
        max(col("n")).as("max_bucket")
      )
      .head()
    val distinctPairs = MinHash.candidatePairs(sigs, cfg).count()
    println(s"BANDPROBE nFiles=$n sigRows=${sigs.count()} rawPairSlots=${agg.getLong(0)} " +
      s"buckets=${agg.getLong(1)} maxBucket=${agg.getLong(2)} distinctPairs=$distinctPairs " +
      f"dupFactor=${agg.getLong(0).toDouble / math.max(1, distinctPairs)}%.2f")
    spark.stop()
  }

  /** Named SparkEntry queries back-to-back with Bench's cache semantics
    * (transient caches dropped per query, shared memo chains kept for the
    * session): a new query's marginal suite cost without a full bench.
    * Repeated twice — cold then warm-shared-chain timings both matter. */
  private def qtime(args: List[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail else List("q25_components", "q25b_components_incremental")
    val spark = session(32)
    (1 to 2).foreach { rep =>
      names.foreach { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"QTIME rep=$rep $name%-30s ${(System.nanoTime() - t0) / 1e9}%6.2f s  rows=$n")
        SparkEntry.releaseTransientCaches()
      }
      SparkEntry.releaseSharedCaches()
    }
    spark.stop()
  }

  /** Sub-chain breakdown for the oracle-config detector queries (q23/q25):
    * encoded chain, LSH candidate stage, verify, connected components. */
  private def qprobe(args: List[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session(32)
    val cfg = Config(threshold = 0.5, bands = 64, maxBucket = 1 << 20)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val base = docs.select(
      col("doc_id"), col("lang").as("group"),
      Tokenize.tokenSet(col("text"), cfg.shingleK).as("tokens")
    ).filter(size(col("tokens")) > 0)
    val enc = time("QPROBE", "encode-chain") {
      val vocab = Vocabulary.build(base, cfg)
      val e = Vocabulary.encode(base, vocab).persist()
      e.count()
      e
    }
    val sigs = time("QPROBE", "signatures") {
      val s = MinHash.withSignature(enc, cfg).persist()
      s.count()
      s
    }
    val bandN = time("QPROBE", "band-rows") { MinHash.bandRows(sigs, cfg).count() }
    println(s"QPROBE   band rows: $bandN")
    val raw = time("QPROBE", "raw-pair-volume") {
      MinHash.bandRows(sigs, cfg)
        .groupBy("group", "band", "band_hash")
        .agg(count(lit(1)).as("n"))
        .agg(sum((col("n") * (col("n") - 1) / 2).cast("long")))
        .head()
        .getLong(0)
    }
    println(s"QPROBE   raw pre-distinct pairs: $raw")
    val cand = time("QPROBE", "candidates(PairGen)") {
      val c = MinHash.candidatePairs(sigs, cfg).persist()
      println(s"QPROBE   candidate pairs: ${c.count()}")
      c
    }
    val pairs = time("QPROBE", "verifyCounts") {
      val p = Jaccard.verifyCounts(cand, enc, cfg.threshold).persist()
      println(s"QPROBE   verified pairs: ${p.count()}")
      p
    }
    time("QPROBE", "components") { Components.assignAll(enc, pairs).count() }
    spark.stop()
  }

  /** Profiler for the substring-dedup chain (q31a/q31b). */
  private def sd(args: List[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session(32)
    val cfg = SuffixDedup.SubConfig(k = 16, window = 5, minMatch = 20)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang").as("group"), col("text").as("content"))
      .persist()
    println(s"SDPROBE docs ${docs.count()}")
    val cand = time("SDPROBE", "candidates") {
      val c = SuffixDedup.candidatePairs(docs, cfg).persist()
      println(s"SDPROBE   candidate pairs: ${c.count()}")
      c
    }
    // distinct a-side fan-out: how much automaton reuse is available
    val aStats = cand.groupBy("a").count().agg(count(lit(1)), max(col("count")), avg(col("count"))).head()
    println(s"SDPROBE   distinct a=${aStats.getLong(0)} maxPerA=${aStats.getLong(1)} avgPerA=${aStats.getDouble(2)}")
    time("SDPROBE", "full-run") {
      val r = SuffixDedup.run(docs, cfg)
      println(s"SDPROBE   verified pairs: ${r.count()}")
    }
    // verify-only (candidates cached): join + lcs UDF
    val minMatch = cfg.minMatch
    val lcsUdf = udf((x: String, y: String) =>
      if (x.length <= y.length) SuffixDedup.lcsLen(x, y) else SuffixDedup.lcsLen(y, x))
    val ca = docs.select(col("doc_id").as("a"), col("group"), col("content").as("content_a"))
    val cb = docs.select(col("doc_id").as("b"), col("content").as("content_b"))
    time("SDPROBE", "verify-cached-cand") {
      val n = cand.join(ca, "a").join(cb, "b")
        .withColumn("lcs_len", lcsUdf(col("content_a"), col("content_b")))
        .filter(col("lcs_len") >= minMatch)
        .count()
      println(s"SDPROBE   verify rows: $n")
    }
    spark.stop()
  }

  /** Vocab-stage sub-steps over an existing docs checkpoint. */
  private def vocab(args: List[String]): Unit = {
    val work = args.head
    val cpus = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = session(cpus)
    val docs = spark.read.parquet(s"$work/docs")
    time("VPROBE", "scan-only")(docs.agg(sum(size(col("tokens")))).head())
    val agg = docs
      .select(explode(col("tokens")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    time("VPROBE", "agg-count")(println("  vocab rows " + agg.count()))
    val reg = new CacheRegistry
    val voc = time("VPROBE", "build-ids")(Vocabulary.build(docs, Config(), reg))
    time("VPROBE", "materialize")(println("  ids rows " + voc.count()))
    time("VPROBE", "write")(voc.write.mode("overwrite").option("compression", "zstd").parquet(s"/tmp/vprobe-out"))
    reg.release()
    spark.stop()
  }

  /** Dumps `explain("formatted")` for the load-bearing plans to PLANS.md —
    * the artifact for reviewing shuffle placement, pushed filters, and
    * whole-stage-codegen coverage after each change. */
  private def plans(): Unit = {
    val spark = session(4, shufflePartitions = 8)
    spark.sparkContext.setLogLevel("ERROR")

    val sf = "/root/testdata/sf0.001"
    def capture(df: DataFrame): String = {
      val bos = new ByteArrayOutputStream()
      Console.withOut(new PrintStream(bos, true, "UTF-8")) { df.explain("formatted") }
      bos.toString(StandardCharsets.UTF_8)
    }

    val cfg = Config()
    val cfg64 = Config(threshold = 0.5, bands = 64, maxBucket = 1 << 20)
    val corpusSize = 1000L
    val input = CorpusGen.corpus(spark, corpusSize).toDF()
    val docs = Pipeline.prepareDocs(input, cfg)
    val vocab = Vocabulary.build(docs, cfg)
    val encoded = Vocabulary.encode(docs, vocab)
    val sigs = SimHash.withSimhash(MinHash.withSignature(encoded, cfg), cfg)

    val sections = Seq(
      "q13_doc_pairs (flagship: within-group exact Jaccard over pruned tokens)" ->
        SparkEntry.queries("q13_doc_pairs")(spark, sf),
      "q04_join_revenue_by_nation (broadcast dim join)" ->
        SparkEntry.queries("q04_join_revenue_by_nation")(spark, sf),
      "q07_filter_project (pushdown check: PushedFilters + pruned ReadSchema)" ->
        SparkEntry.queries("q07_filter_project")(spark, sf),
      "vocabulary build (explode + partial hash agg)" -> vocab,
      "dictionary encode, broadcast-map plan (narrow projection)" -> encoded,
      "dictionary encode, shuffle-join plan (explode + join + collect_list)" ->
        Vocabulary.encodeJoin(docs, vocab),
      "LSH candidate pairs (band explode + bucket pairing)" ->
        MinHash.candidatePairs(sigs, cfg),
      "verify (candidates x encoded x encoded + jaccard kernel)" ->
        Jaccard.verify(MinHash.candidatePairs(sigs, cfg), encoded, cfg.threshold),
      "q16_ngram_jaccard (compiled WordGramSet kernel + PPJoin over 3-gram sets)" ->
        SparkEntry.queries("q16_ngram_jaccard")(spark, sf),
      "q20_fingerprint (single-pass MinGramMd5 kernel, no explode/groupBy)" ->
        SparkEntry.queries("q20_fingerprint")(spark, sf),
      // The q23/q31a SparkEntry entries return MEMOIZED tables (explain would
      // show an InMemoryTableScan and shared() would materialize the whole
      // chain just to print a plan) — dump the un-memoized builders at the
      // same configs instead, so the kernel operators are actually visible.
      // (The first-collision builder is not job-free: its oversized-bucket
      // probe runs one aggregation over the small plan corpus at
      // construction — see PairGen.pairsFromBandBucketsFirstCollision.)
      "first-collision-band candidates (64x2 oracle config, the q23 generator)" ->
        MinHash.candidatePairs(
          MinHash.withSignature(encoded, cfg64), cfg64),
      "q28_lsh_cosine_top3 (compiled HyperplaneSketch + CosineFloat re-rank)" ->
        SparkEntry.queries("q28_lsh_cosine_top3")(spark, sf),
      "winnow candidate pairs (native WinnowFingerprints, the q31a/q31b front-end)" ->
        SuffixDedup.candidatePairs(
          spark.read.parquet(s"$sf/documents.parquet")
            .selectExpr("doc_id", "lang as group", "text as content"),
          SuffixDedup.SubConfig(k = 16, window = 5, minMatch = 20),
          CacheRegistry.unmanaged),
      "q37_semdedup (SemDeDup: coarse-quantizer assign + within-cluster cosine self-join)" ->
        SparkEntry.queries("q37_semdedup")(spark, sf),
      "q40_decontaminate (13-gram eval-overlap: deduped gram explode + semi-join-shaped probe)" ->
        SparkEntry.queries("q40_decontaminate")(spark, sf),
      "q41_quality_filter (composed gate: one map-side projection, no shuffle)" ->
        SparkEntry.queries("q41_quality_filter")(spark, sf),
      // q25b's union-find runs EAGERLY at construction (driver-local at this
      // edge count); the dumped plan is the distributed remainder — the
      // broadcast relabel of the existing assignment + singleton fill-in,
      // which is the part that scans the corpus-sized table
      "q25b incremental components (delta CC + relabel join of the existing assignment)" ->
        SparkEntry.queries("q25b_components_incremental")(spark, sf),
      "q42 cluster representatives (doc_id equi-join + window partitioned BY CLUSTER — no global sort)" ->
        SparkEntry.queries("q42_cluster_representatives")(spark, sf),
      // q43's per-partition sum job runs EAGERLY at construction; the dumped
      // plan is the stamping pass — InMemoryTableScan of the range-partitioned
      // copy + one narrow mapPartitions, no single-partition window anywhere
      "q43 shard pack (global prefix sum: cached range partition + narrow stamp)" ->
        SparkEntry.queries("q43_shard_pack")(spark, sf),
      "q45 vendored flags (distinct-first repo count — mega dup classes cannot skew the agg)" ->
        SparkEntry.queries("q45_vendored_flags")(spark, sf),
      // the streaming ingest plan, dumped through its batch-parity shape
      // (identical operators; a started streaming query can't be explained
      // here): broadcast-dict encode -> band hashes -> broadcast corpus
      // probe (candidate lookup + verify kernel) -> explode
      "streaming near-dup probe (broadcast corpus probe, batch-parity shape)" -> {
        val hot = Vocabulary.hotTokenIds(vocab, corpusSize, cfg)
        // the index contract: exact-class representatives only
        val encodedReps = Pipeline.repEncoded(docs, encoded)
        graft.streaming.StreamingDedup.nearDupAgainstCorpus(
          graft.streaming.StreamingDedup.prepareStream(input.limit(50), cfg),
          vocab,
          encodedReps,
          graft.streaming.StreamingDedup.corpusIndex(encodedReps, cfg, hot),
          cfg,
          hot
        )
      }
    )

    val md = new StringBuilder("# Physical plans (explain formatted)\n")
    sections.foreach { case (title, df) =>
      md.append(s"\n## $title\n\n```\n${capture(df)}```\n")
    }
    Files.write(
      Paths.get("PLANS.md"),
      md.toString.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING
    )
    println(s"wrote PLANS.md (${md.length} chars)")
    spark.stop()
  }
}
