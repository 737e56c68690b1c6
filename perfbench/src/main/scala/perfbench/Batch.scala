package perfbench

import graft.dedup._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Main.{Ctx, median, secs}

/** The dedup-mixed workload and the batch layers every traced run times.
  * Both workloads run the engine's default `Config` (k = 1, t = 0.7). */
object Batch {

  val Layers: Seq[String] = Seq("docs", "vocab", "encoded", "signatures", "candidates", "pairs", "components")

  /** Planted pairs whose Jaccard over the generator's word sets is at least
    * the threshold plus this margin are the recall truth. */
  val TruthMargin = 0.05

  /** Write a mixed corpus of `n` files as engine input under `input`. With
    * `truth`, also write the planted truth beside it: (path, family, xclass)
    * under `truth` and the generator's truth pairs under `truth-pairs`. */
  def generate(c: Ctx, n: Long, input: String, truth: Option[String]): Unit = {
    val seed = c.args.seed
    val df = Gen.frame(c.spark, n, i => Gen.mixed(seed, i)).persist()
    Gen.input(df).write.mode("overwrite").parquet(input)
    truth.foreach { dir =>
      df.select("path", "family", "xclass").write.mode("overwrite").parquet(dir)
      import c.spark.implicits._
      val minJ = Config().threshold + TruthMargin
      c.spark.range(Gen.mixedBlocks(n)).flatMap(b => Gen.mixedTruthPairs(seed, b, minJ))
        .toDF("path_a", "path_b", "gen_j").write.mode("overwrite").parquet(s"$dir-pairs")
    }
    df.unpersist()
  }

  /** Generate `reps` times (set-up); returns the median seconds. */
  def setup(c: Ctx, reps: Int): Double = {
    val times = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      generate(c, c.size.mixed, c.dir("input"), Some(c.dir("truth")))
      secs(t0)
    }
    c.raw.putSeq("setup_reps_s", times)
    median(times)
  }

  /** One untraced `Pipeline.run` of `input` into a fresh work dir:
    * (wall s, tables). */
  def pipeline(c: Ctx, cfg: Config, name: String, input: String = "input"): (Double, Pipeline.Tables) = {
    val out = c.dir(name)
    Main.deleteTree(java.nio.file.Paths.get(out))
    val in = c.spark.read.parquet(c.dir(input))
    val t0 = System.nanoTime()
    val t = Pipeline.run(c.spark, in, cfg, out)
    (secs(t0), t)
  }

  /** One untimed `Pipeline.run` of a mixed corpus of [[WarmFiles]] files:
    * class loading, JIT and plan codegen. Without it the first rep in a JVM
    * is about 1.5 times as slow as the next. A warm-up on the full input
    * takes longer and leaves the first timed rep no faster. */
  def warmUp(c: Ctx, cfg: Config): Unit = {
    generate(c, math.min(WarmFiles, c.size.mixed), c.dir("warm-input"), None)
    val walls = c.ledger.op("pipeline warm-up")(pipeline(c, cfg, "warm", "warm-input")).map(_._1).toSeq
    c.raw.putSeq("warmup_s", walls)
  }

  val WarmFiles = 1000L

  def endToEnd(c: Ctx): Seq[(String, Double, String)] = {
    val cfg = Config()
    // the warm-up goes first, so it also pays the cold start of the
    // generator and the parquet writer that the set-up reps would pay
    warmUp(c, cfg)
    val setupS = setup(c, 3)
    val n = c.size.mixed
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sums = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var last: Option[Pipeline.Tables] = None
    val deadline = System.nanoTime() + c.args.seconds * 1000000000L
    var rep = 0
    while (rep < 2 || System.nanoTime() < deadline) {
      c.ledger.op(s"pipeline rep $rep")(pipeline(c, cfg, s"rep${rep % 2}")).foreach { case (w, t) =>
        walls += w
        sums += Main.pairsChecksum(t.pairs)
        last = Some(t)
      }
      rep += 1
    }
    c.ledger.check("pair checksum equal across reps", sums.distinct.size == 1, sums.distinct.mkString(" "))
    val recall = last.map(t => checkOutputs(c, t, cfg)).getOrElse(0.0)
    val fps = n / median(walls.toSeq)
    c.raw.putSeq("pipeline_rep_s", walls.toSeq)
    c.raw.put("batch_files_per_s", fps)
    c.raw.put("pair_rows", sums.headOption.map(_._1.toDouble).getOrElse(0.0))
    Seq(
      ("setup_s", setupS, "s"),
      ("files_per_s", fps, "1/s"),
      ("pair_recall", recall, "ratio"),
      ("peak_rss_mb", Main.peakRssMb(), "MB")
    )
  }

  /** Output checks against the planted truth; returns planted-pair recall.
    * The truth comes from the generator alone, so an engine defect that
    * drops, merges or re-scores files cannot shrink it.
    *  - recall of the generator's truth pairs (planted pairs whose Jaccard
    *    over the generator's word sets is at least t + [[TruthMargin]]);
    *  - found planted pairs carry the sim the benchmark's own kernel gives
    *    on `encoded`;
    *  - sim = 1.0 pair count equals the sum of C(c, 2) over the planted
    *    exact classes;
    *  - a sample of emitted sims rechecked with the same kernel.
    */
  def checkOutputs(c: Ctx, t: Pipeline.Tables, cfg: Config): Double = {
    val truth = c.spark.read.parquet(c.dir("truth"))
    val truthPairs = c.spark.read.parquet(c.dir("truth-pairs"))
    val ids = t.docs.select("doc_id", "path")
    val tokens = t.encoded.select("doc_id", "tokens")
    // the engine emits a pair as (a, b) with a < b; planted paths map to ids
    // through `docs`, and a planted file the engine lost leaves its pairs
    // unfound
    val mapped = truthPairs
      .join(ids.select(col("path").as("path_a"), col("doc_id").as("ia")), Seq("path_a"), "left")
      .join(ids.select(col("path").as("path_b"), col("doc_id").as("ib")), Seq("path_b"), "left")
      .select(least(col("ia"), col("ib")).as("a"), greatest(col("ia"), col("ib")).as("b"))
    val found = mapped.join(t.pairs.select("a", "b", "sim"), Seq("a", "b"), "left")
      .join(tokens.select(col("doc_id").as("a"), col("tokens").as("ta")), Seq("a"), "left")
      .join(tokens.select(col("doc_id").as("b"), col("tokens").as("tb")), Seq("b"), "left")
      .agg(
        count(lit(1)),
        count(col("sim")),
        sum(when(col("sim").isNotNull && col("sim") =!= Main.jaccardUdf(col("ta"), col("tb")), 1).otherwise(0))
      )
      .head()
    val (planted, foundN, simDiff) = (found.getLong(0), found.getLong(1), Option(found.get(2)).fold(0L)(_.toString.toLong))
    // the generator's own count: three exact pairs per block at least
    val floor = 3 * Gen.mixedBlocks(c.size.mixed)
    val recall = if (planted == 0) 0.0 else foundN.toDouble / planted
    c.ledger.check("planted truth pairs >= 3 per block", planted >= floor, s"$planted vs $floor")
    c.ledger.check("planted-pair recall >= 0.99", recall >= 0.99, f"$foundN / $planted = $recall%.5f")
    c.ledger.check("planted pairs carry the rechecked sim", simDiff == 0, s"$simDiff differ")

    val expected = truth.filter(col("xclass") >= 0).groupBy("xclass").count()
      .collect().map(r => r.getLong(1)).map(s => s * (s - 1) / 2).sum
    val ones = t.pairs.filter(col("sim") === 1.0).count()
    c.ledger.check("sim=1.0 pairs == sum C(c,2) over exact classes", ones == expected, s"$ones vs $expected")

    val sample = t.pairs.orderBy(xxhash64(col("a"), col("b"), lit(c.args.seed))).limit(500)
      .join(tokens.select(col("doc_id").as("a"), col("tokens").as("ta")), "a")
      .join(tokens.select(col("doc_id").as("b"), col("tokens").as("tb")), "b")
      .withColumn("j", Main.jaccardUdf(col("ta"), col("tb")))
      .agg(count(lit(1)), sum(when(col("j") =!= col("sim"), 1).otherwise(0)))
      .head()
    c.ledger.check(
      "emitted sims recheck (sample)",
      sample.getLong(0) > 0 && Option(sample.get(1)).fold(0L)(_.toString.toLong) == 0L,
      s"${sample.getLong(0)} sampled, ${Option(sample.get(1)).getOrElse(0)} differ"
    )
    recall
  }

  // -------------------------------------------------------------- traced --

  def write(df: DataFrame, path: String, parts: Seq[String]): DataFrame = {
    val w = df.write.mode("overwrite").option("compression", "zstd")
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** The pipeline composed from its layers' public calls, each layer one
    * span (mirrors `Pipeline.run`, default routing). Returns the layer
    * metrics, the pairs and components checksums and the summed span wall. */
  def tracedLayers(c: Ctx, cfg: Config, input: DataFrame, root: String)
      : (Seq[(String, Double, String)], ((Long, Long), (Long, Long)), Double) = {
    val tr = c.tr
    val spark = c.spark
    def p(s: String) = s"$root/$s"
    val reg = new CacheRegistry
    val (docs, tDocs) = tr.span("docs")(write(Pipeline.prepareDocs(input, cfg, reg), p("docs"), Seq("group")))
    reg.release()
    val (vocab, tVocab) = tr.span("vocab")(write(Vocabulary.build(docs, cfg, reg), p("vocab"), Nil))
    reg.release()
    val vocabRows = vocab.count()
    val (encoded, tEnc) = tr.span("encoded")(
      write(Vocabulary.encode(docs, vocab, Some(vocabRows), cfg.broadcastMaxVocab), p("encoded"), Seq("group"))
    )
    val nDocs = docs.count()
    val classMap = reg.persist(Pipeline.exactClassMap(docs.join(encoded.select("doc_id").hint("shuffle_hash"), "doc_id")))
    val (signatures, tSig) = tr.span("signatures") {
      val hot = Vocabulary.hotTokenIds(vocab, nDocs, cfg)
      val reps = classMap.filter(col("doc_id") === col("rep_id")).select("doc_id")
      val sigInput = encoded
        .join(reps.hint("shuffle_hash"), "doc_id")
        .withColumn("sig_tokens", ArrayExceptSorted(col("tokens"), hot))
        .filter(size(col("sig_tokens")) > 0)
        .withColumn("tokens", col("sig_tokens"))
        .drop("sig_tokens")
      write(SimHash.withSimhash(MinHash.withSignature(sigInput, cfg), cfg).drop("tokens"), p("signatures"), Seq("group"))
    }
    val (candidates, tCand) = tr.span("candidates")(write(Pipeline.candidatesFor(signatures, cfg), p("candidates"), Nil))
    val (pairs, tPairs) = tr.span("pairs")(
      write(Pipeline.expandExactClasses(Jaccard.verify(candidates, encoded, cfg.threshold), classMap), p("pairs"), Seq("group"))
    )
    reg.release()
    val pairRows = pairs.count()
    val (components, tComp) = tr.span("components")(
      write(Components.assignAll(encoded, pairs, knownEdgeBound = pairRows), p("components"), Nil)
    )
    val spans = Seq(tDocs, tVocab, tEnc, tSig, tCand, tPairs, tComp)
    val tables = Seq(docs, vocab, encoded, signatures, candidates, pairs, components)
    val rows = tables.map(_.count())
    val common = Layers.zip(spans).zip(rows).flatMap { case ((n, t), r) => tr.common(n, t, r) }

    // layer-specific ratios, measured after the spans
    val sigRows = rows(3).toDouble
    val candRows = rows(4).toDouble
    val w = PairGen.ChainWidth.toLong
    val over = MinHash.bandRows(signatures, cfg)
      .groupBy("group", "band", "band_hash").count()
      .filter(col("count") > cfg.maxBucket)
      .agg(
        count(lit(1)),
        coalesce(sum(expr(s"(count * (count - 1)) div 2 - ($w * count - ${w * (w + 1) / 2})")), lit(0L))
      ).head()
    val verified = Jaccard.verify(candidates, encoded, cfg.threshold).count()
    val clusters = components.groupBy("cluster_id").count().agg(count(lit(1)), max(col("count"))).head()

    // the checkpoint subsystem over the seven layer tables: rewrite and
    // sidecar each through Checkpoints.stage, then join the sidecars
    val ckRoot = s"$root-ckpt"
    val parts = Map("docs" -> Seq("group"), "encoded" -> Seq("group"), "signatures" -> Seq("group"), "pairs" -> Seq("group"))
    val (_, tCk) = tr.span("ckpt") {
      Layers.foreach(l => Checkpoints.stage(spark, l, s"$ckRoot/$l", parts.getOrElse(l, Nil))(spark.read.parquet(p(l))))
    }
    val (_, tSide) = tr.span("ckpt")(Checkpoints.awaitAllSidecars())
    val extra = Seq(
      ("candidates.per_doc", if (sigRows > 0) candRows / sigRows else 0.0, "ratio"),
      ("candidates.oversized_buckets", over.getLong(0).toDouble, "count"),
      ("candidates.chain_dropped", over.getLong(1).toDouble, "count"),
      ("pairs.verify_yield", if (candRows > 0) verified / candRows else 0.0, "ratio"),
      ("components.clusters", clusters.getLong(0).toDouble, "count"),
      ("components.max_cluster", clusters.getLong(1).toDouble, "count"),
      ("ckpt.wall_s", tCk.wallS + tSide.wallS, "s"),
      ("ckpt.written_mb", Main.dirMb(java.nio.file.Paths.get(ckRoot)), "MB"),
      ("ckpt.sidecar_s", tSide.wallS, "s")
    )
    val sums = (Main.pairsChecksum(pairs), Main.componentsChecksum(components))
    (common ++ extra, sums, spans.map(_.wallS).sum)
  }

  /** Untraced reference run, then the traced composition over the same
    * input; checks that both give the same pairs and components. */
  def traceAgainstPipeline(c: Ctx, cfg: Config): (Seq[(String, Double, String)], Pipeline.Tables) = {
    warmUp(c, cfg)
    val (wall, t) = pipeline(c, cfg, "untraced")
    val want = (Main.pairsChecksum(t.pairs), Main.componentsChecksum(t.components))
    val (layers, got, tracedWall) = tracedLayers(c, cfg, c.spark.read.parquet(c.dir("input")), c.dir("traced"))
    c.ledger.check("traced pairs/components checksum == Pipeline.run", got == want, s"$got vs $want")
    c.raw.put("untraced_pipeline_s", wall)
    (layers :+ (("trace.overhead_s", tracedWall - wall, "s")), t)
  }

  def traced(c: Ctx): Seq[(String, Double, String)] = {
    val cfg = Config()
    setup(c, 1)
    val (layers, t) = traceAgainstPipeline(c, cfg)
    checkOutputs(c, t, cfg)
    layers ++ Stream.idleMetrics ++ Ops.traced(c)
  }
}
