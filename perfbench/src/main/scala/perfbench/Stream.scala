package perfbench

import graft.dedup._
import graft.streaming.StreamingDedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import Main.{Ctx, median, secs}

/** The stream-ingest workload: the set-up builds the corpus state with the
  * batch pipeline; the measured part replays an ingest stream through
  * `StreamingDedup` (first-seen gate + stream-static near-dup join) with
  * `Trigger.AvailableNow`, one input file per micro-batch. */
object Stream {

  final case class State(
      docs: DataFrame,
      vocab: DataFrame,
      reps: DataFrame,
      hot: Array[Int],
      index: DataFrame,
      known: DataFrame,
      encFn: Column => Column,
      indexS: Double,
      encodeFnS: Double
  ) {
    def release(): Unit = Seq(reps, index, known).foreach(_.unpersist())
  }

  /** Corpus state as the ingest path needs it, from the docs, vocab and
    * encoded layers (the stream path reads no later stage): exact-class
    * representative sets, the LSH band index, the known (group, sha) keys
    * and one broadcast encode dictionary. */
  def buildState(c: Ctx, cfg: Config, name: String): State = {
    val root = c.dir(name)
    val input = c.spark.read.parquet(c.dir("input"))
    val reg = new CacheRegistry
    val docs = Batch.write(Pipeline.prepareDocs(input, cfg, reg), s"$root/docs", Seq("group"))
    reg.release()
    val vocab = Batch.write(Vocabulary.build(docs, cfg, reg), s"$root/vocab", Nil)
    reg.release()
    val encoded = Batch.write(Vocabulary.encode(docs, vocab, Some(vocab.count())), s"$root/encoded", Seq("group"))
    val reps = Pipeline.repEncoded(docs, encoded).persist()
    reps.count()
    val hot = Vocabulary.hotTokenIds(vocab, docs.count(), cfg)
    val t0 = System.nanoTime()
    val index = StreamingDedup.corpusIndex(reps, cfg, hot).persist()
    index.count()
    val indexS = secs(t0)
    val known = docs.select("group", "content_sha").distinct().persist()
    known.count()
    val t1 = System.nanoTime()
    val encFn = StreamingDedup.encodeFnFor(vocab)
    State(docs, vocab, reps, hot, index, known, encFn, indexS, secs(t1))
  }

  /** The ingest stream, one parquet file per micro-batch, plus its truth. */
  def writeStream(c: Ctx): Unit = {
    val (seed, n, m) = (c.args.seed, c.size.corpus, c.size.stream)
    import c.spark.implicits._
    val files = c.spark.range(0, m, 1, c.size.streamFiles).map { i =>
      val f = Gen.stream(seed, n, i)
      val base = if (f.family >= 0) Gen.mixed(seed, f.family * 20).path else null
      (f.repo, f.path, f.commit, f.lang, f.content, new java.sql.Timestamp(1700000000000L + i * 1000L), base)
    }.toDF("repo", "path", "commit", "lang", "content", "event_time", "base_path").persist()
    files.drop("base_path").write.mode("overwrite").parquet(c.dir("stream-in"))
    files.select("content", "base_path").write.mode("overwrite").parquet(c.dir("stream-truth"))
    files.unpersist()
  }

  /** Set-up: corpus generation, corpus state and stream input. */
  def setup(c: Ctx, cfg: Config, name: String): (State, Double) = {
    val t0 = System.nanoTime()
    Batch.generate(c, c.size.corpus, c.dir("input"), None)
    val st = buildState(c, cfg, name)
    writeStream(c)
    (st, secs(t0))
  }

  private def gate(c: Ctx, st: State, cfg: Config, input: DataFrame, streaming: Boolean): DataFrame = {
    val prepared = StreamingDedup.prepareStream(input, cfg)
    // the replay's event times span m seconds in file order; the horizon
    // covers the whole replay so no file is dropped as late
    val wm = if (streaming) Some(("event_time", s"${c.size.stream + 120} seconds")) else None
    StreamingDedup.firstSeen(prepared, Some(st.known), wm)
  }

  private def nearDups(st: State, cfg: Config, fresh: DataFrame): DataFrame =
    StreamingDedup.nearDupAgainstCorpus(fresh, st.vocab, st.reps, st.index, cfg, st.hot, Some(st.encFn))

  /** One AvailableNow replay of the near-dup query (first-seen gate, then
    * the stream-static join), one micro-batch per input file. Returns
    * wall s. */
  def replay(c: Ctx, st: State, cfg: Config, tag: String): Double = {
    val in = c.dir("stream-in")
    val schema = c.spark.read.parquet(in).schema
    val source = c.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in)
    val out = c.dir(s"stream-out-$tag")
    val ck = c.dir(s"stream-ck-$tag")
    val t0 = System.nanoTime()
    val pairs = nearDups(st, cfg, gate(c, st, cfg, source, streaming = true)).writeStream
      .format("parquet").option("path", s"$out/pairs").option("checkpointLocation", s"$ck/pairs")
      .trigger(Trigger.AvailableNow()).start()
    pairs.awaitTermination()
    secs(t0)
  }

  private val pairKey = Seq("group", "content_sha", "corpus_doc_id", "sim")

  /** Stream output checks: planted near-dup recall, stream/batch parity of
    * the pair set, and the gate's accepted count (the gate run as one batch
    * over the replayed input; parity covers the streaming gate, since a
    * near file it wrongly dropped or passed would change the pairs).
    * Returns the recall. */
  def checkOutputs(c: Ctx, st: State, cfg: Config, tag: String): Double = {
    val spark = c.spark
    val out = c.dir(s"stream-out-$tag")
    val pairs = spark.read.parquet(s"$out/pairs")
    val fresh = gate(c, st, cfg, spark.read.parquet(c.dir("stream-in")), streaming = false)
    val accepted = fresh.count()
    c.ledger.check("accepted == planted first-seen files", accepted == c.size.stream / 2, s"$accepted vs ${c.size.stream / 2}")

    // planted: near file -> exact-class representative of its base file
    val docs = st.docs
    val classMap = Pipeline.exactClassMap(docs)
    val baseRep = docs.select(col("doc_id"), col("path").as("base_path"))
      .join(classMap.select("doc_id", "rep_id"), "doc_id").select("base_path", "rep_id")
    val planted = spark.read.parquet(c.dir("stream-truth")).filter(col("base_path").isNotNull)
      .join(baseRep, "base_path")
      .withColumn("content_sha", sha2(col("content"), 256))
      .select("content_sha", "rep_id")
    val plantedN = planted.count()
    val found = planted.join(pairs.select(col("content_sha"), col("corpus_doc_id").as("rep_id")).distinct(),
      Seq("content_sha", "rep_id")).count()
    val recall = if (plantedN == 0) 0.0 else found.toDouble / plantedN
    // the generator plants one near file in four; a base file the engine
    // lost would shrink this count
    c.ledger.check("planted near-dups == a quarter of the stream", plantedN == c.size.stream / 4, s"$plantedN vs ${c.size.stream / 4}")
    c.ledger.check("stream planted-pair recall >= 0.99", recall >= 0.99, f"$found / $plantedN = $recall%.5f")

    val batch = nearDups(st, cfg, fresh)
    val a = pairs.select(pairKey.map(col): _*)
    val b = batch.select(pairKey.map(col): _*)
    val diff = a.except(b).count() + b.except(a).count()
    c.ledger.check("stream/batch parity", diff == 0, s"$diff rows differ")
    recall
  }

  def endToEnd(c: Ctx): Seq[(String, Double, String)] = {
    val cfg = Config()
    // set-up twice (the first also pays class loading); the median of two
    // is their mean
    val (st0, s0) = setup(c, cfg, "corpus0")
    st0.release()
    val (st, s1) = setup(c, cfg, "corpus1")
    c.raw.putSeq("setup_reps_s", Seq(s0, s1))
    c.progress.clear()
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val sums = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val deadline = System.nanoTime() + c.args.seconds * 1000000000L
    var rep = 0
    while (rep < 1 || System.nanoTime() < deadline) {
      c.ledger.op(s"replay $rep")(replay(c, st, cfg, s"r$rep")).foreach { w =>
        walls += w
        sums += Main.checksum(c.spark.read.parquet(c.dir(s"stream-out-r$rep/pairs")), pairKey)
      }
      rep += 1
    }
    // at the default window a run makes one replay; the check needs two
    if (sums.size >= 2)
      c.ledger.check("pair checksum equal across replays", sums.distinct.size == 1, sums.distinct.mkString(" "))
    val recall = checkOutputs(c, st, cfg, "r0")
    val trig = c.progress.snapshot().map(_.triggerMs.toDouble)
    val (tailMs, tailPct) = Main.tail(trig)
    // steady-state throughput: files per micro-batch over the median
    // micro-batch time (the replay wall also carries query start-up and the
    // cold first batches, and is in raw)
    val fps = c.size.stream.toDouble / c.size.streamFiles / median(trig) * 1000.0
    c.raw.put("replay_files_per_s", c.size.stream / median(walls.toSeq))
    c.raw.putSeq("replay_s", walls.toSeq)
    c.raw.put("stream_files_per_s", fps)
    c.raw.put("stream_batch_p50_ms", median(trig))
    c.raw.put("stream_batch_tail_ms", tailMs)
    c.raw.put("stream_batch_tail_pct", tailPct)
    c.raw.put("stream_batch_samples", trig.size.toDouble)
    c.raw.putSeq("stream_batch_ms", trig)
    st.release()
    Seq(
      ("setup_s", median(Seq(s0, s1)), "s"),
      ("files_per_s", fps, "1/s"),
      ("pair_recall", recall, "ratio"),
      ("peak_rss_mb", Main.peakRssMb(), "MB")
    )
  }

  /** Stream metrics of a run that replays no stream. */
  def idleMetrics: Seq[(String, Double, String)] = streamMetrics(Nil, 0.0, 0.0, 0.0, 0.0, 0L, 0L, 1)

  private def streamMetrics(
      b: Seq[StreamProgress#Batch],
      wall: Double,
      indexS: Double,
      encS: Double,
      runS: Double,
      gcMs: Long,
      jobs: Long,
      cores: Int
  ): Seq[(String, Double, String)] = {
    val trig = b.map(_.triggerMs.toDouble)
    val last = b.lastOption
    Seq(
      ("stream.batches", b.size.toDouble, "count"),
      ("stream.trigger_ms_p50", median(trig), "ms"),
      ("stream.trigger_ms_tail", Main.tail(trig)._1, "ms"),
      ("stream.add_batch_ms_p50", median(b.map(_.addBatchMs.toDouble)), "ms"),
      ("stream.plan_ms_p50", median(b.map(_.planMs.toDouble)), "ms"),
      ("stream.state_rows", last.map(_.stateRows.toDouble).getOrElse(0.0), "count"),
      ("stream.state_mb", last.map(_.stateBytes / 1048576.0).getOrElse(0.0), "MB"),
      ("stream.core_util", if (wall > 0) runS / (wall * cores) else 0.0, "ratio"),
      ("stream.gc_s", gcMs / 1000.0, "s"),
      ("stream.jobs", jobs.toDouble, "count"),
      ("stream.corpus_index_s", indexS, "s"),
      ("stream.encode_fn_s", encS, "s")
    )
  }

  def traced(c: Ctx): Seq[(String, Double, String)] = {
    val cfg = Config()
    Batch.generate(c, c.size.corpus, c.dir("input"), None)
    val (layers, _) = Batch.traceAgainstPipeline(c, cfg)
    val st = buildState(c, cfg, "corpus")
    writeStream(c)
    c.ledger.op("replay warm-up")(replay(c, st, cfg, "warm"))
    c.progress.clear()
    c.tr.streamSpan = "stream"
    val wall = replay(c, st, cfg, "r0")
    c.tr.streamSpan = null
    checkOutputs(c, st, cfg, "r0")
    val s = c.tr.groupStats("stream")
    val out = layers ++ Ops.idleMetrics ++
      streamMetrics(c.progress.snapshot(), wall, st.indexS, st.encodeFnS, s.runMs / 1000.0, s.gcMs, s.jobs, c.cores)
    st.release()
    out
  }
}
