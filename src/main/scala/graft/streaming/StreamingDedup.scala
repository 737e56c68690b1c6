package graft.streaming

import graft.dedup._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental (Structured Streaming) front door for the dedup engine: new
  * files arrive as a stream and are deduplicated AGAINST the existing corpus
  * without re-running the batch pipeline.
  *
  * The reference is strictly batch (code/main_script.py:297-329 re-runs the
  * whole five-stage file pipeline per corpus), so this module has no
  * reference twin — it is the ingest path a 10^12-file corpus needs: the
  * batch pipeline establishes the corpus state (vocabulary, encoded sets,
  * LSH band index), and each micro-batch of NEW files probes that state.
  *
  * Design constraints that shaped every function here:
  *  - STATELESS WHERE POSSIBLE. Tokenize / encode / sign are narrow
  *    per-row expressions; candidate generation and exact verification are
  *    one more: the [[ProbeCorpus]] expression over a [[CorpusProbe]]
  *    (index postings + corpus token sets) broadcast once per query
  *    definition — no join, no watermark bookkeeping and no
  *    per-micro-batch corpus scan on the near-dup path. The
  *    near-dup path is entirely STATELESS; the module's only stateful
  *    operators are [[firstSeen]]'s within-stream dropDuplicates
  *    (optional, watermark-boundable) and [[ingestStats]]' windowed
  *    aggregation (state = one row per open window per group).
  *  - APPEND-MODE SAFE. No aggregation sits on the stream side of the
  *    near-dup path, so results emit as soon as a micro-batch completes —
  *    the latency an ingest gate actually wants.
  *  - BATCH/STREAM PARITY. Every function is plan-shape agnostic: applied
  *    to a batch DataFrame of the same rows it produces the identical
  *    result (asserted by StreamingSpec), so the ingest gate can be
  *    backfilled or replayed as a batch job with zero code changes.
  *
  * Encoding uses the static corpus vocabulary via the broadcast
  * [[CompactDict]] ([[Vocabulary.broadcastEncodeFn]]) — tokens the corpus
  * has never seen carry no candidate signal against corpus docs by
  * definition (df = 0 there), and dropping them mirrors the batch min-df
  * prune, so corpus-relative similarities keep reference semantics.
  */
object StreamingDedup {

  /** Narrow stage-1 over a (possibly streaming) input of the input_hint
    * shape (repo, path, commit, lang, content) [+ passthrough columns]:
    * sha256 lineage, byte count, reference-semantics token set, folded
    * group key. No dense doc ids — id assignment is a global sort, a batch
    * concern; stream rows are identified by (repo, path, commit) +
    * content_sha. */
  def prepareStream(input: DataFrame, cfg: Config): DataFrame =
    input
      .withColumn("content_sha", sha2(col("content"), 256))
      .withColumn("n_bytes", octet_length(col("content")))
      .withColumn("tokens", Tokenize.tokenSet(col("content"), cfg.shingleK))
      .withColumn("group", Pipeline.groupKey(cfg))
      .filter(size(col("tokens")) > 0)
      .drop("content")

  /** Exact-dup gate: keep only rows whose (group, content hash) is NEW —
    * absent from the static corpus (stream-static left_anti) and not seen
    * earlier in the stream (stateful dropDuplicates per (group, sha)).
    * Both legs key on (group, content_sha), exactly the batch pipeline's
    * exact-class key ([[Pipeline.exactClassMap]]): the same bytes under a
    * DIFFERENT group are a distinct doc there, so they pass here too. The
    * group comparison is null-safe — groupKey's single-column path keeps a
    * natural NULL group, and an equi-join key would silently pass every
    * NULL-group row as "new".
    *
    * State is one entry per distinct surviving key. For bounded state on
    * unbounded streams pass `watermark = Some((eventTimeCol, delay))`:
    * dropDuplicatesWithinWatermark then expires entries older than the
    * delay — correct whenever re-uploads of the same bytes arrive within
    * the watermark horizon (the common ingest pattern).
    *
    * `knownDocs`: any frame with (group, content_sha) — the pipeline's docs
    * stage checkpoint qualifies as-is. */
  def firstSeen(
      prepared: DataFrame,
      knownDocs: Option[DataFrame] = None,
      watermark: Option[(String, String)] = None
  ): DataFrame = {
    val fresh = knownDocs match {
      case Some(k) =>
        // no distinct(): a left_anti's right side needs no dedup, and a
        // distinct here would re-shuffle the whole corpus on EVERY
        // micro-batch (stream-static joins re-evaluate the static subtree
        // per batch). On big corpora pass a persisted skinny
        // (group, content_sha) frame so the per-batch static cost is a
        // cached scan.
        val known = k.select(col("group").as("k_group"), col("content_sha").as("k_sha"))
        prepared.join(
          known,
          col("group") <=> col("k_group") && col("content_sha") === col("k_sha"),
          "left_anti"
        )
      case None => prepared
    }
    watermark match {
      case Some((tsCol, delay)) =>
        fresh.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark("group", "content_sha")
      case None => fresh.dropDuplicates("group", "content_sha")
    }
  }

  /** The static corpus's LSH band index, built ONCE batch-side from the
    * pipeline's encoded table: one skinny (group, band, band_hash,
    * c_doc_id) row per indexed band of each corpus doc.
    *
    * Feed it exact-class REPRESENTATIVES — `encoded` joined to the rep rows
    * of [[Pipeline.exactClassMap]] (`doc_id === rep_id`), exactly what the
    * batch signatures stage does. Indexing every member of an exact-dup
    * class re-creates the mega-class hot-bucket hazard the batch pipeline
    * collapses away (a 100k-copy boilerplate file fills every one of its
    * buckets with identical entries, crowding DISTINCT docs past the cap
    * and paying up to maxBucket identical verifies per probe); matches
    * against a rep expand to class members with the same classMap join as
    * [[Pipeline.expandExactClasses]].
    *
    * Hot buckets: a boilerplate band hash shared by B corpus docs fans
    * every colliding stream row out B ways — the streaming analogue of the
    * batch straggler [[Config.maxBucket]] guards. The cap keeps the
    * `maxBucket` smallest doc ids per bucket; a doc capped out of one
    * bucket is still found through any other band it shares with the
    * stream row. Same recall argument as batch chain-linking: a true
    * near-dup pair agrees on ~`bands` independent bands, and oversized
    * buckets are boilerplate-dominated.
    * `hotTokenIds` (the max-df signature cap, [[Vocabulary.hotTokenIds]])
    * must be the SAME array used for the stream side so band hashes match. */
  def corpusIndex(encoded: DataFrame, cfg: Config, hotTokenIds: Array[Int] = Array.empty): DataFrame = {
    val sigIn =
      if (hotTokenIds.isEmpty) encoded
      else
        encoded
          .withColumn("tokens", ArrayExceptSorted(col("tokens"), hotTokenIds))
          .filter(size(col("tokens")) > 0)
    val rows = sigIn.select(
      col("group"),
      col("doc_id").as("c_doc_id"),
      posexplode(BandHashes(MinHashSig(col("tokens"), cfg), cfg)).as(Seq("band", "band_hash"))
    )
    val w = Window.partitionBy("group", "band", "band_hash").orderBy("c_doc_id")
    rows
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cfg.maxBucket)
      .select("group", "band", "band_hash", "c_doc_id")
  }

  /** The broadcast-dictionary encode function for `vocab`. Construction is
    * EAGER and expensive (collects the vocabulary, builds and broadcasts the
    * CompactDict — [[Vocabulary.broadcastEncodeFn]]): build it once per
    * corpus state and share it across every plan probing that corpus via the
    * `encodeFn` parameter of [[nearDupAgainstCorpus]]. */
  def encodeFnFor(vocab: DataFrame): Column => Column =
    Vocabulary
      .broadcastEncodeFn(vocab)
      .getOrElse(throw new IllegalArgumentException(
        "vocabulary char blob exceeds Int index space - streaming encode requires the broadcast dictionary; " +
          "shard the stream by group and encode against per-group vocabularies"
      ))

  /** Heap budget of one [[CorpusProbe]], in bytes (512 MiB): the probe is
    * held once on the driver and once per executor, like the
    * [[Vocabulary.BroadcastMaxVocab]] dictionary. Sizing is arithmetic over
    * flat arrays ([[CorpusProbe.heapBytes]]): with P index rows, K distinct
    * (group, band, band_hash) keys, D indexed docs and T of their tokens,
    * 16 K + 4 P + 4 S + 12 D + 4 T + 8 bytes plus the group dictionary,
    * where S is the key table's power-of-two size at load <= 0.6
    * (1.67 P to 3.33 P slots, sized on P).
    * Measured at the default [[Config]]:
    *  - the 2,000-file stream-ingest benchmark corpus (seed 1): 57,600
    *    index rows, 54,255 keys, 1,800 reps, 154,920 tokens ->
    *    2,264,150 B (2.2 MiB);
    *  - a 200k-file [[CorpusGen]] corpus, the size of `graft.Bench`'s
    *    streaming leg: 5,120,064 index rows, 4,783,809 keys, 160,002 reps,
    *    14,088,016 tokens -> 222,402,254 B (212 MiB).
    * Above the budget [[nearDupAgainstCorpus]] fails when the query is
    * defined, before anything is collected. */
  val ProbeMaxBytes: Long = 512L << 20

  /** Near-duplicate detection of a stream against the static corpus:
    * (stream doc, corpus doc, exact Jaccard sim) for every pair at or above
    * `cfg.threshold` that shares at least one indexed LSH band — the batch
    * pipeline's signatures->candidates->pairs stages collapsed into one
    * stateless, narrow stream plan.
    *
    * The corpus side is a [[CorpusProbe]]: the `index` postings and the
    * token sets of the `encoded` docs they name, collected and broadcast
    * ONCE, when this function is called (the query definition), not per
    * micro-batch. Each micro-batch then runs, per row:
    *
    *   1. encode through the broadcast corpus dictionary (narrow UDF);
    *   2. MinHash-128 + band hashes (codegen'd kernels), hot-token cap
    *      matching the index;
    *   3. the [[ProbeCorpus]] expression: look up the row's band hashes in
    *      its group, take each candidate corpus doc once, verify it on full
    *      sets with [[JaccardKernel]] (6-dp HALF_EVEN, the hot-token cap
    *      never touches sims) and keep sims >= threshold;
    *   4. explode the matches.
    *
    * Groups compare NULL-SAFELY: groupKey's single-column path keeps a
    * natural NULL group, and batch candidate generation (a groupBy) pairs
    * within it — the probe treats NULL as its own group key.
    *
    * `vocab` is the batch pipeline's vocab stage (read from its
    * checkpoint); `encoded` is its encoded stage restricted to exact-class
    * representatives, and `index` is [[corpusIndex]] over that SAME frame
    * with the same `hotTokenIds` — see the rep requirement there. Emitted
    * `corpus_doc_id`s are rep ids; expand over class members with
    * [[Pipeline.exactClassMap]] when per-member pairs are needed. Fails
    * with an IllegalArgumentException when the probe would exceed
    * [[ProbeMaxBytes]]. */
  def nearDupAgainstCorpus(
      stream: DataFrame,
      vocab: DataFrame,
      encoded: DataFrame,
      index: DataFrame,
      cfg: Config,
      hotTokenIds: Array[Int] = Array.empty,
      encodeFn: Option[Column => Column] = None
  ): DataFrame = {
    val encFn = encodeFn.getOrElse(encodeFnFor(vocab))
    val probe = stream.sparkSession.sparkContext.broadcast(CorpusProbe.build(index, encoded, cfg, ProbeMaxBytes))
    val sigTokens =
      if (hotTokenIds.isEmpty) col("tokens") else ArrayExceptSorted(col("tokens"), hotTokenIds)
    stream
      .withColumn("tokens", encFn(col("tokens")))
      .filter(size(col("tokens")) > 0)
      .withColumn("sig_tokens", sigTokens)
      .filter(size(col("sig_tokens")) > 0)
      .select(
        col("group"),
        col("repo"),
        col("path"),
        col("commit"),
        col("content_sha"),
        explode(
          ProbeCorpus(col("group"), col("tokens"), BandHashes(MinHashSig(col("sig_tokens"), cfg), cfg), probe)
        ).as("m")
      )
      .select(
        col("group"),
        col("repo"),
        col("path"),
        col("commit"),
        col("content_sha"),
        col("m.corpus_doc_id"),
        col("m.sim")
      )
  }

  /** Watermarked ingest telemetry: per (event-time window, group) file and
    * byte counts — the streaming twin of the checkpoint metrics sidecars.
    * Append-mode emits each window once, after the watermark passes it;
    * state is one row per open window per group. */
  def ingestStats(
      prepared: DataFrame,
      tsCol: String,
      windowDur: String,
      watermarkDelay: String
  ): DataFrame =
    prepared
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col("group"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("n_bytes").cast("long")).as("n_bytes"),
        approx_count_distinct(col("content_sha")).as("approx_distinct_files")
      )
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("group"),
        col("n_files"),
        col("n_bytes"),
        col("approx_distinct_files")
      )
}
