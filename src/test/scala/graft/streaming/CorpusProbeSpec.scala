package graft.streaming

import graft.SparkSpec
import graft.dedup._

/** The corpus probe's broadcast budget (the builder sizes the probe from
  * two count jobs and refuses, before collecting anything, when the bound
  * exceeds its budget) and the probe_corpus expression's two evaluation
  * paths. */
class CorpusProbeSpec extends SparkSpec {
  import spark.implicits._

  test("probe builder fails fast with an actionable message above its byte budget") {
    val cfg = Config()
    val docs = Pipeline.prepareDocs(CorpusGen.corpusLocal(60).toDF(), cfg)
    val vocab = Vocabulary.build(docs, cfg)
    val encoded = Pipeline.repEncoded(docs, Vocabulary.encode(docs, vocab)).persist()
    val index = StreamingDedup.corpusIndex(encoded, cfg).persist()

    val probe = CorpusProbe.build(index, encoded, cfg, StreamingDedup.ProbeMaxBytes)
    assert(probe.heapBytes > 0 && probe.heapBytes <= StreamingDedup.ProbeMaxBytes)
    assert(probe.docs > 0 && probe.keys > 0)

    val e = intercept[IllegalArgumentException](CorpusProbe.build(index, encoded, cfg, maxBytes = 1024L))
    Seq("broadcast budget", "StreamingDedup.ProbeMaxBytes", "index rows", "shard the stream").foreach { s =>
      assert(e.getMessage.contains(s), s"guard message lacks '$s': ${e.getMessage}")
    }
    Seq(index, encoded).foreach(_.unpersist())
  }

  test("probe_corpus: interpreted eval == generated code") {
    val cfg = Config()
    val docs = Pipeline.prepareDocs(CorpusGen.corpusLocal(60).toDF(), cfg)
    val vocab = Vocabulary.build(docs, cfg)
    val encoded = Pipeline.repEncoded(docs, Vocabulary.encode(docs, vocab)).persist()
    val index = StreamingDedup.corpusIndex(encoded, cfg).persist()
    // the corpus itself as the stream: every rep finds at least itself
    val stream = StreamingDedup.prepareStream(CorpusGen.corpusLocal(60).toDF(), cfg)
    def run(): Set[(String, Long, Double)] =
      StreamingDedup.nearDupAgainstCorpus(stream, vocab, encoded, index, cfg)
        .select("path", "corpus_doc_id", "sim").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val generated = run()
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    val interpreted =
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        run()
      } finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    assert(generated.nonEmpty && generated.exists(_._3 == 1.0))
    assert(interpreted == generated)
    Seq(index, encoded).foreach(_.unpersist())
  }
}
