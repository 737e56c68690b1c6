package graft.streaming

import graft.dedup.{CompactDict, Config, JaccardKernel}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The static side of the streaming near-dup path, resident in memory: the
  * [[StreamingDedup.corpusIndex]] postings plus the token sets of every doc
  * they name, packed into flat primitive arrays in the style of
  * [[CompactDict]] — no per-entry objects. Built once on the driver per
  * query definition and broadcast; each stream row then probes it through
  * the [[ProbeCorpus]] expression, so a micro-batch costs O(batch), not
  * O(corpus).
  *
  * Postings: distinct keys (group id * bands + band, band hash) live in
  * parallel arrays, found through an open-addressed table of key indexes
  * (linear probing, load <= 0.6); key k's corpus docs are
  * `postings(postOffs(k) until postOffs(k + 1))`, as dense doc indexes.
  * Token sets: doc index d (ascending `doc_id`) owns the sorted slice
  * `tokens(tokOffs(d) until tokOffs(d + 1))`. Groups map to ids through a
  * [[CompactDict]]; the NULL group is its own key (`nullGroup`). */
final class CorpusProbe private (
    groups: CompactDict,
    nullGroup: Int,      // id of the NULL group; -1 when the index has none
    bands: Int,
    keyGb: Array[Int],   // key -> group id * bands + band
    keyHash: Array[Long], // key -> band hash
    postOffs: Array[Int], // keys + 1 offsets into postings
    postings: Array[Int], // doc index per kept index row
    table: Array[Int],   // open-addressed key indexes; -1 = empty
    docIds: Array[Long], // doc index -> corpus doc_id, ascending
    tokOffs: Array[Int], // docs + 1 offsets into tokens
    tokens: Array[Int],
    threshold: Double
) extends Serializable {
  private val mask = table.length - 1

  def keys: Int = keyGb.length
  def docs: Int = docIds.length

  /** Exact heap footprint of the backing arrays, in bytes:
    * 4 B per key (group-band), 8 B per key (hash), 4 B per key + 4 (posting
    * offsets), 4 B per posting, 4 B per table slot, 8 B per doc (id),
    * 4 B per doc + 4 (token offsets), 4 B per token, plus the group
    * dictionary's [[CompactDict.heapBytes]]. */
  def heapBytes: Long =
    groups.heapBytes + CorpusProbe.arrayBytes(keys, postings.length, table.length, docs, tokens.length)

  /** The corpus docs sharing at least one indexed band with a stream row
    * of `group` (NULL-safe) whose band hashes are `bhs`, verified against
    * the row's full `rowTokens`: one (corpus_doc_id, sim) struct per doc
    * with sim >= threshold, in ascending doc id order. */
  def probe(group: UTF8String, rowTokens: ArrayData, bhs: ArrayData): ArrayData = {
    val g = if (group == null) nullGroup else groups.get(group.toString)
    if (g < 0) return CorpusProbe.NoMatches
    var cand = new Array[Int](bands)
    var n = 0
    val nb = math.min(bhs.numElements(), bands)
    var b = 0
    while (b < nb) {
      val k = find(g * bands + b, bhs.getLong(b))
      if (k >= 0) {
        val from = postOffs(k)
        val until = postOffs(k + 1)
        if (n + until - from > cand.length)
          cand = java.util.Arrays.copyOf(cand, math.max(cand.length * 2, n + until - from))
        System.arraycopy(postings, from, cand, n, until - from)
        n += until - from
      }
      b += 1
    }
    if (n == 0) return CorpusProbe.NoMatches
    // a true pair collides in many bands: verify each doc once
    java.util.Arrays.sort(cand, 0, n)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      val d = cand(i)
      if (i == 0 || d != cand(i - 1)) {
        val sim = JaccardKernel.sim(rowTokens, tokens, tokOffs(d), tokOffs(d + 1))
        // an empty slice is an index doc missing from `encoded`: no pair
        if (sim >= threshold && tokOffs(d + 1) > tokOffs(d)) out += InternalRow(docIds(d), sim)
      }
      i += 1
    }
    if (out.isEmpty) CorpusProbe.NoMatches else new GenericArrayData(out.toArray)
  }

  private def find(gb: Int, h: Long): Int = {
    var i = CorpusProbe.slot(gb, h) & mask
    var k = table(i)
    while (k != -1) {
      if (keyGb(k) == gb && keyHash(k) == h) return k
      i = (i + 1) & mask
      k = table(i)
    }
    -1
  }
}

object CorpusProbe {

  private val NoMatches: ArrayData = new GenericArrayData(Array.empty[Any])

  /** (corpus_doc_id, sim) — the element type [[ProbeCorpus]] emits. */
  private[streaming] val MatchType: StructType = StructType(Seq(
    StructField("corpus_doc_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)
  ))

  private def slot(gb: Int, h: Long): Int = {
    val x = h ^ (gb * 0x9e3779b97f4a7c15L)
    val y = (x ^ (x >>> 31)) * 0xbf58476d1ce4e5b9L
    (y ^ (y >>> 32)).toInt
  }

  private def tableSize(n: Long): Int = {
    var cap = 4
    while (cap * 3L < n * 5L) cap <<= 1 // load <= 0.6
    cap
  }

  private def sortedDistinct(parts: Array[Array[Long]]): Array[Long] = {
    val all = Array.concat(parts.toSeq: _*)
    java.util.Arrays.sort(all)
    var m = 0
    var i = 0
    while (i < all.length) {
      if (i == 0 || all(i) != all(i - 1)) { all(m) = all(i); m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(all, m)
  }

  private def arrayBytes(keys: Long, postings: Long, slots: Long, docs: Long, tokens: Long): Long =
    4L * keys + 8L * keys + 4L * (keys + 1) + 4L * postings + 4L * slots +
      8L * docs + 4L * (docs + 1) + 4L * tokens

  /** Collect `index` ([[StreamingDedup.corpusIndex]] rows) and the token
    * sets of the `encoded` docs it names into one probe. Two count jobs
    * run first: if the upper bound they give (every posting its own key,
    * every `encoded` doc indexed) exceeds `maxBytes`, this fails before
    * anything is collected. */
  private[streaming] def build(index: DataFrame, encoded: DataFrame, cfg: Config, maxBytes: Long): CorpusProbe = {
    val spark = index.sparkSession
    import spark.implicits._
    val nPost = index.count()
    val sizes = encoded.agg(count(lit(1)), coalesce(sum(size(col("tokens")).cast("long")), lit(0L))).head()
    val (nDocs, nTok) = (sizes.getLong(0), sizes.getLong(1))
    val bound = arrayBytes(nPost, nPost, tableSize(nPost), nDocs, nTok)
    require(
      bound <= maxBytes && nPost < Int.MaxValue && nTok < Int.MaxValue,
      f"corpus probe needs up to ${bound / 1048576.0}%.0f MB ($nPost%d index rows, $nDocs%d encoded docs, " +
        f"$nTok%d tokens), over the ${maxBytes / 1048576.0}%.0f MB broadcast budget " +
        "(StreamingDedup.ProbeMaxBytes): shard the stream and the corpus state by group, " +
        "or shrink the index with a lower Config.maxBucket or Config.maxDf"
    )

    // postings, packed per partition: local group codes (-1 = NULL)
    val blobs = index
      .select(col("group"), col("band"), col("band_hash"), col("c_doc_id"))
      .as[(String, Int, Long, Long)]
      .mapPartitions { it =>
        val names = scala.collection.mutable.LinkedHashMap.empty[String, Int]
        val g = Array.newBuilder[Int]; val band = Array.newBuilder[Int]
        val h = Array.newBuilder[Long]; val doc = Array.newBuilder[Long]
        it.foreach { case (gr, b, bh, d) =>
          g += (if (gr == null) -1 else names.getOrElseUpdate(gr, names.size))
          band += b; h += bh; doc += d
        }
        // names as a Seq: an Array[String] field comes back as Object[]
        // when the session runs without codegen
        Iterator.single((names.keys.toSeq, g.result(), band.result(), h.result(), doc.result()))
      }
      .collect()
    val groupIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    blobs.foreach(_._1.foreach(s => groupIds.getOrElseUpdate(s, groupIds.size)))
    val nullGroup = if (blobs.exists(_._2.contains(-1))) groupIds.size else -1
    val nGroups = groupIds.size + (if (nullGroup >= 0) 1 else 0)
    require(nGroups.toLong * cfg.bands <= Int.MaxValue, s"corpus probe: $nGroups groups x ${cfg.bands} bands overflow Int keys")

    val docIds = sortedDistinct(blobs.map(_._5))
    val n = blobs.map(_._2.length).sum
    val tSize = tableSize(n)
    val mask = tSize - 1
    val table = Array.fill(tSize)(-1)
    val keyGb = new Array[Int](n)
    val keyHash = new Array[Long](n)
    val keyOf = new Array[Int](n)
    val docOf = new Array[Int](n)
    var nKeys = 0
    var r = 0
    blobs.foreach { case (names, g, band, h, doc) =>
      val gid = names.map(groupIds).toArray
      var i = 0
      while (i < g.length) {
        val gb = (if (g(i) < 0) nullGroup else gid(g(i))) * cfg.bands + band(i)
        var s = slot(gb, h(i)) & mask
        while (table(s) != -1 && !(keyGb(table(s)) == gb && keyHash(table(s)) == h(i))) s = (s + 1) & mask
        if (table(s) == -1) {
          table(s) = nKeys; keyGb(nKeys) = gb; keyHash(nKeys) = h(i); nKeys += 1
        }
        keyOf(r) = table(s)
        docOf(r) = java.util.Arrays.binarySearch(docIds, doc(i))
        r += 1; i += 1
      }
    }
    // CSR postings: count per key, prefix-sum, fill
    val postOffs = new Array[Int](nKeys + 1)
    keyOf.foreach(k => postOffs(k + 1) += 1)
    var k = 0
    while (k < nKeys) { postOffs(k + 1) += postOffs(k); k += 1 }
    val fill = java.util.Arrays.copyOf(postOffs, nKeys)
    val postings = new Array[Int](n)
    r = 0
    while (r < n) { postings(fill(keyOf(r))) = docOf(r); fill(keyOf(r)) += 1; r += 1 }

    // token sets of the indexed docs, packed per partition
    val tokBlobs = encoded
      .select(col("doc_id"), col("tokens"))
      .as[(Long, Array[Int])]
      .mapPartitions { it =>
        val ids = Array.newBuilder[Long]; val lens = Array.newBuilder[Int]; val toks = Array.newBuilder[Int]
        it.foreach { case (d, t) => ids += d; lens += t.length; toks ++= t }
        Iterator.single((ids.result(), lens.result(), toks.result()))
      }
      .collect()
    val tokOffs = new Array[Int](docIds.length + 1)
    val at = tokBlobs.map(_._1.map(d => java.util.Arrays.binarySearch(docIds, d)))
    tokBlobs.indices.foreach { bi =>
      val lens = tokBlobs(bi)._2
      at(bi).indices.foreach(j => if (at(bi)(j) >= 0) tokOffs(at(bi)(j) + 1) = lens(j))
    }
    var d = 0
    while (d < docIds.length) { tokOffs(d + 1) += tokOffs(d); d += 1 }
    val tokens = new Array[Int](tokOffs(docIds.length))
    tokBlobs.indices.foreach { bi =>
      val (_, lens, toks) = tokBlobs(bi)
      var src = 0
      at(bi).indices.foreach { j =>
        if (at(bi)(j) >= 0) System.arraycopy(toks, src, tokens, tokOffs(at(bi)(j)), lens(j))
        src += lens(j)
      }
    }

    val groups = CompactDict.build(groupIds.toArray)
    new CorpusProbe(
      groups, nullGroup, cfg.bands,
      java.util.Arrays.copyOf(keyGb, nKeys), java.util.Arrays.copyOf(keyHash, nKeys),
      postOffs, postings, table, docIds, tokOffs, tokens, cfg.threshold
    )
  }
}

/** Executor-side handle: resolves the broadcast once per deserialized task
  * plan, not once per row. */
final class ProbeKernel(bc: Broadcast[CorpusProbe]) extends Serializable {
  @transient private lazy val p = bc.value
  def probe(group: UTF8String, tokens: ArrayData, bhs: ArrayData): ArrayData = p.probe(group, tokens, bhs)
}

/** (group: string, tokens: sorted array<int>, band hashes: array<long>) ->
  * array<struct<corpus_doc_id, sim>>: a [[CorpusProbe]] lookup inside
  * whole-stage codegen, read straight off the Tungsten arrays like
  * [[graft.dedup.JaccardSorted]]. A NULL group is a key, not a NULL input;
  * NULL tokens or band hashes give NULL. */
case class ProbeCorpus(group: Expression, tokens: Expression, bandHashes: Expression, probe: Broadcast[CorpusProbe])
    extends Expression {
  override def children: Seq[Expression] = Seq(group, tokens, bandHashes)
  override def nullable: Boolean = tokens.nullable || bandHashes.nullable
  override def dataType: DataType = ArrayType(CorpusProbe.MatchType, containsNull = false)
  @transient private lazy val kernel = new ProbeKernel(probe)

  override def checkInputDataTypes(): TypeCheckResult =
    (group.dataType, tokens.dataType, bandHashes.dataType) match {
      case (StringType, ArrayType(IntegerType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"probe_corpus expects (string, array<int>, array<long>), got $other")
    }

  override def eval(input: InternalRow): Any = {
    val t = tokens.eval(input)
    val b = bandHashes.eval(input)
    if (t == null || b == null) null
    else kernel.probe(group.eval(input).asInstanceOf[UTF8String], t.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("probeKernel", kernel, classOf[ProbeKernel].getName)
    val g = group.genCode(ctx)
    val t = tokens.genCode(ctx)
    val b = bandHashes.genCode(ctx)
    ev.copy(code = code"""
      ${g.code}
      ${t.code}
      ${b.code}
      boolean ${ev.isNull} = ${t.isNull} || ${b.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) {
        ${ev.value} = $ref.probe(${g.isNull} ? null : ${g.value}, ${t.value}, ${b.value});
      }
    """)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(group = c(0), tokens = c(1), bandHashes = c(2))

  override def prettyName: String = "probe_corpus"
}

object ProbeCorpus {
  def apply(group: Column, tokens: Column, bandHashes: Column, probe: Broadcast[CorpusProbe]): Column =
    GraftBridge.column(
      ProbeCorpus(GraftBridge.expression(group), GraftBridge.expression(tokens), GraftBridge.expression(bandHashes), probe)
    )
}
