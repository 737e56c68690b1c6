package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact within-group set-similarity join: every pair of docs in the same
  * key group whose element sets have Jaccard >= `minSim`, emitted as
  * (keys..., a, b, inter_cnt, union_cnt, sim) with a < b and sim a single
  * division of the exact integer counts (never re-rounded).
  *
  * The reference semantics are the exact inverted-index all-pairs join
  * (code/Stage05ComputeSimilarity.py:98-140); at `minSim` = 0 this operator
  * emits exactly those pairs (every pair sharing >= 1 element, since the
  * prefix is then the whole set). Above 0 it runs PPJoin-style PREFIX
  * FILTERING (Chaudhuri/Ganti/Kaushik SSJoin, ICDE'06; Xiao et al. PPJoin,
  * WWW'08), which prunes only the CANDIDATE join — the output is the exact
  * pair set.
  *
  * Why it is safe: J(x,y) >= t implies |x n y| >= ceil(t*|x|) and
  * >= ceil(t*|y|) (size filter: |y| >= |x n y| substituted into the Jaccard
  * bound). Prefix lemma: under any shared total element order, if
  * |x n y| >= a_x and >= a_y, the first |x|-a_x+1 elements of x and the
  * first |y|-a_y+1 elements of y must share an element (all common elements
  * would otherwise sit above the lower prefix boundary, but only a_x-1
  * elements of x do). So joining only each doc's prefix under a RARE-FIRST
  * order (df asc, element asc) finds every pair at sim >= t while the join
  * volume drops from sum(df^2) over ALL elements to the prefix elements
  * only — the frequent elements that dominate the quadratic cost sort to
  * the back and fall out of most prefixes. Survivors are verified on the
  * full sets with the codegen'd sorted-intersection kernel.
  *
  * Two entry points build the per-doc rare-first id sets that the PPJoin
  * core ([[fromSets]]) joins:
  *  - [[fromEncoded]]: a dictionary-encoded corpus plus its vocabulary
  *    (the pipeline's `encoded` and `vocab` stages);
  *  - [[fromElements]]: raw (doc, element) rows plus the element df table
  *    (q16's word 3-grams).
  */
object SetSimJoin {

  /** Exact pairs over a dictionary-encoded corpus.
    *
    * `encoded`: (doc_id, group, tokens: array<int>, n_tokens) as
    * [[Vocabulary.encode]] writes it; `vocab`: (token_id, df) for every id
    * the tokens use. Returns (group, a, b, inter_cnt, union_cnt, sim).
    *
    * The rare-first sets are a remap of each doc's token ids into
    * (df, token_id) order — Jaccard counts are invariant under the id
    * bijection. Two plans, identical output, chosen on vocabulary size:
    *  - up to `maxBroadcast` entries: the (token_id, df) table is collected,
    *    ranked on the DRIVER and broadcast as an int[] remap, so the sets
    *    are a narrow map-side projection (remap + sort) of `encoded` — the
    *    same bound under which [[Vocabulary.encode]] already collects the
    *    whole dictionary;
    *  - beyond it: the distributed [[Ids.assignDense]] ranking and an
    *    explode + join + re-group ([[fromElements]]), which scales to any
    *    vocabulary size. */
  def fromEncoded(
      encoded: DataFrame,
      vocab: DataFrame,
      minSim: Double,
      vocabRows: Option[Long] = None,
      maxBroadcast: Long = Vocabulary.BroadcastMaxVocab,
      reg: CacheRegistry = CacheRegistry.unmanaged
  ): DataFrame = {
    val keys = Seq("group")
    val tidDf = vocab.select(col("token_id").cast("int").as("token_id"), col("df"))
    if (vocabRows.getOrElse(vocab.count()) <= maxBroadcast) {
      val ranked = tidDf
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)))
        .sortBy { case (tid, df) => (df, tid) }
      val remap = new Array[Int](if (ranked.isEmpty) 0 else ranked.map(_._1).max + 1)
      ranked.indices.foreach(eid => remap(ranked(eid)._1) = eid)
      val bRemap = encoded.sparkSession.sparkContext.broadcast(remap)
      val remapUdf = udf { (tokens: Seq[Int]) =>
        val m = bRemap.value
        val out = new Array[Int](tokens.length)
        var i = 0
        tokens.foreach { tid => out(i) = m(tid); i += 1 }
        java.util.Arrays.sort(out)
        out
      }
      // persisted: the set table is the hub — both prefix sides and both
      // verify sides scan it (see fromSets)
      val sets = reg.persist(
        encoded.select(col("doc_id"), col("group"), remapUdf(col("tokens")).as("ts"), col("n_tokens").as("n"))
      )
      fromSets(sets, ranked.count(_._2 < 2).toLong, minSim, keys)
    } else {
      val elems = encoded.select(col("doc_id"), col("group"), explode(col("tokens")).as("token_id"))
      fromElements(elems, tidDf, "token_id", minSim, keys, reg)
    }
  }

  /** Exact pairs over raw elements: rank elements to dense ints in
    * (df asc, element asc) order, build each doc's sorted id set, then run
    * [[fromSets]]. `elems`: (doc_id, keys..., col named `elemCol`), distinct
    * per doc; `edf`: (elemCol, df) — the element universe (pre-pruned as the
    * caller requires). */
  def fromElements(
      elems: DataFrame,
      edf: DataFrame,
      elemCol: String,
      minSim: Double,
      keys: Seq[String],
      reg: CacheRegistry = CacheRegistry.unmanaged
  ): DataFrame = {
    val kc = keys.map(col)
    // dense rare-first ids: ascending id = ascending (df, element), so the
    // sorted int array IS the prefix order and the verify kernel's input
    val ranked = Ids.assignDense(edf, Seq("df", elemCol), "eid", reg)
    val pe = elems.join(ranked.select(col(elemCol), col("eid").cast("int").as("eid")), elemCol)
    // the per-doc set table is the hub of the plan — both prefix sides and
    // both verify sides consume it (4 scans); cache it once
    val sets = reg.persist(pe
      .groupBy(col("doc_id") +: kc: _*)
      .agg(sort_array(collect_list(col("eid"))).as("ts"))
      .withColumn("n", size(col("ts"))))
    // SINGLETON elision (see fromSets): under the rare-first ranking, df=1
    // elements occupy exactly the id range [0, nSingletons) — one tiny job
    // over the cached skinny ranking
    val nSingletons = ranked.filter(col("df") < 2).count()
    fromSets(sets, nSingletons, minSim, keys)
  }

  /** The PPJoin core over pre-built per-doc sets: `sets` must carry
    * (doc_id, keys..., ts: sorted array<int> of rare-first element ids,
    * n: int size) and be PERSISTED by the caller (both prefix sides and
    * both verify sides scan it). `nSingletons` = number of df=1 element ids
    * (the contiguous low range under the rare-first order) to elide from
    * the candidate join — 0 for min-df-pruned universes. */
  private def fromSets(
      sets: DataFrame,
      nSingletons: Long,
      minSim: Double,
      keys: Seq[String]
  ): DataFrame = {
    val kc = keys.map(col)
    // a = ceil(t*n) via ceil(t*n - 1e-9): the epsilon keeps an exact-integer
    // t*n from rounding UP on binary error (e.g. 0.2*5 -> 1.0000000000000002),
    // which would shorten the prefix and silently drop true pairs; a too-LONG
    // prefix only adds candidates the verify step discards.
    val prefLen = (col("n") - ceil(lit(minSim) * col("n") - lit(1e-9)) + lit(1)).cast("int")
    // POSITIONAL filter (PPJoin proper, Xiao et al. WWW'08 §3.2): a match on
    // prefix element e at 0-based sorted positions (pa, pb) bounds the
    // overlap by min(pa,pb) + 1 + min(na-pa-1, nb-pb-1); pairs need overlap
    // >= alpha = ceil(t/(1+t)*(na+nb)). Every per-row bound is a true upper
    // bound, so a TRUE pair passes on every matched row (no recall loss),
    // while at low thresholds — where the prefix itself is nearly the whole
    // doc and prunes nothing — most candidate rows fail the bound and never
    // reach distinct+verify. The epsilon keeps an exact-integer alpha from
    // rounding UP on binary error (which would drop true pairs at the
    // boundary); rounding DOWN only admits candidates verify discards.
    // SINGLETON elision: under the rare-first ranking, df=1 elements occupy
    // exactly the id range [0, nSingletons) — and a df=1 element can never
    // match in the self-join (no second doc holds it). Dropping those ids
    // from the JOIN input (sets, sizes and positions keep the full arrays,
    // so sims are untouched) removes most of the exchange volume when the
    // element universe is unpruned (q16's 3-gram space is singleton-
    // dominated); for min-df-pruned callers nSingletons = 0 and this is a
    // no-op.
    val pref = sets
      .select(
        kc ++ Seq(col("doc_id"), col("n"), posexplode(slice(col("ts"), lit(1), prefLen)).as(Seq("p", "eid"))): _*
      )
      .filter(col("eid") >= nSingletons)
    val alpha = ceil(lit(minSim) / (lit(1.0) + lit(minSim)) * (col("na") + col("nb")) - lit(1e-9))
    val cand = pref
      .select(kc ++ Seq(col("eid"), col("doc_id").as("a"), col("n").as("na"), col("p").as("pa")): _*)
      .join(
        pref.select(kc ++ Seq(col("eid"), col("doc_id").as("b"), col("n").as("nb"), col("p").as("pb")): _*),
        keys :+ "eid"
      )
      .filter(col("a") < col("b"))
      .filter(
        least(col("pa"), col("pb")) + lit(1) +
          least(col("na") - col("pa") - lit(1), col("nb") - col("pb") - lit(1)) >= alpha
      )
      .select(kc :+ col("a") :+ col("b"): _*)
      .distinct()
    val sa = sets.select(col("doc_id").as("a"), col("ts").as("ts_a"), col("n").as("na"))
    val sb = sets.select(col("doc_id").as("b"), col("ts").as("ts_b"), col("n").as("nb"))
    cand
      .join(sa, "a")
      .join(sb, "b")
      .withColumn("inter_cnt", IntersectCountSorted(col("ts_a"), col("ts_b")).cast("long"))
      .withColumn("union_cnt", (col("na") + col("nb")).cast("long") - col("inter_cnt"))
      .withColumn("sim", col("inter_cnt").cast("double") / col("union_cnt"))
      .filter(col("sim") >= minSim)
      .select(kc ++ Seq(col("a"), col("b"), col("inter_cnt"), col("union_cnt"), col("sim")): _*)
  }
}
