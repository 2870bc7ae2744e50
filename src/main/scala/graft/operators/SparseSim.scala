package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse-vector (TF-IDF) cosine pair mining over an inverted index, with
  * a THRESHOLD-AWARE PREFIX FILTER as the scale path — the sparse
  * complement of the dense SRP-banded join ([[Dedup.embeddingNearDupLsh]])
  * and the Jaccard prefix filter ([[Dedup.jaccardPairsPrefix]]).
  *
  * The plain posting join ([[cosinePairsBrute]]) pairs documents on EVERY
  * shared term: a stop-word's posting list is O(N), so candidates grow
  * ~quadratically on natural language — fine as a blocked validation
  * baseline, fatal at 100 TB. The prefix filter fixes exactly that:
  *
  * Each document indexes only a residual-norm PREFIX of its terms —
  * the minimal set whose excluded suffix has L2 norm < t — so a
  * qualifying pair must share an indexed term and the hot stop-word
  * posting lists (lowest TF-IDF weight → always in suffixes) never
  * materialize on an index side; candidate count tracks true
  * near-duplicate density, not vocabulary skew. Two exact generators
  * exist — one-sided probe-all⋈prefix under per-doc weight order
  * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07)
  * and two-sided prefix⋈prefix under a global rarest-first order with a
  * positional prune (the PPJoin refinement, Xiao et al., WWW'08) — and
  * [[cosinePairsPrefix]] picks between them from a measured vocabulary
  * statistic, since their costs flip between Zipfian and flat-df
  * corpora. Both generators also carry Bayardo's maxweight bound: a
  * join row survives only while `maxwn(x)·Σwn(y) >= t` in BOTH
  * orientations (each product upper-bounds the cosine), pruning
  * candidate pairs before the shuffle that dedups them.
  *
  * Candidate pairs are then verified EXACTLY in two phases: a
  * plain-double merge-scan dot prunes the flood with a 1e-6 cosine
  * margin (orders beyond the DECIMAL quantization error), and the
  * DECIMAL-quantized kernel — the same arithmetic as the brute join —
  * scores only the near-threshold survivors, so both forms return
  * bit-identical rows and share one DuckDB oracle.
  *
  * The corpus-level artifacts (pinned postings, norms, tok-sorted verify
  * vectors, document frequencies) are bundled in a [[CorpusIndex]] that
  * can be memoized per corpus via [[cachedIndex]] — the materialized
  * secondary-index pattern: production runs many thresholds and queries
  * against one corpus, and at 100 TB these artifacts are persisted
  * tables, not per-query rebuilds. `localCheckpoint` pinning is the
  * local-mode analog of that persistence.
  */
object SparseSim {

  /** Threshold-independent per-corpus artifacts. All DataFrames derive
    * from the pinned postings, so a cached index recomputes nothing but
    * cheap projections on reuse. */
  final case class CorpusIndex(
      w: DataFrame,       // (doc_id, tok, w) raw TF-IDF postings, pinned
      norms: DataFrame,   // (doc_id, __norm) L2 norms, DECIMAL-quantized
      wn: DataFrame,      // (doc_id, tok, __wn) normalized weights
      stats: DataFrame,   // (doc_id, __maxwn, __sumwn) Bayardo bounds
      vecs: DataFrame,    // (doc_id, __vec tok-sorted, __norm), pinned
      dfByTok: DataFrame, // (tok, __tdf) document frequencies
      idfDispersion: Double,
      nDocs: Long,
      vocabSize: Long) {

    /** Densified raw-weight vectors (doc_id, __dvec: array<double>,
      * __norm), position = rank of the token in the sorted vocabulary —
      * built lazily, ONLY for the small-vocabulary regime (the sorted
      * vocabulary itself is driver metadata there, like the PQ
      * codebooks). Zero entries are exact 0.0 contributions, so a dense
      * double dot equals the sparse one up to summation order. */
    lazy val denseVecs: DataFrame = {
      val spark = vecs.sparkSession
      import spark.implicits._
      val vocab = dfByTok.select(col("tok")).orderBy(col("tok"))
        .as[String].collect()
      val m = map_from_entries(col("__vec"))
      vecs.select(col("doc_id"),
        transform(typedlit(vocab.toSeq), t => coalesce(element_at(m, t), lit(0.0)))
          .as("__dvec"),
        col("__norm"))
        .localCheckpoint(true) // feeds both sides of the fused join
    }
  }

  /** Smooth-IDF TF-IDF term weights (the t7 weighting, and sp1's):
    * w = tf * (ln((N+1)/(df+1)) + 1) over whitespace tokens.
    * Output: (doc_id, tok, w) — one posting row per distinct doc term.
    */
  def tfidfWeights(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TextHash.tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("__cnt"))
    val withDf = tf.withColumn("__df",
      count(lit(1)).over(Window.partitionBy(col("tok"))))
    val n = docs.agg(count(lit(1)).as("__n_docs"))
    withDf.crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
        (col("__cnt").cast("double") *
          (log((col("__n_docs") + 1.0d) / (col("__df") + 1.0d)) + 1.0d))
          .as("w"))
  }

  /** Per-doc L2 norms, DECIMAL-quantized (order-proof). */
  private def normsOf(w: DataFrame): DataFrame =
    w.groupBy(col("doc_id"))
      .agg(sqrt(sum((col("w") * col("w")).cast("decimal(28,10)"))
        .cast("double")).as("__norm"))

  /** Build the index from a postings table. Runs the corpus-sized jobs
    * eagerly: postings and verify vectors are localCheckpoint-pinned
    * (each feeds 2-3 consumers; Catalyst recomputes multi-consumer
    * subtrees otherwise), and the vocabulary statistic is one
    * vocabulary-sized aggregate.
    */
  def buildIndexFromWeights(w0: DataFrame): CorpusIndex = {
    val w = w0.select(col("doc_id"), col("tok"), col("w")).localCheckpoint(true)
    val norms = normsOf(w)
    // normalized weight — candidate pruning only; the verify arithmetic
    // stays on raw weights so results are bit-identical to the brute join
    val wn = w.join(norms, Seq("doc_id"))
      .select(col("doc_id"), col("tok"),
        (col("w") / col("__norm")).as("__wn"))
    // Bayardo bound ingredients: cos(x,y) <= maxwn(x)·Σwn(y) for unit
    // vectors (each |y_i| <= 1 coordinate-wise bound summed)
    val stats = wn.groupBy(col("doc_id"))
      .agg(max(col("__wn")).as("__maxwn"), sum(col("__wn")).as("__sumwn"))
    val vecs = w.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("tok"), col("w")))).as("__vec"))
      .join(norms, Seq("doc_id"))
      .localCheckpoint(true)
    val dfByTok = w.groupBy(col("tok")).agg(count(lit(1)).as("__tdf"))
    val st = dfByTok.agg(
        stddev_pop(log(col("__tdf") + 1.0)).as("sd"),
        avg(log(col("__tdf") + 1.0)).as("mu"),
        count(lit(1)).as("v")).head()
    val dispersion =
      if (st.isNullAt(0) || st.getDouble(1) == 0.0) 0.0
      else st.getDouble(0) / st.getDouble(1)
    CorpusIndex(w, norms, wn, stats, vecs, dfByTok, dispersion,
      nDocs = vecs.count(), vocabSize = st.getLong(2))
  }

  def buildIndex(docs: DataFrame, idCol: String, textCol: String): CorpusIndex =
    buildIndexFromWeights(tfidfWeights(docs, idCol, textCol))

  /** Per-corpus memo of [[buildIndex]]. The key is the caller's corpus
    * identity (e.g. "<sfDir>/documents#full"), scoped to the owning
    * SparkSession so a cached index never outlives its session. */
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, CorpusIndex]()

  def cachedIndex(key: String, docs: DataFrame,
                  idCol: String, textCol: String): CorpusIndex =
    indexCache.computeIfAbsent(
      s"${System.identityHashCode(docs.sparkSession)}#$key",
      _ => buildIndex(docs, idCol, textCol))

  /** Doc-count bound under which the per-doc vector table is broadcast
    * in the verify joins: a checkpointed subtree reports no size stats,
    * so the planner would sort-merge the (candidate-pair)-sized stream
    * against a table of a few MB. Measured once (one aggregate — an
    * AQE-style planning statistic, the autoSaltedJoin pattern); above
    * the bound the joins stay shuffled hash joins, the 100 TB shape. */
  private val BroadcastMaxDocs = 100000L

  /** Exact cosine over candidate id pairs in TWO PHASES over per-doc
    * tok-sorted sparse vectors, ONE row per candidate pair instead of a
    * posting-join row per shared token:
    *
    *  1. a plain-double merge-scan dot ([[graft.functions.Native.sparseDotDbl]],
    *     no BigDecimal) prunes candidates below `t - 1e-6`: the double
    *     and DECIMAL cosines differ by quantization (<= 5e-11 per shared
    *     token) plus double rounding — orders below the margin — so no
    *     qualifying pair is dropped;
    *  2. [[graft.functions.SparseDotDec]] reproduces the posting join's
    *     `SUM(CAST(wa*wb AS DECIMAL(28,10)))` bit-for-bit on the
    *     near-threshold survivors, so this returns exactly the brute
    *     join's rows.
    *
    * The vector table is one row per doc (norm included) — joined twice
    * onto the pair list; at fixture scale it broadcasts, at 100 TB it
    * hash-joins on the pair ids.
    */
  private[graft] def verifyPairs(cand: DataFrame, ix: CorpusIndex,
                                 threshold: Double): DataFrame = {
    val side =
      if (ix.nDocs <= BroadcastMaxDocs) broadcast(ix.vecs) else ix.vecs
    cand
      .join(side.select(col("doc_id").as("id1"),
        col("__vec").as("__va"), col("__norm").as("__n1")), Seq("id1"))
      .join(side.select(col("doc_id").as("id2"),
        col("__vec").as("__vb"), col("__norm").as("__n2")), Seq("id2"))
      .where(graft.functions.Native.sparseDotDbl(col("__va"), col("__vb")) /
        (col("__n1") * col("__n2")) >= lit(threshold - 1e-6))
      .withColumn("__dot",
        graft.functions.Native.sparseDotDec(col("__va"), col("__vb")))
      .withColumn("cosine", round(col("__dot") / (col("__n1") * col("__n2")), 6))
      .where(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** Baseline: posting join on EVERY shared term (sp1's shape). Correct
    * for any threshold > 0 but joins on stop-word postings — keep it
    * blocked to validation corpora; [[cosinePairsPrefix]] is the
    * production path. */
  def cosinePairsBrute(w: DataFrame, threshold: Double): DataFrame = {
    val norms = normsOf(w)
    val dots = w.as("a").join(w.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(sum((col("a.w") * col("b.w")).cast("decimal(28,10)"))
        .cast("double").as("__dot"))
    dots
      .join(norms.select(col("doc_id").as("id1"), col("__norm").as("__n1")), Seq("id1"))
      .join(norms.select(col("doc_id").as("id2"), col("__norm").as("__n2")), Seq("id2"))
      .withColumn("cosine", round(col("__dot") / (col("__n1") * col("__n2")), 6))
      .where(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** [[cosinePairsBrute]] over a (possibly cached) corpus index — the
    * validation baseline reusing the pinned postings. */
  def cosinePairsBruteIndexed(ix: CorpusIndex, threshold: Double): DataFrame =
    cosinePairsBrute(ix.w, threshold)

  /** The Bayardo maxweight prune as a join-time predicate: both
    * orientations of `maxwn(x)·Σwn(y) >= t` must hold for a pair to
    * qualify, and each side's (__maxwn, __sumwn) ride the join inputs so
    * the prune runs before the candidate shuffle. The 1e-9 slack absorbs
    * double rounding in the bound itself. */
  private def bayardoKeep(threshold: Double) =
    (col("a.__maxwn") * col("b.__sumwn") >= lit(threshold - 1e-9)) &&
      (col("b.__maxwn") * col("a.__sumwn") >= lit(threshold - 1e-9))

  /** Candidate generation, ONE-SIDED form: probe ALL terms against a
    * per-doc descending-weight prefix index. Exact for `cosine >= t`: a
    * pair sharing no indexed term has every shared term in both pure
    * suffixes, and each excluded suffix has norm < t, so
    * `cos <= ||suffix(x)|| * ||y|| < t`. The per-doc weight order makes
    * this index prefix the MINIMAL one — the right choice when the
    * corpus-wide term order carries no signal (flat document
    * frequencies, tiny vocabularies). */
  private[graft] def candidatesProbeIndex(ix: CorpusIndex,
                                          threshold: Double): DataFrame = {
    val byWeight = Window.partitionBy(col("doc_id"))
      .orderBy(col("__wn").desc, col("tok"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // suffixSq(i) = 1 - Σ_{j<i} wn_j²: the squared norm of the suffix
    // STARTING at row i. Keep row i in the index prefix while that suffix
    // could still reach the threshold alone; the 1e-9 slack absorbs
    // double rounding (the proof's margin is t vs t², orders larger).
    val prefix = ix.wn
      .withColumn("__suffix_sq",
        lit(1.0) - coalesce(sum(col("__wn") * col("__wn")).over(byWeight), lit(0.0)))
      .where(col("__suffix_sq") >= lit(threshold * threshold - 1e-9))
      .join(ix.stats, Seq("doc_id"))
      .select(col("doc_id").as("__pid"), col("tok"),
        col("__maxwn"), col("__sumwn"))
    // probe ALL terms against the prefix index; either orientation of a
    // qualifying pair hits (shared term in x's prefix OR y's prefix)
    val probe = ix.w.join(ix.stats, Seq("doc_id"))
      .select(col("doc_id").as("__qid"), col("tok"),
        col("__maxwn"), col("__sumwn"))
    // the prefix index is a few rows per doc: broadcast it under the
    // measured doc bound so the probe join never shuffles on `tok` — a
    // token key has VOCABULARY cardinality, so a shuffled join here
    // collapses parallelism onto the few distinct tokens of a flat
    // corpus (checkpointed inputs report no stats; without the hint the
    // planner's choice is unstable run to run). Past the bound both
    // sides shuffle — at that scale the vocabulary is large and the
    // token key partitions well.
    val prefixSide =
      if (ix.nDocs <= BroadcastMaxDocs) broadcast(prefix) else prefix
    probe.as("a")
      .join(prefixSide.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.__qid") =!= col("b.__pid") && bayardoKeep(threshold))
      .select(
        least(col("a.__qid"), col("b.__pid")).as("id1"),
        greatest(col("a.__qid"), col("b.__pid")).as("id2"))
      .distinct()
  }

  /** Dense-regime gate for [[pairsFusedProbe]]: densified vectors are
    * vocab-sized per doc, so both the per-row arrays and the broadcast
    * doc table must stay small — measured vocabulary and doc counts
    * decide (one row of the planning aggregate [[buildIndexFromWeights]]
    * already ran). Natural-language corpora are Zipfian and take the
    * two-sided path long before this gate is consulted; the dense path
    * exists exactly for the tiny-flat-vocabulary regime where prefix
    * filtering cannot prune. */
  private val DenseVocabMax = 4096L
  private val DenseBroadcastMaxBytes = 64L << 20
  private def denseEligible(ix: CorpusIndex): Boolean =
    ix.vocabSize > 0 && ix.vocabSize <= DenseVocabMax &&
      ix.nDocs * ix.vocabSize * 8 <= DenseBroadcastMaxBytes

  /** FUSED one-sided candidates + verify for the small-vocabulary
    * regime: attach each side's DENSIFIED vector and norm BEFORE the
    * probe⋈prefix token join (doc-keyed broadcast joins — no shuffle),
    * and evaluate the double-dot cosine as a JOIN PREDICATE after the
    * Bayardo bound. The candidate flood then dies inside one
    * whole-stage-codegen pass — nothing pair-sized is ever shuffled; on
    * a flat fixture corpus this replaces a 12M-pair distinct+join
    * pipeline with ~10³ survivor rows. The dense prune dot is a
    * primitive 31-multiply loop (~100x cheaper than the sparse merge
    * scan's struct views and string compares); zero entries add exact
    * 0.0, so it equals the sparse double dot up to summation order —
    * inside the same 1e-6 margin. The DECIMAL re-verify on the deduped
    * survivors keeps the output bit-identical to the brute join.
    *
    * Past the gate the unfused path applies — there the pair-keyed
    * shuffle is the right trade, since per-orientation dot recomputation
    * would stream full vectors through a vocabulary-keyed join. */
  private def pairsFusedProbe(ix: CorpusIndex, threshold: Double): DataFrame = {
    val byWeight = Window.partitionBy(col("doc_id"))
      .orderBy(col("__wn").desc, col("tok"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val docSide = ix.stats.join(ix.denseVecs, Seq("doc_id"))
    val prefix = ix.wn
      .withColumn("__suffix_sq",
        lit(1.0) - coalesce(sum(col("__wn") * col("__wn")).over(byWeight), lit(0.0)))
      .where(col("__suffix_sq") >= lit(threshold * threshold - 1e-9))
      .select(col("doc_id"), col("tok"))
      .join(docSide, Seq("doc_id"))
    val probe = ix.w.select(col("doc_id"), col("tok"))
      .join(broadcast(docSide), Seq("doc_id"))
    val survivors = probe.as("a")
      .join(broadcast(prefix).as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          bayardoKeep(threshold) &&
          graft.functions.Native.denseDotDbl(col("a.__dvec"), col("b.__dvec")) /
            (col("a.__norm") * col("b.__norm")) >= lit(threshold - 1e-6))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("id1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id2"))
      .distinct()
    verifyPairs(survivors, ix, threshold)
  }

  /** Candidate generation, TWO-SIDED form: prefix⋈prefix under one
    * corpus-wide rarest-first term order (ascending document frequency,
    * token tie-break), with a positional residual-norm prune — the
    * PPJoin refinement. With `sfx(x, s)` the L2 norm of x's terms
    * at-or-after s in the global order, a pair with `cos(x,y) >= t` has,
    * at its globally-first shared term s1, ALL shared terms inside both
    * inclusive suffixes, so by Cauchy-Schwarz
    * `t <= dot <= sfx(x,s1) * sfx(y,s1)` — hence `sfx >= t` on BOTH
    * sides (each factor is <= 1) and the product of squared suffixes is
    * `>= t²`. Indexing only rows with `sfx² >= t²` on both join sides
    * and pruning joined rows where `sfx_a² * sfx_b² < t²` therefore
    * never drops a qualifying pair, while shrinking BOTH join sides to
    * prefixes — quadratically fewer pre-distinct rows than the one-sided
    * form whenever the global order tracks per-doc weight order, which
    * is exactly the Zipfian regime [[cosinePairsPrefix]] dispatches it
    * for. */
  private def candidatesPrefixPrefix(ix: CorpusIndex,
                                     threshold: Double): DataFrame = {
    val byGlobal = Window.partitionBy(col("doc_id"))
      .orderBy(col("__tdf").asc, col("tok"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = ix.wn.join(ix.dfByTok, Seq("tok"))
      .withColumn("__suffix_sq",
        lit(1.0) - coalesce(sum(col("__wn") * col("__wn")).over(byGlobal), lit(0.0)))
      .where(col("__suffix_sq") >= lit(threshold * threshold - 1e-9))
      .join(ix.stats, Seq("doc_id"))
      .select(col("doc_id"), col("tok"), col("__suffix_sq"),
        col("__maxwn"), col("__sumwn"))
    prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          bayardoKeep(threshold))
      .where(col("a.__suffix_sq") * col("b.__suffix_sq") >=
        lit(threshold * threshold - 1e-9))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** Dispatch statistic for [[cosinePairsPrefix]]: relative dispersion
    * (stddev/mean) of log(df+1) over the VOCABULARY — same stddev as
    * smooth-idf (an affine transform), with a mean that anchors the
    * scale. Near zero means
    * document frequencies are flat — the global rarest-first order is
    * noise w.r.t. per-doc weight order, global-order prefixes balloon
    * toward whole documents, and the two-sided join degrades to the
    * brute posting join; large means Zipfian frequencies, where the
    * global and per-doc orders align and the two-sided join shrinks both
    * sides. Threshold 0.25 splits the regimes with wide margin (flat
    * fixtures measure < 0.05, natural-language Zipf > 1). */
  private[graft] def preferTwoSided(idfDispersion: Double): Boolean =
    idfDispersion > 0.25

  /** Prefix-filtered exact cosine pairs over a prebuilt corpus index
    * (see object doc for the proof family). ADAPTIVE: both candidate
    * generators are exact superset generators feeding the same exact
    * verify, so the choice between them is pure cost — made from the
    * index's measured idf-dispersion statistic (one vocabulary-sized
    * aggregate, the AQE-style planning pattern used by autoSaltedJoin
    * and the adaptive triangle enumeration):
    *
    *  - Zipfian vocabularies → [[candidatesPrefixPrefix]] (two-sided,
    *    both join sides prefix-only, stop-words on neither side);
    *  - flat/tiny vocabularies → [[candidatesProbeIndex]] (one-sided,
    *    minimal per-doc-weight prefixes — the global order carries no
    *    signal there, so two-sided prefixes would approach whole
    *    documents).
    *
    * Plan: a per-doc cumulative window over the pinned postings derives
    * the prefix index, a Bayardo-pruned posting join produces
    * candidates, then the two-phase exact verify scores them. Every
    * stage shuffles posting-sized data on term or pair keys — nothing
    * driver-sized, nothing all-pairs, no stop-word posting ever joined
    * on an index side.
    */
  def cosinePairsPrefixIndexed(ix: CorpusIndex, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "prefix-filtered cosine needs a threshold in (0, 1]")
    if (preferTwoSided(ix.idfDispersion))
      verifyPairs(candidatesPrefixPrefix(ix, threshold), ix, threshold)
    else if (denseEligible(ix))
      pairsFusedProbe(ix, threshold)
    else
      verifyPairs(candidatesProbeIndex(ix, threshold), ix, threshold)
  }

  /** [[cosinePairsPrefixIndexed]] over an ephemeral index built from a
    * postings table — the non-cached form. */
  def cosinePairsPrefix(w0: DataFrame, threshold: Double): DataFrame =
    cosinePairsPrefixIndexed(buildIndexFromWeights(w0), threshold)

  /** End-to-end: documents table -> exact cosine pairs via the prefix
    * filter. `cacheKey` memoizes the corpus index across queries (the
    * materialized-index pattern); None builds ephemeral artifacts. */
  def cosinePairsPrefixOverDocs(docs: DataFrame, idCol: String,
                                textCol: String, threshold: Double,
                                cacheKey: Option[String] = None): DataFrame = {
    val ix = cacheKey match {
      case Some(k) => cachedIndex(k, docs, idCol, textCol)
      case None => buildIndex(docs, idCol, textCol)
    }
    cosinePairsPrefixIndexed(ix, threshold)
  }
}
