package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Prefix-filtered set-similarity self-join — the PPJoin family (Xiao,
  * Wang, Lin, Yu 2008): the standard way to run an all-pairs Jaccard
  * join at corpus scale WITHOUT indexing every set element.
  *
  * q26's inverted shingle index posts EVERY shingle and caps hot
  * shingles by frequency; MinHash LSH (q29) trades exactness for banded
  * probes. The prefix filter is the sharper classical tool when the
  * EXACT join is wanted: order each set by a GLOBAL (frequency asc,
  * element) total order and index only its first
  * `|x| − ceil(t·|x|) + 1` elements. The PPJoin prefix theorem
  * guarantees any pair with Jaccard ≥ t shares at least one element in
  * BOTH prefixes (if no prefix element of A were in B, the intersection
  * would fit inside A's suffix of ceil(t·|A|) − 1 < t·|A| ≤ |A∩B|
  * elements), so candidate generation is complete; exact verification
  * removes false positives. The global order puts the RAREST elements
  * in prefixes, so posting lists stay short exactly where a naive index
  * explodes — at t=0.6 only ~41% of elements are indexed, and the hot
  * ones are the ones skipped.
  *
  * Scale shape: the frequency table is one map-combined shuffle; rank
  * windows partition by set id (never global); the candidate join
  * shuffles on the prefix-element key; verification joins are bounded
  * by the candidate set. Nothing is all-pairs, nothing collects.
  *
  * Determinism: the total order breaks frequency ties on the element
  * value, so prefixes — and therefore candidates and output — replay
  * exactly in ANSI SQL.
  */
object SetSimJoin {

  /** Deduplicated (__id, tok) element table plus the positional-filtered
    * candidate pair set (id_a, id_b, sa, sb) — the shared front half of
    * both verification strategies.
    *
    * Candidate generation = prefix filter + length filter + POSITIONAL
    * filter (PPJoin §3.2). The positional filter works per pair on its
    * prefix-match summary: m = number of shared prefix elements, (pa, pb)
    * = the ranks of the LAST shared prefix element in each set (both
    * maxima land on the same element because within-set rank follows the
    * one global order). Every shared element before that last match is
    * itself a prefix-prefix match — if u < w and w sits at prefix rank
    * pb in B, then u's rank in B is < pb ≤ prefix_len(B) — so m counts
    * ALL shared elements up to the last match, and elements after it
    * number at most min(sa − pa, sb − pb). Hence
    *   |A∩B| ≤ m + min(sa − pa, sb − pb),
    * and J ≥ t needs |A∩B| ≥ t·(sa+sb)/(1+t); pairs whose upper bound
    * misses that floor are pruned BEFORE the expensive verification
    * (integer cross-multiplied — no float, no ceil).
    */
  private def candidates(elements: DataFrame, idCol: String, elemCol: String,
      tPpm: Long): (DataFrame, DataFrame) = {
    val (tok, _, _, cand) = candidateFrames(elements, idCol, elemCol, tPpm)
    (tok, cand)
  }

  /** Candidate-growth audit (round-11 verdict task #4): the stage sizes
    * that decide the join's scaling regime, countable per rung —
    * (sets, prefix rows, raw prefix-collision pairs, candidates after
    * the positional filter). `SetSimAudit` prints these at two SFs so a
    * creeping exponent is attributable to a concrete stage (posting-list
    * collision growth vs output growth) instead of inferred from wall
    * clock.
    */
  private[graft] def candidateAudit(elements: DataFrame, idCol: String,
      elemCol: String, tPpm: Long): Map[String, Long] = {
    val (tok, prefix, matches, cand) = candidateFrames(elements, idCol, elemCol, tPpm)
    Map(
      "sets" -> tok.select(col("__id")).distinct().count(),
      "elements" -> tok.count(),
      "prefix_rows" -> prefix.count(),
      "match_pairs" -> matches.count(),
      "candidates" -> cand.count())
  }

  private def candidateFrames(elements: DataFrame, idCol: String, elemCol: String,
      tPpm: Long): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(tPpm > 0 && tPpm <= 1000000L, s"threshold ppm in (0, 1e6], got $tPpm")
    val tok = elements.select(col(idCol).as("__id"), col(elemCol).as("tok")).distinct()
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))

    // one Window operator for both rn and s: count over the SAME
    // (partition, order) spec with an unbounded frame collapses into the
    // row_number pass (Spark groups window functions by partition+order,
    // frames differ per function) — the bare `byDoc` count used to cost a
    // second full pass over every sorted partition (round-17 floor trim)
    val byDocOrd = Window.partitionBy(col("__id")).orderBy(col("cnt"), col("tok"))
    val ranked = tok.join(freq, "tok")
      .withColumn("rn", row_number().over(byDocOrd))
      .withColumn("s", count(lit(1)).over(
        byDocOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // prefix length |x| − ceil(t·|x|) + 1, ceil via exact integer div
    // (a Column `/` would be FLOAT division — a boundary round-up there
    // silently shortens prefixes and loses candidates)
    val prefix = ranked
      .filter(col("rn") <= expr(s"s - ((s * ${tPpm}L + 999999L) div 1000000L) + 1"))
      .select(col("tok"), col("__id"), col("s"), col("rn"))

    // length filter rides the join condition: J ≥ t forces
    // t·max(|A|,|B|) ≤ |A∩B| ≤ min(|A|,|B|), so mismatched sizes never
    // become candidates (38% fewer pairs on the sf0.1 corpus)
    val matches = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.__id") < col("b.__id") &&
          greatest(col("a.s"), col("b.s")) * tPpm <=
            least(col("a.s"), col("b.s")) * 1000000L)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.s").as("sa"), col("b.s").as("sb"),
        col("a.rn").as("ra"), col("b.rn").as("rb"))

    // positional filter: the group-by doubles as the pair dedup the old
    // `.distinct()` did, so the filter costs no extra shuffle
    val cand = matches
      .groupBy(col("id_a"), col("id_b"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("m"), max(col("ra")).as("pa"), max(col("rb")).as("pb"))
      .filter((col("m") + least(col("sa") - col("pa"), col("sb") - col("pb"))) *
        (1000000L + tPpm) >= lit(tPpm) * (col("sa") + col("sb")))
      .select(col("id_a"), col("id_b"), col("sa"), col("sb"))

    (tok, prefix, matches, cand)
  }

  /** Shared back half: exact integer Jaccard from the verified
    * intersection size.
    */
  private def finish(inter: DataFrame, tPpm: Long): DataFrame =
    inter
      .withColumn("union_sz", col("sa") + col("sb") - col("inter"))
      .filter(col("inter") * 1000000L >= lit(tPpm) * col("union_sz"))
      .select(col("id_a"), col("id_b"), col("inter"), col("union_sz"),
        expr("inter * 1000000L div union_sz").as("jacc_ppm"))

  /** All set pairs with Jaccard ≥ tPpm/1e6 over an (id, element)
    * multiset frame (duplicates tolerated — de-duplicated internally).
    * Output: (id_a, id_b, inter, union_sz, jacc_ppm) with id_a < id_b,
    * jacc_ppm the exact scaled rational.
    *
    * SIZE BOUND: verification materializes ONE array row per set
    * (collect_list per __id), so the largest set must fit comfortably in
    * an executor row — fine for shingle/feature sets (thousands of
    * elements, the corpora this targets), a row-size hazard for
    * unbounded sets.
    */
  def jaccardJoin(elements: DataFrame, idCol: String, elemCol: String,
      tPpm: Long): DataFrame = {
    val (tok, candLazy) = candidates(elements, idCol, elemCol, tPpm)
    // verify against per-set element arrays — intersection CARDINALITY is
    // order-free, so the nondeterministic collect order never shows; this
    // joins the candidate set against one small array row per id instead
    // of re-shuffling the full element table through a 3-way join.
    // Only candidate-TOUCHED sets need an array: the positional filter
    // typically leaves a small fraction of sets in any candidate pair, so
    // the semi-join keeps the collect_list (the widest rows in the whole
    // operator) proportional to candidate mass instead of corpus mass.
    // touched reads cand ONCE via explode (round-18, the overlapVerify
    // rationale): the two-branch union made three candidate-pipeline
    // consumers; this form has two.
    val cand = candLazy
    val touched = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("__id")).distinct()
    val sets = tok.join(touched, Seq("__id"), "left_semi")
      .groupBy(col("__id")).agg(collect_list(col("tok")).as("__elems"))
    val inter = cand
      .join(sets.select(col("__id").as("id_a"), col("__elems").as("__ea")), Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__elems").as("__eb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("sa"), col("sb"),
        size(array_intersect(col("__ea"), col("__eb"))).cast("long").as("inter"))
    finish(inter, tPpm)
  }

  /** All set pairs with ABSOLUTE overlap |A∩B| ≥ minOverlap — the
    * T-occurrence / overlap-join member of the prefix-filter family
    * (Chaudhuri, Ganti, Kaushik 2006; Xiao et al. 2008 §2), and the
    * primitive behind CONTAINMENT detection (quotes, excerpt reuse,
    * train/eval contamination): a ratio threshold |A∩B|/|A| has no
    * symmetric prefix scheme (B may be arbitrarily large), but an
    * absolute floor does, so the scale path is overlap-join first, exact
    * containment ratios on the surviving pairs.
    *
    * Prefix theorem for the absolute form: under one global element
    * order, let x be the EARLIEST element of A∩B. At least o − 1 shared
    * elements follow x within each set, so x sits at rank
    * ≤ |X| − (o − 1) in both — inside both prefixes of length
    * |X| − o + 1. Candidate generation is therefore complete; the
    * positional filter carries over with the constant floor o in place
    * of Jaccard's t·(sa+sb)/(1+t).
    *
    * Output: (id_a, id_b, inter, sa, sb, cont_a_ppm, cont_b_ppm) with
    * id_a < id_b; cont_x_ppm = ⌊|A∩B|·10⁶ / |X|⌋, the exact scaled
    * containment of each side in the other. Same scale shape and SIZE
    * BOUND as [[jaccardJoin]] (array-row verification).
    *
    * REGIME BOUND (measured, PLANS.md round-7 exponent table): prefix
    * pruning power is o/|set|. At floors well below typical set sizes
    * the prefix keeps most postings and hot-element lists make the
    * candidate join grow ~quadratically in corpus scale (k=1.28 at
    * o=20 on 52-median shingle sets) — intrinsic to EXACT small-floor
    * overlap joins. Use large floors (containment/quote detection,
    * o=80: sublinear) here; screen low-floor overlap with the capped
    * inverted index (q26) or MinHash-LSH (q29) instead.
    */
  /** Shared front of [[overlapJoin]] / [[overlapJoinHybrid]]: the
    * deduplicated (__id, tok) table and the frequency-ranked rows
    * carrying (tok, cnt, rn, s). */
  private def overlapRanked(elements: DataFrame, idCol: String,
      elemCol: String): (DataFrame, DataFrame) = {
    val tok = elements.select(col(idCol).as("__id"), col(elemCol).as("tok")).distinct()
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // same single-Window fusion as [[candidateFrames]]
    val byDocOrd = Window.partitionBy(col("__id")).orderBy(col("cnt"), col("tok"))
    val ranked = tok.join(freq, "tok")
      .withColumn("rn", row_number().over(byDocOrd))
      .withColumn("s", count(lit(1)).over(
        byDocOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    (tok, ranked)
  }

  /** Exact intersection verification + containment output shared by the
    * exact and hybrid overlap joins: array rows built ONLY for
    * candidate-touched sets (the [[jaccardJoin]] semi-join discipline —
    * collect_list rows proportional to candidate mass, not corpus mass).
    */
  private def overlapVerify(tok: DataFrame, candLazy: DataFrame, o: Long): DataFrame = {
    // touched reads cand ONCE via explode (round-18): the two-branch
    // union spelling referenced cand twice, and with the verification
    // join that made THREE consumers re-reading the prefix-collision
    // stream through the positional/dedup aggregate (ReuseExchange only
    // dedupes the exchange underneath it) — measured on q116/q125 as
    // +33% shuffle read. Explicit pins measured worse: an eager
    // localCheckpoint serialized the pipeline (+5 s wall), a scoped
    // cache raced concurrent consumer stages into duplicate builds.
    val cand = candLazy
    val touched = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("__id")).distinct()
    val sets = tok.join(touched, Seq("__id"), "left_semi")
      .groupBy(col("__id")).agg(collect_list(col("tok")).as("__elems"))
    cand
      .join(sets.select(col("__id").as("id_a"), col("__elems").as("__ea")), Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__elems").as("__eb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("sa"), col("sb"),
        size(array_intersect(col("__ea"), col("__eb"))).cast("long").as("inter"))
      .filter(col("inter") >= o)
      .select(col("id_a"), col("id_b"), col("inter"), col("sa"), col("sb"),
        expr("inter * 1000000L div sa").as("cont_a_ppm"),
        expr("inter * 1000000L div sb").as("cont_b_ppm"))
  }

  def overlapJoin(elements: DataFrame, idCol: String, elemCol: String,
      minOverlap: Int): DataFrame = {
    require(minOverlap >= 1, s"minOverlap >= 1, got $minOverlap")
    val o = minOverlap.toLong
    val (tok, ranked) = overlapRanked(elements, idCol, elemCol)
    // prefix length |x| − o + 1: sets smaller than o get a non-positive
    // bound and index nothing (correct — |A∩B| ≤ |A| < o)
    val prefix = ranked.filter(col("rn") <= col("s") - o + 1L)
      .select(col("tok"), col("__id"), col("s"), col("rn"))
    // length filter: min(|A|,|B|) ≥ o already implied by the prefix
    // bound; the join needs only the id order
    val matches = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.s").as("sa"), col("b.s").as("sb"),
        col("a.rn").as("ra"), col("b.rn").as("rb"))
    // positional filter, constant floor: |A∩B| ≤ m + min(sa−pa, sb−pb)
    val cand = matches
      .groupBy(col("id_a"), col("id_b"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("m"), max(col("ra")).as("pa"), max(col("rb")).as("pb"))
      .filter(col("m") + least(col("sa") - col("pa"), col("sb") - col("pb")) >= o)
      .select(col("id_a"), col("id_b"), col("sa"), col("sb"))
    overlapVerify(tok, cand, o)
  }

  /** [[overlapJoin]]'s certified hot-token HYBRID (round-17 verdict
    * task #1) — the scale-safe form of the exact small-floor overlap
    * join, whose candidate stage the sf1x rung proved quadratic
    * IN-STAGE (28.5 GB spill, 88× task time at 10× data, with shuffle
    * bytes reading linear: the Σc² prefix-collision stream is absorbed
    * by partial aggregation before any shuffle write).
    *
    * Token split at posting-list length `hotCap`: candidate generation
    * uses ONLY prefix entries whose element posts to ≤ hotCap sets, so
    * any element's candidate contribution is ≤ hotCap²/2 and the whole
    * candidate stream is ≤ (hotCap/2)·Σc — LINEAR in corpus size for a
    * fixed cap, where the exact form pays Σc² on a saturated
    * vocabulary. Verification stays exact over the FULL element sets
    * (hot elements count toward `inter` — only candidate GENERATION is
    * capped).
    *
    * RECALL CONTRACT (the pigeonhole argument, provable and measured by
    * [[overlapHybridAudit]]): under the global (frequency asc, element)
    * order, a qualifying pair's EARLIEST shared element sits in both
    * prefixes (the [[overlapJoin]] theorem). If that element is cold
    * (freq ≤ hotCap) the pair is generated; since the order is
    * frequency-ascending, a pair is MISSED only when its earliest —
    * i.e. RAREST — shared element is hot, which forces every shared
    * element hot and hence both sets to carry ≥ o hot elements each.
    * So: `n_docs_at_risk` (sets with ≥ o hot elements) < 2 in the audit
    * CERTIFIES hybrid ≡ exact on that corpus, and
    * `n_docs_at_risk·(n_docs_at_risk−1)/2` bounds the missed pairs
    * otherwise. OverlapHybridAdversarialSpec plants a pair whose entire
    * intersection is hot and pins that the exact join finds it, the
    * hybrid misses it, and the audit reports exactly that risk mass;
    * for hot-mass corpora where the missed containment pairs matter,
    * screen the hot side with q26's capped index or q29's banded LSH.
    *
    * No positional filter here: its bound needs `m` to count EVERY
    * shared element up to the last prefix match, and hot entries are
    * invisible to the cold-only join — a hot shared element below the
    * last cold match would undercount the bound and prune true pairs.
    * The cap already bounds the candidate stream the positional filter
    * existed to thin; verification is exact either way.
    *
    * Output schema and semantics otherwise identical to [[overlapJoin]]
    * (id_a < id_b, inter ≥ minOverlap, exact containment ppm).
    */
  def overlapJoinHybrid(elements: DataFrame, idCol: String, elemCol: String,
      minOverlap: Int, hotCap: Long): DataFrame = {
    require(minOverlap >= 1, s"minOverlap >= 1, got $minOverlap")
    require(hotCap >= 1, s"hotCap >= 1, got $hotCap")
    val o = minOverlap.toLong
    val (tok, ranked) = overlapRanked(elements, idCol, elemCol)
    // prefix under the FULL ordered set (rn, s count hot elements too —
    // the theorem's prefix bound is about positions in the whole set),
    // then the cold cut: only short posting lists enter the join
    val coldPrefix = ranked
      .filter(col("rn") <= col("s") - o + 1L && col("cnt") <= hotCap)
      .select(col("tok"), col("__id"), col("s"))
    val cand = coldPrefix.as("a").join(coldPrefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.s").as("sa"), col("b.s").as("sb"))
      .distinct()
    overlapVerify(tok, cand, o)
  }

  /** The measured certificate for [[overlapJoinHybrid]] (the q489
    * band-audit shape): one row quantifying exactly what the hot cap
    * excluded and the recall exposure that remains —
    *  - n_tokens / n_hot_tokens, posting_rows / hot_posting_rows: the
    *    vocabulary and index mass on each side of the cap;
    *  - pair_mass = Σ c(c−1)/2 over ALL tokens (what an uncapped
    *    inverted index would enumerate), hot_pair_mass = the same sum
    *    over hot tokens (the mass the cap refuses to pay),
    *    cand_pair_mass = Σ cp(cp−1)/2 over cold PREFIX posting lists
    *    (the stream the hybrid actually joins — the number whose sf1x
    *    growth must read linear);
    *  - n_docs_at_risk = sets carrying ≥ minOverlap hot elements — by
    *    the recall contract a missed pair needs BOTH endpoints here, so
    *    max_missed_pairs = at_risk·(at_risk−1)/2 and at_risk < 2
    *    certifies hybrid ≡ exact on this corpus.
    */
  def overlapHybridAudit(elements: DataFrame, idCol: String, elemCol: String,
      minOverlap: Int, hotCap: Long): DataFrame = {
    require(minOverlap >= 1 && hotCap >= 1)
    val o = minOverlap.toLong
    val (_, ranked) = overlapRanked(elements, idCol, elemCol)
    // per-token stats from the ranked rows: cnt repeats on each posting,
    // so aggregate per token first
    val freq = ranked.groupBy(col("tok")).agg(first(col("cnt")).as("c"))
    val tokStats = freq.agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("c") > hotCap, 1L).otherwise(0L)).as("n_hot_tokens"),
      sum(col("c")).as("posting_rows"),
      sum(when(col("c") > hotCap, col("c")).otherwise(0L)).as("hot_posting_rows"),
      sum(expr("(c * (c - 1)) div 2")).as("pair_mass"),
      sum(when(col("c") > hotCap, expr("(c * (c - 1)) div 2"))
        .otherwise(0L)).as("hot_pair_mass"))
    val candMass = ranked
      .filter(col("rn") <= col("s") - o + 1L && col("cnt") <= hotCap)
      .groupBy(col("tok")).agg(count(lit(1)).as("cp"))
      .agg(coalesce(sum(expr("(cp * (cp - 1)) div 2")), lit(0L))
        .as("cand_pair_mass"))
    val atRisk = ranked.filter(col("cnt") > hotCap)
      .groupBy(col("__id")).agg(count(lit(1)).as("n_hot"))
      .filter(col("n_hot") >= o)
      .agg(count(lit(1)).as("n_docs_at_risk"))
    tokStats.crossJoin(candMass).crossJoin(atRisk) // 1-row frames
      .withColumn("max_missed_pairs",
        expr("(n_docs_at_risk * (n_docs_at_risk - 1)) div 2"))
  }
}
