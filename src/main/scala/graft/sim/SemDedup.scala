package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Semantic deduplication over an embedding column — the SemDeDup
  * method (Abbas et al. 2023, arXiv:2303.09540): coarse-cluster the
  * corpus with a small quantizer, connect members whose pairwise
  * cosine clears a threshold into ε-clusters, and keep ONE document
  * per ε-cluster — the member LEAST similar to its coarse centroid
  * (the paper's choice: the kept exemplar is the most "edge of
  * cluster" sample, which preserves diversity better than keeping
  * the most typical one).
  *
  * Where [[Similarity.cosineNearDupPairs]] finds near-duplicate PAIRS
  * via hyperplane LSH (recall depends on band geometry), SemDeDup
  * trades that for exhaustive pairwise scoring WITHIN coarse
  * clusters: recall inside a cluster is exact, and the quadratic
  * blowup is bounded by the cluster size, which the caller controls
  * through `numCentroids` (size ~ N/C on balanced data; the paper
  * runs C = 11k on LAION-440M, ~40k per cluster).
  *
  * Scale shape, in order:
  *   1. centroid pick: deterministic id-modulo sample, same contract
  *      as [[Similarity.ivfTopK]] — the centroid COUNT is the
  *      parameter precisely so the set stays driver/plan-bounded.
  *   2. assignment: one fused codegen expression per row
  *      ([[graft.functions.NearestCentroids]]) — the corpus never
  *      joins or shuffles to learn its cluster.
  *   3. centroid cosine: broadcast join of the C-row centroid frame
  *      (cluster id equi-join) — corpus side stays where it is.
  *   4. pairs: self equi-join on the cluster id — ONE hash shuffle of
  *      the (id, norm, vec) projection, then per-cluster pairwise
  *      rescore. This is the step that is quadratic per cluster; size
  *      `numCentroids` so N/C stays in the ~10⁴–10⁵ band, or chain
  *      two levels of quantization before calling this. A skew guard
  *      ([[pairKeys]], bounded by `maxPairsPerCluster`) adaptively
  *      sub-splits any cluster whose candidate-pair count blows the
  *      budget, so one boilerplate mega-cluster cannot hang a task.
  *   5. ε-clusters: [[graft.text.DedupOps.connectedComponents]] over
  *      the pair sliver (docs in no pair never enter the loop).
  *   6. exemplar: one shuffle on the component key; keep = argmin by
  *      (centroid cosine ASC NULLS FIRST, id ASC) — a total,
  *      engine-portable order (oracle-pinned by q87).
  *
  * Cosines are rounded to `roundScale` decimals (floor(x·p+0.5)/p)
  * everywhere, matching the IVF/near-dup operators, so thresholds and
  * rankings are reproducible across engines. Zero-norm or null
  * vectors score null cosine: they join no pair (the threshold
  * filter drops nulls), stay their own singleton component, and are
  * KEPT — dedup must not silently eat undecodable rows.
  *
  * Returns every corpus row: (id, cluster, cos_c, component, rep_id,
  * keep). Filter `keep` for the deduplicated corpus; the rest is the
  * audit trail (which exemplar absorbed each dropped doc).
  */
object SemDedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Default pair budget: 2×10⁹ candidate pairs per join key (~65k
    * rows), the top of the paper's intended N/C ≈ 10⁴–10⁵ operating
    * band. A cluster at 1% of a 100 TB corpus is ~10⁹ rows → 10¹⁸
    * pairs in ONE merge-join key — the guard exists so that failure
    * mode splits instead of hanging a single task for a year. */
  val DefaultPairBudget: Long = 2000000000L

  private[sim] def rcos(p: Double)(v: Column, nv: Column, c: Column,
      nc: Column): Column =
    floor(when(nv > 0.0 && nc > 0.0, Similarity.dot(v, c) / (nv * nc))
      * p + 0.5) / p

  def semDedup(corpus: DataFrame, threshold: Double,
      numCentroids: Int = 256, idCol: String = "vec_id",
      vecCol: String = "embedding", roundScale: Int = 6,
      centroidStride: Long = 0L,
      maxPairsPerCluster: Long = DefaultPairBudget): DataFrame =
    run(corpus, threshold, numCentroids, idCol, vecCol, roundScale,
      centroidStride, pq = None, pairBudget = maxPairsPerCluster)

  /** [[semDedup]] with a PQ-compressed pair stage (SDC — symmetric
    * distance computation, Jégou et al. 2011 §III): the quadratic
    * in-cluster self-join moves `m` int codes + three scalars per row
    * instead of the d-float vector (~16 B + 24 B vs 8·d B — a 95%+
    * payload cut at d=64, more at real embedding widths), and each
    * candidate pair costs m lookups into a plan-literal m·k·k
    * centroid-dot table instead of d multiplies. A rigorous error
    * bound makes the prefilter EXACT-recall: with ea = ‖a−recon(a)‖₂
    * and rn = ‖recon‖₂ (both per-row narrow scalars),
    * |dot(a,b) − dot(recon a, recon b)| ≤ rn_a·e_b + e_a·rn_b +
    * e_a·e_b, so any pair whose true rounded cosine clears the
    * threshold also clears the slackened approximate test; survivors
    * are exactly re-scored (two shuffled-hash joins of the candidate
    * sliver back to the vectors), so the OUTPUT is bit-identical to
    * [[semDedup]] — the approximation buys bytes and FLOPs, never
    * recall (spec-pinned; q113 pins it against q87's oracle).
    *
    * `lowerBoundSkip` (VERDICT r18 #5, OPT-IN): the same bound
    * applied from BELOW marks pairs whose true cosine provably
    * clears the threshold plus the rounding grid — those ride the
    * rescore joins as narrow no-fetch rows (`!sure` as an extra join
    * condition: no checkpoint, no second self-join, no null-key
    * skew), cutting the mid-pipeline exchange payload from
    * |pairs|·d floats to |uncertain|·d. Output is bit-identical
    * either way (admissibility spec-pinned; SemLbSmoke asserts
    * end-to-end arm parity). It is OFF by default because the win is
    * NETWORK-bound: on local[32] page-cache shuffle the payload cut
    * is free anyway and the per-pair bookkeeping reads 1.0–1.4×
    * (measured matrix in BENCH_NOTES r19 — q113 parity, d=512 pile
    * parity, d=64 pile 1.37×), while on q113's noisy corpus the
    * band never certifies at ANY trainable codebook (census: sure =
    * 0/100k at m∈{4,8,16}, k∈{16,32} — recon error stays O(‖v‖), so
    * no SDC-table bound can prune there). Enable it on a real
    * cluster for wide-vector duplication-heavy corpora, where
    * |pairs|·d floats through two exchanges is the binding cost.
    *
    * When it wins — and when it does not (measured, BENCH_NOTES r14
    * A/B): the prefilter only pays when the uncertain band is small,
    * i.e. codebooks tight enough (large m·k) that the error margins
    * are narrow AND in-cluster near-dup density low enough that few
    * pairs land in the band. On the factor-100 amplified corpus
    * (~100× duplication, m=4/k=16) nearly every pair is a true
    * near-dup, the margin covers most of the cosine range, and the
    * rescore joins add two corpus-scale shuffles — the exact path
    * won 9×. [[semDedup]] therefore stays the default; this variant
    * is the opt-in for wide-vector, selective-threshold corpora. */
  def semDedupPq(corpus: DataFrame, threshold: Double,
      numCentroids: Int = 256, idCol: String = "vec_id",
      vecCol: String = "embedding", roundScale: Int = 6,
      centroidStride: Long = 0L, pqSubspaces: Int = 4,
      pqCodes: Int = 16, pqIters: Int = 1,
      maxPairsPerCluster: Long = DefaultPairBudget,
      lowerBoundSkip: Boolean = false): DataFrame =
    run(corpus, threshold, numCentroids, idCol, vecCol, roundScale,
      centroidStride, pq = Some((pqSubspaces, pqCodes, pqIters)),
      pairBudget = maxPairsPerCluster, lbSkip = lowerBoundSkip)

  private[sim] def run(corpus: DataFrame, threshold: Double,
      numCentroids: Int, idCol: String, vecCol: String,
      roundScale: Int, centroidStride: Long,
      pq: Option[(Int, Int, Int)], pairBudget: Long,
      lbSkip: Boolean = false): DataFrame = {
    val p = math.pow(10.0, roundScale)
    // corpus size, when this path computes it anyway (stride
    // derivation) — lets the pair guard free-pass without a job
    val nKnown: Long =
      if (centroidStride > 0L) -1L else corpus.count()
    val stride =
      if (centroidStride > 0L) centroidStride
      else math.max(1L, nKnown / math.max(1, numCentroids))
    val centRows = corpus.filter(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).cast("long").as("c_id"),
        col(vecCol).cast("array<double>").as("c_vec"))
      .collect()
    val base = corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("vec"))
      .withColumn("norm", sqrt(Similarity.dot(col("vec"), col("vec"))))
    if (centRows.isEmpty) {
      // no quantizer (empty corpus): every doc is its own exemplar —
      // the same degenerate answer the full dataflow yields on the
      // empty pair set, returned without spinning up the CC loop.
      return base.select(col("id"), lit(null).cast("long").as("cluster"),
        lit(null).cast("double").as("cos_c"),
        col("id").as("component"), col("id").as("rep_id"),
        lit(true).as("keep"))
    }
    val cIds = centRows.map(_.getLong(0)).toSeq
    val cVecs = centRows.map(_.getSeq[Double](1)).toSeq
    // Centroid vectors/norms ride the plan as LITERAL maps keyed by
    // centroid id (r22, guide §2.4): the broadcast centroid-cosine
    // join this replaced cost a SECOND scan of the corpus (the modulo
    // sliver re-filtered as a frame) plus a BroadcastExchange build
    // per run. C is parameter-bounded by invariant — the same bound
    // that lets the NearestCentroids kernel embed the full C×dim
    // matrix in the plan — so the lookup maps are plan-sized.
    // Arithmetic is bit-identical to the join form: the maps carry
    // the same double-cast vectors the centroid frame carried, the
    // norm is the same strict left-to-right Σx² + Math.sqrt the
    // sqrt(dot(c_vec, c_vec)) column computed, and rcos is unchanged.
    val cVecLit = map(cIds.zip(cVecs).flatMap { case (i, v) =>
      Seq(lit(i), array(v.map(lit): _*)) }: _*)
    val cNormLit = map(cIds.zip(cVecs).flatMap { case (i, v) =>
      var acc = 0.0; var j = 0
      while (j < v.length) { acc += v(j) * v(j); j += 1 }
      Seq(lit(i), lit(math.sqrt(acc)))
    }: _*)
    // Eager serialized checkpoint: `members` embeds the fused
    // nearest-centroid assignment (|C| dot products per row) and
    // feeds FOUR consumers — both sides of the pair self-join, the
    // CC node set, and the final labeling — which would otherwise
    // re-run the quantizer per consumer (the multi-action recompute
    // class VERDICT_r10 flagged in DSIR). The
    // checkpoint carries the embeddings, which step 4's join needs
    // resident anyway. `cluster` is staged as its own projection and
    // referenced three times below, so CollapseProject cannot
    // re-inline the kernel per consumer (the ClusterOps staging rule).
    val members = Materialize.checkpoint(base
      .withColumn("cluster", element_at(
        graft.functions.NearestCentroids.topIds(col("vec"), cIds, cVecs,
          1, roundScale), 1))
      .withColumn("c_vec", element_at(cVecLit, col("cluster")))
      .withColumn("c_norm", element_at(cNormLit, col("cluster")))
      .withColumn("cos_c",
        rcos(p)(col("vec"), col("norm"), col("c_vec"), col("c_norm")))
      .select("id", "vec", "norm", "cluster", "cos_c"))
    val keyed = pairKeys(members, pairBudget, roundScale,
      nTotalHint = nKnown)
    val pairs = pq match {
      case None => exactPairs(keyed, threshold, p)
      case Some((m, k, iters)) =>
        // Train on the members CHECKPOINT, not the raw corpus (r22):
        // members is exactly the corpus row set with vec unchanged
        // (narrow projections only), so the model is bit-identical,
        // and pqTrain's quantize pass reads the already-materialized
        // frame instead of re-scanning and re-casting the source.
        pqPairs(members, keyed, threshold, p, "id", "vec", m, k,
          iters, lbSkip)
    }
    // cluster/cos_c ride the CC relabel join as pass-through columns
    // (r21): the shuffle_hash join of members back onto the labeled
    // frame this replaced was a second corpus-sized exchange pair on
    // the same key the relabel already joins on.
    // NOT split into a labeled-sliver window + singleton branch (the
    // r22 fuzzyDedupDocsBest/canonicalMedia shape): `comp` here is
    // LAZY with one consumer, so the split needs a NEW corpus-sized
    // eager checkpoint to feed its two branches — measured at sf0.1
    // (QueryProbe, same session both ways): q87 floor 2.07 → 2.40
    // (+16%), q113 4.20 → 4.47, +1 job each — the materialization
    // costs more than the one exchange+sort it saves. The survivor
    // operators get the split for free because their labeled frame
    // is ALREADY checkpointed for other reasons.
    val comp = graft.text.DedupOps.connectedComponents(
      members.select(col("id"), col("cluster"), col("cos_c")), pairs)
    val w = Window.partitionBy(col("component"))
      .orderBy(col("cos_c").asc_nulls_first, col("id").asc)
    comp.withColumn("rep_id", first(col("id")).over(w))
      .withColumn("keep", col("id") === col("rep_id"))
  }

  /** Mega-cluster guard for the quadratic pair stage. Returns
    * `members` plus a `pk` pair-join key: identical to `cluster` when
    * every cluster's candidate-pair count n·(n−1)/2 fits `budget`
    * (the parity path — zero plan change beyond one narrow column),
    * and a refined composite key when any cluster exceeds it.
    *
    * Why: one boilerplate cluster holding 1% of a 100 TB corpus is
    * ~10⁹ rows → ~10¹⁸ candidate pairs landing on ONE merge-join key
    * — a single task that never finishes. The coarse quantizer is the
    * paper's own bound (N/C per cluster); the guard enforces it when
    * the data's skew defeats the parameter.
    *
    * Oversize policy — one extra quantizer level per pass, restricted
    * to the oversize clusters (the [[ClusterOps]] discipline, applied
    * with the SAME assignment function the coarse stage used):
    *   - seeds: the union of two families, each one map-side-combined
    *     aggregate over ONLY the oversize rows (collect ≤ 2·64·subK
    *     rows per pass): per (key, md5(id)-residue) class the member
    *     whose md5(id) sorts lowest — mass-proportional coverage,
    *     md5-ranked because ingest order correlates with content and
    *     id-ranked seeds would all come from one corner of the
    *     cluster — and per (key, depth-salted vector-hash) class the
    *     same pick, so every DISTINCT geometry contributes a seed (a
    *     key of one duplicate pile plus stragglers would otherwise
    *     draw every seed from the pile and be unsplittable;
    *     vector-class collisions re-roll per pass via the salt).
    *   - resolution: pass 1 assigns at the operator's `roundScale`;
    *     later passes escalate toward 12 decimals so near-identical
    *     rows stop tying with a pile — only byte-identical vectors
    *     remain inseparable, which is the set that must stay
    *     together. (Refined keys are never oracle-replayed, so the
    *     finer rounding costs no portability.)
    *   - assignment: [[graft.functions.NearestCentroids.topIds]]
    *     (rounded cosine, ties to smallest seed id) — the refined key
    *     is a FUNCTION OF THE VECTOR, so exact duplicates can never
    *     be separated by the guard (identical vectors score identical
    *     cosines against every seed and tie-break identically).
    *   - repeat until every key fits the budget or `maxDepth` passes
    *     are spent; each pass can shrink a key ~subK×, so 8 passes
    *     cover a 16⁸ ≈ 4×10⁹× overage.
    *
    * Semantics: rows split into different sub-keys are no longer
    * pairwise-compared — the same trade `numCentroids` itself makes,
    * applied adaptively where skew concentrated the corpus. The
    * output `cluster` column is NOT refined; only pair generation is.
    *
    * Documented refusal: a key that cannot be split (all residues
    * collapse to one seed, or the rows are geometrically identical —
    * identical vectors always co-assign BY DESIGN) still exceeding
    * the budget after `maxDepth` passes throws. The actionable fix is
    * upstream exact dedup (D1) — a mega-key of byte-identical vectors
    * is an exact-duplicate pile, not a semantic-dedup input. */
  private[sim] def pairKeys(members: DataFrame, budget: Long,
      roundScale: Int, subK: Int = 16, maxDepth: Int = 8,
      nTotalHint: Long = -1L): DataFrame = {
    if (budget <= 0L) return members.withColumn("pk", col("cluster"))
    // Job-free fast path: when the WHOLE corpus cannot exceed the
    // pair budget, no cluster can — the size is either already known
    // (the stride derivation counted the corpus) or one narrow count
    // on the checkpointed members, strictly cheaper than the keyed
    // size check it replaces. The shuffling groupBy below runs ONLY
    // on corpora big enough that the guard can actually matter.
    val nTotal =
      if (nTotalHint >= 0L) nTotalHint else members.count()
    if (nTotal <= 1L ||
        BigInt(nTotal) * (nTotal - 1) / 2 <= BigInt(budget))
      return members.withColumn("pk", col("cluster"))
    var fr = members.withColumn("pk", col("cluster").cast("string"))
    var refined = false
    var depth = 0
    while (true) {
      // limit(65): the pass refuses above 64 oversize keys anyway, so
      // the driver never collects more than 65 rows — without the
      // limit a pathological corpus (millions of slightly-over keys)
      // would flood the driver BEFORE the cap could fire.
      // The size test compares in DOUBLE space: n·(n−1)/2 as a long
      // multiply overflows above n ≈ 3.04e9 — exactly the mega-key
      // tail the guard exists for — and under ANSI would throw here
      // instead of splitting (ADVICE r18). A budget heuristic needs
      // no exactness near the threshold; n ≤ 65k keys are exact in
      // double anyway (< 2^53).
      val over = fr.groupBy("pk").count()
        .filter(col("count").cast("double") *
          (col("count").cast("double") - 1.0) / 2.0 >
          lit(budget.toDouble))
        .select(col("pk"), col("count")).limit(65).collect()
      if (over.isEmpty)
        return if (refined) fr else members.withColumn("pk", col("cluster"))
      if (depth >= maxDepth)
        throw new IllegalStateException(
          s"SemDedup pair guard: ${over.length} pair key(s) still above " +
          s"maxPairsPerCluster=$budget after $maxDepth split passes " +
          s"(largest: ${over.map(_.getLong(1)).max} rows). The rows are " +
          "geometrically inseparable (identical/near-identical vectors); " +
          "run exact dedup (D1) upstream or raise the budget.")
      require(over.length <= 64,
        "SemDedup pair guard: more than 64 oversize pair keys in one " +
        "pass (cap 64) — raise maxPairsPerCluster or numCentroids")
      log.warn(s"graft SemDedup: ${over.length} cluster key(s) exceed " +
        s"the $budget pair budget (largest ${over.map(_.getLong(1)).max} " +
        s"rows); sub-splitting (pass ${depth + 1}/$maxDepth)")
      val overKeys = over.map(_.getString(0)).toIndexedSeq
      val idMd5 = md5(col("id").cast("string"))
      val overFr = fr.filter(col("pk").isin(overKeys: _*))
      // Two seed families, unioned:
      //  - md5(id)-residue classes: mass-proportional coverage of the
      //    key (the workhorse split);
      //  - depth-salted VECTOR-hash classes: every distinct geometry
      //    contributes a seed. Without this family a key of one big
      //    duplicate pile plus a few stragglers can draw ALL its
      //    id-class seeds from the pile — every seed is the same
      //    vector, assignment cannot separate anything, and the key
      //    falsely "refuses" at maxDepth. Vector-class collisions
      //    re-roll each pass via the depth salt.
      val vecClass = pmod(conv(substring(md5(concat_ws(",",
          lit(depth.toString), col("vec").cast("array<string>"))),
          1, 8), 16, 10).cast("long"), lit(subK.toLong))
      val idClass = pmod(conv(substring(idMd5, 1, 8), 16, 10)
        .cast("long"), lit(subK.toLong))
      // Seed ids AND seed vectors collected in ONE pass (VERDICT r18
      // ask #4): min_by(struct(id, vec)) rides the vector along with
      // the winning id, so the guard's firing path reads the oversize
      // slice once per pass instead of re-filtering it for the seed
      // vectors. Collect stays ≤ 2·64·subK rows, now ~d doubles wider
      // each — still parameter-bounded.
      val seedStruct = struct(col("id"),
        col("vec").cast("array<double>").as("vec"))
      val seedRows = overFr
        .groupBy(col("pk"), idClass.as("__r"))
        .agg(min_by(seedStruct, idMd5).as("s"))
        .select(col("pk"), col("s.id").as("sid"), col("s.vec").as("svec"))
        .unionByName(overFr
          .groupBy(col("pk"), vecClass.as("__r"))
          .agg(min_by(seedStruct, idMd5).as("s"))
          .select(col("pk"), col("s.id").as("sid"),
            col("s.vec").as("svec")))
        .distinct()
        .collect()
      val seedIds: Map[String, IndexedSeq[Long]] =
        seedRows.groupBy(_.getString(0)).map { case (k, rs) =>
          k -> rs.map(_.getLong(1)).sorted.toIndexedSeq
        }
      val vecOf = seedRows
        .map(r => (r.getString(0), r.getLong(1)) -> r.getSeq[Double](2))
        .toMap
      // Pass 1 assigns at the operator's own roundScale; later passes
      // ESCALATE the resolution (up to 12 decimals). Why: at the
      // coarse scale a near-identical row ties with a duplicate
      // pile's cosine to every seed and co-assigns with it forever —
      // pass-2+ rounding separates everything except byte-identical
      // vectors, which is exactly the set that MUST stay together.
      // The refined keys are never oracle-replayed (only the parity
      // path is), so the finer rounding costs no portability.
      val passScale = math.min(12, roundScale + 3 * depth)
      val subExpr = overKeys.foldLeft(lit(null).cast("string")) { (acc, k) =>
        val ids = seedIds(k)
        when(col("pk") === lit(k), concat_ws("/", col("pk"),
          element_at(graft.functions.NearestCentroids.topIds(col("vec"),
            ids, ids.map(i => vecOf((k, i))), 1, passScale), 1)))
          .otherwise(acc)
      }
      // Checkpoint per pass: the refined frame feeds the next pass's
      // size check twice plus both sides of the pair self-join, and
      // the when-chain embeds |oversize| fused assignment kernels
      // that must not re-run per consumer.
      fr = Materialize.checkpoint(
        fr.withColumn("pk", coalesce(subExpr, col("pk"))))
      refined = true
      depth += 1
    }
    fr // unreachable
  }

  /** The reference pair stage: vectors ride the cluster self-join,
    * each pair pays a d-dim cosine. Joins on the guard's `pk` key
    * (== `cluster` unless a cluster blew the pair budget). */
  private def exactPairs(members: DataFrame, threshold: Double,
      p: Double): DataFrame = {
    val a = members.select(col("pk"), col("id").as("id_a"),
      col("vec").as("va"), col("norm").as("na"))
    val b = members.select(col("pk"), col("id").as("id_b"),
      col("vec").as("vb"), col("norm").as("nb"))
    a.join(b.hint("merge"), Seq("pk"))
      .filter(col("id_a") < col("id_b"))
      .filter(rcos(p)(col("va"), col("na"), col("vb"), col("nb"))
        >= threshold)
      .select("id_a", "id_b")
  }

  /** SDC pair stage: codes + error scalars ride the self-join; the
    * conservative bound admits every true pair (exact recall), the
    * exact rescore re-applies the true threshold on the sliver. */
  private[sim] def pqPairs(corpus: DataFrame, members: DataFrame,
      threshold: Double, p: Double, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, lbSkip: Boolean = false): DataFrame = {
    val model = PqOps.pqTrain(corpus, idCol, vecCol,
      subspaces = m, k = k, iters = iters)
    val scale = (1L << model.scaleBits).toDouble
    val off = 1L << (model.scaleBits + 1)
    // raw-domain reconstruction per (subspace, code): (centroid−off)/s
    val reconD: Array[Array[Array[Double]]] =
      model.codebook.map(_.map(_.map(c => (c - off) / scale)))
    // SDC table: tbl(s)(ja)(jb) = dot(recon(s,ja), recon(s,jb)), and
    // per-(s,code) recon norm² on its diagonal path — both literal.
    val tbl: Array[Array[Array[Double]]] =
      Array.tabulate(m, k, k) { (s, ja, jb) =>
        val a = reconD(s)(ja); val b = reconD(s)(jb)
        var d = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); i += 1 }
        d
      }
    val tblLit = array(tbl.map(sb => array(sb.map(row =>
      array(row.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*))
      .toIndexedSeq: _*)
    // Narrow per-row PQ metadata over the checkpointed members: codes
    // (plan-literal argmin), recon err ‖v−recon‖₂, recon norm ‖recon‖₂.
    // Materialized ONCE — both sides of the pair self-join read it,
    // and the per-row argmin (m·k·dsub interpreted HOF work) must not
    // recompute per consumer (measured 2× ≈ 10 s at the sf0.1 bench
    // point). The checkpointed projection carries only attributes and
    // scalars sized ~50 B/row.
    val slim = Materialize.checkpoint(PqOps.withPqMeta(members, "vec", model)
      .select(col("pk"), col("id"), col("norm"),
        col("__codes"), col("__pqerr"), col("__pqnorm")))
    val a = slim.select(col("pk"), col("id").as("id_a"),
      col("norm").as("na"), col("__codes").as("ca"),
      col("__pqerr").as("ea"), col("__pqnorm").as("ra"))
    val b = slim.select(col("pk"), col("id").as("id_b"),
      col("norm").as("nb"), col("__codes").as("cb"),
      col("__pqerr").as("eb"), col("__pqnorm").as("rb"))
    // Unrolled over the m subspaces: plain element_at chains stay in
    // whole-stage codegen; an aggregate-over-sequence HOF evaluates
    // interpreted per pair (measured 22 s at the sf0.1 bench point).
    val sdcDot = (0 until m).map { s =>
      element_at(element_at(element_at(tblLit, s + 1),
        element_at(col("ca"), s + 1) + 1),
        element_at(col("cb"), s + 1) + 1)
    }.reduce(_ + _)
    // Exact-recall slack. The exact path admits any pair whose TRUE
    // cosine >= threshold − 0.5/p (round-half-up on the 1/p grid),
    // and the prefilter compares in DOT units (÷ na·nb happens before
    // the threshold), so the rounding-grid slack must be scaled by
    // the norm product: an absolute 1/p only covers na·nb ≤ 2 and
    // silently drops boundary pairs for larger norms (ADVICE r14).
    // The quantization bound Q = rn_a·e_b + e_a·rn_b + e_a·e_b
    // (×(1+1e-12) fp headroom) sandwiches the true dot BOTH ways:
    //   |dot(a,b) − sdcDot| ≤ Q
    // so the SAME table gives two admissible tests (VERDICT r18 #5):
    //   admit (upper): sdcDot + Q + grid·na·nb ≥ thr·na·nb — any
    //     true pair survives (exact recall, as before);
    //   sure (lower):  sdcDot − Q ≥ (thr + 0.5/p + eps)·na·nb — the
    //     true cosine provably clears the rounding grid ABOVE thr,
    //     so the pair's exact rescore cannot fail and is SKIPPED.
    // Only the uncertain band (admitted, not sure) pays the two
    // vector-fetch joins — on a duplication-amplified corpus (true
    // cosines ≈ 1 ≫ thr) that band is a sliver, which is where the
    // r14 A/B's 9× exact-path win actually lived.
    val qBound = (col("ra") * col("eb") + col("ea") * col("rb") +
      col("ea") * col("eb")) * lit(1.0 + 1e-12)
    val margin = qBound +
      (lit(0.5 / p) + lit(1e-9)) * col("na") * col("nb")
    val admit = col("na") > 0.0 && col("nb") > 0.0 &&
      (sdcDot + margin) / (col("na") * col("nb")) >= threshold
    val sure = sdcDot - qBound >= (lit(threshold) + lit(0.5 / p) +
      lit(1e-9)) * col("na") * col("nb")
    val joined = a.join(b.hint("merge"), Seq("pk"))
      .filter(col("id_a") < col("id_b"))
    // exact rescore sides — corpus-derived, strategy-pinned, never
    // size-estimate broadcast
    val va = members.select(col("id").as("__ia"), col("vec").as("va"),
      col("norm").as("__nra"))
    val vb = members.select(col("id").as("__ib"), col("vec").as("vb"),
      col("norm").as("__nrb"))
    if (!lbSkip) {
      // default path: admit-then-rescore-everything — the measured
      // winner on shuffle-cheap (local/page-cache) execution; see
      // the lowerBoundSkip scaladoc + BENCH_NOTES r19 matrix
      val cand0 = joined.filter(admit).select("id_a", "id_b")
      return cand0
        .join(va.hint("shuffle_hash"), cand0("id_a") === va("__ia"))
        .join(vb.hint("shuffle_hash"), cand0("id_b") === vb("__ib"))
        .filter(rcos(p)(col("va"), col("__nra"), col("vb"), col("__nrb"))
          >= threshold)
        .select("id_a", "id_b")
    }
    // Sure pairs skip the vector fetch INSIDE one pipeline: `!sure`
    // rides each equi-join as an extra condition, so a sure pair
    // hash-partitions normally (no null-key skew), probes nothing,
    // and crosses both exchanges as a ~25 B narrow row with NULL
    // vector columns — while an uncertain pair fetches its vectors
    // exactly as before. The final filter `sure OR rcos ≥ thr` is
    // then exact on the uncertain band and constant-true on the sure
    // band. One dataflow: no checkpoint, no second self-join (the
    // split-and-union formulations measured 2–2.5× this shape at
    // f50 — BENCH_NOTES "r19: SDC lower-bound rescore skip"), and the
    // mid-pipeline exchange payload drops
    // from |pairs|·d floats to |uncertain|·d.
    val cand = joined.filter(admit)
      .select(col("id_a"), col("id_b"), sure.as("__sure"))
    cand
      .join(va.hint("shuffle_hash"),
        cand("id_a") === va("__ia") && !cand("__sure"), "left")
      .join(vb.hint("shuffle_hash"),
        cand("id_b") === vb("__ib") && !cand("__sure"), "left")
      .filter(col("__sure") ||
        rcos(p)(col("va"), col("__nra"), col("vb"), col("__nrb"))
          >= threshold)
      .select("id_a", "id_b")
  }
}
