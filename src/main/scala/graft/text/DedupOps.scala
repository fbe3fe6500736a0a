package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.operators.{BucketPairs, Materialize, UnionFind}

/** Corpus-scale deduplication operators.
  *
  * Four tiers, in increasing recall / cost:
  *  1. exact (fingerprint group-by) — one shuffle on a 128-bit hash;
  *  2. n-gram Jaccard — shingle-bucket join, exact similarity on
  *     candidates only;
  *  3. MinHash + LSH — banding turns near-dup search into an equi-join
  *     on band keys: at 100 TB the only shuffle is on (band, key),
  *     candidate verification stays per-pair;
  *  4. SimHash — constant-size signature, hamming-ball lookup.
  *
  * All hashing is md5-derived (see [[TextOps.seededHash32]]) so
  * signatures are engine-portable and deterministic across runs —
  * no JVM hash seeds, no RNG state.
  */
object DedupOps {

  import org.apache.spark.sql.expressions.Window

  /** k-shingle table: (id, shingle) rows, distinct per doc — one
    * NARROW explode of the fused [[graft.functions.DistinctShingles]]
    * kernel (short docs collapse to one whole-doc shingle, tokenless
    * docs emit nothing; same set as the `lead`-window + distinct
    * construction this replaced, which paid TWO corpus-wide shuffles
    * — the per-doc window and the (id, shingle) distinct — to
    * compute a pure per-doc function; an HOF `transform`/`slice`
    * formulation was also measured and rejected, ~5x slower than the
    * window form from per-element interpretation). Consumers get
    * shingle rows straight off the scan. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, k: Int)
      : DataFrame =
    docs.select(col(idCol).as("id"),
        TextOps.tokens(col(textCol)).as("__tk"))
      .select(col("id"),
        explode(graft.functions.MinhashKernel.distinctShingles(
          col("__tk"), k)).as("shingle"))

  /** Exact duplicate groups by normalized fingerprint: one row per
    * duplicated fingerprint with the canonical (min) doc id. */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))
      .filter(col("n_docs") > 1)

  /** Candidate pairs sharing at least one k-shingle, with exact Jaccard
    * similarity over distinct shingle sets. Returns (id_a, id_b,
    * n_shared, n_a, n_b, jaccard) with id_a < id_b.
    *
    * Scale: the join key is the shingle hashed to an xxhash64 long —
    * shuffle rows carry 8 bytes instead of a k-word string, and the
    * set-intersection counts are unchanged short of a 64-bit collision
    * (probability ~n²/2⁶⁵ — production posting-list pipelines make the
    * same trade). Frequency-capped via `maxShingleFreq` to drop
    * degenerate buckets (stopword shingles) exactly like production
    * near-dup pipelines cap posting lists.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minJaccard: Double, maxShingleFreq: Long = 1000L)
      : DataFrame = {
    // Checkpoint the shingle table: it feeds both sides of the pair
    // join plus the size aggregate. Shingles are
    // hashed to longs BEFORE the checkpoint, so the materialized table
    // (and every shuffle fed from it) never carries shingle text.
    val sh = Materialize.checkpoint(shingleRows(docs, idCol, textCol, k)
      .select(col("id"), xxhash64(col("shingle")).as("shingle")))
    // sh is distinct per (id, shingle) by construction, so plain count
    // (map-side combinable) equals countDistinct without its extra
    // dedup shuffle.
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    // Corpus-derived sides are strategy-PINNED (the factor-1000
    // ngram run proved why: the unpinned downstream joins here were
    // planned as BroadcastHashJoin off post-aggregation estimates and
    // collected a multi-GB side into the driver at 5M docs). Size
    // attach: shuffled-hash (two longs per doc, per-partition
    // bounded) — never an estimate-driven broadcast.
    // The capped shingle table is checkpointed once for both join
    // sides: a warm-JVM alternating A/B at sf0.1 (4 rounds each) read
    // min 2.64 s / median 2.75 s with it, 2.71 / 2.82 without.
    val pairs = BucketPairs(sh, Seq("shingle"), Some(maxShingleFreq),
        stage = Materialize.checkpoint(_))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("n_sh", "n_a").hint("shuffle_hash"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("n_sh", "n_b").hint("shuffle_hash"), "id_b")
      .withColumn("jaccard",
        col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared")))
      .filter(col("jaccard") >= minJaccard)
  }

  /** k-token sliding-window hash table: (id, pos, wh) with one row per
    * FULL window (docs shorter than k tokens contribute nothing —
    * unlike [[shingleRows]] there is no whole-doc fallback, and
    * windows are NOT distinct-ed: position identity is the point).
    * Windows come NARROWLY from the fused
    * [[graft.functions.PositionedWindows]] kernel — the `lead`-window
    * construction it replaced paid a corpus-wide per-doc shuffle for
    * a pure per-doc function — and are hashed by codegen'd column
    * expressions after the explode. `portableHash = false` (default)
    * keys windows by xxhash64 — 8-byte LONG shuffle rows, the scale
    * path (the key type differs between variants on purpose: widening
    * the long to match the md5 path's string would ~2.5x every
    * shuffle row for nothing — `wh` never leaves this file); `true`
    * keys by the first 16 md5 hex chars (64-bit), bit-reproducible in
    * any engine for oracle checking. Either way a hash collision can
    * flag a false duplicate window (~2⁻⁶⁴ per pair);
    * exactness-critical pipelines should verify flagged spans by text
    * comparison within dup groups. */
  private def windowRows(docs: DataFrame, idCol: String, textCol: String,
      k: Int, portableHash: Boolean): DataFrame = {
    require(k >= 1, s"window size k = $k")
    val wh = if (portableHash) substring(md5(col("pw.w")), 1, 16)
      else xxhash64(col("pw.w"))
    docs.select(col(idCol).as("id"),
        TextOps.tokens(col(textCol)).as("__tk"))
      .select(col("id"),
        explode(graft.functions.MinhashKernel.positionedWindows(
          col("__tk"), k)).as("pw"))
      .select(col("id"), col("pw.pos").as("pos"), wh.as("wh"))
  }

  /** Duplicated-span detection — token-granularity ExactSubstr dedup
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"): any k-token window whose hash occurs ≥ `minOcc`
    * times corpus-wide (counting repeats WITHIN a doc too) is a
    * duplicated window; overlapping/adjacent duplicated windows in a
    * doc merge into maximal spans. Returns one row per span:
    * (idCol, span_start, span_end, dup_windows) with token offsets,
    * end exclusive. The reference pipeline has no counterpart — this
    * is the substring-level modality alongside the doc-level tiers
    * above, and the per-occurrence flagging matches the paper's
    * ExactSubstr (ALL occurrences flag, not all-but-one).
    *
    * Scale shape: suffix arrays don't distribute; sliding-window
    * hashing does. The window table is linear in corpus token count
    * and is checkpointed serialized once (it feeds both the
    * occurrence count and the join-back). The dup-hash set is
    * CORPUS-DERIVED — it scales with the data, so the semi-join is
    * pinned SHUFFLE_HASH exactly like [[ngramJaccardPairs]]'s shared
    * set (AQE's broadcast conversion looks right at test SF and
    * becomes a driver-resident multi-GB build at 100×). The islands
    * merge windows per doc id — per-doc state only. */
  def dupSpans(docs: DataFrame, k: Int, minOcc: Long = 2L,
      idCol: String = "doc_id", textCol: String = "text",
      portableHash: Boolean = false): DataFrame = {
    val win = Materialize.checkpoint(
      windowRows(docs, idCol, textCol, k, portableHash))
    val dupSet = win.groupBy("wh").agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= minOcc)
      .select("wh")
      .hint("shuffle_hash")
    val dw = win.join(dupSet, Seq("wh"), "left_semi")
    val w = Window.partitionBy("id").orderBy("pos")
    dw.withColumn("b",
        when(col("pos") - lag("pos", 1).over(w) <= k, 0L).otherwise(1L))
      .withColumn("g", sum("b").over(w))
      .groupBy(col("id"), col("g"))
      .agg(min("pos").as("span_start"),
        (max("pos") + k).as("span_end"),
        count(lit(1)).as("dup_windows"))
      .select(col("id").as(idCol), col("span_start"),
        col("span_end"), col("dup_windows"))
  }

  /** Rebuild each document's normalized token stream with every
    * [[dupSpans]] span removed — ALL flagged occurrences drop,
    * including the first (the paper's ExactSubstr choice; it notes
    * the difference from keep-one is negligible at corpus scale).
    * Returns (idCol, clean_text) for EVERY input doc — untouched docs
    * pass their normalized token stream through, fully-covered docs
    * come back as "". Note the output is the NORMALIZED stream
    * ([[TextOps.tokens]]), not the original byte text: span offsets
    * are token positions, and token-space surgery is the
    * whitespace/case-insensitive semantics every hash in this file
    * already uses.
    *
    * Scale shape: one [[dupSpans]] pass, then tokens left-anti-join
    * spans (id equi-join + positional range residual — per-doc work),
    * and per-doc reassembly via sorted collect_list (state bounded by
    * doc length, the same bound every per-doc operator here has). */
  def removeDupSpans(docs: DataFrame, k: Int, minOcc: Long = 2L,
      idCol: String = "doc_id", textCol: String = "text",
      portableHash: Boolean = false): DataFrame = {
    val spans = dupSpans(docs, k, minOcc, idCol, textCol, portableHash)
      .select(col(idCol).as("id"), col("span_start"), col("span_end"))
    val tok = docs.select(col(idCol).as("id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
    val kept = tok.alias("t").join(spans.alias("s").hint("merge"),
        col("t.id") === col("s.id")
          && col("t.pos") >= col("s.span_start")
          && col("t.pos") < col("s.span_end"),
        "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(expr("array_join(transform(" +
        "array_sort(collect_list(struct(pos, tok))), x -> x.tok), ' ')")
        .as("clean_text"))
    docs.select(col(idCol).as("id"))
      .join(rebuilt.hint("merge"), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** MinHash signatures: (id, h0..h_{n-1}) — one row per doc with at
    * least one token. Computed NARROWLY by the fused
    * [[graft.functions.MinhashKernel]] expression (distinct shingle
    * set + packed-md5 minima per doc, values bit-identical to the
    * relational seededHash32Packed formulation this replaced). The
    * signature is a pure per-doc function of the token stream, but
    * the relational form paid three corpus-wide shuffles to compute
    * it — the shingle window (partitionBy id), the (id, shingle)
    * distinct, and the groupBy(id) min fold. Now the first exchange
    * of the whole MinHash-LSH chain is the band-key join itself. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int, n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        TextOps.tokens(col(textCol)).as("__tk"))
      // tokenless docs produce no signature row (relational parity).
      // Filtered HERE on the token array, not on sig IS NOT NULL
      // downstream: predicate pushdown substitutes project aliases
      // into pushed filter conditions, which would re-evaluate the
      // kernel once for the filter and once per consumer.
      .filter(size(col("__tk")) >= 1)
      .select(col("id"),
        graft.functions.MinhashKernel.signature(col("__tk"), k, n)
          .as("__sig"))
      .select(col("id") +:
        (0 until n).map(i => col("__sig").getItem(i).as(s"h$i")): _*)

  /** LSH band-key table: (id, band, key) — one row per (doc, band),
    * band key = md5 of the band's joined signature values. The
    * narrow substrate of every MinHash banding consumer (self-join
    * candidates, cross-corpus dedup, streaming buckets). */
  def minhashBandKeys(docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, rows: Int): DataFrame =
    minhashSignatures(docs, idCol, textCol, k, bands * rows)
      .select(col("id"), explode(array(
        (0 until bands).map { b =>
          struct(lit(b).as("band"),
            md5(concat_ws(",", (0 until rows).map(r =>
              col(s"h${b * rows + r}").cast("string")): _*)).as("key"))
        }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.key").as("key"))

  /** MinHash/LSH candidate pairs: docs sharing >= 1 of `bands` band
    * keys (signature length = bands*rows). Returns (id_a, id_b,
    * n_shared_bands). The band-key equi-join is the only shuffle
    * touching pairs; band keys are md5 of the joined band values.
    *
    * `maxBandFreq` caps LSH bucket size: a degenerate band key held
    * by m docs yields m² pairs out of the self-join (the boilerplate-
    * heavy-corpus failure mode at 100 TB — one hot bucket of 10⁶
    * docs is 10¹² candidate pairs), so buckets larger than the cap
    * are dropped wholesale before pairing, exactly as the q33 LSH-ANN
    * oversize-bucket cap and production posting-list caps do. The
    * default is a no-op (plans are unchanged when uncapped). */
  def minhashCandidatePairs(docs: DataFrame, idCol: String,
      textCol: String, k: Int, bands: Int, rows: Int,
      maxBandFreq: Long = Long.MaxValue): DataFrame = {
    // feeds both sides of the candidate-pair self-join
    val banded = Materialize.checkpoint(
      minhashBandKeys(docs, idCol, textCol, k, bands, rows))
    BucketPairs(banded, Seq("band", "key"),
        Some(maxBandFreq).filter(_ != Long.MaxValue))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Cross-snapshot near-dedup — dedup an INCOMING batch against an
    * existing REFERENCE corpus (each new crawl snapshot against
    * everything already ingested, the RefinedWeb/Dolma snapshot
    * workflow): an incoming doc is flagged iff it shares at least
    * one LSH band key with ANY reference doc. The batch counterpart
    * of [[graft.streaming.IncrementalNearDup]]'s state-store probe
    * (same kernel signatures and band keys, so batch and streaming
    * verdicts agree on identical corpora).
    *
    * Scale shape: both band tables are narrow kernel scans; the one
    * shuffle is the (band, key) LEFT SEMI join, with the reference
    * side reduced to DISTINCT keys first (map-side combinable) and
    * SHUFFLE_HASH-pinned — the reference is corpus-sized and must
    * never ride an AQE broadcast that only fits at test SF.
    *
    * Returns every incoming row: (idCol, dup_against_ref) —
    * keep-flag convention; filter `!dup_against_ref` to admit. */
  def nearDupAgainst(incoming: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, k: Int = 3, bands: Int = 4,
      rows: Int = 2): DataFrame = {
    val incB = minhashBandKeys(incoming, idCol, textCol, k, bands, rows)
    val refKeys = minhashBandKeys(reference, idCol, textCol, k, bands,
        rows)
      .select("band", "key").distinct()
    val flagged = incB
      .join(refKeys.hint("shuffle_hash"), Seq("band", "key"),
        "left_semi")
      .select(col("id")).distinct()
    incoming.select(col(idCol).cast("long").as(idCol))
      .join(flagged.select(col("id").as(idCol))
        .withColumn("__hit", lit(true)).hint("shuffle_hash"),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__hit"), lit(false)).as("dup_against_ref"))
  }

  /** Estimated MinHash Jaccard for given pairs: fraction of equal
    * signature positions. `pairs` must have id_a/id_b columns. */
  def minhashEstimate(pairs: DataFrame, sigs: DataFrame): DataFrame =
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .hint("merge"), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
        .hint("merge"), "id_b")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), b => b)).cast("double") / size(col("sig_a")))

  /** Connected components over candidate pairs: every node is labeled
    * with the minimum id reachable through the pair graph (its dedup
    * cluster's canonical id); a node in no pair is its own component.
    * Extra `nodes` columns pass through, so a caller that carries a
    * payload needs no second join; `markLabeled` adds `__labeled`.
    *
    * Only the edge sliver (pairs and their endpoints) is labeled; one
    * job fills its lazy checkpoint and counts its edges, and the count
    * picks one of two paths:
    *  - union-find ([[graft.operators.UnionFind]]): when the edges fit
    *    one task's execution-memory share
    *    ([[graft.operators.UnionFind.taskShare]], derived from the
    *    executor memory, `spark.memory.fraction` and the task slots;
    *    no knob) and the ids are integral, one task reads every edge
    *    through a narrow `coalesce(1)` and labels the endpoints. One
    *    more job, whatever the graph's diameter; its arrays are
    *    accounted execution memory, so a graph that outgrows the
    *    estimate fails by name and never returns partial labels;
    *  - label-propagation rounds, for graphs that do not fit: each
    *    round's hop takes the min label over a node's closed
    *    neighborhood and, from round 3, a pointer jump adopts the
    *    label's own label, so the loop converges in O(log diameter)
    *    rounds; `maxIters` bounds them and a graph that needs more
    *    fails loudly rather than being mislabeled.
    * Both give the same labels, in the ids' (widened) type. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxIters: Int = 10, markLabeled: Boolean = false): DataFrame =
    components(nodes, pairs, maxIters, markLabeled,
      UnionFind.taskShare(pairs.sparkSession))._1

  /** [[connectedComponents]] under a task-memory `budget` in bytes,
    * with the label-propagation rounds it ran: 0 when the edges fit
    * `budget` and the union-find task labeled them. */
  private[graft] def components(nodes: DataFrame, pairs: DataFrame,
      maxIters: Int, markLabeled: Boolean,
      budget: Long): (DataFrame, Int) = {
    val carry = nodes.columns.filter(_ != "id").toSeq
    require(!carry.contains("c") && !carry.contains("component") &&
      !carry.contains("__labeled"),
      "connectedComponents: nodes must not carry 'c'/'component'/" +
      "'__labeled' columns")
    // the pair pipeline runs once: every later read is of this sliver
    val half = Materialize.checkpoint(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
      eager = false)
    val n = countRows(half)
    Materialize.requireFilled(half)
    val types = Seq(half.schema("src").dataType, half.schema("dst").dataType)
    val integral = types.forall {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val (labels, rounds) =
      if (integral && UnionFind.fits(n, budget))
        (Materialize.checkpoint(UnionFind(half, n, types.maxBy(_.defaultSize))),
          0)
      else propagate(half, maxIters)
    Materialize.release(half)
    // Relabel the full node set lazily — the big table is never
    // materialized here. labels is corpus-derived (edge-endpoint-sized):
    // the build side is strategy-PINNED shuffle_hash — an AQE broadcast
    // that fits at test SF would be a driver-resident blowup at 100×.
    val relabeled = nodes
      .join(labels.withColumnRenamed("component", "c")
        .hint("shuffle_hash"), Seq("id"), "left")
    val outCols = (col("id") +: carry.map(col)) :+
      coalesce(col("c"), col("id")).as("component")
    // `__labeled` ⇔ the id is an edge endpoint ⇔ its component has ≥ 2
    // members (every member of a multi-node component touches an edge;
    // a node in no pair is its own singleton). Survivor policies use it
    // to run their per-component exemplar stage over ONLY the labeled
    // sliver — singletons are their own survivor with zero shuffle —
    // instead of exchanging the whole corpus on the component key.
    val out =
      if (markLabeled)
        relabeled.select(outCols :+ col("c").isNotNull.as("__labeled"): _*)
      else relabeled.select(outCols: _*)
    (out, rounds)
  }

  /** Rows of `df`, counted in ONE job over every partition — which is
    * also what completes a lazy checkpoint of `df`. */
  private def countRows(df: DataFrame): Long =
    df.sparkSession.sparkContext.runJob(df.queryExecution.toRdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        var c = 0L
        while (it.hasNext) { it.next(); c += 1 }
        c
      }).sum

  /** The rounds path of [[connectedComponents]] over the checkpointed
    * `half` edges: (id, component) for every endpoint, checkpointed,
    * and the rounds it took. */
  private def propagate(half: DataFrame, maxIters: Int): (DataFrame, Int) = {
    // Each round's frame is checkpointed rather than cached: an
    // iterative dataflow must CUT LINEAGE each round, or each round's
    // plan embeds the previous round's twice over and Catalyst
    // re-analysis grows exponentially with the iteration count.
    //
    // Symmetrized edges, hash-partitioned on dst ONCE and CACHED:
    // every round's neighbor join keys on dst, and round 1's
    // min-neighbor aggregate keys on dst as well (the edge list is
    // symmetric, so groupBy(dst).min(src) ≡ groupBy(src).min(dst)), so
    // one exchange serves the whole loop instead of one re-exchange of
    // this static table per round. A cache, because a checkpoint loses
    // the dst partitioning; the cached plan reads the half checkpoint,
    // so nothing of the pair pipeline re-enters any round's plan.
    val edges = Materialize.cache(half.union(
        half.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(half.sparkSession.sessionState.conf.numShufflePartitions,
        col("dst")))
    var labels: DataFrame = null
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      // One round = one aggregation: each node's next label is the min
      // over {its own label} ∪ {neighbors' labels}; the self labels
      // ride the neighbor stream, so the round is one map-side-
      // combinable shuffle on id, and `own` carries the convergence
      // signal (min(neighbor) < own ⇒ not converged).
      val hop =
        if (iter == 0)
          // labels start as the identity (component = id), so the
          // neighbor join against them IS the edge list: round 1 is
          // one aggregation over the edges, keyed on their dst
          // partitioning, with no join and no exchange
          edges.groupBy(col("dst").as("id"))
            .agg(min(col("src")).as("__mn"))
            .select(col("id"),
              least(col("id"), col("__mn")).as("component"),
              col("id").as("own"))
        else {
          // labels is edge-endpoint-sized: the build side is PINNED
          // shuffle_hash, never an AQE size-estimate broadcast
          val viaNeighbors = edges
            .join(labels.withColumnRenamed("id", "dst")
              .withColumnRenamed("component", "n_comp")
              .hint("shuffle_hash"), Seq("dst"))
            .select(col("src").as("id"), col("n_comp"),
              lit(null).cast(labels.schema("component").dataType)
                .as("own"))
          val self = labels.select(col("id"),
            col("component").as("n_comp"), col("component").as("own"))
          viaNeighbors.union(self)
            .groupBy("id")
            .agg(min(col("n_comp")).as("component"),
                 min(col("own")).as("own"))
        }
      // LAZY checkpoint + one counting job: the job both fills the
      // round's checkpoint and returns the changed count, with no
      // exchange. The test reads the PRE-jump frame: a hop that moved
      // no label means labels are constant per component (stable under
      // every edge), so the jump is the identity there.
      val ck = Materialize.checkpoint(hop, eager = false)
      converged = countRows(ck.filter(col("component") < col("own"))) == 0
      Materialize.requireFilled(ck)
      // Pointer jump: adopt my label's label. Labels are node ids, so
      // the label's own row is in `ck`; the left join + coalesce only
      // guards the (impossible under symmetrized edges) missing case.
      // A hop moves the min one edge; the jump halves the remaining
      // pointer depth. It engages only from round 3: clique-union
      // graphs (the near-dup norm) converge in <= 2 plain hops. A
      // converged round skips it (it is the identity there). Both
      // join sides read the round's checkpoint, so the build side is
      // PINNED shuffle_hash. A double jump (L⁴ per round) did not cut
      // the SemDedup ε-graph's rounds, which are bound by
      // min-propagation across edges, not by pointer chains.
      val next =
        if (iter < 2 || converged) ck
        else ck
          .join(ck.select(col("id").as("component"),
            col("component").as("cc")).hint("shuffle_hash"),
            Seq("component"), "left")
          .select(col("id"),
            coalesce(col("cc"), col("component")).as("component"),
            col("own"))
      labels = next.select(col("id"), col("component"))
      iter += 1
    }
    // the loop is the only consumer of the cached edges
    Materialize.release(edges)
    require(converged,
      s"connectedComponents did not converge in $maxIters rounds")
    (labels, iter)
  }

  /** Canonical-document selection: keep the minimum-id doc of every
    * dedup cluster (the standard "drop near-duplicates" step). */
  def canonicalDocs(nodes: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponents(nodes, pairs)
      .filter(col("id") === col("component"))
      .select(col("id"))

  /** Benchmark-contamination detection: corpus documents sharing at
    * least `minShared` distinct k-shingles with any eval-set document
    * — the pre-training hygiene check that keeps test sets out of the
    * training corpus. The eval set is tiny by nature, so its shingle
    * table BROADCASTS and the check is one broadcast join riding the
    * corpus shingle scan: the 100 TB side never shuffles. Output:
    * (corpus id, eval_id, n_shared), one row per contaminated pair. */
  def contamination(corpus: DataFrame, corpusId: String,
      corpusText: String, evalDf: DataFrame, evalId: String,
      evalText: String, k: Int, minShared: Long): DataFrame = {
    // shingleRows (the fused DistinctShingles kernel), not an HOF
    // array expression: higher-order transforms are interpreted per
    // element — the same reason ngramJaccardPairs uses it. The corpus
    // shingle stream here is narrow all the way into the broadcast
    // join.
    val cs = shingleRows(corpus, corpusId, corpusText, k)
      .withColumnRenamed("id", corpusId)
    val es = shingleRows(evalDf, evalId, evalText, k)
      .withColumnRenamed("id", "eval_id")
    cs.join(broadcast(es), Seq("shingle"))
      .groupBy(col(corpusId), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Decontamination by removal: drop every corpus doc that shares
    * >= `minShared` k-shingles with ANY document of a (bounded,
    * broadcast) eval set — the enforcement half of [[contamination]]
    * (the reporting half). Returns the surviving corpus rows with all
    * their original columns.
    *
    * Scale shape: the flag side reuses [[contamination]]'s dataflow
    * (eval shingles broadcast, so only corpus rows that MATCH an eval
    * shingle ever shuffle), and the removal is a left-anti join
    * against the flagged-id set pinned SHUFFLE_HASH — the flagged set
    * is corpus-derived (it grows with the corpus's contamination
    * rate), and letting AQE broadcast a corpus-derived side is the
    * exact defect the factor-100 smoke caught in
    * [[ngramJaccardPairs]]. Net: one corpus shuffle on the id,
    * bounded build sides everywhere.
    */
  def decontaminate(corpus: DataFrame, corpusId: String,
      corpusText: String, evalDf: DataFrame, evalId: String,
      evalText: String, k: Int, minShared: Long): DataFrame = {
    val flagged = contamination(corpus, corpusId, corpusText,
        evalDf, evalId, evalText, k, minShared)
      .select(col(corpusId)).distinct()
    corpus.join(flagged.hint("shuffle_hash"), Seq(corpusId), "left_anti")
  }

  /** 16-bit SimHash table: (id, sh) — word 0 of the fused
    * [[graft.functions.SimhashKernel]] signature, computed NARROWLY
    * (no token explode, no vote shuffle, no join-back; values
    * bit-identical to the relational 16-conditional-sum-votes
    * formulation this replaced, and to [[TextOps.simhash16]]). Docs
    * with no tokens get all bits set (vote 0 >= 0); a null token
    * array (null text) coalesces to the same all-ones signature the
    * relational left join produced. */
  def simhashTable(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol).as("id"),
        graft.functions.SimhashKernel.words(TextOps.tokens(col(textCol)))
          .as("__sw"))
      .select(col("id"),
        coalesce(col("__sw").getItem(0), lit(0xFFFFL)).as("sh"))

  /** SimHash near-dup pairs within a hamming radius, bucketed by the
    * high byte to avoid the full cross join (docs differing only in
    * low bits land in the same bucket; radius <= 8 of 16 bits keeps
    * recall reasonable for the 16-bit demo). The fixed 256-bucket
    * split makes this demo-scale only — the corpus-scale variant is
    * [[simhashPairs64]], whose bucket count grows with the key space
    * (4 × 2¹⁶ keys) and whose recall within the radius is exact. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val sh = Materialize.checkpoint(simhashTable(docs, idCol, textCol))
    BucketPairs(sh.withColumn("bucket", shiftright(col("sh"), 8)),
        Seq("bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        TextOps.hammingDistance(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** 64-bit SimHash as four 16-bit words (w0..w3): word j's bit b
    * votes on bit b of hex digits [4j+1, 4j+4] of md5(token), fused
    * into one narrow [[graft.functions.SimhashKernel]] call per doc
    * (the relational explode + 64-vote groupBy + join-back it
    * replaced cost a corpus-wide shuffle for a pure per-doc
    * function; values bit-identical). Four 16-bit words keep every
    * value in portable long math — no unsigned-64 overflow anywhere —
    * and double as the rotated-table bucket keys of
    * [[simhashPairs64]]. w0 equals [[simhashTable]]'s 16-bit
    * signature. Token-less docs get all-ones words (vote 0 >= 0). */
  def simhashTable64(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol).as("id"),
        graft.functions.SimhashKernel.words(TextOps.tokens(col(textCol)))
          .as("__sw"))
      .select(col("id") +: (0 until 4).map(j =>
        coalesce(col("__sw").getItem(j), lit(0xFFFFL)).as(s"w$j")): _*)

  /** 64-bit SimHash near-dup pairs — the corpus-scale rotated-table
    * scheme (Manku et al., WWW'07): a pair within hamming radius <= 3
    * over 64 bits must agree exactly on at least one of the four
    * 16-bit words (pigeonhole), so bucketing each doc under its four
    * words and equi-joining on (band, word) finds every such pair
    * with NO radius-candidate loss, while in-bucket work is
    * O(n²/2¹⁶) per band instead of O(n²/256). Multi-band collisions
    * dedup in one groupBy after the (cheap) hamming evaluation. */
  def simhashPairs64(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      s"simhashPairs64 guarantees recall only for radius <= 3 over 4 " +
      s"bands (pigeonhole); got $maxHamming")
    val sh = Materialize.checkpoint(simhashTable64(docs, idCol, textCol))
    val banded = sh.select(
      (col("id") +: (0 until 4).map(j => col(s"w$j"))) :+
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), col(s"w$b").as("key"))): _*)).as("bk"): _*)
      .select((col("id") +: (0 until 4).map(j => col(s"w$j"))) :+
        col("bk.band").as("band") :+ col("bk.key").as("key"): _*)
    val ham = (0 until 4).map(j =>
      TextOps.hammingDistance(col(s"a.w$j"), col(s"b.w$j"))).reduce(_ + _)
    // radius filter BEFORE the multi-band dedup aggregate (r22, guide
    // §2.3): the hamming sum is a pure function of the pair's four
    // word columns, identical in every band-copy, so min() is only a
    // dedup — far pairs (most band collisions) die before the
    // aggregate's exchange instead of after it. Result set unchanged.
    BucketPairs(banded, Seq("band", "key"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        ham.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
  }

  /** End-to-end fuzzy document dedup — the composite a curation
    * pipeline actually runs (GPT-3/The Pile/RefinedWeb shape):
    * MinHash-LSH candidate pairs → EXACT Jaccard verification of the
    * candidates only → connected components over verified pairs →
    * keep the canonical (minimum-id) doc per cluster. q41 pins the
    * candidates→components path; this adds the verification stage a
    * real pipeline needs — band collisions are a recall device, not
    * a similarity judgment, and unverified candidates over-merge
    * clusters through false-positive edges.
    *
    * Scale shape: candidates come from [[minhashCandidatePairs]]
    * (band-key equi-join only). Verification only ever touches DOCS
    * THAT APPEAR IN A CANDIDATE PAIR: the corpus is semi-joined to
    * the candidate id set before shingling, so the verification
    * shingle table scales with the near-dup population, not the
    * corpus (candidates are rare in a real crawl; non-candidate
    * docs pay zero shingling or shuffle here). The attach joins and
    * the size aggregate then run over that filtered table; the
    * intermediate is Σ|A| over candidate pairs, bounded by the LSH
    * candidate volume, never corpus². Both attach joins are
    * MERGE-pinned (sort-merge): the shingle side is corpus-derived
    * — worst-case every doc is a candidate — so it must neither
    * broadcast (the AQE small-at-test-SF trap) nor build a
    * per-partition hash map (a factor-1000 smoke at 5M docs OOMed
    * ShuffledHashJoin's build exactly here; sort-merge spills and
    * AQE skew-splits instead). Components run on the verified
    * sliver via the adaptive pointer-jump loop. Candidate pairs
    * with zero shared shingles (band collisions of disjoint sets)
    * drop at the inner join — they would fail any positive
    * threshold.
    *
    * Hot-key control: verification is EXACT Jaccard, so no shingle-
    * frequency cap applies here (capping would change the measured
    * similarity — [[ngramJaccardPairs]] owns that trade, where the
    * shingle key itself drives the pair join). The hot-key risk on
    * THIS path is a degenerate LSH bucket (m docs sharing a band key
    * → m² candidates); `maxBandFreq` (default uncapped) drops
    * oversize buckets before pairing — see
    * [[minhashCandidatePairs]].
    *
    * Returns every doc: (idCol, component, keep) with component =
    * min reachable id and keep ⇔ id == component. */
  def fuzzyDedupDocs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, bands: Int = 4, rows: Int = 2,
      minJaccard: Double = 0.5, maxBandFreq: Long = Long.MaxValue)
      : DataFrame =
    fuzzyComponents(docs, docs.select(col(idCol).cast("long").as("id")),
        idCol, textCol, k, bands, rows, minJaccard, maxBandFreq)
      .select(col("id").as(idCol), col("component"),
        (col("id") === col("component")).as("keep"))

  /** The [[fuzzyDedupDocs]] chain up to and including the component
    * labeling, with caller-supplied `nodes` (id + any pass-through
    * payload columns) so survivor policies avoid a second join. */
  private def fuzzyComponents(docs: DataFrame, nodes: DataFrame,
      idCol: String, textCol: String, k: Int, bands: Int, rows: Int,
      minJaccard: Double, maxBandFreq: Long,
      markLabeled: Boolean = false): DataFrame = {
    // checkpoint: candidates feed the doc prefilter AND the
    // verification join, and the band self-join behind them is the
    // expensive part of the chain
    val cands = Materialize.checkpoint(minhashCandidatePairs(docs, idCol,
        textCol, k, bands, rows, maxBandFreq)
      .select("id_a", "id_b"))
    // verification only needs shingles of docs that appear in some
    // candidate pair — semi-filter BEFORE shingling so non-candidate
    // docs pay nothing past the banding stage
    val candDocs = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    val sh = Materialize.checkpoint(shingleRows(
        docs.select(col(idCol), col(textCol))
          .join(candDocs.hint("shuffle_hash"), Seq(idCol), "left_semi"),
        idCol, textCol, k)
      .select(col("id"), xxhash64(col("shingle")).as("shingle")))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = cands
      .join(sh.select(col("id").as("id_a"), col("shingle"))
        .hint("merge"), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingle"))
        .hint("merge"), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    // sizes is candidate-doc-derived (worst case corpus-sized): pin
    // SHUFFLE_HASH — its per-partition build is two longs per doc,
    // but an AQE broadcast that fits at test SF would not at scale
    val verified = inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a"))
        .hint("shuffle_hash"), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b"))
        .hint("shuffle_hash"), "id_b")
      .filter(col("n_shared").cast("double")
        / (col("n_a") + col("n_b") - col("n_shared")) >= minJaccard)
      .select("id_a", "id_b")
    connectedComponents(nodes, verified, markLabeled = markLabeled)
  }

  /** [[fuzzyDedupDocs]] with a QUALITY-canonical survivor: per
    * near-dup cluster keep the highest-`quality` doc (smallest id on
    * ties) instead of the smallest-id doc — the SlimPajama/FineWeb
    * convention (keep the longest / best-scored member; min-id
    * discards a long original whenever a truncated copy got the
    * smaller id). `quality` is any per-doc column expression over
    * `docs` (token count, a Gopher signal, a classifier score);
    * component labels stay min-reachable-id, so cluster identity is
    * unchanged — only the survivor policy moves.
    *
    * Scale shape: the dedup chain is [[fuzzyDedupDocs]] unchanged;
    * the survivor is a `first()` window over the component key,
    * restricted to the LABELED SLIVER (r22, guide §2.3
    * shuffle-fewer-bytes): only edge-endpoint docs can live in a
    * multi-member component (CC's `markLabeled` invariant), so only
    * they exchange on the component key — a non-candidate doc is its
    * own survivor through a zero-shuffle projection branch. The
    * groupBy(component) + component-keyed join-back this replaced
    * exchanged the WHOLE corpus twice (the aggregate and the
    * relabel-output side of the join) to decide survivors that are
    * trivially `id` everywhere off the near-dup sliver. The labeled
    * frame fans into both branches, so it stays eagerly
    * serialized-checkpointed — 3 longs/row, the SemDeDup
    * member-assignment precedent. Per-component window state is one
    * buffered cluster (the q87 exemplar-window exposure class,
    * spill-backed).
    *
    * Returns every doc: (idCol, component, survivor, keep, quality)
    * with keep ⇔ id == survivor. */
  def fuzzyDedupDocsBest(docs: DataFrame, idCol: String,
      textCol: String, quality: Column, k: Int = 3, bands: Int = 4,
      rows: Int = 2, minJaccard: Double = 0.5,
      maxBandFreq: Long = Long.MaxValue): DataFrame = {
    // quality rides the CC relabel join as a pass-through column
    // (r21): the shuffle_hash join of the labeled frame back onto
    // the quality projection this replaced was a second corpus-sized
    // exchange pair on the same id key the relabel already joins on.
    val labeled = Materialize.checkpoint(fuzzyComponents(docs,
        docs.select(col(idCol).cast("long").as("id"),
          quality.cast("long").as("quality")),
        idCol, textCol, k, bands, rows, minJaccard, maxBandFreq,
        markLabeled = true)
      .withColumnRenamed("id", idCol))
    // first over (quality DESC NULLS LAST, id ASC): highest quality,
    // then SMALLEST id among equals — a total order (ids are unique),
    // bit-identical to the max_by lexicographic (quality, -id) pick
    // this replaced (null quality sorts below any value both ways).
    val w = Window.partitionBy("component")
      .orderBy(col("quality").desc_nulls_last, col(idCol).asc)
    val clustered = labeled.filter(col("__labeled"))
      .withColumn("survivor", first(col(idCol)).over(w))
    val singles = labeled.filter(!col("__labeled"))
      .withColumn("survivor", col(idCol))
    clustered.unionByName(singles)
      .select(col(idCol), col("component"), col("survivor"),
        (col(idCol) === col("survivor")).as("keep"), col("quality"))
  }

  /** Corpus-wide duplicate-LINE removal with keep-first semantics —
    * the C4/RefinedWeb line-dedup stage (Raffel et al. 2020 kept one
    * occurrence of any repeated span; RefinedWeb/Dolma do it at line
    * granularity): a line that occurs more than once across the WHOLE
    * corpus survives only at its canonical first occurrence, the
    * smallest (doc id, line index) — a total order, so the survivor
    * is engine- and partitioning-independent. Unlike
    * [[removeDupSpans]], which excises EVERY occurrence of a
    * duplicated token window, this keeps exactly one.
    *
    * Lines participate in dedup only if they have token content
    * ([[TextOps.tokens]] non-empty); blank/punctuation-only lines are
    * structural and always survive. Line identity is the md5 of the
    * RAW line (no normalization — "near-identical lines are different
    * lines" is the C4 rule; chain [[graft.functions.TextNorm]]
    * upstream for normalization-invariant dedup).
    *
    * Scale shape: posexplode lines (narrow) → ONE shuffle on the
    * 128-bit line key for the first-occurrence rank (per-key
    * partition size = the line's occurrence count, map-side nothing
    * to combine but skew is bounded by real duplication; a boiler-
    * plate line repeated 10⁸ times is the pathological case — cap it
    * upstream with [[dupSpans]] if that is the corpus) → one groupBy
    * doc to reassemble surviving lines in original order
    * (`sort_array`, per-doc state bounded by doc size).
    *
    * Returns every doc: (idCol, text_out, n_kept, n_dropped). */
  def dedupLinesKeepFirst(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val id = col(idCol)
    val lines = df
      .select(id, posexplode(split(col(textCol), "\n"))
        .as(Seq("idx", "line")))
      .withColumn("participates",
        // array-free count kernel: the per-LINE cardinality makes
        // this the hottest tokenizer call in the operator, and only
        // the emptiness bit is consumed (r17 ask #6 call-site audit)
        TextOps.tokenCount(col("line")) > 0)
      .withColumn("key", md5(col("line")))
    // Rank ONLY participating lines: structural lines bypass the
    // shuffle entirely — a corpus's blank lines would otherwise all
    // hash to one window partition (the degenerate-key skew trap).
    val w = Window.partitionBy("key").orderBy(id.asc, col("idx").asc)
    val kept = lines.filter(col("participates"))
      .withColumn("keep", row_number().over(w) === 1)
      .unionByName(
        lines.filter(!col("participates")).withColumn("keep", lit(true)))
    kept.groupBy(id)
      .agg(
        concat_ws("\n",
          transform(
            sort_array(collect_list(when(col("keep"),
              struct(col("idx"), col("line"))))),
            x => x("line"))).as("text_out"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Winnowing fingerprints — the MOSS local fingerprinting scheme
    * (Schleimer, Wilkerson, Aiken 2003, SIGMOD): hash every char
    * k-gram of the cleaned text (lowercased, non-alphanumerics
    * stripped), slide a window of `w` consecutive hashes, and from
    * each window keep the minimum hash — RIGHTMOST occurrence on
    * ties, the paper's rule, which is what guarantees the selected
    * set is identical for any shared substring of length ≥ k+w−1
    * regardless of its position in either doc (position-independent
    * local fingerprints, unlike fixed-stride sampling). Expected
    * density 2/(w+1) of the k-gram stream; theorem 1 of the paper:
    * any match of length ≥ k+w−1 chars shares at least one selected
    * fingerprint, no match shorter than k is ever detected.
    *
    * Returns the DISTINCT (idCol, h, pos) fingerprint rows (1-based
    * k-gram positions; [[graft.functions.Winnow]] base-31 Karp-Rabin
    * hashes with a final multiplicative mix — the paper's own family,
    * engine-portable through plain ascii/mod arithmetic so the oracle
    * re-derives them without a digest). Narrow until the final distinct — winnowing itself
    * rides the scan as ONE fused Catalyst expression; join
    * fingerprints with the q28/q41 machinery for dedup.
    *
    * A fused kernel, NOT higher-order functions, on purpose: the
    * selection is an O(n·w) imperative scan, and HOF lambdas evaluate
    * it per-element, interpreted, with no common-subexpression
    * elimination — the staged-HOF formulation this replaced spent
    * 18.6 s (md5 k-grams) / 65 s (interpreted polynomial) on 5k
    * ~300-char docs where the kernel runs in well under a second; an
    * UNstaged HOF is quadratic on top (re-hashing per window wedged a
    * 500-doc run 20+ min). Full measurements in [[graft.functions.Winnow]]. */
  def winnowFingerprints(df: DataFrame, idCol: String,
      textCol: String, k: Int = 5, w: Int = 4, seed: Int = 11)
      : DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k w=$w")
    val id = col(idCol)
    df.select(id, regexp_replace(lower(col(textCol)), "[^a-z0-9]", "")
        .as("__cs"))
      .select(id,
        explode(graft.functions.Winnow.winnowSelect(col("__cs"), k, w, seed))
          .as("fp"))
      .select(id, col("fp.h").as("h"), col("fp.pos").as("pos"))
      .distinct()
  }
}
