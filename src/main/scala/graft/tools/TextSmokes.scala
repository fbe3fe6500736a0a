package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text._
import graft.tools.Smokes.{CcPath, Run, Smoke}

/** The text-tier entries of [[Smokes]]. */
object TextSmokes {

  /** The packing/dedup chain over `documents` amplified by the factor
    * ([[Smokes.Marked]]): `packBlocks`, `ngramJaccardPairs`,
    * `connectedComponents` and `dupSpans`. Besides the harness's
    * exchange and job invariance, pair, component and span rows must
    * scale exactly linearly (the salted amplification makes them exact
    * multiples; packBlocks is off by block-boundary rounding and only
    * reported). */
  val scale: Smoke = new Smoke("scale", 100) {
    def run(r: Run): Unit = {
      // synthesis cost out of phase timings
      val docs = r.stage(r.documents())
      val counts = docs.select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      // packOffsets and ngramJaccardPairs run eager internal
      // materializations at call time, so the work must happen inside
      // the span, not before it
      r.frame("packBlocks") {
        PackOps.packBlocks(counts, "doc_id", "n_tokens", 256, "sm")
      }
      val pairs = r.frame("ngramJaccardPairs") {
        r.stage(DedupOps.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2))
      }
      val nodes = docs.select(col("doc_id").as("id"))
      pairs.foreach(p => r.frame("connectedComponents", CcPath) {
        DedupOps.connectedComponents(nodes, p)
      })
      // window hashes carry the fused copy marker, so dup spans are
      // strictly within-copy and span rows scale exactly linearly
      r.frame("dupSpans") { r.stage(DedupOps.dupSpans(docs, 8, 2)) }
    }

    override def across(lo: Run, hi: Run): Unit =
      for (p <- Seq("ngramJaccardPairs", "connectedComponents", "dupSpans")) {
        val (b, big) = (lo.rows(p), hi.rows(p))
        assert(b * hi.f == big * lo.f,
          s"$p rows $b at factor ${lo.f} but $big at factor ${hi.f}: not linear")
      }
  }

  /** The round-11+ text operators over `documents` amplified by the
    * factor ([[Smokes.Marked]]). Exchange counts are FACTOR-INVARIANT
    * (the harness checks), perplexity and dsirSelect emit exactly one
    * row per corpus doc by contract, and interleave returns the whole
    * corpus; winnowing rows scale ~linearly (copy markers shift k-gram
    * counts by a few chars per token), so that ratio is only
    * reported. */
  val text: Smoke = new Smoke("text", 100) {
    def run(r: Run): Unit = {
      // repartition BEFORE the checkpoint: the sf0.1 parquet is one
      // ~MB file = one input split, and the explode amplification is
      // narrow, so without this every pre-shuffle operator stage runs
      // single-core — a small-file artifact of the synthesis, not a
      // property of the operators (real corpora arrive in thousands
      // of splits). First run of this harness measured dsirSelect at
      // 43.9 s/factor 10 for exactly this reason.
      val docs = r.stage(r.documents()
        .repartition(r.spark.sparkContext.defaultParallelism))
      val nDocs = docs.count()
      def oneRowPerDoc(phase: String): Unit = r.rows.get(phase).foreach(n =>
        assert(n == nDocs, s"$phase: $n rows for $nDocs docs"))
      r.frame("winnowFingerprints") {
        DedupOps.winnowFingerprints(docs, "doc_id", "text")
      }
      // the amplification suffixes every token with its copy id, so
      // the vocabulary grows ×f while each token's share shrinks ×f:
      // φ = 1/5000 keeps the full (suffixed) common set at both
      // factors and drives the MG summary at a production-sized
      // counter budget (k = 5000 per partition)
      r.frame("heavyHitters") { VocabOps.heavyHitters(docs, "text", 1L, 5000L) }
      // BFD packing: 16 shards over f·5k docs (f100: ~31k docs and
      // ~18k open bins per shard by the end — the TreeMap best-fit's
      // O(log B) per doc is what makes the shard loop viable)
      r.frame("bestFitPack") {
        PackOps.bestFitPack(
          docs.select(col("doc_id"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tok")),
          "doc_id", "n_tok", capacity = 96L, numShards = 16)
      }
      r.frame("lmPerplexity") {
        LmOps.perplexity(
          docs, docs.filter(pmod(col("doc_id"), lit(10)) < 3),
          "doc_id", "text")
      }
      oneRowPerDoc("lmPerplexity")
      r.frame("dsirSelect") {
        DsirOps.dsirSelect(
          docs, docs.filter(pmod(col("doc_id"), lit(10)) < 3),
          k = 100, idCol = "doc_id", textCol = "text", buckets = 1024)
      }
      oneRowPerDoc("dsirSelect")
      // budgetSelect returns an eagerly checkpointed frame (its
      // contract), so the result plan shows 0 exchanges — the one range
      // exchange it costs appears in the shuffle MB columns instead.
      // Scoring is staged once (the q98 shape) and the budget derives
      // from pass-1 totals — the first smoke draft paid a separate agg
      // pass plus ~4x re-tokenization (111.9 s at f100; this form
      // measures the operator's real single-evaluation cost).
      r.frame("budgetSelect") {
        val tk = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("__tk"))
        val sw = array(TextOps.EnglishStopwords.map(lit): _*)
        val scored = tk.select(col("doc_id"),
          size(col("__tk")).cast("long").as("n_tok"),
          when(size(col("__tk")) > 0,
            size(filter(col("__tk"), x => array_contains(sw, x)))
              .cast("double") / size(col("__tk")))
            .otherwise(lit(0.0)).as("pri"))
        BudgetOps.budgetSelectFraction(scored, "doc_id", "n_tok", "pri", 1L, 2L)
      }
      r.frame("budgetMix") {
        val scored = docs.select(col("doc_id"),
          concat(lit("src"), (col("doc_id") % 16).cast("string")).as("src"),
          length(col("text")).cast("long").as("n_tok"),
          (col("doc_id") % 7).cast("double").as("pri"))
        BudgetOps.budgetSelectPerStratumFraction(
          scored, "doc_id", "n_tok", "pri", "src", 1L, 2L)
      }
      // force the cleaned text + verdict to actually compute — a bare
      // count() lets Catalyst prune every C4 expression away
      r.frame("c4Filter") {
        C4Ops.c4Filter(docs, "doc_id", "text")
          .filter(md5(col("text_out")).isNotNull &&
            col("n_sentences") >= 0 && !col("has_bad_word"))
      }
      r.frame("fuzzyDedupBest", CcPath) {
        DedupOps.fuzzyDedupDocsBest(docs, "doc_id", "text",
          TextOps.tokenCount(col("text")).cast("long"))
      }.foreach { _ =>
        // connectedComponents counts with one `runJob at DedupOps.scala`
        // job for its edges, then one per label-propagation round
        val counts = r.readings("fuzzyDedupBest").jobs
          .count(_.name.startsWith("runJob at DedupOps.scala"))
        r.info("phase" -> "fuzzyDedupBest",
          "cc_path" -> (if (counts == 1) "union-find" else s"rounds:${counts - 1}"))
      }
      // md5 over chunk_text forces the slices to materialize
      r.frame("chunkDocs") {
        ChunkOps.chunkDocs(docs, "doc_id", "text", 64, 48)
          .filter(md5(col("chunk_text")).isNotNull)
      }
      // count() over the bare verdict frame ELIMINATES the left join
      // (unique right key + only-left columns -> Catalyst join
      // elimination; first run of this phase "measured" 2.6 task-s
      // at f100). Filtering ON the flag forces both band tables and
      // the semi join; rows = flagged count. The split is on the base
      // doc: on the amplified id, an even factor would put every copy 0
      // in the reference and every copy 1 in the query, whose markers
      // never match, and flag nothing.
      val odd = pmod(call_function("div", col("doc_id"), lit(r.f)), lit(2)) === 1
      r.frame("nearDupAgainst") {
        DedupOps.nearDupAgainst(docs.filter(odd), docs.filter(!odd),
            "doc_id", "text")
          .filter(col("dup_against_ref"))
      }
      // end-to-end: sample-learn (driver, parameter-bounded) + fused
      // kernel application; the size filter forces the kernel
      r.frame("bpeTrainApply") {
        val model = BpeOps.learnBpe(docs, "doc_id", "text",
          numMerges = 100, sampleRate = 0.05, maxWords = 2000)
        BpeOps.applyBpe(docs, "text", model)
          .select(col("doc_id"), col("n_subwords"))
          .filter(col("n_subwords") >= 0)
      }
      // The heaviest memory shape in the text family (two range
      // exchanges + two persists + an eager serialized checkpoint, full
      // text payload carried through). 16 strata with coprime-ish
      // weights 1..16 drive the lcm resolution high enough to exercise
      // the post-rank overflow cap; interleave returns an eagerly
      // checkpointed frame (BudgetOps retention contract) so the result
      // plan shows 0 exchanges — the two range shuffles appear in the
      // shuffle MB columns. Rows must equal the input corpus exactly
      // (every stratum has a weight).
      r.frame("interleave") {
        InterleaveOps.proportionalInterleave(strata(docs, "src", "src", 16),
          "src", "doc_id", (0 until 16).map(i => s"src$i" -> (i + 1L)).toMap)
      }
      oneRowPerDoc("interleave")
      // Substrate ops: group split (group table = 1k synthetic
      // domains), exact-count stratified sample, and exact quantiles —
      // each returns an eagerly checkpointed frame (0 result-plan
      // exchanges; the range shuffles show as MB).
      r.frame("groupSplit") {
        SampleOps.groupSplit(strata(docs, "dom", "d", 1000), "dom",
          Seq(("train", 4L, 5L), ("val", 1L, 10L), ("test", 1L, 10L)), "gs")
      }
      r.frame("stratSampleExact") {
        SampleOps.stratifiedSampleExact(strata(docs, "src", "src", 16), "doc_id",
          "src", Map.empty, 1L, 3L, "sx")
      }
      r.frame("exactQuantiles") {
        graft.operators.StatsOps.exactQuantiles(
          docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars")),
          "n_chars", "doc_id",
          Seq((1L, 4L), (1L, 2L), (3L, 4L), (99L, 100L)))
      }
    }

    /** `docs` with a stratum column `name`: `prefix` + doc_id mod `n`. */
    private def strata(docs: DataFrame, name: String, prefix: String,
        n: Int): DataFrame = docs.select(col("doc_id"), col("text"),
      concat(lit(prefix), (col("doc_id") % n).cast("string")).as(name))

    override def across(lo: Run, hi: Run): Unit =
      lo.rows.get("winnowFingerprints").foreach(b => hi.info(
        "phase" -> "winnowFingerprints",
        "row_ratio" -> hi.rows("winnowFingerprints").toDouble / b))
  }

  /** The Bloom contamination pre-screen (X78) at factor N over the sf
    * `documents` table, compared with the DIRECT exact check (every
    * corpus shingle through the corpus↔eval join, the shape the
    * pre-screen replaces), with identical per-doc exact-hit results
    * asserted. The number that matters at 100 TB is the pre-screen's
    * join input collapsing from every shingle to the survivor sliver
    * while the scan stays narrow. */
  val bloom: Smoke = new Smoke("bloom", 100) {
    def run(r: Run): Unit = {
      val mBits = 1 << 18
      // eval set: the UNAMPLIFIED docs < 25 (a realistic eval is tiny
      // next to the corpus); corpus: the amplified rest, copy-marked so
      // cross-copy shingles never collide (only copy 0 can contaminate)
      def docShingles = explode(graft.functions.MinhashKernel
        .distinctShingles(TextOps.tokens(col("text")), 3)).as("shingle")
      val eval = r.stage(r.table("documents").filter(col("doc_id") < 25)
        .select(docShingles).distinct())
      val corpus = r.stage(r.documents(
          text = when(col("copy") === 0, col("text")).otherwise(Smokes.Marked))
        .filter(col("doc_id") >= 25L * r.f))
      r.info("docs" -> corpus.count())
      val shingled = corpus.select(col("doc_id"), docShingles)

      lazy val words = SketchOps.bloomWords(eval, "shingle", mBits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def run(pre: Boolean, shuffleJoin: Boolean): Array[(Long, Long)] = {
        val base = if (pre) shingled.filter(
          SketchOps.bloomMightContain(col("shingle"), words, mBits))
        else shingled
        val ev = if (shuffleJoin) eval.hint("shuffle_hash")
        else broadcast(eval)
        base.join(ev, Seq("shingle"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      }
      // broadcastable-eval arms: the pre-screen is NOT expected to win
      // here (a broadcast semi-join is already a narrow hash probe);
      // big-eval arms (shuffle join, the shape a non-broadcastable eval
      // forces): the pre-screen's job is collapsing the corpus side of
      // THIS exchange to the survivor sliver
      val hits = Seq(("direct_bcast", false, false),
        ("prescreen_bcast", true, false), ("direct_shuffle", false, true),
        ("prescreen_shuffle", true, true)).flatMap { case (arm, pre, sh) =>
          r.phase(arm)(run(pre, sh))(_.length.toLong)
        }
      if (hits.size == 4) {
        val equal = hits.forall(_.toSeq == hits.head.toSeq)
        r.info("bloom_parity" -> equal)
        assert(equal, "the four Bloom arms found different per-doc hits")
      }
    }
  }

  /** The systematic PPS sampler (X83) over the amplified `documents`
    * table: k token-weighted samples, with the operator's two exact
    * invariants asserted at scale — Σ n_hits = k, and every row
    * heavier than W/k selected. Its cost is the packOffsets range
    * exchange: one full-corpus shuffle, the floor for any order-based
    * method. */
  val pps: Smoke = new Smoke("pps", 50) {
    def run(r: Run): Unit = {
      val k = 100000L
      val docs = r.stage(r.documents(text = col("text")).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok")))
      r.frame("samplePpsSystematic") {
        r.stage(SampleOps.samplePpsSystematic(docs, "doc_id", "n_tok", k, "ppssmoke"))
      }.foreach { out =>
        val hits = out.agg(sum("n_hits")).head().getLong(0)
        assert(hits == k, s"sum(n_hits)=$hits != k=$k")
        val totW = docs.agg(sum("n_tok")).head().getLong(0)
        val heavyMissing = docs.filter(col("n_tok") * k > totW)
          .join(out.select("doc_id"), Seq("doc_id"), "left_anti").count()
        assert(heavyMissing == 0L, s"$heavyMissing heavy rows unselected")
      }
    }
  }

  /** The batch sketch family: `hllTokenRegisters` (X76) and
    * `cmTokenCells` (X77) over the amplified `documents` table, with
    * input partitions pinned across factors. The aggregate's exchange
    * is CONSTANT in corpus size, and "constant" means
    * BOUNDED-WITH-SATURATION, not flat: the map-side combine caps the
    * partial rows at groups·m·tasks, a small corpus sits under the cap
    * (f1 writes ~5k partial rows against a 786k cap), a big one
    * saturates toward it and then STOPS growing while the token stream
    * keeps growing linearly — the plateau is the measurement. Asserted:
    *   - output rows ≤ groups·m (HLL) / groups·rows·m (CM) and shuffle
    *     partial rows ≤ groups·m·tasks (·rows for CM) at each factor;
    *   - the plateau: across the top decade (factor/10 → factor) the
    *     token stream grows 10× but shuffle partial rows grow ≤ 3×
    *     (both points in the saturation regime at the f1000 default);
    *   - exchange COUNT factor-invariant.
    * The copy markers make cross-copy tokens never collide — the
    * hardest case for a distinct-counter (the distinct universe really
    * is N× bigger). */
  val sketch: Smoke = new Smoke("sketch", 1000) {
    override def factors(f: Int): (Int, Int) = (f / 10 max 1, f)

    private val groups = 6L // 5 langs + '' — fixture property, asserted below

    def run(r: Run): Unit = {
      val nPart = r.spark.sessionState.conf.numShufflePartitions
      // pin input tasks so the partial-row bound is comparable across
      // factors
      val docs = r.stage(r.documents(Seq("lang")).repartition(nPart))
      val nGroups = docs.select(coalesce(col("lang"), lit(""))).distinct().count()
      assert(nGroups <= groups, s"fixture drifted: $nGroups langs")
      def run(op: String, mk: => DataFrame, maxRows: Long, maxPartials: Long): Unit =
        r.frame(op)(mk).foreach { _ =>
          val (rows, partials) = (r.rows(op), r.readings(op).shuffleWriteRecords)
          assert(rows <= maxRows, s"$op: $rows rows > saturation $maxRows")
          assert(partials <= maxPartials,
            s"$op: $partials shuffle rows > cap $maxPartials")
        }
      run("hll", SketchOps.hllTokenRegisters(docs, "text", "lang"),
        groups * 4096, groups * 4096 * nPart)
      run("cm", SketchOps.cmTokenCells(docs, "text", "lang"),
        groups * 4 * 4096, groups * 4 * 4096 * nPart)
    }

    override def across(lo: Run, hi: Run): Unit = for (op <- Seq("hll", "cm")) {
      final case class R(f: Int, exch: Int, wRecs: Long)
      def at(r: Run) = R(r.f, r.readings(op).census.exchanges,
        r.readings(op).shuffleWriteRecords)
      val (mid, big) = (at(lo), at(hi))
      assert(mid.exch == big.exch,
        s"$op: exchange count drifted ${mid.exch} -> ${big.exch}")
      // the plateau: 10x the tokens, <= 3x the partial rows (both
      // points sit in the saturation regime at these corpus sizes)
      assert(big.wRecs <= mid.wRecs * 3,
        s"$op: shuffle rows grew ${mid.wRecs} -> ${big.wRecs} over a " +
        s"${big.f / mid.f}x data step — NOT saturating")
    }
  }

  /** The hot-bucket caps: the four cap arms (ngram shingle freq,
    * minhash band freq, media band bucket, video frames-per-hash) learn
    * their per-key counts from a `count(*) OVER (PARTITION BY key)`
    * window on the join's own exchange ([[graft.operators.BucketPairs]]).
    * `WindowExec` buffers each partition-key GROUP (spill-backed
    * `ExternalAppendOnlyUnsafeRowArray`) before the frequency filter
    * drops it — buffer-then-drop — so the scale question is: does ONE
    * mega-hot key (10⁴ rows per factor, 10⁶ at the default, all in a
    * single bucket) complete through the window shape without OOM?
    * Each pathological input is built DIRECTLY (one key carrying the
    * whole corpus), and the smoke asserts that the operator completes
    * and that the hot bucket contributed NOTHING (pair counts are
    * exactly the small-bucket residue); each arm's spill and peak task
    * execution memory are on its phase line. */
  val hotKeyCap: Smoke = new Smoke("hotKeyCap", 100) {
    def run(r: Run): Unit = {
      val spark = r.spark
      val nHot = 10000L * r.f
      // 1000 at the default factor; every arm's hot keys hold at least
      // 32 times the cap, at any factor
      val cap = nHot / 1000
      def arm(name: String)(f: => (Long, Long)): Unit =
        r.phase(name)(f)(_._1).foreach { case (got, expect) =>
          val ok = got == expect
          require(ok, s"$name: pair count $got != expected $expect")
        }

      // 1. ngramJaccardPairs(maxShingleFreq): every doc shares the
      //    3-shingle "hot hot hot" (one bucket = the whole corpus);
      //    each doc's second shingle is unique (singleton-pruned). The
      //    hot shingle's window group is nHot rows; the cap drops it.
      //    Expected pairs: 0.
      arm("ngram_shingle_cap") {
        val docs = spark.range(nHot).select(col("id").as("doc_id"),
          concat(lit("hot hot hot u"), col("id").cast("string")).as("text"))
        (DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
          3, 0.1, maxShingleFreq = cap).count(), 0L)
      }

      // 2. minhashCandidatePairs(maxBandFreq): identical text ⇒ every
      //    doc lands in the SAME four band buckets (each nHot rows);
      //    the cap drops all four. Expected pairs: 0.
      arm("minhash_band_cap") {
        val docs = spark.range(nHot).select(col("id").as("doc_id"),
          lit("alpha beta gamma delta epsilon zeta").as("text"))
        (DedupOps.minhashCandidatePairs(docs, "doc_id",
          "text", 3, 4, 2, maxBandFreq = cap).count(), 0L)
      }

      // 3. MediaDedup.nearDupPairs(maxBucket) over a pre-hashed frame
      //    (the cap guards the DISTINCT-signature band join; no decode
      //    needed to exercise it): 5 bits of the id land in each of the
      //    four 16-bit band words (a bijection for id < 2^20, so every
      //    signature is DISTINCT), giving every band at most 32 keys of
      //    ≥ nHot/1000 distinct signatures each — ALL four bands are
      //    hot and the cap drops every bucket, so no hash pair survives
      //    banding and the diagonal contributes nothing (one member per
      //    hash ⇒ ia < ib never holds). Expected pairs: 0.
      arm("media_bucket_cap") {
        require(nHot <= (1L << 20),
          "media arm uses a 20-bit id→band bijection")
        val id = col("id")
        val h = (id % 32) +
          (shiftright(id, 5) % 32) * 65536L +
          (shiftright(id, 10) % 32) * 4294967296L +
          (shiftright(id, 15) % 32) * 281474976710656L
        val hashed = spark.range(nHot)
          .select(col("id").as("media_id"), h.as("dhash"))
        (graft.multimodal.MediaDedup.nearDupPairs(hashed, "media_id",
          "dhash", 3, maxBucket = cap).count(), 0L)
      }

      // 4. sharedFrameVideoPairs(maxVideosPerHash): nHot videos share
      //    frame hash 0 (one nHot-row group through the window) and
      //    each also has a unique second frame (cap-surviving
      //    singleton hashes that can never pair). Expected pairs: 0.
      arm("video_hash_cap") {
        val fh = spark.range(nHot).select(col("id").as("media_id"),
            lit(0).as("frame_idx"), lit(0L).as("dhash"))
          .unionAll(spark.range(nHot).select(col("id").as("media_id"),
            lit(1).as("frame_idx"), (col("id") + 1000000000L).as("dhash")))
        (graft.multimodal.MediaDedup.sharedFrameVideoPairs(fh,
          minShared = 1, maxVideosPerHash = cap).count(), 0L)
      }
    }
  }
}
