package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Materialize
import graft.operators.PrefixScan
import graft.operators.PrefixScan.freshName

/** Sequence packing for LLM training-data pipelines: lay the corpus
  * out as ONE deterministic token stream and chunk it into fixed-size
  * training blocks ("concat-and-chunk" packing — the standard GPT-
  * style shape, where documents are concatenated in a fixed order and
  * the stream is split every `blockTokens` tokens, documents spanning
  * block boundaries).
  *
  * The hard part at scale is the GLOBAL prefix sum: every document
  * needs its absolute token offset in the stream. That is the
  * two-pass [[graft.operators.PrefixScan]] over the deterministic
  * order key; the policy here is `start_off = excl`,
  * `end_off = excl + tok` over its exclusive token prefix `excl`.
  *
  * The layout depends only on (salt, id) — like everything in
  * [[SampleOps]], re-runs on any cluster size emit identical blocks,
  * which is what makes training shards reproducible and auditable.
  * The substrate stays persisted when this returns (the result reads
  * it lazily; unpersisting earlier would recompute the shuffle with
  * fresh range bounds and desynchronize the driver-held prefix
  * offsets). Every retained substrate is tracked and surfaced:
  * [[releaseSubstrates]] releases them all once the results are
  * consumed — a long-lived session doing repeated packs calls it
  * between runs instead of hunting cache entries in the UI
  * (`spark.catalog.clearCache()` remains the blunt escape).
  * [[packedBlocks]] is the exception: its block-level result is
  * eagerly materialized and its substrate released before returning,
  * so it retains nothing.
  *
  * Reference scope: the reference pipeline has no packing operator
  * (it is a flux-tower ETL); this extends the engine for the
  * large-scale training-data use cases in the build brief.
  */
object PackOps {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Substrates persisted by [[packOffsets]] and not yet released —
    * the retained cache is tracked here (and logged at creation)
    * rather than accumulating silently. */
  private val retained =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Release every substrate retained by prior packing runs. Call
    * AFTER those runs' results are fully consumed (collected or
    * written) — a result DataFrame read after release recomputes its
    * shuffle with fresh sampled range bounds and may lay the stream
    * out differently than the driver-held offsets it was built with. */
  def releaseSubstrates(): Unit = retained.synchronized {
    retained.foreach(Materialize.release)
    retained.clear()
  }

  /** Number of substrates currently retained (telemetry). */
  def retainedSubstrates: Int = retained.synchronized(retained.length)

  /** [[packOffsets]] plus the persisted substrate handle, so callers
    * that fully materialize their result ([[packedBlocks]]) can
    * release it immediately instead of retaining session-wide. */
  private def packOffsetsRetaining(df: DataFrame, idCol: String,
      tokenCol: String, salt: String): (DataFrame, DataFrame) = {
    val tokC = freshName("__tok", df.columns)
    val coordC = freshName("__coord", df.columns)
    val exclC = freshName("__excl", df.columns)
    val scan = PrefixScan(df
        .withColumn(tokC, coalesce(col(tokenCol).cast("long"), lit(0L)))
        .withColumn(coordC, SampleOps.hashCoord(col(idCol), salt)),
      Seq(col(coordC), col(idCol)), Seq(exclC -> col(tokC)))
    val out = scan.rows
      .withColumn("end_off", col(exclC) + col(tokC))
      .withColumn("start_off", col(exclC))
      .drop(tokC, coordC, exclC)
    (out, scan.substrate)
  }

  /** Absolute [start, end) token offsets per document in the
    * deterministic stream order (order key: [[SampleOps.hashCoord]]
    * of `idCol` under `salt`, ties broken by id). Adds `start_off` /
    * `end_off` (longs). Null `tokenCol` values count as 0 tokens —
    * null- and zero-token docs get an empty span at their position.
    *
    * Cost: one range shuffle + the two [[PrefixScan]] passes over
    * the persisted substrate; the only driver traffic is one row per
    * partition.
    *
    * RETAINS its persisted substrate until [[releaseSubstrates]] (see
    * the object scaladoc) — the lazy result must re-read the exact
    * shuffled partitions its driver-held offsets were computed from. */
  def packOffsets(df: DataFrame, idCol: String, tokenCol: String,
      salt: String): DataFrame = {
    val (out, sub) = packOffsetsRetaining(df, idCol, tokenCol, salt)
    retained.synchronized { retained += sub }
    log.info(s"packOffsets: retaining range-shuffled substrate #" +
      s"${retainedSubstrates} — call " +
      "PackOps.releaseSubstrates() after results are consumed")
    out
  }

  /** Materialize the packed training blocks: tokenize `textCol`, lay
    * the corpus out with [[packBlocks]], slice each document's tokens
    * to its per-block span, and assemble every block's token stream
    * in order. Returns one row per block: `block_id`, `n_docs`,
    * `block_tokens` (= blockTokens except the ragged last block), and
    * `content_md5` — the md5 of the block's space-joined token
    * stream, which pins the exact content without carrying it.
    *
    * Scale shape: ONE shuffle keyed by block_id on top of the pack
    * substrate; per-block aggregation state is bounded by
    * `blockTokens` BY CONSTRUCTION (a block holds at most blockTokens
    * tokens regardless of corpus size), so the collect_list can never
    * blow up the way an unbounded per-key collect would.
    *
    * Footprint note: the token arrays ride through the pack range
    * shuffle and its cached substrate (serialized, spilling to disk —
    * never OOMs), so the whole tokenized corpus is resident on
    * executor storage while the job runs. That buys a single
    * corpus-wide shuffle; the alternative — offsets over narrow
    * (id, count) rows, then an id-keyed join to re-attach tokens —
    * trades the cache for a second full shuffle. For corpora that
    * dwarf cluster storage, prefer the join variant (compose
    * [[packBlocks]] on counts with your own token join).
    *
    * EAGER, and retains nothing: the block-level result (orders of
    * magnitude smaller than the corpus) is checkpointed and the
    * tokenized-corpus substrate released before returning, so
    * repeated packs in a long-lived session don't accumulate cache —
    * unlike the lazy [[packOffsets]]/[[packBlocks]], whose
    * corpus-sized results make retention the only sound contract. */
  def packedBlocks(df: DataFrame, idCol: String, textCol: String,
      blockTokens: Int, salt: String): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    val docs = df.select(col(idCol),
        TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__n_tokens", size(col("__toks")).cast("long"))
    val (withOff, sub) =
      packOffsetsRetaining(docs, idCol, "__n_tokens", salt)
    try {
      val spans = blockSpans(withOff, "__n_tokens", blockTokens)
      val localOff = greatest(
        col("block_id") * blockTokens - col("start_off"), lit(0L))
      Materialize.checkpoint(spans
        .withColumn("__slice", slice(col("__toks"),
          (localOff + 1).cast("int"), col("span_tokens").cast("int")))
        .groupBy(col("block_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("span_tokens")).as("block_tokens"),
          md5(concat_ws(" ", flatten(transform(
            array_sort(collect_list(
              struct(col("start_in_block").as("o"), col("__slice").as("s")))),
            x => x.getField("s"))))).as("content_md5")))
    } finally Materialize.release(sub)
  }

  /** Explode each document into the fixed-size blocks it overlaps:
    * one row per (block_id, doc) with the document's token span
    * inside that block. Zero-token documents are dropped (they occupy
    * no stream positions). Output columns: `block_id`, the input
    * columns, `start_in_block` (0-based offset of the document's
    * first token inside the block), `span_tokens` (tokens of this
    * document inside this block).
    *
    * A document spanning k blocks emits k rows, so the output is
    * O(stream length / blockTokens + n_docs) rows — linear, with no
    * exchange beyond [[packOffsets]]'s one range shuffle. */
  def packBlocks(df: DataFrame, idCol: String, tokenCol: String,
      blockTokens: Int, salt: String): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    blockSpans(packOffsets(df, idCol, tokenCol, salt),
      tokenCol, blockTokens)
  }

  /** [[packBlocks]] with the [[packedBlocks]] retention contract:
    * the span table (one narrow row per (block, doc) overlap — input
    * columns + 5 longs, NEVER token content) is eagerly materialized
    * (serialized local checkpoint) and the range-shuffled substrate
    * released before returning. Retains nothing — the right
    * variant for long-lived sessions and benches; the lazy
    * [[packBlocks]] remains for pipelines that compose further
    * narrow work before materializing. */
  def packBlocksEager(df: DataFrame, idCol: String, tokenCol: String,
      blockTokens: Int, salt: String): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    val (withOff, sub) = packOffsetsRetaining(df, idCol, tokenCol, salt)
    try Materialize.checkpoint(blockSpans(withOff, tokenCol, blockTokens))
    finally Materialize.release(sub)
  }

  /** Span explosion of a pack-offsets frame (shared by the lazy
    * [[packBlocks]] and the eager [[packedBlocks]]). */
  private def blockSpans(withOffsets: DataFrame, tokenCol: String,
      blockTokens: Int): DataFrame = {
    val withOff = withOffsets
      .filter(col(tokenCol).isNotNull && col(tokenCol) > 0)
    val firstB = floor(col("start_off") / blockTokens).cast("long")
    val lastB = floor((col("end_off") - 1) / blockTokens).cast("long")
    withOff
      .withColumn("block_id", explode(sequence(firstB, lastB)))
      .withColumn("__bstart", col("block_id") * blockTokens)
      .withColumn("start_in_block",
        greatest(col("start_off") - col("__bstart"), lit(0L)))
      .withColumn("span_tokens",
        least(col("end_off"), col("__bstart") + blockTokens)
          - greatest(col("start_off"), col("__bstart")))
      .drop("__bstart")
  }

  /** One doc's packing verdict: the shard it hashed to, the 0-based
    * bin (training sequence) within that shard, its size, and whether
    * it overflowed the capacity (an oversize doc opens a bin alone —
    * downstream truncation/chunking handles it, visibly). */
  final case class PackedDoc(doc_id: Long, shard: Int, bin: Int,
      size: Long, overflow: Boolean)

  /** Best-fit-decreasing sequence packing — the truncation-REDUCING
    * alternative to concat-and-chunk (Ding et al. 2024, "Fewer
    * Truncations Improve Language Modeling"): whole documents are
    * placed into fixed-capacity bins (training sequences), never
    * split; within each shard docs are taken largest-first and each
    * goes to the open bin with the SMALLEST remaining space that
    * still fits (ties to the lowest bin index), opening a new bin
    * when none fits. Concat-and-chunk ([[packBlocks]]) truncates at
    * every block boundary; BFD wastes a little capacity as padding
    * instead and keeps documents intact.
    *
    * Determinism and scale shape: bin packing is inherently
    * sequential, so the parallel unit is a RECIPE-PINNED shard —
    * `shard = doc_id mod numShards` — and the layout depends only on
    * (ids, sizes, capacity, numShards): any cluster, any partitioning,
    * any re-run emits identical assignments (spec-pinned), and the
    * oracle replays the traversal as a recursive CTE (q139). Each
    * shard's FFD runs in one `flatMapGroups` pass holding only the
    * open-bin remainders (≤ shardTokens/capacity Longs); size the
    * shard count so a shard's docs fit an executor — the same
    * contract as [[graft.pipeline.FastData.writeShards]]. An
    * oversize doc (size > capacity) opens its own bin with a
    * NEGATIVE remainder — nothing else ever fits there, the doc is
    * flagged `overflow = true`, and the recipe stays total (no
    * throw mid-corpus; the flag is the audit hook). Null or negative
    * sizes DO throw — a silent 0 would corrupt every later fit in
    * the shard. */
  def bestFitPack(docs: DataFrame, idCol: String, sizeCol: String,
      capacity: Long, numShards: Int): DataFrame = {
    require(capacity > 0, s"capacity=$capacity")
    require(numShards >= 1, s"numShards=$numShards")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"),
        // null folds to a sentinel the guard below names explicitly —
        // encoding a null into the primitive tuple field would throw
        // an unnamed NPE instead
        coalesce(col(sizeCol).cast("long"), lit(Long.MinValue))
          .as("sz"),
        pmod(col(idCol).cast("long"), lit(numShards.toLong))
          .cast("int").as("shard"))
      .as[(Long, Long, Int)]
      .groupByKey(_._3)
      .flatMapGroups { (shardId: Int, it: Iterator[(Long, Long, Int)]) =>
        val ds = it.toArray
        ds.foreach { case (id, sz, _) =>
          if (sz == Long.MinValue) throw new IllegalArgumentException(
            s"bestFitPack: null size for doc $id")
          if (sz < 0L) throw new IllegalArgumentException(
            s"bestFitPack: negative size $sz for doc $id")
        }
        // largest first, ties to the smaller id — the BFD order
        scala.util.Sorting.stableSort(ds,
          (a: (Long, Long, Int), b: (Long, Long, Int)) =>
            a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
        // open bins indexed by remainder for O(log B) best-fit: the
        // ceiling entry is the tightest fit, its TreeSet head the
        // lowest bin index — identical semantics to the linear argmin
        // (spec-pinned against the sequential reference); a linear
        // scan is O(B) per doc and a 100k-doc shard owns ~B/2 open
        // bins by the end
        val byRem = new java.util.TreeMap[Long, java.util.TreeSet[Int]]
        var nBins = 0
        def add(r: Long, idx: Int): Unit = {
          var s = byRem.get(r)
          if (s == null) { s = new java.util.TreeSet[Int]; byRem.put(r, s) }
          s.add(idx); ()
        }
        ds.iterator.map { case (id, sz, _) =>
          val e = byRem.ceilingEntry(sz)
          val bin =
            if (e == null) {
              val idx = nBins; nBins += 1
              // zero-remainder bins stay indexed (a size-0 doc still
              // best-fits them); negative (oversize) never re-fit
              if (capacity - sz >= 0L) add(capacity - sz, idx)
              idx
            } else {
              val idx = e.getValue.first()
              e.getValue.remove(idx)
              if (e.getValue.isEmpty) byRem.remove(e.getKey)
              val left = e.getKey - sz
              if (left >= 0L) add(left, idx)
              idx
            }
          PackedDoc(id, shardId, bin, sz, sz > capacity)
        }
      }
      .toDF()
  }
}
