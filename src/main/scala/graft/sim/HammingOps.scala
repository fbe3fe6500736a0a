package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binary-signature retrieval — the cheapest tier of the quantizer
  * family (Charikar 2002 sign-random-projection: the cosine between
  * two vectors is monotone in the expected Hamming agreement of
  * their sign signatures; "binary hashing" retrieval à la ITQ/LSH
  * surveys). A d-float vector compresses to `planes` sign bits in
  * ONE packed BIGINT — at 48 bits that is a 5,000× payload cut from
  * d=768 floats, the coarsest point on the PQ (m codes) / SQ8 (d
  * bytes) / binary (d bits→1 word) spectrum. Ranking is
  * `bit_count(xor(sig_q, sig_n))` ASC — pure integer ops, exact,
  * engine-portable (DuckDB has the same xor/bit_count), and
  * codegen-native on both sides.
  *
  * Where it sits operationally: [[Similarity.lshTopK]] uses the SAME
  * sign bits to select CANDIDATES (equal bucket keys) and then ranks
  * by exact cosine; this ranks by the Hamming distance itself — no
  * float touch at query time, so it is the shortlist stage you run
  * when even SQ8 decode is too expensive, refined by
  * [[PqOps.adcRerankTopK]]-style exact reranking when needed.
  *
  * Signatures come from [[graft.functions.HyperplaneBits]] (fused
  * codegen kernel; the deterministic seeded ±1 planes of the LSH
  * family, so the oracle inlines the same plane literals). A null or
  * wrong-dimension vector signs to the all-zero signature (the
  * kernel's convention — it still ranks, at distance = popcount of
  * the other side; corpora with degenerate vectors should filter
  * upstream). [[signature]] packs ≤ 63 planes into one signed Long;
  * [[signatureWide]] packs any whole-word multiple into an
  * array<bigint> (128/256-bit signatures), and
  * [[hammingRerankTopK]] pairs the wide sketch with an exact-cosine
  * rerank over the shortlist.
  *
  * Query side is caller-bounded (broadcast, the
  * [[Similarity.bruteForceTopK]] contract). The corpus side moves
  * (id, one Long) — at this payload a full scan per query batch IS
  * the scale plan (100 TB of vectors = ~0.2% of that in signatures).
  *
  * Reference scope: the reference pipeline has no ANN operator;
  * extends the similarity family per the build brief's training-data
  * mandate. */
object HammingOps {

  /** Packed sign signature: one BIGINT with bit p = [dot(vec,
    * plane_p) ≥ 0], planes from the deterministic seeded generator. */
  def signature(vec: Column, planes: Int, dim: Int = 64,
      seed: Long = 42L): Column = {
    require(planes >= 1 && planes <= 63, s"planes=$planes")
    val hp = Similarity.hyperplanes(planes, dim, seed)
    element_at(graft.functions.HyperplaneBits.bandKeys(vec,
      hp.map(_.toIndexedSeq).toIndexedSeq, 1, planes), 1)
  }

  /** Signature table: (idCol, sig) — a pure narrow projection. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      planes: Int = 48, dim: Int = 64, seed: Long = 42L): DataFrame =
    df.select(col(idCol).cast("long").as(idCol),
      signature(col(vecCol), planes, dim, seed).as("sig"))

  /** Hamming top-k: queries (caller-bounded, broadcast) against the
    * signature corpus ([[encode]] output). Returns (q_id, rank,
    * n_id, hdist) ranked (hdist ASC, n_id ASC); self-matches drop. */
  def hammingTopK(queries: DataFrame, encoded: DataFrame, k: Int,
      planes: Int = 48, dim: Int = 64, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(k >= 1, s"k=$k")
    val q = queries.select(col(idCol).cast("long").as("q_id"),
      signature(col(vecCol), planes, dim, seed).as("__qsig"))
    val c = encoded.select(col(idCol).cast("long").as("n_id"),
      col("sig").as("__nsig"))
    val scored = broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        bit_count(col("__qsig").bitwiseXOR(col("__nsig")))
          .cast("int").as("hdist"))
    // Bounded top-k aggregate, not a row_number window: map-side
    // k-heaps per query cut the exchange from |Q|·N scored rows to
    // ≤ |Q|·k·partitions (see [[graft.functions.TopK]]). hdist is
    // already the ascending key (never null); n_id the unique
    // tiebreak.
    graft.functions.TopK.perQueryCut(scored, k, col("hdist"), "hdist")
  }

  /** Wide sign signature: `planes` bits packed `bitsPerWord` to the
    * BIGINT as an array<bigint> of planes/bitsPerWord words — the
    * ≥64-bit operating range a d=768 embedding actually wants
    * (128/256 bits; one 48-bit word keeps only ~6% of the sign
    * information at that d). Word w's bit r is plane
    * w·bitsPerWord+r — one fused [[graft.functions.HyperplaneBits]]
    * pass over the vector, same plane family and convention as
    * [[signature]] (the single-word form is the bitsPerWord=planes
    * special case). `bitsPerWord` ≤ 63 (sign-bit-free packing, so
    * DuckDB's signed BIGINT xor/bit_count replays each word
    * exactly); `planes` must divide into whole words. */
  def signatureWide(vec: Column, planes: Int, dim: Int = 64,
      seed: Long = 42L, bitsPerWord: Int = 32): Column = {
    require(bitsPerWord >= 1 && bitsPerWord <= 63,
      s"bitsPerWord=$bitsPerWord")
    require(planes >= 1 && planes % bitsPerWord == 0,
      s"planes=$planes not a multiple of bitsPerWord=$bitsPerWord")
    val hp = Similarity.hyperplanes(planes, dim, seed)
    graft.functions.HyperplaneBits.bandKeys(vec,
      hp.map(_.toIndexedSeq).toIndexedSeq, planes / bitsPerWord,
      bitsPerWord)
  }

  /** Wide-signature table: (idCol, sig array<bigint>) — a pure
    * narrow projection; at 128 bits the corpus payload is two words
    * per row, still ~0.4% of the d=64 float vectors. */
  def encodeWide(df: DataFrame, idCol: String, vecCol: String,
      planes: Int = 128, dim: Int = 64, seed: Long = 42L,
      bitsPerWord: Int = 32): DataFrame =
    df.select(col(idCol).cast("long").as(idCol),
      signatureWide(col(vecCol), planes, dim, seed, bitsPerWord)
        .as("sig"))

  /** Per-pair wide Hamming distance: Σ_w bit_count(xor(q_w, n_w)).
    * The word count is a plan constant, so this unrolls to a flat
    * xor/popcount chain inside whole-stage codegen (no higher-order
    * function, no per-row array allocation). */
  private def wideDist(qSig: Column, nSig: Column, words: Int): Column =
    (1 to words).map(w =>
      bit_count(element_at(qSig, w).bitwiseXOR(element_at(nSig, w))))
      .reduce(_ + _).cast("int")

  /** Wide-signature Hamming top-k: [[hammingTopK]]'s contract over
    * [[encodeWide]] signatures — (q_id, rank, n_id, hdist) ranked
    * (hdist ASC, n_id ASC), self-matches dropped, bounded top-k
    * aggregate cut. */
  def hammingTopKWide(queries: DataFrame, encoded: DataFrame, k: Int,
      planes: Int = 128, dim: Int = 64, seed: Long = 42L,
      bitsPerWord: Int = 32, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k=$k")
    val q = queries.select(col(idCol).cast("long").as("q_id"),
      signatureWide(col(vecCol), planes, dim, seed, bitsPerWord)
        .as("__qsig"))
    val c = encoded.select(col(idCol).cast("long").as("n_id"),
      col("sig").as("__nsig"))
    val scored = broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        wideDist(col("__qsig"), col("__nsig"), planes / bitsPerWord)
          .as("hdist"))
    graft.functions.TopK.perQueryCut(scored, k, col("hdist"), "hdist")
  }

  /** Two-stage retrieval: wide-Hamming SHORTLIST + exact cosine
    * rerank — the refinement pairing the family scaladoc promises
    * (the [[PqOps.adcRerankTopK]] pattern at the binary tier): stage
    * 1 cuts a `shortlist`-sized candidate set per query on pure
    * integer xor/popcount over the signature corpus; stage 2 fetches
    * the exact vectors for ONLY those shortlist·|Q| candidates
    * (shuffle-hash-pinned — corpus-derived side, never
    * estimate-broadcast) and re-ranks by exact rounded cosine. Buys
    * back the sketch's quantization error while the corpus-wide scan
    * still moves only signature words. Returns (q_id, rank, n_id,
    * cos) ranked (cos DESC nulls last, n_id ASC); requires
    * shortlist ≥ k.
    *
    * SIZING (the d=768 recall panel, BENCH_NOTES "Round 17: d=768
    * wide-Hamming recall point" — measured, not derived): at real embedding
    * dimensionality the RAW wide-Hamming ranking is a candidate
    * generator only (≤ 10% recall@10 even at 256 bits), so this
    * two-stage form is the operating level, and the shortlist is the
    * knob that buys recall:
    *   - planes = 256 (bitsPerWord = 32 → 8 words/row);
    *   - shortlist ≥ 40·k ([[recommendedShortlist]]) — the panel
    *     measured recall@10 of 1.000 / 0.9995 / 0.650 across its
    *     clean / noisy / adversarial-noise ladder at that setting,
    *     vs collapse at shortlist = k;
    *   - exact rerank as written here (never skip stage 2 at d ≫
    *     planes).
    * The 40·k shortlist keeps stage 2 tiny (40·k·|Q| vector
    * fetches) while the corpus-wide stage-1 scan still moves only
    * 8 BIGINT words per row ≈ 0.4% of the d=768 float payload. */
  /** The measured shortlist floor for [[hammingRerankTopK]] at real
    * embedding dimensionality: 40·k (the BENCH_NOTES r17 d=768
    * panel's operating point — recall@10 ≥ 0.9995 on the panel's clean and
    * noisy arms at 256 bits). Callers with adversarial near-ties
    * (the panel's hardest arm read 0.650) should raise the
    * multiplier or the plane count, not skip the rerank. */
  def recommendedShortlist(k: Int): Int = {
    require(k >= 1, s"k=$k")
    math.multiplyExact(40, k)
  }

  def hammingRerankTopK(queries: DataFrame, corpus: DataFrame,
      encoded: DataFrame, k: Int, shortlist: Int, planes: Int = 128,
      dim: Int = 64, seed: Long = 42L, bitsPerWord: Int = 32,
      roundScale: Int = 6, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val p = math.pow(10.0, roundScale)
    val cand = hammingTopKWide(queries, encoded, shortlist, planes,
      dim, seed, bitsPerWord, idCol, vecCol).select("q_id", "n_id")
    val nvec = corpus.select(col(idCol).cast("long").as("n_id"),
        col(vecCol).as("n_vec"))
      .withColumn("n_norm",
        sqrt(Similarity.dot(col("n_vec"), col("n_vec"))))
    val qvec = queries.select(col(idCol).cast("long").as("q_id"),
        col(vecCol).as("q_vec"))
      .withColumn("q_norm",
        sqrt(Similarity.dot(col("q_vec"), col("q_vec"))))
    val rescored = cand.join(nvec.hint("shuffle_hash"), "n_id")
      .join(broadcast(qvec), "q_id")
      .select(col("q_id"), col("n_id"),
        (floor(when(col("q_norm") > 0.0 && col("n_norm") > 0.0,
          Similarity.dot(col("q_vec"), col("n_vec")) /
            (col("q_norm") * col("n_norm"))) * p + 0.5) / p).as("cos"))
    Similarity.topKCut(rescored, k)
  }
}
