package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.t

/** The embedding tier (SURVEY.md §2.12): exact and approximate
  * nearest-neighbour search (LSH, IVF, PQ, SQ, OPQ, Hamming), embedding
  * near-dup pairs, SemDeDup, prototype pruning and hard-negative
  * mining over the `embeddings` table. */
object SimQueries {

  /** DuckDB mirror of [[graft.sim.SemDedup.semDedup]] (q87's
    * parameters: threshold 0.35, C = count/20 id-modulo centroids) —
    * shared verbatim by q113, whose PQ/SDC pair stage must reproduce
    * this output exactly. */
  private def semdedupOracle: String = """
      WITH RECURSIVE e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      cent AS (SELECT id AS c_id, v AS cv, nrm AS cnrm FROM n
               WHERE id % greatest(1,
                 (SELECT count(*) FROM embeddings) // 20) = 0),
      assign AS (SELECT n.id, n.v, n.nrm, c_id,
          (CASE WHEN n.nrm > 0.0 AND cnrm > 0.0
            THEN floor(list_inner_product(n.v, cv) / (n.nrm * cnrm)
                   * 1000000.0 + 0.5) / 1000000.0 END) AS cosc,
          row_number() OVER (PARTITION BY n.id ORDER BY
            (CASE WHEN n.nrm > 0.0 AND cnrm > 0.0
              THEN floor(list_inner_product(n.v, cv) / (n.nrm * cnrm)
                     * 1000000.0 + 0.5) / 1000000.0 END) DESC,
            c_id ASC) AS r
        FROM n CROSS JOIN cent),
      m AS (SELECT id, v, nrm, c_id AS cluster, cosc AS cos_c
            FROM assign WHERE r = 1),
      pairs AS (SELECT a.id AS id_a, b.id AS id_b
        FROM m a JOIN m b ON a.cluster = b.cluster AND a.id < b.id
        WHERE (CASE WHEN a.nrm > 0.0 AND b.nrm > 0.0
          THEN floor(list_inner_product(a.v, b.v) / (a.nrm * b.nrm)
                 * 1000000.0 + 0.5) / 1000000.0 END) >= 0.35),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT id, id FROM m
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      lab AS (SELECT m.id, m.cluster, m.cos_c, comp.component,
          first_value(m.id) OVER (PARTITION BY component
            ORDER BY cos_c ASC NULLS FIRST, m.id ASC) AS rep_id
        FROM m JOIN comp ON m.id = comp.id)
      SELECT id::BIGINT AS vec_id, cluster::BIGINT AS cluster, cos_c,
             component::BIGINT AS component, rep_id::BIGINT AS rep_id,
             (id = rep_id) AS keep
      FROM lab ORDER BY vec_id"""

  private def planeLit(p: Array[Double]): String =
    p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** DuckDB mirror of [[graft.sim.HammingOps.hammingTopK]]: the same
    * seeded plane literals, the packed sign signature, and the
    * xor-popcount ranking. */
  private def hammingOracle: String = {
    val hp = graft.sim.Similarity.hyperplanes(48, 64)
    val sig = (0 until 48).map { p =>
      s"(CASE WHEN list_inner_product(v, ${planeLit(hp(p))}::DOUBLE[]) >= 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      sg AS (SELECT id, ($sig)::BIGINT AS sig FROM e),
      q AS (SELECT id AS q_id, sig AS qsig FROM sg WHERE id < 10),
      sc AS (SELECT q_id, sg.id AS n_id,
          bit_count(xor(qsig, sig))::INT AS hdist
        FROM q JOIN sg ON q.q_id <> sg.id),
      rk AS (SELECT q_id, n_id, hdist, row_number() OVER (
            PARTITION BY q_id ORDER BY hdist ASC, n_id ASC) AS rank
        FROM sc)
      SELECT q_id, rank::INT AS rank, n_id, hdist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""
  }

  /** Shared DuckDB prelude for the WIDE (multi-word) signature
    * oracles: normalized vectors `n(id, v, nrm)` and per-word packed
    * signatures `sg(id, s0..s{words-1})` from the same seeded plane
    * literals as [[graft.sim.HammingOps.signatureWide]] (word w's
    * bit r = plane w·bpw+r), plus the per-pair word-summed Hamming
    * ranking `rk` over queries id < 10. */
  private def hammingWidePrelude(planes: Int, bpw: Int): String = {
    val words = planes / bpw
    val hp = graft.sim.Similarity.hyperplanes(planes, 64)
    def sigw(w: Int): String = (0 until bpw).map { r =>
      s"(CASE WHEN list_inner_product(v, ${planeLit(hp(w * bpw + r))}::DOUBLE[]) >= 0.0 THEN ${1L << r} ELSE 0 END)"
    }.mkString(" + ")
    val sigCols = (0 until words)
      .map(w => s"(${sigw(w)})::BIGINT AS s$w")
      .mkString(", ")
    val qCols = (0 until words).map(w => s"s$w AS qs$w").mkString(", ")
    val hsum = (0 until words)
      .map(w => s"bit_count(xor(qs$w, s$w))").mkString(" + ")
    s"""
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      sg AS (SELECT id, $sigCols FROM e),
      q AS (SELECT id AS q_id, $qCols FROM sg WHERE id < 10),
      sc AS (SELECT q_id, sg.id AS n_id, ($hsum)::INT AS hdist
        FROM q JOIN sg ON q.q_id <> sg.id),
      rk AS (SELECT q_id, n_id, hdist, row_number() OVER (
            PARTITION BY q_id ORDER BY hdist ASC, n_id ASC) AS rank
        FROM sc)"""
  }

  /** DuckDB mirror of [[graft.sim.HammingOps.hammingTopKWide]]
    * (128 planes, 32 bits/word). */
  private def hammingWideOracle: String =
    hammingWidePrelude(128, 32) + """
      SELECT q_id, rank::INT AS rank, n_id, hdist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""

  /** DuckDB mirror of [[graft.sim.HammingOps.hammingRerankTopK]]:
    * the wide-signature 20-deep shortlist, then exact rounded cosine
    * re-ranked (cos DESC, n_id ASC — DuckDB's DESC defaults nulls
    * last, the Spark window convention). */
  private def hammingRerankOracle: String =
    hammingWidePrelude(128, 32) + """,
      short AS (SELECT q_id, n_id FROM rk WHERE rank <= 20),
      resc AS (SELECT s.q_id, s.n_id,
          (CASE WHEN qn.nrm > 0.0 AND nn.nrm > 0.0
            THEN floor(list_inner_product(qn.v, nn.v)
                   / (qn.nrm * nn.nrm) * 1000000.0 + 0.5) / 1000000.0
           END) AS cos
        FROM short s JOIN n qn ON s.q_id = qn.id
                     JOIN n nn ON s.n_id = nn.id),
      rk2 AS (SELECT q_id, n_id, cos, row_number() OVER (
            PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        FROM resc)
      SELECT q_id, rank::INT AS rank, n_id, cos
      FROM rk2 WHERE rank <= 5 ORDER BY q_id, rank"""

  /** DuckDB mirror of [[graft.sim.Similarity.lshTopK]] (8 planes —
    * what `autoPlanes` resolves to for any corpus below 256k rows, so
    * the default-parameter Spark call matches this oracle at every
    * test SF): bucket sign bits computed from the same seeded plane
    * literals, and the same oversize-bucket cap, so the approximate
    * candidate set is hash-checked exactly. */
  private def lshAnnOracle: String = {
    val hp = graft.sim.Similarity.hyperplanes(8, 64)
    val bucket = (0 until 8).map { p =>
      s"(CASE WHEN list_inner_product(v, ${planeLit(hp(p))}::DOUBLE[]) >= 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      bk0 AS (SELECT id, v, nrm, $bucket AS bucket FROM n),
      ok AS (SELECT bucket FROM bk0 GROUP BY bucket
             HAVING count(*) <= 100000),
      bk AS (SELECT bk0.* FROM bk0 JOIN ok USING (bucket)),
      sc AS (SELECT a.id AS q_id, b.id AS n_id,
          CASE WHEN a.nrm > 0.0 AND b.nrm > 0.0
            THEN floor(list_inner_product(a.v, b.v) / (a.nrm * b.nrm)
                   * 1000000.0 + 0.5) / 1000000.0 END AS cos
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id <> b.id),
      rk AS (SELECT q_id, n_id, cos,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, n_id ASC) AS rank
        FROM sc)
      SELECT q_id, n_id, cos, rank FROM rk WHERE rank <= 5
      ORDER BY q_id, rank"""
  }

  /** DuckDB mirror of [[graft.sim.Similarity.cosineNearDupPairs]] for
    * given banding parameters: plane literals are inlined from the
    * same seeded generator the Spark side uses, and the oversize-
    * bucket cap is applied identically (HAVING over the band keys). */
  private def neardupOracle(bands: Int, rowsPerBand: Int,
      threshold: Double): String = {
    val hp = graft.sim.Similarity.hyperplanes(bands * rowsPerBand, 64)
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until rowsPerBand).map { r =>
        s"(CASE WHEN list_inner_product(v, ${planeLit(hp(b * rowsPerBand + r))}::DOUBLE[]) >= 0.0 THEN ${1L << r} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT id, v, nrm, $b AS band, $key AS key FROM n"
    }.mkString("\n      UNION ALL ")
    s"""
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      bk0 AS ($bandSelects),
      ok AS (SELECT band, key FROM bk0 GROUP BY band, key
             HAVING count(*) <= 100000),
      bk AS (SELECT bk0.* FROM bk0 JOIN ok USING (band, key)),
      cand AS (SELECT a.id AS id_a, b.id AS id_b,
          min(CASE WHEN a.nrm > 0.0 AND b.nrm > 0.0
            THEN floor(list_inner_product(a.v, b.v) / (a.nrm * b.nrm)
                   * 1000000.0 + 0.5) / 1000000.0 END) AS cos
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.key = b.key AND a.id < b.id
        GROUP BY 1, 2)
      SELECT id_a, id_b, cos FROM cand WHERE cos >= $threshold
      ORDER BY id_a, id_b"""
  }

  /** This family's records; [[graft.SparkEntry.registry]] collects them. */
  val all: Seq[Query] = Seq(

  /** Brute-force cosine top-5 for query vectors vec_id < 10. */
  Query("q32_cosine_topk") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    graft.sim.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, 5, roundScale = 6)
      .orderBy("q_id", "rank")
  } (oracle = """
      WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
      sc AS (SELECT q_id, n_id,
          CASE WHEN sqrt(list_inner_product(qv, qv)) > 0.0
                AND sqrt(list_inner_product(nv, nv)) > 0.0
            THEN floor((list_inner_product(qv, nv)
              / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))))
              * 1000000.0 + 0.5) / 1000000.0 END AS cos
        FROM q, c WHERE n_id <> q_id),
      r AS (SELECT q_id, n_id, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
        FROM sc)
      SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 5
      ORDER BY q_id, rank"""),

  /** LSH-bucketed ANN at the library default (auto plane count —
    * resolves to 8 below 256k vectors, which the oracle inlines). */
  Query("q33_lsh_ann") { (s, dir) =>
    graft.sim.Similarity.lshTopK(t(s, dir, "embeddings"), 5)
      .orderBy("q_id", "rank")
  } (oracle = lshAnnOracle),

  /** Embedding-cosine near-dup pairs: banded random-hyperplane LSH
    * candidates, exact-cosine rescore, 0.35 rounded-cosine cut.
    * Oracle replicates the plane literals, band keys, and rounding in
    * DuckDB SQL, so the approximate candidate set itself is checked
    * exactly — not just the rescore. */
  Query("q42_embed_neardup") { (s, dir) =>
    // Demo-recall banding (4 bands × 4 bits): on the 500-vector
    // fixture most near pairs should collide so the rescore path gets
    // exercised; the library default is the scale shape (see q51).
    graft.sim.Similarity.cosineNearDupPairs(
        t(s, dir, "embeddings"), 0.35, bands = 4, rowsPerBand = 4)
      .orderBy("id_a", "id_b")
  } (oracle = neardupOracle(4, 4, 0.35)),

  /** Embedding near-dup at the library's corpus-scale defaults
    * (8 bands × 16 sign bits — 65536 keys per band, bucket cap):
    * candidate recall is deliberately LSH-approximate; the oracle
    * replicates the banding bit-for-bit so the result is still
    * hash-exact. */
  Query("q51_neardup_scaled") { (s, dir) =>
    graft.sim.Similarity.cosineNearDupPairs(
        t(s, dir, "embeddings"), 0.35)
      .orderBy("id_a", "id_b")
  } (oracle = neardupOracle(8, 16, 0.35)),

  /** IVF ANN: deterministic coarse quantizer targeting 20 centroids
    * (stride = n/20, derived — NOT a fixed stride, so |C| stays
    * broadcast-small at any corpus size), nProbe=2 probed lists,
    * exact cosine rescore, top-5. Oracle replicates quantizer
    * (including the count-derived stride), probe ranking, rescore. */
  Query("q43_ivf_ann") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    graft.sim.Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, 5,
        numCentroids = 20, nProbe = 2)
      .orderBy("q_id", "rank")
  } (oracle = """
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      cent AS (SELECT id AS c_id, v AS cv, nrm AS cnrm FROM n
               WHERE id % greatest(1,
                 (SELECT count(*) FROM embeddings) // 20) = 0),
      assign AS (SELECT n.id AS n_id, n.v AS nv, n.nrm AS nnrm, c_id,
          row_number() OVER (PARTITION BY n.id ORDER BY
            (CASE WHEN n.nrm > 0.0 AND cnrm > 0.0
              THEN floor(list_inner_product(n.v, cv) / (n.nrm * cnrm)
                     * 1000000.0 + 0.5) / 1000000.0 END) DESC,
            c_id ASC) AS r
        FROM n CROSS JOIN cent),
      lists AS (SELECT c_id AS list_id, n_id, nv, nnrm
                FROM assign WHERE r = 1),
      q AS (SELECT id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE id < 10),
      probe AS (SELECT q_id, qv, qnrm, c_id AS list_id,
          row_number() OVER (PARTITION BY q_id ORDER BY
            (CASE WHEN qnrm > 0.0 AND cnrm > 0.0
              THEN floor(list_inner_product(qv, cv) / (qnrm * cnrm)
                     * 1000000.0 + 0.5) / 1000000.0 END) DESC,
            c_id ASC) AS r
        FROM q CROSS JOIN cent),
      sc AS (SELECT q_id, n_id,
          CASE WHEN qnrm > 0.0 AND nnrm > 0.0
            THEN floor(list_inner_product(qv, nv) / (qnrm * nnrm)
                   * 1000000.0 + 0.5) / 1000000.0 END AS cos
        FROM (SELECT * FROM probe WHERE r <= 2) p
        JOIN lists USING (list_id) WHERE q_id <> n_id),
      rk AS (SELECT q_id, n_id, cos,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, n_id ASC) AS rank
        FROM sc)
      SELECT q_id, rank, n_id, cos FROM rk WHERE rank <= 5
      ORDER BY q_id, rank"""),

  /** SemDeDup (Abbas et al. 2023) over the embeddings table: stride
    * quantizer (count-derived, same invariant as q43), exhaustive
    * within-cluster pairs at rounded-cosine 0.35, connected
    * components, keep = least-similar-to-centroid exemplar per
    * ε-cluster. The oracle re-derives the whole chain — quantizer,
    * assignment, pair set, reachability, exemplar choice — in SQL. */
  Query("q87_semdedup") { (s, dir) =>
    graft.sim.SemDedup.semDedup(t(s, dir, "embeddings"), 0.35,
        numCentroids = 20)
      .select(col("id").as("vec_id"), col("cluster"), col("cos_c"),
        col("component"), col("rep_id"), col("keep"))
      .orderBy("vec_id")
  } (oracle =
    // Full SemDeDup chain re-derived: count-derived stride quantizer
    // (q43's convention), rounded-cosine assignment with the
    // (cos DESC, c_id ASC) total order, exhaustive within-cluster
    // pair set at 0.35, recursive-CTE reachability (q41's convention),
    // exemplar = first by (cos_c ASC NULLS FIRST, id ASC).
    semdedupOracle),

  /** Product quantization + ADC search ([[graft.sim.PqOps]]): train
    * 4 codebooks of 4 codes each with ONE deterministic integer Lloyd
    * round (seed = the 4 smallest-id vectors), PQ-encode the corpus,
    * and ADC-rank the 5 query vectors' top-5 by looked-up micro-unit
    * L1. Everything is exact BIGINT, so the oracle replays the whole
    * pipeline — quantization, seed, the Lloyd update's
    * `(2s+n)//(2n)` floor-round, encode argmin (ties to the smaller
    * code), and the per-pair subspace lookup sum — and the hash pins
    * codebook, codes, and distances bit-for-bit. */
  Query("q108_pq_ann") { (s, dir) =>
    import graft.sim.PqOps
    val emb = t(s, dir, "embeddings")
    val model = PqOps.pqTrain(emb, "vec_id", "embedding",
      subspaces = 4, k = 4, iters = 1)
    val enc = PqOps.pqEncode(emb, "vec_id", "embedding", model)
    PqOps.adcTopK(emb.filter(col("vec_id") < 5), enc, 5, model)
      .orderBy("q_id", "rank")
  } (oracle =
    // Full PQ replay: quantize to the 2^20 micro-unit grid, seed the
    // 4x4 codebook from the 4 smallest ids, one integer Lloyd round
    // ((2s+n)//(2n), empty codes keep their centroid), argmin encode
    // (ties to the smaller code), then ADC = per-subspace lookup sum.
    """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, qv
               FROM e ORDER BY id LIMIT 4),
      cb0 AS (SELECT sub, j,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      sv AS (SELECT id, sub,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM e CROSS JOIN subs),
      a0 AS (SELECT id, sub, j, ssv, row_number() OVER (
            PARTITION BY id, sub ORDER BY
            list_aggregate(list_transform(range(1, 17),
              i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
        FROM sv JOIN cb0 USING (sub)),
      stats AS (SELECT sub, j AS cl, d.i AS dim,
          sum(ssv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM a0 WHERE r = 1) a
        CROSS JOIN range(1, 17) d(i)
        GROUP BY sub, j, d.i),
      cb1 AS (SELECT c0.sub, c0.j,
          coalesce(m.nv, c0.cv) AS cv
        FROM cb0 c0 LEFT JOIN (
          SELECT sub, cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM stats GROUP BY sub, cl) m
        ON c0.sub = m.sub AND c0.j = m.cl),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb1.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb1 USING (sub)) WHERE r = 1),
      q AS (SELECT id AS q_id, sub, ssv AS qsv FROM sv WHERE id < 5),
      d AS (SELECT q.q_id, enc.id AS n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM q JOIN enc ON q.sub = enc.sub AND q.q_id <> enc.id
        JOIN cb1 ON cb1.sub = enc.sub AND cb1.j = enc.code
        GROUP BY q.q_id, enc.id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),

  /** IVFADC ([[graft.sim.PqOps.ivfPqTopK]]): coarse lists from the
    * count-derived id-modulo centroid sample (the q43 seed) assigned
    * by integer L1, PQ codes from the iters=0 seed codebook (8
    * smallest-id vectors), each query ADC-scoring only its 2 probed
    * lists. The oracle replays coarse assignment, probing, encoding,
    * and the candidate-restricted lookup ranking. */
  Query("q109_ivfpq_ann") { (s, dir) =>
    import graft.sim.PqOps
    val emb = t(s, dir, "embeddings")
    val model = PqOps.pqTrain(emb, "vec_id", "embedding",
      subspaces = 4, k = 8, iters = 0)
    PqOps.ivfPqTopK(emb.filter(col("vec_id") < 5), emb, 5, model,
        numCoarse = 20, nProbe = 2)
      .orderBy("q_id", "rank")
  } (oracle =
    // IVFADC replay: coarse centroids = the q43 id-modulo sample
    // (0-based index in id order = Spark's list id), full-vector
    // integer-L1 assignment and probing, iters=0 seed codebook (the
    // 8 smallest ids), ADC restricted to each query's 2 probed lists.
    """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, qv
               FROM e ORDER BY id LIMIT 8),
      cb AS (SELECT sub, j,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      cent AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c_idx,
          qv AS cqv
        FROM e WHERE id % greatest(1,
          (SELECT count(*) FROM embeddings) // 20) = 0),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      lists AS (SELECT id AS n_id, c_idx AS list_id FROM lst
                WHERE r = 1),
      sv AS (SELECT id, sub,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM e CROSS JOIN subs),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb USING (sub)) WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      cand AS (SELECT p.q_id, l.n_id FROM probe p
        JOIN lists l USING (list_id) WHERE p.q_id <> l.n_id),
      q AS (SELECT id AS q_id, sub, ssv AS qsv FROM sv WHERE id < 5),
      d AS (SELECT c.q_id, c.n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM cand c
        JOIN q ON q.q_id = c.q_id
        JOIN enc ON enc.id = c.n_id AND enc.sub = q.sub
        JOIN cb ON cb.sub = enc.sub AND cb.j = enc.code
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),

  /** IVFADC with residual encoding ([[graft.sim.PqOps
    * .ivfPqTopKResidual]]): same coarse layout as q109, but the PQ
    * codebook trains on (and rows encode) `vec − coarseCentroid`,
    * re-offset to stay all-positive, with ONE Lloyd round on the
    * residuals — the Jégou §IV.B recall refinement. The oracle
    * replays assignment, residual arithmetic, the residual-domain
    * Lloyd update, encode, and the per-probed-list lookup ranking. */
  Query("q112_ivfpq_residual") { (s, dir) =>
    import graft.sim.PqOps
    val emb = t(s, dir, "embeddings")
    PqOps.ivfPqTopKResidual(emb.filter(col("vec_id") < 5), emb, 5,
        subspaces = 4, codes = 8, iters = 1, numCoarse = 20,
        nProbe = 2)
      .orderBy("q_id", "rank")
  } (oracle =
    // Residual IVFADC replay: q109's coarse assignment, then
    // residual = qv - assignedCentroid + 2^22 (all-positive
    // re-offset), seed codebook from the 8 smallest ids' residuals,
    // ONE Lloyd round in the residual domain ((2s+n)//(2n)), argmin
    // encode, and per-probed-list query residual lookup tables.
    """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      cent AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c_idx,
          qv AS cqv
        FROM e WHERE id % greatest(1,
          (SELECT count(*) FROM embeddings) // 20) = 0),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      asg AS (SELECT id, c_idx AS list_id FROM lst WHERE r = 1),
      res AS (SELECT e.id, a.list_id,
          list_transform(range(1, 65),
            i -> e.qv[i] - c.cqv[i] + 4194304) AS rv
        FROM e JOIN asg a ON e.id = a.id
        JOIN cent c ON c.c_idx = a.list_id),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, rv
               FROM res ORDER BY id LIMIT 8),
      cb0 AS (SELECT sub, j,
          list_slice(rv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      sv AS (SELECT id, sub,
          list_slice(rv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM res CROSS JOIN subs),
      a0 AS (SELECT id, sub, j, ssv, row_number() OVER (
            PARTITION BY id, sub ORDER BY
            list_aggregate(list_transform(range(1, 17),
              i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
        FROM sv JOIN cb0 USING (sub)),
      stats AS (SELECT sub, j AS cl, d.i AS dim,
          sum(ssv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM a0 WHERE r = 1) a
        CROSS JOIN range(1, 17) d(i)
        GROUP BY sub, j, d.i),
      cb1 AS (SELECT c0.sub, c0.j,
          coalesce(m.nv, c0.cv) AS cv
        FROM cb0 c0 LEFT JOIN (
          SELECT sub, cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM stats GROUP BY sub, cl) m
        ON c0.sub = m.sub AND c0.j = m.cl),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb1.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb1 USING (sub)) WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      qres AS (SELECT p.q_id, p.list_id,
          list_transform(range(1, 65),
            i -> e.qv[i] - c.cqv[i] + 4194304) AS qrv
        FROM probe p JOIN e ON e.id = p.q_id
        JOIN cent c ON c.c_idx = p.list_id),
      qs AS (SELECT q_id, list_id, sub,
          list_slice(qrv, sub * 16 + 1, sub * 16 + 16) AS qsv
        FROM qres CROSS JOIN subs),
      cand AS (SELECT p.q_id, p.list_id, a.id AS n_id FROM probe p
        JOIN asg a ON a.list_id = p.list_id WHERE p.q_id <> a.id),
      d AS (SELECT c.q_id, c.n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(q.qsv[i] - cb.cv[i])), 'sum'))::BIGINT AS adist
        FROM cand c
        JOIN qs q ON q.q_id = c.q_id AND q.list_id = c.list_id
        JOIN enc ON enc.id = c.n_id AND enc.sub = q.sub
        JOIN cb1 cb ON cb.sub = enc.sub AND cb.j = enc.code
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),

  /** PQ/SDC SemDeDup ([[graft.sim.SemDedup.semDedupPq]]): q87's exact
    * dataflow with the quadratic pair stage compressed — codes +
    * error scalars ride the in-cluster self-join, pairs score by SDC
    * table lookup under an exact-recall bound, survivors rescore
    * exactly. Output must be BIT-IDENTICAL to q87 (same oracle). */
  Query("q113_semdedup_pq") { (s, dir) =>
    graft.sim.SemDedup.semDedupPq(t(s, dir, "embeddings"), 0.35,
        numCentroids = 20)
      .select(col("id").as("vec_id"), col("cluster"), col("cos_c"),
        col("component"), col("rep_id"), col("keep"))
      .orderBy("vec_id")
  } (oracle =
    // The PQ/SDC variant is OUTPUT-IDENTICAL to q87 by construction
    // (exact-recall prefilter + exact rescore), so it is pinned
    // against the very same replay — any recall loss in the SDC
    // bound hash-mismatches here.
    semdedupOracle),

  /** ADC shortlist + exact rerank ([[graft.sim.PqOps.adcRerankTopK]],
    * FAISS-style two-stage retrieval): q108's model and code corpus,
    * shortlist 10 per query by ADC, exact integer-L1 rerank of the
    * shortlist to top-5. The oracle replays the whole q108 chain plus
    * the exact rerank of the shortlist pairs. */
  Query("q115_adc_rerank") { (s, dir) =>
    import graft.sim.PqOps
    val emb = t(s, dir, "embeddings")
    val model = PqOps.pqTrain(emb, "vec_id", "embedding",
      subspaces = 4, k = 4, iters = 1)
    val enc = PqOps.pqEncode(emb, "vec_id", "embedding", model)
    PqOps.adcRerankTopK(emb.filter(col("vec_id") < 5), emb, enc,
        k = 5, shortlist = 10, model)
      .orderBy("q_id", "rank")
  } (oracle =
    // q108's full PQ replay, shortlist widened to 10, then the exact
    // integer-L1 rerank of the shortlist pairs down to top-5.
    """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, qv
               FROM e ORDER BY id LIMIT 4),
      cb0 AS (SELECT sub, j,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      sv AS (SELECT id, sub,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM e CROSS JOIN subs),
      a0 AS (SELECT id, sub, j, ssv, row_number() OVER (
            PARTITION BY id, sub ORDER BY
            list_aggregate(list_transform(range(1, 17),
              i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
        FROM sv JOIN cb0 USING (sub)),
      stats AS (SELECT sub, j AS cl, d.i AS dim,
          sum(ssv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM a0 WHERE r = 1) a
        CROSS JOIN range(1, 17) d(i)
        GROUP BY sub, j, d.i),
      cb1 AS (SELECT c0.sub, c0.j,
          coalesce(m.nv, c0.cv) AS cv
        FROM cb0 c0 LEFT JOIN (
          SELECT sub, cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM stats GROUP BY sub, cl) m
        ON c0.sub = m.sub AND c0.j = m.cl),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb1.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb1 USING (sub)) WHERE r = 1),
      q AS (SELECT id AS q_id, sub, ssv AS qsv FROM sv WHERE id < 5),
      d AS (SELECT q.q_id, enc.id AS n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM q JOIN enc ON q.sub = enc.sub AND q.q_id <> enc.id
        JOIN cb1 ON cb1.sub = enc.sub AND cb1.j = enc.code
        GROUP BY q.q_id, enc.id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d),
      sl AS (SELECT q_id, n_id FROM rk WHERE rank <= 10),
      ex AS (SELECT sl.q_id, sl.n_id,
          list_aggregate(list_transform(range(1, 65),
            i -> abs(qa.qv[i] - qb.qv[i])), 'sum')::BIGINT AS dist
        FROM sl JOIN e qa ON qa.id = sl.q_id
        JOIN e qb ON qb.id = sl.n_id),
      rr AS (SELECT q_id, n_id, dist, row_number() OVER (
            PARTITION BY q_id ORDER BY dist ASC, n_id ASC) AS rank
        FROM ex)
      SELECT q_id, rank::INT AS rank, n_id, dist
      FROM rr WHERE rank <= 5 ORDER BY q_id, rank"""),

  /** ANN recall evaluation ([[graft.sim.EvalOps.recallAtK]]): q109's
    * IVFADC result scored against flat ADC over the same codebook as
    * ground truth — per-query hits and exact integer micro-unit
    * recall. The oracle replays both rankings and the semi-join
    * intersection. */
  Query("q116_ann_recall") { (s, dir) =>
    import graft.sim.{EvalOps, PqOps}
    val emb = t(s, dir, "embeddings")
    val model = PqOps.pqTrain(emb, "vec_id", "embedding",
      subspaces = 4, k = 8, iters = 0)
    val enc = PqOps.pqEncode(emb, "vec_id", "embedding", model)
    val truth = PqOps.adcTopK(emb.filter(col("vec_id") < 5), enc, 5,
      model)
    val approx = PqOps.ivfPqTopK(emb.filter(col("vec_id") < 5), emb, 5,
      model, numCoarse = 20, nProbe = 2)
    EvalOps.recallAtK(approx, truth).orderBy("q_id")
  } (oracle =
    // q109's IVFADC chain + a flat-ADC ranking over the same seed
    // codebook as ground truth, then the per-query intersection and
    // the exact micro-unit recall division.
    """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, qv
               FROM e ORDER BY id LIMIT 8),
      cb AS (SELECT sub, j,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      cent AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c_idx,
          qv AS cqv
        FROM e WHERE id % greatest(1,
          (SELECT count(*) FROM embeddings) // 20) = 0),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      lists AS (SELECT id AS n_id, c_idx AS list_id FROM lst
                WHERE r = 1),
      sv AS (SELECT id, sub,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM e CROSS JOIN subs),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb USING (sub)) WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      cand AS (SELECT p.q_id, l.n_id FROM probe p
        JOIN lists l USING (list_id) WHERE p.q_id <> l.n_id),
      q AS (SELECT id AS q_id, sub, ssv AS qsv FROM sv WHERE id < 5),
      d AS (SELECT c.q_id, c.n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM cand c
        JOIN q ON q.q_id = c.q_id
        JOIN enc ON enc.id = c.n_id AND enc.sub = q.sub
        JOIN cb ON cb.sub = enc.sub AND cb.j = enc.code
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d),
      dflat AS (SELECT q.q_id, enc.id AS n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM q JOIN enc ON q.sub = enc.sub AND q.q_id <> enc.id
        JOIN cb ON cb.sub = enc.sub AND cb.j = enc.code
        GROUP BY q.q_id, enc.id),
      rkflat AS (SELECT q_id, n_id, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM dflat),
      tr AS (SELECT q_id, n_id FROM rkflat WHERE rank <= 5),
      ap AS (SELECT q_id, n_id FROM rk WHERE rank <= 5),
      h AS (SELECT tr.q_id,
          sum(CASE WHEN ap.n_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
            AS n_hit,
          count(*)::BIGINT AS n_truth
        FROM tr LEFT JOIN ap
          ON tr.q_id = ap.q_id AND tr.n_id = ap.n_id
        GROUP BY tr.q_id)
      SELECT q_id, n_hit, n_truth,
        ((n_hit * 1000000) // n_truth)::BIGINT AS recall_micro
      FROM h ORDER BY q_id"""),

  /** SQ8 scalar quantization ([[graft.sim.SqOps]]): per-dimension
    * [min, max] bounds from one corpus pass, 8-bit affine codes, and
    * asymmetric top-k (exact query vs decoded candidates) — the
    * FAISS `SQ8` quantizer tier next to PQ (q108). All-integer:
    * codes round half-up via `(510·(v−min) + span) div (2·span)`,
    * decode is `min + (2·code·span + 255) div 510`, distances are
    * BIGINT L1 sums. The oracle replays bounds, codes, decode, and
    * the all-pairs ranking. */
  Query("q118_sq_ann") { (s, dir) =>
    import graft.sim.SqOps
    val emb = t(s, dir, "embeddings")
    val model = SqOps.sqTrain(emb, "vec_id", "embedding")
    val enc = SqOps.sqEncode(emb, "vec_id", "embedding", model)
    SqOps.sqTopK(emb.filter(col("vec_id") < 5), enc, 5, model)
      .orderBy("q_id", "rank")
  } (oracle =
    // SQ8 replay: per-dimension bounds in one aggregation, half-up
    // affine codes, branchless decode, all-pairs integer-L1 ranking.
    """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      dims AS (SELECT unnest(range(1, 65)) AS i),
      st AS (SELECT i, min(qv[i]) AS mn, max(qv[i]) AS mx
        FROM e CROSS JOIN dims GROUP BY i),
      dec AS (SELECT id, i,
          mn + (2 * (CASE WHEN mx = mn THEN 0
            ELSE ((qv[i] - mn) * 510 + (mx - mn)) // (2 * (mx - mn))
            END) * (mx - mn) + 255) // 510 AS rv
        FROM e CROSS JOIN dims JOIN st USING (i)),
      q AS (SELECT id AS q_id, i, qv[i] AS qvi
        FROM e CROSS JOIN dims WHERE id < 5),
      d AS (SELECT q_id, dec.id AS n_id,
          sum(abs(qvi - rv))::BIGINT AS adist
        FROM q JOIN dec ON q.i = dec.i AND q_id <> dec.id
        GROUP BY q_id, dec.id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),

  /** IVF + SQ8 ([[graft.sim.SqOps.ivfSqTopK]]): q118's scalar
    * quantizer composed with q109's coarse-list layer — the
    * `IVF…,SQ8` FAISS layout. Coarse centroids are the count-derived
    * id-modulo sample assigned by integer L1; each query SQ-scores
    * only its 2 probed lists through the merge-pinned probes↔lists
    * join. The oracle replays coarse assignment, probing, SQ
    * encoding/decoding, and the candidate-restricted ranking. */
  Query("q119_ivfsq_ann") { (s, dir) =>
    import graft.sim.SqOps
    val emb = t(s, dir, "embeddings")
    val model = SqOps.sqTrain(emb, "vec_id", "embedding")
    SqOps.ivfSqTopK(emb.filter(col("vec_id") < 5), emb, 5, model,
        numCoarse = 20, nProbe = 2)
      .orderBy("q_id", "rank")
  } (oracle =
    // IVF,SQ8 replay: q109's coarse assignment + probing over q118's
    // SQ decode, candidate-restricted ranking.
    """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      dims AS (SELECT unnest(range(1, 65)) AS i),
      st AS (SELECT i, min(qv[i]) AS mn, max(qv[i]) AS mx
        FROM e CROSS JOIN dims GROUP BY i),
      dec AS (SELECT id, i,
          mn + (2 * (CASE WHEN mx = mn THEN 0
            ELSE ((qv[i] - mn) * 510 + (mx - mn)) // (2 * (mx - mn))
            END) * (mx - mn) + 255) // 510 AS rv
        FROM e CROSS JOIN dims JOIN st USING (i)),
      cent AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c_idx,
          qv AS cqv
        FROM e WHERE id % greatest(1,
          (SELECT count(*) FROM embeddings) // 20) = 0),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      lists AS (SELECT id AS n_id, c_idx AS list_id FROM lst
                WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      cand AS (SELECT p.q_id, l.n_id FROM probe p
        JOIN lists l USING (list_id) WHERE p.q_id <> l.n_id),
      q AS (SELECT id AS q_id, i, qv[i] AS qvi
        FROM e CROSS JOIN dims WHERE id < 5),
      d AS (SELECT c.q_id, c.n_id,
          sum(abs(qvi - rv))::BIGINT AS adist
        FROM cand c
        JOIN q ON q.q_id = c.q_id
        JOIN dec ON dec.id = c.n_id AND dec.i = q.i
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),

  /** SSL-prototype diversity pruning ([[graft.sim.PruneOps
    * .protoPrune]]) — the D4 companion to SemDeDup (q87): assign
    * each vector to its nearest coarse centroid (the q87 quantizer
    * verbatim), score prototypicality as the rounded centroid
    * cosine, and drop the most prototypical quarter of each cluster
    * by the exact integer cut floor(n/4). The oracle replays
    * assignment, scoring, the total (cos DESC NULLS LAST, id) rank,
    * and the integer cut. */
  Query("q120_proto_prune") { (s, dir) =>
    graft.sim.PruneOps.protoPrune(t(s, dir, "embeddings"), 1L, 4L,
        numCentroids = 20)
      .select(col("id").as("vec_id"), col("cluster"), col("cos_c"),
        col("rank"), col("cluster_n"), col("keep"))
      .orderBy("vec_id")
  } (oracle =
    // q87's quantizer + scoring verbatim, then the per-cluster
    // prototypicality rank and the exact integer quarter cut.
    """
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      cent AS (SELECT id AS c_id, v AS cv, nrm AS cnrm FROM n
               WHERE id % greatest(1,
                 (SELECT count(*) FROM embeddings) // 20) = 0),
      assign AS (SELECT n.id, c_id,
          (CASE WHEN n.nrm > 0.0 AND cnrm > 0.0
            THEN floor(list_inner_product(n.v, cv) / (n.nrm * cnrm)
                   * 1000000.0 + 0.5) / 1000000.0 END) AS cosc,
          row_number() OVER (PARTITION BY n.id ORDER BY
            (CASE WHEN n.nrm > 0.0 AND cnrm > 0.0
              THEN floor(list_inner_product(n.v, cv) / (n.nrm * cnrm)
                     * 1000000.0 + 0.5) / 1000000.0 END) DESC,
            c_id ASC) AS r
        FROM n CROSS JOIN cent),
      m AS (SELECT id, c_id AS cluster, cosc AS cos_c
            FROM assign WHERE r = 1),
      rk AS (SELECT id, cluster, cos_c,
          row_number() OVER (PARTITION BY cluster
            ORDER BY cos_c DESC NULLS LAST, id ASC) AS rank,
          count(*) OVER (PARTITION BY cluster) AS cluster_n
        FROM m)
      SELECT id::BIGINT AS vec_id, cluster::BIGINT AS cluster, cos_c,
             rank::INT AS rank, cluster_n::BIGINT AS cluster_n,
             (rank > cluster_n // 4) AS keep
      FROM rk ORDER BY vec_id"""),

  /** OPQ-style permuted PQ ([[graft.sim.OpqOps]]): the Ge 2013
    * eigenvalue-allocation initialization restricted to exact
    * integer arithmetic — dimensions rank by quantized span (one
    * min/max corpus pass), deal into the 4 subspaces in snake
    * order, and q108's PQ chain runs over the permuted vectors. The
    * oracle replays the spans, the snake assignment, the gather,
    * and the full PQ train/encode/ADC ranking. */
  Query("q122_opq_pq_ann") { (s, dir) =>
    import graft.sim.OpqOps
    val emb = t(s, dir, "embeddings")
    OpqOps.opqAdcTopK(emb.filter(col("vec_id") < 5), emb, 5,
        subspaces = 4, codes = 4, iters = 1)
      .orderBy("q_id", "rank")
  } (oracle =
    // OPQ-permutation replay: per-dimension quantized spans (one
    // min/max pass), (span DESC, dim ASC) rank, snake deal into the
    // 4 subspaces, gather — then q108's PQ replay verbatim over the
    // permuted vectors.
    """
      WITH raw AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv0
        FROM embeddings),
      dims AS (SELECT d.i AS dim,
          max(qv0[d.i]) - min(qv0[d.i]) AS span
        FROM raw CROSS JOIN range(1, 65) d(i)
        GROUP BY d.i),
      sprank AS (SELECT dim,
          row_number() OVER (ORDER BY span DESC, dim ASC) - 1 AS r
        FROM dims),
      perm AS (SELECT list(dim ORDER BY sub ASC, dim ASC) AS p FROM (
          SELECT dim, CASE WHEN (r // 4) % 2 = 0 THEN r % 4
                           ELSE 3 - (r % 4) END AS sub
          FROM sprank)),
      e AS (SELECT id, list_transform(p, i -> qv0[i]) AS qv
        FROM raw CROSS JOIN perm),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, qv
               FROM e ORDER BY id LIMIT 4),
      cb0 AS (SELECT sub, j,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      sv AS (SELECT id, sub,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM e CROSS JOIN subs),
      a0 AS (SELECT id, sub, j, ssv, row_number() OVER (
            PARTITION BY id, sub ORDER BY
            list_aggregate(list_transform(range(1, 17),
              i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
        FROM sv JOIN cb0 USING (sub)),
      stats AS (SELECT sub, j AS cl, d.i AS dim,
          sum(ssv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM a0 WHERE r = 1) a
        CROSS JOIN range(1, 17) d(i)
        GROUP BY sub, j, d.i),
      cb1 AS (SELECT c0.sub, c0.j,
          coalesce(m.nv, c0.cv) AS cv
        FROM cb0 c0 LEFT JOIN (
          SELECT sub, cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM stats GROUP BY sub, cl) m
        ON c0.sub = m.sub AND c0.j = m.cl),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb1.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb1 USING (sub)) WHERE r = 1),
      q AS (SELECT id AS q_id, sub, ssv AS qsv FROM sv WHERE id < 5),
      d AS (SELECT q.q_id, enc.id AS n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM q JOIN enc ON q.sub = enc.sub AND q.q_id <> enc.id
        JOIN cb1 ON cb1.sub = enc.sub AND cb1.j = enc.code
        GROUP BY q.q_id, enc.id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),

  /** Binary-signature Hamming retrieval ([[graft.sim.HammingOps]]):
    * 48 sign bits per vector packed into one BIGINT (Charikar 2002),
    * top-5 by `bit_count(xor)` — the coarsest quantizer tier (one
    * word per vector). The oracle inlines the same seeded plane
    * literals and replays the signatures, the xor popcount, and the
    * ranking. */
  Query("q131_hamming_ann") { (s, dir) =>
    import graft.sim.HammingOps
    val emb = t(s, dir, "embeddings")
    val enc = HammingOps.encode(emb, "vec_id", "embedding")
    HammingOps.hammingTopK(emb.filter(col("vec_id") < 10), enc, 5)
      .orderBy("q_id", "rank")
  } (oracle = hammingOracle),

  /** Wide binary-signature retrieval ([[graft.sim.HammingOps
    * .signatureWide]]): 128 sign bits packed 32-to-the-word into an
    * array<bigint> — the ≥64-bit operating range a production-dim
    * embedding wants — top-5 by the unrolled per-word
    * `bit_count(xor)` sum. The oracle inlines all 128 seeded plane
    * literals and replays the word packing, the xor popcounts, and
    * the ranking. */
  Query("q132_hamming_wide") { (s, dir) =>
    import graft.sim.HammingOps
    val emb = t(s, dir, "embeddings")
    val enc = HammingOps.encodeWide(emb, "vec_id", "embedding")
    HammingOps.hammingTopKWide(emb.filter(col("vec_id") < 10), enc, 5)
      .orderBy("q_id", "rank")
  } (oracle = hammingWideOracle),

  /** Hamming-shortlist → exact-cosine rerank ([[graft.sim
    * .HammingOps.hammingRerankTopK]]): the two-stage composite the
    * binary tier promises — a 20-deep wide-signature shortlist on
    * pure integer xor/popcount, then exact rounded cosine over only
    * those candidates (the [[graft.sim.PqOps.adcRerankTopK]]
    * pattern). The oracle replays both stages. */
  Query("q133_hamming_rerank") { (s, dir) =>
    import graft.sim.HammingOps
    val emb = t(s, dir, "embeddings")
    val enc = HammingOps.encodeWide(emb, "vec_id", "embedding")
    HammingOps.hammingRerankTopK(emb.filter(col("vec_id") < 10), emb,
        enc, 5, 20)
      .orderBy("q_id", "rank")
  } (oracle = hammingRerankOracle),

  /** Hard-negative mining ([[graft.sim.MineOps.hardNegatives]]):
    * q43's IVF retrieval widened to a 10-deep pool, candidates with
    * cosine ≥ 0.9 excluded as near-positives (false negatives for a
    * contrastive loss), survivors exactly re-ranked to top-5. The
    * oracle replays the retrieval, the threshold filter, and the
    * re-rank. */
  Query("q130_hard_negatives") { (s, dir) =>
    val emb = t(s, dir, "embeddings")
    graft.sim.MineOps.hardNegatives(emb.filter(col("vec_id") < 10),
        emb, 5, posThreshold = 0.9, poolK = 10, numCentroids = 20,
        nProbe = 2)
      .orderBy("q_id", "rank")
  } (oracle =
    // Hard-negative replay: q43's IVF chain with a 10-deep pool,
    // the cos < 0.9 positive filter, and the exact re-rank to 5.
    """
      WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                 FROM embeddings),
      n AS (SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      cent AS (SELECT id AS c_id, v AS cv, nrm AS cnrm FROM n
               WHERE id % greatest(1,
                 (SELECT count(*) FROM embeddings) // 20) = 0),
      assign AS (SELECT n.id AS n_id, n.v AS nv, n.nrm AS nnrm, c_id,
          row_number() OVER (PARTITION BY n.id ORDER BY
            (CASE WHEN n.nrm > 0.0 AND cnrm > 0.0
              THEN floor(list_inner_product(n.v, cv) / (n.nrm * cnrm)
                     * 1000000.0 + 0.5) / 1000000.0 END) DESC,
            c_id ASC) AS r
        FROM n CROSS JOIN cent),
      lists AS (SELECT c_id AS list_id, n_id, nv, nnrm
                FROM assign WHERE r = 1),
      q AS (SELECT id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE id < 10),
      probe AS (SELECT q_id, qv, qnrm, c_id AS list_id,
          row_number() OVER (PARTITION BY q_id ORDER BY
            (CASE WHEN qnrm > 0.0 AND cnrm > 0.0
              THEN floor(list_inner_product(qv, cv) / (qnrm * cnrm)
                     * 1000000.0 + 0.5) / 1000000.0 END) DESC,
            c_id ASC) AS r
        FROM q CROSS JOIN cent),
      sc AS (SELECT q_id, n_id,
          CASE WHEN qnrm > 0.0 AND nnrm > 0.0
            THEN floor(list_inner_product(qv, nv) / (qnrm * nnrm)
                   * 1000000.0 + 0.5) / 1000000.0 END AS cos
        FROM (SELECT * FROM probe WHERE r <= 2) p
        JOIN lists USING (list_id) WHERE q_id <> n_id),
      pool AS (SELECT q_id, n_id, cos,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, n_id ASC) AS pool_rank
        FROM sc),
      neg AS (SELECT q_id, n_id, cos,
          row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, n_id ASC) AS rank
        FROM pool WHERE pool_rank <= 10 AND cos < 0.9)
      SELECT q_id, rank::INT AS rank, n_id, cos
      FROM neg WHERE rank <= 5 ORDER BY q_id, rank"""),

  /** IVF,SQ8 over a greedy-d² (farthest-point) coarse seed
    * ([[graft.sim.SqOps.ivfSqTopK]] with `coarseSeed = "farthest"`,
    * i.e. [[graft.sim.PqOps.farthestPointSeeds]]): q119's layout with
    * the id-modulo stride sample replaced by the deterministic
    * k-means++-style traversal — seed 0 is the smallest-id row, each
    * next seed the corpus row maximizing its min integer-L1 to the
    * seeds already chosen (ties to the smaller id), stopping early at
    * distance 0. The oracle replays the traversal as a recursive CTE
    * (batch = 1, the pinned contract), then q119's SQ8 decode,
    * assignment, and probed ranking against the new centroid set. */
  Query("q137_ivfsq_fps") { (s, dir) =>
    import graft.sim.SqOps
    val emb = t(s, dir, "embeddings")
    val model = SqOps.sqTrain(emb, "vec_id", "embedding")
    SqOps.ivfSqTopK(emb.filter(col("vec_id") < 5), emb, 5, model,
        numCoarse = 12, nProbe = 2, coarseSeed = "farthest")
      .orderBy("q_id", "rank")
  } (oracle =
    // q119's IVF,SQ8 replay with the coarse seed swapped for the
    // deterministic farthest-point traversal: a recursive CTE carries
    // the chosen-seed list, each step appending the corpus row whose
    // min-L1 to the chosen set is largest (ties to smaller id),
    // stopping at numCoarse = 12 or when the farthest remaining
    // point is at distance 0. c_idx = selection order.
    """
      WITH RECURSIVE e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      dims AS (SELECT unnest(range(1, 65)) AS i),
      st AS (SELECT i, min(qv[i]) AS mn, max(qv[i]) AS mx
        FROM e CROSS JOIN dims GROUP BY i),
      dec AS (SELECT id, i,
          mn + (2 * (CASE WHEN mx = mn THEN 0
            ELSE ((qv[i] - mn) * 510 + (mx - mn)) // (2 * (mx - mn))
            END) * (mx - mn) + 255) // 510 AS rv
        FROM e CROSS JOIN dims JOIN st USING (i)),
      fps(it, chosen) AS (
        SELECT 0, [(SELECT qv FROM e ORDER BY id LIMIT 1)]
        UNION ALL
        SELECT it + 1, list_append(chosen, nxt)
        FROM fps, LATERAL (
          SELECT qv AS nxt, d FROM (
            SELECT e.id, any_value(e.qv) AS qv,
              min(list_aggregate(list_transform(range(1, 65),
                i -> abs(e.qv[i] - c.cv[i])), 'sum')) AS d
            FROM e, (SELECT unnest(chosen) AS cv) c
            GROUP BY e.id
          ) ORDER BY d DESC, id ASC LIMIT 1
        ) WHERE it < 11 AND d > 0
      ),
      lastf AS (SELECT chosen FROM fps ORDER BY it DESC LIMIT 1),
      cent AS (SELECT t.i AS c_idx, chosen[t.i + 1] AS cqv
        FROM lastf CROSS JOIN range(0, 12) t(i)
        WHERE t.i < len(chosen)),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      lists AS (SELECT id AS n_id, c_idx AS list_id FROM lst
                WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      cand AS (SELECT p.q_id, l.n_id FROM probe p
        JOIN lists l USING (list_id) WHERE p.q_id <> l.n_id),
      q AS (SELECT id AS q_id, i, qv[i] AS qvi
        FROM e CROSS JOIN dims WHERE id < 5),
      d AS (SELECT c.q_id, c.n_id,
          sum(abs(qvi - rv))::BIGINT AS adist
        FROM cand c
        JOIN q ON q.q_id = c.q_id
        JOIN dec ON dec.id = c.n_id AND dec.i = q.i
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),

  /** Residual IVFADC over a Lloyd-refined coarse quantizer
    * ([[graft.sim.PqOps.ivfPqTopKResidual]] with `coarseIters = 1`):
    * q112's layout with one integer Lloyd round on the coarse
    * centroids BEFORE assignment — list quality matters most on the
    * residual path, where both the residual magnitudes and the
    * codebook train against the assigned centroid. The oracle
    * replays seed, assignment, the Lloyd update, the residual
    * codebook training, and the probed ADC ranking. */
  Query("q136_ivfpq_residual_lloyd") { (s, dir) =>
    import graft.sim.PqOps
    val emb = t(s, dir, "embeddings")
    PqOps.ivfPqTopKResidual(emb.filter(col("vec_id") < 5), emb, 5,
        subspaces = 4, codes = 8, iters = 1, numCoarse = 20,
        nProbe = 2, coarseIters = 1)
      .orderBy("q_id", "rank")
  } (oracle =
    // q112's residual-IVFADC replay with q125's coarse Lloyd round
    // spliced in front: cent0 = the id-modulo seed, one full-vector
    // (2s+n)//(2n) mean per dimension over each seed list's members
    // (empty lists keep their seed), and everything downstream —
    // assignment, residuals, codebook training, probed ADC ranking —
    // reads the REFINED centroid set.
    """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      cent0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c_idx,
          qv AS cqv
        FROM e WHERE id % greatest(1,
          (SELECT count(*) FROM embeddings) // 20) = 0),
      la0 AS (SELECT id, c_idx, qv, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent0),
      lstats AS (SELECT c_idx AS cl, d.i AS dim,
          sum(qv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM la0 WHERE r = 1) a
        CROSS JOIN range(1, 65) d(i)
        GROUP BY c_idx, d.i),
      cent AS (SELECT c0.c_idx, coalesce(m.nv, c0.cqv) AS cqv
        FROM cent0 c0 LEFT JOIN (
          SELECT cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM lstats GROUP BY cl) m ON c0.c_idx = m.cl),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      asg AS (SELECT id, c_idx AS list_id FROM lst WHERE r = 1),
      res AS (SELECT e.id, a.list_id,
          list_transform(range(1, 65),
            i -> e.qv[i] - c.cqv[i] + 4194304) AS rv
        FROM e JOIN asg a ON e.id = a.id
        JOIN cent c ON c.c_idx = a.list_id),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, rv
               FROM res ORDER BY id LIMIT 8),
      cb0 AS (SELECT sub, j,
          list_slice(rv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      sv AS (SELECT id, sub,
          list_slice(rv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM res CROSS JOIN subs),
      a0 AS (SELECT id, sub, j, ssv, row_number() OVER (
            PARTITION BY id, sub ORDER BY
            list_aggregate(list_transform(range(1, 17),
              i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
        FROM sv JOIN cb0 USING (sub)),
      stats AS (SELECT sub, j AS cl, d.i AS dim,
          sum(ssv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM a0 WHERE r = 1) a
        CROSS JOIN range(1, 17) d(i)
        GROUP BY sub, j, d.i),
      cb1 AS (SELECT c0.sub, c0.j,
          coalesce(m.nv, c0.cv) AS cv
        FROM cb0 c0 LEFT JOIN (
          SELECT sub, cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM stats GROUP BY sub, cl) m
        ON c0.sub = m.sub AND c0.j = m.cl),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb1.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb1 USING (sub)) WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      qres AS (SELECT p.q_id, p.list_id,
          list_transform(range(1, 65),
            i -> e.qv[i] - c.cqv[i] + 4194304) AS qrv
        FROM probe p JOIN e ON e.id = p.q_id
        JOIN cent c ON c.c_idx = p.list_id),
      qs AS (SELECT q_id, list_id, sub,
          list_slice(qrv, sub * 16 + 1, sub * 16 + 16) AS qsv
        FROM qres CROSS JOIN subs),
      cand AS (SELECT p.q_id, p.list_id, a.id AS n_id FROM probe p
        JOIN asg a ON a.list_id = p.list_id WHERE p.q_id <> a.id),
      d AS (SELECT c.q_id, c.n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(q.qsv[i] - cb.cv[i])), 'sum'))::BIGINT AS adist
        FROM cand c
        JOIN qs q ON q.q_id = c.q_id AND q.list_id = c.list_id
        JOIN enc ON enc.id = c.n_id AND enc.sub = q.sub
        JOIN cb1 cb ON cb.sub = enc.sub AND cb.j = enc.code
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),

  /** IVFADC over a Lloyd-refined coarse quantizer
    * ([[graft.sim.PqOps.coarseCentroids]]): q109's layout with ONE
    * integer Lloyd round on the full-vector coarse centroids before
    * list assignment — the `(2s+n) div (2n)` round-half-up mean per
    * dimension, empty lists keeping their seed. The refinement
    * concentrates lists around actual density (the r15 recall sweep
    * measured raw id-modulo lists recalling ~probed-fraction); cost
    * is one map-side-combining corpus pass collecting |C|·(d+1)
    * cells. The oracle replays seed, assignment, the Lloyd update,
    * and the probed ranking. */
  Query("q125_ivfpq_lloyd") { (s, dir) =>
    import graft.sim.PqOps
    val emb = t(s, dir, "embeddings")
    val model = PqOps.pqTrain(emb, "vec_id", "embedding",
      subspaces = 4, k = 8, iters = 0)
    PqOps.ivfPqTopK(emb.filter(col("vec_id") < 5), emb, 5, model,
        numCoarse = 20, nProbe = 2, coarseIters = 1)
      .orderBy("q_id", "rank")
  } (oracle =
    // q109's IVFADC replay + ONE full-vector Lloyd round on the
    // coarse centroids: assignment against the seed sample, per-dim
    // (2s+n) // (2n) means over each list's members, empty lists
    // keep their seed; everything downstream reads the refined set.
    """
      WITH e AS (SELECT vec_id AS id,
          list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT) + 2097152)
            AS qv
        FROM embeddings),
      subs AS (SELECT unnest(range(0, 4)) AS sub),
      seed AS (SELECT row_number() OVER (ORDER BY id) - 1 AS j, qv
               FROM e ORDER BY id LIMIT 8),
      cb AS (SELECT sub, j,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS cv
        FROM seed CROSS JOIN subs),
      cent0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c_idx,
          qv AS cqv
        FROM e WHERE id % greatest(1,
          (SELECT count(*) FROM embeddings) // 20) = 0),
      a0 AS (SELECT id, c_idx, qv, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent0),
      cstats AS (SELECT c_idx AS cl, d.i AS dim,
          sum(qv[d.i])::BIGINT AS s, count(*)::BIGINT AS n
        FROM (SELECT * FROM a0 WHERE r = 1) a
        CROSS JOIN range(1, 65) d(i)
        GROUP BY c_idx, d.i),
      cent AS (SELECT c0.c_idx, coalesce(m.nv, c0.cqv) AS cqv
        FROM cent0 c0 LEFT JOIN (
          SELECT cl, list((2 * s + n) // (2 * n) ORDER BY dim) AS nv
          FROM cstats GROUP BY cl) m ON c0.c_idx = m.cl),
      lst AS (SELECT id, c_idx, row_number() OVER (PARTITION BY id
            ORDER BY list_aggregate(list_transform(range(1, 65),
              i -> abs(qv[i] - cqv[i])), 'sum') ASC, c_idx ASC) AS r
        FROM e CROSS JOIN cent),
      lists AS (SELECT id AS n_id, c_idx AS list_id FROM lst
                WHERE r = 1),
      sv AS (SELECT id, sub,
          list_slice(qv, sub * 16 + 1, sub * 16 + 16) AS ssv
        FROM e CROSS JOIN subs),
      enc AS (SELECT id, sub, j AS code FROM (
          SELECT sv.id, sv.sub, cb.j, row_number() OVER (
              PARTITION BY sv.id, sv.sub ORDER BY
              list_aggregate(list_transform(range(1, 17),
                i -> abs(ssv[i] - cv[i])), 'sum') ASC, j ASC) AS r
          FROM sv JOIN cb USING (sub)) WHERE r = 1),
      probe AS (SELECT id AS q_id, c_idx AS list_id FROM lst
                WHERE id < 5 AND r <= 2),
      cand AS (SELECT p.q_id, l.n_id FROM probe p
        JOIN lists l USING (list_id) WHERE p.q_id <> l.n_id),
      q AS (SELECT id AS q_id, sub, ssv AS qsv FROM sv WHERE id < 5),
      d AS (SELECT c.q_id, c.n_id,
          sum(list_aggregate(list_transform(range(1, 17),
            i -> abs(qsv[i] - cv[i])), 'sum'))::BIGINT AS adist
        FROM cand c
        JOIN q ON q.q_id = c.q_id
        JOIN enc ON enc.id = c.n_id AND enc.sub = q.sub
        JOIN cb ON cb.sub = enc.sub AND cb.j = enc.code
        GROUP BY c.q_id, c.n_id),
      rk AS (SELECT q_id, n_id, adist, row_number() OVER (
            PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rank
        FROM d)
      SELECT q_id, rank::INT AS rank, n_id, adist
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),
  )
}
