package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.{rnd, t}
import graft.operators.Materialize

/** The LLM-corpus text tier (SURVEY.md §2.12): token statistics,
  * language ID, exact and near dedup over documents, quality filters,
  * PII scrubbing, mixing, sampling, packing, tokenizers, sketches and
  * corpus reports. */
object TextQueries {

  /** q77 corpus literals, shared verbatim with the oracle SQL: 60
    * distinct no-stopword tokens (trips minStopword alone) and 58
    * 16-char tokens behind two stopwords (trips maxMeanTok alone). */
  private val q77NoStop: String =
    (0 until 60).map(i => f"k$i%02d").mkString(" ")

  private val q77LongToks: String =
    "the and " + (0 until 58).map(i => f"abcdefghijklm$i%03d").mkString(" ")

  /** Deterministic URL augmentation for the domain-curation oracles:
    * every doc links a mixed-case www host derived from its id; docs
    * with id % 10 == 3 add a tracker URL behind userinfo, id % 10 ==
    * 6 a bare blocked host followed by a sentence period — together
    * exercising lowercasing, www-strip, userinfo skip, and
    * trailing-dot strip. */
  private def urlAugmented(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"), col("source"), col("n_chars"),
      concat(col("text"),
        lit(" see http://www.Site"), (col("doc_id") % 7).cast("string"),
        lit(".Example.com/page?id="), col("doc_id").cast("string"),
        when(col("doc_id") % 10 === 3,
          lit(" and https://bob@Ads.Tracker.NET/p")).otherwise(lit("")),
        when(col("doc_id") % 10 === 6,
          lit(" plus http://spam.io.")).otherwise(lit("")))
        .as("text"))

  /** Shared DuckDB restatement of the UniMax closed form
    * ([[graft.text.MixOps]]): expects a CTE `d` with at least
    * (lang, n_tok); emits `alloc(stratum, n_tokens, cap_tokens,
    * budget, capped, alloc_tokens)`. Same cap/budget floor
    * decomposition, HUGEINT prefix test, and floor-share + remainder
    * integerization as the Spark window pass. */
  private def unimaxOracleChain(num: Int, den: Int, capNum: Int,
      capDen: Int): String = s""",
      tot AS (SELECT coalesce(lang, '') AS stratum,
          sum(n_tok)::BIGINT AS n_tokens FROM d GROUP BY 1),
      cc AS (SELECT stratum, n_tokens,
          ((n_tokens // $capDen) * $capNum
            + ((n_tokens % $capDen) * $capNum) // $capDen)::BIGINT
            AS cap_tokens
        FROM tot),
      w AS (SELECT *,
          row_number() OVER (ORDER BY cap_tokens, stratum) AS pos,
          (sum(cap_tokens) OVER (ORDER BY cap_tokens, stratum))::BIGINT
            AS cumcap,
          count(*) OVER () AS R,
          (sum(n_tokens) OVER ())::BIGINT AS T
        FROM cc),
      b AS (SELECT *, ((T // $den) * $num
          + ((T % $den) * $num) // $den)::BIGINT AS budget FROM w),
      p AS (SELECT *, min(CASE WHEN cap_tokens::HUGEINT * (R - pos + 1)
            > budget::HUGEINT - (cumcap - cap_tokens) THEN pos END)
            OVER () AS pstar FROM b),
      alloc AS (SELECT stratum, n_tokens, cap_tokens, budget,
          (pstar IS NULL OR pos < pstar) AS capped,
          (CASE WHEN pstar IS NULL OR pos < pstar THEN cap_tokens
            ELSE (budget - sbefore) // (R - pstar + 1)
              + CASE WHEN pos - pstar <
                  (budget - sbefore) % (R - pstar + 1)
                THEN 1 ELSE 0 END END)::BIGINT AS alloc_tokens
        FROM (SELECT *, coalesce((sum(CASE WHEN pos < pstar
            THEN cap_tokens END) OVER ())::BIGINT, 0) AS sbefore
          FROM p))"""

  /** Splice `{uXXXX}` placeholders into real unicode characters —
    * lexer `\uXXXX` escapes are deprecated inside triple-quoted
    * strings, and literal combining characters in source are
    * editor-hostile; the placeholder form keeps the codepoints
    * explicit and the source ASCII. */
  private def uSplice(sql: String): String =
    "\\{u([0-9a-fA-F]{4})\\}".r.replaceAllIn(sql, m =>
      scala.util.matching.Regex.quoteReplacement(
        Integer.parseInt(m.group(1), 16).toChar.toString))

  /** q144's exact BPE replay, generated per (numMerges, maxWords):
    * learning unrolls into `m` chained levels over the top-`maxWords`
    * dict (adjacent-pair counts from the `|sym|`-rendered word →
    * argmax under the exact (count DESC, a ASC, b ASC) Scala tie
    * order → dict rewrite via `replace`), application chains the same
    * `replace('|a||b|' → '|ab|')` per rank over every DISTINCT corpus
    * word (LTR non-overlapping `replace` = the kernel's greedy merge;
    * the delimiters make symbol matches exact — no prefix/suffix
    * aliasing). `coalesce(replace(s, NULL, NULL), s)` makes exhausted
    * levels (empty `b_i`) a no-op, mirroring learnMerges' early stop.
    * Per-word stats then aggregate by (source, lang) via the
    * occurrence counts, never re-running BPE per occurrence. */
  private def bpeFertilityOracle(m: Int, maxWords: Int): String = {
    def rewrite(i: Int): String =
      s"""coalesce(replace(s,
          (SELECT '|'||a||'||'||b||'|' FROM b$i),
          (SELECT '|'||a||b||'|' FROM b$i)), s) AS s"""
    val learn = (1 to m).map { i =>
      s"""
      p$i AS MATERIALIZED (
        SELECT pr[1] AS a, pr[2] AS b, sum(c)::BIGINT AS cnt FROM (
          SELECT unnest(list_transform(range(1, len(sy)),
            i -> [sy[i], sy[i+1]])) AS pr, c
          FROM (SELECT string_split(trim(s, '|'), '||') AS sy, c
                FROM d${i - 1}))
        GROUP BY 1, 2),
      b$i AS MATERIALIZED (SELECT a, b FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
      d$i AS MATERIALIZED (SELECT c, ${rewrite(i)} FROM d${i - 1})"""
    }.mkString(",")
    val apply = (1 to m).map(i =>
      s"""
      a$i AS MATERIALIZED (SELECT w, ${rewrite(i)} FROM a${i - 1})""").mkString(",")
    s"""
      WITH tok0 AS MATERIALIZED (SELECT doc_id, source, lang,
          list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
            x -> x <> '') AS toks
        FROM documents),
      wc AS MATERIALIZED (SELECT w, count(*)::BIGINT AS c
        FROM (SELECT unnest(toks) AS w FROM tok0) GROUP BY w),
      top AS (SELECT w, c FROM wc ORDER BY c DESC, w ASC LIMIT $maxWords),
      d0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS s, c
             FROM top),$learn,
      a0 AS MATERIALIZED (SELECT w, regexp_replace(w, '(.)', '|\\1|', 'g') AS s
             FROM wc),$apply,
      wstat AS (SELECT w, length(w)::BIGINT AS n_bytes,
          len(sy)::BIGINT AS n_sub,
          len(list_filter(sy, x -> length(x) = 1))::BIGINT AS n_single
        FROM (SELECT w, string_split(trim(s, '|'), '||') AS sy
              FROM a$m)),
      gdocs AS (SELECT source, lang, count(*)::BIGINT AS n_docs
        FROM documents GROUP BY 1, 2),
      gw AS (SELECT source, lang, w, count(*)::BIGINT AS n_occ
        FROM (SELECT source, lang, unnest(toks) AS w FROM tok0)
        GROUP BY 1, 2, 3),
      agg AS (SELECT g.source, g.lang,
          sum(g.n_occ)::BIGINT AS n_words,
          sum(g.n_occ * ws.n_bytes)::BIGINT AS n_word_bytes,
          sum(g.n_occ * ws.n_sub)::BIGINT AS n_subwords,
          sum(g.n_occ * ws.n_single)::BIGINT AS n_singleton_bytes
        FROM gw g JOIN wstat ws ON g.w = ws.w GROUP BY 1, 2)
      SELECT d.source, d.lang, d.n_docs,
        coalesce(a.n_words, 0) AS n_words,
        coalesce(a.n_word_bytes, 0) AS n_word_bytes,
        coalesce(a.n_subwords, 0) AS n_subwords,
        coalesce(a.n_singleton_bytes, 0) AS n_singleton_bytes
      FROM gdocs d LEFT JOIN agg a USING (source, lang)
      ORDER BY source, lang"""
  }

  /** Shared DuckDB CTE: normalized token list per document, mirroring
    * [[graft.text.TextOps.tokens]] exactly. */
  private[queries] val tokCte = """
      WITH tk AS (SELECT doc_id,
        list_filter(string_split_regex(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
          x -> x <> '') AS toks
      FROM documents)"""

  /** Shared DuckDB CTE: distinct 3-token shingles per document,
    * mirroring [[graft.text.TextOps.shingles]]. */
  private[queries] val shingleCte = tokCte + """,
      sh AS (SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END)) AS shingle
        FROM tk)"""

  /** Shared DuckDB CTE: the full [[graft.text.LmOps.perplexity]]
    * chain (ref = doc_id % 10 < 3) ending in `outq(doc_id, n_tok,
    * nll_micro, ppl)` — the q88 result, reused by q91's bucketing. */
  private val lmCte = tokCte + """,
      pp AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)+1),
            i -> {'v': CASE WHEN i = 1 THEN '<s>' ELSE toks[i-1] END,
                  'w': toks[i]})) AS p FROM tk),
      pr AS (SELECT doc_id, p.v AS v, p.w AS w FROM pp),
      refp AS (SELECT v, w FROM pr WHERE doc_id % 10 < 3),
      uni AS (SELECT w, count(*)::BIGINT AS c_w FROM refp GROUP BY w),
      bi AS (SELECT v, w, count(*)::BIGINT AS c_vw FROM refp
             GROUP BY v, w),
      ctx AS (SELECT v, sum(c_vw)::BIGINT AS c_v FROM bi GROUP BY v),
      tot AS (SELECT coalesce(sum(c_w), 0)::DOUBLE AS t,
                     count(*)::DOUBLE AS vsz FROM uni),
      dp AS (SELECT doc_id, v, w, count(*)::BIGINT AS n_occ
             FROM pr GROUP BY doc_id, v, w),
      ty AS (SELECT DISTINCT v, w FROM dp),
      scored AS (SELECT ty.v, ty.w,
          CAST(floor(-ln(CASE WHEN ctx.c_v IS NOT NULL
            THEN 0.75 * (coalesce(bi.c_vw, 0) / ctx.c_v)
                 + (1.0 - 0.75) * ((coalesce(uni.c_w, 0) + 1.0)
                     / (tot.t + tot.vsz + 1.0))
            ELSE (coalesce(uni.c_w, 0) + 1.0)
                 / (tot.t + tot.vsz + 1.0) END)
            * 1000000.0 + 0.5) AS BIGINT) AS nll1
        FROM ty CROSS JOIN tot
        LEFT JOIN bi ON ty.v = bi.v AND ty.w = bi.w
        LEFT JOIN ctx ON ty.v = ctx.v
        LEFT JOIN uni ON ty.w = uni.w),
      perdoc AS (SELECT dp.doc_id, sum(n_occ)::BIGINT AS n_tok,
          sum(n_occ * nll1)::BIGINT AS nll_micro
        FROM dp JOIN scored ON dp.v = scored.v AND dp.w = scored.w
        GROUP BY dp.doc_id),
      outq AS (SELECT d.doc_id, coalesce(n_tok, 0)::BIGINT AS n_tok,
        coalesce(nll_micro, 0)::BIGINT AS nll_micro,
        CASE WHEN n_tok > 0 THEN
          floor(exp(nll_micro / 1000000.0 / n_tok) * 1000000.0 + 0.5)
            / 1000000.0
        END AS ppl
      FROM documents d LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id)"""

  /** Shared DuckDB CTE mirroring [[urlAugmented]]'s deterministic
    * URL injection. */
  private val urlAugCte = """
      WITH c AS (SELECT doc_id, source, n_chars,
        text || ' see http://www.Site' || (doc_id % 7)::VARCHAR
             || '.Example.com/page?id=' || doc_id::VARCHAR
             || CASE WHEN doc_id % 10 = 3
                  THEN ' and https://bob@Ads.Tracker.NET/p' ELSE '' END
             || CASE WHEN doc_id % 10 = 6
                  THEN ' plus http://spam.io.' ELSE '' END AS text
        FROM documents)"""

  /** Extracted, normalized host rows — the DuckDB mirror of
    * [[graft.text.DomainOps.docHosts]] (same regex dialect). */
  private val hostCte = """
      hosts AS (SELECT doc_id,
          regexp_replace(regexp_replace(lower(h),
            '^www\.', ''), '\.$', '') AS host
        FROM (SELECT doc_id, unnest(regexp_extract_all(text,
                'https?://(?:[A-Za-z0-9._%+-]+@)?([A-Za-z0-9.-]+)', 1)) AS h
              FROM c))"""

  /** This family's records; [[graft.SparkEntry.registry]] collects them. */
  val all: Seq[Query] = Seq(

  /** Token/quality stats per document (text-analysis operator set). */
  Query("q25_token_stats") { (s, dir) =>
    import graft.text.TextOps._
    t(s, dir, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        col("n_chars"),
        rnd(punctRatio(col("text")), 4).as("punct_ratio"),
        rnd(stopwordRatio(col("text")), 4).as("stop_ratio"),
        rnd(meanTokenLength(col("text")), 4).as("mean_tok_len"))
      .orderBy("doc_id")
  } (oracle = tokCte + """
      SELECT tk.doc_id, len(toks) AS n_tokens, d.n_chars,
             floor((CASE WHEN length(d.text) > 0
               THEN length(regexp_replace(lower(d.text), '[a-z0-9 ]', '', 'g'))::DOUBLE / length(d.text)
               ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
             floor((CASE WHEN len(toks) > 0
               THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))::DOUBLE / len(toks)
               ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
             floor((CASE WHEN len(toks) > 0
               THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
               ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS mean_tok_len
      FROM tk JOIN documents d ON tk.doc_id = d.doc_id
      ORDER BY tk.doc_id"""),

  /** Heuristic language ID (stopword-hit argmax). */
  Query("q26_langid") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), graft.text.TextOps.langId(col("text")).as("lang_guess"))
      .orderBy("doc_id")
  } (oracle = tokCte + """,
      sc AS (SELECT doc_id,
        len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit'], x))) AS s_de,
        len(list_filter(toks, x -> list_contains(['the','and','is','of','to','a','in','that'], x))) AS s_en,
        len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los','una','por'], x))) AS s_es,
        len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une','pour','dans'], x))) AS s_fr
      FROM tk)
      SELECT doc_id,
        CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_guess
      FROM sc ORDER BY doc_id"""),

  /** Document fingerprint (normalized md5) per doc. */
  Query("q27_fingerprint") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), graft.text.TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")
  } (oracle = tokCte + """
      SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
      FROM tk ORDER BY doc_id"""),

  /** Deterministic training-data sampling: stratified per-source rates
    * (data mixing) + hash-based train/val/test assignment, all
    * md5-coordinate-derived ([[graft.text.SampleOps]]) so membership
    * is partition-layout- and engine-independent — the oracle
    * re-derives the exact member set, not just counts. The sampling
    * and split draws use distinct salts (independence pinned: the
    * split mix inside the sample matches the global weights). */
  Query("q63_determ_sampling") { (s, dir) =>
    import graft.text.SampleOps
    val docs = t(s, dir, "documents")
    SampleOps.stratifiedSample(docs, "doc_id", "source",
        Map("src0" -> 0.6, "src1" -> 0.3), 0.15, "st")
      .select(col("doc_id"), col("source"),
        SampleOps.hashCoord(col("doc_id"), "st").as("coord"),
        SampleOps.assignSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "sp")
          .as("split"))
      .orderBy("doc_id")
  } (oracle =
    // The md5 coordinate is exact in both engines: first 8 hex digits
    // as uint32, divided by 2^32 (a power-of-two scale, so the double
    // is bit-identical). Membership and split assignment re-derive
    // per row — the hash would catch a single row sampled differently.
    """
      WITH c AS (SELECT doc_id, source,
              ('0x' || substr(md5('st:' || doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0 AS coord,
              ('0x' || substr(md5('sp:' || doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0 AS sc
            FROM documents)
      SELECT doc_id, source, coord,
        -- cuts mirror the double SUMS Spark folds. For these weights
        -- the sum happens to equal the 0.9 literal, but that is not
        -- true in general (0.7 + 0.2 != 0.9 in doubles) — mirroring
        -- the op shape keeps both engines on the identical threshold
        -- for ANY weights
        CASE WHEN sc < 0.8::DOUBLE THEN 'train'
             WHEN sc < 0.8::DOUBLE + 0.1::DOUBLE THEN 'val'
             ELSE 'test' END AS split
      FROM c
      WHERE coord < CASE source WHEN 'src0' THEN 0.6
                                WHEN 'src1' THEN 0.3
                                ELSE 0.15 END
      ORDER BY doc_id"""),

  /** Exact-quota mixing: the deterministic 5 lowest-coordinate docs
    * per source — fixed counts where q63 fixes rates. */
  Query("q66_quota_mixing") { (s, dir) =>
    import graft.text.SampleOps
    SampleOps.takePerStratum(t(s, dir, "documents"),
        "doc_id", "source", 5, "q")
      .select(col("doc_id"), col("source"),
        SampleOps.hashCoord(col("doc_id"), "q").as("coord"))
      .orderBy("source", "doc_id")
  } (oracle = """
      WITH c AS (SELECT doc_id, source,
              ('0x' || substr(md5('q:' || doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0 AS coord
            FROM documents),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY source ORDER BY coord, doc_id) AS rn
            FROM c)
      SELECT doc_id, source, coord FROM r WHERE rn <= 5
      ORDER BY source, doc_id"""),

  /** Corpus vocabulary stats: document frequency + IDF per token —
    * the distributed wordcount shape (explode + map-side-combinable
    * token shuffle) with the corpus size folded into the IDF. */
  Query("q64_vocab_idf") { (s, dir) =>
    graft.text.TextOps.docFrequency(t(s, dir, "documents"),
        "doc_id", "text")
      .select(col("token"), col("n_docs"), rnd(col("idf"), 6).as("idf"))
      .orderBy("token")
  } (oracle = tokCte + """,
      dt AS (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tk),
      df AS (SELECT token, count(*) AS n_docs FROM dt GROUP BY token),
      n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS total FROM documents)
      SELECT token, n_docs,
        floor(ln((SELECT total FROM n) / n_docs) * 1000000.0 + 0.5)
          / 1000000.0 AS idf
      FROM df ORDER BY token"""),

  /** Contamination check: the fixture "eval set" is every 100th
    * document's text, so each eval doc must at minimum flag its own
    * source (identical shingle sets) and any near-duplicates; the
    * eval shingle table broadcasts, the corpus side never shuffles
    * (see [[graft.text.DedupOps.contamination]]). */
  Query("q65_contamination") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val eval = docs.filter(col("doc_id") % 100 === 7)
      .select(col("doc_id").as("eid"), col("text"))
    graft.text.DedupOps.contamination(
        docs, "doc_id", "text", eval, "eid", "text", 3, 2L)
      .orderBy("doc_id", "eval_id")
  } (oracle = shingleCte + """,
      ev AS (SELECT doc_id AS eval_id, shingle FROM sh
             WHERE doc_id % 100 = 7)
      SELECT s.doc_id, e.eval_id, count(*) AS n_shared
      FROM sh s JOIN ev e USING (shingle)
      GROUP BY s.doc_id, e.eval_id
      HAVING count(*) >= 2
      ORDER BY doc_id, eval_id"""),

  /** N-gram Jaccard near-dup pairs (3-shingles, j >= 0.5). */
  Query("q28_ngram_jaccard") { (s, dir) =>
    graft.text.DedupOps.ngramJaccardPairs(
        t(s, dir, "documents"), "doc_id", "text", 3, 0.5, Long.MaxValue)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"),
        col("n_b"), rnd(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  } (oracle = shingleCte + """,
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, n_shared, sa.n AS n_a, sb.n AS n_b,
             floor((n_shared::DOUBLE / (sa.n + sb.n - n_shared)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
      FROM pairs JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE n_shared::DOUBLE / (sa.n + sb.n - n_shared) >= 0.5
      ORDER BY id_a, id_b"""),

  /** MinHash LSH candidate pairs (8-hash signature, 4 bands x 2). */
  Query("q29_minhash_bands") { (s, dir) =>
    graft.text.DedupOps.minhashCandidatePairs(
        t(s, dir, "documents"), "doc_id", "text", 3, 4, 2)
      .orderBy("id_a", "id_b")
  } (oracle = shingleCte + """,
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_bands
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      GROUP BY 1, 2 ORDER BY id_a, id_b"""),

  /** 16-bit SimHash per document (relational form). */
  Query("q30_simhash") { (s, dir) =>
    graft.text.DedupOps.simhashTable(t(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("sh"))
      .orderBy("doc_id")
  } (oracle = tokCte + """,
      h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS h
        FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)),
      bits AS (SELECT tk.doc_id, t.j,
          CASE WHEN coalesce(sum(CASE WHEN (h.h >> t.j) & 1 = 1 THEN 1 ELSE -1 END), 0) >= 0
               THEN 1 << t.j ELSE 0 END AS bv
        FROM tk CROSS JOIN range(0, 16) t(j)
        LEFT JOIN h ON tk.doc_id = h.doc_id
        GROUP BY tk.doc_id, t.j)
      SELECT doc_id, sum(bv)::BIGINT AS sh FROM bits GROUP BY doc_id
      ORDER BY doc_id"""),

  /** SimHash near-dup pairs within hamming distance 3 (bucketed). */
  Query("q31_simhash_pairs") { (s, dir) =>
    graft.text.DedupOps.simhashPairs(
        t(s, dir, "documents"), "doc_id", "text", 3)
      .orderBy("id_a", "id_b")
  } (oracle = tokCte + """,
      h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS h
        FROM (SELECT doc_id, unnest(toks) AS tok FROM tk)),
      bits AS (SELECT tk.doc_id, t.j,
          CASE WHEN coalesce(sum(CASE WHEN (h.h >> t.j) & 1 = 1 THEN 1 ELSE -1 END), 0) >= 0
               THEN 1 << t.j ELSE 0 END AS bv
        FROM tk CROSS JOIN range(0, 16) t(j)
        LEFT JOIN h ON tk.doc_id = h.doc_id
        GROUP BY tk.doc_id, t.j),
      s AS (SELECT doc_id, sum(bv)::BIGINT AS sh FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.sh, b.sh)) AS hamming
      FROM s a JOIN s b ON (a.sh >> 8) = (b.sh >> 8) AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 3
      ORDER BY id_a, id_b"""),

  /** 64-bit SimHash near-dup pairs via the 4-rotated-16-bit-word
    * banding (the corpus-scale variant: exact recall at radius <= 3
    * by pigeonhole, in-bucket work O(n²/2¹⁶) per band). */
  Query("q50_simhash64_pairs") { (s, dir) =>
    graft.text.DedupOps.simhashPairs64(
        t(s, dir, "documents"), "doc_id", "text", 3)
      .orderBy("id_a", "id_b")
  } (oracle = tokCte + """,
      tkn AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
      hv AS (SELECT doc_id, t.j,
          ('0x' || substr(md5(tok), 1 + 4 * (t.j // 16), 4))::BIGINT AS hw
        FROM tkn CROSS JOIN range(0, 64) t(j)),
      bits AS (SELECT tk.doc_id, t.j,
          CASE WHEN coalesce(sum(CASE WHEN (hv.hw >> (t.j % 16)) & 1 = 1
                 THEN 1 ELSE -1 END), 0) >= 0
               THEN 1 << (t.j % 16) ELSE 0 END AS bv
        FROM tk CROSS JOIN range(0, 64) t(j)
        LEFT JOIN hv ON tk.doc_id = hv.doc_id AND hv.j = t.j
        GROUP BY tk.doc_id, t.j),
      words AS (SELECT doc_id, j // 16 AS w, sum(bv)::BIGINT AS wv
        FROM bits GROUP BY doc_id, j // 16),
      s AS (SELECT doc_id,
          max(CASE WHEN w = 0 THEN wv END) AS w0,
          max(CASE WHEN w = 1 THEN wv END) AS w1,
          max(CASE WHEN w = 2 THEN wv END) AS w2,
          max(CASE WHEN w = 3 THEN wv END) AS w3
        FROM words GROUP BY doc_id),
      bk AS (
        SELECT doc_id, w0, w1, w2, w3, 0 AS band, w0 AS key FROM s
        UNION ALL SELECT doc_id, w0, w1, w2, w3, 1, w1 FROM s
        UNION ALL SELECT doc_id, w0, w1, w2, w3, 2, w2 FROM s
        UNION ALL SELECT doc_id, w0, w1, w2, w3, 3, w3 FROM s),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          min(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
            + bit_count(xor(a.w2, b.w2)) + bit_count(xor(a.w3, b.w3)))
            AS hamming
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
      ORDER BY id_a, id_b"""),

  /** Dedup clustering: connected components over the MinHash candidate
    * pairs — every doc labeled with its cluster's canonical (min) doc
    * id. Oracle = recursive-CTE transitive closure over the same
    * pairs in DuckDB. */
  Query("q41_dedup_components") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id").as("id"))
    val pairs = graft.text.DedupOps.minhashCandidatePairs(
      t(s, dir, "documents"), "doc_id", "text", 3, 4, 2)
    graft.text.DedupOps.connectedComponents(docs, pairs)
      .select(col("id").as("doc_id"), col("component"))
      .orderBy("doc_id")
  } (oracle =
    shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
      SELECT id AS doc_id, min(r) AS component
      FROM reach GROUP BY id ORDER BY doc_id"""),

  /** BPE-ish token counting next to whitespace counting — the
    * LLM-corpus cost estimate, oracle-exact because the regex uses
    * only constructs Java and RE2 interpret identically. */
  Query("q45_bpeish_tokens") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.text.TextOps.tokenCount(col("text")).as("n_ws_tokens"),
        graft.text.TextOps.bpeishTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  } (oracle = """
      SELECT doc_id,
             len(list_filter(string_split_regex(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
               x -> x <> '')) AS n_ws_tokens,
             len(list_filter(regexp_extract_all(text,
               '''(?:ll|ve|re|[sdmt])| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+|\s+'),
               x -> NOT regexp_full_match(x, '\s+'))) AS n_bpe_tokens
      FROM documents ORDER BY doc_id"""),

  /** Sequence packing: the documents table laid out as ONE
    * deterministic token stream (hash order; two-pass distributed
    * prefix sum — no single-partition global window) and chunked into
    * 256-token training blocks, one row per (block, doc) overlap. The
    * oracle re-derives the identical layout with a global-window
    * cumulative sum — tractable in DuckDB at test SF, and exactly the
    * plan shape the Spark side exists to avoid at scale. Uses the
    * EAGER variant so repeated bench/verify runs retain no substrate
    * (retainedSubstrates stays 0 after the result materializes). */
  Query("q70_seq_packing") { (s, dir) =>
    import graft.text.{PackOps, TextOps}
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    PackOps.packBlocksEager(docs, "doc_id", "n_tokens", 256, "pk")
      .select(col("block_id"), col("doc_id"), col("start_in_block"),
        col("span_tokens"), col("start_off"), col("end_off"))
      .orderBy("block_id", "doc_id")
  } (oracle =
    // The global-window cumulative sum here is the single-partition
    // shape PackOps.packOffsets avoids; at test SF it is the cleanest
    // oracle for the two-pass distributed layout. Same md5 coordinate
    // as q63 (salt 'pk').
    tokCte + """,
      n AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
              ('0x' || substr(md5('pk:' || doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0 AS coord
            FROM tk),
      o AS (SELECT doc_id, n_tokens,
              sum(n_tokens) OVER (ORDER BY coord, doc_id
                ROWS UNBOUNDED PRECEDING)::BIGINT AS end_off
            FROM n),
      sp AS (SELECT doc_id, n_tokens, end_off,
              end_off - n_tokens AS start_off FROM o
            WHERE n_tokens > 0),
      b AS (SELECT *, unnest(range(start_off // 256,
              (end_off - 1) // 256 + 1)) AS block_id FROM sp)
      SELECT block_id, doc_id,
        greatest(start_off - block_id * 256, 0) AS start_in_block,
        least(end_off, block_id * 256 + 256)
          - greatest(start_off, block_id * 256) AS span_tokens,
        start_off, end_off
      FROM b ORDER BY block_id, doc_id"""),

  /** Repetition quality signals (Gopher-style): duplicate-token-line
    * fractions and top-2/3-gram character coverage per document, all
    * re-derived in SQL from the same tokenization. The corpus text
    * never repeats an 8-token line, so every 25th document is
    * replaced with an n-fold repeated template line (n a function of
    * doc_id, built identically in both engines) — the duplicate-line
    * branch is exercised with varying non-zero fractions, not just
    * the all-zero corpus case. */
  Query("q71_repetition") { (s, dir) =>
    import graft.text.QualityOps
    val docs = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 25 === 0,
        expr("repeat('lorem ipsum dolor sit amet consectetur " +
          "adipiscing elit ', cast(2 + doc_id % 4 as int))"))
        .otherwise(col("text")).as("text"))
    QualityOps.repetitionStats(docs, "doc_id", "text",
        lineWidth = 8, ns = Seq(2, 3))
      .select(col("doc_id"), col("n_lines"),
        rnd(col("dup_line_frac"), 6).as("dup_line_frac"),
        rnd(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
        rnd(col("top2_char_frac"), 6).as("top2_char_frac"),
        rnd(col("top3_char_frac"), 6).as("top3_char_frac"))
      .orderBy("doc_id")
  } (oracle =
    // Token lines are 8-token chunks (list_slice mirrors Spark's
    // slice), n-grams are NON-distinct (counts are the signal).
    // Integer-exact numerators/denominators divide identically in
    // both engines; rnd-6 absorbs the 1.0-x subtraction ulp.
    """
      WITH d AS (SELECT doc_id,
            CASE WHEN doc_id % 25 = 0
              THEN repeat('lorem ipsum dolor sit amet consectetur '
                || 'adipiscing elit ', (2 + doc_id % 4)::INTEGER)
              ELSE text END AS text
          FROM documents),
      tk AS (SELECT doc_id, list_filter(string_split_regex(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
          x -> x <> '') AS toks
        FROM d)""" + """,
      ln AS (SELECT doc_id, unnest(list_transform(
              range(0, (len(toks) + 7) // 8),
              i -> array_to_string(list_slice(toks, i*8 + 1, i*8 + 8),
                ' '))) AS line
            FROM tk WHERE len(toks) > 0),
      lc AS (SELECT doc_id, line, count(*) AS cnt, length(line) AS len
            FROM ln GROUP BY doc_id, line),
      la AS (SELECT doc_id, sum(cnt)::BIGINT AS n_lines,
              1.0 - count(*)::DOUBLE / sum(cnt) AS dlf,
              sum((cnt - 1) * len)::DOUBLE / sum(cnt * len) AS dlcf
            FROM lc GROUP BY doc_id),
      tc AS (SELECT doc_id, length(array_to_string(toks, ' ')) AS chars
            FROM tk),
      g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i+1])) AS g
            FROM tk WHERE len(toks) >= 2),
      g2m AS (SELECT doc_id, max(c * length(g)) AS mx FROM
              (SELECT doc_id, g, count(*) AS c FROM g2
               GROUP BY doc_id, g) GROUP BY doc_id),
      g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
            FROM tk WHERE len(toks) >= 3),
      g3m AS (SELECT doc_id, max(c * length(g)) AS mx FROM
              (SELECT doc_id, g, count(*) AS c FROM g3
               GROUP BY doc_id, g) GROUP BY doc_id)
      SELECT tk.doc_id,
        coalesce(la.n_lines, 0) AS n_lines,
        floor(coalesce(la.dlf, 0.0) * 1000000.0 + 0.5) / 1000000.0
          AS dup_line_frac,
        floor(coalesce(la.dlcf, 0.0) * 1000000.0 + 0.5) / 1000000.0
          AS dup_line_char_frac,
        floor(coalesce(CASE WHEN tc.chars > 0
            THEN g2m.mx::DOUBLE / tc.chars END, 0.0)
          * 1000000.0 + 0.5) / 1000000.0 AS top2_char_frac,
        floor(coalesce(CASE WHEN tc.chars > 0
            THEN g3m.mx::DOUBLE / tc.chars END, 0.0)
          * 1000000.0 + 0.5) / 1000000.0 AS top3_char_frac
      FROM tk
      LEFT JOIN la USING (doc_id) LEFT JOIN tc USING (doc_id)
      LEFT JOIN g2m USING (doc_id) LEFT JOIN g3m USING (doc_id)
      ORDER BY doc_id"""),

  /** PII scrubbing: deterministic synthetic PII (email/URL/IP derived
    * from doc_id — the corpus text itself contains none) appended to
    * each document, then counted on the raw text and redacted in the
    * fixed email→URL→IP order; the md5 of the redacted text pins the
    * exact replacement behaviour in both engines. */
  Query("q72_pii_scrub") { (s, dir) =>
    import graft.text.ScrubOps
    val pii = concat(col("text"),
      lit(" contact u"), col("doc_id").cast("string"),
      lit("@ex"), (col("doc_id") % 7).cast("string"),
      lit(".org via http://h"), (col("doc_id") % 5).cast("string"),
      lit(".example.com/p/"), col("doc_id").cast("string"),
      lit(" from 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), (col("doc_id") % 100).cast("string"),
      lit(" end"),
      when(col("doc_id") % 2 === 0,
        concat(lit(" cc b"), col("doc_id").cast("string"),
          lit("@mail.net"))).otherwise(lit("")),
      // Email-shaped credential inside a URL authority: pins the
      // deliberate email-first order (redacts to `http://<EMAIL>/q`,
      // a mangled URL remnant — see ScrubOps scaladoc).
      when(col("doc_id") % 3 === 0,
        concat(lit(" auth http://u"), col("doc_id").cast("string"),
          lit("@cred.example.net/q"))).otherwise(lit("")))
    t(s, dir, "documents")
      .select(col("doc_id"), pii.as("__t"))
      .select(col("doc_id"),
        ScrubOps.countEmails(col("__t")).as("n_emails"),
        ScrubOps.countUrls(col("__t")).as("n_urls"),
        ScrubOps.countIpv4(col("__t")).as("n_ips"),
        md5(ScrubOps.redactPii(col("__t"))).as("red_md5"))
      .orderBy("doc_id")
  } (oracle =
    // Same injected-PII construction segment-for-segment; counts on
    // the raw text, redaction email -> URL -> IP with 'g' mirroring
    // Spark's replace-all regexp_replace.
    """
      WITH p AS (SELECT doc_id, text || ' contact u' || doc_id::VARCHAR
              || '@ex' || (doc_id % 7)::VARCHAR || '.org via http://h'
              || (doc_id % 5)::VARCHAR || '.example.com/p/'
              || doc_id::VARCHAR || ' from 10.'
              || (doc_id % 256)::VARCHAR || '.0.'
              || (doc_id % 100)::VARCHAR || ' end'
              || CASE WHEN doc_id % 2 = 0
                  THEN ' cc b' || doc_id::VARCHAR || '@mail.net'
                  ELSE '' END
              || CASE WHEN doc_id % 3 = 0
                  THEN ' auth http://u' || doc_id::VARCHAR
                    || '@cred.example.net/q'
                  ELSE '' END AS t
            FROM documents)
      SELECT doc_id,
        len(regexp_extract_all(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        len(regexp_extract_all(t,
          'https?://[A-Za-z0-9._~:/?#@!$&*+,;=%-]+')) AS n_urls,
        len(regexp_extract_all(t,
          '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ips,
        md5(regexp_replace(regexp_replace(regexp_replace(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
          '<EMAIL>', 'g'),
          'https?://[A-Za-z0-9._~:/?#@!$&*+,;=%-]+', '<URL>', 'g'),
          '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS red_md5
      FROM p ORDER BY doc_id"""),

  /** Packed-block content assembly: the same q70 layout materialized —
    * every 256-token block's actual token stream, md5-pinned. The
    * per-block aggregation state is bounded by the block size by
    * construction, so the collect_list can never grow with corpus
    * size. */
  Query("q73_packed_blocks") { (s, dir) =>
    import graft.text.PackOps
    PackOps.packedBlocks(t(s, dir, "documents"), "doc_id", "text",
        256, "pk")
      .orderBy("block_id")
  } (oracle =
    // q70's layout with the content materialized: per-(block, doc)
    // token slices reassembled in start_in_block order; string_agg
    // with ORDER BY mirrors Spark's array_sort(collect_list(struct)).
    tokCte + """,
      n AS (SELECT doc_id, toks, len(toks)::BIGINT AS n_tokens,
              ('0x' || substr(md5('pk:' || doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0 AS coord
            FROM tk),
      o AS (SELECT doc_id, toks, n_tokens,
              sum(n_tokens) OVER (ORDER BY coord, doc_id
                ROWS UNBOUNDED PRECEDING)::BIGINT AS end_off
            FROM n),
      sp AS (SELECT doc_id, toks, n_tokens, end_off,
              end_off - n_tokens AS start_off FROM o
            WHERE n_tokens > 0),
      b AS (SELECT *, unnest(range(start_off // 256,
              (end_off - 1) // 256 + 1)) AS block_id FROM sp),
      sl AS (SELECT block_id, doc_id,
              greatest(start_off - block_id * 256, 0) AS start_in_block,
              least(end_off, block_id * 256 + 256)
                - greatest(start_off, block_id * 256) AS span,
              array_to_string(list_slice(toks,
                greatest(block_id * 256 - start_off, 0) + 1,
                least(end_off, block_id * 256 + 256) - start_off), ' ')
                AS slice_str
            FROM b)
      SELECT block_id, count(*) AS n_docs,
        sum(span)::BIGINT AS block_tokens,
        md5(string_agg(slice_str, ' ' ORDER BY start_in_block))
          AS content_md5
      FROM sl GROUP BY block_id ORDER BY block_id"""),

  /** Deterministic shard export: write the corpus as 16 hash-assigned
    * parquet shards, READ THE FILES BACK, and manifest them grouped
    * on the directory-layout shard value — count, order-invariant
    * content XOR, char sum per shard. The oracle re-derives the
    * manifest from the raw table, so a writer that dropped,
    * duplicated, altered, or mis-assigned a single row hash-fails. */
  Query("q74_shard_export") { (s, dir) =>
    import graft.text.SampleOps
    // Per-process output dir: stable within a run (bench re-runs reuse
    // it) but two concurrent bench/verify processes on one machine
    // can't interleave overwrite + read-back into spurious mismatches.
    val out = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_q74_${ProcessHandle.current().pid()}/shards"
    val docs = t(s, dir, "documents").select("doc_id", "text")
    // writeShards' return IS the read-back manifest (directory-layout
    // shard grouping) — the oracle re-derives it from the raw table.
    SampleOps.writeShards(docs, "doc_id", "text", out, 16, "sh")
      .orderBy("shard")
  } (oracle =
    // The manifest re-derived from the RAW table (Spark computes it
    // from the written files): dyadic coordinate × power-of-two shard
    // count is bit-exact in both engines; bit_xor is order-invariant
    // so file order stays out of the contract.
    """
      WITH s AS (SELECT doc_id, text,
              floor((('0x' || substr(md5('sh:' || doc_id::VARCHAR), 1, 8))
                ::BIGINT / 4294967296.0) * 16)::INTEGER AS shard
            FROM documents),
      h AS (SELECT shard,
              ('0x' || substr(md5('mf:' || doc_id::VARCHAR || ':'
                || md5(text)), 1, 8))::BIGINT AS h,
              length(text) AS len
            FROM s)
      SELECT shard, count(*) AS n_docs, bit_xor(h) AS content_xor,
        sum(len)::BIGINT AS n_chars
      FROM h GROUP BY shard ORDER BY shard"""),

  /** Epoch-weighted mixing: src0 × 2.5 epochs, src1 × 0.75, others
    * × 1.25 — every copy materialized with its index, re-derived per
    * row in SQL (dyadic fractions keep the coordinate comparison
    * bit-exact in both engines). */
  Query("q75_epoch_mixing") { (s, dir) =>
    import graft.text.SampleOps
    SampleOps.oversample(
        t(s, dir, "documents").select("doc_id", "source"),
        "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.75), defaultWeight = 1.25,
        salt = "ep")
      .select("doc_id", "source", "copy")
      .orderBy("doc_id", "copy")
  } (oracle =
    // floor(w) whole copies + one fractional copy when the coordinate
    // is below frac(w); dyadic fractions (.5/.75/.25) compare
    // bit-identically in both engines. generate_series mirrors the
    // guarded sequence explode (zero-copy rows emit nothing).
    """
      WITH c AS (SELECT doc_id, source,
              CASE source WHEN 'src0' THEN 2.5
                          WHEN 'src1' THEN 0.75
                          ELSE 1.25 END AS w,
              ('0x' || substr(md5('ep:' || doc_id::VARCHAR), 1, 8))::BIGINT
                / 4294967296.0 AS coord
            FROM documents),
      n AS (SELECT doc_id, source,
              (floor(w)::BIGINT
                + CASE WHEN coord < w - floor(w) THEN 1 ELSE 0 END)
                AS copies
            FROM c)
      SELECT doc_id, source, unnest(range(0, copies)) AS copy
      FROM n WHERE copies > 0
      ORDER BY doc_id, copy"""),

  /** Gopher-style composite keep/drop verdict, oracle-pinned: the
    * corpus is engineered so every threshold of
    * [[graft.text.QualityOps.gopherFilter]] trips on at least one
    * document class (too-few/too-many tokens, short/long mean token,
    * no stopwords, punctuation flood, duplicated lines, dominant
    * 2-gram), and the full signal vector + the keep boolean are
    * re-derived in SQL. The comparisons run on unrounded doubles in
    * both engines — every signal is an integer ratio divided once in
    * double, so the booleans are bit-identical. */
  Query("q77_gopher_filter") { (s, dir) =>
    import graft.text.QualityOps
    val docs = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 30 === 0, lit("tiny doc"))
        .when(col("doc_id") % 30 === 1,
          concat(col("text"), expr("repeat('!', length(text))")))
        .when(col("doc_id") % 30 === 2, lit(q77NoStop))
        .when(col("doc_id") % 30 === 3, lit(q77LongToks))
        .when(col("doc_id") % 30 === 4,
          expr("repeat('lorem ipsum dolor sit amet consectetur " +
            "adipiscing elit ', 16)"))
        .when(col("doc_id") % 30 === 5,
          expr("repeat('0 1 2 3 4 5 6 7 8 9 ', 6)"))
        .when(col("doc_id") % 30 === 6,
          expr("repeat('z9 y8 x7 w6 v5 u4 t3 s2 ', 80)"))
        .when(col("doc_id") % 30 === 7, expr("repeat('lorem ipsum ', 30)"))
        .otherwise(col("text")).as("text"))
    QualityOps.gopherFilter(docs, "doc_id", "text", maxTokens = 600)
      .select(col("doc_id"), col("q_tokens"),
        rnd(col("q_mean_tok"), 6).as("q_mean_tok"),
        rnd(col("q_stopword"), 6).as("q_stopword"),
        rnd(col("q_punct"), 6).as("q_punct"),
        col("n_lines"),
        rnd(col("dup_line_frac"), 6).as("dup_line_frac"),
        rnd(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
        rnd(col("top2_char_frac"), 6).as("top2_char_frac"),
        col("keep"))
      .orderBy("doc_id")
  } (oracle =
    // Same engineered corpus CASE-for-CASE; quality signals as in the
    // q25 oracle, repetition as in the q71 oracle (width 10, 2-grams
    // only — gopherFilter's parameters); keep compares the UNROUNDED
    // doubles exactly as the Spark side does.
    s"""
      WITH corp AS (SELECT doc_id,
          CASE WHEN doc_id % 30 = 0 THEN 'tiny doc'
               WHEN doc_id % 30 = 1 THEN text || repeat('!', length(text))
               WHEN doc_id % 30 = 2 THEN '$q77NoStop'
               WHEN doc_id % 30 = 3 THEN '$q77LongToks'
               WHEN doc_id % 30 = 4 THEN repeat('lorem ipsum dolor sit '
                 || 'amet consectetur adipiscing elit ', 16)
               WHEN doc_id % 30 = 5 THEN repeat('0 1 2 3 4 5 6 7 8 9 ', 6)
               WHEN doc_id % 30 = 6 THEN repeat('z9 y8 x7 w6 v5 u4 t3 s2 ', 80)
               WHEN doc_id % 30 = 7 THEN repeat('lorem ipsum ', 30)
               ELSE text END AS text
        FROM documents),
      tk AS (SELECT doc_id, list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
            x -> x <> '') AS toks
        FROM corp),
      q AS (SELECT tk.doc_id, len(toks) AS q_tokens,
            CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                / len(toks) ELSE 0.0 END AS q_mean_tok,
            CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))::DOUBLE
                / len(toks) ELSE 0.0 END AS q_stopword,
            CASE WHEN length(c.text) > 0
              THEN length(regexp_replace(lower(c.text), '[a-z0-9 ]', '', 'g'))::DOUBLE
                / length(c.text) ELSE 0.0 END AS q_punct
        FROM tk JOIN corp c ON tk.doc_id = c.doc_id),
      ln AS (SELECT doc_id, unnest(list_transform(
              range(0, (len(toks) + 9) // 10),
              i -> array_to_string(list_slice(toks, i*10 + 1, i*10 + 10),
                ' '))) AS line
            FROM tk WHERE len(toks) > 0),
      lc AS (SELECT doc_id, line, count(*) AS cnt, length(line) AS len
            FROM ln GROUP BY doc_id, line),
      la AS (SELECT doc_id, sum(cnt)::BIGINT AS n_lines,
              1.0 - count(*)::DOUBLE / sum(cnt) AS dlf,
              sum((cnt - 1) * len)::DOUBLE / sum(cnt * len) AS dlcf
            FROM lc GROUP BY doc_id),
      tc AS (SELECT doc_id, length(array_to_string(toks, ' ')) AS chars
            FROM tk),
      g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i+1])) AS g
            FROM tk WHERE len(toks) >= 2),
      g2m AS (SELECT doc_id, max(c * length(g)) AS mx FROM
              (SELECT doc_id, g, count(*) AS c FROM g2
               GROUP BY doc_id, g) GROUP BY doc_id),
      rep AS (SELECT tk.doc_id,
              coalesce(la.n_lines, 0) AS n_lines,
              coalesce(la.dlf, 0.0) AS dlf,
              coalesce(la.dlcf, 0.0) AS dlcf,
              coalesce(CASE WHEN tc.chars > 0
                THEN g2m.mx::DOUBLE / tc.chars END, 0.0) AS top2
            FROM tk LEFT JOIN la USING (doc_id)
            LEFT JOIN tc USING (doc_id) LEFT JOIN g2m USING (doc_id))
      SELECT q.doc_id, q.q_tokens,
        floor(q.q_mean_tok * 1000000.0 + 0.5) / 1000000.0 AS q_mean_tok,
        floor(q.q_stopword * 1000000.0 + 0.5) / 1000000.0 AS q_stopword,
        floor(q.q_punct * 1000000.0 + 0.5) / 1000000.0 AS q_punct,
        rep.n_lines,
        floor(rep.dlf * 1000000.0 + 0.5) / 1000000.0 AS dup_line_frac,
        floor(rep.dlcf * 1000000.0 + 0.5) / 1000000.0 AS dup_line_char_frac,
        floor(rep.top2 * 1000000.0 + 0.5) / 1000000.0 AS top2_char_frac,
        (q.q_tokens BETWEEN 50 AND 600
          AND q.q_mean_tok BETWEEN 2.0 AND 12.0
          AND q.q_stopword >= 0.02 AND q.q_punct <= 0.25
          AND rep.dlf <= 0.30 AND rep.dlcf <= 0.30
          AND rep.top2 <= 0.20) AS keep
      FROM q JOIN rep ON q.doc_id = rep.doc_id
      ORDER BY q.doc_id"""),

  /** Duplicated-span detection (ExactSubstr granularity): maximal
    * spans of 8-token windows occurring >= 2x corpus-wide. Portable
    * md5 window keys so DuckDB re-derives the same table; the
    * xxhash64 production path is pinned equal in `TextOpsSpec`. */
  Query("q80_dup_spans") { (s, dir) =>
    graft.text.DedupOps.dupSpans(t(s, dir, "documents"), 8, 2,
        portableHash = true)
      .orderBy("doc_id", "span_start")
  } (oracle =
    // 8-token sliding windows (1-based slice i..i+7 = Spark pos i-1),
    // md5-16 keys; gaps-and-islands merge with the same `pos - lag <=
    // k` break rule (NULL lag -> new group in both engines).
    tokCte + """,
      win AS (SELECT doc_id, i - 1 AS pos,
          substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16) AS wh
        FROM tk, unnest(range(1, len(toks) - 6)) t(i)),
      occ AS (SELECT wh FROM win GROUP BY wh HAVING count(*) >= 2),
      dw AS (SELECT w.doc_id, w.pos FROM win w JOIN occ USING (wh)),
      b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos)
          OVER (PARTITION BY doc_id ORDER BY pos) <= 8 THEN 0 ELSE 1
          END AS brk FROM dw),
      g AS (SELECT doc_id, pos, sum(brk)
          OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM b)
      SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end,
             count(*) AS dup_windows
      FROM g GROUP BY doc_id, grp ORDER BY doc_id, span_start"""),

  /** Span removal over q80's spans: every doc comes back with its
    * normalized token stream minus all flagged occurrences. */
  Query("q81_remove_spans") { (s, dir) =>
    graft.text.DedupOps.removeDupSpans(t(s, dir, "documents"), 8, 2,
        portableHash = true)
      .orderBy("doc_id")
  } (oracle = tokCte + """,
      win AS (SELECT doc_id, i - 1 AS pos,
          substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16) AS wh
        FROM tk, unnest(range(1, len(toks) - 6)) t(i)),
      occ AS (SELECT wh FROM win GROUP BY wh HAVING count(*) >= 2),
      dw AS (SELECT w.doc_id, w.pos FROM win w JOIN occ USING (wh)),
      b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos)
          OVER (PARTITION BY doc_id ORDER BY pos) <= 8 THEN 0 ELSE 1
          END AS brk FROM dw),
      g AS (SELECT doc_id, pos, sum(brk)
          OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM b),
      spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
        FROM g GROUP BY doc_id, grp),
      tokrow AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        FROM tk, unnest(range(1, len(toks) + 1)) t(i)),
      kept AS (SELECT t.doc_id, t.pos, t.tok FROM tokrow t
        WHERE NOT EXISTS (SELECT 1 FROM spans s
          WHERE s.doc_id = t.doc_id
            AND t.pos >= s.s AND t.pos < s.e)),
      rebuilt AS (SELECT doc_id,
          string_agg(tok, ' ' ORDER BY pos) AS ct
        FROM kept GROUP BY doc_id)
      SELECT d.doc_id, coalesce(r.ct, '') AS clean_text
      FROM documents d LEFT JOIN rebuilt r USING (doc_id)
      ORDER BY d.doc_id"""),

  /** Decontamination removal over q65's flag set: the corpus minus
    * every doc sharing >= 2 3-shingles with the synthetic eval slice
    * (which includes the eval docs themselves — self-overlap flags
    * them, so the removal provably fires). */
  Query("q82_decontaminate") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val eval = docs.filter(col("doc_id") % 100 === 7)
      .select(col("doc_id").as("eid"), col("text"))
    graft.text.DedupOps.decontaminate(
        docs, "doc_id", "text", eval, "eid", "text", 3, 2L)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  } (oracle = shingleCte + """,
      ev AS (SELECT doc_id AS eval_id, shingle FROM sh
             WHERE doc_id % 100 = 7),
      fl AS (SELECT DISTINCT doc_id FROM (
               SELECT s.doc_id FROM sh s JOIN ev e USING (shingle)
               GROUP BY s.doc_id, e.eval_id
               HAVING count(*) >= 2))
      SELECT d.doc_id, d.source, d.n_chars FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM fl)
      ORDER BY doc_id"""),

  /** Unicode text normalization: NFC + lowercase + accent strip +
    * whitespace collapse, oracle-pinned byte-for-byte against
    * DuckDB's utf8proc implementations of the same Unicode
    * algorithms. The corpus augments each doc with decomposed,
    * precomposed, and mixed-whitespace forms so every normalization
    * path fires on every row; the fingerprint column proves the
    * normalized bytes hash identically in both engines. */
  Query("q83_normalize_text") { (s, dir) =>
    import graft.functions.TextNorm
    val raw = concat_ws(" ", col("text"),
      lit("Caf\u00e9"),                    // precomposed e-acute
      lit("Cafe\u0301 au\tlait"),         // decomposed e + U+0301, tab ws
      lit("M\u00dcNCHEN \u00d8resund"),   // U-umlaut lowers; O-slash has no mark
      lit("nai\u0308ve  \n coordinaci\u00f3n"))
    t(s, dir, "documents").select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        TextNorm.normalizeText(col("raw")).as("norm"),
        TextNorm.normalizeText(col("raw"), accentStrip = true)
          .as("norm_folded"),
        TextNorm.normalizedFingerprint(col("raw"), accentStrip = true)
          .as("fp"))
      .orderBy("doc_id")
  } (oracle =
    // Corpus literals: real unicode chars are spliced via {uXXXX}
    // placeholders below (lexer \u escapes are deprecated inside
    // triple quotes); \t and \n stay backslash sequences in a
    // triple quote, so the E'' strings let DuckDB decode them —
    // matching the real tab/newline in the Spark literals.
    uSplice("""
      WITH c AS (SELECT doc_id, concat_ws(' ', text,
          'Caf{u00e9}', E'Cafe{u0301} au\tlait',
          'M{u00dc}NCHEN {u00d8}resund',
          E'nai{u0308}ve  \n coordinaci{u00f3}n') AS raw
        FROM documents),
      n AS (SELECT doc_id,
          trim(regexp_replace(lower(nfc_normalize(raw)),
            '\s+', ' ', 'g')) AS norm,
          trim(regexp_replace(strip_accents(lower(nfc_normalize(raw))),
            '\s+', ' ', 'g')) AS norm_folded
        FROM c)
      SELECT doc_id, norm, norm_folded, md5(norm_folded) AS fp
      FROM n ORDER BY doc_id""")),

  /** Corpus-wide domain ranking over extracted, normalized hosts. */
  Query("q84_domain_stats") { (s, dir) =>
    graft.text.DomainOps.domainStats(urlAugmented(s, dir), "doc_id", "text")
      .orderBy("host")
  } (oracle = urlAugCte + """,
      """ + hostCte + """
      SELECT host, count(DISTINCT doc_id) AS n_docs,
             count(*) AS n_occurrences
      FROM hosts GROUP BY host ORDER BY host"""),

  /** Domain-blocklist filter (suffix match): `tracker.net` blocks the
    * `ads.tracker.net` subdomain host, `spam.io` the bare host. */
  Query("q85_blocklist_filter") { (s, dir) =>
    graft.text.DomainOps.filterBlockedDomains(urlAugmented(s, dir),
        "doc_id", "text", Seq("tracker.net", "spam.io"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  } (oracle = urlAugCte + """,
      """ + hostCte + """,
      fl AS (SELECT DISTINCT doc_id FROM hosts
             WHERE host IN ('tracker.net', 'spam.io')
                OR host LIKE '%.tracker.net' OR host LIKE '%.spam.io')
      SELECT doc_id, source, n_chars FROM c
      WHERE doc_id NOT IN (SELECT doc_id FROM fl)
      ORDER BY doc_id"""),

  /** CCNet-style LM quality scoring: an interpolated bigram LM
    * trained on the trusted slice doc_id % 10 < 3, scoring the whole
    * documents table. The oracle re-derives the full chain — token
    * pairs, count tables, micro-nat quantized per-type cost, BIGINT
    * doc totals, perplexity — in SQL. */
  Query("q88_lm_perplexity") { (s, dir) =>
    val docs = t(s, dir, "documents")
    graft.text.LmOps.perplexity(
        docs, docs.filter(pmod(col("doc_id"), lit(10)) < 3),
        "doc_id", "text")
      .orderBy("doc_id")
  } (oracle =
    // Full CCNet-style LM chain re-derived: position pairs with the
    // <s> sentinel context, reference count tables (ref = doc_id%10<3),
    // JM interpolation with dyadic 0.75/(1.0-0.75), micro-nat floor
    // quantization per bigram TYPE, exact BIGINT doc totals, rnd6
    // perplexity. Mirrors LmOps.perplexity term for term.
    lmCte + """
      SELECT doc_id, n_tok, nll_micro, ppl FROM outq
      ORDER BY doc_id"""),

  /** DSIR data selection: importance weights of every doc between
    * hashed-ngram distributions of the lang='en' target slice and
    * the raw corpus, plus deterministic Gumbel top-100. The oracle
    * re-derives features, distributions, micro-quantized log-ratios,
    * BIGINT doc weights, the Gumbel draw, and the top-k flag. */
  Query("q89_dsir_select") { (s, dir) =>
    val docs = t(s, dir, "documents")
    graft.text.DsirOps.dsirSelect(
        docs, docs.filter(col("lang") === "en"), k = 100,
        idCol = "doc_id", textCol = "text", buckets = 256)
      .orderBy("doc_id")
  } (oracle =
    // Full DSIR chain re-derived: hashed unigram+bigram features
    // (seededHash32 = md5-derived, '7:'-prefixed), add-one bucket
    // distributions of the en-slice target and the raw corpus,
    // micro-quantized per-bucket log-ratios, BIGINT doc weights,
    // md5-coordinate Gumbel draw ((h+0.5)/2^32 strictly inside (0,1)),
    // top-100 under the (key DESC, id ASC) total order.
    tokCte + """,
      fs AS (SELECT doc_id, unnest(
          flatten(list_transform(range(1, len(toks)+1), i ->
            CASE WHEN i = 1 THEN [toks[i]]
                 ELSE [toks[i], toks[i-1] || ' ' || toks[i]] END))) AS f
        FROM tk),
      fb AS (SELECT doc_id,
          ('0x' || substr(md5('7:' || f), 1, 8))::BIGINT % 256 AS bucket
        FROM fs),
      dc AS (SELECT doc_id, bucket, count(*)::BIGINT AS n
             FROM fb GROUP BY doc_id, bucket),
      pt AS (SELECT bucket, count(*)::BIGINT AS c_p
             FROM fb JOIN documents USING (doc_id)
             WHERE lang = 'en' GROUP BY bucket),
      qt AS (SELECT bucket, sum(n)::BIGINT AS c_q FROM dc GROUP BY bucket),
      tot AS (SELECT
          (SELECT coalesce(sum(c_p), 0) FROM pt)::DOUBLE AS tp,
          (SELECT coalesce(sum(c_q), 0) FROM qt)::DOUBLE AS tq),
      lam AS (SELECT qt.bucket,
          CAST(floor(ln(((coalesce(pt.c_p, 0) + 1.0) / (tot.tp + 256.0))
                   / ((qt.c_q + 1.0) / (tot.tq + 256.0)))
            * 1000000.0 + 0.5) AS BIGINT) AS lam_micro
        FROM qt CROSS JOIN tot LEFT JOIN pt ON qt.bucket = pt.bucket),
      perdoc AS (SELECT dc.doc_id, sum(dc.n)::BIGINT AS n_feat,
          sum(dc.n * lam.lam_micro)::BIGINT AS logw_micro
        FROM dc JOIN lam ON dc.bucket = lam.bucket GROUP BY dc.doc_id),
      keyed AS (SELECT d.doc_id,
          coalesce(n_feat, 0)::BIGINT AS n_feat,
          coalesce(logw_micro, 0)::BIGINT AS logw_micro,
          CAST(floor(-ln(-ln(
              (('0x' || substr(md5('7:g:' || d.doc_id::VARCHAR), 1, 8))::BIGINT
                + 0.5) / 4294967296.0))
            * 1000000.0 + 0.5) AS BIGINT) AS g_micro
        FROM documents d LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id),
      rk AS (SELECT *, logw_micro + g_micro AS key_micro,
          row_number() OVER (ORDER BY logw_micro + g_micro DESC,
            doc_id ASC) AS r
        FROM keyed)
      SELECT doc_id, n_feat, logw_micro, g_micro, key_micro,
             (r <= 100) AS selected
      FROM rk ORDER BY doc_id"""),

  /** BM25 top-10 retrieval for four fixed probe queries over the
    * documents table. The oracle re-derives postings, df/length
    * stats, the micro-quantized per-term contributions, BIGINT
    * per-(query, doc) scores, and the ranked cut in SQL. */
  Query("q90_bm25_topk") { (s, dir) =>
    import s.implicits._
    val queries = Seq(
      (1L, "fast merge join"), (2L, "window query sort stream"),
      (3L, "customer order table"), (4L, "slow vector scan"))
      .toDF("query_id", "qtext")
    graft.text.RankOps.bm25TopK(t(s, dir, "documents"), queries, k = 10)
      .orderBy("query_id", "rank")
  } (oracle =
    // BM25 re-derived with the arithmetic parenthesized exactly as
    // the Spark side computes it (idf * (tf-part), k1+1 as the same
    // (1.2 + 1.0) double op, dyadic b, avgdl = tot/n first).
    tokCte + """,
      tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
      post AS (SELECT doc_id, token, count(*)::BIGINT AS tf
               FROM tok GROUP BY doc_id, token),
      dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tk),
      stats AS (SELECT count(*)::BIGINT AS n,
                       coalesce(sum(dl), 0)::BIGINT AS tot FROM dl),
      dfs AS (SELECT token, count(*)::BIGINT AS n_docs
              FROM post GROUP BY token),
      q(query_id, qtext) AS (VALUES
        (1, 'fast merge join'), (2, 'window query sort stream'),
        (3, 'customer order table'), (4, 'slow vector scan')),
      qt AS (SELECT query_id, unnest(list_distinct(list_filter(
            string_split_regex(regexp_replace(lower(qtext),
              '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> ''))) AS token
        FROM q),
      c AS (SELECT qt.query_id, post.doc_id,
          CAST(floor(
            ln(1.0 + ((stats.n - dfs.n_docs + 0.5) / (dfs.n_docs + 0.5)))
            * ((post.tf * (1.2 + 1.0)) / (post.tf + 1.2 * ((1.0 - 0.75)
                + 0.75 * (dl.dl / (stats.tot::DOUBLE / stats.n)))))
            * 1000000.0 + 0.5) AS BIGINT) AS c_micro
        FROM post JOIN qt USING (token) JOIN dfs USING (token)
        JOIN dl USING (doc_id) CROSS JOIN stats),
      s AS (SELECT query_id, doc_id, sum(c_micro)::BIGINT AS score_micro
            FROM c GROUP BY query_id, doc_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score_micro DESC, doc_id ASC) AS rank FROM s)
      SELECT query_id::BIGINT AS query_id, doc_id, score_micro,
             rank::BIGINT AS rank
      FROM r WHERE rank <= 10 ORDER BY query_id, rank"""),

  /** CCNet head/middle/tail perplexity binning on top of q88's model:
    * tercile cuts are exact rank statistics of the deterministic
    * md5-coordinate ~400-row sample (never a global sort). The
    * oracle re-derives the cuts with a window over the same sample
    * and labels every doc against the same cut values. */
  Query("q91_ppl_buckets") { (s, dir) =>
    val docs = t(s, dir, "documents")
    graft.text.LmOps.perplexityBuckets(
        docs, docs.filter(pmod(col("doc_id"), lit(10)) < 3),
        "doc_id", "text")
      .orderBy("doc_id")
  } (oracle =
    // q88's chain + CCNet head/middle/tail binning: tercile cuts are
    // RANK statistics of the deterministic md5-coordinate sample
    // (rate = least(1, 400/N)), value at 1-based rank ceil(p*m) under
    // (ppl, doc_id) — mirrors SampleOps.sampleRankCuts exactly.
    lmCte + """,
      samp AS (SELECT ppl, doc_id,
          row_number() OVER (ORDER BY ppl, doc_id) AS r,
          count(*) OVER () AS m
        FROM outq
        WHERE ppl IS NOT NULL
          AND ('0x' || substr(md5('qs:' || doc_id::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0
            < least(1.0, 400.0 / (SELECT count(*) FROM documents))),
      cuts AS (SELECT
          max(CASE WHEN r = ceil((1.0/3) * m) THEN ppl END) AS c1,
          max(CASE WHEN r = ceil((2.0/3) * m) THEN ppl END) AS c2
        FROM samp)
      SELECT doc_id, n_tok, nll_micro, ppl,
        CASE WHEN ppl IS NULL THEN NULL
             WHEN ppl <= c1 THEN 'head'
             WHEN ppl <= c2 THEN 'middle'
             ELSE 'tail' END AS bucket
      FROM outq CROSS JOIN cuts ORDER BY doc_id"""),

  /** Winnowing (MOSS) fingerprints of every doc: char-5-gram base-31
    * polynomial hashes (the paper's Karp-Rabin family — plain
    * ascii/mod arithmetic, so the oracle re-derives them without a
    * digest), window 4, rightmost-min selection, deduplicated after
    * explode. The oracle re-derives k-gram hashes, windows, the
    * rightmost-min rule, and the distinct pair set in SQL. */
  Query("q92_winnow_fp") { (s, dir) =>
    graft.text.DedupOps
      .winnowFingerprints(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("pos"), col("h").as("fp"))
      .orderBy("doc_id", "pos", "fp")
  } (oracle =
    // Winnowing re-derived: cleaned char stream, 5-gram base-31
    // polynomial hashes (seed 11, mod 2^31 per step, final
    // golden-ratio multiplicative mix — exact BIGINT throughout),
    // window-4 rightmost-min selection (the nested-lambda
    // min/filter/max), DISTINCT after unnest.
    """
      WITH s AS (SELECT doc_id,
          regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS cs
        FROM documents),
      hs AS (SELECT doc_id,
          CASE WHEN len(cs) >= 5 THEN
            list_transform(range(1, len(cs) - 5 + 2), i ->
              {'h': ((((((((((11::BIGINT*31
                   + ascii(substr(cs, i,   1))) % 2147483648)*31
                   + ascii(substr(cs, i+1, 1))) % 2147483648)*31
                   + ascii(substr(cs, i+2, 1))) % 2147483648)*31
                   + ascii(substr(cs, i+3, 1))) % 2147483648)*31
                   + ascii(substr(cs, i+4, 1))) % 2147483648)
                   * 2654435761 % 2147483648,
               'pos': i::BIGINT})
          ELSE [] END AS hv
        FROM s),
      wins AS (SELECT doc_id,
          -- range() is end-EXCLUSIVE: +1 so the last window survives
          list_transform(range(1, greatest(len(hv) - 4 + 1, 1) + 1), p ->
            hv[p:p+3]) AS wv
        FROM hs WHERE len(hv) >= 1),
      sel AS (SELECT doc_id, list_transform(wv, win ->
          {'h': list_min(list_transform(win, x -> x.h)),
           'pos': list_max(list_transform(list_filter(win,
              x -> x.h = list_min(list_transform(win, y -> y.h))),
              x -> x.pos))}) AS fps
        FROM wins)
      SELECT DISTINCT doc_id, u.pos AS pos, u.h AS fp
      FROM (SELECT doc_id, unnest(fps) AS u FROM sel)
      ORDER BY doc_id, pos, fp"""),

  /** C4/RefinedWeb-style corpus-wide duplicate-line removal with
    * keep-first semantics over a deterministic multi-line view of
    * documents (three 80-char chunks + a shared boilerplate footer,
    * so cross-doc duplicate lines and the mass-duplicated footer both
    * exercise the canonical-survivor rule). The oracle re-derives
    * line keys, the (doc, idx) first-occurrence rank, and the
    * reassembled text md5 in SQL. */
  Query("q93_line_dedup") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"),
      concat_ws("\n",
        col("text").substr(lit(1), lit(80)),
        col("text").substr(lit(81), lit(80)),
        col("text").substr(lit(161), lit(1000000)),
        lit("(c) corpus boilerplate - all rights reserved")).as("text"))
    graft.text.DedupOps.dedupLinesKeepFirst(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_kept"), col("n_dropped"),
        md5(col("text_out")).as("out_md5"))
      .orderBy("doc_id")
  } (oracle =
    // Line dedup re-derived: the same multi-line view, md5 line keys,
    // participation = token-nonempty, first-occurrence rank under
    // (doc_id, idx), string_agg reassembly in idx order (coalesced —
    // a fully-deduplicated doc reassembles to '' like concat_ws).
    """
      WITH d AS (SELECT doc_id,
          substr(text, 1, 80) || chr(10) || substr(text, 81, 80)
            || chr(10) || substr(text, 161, 1000000) || chr(10)
            || '(c) corpus boilerplate - all rights reserved' AS text
        FROM documents),
      ls AS (SELECT doc_id, string_split(text, chr(10)) AS lv FROM d),
      ln AS (SELECT doc_id, u.idx AS idx, u.line AS line
        FROM (SELECT doc_id, unnest(list_transform(range(1, len(lv)+1),
            i -> {'idx': i - 1, 'line': lv[i]})) AS u FROM ls)),
      fl AS (SELECT doc_id, idx, line, md5(line) AS key,
          len(list_filter(string_split_regex(regexp_replace(lower(line),
            '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '')) > 0
            AS participates
        FROM ln),
      rk AS (SELECT *, CASE WHEN participates THEN row_number() OVER
            (PARTITION BY participates, key ORDER BY doc_id, idx)
          END AS rn FROM fl),
      kp AS (SELECT doc_id, idx, line,
          (NOT participates) OR rn = 1 AS keep FROM rk)
      SELECT doc_id,
        sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
        md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
          ORDER BY idx) FILTER (WHERE keep), '')) AS out_md5
      FROM kp GROUP BY doc_id ORDER BY doc_id"""),

  /** End-to-end fuzzy dedup: q41's MinHash-LSH candidates, exact
    * Jaccard verification at 0.5, components over VERIFIED pairs,
    * keep = canonical min id. The oracle re-derives candidates,
    * per-pair shingle intersections, the verification cut, the
    * recursive reachability, and the keep flag. */
  Query("q94_fuzzy_dedup") { (s, dir) =>
    graft.text.DedupOps
      .fuzzyDedupDocs(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  } (oracle =
    // q41's candidate machinery + the verification stage: exact
    // per-pair shingle intersection, jaccard cut at dyadic 0.5,
    // reachability over VERIFIED edges only, keep = canonical min.
    shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh
                GROUP BY doc_id),
      inter AS (SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b),
      ver AS (SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.n_shared::DOUBLE / (sa.n_sh + sb.n_sh - i.n_shared)
          >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM ver
                UNION SELECT id_b, id_a FROM ver),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
      SELECT id AS doc_id, min(r) AS component,
             (id = min(r)) AS keep
      FROM reach GROUP BY id ORDER BY doc_id"""),

  /** Token-budget corpus selection ([[graft.text.BudgetOps]]): score
    * the pool (priority = stopword ratio, a single integer-ratio
    * division — bit-identical in both engines), lay it out in
    * (priority DESC, doc_id) order, and admit documents until HALF
    * the corpus's tokens are taken (budget = floor(total/2), one
    * parameter-bounded agg action). The oracle re-derives the
    * priority, the total-order cumulative sum (as the window cumsum
    * the operator's two-pass distributed scan replaces), the
    * floor-half budget, and the greedy selection flag. */
  Query("q98_budget_select") { (s, dir) =>
    import graft.text.{BudgetOps, TextOps}
    // Stage the token array ONCE (the winnowFingerprints contract —
    // the inlined tokenCount/stopwordRatio pair would re-tokenize
    // ~4x per row), and derive the floor-half budget from the
    // selection's own pass-1 totals instead of a separate agg pass.
    val tk = t(s, dir, "documents").select(col("doc_id"),
      TextOps.tokens(col("text")).as("__tk"))
    val sw = array(TextOps.EnglishStopwords.map(lit): _*)
    val docs = tk.select(col("doc_id"),
      size(col("__tk")).cast("long").as("n_tok"),
      when(size(col("__tk")) > 0,
        size(filter(col("__tk"), x => array_contains(sw, x)))
          .cast("double") / size(col("__tk")))
        .otherwise(lit(0.0)).as("priority"))
    BudgetOps.budgetSelectFraction(docs, "doc_id", "n_tok",
        "priority", 1L, 2L)
      .select(col("doc_id"), col("n_tok"),
        rnd(col("priority"), 6).as("priority"),
        col("cum_tokens"), col("selected"))
      .orderBy("doc_id")
  } (oracle =
    // Budget fill as the window cumsum the two-pass scan replaces:
    // total order (priority DESC, doc_id), budget = floor(total/2),
    // selected = exclusive offset < budget. Priority is one integer
    // ratio divided in double — bit-identical across engines — and
    // the cumsum is a BIGINT sum in a unique total order, so every
    // column hash-matches exactly.
    tokCte + """,
      d AS (SELECT doc_id, len(toks)::BIGINT AS n_tok,
          CASE WHEN len(toks) > 0
            THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))::DOUBLE
              / len(toks) ELSE 0.0 END AS priority
        FROM tk),
      c AS (SELECT doc_id, n_tok, priority,
          (sum(n_tok) OVER (ORDER BY priority DESC, doc_id))::BIGINT
            AS cum_tokens
        FROM d),
      b AS (SELECT (sum(n_tok) // 2)::BIGINT AS budget FROM d)
      SELECT doc_id, n_tok,
        floor(priority * 1000000.0 + 0.5) / 1000000.0 AS priority,
        cum_tokens, (cum_tokens - n_tok < budget) AS selected
      FROM c, b ORDER BY doc_id"""),

  /** C4 cleaning verdicts ([[graft.text.C4Ops.c4Filter]]) over an
    * engineered multi-line corpus in which every rule trips at least
    * once: a no-terminal-punctuation doc (all lines dropped), a
    * javascript notice line, a too-short line, a lorem-ipsum page, a
    * curly-brace code page, a bad-word page, and a 3-sentence page
    * (under the 5-sentence gate). The full signal vector, keep, and
    * the cleaned-text md5 are re-derived in SQL. */
  Query("q99_c4_filter") { (s, dir) =>
    import graft.text.C4Ops
    def l(off: Int, p: String): Column =
      concat(col("text").substr(lit(off), lit(30)), lit(p))
    val base5 = concat_ws("\n", l(1, "."), l(31, "!"), l(61, "."),
      l(91, "?"), l(121, "."))
    val docs = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 20 === 1, concat_ws("\n",
          col("text").substr(lit(1), lit(30)),
          col("text").substr(lit(31), lit(30)),
          col("text").substr(lit(61), lit(30))))
        .when(col("doc_id") % 20 === 2, concat(base5,
          lit("\nplease enable javascript to view this site.")))
        .when(col("doc_id") % 20 === 3, concat(base5, lit("\nok.")))
        .when(col("doc_id") % 20 === 4, concat(base5,
          lit("\nlorem ipsum dolor sit amet.")))
        .when(col("doc_id") % 20 === 5, concat(base5,
          lit("\nif (x) { return y; }")))
        .when(col("doc_id") % 20 === 6, concat(base5,
          lit("\nthis page mentions swearword twice.")))
        .when(col("doc_id") % 20 === 7, concat_ws("\n",
          l(1, "."), l(31, "!"), l(61, ".")))
        .otherwise(base5).as("text"))
    C4Ops.c4Filter(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        col("n_sentences"), col("has_lorem"), col("has_brace"),
        col("has_bad_word"), col("keep"),
        md5(col("text_out")).as("out_md5"))
      .orderBy("doc_id")
  } (oracle =
    // Same engineered corpus CASE-for-CASE; C4 line rules (terminal
    // punctuation on the trimmed line, >= 3 words, no "javascript"),
    // sentence proxy = [.!?] marks in the CLEANED text, document
    // flags on the raw text, bad words as whole tokens.
    """
      WITH b AS (SELECT doc_id,
          substr(text, 1, 30) || '.' || chr(10) ||
          substr(text, 31, 30) || '!' || chr(10) ||
          substr(text, 61, 30) || '.' || chr(10) ||
          substr(text, 91, 30) || '?' || chr(10) ||
          substr(text, 121, 30) || '.' AS b5,
          substr(text, 1, 30) AS r1, substr(text, 31, 30) AS r2,
          substr(text, 61, 30) AS r3
        FROM documents),
      corp AS (SELECT doc_id,
          CASE WHEN doc_id % 20 = 1
                 THEN r1 || chr(10) || r2 || chr(10) || r3
               WHEN doc_id % 20 = 2 THEN b5 || chr(10) ||
                 'please enable javascript to view this site.'
               WHEN doc_id % 20 = 3 THEN b5 || chr(10) || 'ok.'
               WHEN doc_id % 20 = 4 THEN b5 || chr(10) ||
                 'lorem ipsum dolor sit amet.'
               WHEN doc_id % 20 = 5 THEN b5 || chr(10) ||
                 'if (x) { return y; }'
               WHEN doc_id % 20 = 6 THEN b5 || chr(10) ||
                 'this page mentions swearword twice.'
               WHEN doc_id % 20 = 7 THEN r1 || '.' || chr(10) ||
                 r2 || '!' || chr(10) || r3 || '.'
               ELSE b5 END AS text
        FROM b),
      k AS (SELECT doc_id, text,
          string_split(text, chr(10)) AS lines,
          list_filter(string_split(text, chr(10)), x ->
            regexp_matches(trim(x), '[.!?"]$')
            AND len(list_filter(string_split_regex(trim(x), '\s+'),
              w -> w <> '')) >= 3
            AND NOT contains(lower(trim(x)), 'javascript')) AS kept
        FROM corp),
      c AS (SELECT doc_id, text, len(lines) AS n_lines,
          len(kept) AS n_kept,
          -- array_to_string([]) is NULL in DuckDB, '' in Spark
          coalesce(array_to_string(kept, chr(10)), '') AS cleaned
        FROM k)
      SELECT doc_id, n_lines, n_kept,
        length(cleaned)
          - length(regexp_replace(cleaned, '[.!?]', '', 'g'))
          AS n_sentences,
        contains(lower(text), 'lorem ipsum') AS has_lorem,
        contains(text, '{') AS has_brace,
        len(list_intersect(list_filter(string_split_regex(lower(text),
          '[^a-z0-9]+'), w -> w <> ''),
          ['swearword', 'slur', 'nsfw'])) > 0 AS has_bad_word,
        (length(cleaned)
            - length(regexp_replace(cleaned, '[.!?]', '', 'g')) >= 5
          AND NOT contains(lower(text), 'lorem ipsum')
          AND NOT contains(text, '{')
          AND NOT len(list_intersect(list_filter(string_split_regex(
            lower(text), '[^a-z0-9]+'), w -> w <> ''),
            ['swearword', 'slur', 'nsfw'])) > 0) AS keep,
        md5(cleaned) AS out_md5
      FROM c ORDER BY doc_id"""),

  /** Fuzzy dedup with the QUALITY-canonical survivor
    * ([[graft.text.DedupOps.fuzzyDedupDocsBest]]): q94's verified
    * component chain, but per cluster the HIGHEST-token-count doc
    * survives (smallest id on ties) — the keep-longest convention.
    * The oracle re-derives the whole chain plus the per-component
    * argmax via a window rank. */
  Query("q100_fuzzy_best") { (s, dir) =>
    graft.text.DedupOps.fuzzyDedupDocsBest(t(s, dir, "documents"),
        "doc_id", "text",
        graft.text.TextOps.tokenCount(col("text")).cast("long"))
      .select(col("doc_id"), col("component"), col("survivor"),
        col("keep"), col("quality").as("q_tokens"))
      .orderBy("doc_id")
  } (oracle =
    // q94's verified-component chain; survivor = per-component
    // argmax on (q_tokens DESC, doc_id ASC) via a window rank.
    shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh
                GROUP BY doc_id),
      inter AS (SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b),
      ver AS (SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.n_shared::DOUBLE / (sa.n_sh + sb.n_sh - i.n_shared)
          >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM ver
                UNION SELECT id_b, id_a FROM ver),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      comp AS (SELECT id AS doc_id, min(r) AS component
        FROM reach GROUP BY id),
      ql AS (SELECT doc_id, len(toks)::BIGINT AS q_tokens FROM tk),
      j AS (SELECT comp.doc_id, comp.component, ql.q_tokens
        FROM comp JOIN ql USING (doc_id)),
      s AS (SELECT component, doc_id AS survivor FROM
          (SELECT component, doc_id, row_number() OVER
            (PARTITION BY component
             ORDER BY q_tokens DESC, doc_id ASC) AS rn FROM j)
        WHERE rn = 1)
      SELECT j.doc_id, j.component, s.survivor,
        (j.doc_id = s.survivor) AS keep, j.q_tokens
      FROM j JOIN s USING (component) ORDER BY j.doc_id"""),

  /** NB quality classifier ([[graft.text.ClassifierOps]]): train on
    * the doc_id%10<3 slice labeled (lang == 'en') — the same
    * trusted-slice convention as q88/q89 — with 256 hashed
    * unigram+bigram buckets, then score the WHOLE corpus. The oracle
    * re-derives the feature hashing (q89's CTE), both class count
    * tables, the smoothed micro-quantized log-odds over ALL 256
    * buckets, the prior, and every doc's exact BIGINT score. */
  Query("q101_nb_classifier") { (s, dir) =>
    import graft.text.ClassifierOps
    val docs = t(s, dir, "documents")
    val labeled = docs.filter(col("doc_id") % 10 < 3)
      .select(col("doc_id"), (col("lang") === "en").as("y"), col("text"))
    val model = ClassifierOps.trainNaiveBayes(labeled, "doc_id", "y",
      "text", buckets = 256, seed = 7)
    ClassifierOps.scoreNaiveBayes(docs, model, "doc_id", "text")
      .orderBy("doc_id")
  } (oracle =
    // NB classifier re-derived end to end: q89's hashed-feature CTE,
    // per-class bucket counts over the labeled slice, add-one
    // smoothed log-odds over ALL 256 buckets (micro-quantized
    // BIGINT), smoothed log prior, exact integer per-doc scores.
    tokCte + """,
      fs AS (SELECT doc_id, unnest(
          flatten(list_transform(range(1, len(toks)+1), i ->
            CASE WHEN i = 1 THEN [toks[i]]
                 ELSE [toks[i], toks[i-1] || ' ' || toks[i]] END))) AS f
        FROM tk),
      fb AS (SELECT doc_id,
          ('0x' || substr(md5('7:' || f), 1, 8))::BIGINT % 256 AS bucket
        FROM fs),
      dc AS (SELECT doc_id, bucket, count(*)::BIGINT AS n
             FROM fb GROUP BY doc_id, bucket),
      lab AS (SELECT doc_id, (lang = 'en') AS y FROM documents
              WHERE doc_id % 10 < 3),
      cc AS (SELECT bucket,
          sum(CASE WHEN y THEN n ELSE 0 END)::BIGINT AS c_pos,
          sum(CASE WHEN NOT y THEN n ELSE 0 END)::BIGINT AS c_neg
        FROM dc JOIN lab USING (doc_id) GROUP BY bucket),
      tot AS (SELECT
          (SELECT coalesce(sum(c_pos), 0) FROM cc)::DOUBLE AS tp,
          (SELECT coalesce(sum(c_neg), 0) FROM cc)::DOUBLE AS tn),
      w AS (SELECT g.bucket,
          CAST(floor((ln((coalesce(cc.c_pos, 0) + 1.0)
                / (tot.tp + 256.0))
              - ln((coalesce(cc.c_neg, 0) + 1.0) / (tot.tn + 256.0)))
            * 1000000.0 + 0.5) AS BIGINT) AS w_micro
        FROM range(0, 256) g(bucket) CROSS JOIN tot
        LEFT JOIN cc ON g.bucket = cc.bucket),
      pri AS (SELECT CAST(floor(ln(
            (sum(CASE WHEN y THEN 1 ELSE 0 END) + 1.0)
            / (sum(CASE WHEN NOT y THEN 1 ELSE 0 END) + 1.0))
          * 1000000.0 + 0.5) AS BIGINT) AS bias FROM lab),
      perdoc AS (SELECT dc.doc_id, sum(dc.n)::BIGINT AS n_feat,
          sum(dc.n * w.w_micro)::BIGINT AS ll
        FROM dc JOIN w USING (bucket) GROUP BY dc.doc_id)
      SELECT d.doc_id, coalesce(n_feat, 0)::BIGINT AS n_feat,
        (coalesce(ll, 0) + pri.bias)::BIGINT AS score_micro,
        (coalesce(ll, 0) + pri.bias) > 0 AS predicted
      FROM documents d LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id
      CROSS JOIN pri ORDER BY d.doc_id"""),

  /** Token-proportioned data MIXING
    * ([[graft.text.BudgetOps.budgetSelectPerStratum]]): within each
    * `source` stratum, admit docs in (priority DESC, id) order until
    * HALF that source's tokens are taken — budgets derived per
    * stratum from the scan's own pass-1 totals. The oracle restates
    * it as a per-source window cumsum + per-source floor-half
    * budgets. */
  Query("q102_token_mixing") { (s, dir) =>
    import graft.text.{BudgetOps, TextOps}
    val tk = t(s, dir, "documents").select(col("doc_id"),
      col("source"), TextOps.tokens(col("text")).as("__tk"))
    val sw = array(TextOps.EnglishStopwords.map(lit): _*)
    val docs = tk.select(col("doc_id"), col("source"),
      size(col("__tk")).cast("long").as("n_tok"),
      when(size(col("__tk")) > 0,
        size(filter(col("__tk"), x => array_contains(sw, x)))
          .cast("double") / size(col("__tk")))
        .otherwise(lit(0.0)).as("priority"))
    BudgetOps.budgetSelectPerStratumFraction(docs, "doc_id", "n_tok",
        "priority", "source", 1L, 2L)
      .select(col("doc_id"), col("source"), col("n_tok"),
        rnd(col("priority"), 6).as("priority"),
        col("cum_tokens"), col("budget"), col("selected"))
      .orderBy("doc_id")
  } (oracle =
    // q98's cumsum restated per source: window partitioned by the
    // stratum, per-source floor-half budgets, same greedy flag.
    tokCte + """,
      d AS (SELECT tk.doc_id, d0.source, len(toks)::BIGINT AS n_tok,
          CASE WHEN len(toks) > 0
            THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))::DOUBLE
              / len(toks) ELSE 0.0 END AS priority
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id),
      c AS (SELECT doc_id, source, n_tok, priority,
          (sum(n_tok) OVER (PARTITION BY source
            ORDER BY priority DESC, doc_id))::BIGINT AS cum_tokens
        FROM d),
      b AS (SELECT source, (sum(n_tok) // 2)::BIGINT AS budget
            FROM d GROUP BY source)
      SELECT c.doc_id, c.source, c.n_tok,
        floor(c.priority * 1000000.0 + 0.5) / 1000000.0 AS priority,
        c.cum_tokens, b.budget,
        (c.cum_tokens - c.n_tok < b.budget) AS selected
      FROM c JOIN b USING (source) ORDER BY c.doc_id"""),

  /** Overlapping token-window chunking
    * ([[graft.text.ChunkOps.chunkDocs]]): 64-token chunks every 48
    * tokens (16-token overlap). The oracle re-derives the chunk
    * grid, the ragged tail, and every chunk's md5 via list_slice. */
  Query("q103_chunking") { (s, dir) =>
    graft.text.ChunkOps.chunkDocs(t(s, dir, "documents"), "doc_id",
        "text", chunkTokens = 64, stride = 48)
      .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  } (oracle =
    // Chunk grid re-derived: one window when n <= chunk, else
    // ceil((n-chunk)/stride)+1 (windows stop at the first that
    // reaches the doc end); 1-based INCLUSIVE list_slice bounds ==
    // Spark's (start, length) slice.
    tokCte + """,
      n AS (SELECT doc_id, toks, len(toks) AS n FROM tk
            WHERE len(toks) > 0),
      ch AS (SELECT doc_id, toks,
          unnest(range(0, CASE WHEN n <= 64 THEN 1
            ELSE (n - 64 + 47) // 48 + 1 END)) AS chunk_idx
        FROM n)
      SELECT doc_id, chunk_idx::INT AS chunk_idx,
        len(list_slice(toks, chunk_idx * 48 + 1,
          chunk_idx * 48 + 64))::INT AS n_tokens,
        md5(array_to_string(list_slice(toks, chunk_idx * 48 + 1,
          chunk_idx * 48 + 64), ' ')) AS chunk_md5
      FROM ch ORDER BY doc_id, chunk_idx"""),

  /** Cross-snapshot near-dedup
    * ([[graft.text.DedupOps.nearDupAgainst]]): reference = even-id
    * docs, incoming = odd-id docs plus 100 even-id TEXTS re-sent
    * under fresh ids (+10000) — the re-keyed copies are what makes
    * the against-reference flag load-bearing, as in q97. The oracle
    * re-derives both band-key tables and the distinct-key semi join
    * in SQL. */
  Query("q104_dedup_against") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val resent = ref.filter(col("doc_id") < 200)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    val incoming = docs.filter(col("doc_id") % 2 === 1).union(resent)
    graft.text.DedupOps.nearDupAgainst(incoming, ref, "doc_id", "text")
      .orderBy("doc_id")
  } (oracle =
    // Both corpora's band keys re-derived (q41's minhash CTE over
    // the widened corpus), reference reduced to distinct keys, and
    // the semi-join membership restated as an IN.
    """
      WITH corp AS (
        SELECT doc_id, text, (doc_id % 2 = 0) AS is_ref FROM documents
        UNION ALL
        SELECT doc_id + 10000, text, false FROM documents
        WHERE doc_id % 2 = 0 AND doc_id < 200),
      tk AS (SELECT doc_id, is_ref,
          list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
            x -> x <> '') AS toks
        FROM corp),
      -- len(toks) = 0 is EXCLUDED: Spark's minhashBandKeys drops
      -- tokenless docs (no signature row), so they never band and
      -- can never flag. The shared shingleCte's ['']-fallback would
      -- give them a common key here.
      sh AS (SELECT doc_id, is_ref, unnest(list_distinct(
          CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END)) AS shingle
        FROM tk WHERE len(toks) > 0),
      mins AS (SELECT doc_id, is_ref, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j)
        GROUP BY doc_id, is_ref, j),
      bands AS (SELECT doc_id, is_ref, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, is_ref, j // 2),
      refk AS (SELECT DISTINCT band, key FROM bands WHERE is_ref),
      hit AS (SELECT DISTINCT b.doc_id FROM bands b
        JOIN refk USING (band, key) WHERE NOT b.is_ref)
      SELECT doc_id,
        (doc_id IN (SELECT doc_id FROM hit)) AS dup_against_ref
      FROM corp WHERE NOT is_ref ORDER BY doc_id"""),

  /** Corpus composition report
    * ([[graft.text.ReportOps.compositionReport]]): docs / tokens /
    * chars by source, by lang, by source×lang, and overall — one
    * CUBE pass. Every doc_id % 97 == 0 row gets a NULL lang first,
    * so the query exercises the grouping()-mask distinction between
    * a genuinely-NULL data value (keeps its own cell) and a rollup
    * marginal (folded to `(all)`). The oracle restates it as GROUP
    * BY CUBE with the same GROUPING()-gated sentinel fold. */
  Query("q105_corpus_report") { (s, dir) =>
    import graft.text.{ReportOps, TextOps}
    val docs = t(s, dir, "documents").withColumn("lang",
      when(col("doc_id") % 97 === 0, lit(null).cast("string"))
        .otherwise(col("lang")))
    ReportOps.compositionReport(docs, "source",
        "lang", TextOps.tokenCount(col("text")), "text")
      .orderBy("source", "lang")
  } (oracle =
    // CUBE rollup with the GROUPING()-gated (all) sentinel fold (a
    // genuinely-NULL lang — injected for doc_id % 97 == 0 — keeps
    // its own cell); token counts from the shared tokenizer CTE.
    tokCte + """,
      d AS (SELECT d0.source,
          CASE WHEN d0.doc_id % 97 = 0 THEN NULL ELSE d0.lang END
            AS lang,
          len(tk.toks)::BIGINT AS n_tok,
          length(d0.text)::BIGINT AS n_chars
        FROM documents d0 JOIN tk ON d0.doc_id = tk.doc_id)
      SELECT CASE WHEN GROUPING(source) = 1 THEN '(all)'
                  ELSE source END AS source,
             CASE WHEN GROUPING(lang) = 1 THEN '(all)'
                  ELSE lang END AS lang,
             count(*)::BIGINT AS n_docs,
             sum(n_tok)::BIGINT AS n_tokens,
             sum(n_chars)::BIGINT AS n_chars
      FROM d GROUP BY CUBE (source, lang)
      ORDER BY 1, 2"""),

  /** BPE tokenizer train + apply ([[graft.text.BpeOps]]): learn 50
    * merges from the deterministic 20% hash sample (top-2000 words),
    * tokenize the whole corpus with the fused kernel. The merge LOOP
    * is not SQL-expressible (each merge rewrites the adjacency the
    * next lookup keys on), so the oracle checks an invariant
    * RESTATEMENT of the output instead: per doc, the subword stream
    * must concatenate back to the normalized token stream exactly
    * (`recon_md5` — DuckDB re-derives it from `text` alone), the
    * subword count must lie in [n_tok, n_chars] (each token yields
    * ≥1 subword of ≥1 char; `bounds_ok` is TRUE on the oracle side),
    * and the learned merge table must have exactly the requested 50
    * rows (`n_merges` — 50 is learnable at every test SF: the
    * sf0.001 sample exhausts the top-2000-word dict at 89 merges, so
    * a 100-row request would come back short there and the count
    * would stop being an SF-independent constant). This pins the
    * distributed `BpeApplyExpr`
    * kernel against an independent engine; the exact segmentation is
    * additionally pinned by `BudgetC4Spec`'s hand-derived merge
    * sequences. */
  Query("q106_bpe_tokenize") { (s, dir) =>
    import graft.text.{BpeOps, TextOps}
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val model = BpeOps.learnBpe(docs, "doc_id", "text",
      numMerges = 50, sampleRate = 0.2, maxWords = 2000)
    val toks = TextOps.tokens(col("text"))
    BpeOps.applyBpe(docs, "text", model)
      .select(col("doc_id"), col("n_subwords"),
        size(toks).as("n_tok"),
        length(concat_ws("", toks)).as("n_chars"),
        md5(concat_ws("", col("subwords"))).as("recon_md5"))
      .select(col("doc_id"), col("n_tok"), col("n_chars"),
        col("n_subwords").between(col("n_tok"), col("n_chars"))
          .as("bounds_ok"),
        col("recon_md5"),
        lit(model.merges.size).as("n_merges"))
      .orderBy("doc_id")
  } (oracle =
    // The BPE merge LOOP is not SQL-expressible, so the oracle checks
    // the invariant restatement the Spark side emits: reconstruction
    // (subword concatenation == token concatenation, derived here
    // from `text` alone), count bounds (TRUE literal — a kernel that
    // emitted out-of-bounds counts hash-mismatches on bounds_ok),
    // and the learned merge-table size (the 50 requested — capped
    // below vocabulary exhaustion so the count is SF-independent).
    tokCte + """
      SELECT doc_id,
             len(toks) AS n_tok,
             length(array_to_string(toks, '')) AS n_chars,
             TRUE AS bounds_ok,
             md5(array_to_string(toks, '')) AS recon_md5,
             50 AS n_merges
      FROM tk ORDER BY doc_id"""),

  /** LSH bucket cap exercised end-to-end
    * ([[graft.text.DedupOps.fuzzyDedupDocs]] `maxBandFreq = 4`): the
    * corpus is augmented with FIVE byte-identical re-keyed copies of
    * every doc_id < 20 doc, so each such group holds 6 identical
    * signatures and every band bucket containing one exceeds the cap
    * — the whole group must come back as singletons (degenerate
    * buckets dropped wholesale), while natural near-dup clusters
    * under the cap survive exactly as in q94. The oracle replays the
    * banding, the bucket-frequency filter, exact-Jaccard
    * verification, and components in DuckDB. */
  Query("q107_banded_cap") { (s, dir) =>
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // Synthetic ids are offset by multiples of max(doc_id)+1 so they
    // can never alias a real doc_id at any scale factor (a fixed
    // constant would collide once the table grows past it, silently
    // changing what the query tests).
    val off = docs.agg((max(col("doc_id")) + 1).as("__off"))
    val extra = docs.filter(col("doc_id") < 20)
      .withColumn("r", explode(sequence(lit(0), lit(4))))
      .crossJoin(broadcast(off))
      .select((col("doc_id") + col("__off") * (col("r") + 1))
        .as("doc_id"), col("text"))
    graft.text.DedupOps.fuzzyDedupDocs(docs.union(extra), "doc_id",
        "text", maxBandFreq = 4L)
      .orderBy("doc_id")
  } (oracle =
    // q94's chain over the copy-augmented corpus with the band-bucket
    // frequency filter (<= 4) between banding and pairing: the six
    // identical-signature group members share every bucket, so all
    // their buckets drop and the group comes back singleton.
    """
      WITH RECURSIVE corp AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id
            + (SELECT max(doc_id) + 1 FROM documents) * (r + 1)
            AS doc_id, text
        FROM documents CROSS JOIN range(0, 5) t(r) WHERE doc_id < 20),
      tk AS (SELECT doc_id,
          list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
            x -> x <> '') AS toks
        FROM corp),
      sh AS (SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END)) AS shingle
        FROM tk),
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2),
      okb AS (SELECT band, key FROM bands
        GROUP BY band, key HAVING count(*) <= 4),
      bok AS (SELECT b.doc_id, b.band, b.key
        FROM bands b JOIN okb USING (band, key)),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bok a JOIN bok b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh
                GROUP BY doc_id),
      inter AS (SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b),
      ver AS (SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.n_shared::DOUBLE / (sa.n_sh + sb.n_sh - i.n_shared)
          >= 0.5),
      edges AS (SELECT id_a AS src, id_b AS dst FROM ver
                UNION SELECT id_b, id_a FROM ver),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM corp
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
      SELECT id AS doc_id, min(r) AS component,
             (id = min(r)) AS keep
      FROM reach GROUP BY id ORDER BY doc_id"""),

  /** UniMax budget allocation ([[graft.text.MixOps
    * .unimaxAllocationFraction]]): per-language token budgets for a
    * quarter-of-the-corpus training budget under a 1/3-epoch cap —
    * small languages take their full cap, the head language absorbs
    * the leftover (water-filling). All-integer closed form; the
    * oracle replays the cap arithmetic, the sorted prefix test, and
    * the floor-share + remainder integerization. */
  Query("q110_unimax_alloc") { (s, dir) =>
    import graft.text.{MixOps, TextOps}
    val docs = t(s, dir, "documents").select(col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    MixOps.unimaxAllocationFraction(docs, "lang", "n_tok",
        1L, 4L, 1L, 3L)
      .orderBy("stratum")
  } (oracle =
    // UniMax allocation replay: the q25 tokenizer CTE supplies the
    // per-doc token counts, the shared unimaxOracleChain restates the
    // cap/budget floors, HUGEINT prefix test, and floor-share +
    // remainder — budget = floor(T/4), cap = n/3 epochs.
    tokCte + """,
      d AS (SELECT d0.lang, len(toks)::BIGINT AS n_tok
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id)"""
      + unimaxOracleChain(1, 4, 1, 3) + """
      SELECT stratum, n_tokens, cap_tokens, alloc_tokens, capped,
        budget
      FROM alloc ORDER BY stratum"""),

  /** End-to-end UniMax mixing ([[graft.text.BudgetOps
    * .budgetSelectUnimaxFraction]]): the q110 allocation derived from
    * the fill's own pass-1 totals, then each language greedily filled
    * to its allocated budget in (priority DESC, doc_id) order — the
    * q102 dataflow with DERIVED instead of caller-given budgets. */
  Query("q111_unimax_select") { (s, dir) =>
    import graft.text.{BudgetOps, TextOps}
    val tk = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextOps.tokens(col("text")).as("__tk"))
    val sw = array(TextOps.EnglishStopwords.map(lit): _*)
    val docs = tk.select(col("doc_id"), col("lang"),
      size(col("__tk")).cast("long").as("n_tok"),
      when(size(col("__tk")) > 0,
        size(filter(col("__tk"), x => array_contains(sw, x)))
          .cast("double") / size(col("__tk")))
        .otherwise(lit(0.0)).as("priority"))
    BudgetOps.budgetSelectUnimaxFraction(docs, "doc_id", "n_tok",
        "priority", "lang", 1L, 4L, 1L, 3L)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        rnd(col("priority"), 6).as("priority"),
        col("cum_tokens"), col("budget"), col("selected"))
      .orderBy("doc_id")
  } (oracle =
    // End-to-end UniMax fill: same chain derives per-lang budgets
    // (alloc_tokens), then the q102 greedy replay — within-stratum
    // cumsum in (priority DESC, doc_id) order, exclusive-offset
    // selection — joined back on the folded stratum key.
    tokCte + """,
      d AS (SELECT tk.doc_id, d0.lang, len(toks)::BIGINT AS n_tok,
          CASE WHEN len(toks) > 0
            THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))::DOUBLE
              / len(toks) ELSE 0.0 END AS priority
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id)"""
      + unimaxOracleChain(1, 4, 1, 3) + """,
      c AS (SELECT doc_id, lang, n_tok, priority,
          (sum(n_tok) OVER (PARTITION BY coalesce(lang, '')
            ORDER BY priority DESC, doc_id))::BIGINT AS cum_tokens,
          coalesce(lang, '') AS strat
        FROM d)
      SELECT c.doc_id, c.lang, c.n_tok,
        floor(c.priority * 1000000.0 + 0.5) / 1000000.0 AS priority,
        c.cum_tokens, a.alloc_tokens AS budget,
        (c.cum_tokens - c.n_tok < a.alloc_tokens) AS selected
      FROM c JOIN alloc a ON c.strat = a.stratum
      ORDER BY c.doc_id"""),

  /** Square-root temperature mixture allocation ([[graft.text.MixOps
    * .temperatureSqrtAllocationFraction]]): per-language budgets
    * ∝ √tokens for a quarter-corpus training budget — the
    * mBERT/XLM-R α=0.5 sampling recipe, exact-integer via corrected
    * isqrt + Hamilton largest-remainder apportionment. The oracle
    * replays the sqrt correction, the HUGEINT proportional floor,
    * and the remainder ranking. */
  Query("q114_temp_alloc") { (s, dir) =>
    import graft.text.{MixOps, TextOps}
    val docs = t(s, dir, "documents").select(col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    MixOps.temperatureSqrtAllocationFraction(docs, "lang", "n_tok",
        1L, 4L)
      .orderBy("stratum")
  } (oracle =
    // sqrt-temperature replay: corrected isqrt weights, HUGEINT
    // proportional floor, Hamilton largest-remainder ranking —
    // budget = floor(T/4) from the same token totals.
    tokCte + """,
      d AS (SELECT d0.lang, len(toks)::BIGINT AS n_tok
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id),
      tot AS (SELECT coalesce(lang, '') AS stratum,
          sum(n_tok)::BIGINT AS n_tokens FROM d GROUP BY 1),
      w0 AS (SELECT stratum, n_tokens,
          CAST(floor(sqrt(n_tokens::DOUBLE)) AS BIGINT) AS s0
        FROM tot),
      w1 AS (SELECT stratum, n_tokens,
          s0 - (CASE WHEN s0 * s0 > n_tokens THEN 1 ELSE 0 END) AS s1
        FROM w0),
      w AS (SELECT stratum, n_tokens,
          (s1 + (CASE WHEN (s1 + 1) * (s1 + 1) <= n_tokens
            THEN 1 ELSE 0 END))::BIGINT AS weight
        FROM w1),
      g AS (SELECT *, (SELECT sum(weight) FROM w)::BIGINT AS tw,
          (SELECT sum(n_tokens) FROM w)::BIGINT AS tt FROM w),
      b AS (SELECT *, (tt // 4)::BIGINT AS budget FROM g),
      base AS (SELECT *,
          CASE WHEN tw > 0
            THEN ((weight::HUGEINT * budget) // tw) ELSE 0 END AS base_a,
          CASE WHEN tw > 0
            THEN ((weight::HUGEINT * budget) % tw) ELSE 0 END AS rem
        FROM b),
      fin AS (SELECT *,
          CASE WHEN tw > 0
            THEN budget - (SELECT sum(base_a) FROM base)
            ELSE 0 END AS leftover,
          row_number() OVER (ORDER BY rem DESC, stratum ASC) AS rk
        FROM base)
      SELECT stratum, n_tokens, weight,
        (base_a + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT
          AS alloc_tokens, budget
      FROM fin ORDER BY stratum"""),

  /** End-to-end √-temperature mixing ([[graft.text.BudgetOps
    * .budgetSelectTemperatureSqrtFraction]]): q114's allocation
    * derived from the fill's own pass-1 totals, then each language
    * greedily filled to its apportioned budget in (priority DESC,
    * doc_id) order — the q111 dataflow with the mBERT α=0.5 recipe
    * in place of UniMax. */
  Query("q117_temp_select") { (s, dir) =>
    import graft.text.{BudgetOps, TextOps}
    val tk = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextOps.tokens(col("text")).as("__tk"))
    val sw = array(TextOps.EnglishStopwords.map(lit): _*)
    val docs = tk.select(col("doc_id"), col("lang"),
      size(col("__tk")).cast("long").as("n_tok"),
      when(size(col("__tk")) > 0,
        size(filter(col("__tk"), x => array_contains(sw, x)))
          .cast("double") / size(col("__tk")))
        .otherwise(lit(0.0)).as("priority"))
    BudgetOps.budgetSelectTemperatureSqrtFraction(docs, "doc_id",
        "n_tok", "priority", "lang", 1L, 4L)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        rnd(col("priority"), 6).as("priority"),
        col("cum_tokens"), col("budget"), col("selected"))
      .orderBy("doc_id")
  } (oracle =
    // q114's sqrt-temperature chain over q111's per-doc frame, then
    // the q102 greedy replay joined on the folded stratum key.
    tokCte + """,
      d AS (SELECT tk.doc_id, d0.lang, len(toks)::BIGINT AS n_tok,
          CASE WHEN len(toks) > 0
            THEN len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], x)))::DOUBLE
              / len(toks) ELSE 0.0 END AS priority
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id),
      tot AS (SELECT coalesce(lang, '') AS stratum,
          sum(n_tok)::BIGINT AS n_tokens FROM d GROUP BY 1),
      w0 AS (SELECT stratum, n_tokens,
          CAST(floor(sqrt(n_tokens::DOUBLE)) AS BIGINT) AS s0
        FROM tot),
      w1 AS (SELECT stratum, n_tokens,
          s0 - (CASE WHEN s0 * s0 > n_tokens THEN 1 ELSE 0 END) AS s1
        FROM w0),
      w AS (SELECT stratum, n_tokens,
          (s1 + (CASE WHEN (s1 + 1) * (s1 + 1) <= n_tokens
            THEN 1 ELSE 0 END))::BIGINT AS weight
        FROM w1),
      g AS (SELECT *, (SELECT sum(weight) FROM w)::BIGINT AS tw,
          (SELECT sum(n_tokens) FROM w)::BIGINT AS tt FROM w),
      b AS (SELECT *, (tt // 4)::BIGINT AS budget FROM g),
      base AS (SELECT *,
          CASE WHEN tw > 0
            THEN ((weight::HUGEINT * budget) // tw) ELSE 0 END AS base_a,
          CASE WHEN tw > 0
            THEN ((weight::HUGEINT * budget) % tw) ELSE 0 END AS rem
        FROM b),
      fin AS (SELECT *,
          CASE WHEN tw > 0
            THEN budget - (SELECT sum(base_a) FROM base)
            ELSE 0 END AS leftover,
          row_number() OVER (ORDER BY rem DESC, stratum ASC) AS rk
        FROM base),
      alloc AS (SELECT stratum,
          (base_a + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT
            AS alloc_tokens
        FROM fin),
      c AS (SELECT doc_id, lang, n_tok, priority,
          (sum(n_tok) OVER (PARTITION BY coalesce(lang, '')
            ORDER BY priority DESC, doc_id))::BIGINT AS cum_tokens,
          coalesce(lang, '') AS strat
        FROM d)
      SELECT c.doc_id, c.lang, c.n_tok,
        floor(c.priority * 1000000.0 + 0.5) / 1000000.0 AS priority,
        c.cum_tokens, a.alloc_tokens AS budget,
        (c.cum_tokens - c.n_tok < a.alloc_tokens) AS selected
      FROM c JOIN alloc a ON c.strat = a.stratum
      ORDER BY c.doc_id"""),

  /** Proportional mixture interleave ([[graft.text.InterleaveOps
    * .proportionalInterleave]]): lay the documents table out in the
    * stride-scheduled training order for the recipe
    * en:4 de:2 fr:2 es:1 zh:1 — each stratum's k-th doc gets virtual
    * time floor((2k−1)·8 / (2·w)) (M = lcm(2w) = 8, so the
    * quantization is lossless) and `seq` is the global rank by
    * (key, lang, k). The oracle replays the rank, the exact integer
    * key decomposition, and the global row_number in DuckDB. */
  Query("q121_interleave") { (s, dir) =>
    graft.text.InterleaveOps.proportionalInterleave(
        t(s, dir, "documents").select("doc_id", "lang"), "lang",
        "doc_id", Map("en" -> 4L, "de" -> 2L, "fr" -> 2L, "es" -> 1L,
          "zh" -> 1L))
      .select(col("doc_id"), col("lang"), col("mix_k"), col("mix_key"),
        col("seq"))
      .orderBy("doc_id")
  } (oracle =
    // Stride-schedule replay: per-lang rank, the exact integer key
    // decomposition (x div den)*M + ((x mod den)*M) div den with
    // M = lcm(2w) = 8, global row_number by (key, lang, k).
    """
      WITH w(lang, wr) AS (VALUES ('en', 4), ('de', 2), ('fr', 2),
                                  ('es', 1), ('zh', 1)),
      k AS (SELECT doc_id, d.lang, wr::BIGINT AS wr,
              row_number() OVER (PARTITION BY d.lang
                ORDER BY doc_id) AS mix_k
            FROM documents d JOIN w ON d.lang = w.lang),
      ky AS (SELECT doc_id, lang, mix_k,
              ((2*mix_k - 1) // (2*wr)) * 8 +
                (((2*mix_k - 1) % (2*wr)) * 8) // (2*wr) AS mix_key
             FROM k)
      SELECT doc_id, lang, mix_k::BIGINT AS mix_k,
             mix_key::BIGINT AS mix_key,
             row_number() OVER (ORDER BY mix_key, lang, mix_k)::BIGINT
               AS seq
      FROM ky ORDER BY doc_id"""),

  /** Exact-count stratified sample ([[graft.text.SampleOps
    * .stratifiedSampleExact]]): exactly floor(n_s/3) docs per source
    * — the lowest hash-coordinate ranks within each stratum, ties by
    * id. The rate-based q63 sampler carries binomial noise; this is
    * the exact-recipe form. Audit frame: every row returns with its
    * rank and verdict. The oracle replays the per-source hash rank
    * and the integer floor cut. */
  Query("q129_exact_strat_sample") { (s, dir) =>
    import graft.text.SampleOps
    SampleOps.stratifiedSampleExact(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source", Map.empty, 1L, 3L, "sx")
      .select(col("doc_id"), col("source"), col("sample_rank"),
        col("sampled"))
      .orderBy("doc_id")
  } (oracle =
    // Exact stratified sample replay: per-source hash rank (md5
    // coordinate, ties by id) against the floor(n_s/3) budget.
    """
      WITH d AS (SELECT doc_id, source,
          coalesce(source, '') AS src,
          ('0x' || substr(md5('sx:' || doc_id::VARCHAR), 1, 8))::BIGINT
            / 4294967296.0 AS h
        FROM documents),
      r AS (SELECT doc_id, source, src,
          row_number() OVER (PARTITION BY src ORDER BY h, doc_id)
            AS sample_rank,
          count(*) OVER (PARTITION BY src) AS ns
        FROM d)
      SELECT doc_id, source, sample_rank::BIGINT AS sample_rank,
             (sample_rank <= ns * 1 // 3) AS sampled
      FROM r ORDER BY doc_id"""),

  /** Exact distributed quantiles ([[graft.operators.StatsOps
    * .exactQuantiles]]): doc-length order statistics at exact
    * ceil(p·n) ranks under the (value, id) total order — the
    * engine-portable alternative to percentile_approx sketches. One
    * range exchange + two-pass rank placement, no corpus-wide
    * window. The oracle replays the ranks in DuckDB. */
  Query("q128_exact_quantiles") { (s, dir) =>
    graft.operators.StatsOps.exactQuantiles(t(s, dir, "documents"),
        "n_chars", "doc_id",
        Seq((1L, 4L), (1L, 2L), (3L, 4L), (99L, 100L)))
      .orderBy("rank", "p_num", "p_den")
  } (oracle =
    // Exact-quantile replay: ceil(n*num/den) 1-based ranks under the
    // (value, doc_id) total order; probs sharing a rank each emit.
    """
      WITH v AS (SELECT n_chars::DOUBLE AS v, doc_id
        FROM documents WHERE n_chars IS NOT NULL),
      r AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rk,
          count(*) OVER () AS n
        FROM v),
      p(p_num, p_den) AS (VALUES (1, 4), (1, 2), (3, 4), (99, 100))
      SELECT p_num::BIGINT AS p_num, p_den::BIGINT AS p_den,
             rk::BIGINT AS rank, v AS value
      FROM p JOIN r ON rk = (n * p_num + p_den - 1) // p_den
      ORDER BY rank, p_num, p_den"""),

  /** Quantile-bounded outlier filter ([[graft.operators.StatsOps
    * .filterByQuantileRange]]): keep documents whose length lies
    * within the exact [p5, p95] values — the published-recipe tail
    * cut with engine-portable bounds. The oracle re-derives both
    * rank values and applies the same inclusive comparison. */
  Query("q140_quantile_filter") { (s, dir) =>
    graft.operators.StatsOps.filterByQuantileRange(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "n_chars", "doc_id", (1L, 20L), (19L, 20L))
      .orderBy("doc_id")
  } (oracle =
    // Quantile-bounded filter: q128's ceil-rank values at 1/20 and
    // 19/20, then the inclusive range cut on the raw column.
    """
      WITH v AS (SELECT n_chars::DOUBLE AS v, doc_id
        FROM documents WHERE n_chars IS NOT NULL),
      r AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rk,
          count(*) OVER () AS n
        FROM v),
      b AS (SELECT
          (SELECT v FROM r WHERE rk = (n * 1 + 19) // 20 LIMIT 1) AS lo,
          (SELECT v FROM r WHERE rk = (n * 19 + 19) // 20 LIMIT 1) AS hi)
      SELECT doc_id, n_chars FROM documents, b
      WHERE n_chars IS NOT NULL
        AND n_chars::DOUBLE >= lo AND n_chars::DOUBLE <= hi
      ORDER BY doc_id"""),

  /** Per-doc first-occurrence novelty ([[graft.text.ReportOps
    * .firstOccurrenceNovelty]]): distinct 3-shingles per doc and how
    * many have their first corpus occurrence there — the recycled-
    * text diagnostic. The oracle replays the shared shingle CTE, the
    * min-doc firsts table, and both counts. */
  Query("q143_novelty") { (s, dir) =>
    graft.text.ReportOps.firstOccurrenceNovelty(
        t(s, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy("doc_id")
  } (oracle = shingleCte + """,
      f AS (SELECT shingle, min(doc_id) AS first_id FROM sh
            GROUP BY shingle)
      SELECT sh.doc_id, count(*)::BIGINT AS n_shingles,
        sum(CASE WHEN f.first_id = sh.doc_id THEN 1 ELSE 0
          END)::BIGINT AS n_novel
      FROM sh JOIN f USING (shingle)
      GROUP BY sh.doc_id ORDER BY sh.doc_id"""),

  /** Register-exact HyperLogLog distinct-token sketch
    * ([[graft.text.SketchOps.hllTokenRegisters]], X76): per-lang HLL
    * registers at m = 4096 — the mergeable distinct-counter whose
    * exchange is constant in corpus size. The REGISTERS are the
    * oracle-checked output (every value an integer derived from md5
    * bits, replayed verbatim in DuckDB via hex-string arithmetic);
    * the float estimate is reader-side by design. */
  Query("q146_hll_registers") { (s, dir) =>
    graft.text.SketchOps.hllTokenRegisters(t(s, dir, "documents"),
        "text", "lang")
      .orderBy("group", "bucket")
  } (oracle =
    // HLL registers: bucket = first 3 hex digits of md5(token), rho =
    // 1 + leading zero bits of the next 12 hex digits via the same
    // strip-leading-'0'-then-CASE string arithmetic the operator uses.
    tokCte + """,
      occ AS (SELECT coalesce(d.lang, '') AS grp,
          unnest(tk.toks) AS token
        FROM tk JOIN documents d USING (doc_id)),
      rr AS (SELECT grp,
          ('0x' || substr(md5(token), 1, 3))::BIGINT AS bucket,
          ltrim(substr(md5(token), 4, 12), '0') AS st
        FROM occ)
      SELECT grp AS "group", bucket,
        max(CASE WHEN length(st) = 0 THEN 49
          ELSE ((12 - length(st)) * 4 +
            CASE WHEN ('0x' || substr(st, 1, 1))::BIGINT >= 8 THEN 0
                 WHEN ('0x' || substr(st, 1, 1))::BIGINT >= 4 THEN 1
                 WHEN ('0x' || substr(st, 1, 1))::BIGINT >= 2 THEN 2
                 ELSE 3 END + 1) END)::INT AS max_rho
      FROM rr GROUP BY 1, 2
      ORDER BY "group", bucket"""),

  /** Count-min sketch cells ([[graft.text.SketchOps.cmTokenCells]],
    * X77): per-lang CM cells at 4 rows x 4096 columns — the
    * sum-mergeable frequency counter next to q146's max-mergeable
    * HLL. Cells are exact integers from md5 bits (oracle replays
    * the row-seeded hex arithmetic verbatim); point estimates are
    * reader-side. */
  Query("q147_cm_cells") { (s, dir) =>
    graft.text.SketchOps.cmTokenCells(t(s, dir, "documents"),
        "text", "lang")
      .orderBy("group", "row", "col")
  } (oracle =
    // Count-min cells: row-seeded md5 column hashes, exact occurrence
    // counts per (group, row, col).
    tokCte + """,
      occ AS (SELECT coalesce(d.lang, '') AS grp,
          unnest(tk.toks) AS token
        FROM tk JOIN documents d USING (doc_id))
      SELECT grp AS "group", r.r AS "row",
        ('0x' || substr(md5(r.r::VARCHAR || ':' || token), 1, 3))::BIGINT
          AS col,
        count(*)::BIGINT AS n
      FROM occ CROSS JOIN range(0, 4) r(r)
      GROUP BY 1, 2, 3
      ORDER BY "group", "row", col"""),

  /** Bloom pre-screened contamination ([[graft.text.SketchOps
    * .bloomWords]]/[[graft.text.SketchOps.bloomMightContain]], X78):
    * the 100 TB contamination shape — build a Bloom filter over the
    * eval set's distinct shingles (docs < 25), embed its word table
    * as a plan constant (16 KB of 32-bit-packed words at m = 2^16),
    * and pre-screen the
    * corpus with a NARROW membership expression so only Bloom
    * survivors reach the exact verification join. Per corpus doc:
    * distinct shingles, Bloom hits, exact hits — no false negatives
    * by construction (exact ⊆ bloom, both counted), false positives
    * deterministic and visible as n_bloom_hits − n_exact_hits. */
  Query("q148_bloom_contamination") { (s, dir) =>
    import graft.text.{SketchOps, TextOps}
    val mBits = 1 << 16
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // the fused DistinctShingles kernel, not the HOF form: the r17
    // bloom smoke measured the interpreted per-element shingle HOF
    // dominating both arms (empty-token docs are the one semantic
    // difference -- kernel yields no shingle, HOF a "" one -- and the
    // corpus has none; the oracle's ELSE branch never fires on it)
    def docShingles = explode(graft.functions.MinhashKernel
      .distinctShingles(TextOps.tokens(col("text")), 3)).as("shingle")
    val eval = docs.filter(col("doc_id") < 25)
      .select(docShingles).distinct()
    val wordMap = SketchOps.bloomWords(eval, "shingle", mBits)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deliberately NOT checkpointed despite two consumers: with the
    // fused tokenizer the shingle + k-probe pass is a cheap narrow
    // scan, and the r17 A/B measured materializing the shingle-string
    // stream at 1.5x the cost of just recomputing it (2.13 vs 3.21 s
    // at sf0.1) — the staging economics the q28 convention codified
    // inverted once tokenization stopped dominating
    val flagged = docs.filter(col("doc_id") >= 25)
      .select(col("doc_id"), docShingles)
      .withColumn("bloom_hit",
        SketchOps.bloomMightContain(col("shingle"), wordMap, mBits))
    val perDoc = flagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_shingles"),
      sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"))
    // exact verify ONLY on Bloom survivors — the pre-screen point;
    // the eval side is fixture-bounded (25 docs), broadcast by rule
    val exactHits = flagged.filter(col("bloom_hit"))
      .join(broadcast(eval), Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_exact_hits"))
    // shuffle-hash-pinned: exactHits is per-DOC (corpus-row-sized at
    // scale) — an estimate broadcast here is the audit-flagged class
    perDoc.join(exactHits.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("n_exact_hits",
        coalesce(col("n_exact_hits"), lit(0L)))
      .orderBy("doc_id")
  } (oracle =
    // streaming vocab close-out: the MG candidate pass is a superset
    // mechanism only — the exact recount + threshold make the final
    // answer the true per-lang heavy hitters, so the oracle replays
    // exactly those (lang '' for null, count * 100 > stratum total).
    // Bloom pre-screen: word build (bit_or of Kirsch-Mitzenmacher
    // positions (h1 + i*h2) % m from TWO 8-hex slices of ONE md5,
    // h2 forced odd), the 4-probe membership test, and the
    // survivor-only exact join.
    shingleCte + """,
      ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 25),
      wd AS (SELECT p // 32 AS widx,
          bit_or(1::BIGINT << (p % 32)::INT) AS word
        FROM (SELECT (('0x' || substr(md5(shingle), 1, 8))::BIGINT
            + r.r * ((('0x' || substr(md5(shingle), 9, 8))::BIGINT) | 1))
            % 65536 AS p
          FROM ev CROSS JOIN range(0, 4) r(r))
        GROUP BY 1),
      cp AS (SELECT doc_id, shingle,
          (('0x' || substr(md5(shingle), 1, 8))::BIGINT
            + r.r * ((('0x' || substr(md5(shingle), 9, 8))::BIGINT) | 1))
            % 65536 AS p
        FROM (SELECT DISTINCT doc_id, shingle FROM sh
              WHERE doc_id >= 25) CROSS JOIN range(0, 4) r(r)),
      chk AS (SELECT doc_id, shingle,
          bool_and(coalesce((wd.word >> (p % 32)::INT) & 1, 0) = 1)
            AS bloom_hit
        FROM cp LEFT JOIN wd ON wd.widx = p // 32
        GROUP BY doc_id, shingle),
      agg1 AS (SELECT doc_id, count(*)::BIGINT AS n_shingles,
          sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END)::BIGINT
            AS n_bloom_hits
        FROM chk GROUP BY doc_id),
      ex AS (SELECT c.doc_id, count(*)::BIGINT AS n_exact_hits
        FROM chk c JOIN ev USING (shingle)
        WHERE c.bloom_hit GROUP BY c.doc_id)
      SELECT a.doc_id, a.n_shingles, a.n_bloom_hits,
        coalesce(ex.n_exact_hits, 0)::BIGINT AS n_exact_hits
      FROM agg1 a LEFT JOIN ex USING (doc_id)
      ORDER BY doc_id"""),

  /** Mergeable rank/quantile sketch ([[graft.operators.StatsOps
    * .rankSketchCells]], X81): per-lang decimal log-buckets over the
    * per-doc token count — the lake-telemetry quantile tier whose
    * cells sum-merge across days/shards (unlike q59's exact
    * quantiles, which rescan per call). Cells are exact integers
    * from decimal-string arithmetic, replayed verbatim by the
    * oracle; quantile bounds are reader-side. */
  Query("q151_rank_sketch") { (s, dir) =>
    import graft.text.TextOps
    val docs = t(s, dir, "documents")
      .select(col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    graft.operators.StatsOps.rankSketchCells(docs, "n_tok", "lang")
      .orderBy("group", "digits", "lead")
  } (oracle =
    // Rank sketch: decimal log-buckets over per-doc token counts —
    // digits = decimal length, lead = first 2 digits, exact counts.
    tokCte + """,
      vt AS (SELECT coalesce(d.lang, '') AS grp,
          len(tk.toks)::BIGINT AS v
        FROM tk JOIN documents d USING (doc_id))
      SELECT grp AS "group", length(v::VARCHAR)::INT AS digits,
        substr(v::VARCHAR, 1, 2)::BIGINT AS lead,
        count(*)::BIGINT AS n
      FROM vt GROUP BY 1, 2, 3
      ORDER BY "group", digits, lead"""),

  /** Systematic PPS sample ([[graft.text.SampleOps
    * .samplePpsSystematic]], X83): 300 token-weighted draws over the
    * documents corpus — exact integer grid over the packOffsets
    * prefix sums, salt-derived start; the oracle replays the
    * coordinate, the window prefix sum, and the ceil-div grid
    * arithmetic verbatim. Σ n_hits = 300 by construction. */
  Query("q153_pps_sample") { (s, dir) =>
    import graft.text.{SampleOps, TextOps}
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    val out = Materialize.checkpoint(SampleOps.samplePpsSystematic(docs,
        "doc_id", "n_tok", 300L, "q153")
      .select("doc_id", "n_tok", "n_hits")
      .orderBy("doc_id"))
    graft.text.PackOps.releaseSubstrates()
    out
  } (oracle =
    // Systematic PPS: hash coordinate, window prefix sum over
    // (coord, doc_id), salt-derived start, ceil-div grid counts.
    tokCte + """,
      w AS (SELECT d.doc_id, len(tk.toks)::BIGINT AS n_tok,
          ('0x' || substr(md5('q153:' || d.doc_id), 1, 8))::BIGINT
            / 4294967296.0 AS coord
        FROM tk JOIN documents d USING (doc_id)),
      t AS (SELECT sum(n_tok)::BIGINT AS tw FROM w),
      o AS (SELECT doc_id, n_tok,
          sum(n_tok) OVER (ORDER BY coord, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
            AS end_off
        FROM w),
      g AS (SELECT o.doc_id, o.n_tok, o.end_off, t.tw,
          ('0x' || substr(md5('pps:q153'), 1, 15))::BIGINT % t.tw AS st
        FROM o, t),
      h AS (SELECT doc_id, n_tok,
          ((end_off::HUGEINT * 300 - st + tw - 1) // tw
            - ((end_off - n_tok)::HUGEINT * 300 - st + tw - 1) // tw)
            ::BIGINT AS n_hits
        FROM g)
      SELECT doc_id, n_tok, n_hits FROM h
      WHERE n_hits > 0 ORDER BY doc_id"""),

  /** BPE fertility / vocab-coverage report ([[graft.text.BpeOps
    * .fertilityReport]], VERDICT r16 ask #6): per (source, lang),
    * the exact integer counts behind fertility (subwords/word),
    * bytes/subword, and OOV-byte share, under a merge table trained
    * on the full corpus (rate 1.0, top-500 words, 16 merges).
    * The oracle is EXACT, not an invariant restatement: merge
    * LEARNING unrolls into 16 chained CTE levels (pair counts over
    * the rendered dict → argmax with the (count DESC, a, b) tie
    * order → rewrite), and merge APPLICATION uses the
    * `|sym|`-delimited rendering where DuckDB's left-to-right
    * non-overlapping `replace('|a||b|' → '|ab|')` reproduces the
    * kernel's greedy merge exactly (for TRAINED tables,
    * rank-sequential exhaustive application — the replay — and the
    * kernel's lowest-rank-first loop coincide: a merge's operands
    * are only producible by strictly earlier merges, so neither
    * order can create a lower-rank pair the other misses; pinned by
    * spec against the learned table on the real corpus). */
  Query("q144_bpe_fertility") { (s, dir) =>
    import graft.text.BpeOps
    val docs = t(s, dir, "documents")
    val model = BpeOps.learnBpe(docs.select(col("doc_id"), col("text")),
      "doc_id", "text", numMerges = 16, sampleRate = 1.0,
      maxWords = 500, salt = "fert")
    BpeOps.fertilityReport(docs, "text", Seq("source", "lang"), model)
      .orderBy("source", "lang")
  } (oracle =
    // First-occurrence novelty: the shared shingle CTE (distinct
    // 3-shingles, short-doc fallback), min-doc firsts, both counts.
    bpeFertilityOracle(16, 500)),

  /** Top-k PMI collocations ([[graft.text.LmOps.collocations]]):
    * bigrams ranked by the quantized exact PMI ratio — log-free,
    * engine-portable integer key; marginals from the same
    * sentinel-free pair table. The oracle replays the pair
    * explode, both marginals, the two-stage integer key, and the
    * rank cut. */
  Query("q142_pmi_collocations") { (s, dir) =>
    graft.text.LmOps.collocations(t(s, dir, "documents"), "text",
        k = 30, minCount = 5L)
      .orderBy("rank")
  } (oracle =
    // PMI collocations: sentinel-free bigram pairs, marginals over
    // the same table, the two-stage integer key, rank cut at 30.
    tokCte + """,
      pp AS (SELECT doc_id, unnest(list_transform(range(2, len(toks)+1),
            i -> {'v': toks[i-1], 'w': toks[i]})) AS p FROM tk),
      pr AS (SELECT p.v AS v, p.w AS w FROM pp),
      bi AS (SELECT v, w, count(*)::BIGINT AS c_vw FROM pr
             GROUP BY v, w HAVING count(*) >= 5),
      ctx AS (SELECT v, count(*)::BIGINT AS c_v FROM pr GROUP BY v),
      tgt AS (SELECT w, count(*)::BIGINT AS c_w FROM pr GROUP BY w),
      sc AS (SELECT bi.v, bi.w, c_vw, c_v, c_w,
          ((c_vw * 1000000 // c_v) * 1000000 // c_w)::BIGINT
            AS pmi_key
        FROM bi JOIN ctx USING (v) JOIN tgt USING (w)),
      rk AS (SELECT *, row_number() OVER (ORDER BY pmi_key DESC,
            c_vw DESC, v, w) AS rank
        FROM sc)
      SELECT rank::INT AS rank, v, w, c_vw, c_v, c_w, pmi_key
      FROM rk WHERE rank <= 30 ORDER BY rank"""),

  /** Per-source n-gram diversity ([[graft.text.ReportOps
    * .ngramDiversity]]): exact trigram volume and distinct-trigram
    * counts per source — the distinct-n template-spam signal. Both
    * counts are BIGINTs; the oracle replays the gram explode and the
    * two aggregates. */
  Query("q141_ngram_diversity") { (s, dir) =>
    graft.text.ReportOps.ngramDiversity(t(s, dir, "documents"),
        "text", "source", n = 3)
      .orderBy("group")
  } (oracle =
    // n-gram diversity: the non-distinct trigram stream per source
    // (docs under 3 tokens contribute nothing), then total + distinct
    // counts per group.
    tokCte + """,
      g AS (SELECT coalesce(d.source, '') AS "group",
          unnest(CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [] END) AS gram
        FROM tk JOIN documents d ON tk.doc_id = d.doc_id)
      SELECT "group", count(*)::BIGINT AS n_ngrams,
             count(DISTINCT gram)::BIGINT AS n_distinct
      FROM g GROUP BY 1 ORDER BY 1"""),

  /** Best-fit-decreasing sequence packing ([[graft.text.PackOps
    * .bestFitPack]]): whole documents into capacity-96 bins within
    * recipe-pinned shards (doc_id mod 4), largest-first, each doc to
    * the tightest open bin (ties to the lowest index), oversize docs
    * opening flagged singleton bins. The oracle replays the
    * per-shard traversal as a recursive CTE carrying the open-bin
    * remainder list. */
  Query("q139_bestfit_pack") { (s, dir) =>
    import graft.text.{PackOps, TextOps}
    val docs = t(s, dir, "documents").select(col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    PackOps.bestFitPack(docs, "doc_id", "n_tok", capacity = 96L,
        numShards = 4)
      .select(col("doc_id"), col("shard"), col("bin"),
        col("size").as("n_tok"), col("overflow"))
      .orderBy("doc_id")
  } (oracle =
    // Best-fit-decreasing packing replay: per shard (doc_id % 4), a
    // recursive CTE walks docs in (size DESC, id) order carrying the
    // open-bin remainder list; best fit = first index of the minimum
    // remainder that still fits (list_min over the >= filter, ties
    // resolved by list_position's first match), no fit appends a new
    // bin (capacity - size; oversize docs go NEGATIVE and never fit
    // again — the flagged singleton-bin contract).
    // (standalone WITH RECURSIVE — the shared tokCte's plain WITH
    // cannot host a recursive member)
    """
      WITH RECURSIVE tk AS (SELECT doc_id,
        list_filter(string_split_regex(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
          x -> x <> '') AS toks
      FROM documents),
      d AS (SELECT doc_id, (doc_id % 4)::INT AS shard,
          len(toks)::BIGINT AS sz
        FROM tk),
      r AS (SELECT shard, doc_id, sz, row_number() OVER
          (PARTITION BY shard ORDER BY sz DESC, doc_id) AS rn
        FROM d),
      st(shard, step, bins, asg) AS (
        SELECT DISTINCT shard, 0::BIGINT, []::BIGINT[],
          []::STRUCT(id BIGINT, bin INT)[] FROM d
        UNION ALL
        SELECT st.shard, st.step + 1,
          CASE WHEN list_min(list_filter(bins, b -> b >= r.sz)) IS NULL
            THEN list_append(bins, 96 - r.sz)
            ELSE list_transform(range(1, len(bins) + 1),
              i -> CASE WHEN i = list_position(bins,
                  list_min(list_filter(bins, b -> b >= r.sz)))
                THEN bins[i] - r.sz ELSE bins[i] END)
            END,
          list_append(asg, {'id': r.doc_id,
            'bin': CASE WHEN list_min(list_filter(bins,
                b -> b >= r.sz)) IS NULL
              THEN len(bins) ELSE list_position(bins,
                list_min(list_filter(bins, b -> b >= r.sz))) - 1
              END}::STRUCT(id BIGINT, bin INT))
        FROM st JOIN r ON r.shard = st.shard AND r.rn = st.step + 1
      ),
      fin AS (SELECT shard, asg, row_number() OVER
          (PARTITION BY shard ORDER BY step DESC) AS rr FROM st)
      SELECT a.id AS doc_id, fin.shard, a.bin,
        d.sz AS n_tok, (d.sz > 96) AS overflow
      FROM fin, LATERAL unnest(asg) u(a)
      JOIN d ON d.doc_id = a.id
      WHERE rr = 1 ORDER BY doc_id"""),

  /** Bounded-state heavy-hitter vocabulary ([[graft.text.VocabOps
    * .heavyHitters]]): exact tokens above a 1/100 corpus-frequency
    * share via per-partition Misra–Gries summaries (superset
    * guarantee) + one exact recount over the bounded candidate set —
    * the token stream itself never shuffles. The result is exact and
    * partitioning-invariant, so the oracle is a plain GROUP
    * BY/HAVING over the same tokenizer. */
  Query("q138_heavy_hitters") { (s, dir) =>
    graft.text.VocabOps.heavyHitters(t(s, dir, "documents"), "text",
        1L, 100L)
      .orderBy("token")
  } (oracle =
    // Heavy hitters: exact GROUP BY/HAVING over the shared tokenizer
    // (the MG summary is a superset filter only; the recount decides,
    // so plain SQL replays the result exactly).
    tokCte + """,
      t AS (SELECT unnest(toks) AS token FROM tk),
      tot AS (SELECT count(*)::BIGINT AS n FROM t)
      SELECT token, count(*)::BIGINT AS n_tok,
        (SELECT n FROM tot) AS n_total
      FROM t GROUP BY token
      HAVING count(*) * 100 > (SELECT n FROM tot)
      ORDER BY token"""),

  /** Split-aware contamination report ([[graft.text.ReportOps
    * .splitContamination]]): q126's leakage-safe group split composed
    * with q65's shingle contamination check, rolled up per split —
    * the audit frame a curation run reviews before training. The
    * oracle replays the split chain, the shingle chain, and the
    * per-split aggregates. */
  Query("q135_split_contamination") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val eval = docs.filter(col("doc_id") % 100 === 7)
      .select(col("doc_id").as("eid"), col("text"))
    graft.text.ReportOps.splitContamination(
        docs.select(col("doc_id"), col("source"), col("n_chars"),
          col("text")),
        "doc_id", "text", "source",
        Seq(("train", 4L, 5L), ("val", 1L, 10L), ("test", 1L, 10L)),
        "split", eval, "eid", "text", 3, 2L,
        sizeCol = Some("n_chars"))
      .orderBy("split")
  } (oracle =
    // Split-aware contamination: q126's split chain + q65's shingle
    // chain + per-split rollup, zeros preserved for every declared
    // split.
    shingleCte + """,
      ev AS (SELECT doc_id AS eval_id, shingle FROM sh
             WHERE doc_id % 100 = 7),
      pr AS (SELECT s.doc_id, e.eval_id, count(*) AS n_shared
        FROM sh s JOIN ev e USING (shingle)
        GROUP BY s.doc_id, e.eval_id HAVING count(*) >= 2),
      g AS (SELECT coalesce(source, '') AS src,
          sum(n_chars)::BIGINT AS sz
        FROM documents GROUP BY 1),
      o AS (SELECT src, sz,
          ('0x' || substr(md5('split:' || src), 1, 8))::BIGINT
            / 4294967296.0 AS h
        FROM g),
      p AS (SELECT src, sz,
          coalesce(sum(sz) OVER (ORDER BY h, src
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0)::BIGINT AS pfx,
          (sum(sz) OVER ())::BIGINT AS total
        FROM o),
      a AS (SELECT src,
          CASE WHEN pfx < total * 4 // 5 THEN 'train'
               WHEN pfx < total * 9 // 10 THEN 'val'
               ELSE 'test' END AS split
        FROM p),
      asg AS (SELECT d.doc_id, a.split
        FROM documents d JOIN a ON coalesce(d.source, '') = a.src),
      base AS (SELECT split, count(*)::BIGINT AS n_docs
        FROM asg GROUP BY 1),
      lk AS (SELECT asg.split,
          count(DISTINCT pr.doc_id)::BIGINT AS n_leaky_docs,
          count(DISTINCT pr.eval_id)::BIGINT AS n_eval_hit,
          count(*)::BIGINT AS n_pairs
        FROM pr JOIN asg ON pr.doc_id = asg.doc_id GROUP BY 1),
      nm(split) AS (VALUES ('train'), ('val'), ('test'))
      SELECT nm.split,
        coalesce(base.n_docs, 0)::BIGINT AS n_docs,
        coalesce(lk.n_leaky_docs, 0)::BIGINT AS n_leaky_docs,
        coalesce(lk.n_eval_hit, 0)::BIGINT AS n_eval_hit,
        coalesce(lk.n_pairs, 0)::BIGINT AS n_pairs
      FROM nm LEFT JOIN base USING (split) LEFT JOIN lk USING (split)
      ORDER BY nm.split"""),

  /** Leakage-safe group split ([[graft.text.SampleOps.groupSplit]]):
    * whole sources assigned to train/val/test (4/5, 1/10, 1/10) so
    * correlated documents never straddle a train/eval boundary —
    * cuts are exact integer rationals over char-weighted group sizes
    * in hash-coordinate order. The oracle replays the group sums,
    * the md5 ordering, the exclusive prefix, and the integer cuts. */
  Query("q126_group_split") { (s, dir) =>
    import graft.text.SampleOps
    SampleOps.groupSplit(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        "source", Seq(("train", 4L, 5L), ("val", 1L, 10L),
          ("test", 1L, 10L)), "split", sizeCol = Some("n_chars"))
      .select("doc_id", "source", "split")
      .orderBy("doc_id")
  } (oracle =
    // Group-split replay: char-weighted group sums, md5-coordinate
    // order, exclusive prefix vs the exact integer cuts
    // floor(total*4/5) and floor(total*9/10).
    """
      WITH g AS (SELECT coalesce(source, '') AS src,
          sum(n_chars)::BIGINT AS sz
        FROM documents GROUP BY 1),
      o AS (SELECT src, sz,
          ('0x' || substr(md5('split:' || src), 1, 8))::BIGINT
            / 4294967296.0 AS h
        FROM g),
      p AS (SELECT src, sz,
          coalesce(sum(sz) OVER (ORDER BY h, src
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0)::BIGINT AS pfx,
          (sum(sz) OVER ())::BIGINT AS total
        FROM o),
      a AS (SELECT src,
          CASE WHEN pfx < total * 4 // 5 THEN 'train'
               WHEN pfx < total * 9 // 10 THEN 'val'
               ELSE 'test' END AS split
        FROM p)
      SELECT d.doc_id, d.source, a.split
      FROM documents d JOIN a ON coalesce(d.source, '') = a.src
      ORDER BY d.doc_id"""),

  /** Token-weighted mixture interleave ([[graft.text.InterleaveOps
    * .proportionalInterleaveByTokens]]): q121's recipe with each
    * document "transmitting" for its token count — WFQ/GPS
    * finish-time order (Demers 1989; Parekh & Gallager 1993), so a
    * stratum's share of every PREFIX is proportional in TOKENS.
    * `mix_key = floor((2·cum_prev + n_tok)·M / (2w))`; size ≡ 1
    * collapses to q121's stride schedule. The oracle replays the
    * per-lang token cumsum and the key decomposition. */
  Query("q124_token_interleave") { (s, dir) =>
    import graft.text.{InterleaveOps, TextOps}
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    InterleaveOps.proportionalInterleaveByTokens(docs, "lang",
        "doc_id", "n_tok", Map("en" -> 4L, "de" -> 2L, "fr" -> 2L,
          "es" -> 1L, "zh" -> 1L))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("mix_k"),
        col("mix_key"), col("seq"))
      .orderBy("doc_id")
  } (oracle =
    // WFQ finish-time replay: per-lang token cumsum (exclusive, in
    // doc_id order), key = ((2cum+n_tok) // 2w)*8 +
    // (((2cum+n_tok) % 2w)*8) // 2w, global row_number by
    // (key, lang, mix_k).
    tokCte + """,
      d AS (SELECT tk.doc_id, d0.lang, len(toks)::BIGINT AS n_tok
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id),
      w(lang, wr) AS (VALUES ('en', 4), ('de', 2), ('fr', 2),
                             ('es', 1), ('zh', 1)),
      k AS (SELECT doc_id, d.lang, n_tok, wr::BIGINT AS wr,
              row_number() OVER (PARTITION BY d.lang
                ORDER BY doc_id) AS mix_k,
              coalesce(sum(n_tok) OVER (PARTITION BY d.lang
                ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0)::BIGINT AS cum
            FROM d JOIN w ON d.lang = w.lang),
      ky AS (SELECT doc_id, lang, n_tok, mix_k,
              ((2*cum + n_tok) // (2*wr)) * 8 +
                (((2*cum + n_tok) % (2*wr)) * 8) // (2*wr) AS mix_key
             FROM k)
      SELECT doc_id, lang, n_tok, mix_k::BIGINT AS mix_k,
             mix_key::BIGINT AS mix_key,
             row_number() OVER (ORDER BY mix_key, lang, mix_k)::BIGINT
               AS seq
      FROM ky ORDER BY doc_id"""),
  )
}
