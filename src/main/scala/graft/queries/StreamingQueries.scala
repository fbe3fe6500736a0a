package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry.{rnd, t}
import graft.queries.TextQueries.{shingleCte, tokCte}

/** The streaming group (SURVEY.md §2.9): multi-run lifecycle
  * fixtures — `Trigger.AvailableNow` drains over checkpointed sources,
  * stateful and sketch state carried across batches. Their cost is
  * dominated by fixture setup (streaming checkpoint init and temp-lake
  * writes), not by the operator under test, so Bench leaves this group
  * untimed ([[graft.SparkEntry.timed]]); Verify runs it like every
  * other query. */
object StreamingQueries {

  /** Run-unique streaming tmp root under java.io.tmpdir for the
    * streaming queries (q123/q127/q134): applicationId-suffixed so
    * concurrent harness invocations can't destroy each other's
    * in-flight checkpoint/input dirs (ADVICE r15), deleted at start
    * if a same-app rerun left it, AND deleted again at JVM exit via
    * a shutdown hook — the app-unique suffix means the start-of-run
    * cleanup can never fire across sessions, so without the hook
    * every invocation would permanently leak its parquet input,
    * output, and checkpoint dirs (ADVICE r16). */
  private def streamTmpRoot(s: SparkSession, tag: String)
      : java.nio.file.Path = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${s.sparkContext.applicationId}")
    def wipe(): Unit = if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    wipe()
    if (hookedTmpRoots.add(root.toString))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try wipe() catch { case _: Throwable => () }))
    root
  }
  private val hookedTmpRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** This family's records; [[graft.SparkEntry.registry]] collects them. */
  val all: Seq[Query] = Seq(

  /** §2.9 streaming completeness: two `Trigger.AvailableNow` runs of
    * the J6 incremental-append fold — run 1 drains a first-half batch,
    * run 2 discovers only the newly appended second half (which
    * includes an exact duplicate file the streaming dedup must drop) —
    * then the resulting lake is aggregated and hash-compared against
    * batch SQL over the source table. Equality holds iff run 2
    * re-read nothing (no double counts), the duplicate file was
    * deduped, and nothing was dropped as late. */
  Query("q56_streaming_append") { (s, dir) =>
    import graft.streaming.IncrementalAppend
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q56")
    // streaming checkpoints remember processed files; stale state from
    // a previous invocation would corrupt the fold — start clean
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    val inDir = s"$root/in"; val outDir = s"$root/lake"
    val ev = t(s, dir, "events")
      .select("event_id", "ts", "user_id", "value")
    val cut = to_timestamp(lit("2024-01-16 00:00:00"))
    ev.filter(col("ts") < cut).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    IncrementalAppend.appendRun(s, inDir, outDir, s"$root/ckpt",
      schema, "ts", Seq("event_id"), lateness = "48 hours")
    // second half arrives later, plus a byte-duplicate re-send of it
    ev.filter(col("ts") >= cut).write.mode("append").parquet(inDir)
    ev.filter(col("ts") >= cut).write.mode("append").parquet(inDir)
    IncrementalAppend.appendRun(s, inDir, outDir, s"$root/ckpt",
      schema, "ts", Seq("event_id"), lateness = "48 hours")
    s.read.parquet(outDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n_events"),
        rnd(sum(col("value")), 4).as("sum_value"))
      .orderBy("hour_ts")
  } (oracle = """
      SELECT date_trunc('hour', ts) AS hour_ts,
             count(*) AS n_events,
             floor((sum(value)) * 10000.0 + 0.5) / 10000.0 AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""),

  /** §2.9 stateful streaming oracle: cross-batch gap detection
    * (`flatMapGroupsWithState`, per-site last-seen state in the
    * checkpoint) must equal the BATCH answer — a per-user lag over
    * the whole stream — even though the stream arrives as two
    * disjoint halves plus a byte-duplicate re-send (which the carried
    * state must treat as a no-op). Gaps spanning the batch cut are
    * exactly the rows only the state can produce. Timestamps pass
    * through `Timestamp.getTime`, so the oracle compares at
    * millisecond truncation. */
  Query("q67_stateful_gaps") { (s, dir) =>
    import graft.streaming.StatefulGaps
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q67")
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    val inDir = s"$root/in"; val outDir = s"$root/gaps"
    val obs = t(s, dir, "events")
      .select(col("user_id").cast("string").as("site"),
        col("ts").as("DATETIME"))
    val cut = to_timestamp(lit("2024-01-16 00:00:00"))
    obs.filter(col("DATETIME") < cut).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    StatefulGaps.gapRun(s, inDir, outDir, s"$root/ckpt", schema, 21600)
    obs.filter(col("DATETIME") >= cut).write.mode("append").parquet(inDir)
    StatefulGaps.gapRun(s, inDir, outDir, s"$root/ckpt", schema, 21600)
    // byte-duplicate re-send: every event is at or before the carried
    // last-seen timestamp, so the third run must append nothing
    obs.filter(col("DATETIME") >= cut).write.mode("append").parquet(inDir)
    StatefulGaps.gapRun(s, inDir, outDir, s"$root/ckpt", schema, 21600)
    s.read.parquet(outDir).orderBy("site", "gap_start")
  } (oracle =
    // The batch re-derivation of the streaming answer: lag per user
    // over the WHOLE stream — rows whose gap spans the batch cut only
    // match if the checkpointed state carried the last-seen timestamp
    // across runs. epoch_ms/date_trunc('milliseconds') mirror the
    // Timestamp.getTime millisecond truncation on the Spark side.
    """
      WITH d AS (SELECT user_id::VARCHAR AS site, ts,
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM events),
      g AS (SELECT site,
              date_trunc('milliseconds', prev_ts) AS gap_start,
              date_trunc('milliseconds', ts) AS gap_end,
              epoch_ms(ts) - epoch_ms(prev_ts) AS dms
            FROM d WHERE prev_ts IS NOT NULL)
      SELECT site, gap_start, gap_end, dms // 1000 AS gap_seconds
      FROM g WHERE dms > 21600000
      ORDER BY site, gap_start"""),

  /** Cross-batch streaming exact dedup: run 1 ingests the low-id half
    * of the corpus, run 2 the high-id half (duplicates crossing the
    * cut must be suppressed by carried state), run 3 re-sends run 2's
    * files byte-identically and must append NOTHING. The id-monotone
    * cut makes the survivor rule oracle-expressible: the first batch
    * containing a fingerprint also contains its global-minimum doc
    * id, so survivor == min(doc_id) per fp. */
  Query("q86_streaming_dedup") { (s, dir) =>
    import graft.streaming.IncrementalDedup
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q86")
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    val inDir = s"$root/in"; val outDir = s"$root/new_docs"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val cut = 250L
    docs.filter(col("doc_id") < cut).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    IncrementalDedup.dedupRun(s, inDir, outDir, s"$root/ckpt", schema)
    docs.filter(col("doc_id") >= cut).write.mode("append").parquet(inDir)
    IncrementalDedup.dedupRun(s, inDir, outDir, s"$root/ckpt", schema)
    docs.filter(col("doc_id") >= cut).write.mode("append").parquet(inDir)
    IncrementalDedup.dedupRun(s, inDir, outDir, s"$root/ckpt", schema)
    s.read.parquet(outDir).orderBy("fp")
  } (oracle =
    // The streaming three-run fixture reduces to this batch answer
    // BECAUSE the ingest cut is id-monotone: the first batch holding a
    // fingerprint also holds its global-min doc id (see q86's doc).
    tokCte + """
      SELECT md5(array_to_string(toks, ' ')) AS fp,
             min(doc_id) AS doc_id
      FROM tk GROUP BY fp ORDER BY fp"""),

  /** Streaming cross-batch NEAR-dedup (MinHash/LSH buckets in the
    * state store): q86's drive shape — drain the low-id half, append
    * the high-id half and drain, re-send it byte-identical and drain
    * (appends nothing) — over q29's banding (k=3, 4 bands x 2 rows).
    * Ids are fed in nondecreasing batches, so the drained survivor
    * set equals the global batch semantics the oracle states: docs
    * sharing no band key with any lower-id doc. */
  Query("q95_streaming_near_dedup") { (s, dir) =>
    import graft.streaming.IncrementalNearDup
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q95")
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    val inDir = s"$root/in"; val outDir = s"$root/survivors"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val cut = 250L
    docs.filter(col("doc_id") < cut).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    IncrementalNearDup.nearDedupRun(s, inDir, outDir, s"$root/ckpt", schema)
    docs.filter(col("doc_id") >= cut).write.mode("append").parquet(inDir)
    IncrementalNearDup.nearDedupRun(s, inDir, outDir, s"$root/ckpt", schema)
    docs.filter(col("doc_id") >= cut).write.mode("append").parquet(inDir)
    IncrementalNearDup.nearDedupRun(s, inDir, outDir, s"$root/ckpt", schema)
    s.read.parquet(outDir).orderBy("doc_id")
  } (oracle =
    // Global restatement of q95's drained stream: q29's banding,
    // survivor = doc sharing no band key with any lower-id doc
    // (ids are fed to the stream in nondecreasing batches, so
    // first-ingested-wins == smallest-id-wins).
    shingleCte + """,
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2),
      matched AS (SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
      SELECT DISTINCT doc_id FROM bands
      WHERE doc_id NOT IN (SELECT doc_id FROM matched)
      ORDER BY doc_id"""),

  /** q95's audit form: every doc (dropped included) gets exactly one
    * (doc_id, kept) verdict row in its first-seen batch — the
    * streaming counterpart of the batch keep-flag convention. Same
    * drive and banding as q95. */
  Query("q96_streaming_near_dedup_audit") { (s, dir) =>
    import graft.streaming.IncrementalNearDup
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q96")
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    val inDir = s"$root/in"; val outDir = s"$root/verdicts"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val cut = 250L
    docs.filter(col("doc_id") < cut).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = IncrementalNearDup.nearDedupRun(
      s, inDir, outDir, s"$root/ckpt", schema, audit = true)
    drain()
    docs.filter(col("doc_id") >= cut).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= cut).write.mode("append").parquet(inDir)
    drain()
    s.read.parquet(outDir).orderBy("doc_id")
  } (oracle =
    // q95's audit form: one verdict row per banded doc, dropped
    // docs included.
    shingleCte + """,
      mins AS (SELECT doc_id, j,
          min(('0x' || substr(md5((j // 4)::VARCHAR || ':' || shingle),
            1 + 8 * (j % 4), 8))::BIGINT) AS h
        FROM sh CROSS JOIN range(0, 8) t(j) GROUP BY doc_id, j),
      bands AS (SELECT doc_id, j // 2 AS band,
          md5(string_agg(h::VARCHAR, ',' ORDER BY j)) AS key
        FROM mins GROUP BY doc_id, j // 2),
      matched AS (SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
      SELECT doc_id,
             (doc_id NOT IN (SELECT doc_id FROM matched)) AS kept
      FROM (SELECT DISTINCT doc_id FROM bands)
      ORDER BY doc_id"""),

  /** Bounded-state approximate streaming dedup: q86's three-drain
    * drive through the sharded-Bloom operator (64 shards x 32768
    * bits, k=4 — 256 KB of state TOTAL regardless of corpus size).
    * Deterministic md5-derived bit positions + id-ordered shard
    * processing make the approximate answer a closed form the
    * oracle restates in SQL. */
  Query("q97_bloom_dedup") { (s, dir) =>
    import graft.streaming.BloomDedup
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q97")
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
    }
    val inDir = s"$root/in"; val outDir = s"$root/survivors"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val cut = 250L
    // run 2 re-sends the first 50 texts under fresh ids (+10000) —
    // the corpus fps are all distinct, so these re-keyed dups are
    // what makes the Bloom suppression load-bearing; run 3 is the
    // byte-identical re-send (appends nothing).
    val resent = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    docs.filter(col("doc_id") < cut).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = BloomDedup.bloomDedupRun(
      s, inDir, outDir, s"$root/ckpt", schema)
    drain()
    docs.filter(col("doc_id") >= cut).union(resent)
      .write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= cut).union(resent)
      .write.mode("append").parquet(inDir)
    drain()
    s.read.parquet(outDir).orderBy("doc_id")
  } (oracle =
    // Closed form of the sharded-Bloom check-then-insert stream
    // (BloomDedup scaladoc): set bits after docs 1..i equal the
    // union of ALL processed docs' positions, so doc d is suppressed
    // iff every one of its k=4 positions is covered by some
    // lower-id doc of the same shard.
    """
      WITH docs2 AS (SELECT doc_id, text FROM documents
                     UNION ALL
                     SELECT doc_id + 10000, text FROM documents
                     WHERE doc_id < 50),
      tk AS (SELECT doc_id,
        list_filter(string_split_regex(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
          x -> x <> '') AS toks
      FROM docs2),
      f AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
            FROM tk),
      pos AS (SELECT doc_id, fp,
          ('0x' || substr(fp, 1, 2))::BIGINT % 64 AS shard, j,
          ('0x' || substr(md5(j::VARCHAR || ':' || fp), 1, 8))::BIGINT
            % 32768 AS p
        FROM f CROSS JOIN range(0, 4) t(j)),
      covered AS (SELECT d.doc_id, count(DISTINCT d.j) AS ncov
        FROM pos d JOIN pos e
          ON e.shard = d.shard AND e.p = d.p AND e.doc_id < d.doc_id
        GROUP BY d.doc_id)
      SELECT f.fp, f.doc_id FROM f
      WHERE f.doc_id NOT IN
        (SELECT doc_id FROM covered WHERE ncov = 4)
      ORDER BY doc_id"""),

  /** Streaming token-weighted interleave ([[graft.streaming
    * .StreamingInterleave.interleaveByTokens]]): q124's WFQ schedule
    * stamped by keyed state — (rank, cumulative-token) pairs carried
    * across three cron drains. Drained in id order the stream is
    * bit-identical to the batch operator, so the oracle is q124's
    * replay minus the read-side seq. */
  Query("q127_streaming_token_interleave") { (s, dir) =>
    import graft.streaming.StreamingInterleave
    import graft.text.TextOps
    val root = streamTmpRoot(s, "q127")
    val inDir = s"$root/in"; val outDir = s"$root/mix"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    val w = Map("en" -> 4L, "de" -> 2L, "fr" -> 2L, "es" -> 1L,
      "zh" -> 1L)
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingInterleave.interleaveByTokensRun(s,
      inDir, outDir, s"$root/ckpt", schema, "lang", "n_tok", w)
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    s.read.parquet(outDir)
      .select(col("doc_id"), col("stratum").as("lang"),
        col("size").as("n_tok"), col("mix_k"), col("mix_key"))
      .orderBy("doc_id")
  } (oracle =
    // The streaming WFQ stamp is bit-identical to the batch
    // token-weighted schedule when drained in id order: q124's
    // replay without the read-side seq.
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
            FROM d JOIN w ON d.lang = w.lang)
      SELECT doc_id, lang, n_tok, mix_k::BIGINT AS mix_k,
             (((2*cum + n_tok) // (2*wr)) * 8 +
               (((2*cum + n_tok) % (2*wr)) * 8) // (2*wr))::BIGINT
               AS mix_key
      FROM k ORDER BY doc_id"""),

  /** Streaming heavy-hitter vocabulary ([[graft.streaming
    * .StreamingVocab]], VERDICT r16 ask #8): per-lang Misra–Gries
    * counter maps (k = 100 per stratum) carried in the state store
    * across three cron drains over ascending doc_id slices, then the
    * exact-recount close-out — final candidate snapshot (max
    * tokens-seen watermark per stratum) joined to exact per-lang
    * token counts and cut at n·100 > N. The MG guarantee makes the
    * output EXACTLY the true per-lang heavy hitters however the
    * stream was sliced, so the oracle replays only the exact counts
    * and the threshold; n_total doubles as the stream-vs-batch
    * parity check (the state's watermark must equal the batch total
    * or the inner join returns rows with mismatched totals and the
    * hash breaks). */
  Query("q145_streaming_vocab") { (s, dir) =>
    import graft.streaming.StreamingVocab
    import graft.text.TextOps
    val root = streamTmpRoot(s, "q145")
    val inDir = s"$root/in"; val outDir = s"$root/cand"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("toks"))
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingVocab.summariesRun(s, inDir, outDir,
      s"$root/ckpt", schema, "lang", "toks", k = 100)
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    // Both joins broadcast the PARAMETER-bounded side explicitly
    // (snapshots are <= k rows per stratum per drain): estimate-driven
    // strategy choice could flip to broadcasting the corpus-derived
    // exact-counts side at scale, the audit class EXECJOINS polices.
    val snaps = s.read.parquet(outDir)
    // .distinct: if a stratum's watermark REPEATS across drains (a
    // later slice contributing zero tokens to it re-emits an
    // identical snapshot at the same n_seen), the max-watermark join
    // matches every such drain and would duplicate the stratum's
    // candidate rows; tied-watermark snapshots are identical row
    // sets by construction, so distinct collapses them (ADVICE r17).
    val finalSnap = snaps.join(broadcast(
      snaps.groupBy("stratum").agg(max("n_seen").as("n_seen"))),
      Seq("stratum", "n_seen"))
      .select(col("stratum"), col("token"), col("n_seen"))
      .distinct()
    val exact = docs
      .select(coalesce(col("lang"), lit("")).as("stratum"),
        explode(col("toks")).as("token"))
      .groupBy("stratum", "token").agg(count(lit(1)).as("n_tok"))
    broadcast(finalSnap).join(exact, Seq("stratum", "token"))
      .filter(col("n_tok") * 100 > col("n_seen"))
      .select(col("stratum").as("lang"), col("token"), col("n_tok"),
        col("n_seen").as("n_total"))
      .orderBy("lang", "token")
  } (oracle = tokCte + """,
      occ AS (SELECT coalesce(d.lang, '') AS lang,
          unnest(tk.toks) AS token
        FROM tk JOIN documents d USING (doc_id)),
      tot AS (SELECT lang, count(*)::BIGINT AS n_total FROM occ
        GROUP BY lang)
      SELECT o.lang, o.token, count(*)::BIGINT AS n_tok, t.n_total
      FROM occ o JOIN tot t USING (lang)
      GROUP BY o.lang, o.token, t.n_total
      HAVING count(*) * 100 > t.n_total
      ORDER BY lang, token"""),

  /** Streaming HLL register sketch ([[graft.streaming
    * .StreamingSketch.hllRegisters]], VERDICT r17 ask #4): per-lang
    * registers carried as keyed streaming state across three cron
    * drains over ascending doc_id slices; close-out = the final
    * snapshot (max tokens-seen watermark per lang), which equals the
    * BATCH sketch register-for-register because the state transition
    * IS the operator's max-merge. Oracle = q146's batch replay plus
    * the per-lang exact token total — n_total doubles as the
    * stream-vs-batch parity signal (the q145 convention: a drain
    * that dropped or double-counted a token breaks the hash). */
  Query("q149_streaming_hll") { (s, dir) =>
    import graft.streaming.StreamingSketch
    import graft.text.TextOps
    val root = streamTmpRoot(s, "q149")
    val inDir = s"$root/in"; val outDir = s"$root/regs"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("toks"))
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingSketch.sketchRun(s, inDir, outDir,
      s"$root/ckpt", schema, "lang", "toks", "hll")
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    val snaps = s.read.parquet(outDir)
    // broadcast = parameter-bounded watermark side; .distinct for
    // tied-watermark snapshot re-emissions (identical rows by
    // construction — the q145 ADVICE fix, same failure shape)
    snaps.join(broadcast(
        snaps.groupBy("group").agg(max("n_seen").as("n_seen"))),
        Seq("group", "n_seen"))
      .select(col("group"), col("bucket"), col("max_rho"),
        col("n_seen").as("n_total"))
      .distinct()
      .orderBy("group", "bucket")
  } (oracle =
    // Streaming HLL close-out: the q146 batch replay (the streaming
    // state's max-merge makes the final snapshot equal the batch
    // sketch) joined to the exact per-lang token total, which the
    // stream's watermark must reproduce exactly.
    tokCte + """,
      occ AS (SELECT coalesce(d.lang, '') AS grp,
          unnest(tk.toks) AS token
        FROM tk JOIN documents d USING (doc_id)),
      tot AS (SELECT grp, count(*)::BIGINT AS n_total FROM occ
        GROUP BY grp),
      rr AS (SELECT grp,
          ('0x' || substr(md5(token), 1, 3))::BIGINT AS bucket,
          ltrim(substr(md5(token), 4, 12), '0') AS st
        FROM occ)
      SELECT r.grp AS "group", bucket,
        max(CASE WHEN length(st) = 0 THEN 49
          ELSE ((12 - length(st)) * 4 +
            CASE WHEN ('0x' || substr(st, 1, 1))::BIGINT >= 8 THEN 0
                 WHEN ('0x' || substr(st, 1, 1))::BIGINT >= 4 THEN 1
                 WHEN ('0x' || substr(st, 1, 1))::BIGINT >= 2 THEN 2
                 ELSE 3 END + 1) END)::INT AS max_rho,
        t.n_total
      FROM rr r JOIN tot t USING (grp)
      GROUP BY 1, 2, 4
      ORDER BY "group", bucket"""),

  /** Streaming count-min cells ([[graft.streaming.StreamingSketch
    * .cmCells]], VERDICT r17 ask #4): q149's shape for the
    * sum-merged sketch — per-lang exact CM cells as keyed streaming
    * state, close-out equal to the batch q147 cells cell-for-cell,
    * with the same n_total parity signal. */
  Query("q150_streaming_cm") { (s, dir) =>
    import graft.streaming.StreamingSketch
    import graft.text.TextOps
    val root = streamTmpRoot(s, "q150")
    val inDir = s"$root/in"; val outDir = s"$root/cells"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.tokens(col("text")).as("toks"))
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingSketch.sketchRun(s, inDir, outDir,
      s"$root/ckpt", schema, "lang", "toks", "cm")
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    val snaps = s.read.parquet(outDir)
    snaps.join(broadcast(
        snaps.groupBy("group").agg(max("n_seen").as("n_seen"))),
        Seq("group", "n_seen"))
      .select(col("group"), col("row"), col("col"), col("n"),
        col("n_seen").as("n_total"))
      .distinct()
      .orderBy("group", "row", "col")
  } (oracle =
    // Streaming CM close-out: the q147 batch replay (sum-merge) with
    // the same exact-total parity column.
    tokCte + """,
      occ AS (SELECT coalesce(d.lang, '') AS grp,
          unnest(tk.toks) AS token
        FROM tk JOIN documents d USING (doc_id)),
      tot AS (SELECT grp, count(*)::BIGINT AS n_total FROM occ
        GROUP BY grp)
      SELECT o.grp AS "group", r.r AS "row",
        ('0x' || substr(md5(r.r::VARCHAR || ':' || token), 1, 3))::BIGINT
          AS col,
        count(*)::BIGINT AS n, t.n_total
      FROM occ o CROSS JOIN range(0, 4) r(r) JOIN tot t USING (grp)
      GROUP BY 1, 2, 3, 5
      ORDER BY "group", "row", col"""),

  /** Streaming rank sketch ([[graft.streaming.StreamingSketch
    * .rankCells]], X82): q151's decimal buckets as keyed streaming
    * state across three cron drains — sum-merge, so the close-out is
    * the batch sketch cell-for-cell (the q149/q150 argument), with
    * the values-seen watermark as the parity column. */
  Query("q152_streaming_rank") { (s, dir) =>
    import graft.streaming.StreamingSketch
    import graft.text.TextOps
    val root = streamTmpRoot(s, "q152")
    val inDir = s"$root/in"; val outDir = s"$root/cells"
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingSketch.rankCellsRun(s, inDir, outDir,
      s"$root/ckpt", schema, "lang", "n_tok")
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    val snaps = s.read.parquet(outDir)
    snaps.join(broadcast(
        snaps.groupBy("group").agg(max("n_seen").as("n_seen"))),
        Seq("group", "n_seen"))
      .select(col("group"), col("digits"), col("lead"), col("n"),
        col("n_seen").as("n_total"))
      .distinct()
      .orderBy("group", "digits", "lead")
  } (oracle =
    // Streaming rank-sketch close-out: the q151 batch replay plus
    // the per-group exact value-count watermark.
    tokCte + """,
      vt AS (SELECT coalesce(d.lang, '') AS grp,
          len(tk.toks)::BIGINT AS v
        FROM tk JOIN documents d USING (doc_id)),
      tot AS (SELECT grp, count(*)::BIGINT AS n_total FROM vt
        GROUP BY grp)
      SELECT grp AS "group", length(v::VARCHAR)::INT AS digits,
        substr(v::VARCHAR, 1, 2)::BIGINT AS lead,
        count(*)::BIGINT AS n, t.n_total
      FROM vt JOIN tot t USING (grp)
      GROUP BY 1, 2, 3, 5
      ORDER BY "group", digits, lead"""),

  /** Streaming cross-batch IMAGE near-dedup ([[graft.streaming
    * .IncrementalNearDup.imageNearDedupRun]], X89 — VERDICT r19 ask
    * #4): the q154 image corpus ingested in three batches with
    * nondecreasing ids — ids < 250, then the rest, then a RE-SEND
    * batch re-encoding every id ≥ 250 image to PNG under id +
    * 1,000,000 (different bytes, identical pixels, identical
    * dHash). dHash band-word buckets live in the state store; a doc
    * survives iff no bucket is already claimed by a lower id, so
    * every re-send is suppressed and the drained survivor set
    * equals the batch band restatement the oracle computes over
    * original ∪ re-send ids. */
  Query("q162_streaming_image_neardup") { (s, dir) =>
    import graft.streaming.IncrementalNearDup
    import graft.multimodal.{MediaDedup, Multimodal}
    import s.implicits._
    // applicationId-suffixed root + exit-time cleanup (ADVICE r20):
    // a fixed root lets concurrent harness invocations destroy each
    // other's in-flight checkpoint/input dirs and leaks dirs per run
    val root = streamTmpRoot(s, "q162")
    val inDir = s"$root/in"; val outDir = s"$root/survivors"
    def img(eff: Long): Array[Byte] = {
      val sd = (eff % 40).toInt
      val bright = eff % 5 == 2
      val sticker = eff % 7 == 3
      def ch(a: Int, b: Int, c: Int, x: Int, y: Int): Int = {
        var v = (sd * a + x * b + y * c) % 248
        if (bright) v += 7
        if (sticker && x >= 14) v += 80
        math.min(v, 255)
      }
      Multimodal.SyntheticMedia.bmp24(18, 16)((x, y) =>
        (ch(3, 7, 11, x, y), ch(5, 11, 3, x, y), ch(7, 3, 13, x, y)))
    }
    val ids = t(s, dir, "documents").select(col("doc_id")).as[Long]
    val cut = 250L
    ids.filter(_ < cut).map(id => (id, img(id)))
      .toDF("doc_id", "payload").write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = IncrementalNearDup.imageNearDedupRun(
      s, inDir, outDir, s"$root/ckpt", schema)
    drain()
    ids.filter(_ >= cut).map(id => (id, img(id)))
      .toDF("doc_id", "payload").write.mode("append").parquet(inDir)
    drain()
    ids.filter(_ >= cut)
      .map(id => (id + 1000000L, MediaDedup.pngReencode(img(id))))
      .toDF("doc_id", "payload").write.mode("append").parquet(inDir)
    drain()
    s.read.parquet(outDir).orderBy("doc_id")
  } (oracle =
    // Streaming image near-dedup close-out: the q154 hash
    // re-derivation over original ∪ re-send ids (re-sends hash via
    // eff = doc_id - 1,000,000 — a PNG re-encode has identical
    // pixels), then the batch band restatement: 4 rotated 16-bit
    // words per hash (arithmetic shift + mask == logical shift for
    // the masked low word), survivor = no word claimed by a lower
    // id.
    """
      WITH ids AS (
        SELECT doc_id FROM documents
        UNION ALL
        SELECT doc_id + 1000000 FROM documents WHERE doc_id >= 250),
      eff AS (SELECT doc_id,
          CASE WHEN doc_id >= 1000000 THEN doc_id - 1000000
               ELSE doc_id END AS e
        FROM ids),
      px AS (
        SELECT i.doc_id, i.e, x.x, y.y,
          (CASE WHEN i.e % 5 = 2 THEN 7 ELSE 0 END +
           CASE WHEN i.e % 7 = 3 AND x.x >= 14 THEN 80 ELSE 0 END)
            AS sh
        FROM eff i
        CROSS JOIN generate_series(0, 17) AS x(x)
        CROSS JOIN generate_series(0, 15) AS y(y)),
      lum AS (
        SELECT doc_id, x // 2 AS cx, y // 2 AS cy,
          sum(299 * least(((e % 40) * 3 + x * 7 + y * 11) % 248
                + sh, 255)
            + 587 * least(((e % 40) * 5 + x * 11 + y * 3) % 248
                + sh, 255)
            + 114 * least(((e % 40) * 7 + x * 3 + y * 13) % 248
                + sh, 255)) AS s
        FROM px GROUP BY doc_id, x // 2, y // 2),
      bits AS (
        SELECT a.doc_id, (a.cy * 8 + a.cx)::INT AS bit
        FROM lum a JOIN lum b
          ON a.doc_id = b.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
        WHERE a.s < b.s),
      hash AS (
        SELECT i.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM ids i LEFT JOIN bits USING (doc_id)
        GROUP BY i.doc_id),
      bands AS (
        SELECT doc_id, b.b AS band, (h >> (b.b * 16)) & 65535 AS key
        FROM hash CROSS JOIN range(0, 4) AS b(b)),
      matched AS (
        SELECT DISTINCT a.doc_id FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key
          AND b.doc_id < a.doc_id)
      SELECT doc_id FROM ids
      WHERE doc_id NOT IN (SELECT doc_id FROM matched)
      ORDER BY doc_id"""),

  /** Streaming cross-batch AUDIO near-dedup ([[graft.streaming
    * .IncrementalNearDup.audioNearDedupRun]], the X89 machinery on
    * the audio fingerprint): the q157 WAV corpus in three batches —
    * ids < 250, the rest, then a RE-SEND of every id ≥ 250 as a
    * gain-2 LOUDNESS REMASTER under id + 1,000,000 (different
    * bytes; identical energy-gradient hash by the spec-pinned
    * amplitude-scaling invariance). Fingerprint band-word buckets
    * live in the state store; every remaster re-send is suppressed
    * and the drained survivor set equals the batch band restatement
    * the oracle computes over original ∪ re-send ids. */
  Query("q164_streaming_audio_neardup") { (s, dir) =>
    import graft.streaming.IncrementalNearDup
    import graft.multimodal.Multimodal
    import s.implicits._
    // applicationId-suffixed root + exit-time cleanup (ADVICE r20):
    // same routing as q123/q127/q134/q162
    val root = streamTmpRoot(s, "q164")
    val inDir = s"$root/in"; val outDir = s"$root/survivors"
    // md5-arithmetic samples (the register-exact convention): the
    // q157 congruence sawtooth's frame-energy gradients are nearly
    // seed-INdependent (measured: 18 distinct hashes over 40 seeds,
    // 1 band survivor in 500 ids — a degenerate close-out), so pile
    // samples come from md5("<sd>:<i>") instead — uniform energies,
    // 80 distinct hashes / 39 survivors at 500 ids, and DuckDB
    // replays the exact bytes.
    def base(eff: Long, i: Int): Int = {
      val sd = eff % 40
      if (eff % 7 == 3 && i < 32) 1000
      else {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$sd:$i".getBytes("UTF-8"))
        val hi4 = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
        hi4 % 32768 - 16384
      }
    }
    def wav(eff: Long, gain: Int): Array[Byte] =
      Multimodal.SyntheticMedia.wavPcm16(8000, 256)(i =>
        base(eff, i) * gain)
    def origGain(id: Long): Int = if (id % 5 == 2) 2 else 1
    val ids = t(s, dir, "documents").select(col("doc_id")).as[Long]
    val cut = 250L
    ids.filter(_ < cut).map(id => (id, wav(id, origGain(id))))
      .toDF("doc_id", "payload").write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = IncrementalNearDup.audioNearDedupRun(
      s, inDir, outDir, s"$root/ckpt", schema)
    drain()
    ids.filter(_ >= cut).map(id => (id, wav(id, origGain(id))))
      .toDF("doc_id", "payload").write.mode("append").parquet(inDir)
    drain()
    // gain-2 remaster of the BASE signal: byte-different for gain-1
    // originals, byte-identical for the gain-2 class — both must
    // drop (hash-identical either way)
    ids.filter(_ >= cut)
      .map(id => (id + 1000000L, wav(id, 2)))
      .toDF("doc_id", "payload").write.mode("append").parquet(inDir)
    drain()
    s.read.parquet(outDir).orderBy("doc_id")
  } (oracle =
    // Streaming audio near-dedup close-out: the q157 fingerprint
    // re-derivation over original ∪ re-send ids (re-sends carry the
    // BASE signal at gain 2 — amplitude scaling cancels in the
    // cross-multiplied energy comparison, so hash(re-send) ==
    // hash(original)), then the same batch band restatement as
    // q162: 4 rotated 16-bit words per hash, survivor = no word
    // claimed by a lower id.
    """
      WITH ids AS (
        SELECT doc_id FROM documents
        UNION ALL
        SELECT doc_id + 1000000 FROM documents WHERE doc_id >= 250),
      eff AS (SELECT doc_id,
          CASE WHEN doc_id >= 1000000 THEN doc_id - 1000000
               ELSE doc_id END AS ef,
          CASE WHEN doc_id >= 1000000 THEN 2
               WHEN doc_id % 5 = 2 THEN 2 ELSE 1 END AS gain
        FROM ids),
      smp AS (
        SELECT d.doc_id, i.i,
          (CASE WHEN d.ef % 7 = 3 AND i.i < 32 THEN 1000
                ELSE ('0x' || substr(md5((d.ef % 40)::VARCHAR
                  || ':' || i.i::VARCHAR), 1, 4))::INT % 32768
                  - 16384 END)
          * d.gain AS s
        FROM eff d
        CROSS JOIN generate_series(0, 255) AS i(i)),
      fr AS (
        SELECT doc_id, (i * 65) // 256 AS f,
          sum(abs(s)) AS e, count(*) AS c
        FROM smp GROUP BY doc_id, (i * 65) // 256),
      bits AS (
        SELECT a.doc_id, a.f::INT AS bit
        FROM fr a JOIN fr b
          ON a.doc_id = b.doc_id AND b.f = a.f + 1
        WHERE a.e * b.c < b.e * a.c),
      hash AS (
        SELECT i.doc_id,
          coalesce(sum(CASE WHEN bit = 63
            THEN (-9223372036854775807 - 1)
            ELSE (1::BIGINT << bit) END), 0)::BIGINT AS h
        FROM ids i LEFT JOIN bits USING (doc_id)
        GROUP BY i.doc_id),
      bands AS (
        SELECT doc_id, b.b AS band, (h >> (b.b * 16)) & 65535 AS key
        FROM hash CROSS JOIN range(0, 4) AS b(b)),
      matched AS (
        SELECT DISTINCT a.doc_id FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key
          AND b.doc_id < a.doc_id)
      SELECT doc_id FROM ids
      WHERE doc_id NOT IN (SELECT doc_id FROM matched)
      ORDER BY doc_id"""),

  /** Streaming token-budget fill ([[graft.streaming.StreamingBudget
    * .fill]]): per-language token budgets consumed across three cron
    * drains — ONE Long of keyed state per stratum (the cumulative
    * token total), the batch admission rule (exclusive prefix <
    * budget; a doc that starts under budget is admitted even if it
    * overshoots). Drained in id order the stream is bit-identical to
    * [[graft.text.BudgetOps.budgetSelectPerStratum]] at constant
    * priority, so the oracle replays the per-lang running totals
    * directly. */
  Query("q134_streaming_budget") { (s, dir) =>
    import graft.streaming.StreamingBudget
    import graft.text.TextOps
    val root = streamTmpRoot(s, "q134")
    val inDir = s"$root/in"; val outDir = s"$root/fill"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    val budgets = Map("en" -> 5000L, "de" -> 2500L, "fr" -> 2500L,
      "es" -> 1000L)
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingBudget.fillRun(s, inDir, outDir,
      s"$root/ckpt", schema, "lang", "n_tok", budgets,
      defaultBudget = 500L)
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    s.read.parquet(outDir)
      .select(col("doc_id"), col("stratum").as("lang"),
        col("size").as("n_tok"), col("cum_tokens"), col("budget"),
        col("selected"))
      .orderBy("doc_id")
  } (oracle =
    // Streaming budget-fill replay: per-lang inclusive running token
    // totals in doc_id order, the budgets map (absent -> default
    // 500), and the exclusive-prefix admission rule.
    tokCte + """,
      d AS (SELECT tk.doc_id, coalesce(d0.lang, '') AS lang,
          len(toks)::BIGINT AS n_tok
        FROM tk JOIN documents d0 ON tk.doc_id = d0.doc_id),
      c AS (SELECT doc_id, lang, n_tok,
          (sum(n_tok) OVER (PARTITION BY lang
            ORDER BY doc_id))::BIGINT AS cum_tokens,
          (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
            WHEN 'fr' THEN 2500 WHEN 'es' THEN 1000
            ELSE 500 END)::BIGINT AS budget
        FROM d)
      SELECT doc_id, lang, n_tok, cum_tokens, budget,
             (cum_tokens - n_tok < budget) AS selected
      FROM c ORDER BY doc_id"""),

  /** Streaming mixture interleave ([[graft.streaming
    * .StreamingInterleave]]): q121's recipe stamped by keyed state —
    * three cron-style drains over ascending doc_id slices, per-lang
    * ranks carried in the checkpoint across runs. Drained in id
    * order the stream is bit-identical to the batch operator, so the
    * oracle is q121's replay minus the read-side `seq` (a global
    * rank cannot be assigned mid-stream; the training order over the
    * output lake is ORDER BY (mix_key, lang, mix_k)). */
  Query("q123_streaming_interleave") { (s, dir) =>
    import graft.streaming.StreamingInterleave
    val root = streamTmpRoot(s, "q123")
    val inDir = s"$root/in"; val outDir = s"$root/mix"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val w = Map("en" -> 4L, "de" -> 2L, "fr" -> 2L, "es" -> 1L,
      "zh" -> 1L)
    // each slice coalesced to one file so every drain is one ordered
    // trigger (ids ascend across drains; the group sort orders within)
    docs.filter(col("doc_id") < 250).coalesce(1).write.parquet(inDir)
    val schema = s.read.parquet(inDir).schema
    def drain(): Unit = StreamingInterleave.interleaveRun(s, inDir,
      outDir, s"$root/ckpt", schema, "lang", w)
    drain()
    docs.filter(col("doc_id") >= 250 && col("doc_id") < 500)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    docs.filter(col("doc_id") >= 500).coalesce(1).write.mode("append")
      .parquet(inDir)
    drain()
    s.read.parquet(outDir)
      .select(col("doc_id"), col("stratum").as("lang"), col("mix_k"),
        col("mix_key"))
      .orderBy("doc_id")
  } (oracle =
    // The streaming stamp is bit-identical to the batch stride
    // schedule when drained in id order, so the oracle is q121's
    // replay without the read-side seq.
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
             mix_key::BIGINT AS mix_key
      FROM ky ORDER BY doc_id"""),
  )
}
