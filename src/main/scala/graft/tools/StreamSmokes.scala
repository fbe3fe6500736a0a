package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming._
import graft.text.{SketchOps, TextOps, VocabOps}
import graft.tools.Smokes.{Run, Smoke}

/** The streaming entries of [[Smokes]]. A drain runs on its stream's
  * own thread and job group, so a drain phase's jobs and exchanges are
  * those of its caller's batch writes, reads and checks; its wall
  * covers the drains. */
object StreamSmokes {

  private def dirSize(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else Files.walk(path).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => Files.size(f)).sum
  }

  /** Writes each slice to `in` (the first creates it, the others
    * append; `None` adds nothing) and drains after each; the seconds of
    * each drain. */
  private def drains(in: String, slices: Seq[Option[DataFrame]])
      (drain: => Unit): Seq[Double] = slices.zipWithIndex.map { case (s, i) =>
    s.foreach(_.write.mode(if (i == 0) "error" else "append").parquet(in))
    val t0 = System.nanoTime()
    drain
    (System.nanoTime() - t0) / 1e9
  }

  private val Providers = Seq("hdfs" -> None,
    "rocksdb" -> Some(IncrementalDedup.RocksDbProvider))

  /** Cross-batch streaming dedup over the amplified `documents` table
    * ([[Smokes.Marked]], so cross-copy texts never collide), in three
    * drains: run 1 = 60% of ids, run 2 = the rest + re-sent duplicates
    * of 10% of run 1's texts under fresh ids (cross-run suppression
    * work), run 3 = nothing new (pure state-probe cost). Each phase
    * reports its drain walls, survivors and on-disk state footprint —
    * the number that decides HDFS-on-heap vs RocksDB at corpus scale
    * (~100 B/key ⇒ 2.5 TB of state for 100 TB of docs; this smoke
    * validates the per-key cost constant at 6-digit key counts).
    *
    *  - `exact_*` ([[IncrementalDedup]]) and `neardup_*`
    *    ([[IncrementalNearDup]], LSH buckets in the state store: 4 band
    *    buckets per distinct-signature doc + one marker per survivor)
    *    under both state-store providers, with identical survivors
    *    asserted (the provider changes WHERE state lives, never the
    *    dataflow);
    *  - `audit`: the one-verdict-per-doc form, one marker per SEEN doc
    *    on top of the bucket store;
    *  - `image_*`: cross-batch IMAGE near-dedup (q162) over synthetic
    *    BMP piles, both providers, identical survivors asserted: state =
    *    4 band buckets per DISTINCT signature + one marker per survivor
    *    — ~piles keys, NOT ~docs keys — so state_kb should hold roughly
    *    constant across factors while docs grows;
    *  - `bloom`: bounded-state Bloom dedup, state a PARAMETER
    *    (shards × bits/8 bytes); survivors differ from exact dedup only
    *    by deterministic false positives (counted);
    *  - `interleave` and `budget`: ONE Long of state per stratum (16),
    *    and three ascending id slices bit-identical to the batch
    *    operator (asserted).
    */
  val stream: Smoke = new Smoke("stream", 20) {
    def run(r: Run): Unit = {
      val spark = r.spark
      val docs = r.stage(r.documents())
      val total = docs.count()
      val cut = total * 3 / 5
      def resent(df: DataFrame, payload: String) = df.filter(col("doc_id") < cut / 10)
        .select((col("doc_id") + total * 10).as("doc_id"), col(payload))
      /** Run 1, run 2 with the re-sent duplicates, run 3 empty. */
      def feed(df: DataFrame, payload: String) = Seq(
        Some(df.filter(col("doc_id") < cut)),
        Some(df.filter(col("doc_id") >= cut).unionAll(resent(df, payload))), None)
      /** Three ascending id slices. */
      def slices(df: DataFrame) = Seq(col("doc_id") < cut,
        col("doc_id") >= cut && col("doc_id") < cut + cut / 2,
        col("doc_id") >= cut + cut / 2).map(c => Some(df.filter(c)))
      def report(phase: String, secs: Seq[Double], ckpt: String, extra: (String, Any)*) =
        r.info(Seq("phase" -> phase, "docs" -> total, "drain_sec" -> secs,
          "state_kb" -> (dirSize(s"$ckpt/state") >> 10)) ++ extra: _*)

      /** The three drains of `drain(in, out, ckpt)` over `feed` as the
        * phase `name`; its rows are the survivors. */
      def dedup(name: String, feed: Seq[Option[DataFrame]])
          (drain: (String, String, String) => Unit): Option[Long] =
        r.count(name) {
          val (in, out, ckpt) = (r.dir(s"$name/in"), r.dir(s"$name/out"), r.dir(s"$name/ckpt"))
          val secs = drains(in, feed)(drain(in, out, ckpt))
          val survivors = spark.read.parquet(out).count()
          report(name, secs, ckpt, "survivors" -> survivors)
          survivors
        }
      def providersAgree(op: String): Unit =
        Providers.flatMap(p => r.rows.get(s"${op}_${p._1}")) match {
          case Seq(hdfs, rocks) => assert(hdfs == rocks,
            s"$op: $hdfs survivors under hdfs but $rocks under rocksdb")
          case _ =>
        }

      for ((label, provider) <- Providers) dedup(s"exact_$label", feed(docs, "text")) {
        (in, out, ckpt) => IncrementalDedup.dedupRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, provider)
      }
      providersAgree("exact")
      for ((label, provider) <- Providers) dedup(s"neardup_$label", feed(docs, "text")) {
        (in, out, ckpt) => IncrementalNearDup.nearDedupRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, stateStoreProvider = provider)
      }
      providersAgree("neardup")
      dedup("audit", feed(docs, "text")) { (in, out, ckpt) =>
        IncrementalNearDup.nearDedupRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, audit = true)
      }

      // Synthetic BMP piles (seed = id % piles, so distinct dHash
      // signatures ~ piles regardless of corpus size), a third of the
      // rows PNG-re-encoded and a fifth brightness-remastered (both
      // dHash-invariant, so they land in their pile's buckets). Decode
      // cost stays in the scan (only the 8-byte hash reaches the
      // shuffle).
      import spark.implicits._
      val piles = 5000
      val imgs = docs.select(col("doc_id")).as[Long].map { id =>
        val sd = (id % piles).toInt
        val bright = id % 5 == 2
        // The seed must pass through a real avalanche mix: dHash
        // removes uniform brightness by design, so any pixel
        // function where the seed enters additively (even behind a
        // shift — carries are rare) collapses the piles onto a
        // handful of hashes (measured: 31, then 501 survivors from
        // 5000 piles on two linear attempts). splitmix-style
        // finalizer ⇒ 5000/5000 distinct hashes, ~4360 distinct
        // 16-bit words per band (near the uniform-birthday bound;
        // the shortfall reflects dHash's adjacent-bit correlation),
        // ~3000 expected survivors after band-bucket chaining.
        def mixPx(z0: Long): Long = {
          var z = z0
          z = (z ^ (z >>> 33)) * 0xFF51AFD7ED558CCDL
          z = (z ^ (z >>> 33)) * 0xC4CEB9FE1A85EC53L
          z ^ (z >>> 33)
        }
        val bmp = graft.multimodal.Multimodal.SyntheticMedia.bmp24(18, 16) { (x, y) =>
          def c(salt: Long): Int = {
            val v = ((mixPx((sd.toLong << 40) | (x.toLong << 20) |
              (y.toLong << 2) | salt) >>> 8) % 248).toInt
            if (bright) v + 7 else v
          }
          (c(1), c(2), c(3))
        }
        (id, if (id % 3 == 1) graft.multimodal.MediaDedup.pngReencode(bmp) else bmp)
      }.toDF("doc_id", "payload")
      for ((label, provider) <- Providers) dedup(s"image_$label", feed(imgs, "payload")) {
        (in, out, ckpt) => IncrementalNearDup.imageNearDedupRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, stateStoreProvider = provider)
      }
      providersAgree("image")

      // 256 shards x 2^20 bits = 32 MB of filter absorbs the amplified
      // corpora at comfortably low fill
      dedup("bloom", feed(docs, "text")) { (in, out, ckpt) =>
        BloomDedup.bloomDedupRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, 256, 1 << 20, 4)
      }.foreach { survivors =>
        // exact-dedup survivors of the same feed = distinct fps
        val exactSurvivors = docs.unionAll(resent(docs, "text"))
          .select(TextOps.fingerprint(col("text"))).distinct().count()
        r.info("phase" -> "bloom", "false_positives" -> (exactSurvivors - survivors))
      }

      /** The three drains of `drain(in, out, ckpt)` over the slices of
        * `input` as the phase `name`, whose output must equal `batch` on
        * `cols`. */
      def parity(name: String, input: DataFrame, batch: => DataFrame, cols: Seq[String])
          (drain: (String, String, String) => Unit): Unit = r.count(name) {
        val (in, out, ckpt) = (r.dir(s"$name/in"), r.dir(s"$name/out"), r.dir(s"$name/ckpt"))
        val secs = drains(in, slices(input))(drain(in, out, ckpt))
        val streamed = r.stage(spark.read.parquet(out).select(cols.map(col): _*))
        val want = batch.select(cols.map(col): _*)
        val diff = streamed.except(want).count() + want.except(streamed).count()
        report(name, secs, ckpt, "batch_parity_diff" -> diff)
        assert(diff == 0, s"$name: stream and batch differ in $diff rows")
        streamed.count()
      }
      val src = concat(lit("src"), (col("doc_id") % 16).cast("string")).as("src")

      val strat = docs.select(col("doc_id"), src)
      val w = (0 until 16).map(i => s"src$i" -> (i + 1L)).toMap
      parity("interleave", strat,
        graft.text.InterleaveOps.proportionalInterleave(strat, "src", "doc_id", w),
        Seq("doc_id", "mix_k", "mix_key")) { (in, out, ckpt) =>
        StreamingInterleave.interleaveRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, "src", w)
      }

      // Budgets sized so roughly half the strata exhaust mid-run (both
      // admission edges live at scale, not just in the spec): even
      // strata get 40% of their total, odd strata 200% (never exhaust).
      val sized = r.stage(docs.select(col("doc_id"), src,
        TextOps.tokenCount(col("text")).cast("long").as("n_tok")))
      val budgets = sized.groupBy("src").agg(sum("n_tok").as("t")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap.map { case (s, t) =>
          s -> (if (s.stripPrefix("src").toInt % 2 == 0) t * 2 / 5 else t * 2)
        }
      parity("budget", sized,
        graft.text.BudgetOps.budgetSelectPerStratum(
          sized.withColumn("__p", lit(0.0)), "doc_id", "n_tok",
          "__p", "src", budgets, defaultBudget = 0L),
        Seq("doc_id", "cum_tokens", "budget", "selected")) { (in, out, ckpt) =>
        StreamingBudget.fillRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, "src", "n_tok", budgets)
      }
    }
  }

  /** The three id-mod-3 slices of `docs`' token arrays. */
  private def thirds(docs: DataFrame, group: String): Seq[Option[DataFrame]] = {
    val staged = docs.select(col("doc_id"), col(group),
      TextOps.tokens(col("text")).as("toks"))
    (0 until 3).map(i => Some(staged.filter(col("doc_id") % 3 === i)))
  }

  /** The STREAMING sketch tier (X79/X80): per-group state CONSTANT in
    * corpus size (≤ m HLL registers / rows·m CM cells per group) —
    * measured, not argued: each sketch folds the amplified `documents`
    * table in three cron drains, reporting the state-store footprint
    * (the claim under test: state saturates at the register/cell cap
    * and stops tracking corpus size) and asserting close-out parity:
    * the final snapshot == the batch sketch of the same corpus,
    * register-for-register / cell-for-cell. */
  val streamSketch: Smoke = new Smoke("streamSketch", 50) {
    def run(r: Run): Unit = {
      val spark = r.spark
      val docs = r.stage(r.documents(Seq("lang")))
      for (sk <- Seq("hll", "cm")) r.count(sk) {
        val (in, out, ckpt) = (r.dir(s"$sk/in"), r.dir(s"$sk/out"), r.dir(s"$sk/ckpt"))
        val secs = drains(in, thirds(docs, "lang")) {
          StreamingSketch.sketchRun(spark, in, out, ckpt,
            spark.read.parquet(in).schema, "lang", "toks", sk)
        }
        val snaps = spark.read.parquet(out)
        val fin = snaps.join(
          snaps.groupBy("group").agg(max("n_seen").as("n_seen")),
          Seq("group", "n_seen"))
        val (got, want) = sk match {
          case "hll" =>
            (fin.select("group", "bucket", "max_rho").distinct(),
              SketchOps.hllTokenRegisters(docs, "text", "lang"))
          case _ =>
            (fin.select("group", "row", "col", "n").distinct(),
              SketchOps.cmTokenCells(docs, "text", "lang"))
        }
        val diff = got.exceptAll(want).count() +
          want.exceptAll(got).count()
        assert(diff == 0L,
          s"f${r.f} $sk: close-out != batch ($diff differing rows)")
        r.info("phase" -> sk, "drain_sec" -> secs,
          "state_kb" -> (dirSize(ckpt) >> 10))
        got.count()
      }
    }
  }

  /** `BpeOps.fertilityReport` (X74) and `StreamingVocab` (X75) over
    * the amplified `documents` table.
    *
    *  1. `fertility`: exchange count factor-invariant (one
    *     low-cardinality groupBy + learnBpe's two bounded aggregates),
    *     shuffle volume group-key-sized, wall dominated by the fused
    *     tokenize+merge-apply scan.
    *  2. `streaming_vocab`: three drains, the on-disk state-store
    *     footprint (the claim under test: state is k·|strata|-bounded,
    *     CONSTANT in corpus size — compare state_kb across factors), and
    *     close-out parity: the streamed exact-recount heavy hitters equal
    *     the batch `VocabOps.heavyHitters` verbatim, and every final
    *     watermark equals its stratum's exact token total (asserted).
    */
  val vocabFertility: Smoke = new Smoke("vocabFertility", 100) {
    def run(r: Run): Unit = {
      val spark = r.spark
      val amplified = r.stage(r.documents(Seq("lang", "source")))
      r.count("fertility") {
        val model = graft.text.BpeOps.learnBpe(
          amplified.select(col("doc_id"), col("text")), "doc_id", "text",
          numMerges = 16, sampleRate = 0.05, maxWords = 500,
          salt = "fsmoke")
        graft.text.BpeOps.fertilityReport(amplified, "text",
          Seq("source", "lang"), model).count()
      }

      // UNMARKED amplification here: the fertility amplifier's per-token
      // copy markers split every token into `factor` variants, diluting
      // all of them below any heavy-hitter threshold — a trivially-empty
      // parity. Byte-identical copies preserve relative frequencies, so
      // the hitter set is the sf corpus's own (non-empty) and the
      // stream-vs-batch parity check actually compares content.
      val unmarked = r.documents(Seq("lang"), text = col("text"))
      r.count("streaming_vocab") {
        val (in, out, ckpt) = (r.dir("in"), r.dir("cand"), r.dir("ckpt"))
        val secs = drains(in, thirds(unmarked, "lang")) {
          StreamingVocab.summariesRun(spark, in, out, ckpt,
            spark.read.parquet(in).schema, "lang", "toks", k = 100)
        }
        // close-out + parity with the batch operator
        val snaps = spark.read.parquet(out)
        val finalSnap = snaps.join(broadcast(
            snaps.groupBy("stratum").agg(max("n_seen").as("n_seen"))),
          Seq("stratum", "n_seen"))
        val exact = unmarked
          .select(coalesce(col("lang"), lit("")).as("stratum"),
            explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("stratum", "token").agg(count(lit(1)).as("n_tok"))
        // .distinct: tied-watermark snapshot re-emissions are identical
        // row sets (the q145 ADVICE fix, swept to every max-watermark
        // join site in r19) — without it a zero-token drain would read
        // as a false parity_diff
        val streamed = broadcast(finalSnap
            .select("stratum", "token", "n_seen").distinct())
          .join(exact, Seq("stratum", "token"))
          .filter(col("n_tok") * 100 > col("n_seen"))
          .select("stratum", "token", "n_tok", "n_seen")
        // batch truth per stratum via the batch operator
        val langs = unmarked.select(coalesce(col("lang"), lit(""))
          .as("l")).distinct().collect().map(_.getString(0)).sorted
        val batch = langs.map { l =>
          VocabOps.heavyHitters(
            unmarked.filter(coalesce(col("lang"), lit("")) === l),
            "text", 1L, 100L)
            .select(lit(l).as("stratum"), col("token"), col("n_tok"),
              col("n_total").as("n_seen"))
        }.reduce(_ unionAll _)
        val diff = streamed.exceptAll(batch).count() +
          batch.exceptAll(streamed).count()
        val wmOk = finalSnap.select("stratum", "n_seen").distinct()
          .join(exact.groupBy("stratum").agg(sum("n_tok").as("n")),
            "stratum")
          .filter(col("n_seen") =!= col("n")).count() == 0
        r.info("phase" -> "streaming_vocab", "drain_sec" -> secs,
          "state_kb" -> (dirSize(s"$ckpt/state") >> 10))
        assert(diff == 0 && wmOk,
          s"streaming vocab: parity_diff $diff, watermark_ok $wmOk")
        streamed.count()
      }
    }
  }
}
