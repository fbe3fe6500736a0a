package graft.tools

import org.apache.spark.sql.functions._

/** Factor smoke for cross-batch streaming exact dedup
  * ([[graft.streaming.IncrementalDedup]]) under BOTH state-store
  * providers: amplify the sf0.1 `documents` table (the ScaleSmoke
  * fused-marker protocol, so cross-copy texts never collide), split
  * it into three drains (run 1 = 60% of ids, run 2 = the rest +
  * re-sent duplicates of run 1's texts, run 3 = byte-identical
  * re-send of run 2's files), and drain the sequence once per
  * provider with separate checkpoints. Reports per-run drain wall,
  * survivor counts, and the on-disk state-store footprint under the
  * checkpoint — the number that decides HDFS-on-heap vs RocksDB at
  * corpus scale (the scaladoc arithmetic: ~100 B/key ⇒ 2.5 TB of
  * state for 100 TB of docs; this smoke validates the per-key cost
  * constant at 6-digit key counts).
  *
  * Expectation: identical survivor sets under both providers (the
  * provider changes WHERE state lives, never the dataflow), drain
  * wall dominated by the per-micro-batch fingerprint shuffle, and
  * state footprint linear in distinct fingerprints.
  *
  * Usage: `runMain graft.tools.StreamScaleSmoke [sfDir] [factor]`
  * (defaults `/root/testdata/sf0.1`, 20).
  */
object StreamScaleSmoke {

  private def dirSize(p: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(p)) return 0L
    java.nio.file.Files.walk(p).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => java.nio.file.Files.size(f)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = graft.GraftSession()
    import graft.streaming.IncrementalDedup

    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_streamsmoke_$factor")
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))
      .select((col("doc_id") * factor + col("copy")).as("doc_id"),
        expr("regexp_replace(regexp_replace(lower(text), " +
          "'[^a-z0-9]+', ' '), '([a-z0-9]+)', '$1q' || copy)")
          .as("text"))
      .localCheckpoint(eager = true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val total = docs.count()
    val cut = total * 3 / 5

    // Optional phase filter (comma-separated prefixes), the
    // TextScaleSmoke convention — lets a deep factor target one
    // phase, e.g. SPARK_GRAFT_PHASES=interleave for f1000.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_PHASES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    def phaseOn(name: String): Boolean =
      only.isEmpty || only.exists(name.startsWith)

    if (phaseOn("exact")) Seq("hdfs" -> None,
        "rocksdb" -> Some(IncrementalDedup.RocksDbProvider))
      .foreach { case (label, provider) =>
      val in = s"$root/$label/in"; val out = s"$root/$label/out"
      val ckpt = s"$root/$label/ckpt"
      def drain(run: Int): Double = {
        val t0 = System.nanoTime()
        IncrementalDedup.dedupRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, provider)
        (System.nanoTime() - t0) / 1e9
      }
      docs.filter(col("doc_id") < cut).write.parquet(in)
      val t1 = drain(1)
      // run 2: the remaining ids PLUS re-sent duplicates of 10% of
      // run 1's texts under fresh ids — cross-run suppression work
      docs.filter(col("doc_id") >= cut).write.mode("append").parquet(in)
      docs.filter(col("doc_id") < cut / 10)
        .select((col("doc_id") + total * 10).as("doc_id"), col("text"))
        .write.mode("append").parquet(in)
      val t2 = drain(2)
      val t3 = drain(3) // nothing new: pure state-probe cost
      val survivors = spark.read.parquet(out).count()
      val stateMb = dirSize(java.nio.file.Paths.get(ckpt, "state")) >> 20
      println(f"""{"op":"exact","provider":"$label","factor":$factor,""" +
        f""""docs":$total,"survivors":$survivors,""" +
        f""""drain1_sec":$t1%.1f,"drain2_sec":$t2%.1f,""" +
        f""""drain3_sec":$t3%.1f,"state_mb":$stateMb}""")
    }

    // Same drive for cross-batch NEAR-dedup (LSH buckets in the
    // state store): two stateful stages, so state = 4 band buckets
    // per distinct-signature doc (stage 1) + one marker per survivor
    // (stage 2). The re-sent-duplicate slice of run 2 exercises the
    // cross-run bucket hit; run 3's byte re-send exercises the
    // emit-once marker.
    import graft.streaming.IncrementalNearDup
    if (phaseOn("neardup")) Seq("hdfs" -> None,
        "rocksdb" -> Some(IncrementalDedup.RocksDbProvider))
      .foreach { case (label, provider) =>
      val in = s"$root/nd_$label/in"; val out = s"$root/nd_$label/out"
      val ckpt = s"$root/nd_$label/ckpt"
      def drain(run: Int): Double = {
        val t0 = System.nanoTime()
        IncrementalNearDup.nearDedupRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, stateStoreProvider = provider)
        (System.nanoTime() - t0) / 1e9
      }
      docs.filter(col("doc_id") < cut).write.parquet(in)
      val t1 = drain(1)
      docs.filter(col("doc_id") >= cut).write.mode("append").parquet(in)
      docs.filter(col("doc_id") < cut / 10)
        .select((col("doc_id") + total * 10).as("doc_id"), col("text"))
        .write.mode("append").parquet(in)
      val t2 = drain(2)
      val t3 = drain(3)
      val survivors = spark.read.parquet(out).count()
      val stateMb = dirSize(java.nio.file.Paths.get(ckpt, "state")) >> 20
      println(f"""{"op":"neardup","provider":"$label","factor":$factor,""" +
        f""""docs":$total,"survivors":$survivors,""" +
        f""""drain1_sec":$t1%.1f,"drain2_sec":$t2%.1f,""" +
        f""""drain3_sec":$t3%.1f,"state_mb":$stateMb}""")
    }

    // Audit form (one verdict per doc, dropped docs visible): state
    // adds one marker per SEEN doc on top of the bucket store —
    // measure the footprint delta vs the survivor-only form above.
    if (phaseOn("audit")) locally {
      val in = s"$root/nda/in"; val out = s"$root/nda/out"
      val ckpt = s"$root/nda/ckpt"
      def drain(): Double = {
        val t0 = System.nanoTime()
        IncrementalNearDup.nearDedupRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, audit = true)
        (System.nanoTime() - t0) / 1e9
      }
      docs.filter(col("doc_id") < cut).write.parquet(in)
      val t1 = drain()
      docs.filter(col("doc_id") >= cut).write.mode("append").parquet(in)
      docs.filter(col("doc_id") < cut / 10)
        .select((col("doc_id") + total * 10).as("doc_id"), col("text"))
        .write.mode("append").parquet(in)
      val t2 = drain()
      val t3 = drain()
      val verdicts = spark.read.parquet(out).count()
      val kept = spark.read.parquet(out)
        .filter(col("kept")).count()
      val stateMb = dirSize(java.nio.file.Paths.get(ckpt, "state")) >> 20
      println(f"""{"op":"neardup_audit","provider":"hdfs",""" +
        f""""factor":$factor,"docs":$total,"verdicts":$verdicts,""" +
        f""""kept":$kept,"drain1_sec":$t1%.1f,"drain2_sec":$t2%.1f,""" +
        f""""drain3_sec":$t3%.1f,"state_mb":$stateMb}""")
    }

    // Cross-batch IMAGE near-dedup (VERDICT r19 ask #4): the q162
    // dataflow at scale — synthetic BMP piles (seed = id % piles, so
    // distinct dHash signatures ~ piles regardless of corpus size),
    // a third of the rows PNG-re-encoded and a fifth brightness-
    // remastered (both dHash-invariant, so they land in their pile's
    // buckets), run 2 re-sends 10% of run 1's pixels under fresh ids
    // (cross-run bucket suppression), run 3 is a byte re-send. The
    // claim under test: state = 4 band buckets per DISTINCT
    // signature + one marker per survivor — ~piles keys, NOT ~docs
    // keys — so state_mb must hold roughly constant across factors
    // while docs grows. Decode cost stays in the scan (only the
    // 8-byte hash reaches the shuffle).
    if (phaseOn("image")) Seq("hdfs" -> None,
        "rocksdb" -> Some(IncrementalDedup.RocksDbProvider))
      .foreach { case (label, provider) =>
      import graft.multimodal.{MediaDedup, Multimodal}
      import graft.streaming.IncrementalNearDup
      import spark.implicits._
      val in = s"$root/img_$label/in"; val out = s"$root/img_$label/out"
      val ckpt = s"$root/img_$label/ckpt"
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
        val bmp = Multimodal.SyntheticMedia.bmp24(18, 16) { (x, y) =>
          def c(salt: Long): Int = {
            val v = ((mixPx((sd.toLong << 40) | (x.toLong << 20) |
              (y.toLong << 2) | salt) >>> 8) % 248).toInt
            if (bright) v + 7 else v
          }
          (c(1), c(2), c(3))
        }
        (id, if (id % 3 == 1) MediaDedup.pngReencode(bmp) else bmp)
      }.toDF("doc_id", "payload")
      def drain(): Double = {
        val t0 = System.nanoTime()
        IncrementalNearDup.imageNearDedupRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, stateStoreProvider = provider)
        (System.nanoTime() - t0) / 1e9
      }
      imgs.filter(col("doc_id") < cut).write.parquet(in)
      val t1 = drain()
      imgs.filter(col("doc_id") >= cut).write.mode("append").parquet(in)
      imgs.filter(col("doc_id") < cut / 10)
        .select((col("doc_id") + total * 10).as("doc_id"),
          col("payload"))
        .write.mode("append").parquet(in)
      val t2 = drain()
      val t3 = drain() // byte re-send territory: pure state-probe
      val survivors = spark.read.parquet(out).count()
      val stateKb = dirSize(java.nio.file.Paths.get(ckpt, "state")) >> 10
      println(f"""{"op":"image_neardup","provider":"$label",""" +
        f""""factor":$factor,"docs":$total,"piles":$piles,""" +
        f""""survivors":$survivors,""" +
        f""""drain1_sec":$t1%.1f,"drain2_sec":$t2%.1f,""" +
        f""""drain3_sec":$t3%.1f,"state_kb":$stateKb}""")
    }

    // Bounded-state Bloom dedup: the claim under test is that state
    // is a PARAMETER (shards x bits/8 bytes), independent of corpus
    // size — compare state_kb across factors. 256 shards x 2^20
    // bits = 32 MB of filter absorbs the amplified corpora at
    // comfortably low fill; survivors differ from exact dedup only
    // by deterministic false positives (counted here).
    if (phaseOn("bloom")) locally {
      import graft.streaming.BloomDedup
      val in = s"$root/bloom/in"; val out = s"$root/bloom/out"
      val ckpt = s"$root/bloom/ckpt"
      val (shards, bits, k) = (256, 1 << 20, 4)
      def drain(): Double = {
        val t0 = System.nanoTime()
        BloomDedup.bloomDedupRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, shards, bits, k)
        (System.nanoTime() - t0) / 1e9
      }
      docs.filter(col("doc_id") < cut).write.parquet(in)
      val t1 = drain()
      docs.filter(col("doc_id") >= cut).write.mode("append").parquet(in)
      docs.filter(col("doc_id") < cut / 10)
        .select((col("doc_id") + total * 10).as("doc_id"), col("text"))
        .write.mode("append").parquet(in)
      val t2 = drain()
      val t3 = drain()
      val survivors = spark.read.parquet(out).count()
      // exact-dedup survivors of the same feed = distinct fps
      val exactSurvivors = docs
        .union(docs.filter(col("doc_id") < cut / 10)
          .select((col("doc_id") + total * 10).as("doc_id"), col("text")))
        .select(graft.text.TextOps.fingerprint(col("text")))
        .distinct().count()
      val stateKb = dirSize(java.nio.file.Paths.get(ckpt, "state")) >> 10
      println(f"""{"op":"bloom","provider":"hdfs","factor":$factor,""" +
        f""""docs":$total,"survivors":$survivors,""" +
        f""""false_positives":${exactSurvivors - survivors},""" +
        f""""drain1_sec":$t1%.1f,"drain2_sec":$t2%.1f,""" +
        f""""drain3_sec":$t3%.1f,"state_kb":$stateKb}""")
    }

    // Streaming mixture interleave: the claim under test is that
    // state is ONE Long per stratum (16 here) — CONSTANT in corpus
    // size — and that an id-ordered drain sequence is bit-identical
    // to the batch stride schedule at any factor. Drains are three
    // ascending id slices; parity is a two-sided except against
    // proportionalInterleave's (doc_id, mix_k, mix_key).
    if (phaseOn("interleave")) locally {
      import graft.streaming.StreamingInterleave
      val in = s"$root/il/in"; val out = s"$root/il/out"
      val ckpt = s"$root/il/ckpt"
      val strat = docs.select(col("doc_id"),
        concat(lit("src"), (col("doc_id") % 16).cast("string"))
          .as("src"))
      val w = (0 until 16).map(i => s"src$i" -> (i + 1L)).toMap
      def drain(): Double = {
        val t0 = System.nanoTime()
        StreamingInterleave.interleaveRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, "src", w)
        (System.nanoTime() - t0) / 1e9
      }
      strat.filter(col("doc_id") < cut).write.parquet(in)
      val t1 = drain()
      strat.filter(col("doc_id") >= cut && col("doc_id") < cut + cut / 2)
        .write.mode("append").parquet(in)
      val t2 = drain()
      strat.filter(col("doc_id") >= cut + cut / 2)
        .write.mode("append").parquet(in)
      val t3 = drain()
      val streamed = spark.read.parquet(out)
        .select(col("doc_id"), col("mix_k"), col("mix_key"))
        .localCheckpoint(eager = true)
      val n = streamed.count()
      val batch = graft.text.InterleaveOps.proportionalInterleave(
          strat, "src", "doc_id", w)
        .select(col("doc_id"), col("mix_k"), col("mix_key"))
      val diff = streamed.except(batch).count() +
        batch.except(streamed).count()
      val stateKb = dirSize(java.nio.file.Paths.get(ckpt, "state")) >> 10
      println(f"""{"op":"interleave","provider":"hdfs",""" +
        f""""factor":$factor,"docs":$total,"stamped":$n,""" +
        f""""batch_parity_diff":$diff,""" +
        f""""drain1_sec":$t1%.1f,"drain2_sec":$t2%.1f,""" +
        f""""drain3_sec":$t3%.1f,"state_kb":$stateKb}""")
    }
    // Streaming token-budget fill: the claim under test is that
    // state is ONE Long per stratum (16 here) — CONSTANT in corpus
    // size — and that an id-ordered drain sequence is bit-identical
    // to the batch per-stratum budget fill at constant priority.
    // Budgets are sized so roughly half the strata exhaust mid-run
    // (both admission edges live at scale, not just in the spec).
    if (phaseOn("budget")) locally {
      import graft.streaming.StreamingBudget
      val in = s"$root/bu/in"; val out = s"$root/bu/out"
      val ckpt = s"$root/bu/ckpt"
      val sized = docs.select(col("doc_id"),
        concat(lit("src"), (col("doc_id") % 16).cast("string"))
          .as("src"),
        graft.text.TextOps.tokenCount(col("text")).cast("long")
          .as("n_tok"))
        .localCheckpoint(true)
      val perStratumTokens = sized.groupBy("src")
        .agg(sum("n_tok").as("t")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // even strata: budget = 40% of their total (exhaust mid-run);
      // odd strata: 200% (never exhaust)
      val budgets = perStratumTokens.map { case (s, t) =>
        s -> (if (s.stripPrefix("src").toInt % 2 == 0) t * 2 / 5
              else t * 2)
      }
      def drain(): Double = {
        val t0 = System.nanoTime()
        StreamingBudget.fillRun(spark, in, out, ckpt,
          spark.read.parquet(in).schema, "src", "n_tok", budgets)
        (System.nanoTime() - t0) / 1e9
      }
      sized.filter(col("doc_id") < cut).write.parquet(in)
      val t1 = drain()
      sized.filter(col("doc_id") >= cut && col("doc_id") < cut + cut / 2)
        .write.mode("append").parquet(in)
      val t2 = drain()
      sized.filter(col("doc_id") >= cut + cut / 2)
        .write.mode("append").parquet(in)
      val t3 = drain()
      val streamed = spark.read.parquet(out)
        .select(col("doc_id"), col("cum_tokens"), col("budget"),
          col("selected"))
        .localCheckpoint(eager = true)
      val n = streamed.count()
      val batch = graft.text.BudgetOps.budgetSelectPerStratum(
          sized.withColumn("__p", lit(0.0)), "doc_id", "n_tok",
          "__p", "src", budgets, defaultBudget = 0L)
        .select(col("doc_id"), col("cum_tokens"), col("budget"),
          col("selected"))
      val diff = streamed.except(batch).count() +
        batch.except(streamed).count()
      val nSel = streamed.filter(col("selected")).count()
      val stateKb = dirSize(java.nio.file.Paths.get(ckpt, "state")) >> 10
      println(f"""{"op":"budget","provider":"hdfs",""" +
        f""""factor":$factor,"docs":$total,"stamped":$n,""" +
        f""""selected":$nSel,"batch_parity_diff":$diff,""" +
        f""""drain1_sec":$t1%.1f,"drain2_sec":$t2%.1f,""" +
        f""""drain3_sec":$t3%.1f,"state_kb":$stateKb}""")
    }
    spark.stop()
  }
}
