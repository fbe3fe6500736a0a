package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sim.SemDedup
import graft.text.{C4Ops, DedupOps, MixOps, PackOps, QualityOps, SampleOps, TextOps}

/** The LLM-data chain over a generated corpus: C4 clean, Gopher
  * quality, exact dedup, MinHash near dedup, semantic dedup, UniMax
  * mix with stratified sampling, and token packing. Each stage reads
  * the previous stage's parquet and writes its own, so every stage's
  * work sits in its own span. Shuffle-, join- and iteration-heavy:
  * the planted near-duplicate and embedding clusters give the
  * connected-components loops several rounds. */
object CorpusDedup extends Workload {
  val Docs = 4000
  private val Sources = 20
  private val Dim = 32
  private val SemThreshold = 0.92
  private val SemCentroids = 64
  private val BlockTokens = 256
  /** Seed of the planted near-duplicate and embedding clusters. */
  private val PlantSeed = 20240917L

  /** Planted structure: exact-duplicate groups, near-duplicate edit
    * chains and embedding ε-chains (doc id lists), and the ids built
    * to fail C4 or Gopher. */
  final case class Truth(exactGroups: Seq[Seq[Long]],
      nearClusters: Seq[Seq[Long]], embClusters: Seq[Seq[Long]],
      c4Rejects: Seq[Long], gopherRejects: Seq[Long])
  @volatile private var truth: Truth = _

  private val Stopwords = TextOps.EnglishStopwords.toIndexedSeq

  private final class Gen(seed: Long) {
    val rng = new scala.util.Random(seed)
    private val onsets = "b c d f g h k l m n p r s t v z br dr gr pl st tr".split(" ")
    private val vowels = "a e i o u ai ea ou".split(" ")
    val vocab: IndexedSeq[String] = {
      val banned = Set("javascript", "lorem", "ipsum") ++ C4Ops.DefaultBadWords ++ Stopwords
      val words = mutable.LinkedHashSet.empty[String]
      while (words.size < 4000) {
        val w = (0 until 2 + rng.nextInt(2)).map(_ =>
          onsets(rng.nextInt(onsets.length)) + vowels(rng.nextInt(vowels.length))).mkString
        if (!banned(w)) words += w
      }
      words.toIndexedSeq
    }
    def word(): String =
      if (rng.nextDouble() < 0.25) Stopwords(rng.nextInt(Stopwords.size))
      else vocab((vocab.size * math.pow(rng.nextDouble(), 1.5)).toInt)
    def line(words: Int): Vector[String] = Vector.fill(words)(word())
    def doc(lines: Int, minW: Int, maxW: Int): Vector[Vector[String]] =
      Vector.fill(lines)(line(minW + rng.nextInt(maxW - minW + 1)))
    def normal(): Vector[Vector[String]] = doc(8 + rng.nextInt(5), 7, 14)
    /** Replaces `n` random words: one edit apart, two docs share ~80%
      * of their 3-shingles; three edits apart, under half. */
    def edit(d: Vector[Vector[String]], n: Int): Vector[Vector[String]] =
      (0 until n).foldLeft(d) { (acc, _) =>
        val l = rng.nextInt(acc.size)
        acc.updated(l, acc(l).updated(rng.nextInt(acc(l).size), word()))
      }
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def randomVec(): Array[Double] = Array.fill(Dim)(rng.nextGaussian())
    /** The j-th cluster size in [2, max], heavy-tailed (Pareto 1.2).
      * Sizes come from a fixed low-discrepancy sequence, not the seed,
      * so every seed plants the same cluster-size profile. */
    def clusterSize(j: Int, max: Int): Int = {
      val u = (j * 0.6180339887498949) % 1.0
      math.min(max, 2 + (1.0 / math.pow(1 - u, 1 / 1.2) - 1).toInt)
    }
  }

  private def text(d: Vector[Vector[String]]): String =
    d.map(_.mkString(" ") + ".").mkString("\n")

  def generate(spark: SparkSession, seed: Long, in: Path): Unit = {
    val g = new Gen(seed)
    val rng = g.rng
    // The planted clusters' edit trees and embedding chains set how
    // many label-propagation rounds the CC loops take, so they come
    // from a fixed seed: every seed plants the same clusters, at
    // seeded ids among seeded other documents.
    val p = new Gen(PlantSeed)
    // (text, embedding) per doc slot; ids are assigned by a shuffle
    val docs = mutable.ArrayBuffer.empty[(String, Array[Float])]
    def add(t: String, v: Array[Float]): Int = { docs += ((t, v)); docs.size - 1 }
    val c4Bad = mutable.ArrayBuffer.empty[Int]
    val gopherBad = mutable.ArrayBuffer.empty[Int]
    val exact = mutable.ArrayBuffer.empty[Seq[Int]]
    val near = mutable.ArrayBuffer.empty[Seq[Int]]
    val emb = mutable.ArrayBuffer.empty[Seq[Int]]

    // ~10% of docs in near-duplicate clusters: each member is a
    // 6-word edit of a random earlier member, so a cluster is a random
    // tree of edits whose far members are no longer near-duplicates
    // of each other: the components take several label rounds
    while (docs.size < Docs / 10) {
      val members = mutable.ArrayBuffer(p.normal())
      for (_ <- 1 until p.clusterSize(near.size, 50))
        members += p.edit(members(p.rng.nextInt(members.size)), 6)
      near += members.map(d => add(text(d), p.unit(p.randomVec()))).toSeq
    }
    // ~10% in embedding ε-clusters built the same way: each member is
    // a ~0.97-cosine step from a random earlier one, and the ε-graph
    // (cos >= 0.92) links members two or three steps apart
    while (docs.size < Docs / 5) {
      val vecs = mutable.ArrayBuffer(p.unit(p.randomVec()))
      for (_ <- 1 until p.clusterSize(emb.size, 30)) {
        val from = vecs(p.rng.nextInt(vecs.size))
        vecs += p.unit(from.indices.map(i => from(i) + 0.045 * p.rng.nextGaussian()).toArray)
      }
      emb += vecs.map(v => add(text(p.normal()), v)).toSeq
    }
    // planted rejects: C4 (lorem ipsum, code brace, < 5 sentences) and
    // Gopher (too few tokens, repeated lines)
    for (_ <- 0 until Docs / 50) c4Bad += add(text(g.normal()) +
      "\nlorem ipsum dolor sit amet.", g.unit(g.randomVec()))
    for (_ <- 0 until Docs / 100) c4Bad += add(text(g.normal()) +
      "\nif (x) { return y; }", g.unit(g.randomVec()))
    for (_ <- 0 until Docs / 100) c4Bad += add(text(g.doc(3, 7, 14)),
      g.unit(g.randomVec()))
    for (_ <- 0 until Docs / 50) gopherBad += add(text(g.doc(5, 4, 5)),
      g.unit(g.randomVec()))
    for (_ <- 0 until Docs / 100) gopherBad += add({
      val rep = g.line(10)
      text(Vector.fill(6)(rep) ++ g.doc(4, 7, 14)) }, g.unit(g.randomVec()))
    // singletons, then ~10% exact copies of them (groups of 2-4)
    val singles = (docs.size until Docs * 9 / 10).map(_ =>
      add(text(g.normal()), g.unit(g.randomVec())))
    var s = 0
    while (docs.size < Docs) {
      val orig = singles(s); s += 1
      val copies = math.min(1 + rng.nextInt(3), Docs - docs.size)
      exact += orig +: (0 until copies).map(_ => add(docs(orig)._1, docs(orig)._2))
    }

    val shuffled = rng.shuffle((0 until Docs).map(i => 1000L + i * 7L)).toArray
    // within a planted cluster ids rise in creation order, so the
    // cluster's root holds its smallest id whatever the seed
    for (c <- near ++ emb) {
      c.zip(c.map(shuffled(_)).sorted).foreach { case (slot, id) => shuffled(slot) = id }
    }
    val ids = shuffled.toIndexedSeq
    val weights = (1 to Sources).map(i => 1.0 / i)
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val rows = docs.indices.map { i =>
      val u = rng.nextDouble()
      val src = f"src${cum.indexWhere(u <= _).max(0)}%02d"
      Row(ids(i), src, docs(i)._1, docs(i)._2.toSeq)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType), StructField("text", StringType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(rows.asJava, schema)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .write.parquet(in.resolve("corpus").toString)

    def idsOf(xs: Seq[Int]) = xs.map(ids(_))
    truth = Truth(exact.map(idsOf).toSeq, near.map(idsOf).toSeq,
      emb.map(idsOf).toSeq, idsOf(c4Bad.toSeq), idsOf(gopherBad.toSeq))
    Json.write(in.resolve("truth.json"), Map(
      "docs" -> Docs, "exact_duplicate_groups" -> truth.exactGroups,
      "near_duplicate_clusters" -> truth.nearClusters,
      "embedding_clusters" -> truth.embClusters,
      "c4_rejects" -> truth.c4Rejects, "gopher_rejects" -> truth.gopherRejects))
  }

  def rep(spark: SparkSession, t: Tracer, in: Path, out: Path,
      ops: Ops): String = {
    val tr = truth
    def read(name: String): DataFrame = spark.read.parquet(out.resolve(name).toString)
    def write(df: DataFrame, name: String): Long = {
      df.write.parquet(out.resolve(name).toString)
      read(name).count()
    }
    var digest = ""

    ops.op("c4_clean") {
      t.span("text.c4_clean") {
        val docs = spark.read.parquet(in.resolve("corpus").toString)
        val c4 = C4Ops.c4Filter(docs, "doc_id", "text")
        val kept = docs.drop("text").join(c4.filter(col("keep"))
          .select(col("doc_id"), col("text_out").as("text")), Seq("doc_id"))
        Check.equal("c4 kept", write(kept, "c4"), (Docs - tr.c4Rejects.size).toLong)
      }
    }
    ops.op("gopher_quality") {
      t.span("text.gopher_quality") {
        val docs = read("c4")
        val kept = QualityOps.gopherFilter(docs, "doc_id", "text")
          .filter(col("keep")).select(docs.columns.map(col).toIndexedSeq: _*)
        Check.equal("gopher kept", write(kept, "gopher"),
          (Docs - tr.c4Rejects.size - tr.gopherRejects.size).toLong)
      }
    }
    ops.op("exact_dedup") {
      t.span("text.exact_dedup") {
        val docs = read("gopher")
        val groups = DedupOps.exactDupGroups(docs, "doc_id", "text")
        val kept = docs.withColumn("__fp", TextOps.fingerprint(col("text")))
          .join(groups.select(col("fp").as("__fp"), col("canonical_id")),
            Seq("__fp"), "left")
          .filter(col("canonical_id").isNull || col("doc_id") === col("canonical_id"))
          .select(docs.columns.map(col).toIndexedSeq: _*)
        val n = write(kept, "exact")
        val survivors = read("exact").select("doc_id").collect()
          .map(_.getLong(0)).toSet
        tr.exactGroups.foreach { grp =>
          Check.equal(s"survivors of exact group ${grp.head}",
            grp.count(survivors), 1)
        }
        Check.equal("exact kept", n, (Docs - tr.c4Rejects.size -
          tr.gopherRejects.size - tr.exactGroups.map(_.size - 1).sum).toLong)
      }
    }
    ops.op("near_dedup") {
      t.span("text.near_dedup") {
        val docs = read("exact")
        val n0 = docs.count()
        write(DedupOps.fuzzyDedupDocs(docs, "doc_id", "text"), "near_components")
        val comps = read("near_components")
        val n = write(docs.join(comps.filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi"), "near")
        Check.equal("near survivors per component", n,
          comps.select("component").distinct().count())
        Check(n < n0, s"near dedup dropped nothing ($n of $n0)")
      }
    }
    ops.op("semdedup") {
      t.span("sim.semdedup") {
        val docs = read("near")
        val n0 = docs.count()
        write(SemDedup.semDedup(docs.select(col("doc_id").as("vec_id"),
          col("embedding")), SemThreshold, numCentroids = SemCentroids),
          "sem_components")
        val comps = read("sem_components")
        val n = write(docs.join(comps.filter(col("keep"))
          .select(col("id").as("doc_id")), Seq("doc_id"), "left_semi"), "sem")
        Check.equal("semantic survivors per component", n,
          comps.select("component").distinct().count())
        Check(n < n0, s"semantic dedup dropped nothing ($n of $n0)")
        Check.equal("survivors with identical text",
          read("sem").select(TextOps.fingerprint(col("text"))).distinct().count(), n)
      }
    }
    ops.op("mix") {
      t.span("text.mix") {
        val docs = read("sem").withColumn("n_tokens", TextOps.tokenCount(col("text")))
        val n0 = docs.count()
        // half the corpus tokens, no source past one epoch
        val alloc = MixOps.unimaxAllocationFraction(docs, "source", "n_tokens",
          1, 2, 1, 1).collect()
        val budget = alloc.head.getAs[Long]("budget")
        val caps = alloc.map(_.getAs[Long]("cap_tokens")).sum
        Check.equal("allocated tokens", alloc.map(_.getAs[Long]("alloc_tokens")).sum,
          math.min(budget, caps))
        val rates = alloc.map(r => r.getString(0) ->
          r.getAs[Long]("alloc_tokens").toDouble / r.getAs[Long]("n_tokens")).toMap
        val n = write(SampleOps.stratifiedSample(docs, "doc_id", "source", rates,
          0.0, "mix").drop("n_tokens"), "mix")
        Check(n > 0 && n <= n0, s"mixed docs: $n of $n0")
      }
    }
    ops.op("pack") {
      t.span("text.pack") {
        val docs = read("mix")
        PackOps.packedBlocks(docs, "doc_id", "text", BlockTokens, "pack")
          .write.parquet(out.resolve("blocks").toString)
        val want = docs.agg(sum(size(TextOps.tokens(col("text"))))).head().getLong(0)
        val blocks = read("blocks").orderBy("block_id")
          .select("block_tokens", "content_md5").collect()
        Check.equal("packed tokens", blocks.map(_.getLong(0)).sum, want)
        Check.equal("blocks", blocks.length.toLong, (want + BlockTokens - 1) / BlockTokens)
        val md5 = java.security.MessageDigest.getInstance("MD5")
        blocks.foreach(b => md5.update(b.getString(1).getBytes))
        digest = md5.digest().map(b => f"$b%02x").mkString
      }
    }
    digest
  }
}
