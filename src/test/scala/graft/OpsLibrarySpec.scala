package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{JoinOps, SkewOps, TimeSeriesOps}
import graft.sim.ClusterOps

/** Direct specs for library operators whose query-level coverage is
  * indirect (inline equivalents in SparkEntry). */
class OpsLibrarySpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("A9 variableStatus: last valid value, staleness, trailing window") {
    val now = Timestamp.valueOf("2024-01-03 00:00:00")
    val df = Seq(
      ("s1", ts("2024-01-01 00:00:00"), Some(5.0)),
      ("s1", ts("2024-01-02 12:00:00"), Some(7.0)),
      ("s1", ts("2024-01-02 18:00:00"), None),      // trailing, invalid
      ("s2", ts("2024-01-01 06:00:00"), Some(1.0))
    ).toDF("site", "ts", "v")
    val out = TimeSeriesOps.variableStatus(df, "ts", "v", now, Seq("site"))
      .orderBy("site").collect()
    val s1 = out(0)
    assert(s1.getAs[Double]("last_valid_value") == 7.0)
    assert(s1.getTimestamp(s1.fieldIndex("last_ts"))
      == ts("2024-01-02 18:00:00"))
    assert(s1.getAs[Long]("n_24h") == 2 && s1.getAs[Long]("n_valid_24h") == 1)
    assert(math.abs(s1.getAs[Double]("days_since_last") - 0.25) < 1e-9)
    val s2 = out(1)
    assert(s2.getAs[Long]("n_24h") == 0)
    assert(math.abs(s2.getAs[Double]("days_since_last") - 1.75) < 1e-9)
  }

  test("A3/A4 downsampleMean and dielMean bin correctly") {
    val df = Seq(
      (ts("2024-01-01 00:10:00"), 1.0), (ts("2024-01-01 00:20:00"), 3.0),
      (ts("2024-01-01 01:10:00"), 5.0), (ts("2024-01-02 00:15:00"), 7.0)
    ).toDF("ts", "v")
    val down = TimeSeriesOps.downsampleMean(df, "ts", Seq("v"), 3600)
      .orderBy("bucket_ts").collect()
    assert(down.map(_.getAs[Double]("v")).toSeq == Seq(2.0, 5.0, 7.0))
    val diel = TimeSeriesOps.dielMean(df, "ts", Seq("v"))
      .orderBy("hh", "mm").collect()
    // hour 0 bins: (0,10)->1, (0,15)->7, (0,20)->3; hour 1: (1,10)->5
    assert(diel.length == 4)
    assert(diel.head.getAs[Double]("v") == 1.0)
  }

  test("A5 missingStats expected/missing counts") {
    val df = Seq(ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"),
      ts("2024-01-01 03:00:00")).map((_, 1)).toDF("ts", "v")
    val r = TimeSeriesOps.missingStats(df, "ts", 3600).head()
    assert(r.getAs[Long]("n_expected") == 4)
    assert(r.getAs[Long]("n_missing") == 1)
  }

  test("J1 concatWithPrecedence keeps master rows on key conflicts") {
    val master = Seq((ts("2024-01-01 00:30:00"), 1.0))
      .toDF("ts", "v")
    val backup = Seq((ts("2024-01-01 00:30:00"), 99.0),
      (ts("2024-01-01 01:00:00"), 2.0)).toDF("ts", "v")
    val out = JoinOps.concatWithPrecedence(Seq(master, backup), Seq("ts"))
      .orderBy("ts").collect()
    assert(out.length == 2)
    assert(out(0).getDouble(1) == 1.0)  // master wins the conflict
    assert(out(1).getDouble(1) == 2.0)  // backup contributes new ts
  }

  test("D7 Toa5.read rejects a file set with mismatched headers") {
    import java.nio.file.Files
    import java.nio.charset.StandardCharsets.UTF_8
    val dir = Files.createTempDirectory("hdr")
    val h1 = "\"TOA5\",\"S\",\"L\",\"1\",\"o\",\"p\",\"1\",\"t\"\r\n" +
      "\"TIMESTAMP\",\"A\"\r\n\"TS\",\"u\"\r\n\"\",\"Avg\"\r\n"
    val h2 = h1.replace("\"A\"", "\"B\"")
    Files.write(dir.resolve("a.dat"), (h1 + "\"2024-01-01 00:30:00\",1\r\n").getBytes(UTF_8))
    Files.write(dir.resolve("b.dat"), (h2 + "\"2024-01-01 01:00:00\",2\r\n").getBytes(UTF_8))
    val e = intercept[Exception] {
      graft.sources.Toa5.read(spark, dir.toString).data.collect()
    }
    // the check runs in b.dat's scan task: find it under the job failure
    val ex = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: IllegalArgumentException => x }
    assert(ex.exists(_.getMessage.contains("b.dat")), e)
  }

  test("bucketed tables join without a shuffle") {
    import graft.pipeline.Bucketing
    val a = (1 to 1000).map(i => (i.toLong % 50, i.toDouble))
      .toDF("site_id", "v")
    val b = (1 to 200).map(i => (i.toLong % 50, s"site_$i"))
      .toDF("site_id", "name")
    Bucketing.writeBucketed(a, "bkt_a", Seq("site_id"), 8)
    Bucketing.writeBucketed(b, "bkt_b", Seq("site_id"), 8)
    // disable broadcast so the co-location (not broadcast) kills the
    // shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.colocatedJoin(spark, "bkt_a", "bkt_b",
        Seq("site_id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() ==
        a.join(b, Seq("site_id")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("salted aggregation equals plain aggregation") {
    val df = (1 to 1000).map(i => (i % 3, i.toLong, i.toDouble))
      .toDF("k", "id", "v")
    val salted = SkewOps.saltedAggregate(df, Seq("k"),
        Seq(("v", "sum"), ("v", "count"), ("v", "min"), ("v", "max")),
        Seq("id"), salts = 8)
      .orderBy("k").collect()
    val plain = df.groupBy("k").agg(sum("v"), count("v"), min("v"), max("v"))
      .orderBy("k").collect()
    salted.zip(plain).foreach { case (s, p) =>
      assert(s.getDouble(1) == p.getDouble(1))  // sums exact: ints
      assert(s.getLong(2) == p.getLong(2))
      assert(s.getDouble(3) == p.getDouble(3))
      assert(s.getDouble(4) == p.getDouble(4))
    }
  }

  test("GraftExtensions registers native functions for plain SQL") {
    // session built with spark.sql.extensions=graft.GraftExtensions —
    // no per-session register() calls
    val r = spark.sql(
      "SELECT fp2_decode(12288) AS f, array_dot(array(1.0, 2.0), array(3.0, 4.0)) AS d")
      .head()
    assert(r.getDouble(0) == 409.6 && r.getDouble(1) == 11.0)
    // winnow_select over SQL matches the scalar reference kernel
    val fps = spark.sql(
      "SELECT winnow_select('abcdefgh', 5, 4, 11) AS fp").head()
      .getSeq[org.apache.spark.sql.Row](0)
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(fps == graft.functions.Winnow.selectScalar("abcdefgh", 5, 4, 11))
    // the fused tokenizer resolves in SQL and matches the column API
    val tk = spark.sql(
      "SELECT graft_tokens('Hello, World! 42') AS t, " +
      "graft_token_count('Hello, World! 42') AS n").head()
    assert(tk.getSeq[String](0) == Seq("hello", "world", "42") &&
      tk.getInt(1) == 3)
    // declared input contract: non-string input is a clean ANALYSIS
    // error (not a runtime codegen failure), and wrong arity is a
    // readable registration error
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_tokens(array(1, 2))").head()
    }
    intercept[Exception] {
      spark.sql("SELECT graft_token_count()").head()
    }
    // the rest of the text-kernel family resolves and evaluates in SQL
    val k = spark.sql(
      "SELECT size(minhash_sig(array('a','b','c'), 2, 8)) AS m, " +
      "simhash_words(array('a','b'))[0] AS s0, " +
      "size(bigram_counts(array('a','b','a','b'))) AS bg, " +
      "size(hashed_ngram_counts(array('a','b'), 64, 7)) AS hn, " +
      "size(distinct_shingles(array('a','b','c'), 2)) AS ds, " +
      "size(positioned_windows(array('a','b','c'), 2)) AS pw, " +
      "repetition_stats(array('a','b','a','b'), 2, 2).n_lines AS rl")
      .head()
    assert(k.getInt(0) == 8 &&
      k.getLong(1) == graft.functions.SimhashKernel.wordsScalar(Seq("a", "b"))(0) &&
      k.getInt(2) == 3 && k.getInt(3) == 3 &&
      k.getInt(4) == 2 && k.getInt(5) == 2 && k.getLong(6) == 2L)
  }

  test("ArrayDot matches the composed zip_with form bit-for-bit") {
    import graft.functions.ArrayDot
    val rng = new scala.util.Random(11)
    val rows = (1 to 50).map { i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() - 0.5f),
        Array.fill(64)(rng.nextFloat() - 0.5f))
    }
    val df = rows.toDF("id", "a", "b")
    val composed = aggregate(zip_with(col("a"), col("b"),
      (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val out = df.select(col("id"), ArrayDot.dot(col("a"), col("b")).as("fast"),
      composed.as("ref")).collect()
    out.foreach(r => assert(r.getDouble(1) == r.getDouble(2)))
    // null array, length mismatch, null element -> null (zip_with parity)
    val edge = Seq(
      (1L, Array(1.0f, 2.0f), null.asInstanceOf[Array[Float]]),
      (2L, Array(1.0f, 2.0f), Array(1.0f)),
      (3L, Array(1.0f), Array(1.0f))
    ).toDF("id", "a", "b")
    val e = edge.select(col("id"), ArrayDot.dot(col("a"), col("b")).as("d"))
      .orderBy("id").collect()
    assert(e(0).isNullAt(1) && e(1).isNullAt(1) && e(2).getDouble(1) == 1.0)
  }

  test("cosineNearDupPairs finds identical vectors, skips orthogonal") {
    import graft.sim.Similarity
    val dim = 64
    def vec(f: Int => Float) = (0 until dim).map(f).toArray
    val a = vec(i => (i % 7 + 1).toFloat)          // dup of b
    val c = vec(i => if (i == 0) 1f else 0f)       // orthogonal to d
    val d = vec(i => if (i == 1) 1f else 0f)
    val df = Seq((1L, a), (2L, a), (3L, c), (4L, d))
      .toDF("vec_id", "embedding")
    val out = Similarity.cosineNearDupPairs(df, 0.9, dim = dim).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    assert(out.head.getDouble(2) == 1.0)
  }

  test("cosineNearDupPairs is a subset of brute-force threshold pairs") {
    import graft.sim.Similarity
    val dim = 64
    val rng = new scala.util.Random(7)
    val base = Array.fill(dim)(rng.nextFloat() - 0.5f)
    // near-dups of base plus random noise vectors
    val rows = (1L to 20L).map { i =>
      val v =
        if (i <= 5) base.map(_ + (rng.nextFloat() - 0.5f) * 0.05f)
        else Array.fill(dim)(rng.nextFloat() - 0.5f)
      (i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val lsh = Similarity.cosineNearDupPairs(df, 0.8, dim = dim)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = df.as("x").join(df.as("y"),
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id"), col("y.vec_id"),
        Similarity.cosine(col("x.embedding"), col("y.embedding")).as("c"))
      .filter(col("c") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty && lsh.toSet.subsetOf(brute))
    // the 5 near-dup clones of base should largely collide in ≥1 band
    assert(lsh.count { case (x, y) => x <= 5 && y <= 5 } >= 5)
  }

  test("similarity plans: equi-joins on keys, broadcast centroids, no cartesian") {
    import graft.sim.Similarity
    val dim = 64
    val rng = new scala.util.Random(17)
    val emb = (0L until 200L)
      .map(i => (i, Array.fill(dim)(rng.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    // near-dup candidates meet in a (band, key) equi-join — a plan
    // with a cartesian/nested-loop join would be the O(n^2) shape the
    // banding exists to avoid
    val nd = Similarity.cosineNearDupPairs(emb, 0.9, dim = dim)
    val ndPlan = nd.queryExecution.executedPlan.toString
    assert(!ndPlan.contains("CartesianProduct")
      && !ndPlan.contains("BroadcastNestedLoop"), ndPlan)
    // IVF: coarse quantization is a fused per-row expression over the
    // plan-embedded centroid matrix (NearestCentroids) — NO join of
    // any kind for the assignment; the only join left is the
    // list-keyed probe equi-join. A nested-loop/cartesian here would
    // mean the N×C materialization crept back in.
    val ivf = Similarity.ivfTopK(emb.filter(col("vec_id") < 3), emb, 3,
      numCentroids = 10)
    val ivfPlan = ivf.queryExecution.executedPlan.toString
    assert(ivfPlan.contains("nearest_centroids"), ivfPlan)
    assert(!ivfPlan.contains("BroadcastNestedLoopJoin"), ivfPlan)
    assert(!ivfPlan.contains("CartesianProduct"), ivfPlan)
    // LSH ANN: same-bucket pairs via equi-join, never cartesian
    val ann = Similarity.lshTopK(emb, 3)
    val annPlan = ann.queryExecution.executedPlan.toString
    assert(!annPlan.contains("CartesianProduct")
      && !annPlan.contains("BroadcastNestedLoop"), annPlan)
  }

  test("HyperplaneBits matches the composed per-plane band keys") {
    import graft.sim.Similarity
    import graft.functions.HyperplaneBits
    val dim = 16; val bands = 4; val rows = 8
    val hp = Similarity.hyperplanes(bands * rows, dim, seed = 7L)
    val hpSeq = hp.map(_.toIndexedSeq).toIndexedSeq
    val rng = new scala.util.Random(21)
    val vecs = (1L to 30L).map(i =>
      (i, Array.fill(dim)(rng.nextFloat() - 0.5f))) ++ Seq(
      (31L, Array.fill(3)(1.0f)),                  // wrong length
      (32L, null.asInstanceOf[Array[Float]]))      // null vector
    val df = vecs.toDF("id", "vec")
    val fused = df.select(col("id"),
      HyperplaneBits.bandKeys(col("vec"), hpSeq, bands, rows).as("keys"))
    val composed = df.select(col("id"),
      Similarity.bandKeys(col("vec"), hp, bands, rows).as("bk"))
      .select(col("id"), expr("transform(bk, x -> x.key)").as("keys"))
    val joined = fused.as("f").join(composed.as("c"), "id")
      .select(col("id"), col("f.keys").as("fk"), col("c.keys").as("ck"))
      .collect()
    joined.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id=${r.getLong(0)}")
    }
    // degenerate vectors key to all-zero buckets, never null
    val edge = fused.filter(col("id") >= 31L).collect()
    edge.foreach(r => assert(r.getSeq[Long](1) == Seq.fill(bands)(0L)))
    // single-band variant equals lshBucket
    val oneBand = df.filter(col("id") <= 30L).select(col("id"),
      element_at(HyperplaneBits.bandKeys(col("vec"), hpSeq.take(8), 1, 8), 1)
        .as("b1"),
      Similarity.lshBucket(col("vec"), hp.take(8)).as("b2"))
      .collect()
    oneBand.foreach(r => assert(r.getLong(1) == r.getLong(2)))
  }

  test("NearestCentroids: codegen = interpreted = SQL rank, edge rows") {
    import graft.functions.{NearestCentroids, NearestCentroidsExpr}
    import org.apache.spark.sql.catalyst.util.ArrayData
    val ids = Seq(30L, 10L, 20L)                    // unsorted on purpose
    val cents = Seq(
      Seq(1.0, 0.0, 0.0, 0.0),
      Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 0.0, 0.0))                      // zero-norm centroid
    val vecs: Seq[(Long, Array[Float])] = Seq(
      1L -> Array(2f, 0f, 0f, 0f),                  // nearest = 30
      2L -> Array(0f, 3f, 0f, 0f),                  // nearest = 10
      3L -> Array(1f, 1f, 0f, 0f),                  // tie 30/10 -> min id 10
      4L -> Array(0f, 0f, 0f, 0f),                  // zero norm -> all null
      5L -> Array(1f, 1f),                          // wrong length
      6L -> null,                                   // null vector
      7L -> Array(-1f, -1f, 0f, 0f))                // all cos <= 0 still ranks
    val df = vecs.toDF("id", "vec")
    val got = df.select(col("id"),
        NearestCentroids.topIds(col("vec"), ids, cents, 2, 6).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(30L, 10L))
    assert(got(2L) == Seq(10L, 30L))
    assert(got(3L) == Seq(10L, 30L))                // rounded-cos tie
    // null-score rows fall back to smallest ids — where the dataflow
    // form's (cos DESC NULLS LAST, id ASC) rank put them
    assert(got(4L) == Seq(10L, 20L))
    assert(got(5L) == Seq(10L, 20L))
    assert(got(6L) == Seq(10L, 20L))
    assert(got(7L) == Seq(10L, 30L))                // -0.707... tie by value
    // interpreted path (eval) agrees with codegen bit-for-bit
    val expr = NearestCentroidsExpr(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType), nullable = true),
      ids.toIndexedSeq, cents.map(_.toIndexedSeq).toIndexedSeq, 2, 6,
      cosineMetric = true)
    vecs.foreach { case (id, v) =>
      val row = org.apache.spark.sql.catalyst.InternalRow(
        if (v == null) null else ArrayData.toArrayData(v))
      val interp = expr.eval(row).asInstanceOf[ArrayData].toLongArray().toSeq
      assert(interp == got(id), s"id=$id interp=$interp codegen=${got(id)}")
    }
    // squared-distance metric (k-means assignment): |c|² = 1, 1, 0 for
    // ids 30, 10, 20; score = 2·dot − |c|², rank DESC, id ASC on ties.
    // The zero vector is VALID here (nearest = smallest |c|²); only
    // structurally bad vectors fall back to smallest ids.
    val sq = df.select(col("id"),
        NearestCentroids.topIdsSqDist(col("vec"), ids, cents, 2).as("top"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sq(1L) == Seq(30L, 20L))   // 3, -1, 0 -> 30 then 20
    assert(sq(2L) == Seq(10L, 20L))   // -1, 5, 0 -> 10 then 20
    assert(sq(4L) == Seq(20L, 10L))   // zero vec: 0 beats -1; -1 tie -> 10
    assert(sq(5L) == Seq(10L, 20L))   // wrong length -> all null -> min ids
    assert(sq(6L) == Seq(10L, 20L))   // null vector
    val sqExpr = expr.copy(n = 2, roundScale = 0, cosineMetric = false)
    vecs.foreach { case (id, v) =>
      val row = org.apache.spark.sql.catalyst.InternalRow(
        if (v == null) null else ArrayData.toArrayData(v))
      val interp = sqExpr.eval(row).asInstanceOf[ArrayData].toLongArray().toSeq
      assert(interp == sq(id), s"id=$id interp=$interp codegen=${sq(id)}")
    }
    // n > C returns all C ids in rank order
    val all = df.filter(col("id") === 1L).select(
      NearestCentroids.topIds(col("vec"), ids, cents, 9, 6).as("t"))
      .collect().head.getSeq[Long](0)
    assert(all == Seq(30L, 10L, 20L))
    // the generated Java must COMPILE, not silently fall back to
    // interpreted eval: janino failures (e.g. an undeclared ev.value)
    // keep every result above correct while quietly discarding the
    // fused-loop performance — CODEGEN_ONLY turns that into a failure
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val forced = df.select(
        NearestCentroids.topIds(col("vec"), ids, cents, 2, 6).as("c"),
        NearestCentroids.topIdsSqDist(col("vec"), ids, cents, 2).as("s"))
        .collect()
      assert(forced.length == vecs.length)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("every custom expression compiles under CODEGEN_ONLY") {
    // Same lesson as the NearestCentroids pin: a doGenCode bug (an
    // undeclared variable, a bad cast) does NOT fail any normal test —
    // Spark's default FALLBACK factory quietly switches to interpreted
    // eval and only the performance disappears. Force-compile every
    // custom expression so the bug class is a test failure.
    import graft.functions.{ArrayDot, Fp2, HyperplaneBits}
    val hp = graft.sim.Similarity.hyperplanes(8, 4, seed = 3L)
    val hpSeq = hp.map(_.toIndexedSeq).toIndexedSeq
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = Seq((1L, Array(1f, 2f, 3f, 4f), Array(2f, 0f, 1f, 1f), 0x200d))
        .toDF("id", "a", "b", "raw")
        .select(ArrayDot.dot(col("a"), col("b")).as("d"),
          HyperplaneBits.bandKeys(col("a"), hpSeq, 2, 4).as("k"),
          Fp2.fp2(col("raw")).as("f"))
        .head()
      assert(r.getDouble(0) == 9.0)
      assert(r.getSeq[Long](1).length == 2)
      assert(r.getDouble(2) == 1.3)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("text normalization: NFC fold, accent strip, codegen-only") {
    import graft.functions.TextNorm
    val df = Seq(
      // decomposed input composes, lowers, and strips like the
      // precomposed form would
      ("Cafe\u0301", "caf\u00e9", "cafe"),
      ("M\u00dcNCHEN", "m\u00fcnchen", "munchen"),
      // O-slash carries no combining mark: strip leaves it; the
      // tab/space run collapses to one space
      ("\u00d8re  sund\t x", "\u00f8re sund x", "\u00f8re sund x"),
      ("plain  ascii", "plain ascii", "plain ascii"))
      .toDF("raw", "exp_norm", "exp_folded")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val out = df.select(col("exp_norm"), col("exp_folded"),
        TextNorm.normalizeText(col("raw")).as("norm"),
        TextNorm.normalizeText(col("raw"), accentStrip = true).as("folded"),
        TextNorm.normalizedFingerprint(col("raw"), accentStrip = true)
          .as("fp"))
        .collect()
      out.foreach { r =>
        assert(r.getString(2) == r.getString(0),
          s"norm mismatch: '${r.getString(2)}' != '${r.getString(0)}'")
        assert(r.getString(3) == r.getString(1),
          s"folded mismatch: '${r.getString(3)}' != '${r.getString(1)}'")
      }
      // the fingerprint is md5 of the folded text, byte-for-byte
      val md = java.security.MessageDigest.getInstance("MD5")
      val expFp = md.digest("cafe".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      assert(out(0).getString(4) == expFp)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("text-kernel family: codegen == interpreted over SQL; literal params") {
    // The KernelCodegen doGenCode paths (round 12) reintroduce the
    // silent-fallback bug class the CODEGEN_ONLY pin exists for: a
    // generated-code bug quietly downgrades to interpreted eval under
    // the default FALLBACK factory. Run the SAME SQL over every
    // kernel twice — fully codegen'd (CODEGEN_ONLY + WSCG) and fully
    // interpreted (NO_CODEGEN + WSCG off) — and require identical
    // results. Inputs exercise the interesting edges: non-ASCII
    // winnow input (UTF-16 fallback path), repeated tokens, a
    // tokenless doc (minhash_sig's null contract).
    val sql = """SELECT
        winnow_select('abcdefghij', 5, 4, 11) AS w_ascii,
        winnow_select('café résumé 99x', 3, 2, 11) AS w_utf,
        minhash_sig(array('a','b','c','a','b'), 2, 8) AS mh,
        minhash_sig(array(), 2, 8) AS mh_null,
        simhash_words(array('x','y','z','x')) AS sh,
        bigram_counts(array('a','b','a','b')) AS bg,
        hashed_ngram_counts(array('a','b','a'), 64, 7) AS hn,
        distinct_shingles(array('a','b','c','a','b'), 2) AS ds,
        positioned_windows(array('a','b','c'), 2) AS pw,
        repetition_stats(array('a','b','a','b','c','d'), 2, 2, 3) AS rs,
        chunk_windows(array('a','b','c','d','e','f','g'), 3, 2) AS cw,
        chunk_windows(array(), 3, 2) AS cw_empty"""
    def run(): org.apache.spark.sql.Row = spark.sql(sql).head()
    val wscg = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    val gen = try run()
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val interp = try run() finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", wscg)
    }
    assert(gen == interp, s"codegen/interpreted divergence:\n$gen\n$interp")
    assert(gen.isNullAt(3)) // tokenless doc -> null signature
    // And spot-pin SQL against the scalar references (not just
    // self-consistency): winnow ASCII + non-ASCII, simhash word 0.
    def fps(i: Int) = gen.getSeq[org.apache.spark.sql.Row](i)
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(fps(0) == graft.functions.Winnow.selectScalar("abcdefghij", 5, 4, 11))
    assert(fps(1) ==
      graft.functions.Winnow.selectScalar("café résumé 99x", 3, 2, 11))
    assert(gen.getSeq[Long](4) ==
      graft.functions.SimhashKernel.wordsScalar(Seq("x", "y", "z", "x")))
    // chunk_windows: 7 tokens, chunk 3, stride 2 -> ceil(4/2)+1 = 3
    // windows at 0,2,4; the third reaches the end, no suffix tail
    assert(gen.getSeq[org.apache.spark.sql.Row](10)
      .map(x => (x.getInt(0), x.getString(1))) ==
      Seq((3, "a b c"), (3, "c d e"), (3, "e f g")))
    assert(gen.getSeq[org.apache.spark.sql.Row](11).isEmpty)
    // Literal-parameter contract: a column where a kernel parameter
    // belongs must be rejected at planning, not computed per row.
    val err = intercept[Exception] {
      spark.sql("SELECT winnow_select('abc', id, 4, 11) " +
        "FROM range(3)").collect()
    }
    assert(err.getMessage.contains("must be a literal"),
      s"unexpected error: ${err.getMessage}")
  }

  test("cosineNearDupPairs candidate volume stays linear at defaults") {
    import graft.sim.Similarity
    val dim = 64
    val rng = new scala.util.Random(13)
    val n = 200
    val df = (1L to n.toLong)
      .map(i => (i, Array.fill(dim)(rng.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    // threshold -1 keeps every scored candidate pair, so the count IS
    // the candidate volume. With 16-bit band keys random vectors
    // almost never collide — the volume must be O(n), not O(n²).
    val cand = Similarity.cosineNearDupPairs(df, -1.0, dim = dim).count()
    assert(cand <= 2L * n, s"candidate volume $cand not linear in n=$n")
  }

  test("oversize buckets are dropped by maxBucketSize") {
    import graft.sim.Similarity
    val dim = 64
    val v = Array.fill(dim)(1.0f)
    // 20 identical vectors: one bucket per band holds all 20 rows
    val df = (1L to 20L).map(i => (i, v)).toDF("vec_id", "embedding")
    val capped = Similarity.cosineNearDupPairs(df, 0.9, dim = dim,
      maxBucketSize = 5L).count()
    assert(capped == 0L)
    val uncapped = Similarity.cosineNearDupPairs(df, 0.9, dim = dim).count()
    assert(uncapped == 20L * 19L / 2L)
    // same cap contract on the single-table ANN path
    val ann = Similarity.lshTopK(df, 3, maxBucketSize = 5L).count()
    assert(ann == 0L)
  }

  test("autoPlanes grows with corpus size, floored at 8") {
    import graft.sim.Similarity
    assert(Similarity.autoPlanes(500) == 8)
    assert(Similarity.autoPlanes(256000) == 8)
    assert(Similarity.autoPlanes(1000L * (1L << 20)) == 20)
    assert(Similarity.autoPlanes(1000L * (1L << 30)) == 30)
  }

  test("kmeansCentroids converges to the planted cluster means") {
    import graft.sim.Similarity
    val dim = 4
    // two tight planted clusters around distinct centers
    def around(c: Array[Double], eps: Double, k: Int) =
      (0 until k).map(i => c.zipWithIndex.map { case (v, j) =>
        v + (((i + j) % 3) - 1) * eps })
    val a = Array(10.0, 0.0, 0.0, 0.0)
    val b = Array(0.0, 10.0, 0.0, 0.0)
    val vecs = (around(a, 0.1, 10) ++ around(b, 0.1, 10))
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    val df = vecs.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(df, 2, iters = 3)
      .orderBy("centroid_id").collect()
      .map(_.getSeq[Double](1).toArray)
    assert(cents.length == 2)
    // each planted center is within eps of some refined centroid
    def near(c: Array[Double]) = cents.exists(x =>
      math.sqrt(x.zip(c).map { case (p, q) => (p - q) * (p - q) }.sum) < 0.2)
    assert(near(a) && near(b))
    // determinism: same inputs, same centroids
    val again = Similarity.kmeansCentroids(df, 2, iters = 3)
      .orderBy("centroid_id").collect().map(_.getSeq[Double](1))
    assert(again.toSeq == cents.map(_.toSeq).toSeq)
    // the refined quantizer drops into the same IVF dataflow and
    // finds each query's own cluster-mates
    val centDf = Similarity.kmeansCentroids(df, 2, iters = 3)
    val topk = Similarity.ivfTopKWithCentroids(
      df.filter(col("vec_id") === 0L), df, 3, centDf, nProbe = 1)
      .collect()
    assert(topk.length == 3)
    assert(topk.forall(_.getLong(2) < 10L)) // neighbors from cluster a
  }

  test("ivfTopK derives the stride from the target centroid count") {
    import graft.sim.Similarity
    val dim = 8
    val rng = new scala.util.Random(3)
    val corpus = (0L until 50L)
      .map(i => (i, Array.fill(dim)(rng.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 3)
    // numCentroids=10 over n=50 must behave exactly like stride=5
    val derived = Similarity.ivfTopK(q, corpus, 3,
      numCentroids = 10).collect().toSeq
    val pinned = Similarity.ivfTopK(q, corpus, 3,
      centroidStride = 5L).collect().toSeq
    assert(derived == pinned)
  }

  // --- SemDeDup (sim/SemDedup) ---

  /** Deterministic parity corpus: four direction groups plus small
    * per-id noise, one zero vector. Group cosines sit ~0.99 within,
    * ~0.1 across, so threshold 0.9 separates them cleanly. */
  private def semCorpus(n: Int): Map[Long, Array[Double]] =
    (0L until n).map { i =>
      val v =
        if (i == n - 1) Array(0.0, 0.0, 0.0, 0.0) // zero vector edge
        else {
          val g = (i % 4).toInt
          Array.tabulate(4)(d =>
            (if (d == g) 10.0 else 0.0) +
              (((i * 31 + d * 17) % 13).toDouble - 6.0) / 12.0)
        }
      i -> v
    }.toMap

  /** Literal single-threaded SemDeDup: same rounding, same orderings.
    * Returns id -> (cluster, cos_c, component, rep_id, keep). */
  private def semBrute(vecs: Map[Long, Array[Double]], stride: Long,
      tau: Double): Map[Long, (Long, Option[Double], Long, Long, Boolean)] = {
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def cos(a: Array[Double], b: Array[Double]): Option[Double] = {
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      if (na > 0.0 && nb > 0.0)
        Some(r6(a.zip(b).map { case (x, y) => x * y }.sum / (na * nb)))
      else None
    }
    val cents = vecs.keys.filter(_ % stride == 0).toSeq.sorted
    val cluster = vecs.map { case (i, v) =>
      i -> cents.minBy { c =>
        cos(v, vecs(c)) match {
          case Some(x) => (0, -x, c)
          case None    => (1, 0.0, c)
        }
      }
    }
    val cosC = vecs.map { case (i, v) => i -> cos(v, vecs(cluster(i))) }
    val parent = scala.collection.mutable.Map(vecs.keys.map(i => i -> i).toSeq: _*)
    def find(i: Long): Long =
      if (parent(i) == i) i else { val r = find(parent(i)); parent(i) = r; r }
    for {
      i <- vecs.keys; j <- vecs.keys
      if i < j && cluster(i) == cluster(j) &&
        cos(vecs(i), vecs(j)).exists(_ >= tau)
    } { val (ri, rj) = (find(i), find(j)); if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj) }
    val comp = vecs.keys.map(i => i -> find(i)).toMap
    val byComp = vecs.keys.groupBy(comp)
    val rep = byComp.map { case (c, ms) =>
      c -> ms.minBy(m => (if (cosC(m).isEmpty) 0 else 1,
        cosC(m).getOrElse(0.0), m))
    }
    vecs.keys.map { i =>
      i -> (cluster(i), cosC(i), comp(i), rep(comp(i)),
        i == rep(comp(i)))
    }.toMap
  }

  test("semDedup matches a literal single-threaded re-derivation") {
    import graft.sim.SemDedup
    val vecs = semCorpus(40)
    val df = vecs.toSeq.sortBy(_._1)
      .map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val out = SemDedup.semDedup(df, 0.9, centroidStride = 7L)
      .collect().map { r =>
        r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getLong(3), r.getLong(4), r.getBoolean(5))
      }.toMap
    val exp = semBrute(vecs, 7L, 0.9)
    assert(out.keySet == exp.keySet)
    for (i <- exp.keys.toSeq.sorted)
      assert(out(i) == exp(i), s"id $i: got ${out(i)}, want ${exp(i)}")
    // structure sanity: real merging happened, and every non-kept doc
    // points at a kept exemplar in its own component
    assert(out.values.count(!_._5) > 0)
    val keptByComp = out.values.filter(_._5).map(v => v._3 -> true).toMap
    assert(out.values.forall(v => keptByComp.contains(v._3)))
  }

  test("semDedup keeps the member least similar to its centroid") {
    import graft.sim.SemDedup
    // centroid id 0; id 1 is nearly parallel to it (cos_c ~1), id 2 is
    // further off-axis (lower cos_c) but still a near-dup of both ->
    // one eps-cluster {0,1,2}; the paper keeps the LEAST typical: id 2.
    val df = Seq(
      (0L, Seq(10.0, 0.0, 0.0, 0.0)),
      (1L, Seq(10.0, 0.3, 0.0, 0.0)),
      (2L, Seq(10.0, 1.5, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 5.0, 0.0))   // unrelated singleton
    ).toDF("vec_id", "embedding")
    val out = SemDedup.semDedup(df, 0.98, centroidStride = 4L)
      .orderBy("id").collect()
    assert(out.map(_.getLong(3)).toSeq == Seq(0L, 0L, 0L, 3L)) // components
    assert(out.map(_.getLong(4)).toSeq == Seq(2L, 2L, 2L, 3L)) // rep = least cos_c
    assert(out.map(_.getBoolean(5)).toSeq == Seq(false, false, true, true))
  }

  test("semDedup keeps zero vectors as their own singleton components") {
    import graft.sim.SemDedup
    val df = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.001)), (2L, Seq(0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val out = SemDedup.semDedup(df, 0.99, centroidStride = 3L)
      .orderBy("id").collect()
    val zero = out.find(_.getLong(0) == 2L).get
    assert(zero.isNullAt(2))           // cos_c null
    assert(zero.getLong(3) == 2L && zero.getBoolean(5)) // singleton, kept
    assert(out.count(_.getBoolean(5)) == 2) // {0,1} collapsed to one
  }

  test("semDedup is partition-layout invariant") {
    import graft.sim.SemDedup
    val vecs = semCorpus(24)
    val df = vecs.toSeq.sortBy(_._1)
      .map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      SemDedup.semDedup(d, 0.9, centroidStride = 7L)
        .orderBy("id").collect().toSeq
    assert(run(df.repartition(7)) == run(df.coalesce(1)))
  }

  test("semDedupPq output is bit-identical to semDedup") {
    import graft.sim.SemDedup
    // the random-ish corpus plus the adversarial shapes: zero vector
    // (null cos, must survive), exact duplicates (quantization error
    // zero — margin still admits them), near-threshold pairs (where
    // a non-conservative bound would lose recall)
    val vecs = semCorpus(40) ++ Map(
      100L -> Array(0.0, 0.0, 0.0, 0.0),
      101L -> Array(0.5, 0.5, 0.5, 0.5),
      102L -> Array(0.5, 0.5, 0.5, 0.5))
    val df = vecs.toSeq.sortBy(_._1)
      .map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)),
      r.getLong(3), r.getLong(4), r.getBoolean(5))
    for (thr <- Seq(0.35, 0.9, 0.99)) {
      val exact = SemDedup.semDedup(df, thr, centroidStride = 7L)
        .collect().map(key).toSet
      val pq = SemDedup.semDedupPq(df, thr, centroidStride = 7L,
        pqSubspaces = 2, pqCodes = 4, pqIters = 1)
        .collect().map(key).toSet
      assert(pq == exact, s"threshold $thr")
    }
  }

  test("salted join equals plain join") {
    val left = (1 to 500).map(i => (i % 5, i)).toDF("k", "lid")
    val right = Seq((0, "a"), (1, "b"), (2, "c"), (3, "d"), (4, "e"))
      .toDF("k", "tag")
    val salted = SkewOps.saltedJoin(left, right, Seq("k"), Seq("lid"), 4)
    val plain = left.join(right, Seq("k"))
    assert(salted.count() == plain.count())
    assert(salted.select("k", "lid", "tag").except(
      plain.select("k", "lid", "tag")).count() == 0)
  }

  // ------------------------------------------------ k-means clustering

  /** Literal single-threaded re-derivation of the exact-integer
    * k-means contract: same quantization, L1 metric, smallest-index
    * tiebreak, (2s+n) div (2n) centroid rounding, empty-cluster
    * retention. */
  private def kmeansBrute(vecs: Seq[(Long, Seq[Double])], k: Int,
      iters: Int, scaleBits: Int): Map[Long, (Int, Long)] = {
    val scale  = (1L << scaleBits).toDouble
    val offset = 1L << (scaleBits + 1)
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x * scale + 0.5).toLong + offset) }
    def assign(m: IndexedSeq[Seq[Long]]): Map[Long, (Int, Long)] =
      q.map { case (id, qv) =>
        val dists = m.map(c => qv.zip(c).map { case (a, b) =>
          math.abs(a - b) }.sum)
        val dm = dists.min
        id -> (dists.indexOf(dm), dm)
      }.toMap
    var m: IndexedSeq[Seq[Long]] =
      q.sortBy(_._1).take(k).map(_._2).toIndexedSeq
    for (_ <- 1 to iters) {
      val byC = assign(m).groupBy(_._2._1)
      m = m.zipWithIndex.map { case (old, c) =>
        byC.get(c) match {
          case None => old
          case Some(members) =>
            val qs = members.keys.toSeq.map(q.toMap)
            old.indices.map { i =>
              val s = qs.map(_(i)).sum
              val n = qs.size.toLong
              (2 * s + n) / (2 * n)
            }
        }
      }
    }
    assign(m)
  }

  test("kmeansAssign matches literal re-derivation; partition-invariant") {
    // Three obvious blobs + a boundary point; k=4 with only three
    // blobs forces at least one centroid to go empty and be retained.
    val vecs: Seq[(Long, Seq[Double])] = Seq(
      0L -> Seq(0.9, 0.0, 0.1), 1L -> Seq(0.8, 0.1, 0.0),
      2L -> Seq(-0.9, 0.0, 0.0), 3L -> Seq(-0.8, -0.1, 0.1),
      4L -> Seq(0.0, 0.9, -0.1), 5L -> Seq(0.1, 0.8, 0.0),
      6L -> Seq(0.0, 0.85, 0.05), 7L -> Seq(0.45, 0.45, 0.0))
    val df = vecs.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val want = kmeansBrute(vecs, 4, 3, 20)
    val got = ClusterOps.kmeansAssign(df, "vec_id", "embedding", 4, 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2)))
      .toMap
    assert(got == want)
    val got5 = ClusterOps
      .kmeansAssign(df.repartition(5), "vec_id", "embedding", 4, 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2)))
      .toMap
    assert(got5 == want)
    // iters=0: pure nearest-seed assignment, seeds distance 0 to
    // themselves
    val g0 = ClusterOps.kmeansAssign(df, "vec_id", "embedding", 4, 0)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2)))
      .toMap
    assert(g0 == kmeansBrute(vecs, 4, 0, 20))
    (0 to 3).foreach(id => assert(g0(id.toLong) == ((id, 0L))))
  }

  test("kmeansAssign: exact tie breaks to the smallest cluster index") {
    // Two seeds symmetric about the probe: L1 distances are exactly
    // equal in micro-units, so the probe must land on cluster 0.
    val df = Seq(
      (0L, Seq(0.25f, 0f)), (1L, Seq(0.75f, 0f)), (2L, Seq(0.5f, 0f)))
      .toDF("vec_id", "embedding")
    val out = ClusterOps.kmeansAssign(df, "vec_id", "embedding", 2, 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(2L) == 0)
  }
}
