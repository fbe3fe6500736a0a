package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.Conversions
import graft.operators.TimeSeriesOps

/** Property-based invariants (SURVEY §5.2) via raw ScalaCheck. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def holds(p: Prop, n: Int = 30): Boolean =
    SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n), p).passed

  test("A1: regularize emits exactly the grid row count") {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val gen = Gen.nonEmptyListOf(Gen.choose(0, 200)).map(_.distinct)
    val p = Prop.forAll(gen) { ticks =>
      val df = ticks.map(t =>
        (new Timestamp(base + t * 1800000L), t.toDouble)).toDF("ts", "v")
      val out = TimeSeriesOps.regularize(df, "ts", 1800)
      val expected = ticks.max - ticks.min + 1
      out.count() == expected
    }
    assert(holds(p, 10))  // each trial runs a Spark job; keep few
  }

  /** The two paths of `connectedComponents`, by the task-memory budget
    * that selects them: every graph fits an unbounded budget, and none
    * (not even an empty one) fits a negative one. */
  private val ccPaths = Seq("union-find" -> Long.MaxValue, "rounds" -> -1L)

  /** `body` at `n` shuffle partitions, with AQE's coalescing off so
    * that a tiny input is not folded back into one partition. */
  private def atParts[T](n: Int)(body: => T): T = {
    val confs = Map("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val old = confs.keys.map(k => k -> spark.conf.get(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Edges over nodes 0..19: random graphs, chains, stars and the
    * empty graph; nodes outside every edge stay isolated. */
  private val genGraph: Gen[List[(Long, Long)]] = {
    val node = Gen.choose(0L, 19L)
    val random = Gen.listOf(for {
      a <- node; b <- node if a != b
    } yield (math.min(a, b), math.max(a, b)))
    val chain = Gen.someOf(0L to 19L).map(_.toList.sorted)
      .map(ns => ns.zip(ns.drop(1)))
    val star = for { c <- node; ls <- Gen.someOf(0L to 19L) }
      yield ls.toList.filter(_ != c).map(l => (math.min(c, l), math.max(c, l)))
    Gen.frequency(3 -> random, 1 -> chain, 1 -> star,
      1 -> Gen.const(Nil))
  }

  private def pairsOf(edges: List[(Long, Long)]) =
    if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    else edges.toDF("id_a", "id_b")

  /** Driver union-find with min-label roots over nodes 0..19. */
  private def reference(edges: List[(Long, Long)]): Int => Long = {
    val parent = Array.tabulate(20)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        parent(hi) = lo }
    }
    i => find(i).toLong
  }

  test("connected components matches driver union-find on random graphs") {
    import graft.text.DedupOps
    for ((path, budget) <- ccPaths; n <- Seq(1, 3, 7)) atParts(n) {
      val p = Prop.forAll(genGraph) { edges =>
        val nodes = (0L until 20L).toDF("id")
        // maxIters >= max possible diameter (19) so chains converge
        val (df, rounds) = DedupOps.components(nodes, pairsOf(edges),
          maxIters = 25, markLabeled = false, budget = budget)
        val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val ref = reference(edges)
        (rounds == 0) == (path == "union-find") &&
          (0 until 20).forall(i => got(i.toLong) == ref(i))
      }
      assert(holds(p, 10), s"$path at $n shuffle partitions")
    }
  }

  test("connected components keeps int-typed ids on both paths") {
    import graft.text.DedupOps
    import org.apache.spark.sql.types.IntegerType
    val nodes = (0 until 8).toDF("id")
    val pairs = Seq((1, 2), (2, 5), (3, 4)).toDF("id_a", "id_b")
    for ((path, budget) <- ccPaths) {
      val (df, _) = DedupOps.components(nodes, pairs, 10, false, budget)
      assert(df.schema("component").dataType == IntegerType, path)
      val got = df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(got == Map(0 -> 0, 1 -> 1, 2 -> 1, 3 -> 3, 4 -> 3, 5 -> 1,
        6 -> 6, 7 -> 7), path)
    }
  }

  test("connected components labels the other end of a null-ended pair " +
      "alone on both paths") {
    import graft.text.DedupOps
    val nodes = (0L until 4L).toDF("id")
    val pairs = Seq((Some(1L), Some(2L)), (Some(3L), None), (None, None))
      .toDF("id_a", "id_b")
    for ((path, budget) <- ccPaths) {
      val got = DedupOps.components(nodes, pairs, 10, true, budget)._1
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
        .toMap
      assert(got == Map(0L -> ((0L, false)), 1L -> ((1L, true)),
        2L -> ((1L, true)), 3L -> ((3L, true))), path)
    }
  }

  test("connected components converges on a diameter-25 chain within " +
      "the default round budget (pointer-jump acceleration)") {
    import graft.text.DedupOps
    // A single chain 0-1-2-...-25: worst-case diameter for its size.
    // One-hop-per-round propagation would need 25 rounds; the
    // hop+jump scheme must close it within the default maxIters=10.
    val nodes = (0L to 25L).toDF("id")
    val pairs = (0L until 25L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (df, rounds) = DedupOps.components(nodes, pairs, maxIters = 10,
      markLabeled = false, budget = -1L)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 25L).forall(got(_) == 0L))
    assert(rounds > 2 && rounds <= 10, s"rounds: $rounds")
  }

  test("connected components markLabeled marks exactly the edge " +
      "endpoints == the multi-member components (r22 survivor-split " +
      "invariant)") {
    import graft.text.DedupOps
    for ((path, budget) <- ccPaths) {
      val p = Prop.forAll(genGraph) { edges =>
        val nodes = (0L until 20L).toDF("id")
        val got = DedupOps.components(nodes, pairsOf(edges),
            maxIters = 25, markLabeled = true, budget = budget)._1
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
          .toMap
        val endpoints = edges.flatMap(e => Seq(e._1, e._2)).toSet
        val sizes = got.values.groupBy(_._1).map { case (c, ms) =>
          c -> ms.size }
        (0L until 20L).forall { i =>
          val (comp, labeled) = got(i)
          // __labeled ⇔ the id touches an edge ⇔ |component| ≥ 2 —
          // the invariant the survivor split's singleton branch needs
          labeled == endpoints.contains(i) &&
            labeled == (sizes(comp) >= 2)
        }
      }
      assert(holds(p, 10), path)
    }
  }

  test("P5: masking never changes row count") {
    val gen = Gen.listOf(Gen.choose(-100.0, 100.0))
    val p = Prop.forAll(gen) { vs =>
      vs.isEmpty || {
        val df = vs.toDF("v")
          .withColumn("m", TimeSeriesOps.maskRange(col("v"), -10.0, 10.0))
        df.count() == vs.length
      }
    }
    assert(holds(p, 10))
  }

  test("F9: sqrt of square is identity on nonnegatives") {
    val p = Prop.forAll(Gen.choose(0.0, 1e6)) { v =>
      val out = Seq(v).toDF("v")
        .select(Conversions.varianceToStdev(
          Conversions.stdevToVariance(col("v")))).head().getDouble(0)
      math.abs(out - v) <= 1e-9 * math.max(1.0, v)
    }
    assert(holds(p, 20))
  }

  test("F16/F17: AH<->RH round-trip within tolerance") {
    val gen = for {
      ta <- Gen.choose(-20.0, 45.0)
      rh <- Gen.choose(1.0, 100.0)
      ps <- Gen.choose(80.0, 105.0)
    } yield (ta, rh, ps)
    val p = Prop.forAll(gen) { case (ta, rh, ps) =>
      val out = Seq((ta, rh, ps)).toDF("ta", "rh", "ps")
        .select(Conversions.rhFromAh(col("ta"),
          Conversions.ahFromRh(col("ta"), col("rh"), col("ps")),
          col("ps"))).head().getDouble(0)
      math.abs(out - rh) < 1e-6
    }
    assert(holds(p, 20))
  }

  test("D1: dedup is idempotent and never increases rows") {
    val gen = Gen.listOf(Gen.choose(0, 5).map(i => (i, i * 2.0)))
    val p = Prop.forAll(gen) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("k", "v")
        val once = TimeSeriesOps.dropExactDuplicates(df)
        val twice = TimeSeriesOps.dropExactDuplicates(once)
        val (n0, n1, n2) = (df.count(), once.count(), twice.count())
        n1 <= n0 && n1 == n2 && n1 == rows.distinct.length
      }
    }
    assert(holds(p, 10))
  }

  test("FP2: decode of encodable values round-trips mantissa/exponent") {
    val gen = for {
      m <- Gen.choose(0, 8191)
      e <- Gen.choose(0, 3)
      neg <- Gen.oneOf(true, false)
    } yield (m, e, neg)
    val p = Prop.forAll(gen) { case (m, e, neg) =>
      val raw = (if (neg) 0x8000 else 0) | (e << 13) | m
      val sentinels = Set(0x1fff, 0x9fff, 0x9ffe)
      sentinels.contains(raw) || {
        val d = graft.functions.Fp2.decode(raw)
        math.abs(math.abs(d) - m * math.pow(10, -e)) < 1e-12 &&
          (d == 0.0 || (d < 0) == neg)
      }
    }
    assert(holds(p, 200))
  }

  test("budgetSelect matches the scalar greedy fill on random pools") {
    import graft.text.BudgetOps
    val gen = for {
      rows <- Gen.nonEmptyListOf(for {
        tok <- Gen.choose(0L, 20L)
        pri <- Gen.choose(0, 6)
      } yield (tok, pri.toDouble))
      budget <- Gen.choose(-5L, 300L)
    } yield (rows.zipWithIndex.map { case ((t, p), i) =>
      (i.toLong, t, p) }, budget)
    val p = Prop.forAll(gen) { case (rows, budget) =>
      val got = BudgetOps.budgetSelect(
          rows.toDF("id", "tok", "pri"), "id", "tok", "pri", budget)
        .select("id", "cum_tokens", "selected").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
        .toMap
      var run = 0L
      val exp = rows.sortBy { case (id, _, p) => (-p, id) }.map {
        case (id, tok, _) =>
          val start = run; run += tok
          id -> ((run, start < budget))
      }.toMap
      got == exp
    }
    assert(holds(p, 10)) // each trial shuffles + checkpoints
  }

  test("budgetSelectPerStratum matches the scalar per-stratum fill") {
    import graft.text.BudgetOps
    val gen = for {
      rows <- Gen.nonEmptyListOf(for {
        strat <- Gen.choose(0, 3)
        tok <- Gen.choose(0L, 15L)
        pri <- Gen.choose(0, 4)
      } yield (s"s$strat", tok, pri.toDouble))
      budgets <- Gen.listOfN(4, Gen.choose(0L, 120L))
    } yield (rows.zipWithIndex.map { case ((s, t, p), i) =>
      (i.toLong, s, t, p) },
      (0 until 4).map(i => s"s$i" -> budgets(i)).toMap)
    val p = Prop.forAll(gen) { case (rows, budgets) =>
      val got = BudgetOps.budgetSelectPerStratum(
          rows.toDF("id", "src", "tok", "pri"), "id", "tok", "pri",
          "src", budgets)
        .select("id", "cum_tokens", "selected").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
        .toMap
      val exp = rows.groupBy(_._2).flatMap { case (src, rs) =>
        val b = budgets(src)
        var run = 0L
        rs.sortBy { case (id, _, _, p) => (-p, id) }.map {
          case (id, _, tok, _) =>
            val start = run; run += tok
            id -> ((run, start < b))
        }
      }
      got == exp
    }
    assert(holds(p, 10))
  }
}
