package graft

import org.apache.spark.sql.DataFrame

import graft.obs.Meter
import graft.operators.UnionFind
import graft.text.DedupOps

/** What the two paths of `connectedComponents` run, read from the
  * meter: the union-find path's job count does not grow with the
  * graph's diameter and its task memory is accounted; the budget
  * selects the path at exactly the union-find's footprint; the rounds
  * path broadcasts nothing. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def meter = Meter.on(spark)

  private def chain(n: Long): DataFrame =
    (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")

  private def nodes(n: Long): DataFrame = spark.range(n).toDF("id")

  test("the union-find path runs as many jobs on a 2-node graph as on " +
      "a 1,000-node chain") {
    def jobs(n: Long): Int = meter.span(s"uf-$n") {
      val (df, rounds) = DedupOps.components(nodes(n), chain(n), 10,
        markLabeled = false, budget = Long.MaxValue)
      assert(rounds == 0)
      df.collect()
    }._2.jobs.size
    assert(jobs(2) == jobs(1000))
  }

  test("the union-find task's accounted memory is its task's peak") {
    val (_, r) = meter.span("uf-memory") {
      DedupOps.components(nodes(1000), chain(1000), 10,
        markLabeled = false, budget = Long.MaxValue)
    }
    // the labels' checkpoint is the only job that holds memory
    assert(r.peakExecBytes == 999 * UnionFind.BytesPerEdge)
  }

  test("a graph over the budget by one byte takes the rounds path") {
    val need = 25 * UnionFind.BytesPerEdge
    val runs = Seq(need, need - 1).map(b =>
      DedupOps.components(nodes(26), chain(26), 10, false, b))
    assert(runs.map(_._2 == 0) == Seq(true, false))
    val labels = runs.map(_._1.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap)
    assert(labels(0) == labels(1))
    assert(labels(0).values.toSet == Set(0L))
  }

  test("the rounds path joins without a broadcast") {
    val (rounds, r) = meter.span("rounds") {
      val (df, rounds) = DedupOps.components(nodes(26), chain(26), 10,
        markLabeled = false, budget = -1L)
      df.collect()
      rounds
    }
    // round 2 on runs the neighbor join, round 3 on the pointer jump
    assert(rounds >= 3, s"rounds: $rounds")
    val joins = r.census.joins
    assert(joins.getOrElse("bhj", 0) == 0, r.census.joinLine)
    assert(joins.getOrElse("shj", 0) >= rounds, r.census.joinLine)
  }
}
