package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.obs.{Census, Meter, Reading}
import graft.operators.Materialize

/** The run instrument: a span reads exactly the work of its own job
  * group, complete as soon as the span returns, and the census reads
  * the plan that ran. */
class MeterSpec extends SparkSpec {
  private def meter = Meter.on(spark)
  private def group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")

  /** A sort-merge join whose two sides both shuffle on the key. */
  private def smj: DataFrame = {
    val a = spark.range(0, 1000, 1, 4).select(col("id").as("k"),
      (col("id") * 2).as("a"))
    val b = spark.range(0, 1000, 1, 4).select(col("id").as("k"),
      (col("id") * 3).as("b"))
    a.join(b.hint("merge"), "k")
  }

  test("the census counts the final plan of an executed join once") {
    val df = smj
    val (rows, r) = meter.span("smj")(df.collect())
    assert(rows.length == 1000)
    assert(r.executions.map(e => (e.funcName, e.census)) ==
      Seq(("collect", Census(2, Map("smj" -> 1)))), r.executions)
    assert(r.census.joinLine == "bhj=0,smj=1,shj=0,bnlj=0,cart=0")
    // the string of a final adaptive plan prints the final plan and
    // the initial one, so a regex over it counts every node twice
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("isFinalPlan=true"))
    assert("(?i)exchange".r.findAllIn(s).length == 4)
    assert("SortMergeJoin".r.findAllIn(s).length == 2)
    assert(Census.of(df.queryExecution.executedPlan) == Census(2, Map("smj" -> 1)))
  }

  test("a cached relation counts the plan that fills it") {
    val cached = Materialize.cache(smj)
    try {
      assert(cached.count() == 1000)
      assert(Census.of(cached.select("a").queryExecution.executedPlan) ==
        Census(2, Map("smj" -> 1)))
    } finally Materialize.release(cached)
  }

  test("count() runs a new plan and leaves the frame's own plan initial") {
    val df = smj
    assert(df.count() == 1000)
    assert(df.queryExecution.executedPlan.toString
      .contains("isFinalPlan=false"))
  }

  test("two spans on two threads each read only their own work") {
    val start, end = new CyclicBarrier(2)
    def run(actions: Int): Reading = meter.span(s"thread-$actions") {
      start.await(60, TimeUnit.SECONDS)
      (1 to actions).foreach(i => spark.range(0, 10 * i, 1, 1).collect())
      end.await(60, TimeUnit.SECONDS)
    }._2
    val other = new java.util.concurrent.FutureTask(() => run(3))
    new Thread(other).start()
    val two = run(2)
    val three = other.get(120, TimeUnit.SECONDS)
    assert(two.jobs.size == 2 && two.executions.size == 2, two)
    assert(three.jobs.size == 3 && three.executions.size == 3, three)
    assert(two.jobs.map(_.id).intersect(three.jobs.map(_.id)).isEmpty)
    assert((two.executions ++ three.executions).map(_.funcName).toSet ==
      Set("collect"))
    assert(two.stages == 2 && three.stages == 3)
    assert(two.cpuNs > 0 && three.cpuNs > 0)
  }

  test("a span that runs no job reads none, without a fence") {
    spark.range(3).collect() // outside any span: not attributed
    val (df, r) = meter.span("plan only")(spark.range(5).select(col("id") + 1))
    assert(r.jobs.isEmpty && r.executions.isEmpty && r.stages == 0, r)
    assert(df.count() == 5)
  }

  test("a nested span restores the outer group and keeps its own work") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller", "caller")
    try {
      val ((inner, innerGroupAfter), outer) = meter.span("outer") {
        val mine = group
        val in = meter.span("inner")(spark.range(5).collect())._2
        val after = group == mine
        spark.range(6).collect()
        (in, after)
      }
      assert(innerGroupAfter)
      assert(inner.jobs.size == 1 && outer.jobs.size == 1)
      assert(inner.jobs.head.id != outer.jobs.head.id)
      assert(group == "caller")
    } finally sc.clearJobGroup()
  }

  test("the storage peak sees blocks released before the span ends") {
    var held = 0L
    val (_, r) = meter.span("cache") {
      val c = Materialize.checkpoint(spark.range(0, 5000, 1, 2).toDF())
      val ids = PersistentRdds.leafRdds(c)
      held = spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
        .map(i => i.memSize + i.diskSize).sum
      Materialize.release(c)
    }
    assert(held > 0)
    assert(r.peakStorageBytes >= held, r)
    // the release reached the meter: the next span starts without them
    val after = meter.span("after")(())._2
    assert(after.peakStorageBytes <= r.peakStorageBytes - held, after)
  }
}
