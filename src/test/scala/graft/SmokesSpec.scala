package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.scalatest.BeforeAndAfterAll

import graft.tools.Smokes

/** The scale invariants as tests: every [[Smokes]] entry at factors 1
  * and 2 over the sf0.001 tables, in the test session, with each
  * smoke's own assertions and the harness's exchange and job
  * invariance check. At these sizes a smoke waits on job and stream
  * latency, not on cores, so the entries run on six driver threads;
  * each meters only its own spans (a span is a job group). */
class SmokesSpec extends SparkSpec with BeforeAndAfterAll {
  private val sfDir = "/root/testdata/sf0.001"
  private val pool = Executors.newFixedThreadPool(6)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  private lazy val runs: Map[String, Future[Unit]] = Smokes.all.map(s =>
    s.name -> Future(Smokes.run(spark, s, 1, 2, sfDir))).toMap

  for (smoke <- Smokes.all) test(s"${smoke.name} holds at factors 1 and 2") {
    Await.result(runs(smoke.name), Duration.Inf)
  }

  test("every smoke has one entry") {
    assert(Smokes.all.map(_.name).distinct.size == Smokes.all.size)
  }

  override def afterAll(): Unit = {
    pool.shutdown()
    Smokes.cleanup(spark)
  }
}
