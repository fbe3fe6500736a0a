package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Query

/** Registry invariants, checked without a Spark action. Every query
  * carries its oracle by construction (a [[Query]] cannot be written
  * without one); these pin what the types cannot: name uniqueness,
  * the untimed group, and non-blank oracles. */
class RegistrySpec extends AnyFunSuite {

  test("registry holds 164 uniquely named queries in name order") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 164)
    assert(names.distinct == names)
    assert(names == names.sorted)
  }

  test("untimed queries are exactly the streaming group") {
    val untimed = SparkEntry.registry.map(_.name).toSet --
      SparkEntry.timed.map(_.name)
    assert(untimed == Set("q56_streaming_append", "q67_stateful_gaps",
      "q86_streaming_dedup", "q95_streaming_near_dedup",
      "q96_streaming_near_dedup_audit", "q97_bloom_dedup",
      "q123_streaming_interleave", "q127_streaming_token_interleave",
      "q134_streaming_budget", "q145_streaming_vocab",
      "q149_streaming_hll", "q150_streaming_cm", "q152_streaming_rank",
      "q162_streaming_image_neardup", "q164_streaming_audio_neardup"))
    assert(SparkEntry.timed.size == 149)
  }

  test("every oracle is non-blank") {
    val blank = SparkEntry.registry.filter(_.oracle.trim.isEmpty)
    assert(blank.isEmpty, blank.map(_.name).mkString(", "))
  }

  test("a duplicated name fails the registry build, naming it") {
    val qs = SparkEntry.registry.take(3)
    val e = intercept[IllegalArgumentException](
      Query.inNameOrder(qs :+ Query(qs(1).name)(qs(1).run)("SELECT 1")))
    assert(e.getMessage.contains(qs(1).name))
    assert(!e.getMessage.contains(qs(0).name))
  }

  test("lookup names every unregistered query") {
    val e = intercept[IllegalArgumentException](SparkEntry.lookup(
      Seq("q01_pricing_summary", "q01_typo", "q999_missing")))
    assert(e.getMessage.contains("q01_typo, q999_missing"))
    assert(SparkEntry.lookup(Seq("q02_date_filter", "q01_pricing_summary"))
      .map(_.name) == Seq("q02_date_filter", "q01_pricing_summary"))
  }
}
