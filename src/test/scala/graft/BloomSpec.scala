package graft

import org.apache.spark.sql.functions._
import graft.core.Bloom

class BloomSpec extends SparkSpec {
  import spark.implicits._

  private val bits = 1L << 16
  private val k = 5

  test("no false negatives: every inserted key passes mightContain") {
    val dim = (0L until 1000L).toDF("id")
    val filter = Bloom.build(dim, "id", bits, k)
    val misses = dim.filter(!Bloom.mightContain(filter, col("id"), bits, k)).count()
    assert(misses == 0)
  }

  test("false-positive rate on disjoint keys stays near the sized bound") {
    val dim = (0L until 1000L).toDF("id")
    val filter = Bloom.build(dim, "id", bits, k)
    // 10k keys guaranteed absent
    val absent = (1000000L until 1010000L).toDF("id")
    val fp = absent.filter(Bloom.mightContain(filter, col("id"), bits, k)).count()
    // sized fpp ≈ (1-e^(-5*1000/65536))^5 ≈ 2e-6; allow generous slack
    assert(fp < 100, s"false positives: $fp / 10000")
  }

  test("bloomSemiJoin equals the exact semi join") {
    val fact = (0L until 5000L).map(i => (i % 700L, i)).toDF("key", "v")
    val dim = (0L until 700L by 3L).toDF("key")
    val got = Bloom.bloomSemiJoin(fact, "key", dim, "key", bits, k)
      .select("v").as[Long].collect().toSet
    val want = fact.join(dim, Seq("key"), "left_semi")
      .select("v").as[Long].collect().toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("probe-side plan: literal bit test, codegen'd, before the join") {
    // spark.range keeps a physical source below the filter —
    // ConvertToLocalRelation would fold a Filter over a LocalRelation away
    val fact = spark.range(0L, 100L).select(col("id").as("key"), col("id").as("v"))
    val dim = Seq(1L, 2L).toDF("key")
    val df = Bloom.bloomSemiJoin(fact, "key", dim, "key", bits, k)
    val plan = df.queryExecution.executedPlan.toString
    // the prefilter is a Filter over element_at on the literal array,
    // inside WholeStageCodegen — not a UDF, not a second join
    assert(plan.contains("element_at"), plan.take(2000))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("build is bounded: filter array is numBits/64 words regardless of rows") {
    val dim = (0L until 10000L).toDF("id")
    val filter = Bloom.build(dim, "id", 64 * 8, 3)
    assert(filter.length == 8)
  }

  test("composite struct keys: no false negatives") {
    val small = Seq((1L, "bh7"), (3L, "bh9"), (15L, "bh249"))
      .toDF("band", "bh")
    val key = struct(col("band"), col("bh"))
    val filter = Bloom.buildCol(small, key, bits, k)
    // every small key passes against its own filter
    assert(small.filter(!Bloom.mightContain(filter, key, bits, k))
      .count() == 0)
  }
}
