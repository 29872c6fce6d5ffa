package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pure-column Bloom filter behind [[bloomSemiJoin]], the exact semi
  * join with a Bloom prefilter on the fact side (probe q63). When the
  * dim side is too big to broadcast as a hash relation but its KEY SET
  * fits a few megabits, build a Bloom filter over the dim keys once (one
  * bounded aggregate job), ship it to every task as a literal array, and
  * drop non-matching fact rows BEFORE the semi-join shuffle. The exact
  * semi join afterwards removes the false positives, so the composed
  * operator is exact; the Bloom only cuts shuffle volume.
  *
  * Spark's own InjectRuntimeFilter does this automatically, but only under
  * its thresholds (creation-side size, broadcast-only shapes); this is the
  * explicit form. Everything is public-API Column algebra — `xxhash64`
  * for the k-hash family, `bit_or` aggregation for the build,
  * `element_at`/`shiftright` bit tests on the probe side — so the probe
  * filter stays inside whole-stage codegen (no UDF, no lambda).
  *
  * Sizing: for `n` keys and `m` bits, fpp ≈ (1 - e^(-k·n/m))^k; the default
  * 2^20 bits / 5 hashes gives <1% fpp up to ~10^5 keys. The built filter is
  * `m/64` longs (2^20 bits = 16 K longs = 128 KB) — broadcast-trivial.
  */
object Bloom {

  /** Bit positions of `key` under the k-hash family, as columns. Hash i is
    * `xxhash64(key, i)` — seeding by an extra hashed literal gives an
    * independent family from one primitive.
    */
  private def positions(key: Column, numBits: Long, numHashes: Int): Seq[Column] =
    (0 until numHashes).map(i => pmod(xxhash64(key, lit(i)), lit(numBits)))

  /** Build the filter over `dim[dimKey]`: one distributed aggregate
    * (explode k positions → group by word → OR the bits), then a bounded
    * driver collect of at most `numBits/64` rows. Words with no bits set
    * are absent from the aggregate and left zero here.
    */
  def build(dim: DataFrame, dimKey: String,
            numBits: Long = 1L << 20, numHashes: Int = 5): Array[Long] =
    buildCol(dim, col(dimKey), numBits, numHashes)

  /** [[build]] over an arbitrary key COLUMN — structs work too
    * (`xxhash64` hashes every field), so composite keys need no
    * concatenation round-trip.
    */
  def buildCol(dim: DataFrame, dimKey: Column,
               numBits: Long = 1L << 20, numHashes: Int = 5): Array[Long] = {
    require(numBits % 64 == 0 && numBits > 0, s"numBits must be a positive multiple of 64, got $numBits")
    val nWords = (numBits / 64).toInt
    val words = dim
      .select(explode(array(positions(dimKey, numBits, numHashes): _*)).as("pos"))
      .select((col("pos") / 64).cast("int").as("word"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("bit"))
      .groupBy("word").agg(expr("bit_or(bit)").as("bits"))
      .collect()
    val arr = new Array[Long](nWords)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Membership test column: true iff every hash position's bit is set.
    * No false negatives; false positives at the sized fpp. The filter
    * array rides along as ONE literal, so the test codegens to k
    * element_at + shift + mask ops per row.
    */
  def mightContain(filter: Array[Long], key: Column,
                   numBits: Long = 1L << 20, numHashes: Int = 5): Column = {
    val arr = typedlit(filter.toSeq)
    positions(key, numBits, numHashes).map { pos =>
      call_function("shiftright",
        element_at(arr, (pos / 64).cast("int") + 1),
        (pos % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** Exact semi join with a Bloom prefilter on the fact side: fact rows
    * failing `mightContain` never reach the join shuffle; the semi join
    * then removes false positives. Result == plain left_semi join
    * (spec-pinned), but the fact exchange carries only ~selectivity+fpp of
    * the rows — at 100 TB that IS the operator.
    */
  def bloomSemiJoin(fact: DataFrame, factKey: String,
                    dim: DataFrame, dimKey: String,
                    numBits: Long = 1L << 20, numHashes: Int = 5): DataFrame = {
    val filter = build(dim, dimKey, numBits, numHashes)
    fact
      .filter(mightContain(filter, col(factKey), numBits, numHashes))
      .join(dim.select(col(dimKey).as(factKey)), Seq(factKey), "left_semi")
  }
}
