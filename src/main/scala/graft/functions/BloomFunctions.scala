package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.plans.GraftExtensions

/** Column wrappers for Spark's built-in Bloom-filter expressions (the
  * same kernels AQE's runtime row-level filtering injects — constant-
  * size, mergeable, map-side combined), resolved through the
  * `bloom_agg` / `bloom_might_contain` functions GraftExtensions
  * registers.
  *
  * The sketch aggregates `xxhash64(value)` LONGS: the build side puts
  * the long and the probe side tests the long, so both sides must hash
  * identically. A Bloom filter has NO false negatives — a negative
  * probe is definitive — which is what makes it a sound pre-filter in
  * front of an exact anti-join.
  */
object BloomFunctions {

  /** Bits for a target false-positive rate: -n·ln(p)/ln²2. At 10⁹ items
    * and 3% fpp this is ~0.9 GB — a broadcastable sketch standing in for
    * an arbitrarily large corpus. */
  def optimalNumBits(expectedItems: Long, fpp: Double): Long =
    BloomFilter.optimalNumOfBits(expectedItems, fpp)

  /** Aggregate a LONG hash column into a serialized Bloom filter
    * (binary). NOTE: Spark clamps the sketch to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    * `.maxNumBits` (defaults 4M items / 8 MB) — raise those confs when
    * building corpus-scale sketches, or the filter silently degrades to
    * a higher false-positive rate (never to false negatives).
    *
    * A Column carries no session, so the extension check reads the
    * active one; a DataFrame whose own session lacks the extension
    * still fails at analysis, naming `bloom_agg`. */
  def bloomAgg(hash: Column, expectedItems: Long, numBits: Long): Column = {
    GraftExtensions.require(SparkSession.active)
    call_function("bloom_agg", hash, lit(expectedItems), lit(numBits))
  }

  /** Membership probe of a LONG hash column against a driver-held
    * serialized sketch. The sketch ships as a foldable literal — the
    * probe is a pure projection, usable under whole-stage codegen. */
  def bloomMightContain(bloom: Array[Byte], hash: Column): Column =
    call_function("bloom_might_contain", lit(bloom), hash)
}
