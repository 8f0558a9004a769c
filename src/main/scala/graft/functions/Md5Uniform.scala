package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The md5-prefix hash behind every replayable draw: sampling keys,
  * split buckets, mixing uniforms and the fingerprint's word hash.
  *
  * Each value is a pure function of the input string, so a draw is
  * stable across runs, cluster layouts and partitionings (never
  * `rand()`), and a SQL engine with `md5` replays it bit for bit:
  * DuckDB reads the same 8 hex digits as
  * `CAST(concat('0x', substring(md5(s), 1, 8)) AS UBIGINT)`. That
  * replay is what keeps the sampling queries oracle-checked
  * hash-exact.
  */
object Md5Uniform {

  /** The first 8 hex digits of `md5(s)` as a long in [0, 2^32). */
  def prefix32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** [[prefix32]] of the id's string form followed by `salt`. */
  def saltedPrefix32(id: Column, salt: String): Column =
    prefix32(concat(id.cast("string"), lit(salt)))

  /** (saltedPrefix32 + 0.5) / 2^32: a uniform strictly inside (0, 1),
    * so `log(u)` and `pow(u, 1/w)` never see 0 or 1. */
  def uniform(id: Column, salt: String): Column =
    (saltedPrefix32(id, salt) + lit(0.5)) / lit(4294967296.0)
}
