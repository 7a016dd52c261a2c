package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling utilities for hot join keys (SURVEY.md §7.4 item 6 —
  * "salted keys for skewed merges").
  *
  * AQE's skew-join splitting handles most cases at runtime; explicit
  * salting remains the deterministic tool when one key dominates a
  * fact-fact join (e.g. a single business class holding half the rows).
  * The skewed side gets a salt derived from a distributing column; the
  * compact side is replicated across all salt values, so the join key
  * becomes (key, salt) and the hot key spreads over `saltN` reducers.
  */
object Skew {

  /** Salted equi-join: `big` is the skewed side, `small` the replicated
    * side. `distCol` is any big-side column with per-row variety (a row id,
    * line number, payload hash) — the salt must NOT be derived from the
    * join key or the hot key stays on one reducer. The salt has 16
    * values. Result rows equal the plain inner join exactly. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 distCol: String): DataFrame = {
    val saltN = 16
    val salted = big.withColumn("_graft_salt",
      pmod(xxhash64(col(distCol)), lit(saltN.toLong)))
    val replicated = small.withColumn("_graft_salt",
      explode(sequence(lit(0L), lit(saltN - 1L))))
    // a salted join IS a shuffle join — if the small side fit a broadcast,
    // you would broadcast it unsalted instead. Without the hint Catalyst
    // happily broadcasts the saltN-times-replicated side, paying a
    // saltN-times-larger broadcast build for nothing.
    salted.join(replicated.hint("shuffle_hash"), keys :+ "_graft_salt")
      .drop("_graft_salt")
  }
}
