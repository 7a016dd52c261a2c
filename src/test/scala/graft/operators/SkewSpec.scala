package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SkewSpec extends SparkSpec {
  import spark.implicits._

  // 1000 rows on one hot key + a long tail
  val big = ((1 to 1000).map(i => (1L, i.toLong)) ++
    (1 to 50).map(i => (i.toLong + 1, i.toLong))).toDF("k", "row_id")
  val small = Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("k", "v")

  test("saltedJoin equals the plain inner join") {
    val plain = big.join(small, "k").orderBy("k", "row_id", "v")
      .as[(Long, Long, String)].collect().toSeq
    val salted = Skew.saltedJoin(big, small, Seq("k"), "row_id")
      .orderBy("k", "row_id", "v").as[(Long, Long, String)].collect().toSeq
    assert(salted == plain)
    assert(salted.count(_._1 == 1L) == 1000)
  }
}
