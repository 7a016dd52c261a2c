package graft.operators


import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import graft.SparkSpec
import graft.sources.lakesim.{LakeIndex, LakeSimSource}

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Reference Morton interleave on the driver. */
  private def zRef(coords: Seq[Long], bits: Int): Long = {
    var z = 0L
    val n = coords.size
    for (j <- coords.indices; i <- 0 until bits)
      z |= (((coords(j) & ((1L << bits) - 1)) >> i) & 1L) << (i * n + j)
    z
  }

  /** zValue of two literal coordinates. */
  private def z2(a: Long, b: Long, bits: Int = 16): Long =
    Seq((a, b)).toDF("a", "b")
      .select(ZOrder.zValue(Seq($"a", $"b"), bits)).as[Long].head()

  test("zValue matches the reference interleave bit-for-bit") {
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L),
      (12345L, 54321L), (70000L, 70000L)) // 70000 > 2^16: the mask bites
    val got = rows.toDF("a", "b")
      .select($"a", $"b", ZOrder.zValue(Seq($"a", $"b"), 16).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, z) => assert(z == zRef(Seq(a, b), 16), s"($a,$b)") }
  }

  test("hand-checked interleave: a in even lanes, b in odd") {
    assert(z2(0L, 0L) == 0L)
    assert(z2(1L, 0L) == 1L)  // a bit 0 -> position 0
    assert(z2(0L, 1L) == 2L)  // b bit 0 -> position 1
    assert(z2(3L, 0L) == 5L)  // 0b11 -> 0b0101
    assert(z2(0L, 3L) == 10L) // 0b11 -> 0b1010
    assert(z2(3L, 3L) == 15L)
    assert(z2(5L, 2L) == 0b011001L) // a=101, b=010 -> 0 1 1 0 0 1
  }

  test("inputs mask to the low bits; result stays non-negative") {
    // bits=4: only low 4 bits survive
    assert(z2(0x13L, 0L, 4) == z2(0x3L, 0L, 4))
    assert(z2((1L << 31) - 1, (1L << 31) - 1, 31) > 0L)
  }

  test("z-locality: quadrant prefix — high input bits dominate") {
    // points in the same (high-bit) quadrant sort together: every z in
    // quadrant (1,1) of a 2-bit space exceeds every z in quadrant (0,0)
    val q00 = for (a <- 0L to 1L; b <- 0L to 1L) yield z2(a, b, 2)
    val q11 = for (a <- 2L to 3L; b <- 2L to 3L) yield z2(a, b, 2)
    assert(q00.max < q11.min)
  }

  test("SQL restatement matches the column expression") {
    val rows = Seq((513L, 77L), (65535L, 1L), (70000L, 70000L))
      .toDF("a", "b")
    val viaCol = rows.select(ZOrder.zValue(Seq($"a", $"b"), 16))
      .as[Long].collect().toSeq
    rows.createOrReplaceTempView("zin")
    val viaSql = spark.sql("SELECT CAST(" +
        ZOrder.interleave2Sql("a", "b", 16) + " AS BIGINT) FROM zin")
      .as[Long].collect().toSeq
    assert(viaCol == viaSql)
  }

  test("zValue interleaves three columns and rejects overflow") {
    val z = Seq((1L, 2L, 3L)).toDF("a", "b", "c")
      .select(ZOrder.zValue(Seq($"a", $"b", $"c"), 8).as("z"))
      .as[Long].head()
    assert(z == zRef(Seq(1L, 2L, 3L), 8))
    intercept[IllegalArgumentException] {
      ZOrder.zValue(Seq($"a", $"b", $"c"), 21)
    }
  }

  test("z-ordered lake write prunes on BOTH columns; single-sort only on one") {
    def writeLake(df: org.apache.spark.sql.DataFrame): String = {
      val dir = tempDir("lakesim_z").toString
      df.write.format(classOf[LakeSimSource].getName)
        .option("path", dir).mode("overwrite").save()
      dir
    }
    // 64×64 grid of (x, y) points
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y =>
      (x.toLong, y.toLong, x * 64L + y))).toDF("x", "y", "id")
    val zDir = writeLake(ZOrder.cluster(grid, Seq($"x", $"y"), numFiles = 16,
      bits = 6))
    val xDir = writeLake(grid.repartitionByRange(16, $"x", $"y")
      .sortWithinPartitions($"x", $"y"))
    def matched(dir: String, colName: String): Int = {
      val f = Seq(GreaterThanOrEqual(colName, 10L), LessThanOrEqual(colName, 13L))
      LakeIndex.prune(LakeIndex.load(dir), f).size
    }
    // x-range filter: both layouts prune
    assert(matched(xDir, "x") <= 4)
    assert(matched(zDir, "x") <= 8)
    // y-range filter: only the z-order layout prunes; the x-sorted one
    // reads every file (each file spans the full y range)
    assert(matched(xDir, "y") == 16)
    assert(matched(zDir, "y") <= 8)
  }
}
