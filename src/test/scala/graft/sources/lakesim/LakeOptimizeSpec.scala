package graft.sources.lakesim


import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types._
import graft.SparkSpec

class LakeOptimizeSpec extends SparkSpec {
  import spark.implicits._

  val schema = StructType(Seq(
    StructField("id", LongType), StructField("x", LongType),
    StructField("y", LongType)))

  private def freshLake(nObjects: Int): String = {
    val dir = tempDir("lakesim_opt").toString
    (0 until 1024).map(i => (i.toLong, (i % 32).toLong, (i / 32).toLong))
      .toDF("id", "x", "y")
      .repartition(nObjects)
      .write.format(classOf[LakeSimSource].getName)
      .option("path", dir).mode("overwrite").save()
    dir
  }

  private def readLake(dir: String) =
    spark.read.format(classOf[LakeSimSource].getName)
      .schema(schema).option("path", dir).load()

  test("compaction merges small objects, preserving every row") {
    val dir = freshLake(16)
    val before = readLake(dir).as[(Long, Long, Long)].collect().toSet
    val (nBefore, nAfter) = LakeOptimize.compact(spark, dir, schema,
      targetRows = 512)
    assert(nBefore == 16 && nAfter == 2)
    assert(readLake(dir).as[(Long, Long, Long)].collect().toSet == before)
    assert(LakeIndex.load(dir).map(_.count).sum == 1024)
    // no temp litter, no orphaned objects
    val files = new java.io.File(dir).list().toSeq
    assert(files.count(_.endsWith(".ndjson")) == 2)
    assert(!files.exists(_.startsWith("_tmp")))
  }

  test("compaction preserves bloomed-ness: bloom fields are lake state, " +
       "so a maintenance rewrite that never heard of the option keeps " +
       "computing them") {
    val dir = tempDir("lakesim_opt_bloom").toString
    (0 until 1024).map(i => (i.toLong, (i % 32).toLong, (i / 32).toLong))
      .toDF("id", "x", "y").repartition(16)
      .write.format(classOf[LakeSimSource].getName)
      .option("path", dir).option("bloomfields", "id")
      .mode("overwrite").save()
    LakeOptimize.compact(spark, dir, schema, targetRows = 512)
    val entries = LakeIndex.load(dir)
    assert(entries.size == 2)
    assert(entries.forall(_.blooms.keySet == Set("id")))
    // the rebuilt blooms still skip: an id present in one compacted
    // object prunes the other (both ranges overlap after repartition)
    import org.apache.spark.sql.sources.EqualTo
    val kept = LakeIndex.prune(entries, Seq(EqualTo("id", 500L)))
    assert(kept.size == 1)
    assert(readLake(dir).filter($"id" === 500L).count() == 1)
    // a plain append afterwards (no option) also keeps computing blooms
    Seq((5000L, 1L, 1L)).toDF("id", "x", "y").coalesce(1)
      .write.format(classOf[LakeSimSource].getName)
      .option("path", dir).mode("append").save()
    assert(LakeIndex.load(dir).forall(_.blooms.contains("id")))
  }

  test("z-ordered compaction makes BOTH coordinate columns prunable") {
    val dir = freshLake(16)
    LakeOptimize.compact(spark, dir, schema, targetRows = 64,
      zorderBy = Seq($"x", $"y"), zBits = 5)
    assert(LakeIndex.load(dir).size == 16)
    def matched(colName: String) = LakeIndex.prune(LakeIndex.load(dir),
      Seq(GreaterThanOrEqual(colName, 4L), LessThanOrEqual(colName, 7L))).size
    assert(matched("x") <= 8, s"x-pruning weak: ${matched("x")} of 16")
    assert(matched("y") <= 8, s"y-pruning weak: ${matched("y")} of 16")
    assert(readLake(dir).count() == 1024)
  }
}
