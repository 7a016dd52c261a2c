package graft.sources.lakesim

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** DSv2 write path: task-temp commit protocol, index publication, append vs
  * truncate, and write→scan round-trip equality. */
class LakeSimWriteSpec extends SparkSpec {
  import spark.implicits._

  val schema = StructType(Seq(
    StructField("id", LongType), StructField("region", StringType),
    StructField("amount", DoubleType)))

  def readLake(dir: String) =
    spark.read.format(classOf[LakeSimSource].getName)
      .schema(schema).option("path", dir).load()

  test("write then scan returns exactly the written rows (round trip)") {
    val dir = tempDir("lakesim_w").toString
    val df = (1 to 25).map(i => (i.toLong, if (i % 2 == 0) "A" else "B",
      i * 10.0)).toDF("id", "region", "amount")
    df.repartition(3).write.format(classOf[LakeSimSource].getName)
      .option("path", dir).mode("overwrite").save()
    // the commit published objects + an index, no temp litter
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("index.json"))
    assert(names.count(_.endsWith(".ndjson")) == 3)
    assert(!names.exists(_.startsWith("_tmp")))
    val back = readLake(dir).as[(Long, String, Double)].collect().toSet
    assert(back == df.as[(Long, String, Double)].collect().toSet)
    // index counts cover every row
    assert(LakeIndex.load(dir).map(_.count).sum == 25)
  }

  test("publish=copy (the rename-free object-store primitive set) runs " +
       "the full commit/truncate protocol: round trip, no temp litter") {
    val dir = tempDir("lakesim_w_os").toString
    def write(ids: Range, mode: String): Unit =
      ids.map(i => (i.toLong, "A", i * 1.0)).toDF("id", "region", "amount")
        .coalesce(1).write.format(classOf[LakeSimSource].getName)
        .option("path", dir).option("publish", "copy").mode(mode).save()
    write(1 to 25, "overwrite")
    write(26 to 30, "append")
    val names = new java.io.File(dir).list().toSeq
    assert(!names.exists(_.startsWith("_tmp")), names)
    assert(readLake(dir).select("id").as[Long].collect().toSet ==
      (1 to 30).map(_.toLong).toSet)
    // truncate under copy-publish: old objects removed after the swap
    write(100 to 101, "overwrite")
    assert(readLake(dir).select("id").as[Long].collect().toSet ==
      Set(100L, 101L))
    assert(new java.io.File(dir).list().count(_.endsWith(".ndjson")) == 1)
  }

  test("append extends the lake; overwrite truncates it") {
    val dir = tempDir("lakesim_w2").toString
    def write(ids: Range, mode: String): Unit =
      ids.map(i => (i.toLong, "A", i * 1.0)).toDF("id", "region", "amount")
        .coalesce(1).write.format(classOf[LakeSimSource].getName)
        .option("path", dir).mode(mode).save()
    write(1 to 5, "overwrite")
    write(6 to 9, "append")
    assert(readLake(dir).select("id").as[Long].collect().toSet ==
      (1 to 9).map(_.toLong).toSet)
    assert(LakeIndex.load(dir).size == 2)
    write(100 to 101, "overwrite")
    assert(readLake(dir).select("id").as[Long].collect().toSet ==
      Set(100L, 101L))
    // truncated objects are physically gone, not just de-indexed
    assert(new java.io.File(dir).list().count(_.endsWith(".ndjson")) == 1)
  }

  test("a truncate commit failing before the index swap leaves the old lake intact") {
    val dir = tempDir("lakesim_w5").toString
    (1 to 5).map(i => (i.toLong, "A", i * 1.0)).toDF("id", "region", "amount")
      .coalesce(1).write.format(classOf[LakeSimSource].getName)
      .option("path", dir).mode("overwrite").save()
    val oldIndex = Files.readString(new java.io.File(dir, "index.json").toPath)
    // drive the commit directly with a message naming a temp file that
    // does not exist: the publish rename fails BEFORE the index swap
    val bw = new LakeSimBatchWrite(dir, schema, truncateAll = true)
    intercept[java.io.IOException] {
      bw.commit(Array(LakeSimCommit("_tmp-missing.ndjson", 3, Map.empty)))
    }
    // old objects and old index both survive; the lake still reads whole
    assert(Files.readString(new java.io.File(dir, "index.json").toPath)
      == oldIndex)
    assert(readLake(dir).select("id").as[Long].collect().toSet ==
      (1 to 5).map(_.toLong).toSet)
  }

  test("a commit detects a concurrent writer and aborts without publishing") {
    val dir = tempDir("lakesim_w7").toString
    def write(ids: Range, mode: String): Unit =
      ids.map(i => (i.toLong, "A", i * 1.0)).toDF("id", "region", "amount")
        .coalesce(1).write.format(classOf[LakeSimSource].getName)
        .option("path", dir).mode(mode).save()
    write(1 to 5, "overwrite")
    // job A starts (snapshots the index at build time)...
    val jobA = new LakeSimBatchWrite(dir, schema, truncateAll = false)
    // ...then writer B commits in between...
    write(6 to 9, "append")
    val indexAfterB = Files.readString(new java.io.File(dir, "index.json").toPath)
    // ...so A's commit must fail loudly, leaving B's commit standing
    val ex = intercept[java.io.IOException] {
      jobA.commit(Array.empty)
    }
    assert(ex.getMessage.contains("concurrent writer"))
    assert(Files.readString(new java.io.File(dir, "index.json").toPath)
      == indexAfterB)
    assert(readLake(dir).select("id").as[Long].collect().toSet ==
      (1 to 9).map(_.toLong).toSet)
  }

  test("truncate publishes new objects under names that never collide with live ones") {
    val dir = tempDir("lakesim_w6").toString
    def write(ids: Range): Unit =
      ids.map(i => (i.toLong, "A", i * 1.0)).toDF("id", "region", "amount")
        .coalesce(1).write.format(classOf[LakeSimSource].getName)
        .option("path", dir).mode("overwrite").save()
    write(1 to 5)
    val oldNames = LakeIndex.load(dir).map(_.file).toSet
    write(6 to 7)
    // the replacement object was published under a FRESH name — renaming
    // over a still-live old object would destroy it before the index swap
    val newNames = LakeIndex.load(dir).map(_.file).toSet
    assert((newNames intersect oldNames).isEmpty)
    assert(readLake(dir).select("id").as[Long].collect().toSet == Set(6L, 7L))
    // and the old objects are gone after the commit completed
    assert(new java.io.File(dir).list().count(_.endsWith(".ndjson")) == 1)
  }

  test("written index ranges drive split pruning on read-back") {
    val dir = tempDir("lakesim_w3").toString
    // two partitions with disjoint id ranges → two objects with tight ranges
    val df = ((1 to 10) ++ (101 to 110)).map(i => (i.toLong, "A", i * 1.0))
      .toDF("id", "region", "amount")
      .repartitionByRange(2, $"id")
    df.write.format(classOf[LakeSimSource].getName)
      .option("path", dir).mode("overwrite").save()
    val entries = LakeIndex.load(dir)
    assert(entries.size == 2)
    // a filter selecting only the high range must prune to one object
    val pruned = LakeIndex.prune(entries,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 100L)))
    assert(pruned.size == 1)
    assert(readLake(dir).filter($"id" > 100).count() == 10)
  }

  test("bloomfields: equality lookups prune objects whose RANGES overlap " +
       "but whose value SETS are disjoint; un-bloomed lakes never prune on " +
       "blooms") {
    val dir = tempDir("lakesim_wb").toString
    // two appended objects with fully-overlapping id ranges (evens 2..100,
    // odds 1..99) — range pruning is useless here by construction
    def write(ids: Seq[Int], region: String): Unit =
      ids.map(i => (i.toLong, region, i * 1.0)).toDF("id", "region", "amount")
        .coalesce(1).write.format(classOf[LakeSimSource].getName)
        .option("path", dir).option("bloomfields", "id, region")
        .mode("append").save()
    write(2 to 100 by 2, "EVEN")
    write(1 to 99 by 2, "ODD")
    val entries = LakeIndex.load(dir)
    assert(entries.size == 2)
    assert(entries.forall(e => e.blooms.keySet == Set("id", "region")))
    import org.apache.spark.sql.sources.EqualTo
    // both ranges contain 42 and 43 — only the bloom can find the needle
    assert(entries.forall(e =>
      e.ranges("id")._1 <= 42 && 43 <= e.ranges("id")._2))
    assert(LakeIndex.prune(entries, Seq(EqualTo("id", 42L))).size == 1)
    assert(LakeIndex.prune(entries, Seq(EqualTo("id", 43L))).size == 1)
    assert(LakeIndex.prune(entries, Seq(EqualTo("id", 42L))).head.file !=
      LakeIndex.prune(entries, Seq(EqualTo("id", 43L))).head.file)
    // string equality prunes too
    assert(LakeIndex.prune(entries, Seq(EqualTo("region", "ODD"))).size == 1)
    // a value in neither object prunes everything (in-range, set-absent)
    assert(LakeIndex.prune(entries, Seq(EqualTo("region", "NEITHER"))).isEmpty)
    // IN = union of per-value hits: same-parity needles keep one object,
    // mixed-parity needles keep both, all-absent needles keep none
    import org.apache.spark.sql.sources.In
    assert(LakeIndex.prune(entries,
      Seq(In("id", Array[Any](42L, 44L)))).size == 1)
    assert(LakeIndex.prune(entries,
      Seq(In("id", Array[Any](42L, 43L)))).size == 2)
    assert(LakeIndex.prune(entries,
      Seq(In("region", Array[Any]("X", "Y")))).isEmpty)
    // null-bearing lists are NOT claimed by the source (Spark keeps them)
    assert(!LakeIndex.supportedFilter(In("id", Array[Any](42L, null))))
    // results through the full scan stay correct under the pruning
    assert(readLake(dir).filter($"id" === 42L)
      .as[(Long, String, Double)].collect().toSeq == Seq((42L, "EVEN", 42.0)))
    assert(readLake(dir).filter($"id".isin(42L, 43L, 9999L))
      .select("id").as[Long].collect().toSet == Set(42L, 43L))
    // a lake written WITHOUT bloomfields has no blooms and keeps both
    val plain = tempDir("lakesim_wp").toString
    Seq((1L, "A", 1.0)).toDF("id", "region", "amount")
      .coalesce(1).write.format(classOf[LakeSimSource].getName)
      .option("path", plain).mode("overwrite").save()
    assert(LakeIndex.load(plain).head.blooms.isEmpty)
    assert(LakeIndex.prune(LakeIndex.load(plain),
      Seq(EqualTo("id", 1L))).size == 1)
  }

  test("empty partitions publish no objects") {
    val dir = tempDir("lakesim_w4").toString
    Seq((1L, "A", 1.0)).toDF("id", "region", "amount")
      .repartition(8).write.format(classOf[LakeSimSource].getName)
      .option("path", dir).mode("overwrite").save()
    assert(new java.io.File(dir).list().count(_.endsWith(".ndjson")) == 1)
    assert(readLake(dir).count() == 1)
  }

  test("versioned commits time-travel: each commit is a readable " +
       "version, truncate keeps old objects for old versions") {
    val dir = tempDir("lakesim_tt").toString
    def write(ids: Range, mode: String): Unit =
      ids.map(i => (i.toLong, "A", i * 1.0)).toDF("id", "region", "amount")
        .coalesce(1).write.format(classOf[LakeSimSource].getName)
        .option("path", dir).option("versioned", "true").mode(mode).save()
    def readV(v: Int) = spark.read.format(classOf[LakeSimSource].getName)
      .schema(schema).option("path", dir).option("versionAsOf", v.toString)
      .load().select($"id").as[Long].collect().toSet

    write(1 to 5, "overwrite")    // v1
    write(6 to 8, "append")       // v2
    write(20 to 21, "overwrite")  // v3: truncate — but versioned
    assert(LakeSimWrite.listVersions(new java.io.File(dir)) == Seq(1, 2, 3))
    assert(readV(1) == (1L to 5L).toSet)
    assert(readV(2) == (1L to 8L).toSet)
    assert(readV(3) == Set(20L, 21L))
    // latest == v3
    assert(readLake(dir).select($"id").as[Long].collect().toSet
      == Set(20L, 21L))
    // a pushed-count read of an old version answers from that index
    assert(spark.read.format(classOf[LakeSimSource].getName)
      .schema(schema).option("path", dir).option("versionAsOf", "2")
      .load().count() == 8)
    // streams reject a pinned version loudly
    val err = intercept[Exception] {
      spark.readStream.format(classOf[LakeSimSource].getName)
        .schema(schema).option("path", dir).option("versionAsOf", "1")
        .load().writeStream.format("noop")
        .option("checkpointLocation", s"$dir/../ck_tt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(err).exists(_.getMessage != null) &&
      chain(err).exists(c => Option(c.getMessage).exists(
        _.contains("versionAsOf is batch-only"))), err)
  }

  test("versioning invariants survive hostile sequences: name reuse " +
       "never clobbers history, a forgetful maintenance write preserves " +
       "it, and a phantom version self-repairs") {
    val dir = tempDir("lakesim_tt2").toString
    def write(ids: Range, mode: String, versionedOpt: Boolean): Unit = {
      val w = ids.map(i => (i.toLong, "A", i * 1.0))
        .toDF("id", "region", "amount")
        .coalesce(1).write.format(classOf[LakeSimSource].getName)
        .option("path", dir).mode(mode)
      (if (versionedOpt) w.option("versioned", "true") else w).save()
    }
    def readV(v: Int) = spark.read.format(classOf[LakeSimSource].getName)
      .schema(schema).option("path", dir).option("versionAsOf", v.toString)
      .load().select($"id").as[Long].collect().toSet

    // finding-1 shape: truncate shrinks the live index, then an append's
    // name picker must NOT claim a superseded-but-retained object name
    write(1 to 5, "overwrite", versionedOpt = true)   // v1: obj0
    write(6 to 9, "append", versionedOpt = true)      // v2: +obj1
    write(50 to 51, "overwrite", versionedOpt = true) // v3: truncate
    write(60 to 61, "append", versionedOpt = true)    // v4: append
    assert(readV(1) == (1L to 5L).toSet)  // v1 objects untouched
    assert(readV(2) == (1L to 9L).toSet)
    assert(readV(4) == Set(50L, 51L, 60L, 61L))
    // finding-2 shape: a writer that never heard of the option (the
    // compact maintenance path) still preserves history on a lake that
    // HAS versions
    write(70 to 72, "overwrite", versionedOpt = false) // v5 implied
    assert(LakeSimWrite.listVersions(new java.io.File(dir)).size == 5)
    assert(readV(1) == (1L to 5L).toSet)
    assert(readV(5) == Set(70L, 71L, 72L))
    // finding-3 shape: a phantom (version file without the index.json
    // swap) is dropped by the next commit's repair, and its number is
    // reissued to a REAL commit
    val phantom = new java.io.File(dir, "index_v6.json")
    java.nio.file.Files.writeString(phantom.toPath,
      """{"objects": [{"file": "objX.ndjson", "count": 1}]}""")
    write(80 to 80, "append", versionedOpt = true)
    assert(readV(6) == Set(70L, 71L, 72L, 80L)) // the real v6
    assert(LakeSimWrite.listVersions(new java.io.File(dir)).max == 6)
  }
}
