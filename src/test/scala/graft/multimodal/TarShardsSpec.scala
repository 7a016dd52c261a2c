package graft.multimodal

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.streaming.StreamWaves

class TarShardsSpec extends SparkSpec {
  import spark.implicits._

  /** Minimal ustar reader: (name, bytes) entries, checksum-verified. */
  private def readTar(path: String): Seq[(String, Array[Byte])] = {
    val all = Files.readAllBytes(Paths.get(path))
    val out = Seq.newBuilder[(String, Array[Byte])]
    var off = 0
    var done = false
    while (!done && off + 512 <= all.length) {
      val h = all.slice(off, off + 512)
      if (h.forall(_ == 0)) done = true
      else {
        val name = new String(h.takeWhile(_ != 0), UTF_8)
        val size = Integer.parseInt(
          new String(h.slice(124, 135), UTF_8).trim, 8)
        // verify the checksum (chksum field counted as spaces)
        val stated = Integer.parseInt(
          new String(h.slice(148, 154), UTF_8).trim, 8)
        val summed = h.zipWithIndex.map { case (b, i) =>
          if (i >= 148 && i < 156) ' '.toLong else (b & 0xFF).toLong
        }.sum
        assert(stated == summed, s"checksum mismatch for $name")
        assert(new String(h.slice(257, 262), UTF_8) == "ustar")
        val content = all.slice(off + 512, off + 512 + size)
        out += name -> content
        off += 512 + size + ((512 - size % 512) % 512)
      }
    }
    out.result()
  }

  test("tar shards round-trip: every sample lands exactly once as a " +
       ".bin/.json pair in key order, shards respect the byte budget, " +
       "the manifest matches the files, and a re-export is byte-identical") {
    val base = tempDir("graft_tar").toString
    val docs = (1L to 20L)
      .map(i => (i, s"payload-$i-${"x" * (i.toInt * 10)}".getBytes(UTF_8)))
      .toDF("media_id", "payload")
    def export() = TarShards.writeTarShards(docs, "media_id", "payload",
        s"$base/shards", shardBytes = 600L)
      .as[(Long, String, Long, Long)].collect().toSeq
    val manifest = export()
    assert(manifest.size >= 2, manifest) // budget forces multiple shards
    // manifest paths exist; per-shard payload bytes within budget plus
    // at most ONE sample's overshoot (the packShards prefix-sum
    // contract: a sample starts a new shard only when the bytes BEFORE
    // it cross the boundary)
    val maxSample = (1L to 20L)
      .map(i => s"payload-$i-${"x" * (i.toInt * 10)}".length).max
    manifest.foreach { case (_, path, nSamples, dataBytes) =>
      assert(Files.exists(Paths.get(path)), path)
      assert(nSamples > 0 && dataBytes <= 600L + maxSample,
        (path, dataBytes))
    }
    // read every tar back: each sample exactly once, .bin then .json,
    // entries in key order within and across shards
    val entries = manifest.sortBy(_._1).flatMap(m => readTar(m._2))
    val keys = entries.map(_._1).grouped(2).toSeq
    keys.foreach { pair =>
      assert(pair.size == 2 && pair(0).endsWith(".bin") &&
        pair(1).endsWith(".json") &&
        pair(0).stripSuffix(".bin") == pair(1).stripSuffix(".json"), pair)
    }
    val ids = keys.map(_.head.stripSuffix(".bin").toLong)
    assert(ids == (1L to 20L).toSeq, ids) // key order, nothing lost
    // payload bytes round-trip; json meta states the size
    val byId = entries.toMap
    for (i <- 1L to 20L) {
      val want = s"payload-$i-${"x" * (i.toInt * 10)}"
      assert(new String(byId("%012d".format(i) + ".bin"), UTF_8) == want)
      val meta = new String(byId("%012d".format(i) + ".json"), UTF_8)
      assert(meta.contains(s""""id": $i""") &&
        meta.contains(s""""n_bytes": ${want.length}"""), meta)
    }
    // deterministic re-export: byte-identical tars (mtime pinned to 0)
    val before = manifest.map(m => m._2 ->
      Files.readAllBytes(Paths.get(m._2)).toSeq).toMap
    export()
    manifest.foreach { m =>
      assert(Files.readAllBytes(Paths.get(m._2)).toSeq == before(m._2),
        s"re-export changed ${m._2}")
    }
    // the tars parse with the system tar as a sanity cross-check
    val rc = new ProcessBuilder("tar", "-tf", manifest.head._2)
      .redirectErrorStream(true).start().waitFor()
    assert(rc == 0, "system tar rejected the shard")
    // the distributed reader reproduces every sample
    val back = TarShards.readTarShards(spark, s"$base/shards")
      .select($"key".cast("long"), $"payload", $"meta_json")
      .as[(Long, Array[Byte], String)].collect().sortBy(_._1).toSeq
    assert(back.map(_._1) == (1L to 20L).toSeq)
    for ((id, payload, meta) <- back) {
      assert(new String(payload, UTF_8) ==
        s"payload-$id-${"x" * (id.toInt * 10)}")
      assert(meta.contains(s""""id": $id"""))
    }
  }

  test("null payloads export as empty entries; an over-budget payload " +
       "lands alone instead of failing") {
    val base = tempDir("graft_tar2").toString
    val docs = Seq(
      (1L, Some("small".getBytes(UTF_8))),
      (2L, None),
      (3L, Some(("y" * 5000).getBytes(UTF_8)))) // over the 1k budget
      .toDF("media_id", "payload")
    val manifest = TarShards.writeTarShards(docs, "media_id", "payload",
        s"$base/shards", shardBytes = 1000L)
      .as[(Long, String, Long, Long)].collect().toSeq
    val entries = manifest.sortBy(_._1).flatMap(m => readTar(m._2))
    val ids = entries.map(_._1).filter(_.endsWith(".bin"))
      .map(_.stripSuffix(".bin").toLong)
    assert(ids == Seq(1L, 2L, 3L))
    val byId = entries.toMap
    assert(byId("%012d".format(2L) + ".bin").isEmpty)
    assert(byId("%012d".format(3L) + ".bin").length == 5000)
  }

  test("streaming export ships each wave as its own batch_id dir; the " +
       "glob re-import equals the corpus exactly once; a no-data drain " +
       "adds nothing") {
    val base = tempDir("graft_tar4").toString
    val docs = (1L to 9L)
      .map(i => (i, s"payload-$i".getBytes(UTF_8))).toDF("media_id", "payload")
    def run(): Long = TarShards.streamExportAvailableNow(spark,
      s"$base/landing", docs.schema, "media_id", "payload",
      s"$base/out", s"$base/ckpt", shardBytes = 1L << 20)
    StreamWaves.stage(s"$base/landing", Seq(docs.filter($"media_id" <= 4)))
    assert(run() == 1L)
    StreamWaves.stage(s"$base/landing", Seq(docs.filter($"media_id" > 4)))
    assert(run() == 1L)
    assert(run() == 0L) // replay drain: no new batch dirs with samples
    import scala.jdk.CollectionConverters._
    val batchDirs = Files.list(Paths.get(s"$base/out")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("batch_id=")).toSeq
    assert(batchDirs.sorted == Seq("batch_id=0", "batch_id=1"))
    val back = TarShards.readTarShards(spark, s"$base/out/batch_id=*")
      .select($"key".cast("long"), $"payload".cast("string"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back == (1L to 9L).map(i => (i, s"payload-$i")))
  }

  test("a shard violating the .bin/.json pairing contract fails LOUDLY " +
       "on read — never a silent partial-sample drop") {
    val base = tempDir("graft_tar3").toString
    TarShards.writeTarShards(
      Seq((1L, "a".getBytes(UTF_8)), (2L, "bb".getBytes(UTF_8)))
        .toDF("media_id", "payload"),
      "media_id", "payload", s"$base/shards", shardBytes = 1L << 20)
    import scala.jdk.CollectionConverters._
    val tar = Files.list(Paths.get(s"$base/shards")).iterator()
      .asScala.map(_.toString).find(_.endsWith(".tar")).get
    // drop the FIRST tar entry (header block + rounded data blocks):
    // the remaining entries are checksum-valid but phase-shifted, so
    // every sample is mispaired (.json arrives where .bin is expected)
    val bytes = Files.readAllBytes(Paths.get(tar))
    val size = java.lang.Long.parseLong(
      new String(bytes, 124, 11, "US-ASCII").trim, 8)
    val skip = 512 + (((size + 511) / 512) * 512).toInt
    val badDir = Files.createDirectories(Paths.get(s"$base/bad"))
    Files.write(badDir.resolve("shard-00000.tar"), bytes.drop(skip))
    val err = intercept[org.apache.spark.SparkException] {
      TarShards.readTarShards(spark, badDir.toString).collect()
    }
    def causeChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causeChain(err).exists(c =>
      c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("pairing")), err.getMessage)
  }

  test("a directory with no shard fails as a missing path") {
    val empty = tempDir("graft_tar_none").toString
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      TarShards.readTarShards(spark, empty)
    }
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }
}
