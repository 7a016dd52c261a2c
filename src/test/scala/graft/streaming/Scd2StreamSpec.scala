package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec

class Scd2StreamSpec extends SparkSpec {
  import spark.implicits._

  private def mkLog(rows: Seq[(Long, String, Long, String)]) =
    rows.toDF("user_id", "ts_s", "event_id", "event_type")
      .select($"user_id", to_timestamp($"ts_s").as("ts"), $"event_id",
        $"event_type")

  private val all = Seq(
    (1L, "2024-01-01 00:00:00", 1L, "A"),
    (1L, "2024-01-02 00:00:00", 2L, "B"),   // wave 1
    (1L, "2024-01-11 00:00:00", 3L, "B"),   // wave 2: same attr
    (2L, "2024-01-12 00:00:00", 4L, "C"),   // wave 2: NEW key
    (1L, "2024-01-21 00:00:00", 5L, "A"),   // wave 3: new run
    (2L, "2024-01-22 00:00:00", 6L, "D"))   // wave 3: new run

  private def histOf(df: org.apache.spark.sql.DataFrame) =
    df.select($"user_id", $"event_type", $"valid_from", $"valid_to",
        $"version", $"is_current")
      .collect().map(_.toSeq).toSet

  test("three staged waves fold into the full-recompute history; a " +
       "no-data run changes nothing; later waves may introduce new keys") {
    val base = tempDir("scd2stream")
    val src = s"$base/landing"
    val log = mkLog(all)
    def run(): Long = Scd2Stream.runAvailableNow(spark, src, log.schema,
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"),
      s"$base/state", s"$base/ckpt")
    def wave(lo: Int, hi: Int) =
      StreamWaves.stage(src,
        Seq(mkLog(all.filter(r => r._3 >= lo && r._3 <= hi))))
    wave(1, 2); assert(run() == 1L)
    wave(3, 4); assert(run() == 1L)
    wave(5, 6); assert(run() == 1L)
    assert(run() == 0L) // no new files
    val got = histOf(Scd2Stream.currentHistory(spark, s"$base/state"))
    val want = histOf(graft.operators.Scd2.fromChangeLog(log,
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id")))
    assert(got == want)
    // wave-2's same-attr observation did NOT mint a version
    assert(want.count(_.head == 1L) == 3)
  }

  test("a batch writes ONLY its keys' buckets; untouched bucket files " +
       "keep their mtimes across later batches (pruned-I/O pin)") {
    val base = tempDir("scd2stream")
    val src = s"$base/landing"
    val log = mkLog(all)
    def run(): Long = Scd2Stream.runAvailableNow(spark, src, log.schema,
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"),
      s"$base/state", s"$base/ckpt", targetRowsPerBucket = 1L)
    // one bucket per row: wave 1's three rows give K = 4 and wave 2's
    // one more keeps it there, so no batch rebuilds the snapshot
    // wave 1: both keys land (keys 1 and 2 → two buckets at K = 4)
    StreamWaves.stage(src, Seq(mkLog(all.take(2) :+ all(3))))
    assert(run() == 1L)
    val b0 = new java.io.File(s"$base/state/snap/batch_id=0")
    val b0Buckets = b0.listFiles().filter(_.getName.startsWith("_gbucket="))
    val expected = Seq(1L, 2L).toDF("user_id")
      .select(pmod(xxhash64($"user_id"), lit(4)).cast("int"))
      .distinct().count().toInt
    assert(b0Buckets.length == expected, b0Buckets.map(_.getName).toSeq)
    val mtimes = b0Buckets.flatMap(_.listFiles())
      .map(f => f.getPath -> f.lastModified()).toMap
    // wave 2 touches ONLY key 1 → only key 1's bucket in the new delta
    StreamWaves.stage(src, Seq(mkLog(Seq(all(4)))))
    assert(run() == 1L)
    val b1 = new java.io.File(s"$base/state/snap/batch_id=1")
    val b1Buckets = b1.listFiles().filter(_.getName.startsWith("_gbucket="))
    assert(b1Buckets.length == 1, b1Buckets.map(_.getName).toSeq)
    // batch-0 delta is untouched byte-for-byte (no rewrite of closed
    // history or of key 2's bucket)
    val after = b0.listFiles().filter(_.getName.startsWith("_gbucket="))
      .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified()).toMap
    assert(after == mtimes)
    // and the standing history is still the full recompute
    val got = histOf(Scd2Stream.currentHistory(spark, s"$base/state"))
    val want = histOf(graft.operators.Scd2.fromChangeLog(
      mkLog(all.take(2) ++ Seq(all(3), all(4))),
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id")))
    assert(got == want)
  }

  test("compact folds superseded bucket versions into the base: same " +
       "history before and after, absorbed deltas gone, and a post-" +
       "compact drain continues correctly") {
    val base = tempDir("scd2stream")
    val src = s"$base/landing"
    val log = mkLog(all)
    def run(): Long = Scd2Stream.runAvailableNow(spark, src, log.schema,
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"),
      s"$base/state", s"$base/ckpt", targetRowsPerBucket = 1L)
    def wave(lo: Int, hi: Int) =
      StreamWaves.stage(src,
        Seq(mkLog(all.filter(r => r._3 >= lo && r._3 <= hi))))
    wave(1, 2); assert(run() == 1L)
    wave(3, 4); assert(run() == 1L)
    val before = histOf(Scd2Stream.currentHistory(spark, s"$base/state"))
    Scd2Stream.compact(spark, s"$base/state")
    val afterCompact =
      histOf(Scd2Stream.currentHistory(spark, s"$base/state"))
    assert(afterCompact == before)
    // batch 0's delta was absorbed; the base and the newest delta remain
    val snap = new java.io.File(s"$base/state/snap")
    val dirs = snap.listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).toSet
    assert(dirs == Set("batch_id=-1", "batch_id=1"), dirs)
    // manifests pruned to the two live ones
    val manis = new java.io.File(s"$base/state/manifests")
      .listFiles().map(_.getName).filter(_.startsWith("manifest_")).toSet
    assert(manis == Set("manifest_0", "manifest_1"), manis)
    // the drain continues against the compacted state
    wave(5, 6); assert(run() == 1L)
    val got = histOf(Scd2Stream.currentHistory(spark, s"$base/state"))
    val want = histOf(graft.operators.Scd2.fromChangeLog(log,
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id")))
    assert(got == want)
    // idempotent: compacting twice is safe
    Scd2Stream.compact(spark, s"$base/state")
    Scd2Stream.compact(spark, s"$base/state")
    assert(histOf(Scd2Stream.currentHistory(spark, s"$base/state"))
      == want)
  }

  test("adaptive buckets: a small state folds through ONE bucket, growth " +
       "rebuilds under the larger K, and post-growth batches prune again") {
    val base = tempDir("scd2stream")
    val src = s"$base/landing"
    // waves: event-time-ordered per key (key 2 only appears in wave 1)
    val w1 = Seq(all(0), all(1), all(3))                  // keys 1, 2
    val w2 = Seq(all(4), (1L, "2024-01-22 00:00:00", 8L, "B")) // key 1
    val w3 = Seq((1L, "2024-01-25 00:00:00", 9L, "E"))         // key 1
    def run(): Long = Scd2Stream.runAvailableNow(spark, src,
      mkLog(all).schema, Seq("user_id"), "ts", Seq("event_type"),
      Seq("event_id"), s"$base/state", s"$base/ckpt",
      targetRowsPerBucket = 4L) // force growth with a handful of rows
    def snapDirs(id: Long) = {
      val d = new java.io.File(s"$base/state/snap/batch_id=$id")
      if (d.exists()) d.listFiles().map(_.getName)
        .filter(_.startsWith("_gbucket=")).toSeq.sorted
      else Seq.empty
    }
    def keysIn(id: Long) =
      spark.read.parquet(s"$base/state/snap/batch_id=$id")
        .select($"user_id").distinct().collect().map(_.getLong(0)).toSet
    // wave 1: 3 events → K = 1 (ceil(3/4)): exactly one bucket dir
    StreamWaves.stage(src, Seq(mkLog(w1)))
    assert(run() == 1L)
    assert(snapDirs(0) == Seq("_gbucket=0"), snapDirs(0))
    // wave 2: est = 3 history rows + 2 → K = 2: REBUILD re-shards
    // EVERYTHING — key 2's rows land in batch 1 though it wasn't in
    // the batch
    StreamWaves.stage(src, Seq(mkLog(w2)))
    assert(run() == 1L)
    assert(keysIn(1) == Set(1L, 2L), keysIn(1))
    // wave 3: est stays under 2 buckets' worth → K holds at 2 →
    // INCREMENTAL again: only key 1's bucket in the new delta
    StreamWaves.stage(src, Seq(mkLog(w3)))
    assert(run() == 1L)
    assert(keysIn(2) == Set(1L), keysIn(2))
    assert(snapDirs(2).size == 1, snapDirs(2))
    // and the standing history still equals the full batch recompute
    val got = histOf(Scd2Stream.currentHistory(spark, s"$base/state"))
    val want = histOf(graft.operators.Scd2.fromChangeLog(
      mkLog(w1 ++ w2 ++ w3),
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id")))
    assert(got == want)
    // deltas are coalesced: every bucket dir holds exactly one file
    Seq(0L, 1L, 2L).foreach { id =>
      new java.io.File(s"$base/state/snap/batch_id=$id")
        .listFiles().filter(_.getName.startsWith("_gbucket=")).foreach { b =>
          assert(b.listFiles().count(_.getName.endsWith(".parquet")) == 1,
            s"batch_id=$id/${b.getName}")
        }
    }
  }

  test("compact survives a crash between retiring the base and landing " +
       "the new one: the retired base is restored, never losing history") {
    val base = tempDir("scd2stream")
    val src = s"$base/landing"
    val log = mkLog(all)
    def run(): Long = Scd2Stream.runAvailableNow(spark, src, log.schema,
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"),
      s"$base/state", s"$base/ckpt", targetRowsPerBucket = 1L)
    def wave(lo: Int, hi: Int) =
      StreamWaves.stage(src,
        Seq(mkLog(all.filter(r => r._3 >= lo && r._3 <= hi))))
    wave(1, 2); assert(run() == 1L); wave(3, 4); assert(run() == 1L)
    Scd2Stream.compact(spark, s"$base/state")
    wave(5, 6); assert(run() == 1L)
    val want = histOf(Scd2Stream.currentHistory(spark, s"$base/state"))
    // simulate the crash window of a SECOND compaction: the old base
    // retired to snap_retired, the new one in snap_compacting (here
    // half-written) not yet landed
    val state = java.nio.file.Paths.get(s"$base/state")
    val baseDir = state.resolve("snap/batch_id=-1")
    val retired = state.resolve("snap_retired")
    val tmp = state.resolve("snap_compacting")
    java.nio.file.Files.createDirectories(tmp)
    java.nio.file.Files.write(tmp.resolve("garbage"), Array[Byte](1))
    java.nio.file.Files.move(baseDir, retired) // crash point
    // recovery: compact() first restores the retired base, then proceeds
    Scd2Stream.compact(spark, s"$base/state")
    assert(java.nio.file.Files.exists(baseDir))
    assert(!java.nio.file.Files.exists(retired))
    assert(!java.nio.file.Files.exists(tmp))
    assert(histOf(Scd2Stream.currentHistory(spark, s"$base/state"))
      == want)
    // partial-tmp-only crash (base intact): tmp is discarded
    java.nio.file.Files.createDirectories(tmp)
    java.nio.file.Files.write(tmp.resolve("garbage"), Array[Byte](1))
    Scd2Stream.compact(spark, s"$base/state")
    assert(!java.nio.file.Files.exists(tmp))
    assert(histOf(Scd2Stream.currentHistory(spark, s"$base/state"))
      == want)
  }

  test("an EMPTY micro-batch still lands its enriched/batch_id=N " +
       "directory (schema-only), so per-batch consumers never 404") {
    val base = tempDir("scd2stream")
    val src = s"$base/landing"
    val log = mkLog(all)
    def run(): Long = Scd2Stream.runEnrichAvailableNow(spark, src,
      log.schema, Seq("user_id"), "ts", Seq("event_type"),
      Seq("event_id"), factCols = Seq("event_id", "user_id", "ts"),
      s"$base/state", s"$base/ckpt")
    StreamWaves.stage(src, Seq(mkLog(all.take(2))))
    assert(run() == 1L)
    // an all-null-free but EMPTY wave: a zero-row parquet file
    StreamWaves.stage(src, Seq(mkLog(Seq.empty)))
    assert(run() == 1L)
    val e1 = spark.read.parquet(s"$base/state/enriched/batch_id=1")
    assert(e1.count() == 0)
    assert(e1.columns.contains("version"))
    // the non-empty batch's enrichment is intact
    val e0 = spark.read.parquet(s"$base/state/enriched/batch_id=0")
    assert(e0.count() == 2)
  }

  test("CDC mode: tombstone rows close the key's open interval in the " +
       "standing snapshot — no successor version, others unaffected, " +
       "an update and a later delete may share a batch") {
    val base = tempDir("scd2stream")
    val src = s"$base/landing"
    def mkCdc(rows: Seq[(Long, String, Long, String, String)]) =
      rows.toDF("user_id", "ts_s", "event_id", "event_type", "op")
        .select($"user_id", to_timestamp($"ts_s").as("ts"), $"event_id",
          $"event_type", $"op")
    val schema = mkCdc(Seq.empty).schema
    def run(): Long = Scd2Stream.runAvailableNow(spark, src, schema,
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"),
      s"$base/state", s"$base/ckpt", opCol = Some("op"))
    // wave 1: upserts for keys 1 and 2
    StreamWaves.stage(src, Seq(mkCdc(Seq(
      (1L, "2024-01-01 00:00:00", 1L, "A", "u"),
      (1L, "2024-01-02 00:00:00", 2L, "B", "u"),
      (2L, "2024-01-03 00:00:00", 3L, "C", "u")))))
    assert(run() == 1L)
    // wave 2: an update AND a later tombstone for key 1 in ONE batch,
    // plus a tombstone for an unknown key (no-op)
    StreamWaves.stage(src, Seq(mkCdc(Seq(
      (1L, "2024-01-10 00:00:00", 4L, "C", "u"),
      (1L, "2024-01-12 00:00:00", 5L, null, "d"),
      (9L, "2024-01-12 00:00:00", 6L, null, "d")))))
    assert(run() == 1L)
    val got = histOf(Scd2Stream.currentHistory(spark, s"$base/state"))
    val want = histOf(graft.operators.Scd2.applyDeletes(
      graft.operators.Scd2.fromChangeLog(
        mkLog(Seq(
          (1L, "2024-01-01 00:00:00", 1L, "A"),
          (1L, "2024-01-02 00:00:00", 2L, "B"),
          (2L, "2024-01-03 00:00:00", 3L, "C"),
          (1L, "2024-01-10 00:00:00", 4L, "C"))),
        Seq("user_id"), "ts", Seq("event_type"), Seq("event_id")),
      Seq((1L, "2024-01-12 00:00:00")).toDF("user_id", "ts_s")
        .select($"user_id", to_timestamp($"ts_s").as("ts")),
      Seq("user_id"), "ts"))
    assert(got == want)
    // key 1's open interval is closed; key 2 still current
    assert(got.exists(r => r.head == 2L && r(5) == true))
    assert(!got.exists(r => r.head == 1L && r(5) == true))
  }

  test("a manifest whose publishing rename fails fails its batch; the " +
       "replay publishes it and the history is unchanged") {
    spark.sparkContext.hadoopConfiguration.set("fs.failrename.impl",
      classOf[FailingRenameFileSystem].getName)
    val base = tempDir("scd2stream")
    val src = s"$base/landing"
    val state = s"failrename://$base/state"
    val log = mkLog(all)
    def run(): Long = Scd2Stream.runAvailableNow(spark, src, log.schema,
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"),
      state, s"$base/ckpt")
    def wave(lo: Int, hi: Int) =
      StreamWaves.stage(src,
        Seq(mkLog(all.filter(r => r._3 >= lo && r._3 <= hi))))
    wave(1, 2); assert(run() == 1L)
    wave(3, 4)
    val e = FailingRenameFileSystem.refusing(
        (_, dst) => dst.getName.startsWith("manifest_")) {
      intercept[Exception](run())
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("could not rename")))
    assert(run() == 1L) // the uncommitted batch replays
    wave(5, 6); assert(run() == 1L)
    val got = histOf(Scd2Stream.currentHistory(spark, state))
    val want = histOf(graft.operators.Scd2.fromChangeLog(log,
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id")))
    assert(got == want)
  }

  test("a manifest without its #k= header fails, naming the file") {
    val base = tempDir("scd2stream")
    val src = s"$base/landing"
    val log = mkLog(all)
    StreamWaves.stage(src, Seq(log))
    assert(Scd2Stream.runAvailableNow(spark, src, log.schema,
      Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"),
      s"$base/state", s"$base/ckpt") == 1L)
    val mani = java.nio.file.Paths.get(s"$base/state/manifests/manifest_0")
    import scala.jdk.CollectionConverters._
    val entries = java.nio.file.Files.readAllLines(mani).asScala
      .filterNot(_.startsWith("#"))
    java.nio.file.Files.write(mani, entries.mkString("\n").getBytes("UTF-8"))
    // the out-of-band rewrite invalidates Hadoop's local .crc sidecar
    java.nio.file.Files.deleteIfExists(mani.resolveSibling(".manifest_0.crc"))
    val e = intercept[IllegalStateException] {
      Scd2Stream.currentHistory(spark, s"$base/state")
    }
    assert(e.getMessage.contains("manifest_0"), e.getMessage)
  }

  test("currentHistory without any snapshot fails loudly") {
    val e = intercept[IllegalStateException] {
      Scd2Stream.currentHistory(spark, "/tmp/graft_scd2stream_nowhere")
    }
    assert(e.getMessage.contains("no snapshot"))
  }
}
