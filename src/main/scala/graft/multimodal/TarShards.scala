package graft.multimodal

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, col, length, lit}
import org.apache.spark.sql.types._

import graft.functions.Sharding

/** WebDataset-style tar shard EXPORT — the delivery format multimodal
  * training loaders consume (one tar per shard; each sample is two
  * entries, `<key>.bin` payload + `<key>.json` metadata, keys
  * zero-padded so tar order is sample order). The export composes the
  * engine's existing pieces Spark-first:
  *
  *   - shard assignment is [[Sharding.packShards]] on the payload byte
  *     size — the distributed range-exchange prefix sum (no global
  *     window), so shards are size-bounded (`shardBytes`) and sample
  *     order within/across shards follows the key column
  *     deterministically;
  *   - each shard's rows co-locate via one hash exchange on `shard_id`
  *     and stream through a per-partition writer task in key order —
  *     one pass, no driver data, payloads never re-shuffle after the
  *     exchange;
  *   - tars are plain POSIX ustar written through the Hadoop FS API
  *     (runs on s3a:// unchanged), mtime pinned to 0 so a re-export is
  *     byte-identical — the reproducibility contract a training-data
  *     release needs.
  *
  * Returns the shard manifest (shard_id, path, n_samples, data_bytes)
  * — the index a loader shuffles/samples from. A crashed export re-runs
  * whole (tars overwrite by name); partial tars are never readable
  * because the manifest is computed from the completed write. */
object TarShards {

  /** Write `(idCol: bigint, payloadCol: binary)` rows as size-bounded
    * tar shards under `outDir` (`shard-NNNNNN.tar`). `shardBytes`
    * bounds per-shard PAYLOAD bytes to within one sample's overshoot
    * (the [[Sharding.packShards]] prefix-sum contract: a sample opens a
    * new shard only when the bytes before it cross the boundary; tar
    * adds 512-byte headers + padding on top); a single over-budget
    * payload still lands (alone in its shard) rather than failing the
    * export. */
  def writeTarShards(df: DataFrame, idCol: String, payloadCol: String,
                     outDir: String, shardBytes: Long,
                     metaCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    // optional caller-authored sidecar JSON (e.g. the caption half of an
    // image-text pair — WebDataset samples carry BOTH modalities);
    // default stays the writer's {"id", "n_bytes"} stamp
    val metaSel = metaCol.map(c => col(c).cast("string")).toSeq
    val sized = df.select(col(idCol) +: col(payloadCol) +: metaSel: _*)
      .withColumn("_graft_w", coalesce(length(col(payloadCol)), lit(0)))
    val packed = Sharding.packShards(sized, idCol, "_graft_w", shardBytes)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val outSchema = StructType(Seq(
      StructField("shard_id", LongType), StructField("path", StringType),
      StructField("n_samples", LongType),
      StructField("data_bytes", LongType)))
    val rows = packed
      .select(col("shard_id") +: col(idCol) +: col(payloadCol) +:
        metaCol.map(c => col(c)).toSeq: _*)
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col(idCol))
      .rdd.mapPartitions { it =>
        val manifests = Seq.newBuilder[Row]
        var cur: TarWriter = null
        var curShard = -1L
        var n = 0L
        var bytes = 0L
        def close(): Unit = if (cur != null) {
          cur.finish()
          manifests += Row(curShard, cur.path, n, bytes)
          cur = null
        }
        it.foreach { r =>
          val shard = r.getLong(0)
          val id = r.getLong(1)
          val payload = Option(r.getAs[Array[Byte]](2))
            .getOrElse(Array.emptyByteArray)
          if (cur == null || shard != curShard) {
            close()
            curShard = shard
            n = 0L
            bytes = 0L
            cur = new TarWriter(
              s"$outDir/shard-${"%06d".format(shard)}.tar", hconf.value)
          }
          val key = "%012d".format(id)
          cur.addEntry(s"$key.bin", payload)
          val meta =
            if (r.size > 3 && !r.isNullAt(3)) r.getString(3)
            else s"""{"id": $id, "n_bytes": ${payload.length}}"""
          cur.addEntry(s"$key.json", meta.getBytes(UTF_8))
          n += 1
          bytes += payload.length
        }
        close()
        manifests.result().iterator
      }
    // localCheckpoint forces the side-effecting write exactly once and
    // pins the manifest — re-consuming the result never re-writes tars
    spark.createDataFrame(rows, outSchema).localCheckpoint()
      .orderBy(col("shard_id"))
  }

  /** CONTINUOUS WebDataset export: drain `sourcePath` with AvailableNow,
    * each micro-batch exporting through [[writeTarShards]] into its own
    * `batch_id=N` shard directory. Replay-safe by construction: a
    * replayed batch re-derives the identical shard assignment from its
    * (checkpoint-pinned) content and `TarWriter` overwrites — the same
    * bytes land, never duplicate samples. Shard ids restart per batch;
    * global addressing is (batch dir, shard file), and
    * [[readTarShards]] accepts the `outDir/batch_id=*` glob directly.
    * This is the production shape for a crawl that keeps landing:
    * shards ship as their batch completes, no global repack. Returns
    * the number of micro-batches processed. */
  def streamExportAvailableNow(spark: org.apache.spark.sql.SparkSession,
                               sourcePath: String, schema: StructType,
                               idCol: String, payloadCol: String,
                               outDir: String, checkpointPath: String,
                               shardBytes: Long): Long =
    graft.streaming.StreamState.drain(graft.streaming.StreamWaves
        .reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty)
        writeTarShards(batch, idCol, payloadCol,
          s"$outDir/batch_id=$batchId", shardBytes)
      ()
    })

  /** Read tar shards back as one row per SAMPLE — the loader side of
    * the round trip: `(shard_path, key, payload, meta_json)`, pairing
    * each `<key>.bin` with its `<key>.json`. Built on Spark's
    * `binaryFile` source (one task per shard; a shard is size-bounded
    * by construction, so whole-file materialization is bounded too) +
    * the shared ustar parser. The export→import identity is gated
    * (q172): re-reading an exported corpus must reproduce every
    * payload byte. */
  def readTarShards(spark: org.apache.spark.sql.SparkSession,
                    shardsDir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("shard_path", StringType),
      StructField("key", StringType),
      StructField("payload", BinaryType),
      StructField("meta_json", StringType)))
    // the glob expands here: handed to `load`, a single glob path is
    // stat-ed as a literal first, which logs a FileNotFoundException
    val glob = new Path(s"$shardsDir/*.tar")
    val shards = Option(glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .globStatus(glob)).toSeq.flatten.map(_.getPath.toString)
    // no shard: load the glob itself, which fails as a missing path
    val rows = spark.read.format("binaryFile")
      .load((if (shards.isEmpty) Seq(glob.toString) else shards): _*)
      .select(col("path"), col("content"))
      .rdd.flatMap { r =>
        val path = r.getString(0)
        val entries = parseTar(r.getAs[Array[Byte]](1))
        // entries arrive .bin-then-.json per key by the writer contract;
        // a mispairing fails LOUDLY (same contract as parseTar's
        // checksum) — a silent drop here would yield partial samples, a
        // phase shift would drop everything after it
        entries.grouped(2).map {
          case Seq((bin, payload), (json, meta))
              if bin.endsWith(".bin") && json.endsWith(".json") &&
                bin.stripSuffix(".bin") == json.stripSuffix(".json") =>
            Row(path, bin.stripSuffix(".bin"), payload,
              new String(meta, UTF_8))
          case other =>
            throw new IllegalStateException(
              s"readTarShards: $path violates the .bin/.json pairing " +
                s"contract at entries [${other.map(_._1).mkString(", ")}]")
        }
      }
    spark.createDataFrame(rows, outSchema)
  }

  /** Parse a ustar archive to (name, content) entries, checksum-verified
    * — a corrupted shard fails loudly, never yields partial samples. */
  private[multimodal] def parseTar(bytes: Array[Byte])
      : Seq[(String, Array[Byte])] = {
    val out = Seq.newBuilder[(String, Array[Byte])]
    var off = 0
    var done = false
    while (!done && off + 512 <= bytes.length) {
      if (bytes.slice(off, off + 512).forall(_ == 0)) done = true
      else {
        val h = bytes.slice(off, off + 512)
        val name = new String(h.takeWhile(_ != 0), UTF_8)
        val size = java.lang.Long.parseLong(
          new String(h.slice(124, 135), UTF_8).trim, 8).toInt
        val stated = java.lang.Long.parseLong(
          new String(h.slice(148, 154), UTF_8).trim, 8)
        val summed = h.zipWithIndex.map { case (b, i) =>
          if (i >= 148 && i < 156) ' '.toLong else (b & 0xFF).toLong
        }.sum
        if (stated != summed)
          throw new java.io.IOException(
            s"tar shard corrupt: checksum mismatch at entry '$name'")
        out += name -> bytes.slice(off + 512, off + 512 + size)
        off += 512 + size + ((512 - size % 512) % 512)
      }
    }
    out.result()
  }

  /** Minimal POSIX ustar writer over the Hadoop FS (no external deps):
    * 512-byte headers, octal size/checksum fields, content padded to
    * block size, two zero blocks at the end. mtime = 0 → deterministic
    * bytes for identical input. */
  private final class TarWriter(val path: String,
                                conf: org.apache.hadoop.conf.Configuration) {
    private val p = new Path(path)
    private val out = p.getFileSystem(conf).create(p, true)
    private val zero = new Array[Byte](512)

    def addEntry(name: String, content: Array[Byte]): Unit = {
      out.write(header(name, content.length))
      out.write(content)
      val pad = (512 - content.length % 512) % 512
      if (pad > 0) out.write(zero, 0, pad)
    }

    def finish(): Unit = {
      out.write(zero)
      out.write(zero)
      out.close()
    }

    private def header(name: String, size: Int): Array[Byte] = {
      require(name.getBytes(UTF_8).length <= 100,
        s"tar entry name too long: $name")
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit = {
        val b = s.getBytes(UTF_8)
        System.arraycopy(b, 0, h, off, b.length)
      }
      def putOctal(off: Int, width: Int, v: Long): Unit =
        put(off, ("%0" + (width - 1) + "o").format(v))
      put(0, name)                    // name
      putOctal(100, 8, 420L)          // mode 0644
      putOctal(108, 8, 0L)            // uid
      putOctal(116, 8, 0L)            // gid
      putOctal(124, 12, size.toLong)  // size
      putOctal(136, 12, 0L)           // mtime = 0: deterministic bytes
      java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum as spaces
      h(156) = '0'                    // typeflag: regular file
      put(257, "ustar")               // magic (NUL-terminated via array)
      put(263, "00")                  // version
      val sum = h.foldLeft(0L)((a, b) => a + (b & 0xFF))
      put(148, "%06o".format(sum))
      h(154) = 0
      h(155) = ' '
      h
    }
  }
}
