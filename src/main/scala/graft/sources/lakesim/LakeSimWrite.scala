package graft.sources.lakesim

import java.io.{BufferedWriter, File, FileWriter}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** DSv2 WRITE path for the simulated lake — the reference's push side
  * (`utilities/aws/s3.py:6-28` uploads the extracted files back to object
  * storage): each task writes one NDJSON object, the job commit publishes
  * them plus a rebuilt `index.json`, so a written lake is immediately
  * scannable (with range pruning) by [[LakeSimSource]].
  *
  * Commit protocol (the part that matters at scale):
  *   - every task writes to a uniquely-named `_tmp-…` file and reports
  *     (file, count, per-field numeric ranges) in its commit message —
  *     nothing is visible until the driver commits;
  *   - job commit renames temp files to `objN.ndjson` and writes the index
  *     in one pass; a failed/speculative task's temp file is just deleted
  *     (`abort`), so partial writes can never corrupt the lake;
  *   - append mode keeps existing objects and extends the index; truncate
  *     (SaveMode.Overwrite) publishes the new objects under fresh names
  *     FIRST, swaps the index, and only then removes the objects the old
  *     index listed — the index write is the commit point, so an overwrite
  *     aborted anywhere before it leaves the old lake fully intact.
  *
  * The per-field ranges computed task-side are what makes the written lake
  * split-prunable on read — the same metadata the reference's
  * data-object-properties scan serves (`datalakewrapper.py:88-102`).
  *
  * OBJECT-STORE story (the reference's real sink is S3,
  * `utilities/aws/s3.py:6-28`): the protocol needs exactly TWO primitives
  * from the store — (1) an atomic single-object PUT for `index.json` (S3
  * PUT is atomic) and (2) immutable object writes. It needs NO rename and
  * NO listing: objects are INVISIBLE to readers until the index names
  * them, so publishing a data object non-atomically is safe, and reads
  * never enumerate the bucket (the index is the only listing). The
  * `publish=copy` write option switches the local rename publish to a
  * copy-then-delete publish — the exact primitive set an S3 binding has —
  * and the spec drives the whole commit/truncate protocol through it.
  * Under the Hadoop FS API the same layout runs on s3a:// unchanged.
  */
final case class LakeSimCommit(tmpFile: String, count: Long,
                               ranges: Map[String, (Double, Double)],
                               blooms: Map[String, Array[Long]] = Map.empty)
    extends WriterCommitMessage

class LakeSimWriteBuilder(path: String, schema: StructType,
                          copyPublish: Boolean = false,
                          versioned: Boolean = false,
                          bloomFields: Set[String] = Set.empty)
    extends WriteBuilder with SupportsTruncate {
  private var truncateAll = false
  override def truncate(): WriteBuilder = { truncateAll = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new LakeSimBatchWrite(path, schema, truncateAll, copyPublish, versioned,
        bloomFields)
  }
}

/** SINGLE-WRITER contract: the index-swap commit protocol serializes
  * readers against ONE writer (readers see the old or new object set,
  * never a mix), but two concurrent writers can interleave their
  * load-index → publish → write-index sequences and silently lose one
  * writer's objects (or resurrect truncated ones). There is no lock
  * file — external coordination (one writer job per lake at a time) is
  * the caller's job. As a safety net the job SNAPSHOTS the index when
  * the write starts and re-reads it at the commit point: a concurrent
  * commit in between fails THIS job with a clear error before it can
  * publish over the other writer's index, leaving the lake exactly as
  * the other writer committed it. */
class LakeSimBatchWrite(path: String, schema: StructType,
                        truncateAll: Boolean, copyPublish: Boolean = false,
                        versioned: Boolean = false,
                        bloomFields: Set[String] = Set.empty)
    extends BatchWrite {

  // driver-side, at job start (build time) — the baseline the commit
  // compares against to detect an interleaved writer
  private val indexAtStart: Option[String] = readIndexContent()

  // BLOOMED-NESS IS LAKE STATE, like versioned-ness: once an index
  // declares bloom fields, every writer — including maintenance jobs
  // (LakeOptimize.compact) that never heard of the option — keeps
  // computing blooms for them, or one forgetful rewrite would silently
  // degrade every future point lookup to range-only pruning
  private val effBloomFields: Set[String] =
    bloomFields ++ indexAtStart.map(LakeSimWrite.declaredBloomFields)
      .getOrElse(Set.empty)

  private def readIndexContent(): Option[String] = {
    val f = new File(new File(path), "index.json")
    if (f.exists()) Some(java.nio.file.Files.readString(f.toPath)) else None
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = LakeSimWriterFactory(path, schema, effBloomFields)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new File(path)
    dir.mkdirs()
    if (readIndexContent() != indexAtStart)
      throw new java.io.IOException(
        s"lakesim commit: concurrent writer detected on $path - " +
        "index.json changed since this write job started; the lake is " +
        "single-writer by contract (coordinate jobs externally). This " +
        "job aborts without publishing; the other writer's commit stands.")
    val hadIndex = new File(dir, "index.json").exists()
    val old = if (hadIndex) LakeIndex.load(path) else Seq.empty
    val existing = if (truncateAll) Seq.empty else old
    val fresh = messages.collect { case m: LakeSimCommit if m.count > 0 => m }
    // VERSIONED-NESS IS LAKE STATE, not a per-write assertion: once any
    // index_vN.json exists, every writer — including maintenance jobs
    // like LakeOptimize.compact that never heard of the option —
    // preserves history, or a single forgetful truncate would delete
    // objects the version indexes still reference
    val priorVersions = LakeSimWrite.listVersions(dir)
    val effVersioned = versioned || priorVersions.nonEmpty
    // repair a PHANTOM version (a crash between the index_vN write and
    // the index.json swap): after any completed commit the newest
    // version file's content equals the live index, so a newest version
    // that differs never committed — drop the version file before
    // numbering, or the never-visible commit stays readable forever
    if (effVersioned && hadIndex) priorVersions.lastOption.foreach { v =>
      val vf = new File(dir, LakeIndex.indexFileFor(v))
      if (java.nio.file.Files.readString(vf.toPath) !=
          java.nio.file.Files.readString(new File(dir, "index.json").toPath))
        vf.delete()
    }
    // publish new objects under names that collide with NOTHING — the
    // live index's names, AND every .ndjson already on disk: a versioned
    // lake keeps superseded objects alive for old version indexes, and
    // an unversioned lake may hold a crashed commit's orphan; claiming
    // either name would silently corrupt history (or need an overwrite).
    // A rename failure here aborts with the old index fully intact.
    val used = scala.collection.mutable.Set(old.map(_.file): _*)
    used ++= Option(dir.list()).getOrElse(Array.empty[String])
      .filter(n => n.endsWith(".ndjson") && !n.startsWith("_tmp"))
    val published = fresh.map { m =>
      val name = Iterator.from(used.size)
        .map(i => s"obj$i.ndjson").find(!used.contains(_)).get
      used += name
      val src = new File(dir, m.tmpFile)
      if (copyPublish) {
        // rename-free publish (the object-store primitive set): the copy
        // is non-atomic but the object is invisible until the index swap.
        // The picker reserves on-disk names, so a crashed commit's
        // orphan is skipped, not overwritten; REPLACE_EXISTING stays as
        // the S3-PUT-semantics backstop against races the listing missed
        java.nio.file.Files.copy(src.toPath, new File(dir, name).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.delete(src.toPath)
      } else if (!src.renameTo(new File(dir, name)))
        throw new java.io.IOException(
          s"lakesim commit: cannot publish ${m.tmpFile} as $name")
      ObjectEntry(name, m.count, m.ranges, m.blooms)
    }
    // the index write is the commit's swap point: readers see either the
    // old object set or the new one, never a half-deleted mix. Under
    // `versioned=true` every commit ALSO lands as `index_vN.json`
    // BEFORE the swap (invisible to latest-readers until then), and
    // truncate keeps the superseded objects on disk — older versions
    // still reference them.
    if (effVersioned) {
      val next = 1 + LakeSimWrite.listVersions(dir).foldLeft(0)(math.max)
      writeIndex(dir, existing ++ published,
        LakeIndex.indexFileFor(next))
    }
    writeIndex(dir, existing ++ published, "index.json")
    if (truncateAll && !effVersioned)
      old.foreach(e => new File(dir, e.file).delete())
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: LakeSimCommit => new File(new File(path), m.tmpFile).delete()
      case _ =>
    }

  private def writeIndex(dir: File, entries: Seq[ObjectEntry],
                         indexFile: String): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    if (effBloomFields.nonEmpty) {
      val bf = root.putArray("bloomFields")
      effBloomFields.toSeq.sorted.foreach(bf.add)
    }
    val arr = root.putArray("objects")
    entries.foreach { e =>
      val o = arr.addObject()
      o.put("file", e.file)
      o.put("count", e.count)
      val r = o.putObject("ranges")
      e.ranges.toSeq.sortBy(_._1).foreach { case (f, (lo, hi)) =>
        val a = r.putArray(f); a.add(lo); a.add(hi)
      }
      if (e.blooms.nonEmpty) {
        val bl = o.putObject("blooms")
        e.blooms.toSeq.sortBy(_._1).foreach { case (f, bits) =>
          bl.put(f, LakeBloom.toBase64(bits))
        }
      }
    }
    java.nio.file.Files.writeString(
      new File(dir, indexFile).toPath, mapper.writeValueAsString(root))
  }
}

final case class LakeSimWriterFactory(path: String, schema: StructType,
                                      bloomFields: Set[String] = Set.empty)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new LakeSimDataWriter(path, schema, partitionId, taskId, bloomFields)
}

/** One task = one candidate data object. Tracks numeric min/max per field
  * (and, for `bloomFields`, a [[LakeBloom]] bit array) while streaming
  * rows out, so the index metadata costs nothing extra. */
class LakeSimDataWriter(path: String, schema: StructType,
                        partitionId: Int, taskId: Long,
                        bloomFields: Set[String] = Set.empty)
    extends DataWriter[InternalRow] {

  private val mapper = new ObjectMapper()
  private val tmpName = s"_tmp-$partitionId-$taskId.ndjson"
  private var out: BufferedWriter = _
  private var count = 0L
  private val lo = scala.collection.mutable.Map.empty[String, Double]
  private val hi = scala.collection.mutable.Map.empty[String, Double]
  private val blooms = scala.collection.mutable.Map.empty[String, Array[Long]]

  private def bloomAdd(f: String, v: Any): Unit =
    if (bloomFields.contains(f)) LakeBloom.keyOf(v).foreach(
      LakeBloom.add(blooms.getOrElseUpdate(f, LakeBloom.empty()), _))

  override def write(row: InternalRow): Unit = {
    if (out == null) {
      new File(path).mkdirs()
      out = new BufferedWriter(new FileWriter(new File(path, tmpName)))
    }
    val node = mapper.createObjectNode()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) f.dataType match {
        // null fields are OMITTED — NDJSON records carry only present keys
        case LongType =>
          val v = row.getLong(i); node.put(f.name, v)
          range(f.name, v.toDouble); bloomAdd(f.name, v)
        case IntegerType =>
          val v = row.getInt(i); node.put(f.name, v)
          range(f.name, v.toDouble); bloomAdd(f.name, v)
        case DoubleType =>
          val v = row.getDouble(i); node.put(f.name, v); range(f.name, v)
        case BooleanType => node.put(f.name, row.getBoolean(i))
        case StringType =>
          val v = row.getUTF8String(i).toString
          node.put(f.name, v); bloomAdd(f.name, v)
        case other => throw new UnsupportedOperationException(
          s"lakesim write: unsupported type ${other.simpleString} (${f.name})")
      }
    }
    out.write(mapper.writeValueAsString(node))
    out.newLine()
    count += 1
  }

  private def range(f: String, v: Double): Unit = {
    lo.update(f, math.min(lo.getOrElse(f, v), v))
    hi.update(f, math.max(hi.getOrElse(f, v), v))
  }

  override def commit(): WriterCommitMessage = {
    close()
    LakeSimCommit(tmpName, count,
      lo.keys.map(f => f -> (lo(f), hi(f))).toMap, blooms.toMap)
  }

  override def abort(): Unit = {
    close()
    new File(new File(path), tmpName).delete()
    ()
  }

  override def close(): Unit =
    if (out != null) { out.close(); out = null }
}

object LakeSimWrite {
  private val VersionRe = """index_v(\d+)\.json""".r

  /** Commit versions present on disk (ascending). */
  def listVersions(dir: File): Seq[Int] =
    Option(dir.list()).getOrElse(Array.empty[String]).toSeq
      .collect { case VersionRe(n) => n.toInt }.sorted

  /** The bloom fields an index declares as lake state (top-level
    * `bloomFields` array; absent on pre-bloom lakes). */
  def declaredBloomFields(indexContent: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = new ObjectMapper().readTree(indexContent)
    Option(root.get("bloomFields"))
      .map(_.elements().asScala.map(_.asText()).toSet)
      .getOrElse(Set.empty)
  }
}
