package graft.sources.lakesim

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 simulation of the reference's FSM cursor-paged extraction
  * (S6, `fsmwrapper.py:44-65, 97-115`): every page response is a JSON array
  * whose FIRST element is a header `{"_count": N, "_links": [self, next]}`
  * and whose remaining elements are records wrapped as `{"_fields": {...}}`.
  * The extract loop follows `_links[1].href` until a page declares
  * `_count = 0` or the chain cycles back.
  *
  * Spark-first split: the inherently sequential cursor walk happens ONCE,
  * driver-side, at planning time — and it reads only each page's header
  * line, not the records. Every page with records becomes one
  * InputPartition, so record decode + filter + projection run fully
  * parallel on the executors. That mirrors how the reference separates the
  * URL loop (single thread) from record parsing (per-agency threads), but
  * with the heavy half distributed.
  */
class CursorSimSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "cursorsim requires an explicit schema (metadata-driven, no inference)")

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    def req(k: String): String = Option(opts.get(k)).getOrElse(
      throw new IllegalArgumentException(s"cursorsim: '$k' option is required"))
    // transport binding: `path` → local files (the gate shape), `url` →
    // live HTTP (the reference's authenticated REST extract) — same
    // planner either way. HTTP auth, either: a static `bearer` token,
    // or the refreshing OAuth lifecycle via `tokenUrl` + `clientId` +
    // `clientSecret` [+ `scope`] (client-credentials grant; the provider
    // rides to the executors inside the partitions and each JVM
    // acquires/refreshes its own token)
    val transport: LakeTransport = Option(opts.get("url")) match {
      case Some(u) =>
        val provider = Option(opts.get("tokenUrl")).map { tu =>
          new OAuthTokenProvider(tu,
            newTokenForm = Map(
              "grant_type" -> "client_credentials",
              "client_id" -> req("clientId"),
              "client_secret" -> req("clientSecret")) ++
              Option(opts.get("scope")).map("scope" -> _),
            refreshExtraForm = Map("client_id" -> req("clientId")))
        }
        HttpTransport(u, Option(opts.get("bearer")),
          tokenProvider = provider)
      case None    => FileTransport(req("path"))
    }
    new CursorSimTable(transport, req("start"), schema)
  }
}

/** Cursor-chain walking + page parsing (pure functions, unit-testable). */
object CursorIndex {

  private val mapper = new ObjectMapper()

  final case class PageHeader(file: String, count: Long, next: Option[String])

  /** Header of one page: `_count` + the follow link (`_links[1]`,
    * like the reference's `get_next_url`). */
  def header(t: LakeTransport, file: String): PageHeader = {
    val root = mapper.readTree(LakeTransport.readAll(t, file))
    val h = root.get(0)
    val links = Option(h.get("_links")).map(_.elements().asScala.toSeq)
      .getOrElse(Seq.empty)
    PageHeader(file, h.get("_count").asLong(),
      links.lift(1).map(_.get("href").asText()))
  }

  /** Walk the cursor chain from `start`: pages with records, in order.
    * Stops on `_count = 0`, a missing next link, or a cycle (the
    * reference's base-URL loop guard generalized to a visited set). */
  def walk(t: LakeTransport, start: String): Seq[PageHeader] = {
    val out = Seq.newBuilder[PageHeader]
    var cur = Option(start)
    val visited = scala.collection.mutable.Set.empty[String]
    while (cur.isDefined && visited.add(cur.get)) {
      val h = header(t, cur.get)
      if (h.count == 0) cur = None
      else { out += h; cur = h.next }
    }
    out.result()
  }

  /** Sum of the per-page `_count` headers — the reference's counts.csv
    * totals (A2's declared count for reconciliation). */
  def declaredTotal(t: LakeTransport, start: String): Long =
    walk(t, start).map(_.count).sum

  /** Record value maps of one page: skip the header element, flatten each
    * record's `_fields`. */
  def pageRecords(t: LakeTransport, file: String): Iterator[Map[String, Any]] = {
    val root = mapper.readTree(LakeTransport.readAll(t, file))
    root.elements().asScala.drop(1).flatMap(rec =>
      Option(rec.get("_fields")).map(JsonRecords.valueMap))
  }
}

class CursorSimTable(transport: LakeTransport, start: String,
                     tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"cursorsim(${transport.base}/$start)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CursorSimScanBuilder(transport, start, tableSchema)
}

class CursorSimScanBuilder(transport: LakeTransport, start: String,
                           tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition(LakeIndex.supportedFilter)
    pushed = supported
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new CursorSimScan(transport, start, required, pushed)
}

class CursorSimScan(transport: LakeTransport, start: String,
                    required: StructType,
                    pushed: Array[Filter]) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"cursorsim base=${transport.base} start=$start " +
      s"pushed=[${pushed.mkString(", ")}] " +
      s"fields=[${required.fieldNames.mkString(",")}]"

  /** The driver-side cursor walk (headers only) → one partition per page.
    * Partitions carry the transport, so each page's record fetch runs on
    * its executor over the same binding (file or HTTP) the walk used. */
  override def planInputPartitions(): Array[InputPartition] =
    CursorIndex.walk(transport, start)
      .map(h => CursorSimPartition(transport, h.file, required,
        pushed): InputPartition)
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new CursorSimReaderFactory
}

final case class CursorSimPartition(transport: LakeTransport, file: String,
                                    required: StructType,
                                    pushed: Array[Filter]) extends InputPartition

class CursorSimReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new CursorSimPartitionReader(p.asInstanceOf[CursorSimPartition])
}

class CursorSimPartitionReader(p: CursorSimPartition)
    extends PartitionReader[InternalRow] {

  private val records = CursorIndex.pageRecords(p.transport, p.file)
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (records.hasNext) {
      val values = records.next()
      if (p.pushed.forall(f => LakeIndex.evalFilter(f, values))) {
        current = JsonRecords.toRow(values, p.required)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
