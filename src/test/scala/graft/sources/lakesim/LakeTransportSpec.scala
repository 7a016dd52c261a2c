package graft.sources.lakesim

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.types._
import graft.SparkSpec

/** The HTTP binding of the lake transport seam: the SAME planners
  * ([[CursorIndex]] walk, [[LakeIndex]] load, the cursorsim DSv2 source)
  * that the gates run against local files, driven here over live HTTP —
  * bearer header sent (reference `fsmwrapper.py:30-36`), non-200 raised
  * with the body text (`datalakewrapper.py:83-84`), cursor chain followed
  * page by page (`fsmwrapper.py:92-103`). The server is an in-process
  * JDK HttpServer on localhost serving the reference's response shapes. */
class LakeTransportSpec extends SparkSpec {
  import spark.implicits._

  /** In-memory lake: path → body; records every Authorization header. */
  private def withServer(resources: Map[String, String])
                        (f: (String, ConcurrentHashMap[String, String]) => Unit)
      : Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val seenAuth = new ConcurrentHashMap[String, String]()
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath.stripPrefix("/")
      Option(ex.getRequestHeaders.getFirst("Authorization"))
        .foreach(a => seenAuth.put(path, a))
      resources.get(path) match {
        case Some(body) =>
          val bytes = body.getBytes(UTF_8)
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
        case None =>
          val bytes = s"no such object: $path".getBytes(UTF_8)
          ex.sendResponseHeaders(404, bytes.length)
          ex.getResponseBody.write(bytes)
      }
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", seenAuth)
    finally server.stop(0)
  }

  private def page(file: String, next: String, ids: Seq[Int]): String = {
    val header =
      s"""{"_count": ${ids.length}, "_links": [{"href": "$file"}, {"href": "$next"}]}"""
    val recs = ids.map(i =>
      s"""{"_fields": {"id": $i, "amount": ${i * 10}.5, "status": "s$i"}}""")
    (header +: recs).mkString("[", ",", "]")
  }

  private val pages = Map(
    "page0.json" -> page("page0.json", "page1.json", Seq(1, 2, 3)),
    "page1.json" -> page("page1.json", "page2.json", Seq(4, 5)),
    "page2.json" ->
      """[{"_count": 0, "_links": [{"href": "page2.json"}, {"href": "page0.json"}]}]""")

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("amount", DoubleType),
    StructField("status", StringType)))

  test("CursorIndex walks the chain over HTTP exactly as over files, " +
       "sending the bearer token on every page fetch") {
    withServer(pages) { (base, seenAuth) =>
      val t = HttpTransport(base, bearerToken = Some("tok-123"))
      val walked = CursorIndex.walk(t, "page0.json")
      assert(walked.map(_.file) == Seq("page0.json", "page1.json"))
      assert(CursorIndex.declaredTotal(t, "page0.json") == 5L)
      val recs = CursorIndex.pageRecords(t, "page1.json").toSeq
      assert(recs.map(_("id")) == Seq(4L, 5L))
      // every fetch carried the Authorization header
      assert(seenAuth.get("page0.json") == "Bearer tok-123")
      assert(seenAuth.get("page1.json") == "Bearer tok-123")
      assert(seenAuth.get("page2.json") == "Bearer tok-123")
    }
  }

  test("the cursorsim DSv2 source binds to HTTP via the url option — " +
       "full scan + pushdown, no planner change") {
    withServer(pages) { (base, _) =>
      def scan = spark.read.format(classOf[CursorSimSource].getName)
        .schema(schema).option("url", base).option("bearer", "tok-9")
        .option("start", "page0.json").load()
      val out = scan.orderBy("id").as[(Long, Double, String)].collect().toSeq
      assert(out.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
      assert(out.head == ((1L, 10.5, "s1")))
      // pushdown still reaches the reader over the HTTP binding
      val pushed = scan.filter($"id" > 2).select("id")
      assert(pushed.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(3L, 4L, 5L))
      assert(pushed.queryExecution.executedPlan.toString
        .contains("GreaterThan"))
    }
  }

  test("LakeIndex.load reads the object-properties listing over HTTP") {
    val idx =
      """{"objects": [
        |  {"file": "o1.ndjson", "count": 2, "ranges": {"id": [1, 2]}},
        |  {"file": "o2.ndjson", "count": 1, "ranges": {"id": [5, 9]}}]}"""
        .stripMargin
    withServer(Map("index.json" -> idx)) { (base, _) =>
      val entries = LakeIndex.load(HttpTransport(base))
      assert(entries.map(_.file) == Seq("o1.ndjson", "o2.ndjson"))
      assert(entries.map(_.count).sum == 3L)
      // pruning logic is transport-agnostic
      import org.apache.spark.sql.sources.GreaterThan
      assert(LakeIndex.prune(entries, Seq(GreaterThan("id", 3L)))
        .map(_.file) == Seq("o2.ndjson"))
    }
  }

  test("a non-200 response raises with the server's body text") {
    withServer(Map.empty) { (base, _) =>
      val e = intercept[java.io.IOException] {
        LakeTransport.readAll(HttpTransport(base), "missing.json")
      }
      assert(e.getMessage.contains("404"))
      assert(e.getMessage.contains("no such object"))
    }
  }

  test("FileTransport is byte-identical to direct file reads") {
    val dir = tempDir("graft_transport").toString
    Files.writeString(Paths.get(s"$dir/x.json"), """{"a": 1}""")
    val got = new String(
      LakeTransport.readAll(FileTransport(dir), "x.json"), UTF_8)
    assert(got == """{"a": 1}""")
  }
}
