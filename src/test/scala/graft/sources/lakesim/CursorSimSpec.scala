package graft.sources.lakesim

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** S6: FSM cursor-page semantics — count header, `_links` follow, terminal
  * zero-count page, cycle guard. */
class CursorSimSpec extends SparkSpec {
  import spark.implicits._

  private def writePages(dir: String): Unit = {
    def page(file: String, next: String, ids: Seq[Int]): Unit = {
      val header =
        s"""{"_count": ${ids.length}, "_links": [{"href": "$file"}, {"href": "$next"}]}"""
      val recs = ids.map(i =>
        s"""{"_fields": {"id": $i, "amount": ${i * 10}.5, "status": "s$i"}}""")
      Files.writeString(Paths.get(s"$dir/$file"),
        (header +: recs).mkString("[", ",", "]"))
    }
    page("page0.json", "page1.json", Seq(1, 2, 3))
    page("page1.json", "page2.json", Seq(4, 5))
    // terminal page: declares zero records (the reference's stop condition)
    Files.writeString(Paths.get(s"$dir/page2.json"),
      """[{"_count": 0, "_links": [{"href": "page2.json"}, {"href": "page0.json"}]}]""")
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("amount", DoubleType),
    StructField("status", StringType)))

  private def scan(dir: String, start: String = "page0.json") =
    spark.read.format(classOf[CursorSimSource].getName)
      .schema(schema).option("path", dir).option("start", start).load()

  test("cursor chain is followed to the zero-count terminal; all records read") {
    val dir = tempDir("graft_cursor").toString
    writePages(dir)
    val out = scan(dir).orderBy("id")
      .as[(Long, Double, String)].collect().toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(out.head == ((1L, 10.5, "s1")))
    // one partition per record-bearing page (the walk is planning-only)
    assert(scan(dir).rdd.getNumPartitions == 2)
  }

  test("a cyclic chain without a terminal page stops at the visited guard") {
    val dir = tempDir("graft_cursor_cycle").toString
    def page(file: String, next: String, ids: Seq[Int]): Unit = {
      val header =
        s"""{"_count": ${ids.length}, "_links": [{"href": "$file"}, {"href": "$next"}]}"""
      val recs = ids.map(i => s"""{"_fields": {"id": $i, "amount": 1.0, "status": "x"}}""")
      Files.writeString(Paths.get(s"$dir/$file"),
        (header +: recs).mkString("[", ",", "]"))
    }
    page("a.json", "b.json", Seq(1))
    page("b.json", "a.json", Seq(2)) // loops back, like the reference's base-URL guard
    assert(CursorIndex.walk(FileTransport(dir), "a.json").map(_.file) ==
      Seq("a.json", "b.json"))
    assert(scan(dir, start = "a.json").count() == 2)
  }

  test("filter and column pushdown reach the cursor reader") {
    val dir = tempDir("graft_cursor_push").toString
    writePages(dir)
    val out = scan(dir).filter($"id" > 2).select("id", "status").orderBy("id")
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(3L, 4L, 5L))
    val desc = out.queryExecution.executedPlan.toString
    assert(desc.contains("cursorsim") && desc.contains("GreaterThan"))
  }

  test("declared count header total reconciles with the scan (A2/A3)") {
    val dir = tempDir("graft_cursor_count").toString
    writePages(dir)
    val declared = CursorIndex.declaredTotal(FileTransport(dir), "page0.json")
    val check = graft.operators.Validation.reconcile(scan(dir).count(), declared)
    assert(declared == 5L && check.matches)
  }
}
