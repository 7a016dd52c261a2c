package graft.expressions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Sketches

class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  private def windowed(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.withColumn("rk", row_number().over(
        Window.partitionBy($"g").orderBy($"w".desc, $"item")))
      .filter($"rk" <= k)
      .select($"g", $"rk".cast("long").as("rank"), $"item", $"w")
      .as[(String, Long, String, Long)].collect().toSet

  private def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy($"g").agg(Sketches.topK($"item", $"w", k).as("top"))
      .select($"g", posexplode($"top").as(Seq("rk", "s")))
      .select($"g", ($"rk" + 1).cast("long").as("rank"),
        $"s.item", $"s.weight")
      .as[(String, Long, String, Long)].collect().toSet

  test("top_k equals the row_number window formulation (seeded sweep)") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 400).map { _ =>
      (s"g${rnd.nextInt(5)}", s"it${rnd.nextInt(40)}", rnd.nextInt(1000).toLong)
    }.distinct.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val df = rows.toDF("g", "item", "w")
    for (k <- Seq(1, 3, 10, 1000))
      assert(viaAgg(df, k) == windowed(df, k), s"k=$k")
  }

  test("result is partitioning-independent (merge path exercised)") {
    val df = (1 to 300).map(i => ("g", s"it$i", (i % 37).toLong))
      .toDF("g", "item", "w")
    val one = viaAgg(df.coalesce(1), 5)
    assert(viaAgg(df.repartition(13), 5) == one)
    assert(one == windowed(df, 5))
  }

  test("ties break to the lexicographically smaller item, deterministically") {
    val df = Seq(("g", "bb", 7L), ("g", "aa", 7L), ("g", "cc", 7L),
      ("g", "zz", 9L)).toDF("g", "item", "w")
    val top = df.groupBy($"g").agg(Sketches.topK($"item", $"w", 3).as("t"))
      .select(explode($"t.item")).as[String].collect().toSeq
    assert(top == Seq("zz", "aa", "bb"))
  }

  test("null items and weights are skipped; empty input yields empty array") {
    val df = Seq(("g", Some("a"), Some(1L)), ("g", None, Some(9L)),
      ("g", Some("b"), None)).toDF("g", "item", "w")
    val top = df.groupBy($"g").agg(Sketches.topK($"item", $"w", 5).as("t"))
      .select($"t.item").as[Seq[String]].head()
    assert(top == Seq("a"))
    val empty = Seq(("g", Option.empty[String], Option.empty[Long]))
      .toDF("g", "item", "w")
      .groupBy($"g").agg(Sketches.topK($"item", $"w", 5).as("t"))
      .select(size($"t")).as[Int].head()
    assert(empty == 0)
  }

  test("buffer insert keeps the k best under the (weight desc, item asc) order") {
    val buf = new java.util.TreeSet[TopKAgg.Entry]()
    val rnd = new scala.util.Random(3)
    val entries = (1 to 200).map(i =>
      TopKAgg.Entry(s"e${rnd.nextInt(100)}", rnd.nextInt(50).toLong)).distinct
    entries.foreach(e => TopKAgg.insert(buf, e, 8))
    val kept = {
      val it = buf.descendingIterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }
    val expect = entries.sortBy(e => (-e.weight, e.item)).take(8)
    assert(kept == expect)
  }
}
