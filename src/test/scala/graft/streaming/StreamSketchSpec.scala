package graft.streaming


import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Sketches

/** The streaming count-min monitor must fold new batches into RESTORED
  * per-cell counts, emit cumulative rows per batch, and converge to the
  * one-shot batch sketch register for register. */
class StreamSketchSpec extends SparkSpec {
  import spark.implicits._

  private val d = 4
  private val w = 64 // small grid: collisions certain, parity still exact

  test("cells accumulate across batches and survive replay") {
    val dir = tempDir("ssk").toString
    val src = s"$dir/landing"
    val schema = Seq("x").toDF("term").schema
    def run(): Unit = StreamSketch.runAvailableNow(
      spark, src, schema, "term", s"$dir/sink", s"$dir/ckpt", d, w)

    Seq("a", "a", "b").toDF("term").write.mode("append").parquet(src)
    run()
    Seq("a", "c").toDF("term").write.mode("append").parquet(src)
    run()
    val got = StreamSketch.currentCells(spark, s"$dir/sink")
    val batch = Sketches.countMinCells(
      Seq("a", "a", "a", "b", "c").toDF("term"), "term", d, w)
    // register for register, both directions
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)

    // replay with no new files: the sink must not gain rows
    val before = spark.read.parquet(s"$dir/sink").count()
    run()
    assert(spark.read.parquet(s"$dir/sink").count() == before)
    // batch 1 touched only a's and c's cells: at most 2·d updated rows
    assert(spark.read.parquet(s"$dir/sink/batch_id=1").count() <= 2L * d)
  }

  test("estimates served off the maintained grid are the batch estimates") {
    val dir = tempDir("sske").toString
    val src = s"$dir/landing"
    val terms = (1 to 50).flatMap(i => Seq.fill(i % 7 + 1)(s"t$i"))
    val schema = Seq("x").toDF("term").schema
    def run(): Unit = StreamSketch.runAvailableNow(
      spark, src, schema, "term", s"$dir/sink", s"$dir/ckpt", d, w)
    val (w1, w2) = terms.splitAt(terms.size / 2)
    w1.toDF("term").write.mode("append").parquet(src)
    run()
    w2.toDF("term").write.mode("append").parquet(src)
    run()
    val probe = terms.distinct.toDF("term")
    val served = Sketches.countMinEstimate(
        StreamSketch.currentCells(spark, s"$dir/sink"), probe, "term", d, w)
      .as[(String, Long)].collect().toMap
    val batch = Sketches.countMinEstimate(
        Sketches.countMinCells(terms.toDF("term"), "term", d, w),
        probe, "term", d, w)
      .as[(String, Long)].collect().toMap
    assert(served == batch)
    // and the sketch never undercounts the truth
    val truth = terms.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(truth.forall { case (t, n) => served(t) >= n })
  }
}
