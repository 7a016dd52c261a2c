package graft.streaming


import graft.SparkSpec
import graft.functions.Sketches

/** The streaming count-min monitor, [[Sketches.countMinCells]] run on a
  * stream through [[StreamState.maintain]], must fold new batches into
  * RESTORED per-cell counts, emit cumulative rows per batch, and converge
  * to the one-shot batch sketch register for register. */
class StreamSketchSpec extends SparkSpec {
  import spark.implicits._

  private def maintain(src: String, dir: String): Long =
    StreamState.maintain(Sketches.countMinCells(StreamWaves.reader(spark,
      Seq("x").toDF("term").schema, src), "term"),
      s"$dir/sink", s"$dir/ckpt")

  private def currentCells(dir: String) =
    StreamState.latest(spark.read.parquet(s"$dir/sink"), Seq("depth", "bucket"))

  test("cells accumulate across batches and survive replay") {
    val dir = tempDir("ssk").toString
    val src = s"$dir/landing"
    def run(): Long = maintain(src, dir)

    StreamWaves.stage(src, Seq(Seq("a", "a", "b").toDF("term")))
    assert(run() == 1L)
    StreamWaves.stage(src, Seq(Seq("a", "c").toDF("term")))
    assert(run() == 1L)
    val got = currentCells(dir)
    val batch = Sketches.countMinCells(
      Seq("a", "a", "a", "b", "c").toDF("term"), "term")
    // register for register, both directions
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)

    // replay with no new files: the sink must not gain rows
    val before = spark.read.parquet(s"$dir/sink").count()
    assert(run() == 0L)
    assert(spark.read.parquet(s"$dir/sink").count() == before)
    // batch 1 touched only a's and c's cells: at most 2·d updated rows
    assert(spark.read.parquet(s"$dir/sink/batch_id=1").count() <=
      2L * Sketches.CountMinDepth)
  }

  test("estimates served off the maintained grid are the batch estimates") {
    val dir = tempDir("sske").toString
    val src = s"$dir/landing"
    val terms = (1 to 50).flatMap(i => Seq.fill(i % 7 + 1)(s"t$i"))
    def run(): Long = maintain(src, dir)
    val (w1, w2) = terms.splitAt(terms.size / 2)
    StreamWaves.stage(src, Seq(w1.toDF("term")))
    assert(run() == 1L)
    StreamWaves.stage(src, Seq(w2.toDF("term")))
    assert(run() == 1L)
    val probe = terms.distinct.toDF("term")
    val served = Sketches.countMinEstimate(
        currentCells(dir), probe, "term")
      .as[(String, Long)].collect().toMap
    val batch = Sketches.countMinEstimate(
        Sketches.countMinCells(terms.toDF("term"), "term"),
        probe, "term")
      .as[(String, Long)].collect().toMap
    assert(served == batch)
    // and the sketch never undercounts the truth
    val truth = terms.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(truth.forall { case (t, n) => served(t) >= n })
  }
}
