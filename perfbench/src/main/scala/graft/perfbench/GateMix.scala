package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `gate_mix`: gates from `SparkEntry.queries`, each timed through the
  * noop-sink `Bench.timeQuery`. One pass runs every gate once, in an order
  * the seed permutes anew for each pass. */
object GateMix {

  /** Stateful streaming / SCD2 gates: micro-batch and state-store cost. */
  val Streaming = Seq("q165", "q205")

  /** Short batch gates: Catalyst, codegen and driver cost. Both sides of
    * the duplicate-path pairs q120/q150 (column stats), q28/q38 (simhash)
    * and q74/q154 (span hash), q214's graph shuffle, and q02 as the
    * smallest gate. */
  val Batch = Seq("q02", "q120", "q150", "q28", "q38", "q74", "q154", "q214")

  /** Input tables; the expected digests were taken at this scale. */
  val SfDir = Main.TestData + "/sf0.01"

  type Gate = (SparkSession, String) => DataFrame

  def resolve(short: String): (String, Gate) =
    graft.SparkEntry.queries.find(_._1.startsWith(short + "_"))
      .getOrElse(sys.error(s"gate $short not in SparkEntry.queries"))

  /** Row count and an order-insensitive digest: the sum of the 64-bit hash
    * of each row's JSON rendering. */
  def digest(df: DataFrame): (Long, String) = {
    val row = to_json(struct(df.columns.toSeq.map(c => col(s"`$c`")): _*))
    val r = df.select(count(lit(1)), sum(xxhash64(row).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  def readExpected(path: String): Map[String, (Long, String)] = {
    val root = Report.mapper.readTree(new java.io.File(path)).get("gates")
    root.properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("digest").asText())
    }.toMap
  }

  def run(ctx: Ctx, expectedPath: String): Outcome = {
    val spark = ctx.spark
    val gates = (Streaming ++ Batch).map(resolve)
    val isStream = Streaming.map(resolve(_)._1).toSet
    val expected = readExpected(expectedPath)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def order(pass: Int) = new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(gates)

    // set-up and output check: one untimed pass in the seed's order computes
    // every gate's digest, which also warms the session and the codegen cache
    val digests = mutable.LinkedHashMap.empty[String, (Long, String)]
    val (_, warmS) = Ctx.timed(order(-1).foreach { case (name, fn) =>
      spark.catalog.clearCache()
      attempted += 1
      try {
        val got = ctx.span("check", "gate" -> name)(digest(fn(spark, SfDir)))
        digests(name) = got
        if (!expected.get(name).contains(got))
          failures += s"$name: rows/digest $got, expected ${expected.get(name)}"
      } catch { case e: Throwable => failures += s"$name check: ${e.getMessage}" }
    })
    val setupS = ctx.sessionS + warmS

    val times = mutable.ArrayBuffer.empty[(Int, Boolean, String, Double)]
    val (walls, heapLive) = ctx.passes(coldFirst = false) { (i, traced) =>
      order(i).foreach { case (name, fn) =>
        attempted += 1
        // the spans record nothing without a tracer
        val (s, err) = ctx.span("gate", "gate" -> name)(
          graft.Bench.timeQuery(spark, SfDir, (sp, d) => ctx.span("build")(fn(sp, d))))
        err.foreach(e => failures += s"$name pass $i: $e")
        times += ((i, traced, name, s))
      }
    }

    val untraced = times.filterNot(_._2).toSeq
    def passSums(p: String => Boolean) =
      untraced.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.filter(t => p(t._3)).map(_._4).sum)
    val perGate = gates.map { case (n, _) => n -> untraced.filter(_._3 == n).map(_._4) }
    val gateMedians = perGate.map(g => Report.median(g._2))

    val layers = ctx.tracer.map { tr =>
      val first = times.find(_._2).get._1
      val traced = times.filter(_._1 == first).toSeq
      val pass = tr.spans.find(s => s.name == "pass" && s.attrs("index") == first).get
      def phase(p: String) = tr.spans.filter(s => s.name == p &&
        s.startMs >= pass.startMs && s.endMs <= pass.endMs).map(_.wallMs).sum / 1e3
      // the noop write is the rest of the gate after its build
      Map("queries.build_s" -> phase("build"),
        "queries.execute_s" -> (phase("gate") - phase("build"))) ++
        traced.map(t => s"gate.${t._3.takeWhile(_ != '_')}_s" -> t._4) ++
        Main.traceLayers(tr)
    }.getOrElse(Map.empty)

    val reconciled = ctx.tracer.toSeq.flatMap { tr =>
      val first = times.find(_._2).get._1
      val pass = tr.spans.find(s => s.name == "pass" && s.attrs("index") == first).get
      val tracedGates = tr.spans.filter(s => s.name == "gate" && s.parent == pass.id)
      Seq("q02", "q165", "q205").flatMap(g =>
        tracedGates.find(_.attrs("gate").toString.startsWith(g + "_")))
        .map(s => s"gate ${s.attrs("gate")}" -> tr.reconcile(s))
    }

    Outcome(
      setupS = setupS,
      passS = walls.filterNot(_._2).map(_._1),
      opS = perGate,
      heapLiveMb = heapLive,
      attempted = attempted,
      failures = failures.toSeq,
      printed = Seq(
        ("setup_s", "s", Seq(setupS)),
        ("stream_pass_s", "s", passSums(isStream)),
        ("batch_pass_s", "s", passSums(n => !isStream(n))),
        ("gate_geomean_s", "s", Seq(Report.geomean(gateMedians)))) ++
        perGate.map { case (n, xs) => (s"gate.${n.takeWhile(_ != '_')}_s", "s", xs) },
      layers = layers,
      reconciled = reconciled,
      profile = Map(
        "warmup_s" -> warmS,
        "digests" -> digests.map { case (k, (r, d)) => k -> Map("rows" -> r, "digest" -> d) },
        "times" -> times.map(t => Map("pass" -> t._1, "traced" -> t._2, "gate" -> t._3, "s" -> t._4))))
  }
}
