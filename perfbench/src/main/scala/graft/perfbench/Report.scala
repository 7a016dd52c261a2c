package graft.perfbench

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{ObjectMapper, SerializerProvider}
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.databind.ser.std.StdSerializer
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Sample statistics and the JSON writer for the benchmark output. */
object Report {

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)

  /** One printed metric: median with quartiles and sample count. */
  def line(name: String, unit: String, xs: Seq[Double]): String =
    if (xs.isEmpty) f"  $name%-22s n=0"
    else f"  $name%-22s ${median(xs)}%12.4f $unit%-7s p25=${quantile(xs, 0.25)}%.4f p75=${quantile(xs, 0.75)}%.4f n=${xs.size}"

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .registerModule(new SimpleModule().addSerializer(classOf[java.lang.Double],
      new StdSerializer[java.lang.Double](classOf[java.lang.Double]) {
        // JSON has no NaN or infinity
        override def serialize(d: java.lang.Double, g: JsonGenerator,
                               p: SerializerProvider): Unit =
          if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d.doubleValue)
      }))

  def json(v: Any): String = mapper.writeValueAsString(v)
}
