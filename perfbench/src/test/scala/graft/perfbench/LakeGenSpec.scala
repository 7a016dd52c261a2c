package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class LakeGenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val source = Main.TestData + "/sf0.001"
  private val base = Path.of("target/lakegen-spec").toAbsolutePath
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    LakeGen.deleteTree(base)
  }

  private def lake(name: String, seed: Long, drift: Boolean): Path = {
    val root = base.resolve(name)
    LakeGen.deleteTree(root)
    LakeGen.write(spark, source, root.toString, seed, drift)
    root
  }

  private def lines(root: Path, load: String, spec: LakeGen.ClassSpec) =
    spark.read.text(root.resolve(s"$load/${spec.businessClass}.ndjson").toString)
      .select(col("value").as("line"),
        get_json_object(col("value"), "$." + spec.key).as("key"))

  private def keysets(root: Path, spec: LakeGen.ClassSpec): Long =
    LakeGen.loads.map(lines(root, _, spec)).reduce(_ union _)
      .select(array_join(array_sort(json_object_keys(col("line"))), ",")).distinct().count()

  test("each class has 8 coexisting keysets with drift and 1 without") {
    val (drift, stable) = (lake("drift", 11, drift = true), lake("stable", 11, drift = false))
    LakeGen.classes.foreach { spec =>
      assert(keysets(drift, spec) == 8, spec.table)
      assert(keysets(stable, spec) == 1, spec.table)
    }
  }

  test("full load lands 80% of keys; each incremental 20% redelivered and 10% new") {
    val root = lake("split", 5, drift = true)
    val spec = LakeGen.classes.head
    val all = graft.sources.Tables.load(spark, source, spec.table).count().toDouble
    val Seq(full, incr1, incr2) = LakeGen.loads.map(lines(root, _, spec).cache())
    def keys(df: org.apache.spark.sql.DataFrame) = df.select("key")
    def share(df: org.apache.spark.sql.DataFrame) = df.count() / all
    assert(math.abs(share(full) - 0.8) < 0.03)
    Seq(incr1, incr2).foreach { incr =>
      assert(math.abs(share(keys(incr).intersect(keys(full))) - 0.2) < 0.03)
      assert(math.abs(share(keys(incr).except(keys(full))) - 0.1) < 0.03)
      // a redelivered record is byte-identical to its first delivery
      assert(incr.join(full, "key").where(incr("line") =!= full("line")).isEmpty)
    }
    assert(keys(incr1).intersect(keys(incr2)).isEmpty)
    assert(keys(full).union(keys(incr1)).union(keys(incr2)).distinct().count() == all.toLong)
  }

  test("the same seed gives a byte-identical lake, another seed does not") {
    def bytes(root: Path) = LakeGen.loads.flatMap(l => LakeGen.classes.map(c =>
      Files.readAllBytes(root.resolve(s"$l/${c.businessClass}.ndjson")).toSeq))
    val a = bytes(lake("a", 3, drift = true))
    assert(a == bytes(lake("b", 3, drift = true)))
    assert(a != bytes(lake("c", 4, drift = true)))
  }
}
