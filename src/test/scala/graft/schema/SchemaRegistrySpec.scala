package graft.schema

import java.io.{IOException, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import graft.SparkSpec

/** A local file system under its own scheme whose next `create` stream,
  * once armed, loses its bytes and throws on `close` — the way a write
  * whose final flush hits a full disk fails. */
class FailingCloseFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failclose:///")
  override def getScheme: String = "failclose"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize,
      progress)
    if (!FailingCloseFileSystem.armed.getAndSet(false)) out
    else new FSDataOutputStream(new OutputStream {
      override def write(b: Int): Unit = ()
      override def close(): Unit = {
        out.close()
        throw new IOException("no space left on close")
      }
    }, null)
  }
}

object FailingCloseFileSystem {
  val armed = new AtomicBoolean(false)
}

/** Pins the reference's schema-versioning semantics
  * (`utilities/utilities.py:639-704`; SURVEY.md §7.4). */
class SchemaRegistrySpec extends SparkSpec {

  test("seed is version 0 with empty keyset; withoutSeed drops it") {
    assert(SchemaRegistry.seed.versions == Map(0 -> Set.empty))
    assert(SchemaRegistry.seed.withoutSeed.versions.isEmpty)
  }

  test("keyset identity is order-insensitive, first-seen wins, ids mint monotonically") {
    val r = SchemaRegistry.seed.observe(Seq(Set("a", "b"), Set("b", "a"), Set("a", "b", "c")))
    assert(r.versionOf(Set("b", "a")).contains(1))
    assert(r.versionOf(Set("c", "b", "a")).contains(2))
    assert(r.nextId == 3)
  }

  test("observe is idempotent") {
    val r1 = SchemaRegistry.seed.observe(Seq(Set("x")))
    assert(r1.observe(Seq(Set("x"))) == r1)
  }

  test("allColumns unions every version's keyset") {
    val r = SchemaRegistry.seed.observe(Seq(Set("a", "b"), Set("b", "c")))
    assert(r.allColumns == Set("a", "b", "c"))
  }

  test("save/load round-trips version ids; loadOrSeed seeds when missing") {
    val dir = tempDir("graft_reg").toString
    val path = s"$dir/FSM_Account_schemas.json"
    assert(SchemaRegistry.loadOrSeed(spark, path) == SchemaRegistry.seed)
    val r = SchemaRegistry.seed.observe(Seq(Set("b", "a"), Set("a")))
    SchemaRegistry.save(spark, r, path)
    val back = SchemaRegistry.load(spark, path)
    assert(back.contains(r))
    // a later observation on the loaded registry mints past the saved max,
    // even for a keyset sorting before the existing ones
    assert(back.get.observe(Seq(Set("0_first"))).versionOf(Set("0_first")).contains(3))
  }

  test("save/load round-trips column names with a tab, a newline, a " +
      "quote and a backslash") {
    val dir = tempDir("graft_reg_esc").toString
    val path = s"$dir/esc_schemas.json"
    val r = SchemaRegistry.seed.observe(Seq(
      Set("a\tb", "line\nbreak"), Set("say \"hi\"", "back\\slash", "plain")))
    SchemaRegistry.save(spark, r, path)
    assert(SchemaRegistry.load(spark, path).contains(r))
  }

  test("an empty registry file fails to load, naming the path") {
    val dir = tempDir("graft_reg_empty").toString
    val path = s"$dir/bc_schemas.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), Array.emptyByteArray)
    val e = intercept[IOException](SchemaRegistry.load(spark, path))
    assert(e.getMessage.contains(path))
  }

  test("a registry file that is not a JSON object of string arrays fails " +
      "to load, naming the path") {
    val dir = tempDir("graft_reg_shape").toString
    Seq("[]", """{"x": ["a"]}""", """{"1": "a"}""", """{"1": [1]}""",
        """{"1": ["a"]""").zipWithIndex.foreach { case (json, i) =>
      val path = s"$dir/bc$i" + "_schemas.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
      val e = intercept[IOException](SchemaRegistry.load(spark, path))
      assert(e.getMessage.contains(path), json)
    }
  }

  test("a save that fails on close leaves the previous registry " +
      "readable") {
    spark.sparkContext.hadoopConfiguration.set("fs.failclose.impl",
      classOf[FailingCloseFileSystem].getName)
    val dir = tempDir("graft_reg_close").toString
    val path = s"failclose://$dir/bc_schemas.json"
    val r1 = SchemaRegistry.seed.observe(Seq(Set("a", "b")))
    SchemaRegistry.save(spark, r1, path)
    val r2 = r1.observe(Seq(Set("a", "b", "c")))
    FailingCloseFileSystem.armed.set(true)
    intercept[IOException](SchemaRegistry.save(spark, r2, path))
    assert(!FailingCloseFileSystem.armed.get)
    assert(SchemaRegistry.load(spark, path).contains(r1))
    // the next save replaces it
    SchemaRegistry.save(spark, r2, path)
    assert(SchemaRegistry.load(spark, path).contains(r2))
  }

  test("discover + assign tags rows with their keyset version") {
    import spark.implicits._
    val df = Seq(
      """{"a": 1, "b": 2}""",
      """{"b": 5, "a": 9}""",
      """{"a": 1}""").toDF("rec")
    val reg = SchemaRegistry.seed
      .observeSorted(SchemaRegistry.discoverKeysets(df, "rec"))
    val out = SchemaRegistry.assignVersionsByKeyset(
        df.withColumn("ks", SchemaRegistry.keysetExpr($"rec")), "ks", reg)
      .select("schema_version").as[Int].collect().toSeq
    // sorted keysets: "a" < "a,b" → versions 1 and 2
    assert(out == Seq(2, 2, 1))
  }
}
