package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Versioned-schema registry — the reference's core "non-standard semantics"
  * (SURVEY.md §7.4).
  *
  * A business class's records arrive with multiple coexisting schemas; the
  * registry maps each distinct *keyset* (the set of fields present in a
  * record) to an integer version id. Reference behavior
  * (`utilities/utilities.py:639-704`):
  *   - seeded with version 0 = empty keyset (`{"0": []}`,
  *     `utilities/utilities.py:140-141`); version 0 is dropped before writes;
  *   - version identity is exact keyset match, order-insensitive;
  *   - unseen keysets mint monotonically increasing ids, first-seen wins.
  *
  * 100 TB posture: the registry holds *keysets*, never data — cardinality is
  * the number of schema versions (tens), so driver-side state and a broadcast
  * join for per-row version assignment are correct at any scale. New-keyset
  * discovery is a distinct-aggregate over the data (one shuffle of keyset
  * strings, combined map-side), and id assignment happens once on the driver
  * so version minting cannot race across executors.
  */
final case class SchemaRegistry(versions: Map[Int, Set[String]]) {

  def nextId: Int = if (versions.isEmpty) 0 else versions.keys.max + 1

  def versionOf(keyset: Set[String]): Option[Int] =
    versions.collectFirst { case (id, ks) if ks == keyset => id }

  /** Mint ids for unseen keysets, in the order given (first-seen wins, like
    * the reference's per-record loop). Callers that want determinism under
    * parallel discovery should pass keysets sorted (see `observeSorted`). */
  def observe(keysets: Seq[Set[String]]): SchemaRegistry =
    keysets.foldLeft(this) { (reg, ks) =>
      if (reg.versionOf(ks).isDefined) reg
      else SchemaRegistry(reg.versions + (reg.nextId -> ks))
    }

  /** Deterministic variant: new keysets are assigned ids in lexicographic
    * order of their sorted column list. */
  def observeSorted(keysets: Seq[Set[String]]): SchemaRegistry =
    observe(keysets.distinct.sortBy(_.toSeq.sorted.mkString(",")))

  /** All column names across versions (reference
    * `utilities/utilities.py:306-315` set-union). */
  def allColumns: Set[String] = versions.values.flatten.toSet

  /** Registry without the empty seed version (dropped before writes,
    * reference `utilities/utilities.py:381, 620`). */
  def withoutSeed: SchemaRegistry =
    SchemaRegistry(versions.filterNot(_._2.isEmpty))
}

object SchemaRegistry {

  /** The reference's seed registry (`{"0": []}`). */
  val seed: SchemaRegistry = SchemaRegistry(Map(0 -> Set.empty[String]))

  /** Persist the registry as the reference's `{bc}_schemas.json` shape
    * (`datalakewrapper.py:180-186`): `{"0": [], "1": ["ColA","ColB"], …}`,
    * columns sorted. Written through the Hadoop filesystem so the path may
    * use any supported scheme (file:, hdfs:, s3a:, …) — registry size is
    * the number of schema versions, so a driver-side write is correct at
    * any data scale.
    *
    * The JSON goes to a temp file beside `path` first and is renamed into
    * place only once it is written and closed, so a save that fails part
    * way (full disk, killed driver, an error on close) leaves the previous
    * registry readable instead of a truncated file. */
  def save(spark: org.apache.spark.sql.SparkSession,
           registry: SchemaRegistry, path: String): Unit = {
    // Jackson escapes each name, so any key `load` can parse round-trips
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val json = registry.versions.toSeq.sortBy(_._1).map { case (id, ks) =>
      ks.toSeq.sorted.map(mapper.writeValueAsString)
        .mkString(s""""$id": [""", ", ", "]")
    }.mkString("{", ", ", "}")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // a POSIX rename replaces `p` in one step; stores whose rename refuses
    // an existing target (HDFS) get the old file deleted first
    if (!fs.rename(tmp, p) && !(fs.delete(p, false) && fs.rename(tmp, p)))
      throw new java.io.IOException(s"could not rename $tmp to $p")
  }

  /** Load a persisted registry; None when the file does not exist. Version
    * ids survive the round-trip, so a re-run over drifted data reuses prior
    * ids no matter what order drift is rediscovered in.
    *
    * A file that is not the `save` shape — not JSON, a root that is not an
    * object (an empty file included), a key that is not an integer, or a
    * value that is not an array of strings — fails with an `IOException`
    * naming `path`: read as an empty registry, it would mint ids from 0
    * against tables that already carry the old ones. */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): Option[SchemaRegistry] = {
    import scala.jdk.CollectionConverters._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0L, bytes) finally in.close()
      def bad(why: String) =
        new java.io.IOException(s"schema registry $path: $why")
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
        catch { case e: com.fasterxml.jackson.core.JsonProcessingException =>
          throw bad(s"not valid JSON: ${e.getOriginalMessage}").initCause(e) }
      if (node == null || !node.isObject) throw bad("the root is not a JSON object")
      Some(SchemaRegistry(node.properties().asScala.map { e =>
        val id = e.getKey.toIntOption.getOrElse(
          throw bad(s"version key '${e.getKey}' is not an integer"))
        val cols = e.getValue
        if (!cols.isArray || !cols.elements().asScala.forall(_.isTextual))
          throw bad(s"version $id is not an array of strings")
        id -> cols.elements().asScala.map(_.asText()).toSet
      }.toMap))
    }
  }

  /** Registry for a run: the persisted one when present, else the seed. */
  def loadOrSeed(spark: org.apache.spark.sql.SparkSession,
                 path: String): SchemaRegistry =
    load(spark, path).getOrElse(seed)

  /** Canonical keyset string for a raw JSON record column: the record's
    * DISTINCT object keys, sorted and comma-joined. Pure built-ins
    * (codegen'd). Distinct matters: registry storage is set-based, so a
    * duplicate-key record must canonicalize to the same string as its
    * deduped keyset or its version lookup returns null. */
  def keysetExpr(rawJson: Column): Column =
    array_join(array_sort(array_distinct(json_object_keys(rawJson))), ",")

  /** Distinct keysets present in a column of raw JSON records, through
    * the fused native kernel (same canonical string as [[keysetExpr]],
    * pinned by JsonKeysetTupleExprSpec). One distinct-shuffle over short
    * strings; safe to collect (cardinality = number of schema versions,
    * not rows). Malformed records (null keyset) are ignored — they tag as
    * version null downstream. */
  def discoverKeysets(df: DataFrame, rawJsonCol: String): Seq[Set[String]] =
    discoverKeysetsWith(df, rawJsonCol,
      graft.expressions.JsonKeysetTupleExpr.jsonKeysetTuple)

  /** [[discoverKeysets]] through any fused keyset kernel: the flat one's
    * top-level keys, or the nested one's dotted LEAF paths (the same
    * canonical sorted comma-joined form — a flat record's leaf paths ARE
    * its top-level keys). */
  def discoverKeysetsWith(df: DataFrame, rawJsonCol: String,
                          kernel: (Column, Seq[String]) => Column): Seq[Set[String]] =
    df.select(graft.expressions.JsonKeysetTupleExpr.keysetField(
        kernel(col(rawJsonCol), Nil)).as("ks")).distinct()
      .collect().map(_.getString(0)).filter(_ != null)
      .map(s => if (s.isEmpty) Set.empty[String] else s.split(",").toSet)
      .toSeq

  /** Tag each record with its schema version via a broadcast lookup of the
    * registry (keyset string → id) over a pre-computed keyset column — the
    * one the ingest kernel already produced, so the JSON is parsed once.
    * Unknown keysets get null. */
  def assignVersionsByKeyset(df: DataFrame, keysetCol: String,
                             registry: SchemaRegistry): DataFrame =
    df.withColumn("schema_version", lookupExpr(registry, col(keysetCol)))

  private def lookupExpr(registry: SchemaRegistry, keyset: Column): Column = {
    val pairs = registry.versions.toSeq.flatMap { case (id, ks) =>
      Seq(lit(ks.toSeq.sorted.mkString(",")), lit(id))
    }
    element_at(map(pairs: _*), keyset)
  }
}
