package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily started). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs = ArrayBuffer.empty[Path]

  /** A fresh temp directory, deleted with its whole tree when the suite
    * ends. */
  def tempDir(prefix: String): Path = tempDirs.synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  override def run(testName: Option[String], args: Args): Status =
    try super.run(testName, args)
    finally tempDirs.synchronized {
      // best effort: a leftover that cannot go must not fail the suite
      tempDirs.filter(Files.exists(_)).foreach { d =>
        Try {
          // the walk stream holds directory handles and must close
          val walk = Files.walk(d)
          try walk.iterator().asScala.toSeq.reverse
            .foreach(p => Try(Files.deleteIfExists(p)))
          finally walk.close()
        }
      }
      tempDirs.clear()
    }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftMergeExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
