package graft.queries

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The per-session table plan cache. */
class TablesCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Bin of `key` in a ConcurrentHashMap's first, 16-bin table. */
  private def bin(key: String): Int = {
    val h = key.hashCode
    (h ^ (h >>> 16)) & 15
  }

  test("tPar loads a table whose #par and plain cache keys share a hash bin") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tpar").toString
    val path = s"$dir/documents.parquet"
    (1 to 10).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(path)
    // the keys embed the newest file's mtime: move it until they collide
    val newest = Files.list(Paths.get(path)).iterator().asScala.toSeq
      .maxBy(Files.getLastModifiedTime(_).toMillis)
    val start = Files.getLastModifiedTime(newest).toMillis
    val collides = Iterator.from(1).take(1000).exists { i =>
      Files.setLastModifiedTime(newest, FileTime.fromMillis(start + i * 1000L))
      val key = Tables.tsKey(path)
      bin(key + "#par") == bin(key)
    }
    assert(collides, "no mtime within 1000 tries puts both keys in one bin")
    // a fresh session has a fresh, empty per-session cache
    val fresh = spark.newSession()
    val df = Tables.tPar(fresh, dir, "documents")
    assert(df.count() == 10)
    assert(Tables.tPar(fresh, dir, "documents") eq df)
  }
}
