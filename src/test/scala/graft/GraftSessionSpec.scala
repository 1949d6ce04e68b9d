package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session conf for every entry point: the tests run under the conf
  * Bench measures, and no other source builds a session of its own. */
class GraftSessionSpec extends AnyFunSuite {

  test("the test session carries the Kryo registration and data-sized coalescing") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.getConf.getOption("spark.kryo.classesToRegister")
      .contains(GraftKryo.classes))
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
  }

  test("only GraftSession and VecDotSpec's extension test call the session builder") {
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val calls = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found under ${sys.props("user.dir")}")
      val files = Files.walk(dir)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.map((p: Path) => p.toString -> builder.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    assert(calls == Map(
      "src/main/scala/graft/GraftSession.scala" -> 1,
      "src/test/scala/graft/functions/VecDotSpec.scala" -> 1))
  }
}
