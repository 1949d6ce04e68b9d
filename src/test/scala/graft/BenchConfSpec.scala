package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_EXTRA_CONF` parsing (`GraftSession.extraConf`). */
class BenchConfSpec extends AnyFunSuite {

  test("key=value tokens parse in order, trimmed; blank tokens are skipped") {
    assert(GraftSession.extraConf(" a.b = 1 ;;c=x=y; ") == Seq("a.b" -> "1", "c" -> "x=y"))
    assert(GraftSession.extraConf("k=") == Seq("k" -> ""))
    assert(GraftSession.extraConf("") == Seq.empty)
  }

  test("a token without '=' or with an empty key fails, naming the token") {
    for (bad <- Seq("a=1;spark.sql.shuffle.partitions", "=1", " =1")) {
      val e = intercept[IllegalArgumentException](GraftSession.extraConf(bad))
      val token = bad.split(";").last
      assert(e.getMessage.contains(s"'$token'"), e.getMessage)
    }
  }
}
