package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory: no conf leaks from one caller to the next, and
  * `withConf` puts back exactly what was there. */
class LocalSparkSpec extends AnyFunSuite {
  import LocalSpark.{Aqe, Codegen}

  private val Key = "spark.sql.autoBroadcastJoinThreshold"

  test("a plain session after an engine one has AQE and codegen at Spark's defaults") {
    val engine = LocalSpark.session(4, LocalSpark.MicroWaveConfs: _*)
    assert(engine.conf.get(Aqe) == "false" && engine.conf.get(Codegen) == "false")
    val plain = LocalSpark.session(4)
    assert(plain eq engine, "getOrCreate hands back the one JVM-wide session")
    assert(plain.conf.get(Aqe) == "true" && plain.conf.get(Codegen) == "true")
  }

  test("withConf restores a prior value") {
    val spark = LocalSpark.session(4)
    LocalSpark.withConf(spark, Key -> "1234") {
      LocalSpark.withConf(spark, Key -> "-1") { assert(spark.conf.get(Key) == "-1") }
      assert(spark.conf.get(Key) == "1234")
    }
  }

  test("withConf unsets a key that was unset before") {
    val spark = LocalSpark.session(4)
    spark.conf.unset(Key)
    LocalSpark.withConf(spark, Key -> "-1") { assert(spark.conf.getAll.contains(Key)) }
    assert(!spark.conf.getAll.contains(Key))
  }

  test("withConf restores when the body throws") {
    val spark = LocalSpark.session(4)
    intercept[IllegalStateException] {
      LocalSpark.withConf(spark, Aqe -> "false") { throw new IllegalStateException }
    }
    assert(!spark.conf.getAll.contains(Aqe) && spark.conf.get(Aqe) == "true")
  }
}
