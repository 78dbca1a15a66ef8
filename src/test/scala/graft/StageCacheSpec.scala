package graft

import org.apache.spark.sql.StageCache
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

/** `StageCache.leaf`: a persisted stage handed back as a plan leaf. */
class StageCacheSpec extends AnyFunSuite {

  lazy val spark = LocalSpark.session(4)

  /** Start from an empty cache: the session is shared across suites. */
  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def assertNothingCached(): Unit = {
    assert(spark.sharedState.cacheManager.isEmpty, "cache manager still holds a stage")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"persisted RDDs left: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("Spark is the 4.1 line StageCache's private[sql] calls are written against") {
    assert(org.apache.spark.SPARK_VERSION.startsWith("4.1."),
      s"Spark ${org.apache.spark.SPARK_VERSION}: re-check " +
        "src/main/scala/org/apache/spark/sql/StageCache.scala, which calls " +
        "private[sql] API (classic.Dataset.apply, CacheManager.lookupCachedData)")
  }

  test("the leaf's whole logical plan is the InMemoryRelation; rows, schema, encoder unchanged") {
    import spark.implicits._
    clearCaches()
    val ds = spark.range(0, 500).select($"id", ($"id" % 7).as("m"))
      .where($"m" =!= 3).as[(Long, Long)]
    val expected = ds.collect().sorted.toSeq
    val stages = new StageCache
    try {
      val leaf = stages.leaf(ds)
      assert(leaf.queryExecution.logical.isInstanceOf[InMemoryRelation],
        leaf.queryExecution.logical.treeString)
      assert(leaf.schema == ds.schema)
      assert(leaf.encoder == ds.encoder)
      assert(leaf.collect().sorted.toSeq == expected)
      // typed ops keep working on the leaf
      assert(leaf.map(_._2).distinct().collect().sorted.toSeq ==
        Seq(0L, 1L, 2L, 4L, 5L, 6L))
    } finally stages.release()
    assertNothingCached()
  }

  test("a join of two leaves plans the same physical operators as the join of the cached originals") {
    import spark.implicits._
    clearCaches()
    val stages = new StageCache
    try LocalSpark.withConf(spark, LocalSpark.Aqe -> "false") {
      val a = spark.range(0, 2000).select($"id".as("k"), ($"id" * 2).as("v"))
      val b = spark.range(0, 50).select($"id".as("k"), $"id".cast("string").as("s"))
        .groupBy($"k").agg(org.apache.spark.sql.functions.max($"s").as("s"))
      val la = stages.leaf(a)
      val lb = stages.leaf(b)
      def ops(p: SparkPlan): Seq[String] = p.collect { case n => n.nodeName }
      val overOriginals = a.join(b, "k")
      val overLeaves = la.join(lb, "k")
      assert(ops(overLeaves.queryExecution.executedPlan) ==
        ops(overOriginals.queryExecution.executedPlan),
        overLeaves.queryExecution.executedPlan.treeString)
      assert(ops(overLeaves.queryExecution.executedPlan)
        .count(_ == "InMemoryTableScan") == 2)
      assert(overLeaves.collect().map(_.toString).sorted.toSeq ==
        overOriginals.collect().map(_.toString).sorted.toSeq)
    } finally stages.release()
    assertNothingCached()
  }

  test("releasing the originals leaves the cache empty, materialized or not") {
    import spark.implicits._
    clearCaches()
    val stages = new StageCache
    val used = stages.leaf(spark.range(0, 100).as[Long])
    stages.leaf(spark.range(0, 10).select(($"id" + 1).as("x")))
    assert(used.count() == 100L) // one materialized, one never run
    assert(spark.sparkContext.getPersistentRDDs.size == 1)
    stages.release()
    assertNothingCached()
    stages.release() // a second release is a no-op
    assertNothingCached()
  }
}
