package graft

import graft.ops.Sketches
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SketchesSpec extends AnyFunSuite {

  lazy val spark = LocalSpark.session(4)

  // ---- Misra–Gries amortization (ADVICE r4) -------------------------
  // The decrement branch is O(k) per firing but fires <= n/k times (each
  // firing removes k units of stored mass, each item adds <= 1), so the
  // ADVERSARIAL stream — every token unique, the branch fires as often
  // as it ever can — must run within a small constant of the FRIENDLY
  // stream that never fires it after warm-up. An O(n·k) degradation
  // (the conjectured failure mode) would push the ratio toward k.
  test("MG reduce: adversarial all-unique stream is amortized O(1)/item") {
    val k = 404 // q94's summary width
    val n = 400000
    def drive(tokens: Iterator[String]): Double = {
      val agg = new Sketches.MgAgg(k)
      var m = agg.zero
      val t0 = System.nanoTime()
      tokens.foreach(t => m = agg.reduce(m, t))
      (System.nanoTime() - t0) / 1e9
    }
    // JIT warm-up on both shapes, then measure
    drive((0 until 50000).iterator.map(i => s"w$i"))
    drive((0 until 50000).iterator.map(i => s"w${i % k}"))
    val friendly = drive((0 until n).iterator.map(i => s"t${i % k}"))
    val adversarial = drive((0 until n).iterator.map(i => s"u$i"))
    // generous bound: measured ratio is ~2-6x (the immutable-map rebuild
    // constant); O(n·k) would be ~k ≈ 400x
    assert(adversarial < friendly * 40 + 0.5,
      f"adversarial $adversarial%.2fs vs friendly $friendly%.2fs — " +
        "decrement branch is no longer amortized O(1)")
  }

  test("MG summary keeps every φ-frequent item on an adversarial mix") {
    // heavy item at 2% of a stream that is otherwise all-unique (the
    // decrement-heavy regime): with k = 404 >> 1/φ the superset
    // guarantee must hold
    val k = 404
    val agg = new Sketches.MgAgg(k)
    var m = agg.zero
    (0 until 100000).foreach { i =>
      m = agg.reduce(m, if (i % 50 == 0) "HEAVY" else s"u$i")
    }
    assert(agg.finish(m).split('\u0001').contains("HEAVY"))
  }

  // ---- KMV hash key folding (ADVICE r4) -----------------------------
  test("kmvHash folds wide keys below 2^31 before the LCG multiply") {
    import spark.implicits._
    // keys straddling 2^31 and 2^62: unfolded, 2^62 * 1103515245
    // wraps long math in Spark and ERRORS in DuckDB — the fold keeps
    // both engines in the exact-int64 regime and makes wide == folded
    val wide = Seq(0L, 1L, 2147483647L, 2147483648L, 4611686018427387904L,
      Long.MaxValue)
    val rows = wide.toDF("key")
      .select(Sketches.kmvHash(col("key")).as("h"),
        Sketches.kmvHash(pmod(col("key"), lit(2147483648L))).as("hf"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "fold must be idempotent")
      assert(r.getLong(0) >= 0L && r.getLong(0) < 2147483648L)
    }
    // spot-pin two values against the closed form the DuckDB oracle
    // runs: ((key % 2^31) * 1103515245 + 12345) % 2^31
    def ref(key: Long): Long =
      ((key % 2147483648L) * 1103515245L + 12345L) % 2147483648L
    val byKey = wide.toDF("key")
      .select(col("key"), Sketches.kmvHash(col("key")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    wide.foreach(k => assert(byKey(k) == ref(k)))
  }

  test("kmvDistinct estimates within 3x on skewed group sizes") {
    import spark.implicits._
    // group "big": 5000 distinct ids; group "tiny": 7 — the tiny group
    // must be EXACT (below k), the big one within a loose KMV bound
    val df = ((0 until 5000).map(i => ("big", i.toLong)) ++
      (0 until 7).map(i => ("tiny", i.toLong))).toDF("g", "id")
    val out = Sketches.kmvDistinct(df, col("g"), col("id"), 32)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out("tiny") == 7L)
    assert(out("big") > 5000 / 3 && out("big") < 5000 * 3,
      s"est ${out("big")}")
  }
}
