package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Lab tool (NOT driver contract — like [[KernelProbe]]): the r5
  * endurance sweep. The oracle gate runs at sf0.01 and the repo's own
  * 10× guard at sf0.1; this tool adds ONE MORE DECADE by synthesizing
  * an sf1-scale documents/embeddings pair from the sf0.1 testdata
  * (deterministic replication — no external data) and timing the
  * heavy-tail queries on it at local[32], protecting the
  * integer-overflow / tie-ordering / skew contracts the gate scale
  * cannot see. Results are recorded in SCALE.md.
  *
  * Replicas are NEAR-duplicates, not byte-duplicates: each replica k
  * appends a ` replicaK` token to the text, so the shingle/LSH chains
  * face the harder regime (huge near-dup clusters with distinct
  * fingerprints) instead of collapsing everything in the exact-dedup
  * prefilter; embeddings replicate byte-identically, making every
  * vector a 10-way cosine-1 cluster — the worst case for the q23
  * baseline and the q63 guard.
  *
  * Usage: sbt "runMain graft.ScaleSweep [srcSf] [outDir] [replicas]"
  */
object ScaleSweep {

  private val Heavy = Seq(
    "q23_embedding_neardup", "q38_embedding_neardup_lsh",
    "q89_containment", "q21_ngram_jaccard", "q48_repetition_stats",
    "q67_host_rank", "q60_substring_removal", "q84_mirror_families",
    "q63_semantic_dedup", "q44_dup_clusters", "q46_dedup_corpus",
    "q26_minhash_lsh")

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse(
      Files.createTempDirectory("graft_sf1").toString)
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = LocalSpark.session(32)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docBase = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs.select(explode(sequence(lit(0), lit(reps - 1))).as("k"),
        col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .select((col("doc_id") + col("k") * docBase).as("doc_id"),
        when(col("k") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" replica"), col("k"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embBase = emb.agg(max("vec_id")).head().getLong(0) + 1
    emb.select(explode(sequence(lit(0), lit(reps - 1))).as("k"),
        col("vec_id"), col("embedding"), col("label"))
      .select((col("vec_id") + col("k") * embBase).as("vec_id"),
        col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val nd = spark.read.parquet(s"$out/documents.parquet").count()
    val ne = spark.read.parquet(s"$out/embeddings.parquet").count()
    println(s"[sweep] synthesized $out: documents=$nd embeddings=$ne")

    Heavy.foreach { name =>
      val t0 = System.nanoTime()
      val res =
        try {
          val n = SparkEntry.queries(name)(spark, out).count()
          f"rows=$n%d"
        } catch { case e: Throwable =>
          s"FAILED ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"
        }
      println(f"[sweep] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.1fs  $res")
    }
    spark.stop()
  }
}
