package graft.ops

import graft.core.TextSketch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over a `documents(doc_id, text, ...)`
  * table, from cheap-exact to sketch-based near-dup.
  *
  * Scale notes (the 100 TB story):
  *  - exact dedup groups by a 128-bit fingerprint, never by the text
  *    itself — the shuffle carries 16 bytes + id per row, not bodies.
  *  - n-gram Jaccard joins on shingle hashes (8 bytes), and prunes
  *    with a document-frequency cap so stop-shingles don't create
  *    O(n²) hot buckets (classic skew kill switch).
  *  - MinHash-LSH turns the all-pairs problem into an equi-join on
  *    band hashes: the only shuffle is by band value; candidate
  *    verification re-checks exact Jaccard, so LSH can only ADD
  *    recall loss, never precision loss.
  *  - SimHash pairs join on 4×16-bit bands (pigeonhole: hamming ≤ 3
  *    ⇒ ≥1 equal band), verified with bit_count(a^b) in codegen.
  *
  * Executor loss: the `localCheckpoint` calls in this object
  * (the SemDeDup dropped-id side, and the edge and per-round label
  * tables of the connected components)
  * keep their blocks only on the executors that computed them, with the
  * lineage cut. If such an executor is lost before the result is
  * consumed, the read fails with Spark's "Checkpoint block ... not
  * found" error instead of recomputing, and the caller re-runs the
  * operator. That buys flat plans and needs no checkpoint directory; on
  * a cluster with executor churn, `checkpoint()` to reliable storage is
  * the fault-tolerant swap (slower: every such table is written out).
  */
object Dedup {

  /** One row per distinct normalized text: the surviving doc_id (min),
    * the duplicate count, and the fingerprint. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))
      .orderBy("keep_id")

  /** Exact word-n-gram Jaccard near-dup pairs, fully relational (no
    * sketches, no UDFs) — the brute-force baseline the sketch variants
    * are judged against. Output is all-integer so the oracle compare
    * is exact: (doc_a, doc_b, common, na, nb) for pairs with
    * jaccard >= 1/2 (common*2 >= na+nb-common).
    *
    * `maxShingleDf` drops shingles appearing in more than that many
    * docs before the self-join — the skew guard at scale, ON BY
    * DEFAULT ([[DefaultShingleDfCap]]; r4 verdict: the exact chain is
    * the op a user reaches for first, and a stop-shingle at corpus
    * scale creates an O(hot²) bucket — the guard must not be opt-in).
    * The cap is plain SQL (a HAVING df <= cap anti-set), mirrored in
    * the q21/q89 oracles; passing Int.MaxValue explicitly disables it
    * (small-corpus baselines only). The number of capped shingles is
    * published as an observed metric (`graft.shingle_df_cap*`) on the
    * hot-set subplan — zero extra passes.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
                        maxShingleDf: Int = DefaultShingleDfCap): DataFrame =
    shingleOverlapPairs(docs, n, maxShingleDf)
      .where(col("common") * 2 >= col("na") + col("nb") - col("common"))
      .select("doc_a", "doc_b", "common", "na", "nb")
      .orderBy("doc_a", "doc_b")

  /** Asymmetric shingle CONTAINMENT pairs (Broder's containment
    * measure): pairs where the smaller document's shingle set sits
    * (almost) entirely inside the other's —
    * `common >= thresholdPct% * min(na, nb)`. Catches the duplicates
    * symmetric Jaccard ([[ngramJaccardPairs]]) structurally cannot: a
    * short article quoted whole inside a long aggregator page has
    * Jaccard ≈ na/nb (tiny) but containment ≈ 1. Same shingling, same
    * df-cap skew guard, all-integer output, so the DuckDB oracle
    * replays it exactly — only the final predicate differs. */
  def containmentPairs(docs: DataFrame, n: Int = 3,
                       maxShingleDf: Int = DefaultShingleDfCap,
                       thresholdPct: Int = 90): DataFrame =
    shingleOverlapPairs(docs, n, maxShingleDf)
      .where(col("common") * 100 >= least(col("na"), col("nb")) * thresholdPct)
      .select("doc_a", "doc_b", "common", "na", "nb")
      .orderBy("doc_a", "doc_b")

  /** Default df cap for the exact shingle chains: a shingle in more
    * than this many documents is a stop-phrase, not a dedup signal —
    * it contributes O(df²) join pairs while every pair it produces is
    * also found through the documents' rarer shingles (or is not a
    * near-dup at all). 1000 keeps every genuine near-dup cluster the
    * fixtures plant (df ≤ 5) by three orders of magnitude while
    * bounding any single shingle's fan-out at 10⁶ pairs.
    *
    * The cap has a miss case: a cluster of more than 1000 documents
    * whose shingles are ALL shared by the whole cluster (e.g. identical
    * short docs) has no rarer shingle to fall back on, so every one of
    * its pairs is dropped. Pass `maxShingleDf = Int.MaxValue` where such
    * clusters must be found. */
  val DefaultShingleDfCap = 1000

  private val capMetricSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Shared core of the exact (sketch-free) pair ops: distinct word
    * n-gram shingles per doc, document-frequency cap (default-on, see
    * [[DefaultShingleDfCap]]), shingle equi-self-join, overlap +
    * set-size counts. Returns ALL overlapping ordered pairs
    * `(doc_a < doc_b, common, na, nb)` — callers apply their own
    * similarity predicate. */
  private def shingleOverlapPairs(docs: DataFrame, n: Int,
                                  maxShingleDf: Int): DataFrame = {
    val words = docs.select(
      col("doc_id"),
      split(lower(trim(col("text"))), TextOps.Ws).as("w"))
    // shingle strings (not hashes) so the DuckDB oracle can reproduce
    // them verbatim; the hashed variant is minhashLshPairs below.
    val shingles = words
      .where(size(col("w")) >= n)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), size(col("w")) - n),
          i => concat_ws(" ", slice(col("w"), i + 1, lit(n))))).as("s"))
      .distinct()
    val pruned =
      if (maxShingleDf == Int.MaxValue) shingles
      else {
        // anti-join against the HOT set (df > cap) — near-empty in
        // healthy corpora, so it broadcasts; joining against the huge
        // keep-set instead would shuffle every shingle a second time.
        // observe() publishes how many shingles the cap dropped (unique
        // name per call — two chains in one query must not collide) on
        // the hot subplan itself: the count rides the action that
        // materializes the join, no extra pass, and surfaces through
        // any QueryExecutionListener (pinned in SparkEntrySpec).
        val hot = shingles.groupBy("s").agg(count(lit(1)).as("df"))
          .where(col("df") > maxShingleDf)
          .observe(s"graft.shingle_df_cap_${capMetricSeq.incrementAndGet()}",
            count(lit(1)).as("capped_shingles"))
        shingles.join(hot.select("s"), Seq("s"), "left_anti")
      }
    val sizes = pruned.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val a = pruned.as("a"); val b = pruned.as("b")
    val pairs = a.join(b,
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("nsh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("nsh", "nb"), "doc_b")
  }

  /** `(doc_id, sh, bands)` sketch rows — the ONE definition of the
    * shingle→minhash→band pipeline, shared by the symmetric
    * ([[minhashLshPairs]]) and asymmetric ([[incrementalDedup]]) LSH
    * dedups so a change to shingling, permutation count, or banding
    * can never make q26/q46 and q62 disagree on what a near-dup is. */
  private def lshSketch(docs: DataFrame, n: Int, numPerms: Int,
                        rowsPerBand: Int): DataFrame = {
    val shingleUdf = udf((t: String) => TextSketch.shingleHashes(t, n))
    val bandsUdf = udf((sh: Array[Long]) =>
      TextSketch.bandHashes(TextSketch.minhashSignature(sh, numPerms), rowsPerBand))
    docs
      .select(col("doc_id"), shingleUdf(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
      .withColumn("bands", bandsUdf(col("sh")))
  }

  /** One `(doc_id, band_idx, band_hash)` row per band of a sketch —
    * the LSH candidate join key. */
  private def lshBanded(sk: DataFrame): DataFrame =
    sk.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))

  /** Exact shingle-set overlap columns (`common`, `union_n`) from
    * `sha`/`shb` arrays — the shared verification predicate input. */
  private def exactOverlapCols(df: DataFrame): DataFrame = df
    .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
    .withColumn("union_n", size(col("sha")) + size(col("shb")) - col("common"))

  /** MinHash + LSH banding near-dup pairs: sketch per doc (UDF),
    * equi-join on band hashes, exact-Jaccard verification on the
    * shingle-hash arrays (array_intersect on longs — precise). */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, numPerms: Int = 64,
                      rowsPerBand: Int = 8, threshold: Double = 0.5): DataFrame = {
    val sketched = lshSketch(docs, n, numPerms, rowsPerBand)
    val banded = lshBanded(sketched)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sk = sketched.select(col("doc_id"), col("sh"))
    exactOverlapCols(cand
      .join(sk.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sha"), "doc_a")
      .join(sk.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "shb"), "doc_b"))
      .where(col("common") >= col("union_n") * threshold)
      .select(col("doc_a"), col("doc_b"), col("common"), col("union_n"))
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental near-dup dedup of a NEW corpus snapshot against an
    * already-committed (already-deduped) reference corpus — the step a
    * continuously-refreshed training set runs per crawl dump: keep a
    * new document only when it is NOT a near-dup (shingle Jaccard >=
    * `threshold`) of ANY committed document. New-vs-new dedup within
    * the snapshot is [[minhashLshPairs]]+[[dupClusters]]'s job (q46);
    * this op is the asymmetric join against the committed side.
    * Returns the surviving `doc_id`s.
    *
    * Scale shape: same banded-LSH candidate generation as
    * [[minhashLshPairs]], but the band join is new×ref (an equi-join
    * on (band_idx, band_hash)) — the committed side ships ONLY its
    * 8-byte banded sketch rows, never bodies, and at 10^10 committed
    * docs that side is a bucketed table appended per dump, so each
    * incremental pass shuffles the NEW snapshot's sketches against a
    * co-located sorted band index. Exact shingle-set verify runs only
    * on candidates; the final drop is a left_anti on the 8-byte id. */
  def incrementalDedup(newDocs: DataFrame, refDocs: DataFrame,
                       n: Int = 3, numPerms: Int = 64, rowsPerBand: Int = 8,
                       threshold: Double = 0.5): DataFrame =
    incrementalDedupPrecomputed(newDocs,
      refSketches(refDocs, n, numPerms, rowsPerBand),
      n, numPerms, rowsPerBand, threshold)

  /** The committed-corpus sketch table `(doc_id, sh, bands)` a per-dump
    * incremental pipeline PERSISTS at commit and appends per dump — the
    * at-scale shape [[incrementalDedup]]'s scaladoc describes: the
    * committed side is sketched ONCE when it lands, never re-read as
    * text. Plain arrays of longs, so it round-trips parquet; write it
    * bucketed by `band_hash` so each dump's candidate join is
    * co-located. Feed to [[incrementalDedupPrecomputed]]. */
  def refSketches(refDocs: DataFrame, n: Int = 3, numPerms: Int = 64,
                  rowsPerBand: Int = 8): DataFrame =
    lshSketch(refDocs, n, numPerms, rowsPerBand)

  /** [[incrementalDedup]] against an already-materialized committed-side
    * sketch table (from [[refSketches]], typically read back from
    * storage) — the production path where only the NEW snapshot is
    * sketched per dump. The sketch parameters must match those the
    * index was built with. */
  def incrementalDedupPrecomputed(newDocs: DataFrame, refSketch: DataFrame,
                                  n: Int = 3, numPerms: Int = 64,
                                  rowsPerBand: Int = 8,
                                  threshold: Double = 0.5): DataFrame = {
    val sNew = lshSketch(newDocs, n, numPerms, rowsPerBand)
    val sRef = refSketch
    val cand = lshBanded(sNew).as("a").join(lshBanded(sRef).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("ref_id"))
      .distinct()
    val dropped = exactOverlapCols(cand
      .join(sNew.select(col("doc_id").as("new_id"), col("sh").as("sha")), "new_id")
      .join(sRef.select(col("doc_id").as("ref_id"), col("sh").as("shb")), "ref_id"))
      .where(col("common") >= col("union_n") * threshold)
      .select(col("new_id").as("doc_id")).distinct()
    newDocs.select("doc_id")
      .join(dropped, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster document embeddings under a small centroid codebook, then
    * within each cluster drop every vector that has a cosine-similarity
    * >= `threshold` neighbor with a LOWER id — the deterministic
    * "keep the first of each semantic duplicate group" greedy. Returns
    * the surviving `vec_id`s. Complements the sketch dedups: MinHash
    * catches lexical near-dups, this catches paraphrases/translations
    * that share no shingles but embed nearby.
    *
    * The codebook is the table's first `k` vectors (the same
    * deterministic no-refinement choice as [[Similarity.ivfTopK]], and
    * for the same reason: iterative k-means float sums are
    * aggregation-order-dependent, which would make the op impossible to
    * value-check externally). Assignment is a pure projection
    * ([[Similarity.ivfClusterCol]] — no join, no extra shuffle).
    *
    * Scale shape: clustering bounds the pair stage to within-cluster
    * all-pairs — an EQUI-join on `cluster`, never a cartesian; at
    * 10^10 vectors, `k` MUST scale so lists stay bounded (SemDeDup
    * uses ~100k clusters for 5B embeddings — use
    * [[semanticDedupScaled]], which derives k from the corpus size)
    * and the assigned table is written bucketed by `cluster` so each
    * list's pair scan is co-located. Norms are precomputed once per
    * vector; only (id, cluster, vec, norm) rides the shuffle.
    *
    * Skew guard (r4 verdict: a fixed small k over an unbounded corpus
    * is Θ(n²/k) pairs — a scale-killer that used to fail only by
    * timeout): before the pair join runs, the per-cluster sizes are
    * aggregated and the call FAILS LOUDLY if the within-cluster pair
    * count would exceed `maxClusterPairs` — the fix is a larger k, not
    * a longer wait. The slim (norm + assignment) frame is CACHED for
    * the duration of the call so the O(n·k·d) argmax assignment is
    * computed exactly once (guard + both pair-join branches read the
    * cache); the dropped-id side is then eagerly materialized
    * (localCheckpoint — duplicate-cardinality, far below n) so the
    * cache can be released before returning — the budgetApportion
    * cache-scoping pattern. */
  def semanticDedup(emb: DataFrame, k: Int = 8,
                    threshold: Double = 0.4,
                    maxClusterPairs: Long = 1L << 26): DataFrame = {
    val slim = slimOf(emb, k).cache()
    try {
      val guard = slim.groupBy("cluster").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("pairs"),
          coalesce(max(col("c")), lit(0L)).as("maxc")).head()
      require(guard.getLong(0) <= maxClusterPairs,
        s"semanticDedup: ${guard.getLong(0)} within-cluster pairs " +
          s"(largest cluster ${guard.getLong(1)}) exceeds " +
          s"maxClusterPairs=$maxClusterPairs with k=$k — raise k (use " +
          "semanticDedupScaled to derive k from the corpus size) or " +
          "raise the cap explicitly")
      val dropped = droppedIds(slim, threshold).localCheckpoint(true)
      emb.select("vec_id")
        .join(dropped, Seq("vec_id"), "left_anti")
        .orderBy("vec_id")
    } finally slim.unpersist()
  }

  /** `(vec_id, embedding, nrm, cluster)` under the deterministic
    * first-k codebook — the shared input of the guard and pair stage. */
  private def slimOf(emb: DataFrame, k: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"),
      Similarity.ivfClusterCol(Similarity.collectCodebook(emb, k)))

  /** The within-cluster pair stage: ids with a cosine >= threshold
    * neighbor of LOWER id, via an equi-join on `cluster`. */
  private def droppedIds(slim: DataFrame, threshold: Double): DataFrame = {
    val a = slim.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("nrm").as("na"), col("cluster"))
    val b = slim.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("nrm").as("nb"), col("cluster"))
    a.join(b, "cluster")
      .where(col("id_a") < col("id_b"))
      .where(Similarity.dot(col("va"), col("vb")) /
        (col("na") * col("nb")) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
  }

  /** The q63 pair-stage plan over a fresh (uncached) slim frame —
    * split out so PlanSpec can pin the cluster equi-join shape: the
    * public [[semanticDedup]] eagerly materializes the dropped side
    * (to release its assignment cache), which collapses the RETURNED
    * plan to an anti-join against an RDD scan. */
  private[graft] def semanticPairPlan(emb: DataFrame, k: Int,
                                      threshold: Double): DataFrame =
    droppedIds(slimOf(emb, k), threshold)

  /** [[semanticDedup]] with k derived from the corpus size — the
    * production entry point at scale: k = ⌈n / targetClusterSize⌉
    * (floored at 8) keeps expected within-cluster pair work at
    * Θ(n·targetClusterSize) no matter how the corpus grows, which is
    * exactly SemDeDup's own operating point (~100k clusters over 5B
    * embeddings ≈ 50k vectors/cluster; the default here is far
    * tighter because the deterministic first-k codebook does no
    * balancing refinement). The codebook collect is k rows — bounded
    * by `maxK` so a silly targetClusterSize can't turn the driver
    * fetch into a corpus read. Deterministic given the table (n and
    * the first-k prefix are replay-stable), so the external oracle
    * replays it by computing the same k. */
  def semanticDedupScaled(emb: DataFrame, targetClusterSize: Int = 1000,
                          threshold: Double = 0.4,
                          maxClusterPairs: Long = 1L << 26,
                          maxK: Int = 1 << 20): DataFrame = {
    require(targetClusterSize > 0)
    val n = emb.count()
    val k = math.max(8L, (n + targetClusterSize - 1) / targetClusterSize)
    require(k <= maxK,
      s"semanticDedupScaled: derived k=$k exceeds maxK=$maxK — the " +
        "first-k codebook is a driver-side collect; raise " +
        "targetClusterSize or maxK deliberately")
    semanticDedup(emb, k.toInt, threshold, maxClusterPairs)
  }

  /** SimHash near-dup pairs: hamming(simhash_a, simhash_b) <= maxDist,
    * candidates bucketed by 4×16-bit bands (pigeonhole-complete for
    * maxDist <= 3). */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-band bucketing is only complete for hamming <= 3")
    val simUdf = udf((t: String) => TextSketch.simhash60(t))
    val bandUdf = udf((s: Long) => TextSketch.simhashBands(s))
    val sk = docs
      .select(col("doc_id"), simUdf(col("text")).as("sim"))
      .where(col("sim") =!= 0L)
      .withColumn("band", explode(bandUdf(col("sim"))))
    val pairs = sk.as("a").join(sk.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .distinct()
    pairs
      .withColumn("dist", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .where(col("dist") <= maxDist)
      .select("doc_a", "doc_b", "dist")
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding near-dup pairs: cosine >= threshold. Brute-force
    * self-join BASELINE (exact, O(n²)) — [[embeddingNearDupsLsh]] is
    * the scale path. Guarded (r4 verdict): beyond `maxVectors` the
    * O(n²) pair stage is the wrong tool by construction, so the call
    * FAILS LOUDLY (one bounded count action) instead of grinding —
    * the default bound (10⁵ vectors ≈ 5·10⁹ pairs) is already far
    * past where anyone should prefer this over the LSH path; raise it
    * explicitly only for deliberate endurance runs. */
  def embeddingNearDups(emb: DataFrame, threshold: Double,
                        maxVectors: Long = 100000L): DataFrame = {
    val n = emb.count()
    require(n <= maxVectors,
      s"embeddingNearDups: $n vectors -> ~${n * n / 2} exact pairs " +
        s"exceeds maxVectors=$maxVectors — this is the O(n^2) oracle " +
        "BASELINE; use embeddingNearDupsLsh (or raise maxVectors " +
        "deliberately)")
    // Precompute norms once per vector (O(n·d)) and repartition the
    // streamed side so the O(n²) pair stage spreads over all cores — a
    // single-file parquet read otherwise runs the whole cross join in
    // one task. No forced broadcast: the planner (sizes + AQE) picks
    // broadcast-NL for a small build side and falls back to a shuffle
    // cartesian beyond the broadcast limit, so the baseline keeps
    // RUNNING where a mandatory broadcast would OOM. Pair arithmetic
    // (dot/(na·nb)) matches the DuckDB oracle formula exactly, so
    // threshold-boundary rows agree bit-for-bit.
    val parts = emb.sparkSession.sessionState.conf.numShufflePartitions
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    val a = withNorm.select(col("vec_id").as("id_a"),
      col("embedding").as("va"), col("nrm").as("na"))
      .repartition(parts, col("id_a"))
    val b = withNorm.select(col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"))
      .orderBy("id_a", "id_b")
  }

  /** Embedding near-dup pairs at SCALE: random-hyperplane LSH with
    * OR-amplification — `tables` independent hash tables of `nBits`
    * hyperplanes each (Similarity.lshBuckets seeded per table); a pair
    * is a candidate if it collides in ANY table; candidates are
    * verified with the exact cosine, so precision is exact and only
    * recall depends on (nBits, tables). The only shuffles are
    * equi-joins on (table, bucket) — no all-pairs stage, no broadcast
    * of the vector table. Recall vs the brute-force baseline is pinned
    * in SparkEntrySpec. */
  def embeddingNearDupsLsh(emb: DataFrame, dim: Int,
                           threshold: Double, nBits: Int = 8,
                           tables: Int = 4): DataFrame = {
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    // ALL tables' buckets from ONE projection of one scan: the
    // tables × nBits dot products ride in a single array + posexplode
    // (pos = table id) — not `tables` separate scans of the vector
    // store unioned (8× the scan cost at a 100 TB store).
    val bucketed = emb.select(col("vec_id"),
        posexplode(array((0 until tables).map(t =>
          Similarity.bucketCol(dim, nBits, seed = t + 1)): _*))
          .as(Seq("tbl", "bucket")))
    val cand = bucketed.as("a").join(bucketed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    val va = withNorm.select(col("vec_id").as("id_a"),
      col("embedding").as("va"), col("nrm").as("na"))
    val vb = withNorm.select(col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"))
      .orderBy("id_a", "id_b")
  }

  /** Eval-set decontamination: for every NON-eval document, how many
    * of its distinct word n-grams also occur in ANY eval-set document
    * (0 for clean docs, so the output covers the whole corpus slice).
    * The training-data hygiene pass every serious pretraining run
    * executes — benchmark/test-set text must not leak into the corpus,
    * and n-gram collision (n≈5..13 words) is the standard detector.
    *
    * Scale shape (the 100 TB story): grams ride the join as 60-bit
    * md5-prefix hashes (8 bytes), never strings; both sides are
    * per-doc DISTINCT before the join so multiplicity is bounded by
    * doc count, not gram count; and the eval side is tiny relative to
    * the corpus (eval sets are fixed benchmark suites), so the planner
    * broadcasts it — the corpus side is then a map-side hash probe
    * with NO shuffle of corpus grams. The same md5-prefix expression
    * exists verbatim in DuckDB, so counts are oracle-exact
    * (hash collisions, were any to occur, are identical in both
    * engines by construction).
    *
    * `isEval` is a predicate over `doc_id` (e.g. `col("doc_id") % 20
    * === 0` for a deterministic 5% eval slice in tests).
    */
  def contaminationCounts(docs: DataFrame, n: Int, isEval: Column): DataFrame = {
    val words = docs.select(col("doc_id"),
      split(lower(trim(col("text"))), TextOps.Ws).as("w"))
    val grams = words.where(size(col("w")) >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("w")) - n),
          i => conv(substring(md5(
            concat_ws(" ", slice(col("w"), i + 1, lit(n)))), 1, 15), 16, 10)
            .cast("long"))).as("gh"))
      .distinct()
    val ev = grams.where(isEval).select("gh").distinct()
    val hits = grams.where(not(isEval)).join(ev, "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contam"))
    docs.where(not(isEval)).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_contam"), lit(0L)).as("n_contam"))
      .orderBy("doc_id")
  }

  /** Bloom-filter decontamination — the FIXED-MEMORY scale path to
    * [[contaminationCounts]]. The exact join is right when the eval
    * side is a small benchmark suite; when the blocked set is itself
    * corpus-sized (copyright takedowns, a previous training run's eval
    * shards, another lab's released test sets — tens of millions of
    * grams), broadcasting exact hashes stops scaling. The standard
    * answer (CCNet's LM-filter plumbing, Lee et al.'s dedup service)
    * is an m-bit Bloom filter: membership costs k bit probes against a
    * bitmap whose size is FIXED regardless of the blocked-set
    * cardinality, at the price of a bounded false-positive rate —
    * acceptable because decontamination over-removal is harmless while
    * under-removal is not, and a Bloom filter has ZERO false negatives
    * (every exact collision is flagged; spec-pinned against
    * [[contaminationCounts]]).
    *
    * Determinism contract: the k=3 "hash functions" are disjoint
    * log₂(m)-bit fields of the SAME 60-bit md5-prefix gram hash the
    * exact path joins on (positions `(gh >> 18·i) & (m−1)`), so a SQL
    * oracle replays bit membership bit-for-bit — no murmur, no seed
    * state. With m = 2^18 the filter holds ~26k grams at 1% FP
    * (k=3 optimal near m/n ≈ 10); production sizes m up, and the
    * probe shape is unchanged.
    *
    * Scale shape: the BUILD aggregates eval-gram bit positions to at
    * most m distinct values before a bounded driver collect (≤ m
    * longs — the q55 boilerplate-set / IVF-codebook precedent), and
    * the bitmap rides the plan as an m/64-element long-array literal
    * (32 KiB at 2^18; broadcast territory at larger m). The PROBE is a
    * pure per-row projection — per-doc distinct grams and k bit tests
    * inside array lambdas, NO join and NO shuffle of corpus grams at
    * all (PlanSpec pins the join-free plan), vs the exact path's
    * broadcast hash join. Corpus bodies are read once, in-scan.
    *
    * Output per non-eval doc: distinct-gram count, Bloom-flagged gram
    * count, and a 0/1 `contaminated` verdict.
    */
  def bloomContamination(docs: DataFrame, n: Int, isEval: Column,
                         mBits: Int = 1 << 18): DataFrame = {
    require(mBits >= 64 && Integer.bitCount(mBits) == 1,
      s"mBits must be a power of two >= 64, got $mBits")
    val log2m = Integer.numberOfTrailingZeros(mBits)
    require(3 * log2m <= 60, s"3 hash fields of $log2m bits exceed the 60-bit gram hash")
    val mask = lit(mBits.toLong - 1L)
    // field i of the gram hash; shift counts are literal ints, so the
    // whole probe stays in codegen (no UDF, no non-codegen Expression)
    def posOf(gh: Column, slot: Int): Column =
      shiftright(gh, slot * log2m).bitwiseAND(mask)

    // identical gram pipeline to contaminationCounts (same split, same
    // n-token windows, same 60-bit md5-prefix hash), but kept AS AN
    // ARRAY COLUMN per doc — materialized stepwise (the q48 lesson:
    // HOF lambdas are interpreted; an inlined chain re-evaluates per
    // element) — so short docs keep an empty array instead of
    // vanishing in an explode.
    val withGrams = docs
      .select(col("doc_id"), split(lower(trim(col("text"))), TextOps.Ws).as("w"))
      .withColumn("grams",
        when(size(col("w")) >= n,
          array_distinct(transform(sequence(lit(0), size(col("w")) - n),
            i => conv(substring(md5(
              concat_ws(" ", slice(col("w"), i + 1, lit(n)))), 1, 15), 16, 10)
              .cast("long"))))
          .otherwise(array().cast("array<bigint>")))

    // build: eval grams -> bit positions -> distinct (bounded by m)
    // -> bitmap. The collect is <= m longs by construction.
    val evPos = withGrams.where(isEval)
      .select(explode(col("grams")).as("gh"))
      .select(explode(array(posOf(col("gh"), 0), posOf(col("gh"), 1),
        posOf(col("gh"), 2))).as("p"))
      .distinct()
      .collect().map(_.getLong(0))
    val bits = new Array[Long](mBits / 64)
    evPos.foreach { p => bits((p >> 6).toInt) |= 1L << (p & 63L).toInt }

    val bitsCol = typedLit(bits.toSeq)
    val pows = typedLit((0 until 64).map(i => 1L << i))
    def isSet(p: Column): Column =
      element_at(bitsCol, (shiftright(p, 6) + 1).cast("int"))
        .bitwiseAND(element_at(pows, (p % 64 + 1).cast("int"))) =!= 0
    def hit(gh: Column): Column =
      isSet(posOf(gh, 0)) && isSet(posOf(gh, 1)) && isSet(posOf(gh, 2))

    withGrams.where(!isEval)
      .withColumn("n_grams", size(col("grams")).cast("long"))
      .withColumn("n_flagged",
        size(filter(col("grams"), gh => hit(gh))).cast("long"))
      .select(col("doc_id"), col("n_grams"), col("n_flagged"),
        when(col("n_flagged") > 0, 1).otherwise(0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Substring-level exact dedup signals (the Lee et al. 2022
    * "Deduplicating Training Data" detector, window-hash form): for
    * EVERY document, how many distinct k-token windows it contains
    * (`n_win`) and how many of those appear verbatim in at least one
    * OTHER document (`n_rep`). Doc-level near-dup (q21/q26/q27) misses
    * boilerplate that rides inside otherwise-distinct pages; this
    * catches any k-token run shared across the corpus, which is what a
    * substring-dedup pass removes before training.
    *
    * Scale shape: windows ride as 60-bit md5-prefix hashes (8 bytes);
    * per-doc DISTINCT bounds multiplicity; the df count is a partial-
    * aggregatable groupBy; the join back to docs is an equi-join on
    * the hash. Hot boilerplate windows (df in the millions at 100 TB)
    * cost only their aggregation row — nothing here is quadratic in
    * df. md5-per-window is O(n·k) character work per doc vs O(n) for
    * a true rolling hash, the price of an expression the DuckDB
    * oracle replays verbatim; k is small and the work is per-row
    * parallel, so the scan stays compute-bound, not shuffle-bound.
    */
  def repeatedWindowCounts(docs: DataFrame, k: Int): DataFrame = {
    val wins = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("w")) - k),
          i => conv(substring(md5(
            concat_ws(" ", slice(col("w"), i + 1, lit(k)))), 1, 15), 16, 10)
            .cast("long"))).as("wh"))
      .distinct()
    val rep = wins.groupBy("wh").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2).select("wh")
    val nWin = wins.groupBy("doc_id").agg(count(lit(1)).as("n_win"))
    val nRep = wins.join(rep, "wh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_rep"))
    docs.select("doc_id")
      .join(nWin, Seq("doc_id"), "left")
      .join(nRep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_rep"), lit(0L)).as("n_rep"))
      .orderBy("doc_id")
  }

  /** Substring-level dedup REMOVAL — the transform step of Lee et al.
    * 2022 (q50 is the detector): every token position covered by a
    * k-token window that also occurs verbatim in another document is
    * cut, and the document is rebuilt from the surviving tokens. This
    * is the pass that strips syndicated boilerplate riding inside
    * otherwise-unique pages without dropping the whole page.
    *
    * Output per doc: original token count, removed-token count, and
    * the md5 of the cleaned (space-joined) text, so the oracle pins
    * the rebuild bit-for-bit.
    *
    * Scale shape: window starts ride as (doc_id, pos, 60-bit hash) —
    * never token strings; the repeated set is a partial-aggregatable
    * df-count over hashes (distinct docs per window, so a window
    * repeated only WITHIN one doc does not trigger removal — same rule
    * as q50); each doc's repeated-start positions come back as ONE
    * int-array row (bounded by doc length), and the cut itself is an
    * in-row indexed `filter` lambda — bodies never shuffle, nothing is
    * quadratic in document frequency. */
  def removeRepeatedWindows(docs: DataFrame, k: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
    // posexplode's pos IS the 0-based window start
    val wins = toks.where(size(col("w")) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("w")) - k),
          i => conv(substring(md5(
            concat_ws(" ", slice(col("w"), i + 1, lit(k)))), 1, 15), 16, 10)
            .cast("long"))).as(Seq("i", "wh")))
    val rep = wins.select("doc_id", "wh").distinct()
      .groupBy("wh").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2).select("wh")
    val starts = wins.join(rep, "wh")
      .groupBy("doc_id").agg(collect_list(col("i")).as("ss"))
    val covered = (j: Column) =>
      exists(col("ss"), s => s <= j && j < s + k)
    toks.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
        filter(col("w"), (t, j) =>
          coalesce(not(covered(j)), lit(true))).as("kept"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tok"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("kept"))).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Cross-source near-dup overlap matrix: for every unordered pair of
    * `source` values, how many verified near-dup pairs span them — the
    * inter-dump diagnostic a multi-snapshot crawl corpus is measured by
    * before merging ("how much of dump B is already in dump A?"). The
    * diagonal (src_a = src_b) counts within-source dups.
    *
    * Scale shape: the pair set is the (small) near-dup output of
    * [[minhashLshPairs]], so the two source-lookup equi-joins broadcast
    * the pairs against a 2-column (doc_id, source) projection of the
    * corpus — bodies never ride — and the matrix groupBy is bounded by
    * |sources|², not by corpus size. */
  def crossSourceOverlap(docs: DataFrame, n: Int = 3, numPerms: Int = 64,
                         rowsPerBand: Int = 8,
                         threshold: Double = 0.5): DataFrame = {
    val pairs = minhashLshPairs(docs, n, numPerms, rowsPerBand, threshold)
      .select("doc_a", "doc_b")
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("source", "sa"), "doc_a")
      .join(src.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("source", "sb"), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** Collapse near-dup PAIRS into CLUSTERS: connected components over
    * the pair graph, labeling every member with the smallest doc_id in
    * its component (the canonical survivor a 100 TB dedup pass keeps).
    * Input: (doc_a, doc_b) pairs from any of the pair ops above.
    * Output: (doc_id, cluster_id, cluster_n) for every doc that appears
    * in at least one pair, cluster_id = min id of the component.
    *
    * Algorithm: iterative min-label propagation over the (bidirected)
    * edge list — label(v) ← min(label(v), min over neighbors u of
    * label(u)) — plus a pointer-jumping step each round
    * (label(v) ← label(label(v)), an equi-join on the label column)
    * that compresses label chains, so convergence is O(log n) rounds
    * even on path-shaped components instead of O(diameter). Every round
    * is two shuffles on 8-byte keys (edges never carry bodies), runs as
    * ONE Spark job — the changed-label count is folded into the same
    * action that materializes the round's (lazy) localCheckpoint, not a
    * separate join+isEmpty job — and the checkpoint keeps the plan
    * flat. The driver loop touches only a scalar convergence count,
    * never data. Near-dup graphs in practice have tiny components, so
    * this typically converges in 2-3 rounds.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponents(pairs
        .select(col("doc_a").cast("long").as("u"),
          col("doc_b").cast("long").as("v")), maxIters)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_n"))
      .orderBy("doc_id")

  /** The min-label + pointer-jumping connected-components core behind
    * [[dupClusters]] (see its scaladoc for the algorithm and scale
    * shape), generic over the node key type: any orderable column
    * works (`least`/`min` define the canonical label), so long doc
    * ids and mirror-host strings share one implementation. Input:
    * undirected edges as `(u, v)` columns; output `(id, lbl,
    * cluster_n)` for every node on at least one edge, `lbl` = the
    * component's minimum key. */
  private[graft] def connectedComponents(pairsUV: DataFrame,
      maxIters: Int = 50): DataFrame = {
    val edges = pairsUV.select(col("u"), col("v"))
      .unionByName(pairsUV.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint()
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIters) {
      // neighbor-min propagation: best label reachable over one edge.
      // The PRE-ROUND label rides along as `old` so convergence is
      // decided inside the round's own materializing action — no
      // separate join+isEmpty job per round.
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "v").withColumnRenamed("lbl", "vlbl"), "v")
        .groupBy(col("u").as("id")).agg(min("vlbl").as("nlbl"))
      val hopped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          col("lbl").as("old"))
      // pointer jumping: follow my label's own label (labels always
      // point to smaller ids, so this halves chain depth per round)
      val next = hopped.as("x")
        .join(hopped.select(col("id").as("lbl"), col("lbl").as("plbl")).as("y"),
          Seq("lbl"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("plbl"), col("lbl"))).as("lbl"),
          col("old"))
        .localCheckpoint(false) // lazy: materialized by the count below
      // ONE job per round: the filtered count both materializes the
      // round's checkpoint (truncating lineage) and yields the
      // changed-label count (labels only ever decrease, so lbl < old
      // ⇔ changed)
      val nChanged = next.where(col("lbl") < col("old")).count()
      labels = next.select(col("id"), col("lbl"))
      converged = nChanged == 0L
      iter += 1
    }
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_n"))
    labels.join(sizes, "lbl").select(col("id"), col("lbl"), col("cluster_n"))
  }

  /** Boilerplate LINE removal — the CCNet/RefinedWeb pass that drops
    * lines repeated verbatim across many documents (cookie banners,
    * copyright footers, nav text) while keeping each document's unique
    * body. Input: `(doc_id, lines: array<string>)`; output one row per
    * doc with the surviving line count and the md5 of the cleaned text
    * (lines joined by \n), so an oracle can pin the rebuild
    * bit-for-bit.
    *
    * Scale shape (the 100 TB story): document frequency is aggregated
    * over 60-bit md5-prefix line hashes — the only shuffle in the
    * whole operator moves 8-byte hashes, never line bodies. The
    * frequent set (df ≥ `minDf`) is by definition boilerplate: a
    * bounded, corpus-size-independent set of distinct strings, so it
    * is collected to the driver (same k-row pattern as the IVF
    * codebook) and applied as a literal IN-filter INSIDE an array
    * `filter` lambda — the cleaned document is a pure projection of
    * its own row. Bodies never leave their partition; no join, no
    * second shuffle, nothing quadratic in df. `maxBoiler` caps the
    * driver fetch; exceeding it fails loudly rather than silently
    * truncating the drop set (a truncated set would under-clean). */
  def dropFrequentLines(docLines: DataFrame, minDf: Int,
      maxBoiler: Int = 1 << 16): DataFrame = {
    def h(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val freq = docLines
      .select(explode(col("lines")).as("line"))
      .select(h(col("line")).as("lh"))
      .groupBy("lh").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .limit(maxBoiler + 1)
      .collect().map(_.getLong(0))
    require(freq.length <= maxBoiler,
      s"boilerplate set exceeds maxBoiler=$maxBoiler; raise the cap " +
        "or pre-shard the df aggregation")
    val isBoiler: Column => Column =
      if (freq.isEmpty) _ => lit(false)
      else l => h(l).isin(freq.toSeq: _*)
    val kept = filter(col("lines"), l => not(isBoiler(l)))
    docLines.select(
      col("doc_id"),
      size(kept).cast("long").as("n_kept"),
      md5(concat_ws("\n", kept)).as("clean_md5"))
      .orderBy("doc_id")
  }
}
