package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Link-graph rank over the crawl's host graph — the classic frontier
  * prioritizer (Page et al. 1999; Cho/Garcia-Molina/Page WWW'98 showed
  * PageRank-ordered crawling finds important pages first). The
  * reference schedules purely by recency (`WebCrawler.Core`'s
  * newest-first catalog order); a 10^10-URL frontier also needs a
  * global host-importance signal to split the politeness budget, which
  * is what this operator computes from the observed link graph.
  *
  * All arithmetic is 64-bit integer (rank fixed-point at `base`,
  * damping as a percent, every division an integer `div`), so the
  * result is bit-reproducible across engines and cluster sizes — a
  * DuckDB oracle replays the iterations exactly. Deviation from the
  * textbook formulation, chosen for determinism and mirrored by the
  * oracle: dangling-host mass is dropped (not redistributed), i.e. a
  * host with no outlinks leaks its damped mass to teleport only.
  *
  * Scale shape (the plan you'd want at 10^8 hosts):
  *  - edges are normalized (self-loops out, duplicates collapsed),
  *    joined ONCE with out-degrees, hash-partitioned by `src` and
  *    persisted — the expensive side never moves again (the cached
  *    scan keeps its outputPartitioning, so per-iteration joins
  *    reshuffle only the slim rank table);
  *  - each iteration moves (host, long) pairs twice: ranks shuffle to
  *    the edge partitioning for the contribution join, contributions
  *    hash-aggregate onto `dst` (map-side partial sums first);
  *  - per-iteration `localCheckpoint` truncates the lineage, the
  *    `dupClusters` precedent — an iterative plan otherwise doubles
  *    per round;
  *  - the only driver fetch is ONE node-count scalar per rank job (the
  *    64-bit overflow guard on `base`, which doubles as the warm-up of
  *    the nodes cache); rows never collect.
  *
  * Executor loss: the `localCheckpoint` calls in this object
  * (the per-iteration rank table, and the budget apportionment's
  * eager result)
  * keep their blocks only on the executors that computed them, with the
  * lineage cut. If such an executor is lost before the result is
  * consumed, the read fails with Spark's "Checkpoint block ... not
  * found" error instead of recomputing, and the caller re-runs the
  * operator. That buys flat plans and needs no checkpoint directory; on
  * a cluster with executor churn, `checkpoint()` to reliable storage is
  * the fault-tolerant swap (slower: every such table is written out).
  */
object LinkGraph {

  /** Iterative damped rank over a directed host graph.
    *
    * @param edges   (src, dst) string pairs; duplicates and self-loops
    *                are removed here so callers can pass raw sightings
    * @param iterations fixed iteration count (rank is deterministic in
    *                it; convergence detection would cost an extra
    *                action per round for nothing at fixed depth)
    * @param base    fixed-point scale: every node starts at `base`
    * @param dampPct damping factor in percent (85 = the classic 0.85)
    * @return (host, rank_score) — one row per node that appears as an
    *         endpoint; rank_score in [base*(100-dampPct)/100, …]
    */
  def hostRank(edges: DataFrame, iterations: Int,
               base: Long = 1000000000000L, dampPct: Int = 85): DataFrame = {
    require(iterations >= 1 && dampPct >= 0 && dampPct <= 100)
    val e0 = edges.select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val deg = e0.groupBy("src").agg(count(lit(1)).as("deg"))
    // the heavy side: partition by the join key once, cache — iterations
    // reuse the exchange and shuffle only (host, rank) pairs
    val e = e0.join(deg, "src").repartition(col("src")).persist()
    val nodes = e0.select(col("src").as("host"))
      .union(e0.select(col("dst").as("host"))).distinct().persist()
    // overflow guard: mass is conserved (total ≤ n·base with truncating
    // division), so a hub's contribution sum is bounded by n·base and
    // the damp step needs 100× headroom — n·base·100 must fit a long or
    // Spark wraps SILENTLY to negative ranks (the oracle, summing in
    // HUGEINT, would error instead: the bit-identical contract breaks).
    // One scalar count per rank job (a documented driver fetch, and it
    // warms the nodes cache the iterations reuse); failing loudly with
    // the largest safe base beats a silently inverted frontier.
    val n = nodes.count()
    require(n == 0 || base <= Long.MaxValue / 100L / n,
      s"base $base overflows 64-bit rank math at $n hosts — " +
        s"use base <= ${Long.MaxValue / 100L / math.max(n, 1L)} " +
        "(CrawlJob: --rank-base)")
    val teleport = base / 100L * (100L - dampPct) +
      base % 100L * (100L - dampPct) / 100L // == base*(100-d)/100 w/o overflow
    var r = nodes.select(col("host"), lit(base).as("rank_score"))
    for (_ <- 1 to iterations)
      r = rankStep(e, nodes, r, teleport, dampPct).localCheckpoint()
    e.unpersist(); nodes.unpersist()
    r
  }

  /** One damped-rank iteration (the loop body of [[hostRank]], exposed
    * un-checkpointed so the plan shape is assertable): contributions
    * equi-join `edges×ranks` on src, hash-aggregate onto dst, then a
    * left join back onto the node set for the teleport floor. */
  private[graft] def rankStep(e: DataFrame, nodes: DataFrame, r: DataFrame,
                              teleport: Long, dampPct: Int): DataFrame = {
    val sums = e.join(r, e("src") === r("host"))
      .select(col("dst"),
        expr("rank_score div deg").cast("long").as("c"))
      .groupBy("dst").agg(sum("c").as("c"))
    nodes.join(sums, nodes("host") === sums("dst"), "left")
      .select(col("host"),
        (lit(teleport) +
          expr(s"$dampPct * coalesce(c, 0L) div 100").cast("long"))
          .as("rank_score"))
  }

  /** Host-level link sightings from a store of fetched rows: one
    * (src, dst) pair per row, `src` the host the row was fetched from
    * and `dst` the registered host of the URL it points to.
    * Self-links (intra-host navigation, the bulk of a two-level crawl)
    * are kept here and stripped inside [[hostRank]] — callers can
    * union sightings from several waves/stores before ranking.
    * Pure projection: no shuffle, bodies never ride. */
  def hostSightings(rows: DataFrame, srcHost: Column, url: Column): DataFrame =
    rows.select(srcHost.cast("string").as("src"), UrlOps.host(url).as("dst"))

  /** Feed the link-graph rank back into the crawl's host dimension —
    * the bridge from the offline [[hostRank]] job to the engine's
    * priority frontier: `HostConfig.rank` keys the cross-host budget
    * (`CrawlConfig.maxTasksPerWave` orders the wave's batch by rank
    * DESC), so re-ranking the config table re-prioritizes the crawl.
    *
    * Hosts the graph has evidence on get `rank = rank_score div
    * (base div 1000)` — integer per-mille of the fixed-point base
    * (teleport floor ⇒ 150 at the default damping), clamped to Int
    * range; hosts absent from the graph keep their configured rank
    * (no evidence ⇒ no change). All integer math, deterministic.
    *
    * Scale shape: the rank side is slim (host, int) — one hash join
    * against the host dimension, broadcastable whenever the seed list
    * is; column order and types are preserved so the result stays
    * encodable as the engine's host-config row.
    *
    * @param hosts     host-config table; must carry `host` and an
    *                  integer `rank` column
    * @param sightings (src, dst) pairs for [[hostRank]]
    */
  def rerankHosts(hosts: DataFrame, sightings: DataFrame,
                  iterations: Int = 5, base: Long = 1000000000000L,
                  dampPct: Int = 85): DataFrame = {
    require(base >= 1000L, "base must be >= 1000 (rank unit is base/1000)")
    val scores = hostRank(sightings, iterations, base, dampPct)
      .select(col("host").as("lg_host"),
        least(expr(s"rank_score div ${base / 1000L}"),
          lit(Int.MaxValue.toLong)).cast("int").as("lg_rank"))
    val cols = hosts.columns.map {
      case "rank" => coalesce(col("lg_rank"), col("rank")).as("rank")
      case c      => hosts(c)
    }
    hosts.join(scores, hosts("host") === scores("lg_host"), "left")
      .select(cols.toIndexedSeq: _*)
  }

  /** Anchor-text aggregation per link target — the inlink-text signal
    * (Craswell/Hawking/Robertson CIKM'01 showed anchor text beats page
    * content for naming a target; crawl corpora ship it as a per-URL
    * sidecar, e.g. MS MARCO / ORCAS-style anchor sets). Per `dst`:
    * total inlinks, distinct linking sources, distinct anchor strings,
    * and the majority anchor (highest count; ties to the lexically
    * smallest anchor, so the pick is fully deterministic and a SQL
    * oracle replays it).
    *
    * Scale shape: the (dst, anchor) counts hash-aggregate FIRST (map-
    * side partial sums shrink 10^12 sightings to one row per distinct
    * pair) and the majority pick is a rank-only window over those
    * already-aggregated slim rows — never over raw sightings; the
    * source/anchor cardinalities are one exact hash aggregate on the
    * same slim projection. Page bodies never appear; no cartesian, no
    * driver collection. A mega-inlink dst (every host links the same
    * portal) costs one big rank-only partition, not a full-frame
    * buffer.
    *
    * @param links (src, dst, anchor) string triples — one row per
    *              observed link sighting; callers union waves/stores
    * @return (dst, n_inlinks, n_srcs, n_anchors, top_anchor, top_cnt)
    *         ordered by dst
    */
  def anchorSummary(links: DataFrame): DataFrame = {
    val l = links.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"),
      col("anchor").cast("string").as("anchor"))
    val pairs = l.groupBy("dst", "anchor").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("dst")
      .orderBy(col("cnt").desc, col("anchor").asc)
    val top = pairs.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("dst"), col("anchor").as("top_anchor"),
        col("cnt").as("top_cnt"))
    val stats = l.groupBy("dst").agg(
      count(lit(1)).as("n_inlinks"),
      countDistinct("src").as("n_srcs"),
      countDistinct("anchor").as("n_anchors"))
    stats.join(top, "dst")
      .select("dst", "n_inlinks", "n_srcs", "n_anchors",
        "top_anchor", "top_cnt")
      .orderBy("dst")
  }

  /** Link-farm detection by in-link DOMAIN diversity (the
    * link-spam / nepotistic-link literature's core signal —
    * Davison AAAI'00; Becchetti et al. "Link analysis for Web spam
    * detection", TWEB'08): a farm inflates a target's in-degree with
    * links from MANY hosts that are all subdomains of a handful of
    * registrable domains, so distinct-host fan-in looks organic
    * while distinct-DOMAIN fan-in stays tiny. Per target:
    * `n_src_hosts` (distinct linking hosts), `n_src_domains`
    * (distinct eTLD+1 via [[UrlOps.registrableDomain]] — the whole
    * reason domain grouping exists), integer
    * `domain_permille = 1000·n_src_domains div n_src_hosts`, and
    * `farm_flag` when fan-in reaches `minHosts` but diversity stays
    * at or under `maxPermille`. Repeat sightings of an edge count
    * once.
    *
    * Scale shape: edges collapse to distinct (src, dst) host pairs
    * first (the only body-free shuffle), then ONE partial-aggregated
    * groupBy(dst) computes both distinct counts; the eTLD+1
    * derivation is literal column math inside the projection
    * (no suffix-table join — q86's contract). Host pairs are the
    * largest thing that ever moves. */
  def linkFarmScores(links: DataFrame, srcCol: Column, dstCol: Column,
      minHosts: Long = 10L, maxPermille: Long = 300L): DataFrame = {
    val e = links.select(srcCol.cast("string").as("src"),
      dstCol.cast("string").as("dst")).distinct()
    e.select(col("dst"), col("src"),
        UrlOps.registrableDomain(col("src")).as("src_domain"))
      .groupBy("dst")
      .agg(countDistinct(col("src")).as("n_src_hosts"),
        countDistinct(col("src_domain")).as("n_src_domains"))
      .withColumn("domain_permille",
        expr("1000 * n_src_domains div n_src_hosts"))
      .withColumn("farm_flag",
        col("n_src_hosts") >= minHosts &&
          col("domain_permille") <= maxPermille)
      .orderBy("dst")
  }

  /** Largest-remainder (Hamilton) apportionment of a global fetch
    * budget across items ∝ an integer weight — the proportional-
    * fairness alternative to the engine's rank-ORDERED global budget
    * (`CrawlConfig.maxTasksPerWave` takes the top-N frontier rows; a
    * production scheduler splitting politeness slots across hosts by
    * rank/size wants every host to get its proportional share
    * instead, quotas summing EXACTLY to the budget):
    *
    *   base_i = (B·w_i) div n,  rem_i = (B·w_i) mod n   (n = Σ w)
    *   leftover = B − Σ base   (computed in THIS form, not Σrem div n:
    *              Σ base ≤ B keeps it overflow-free, while Σ rem can
    *              reach n·(#items−1) and wrap 2⁶³ inside the B·n
    *              contract)
    *   alloc_i = base_i + 1 for the `leftover` largest (rem, item asc)
    *
    * All-integer and total-order tie-broken, so the DuckDB oracle
    * replays the allocation bit-for-bit, and Σ alloc = B by
    * construction. Caller contract: weights non-negative with a
    * POSITIVE total (n = Σw > 0 — an all-zero or empty wave has no
    * proportional split: Spark's non-ANSI div would silently null the
    * quotas while the SQL oracle errors, so it is rejected loudly
    * here; callers with possibly-empty waves guard at the call site,
    * as CrawlJob's `--apportion` path does), and B·n < 2⁶³.
    *
    * Scale shape: weights arrive pre-aggregated (one row per item —
    * host-cardinality, not corpus-cardinality) and are cached for the
    * duration of the call: the total/leftover fetches and the
    * allocation itself must see the same snapshot for Σ alloc = B to
    * survive a caller whose lineage is not replay-stable. The result
    * is EAGER — item-cardinality, materialized via localCheckpoint so
    * the input cache can be released before returning instead of
    * leaking for the session lifetime (ADVICE r4); the caller's
    * actions replay from the checkpointed blocks. n and leftover are
    * bounded 1-row driver fetches (the accepted ANN-query-vector
    * pattern); the bonus set is a TakeOrderedAndProject of `leftover`
    * rows (never a global single-partition window) joined back on the
    * unique item key — plan shape pinned in PlanSpec against
    * [[apportionPlan]]. */
  def budgetApportion(weights: DataFrame, item: Column, weight: Column,
                      budget: Long): DataFrame =
    apportionOrNone(weights, item, weight, budget).getOrElse(
      throw new IllegalArgumentException(
        "requirement failed: budgetApportion: total weight must be " +
          "positive; an empty/zero-weight wave has no proportional " +
          "split — guard at the call site (or use apportionOrNone)"))

  /** [[budgetApportion]] that returns None on a zero/empty weight
    * total instead of throwing — the call-site-guard form for engine
    * paths (WaveEngine's `--apportion` branch), which ALSO saves those
    * callers re-aggregating the total just to decide whether to call:
    * the one total aggregation here serves both the guard and the
    * quota math. */
  def apportionOrNone(weights: DataFrame, item: Column, weight: Column,
                      budget: Long): Option[DataFrame] = {
    val w = weights.select(item.cast("string").as("item"),
      weight.cast("long").as("w")).cache()
    try {
      val n = w.agg(coalesce(sum(col("w")), lit(0L))).head().getLong(0)
      if (n <= 0) None
      else Some(apportionPlan(w, budget, n).localCheckpoint(true))
    } finally w.unpersist()
  }

  /** The pure allocation plan over a prepared `(item, w)` frame with a
    * known-positive total `n` — split out so PlanSpec can pin the
    * TakeOrdered bonus shape before [[budgetApportion]] eagerly
    * materializes it. */
  private[graft] def apportionPlan(w: DataFrame, budget: Long, n: Long): DataFrame = {
    val scored = w
      .withColumn("base", expr(s"($budget * w) div $n"))
      .withColumn("rem", expr(s"($budget * w) % $n"))
    // leftover is a bounded scalar (< #items): one 1-row driver fetch.
    // B − Σbase, never Σrem div n — see the scaladoc overflow note.
    val leftover = budget -
      scored.agg(coalesce(sum(col("base")), lit(budget))).head().getLong(0)
    val bonus = scored.orderBy(col("rem").desc, col("item"))
      .limit(leftover.toInt).select(col("item"), lit(1L).as("extra"))
    scored.join(bonus, Seq("item"), "left_outer")
      .withColumn("alloc", col("base") + coalesce(col("extra"), lit(0L)))
      .select("item", "w", "alloc")
      .orderBy(col("alloc").desc, col("item"))
  }
}
