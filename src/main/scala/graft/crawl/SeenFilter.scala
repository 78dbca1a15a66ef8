package graft.crawl

import graft.core.filters.{BloomFilter, CuckooFilter}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{lit, md5}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}

/** Partitioned Bloom-then-Cuckoo URL-seen filter (north rule).
  *
  * Replaces the reference's `UNIQUE KEY url` insert-and-skip dedup
  * (/root/reference/Source/WebCrawler/DataLayer/MySQLDataLayer.cs:190-199,
  * Source/MySQLSchema.sql:14) for lake tables that have no unique
  * indexes, while keeping the seen-set EXACT:
  *
  *  - bucket key = salted host-hash: `(hash(host) % B) * S + hash(url) % S`
  *    — host-affine so a host's URLs live in S adjacent buckets (TTL
  *    eviction per host stays cheap), salted so a hot domain spreads over
  *    S buckets instead of one (north-rule skew handling);
  *  - BOTH sketches are per-bucket Dataset state CARRIED wave-to-wave
  *    and merged incrementally at commit ([[updateSketches]]): Bloom
  *    union is lossless, Cuckoo supports insert+delete (→ recrawl TTL
  *    eviction without a rebuild). Nothing is ever collected to the
  *    driver or broadcast — probe and update both cogroup by bucket
  *    (see [[BucketSketch]] for why broadcast anti-scales);
  *  - [[buildBlooms]] is the OFFLINE rebuild path (re-derive a bucket's
  *    Bloom from the committed article store when saturation has pushed
  *    fpp too high — Schemas.SeenSketch scaladoc);
  *  - probe: `definitely new` (both sketches say no — false negatives are
  *    impossible) skips the shuffle entirely; `maybe seen` falls back to
  *    an exact left-anti join against the committed URL set, so false
  *    positives cannot lose rows.
  */
object SeenFilter {

  /** Target false-positive rate each bucket's Bloom is sized for. */
  val BloomFpp = 0.01

  /** Salted bucket id. B×S total buckets. */
  def bucket(host: String, url: String, hostBuckets: Int, salt: Int): Int = {
    val hb = math.floorMod(BloomFilter.hash64(host), hostBuckets.toLong).toInt
    val s = math.floorMod(BloomFilter.hash64(url), salt.toLong).toInt
    hb * salt + s
  }

  /** Bucket id as a PURE FUNCTION OF THE URL: host affinity comes from
    * the url's OWN registered host, not the scheduling host. The
    * url-seen contract is global per url (the reference's
    * `UNIQUE KEY url`, MySQLSchema.sql:14) — keying the bucket on the
    * scheduling host would give the same canonical url scheduled by
    * two different hosts (cross-site syndication) two different
    * buckets, so the second host's wave would miss the sketches AND
    * the bucket-pruned exact anti-join and re-insert a committed url.
    * Every probe, insert, eviction and rebuild MUST use this function. */
  def urlBucket(url: String, hostBuckets: Int, salt: Int): Int =
    bucket(graft.core.UrlCanon.host(url), url, hostBuckets, salt)

  /** Typed aggregator building one Bloom filter per group (bucket) with
    * map-side partial aggregation — the Spark-idiomatic replacement for
    * collecting URLs to the driver. Fixed geometry so partials merge. */
  final class BloomAgg(expectedPerBucket: Long, fpp: Double)
      extends Aggregator[(Int, String), BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = BloomFilter.create(math.max(64L, expectedPerBucket), fpp)
    override def reduce(b: BloomFilter, a: (Int, String)): BloomFilter = {
      b.putString(a._2); b
    }
    override def merge(b1: BloomFilter, b2: BloomFilter): BloomFilter =
      b1.mergeInPlace(b2)
    override def finish(r: BloomFilter): Array[Byte] = r.serialize()
    override def bufferEncoder: Encoder[BloomFilter] =
      Encoders.javaSerialization[BloomFilter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** One bucket's sketches: the per-wave-rebuilt Bloom and the carried
    * Cuckoo. Lives as a DATASET keyed by bucket — never collected to the
    * driver, never broadcast: every stage that needs a sketch cogroups
    * with this by bucket, so each sketch is deserialized exactly once
    * per wave regardless of parallelism. (A broadcast map looks simpler
    * but anti-scales: every task deserializes the whole sketch set, so
    * total probe-prep work grows linearly with partition count —
    * measured 4× slower at local[32] than local[8] before this design.) */
  final case class BucketSketch(bucket: Int, bloom: Option[Array[Byte]],
                                cuckoo: Option[Array[Byte]])

  /** `seenurls` rows of `articles` committed at `wave`: url-pure bucket,
    * host, url and — with `digest` — md5(contenthtml), the recrawl
    * revalidation comparator. md5 and bucket are scan-side projections,
    * so article bodies never ride the table's bucket repartition. */
  def seenUrls(articles: DataFrame, wave: Int, hostBuckets: Int, salt: Int,
      digest: Boolean): Dataset[SeenUrl] = {
    val spark = articles.sparkSession
    import spark.implicits._
    val d = if (digest) md5($"contenthtml") else lit(null).cast("string")
    articles.select($"host", $"url", d.as("d")).as[(String, String, Option[String])]
      .map { case (h, u, d) => SeenUrl(urlBucket(u, hostBuckets, salt), h, u, wave, d) }
  }

  /** Per-bucket Bloom filters from (bucket, url) pairs: shuffle the RAW
    * pairs (volume independent of parallelism) and build each filter in
    * one reduce-side pass. */
  def buildBlooms(pairs: Dataset[(Int, String)], expectedPerBucket: Long,
                  fpp: Double = BloomFpp): Dataset[(Int, Array[Byte])] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.groupByKey(_._1).mapGroups { (b, it) =>
      val bf = BloomFilter.create(math.max(64L, expectedPerBucket), fpp)
      it.foreach(p => bf.putString(p._2))
      (b, bf.serialize())
    }
  }

  /** Probe: cogroup the wave's (bucket, url-ref) rows with the sketch
    * table; emit (ref, maybeSeen). SLIM by design: only (url, host, seq)
    * identities ride this shuffle — article bodies stay in the upstream
    * extraction cache and rejoin the winners afterwards, so the probe's
    * cost is independent of document size. No false negatives (every
    * committed url was inserted into its bucket's carried Bloom at
    * commit time); "maybe" rows go to the exact anti-join downstream. */
  def probe(keyed: Dataset[(Int, UrlRef)],
            sketches: Dataset[BucketSketch]): Dataset[(UrlRef, Boolean)] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed.groupByKey(_._1).cogroup(sketches.groupByKey(_.bucket)) {
      (_, rows, skIt) =>
        val sk = skIt.buffered.headOption
        val bloom = sk.flatMap(_.bloom).map(BloomFilter.deserialize)
        val cuckoo = sk.flatMap(_.cuckoo).map(CuckooFilter.deserialize)
        rows.map { case (_, a) =>
          val h = BloomFilter.hash64(a.url)
          val maybe = bloom.exists(_.mightContain(h)) ||
            cuckoo.exists(_.contains(h))
          (a, maybe)
        }
    }
  }

  /** Merge a wave's (bucket, url, isInsert) changes into the carried
    * per-bucket sketches — cogroup by bucket, no driver round-trip;
    * untouched buckets pass through. Inserts update Cuckoo AND Bloom;
    * evictions (isInsert = false — the recrawl-TTL path,
    * CrawlConfig.recrawlAfterWaves) delete ONE matching fingerprint
    * from the Cuckoo (multiset semantics: a url re-inserted since its
    * expiring wave keeps its newer entry). The Bloom cannot forget —
    * stale positives only cost exact anti-join probes. */
  def updateSketches(changes: Dataset[(Int, String, Boolean)],
                     carried: Dataset[SeenSketch], capacity: Int,
                     expectedPerBucket: Long, fpp: Double): Dataset[SeenSketch] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes.groupByKey(_._1).cogroup(carried.groupByKey(_.bucket)) {
      (b, chs, old) =>
        val prev = old.buffered.headOption
        if (chs.isEmpty) prev.iterator
        else {
          val cf = prev.map(s => CuckooFilter.deserialize(s.cuckoo))
            .getOrElse(CuckooFilter.create(capacity))
          val bf = prev.flatMap(_.bloom).map(BloomFilter.deserialize)
            .getOrElse(BloomFilter.create(math.max(64L, expectedPerBucket), fpp))
          // count cuckoo saturation drops: dedup still holds via the
          // Bloom, but dropped urls can't be TTL-evicted — surfaced in
          // SeenSketch.n_dropped so operators know to resize capacity
          var dropped = 0L
          chs.foreach { case (_, u, isInsert) =>
            if (isInsert) {
              if (!cf.insertString(u)) dropped += 1
              bf.putString(u)
            } else cf.deleteString(u)
          }
          Iterator.single(SeenSketch(b, cf.serialize(), cf.size.toLong,
            Some(bf.serialize()),
            prev.map(_.n_dropped).getOrElse(0L) + dropped))
        }
    }
  }

  /** Insert-only convenience overload. */
  def updateSketches(inserted: Dataset[(Int, String)],
                     carried: Dataset[SeenSketch], capacity: Int,
                     expectedPerBucket: Long, fpp: Double)(
                     implicit d: DummyImplicit): Dataset[SeenSketch] = {
    val spark = inserted.sparkSession
    import spark.implicits._
    updateSketches(inserted.map(p => (p._1, p._2, true)),
      carried, capacity, expectedPerBucket, fpp)
  }

  /** Per-bucket saturation report — the operational gauge for WHEN to
    * run the offline maintenance this file's scaladoc promises
    * ([[buildBlooms]] rebuild / capacity resize). Per bucket:
    * Bloom fill ratio and the standard saturation-fpp estimate
    * `(setBits/numBits)^k` (the real post-saturation false-positive
    * rate, vs the sized-for fpp), Cuckoo occupancy vs capacity, and
    * the carried drop counter (urls the cuckoo REJECTED — covered by
    * the Bloom but not TTL-evictable). Permille integers so thresholds
    * are exact. One row per bucket (≤ B×S), computed row-local off the
    * carried state table — no shuffle, no driver collection. */
  def sketchStats(sketches: Dataset[SeenSketch]): Dataset[SketchStats] = {
    val spark = sketches.sparkSession
    import spark.implicits._
    sketches.map { s =>
      val (bits, set, fppPm) = Option(s.bloom).flatten match {
        case Some(b) =>
          val bf = BloomFilter.deserialize(b)
          val fill = bf.bitCount.toDouble / bf.numBits
          (bf.numBits, bf.bitCount,
            math.round(math.pow(fill, bf.numHashes.toDouble) * 1000))
        case None => (0L, 0L, 0L)
      }
      val (entries, cap) = Option(s.cuckoo) match {
        case Some(c) =>
          val cf = CuckooFilter.deserialize(c)
          (cf.size, cf.numBuckets * CuckooFilter.SlotsPerBucket)
        case None => (0, 0)
      }
      SketchStats(s.bucket, bits, set,
        if (bits == 0) 0L else set * 1000 / bits, fppPm,
        entries, cap, if (cap == 0) 0L else entries.toLong * 1000 / cap,
        s.n_dropped)
    }
  }
}

/** One bucket's saturation row ([[SeenFilter.sketchStats]]). */
final case class SketchStats(
    bucket: Int,
    bloom_bits: Long,
    bloom_set_bits: Long,
    bloom_fill_permille: Long,
    bloom_est_fpp_permille: Long, // (fill)^k — saturation estimate
    cuckoo_entries: Int,
    cuckoo_capacity: Int,
    cuckoo_load_permille: Long,
    n_dropped: Long)
