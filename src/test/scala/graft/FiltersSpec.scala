package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.seen.{LongBloom, SeenSet}

class FiltersSpec extends AnyFunSuite {

  test("bloom: zero false negatives (property, 30 seeded samples)") {
    val gen = Gen.listOf(Gen.long)
    (0 until 30).foreach { i =>
      val keys = gen.apply(Gen.Parameters.default, Seed(i.toLong)).getOrElse(Nil)
      val f = LongBloom.create(math.max(keys.size, 16), 0.01)
      keys.foreach(f.put)
      assert(keys.forall(f.mightContain), s"false negative at seed $i")
    }
  }

  test("bloom: fpp near target at design load") {
    val n = 100000
    val f = LongBloom.create(n, 0.01)
    (0 until n).foreach(i => f.put(i.toLong * 2654435761L + 17))
    val probes = (0 until 100000).map(i => -1L - i * 40503L)
    val fp = probes.count(f.mightContain)
    assert(fp < 2500, s"fpp too high: $fp / 100000") // 2.5% ceiling vs 1% target
  }

  test("bloom: union(OR) merge equals building from the union of keys") {
    val a = LongBloom.create(1000, 0.01)
    val b = LongBloom.create(1000, 0.01)
    val ka = (0 until 500).map(i => i.toLong * 31 + 1)
    val kb = (0 until 500).map(i => i.toLong * 37 + 2)
    ka.foreach(a.put); kb.foreach(b.put)
    val merged = LongBloom.deserialize(a.serialize()).union(b)
    assert((ka ++ kb).forall(merged.mightContain))
  }

  test("bloom: serialize/deserialize round-trip") {
    val f = LongBloom.create(1000, 0.01)
    val keys = (0 until 1000).map(i => i.toLong * 104729 - 55)
    keys.foreach(f.put)
    val g = LongBloom.deserialize(f.serialize())
    assert(keys.forall(g.mightContain))
    assert(g.numBits == f.numBits && g.numHashes == f.numHashes)
  }

  test("bloom: 10^10-frontier sizing arithmetic stays task-sized per bucket") {
    // the north-rule design point: 10^10 URLs sharded over 4096
    // host_buckets at fpp 0.01 → each bucket's segment must be a small,
    // independently loadable unit (one per task in the cogrouped two-tier
    // probe; the broadcast tier runs only when the WHOLE segment set fits
    // Spark's driver round-trip caps, see the tier-rule test). Pin the formula:
    // m = -n ln(fpp)/ln(2)^2 ≈ 9.585 bits/key at 0.01.
    val buckets = 4096
    val perBucket = 10000000000L / buckets // ≈ 2.44M keys
    val f = graft.seen.LongBloom.create(perBucket, 0.01)
    val bytes = f.serialize().length.toLong
    assert(bytes < 8L * 1024 * 1024,
      s"segment is $bytes B — no longer task-sized at the design point")
    assert(bytes > perBucket, "suspiciously small — fpp math broken")
    // k near the optimum (m/n ln2 ≈ 6.64 → 7 hashes)
    assert(f.numHashes >= 5 && f.numHashes <= 9, s"k=${f.numHashes}")
    // total store ≈ buckets × segment ≈ 12 GB: NOT broadcastable — the
    // cogrouped per-bucket variant (SeenSet.unseenTwoTier) must exist for
    // this regime; this assert documents the threshold arithmetic.
    assert(bytes * buckets.toLong > 8L * 1024 * 1024 * 1024)
    // the allocation-free bound the tier rule uses is this exact size
    assert(SeenSet.segmentSetBytes(buckets, perBucket, 0.01) == bytes * buckets)
  }

  test("seen-probe tier rule: broadcast only while both bounds fit Spark's caps (no bloom allocated)") {
    // Spark's defaults: autoBroadcastJoinThreshold 10 MiB,
    // maxBroadcastTableSize 8 GiB, spark.driver.maxResultSize 1 GiB
    val sql = new org.apache.spark.sql.internal.SQLConf
    val threshold = sql.autoBroadcastJoinThreshold
    val maxTable = sql.maxBroadcastTableSizeInBytes
    val maxResult = 1L << 30
    // (totalUrls, buckets, rows per epoch) → the rule's verdict
    def broadcast(totalUrls: Long, buckets: Int, perEpoch: Long,
        threshold: Long = threshold, maxResult: Long = maxResult): Boolean =
      SeenSet.broadcastTierFits(
        SeenSet.segmentSetBytes(buckets, math.max(64L, totalUrls / buckets), 0.01),
        16L * perEpoch, threshold, maxResult, maxTable)
    // the 10^10-URL, 4096-bucket design point (1000 epochs): ~12 GB of
    // segments
    assert(!broadcast(10000000000L, 4096, 10000000000L / 1000))
    // perfbench's shape: ~288 KB of segments
    assert(SeenSet.segmentSetBytes(32, 240000L / 32, 0.01) < 300000L)
    assert(broadcast(240000L, 32, 20000L))
    // CrawlBench's 16M-URL, 2-epoch shape: ~19 MB of segments
    assert(broadcast(16000000L, 32, 8000000L))
    // a 1M-URL, 8-bucket, 2-epoch crawl under a 1 MiB result cap: the
    // ~1.2 MB segment set no longer fits
    assert(broadcast(1000000L, 8, 500000L, maxResult = 0L))
    assert(!broadcast(1000000L, 8, 500000L, maxResult = 1L << 20))
    // broadcasting switched off
    assert(!broadcast(240000L, 32, 20000L, threshold = -1L))
  }
}
