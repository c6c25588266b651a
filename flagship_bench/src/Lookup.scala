package graftbench

import java.util.SplittableRandom

/** One cdx-server request. `arg` is a urlkey (exact, closest, miss) or a
  * SURT host (host); `target` is the 14-digit closest-to timestamp. */
final case class Lookup(kind: String, arg: String, target: String = null)

object Lookup {
  val Exact = "exact"
  val Host = "host"
  val Closest = "closest"
  val Miss = "miss"
  val Kinds: Seq[String] = Seq(Exact, Host, Closest, Miss)
  val ClosestK = 5

  /** A seeded request stream over `corpus`: 40% exact on Zipf-hot keys,
    * 20% host on hot hosts, 20% closest to a random capture-window
    * timestamp, 20% misses on keys absent from the cluster (a hot key
    * with a suffix, so the miss still lands inside a real block). */
  def stream(seed: Long, corpus: Corpus, n: Int): IndexedSeq[Lookup] = {
    val caps = corpus.captures
    val keyCounts = caps.groupBy(_.urlkey).map { case (k, v) => (k, v.length) }
    val hotKeys = keyCounts.toIndexedSeq.sortBy { case (k, c) => (-c, k) }.map(_._1).take(5000)
    val hotHosts = caps.groupBy(_.host).map { case (h, v) => (h, v.length) }
      .toIndexedSeq.sortBy { case (h, c) => (-c, h) }.map(_._1).take(200)
    val hotKey = new ZipfSampler(hotKeys.length, 1.1)
    val hotHost = new ZipfSampler(hotHosts.length, 1.0)
    val epochs = caps.map(c => CorpusGen.epochOf(c.ts))
    val (lo, hi) = (epochs.min, epochs.max)
    val r = new SplittableRandom(seed * 977 + 3)
    IndexedSeq.fill(n) {
      val u = r.nextInt(10)
      if (u < 4) Lookup(Exact, hotKeys(hotKey.sample(r)))
      else if (u < 6) Lookup(Host, hotHosts(hotHost.sample(r)))
      else if (u < 8)
        Lookup(Closest, hotKeys(hotKey.sample(r)), CorpusGen.ts14(lo + (r.nextDouble() * (hi - lo)).toLong))
      else {
        var miss = hotKeys(hotKey.sample(r)) + "-absent" + r.nextInt(100)
        while (keyCounts.contains(miss)) miss += "x"
        Lookup(Miss, miss)
      }
    }
  }
}
