package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-based ANN: HNSW (Malkov & Yashunin 2016, arXiv:1603.09320,
  * public) — the production ANN family whose recall at a fixed probe
  * budget beats cell-probing indexes (IVF/IVF-PQ under fixed nProbe miss
  * neighbors that sit across a cell boundary; a small-world graph walks
  * to them).
  *
  * Spark shape (the scatter-gather sharded-graph layout every
  * distributed graph-ANN deployment uses, since one graph cannot span
  * executors): the corpus splits into `nShards` deterministic shards
  * (`vec_id % nShards`), each shard builds an INDEPENDENT in-memory HNSW
  * graph inside one task (`groupByKey(shard).flatMapGroups` — the graph
  * build is per-partition imperative logic, the documented last-resort
  * case), a query greedy-searches EVERY shard's graph (per-shard cost
  * O(ef·m·log n), not O(n)), and the global top-k merges the per-shard
  * candidates — one tiny ordered-limit over nShards·k rows. At 100 TB
  * `nShards` scales so one shard's vectors + adjacency fit an executor
  * (the build is index-construction cost, amortized through the STORED
  * adjacency form below), and the nShards searches are embarrassingly
  * parallel.
  *
  * Everything is DETERMINISTIC: insertion order is ascending vec_id
  * within a shard, node levels come from a seeded splitmix64 of the
  * vec_id (not an RNG stream — level assignment survives re-builds and
  * re-partitioning), and every heap/selection comparison tie-breaks on
  * node id. Two builds of the same shard produce identical graphs, which
  * is what makes the stored-adjacency serve path bit-equal to the
  * in-memory one (HnswSpec/SimilaritySpec pin it).
  *
  * Distance is cosine distance (1 − cos); results surface the cosine
  * like every other sim_ann_* key. Zero-norm or malformed vectors
  * (wrong length / null slot) are excluded from the graph up front —
  * an index must not die on one bad vector (the ivfpq null-cid policy).
  */
object Hnsw {

  /** splitmix64 — the public-domain mixing function (Steele et al.,
    * "Fast splittable pseudorandom number generators", OOPSLA 2014) */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** deterministic HNSW level for a vector id: floor(−ln(u)·mL) with
    * u ∈ (0,1] derived from a seeded hash of the id — the standard
    * exponential level distribution, but reproducible across builds */
  private[graft] def levelOf(id: Long, mL: Double, seed: Long): Int = {
    val u = ((mix64(id ^ seed) >>> 11) + 1).toDouble / (1L << 53).toDouble
    math.floor(-math.log(u) * mL).toInt
  }

  /** One shard's immutable graph: node arrays are indexed by LOCAL index
    * (ids sorted ascending); `adj(node)(level)` is that node's neighbor
    * list at that level (levels 0..levels(node)). */
  /** norms are part of the graph, carried from the Builder (or computed
    * once at reconstruct) — a per-search recompute would put an
    * O(n·dim) pass in front of every O(ef·m·log n) walk and dominate
    * batched serving */
  final class Graph(
      val ids: Array[Long], val vecs: Array[Array[Double]],
      val levels: Array[Int], val adj: Array[Array[Array[Int]]],
      val entry: Int, val maxLevel: Int, val norms: Array[Double]) {
    def size: Int = ids.length
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  private def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  /** candidate ordered by (dist asc, idx asc) — total order, so heap
    * contents (not insertion order) decide every poll: determinism */
  private final case class Cand(dist: Double, idx: Int)
  private val candOrd: Ordering[Cand] =
    Ordering.by((c: Cand) => (c.dist, c.idx))

  /** beam search one layer: returns the ef closest (dist asc, idx asc) */
  private def searchLayer(
      distTo: Int => Double,
      adjAt: Int => Array[Int],
      eps: Seq[Int], ef: Int, visited: java.util.BitSet): Array[Cand] = {
    val cand = new java.util.PriorityQueue[Cand](candOrd)
    // worst-first heap of current results (reverse order)
    val res = new java.util.PriorityQueue[Cand](candOrd.reverse)
    visited.clear()
    eps.foreach { ep =>
      if (!visited.get(ep)) {
        visited.set(ep)
        val c = Cand(distTo(ep), ep)
        cand.add(c); res.add(c)
        if (res.size > ef) res.poll()
      }
    }
    var done = false
    while (!done && !cand.isEmpty) {
      val c = cand.poll()
      if (res.size >= ef && candOrd.gt(c, res.peek())) done = true
      else {
        val nbs = adjAt(c.idx)
        var i = 0
        while (i < nbs.length) {
          val nb = nbs(i)
          if (!visited.get(nb)) {
            visited.set(nb)
            val d = Cand(distTo(nb), nb)
            if (res.size < ef || candOrd.lt(d, res.peek())) {
              cand.add(d); res.add(d)
              if (res.size > ef) res.poll()
            }
          }
          i += 1
        }
      }
    }
    val out = new Array[Cand](res.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = res.poll(); i -= 1 }
    out
  }

  /** SELECT-NEIGHBORS-HEURISTIC (Malkov & Yashunin 2016 §4 Alg 4, with
    * keepPrunedConnections): scan candidates nearest-first and keep a
    * candidate only when it is closer to the target than to every
    * already-kept neighbor — the diversity test that lays edges ACROSS
    * cluster gaps instead of spending all M slots inside the target's
    * own cluster (where simple closest-M strands the greedy walk; the
    * HnswSpec clustered fixture pins the recall difference). Slots left
    * after the scan are refilled with the nearest pruned candidates
    * (the paper's keepPrunedConnections arm), so connectivity at a
    * given M never drops below closest-M's. Deterministic: `cands` is
    * (dist asc, idx asc)-sorted and every comparison is a pure function
    * of the candidate set.
    *
    * `cands` carries each candidate's distance TO THE TARGET; `dist`
    * measures candidate-to-kept distances. Returns ≤ cap local idxs. */
  private def selectNeighbors(
      cands: Array[Cand], cap: Int, dist: (Int, Int) => Double): Array[Int] = {
    if (cands.length <= cap) return cands.map(_.idx)
    val kept = new scala.collection.mutable.ArrayBuffer[Int](cap)
    val pruned = new scala.collection.mutable.ArrayBuffer[Cand](cands.length)
    var i = 0
    while (i < cands.length && kept.length < cap) {
      val c = cands(i)
      var diverse = true
      var j = 0
      while (diverse && j < kept.length) {
        if (dist(c.idx, kept(j)) < c.dist) diverse = false
        j += 1
      }
      if (diverse) kept += c.idx else pruned += c
      i += 1
    }
    var p = 0
    while (kept.length < cap && p < pruned.length) {
      kept += pruned(p).idx; p += 1
    }
    kept.toArray
  }

  /** Incremental per-shard graph constructor: [[build]] inserts a sorted
    * batch from scratch; [[append]] seeds one from an EXISTING graph and
    * folds a day-2 batch in under the same deterministic rules — node
    * levels come from the seeded id hash (never "state so far"), so an
    * append of ids that sort after the base reproduces the
    * build-from-scratch graph EXACTLY (HnswSpec pins it). */
  private final class Builder(m: Int, efC: Int, seed: Long) {
    require(m >= 2, s"m must be >= 2, got $m")
    private val mL = 1.0 / math.log(m.toDouble)
    private val maxM0 = 2 * m // level-0 lists hold 2M (the paper's default)
    private val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    private val vecs = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    private val norms = new scala.collection.mutable.ArrayBuffer[Double]()
    private val levels = new scala.collection.mutable.ArrayBuffer[Int]()
    private val adjB =
      new scala.collection.mutable.ArrayBuffer[Array[scala.collection.mutable.ArrayBuffer[Int]]]()
    private var entry = -1
    private var maxLevel = -1
    private val visited = new java.util.BitSet()

    def seedFrom(g: Graph): Unit = {
      require(ids.isEmpty, "seedFrom before any insert")
      ids ++= g.ids; vecs ++= g.vecs; norms ++= g.norms
      levels ++= g.levels
      adjB ++= g.adj.map(_.map(ns => scala.collection.mutable.ArrayBuffer(ns: _*)))
      entry = g.entry; maxLevel = g.maxLevel
    }

    private def maxMAt(level: Int): Int = if (level == 0) maxM0 else m

    private def distBetween(a: Int, b: Int): Double = {
      val d = norms(a) * norms(b)
      if (d == 0.0) 1.0 else 1.0 - dot(vecs(a), vecs(b)) / d
    }

    // keep a node's list within cap via the same diversity heuristic the
    // insert path uses — the paper applies SELECT-NEIGHBORS at both sites
    private def shrink(node: Int, level: Int): Unit = {
      val buf = adjB(node)(level)
      val cap = maxMAt(level)
      if (buf.length > cap) {
        val cands = buf.toArray
          .map(nb => Cand(distBetween(node, nb), nb)).sorted(candOrd)
        val kept = selectNeighbors(cands, cap, distBetween)
        buf.clear(); buf ++= kept
      }
    }

    // layer adjacency accessor, bounds-safe (edges at a layer only ever
    // connect nodes whose level reaches it, but a defensive empty list
    // beats an ArrayIndexOutOfBounds if that invariant is ever perturbed)
    private def adjAt(lev: Int)(node: Int): Array[Int] =
      if (lev <= levels(node)) adjB(node)(lev).toArray else Array.emptyIntArray

    def insert(id: Long, vec: Array[Double]): Unit = {
      val l = levelOf(id, mL, seed)
      val i = ids.length
      ids += id; vecs += vec; norms += norm(vec); levels += l
      adjB += Array.fill(l + 1)(new scala.collection.mutable.ArrayBuffer[Int](m + 1))
      if (entry < 0) { entry = i; maxLevel = l; return }
      val qv = vec
      val qn = norms(i)
      def distTo(node: Int): Double = {
        val d = norms(node) * qn
        if (d == 0.0) 1.0 else 1.0 - dot(vecs(node), qv) / d
      }
      var ep = entry
      // greedy descent through layers above the new node's level
      var lev = maxLevel
      while (lev > l) {
        val got = searchLayer(distTo, adjAt(lev), Seq(ep), ef = 1, visited)
        if (got.nonEmpty) ep = got(0).idx
        lev -= 1
      }
      // connect at each level from min(l, maxLevel) down to 0
      var lev2 = math.min(l, maxLevel)
      var eps = Seq(ep)
      while (lev2 >= 0) {
        val found = searchLayer(distTo, adjAt(lev2), eps, efC, visited)
        val neighbors = selectNeighbors(found, m, distBetween)
        neighbors.foreach { nb =>
          adjB(i)(lev2) += nb
          adjB(nb)(lev2) += i
          shrink(nb, lev2)
        }
        eps = found.map(_.idx).toSeq
        lev2 -= 1
      }
      if (l > maxLevel) { entry = i; maxLevel = l }
    }

    def result(): Graph =
      new Graph(ids.toArray, vecs.toArray, levels.toArray,
        adjB.toArray.map(_.map(_.toArray)), entry, maxLevel, norms.toArray)
  }

  /** Build one shard's graph. `items` must be (vec_id, vector) pairs;
    * they are sorted ascending by id here so the insertion order — and
    * therefore the graph — is a pure function of the shard's CONTENT,
    * never of upstream partition or arrival order. */
  def build(
      items: Array[(Long, Array[Double])], m: Int = 8, efC: Int = 64,
      seed: Long = 20260816L): Graph = {
    val b = new Builder(m, efC, seed)
    items.sortBy(_._1).foreach { case (id, v) => b.insert(id, v) }
    b.result()
  }

  /** Fold a day-2 batch into an EXISTING graph — HNSW's native
    * incremental insert, no rebuild. Levels are id-hash-deterministic,
    * so when the batch's ids sort after the base's (the append-id
    * convention) the result is bit-identical to a from-scratch build
    * over base ∪ batch. */
  def append(
      g: Graph, items: Array[(Long, Array[Double])], m: Int = 8, efC: Int = 64,
      seed: Long = 20260816L): Graph = {
    // the append-id convention is ENFORCED, not assumed: a batch id at
    // or below the base's max would (a) break the rebuild-parity
    // contract and (b) let a same-level earlier id silently diverge the
    // stored serve's derived entry (smallest id at max level) from the
    // in-memory graph's — a loud failure beats both
    if (g.size > 0) {
      val maxBase = g.ids.last // build/reconstruct keep ids ascending
      val low = items.filter(_._1 <= maxBase)
      require(low.isEmpty,
        s"append batch ids must sort AFTER the base (max base id $maxBase); " +
          s"offending: ${low.take(3).map(_._1).mkString(", ")} — re-mint batch " +
          "ids above the corpus range (the AppendIdOffset convention)")
    }
    val b = new Builder(m, efC, seed)
    b.seedFrom(g)
    items.sortBy(_._1).foreach { case (id, v) => b.insert(id, v) }
    b.result()
  }

  /** search one graph: greedy descent to level 1, beam `ef` at level 0,
    * top-k by (cosine desc, id asc). Returns (vec_id, cos). */
  def search(
      g: Graph, q: Array[Double], ef: Int = 32, k: Int = 10): Array[(Long, Double)] = {
    if (g.size == 0) return Array.empty
    // a shorter/longer query would silently cosine over a truncated
    // prefix (dot() stops at min length) — wrong scores, no signal
    require(q.length == g.vecs(0).length,
      s"query dim ${q.length} != index dim ${g.vecs(0).length}")
    val qn = norm(q)
    def distTo(i: Int): Double = {
      val d = g.norms(i) * qn
      if (d == 0.0) 1.0 else 1.0 - dot(g.vecs(i), q) / d
    }
    val visited = new java.util.BitSet(g.size)
    var ep = g.entry
    var lev = g.maxLevel
    while (lev > 0) {
      val l = lev
      val got = searchLayer(distTo,
        i => if (l <= g.levels(i)) g.adj(i)(l) else Array.emptyIntArray,
        Seq(ep), ef = 1, visited)
      if (got.nonEmpty) ep = got(0).idx
      lev -= 1
    }
    val found = searchLayer(distTo, i => g.adj(i)(0),
      Seq(ep), math.max(ef, k), visited)
    found.take(k).map(c => (g.ids(c.idx), 1.0 - c.dist))
  }

  /** FILTERED-walk beam search of one layer (the filtered-HNSW /
    * filtered-DiskANN traversal rule, public): the result heap admits
    * only nodes passing `admit`, but the FRONTIER traverses everything —
    * non-matching nodes are stepping stones, and a pre-filtered graph
    * (drop-then-walk) would disconnect under selective predicates. The
    * frontier-entry bound stays distance-vs-worst-ADMITTED-result, so
    * exploration widens exactly when admitted results are scarce;
    * worst case (selectivity → 0) the walk visits the component — the
    * documented floor every filtered-ANN scheme shares. `admit` TRUE for
    * every node reproduces [[searchLayer]]'s result bit-for-bit. */
  private def searchLayerFiltered(
      distTo: Int => Double,
      adjAt: Int => Array[Int],
      eps: Seq[Int], ef: Int, visited: java.util.BitSet,
      admit: Int => Boolean): Array[Cand] = {
    val cand = new java.util.PriorityQueue[Cand](candOrd)
    val res = new java.util.PriorityQueue[Cand](candOrd.reverse)
    visited.clear()
    eps.foreach { ep =>
      if (!visited.get(ep)) {
        visited.set(ep)
        val c = Cand(distTo(ep), ep)
        cand.add(c)
        if (admit(ep)) { res.add(c); if (res.size > ef) res.poll() }
      }
    }
    var done = false
    while (!done && !cand.isEmpty) {
      val c = cand.poll()
      if (res.size >= ef && candOrd.gt(c, res.peek())) done = true
      else {
        val nbs = adjAt(c.idx)
        var i = 0
        while (i < nbs.length) {
          val nb = nbs(i)
          if (!visited.get(nb)) {
            visited.set(nb)
            val d = Cand(distTo(nb), nb)
            if (res.size < ef || candOrd.lt(d, res.peek())) {
              cand.add(d)
              if (admit(nb)) { res.add(d); if (res.size > ef) res.poll() }
            }
          }
          i += 1
        }
      }
    }
    val out = new Array[Cand](res.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = res.poll(); i -= 1 }
    out
  }

  /** [[search]] under a metadata predicate on the EXTERNAL vec_id: the
    * greedy descent routes unfiltered (routing needs the whole graph),
    * the level-0 beam admits only matching nodes into the result set
    * while traversing through the rest ([[searchLayerFiltered]]).
    * `admit` always-true equals [[search]] exactly. */
  def searchFiltered(
      g: Graph, q: Array[Double], admit: Long => Boolean,
      ef: Int = 32, k: Int = 10): Array[(Long, Double)] = {
    if (g.size == 0) return Array.empty
    require(q.length == g.vecs(0).length,
      s"query dim ${q.length} != index dim ${g.vecs(0).length}")
    val qn = norm(q)
    def distTo(i: Int): Double = {
      val d = g.norms(i) * qn
      if (d == 0.0) 1.0 else 1.0 - dot(g.vecs(i), q) / d
    }
    val visited = new java.util.BitSet(g.size)
    var ep = g.entry
    var lev = g.maxLevel
    while (lev > 0) {
      val l = lev
      val got = searchLayer(distTo,
        i => if (l <= g.levels(i)) g.adj(i)(l) else Array.emptyIntArray,
        Seq(ep), ef = 1, visited)
      if (got.nonEmpty) ep = got(0).idx
      lev -= 1
    }
    val found = searchLayerFiltered(distTo, i => g.adj(i)(0),
      Seq(ep), math.max(ef, k), visited, i => admit(g.ids(i)))
    found.take(k).map(c => (g.ids(c.idx), 1.0 - c.dist))
  }

  /** Per-shard row projection shared by every entry point: (shard,
    * vec_id, ed, sz). A malformed vector (wrong length, null slot) keeps
    * its row but drops its array — `ed` nulls out and only `sz` (the raw
    * length) rides the shuffle, so the invalid rows cost metadata, not
    * bytes — and [[validItems]] inside each shard task tolerates it.
    * Building the plan runs NO Spark job (the old eager
    * `valid.isEmpty`/`e.isEmpty` probe was two hidden jobs per query and
    * failed at construction rather than execution). */
  private def sharded(e: DataFrame, nShards: Int, dim: Int): DataFrame =
    e.select(pmod(col("vec_id"), lit(nShards.toLong)).cast("int").as("shard"),
      col("vec_id"),
      when(size(col("ed")) === dim && !expr("exists(ed, x -> x IS NULL)"),
        col("ed")).as("ed"),
      size(col("ed")).as("sz"))

  private type ShardRow = (Int, Long, Array[Double], Option[Int])

  /** Drain one shard's [[sharded]] rows into (id, vector) items. The
    * wholesale-dim-mismatch diagnostic runs HERE, inside the task at
    * execution time: a shard that saw rows, has not one valid vector,
    * and where NOT ONE row even has the caller's length (regardless of
    * how ragged the rest are) is the signature of a caller-dim mismatch
    * (a truncated-dot cosine would be silently wrong) — fail loudly.
    * A row of the right length whose slots are null is "generally
    * malformed": tolerated, the shard just contributes nothing (the
    * ivfpq null-cid policy). Residual one-sided error, accepted and
    * documented: in a mixed-dim corpus where EVERY dim-matching row
    * happens to hash away from one shard, that shard fails loudly
    * where a dataset-wide probe would have passed — with vec_id-hash
    * sharding that requires an adversarial id/dim correlation, and
    * loud-on-ambiguity beats the old probe's two hidden driver jobs
    * per query. */
  private def validItems(
      rows: Array[ShardRow], dim: Int): Array[(Long, Array[Double])] = {
    val valid = rows.collect { case (_, id, ed, _) if ed != null => (id, ed) }
    if (valid.isEmpty && rows.nonEmpty) {
      val szs = rows.flatMap(_._4).distinct.sorted
      if (!szs.contains(dim))
        throw new IllegalArgumentException(
          s"no corpus vector matches the caller's dim=$dim (observed " +
            s"dims: ${szs.take(5).mkString(", ")}" +
            s"${if (szs.length > 5) ", …" else ""}; a truncated-dot " +
            "cosine would be silently wrong)")
    }
    valid
  }

  /** In-memory scatter-gather top-k: build each per-shard graph in its
    * own task, search each, merge nShards·k candidates globally. Output
    * (vec_id, cos) — the sim_ann_lsh/sim_ann_ivf result shape. */
  def topK(
      e: DataFrame, q: Array[Double], k: Int = 10, nShards: Int = 8,
      m: Int = 8, efC: Int = 64, efS: Int = 32,
      seed: Long = 20260816L): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val dim = q.length
    val perShard = sharded(e, nShards, dim)
      .as[ShardRow]
      .groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        val g = build(validItems(it.toArray, dim), m, efC, seed + shard)
        search(g, q, efS, k).iterator
      }
    perShard.toDF("vec_id", "cos")
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** FILTERED scatter-gather top-k: [[topK]] under a metadata predicate.
    * `e` is (vec_id, ed, allowed: boolean) — the caller computes the
    * predicate as a COLUMN on the vector relation (a lang/license/date
    * gate joined or projected upstream), so at 100 TB the filter is
    * Catalyst-planned like any other and only a 1-bit flag rides the
    * shard shuffle. Each shard builds its graph over the FULL slice
    * (matching and not — a pre-filtered build disconnects under
    * selective predicates) and walks it filtered: non-matching nodes
    * route, only matching ones surface ([[searchFiltered]]). A
    * null-allowed row is treated as NOT matching. The global merge is
    * unchanged. Selectivity note: recall at fixed ef degrades as the
    * predicate sharpens (the walk must tunnel through non-matching
    * regions) — callers raise efS with 1/selectivity, the knob every
    * filtered-ANN deployment exposes. */
  def topKFiltered(
      e: DataFrame, q: Array[Double], k: Int = 10, nShards: Int = 8,
      m: Int = 8, efC: Int = 64, efS: Int = 32,
      seed: Long = 20260816L): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val dim = q.length
    val rows = e.select(
      pmod(col("vec_id"), lit(nShards.toLong)).cast("int").as("shard"),
      col("vec_id"),
      when(size(col("ed")) === dim && !expr("exists(ed, x -> x IS NULL)"),
        col("ed")).as("ed"),
      size(col("ed")).as("sz"),
      coalesce(col("allowed"), lit(false)).as("allowed"))
      .as[(Int, Long, Array[Double], Option[Int], Boolean)]
    val perShard = rows.groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        val all = it.toArray
        val items = validItems(all.map(t => (t._1, t._2, t._3, t._4)), dim)
        val ok = new java.util.HashSet[java.lang.Long]()
        all.foreach(t => if (t._5 && t._3 != null) ok.add(t._2))
        val g = build(items, m, efC, seed + shard)
        searchFiltered(g, q, id => ok.contains(id), efS, k).iterator
      }
    perShard.toDF("vec_id", "cos")
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** The STORED index form: one row per (shard, vec_id, level) with that
    * node's neighbor ids — the graph's edges at rest, written beside the
    * vectors like sim_ann_ivfpq_index's (cid, codes) table. Rebuilding
    * from this relation reproduces the graph EXACTLY (ids, levels,
    * edges), so a stored-serve search equals the in-memory one
    * bit-for-bit; the entry point is derivable (max level, min id). */
  def adjacency(
      e: DataFrame, dim: Int, nShards: Int = 8, m: Int = 8, efC: Int = 64,
      seed: Long = 20260816L): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    sharded(e, nShards, dim)
      .as[ShardRow]
      .groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        adjacencyRowsOf(build(validItems(it.toArray, dim), m, efC, seed + shard), shard)
      }
      .toDF("shard", "vec_id", "level", "neighbors")
  }

  /** reconstruct one shard's graph VERBATIM from its stored rows
    * (shard, vec_id, level, neighbor-ids, vector) — no rebuild, the
    * edges come off disk; the entry point is derived from the build's
    * ascending-id-insertion invariant (smallest id among max-level
    * nodes) */
  private def reconstruct(
      rows: Array[(Int, Long, Int, Array[Long], Array[Double])]): Graph = {
    val byId = rows.groupBy(_._2)
    val ids = byId.keys.toArray.sorted
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val vecs = new Array[Array[Double]](n)
    val levels = new Array[Int](n)
    ids.zipWithIndex.foreach { case (id, i) =>
      val rs = byId(id)
      vecs(i) = rs.head._5
      levels(i) = rs.map(_._3).max
    }
    val adj = Array.tabulate(n) { i =>
      val rs = byId(ids(i))
      Array.tabulate(levels(i) + 1) { lev =>
        rs.find(_._3 == lev).map(_._4.map { nb =>
          // a neighbor id absent from the joined rows means the vectors
          // relation lost a node the stored index still references (a
          // deleted row, or a caller passing only the batch instead of
          // base ∪ batch) — fail with the invariant, not a bare
          // NoSuchElementException from a Map lookup
          idx.getOrElse(nb, throw new IllegalStateException(
            s"stored adjacency references vec_id $nb with no vector row — " +
              "the serve's vectors relation must cover every indexed id " +
              "(base ∪ appended batches)"))
        }).getOrElse(Array.emptyIntArray)
      }
    }
    val maxLevel = levels.max
    val entry = ids.indices.filter(levels(_) == maxLevel).min
    new Graph(ids, vecs, levels, adj, entry, maxLevel, vecs.map(norm))
  }

  /** one graph's rows in the stored-adjacency shape */
  private def adjacencyRowsOf(
      g: Graph, shard: Int): Iterator[(Int, Long, Int, Array[Long])] =
    (0 until g.size).iterator.flatMap { i =>
      (0 to g.levels(i)).iterator.map { lev =>
        (shard, g.ids(i), lev, g.adj(i)(lev).map(g.ids(_)))
      }
    }

  /** the stored adjacency joined back to its vectors, typed per shard */
  private def joinedStored(
      adjacencyDf: DataFrame, vectors: DataFrame) = {
    val spark = adjacencyDf.sparkSession
    import spark.implicits._
    adjacencyDf
      .join(vectors.select(col("vec_id"), col("ed")), "vec_id")
      .select(col("shard").cast("int"), col("vec_id"), col("level").cast("int"),
        col("neighbors"), col("ed"))
      .as[(Int, Long, Int, Array[Long], Array[Double])]
  }

  /** Serve a query from the STORED adjacency + the vector relation: per
    * shard, [[reconstruct]] the graph and run the same search. The scan
    * is shard-partitioned parquet; every shard is searched (graph ANN
    * is scatter-gather, the per-shard walk is the cheap part), and the
    * merge is nShards·k rows. */
  def topKStored(
      adjacencyDf: DataFrame, vectors: DataFrame, q: Array[Double],
      k: Int = 10, efS: Int = 32): DataFrame = {
    val spark = adjacencyDf.sparkSession
    import spark.implicits._
    val perShard = joinedStored(adjacencyDf, vectors)
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else search(reconstruct(rows), q, efS, k).iterator
      }
    perShard.toDF("vec_id", "cos")
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** [[topKStored]] under a metadata predicate: the serving-side form of
    * [[topKFiltered]] — the index is already on disk, the predicate is a
    * boolean `allowed` column on the VECTORS relation (where metadata
    * lives; the adjacency stays predicate-free, one index serving every
    * filter), and each shard reconstructs verbatim then walks filtered.
    * Bit-equal to the in-memory filtered search (HnswSpec pins it). */
  def topKStoredFiltered(
      adjacencyDf: DataFrame, vectors: DataFrame, q: Array[Double],
      k: Int = 10, efS: Int = 32): DataFrame = {
    val spark = adjacencyDf.sparkSession
    import spark.implicits._
    val joined = adjacencyDf
      .join(vectors.select(col("vec_id"), col("ed"),
        coalesce(col("allowed"), lit(false)).as("allowed")), "vec_id")
      .select(col("shard").cast("int"), col("vec_id"), col("level").cast("int"),
        col("neighbors"), col("ed"), col("allowed"))
      .as[(Int, Long, Int, Array[Long], Array[Double], Boolean)]
    val perShard = joined
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val ok = new java.util.HashSet[java.lang.Long]()
          rows.foreach(r => if (r._6) ok.add(r._2))
          val g = reconstruct(rows.map(r => (r._1, r._2, r._3, r._4, r._5)))
          searchFiltered(g, q, id => ok.contains(id), efS, k).iterator
        }
      }
    perShard.toDF("vec_id", "cos")
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-shard graph-index HEALTH report off the STORED adjacency — the
    * structural audit an ANN deployment monitors next to its recall
    * report ([[graft.queries.Similarity]]'s obs_ann_recall): node count,
    * level histogram depth, entry id (smallest id at max level — the
    * derivation the serve relies on), mean/max level-0 degree, and the
    * count of level-0 SINKS (nodes with no outgoing level-0 edges —
    * unreachable-in-reverse regions a takedown repair could tear). Pure
    * relational aggregation over the (shard, vec_id, level, neighbors)
    * relation — no reconstruction, no vectors read, so the audit runs on
    * the index alone at any scale. */
  def indexHealth(adjacencyDf: DataFrame): DataFrame = {
    val level0 = adjacencyDf.filter(col("level") === 0)
    val maxLvl = adjacencyDf.groupBy("shard", "vec_id")
      .agg(max("level").as("node_level"))
    val entries = maxLvl
      .groupBy("shard").agg(max("node_level").as("max_level"))
      .join(maxLvl, "shard")
      .filter(col("node_level") === col("max_level"))
      .groupBy("shard", "max_level").agg(min("vec_id").as("entry_id"))
    level0.groupBy("shard").agg(
      count(lit(1)).as("n_nodes"),
      round(avg(size(col("neighbors"))), 4).as("mean_degree0"),
      max(size(col("neighbors"))).as("max_degree0"),
      sum(when(size(col("neighbors")) === 0, 1L).otherwise(0L)).as("sinks0"))
      .join(entries, "shard")
      .select(col("shard"), col("n_nodes"), col("max_level"), col("entry_id"),
        col("mean_degree0"), col("max_degree0"), col("sinks0"))
      .orderBy("shard")
  }

  /** A query BATCH through the sharded graphs in ONE plan (the
    * ivfpq_batch shape — nobody serves one driver-planned query at a
    * time): every shard builds once and answers every query (the batch
    * is a driver artifact, nQ·dim doubles riding the closure like a
    * codebook), per-(shard, qid) top-k rows merge through one
    * qid-partitioned window. Output (qid, vec_id, cos) — each qid's
    * rows bit-equal to its single-query [[topK]] (HnswSpec pins it). */
  def batchTopK(
      e: DataFrame, queries: Array[(Long, Array[Double])], k: Int = 10,
      nShards: Int = 8, m: Int = 8, efC: Int = 64, efS: Int = 32,
      seed: Long = 20260816L): DataFrame = {
    require(queries.nonEmpty, "batchTopK needs at least one query")
    val spark = e.sparkSession
    import spark.implicits._
    val dim = queries.head._2.length
    val perShard = sharded(e, nShards, dim)
      .as[ShardRow]
      .groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        val g = build(validItems(it.toArray, dim), m, efC, seed + shard)
        queries.iterator.flatMap { case (qid, qv) =>
          search(g, qv, efS, k).iterator.map { case (id, cos) => (qid, id, cos) }
        }
      }
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    perShard.toDF("qid", "vec_id", "cos")
      .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
      .orderBy(col("qid"), col("cos").desc, col("vec_id"))
  }

  /** Fold a day-2 vector batch into the STORED adjacency with NO
    * rebuild — HNSW's native incremental insert, per shard: cogroup the
    * stored rows with the batch's shard slice, [[reconstruct]], insert,
    * and emit the updated adjacency relation (the caller writes it to
    * the next index version dir — read-and-overwrite of one live dir is
    * the caller's hazard to avoid, the zipnum-merge generation
    * discipline). A shard with no stored rows builds fresh. When batch
    * ids sort after the base's (the append-id convention), the updated
    * graph equals a from-scratch build over base ∪ batch exactly. */
  def appendStored(
      adjacencyDf: DataFrame, baseVectors: DataFrame, newVecs: DataFrame,
      dim: Int, nShards: Int = 8, m: Int = 8, efC: Int = 64,
      seed: Long = 20260816L): DataFrame = {
    val spark = adjacencyDf.sparkSession
    import spark.implicits._
    val stored = joinedStored(adjacencyDf, baseVectors).groupByKey(_._1)
    val fresh = sharded(newVecs, nShards, dim)
      .as[ShardRow].groupByKey(_._1)
    stored.cogroup(fresh) { (shard, adjIt, newIt) =>
      val adjRows = adjIt.toArray
      val newItems = validItems(newIt.toArray, dim)
      val g =
        if (adjRows.isEmpty) build(newItems, m, efC, seed + shard)
        else if (newItems.isEmpty) reconstruct(adjRows)
        else append(reconstruct(adjRows), newItems, m, efC, seed + shard)
      adjacencyRowsOf(g, shard)
    }.toDF("shard", "vec_id", "level", "neighbors")
  }

  /** Take down nodes from one graph — the vector-index side of the
    * zipnum_takedown_merge obligation (a GDPR/abuse takedown must leave
    * the SERVING index, not just the source table). Edge repair is
    * BOUNDED to the deleted nodes' neighborhoods: a survivor that lost
    * no neighbor keeps its lists verbatim (only remapped to the new
    * local idxs); a survivor that did loses only the dead entries and
    * BRIDGES across them — candidates = its surviving neighbors ∪ each
    * dead ex-neighbor's surviving neighbors at that level, re-selected
    * by the same Alg-4 heuristic the build uses, so the walk keeps a
    * path through the hole the deletion tore. Entry/maxLevel are
    * re-derived from the survivors (the smallest-id-at-max-level
    * invariant the stored serve relies on). Deterministic: a pure
    * function of (graph, dead). */
  def remove(g: Graph, dead: Set[Long]): Graph = {
    if (dead.isEmpty || g.size == 0) return g
    val deadIdx = new java.util.BitSet(g.size)
    (0 until g.size).foreach(i => if (dead.contains(g.ids(i))) deadIdx.set(i))
    if (deadIdx.isEmpty) return g
    val keep = (0 until g.size).filterNot(deadIdx.get).toArray
    require(keep.nonEmpty, "takedown would empty the shard — drop the " +
      "shard's adjacency rows instead of serving an entry-less graph")
    val remap = new Array[Int](g.size)
    keep.zipWithIndex.foreach { case (old, nw) => remap(old) = nw }
    def distBetween(a: Int, b: Int): Double = {
      val d = g.norms(a) * g.norms(b)
      if (d == 0.0) 1.0 else 1.0 - dot(g.vecs(a), g.vecs(b)) / d
    }
    val adj = keep.map { i =>
      (0 to g.levels(i)).toArray.map { lev =>
        val nbs = g.adj(i)(lev)
        val lost = nbs.filter(deadIdx.get)
        if (lost.isEmpty) nbs.map(remap)
        else {
          val alive = nbs.filterNot(deadIdx.get)
          // bridge: the dead neighbors' own surviving neighbors join the
          // candidate pool — O(lost·M) candidates, never a rescan
          val pool = (alive ++ lost.flatMap(d =>
            if (lev <= g.levels(d)) g.adj(d)(lev) else Array.emptyIntArray))
            .distinct.filter(nb => !deadIdx.get(nb) && nb != i)
          // never exceed the old degree: level caps stay respected
          val cap = math.min(pool.length, nbs.length)
          val cands = pool.map(nb => Cand(distBetween(i, nb), nb)).sorted(candOrd)
          selectNeighbors(cands, cap, distBetween).map(remap)
        }
      }
    }
    val ids = keep.map(g.ids)
    val levels = keep.map(g.levels)
    val maxLevel = levels.max
    val entry = levels.indices.filter(levels(_) == maxLevel).min
    new Graph(ids, keep.map(g.vecs), levels, adj, entry, maxLevel,
      keep.map(g.norms))
  }

  /** Take down ids from the STORED adjacency with no rebuild: per shard,
    * [[reconstruct]], [[remove]], re-emit — the caller writes the result
    * to the NEXT index version dir (zipnum_takedown_merge's generation
    * discipline; never read-and-overwrite a live dir) and drops the
    * tombstoned rows from the vectors relation it serves with. A shard
    * emptied by the takedown emits nothing: its rows simply leave the
    * relation. `tombstones` is a driver-side set (takedown lists are
    * O(10²) legal orders, not data). */
  def removeStored(
      adjacencyDf: DataFrame, vectors: DataFrame, tombstones: Set[Long]): DataFrame = {
    val spark = adjacencyDf.sparkSession
    import spark.implicits._
    joinedStored(adjacencyDf, vectors).groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val g = reconstruct(rows)
          val survivors = g.ids.count(id => !tombstones.contains(id))
          if (survivors == 0) Iterator.empty
          else adjacencyRowsOf(remove(g, tombstones), shard)
        }
      }
      .toDF("shard", "vec_id", "level", "neighbors")
  }

  private def versionDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      indexBase: org.apache.hadoop.fs.Path): Seq[(Long, String)] =
    if (!fs.exists(indexBase)) Seq.empty
    else fs.listStatus(indexBase).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .map(st => (st.getPath.getName.drop(1).toLong, st.getPath.toString))
      .sortBy(_._1)

  /** One micro-batch of the streaming graph-index ingest — public so a
    * crash replay is testable as a plain call (the dedupIngestBatch
    * discipline). Layout under `baseDir`:
    * `vectors/batch-<id>` (each batch's vectors, overwrite — a replayed
    * batch rewrites its OWN dir) and `index/v<id>` (the adjacency after
    * folding this batch in — derived from the newest version BELOW this
    * batchId plus the batch, so a replay reproduces it from the same
    * inputs; the build is deterministic). Exactly-once comes from the
    * batchId-keyed dirs, the streamingZipNumBatches contract.
    *
    * Caller contract (enforced by [[append]]): vec_ids ascend across
    * the stream — the id-minting obligation every ingest here shares
    * ([[graft.Pipeline.dedupIngestBatch]]'s scaladoc). */
  def ingestBatch(
      batch: DataFrame, baseDir: String, batchId: Long, dim: Int,
      nShards: Int = 8, m: Int = 8, efC: Int = 64,
      seed: Long = 20260816L): Unit = {
    val spark = batch.sparkSession
    // consumed by the validity probe, the vectors write AND the index
    // build — persist-then-free (Tables.withPersisted), not
    // localCheckpoint: the batch lineage is shallow (no truncation
    // needed) and a checkpoint's blocks could never be released, so a
    // 3-batch ingest left 3 dead vector corpora in the block manager
    // for the rest of the session (optimization guide §5)
    graft.Tables.withPersisted(batch) { b =>
      // a batch with NO valid vector must publish NOTHING: an empty index
      // version dir (only _SUCCESS) poisons every later read of it as
      // prevDir (parquet schema inference fails) and wedges the stream —
      // skipping leaves the previous version newest, and a replay skips
      // identically
      val anyValid = !b.filter(size(col("ed")) === dim &&
        !expr("exists(ed, x -> x IS NULL)")).isEmpty
      if (anyValid) {
        b.write.mode("overwrite").parquet(f"$baseDir/vectors/batch-$batchId%05d")
        val fs = new org.apache.hadoop.fs.Path(baseDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prev = versionDirs(fs, new org.apache.hadoop.fs.Path(s"$baseDir/index"))
          .filter(_._1 < batchId).lastOption
        val adj = prev match {
          case None => adjacency(b, dim, nShards, m, efC, seed)
          case Some((_, prevDir)) =>
            // the vector relation spans every batch ≤ this one (batch dirs
            // beyond it cannot exist — offsets commit after foreachBatch);
            // extra current-batch rows drop in appendStored's inner join
            val allVecs = spark.read.parquet(s"$baseDir/vectors/batch-*")
            appendStored(spark.read.parquet(prevDir), allVecs, b,
              dim, nShards, m, efC, seed)
        }
        adj.write.mode("overwrite").partitionBy("shard")
          .parquet(f"$baseDir/index/v$batchId%05d")
      }
    }
  }

  /** Streaming graph-index ingest: every arriving vector batch folds
    * into the stored HNSW adjacency (no rebuild — [[appendStored]] per
    * batch), each batch publishing the next index version. The
    * streaming form of the day-2 append lifecycle: the source's offset
    * log is the skip set, [[ingestBatch]] the per-batch transactional
    * unit, and [[topKLatest]] serves from whatever version is newest. */
  def streamingIngest(
      vectors: DataFrame, baseDir: String, checkpointDir: String, dim: Int,
      nShards: Int = 8, m: Int = 8, efC: Int = 64,
      seed: Long = 20260816L): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          ingestBatch(batch, baseDir, batchId, dim, nShards, m, efC, seed)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** serve a query from the NEWEST ingested index version */
  def topKLatest(
      spark: SparkSession, baseDir: String, q: Array[Double],
      k: Int = 10, efS: Int = 32): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = versionDirs(fs, new org.apache.hadoop.fs.Path(s"$baseDir/index"))
    require(versions.nonEmpty, s"no ingested index versions under $baseDir/index")
    topKStored(spark.read.parquet(versions.last._2),
      spark.read.parquet(s"$baseDir/vectors/batch-*"), q, k, efS)
  }
}
