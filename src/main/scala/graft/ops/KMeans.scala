package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lloyd's k-means over an embedding column, expressed as DataFrame ops —
  * the trained-codebook path for the IVF/PQ quantizers (round-3 verdict
  * item 4; the reserved-vector codebooks stay as the deterministic-oracle
  * stand-in).
  *
  * Shape per iteration (the 100 TB contract):
  *  - assignment is ONE narrow whole-stage-codegen pass: the current
  *    centroids ride into the plan as a literal (a model artifact,
  *    broadcast like any literal) and `pq_encode(v, book, subDim, nCent)`
  *    computes the L2 argmin per subspace per row — no centroid join, no
  *    argmin window;
  *  - the mean update is posexplode → two-level hash aggregation keyed on
  *    (subspace, code, position): m×nCent×subDim running sums, partial
  *    map-side — the only shuffle;
  *  - the driver holds the codebook doubles per round, never data rows.
  *    Input is `localCheckpoint`ed ONCE (skippable when the caller already
  *    materialized it) so each round re-reads a materialized sample
  *    instead of re-running the upstream plan (the resolveClusters
  *    iterative-lineage rule, ops/Dedup.scala).
  *
  * [[trainSubspaces]] is THE Lloyd's skeleton: subspaces are independent
  * (subspace j's update only ever reads subspace j's data), so training
  * all m codebooks jointly costs one pass per iteration instead of m —
  * plain k-means ([[train]]) is exactly the m = 1 case. Convergence is
  * decided driver-side from the collected codebook (max L2 shift <= tol),
  * so no extra action per round. Empty cells keep their previous
  * centroid. Deterministic given a fixed `init` up to float summation
  * order in the distributed means (ties in argmin break to the lowest
  * cell id; see [[graft.functions.VecAlg.pqEncode]]).
  */
object KMeans {

  /** deterministic seeding: the first k VALID vectors (length == dim AND
    * no null slot — a correct-length vector with a NULL element would NPE
    * the `getSeq[Double]` unboxing) in id order — a damaged row among the
    * first k must degrade to the next valid one, not fail the training
    * (the same row-damage policy as the kernels; the reserved-vector
    * ORACLE codebooks stay strict by-id) */
  def seedById(
      e: DataFrame, idCol: String, vecCol: String, k: Int, dim: Int): Array[Array[Double]] = {
    // backtick-quoted CONSISTENTLY (col() parses dots as struct access,
    // so quoting only the exists() expr left size/orderBy/select broken
    // on exactly the names the quoting exists for)
    val vq = col(s"`$vecCol`")
    val rows = e.filter(size(vq) === dim)
      .filter(expr(s"!exists(`$vecCol`, x -> x IS NULL)"))
      .orderBy(col(s"`$idCol`")).limit(k).select(vq).collect()
    require(rows.length == k, s"need $k valid seed vectors, corpus has ${rows.length}")
    rows.map(_.getSeq[Double](0).toArray)
  }

  /** Train centroids from `init` over `e(vecCol: array<double>)`; returns
    * the k×dim codebook (the m = 1 subspace case). `sampleFraction` < 1
    * trains on a seeded sample — at 100 TB the quantizer never needs the
    * full corpus. */
  def train(
      e: DataFrame, vecCol: String, init: Array[Array[Double]],
      maxIters: Int = 10, tol: Double = 1e-9,
      sampleFraction: Double = 1.0, seed: Long = 20260813L): Array[Array[Double]] = {
    require(init.nonEmpty)
    trainSubspaces(e, vecCol, init, subDim = init(0).length, nCent = init.length,
      maxIters = maxIters, tol = tol, sampleFraction = sampleFraction, seed = seed)
  }

  /** Joint per-subspace Lloyd's over a FLAT codebook (`initBook` holds
    * m·nCent subvectors at index j·nCent + c, m = initBook.length /
    * nCent): one `pq_encode` pass assigns every subspace at once, one
    * (subspace, code, position) aggregation updates every centroid.
    * `checkpointInput = false` skips the materialization when the caller
    * already localCheckpointed `e` (avoids storing the relation twice). */
  def trainSubspaces(
      e: DataFrame, vecCol: String, initBook: Array[Array[Double]],
      subDim: Int, nCent: Int,
      maxIters: Int = 10, tol: Double = 1e-9,
      sampleFraction: Double = 1.0, seed: Long = 20260813L,
      checkpointInput: Boolean = true): Array[Array[Double]] = {
    require(initBook.nonEmpty && initBook.length % nCent == 0 && maxIters > 0)
    // mis-shaped init rows make pq_encode null EVERY row, which would
    // silently return initBook verbatim below — fail loudly instead
    require(initBook.forall(_.length == subDim),
      s"initBook rows must be subDim=$subDim wide; got widths " +
        initBook.map(_.length).distinct.mkString(","))
    graft.functions.GraftFunctions.register(e.sparkSession)
    val base = e.select(col(vecCol).as("v")).filter(col("v").isNotNull)
    val sampled =
      if (sampleFraction < 1.0) base.sample(withReplacement = false, sampleFraction, seed)
      else base
    def lloyd(sample: DataFrame): Array[Array[Double]] = {
      var book = initBook
      var iter = 0
      var shift = Double.MaxValue
      while (iter < maxIters && shift > tol) {
        val bookLit = typedLit(book.map(_.toSeq).toSeq)
        // COMPUTE pq_encode IN ITS OWN PROJECT BELOW THE GENERATE: the
        // previous one-select shape (`select(pq_encode(…) AS codes,
        // posexplode(v))`) made the analyzer's generator extraction place
        // the pq_encode EXPRESSION in the Project ABOVE the Generate, so
        // Catalyst evaluated the full argmin kernel once per exploded
        // ELEMENT — dim× per vector per round (the duplicated-expression
        // trap of optimization guide §7.2; at dim=64 that was 64× the
        // assignment CPU of every Lloyd's round, at any corpus size).
        // With codes computed first, the post-explode projection only
        // references the ATTRIBUTE (carried through the Generate, never
        // re-evaluated). The group/avg shape is unchanged from the
        // original — same contributions in the same row order — so the
        // trained book is bit-identical (dump-diffed across every trained-
        // model consumer at sf0.01 and sf0.1). A wide per-(j,code) variant
        // with subDim avg columns was tried and measured 2.4× slower per
        // round — 64 aggregate expressions cost more to plan than the
        // exploded rows cost to aggregate.
        val j = (col("pos") / subDim).cast("int")
        val means = sample
          .select(
            call_udf("pq_encode", col("v"), bookLit, lit(subDim), lit(nCent)).as("codes"),
            col("v"))
          .filter(col("codes").isNotNull) // rows not tiling the codebook
          .select(col("codes"), posexplode(col("v")))
          .select(j.as("j"),
            element_at(col("codes"), j + 1).as("code"),
            (col("pos") % subDim).as("spos"), col("col"))
          .groupBy("j", "code", "spos").agg(avg("col").as("m"))
          .collect()
        // zero assignments on the FIRST pass = no vector tiled the
        // codebook (empty sample / fully damaged corpus): returning the
        // init book as "trained" would be a silent no-op
        require(iter > 0 || means.nonEmpty,
          "trainSubspaces: no vector matched the codebook shape — training would be a no-op")
        val next = book.map(_.clone())
        means.foreach(r =>
          next(r.getInt(0) * nCent + r.getInt(1))(r.getInt(2)) = r.getDouble(3))
        shift = book.indices.map(i =>
          graft.functions.VecAlg.l2DistArr(book(i), next(i))).max
        book = next
        iter += 1
      }
      book
    }
    // persist, not localCheckpoint (guide §5): the sample is re-read by
    // every Lloyd's round but dead after the last one — persist serves
    // the rounds from the same materialized blocks (the first round's
    // action populates it; no separate eager checkpoint job) and
    // withPersisted RELEASES them on every exit, failures included; a
    // checkpoint's blocks would outlive the training for the rest of the
    // session. Single-partition order is unchanged either way, so the
    // trained book is bit-identical.
    if (checkpointInput) graft.Tables.withPersisted(sampled)(lloyd) else lloyd(sampled)
  }
}
