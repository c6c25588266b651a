package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PCA by power iteration over an embedding column — the
  * whitening/centering preprocessor an embedding store runs before ANN
  * or clustering (north-star extension; the dim-reduced twin of the PQ
  * codebooks in queries/Similarity.scala).
  *
  * Scale shape: NOTHING dim×dim ever materializes — no covariance matrix
  * (64×64 here, but 4096²+ for production embedding dims), no driver
  * matrix solve. Each iteration is ONE narrow pass over the corpus:
  * s = cd·v per row (v a broadcast literal), then a single global agg
  * carrying dim sum columns (the same no-explode pattern as
  * emb_quantize_int8's stats pass) plus the Rayleigh-quotient terms. The
  * centered relation is localCheckpointed once and re-consumed by every
  * iteration; the model artifact (v, λ) is O(dim) on the driver.
  */
object Pca {

  final case class TopComponent(v: Array[Double], eigenvalue: Double, iters: Int)

  /** Top principal component of `vecCol` (array<double>) by `iters`
    * rounds of power iteration. Deterministic: the start vector is the
    * all-ones direction and the sign is canonicalized so the
    * largest-magnitude loading is positive. */
  def topComponent(e: DataFrame, vecCol: String, dim: Int,
      iters: Int = 12): TopComponent = {
    graft.functions.GraftFunctions.register(e.sparkSession)
    val mu = e.agg(
      array((0 until dim).map(i => avg(col(vecCol)(i))): _*).as("mu"))
      .head().getSeq[Double](0).toArray
    val centered = e
      .withColumn("cd", call_udf("vec_sub", col(vecCol), typedLit(mu.toSeq)))
      .select("cd")
      // damaged vectors (null slot / wrong width) null out of vec_sub;
      // drop them HERE so the eigenvalue's n counts exactly the rows the
      // s² sum covers — counting them would silently deflate λ by the
      // damaged fraction (the direction v was never affected)
      .filter(col("cd").isNotNull)
    // persisted, not localCheckpointed (guide §5; the
    // KMeans.trainSubspaces rationale): re-read by every power iteration,
    // dead after the last — withPersisted frees the blocks on every exit,
    // failures included, and round 1's aggregation populates the cache
    // without a separate eager job
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    var lambda = 0.0
    graft.Tables.withPersisted(centered) { _ =>
      var it = 0
      while (it < iters) {
        // vec_dot kernel, not aggregate(zip_with(...)): the HOF is
        // CodegenFallback — interpreted per row, per iteration, over the
        // whole corpus. Same array-order accumulation, bit-equal values.
        val row = centered
          .withColumn("s", call_udf("vec_dot", col("cd"), typedLit(v.toSeq)))
          .agg(
            array((0 until dim).map(i => sum(col("cd")(i) * col("s"))): _*).as("w"),
            sum(col("s") * col("s")).as("ss"),
            count(lit(1)).as("n"))
          .head()
        val w = row.getSeq[Double](0).toArray
        val norm = math.sqrt(w.map(x => x * x).sum)
        require(norm > 0, "degenerate corpus: X^T X v vanished")
        v = w.map(_ / norm)
        lambda = row.getDouble(1) / row.getLong(2)
        it += 1
      }
    }
    // sign canonicalization: v and -v span the same component
    val k = v.indices.maxBy(i => math.abs(v(i)))
    if (v(k) < 0) v = v.map(-_)
    TopComponent(v, lambda, iters)
  }
}
