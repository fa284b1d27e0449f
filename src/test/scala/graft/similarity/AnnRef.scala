package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HOF parity references of the native vector functions (AnnSpec). Test
  * scope: production runs [[graft.functions.VectorFunctions]].
  */
object AnnRef {

  /** HOF reference of [[graft.functions.VectorFunctions.cosine_sim]], the
    * exact cosine similarity of two array<double> columns. Catalyst
    * higher-order functions are CodegenFallback, so the native one-pass
    * function runs the queries; AnnSpec pins bit-identity.
    */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v * v))
    dot / (na * nb)
  }

  /** HOF reference of [[graft.functions.VectorFunctions.hyperplane_bucket]],
    * the sign-bit bucket id from `planes` hyperplanes — the cosine-LSH key.
    * The native function makes ONE pass per plane over a cached ±1 matrix
    * instead of `planes` interpreted HOF traversals per row.
    */
  def hyperplaneBucketHof(emb: Column, planes: Int, dim: Int): Column = {
    val bits: Seq[Column] = (0 until planes).map { p =>
      val plane = typedlit(Ann.planeVec(p, dim))
      val dot = aggregate(zip_with(emb, plane, (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}
