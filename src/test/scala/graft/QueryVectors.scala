package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Query vectors for the single-query kernels, which take the vector
  * itself rather than a query frame. */
object QueryVectors {
  /** The `embedding` of `emb`'s row with `vec_id` = `id`. */
  def of(emb: DataFrame, id: Long): Array[Float] =
    emb.filter(col("vec_id") === id).select(col("embedding")).head.getSeq[Float](0).toArray
}
