package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The aggregate form of the MinHash signatures, kept as the reference
  * [[MinHashKernel]] is checked against: the base hash once per
  * (doc_id, shingle) row of [[Dedup.shingleRows]], then numPerm `min`
  * aggregates of the affine permutations, grouped by doc_id. */
object MinHashReference {

  def minhashSignaturesFromRows(rows: DataFrame, numPerm: Int = 64,
                                wide: Boolean = false): DataFrame = {
    val aggs = (0 until numPerm).map { j =>
      if (wide) {
        val (a, b) = Dedup.minhashPerm61(j)
        min(graft.functions.PolyHash61.affine_mod61(col("__ph"), a, b)).as(s"h$j")
      } else {
        val (a, b) = Dedup.minhashPerm(j)
        min((lit(a) * col("__ph") + lit(b)) % lit(graft.functions.PolyHash.Mod))
          .as(s"h$j")
      }
    }
    val baseHash =
      if (wide) graft.functions.PolyHash61.poly_hash61(col("shingle"))
      else graft.functions.PolyHash.poly_hash(col("shingle"))
    rows
      .select(col("doc_id"), baseHash.as("__ph"))
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until numPerm).map(j => col(s"h$j")): _*).as("signature"))
  }

  /** Each doc_id's shingle set, as the verify step collected it. */
  def shingleSets(rows: DataFrame): DataFrame =
    rows.groupBy(col("doc_id")).agg(collect_set(col("shingle")).as("sh"))
}
