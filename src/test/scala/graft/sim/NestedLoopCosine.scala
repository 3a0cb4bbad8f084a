package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The nested-loop join formulation of [[Similarity.cosineNearDups]]:
  * every (id_a < id_b) pair of a broadcast self-join, scored by the native
  * [[Similarity.dot]] over per-row norms, rounded, filtered and ordered.
  * Test-only: it is the independent reference the packed pair kernel
  * ([[CosinePairs]]) must match row for row. No row guard. */
object NestedLoopCosine {
  def nearDups(embeddings: DataFrame, threshold: Double): DataFrame = {
    val par = embeddings.sparkSession.sparkContext.defaultParallelism
    val a = embeddings.select(col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), Similarity.norm(col("embedding")).as("na"))
      .repartition(par)
    val b = embeddings.select(col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), Similarity.norm(col("embedding")).as("nb"))
    a.join(b.hint("broadcast"), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(try_divide(Similarity.dot(col("emb_a"), col("emb_b")),
          col("na") * col("nb")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }
}
