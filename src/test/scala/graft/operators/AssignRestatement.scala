package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The coarse assignment restated as the crossJoin + `row_number()` window
  * that the engine used before its in-row argmax: every (row, centroid)
  * pair scored with the float dot product rounded to decimal(20,6), the
  * first row per vec_id by (score DESC, centroid_id ASC) kept. Kept in the
  * tests, independent of `VectorQueries`, so specs compare the engine's
  * assignment against it rather than against itself.
  */
object AssignRestatement {
  def crossJoinAssign(rows: DataFrame, cents: DataFrame): DataFrame = {
    val dotOf = aggregate(zip_with(col("embedding"), col("c_emb"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0),
      (acc, v) => acc + v)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("a_sim").desc, col("centroid_id").asc)
    rows.select("vec_id", "embedding").crossJoin(broadcast(cents))
      .withColumn("a_sim", dotOf.cast("decimal(20,6)"))
      .withColumn("a_rk", row_number().over(w))
      .filter(col("a_rk") === 1)
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
  }

  /** The demo codebook (vec_id < 4) of the `embeddings` table. */
  def demoCents(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame =
    RelationalQueries.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))
}
