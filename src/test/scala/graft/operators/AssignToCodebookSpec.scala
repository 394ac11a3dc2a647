package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The in-row coarse assignment (`VectorQueries.assignToCodebook`) against
  * the crossJoin + `row_number()` restatement in [[AssignRestatement]]: the
  * same (vec_id → centroid_id) map on the fixture corpus and on the edge
  * cases the window ordering decides — ties, one centroid, no centroid, a
  * null embedding.
  */
class AssignToCodebookSpec extends SparkSpec {

  private val vecType = ArrayType(FloatType)

  private def rowsOf(rs: (Long, Seq[java.lang.Float])*): DataFrame =
    spark.createDataFrame(rs.map { case (id, e) => Row(id, e) }.asJava,
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", vecType))))

  private def centsOf(idType: DataType,
      cs: (Any, Seq[java.lang.Float])*): DataFrame =
    spark.createDataFrame(cs.map { case (id, e) => Row(id, e) }.asJava,
      StructType(Seq(StructField("centroid_id", idType),
        StructField("c_emb", vecType))))

  private def v(xs: Float*): Seq[java.lang.Float] = xs.map(Float.box)

  private def rowsSorted(df: DataFrame): Seq[(Long, Option[List[java.lang.Float]], Any)] =
    df.collect().toSeq
      .map(r => (r.getLong(0), Option(r.getSeq[java.lang.Float](1)).map(_.toList),
        r.get(2)))
      .sortBy(_._1)

  /** Asserts the engine's assignment equals the restatement; returns it. */
  private def agree(rows: DataFrame, cents: DataFrame) = {
    val got = VectorQueries.assignToGivenCentroids(rows, cents)
    val want = AssignRestatement.crossJoinAssign(rows, cents)
    assert(got.schema("centroid_id").dataType ==
      want.schema("centroid_id").dataType)
    val g = rowsSorted(got)
    assert(g == rowsSorted(want))
    g
  }

  test("fixture corpus: in-row assignment equals the crossJoin + row_number map") {
    val emb = RelationalQueries.table(spark, sfDir, "embeddings")
    val cents = AssignRestatement.demoCents(spark, sfDir)
    val g = agree(emb, cents)
    assert(g.size == emb.count())
    // the demo entry point resolves the same codebook
    assert(rowsSorted(VectorQueries.assignToCentroids(spark, sfDir, emb)) == g)
    // the plan has no join, window or shuffle
    val p = VectorQueries.assignToCentroids(spark, sfDir, emb)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("Exchange"), p)
  }

  test("a tie goes to the lower centroid_id, also after decimal rounding") {
    val rows = rowsOf(1L -> v(1f, 0f), 2L -> v(0f, 1f), 3L -> v(0.5f, 0.5f))
    // 9 and 4 are the same vector; 6 differs from them only past the sixth
    // decimal of the score, so all three tie for row 1
    val cents = centsOf(LongType, 9L -> v(1f, 0f), 4L -> v(1f, 0f),
      6L -> v(1.0000001f, 0f), 5L -> v(0f, 1f))
    val g = agree(rows, cents)
    assert(g.map(t => t._1 -> t._3) == Seq(1L -> 4L, 2L -> 5L, 3L -> 4L))
  }

  test("a one-centroid codebook assigns every row to it") {
    val rows = rowsOf(1L -> v(1f, 0f), 2L -> v(-1f, 0f))
    val g = agree(rows, centsOf(LongType, 8L -> v(0f, 1f)))
    assert(g.map(_._3) == Seq(8L, 8L))
  }

  test("an empty codebook yields no rows, as the crossJoin does") {
    val rows = rowsOf(1L -> v(1f, 0f))
    assert(agree(rows, centsOf(LongType)).isEmpty)
  }

  test("a null embedding goes to the lowest centroid_id, as the window puts it") {
    val rows = rowsOf(1L -> null, 2L -> v(0f, 1f))
    val g = agree(rows, centsOf(LongType, 3L -> v(1f, 0f), 2L -> v(0f, 1f)))
    assert(g.map(t => t._1 -> t._3) == Seq(1L -> 2L, 2L -> 2L))
  }

  test("centroid_id keeps the codebook's type") {
    val rows = rowsOf(1L -> v(1f, 0f), 2L -> v(0f, 1f))
    val g = agree(rows, centsOf(IntegerType, 1 -> v(1f, 0f), 0 -> v(0f, 1f)))
    assert(g.map(_._3) == Seq(1, 0))
  }
}
