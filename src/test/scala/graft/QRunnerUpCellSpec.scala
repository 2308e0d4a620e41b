package graft

import graft.functions.QArgminCell
import org.apache.spark.sql.functions._

/** The runner-up (rank 2) mode of the nearest-cell expression. */
class QRunnerUpCellSpec extends SparkSpec {

  /** Independent plain-Scala reference: quantize to the 1e-7 grid,
    * exact integer L2² per centroid, SECOND in the (d, cid) order. */
  private def refRunnerUp(emb: scala.collection.Seq[Float],
                          centroids: Array[(Int, Array[Long])]): Int = {
    val q = emb.map(f => math.floor(f.toDouble * 1e7).toLong)
    centroids.map { case (cid, c) =>
      (q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
    }.sorted.apply(1)._2
  }

  private def someCentroids(n: Int): Array[(Int, Array[Long])] = {
    val rows = Tables.embeddings(spark, sf).orderBy("vec_id").limit(n).collect()
    rows.zipWithIndex.map { case (r, i) =>
      (i, r.getAs[Seq[Float]]("embedding")
        .map(f => math.floor(f.toDouble * 1e7).toLong).toArray)
    }
  }

  test("native runner-up matches the plain-Scala reference on every vector") {
    val cents = someCentroids(16)
    val got = Tables.embeddings(spark, sf).limit(200)
      .select(col("vec_id"), col("embedding"),
        QArgminCell.of("embedding", cents, rank = 2).as("cell2"))
      .collect()
    got.foreach { r =>
      val expected = refRunnerUp(r.getAs[scala.collection.Seq[Float]]("embedding"), cents)
      assert(r.getAs[Int]("cell2") == expected,
        s"vec ${r.getLong(0)}: native ${r.getAs[Int]("cell2")} vs reference $expected")
    }
  }

  test("runner-up differs from the argmin and ties follow the (d, cid) order") {
    import spark.implicits._
    val v = Seq((1L, Array(0.5f, -0.25f))).toDF("vec_id", "embedding")
    val c = Array(5000000L, -2500000L)
    // three identical centroids: argmin takes cid 3, runner-up cid 5
    val cents = Array(7 -> c, 3 -> c, 5 -> c)
    val out = v.select(
      QArgminCell.of("embedding", cents).as("cell"),
      QArgminCell.of("embedding", cents, rank = 2).as("cell2")).head()
    assert(out.getAs[Int]("cell") == 3 && out.getAs[Int]("cell2") == 5,
      s"expected (3, 5), got (${out.getAs[Int]("cell")}, ${out.getAs[Int]("cell2")})")
  }

  test("native runner-up participates in whole-stage codegen") {
    val cents = someCentroids(4)
    val plan = Tables.embeddings(spark, sf)
      .select(QArgminCell.of("embedding", cents, rank = 2).as("cell2"))
      .queryExecution.executedPlan
    val codegenStages = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.exists(_.toString.contains("qrunnerupcell")), plan.toString)
  }
}
