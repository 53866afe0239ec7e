package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** ns/row of the native kernels in `functions.VectorExpressions`, each
  * evaluated over one cached, seeded input of `rows` rows (the time of the
  * whole noop job divided by the rows, median of `reps`).
  */
object Kernels {
  private val dim = 64
  private val cells = 16

  def measure(spark: SparkSession, seed: Long, rows: Int = 40000, reps: Int = 5): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    def gauss(n: Int): Array[Double] = Array.fill(n)(rnd.nextGaussian())
    val cen = gauss(cells * dim)
    val sumsq = cen.grouped(dim).map(_.map(x => x * x).sum).toArray
    val nPlanes = 8
    val nTables = 4
    val planes = gauss(nPlanes * nTables * dim)

    // deterministic per-row inputs, derived from the row id and the seed
    val id = col("id")
    def h(salt: Int, i: Column*): Column = xxhash64(Seq(id, lit(seed), lit(salt)) ++ i: _*)
    val input: DataFrame = spark.range(rows).select(
      transform(sequence(lit(1), lit(48)), i => h(1, i)).as("h0"),
      array_sort(transform(sequence(lit(1), lit(40)), i => pmod(h(2, i), lit(400L)))).as("sa"),
      array_sort(transform(sequence(lit(1), lit(40)), i => pmod(h(3, i), lit(400L)))).as("sb"),
      transform(sequence(lit(1), lit(30)), i => concat(lit("w"), pmod(h(4, i), lit(31L)).cast("string"))).as("toks"),
      transform(sequence(lit(1), lit(dim)), i => (pmod(h(5, i), lit(2000L)) / 1000.0 - 1.0)).as("va"),
      transform(sequence(lit(1), lit(dim)), i => (pmod(h(6, i), lit(2000L)) / 1000.0 - 1.0)).as("vb"),
      transform(sequence(lit(1), lit(8)), i => transform(sequence(lit(0), lit(255)),
        j => pmod(h(7, i, j), lit(1000L)))).as("dtab"),
      transform(sequence(lit(1), lit(8)), i => pmod(h(8, i), lit(256L)).cast("int")).as("codes"))
      .cache()
    input.write.format("noop").mode("overwrite").save()

    val kernels: Seq[(String, Column)] = Seq(
      "minhashSig" -> VectorExpressions.minhashSig(col("h0")),
      "sortedJaccard" -> VectorExpressions.sortedJaccard(col("sa"), col("sb")),
      "shingleHashN" -> VectorExpressions.shingleHashN(col("toks"), 3, 0L, distinct = true),
      "dot" -> VectorExpressions.dot(col("va"), col("vb")),
      "nearestCells" -> VectorExpressions.nearestCells(col("va"), cen, sumsq, dim, 4),
      "adcSum" -> VectorExpressions.adcSum(col("dtab"), col("codes")),
      "lshTableBuckets" -> VectorExpressions.lshTableBuckets(col("va"), planes, nPlanes, nTables))
    try kernels.map { case (name, k) =>
      val times = (0 until reps + 1).map { _ =>
        val t0 = System.nanoTime()
        input.select(k.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }.drop(1).sorted
      s"functions.$name.ns_per_row" -> times(times.size / 2) / rows
    }.toMap
    finally input.unpersist(blocking = true)
  }
}
