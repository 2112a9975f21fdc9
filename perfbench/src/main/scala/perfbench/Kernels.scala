package perfbench

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** ns per row of the four public `GraftColumns` kernels, each summed over
  * a cached frame built from a fixed seed (never the run's seed), so
  * every run times the same rows. Pairwise kernels run over a cross join
  * of two small frames, the shape they have in the queries. */
object Kernels {
  private val Reps = 5

  private def packed(v: Array[Double]): Array[Byte] = {
    val b = ByteBuffer.allocate(8 * v.length).order(ByteOrder.LITTLE_ENDIAN)
    v.foreach(b.putDouble)
    b.array()
  }

  /** Median wall of `Reps` evaluations of sum(expr) over `df`, per row. */
  private def nsPerRow(df: DataFrame, expr: Column): Double = {
    val rows = df.count()
    val walls = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      df.agg(sum(expr.cast("double"))).collect()
      (System.nanoTime() - t0).toDouble
    }
    Stats.median(walls) / rows
  }

  def run(spark: SparkSession): Map[String, Double] = {
    import spark.implicits._
    val rnd = new scala.util.Random(20240101L)
    def vec(n: Int) = Array.fill(n)(rnd.nextGaussian())

    val vecs = Seq.fill(1000)(packed(vec(64))).toDF("v").cache()
    val pairs = vecs.as("l").crossJoin(vecs.as("r")).select(col("l.v").as("a"), col("r.v").as("b"))
    val series = Seq.fill(200)(vec(64).scanLeft(0.0)(_ + _).toSeq).toDF("s").cache()
    val seriesPairs = series.as("l").crossJoin(series.as("r"))
      .select(col("l.s").as("a"), col("r.s").as("b"))
    val strings = (0 until 500000).map(i => s"doc-$i-${rnd.alphanumeric.take(16).mkString}")
      .toDF("t").cache()
    Seq(vecs, series, strings).foreach(_.count())

    val out = Map(
      "kernel.dot_packed_ns" -> nsPerRow(pairs, GraftColumns.dotPacked(col("a"), col("b"))),
      "kernel.md5_prefix60_ns" -> nsPerRow(strings, GraftColumns.md5Prefix60(col("t"))),
      "kernel.dtw_band_ns" -> nsPerRow(seriesPairs, GraftColumns.dtwBand(col("a"), col("b"), 8)),
      "kernel.dtw_band_le_ns" ->
        nsPerRow(seriesPairs, GraftColumns.dtwBandLe(col("a"), col("b"), 8, 40.0)))
    Seq(vecs, series, strings).foreach(_.unpersist())
    out
  }
}
