package graft

import org.apache.spark.sql.functions._

import graft.operators.Quantiles
import graft.SparkEntry.timed

/** Crossover soak for the two exact-quantile plans: times the
  * range-partitioned cluster-parallel plan against the builtin `percentile`
  * aggregate across group cardinalities at fixed row count, to pin
  * `Quantiles.builtinCrossoverGroups` with a measurement (PLANS.md).
  *
  * `runMain graft.QuantilesSoak [rows] [groups...]` — defaults 20M rows at
  * 3, 1000, 100000, 1000000 groups. Prints one JSON line per cardinality.
  */
object QuantilesSoak {
  def main(args: Array[String]): Unit = {
    val rows = if (args.length > 0) args(0).toLong else 20000000L
    val groupCounts =
      if (args.length > 1) args.drop(1).map(_.toLong).toSeq
      else Seq(3L, 1000L, 100000L, 1000000L)
    val spark = SparkEntry.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    for (g <- groupCounts) {
      // deterministic skew-free synthetic: value is a scrambled id
      val df = spark.range(rows)
        .select((col("id") % g).as("g"),
          pmod(hash(col("id")), lit(1000000)).cast("double").as("v"))
      val (tPar, nPar) = timed {
        Quantiles.parallelQuantiles(df, "g", "v", Seq(0.25, 0.5)).count()
      }
      val (tBi, nBi) = timed {
        Quantiles.builtinQuantiles(df, "g", "v", Seq(0.25, 0.5)).count()
      }
      require(nPar == nBi && nPar == g, s"row mismatch: parallel=$nPar builtin=$nBi want=$g")
      println(s"""{"metric":"quantiles_soak","rows":$rows,"groups":$g,""" +
        s""""parallel_sec":$tPar,"builtin_sec":$tBi}""")
    }
    spark.stop()
  }
}
