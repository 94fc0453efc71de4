package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.operators.PrefixQuota
import graft.SparkEntry.timed

/** Scale soak for the x53 mixture cut (PrefixQuota.takeUntilQuota):
  * generates a skewed source mixture (one source holds ~70% of the rows —
  * the shape the two-level prefix sum exists for) with a TIGHT token
  * budget, so the whole-bucket prune is load-bearing: almost every bucket
  * of the hot source starts past its quota and must be dropped BEFORE any
  * sort. Reports the distributed cut against the naive per-source
  * running-sum window on the same data (the oracle semantics), plus the
  * dispatcher's chosen bucket depth, so the PLANS.md ladder can record
  * that (a) the cut stays flat as rows grow and (b) the two plans agree
  * row-for-row at scale, not just in PrefixQuotaSpec's 600-row fixture.
  *
  * `runMain graft.MixtureSoak [nRows]` — default 1,000,000. Prints one
  * JSON line with stage timings and kept-row accounting.
  */
object MixtureSoak {
  final case class Row(source: String, doc_id: Long, n_tok: Long)

  def main(args: Array[String]): Unit = {
    val nRows = if (args.length > 0) args(0).toInt else 1000000
    val spark = SparkEntry.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // deterministic skewed mixture: ~70% of rows land in src0, the rest
    // spread over src1..src9; token counts 20..119
    val rows = spark.range(nRows.toLong).map { i =>
      val h = Math.floorMod(i * 2654435761L, 10L)
      val src = if (h < 7) "src0" else s"src$h"
      Row(src, i, 20L + Math.floorMod(i * 1103515245L, 100L))
    }(Encoders.product[Row]).toDF().persist()
    rows.count()
    val calibration = scala.collection.mutable.ArrayBuffer.empty[Double]
    Bench.calibrate(spark) // untimed JIT warm-up
    calibration += Bench.calibrate(spark)

    // tight budget: ~1000 rows' worth of tokens per source — the cut keeps
    // well under 1% of the hot source, so bucket pruning carries the plan
    val quota = lit(70000L)
    val ord = md5(col("doc_id").cast("string"))
    val est = rows.queryExecution.optimizedPlan.stats.sizeInBytes
    val bucketLen = PrefixQuota.dispatchBucketLen(est)
    val (tCut, nKept) = timed {
      PrefixQuota.takeUntilQuota(rows, "source", ord, col("doc_id"),
        col("n_tok"), quota).count()
    }
    calibration += Bench.calibrate(spark)
    // the oracle semantics at the same scale: one running-sum window per
    // source — the hot source serializes through a single task
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(ord, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val (tNaive, nNaive) = timed {
      rows.withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .filter(col("cum_before") < quota).count()
    }
    calibration += Bench.calibrate(spark)
    val calib = calibration.map(c =>
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(c))).mkString("[", ",", "]")
    println(s"""{"metric":"mixture_soak","rows":$nRows,"bucket_len":$bucketLen,""" +
      s""""est_bytes":$est,"kept":$nKept,"cut_sec":$tCut,""" +
      s""""naive_kept":$nNaive,"naive_sec":$tNaive,""" +
      s""""calibration_sec":$calib}""")
    spark.stop()
  }
}
