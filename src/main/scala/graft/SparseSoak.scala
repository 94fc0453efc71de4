package graft

import org.apache.spark.sql.functions._

import graft.SparkEntry.timed

/** Scale soak for x80's inverted-index sparse cosine: the claim under test
  * is the df-cap — candidate volume is Σ_kept df², so pruning hot postings
  * bounds the pair join while stopword-grade tokens would each contribute
  * df² pairs (at soak scale, 'the' alone would be n²).
  *
  * Corpus: n docs × 30 xxhash-uniform tokens over a vocabulary of 3n
  * (E[df] ≈ 10 — a long-tail population where the band keeps nearly all
  * REAL tokens) plus one planted stopword in every doc. The soak times the
  * factored x80 engine and ACCOUNTS the prune: kept vs pruned posting mass
  * (Σ df², exact integers from the df table — the avoided work is
  * measured, not asserted). The stopword's n² mass never reaches the join;
  * the kept mass grows ∝ n, so pairs_sec should ladder near-linearly.
  *
  * `runMain graft.SparseSoak [n]` — default 100,000 docs. One JSON line.
  */
object SparseSoak {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 100000L
    val spark = SparkEntry.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val vocab = 3L * n
    val docsDf = spark.range(n)
      .select(col("id").as("doc_id"),
        concat(lit("the "), concat_ws(" ",
          expr(s"transform(sequence(0, 29), j -> concat('t', pmod(xxhash64(id, j), ${vocab}L)))")))
          .as("text"))
      .persist()
    docsDf.count()
    val calibration = scala.collection.mutable.ArrayBuffer.empty[Double]
    Bench.calibrate(spark) // untimed JIT warm-up
    calibration += Bench.calibrate(spark)

    // prune accounting from the df table (exact integers; NOT timed as the
    // pair stage — it is the diagnostic that explains the pair stage)
    val tok = docsDf.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    val dfreq = tok.groupBy("term").agg(count(lit(1)).as("df"))
    val acct = dfreq
      .select(
        sum(when(col("df") >= 2 && (col("df") <= 10 || col("df") * 10 <= lit(n)),
          col("df") * col("df")).otherwise(0L)).as("kept_mass"),
        sum(when(!(col("df") >= 2 && (col("df") <= 10 || col("df") * 10 <= lit(n))),
          col("df") * col("df")).otherwise(0L)).as("pruned_mass"),
        count(lit(1)).as("n_terms"))
      .head()
    calibration += Bench.calibrate(spark)

    val (tPairs, nPairs) = timed {
      graft.queries.TextQueries.sparseCosinePairsOf(docsDf).count()
    }
    calibration += Bench.calibrate(spark)

    def d3(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val calib = calibration.map(d3).mkString("[", ",", "]")
    println(s"""{"soak":"sparse","n":$n,"vocab":$vocab,""" +
      s""""pairs_sec":${d3(tPairs)},"pairs":$nPairs,""" +
      s""""kept_mass":${acct.getLong(0)},"pruned_mass":${acct.getLong(1)},""" +
      s""""n_terms":${acct.getLong(2)},"calibration_sec":$calib}""")
    spark.stop()
  }
}
