package graft

import org.apache.spark.sql.functions._

import graft.operators.{IntervalJoin, MergeInto}
import graft.SparkEntry.timed

/** Measured scale ladder for the two round-10 maintenance operators
  * (PLANS.md records the calm-window brackets):
  *
  *  - interval-overlap join: bucketed equi-join vs the naive inequality
  *    join (BNLJ) across interval counts at CONSTANT overlap density
  *    (domain grows with n, so true pairs ∝ n — the regime where the
  *    naive plan's n² candidate work separates from the bucketed plan's
  *    output-proportional work). The naive side runs only at the small
  *    points; the ladder's top is bucketed-only with the pair count
  *    printed so output growth is visible.
  *
  *  - CDC snapshot merge: applyChangeset over a synthetic snapshot vs the
  *    plain snapshot scan — the claim under test is "merge ≈ one corpus
  *    scan" (broadcast anti join adds no shuffle), so the interesting
  *    number is the RATIO, not the absolute.
  *
  * `runMain graft.MaintenanceSoak [intervalNs...]` — defaults 100k, 400k,
  * 1.6M intervals per side; merge at 20M snapshot rows / 200k changes.
  * One JSON line per measurement.
  */
object MaintenanceSoak {
  def main(args: Array[String]): Unit = {
    val ns = if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(100000L, 400000L, 1600000L)
    val spark = SparkEntry.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- interval overlap ladder --------------------------------------
    for (n <- ns) {
      // constant density: spacing 500 ticks, mean length 500 → each
      // interval overlaps a few neighbors; domain ∝ n keeps that fixed
      val domain = n * 500L
      def side(tag: String, seed: Int) = spark.range(n)
        .select(col("id").as(s"${tag}id"),
          pmod(xxhash64(col("id"), lit(seed)), lit(domain)).as("lo"))
        .withColumn("hi", col("lo") + 1L + pmod(xxhash64(col("lo")), lit(1000)))
      val l = side("l", 1)
      val r = side("r", 2)
      val (tB, pairs) = timed {
        IntervalJoin.overlapJoin(l, r, "lo", "hi", bucketWidth = 1000L).count()
      }
      val (tN, pairsN) =
        if (n <= 400000L) timed {
          l.join(r.withColumnRenamed("lo", "lo2").withColumnRenamed("hi", "hi2"),
            col("lo") <= col("hi2") && col("lo2") <= col("hi")).count()
        } else (-1.0, pairs)
      require(pairsN == pairs, s"pair mismatch: naive=$pairsN bucketed=$pairs")
      println(s"""{"metric":"interval_soak","n":$n,"pairs":$pairs,""" +
        s""""bucketed_sec":$tB,"naive_sec":$tN}""")
    }

    // ---- CDC merge vs plain scan --------------------------------------
    val snapRows = 20000000L
    val snap = spark.range(snapRows)
      .select(col("id"), xxhash64(col("id")).as("payload"))
    val changes = spark.range(200000L)
      .select((col("id") * 100L).as("id"), xxhash64(col("id"), lit(9)).as("payload"),
        when(col("id") % 3 === 0, "D").otherwise("U").as("op"),
        col("id").as("seq"))
    val (tScan, nScan) = timed(snap.count())
    val (tMerge, nMerge) = timed(MergeInto.applyChangeset(snap, changes, Seq("id")).count())
    println(s"""{"metric":"merge_soak","snap_rows":$nScan,"merged_rows":$nMerge,""" +
      s""""scan_sec":$tScan,"merge_sec":$tMerge}""")
    spark.stop()
  }
}
