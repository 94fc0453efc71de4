package graft

import graft.nfl.{NflPipeline, NflSynth}

/** Scale bench for the reference-parity pipeline itself (the join/window
  * workload the TPC-H-ish queries don't cover): generates synthetic
  * tracking distributedly, runs DL→MB end-to-end, prints one JSON line.
  *
  * `runMain graft.NflScaleBench [nGames] [playsPerGame]` — defaults 50×60 =
  * 3000 plays = 600k tracking rows; 5000×60 ≈ 60M rows for a soak.
  */
object NflScaleBench {
  def main(args: Array[String]): Unit = {
    val nGames = if (args.length > 0) args(0).toInt else 50
    val playsPerGame = if (args.length > 1) args(1).toInt else 60
    // the cluster posture lives in ONE place — NflPipeline.scaleConf —
    // shared by this bench and any real deployment (r18 verdict item 5);
    // each setting's rationale is documented there
    val spark = NflPipeline.scaleConf(SparkEntry.localCpus)
      .foldLeft(SparkEntry.localBuilder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pipeline = new NflPipeline(
      NflSynth.tracking(spark, nGames, playsPerGame),
      NflSynth.pff(spark, nGames, playsPerGame),
      NflSynth.plays(spark, nGames, playsPerGame),
      NflSynth.players(spark))

    val trackingRows = nGames.toLong * playsPerGame * 10 * 20
    val (tMetric, nFinal) = SparkEntry.timed(pipeline.rushersFinal.count())
    val (tRest, (nBlockers, nThrow)) = SparkEntry.timed(
      (pipeline.blockersWithMetric.count(), pipeline.timeToThrow.count()))
    println(s"""{"metric":"nfl_pipeline","tracking_rows":$trackingRows,""" +
      s""""rushers_final":$nFinal,"blockers":$nBlockers,"time_to_throw":$nThrow,""" +
      s""""metric_sec":$tMetric,"downstream_sec":$tRest}""")
    spark.stop()
  }
}
