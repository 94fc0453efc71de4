package graft

import org.apache.spark.sql.functions._

import graft.queries.SimilarityQueries
import graft.SparkEntry.timed

/** Scale soak for the embedding-side paths added in round 10: the PQ
  * encode→artifact→probe chain (x68's deployment form) and the cell-scoped
  * SemDeDup pair stage (x67's engine).
  *
  * Embeddings are synthesized DISTRIBUTEDLY (pure column expressions over
  * `spark.range` — xxhash64-seeded floats in [-1, 1), no driver loops, no
  * RNG state), so the ladder isolates operator cost from generator cost.
  *
  * Stages:
  *  - `encode_sec`: corpus → pinned-codebook PQ codes → parquet artifact
  *    (savePqIndex's write path). Row-local codegen argmins — must scale
  *    linearly with n.
  *  - `probe_sec`: 16-query ADC shortlist read from the ARTIFACT ONLY
  *    (pqShortlistFromIndex) — the steady state every later session pays.
  *    Scan-shaped: linear in the (32× compressed) codes table, never
  *    touches raw vectors.
  *  - `semdedup_pairs_sec`: the x67 engine with cells scaled as
  *    k = n/[[cellTarget]] — the production contract (SemDeDup's k ≈
  *    n/20k): cells stay ~[[cellTarget]] rows, so within-cell pairwise
  *    work is Σ|cell|² ≈ n·cellTarget/2, LINEAR in n. Cells here come
  *    from a hash (uniform by construction, the plan is identical to the
  *    pinned-centroid assignment's); a KMeans assignment only changes the
  *    cell derivation expression, not the join/aggregate shape being
  *    soaked. Fixed k=16 on isotropic data would instead give |cell| ≈
  *    n/16 and quadratic pair work — the scaladoc'd reason x67's pinned
  *    k is a test-scale artifact, re-verified by this ladder.
  *
  * `runMain graft.AnnSoak [n]` — default 200,000 vectors. Prints one JSON
  * line with stage timings, result accounting, and Bench.calibrate host
  * samples (a row is cross-comparable only when its calibration matches;
  * see the PLANS.md noise note).
  */
object AnnSoak {
  /** Target rows per SemDeDup cell at soak scale. */
  val cellTarget = 256

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 200000L
    val dim = 64
    val spark = SparkEntry.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // deterministic synthetic corpus: 64 floats per row in [-1, 1)
    val emb = spark.range(n)
      .select(col("id").as("vec_id"),
        array((0 until dim).map(j =>
          ((pmod(xxhash64(col("id"), lit(j)), lit(2000000L)) - lit(1000000L))
            / lit(1000000.0)).cast("float")): _*).as("embedding"))
      .persist()
    val nRows = emb.count()
    val calibration = scala.collection.mutable.ArrayBuffer.empty[Double]
    Bench.calibrate(spark) // untimed JIT warm-up
    calibration += Bench.calibrate(spark)

    // one-time encode + artifact write (the savePqIndex form)
    val idx = java.nio.file.Files.createTempDirectory("ann-soak").toString + "/codes"
    val (tEncode, _) = timed {
      graft.sources.Sinks.parquet(SimilarityQueries.pqCorpusCodes(emb), idx)
    }
    calibration += Bench.calibrate(spark)

    // steady-state ADC probe: 16 queries against the artifact alone
    val queries = spark.range(16)
      .select((col("id") + lit(2000000000L)).as("q_id"),
        array((0 until dim).map(j =>
          ((pmod(xxhash64(col("id") + 7919, lit(j)), lit(2000000L)) - lit(1000000L))
            / lit(1000000.0)).cast("float")): _*).as("q_emb"))
    val (tProbe, probeRows) = timed {
      SimilarityQueries.pqShortlistFromIndex(spark, queries, idx).count()
    }
    calibration += Bench.calibrate(spark)

    // SemDeDup pair stage with bounded cells: k = n/cellTarget
    val k = math.max(16L, nRows / cellTarget)
    val (tSem, semStats) = timed {
      val assigned = emb.withColumn("cell",
        pmod(xxhash64(col("vec_id"), lit(42)), lit(k)).cast("int"))
      val out = SimilarityQueries.semanticDedupOf(assigned, tau = 0.5)
      val agg = out.agg(count(lit(1)), sum("is_dup")).head()
      (agg.getLong(0), agg.getLong(1))
    }
    calibration += Bench.calibrate(spark)

    val calib = calibration.map(c =>
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(c))).mkString("[", ",", "]")
    def d3(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    println(s"""{"soak":"ann","n":$nRows,"cells":$k,""" +
      s""""encode_sec":${d3(tEncode)},"probe_sec":${d3(tProbe)},""" +
      s""""probe_rows":$probeRows,"semdedup_pairs_sec":${d3(tSem)},""" +
      s""""sem_rows":${semStats._1},"sem_dups":${semStats._2},""" +
      s""""calibration_sec":$calib}""")
    spark.stop()
  }
}
