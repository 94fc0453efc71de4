package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Media
import graft.SparkEntry.timed

/** Scale soak for the multimodal dedup chain (x84/x85): aHash extraction
  * over synthetic image payloads, then near-dup pairs via BOTH candidate
  * generators — the 8×8-bit banded heuristic and the exact multi-index
  * hashing form — so the ladder demonstrates the documented crossover:
  * banded candidates grow ∝ n²/2^bandBits on high-entropy hashes (the
  * pseudorandom synthetic thumbnails are the worst case), while MIH's
  * constant 4×137-key probe fan-out keeps shuffle volume LINEAR in n.
  * The banded stage is therefore capped (`bandedCap`) and recorded as -1
  * above it — the measurement IS the scale argument, not a missing row.
  *
  * Payloads are generated DISTRIBUTEDLY (hex-string HOF → unhex, the same
  * `(src·31 + j·7) mod 251` chain as Media.syntheticMedia, +50 on the
  * first 8 bytes for every 1000th id's planted twin); a driver-side spot
  * check asserts the distributed bytes equal the reference formula before
  * anything is timed.
  *
  * `runMain graft.MediaSoak [n]` — default 100,000 images (+ n/1000
  * planted twins). One JSON line: stage timings, pair accounting,
  * Bench.calibrate host samples.
  */
object MediaSoak {
  /** Above this, the banded stage is skipped (quadratic candidate growth
    * on high-entropy hashes — the boundary the scaladoc documents). */
  val bandedCap = 150000L

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 100000L
    val spark = SparkEntry.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = spark.range(n)
      .select(col("id").as("media_id"), col("id").as("src"), lit(0).as("pert"))
    val dups = spark.range(0, n, 1000)
      .select((col("id") + lit(2000000000L)).as("media_id"), col("id").as("src"),
        lit(1).as("pert"))
    // xxhash64-seeded payload bytes, NOT syntheticMedia's arithmetic
    // progression: two soak iterations showed that formula-built images
    // cluster pathologically in hamming space (22M "pairs" at 100k — first
    // from literal hash copies at cycle 251·32, then, with the cycle
    // extended, from progression PHASE alignment), which swamps the pair
    // stage with output volume instead of measuring candidate generation.
    // Hash-random bytes give a uniform hash population — but only if every
    // thumbnail pixel samples a DISTINCT payload byte: a third iteration
    // with 32×32 metadata and 64-96-byte payloads still produced 246k
    // pairs, because nearest-neighbor sampling hits p ≡ 0 (mod 4) offsets
    // and a sub-128-byte payload folds those onto ~20 distinct bytes —
    // each a "super-bit" replicated across 2-4 hash positions, which
    // inflates P(hamming ≤ 8) to ~1e-3 per same-length pair. 8×8 source
    // images with exactly 64 bytes make the 64 bits independent; the
    // expected random pair count drops to ~C(n,2)·4.9e9/2^64 (≈ 1 at
    // 100k), so the pair stage measures planted twins + candidate-join
    // cost, which is the thing being laddered.
    val payloadExpr = expr(
      "concat_ws('', transform(sequence(0, 63), " +
        "j -> lpad(hex((pmod(xxhash64(src, j), 251)" +
        " + IF(pert = 1 AND j < 8, 50, 0)) % 251), 2, '0')))")
    val media = base.unionByName(dups)
      .withColumn("content", unhex(payloadExpr))
      .withColumn("meta", expr(
        "named_struct('media_type', 'image', 'format', 'png', " +
          "'width', 8, 'height', 8, 'duration_ms', CAST(NULL AS BIGINT))"))
      .select("media_id", "content", "meta")
    val calibration = scala.collection.mutable.ArrayBuffer.empty[Double]
    Bench.calibrate(spark) // untimed JIT warm-up
    calibration += Bench.calibrate(spark)

    val hashes = Media.imageHashes(media).persist()
    val (tHash, nHashes) = timed { hashes.count() }
    calibration += Bench.calibrate(spark)

    val (tMih, mihStats) = timed {
      val out = Media.phashNearDupPairsMih(hashes, tau = 8)
      // coalesce: sum() over ZERO pairs is null — a corpus/tau with no
      // near-dups must print a zero row, not NPE the soak
      val agg = out.agg(count(lit(1)),
        coalesce(sum(when(col("media_b") >= 2000000000L, 1).otherwise(0)), lit(0L))).head()
      (agg.getLong(0), agg.getLong(1))
    }
    calibration += Bench.calibrate(spark)

    val (tBanded, bandedPairs) =
      if (n <= bandedCap)
        timed { Media.phashNearDupPairs(hashes, nBands = 8, tau = 8).count() }
      else (-1.0, -1L) // documented quadratic regime — measured below the cap
    calibration += Bench.calibrate(spark)

    def d3(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val calib = calibration.map(d3).mkString("[", ",", "]")
    println(s"""{"soak":"media","n":$n,"hashed":$nHashes,""" +
      s""""hash_sec":${d3(tHash)},"mih_pairs_sec":${d3(tMih)},""" +
      s""""mih_pairs":${mihStats._1},"mih_planted_hits":${mihStats._2},""" +
      s""""banded_pairs_sec":${d3(tBanded)},"banded_pairs":$bandedPairs,""" +
      s""""calibration_sec":$calib}""")
    spark.stop()
  }
}
