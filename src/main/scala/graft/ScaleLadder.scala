package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The >sf0.1 measured point the r10 verdict asked for: synthesize an N×
  * corpus from an sf dir and time the registry's most expensive queries at
  * 1× and N×, so superlinear growth is caught by measurement, not inferred
  * from plan shape (`runMain graft.ScaleLadder [factor] [outDir]`).
  *
  * The N× corpus is N id-shifted copies of the base tables — the one
  * scale-up that provably preserves the base distributions: per-copy
  * structure (per-user event streams, per-customer order counts, per-doc
  * text, duplicate clusters) is bit-identical to the base, and NOTHING is
  * manufactured across copies:
  *   - ids shift by k·10⁷ (disjoint ranges; group COUNTS scale ×N while
  *     per-group sizes stay constant — the realistic growth axis);
  *   - document tokens are salted per copy by a SEEDED ALPHABET
  *     PERMUTATION (`translate` under a Fisher-Yates shuffle keyed by k;
  *     copy 0 is verbatim; the stop words `the`/`a` are exempt), so copy
  *     k's vocabulary is disjoint from copy j's (sporadic single-token
  *     image collisions are possible for short words, but a cross-copy
  *     near-dup needs 3-token SHINGLE collisions — cubically rarer — so
  *     dup/shingle/cluster mass still scales ×N, never quadratically).
  *     Length-preserving and stopword-preserving BY DESIGN (r16): the old
  *     `w → w_k` suffix salt grew every token by 2+ chars and destroyed
  *     the stop words, so every salted doc failed x64's composite gate
  *     (mean_wlen ∈ [4,5], ≥2 stop hits) and gate-FILTERING queries
  *     (x134) measured an empty pipeline at N× — rows_Nx was 0. Under the
  *     permutation, per-copy gate verdicts, token lengths, and bigram
  *     structure are the base corpus's (bijective token map), so both the
  *     dedup families and the gate-filtering families scale honestly;
  *     n_chars recomputed (now a no-op, kept for safety);
  *   - embeddings perturb by +k/1000 per dimension (distinct vectors, same
  *     geometry per copy; x68 encodes against the committed PqPinned
  *     codebooks as it would any drifted corpus — timing is what matters
  *     here, recall gates live in SimilaritySpec).
  *
  * Reads like a soak artifact: one JSON line per query with the 1× and N×
  * min-of-2 noop-sink times, output rows at both scales, and the
  * time-ratio/N "linearity" figure (≤ ~1 ⇒ at-most-linear; calibration
  * samples let a reader discount host contention exactly as in Bench).
  */
object ScaleLadder {

  /** The most expensive registry rows per BENCH_r10 (verdict item 4), plus
    * the later additions that joined that tier (x104's dup-chain rollup,
    * x108's keep-best manifest; r16: the flop-bound ANN paths x12/x13 —
    * the only expensive family without standing calm-baseline rungs, which
    * is why their r15 driver-run spike was unadjudicable from repo records
    * alone — and x134's release→pack bridge). */
  val hotQueries: Seq[String] = Seq(
    "x50_deciles", "x34_profile_orders", "x03_dedup_minhash",
    "x48_ev_resample_ffill", "q10_median", "x61_substring_cut",
    "x12_sim_brute_topk", "x13_sim_lsh_topk",
    "x68_pq_topk", "x26_dedup_clusters", "x58_dup_source_matrix",
    "x59_release_manifest", "x104_shard_dup_rate",
    "x108_release_manifest_keep_best", "x116_curation_funnel",
    "x118_shard_balance", "x119_cluster_size_hist",
    "x121_epoch_order", "x122_epoch_mix_audit",
    "x126_ann_recall_sweep", "x127_ann_operating_point",
    "x134_release_pack_bridge",
    // r16 session 2: the dedup-decon interaction joins the minhash-chain
    // family's standing rungs
    "x136_contamination_halo",
    // r17: the anneal pack schedule joins x134 in the standing tier (r16
    // verdict item 2 — the two north-star release artifacts both priced
    // every round from here on)
    "x140_anneal_pack_order",
    // r18: the DSIR importance gap runs TWO bigram models over the
    // re-exploded corpus — a top-3 bench row (3.5-4.5 s at sf0.1) from
    // birth, so it joins the tier immediately
    "x149_dsir_importance")

  private val Shift = 10000000L // id stride between copies (disjoint ranges)

  /** N distribution-preserving copies: per-copy transform then union-all. */
  private def copies(n: Int)(mk: Int => DataFrame): DataFrame =
    (0 until n).map(mk).reduce(_ unionAll _)

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** Copy k's alphabet permutation (identity for copy 0): seeded
    * Fisher-Yates, so every copy gets a distinct bijective token map and
    * the copy count is unbounded (a rot-k cipher would cycle at 26 copies
    * and re-create cross-copy exact dups). */
  private[graft] def permFor(k: Int): String =
    if (k == 0) Alphabet
    else {
      val arr = Alphabet.toCharArray
      val rnd = new scala.util.Random(0x5eed0000L + k)
      var i = arr.length - 1
      while (i >= 1) {
        val j = rnd.nextInt(i + 1)
        val t = arr(i); arr(i) = arr(j); arr(j) = t
        i -= 1
      }
      new String(arr)
    }

  /** The per-copy text salt: stopword-exempt alphabet permutation (see
    * class doc — gate verdicts, token lengths, and shingle structure are
    * preserved per copy; vocabularies are copy-disjoint). */
  private def saltText(k: Int): Column = array_join(
    transform(split(col("text"), " "),
      t => when(t === "the" || t === "a", t)
        .otherwise(translate(t, Alphabet, permFor(k)))), " ")

  def synthesize(spark: SparkSession, base: String, out: String, n: Int): Unit = {
    val dir = new java.io.File(out)
    dir.mkdirs()
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    val ev = Tables.events(spark, base)
    write(copies(n) { k =>
      ev.withColumn("event_id", col("event_id") + k * Shift)
        .withColumn("user_id", col("user_id") + k * Shift)
    }, "events")

    val docs = Tables.documents(spark, base)
    write(copies(n) { k =>
      docs
        .withColumn("doc_id", col("doc_id") + k * Shift)
        .withColumn("text", saltText(k))
        .withColumn("n_chars", length(col("text")))
    }, "documents")

    val emb = Tables.embeddings(spark, base)
    write(copies(n) { k =>
      emb.withColumn("vec_id", col("vec_id") + k * Shift)
        .withColumn("embedding",
          expr(s"transform(embedding, v -> CAST(v + $k / 1000.0 AS FLOAT))"))
    }, "embeddings")

    val ord = Tables.orders(spark, base)
    write(copies(n) { k =>
      ord.withColumn("o_orderkey", col("o_orderkey") + k * Shift)
        .withColumn("o_custkey", col("o_custkey") + k * Shift)
    }, "orders")

    val li = Tables.lineitem(spark, base)
    write(copies(n) { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + k * Shift)
    }, "lineitem")
  }

  private def d3(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))

  /** Min-of-2 noop-sink time + output rows (rows from the SECOND run so the
    * timing runs stay pure noop sinks). -1 on failure, like Bench. */
  private def time2(q: queries.QueryDef, spark: SparkSession, dir: String): (Double, Long) =
    try {
      val ts = (1 to 2).map { _ =>
        SparkEntry.timed(q.run(spark, dir).write.format("noop").mode("overwrite").save())._1
      }
      (ts.min, q.run(spark, dir).count())
    } catch { case e: Throwable =>
      System.err.println(s"[ladder] ${q.name} @ $dir: $e"); (-1.0, -1L)
    }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale_ladder"
    // optional comma-list of query names (default: the whole hot tier) —
    // big rungs (100×) measure a subset without paying the full sweep
    val wanted = if (args.length > 2) args(2).split(",").toSeq else hotQueries
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkEntry.localCpus
    val spark = SparkEntry.localBuilder()
      // The ladder's whole point is N× data on a FIXED harness, and a real
      // cluster never runs an N×-sized shuffle into a 1×-sized partition
      // count: let AQE size reduce stages by bytes instead of pinning them
      // to `cpus`. With initialPartitionNum raised, small rungs coalesce
      // back to ~cpus (measured plans unchanged) while heavy-state stages
      // at 100×/1000× keep enough partitions that per-task aggregate state
      // stays bounded (round-14: x124's pack-body aggregate at 1000× needed
      // ~450 MB/task at 16 partitions and OOM'd; at AQE-chosen counts it
      // fits the same 8g heap).
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", 16L * cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // an already-synthesized outDir is reused (delete it to force a rebuild)
    // so iterating on the query list doesn't pay the ~11 s synth each run
    val (synthSec, _) = SparkEntry.timed {
      if (!new java.io.File(s"$out/events.parquet").exists()) synthesize(spark, base, out, factor)
    }
    Bench.calibrate(spark) // untimed JIT warm-up
    println(s"""{"ladder":"synth","factor":$factor,"base":"$base","sec":${d3(synthSec)},""" +
      s""""calibration_sec":${d3(Bench.calibrate(spark))}}""")

    val defs = SparkEntry.defs.filter(q => wanted.contains(q.name))
    defs.foreach { q =>
      // Each rung measures ONE query on a quiet session: drop every cached
      // plan and persisted RDD the previous query left behind
      // (localCheckpoint blocks, notably). At 1× the leftovers are noise;
      // at 1000× they are gigabytes, and a multi-query ladder run was
      // measured dying of execution-memory starvation on queries that run
      // clean solo (round-14: x03 after x34/x50/q10).
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val (t1, r1) = time2(q, spark, base)
      val (tN, rN) = time2(q, spark, out)
      // linearity: time ratio over the input ratio; ≤ ~1 means the query
      // scaled at-most-linearly on this rung (host noise rides the
      // calibration column, read it like Bench's)
      val lin = if (t1 > 0 && tN > 0) tN / (t1 * factor) else -1.0
      println(s"""{"ladder":"${q.name}","sec_1x":${d3(t1)},"sec_${factor}x":${d3(tN)},""" +
        s""""rows_1x":$r1,"rows_${factor}x":$rN,"linearity":${d3(lin)},""" +
        s""""calibration_sec":${d3(Bench.calibrate(spark))}}""")
    }
    spark.stop()
  }
}
