package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.queries.TextQueries
import graft.SparkEntry.timed

/** Scale soak for the near-dup dedup path (x03) and the hierarchical
  * cluster stage (x26): generates a corpus with planted exact-dup
  * mega-groups AND mutation CHAINS (doc m is doc m-1 with two more tokens
  * replaced — adjacent pairs are near-dups, chain ends are not), so the
  * exact-dup pre-collapse, the band join, and the hash-min CC loop all get
  * their worst food: skewed identical groups and components whose diameter
  * forces multiple label-propagation rounds. Round-10 stages: the x70
  * Bloom membership steady state (bitmap build + row-local probe) and the
  * x69 weighted-PageRank iteration over the verified pair graph.
  *
  * Stages run from the DURABLE signature artifact (sortedParquet, the
  * saveMinhashIndex boundary) rather than an in-heap localCheckpoint —
  * the production form at cluster scale, and the difference matters in
  * local mode too: raw checkpoint rows of a 1M-doc signature table made
  * the single 8 g JVM GC-bound (pairs 182 s; 90 s at 48 g), while the
  * storage boundary keeps the heap flat. build_sec is the one-time
  * sketch+write; every other stage reads the artifact. The final stage
  * pair measures the BUCKETED probe steady state: band_build_sec writes
  * the saveBandIndex managed table once, probe_bucketed_sec probes the
  * same batch through it with zero corpus-side exchange (vs probe_sec,
  * which re-derives + re-shuffles corpus band rows on every probe).
  *
  * `runMain graft.DedupSoak [nBase] [copies] [chainLen]` — defaults
  * 5000 × (10 exact copies + 6-mutation chain) ≈ 80k docs. Prints one JSON
  * line with stage timings and cluster accounting.
  */
object DedupSoak {
  final case class Doc(doc_id: Long, text: String)

  def main(args: Array[String]): Unit = {
    val nBase = if (args.length > 0) args(0).toInt else 5000
    val copies = if (args.length > 1) args(1).toInt else 10
    val chainLen = if (args.length > 2) args(2).toInt else 6
    val perBase = copies + chainLen
    val nTok = 60
    val spark = SparkEntry.localBuilder()
      // the bucketed-band stage writes a managed table; keep it off the repo
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("dedup-soak-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // deterministic generator: base tokens from a 500-word vocab; chain
    // mutation m replaces the first 2m tokens with chain-local tokens
    val docs = spark.range(nBase.toLong * perBase).map { i =>
      val base = i / perBase
      val slot = (i % perBase).toInt
      val m = math.max(slot - copies + 1, 0) // 0 for exact copies, 1..chainLen for chain
      // base-scoped vocabulary: cross-base docs share no tokens, so the
      // planted structure (copies + chain) is exactly what the pipeline
      // must find — an unscoped vocab cycles and aliases whole documents
      val toks = (0 until nTok).map { t =>
        if (t < 2 * m) s"b${base}c$t" else s"b${base}w${(t * 7) % 97}"
      }
      Doc(i, toks.mkString(" "))
    }(Encoders.product[Doc]).toDF().persist()
    val nDocs = docs.count()
    // host-capacity calibration (Bench.calibrate): sampled before the
    // stages, between clusters and probe, and at the end — a soak row is
    // only comparable across rounds when its calibration samples match
    // (this box swings ~6× under contention; see the PLANS.md noise note)
    val calibration = scala.collection.mutable.ArrayBuffer.empty[Double]
    Bench.calibrate(spark) // untimed JIT warm-up
    calibration += Bench.calibrate(spark)
    // one-time sketch + durable artifact write (the saveMinhashIndex form)
    val idx = java.nio.file.Files.createTempDirectory("dedup-soak").toString + "/sigs"
    val (tBuild, _) = timed {
      graft.sources.Sinks.sortedParquet(
        TextQueries.minhashSignaturesOf(docs), idx, Seq("doc_id"))
    }
    // x03 pipeline from the artifact: banded pair join + exact verify
    val (tPairs, nPairs) = timed {
      TextQueries.dedupMinhashFromIndex(spark, idx).count()
    }
    // x26 stage: CC to fixpoint + MinHashUnion cluster signatures
    val (tClusters, stats) = timed {
      val sigs = spark.read.parquet(idx)
      val pairs = TextQueries.minhashPairs(sigs).select("doc_a", "doc_b")
        .localCheckpoint(eager = false)
      val labels = TextQueries.connectedReps(sigs.select("doc_id"), pairs)
      spark.udf.register("graft_minhash_union",
        org.apache.spark.sql.functions.udaf(new graft.functions.MinHashUnion(32)))
      val clusters = labels.join(sigs, Seq("doc_id"))
        .groupBy("rep")
        .agg(count(lit(1)).as("n"), expr("graft_minhash_union(sig)").as("csig"))
      val agg = clusters.agg(count(lit(1)), max("n"), sum("n")).head()
      (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    }
    calibration += Bench.calibrate(spark)
    // steady-state probe: a 1000-doc ingest batch (half near-dup mutations
    // of corpus docs, half fresh) checked against the durable signature
    // artifact — the x37 shape, timed at THIS corpus size so the scaling
    // row records how probe cost grows with the index, not just the build
    val corpusSigs = spark.read.parquet(idx)
    val batch = spark.range(1000L).map { i =>
      val base = i % nBase // near-dup of base doc: 2 tokens replaced
      val toks = (0 until nTok).map { t =>
        if (i % 2 == 0 && t < 2) s"p${i}c$t"            // near-dup probe
        else if (i % 2 == 0) s"b${base}w${(t * 7) % 97}" // ...of base's vocab
        else s"fresh${i}t$t"                             // fresh doc: no hits
      }
      Doc(1000000000L + i, toks.mkString(" "))
    }(Encoders.product[Doc]).toDF()
    val (tProbe, nProbeHits) = timed {
      TextQueries.nearDupProbe(batch, corpusSigs, threshold = 0.5).count()
    }
    calibration += Bench.calibrate(spark)
    // bucketed steady state: the saveBandIndex managed table pre-clusters
    // the corpus band rows on the join key at write time, so the SAME
    // probe batch joins with zero corpus-side exchange (band_build_sec is
    // the one-time artifact write; probe_bucketed_sec is what every later
    // ingest batch pays — compare against probe_sec, which re-derives and
    // re-shuffles the corpus band rows per probe)
    val (tBandBuild, _) = timed {
      TextQueries.saveBandIndex(corpusSigs, "soak_bands")
    }
    val (tProbeBucketed, nProbeBucketedHits) = timed {
      TextQueries.nearDupProbeWithBands(batch, spark.table("soak_bands"),
        corpusSigs, threshold = 0.5).count()
    }
    calibration += Bench.calibrate(spark)
    // x70 bloom stages: fold the corpus BoW keys ONCE into a fixed bitmap
    // (bloom_build_sec), then check a 1000-doc ingest batch — half exact
    // copies of corpus docs (guaranteed members), half fresh — through the
    // row-local probe + broadcast verify (bloom_probe_sec). This is the
    // membership steady state an ingest pays instead of a corpus-sized
    // join; the ladder row proves build stays one linear scan and probe
    // stays flat as the corpus grows. Bitmap 2^23 bits (1 MB): at the 1M-doc
    // point (~440k distinct keys, k=4) FPR ≈ 1e-3 — probe cost is
    // bloom-bounded, not FP-bounded.
    val bloomM = 1 << 23
    def bowKey(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        array_join(array_sort(array_distinct(split(col("text"), " "))), " ").as("bk"))
    val corpusKeys = bowKey(docs).select("bk")
    val (tBloomBuild, bloomRow) = timed {
      TextQueries.bloomBuild(corpusKeys, "bk", bloomM).localCheckpoint(eager = true)
    }
    val bloomBatch = spark.range(1000L).map { i =>
      val toks =
        if (i % 2 == 0) (0 until nTok).map(t => s"b${i % nBase}w${(t * 7) % 97}") // member
        else (0 until nTok).map(t => s"bfresh${i}t$t") // non-member
      Doc(2000000000L + i, toks.mkString(" "))
    }(Encoders.product[Doc]).toDF()
    val (tBloomProbe, nBloomHits) = timed {
      TextQueries.bloomMembership(bowKey(bloomBatch), "bk", bloomRow, corpusKeys, bloomM)
        .filter(col("n_matches").isNotNull).count()
    }
    calibration += Bench.calibrate(spark)
    // x69 stage: Jaccard-weighted PageRank over the verified pair graph —
    // five fixed iterative join+aggregate rounds over |edges| rows; the
    // ladder row proves the iteration cost scales with the DUP GRAPH, not
    // the corpus (pairs come banded from the artifact, like the x26 CC)
    val (tPagerank, prStats) = timed {
      val pr = TextQueries.pagerankFromWeightedPairs(
        TextQueries.weightedPairs(corpusSigs))
      val a = pr.agg(count(lit(1)), max("pr")).head()
      (a.getLong(0), a.getDouble(1))
    }
    calibration += Bench.calibrate(spark)
    // substring-level stages at the same corpus: x60 diagnostic and x61 cut
    // transform. The planted copies+chain mass makes both non-vacuous (every
    // copy's windows duplicate; chain docs overlap partially), and the
    // window explode is ~nTok rows/doc — these rows prove the 8-byte-key
    // exchange plans stay linear where a hot-key or n² plan would blow up.
    val (tSubDup, nSubDupDocs) = timed {
      TextQueries.substringDupOf(docs).filter(col("dup_win") > 0).count()
    }
    // sum(length) forces the ordered reassembly of text_kept — the cut's
    // actual output — which a bare count() would let Catalyst prune
    val (tSubCut, subCutTokens) = timed {
      TextQueries.substringCutOf(docs)
        .agg(sum(length(col("text_kept"))), sum("n_cut")).head().getLong(1)
    }
    calibration += Bench.calibrate(spark)
    val heapGb = Runtime.getRuntime.maxMemory() / (1L << 30)
    val calib = calibration.map(c => // Locale.ROOT: comma-decimal hosts would emit invalid JSON
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(c))).mkString("[", ",", "]")
    println(s"""{"metric":"dedup_soak","docs":$nDocs,"base":$nBase,"heap_gb":$heapGb,""" +
      s""""copies":$copies,"chain_len":$chainLen,"build_sec":$tBuild,"pairs":$nPairs,""" +
      s""""pairs_sec":$tPairs,"clusters":${stats._1},"max_cluster":${stats._2},""" +
      s""""clustered_reps":${stats._3},"clusters_sec":$tClusters,""" +
      s""""probe_hits":$nProbeHits,"probe_sec":$tProbe,""" +
      s""""band_build_sec":$tBandBuild,"probe_bucketed_hits":$nProbeBucketedHits,""" +
      s""""probe_bucketed_sec":$tProbeBucketed,""" +
      s""""bloom_build_sec":$tBloomBuild,"bloom_hits":$nBloomHits,""" +
      s""""bloom_probe_sec":$tBloomProbe,""" +
      s""""pagerank_nodes":${prStats._1},"pagerank_max_pr":${prStats._2},""" +
      s""""pagerank_sec":$tPagerank,""" +
      s""""sub_dup_docs":$nSubDupDocs,"sub_dup_sec":$tSubDup,""" +
      s""""sub_cut_tokens":$subCutTokens,"sub_cut_sec":$tSubCut,""" +
      s""""calibration_sec":$calib}""")
    spark.stop()
  }
}
