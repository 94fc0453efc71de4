package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.broadcast

import graft.SparkEntry.timed

/** Scale soak for the x99 BPE merge kernel, separating its two cost axes:
  *
  *  - CORPUS ladder (vocab fixed, occurrences ×4 per step): only the
  *    initial word-count stage sees more rows, so total time should grow
  *    far slower than the corpus — the iterations run on the DISTINCT-word
  *    vocabulary and never touch the corpus again.
  *  - VOCAB ladder (occurrences fixed, distinct words ×4 per step): the
  *    iterations' own input grows, so time should track vocab roughly
  *    linearly — the honest cost axis of BPE training.
  *
  * Each run synthesizes documents.parquet in a temp dir (50 words/doc,
  * splitmix-derived 8-letter words — deterministic, collision-mixed across
  * the id space) and times the WHOLE 3-merge x99 query end to end.
  *
  * Plus the ENCODE ladder (x103's `graft_bpe_tokens` kernel) on the merge-
  * count axis k ∈ {3, 300, 3000}: a fixed corpus encoded with trained-shape
  * k-merge tables, timing the per-pass SCAN form, the heap-of-pairs form,
  * and the shipped dispatch end to end through Spark. The claim under test
  * is the production-scale one: heap per-doc cost is ~FLAT in k (the heap
  * does O(len·log len) work regardless of table size) while the scan form
  * grows ~linearly in k — at a real 32k-merge vocab only the heap form is
  * viable, and the dispatch picks it.
  *
  * `runMain graft.BpeSoak [vocab] [occurrences]` — defaults 20000, 1000000
  * for the ladder base; `runMain graft.BpeSoak encode` runs only the encode
  * ladder. Prints one JSON line per ladder point plus Bench-style
  * calibration samples.
  */
object BpeSoak {
  final case class Doc(doc_id: Long, text: String)

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def word(id: Long): String = {
    val h = mix64(id)
    val sb = new StringBuilder(8)
    var x = h
    (0 until 8).foreach { _ =>
      sb += ('a' + java.lang.Long.remainderUnsigned(x, 26L).toInt).toChar
      x = x >>> 5 | x << 59
    }
    sb.result()
  }

  /** A k-merge table in valid BPE shape (mirrors BpeEncodeSpec's
    * generator): each merge pairs two symbols from the pool built so far,
    * so later merges consume earlier products like a trained vocab. */
  private def syntheticMerges(k: Int, seed: Long): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val pool = scala.collection.mutable.ArrayBuffer[String]("a", "b", "c", "d")
    val seen = scala.collection.mutable.HashSet.empty[(String, String)]
    val out = Seq.newBuilder[(String, String)]
    var made = 0
    while (made < k) {
      val l = pool(rnd.nextInt(pool.length))
      val r = pool(rnd.nextInt(pool.length))
      if (l.length + r.length <= 12 && seen.add((l, r))) {
        out += ((l, r)); pool += l + r; made += 1
      }
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val encodeOnly = args.headOption.contains("encode")
    val baseVocab = if (!encodeOnly && args.length > 0) args(0).toInt else 20000
    val baseOcc = if (!encodeOnly && args.length > 1) args(1).toLong else 1000000L
    val spark = SparkEntry.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def synth(vocab: Int, occurrences: Long): String = {
      val dir = java.nio.file.Files.createTempDirectory("bpe-soak").toString
      val nDocs = occurrences / 50
      spark.range(nDocs).map { d =>
        val toks = (0 until 50).map(k =>
          word(java.lang.Long.remainderUnsigned(mix64(d * 50 + k), vocab.toLong)))
        Doc(d, toks.mkString(" "))
      }(Encoders.product[Doc]).toDF()
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    def runPoint(tag: String, vocab: Int, occ: Long): Unit = {
      val dir = synth(vocab, occ)
      val calib0 = Bench.calibrate(spark)
      val (sec, _) = timed {
        graft.queries.TextQueries.bpeMerges.run(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      val calib1 = Bench.calibrate(spark)
      def d3(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
      println(s"""{"soak":"bpe","ladder":"$tag","vocab":$vocab,""" +
        s""""occurrences":$occ,"merge3_sec":${d3(sec)},""" +
        s""""calibration_sec":[${d3(calib0)},${d3(calib1)}]}""")
    }
    Bench.calibrate(spark) // untimed JIT warm-up

    if (!encodeOnly) {
      runPoint("corpus", baseVocab, baseOcc)
      runPoint("corpus", baseVocab, baseOcc * 4)
      runPoint("corpus", baseVocab, baseOcc * 16)
      runPoint("vocab", baseVocab, baseOcc * 4)
      runPoint("vocab", baseVocab * 4, baseOcc * 4)
      runPoint("vocab", baseVocab * 16, baseOcc * 4)
    }

    // ---- ENCODE ladder: per-doc cost vs merge count k -------------------
    def d3(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val encRnd = new scala.util.Random(20260814L)
    val alphabet = "aabbccd" // heavy repeats so deep merge chains fire
    val nDocs = 2000
    val docs: Array[String] = Array.fill(nDocs)(
      Seq.fill(50)(Seq.fill(encRnd.nextInt(20) + 4)(
        alphabet(encRnd.nextInt(alphabet.length))).mkString).mkString(" "))
    val docsDf = spark.createDataset(
      docs.toIndexedSeq.zipWithIndex.map { case (t, i) => Doc(i.toLong, t) }
    )(Encoders.product[Doc]).toDF().repartition(SparkEntry.localCpus).cache()
    docsDf.count()
    // k = 30000 is a real production vocab size: heap + dispatch only (the
    // scan form would be ~60 ms/doc there — the point of the dispatch)
    Seq(3, 300, 3000, 30000).foreach { k =>
      val fl = syntheticMerges(k, seed = 99L)
        .flatMap(p => Seq(p._1, p._2)).mkString(" ")
      def kernelSec(heap: Boolean): Double = {
        docs.take(200).foreach(d => graft.functions.BpeEncode.tokensPath(d, fl, heap))
        timed(docs.foreach(d => graft.functions.BpeEncode.tokensPath(d, fl, heap)))._1
      }
      val heapSec = kernelSec(heap = true)
      val scanUs =
        if (k > 3000) "null" else d3(kernelSec(heap = false) / nDocs * 1e6)
      val calib0 = Bench.calibrate(spark)
      // merges ride a broadcast 1-row frame, the x103 artifact posture
      val mergesDf = broadcast(spark.createDataset(Seq(fl))(Encoders.STRING)
        .toDF("merges"))
      val (sparkSec, _) = timed {
        docsDf.crossJoin(mergesDf)
          .selectExpr("graft_bpe_tokens(text, merges) AS toks")
          .write.format("noop").mode("overwrite").save()
      }
      println(s"""{"soak":"bpe","ladder":"encode","k":$k,"n_docs":$nDocs,""" +
        s""""per_doc_us_scan":$scanUs,""" +
        s""""per_doc_us_heap":${d3(heapSec / nDocs * 1e6)},""" +
        s""""spark_dispatch_sec":${d3(sparkSec)},""" +
        s""""calibration_sec":[${d3(calib0)}]}""")
    }

    // ---- TRAIN-K ladder: production-k training over a production-shaped
    // vocabulary (the shipped test corpora have ~31 distinct words — too
    // small to sustain deep vocabularies). 20k distinct words, 4-16 chars
    // over a 7-letter alphabet (deep merge chains fire), Zipf-ish weights.
    // graft.operators.BpeTrainer = one Spark word-count job + driver-local
    // incremental merge loop; the x99 formulation is one Spark ROUND per
    // merge, so this must stay seconds at k = 3000, not 3000 jobs.
    {
      val wrnd = new scala.util.Random(7L)
      val walpha = "aabbccd"
      val wc = (0 until 20000).map { id =>
        (Seq.fill(wrnd.nextInt(13) + 4)(walpha(wrnd.nextInt(walpha.length))).mkString,
          1L + 20000L / (id + 1))
      }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toSeq
      Seq(3, 300, 3000, 30000).foreach { k =>
        val (sec, ms) = timed(graft.operators.BpeTrainer.train(wc, k))
        println(s"""{"soak":"bpe","ladder":"train","k":$k,"vocab":${wc.size},""" +
          s""""merges_learned":${ms.length},"train_sec":${d3(sec)}}""")
      }
    }
    spark.stop()
  }
}
