package graft

import org.apache.spark.sql.functions._

import graft.SparkEntry.timed

/** Scale soak for the triangle kernel ([[graft.operators.Triangles]], the
  * x96 engine): measures BOTH edge orientations on a synthesized graph
  * whose structure is the kernel's worst food — a random background, a
  * planted HUB (one node with `hubDeg` spokes; hub id = 0, the worst case
  * for id-orientation because every spoke becomes an out-edge and the hub
  * emits deg² wedges), and planted 4-cliques so the triangle count is
  * non-trivial and exactly known (4 triangles per planted clique from the
  * clique edges alone).
  *
  * The claim under measurement (x96 scaladoc): degree orientation bounds
  * per-node wedge fan-out at O(√|E|), so the hub contributes ZERO wedges
  * degree-oriented, vs `hubDeg²` id-oriented — the ladder should show the
  * id-oriented time blowing up with hubDeg while the degree-oriented time
  * tracks |E| and is hub-insensitive. Both variants must return identical
  * tallies (asserted on hub degree + total triangle participation).
  *
  * `runMain graft.GraphSoak [nNodes] [hubDeg]` — defaults 200000, 3000.
  * Prints one JSON line with per-variant timings, the wedge counts that
  * explain them, and Bench-style calibration samples.
  */
object GraphSoak {
  def main(args: Array[String]): Unit = {
    val nNodes = if (args.length > 0) args(0).toInt else 200000
    val hubDeg = if (args.length > 1) args(1).toInt else 3000
    val spark = SparkEntry.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // background: 3·n pseudo-random edges (xxhash64-derived endpoints,
    // self-loops dropped, canonicalized a < b); hub: node 0 → spokes
    // 1..hubDeg; cliques: n/100 planted 4-cliques over dedicated ids above
    // the background range so their 6 edges each are guaranteed present
    val n = nNodes.toLong
    val bg = spark.range(3L * n)
      .select(
        (abs(xxhash64(col("id"), lit("a"))) % n).as("x"),
        (abs(xxhash64(col("id"), lit("b"))) % n).as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
    val hub = spark.range(1L, hubDeg + 1L)
      .select(lit(0L).as("a"), col("id").as("b"))
    val nCliques = n / 100
    val cliqueBase = 10L * n // id range disjoint from the background
    val cliques = spark.range(nCliques)
      .select(explode(array((0 until 4).flatMap(i => (i + 1 until 4).map(j =>
        struct((lit(cliqueBase) + col("id") * 4 + lit(i.toLong)).as("a"),
          (lit(cliqueBase) + col("id") * 4 + lit(j.toLong)).as("b")))): _*)).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val edges = bg.unionAll(hub).unionAll(cliques).distinct()
      .localCheckpoint(eager = true)
    val nEdges = edges.count()

    val calibration = scala.collection.mutable.ArrayBuffer.empty[Double]
    Bench.calibrate(spark) // untimed JIT warm-up
    calibration += Bench.calibrate(spark)

    import graft.operators.Triangles
    // one untimed warm-up of the shared prefix (checkpointed edges scan)
    edges.write.format("noop").mode("overwrite").save()
    val (degSec, _) = timed {
      Triangles.tallies(edges, orientByDegree = true)
        .write.format("noop").mode("overwrite").save()
    }
    calibration += Bench.calibrate(spark)
    val (idSec, _) = timed {
      Triangles.tallies(edges, orientByDegree = false)
        .write.format("noop").mode("overwrite").save()
    }
    calibration += Bench.calibrate(spark)

    // identical-tallies check (the two traversals must agree), plus the
    // planted-structure accounting that makes the row self-validating
    val a = Triangles.tallies(edges, orientByDegree = true)
    val b = Triangles.tallies(edges, orientByDegree = false)
    val diff = a.join(b.withColumnRenamed("n_tri", "n_tri_id"), Seq("node"))
      .filter(col("n_tri") =!= col("n_tri_id")).count()
    val hubRow = a.filter(col("node") === 0L).select("deg", "n_tri").head()
    val triSum = a.agg(sum("n_tri")).head().getLong(0)

    def d3(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    println(s"""{"soak":"graph-triangles","n_nodes":$nNodes,"hub_deg":$hubDeg,""" +
      s""""n_edges":$nEdges,"n_cliques":$nCliques,""" +
      s""""degree_oriented_sec":${d3(degSec)},"id_oriented_sec":${d3(idSec)},""" +
      s""""tally_mismatches":$diff,"hub_deg_seen":${hubRow.getLong(0)},""" +
      s""""hub_tri":${hubRow.getLong(1)},"tri_participation_sum":$triSum,""" +
      s""""calibration_sec":${calibration.map(d3).mkString("[", ",", "]")}}""")
    spark.stop()
    if (diff != 0) sys.exit(1)
  }
}
