package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.ml.PzModel
import graft.nfl.{Epa, NflIngest, NflPipeline, NflSchemas, NflSynth, Rankings}

/** A workload: inputs built in set-up, then passes made of layer calls, all
  * from one caller thread. */
trait Workload {
  /** Builds the inputs into a fresh directory named by `round` and checks
    * them; the inputs of the last round are the ones the passes read. */
  def prepare(round: Int): Unit

  /** Passes set-up runs before any is measured. The first passes of a fresh
    * JVM run slower while the JIT compiles; the measured ones should not. */
  def warmupPasses: Int

  /** Passes measured even when fewer would fit in `--seconds`, so that the
    * count does not flip with host speed. */
  def minPasses: Int

  /** One pass. Every call into the program goes through `rec`. */
  def pass(rec: Recorder): Unit
}

object Workload {
  val names: Seq[String] = Seq("nfl_paper", "registry_chain")

  /** The dedup-chain consumers whose r21 slowdown is unresolved. Each runs
    * the chain's whole CC loop; the other eleven consumers repeat it. */
  val chainQueries: Seq[String] = Seq("x134", "x136", "x156")

  def apply(name: String, spark: SparkSession, dataDir: String, workDir: String,
      seed: Long): Workload = name match {
    case "nfl_paper" => new NflPaper(spark, workDir, seed)
    case "registry_chain" => new Registry(spark, dataDir, chainQueries, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${names.mkString(", ")})")
  }
}

/** Registry queries at sf0.01, in an order the seed permutes. Each query is
  * two calls: `QueryDef.run` (the build, which runs the chain's eager jobs)
  * and the noop write (the execute). The write also observes the row count
  * and an order-independent hash of the rows, so the check costs no job. */
final class Registry(spark: SparkSession, dataDir: String, prefixes: Seq[String], seed: Long)
    extends Workload {

  private val expected = Expected.load(s"$dataDir/expected_rows.json")

  // on 4 cpus the first pass takes about 16 s, the second about 9 s, and
  // later ones 6-10 s, still falling by a few % a pass
  val warmupPasses = 2
  val minPasses = 2

  private val defs = {
    val picked = SparkEntry.defs.filter(d => prefixes.contains(d.name.takeWhile(_ != '_')))
    require(picked.size == prefixes.size,
      s"registry has ${picked.map(_.name)} for ${prefixes.mkString(" ")}")
    new Random(seed).shuffle(picked)
  }

  def prepare(round: Int): Unit =
    for ((table, rows) <- expected.tables) {
      val n = spark.read.parquet(s"$dataDir/$table.parquet").count()
      require(n == rows, s"input $table has $n rows, expected $rows")
    }

  def pass(rec: Recorder): Unit = for (q <- defs) {
    rec.call("queries.build", q.name)(q.run(spark, dataDir)).foreach { df =>
      val obs = Observation(s"check_${q.name}")
      val observed = df.observe(obs, count(lit(1)).as("rows"),
        sum(pmod(Registry.rowHash(df), lit(Registry.HashMod))).as("hash"))
      rec.call("queries.execute", q.name) {
        observed.write.format("noop").mode("overwrite").save()
      }.foreach { _ =>
        val m = obs.get
        val rows = m("rows").asInstanceOf[Long]
        val hash = Option(m("hash")).map(_.toString).getOrElse("empty")
        rec.check(s"${q.name} rows $rows == ${expected.queries(q.name)}")(
          rows == expected.queries(q.name))
        rec.same(s"${q.name} content hash", hash)
      }
    }
  }
}

object Registry {
  val HashMod: Long = Int.MaxValue.toLong

  def rowHash(df: DataFrame): Column = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
}

/** Expected row counts of the committed sf0.01 inputs and of each query on
  * them (the `spark_rows` of the oracle-checked correctness artifact). */
final case class Expected(tables: Map[String, Long], queries: Map[String, Long])

object Expected {
  def load(path: String): Expected = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))
    def section(name: String): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      node.get(name).properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    }
    Expected(section("tables"), section("queries"))
  }
}

/** NflSynth input slice written the way the reference reads it: weekly
  * tracking CSVs under one glob (DL:20-22), the pff/plays/players CSVs in
  * NflSchemas column order, and a synthetic nflfastR play-by-play parquet
  * (EPA:3). The seed picks which block of `games` consecutive game ids the
  * slice holds; CSV fed, the pipeline's plans repeat exactly from pass to
  * pass, which lazily generated frames did not. */
final class NflInputs(spark: SparkSession, workDir: String, seed: Long) {
  val games = 16
  val playsPerGame = 20
  val weeks = 8
  private val slice = java.lang.Math.floorMod(seed, 8L)
  private val firstGame = slice * games + 1
  private val lastGame = firstGame + games - 1
  private var dir = ""

  private def inSlice(df: DataFrame): DataFrame =
    df.filter(col("gameId").between(firstGame, lastGame))

  private def ordered(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fieldNames.toIndexedSeq.map(col): _*)

  private def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.option("header", "true").mode("overwrite").csv(path)

  def prepare(round: Int): Unit = {
    dir = s"$workDir/inputs-$round"
    val n = lastGame.toInt // NflSynth makes games 1..n; the slice keeps the last block
    val pff = inSlice(NflSynth.pff(spark, n, playsPerGame))
    val plays = inSlice(NflSynth.plays(spark, n, playsPerGame))
    // one CSV per week directory; the glob reads them back without a week column
    ordered(inSlice(NflSynth.tracking(spark, n, playsPerGame)), NflSchemas.tracking)
      .withColumn("week", pmod(col("gameId") - 1, lit(weeks)) + 1)
      .repartition(weeks, col("week"))
      .write.partitionBy("week").option("header", "true").csv(s"$dir/tracking")
    writeCsv(ordered(pff, NflSchemas.pff), s"$dir/pffScoutingData.csv")
    writeCsv(ordered(plays, NflSchemas.plays), s"$dir/plays.csv")
    writeCsv(ordered(NflSynth.players(spark), NflSchemas.players), s"$dir/players.csv")
    def jitter(salt: Int): Column =
      (pmod(xxhash64(col("gameId"), col("playId"), lit(salt)), lit(2001L)) - 1000) / 500.0
    plays.select(
      col("playId").as("play_id"), col("gameId").cast("string").as("old_game_id"),
      concat(lit("OFF"), pmod(col("gameId"), lit(32))).as("posteam"),
      concat(lit("DEF"), pmod(col("gameId"), lit(32))).as("defteam"),
      jitter(1).as("epa"), (jitter(2) / 10).as("wpa"), jitter(3).as("air_epa"),
      jitter(4).as("yac_epa"), lit("REG").as("season_type"), lit(1).as("pass"))
      .coalesce(1).write.mode("overwrite").parquet(pbpPath)

    val nPlays = games.toLong * playsPerGame
    val want = Map("tracking" -> nPlays * 10 * 20, "pff" -> nPlays * 10, "plays" -> nPlays,
      "players" -> 100L, "pbp" -> nPlays)
    // one job counts every table as read back
    val got = Seq(
      "tracking" -> NflIngest.readTracking(spark, trackingGlob),
      "pff" -> NflIngest.readPff(spark, pffPath),
      "plays" -> NflIngest.readPlays(spark, playsPath),
      "players" -> NflIngest.readPlayers(spark, playersPath),
      "pbp" -> NflIngest.readPbp(spark, pbpPath))
      .map { case (name, df) => df.select(lit(name).as("table")) }
      .reduce(_ unionByName _).groupBy("table").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(got == want, s"inputs read back with rows $got, expected $want")
    val cols = NflIngest.readTracking(spark, trackingGlob).columns.toSeq
    require(cols == NflSchemas.tracking.fieldNames.toSeq, s"tracking reads back as $cols")
  }

  def trackingGlob: String = s"$dir/tracking/week=*/*.csv"
  def pffPath: String = s"$dir/pffScoutingData.csv"
  def playsPath: String = s"$dir/plays.csv"
  def playersPath: String = s"$dir/players.csv"
  def pbpPath: String = s"$dir/pbp.parquet"
}

/** The paper's pipeline DL→MB→MC→MO→EPA, one call per layer. */
final class NflPaper(spark: SparkSession, workDir: String, seed: Long) extends Workload {
  private val inputs = new NflInputs(spark, workDir, seed)
  private val label = PzModel.labelCol

  // the second pass already runs within a few % of later ones on 4 cpus;
  // the cold JVM is warmed by the input rounds before it
  val warmupPasses = 1
  val minPasses = 1

  def prepare(round: Int): Unit = inputs.prepare(round)

  def pass(rec: Recorder): Unit = {
    val dl = rec.call("nfl.ingest") {
      val plays = NflIngest.readPlays(spark, inputs.playsPath)
      val players = NflIngest.readPlayers(spark, inputs.playersPath)
      val p = new NflPipeline(NflIngest.readTracking(spark, inputs.trackingGlob),
        NflIngest.readPff(spark, inputs.pffPath), plays, players)
      (p, plays, players, p.mainDf.count())
    }
    for ((p, plays, players, mainRows) <- dl) try {
      rec.same("main_df rows", mainRows)
      val rushers = rec.call("nfl.metric")(p.rushersFinal.count())
      rushers.foreach { n =>
        rec.check("rushersFinal is not empty")(n > 0)
        rec.same("rushersFinal rows", n)
      }
      val scored = rec.call("ml.score") {
        val (_, s) = PzModel.scoreResiduals(p.rushersFinal, "rf", seed)
        val withCtx = PzModel.attachContext(s, players, plays)
        val r = withCtx.agg(count(lit(1)),
          sum(when(col("dPZs") === col(label) - col("xPZs"), 0).otherwise(1))).head()
        (withCtx, r.getLong(0), r.getLong(1))
      }
      for ((withCtx, n, mismatches) <- scored) {
        rec.check(s"scored rows $n == rushersFinal rows")(rushers.contains(n))
        rec.check(s"dPZs = label - xPZs on every row ($mismatches differ)")(mismatches == 0)
        rec.call("nfl.rankings") {
          val blockers = PzModel.blockersWithResidual(p.blockersWithMetric, withCtx, players)
          // the reference's 50-rush and 50-snap floors fit a season; at
          // this slice size they would leave the rankings empty
          Seq(Rankings.rusherRankings(withCtx, minAttempts = 1L),
            Rankings.teamRushRankings(withCtx),
            Rankings.blockerRankings(blockers, minSnapsExclusive = 0L),
            Rankings.teamBlockerRankings(blockers)).map(_.collect().length)
        }.foreach(ns => rec.check(s"four non-empty rankings $ns")(ns.forall(_ > 0)))
      }
      rec.call("nfl.epa") {
        val epa = Epa.cleanPbp(NflIngest.readPbp(spark, inputs.pbpPath))
        Epa.teamPzEpa(Epa.pzPerPlay(p.rushersFinal, epa)).collect().length
      }.foreach(n => rec.check(s"EPA team table has $n rows")(n > 0))
    } finally p.unpersistAll()
  }
}
