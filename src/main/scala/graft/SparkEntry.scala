package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CoreQueries, EventsQueries, MediaQueries, QueryDef, SimilarityQueries, TextQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All registered engine queries (core oracle set + extensions). */
  def defs: Seq[QueryDef] =
    CoreQueries.all ++ TextQueries.all ++ SimilarityQueries.all ++ EventsQueries.all ++
      MediaQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q08.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Cores for a local session: `SPARK_GRAFT_CPUS`, else min(32, nproc). */
  def localCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** The local-session recipe every main shares: `local[cpus]` with the
    * graft extensions, one shuffle partition per core and the UI off.
    * Callers add their own confs, then `getOrCreate()`. */
  def localBuilder(): SparkSession.Builder = {
    val cpus = localCpus
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
  }

  /** Wall seconds of `f`, with its result. */
  def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }
}
