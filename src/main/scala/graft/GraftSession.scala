package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions

/** The one place a SparkSession is configured: users, the mains
  * (`Verify`, `Bench`, `PlanDump`), the test suite and perfbench all start
  * Spark here, so the oracle certifies the configuration the benches time.
  *
  *   val spark = GraftSession.build()            // local[all cores]
  *   val spark = GraftSession.build("local[32]", shufflePartitions = 32)
  *   val spark = GraftSession.fromEnv("graft-bench") // the mains' env contract
  *
  * Sets UTC (oracle/DuckDB parity and the reference's Z-normalized
  * timestamps), AQE with skew-join handling and size-first partition
  * coalescing, shuffle partitions sized to the actual parallelism (never
  * the 200 default), and registers the engine's custom SQL functions.
  */
object GraftSession {

  private val cores = Runtime.getRuntime.availableProcessors()

  def build(master: String = s"local[$cores]",
            shufflePartitions: Int = cores,
            appName: String = "graft"): SparkSession =
    session(Settings(master, shufflePartitions, Nil), appName)

  /** [[build]] under the mains' environment: see [[settings]]. */
  def fromEnv(appName: String): SparkSession = session(settings(sys.env), appName)

  /** What a session is started with beyond the certified configuration. */
  final case class Settings(master: String, shufflePartitions: Int,
                            extraConf: Seq[(String, String)])

  /** The mains' env contract, as a pure function of the environment:
    *  - `SPARK_GRAFT_CPUS`: task slots and shuffle partitions (default: all
    *    cores);
    *  - `SPARK_GRAFT_MASTER`: overrides `local[<cpus>]`, e.g.
    *    `local-cluster[2,2,2048]` for the multi-JVM gate (set SPARK_HOME and
    *    SPARK_SCALA_VERSION for the worker launcher);
    *  - `SPARK_GRAFT_EXTRA_CONF`: `k=v;k=v` config experiments without
    *    recompiling, applied after (so over) the certified configuration.
    */
  def settings(env: Map[String, String]): Settings = {
    val cpus = env.get("SPARK_GRAFT_CPUS").fold(cores) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }
    Settings(env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus,
      env.get("SPARK_GRAFT_EXTRA_CONF").fold(Seq.empty[(String, String)])(parseExtraConf))
  }

  /** `"k=v;k=v"` → ordered pairs. Entries are trimmed and empty ones
    * skipped; an entry without a key fails with its text.
    */
  def parseExtraConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
      }
    }

  private def certified(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Respect the AQE advisory target size when coalescing shuffle
    // partitions instead of maximizing parallelism: most stages shuffle
    // kilobytes, and one near-empty reducer per core is pure scheduling
    // overhead (Spark's AQE docs recommend this for production).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.parquet.filterPushdown" -> "true",
    // Spark's default parquet timestamp encoding is INT96, which has NO
    // usable min/max statistics — every timestamp-bounded scan over a
    // table WE wrote (medallion fact horizon slices, z-ordered layouts)
    // would silently lose row-group pruning on the time dimension
    // (measured: the ZOrderSpec 2-D slice read 3× the row groups under
    // INT96). INT64 micros carries full stats and is the modern
    // cross-engine interchange type.
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    // An events table whose ts is TIMESTAMP(NANOS) is only readable as a
    // raw long under this flag. Tables.load detects the on-disk encoding
    // from the footer and only takes the raw-long path when it actually
    // sees NANOS; the flag is harmless for MICROS/MILLIS/INT96 generations.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** For `local-cluster` masters the executor JVMs are separate processes
    * that do NOT inherit the driver's classpath — point them at the
    * engine's own compiled classes. Resolved from this class's code source
    * so the mains work from any cwd; the sbt-layout path is only the
    * fallback when the code source is not a plain file (a REPL-defined
    * loader, a jar-in-jar launcher).
    */
  private def executorClasses(master: String): Seq[(String, String)] =
    if (!master.startsWith("local-cluster")) Nil
    else Seq("spark.executor.extraClassPath" -> scala.util.Try(
      new java.io.File(getClass.getProtectionDomain.getCodeSource
        .getLocation.toURI).getAbsolutePath)
      .getOrElse(new java.io.File("target/scala-2.13/classes").getAbsolutePath))

  private def session(s: Settings, appName: String): SparkSession = {
    val builder = SparkSession.builder().master(s.master).appName(appName)
    (certified(s.shufflePartitions) ++ executorClasses(s.master) ++ s.extraConf)
      .foreach { case (k, v) => builder.config(k, v) }
    // On a running session getOrCreate re-applies the runtime-settable
    // entries above and keeps the rest (master, ui) as they were.
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(spark)
    spark
  }
}
