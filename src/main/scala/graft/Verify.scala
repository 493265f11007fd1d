package graft
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs on the
  * session Bench times (`GraftSession.fromEnv`: SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_MASTER — `local-cluster[2,2,2048]` runs the whole oracle
  * gate with real separate executor JVMs — and SPARK_GRAFT_EXTRA_CONF).
  */
object Verify {
  /** The session writes TimestampType as INT64 micros adjusted to UTC,
    * which parquet readers surface as a zoned type; the oracles' TIMESTAMP
    * is naive. Result files carry the same UTC wall clock as naive
    * TIMESTAMP_NTZ micros, so both sides read back as one type.
    */
  private[graft] def naiveTimestamps(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      if (f.dataType == TimestampType) c.cast(TimestampNTZType).as(f.name) else c
    }: _*)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY="q153_,q154_" dumps just those queries.
    val queries = SparkEntry.selected(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = GraftSession.fromEnv("graft-verify")
    val outFs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    outFs.mkdirs(new Path(outDir))
    queries.foreach { case (name, fn) =>
      try naiveTimestamps(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val out = outFs.create(new Path(s"$outDir/oracle_sql.json"), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    spark.stop()
  }
}
