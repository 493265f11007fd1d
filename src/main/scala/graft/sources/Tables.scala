package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampNTZType, TimestampType}

import graft.schema.Schemas

/** Table access layer over the driver testdata (S12) and JSON bronze files
  * (S5/S6/S7). Every read carries an explicit schema — no inference in the
  * engine path (SURVEY.md §1.3, §4.4).
  *
  * At cluster scale the same API points at a partitioned table root
  * (`.../fact_events/dt=.../media_id=...`); Catalyst partition pruning
  * replaces the reference's by-hand path construction
  * (REF wistia_transform_silver.py:24-26).
  */
object Tables {

  private val schemas: Map[String, StructType] = Map(
    "region" -> Schemas.region,
    "nation" -> Schemas.nation,
    "customer" -> Schemas.customer,
    "supplier" -> Schemas.supplier,
    "part" -> Schemas.part,
    "orders" -> Schemas.orders,
    "lineitem" -> Schemas.lineitem,
    "events" -> Schemas.events,
    "documents" -> Schemas.documents,
    "embeddings" -> Schemas.embeddings)

  /** Physical encoding of an events-shaped table's `ts` column, detected
    * from the parquet footer (via schema inference) rather than assumed.
    * A 100 TB table ingesting third-party parquet sees NANOS, MICROS,
    * MILLIS, and INT96 over its lifetime — the loader must branch on what
    * is actually on disk, not on what last round's files happened to use.
    */
  sealed trait TsEncoding
  /** TIMESTAMP(NANOS) (or unannotated INT64 epoch-nanos): Spark only
    * exposes it as a raw long under the legacy flag; we convert with
    * integral `div 1000` so no precision is lost (a double division would
    * corrupt epoch-nanos > 2^53).
    */
  case object RawNanos extends TsEncoding
  /** MICROS / MILLIS / INT96: Spark's vectorized reader decodes these
    * natively as TimestampType with zero conversion (NTZ-annotated micros
    * included — under the engine's UTC session the values are identical).
    */
  case object NativeTimestamp extends TsEncoding

  /** Footer probes are one file-listing + one schema-merge job; cache so
    * repeat loads (every registered query touches events) pay one
    * METADATA listing instead. Keyed by path+glob (at most ONE live entry
    * per table in a long-lived session — an append-every-minute streaming
    * landing dir must not grow the map per re-probe); the VALUE carries
    * the source's file-listing fingerprint (path, length, mtime —
    * StateCache's discipline), so an events table regenerated IN PLACE
    * with a different encoding (exactly the round-9 incident) replaces
    * the stale entry instead of serving it.
    */
  private val tsEncodingCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, TsEncoding)]

  /** Detect how `ts` is encoded at `path` (a parquet file or directory,
    * optionally glob-filtered). Inference yields LongType for NANOS under
    * the legacy flag and TimestampType/TimestampNTZType for the native
    * encodings; a NANOS file WITHOUT the flag makes inference itself throw
    * Spark's "Illegal Parquet type", which we rewrite into the actionable
    * session-builder message.
    *
    * Contract: ONE encoding class per table path — and since round 11 the
    * probe ENFORCES it instead of trusting the first footer. Inference
    * runs with `mergeSchema=true`, which reads every footer (distributed
    * by Spark above its file-count threshold; footers are kilobytes, and
    * the result is cached against the listing fingerprint). A directory
    * mixing generations — NANOS files next to MICROS files, the shape a
    * 100 TB landing dir ingesting third-party parquet eventually
    * accretes — fails the ts-field merge (LongType vs TimestampType) and
    * is rewritten into the actionable error below, because decoding the
    * whole directory at either probed unit would silently corrupt the
    * files of the other generation (the round-9 failure class, one level
    * down). Regenerations must still swap whole directories.
    */
  def probeTsEncoding(spark: SparkSession, path: String,
                      globFilter: Option[String] = None): TsEncoding = {
    val key = path + globFilter.fold("")("#" + _)
    val fp = StateCache.fingerprint(spark, path)
    tsEncodingCache.get(key) match {
      case (`fp`, enc) => enc
      case _ =>
        val enc = probeUncached(spark, path, globFilter)
        tsEncodingCache.put(key, (fp, enc))
        enc
    }
  }

  private def probeUncached(spark: SparkSession, path: String,
                            globFilter: Option[String]): TsEncoding = {
    val reader = spark.read.option("mergeSchema", true)
    globFilter.foreach(reader.option("pathGlobFilter", _))
    val inferred =
      try reader.parquet(path).schema
      catch {
        case e: Throwable if messageChain(e).exists(_.contains("NANOS")) =>
          requireNanosConf(spark); throw e
        case e: Throwable
            if messageChain(e).exists(m =>
              m.contains("Failed to merge") || m.contains("Failed merging")) =>
          throw new IllegalStateException(
            s"events table at $path mixes timestamp encodings across its " +
              "parquet files (e.g. TIMESTAMP(NANOS) files next to " +
              "TIMESTAMP(MICROS) files from different generations). The " +
              "loader decodes a table at ONE unit, so a mixed directory " +
              "cannot be read safely — rewrite the older generation (or " +
              "split the directory) so every file shares one ts encoding.",
            e)
      }
    inferred.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => RawNanos
      case Some(TimestampType) | Some(TimestampNTZType) => NativeTimestamp
      case other => throw new IllegalStateException(
        s"events table at $path has unsupported ts type $other — " +
          "expected TIMESTAMP(NANOS|MICROS|MILLIS)/INT96 or raw INT64")
    }
  }

  private def messageChain(e: Throwable): Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    var cur = e
    while (cur != null && buf.size < 10) {
      if (cur.getMessage != null) buf += cur.getMessage
      cur = cur.getCause
    }
    buf.toSeq
  }

  /** The NANOS leg needs `spark.sql.legacy.parquet.nanosAsLong=true` SET AT
    * SESSION BUILD TIME (it is read by the parquet converter before any
    * per-query conf is consulted). GraftSession sets it for every engine
    * session; an externally-built session that didn't gets this actionable
    * error instead of Spark's "Illegal Parquet type: INT64
    * (TIMESTAMP(NANOS,...))".
    */
  private def requireNanosConf(spark: SparkSession): Unit =
    require(
      spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
        .contains("true"),
      "reading a TIMESTAMP(NANOS) events table requires " +
        "spark.sql.legacy.parquet.nanosAsLong=true on the SparkSession " +
        "builder (see graft.GraftSession) — Spark only exposes NANOS " +
        "columns as raw INT64 nanos")

  /** Events schema with `ts` widened to raw INT64 for the NANOS leg
    * (shared with the streaming reader — batch and stream raw decodes
    * must never diverge).
    */
  private[graft] def eventsRawSchema: StructType =
    StructType(Schemas.events.fields.map {
      case StructField("ts", _, n, m) => StructField("ts", LongType, n, m)
      case f => f
    })

  /** Parquet scan with explicit schema (S12). `sfDir` is a testdata scale
    * directory or any directory laid out the same way.
    *
    * `events.ts` has changed physical type across testdata generations
    * (NANOS → MICROS); [[probeTsEncoding]] reads the footer's logical type
    * and the loader branches — native TimestampType decode for
    * MICROS/MILLIS/INT96, lossless raw-long `div 1000` for NANOS.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      probeTsEncoding(spark, path) match {
        case NativeTimestamp =>
          spark.read.schema(Schemas.events).parquet(path)
        case RawNanos =>
          requireNanosConf(spark)
          spark.read.schema(eventsRawSchema).parquet(path)
            .withColumn("ts", timestamp_micros(expr("ts div 1000")))
            .select(Schemas.events.fieldNames.map(col).toIndexedSeq: _*)
      }
    } else {
      val reader = spark.read
      schemas.get(name).foreach(reader.schema)
      reader.parquet(path)
    }
  }

  /** JSON scan with explicit schema (S5/S6). multiLine for pretty-printed
    * single-object files (metadata.json).
    */
  def loadJson(spark: SparkSession, path: String, schema: StructType,
               multiLine: Boolean = false): DataFrame =
    spark.read.schema(schema).option("multiLine", multiLine).json(path)

  /** Partitioned parquet sink (S8 analog): Hive-style layout that downstream
    * scans prune automatically. partitionBy columns go last in the path just
    * like the reference's media_id=/dt= layout
    * (REF wistia_pull_wistia_api.py:117-129).
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed catalog table (S8 extended — the co-located-join layout):
    * rows hash into `numBuckets` files per partition by `bucketCol`, and
    * the bucket spec is recorded in the catalog, so a join or aggregate
    * keyed on the bucket column reads each bucket as a pre-shuffled
    * partition — ZERO exchange on either side when both sides share the
    * spec (TablesBucketSpec pins the no-Exchange plan). This is the
    * at-rest answer to the biggest 100 TB cost in the repo's star joins:
    * fact ⋈ fact on l_orderkey/o_orderkey shuffles BOTH tables every
    * run, but written bucketed once, every subsequent run joins in place.
    * Sort within buckets by the key so the join is a streaming merge,
    * not a hash build.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int, mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Idempotent bucketed-table materialization for registered queries:
    * if THIS session's catalog already has `table`, reuse it — the
    * layout's whole point is write-once join-many, so repeat executions
    * (and the bench's second timed pass) measure the join-in-place cost,
    * not a rewrite. Otherwise clear any orphaned warehouse directory a
    * previous JVM left behind (the catalog is in-memory, so a stale
    * directory would fail the CTAS — or, worse across SF switches, serve
    * another scale factor's rows) and write fresh.
    */
  def ensureBucketed(spark: SparkSession, df: => DataFrame, table: String,
                     bucketCol: String, numBuckets: Int): Unit =
    if (!spark.catalog.tableExists(table)) {
      clearOrphanedWarehouseDir(spark, table)
      writeBucketed(df, table, bucketCol, numBuckets)
    }

  /** The ONE definition of the orphaned-location clear every managed-table
    * writer needs: the default catalog is in-memory per JVM but the
    * warehouse directory persists, so a location left by a previous JVM
    * fails any CTAS (or, across SF switches, would serve another scale
    * factor's rows if adopted). No-op when the table IS in this session's
    * catalog — then the location is live, not orphaned.
    */
  def clearOrphanedWarehouseDir(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val dir = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) fs.delete(dir, true)
    }

  /** The ONE build-parameter-metadata contract for bucketed catalog
    * tables: integer build parameters ride the table as
    * `<prefix>.<key>` properties (the sidecar-file pattern re-expressed
    * in catalog terms), so probes and appends read the CATALOG — never
    * an aggregation over index rows, never a caller-supplied guess that
    * could disagree with the build. Writer half of the pair.
    */
  def setTableMetaInts(spark: SparkSession, table: String, prefix: String,
                       kvs: (String, Int)*): Unit =
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
      kvs.map { case (k, v) => s"'$prefix.$k'='$v'" }.mkString(", ") + ")")

  /** Reader half: the `keys` values in order. Fails loudly (naming the
    * `builderHint` entry point) on a table missing any `<prefix>.<key>`
    * property — probing with a guessed parameter would silently answer
    * a different question.
    */
  def tableMetaInts(spark: SparkSession, table: String, prefix: String,
                    keys: Seq[String], builderHint: String): Seq[Int] = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $table")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    keys.map { k =>
      props.getOrElse(s"$prefix.$k", throw new IllegalArgumentException(
        s"table $table lacks $prefix.* properties — " +
          s"build it with $builderHint")).toInt
    }
  }

  /** Events scan with the watermark predicate pushed to the parquet scan
    * IN THE DETECTED UNIT (row-group statistics pruning) — at 100 TB the
    * difference between a pruned incremental read and a full scan.
    *
    * Native encodings: `ts > T` on the TimestampType column pushes down
    * directly (`PushedFilters: [GreaterThan(ts,...)]`, plan-pinned).
    * NANOS: the converted column is wrapped in
    * `timestamp_micros(ts div 1000)`, which Catalyst cannot push through —
    * so the bound is applied in the raw nanos domain BEFORE conversion.
    * Bound algebra: micros-truncated ts > T  ⟺  rawNanos >= (T_µs + 1) µs.
    */
  def loadEventsAfter(spark: SparkSession, sfDir: String,
                      after: java.time.Instant): DataFrame = {
    val path = s"$sfDir/events.parquet"
    probeTsEncoding(spark, path) match {
      case NativeTimestamp =>
        spark.read.schema(Schemas.events).parquet(path)
          .filter(col("ts") > lit(java.sql.Timestamp.from(after)))
      case RawNanos =>
        requireNanosConf(spark)
        val afterMicros = after.getEpochSecond * 1000000L + after.getNano / 1000
        val boundNanos = (afterMicros + 1) * 1000L
        spark.read.schema(eventsRawSchema).parquet(path)
          .filter(col("ts") >= boundNanos)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
          .select(Schemas.events.fieldNames.map(col).toIndexedSeq: _*)
    }
  }

  /** True iff `path` exists AND contains at least one file matching
    * `globFilter` (recursively — streaming landing dirs nest part files).
    * The streaming reader uses this to distinguish the legitimate
    * empty-landing-dir case (producer writes later; fall back to the
    * native schema) from a real probe failure on a populated directory,
    * which must surface, not silently define the stream at the wrong
    * unit. One metadata listing, no data read.
    */
  private[graft] def hasFiles(spark: SparkSession, path: String,
                              globFilter: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val matcher = new org.apache.hadoop.fs.GlobFilter(globFilter)
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      if (matcher.accept(it.next().getPath)) return true
    }
    false
  }

  /** Filesystem-aware existence check: correctness-bearing "does this
    * table exist yet" tests must go through the Hadoop FileSystem of the
    * path's scheme — `java.io.File` silently answers false for every
    * hdfs:///s3a:// path, which would disable idempotence anti-joins.
    */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Register each testdata table as a temp view so spark.sql(...) parity
    * queries can run against the same names the DuckDB oracle uses.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    schemas.keys.foreach { t =>
      load(spark, sfDir, t).createOrReplaceTempView(t)
    }
}
