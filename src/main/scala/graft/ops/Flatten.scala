package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.schema.Schemas

/** Projection / flattening operators (SURVEY.md §2.2: P1–P8).
  *
  * The silver job's wide select with nested-struct extraction
  * (REF glue_jobs/silver/wistia_transform_silver.py:32-52,75-85) re-expressed
  * as a single Catalyst Project — nested-schema pruning pushes the struct
  * field reads into the scan, so a 100 TB scan touches only the referenced
  * leaf columns.
  */
object Flatten {

  /** P1/P2/P4: bronze event objects → 19-column fact_events rows.
    * Input rows follow [[Schemas.wistiaEventRaw]]; `received_at` is parsed
    * from ISO-8601 (P5, F1 — session TZ is UTC for parity with the
    * reference's `Z → +00:00` normalization at wistia_pull_wistia_api.py:79-81).
    */
  def factEvents(raw: DataFrame): DataFrame =
    raw.select(
      col("event_key"),
      to_timestamp(col("received_at")).as("received_at"),
      col("percent_viewed").cast("double").as("percent_viewed"),
      col("embed_url"),
      col("email"),
      col("ip"),
      col("user_agent_details.browser").as("user_agent_browser"),
      col("user_agent_details.browser_version").as("user_agent_browser_version"),
      col("user_agent_details.platform").as("user_agent_platform"),
      col("user_agent_details.mobile").as("user_agent_mobile"),
      col("visitor_key"),
      col("country"),
      col("region"),
      col("city"),
      col("lat").cast("double").as("lat"),
      col("lon").cast("double").as("lon"),
      col("org"),
      col("media_id"),
      col("media_name"))

  /** P3/P4/P5/P7: media metadata object → dim_media row
    * (REF wistia_transform_silver.py:75-85). The freshness timestamp uses the
    * reference's fallback chain `updated → updated_at → created → created_at`
    * (REF wistia_pull_wistia_api.py:163-169) as a `coalesce`.
    */
  def dimMedia(raw: DataFrame): DataFrame =
    raw.select(
      col("hashed_id").as("media_id"),
      col("name").as("media_name"),
      col("duration").cast("double").as("duration_seconds"),
      to_timestamp(col("created")).as("created_at"),
      to_timestamp(coalesce(
        col("updated"), col("updated_at"), col("created"), col("created_at")))
        .as("updated_at"),
      col("section").as("section_name"),
      col("subfolder.name").as("subfolder_name"),
      col("thumbnail.url").as("thumbnail_url"),
      col("project.name").as("project_name"))

  /** P8: dynamic page-envelope normalization. A page payload is either a bare
    * JSON array of events or an object wrapping the array under one of
    * data|events|items|results (REF wistia_pull_wistia_api.py:135-146).
    * Input: one string column `payload` per page. The coalesce order
    * resolves the variant per row with no driver-side branching (the
    * reference's `_page_shape` control flow becomes data).
    *
    * Adds `_rows`: the page's events, or null for a page no envelope rule
    * recognizes. The envelope struct is its own column, parsed once: Catalyst
    * splits `from_json(p).getField(f)` into one parse per field, but does not
    * inline a non-cheap column that its consumer references four times. The
    * bare-array parse is gated on `[`: with an ARRAY schema, `from_json` wraps
    * a bare OBJECT into a one-element all-null array, hiding a parse failure.
    */
  def tagPages(pages: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val bare = from_json(col(payloadCol),
      org.apache.spark.sql.types.ArrayType(Schemas.wistiaEventRaw))
    val isArray = ltrim(col(payloadCol)).startsWith("[")
    pages.withColumn("_env", from_json(col(payloadCol), Schemas.wistiaEventPage))
      .withColumn("_rows", coalesce(col("_env.data"), col("_env.events"),
        col("_env.items"), col("_env.results"), when(isArray, bare)))
      .drop("_env")
  }

  /** Splits [[tagPages]] output into (good rows, quarantined pages). P8 + T6
    * hardened: corrupt or unrecognized pages don't vanish and don't fail the
    * run (the reference isolates failures per media and proceeds, REF
    * wistia_pull_wistia_api.py:261-267) — they land in a quarantine frame
    * carrying the raw payload for replay after a parser fix. A caller that
    * pins the tagged pages parses each page once for both sides. No
    * side filters on `_rows`, not even the filter `explode` infers: Catalyst
    * pushes it below the parse, which re-parses per envelope field.
    * `posexplode_outer` infers none; its `pos` is null where `explode` drops.
    */
  def splitTagged(tagged: DataFrame, payloadCol: String = "payload")
      : (DataFrame, DataFrame) = {
    val good = tagged.select(posexplode_outer(col("_rows")).as(Seq("_pos", "_row")))
      .filter(col("_pos").isNotNull)
      .select(col("_row.*"))
    val quarantined = tagged
      .select(explode(when(col("_rows").isNull, array(col(payloadCol))))
        .as("raw_payload"))
      .withColumn("quarantined_at", current_timestamp())
    (good, quarantined)
  }
}
