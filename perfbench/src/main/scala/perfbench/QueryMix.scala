package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.JsonDSL._

import graft.SparkEntry

/** One op is one registry query over the generated tables, collected by
  * the client. One unit is a pass over the whole mix, in an order drawn
  * from the seed afresh for every pass. The mix is one query per family
  * plus the six dedup rows (pair, cluster, resume, forget, corpus build),
  * called by registry key so the pass stays valid when the code behind
  * them changes.
  */
final class QueryMix(spark: SparkSession, inputs: String, work: String,
                     seed: Long) extends Workload {
  import QueryMix._

  private val queries = SparkEntry.queries
  private val rng = new scala.util.Random(seed)
  private val first = scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]
  private val counts = scala.collection.mutable.Map.empty[String, Double]

  private def run(q: String, dir: String = inputs): (Array[Row], StructType) = {
    spark.catalog.clearCache()
    val df = queries(q)(spark, dir)
    (df.collect(), df.schema)
  }

  /** Untimed: a scan-aggregate over the real tables, then pairing and
    * clustering over the first 300 documents (the shingle, signature,
    * band, verify and fixpoint code the dedup rows share).
    */
  def warmup(): Unit = {
    run("q01_pricing_summary")
    val warm = s"$work/warm"
    spark.read.parquet(s"$inputs/documents.parquet").filter(col("doc_id") < 300)
      .coalesce(1).write.mode("overwrite").parquet(s"$warm/documents.parquet")
    Seq("q30_near_dup_minhash", "q73_dedup_clusters").foreach(run(_, warm))
  }

  def unit(u: Int, spans: Spans, ops: ArrayBuffer[Op], traced: Boolean): Unit =
    rng.shuffle(Mix).foreach { case (q, span) =>
      Harness.timeOp(ops, u, q, 0) {
        val (result @ (rows, _), _) = spans(span, u)(run(q))
        if (q == "q30_near_dup_minhash") counts("text.near_dup_pairs.pairs") = rows.length
        if (q == "q73_dedup_clusters") counts("text.dedup_clusters.clusters") =
          rows.map(_.getAs[Any]("cluster_id")).distinct.length
        if (!first.contains(q)) first(q) = result
      }
    }

  override def afterUnit(u: Int, traced: Boolean,
                         extras: ArrayBuffer[(Int, String, Double)]): Unit =
    if (traced) counts.foreach { case (k, v) => extras += ((u, k, v)) }

  /** Writes each query's first result as parquet plus the span it is timed
    * under and the oracle SQL the registry holds for it.
    */
  override def finish(out: String): Unit = {
    first.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/query_mix/$q")
    }
    Harness.writeJson(s"$out/query_mix.json", JObject(Mix.toList.map { case (q, span) =>
      q -> (("span" -> span) ~
        ("oracle" -> SparkEntry.oracleSql.get(q).fold[JValue](JNull)(JString(_))))
    }))
  }
}

object QueryMix {
  /** Registry key → the layer span it is timed under. */
  val Mix: Seq[(String, String)] = Seq(
    "q09_revenue_by_nation" -> "query.tpch",
    "q23_asof_join" -> "query.timeseries",
    "q219_distinct_kmv" -> "query.sketch",
    "q37_knn_bruteforce" -> "query.vector",
    "q166_pagerank" -> "query.pagerank",
    "q70_vocab" -> "query.text",
    "q42_multimodal_features" -> "query.multimodal",
    "q190_ks_drift" -> "query.stream",
    "q30_near_dup_minhash" -> "text.near_dup_pairs",
    "q64_near_dup_fast" -> "text.near_dup_pairs_fast",
    "q73_dedup_clusters" -> "text.dedup_clusters",
    "q188_cluster_resume" -> "text.dedup_clusters_resume",
    "q201_cluster_forget" -> "text.dedup_clusters_forget",
    "q220_corpus_build" -> "text.corpus_build")
}
