package graft.servebench

import graft.SparkEntry
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods

/** A fixed slice of `SparkEntry.queries`, each call `.count()`ed the way
  * `graft.Bench` times them, with ModelCache on. The untimed first pass
  * writes each result for the DuckDB oracle check (done by run.py) and pays
  * the model builds (`ops.build_s`); timed calls follow. Server and
  * gateway are not on this path. */
final class OperatorSlice(spark: SparkSession, sf: String, members: Seq[String]) {
  private val queries = SparkEntry.queries

  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Untimed pass: results to `<out>/<id>/` plus `oracle_sql.json` for the
    * members that have an oracle. */
  def warm(out: Path): Unit = {
    graft.ops.ModelCache.enabled = true
    members.foreach { id =>
      spark.sparkContext.setJobGroup(s"op-warm-$id", id, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try queries(id)(spark, sf).coalesce(1).write.mode("overwrite").parquet(out.resolve(id).toString)
      finally { spark.sparkContext.clearJobGroup(); release() }
      Log(f"op warm $id ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => members.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"),
      JsonMethods.compact(JObject(oracles.toList.map { case (k, v) => k -> JString(v) })))
  }

  def buildSecs: Double = graft.ops.ModelCache.buildSecs.map(_._2).sum

  /** One timed call: (seconds, rows); its jobs carry the group `op-<id>`. */
  def timed(id: String): (Double, Long) = {
    spark.sparkContext.setJobGroup(s"op-$id", id, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val n = queries(id)(spark, sf).count()
      val secs = (System.nanoTime() - t0) / 1e9
      Log(f"op timed $id $secs%.2fs")
      (secs, n)
    } finally { spark.sparkContext.clearJobGroup(); release() }
  }
}

object OperatorSlice {
  /** A relational baseline and a graph-index walk: about 19 s for the warm
    * pass and 3 s timed on 4 cores at sf0.1. The catalog operators
    * (`c_*`) are left out: `mcp_ingest` serves MAINTAIN ALL and the MOR
    * writes through the same LakeCatalog code, and a traced run has no
    * time left for them. */
  val members = Seq("q1_agg", "s_nsw_search")
}
