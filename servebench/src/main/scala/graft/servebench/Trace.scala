package graft.servebench

import graft.catalog.{LakeCatalog, SqlGateway}
import graft.server.McpServer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Wall clock shared by the harness spans and Spark's listener events.
  * Spark stamps events with `System.currentTimeMillis`; spans take
  * `nanoTime` for resolution and shift it onto the same epoch once. */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offsetNs
}

/** One timed region: a call into a layer's public function. */
final case class Span(id: Int, parent: Int, callId: String, layer: String,
                      name: String, start: Long, end: Long)

/** Span recorder for the single closed-loop client thread. Spans stay in
  * memory until the run ends; nothing is written while calls are timed. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var callId: String = ""

  def span[T](layer: String, name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = Clock.nowNs
    try f
    finally {
      stack = stack.tail
      spans += Span(id, parent, callId, layer, name, t0, Clock.nowNs)
    }
  }
}

/** [[LakeCatalog]] whose public calls are timed. LakeCatalog calls its own
  * public functions through virtual dispatch, so nested calls (loadRenamed →
  * load) show up as child spans and only the outermost one counts as layer
  * time. */
class TimedCatalog(spark: SparkSession, root: String, t: Tracer)
    extends LakeCatalog(spark, root) {
  private def s[T](name: String)(f: => T): T = t.span("catalog", name)(f)
  override def listNamespaces(): Seq[String] = s("listNamespaces")(super.listNamespaces())
  override def listTables(): Seq[(String, String)] = s("listTables")(super.listTables())
  override def snapshots(ns: String, table: String): Seq[(Int, Seq[String])] =
    s("snapshots")(super.snapshots(ns, table))
  override def showStats(ns: String, table: String): DataFrame =
    s("showStats")(super.showStats(ns, table))
  override def countStar(ns: String, table: String): Option[Long] =
    s("countStar")(super.countStar(ns, table))
  override def load(ns: String, table: String): DataFrame =
    s("load")(super.load(ns, table))
  override def describeFull(ns: String, table: String): Seq[(String, String, String)] =
    s("describeFull")(super.describeFull(ns, table))
  override def loadRenamed(ns: String, table: String): DataFrame =
    s("loadRenamed")(super.loadRenamed(ns, table))
  override def filesMeta(ns: String, table: String): DataFrame =
    s("filesMeta")(super.filesMeta(ns, table))
  override def fileBounds(ns: String, table: String): Map[String, Map[String, (Double, Double)]] =
    s("fileBounds")(super.fileBounds(ns, table))
  override def pruneFilesBox(ns: String, table: String,
                             box: Seq[(String, Double, Double)]): (Seq[String], Seq[String]) =
    s("pruneFilesBox")(super.pruneFilesBox(ns, table, box))
  override def bloomPrune(ns: String, table: String, column: String,
                          value: Long): (Seq[String], Seq[String]) =
    s("bloomPrune")(super.bloomPrune(ns, table, column, value))
  override def bloomPruneString(ns: String, table: String, column: String,
                                value: String): (Seq[String], Seq[String]) =
    s("bloomPruneString")(super.bloomPruneString(ns, table, column, value))
  override def renames(ns: String, table: String): Seq[(String, String, Int)] =
    s("renames")(super.renames(ns, table))
  override def tableMeta(ns: String, table: String): (Seq[String], Seq[String], Map[String, String]) =
    s("tableMeta")(super.tableMeta(ns, table))
  override def deleteWhereMor(ns: String, table: String, cond: Column): Long =
    s("deleteWhereMor")(super.deleteWhereMor(ns, table, cond))
  override def updateWhereMor(ns: String, table: String, cond: Column,
                              setCol: String, setExpr: Column): Long =
    s("updateWhereMor")(super.updateWhereMor(ns, table, cond, setCol, setExpr))
  override def deleteWhereEq(ns: String, table: String, keyCol: String,
                             keys: Seq[Any]): Long =
    s("deleteWhereEq")(super.deleteWhereEq(ns, table, keyCol, keys))
  override def mergeMor(ns: String, table: String, rawSource: DataFrame,
                        key: String): (Long, Long) =
    s("mergeMor")(super.mergeMor(ns, table, rawSource, key))
  override def maintainAll(ns: String, table: String, maxFiles: Int,
                           keepSnapshots: Int): Seq[(String, String, Long, Long)] =
    s("maintainAll")(super.maintainAll(ns, table, maxFiles, keepSnapshots))
  override def insertRow(ns: String, table: String, values: Seq[Any]): Unit =
    s("insertRow")(super.insertRow(ns, table, values))
}

/** [[SqlGateway]] whose `execute` is timed, over a [[TimedCatalog]]. */
class TimedGateway(spark: SparkSession, catalog: LakeCatalog, t: Tracer)
    extends SqlGateway(spark, catalog) {
  override def execute(sql: String): DataFrame =
    t.span("gateway", "execute")(super.execute(sql))
}

/** The unmodified MCP server with its gateway swapped for the timed one.
  * `handleLine`, JSON-RPC parsing, `runQuery`'s `limit(maxRows+1).collect()`
  * and row rendering are the program's own code. */
class TracedServer(spark: SparkSession, warehouse: String, t: Tracer)
    extends McpServer(spark, warehouse) {
  override val gateway: SqlGateway =
    new TimedGateway(spark, new TimedCatalog(spark, warehouse, t), t)
}
