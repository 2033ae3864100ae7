package graft.servebench

import java.nio.file.{Files, Path}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Sorted, disjoint [start, end) intervals in epoch nanoseconds. */
final case class Ivs(xs: Vector[(Long, Long)]) {
  def len: Long = xs.map { case (a, b) => b - a }.sum
  def ++(o: Ivs): Ivs = Ivs.of(xs ++ o.xs)
  def minus(o: Ivs): Ivs = Ivs(xs.flatMap { case (a, b) =>
    o.xs.foldLeft(Vector((a, b))) { (acc, cut) =>
      acc.flatMap { case (x, y) =>
        if (cut._2 <= x || cut._1 >= y) Vector((x, y))
        else Vector((x, cut._1), (cut._2, y)).filter(p => p._2 > p._1)
      }
    }
  })
  def intersect(o: Ivs): Ivs = minus(minus(o))
  def covers(t: Long): Boolean = xs.exists { case (a, b) => t >= a && t < b }
}
object Ivs {
  def of(raw: Seq[(Long, Long)]): Ivs = Ivs(raw.filter(p => p._2 > p._1).sortBy(_._1)
    .foldLeft(Vector.empty[(Long, Long)]) {
      case (acc :+ ((a, b)), (c, d)) if c <= b => acc :+ ((a, math.max(b, d)))
      case (acc, p) => acc :+ p
    })
}

/** Splits each traced call's wall time into disjoint layer shares:
  *  - spark: inside a Spark job of the call, or inside the SQL execution
  *    that `McpServer.runQuery` starts after `execute` returns (its
  *    `limit(maxRows+1).collect()`: planning plus jobs);
  *  - catalog: inside an outermost [[TimedCatalog]] call, outside jobs;
  *  - gateway: inside `SqlGateway.execute`, outside catalog calls and jobs;
  *  - server: the rest of `handleLine` (JSON-RPC parsing, row rendering,
  *    and any time no span covers).
  * The four shares sum to the call's wall time by construction; the first
  * three are explicitly spanned, the server share is the remainder. */
final class LayerSplit(probe: SparkProbe, tracer: Tracer,
                       calls: Seq[ServeBench.Timed], warehouse: Path) {
  private val ms = 1000000L
  private val spansByCall = tracer.spans.toVector.groupBy(_.callId)
  private val byId = tracer.spans.map(s => s.id -> s).toMap
  private val jobsByCall = probe.synchronized(probe.jobs.values.toVector).groupBy(_.group)
  private val execsByCall = probe.synchronized(probe.execs.values.toVector).groupBy(_.group)
  private val plans = probe.synchronized(probe.plans.toVector)

  private def outermostCatalog(s: Span): Boolean =
    s.layer == "catalog" && (s.parent < 0 || byId.get(s.parent).forall(_.layer != "catalog"))

  final case class Split(t: ServeBench.Timed, server: Double, gateway: Double, catalog: Double,
                         spark: Double, jobWall: Double, outsideJobs: Double, jobs: Int,
                         stages: Int, tasks: Int, taskS: Double, shuffle: Long, spill: Long,
                         schemaJobs: Int, catalogJobs: Int, analyze: Double, optimize: Double,
                         physical: Double, catalogLoad: Double, gatewayExec: Double,
                         catalogCalls: Map[String, Int], viewsRegistered: Int,
                         viewsUsedRatio: Double) {
    def wall: Double = t.ms
  }

  val splits: Seq[Split] = calls.map { t =>
    val spans = spansByCall.getOrElse(t.id, Vector.empty)
    val jobs = jobsByCall.getOrElse(t.id, Vector.empty)
    val execs = execsByCall.getOrElse(t.id, Vector.empty)
    val w = Ivs.of(Seq(t.start -> t.end))
    val gSpans = spans.filter(_.layer == "gateway")
    val g = Ivs.of(gSpans.map(s => s.start -> s.end))
    val topCat = spans.filter(outermostCatalog)
    val c = Ivs.of(topCat.map(s => s.start -> s.end))
    val loads = Ivs.of(topCat.filter(_.name.startsWith("load")).map(s => s.start -> s.end))
    val gEnd = gSpans.map(_.end).maxOption.getOrElse(t.start)
    val j = Ivs.of(jobs.map(x => (x.start * ms, (if (x.end < 0) x.start else x.end) * ms)))
    val collectExec = Ivs.of(execs.filter(x => x.start * ms >= gEnd - ms && x.end * ms > gEnd)
      .map(x => (x.start * ms, x.end * ms)))
    val sparkIv = (j ++ collectExec).intersect(w)
    val catIv = c.minus(sparkIv)
    val gwIv = g.minus(c).minus(sparkIv)
    val serverIv = w.minus(g).minus(sparkIv)
    val inCat = jobs.filter(x => c.covers(x.start * ms))
    val ps = plans.filter(p => p.start * ms >= t.start - ms && p.start * ms <= t.end)
    val registered = spans.filter(s => s.name == "loadRenamed" &&
      byId.get(s.parent).exists(_.layer == "gateway"))
    val referenced = Lake.tables.count(tb => s"\\b$tb\\b".r.findFirstIn(t.call.query).isDefined)
    val distinctRegistered = registered.size / 2.0 max 1.0
    Split(t, serverIv.len / 1e6, gwIv.len / 1e6, catIv.len / 1e6, sparkIv.len / 1e6,
      j.len / 1e6, w.minus(j).len / 1e6, jobs.size, jobs.map(_.stagesRun).sum,
      jobs.map(_.tasks).sum, jobs.map(_.taskMs).sum / 1e3, jobs.map(_.shuffleBytes).sum,
      jobs.map(_.spillBytes).sum,
      jobs.count(x => x.sqlExec < 0 && loads.covers(x.start * ms)), inCat.size,
      ps.map(_.analyzeMs).sum.toDouble, ps.map(_.optimizeMs).sum.toDouble,
      ps.map(_.physicalMs).sum.toDouble, loads.len / 1e6, g.len / 1e6,
      topCat.groupBy(_.name).map { case (k, v) => k -> v.size },
      registered.size,
      if (registered.isEmpty) 0.0 else referenced / distinctRegistered)
  }

  /** Per-layer metrics: means per SELECT call (the served SQL path both
    * workloads take), with metadata-call and per-verb breakdowns where a
    * layer owns them. Counts of calls, jobs and bytes are per call too. */
  def metrics(pl: mutable.LinkedHashMap[String, JValue]): Unit = {
    def mean(f: Split => Double, xs: Seq[Split]) = Stats.mean(xs.map(f))
    val sel = splits.filter(_.t.call.cls == "select")
    val meta = splits.filter(_.t.call.cls == "meta")
    pl("server.self_ms") = mean(_.server, sel)
    pl("server.payload_bytes") = mean(_.t.reply.length.toDouble, sel)
    pl("server.truncated") = splits.count(_.t.reply.contains("(truncated to"))
    pl("gateway.self_ms") = mean(_.gateway, sel)
    for (cls <- Seq("select", "meta", "write", "maint"))
      pl(s"gateway.execute_ms.$cls") = mean(_.gatewayExec, splits.filter(_.t.call.cls == cls))
    pl("gateway.views_registered") = mean(_.viewsRegistered.toDouble, sel)
    pl("gateway.views_used_ratio") = mean(_.viewsUsedRatio, sel)
    pl("catalog.self_ms") = mean(_.catalog, sel)
    pl("catalog.self_ms.meta") = mean(_.catalog, meta)
    pl("catalog.load_ms") = mean(_.catalogLoad, sel)
    pl("catalog.calls") = mean(_.catalogCalls.values.sum.toDouble, sel)
    pl("catalog.calls.meta") = mean(_.catalogCalls.values.sum.toDouble, meta)
    for (fn <- Seq("listTables", "loadRenamed"))
      pl(s"catalog.calls.$fn") = mean(_.catalogCalls.getOrElse(fn, 0).toDouble, sel)
    for (verb <- Seq("insert", "delete_mor", "update_mor", "delete_eq", "merge_mor", "maintain_all"))
      pl(s"catalog.commit_ms.$verb") = mean(_.catalog, splits.filter(_.t.call.template == verb))
    pl("catalog.jobs") = mean(_.catalogJobs.toDouble, sel)
    pl("catalog.meta_bytes_written") = metaBytes
    pl("catalog.data_bytes_written") = dataBytes
    pl("catalog.log_lines") = logLines
    pl("spark.self_ms") = mean(_.spark, sel)
    pl("spark.self_ms.meta") = mean(_.spark, meta)
    pl("spark.analyze_ms") = mean(_.analyze, sel)
    pl("spark.optimize_ms") = mean(_.optimize, sel)
    pl("spark.physical_ms") = mean(_.physical, sel)
    pl("spark.jobs") = mean(_.jobs.toDouble, sel)
    pl("spark.stages") = mean(_.stages.toDouble, sel)
    pl("spark.tasks") = mean(_.tasks.toDouble, sel)
    pl("spark.schema_jobs") = mean(_.schemaJobs.toDouble, sel)
    pl("spark.job_wall_ms") = mean(_.jobWall, sel)
    pl("spark.driver_ms") = mean(_.outsideJobs, sel)
    pl("spark.task_s") = mean(_.taskS, sel)
    pl("spark.task_par") = sel.map(_.taskS).sum / math.max(1e-9, sel.map(_.jobWall).sum / 1e3)
    pl("spark.shuffle_bytes") = mean(_.shuffle.toDouble, sel)
    pl("spark.spill_bytes") = mean(_.spill.toDouble, sel)
    pl("trace.calls") = splits.size
    pl("trace.select_wall_ms") = mean(_.wall, sel)
    // median share of a SELECT's wall inside explicit gateway, catalog and
    // Spark spans; the rest is the server's residual
    pl("trace.select_spanned") = Stats.median(sel.map(s => (s.gateway + s.catalog + s.spark) / s.wall))
  }

  var metaBytes = 0L
  var dataBytes = 0L
  def logLines: Long = Env.files(warehouse).filter(_.getFileName.toString.endsWith("_snapshots.json"))
    .map(p => Files.readAllLines(p).size.toLong).sum

  /** Spans and per-call splits as JSON lines. */
  def writeSpans(out: Path): Unit = {
    val lines = tracer.spans.map { s =>
      ("span" -> s.id) ~ ("parent" -> s.parent) ~ ("call" -> s.callId) ~ ("layer" -> s.layer) ~
        ("name" -> s.name) ~ ("start_ns" -> s.start) ~ ("end_ns" -> s.end)
    } ++ splits.map { s =>
      ("call" -> s.t.id) ~ ("class" -> s.t.call.cls) ~ ("template" -> s.t.call.template) ~
        ("wall_ms" -> s.wall) ~ ("server_ms" -> s.server) ~ ("gateway_ms" -> s.gateway) ~
        ("catalog_ms" -> s.catalog) ~ ("spark_ms" -> s.spark) ~ ("jobs" -> s.jobs) ~
        ("schema_jobs" -> s.schemaJobs)
    }
    Files.write(out, lines.map(l => JsonMethods.compact(l)).asJava)
  }
}

/** Bytes the catalog writes, from before/after listings of the warehouse:
  * new or changed parquet files count as data, everything else as
  * metadata (snapshot log, sidecars, deletion vectors' JSON). */
final class WriteMeter(warehouse: Path) {
  private def state(): Map[Path, (Long, Long)] = Env.files(warehouse)
    .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
  private var prev = state()
  var meta = 0L
  var data = 0L
  def tick(): Unit = {
    val now = state()
    now.foreach { case (p, st @ (size, _)) =>
      if (!prev.get(p).contains(st)) {
        if (p.getFileName.toString.endsWith(".parquet")) data += size else meta += size
      }
    }
    prev = now
  }
}
