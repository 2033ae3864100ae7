package graft.servebench

import graft.catalog.LakeCatalog
import graft.server.McpServer
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Served-path benchmark: one JVM, one closed-loop client, one workload.
  *
  * usage: graft.servebench.ServeBench --workload mcp_interactive|mcp_ingest
  *   --seed n --seconds s --trace 0|1 --sf dir --work dir
  *   --out file
  *
  * Set-up builds the warehouse from the sf tables into a fresh directory
  * under --work (several times; the median is `setup_s`), then the client
  * sends seeded `tools/call` lines through `McpServer.handleLine` in whole
  * rounds for --seconds and checks every reply. With --trace 1 a twin
  * warehouse from the same seed gets every call too, through the timed
  * layer wrappers of Trace.scala, whose spans and Spark listener records
  * give the per-layer split; the operator slice follows.
  * The result is one JSON object written to --out.
  */
object ServeBench {
  final case class Timed(call: Call, id: String, start: Long, end: Long,
                         reply: String, error: Option[String]) {
    def ms: Double = (end - start) / 1e6
  }
  type Fields = mutable.LinkedHashMap[String, JValue]

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val sf = opt("sf")
    val work = Paths.get(opt("work"))
    // setup_s is an end-to-end metric, reported by untraced runs only. The
    // first set-up runs in a cold JVM, so setup_s, the median of the two,
    // counts JIT and class loading once: a user's first warehouse pays
    // them. More set-ups would not fit the runs' time budget
    val setups = if (trace) 1 else 2
    require(Set("mcp_interactive", "mcp_ingest")(workload), s"unknown workload $workload")

    val out: Fields = mutable.LinkedHashMap.empty
    out("selftest_failures") = Checker.selfTest()

    val cpu0 = Env.procCpuSec(); val steal0 = Env.stealSec(); val wall0 = System.nanoTime()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(cpus, "graft-servebench")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    Log(f"session started: $sessionStart%.2fs")

    val first = new McpWorkload(spark, workload, seed, sf, work, "w")
    val setupTimes = (1 to setups).map(i => first.setUp(i == setups))
    // a traced run warms up with a whole round instead (below)
    val warmUp = if (trace) 0.0 else first.warmUp()

    val pl: Fields = mutable.LinkedHashMap.empty
    var traced = Seq.empty[Timed]
    var warmRound = Seq.empty[Timed]
    var twin: McpWorkload = null
    // paired replay (traced run): twin warehouses from the same seed get the
    // same calls, one side through the layer wrappers with the probe on;
    // each call runs on both, alternating which side goes first. An untimed
    // round on the first warehouse pays every call's first-use cost, which
    // would otherwise land on whichever side ran that call first; the twins
    // are built meanwhile, as nothing is timed then
    val mcp =
      if (!trace) first
      else {
        val twins = java.util.concurrent.Executors.newSingleThreadExecutor()
        val built = twins.submit(() => Seq("a", "b").map { tag =>
          val w = new McpWorkload(spark, workload, seed, sf, work, tag)
          w.setUp(keep = true)
          w
        })
        twins.shutdown()
        warmRound = first.loop(first.server, 0)._1
        first.tearDown()
        twin = built.get()(1)
        built.get().head
      }
    val whBytesSetup = Env.dirBytes(mcp.warehouse)
    val gc0 = Env.gcMs()
    val timed0 = System.nanoTime()
    val (calls, rounds, wallS) =
      if (!trace) mcp.loop(mcp.server, seconds)
      else {
        val probe = new SparkProbe(spark)
        probe.register()
        val tracer = new Tracer
        val meter = new WriteMeter(twin.warehouse)
        val ts = new TracedServer(spark, twin.warehouse.toString, tracer)
        val plain = ArrayBuffer.empty[Timed]
        val tc = ArrayBuffer.empty[Timed]
        val g0 = Env.gcMs()
        val (n, _) = Rounds.run(seconds) {
          mcp.nextRound().zip(twin.nextRound()).zipWithIndex.foreach { case ((ca, cb), i) =>
            def a(): Unit = plain += mcp.call(mcp.server, ca, None)
            def b(): Unit = { tc += twin.call(ts, cb, Some(tracer)); meter.tick() }
            if (i % 2 == 0) { a(); b() } else { b(); a() }
          }
        }
        pl("jvm.gc_ms") = Env.gcMs() - g0
        probe.drain()
        probe.unregister()
        val layers = new LayerSplit(probe, tracer, tc.toSeq, twin.warehouse)
        layers.metaBytes = meter.meta
        layers.dataBytes = meter.data
        layers.metrics(pl)
        // throughput over the calls' own time, without the meter's listings
        val plainS = plain.map(_.ms).sum / 1e3
        val cpsPlain = plain.size / plainS
        val cpsTraced = tc.size / (tc.map(_.ms).sum / 1e3)
        pl("trace.calls_per_s_untraced") = cpsPlain
        pl("trace.calls_per_s_traced") = cpsTraced
        pl("trace.calls_per_s_overhead") = cpsTraced - cpsPlain
        pl("trace.spans") = tracer.spans.size
        val spansOut = work.resolve("spans.jsonl")
        layers.writeSpans(spansOut)
        out("spans_file") = spansOut.toString
        // the twins must have served the same answers
        out("twin_mismatches") = mcp.answers.keys.filter(k => twin.answers.get(k) != mcp.answers.get(k)).toSeq
        traced = tc.toSeq
        (plain.toSeq, n, plainS)
      }
    val timed1 = System.nanoTime()
    val gcRun = Env.gcMs() - gc0
    val whBytesEnd = Env.dirBytes(mcp.warehouse)
    // heap the serving process still holds once the timed calls are done
    val heapRetained = Env.retainedHeapMb()
    Log(s"window: $rounds round(s), ${calls.size} calls")

    val m: Fields = mutable.LinkedHashMap.empty
    def byCls(c: String) = calls.filter(_.call.cls == c).map(_.ms)
    for (c <- Seq("select", "meta", "write") if byCls(c).nonEmpty) {
      val xs = byCls(c)
      m(s"${c}_p50_ms") = Stats.median(xs)
      m(s"${c}_n") = xs.size
      // the highest percentile with at least ten samples beyond it
      Seq(99.0, 90.0).find(p => xs.count(_ > Stats.pct(xs, p)) >= 10).foreach { p =>
        m(s"${c}_p${p.toInt}_ms") = Stats.pct(xs, p)
      }
    }
    if (mcp.ingest) {
      m("readback_p50_ms") = Stats.median(calls.filter(_.call.template == "readback").map(_.ms))
      m("maint_s") = Stats.median(byCls("maint").map(_ / 1e3))
      m("maint_n") = byCls("maint").size
    }
    m("rounds") = rounds
    m("calls_per_s") = calls.size / wallS
    m("setup_s") = Stats.median(setupTimes)
    m("setup_each_s") = setupTimes
    m("warmup_s") = warmUp
    m("space_amp") = whBytesEnd.toDouble / whBytesSetup
    m("peak_rss_mb") = Env.peakRssMb()
    m("heap_retained_mb") = heapRetained
    m("gc_ms") = gcRun
    m("per_template_p50_ms") = JObject(calls.groupBy(_.call.template).toList.sortBy(_._1)
      .map { case (k, v) => k -> JDouble(Stats.median(v.map(_.ms))) })

    if (trace) {
      // the operator slice: an untimed warm pass, then each operator timed
      // twice, without and with the probe, alternating which goes first
      val slice = new OperatorSlice(spark, sf, OperatorSlice.members)
      val ow = System.nanoTime()
      val oracleDir = work.resolve("oracle")
      Files.createDirectories(oracleDir)
      slice.warm(oracleDir)
      val warmS = (System.nanoTime() - ow) / 1e9
      // the first count() after the warm pass's writes runs cold
      slice.timed(OperatorSlice.members.head)
      val probe = new SparkProbe(spark)
      def probed(id: String) = {
        probe.register()
        try slice.timed(id) finally { probe.drain(); probe.unregister() }
      }
      val pairs = OperatorSlice.members.zipWithIndex.map { case (id, i) =>
        if (i % 2 == 0) { val p = slice.timed(id); (p, probed(id)) }
        else { val t = probed(id); (slice.timed(id), t) }
      }
      val jobs = probe.synchronized(probe.jobs.values.toVector).groupBy(_.group)
      val plainS = pairs.map(_._1._1).sum
      val tracedS = pairs.map(_._2._1).sum
      pl("ops.build_s") = slice.buildSecs
      pl("ops.warm_pass_s") = warmS
      pl("ops.suite_s") = tracedS
      pl("trace.suite_s_untraced") = plainS
      pl("trace.suite_s_overhead") = tracedS - plainS
      OperatorSlice.members.zip(pairs).foreach { case (id, (_, (secs, _))) =>
        val js = jobs.getOrElse(s"op-$id", Vector.empty)
        pl(s"ops.${id}_s") = secs
        pl(s"ops.${id}_jobs") = js.size
        pl(s"ops.${id}_task_s") = js.map(_.taskMs).sum / 1e3
      }
      out("oracle_dir") = oracleDir.toString
      out("op_rows") = JObject(OperatorSlice.members.zip(pairs).toList.map {
        case (id, (_, (_, n))) => id -> JLong(n)
      })
    }

    val all = warmRound ++ calls ++ traced
    val failed = all.count(_.error.isDefined)
    m("fail_frac") = failed.toDouble / all.size
    out("workload") = workload
    out("attempted") = all.size
    out("failed") = failed
    out("errors") = all.flatMap(t => t.error.map(e => s"${t.call.template}: ${t.call.query.take(120)} -> $e")).take(20)
    out("metrics") = JObject(m.toList)
    if (trace) out("per_layer") = JObject(pl.toList)
    if (!mcp.ingest) out("select_answers") =
      JObject(mcp.answers.toList.map { case (q, a) => q -> JString(a) })
    out("calls") = all.map(t => JArray(List(JString(t.call.template), JDouble(t.ms))))

    out("env") = ("nproc" -> Runtime.getRuntime.availableProcessors) ~
      ("spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "")) ~
      ("local_cores" -> cpus) ~
      ("heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)) ~
      ("sf" -> sf) ~ ("seed" -> seed) ~
      ("session_start_s" -> sessionStart) ~
      ("run_wall_s" -> (System.nanoTime() - wall0) / 1e9) ~
      ("proc_cpu_s" -> (Env.procCpuSec() - cpu0)) ~
      ("host_steal_s" -> (Env.stealSec() - steal0)) ~
      ("timed_wall_s" -> (timed1 - timed0) / 1e9)

    mcp.tearDown()
    if (twin != null) twin.tearDown()
    Files.writeString(Paths.get(opt("out")), JsonMethods.compact(JObject(out.toList)) + "\n")
    spark.stop()
  }
}

/** Builds, warms, drives and removes one MCP warehouse. */
final class McpWorkload(spark: SparkSession, workload: String, seed: Long, sf: String,
                        work: Path, tag: String) {
  import ServeBench.Timed
  val ingest = workload == "mcp_ingest"
  var warehouse: Path = _
  var server: McpServer = _
  private var checker: Checker = _
  private var session: Session = _
  /** First served answer of each SELECT on the current warehouse, for the
    * DuckDB check in run.py. */
  val answers = mutable.LinkedHashMap.empty[String, String]
  private var callNo = 0

  /** Fresh warehouse, its client-side model and a new server; returns its
    * seconds. Only the kept (last) set-up survives; earlier ones are
    * deleted after timing. */
  def setUp(keep: Boolean): Double = {
    val t0 = System.nanoTime()
    val dir = Files.createTempDirectory(work, "wh-")
    val cat = new LakeCatalog(spark, dir.toString)
    answers.clear()
    // tables load concurrently, as a bulk loader would; each table's files
    // and sidecars are its own, so the commits do not interact
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val counts = try {
      Lake.tables.map { t =>
        t -> pool.submit(() => {
          val df = spark.read.parquet(s"$sf/$t.parquet")
          cat.createTable(Lake.ns, t, df.schema)
          cat.append(Lake.ns, t, df)
        })
      }.map { case (t, f) => t -> f.get() }.toMap
    } finally pool.shutdown()
    Lake.analyzed.foreach { case (t, cols) => cat.analyzeTable(Lake.ns, t, cols) }
    checker = new Checker
    if (ingest) {
      val rnd = new scala.util.Random(seed)
      val orders = spark.read.parquet(s"$sf/orders.parquet")
      val keys = new java.util.BitSet()
      orders.select("o_orderkey").collect().foreach(r => keys.set(r.getLong(0).toInt))
      // staging: 60 rows that update existing orders + 60 fresh orders
      val existing = rnd.shuffle((0 until 150000).toVector).take(60).map(_.toLong)
      val fresh = (0 until 60).map(i => IngestSession.stageFresh + seed % 1000 * 100 + i)
      import org.apache.spark.sql.functions._
      val base = orders.where(col("o_orderkey").isin(existing: _*))
      val add = orders.where(col("o_orderkey") < 60)
        .withColumn("o_orderkey", col("o_orderkey") + lit(fresh.head))
      val stage = base.unionByName(add).withColumn("o_orderstatus", lit("M"))
      cat.createTable(Lake.ns, "orders_stage", orders.schema)
      cat.append(Lake.ns, "orders_stage", stage)
      session = new IngestSession(seed, keys, existing ++ fresh)
    } else session = new InteractiveSession(seed, counts)
    server = new McpServer(spark, dir.toString)
    warehouse = dir
    val secs = (System.nanoTime() - t0) / 1e9
    Log(f"set-up: $secs%.2fs")
    if (!keep) { Env.deleteTree(dir); warehouse = null }
    secs
  }

  /** Untimed, checked warm-up: one call of each metadata verb and the
    * first SELECT (interactive), or an INSERT and its read-backs (ingest).
    * Returns seconds. */
  def warmUp(): Double = {
    val t0 = System.nanoTime()
    session.warmUp().foreach { c =>
      call(server, c, None).error.foreach(e =>
        throw new IllegalStateException(s"warm-up call failed: ${c.query}: $e"))
    }
    (System.nanoTime() - t0) / 1e9
  }

  def nextRound(): Seq[Call] = session.round()

  /** Sends one call to `srv`, times and checks its reply. */
  def call(srv: McpServer, c: Call, tracer: Option[Tracer]): Timed = {
    callNo += 1
    val id = s"$tag-$callNo"
    tracer.foreach { t =>
      t.callId = id
      spark.sparkContext.setJobGroup(id, c.template, interruptOnCancel = false)
    }
    val line = JsonMethods.compact(("jsonrpc" -> "2.0") ~ ("id" -> callNo) ~
      ("method" -> "tools/call") ~
      ("params" -> (("name" -> c.tool) ~ ("arguments" -> ("query" -> c.query)))))
    val s = Clock.nowNs
    val reply = tracer match {
      case Some(t) => t.span("server", "handleLine")(srv.handleLine(line))
      case None => srv.handleLine(line)
    }
    val e = Clock.nowNs
    if (tracer.isDefined) spark.sparkContext.clearJobGroup()
    val r = reply.getOrElse("")
    if (c.cls == "select" && !answers.contains(c.query))
      checker.rows(r).foreach(rs => answers(c.query) = JsonMethods.compact(JArray(rs)))
    Timed(c, id, s, e, r, checker.check(c, r))
  }

  /** Closed loop: send the next call when the previous reply is in, in
    * whole rounds (see [[Rounds]]). Returns the calls, the rounds run and
    * the seconds they took. */
  def loop(srv: McpServer, seconds: Double): (Seq[Timed], Int, Double) = {
    val into = ArrayBuffer.empty[Timed]
    val (n, secs) = Rounds.run(seconds)(nextRound().foreach(c => into += call(srv, c, None)))
    (into.toSeq, n, secs)
  }

  def tearDown(): Unit = if (warehouse != null) Env.deleteTree(warehouse)
}

/** Work comes in whole rounds, each holding every verb and template of the
  * workload. A round starts only while the last round's duration still
  * fits in `seconds`, and at least one runs. */
object Rounds {
  /** Runs `round` so; returns the rounds run and the seconds they took. */
  def run(seconds: Double)(round: => Unit): (Int, Double) = {
    val start = System.nanoTime()
    var n = 0
    var last = 0L
    while (n == 0 || System.nanoTime() - start + last <= seconds * 1e9) {
      val r0 = System.nanoTime()
      round
      last = System.nanoTime() - r0
      n += 1
    }
    (n, (System.nanoTime() - start) / 1e9)
  }
}
