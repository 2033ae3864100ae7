package graft.servebench

import scala.util.Random

/** One client request: the MCP tool, its query, the verb class it is timed
  * under, the template it came from, and the check its reply must pass. */
final case class Call(cls: String, template: String, tool: String, query: String,
                      check: Check)

/** What a correct reply to a [[Call]] looks like. */
sealed trait Check
/** Any successful reply; SELECTs also keep a digest that must repeat. */
final case class Digest(key: String, minRows: Int) extends Check
/** Exactly `n` rows. */
final case class Rows(n: Int) extends Check
/** A single-count reply (`COUNT(*)`) equal to `n`. */
final case class CountIs(n: Long) extends Check
/** A write's status text reporting exactly these counts. */
final case class Reported(pattern: scala.util.matching.Regex, counts: Seq[Long]) extends Check
/** A successful reply with no further content check. */
case object Ok extends Check

/** The ten sf0.1 tables the warehouse holds, all in one namespace. */
object Lake {
  val ns = "lake"
  val tables = Seq("region", "nation", "supplier", "customer", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  val analyzed = Map(
    "orders" -> Seq("o_orderkey", "o_totalprice", "o_custkey"),
    "customer" -> Seq("c_custkey", "c_acctbal", "c_nationkey"))
}

/** A seeded client session. A round carries every verb and template of
  * the workload once in a fixed order; only literals and keys depend on the
  * seed, so every seed yields the same mix. */
trait Session {
  /** Untimed, checked calls that pay first-use costs. */
  def warmUp(): Seq[Call]
  /** The next round of calls. */
  def round(): Seq[Call]
}

/** The analyst session: metadata verbs and SELECT templates, each template
  * with a seeded literal. Every ORDER BY is total, so each SELECT has
  * exactly one right answer (run.py compares it with DuckDB). */
final class InteractiveSession(seed: Long, rowCounts: Map[String, Long]) extends Session {
  private val rnd = new Random(seed)
  private def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
  private val t = Lake.ns
  private val pruneLo = Seq(0, 20000, 40000, 60000, 80000, 100000, 120000)

  /** (template, literal, SQL, minimum rows): one seeded literal per
    * template for the whole run. Double aggregates are rounded so that the
    * order Spark merges partial sums in cannot change an answer. */
  val templates: Seq[(String, Any, String, Int)] = {
    val q = pick(5, 10, 15, 20, 25, 30, 35, 40, 45)
    val b = pick(-500, 0, 1000, 2500, 5000, 7500)
    val p = pick(50000, 100000, 150000, 200000, 250000)
    val q4 = pick(10, 20, 30, 40, 45)
    val prio = pick("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val k = pick(0, 20000, 40000, 60000, 80000, 100000, 120000, 140000)
    Seq(
      ("agg", q, "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty, " +
        s"ROUND(AVG(l_discount), 6) AS disc FROM lineitem WHERE l_quantity > $q " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus", 1),
      ("join2", b, "SELECT n_name, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS bal FROM customer " +
        s"JOIN nation ON c_nationkey = n_nationkey WHERE c_acctbal > $b " +
        "GROUP BY n_name ORDER BY n_name", 1),
      ("join3", p, "SELECT r_name, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS rev FROM orders " +
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        s"JOIN region ON n_regionkey = r_regionkey WHERE o_totalprice > $p " +
        "GROUP BY r_name ORDER BY r_name", 1),
      ("join4", q4, "SELECT n_name, COUNT(*) AS n, " +
        "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS rev " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        s"WHERE l_quantity > $q4 GROUP BY n_name ORDER BY n_name", 1),
      ("topk", prio, "SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        s"WHERE o_orderpriority = '$prio' ORDER BY o_totalprice DESC, o_orderkey LIMIT 10", 10),
      // (l_orderkey, l_linenumber) repeats in this data set: every column
      // is a sort key, so the first 1000 rows are one well-defined answer
      ("wide", k, s"SELECT * FROM lineitem WHERE l_orderkey >= $k ORDER BY l_orderkey, " +
        "l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, " +
        "l_tax, l_returnflag, l_linestatus, l_shipdate LIMIT 1000", 1000))
  }

  private def selects(): Seq[Call] = templates.map { case (name, l, sql, minRows) =>
    Call("select", name, "query_table", sql, Digest(s"$name|$l", minRows))
  }

  /** Four passes over the metadata verbs and the first SELECT. Metadata
    * calls take 20–40 ms and were still getting faster after one pass, so
    * their median drifted with how far the JIT had got in each run. */
  def warmUp(): Seq[Call] =
    Seq.fill(4)(InteractiveSession.metaVerbs).flatten.map(meta) :+ selects().head

  private var metaNo = 0
  /** A metadata call; tables rotate over the warehouse, only the pruning
    * range is seeded. */
  private def meta(verb: String): Call = {
    val mt = Lake.tables(metaNo % Lake.tables.size)
    val st = Lake.analyzed.keys.toSeq.sorted.apply(metaNo % Lake.analyzed.size)
    metaNo += 1
    verb match {
      case "list_ns" => Call("meta", verb, "query_catalog", "LIST NAMESPACES", Rows(1))
      case "list_tables" =>
        Call("meta", verb, "query_catalog", s"LIST TABLES IN $t", Rows(Lake.tables.size))
      case "describe" =>
        Call("meta", verb, "query_catalog", s"DESCRIBE TABLE $t.$mt", Digest(s"describe|$mt", 1))
      case "snapshots" =>
        Call("meta", verb, "query_catalog", s"SHOW SNAPSHOTS IN $t.$mt", Digest(s"snapshots|$mt", 1))
      case "files" =>
        Call("meta", verb, "query_catalog", s"SHOW FILES IN $t.$mt", Digest(s"files|$mt", 1))
      case "stats" =>
        Call("meta", verb, "query_catalog", s"SHOW STATS IN $t.$st", Rows(Lake.analyzed(st).size))
      case "count" =>
        Call("meta", verb, "query_table", s"SELECT COUNT(*) FROM $t.$mt", CountIs(rowCounts(mt)))
      case "explain_pruning" =>
        val lo = pick(pruneLo: _*)
        Call("meta", verb, "query_catalog",
          s"EXPLAIN PRUNING $t.orders WHERE o_orderkey BETWEEN $lo AND ${lo + 5000}",
          Digest(s"pruning|$lo", 2))
    }
  }

  /** Every SELECT template once, each after the metadata lookups of
    * [[InteractiveSession.metaVerbs]]. */
  def round(): Seq[Call] = selects().flatMap(sel => InteractiveSession.metaVerbs.map(meta) :+ sel)
}

object InteractiveSession {
  /** The metadata lookups before each SELECT, in order: 54 calls a round,
    * COUNT(*) 12 times and every other verb 6 times. The five cheapest
    * verbs (about 20–40 ms at HEAD) make 36 of the 54, so the median always
    * falls among them, never on the edge of SHOW STATS or the 100 ms+
    * DESCRIBE and EXPLAIN PRUNING. */
  val metaVerbs = Seq("count", "files", "list_ns", "describe", "list_tables", "count",
    "stats", "snapshots", "explain_pruning")
}

/** The ingest stream on `lake.orders`. A round is every write verb once,
  * in [[IngestSession.order]], each followed by a read-back SELECT on the
  * key range it touched and the metadata read-backs; then MAINTAIN ALL, the
  * metadata read-backs and SHOW FILES. Keys and values are seeded. A
  * client-side model of the live order keys predicts every reported
  * count. */
final class IngestSession(seed: Long, liveKeys: java.util.BitSet,
                          stageKeys: Seq[Long]) extends Session {
  private val rnd = new Random(seed)
  private val t = s"${Lake.ns}.orders"
  private var nextKey = IngestSession.insertBase
  private def liveIn(lo: Long, hi: Long): Long = {
    var n = 0L
    var k = liveKeys.nextSetBit(lo.toInt)
    while (k >= 0 && k <= hi) { n += 1; k = liveKeys.nextSetBit(k + 1) }
    n
  }
  private def readBack(lo: Long, hi: Long): Call =
    Call("select", "readback", "query_table",
      s"SELECT COUNT(*) AS n FROM orders WHERE o_orderkey BETWEEN $lo AND $hi",
      CountIs(liveIn(lo, hi)))
  /** What a client checks after a commit: the row count (manifest fast
    * path) and the snapshot log. Both take about 20–40 ms at HEAD, so the
    * median of a round's metadata calls (12 of these and one SHOW FILES of
    * about 130 ms) falls in the middle of one latency range. */
  private def metaReadBacks(): Seq[Call] = Seq(
    Call("meta", "count", "query_table", s"SELECT COUNT(*) FROM $t",
      CountIs(liveKeys.cardinality().toLong)),
    Call("meta", "snapshots", "query_catalog", s"SHOW SNAPSHOTS IN $t", Ok))

  /** An INSERT with its read-backs, then the metadata read-backs ten more
    * times (see [[InteractiveSession.warmUp]]). */
  def warmUp(): Seq[Call] = step("insert") ++ Seq.fill(10)(metaReadBacks()).flatten

  def round(): Seq[Call] = IngestSession.order.flatMap(step) ++
    (Call("maint", "maintain_all", "query_catalog", s"MAINTAIN ALL $t", Rows(5)) +: metaReadBacks() :+
      Call("meta", "files", "query_catalog", s"SHOW FILES IN $t", Ok))

  /** One write and its read-backs; the model is updated as the call is
    * built, so each check holds the state after the write. */
  private def step(verb: String): Seq[Call] = {
    val lo = rnd.nextInt(149000).toLong
    val hi = lo + 20 + rnd.nextInt(60)
    val (write, range) = verb match {
      case "insert" =>
        val k = nextKey
        nextKey += 1
        liveKeys.set(k.toInt)
        // o_orderdate is left out (null): the gateway's INSERT cannot
        // coerce a literal to the TIMESTAMP_NTZ type sf0.1 stores it as
        (Call("write", "insert", "query_table",
          s"INSERT INTO $t (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority) " +
            f"VALUES ($k, ${rnd.nextInt(15000)}, 'O', ${1000 + rnd.nextInt(100000)}.${rnd.nextInt(100)}%02d, '3-MEDIUM')",
          Reported("""Inserted (\d+) row""".r, Seq(1L))), (k, k))
      case "delete_mor" =>
        val n = liveIn(lo, hi)
        liveKeys.clear(lo.toInt, hi.toInt + 1)
        (Call("write", "delete_mor", "query_table",
          s"DELETE MOR FROM $t WHERE o_orderkey BETWEEN $lo AND $hi",
          Reported("""Marked (\d+) rows deleted""".r, Seq(n))), (lo, hi))
      case "update_mor" =>
        (Call("write", "update_mor", "query_table",
          s"UPDATE MOR $t SET o_orderpriority = '${1 + rnd.nextInt(5)}-BENCH' " +
            s"WHERE o_orderkey BETWEEN $lo AND $hi",
          Reported("""Updated (\d+) rows""".r, Seq(liveIn(lo, hi)))), (lo, hi))
      case "delete_eq" =>
        val keys = Seq.fill(6)(lo + rnd.nextInt((hi - lo + 1).toInt)).distinct.sorted
        val n = keys.count(k => liveKeys.get(k.toInt)).toLong
        keys.foreach(k => liveKeys.clear(k.toInt))
        (Call("write", "delete_eq", "query_table",
          s"DELETE EQ FROM $t WHERE o_orderkey IN (${keys.mkString(", ")})",
          Reported("""Equality delete matched (\d+) rows""".r, Seq(n))), (lo, hi))
      case "merge_mor" =>
        val upd = stageKeys.count(k => liveKeys.get(k.toInt)).toLong
        stageKeys.foreach(k => liveKeys.set(k.toInt))
        (Call("write", "merge_mor", "query_table",
          s"MERGE MOR INTO $t USING ${Lake.ns}.orders_stage ON o_orderkey",
          Reported("""(\d+) updated, (\d+) inserted""".r, Seq(upd, stageKeys.size - upd))),
          (stageKeys.min, stageKeys.max))
    }
    write +: readBack(range._1, range._2) +: metaReadBacks()
  }
}

object IngestSession {
  /** First key the INSERT stream uses; the staging table's fresh keys sit
    * between the sf0.1 keys (< 150000) and this. */
  val insertBase = 400000L
  val stageFresh = 300000L
  /** The write verbs of a round, in order. */
  val order = Seq("insert", "delete_mor", "update_mor", "merge_mor", "delete_eq")
}
