package graft.servebench

import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.collection.mutable

/** Judges MCP replies against their [[Check]]. Every reply must be a
  * JSON-RPC result with `isError:false`; SELECT digests are remembered per
  * (template, literal) and every repeat must reproduce the first answer. */
final class Checker {
  private val digests = mutable.HashMap.empty[String, String]

  /** Rows of a successful reply, or the reason it is not one. */
  def rows(reply: String): Either[String, List[JValue]] =
    try {
      val j = JsonMethods.parse(reply)
      (j \ "result" \ "isError", j \ "result" \ "content") match {
        case (JBool(false), JArray(JObject(fs) :: _)) =>
          fs.collectFirst { case ("text", JString(text)) => text } match {
            case Some(text) if text.startsWith("Results") && text.contains(":\n") =>
              JsonMethods.parse(text.substring(text.indexOf(":\n") + 2)) match {
                case JArray(rs) => Right(rs)
                case _ => Left("result body is not a row array")
              }
            case _ => Left("no result text")
          }
        case (JBool(true), c) => Left("isError: " + JsonMethods.compact(c).take(300))
        case _ => Left("not a tools/call result: " + reply.take(300))
      }
    } catch { case e: Exception => Left("unparseable reply: " + e.getMessage) }

  private def longOf(v: JValue): Option[Long] = v match {
    case JInt(n) => Some(n.toLong)
    case JLong(n) => Some(n)
    case _ => None
  }

  /** None when `reply` is a correct answer to `call`, else why not. */
  def check(call: Call, reply: String): Option[String] = rows(reply) match {
    case Left(err) => Some(err)
    case Right(rs) => call.check match {
      case Ok => None
      case Rows(n) => if (rs.size == n) None else Some(s"expected $n rows, got ${rs.size}")
      case CountIs(n) => rs match {
        case List(JObject(List((_, v)))) if longOf(v).contains(n) => None
        case _ => Some(s"expected count $n, got ${JsonMethods.compact(JArray(rs)).take(200)}")
      }
      case Reported(pattern, counts) =>
        val status = rs.headOption.map(_ \ "status") match {
          case Some(JString(s)) => s
          case _ => ""
        }
        pattern.findFirstMatchIn(status).map(m => (1 to m.groupCount).map(m.group(_).toLong)) match {
          case Some(got) if got == counts => None
          case _ => Some(s"expected counts ${counts.mkString(",")} in '$status'")
        }
      case Digest(key, minRows) =>
        if (rs.size < minRows) Some(s"expected at least $minRows rows, got ${rs.size}")
        else {
          val d = sha256(JsonMethods.compact(JArray(rs)))
          digests.get(key) match {
            case Some(prev) if prev != d => Some(s"answer for $key differs from its first answer")
            case Some(_) => None
            case None => digests(key) = d; None
          }
        }
    }
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

object Checker {
  private def reply(text: String, isError: Boolean = false): String =
    JsonMethods.compact(JObject("jsonrpc" -> JString("2.0"), "id" -> JInt(1),
      "result" -> JObject(
        "content" -> JArray(List(JObject("type" -> JString("text"), "text" -> JString(text)))),
        "isError" -> JBool(isError))))
  private def rowsReply(body: String) = reply("Results (execution time: 0.01s):\n" + body)

  /** Plants wrong answers of every kind the checks cover and confirms each
    * is caught while the matching right answer passes. Returns the
    * failures of the self-test itself (empty = the checker works). */
  def selfTest(): Seq[String] = {
    val c = new Checker
    val sel = Call("select", "agg", "query_table", "SELECT 1", Digest("agg|1", 1))
    val cases: Seq[(String, Call, String, Boolean)] = Seq(
      ("first digest", sel, rowsReply("""[{"a":1},{"a":2}]"""), true),
      ("repeat digest", sel, rowsReply("""[{"a":1},{"a":2}]"""), true),
      ("planted wrong repeat", sel, rowsReply("""[{"a":1},{"a":3}]"""), false),
      ("isError reply", Call("meta", "x", "query_catalog", "X", Ok),
        reply("Error executing query: boom", isError = true), false),
      ("right count", Call("meta", "count", "query_table", "C", CountIs(7)),
        rowsReply("""[{"count(1)":7}]"""), true),
      ("planted wrong count", Call("meta", "count", "query_table", "C", CountIs(7)),
        rowsReply("""[{"count(1)":8}]"""), false),
      ("right write report", Call("write", "delete_mor", "query_table", "D",
        Reported("""Marked (\d+) rows deleted""".r, Seq(6))),
        rowsReply("""[{"status":"Marked 6 rows deleted (merge-on-read)"}]"""), true),
      ("planted wrong write report", Call("write", "delete_mor", "query_table", "D",
        Reported("""Marked (\d+) rows deleted""".r, Seq(6))),
        rowsReply("""[{"status":"Marked 5 rows deleted (merge-on-read)"}]"""), false),
      ("planted short result", Call("meta", "list", "query_catalog", "L", Rows(10)),
        rowsReply("""[{"t":"a"}]"""), false))
    cases.flatMap { case (name, call, r, good) =>
      val verdict = c.check(call, r)
      if (verdict.isEmpty == good) None
      else Some(s"self-test '$name': expected ${if (good) "pass" else "a caught failure"}, got $verdict")
    }
  }
}
