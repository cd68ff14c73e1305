package linkbench

import java.security.MessageDigest
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/**
 * Seeded transcript generator. The engine sees only the table it
 * writes, in the 6-column transcript schema.
 *
 * Two shapes:
 *  - `chains`: conversation lengths are skewed towards short ones
 *    (2 + (maxLen-1)·u², so a few percent reach `maxLen`), and every
 *    conversation has its own tools: its first and last turns open and
 *    close a session tool, and a middle turn calls one of `tools` with
 *    probability `toolProb`. The link graph is a forest of thin
 *    components, one per conversation. Because the longest ones are
 *    capped by their two end tools, the diameter, and with it every
 *    algorithm's superstep count, is the same for every seed.
 *  - `hubs`: every conversation has `maxLen` turns, and a turn calls a
 *    tool with probability `toolProb`, drawn log-uniformly from `tools`
 *    names shared by all conversations, so the most popular tools
 *    collect a large share of all calls and become hub vertices.
 */
final case class Shape(kind: String, convs: Int, maxLen: Int, toolProb: Double, tools: Int)

final case class GenStats(
    rows: Long,
    convs: Int,
    maxConvLen: Int,
    maxToolInDegree: Int,
    distinctTools: Int,
    digest: String)

object Gen {

  val schema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("tool", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = false)))

  private val epochMs = 1767225600000L // 2026-01-01T00:00:00Z

  /** The table's rows in a fixed order, and its shape statistics with a
   * SHA-256 digest over every row. A pure function of its arguments. */
  def generate(shape: Shape, seed: Long): (IndexedSeq[Row], GenStats) = {
    val r = new SplittableRandom(seed)
    val md = MessageDigest.getInstance("SHA-256")
    val toolUse = mutable.HashMap[String, Int]()
    val rows = mutable.ArrayBuffer[Row]()
    var maxLen = 0
    val logTools = math.log(shape.tools.toDouble)
    for (c <- 0 until shape.convs) {
      val len = shape.kind match {
        case "chains" =>
          val u = r.nextDouble()
          2 + ((shape.maxLen - 1) * u * u).toInt
        case "hubs" => shape.maxLen
      }
      maxLen = math.max(maxLen, len)
      val conv = f"c$c%07d"
      val convStartMs = epochMs + c * 3600000L + r.nextInt(3600000)
      for (t <- 0 until len) {
        val called = r.nextDouble() < shape.toolProb
        val tool = shape.kind match {
          case "chains" =>
            if (t == 0) s"$conv.open"
            else if (t == len - 1) s"$conv.close"
            else if (called) s"$conv.t${r.nextInt(shape.tools)}"
            else null
          case "hubs" =>
            if (!called) null
            else s"h${math.min((math.exp(r.nextDouble() * logTools) - 1).toInt, shape.tools - 1)}"
        }
        if (tool != null) toolUse(tool) = toolUse.getOrElse(tool, 0) + 1
        val role = if (tool != null) "tool" else if (t % 2 == 0) "user" else "assistant"
        val text = s"m${java.lang.Long.toHexString(r.nextLong())}"
        val tsMs = convStartMs + t * 15000L + r.nextInt(15000)
        rows += Row(conv, t, role, text, tool, new Timestamp(tsMs))
        md.update(s"$conv|$t|$role|$text|$tool|$tsMs\n".getBytes("UTF-8"))
      }
    }
    val digest = md.digest().map(b => f"$b%02x").mkString
    val maxTool = if (toolUse.isEmpty) 0 else toolUse.values.max
    (rows.toIndexedSeq,
      GenStats(rows.size.toLong, shape.convs, maxLen, maxTool, toolUse.size, digest))
  }
}
