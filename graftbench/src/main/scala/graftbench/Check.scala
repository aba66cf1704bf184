package graftbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digests of tables and query results, computed the
  * way `gen.py` computes the ground truth: each row is rendered as text
  * (columns joined by `|`, null as `\N`, doubles as round(x * 1e6),
  * timestamps as epoch seconds), hashed to the first 60 bits of its MD5,
  * and the hashes are summed mod 2^64. */
final case class Digest(n: Long, hash: String) {
  override def toString: String = s"$n rows, hash $hash"
}

object Check {
  private val Mod = BigInt(1) << 64

  def render(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c * 1e6).cast("long").cast("string")
    case TimestampType => unix_seconds(c).cast("string")
    case _ => c.cast("string")
  }

  private def rowHash(df: DataFrame): Column =
    conv(substring(md5(concat_ws("|", df.schema.fields.toSeq.map(f =>
      coalesce(render(col(f.name), f.dataType), lit("\\N"))): _*)), 1, 15), 16, 10)
      .cast(DecimalType(38, 0))

  /** Digests of several tables in one job. */
  def tableDigests(tables: Seq[(String, DataFrame)]): Map[String, Digest] = {
    val hashed = tables.map { case (name, df) =>
      df.select(lit(name).as("t"), rowHash(df).as("h")) }
    val rows = hashed.reduce(_ unionByName _).groupBy("t")
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s")).collect()
    val got = rows.map(r => r.getString(0) ->
      Digest(r.getLong(1), (BigInt(r.getDecimal(2).toBigInteger) % Mod).toString)).toMap
    tables.map { case (name, _) => name -> got.getOrElse(name, Digest(0, "0")) }.toMap
  }

  private def md60(text: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
    val hex = d.map(b => f"${b & 0xff}%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  private def cell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => math.round(d * 1e6).toString
    case x => x.toString
  }

  /** Digest of result rows: the set of distinct rows when `distinct`,
    * else the multiset. */
  def rowsDigest(rows: Array[Row], distinct: Boolean): Digest = {
    val texts = rows.toSeq.map(r => r.toSeq.map(cell).mkString("|"))
    val used = if (distinct) texts.distinct else texts
    var h = 0L
    used.foreach(t => h += md60(t))
    Digest(used.size.toLong, java.lang.Long.toUnsignedString(h))
  }

  def expected(node: JsonNode): Digest =
    Digest(node.get("n").asLong(), node.get("hash").asText())

  def tablesOf(node: JsonNode): Map[String, Digest] = {
    val out = Map.newBuilder[String, Digest]
    node.fields().forEachRemaining(e => out += e.getKey -> expected(e.getValue))
    out.result()
  }

  /** Mismatch messages, empty when every table matches. */
  def compareTables(got: Map[String, Digest], want: Map[String, Digest]): Seq[String] =
    want.toSeq.sortBy(_._1).collect {
      case (t, w) if !got.get(t).contains(w) => s"table $t: got ${got.get(t)}, want $w"
    }

  /** JSON reading and writing (Scala maps, sequences and options too). */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def readJson(path: String): JsonNode = json.readTree(new java.io.File(path))
}
