package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Order-insensitive digest of one result column. Floating columns keep
  * their sum and absolute sum, compared with a relative tolerance; every
  * other column keeps a sum of per-value hashes (doubles nested inside
  * arrays, maps or structs hash at six significant digits), compared
  * exactly. */
final case class ColSum(name: String, floating: Boolean, sum: Double,
    absSum: Double, hash: Long)
final case class Summary(rows: Long, cols: Seq[ColSum])

/** Golden results taken at the commit that defined the benchmark: a
  * digest of every registry key's result over the fixed corpus. The file
  * is read from `bench.goldens`. */
object Goldens {
  private val mapper = new ObjectMapper()
  private lazy val root: Option[JsonNode] = sys.props.get("bench.goldens")
    .map(Paths.get(_)).filter(Files.isRegularFile(_))
    .map(p => mapper.readTree(p.toFile))

  lazy val sweep: Map[String, Summary] = root.map(_.path("sweep")).map { n =>
    n.properties.asScala.map { e =>
      val cols = e.getValue.path("cols").elements.asScala.map { c =>
        ColSum(c.get(0).asText, c.get(1).asBoolean, c.get(2).asDouble,
          c.get(3).asDouble, c.get(4).asLong)
      }.toSeq
      e.getKey -> Summary(e.getValue.path("rows").asLong, cols)
    }.toMap
  }.getOrElse(Map.empty)

  private def norm(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.6g"
    case f: Float => f"${f.toDouble}%.6g"
    case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case other => other.toString
  }

  def summarize(df: DataFrame): Summary = {
    val rows = df.collect()
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    Summary(rows.length, fields.map { case (f, i) =>
      val floating = f.dataType == DoubleType || f.dataType == FloatType
      if (floating) {
        val xs = rows.map(r => if (r.isNullAt(i)) Double.NaN
          else r.get(i).asInstanceOf[Number].doubleValue)
        val ok = xs.filterNot(x => x.isNaN || x.isInfinite)
        ColSum(f.name, floating = true, ok.sum, ok.map(math.abs).sum,
          xs.count(x => x.isNaN || x.isInfinite).toLong)
      } else {
        val h = rows.iterator.map(r => MurmurHash3.stringHash(norm(r.get(i))).toLong)
          .foldLeft(0L)(_ + _)
        ColSum(f.name, floating = false, 0.0, 0.0, h)
      }
    }.toSeq)
  }

  def matches(g: Summary, got: Summary): Boolean =
    g.rows == got.rows && g.cols.size == got.cols.size &&
      g.cols.zip(got.cols).forall { case (a, b) =>
        val tol = 1e-6 * math.max(1.0, a.absSum)
        a.name == b.name && a.floating == b.floating && a.hash == b.hash &&
          math.abs(a.sum - b.sum) <= tol && math.abs(a.absSum - b.absSum) <= tol
      }

  def show(s: Summary): String = s"${s.rows} rows, " +
    s.cols.map(c => if (c.floating) f"${c.name}=Σ${c.sum}%.6g" else s"${c.name}#${c.hash}")
      .mkString(" ")

  /** One key per line, so a re-recorded golden file diffs by key. */
  def toJson(sweep: Map[String, Summary]): String =
    sweep.toSeq.sortBy(_._1).map { case (k, s) =>
      val n = mapper.createObjectNode()
      n.put("rows", s.rows)
      val cols = n.putArray("cols")
      s.cols.foreach { c =>
        cols.addArray().add(c.name).add(c.floating).add(c.sum).add(c.absSum).add(c.hash)
      }
      s"    ${mapper.writeValueAsString(k)}: ${mapper.writeValueAsString(n)}"
    }.mkString("{\n  \"sweep\": {\n", ",\n", "\n  }\n}")
}
