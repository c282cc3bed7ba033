package perfbench

import graft.core.{AttrSet, Jd, Mvd}
import org.apache.spark.sql.Row

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Attribute renaming between the seed-permuted relation the program sees
  * and the fixed attribute order the goldens are written in: attribute
  * `i` of the permuted relation is original attribute `perm(i)`.
  */
final case class Renaming(perm: IndexedSeq[Int]) {
  private val inv: Map[Int, Int] = perm.zipWithIndex.toMap
  val n: Int = perm.length
  def back(s: AttrSet): AttrSet = AttrSet.of(s.toSeq.map(perm))
  def forward(s: AttrSet): AttrSet = AttrSet.of(s.toSeq.map(inv))

  /** Canonical, permutation-free renderings of mined results. */
  def mvd(m: Mvd): String = {
    val x = back(m.lhs)
    val rest = AttrSet.full(n).minus(x)
    val y0 = back(m.rhs.minus(m.lhs))
    // X ->> Y and X ->> (R-X)-Y are one dependency: keep the half holding min(R-X)
    val y = if (y0.contains(rest.toSeq.head)) y0 else rest.minus(y0)
    s"mvd $x ->> $y"
  }
  def sep(s: AttrSet, a: Int, b: Int): String =
    s"sep ${back(s)} ${math.min(perm(a), perm(b))},${math.max(perm(a), perm(b))}"
  def jd(j: Jd): String = s"jd ${back(j.lhs)} | ${j.components.map(back).sorted.mkString(" ")}"
  /** A JD in the fixed attribute order. */
  def back(j: Jd): Jd = Jd(back(j.lhs), j.components.map(back).sorted, j.measure)
}

object Renaming {
  def identity(n: Int): Renaming = Renaming(0 until n)
  def seeded(n: Int, seed: Long): Renaming = Renaming(new scala.util.Random(seed).shuffle((0 until n).toVector))
}

/** Order-free digest of a query result: columns sorted by name, values
  * rendered canonically (floats at 9 decimals), rows sorted, SHA-256.
  */
object Digest {
  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).bigDecimal.stripTrailingZeros.toPlainString
    case f: Float => value(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case x => x.toString
  }

  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns).mkString(",").getBytes(UTF_8))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes(UTF_8)) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Golden files: sorted text lines, committed under `perfbench/goldens`. */
object Goldens {
  def read(p: Path): Seq[String] =
    if (Files.exists(p)) Files.readAllLines(p, UTF_8).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
    else throw new IllegalStateException(s"missing golden file $p")

  def write(p: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, lines.mkString("", "\n", "\n"), UTF_8)
  }
}
