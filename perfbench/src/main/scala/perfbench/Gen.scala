package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded randomness. Every generator draws from its own stream, derived
  * from the run seed and a fixed salt, so adding a draw to one generator
  * never shifts another's inputs. */
final class Rng(seed: Long, salt: String) {
  private val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
    salt.foldLeft(1125899906842597L)((h, c) => 31 * h + c))
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def double(): Double = r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p
  def gaussian(): Double = r.nextGaussian()
  def pick[T](xs: IndexedSeq[T]): T = xs(int(xs.size))
}

/** Zipf(s) over ranks 0 until n: rank 0 is the most frequent. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def sample(rng: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.double())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** A FHIR document tree that renders to both FHIR JSON and FHIR XML. */
sealed trait Doc
final case class Obj(fields: (String, Doc)*) extends Doc
final case class Arr(items: Doc*) extends Doc
final case class Str(v: String) extends Doc
final case class Num(v: String) extends Doc
final case class Bool(v: Boolean) extends Doc

object Doc {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c => c.toString
  }
  private def xesc(s: String): String = s.flatMap {
    case '"' => "&quot;"
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case c => c.toString
  }

  def json(d: Doc): String = d match {
    case Obj(fs @ _*) =>
      fs.map { case (k, v) => "\"" + k + "\":" + json(v) }.mkString("{", ",", "}")
    case Arr(xs @ _*) => xs.map(json).mkString("[", ",", "]")
    case Str(v) => "\"" + esc(v) + "\""
    case Num(v) => v
    case Bool(v) => v.toString
  }

  /** A resource (an [[Obj]] whose first field is resourceType) as FHIR XML:
    * the element is named after the type, primitives are `value`
    * attributes, repeated elements are arrays and an extension's `url` is an
    * attribute. */
  def xml(resource: Doc, root: Boolean = true): String = resource match {
    case Obj(("resourceType", Str(t)), rest @ _*) =>
      val ns = if (root) " xmlns=\"http://hl7.org/fhir\"" else ""
      s"<$t$ns>" + rest.map { case (k, v) => element(k, v) }.mkString + s"</$t>"
    case other => throw new IllegalArgumentException(s"not a resource: $other")
  }

  private def element(name: String, d: Doc): String = d match {
    case Arr(xs @ _*) => xs.map(element(name, _)).mkString
    case Str(v) => s"""<$name value="${xesc(v)}"/>"""
    case Num(v) => s"""<$name value="$v"/>"""
    case Bool(v) => s"""<$name value="$v"/>"""
    case o @ Obj(("resourceType", _), _*) =>
      s"<$name>" + xml(o, root = false) + s"</$name>"
    case Obj(fs @ _*) =>
      val (attrs, kids) = fs.partition { case (k, v) =>
        k == "url" && v.isInstanceOf[Str] && name == "extension"
      }
      val a = attrs.map { case (k, Str(v)) => s""" $k="${xesc(v)}""""
        case _ => "" }.mkString
      s"<$name$a>" + kids.map { case (k, v) => element(k, v) }.mkString +
        s"</$name>"
  }

  def coding(system: String, code: String): Doc =
    Obj("system" -> Str(system), "code" -> Str(code))
}

/** A generated code tree. `parent(i)` is -1 for the root; node i is at
  * depth `depth(i)`. A tree's ancestor-pair count is the sum of depths. */
final case class Tree(codes: IndexedSeq[String], parent: IndexedSeq[Int],
    depth: IndexedSeq[Int]) {
  def size: Int = codes.size
  def ancestorPairs: Long = depth.map(_.toLong).sum
  lazy val children: Map[Int, IndexedSeq[Int]] =
    parent.indices.filter(parent(_) >= 0).groupBy(parent)
  /** The node and all of its descendants. */
  def subtree(i: Int): IndexedSeq[Int] = {
    val out = IndexedSeq.newBuilder[Int]
    var stack = List(i)
    while (stack.nonEmpty) {
      val n = stack.head
      stack = stack.tail
      out += n
      stack = children.getOrElse(n, IndexedSeq.empty).toList ++ stack
    }
    out.result()
  }
}

object Tree {
  /** `n` nodes whose deepest path has `maxDepth` edges: a spine of that
    * length, then every other node hung under a random node above the
    * deepest level, biased towards recent nodes so paths stay long. */
  def apply(rng: Rng, n: Int, maxDepth: Int, code: Int => String): Tree = {
    require(n > maxDepth)
    val parent = Array.fill(n)(-1)
    val depth = Array.fill(n)(0)
    (1 to maxDepth).foreach { i => parent(i) = i - 1; depth(i) = i }
    (maxDepth + 1 until n).foreach { i =>
      var p = if (rng.chance(0.5)) i - 1 - rng.int(math.min(i, 64))
        else rng.int(i)
      while (depth(p) >= maxDepth) p = parent(p)
      parent(i) = p
      depth(i) = depth(p) + 1
    }
    Tree(IndexedSeq.tabulate(n)(code), parent.toIndexedSeq,
      depth.toIndexedSeq)
  }

  /** LOINC-style codes: a number and a check digit. */
  def loincCode(i: Int): String = s"${10000 + i}-${(i * 7 + 3) % 10}"
  /** SNOMED-style numeric concept ids. */
  def snomedCode(i: Int): String = s"${100000 + i * 13}"
}

object Io {
  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }
  def sha256(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString
  }
  /** Order-independent digest of a multiset of lines. */
  def multisetHash(lines: Iterable[String]): String =
    sha256(lines.toSeq.sorted.mkString("\n"))
}
