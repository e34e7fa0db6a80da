package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** Output checks written without Spark: plain loops over the generated
  * records and the files the jobs wrote. Each returns a failure message,
  * or None when the output is right. */
object Checks {

  /** Febrl CSV rows split on ',' the way the reference reads them (no
    * quoting), padded to the 14 Febrl columns. */
  def readFebrl(path: String): IndexedSeq[Array[String]] =
    Files.readAllLines(new File(path).toPath, StandardCharsets.UTF_8).asScala
      .drop(1).filter(_.nonEmpty)
      .map(l => l.split(",", -1).padTo(14, ""))
      .toIndexedSeq

  /** Spark's `trim`: strips spaces only. */
  def trim(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** Ground truth: the middle token of the two ids agrees. */
  def isDuplicate(id1: String, id2: String): Boolean =
    trim(id1).split("-")(1) == trim(id2).split("-")(1)

  /** Order-independent 64-bit checksum of a set of (id1, id2) pairs. */
  def pairHash(id1: String, id2: String): Long = {
    val s = id1 + "|" + id2
    (MurmurHash3.stringHash(s, 1).toLong << 32) | (MurmurHash3.stringHash(s, 2) & 0xffffffffL)
  }

  final case class PairSet(count: Long, checksum: Long)

  /** The pairs the dedup job must emit, by a naive loop: every two records
    * sharing a blocking_number or a state, each pair once, id1 < id2. */
  def expectedPairs(recs: IndexedSeq[Array[String]]): PairSet = {
    val blocks = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[Int]]
    recs.indices.foreach { i =>
      blocks.getOrElseUpdate((1, trim(recs(i)(13))), mutable.ArrayBuffer.empty) += i
      blocks.getOrElseUpdate((2, trim(recs(i)(8))), mutable.ArrayBuffer.empty) += i
    }
    var count = 0L
    var sum = 0L
    for (((k, _), members) <- blocks; x <- members.indices; y <- x + 1 until members.size) {
      val (a, b) = (recs(members(x)), recs(members(y)))
      // counted only in the first blocking function the two records share
      val first = if (trim(a(13)) == trim(b(13))) 1 else 2
      if (first == k) {
        val (i1, i2) = if (a(0) < b(0)) (a(0), b(0)) else (b(0), a(0))
        count += 1
        sum += pairHash(i1, i2)
      }
    }
    PairSet(count, sum)
  }

  /** Block sizes by (blocking function, key value). */
  def blockSizes(recs: IndexedSeq[Array[String]]): Map[(Int, String), Long] =
    recs.flatMap(r => Seq((1, trim(r(13))), (2, trim(r(8)))))
      .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }

  /** Fields of one CSV line as Spark writes it (quotes only around fields
    * holding a comma or a quote; `""` for an empty string). */
  def csvFields(line: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i <= line.length) {
      if (i < line.length && line.charAt(i) == '"') {
        val sb = new StringBuilder
        i += 1
        while (i < line.length && !(line.charAt(i) == '"' &&
            (i + 1 >= line.length || line.charAt(i + 1) != '"'))) {
          if (line.charAt(i) == '"') i += 1
          sb += line.charAt(i)
          i += 1
        }
        out += sb.toString
        i += 2
      } else {
        val j = line.indexOf(',', i) match { case -1 => line.length case x => x }
        out += line.substring(i, j)
        i = j + 1
      }
    }
    out.toArray
  }

  /** Lines of a Spark CSV output directory, part files in name order. */
  def readParts(dir: String): IndexedSeq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      .flatMap(f => Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala)
      .filter(_.nonEmpty).toIndexedSeq

  def dirBytes(dir: String): Long =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-")).map(_.length).sum

  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1)
        cur(j) = math.min(sub, math.min(prev(j) + 1, cur(j - 1) + 1))
      }
      prev = cur
    }
    prev(b.length)
  }

  private val Integral = "^[+-]?[0-9]+$".r

  /** The reference's comparators (Compare.scala:35-77): normalized
    * Levenshtein similarity, sqrt|a-b| for date_of_birth, |a-b| for age,
    * 0 for the id and blocking_number. */
  def feature(col: Int, a: String, b: String): Double = {
    val (ta, tb) = (trim(a), trim(b))
    def numeric(f: Long => Double): Double = (Integral.findFirstIn(ta), Integral.findFirstIn(tb)) match {
      case (Some(x), Some(y)) => f(math.abs(x.toLong - y.toLong))
      case _ if ta.isEmpty && tb.isEmpty => 1.0
      case _ => Double.MaxValue
    }
    col match {
      case 0 | 13 => 0.0
      case 9 => numeric(d => math.sqrt(d.toDouble))
      case 10 => numeric(_.toDouble)
      case _ =>
        if (ta.isEmpty && tb.isEmpty) 1.0
        else 1.0 - levenshtein(ta, tb).toDouble / math.max(ta.length, tb.length).toDouble
    }
  }

  /** A pair file as GenerateLabeledPoints writes it: the exact pair set,
    * the label (ground truth, or empty when unlabeled) and the 14 features
    * on every `stride`-th line. */
  def pairFile(dir: String, recs: IndexedSeq[Array[String]], want: PairSet,
      labeled: Boolean, stride: Int): Option[String] = {
    val lines = readParts(dir)
    val byId = recs.map(r => r(0) -> r).toMap
    var sum = 0L
    var bad = List.empty[String]
    lines.indices.foreach { n =>
      val f = csvFields(lines(n))
      sum += pairHash(f(0), f(1))
      val wantLabel = if (!labeled) "" else if (isDuplicate(f(0), f(1))) "1.0" else "0.0"
      if (f(2) != wantLabel) bad ::= s"label of (${f(0)}, ${f(1)}) is '${f(2)}', want '$wantLabel'"
      if (n % stride == 0) {
        val (a, b) = (byId(f(0)), byId(f(1)))
        (0 until 14).foreach { c =>
          val got = f(3 + c).toDouble
          val exp = feature(c, a(c), b(c))
          if (!(got == exp || math.abs(got - exp) <= 1e-12))
            bad ::= s"feature $c of (${f(0)}, ${f(1)}) is $got, want $exp"
        }
      }
    }
    if (lines.size != want.count || sum != want.checksum)
      Some(s"$dir: ${lines.size} pairs (checksum $sum), want ${want.count} (checksum ${want.checksum})")
    else bad.headOption.map(m => s"$dir: ${bad.size} mismatches, first: $m")
  }

  /** ApplyDupClassifier output: one "(id1,id2)",prediction line per input
    * pair, sorted by (prediction, id). Returns the failure (if any) and the
    * predictions' F1 against the ids' ground truth. */
  def scoredFile(dir: String, want: PairSet): (Option[String], Double) = {
    val rows = readParts(dir).map { l =>
      val f = csvFields(l)
      (f(0), f(1).toDouble)
    }
    var sum = 0L
    var (tp, fp, fn) = (0L, 0L, 0L)
    rows.foreach { case (pair, pred) =>
      val ids = pair.stripPrefix("(").stripSuffix(")").split(",")
      sum += pairHash(ids(0), ids(1))
      val dup = isDuplicate(ids(0), ids(1))
      if (pred == 1.0 && dup) tp += 1
      else if (pred == 1.0) fp += 1
      else if (dup) fn += 1
    }
    val f1 = if (tp == 0) 0.0 else 2.0 * tp / (2.0 * tp + fp + fn)
    val sorted = rows.iterator.sliding(2).forall {
      case Seq((i1, p1), (i2, p2)) => p1 < p2 || (p1 == p2 && i1 <= i2)
      case _ => true
    }
    val err =
      if (rows.size != want.count || sum != want.checksum)
        Some(s"$dir: ${rows.size} scored pairs (checksum $sum), want ${want.count} (checksum ${want.checksum})")
      else if (!sorted) Some(s"$dir: output is not sorted by (prediction, id)")
      else None
    (err, f1)
  }
}
