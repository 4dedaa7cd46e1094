package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import Gen._

/** Expected outputs computed in plain Scala from the generator's rows,
  * with no Spark involved, and the checks that compare them with what the
  * engine produced. A check returns None when the output is right and a
  * short reason otherwise. */
object Expect {

  // ------------------------------------------------------------ rule values

  /** Kleene three-valued logic, as Spark evaluates the translated
    * condition; `~` treats an unknown operand as False (pandas' `~mask`). */
  def eval(c: Cond, rec: Rec): Option[Boolean] = c match {
    case Cmp(column, op, lit) =>
      Option(rec.get(column)).map { v =>
        val ord = (v, lit) match {
          case (s: String, Right(l)) => s.compareTo(l)
          case (n, Left(l)) => java.lang.Double.compare(n.toString.toDouble, l)
          case _ => throw new IllegalArgumentException(s"type mismatch in $c")
        }
        op match {
          case "==" => ord == 0; case "!=" => ord != 0
          case ">" => ord > 0; case "<" => ord < 0
          case ">=" => ord >= 0; case "<=" => ord <= 0
        }
      }
    case And(l, r) => (eval(l, rec), eval(r, rec)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, r) => (eval(l, rec), eval(r, rec)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Not(x) => Some(!eval(x, rec).getOrElse(false))
  }

  /** One output cell, rendered as the CSV sink writes it. */
  def cell(rule: Spec, rec: Rec, maps: Map[String, Mapping]): String = rule match {
    case DirectSpec(_, source) => render(rec.get(source))
    case CondSpec(_, c, t, e) => if (eval(c, rec).contains(true)) t else e
    case LookupSpec(_, m) => maps(m.name).dict.getOrElse(render(rec.get(m.inCol)), "")
  }

  def row(spec: Seq[Spec], rec: Rec, maps: Map[String, Mapping]): Seq[String] =
    spec.map(cell(_, rec, maps))

  // ------------------------------------------------------------ CSV sink

  /** Order-insensitive digest of a CSV body: line count and the wrapping
    * sum of a 64-bit hash per line. Row order is not part of the check, so
    * a plan that writes partitions in another order still passes. */
  final case class Digest(header: String, lines: Long, sum: Long)

  private def lineHash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  def sinkDigest(spec: Seq[Spec], recs: Seq[Rec], maps: Map[String, Mapping]): Digest = {
    var sum = 0L
    recs.foreach(r => sum += lineHash(row(spec, r, maps).mkString(",")))
    Digest(spec.map(_.name).mkString(","), recs.size.toLong, sum)
  }

  def fileDigest(p: Path): Digest = {
    val in = Files.newBufferedReader(p, StandardCharsets.UTF_8)
    try {
      val header = Option(in.readLine()).getOrElse("")
      var n = 0L; var sum = 0L
      var line = in.readLine()
      while (line != null) { n += 1; sum += lineHash(line); line = in.readLine() }
      Digest(header, n, sum)
    } finally in.close()
  }

  def checkSink(expected: Digest, file: Path): Option[String] =
    if (!Files.isRegularFile(file)) Some(s"no sink file $file")
    else {
      val got = fileDigest(file)
      if (got == expected) None
      else Some(s"sink ${file.getFileName}: expected ${expected.lines} lines digest " +
        s"${expected.sum}, got ${got.lines} lines digest ${got.sum}" +
        (if (got.header != expected.header) s" (header '${got.header}')" else ""))
    }

  // ------------------------------------------------------------ preview

  def checkPreview(expected: Seq[Seq[String]], got: Seq[Seq[String]]): Option[String] =
    if (got.size != expected.size) Some(s"preview has ${got.size} rows, expected ${expected.size}")
    else expected.zip(got).zipWithIndex.collectFirst {
      case ((e, g), i) if e != g => s"preview row $i: expected ${e.mkString("|")}, got ${g.mkString("|")}"
    }

  // ------------------------------------------------------------ quality filters

  private def hasMarker(t: String): Boolean = {
    val l = t.toLowerCase
    t.contains('{') || l.contains("lorem ipsum") || l.contains("javascript")
  }

  /** n_words and keep of TextAnalysis.qualityFilters for the generator's
    * texts: single-space separated words, no leading or trailing blanks. */
  def quality(t: String): (Long, Boolean) = {
    val nWords = if (t.isEmpty) 0L else t.count(_ == ' ').toLong + 1
    val nonSpace = t.count(_ != ' ').toLong
    val nAlpha = t.count(ch => (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z')).toLong
    def micro(num: Long, den: Long) = (num * 2000000L + den) / (den * 2)
    val keep = nWords >= 50 && nWords <= 100000 && {
      val wl = micro(nonSpace, nWords); wl >= 3000000L && wl <= 10000000L
    } && micro(nAlpha, t.length.toLong) >= 700000L && !hasMarker(t)
    (nWords, keep)
  }

  def checkQuality(docs: Seq[Doc], got: Seq[(Long, Long, Boolean)]): Option[String] = {
    val exp = docs.map(d => { val (n, k) = quality(d.text); (d.id, n, k) }).sortBy(_._1)
    val g = got.sortBy(_._1)
    if (g.size != exp.size) Some(s"quality has ${g.size} rows, expected ${exp.size}")
    else exp.zip(g).collectFirst { case (e, x) if e != x => s"quality row: expected $e, got $x" }
  }

  // ------------------------------------------------------------ near-dup pairs

  private def shingles(t: String): Set[String] =
    t.split(' ').sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  /** Every pair of kept documents whose word-trigram Jaccard reaches the
    * threshold, found through an inverted shingle index, with its exact
    * Jaccard computed as Dedup.minhash verifies it. */
  def nearDupPairs(docs: Seq[Doc], threshold: Double): Map[(Long, Long), Double] = {
    val kept = docs.filter(d => quality(d.text)._2).map(d => d.id -> shingles(d.text)).toMap
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    kept.foreach { case (id, sh) => sh.foreach(s => index.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += id) }
    val cands = mutable.HashSet.empty[(Long, Long)]
    index.valuesIterator.foreach { ids =>
      if (ids.size > 1) for (a <- ids; b <- ids if a < b) cands += ((a, b))
    }
    cands.iterator.flatMap { case (a, b) =>
      val (x, y) = (kept(a), kept(b))
      val c = x.intersect(y).size
      val j = c.toDouble / (x.size + y.size - c)
      if (j >= threshold) Some((a, b) -> j) else None
    }.toMap
  }

  def checkPairs(expected: Map[(Long, Long), Double], got: Seq[(Long, Long, Double)]): Option[String] = {
    val g = got.map { case (a, b, j) => (a, b) -> j }.toMap
    if (g.size != got.size) Some("duplicate pairs in minhash output")
    else if (g.keySet != expected.keySet) {
      val miss = (expected.keySet -- g.keySet).take(3); val extra = (g.keySet -- expected.keySet).take(3)
      Some(s"pairs: ${expected.size} expected, ${g.size} found; missing $miss, unexpected $extra")
    } else expected.collectFirst {
      case (k, j) if math.abs(g(k) - j) > 1e-12 => s"pair $k jaccard ${g(k)}, expected $j"
    }
  }

  /** Connected components of the pair graph, labelled by their least id. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  def checkComponents(expected: Map[Long, Long], got: Seq[(Long, Long)]): Option[String] = {
    val g = got.toMap
    if (g.size != got.size) Some("a document appears in two components")
    else if (g != expected) Some(s"components: ${expected.size} vertices expected, ${g.size} labelled, " +
      s"first difference ${expected.find { case (k, v) => !g.get(k).contains(v) }}")
    else None
  }

  // ------------------------------------------------------------ top-k

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k neighbours of each query (self excluded), ties by id. */
  def exactTopK(vecs: Seq[Vec], queries: Seq[Long], k: Int): Map[Long, Seq[Long]] = {
    val byId = vecs.map(v => v.id -> v).toMap
    queries.map { q =>
      q -> vecs.iterator.filter(_.id != q).map(v => (v.id, cosine(byId(q).v, v.v))).toSeq
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    }.toMap
  }

  /** Recall of `got` against `truth`, averaged over the truth's queries. */
  def recall(truth: Map[Long, Seq[Long]], got: Map[Long, Seq[Long]]): Double =
    truth.map { case (q, t) => got.getOrElse(q, Nil).toSet.intersect(t.toSet).size.toDouble / t.size }
      .sum / math.max(1, truth.size)

  /** Lowest acceptable recall of the approximate search on clustered
    * vectors: well below what IVF reaches, far above what garbage does. */
  val MinRecall = 0.5

  /** Approximate top-k is checked for validity, not equality: k distinct
    * neighbours per query, never the query itself, ranked by true cosine
    * (within rounding), and recall against the exact answer above
    * [[MinRecall]]. */
  def checkTopK(vecs: Seq[Vec], exact: Map[Long, Seq[Long]], k: Int,
      got: Seq[(Long, Long, Int)]): Option[String] = {
    val byId = vecs.map(v => v.id -> v).toMap
    val lists = got.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3) }
    val r = recall(exact, lists.map { case (q, rs) => q -> rs.map(_._2) })
    exact.keys.iterator.map { q =>
      val rs = lists.getOrElse(q, Nil)
      val ns = rs.map(_._2)
      val sims = ns.map(n => byId.get(n).map(v => cosine(byId(q).v, v.v)).getOrElse(Double.NaN))
      if (rs.map(_._3) != (1 to k)) Some(s"query $q ranks ${rs.map(_._3)}")
      else if (ns.distinct.size != k || ns.contains(q)) Some(s"query $q neighbours $ns")
      else if (sims.exists(_.isNaN)) Some(s"query $q unknown neighbour in $ns")
      else if (sims.sliding(2).exists(p => p.size == 2 && p(1) > p(0) + 1e-9))
        Some(s"query $q neighbours not ranked by cosine")
      else None
    }.collectFirst { case Some(e) => e }
      .orElse(if (lists.keySet != exact.keySet) Some("top-k answered other queries") else None)
      .orElse(if (r < MinRecall) Some(f"top-k recall $r%.3f below $MinRecall") else None)
  }
}
