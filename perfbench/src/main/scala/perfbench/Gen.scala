package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every input of every workload is a pure
  * function of (seed, stream, index): the same arguments give
  * byte-identical files, and the program under test only ever sees the
  * files. Row values are chosen so that no rule errors and every value
  * renders the same way in Spark and in plain Scala. */
object Gen {

  /** One independent random stream per (seed, stream name, index). */
  def rng(seed: Long, stream: String, index: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xC2B2AE3D27D4EB4FL ^
      index * 0x165667B19E3779F9L)

  // ---------------------------------------------------------------- ETL rows

  /** A main-table record (the reference's `main_input` fixture shape). */
  final case class Rec(recId: Long, custId: Long, amount: Option[Double], status: Option[String],
      region: String, qty: Int) {
    def get(c: String): Any = c match {
      case "rec_id" => recId
      case "cust_id" => custId
      case "amount" => amount.orNull
      case "status" => status.orNull
      case "region" => region
      case "qty" => qty
    }
  }
  val MainCols: Seq[String] = Seq("rec_id", "cust_id", "amount", "status", "region", "qty")
  val Statuses: Seq[String] = Seq("Active", "Inactive", "Pending")
  val Regions: Int = 12
  def regionCode(i: Int): String = f"R$i%02d"

  /** Mapping table rows in file order; keys may repeat (last wins). Keys
    * are kept as the strings the lookup compares (it casts both sides to
    * string). */
  final case class Mapping(key: MappingKey, rows: Seq[(String, String)]) {
    /** The reference's dict(zip(keys, vals)): the last occurrence wins. */
    lazy val dict: Map[String, String] = rows.toMap
  }
  final case class MappingKey(name: String, keyCol: String, valCol: String, inCol: String)
  val CustomerMap = MappingKey("customer_mapping", "id", "name", "cust_id")
  val RegionMap = MappingKey("region_mapping", "code", "label", "region")

  val Customers = 5000

  def records(r: Random, n: Int, firstId: Long): Vector[Rec] = Vector.tabulate(n) { i =>
    // ~10% null amounts and ~8% null statuses exercise the else-branch of
    // Conditionals; ~10% of customer ids have no mapping entry
    val amount = if (r.nextInt(10) == 0) None else Some((r.nextInt(400000) - 20000) / 100.0)
    val status = if (r.nextInt(12) == 0) None else Some(Statuses(r.nextInt(Statuses.size)))
    // region R00 has no mapping entry
    Rec(firstId + i, 1L + r.nextInt(Customers + Customers / 10), amount, status,
      regionCode(r.nextInt(Regions + 1)), r.nextInt(21))
  }

  /** Customer mapping: every id once plus ~10% repeated later with a new
    * name (last-wins), and some ids the main table never probes. */
  def customerMapping(r: Random, tag: String): Mapping = {
    val base = (1 to Customers).map(id => id.toString -> s"Cust${id}_$tag")
    val extra = (1 to Customers / 20).map(_ => (Customers * 2 + r.nextInt(Customers)).toString -> s"Ghost_$tag")
    val dups = (1 to Customers / 10).map { k =>
      val id = 1 + r.nextInt(Customers); id.toString -> s"Cust${id}_${tag}_v$k"
    }
    Mapping(CustomerMap, base ++ extra ++ dups)
  }

  /** Region labels; code R00 is left unmapped. */
  def regionMapping(tag: String): Mapping =
    Mapping(RegionMap, (1 to Regions).map(i => regionCode(i) -> s"Region${i}_$tag"))

  // ------------------------------------------------------------ rule specs

  /** Boolean condition AST in the reference's formula grammar. */
  sealed trait Cond
  final case class Cmp(column: String, op: String, lit: Either[Double, String]) extends Cond
  final case class And(l: Cond, r: Cond) extends Cond
  final case class Or(l: Cond, r: Cond) extends Cond
  final case class Not(x: Cond) extends Cond

  def formula(c: Cond): String = c match {
    case Cmp(column, op, Left(d)) =>
      val lit = if (d == math.rint(d)) d.toLong.toString else d.toString
      s"(`$column` $op $lit)"
    case Cmp(column, op, Right(s)) => s"(`$column` $op '$s')"
    case And(l, r) => s"(${formula(l)} & ${formula(r)})"
    case Or(l, r) => s"(${formula(l)} | ${formula(r)})"
    case Not(x) => s"~${formula(x)}"
  }

  sealed trait Spec { def name: String }
  final case class DirectSpec(name: String, source: String) extends Spec
  final case class CondSpec(name: String, cond: Cond, thenV: String, elseV: String) extends Spec
  final case class LookupSpec(name: String, map: MappingKey) extends Spec

  private def q(s: String): String = "\"" + s + "\""

  /** The live JSON schema the reference app exports (main.py:327-339). */
  def specJson(rules: Seq[Spec]): String = rules.map {
    case DirectSpec(n, s) => s"""{"name":${q(n)},"type":"Direct Map","source":${q(s)}}"""
    case CondSpec(n, c, t, e) =>
      s"""{"name":${q(n)},"type":"Conditional","expression":${q(formula(c))},"then":${q(t)},"else":${q(e)}}"""
    case LookupSpec(n, m) =>
      s"""{"name":${q(n)},"type":"Lookup","map_name":${q(m.name)},"in_col":${q(m.inCol)},""" +
        s""""key_col":${q(m.keyCol)},"val_col":${q(m.valCol)}}"""
  }.mkString("[\n", ",\n", "\n]")

  private def num(c: String, op: String, d: Double) = Cmp(c, op, Left(d))
  private def str(c: String, op: String, s: String) = Cmp(c, op, Right(s))

  /** The fixed 12-rule batch spec: Direct Maps, Conditionals over
    * nullable columns, and two Lookups (one with duplicate keys). */
  val batchSpec: Seq[Spec] = Seq(
    DirectSpec("CustomerId", "cust_id"),
    DirectSpec("Amount", "amount"),
    DirectSpec("Status", "status"),
    CondSpec("Priority", num("amount", ">", 1000), "VIP", "Regular"),
    CondSpec("ActiveBig", And(num("amount", ">", 500), str("status", "==", "Active")), "Y", "N"),
    CondSpec("QtyEdge", Or(num("qty", ">=", 15), num("qty", "<", 2)), "EDGE", "MID"),
    LookupSpec("CustomerName", CustomerMap),
    LookupSpec("RegionName", RegionMap),
    DirectSpec("Qty", "qty"),
    CondSpec("Pending", Not(str("status", "!=", "Pending")), "P", "-"),
    CondSpec("Refund", num("amount", "<", 0), "REFUND", "SALE"),
    CondSpec("RegionHot", Or(str("region", "==", "R03"),
      And(str("region", "==", "R07"), num("qty", ">", 5))), "HOT", "COLD"),
  )

  // ------------------------------------------------------------ file writers

  def render(v: Any): String = v match {
    case null => ""
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  private def writeLines(p: Path)(f: BufferedWriter => Unit): Unit = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try f(w) finally w.close()
  }

  def writeDelimited(p: Path, recs: Seq[Rec], sep: String): Unit = writeLines(p) { w =>
    w.write(MainCols.mkString(sep)); w.write('\n')
    recs.foreach { rec => w.write(MainCols.map(c => render(rec.get(c))).mkString(sep)); w.write('\n') }
  }

  /** Array-of-records JSON (pandas orient='records'). */
  def writeJson(p: Path, recs: Seq[Rec]): Unit = writeLines(p) { w =>
    w.write("[\n")
    recs.iterator.zipWithIndex.foreach { case (rec, i) =>
      if (i > 0) w.write(",\n")
      w.write(MainCols.map { c =>
        val v = rec.get(c)
        val s = v match { case null => "null"; case x: String => q(x); case x => render(x) }
        s"${q(c)}:$s"
      }.mkString("{", ",", "}"))
    }
    w.write("\n]\n")
  }

  def writeMappingCsv(p: Path, m: Mapping): Unit = writeLines(p) { w =>
    w.write(s"${m.key.keyCol},${m.key.valCol}\n")
    m.rows.foreach { case (k, v) => w.write(s"$k,$v\n") }
  }

  val MainSchema: StructType = StructType(Seq(
    StructField("rec_id", LongType, nullable = false),
    StructField("cust_id", LongType, nullable = false),
    StructField("amount", DoubleType),
    StructField("status", StringType),
    StructField("region", StringType, nullable = false),
    StructField("qty", IntegerType, nullable = false)))

  /** One parquet file at `p` (not a directory), written through Spark's
    * own writer so the engine reads what a Spark job would have left. */
  def writeParquet(spark: SparkSession, p: Path, schema: StructType, rows: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmpdir")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").option("compression", "snappy").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).head
    Files.move(part.toPath, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp.toFile)
  }

  def recRow(r: Rec): Row = Row(r.recId, r.custId, r.amount.orNull, r.status.orNull, r.region, r.qty)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ---------------------------------------------------------- LLM corpus

  /** A curation batch in the `documents` / `embeddings` fixture schemas. */
  final case class Doc(id: Long, text: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)
  final case class Corpus(docs: Vector[Doc], planted: Set[(Long, Long)], vecs: Vector[Vec],
      queryIds: Vector[Long])

  private val letters = "abcdefghijklmnopqrstuvwxyz"
  private def word(r: Random): String =
    (0 until 4 + r.nextInt(5)).map(_ => letters.charAt(r.nextInt(26))).mkString

  /** Vocabulary shared by every batch of one seed. */
  def vocabulary(seed: Long): Vector[String] = {
    val r = rng(seed, "vocab", 0)
    Vector.fill(4000)(word(r))
  }

  def corpus(seed: Long, batch: Long, vocab: Vector[String], nDocs: Int, nVecs: Int,
      nQueries: Int): Corpus = {
    // The corpus's shape — document lengths, which documents fail a
    // filter, where duplicates are planted, cluster sizes — comes from a
    // stream that ignores the seed; words and vector coordinates follow
    // the seed. Every seed then asks the same amount of work of the
    // iterative operators (component rounds follow the pair graph's
    // shape), so runs on different seeds measure the engine, not the draw.
    val shape = rng(0, "corpus-shape", batch)
    val r = rng(seed, "corpus", batch)
    val base = batch * 1000000L
    def words(n: Int) = Vector.fill(n)(vocab(r.nextInt(vocab.size)))
    // ~12% of documents fail a quality filter: too short, or carrying
    // boilerplate markers the filters drop
    val kinds = Vector.fill(nDocs)(shape.nextInt(25))
    val texts = kinds.map { kind =>
      val ws = words(60 + shape.nextInt(90))
      kind match {
        case 0 => ws.take(20 + shape.nextInt(20)).mkString(" ") + "."
        case 1 => (ws.take(30) ++ Seq("lorem", "ipsum") ++ ws.drop(30)).mkString(" ") + "."
        case 2 => (ws.take(10) ++ Seq("{javascript}") ++ ws.drop(10)).mkString(" ") + "."
        case _ => ws.mkString(" ") + "."
      }
    }.toArray
    // planted near-duplicates: a copy of a good document with one word
    // substituted, deleted or inserted (word-trigram Jaccard ~0.9);
    // every fifth plant gets a second copy, forming a 3-document cluster
    // (the two copies are not planted as a pair: their own Jaccard can
    // fall either side of the threshold)
    val planted = Set.newBuilder[(Long, Long)]
    val nPlants = nDocs / 20
    val used = scala.collection.mutable.Set.empty[Int]
    var p = 0
    while (p < nPlants) {
      val src = shape.nextInt(nDocs)
      val copies = if (p % 5 == 0) 2 else 1
      val targets = Seq.fill(copies)(shape.nextInt(nDocs))
      val all = src +: targets
      if (all.distinct.size == all.size && all.forall(i => !used(i)) && kinds(src) > 2) {
        used ++= all
        targets.foreach { t =>
          val ws = texts(src).split(' ').toVector
          val k = 5 + shape.nextInt(ws.size - 10)
          val edited = shape.nextInt(3) match {
            case 0 => ws.updated(k, vocab(r.nextInt(vocab.size)))
            case 1 => ws.patch(k, Nil, 1)
            case _ => ws.patch(k, Seq(vocab(r.nextInt(vocab.size))), 0)
          }
          texts(t) = edited.mkString(" ")
          planted += (math.min(src, t) + base -> (math.max(src, t) + base))
        }
        p += 1
      }
    }
    val docs = texts.toVector.zipWithIndex.map { case (t, i) => Doc(base + i, t) }
    // clustered embeddings: 16 unit centres, members = centre + noise
    val dim = 32
    val centres = Array.fill(16) {
      val c = Array.fill(dim)(r.nextGaussian()); val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }
    val vecs = Vector.tabulate(nVecs) { i =>
      val label = shape.nextInt(centres.length)
      Vec(base + i, Array.tabulate(dim)(d =>
        (centres(label)(d) + 0.25 * r.nextGaussian() / math.sqrt(dim)).toFloat), label)
    }
    val queryIds = shape.ints(0, nVecs).distinct().limit(nQueries.toLong).toArray.toVector.map(base + _)
    Corpus(docs, planted.result(), vecs, queryIds)
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false)))

  def docRow(d: Doc): Row = Row(d.id, d.text, "en", "synthetic", d.text.length.toLong)
  def vecRow(v: Vec): Row = Row(v.id, v.v.toSeq, v.label)
}
