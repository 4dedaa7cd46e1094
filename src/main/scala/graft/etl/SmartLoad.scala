package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Format-dispatching loader with the reference's `smart_load` semantics
  * (reference: main.py:69-94): extension (or explicit override) picks the
  * reader; unknown extensions fall back to delimiter sniffing.
  *
  * All readers return a lazy scan — schema inference reads a sample, but
  * no data materializes on the driver, so the same call shape works for a
  * 100 TB directory of part-files as for one local file. Filters/projections
  * applied downstream push into these scans (CSV/JSON/Parquet are all DSv2
  * pushdown-capable sources).
  */
object SmartLoad {

  final case class UnsupportedFormatException(filename: String)
      extends RuntimeException(s"Unsupported file type: $filename")

  /** A delimited file with no header line (zero bytes or blank lines):
    * pandas raises `EmptyDataError` here, where Spark would return a
    * frame with no columns and no rows. */
  final case class EmptyDataException(path: String)
      extends RuntimeException(s"No columns to parse from file: $path")

  /** Load `path` into a DataFrame, dispatching on file extension or
    * `formatOverride` ("csv" | "pipe" | "excel" | "json" | "parquet"). */
  def load(spark: SparkSession, path: String, formatOverride: Option[String] = None): DataFrame = {
    val ext = path.split('.').lastOption.map(_.toLowerCase).getOrElse("")
    def is(e: String, o: String) = ext == e || formatOverride.contains(o)

    if (is("csv", "csv")) csv(spark, path, ",")
    else if (is("txt", "pipe")) csv(spark, path, "|")
    else if (ext == "xlsx" || formatOverride.contains("excel"))
      // first sheet, header row, inferred dtypes (main.py:80-81) via the
      // built-in OOXML reader (no Excel library ships in this build)
      XlsxReader.read(spark, path)
    else if (ext == "xls")
      // legacy BIFF8: minimal CFB + record reader (XlsReader), matching
      // the reference's pd.read_excel of either Excel format (main.py:80-81)
      XlsReader.read(spark, path)
    else if (is("json", "json")) json(spark, path)
    else if (is("parquet", "parquet")) spark.read.parquet(path)
    // columnar sibling formats beyond the reference's surface: ORC is a
    // Spark-native DSv2 source (predicate pushdown + column pruning like
    // parquet), so warehouse extracts arriving as ORC load identically
    else if (is("orc", "orc")) spark.read.orc(path)
    // row-oriented interchange sibling: from-scratch OCF reader over
    // avro-core (no connector module on this classpath)
    else if (is("avro", "avro")) AvroIO.read(spark, path)
    // columnar interchange sibling: Arrow IPC file / Feather v2 over
    // the arrow-vector core library Spark already ships
    else if (ext == "feather" || is("arrow", "arrow")) ArrowIO.read(spark, path)
    // flat-record XML (pandas read_xml shape) on the JDK StAX parser
    else if (is("xml", "xml")) XmlIO.read(spark, path)
    // training-loader containers: tf.train.Example frames (schema
    // inferred from a record sample — pass an explicit schema through
    // TfRecordIO.read for production shape pinning) and WebDataset
    // tar shards (extensions inferred from the first shard's headers)
    else if (is("tfrecord", "tfrecord"))
      TfRecordIO.read(spark, path, TfRecordIO.inferSchema(spark, path))
    else if (is("tar", "webdataset")) WebDatasetIO.read(spark, path)
    else sniffDelimited(spark, path)
  }

  /** One fixed-width column: [start, start+len) (0-based byte offsets in
    * the line), cast to `dataType` after trimming. */
  final case class FixedWidthCol(name: String, start: Int, len: Int,
      dataType: String = "string")

  /** Fixed-width (mainframe/COBOL-style) text reader: each line is
    * sliced at TRUE BYTE positions — the slice runs over the line's
    * UTF-8 binary form, so a multi-byte character earlier in the record
    * cannot shift every later field the way a character-based substring
    * would (record layouts are specified in bytes). Built on the `text`
    * source, so files split and scan in parallel like any line format;
    * slicing stays a pure substring/cast projection (whole-stage
    * codegen, no UDF).
    *
    * Short-record contract: a column whose window lies entirely beyond
    * the line yields NULL (blank slice) — fixed-width trailers/short
    * records are routine. A PARTIALLY covered window is by default
    * returned as the unpadded slice: text writers routinely strip
    * trailing pad spaces, so the last field of a line is legitimately
    * shorter than its window and NULLing it would break every such
    * file. When record integrity matters more (a partially covered
    * window can also mean mid-field truncation in transport — for a
    * left-aligned numeric field that's a silently WRONG value, not a
    * cast failure), set `strictWidths = true`: any window not fully
    * covered by the line yields NULL. */
  def fixedWidth(spark: SparkSession, path: String,
      cols: Seq[FixedWidthCol], strictWidths: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, trim, substring, when, length, lit, octet_length}
    require(cols.nonEmpty, "fixedWidth needs at least one column spec")
    val line = spark.read.text(path)
    val bin = col("value").cast("binary")
    line.select(cols.map { c =>
      // substring over BinaryType slices bytes; the cast back to string
      // decodes the slice (fields in byte-specified layouts are ASCII
      // or whole UTF-8 sequences — a layout that bisects a multi-byte
      // character is malformed input, surfacing as replacement chars)
      val raw = trim(substring(bin, c.start + 1, c.len).cast("string"))
      val v = when(length(raw) === 0, lit(null).cast(c.dataType))
        .otherwise(raw.cast(c.dataType))
      (if (strictWidths)
        when(octet_length(col("value")) < lit(c.start + c.len),
          lit(null).cast(c.dataType)).otherwise(v)
      else v).as(c.name)
    }: _*)
  }

  /** Ingest a directory of opaque media/document files as (path,
    * modificationTime, length, content) with BINARY content — the
    * multimodal on-ramp (ext/Multimodal consumes the content column).
    * Spark's binaryFile source: one row per file, scanned in parallel,
    * with pathGlobFilter pushdown for extension filtering. */
  def binaryDir(spark: SparkSession, dir: String,
      glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(dir)
  }

  /** Recursively flatten nested STRUCT columns into top-level columns
    * named `parent_child` (pandas `json_normalize` semantics, sep="_").
    * Arrays are left intact — exploding them multiplies rows, which is
    * a semantic decision the caller makes explicitly (chunk/explode
    * operators exist for that). Pure projection: no shuffle, no UDF,
    * and column pruning still reaches the scan because the projection
    * is plain field extraction. Name collisions fail loud rather than
    * silently shadowing. */
  def flattenStructs(df: DataFrame, sep: String = "_"): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    def fields(prefix: String, path: String, st: StructType): Seq[(String, String)] =
      st.fields.toSeq.flatMap { f =>
        val name = if (prefix.isEmpty) f.name else s"$prefix$sep${f.name}"
        val p = s"$path`${f.name}`"
        f.dataType match {
          case nested: StructType => fields(name, s"$p.", nested)
          case _ => Seq((name, p))
        }
      }
    val flat = df.schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case st: StructType => fields(f.name, s"`${f.name}`.", st)
        case _ => Seq((f.name, s"`${f.name}`"))
      }
    }
    val dup = flat.groupBy(_._1).collect { case (n, hits) if hits.size > 1 => n }
    require(dup.isEmpty, s"flattening would collide on column(s): ${dup.mkString(", ")}")
    df.select(flat.map { case (n, p) => col(p).as(n) }: _*)
  }

  /** pandas read_json consumes one whole JSON document; Spark defaults to
    * NDJSON, so multiLine=true is required for fidelity (SURVEY.md §2.1).
    * Both pandas-accepted document shapes are handled (main.py:82-83):
    *   - array-of-records `[{"a": 1}, ...]` — pandas orient='records';
    *   - column-dict `{"a": {"0": 1, "1": 2}, ...}` — pandas' DEFAULT
    *     orient='columns', where each column maps row labels to values.
    * The column-dict shape parses to ONE row of structs whose field names
    * are the row labels; it is re-shaped to rows with a single
    * explode(array(struct...)) projection — plan-side only, no driver
    * materialization, row labels ordered numerically when they all look
    * numeric (pandas index order) and lexically otherwise. */
  private def json(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, explode, struct}
    import org.apache.spark.sql.types.StructType
    val df = spark.read.option("multiLine", true).json(path)
    val fields = df.schema.fields
    // column-dict shape = every column is an object AND the document's
    // top level is an OBJECT, not an array. The first non-whitespace
    // character decides ('{' vs '['): a row count cannot — a one-record
    // array [{"a":{"x":1}}] also parses to a single all-struct row but
    // must stay on the records path. Driver-side peek of a few lines,
    // same as the delimiter sniffer.
    def topLevelIsObject: Boolean =
      spark.read.text(path).limit(5).collect().iterator
        .map(_.getString(0)).flatMap(_.trim.headOption).nextOption()
        .contains('{')
    val allStructs = fields.nonEmpty && fields.forall(_.dataType.isInstanceOf[StructType]) &&
      topLevelIsObject
    if (!allStructs) df
    else {
      import org.apache.spark.sql.types._
      // widest value type per column across its row labels (long < double;
      // anything mixed beyond numerics -> string, pandas' object dtype)
      def widest(inner: StructType): DataType = {
        val ts = inner.fields.map(_.dataType).distinct
        if (ts.length == 1) ts.head
        else if (ts.forall(t => t == LongType || t == DoubleType)) DoubleType
        else StringType
      }
      val colType = fields.map(f => f.name -> widest(f.dataType.asInstanceOf[StructType])).toMap
      val labels = fields.flatMap(_.dataType.asInstanceOf[StructType].fieldNames).distinct
      val ordered =
        if (labels.forall(_.matches("-?\\d+")))
          labels.sortBy(l => BigInt(l)) // BigInt: labels can exceed Long range
        else labels.sorted
      val rows = ordered.map { l =>
        struct(fields.map { f =>
          val inner = f.dataType.asInstanceOf[StructType]
          // a label absent from one column becomes a typed null
          (if (inner.fieldNames.contains(l)) col(s"`${f.name}`.`$l`")
           else org.apache.spark.sql.functions.lit(null))
            .cast(colType(f.name)).as(f.name)
        }: _*)
      }
      df.select(explode(array(rows: _*)).as("__row")).select(col("__row.*"))
    }
  }

  private def csv(spark: SparkSession, path: String, sep: String): DataFrame = {
    val df = spark.read
      .option("header", true)
      .option("inferSchema", true)
      .option("sep", sep)
      .csv(path)
    // the schema is already inferred: this check runs no job
    if (df.schema.isEmpty) throw EmptyDataException(path)
    df
  }

  /** Unknown extension: detect the delimiter from a driver-side sample of
    * the first lines (the distributed-safe analogue of the reference's
    * `pd.read_csv(sep=None, engine='python')` csv.Sniffer fallback,
    * main.py:87-88), then delegate to the CSV scan — so the actual read
    * stays fully distributed. */
  def sniffDelimited(spark: SparkSession, path: String): DataFrame = {
    val sample = spark.read.text(path).limit(20).collect().map(_.getString(0)).filter(_.nonEmpty)
    if (sample.isEmpty) throw UnsupportedFormatException(path)
    val candidates = Seq(',', '\t', ';', '|', ':')
    // Pick the delimiter that appears a consistent, nonzero number of times
    // per line (csv.Sniffer's core heuristic), counting ONLY outside
    // double-quoted fields — a comma inside "last, first" is field text,
    // not a delimiter ("" inside quotes is the standard escape).
    def countOutsideQuotes(line: String, d: Char): Int = {
      var n = 0; var inQ = false; var i = 0
      while (i < line.length) {
        val ch = line.charAt(i)
        if (ch == '"') inQ = !inQ
        else if (ch == d && !inQ) n += 1
        i += 1
      }
      n
    }
    val scored = candidates.map { d =>
      val counts = sample.map(countOutsideQuotes(_, d))
      val consistent = counts.forall(_ == counts.head) && counts.head > 0
      (d, consistent, counts.head)
    }
    val best = scored.filter(_._2).sortBy(-_._3).headOption
      .orElse(scored.filter(_._3 > 0).sortBy(-_._3).headOption)
      .getOrElse(throw UnsupportedFormatException(path))
    csv(spark, path, best._1.toString)
  }
}
