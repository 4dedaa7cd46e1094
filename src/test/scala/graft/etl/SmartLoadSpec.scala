package graft.etl

import java.nio.file.Files

import graft.SparkTestBase

class SmartLoadSpec extends SparkTestBase {

  private lazy val dir = Files.createTempDirectory("smartload").toString

  private def write(name: String, content: String): String = {
    val p = java.nio.file.Paths.get(dir, name)
    Files.writeString(p, content)
    p.toString
  }

  test("csv with header and inferred types") {
    val p = write("t.csv", "id,amount,name\n1,10.5,alpha\n2,20.0,beta\n")
    val df = SmartLoad.load(spark, p)
    assert(df.columns.toSeq === Seq("id", "amount", "name"))
    assert(df.schema("id").dataType.typeName === "integer")
    assert(df.schema("amount").dataType.typeName === "double")
    assert(df.count() === 2)
  }

  test("pipe-delimited .txt") {
    val p = write("t.txt", "a|b\n1|x\n2|y\n")
    val df = SmartLoad.load(spark, p)
    assert(df.columns.toSeq === Seq("a", "b"))
    assert(df.count() === 2)
  }

  test("zero-byte .csv and .txt fail loud, as pandas' EmptyDataError") {
    Seq("empty.csv", "empty.txt").foreach { name =>
      val p = write(name, "")
      val e = intercept[SmartLoad.EmptyDataException](SmartLoad.load(spark, p))
      assert(e.path === p)
    }
  }

  test("header-only .csv loads as an empty frame with its columns") {
    val df = SmartLoad.load(spark, write("header.csv", "id,name\n"))
    assert(df.columns.toSeq === Seq("id", "name"))
    assert(df.count() === 0)
  }

  test("json single-document array (pandas orientation, multiLine)") {
    val p = write("t.json", """[{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]""")
    val df = SmartLoad.load(spark, p)
    assert(df.columns.sorted.toSeq === Seq("a", "b"))
    assert(df.count() === 2)
  }

  test("parquet passthrough") {
    val df = SmartLoad.load(spark, s"${sf()}/nation.parquet")
    assert(df.count() === 25)
  }

  test("format override wins over extension") {
    val p = write("odd.dat2", "a|b\n1|x\n")
    val df = SmartLoad.load(spark, p, formatOverride = Some("pipe"))
    assert(df.columns.toSeq === Seq("a", "b"))
  }

  test("unknown extension sniffs the delimiter (semicolon)") {
    val p = write("t.dat", "a;b;c\n1;2;3\n4;5;6\n")
    val df = SmartLoad.load(spark, p)
    assert(df.columns.toSeq === Seq("a", "b", "c"))
    assert(df.count() === 2)
  }

  test("sniffer prefers the consistent delimiter") {
    // ',' appears inconsistently (inside text), '\t' is consistent
    val p = write("t.log", "a\tb\nhello, world\t1\nplain\t2\n")
    val df = SmartLoad.load(spark, p)
    assert(df.columns.toSeq === Seq("a", "b"))
  }

  test("json column-dict orientation (pandas default orient='columns')") {
    val p = write("cd.json",
      """{"id": {"0": 1, "1": 2, "2": 3}, "name": {"0": "x", "1": "y", "2": "z"}}""")
    val df = SmartLoad.load(spark, p)
    assert(df.columns.sorted.toSeq === Seq("id", "name"))
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq === Seq(1L, 2L, 3L))
    assert(rows.map(_.getAs[String]("name")).toSeq === Seq("x", "y", "z"))
  }

  test("json column-dict: mixed long/double widens, absent label is null") {
    val p = write("cd2.json",
      """{"v": {"0": 1, "1": 2.5}, "tag": {"0": "a"}}""")
    val df = SmartLoad.load(spark, p)
    assert(df.schema("v").dataType.typeName === "double")
    val rows = df.orderBy("v").collect()
    assert(rows.map(_.getAs[Double]("v")).toSeq === Seq(1.0, 2.5))
    assert(rows(0).getAs[String]("tag") === "a" && rows(1).isNullAt(rows(1).fieldIndex("tag")))
  }

  test("json array-of-records with object-valued cells stays on the records path") {
    // every column infers as struct, but 2 parsed rows => NOT column-dict
    val p = write("rec.json",
      """[{"a": {"x": 1}, "b": {"y": "u"}}, {"a": {"x": 2}, "b": {"y": "v"}}]""")
    val df = SmartLoad.load(spark, p)
    assert(df.count() === 2)
    assert(df.select("a.x").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("json SINGLE-record array with object cells stays on the records path") {
    // one parsed row AND all-struct columns — only the top-level '['
    // distinguishes this from a column-dict document
    val p = write("rec1.json", """[{"a": {"x": 1}, "b": {"y": "u"}}]""")
    val df = SmartLoad.load(spark, p)
    assert(df.count() === 1)
    assert(df.select("a.x").collect().head.getLong(0) === 1L)
  }

  test("json column-dict with beyond-Long numeric labels falls back safely") {
    val p = write("big.json",
      """{"v": {"98765432109876543210": 1, "5": 2}}""")
    val df = SmartLoad.load(spark, p)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("sniffer ignores delimiters inside quoted fields") {
    // every data row has commas INSIDE quotes; the real delimiter is ';'
    val p = write("q.log",
      "name;qty\n\"last, first\";1\n\"a, b, c\";2\n\"x,y\";3\n")
    val df = SmartLoad.load(spark, p)
    assert(df.columns.toSeq === Seq("name", "qty"))
    assert(df.count() === 3)
    assert(df.orderBy("qty").collect()(0).getString(0) === "last, first")
  }

  test(".xls dispatches to the BIFF8 reader (bad file fails loudly there)") {
    val p = java.nio.file.Paths.get(dir, "bad.xls")
    Files.write(p, ("not an ole2 file" * 40).getBytes)
    intercept[IllegalArgumentException] {
      SmartLoad.load(spark, p.toString)
    }
  }

  test("orc round trip: Sinks.orcDir -> SmartLoad by extension and by override") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    val out = dir + "/t.orc"
    Sinks.orcDir(df, out)
    val back = SmartLoad.load(spark, out)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ===
      df.orderBy("id").collect().map(_.toSeq).toSeq)
    val viaOverride = SmartLoad.load(spark, out, formatOverride = Some("orc"))
    assert(viaOverride.count() === 2L)
  }

  test("fixedWidth slices, trims, casts; short rows yield NULL columns") {
    val dir = java.nio.file.Files.createTempDirectory("fw_spec_").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "data.txt"),
      ("001  alpha  42\n" +
       "002  beta    7\n" +
       "003  gamma\n").getBytes) // short row: the int column is absent
    import SmartLoad.FixedWidthCol
    val out = SmartLoad.fixedWidth(spark, dir, Seq(
      FixedWidthCol("id", 0, 3, "int"),
      FixedWidthCol("name", 3, 9),
      FixedWidthCol("qty", 12, 3, "int")))
      .collect().map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).sortBy(_._1)
    assert(out.toSeq === Seq(
      (1, "alpha", Some(42)), (2, "beta", Some(7)), (3, "gamma", None)))
  }

  test("fixedWidth slices BYTE offsets: multi-byte UTF-8 does not shift later fields") {
    val dir = java.nio.file.Files.createTempDirectory("fw_utf8_").toString
    // name window [0,8) holds 'é' (2 bytes in UTF-8, 1 char), so
    // "éclair " pads to exactly 8 BYTES but only 7 chars: a
    // character-based slice of qty [8,10) would shift right by one and
    // read "2" -> 2; the byte-based slice must read "42"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "data.txt"),
      ("éclair 42\n" +
       "donut   17\n").getBytes("UTF-8"))
    import SmartLoad.FixedWidthCol
    val out = SmartLoad.fixedWidth(spark, dir, Seq(
      FixedWidthCol("name", 0, 8),
      FixedWidthCol("qty", 8, 2, "int")))
      .collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    assert(out.toSeq === Seq(("donut", 17), ("éclair", 42)))
  }

  test("fixedWidth strictWidths NULLs partially-covered windows instead of truncating") {
    val dir = java.nio.file.Files.createTempDirectory("fw_strict_").toString
    // second row truncated mid-qty: lenient mode returns the silently
    // wrong 4; strict mode must NULL the whole window
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "data.txt"),
      ("001 42\n" +
       "002 4\n").getBytes("UTF-8"))
    import SmartLoad.FixedWidthCol
    val cols = Seq(FixedWidthCol("id", 0, 3, "int"), FixedWidthCol("qty", 4, 2, "int"))
    val lenient = SmartLoad.fixedWidth(spark, dir, cols)
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .sortBy(_._1)
    assert(lenient.toSeq === Seq((1, Some(42)), (2, Some(4))))
    val strict = SmartLoad.fixedWidth(spark, dir, cols, strictWidths = true)
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .sortBy(_._1)
    assert(strict.toSeq === Seq((1, Some(42)), (2, None)))
  }

  test("flattenStructs flattens nested structs, keeps arrays, fails on collision") {
    import org.apache.spark.sql.functions._
    val df = spark.range(2).select(
      col("id"),
      struct(lit("x").as("a"), struct(lit(7L).as("deep")).as("b")).as("s"),
      array(lit(1), lit(2)).as("arr"))
    val flat = SmartLoad.flattenStructs(df)
    assert(flat.columns.toSeq === Seq("id", "s_a", "s_b_deep", "arr"))
    val r = flat.orderBy("id").collect()(0)
    assert(r.getAs[String]("s_a") === "x" && r.getAs[Long]("s_b_deep") === 7L)
    assert(r.getAs[Seq[Int]]("arr") === Seq(1, 2)) // arrays untouched
    // collision: a flattened name matching an existing column
    val clash = spark.range(1).select(col("id"),
      struct(lit(1).as("a")).as("s"), lit(2).as("s_a"))
    intercept[IllegalArgumentException] { SmartLoad.flattenStructs(clash) }
  }

  test("binaryDir loads opaque files with content bytes and glob pushdown") {
    val dir = java.nio.file.Files.createTempDirectory("bin_spec_").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.bin"),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.txt"),
      "skip".getBytes)
    val rows = SmartLoad.binaryDir(spark, dir, glob = Some("*.bin")).collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[Long]("length") === 3L)
    assert(rows(0).getAs[Array[Byte]]("content").toSeq === Seq[Byte](1, 2, 3))
  }
}
