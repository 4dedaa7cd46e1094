package graft.etl

import graft.SparkTestBase

class RuleCompilerSpec extends SparkTestBase {

  private def mainDf = {
    import spark.implicits._
    Seq((1L, 1200.0, "open", 10), (2L, 800.0, "closed", 20), (3L, 50.0, "open", 99))
      .toDF("id", "amount", "state", "code")
  }

  /** `mainDf` as a range-backed table: Catalyst cannot fold projections
    * over it on the driver, so its plans and generated code are the ones
    * a file-backed table gets. */
  private def rangedMainDf = spark.range(1, 4).selectExpr("id",
    "CASE id WHEN 1 THEN 1200D WHEN 2 THEN 800D ELSE 50D END AS amount",
    "CASE id WHEN 2 THEN 'closed' ELSE 'open' END AS state",
    "CASE id WHEN 1 THEN 10 WHEN 2 THEN 20 ELSE 99 END AS code")

  private def mapDf = {
    import spark.implicits._
    // duplicate key 10: last occurrence ("ten-v2") must win (main.py:168)
    Seq((10, "ten-v1"), (20, "twenty"), (10, "ten-v2")).toDF("k", "v")
  }

  test("direct map renames and projects only rule columns") {
    val r = RuleCompiler.run(mainDf, Seq(DirectMap("the_id", "id")), Map.empty)
    assert(r.errors.isEmpty)
    assert(r.output.columns.toSeq === Seq("the_id"))
    assert(r.output.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("conditional emits then/else strings") {
    val r = RuleCompiler.run(mainDf,
      Seq(DirectMap("id", "id"), Conditional("tier", "(`amount` > 1000)", "VIP", "Regular")),
      Map.empty)
    val got = r.output.collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(got === Map(1L -> "VIP", 2L -> "Regular", 3L -> "Regular"))
  }

  test("lookup: last-wins duplicates, miss -> null, string-coerced keys") {
    val r = RuleCompiler.run(mainDf,
      Seq(DirectMap("id", "id"), Lookup("label", "m", "code", "k", "v")),
      Map("m" -> mapDf))
    assert(r.errors.isEmpty)
    val got = r.output.collect().map(x => x.getLong(0) -> Option(x.getString(1))).toMap
    assert(got === Map(1L -> Some("ten-v2"), 2L -> Some("twenty"), 3L -> None))
  }

  test("lookup join never multiplies rows") {
    val r = RuleCompiler.run(mainDf,
      Seq(Lookup("label", "m", "code", "k", "v")), Map("m" -> mapDf))
    assert(r.output.count() === 3)
  }

  test("missing mapping table: warning recorded, column not produced") {
    val r = RuleCompiler.run(mainDf,
      Seq(DirectMap("id", "id"), Lookup("label", "nope", "code", "k", "v")), Map.empty)
    assert(r.output.columns.toSeq === Seq("id"))
    assert(r.errors.exists(_.message.contains("'nope' not found")))
  }

  test("failed rule is skipped; remaining rules still run (main.py:173-174)") {
    val r = RuleCompiler.run(mainDf, Seq(
      DirectMap("a", "id"),
      Conditional("bad", "(`amount` >>> 1)", "x", "y"),
      DirectMap("nope", "no_such_col"),
      DirectMap("b", "state")), Map.empty)
    assert(r.output.columns.toSeq === Seq("a", "b"))
    assert(r.errors.size === 2)
  }

  test("empty input: zero rows, rule columns present") {
    val empty = mainDf.limit(0)
    val r = RuleCompiler.run(empty,
      Seq(DirectMap("id", "id"), Conditional("t", "(`amount` > 1)", "y", "n")), Map.empty)
    assert(r.output.columns.toSeq === Seq("id", "t"))
    assert(r.output.count() === 0)
  }

  test("duplicate output name: last rule wins, position of first occurrence kept") {
    val r = RuleCompiler.run(mainDf, Seq(
      DirectMap("x", "id"), DirectMap("y", "state"), DirectMap("x", "amount")), Map.empty)
    assert(r.output.columns.toSeq === Seq("x", "y"))
    val first = r.output.orderBy("y").collect().head
    assert(first.schema("x").dataType.typeName === "double")
  }

  test("pandasNanCoercion: null probe matches a null ('nan') mapping key") {
    import spark.implicits._
    val main = Seq[(java.lang.Long, java.lang.Double)]((1L, 10.0), (2L, null))
      .toDF("id", "code")
    val mapping = Seq[(java.lang.Double, String)]((10.0, "ten"), (null, "was-nan"))
      .toDF("k", "v")
    // default: Spark-natural, null never matches
    val plain = RuleCompiler.run(main, Seq(DirectMap("id", "id"),
      Lookup("label", "m", "code", "k", "v")), Map("m" -> mapping))
      .output.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(plain === Map(1L -> Some("ten"), 2L -> None))
    // parity mode: pandas astype(str) renders NaN as "nan" on both sides
    val parity = RuleCompiler.run(main, Seq(DirectMap("id", "id"),
      Lookup("label", "m", "code", "k", "v")), Map("m" -> mapping),
      pandasNanCoercion = true)
      .output.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(parity === Map(1L -> Some("ten"), 2L -> Some("was-nan")))
  }

  test("two lookups against different mappings compose") {
    import spark.implicits._
    val m2 = Seq(("open", "O"), ("closed", "C")).toDF("s", "abbr")
    val r = RuleCompiler.run(mainDf, Seq(
      Lookup("label", "m", "code", "k", "v"),
      Lookup("st", "m2", "state", "s", "abbr")),
      Map("m" -> mapDf, "m2" -> m2))
    assert(r.errors.isEmpty)
    val got = r.output.collect().map(x => (Option(x.getString(0)), x.getString(1))).toSet
    assert(got === Set((Some("ten-v2"), "O"), (Some("twenty"), "C"), (None, "O")))
  }

  test("probe side of the pipeline stays shuffle-free (broadcast lookups)") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val r = RuleCompiler.run(rangedMainDf, Seq(
      DirectMap("id", "id"),
      Conditional("t", "(`amount` > 100)", "y", "n"),
      Lookup("label", "m", "code", "k", "v")), Map("m" -> mapDf))
    val outer = r.output.queryExecution.executedPlan
    val plan = outer.collectFirst {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
    }.getOrElse(outer)
    // the lookup is a dictionary probe inside the projection: nothing
    // of the mapping is left in the plan to join or to exchange
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, s"join in:\n$plan")
    assert(plan.collect { case e: Exchange => e }.isEmpty, s"exchange in:\n$plan")
    assert(plan.toString.contains("broadcast_dict_get"), s"no dictionary probe in:\n$plan")
  }

  test("lookup values keep the mapping column's type, a null value included") {
    import spark.implicits._
    // key 10's last row carries nulls: last wins, so 10 maps to null
    val m = Seq[(Int, java.lang.Integer, java.lang.Double, String)](
      (10, 1, 1.5, "a"), (20, 2, 2.5, "b"), (10, null, null, null)).toDF("k", "i", "d", "s")
    val rules = Seq(DirectMap("id", "id"), Lookup("i", "m", "code", "k", "i"),
      Lookup("d", "m", "code", "k", "d"), Lookup("s", "m", "code", "k", "s"))
    // a local main table runs the interpreted eval, a ranged one the
    // generated code
    Seq("local" -> mainDf, "range" -> rangedMainDf).foreach { case (shape, main) =>
      val r = RuleCompiler.run(main, rules, Map("m" -> m))
      assert(r.errors.isEmpty)
      assert(r.output.schema.map(f => f.name -> f.dataType.typeName) ===
        Seq("id" -> "long", "i" -> "integer", "d" -> "double", "s" -> "string"))
      val got = r.output.collect().map(x => x.getLong(0) -> x.toSeq.tail).toMap
      assert(got === Map(1L -> Seq(null, null, null), 2L -> Seq(2, 2.5, "b"),
        3L -> Seq(null, null, null)), shape)
    }
  }

  private def csvFile(dir: java.nio.file.Path, name: String, lines: Seq[String]): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.writeString(p, lines.mkString("", "\n", "\n"))
    p.toString
  }

  test("file-backed lookups: one job per mapping at run, one for preview, one for sink") {
    val dir = java.nio.file.Files.createTempDirectory("rulecompiler-jobs")
    val main = SmartLoad.load(spark, csvFile(dir, "main.csv", "id,code,state" +:
      (1 to 300).map(i => s"$i,${i % 25},${if (i % 2 == 0) "open" else "closed"}")))
    val maps = Map(
      "m" -> SmartLoad.load(spark, csvFile(dir, "m.csv",
        ("k,v" +: (1 to 20).map(i => s"$i,v$i")) :+ "3,v3-last")),
      "s" -> SmartLoad.load(spark, csvFile(dir, "s.csv", Seq("s,abbr", "open,O", "closed,C"))))
    val rules = Seq(DirectMap("id", "id"),
      Lookup("label", "m", "code", "k", "v"), Lookup("st", "s", "state", "s", "abbr"))
    val sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", "caller")
    val (r, runJobs) = jobsOf(RuleCompiler.run(main, rules, maps))
    val restored = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", null)
    assert(restored === "caller")
    assert(r.errors.isEmpty)
    assert(runJobs.sorted ===
      Seq("etl.RuleCompiler.lookup:m", "etl.RuleCompiler.lookup:s"), runJobs)
    val (preview, previewJobs) = jobsOf(r.output.limit(100).collect())
    assert(previewJobs.size === 1, previewJobs)
    val byId = preview.map(x => x.getInt(0) -> (Option(x.getString(1)), x.getString(2))).toMap
    assert(byId(3) === (Some("v3-last"), "C"))
    assert(byId(4) === (Some("v4"), "O"))
    assert(byId(21) === (None, "C"))
    val out = dir.resolve("out.csv").toString
    val (_, sinkJobs) = jobsOf(Sinks.csvSingleFile(r.output, out))
    assert(sinkJobs.size === 1, sinkJobs)
    assert(java.nio.file.Files.readAllLines(java.nio.file.Paths.get(out)).size === 301)
  }

  test("two Lookups on one mapping and columns build one dictionary") {
    val (r, jobs) = jobsOf(RuleCompiler.run(mainDf, Seq(
      Lookup("a", "m", "code", "k", "v"), Lookup("b", "m", "id", "k", "v")),
      Map("m" -> mapDf)))
    assert(r.errors.isEmpty)
    assert(jobs.size === 1, jobs)
    val got = r.output.collect().map(x => (Option(x.getString(0)), Option(x.getString(1)))).toSet
    assert(got === Set((Some("ten-v2"), None), (Some("twenty"), None), (None, None)))
  }

  test("a mapping that cannot be read fails its Lookup only; the other rules run") {
    val dir = java.nio.file.Files.createTempDirectory("rulecompiler-gone")
    val path = csvFile(dir, "m.csv", Seq("k,v", "10,ten"))
    val gone = SmartLoad.load(spark, path)
    java.nio.file.Files.delete(java.nio.file.Paths.get(path))
    val r = RuleCompiler.run(mainDf, Seq(DirectMap("id", "id"),
      Lookup("label", "m", "code", "k", "v"), DirectMap("st", "state")), Map("m" -> gone))
    assert(r.errors.map(_.rule.name) === Seq("label"))
    assert(r.errors.head.message.contains("'m' could not be read"), r.errors.head.message)
    assert(r.output.columns.toSeq === Seq("id", "st"))
    assert(r.output.count() === 3)
  }

  test("broadcastLookups=false drops the forced hint (scaling-mapping path)") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    val r = RuleCompiler.run(mainDf, Seq(
      DirectMap("id", "id"),
      Lookup("label", "m", "code", "k", "v")), Map("m" -> mapDf),
      broadcastLookups = false)
    assert(r.errors.isEmpty)
    val hinted = r.output.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.flatMap(_.strategy).contains(BROADCAST) ||
        j.hint.rightHint.flatMap(_.strategy).contains(BROADCAST) => j
    }
    assert(hinted.isEmpty, "forced broadcast hint survived with broadcastLookups=false")
    assert(r.output.count() === mainDf.count()) // left join keeps all rows
  }
}
