package graft

/** Driver-contract smoke: every registered query must execute at sf0.001
  * (the driver's smoke SF), and the flagship entry must return rows. */
class SparkEntrySpec extends SparkTestBase {

  test("entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query executes at sf0.001") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try { fn(spark, sf()).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, s"queries failed:\n${failures.mkString("\n")}")
  }

  test("single-file staging: exactly one part file or a loud failure") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_stage_spec_").toFile
    try {
      def dirWith(name: String, files: String*): java.io.File = {
        val d = new java.io.File(root, name)
        assert(d.mkdir())
        files.foreach(f => assert(new java.io.File(d, f).createNewFile()))
        d
      }
      // a _SUCCESS marker and a checksum are not part files
      intercept[IllegalArgumentException](SparkEntry.onlyPartFile(
        dirWith("none", "_SUCCESS", ".part-00000.parquet.crc")))
      intercept[IllegalArgumentException](SparkEntry.onlyPartFile(
        dirWith("two", "part-00000.parquet", "part-00001.parquet")))
      val dest = new java.io.File(root, "staged.parquet")
      SparkEntry.stageSingleFile((1L to 10L).toDF("id").repartition(3), dest)
      assert(dest.isFile)
      assert(spark.read.parquet(dest.toString).as[Long].collect().sorted.toSeq ===
        (1L to 10L))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root)
    }
  }

  test("every oracle entry has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }
}
