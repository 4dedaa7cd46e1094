package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class GlobalRowNumberSpec extends SparkTestBase {
  import spark.implicits._

  test("matches the single-reducer ROW_NUMBER window on shuffled input") {
    val rnd = new scala.util.Random(11)
    val df = (1L to 5000L).map(i => (rnd.nextInt(1000), i)).toDF("v", "id")
      .repartition(13)
    val got = withShufflePartitions(8)(Relational.globalRowNumber(df, Seq("v", "id"))
      .select($"v", $"id", $"row_num")
      .collect()).map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    val exp = df.withColumn("row_num",
        row_number().over(Window.orderBy($"v", $"id")).cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    assert(got.toSeq === exp.toSeq)
    assert(got.map(_._3).toSeq === (1L to 5000L))
  }

  test("plan never funnels data through a single partition") {
    val df = (1L to 100L).map(i => (i % 10, i)).toDF("v", "id")
    val plan = withShufflePartitions(4)(Relational.globalRowNumber(df, Seq("v", "id")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"found a single-partition exchange:\n$plan")
  }

  test("empty input yields empty output") {
    val df = Seq.empty[(Long, Long)].toDF("v", "id")
    assert(withShufflePartitions(4)(Relational.globalRowNumber(df, Seq("v", "id"))
      .count()) === 0L)
  }

  /** Asserts the rank path's (id -> row_num) and row count on `df`
    * (columns g: string, id: long), grouped by g and over the whole
    * frame by (g, id), against the single-reducer `row_number()` at 1,
    * 4 and 32 range partitions. */
  private def agreesWithWindow(df: DataFrame, label: String): Unit =
    for (parts <- Seq(1, 4, 32); grouped <- Seq(true, false)) {
      val (got, total) = withShufflePartitions(parts) {
        val (f, n) =
          if (grouped) Relational.rowNumberByKey(df, Some("g"), Seq("id"))
          else Relational.rowNumberByKey(df, None, Seq("g", "id"))
        (f.select("id", "row_num").as[(Long, Long)].collect().toMap, n)
      }
      val w = if (grouped) Window.partitionBy("g").orderBy("id")
        else Window.orderBy("g", "id")
      val want = df.select(col("id"), row_number().over(w).cast("long"))
        .as[(Long, Long)].collect().toMap
      val what = s"$label, $parts partitions, grouped=$grouped"
      assert(got === want, what)
      assert(total === want.size.toLong, what)
    }

  private def frame(rows: Seq[(String, Long)]): DataFrame =
    rows.toDF("g", "id").repartition(5)

  test("rank path == single-reducer row_number(), grouped and not (seeded)") {
    (0 until 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val ids = rnd.shuffle((1L to 300L).toVector)
      // null groups among three named ones
      val groups = Vector(null, "a", "b", "c")
      agreesWithWindow(frame(ids.map(i => (groups(rnd.nextInt(4)), i))),
        s"null groups, seed $seed")
      // one group spanning every range partition, two small neighbours
      agreesWithWindow(frame(ids.map(i =>
        (if (i <= 10) "a" else if (i > 290) "z" else "big", i))),
        s"one spanning group, seed $seed")
      // many tiny groups packed into the last range partitions
      agreesWithWindow(frame(ids.map(i =>
        (if (i <= 200) "big" else f"t${rnd.nextInt(60)}%02d", i))),
        s"many tiny groups, seed $seed")
    }
    // six rows over 32 range partitions: most partitions are empty
    agreesWithWindow(frame(Seq(("a", 3L), ("a", 1L), (null, 7L),
      ("b", 2L), ("b", 9L), (null, 4L))), "empty range partitions")
    agreesWithWindow(frame(Seq.empty), "empty input")
  }

  test("ntile == Spark's ntile window: total < tiles, = tiles, not divisible") {
    for ((total, tiles) <- Seq((3, 5), (5, 5), (23, 5), (20, 5), (1, 2), (97, 7))) {
      val df = (1L to total.toLong).toDF("rn")
      val got = df.select(col("rn"), Relational.ntile(col("rn"), total.toLong, tiles))
        .as[(Long, Long)].collect().toMap
      val want = df.select(col("rn"),
          ntile(tiles).over(Window.orderBy("rn")).cast("long"))
        .as[(Long, Long)].collect().toMap
      assert(got === want, s"total=$total tiles=$tiles")
    }
  }

  test("job count: globalRowNumber build + collect") {
    // every Spark job of building AND collecting, counted by a listener
    // (the DedupSpec guard): range bounds sample, the counts collect
    // that materializes the fence (two shuffle stages + the collect),
    // then the caller's collect; the numbering itself is narrow
    val df = (1L to 200L).map(i => (i % 7, i)).toDF("v", "id")
    val (got, jobs) = jobsOf(Relational.globalRowNumber(df, Seq("v", "id")).collect())
    assert(got.length === 200)
    assert(jobs.size === 5, jobs.mkString(", "))
  }
}
