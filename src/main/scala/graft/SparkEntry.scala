package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl._
import graft.ext.{Curation, Dedup, Embeddings, Events, Similarity, TextAnalysis}
import graft.ops.Relational
import graft.streaming.StreamingOps.concurrently

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or a
  * contract-mandated [EXT] operator); each SQL-expressible one has a
  * DuckDB-equivalent in `oracleSql` with IDENTICAL output column names
  * (the driver sorts columns by name before hashing). Approximate /
  * hash-seeded operators (simhash, LSH) are registered without oracle —
  * the driver records a weaker rows-only check; their semantics are
  * pinned by ScalaTest suites instead.
  */
object SparkEntry {

  /** Flagship: the full reference pipeline shape (Direct Map + Conditional
    * + Lookup compiled to one plan) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("etl_pipeline_json")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference parity: rule engine (SURVEY.md §2.2) ------------------
    "etl_direct_map" -> { (s, dir) =>
      val orders = Tables(s, dir, "orders")
      RuleCompiler.run(orders, Seq(
        DirectMap("order_id", "o_orderkey"),
        DirectMap("status", "o_orderstatus"),
        DirectMap("total", "o_totalprice")), Map.empty).output
    },
    "etl_conditional" -> { (s, dir) =>
      val orders = Tables(s, dir, "orders")
      RuleCompiler.run(orders, Seq(
        DirectMap("order_id", "o_orderkey"),
        Conditional("priority", "(`o_totalprice` > 1000)", "VIP", "Regular"),
        Conditional("flagged", "(`o_totalprice` > 50000) | (`o_orderstatus` == 'F')", "Y", "N")),
        Map.empty).output
    },
    "fuzz_condexpr" -> { (s, dir) =>
      // Differential fuzzing of the CondExpr grammar: FuzzN random
      // well-formed expressions (fixed seed — queries and oracleSql
      // regenerate the identical battery), each compiled through
      // CondExpr.translate and evaluated over the fuzz base in ONE
      // aggregation pass. Per expression the output is (n_true, key_sum):
      // key_sum = sum of k over rows where the condition holds is
      // order-independent yet per-row-sensitive — any single row flipping
      // truth value changes the sum by that row's unique key, so a
      // semantic divergence anywhere in the battery breaks the hash. The
      // oracle re-renders the same ASTs as DuckDB SQL.
      val base = fuzzCondExprBase(Tables(s, dir, "orders"))
      val cases = graft.etl.FuzzCondExpr.cases(FuzzCondExprN, FuzzCondExprSeed)
      val conds = cases.map { c =>
        graft.etl.CondExpr.translate(c.expr, base.schema) match {
          case Right(cond) => cond
          case Left(msg) => sys.error(s"fuzz ${c.id} failed to translate: $msg in ${c.expr}")
        }
      }
      // chunked: one 2000-buffer aggregate compiles into a single giant
      // janino class (measured 13s at sf0.1, almost all fixed codegen
      // cost); chunks of 100 expressions keep each generated class
      // JIT-able (measured 5.7s). Fully interpreted is worse still
      // (measured 26s) — codegen earns its cost here. What does NOT need
      // to be serial is the per-chunk driver-side compile: chunks are
      // independent aggregates over the same narrow scan, so they are
      // submitted as CONCURRENT jobs — janino compiles and the tiny jobs
      // run in parallel (measured: serial chunks 6.6s, parallel 3.4s at
      // chunk=50; chunk=25 regresses to 5.4s on per-job overhead). The
      // 1000-row battery result is materialized like the memory-sink rows.
      import s.implicits._
      val out = concurrently(cases.zip(conds).grouped(50).map { chunk =>
        () => {
          val aggs = chunk.flatMap { case (c, cond) => Seq(
            sum(when(cond, lit(1L)).otherwise(lit(0L))).as(s"nt_${c.id}"),
            sum(when(cond, col("k")).otherwise(lit(0L))).as(s"ks_${c.id}")) }
          base.agg(aggs.head, aggs.tail: _*)
            .select(explode(array(chunk.map { case (c, _) => struct(
              lit(c.id).as("expr_id"),
              col(s"nt_${c.id}").as("n_true"),
              col(s"ks_${c.id}").as("key_sum")) }: _*)).as("r"))
            .select(col("r.expr_id").as("expr_id"),
              col("r.n_true").as("n_true"), col("r.key_sum").as("key_sum"))
            .collect()
        }
      }.toSeq: _*).flatten
      out.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toDF("expr_id", "n_true", "key_sum")
    },
    "etl_lookup" -> { (s, dir) =>
      val customer = Tables(s, dir, "customer")
      val nation = Tables(s, dir, "nation")
      RuleCompiler.run(customer, Seq(
        DirectMap("cust_id", "c_custkey"),
        Lookup("nation_name", "nation", "c_nationkey", "n_nationkey", "n_name")),
        Map("nation" -> nation)).output
    },
    "etl_pipeline_json" -> { (s, dir) =>
      // Full path: JSON spec (live schema, main.py:327-339) -> Rule ADT ->
      // one compiled plan over orders with a broadcast-dictionary
      // customer lookup (built once, probed inside the projection).
      val spec =
        """[
          |{"name":"order_id","type":"Direct Map","source":"o_orderkey"},
          |{"name":"total","type":"Direct Map","source":"o_totalprice"},
          |{"name":"priority","type":"Conditional",
          | "expression":"(`o_totalprice` > 1000) | (`o_orderstatus` == 'F')",
          | "then":"VIP","else":"Regular"},
          |{"name":"segment","type":"Lookup","map_name":"customer",
          | "in_col":"o_custkey","key_col":"c_custkey","val_col":"c_mktsegment"}
          |]""".stripMargin
      val (rules, _) = RuleJson.parse(spec)
      RuleCompiler.run(Tables(s, dir, "orders"), rules,
        Map("customer" -> Tables(s, dir, "customer"))).output
    },
    "etl_pipeline_legacy" -> { (s, dir) =>
      // LEGACY-schema import end-to-end: the only pipeline artifact the
      // reference actually ships is the legacy-shape spec
      // (examples.json:1-7 — output_columns with a lookup and a
      // condition); this is that exact shape over the fixture tables,
      // through parseLegacy -> Rule ADT -> one compiled plan.
      val spec =
        """{
          |  "output_columns": [
          |    {"name": "CustomerName", "lookup": {"mapping_file": "customer_mapping",
          |      "input_col": "o_custkey", "key_col": "c_custkey", "target_col": "c_name"}},
          |    {"name": "Priority", "condition": {"if": [{"input_col": "o_totalprice",
          |      "operator": ">", "value": 1000}], "then": "VIP", "else": "Regular"}}
          |  ]
          |}""".stripMargin
      val (rules, errs) = RuleJson.parse(spec)
      require(errs.isEmpty, s"legacy spec must parse cleanly: $errs")
      RuleCompiler.run(Tables(s, dir, "orders"), rules,
        Map("customer_mapping" -> Tables(s, dir, "customer"))).output
    },

    "etl_upsert" -> { (s, dir) =>
      // MERGE semantics: a deterministic delta derived from orders —
      // every 97th key gets a doubled total + status 'U' (update), and
      // shifted new keys are inserted; the oracle derives the identical
      // delta and full-outer-merges in SQL
      val base = Tables(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val changed = base.filter(pmod(col("o_orderkey"), lit(97L)) === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      val inserted = base.filter(pmod(col("o_orderkey"), lit(151L)) === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"))
      Merge.upsert(base, changed.unionByName(inserted), keys = Seq("o_orderkey"))
    },
    "etl_profile" -> { (s, dir) =>
      Merge.profile(Tables(s, dir, "orders"),
        Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"))
    },
    "etl_scd2" -> { (s, dir) =>
      // type-2 history merge over a deterministic scenario: every 31st
      // customer already has a closed history row; updates at t=100
      // change every 13th customer's segment, send no-op copies for
      // every 7th, and insert shifted new keys for every 41st — the
      // oracle hand-derives the exact same history table
      val cust = Tables(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val open = cust.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      val closedHist = cust.filter(pmod(col("c_custkey"), lit(31L)) === 0)
        .select(col("c_custkey"), lit("OLD").as("c_mktsegment"), col("c_acctbal"),
          lit(-100L).as("valid_from"), lit(0L).as("valid_to"))
      val updates =
        cust.filter(pmod(col("c_custkey"), lit(13L)) === 0)
          .select(col("c_custkey"), lit("MOVED").as("c_mktsegment"), col("c_acctbal"),
            lit(100L).as("valid_from"))
        .unionByName(cust
          .filter(pmod(col("c_custkey"), lit(7L)) === 0 &&
            pmod(col("c_custkey"), lit(13L)) =!= 0)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
            lit(100L).as("valid_from")))
        .unionByName(cust.filter(pmod(col("c_custkey"), lit(41L)) === 0)
          .select((col("c_custkey") + 5000000L).as("c_custkey"),
            lit("NEW").as("c_mktsegment"), col("c_acctbal"),
            lit(100L).as("valid_from")))
      Merge.scd2(open.unionByName(closedHist), updates,
        keys = Seq("c_custkey"), trackedCols = Seq("c_mktsegment", "c_acctbal"))
    },

    "etl_temporal_join" -> { (s, dir) =>
      // Point-in-time join of the orders fact stream against a
      // deterministic SCD2 customer dimension: every 3rd customer
      // changes segment at day 1277 (1995-07-01), every 97th customer
      // is absent from the dimension entirely (exercises the left-join
      // NULL face). Fact time = days since 1992-01-01.
      val facts = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("fact_day"))
      val cust = Tables(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(97L)) =!= 0)
      val v1 = cust.select(col("c_custkey"), col("c_mktsegment").as("seg"),
        lit(0L).as("valid_from"),
        when(pmod(col("c_custkey"), lit(3L)) === 0, lit(1277L))
          .cast("long").as("valid_to"))
      val v2 = cust.filter(pmod(col("c_custkey"), lit(3L)) === 0)
        .select(col("c_custkey"), lit("MOVED").as("seg"),
          lit(1277L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      Merge.temporalJoin(facts, v1.unionByName(v2),
          keys = Seq("c_custkey"), factTime = "fact_day")
        .select(col("o_orderkey"), col("seg"), col("valid_from").as("ver_from"))
    },

    "curation_pipeline" -> { (s, dir) =>
      // End-to-end composed curation: clean → length-quality filter →
      // exact dedup (first-writer-wins by doc_id on the CLEANED text's
      // fingerprint) → deterministic 80/10/10 split. One chained plan —
      // clean/filter/fingerprint fuse into a single codegen stage, the
      // dedup window partitions by 16-byte fingerprint, the split is a
      // projection. The oracle replays the identical chain in SQL.
      val d = Tables(s, dir, "documents")
      val quality = d
        .select(col("doc_id"), TextAnalysis.cleaned(col("text")).as("clean"))
        .filter(length(col("clean")) >= 50)
      val deduped = graft.ext.Dedup.exactRows(quality, textCol = "clean")
      val bucket = pmod(pmod(col("doc_id"), lit(100L)) * lit(61L), lit(100L))
      deduped.select(col("doc_id"),
        length(col("clean")).cast("int").as("clean_len"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
    },
    "export_train_shards" -> { (s, dir) =>
      // The full training-export story end-to-end: quality filter →
      // deterministic engine-portable shard assignment (first md5 hex
      // nibble — replays identically in DuckDB, unlike a seeded rand)
      // → shard-co-located TFRecord container write → reload through
      // the frame-verified reader → per-shard audit. The oracle
      // recomputes the shard membership and per-shard sums straight
      // off the base table, so a defect anywhere in the chain —
      // assignment, encode, frame CRC, decode — breaks the hash.
      val d = Tables(s, dir, "documents").filter(col("n_chars") >= lit(100L))
      val sharded = graft.ext.Curation.shardByMd5(d, "doc_id")
        .select(col("doc_id"), col("shard"), col("n_chars"), col("text"))
      val tmp = scratchDir("graft_exp_").toString + "/train_shards"
      graft.etl.Sinks.tfRecordDir(sharded.repartition(16, col("shard")), tmp)
      graft.etl.TfRecordIO.read(s, tmp, sharded.schema)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_chars"))
    },
    "etl_flatten" -> { (s, dir) =>
      // Nested-struct flattening end-to-end: events packed into a
      // two-level struct, flattened back to parent_child columns; the
      // oracle is the flat projection — path resolution and naming
      // must round-trip exactly.
      val ev = Tables(s, dir, "events")
      val nested = ev.select(col("event_id"),
        struct(
          struct(col("user_id").as("id"), col("event_type").as("type")).as("who"),
          struct(graft.ext.Events.tsSec(ev).as("sec")).as("at")).as("ctx"))
      graft.etl.SmartLoad.flattenStructs(nested)
    },
    "etl_quarantine" -> { (s, dir) =>
      // Row-level dead-lettering: order keys re-rendered as strings
      // with every 37th corrupted ('X' suffix) and every 41st blanked;
      // typed quarantine splits clean (cast applied) from quarantined
      // (reasons attached) in one scan. Output = union face with a
      // stream tag so one oracle covers both sides.
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .withColumn("key_str",
          when(pmod(col("o_orderkey"), lit(37L)) === 0L,
            concat(col("o_orderkey").cast("string"), lit("X")))
          .when(pmod(col("o_orderkey"), lit(41L)) === 0L, lit(""))
          .otherwise(col("o_orderkey").cast("string")))
      val specs = Seq("key_str" -> "bigint")
      val clean = graft.etl.Quarantine.clean(o, specs)
        .select(col("o_orderkey"), col("key_str").cast("string").as("face"),
          lit("clean").as("stream"))
      val bad = graft.etl.Quarantine.quarantined(o, specs)
        .select(col("o_orderkey"),
          array_join(col("quarantine_reasons"), ",").as("face"),
          lit("quarantine").as("stream"))
      clean.unionByName(bad)
    },
    "etl_fixed_width" -> { (s, dir) =>
      // Fixed-width round trip: orders serialized to 29-byte records
      // (12d key | 12d cust | 1s status | 4d year), written as text,
      // read back through the fixed-width reader. Oracle = the same
      // projection straight off the base table — any slicing, trimming
      // or casting defect breaks the match. Integer/string fields only:
      // engine-stable renderings.
      val o = Tables(s, dir, "orders")
      val lines = o.select(format_string("%012d%012d%1s%04d",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        year(col("o_orderdate"))).as("value"))
      val tmp = scratchDir("graft_fw_").toString
      lines.write.mode("overwrite").text(tmp)
      import graft.etl.SmartLoad.FixedWidthCol
      graft.etl.SmartLoad.fixedWidth(s, tmp, Seq(
        FixedWidthCol("o_orderkey", 0, 12, "long"),
        FixedWidthCol("o_custkey", 12, 12, "long"),
        FixedWidthCol("o_orderstatus", 24, 1),
        FixedWidthCol("o_year", 25, 4, "int")))
    },
    "etl_avro" -> { (s, dir) =>
      // Avro OCF round trip over the from-scratch avro-core reader/
      // writer: the full orders table (long/string/double/timestamp —
      // timestamp goes through logical timestamp-micros) written as a
      // container-file directory, read back through SmartLoad's .avro
      // dispatch. Oracle = the base table verbatim: any encode/decode,
      // union-nullability or logical-type defect breaks the hash.
      val tmp = scratchDir("graft_avro_").toString + "/orders_avro"
      graft.etl.Sinks.avroDir(Tables(s, dir, "orders"), tmp)
      graft.etl.SmartLoad.load(s, tmp, formatOverride = Some("avro"))
    },
    "etl_arrow" -> { (s, dir) =>
      // Arrow IPC (Feather v2) round trip over the arrow-vector-core
      // reader/writer: the full orders table written as a directory of
      // IPC files (bounded record batches), read back through
      // SmartLoad's .arrow dispatch. Oracle = the base table verbatim:
      // any vector encode/decode, validity-bitmap or temporal-unit
      // defect breaks the hash. Interop with pyarrow (both directions,
      // incl. zstd-compressed buffers) is pinned in ArrowIOSpec.
      val tmp = scratchDir("graft_arrow_").toString + "/orders_arrow"
      graft.etl.Sinks.arrowDir(Tables(s, dir, "orders"), tmp)
      graft.etl.SmartLoad.load(s, tmp, formatOverride = Some("arrow"))
    },
    "etl_xml" -> { (s, dir) =>
      // XML round trip over the StAX reader/escaped writer: orders
      // projected to the inference lattice's types (long/string/double
      // + a year int), written as record XML, read back and re-typed
      // by per-column inference. Oracle = the same projection off the
      // base table (double text round trip is exact: Java toString ->
      // parse is the identity on doubles).
      val o = Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), year(col("o_orderdate")).cast("long").as("o_year"))
      val tmp = scratchDir("graft_xml_").toString + "/orders_xml"
      graft.etl.Sinks.xmlDir(o, tmp)
      graft.etl.SmartLoad.load(s, tmp, formatOverride = Some("xml"))
    },
    "etl_tfrecord" -> { (s, dir) =>
      // tf.train.Example round trip over the from-scratch TFRecord
      // codec (masked-CRC32C frames + hand-rolled protobuf): long and
      // string scalars, a float32 scalar, and an int64 list written as
      // part shards and read back under the explicit schema. The
      // float32 cast sits on BOTH faces (IEEE round-to-nearest is
      // engine-identical); the list face serializes to CSV — array
      // columns don't order-compare portably across engines.
      val o = Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("float").as("o_price_f"),
        array(pmod(col("o_orderkey"), lit(7L)),
          pmod(col("o_custkey"), lit(11L))).as("o_keys"))
      val tmp = scratchDir("graft_tfr_").toString + "/orders_tfrecord"
      graft.etl.Sinks.tfRecordDir(o, tmp)
      graft.etl.TfRecordIO.read(s, tmp, o.schema)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_price_f"),
          array_join(col("o_keys"), ",").as("keys_str"))
    },
    "etl_webdataset" -> { (s, dir) =>
      // WebDataset tar-shard round trip over the from-scratch ustar
      // writer/reader: each document becomes a `doc-<id>.txt` +
      // `doc-<id>.lang` sample in a tar shard per partition, read back
      // by consecutive-key grouping and decoded to strings. Oracle =
      // the same projection off the base table.
      val d = Tables(s, dir, "documents").select(
        concat(lit("doc-"), col("doc_id")).as("key"),
        col("text").as("txt"), col("lang"))
      val tmp = scratchDir("graft_wds_").toString + "/documents_wds"
      graft.etl.Sinks.webDatasetShards(d, "key", tmp)
      graft.etl.WebDatasetIO.read(s, tmp)
        .select(col("key"), col("txt").cast("string").as("txt"),
          col("lang").cast("string").as("lang"))
    },
    "etl_schema_drift" -> { (s, dir) =>
      // Three drifted extracts of orders: v1 has int keys and no clerk;
      // v2 widened keys to long and added the status column; v3 has
      // string keys (CSV reload) and dropped totalprice. Reconciliation
      // = union of columns, widened types (int∨long→long, then
      // long∨string→string — integer renderings are engine-stable,
      // unlike doubles), NULL back-fill: pandas-concat semantics,
      // typed and total.
      val o = Tables(s, dir, "orders")
      val v1 = o.filter(pmod(col("o_orderkey"), lit(3L)) === 0L)
        .select(col("o_orderkey").cast("int").as("o_orderkey"),
          col("o_totalprice"))
      val v2 = o.filter(pmod(col("o_orderkey"), lit(3L)) === 1L)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val v3 = o.filter(pmod(col("o_orderkey"), lit(3L)) === 2L)
        .select(col("o_orderkey").cast("string").as("o_orderkey"), col("o_orderstatus"))
      graft.etl.SchemaDrift.reconcileUnion(Seq(v1, v2, v3))
    },
    "etl_incr_join" -> { (s, dir) =>
      // Incremental join-view maintenance: every 19th order and every
      // 23rd customer arrive as the day's inserts; the materialized
      // orders⋈customer view is maintained with three delta-sized
      // broadcast joins instead of a full re-join. Oracle = the full
      // join of the reconstituted tables — any double-counted or
      // missed delta term breaks the row-multiset hash.
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"))
      val c = Tables(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val aOld = o.filter(pmod(col("o_orderkey"), lit(19L)) =!= 0L)
      val aNew = o.filter(pmod(col("o_orderkey"), lit(19L)) === 0L)
      val bOld = c.filter(pmod(col("c_custkey"), lit(23L)) =!= 0L)
      val bNew = c.filter(pmod(col("c_custkey"), lit(23L)) === 0L)
      val view = aOld.join(bOld, Seq("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_mktsegment"))
      graft.ops.IncrementalJoin.maintain(view, aOld, aNew, bOld, bNew,
          keys = Seq("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_mktsegment"))
    },
    "etl_table_digest" -> { (s, dir) =>
      // Merkle-style bucket fingerprint of the orders snapshot: 64 rows
      // of (bucket, n_rows, digest). The oracle recomputes the identical
      // md5-based row hashes and XOR digests in DuckDB — the exact
      // cross-engine replica-verification contract the operator exists
      // for (shuffle = 64 rows, never the table).
      val snap = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      graft.ops.Cdc.tableDigest(snap, keys = Seq("o_orderkey"), buckets = 64)
    },
    "etl_digest_diff" -> { (s, dir) =>
      // Digest-then-drill replica diff: new snapshot mutates the status
      // of every 131st order, drops every 173rd, inserts shifted keys
      // for every 211th. Dirty buckets come from the digest compare;
      // the row-level diff runs over those buckets only. Oracle = the
      // plain FULL OUTER classification — if bucket selection missed a
      // change, rows would be absent and the hash would diverge.
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val mutated = base
        .filter(pmod(col("o_orderkey"), lit(173L)) =!= 0L)
        .withColumn("o_orderstatus",
          when(pmod(col("o_orderkey"), lit(131L)) === 0L, lit("Z"))
            .otherwise(col("o_orderstatus")))
        .unionByName(base.filter(pmod(col("o_orderkey"), lit(211L)) === 0L)
          .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
            col("o_custkey"), col("o_orderstatus")))
      graft.ops.Cdc.drillDiff(base, mutated, keys = Seq("o_orderkey"), buckets = 64)
    },

    "feat_quantile_bin" -> { (s, dir) =>
      // Exact equal-frequency binning of l_quantity (discrete 1..50)
      // into 8 bins via the value histogram — no global sort; the
      // oracle replays the identical cumulative floor-div rule.
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"))
      graft.ext.Features.quantileBinsDiscrete(li, "qty", k = 8, binCol = "bin")
        .select(col("l_orderkey"), col("l_linenumber"), col("qty"), col("bin"))
    },
    "feat_quantile_transform" -> { (s, dir) =>
      // Mid-rank percentile scaling of l_quantity onto [0, 1e6] in
      // exact integers (min→0, max→1e6, ties at their block's average
      // rank) — the QuantileTransformer face of the same value-
      // histogram topology; the oracle replays the floor-div rule.
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"))
      graft.ext.Features.quantileTransform(li, "qty")
        .select(col("l_orderkey"), col("l_linenumber"), col("qty"),
          col("pct_micro"))
    },
    "feat_quantile_transform_incremental" -> { (s, dir) =>
      // Incremental maintenance of the same transform: the corpus
      // histogram (orderkey % 3 != 0) is PERSISTED once; the delta
      // tile's histogram merges in (count monoid) and the full table
      // scores off merged state alone — bit-identical to the direct
      // transform, so it shares feat_quantile_transform's oracle with
      // the state files in the lineage instead of a second corpus scan.
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"))
      val stateDir = scratchDir("graft_qt_state_").toString
      graft.etl.Sinks.parquetDir(
        graft.ext.Features.valueHistogram(
          li.filter(col("l_orderkey") % 3 =!= 0), "qty"), stateDir)
      val merged = graft.ext.Features.mergeValueHistograms(
        s.read.parquet(stateDir),
        graft.ext.Features.valueHistogram(
          li.filter(col("l_orderkey") % 3 === 0), "qty"))
      graft.ext.Features.quantileTransformFromState(li, "qty", merged)
        .select(col("l_orderkey"), col("l_linenumber"), col("qty"),
          col("pct_micro"))
    },
    "feat_target_encode" -> { (s, dir) =>
      // Smoothed mean encoding of c_mktsegment against c_acctbal
      // (m = 10). Micro-precision integer face for the encoding (the
      // q_group_ols pattern: sums are exact in both engines, the final
      // double division is quantized).
      graft.ext.Features.targetEncode(
          Tables(s, dir, "customer"), "c_mktsegment", "c_acctbal", smoothing = 10.0)
        .select(col("c_mktsegment"), col("n"),
          round(col("encoding") * 1e6).cast("long").as("enc_micro"))
    },
    "feat_zscore" -> { (s, dir) =>
      // Per-type z-score standardization of event values: micro-int
      // power sums -> bit-identical mu/sigma doubles in any engine,
      // one broadcast join back onto the rows, z quantized at 1e-6.
      graft.ext.Features.standardize(
          Tables(s, dir, "events"), "event_type", "value")
        .select(col("event_id"), col("event_type"), col("value"),
          col("z_micro"))
    },
    "feat_robust_scale" -> { (s, dir) =>
      // Per-flag robust scaling of prices — (x − median)/IQR, the
      // outlier-immune sibling of feat_zscore: exact lower-quantile
      // cuts off the distinct-value histogram, sign-safe half-up
      // divmod ratio, one broadcast join back onto the rows.
      graft.ext.Features.robustScale(
        Tables(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_extendedprice")), "l_returnflag", "l_extendedprice")
    },
    "events_inter_arrival" -> { (s, dir) =>
      // Inter-arrival cadence profile per event type: integer-second
      // gaps off the deterministic (sec, id) order, exact discrete
      // p50/p90 off the gap histogram, half-up divmod mean.
      val ev = Tables(s, dir, "events")
      graft.ext.Events.interArrival(
        ev.select(col("event_type"),
          graft.ext.Events.tsSec(ev).as("sec"), col("event_id")),
        "event_type", "sec", "event_id")
    },
    "dq_srm" -> { (s, dir) =>
      // Sample-ratio-mismatch gate: a synthetic 3-arm assignment off
      // the order key checked against its intended 1:1:1 allocation —
      // exact goodness-of-fit cells via the decimal divmod split.
      val arm = when(pmod(col("o_orderkey"), lit(3L)) === 0, "A")
        .when(pmod(col("o_orderkey"), lit(3L)) === 1, "B")
        .otherwise("C")
      graft.ops.Experiment.srmCheck(
        Tables(s, dir, "orders").withColumn("arm", arm), "arm",
        weights = Seq("A" -> 1L, "B" -> 1L, "C" -> 1L))
    },
    "exp_cuped" -> { (s, dir) =>
      // CUPED variance reduction: o_totalprice adjusted by its
      // rounded-to-hundreds pre-period proxy — theta from exact
      // micro-int power sums, residuals per order.
      val o = Tables(s, dir, "orders").select(col("o_orderkey"),
        col("o_totalprice"),
        (floor(col("o_totalprice") / 100.0) * 100.0).as("x_pre"))
      graft.ops.Experiment.cuped(o, "o_totalprice", "x_pre")
        .select(col("o_orderkey"), col("theta_micro"), col("y_adj_micro"))
    },
    "exp_conformal" -> { (s, dir) =>
      // Split conformal intervals: a synthetic scorer (actual +
      // deterministic doc-derived noise in [-48, 48]) is "predicted"
      // identically in both engines; the %3==0 slice calibrates, the
      // %3==1 slice receives ŷ ± q̂ at α = 0.1 — q̂ is the exact
      // ⌈(n+1)·0.9⌉-th smallest |residual|, so every output value is an
      // exact integer the oracle recomputes from the same arithmetic.
      val scored = Tables(s, dir, "orders").select(
        col("o_orderkey"),
        (col("o_totalprice") + (pmod(col("o_orderkey"), lit(97L)) - 48L)
          .cast("double")).as("pred"),
        col("o_totalprice").as("actual"))
      graft.ops.Experiment.conformalIntervals(
        scored.filter(pmod(col("o_orderkey"), lit(3L)) === 0),
        scored.filter(pmod(col("o_orderkey"), lit(3L)) === 1),
        "pred", "actual", alphaMicro = 100000L, idCol = "o_orderkey")
    },
    "exp_conformal_group" -> { (s, dir) =>
      // Mondrian conformal: the same scorer but with per-PRIORITY noise
      // spread (easy and noisy segments coexist), calibrated per group
      // — each segment gets its own exact q̂, so coverage holds WITHIN
      // every priority, not just on average. Fully distributed: no
      // driver collect, one broadcast q̂ join.
      val noise = (pmod(col("o_orderkey"), lit(97L)) - 48L).cast("double")
      val spread = (substring(col("o_orderpriority"), 1, 1).cast("int"))
        .cast("double")
      val scored = Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        (col("o_totalprice") + noise * spread).as("pred"),
        col("o_totalprice").as("actual"))
      graft.ops.Experiment.conformalIntervalsByGroup(
        scored.filter(pmod(col("o_orderkey"), lit(3L)) === 0),
        scored.filter(pmod(col("o_orderkey"), lit(3L)) === 1),
        "o_orderpriority", "pred", "actual",
        alphaMicro = 100000L, idCol = "o_orderkey")
    },
    "exp_cqr" -> { (s, dir) =>
      // Conformalized quantile regression: a deterministic ASYMMETRIC
      // band [price − key%50, price + key%70] plays the quantile
      // model's two heads; actual = price + key-derived noise. The %3
      // folds mirror exp_conformal; q̂ is the exact k-th smallest
      // SIGNED score max(lo−y, y−hi) — the oracle replays the same
      // integer arithmetic end-to-end.
      val sc = Tables(s, dir, "orders").select(
        col("o_orderkey"),
        (col("o_totalprice") -
          pmod(col("o_orderkey"), lit(50L)).cast("double")).as("lo"),
        (col("o_totalprice") +
          pmod(col("o_orderkey"), lit(70L)).cast("double")).as("hi"),
        (col("o_totalprice") + (pmod(col("o_orderkey"), lit(97L)) - 48L)
          .cast("double")).as("actual"))
      graft.ops.Experiment.cqrIntervals(
        sc.filter(pmod(col("o_orderkey"), lit(3L)) === 0),
        sc.filter(pmod(col("o_orderkey"), lit(3L)) === 1),
        "lo", "hi", "actual", alphaMicro = 100000L, idCol = "o_orderkey")
    },
    "exp_mannwhitney" -> { (s, dir) =>
      // Nonparametric A/B readout: returned ('A') vs refused ('R')
      // lineitems compared on extended price — exact doubled mid-rank
      // sums off the micro-value histogram (range-partitioned
      // cumulative, never a one-reducer rank), tie-corrected z from
      // one fixed double tree the oracle mirrors operand-for-operand.
      graft.ops.Experiment.mannWhitney(
        Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v")),
        "g", "v", "A", "R")
    },
    "exp_fdr_bh" -> { (s, dir) =>
      // Benjamini-Hochberg over a deterministic multi-metric readout:
      // each priority is an "experiment", each key-bucket a "metric",
      // p_micro synthesized from exact integer sums — the step-up
      // suffix-min and ceil quantization replay exactly in the oracle.
      val m = Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("exp_id"),
          pmod(col("o_orderkey"), lit(20L)).as("metric"))
        .agg(pmod(sum(col("o_orderkey")), lit(1000001L)).as("p_micro"))
      graft.ops.Experiment.bhAdjust(m, "exp_id", "metric", "p_micro",
        alphaMicro = 50000L)
    },
    "exp_qte" -> { (s, dir) =>
      // Quantile treatment effects at p25/p50/p75: where in the
      // distribution do returned and refused lineitems differ on
      // price? Per-arm type-1 order statistics resolved in-plan
      // against the broadcast p-spine — exact micro ints end to end.
      graft.ops.Experiment.quantileTreatmentEffect(
        Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v")),
        "g", "v", "A", "R", Seq(250000L, 500000L, 750000L))
    },
    "exp_jackknife_ratio" -> { (s, dir) =>
      // Delete-one-bucket jackknife SE for revenue-per-unit (a ratio
      // of sums): orders hash into 64 buckets by portable integer
      // arithmetic, leave-one-out ratios nano-quantize BEFORE the
      // spread, so the variance arithmetic is exact integers.
      graft.ops.Experiment.jackknifeRatio(
        Tables(s, dir, "lineitem").select(col("l_orderkey").as("id"),
          col("l_extendedprice").as("num"), col("l_quantity").as("den")),
        "id", "num", "den", buckets = 64)
    },
    "exp_mcnemar" -> { (s, dir) =>
      // Paired binary flip test on a deterministic condition pair:
      // discordant counts + the exact divmod chi-square.
      graft.ops.Experiment.mcnemar(
        Tables(s, dir, "orders").select(
          (pmod(col("o_orderkey"), lit(3L)) === 0).as("pre"),
          (pmod(col("o_custkey"), lit(2L)) === 0).as("post")),
        "pre", "post")
    },
    "exp_proportions" -> { (s, dir) =>
      // Conversion-rate readout: returned vs refused arms on the
      // "large order line" success flag — exact counts, one mirrored
      // z tree, exact integer rate difference.
      graft.ops.Experiment.proportionTest(
        Tables(s, dir, "lineitem").select(col("l_returnflag").as("g"),
          (col("l_quantity") > 25.0).as("s")),
        "g", "s", "A", "R")
    },
    "exp_winsorized_mean" -> { (s, dir) =>
      // Robust metric readout: per-arm means after clamping to each
      // arm's own [p5, p95] cuts — the fused two-arm histogram + one
      // range-partitioned stitch, winsorized sums exact in decimal.
      graft.ops.Experiment.winsorizedMean(
        Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v")),
        "g", "v", "A", "R", pLoMicro = 50000L, pHiMicro = 950000L)
    },
    "exp_did" -> { (s, dir) =>
      // Difference-in-differences on a deterministic 2x2: order-key
      // parity plays treatment, customer-key parity plays period —
      // four exact micro sums, one mirrored double tree.
      val o = Tables(s, dir, "orders").select(
        when(pmod(col("o_orderkey"), lit(2L)) === 0, "T").otherwise("C").as("g"),
        when(pmod(col("o_custkey"), lit(2L)) === 0, "pre").otherwise("post").as("p"),
        col("o_totalprice").as("v"))
      graft.ops.Experiment.diffInDiff(o, "g", "p", "v", "T", "C", "pre", "post")
    },
    "exp_mw_sql" -> { (s, dir) =>
      // Mann-Whitney through its SQL TVF face; shares exp_mannwhitney's
      // oracle.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_mw_v",
        Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))) { v =>
        s.sql(s"SELECT * FROM graft_mannwhitney('$v', 'g', 'v', 'A', 'R')")
      }
    },
    "exp_mw_incremental" -> { (s, dir) =>
      // The same U statistic off MERGED per-slice value states (odd and
      // even order halves) — counts are a monoid, so the merged state
      // replays the one-shot readout bit-for-bit; shares
      // exp_mannwhitney's oracle.
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag").as("g"),
          col("l_extendedprice").as("v"))
      val s0 = graft.ops.Experiment.mwValueState(
        li.filter(pmod(col("l_orderkey"), lit(2L)) === 0), "g", "v", "A", "R")
      val s1 = graft.ops.Experiment.mwValueState(
        li.filter(pmod(col("l_orderkey"), lit(2L)) === 1), "g", "v", "A", "R")
      graft.ops.Experiment.mannWhitneyFromState(s0.unionByName(s1))
    },
    "exp_kruskal_sql" -> { (s, dir) =>
      // Kruskal-Wallis through its SQL TVF face; shares exp_kruskal's
      // oracle.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_kw_v",
        Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"), col("l_quantity").as("v"))) { v =>
        s.sql(s"SELECT * FROM graft_kruskal('$v', 'g', 'v')")
      }
    },
    "exp_wilcoxon_sql" -> { (s, dir) =>
      // Wilcoxon signed-rank through its SQL TVF face; shares
      // exp_wilcoxon's oracle.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_wsr_v",
        Tables(s, dir, "orders").select(
          col("o_totalprice").as("pre"),
          (col("o_totalprice") + (pmod(col("o_orderkey"), lit(97L)) - 48L)
            .cast("double")).as("post"))) { v =>
        s.sql(s"SELECT * FROM graft_wilcoxon('$v', 'pre', 'post')")
      }
    },
    "exp_kruskal" -> { (s, dir) =>
      // Kruskal-Wallis omnibus over the three return-flag arms on
      // quantity — a discrete 1..50 metric, so the tie correction
      // carries real weight; H from exact doubled mid-rank sums and
      // the per-group floor-quantized square sum (identical in both
      // engines by construction).
      graft.ops.Experiment.kruskalWallis(
        Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("g"), col("l_quantity").as("v")),
        "g", "v")
    },
    "exp_wilcoxon" -> { (s, dir) =>
      // Wilcoxon signed-rank on deterministic paired deltas: post =
      // price + key-noise, pre = price — zero deltas (key%97 == 48)
      // drop by Wilcoxon's rule; |d| mid-ranks off the histogram with
      // the range-partitioned cumulative.
      graft.ops.Experiment.wilcoxonSignedRank(
        Tables(s, dir, "orders").select(
          col("o_totalprice").as("pre"),
          (col("o_totalprice") + (pmod(col("o_orderkey"), lit(97L)) - 48L)
            .cast("double")).as("post")),
        "pre", "post")
    },

    // --- relational analytics (SURVEY.md §2.6 gaps, exercised at scale) --
    "q1_pricing_summary" -> (Relational.pricingSummary _),
    "q3_revenue_topk" -> (Relational.revenueTopOrders _),
    "q5_revenue_by_nation" -> (Relational.revenueByNation _),
    "q_window_top_orders" -> ((s: SparkSession, d: String) => Relational.topOrdersPerCustomer(s, d)),
    "q10_returned_items" -> (Relational.returnedItemReport _),
    "q_argminmax" -> { (s, dir) =>
      // Deterministic per-group argmin/argmax in ONE aggregation pass:
      // earliest and latest order per customer, ties broken by order
      // key via struct ordering — no window, no second scan.
      Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          min_by(col("o_orderkey"),
            struct(col("o_orderdate"), col("o_orderkey"))).as("first_order"),
          max_by(col("o_orderkey"),
            struct(col("o_orderdate"), col("o_orderkey"))).as("last_order"),
          count(lit(1)).as("n_orders"))
    },
    "q_mode" -> { (s, dir) =>
      // Deterministic mode: most frequent quantity per (flag, status),
      // ties toward the smallest value — SQL MODE's tie behavior is
      // implementation-defined, so both engines replay the same
      // explicit (count DESC, value ASC) argmax.
      Relational.modePerGroup(
          Tables(s, dir, "lineitem")
            .select(col("l_returnflag"), col("l_linestatus"),
              col("l_quantity").cast("long").as("qty")),
          groupCols = Seq("l_returnflag", "l_linestatus"), valueCol = "qty")
        .select(col("l_returnflag"), col("l_linestatus"),
          col("mode_value"), col("mode_count"))
    },
    "q_global_rownum" -> { (s, dir) =>
      // Scalable global dense numbering of lineitem by (shipdate, okey,
      // linenumber) — range partitions + per-partition offsets instead
      // of the single-reducer ROW_NUMBER window; oracle IS that window.
      Relational.globalRowNumber(
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate")),
        sortCols = Seq("l_shipdate", "l_orderkey", "l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("row_num"))
    },
    "q_window_ranks" -> (Relational.rankingWindows _),
    "q_cube_nav" -> { (s, dir) =>
      // Aggregate navigation: materialize the (status, order-year) cube
      // ONCE, then answer "revenue by year" by filtering the cube on
      // the year-marginal grouping id — zero re-aggregation. The
      // oracle computes the same marginal directly from the base
      // table; agreement proves the navigated cube rows exact.
      val o = Tables(s, dir, "orders").select(
        col("o_orderstatus"), year(col("o_orderdate")).as("o_year"),
        col("o_totalprice"))
      val cube = graft.ops.CubeNav.materializeCube(o,
        dims = Seq("o_orderstatus", "o_year"), valueCol = "o_totalprice")
      graft.ops.CubeNav.fromCube(cube,
          dims = Seq("o_orderstatus", "o_year"), selectDims = Seq("o_year"))
        .select(col("o_year"), col("n_rows"),
          col("sum_v").cast("decimal(38,4)").cast("double").as("revenue"))
    },
    "q_topk_agg" -> { (s, dir) =>
      // Top-3 orders per customer by (totalprice, orderkey) through the
      // k-bounded TopK aggregate — the window-sort-free top-k. Oracle is
      // the ROW_NUMBER window form; identical output proves the
      // bounded-buffer path exact.
      Relational.topKPerKey(Tables(s, dir, "orders"),
        keyCol = "o_custkey", scoreCol = "o_totalprice", idCol = "o_orderkey", k = 3)
    },
    "q_stats_moments" -> (Relational.momentStats _),
    "q_group_ols" -> { (s, dir) =>
      // Per-flag OLS fit (slope/intercept/r) from exact decimal power
      // sums — one map-side-combined aggregation. The comparison face is
      // micro-precision integers (the jaro pattern): the sums are exact
      // in both engines, but DuckDB's decimal->double cast DOUBLE-ROUNDS
      // (int128 -> double, then /10^scale) while the JVM's is correctly
      // rounded in one step, so sums whose scaled integers exceed 2^53
      // (Σy² here) can sit one ulp apart — measured 1e-18 on r.
      Relational.groupedOls(Tables(s, dir, "lineitem"),
        groupCol = "l_returnflag", xCol = "l_quantity", yCol = "l_extendedprice")
        .select(col("l_returnflag"), col("n"),
          round(col("slope") * 1e6).cast("long").as("slope_micro"),
          round(col("intercept") * 1e6).cast("long").as("intercept_micro"),
          round(col("r") * 1e9).cast("long").as("r_nano"))
    },
    "q_winsorize" -> { (s, dir) =>
      // Robust clipping into the per-priority [p05, p95] interpolated
      // percentile band (percentile <-> quantile_cont, the madOutliers
      // pairing). Comparison face is integer cents: coarser than any ulp
      // divergence in the two engines' interpolation arithmetic, while
      // every unclamped row stays exactly its input cents.
      Relational.winsorize(
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
        groupCol = "o_orderpriority", valueCol = "o_totalprice",
        pLo = 0.05, pHi = 0.95)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("winsorized") * 100).cast("long").as("wins_cents"))
    },
    "q_setop_intersect" -> (Relational.richActiveCustomers _),
    "q_setop_except" -> (Relational.quietCustomers _),
    "q_setop_except_all" -> { (s, dir) =>
      // BAG-semantics set ops: multiplicities matter (EXCEPT ALL
      // subtracts occurrence counts; INTERSECT ALL keeps the min).
      // Line-item quantities per order vs a filtered copy — the face
      // is the surviving multiset, which only bag semantics gets right.
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
      val drop = li.filter(pmod(col("l_orderkey") + col("qty"), lit(3L)) === 0L)
      li.exceptAll(drop)
    },
    "q_setop_intersect_all" -> { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
      val keep = li.filter(pmod(col("l_orderkey") + col("qty"), lit(3L)) =!= 1L)
      li.intersectAll(keep)
    },
    "q_rollup" -> (Relational.orderRollup _),
    "q_cube" -> (Relational.orderCube _),
    "q_grouping_sets" -> (Relational.orderGroupingSets _),
    "q_unpivot" -> (Relational.partUnpivot _),
    "q_percentile" -> (Relational.priceQuantiles _),
    "q_weighted_quantile" -> { (s, dir) =>
      // EXACT weighted median: the price below which half the shipped
      // QUANTITY sits, per return flag — cumulative micro-int weights
      // over the distinct value set (tie-order-independent), integer
      // threshold test, no float in the decision.
      Relational.weightedQuantilePerGroup(Tables(s, dir, "lineitem"),
        groupCol = "l_returnflag", valueCol = "l_extendedprice",
        weightCol = "l_quantity", pMicro = 500000L)
    },
    "q_weighted_quantile_incremental" -> { (s, dir) =>
      // The same weighted median off PERSISTED per-day weighted-value
      // histograms: three lineitem tiles each fold to a (g, v, w)
      // state through the parquet sink; the quantile reads the STORED
      // states only (weights are a count monoid), sharing
      // q_weighted_quantile's oracle.
      val li = Tables(s, dir, "lineitem")
      val stateDir = scratchDir("graft_wq_state_").toString
      (0 until 3).foreach { d =>
        graft.etl.Sinks.parquetDir(
          Relational.weightedValueHistogram(
            li.filter(pmod(col("l_orderkey"), lit(3L)) === d),
            "l_returnflag", "l_extendedprice", "l_quantity"),
          s"$stateDir/day=$d")
      }
      Relational.weightedQuantileFromState(
        s.read.parquet(s"$stateDir/day=0", s"$stateDir/day=1",
          s"$stateDir/day=2"),
        groupCol = "l_returnflag", pMicro = 500000L)
    },
    "events_coverage" -> { (s, dir) =>
      // Interval-union uptime per user: 300s holds around each event
      // merged by the islands sweep — exact integer covered/span/gap.
      graft.ext.Events.coverage(Tables(s, dir, "events"),
        keyCol = "user_id", lenSec = 300L)
    },
    "events_funnel_exclusion" -> { (s, dir) =>
      // "view then click then purchase WITHOUT an error in between":
      // exclusion-window funnel — an error inside any completed
      // consecutive step pair taints the conversion.
      graft.ext.Events.funnelWithExclusion(Tables(s, dir, "events"),
        steps = Seq("view", "click", "purchase"), excluded = "error")
    },
    "q_coverage_sql" -> { (s, dir) =>
      // Interval coverage through its SQL face (same plan and oracle
      // as events_coverage).
      graft.GraftExtensions.register(s)
      val v = freshViewName("graft_cov_ev_v")
      Tables(s, dir, "events").createOrReplaceTempView(v)
      try s.sql(s"SELECT * FROM graft_coverage('$v', 'user_id', 300)")
      finally s.catalog.dropTempView(v)
    },
    "q_wquantile_sql" -> { (s, dir) =>
      // Weighted quantile through its SQL face (same plan and oracle
      // as q_weighted_quantile).
      graft.GraftExtensions.register(s)
      val v = freshViewName("graft_wq_li_v")
      Tables(s, dir, "lineitem").createOrReplaceTempView(v)
      try s.sql(s"""SELECT * FROM graft_weighted_quantile('$v',
        'l_returnflag', 'l_extendedprice', 'l_quantity', 500000)""")
      finally s.catalog.dropTempView(v)
    },
    "q_rootcause_deltas" -> { (s, dir) =>
      // "Which dimension explains the revenue move between the two
      // snapshots?" — per-segment deltas for BOTH candidate dimensions
      // in one Expand pass, exact micro-int sums.
      val orders = Tables(s, dir, "orders")
      graft.ops.RootCause.dimensionDeltas(
        a = orders.filter(pmod(col("o_orderkey"), lit(2L)) === 0),
        b = orders.filter(pmod(col("o_orderkey"), lit(2L)) === 1),
        dims = Seq("o_orderpriority", "o_orderstatus"),
        valueCol = "o_totalprice")
    },
    "q_approx_distinct" -> (Relational.approxPartCounts _), // ±band oracle
    "q_scalar_funcs" -> (Relational.scalarShowcase _),
    "q_salted_join" -> { (s, dir) =>
      // Salted equi join: lineitem against the order dimension with the
      // key spread over 8 salts — small side replicated, big side
      // salted on non-key content. Oracle is the plain join: salting
      // must be invisible in the result.
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.ops.Skew.saltedJoin(li, o, keys = Seq("l_orderkey"), salts = 8)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"), col("o_orderstatus"))
    },
    "q_auto_skew_join" -> { (s, dir) =>
      // Hot-key-only salted join: a synthetic pathological key over
      // lineitem (key 0 carries ~30% of all rows; ~997 cold keys carry
      // the rest) joined to a small dimension. Sampled detection finds
      // the hot key; only its rows take the salted path, cold keys ride
      // the stock hash join, and the union equals the plain join —
      // which is exactly what the oracle asserts. Detection is
      // plan-shape-only: the result is sample-independent.
      // The threshold derives from the table's size (hot = ≥5% of rows,
      // one metadata-cheap parquet count) so the hot/cold split is
      // SCALE-INVARIANT: a fixed absolute threshold would classify every
      // cold key (~0.07% of rows each) hot once the fixture grows ~25×
      // and silently degrade to blanket salting (SkewSpec pins the
      // detection isolating exactly the one hot key at 10× spreads).
      val li = Tables(s, dir, "lineitem")
      val big = li.select(
        when(pmod(col("l_orderkey"), lit(10L)) < 3, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(997L))).as("k"),
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      val dim = s.range(0, 997).select(col("id").as("k"),
        (col("id") * 7 % 101).as("dim_code"))
      val hotThresh = math.max(1000L, li.count() / 20L)
      graft.ops.Skew.autoSaltedJoin(big, dim, keys = Seq("k"), salts = 8,
        sampleFraction = 0.1, hotRowThreshold = hotThresh)
    },
    "q_skew_sql" -> { (s, dir) =>
      // The auto skew join through its SQL face: graft_skew_join's
      // builder runs the SAME seeded sampled detection at analysis time
      // and returns the identical hot/cold split plan (plan parity
      // pinned in GraftExtensionsSpec). Shares q_auto_skew_join's
      // scenario, size-derived threshold, and plain-join oracle.
      graft.GraftExtensions.register(s)
      val skewBigV = freshViewName("graft_skew_big_v")
      val skewDimV = freshViewName("graft_skew_dim_v")
      val li = Tables(s, dir, "lineitem")
      li.select(
        when(pmod(col("l_orderkey"), lit(10L)) < 3, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(997L))).as("k"),
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .createOrReplaceTempView(skewBigV)
      s.range(0, 997).select(col("id").as("k"),
        (col("id") * 7 % 101).as("dim_code"))
        .createOrReplaceTempView(skewDimV)
      val hotThresh = math.max(1000L, li.count() / 20L)
      try s.sql(s"""
        SELECT * FROM graft_skew_join('$skewBigV', '$skewDimV',
          'k', 8, 'inner', 0.1, $hotThresh)
      """)
      finally { s.catalog.dropTempView(skewBigV); s.catalog.dropTempView(skewDimV) }
    },
    "q_salted_agg" -> { (s, dir) =>
      // Two-stage salted aggregation (hot-key mitigation); result is
      // identical to the plain group-by, which is exactly what the
      // oracle asserts.
      graft.ops.Skew.saltedCountSum(Tables(s, dir, "lineitem"),
        keys = Seq("l_returnflag"), valueCol = "l_quantity")
        .withColumn("sum_value", col("sum_value").cast("double"))
    },
    "q_asof_join" -> { (s, dir) =>
      // Point-in-time lookup: for every non-error event, the most recent
      // error event of the same user at-or-before it (union+window as-of;
      // oracle: DuckDB native ASOF LEFT JOIN).
      val ev = Tables(s, dir, "events")
      val leftEv = ev.filter(col("event_type") =!= "error")
        .select("event_id", "user_id", "ts")
      val rightEv = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("err_id"), col("ts").as("err_ts"))
      graft.ops.AsOfJoin.backward(leftEv, rightEv,
        keys = Seq("user_id"), tsCol = "ts", pick = Seq("err_id", "err_ts"),
        suffix = "", tiebreakCol = Some("err_id"))
        .select(col("event_id"), col("user_id"), col("err_id").as("last_err_id"),
          (tsEpochSec(ev.schema) - tsEpochSec(ev.schema, "err_ts"))
            .as("secs_since_err"))
    },
    "q_asof_join_forward" -> { (s, dir) =>
      // Next-event attribution: for every non-error event, the NEXT
      // error event of the same user at-or-after it (forward as-of;
      // oracle: DuckDB native ASOF LEFT JOIN with l.ts <= r.ts).
      val ev = Tables(s, dir, "events")
      val leftEv = ev.filter(col("event_type") =!= "error")
        .select("event_id", "user_id", "ts")
      val rightEv = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("err_id"), col("ts").as("err_ts"))
      graft.ops.AsOfJoin.forward(leftEv, rightEv,
        keys = Seq("user_id"), tsCol = "ts", pick = Seq("err_id", "err_ts"),
        suffix = "", tiebreakCol = Some("err_id"))
        .select(col("event_id"), col("user_id"), col("err_id").as("next_err_id"),
          (tsEpochSec(ev.schema, "err_ts") - tsEpochSec(ev.schema))
            .as("secs_to_err"))
    },
    "q_temporal_sql" -> { (s, dir) =>
      // The SCD2 point-in-time join through its SQL face: graft_temporal
      // returns the exact plan Merge.temporalJoin builds. Same scenario
      // and oracle as etl_temporal_join — SQL face ≡ programmatic face.
      graft.GraftExtensions.register(s)
      val factsV = freshViewName("graft_temporal_facts_v")
      val dimV = freshViewName("graft_temporal_dim_v")
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("fact_day"))
        .createOrReplaceTempView(factsV)
      val cust = Tables(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(97L)) =!= 0)
      cust.select(col("c_custkey"), col("c_mktsegment").as("seg"),
          lit(0L).as("valid_from"),
          when(pmod(col("c_custkey"), lit(3L)) === 0, lit(1277L))
            .cast("long").as("valid_to"))
        .unionByName(cust.filter(pmod(col("c_custkey"), lit(3L)) === 0)
          .select(col("c_custkey"), lit("MOVED").as("seg"),
            lit(1277L).as("valid_from"), lit(null).cast("long").as("valid_to")))
        .createOrReplaceTempView(dimV)
      try s.sql(s"""
        SELECT o_orderkey, seg, valid_from AS ver_from
        FROM graft_temporal('$factsV', '$dimV', 'c_custkey', 'fact_day')
      """)
      finally { s.catalog.dropTempView(factsV); s.catalog.dropTempView(dimV) }
    },
    "q_asof_sql" -> { (s, dir) =>
      // The as-of join through its SQL face: graft_asof is a registered
      // table-valued function whose builder returns the exact logical
      // plan the Scala API builds (single-shuffle union+window). Same
      // result set as q_asof_join, checked against the same DuckDB ASOF
      // oracle — pinning that the SQL face and the programmatic face
      // are one operator.
      graft.GraftExtensions.register(s)
      val leftV = freshViewName("graft_asof_left_v")
      val rightV = freshViewName("graft_asof_right_v")
      val ev = Tables(s, dir, "events")
      ev.filter(col("event_type") =!= "error")
        .select("event_id", "user_id", "ts")
        .createOrReplaceTempView(leftV)
      ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("err_id"), col("ts").as("err_ts"))
        .createOrReplaceTempView(rightV)
      val secsExpr =
        if (tsIsNanoLong(ev.schema))
          "(ts DIV 1000000000) - (err_ts DIV 1000000000)"
        else "unix_timestamp(ts) - unix_timestamp(err_ts)"
      try s.sql(s"""
        SELECT event_id, user_id, err_id AS last_err_id,
               $secsExpr AS secs_since_err
        FROM graft_asof('$leftV', '$rightV',
                        'user_id', 'ts', 'err_id,err_ts', 'backward', 'err_id', '')
      """)
      finally { s.catalog.dropTempView(leftV); s.catalog.dropTempView(rightV) }
    },
    "q_asof_join_nullpick" -> { (s, dir) =>
      // As-of with a pick column that is NULL on ~a third of right rows:
      // proves all attached values come from the single matched right row
      // (a per-column last(ignoreNulls) carry would smear a stale non-null
      // value over the matched row's NULL; the struct carry cannot).
      val ev = Tables(s, dir, "events")
      val leftEv = ev.filter(col("event_type") =!= "error")
        .select("event_id", "user_id", "ts")
      val rightEv = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("err_id"),
          nullif(pmod(col("event_id"), lit(3)), lit(0)).as("err_mod"))
      graft.ops.AsOfJoin.backward(leftEv, rightEv,
        keys = Seq("user_id"), tsCol = "ts", pick = Seq("err_id", "err_mod"),
        suffix = "", tiebreakCol = Some("err_id"))
        .select(col("event_id"), col("user_id"),
          col("err_id").as("last_err_id"), col("err_mod"))
    },
    "q_asof_nearest" -> { (s, dir) =>
      // Nearest-in-time as-of: for every non-error event, the CLOSEST
      // error event of the same user in either direction (equal
      // distance prefers at-or-before) — two one-shuffle as-of passes
      // composed, no pair explosion. Oracle: two DuckDB ASOF joins +
      // the identical distance pick.
      val ev = Tables(s, dir, "events")
      val us = unix_micros(col("ts").cast("timestamp"))
      val leftEv = ev.filter(col("event_type") =!= "error")
        .select(col("event_id"), col("user_id"), us.as("t_us"))
      val rightEv = ev.filter(col("event_type") === "error")
        .select(col("user_id"), us.as("t_us"), col("event_id").as("err_id"))
      graft.ops.AsOfJoin.nearest(leftEv, rightEv, keys = Seq("user_id"),
          tsCol = "t_us", pick = Seq("err_id", "t_us"), suffix = "_near",
          tiebreakCol = Some("err_id"))
        .select(col("event_id"), col("user_id"),
          col("err_id_near").as("near_err_id"),
          abs(col("t_us") - col("t_us_near")).as("dist_us"))
    },
    "dedup_url" -> { (s, dir) =>
      // URL-level exact dedup off canonicalization: five crawl-style
      // variants per page (scheme/host case + www, tracking params
      // kept-param mix, trailing slash, fragment, utm-only query) are
      // synthesized from doc_id arithmetic and must collapse to the
      // canonical form — the oracle rebuilds the same URLs and replays
      // the identical regex chain.
      graft.ext.UrlOps.dedupByUrl(syntheticUrls(s, dir), "url", "doc_id")
    },
    "dedup_url_sql" -> { (s, dir) =>
      // The same dedup through its SQL TVF face — identical plan and
      // oracle as dedup_url.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_url_dedup_v", syntheticUrls(s, dir)) { v =>
        s.sql(s"SELECT * FROM graft_url_dedup('$v', 'url', 'doc_id')")
      }
    },
    "dedup_url_incremental" -> { (s, dir) =>
      // URL dedup off PERSISTED per-slice states — the incremental
      // twin: three crawl tiles each fold to a (canonical, n, min-id)
      // state written through the parquet sink; the dedup is computed
      // from the STORED states only ((count, min) is a monoid, so the
      // merge exactly equals the one-shot pass) — shared oracle with
      // dedup_url.
      val urls = syntheticUrls(s, dir)
      val stateDir = scratchDir("graft_urldedup_state_").toString
      (0 until 3).foreach { d =>
        graft.etl.Sinks.parquetDir(
          graft.ext.UrlOps.dedupByUrl(
            urls.filter(pmod(col("doc_id"), lit(3L)) === d), "url", "doc_id"),
          s"$stateDir/day=$d")
      }
      graft.ext.UrlOps.mergeUrlDedupStates(
        s.read.parquet(s"$stateDir/day=0", s"$stateDir/day=1",
          s"$stateDir/day=2"))
    },
    "q_range_join" -> { (s, dir) =>
      // Point-in-interval: every non-first event joined back to the
      // session interval that contains it (bucketized range join).
      val ev = Tables(s, dir, "events")
      val evSec = ev.select(col("event_id"), col("user_id"),
        tsEpochSec(ev.schema).as("ts_sec"))
      val sessions = graft.ext.Events.sessionize(ev)
        .select(col("user_id"), col("session_seq").cast("long").as("session_seq"),
          col("session_start"), col("session_end"))
      graft.ops.RangeJoin.pointInInterval(evSec, sessions, keys = Seq("user_id"),
        tsCol = "ts_sec", startCol = "session_start", endCol = "session_end",
        bucketWidth = 3600L)
        .select("event_id", "user_id", "session_seq")
    },
    "q_interval_overlap" -> { (s, dir) =>
      // Interval x interval: per customer, urgent-order processing
      // windows overlapping low-priority windows. Bucketized equi join
      // with owner-bucket dedup (each pair emitted only at the bucket
      // holding the overlap's start) — exactly-once with no distinct.
      def win(prio: String, kAlias: String) =
        Tables(s, dir, "orders")
          .filter(col("o_orderpriority") === prio)
          .select(col("o_orderkey").as(kAlias), col("o_custkey").as("ck"),
            expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 86400").as(s"${kAlias}_s"))
          .withColumn(s"${kAlias}_e",
            col(s"${kAlias}_s") + lit(30L) + pmod(col(kAlias), lit(30L)))
      graft.ops.RangeJoin.intervalOverlap(
        win("1-URGENT", "lk"), win("5-LOW", "rk"), keys = Seq("ck"),
        lStart = "lk_s", lEnd = "lk_e", rStart = "rk_s", rEnd = "rk_e",
        bucketWidth = 32L)
    },
    "q_range_sql" -> { (s, dir) =>
      // The range join through its SQL face (graft_range_join TVF) —
      // same plan, same result, same oracle as q_range_join.
      graft.GraftExtensions.register(s)
      val leftV = freshViewName("graft_range_left_v")
      val rightV = freshViewName("graft_range_right_v")
      val ev = Tables(s, dir, "events")
      ev.select(col("event_id"), col("user_id"),
        tsEpochSec(ev.schema).as("ts_sec"))
        .createOrReplaceTempView(leftV)
      graft.ext.Events.sessionize(ev)
        .select(col("user_id"), col("session_seq").cast("long").as("session_seq"),
          col("session_start"), col("session_end"))
        .createOrReplaceTempView(rightV)
      try s.sql(s"""
        SELECT event_id, user_id, session_seq
        FROM graft_range_join('$leftV', '$rightV',
                              'user_id', 'ts_sec', 'session_start', 'session_end', 3600)
      """)
      finally { s.catalog.dropTempView(leftV); s.catalog.dropTempView(rightV) }
    },
    "q_json_props" -> { (s, dir) =>
      // JSON functions over the props column: extract $.k, bucket by
      // parity, aggregate.
      val ev = graft.ext.Events.withProp(Tables(s, dir, "events"), "k", "k_str")
      ev.select(col("k_str").cast("long").as("k"))
        .groupBy(pmod(col("k"), lit(10)).as("k_mod"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    },

    // --- [EXT] text analysis (documents) --------------------------------
    "q_window_range_frame" -> ((s: SparkSession, dir: String) =>
      Relational.trailingRevenuePerCustomer(s, dir)),
    "q_pivot" -> (Relational.orderPivot _),
    "q_collect_set" -> (Relational.statusSetPerFlag _),
    "q_anti_join" -> (Relational.customersWithoutOrders _),
    "q_semi_join" -> (Relational.orderedParts _),
    "q_bloom_sql" -> { (s, dir) =>
      // The Bloom semi join through its SQL face: graft_bloom_semi is a
      // registered TVF whose builder runs the same distributed filter
      // build and returns the same broadcast-backed plan as the Scala
      // API — shared oracle with q_bloom_join.
      graft.GraftExtensions.register(s)
      val buildV = freshViewName("graft_bloom_build_v")
      val probeV = freshViewName("graft_bloom_probe_v")
      Tables(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey")).createOrReplaceTempView(buildV)
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        .createOrReplaceTempView(probeV)
      try s.sql(s"""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        FROM graft_bloom_semi('$probeV', '$buildV',
                              'l_orderkey', 'o_orderkey')
        GROUP BY l_returnflag
      """)
      finally { s.catalog.dropTempView(buildV); s.catalog.dropTempView(probeV) }
    },
    "q_bloom_join" -> { (s, dir) =>
      // Bloom-pre-filtered semi join: lineitems of expensive orders. The
      // bloom test thins the probe side BEFORE its shuffle; the final
      // equi-join removes bloom false positives, so the result is
      // bit-identical to the plain semi join the oracle runs.
      val expensive = Tables(s, dir, "orders")
        .filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"))
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      graft.ops.BloomJoin.semiJoin(li, expensive, "l_orderkey", "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_qty"))
    },
    "q_sql_interface" -> (Relational.sqlInterface _),
    "text_clean" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      d.select(col("doc_id"), TextAnalysis.cleaned(col("text")).as("clean_text"),
        length(TextAnalysis.cleaned(col("text"))).as("clean_len"))
    },
    "text_term_freq" -> { (s, dir) =>
      // explode + aggregate: corpus term frequencies, top 50 by count
      // with deterministic tie-break
      val d = Tables(s, dir, "documents")
      d.select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term").asc)
        .limit(50)
    },
    "text_bpe_encode" -> { (s, dir) =>
      // Train 24 BPE merges on the corpus, then segment every document
      // with the native greedy encoder — the full tokenize-at-scale
      // loop (train is deterministic by total-order argmax; encode is
      // a pure function of the merge table). Rows-only: iterative BPE
      // has no SQL oracle; trainer and encoder are spec-pinned.
      val d = Tables(s, dir, "documents")
      val merges = graft.ext.BpeTrainer.collectMerges(
        graft.ext.BpeTrainer.train(d, "text", numMerges = 24))
      graft.ext.BpeTrainer.encode(d, "text", merges)
        .select(col("doc_id"), size(col("tokens")).as("n_bpe_tokens"),
          array_join(slice(col("tokens"), 1, 8), "|").as("head_tokens"))
    },
    "text_unigram_encode" -> { (s, dir) =>
      // Unigram-LM (SentencePiece-style) tokenizer: seed substring
      // candidates, hard-EM Viterbi re-estimation, prune to a 512-piece
      // vocabulary, then segment every document with the native Viterbi
      // encoder. Rows-only: iterative EM has no SQL oracle; the trainer
      // is pinned by the 3-seed local==distributed differential and the
      // encoder by the shared-Viterbi spec (UnigramSpec).
      val d = Tables(s, dir, "documents")
      val vocab = graft.ext.UnigramTrainer.collectVocab(
        graft.ext.UnigramTrainer.train(d, "text", vocabSize = 512,
          rounds = 2, maxPieceLen = 6))
      graft.ext.UnigramTrainer.encode(d, "text", vocab)
        .select(col("doc_id"), size(col("pieces")).as("n_pieces"),
          array_join(slice(col("pieces"), 1, 8), "|").as("head_pieces"))
    },
    "text_wordpiece_encode" -> { (s, dir) =>
      // Train 24 WordPiece merges (likelihood score n/(cl·cr), exact
      // rational argmax) on the corpus, build the induced vocabulary,
      // then segment every document with the native greedy
      // longest-match encoder. Rows-only: iterative likelihood
      // training has no SQL oracle; trainer pinned by WordPieceSpec's
      // from-scratch recount differential + local==distributed, and
      // the ENCODER is oracle-checked in text_wordpiece_exact.
      val d = Tables(s, dir, "documents")
      val merges = graft.ext.WordPieceTrainer.train(d, "text", numMerges = 24)
      val vocab = graft.ext.WordPieceTrainer.collectVocab(
        graft.ext.WordPieceTrainer.vocab(d, "text", merges))
      graft.ext.WordPieceTrainer.encode(d, "text", vocab)
        .select(col("doc_id"), size(col("wp_tokens")).as("n_wp_tokens"),
          array_join(slice(col("wp_tokens"), 1, 8), "|").as("head_tokens"))
    },
    "text_wordpiece_exact" -> { (s, dir) =>
      // Exact face for the greedy longest-match-first WordPiece
      // encoder: a FIXED vocabulary (full a–z alphabet + ## forms +
      // 20 multi-char pieces, embedded verbatim in BOTH engines — the
      // rankingEval constant-spine precedent) makes the scan total, so
      // the oracle unrolls the per-word greedy as 10 chained CTE steps
      // (fixture max word length is 8) each taking the longest
      // matching piece at the current offset. Every document's full
      // token sequence must agree. The face fixture is pinned to
      // pure-[a-z]+whitespace text with >=1 letter (same predicate in
      // both engines), so neither the [UNK] branch nor an empty token
      // list can arise — both engines agree by construction.
      val d = Tables(s, dir, "documents")
        .filter(col("text").isNotNull &&
          !lower(col("text")).rlike("[^a-z \\t\\n\\r\\f\\x0B]") &&
          lower(col("text")).rlike("[a-z]"))
      graft.ext.WordPieceTrainer.encode(d, "text", wordPieceFixedVocab)
        .select(col("doc_id"), array_join(col("wp_tokens"), "|").as("wp_tokens"))
    },
    "text_stemmed_terms" -> { (s, dir) =>
      // Stemmed corpus vocabulary through the SQL face: porter_stem is
      // a registered native expression, so the whole pipeline stays in
      // one generated stage. No DuckDB-side stemmer exists offline →
      // registered rows-only; the algorithm itself is pinned against
      // the published Porter vectors in PorterStemSpec.
      graft.GraftExtensions.register(s)
      val d = Tables(s, dir, "documents")
      withFreshView(s, "graft_stem_terms",
          d.select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
            .filter(length(col("term")) > 2)) { v =>
        s.sql(
          s"""SELECT porter_stem(term) AS stem, COUNT(*) AS freq,
             |       COUNT(DISTINCT term) AS n_surface_forms
             |FROM $v
             |GROUP BY 1 ORDER BY freq DESC, stem ASC LIMIT 50""".stripMargin)
      }
    },
    "graph_pagerank" -> { (s, dir) =>
      // Integer-exact PageRank over the symmetrized supplier—part
      // bipartite graph (node encoding: supplier 2k, part 2k+1). The
      // oracle replays the identical integer recurrence as a recursive
      // CTE — bit-identical BIGINT ranks, no float anywhere.
      val sp = Tables(s, dir, "lineitem")
        .select((col("l_suppkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.PageRank.run(edges, iterations = 5)
        .select(expr("node % 2").cast("int").as("is_part"),
          expr("node div 2").as("id"), col("rank"))
    },
    "graph_pagerank_incremental" -> { (s, dir) =>
      // Incremental PageRank off PERSISTED rank state — the
      // incremental-maintenance discipline applied to the bench's most
      // expensive family: 3 rounds run once on the base graph (2/3 of
      // lineitem) and the ranks land in parquet; the delta batch then
      // resumes with 2 MORE rounds over the full union graph, seeding
      // from the stored ranks (new nodes enter at r0) with degrees
      // rebuilt from the union. The oracle replays the identical
      // two-phase integer recurrence as chained recursive CTEs, so the
      // row pins the state round-trip bit-exactly. With a delta this
      // large (1/3 of the graph) the full fenced rebuild measurably
      // beats the PageRank.resumeDelta patch path — that path's
      // dimension-sized-delta shape is exercised (and oracle-checked)
      // by graph_pagerank_delta below.
      val li = Tables(s, dir, "lineitem")
      def sym(df: org.apache.spark.sql.DataFrame) = {
        val sp = df.select((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
      }
      val baseEdges = sym(li.filter(pmod(col("l_orderkey"), lit(3L)) =!= 0L))
      val deltaEdges = sym(li.filter(pmod(col("l_orderkey"), lit(3L)) === 0L))
      val stateDir = scratchDir("graft_pagerank_state_").toString
      graft.etl.Sinks.parquetDir(
        graft.ops.PageRank.run(baseEdges, iterations = 3), stateDir)
      graft.ops.PageRank.resume(baseEdges.union(deltaEdges),
        s.read.parquet(stateDir), iterations = 2)
        .select(expr("node % 2").cast("int").as("is_part"),
          expr("node div 2").as("id"), col("rank"))
    },
    "graph_pagerank_delta" -> { (s, dir) =>
      // The delta-shaped fast path at its INTENDED shape: base = 29/30
      // of the graph, delta = the 1/30 slice — a dimension-sized batch
      // landing on persisted GRAPH state (ranks + static edge frame +
      // degrees). PageRank.resumeDelta PATCHES the stored static frame
      // — broadcast-dedup of the delta against a base scan, rebuild
      // only rows whose src gained an edge, untouched remainder kept
      // verbatim — so the base graph is scanned, never re-shuffled.
      // Oracle = the same two-phase recursive CTE as
      // graph_pagerank_incremental with the 1/30 split, so the patch
      // path is pinned bit-exactly against the from-scratch rebuild
      // semantics.
      val li = Tables(s, dir, "lineitem")
      def sym(df: org.apache.spark.sql.DataFrame) = {
        val sp = df.select((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
      }
      val baseEdges = sym(li.filter(pmod(col("l_orderkey"), lit(30L)) =!= 0L))
      val deltaEdges = sym(li.filter(pmod(col("l_orderkey"), lit(30L)) === 0L))
      val stateDir = scratchDir("graft_pagerank_delta_state_").toString
      val (ranks, static0, deg) =
        graft.ops.PageRank.runWithState(baseEdges, iterations = 3)
      // three INDEPENDENT state sinks (ranks/static read their fenced
      // frames, deg re-aggregates off the fenced edge list): concurrent
      // jobs, not three serial driver round-trips
      concurrently(
        () => graft.etl.Sinks.parquetDir(ranks, stateDir + "/ranks"),
        () => graft.etl.Sinks.parquetDir(static0, stateDir + "/static"),
        () => graft.etl.Sinks.parquetDir(deg, stateDir + "/deg"))
      graft.ops.PageRank.resumeDelta(
        s.read.parquet(stateDir + "/static"), s.read.parquet(stateDir + "/deg"),
        s.read.parquet(stateDir + "/ranks"), deltaEdges, iterations = 2)
        .select(expr("node % 2").cast("int").as("is_part"),
          expr("node div 2").as("id"), col("rank"))
    },
    "graph_ppr" -> { (s, dir) =>
      // Personalized PageRank: teleport mass restarts only at the seed
      // suppliers (s_suppkey < 5) — rank is proximity to the seed set
      // over the same symmetrized bipartite graph, same integer
      // recurrence, oracle = the pagerank CTE with two seed CASEs.
      val sp = Tables(s, dir, "lineitem")
        .select((col("l_suppkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      val edges = sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = Tables(s, dir, "supplier").filter(col("s_suppkey") < 5)
        .select((col("s_suppkey") * 2).as("node"))
      graft.ops.PageRank.personalized(edges, seeds, iterations = 5)
        .select(expr("node % 2").cast("int").as("is_part"),
          expr("node div 2").as("id"), col("rank"))
    },
    "graph_ppr_incremental" -> { (s, dir) =>
      // Personalized-PageRank warm-start off persisted rank state —
      // graph_pagerank_incremental's discipline on the seed-based
      // recurrence: 3 rounds on the base graph land in parquet, the
      // delta batch resumes with 2 more rounds over the union (new
      // nodes enter at is_seed·r0, flags/degrees rebuilt). Oracle =
      // the two-phase recursive CTE with the seed CASEs. (The
      // dimension-sized-delta patch path resumeDeltaPersonalized is
      // pinned bit-identical to this rebuild in PageRankSpec.)
      val li = Tables(s, dir, "lineitem")
      def sym(df: org.apache.spark.sql.DataFrame) = {
        val sp = df.select((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
      }
      val baseEdges = sym(li.filter(pmod(col("l_orderkey"), lit(3L)) =!= 0L))
      val deltaEdges = sym(li.filter(pmod(col("l_orderkey"), lit(3L)) === 0L))
      val seeds = Tables(s, dir, "supplier").filter(col("s_suppkey") < 5)
        .select((col("s_suppkey") * 2).as("node"))
      val stateDir = scratchDir("graft_ppr_state_").toString
      graft.etl.Sinks.parquetDir(
        graft.ops.PageRank.personalized(baseEdges, seeds, iterations = 3), stateDir)
      graft.ops.PageRank.resumePersonalized(baseEdges.union(deltaEdges), seeds,
        s.read.parquet(stateDir), iterations = 2)
        .select(expr("node % 2").cast("int").as("is_part"),
          expr("node div 2").as("id"), col("rank"))
    },
    "graph_triangles" -> { (s, dir) =>
      // Per-node triangle counts over the part co-occurrence graph
      // (parts sharing an order). Degree-ordered orientation bounds the
      // wedge join by O(sqrt(m)) per node — hub-skew-proof at scale.
      graft.ops.Graph.triangleCounts(partPairs(s, dir))
    },
    "graph_kcore" -> { (s, dir) =>
      // 2-core of the REPEAT-co-occurrence graph (parts sharing >= 2
      // distinct orders — the thresholded graph has real peel depth,
      // unlike the dense single-order graph): repeated delete-degree-<k
      // until the unique maximal fixpoint. Differential-pinned against
      // a local reference peel in GraphSpec AND oracle-checked: the
      // peel unrolls as chained CTEs (kcoreSql) since extra rounds past
      // the fixpoint are the identity. maxRounds matches the oracle's
      // unroll bound so depth growth past it fails LOUD here instead of
      // silently diverging from the 8-round oracle.
      graft.ops.Graph.kCore(repeatPartPairs(s, dir), k = 2, maxRounds = 8)
    },
    "graph_lpa" -> { (s, dir) =>
      // Deterministic synchronous label propagation (3 rounds, min-tie)
      // over the same thresholded co-occurrence graph as graph_kcore:
      // communities of parts repeatedly bought together. The fixed
      // round count makes the result a pure function of the edges, so
      // the oracle unrolls the identical rounds as chained CTEs.
      graft.ops.Graph.labelPropagation(repeatPartPairs(s, dir), rounds = 3)
    },
    "graph_sssp" -> { (s, dir) =>
      // 3-round weighted SSSP from part 0 over the co-occurrence graph
      // with deterministic integer weights w(u,v) = (u+v) % 97 + 1.
      // After k frontier rounds the costs are exactly the min over
      // <= k-edge paths, which the oracle replays as three min-per-node
      // relaxation levels (no recursion, no path explosion).
      val weighted = partPairs(s, dir)
        .withColumn("w", pmod(col("u") + col("v"), lit(97L)) + lit(1L))
      graft.ops.Graph.ssspDistances(weighted, source = 0L, maxRounds = 3)
    },
    "graph_bfs" -> { (s, dir) =>
      // 3-hop BFS distances from part 0 over the same co-occurrence
      // graph: frontier expansion with per-round materialization,
      // oracle is a recursive-CTE breadth-first closure.
      graft.ops.Graph.bfsDistances(partPairs(s, dir), source = 0L, maxHops = 3)
    },
    "freq_topk" -> { (s, dir) =>
      // exact heavy hitters WITHOUT a full-domain shuffle: per-partition
      // Misra-Gries candidates -> broadcast-filtered exact recount ->
      // driver-side exactness proof (kth freq > n/m), groupBy fallback
      // otherwise. Same answer as text_term_freq's plain aggregate.
      import s.implicits._
      val toks = Tables(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
        .filter(length(col("term")) > 0)
        .select(col("term")).as[String]
      graft.ops.HeavyHitters.topK(toks, 20)
        .withColumnRenamed("value", "term")
    },
    "text_lexical_diversity" -> { (s, dir) =>
      // Vocabulary-richness curation signals: per-doc TTR and hapax
      // fraction over the portable whitespace tokenizer — exact counts
      // and integer-division ratios.
      graft.ext.TextAnalysis.lexicalDiversity(Tables(s, dir, "documents"))
    },
    "emb_centroid_drift" -> { (s, dir) =>
      // Embedding-space drift between the even and odd vec_id slices:
      // centroid cosine (the 1/n factors cancel, so it is the cosine
      // of exact per-dim decimal sums) + nano-quantized mean-delta L2.
      val e = Tables(s, dir, "embeddings")
      graft.ext.Embeddings.centroidDrift(
        e.filter(pmod(col("vec_id"), lit(2L)) === 0),
        e.filter(pmod(col("vec_id"), lit(2L)) === 1))
    },
    "emb_label_centroid" -> { (s, dir) =>
      // elementwise mean embedding per label: posexplode -> (label, dim)
      // aggregation; sums in decimal so partition order cannot perturb
      // the double result
      val e = Tables(s, dir, "embeddings")
      e.select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos").as("dim"))
        .agg((sum(col("col").cast("decimal(27,10)")).cast("double") /
          count(lit(1))).as("mean_val"))
        .filter(col("dim") < 4) // keep the verified slice compact
    },
    "text_stats" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      val t = col("text")
      d.select(Seq(col("doc_id")) ++
        TextAnalysis.qualitySignals(t).map { case (n, c) => c.as(n) } ++
        Seq(TextAnalysis.langId(t).as("lang_pred"),
          TextAnalysis.fingerprint(t).as("fingerprint")): _*)
    },
    "text_quality_filters" -> { (s, dir) =>
      // C4/Gopher pretraining-filter battery: word/line counts, mean
      // word length, alphabetic ratio, boilerplate markers, and the
      // Gopher keep-band — pure length/replace integer arithmetic in
      // one codegen'd projection, replayed bit-for-bit by the oracle.
      TextAnalysis.qualityFilters(Tables(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_words"), col("n_lines"),
          col("mean_word_len_micro"), col("alpha_ratio_micro"),
          col("has_brace"), col("has_lorem"), col("has_js"),
          col("terminal_punct"), col("keep"))
    },
    "text_quality_classifier" -> { (s, dir) =>
      // Trained corpus-quality classifier (CCNet/fastText-style learned
      // stage): a distributed multinomial Naive Bayes whose labels
      // bootstrap from the qualityFilters rule battery on the held-out
      // 3/4 slice (doc_id % 4 != 0); the remaining quarter scores under
      // the trained model. Pure aggregations train it; integer-nano
      // per-token log-odds make the scores exact integer sums the
      // oracle replays bit-for-bit (the Fellegi-Sunter discipline).
      val docs = Tables(s, dir, "documents")
      val labeled = graft.ext.TextAnalysis.qualityFilters(
          docs.filter(col("doc_id") % 4 =!= 0), "text")
        .select(col("doc_id"), col("text"), col("keep").as("label"))
      val cand = docs.filter(col("doc_id") % 4 === 0)
        .select("doc_id", "text")
      graft.ext.QualityClassifier.trainScore(labeled, cand)
    },
    "text_tokens_bpe" -> { (s, dir) =>
      // token-cost estimation: whitespace tokens vs BPE-ish pretokenizer
      // matches (letter/digit/punct runs, optional leading space). The
      // pattern avoids lookahead so Java regex and DuckDB RE2 agree
      // match-for-match.
      val d = Tables(s, dir, "documents")
      d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))
    },
    "text_keyterms" -> { (s, dir) =>
      // TF-IDF-style keyword extraction with integer-exact ranking: top-3
      // terms per document by (term frequency desc, document frequency
      // asc, term asc). Deliberately no float idf — the ordering IS the
      // tf-idf ordering for fixed tf, and integer ranks are bit-portable
      // across engines. df comes from a window over the tf frame (NOT a
      // second aggregation + self-join — the plan audit showed that
      // computes the doc-term aggregation twice): one scan, three
      // keyed exchanges, and Spark's WindowGroupLimit prunes to top-3
      // per doc before the final rank window.
      val d = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val terms = d.select(col("doc_id"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
        .filter(length(col("term")) > 0)
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.withColumn("df", count(lit(1)).over(wTerm))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank")
    },
    "text_lm_score" -> { (s, dir) =>
      // CCNet-style LM quality filter: add-one-smoothed word-bigram model
      // trained on the even-id half (the "trusted reference"), odd-id
      // docs scored by nano-quantized NLL. Each pair's log-prob is an
      // exact-integer-ratio ln, quantized BEFORE the per-doc sum, so the
      // total is an integer sum no engine summation order can move.
      val d = Tables(s, dir, "documents")
      graft.ext.LangModel.bigramNll(
        ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0),
        cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1))
    },
    "text_ranking_eval" -> { (s, dir) =>
      // Retrieval-eval metrics (hits/P/R/MRR/DCG/NDCG @10) on a
      // deterministic harness: per-nation suppliers ranked by
      // (acctbal DESC, suppkey) play the retrieval run; the %3 == 0
      // key slice plays the binary relevance set. The log2 discount
      // table is driver-computed nano-int constants embedded in BOTH
      // engines, so DCG sums are exact integers.
      val sup = Tables(s, dir, "supplier")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
      val ranked = sup.select(col("s_nationkey").as("query_id"),
          col("s_suppkey").as("doc_id"), row_number().over(w).as("rank"))
        .filter(col("rank") <= 10)
      val truth = sup.filter(pmod(col("s_suppkey"), lit(3L)) === 0)
        .select(col("s_nationkey").as("query_id"),
          col("s_suppkey").as("doc_id"))
      graft.ext.Retrieval.rankingEval(ranked, truth, k = 10)
    },
    "text_rouge1" -> { (s, dir) =>
      // ROUGE-1 / clipped unigram precision over (candidate, reference)
      // document pairs — odd doc paired to its even predecessor
      // (pair_id = doc_id div 2). All-integer clipped overlap counts;
      // P, R and F1 (= 2m/(c+r), the harmonic mean collapsed to one
      // exact count ratio) micro-quantize by integer division.
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.ngramOverlap(cand, ref, n = 1, idCol = "pair_id")
    },
    "text_rouge2" -> { (s, dir) =>
      // ROUGE-2: the same clipped-overlap machinery at bigram order —
      // the standard fluency-sensitive companion readout.
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.ngramOverlap(cand, ref, n = 2, idCol = "pair_id")
    },
    "text_bleu" -> { (s, dir) =>
      // Corpus-level BLEU-4 with brevity penalty over the same
      // odd/even pairing — geometric mean of the corpus clipped
      // n=1..4 precisions × BP, every count summed corpus-wide before
      // any ratio. Nano-quantized ln per ORDER (4 doubles total),
      // exact-integer BP penalty, one terminal exp for bleu_micro;
      // the oracle replays the identical quantized arithmetic.
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.corpusBleu(cand, ref, maxN = 4, idCol = "pair_id")
    },
    "text_sentence_bleu" -> { (s, dir) =>
      // Sentence-level BLEU-4 with +1 smoothing (Lin & Och 2004) over
      // the same odd/even pairing — per-pair rows: p1 unsmoothed (zero
      // unigram overlap -> exactly 0), p2..p4 = (m+1)/(t+1), per-pair
      // BP; only pairs with >=4 candidate tokens and a nonempty
      // reference score (identical filter in the oracle). Same
      // nano-ln / integer-BP / terminal-exp quantization as text_bleu.
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.sentenceBleu(cand, ref, maxN = 4, idCol = "pair_id")
    },
    "text_chrf" -> { (s, dir) =>
      // chrF2 (character 3-gram F-beta, beta=2) over the same odd/even
      // pairing — the tokenization-free generation metric. All-integer:
      // F_beta = (1+b2)m/(b2*r + c) collapses to one exact division.
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.charNgramOverlap(cand, ref, n = 3, betaSq = 4,
        idCol = "pair_id")
    },
    "text_rouge_l" -> { (s, dir) => // per-pair LCS DP: rows-only check
      // ROUGE-L over the same odd/even document pairing: token-level
      // LCS P/R/F1 via the native lcs_length expression. No offline
      // SQL oracle (LCS needs a DP); the expression is pinned by
      // TextEvalSpec's independent recursive-memo differential.
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.rougeL(cand, ref, idCol = "pair_id")
    },
    "text_rouge_l_exact" -> { (s, dir) =>
      // Exact face for the native lcs_length expression: ROUGE-L over
      // the FIRST-12-TOKEN prefixes of every pair (both engines slice
      // identically), so LCS <= 12 and the oracle can unroll it as 12
      // chained match-point CTE steps — step r keeps, per candidate
      // position i, the minimal reference position j reachable by a
      // common subsequence of length r (the Pareto reduction makes
      // each step id-equi-join tiny). Full row coverage: every pair
      // participates, unlike a length-filtered fixture (corpus min
      // doc length is 10 tokens).
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.rougeL(cand, ref, idCol = "pair_id", maxTokens = 12)
    },
    "text_wer" -> { (s, dir) =>
      // Word error rate over the odd/even pairing: token-level
      // Levenshtein (native edit_distance expression) / ref length.
      // Full tapes: rows-only (no offline SQL token-level distance at
      // unbounded alphabet); the expression is pinned by TextEvalSpec's
      // independent recursive-memo differential and the exact face
      // below oracle-checks the SAME expression on bounded tapes.
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.wer(cand, ref, idCol = "pair_id")
    },
    "text_wer_exact" -> { (s, dir) =>
      // Exact face for edit_distance: WER over FIRST-12-TOKEN prefixes
      // (both engines slice identically), so each pair carries <= 24
      // distinct tokens and the oracle can replay the distance through
      // a per-pair token->char bijection (dense rank over the pair's
      // distinct tokens -> 'a'..'x') + DuckDB's string levenshtein —
      // single-char tokens make char-level == token-level exactly.
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.wer(cand, ref, idCol = "pair_id", maxTokens = 12)
    },
    "text_bleu_by_source" -> { (s, dir) =>
      // Segmented corpus BLEU: one BLEU row PER SOURCE over the same
      // odd/even pairing — the candidate side's source keys every sum,
      // references attribute through the pair id. Identical quantized
      // arithmetic per group; oracle replays it with GROUP BY.
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"), col("source"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.corpusBleuByGroup(cand, ref, "source",
        idCol = "pair_id")
    },
    "text_cer_by_source" -> { (s, dir) =>
      // Segmented corpus CER: per-source pair counts, total char
      // edits, total reference chars, and the exact-integer corpus
      // rate — the corpus QC readout by domain. Fully oracle-checked
      // (grouped sums over DuckDB's levenshtein pairs).
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"), col("source"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.cerByGroup(cand, ref, "source", idCol = "pair_id")
    },
    "text_meteor" -> { (s, dir) =>
      // METEOR (exact-match module) over the odd/even pairing, FULL
      // tapes: the greedy first-fit alignment is deterministic, so the
      // oracle replays it verbatim as a candidate-position-stepping
      // recursive CTE (state = used reference positions + last matched
      // pair), then the one-division exact integer score.
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.meteor(cand, ref, idCol = "pair_id")
    },
    "text_cer" -> { (s, dir) =>
      // Character error rate over the odd/even pairing: char-level
      // Levenshtein (Spark's codegen'd builtin — char grain is already
      // right for CER) on the whitespace-collapsed lowercased stream.
      // Fully oracle-checkable: DuckDB's levenshtein shares the grain.
      val d = Tables(s, dir, "documents")
      val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(expr("doc_id div 2").as("pair_id"), col("text"))
      graft.ext.TextEval.cer(cand, ref, idCol = "pair_id")
    },
    "text_bm25" -> { (s, dir) =>
      // BM25 retrieval (k1=6/5, b=3/4, Lucene idf) of the corpus's top-20
      // df terms as single-term queries, top-10 docs each. Ranking within
      // a term uses only the saturation part — a single division of exact
      // longs, bit-identical cross-engine (idf is constant per term, so
      // the order IS the BM25 order); the headline score nano-quantizes
      // ln((2N+2)/(2df+1))·tf_part like the PSI family.
      graft.ext.Retrieval.bm25TopK(Tables(s, dir, "documents"),
        k = 10, nQueryTerms = 20)
    },
    "text_unicode_normalize" -> { (s, dir) =>
      // Unicode canonicalization: the fixture corpus is ASCII, so
      // accent-bearing text is synthesized IDENTICALLY in both engines
      // (the text_pii_redact trick — combining marks via chr()), then
      // run through the native NFC / strip-accents expressions; the
      // oracle uses DuckDB's nfc_normalize/strip_accents. nfc_len <
      // raw_len pins that composition actually happened.
      import graft.functions.textnorm.{nfc_normalize, strip_accents}
      // NB: Spark's chr() is ASCII (mod 256) unlike DuckDB's code-point
      // chr — the combining marks are Scala literals here, chr() there
      val raw = concat(
        lit("cafe\u0301 a\u0300 u\u0308 n\u0303-"),
        (col("doc_id") % 10).cast("string"))
      Tables(s, dir, "documents").select(col("doc_id"),
        nfc_normalize(raw).as("nfc"),
        strip_accents(raw).as("ascii"),
        length(nfc_normalize(raw)).cast("int").as("nfc_len"),
        length(raw).cast("int").as("raw_len"))
    },
    "text_rrf_hybrid" -> { (s, dir) =>
      // Hybrid sparse+dense retrieval fused by truncated-list
      // reciprocal-rank fusion: per query doc (ids < 20, the sim_topk
      // query set — vec_id aligns with doc_id), the top-20 by distinct
      // shared tokens (inverted-index join) and the top-20 by exact
      // cosine are fused with integer-exact ⌊1e6/(60+rank)⌋ scores —
      // ranks and the fused order replay verbatim in the oracle.
      val d = Tables(s, dir, "documents")
      val emb = Tables(s, dir, "embeddings")
      graft.ext.Retrieval.hybridRrfTopK(d, emb,
        d.filter(col("doc_id") < 20).select("doc_id"), k = 10, kRank = 20)
    },
    "text_pii_redact" -> { (s, dir) =>
      // the fixture carries no PII, so PII-bearing text is synthesized
      // IDENTICALLY in both engines (doc_id-derived email/IP/phone spliced
      // into the document), then redacted — the oracle checks the actual
      // redaction behavior, not a no-op
      val d = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val salted = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@mail.example from "),
        lit("10.0."), pmod(col("doc_id"), lit(256L)).cast("string"), lit(".7 or call "),
        lit("+1 555-010-"), lpad(pmod(col("doc_id"), lit(100L)).cast("string"), 4, "0"))
      d.select(col("doc_id"), TextAnalysis.piiRedacted(salted).as("redacted"))
    },
    "text_strip_html" -> { (s, dir) =>
      // HTML -> text extraction (the C4/WET step): the fixture is plain
      // text, so each document is wrapped in synthesized crawl-style
      // HTML — head/style, comments, named AND numeric character
      // references (incl. the single-decode traps &amp;#60; / &#38;lt;
      // and the passthrough family: out-of-range, surrogate, zero,
      // overlong, unterminated), a script with operators that MUST NOT
      // leak — identically in both engines, then stripped; the oracle
      // replays the same chain, so the check covers real stripping
      // behavior, not a no-op.
      val d = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val html = concat(
        lit("<html><head><title>T"), pmod(col("doc_id"), lit(7L)).cast("string"),
        lit("</title><style type=\"text/css\">p { margin: 0; }</style></head>"),
        lit("<body><!-- crawl-id --><h1>&quot;Doc&quot; &amp;amp; &lt;more&gt;</h1>"),
        lit("<p>It&#8217;s &#x27;q&#39; caf&#xE9; A&#x1F600;B &#38;lt; &amp;#60;"),
        lit(" bad:&#0;&#55296;&#xD800;&#x110000;&#12345678;&#x;&#; tail&#38</p><p>"),
        substring(col("text"), 1, 200),
        lit("</p><script>if (a < b && c > d) { run(); }</script><br/></body></html>"))
      d.select(col("doc_id"), TextAnalysis.stripHtml(html).as("clean"))
        .withColumn("n_clean_chars", length(col("clean")).cast("long"))
    },
    "text_dict_tag" -> { (s, dir) =>
      // Dictionary tagging (the C4 §2.2 badwords machinery as a TAGGING
      // face): the fixture text carries no blockable terms, so
      // punctuation/case-bearing splices are appended in doc_id-derived
      // positions IDENTICALLY in both engines. The dictionary exercises
      // every contract edge: fixture-vocabulary words ("spark", "dup"),
      // a phrase that overlaps itself in doc text ("batch batch" inside
      // "batch batch batch"), case-folded punctuation-flanked splices
      // ("gambling" from " ...Gambling!"), two phrases overlapping in
      // ONE splice ("online casino" + "casino bonus" inside
      // " Online, CASINO bonus?"), a substring-of-a-token trap ("ord"
      // inside "order" — must NOT fire), and an absent phrase. One
      // Aho-Corasick pass per doc; the oracle replays the normalization
      // and tests space-flanked containment per phrase.
      val d = Tables(s, dir, "documents").filter(col("text").isNotNull)
      Curation.dictionaryTags(
        d.select(col("doc_id"), dictTagSalted.as("text")), dictTagFixture)
    },
    "text_dict_sql" -> { (s, dir) =>
      // The dictionary scan through its SQL TVF face — same plan as
      // Curation.dictionaryTags (plan parity in GraftExtensionsSpec);
      // shares text_dict_tag's fixture and oracle.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_dict_v",
        Tables(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), dictTagSalted.as("text"))) { v =>
        s.sql(s"""
          SELECT * FROM graft_dict_tag('$v', 'doc_id', 'text',
            '${dictTagFixture.mkString(",")}')
        """)
      }
    },
    "text_blocklist_filter" -> { (s, dir) =>
      // The C4 badwords PAGE FILTER itself (Raffel §2.2: drop any page
      // containing a blocklisted term): same salted fixture; the two
      // blocked terms ride the doc_id%3 / doc_id%5 splices, so the
      // filter provably removes ~47% of pages while the oracle derives
      // the SAME survivor set purely by replaying the text-side
      // normalization + containment (never doc_id arithmetic).
      val d = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val pages = d.select(col("doc_id"), dictTagSalted.as("text"),
        col("lang"), col("source"))
      Curation.blocklistFilter(pages, Seq("gambling", "casino bonus"))
        .select(col("doc_id"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars_kept"))
    },
    "text_repetition" -> { (s, dir) =>
      val d = Tables(s, dir, "documents").filter(col("text").isNotNull)
      d.select(Seq(col("doc_id")) ++
        TextAnalysis.repetitionSignals(col("text")).map { case (n, c) => c.as(n) }: _*)
    },
    "text_chunk" -> { (s, dir) =>
      Curation.chunk(Tables(s, dir, "documents"), window = 32, stride = 24)
    },
    "text_c4_line_clean" -> { (s, dir) =>
      // The ACTUAL C4 line-level rewrite (Raffel §2.2) — the fixture
      // carries no newlines, so multi-line crawl-style pages are
      // synthesized from doc_id arithmetic identically in both engines:
      // a good terminated line, a too-short line, an unterminated line,
      // a javascript notice (doc_id%4), a double-spaced good line, a
      // third good line on even docs (page survives at >= 3 sentences),
      // a lorem-ipsum line (%11) and a brace line (%13) that pass the
      // LINE rules yet kill the PAGE — pinning that the two rule levels
      // are independent (fixture shared via c4LineFixture).
      TextAnalysis.c4LineClean(c4LineFixture(Tables(s, dir, "documents")))
    },
    "text_c4_line_sql" -> { (s, dir) =>
      // The C4 line rewrite through its SQL TVF face — same plan,
      // shares text_c4_line_clean's fixture and oracle.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_c4l_v",
        c4LineFixture(Tables(s, dir, "documents"))) { v =>
        s.sql(s"SELECT * FROM graft_c4_line_clean('$v', 'doc_id', 'text', 5)")
      }
    },
    "text_chunk_sent_sql" -> { (s, dir) =>
      // Sentence chunking through its SQL TVF face — same plan, shares
      // text_chunk_sentences's fixture and oracle.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_cs_v",
        sentenceSpanFixture(Tables(s, dir, "documents"))) { v =>
        s.sql(s"SELECT * FROM graft_chunk_sentences('$v', 'doc_id', 'text', 3, 2)")
      }
    },
    "text_chunk_sentences" -> { (s, dir) =>
      // Sentence-window RAG chunking over the shared sentence-bearing
      // fixture (the plain fixture carries no punctuation): window 3 /
      // stride 2 gives one-sentence overlap across seams; 5-, 4- and
      // 1-sentence docs exercise multi-chunk, short-tail and
      // single-chunk shapes. Oracle replays synthesis + split + the
      // identical slice arithmetic.
      Curation.chunkBySentences(
        sentenceSpanFixture(Tables(s, dir, "documents")), window = 3, stride = 2)
    },
    "text_boilerplate" -> { (s, dir) =>
      // CCNet-style corpus-frequency segment removal: 3-token segments
      // appearing in more than 3 documents are dropped, survivors are
      // reassembled in order. Zero-shuffle segmentization; the frequent
      // list is anti-joined (tiny by construction — AQE broadcasts it).
      Curation.dropFrequentSegments(Tables(s, dir, "documents"),
        segLen = 3, maxDocs = 3)
    },
    "text_fuzzy_join" -> { (s, dir) =>
      // fuzzy title dedup: doc pairs whose 40-char prefixes are within
      // edit distance 2 (trigram-blocked exact Levenshtein join)
      val titles = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("title"))
      Curation.fuzzyJoin(titles, k = 2, idCol = "doc_id", strCol = "title", q = 5)
    },
    "contamination" -> { (s, dir) =>
      // train/test per the split_train_test hash; shared word-8-grams.
      // maxDf=1 runs the boilerplate guard (the designed 100 TB hot-key
      // defense) ON: train 8-grams appearing in more than one train doc
      // are dropped before the join — at sf0.1 this provably removes
      // evidence (one pair and ~7% of shared-gram counts), and the
      // oracle applies the identical cap
      val d = Tables(s, dir, "documents")
      val bucket = pmod(pmod(col("doc_id"), lit(100L)) * lit(61L), lit(100L))
      Curation.contamination(
        d.filter(bucket >= 90), d.filter(bucket < 80), n = 8, maxDf = 1L)
    },
    "contamination_incremental" -> { (s, dir) =>
      // Continuous decontamination over PERSISTED state: the fixed test
      // set's n-gram index is built once and stored (8-byte hashes, no
      // benchmark text), then the training batch is checked against the
      // STORED index — contamination's exact scenario and oracle, with
      // the state files in the result's lineage instead of the test text.
      val d = Tables(s, dir, "documents")
      val bucket = pmod(pmod(col("doc_id"), lit(100L)) * lit(61L), lit(100L))
      val stateDir = scratchDir("graft_contam_state_").toString
      graft.etl.Sinks.parquetDir(
        Curation.contaminationIndex(d.filter(bucket >= 90), n = 8), stateDir)
      Curation.contaminationAgainstIndex(
        s.read.parquet(stateDir), d.filter(bucket < 80), n = 8, maxDf = 1L)
    },
    "emb_quantize" -> { (s, dir) =>
      // the int8 array serializes to CSV for the oracle hash — array
      // columns don't order-compare portably across engines' dataframes
      Embeddings.quantizeInt8(Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("scale"), array_join(col("q"), ",").as("q_str"))
    },
    "emb_covariance" -> { (s, dir) =>
      // Full 64x64 upper-triangle covariance of the embedding corpus
      // from exact decimal sums — the distributed Gram primitive under
      // fitPca. Nano-integer face (the decimal->double cast can sit one
      // ulp apart across engines past 2^53, the q_group_ols lesson).
      Embeddings.covarianceMatrix(Tables(s, dir, "embeddings"), dim = 64)
        .select(col("i"), col("j"),
          round(col("cov") * 1e9).cast("long").as("cov_nano"))
    },
    "emb_random_projection" -> { (s, dir) =>
      // Johnson-Lindenstrauss Rademacher projection 64 -> 16: micro-int
      // quantize first, then exact ±1 integer sums; the sign matrix is
      // md5-derived, so the oracle rebuilds the identical matrix from
      // DuckDB's md5 and replays the sums exactly.
      Embeddings.randomProject(Tables(s, dir, "embeddings"),
        inDim = 64, outDim = 16)
    },

    // --- [EXT] dedup (documents) ----------------------------------------
    "dedup_exact" -> { (s, dir) =>
      Dedup.exact(Tables(s, dir, "documents"))
    },
    "dedup_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccard(Tables(s, dir, "documents"), threshold = 0.8)
    },
    "dedup_editdistance" -> { (s, dir) =>
      // COMPLETE edit-distance self-join (PassJoin pigeonhole segments)
      // on 32-char normalized prefixes at tau = 3: candidates from ONE
      // equi-join on (length, segment index, segment), verified with
      // the builtin levenshtein; oracle brute-forces the same pair set.
      Dedup.editDistanceJoin(Tables(s, dir, "documents"),
        maxDist = 3, keyLen = 32)
    },
    "text_symspell" -> { (s, dir) =>
      // SymSpell fuzzy vocabulary correction: vocab = even docs' token
      // frequencies; noisy side = odd docs' tokens deterministically
      // corrupted (even length: mid char deleted; odd: mid char -> 'q'
      // — both engines replay the same corruption), matched via the
      // deletion-neighborhood equi-join at tau = 2. Oracle brute-forces
      // the candidate set and replays the (dist, -freq, term) pick.
      val d = Tables(s, dir, "documents")
      val tok = d.filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(filter(graft.ext.TextAnalysis.tokens(lower(col("text"))),
            t => length(t) > 0)).as("t"))
      val vocab = tok.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .groupBy(col("t").as("term")).agg(count(lit(1)).as("freq"))
      val noisy = tok.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .select(expr(
          """IF(length(t) % 2 = 0,
            |  concat(substring(t, 1, (length(t)+1) DIV 2 - 1),
            |         substring(t, (length(t)+1) DIV 2 + 1)),
            |  concat(substring(t, 1, (length(t)+1) DIV 2 - 1), 'q',
            |         substring(t, (length(t)+1) DIV 2 + 1)))""".stripMargin)
          .as("token"))
      Dedup.symspellCorrect(noisy, vocab, maxDist = 2)
    },
    "dedup_substring" -> { (s, dir) =>
      // ExactSubstr-style span dedup: per-doc duplicated-window counts
      // and covered-token mass; linear (group-by-hash), never pairwise
      Dedup.substringSpans(Tables(s, dir, "documents"), k = 12)
    },
    "dedup_substr_remove" -> { (s, dir) =>
      // ExactSubstr REMOVAL (Lee et al. 2107.06499): drop every token
      // in a corpus-duplicated 12-token window except the first
      // occurrence's (min (doc_id, pos)), re-emit cleaned text — the
      // fixture carries real duplicated windows (945+ dup grams at
      // sf0.01), so the oracle checks actual rewriting, not a no-op.
      Dedup.removeDuplicateSubstrings(Tables(s, dir, "documents"), k = 12)
    },
    "dedup_winnow" -> { (s, dir) =>
      // MOSS winnowing: window-min gram fingerprints (density 2/(w+1)),
      // pairs sharing >= 2 — partial-overlap detection
      Dedup.winnowPairs(Tables(s, dir, "documents"), k = 4, w = 8, minShared = 2L)
    },
    "dedup_sentence_spans" -> { (s, dir) =>
      // C4-style three-sentence-span dedup over the shared synthesized
      // fixture (sentenceSpanFixture — dup triples per bucket, short
      // docs for the n_spans=0 contract). Oracle replays synthesis +
      // split + hash chain.
      Dedup.sentenceSpans(
        sentenceSpanFixture(Tables(s, dir, "documents")), n = 3)
    },
    "dedup_sentence_incremental" -> { (s, dir) =>
      // Incremental maintenance of the sentence-span dedup: three
      // doc_id tiles build PERSISTED span states independently (each
      // through the parquet sink — historical tiles never re-split),
      // the union folds them, and the result face recomputes the
      // corpus-wide dup test over folded hashes — a new tile CAN flip
      // an old document's span to duplicated, which is exactly what
      // the one-shot oracle demands.
      val syn = sentenceSpanFixture(Tables(s, dir, "documents"))
      val tiles = (0 until 3).map { t =>
        val stateDir = scratchDir(s"graft_sspan_state_${t}_").toString
        graft.etl.Sinks.parquetDir(
          graft.ext.Dedup.sentenceSpanState(
            syn.filter(pmod(col("doc_id"), lit(3L)) === t), n = 3),
          stateDir)
        s.read.parquet(stateDir)
      }
      graft.ext.Dedup.sentenceSpansFromState(tiles.reduce(_ unionByName _))
    },
    "dedup_sentence_sql" -> { (s, dir) =>
      // The same C4 span report through its SQL TVF face — identical
      // plan and oracle as dedup_sentence_spans.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_sspan_v",
          sentenceSpanFixture(Tables(s, dir, "documents"))) { v =>
        s.sql(s"SELECT * FROM graft_sentence_spans('$v', 'doc_id', 'text', 3)")
      }
    },
    "dedup_span_remove_sql" -> { (s, dir) =>
      // The C4 removal rewrite through its SQL TVF face — identical
      // plan and oracle as dedup_span_remove.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_sprm_v",
          sentenceSpanFixture(Tables(s, dir, "documents"))) { v =>
        s.sql(s"SELECT * FROM graft_span_remove('$v', 'doc_id', 'text', 3)")
      }
    },
    "dedup_span_remove" -> { (s, dir) =>
      // C4's ACTUAL cleaning rule (Raffel 2020 §2.2): drop every
      // sentence in a corpus-duplicated three-sentence span except the
      // first occurrence's (min (doc_id, pos) — engine-portable), and
      // re-emit the cleaned text in order. Oracle replays the split +
      // hash + window-rank + anti-join + ordered string_agg chain.
      Dedup.removeDuplicateSpans(
        sentenceSpanFixture(Tables(s, dir, "documents")), n = 3)
    },
    "dedup_clusters" -> { (s, dir) =>
      // pairs -> transitive dedup clusters via distributed min-label
      // propagation; oracle recomputes the same closure with a recursive
      // CTE over the identical pair set
      Dedup.components(Dedup.ngramJaccard(Tables(s, dir, "documents"), threshold = 0.8))
    },
    "dedup_semantic" -> { (s, dir) =>
      // Embedding-space near-dup dedup (SemDeDup shape), oracle-checked:
      // the fixture's natural pair cosines top out at ~0.60, so near-dups
      // are PLANTED identically in both engines (every 40th vector gets a
      // +0.1-on-coord-1 twin at id+100000, cosine >= 0.995 against its
      // base). SRP-banded candidates + exact cosine verification at 0.9:
      // the >=0.09 margin on both sides of the threshold makes the pair
      // SET engine-exact (no pair lives near 0.9), and the seeded
      // hyperplanes make recall deterministic — pinned by this row at
      // both scale factors. Output is the id pairs only; cosines stay
      // engine-local.
      Dedup.embeddingCosine(plantedTwins(s, dir), threshold = 0.9).select("a_id", "b_id")
    },
    "dedup_semdedup_exact" -> { (s, dir) =>
      // SemDeDup keep/discard decisions, exact face (nCells=1 — every
      // pair considered, no quantizer): same planted-twin fixture as
      // dedup_semantic, so the 0.9-pair graph is exactly the isolated
      // base↔twin pairs and the oracle can replay clusters + the
      // lowest-id keep rule in plain SQL. One row per clustered doc.
      Dedup.semdedup(plantedTwins(s, dir), threshold = 0.9, nCells = 1, keepLowestId = true)
    },
    "dedup_semdedup" -> { (s, dir) =>
      // The clustered scale path: √N K-Means cells bound the pairwise
      // to within-cell joins. Near-identical twins co-locate, so the
      // discard surface matches the exact face on this fixture; the
      // formal pin is SemDedupSpec's never-over-discard + recall
      // battery (rows-only here: cell assignment isn't SQL-replayable).
      Dedup.semdedup(plantedTwins(s, dir), threshold = 0.9, keepLowestId = true)
    },
    "dedup_incremental" -> { (s, dir) =>
      // Incremental LSH dedup against PERSISTED index state — the daily
      // ingest shape: 2/3 of the corpus is indexed once (lshIndexState →
      // parquet: shingle hashes + MinHash signature, never the text),
      // then the remaining third dedups against the STORED index —
      // new×new plus new×old candidate pairs, exact-Jaccard verified;
      // old×old pairs were resolved at index-build time and are never
      // recomputed. Same recall argument as dedup_minhash (loss < 5e-8
      // at j>=0.8, b=32, r=4), so the oracle is the exact all-pairs
      // Jaccard restricted to pairs touching the new batch.
      val docs = Tables(s, dir, "documents")
      val stateDir = scratchDir("graft_lsh_state_").toString
      graft.etl.Sinks.parquetDir(
        Dedup.lshIndexState(docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0)),
        stateDir)
      Dedup.minhashIncremental(
        docs.filter(pmod(col("doc_id"), lit(3L)) === 0),
        s.read.parquet(stateDir), threshold = 0.8)
    },
    "dedup_minhash" -> { (s, dir) =>
      // LSH banding (b=32, r=4) + exact verification: recall loss at
      // j>=0.8 is < 5e-8, so the exact-Jaccard oracle applies.
      Dedup.minhash(Tables(s, dir, "documents"), threshold = 0.8)
    },
    "dedup_crosslingual" -> { (s, dir) =>
      // Cross-lingual near-dup: pseudo-translations of every 4th doc
      // (surface forms reversed; every m-th token dropped, m = 10 +
      // doc_id % 20, so concept-shingle Jaccard spreads across the 0.8
      // threshold) rejoined through a corpus-derived reversal lexicon.
      // Concept-sequence 3-gram MinHash-LSH, cross-language candidates
      // only, exact verification; oracle = the all-pairs exact concept-
      // shingle Jaccard ground truth (recall loss at j>=0.8 < 5e-8).
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), lower(col("text")).as("text"))
      val toks = split(trim(col("text")), graft.ext.TextAnalysis.WhitespaceClass)
      val translated = d.filter(pmod(col("doc_id"), lit(4L)) === 0L)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          lit("xx").as("lang"),
          array_join(transform(
            filter(toks, (t, i) =>
              pmod(i, lit(10) + pmod(col("doc_id"), lit(20)).cast("int")) =!= 0),
            t => reverse(t)), " ").as("text"))
      val vocab = d.select(explode(toks).as("t"))
        .filter(length(col("t")) > 0).distinct()
      val lexicon = vocab.select(col("t").as("surface"), col("t").as("concept"))
        .unionByName(vocab.select(reverse(col("t")).as("surface"),
          col("t").as("concept")))
      Dedup.crossLingualMinhash(d.unionByName(translated), lexicon)
    },
    "dedup_simhash" -> { (s, dir) => // hash-seeded: rows-only check
      Dedup.simhash(Tables(s, dir, "documents"), maxDist = 3)
    },
    "dedup_containment" -> { (s, dir) =>
      // Directional containment (|A∩B| / |A| >= t): catches a short doc
      // living inside a longer one, which symmetric Jaccard misses.
      Dedup.containment(Tables(s, dir, "documents"), threshold = 0.7)
    },

    // --- [EXT] dataset splitting / sampling (documents) -----------------
    "split_train_test" -> { (s, dir) =>
      // Deterministic hash split (Knuth multiplicative): stable across
      // runs, machines, and engines — unlike randomSplit, a row's split
      // never depends on partitioning. 80/10/10 by doc_id. Reduce doc_id
      // mod 100 BEFORE multiplying ((a*b) mod m == ((a mod m)(b mod m))
      // mod m, and 2654435761 % 100 = 61): wrap-free for the full long
      // doc_id domain, where the raw product would silently overflow in
      // non-ANSI Spark but raise/promote in DuckDB.
      val bucket = pmod(pmod(col("doc_id"), lit(100L)) * lit(61L), lit(100L))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    },
    "split_leakage_safe" -> { (s, dir) =>
      // Cluster-aware split: near-duplicate docs (transitive ngram-
      // Jaccard clusters) always land in the SAME split — the standard
      // guard against eval leakage through near-dups that a per-doc
      // hash split cannot give. Oracle recomputes the closure with a
      // recursive CTE and applies the identical cluster-id hash.
      val docs = Tables(s, dir, "documents")
      Curation.leakageSafeSplit(docs,
        Dedup.components(Dedup.ngramJaccard(docs, threshold = 0.8)))
    },
    "split_kfold" -> { (s, dir) =>
      // Stratified 5-fold assignment with EXACT per-stratum balance:
      // per-language rank (grouped range-partitioned numbering, no
      // per-stratum single-reducer window) round-robins doc_ids across
      // folds; reported as per-(lang, fold) counts + id range.
      graft.ext.Curation.stratifiedKFold(Tables(s, dir, "documents"),
        strataCol = "lang", idCol = "doc_id", k = 5)
        .groupBy("lang", "fold")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
          max("doc_id").as("max_id"))
    },
    "q_gini" -> { (s, dir) =>
      // Per-nation Gini concentration of customer spend, exact integer
      // arithmetic: per-customer totals summed in decimal (engine-
      // portable), cent-quantized, ranked per nation, one integer
      // division for gini_micro.
      val spend = Tables(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("spend"))
      val joined = Tables(s, dir, "customer")
        .join(spend, col("c_custkey") === col("o_custkey"))
        .select(col("c_nationkey").as("nationkey"),
          col("spend").cast("double").as("spend"))
      graft.ops.Relational.giniPerGroup(joined, Seq("nationkey"), "spend",
        scale = 100L)
    },
    "text_sorted_neighborhood" -> { (s, dir) =>
      // Sorted-neighborhood ER blocking: rank docs by 24-char prefix
      // key (range-partitioned global numbering), compare each doc to
      // its 3 sort-successors, verify with exact Levenshtein <= 5 over
      // 40-char prefixes — n*window candidate pairs, never n^2.
      graft.ext.Dedup.sortedNeighborhood(Tables(s, dir, "documents"))
    },
    "ts_seasonal_anomaly" -> { (s, dir) =>
      // Calendar-aware volume anomaly: each (type, day, hour) cell vs
      // the type's same-hour-of-day baseline, flagged at 1.5x the
      // seasonal mean by the exact cross-multiplied integer rule
      // 2*n*n_cells > 3*total (no float division; non-vacuous at
      // every fixture SF).
      val ev = Tables(s, dir, "events")
      graft.ops.TimeSeries.seasonalAnomaly(
        ev.select(col("event_type"), Events.tsSec(ev).as("sec")),
        secCol = "sec", keyCol = "event_type", factorNum = 3L, factorDen = 2L)
    },
    "q_equidepth_hist" -> { (s, dir) =>
      // Per-group equi-depth histogram: 10 rank-buckets of o_totalprice
      // per priority with exact counts and bounds (partitioned-window
      // ntile — distributed by group, no global sort).
      graft.ops.Relational.equiDepthHistogram(Tables(s, dir, "orders"),
        groupCol = "o_orderpriority", valueCol = "o_totalprice",
        tiebreakCol = "o_orderkey", buckets = 10)
        .withColumnRenamed("o_orderpriority", "prio")
    },
    "q_equiwidth_hist" -> { (s, dir) =>
      // Equal-width histogram (10 bins, edges from the data's own
      // min/max) — the fixed-edge companion of q_equidepth_hist,
      // reusing the drift family's mergeable histogramState; the bin
      // spine left-join surfaces empty bins with zero counts.
      val orders = Tables(s, dir, "orders")
      val bins = 10
      val (mn, width) = graft.ops.DataQuality.histogramEdges(
        orders, "o_totalprice", bins)
      val counts = graft.ops.DataQuality.histogramState(
        orders, "o_totalprice", mn, width, bins)
      s.range(0, bins).select(col("id").as("bin"))
        .join(counts, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("n"), lit(0L)).as("n"))
    },
    "q_string_agg" -> { (s, dir) =>
      // Deterministic ordered string aggregation per group — the
      // GROUP_CONCAT/string_agg surface: sort_array before concat so
      // the result is a pure function of the set, not partitioning.
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("n"),
          concat_ws(",",
            sort_array(collect_set(col("o_orderstatus")))).as("statuses"))
    },
    "events_hopping" -> { (s, dir) =>
      // Hopping windows (1h window, 15m slide): each event lands in 4
      // overlapping windows via a plan-side explode(sequence) Expand.
      Events.hopping(Tables(s, dir, "events"))
        .withColumn("sum_value", col("sum_value").cast("double"))
    },
    "dq_checks" -> { (s, dir) =>
      // Declarative quality gate over orders: four row-local checks fold
      // into one scan, uniqueness rides the same aggregate as a distinct
      // count, and the FK check is one broadcast anti join. Thresholds
      // chosen so the report carries BOTH passing and failing rows.
      import graft.ops.DataQuality._
      validate(Tables(s, dir, "orders"), Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 400000.0),
        Matches("o_orderpriority", "^[1-3]-[A-Z]+"),
        InSet("o_orderstatus", Seq("F", "O")),
        Unique(Seq("o_orderkey")),
        RefIntegrity("o_custkey", Tables(s, dir, "customer"), "c_custkey")))
    },
    "dq_k_anonymity" -> { (s, dir) =>
      // Re-identification audit: order (priority, status, day) tuples
      // shared by fewer than 3 rows. Day is an integer epoch-day bucket
      // so the grouping key is engine-exact.
      graft.ops.DataQuality.kAnonymityRisk(
        Tables(s, dir, "orders").select(
          col("o_orderpriority"), col("o_orderstatus"),
          expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 86400").as("order_day")),
        Seq("o_orderpriority", "o_orderstatus", "order_day"), k = 3)
    },
    "dq_l_diversity" -> { (s, dir) =>
      // Homogeneity audit: (priority, week) groups whose orders span
      // fewer than 3 distinct statuses — clears k-anonymity yet leaks
      // the status of everyone in the group. Week is an integer
      // epoch-week bucket so the grouping key is engine-exact.
      graft.ops.DataQuality.lDiversityRisk(
        Tables(s, dir, "orders").select(
          col("o_orderpriority"), col("o_orderstatus"),
          expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 604800").as("order_week")),
        Seq("o_orderpriority", "order_week"), sensitive = "o_orderstatus", l = 3)
    },
    "dq_t_closeness" -> { (s, dir) =>
      // Distribution-leak audit, the ladder's third rung: (priority,
      // week) groups whose order-status distribution sits more than
      // 0.15 TVD from the corpus-wide one — groups that clear both
      // k-anonymity and l-diversity yet still skew-leak. Exact integer
      // TVD; the threshold flags a strict subset at both SFs (~2/3 of
      // groups at sf0.01, ~1% at sf0.1 — group size drives closeness).
      graft.ops.DataQuality.tClosenessRisk(
        Tables(s, dir, "orders").select(
          col("o_orderpriority"), col("o_orderstatus"),
          expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 604800").as("order_week")),
        Seq("o_orderpriority", "order_week"), sensitive = "o_orderstatus",
        tNano = 150000000L)
    },
    "dq_tcl_incremental" -> { (s, dir) =>
      // t-closeness over PERSISTED state — the audit's incremental twin
      // (the dq_psi_incremental discipline): per-shard quasi×sensitive
      // cell counts (a plain count monoid) are written through the
      // parquet sink once, then the audit runs from the STORED
      // summaries only — the result's lineage contains the state files
      // and the audit-cardinality spine, never the history rows again.
      // Shares dq_t_closeness's oracle (exact recompute from raw rows).
      val base = Tables(s, dir, "orders")
        .withColumn("__shard", pmod(col("o_orderkey"), lit(3L)))
      val stateDir = scratchDir("graft_tcl_state_").toString
      (0 until 3).foreach { d =>
        graft.etl.Sinks.parquetDir(
          graft.ops.DataQuality.tClosenessCellState(
            base.filter(col("__shard") === d).select(
              col("o_orderpriority"), col("o_orderstatus"),
              expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 604800").as("order_week")),
            Seq("o_orderpriority", "order_week"), "o_orderstatus"),
          s"$stateDir/shard=$d")
      }
      graft.ops.DataQuality.tClosenessFromCells(
        s.read.parquet(s"$stateDir/shard=0", s"$stateDir/shard=1", s"$stateDir/shard=2"),
        Seq("o_orderpriority", "order_week"), tNano = 150000000L)
    },
    "dq_tcl_sql" -> { (s, dir) =>
      // t-closeness through its SQL TVF face — same plan as the Scala
      // API; shares dq_t_closeness's oracle.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_tcl_v",
        Tables(s, dir, "orders").select(
          col("o_orderpriority"), col("o_orderstatus"),
          expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 604800").as("order_week"))) { v =>
        s.sql(s"""
          SELECT * FROM graft_t_closeness('$v',
            'o_orderpriority,order_week', 'o_orderstatus', 150000000)
        """)
      }
    },
    "q_outlier_mad" -> { (s, dir) =>
      // Robust MAD outliers per priority. The fixture's totalprice is
      // near-uniform (no 3-sigma tail at all), so deterministic
      // anomalies are INJECTED (every 499th key at 20x) and the op must
      // find exactly those — exact interpolated medians on both sides
      // (percentile <-> quantile_cont), no float rounding anywhere.
      val base = Tables(s, dir, "orders").select(
        col("o_orderpriority"),
        when(pmod(col("o_orderkey"), lit(499L)) === 0L, col("o_totalprice") * lit(20.0))
          .otherwise(col("o_totalprice")).as("price"))
      graft.ops.Relational.madOutliers(base,
        groupCol = "o_orderpriority", valueCol = "price")
    },
    "q_damerau" -> { (s, dir) =>
      // Native FULL Damerau-Levenshtein (Lowrance-Wagner, unrestricted
      // transpositions) over consecutive part-name pairs, differentially
      // checked against DuckDB's byte-based damerau_levenshtein. Exact
      // integers — no rounding face needed.
      val p = Tables(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val a = p.select(col("p_partkey").as("k"), col("p_name").as("na"))
      val b = p.select((col("p_partkey") - lit(1L)).as("k"), col("p_name").as("nb"))
      a.join(b, "k").select(
        col("k").as("p_partkey"),
        graft.functions.strsim.damerau_levenshtein(col("na"), col("nb")).as("dl_dist"))
    },
    "q_jaro_winkler" -> { (s, dir) =>
      // Native Jaro/Jaro-Winkler scoring over consecutive part-name
      // pairs, differentially checked against DuckDB's implementations.
      // Micro-precision integers (round(sim*1e6)) are the comparison
      // face: the two engines may associate the jaro double arithmetic
      // differently, and 1e-6 is far coarser than any ulp divergence.
      val p = Tables(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val a = p.select(col("p_partkey").as("k"), col("p_name").as("na"))
      val b = p.select((col("p_partkey") - lit(1L)).as("k"), col("p_name").as("nb"))
      a.join(b, "k").select(
        col("k").as("p_partkey"),
        round(graft.functions.strsim.jaro_winkler(col("na"), col("nb")) * lit(1e6))
          .cast("long").as("jw_micro"),
        round(graft.functions.strsim.jaro(col("na"), col("nb")) * lit(1e6))
          .cast("long").as("jaro_micro"))
    },
    "etl_cdc_diff" -> { (s, dir) =>
      // Snapshot CDC: two deterministic snapshots derived from orders
      // (drops on each side + a totalprice bump) diffed into an
      // insert/update/delete stream; oracle = the FULL OUTER JOIN
      // classification in SQL.
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val oldSnap = base.filter(pmod(col("o_orderkey"), lit(11L)) =!= 3L)
      val newSnap = base.filter(pmod(col("o_orderkey"), lit(11L)) =!= 7L)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(13L)) === 0L, col("o_totalprice") + lit(10.0))
            .otherwise(col("o_totalprice")))
      graft.ops.Cdc.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
    },
    "ts_gapfill" -> { (s, dir) =>
      // Gap-filled 6-hour resample of per-user event value sums with
      // linear interpolation across unobserved buckets; the interpolation
      // expression is mirrored operation-for-operation in the oracle and
      // compared at micro precision.
      val ev = Tables(s, dir, "events")
      val base = ev.select(col("user_id"), Events.tsSec(ev).as("ts_sec"), col("value"))
      graft.ops.TimeSeries.gapFillInterpolate(base,
          keyCol = "user_id", tsSecCol = "ts_sec", valueCol = "value", step = 21600L)
        .select(col("user_id"), col("bucket"),
          round(col("v") * lit(1e6)).cast("long").as("v_micro"), col("observed"))
    },
    "events_dau_mau" -> { (s, dir) =>
      // Daily stickiness: DAU over trailing-30-day MAU, exact via the
      // bounded expansion of the distinct (user, day) activity set.
      graft.ext.Events.dauMau(Tables(s, dir, "events"))
    },
    "events_retention" -> { (s, dir) =>
      // Weekly cohort retention triangle over the events fixture —
      // distinct (user, week) activity joined to per-user first week.
      graft.ext.Events.cohortRetention(Tables(s, dir, "events"))
    },
    "dq_psi_drift" -> { (s, dir) =>
      // Feature-drift gate: PSI of o_totalprice between a reference and
      // a current snapshot (deterministic orderkey split), equal-width
      // bins fixed by the reference, Laplace-smoothed so empty bins
      // stay in the sum. Per-bin counts are exact; the PSI contribution
      // compares as nano-quantized integers (q_group_ols pattern).
      val orders = Tables(s, dir, "orders")
      graft.ops.DataQuality.psiDrift(
        ref = orders.filter(pmod(col("o_orderkey"), lit(3L)) =!= 0),
        cur = orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0),
        valueCol = "o_totalprice", bins = 10)
    },
    "dq_cohens_kappa" -> { (s, dir) =>
      // Label-QA gate: two deterministic "annotation passes" over
      // orders (the second flips every 7th row's status), scored with
      // chance-corrected agreement in exact integer arithmetic.
      val ann = Tables(s, dir, "orders").select(
        col("o_orderstatus").as("la"),
        when(pmod(col("o_orderkey"), lit(7L)) === 0,
          when(col("o_orderstatus") === "F", lit("O")).otherwise(lit("F")))
          .otherwise(col("o_orderstatus")).as("lb"))
      graft.ops.DataQuality.cohensKappa(ann, "la", "lb")
    },
    "dq_js_drift" -> { (s, dir) =>
      // Jensen–Shannon drift on the PSI scenario: bounded (≤ ln 2) and
      // symmetric, so one alert threshold works across features even
      // under disjoint supports where PSI explodes. Same fixed-edge
      // binning + Laplace smoothing; nano-quantized contributions.
      val orders = Tables(s, dir, "orders")
      graft.ops.DataQuality.jsDrift(
        ref = orders.filter(pmod(col("o_orderkey"), lit(3L)) =!= 0),
        cur = orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0),
        valueCol = "o_totalprice", bins = 10)
    },
    "dq_cramers_v" -> { (s, dir) =>
      // Cramér's V association between order priority and status —
      // the feature-redundancy / label-leakage audit. χ² over the
      // contingency table in exact decimal divmod arithmetic; the one
      // double op is an IEEE-exact sqrt rounded at 1e-6.
      graft.ops.DataQuality.cramersV(Tables(s, dir, "orders"),
        aCol = "o_orderpriority", bCol = "o_orderstatus")
    },
    "dq_js_incremental" -> { (s, dir) =>
      // JS divergence over PERSISTED histogram state — shares the
      // dq_psi_incremental scenario and state layout exactly (the
      // histogram (bin, n) summaries ARE the shared mergeable sketch;
      // only the read-side formula differs), so one stored state
      // serves both drift families without re-scanning history.
      val orders = Tables(s, dir, "orders")
      val bins = 10
      val dayCol = pmod(col("o_orderkey"), lit(5L))
      val (mn, width) = graft.ops.DataQuality.histogramEdges(
        orders.filter(dayCol === 0), "o_totalprice", bins)
      val stateDir = scratchDir("graft_js_state_").toString
      (0 until 5).foreach { d =>
        graft.etl.Sinks.parquetDir(
          graft.ops.DataQuality.histogramState(
            orders.filter(dayCol === d), "o_totalprice", mn, width, bins),
          s"$stateDir/day=$d")
      }
      graft.ops.DataQuality.jsFromState(
        s.read.parquet(s"$stateDir/day=0", s"$stateDir/day=1"),
        s.read.parquet(s"$stateDir/day=2", s"$stateDir/day=3", s"$stateDir/day=4"),
        bins)
    },
    "dq_psi_incremental" -> { (s, dir) =>
      // Drift over PERSISTED state — the incremental twin of
      // dq_psi_drift: per-day binned histograms (exact mergeable
      // sketches — counts are the monoid) are built once per "day" and
      // written through the parquet sink; the PSI between day-groups is
      // then computed from the STORED summaries only — the result's
      // lineage contains the state files and the bins-sized spine,
      // never the history rows again. Bin edges fix ONCE from day 0
      // (the initial reference) so later days' histograms stay
      // mergeable. Oracle = exact recompute from raw rows.
      val orders = Tables(s, dir, "orders")
      val bins = 10
      val dayCol = pmod(col("o_orderkey"), lit(5L))
      val (mn, width) = graft.ops.DataQuality.histogramEdges(
        orders.filter(dayCol === 0), "o_totalprice", bins)
      val stateDir = scratchDir("graft_psi_state_").toString
      (0 until 5).foreach { d =>
        graft.etl.Sinks.parquetDir(
          graft.ops.DataQuality.histogramState(
            orders.filter(dayCol === d), "o_totalprice", mn, width, bins),
          s"$stateDir/day=$d")
      }
      graft.ops.DataQuality.psiFromState(
        s.read.parquet(s"$stateDir/day=0", s"$stateDir/day=1"),
        s.read.parquet(s"$stateDir/day=2", s"$stateDir/day=3", s"$stateDir/day=4"),
        bins)
    },
    "dq_fleiss_kappa" -> { (s, dir) =>
      // Multi-rater label QA: a 3-annotator panel over orders (pass 1 =
      // the status; passes 2 and 3 flip every 7th / 11th row), scored
      // with Fleiss' chance-corrected agreement in exact decimal-safe
      // integer arithmetic. Long-format ratings — the natural shape of
      // a rating table — one row per (item, rater pass).
      val o = Tables(s, dir, "orders").filter(col("o_orderstatus").isNotNull)
      def flip(m: Long) = when(pmod(col("o_orderkey"), lit(m)) === 0,
        when(col("o_orderstatus") === "F", lit("O")).otherwise(lit("F")))
        .otherwise(col("o_orderstatus"))
      val ratings = o.select(col("o_orderkey").as("item"),
          col("o_orderstatus").as("label"))
        .unionByName(o.select(col("o_orderkey").as("item"), flip(7L).as("label")))
        .unionByName(o.select(col("o_orderkey").as("item"), flip(11L).as("label")))
      graft.ops.DataQuality.fleissKappa(ratings, "item", "label")
    },
    "dq_mutual_info" -> { (s, dir) =>
      // Feature relevance via mutual information between priority and
      // status: per-cell pointwise MI nano-quantized BEFORE any sum
      // (the PSI discipline), marginals as windows over the one
      // contingency aggregation.
      graft.ops.DataQuality.mutualInfo(
        Tables(s, dir, "orders"), "o_orderpriority", "o_orderstatus")
    },
    "dq_psi_cat_drift" -> { (s, dir) =>
      // Categorical drift on the same snapshot split: categories are
      // the bins (union of both sides via full outer join — appearing/
      // disappearing categories contribute instead of dropping out).
      val orders = Tables(s, dir, "orders")
      graft.ops.DataQuality.psiDriftCategorical(
        ref = orders.filter(pmod(col("o_orderkey"), lit(3L)) =!= 0),
        cur = orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0),
        catCol = "o_orderpriority")
    },
    "dq_ks_drift" -> { (s, dir) =>
      // PSI's nonparametric companion on the same snapshot split:
      // two-sample KS distance in EXACT integer arithmetic (d_num is
      // the integer numerator; ks_micro an integer division) — no
      // float touches the statistic. Cumulatives run range-partitioned
      // with broadcast offsets, never a single-reducer window.
      val orders = Tables(s, dir, "orders")
      graft.ops.DataQuality.ksDrift(
        ref = orders.filter(pmod(col("o_orderkey"), lit(3L)) =!= 0),
        cur = orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0),
        valueCol = "o_totalprice")
    },
    "dq_w1_drift" -> { (s, dir) =>
      // KS's integrating companion on the same snapshot split: exact
      // integer Wasserstein-1 over cent-quantized prices — CDF-gap sums
      // weighted by consecutive value gaps, range-partitioned cumulatives
      // with control-plane offsets + next-partition-min gap boundaries,
      // accumulation in decimal(38,0). No float in the statistic.
      val orders = Tables(s, dir, "orders")
      graft.ops.DataQuality.w1Drift(
        ref = orders.filter(pmod(col("o_orderkey"), lit(3L)) =!= 0),
        cur = orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0),
        valueCol = "o_totalprice", scale = 100L)
    },
    "dq_js_sql" -> { (s, dir) =>
      // JS divergence through its SQL face: graft_js_drift returns the
      // exact plan DataQuality.jsDrift builds (same scenario and
      // oracle as dq_js_drift).
      graft.GraftExtensions.register(s)
      val orders = Tables(s, dir, "orders")
      val refV = freshViewName("graft_js_ref_v")
      val curV = freshViewName("graft_js_cur_v")
      orders.filter(pmod(col("o_orderkey"), lit(3L)) =!= 0)
        .createOrReplaceTempView(refV)
      orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0)
        .createOrReplaceTempView(curV)
      try s.sql(s"""SELECT * FROM graft_js_drift('$refV',
        '$curV', 'o_totalprice', 10)""")
      finally { s.catalog.dropTempView(refV); s.catalog.dropTempView(curV) }
    },
    "dq_cramers_sql" -> { (s, dir) =>
      // Cramér's V through its SQL face (same plan and oracle as
      // dq_cramers_v).
      graft.GraftExtensions.register(s)
      val v = freshViewName("graft_cramers_v_v")
      Tables(s, dir, "orders").createOrReplaceTempView(v)
      try s.sql(
        s"SELECT * FROM graft_cramers_v('$v', 'o_orderpriority', 'o_orderstatus')")
      finally s.catalog.dropTempView(v)
    },
    "dq_psi_sql" -> { (s, dir) =>
      // The numeric PSI gate through its SQL face: graft_psi_drift
      // returns the exact plan DataQuality.psiDrift builds (same
      // scenario and oracle as dq_psi_drift).
      graft.GraftExtensions.register(s)
      val orders = Tables(s, dir, "orders")
      val refV = freshViewName("graft_dq_ref_v")
      val curV = freshViewName("graft_dq_cur_v")
      orders.filter(pmod(col("o_orderkey"), lit(3L)) =!= 0)
        .createOrReplaceTempView(refV)
      orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0)
        .createOrReplaceTempView(curV)
      try s.sql(s"""SELECT * FROM graft_psi_drift('$refV',
        '$curV', 'o_totalprice', 10)""")
      finally { s.catalog.dropTempView(refV); s.catalog.dropTempView(curV) }
    },
    "dq_ks_sql" -> { (s, dir) =>
      // Exact KS drift through its SQL face (same range-partitioned
      // CDF plan, same oracle as dq_ks_drift).
      graft.GraftExtensions.register(s)
      val orders = Tables(s, dir, "orders")
      val refV = freshViewName("graft_dq_ref_v")
      val curV = freshViewName("graft_dq_cur_v")
      orders.filter(pmod(col("o_orderkey"), lit(3L)) =!= 0)
        .createOrReplaceTempView(refV)
      orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0)
        .createOrReplaceTempView(curV)
      try s.sql(s"""SELECT * FROM graft_ks_drift('$refV',
        '$curV', 'o_totalprice')""")
      finally { s.catalog.dropTempView(refV); s.catalog.dropTempView(curV) }
    },
    "dq_w1_sql" -> { (s, dir) =>
      // Exact W1 drift through its SQL face (same range-partitioned
      // cumulative plan, same oracle as dq_w1_drift).
      graft.GraftExtensions.register(s)
      val orders = Tables(s, dir, "orders")
      val refV = freshViewName("graft_w1_ref_v")
      val curV = freshViewName("graft_w1_cur_v")
      orders.filter(pmod(col("o_orderkey"), lit(3L)) =!= 0)
        .createOrReplaceTempView(refV)
      orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0)
        .createOrReplaceTempView(curV)
      try s.sql(s"""SELECT * FROM graft_w1_drift('$refV',
        '$curV', 'o_totalprice', 100)""")
      finally { s.catalog.dropTempView(refV); s.catalog.dropTempView(curV) }
    },
    "dq_roc_auc" -> { (s, dir) =>
      // Exact rank-based ROC-AUC (Mann-Whitney with tie handling, no
      // float): does order value "score" finished status? Range-
      // partitioned cumulative negatives with control-plane offsets.
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderstatus").isNotNull)
        .withColumn("label", (col("o_orderstatus") === "F").cast("int"))
      graft.ops.DataQuality.rocAuc(orders,
        scoreCol = "o_totalprice", labelCol = "label")
    },
    "dq_roc_sql" -> { (s, dir) =>
      // The same exact-AUC plan through its SQL face (graft_roc_auc).
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_roc_v", Tables(s, dir, "orders")
          .filter(col("o_orderstatus").isNotNull)
          .withColumn("label", (col("o_orderstatus") === "F").cast("int"))) { v =>
        s.sql(s"SELECT * FROM graft_roc_auc('$v', 'o_totalprice', 'label')")
      }
    },
    "dq_chi2_drift" -> { (s, dir) =>
      // Chi-squared homogeneity drift on the categorical snapshot split
      // — PSI's significance-testable companion, quantized by EXACT
      // integer division (divmod in decimal(38,0), no float).
      val orders = Tables(s, dir, "orders")
      graft.ops.DataQuality.chi2Drift(
        ref = orders.filter(pmod(col("o_orderkey"), lit(3L)) =!= 0),
        cur = orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0),
        valueCol = "o_orderpriority")
    },
    "dq_chi2_sql" -> { (s, dir) =>
      // Exact chi-squared drift through its SQL face (same tagged-union
      // contingency plan, same oracle as dq_chi2_drift).
      graft.GraftExtensions.register(s)
      val orders = Tables(s, dir, "orders")
      val refV = freshViewName("graft_chi2_ref_v")
      val curV = freshViewName("graft_chi2_cur_v")
      orders.filter(pmod(col("o_orderkey"), lit(3L)) =!= 0)
        .createOrReplaceTempView(refV)
      orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0)
        .createOrReplaceTempView(curV)
      try s.sql(s"""SELECT * FROM graft_chi2_drift('$refV',
        '$curV', 'o_orderpriority')""")
      finally { s.catalog.dropTempView(refV); s.catalog.dropTempView(curV) }
    },
    "dq_benford" -> { (s, dir) =>
      // Benford first-digit conformance over cent-quantized order
      // totals: exact integer digit counts (digit read off the long's
      // decimal rendering — no float log in the extraction), micro-
      // quantized expected mass, signed gap.
      graft.ops.DataQuality.benford(Tables(s, dir, "orders"),
        valueCol = "o_totalprice", scale = 100L)
    },
    "dq_fd_check" -> { (s, dir) =>
      // Declared-FD audit: is l_orderkey -> l_suppkey a function?
      // (No: multi-supplier orders surface as violations, one grouped
      // aggregation, output scales with violating keys.)
      graft.ops.DataQuality.fdViolations(Tables(s, dir, "lineitem"),
        determinant = Seq("l_orderkey"), dependent = "l_suppkey")
    },
    "dq_w1_incremental" -> { (s, dir) =>
      // Wasserstein-1 over the SAME persisted per-value count state
      // shape as dq_ks_incremental — one stored empirical CDF per day
      // serves the whole exact-integer drift family (quantization to
      // cents happens at read time; counts colliding on a unit re-sum,
      // identical to quantizing the raw rows). Oracle = full recompute.
      val orders = Tables(s, dir, "orders")
      val dayCol = pmod(col("o_orderkey"), lit(5L))
      val stateDir = scratchDir("graft_w1_state_").toString
      (0 until 5).foreach { d =>
        graft.etl.Sinks.parquetDir(
          graft.ops.DataQuality.valueCountState(
            orders.filter(dayCol === d), "o_totalprice"),
          s"$stateDir/day=$d")
      }
      graft.ops.DataQuality.w1FromState(
        s.read.parquet(s"$stateDir/day=0", s"$stateDir/day=1"),
        s.read.parquet(s"$stateDir/day=2", s"$stateDir/day=3", s"$stateDir/day=4"),
        scale = 100L)
    },
    "dedup_canonical" -> { (s, dir) =>
      // The keep decision: transitive ngram-Jaccard clusters -> one
      // canonical representative per cluster (longest doc, ties to the
      // lowest id — a pure function of the data). Oracle recomputes the
      // closure with the recursive CTE and the same deterministic pick.
      val docs = Tables(s, dir, "documents")
      graft.ext.Dedup.canonicalPerCluster(docs,
        Dedup.components(Dedup.ngramJaccard(docs, threshold = 0.8)))
    },
    "er_survivorship" -> { (s, dir) =>
      // Golden-record construction over the same transitive clusters:
      // field-wise survivorship — text from the longest member (ties to
      // highest id, the FieldMaxBy total order), source from the
      // first-seen member (lowest doc_id), n_chars as the plain max —
      // one grouped aggregation, each pick a pure function of the data.
      import graft.ext.Dedup.SurviveRule._
      val docs = Tables(s, dir, "documents")
      graft.ext.Dedup.survivorship(docs,
        Dedup.components(Dedup.ngramJaccard(docs, threshold = 0.8)),
        Seq("text" -> FieldMaxBy("n_chars"), "source" -> FieldMinBy("doc_id"),
          "n_chars" -> ColMax))
    },
    "dq_calibration" -> { (s, dir) =>
      // ROC-AUC's calibration companion: does the score's MAGNITUDE
      // mean what it claims? Equal-width reliability bins with exact
      // integer positive rates (one grouped count; bins-sized output).
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderstatus").isNotNull)
        .withColumn("label", (col("o_orderstatus") === "F").cast("int"))
      graft.ops.DataQuality.calibration(orders,
        scoreCol = "o_totalprice", labelCol = "label", bins = 10)
    },
    "text_zipf" -> { (s, dir) =>
      // Zipf rank-frequency law fit per language: ln(freq) ~ ln(rank)
      // OLS over the top-100 terms (slope ≈ −1 for natural text) —
      // tokenization shared with vocab stats, exact decimal power sums
      // via the grouped-OLS core, micro-quantized outputs. The rank
      // window runs over the per-lang VOCABULARY frame (aggregate-
      // sized), never the token stream.
      val tf = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("lang"),
          explode(graft.ext.TextAnalysis.tokens(lower(col("text")))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("cnt").desc, col("term"))
      val ranked = tf.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 100)
        .select(col("lang"), log(col("rank").cast("double")).as("lnr"),
          log(col("cnt").cast("double")).as("lnf"))
      graft.ops.Relational.groupedOls(ranked, "lang", "lnr", "lnf")
        .select(col("lang"), col("n"),
          round(col("slope") * 1e6).cast("long").as("slope_micro"),
          round(col("intercept") * 1e6).cast("long").as("intercept_micro"),
          round(col("r") * 1e6).cast("long").as("r_micro"))
    },
    "dq_entropy" -> { (s, dir) =>
      // Category-balance monitor: per-category Shannon entropy terms,
      // nano-quantized per cell from exact integer counts (sum = the
      // column's entropy; /ln(k) = Pielou evenness).
      graft.ops.DataQuality.categoryEntropy(
        Tables(s, dir, "orders"), "o_orderpriority")
    },
    "dq_ks_incremental" -> { (s, dir) =>
      // Exact KS over PERSISTED per-value count state — the
      // exact-integer twin of dq_psi_incremental: day-level empirical
      // CDF states (counts are the monoid; nothing to pin at day 0)
      // are written once through the parquet sink, then drift between
      // day-groups is computed from the stored states only — bit-
      // identical to the full recompute, which is the oracle.
      val orders = Tables(s, dir, "orders")
      val dayCol = pmod(col("o_orderkey"), lit(5L))
      val stateDir = scratchDir("graft_ks_state_").toString
      (0 until 5).foreach { d =>
        graft.etl.Sinks.parquetDir(
          graft.ops.DataQuality.valueCountState(
            orders.filter(dayCol === d), "o_totalprice"),
          s"$stateDir/day=$d")
      }
      graft.ops.DataQuality.ksFromState(
        s.read.parquet(s"$stateDir/day=0", s"$stateDir/day=1"),
        s.read.parquet(s"$stateDir/day=2", s"$stateDir/day=3", s"$stateDir/day=4"))
    },
    "text_readability" -> { (s, dir) =>
      // Flesch reading-ease as a curation quality signal: regex-count
      // arithmetic chosen to evaluate identically under Java regex and
      // RE2, both ratio terms exact integer floor divisions.
      graft.ext.TextAnalysis.readability(Tables(s, dir, "documents"))
        .select("doc_id", "n_words", "n_sentences", "n_syllables",
          "flesch_micro")
    },
    "q_not_in_null" -> { (s, dir) =>
      // ANSI null-aware NOT IN semantics pin: a nullable subquery list
      // poisons NOT IN (never TRUE) while IN still matches — Spark's
      // NullAwareAntiJoin must reproduce DuckDB's ANSI answer exactly.
      val oV = freshViewName("graft_nin_orders_v")
      val cV = freshViewName("graft_nin_cust_v")
      Tables(s, dir, "orders").createOrReplaceTempView(oV)
      Tables(s, dir, "customer").createOrReplaceTempView(cV)
      try s.sql(s"""SELECT
        (SELECT COUNT(*) FROM $oV WHERE o_custkey IN
          (SELECT CASE WHEN c_custkey % 7 = 0 THEN c_custkey END FROM $cV))
          AS n_in_nullable,
        (SELECT COUNT(*) FROM $oV WHERE o_custkey NOT IN
          (SELECT CASE WHEN c_custkey % 7 = 0 THEN c_custkey END FROM $cV))
          AS n_not_in_nullable,
        (SELECT COUNT(*) FROM $oV WHERE o_custkey NOT IN
          (SELECT c_custkey FROM $cV WHERE c_custkey % 7 = 0))
          AS n_not_in_clean""")
      finally { s.catalog.dropTempView(oV); s.catalog.dropTempView(cV) }
    },
    "text_vocab_stats" -> { (s, dir) =>
      // Per-language corpus vocabulary audit: token volume, type and
      // hapax counts, exact-integer type-token ratio — shuffle rows
      // scale with the vocabulary, never the token stream.
      graft.ext.TextAnalysis.vocabStats(
        Tables(s, dir, "documents"), groupCol = "lang")
    },
    "q_skyline" -> { (s, dir) =>
      // 2D Pareto frontier (biggest AND most expensive parts) via the
      // sorted running-max identity — range-partitioned prefix maxima
      // with control-plane floors, never the O(n^2) NOT-EXISTS join.
      graft.ops.Relational.skylineMax2D(
        Tables(s, dir, "part"), "p_size", "p_retailprice")
    },
    "dq_entropy_sql" -> { (s, dir) =>
      // The entropy monitor through its SQL face (same one-aggregation
      // plan, same oracle as dq_entropy).
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_ent_v", Tables(s, dir, "orders")) { v =>
        s.sql(s"SELECT * FROM graft_entropy('$v', 'o_orderpriority')")
      }
    },
    "dq_benford_sql" -> { (s, dir) =>
      // Benford through its SQL face (same digit-spine plan, same
      // oracle as dq_benford).
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_ben_v", Tables(s, dir, "orders")) { v =>
        s.sql(s"SELECT * FROM graft_benford('$v', 'o_totalprice', 100)")
      }
    },
    "dq_fd_sql" -> { (s, dir) =>
      // The FD audit through its SQL face (same grouped-distinct plan,
      // same oracle as dq_fd_check).
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_fd_v", Tables(s, dir, "lineitem")) { v =>
        s.sql(s"SELECT * FROM graft_fd_check('$v', 'l_orderkey', 'l_suppkey')")
      }
    },
    "q_gini_sql" -> { (s, dir) =>
      // Per-nation spend Gini through its SQL face (same window+agg
      // plan, same oracle as q_gini).
      graft.GraftExtensions.register(s)
      val spend = Tables(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("spend"))
      withFreshView(s, "graft_gini_v", Tables(s, dir, "customer")
          .join(spend, col("c_custkey") === col("o_custkey"))
          .select(col("c_nationkey").as("nationkey"),
            col("spend").cast("double").as("spend"))) { v =>
        s.sql(s"SELECT * FROM graft_gini('$v', 'nationkey', 'spend', 100)")
      }
    },
    "dq_mi_sql" -> { (s, dir) =>
      // Mutual information through its SQL face (same contingency plan,
      // same oracle as dq_mutual_info).
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_mi_v", Tables(s, dir, "orders")) { v =>
        s.sql(s"SELECT * FROM graft_mutual_info('$v', 'o_orderpriority', 'o_orderstatus')")
      }
    },
    "text_bm25_sql" -> { (s, dir) =>
      // BM25 retrieval through its SQL face (same postings plan, same
      // oracle as text_bm25).
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_bm25_v", Tables(s, dir, "documents")) { v =>
        s.sql(s"SELECT * FROM graft_bm25('$v', 10, 20)")
      }
    },
    "dq_kappa_sql" -> { (s, dir) =>
      // Cohen's kappa through its SQL face (same contingency plan,
      // same oracle as dq_cohens_kappa).
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_kappa_v", Tables(s, dir, "orders").select(
          col("o_orderstatus").as("la"),
          when(pmod(col("o_orderkey"), lit(7L)) === 0,
            when(col("o_orderstatus") === "F", lit("O")).otherwise(lit("F")))
            .otherwise(col("o_orderstatus")).as("lb"))) { v =>
        s.sql(s"SELECT * FROM graft_cohens_kappa('$v', 'la', 'lb')")
      }
    },
    "dq_fleiss_sql" -> { (s, dir) =>
      // Fleiss' kappa through its SQL face (same panel scenario, same
      // oracle as dq_fleiss_kappa).
      graft.GraftExtensions.register(s)
      val o = Tables(s, dir, "orders").filter(col("o_orderstatus").isNotNull)
      def flip(m: Long) = when(pmod(col("o_orderkey"), lit(m)) === 0,
        when(col("o_orderstatus") === "F", lit("O")).otherwise(lit("F")))
        .otherwise(col("o_orderstatus"))
      withFreshView(s, "graft_fleiss_v",
          o.select(col("o_orderkey").as("item"), col("o_orderstatus").as("label"))
            .unionByName(o.select(col("o_orderkey").as("item"), flip(7L).as("label")))
            .unionByName(o.select(col("o_orderkey").as("item"), flip(11L).as("label")))) { v =>
        s.sql(s"SELECT * FROM graft_fleiss_kappa('$v', 'item', 'label')")
      }
    },
    "dq_volume_anomaly" -> { (s, dir) =>
      // Ingestion control chart: hourly event volumes flagged against
      // the trailing-7-hour baseline with the integer-exact squared-z
      // rule — no sqrt, no float, hash-identical across engines.
      val ev = Tables(s, dir, "events")
      val withHr = ev.withColumn("hr",
        call_function("div", graft.ext.Events.tsSec(ev), lit(3600L)))
      graft.ops.DataQuality.volumeAnomalies(withHr, "hr", trailingN = 7)
    },
    "events_survival" -> { (s, dir) =>
      // Kaplan-Meier time-to-purchase curve: duration = first purchase
      // minus first event per user, never-buyers right-censored at the
      // corpus max. Exact risk sets, per-day nano-quantized ln hazard
      // terms, one terminal micro-quantized exp — engine-exact curve
      // with REAL event/censor mix at both SFs.
      graft.ext.Events.conversionSurvival(
        Tables(s, dir, "events").withColumn("event_type",
          when(col("event_type") === "purchase" && col("value") > 100.0,
            lit("big_purchase")).otherwise(col("event_type"))),
        "big_purchase")
    },
    "events_funnel" -> { (s, dir) =>
      // Ordered view -> click -> purchase funnel per user: first-reach
      // epoch second of each step (strictly-after ordering), pure window
      // aggregation over one user_id exchange.
      Events.funnel(Tables(s, dir, "events"), Seq("view", "click", "purchase"))
    },
    "events_attribution" -> { (s, dir) =>
      // First/last-touch attribution: per purchase, the user's
      // click/view touches inside a 2h lookback; first and last picked
      // by min_by/max_by over the total (sec, event_id) key — exact
      // integers and strings end to end, ties deterministic.
      Events.attribution(Tables(s, dir, "events"),
        conversionType = "purchase", touchTypes = Seq("click", "view"),
        lookbackSeconds = 7200L)
    },
    "events_attribution_multi" -> { (s, dir) =>
      // Multi-touch attribution: every click/view in the 2h lookback
      // credited under two exact-integer models — equal-split linear
      // and bucketed exponential decay (credit halves per whole 30-min
      // halflife before the purchase). No float in any weight.
      Events.attributionMultiTouch(Tables(s, dir, "events"),
        conversionType = "purchase", touchTypes = Seq("click", "view"),
        lookbackSeconds = 7200L, halflifeSeconds = 1800L)
    },
    "events_transitions" -> { (s, dir) =>
      // Markov next-event transition matrix: one lead() window pass over
      // the per-user ordering + one pair aggregate; p is a single
      // division of exact longs (engine-identical). Ordering is total
      // ((ts, event_id)), so the pairing is partitioning-independent.
      Events.transitions(Tables(s, dir, "events"))
    },
    "sketch_segment_overlap" -> { (s, dir) =>
      // Pairwise audience overlap via mergeable theta sketches: one
      // pass builds per-partition per-priority sketches of the customer
      // set, a sketch-sized merge + pair join reads counts and
      // intersections off the sketches. lgK=14 keeps every priority's
      // customer set (~1.3k at sf0.01) in exact mode, so the estimates
      // ARE the true set-algebra counts the oracle computes.
      graft.ops.Sketches.segmentOverlap(
        Tables(s, dir, "orders"), "o_orderpriority", "o_custkey", lgK = 15)
    },
    "sketch_overlap_sql" -> { (s, dir) =>
      // The theta overlap through its SQL face: graft_theta_overlap is
      // a registered TVF returning the same sketch-build + pair-matrix
      // plan as the Scala API — shared oracle with
      // sketch_segment_overlap. Per-invocation view name, dropped after
      // analysis (spark.sql binds views eagerly).
      graft.GraftExtensions.register(s)
      val v = s"graft_theta_v_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      Tables(s, dir, "orders").createOrReplaceTempView(v)
      try s.sql(
        s"SELECT * FROM graft_theta_overlap('$v', 'o_orderpriority', 'o_custkey', 15)")
      finally s.catalog.dropTempView(v)
    },
    "sketch_dau_mau" -> { (s, dir) =>
      // Sliding-window distinct stickiness off mergeable DAILY theta
      // sketches — the incremental-state alternative to
      // events_dau_mau's exact expansion, sharing its oracle: at this
      // scale every daily and 30-day-window distinct set is far below
      // 2^14, so the sketch rows ARE the exact rows.
      graft.ops.Sketches.dauMau(Tables(s, dir, "events"))
    },
    "sketch_group_quantiles" -> { (s, dir) =>
      // Mergeable KLL quantiles per event type: per-partition sketches,
      // keyed merge, INCLUSIVE quantile read. k=32768 exceeds every
      // group's row count at oracle scale (~2k at sf0.01, ~20k at
      // sf0.1), so each quantile is exactly the ceil(p*n)-th order
      // statistic the oracle replays.
      graft.ops.Sketches.groupQuantiles(
        Tables(s, dir, "events"), "event_type", "value",
        probs = Seq(0.1, 0.5, 0.9, 1.0), k = 32768)
    },
    "sketch_freq_items" -> { (s, dir) =>
      // Mergeable frequent-items state per user bucket: per-partition
      // Misra-Gries-family sketches, keyed merge, NO_FALSE_NEGATIVES
      // read. The 5-type domain sits far inside the 64-counter map, so
      // the sketch never purges and every estimate IS the exact
      // contingency count the oracle computes; estimation-mode bounds
      // are battery-pinned in SketchesSpec.
      val st = graft.ops.Sketches.freqSketches(
        Tables(s, dir, "events")
          .select(pmod(col("user_id"), lit(10L)).as("bucket"), col("event_type")),
        "bucket", "event_type", maxMapSize = 64)
      graft.ops.Sketches.frequentItems(st)
        .select(col("grp").as("bucket"), col("item").as("event_type"),
          col("est").as("n"))
    },
    "sketch_dau_mau_sql" -> { (s, dir) =>
      // Sliding DAU/MAU through its SQL face: graft_sketch_dau_mau is
      // a registered TVF returning the same daily-sketch + window-union
      // plan as the Scala API — shared oracle with sketch_dau_mau and
      // events_dau_mau. Per-invocation view name, dropped after
      // analysis (spark.sql binds views eagerly).
      graft.GraftExtensions.register(s)
      val v = s"graft_daumau_v_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      Tables(s, dir, "events").createOrReplaceTempView(v)
      try s.sql(s"SELECT * FROM graft_sketch_dau_mau('$v', 30, 14)")
      finally s.catalog.dropTempView(v)
    },
    "sketch_quantiles_sql" -> { (s, dir) =>
      // Per-group KLL quantiles through the SQL face — the same sketch
      // build + INCLUSIVE quantile read plan as sketch_group_quantiles,
      // sharing its oracle (k=32768 above every group's row count at
      // oracle scale, so each quantile is the exact order statistic).
      graft.GraftExtensions.register(s)
      val v = s"graft_kll_v_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      Tables(s, dir, "events").createOrReplaceTempView(v)
      try s.sql(
        s"SELECT * FROM graft_sketch_quantiles('$v', 'event_type', 'value', '0.1,0.5,0.9,1.0', 32768)")
      finally s.catalog.dropTempView(v)
    },
    "sketch_freq_items_sql" -> { (s, dir) =>
      // Frequent-items state through the SQL face: graft_sketch_freq_items
      // is a registered TVF returning the same per-partition sketch build
      // + keyed blob merge + NO_FALSE_NEGATIVES read plan as the Scala
      // API — shared oracle with sketch_freq_items (64-counter map over a
      // 5-type domain: never purges, estimates are exact counts).
      graft.GraftExtensions.register(s)
      val v = s"graft_freq_v_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      Tables(s, dir, "events")
        .select(pmod(col("user_id"), lit(10L)).as("bucket"), col("event_type"))
        .createOrReplaceTempView(v)
      try s.sql(s"SELECT * FROM graft_sketch_freq_items('$v', 'bucket', 'event_type', 64)")
        .select(col("grp").as("bucket"), col("item").as("event_type"),
          col("est").as("n"))
      finally s.catalog.dropTempView(v)
    },
    "sketch_incremental_state" -> { (s, dir) =>
      // The stored-state operational story end-to-end: day-N segment
      // sketches are built once and PERSISTED through the parquet sink;
      // day-N+1 re-READS that state from disk and merges it with a
      // sketch pass over the delta rows only — the merged frame's
      // lineage contains the state files and the delta scan, never the
      // history rows again. Set union is the monoid, so state + delta
      // hash-matches the oracle's full COUNT(DISTINCT) recompute; lgK
      // 15 keeps every segment in exact mode at oracle scale.
      val orders = Tables(s, dir, "orders")
      val history = orders.filter(col("o_orderkey") % 4 =!= 0)
      val delta = orders.filter(col("o_orderkey") % 4 === 0)
      val stateDir = scratchDir("graft_sketch_state_").toString
      graft.etl.Sinks.parquetDir(
        graft.ops.Sketches.segmentSketches(
          history, "o_orderpriority", "o_custkey", lgK = 15),
        stateDir)
      val stored = s.read.parquet(stateDir)
      val merged = graft.ops.Sketches.mergeSegmentSketches(15, stored,
        graft.ops.Sketches.segmentSketches(
          delta, "o_orderpriority", "o_custkey", lgK = 15))
      graft.ops.Sketches.estimateSegments(merged)
    },
    "etl_incr_distinct" -> { (s, dir) =>
      // Incremental distinct-count maintenance end-to-end: day-N
      // per-segment HLL state is built once and PERSISTED through the
      // parquet sink; day-N+1 re-reads it and merges a sketch pass over
      // the delta rows only — history rows never rescanned. The
      // estimate is approximate (lgK 14, RSE ~0.8%), so the row
      // contract is the published BAND, not the point value: the query
      // emits the exact distinct plus a within-band flag and the oracle
      // recomputes the exact count with TRUE — hash-equal iff every
      // segment's estimate lands inside ±5% (>3σ at this lgK, and the
      // sketch is a deterministic function of the data, so the check is
      // stable, not flaky).
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderpriority").isNotNull && col("o_custkey").isNotNull)
      val hist = orders.filter(col("o_orderkey") % 4 =!= 0)
      val delta = orders.filter(col("o_orderkey") % 4 === 0)
      val stateDir = scratchDir("graft_hll_state_").toString
      graft.etl.Sinks.parquetDir(
        graft.ops.IncrementalAgg.partialDistinct(
          hist, Seq("o_orderpriority"), "o_custkey", lgK = 14),
        stateDir)
      val merged = graft.ops.IncrementalAgg.mergeDistinct(
        s.read.parquet(stateDir),
        graft.ops.IncrementalAgg.partialDistinct(
          delta, Seq("o_orderpriority"), "o_custkey", lgK = 14))
      val est = graft.ops.IncrementalAgg.estimateDistinct(merged)
      val exact = orders.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      est.join(exact, Seq("o_orderpriority"))
        .select(col("o_orderpriority").as("segment"), col("n_exact"),
          (abs(col("n_distinct_est") - col("n_exact")) <=
            col("n_exact") * lit(0.05)).as("within_band"))
    },
    "etl_incr_agg" -> { (s, dir) =>
      // Incremental aggregate maintenance: history partial + delta
      // partial merged; the oracle recomputes the aggregate from ALL
      // rows from scratch — merge(agg(hist), agg(delta)) == agg(all)
      // exactly, per the monoid decomposition.
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderdate"))
      val splitTs = lit("1997-01-01").cast("timestamp")
      val hist = orders.filter(col("o_orderdate") < splitTs)
      val delta = orders.filter(col("o_orderdate") >= splitTs)
      val merged = graft.ops.IncrementalAgg.merge(
        graft.ops.IncrementalAgg.partial(hist, Seq("o_orderpriority"), "o_totalprice"),
        graft.ops.IncrementalAgg.partial(delta, Seq("o_orderpriority"), "o_totalprice"))
      merged.select(col("o_orderpriority"), col("n"),
        col("sum_v").cast("double").as("sum_v"), col("min_v"), col("max_v"))
    },
    "pack_sequences" -> { (s, dir) =>
      // Concat-and-cut sequence packing: docs in doc_id order within 8
      // shards, cut at 512-token boundaries — pure prefix-sum windows,
      // token counts shared with the text_stats expression pair.
      val docs = Tables(s, dir, "documents")
      val base = docs.select(col("doc_id"),
        pmod(col("doc_id"), lit(8L)).as("shard"),
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Curation.packSequences(base, shardCol = "shard", orderCol = "doc_id",
        tokenCol = "n_tokens", budget = 512L)
    },
    "sample_mix" -> { (s, dir) =>
      // Domain mixing by largest-remainder apportionment: 203 docs at
      // 40/20/15/15/10% across langs (203 chosen so two remainder seats
      // are actually contested, incl. an exact es/fr tie broken by name).
      Curation.mixQuota(Tables(s, dir, "documents"), groupCol = "lang",
        idCol = "doc_id", total = 203L,
        weights = Map("en" -> 0.4, "de" -> 0.2, "es" -> 0.15,
          "fr" -> 0.15, "zh" -> 0.1))
    },
    "sample_weighted" -> { (s, dir) =>
      // Deterministic weight-biased sampling: 3 docs per lang, weight =
      // text length + 1 (longer docs systematically likelier).
      Curation.weightedSample(Tables(s, dir, "documents"),
        groupCol = "lang", idCol = "doc_id",
        weight = length(col("text")) + lit(1), k = 3)
    },
    "sample_negative" -> { (s, dir) =>
      // Negative sampling for recsys/contrastive training: per
      // purchasing user, 5 deterministic hash-draws over a 500-item
      // space, minus collisions with true interactions (propose-and-
      // drop, one anti-join). The mod-P hash is plain integer
      // arithmetic, so the oracle redraws the identical negatives.
      val pos = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), pmod(col("event_id"), lit(500L)).as("item"))
      graft.ext.Curation.negativeSample(pos, "user_id", "item",
        k = 5, itemSpace = 500L)
    },
    "sample_per_group" -> { (s, dir) =>
      // Deterministic per-group sample: first 3 docs per lang in
      // hash-shuffled order (stable "random" sample with a tie-break).
      // Mod-before-multiply keeps the product under 2^63 for any doc_id
      // ((1e9-1) * 654435747 < 2^63), where the raw multiply would wrap.
      val h = pmod(pmod(col("doc_id"), lit(1000000007L)) * lit(654435747L), lit(1000000007L))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(h.asc, col("doc_id").asc)
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    },

    // --- [EXT] multimodal columns (documents bytes as payload) ----------
    "multimodal_features" -> { (s, dir) =>
      // Binary-column plumbing over real fixtures, ORACLE-CHECKED:
      // document text bytes as the opaque payload, per-partition feature
      // extraction via mapPartitions (the stub codec runs for every row —
      // the map stage is opaque to column pruning), then a projection of
      // DuckDB-expressible facts: byte length, payload md5, a length
      // bucket, and the decoded feature-vector arity. The fakeDecode
      // VALUES stay pinned by MultimodalSpec (not SQL-expressible).
      val payload = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("content"))
        .filter(col("content").isNotNull)
      graft.ext.Multimodal.withContentFeatures(payload, "content", dim = 8)
        .select(col("doc_id"),
          length(col("content")).as("n_bytes"),
          md5(col("content")).as("payload_md5"),
          floor(length(col("content")) / 256).as("len_bucket"),
          size(col("content_features")).as("n_features"))
    },

    "multimodal_dhash" -> { (s, dir) =>
      // Perceptual image hashing through the REAL codec pipeline
      // (encodeBmp24 → decodeBmpPixels → dHash); the oracle recomputes
      // the 64 gradient bits from the doc_id pixel arithmetic.
      dhashCorpus(s, dir)
    },
    "multimodal_dhash_pairs" -> { (s, dir) =>
      // Near-duplicate images: pigeonhole-exact 4-chunk banding over
      // the dHash words + exact Hamming verify — group-mate images
      // (one-pixel edits) land at dist <= 2; oracle = all-pairs
      // bit_count over the same predicted hashes.
      graft.ext.Dedup.dhashPairs(dhashCorpus(s, dir), maxDist = 3)
    },
    "multimodal_decode" -> { (s, dir) =>
      // REAL-codec round trip, oracle-checked: a 2x1 BMP, a 4-frame WAV,
      // a 2x1 PNG (deflate-compressed, scanline filter rotating
      // through all five PNG filter types by doc_id) AND an 8x16
      // baseline JPEG (full DCT/quant/Huffman pipeline) are synthesized
      // per doc from doc_id arithmetic, decoded with the actual
      // decoders (MediaCodecs/JpegCodec), and DuckDB predicts every
      // decoded stat from the same arithmetic without ever seeing a
      // payload. Pixel means use 2 pixels so the mean is an exact
      // half-integer; the square wave's RMS is exactly amp/32768 —
      // bit-equal doubles on both sides. The PNG means must equal the
      // BMP means for every row, which pins inflate + every unfilter
      // path against an independent engine.
      import s.implicits._
      val rows = Tables(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            def m(k: Long, mod: Long) = (((id % mod) * k) % mod).toInt
            val rgb = Array[Byte](
              m(1, 256).toByte, m(7, 256).toByte, m(13, 256).toByte,
              m(3, 256).toByte, m(11, 256).toByte, m(17, 256).toByte)
            val img = graft.ext.MediaCodecs.encodeBmp24(2, 1, rgb)
            val png = graft.ext.MediaCodecs.encodePng(2, 1, rgb,
              filterType = (id % 5).toInt)
            // JPEG: 8x16 gray, two constant 8x8 blocks, unit quant — the
            // provably-exact family (DC-only integral coefficients); the
            // decoded mean is (g1+g2)/2, a sum of ints over a power-of-two
            // divisor, bit-equal in DuckDB. Exercises DC prediction
            // across MCUs, EOB coding, and byte stuffing per row.
            val g1 = m(19, 256); val g2 = m(23, 256)
            val jpgBytes = graft.ext.JpegCodec.encodeJpegGray(8, 16,
              Array.fill(64)(g1.toByte) ++ Array.fill(64)(g2.toByte),
              graft.ext.JpegCodec.UnitQuant)
            val amp = (m(1, 1000) + 1).toShort
            val snd = graft.ext.MediaCodecs.encodeWav16(8000 + m(1, 100), 1,
              Array[Short](amp, (-amp).toShort, amp, (-amp).toShort))
            val im = graft.ext.MediaCodecs.decodeBmp(img).get
            val pm = graft.ext.MediaCodecs.decodePng(png).get
            val jm = graft.ext.JpegCodec.decodeJpeg(jpgBytes).get
            val au = graft.ext.MediaCodecs.decodeWav(snd).get
            (id, im.width, im.height, im.meanR, im.meanG, im.meanB,
              pm.width, pm.height, pm.meanR, pm.meanG, pm.meanB,
              jm.width, jm.height, jm.meanR,
              au.sampleRate, au.nFrames, au.rms, au.zeroCrossRate)
          }
        }
        .toDF("doc_id", "width", "height", "mean_r", "mean_g", "mean_b",
          "png_width", "png_height", "png_mean_r", "png_mean_g", "png_mean_b",
          "jpg_width", "jpg_height", "jpg_mean",
          "sample_rate", "n_frames", "rms", "zcr")
      rows
    },

    "multimodal_video" -> { (s, dir) =>
      // Video modality end-to-end, oracle-checked: a 4-frame MJPEG AVI
      // (from-scratch RIFF container) is synthesized per doc — each
      // frame an 8x8 constant-gray baseline JPEG from the provably-
      // exact family — then FRAME-SAMPLED at stride 2 on container
      // offsets (unsampled frames are never JPEG-decoded) and the
      // sampled frames decoded with the real JpegCodec. DuckDB
      // predicts every decoded mean from the same doc_id arithmetic
      // without ever seeing a payload.
      import s.implicits._
      Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            def m(k: Long) = (((id % 256) * k) % 256).toInt
            val frames = Seq(29L, 31L, 37L, 41L).map(k =>
              graft.ext.JpegCodec.encodeJpegGray(8, 8,
                Array.fill(64)(m(k).toByte), graft.ext.JpegCodec.UnitQuant))
            val avi = graft.ext.AviCodec.encodeAviMjpeg(8, 8, 40000, frames)
            val (meta, sampled) =
              graft.ext.AviCodec.sampleFrames(avi, every = 2).get
            val means = sampled.map { case (_, f) =>
              graft.ext.JpegCodec.decodeJpeg(f).get.meanR }
            (id, meta.width, meta.height, meta.usPerFrame, meta.nFrames,
              sampled.size, means(0), means(1))
          }
        }.toDF("doc_id", "width", "height", "us_per_frame", "n_frames",
          "n_sampled", "mean_f0", "mean_f2")
    },
    "multimodal_audio" -> { (s, dir) =>
      // Audio feature extraction through the REAL WAV pipeline: per doc
      // a PCM payload is synthesized from doc_id arithmetic (4–8
      // samples, values ((id·(i+3)) mod 2001) − 1000), encoded with
      // encodeWav16, decoded back with decodeWavPcm, and the signal
      // stats (energy, level, peak, zero crossings, near-silence) are
      // computed DISTRIBUTED over the samples array by codegen'd
      // higher-order functions — DuckDB predicts every stat from the
      // same arithmetic without ever seeing a payload, so the whole
      // encode→decode→extract path is oracle-pinned.
      import s.implicits._
      val pcm = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (4 + id % 5).toInt
            val samples = Array.tabulate(n)(i =>
              (((id * (i + 3)) % 2001) - 1000).toShort)
            val wav = graft.ext.MediaCodecs.encodeWav16(8000, 1, samples)
            val out = graft.ext.MediaCodecs.decodeWavPcm(wav).get
            (id, out.samples.map(_.toInt).toSeq)
          }
        }.toDF("doc_id", "samples")
      graft.ext.Multimodal.audioFeatures(pcm, "samples")
        .select(col("doc_id"), col("n_samples"), col("energy"),
          col("sum_abs"), col("peak"), col("zero_crossings"),
          col("silence_n"))
    },

    // --- [EXT] similarity search (embeddings) ---------------------------
    "sim_topk_bruteforce" -> { (s, dir) =>
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 10)
    },
    "sim_hard_negatives" -> { (s, dir) =>
      // Contrastive hard negatives: top-5 nearest cross-label vectors
      // per query — exclusion before the cut, same single-corpus-scan
      // plan as the brute-force search.
      val emb = Tables(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 20), k = 5)
    },
    "sim_topk_lsh" -> { (s, dir) => // hash-seeded buckets: rows-only check
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 20), k = 10)
    },
    "sim_topk_lsh_exact" -> { (s, dir) =>
      // exhaustive probing (every one of the 2^planes buckets) makes
      // SRP-LSH provably exact: the signature/bucket-join/re-rank
      // machinery must reproduce brute-force top-k bit-for-bit — the
      // approximation in sim_topk_lsh is ONLY probe selection, and this
      // query pins everything else against the SQL oracle (the same
      // trick sim_topk_ivf_exact plays on the IVF path).
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 20), k = 10,
        planes = 6, probeAll = true)
    },
    "sim_topk_ivf_exact" -> { (s, dir) =>
      // exhaustive probing (nProbe = nCells) makes IVF provably exact:
      // the quantizer/assignment/candidate-union/re-rank machinery must
      // reproduce brute-force top-k bit-for-bit — the approximation in
      // sim_topk_ivf is ONLY probe selection, and this query pins it
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), k = 10,
        nCells = 8, nProbe = 8)
    },
    "sim_topk_ivf" -> { (s, dir) => // trained quantizer: rows-only check
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20), k = 10)
    },
    "sim_topk_pq" -> { (s, dir) => // trained quantizer: rows-only check
      // Product quantization with asymmetric distance + exact top-50
      // refinement (IVFADC+R): the corpus scans as 8 small codes per
      // row instead of 64 floats — the embedding-store compression
      // path. Recall pinned by the seeded battery in
      // SimilarityRecallSpec (refined = 1.0 on all three corpora).
      val emb = Tables(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 20), k = 10,
        m = 8, codebookSize = 16, refine = 50)
    },
    "sim_topk_pq_exact" -> { (s, dir) =>
      // refine window = ENTIRE corpus (refine = Int.MaxValue, so the
      // ADC ranking prunes nothing): the encode/ADC/exact-refine
      // machinery must reproduce brute-force top-k bit-for-bit — the
      // approximation in sim_topk_pq is ONLY the bounded refine
      // window, and this query pins everything else (the
      // sim_topk_lsh_exact trick applied to PQ)
      val emb = Tables(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 20), k = 10,
        m = 8, codebookSize = 16, refine = Int.MaxValue)
    },
    "sim_topk_ivfpq_exact" -> { (s, dir) =>
      // BOTH approximation levers disabled at once: nProbe = nCells
      // (exhaustive coarse probing) AND refine = corpus — the composed
      // IVF∘PQ assignment/probe/encode/ADC/refine plan must equal
      // brute force exactly
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20), k = 10,
        nCells = 8, nProbe = 8, m = 8, codebookSize = 16,
        refine = Int.MaxValue)
    },
    "sim_topk_ivfpq" -> { (s, dir) => // trained quantizers: rows-only check
      // IVF∘PQ composed (IVFADC shape): the coarse quantizer restricts
      // each query to its nProbe cells AND candidates scan as 8-int PQ
      // codes — candidate count and candidate width cut in one plan.
      // Recall pinned >= 0.9 by the seeded battery in
      // SimilarityRecallSpec; both halves are separately pinned
      // (sim_topk_ivf_exact oracle-equal to brute force, sim_topk_pq
      // refine battery), so this row exercises only their composition.
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20), k = 10,
        nProbe = 4, m = 8, codebookSize = 16, refine = 50)
    },
    "sim_mmr_rerank_exact" -> { (s, dir) =>
      // Small-k exact face for the MMR greedy: k=5 picks from the exact
      // top-8 candidates per query, unrolled as 5 chained CTE steps in
      // the oracle (the kcore/LPA unroll discipline) — each step
      // replays argmax of λ·rel − (1−λ)·max-sim-to-selected with the
      // (mmr desc, rel desc, id asc) tie order in plain SQL. This pins
      // the greedy selection machinery itself against DuckDB;
      // sim_mmr_rerank keeps the production k/fetch as a rows-only row
      // with the differential battery.
      val emb = Tables(s, dir, "embeddings")
      Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 20),
        k = 5, fetch = 8, lambdaMicro = 700000L)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    },
    "sim_mmr_rerank" -> { (s, dir) => // greedy rank: rows-only check
      // MMR-diversified top-10 from the exact top-50 candidates per
      // query (lambda = 0.7): the RAG/dedup re-rank that trades
      // relevance against redundancy. Deterministic micro-int greedy,
      // differential-pinned in SimilarityRerankSpec (greedy selection
      // is not SQL-expressible, so this is a rows-only driver row).
      val emb = Tables(s, dir, "embeddings")
      Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 20),
        k = 10, fetch = 50, lambdaMicro = 700000L)
    },

    // --- [EXT] event analytics (events) ---------------------------------
    "events_tumbling" -> { (s, dir) =>
      Events.tumbling(Tables(s, dir, "events"))
        .withColumn("sum_value", col("sum_value").cast("double"))
    },
    "events_sessionize" -> { (s, dir) =>
      Events.sessionize(Tables(s, dir, "events"))
        .withColumn("session_seq", col("session_seq").cast("long"))
        .withColumn("sum_value", col("sum_value").cast("double"))
    },
    "events_user_running" -> { (s, dir) =>
      Events.userRunning(Tables(s, dir, "events"))
        .withColumn("running_value", col("running_value").cast("double"))
    },

    // --- [EXT] Structured Streaming, driven end-to-end ------------------
    "stream_tumbling" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // The events fixture replayed through the Structured Streaming file
        // source: readStream → incremental epoch-tumbling aggregation →
        // memory sink (complete mode, so every window is emitted when the
        // finite replay drains). The returned frame is the materialized
        // sink table — proving the streaming path end-to-end against the
        // same DuckDB oracle shape as the batch query. DECIMAL state makes
        // microbatch-incremental sums equal a single batch pass exactly.
        // the file stream source requires a DIRECTORY base path; the glob
        // filter narrows the listing to the events fixture inside it
        val batchSchema = Tables(s, dir, "events").schema
        val stream = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val agg = graft.streaming.StreamingOps.tumblingEpoch(stream)
        val name = s"graft_stream_tumbling_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(agg, name,
          org.apache.spark.sql.streaming.OutputMode.Complete())
        s.table(name).withColumn("sum_value", col("sum_value").cast("double"))
      }
    },
    "stream_hopping" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Hopping windows through the streaming engine (1h window, 15m
        // slide): drained complete-mode replay equals the batch
        // explode(sequence) expansion — shared oracle with events_hopping.
        val batchSchema = Tables(s, dir, "events").schema
        val stream = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .withColumn("ts", tsSecondTrunc(batchSchema))
        val agg = graft.streaming.StreamingOps.hopping(stream)
        val name = s"graft_stream_hopping_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(agg, name,
          org.apache.spark.sql.streaming.OutputMode.Complete())
        s.table(name).select(
          unix_timestamp(col("window_start")).as("window_start"),
          col("event_type"), col("n_events"),
          col("sum_value").cast("double").as("sum_value"))
      }
    },
    "stream_ohlc" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // OHLC bars through the streaming engine: min_by/max_by keep
        // one (value, order-key) pair of state per bar, so the drained
        // complete-mode replay is bit-identical to the batch rollup —
        // shared oracle with ts_ohlc.
        val batchSchema = Tables(s, dir, "events").schema
        val stream = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val agg = graft.streaming.StreamingOps.ohlcEpoch(stream)
        val name = s"graft_stream_ohlc_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(agg, name,
          org.apache.spark.sql.streaming.OutputMode.Complete())
        s.table(name)
      }
    },
    "stream_join" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Genuine two-stream watermarked interval join (click <- trailing
        // 4h views per user), drained through append mode. Inner
        // stream-stream joins emit eagerly on match, so the finite replay
        // equals the batch join row-for-row — which is the oracle.
        val batchSchema = Tables(s, dir, "events").schema
        def src() = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .withColumn("ts", tsSecondTrunc(batchSchema))
        val joined = graft.streaming.StreamingOps.intervalJoin(
          src().filter(col("event_type") === "click"),
          src().filter(col("event_type") === "view"),
          lookback = "4 hours")
          .select(col("l.event_id").as("click_id"), col("l.user_id").as("user_id"),
            unix_timestamp(col("l.ts")).as("click_sec"),
            col("r.event_id").as("view_id"), unix_timestamp(col("r.ts")).as("view_sec"))
        val name = s"graft_stream_join_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(joined, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        s.table(name)
      }
    },
    "stream_upsert_snapshot" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // foreachBatch upsert sink over the 3-file time-ordered replay:
        // each microbatch merges into a versioned keyed snapshot
        // (last-wins by (sec, event_id) within a batch; later batches
        // replace whole rows). Tiles are NTILE-by-(ts, event_id), so
        // cross-batch replacement and within-batch struct-max agree on
        // ONE global rule — argmax by (sec, event_id) per key — which
        // is the oracle. Exactly-once: versioned dirs + marker flip;
        // batch replays are skipped (pinned in StreamingOpsSpec).
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
          .select(col("user_id"), col("event_type"),
            unix_timestamp(col("ts")).as("sec"), col("event_id"), col("value"))
        val snapDir = scratchDir("graft_upsnap_").toString
        val ckptDir = scratchDir("graft_upckpt_").toString
        graft.streaming.StreamingOps.upsertSink(stream,
          keys = Seq("user_id", "event_type"), orderCol = "sec", snapDir, ckptDir)
        graft.streaming.StreamingOps.readSnapshot(s, snapDir)
      }
    },
    "stream_funnel" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Streaming funnel (flatMapGroupsWithState, EventTimeTimeout):
        // per-user first-reach seconds of view→click→purchase, one
        // fixed-size reach array per user; users emit their final row
        // when idle past gapSec and evict. The heartbeat file closes
        // the replay, so the drained output is the FULL batch funnel —
        // the events_funnel oracle, all users, reached ∈ [0, 3].
        val gapSec = 40L * 86400L
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val evRaw = Tables(s, dir, "events")
        val maxSec = evRaw.agg(max(unix_timestamp(tsSecondTrunc(evRaw.schema))))
          .head().getLong(0)
        appendHeartbeatFile(s, replayDir, schema, maxSec + gapSec + 100L, pos = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
          .withColumn("ts_sec", unix_timestamp(col("ts")))
        val out = graft.streaming.StreamingOps
          .funnelStream(stream, Seq("view", "click", "purchase"), gapSec).toDF()
        val name = s"graft_stream_funnel_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(out, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        s.table(name).select(
          Seq(col("user_id")) ++
            (1 to 3).map(i => when(element_at(col("reach"), i) >= 0L,
              element_at(col("reach"), i)).as(s"step_$i")) :+
            col("reached"): _*)
      }
    },
    "stream_dedup_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Near-dup-on-arrival off the persisted LSH index: 3 doc_id-
        // tiled microbatches; each checks new×old + new×new candidates
        // only and folds its signatures into the versioned index. A
        // pair emits exactly once — with its later document — so the
        // drained pairs are the FULL corpus near-dup set, the
        // dedup_minhash oracle verbatim.
        val (replayDir, schema) = docReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
        val stateDir = scratchDir("graft_dedup_idx_").toString
        val outDir = scratchDir("graft_dedup_out_").toString
        val ckpt = scratchDir("graft_dedup_ckpt_").toString
        graft.streaming.StreamingOps.dedupGate(stream, stateDir, outDir, ckpt,
          threshold = 0.8)
        s.read.parquet(s"$outDir/b*")
      }
    },
    "stream_span_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // C4 sentence-span dedup ON ARRIVAL: 3 doc_id-tiled
        // microbatches of the synthesized sentence fixture; each
        // arriving tile's documents report their span stats against
        // everything seen so far (prior tiles + the tile itself) and
        // fold their span hashes into the versioned index. A doc's
        // verdict freezes at arrival, so the oracle replays the
        // NTILE(3) cumulative dup test per tile.
        val (replayDir, schema) = docReplay(s, dir, parts = 3)
        val stream = sentenceSpanFixture(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(replayDir))
        val stateDir = scratchDir("graft_sspan_gate_state_").toString
        val outDir = scratchDir("graft_sspan_gate_out_").toString
        val ckpt = scratchDir("graft_sspan_gate_ckpt_").toString
        graft.streaming.StreamingOps.sentenceSpanGate(
          stream, stateDir, outDir, ckpt, n = 3)
        s.read.parquet(s"$outDir/b*")
      }
    },
    "stream_span_remove_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // C4 span REMOVAL on arrival: doc_id-tiled replay means
        // first-seen == global min (doc_id, pos), so the drained
        // cleaned corpus equals the one-shot removeDuplicateSpans
        // rewrite row-for-row — the batch operator's oracle verbatim.
        val (replayDir, schema) = docReplay(s, dir, parts = 3)
        val stream = sentenceSpanFixture(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(replayDir))
        val stateDir = scratchDir("graft_sprm_gate_state_").toString
        val outDir = scratchDir("graft_sprm_gate_out_").toString
        val ckpt = scratchDir("graft_sprm_gate_ckpt_").toString
        graft.streaming.StreamingOps.spanRemoveGate(
          stream, stateDir, outDir, ckpt, n = 3)
        s.read.parquet(s"$outDir/b*")
      }
    },
    "stream_decontam_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Continuous decontamination ON ARRIVAL: the fixed eval set's
        // n-gram index (bucket >= 90, 8-byte hashes — no benchmark
        // text) is persisted once; 3 doc_id-tiled microbatches of
        // training documents (bucket < 80) are each checked against it
        // and write their own contamination report. Train docs
        // partition across batches, so each (test, train) pair lives
        // wholly in its train doc's batch and the drained union IS the
        // batch contamination result (maxDf = 0) verbatim.
        val d = Tables(s, dir, "documents")
        val bucket = pmod(pmod(col("doc_id"), lit(100L)) * lit(61L), lit(100L))
        val idxDir = scratchDir("graft_decontam_idx_").toString
        graft.etl.Sinks.parquetDir(
          Curation.contaminationIndex(d.filter(bucket >= 90), n = 8), idxDir)
        val (replayDir, schema) = docReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
          .filter(bucket < 80)
        val outDir = scratchDir("graft_decontam_out_").toString
        val ckpt = scratchDir("graft_decontam_ckpt_").toString
        graft.streaming.StreamingOps.decontamGate(stream, idxDir, outDir, ckpt,
          n = 8)
        s.read.parquet(s"$outDir/b*")
      }
    },
    "stream_dhash_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Image near-dup ON ARRIVAL: the dHash corpus (hashed at ingest
        // through the real codec pipeline) replays in 3 doc_id tiles;
        // each microbatch checks new×old + new×new pigeonhole
        // candidates only and appends its 2×32-bit rows as an index
        // delta. A pair emits exactly once — with its later image — so
        // the drained union is the full multimodal_dhash_pairs set,
        // the same oracle.
        val (replayDir, schema) = frameReplay(dhashCorpus(s, dir), parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
        val stateDir = scratchDir("graft_dhash_idx_").toString
        val outDir = scratchDir("graft_dhash_out_").toString
        val ckpt = scratchDir("graft_dhash_ckpt_").toString
        graft.streaming.StreamingOps.dhashGate(stream, stateDir, outDir, ckpt,
          maxDist = 3)
        s.read.parquet(s"$outDir/b*")
      }
    },
    "stream_golden_records" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Incremental MDM: 3 doc_id-tiled microbatches fold their keyed
        // survivorship state into the versioned snapshot; because every
        // rule is associative over its persisted form, the final
        // snapshot IS the one-shot per-lang golden-record table the
        // oracle recomputes (longest text with the FieldMaxBy total
        // order, max length, member count).
        import graft.ext.Dedup.SurviveRule._
        val rules = Seq("text" -> FieldMaxBy("len"), "len" -> ColMax)
        val (replayDir, schema) = docReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
          .withColumn("len", length(col("text")))
        val stateDir = scratchDir("graft_golden_state_").toString
        val ckpt = scratchDir("graft_golden_ckpt_").toString
        graft.streaming.StreamingOps.survivorshipSink(stream, stateDir, ckpt,
          keyCol = "lang", rules)
        graft.streaming.StreamingOps.readGoldenRecords(s, stateDir, rules)
      }
    },
    "stream_ppl_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Prequential perplexity gate: 3 doc_id-tiled microbatches;
        // each batch is LM-scored under the model trained on all PRIOR
        // batches only, then folds its bigram/unigram counts into the
        // versioned state (exactly-once: per-batch output dirs +
        // marker flip). Batch 1 trains silently; the drained scores
        // are tiles 2 and 3 under their prefix models — exactly what
        // the oracle recomputes from the same NTILE(3) tiling.
        val (replayDir, schema) = docReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
        val stateDir = scratchDir("graft_lm_state_").toString
        val outDir = scratchDir("graft_lm_out_").toString
        val ckpt = scratchDir("graft_lm_ckpt_").toString
        graft.streaming.StreamingOps.lmGate(stream, stateDir, outDir, ckpt)
        s.read.parquet(s"$outDir/b*")
      }
    },
    "stream_classifier_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Prequential trained-classifier gate: 3 doc_id-tiled
        // microbatches; each batch is NB-scored under the classifier
        // trained (qualityFilters label bootstrap) on all PRIOR batches
        // only, then folds its token/doc class counts into the
        // versioned state. Batch 1 trains silently; drained scores are
        // tiles 2 and 3 under their prefix models — what the oracle
        // recomputes from the same NTILE(3) tiling.
        val (replayDir, schema) = docReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
        val stateDir = scratchDir("graft_nbcls_state_").toString
        val outDir = scratchDir("graft_nbcls_out_").toString
        val ckpt = scratchDir("graft_nbcls_ckpt_").toString
        graft.streaming.StreamingOps.classifierGate(stream, stateDir, outDir, ckpt)
        s.read.parquet(s"$outDir/b*")
      }
    },
    "etl_time_travel" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Snapshot time travel + retention over the upsert sink's
        // versioned snapshots: the stream_upsert_snapshot scenario
        // commits v0..v2 (one per replay tile), then readSnapshotAt(1)
        // serves the table AS OF the second batch, vacuumSnapshots
        // (keepLast = 2) deletes only v0, and the v1 read is re-served
        // AFTER the vacuum — committed version dirs are immutable, so
        // retention cannot disturb a retained historical read. Oracle =
        // last-wins upsert over the first TWO of the three NTILE-by-
        // (sec, event_id) tiles.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
          .select(col("user_id"), col("event_type"),
            unix_timestamp(col("ts")).as("sec"), col("event_id"), col("value"))
        val snapDir = scratchDir("graft_ttsnap_").toString
        val ckptDir = scratchDir("graft_ttckpt_").toString
        graft.streaming.StreamingOps.upsertSink(stream,
          keys = Seq("user_id", "event_type"), orderCol = "sec", snapDir, ckptDir)
        val committed = graft.streaming.StreamingOps.listSnapshotVersions(snapDir)
        require(committed == Seq(0L, 1L, 2L),
          s"expected versions 0..2 under $snapDir, got $committed")
        val removed = graft.streaming.StreamingOps.vacuumSnapshots(snapDir, keepLast = 2)
        require(removed == Seq(0L), s"vacuum(keepLast=2) must drop v0 only, got $removed")
        val retained = graft.streaming.StreamingOps.listSnapshotVersions(snapDir)
        require(retained == Seq(1L, 2L),
          s"retention must keep the newest two versions, got $retained")
        graft.streaming.StreamingOps.readSnapshotAt(s, snapDir, 1L)
      }
    },
    "etl_manifest_prune" -> { (s, dir) =>
      // Per-file min/max stats manifest + file pruning (the Iceberg /
      // Delta manifest primitive): orders staged as one parquet file
      // per order-year, statsManifest scans ONCE and aggregates
      // (file, n_rows, min/max o_orderdate), prunedFiles keeps the
      // files whose [min, max] date interval intersects the query
      // range — planning cost is (#files) rows, the data is never
      // re-read. Result = the pruned files as (year, n_rows), year
      // recovered from the staged file name; oracle recomputes the
      // qualifying year set from per-year min/max in DuckDB.
      val staged = stageOrdersByYear(s, dir)
      val manifest = graft.ops.Manifest.statsManifest(s, staged, Seq("o_orderdate"))
      val pruned = graft.ops.Manifest.prunedFiles(manifest, "o_orderdate",
        lit("1997-03-15").cast("timestamp"), lit("1998-06-15").cast("timestamp"))
      pruned.join(manifest, "file")
        .select(regexp_extract(col("file"), "orders_y(\\d+)", 1)
          .cast("int").as("year"), col("n_rows"))
    },
    "etl_manifest_prune_scan" -> { (s, dir) =>
      // The correctness half of manifest pruning: a scan restricted to
      // the pruned file set + the residual filter must return exactly
      // the rows of a full scan + filter (pruning is a superset by
      // construction; the filter closes the gap). Aggregated per
      // priority with cent-quantized sums (exact-integer discipline).
      val staged = stageOrdersByYear(s, dir)
      val lo = lit("1997-03-15").cast("timestamp")
      val hi = lit("1998-06-15").cast("timestamp")
      val manifest = graft.ops.Manifest.statsManifest(s, staged, Seq("o_orderdate"))
      val files = graft.ops.Manifest.prunedFiles(manifest, "o_orderdate", lo, hi)
        .collect().map(_.getString(0)).sorted // control-plane: #files rows
      require(files.nonEmpty, "pruning must retain at least one file for this range")
      s.read.parquet(files.toIndexedSeq: _*)
        .filter(col("o_orderdate").between(lo, hi))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    },
    "etl_zorder_prune_scan" -> { (s, dir) =>
      // Z-ORDER 2-D data skipping, oracle-checked end to end: orders
      // z-clustered on (o_custkey, order_day) into aligned Morton
      // tiles, a stats manifest built over BOTH columns, and a 2-D box
      // query pruned to the files whose rectangles intersect the box
      // on EACH dimension (file-set intersection — planning cost is
      // #files rows). Pruned scan + residual box filter == full scan +
      // filter (the etl_manifest_prune_scan discipline, now skipping
      // on both dimensions at once — a 1-D sort cannot; ZOrderSpec
      // pins the skipping rate itself).
      val orders = Tables(s, dir, "orders").withColumn("order_day",
        expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 86400"))
      val outDir = scratchDir("graft_zorder_").toString
      graft.ops.ZOrder.zOrderWrite(orders, "o_custkey", "order_day", outDir)
      val manifest = graft.ops.Manifest.statsManifest(s, outDir,
        Seq("o_custkey", "order_day")).cache()
      try {
        val (loK, hiK) = (100L, 600L)
        val loD = java.time.LocalDate.parse("1997-03-15").toEpochDay
        val hiD = java.time.LocalDate.parse("1998-06-15").toEpochDay
        val files = graft.ops.Manifest
          .prunedFiles(manifest, "o_custkey", lit(loK), lit(hiK))
          .join(graft.ops.Manifest
            .prunedFiles(manifest, "order_day", lit(loD), lit(hiD)), "file")
          .collect().map(_.getString(0)).sorted // control-plane: #files rows
        require(files.nonEmpty, "z-order pruning must retain at least one file")
        s.read.parquet(files.toIndexedSeq: _*)
          .filter(col("o_custkey").between(loK, hiK) &&
            col("order_day").between(loD, hiD))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      } finally manifest.unpersist()
    },
    "etl_bloom_prune_scan" -> { (s0, dir) =>
      // Per-file Bloom-index pruning, the point-lookup complement of
      // etl_manifest_prune: orders staged one file per year, a bloom
      // manifest built over o_orderkey, then three probes (min key,
      // max key, and a guaranteed miss) each scan ONLY the bloom-
      // qualified files + the equality filter. No false negatives, so
      // pruned-scan + filter == full-table lookup — the oracle; the
      // miss probe must yield the zero row even when every file's
      // filter rejects it. File lists are control-plane (#files rows).
      val s = s0
      val staged = stageOrdersByYear(s, dir)
      val manifest = graft.ops.Manifest.bloomManifest(s, staged, "o_orderkey")
        .cache()
      try {
        val mm = Tables(s, dir, "orders")
          .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        Seq(lo, hi, hi + 1L).map { k =>
          val files = graft.ops.Manifest.bloomPrunedFiles(manifest, lit(k))
            .collect().map(_.getString(0)).sorted
          if (files.isEmpty)
            s.range(1).select(lit(k).as("probe"), lit(0L).as("n_rows"),
              lit(0L).as("cents"))
          else
            s.read.parquet(files.toIndexedSeq: _*)
              .filter(col("o_orderkey") === k)
              .agg(count(lit(1)).as("n_rows"),
                coalesce(sum(round(col("o_totalprice") * 100).cast("long")),
                  lit(0L)).as("cents"))
              .select(lit(k).as("probe"), col("n_rows"), col("cents"))
        }.reduce(_.unionByName(_))
      } finally manifest.unpersist()
    },
    "stream_join_full" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // FULL OUTER stream-stream interval join: matches emit eagerly;
        // an unmatched click null-pads when its ts falls strictly below
        // the final watermark, an unmatched view when ts + lookback
        // does (both boundaries pinned in StreamingOpsSpec). Oracle =
        // batch matches ∪ the two expired unmatched sets.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        def src() = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
        val joined = graft.streaming.StreamingOps.intervalJoin(
          src().filter(col("event_type") === "click"),
          src().filter(col("event_type") === "view"),
          lookback = "30 minutes", watermark = "2 hours",
          joinType = "full_outer")
          .select(col("l.event_id").as("click_id"),
            unix_timestamp(col("l.ts")).as("click_sec"),
            col("r.event_id").as("view_id"), unix_timestamp(col("r.ts")).as("view_sec"))
        val name = s"graft_stream_join_full_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(joined, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        s.table(name)
      }
    },
    "stream_join_outer" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // LEFT OUTER stream-stream interval join over a 3-file
        // time-ordered replay: matched pairs emit eagerly; a click with
        // no view in its trailing 30 min emits once, NULL-padded, when
        // the global watermark passes its event time. Time-ordered files
        // mean no row is late, so the emitted set is exactly (all batch
        // matches) ∪ (unmatched clicks STRICTLY below the final
        // watermark min(max click ts, max view ts) - 2h — the boundary
        // pinned by StreamingOpsSpec); later unmatched clicks stay in
        // state, deterministically unemitted in a drained replay.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        def src() = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
        val joined = graft.streaming.StreamingOps.intervalJoinOuter(
          src().filter(col("event_type") === "click"),
          src().filter(col("event_type") === "view"),
          lookback = "30 minutes", watermark = "2 hours")
          .select(col("l.event_id").as("click_id"), col("l.user_id").as("user_id"),
            unix_timestamp(col("l.ts")).as("click_sec"),
            col("r.event_id").as("view_id"), unix_timestamp(col("r.ts")).as("view_sec"))
        val name = s"graft_stream_join_outer_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(joined, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        s.table(name)
      }
    },
    "stream_enrich" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Stream-static enrichment: the events stream joined per
        // microbatch to a broadcast customer dimension — stateless (no
        // state store, no watermark), so the drained replay equals the
        // batch join exactly.
        val batchSchema = Tables(s, dir, "events").schema
        val stream = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val dim = Tables(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"),
            col("c_acctbal"))
        val enriched = graft.streaming.StreamingOps.enrichStatic(stream, dim,
          keys = Seq("user_id"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("c_mktsegment"), col("c_acctbal"))
        val name = s"graft_stream_enrich_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(enriched, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        s.table(name)
      }
    },
    "stream_user_totals" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // arbitrary stateful processing (mapGroupsWithState) driven
        // end-to-end: per-user count/min/max — deliberately only
        // order-independent accumulators, so the emitted state is
        // bit-reproducible. The single-file fixture replays as ONE
        // microbatch, so update mode emits each user exactly once.
        import s.implicits._
        val batchSchema = Tables(s, dir, "events").schema
        val stream = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .withColumn("ts", tsMicros(batchSchema))
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[graft.streaming.StreamingOps.Event]
        val out = graft.streaming.StreamingOps.userStats(stream).toDF()
        val name = s"graft_stream_user_totals_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(out, name,
          org.apache.spark.sql.streaming.OutputMode.Update())
        s.table(name)
      }
    },
    "stream_sessions" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // session_window sessionization through the streaming engine. Event
        // times truncate to whole seconds on BOTH sides (the fixture is
        // micros-precision; second-truncated gap arithmetic is the portable
        // contract). session_window MERGES an event arriving exactly `gap`
        // after its predecessor (end-inclusive merge — verified empirically
        // at sf0.1), so the oracle's gaps-and-islands opens a new session
        // only when the difference EXCEEDS the gap (`> 1800`).
        val batchSchema = Tables(s, dir, "events").schema
        val stream = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .withColumn("ts", tsSecondTrunc(batchSchema))
        val agg = graft.streaming.StreamingOps.sessions(stream,
          gap = "30 minutes", watermark = "2 hours")
        val name = s"graft_stream_sessions_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(agg, name,
          org.apache.spark.sql.streaming.OutputMode.Complete())
        s.table(name).select(
          col("user_id"),
          unix_timestamp(col("session_start")).as("session_start"),
          unix_timestamp(col("session_end")).as("session_end"),
          col("n_events"),
          col("sum_value").cast("double").as("sum_value"))
      }
    },
    "stream_append_tumbling" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Multi-microbatch APPEND-mode streaming — the semantics the
        // complete-mode rows can't show: the fixture is split into 3
        // time-ordered files (ascending mtimes pin the file source's
        // replay order), one file per microbatch, so the watermark
        // genuinely advances batch-over-batch and closed windows are
        // EVICTED from the state store and emitted exactly once. Append
        // emits a window only when its end falls behind the watermark, so
        // the result is the batch windows with end <= max(ts) - 2h (the
        // final watermark, applied by the trailing no-data microbatch);
        // time-ordered files mean no row ever arrives late, so nothing is
        // dropped and the oracle is exact.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
        val agg = graft.streaming.StreamingOps.tumbling(stream,
          windowLen = "1 hour", watermark = "2 hours")
        val name = s"graft_stream_append_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(agg, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        s.table(name).select(
          unix_timestamp(col("window_start")).as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
      }
    },
    "stream_late_drop" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // The OTHER half of watermark semantics: late-row DROPPING (eviction
        // is pinned by stream_append_tumbling). Replay order 4,3,1,2 over
        // time-quartile tiles: the LATEST quartile arrives first, raising
        // the watermark to max(ts) - 2h. The engine propagates a new
        // watermark with a ONE-BATCH LAG (measured here: the batch after
        // the raiser still runs with the old watermark — the offset log
        // records each batch's watermark when the batch is constructed),
        // so tile 3 is replayed as a spacer batch; by the time the two
        // EARLIEST quartiles arrive, the max(ts)-2h watermark is effective
        // and every one of their rows targets a window with end <=
        // watermark: all dropped. The watermark never advances afterwards
        // (max already seen), so the emitted result is exactly the closed
        // (end <= max-2h) windows built from the latest HALF of the rows;
        // the oracle recomputes that with the same NTILE(4) tiling by
        // (truncated ts, event_id). A non-dropping engine would re-open
        // already-emitted windows and emit duplicates/inflated counts,
        // which the hash compare would catch.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 4,
          order = Seq(4, 3, 1, 2))
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
        val agg = graft.streaming.StreamingOps.tumbling(stream,
          windowLen = "1 hour", watermark = "2 hours")
        val name = s"graft_stream_late_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(agg, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        s.table(name).select(
          unix_timestamp(col("window_start")).as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
      }
    },
    "stream_sketch_distinct" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Streaming distinct-per-window off mergeable theta state,
        // driven through a 3-file time-ordered replay so the
        // cross-microbatch state union is genuinely exercised (a user
        // recurring across batches must count once). Update mode emits
        // a row per key per updated batch; union estimates are
        // nondecreasing, so max per key = the drained final state. At
        // lgK 15 every (window, type) group sits far below 2^15
        // distinct users — exact mode — so the result hash-matches the
        // DuckDB COUNT(DISTINCT) oracle like any exact operator.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
        val out = graft.streaming.StreamingOps
          .sketchDistinct(stream, windowSeconds = 3600L, lgK = 15).toDF()
        val name = s"graft_stream_sketchdist_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(out, name,
          org.apache.spark.sql.streaming.OutputMode.Update())
        s.table(name).groupBy("window_start", "event_type")
          .agg(max(col("n_distinct")).as("n_users"))
      }
    },
    "stream_freq_items" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Streaming per-window frequent items off mergeable ItemsSketch
        // state, 3-file time-ordered replay (cross-batch fold is real).
        // The 5-type domain sits far inside the 64-counter map, so the
        // sketch never purges and every estimate IS the exact per-window
        // contingency count; update-mode estimates are nondecreasing in
        // exact mode, so max per (window, item) = the drained final
        // state — the plain GROUP BY COUNT(*) the oracle computes.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
        val out = graft.streaming.StreamingOps
          .sketchFreqItems(stream, windowSeconds = 3600L, maxMapSize = 64).toDF()
        val name = s"graft_stream_freq_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(out, name,
          org.apache.spark.sql.streaming.OutputMode.Update())
        s.table(name).groupBy("window_start", "item")
          .agg(max(col("est")).as("n"))
      }
    },
    "stream_quantiles" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Streaming per-window quantiles off mergeable KLL state,
        // 3-file time-ordered replay. k=32768 exceeds every
        // (window, type) group's row count at oracle scale, so the
        // sketch never compacts and each INCLUSIVE quantile is exactly
        // the ceil(p*n)-th order statistic. Quantiles are not monotone
        // across folds, so the drained consumer takes each key's row at
        // MAX n — n strictly grows per fold; the last fold is the final
        // state (the timeout emission repeats it verbatim).
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
        val out = graft.streaming.StreamingOps
          .sketchQuantiles(stream, windowSeconds = 3600L,
            probs = Seq(0.1, 0.5, 0.9, 1.0), k = 32768).toDF()
        val name = s"graft_stream_kll_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(out, name,
          org.apache.spark.sql.streaming.OutputMode.Update())
        s.table(name).groupBy("window_start", "event_type", "p")
          .agg(expr("max_by(q, n)").as("q"))
      }
    },
    "stream_drift_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Drift-on-arrival: the dq_psi_drift scenario with the CURRENT
        // snapshot arriving as a 3-file stream. Each microbatch folds
        // into persisted bins-sized histogram state (foreachBatch,
        // versioned-dir + marker exactly-once); the result is the PSI
        // of the drained state against the fixed reference sketch,
        // computed from summaries only. Counts merge as a monoid, so
        // the gate's output hash-matches the batch PSI recompute —
        // dq_psi_drift's own oracle.
        val orders = Tables(s, dir, "orders")
        val bins = 10
        val ref = orders.filter(pmod(col("o_orderkey"), lit(3L)) =!= 0)
        val (mn, width) = graft.ops.DataQuality.histogramEdges(
          ref, "o_totalprice", bins)
        val refHist = graft.ops.DataQuality.histogramState(
          ref, "o_totalprice", mn, width, bins)
        val cur = orders.filter(pmod(col("o_orderkey"), lit(3L)) === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
        val replayDir = scratchDir("graft_drift_replay_").toFile
        Seq(0L, 3L, 6L).zipWithIndex.foreach { case (g, i) =>
          stageSingleFile(cur.filter(pmod(col("o_orderkey"), lit(9L)) === g),
            new java.io.File(replayDir, f"cur_$i%02d.parquet"))
        }
        val stateDir = scratchDir("graft_drift_state_").toString
        val ckpt = scratchDir("graft_drift_ckpt_").toString
        val stream = s.readStream.schema(cur.schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir.toString)
        graft.streaming.StreamingOps.driftGate(stream, "o_totalprice",
          mn, width, bins, stateDir, ckpt)
        graft.streaming.StreamingOps.driftGateResult(s, refHist, stateDir, bins)
      }
    },
    "stream_cer_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Eval-on-arrival: the text_cer scenario with candidates (odd
        // docs) arriving as a 3-file stream against the static even-doc
        // references. Per-pair char edit counts fold into a one-row sum
        // state (a pure sum monoid — batch boundaries irrelevant), so
        // the drained gate recomputes EXACTLY the one-shot corpus CER;
        // the oracle sums the same levenshtein pairs in DuckDB.
        val d = Tables(s, dir, "documents")
        val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
          .select(expr("doc_id div 2").as("pair_id"), col("text"))
        val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
          .select(expr("doc_id div 2").as("pair_id"), col("text"))
        val replayDir = scratchDir("graft_cer_replay_").toFile
        parForeach(0 until 3) { g =>
          stageSingleFile(cand.filter(pmod(col("pair_id"), lit(3L)) === g),
            new java.io.File(replayDir, f"cand_$g%02d.parquet"))
        }
        val stateDir = scratchDir("graft_cer_state_").toString
        val ckpt = scratchDir("graft_cer_ckpt_").toString
        val stream = s.readStream.schema(cand.schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir.toString)
        graft.streaming.StreamingOps.cerGate(stream, ref, "pair_id",
          "text", stateDir, ckpt)
        graft.streaming.StreamingOps.cerGateResult(s, stateDir)
      }
    },
    "stream_bleu_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Corpus-BLEU-on-arrival: the text_bleu scenario with
        // candidates (odd docs) arriving as a 3-file stream against the
        // static even-doc references. Every state column is an exact
        // integer corpus SUM (each batch restricts refs to ITS pair
        // ids, so nothing double-counts), the fold is a pure monoid,
        // and the drained gate == one-shot corpus BLEU bit for bit —
        // text_bleu's own oracle.
        val d = Tables(s, dir, "documents")
        val cand = d.filter(pmod(col("doc_id"), lit(2L)) === 1L)
          .select(expr("doc_id div 2").as("pair_id"), col("text"))
        val ref = d.filter(pmod(col("doc_id"), lit(2L)) === 0L)
          .select(expr("doc_id div 2").as("pair_id"), col("text"))
        val replayDir = scratchDir("graft_bleu_replay_").toFile
        parForeach(0 until 3) { g =>
          stageSingleFile(cand.filter(pmod(col("pair_id"), lit(3L)) === g),
            new java.io.File(replayDir, f"cand_$g%02d.parquet"))
        }
        val stateDir = scratchDir("graft_bleu_state_").toString
        val ckpt = scratchDir("graft_bleu_ckpt_").toString
        val stream = s.readStream.schema(cand.schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir.toString)
        graft.streaming.StreamingOps.bleuGate(stream, ref, "pair_id",
          "text", stateDir, ckpt)
        graft.streaming.StreamingOps.bleuGateResult(s, stateDir)
      }
    },
    "stream_cramers_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Association-on-arrival: the dq_cramers_v scenario with orders
        // arriving as a 3-file stream. Contingency cells are a pure
        // count monoid, so the drained gate state recomputes EXACTLY
        // the one-shot Cramér's V — dq_cramers_v's own oracle. State
        // is level-cardinality-sized; each batch folds via
        // foreachBatch with the versioned-dir + marker commit.
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"))
        val replayDir = scratchDir("graft_assoc_replay_").toFile
        parForeach(0 until 3) { g =>
          stageSingleFile(orders.filter(pmod(col("o_orderkey"), lit(3L)) === g),
            new java.io.File(replayDir, f"tile_$g%02d.parquet"))
        }
        val stateDir = scratchDir("graft_assoc_state_").toString
        val ckpt = scratchDir("graft_assoc_ckpt_").toString
        val stream = s.readStream.schema(orders.schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir.toString)
        graft.streaming.StreamingOps.associationGate(stream,
          "o_orderpriority", "o_orderstatus", stateDir, ckpt)
        graft.streaming.StreamingOps.associationGateResult(s, stateDir)
      }
    },
    "stream_ivf_ingest" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Index-on-arrival: the coarse quantizer fits ONCE and persists
        // (the zero-fit serving discipline); embeddings then arrive as
        // a 3-file stream, each batch assigning to its nearest cell in
        // one argmin pass and appending an immutable postings delta
        // under the marker commit. Assignment is a pure function of
        // the FIXED centroids, so the drained index equals the batch
        // assignment row-for-row — and the exhaustive-probe search
        // over the committed state (nProbe = nCells) is provably the
        // brute-force top-k: sim_topk_ivf_exact's own oracle pins the
        // whole stream-ingest + search path.
        val emb = Tables(s, dir, "embeddings")
        val centroidDir = scratchDir("graft_ivfg_cent_").toString
        graft.etl.Sinks.parquetDir(
          graft.ext.Similarity.ivfCentroidState(emb, nCells = 8), centroidDir)
        val replayDir = scratchDir("graft_ivfg_replay_").toFile
        parForeach(0 until 3) { g =>
          stageSingleFile(emb.filter(pmod(col("vec_id"), lit(3L)) === g),
            new java.io.File(replayDir, f"tile_$g%02d.parquet"))
        }
        val stateDir = scratchDir("graft_ivfg_state_").toString
        val ckpt = scratchDir("graft_ivfg_ckpt_").toString
        val stream = s.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir.toString)
        graft.streaming.StreamingOps.ivfIngestGate(stream, centroidDir,
          stateDir, ckpt)
        graft.streaming.StreamingOps.ivfSearchFromIngest(s, stateDir,
          centroidDir, emb.filter(col("vec_id") < 20), k = 10, nProbe = 8)
      }
    },
    "exp_conformal_sql" -> { (s, dir) =>
      // The conformal interval through its SQL TVF face — same plan
      // (q̂ resolved at analysis time); shares exp_conformal's oracle.
      graft.GraftExtensions.register(s)
      val scored = Tables(s, dir, "orders").select(
        col("o_orderkey"),
        (col("o_totalprice") + (pmod(col("o_orderkey"), lit(97L)) - 48L)
          .cast("double")).as("pred"),
        col("o_totalprice").as("actual"))
      withFreshView(s, "graft_conf_calib_v",
        scored.filter(pmod(col("o_orderkey"), lit(3L)) === 0)) { cv =>
        withFreshView(s, "graft_conf_test_v",
          scored.filter(pmod(col("o_orderkey"), lit(3L)) === 1)) { tv =>
          s.sql(s"""
            SELECT * FROM graft_conformal('$cv', '$tv',
              'pred', 'actual', 100000, 'o_orderkey')
          """)
        }
      }
    },
    "exp_cqr_sql" -> { (s, dir) =>
      // CQR through its SQL TVF face — same signed-score plan (q̂
      // resolved at analysis time); shares exp_cqr's oracle.
      graft.GraftExtensions.register(s)
      val sc = Tables(s, dir, "orders").select(
        col("o_orderkey"),
        (col("o_totalprice") -
          pmod(col("o_orderkey"), lit(50L)).cast("double")).as("lo"),
        (col("o_totalprice") +
          pmod(col("o_orderkey"), lit(70L)).cast("double")).as("hi"),
        (col("o_totalprice") + (pmod(col("o_orderkey"), lit(97L)) - 48L)
          .cast("double")).as("actual"))
      withFreshView(s, "graft_cqr_calib_v",
        sc.filter(pmod(col("o_orderkey"), lit(3L)) === 0)) { cv =>
        withFreshView(s, "graft_cqr_test_v",
          sc.filter(pmod(col("o_orderkey"), lit(3L)) === 1)) { tv =>
          s.sql(s"""
            SELECT * FROM graft_cqr('$cv', '$tv',
              'lo', 'hi', 'actual', 100000, 'o_orderkey')
          """)
        }
      }
    },
    "stream_cqr_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // CQR calibration-on-arrival: the exp_cqr scenario with the
        // calibration slice arriving as a 3-file stream. Signed-score
        // histograms are a pure count monoid, so the drained state's
        // q̂ is EXACTLY the one-shot CQR quantile — exp_cqr's own
        // oracle pins the whole fold + serve path.
        val sc = Tables(s, dir, "orders").select(
          col("o_orderkey"),
          (col("o_totalprice") -
            pmod(col("o_orderkey"), lit(50L)).cast("double")).as("lo"),
          (col("o_totalprice") +
            pmod(col("o_orderkey"), lit(70L)).cast("double")).as("hi"),
          (col("o_totalprice") + (pmod(col("o_orderkey"), lit(97L)) - 48L)
            .cast("double")).as("actual"))
        val calib = sc.filter(pmod(col("o_orderkey"), lit(3L)) === 0)
        val replayDir = scratchDir("graft_cqr_replay_").toFile
        parForeach(0 until 3) { g =>
          stageSingleFile(calib.filter(pmod(col("o_orderkey"), lit(9L)) === g * 3L),
            new java.io.File(replayDir, f"tile_$g%02d.parquet"))
        }
        val stateDir = scratchDir("graft_cqr_state_").toString
        val ckpt = scratchDir("graft_cqr_ckpt_").toString
        val stream = s.readStream.schema(calib.schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir.toString)
        graft.streaming.StreamingOps.cqrGate(stream, "lo", "hi", "actual",
          stateDir, ckpt)
        graft.streaming.StreamingOps.cqrGateResult(s, stateDir,
          sc.filter(pmod(col("o_orderkey"), lit(3L)) === 1),
          "lo", "hi", alphaMicro = 100000L, idCol = "o_orderkey")
      }
    },
    "stream_mw_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Nonparametric drift-on-arrival: the %3==1 price slice streams
        // in as 3 tiles, folding its micro-value histogram (a count
        // monoid) under the marker commit; the readout ranks the
        // %3==0 reference against the drained live mass — exactly the
        // one-shot two-sample U statistic, which the oracle replays.
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        val live = o.filter(pmod(col("o_orderkey"), lit(3L)) === 1)
        val replayDir = scratchDir("graft_mw_replay_").toFile
        parForeach(0 until 3) { g =>
          stageSingleFile(live.filter(pmod(col("o_orderkey"), lit(9L)) === 3L * g + 1L),
            new java.io.File(replayDir, f"tile_$g%02d.parquet"))
        }
        val stateDir = scratchDir("graft_mw_state_").toString
        val ckpt = scratchDir("graft_mw_ckpt_").toString
        val stream = s.readStream.schema(live.schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir.toString)
        graft.streaming.StreamingOps.mwGate(stream, "o_totalprice",
          stateDir, ckpt)
        graft.streaming.StreamingOps.mwGateResult(s, stateDir,
          graft.ops.Experiment.mwMicroHistogram(
            o.filter(pmod(col("o_orderkey"), lit(3L)) === 0), "o_totalprice"))
      }
    },
    "stream_conformal_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Calibration-on-arrival: the exp_conformal scenario with the
        // calibration slice arriving as a 3-file stream. Residual
        // histograms are a pure count monoid, so the drained state's
        // q̂ is EXACTLY the one-shot split-conformal quantile —
        // exp_conformal's own oracle pins the whole fold + serve path.
        val scored = Tables(s, dir, "orders").select(
          col("o_orderkey"),
          (col("o_totalprice") + (pmod(col("o_orderkey"), lit(97L)) - 48L)
            .cast("double")).as("pred"),
          col("o_totalprice").as("actual"))
        val calib = scored.filter(pmod(col("o_orderkey"), lit(3L)) === 0)
        val replayDir = scratchDir("graft_conf_replay_").toFile
        parForeach(0 until 3) { g =>
          stageSingleFile(calib.filter(pmod(col("o_orderkey"), lit(9L)) === g * 3L),
            new java.io.File(replayDir, f"tile_$g%02d.parquet"))
        }
        val stateDir = scratchDir("graft_conf_state_").toString
        val ckpt = scratchDir("graft_conf_ckpt_").toString
        val stream = s.readStream.schema(calib.schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir.toString)
        graft.streaming.StreamingOps.conformalGate(stream, "pred", "actual",
          stateDir, ckpt)
        graft.streaming.StreamingOps.conformalGateResult(s, stateDir,
          scored.filter(pmod(col("o_orderkey"), lit(3L)) === 1),
          "pred", alphaMicro = 100000L, idCol = "o_orderkey")
      }
    },
    "stream_tcl_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Release-audit-on-arrival: the dq_t_closeness scenario with
        // orders arriving as a 3-file stream. Quasi×sensitive cell
        // counts are a pure count monoid, so the drained gate state
        // recomputes EXACTLY the one-shot audit — dq_t_closeness's own
        // oracle. State is audit-cardinality-sized; each batch folds
        // via foreachBatch with the versioned-dir + marker commit.
        val orders = Tables(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
          expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 604800").as("order_week"))
        val replayDir = scratchDir("graft_tclg_replay_").toFile
        parForeach(0 until 3) { g =>
          stageSingleFile(orders.filter(pmod(col("o_orderkey"), lit(3L)) === g),
            new java.io.File(replayDir, f"tile_$g%02d.parquet"))
        }
        val stateDir = scratchDir("graft_tclg_state_").toString
        val ckpt = scratchDir("graft_tclg_ckpt_").toString
        val stream = s.readStream.schema(orders.schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir.toString)
        graft.streaming.StreamingOps.tClosenessGate(stream,
          Seq("o_orderpriority", "order_week"), "o_orderstatus", stateDir, ckpt)
        graft.streaming.StreamingOps.tClosenessGateResult(s, stateDir,
          Seq("o_orderpriority", "order_week"), tNano = 150000000L)
      }
    },
    "stream_twap_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // TWAP-on-arrival: events arriving as 3 TIME-ORDERED tiles
        // (the gates' replay contract — a key's observations never go
        // backwards across batches). Each batch's per-key slice state
        // folds onto the stored state with the ordered
        // mergeTwapStates — the previous last value held across the
        // seam — so the drained gate reads back EXACTLY the one-shot
        // TWAP (ts_twap's own oracle) from one state row per key.
        val ev = Tables(s, dir, "events")
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        val bounds = ev.agg(min(unix_timestamp(col("ts"))),
          max(unix_timestamp(col("ts")))).head()
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1) + 1)
        val cut1 = lo + (hi - lo) / 3
        val cut2 = lo + 2 * (hi - lo) / 3
        val sec = unix_timestamp(col("ts"))
        val tiles = Seq(sec < cut1, sec >= cut1 && sec < cut2, sec >= cut2)
        val replayDir = scratchDir("graft_twap_replay_").toFile
        tiles.zipWithIndex.foreach { case (p, i) =>
          stageSingleFile(ev.filter(p),
            new java.io.File(replayDir, f"tile_$i%02d.parquet"))
        }
        val stateDir = scratchDir("graft_twap_state_").toString
        val ckpt = scratchDir("graft_twap_ckpt_").toString
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir.toString)
        graft.streaming.StreamingOps.twapGate(stream, "event_type", "ts",
          "event_id", "value", stateDir, ckpt)
        graft.streaming.StreamingOps.twapGateResult(s, stateDir)
      }
    },
    "stream_coverage_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Uptime-on-arrival: events in 3 TIME-ORDERED tiles fold into
        // one island-state row per user (closed totals + the open last
        // island, spliced by re-running the sweep over batch ∪ carry);
        // the drained gate reads back EXACTLY the one-shot coverage —
        // events_coverage's own oracle.
        val ev = Tables(s, dir, "events").select(col("user_id"), col("ts"))
        val bounds = ev.agg(min(unix_timestamp(col("ts"))),
          max(unix_timestamp(col("ts")))).head()
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1) + 1)
        val cut1 = lo + (hi - lo) / 3
        val cut2 = lo + 2 * (hi - lo) / 3
        val sec = unix_timestamp(col("ts"))
        val tiles = Seq(sec < cut1, sec >= cut1 && sec < cut2, sec >= cut2)
        val replayDir = scratchDir("graft_cov_replay_").toFile
        tiles.zipWithIndex.foreach { case (p, i) =>
          stageSingleFile(ev.filter(p),
            new java.io.File(replayDir, f"tile_$i%02d.parquet"))
        }
        val stateDir = scratchDir("graft_cov_state_").toString
        val ckpt = scratchDir("graft_cov_ckpt_").toString
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir.toString)
        graft.streaming.StreamingOps.coverageGate(stream, "user_id",
          lenSec = 300L, stateDir, ckpt)
        graft.streaming.StreamingOps.coverageGateResult(s, stateDir)
          .withColumnRenamed("key", "user_id")
      }
    },
    "stream_anomaly_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Anomaly-on-arrival: the ts_seasonal_anomaly scenario with the
        // events arriving as a 3-file time-ordered stream. Each
        // microbatch folds into persisted (type, day, hour) cell counts
        // (foreachBatch, versioned-dir + marker exactly-once); the
        // result is the calendar-aware volume test over the drained
        // state, computed from summaries only. Counts merge as a
        // monoid, so the gate's output hash-matches the batch
        // recompute — ts_seasonal_anomaly's own oracle.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
          .select(col("event_type"), unix_timestamp(col("ts")).as("sec"))
        val stateDir = scratchDir("graft_anomaly_state_").toString
        val ckpt = scratchDir("graft_anomaly_ckpt_").toString
        graft.streaming.StreamingOps.anomalyGate(stream, "sec", "event_type",
          stateDir, ckpt)
        graft.streaming.StreamingOps.anomalyGateResult(s, stateDir,
          "event_type", factorNum = 3L, factorDen = 2L)
      }
    },
    "stream_cusum_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // CUSUM-on-arrival: the ts_cusum scenario with the events
        // arriving as a 3-file time-ordered stream. Each microbatch
        // folds into persisted (type, day) daily counts (foreachBatch,
        // versioned-dir + marker exactly-once); the change-point test
        // runs over the drained state, computed from summaries only.
        // Counts merge as a monoid, so the gate's output hash-matches
        // the batch recompute — ts_cusum's own oracle.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
          .select(col("event_type"), unix_timestamp(col("ts")).as("sec"))
        val stateDir = scratchDir("graft_cusum_state_").toString
        val ckpt = scratchDir("graft_cusum_ckpt_").toString
        graft.streaming.StreamingOps.cusumGate(stream, "sec", "event_type",
          stateDir, ckpt)
        graft.streaming.StreamingOps.cusumGateResult(s, stateDir,
          "event_type", kNum = 1L, kDen = 100L, hNum = 3L, hDen = 10L)
      }
    },
    "stream_holt_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // One ingested state, many faces: the SAME (key, day) count
        // monoid the CUSUM gate maintains also serves trend smoothing
        // — Holt read off the drained state equals the batch ts_holt
        // (shared oracle), and raw events are never re-read.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
          .select(col("event_type"), unix_timestamp(col("ts")).as("sec"))
        val stateDir = scratchDir("graft_holt_state_").toString
        val ckpt = scratchDir("graft_holt_ckpt_").toString
        graft.streaming.StreamingOps.cusumGate(stream, "sec", "event_type",
          stateDir, ckpt)
        graft.streaming.StreamingOps.holtGateResult(s, stateDir,
          "event_type", alphaMicro = 300000L, betaMicro = 100000L)
      }
    },
    "dq_iqr_outliers" -> { (s, dir) =>
      // Tukey 1.5-IQR fences on event values per type: exact
      // lower-quantile cuts, cross-multiplied fence tests, outliers
      // only with their side — the boxplot rule next to the MAD rule.
      graft.ext.Features.iqrOutliers(
        Tables(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value")),
        "event_type", "value")
    },
    "dq_iqr_sql" -> { (s, dir) =>
      // The fences through their SQL TVF face — identical plan and
      // oracle as dq_iqr_outliers.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_iqr_v", Tables(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))) { v =>
        s.sql(s"SELECT * FROM graft_iqr_outliers('$v', 'event_type', 'value', 3, 2)")
      }
    },
    "text_quality_sql" -> { (s, dir) =>
      // The filter battery through its SQL TVF face — identical plan
      // and oracle as text_quality_filters.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_quality_v", Tables(s, dir, "documents")) { v =>
        s.sql(s"""
          SELECT doc_id, n_words, n_lines, mean_word_len_micro,
                 alpha_ratio_micro, has_brace, has_lorem, has_js,
                 terminal_punct, keep
          FROM graft_quality_filters('$v', 'text')
        """)
      }
    },
    "events_interarrival_sql" -> { (s, dir) =>
      // The cadence profile through its SQL TVF face — identical plan
      // and oracle as events_inter_arrival.
      graft.GraftExtensions.register(s)
      val ev = Tables(s, dir, "events")
      withFreshView(s, "graft_ia_v", ev.select(col("event_type"),
          graft.ext.Events.tsSec(ev).as("sec"), col("event_id"))) { v =>
        s.sql(s"SELECT * FROM graft_inter_arrival('$v', 'event_type', 'sec', 'event_id')")
      }
    },
    "stream_quality_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Corpus quality ON ARRIVAL: the text_quality_filters battery
        // over a 3-file document replay, folding per-(lang, keep)
        // counts into persisted state (foreachBatch, versioned-dir +
        // marker exactly-once; keyed by lang — the replay projection).
        // Counts merge as a monoid, so the drained per-language
        // keep-rates hash-match the batch recompute — the filters' own
        // oracle wrapped in a per-language rollup.
        val (replayDir, schema) = docReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
        val stateDir = scratchDir("graft_quality_state_").toString
        val ckpt = scratchDir("graft_quality_ckpt_").toString
        graft.streaming.StreamingOps.qualityGate(stream, "text", "lang",
          stateDir, ckpt)
        graft.streaming.StreamingOps.qualityGateResult(s, stateDir, "lang")
      }
    },
    "stream_dedup" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Streaming exact dedup end-to-end: dropDuplicatesWithinWatermark
        // keyed by (user_id, event_type). Only the KEY columns are
        // projected: which duplicate arrives first inside a microbatch is
        // partition-order-dependent in any engine, so the key projection
        // is the deterministic face — over one drained replay it equals
        // batch DISTINCT. Within-watermark suppression and state eviction
        // timing are pinned separately in StreamingOpsSpec.
        val batchSchema = Tables(s, dir, "events").schema
        val stream = s.readStream.schema(batchSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .withColumn("ts", tsSecondTrunc(batchSchema))
          .select("ts", "user_id", "event_type")
        val dedup = graft.streaming.StreamingOps.dedupStream(stream,
          keyCols = Seq("user_id", "event_type"), watermark = "1 hour")
          .select("user_id", "event_type")
        val name = s"graft_stream_dedup_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(dedup, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        s.table(name)
      }
    },

    // --- [EXT] geospatial (ops/Geo.scala) -------------------------------
    "geo_radius_join" -> { (s, dir) =>
      // Grid-bucketed within-radius join, decided in exact integer
      // micro-degrees: customers × suppliers on a deterministic key-derived
      // coordinate lattice (the oracle derives the identical lattice and
      // brute-forces the cross filter — identical pairs prove the 3×3
      // neighbor-cell cover exact, including radius-boundary and
      // cell-boundary points). The Spark plan is one equi-shuffle join on
      // the cell key; candidate pairs are 9×cell-occupancy², never N×M.
      graft.ops.Geo.gridRadiusJoin(
        geoPoints(Tables(s, dir, "customer"), "c_custkey"),
        geoPoints(Tables(s, dir, "supplier"), "s_suppkey"),
        "lat_u", "lon_u", radiusMicro = 2000L)
        .select(col("c_custkey"), col("s_suppkey"), col("dist2"))
    },
    "geo_knn" -> { (s, dir) =>
      // 3 nearest suppliers within 5000 micro-deg of each customer:
      // the grid join plus one per-customer ROW_NUMBER over the exact
      // (dist2, suppkey) order — deterministic under distance ties.
      graft.ops.Geo.knnWithinRadius(
        geoPoints(Tables(s, dir, "customer"), "c_custkey"),
        geoPoints(Tables(s, dir, "supplier"), "s_suppkey"),
        "lat_u", "lon_u", radiusMicro = 5000L,
        leftKeyCol = "c_custkey", rightIdCol = "s_suppkey", k = 3)
        .select(col("c_custkey"), col("s_suppkey"), col("dist2"), col("knn_rank"))
    },
    "geo_haversine" -> { (s, dir) =>
      // Great-circle distances between same-region nation pairs on a
      // deterministic coordinate lattice — pure codegen'd trigonometry,
      // meter-rounded (a meter is ~1e6 libm ulps at earth scale, so the
      // cross-engine face is stable; lat∈[-70,70), lon span 140° keeps
      // pairs far from the antipodal asin amplification). The region
      // equi-join bounds pairs without a cartesian.
      val nat = Tables(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("nkey"),
        col("n_regionkey").cast("long").as("rkey"),
        (pmod(col("n_nationkey").cast("long") * lit(7919L), lit(140000000L)) / 1000000.0 - 70.0).as("lat_d"),
        (pmod(col("n_nationkey").cast("long") * lit(104729L), lit(140000000L)) / 1000000.0 - 70.0).as("lon_d"))
      val a = nat.select(col("rkey"), col("nkey").as("a_key"),
        col("lat_d").as("a_lat"), col("lon_d").as("a_lon"))
      val b = nat.select(col("rkey"), col("nkey").as("b_key"),
        col("lat_d").as("b_lat"), col("lon_d").as("b_lon"))
      a.join(b, Seq("rkey")).filter(col("a_key") < col("b_key"))
        .select(col("a_key"), col("b_key"),
          graft.ops.Geo.haversineMeters(col("a_lat"), col("a_lon"),
            col("b_lat"), col("b_lon")).as("dist_m"))
    },
    "geo_morton_cells" -> { (s, dir) =>
      // Spatial clustering by Z-order cell: quantize the key-derived
      // degree lattice at 4 bits/axis and count points per Morton cell.
      // The interleave is a closed-form integer shift/mask sum (codegen,
      // engine-portable); the oracle spells out the same 8 terms.
      val pts = Tables(s, dir, "customer").select(
        (pmod(col("c_custkey") * lit(7919L), lit(160000L)) / 1000.0 - 80.0).as("lat_d"),
        (pmod(col("c_custkey") * lit(104729L), lit(320000L)) / 1000.0 - 160.0).as("lon_d"))
      pts.groupBy(graft.ops.Geo.mortonCellId(col("lat_d"), col("lon_d"), bits = 4)
          .as("cell_id"))
        .agg(count(lit(1)).as("n_points"))
    },

    // --- [EXT] time-series diagnostics (ops/TimeSeries.scala) ------------
    "ts_acf" -> { (s, dir) =>
      // Autocorrelation of the hourly per-type value series at lags 1-3:
      // exact decimal sums (pairs semantics under gaps), one equi-join
      // on (type, hour) after a zero-shuffle lag Expand; only the final
      // ratio is floating, micro-quantized. The oracle assembles the
      // identical sums with a 3-row lag spine.
      val ev = Tables(s, dir, "events")
      val hourly = ev.groupBy(col("event_type"),
          call_function("div", tsEpochSec(ev.schema), lit(3600L)).as("t"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("x"))
      graft.ops.TimeSeries.acf(hourly, "event_type", "t", "x", maxLag = 3)
    },
    "ts_pettitt" -> { (s, dir) =>
      // Pettitt change-point over the daily per-type event counts —
      // rank-based, exact to the last integer (doubled average ranks);
      // earliest argmax day, micro-quantized approximate significance.
      val ev = Tables(s, dir, "events")
      val daily = ev.groupBy(col("event_type"),
          call_function("div", tsEpochSec(ev.schema), lit(86400L)).as("day"))
        .agg(count(lit(1)).as("n_events"))
      graft.ops.TimeSeries.pettitt(daily, "event_type", "day", "n_events")
    },

    // --- [EXT] interval analytics (ext/Events.scala) ---------------------
    "events_concurrency" -> { (s, dir) =>
      // Per-day peak concurrent sessions: sessionize → closed intervals →
      // sweep line with per-day parallel running sums and a control-plane
      // day-carry prefix (never a global single-reducer window). The
      // oracle replays the same sweep with plain global windows — equal
      // maxima prove the day decomposition exact, midnight spans included.
      val sessions = graft.ext.Events.sessionize(Tables(s, dir, "events"))
      graft.ext.Events.maxConcurrency(sessions, "session_start", "session_end")
    },

    // --- [EXT] entity resolution scoring (ext/Dedup.scala) ---------------
    "er_match_score" -> { (s, dir) =>
      // Fellegi–Sunter linkage over a deterministic dirty copy of
      // customer: blocked on nation (equi-join — candidate pairs are
      // per-block, never N²), three field comparators (exact name,
      // segment, acctbal within 100 cents), micro-integer log-odds
      // weights, exact integer classification. The oracle mirrors the
      // corruption, the blocking, and the weight table.
      val cust = Tables(s, dir, "customer")
      val left = cust.filter(pmod(col("c_custkey"), lit(2L)) === 0L)
        .select(col("c_custkey").as("l_key"), col("c_nationkey").as("block"),
          col("c_name").as("l_name"), col("c_mktsegment").as("l_seg"),
          round(col("c_acctbal") * 100).cast("long").as("l_bal_c"))
      val right = cust.filter(pmod(col("c_custkey"), lit(3L)) === 0L)
        .select(col("c_custkey").as("r_key"), col("c_nationkey").as("block"),
          // deterministic corruption: every 5th key mangles the name,
          // every 7th shifts the balance by $3.50
          when(pmod(col("c_custkey"), lit(5L)) === 0L,
            concat(col("c_name"), lit("X"))).otherwise(col("c_name")).as("r_name"),
          col("c_mktsegment").as("r_seg"),
          (round(col("c_acctbal") * 100).cast("long") +
            when(pmod(col("c_custkey"), lit(7L)) === 0L, lit(350L)).otherwise(lit(0L)))
            .as("r_bal_c"))
      val pairs = left.join(right, Seq("block"))
        .withColumn("agree_name", col("l_name") === col("r_name"))
        .withColumn("agree_seg", col("l_seg") === col("r_seg"))
        .withColumn("agree_bal", abs(col("l_bal_c") - col("r_bal_c")) <= 100L)
      graft.ext.Dedup.fellegiSunter(pairs,
          fields = Seq(("agree_name", 4000000L, -2000000L),
            ("agree_seg", 1500000L, -1200000L),
            ("agree_bal", 2500000L, -1800000L)),
          upperMicro = 4000000L, lowerMicro = 0L)
        .select(col("l_key"), col("r_key"), col("score_micro"), col("fs_class"))
    },

    // --- [EXT] rank statistics (ops/Relational.scala) --------------------
    "q_item_cooccur" -> { (s, dir) =>
      // "Customers also bought": top-5 co-purchase neighbors per part
      // over order baskets, exact-integer cosine² ranking via the
      // k-bounded TopK aggregate; pairs with fewer than 2 shared
      // baskets pruned before ranking.
      graft.ops.Relational.itemCooccurrenceTopK(Tables(s, dir, "lineitem"),
        basketCol = "l_orderkey", itemCol = "l_partkey", k = 5, minCo = 2L)
    },
    "q_rfm_sql" -> { (s, dir) =>
      // RFM through its SQL TVF face — identical plan and oracle as
      // q_rfm (range offsets collected at analysis time).
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_rfm_v", Tables(s, dir, "orders")) { v =>
        s.sql(s"""SELECT * FROM graft_rfm('$v', 'o_custkey',
          'o_orderdate', 'o_totalprice', 5)""")
      }
    },
    "q_cooccur_sql" -> { (s, dir) =>
      // Item co-occurrence through its SQL TVF face — identical plan
      // and oracle as q_item_cooccur.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_cooccur_v", Tables(s, dir, "lineitem")) { v =>
        s.sql(s"""SELECT * FROM graft_item_cooccur('$v', 'l_orderkey',
          'l_partkey', 5, 2)""")
      }
    },
    "events_survival_sql" -> { (s, dir) =>
      // Kaplan-Meier through its SQL TVF face — identical plan and
      // oracle as events_survival (the same big-purchase relabeling).
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_survival_v",
          Tables(s, dir, "events").withColumn("event_type",
            when(col("event_type") === "purchase" && col("value") > 100.0,
              lit("big_purchase")).otherwise(col("event_type")))) { v =>
        s.sql(s"SELECT * FROM graft_survival('$v', 'big_purchase')")
      }
    },
    "events_survival_incremental" -> { (s, dir) =>
      // Incremental Kaplan-Meier off persisted per-user survival state
      // (min first / min conv / max last — column-wise monoids over
      // disjoint event batches): history events fold once to parquet,
      // the delta pass reads only new events, the merged state yields
      // the identical curve (events_survival's own oracle).
      val ev = Tables(s, dir, "events").withColumn("event_type",
        when(col("event_type") === "purchase" && col("value") > 100.0,
          lit("big_purchase")).otherwise(col("event_type")))
      val hist = ev.filter(pmod(col("event_id"), lit(4L)) =!= 0L)
      val delta = ev.filter(pmod(col("event_id"), lit(4L)) === 0L)
      val stateDir = scratchDir("graft_surv_state_").toString
      graft.etl.Sinks.parquetDir(
        graft.ext.Events.survivalState(hist, "big_purchase"), stateDir)
      graft.ext.Events.survivalFromState(
        graft.ext.Events.mergeSurvivalState(s.read.parquet(stateDir),
          graft.ext.Events.survivalState(delta, "big_purchase")))
    },
    "q_item_cooccur_incremental" -> { (s, dir) =>
      // Incremental co-occurrence maintenance off persisted pair/item
      // count state: history baskets (3/4 of orders) aggregate once to
      // parquet; the delta pass touches ONLY the remaining whole
      // baskets, merges additively, and re-ranks — pair counts over
      // disjoint basket sets are the monoid, so state + delta equals
      // the full recompute (q_item_cooccur's own oracle).
      val li = Tables(s, dir, "lineitem")
      val hist = li.filter(pmod(col("l_orderkey"), lit(4L)) =!= 0L)
      val delta = li.filter(pmod(col("l_orderkey"), lit(4L)) === 0L)
      val (hp, hi) = graft.ops.Relational.cooccurCounts(hist, "l_orderkey", "l_partkey")
      val pairDir = scratchDir("graft_cooccur_pairs_").toString
      val itemDir = scratchDir("graft_cooccur_items_").toString
      // hp and hi both re-execute the history distinct-baskets frame;
      // concurrent writes overlap the twin computations (wall = max)
      concurrently(
        () => graft.etl.Sinks.parquetDir(hp, pairDir),
        () => graft.etl.Sinks.parquetDir(hi, itemDir))
      val (dp, di) = graft.ops.Relational.cooccurCounts(delta, "l_orderkey", "l_partkey")
      graft.ops.Relational.cooccurTopKFromCounts(
        graft.ops.Relational.mergeCooccurPairs(s.read.parquet(pairDir), dp),
        graft.ops.Relational.mergeItemCounts(s.read.parquet(itemDir), di),
        k = 5, minCo = 2L)
    },
    "etl_compaction_plan" -> { (s, dir) =>
      // Small-file compaction planning over a deterministic sizes frame
      // (per-year order counts as stand-in bytes — the planner is pure
      // over (file, bytes), so its binning logic gets a DuckDB oracle
      // even though real file bytes are writer-dependent): files under
      // the target bin-pack by name-ordered prefix sums; right-sized
      // files pass through with a NULL group.
      val orders = Tables(s, dir, "orders")
      val target = math.max(1L, orders.count() / 4L)
      val sizes = orders
        .groupBy(concat(lit("orders_y"),
          year(col("o_orderdate")).cast("string")).as("file"))
        .agg(count(lit(1)).as("bytes"))
      graft.ops.Manifest.compactionPlan(sizes, target)
    },
    "etl_compaction_exec" -> { (s, dir) =>
      // End-to-end compaction: plan over the staged per-year files'
      // REAL byte sizes (writer-dependent, so the grouping itself is
      // not oracled), execute the rewrite, then prove the invariant
      // that IS layout-independent: compacted groups + passthrough
      // files together hold exactly the source rows (cent-quantized
      // aggregate by priority == full-table recompute).
      val staged = stageOrdersByYear(s, dir)
      val sizes = graft.ops.Manifest.fileSizes(s, staged)
      val total = sizes.agg(sum(col("bytes"))).head().getLong(0)
      val plan = graft.ops.Manifest.compactionPlan(sizes, math.max(1L, total / 4L))
      val outDir = scratchDir("graft_compact_out_").toString
      graft.ops.Manifest.compact(s, plan, outDir)
      val passFiles = plan.filter(col("group_id").isNull)
        .select("file").collect().map(_.getString(0)) // control-plane: #files
      val compacted = s.read.parquet(outDir + "/group_*")
      val all = if (passFiles.isEmpty) compacted
        else compacted.unionByName(s.read.parquet(passFiles.toIndexedSeq: _*))
      all.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    },
    "q_assoc_rules" -> { (s, dir) =>
      // Market-basket association rules: top-3 consequents per
      // antecedent part by exact-integer confidence, with support and
      // lift — the directed companion of q_item_cooccur.
      graft.ops.Relational.associationRules(Tables(s, dir, "lineitem"),
        basketCol = "l_orderkey", itemCol = "l_partkey", k = 3, minCo = 2L)
    },
    "q_rfm" -> { (s, dir) =>
      // RFM quintile segmentation of customers over their orders
      // (recency reversed so freshest = 5; cent-quantized monetary).
      // The quantile index comes from the range-partitioned global row
      // number + the SQL-standard NTILE split — never a single-
      // partition window — so the plan survives a billion entities.
      // Oracle = DuckDB NTILE over the identical total orders.
      graft.ops.Relational.rfmSegments(Tables(s, dir, "orders"),
        idCol = "o_custkey", dateCol = "o_orderdate",
        amountCol = "o_totalprice")
    },
    "q_spearman" -> { (s, dir) =>
      // Per-flag Spearman rank correlation, tie-correct (Pearson over
      // doubled average ranks), every power sum exact in DECIMAL(38,0)
      // — the overflow-proof arithmetic the kappa/KS fixes standardized.
      graft.ops.Relational.spearmanPerGroup(Tables(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_quantity", "l_extendedprice")
    },
    "ts_forecast_error" -> { (s, dir) =>
      // MASE denominators for the smoothing family: naive and
      // weekly-seasonal-naive MAE of the daily per-type count series —
      // exact |error| ints, one exact division per key.
      val ev = Tables(s, dir, "events")
      val daily = ev.groupBy(col("event_type"),
          call_function("div", tsEpochSec(ev.schema), lit(86400L)).as("day"))
        .agg(count(lit(1)).as("x"))
      graft.ops.TimeSeries.forecastBaselineErrors(daily, "event_type",
        "day", "x", season = 7)
    },
    "ts_backtest_folds" -> { (s, dir) =>
      // Rolling-origin backtest assignment over the same daily series:
      // 3 folds, 7-day horizon, per-key t_max — train/test roles with
      // future rows structurally excluded per fold.
      val ev = Tables(s, dir, "events")
      val daily = ev.groupBy(col("event_type"),
          call_function("div", tsEpochSec(ev.schema), lit(86400L)).as("day"))
        .agg(count(lit(1)).as("x"))
      graft.ops.TimeSeries.rollingOriginFolds(daily, "event_type", "day",
        folds = 3, horizon = 7L)
    },
    "ts_ewma" -> { (s, dir) =>
      // EWMA smoothing (alpha = 0.25) of the daily per-type count
      // series: the exact stepwise-quantized integer recurrence — a
      // recursive-CTE oracle replays it bit-for-bit.
      val ev = Tables(s, dir, "events")
      val daily = ev.groupBy(col("event_type"),
          call_function("div", tsEpochSec(ev.schema), lit(86400L)).as("day"))
        .agg(count(lit(1)).as("x"))
      graft.ops.TimeSeries.ewma(daily, "event_type", "day", "x",
        alphaMicro = 250000L)
    },
    "ts_holt" -> { (s, dir) =>
      // Holt linear-trend smoothing (alpha = 0.3, beta = 0.1) of the
      // daily per-type count series: the exact signed stepwise-
      // quantized integer recurrence — a recursive-CTE oracle replays
      // it bit-for-bit via the identical normalized-remainder splits.
      val ev = Tables(s, dir, "events")
      val daily = ev.groupBy(col("event_type"),
          call_function("div", tsEpochSec(ev.schema), lit(86400L)).as("day"))
        .agg(count(lit(1)).as("x"))
      graft.ops.TimeSeries.holt(daily, "event_type", "day", "x",
        alphaMicro = 300000L, betaMicro = 100000L)
    },
    "ts_cusum" -> { (s, dir) =>
      // Page's CUSUM change-point detector on the daily per-type count
      // series: allowance k = mu/100, alarm threshold h = 0.3*mu, the
      // max-recursion evaluated as cumsum-minus-running-min — every
      // term an exact DECIMAL(38,0) integer, so the flagged set is a
      // pure function of the data on any engine.
      val ev = Tables(s, dir, "events")
      val daily = ev.groupBy(col("event_type"),
          call_function("div", tsEpochSec(ev.schema), lit(86400L)).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.cusum(daily, "event_type", "day", "n",
        kNum = 1L, kDen = 100L, hNum = 3L, hDen = 10L)
    },
    "ts_cusum_sql" -> { (s, dir) =>
      // CUSUM through its SQL TVF face — identical plan and oracle as
      // ts_cusum.
      graft.GraftExtensions.register(s)
      val ev = Tables(s, dir, "events")
      withFreshView(s, "graft_cusum_series_v", ev.groupBy(col("event_type"),
            call_function("div", tsEpochSec(ev.schema), lit(86400L)).as("day"))
          .agg(count(lit(1)).as("n"))) { v =>
        s.sql(s"SELECT * FROM graft_cusum('$v', 'event_type', 'day', 'n', 1, 100, 3, 10)")
      }
    },
    "ts_ccf" -> { (s, dir) =>
      // Cross-correlation between the daily click and purchase count
      // series per user segment, lags -7..+7 (positive lag = clicks
      // lead purchases): exact micro-int power sums over the paired
      // sub-series, one lag Expand + one equi-join, the final ratio
      // the only float — micro-quantized like spearman's rho.
      val ev = Tables(s, dir, "events")
      val daily = ev.groupBy(pmod(col("user_id"), lit(4L)).as("seg"),
          call_function("div", tsEpochSec(ev.schema), lit(86400L)).as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      graft.ops.TimeSeries.ccf(daily, "seg", "day", "x", "y", maxLag = 7)
    },
    "ts_ccf_incremental" -> { (s, dir) =>
      // The same cross-correlation off PERSISTED per-slice daily
      // (seg, day, x, y) count states — the incremental twin of
      // ts_ccf: three event tiles each fold to a daily-count state
      // written through the parquet sink; the CCF is computed from the
      // STORED states only (counts are a monoid, so the merge exactly
      // equals the one-shot rollup) — shared oracle with ts_ccf.
      val ev = Tables(s, dir, "events")
      val stateDir = scratchDir("graft_ccf_state_").toString
      def daily(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(pmod(col("user_id"), lit(4L)).as("seg"),
            call_function("div", tsEpochSec(ev.schema), lit(86400L)).as("day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      (0 until 3).foreach { d =>
        graft.etl.Sinks.parquetDir(
          daily(ev.filter(pmod(col("event_id"), lit(3L)) === d)),
          s"$stateDir/day=$d")
      }
      val merged = s.read
        .parquet(s"$stateDir/day=0", s"$stateDir/day=1", s"$stateDir/day=2")
        .groupBy("seg", "day").agg(sum("x").as("x"), sum("y").as("y"))
      graft.ops.TimeSeries.ccf(merged, "seg", "day", "x", "y", maxLag = 7)
    },
    "ts_ohlc" -> { (s, dir) =>
      // OHLC candlestick bars: per (event_type, hour), open/close at
      // the min/max (ts, event_id) order key via single-shuffle
      // min_by/max_by — no window sort — plus exact micro-int volume.
      graft.ops.TimeSeries.ohlcBars(Tables(s, dir, "events"),
        keyCol = "event_type", tsCol = "ts", idCol = "event_id",
        valCol = "value", widthSec = 3600L)
    },
    "ts_twap" -> { (s, dir) =>
      // Time-weighted average per event type: each value held until
      // the type's next observation (lead), numerator in
      // decimal(38,0), final division as the exact floor-divmod split
      // rounded half-up — bit-identical in any engine.
      graft.ops.TimeSeries.twap(Tables(s, dir, "events"),
        keyCol = "event_type", tsCol = "ts", idCol = "event_id",
        valCol = "value")
    },
    "ts_ohlc_incremental" -> { (s, dir) =>
      // OHLC bars off PERSISTED per-day state — the incremental twin
      // of ts_ohlc: three event tiles each fold to an ohlcState
      // written through the parquet sink; the bars are computed from
      // the STORED states only (state files in the lineage, events
      // never re-read), and the (t_us, id, v)-struct min/max monoid
      // makes the merge EXACTLY equal the one-shot rollup — shared
      // oracle with ts_ohlc.
      val ev = Tables(s, dir, "events")
      val stateDir = scratchDir("graft_ohlc_state_").toString
      (0 until 3).foreach { d =>
        graft.etl.Sinks.parquetDir(
          graft.ops.TimeSeries.ohlcState(
            ev.filter(pmod(col("event_id"), lit(3L)) === d),
            "event_type", "ts", "event_id", "value", widthSec = 3600L),
          s"$stateDir/day=$d")
      }
      graft.ops.TimeSeries.ohlcFromState(
        graft.ops.TimeSeries.mergeOhlcStates(
          s.read.parquet(s"$stateDir/day=0", s"$stateDir/day=1",
            s"$stateDir/day=2")))
    },
    "ts_decompose" -> { (s, dir) =>
      // Classical additive seasonal decomposition of the hourly per-type
      // count series, period 24: zero-filled grid (a missing bucket of a
      // COUNT series is truly zero), centered weighted MA trend kept as
      // an exact ×48 integer numerator, per-hour-of-day seasonal index
      // from the detrended values — the one float is the final mean,
      // micro-quantized.
      val ev = Tables(s, dir, "events")
      val hourly = ev.groupBy(col("event_type"),
          call_function("div", tsEpochSec(ev.schema), lit(3600L)).as("t"))
        .agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.classicalSeasonal(hourly, "event_type", "t", "n",
        period = 24)
    },
    "geo_hotspot" -> { (s, dir) =>
      // Spatial hotspot cells: 3×3 neighborhood density vs the global
      // cell average, exact integer cross-multiplied threshold (3/2) and
      // integer-division hot_micro — no float at the decision boundary.
      graft.ops.Geo.hotspotCells(
        geoPoints(Tables(s, dir, "customer"), "c_custkey")
          .select(col("lat_u"), col("lon_u")),
        "lat_u", "lon_u", cellMicro = 5000L, factorNum = 3L, factorDen = 2L)
    },
    "events_runlength" -> { (s, dir) =>
      // Run-length compression of per-user event sequences — consecutive
      // same-type events collapse to (type, run_len, t_start, t_end)
      // runs in exact (ts, event_id) order.
      graft.ext.Events.runLength(Tables(s, dir, "events"))
    },
    "events_lift" -> { (s, dir) =>
      // Session-level co-occurrence lift per unordered event-type pair:
      // exact integer counts and the exact division n_ab·N·10⁶ div
      // (n_a·n_b) — the market-basket measure over sessionized visits.
      graft.ext.Events.sessionLift(Tables(s, dir, "events"))
    },
    "text_collocations" -> { (s, dir) =>
      // Dunning G² bigram collocations over the corpus: exact contingency
      // counts from one in-row bigram zip, margins before the min-count
      // cut, micro-quantized log-likelihood ratio.
      graft.ext.TextAnalysis.collocations(Tables(s, dir, "documents"),
        minCount = 5L)
    },
    "q_geo_radius_sql" -> { (s, dir) =>
      // The grid radius join through its SQL TVF face — identical plan
      // and oracle as geo_radius_join (plan parity in GraftExtensionsSpec).
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_geo_cust_v",
          geoPoints(Tables(s, dir, "customer"), "c_custkey")) { cv =>
        withFreshView(s, "graft_geo_supp_v",
            geoPoints(Tables(s, dir, "supplier"), "s_suppkey")) { sv =>
          s.sql(s"""
            SELECT c_custkey, s_suppkey, dist2
            FROM graft_geo_radius('$cv', '$sv', 'lat_u', 'lon_u', 2000)
          """)
        }
      }
    },
    "geo_hotspot_incremental" -> { (s, dir) =>
      // Incremental hotspot maintenance off persisted cell-count state:
      // day-N cells written to parquet, day-N+1 re-reads that state and
      // merges a cells pass over the DELTA points only — the merged
      // frame's lineage contains the state files and the delta scan,
      // never the history points again. Per-cell counts are the monoid,
      // so state + delta hash-matches the full recompute (geo_hotspot's
      // own oracle).
      val pts = geoPoints(Tables(s, dir, "customer"), "c_custkey")
      val hist = pts.filter(pmod(col("c_custkey"), lit(4L)) =!= 0L)
        .select(col("lat_u"), col("lon_u"))
      val delta = pts.filter(pmod(col("c_custkey"), lit(4L)) === 0L)
        .select(col("lat_u"), col("lon_u"))
      val stateDir = scratchDir("graft_geo_cells_").toString
      graft.etl.Sinks.parquetDir(
        graft.ops.Geo.cellCounts(hist, "lat_u", "lon_u", cellMicro = 5000L),
        stateDir)
      val merged = graft.ops.Geo.mergeCellCounts(s.read.parquet(stateDir),
        graft.ops.Geo.cellCounts(delta, "lat_u", "lon_u", cellMicro = 5000L))
      graft.ops.Geo.hotspotFromCells(merged, factorNum = 3L, factorDen = 2L)
    },
    "text_colloc_incremental" -> { (s, dir) =>
      // Incremental collocation maintenance off persisted bigram-count
      // state: margins and the total are pure re-aggregations of the
      // count frame, so stored counts + a delta-only tokenization pass
      // equal the full-corpus G² exactly (text_collocations's oracle).
      val docs = Tables(s, dir, "documents")
      val hist = docs.filter(pmod(col("doc_id"), lit(4L)) =!= 0L)
      val delta = docs.filter(pmod(col("doc_id"), lit(4L)) === 0L)
      val stateDir = scratchDir("graft_bigram_state_").toString
      graft.etl.Sinks.parquetDir(
        graft.ext.TextAnalysis.bigramCounts(hist), stateDir)
      val merged = graft.ext.TextAnalysis.mergeBigramCounts(
        s.read.parquet(stateDir), graft.ext.TextAnalysis.bigramCounts(delta))
      graft.ext.TextAnalysis.collocationsFromCounts(merged, minCount = 5L)
    },
    "ts_theil_sen" -> { (s, dir) =>
      // Robust trend of the daily per-type counts: median of all pairwise
      // slopes — pairs quadratic in the DAY count (30), not in events;
      // positional median of engine-deterministic exact-ratio doubles.
      val ev = Tables(s, dir, "events")
      val daily = ev.groupBy(col("event_type"),
          call_function("div", tsEpochSec(ev.schema), lit(86400L)).as("day"))
        .agg(count(lit(1)).as("n_events"))
      graft.ops.TimeSeries.theilSen(daily, "event_type", "day", "n_events")
    },
    "er_soundex" -> { (s, dir) =>
      // Soundex phonetic keys over the corpus word vocabulary (part
      // name words + document tokens, pure [a-z]+): per-word code and
      // block size. The oracle replays the EXACT builtin convention
      // (first letter + consonant-class digits, adjacent same-class
      // collapsed, h/w transparent, vowels resetting) as a
      // character-stepping recursive CTE — so every word is a
      // cross-engine agreement on the full algorithm, including the
      // h/w and first-letter-collapse quirks.
      val p = Tables(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
      val d = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select(explode(filter(
          graft.ext.TextAnalysis.tokens(lower(col("text"))),
          t => length(t) > 0)).as("word"))
      val words = p.union(d).filter(col("word").rlike("^[a-z]+$")).distinct()
      val keyed = words.withColumn("sx", soundex(col("word")))
      keyed.join(keyed.groupBy("sx").agg(count(lit(1)).as("block_n")),
        Seq("sx"))
        .select(col("word"), col("sx"), col("block_n"))
    },
    "er_blocking_recall" -> { (s, dir) =>
      // Pair-completeness audit of a blocking scheme: ground truth =
      // same-entity pairs across the two er_match_score copies (same
      // custkey); candidate blocking = equal $1000 balance band — the
      // %7 balance corruption pushes some true pairs across a band
      // boundary, so recall is genuinely < 1. Exact integer counts and
      // division; the one-row × one-row cross join is control-plane.
      val cust = Tables(s, dir, "customer")
      val bal = round(col("c_acctbal") * 100).cast("long")
      val left = cust.filter(pmod(col("c_custkey"), lit(2L)) === 0L)
        .select(col("c_custkey").as("l_key"),
          call_function("div", bal, lit(100000L)).as("l_band"))
      val right = cust.filter(pmod(col("c_custkey"), lit(3L)) === 0L)
        .select(col("c_custkey").as("r_key"),
          call_function("div",
            bal + when(pmod(col("c_custkey"), lit(7L)) === 0L, lit(350L))
              .otherwise(lit(0L)), lit(100000L)).as("r_band"))
      val truth = left.join(right, col("l_key") === col("r_key"))
      val found = truth.filter(col("l_band") === col("r_band"))
      // NULLIF guard: at a degenerate SF with zero truth pairs both
      // faces degrade identically to recall_micro = NULL (DuckDB's //
      // would otherwise raise where Spark's div yields NULL)
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .select(col("n_truth"), col("n_found"),
          call_function("div", col("n_found") * lit(1000000L),
            call_function("nullif", col("n_truth"), lit(0L)))
            .as("recall_micro"))
    },
    "events_funnel_latency" -> { (s, dir) =>
      // Exact positional p50/p90 of the view→click and click→purchase
      // step latencies over completing users — the time-to-convert face
      // of the funnel, no interpolation, engine-exact.
      graft.ext.Events.funnelLatency(Tables(s, dir, "events"),
        steps = Seq("view", "click", "purchase"))
    },
    "sample_temperature" -> { (s, dir) =>
      // Temperature-scaled domain mixing (p ∝ n^0.5 — up-samples small
      // languages): one pow() micro-quantized immediately, then exact
      // integer largest-remainder apportionment in DECIMAL(38,0) and
      // the keyed-hash deterministic per-group pick.
      graft.ext.Curation.temperatureQuota(Tables(s, dir, "documents"),
        groupCol = "lang", idCol = "doc_id", total = 250L, tau = 0.5)
    },
    "sample_token_budget" -> { (s, dir) =>
      // Token-budget mixing (the production unit: budgets in tokens,
      // p ∝ mass^0.5 up-samples small languages): exact integer
      // largest-remainder apportionment of 8000 tokens across langs,
      // keyed-hash order within each, taken while the running count
      // BEFORE the doc sits under the quota — whole documents only.
      graft.ext.Curation.tokenBudgetQuota(Tables(s, dir, "documents"),
        groupCol = "lang", idCol = "doc_id", totalTokens = 8000L, tau = 0.5)
    },
    "curation_dsir" -> { (s, dir) =>
      // DSIR importance selection: candidates (doc_id%3==2) ranked by
      // nll_raw − nll_target under two add-one bigram models (in-domain
      // = the English %3==0 slice, raw = the %3==1 slice); exact nano
      // integers end-to-end, k-bounded TopK selection — no global sort.
      val d = Tables(s, dir, "documents")
      graft.ext.Curation.dsirSelect(
        cand = d.filter(pmod(col("doc_id"), lit(3L)) === 2L),
        targetRef = d.filter(pmod(col("doc_id"), lit(3L)) === 0L &&
          col("lang") === "en"),
        rawRef = d.filter(pmod(col("doc_id"), lit(3L)) === 1L),
        topN = 100)
    },
    "text_ppl_filter" -> { (s, dir) =>
      // CCNet perplexity tiers (Wenzek et al. 2020): candidates
      // (doc_id % 3 != 0) scored under the English %3==0 reference
      // bigram LM; per-language NTILE(3) head/middle/tail over the
      // exact nano per-pair NLL — the "keep each language's perplexity
      // head" selection mechanic.
      val d = Tables(s, dir, "documents")
      graft.ext.Curation.perplexityBuckets(
        cand = d.filter(pmod(col("doc_id"), lit(3L)) =!= 0L),
        ref = d.filter(pmod(col("doc_id"), lit(3L)) === 0L &&
          col("lang") === "en"))
    },
    "curation_doremi" -> { (s, dir) =>
      // DoReMi mixture update: a weak proxy LM (the small %5==0 slice)
      // and a strong reference LM (%5 in {1,2}) score the candidate
      // slice (%5 in {3,4}); per-lang mean clipped excess NLL drives
      // one exponentiated-gradient re-weighting (η = 1) and a 300-slot
      // largest-remainder apportionment. Exact nano/micro integers
      // everywhere except the single micro-quantized exp().
      val d = Tables(s, dir, "documents")
      graft.ext.Curation.doremiReweight(
        cand = d.filter(pmod(col("doc_id"), lit(5L)).isin(3L, 4L)),
        proxyRef = d.filter(pmod(col("doc_id"), lit(5L)) === 0L),
        strongRef = d.filter(pmod(col("doc_id"), lit(5L)).isin(1L, 2L)),
        domainCol = "lang", total = 300L)
    },
    "q_spearman_sql" -> { (s, dir) =>
      // Spearman through its SQL TVF face — identical plan and oracle
      // as q_spearman.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_spearman_v", Tables(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))) { v =>
        s.sql(s"""
          SELECT * FROM graft_spearman('$v', 'l_returnflag',
            'l_quantity', 'l_extendedprice')
        """)
      }
    },
    "ts_acf_sql" -> { (s, dir) =>
      // ACF through its SQL TVF face — identical plan and oracle as
      // ts_acf (the hourly series view is prepared SQL-side too).
      graft.GraftExtensions.register(s)
      val ev = Tables(s, dir, "events")
      withFreshView(s, "graft_acf_series_v", ev.groupBy(col("event_type"),
            call_function("div", tsEpochSec(ev.schema), lit(3600L)).as("t"))
          .agg(sum(col("value").cast("decimal(18,6)")).as("x"))) { v =>
        s.sql(s"SELECT * FROM graft_acf('$v', 'event_type', 't', 'x', 3)")
      }
    },
    "geo_hotspot_sql" -> { (s, dir) =>
      // The hotspot test through its SQL TVF face — identical plan and
      // oracle as geo_hotspot.
      graft.GraftExtensions.register(s)
      withFreshView(s, "graft_hotspot_pts_v",
          geoPoints(Tables(s, dir, "customer"), "c_custkey")
            .select(col("lat_u"), col("lon_u"))) { v =>
        s.sql(s"""
          SELECT * FROM graft_geo_hotspot('$v', 'lat_u', 'lon_u', 5000, 3, 2)
        """)
      }
    },
    "geo_fence" -> { (s, dir) =>
      // Exact geofence: point-in-convex-polygon decided by per-edge
      // int64 cross products — boundary-inclusive, zero float, zero
      // shuffle (a codegen'd conjunction riding the scan). The oracle
      // spells the same five cross products (generated from the SAME
      // vertex constant, so they cannot drift).
      graft.ops.Geo.pointInConvexPolygon(
        geoPoints(Tables(s, dir, "customer"), "c_custkey"),
        "lat_u", "lon_u", GeoFenceVertices)
        .select(col("c_custkey"), col("inside"))
    },
    "stream_dbscan_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Spatial clustering off STREAMED state: the same versioned
        // cell-count gate stream_hotspot_gate folds (per-cell counts
        // are one monoid serving both tests); after the replay drains,
        // grid-DBSCAN runs over the committed summaries only. minPts
        // 25 sits at the sf0.01 Poisson mean — roughly half the cells
        // are dense, so the component structure is non-trivial.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
          .select(pmod(col("event_id") * lit(40503L), lit(100000L)).as("lat_u"),
            pmod(col("event_id") * lit(69069L), lit(100000L)).as("lon_u"))
        val stateDir = scratchDir("graft_dbscan_state_").toString
        val ckpt = scratchDir("graft_dbscan_ckpt_").toString
        graft.streaming.StreamingOps.hotspotGate(stream, "lat_u", "lon_u",
          cellMicro = 5000L, stateDir, ckpt)
        graft.ops.Geo.dbscanFromCells(
          graft.streaming.StreamingOps.readSnapshot(s, stateDir), minPts = 25L)
      }
    },
    "stream_asof" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Streaming as-of enrichment (flatMapGroupsWithState, append):
        // every click is enriched with the user's latest purchase
        // strictly before it in the (ts_sec, event_id) total order.
        // State = ONE last-seen record per user (a stream-stream join
        // would buffer a whole lookback of both sides); arrival is
        // time-ordered via the 3-file replay, so the drained output
        // equals the batch windowed as-of — the oracle's argmax face.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
          .withColumn("ts_sec", unix_timestamp(col("ts")))
        val out = graft.streaming.StreamingOps
          .asofEnrichStream(stream, leftType = "click", rightType = "purchase")
          .toDF()
        val name = s"graft_stream_asof_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(out, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        s.table(name)
      }
    },
    "graph_clustering_coef" -> { (s, dir) =>
      // Per-node local clustering coefficient on the part co-occurrence
      // graph: 2·triangles/(deg·(deg−1)) as an exact integer division —
      // composes the degree-oriented triangle count with one degree
      // aggregation; degree-1 nodes have no coefficient.
      graft.ops.Graph.clusteringCoefficient(partPairs(s, dir))
    },
    "graph_link_jaccard" -> { (s, dir) =>
      // Link prediction over the part-supplier bipartite incidence
      // (2% part slice keeps wedge volume honest — the degree-cap move
      // every production link predictor makes): shared-neighbor count,
      // exact-integer Jaccard, and nano-quantized Adamic-Adar.
      val inc = Tables(s, dir, "lineitem")
        .filter(pmod(col("l_partkey"), lit(50L)) === 0L)
        .select(col("l_partkey").as("l"), col("l_suppkey").as("r"))
      graft.ops.Graph.linkPrediction(inc, "l", "r")
    },
    "events_paths" -> { (s, dir) =>
      // Frequent 3-step session paths: consecutive event-type trigrams
      // within gap-sessions, counted corpus-wide — the unprompted-flow
      // face of funnel analysis. Day-scale gap (the fixture's inter-event
      // spacing is hours): the default 30-min gap leaves single-event
      // sessions and a vacuous result at sf0.01.
      graft.ext.Events.sessionTrigrams(Tables(s, dir, "events"), minCount = 5L,
        gapSeconds = 86400L)
    },
    "geo_dbscan" -> { (s, dir) =>
      // Grid-DBSCAN spatial clustering: dense cells (>= 5 points) union
      // across 8-neighborhoods into clusters labeled by the MIN packed
      // cell id — pointer-jumping components over the aggregate-sized
      // dense-cell graph; oracle = recursive-CTE transitive closure
      // (the dedup_clusters discipline). Sparse cells are noise.
      graft.ops.Geo.dbscanCells(
        geoPoints(Tables(s, dir, "customer"), "c_custkey")
          .select(col("lat_u"), col("lon_u")),
        "lat_u", "lon_u", cellMicro = 5000L, minPts = 5L)
    },
    "stream_hotspot_gate" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Hotspot-on-arrival: the geo_hotspot scenario with points
        // arriving as a 3-file stream; microbatches fold per-cell
        // counts into persisted state (foreachBatch, versioned-dir +
        // marker exactly-once), the result is the hotspot test over
        // summaries only. Cell counts merge as a monoid, so the gate
        // hash-matches the batch recompute over the full stream.
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
          .select(pmod(col("event_id") * lit(40503L), lit(100000L)).as("lat_u"),
            pmod(col("event_id") * lit(69069L), lit(100000L)).as("lon_u"))
        val stateDir = scratchDir("graft_hotspot_state_").toString
        val ckpt = scratchDir("graft_hotspot_ckpt_").toString
        graft.streaming.StreamingOps.hotspotGate(stream, "lat_u", "lon_u",
          cellMicro = 5000L, stateDir, ckpt)
        graft.streaming.StreamingOps.hotspotGateResult(s, stateDir,
          factorNum = 3L, factorDen = 2L)
      }
    },
    "stream_runlength" -> { (s0, dir) =>
      withStreamSession(s0, 4) { s =>
        // Streaming run-length compression (flatMapGroupsWithState,
        // append mode, EventTimeTimeout) through a 3-file time-ordered
        // replay: runs that span microbatches continue from per-user
        // state; a run emits when its successor's type differs. A 4th
        // replay file carries one watermark-raising heartbeat (user_id
        // = -1, ts past every possible idle-gap expiry), so every
        // user's final open run times out, emits, and evicts its state
        // — drained output == the FULL batch runLength (the
        // events_runlength oracle, no open-run carve-out). gapSec (40
        // days) exceeds the fixture's 30-day span, so no real user
        // ever goes idle mid-replay.
        val gapSec = 40L * 86400L
        val (replayDir, schema) = timeOrderedEventReplay(s, dir, parts = 3)
        val evRaw = Tables(s, dir, "events")
        val maxSec = evRaw.agg(max(unix_timestamp(tsSecondTrunc(evRaw.schema))))
          .head().getLong(0)
        appendHeartbeatFile(s, replayDir, schema, maxSec + gapSec + 100L, pos = 3)
        val stream = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(replayDir)
          .withColumn("ts_sec", unix_timestamp(col("ts")))
        val out = graft.streaming.StreamingOps
          .runLengthStream(stream, gapSec = gapSec).toDF()
        val name = s"graft_stream_runlength_${streamRunSeq.incrementAndGet()}"
        graft.streaming.StreamingOps.runToMemory(out, name,
          org.apache.spark.sql.streaming.OutputMode.Append())
        s.table(name)
      }
    },
  )

  /** Deterministic key-derived micro-degree point lattice over a 0.1°
    * square — the shared synthetic-coordinate face of the geo queries
    * (the fixtures carry no native coordinates; both engines derive the
    * identical lattice from the integer keys, so the oracle comparison
    * stays exact). */
  private def geoPoints(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol),
      pmod(col(keyCol) * lit(40503L), lit(100000L)).as("lat_u"),
      pmod(col(keyCol) * lit(69069L), lit(100000L)).as("lon_u"))

  /** Memory-sink names must be fresh per invocation (bench warm-up + two
    * timed passes reuse one session). */
  private val streamRunSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** JVM-lifetime scratch root for every query-created staging / state /
    * checkpoint directory, removed by a shutdown hook — repeated
    * invocations (bench warm-up + timed passes) stage fresh dirs per run
    * (concurrency-safe) but can no longer orphan temp state on disk. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(); ()
      }
      rm(root.toFile)
    }))
    root
  }

  private def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  /** Shared sentence-bearing fixture for the sentence-span dedup
    * family: the documents text carries no punctuation, so
    * sentence-bearing text is synthesized from doc_id arithmetic
    * IDENTICALLY in both engines — ~10 docs per doc_id%50 bucket share
    * a sentence triple (corpus-wide duplicate spans), a per-pair
    * 'delta' sentence duplicates across doc_id%250 partners, even docs
    * append one extra sentence so span counts vary, and doc_id%7==3
    * docs carry a SINGLE sentence (below the 3-span floor) to exercise
    * the short-document n_spans=0 contract. */
  private def sentenceSpanFixture(d: DataFrame): DataFrame = {
    val b = pmod(col("doc_id"), lit(50L)).cast("string")
    val u = pmod(col("doc_id"), lit(250L)).cast("string")
    val even = pmod(col("doc_id"), lit(2L)) === 0
    val text = when(pmod(col("doc_id"), lit(7L)) === 3,
        concat(lit("solo "), u, lit(".")))
      .otherwise(concat(
        lit("alpha "), b, lit(". beta "), b, lit("! gamma "), b,
        lit(". delta "), u, lit("?"),
        when(even, concat(lit(" omega "), b, lit("."))).otherwise(lit(""))))
    d.select(col("doc_id"), text.as("text"))
  }

  /** Shared multi-line crawl-style fixture for the C4 line-clean
    * family: a good terminated line, a too-short line, an unterminated
    * line, a javascript notice (doc_id%4), a double-spaced good line, a
    * third good line on even docs (page survives at >= 3 sentences), a
    * lorem-ipsum line (%11) and a brace line (%13) that pass the LINE
    * rules yet kill the PAGE. concat_ws skips the conditional NULL
    * lines in both engines. */
  private def c4LineFixture(d: DataFrame): DataFrame = {
    val b = pmod(col("doc_id"), lit(50L)).cast("string")
    val u = pmod(col("doc_id"), lit(250L)).cast("string")
    val text = concat_ws("\n",
      concat(lit("The first good sentence has plenty of words b"), b, lit(".")),
      lit("too short."),
      concat(lit("this line has no terminal punctuation at all u"), u),
      when(pmod(col("doc_id"), lit(4L)) === 0,
        lit("Please enable JavaScript to view the content.")),
      concat(lit("Another  complete sentence closes the paragraph u"), u, lit("!")),
      when(pmod(col("doc_id"), lit(2L)) === 0,
        concat(lit("A third proper sentence makes the page survive b"), b, lit("."))),
      when(pmod(col("doc_id"), lit(11L)) === 0,
        lit("lorem ipsum dolor sit amet filler text.")),
      when(pmod(col("doc_id"), lit(13L)) === 0,
        lit("code sample { return x } end.")))
    d.select(col("doc_id"), text.as("text"))
  }

  /** Shared fixture for the dictionary-tag/blocklist family: the
    * fixture vocabulary carries no blockable terms, so case- and
    * punctuation-bearing splices ride doc_id-derived buckets —
    * appended IDENTICALLY in both engines (the piiRedact salting
    * pattern). */
  private val dictTagFixture = Seq("spark", "dup", "batch batch",
    "gambling", "online casino", "casino bonus", "ord", "quantum flux")

  private def dictTagSalted: org.apache.spark.sql.Column = concat(col("text"),
    when(pmod(col("doc_id"), lit(3L)) === 0, lit(" ...Gambling!"))
      .otherwise(lit("")),
    when(pmod(col("doc_id"), lit(5L)) === 0, lit(" Online, CASINO bonus?"))
      .otherwise(lit("")))

  /** Registers `df` under a per-invocation temp-view name (`base` +
    * unique suffix) and passes the name to `body` — concurrent
    * invocations of the same SQL-TVF row on a shared session cannot
    * race view replacement. spark.sql binds views eagerly, so the view
    * is dropped as soon as the frame is built. */
  private def freshViewName(base: String): String =
    s"${base}_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  private def withFreshView(s: SparkSession, base: String, df: DataFrame)(
      body: String => DataFrame): DataFrame = {
    val v = freshViewName(base)
    df.createOrReplaceTempView(v)
    try body(v) finally s.catalog.dropTempView(v)
  }

  /** The events fixture's `ts` has shipped in two encodings across driver
    * drops: TIMESTAMP(NANOS), which Spark reads as a nanosecond LONG under
    * spark.sql.legacy.parquet.nanosAsLong, and native micros
    * TIMESTAMP(_NTZ). Every consumer of event time goes through one of
    * these three faces so both encodings produce identical results (the
    * session timezone is pinned UTC, so the NTZ reading is unambiguous —
    * same convention as `Events.tsSec`). Integer `div` for the nano path:
    * float division of ~1.7e18 longs corrupts second boundaries. */
  private def tsIsNanoLong(schema: org.apache.spark.sql.types.StructType): Boolean =
    schema("ts").dataType == org.apache.spark.sql.types.LongType

  private def tsEpochSec(schema: org.apache.spark.sql.types.StructType,
      c: String = "ts"): org.apache.spark.sql.Column =
    if (tsIsNanoLong(schema)) call_function("div", col(c), lit(1000000000L))
    else unix_timestamp(col(c))

  /** Event time truncated to whole seconds as a TimestampType column —
    * the portable contract for windowed/streaming rows (oracle side:
    * FLOOR(EPOCH(ts))). */
  private def tsSecondTrunc(schema: org.apache.spark.sql.types.StructType,
      c: String = "ts"): org.apache.spark.sql.Column =
    timestamp_seconds(tsEpochSec(schema, c))

  /** Full-precision event time as TimestampType (micros — Spark's native
    * resolution; the nano path truncates nanos→micros exactly like the
    * parquet micros writer would). */
  private def tsMicros(schema: org.apache.spark.sql.types.StructType,
      c: String = "ts"): org.apache.spark.sql.Column =
    if (tsIsNanoLong(schema)) timestamp_micros(call_function("div", col(c), lit(1000L)))
    else col(c).cast("timestamp")

  /** Run `body` on an ISOLATED clone of `s` (`newSession()`: shared
    * SparkContext and cached data, fresh SQLConf/catalog) with
    * `spark.sql.shuffle.partitions` pinned to `n`. A streaming query
    * fixes its STATE STORE partition count from session conf at start,
    * and every microbatch then pays per-partition state/commit
    * overhead — at the fixture's scale (thousands of rows, 3-4
    * microbatches) 32 partitions are pure fixed cost; a production
    * deployment starts its long-lived query under its session's real
    * setting. Cloning instead of set/restore-in-finally means a
    * concurrent query on `s` can NEVER observe the scoped-down value —
    * there is no mutation window at all (the hazard class removed from
    * `Dedup.components` in an earlier round). The parent's runtime conf
    * is mirrored onto the clone first, so the body keeps the caller's
    * semantics (timezone, legacy parquet handling) even when those were
    * set after session build. */
  private def withStreamSession[T](s: SparkSession, n: Int)(body: SparkSession => T): T = {
    val iso = s.newSession()
    s.conf.getAll.foreach { case (k, v) =>
      if (!iso.conf.getOption(k).contains(v))
        try iso.conf.set(k, v) catch { case _: Exception => () } // static conf: keep default
    }
    iso.conf.set("spark.sql.shuffle.partitions", n.toString)
    body(iso)
  }

  /** Concurrent mod-filtered tile staging: each index writes ONE
    * independent single-file tile (own scratch dir, distinct dest
    * name), and every gate these tiles feed folds a commutative monoid
    * (corpus sums / count cells / histograms; IVF assignment is a pure
    * function of the fixed centroids), so replay ORDER is immaterial —
    * the tiles stage concurrently and the wall cost of the N source
    * re-scans is the max, not the sum. */
  private def parForeach(r: Range)(body: Int => Unit): Unit =
    concurrently(r.map(g => () => body(g)): _*)

  /** NTILE(`parts`) OVER (ORDER BY sortCols) with no single-partition
    * window: the global-window ntile the replay stagers used funneled
    * the whole frame through ONE reducer (Verify logged `WindowExec: No
    * Partition Defined ... Moving all data to a single partition` five
    * times) — at 100 TB that staging sort is wall-serial. Here the tile
    * is [[graft.ops.Relational.ntile]] over
    * [[graft.ops.Relational.rowNumberByKey]]'s range-partitioned row
    * number and its row count. Tile membership is bit-identical to the
    * window form: every call site orders by a UNIQUE key, so rank — and
    * therefore tile — is plan-independent. The range partitions are
    * fenced, so the `parts` filtered writes that consume the result
    * re-read them and number them with no exchange. */
  private def globalNtile(frame: DataFrame, parts: Int,
      sortCols: Seq[String]): DataFrame = {
    val (ranked, total) = graft.ops.Relational.rowNumberByKey(frame, None, sortCols)
    ranked.withColumn("__tile", graft.ops.Relational.ntile(col("row_num"), total, parts))
      .drop("row_num")
  }

  /** The one parquet part file a write left under `dir`. Fails loud on
    * none or several (e.g. under a session `maxRecordsPerFile`), where
    * moving only the first would silently truncate the staged data. */
  private[graft] def onlyPartFile(dir: java.io.File): java.io.File = {
    val parts = dir.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(parts.length == 1,
      s"expected exactly one part file under $dir, got ${parts.length}")
    parts.head
  }

  /** Writes `frame` as the single parquet file `dest`: one `coalesce(1)`
    * write into a fresh scratch stage, whose [[onlyPartFile]] moves to
    * `dest`. Callers that pin replay order set `dest`'s mtime after. */
  private[graft] def stageSingleFile(frame: DataFrame, dest: java.io.File): Unit = {
    val stage = scratchDir("graft_stage_").toFile
    frame.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    java.nio.file.Files.move(onlyPartFile(stage).toPath, dest.toPath)
  }

  /** Stage the events fixture as `parts` single-file parquet writes in a
    * fresh directory, one file per NTILE-by-(ts, event_id) tile, replayed
    * in `order` (tile indices; defaults to time order 1..parts). The file
    * stream source orders its backlog by modification time, so mtimes
    * ascending with position in `order` pin the replay sequence exactly:
    * time order means no row is ever late; a permutation that replays a
    * LATE tile after a later one makes its rows provably late behind the
    * advanced watermark. Harness-side prep for the multi-microbatch
    * streaming rows — not an operator. */
  private def timeOrderedEventReplay(s: SparkSession, dir: String, parts: Int,
      order: Seq[Int] = Nil): (String, org.apache.spark.sql.types.StructType) = {
    val replayOrder = if (order.nonEmpty) order else (1 to parts)
    require(replayOrder.sorted == (1 to parts),
      s"order must be a permutation of 1..$parts, got $replayOrder")
    val evRaw = Tables(s, dir, "events")
    val ev = evRaw.select(
      col("event_id"), tsSecondTrunc(evRaw.schema).as("ts"),
      col("user_id"), col("event_type"), col("value"))
    // parallel-sort ntile, fenced once for the `parts` filtered write
    // consumers (guide §2.4 multi-consumer / §2 no single-reducer sort)
    val tiled = globalNtile(ev, parts, Seq("ts", "event_id"))
    val replay = scratchDir("graft_replay_")
    val base = System.currentTimeMillis() - (parts + 1) * 60000L
    // the `parts` tile writes are INDEPENDENT jobs over the fenced tiled
    // frame (own scratch dir, distinct dest name) and every mtime is an
    // explicit function of `pos` — not of when the write lands — so the
    // replay sequence the mtimes pin is identical under concurrent
    // writes; wall cost is the max tile, not the sum (guide §2.6)
    concurrently(replayOrder.zipWithIndex.map { case (tile, pos) => () => {
      val dest = new java.io.File(replay.toFile, f"events_$pos%02d.parquet")
      stageSingleFile(tiled.filter(col("__tile") === tile).drop("__tile"), dest)
      require(dest.setLastModified(base + (pos + 1) * 60000L), s"cannot set mtime on $dest")
    }}: _*)
    (replay.toString, ev.schema)
  }

  /** Appends one watermark-raising heartbeat row (user_id = -1, event
    * time = `tsSec`) as a trailing replay file: stateful operators with
    * event-time timeouts (runLengthStream) need the watermark to pass
    * every armed expiry before the final drain, and a file source only
    * advances the watermark on data. The row is punctuation — operators
    * skip `user_id < 0` — so it never lands in the result. */
  private def appendHeartbeatFile(s: SparkSession, replayDir: String,
      schema: org.apache.spark.sql.types.StructType, tsSec: Long,
      pos: Int): Unit = {
    val hb = s.range(1).select(schema.fields.map { f =>
      (f.name match {
        case "ts" => timestamp_seconds(lit(tsSec))
        case "event_type" => lit("__heartbeat")
        case _ => lit(-1L)
      }).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    val dest = new java.io.File(replayDir, f"events_$pos%02d.parquet")
    stageSingleFile(hb, dest)
    // strictly after every tile's mtime (tiles end at now - 60s)
    require(dest.setLastModified(System.currentTimeMillis()),
      s"cannot set mtime on $dest")
  }

  /** Stages orders as ONE parquet file per order-year
    * (`orders_y1997.parquet`, ...) — the deterministic file layout the
    * manifest-pruning rows prune against (year recoverable from the
    * file name, so the pruned FILE SET itself is oracle-comparable).
    * The year list is control-plane-sized (single-digit rows). */
  private def stageOrdersByYear(s: SparkSession, dir: String): String = {
    val base = scratchDir("graft_manifest_orders_").toString
    // ONE write job stages every year (repartition on the year +
    // partitionBy, which strips the key column from the data files and
    // yields exactly one file per year) — previously one serial
    // filtered coalesce(1) job per year re-read orders each time.
    // sortWithinPartitions keeps intra-file order deterministic and
    // compression-friendly. (The same one-job shape was TRIED on the
    // streaming replay helpers and reverted: there it measured slower —
    // see OPTIMIZATION_r19.md.)
    val stage = scratchDir("graft_tiles_")
    Tables(s, dir, "orders").withColumn("__y", year(col("o_orderdate")))
      .repartition(col("__y"))
      .sortWithinPartitions(col("__y"), col("o_orderkey"))
      .write.mode("overwrite").partitionBy("__y").parquet(stage.toString)
    stage.toFile.listFiles().filter(_.getName.startsWith("__y=")).foreach { d =>
      val y = d.getName.stripPrefix("__y=")
      java.nio.file.Files.move(onlyPartFile(d).toPath,
        new java.io.File(base, s"orders_y$y.parquet").toPath)
    }
    base
  }

  /** Shared corpus for the dHash rows: one 9×8 grayscale BMP per doc,
    * every pixel a pure function of doc_id — group id (doc_id div 20)
    * drives the whole frame, one center pixel carries the within-group
    * remainder, so group-mates are near-identical images (≤ 2 gradient
    * bits apart) and distinct groups diverge. Encoded with the real BMP
    * encoder, decoded back with the real pixel decoder, then dHashed —
    * the full perceptual pipeline; the oracle predicts all 64 gradient
    * bits from the same arithmetic without seeing a payload. */
  private def dhashCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val g = id / 20; val r = id % 20
          val rgb = new Array[Byte](9 * 8 * 3)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 9) {
              val f = (((g + 1) * (y + 3) * 177 + x * 13 + 7 * x * x +
                (if (x == 4 && y == 4) r else 0L)) % 256L).toInt
              val o = (y * 9 + x) * 3
              rgb(o) = f.toByte; rgb(o + 1) = f.toByte; rgb(o + 2) = f.toByte
              x += 1
            }
            y += 1
          }
          val bytes = graft.ext.MediaCodecs.encodeBmp24(9, 8, rgb)
          val (w, h, px) = graft.ext.MediaCodecs.decodeBmpPixels(bytes)
            .getOrElse(sys.error(s"BMP round-trip failed for doc $id"))
          val (hi, lo) = graft.ext.Multimodal.dHash(w, h, px)
          (id, hi, lo)
        }
      }.toDF("doc_id", "h_hi", "h_lo")
  }

  /** Stage an arbitrary (small) frame as `parts` mtime-ordered
    * single-file parquet tiles (NTILE by the first column) for
    * file-stream replay — [[docReplay]] generalized to any frame;
    * harness-side prep, not an operator. */
  private def frameReplay(frame: DataFrame, parts: Int)
      : (String, org.apache.spark.sql.types.StructType) = {
    val keyCol = frame.columns.head
    // parallel-sort ntile, fenced for the `parts` filtered writes (see
    // timeOrderedEventReplay)
    val tiled = globalNtile(frame, parts, Seq(keyCol))
    val replay = scratchDir("graft_frame_replay_")
    val base = System.currentTimeMillis() - (parts + 1) * 60000L
    // concurrent independent tile writes; mtimes are functions of the
    // tile index, so the pinned replay order is unchanged (see
    // timeOrderedEventReplay)
    parForeach(1 to parts) { tile =>
      val dest = new java.io.File(replay.toFile, f"tile_$tile%02d.parquet")
      stageSingleFile(tiled.filter(col("__tile") === tile).drop("__tile"), dest)
      require(dest.setLastModified(base + tile * 60000L), s"cannot set mtime on $dest")
    }
    (replay.toString, frame.schema)
  }

  /** Stages documents as `parts` mtime-ordered replay files tiled by
    * NTILE over doc_id — the document-corpus analog of
    * [[timeOrderedEventReplay]] for ingest-order streaming gates. */
  private def docReplay(s: SparkSession, dir: String,
      parts: Int): (String, org.apache.spark.sql.types.StructType) = {
    val d = Tables(s, dir, "documents").select("doc_id", "lang", "text")
    // parallel-sort ntile of the text payload, fenced for the `parts`
    // filtered writes (see timeOrderedEventReplay)
    val tiled = globalNtile(d, parts, Seq("doc_id"))
    val replay = scratchDir("graft_doc_replay_")
    val base = System.currentTimeMillis() - (parts + 1) * 60000L
    // concurrent independent tile writes; mtimes are functions of the
    // tile index (see timeOrderedEventReplay)
    parForeach(1 to parts) { tile =>
      val dest = new java.io.File(replay.toFile, f"docs_$tile%02d.parquet")
      stageSingleFile(tiled.filter(col("__tile") === tile).drop("__tile"), dest)
      require(dest.setLastModified(base + tile * 60000L), s"cannot set mtime on $dest")
    }
    (replay.toString, d.schema)
  }

  /** Shared base for the CondExpr differential fuzz: adds NULL-bearing
    * numeric/string columns (null comparison semantics are the
    * highest-risk part of the pandas-eval translation) and a boolean.
    * Must stay in lockstep with the DuckDB base in fuzzCondExprSql. */
  /** Canonical part co-occurrence edges (u < v, distinct): two parts are
    * adjacent iff some order contains both. Shared by the graph queries. */
  /** Crawl-style URL variants synthesized from doc_id arithmetic —
    * shared by the dedup_url family; the oracle rebuilds the identical
    * strings. */
  private def syntheticUrls(s: SparkSession, dir: String): DataFrame = {
    val b = pmod(col("doc_id"), lit(100L))
    val v = pmod(call_function("div", col("doc_id"), lit(100L)), lit(5L))
    val site = concat(lit("site"), pmod(b, lit(10L)).cast("string"),
      lit(".com/p/"), b.cast("string"))
    val url = when(v === 0, concat(lit("HTTPS://WWW.Site"),
        pmod(b, lit(10L)).cast("string"), lit(".COM/p/"), b.cast("string")))
      .when(v === 1, concat(lit("https://"), site, lit("?ref="),
        pmod(b, lit(3L)).cast("string"), lit("&utm_source=feed")))
      .when(v === 2, concat(lit("https://"), site, lit("/")))
      .when(v === 3, concat(lit("https://"), site, lit("#frag")))
      .otherwise(concat(lit("https://"), site, lit("?utm_a=1&utm_b=2")))
    Tables(s, dir, "documents").select(col("doc_id")).withColumn("url", url)
  }

  /** (ok, u, v): every pair of distinct parts u < v on one order. */
  private def partCooccurrence(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.select(col("ok"), col("pk").as("u"))
      .join(li.select(col("ok"), col("pk").as("v")), Seq("ok"))
      .filter(col("u") < col("v"))
  }

  private def partPairs(s: SparkSession, dir: String): DataFrame =
    partCooccurrence(s, dir).select(col("u"), col("v")).distinct()

  /** The repeat co-occurrence graph: part pairs bought together in at
    * least two distinct orders. */
  private def repeatPartPairs(s: SparkSession, dir: String): DataFrame =
    partCooccurrence(s, dir)
      .groupBy(col("u"), col("v"))
      .agg(count_distinct(col("ok")).as("w"))
      .filter(col("w") >= 2).select(col("u"), col("v"))

  /** The embeddings plus a planted near-duplicate twin of every 40th
    * vector: id + 100000, coordinate 1 raised by 0.1 (cosine >= 0.995
    * against its base). */
  private def plantedTwins(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val planted = e.filter(pmod(col("vec_id"), lit(40L)) === 0)
      .select((col("vec_id") + lit(100000L)).as("vec_id"),
        concat(array((element_at(col("embedding"), 1) + lit(0.1)).cast("float")),
          slice(col("embedding"), 2, 63)).as("embedding"))
    e.select("vec_id", "embedding").unionByName(planted)
  }

  private val FuzzCondExprN = 1000
  private val FuzzCondExprSeed = 0xC0FFEEL
  private def fuzzCondExprBase(orders: DataFrame): DataFrame =
    orders.select(
      col("o_orderkey").as("k"),
      col("o_totalprice").cast("double").as("price"),
      col("o_orderstatus").as("status"),
      col("o_orderpriority").as("prio"),
      nullif(pmod(col("o_orderkey"), lit(7L)), lit(0L)).as("nk"),
      nullif(col("o_orderstatus"), lit("F")).as("ns"),
      (pmod(col("o_orderkey"), lit(2L)) === 0L).as("b"),
      col("o_orderdate").as("d"))

  /** Range-join oracle, shared by the Scala-API and SQL-TVF rows. */
  private def rangeJoinSql: String =
    """WITH g AS (
      | SELECT user_id, ts, event_id,
      |  CASE WHEN LAG(ts) OVER w IS NULL
      |    OR CAST(FLOOR(EPOCH(ts)) AS BIGINT) - CAST(FLOOR(EPOCH(LAG(ts) OVER w)) AS BIGINT) > 1800
      |   THEN 1 ELSE 0 END AS new_session
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      | SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      | FROM g),
      |iv AS (
      | SELECT user_id, session_seq,
      |  MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS session_start,
      |  MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS session_end
      | FROM s GROUP BY user_id, session_seq)
      |SELECT e.event_id, e.user_id, iv.session_seq
      |FROM events e JOIN iv ON e.user_id = iv.user_id
      | AND CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) BETWEEN iv.session_start AND iv.session_end""".stripMargin

  private def fuzzCondExprSql: String = {
    val base =
      """SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
        | o_orderstatus AS status, o_orderpriority AS prio,
        | NULLIF(o_orderkey % 7, 0) AS nk, NULLIF(o_orderstatus, 'F') AS ns,
        | (o_orderkey % 2 = 0) AS b, o_orderdate AS d FROM orders""".stripMargin
    // ONE aggregation pass (2N columns over a single base scan — the
    // same shape the Spark side uses), then a multi-measure UNPIVOT to
    // long form. N separate "SELECT ... FROM base" arms would scan the
    // table N times and, as a flat UNION ALL chain, trip DuckDB's
    // max_expression_depth at N=1000.
    val cs = graft.etl.FuzzCondExpr.cases(FuzzCondExprN, FuzzCondExprSeed)
    val aggCols = cs.map { c =>
      s"CAST(SUM(CASE WHEN ${c.duck} THEN 1 ELSE 0 END) AS BIGINT) AS nt_${c.id}, " +
        s"CAST(SUM(CASE WHEN ${c.duck} THEN k ELSE 0 END) AS BIGINT) AS ks_${c.id}"
    }.mkString(",\n ")
    val inArms = cs.map(c => s"(nt_${c.id}, ks_${c.id}) AS '${c.id}'").mkString(", ")
    s"""WITH base AS ($base),
       |agg AS (SELECT $aggCols FROM base)
       |SELECT expr_id, n_true, key_sum
       |FROM agg UNPIVOT ((n_true, key_sum) FOR expr_id IN ($inArms))""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "fuzz_condexpr" -> fuzzCondExprSql,
    "etl_direct_map" ->
      "SELECT o_orderkey AS order_id, o_orderstatus AS status, o_totalprice AS total FROM orders",
    "etl_conditional" ->
      """SELECT o_orderkey AS order_id,
        | CASE WHEN o_totalprice > 1000 THEN 'VIP' ELSE 'Regular' END AS priority,
        | CASE WHEN (o_totalprice > 50000) OR (o_orderstatus = 'F') THEN 'Y' ELSE 'N' END AS flagged
        |FROM orders""".stripMargin,
    "etl_lookup" ->
      """SELECT c_custkey AS cust_id, m.n_name AS nation_name
        |FROM customer LEFT JOIN
        | (SELECT CAST(n_nationkey AS VARCHAR) AS k, n_name FROM nation) m
        | ON CAST(c_nationkey AS VARCHAR) = m.k""".stripMargin,
    "etl_pipeline_json" ->
      """SELECT o_orderkey AS order_id, o_totalprice AS total,
        | CASE WHEN (o_totalprice > 1000) OR (o_orderstatus = 'F') THEN 'VIP' ELSE 'Regular' END AS priority,
        | m.c_mktsegment AS segment
        |FROM orders LEFT JOIN
        | (SELECT CAST(c_custkey AS VARCHAR) AS k, c_mktsegment FROM customer) m
        | ON CAST(o_custkey AS VARCHAR) = m.k""".stripMargin,
    "etl_pipeline_legacy" ->
      """SELECT m.c_name AS "CustomerName",
        | CASE WHEN o_totalprice > 1000 THEN 'VIP' ELSE 'Regular' END AS "Priority"
        |FROM orders LEFT JOIN
        | (SELECT CAST(c_custkey AS VARCHAR) AS k, c_name FROM customer) m
        | ON CAST(o_custkey AS VARCHAR) = m.k""".stripMargin,

    "etl_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |delta AS (
        | SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice
        | FROM base WHERE o_orderkey % 97 = 0
        | UNION ALL
        | SELECT o_orderkey + 10000000, 'N', o_totalprice
        | FROM base WHERE o_orderkey % 151 = 0)
        |SELECT
        | COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
        | CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        | CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice ELSE t.o_totalprice END AS o_totalprice
        |FROM base t FULL OUTER JOIN delta u ON t.o_orderkey = u.o_orderkey""".stripMargin,
    "etl_profile" ->
      """SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        | CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        | COUNT(DISTINCT o_orderkey) AS n_distinct FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(*),
        | CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | COUNT(DISTINCT o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', COUNT(*),
        | CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | COUNT(DISTINCT o_totalprice) FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', COUNT(*),
        | CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | COUNT(DISTINCT o_orderdate) FROM orders""".stripMargin,
    "etl_scd2" ->
      """WITH cust AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer)
        |SELECT c_custkey, 'OLD' AS c_mktsegment, c_acctbal,
        | CAST(-100 AS BIGINT) AS valid_from, CAST(0 AS BIGINT) AS valid_to
        |FROM cust WHERE c_custkey % 31 = 0
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, c_acctbal, CAST(0 AS BIGINT), CAST(100 AS BIGINT)
        |FROM cust WHERE c_custkey % 13 = 0
        |UNION ALL
        |SELECT c_custkey, 'MOVED', c_acctbal, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
        |FROM cust WHERE c_custkey % 13 = 0
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, c_acctbal, CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
        |FROM cust WHERE c_custkey % 13 <> 0
        |UNION ALL
        |SELECT c_custkey + 5000000, 'NEW', c_acctbal, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
        |FROM cust WHERE c_custkey % 41 = 0""".stripMargin,
    // SQL face and programmatic face of the temporal join share ONE
    // oracle — they must be the same operator
    "q_temporal_sql" -> temporalJoinSql,
    "etl_temporal_join" -> temporalJoinSql,
    "etl_incr_join" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "curation_pipeline" ->
      """WITH cleaned AS (SELECT doc_id,
        |  TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 \t\n\r\f\x0B]', ' ', 'g'), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS clean
        | FROM documents),
        |quality AS (SELECT * FROM cleaned WHERE LENGTH(clean) >= 50),
        |dedup AS (SELECT doc_id, clean, ROW_NUMBER() OVER (
        |  PARTITION BY MD5(REGEXP_REPLACE(LOWER(TRIM(clean)), '[ \t\n\r\f\x0B]+', ' ', 'g'))
        |  ORDER BY doc_id) AS rn FROM quality)
        |SELECT doc_id, CAST(LENGTH(clean) AS INT) AS clean_len,
        | CASE WHEN ((doc_id % 100) * 61) % 100 < 80 THEN 'train'
        |      WHEN ((doc_id % 100) * 61) % 100 < 90 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM dedup WHERE rn = 1""".stripMargin,
    "export_train_shards" ->
      """SELECT SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        | COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE n_chars >= 100 GROUP BY 1""".stripMargin,
    "etl_flatten" ->
      """SELECT event_id, user_id AS ctx_who_id, event_type AS ctx_who_type,
        | CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ctx_at_sec
        |FROM events""".stripMargin,
    "etl_quarantine" ->
      """WITH o AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 37 = 0 THEN CAST(o_orderkey AS VARCHAR) || 'X'
        |       WHEN o_orderkey % 41 = 0 THEN ''
        |       ELSE CAST(o_orderkey AS VARCHAR) END AS key_str
        | FROM orders)
        |SELECT o_orderkey, CAST(TRY_CAST(key_str AS BIGINT) AS VARCHAR) AS face,
        | 'clean' AS stream
        |FROM o WHERE TRY_CAST(key_str AS BIGINT) IS NOT NULL
        |UNION ALL
        |SELECT o_orderkey, 'key_str!bigint' AS face, 'quarantine' AS stream
        |FROM o WHERE key_str IS NOT NULL AND TRY_CAST(key_str AS BIGINT) IS NULL""".stripMargin,
    "etl_fixed_width" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CAST(YEAR(o_orderdate) AS INT) AS o_year
        |FROM orders""".stripMargin,
    "etl_avro" ->
      // round trip must reproduce the base table bit-for-bit (doubles
      // pass through unaggregated, so they are engine-stable)
      "SELECT * FROM orders",
    "etl_arrow" ->
      "SELECT * FROM orders",
    "etl_xml" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        | CAST(YEAR(o_orderdate) AS BIGINT) AS o_year
        |FROM orders""".stripMargin,
    "etl_tfrecord" ->
      """SELECT o_orderkey, o_orderstatus,
        | CAST(o_totalprice AS FLOAT4) AS o_price_f,
        | CAST(o_orderkey % 7 AS VARCHAR) || ',' ||
        |   CAST(o_custkey % 11 AS VARCHAR) AS keys_str
        |FROM orders""".stripMargin,
    "etl_webdataset" ->
      """SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS key, text AS txt, lang
        |FROM documents""".stripMargin,
    "etl_schema_drift" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey, o_totalprice,
        | CAST(NULL AS VARCHAR) AS o_orderstatus
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT CAST(o_orderkey AS VARCHAR), o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey % 3 = 1
        |UNION ALL
        |SELECT CAST(o_orderkey AS VARCHAR), CAST(NULL AS DOUBLE), o_orderstatus
        |FROM orders WHERE o_orderkey % 3 = 2""".stripMargin,
    "q_cube_nav" ->
      """SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year, COUNT(*) AS n_rows,
        | CAST(CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(27,6)))
        |   AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1""".stripMargin,
    "q_topk_agg" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey DESC) AS BIGINT) AS rank
        | FROM orders)
        |SELECT o_custkey, rank, o_orderkey, o_totalprice
        |FROM r WHERE rank <= 3""".stripMargin,
    "etl_table_digest" ->
      """WITH r AS (SELECT
        |  CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)),1,15)) AS BIGINT) AS kh,
        |  CAST(concat('0x', substring(md5(concat_ws(chr(1),
        |    coalesce(CAST(o_orderkey AS VARCHAR), chr(2)||'NULL'),
        |    coalesce(CAST(o_custkey AS VARCHAR), chr(2)||'NULL'),
        |    coalesce(CAST(o_orderstatus AS VARCHAR), chr(2)||'NULL'))),1,15)) AS BIGINT) AS h
        | FROM orders)
        |SELECT CAST(kh % 64 AS INT) AS bucket, COUNT(*) AS n_rows, bit_xor(h) AS digest
        |FROM r GROUP BY 1""".stripMargin,
    "etl_digest_diff" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
        |m AS (
        | SELECT o_orderkey, o_custkey,
        |   CASE WHEN o_orderkey % 131 = 0 THEN 'Z' ELSE o_orderstatus END AS o_orderstatus
        | FROM base WHERE o_orderkey % 173 <> 0
        | UNION ALL
        | SELECT o_orderkey + 20000000, o_custkey, o_orderstatus
        | FROM base WHERE o_orderkey % 211 = 0)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        | CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |      WHEN n.o_orderkey IS NULL THEN 'delete'
        |      ELSE 'update' END AS change_type,
        | o.o_custkey AS old_o_custkey, n.o_custkey AS new_o_custkey,
        | o.o_orderstatus AS old_o_orderstatus, n.o_orderstatus AS new_o_orderstatus
        |FROM base o FULL OUTER JOIN m n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |   OR o.o_custkey IS DISTINCT FROM n.o_custkey""".stripMargin,
    "feat_quantile_bin" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
        |h AS (SELECT qty, COUNT(*) AS cnt FROM li GROUP BY qty),
        |b AS (SELECT qty,
        |  CAST((8 * (SUM(cnt) OVER (ORDER BY qty) - cnt)) // (SELECT SUM(cnt) FROM h)
        |   AS INT) AS bin FROM h)
        |SELECT li.l_orderkey, li.l_linenumber, li.qty, b.bin
        |FROM li JOIN b ON li.qty = b.qty""".stripMargin,
    "feat_quantile_transform" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
        |h AS (SELECT qty, COUNT(*) AS cnt FROM li GROUP BY qty),
        |p AS (SELECT qty,
        |  CAST((1000000 * (2 * (SUM(cnt) OVER (ORDER BY qty) - cnt) + cnt - 1))
        |   // (2 * ((SELECT SUM(cnt) FROM h) - 1)) AS BIGINT) AS pct_micro FROM h)
        |SELECT li.l_orderkey, li.l_linenumber, li.qty, p.pct_micro
        |FROM li JOIN p ON li.qty = p.qty""".stripMargin,
    "feat_quantile_transform_incremental" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
        |h AS (SELECT qty, COUNT(*) AS cnt FROM li GROUP BY qty),
        |p AS (SELECT qty,
        |  CAST((1000000 * (2 * (SUM(cnt) OVER (ORDER BY qty) - cnt) + cnt - 1))
        |   // (2 * ((SELECT SUM(cnt) FROM h) - 1)) AS BIGINT) AS pct_micro FROM h)
        |SELECT li.l_orderkey, li.l_linenumber, li.qty, p.pct_micro
        |FROM li JOIN p ON li.qty = p.qty""".stripMargin,
    "feat_target_encode" ->
      """WITH t AS (SELECT
        |  CAST(COUNT(*) AS DOUBLE) AS tn,
        |  CAST(SUM(CAST(CAST(c_acctbal AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) AS tsum
        | FROM customer)
        |SELECT c_mktsegment, COUNT(*) AS n,
        | CAST(ROUND((CAST(SUM(CAST(CAST(c_acctbal AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE)
        |   + 10.0 * (t.tsum / t.tn)) / (CAST(COUNT(*) AS DOUBLE) + 10.0) * 1000000)
        |  AS BIGINT) AS enc_micro
        |FROM customer, t
        |GROUP BY c_mktsegment, t.tn, t.tsum""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_revenue_topk" ->
      """SELECT o_orderkey,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
        |WHERE l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q_argminmax" ->
      """WITH r AS (SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS rk_first,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk_last
        | FROM orders)
        |SELECT o_custkey,
        | MAX(CASE WHEN rk_first = 1 THEN o_orderkey END) AS first_order,
        | MAX(CASE WHEN rk_last = 1 THEN o_orderkey END) AS last_order,
        | COUNT(*) AS n_orders
        |FROM r GROUP BY o_custkey""".stripMargin,
    "q_mode" ->
      """WITH h AS (SELECT l_returnflag, l_linestatus,
        |  CAST(l_quantity AS BIGINT) AS qty, COUNT(*) AS n
        | FROM lineitem GROUP BY 1, 2, 3),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus
        |        ORDER BY n DESC, qty ASC) AS rk FROM h)
        |SELECT l_returnflag, l_linestatus, qty AS mode_value, n AS mode_count
        |FROM r WHERE rk = 1""".stripMargin,
    "q_global_rownum" ->
      """SELECT l_orderkey, l_linenumber,
        | ROW_NUMBER() OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber) AS row_num
        |FROM lineitem""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, n_name,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY c_custkey, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q5_revenue_by_nation" ->
      """SELECT n_name,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |GROUP BY n_name""".stripMargin,
    "q_window_top_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk
        | FROM orders) WHERE rk <= 3""".stripMargin,
    "q_window_ranks" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | CAST(NTILE(4) OVER w AS INT) AS quartile,
        | PERCENT_RANK() OVER w AS pct_rank,
        | CUME_DIST() OVER w AS cdist,
        | LAG(o_totalprice, 1) OVER w AS prev_price,
        | LEAD(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,
    // power sums are exact integers; the double formula tree below is a
    // character-level mirror of Relational.momentStats — identical IEEE
    // inputs + identical op order = bit-identical doubles, no rounding
    "q_stats_moments" ->
      """WITH b AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |   CAST(l_linenumber AS BIGINT) AS y FROM lineitem),
        |s AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |   SUM(x) AS sx, SUM(x*x) AS sxx, SUM(x*x*x) AS sxxx, SUM(x*x*x*x) AS sxxxx,
        |   SUM(y) AS sy, SUM(y*y) AS syy, SUM(x*y) AS sxy
        | FROM b GROUP BY 1)
        |SELECT l_returnflag, n,
        | CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
        | SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |  / (CAST(n AS DOUBLE) - 1.0)) AS stddev_q,
        | (CAST(sxxx AS DOUBLE) / CAST(n AS DOUBLE)
        |  - 3.0 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE))
        |  + 2.0 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |  / ((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |     * SQRT(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
        |  AS skew_q,
        | (CAST(sxxxx AS DOUBLE) / CAST(n AS DOUBLE)
        |  - 4.0 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sxxx AS DOUBLE) / CAST(n AS DOUBLE))
        |  + 6.0 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE))
        |  - 3.0 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |  / ((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |     * (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
        |  - 3.0 AS kurt_q,
        | (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
        |  / SQRT((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |         * (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))
        |  AS corr_q_ln,
        | (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |  / (CAST(n AS DOUBLE) - 1.0) AS covar_q_ln
        |FROM s""".stripMargin,
    "q_group_ols" ->
      """WITH b AS (SELECT l_returnflag,
        |   CAST(l_quantity AS DECIMAL(19,6)) AS x,
        |   CAST(l_extendedprice AS DECIMAL(19,6)) AS y FROM lineitem),
        |s AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |   SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
        |   SUM(x * x) AS sxx, SUM(y * y) AS syy
        | FROM b GROUP BY 1),
        |res AS (SELECT l_returnflag, n,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
        | (CAST(sy AS DOUBLE)
        |  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
        |FROM s)
        |SELECT l_returnflag, n,
        | CAST(ROUND(slope * 1000000) AS BIGINT) AS slope_micro,
        | CAST(ROUND(intercept * 1000000) AS BIGINT) AS intercept_micro,
        | CAST(ROUND(r * 1000000000) AS BIGINT) AS r_nano
        |FROM res""".stripMargin,
    "q_winsorize" ->
      """WITH b AS (SELECT o_orderpriority,
        |   quantile_cont(o_totalprice, 0.05) AS lo,
        |   quantile_cont(o_totalprice, 0.95) AS hi
        | FROM orders GROUP BY 1)
        |SELECT o.o_orderkey, o.o_orderpriority,
        | CAST(ROUND(GREATEST(LEAST(o.o_totalprice, b.hi), b.lo) * 100) AS BIGINT) AS wins_cents
        |FROM orders o JOIN b USING (o_orderpriority)""".stripMargin,
    "q_setop_intersect" ->
      """SELECT c_custkey AS cust_id FROM customer WHERE c_acctbal > 7500
        |INTERSECT
        |SELECT o_custkey AS cust_id FROM orders WHERE o_totalprice > 300000""".stripMargin,
    "q_setop_except_all" ->
      """SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
        |EXCEPT ALL
        |SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
        |WHERE (l_orderkey + CAST(l_quantity AS BIGINT)) % 3 = 0""".stripMargin,
    "q_setop_intersect_all" ->
      """SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
        |INTERSECT ALL
        |SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
        |WHERE (l_orderkey + CAST(l_quantity AS BIGINT)) % 3 <> 1""".stripMargin,
    "q_setop_except" ->
      """SELECT c_custkey AS cust_id FROM customer
        |EXCEPT
        |SELECT o_custkey AS cust_id FROM orders WHERE o_totalprice > 400000""".stripMargin,
    "q_rollup" ->
      """SELECT order_year, o_orderstatus,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM (SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year, o_orderstatus, o_totalprice
        |      FROM orders)
        |GROUP BY ROLLUP(order_year, o_orderstatus)""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin,
    "q_unpivot" ->
      """SELECT p_partkey, p_brand, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, p_brand, 'retail_price' AS metric, CAST(p_retailprice AS DOUBLE) AS value FROM part""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        | quantile_cont(l_extendedprice, 0.5) AS p50,
        | quantile_cont(l_extendedprice, 0.9) AS p90,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_bloom_join" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY l_returnflag""".stripMargin,
    "q_bloom_sql" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY l_returnflag""".stripMargin,
    "q_salted_join" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
        | o_orderstatus
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,
    "q_auto_skew_join" -> autoSkewJoinSql,
    "q_skew_sql" -> autoSkewJoinSql,
    "q_salted_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_asof_join" ->
      """SELECT l.event_id, l.user_id, r.event_id AS last_err_id,
        | CAST(FLOOR(EPOCH(l.ts)) AS BIGINT) - CAST(FLOOR(EPOCH(r.ts)) AS BIGINT) AS secs_since_err
        |FROM (SELECT * FROM events WHERE event_type <> 'error') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
        | ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "q_asof_join_forward" ->
      """SELECT l.event_id, l.user_id, r.event_id AS next_err_id,
        | CAST(FLOOR(EPOCH(r.ts)) AS BIGINT) - CAST(FLOOR(EPOCH(l.ts)) AS BIGINT) AS secs_to_err
        |FROM (SELECT * FROM events WHERE event_type <> 'error') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
        | ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin,
    "q_asof_sql" ->
      """SELECT l.event_id, l.user_id, r.event_id AS last_err_id,
        | CAST(FLOOR(EPOCH(l.ts)) AS BIGINT) - CAST(FLOOR(EPOCH(r.ts)) AS BIGINT) AS secs_since_err
        |FROM (SELECT * FROM events WHERE event_type <> 'error') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
        | ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "q_asof_join_nullpick" ->
      """SELECT l.event_id, l.user_id, r.event_id AS last_err_id, r.err_mod
        |FROM (SELECT * FROM events WHERE event_type <> 'error') l
        |ASOF LEFT JOIN (SELECT user_id, ts, event_id,
        |                  NULLIF(event_id % 3, 0) AS err_mod
        |                FROM events WHERE event_type = 'error') r
        | ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "q_range_join" -> rangeJoinSql,
    "q_range_sql" -> rangeJoinSql,
    "q_interval_overlap" ->
      """WITH l AS (SELECT o_orderkey AS lk, o_custkey AS ck,
        |   CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS lk_s,
        |   CAST(epoch(o_orderdate) AS BIGINT) // 86400 + 30 + o_orderkey % 30 AS lk_e
        | FROM orders WHERE o_orderpriority = '1-URGENT'),
        |r AS (SELECT o_orderkey AS rk, o_custkey AS ck,
        |   CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS rk_s,
        |   CAST(epoch(o_orderdate) AS BIGINT) // 86400 + 30 + o_orderkey % 30 AS rk_e
        | FROM orders WHERE o_orderpriority = '5-LOW')
        |SELECT l.ck, l.lk, l.lk_s, l.lk_e, r.rk, r.rk_s, r.rk_e
        |FROM l JOIN r ON l.ck = r.ck
        | AND l.lk_s <= r.rk_e AND r.rk_s <= l.lk_e""".stripMargin,
    "q_json_props" ->
      """SELECT CAST(k AS BIGINT) % 10 AS k_mod, COUNT(*) AS n,
        | MIN(CAST(k AS BIGINT)) AS min_k, MAX(CAST(k AS BIGINT)) AS max_k
        |FROM (SELECT json_extract_string(props, '$.k') AS k FROM events)
        |GROUP BY 1""".stripMargin,
    "q_scalar_funcs" ->
      """SELECT o_orderkey AS order_id,
        | UPPER(SUBSTRING(o_orderpriority, 1, 4)) AS prio4,
        | CAST(YEAR(o_orderdate) AS INT) AS order_year,
        | CAST(MONTH(o_orderdate) AS INT) AS order_month,
        | CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS age_days,
        | CAST(FLOOR((CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) + 50) / 100) AS DOUBLE) / 1000 AS kprice,
        | CONCAT_WS('-', o_orderstatus, o_orderpriority) AS status_prio,
        | CAST(LENGTH(o_orderpriority) AS INT) AS prio_len,
        | o_orderkey % 32 AS bucket
        |FROM orders""".stripMargin,

    "q_pivot" ->
      """SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
        | COUNT(*) FILTER (o_orderstatus = 'O') AS n_open,
        | COUNT(*) FILTER (o_orderstatus = 'F') AS n_filled,
        | COUNT(*) FILTER (o_orderstatus = 'P') AS n_partial
        |FROM orders GROUP BY 1""".stripMargin,
    "q_collect_set" ->
      """WITH s AS (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem),
        |agg AS (SELECT l_returnflag, STRING_AGG(l_linestatus, ',' ORDER BY l_linestatus) AS statuses
        |        FROM s GROUP BY 1),
        |n AS (SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1)
        |SELECT agg.l_returnflag, statuses, n FROM agg JOIN n USING (l_returnflag)""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey AS cust_id FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')""".stripMargin,
    "q_semi_join" ->
      """SELECT p_partkey AS part_id, p_brand FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin,
    "q_sql_interface" ->
      """SELECT c_mktsegment,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY c_mktsegment""".stripMargin,
    "text_clean" ->
      """SELECT doc_id,
        | TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 \t\n\r\f\x0B]', ' ', 'g'), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS clean_text,
        | CAST(LENGTH(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 \t\n\r\f\x0B]', ' ', 'g'), '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS INT) AS clean_len
        |FROM documents""".stripMargin,
    "text_term_freq" ->
      """SELECT term, freq FROM (
        | SELECT term, COUNT(*) AS freq FROM (
        |  SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+')) AS term FROM documents)
        | WHERE LENGTH(term) > 0 GROUP BY term)
        |ORDER BY freq DESC, term ASC LIMIT 50""".stripMargin,
    // NB: bag-semantics UNION (dedup) misbehaves for CTEs nested under
    // WITH RECURSIVE in DuckDB 1.0 (acts like UNION ALL) — every dedup
    // below is an explicit DISTINCT over UNION ALL
    "graph_kcore" -> kcoreSql,
    "graph_lpa" -> lpaSql,
    "text_ranking_eval" -> rankingEvalSql,
    "graph_pagerank" ->
      """WITH RECURSIVE
        | sp AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
        | e AS (SELECT DISTINCT src, dst FROM
        |   (SELECT src, dst FROM sp UNION ALL SELECT dst, src FROM sp)),
        | nodes AS (SELECT DISTINCT node FROM
        |   (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        | deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
        | eplus AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM e
        |   UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM nodes),
        | pr(iter, node, rank) AS (
        |   SELECT 0, node, CAST(1000000000 AS BIGINT) FROM nodes
        |   UNION ALL
        |   SELECT p.iter + 1, e2.dst,
        |     CAST(150000000 + (85 * SUM((p.rank // COALESCE(d.d, 1)) * e2.w)) // 100 AS BIGINT)
        |   FROM pr p LEFT JOIN deg d ON d.node = p.node JOIN eplus e2 ON e2.src = p.node
        |   WHERE p.iter < 5
        |   GROUP BY p.iter, e2.dst)
        |SELECT CAST(node % 2 AS INT) AS is_part, node // 2 AS id, rank
        |FROM pr WHERE iter = 5""".stripMargin,
    // the two-phase warm-start recurrence: 3 rounds on the base graph
    // from uniform init, then 2 rounds on the union graph seeded from
    // phase 1's final ranks (absent nodes enter at r0) with degrees
    // rebuilt from the union — exactly what resume-from-parquet runs
    "graph_pagerank_incremental" ->
      """WITH RECURSIVE
        | sp1 AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
        |   FROM lineitem WHERE l_orderkey % 3 <> 0),
        | e1 AS (SELECT DISTINCT src, dst FROM
        |   (SELECT src, dst FROM sp1 UNION ALL SELECT dst, src FROM sp1)),
        | n1 AS (SELECT DISTINCT node FROM
        |   (SELECT src AS node FROM e1 UNION ALL SELECT dst FROM e1)),
        | d1 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e1 GROUP BY 1),
        | ep1 AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM e1
        |   UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM n1),
        | pr1(iter, node, rank) AS (
        |   SELECT 0, node, CAST(1000000000 AS BIGINT) FROM n1
        |   UNION ALL
        |   SELECT p.iter + 1, e2.dst,
        |     CAST(150000000 + (85 * SUM((p.rank // COALESCE(d.d, 1)) * e2.w)) // 100 AS BIGINT)
        |   FROM pr1 p LEFT JOIN d1 d ON d.node = p.node JOIN ep1 e2 ON e2.src = p.node
        |   WHERE p.iter < 3
        |   GROUP BY p.iter, e2.dst),
        | st AS (SELECT node, rank FROM pr1 WHERE iter = 3),
        | spa AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
        | ea AS (SELECT DISTINCT src, dst FROM
        |   (SELECT src, dst FROM spa UNION ALL SELECT dst, src FROM spa)),
        | na AS (SELECT DISTINCT node FROM
        |   (SELECT src AS node FROM ea UNION ALL SELECT dst FROM ea)),
        | da AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM ea GROUP BY 1),
        | epa AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM ea
        |   UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM na),
        | pr2(iter, node, rank) AS (
        |   SELECT 0, na.node, CAST(COALESCE(st.rank, 1000000000) AS BIGINT)
        |   FROM na LEFT JOIN st ON st.node = na.node
        |   UNION ALL
        |   SELECT p.iter + 1, e2.dst,
        |     CAST(150000000 + (85 * SUM((p.rank // COALESCE(d.d, 1)) * e2.w)) // 100 AS BIGINT)
        |   FROM pr2 p LEFT JOIN da d ON d.node = p.node JOIN epa e2 ON e2.src = p.node
        |   WHERE p.iter < 2
        |   GROUP BY p.iter, e2.dst)
        |SELECT CAST(node % 2 AS INT) AS is_part, node // 2 AS id, rank
        |FROM pr2 WHERE iter = 2""".stripMargin,
    // the SAME two-phase warm-start recurrence at the dimension-sized
    // delta split (base = 29/30, delta = 1/30) — the oracle knows
    // nothing of the patch-vs-rebuild distinction, so a green row pins
    // PageRank.resumeDelta's patched static frame bit-identical to the
    // from-scratch union rebuild
    "graph_pagerank_delta" -> pagerankTwoPhaseSql(30),
    // the personalized two-phase warm-start: seed-CASE init and teleport
    // base, 3 base-graph rounds, then 2 union rounds seeded from phase 1
    // (absent nodes enter at is_seed*r0)
    "graph_ppr_incremental" ->
      """WITH RECURSIVE
        | sp1 AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
        |   FROM lineitem WHERE l_orderkey % 3 <> 0),
        | e1 AS (SELECT DISTINCT src, dst FROM
        |   (SELECT src, dst FROM sp1 UNION ALL SELECT dst, src FROM sp1)),
        | n1 AS (SELECT DISTINCT node FROM
        |   (SELECT src AS node FROM e1 UNION ALL SELECT dst FROM e1)),
        | d1 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e1 GROUP BY 1),
        | ep1 AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM e1
        |   UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM n1),
        | pr1(iter, node, rank) AS (
        |   SELECT 0, node, CAST(CASE WHEN node % 2 = 0 AND node // 2 < 5
        |     THEN 1000000000 ELSE 0 END AS BIGINT) FROM n1
        |   UNION ALL
        |   SELECT p.iter + 1, e2.dst,
        |     CAST(CASE WHEN e2.dst % 2 = 0 AND e2.dst // 2 < 5 THEN 150000000 ELSE 0 END
        |       + (85 * SUM((p.rank // COALESCE(d.d, 1)) * e2.w)) // 100 AS BIGINT)
        |   FROM pr1 p LEFT JOIN d1 d ON d.node = p.node JOIN ep1 e2 ON e2.src = p.node
        |   WHERE p.iter < 3
        |   GROUP BY p.iter, e2.dst),
        | st AS (SELECT node, rank FROM pr1 WHERE iter = 3),
        | spa AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
        | ea AS (SELECT DISTINCT src, dst FROM
        |   (SELECT src, dst FROM spa UNION ALL SELECT dst, src FROM spa)),
        | na AS (SELECT DISTINCT node FROM
        |   (SELECT src AS node FROM ea UNION ALL SELECT dst FROM ea)),
        | da AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM ea GROUP BY 1),
        | epa AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM ea
        |   UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM na),
        | pr2(iter, node, rank) AS (
        |   SELECT 0, na.node, CAST(COALESCE(st.rank,
        |     CASE WHEN na.node % 2 = 0 AND na.node // 2 < 5
        |       THEN 1000000000 ELSE 0 END) AS BIGINT)
        |   FROM na LEFT JOIN st ON st.node = na.node
        |   UNION ALL
        |   SELECT p.iter + 1, e2.dst,
        |     CAST(CASE WHEN e2.dst % 2 = 0 AND e2.dst // 2 < 5 THEN 150000000 ELSE 0 END
        |       + (85 * SUM((p.rank // COALESCE(d.d, 1)) * e2.w)) // 100 AS BIGINT)
        |   FROM pr2 p LEFT JOIN da d ON d.node = p.node JOIN epa e2 ON e2.src = p.node
        |   WHERE p.iter < 2
        |   GROUP BY p.iter, e2.dst)
        |SELECT CAST(node % 2 AS INT) AS is_part, node // 2 AS id, rank
        |FROM pr2 WHERE iter = 2""".stripMargin,
    "graph_ppr" ->
      """WITH RECURSIVE
        | sp AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
        | e AS (SELECT DISTINCT src, dst FROM
        |   (SELECT src, dst FROM sp UNION ALL SELECT dst, src FROM sp)),
        | nodes AS (SELECT DISTINCT node FROM
        |   (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        | deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1),
        | eplus AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM e
        |   UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM nodes),
        | pr(iter, node, rank) AS (
        |   SELECT 0, node, CAST(CASE WHEN node % 2 = 0 AND node // 2 < 5
        |     THEN 1000000000 ELSE 0 END AS BIGINT) FROM nodes
        |   UNION ALL
        |   SELECT p.iter + 1, e2.dst,
        |     CAST(CASE WHEN e2.dst % 2 = 0 AND e2.dst // 2 < 5 THEN 150000000 ELSE 0 END
        |       + (85 * SUM((p.rank // COALESCE(d.d, 1)) * e2.w)) // 100 AS BIGINT)
        |   FROM pr p LEFT JOIN deg d ON d.node = p.node JOIN eplus e2 ON e2.src = p.node
        |   WHERE p.iter < 5
        |   GROUP BY p.iter, e2.dst)
        |SELECT CAST(node % 2 AS INT) AS is_part, node // 2 AS id, rank
        |FROM pr WHERE iter = 5""".stripMargin,
    "graph_triangles" ->
      """WITH pairs AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z FROM pairs e1
        |  JOIN pairs e2 ON e2.u = e1.u AND e2.v > e1.v
        |  JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v),
        |nodes AS (SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        |FROM nodes GROUP BY 1""".stripMargin,
    "graph_sssp" ->
      """WITH pairs AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |adj AS (SELECT u AS s, v AS d, (u + v) % 97 + 1 AS w FROM pairs
        |  UNION ALL SELECT v, u, (u + v) % 97 + 1 FROM pairs),
        |d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost),
        |d1 AS (SELECT node, MIN(cost) AS cost FROM (
        |  SELECT * FROM d0 UNION ALL
        |  SELECT a.d, p.cost + a.w FROM d0 p JOIN adj a ON a.s = p.node) GROUP BY node),
        |d2 AS (SELECT node, MIN(cost) AS cost FROM (
        |  SELECT * FROM d1 UNION ALL
        |  SELECT a.d, p.cost + a.w FROM d1 p JOIN adj a ON a.s = p.node) GROUP BY node),
        |d3 AS (SELECT node, MIN(cost) AS cost FROM (
        |  SELECT * FROM d2 UNION ALL
        |  SELECT a.d, p.cost + a.w FROM d2 p JOIN adj a ON a.s = p.node) GROUP BY node)
        |SELECT node, cost FROM d3""".stripMargin,
    "graph_bfs" ->
      """WITH RECURSIVE pairs AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |adj AS (SELECT u AS s, v AS d FROM pairs UNION SELECT v, u FROM pairs),
        |walk(node, dist) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION
        |  SELECT a.d, w.dist + 1 FROM walk w JOIN adj a ON a.s = w.node
        |  WHERE w.dist < 3)
        |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY 1""".stripMargin,
    "freq_topk" ->
      """SELECT term, freq FROM (
        | SELECT term, COUNT(*) AS freq FROM (
        |  SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+')) AS term FROM documents)
        | WHERE LENGTH(term) > 0 GROUP BY term)
        |ORDER BY freq DESC, term ASC LIMIT 20""".stripMargin,
    "text_lexical_diversity" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(
        |   trim(lower(text)), '[ \t\n\r\f\x0B]+')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, term, COUNT(*) AS c FROM tok
        |  WHERE len(term) > 0 GROUP BY 1, 2),
        |st AS (SELECT doc_id, COUNT(*) AS n_types, SUM(c) AS n_tokens,
        |   COUNT(CASE WHEN c = 1 THEN 1 END) AS n_hapax FROM tf GROUP BY 1)
        |SELECT d.doc_id,
        | CAST(COALESCE(st.n_tokens, 0) AS BIGINT) AS n_tokens,
        | CAST(COALESCE(st.n_types, 0) AS BIGINT) AS n_types,
        | CAST(COALESCE(st.n_hapax, 0) AS BIGINT) AS n_hapax,
        | CASE WHEN st.n_tokens > 0
        |  THEN CAST(st.n_types * 1000000 // st.n_tokens AS BIGINT) END AS ttr_micro,
        | CASE WHEN st.n_types > 0
        |  THEN CAST(st.n_hapax * 1000000 // st.n_types AS BIGINT) END AS hapax_micro
        |FROM documents d LEFT JOIN st USING (doc_id)""".stripMargin,
    "emb_centroid_drift" ->
      """WITH ex AS (SELECT vec_id % 2 AS sl,
        |   GENERATE_SUBSCRIPTS(embedding, 1) AS dim1, UNNEST(embedding) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |sa AS (SELECT dim1, CAST(FLOOR(SUM(CAST(CAST(v AS DOUBLE)
        |     AS DECIMAL(27,10))) * 1000000) AS HUGEINT) AS s, COUNT(*) AS n
        |  FROM ex WHERE sl = 0 GROUP BY 1),
        |sb AS (SELECT dim1, CAST(FLOOR(SUM(CAST(CAST(v AS DOUBLE)
        |     AS DECIMAL(27,10))) * 1000000) AS HUGEINT) AS s, COUNT(*) AS n
        |  FROM ex WHERE sl = 1 GROUP BY 1),
        |j AS (SELECT sa.s AS sax, sa.n AS na, sb.s AS sbx, sb.n AS nb,
        |   CAST(FLOOR((CAST(sa.s AS DOUBLE) / CAST(sa.n AS DOUBLE)
        |     - CAST(sb.s AS DOUBLE) / CAST(sb.n AS DOUBLE)) * 1000.0 + 0.5)
        |     AS BIGINT) AS dq
        |  FROM sa FULL JOIN sb USING (dim1)),
        |ag AS (SELECT SUM(sax * sbx) AS dot, SUM(sax * sax) AS naa,
        |   SUM(sbx * sbx) AS nbb,
        |   SUM(CAST(COALESCE(dq, 0) AS HUGEINT) * COALESCE(dq, 0)) AS dd,
        |   MAX(na) AS n_a, MAX(nb) AS n_b, COUNT(*) AS n_dims FROM j)
        |SELECT CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
        | CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
        | CAST(n_dims AS BIGINT) AS n_dims,
        | CASE WHEN naa > 0 AND nbb > 0
        |  THEN CAST(FLOOR(CAST(dot AS DOUBLE)
        |    / (SQRT(CAST(naa AS DOUBLE)) * SQRT(CAST(nbb AS DOUBLE)))
        |    * 1000000.0 + 0.5) AS BIGINT) END AS centroid_cos_micro,
        | CAST(FLOOR(SQRT(CAST(dd AS DOUBLE)) + 0.5) AS BIGINT) AS centroid_l2_nano
        |FROM ag""".stripMargin,
    "emb_label_centroid" ->
      """SELECT label, CAST(dim1 - 1 AS INT) AS dim,
        | CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS mean_val
        |FROM (SELECT label, UNNEST(embedding) AS v,
        |       GENERATE_SUBSCRIPTS(embedding, 1) AS dim1 FROM embeddings)
        |WHERE dim1 <= 4 GROUP BY label, dim1""".stripMargin,
    "text_stats" -> textStatsSql,
    "text_quality_filters" -> qualityFiltersSql,
    "text_quality_sql" -> qualityFiltersSql,
    "text_quality_classifier" ->
      (nbLabeledDocsSql +
        nbScoreBlockSql("a", "doc_id % 4 <> 0", "doc_id % 4 = 0") + "\n" +
        "SELECT * FROM outa"),
    "stream_classifier_gate" ->
      (nbLabeledDocsSql +
        nbScoreBlockSql("a", "tile = 1", "tile = 2") + ",\n" +
        nbScoreBlockSql("b", "tile <= 2", "tile = 3") + "\n" +
        "SELECT * FROM outa UNION ALL SELECT * FROM outb"),
    "stream_quality_gate" ->
      ("WITH qf AS (" + qualityFiltersSql + """)
        |SELECT d.lang, COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN qf.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        | CAST((SUM(CASE WHEN qf.keep THEN 1 ELSE 0 END) * 2000000 + COUNT(*))
        |   // (COUNT(*) * 2) AS BIGINT) AS keep_rate_micro
        |FROM qf JOIN documents d USING (doc_id)
        |GROUP BY 1""".stripMargin),
    "text_tokens_bpe" ->
      """SELECT doc_id,
        | CAST(CASE WHEN text IS NULL OR LEN(TRIM(text)) = 0 THEN 0
        |  ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+')) END AS INT) AS n_ws_tokens,
        | CAST(CASE WHEN text IS NULL THEN 0
        |  ELSE LEN(REGEXP_EXTRACT_ALL(text, ' ?\p{L}+| ?\p{N}+| ?[^\p{L}\p{N} \t\n\r\f\x0B]+')) END AS INT)
        |  AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "text_keyterms" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f\x0B]+')) AS term
        |             FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE len(term) > 0 GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, term, tf, df, rank FROM (
        | SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |    ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS INT) AS rank
        | FROM tf JOIN df USING (term)) WHERE rank <= 3""".stripMargin,
    "events_funnel_latency" ->
      """WITH base AS (SELECT user_id, event_type,
        |   CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec FROM events),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_sec END)
        |   OVER (PARTITION BY user_id) AS step_1 FROM base),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND step_1 IS NOT NULL
        |     AND ts_sec > step_1 THEN ts_sec END)
        |   OVER (PARTITION BY user_id) AS step_2 FROM s1),
        |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND step_2 IS NOT NULL
        |     AND ts_sec > step_2 THEN ts_sec END)
        |   OVER (PARTITION BY user_id) AS step_3 FROM s2),
        |f AS (SELECT DISTINCT user_id, step_1, step_2, step_3 FROM s3),
        |tr AS (SELECT 'step_1_to_2' AS transition, step_2 - step_1 AS lat
        |        FROM f WHERE step_2 IS NOT NULL
        |       UNION ALL
        |       SELECT 'step_2_to_3', step_3 - step_2 FROM f WHERE step_3 IS NOT NULL),
        |r AS (SELECT transition, lat,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY transition ORDER BY lat) AS BIGINT) AS rn,
        |  COUNT(*) OVER (PARTITION BY transition) AS n FROM tr),
        |probes AS (SELECT CAST(p AS DOUBLE) AS p FROM (VALUES (0.5), (0.9)) t(p))
        |SELECT transition, p, MAX(n) AS n_users, MIN(lat) AS lat_sec
        |FROM r, probes WHERE rn >= CEIL(p * n)
        |GROUP BY transition, p""".stripMargin,
    "sample_temperature" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_d FROM documents GROUP BY 1),
        |s0 AS (SELECT lang,
        |  CAST(ROUND(POW(CAST(n_d AS DOUBLE), 0.5) * 1000000.0) AS BIGINT) AS s FROM c),
        |s1 AS (SELECT lang, s, CAST(SUM(s) OVER () AS HUGEINT) AS bigs FROM s0),
        |q0 AS (SELECT lang, s, bigs,
        |  CAST(250 AS HUGEINT) * s // bigs AS base,
        |  CAST(250 AS HUGEINT) * s - (CAST(250 AS HUGEINT) * s // bigs) * bigs AS rem
        | FROM s1),
        |q1 AS (SELECT lang, base, ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rr,
        |  250 - SUM(base) OVER () AS deficit FROM q0),
        |quota AS (SELECT lang,
        |  base + CASE WHEN rr <= deficit THEN 1 ELSE 0 END AS quota FROM q1),
        |r AS (SELECT doc_id, lang, CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |   ORDER BY ((doc_id % 1000000007) * 654435747) % 1000000007 ASC, doc_id ASC) AS INT) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.lang, r.rn FROM r JOIN quota USING (lang)
        |WHERE r.rn <= quota.quota""".stripMargin,
    "sample_token_budget" ->
      """WITH tok AS (SELECT doc_id, lang,
        |  CASE WHEN text IS NULL OR LEN(TRIM(text)) = 0 THEN 0
        |       ELSE LEN(regexp_split_to_array(TRIM(text), '[ \t\n\r\f\x0B]+')) END AS n_tokens
        | FROM documents),
        |m AS (SELECT lang, SUM(n_tokens) AS m_g FROM tok GROUP BY 1),
        |s0 AS (SELECT lang,
        |  CAST(ROUND(POW(CAST(m_g AS DOUBLE), 0.5) * 1000000.0) AS BIGINT) AS s FROM m),
        |s1 AS (SELECT lang, s, CAST(SUM(s) OVER () AS HUGEINT) AS bigs FROM s0),
        |q0 AS (SELECT lang, s, bigs,
        |  CAST(8000 AS HUGEINT) * s // bigs AS base,
        |  CAST(8000 AS HUGEINT) * s - (CAST(8000 AS HUGEINT) * s // bigs) * bigs AS rem
        | FROM s1),
        |q1 AS (SELECT lang, base, ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rr,
        |  8000 - SUM(base) OVER () AS deficit FROM q0),
        |quota AS (SELECT lang,
        |  CAST(base + CASE WHEN rr <= deficit THEN 1 ELSE 0 END AS BIGINT) AS quota FROM q1),
        |r AS (SELECT doc_id, lang, n_tokens,
        |  COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY ((doc_id % 1000000007) * 654435747) % 1000000007 ASC, doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        | FROM tok)
        |SELECT r.doc_id, r.lang, CAST(r.n_tokens AS INT) AS n_tokens,
        | CAST(r.cum_before AS BIGINT) AS cum_before, quota.quota
        |FROM r JOIN quota USING (lang) WHERE r.cum_before < quota.quota""".stripMargin,
    "text_ppl_filter" ->
      """WITH t AS (SELECT doc_id, lang, REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+') AS w0
        |           FROM documents WHERE text IS NOT NULL),
        |tw AS (SELECT doc_id, lang, [x FOR x IN w0 IF LEN(x) > 0] AS w FROM t),
        |pairs AS (SELECT doc_id, p['a'] AS a, p['b'] AS b FROM (
        |  SELECT doc_id, UNNEST([{'a': w[i], 'b': w[i+1]} FOR i IN RANGE(1, LEN(w))]) AS p
        |  FROM tw WHERE LEN(w) >= 2)),
        |c2 AS (SELECT pr.a, pr.b, COUNT(*) AS c2 FROM pairs pr
        |  JOIN t USING (doc_id) WHERE pr.doc_id % 3 = 0 AND t.lang = 'en'
        |  GROUP BY 1, 2),
        |c1 AS (SELECT a, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM
        |  (SELECT UNNEST(w) AS term FROM tw WHERE doc_id % 3 = 0 AND lang = 'en')),
        |sc AS (SELECT pr.doc_id,
        |  CAST(ROUND(LN(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)
        |    / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)) * 1000000000) AS BIGINT) AS lp
        | FROM pairs pr LEFT JOIN c2 ON pr.a = c2.a AND pr.b = c2.b
        | LEFT JOIN c1 ON pr.a = c1.a, v
        | WHERE pr.doc_id % 3 != 0),
        |n AS (SELECT doc_id, COUNT(*) AS n_pairs, CAST(-SUM(lp) AS BIGINT) AS nll
        |      FROM sc GROUP BY 1),
        |x AS (SELECT n.doc_id, d.lang, n.n_pairs, n.nll // n.n_pairs AS ppl_nano
        |  FROM n JOIN documents d USING (doc_id))
        |SELECT doc_id, lang, n_pairs, ppl_nano,
        | CAST(NTILE(3) OVER (PARTITION BY lang ORDER BY ppl_nano, doc_id)
        |   AS BIGINT) AS tier
        |FROM x""".stripMargin,
    "curation_doremi" ->
      """WITH t AS (SELECT doc_id, lang, REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+') AS w0
        |           FROM documents WHERE text IS NOT NULL),
        |tw AS (SELECT doc_id, lang, [x FOR x IN w0 IF LEN(x) > 0] AS w FROM t),
        |pairs AS (SELECT doc_id, p['a'] AS a, p['b'] AS b FROM (
        |  SELECT doc_id, UNNEST([{'a': w[i], 'b': w[i+1]} FOR i IN RANGE(1, LEN(w))]) AS p
        |  FROM tw WHERE LEN(w) >= 2)),
        |c2p AS (SELECT a, b, COUNT(*) AS c2 FROM pairs WHERE doc_id % 5 = 0 GROUP BY 1, 2),
        |c1p AS (SELECT a, SUM(c2) AS c1 FROM c2p GROUP BY 1),
        |vp AS (SELECT COUNT(DISTINCT term) AS v FROM
        |  (SELECT UNNEST(w) AS term FROM tw WHERE doc_id % 5 = 0)),
        |c2s AS (SELECT a, b, COUNT(*) AS c2 FROM pairs WHERE doc_id % 5 IN (1, 2) GROUP BY 1, 2),
        |c1s AS (SELECT a, SUM(c2) AS c1 FROM c2s GROUP BY 1),
        |vs AS (SELECT COUNT(DISTINCT term) AS v FROM
        |  (SELECT UNNEST(w) AS term FROM tw WHERE doc_id % 5 IN (1, 2))),
        |scp AS (SELECT pr.doc_id,
        |  CAST(ROUND(LN(CAST(COALESCE(c2p.c2, 0) + 1 AS DOUBLE)
        |    / CAST(COALESCE(c1p.c1, 0) + vp.v AS DOUBLE)) * 1000000000) AS BIGINT) AS lp
        | FROM pairs pr LEFT JOIN c2p ON pr.a = c2p.a AND pr.b = c2p.b
        | LEFT JOIN c1p ON pr.a = c1p.a, vp
        | WHERE pr.doc_id % 5 IN (3, 4)),
        |np AS (SELECT doc_id, COUNT(*) AS n_pairs, CAST(-SUM(lp) AS BIGINT) AS nll
        |       FROM scp GROUP BY 1),
        |scs AS (SELECT pr.doc_id,
        |  CAST(ROUND(LN(CAST(COALESCE(c2s.c2, 0) + 1 AS DOUBLE)
        |    / CAST(COALESCE(c1s.c1, 0) + vs.v AS DOUBLE)) * 1000000000) AS BIGINT) AS lp
        | FROM pairs pr LEFT JOIN c2s ON pr.a = c2s.a AND pr.b = c2s.b
        | LEFT JOIN c1s ON pr.a = c1s.a, vs
        | WHERE pr.doc_id % 5 IN (3, 4)),
        |ns AS (SELECT doc_id, CAST(-SUM(lp) AS BIGINT) AS nll FROM scs GROUP BY 1),
        |ex AS (SELECT np.doc_id, d.lang,
        |   GREATEST(np.nll - ns.nll, 0) // np.n_pairs AS ex_nano
        |  FROM np JOIN ns ON ns.doc_id = np.doc_id
        |  JOIN documents d ON d.doc_id = np.doc_id),
        |dom AS (SELECT lang, COUNT(*) AS n_docs,
        |   CAST(SUM(ex_nano) AS BIGINT) // COUNT(*) AS excess_nano FROM ex GROUP BY 1),
        |f AS (SELECT lang, n_docs, excess_nano,
        |   CAST(ROUND(EXP(CAST(excess_nano * 1000000 AS DOUBLE) / 1e15) * 1000000.0)
        |     AS BIGINT) AS factor_micro FROM dom),
        |n0 AS (SELECT lang, n_docs, excess_nano, factor_micro,
        |   n_docs * factor_micro AS numer FROM f),
        |n1 AS (SELECT *, NULLIF(CAST(SUM(numer) OVER () AS HUGEINT), 0) AS bigs FROM n0),
        |q0 AS (SELECT *, CAST(300 AS HUGEINT) * numer // bigs AS base,
        |   CAST(300 AS HUGEINT) * numer
        |     - (CAST(300 AS HUGEINT) * numer // bigs) * bigs AS rem,
        |   CAST(numer AS HUGEINT) * 1000000 // bigs AS wm FROM n1),
        |q1 AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rr,
        |   300 - SUM(base) OVER () AS deficit FROM q0)
        |SELECT lang AS domain, n_docs, excess_nano, factor_micro,
        | CAST(wm AS BIGINT) AS w_micro,
        | CAST(base + CASE WHEN rr <= deficit THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM q1""".stripMargin,
    "curation_dsir" ->
      """WITH t AS (SELECT doc_id, lang, REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+') AS w0
        |           FROM documents WHERE text IS NOT NULL),
        |tw AS (SELECT doc_id, lang, [x FOR x IN w0 IF LEN(x) > 0] AS w FROM t),
        |pairs AS (SELECT doc_id, lang, p['a'] AS a, p['b'] AS b FROM (
        |  SELECT doc_id, lang, UNNEST([{'a': w[i], 'b': w[i+1]} FOR i IN RANGE(1, LEN(w))]) AS p
        |  FROM tw WHERE LEN(w) >= 2)),
        |c2t AS (SELECT a, b, COUNT(*) AS c2 FROM pairs
        |  WHERE doc_id % 3 = 0 AND lang = 'en' GROUP BY 1, 2),
        |c1t AS (SELECT a, SUM(c2) AS c1 FROM c2t GROUP BY 1),
        |vt AS (SELECT COUNT(DISTINCT term) AS v FROM
        |  (SELECT UNNEST(w) AS term FROM tw WHERE doc_id % 3 = 0 AND lang = 'en')),
        |c2r AS (SELECT a, b, COUNT(*) AS c2 FROM pairs
        |  WHERE doc_id % 3 = 1 GROUP BY 1, 2),
        |c1r AS (SELECT a, SUM(c2) AS c1 FROM c2r GROUP BY 1),
        |vr AS (SELECT COUNT(DISTINCT term) AS v FROM
        |  (SELECT UNNEST(w) AS term FROM tw WHERE doc_id % 3 = 1)),
        |sct AS (SELECT pr.doc_id,
        |  CAST(ROUND(LN(CAST(COALESCE(c2t.c2, 0) + 1 AS DOUBLE)
        |    / CAST(COALESCE(c1t.c1, 0) + vt.v AS DOUBLE)) * 1000000000) AS BIGINT) AS lp
        | FROM pairs pr LEFT JOIN c2t ON pr.a = c2t.a AND pr.b = c2t.b
        | LEFT JOIN c1t ON pr.a = c1t.a, vt
        | WHERE pr.doc_id % 3 = 2),
        |nt AS (SELECT doc_id, COUNT(*) AS n_pairs, -SUM(lp) AS nll FROM sct GROUP BY 1),
        |scr AS (SELECT pr.doc_id,
        |  CAST(ROUND(LN(CAST(COALESCE(c2r.c2, 0) + 1 AS DOUBLE)
        |    / CAST(COALESCE(c1r.c1, 0) + vr.v AS DOUBLE)) * 1000000000) AS BIGINT) AS lp
        | FROM pairs pr LEFT JOIN c2r ON pr.a = c2r.a AND pr.b = c2r.b
        | LEFT JOIN c1r ON pr.a = c1r.a, vr
        | WHERE pr.doc_id % 3 = 2),
        |nr AS (SELECT doc_id, -SUM(lp) AS nll FROM scr GROUP BY 1),
        |sc AS (SELECT nt.doc_id, nt.n_pairs, CAST(nr.nll - nt.nll AS BIGINT) AS logw_nano
        | FROM nt JOIN nr ON nr.doc_id = nt.doc_id),
        |rk AS (SELECT *, CAST(ROW_NUMBER() OVER
        |  (ORDER BY logw_nano DESC, doc_id DESC) AS BIGINT) AS rank FROM sc)
        |SELECT doc_id, rank, logw_nano, n_pairs FROM rk WHERE rank <= 100""".stripMargin,
    "text_lm_score" ->
      """WITH t AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+') AS w0
        |           FROM documents WHERE text IS NOT NULL),
        |tw AS (SELECT doc_id, [x FOR x IN w0 IF LEN(x) > 0] AS w FROM t),
        |pairs AS (SELECT doc_id, p['a'] AS a, p['b'] AS b FROM (
        |  SELECT doc_id, UNNEST([{'a': w[i], 'b': w[i+1]} FOR i IN RANGE(1, LEN(w))]) AS p
        |  FROM tw WHERE LEN(w) >= 2)),
        |c2 AS (SELECT a, b, COUNT(*) AS c2 FROM pairs WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |c1 AS (SELECT a, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM
        |  (SELECT UNNEST(w) AS term FROM tw WHERE doc_id % 2 = 0)),
        |sc AS (SELECT pr.doc_id,
        |  CAST(ROUND(LN(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)
        |    / CAST(COALESCE(c1.c1, 0) + v.v AS DOUBLE)) * 1000000000) AS BIGINT) AS lp
        | FROM pairs pr LEFT JOIN c2 ON pr.a = c2.a AND pr.b = c2.b
        | LEFT JOIN c1 ON pr.a = c1.a, v
        | WHERE pr.doc_id % 2 = 1)
        |SELECT doc_id, COUNT(*) AS n_pairs, CAST(-SUM(lp) AS BIGINT) AS nll_nano
        |FROM sc GROUP BY 1""".stripMargin,
    "text_bm25" -> bm25Sql,
    "text_unicode_normalize" ->
      """WITH r AS (SELECT doc_id,
        | 'cafe' || chr(769) || ' a' || chr(768) || ' u' || chr(776) ||
        |   ' n' || chr(771) || '-' || CAST(doc_id % 10 AS VARCHAR) AS raw
        | FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS nfc, strip_accents(raw) AS ascii,
        | CAST(LENGTH(nfc_normalize(raw)) AS INT) AS nfc_len,
        | CAST(LENGTH(raw) AS INT) AS raw_len FROM r""".stripMargin,
    "text_rrf_hybrid" -> rrfHybridSql,
    "stream_decontam_gate" -> decontamGateSql,
    "stream_golden_records" ->
      """WITH d AS (SELECT doc_id, lang, text,
        |  CAST(LENGTH(text) AS INT) AS len FROM documents),
        |rk AS (SELECT lang, text, ROW_NUMBER() OVER (PARTITION BY lang
        |  ORDER BY (text IS NOT NULL) DESC, len DESC, doc_id DESC) AS rn FROM d),
        |agg AS (SELECT lang, MAX(len) AS len,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs FROM d GROUP BY 1)
        |SELECT a.lang, t.text, a.len, a.n_docs
        |FROM agg a JOIN (SELECT lang, text FROM rk WHERE rn = 1) t USING (lang)""".stripMargin,
    "text_bm25_sql" -> bm25Sql,
    "text_dict_tag" -> dictTagSql,
    "text_dict_sql" -> dictTagSql,
    "text_blocklist_filter" -> blocklistSql,
    "text_strip_html" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>T' || CAST(doc_id % 7 AS VARCHAR) ||
        |  '</title><style type="text/css">p { margin: 0; }</style></head>' ||
        |  '<body><!-- crawl-id --><h1>&quot;Doc&quot; &amp;amp; &lt;more&gt;</h1>' ||
        |  '<p>It&#8217;s &#x27;q&#39; caf&#xE9; A&#x1F600;B &#38;lt; &amp;#60;' ||
        |  ' bad:&#0;&#55296;&#xD800;&#x110000;&#12345678;&#x;&#; tail&#38</p><p>' ||
        |  SUBSTR(text, 1, 200) ||
        |  '</p><script>if (a < b && c > d) { run(); }</script><br/></body></html>'
        |    AS html
        | FROM documents WHERE text IS NOT NULL),
        |s1 AS (SELECT doc_id, regexp_replace(html,
        |  '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(t,
        |  '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s3),
        |s5 AS (SELECT doc_id, array_to_string(list_transform(str_split(t, '&'),
        |  (p, i) -> CASE
        |   WHEN i = 1 THEN p
        |   WHEN p LIKE 'amp;%' THEN '&' || substr(p, 5)
        |   WHEN p LIKE 'lt;%' THEN '<' || substr(p, 4)
        |   WHEN p LIKE 'gt;%' THEN '>' || substr(p, 4)
        |   WHEN p LIKE 'quot;%' THEN '"' || substr(p, 6)
        |   WHEN p LIKE 'apos;%' THEN CHR(39) || substr(p, 6)
        |   WHEN p LIKE 'nbsp;%' THEN ' ' || substr(p, 6)
        |   WHEN regexp_matches(p, '^#[0-9]{1,7};')
        |     AND CAST(regexp_extract(p, '^#([0-9]{1,7});', 1) AS BIGINT) BETWEEN 1 AND 1114111
        |     AND NOT CAST(regexp_extract(p, '^#([0-9]{1,7});', 1) AS BIGINT) BETWEEN 55296 AND 57343
        |    THEN chr(CAST(regexp_extract(p, '^#([0-9]{1,7});', 1) AS INTEGER))
        |      || regexp_replace(p, '^#[0-9]{1,7};', '')
        |   WHEN regexp_matches(p, '^#[xX][0-9a-fA-F]{1,6};')
        |     AND CAST('0x' || regexp_extract(p, '^#[xX]([0-9a-fA-F]{1,6});', 1) AS BIGINT) BETWEEN 1 AND 1114111
        |     AND NOT CAST('0x' || regexp_extract(p, '^#[xX]([0-9a-fA-F]{1,6});', 1) AS BIGINT) BETWEEN 55296 AND 57343
        |    THEN chr(CAST('0x' || regexp_extract(p, '^#[xX]([0-9a-fA-F]{1,6});', 1) AS INTEGER))
        |      || regexp_replace(p, '^#[xX][0-9a-fA-F]{1,6};', '')
        |   ELSE '&' || p END), '') AS t FROM s4),
        |c AS (SELECT doc_id,
        |  TRIM(regexp_replace(t, '[ \t\n\r\f\x0B]+', ' ', 'g')) AS clean FROM s5)
        |SELECT doc_id, clean, CAST(LENGTH(clean) AS BIGINT) AS n_clean_chars
        |FROM c""".stripMargin,
    "text_pii_redact" ->
      """WITH s AS (
        | SELECT doc_id,
        |  text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example from '
        |   || '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 or call '
        |   || '+1 555-010-' || LPAD(CAST(doc_id % 100 AS VARCHAR), 4, '0') AS t
        | FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        | REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(t,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |   '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS redacted
        |FROM s""".stripMargin,
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+') AS toks
        |           FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, toks,
        |  CASE WHEN len(toks) >= 2 THEN list_transform(generate_series(1, len(toks)-1),
        |    i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS big,
        |  CASE WHEN len(toks) >= 3 THEN list_transform(generate_series(1, len(toks)-2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) ELSE [] END AS tri
        | FROM t)
        |SELECT doc_id,
        | CASE WHEN len(toks) <= 0 THEN 0.0 ELSE
        |  CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS dup_token_frac,
        | CASE WHEN len(big) <= 0 THEN 0.0 ELSE
        |  CAST(len(big) - len(list_distinct(big)) AS DOUBLE) / len(big) END AS dup_bigram_frac,
        | CASE WHEN len(tri) <= 0 THEN 0.0 ELSE
        |  CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE) / len(tri) END AS dup_trigram_frac
        |FROM g""".stripMargin,
    "text_chunk" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+') AS toks
        |           FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |n AS (SELECT doc_id, toks,
        |       CASE WHEN len(toks) <= 32 THEN 1
        |            ELSE CAST(CEIL(CAST(len(toks) - 32 AS DOUBLE) / 24) AS BIGINT) + 1 END AS nc
        |      FROM t),
        |e AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS i FROM n)
        |SELECT doc_id, CAST(i AS INT) AS chunk_id,
        | array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text,
        | CAST(len(toks[i*24+1 : i*24+32]) AS INT) AS n_chunk_tokens
        |FROM e""".stripMargin,
    "text_boilerplate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |e AS (SELECT doc_id, toks,
        |   unnest(generate_series(0, (len(toks) + 2) // 3 - 1)) AS i FROM d),
        |seg AS (SELECT doc_id, i AS seg_id,
        |   array_to_string(toks[i*3+1 : i*3+3], ' ') AS seg_text FROM e),
        |freq AS (SELECT seg_text FROM seg
        |   GROUP BY seg_text HAVING COUNT(DISTINCT doc_id) > 3)
        |SELECT s.doc_id,
        | string_agg(s.seg_text, ' ' ORDER BY s.seg_id) AS cleaned_text,
        | CAST(COUNT(*) AS BIGINT) AS n_kept
        |FROM seg s LEFT JOIN freq f USING (seg_text)
        |WHERE f.seg_text IS NULL GROUP BY 1""".stripMargin,
    "text_fuzzy_join" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 40) AS title
        |           FROM documents WHERE text IS NOT NULL)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | CAST(levenshtein(a.title, b.title) AS INT) AS edit_dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        | AND abs(length(a.title) - length(b.title)) <= 2
        | AND levenshtein(a.title, b.title) <= 2""".stripMargin,
    "contamination" -> contaminationSql,
    "contamination_incremental" -> contaminationSql,
    "emb_quantize" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS s FROM c)
        |SELECT vec_id, s AS scale,
        | CASE WHEN s = 0 THEN array_to_string(list_transform(v, x -> 0), ',')
        |      ELSE array_to_string(list_transform(v,
        |        x -> CAST(FLOOR(x / s * 127 + 0.5) AS INT)), ',') END AS q_str
        |FROM m""".stripMargin,
    "emb_covariance" ->
      """WITH p AS (SELECT vec_id, embedding,
        |   unnest(generate_series(0, 63)) AS i FROM embeddings),
        |x AS (SELECT vec_id, embedding, i,
        |   CAST(CAST(embedding[i+1] AS DOUBLE) AS DECIMAL(19,9)) AS xi FROM p),
        |q AS (SELECT i, xi, embedding,
        |   unnest(generate_series(i, 63)) AS j FROM x),
        |s AS (SELECT i, j,
        |   SUM(xi * CAST(CAST(embedding[j+1] AS DOUBLE) AS DECIMAL(19,9))) AS sxy,
        |   CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY 1, 2),
        |m AS (SELECT i AS d, SUM(xi) AS sx FROM x GROUP BY 1)
        |SELECT CAST(s.i AS INT) AS i, CAST(s.j AS INT) AS j,
        | CAST(ROUND((CAST(s.sxy AS DOUBLE)
        |   - CAST(mi.sx AS DOUBLE) * CAST(mj.sx AS DOUBLE) / CAST(s.n AS DOUBLE))
        |  / (CAST(s.n AS DOUBLE) - 1.0) * 1000000000) AS BIGINT) AS cov_nano
        |FROM s JOIN m mi ON mi.d = s.i JOIN m mj ON mj.d = s.j""".stripMargin,

    "emb_random_projection" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |jx AS (SELECT vec_id, e, unnest(generate_series(0, 63)) AS j FROM v),
        |x AS (SELECT vec_id, j,
        |   CAST(FLOOR(e[j+1] * 1000000 + 0.5) AS BIGINT) AS vm FROM jx),
        |kx AS (SELECT vec_id, j, vm, unnest(generate_series(0, 15)) AS k FROM x)
        |SELECT vec_id, CAST(k AS INT) AS k,
        | CAST(SUM(vm * CASE WHEN (strpos('0123456789abcdef',
        |     substr(md5('rp:' || CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 1)) - 1) % 2 = 0
        |   THEN 1 ELSE -1 END) AS BIGINT) AS proj_micro
        |FROM kx GROUP BY 1, 2""".stripMargin,
    "split_train_test" ->
      """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        | COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM (SELECT doc_id, ((doc_id % 100) * 61) % 100 AS b FROM documents)
        |GROUP BY 1""".stripMargin,
    "split_leakage_safe" -> leakageSafeSplitSql,
    "q_equidepth_hist" ->
      """SELECT prio, CAST(bucket AS INT) AS bucket, COUNT(*) AS n,
        | MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM (SELECT o_orderpriority AS prio, o_totalprice,
        |  NTILE(10) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey) AS bucket FROM orders)
        |GROUP BY 1, 2""".stripMargin,
    "stream_hopping" ->
      """WITH base AS (SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t, event_type, value FROM events),
        |x AS (SELECT UNNEST(generate_series(((t - 3600) // 900 + 1) * 900,
        |        (t // 900) * 900, 900)) AS window_start,
        |       event_type, value FROM base)
        |SELECT window_start, event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2""".stripMargin,
    "events_hopping" ->
      """WITH base AS (SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t, event_type, value FROM events),
        |x AS (SELECT UNNEST(generate_series(((t - 3600) // 900 + 1) * 900,
        |        (t // 900) * 900, 900)) AS window_start,
        |       event_type, value FROM base)
        |SELECT window_start, event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2""".stripMargin,
    "dq_checks" ->
      """WITH agg AS (SELECT
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
        |  CAST(SUM(CASE WHEN o_totalprice IS NOT NULL AND (o_totalprice < 0 OR o_totalprice > 400000) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |  CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-3]-[A-Z]+') THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |  CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('F','O') THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v4,
        |  CAST(COUNT(*) AS BIGINT) AS total
        | FROM orders),
        |fk AS (SELECT CAST(COUNT(*) AS BIGINT) AS v5,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS total
        | FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        | WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)
        |SELECT 'not_null' AS "check", 'o_custkey' AS target, v0 AS violations, total, v0 = 0 AS passed FROM agg
        |UNION ALL SELECT 'in_range', 'o_totalprice', v1, total, v1 = 0 FROM agg
        |UNION ALL SELECT 'matches', 'o_orderpriority', v2, total, v2 = 0 FROM agg
        |UNION ALL SELECT 'in_set', 'o_orderstatus', v3, total, v3 = 0 FROM agg
        |UNION ALL SELECT 'unique', 'o_orderkey', v4, total, v4 = 0 FROM agg
        |UNION ALL SELECT 'ref_integrity', 'o_custkey', v5, total, v5 = 0 FROM fk""".stripMargin,
    "dq_k_anonymity" ->
      """SELECT o_orderpriority, o_orderstatus,
        | CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS order_day,
        | CAST(COUNT(*) AS BIGINT) AS group_size
        |FROM orders GROUP BY 1, 2, 3 HAVING COUNT(*) < 3""".stripMargin,
    "dq_l_diversity" ->
      """SELECT o_orderpriority,
        | CAST(epoch(o_orderdate) AS BIGINT) // 604800 AS order_week,
        | CAST(COUNT(*) AS BIGINT) AS group_size,
        | CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_sensitive
        |FROM orders GROUP BY 1, 2
        |HAVING COUNT(DISTINCT o_orderstatus) < 3""".stripMargin,
    "dq_t_closeness" -> tClosenessSql,
    "dq_tcl_sql" -> tClosenessSql,
    "dq_tcl_incremental" -> tClosenessSql,
    "stream_tcl_gate" -> tClosenessSql,
    "q_outlier_mad" ->
      """WITH base AS (SELECT o_orderpriority,
        |   CASE WHEN o_orderkey % 499 = 0 THEN o_totalprice * 20.0
        |        ELSE o_totalprice END AS price FROM orders),
        |med AS (SELECT o_orderpriority, quantile_cont(price, 0.5) AS med
        |  FROM base GROUP BY 1),
        |d AS (SELECT b.o_orderpriority, b.price, ABS(b.price - m.med) AS adev
        |  FROM base b JOIN med m USING (o_orderpriority)),
        |mad AS (SELECT o_orderpriority, quantile_cont(adev, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT d.o_orderpriority, COUNT(*) AS n_outliers,
        | MIN(d.price) AS min_outlier, MAX(d.price) AS max_outlier
        |FROM d JOIN mad USING (o_orderpriority)
        |WHERE d.adev > 3.0 * 1.4826 * mad.mad
        |GROUP BY 1""".stripMargin,
    "q_damerau" ->
      """SELECT a.p_partkey AS p_partkey,
        | CAST(damerau_levenshtein(a.p_name, b.p_name) AS INT) AS dl_dist
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1""".stripMargin,
    "q_jaro_winkler" ->
      """SELECT a.p_partkey AS p_partkey,
        | CAST(ROUND(jaro_winkler_similarity(a.p_name, b.p_name) * 1000000) AS BIGINT) AS jw_micro,
        | CAST(ROUND(jaro_similarity(a.p_name, b.p_name) * 1000000) AS BIGINT) AS jaro_micro
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1""".stripMargin,
    "etl_cdc_diff" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |o AS (SELECT * FROM base WHERE o_orderkey % 11 <> 3),
        |n AS (SELECT o_orderkey, o_orderstatus,
        |   CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 11 <> 7),
        |j AS (SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
        |   o.o_orderstatus AS os, n.o_orderstatus AS ns,
        |   o.o_totalprice AS ot, n.o_totalprice AS nt
        |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey),
        |c AS (SELECT COALESCE(ok, nk) AS o_orderkey,
        |   CASE WHEN ok IS NULL THEN 'insert' WHEN nk IS NULL THEN 'delete'
        |        WHEN (os IS DISTINCT FROM ns) OR (ot IS DISTINCT FROM nt) THEN 'update'
        |        ELSE 'unchanged' END AS change_type,
        |   os AS old_o_orderstatus, ns AS new_o_orderstatus,
        |   ot AS old_o_totalprice, nt AS new_o_totalprice
        |  FROM j)
        |SELECT * FROM c WHERE change_type <> 'unchanged'""".stripMargin,
    "ts_gapfill" ->
      """WITH base AS (SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec, value FROM events),
        |obs AS (SELECT user_id, ts_sec - (ts_sec % 21600) AS bucket,
        |   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS obs_v
        |  FROM base GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, UNNEST(generate_series(mn, mx, 21600)) AS bucket FROM span),
        |j AS (SELECT g.user_id, g.bucket, o.obs_v
        |  FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.bucket = g.bucket),
        |w AS (SELECT user_id, bucket, obs_v,
        |   LAST_VALUE(obs_v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |   LAST_VALUE(CASE WHEN obs_v IS NOT NULL THEN bucket END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY bucket
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |   FIRST_VALUE(obs_v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |   FIRST_VALUE(CASE WHEN obs_v IS NOT NULL THEN bucket END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY bucket
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM j)
        |SELECT user_id, bucket,
        | CAST(ROUND((CASE WHEN obs_v IS NOT NULL THEN obs_v
        |   ELSE pv + (nv - pv) * (CAST(bucket - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
        |   END) * 1000000) AS BIGINT) AS v_micro,
        | (obs_v IS NOT NULL) AS observed
        |FROM w""".stripMargin,
    "dq_psi_drift" -> psiDriftSql,
    "dq_js_drift" -> jsDriftSql,
    "dq_js_sql" -> jsDriftSql,
    "dq_cramers_sql" -> cramersVSql,
    "dq_js_incremental" ->
      """WITH day0 AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderkey % 5 = 0 AND o_totalprice IS NOT NULL),
        |st AS (SELECT MIN(v) AS mn, (MAX(v) - MIN(v)) / 10 AS w FROM day0),
        |ref AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderkey % 5 IN (0, 1) AND o_totalprice IS NOT NULL),
        |cur AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderkey % 5 IN (2, 3, 4) AND o_totalprice IS NOT NULL),
        |rb AS (SELECT CAST(LEAST(GREATEST(FLOOR((v - mn) / w), 0), 9) AS BIGINT) AS bin
        |       FROM ref, st),
        |cb AS (SELECT CAST(LEAST(GREATEST(FLOOR((v - mn) / w), 0), 9) AS BIGINT) AS bin
        |       FROM cur, st),
        |spine AS (SELECT CAST(range AS BIGINT) AS bin FROM range(0, 10)),
        |r AS (SELECT bin, COUNT(*) AS n_ref FROM rb GROUP BY 1),
        |c AS (SELECT bin, COUNT(*) AS n_cur FROM cb GROUP BY 1),
        |j AS (SELECT spine.bin, COALESCE(n_ref, 0) AS n_ref,
        |       COALESCE(n_cur, 0) AS n_cur
        |      FROM spine LEFT JOIN r USING (bin) LEFT JOIN c USING (bin)),
        |t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM j),
        |pq AS (SELECT bin, n_ref, n_cur,
        |        (n_ref + 0.5) / (tr + 5.0) AS p,
        |        (n_cur + 0.5) / (tc + 5.0) AS q
        |       FROM j, t)
        |SELECT bin, n_ref, n_cur,
        | CAST(ROUND((p * LN(p / ((p + q) / 2)) + q * LN(q / ((p + q) / 2)))
        |   / 2 * 1000000000) AS BIGINT) AS js_nano
        |FROM pq""".stripMargin,
    "dq_cramers_v" -> cramersVSql,
    "ts_ohlc" -> ohlcSql,
    "ts_ohlc_incremental" -> ohlcSql,
    "stream_ohlc" -> ohlcSql,
    "ts_twap" -> twapSql,
    "stream_twap_gate" -> twapSql,
    "stream_cramers_gate" -> cramersVSql,
    "stream_bleu_gate" -> bleuSql,
    "stream_cer_gate" ->
      """WITH c AS (SELECT doc_id // 2 AS id,
        |    trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS s
        |  FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL),
        |r AS (SELECT doc_id // 2 AS id,
        |    trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS s
        |  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL),
        |p AS (SELECT levenshtein(c.s, r.s) AS e, len(r.s) AS rc
        |  FROM c JOIN r ON c.id = r.id)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(coalesce(sum(e), 0) AS BIGINT) AS edits,
        | CAST(coalesce(sum(rc), 0) AS BIGINT) AS ref_chars,
        | CAST(CASE WHEN coalesce(sum(rc), 0) > 0
        |   THEN sum(e) * 1000000 // sum(rc) END AS BIGINT) AS cer_micro
        |FROM p""".stripMargin,
    "q_weighted_quantile" -> weightedQuantileSql,
    "q_weighted_quantile_incremental" -> weightedQuantileSql,
    "stream_coverage_gate" -> coverageSql,
    "events_coverage" -> coverageSql,
    "q_coverage_sql" -> coverageSql,
    "q_wquantile_sql" -> weightedQuantileSql,
    "q_equiwidth_hist" ->
      """WITH d AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_totalprice IS NOT NULL),
        |st AS (SELECT MIN(v) AS mn, (MAX(v) - MIN(v)) / 10 AS w FROM d),
        |b AS (SELECT CAST(LEAST(GREATEST(FLOOR((v - mn) / w), 0), 9) AS BIGINT)
        |   AS bin FROM d, st),
        |spine AS (SELECT CAST(range AS BIGINT) AS bin FROM range(0, 10)),
        |c AS (SELECT bin, COUNT(*) AS n FROM b GROUP BY 1)
        |SELECT spine.bin, CAST(COALESCE(n, 0) AS BIGINT) AS n
        |FROM spine LEFT JOIN c USING (bin)""".stripMargin,
    "q_string_agg" ->
      """SELECT o_orderpriority AS prio, COUNT(*) AS n,
        | string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
        |   AS statuses
        |FROM orders GROUP BY 1""".stripMargin,
    "text_readability" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
        | CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
        | CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |   + len(regexp_extract_all(text, '\S+'))
        |   - len(regexp_extract_all(lower(text), '\S*[aeiouy]\S*')) AS BIGINT)
        |   AS n_syllables,
        | CASE WHEN len(regexp_extract_all(text, '\S+')) > 0 THEN CAST(
        |   206835000
        |   - (1015000 * len(regexp_extract_all(text, '\S+')))
        |     // GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
        |   - (84600000 * (len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |       + len(regexp_extract_all(text, '\S+'))
        |       - len(regexp_extract_all(lower(text), '\S*[aeiouy]\S*'))))
        |     // len(regexp_extract_all(text, '\S+'))
        |   AS BIGINT) END AS flesch_micro
        |FROM documents""".stripMargin,
    "q_not_in_null" ->
      """SELECT
        | (SELECT COUNT(*) FROM orders WHERE o_custkey IN
        |   (SELECT CASE WHEN c_custkey % 7 = 0 THEN c_custkey END FROM customer))
        |   AS n_in_nullable,
        | (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
        |   (SELECT CASE WHEN c_custkey % 7 = 0 THEN c_custkey END FROM customer))
        |   AS n_not_in_nullable,
        | (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
        |   (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0))
        |   AS n_not_in_clean""".stripMargin,
    "dq_srm" ->
      """WITH c AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'A'
        |    WHEN o_orderkey % 3 = 1 THEN 'B' ELSE 'C' END AS arm,
        |   COUNT(*) AS n_obs
        |  FROM orders GROUP BY 1),
        |spine AS (SELECT UNNEST(['A', 'B', 'C']) AS arm, 1 AS w),
        |f AS (SELECT spine.arm, w, COALESCE(n_obs, 0) AS n_obs
        |  FROM spine LEFT JOIN c USING (arm)),
        |t AS (SELECT SUM(n_obs) AS n FROM f)
        |SELECT arm, n_obs,
        | CAST(CAST(n AS HUGEINT) * w * 1000000 // 3 AS BIGINT) AS expected_micro,
        | CASE WHEN n > 0 THEN CAST(
        |   (CAST(n_obs AS HUGEINT) * 3 - CAST(n AS HUGEINT) * w)
        |   * (CAST(n_obs AS HUGEINT) * 3 - CAST(n AS HUGEINT) * w)
        |   * 1000000 // (CAST(n AS HUGEINT) * w * 3) AS BIGINT) END AS srm_cell_micro
        |FROM f, t""".stripMargin,
    "exp_conformal_group" ->
      """WITH sc AS (SELECT o_orderkey, o_orderpriority,
        |   o_totalprice + CAST(o_orderkey % 97 - 48 AS DOUBLE)
        |     * CAST(CAST(SUBSTR(o_orderpriority, 1, 1) AS INTEGER) AS DOUBLE) AS pred,
        |   o_totalprice AS actual FROM orders),
        |r AS (SELECT o_orderpriority AS g,
        |   ABS(CAST(FLOOR(pred * 1000000 + 0.5) AS BIGINT)
        |     - CAST(FLOOR(actual * 1000000 + 0.5) AS BIGINT)) AS r
        |  FROM sc WHERE o_orderkey % 3 = 0),
        |h AS (SELECT g, r, COUNT(*) AS c FROM r GROUP BY 1, 2),
        |cu AS (SELECT g, r, SUM(c) OVER (PARTITION BY g ORDER BY r
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |       SUM(c) OVER (PARTITION BY g) AS n FROM h),
        |q AS (SELECT g, MIN(r) AS qhat FROM cu
        |      WHERE cum >= ((n + 1) * 900000 + 999999) // 1000000 GROUP BY 1)
        |SELECT sc.o_orderkey, sc.o_orderpriority,
        | CAST(FLOOR(sc.pred * 1000000 + 0.5) AS BIGINT) AS pred_micro,
        | CAST(q.qhat AS BIGINT) AS qhat_micro,
        | CAST(FLOOR(sc.pred * 1000000 + 0.5) AS BIGINT) - q.qhat AS lo_micro,
        | CAST(FLOOR(sc.pred * 1000000 + 0.5) AS BIGINT) + q.qhat AS hi_micro
        |FROM sc LEFT JOIN q ON q.g = sc.o_orderpriority
        |WHERE sc.o_orderkey % 3 = 1""".stripMargin,
    "exp_conformal" -> conformalSql,
    "exp_conformal_sql" -> conformalSql,
    "stream_conformal_gate" -> conformalSql,
    "exp_cqr" -> cqrSql,
    "exp_cqr_sql" -> cqrSql,
    "stream_cqr_gate" -> cqrSql,
    "stream_mw_gate" ->
      """WITH src AS (SELECT
        |   CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT) AS vq,
        |   o_orderkey % 3 AS g FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderkey % 3 < 2),
        |h AS (SELECT vq, SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS ca,
        |   COUNT(*) AS t FROM src GROUP BY 1),
        |cu AS (SELECT vq, ca, t,
        |   COALESCE(SUM(t) OVER (ORDER BY vq
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
        |  FROM h),
        |ag AS (SELECT SUM(CAST(ca AS HUGEINT) * (2 * cumb + t + 1)) AS r2a,
        |   SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_d,
        |   SUM(ca) AS na, SUM(t) AS nn FROM cu),
        |fin AS (SELECT na, nn, nn - na AS nb, tie_d,
        |   r2a - CAST(na AS HUGEINT) * (na + 1) AS u2a FROM ag)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        | CAST(u2a AS BIGINT) AS u2_a,
        | CAST(2 * CAST(na AS HUGEINT) * nb - u2a AS BIGINT) AS u2_b,
        | CAST(tie_d AS BIGINT) AS tie_term,
        | CASE WHEN na > 0 AND nb > 0 AND nn > 1 AND
        |   (CAST(nn AS DOUBLE) + 1.0 - CAST(tie_d AS DOUBLE)
        |     / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0))) > 0.0
        |  THEN CAST(FLOOR((CAST(u2a AS DOUBLE)
        |     - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
        |   / (2.0 * SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
        |     * (CAST(nn AS DOUBLE) + 1.0 - CAST(tie_d AS DOUBLE)
        |       / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0)))))
        |   * 1000000000.0 + 0.5) AS BIGINT) END AS z_nano
        |FROM fin""".stripMargin,
    "exp_mcnemar" ->
      """WITH src AS (SELECT (o_orderkey % 3 = 0) AS pre,
        |   (o_custkey % 2 = 0) AS post FROM orders),
        |ag AS (SELECT COUNT(*) AS n,
        |  SUM(CASE WHEN pre AND post THEN 1 ELSE 0 END) AS n_both,
        |  SUM(CASE WHEN pre AND NOT post THEN 1 ELSE 0 END) AS b,
        |  SUM(CASE WHEN NOT pre AND post THEN 1 ELSE 0 END) AS c,
        |  SUM(CASE WHEN NOT pre AND NOT post THEN 1 ELSE 0 END) AS n_neither
        | FROM src)
        |SELECT CAST(n AS BIGINT) AS n, CAST(n_both AS BIGINT) AS n_both,
        | CAST(b AS BIGINT) AS n_pre_only, CAST(c AS BIGINT) AS n_post_only,
        | CAST(n_neither AS BIGINT) AS n_neither,
        | CASE WHEN b + c > 0 THEN CAST(
        |   CAST(b - c AS HUGEINT) * (b - c) * 1000000 // (b + c)
        |  AS BIGINT) END AS chi2_micro
        |FROM ag""".stripMargin,
    "exp_proportions" ->
      """WITH src AS (SELECT l_returnflag AS g, (l_quantity > 25.0) AS s
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |ag AS (SELECT
        |  SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS na,
        |  SUM(CASE WHEN g = 'A' AND s THEN 1 ELSE 0 END) AS xa,
        |  SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS nb,
        |  SUM(CASE WHEN g = 'R' AND s THEN 1 ELSE 0 END) AS xb
        | FROM src)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(xa AS BIGINT) AS x_a,
        | CAST(nb AS BIGINT) AS n_b, CAST(xb AS BIGINT) AS x_b,
        | CASE WHEN na > 0 AND nb > 0 THEN CAST(
        |   (CAST(xa AS HUGEINT) * nb - CAST(xb AS HUGEINT) * na) * 1000000
        |     // (CAST(na AS HUGEINT) * nb) AS BIGINT) END AS diff_micro,
        | CASE WHEN na > 0 AND nb > 0 AND xa + xb > 0 AND xa + xb < na + nb
        |  THEN CAST(FLOOR((CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)
        |     - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))
        |   / SQRT((CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |     * (1.0 - CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))
        |     * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))
        |   * 1000000000.0 + 0.5) AS BIGINT) END AS z_nano
        |FROM ag""".stripMargin,
    "exp_winsorized_mean" ->
      """WITH src AS (SELECT l_returnflag AS g,
        |   CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT) AS vq
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IN ('A', 'R')),
        |h AS (SELECT g, vq, COUNT(*) AS t FROM src GROUP BY 1, 2),
        |cu AS (SELECT g, vq, t,
        |   COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY vq
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
        |   SUM(t) OVER (PARTITION BY g) AS n FROM h),
        |p(p_micro) AS (VALUES (50000), (950000)),
        |cuts AS (SELECT g, MAX(n) AS n,
        |   MIN(CASE WHEN p_micro = 50000 THEN vq END) AS lo,
        |   MIN(CASE WHEN p_micro = 950000 THEN vq END) AS hi
        |  FROM cu JOIN p
        |   ON cumb < (p.p_micro * n + 999999) // 1000000
        |  AND (p.p_micro * n + 999999) // 1000000 <= cumb + t
        |  GROUP BY g),
        |w AS (SELECT cu.g,
        |   SUM(CAST(cu.t AS HUGEINT) * GREATEST(c.lo, LEAST(c.hi, cu.vq))) AS wsum,
        |   MAX(c.n) AS n, MAX(c.lo) AS lo, MAX(c.hi) AS hi
        |  FROM cu JOIN cuts c ON c.g = cu.g GROUP BY 1)
        |SELECT g AS arm, CAST(n AS BIGINT) AS n,
        | CAST(lo AS BIGINT) AS lo_cut_micro, CAST(hi AS BIGINT) AS hi_cut_micro,
        | CAST(wsum // CAST(n AS HUGEINT) AS BIGINT) AS wmean_micro
        |FROM w""".stripMargin,
    "exp_did" ->
      """WITH src AS (SELECT
        |   CASE WHEN o_orderkey % 2 = 0 THEN 'T' ELSE 'C' END AS g,
        |   CASE WHEN o_custkey % 2 = 0 THEN 'pre' ELSE 'post' END AS p,
        |   CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT) AS vm
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |ag AS (SELECT
        |  SUM(CASE WHEN g = 'T' AND p = 'pre' THEN CAST(vm AS HUGEINT) END) AS s_t_pre,
        |  SUM(CASE WHEN g = 'T' AND p = 'pre' THEN 1 ELSE 0 END) AS n_t_pre,
        |  SUM(CASE WHEN g = 'T' AND p = 'post' THEN CAST(vm AS HUGEINT) END) AS s_t_post,
        |  SUM(CASE WHEN g = 'T' AND p = 'post' THEN 1 ELSE 0 END) AS n_t_post,
        |  SUM(CASE WHEN g = 'C' AND p = 'pre' THEN CAST(vm AS HUGEINT) END) AS s_c_pre,
        |  SUM(CASE WHEN g = 'C' AND p = 'pre' THEN 1 ELSE 0 END) AS n_c_pre,
        |  SUM(CASE WHEN g = 'C' AND p = 'post' THEN CAST(vm AS HUGEINT) END) AS s_c_post,
        |  SUM(CASE WHEN g = 'C' AND p = 'post' THEN 1 ELSE 0 END) AS n_c_post
        | FROM src)
        |SELECT CAST(n_t_pre AS BIGINT) AS n_t_pre,
        | CAST(n_t_post AS BIGINT) AS n_t_post,
        | CAST(n_c_pre AS BIGINT) AS n_c_pre,
        | CAST(n_c_post AS BIGINT) AS n_c_post,
        | CASE WHEN n_t_pre > 0 THEN CAST(FLOOR(CAST(s_t_pre AS DOUBLE)
        |   / CAST(n_t_pre AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) END AS mean_t_pre_nano,
        | CASE WHEN n_t_post > 0 THEN CAST(FLOOR(CAST(s_t_post AS DOUBLE)
        |   / CAST(n_t_post AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) END AS mean_t_post_nano,
        | CASE WHEN n_c_pre > 0 THEN CAST(FLOOR(CAST(s_c_pre AS DOUBLE)
        |   / CAST(n_c_pre AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) END AS mean_c_pre_nano,
        | CASE WHEN n_c_post > 0 THEN CAST(FLOOR(CAST(s_c_post AS DOUBLE)
        |   / CAST(n_c_post AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) END AS mean_c_post_nano,
        | CASE WHEN n_t_pre > 0 AND n_t_post > 0 AND n_c_pre > 0 AND n_c_post > 0
        |  THEN CAST(FLOOR((CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
        |    - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE)
        |    - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
        |      - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)))
        |   * 1000.0 + 0.5) AS BIGINT) END AS did_nano
        |FROM ag""".stripMargin,
    "exp_mw_sql" -> mannWhitneySql,
    "exp_mw_incremental" -> mannWhitneySql,
    "exp_kruskal_sql" -> kruskalSql,
    "exp_wilcoxon_sql" -> wilcoxonSql,
    "exp_mannwhitney" -> mannWhitneySql,
    "exp_kruskal" -> kruskalSql,
    "exp_wilcoxon" -> wilcoxonSql,
    "exp_qte" ->
      """WITH src AS (SELECT l_returnflag AS g,
        |   CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT) AS vq
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IN ('A', 'R')),
        |h AS (SELECT g, vq, COUNT(*) AS t FROM src GROUP BY 1, 2),
        |cu AS (SELECT g, vq, t,
        |   COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY vq
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
        |   SUM(t) OVER (PARTITION BY g) AS n FROM h),
        |p(p_micro) AS (VALUES (250000), (500000), (750000)),
        |q AS (SELECT p.p_micro, cu.g, cu.n, cu.vq FROM cu JOIN p
        |  ON cumb < (p.p_micro * n + 999999) // 1000000
        | AND (p.p_micro * n + 999999) // 1000000 <= cumb + t)
        |SELECT CAST(p_micro AS BIGINT) AS p_micro,
        | CAST(MAX(CASE WHEN g = 'A' THEN n END) AS BIGINT) AS n_a,
        | CAST(MAX(CASE WHEN g = 'R' THEN n END) AS BIGINT) AS n_b,
        | CAST(MAX(CASE WHEN g = 'A' THEN vq END) AS BIGINT) AS q_a_micro,
        | CAST(MAX(CASE WHEN g = 'R' THEN vq END) AS BIGINT) AS q_b_micro,
        | CAST(MAX(CASE WHEN g = 'A' THEN vq END)
        |   - MAX(CASE WHEN g = 'R' THEN vq END) AS BIGINT) AS qte_micro
        |FROM q GROUP BY 1""".stripMargin,
    "exp_jackknife_ratio" ->
      """WITH src AS (SELECT
        |   ((l_orderkey % 1000000007) * 654435747 % 1000000007) % 64 AS bucket,
        |   CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT) AS nm,
        |   CAST(FLOOR(l_quantity * 1000000 + 0.5) AS BIGINT) AS dm
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
        |pb AS (SELECT bucket, SUM(CAST(nm AS HUGEINT)) AS sn,
        |   SUM(CAST(dm AS HUGEINT)) AS sd FROM src GROUP BY 1),
        |tt AS (SELECT SUM(sn) AS tn, SUM(sd) AS td, COUNT(*) AS nb FROM pb),
        |rb AS (SELECT CAST(FLOOR(CAST(tt.tn - pb.sn AS DOUBLE)
        |     / CAST(tt.td - pb.sd AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT)
        |     AS r_nano,
        |   (tt.td <= pb.sd OR tt.td <= 0) AS bad FROM pb CROSS JOIN tt),
        |ag AS (SELECT
        |   SUM(CASE WHEN NOT bad THEN CAST(r_nano AS HUGEINT) END) AS sr,
        |   SUM(CASE WHEN NOT bad THEN CAST(r_nano AS HUGEINT) * r_nano END) AS srr,
        |   COUNT(CASE WHEN NOT bad THEN 1 END) AS n_ok FROM rb)
        |SELECT CAST(tt.nb AS BIGINT) AS n_buckets,
        | CASE WHEN tt.td > 0 AND ag.n_ok = tt.nb
        |  THEN CAST(FLOOR(CAST(tt.tn AS DOUBLE) / CAST(tt.td AS DOUBLE)
        |    * 1000000000.0 + 0.5) AS BIGINT) END AS theta_nano,
        | CASE WHEN tt.td > 0 AND ag.n_ok = tt.nb
        |  THEN CAST(FLOOR(SQRT(
        |    CAST(tt.nb - 1 AS DOUBLE) / CAST(tt.nb AS DOUBLE)
        |    * CAST(CAST(tt.nb AS HUGEINT) * tt.nb * ag.srr
        |       - CAST(tt.nb AS HUGEINT) * ag.sr * ag.sr AS DOUBLE)
        |    / (CAST(tt.nb AS DOUBLE) * CAST(tt.nb AS DOUBLE)) / 1.0e18)
        |   * 1000000000.0 + 0.5) AS BIGINT) END AS se_nano
        |FROM tt CROSS JOIN ag""".stripMargin,
    "exp_fdr_bh" ->
      """WITH met AS (SELECT o_orderpriority AS exp_id,
        |   o_orderkey % 20 AS metric,
        |   SUM(o_orderkey) % 1000001 AS p_micro
        |  FROM orders GROUP BY 1, 2),
        |rk AS (SELECT *,
        |   ROW_NUMBER() OVER (PARTITION BY exp_id
        |     ORDER BY p_micro, metric) AS "rank",
        |   COUNT(*) OVER (PARTITION BY exp_id) AS m FROM met),
        |t AS (SELECT *, LEAST(1000000,
        |   (m * p_micro + "rank" - 1) // "rank") AS term FROM rk),
        |a AS (SELECT *, MIN(term) OVER (PARTITION BY exp_id
        |   ORDER BY p_micro DESC, metric DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_adj
        |  FROM t)
        |SELECT exp_id, CAST(metric AS BIGINT) AS metric,
        | CAST(p_micro AS BIGINT) AS p_micro, CAST("rank" AS BIGINT) AS "rank",
        | CAST(m AS BIGINT) AS m, CAST(p_adj AS BIGINT) AS p_adj_micro,
        | p_adj <= 50000 AS reject FROM a""".stripMargin,
    "exp_cuped" ->
      """WITH e AS (SELECT o_orderkey,
        |   CAST(ROUND(o_totalprice * 1000000) AS BIGINT) AS ym,
        |   CAST(ROUND(FLOOR(o_totalprice / 100) * 100 * 1000000) AS BIGINT) AS xm
        |  FROM orders),
        |s AS (SELECT COUNT(*) AS n, SUM(CAST(xm AS HUGEINT)) AS sx,
        |   SUM(CAST(ym AS HUGEINT)) AS sy,
        |   SUM(CAST(xm AS HUGEINT) * ym) AS sxy,
        |   SUM(CAST(xm AS HUGEINT) * xm) AS sxx
        |  FROM e WHERE ym IS NOT NULL AND xm IS NOT NULL),
        |d AS (SELECT n,
        |   CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
        |   (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
        |     - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))
        |   / (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
        |     - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS theta,
        |   (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
        |     - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS varx
        |  FROM s)
        |SELECT o_orderkey,
        | CASE WHEN n > 1 AND varx > 0
        |  THEN CAST(ROUND(theta * 1000000) AS BIGINT) END AS theta_micro,
        | CASE WHEN ym IS NOT NULL AND xm IS NOT NULL AND n > 1 AND varx > 0
        |  THEN CAST(ROUND(CAST(ym AS DOUBLE)
        |    - theta * (CAST(xm AS DOUBLE) - mx)) AS BIGINT) END AS y_adj_micro
        |FROM e, d""".stripMargin,
    "feat_robust_scale" ->
      """WITH v AS (SELECT l_returnflag, l_extendedprice,
        |   CAST(ROUND(l_extendedprice * 1000000) AS BIGINT) AS vm FROM lineitem),
        |h AS (SELECT l_returnflag AS g, vm, COUNT(*) AS c FROM v
        |  WHERE vm IS NOT NULL GROUP BY 1, 2),
        |cw AS (SELECT g, vm,
        |   SUM(c) OVER (PARTITION BY g ORDER BY vm
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |   SUM(c) OVER (PARTITION BY g) AS tot FROM h),
        |q AS (SELECT g, MIN(CASE WHEN cum * 4 >= tot THEN vm END) AS q1,
        |   MIN(CASE WHEN cum * 2 >= tot THEN vm END) AS med,
        |   MIN(CASE WHEN cum * 4 >= 3 * tot THEN vm END) AS q3
        |  FROM cw GROUP BY g),
        |j AS (SELECT v.l_returnflag, v.l_extendedprice, v.vm,
        |   CAST(v.vm - q.med AS HUGEINT) * 1000000 AS num,
        |   q.q3 - q.q1 AS den
        |  FROM v JOIN q ON v.l_returnflag = q.g)
        |SELECT l_returnflag, l_extendedprice,
        | CASE WHEN vm IS NOT NULL AND den > 0 THEN CAST(
        |   (num - ((num % den) + den) % den) // den
        |   + CASE WHEN 2 * (((num % den) + den) % den) >= den
        |       THEN 1 ELSE 0 END AS BIGINT) END AS robust_micro
        |FROM j""".stripMargin,
    "events_inter_arrival" -> interArrivalSql,
    "events_interarrival_sql" -> interArrivalSql,
    "feat_zscore" ->
      """WITH e AS (SELECT event_id, event_type, "value",
        |   CASE WHEN "value" IS NOT NULL
        |     THEN CAST(ROUND("value" * 1000000) AS BIGINT) END AS vm
        |  FROM events),
        |s AS (SELECT event_type, COUNT(*) AS n, SUM(vm) AS sx,
        |   SUM(CAST(vm AS HUGEINT) * vm) AS sxx
        |  FROM e WHERE vm IS NOT NULL GROUP BY 1)
        |SELECT event_id, e.event_type, "value",
        | CASE WHEN vm IS NOT NULL AND n > 1 AND
        |   (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
        |     - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |       * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) > 0
        |  THEN CAST(ROUND(
        |    (CAST(vm AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    / SQRT(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |    * 1000000) AS BIGINT) END AS z_micro
        |FROM e LEFT JOIN s USING (event_type)""".stripMargin,
    "dq_psi_sql" -> psiDriftSql,
    "stream_drift_gate" -> psiDriftSql,
    "dq_cohens_kappa" -> cohensKappaSql,
    "dq_kappa_sql" -> cohensKappaSql,
    "dq_psi_incremental" ->
      """WITH day0 AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderkey % 5 = 0 AND o_totalprice IS NOT NULL),
        |st AS (SELECT MIN(v) AS mn, (MAX(v) - MIN(v)) / 10 AS w FROM day0),
        |ref AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderkey % 5 IN (0, 1) AND o_totalprice IS NOT NULL),
        |cur AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderkey % 5 IN (2, 3, 4) AND o_totalprice IS NOT NULL),
        |rb AS (SELECT CAST(LEAST(GREATEST(FLOOR((v - mn) / w), 0), 9) AS BIGINT) AS bin
        |       FROM ref, st),
        |cb AS (SELECT CAST(LEAST(GREATEST(FLOOR((v - mn) / w), 0), 9) AS BIGINT) AS bin
        |       FROM cur, st),
        |spine AS (SELECT CAST(range AS BIGINT) AS bin FROM range(0, 10)),
        |r AS (SELECT bin, COUNT(*) AS n_ref FROM rb GROUP BY 1),
        |c AS (SELECT bin, COUNT(*) AS n_cur FROM cb GROUP BY 1),
        |j AS (SELECT spine.bin, COALESCE(n_ref, 0) AS n_ref,
        |       COALESCE(n_cur, 0) AS n_cur
        |      FROM spine LEFT JOIN r USING (bin) LEFT JOIN c USING (bin)),
        |t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM j)
        |SELECT bin, n_ref, n_cur,
        | CAST(ROUND(((n_ref + 0.5) / (tr + 5.0) - (n_cur + 0.5) / (tc + 5.0))
        |   * LN(((n_ref + 0.5) / (tr + 5.0)) / ((n_cur + 0.5) / (tc + 5.0)))
        |   * 1000000000) AS BIGINT) AS psi_nano
        |FROM j, t""".stripMargin,
    "dq_fleiss_kappa" -> fleissKappaSql,
    "dq_fleiss_sql" -> fleissKappaSql,
    "dq_mutual_info" -> mutualInfoSql,
    "dq_mi_sql" -> mutualInfoSql,
    "dq_psi_cat_drift" ->
      """WITH ref AS (SELECT o_orderpriority AS cat FROM orders
        |  WHERE o_orderkey % 3 <> 0 AND o_orderpriority IS NOT NULL),
        |cur AS (SELECT o_orderpriority AS cat FROM orders
        |  WHERE o_orderkey % 3 = 0 AND o_orderpriority IS NOT NULL),
        |r AS (SELECT cat, COUNT(*) AS n_ref FROM ref GROUP BY 1),
        |c AS (SELECT cat, COUNT(*) AS n_cur FROM cur GROUP BY 1),
        |j AS (SELECT COALESCE(r.cat, c.cat) AS category,
        |       COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
        |      FROM r FULL OUTER JOIN c ON r.cat = c.cat),
        |t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc,
        |       COUNT(*) AS k FROM j)
        |SELECT category, n_ref, n_cur,
        | CAST(ROUND(((n_ref + 0.5) / (tr + 0.5 * k)
        |     - (n_cur + 0.5) / (tc + 0.5 * k))
        |   * LN(((n_ref + 0.5) / (tr + 0.5 * k))
        |     / ((n_cur + 0.5) / (tc + 0.5 * k)))
        |   * 1000000000) AS BIGINT) AS psi_nano
        |FROM j, t""".stripMargin,
    "dq_ks_drift" -> ksDriftSql,
    "dq_ks_sql" -> ksDriftSql,
    "dq_w1_drift" -> w1DriftSql,
    "dq_w1_sql" -> w1DriftSql,
    "dq_roc_auc" -> rocAucSql,
    "dq_roc_sql" -> rocAucSql,
    "dq_w1_incremental" ->
      """WITH ref AS (SELECT CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS v
        |  FROM orders WHERE o_orderkey % 5 IN (0, 1) AND o_totalprice IS NOT NULL),
        |cur AS (SELECT CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS v
        |  FROM orders WHERE o_orderkey % 5 IN (2, 3, 4) AND o_totalprice IS NOT NULL),
        |u AS (SELECT v, 1 AS is_ref FROM ref
        |      UNION ALL SELECT v, 0 FROM cur),
        |vals AS (SELECT v, SUM(is_ref) AS c_ref, SUM(1 - is_ref) AS c_cur
        |         FROM u GROUP BY v),
        |cum AS (SELECT v, SUM(c_ref) OVER (ORDER BY v) AS cr,
        |         SUM(c_cur) OVER (ORDER BY v) AS cc,
        |         LEAD(v) OVER (ORDER BY v) AS nv FROM vals),
        |t AS (SELECT (SELECT COUNT(*) FROM ref) AS nr,
        |       (SELECT COUNT(*) FROM cur) AS nc)
        |SELECT CAST(nr AS BIGINT) AS n_ref, CAST(nc AS BIGINT) AS n_cur,
        | CAST(SUM(ABS(CAST(cr AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nr)
        |   * (nv - v)) AS BIGINT) AS w1_num,
        | CAST(SUM(ABS(CAST(cr AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nr)
        |   * (nv - v)) * 1000000
        |   // (CAST(nr AS HUGEINT) * nc * 100) AS BIGINT) AS w1_micro
        |FROM cum, t WHERE nv IS NOT NULL GROUP BY nr, nc""".stripMargin,
    "dedup_canonical" -> dedupCanonicalSql,
    "er_survivorship" -> erSurvivorshipSql,
    "dq_calibration" ->
      """WITH s AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL),
        |st AS (SELECT MIN(v) AS mn, (MAX(v) - MIN(v)) / 10 AS w FROM s),
        |b AS (SELECT CAST(LEAST(GREATEST(FLOOR((v - mn) / w), 0), 9) AS BIGINT) AS bin,
        |       pos FROM s, st)
        |SELECT bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos,
        | CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_micro
        |FROM b GROUP BY 1""".stripMargin,
    "text_zipf" ->
      """WITH tok AS (SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f\x0B]+')) AS term
        |             FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT lang, term, COUNT(*) AS cnt FROM tok
        |       WHERE len(term) > 0 GROUP BY 1, 2),
        |rk AS (SELECT lang, cnt, ROW_NUMBER() OVER (PARTITION BY lang
        |        ORDER BY cnt DESC, term ASC) AS rank FROM tf),
        |b AS (SELECT lang, CAST(LN(CAST(rank AS DOUBLE)) AS DECIMAL(19,6)) AS x,
        |       CAST(LN(CAST(cnt AS DOUBLE)) AS DECIMAL(19,6)) AS y
        |      FROM rk WHERE rank <= 100),
        |s AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |   SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
        |   SUM(x * x) AS sxx, SUM(y * y) AS syy FROM b GROUP BY 1),
        |res AS (SELECT lang, n,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
        | CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
        |FROM s)
        |SELECT lang, n,
        | CAST(ROUND(slope * 1000000) AS BIGINT) AS slope_micro,
        | CAST(ROUND((syd - slope * sxd) / CAST(n AS DOUBLE) * 1000000) AS BIGINT) AS intercept_micro,
        | CAST(ROUND(r * 1000000) AS BIGINT) AS r_micro
        |FROM res""".stripMargin,
    "dq_entropy" -> entropySql,
    "dq_entropy_sql" -> entropySql,
    "dq_ks_incremental" ->
      """WITH ref AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderkey % 5 IN (0, 1) AND o_totalprice IS NOT NULL),
        |cur AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderkey % 5 IN (2, 3, 4) AND o_totalprice IS NOT NULL),
        |u AS (SELECT v, 1 AS is_ref FROM ref
        |      UNION ALL SELECT v, 0 FROM cur),
        |vals AS (SELECT v, SUM(is_ref) AS c_ref, SUM(1 - is_ref) AS c_cur
        |         FROM u GROUP BY v),
        |cum AS (SELECT SUM(c_ref) OVER (ORDER BY v) AS cr,
        |         SUM(c_cur) OVER (ORDER BY v) AS cc FROM vals),
        |t AS (SELECT (SELECT COUNT(*) FROM ref) AS nr,
        |       (SELECT COUNT(*) FROM cur) AS nc)
        |SELECT CAST(nr AS BIGINT) AS n_ref, CAST(nc AS BIGINT) AS n_cur,
        | CAST(MAX(ABS(CAST(cr AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nr))
        |   AS BIGINT) AS d_num,
        | CAST(MAX(ABS(CAST(cr AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nr))
        |   * 1000000 // (CAST(nr AS HUGEINT) * nc) AS BIGINT) AS ks_micro
        |FROM cum, t GROUP BY nr, nc""".stripMargin,
    "text_vocab_stats" ->
      """WITH tok AS (SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f\x0B]+')) AS term
        |             FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT lang AS slice, term, COUNT(*) AS cnt FROM tok
        |       WHERE len(term) > 0 GROUP BY 1, 2)
        |SELECT slice, CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
        | COUNT(*) FILTER (cnt = 1) AS n_hapax,
        | CAST(COUNT(*) * 1000000 // SUM(cnt) AS BIGINT) AS ttr_micro
        |FROM tf GROUP BY 1""".stripMargin,
    "q_skyline" ->
      """WITH m AS (SELECT p_size AS x, MAX(p_retailprice) AS y FROM part
        |           WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
        |           GROUP BY 1),
        |f AS (SELECT x, y, MAX(y) OVER (ORDER BY x DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM m),
        |fr AS (SELECT x, y FROM f WHERE pm IS NULL OR y > pm)
        |SELECT fr.x, fr.y, COUNT(*) AS n
        |FROM part p JOIN fr ON p.p_size = fr.x AND p.p_retailprice = fr.y
        |GROUP BY 1, 2""".stripMargin,
    "dq_chi2_drift" -> chi2DriftSql,
    "dq_chi2_sql" -> chi2DriftSql,
    "dq_benford" -> benfordSql,
    "dq_benford_sql" -> benfordSql,
    "dq_fd_check" -> fdCheckSql,
    "dq_fd_sql" -> fdCheckSql,
    "split_kfold" ->
      """WITH f AS (SELECT lang, doc_id,
        |    (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) - 1) % 5 AS fold
        |  FROM documents)
        |SELECT lang, CAST(fold AS BIGINT) AS fold, COUNT(*) AS n,
        | MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM f GROUP BY 1, 2""".stripMargin,
    "q_gini" -> giniSql,
    "q_gini_sql" -> giniSql,
    "text_sorted_neighborhood" ->
      """WITH n AS (SELECT doc_id AS id, SUBSTR(TRIM(text), 1, 24) AS key,
        |    SUBSTR(TRIM(text), 1, 40) AS pre
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (SELECT id, pre, ROW_NUMBER() OVER (ORDER BY key, id) AS rn FROM n)
        |SELECT a.id AS a_id, b.id AS b_id,
        | CAST(levenshtein(a.pre, b.pre) AS INT) AS dist
        |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3
        |WHERE levenshtein(a.pre, b.pre) <= 5""".stripMargin,
    "ts_seasonal_anomaly" -> seasonalAnomalySql,
    "stream_anomaly_gate" -> seasonalAnomalySql,
    "dq_volume_anomaly" ->
      """WITH c AS (SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600 AS hr,
        |  COUNT(*) AS n_rows FROM events GROUP BY 1),
        |wdw AS (SELECT hr, n_rows,
        |  COUNT(n_rows) OVER tw AS bn,
        |  SUM(n_rows) OVER tw AS bs,
        |  SUM(CAST(n_rows AS HUGEINT) * n_rows) OVER tw AS bs2
        | FROM c WINDOW tw AS (ORDER BY hr ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT hr, n_rows, CAST(bs AS BIGINT) AS base_sum,
        | (CAST(bn * n_rows - bs AS HUGEINT) * (bn * n_rows - bs))
        |   > 9 * (bn * bs2 - CAST(bs AS HUGEINT) * bs) AS is_anomaly
        |FROM wdw WHERE bn = 7""".stripMargin,
    "events_dau_mau" -> dauMauSql,
    "sketch_dau_mau" -> dauMauSql,
    "events_retention" ->
      """WITH b AS (SELECT DISTINCT user_id,
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 604800 AS period FROM events),
        |f AS (SELECT user_id, MIN(period) AS cohort_period FROM b GROUP BY 1)
        |SELECT f.cohort_period, b.period - f.cohort_period AS period_k,
        | COUNT(DISTINCT b.user_id) AS n_users
        |FROM b JOIN f ON b.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,
    // prequential scores: tile-2 docs under LM(tile 1), tile-3 docs
    // under LM(tiles 1-2) — same NTILE(3)-by-doc_id tiling the replay
    // stages
    "stream_ppl_gate" ->
      """WITH dt AS (SELECT doc_id, text, NTILE(3) OVER (ORDER BY doc_id) AS tile
        |           FROM documents),
        |tw0 AS (SELECT doc_id, tile, REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+') AS w0
        |        FROM dt WHERE text IS NOT NULL),
        |tw AS (SELECT doc_id, tile, [x FOR x IN w0 IF LEN(x) > 0] AS w FROM tw0),
        |pairs AS (SELECT doc_id, tile, p['a'] AS a, p['b'] AS b FROM (
        |  SELECT doc_id, tile, UNNEST([{'a': w[i], 'b': w[i+1]} FOR i IN RANGE(1, LEN(w))]) AS p
        |  FROM tw WHERE LEN(w) >= 2)),
        |c2a AS (SELECT a, b, COUNT(*) AS c2 FROM pairs WHERE tile = 1 GROUP BY 1, 2),
        |c1a AS (SELECT a, SUM(c2) AS c1 FROM c2a GROUP BY 1),
        |va AS (SELECT COUNT(DISTINCT term) AS v FROM
        |  (SELECT UNNEST(w) AS term FROM tw WHERE tile = 1)),
        |sca AS (SELECT pr.doc_id,
        |  CAST(ROUND(LN(CAST(COALESCE(c2a.c2, 0) + 1 AS DOUBLE)
        |    / CAST(COALESCE(c1a.c1, 0) + va.v AS DOUBLE)) * 1000000000) AS BIGINT) AS lp
        | FROM pairs pr LEFT JOIN c2a ON pr.a = c2a.a AND pr.b = c2a.b
        | LEFT JOIN c1a ON pr.a = c1a.a, va
        | WHERE pr.tile = 2),
        |na AS (SELECT doc_id, COUNT(*) AS n_pairs, CAST(-SUM(lp) AS BIGINT) AS nll_nano
        |       FROM sca GROUP BY 1),
        |c2b AS (SELECT a, b, COUNT(*) AS c2 FROM pairs WHERE tile <= 2 GROUP BY 1, 2),
        |c1b AS (SELECT a, SUM(c2) AS c1 FROM c2b GROUP BY 1),
        |vb AS (SELECT COUNT(DISTINCT term) AS v FROM
        |  (SELECT UNNEST(w) AS term FROM tw WHERE tile <= 2)),
        |scb AS (SELECT pr.doc_id,
        |  CAST(ROUND(LN(CAST(COALESCE(c2b.c2, 0) + 1 AS DOUBLE)
        |    / CAST(COALESCE(c1b.c1, 0) + vb.v AS DOUBLE)) * 1000000000) AS BIGINT) AS lp
        | FROM pairs pr LEFT JOIN c2b ON pr.a = c2b.a AND pr.b = c2b.b
        | LEFT JOIN c1b ON pr.a = c1b.a, vb
        | WHERE pr.tile = 3),
        |nb AS (SELECT doc_id, COUNT(*) AS n_pairs, CAST(-SUM(lp) AS BIGINT) AS nll_nano
        |       FROM scb GROUP BY 1)
        |SELECT * FROM na UNION ALL SELECT * FROM nb""".stripMargin,
    "events_survival" -> survivalSql,
    "events_survival_incremental" -> survivalSql,
    "events_survival_sql" -> survivalSql,
    // drained streaming funnel == the full batch funnel (heartbeat-
    // closed replay; every user's state times out and emits)
    "stream_funnel" -> funnelSql,
    "events_funnel" -> funnelSql,
    "q_rootcause_deltas" ->
      """WITH a AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0
        |   AND o_totalprice IS NOT NULL),
        |b AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1
        |   AND o_totalprice IS NOT NULL),
        |u AS (
        | SELECT 'o_orderpriority' AS dim,
        |  COALESCE(CAST(o_orderpriority AS VARCHAR), '<NULL>') AS segment,
        |  1 AS one_a, 0 AS one_b,
        |  CAST(ROUND(o_totalprice * 1000000) AS BIGINT) AS v_a,
        |  CAST(0 AS BIGINT) AS v_b FROM a
        | UNION ALL
        | SELECT 'o_orderstatus',
        |  COALESCE(CAST(o_orderstatus AS VARCHAR), '<NULL>'), 1, 0,
        |  CAST(ROUND(o_totalprice * 1000000) AS BIGINT), CAST(0 AS BIGINT)
        | FROM a
        | UNION ALL
        | SELECT 'o_orderpriority',
        |  COALESCE(CAST(o_orderpriority AS VARCHAR), '<NULL>'), 0, 1,
        |  CAST(0 AS BIGINT), CAST(ROUND(o_totalprice * 1000000) AS BIGINT)
        | FROM b
        | UNION ALL
        | SELECT 'o_orderstatus',
        |  COALESCE(CAST(o_orderstatus AS VARCHAR), '<NULL>'), 0, 1,
        |  CAST(0 AS BIGINT), CAST(ROUND(o_totalprice * 1000000) AS BIGINT)
        | FROM b)
        |SELECT dim, segment,
        | CAST(SUM(one_a) AS BIGINT) AS n_a, CAST(SUM(one_b) AS BIGINT) AS n_b,
        | CAST(SUM(v_a) AS BIGINT) AS v_a_micro,
        | CAST(SUM(v_b) AS BIGINT) AS v_b_micro,
        | CAST(SUM(v_b) - SUM(v_a) AS BIGINT) AS delta_micro
        |FROM u GROUP BY 1, 2""".stripMargin,
    "events_funnel_exclusion" ->
      """WITH base AS (SELECT user_id, event_type,
        |   CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec FROM events),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_sec END)
        |   OVER (PARTITION BY user_id) AS step_1 FROM base),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND step_1 IS NOT NULL
        |     AND ts_sec > step_1 THEN ts_sec END)
        |   OVER (PARTITION BY user_id) AS step_2 FROM s1),
        |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND step_2 IS NOT NULL
        |     AND ts_sec > step_2 THEN ts_sec END)
        |   OVER (PARTITION BY user_id) AS step_3 FROM s2),
        |f AS (SELECT DISTINCT user_id, step_1, step_2, step_3,
        |  (CASE WHEN step_1 IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN step_2 IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN step_3 IS NOT NULL THEN 1 ELSE 0 END) AS reached
        | FROM s3),
        |ex AS (SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ex_sec
        |  FROM events WHERE event_type = 'error'),
        |j AS (SELECT f.*, ex_sec FROM f LEFT JOIN ex USING (user_id))
        |SELECT user_id, step_1, step_2, step_3, reached,
        | CAST(SUM(CASE WHEN
        |    (step_1 IS NOT NULL AND step_2 IS NOT NULL
        |      AND ex_sec > step_1 AND ex_sec < step_2)
        |    OR (step_2 IS NOT NULL AND step_3 IS NOT NULL
        |      AND ex_sec > step_2 AND ex_sec < step_3)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_excluded_between,
        | (reached = 3 AND SUM(CASE WHEN
        |    (step_1 IS NOT NULL AND step_2 IS NOT NULL
        |      AND ex_sec > step_1 AND ex_sec < step_2)
        |    OR (step_2 IS NOT NULL AND step_3 IS NOT NULL
        |      AND ex_sec > step_2 AND ex_sec < step_3)
        |   THEN 1 ELSE 0 END) = 0) AS clean
        |FROM j GROUP BY 1, 2, 3, 4, 5""".stripMargin,
    "events_attribution_multi" ->
      """WITH base AS (SELECT user_id, event_id, event_type,
        |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec FROM events),
        |conv AS (SELECT user_id, event_id AS conv_id, sec AS conv_sec
        |         FROM base WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id, event_id AS t_id, event_type AS t_type,
        |          sec AS t_sec FROM base WHERE event_type IN ('click', 'view')),
        |j AS (SELECT c.user_id, conv_id, t_id, t_type, t_sec, conv_sec
        |      FROM conv c JOIN touch t ON c.user_id = t.user_id
        |       AND t_sec <= conv_sec AND t_sec > conv_sec - 7200),
        |n AS (SELECT *, COUNT(*) OVER (PARTITION BY user_id, conv_id) AS n_touches
        |      FROM j)
        |SELECT user_id, conv_id, t_id, t_type, t_sec,
        | CAST(n_touches AS BIGINT) AS n_touches,
        | CAST(1000000 // n_touches AS BIGINT) AS w_linear_micro,
        | CAST(1000000 // (1 << CAST(LEAST((conv_sec - t_sec) // 1800, 30) AS INT))
        |   AS BIGINT) AS w_decay_micro
        |FROM n""".stripMargin,
    "events_attribution" ->
      """WITH base AS (SELECT user_id, event_id, event_type,
        |   CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec FROM events),
        |conv AS (SELECT user_id, event_id AS conv_id, sec AS conv_sec
        |  FROM base WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id, event_id AS t_id, event_type AS t_type, sec AS t_sec
        |  FROM base WHERE event_type IN ('click', 'view')),
        |j AS (SELECT c.user_id, c.conv_id, t.t_id, t.t_type, t.t_sec,
        |  ROW_NUMBER() OVER (PARTITION BY c.conv_id ORDER BY t.t_sec, t.t_id) AS rf,
        |  ROW_NUMBER() OVER (PARTITION BY c.conv_id ORDER BY t.t_sec DESC, t.t_id DESC) AS rl,
        |  COUNT(*) OVER (PARTITION BY c.conv_id) AS n_touches
        | FROM conv c JOIN touch t ON c.user_id = t.user_id
        |  AND t.t_sec <= c.conv_sec AND t.t_sec > c.conv_sec - 7200)
        |SELECT f.user_id, f.conv_id, f.t_id AS first_id, f.t_type AS first_type,
        | l.t_id AS last_id, l.t_type AS last_type, f.n_touches
        |FROM (SELECT * FROM j WHERE rf = 1) f
        |JOIN (SELECT * FROM j WHERE rl = 1) l USING (conv_id)""".stripMargin,
    "events_transitions" ->
      """WITH base AS (SELECT user_id, event_id, event_type,
        |   CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec FROM events),
        |nxt AS (SELECT event_type AS from_type,
        |   LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS to_type
        | FROM base),
        |agg AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        | FROM nxt WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        | CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
        | CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM agg""".stripMargin,
    "sketch_segment_overlap" -> thetaOverlapSql,
    "sketch_overlap_sql" -> thetaOverlapSql,
    "sketch_group_quantiles" -> kllQuantilesSql,
    "sketch_quantiles_sql" -> kllQuantilesSql,
    "sketch_dau_mau_sql" -> dauMauSql,
    "sketch_incremental_state" ->
      """SELECT o_orderpriority AS segment,
        | COUNT(DISTINCT o_custkey) AS n_distinct_est
        |FROM orders
        |WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL
        |GROUP BY 1""".stripMargin,
    "sketch_freq_items" ->
      """SELECT CAST(user_id % 10 AS VARCHAR) AS bucket, event_type,
        | COUNT(*) AS n
        |FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    "sketch_freq_items_sql" ->
      """SELECT CAST(user_id % 10 AS VARCHAR) AS bucket, event_type,
        | COUNT(*) AS n
        |FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    "etl_incr_distinct" ->
      """SELECT o_orderpriority AS segment,
        | COUNT(DISTINCT o_custkey) AS n_exact, TRUE AS within_band
        |FROM orders
        |WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL
        |GROUP BY 1""".stripMargin,
    "q_approx_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts_exact,
        | COUNT(*) AS n, TRUE AS within_band
        |FROM lineitem GROUP BY 1""".stripMargin,
    "etl_incr_agg" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        | MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
        |FROM orders GROUP BY 1""".stripMargin,
    "pack_sequences" ->
      """WITH tok AS (SELECT doc_id, doc_id % 8 AS shard,
        |  CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |       ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+')) END AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS prev
        | FROM tok)
        |SELECT doc_id, shard, n_tokens, CAST(prev // 512 AS BIGINT) AS pack_id,
        | CAST(prev % 512 AS BIGINT) AS offset_in_pack FROM c""".stripMargin,
    "sample_mix" ->
      """WITH w AS (SELECT lang, CAST(wt AS DOUBLE) AS wt
        |  FROM (VALUES ('en', 0.4), ('de', 0.2), ('es', 0.15), ('fr', 0.15), ('zh', 0.1))
        |   AS t(lang, wt)),
        |q0 AS (SELECT lang, CAST(FLOOR(wt * 203) AS BIGINT) AS base,
        |        wt * 203 - FLOOR(wt * 203) AS rem FROM w),
        |q1 AS (SELECT lang, base, ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rr,
        |        203 - SUM(base) OVER () AS deficit FROM q0),
        |quota AS (SELECT lang, base + CASE WHEN rr <= deficit THEN 1 ELSE 0 END AS quota FROM q1),
        |r AS (SELECT doc_id, lang, CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |   ORDER BY ((doc_id % 1000000007) * 654435747) % 1000000007 ASC, doc_id ASC) AS INT) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.lang, r.rn FROM r JOIN quota USING (lang)
        |WHERE r.rn <= quota.quota""".stripMargin,
    "sample_weighted" ->
      """SELECT doc_id, lang, priority, rn FROM (
        | SELECT doc_id, lang,
        |  CAST(((doc_id % 1000000007) * 751234567) % 1000000007 AS DOUBLE)
        |    / (LENGTH(text) + 1) AS priority,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |   ORDER BY CAST(((doc_id % 1000000007) * 751234567) % 1000000007 AS DOUBLE)
        |    / (LENGTH(text) + 1) ASC, doc_id ASC) AS INT) AS rn
        | FROM documents) WHERE rn <= 3""".stripMargin,
    "sample_per_group" ->
      """SELECT doc_id, lang, rn FROM (
        | SELECT doc_id, lang,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |   ORDER BY ((doc_id % 1000000007) * 654435747) % 1000000007 ASC, doc_id ASC) AS INT) AS rn
        | FROM documents) WHERE rn <= 3""".stripMargin,
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '[ \t\n\r\f\x0B]+', ' ', 'g'))""".stripMargin,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_editdistance" ->
      """WITH k AS (SELECT doc_id AS id, substr(trim(lower(text)), 1, 32) AS k
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
        |FROM k a JOIN k b
        |  ON (len(a.k) < len(b.k) OR (len(a.k) = len(b.k) AND a.id < b.id))
        | AND abs(len(a.k) - len(b.k)) <= 3
        |WHERE levenshtein(a.k, b.k) <= 3""".stripMargin,
    "text_symspell" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)),
        |      '[ \t\n\r\f\x0B]+'), t -> len(t) > 0)) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |vocab AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS freq
        |  FROM tok WHERE doc_id % 2 = 0 GROUP BY t),
        |noisy AS (SELECT DISTINCT CASE WHEN len(t) % 2 = 0
        |    THEN substr(t, 1, (len(t)+1)//2 - 1) || substr(t, (len(t)+1)//2 + 1)
        |    ELSE substr(t, 1, (len(t)+1)//2 - 1) || 'q' || substr(t, (len(t)+1)//2 + 1)
        |  END AS token FROM tok WHERE doc_id % 2 = 1),
        |cand AS (SELECT n.token, v.term, v.freq,
        |    CAST(levenshtein(n.token, v.term) AS BIGINT) AS dist
        |  FROM noisy n JOIN vocab v ON levenshtein(n.token, v.term) <= 2),
        |best AS (SELECT token, term, dist, freq,
        |    ROW_NUMBER() OVER (PARTITION BY token
        |      ORDER BY dist, freq DESC, term) AS rn FROM cand)
        |SELECT n.token, b.term, b.dist, b.freq
        |FROM noisy n LEFT JOIN best b ON b.token = n.token AND b.rn = 1""".stripMargin,
    "dedup_sentence_spans" -> sentenceSpansSql,
    "text_c4_line_sql" -> c4LineCleanSql,
    "text_chunk_sent_sql" -> chunkSentencesSql,
    "text_c4_line_clean" -> c4LineCleanSql,
    "text_chunk_sentences" -> chunkSentencesSql,
    "dedup_sentence_incremental" -> sentenceSpansSql,
    "dedup_sentence_sql" -> sentenceSpansSql,
    "dedup_span_remove" -> spanRemoveSql,
    "dedup_span_remove_sql" -> spanRemoveSql,
    // ascending-id tiling makes first-seen == global min (id, pos),
    // so the drained removal gate shares the one-shot rewrite oracle
    "stream_span_remove_gate" -> spanRemoveSql,
    "dedup_substr_remove" -> substrRemoveSql,
    // as-of-arrival verdicts: dup test cumulative over replay tiles
    "stream_span_gate" -> spanGateSql,
    "dedup_substring" ->
      // span dedup contract: a k=12-token window is duplicated iff its
      // exact token sequence occurs >= 2 times corpus-wide (other doc
      // or same-doc repeat); dup_tokens = distinct positions covered
      """WITH t AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+') AS w FROM documents),
        |g AS (SELECT doc_id, i, ARRAY_TO_STRING(w[i:i+11], ' ') AS sg
        |  FROM t, UNNEST(RANGE(1, GREATEST(LEN(w) - 10, 1))) AS u(i) WHERE LEN(w) >= 12),
        |dup AS (SELECT sg FROM g GROUP BY sg HAVING COUNT(*) >= 2),
        |dpos AS (SELECT g.doc_id, g.i FROM g JOIN dup USING (sg)),
        |nd AS (SELECT doc_id, COUNT(*) AS n_dup_shingles FROM dpos GROUP BY doc_id),
        |cov AS (SELECT doc_id, COUNT(DISTINCT p) AS dup_tokens
        |  FROM (SELECT doc_id, UNNEST(RANGE(i, i + 12)) AS p FROM dpos) GROUP BY doc_id),
        |base AS (SELECT doc_id, LEN(w) - 11 AS n_shingles FROM t WHERE LEN(w) >= 12)
        |SELECT base.doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
        |  CAST(COALESCE(nd.n_dup_shingles, 0) AS BIGINT) AS n_dup_shingles,
        |  CAST(COALESCE(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens
        |FROM base LEFT JOIN nd USING (doc_id) LEFT JOIN cov USING (doc_id)""".stripMargin,
    "dedup_winnow" ->
      // winnowing fingerprints are MD5(gram) hex strings on BOTH sides,
      // so window-min selection replays exactly; value-only min makes
      // tie rules irrelevant
      """WITH t AS (SELECT doc_id,
        |  LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+'), x -> x <> '') AS ts FROM documents),
        |h AS (SELECT doc_id, [MD5(ARRAY_TO_STRING(ts[i:i+3], ' ')) FOR i IN RANGE(1, GREATEST(LEN(ts) - 2, 1))] AS hs
        |  FROM t WHERE LEN(ts) >= 11),
        |f AS (SELECT doc_id, LIST_DISTINCT([LIST_MIN(hs[j:j+7]) FOR j IN RANGE(1, GREATEST(LEN(hs) - 6, 1))]) AS fps FROM h),
        |ix AS (SELECT doc_id, UNNEST(fps) AS fp FROM f)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS n_shared_fp
        |FROM ix a JOIN ix b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,
    "dedup_containment" ->
      """WITH t AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |  FOR i IN RANGE(1, GREATEST(LEN(w) - 1, 1))]) AS s FROM t WHERE LEN(w) >= 3),
        |sizes AS (SELECT doc_id, LEN(s) AS sz FROM sh),
        |ix AS (SELECT doc_id, UNNEST(s) AS sg FROM sh),
        |co AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
        |  FROM ix a JOIN ix b ON a.sg = b.sg AND a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id, c * 1.0 / sa.sz AS containment
        |FROM co JOIN sizes sa ON co.a_id = sa.doc_id
        |WHERE c * 1.0 / sa.sz >= 0.7""".stripMargin,
    "dedup_minhash" -> ngramJaccardSql,
    // the drained gate emits every pair exactly once (with its later
    // document), so the oracle is the full-corpus near-dup set
    "stream_dedup_gate" -> ngramJaccardSql,
    // all-pairs exact concept-shingle Jaccard ground truth for the
    // cross-lingual LSH (same recall argument as dedup_minhash)
    "dedup_crosslingual" ->
      """WITH d AS (SELECT doc_id, lang,
        |  REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+') AS w FROM documents),
        |tr AS (SELECT doc_id + 1000000 AS doc_id, 'xx' AS lang,
        |  list_transform(
        |    list_filter([{'s': w[j], 'p': j} FOR j IN RANGE(1, LEN(w)+1)],
        |      e -> (e['p'] - 1) % (10 + doc_id % 20) != 0),
        |    e -> REVERSE(e['s'])) AS w
        | FROM d WHERE doc_id % 4 = 0),
        |corpus AS (SELECT doc_id, lang, w FROM d UNION ALL SELECT doc_id, lang, w FROM tr),
        |vocab AS (SELECT DISTINCT UNNEST(w) AS t FROM d WHERE LEN(w) > 0),
        |lex0 AS (SELECT t AS surface, t AS concept FROM vocab WHERE LEN(t) > 0
        |  UNION ALL SELECT REVERSE(t) AS surface, t AS concept FROM vocab WHERE LEN(t) > 0),
        |lex AS (SELECT surface, MIN(concept) AS concept FROM lex0 GROUP BY 1),
        |pos AS (SELECT doc_id, lang, e['p'] AS p, e['s'] AS surface FROM
        |  (SELECT doc_id, lang, UNNEST([{'p': i, 's': w[i]} FOR i IN RANGE(1, LEN(w)+1)]) AS e
        |   FROM corpus) WHERE LEN(surface) > 0),
        |cs AS (SELECT doc_id, lang, LIST(concept ORDER BY p) AS cs
        |  FROM pos JOIN lex USING (surface) GROUP BY 1, 2),
        |sh AS (SELECT doc_id, lang, list_distinct([cs[i] || ' ' || cs[i+1] || ' ' || cs[i+2]
        |  FOR i IN RANGE(1, LEN(cs) - 1)]) AS s FROM cs WHERE LEN(cs) >= 3),
        |sizes AS (SELECT doc_id, lang, LEN(s) AS sz FROM sh),
        |ix AS (SELECT doc_id, UNNEST(s) AS sg FROM sh),
        |co AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
        |  FROM ix a JOIN ix b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id, sa.lang AS a_lang, sb.lang AS b_lang,
        | c * 1.0 / (sa.sz + sb.sz - c) AS jaccard
        |FROM co JOIN sizes sa ON co.a_id = sa.doc_id
        |JOIN sizes sb ON co.b_id = sb.doc_id
        |WHERE sa.lang <> sb.lang
        |  AND c * 1.0 / (sa.sz + sb.sz - c) >= 0.8""".stripMargin,
    // the all-pairs exact-Jaccard ground truth, restricted to pairs with
    // at least one side in the "new" third (doc_id % 3 = 0) — old×old
    // pairs belong to the index build, not the incremental run
    "dedup_incremental" ->
      """WITH t AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |  FOR i IN RANGE(1, GREATEST(LEN(w) - 1, 1))]) AS s FROM t WHERE LEN(w) >= 3),
        |sizes AS (SELECT doc_id, LEN(s) AS sz FROM sh),
        |ix AS (SELECT doc_id, UNNEST(s) AS sg FROM sh),
        |co AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
        |  FROM ix a JOIN ix b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id, c * 1.0 / (sa.sz + sb.sz - c) AS jaccard
        |FROM co JOIN sizes sa ON co.a_id = sa.doc_id JOIN sizes sb ON co.b_id = sb.doc_id
        |WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.8
        |  AND (a_id % 3 = 0 OR b_id % 3 = 0)""".stripMargin,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_semantic" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id + 100000 AS vec_id,
        |        list_prepend(CAST(embedding[1] + 0.1 AS FLOAT), embedding[2:]) AS embedding
        |      FROM e WHERE vec_id % 40 = 0),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM p)
        |SELECT x.vec_id AS a_id, y.vec_id AS b_id
        |FROM a x JOIN a y ON x.vec_id < y.vec_id
        |WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.9""".stripMargin,

    "dedup_semdedup_exact" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id + 100000 AS vec_id,
        |        list_prepend(CAST(embedding[1] + 0.1 AS FLOAT), embedding[2:]) AS embedding
        |      FROM e WHERE vec_id % 40 = 0),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM p),
        |pr AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id
        |       FROM a x JOIN a y ON x.vec_id < y.vec_id
        |       WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.9)
        |SELECT a_id AS doc_id, a_id AS cluster_id, a_id AS keep_id,
        |       TRUE AS is_kept FROM pr
        |UNION ALL
        |SELECT b_id, a_id, a_id, FALSE FROM pr""".stripMargin,

    "multimodal_features" ->
      """SELECT doc_id,
        | CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS n_bytes,
        | MD5(text) AS payload_md5,
        | CAST(FLOOR(OCTET_LENGTH(ENCODE(text)) / 256) AS BIGINT) AS len_bucket,
        | CAST(8 AS INT) AS n_features
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    "multimodal_dhash" -> dhashSql,
    "multimodal_dhash_pairs" -> dhashPairsSql,
    "stream_dhash_gate" -> dhashPairsSql,
    "multimodal_audio" ->
      """WITH n AS (SELECT doc_id, 4 + doc_id % 5 AS ns FROM documents),
        |s AS (SELECT n.doc_id, gs.i,
        |   ((n.doc_id * (gs.i + 3)) % 2001) - 1000 AS v
        |  FROM n JOIN (SELECT UNNEST(generate_series(0, 8)) AS i) gs
        |    ON gs.i < n.ns),
        |w AS (SELECT doc_id, v,
        |   LEAD(v) OVER (PARTITION BY doc_id ORDER BY i) AS nv FROM s)
        |SELECT doc_id, COUNT(*) AS n_samples,
        | CAST(SUM(v * v) AS BIGINT) AS energy,
        | CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
        | CAST(MAX(ABS(v)) AS BIGINT) AS peak,
        | CAST(SUM(CASE WHEN nv IS NOT NULL AND v * nv < 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS zero_crossings,
        | CAST(SUM(CASE WHEN ABS(v) < 100 THEN 1 ELSE 0 END) AS BIGINT) AS silence_n
        |FROM w GROUP BY doc_id""".stripMargin,
    "multimodal_decode" ->
      """SELECT doc_id,
        | CAST(2 AS INT) AS width, CAST(1 AS INT) AS height,
        | CAST((doc_id % 256) + ((doc_id % 256) * 3) % 256 AS DOUBLE) / 2 AS mean_r,
        | CAST(((doc_id % 256) * 7) % 256 + ((doc_id % 256) * 11) % 256 AS DOUBLE) / 2 AS mean_g,
        | CAST(((doc_id % 256) * 13) % 256 + ((doc_id % 256) * 17) % 256 AS DOUBLE) / 2 AS mean_b,
        | CAST(2 AS INT) AS png_width, CAST(1 AS INT) AS png_height,
        | CAST((doc_id % 256) + ((doc_id % 256) * 3) % 256 AS DOUBLE) / 2 AS png_mean_r,
        | CAST(((doc_id % 256) * 7) % 256 + ((doc_id % 256) * 11) % 256 AS DOUBLE) / 2 AS png_mean_g,
        | CAST(((doc_id % 256) * 13) % 256 + ((doc_id % 256) * 17) % 256 AS DOUBLE) / 2 AS png_mean_b,
        | CAST(8 AS INT) AS jpg_width, CAST(16 AS INT) AS jpg_height,
        | CAST(((doc_id % 256) * 19) % 256 + ((doc_id % 256) * 23) % 256 AS DOUBLE) / 2 AS jpg_mean,
        | CAST(8000 + doc_id % 100 AS INT) AS sample_rate,
        | CAST(4 AS BIGINT) AS n_frames,
        | CAST(doc_id % 1000 + 1 AS DOUBLE) / 32768 AS rms,
        | CAST(1.0 AS DOUBLE) AS zcr
        |FROM documents""".stripMargin,

    "multimodal_video" ->
      """SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        | CAST(40000 AS INT) AS us_per_frame, CAST(4 AS INT) AS n_frames,
        | CAST(2 AS INT) AS n_sampled,
        | CAST(((doc_id % 256) * 29) % 256 AS DOUBLE) AS mean_f0,
        | CAST(((doc_id % 256) * 37) % 256 AS DOUBLE) AS mean_f2
        |FROM documents""".stripMargin,
    "sim_topk_bruteforce" -> bruteForceTopKSql,
    "sim_hard_negatives" ->
      """WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, label, v FROM c WHERE vec_id < 20),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  list_cosine_similarity(q.v, c.v) AS sim
        | FROM q JOIN c ON c.label IS DISTINCT FROM q.label)
        |SELECT query_id, neighbor_id, rank FROM (
        | SELECT query_id, neighbor_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
        | FROM scored) WHERE rank <= 5""".stripMargin,
    // exhaustive-probe / full-refine ANN paths must equal exact
    // brute-force top-k
    "sim_topk_ivf_exact" -> bruteForceTopKSql,
    "sim_topk_lsh_exact" -> bruteForceTopKSql,
    "stream_ivf_ingest" -> bruteForceTopKSql,
    "sim_topk_pq_exact" -> bruteForceTopKSql,
    "sim_topk_ivfpq_exact" -> bruteForceTopKSql,
    "sim_mmr_rerank_exact" -> mmrRerankExactSql,
    "text_wordpiece_exact" -> wordpieceExactSql,
    "text_rouge1" -> rougeSql(1),
    "text_rouge2" -> rougeSql(2),
    "text_bleu" -> bleuSql,
    "text_bleu_by_source" -> bleuByGroupSql,
    "text_cer_by_source" ->
      """WITH c AS (SELECT doc_id // 2 AS id, source AS grp,
        |    trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS s
        |  FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL),
        |r AS (SELECT doc_id // 2 AS id,
        |    trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS s
        |  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL),
        |p AS (SELECT c.grp, levenshtein(c.s, r.s) AS e, len(r.s) AS rc
        |  FROM c JOIN r ON c.id = r.id)
        |SELECT grp AS source,
        | CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(e) AS BIGINT) AS edits,
        | CAST(sum(rc) AS BIGINT) AS ref_chars,
        | CAST(CASE WHEN sum(rc) > 0
        |   THEN sum(e) * 1000000 // sum(rc) END AS BIGINT) AS cer_micro
        |FROM p GROUP BY grp""".stripMargin,
    "text_sentence_bleu" -> sentenceBleuSql,
    "text_rouge_l_exact" -> rougeLExactSql,
    "text_wer_exact" -> werExactSql,
    "text_meteor" -> meteorSql,
    "text_cer" ->
      """WITH c AS (SELECT doc_id // 2 AS id,
        |    trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS s
        |  FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL),
        |r AS (SELECT doc_id // 2 AS id,
        |    trim(regexp_replace(lower(text), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS s
        |  FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL)
        |SELECT c.id AS pair_id,
        | CAST(levenshtein(c.s, r.s) AS BIGINT) AS edits,
        | CAST(len(c.s) AS BIGINT) AS cand_chars,
        | CAST(len(r.s) AS BIGINT) AS ref_chars,
        | CAST(CASE WHEN len(r.s) > 0
        |   THEN levenshtein(c.s, r.s) * 1000000 // len(r.s)
        | END AS BIGINT) AS cer_micro
        |FROM c JOIN r ON c.id = r.id""".stripMargin,
    "text_chrf" -> chrfSql(3, 4),

    "events_tumbling" ->
      """SELECT CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT) AS window_start,
        | event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_sessionize" ->
      """WITH g AS (
        | SELECT user_id, ts, event_id, "value",
        |  CASE WHEN LAG(ts) OVER w IS NULL
        |    OR CAST(FLOOR(EPOCH(ts)) AS BIGINT) - CAST(FLOOR(EPOCH(LAG(ts) OVER w)) AS BIGINT) > 1800
        |   THEN 1 ELSE 0 END AS new_session
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        | FROM g)
        |SELECT user_id, session_seq,
        | MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS session_start,
        | MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS session_end,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_seq""".stripMargin,
    "q_window_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS o_sec,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS trailing_30d_total,
        | COUNT(*) OVER w AS trailing_30d_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT)
        |  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "stream_tumbling" ->
      """SELECT CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT) AS window_start,
        | event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_user_totals" ->
      """SELECT user_id, COUNT(*) AS n_events,
        | MIN("value") AS min_value, MAX("value") AS max_value
        |FROM events GROUP BY user_id""".stripMargin,
    "stream_join" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec FROM events)
        |SELECT c.event_id AS click_id, c.user_id AS user_id, c.sec AS click_sec,
        | v.event_id AS view_id, v.sec AS view_sec
        |FROM e c JOIN e v ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.sec BETWEEN c.sec - 14400 AND c.sec""".stripMargin,
    "stream_upsert_snapshot" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, "value" FROM events),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |        ORDER BY sec DESC, event_id DESC) AS rn FROM e)
        |SELECT user_id, event_type, sec, event_id, "value" AS value
        |FROM r WHERE rn = 1""".stripMargin,
    // bloom pruning has no false negatives: pruned-scan + equality
    // filter == full-table lookup, including the zero row for the miss
    "etl_bloom_prune_scan" ->
      """WITH keys AS (SELECT MIN(o_orderkey) AS k FROM orders
        |  UNION ALL SELECT MAX(o_orderkey) FROM orders
        |  UNION ALL SELECT MAX(o_orderkey) + 1 FROM orders)
        |SELECT k AS probe, COUNT(o.o_orderkey) AS n_rows,
        | CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
        |   AS BIGINT) AS cents
        |FROM keys LEFT JOIN orders o ON o.o_orderkey = k
        |GROUP BY 1""".stripMargin,
    // qualifying years = those whose per-year [min, max] o_orderdate
    // interval intersects the query range (the file-level stats test)
    "etl_manifest_prune" ->
      """SELECT CAST(YEAR(o_orderdate) AS INT) AS year, COUNT(*) AS n_rows
        |FROM orders GROUP BY 1
        |HAVING MAX(o_orderdate) >= TIMESTAMP '1997-03-15'
        |   AND MIN(o_orderdate) <= TIMESTAMP '1998-06-15'""".stripMargin,
    "etl_zorder_prune_scan" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 600
        |  AND CAST(epoch(o_orderdate) AS BIGINT) // 86400
        |      BETWEEN CAST(epoch(TIMESTAMP '1997-03-15') AS BIGINT) // 86400
        |          AND CAST(epoch(TIMESTAMP '1998-06-15') AS BIGINT) // 86400
        |GROUP BY 1""".stripMargin,
    "etl_manifest_prune_scan" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1997-03-15' AND TIMESTAMP '1998-06-15'
        |GROUP BY 1""".stripMargin,
    // time travel to v1 = the upsert state after the first TWO of three
    // NTILE(3)-by-(sec, event_id) replay tiles
    "etl_time_travel" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, "value" FROM events),
        |t AS (SELECT *, NTILE(3) OVER (ORDER BY sec, event_id) AS tile FROM e),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |        ORDER BY sec DESC, event_id DESC) AS rn
        |      FROM t WHERE tile <= 2)
        |SELECT user_id, event_type, sec, event_id, "value" AS value
        |FROM r WHERE rn = 1""".stripMargin,
    "stream_join_full" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec FROM events),
        |c AS (SELECT * FROM e WHERE event_type = 'click'),
        |v AS (SELECT * FROM e WHERE event_type = 'view'),
        |wm AS (SELECT LEAST((SELECT MAX(sec) FROM c), (SELECT MAX(sec) FROM v))
        |        - 7200 AS w)
        |SELECT c.event_id AS click_id, c.sec AS click_sec,
        | v.event_id AS view_id, v.sec AS view_sec
        |FROM c JOIN v ON c.user_id = v.user_id
        | AND v.sec BETWEEN c.sec - 1800 AND c.sec
        |UNION ALL
        |SELECT c.event_id, c.sec, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |FROM c, wm
        |WHERE c.sec < wm.w AND NOT EXISTS (
        |  SELECT 1 FROM v WHERE v.user_id = c.user_id
        |   AND v.sec BETWEEN c.sec - 1800 AND c.sec)
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), v.event_id, v.sec
        |FROM v, wm
        |WHERE v.sec + 1800 < wm.w AND NOT EXISTS (
        |  SELECT 1 FROM c WHERE c.user_id = v.user_id
        |   AND c.sec BETWEEN v.sec AND v.sec + 1800)""".stripMargin,
    "stream_join_outer" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec FROM events),
        |c AS (SELECT * FROM e WHERE event_type = 'click'),
        |v AS (SELECT * FROM e WHERE event_type = 'view'),
        |wm AS (SELECT LEAST((SELECT MAX(sec) FROM c), (SELECT MAX(sec) FROM v))
        |        - 7200 AS w)
        |SELECT c.event_id AS click_id, c.user_id AS user_id, c.sec AS click_sec,
        | v.event_id AS view_id, v.sec AS view_sec
        |FROM c JOIN v ON c.user_id = v.user_id
        | AND v.sec BETWEEN c.sec - 1800 AND c.sec
        |UNION ALL
        |SELECT c.event_id, c.user_id, c.sec,
        | CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |FROM c, wm
        |WHERE c.sec < wm.w AND NOT EXISTS (
        |  SELECT 1 FROM v WHERE v.user_id = c.user_id
        |   AND v.sec BETWEEN c.sec - 1800 AND c.sec)""".stripMargin,
    "stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment, c.c_acctbal
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,
    "stream_sessions" ->
      """WITH g AS (
        | SELECT user_id, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, "value", ts, event_id,
        |  CASE WHEN LAG(ts) OVER w IS NULL
        |    OR CAST(FLOOR(EPOCH(ts)) AS BIGINT) - CAST(FLOOR(EPOCH(LAG(ts) OVER w)) AS BIGINT) > 1800
        |   THEN 1 ELSE 0 END AS new_session
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM g)
        |SELECT user_id,
        | MIN(sec) AS session_start,
        | MAX(sec) + 1800 AS session_end,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_seq""".stripMargin,
    // append-mode emits exactly the windows whose end <= the final
    // watermark (max event-second - 7200); time-ordered replay means no
    // row is late, so the emitted set is a pure filter of batch windows
    "stream_append_tumbling" ->
      """WITH ev AS (
        | SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, event_type, "value" FROM events),
        |agg AS (
        | SELECT CAST(FLOOR(sec / 3600) * 3600 AS BIGINT) AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        | FROM ev GROUP BY 1, 2)
        |SELECT window_start, event_type, n_events, sum_value FROM agg
        |WHERE window_start + 3600 <= (SELECT MAX(sec) - 7200 FROM ev)""".stripMargin,
    "stream_late_drop" ->
      """WITH ev AS (
        | SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec, event_type, "value",
        |  NTILE(4) OVER (ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT), event_id) AS tile
        | FROM events),
        |agg AS (
        | SELECT CAST(FLOOR(sec / 3600) * 3600 AS BIGINT) AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        | FROM ev WHERE tile >= 3 GROUP BY 1, 2)
        |SELECT window_start, event_type, n_events, sum_value FROM agg
        |WHERE window_start + 3600 <= (SELECT MAX(sec) - 7200 FROM ev)""".stripMargin,
    "stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "stream_sketch_distinct" ->
      """SELECT CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT) AS window_start,
        | event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_freq_items" ->
      """SELECT CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT) AS window_start,
        | event_type AS item, COUNT(*) AS n
        |FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "stream_quantiles" ->
      """WITH probs AS (SELECT CAST(x AS DOUBLE) AS p
        |  FROM (VALUES (0.1), (0.5), (0.9), (1.0)) v(x)),
        |ranked AS (SELECT CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT) AS window_start,
        |  event_type, "value" AS v,
        |  ROW_NUMBER() OVER (PARTITION BY CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT), event_type ORDER BY "value") AS rn,
        |  COUNT(*) OVER (PARTITION BY CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT), event_type) AS n
        | FROM events WHERE "value" IS NOT NULL AND NOT ISNAN("value"))
        |SELECT window_start, event_type, p, MIN(v) AS q
        |FROM ranked, probs WHERE rn >= CEIL(p * n)
        |GROUP BY 1, 2, 3""".stripMargin,
    "events_user_running" ->
      """SELECT event_id, user_id,
        | CAST(ROW_NUMBER() OVER w AS INT) AS event_seq,
        | CAST(SUM(CAST("value" AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        | CAST(FLOOR(EPOCH(ts)) AS BIGINT) - CAST(FLOOR(EPOCH(LAG(ts) OVER w)) AS BIGINT) AS secs_since_prev
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "geo_radius_join" -> geoRadiusSql,
    "q_geo_radius_sql" -> geoRadiusSql,
    "geo_knn" ->
      s"""WITH c AS ($geoPointsSqlCustomer),
         |     s AS ($geoPointsSqlSupplier),
         |pairs AS (
         | SELECT c.c_custkey, s.s_suppkey,
         |  (c.lat_u - s.lat_u) * (c.lat_u - s.lat_u)
         |   + (c.lon_u - s.lon_u) * (c.lon_u - s.lon_u) AS dist2
         | FROM c, s
         | WHERE (c.lat_u - s.lat_u) * (c.lat_u - s.lat_u)
         |   + (c.lon_u - s.lon_u) * (c.lon_u - s.lon_u) <= 25000000)
         |SELECT c_custkey, s_suppkey, dist2,
         | ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY dist2, s_suppkey) AS knn_rank
         |FROM pairs
         |QUALIFY knn_rank <= 3""".stripMargin,
    "geo_haversine" ->
      """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS nkey,
        |  CAST(n_regionkey AS BIGINT) AS rkey,
        |  (CAST(n_nationkey AS BIGINT) * 7919) % 140000000 / 1000000.0 - 70.0 AS lat_d,
        |  (CAST(n_nationkey AS BIGINT) * 104729) % 140000000 / 1000000.0 - 70.0 AS lon_d
        | FROM nation)
        |SELECT a.nkey AS a_key, b.nkey AS b_key,
        | CAST(ROUND(6371008.8 * (2.0 * ASIN(SQRT(LEAST(
        |   SIN((b.lat_d - a.lat_d) * (PI() / 180.0) / 2) * SIN((b.lat_d - a.lat_d) * (PI() / 180.0) / 2)
        |   + COS(a.lat_d * (PI() / 180.0)) * COS(b.lat_d * (PI() / 180.0))
        |     * SIN((b.lon_d - a.lon_d) * (PI() / 180.0) / 2) * SIN((b.lon_d - a.lon_d) * (PI() / 180.0) / 2),
        |   1.0))))) AS BIGINT) AS dist_m
        |FROM n a JOIN n b ON a.rkey = b.rkey AND a.nkey < b.nkey""".stripMargin,
    "geo_morton_cells" -> geoMortonSql,
    "ts_acf" -> acfSql,
    "ts_acf_sql" -> acfSql,
    "ts_pettitt" ->
      """WITH d AS (SELECT event_type, CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS day,
        |  COUNT(*) AS x FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, day,
        |  2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
        |   + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS r2,
        |  COUNT(*) OVER (PARTITION BY event_type) AS nn,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS seq
        | FROM d),
        |u AS (SELECT event_type, day, nn,
        |  SUM(r2) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - seq * (nn + 1) AS uu
        | FROM r QUALIFY seq < nn),
        |k AS (SELECT event_type, day, nn, ABS(uu) AS au,
        |  MAX(ABS(uu)) OVER (PARTITION BY event_type) AS kk FROM u)
        |SELECT event_type, CAST(MAX(nn) AS BIGINT) AS n,
        | CAST(MAX(kk) AS BIGINT) AS k_stat, MIN(day) AS cp_t,
        | CAST(ROUND(2.0 * EXP(-6.0 * CAST(MAX(kk) AS DOUBLE) * CAST(MAX(kk) AS DOUBLE)
        |   / (CAST(MAX(nn) AS DOUBLE) * CAST(MAX(nn) AS DOUBLE) * CAST(MAX(nn) AS DOUBLE)
        |     + CAST(MAX(nn) AS DOUBLE) * CAST(MAX(nn) AS DOUBLE))) * 1000000.0) AS BIGINT) AS p_micro
        |FROM k WHERE au = kk GROUP BY event_type""".stripMargin,
    "events_concurrency" ->
      """WITH g AS (
        | SELECT user_id, ts, event_id,
        |  CASE WHEN LAG(ts) OVER w IS NULL
        |    OR CAST(FLOOR(EPOCH(ts)) AS BIGINT) - CAST(FLOOR(EPOCH(LAG(ts) OVER w)) AS BIGINT) > 1800
        |   THEN 1 ELSE 0 END AS new_session
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        | FROM g),
        |iv AS (SELECT user_id, session_seq,
        |  MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS session_start,
        |  MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS session_end
        | FROM s GROUP BY user_id, session_seq),
        |sw AS (SELECT session_start AS ts, CAST(1 AS BIGINT) AS d FROM iv
        | UNION ALL SELECT session_end + 1 AS ts, CAST(-1 AS BIGINT) AS d FROM iv),
        |net AS (SELECT ts, CAST(SUM(d) AS BIGINT) AS net FROM sw GROUP BY ts),
        |run AS (SELECT ts,
        |  CAST(SUM(net) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt,
        |  CAST(SUM(net) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS prev
        | FROM net)
        |SELECT CAST(FLOOR(ts / 86400) AS BIGINT) AS day,
        | GREATEST(MAX(cnt), MAX(COALESCE(prev, 0))) AS max_concurrent
        |FROM run GROUP BY 1""".stripMargin,
    "er_match_score" ->
      """WITH l AS (SELECT c_custkey AS l_key, c_nationkey AS block,
        |  c_name AS l_name, c_mktsegment AS l_seg,
        |  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS l_bal_c
        | FROM customer WHERE c_custkey % 2 = 0),
        |r AS (SELECT c_custkey AS r_key, c_nationkey AS block,
        |  CASE WHEN c_custkey % 5 = 0 THEN c_name || 'X' ELSE c_name END AS r_name,
        |  c_mktsegment AS r_seg,
        |  CAST(ROUND(c_acctbal * 100) AS BIGINT)
        |   + CASE WHEN c_custkey % 7 = 0 THEN 350 ELSE 0 END AS r_bal_c
        | FROM customer WHERE c_custkey % 3 = 0),
        |p AS (SELECT l_key, r_key,
        |  CASE WHEN l_name = r_name THEN 4000000 ELSE -2000000 END
        |  + CASE WHEN l_seg = r_seg THEN 1500000 ELSE -1200000 END
        |  + CASE WHEN ABS(l_bal_c - r_bal_c) <= 100 THEN 2500000 ELSE -1800000 END AS sc
        | FROM l JOIN r ON l.block = r.block)
        |SELECT l_key, r_key, CAST(sc AS BIGINT) AS score_micro,
        | CASE WHEN sc >= 4000000 THEN 'match'
        |      WHEN sc >= 0 THEN 'possible'
        |      ELSE 'non_match' END AS fs_class
        |FROM p""".stripMargin,
    "q_item_cooccur" -> itemCooccurSql,
    "q_cooccur_sql" -> itemCooccurSql,
    // state + delta == full recompute: the incremental face shares the
    // all-baskets oracle
    "q_item_cooccur_incremental" -> itemCooccurSql,
    "etl_compaction_exec" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY 1""".stripMargin,
    "etl_compaction_plan" ->
      """WITH sizes AS (SELECT 'orders_y' || CAST(YEAR(o_orderdate) AS VARCHAR) AS file,
        |  COUNT(*) AS bytes FROM orders GROUP BY 1),
        |t AS (SELECT GREATEST(COUNT(*) // 4, 1) AS tgt FROM orders),
        |small AS (SELECT file, bytes FROM sizes, t WHERE bytes < tgt),
        |pk AS (SELECT file, bytes,
        |   SUM(bytes) OVER (ORDER BY file ROWS BETWEEN UNBOUNDED PRECEDING
        |     AND CURRENT ROW) - bytes AS strt FROM small)
        |SELECT file, bytes, CAST(strt // tgt AS BIGINT) AS group_id FROM pk, t
        |UNION ALL
        |SELECT file, bytes, CAST(NULL AS BIGINT) AS group_id
        |FROM sizes, t WHERE bytes >= tgt""".stripMargin,
    "q_assoc_rules" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem),
        |ni AS (SELECT i, COUNT(*) AS n FROM bi GROUP BY 1),
        |p AS (SELECT x.i AS u, y.i AS v, COUNT(*) AS n_ab FROM bi x JOIN bi y
        |  ON x.b = y.b AND x.i < y.i GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (SELECT u AS item, v AS nbr, n_ab FROM p
        |  UNION ALL SELECT v AS item, u AS nbr, n_ab FROM p),
        |sc AS (SELECT item, nbr, n_ab, a.n AS n_item, b.n AS n_nbr,
        |  CAST(CAST(n_ab AS HUGEINT) * 1000000 // nb.n AS BIGINT) AS support_micro,
        |  CAST(CAST(n_ab AS HUGEINT) * 1000000 // a.n AS BIGINT) AS confidence_micro,
        |  CAST(CAST(n_ab AS HUGEINT) * nb.n * 1000000
        |    // (CAST(a.n AS HUGEINT) * b.n) AS BIGINT) AS lift_micro
        | FROM sym JOIN ni a ON a.i = item JOIN ni b ON b.i = nbr, nb),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY item
        |   ORDER BY confidence_micro DESC, nbr DESC) AS BIGINT) AS rank FROM sc)
        |SELECT item, rank, nbr, n_item, n_nbr, n_ab,
        | support_micro, confidence_micro, lift_micro
        |FROM r WHERE rank <= 3""".stripMargin,
    "q_rfm" -> rfmSql,
    "q_rfm_sql" -> rfmSql,
    "q_spearman" -> spearmanSql,
    "q_spearman_sql" -> spearmanSql,
    "ts_decompose" ->
      """WITH c AS (SELECT event_type, CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS t,
        |  COUNT(*) AS x FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, MIN(t) AS lo, MAX(t) AS hi FROM c GROUP BY 1),
        |grid AS (SELECT event_type, UNNEST(GENERATE_SERIES(lo, hi)) AS t FROM span),
        |f AS (SELECT g.event_type, g.t, COALESCE(c.x, 0) AS x
        | FROM grid g LEFT JOIN c ON c.event_type = g.event_type AND c.t = g.t),
        |w AS (SELECT event_type, t, x,
        |  COUNT(*) OVER ww AS cnt,
        |  SUM(x) OVER ww + SUM(x) OVER wi AS tnum
        | FROM f WINDOW
        |  ww AS (PARTITION BY event_type ORDER BY t ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING),
        |  wi AS (PARTITION BY event_type ORDER BY t ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING)),
        |d AS (SELECT event_type, t % 24 AS phase, 48 * x - tnum AS d2p
        | FROM w WHERE cnt = 25)
        |SELECT event_type, phase, COUNT(*) AS n_obs,
        | CAST(ROUND(CAST(SUM(d2p) AS DOUBLE) / (48.0 * CAST(COUNT(*) AS DOUBLE))
        |   * 1000000.0) AS BIGINT) AS seasonal_micro
        |FROM d GROUP BY 1, 2""".stripMargin,
    "geo_hotspot" -> geoHotspotSql,
    "geo_hotspot_incremental" -> geoHotspotSql,
    "geo_hotspot_sql" -> geoHotspotSql,
    "stream_hotspot_gate" -> geoHotspotSqlFor(geoPointsSqlEvents),
    "geo_fence" -> geoFenceSql,
    "stream_asof" ->
      """WITH e AS (SELECT event_id, user_id, event_type, "value",
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec
        | FROM events WHERE event_type IN ('click', 'purchase')),
        |l AS (SELECT * FROM e WHERE event_type = 'click'),
        |r AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |j AS (SELECT l.event_id, l.user_id, l.ts_sec,
        |  r.ts_sec AS r_ts, r."value" AS r_value, r.event_id AS r_id
        | FROM l LEFT JOIN r ON r.user_id = l.user_id
        |  AND (r.ts_sec < l.ts_sec
        |    OR (r.ts_sec = l.ts_sec AND r.event_id < l.event_id))),
        |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
        |  ORDER BY r_ts DESC NULLS LAST, r_id DESC) AS rn FROM j)
        |SELECT event_id, user_id, ts_sec,
        | COALESCE(r_ts, -1) AS r_ts, COALESCE(r_value, 0.0) AS r_value
        |FROM best WHERE rn = 1""".stripMargin,
    "graph_clustering_coef" ->
      """WITH pairs AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z FROM pairs e1
        |  JOIN pairs e2 ON e2.u = e1.u AND e2.v > e1.v
        |  JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v),
        |tn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM
        |  (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
        |   UNION ALL SELECT z FROM tri) GROUP BY 1),
        |degn AS (SELECT node, COUNT(*) AS deg FROM
        |  (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs) GROUP BY 1)
        |SELECT d.node, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
        | CAST(CAST(COALESCE(t.n_tri, 0) AS HUGEINT) * 2000000
        |   // (CAST(d.deg AS HUGEINT) * (d.deg - 1)) AS BIGINT) AS cc_micro
        |FROM degn d LEFT JOIN tn t ON t.node = d.node
        |WHERE d.deg >= 2""".stripMargin,
    "graph_link_jaccard" ->
      """WITH inc AS (SELECT DISTINCT l_partkey AS l, l_suppkey AS r
        | FROM lineitem WHERE l_partkey % 50 = 0),
        |degl AS (SELECT l, COUNT(*) AS dl FROM inc GROUP BY 1),
        |degr AS (SELECT r, COUNT(*) AS dr FROM inc GROUP BY 1),
        |w AS (SELECT i1.l AS a, i2.l AS b, d.dr
        | FROM inc i1 JOIN inc i2 ON i1.r = i2.r AND i1.l < i2.l
        | JOIN degr d ON d.r = i1.r),
        |p AS (SELECT a, b, COUNT(*) AS n_common,
        |  SUM(CASE WHEN dr > 1
        |    THEN CAST(ROUND(1000000000.0 / LN(CAST(dr AS DOUBLE))) AS BIGINT)
        |    ELSE 0 END) AS aa
        | FROM w GROUP BY 1, 2)
        |SELECT p.a, p.b, p.n_common,
        | CAST(p.n_common * 1000000 // (da.dl + db.dl - p.n_common) AS BIGINT) AS jaccard_micro,
        | CAST(p.aa AS BIGINT) AS adamic_adar_nano
        |FROM p JOIN degl da ON da.l = p.a JOIN degl db ON db.l = p.b""".stripMargin,
    "events_paths" ->
      """WITH g AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN LAG(ts) OVER w IS NULL
        |    OR CAST(FLOOR(EPOCH(ts)) AS BIGINT) - CAST(FLOOR(EPOCH(LAG(ts) OVER w)) AS BIGINT) > 86400
        |   THEN 1 ELSE 0 END AS new_session
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        | FROM g),
        |t AS (SELECT event_type AS t1,
        |  LEAD(event_type, 1) OVER w2 AS t2,
        |  LEAD(event_type, 2) OVER w2 AS t3
        | FROM s WINDOW w2 AS (PARTITION BY user_id, session_seq
        |   ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT), event_id))
        |SELECT t1, t2, t3, COUNT(*) AS n_paths
        |FROM t WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5""".stripMargin,
    "geo_dbscan" -> geoDbscanSqlFor(geoPointsSqlCustomer, 5L),
    "stream_dbscan_gate" -> geoDbscanSqlFor(geoPointsSqlEvents, 25L),
    "text_colloc_incremental" -> collocationsSql,
    "ts_cusum" -> cusumSql,
    "ts_cusum_sql" -> cusumSql,
    "stream_cusum_gate" -> cusumSql,
    "q_asof_nearest" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type <> 'error'),
        |r AS (SELECT user_id, epoch_us(ts) AS t, event_id AS err_id
        |  FROM events WHERE event_type = 'error'),
        |-- pre-collapse same-instant right rows to the Spark tiebreak
        |-- (backward: MAX err_id, forward: MIN err_id) — DuckDB's ASOF
        |-- pick among tied right rows is otherwise unspecified
        |rb AS (SELECT user_id, t, MAX(err_id) AS err_id FROM r GROUP BY 1, 2),
        |rf AS (SELECT user_id, t, MIN(err_id) AS err_id FROM r GROUP BY 1, 2),
        |b AS (SELECT l.event_id, l.user_id, l.t, rb.err_id AS b_id, rb.t AS b_t
        |  FROM l ASOF LEFT JOIN rb ON l.user_id = rb.user_id AND l.t >= rb.t),
        |f AS (SELECT l.event_id, rf.err_id AS f_id, rf.t AS f_t
        |  FROM l ASOF LEFT JOIN rf ON l.user_id = rf.user_id AND l.t <= rf.t)
        |SELECT b.event_id, b.user_id,
        | CASE WHEN f_t IS NULL OR (b_t IS NOT NULL AND b.t - b_t <= f_t - b.t)
        |   THEN b_id ELSE f_id END AS near_err_id,
        | CASE WHEN f_t IS NULL OR (b_t IS NOT NULL AND b.t - b_t <= f_t - b.t)
        |   THEN b.t - b_t ELSE f_t - b.t END AS dist_us
        |FROM b JOIN f USING (event_id)""".stripMargin,
    "dedup_url" -> urlDedupSql,
    "dedup_url_sql" -> urlDedupSql,
    "dedup_url_incremental" -> urlDedupSql,
    "sample_negative" ->
      """WITH pos AS (SELECT DISTINCT user_id, event_id % 500 AS item
        |  FROM events WHERE event_type = 'purchase'),
        |users AS (SELECT DISTINCT user_id FROM pos),
        |prop AS (SELECT user_id, i AS draw,
        |   ((user_id % 1000000007) * 26544357 + i * 40503) % 500 AS item
        |  FROM users, (SELECT UNNEST(generate_series(0, 4)) AS i))
        |SELECT p.user_id, p.draw, p.item
        |FROM prop p ANTI JOIN pos
        | ON p.user_id = pos.user_id AND p.item = pos.item""".stripMargin,
    "ts_ccf" -> ccfSql,
    "ts_ccf_incremental" -> ccfSql,
    "stream_holt_gate" -> holtSql,
    "ts_holt" -> holtSql,
    "dq_iqr_outliers" -> iqrOutliersSql,
    "dq_iqr_sql" -> iqrOutliersSql,
    "ts_forecast_error" ->
      """WITH d0 AS (SELECT event_type AS k,
        |   CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS t, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |e AS (SELECT k, x * 1000000 AS xm,
        |   LAG(x * 1000000, 1) OVER (PARTITION BY k ORDER BY t) AS l1,
        |   LAG(x * 1000000, 7) OVER (PARTITION BY k ORDER BY t) AS l7
        |  FROM d0)
        |SELECT k AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(COUNT(l1) AS BIGINT) AS n_naive,
        | CASE WHEN COUNT(l1) > 0 THEN CAST(SUM(ABS(xm - l1)) // COUNT(l1)
        |   AS BIGINT) END AS mae_naive_micro,
        | CAST(COUNT(l7) AS BIGINT) AS n_snaive,
        | CASE WHEN COUNT(l7) > 0 THEN CAST(SUM(ABS(xm - l7)) // COUNT(l7)
        |   AS BIGINT) END AS mae_snaive_micro
        |FROM e GROUP BY 1""".stripMargin,
    "ts_backtest_folds" ->
      """WITH d0 AS (SELECT event_type AS k,
        |   CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS t, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT k, MAX(t) AS tmax FROM d0 GROUP BY 1),
        |f(fold) AS (VALUES (1), (2), (3)),
        |a AS (SELECT d0.k, d0.t, f.fold, m.tmax - (3 - f.fold) * 7 AS e
        |  FROM d0 JOIN m ON m.k = d0.k CROSS JOIN f)
        |SELECT k AS event_type, t AS day, CAST(fold AS BIGINT) AS fold,
        | CASE WHEN t > e - 7 AND t <= e THEN 'test'
        |      WHEN t <= e - 7 THEN 'train' END AS role
        |FROM a WHERE t <= e""".stripMargin,
    "ts_ewma" ->
      """WITH d0 AS (SELECT event_type AS k, CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS t,
        |  COUNT(*) AS x FROM events GROUP BY 1, 2),
        |d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY t) AS rn FROM d0),
        |r AS (
        |  WITH RECURSIVE rec AS (
        |    SELECT k, t, x, rn, x * 1000000 AS s FROM d WHERE rn = 1
        |    UNION ALL
        |    SELECT d.k, d.t, d.x, d.rn,
        |      250000 * d.x + 750000 * (rec.s // 1000000)
        |        + (750000 * (rec.s % 1000000)) // 1000000 AS s
        |    FROM rec JOIN d ON d.k = rec.k AND d.rn = rec.rn + 1)
        |  SELECT * FROM rec)
        |SELECT k AS event_type, t AS day, x, CAST(s AS BIGINT) AS ewma_micro
        |FROM r""".stripMargin,
    "ts_theil_sen" ->
      """WITH d AS (SELECT event_type, CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS day,
        |  COUNT(*) AS x FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |  CAST(b.x - a.x AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS s
        | FROM d a JOIN d b ON b.event_type = a.event_type AND a.day < b.day),
        |r AS (SELECT event_type, s,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY s) AS i,
        |  COUNT(*) OVER (PARTITION BY event_type) AS m FROM p)
        |SELECT event_type, MAX(m) AS n_pairs,
        | CAST(ROUND((MIN(s) + MAX(s)) / 2 * 1000000.0) AS BIGINT) AS slope_micro
        |FROM r WHERE i = (m + 1) // 2 OR i = (m + 2) // 2
        |GROUP BY event_type""".stripMargin,
    "er_soundex" -> soundexSql,
    "er_blocking_recall" ->
      """WITH l AS (SELECT c_custkey AS l_key,
        |  CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS l_band
        | FROM customer WHERE c_custkey % 2 = 0),
        |r AS (SELECT c_custkey AS r_key,
        |  (CAST(ROUND(c_acctbal * 100) AS BIGINT)
        |   + CASE WHEN c_custkey % 7 = 0 THEN 350 ELSE 0 END) // 100000 AS r_band
        | FROM customer WHERE c_custkey % 3 = 0),
        |t AS (SELECT l_band, r_band FROM l JOIN r ON l_key = r_key),
        |a AS (SELECT COUNT(*) AS n_truth FROM t),
        |b AS (SELECT COUNT(*) AS n_found FROM t WHERE l_band = r_band)
        |SELECT n_truth, n_found,
        | CAST(n_found * 1000000 // NULLIF(n_truth, 0) AS BIGINT) AS recall_micro
        |FROM a, b""".stripMargin,
    // the heartbeat-closed replay drains EVERY run (event-time timeout
    // evicts each user's final open run), so the oracle is the full
    // batch run-length — no open-run carve-out
    "stream_runlength" -> runlengthSql,
    "events_runlength" -> runlengthSql,
    "events_lift" ->
      """WITH g AS (
        | SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN LAG(ts) OVER w IS NULL
        |    OR CAST(FLOOR(EPOCH(ts)) AS BIGINT) - CAST(FLOOR(EPOCH(LAG(ts) OVER w)) AS BIGINT) > 1800
        |   THEN 1 ELSE 0 END AS new_session
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        | FROM g),
        |types AS (SELECT DISTINCT user_id, session_seq, event_type FROM s),
        |tot AS (SELECT COUNT(*) AS n_sessions FROM
        |  (SELECT DISTINCT user_id, session_seq FROM types)),
        |per_t AS (SELECT event_type, COUNT(*) AS n_t FROM types GROUP BY 1),
        |pairs AS (SELECT ta.event_type AS a, tb.event_type AS b, COUNT(*) AS n_ab
        | FROM types ta JOIN types tb
        |   ON ta.user_id = tb.user_id AND ta.session_seq = tb.session_seq
        |  AND ta.event_type < tb.event_type
        | GROUP BY 1, 2)
        |SELECT p.a, p.b, pa.n_t AS n_a, pb.n_t AS n_b, p.n_ab,
        | CAST(CAST(p.n_ab AS HUGEINT) * n_sessions * 1000000
        |   // (CAST(pa.n_t AS HUGEINT) * pb.n_t) AS BIGINT) AS lift_micro
        |FROM pairs p
        |JOIN per_t pa ON pa.event_type = p.a
        |JOIN per_t pb ON pb.event_type = p.b, tot""".stripMargin,
    "text_collocations" -> collocationsSql,
  )

  /** Shared by the Scala-API and SQL-TVF Spearman rows. */
  private def spearmanSql: String =

      """WITH b AS (SELECT l_returnflag, l_quantity AS x, l_extendedprice AS y
        | FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |r AS (SELECT l_returnflag,
        |  2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY x)
        |   + COUNT(*) OVER (PARTITION BY l_returnflag, x) - 1 AS rx,
        |  2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY y)
        |   + COUNT(*) OVER (PARTITION BY l_returnflag, y) - 1 AS ry
        | FROM b),
        |s AS (SELECT l_returnflag, COUNT(*) AS n,
        |  SUM(CAST(rx AS HUGEINT)) AS sx, SUM(CAST(ry AS HUGEINT)) AS sy,
        |  SUM(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS sxy,
        |  SUM(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS sxx,
        |  SUM(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS syy
        | FROM r GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | CAST(ROUND(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |  / SQRT(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |    * CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE))
        |  * 1000000.0) AS BIGINT) AS rho_micro
        |FROM s""".stripMargin

  /** Shared by the Scala-API and SQL-TVF ACF rows. */
  private def acfSql: String =

      """WITH b AS (SELECT event_type, CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS t,
        |  CAST(CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x
        | FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s,
        |  SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS ss
        | FROM b GROUP BY 1),
        |lags AS (SELECT * FROM (VALUES (1), (2), (3)) AS l("lag")),
        |p AS (SELECT b1.event_type, l."lag" AS lag_k, COUNT(*) AS m,
        |  SUM(CAST(b1.x AS HUGEINT) * CAST(b2.x AS HUGEINT)) AS a,
        |  SUM(CAST(b1.x AS HUGEINT)) AS bb, SUM(CAST(b2.x AS HUGEINT)) AS cc
        | FROM b b1 JOIN lags l ON TRUE
        | JOIN b b2 ON b2.event_type = b1.event_type AND b2.t = b1.t + l."lag"
        | GROUP BY 1, 2)
        |SELECT p.event_type, CAST(p.lag_k AS BIGINT) AS "lag", p.m, tot.n,
        | CAST(ROUND((CAST(a AS DOUBLE)
        |   - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * CAST(bb AS DOUBLE)
        |   - CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * CAST(cc AS DOUBLE)
        |   + CAST(m AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
        |  / (CAST(ss AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
        |  * 1000000.0) AS BIGINT) AS acf_micro
        |FROM p JOIN tot ON tot.event_type = p.event_type""".stripMargin

  /** Grid-DBSCAN oracle over any point CTE — recursive-CTE transitive
    * closure with min-id labels (the dedup_clusters discipline); shared
    * by the batch and streamed-state rows. */
  private def geoDbscanSqlFor(ptsSql: String, minPts: Long): String =
    s"""WITH RECURSIVE pts AS ($ptsSql),
       |cells AS (SELECT lat_u // 5000 AS cell_lat, lon_u // 5000 AS cell_lon,
       |  COUNT(*) AS n FROM pts GROUP BY 1, 2),
       |dense AS (SELECT cell_lat, cell_lon, n,
       |  (cell_lat + 1048576) * 2097152 + (cell_lon + 1048576) AS id
       | FROM cells WHERE n >= $minPts),
       |off AS (SELECT * FROM (VALUES (-1), (0), (1)) a(dl)
       |  CROSS JOIN (VALUES (-1), (0), (1)) b(dn)),
       |pr AS (SELECT a.id AS a_id, b.id AS b_id
       | FROM dense a JOIN off ON TRUE JOIN dense b
       |   ON b.cell_lat = a.cell_lat + off.dl AND b.cell_lon = a.cell_lon + off.dn
       |  AND a.id < b.id),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pr
       |  UNION SELECT b_id, a_id FROM pr),
       |reach(id, r) AS (
       | SELECT src, src FROM edges
       | UNION
       | SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
       |comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT d.cell_lat, d.cell_lon, d.n,
       | COALESCE(c.cluster_id, d.id) AS cluster_id
       |FROM dense d LEFT JOIN comp c ON c.id = d.id""".stripMargin

  /** Shared by the Scala-API and incremental-state hotspot rows. */
  private def geoHotspotSql: String = geoHotspotSqlFor(geoPointsSqlCustomer)

  /** Event-id-derived lattice for the streaming hotspot gate's oracle. */
  private def geoPointsSqlEvents: String =
    "SELECT (event_id * 40503) % 100000 AS lat_u, (event_id * 69069) % 100000 AS lon_u FROM events"

  /** The hotspot oracle over any point CTE — shared by the batch,
    * incremental-state, and streaming-gate rows. */
  private def geoHotspotSqlFor(ptsSql: String): String =
      s"""WITH pts AS ($ptsSql),
         |cells AS (SELECT lat_u // 5000 AS cell_lat, lon_u // 5000 AS cell_lon,
         |  COUNT(*) AS n FROM pts GROUP BY 1, 2),
         |off AS (SELECT * FROM (VALUES (-1), (0), (1)) a(dl)
         |  CROSS JOIN (VALUES (-1), (0), (1)) b(dn)),
         |nb AS (SELECT c.cell_lat, c.cell_lon, SUM(c2.n) AS s_neigh
         | FROM cells c JOIN off ON TRUE JOIN cells c2
         |   ON c2.cell_lat = c.cell_lat + off.dl AND c2.cell_lon = c.cell_lon + off.dn
         | GROUP BY 1, 2),
         |tot AS (SELECT COUNT(*) AS ncells, SUM(n) AS ntot FROM cells)
         |SELECT c.cell_lat, c.cell_lon, c.n, CAST(nb.s_neigh AS BIGINT) AS s_neigh,
         | CAST(CAST(nb.s_neigh AS HUGEINT) * ncells * 1000000
         |   // (9 * CAST(ntot AS HUGEINT)) AS BIGINT) AS hot_micro,
         | CAST(nb.s_neigh AS HUGEINT) * ncells * 2 > 3 * 9 * CAST(ntot AS HUGEINT) AS is_hot
         |FROM cells c
         |JOIN nb ON nb.cell_lat = c.cell_lat AND nb.cell_lon = c.cell_lon, tot""".stripMargin

  /** Shared by the batch and (final-run-trimmed) streaming run-length rows. */
  private def runlengthSql: String =

      """WITH g AS (SELECT user_id, event_type, event_id,
        |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec,
        |  CASE WHEN LAG(event_type) OVER w IS NULL
        |    OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS new_run
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT), event_id)),
        |r AS (SELECT *, CAST(SUM(new_run) OVER (PARTITION BY user_id
        |  ORDER BY ts_sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_seq
        | FROM g)
        |SELECT user_id, run_seq, MIN(event_type) AS event_type,
        | COUNT(*) AS run_len, MIN(ts_sec) AS t_start, MAX(ts_sec) AS t_end
        |FROM r GROUP BY user_id, run_seq""".stripMargin

  /** Shared by the full-corpus and incremental-state collocation rows. */
  private def collocationsSql: String =

      """WITH toks AS (SELECT REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+') AS t
        | FROM documents WHERE text IS NOT NULL),
        |big AS (SELECT t[i] AS w1, t[i + 1] AS w2
        | FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS g(i)
        | WHERE LENGTH(t[i]) > 0 AND LENGTH(t[i + 1]) > 0),
        |bg AS (SELECT w1, w2, COUNT(*) AS n_ab FROM big GROUP BY 1, 2),
        |lm AS (SELECT w1, COUNT(*) AS n_a FROM big GROUP BY 1),
        |rm AS (SELECT w2, COUNT(*) AS n_b FROM big GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM big),
        |j AS (SELECT bg.w1, bg.w2, bg.n_ab, lm.n_a, rm.n_b, tot.n
        | FROM bg JOIN lm ON lm.w1 = bg.w1 JOIN rm ON rm.w2 = bg.w2, tot
        | WHERE bg.n_ab >= 5)
        |SELECT w1, w2, n_ab,
        | CAST(ROUND(2.0 * (
        |   (CASE WHEN n_ab = 0 THEN 0.0 ELSE CAST(n_ab AS DOUBLE)
        |     * LN(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE)
        |       / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) END)
        |   + (CASE WHEN n_a - n_ab = 0 THEN 0.0 ELSE CAST(n_a - n_ab AS DOUBLE)
        |     * LN(CAST(n_a - n_ab AS DOUBLE) * CAST(n AS DOUBLE)
        |       / (CAST(n_a AS DOUBLE) * CAST(n - n_b AS DOUBLE))) END)
        |   + (CASE WHEN n_b - n_ab = 0 THEN 0.0 ELSE CAST(n_b - n_ab AS DOUBLE)
        |     * LN(CAST(n_b - n_ab AS DOUBLE) * CAST(n AS DOUBLE)
        |       / (CAST(n - n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) END)
        |   + (CASE WHEN n - n_a - n_b + n_ab = 0 THEN 0.0 ELSE CAST(n - n_a - n_b + n_ab AS DOUBLE)
        |     * LN(CAST(n - n_a - n_b + n_ab AS DOUBLE) * CAST(n AS DOUBLE)
        |       / (CAST(n - n_a AS DOUBLE) * CAST(n - n_b AS DOUBLE))) END)
        |  ) * 1000000.0) AS BIGINT) AS g2_micro
        |FROM j""".stripMargin

  /** Shared by the Scala-API and SQL-TVF radius-join rows. */
  private def geoRadiusSql: String =
    s"""WITH c AS ($geoPointsSqlCustomer),
       |     s AS ($geoPointsSqlSupplier)
       |SELECT c.c_custkey, s.s_suppkey,
       | (c.lat_u - s.lat_u) * (c.lat_u - s.lat_u)
       |  + (c.lon_u - s.lon_u) * (c.lon_u - s.lon_u) AS dist2
       |FROM c, s
       |WHERE (c.lat_u - s.lat_u) * (c.lat_u - s.lat_u)
       |  + (c.lon_u - s.lon_u) * (c.lon_u - s.lon_u) <= 4000000""".stripMargin

  /** The geofence polygon — counterclockwise integer micro-degree
    * vertices over the [[geoPoints]] lattice; shared by the Spark query
    * and the generated oracle so the edge terms cannot drift. */
  private val GeoFenceVertices: Seq[(Long, Long)] = Seq(
    (10000L, 10000L), (80000L, 20000L), (90000L, 70000L),
    (50000L, 90000L), (15000L, 60000L))

  private def geoFenceSql: String = {
    val n = GeoFenceVertices.size
    val conds = GeoFenceVertices.indices.map { i =>
      val (ax, ay) = GeoFenceVertices(i)
      val (bx, by) = GeoFenceVertices((i + 1) % n)
      s"(${bx - ax} * (lon_u - $ay) - (${by - ay}) * (lat_u - $ax) >= 0)"
    }.mkString(" AND ")
    s"""WITH c AS ($geoPointsSqlCustomer)
       |SELECT c_custkey, ($conds) AS inside FROM c""".stripMargin
  }

  /** Shared key-derived lattice CTEs for the geo oracles — must stay in
    * lockstep with [[geoPoints]]. */
  private def geoPointsSqlCustomer: String =
    "SELECT c_custkey, (c_custkey * 40503) % 100000 AS lat_u, (c_custkey * 69069) % 100000 AS lon_u FROM customer"
  private def geoPointsSqlSupplier: String =
    "SELECT s_suppkey, (s_suppkey * 40503) % 100000 AS lat_u, (s_suppkey * 69069) % 100000 AS lon_u FROM supplier"

  /** Morton-cell oracle: the same closed-form interleave as
    * [[graft.ops.Geo.mortonCellId]] at 4 bits/axis, spelled out
    * term-by-term (generated here so the term list cannot drift from the
    * Scala side's `0 until bits` loop). */
  private def geoMortonSql: String = {
    val bits = 4
    val n = 1 << bits
    val terms = (0 until bits).map { k =>
      s"((latq >> $k) & 1) * ${1L << (2 * k)} + ((lonq >> $k) & 1) * ${2L << (2 * k)}"
    }.mkString(" + ")
    s"""WITH pts AS (SELECT
       |  (c_custkey * 7919) % 160000 / 1000.0 - 80.0 AS lat_d,
       |  (c_custkey * 104729) % 320000 / 1000.0 - 160.0 AS lon_d
       | FROM customer),
       |q AS (SELECT
       |  CAST(LEAST(GREATEST(FLOOR((lat_d - (-90.0)) / 180.0 * $n.0), 0.0), ${n - 1}.0) AS BIGINT) AS latq,
       |  CAST(LEAST(GREATEST(FLOOR((lon_d - (-180.0)) / 360.0 * $n.0), 0.0), ${n - 1}.0) AS BIGINT) AS lonq
       | FROM pts)
       |SELECT $terms AS cell_id, COUNT(*) AS n_points
       |FROM q GROUP BY 1""".stripMargin
  }

  /** Exact word-3-gram Jaccard pairs at threshold 0.8 — the oracle for
    * both the exact set-similarity join and the (verified, effectively
    * exact) MinHash path. */
  /** Shared by contamination (direct) and contamination_incremental
    * (same scenario through the persisted test-set index). */
  private def contaminationSql: String =
    """WITH d AS (SELECT doc_id, ((doc_id % 100) * 61) % 100 AS b,
      |            regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+') AS toks
      |           FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0),
      |sh AS (SELECT DISTINCT doc_id, b, s FROM (
      |  SELECT doc_id, b, unnest(list_transform(generate_series(1, len(toks)-7),
      |    i -> array_to_string(toks[i:i+7], ' '))) AS s
      |  FROM d WHERE len(toks) >= 8)),
      |keep AS (SELECT s FROM sh WHERE b < 80 GROUP BY s HAVING count(*) <= 1)
      |SELECT t.doc_id AS test_id, r.doc_id AS train_id, count(*) AS n_shared
      |FROM (SELECT * FROM sh WHERE b >= 90) t
      |JOIN (SELECT sh.* FROM sh JOIN keep USING (s) WHERE b < 80) r USING (s)
      |GROUP BY 1, 2""".stripMargin

  /** contaminationSql minus the maxDf boilerplate cap — the streaming
    * gate's contract (a positive cap is batch-local on a stream, so the
    * gate's drained union equals exactly the uncapped batch check). */
  private def decontamGateSql: String =
    """WITH d AS (SELECT doc_id, ((doc_id % 100) * 61) % 100 AS b,
      |            regexp_split_to_array(trim(text), '[ \t\n\r\f\x0B]+') AS toks
      |           FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0),
      |sh AS (SELECT DISTINCT doc_id, b, s FROM (
      |  SELECT doc_id, b, unnest(list_transform(generate_series(1, len(toks)-7),
      |    i -> array_to_string(toks[i:i+7], ' '))) AS s
      |  FROM d WHERE len(toks) >= 8))
      |SELECT t.doc_id AS test_id, r.doc_id AS train_id, count(*) AS n_shared
      |FROM (SELECT * FROM sh WHERE b >= 90) t
      |JOIN (SELECT * FROM sh WHERE b < 80) r USING (s)
      |GROUP BY 1, 2""".stripMargin

  /** Hybrid RRF oracle: dense rank = exact cosine (the bruteForceTopK
    * contract), sparse rank = distinct shared tokens, fused with
    * integer division — bit-replayable because every fused score is an
    * exact BIGINT. */
  private def rrfHybridSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id, v FROM c WHERE vec_id < 20),
      |dscore AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  list_cosine_similarity(q.v, c.v) AS sim FROM q JOIN c ON c.vec_id <> q.vec_id),
      |dtop AS (SELECT query_id, neighbor_id, dr FROM (
      |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS dr
      |  FROM dscore) WHERE dr <= 20),
      |toks AS (SELECT DISTINCT doc_id, term FROM (
      |  SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+')) AS term
      |  FROM documents WHERE text IS NOT NULL) WHERE LENGTH(term) > 0),
      |ov AS (SELECT qt.doc_id AS query_id, t.doc_id AS neighbor_id, COUNT(*) AS shared
      |  FROM (SELECT * FROM toks WHERE doc_id < 20) qt
      |  JOIN toks t USING (term) WHERE t.doc_id <> qt.doc_id GROUP BY 1, 2),
      |stop AS (SELECT query_id, neighbor_id, sr FROM (
      |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY shared DESC, neighbor_id ASC) AS sr
      |  FROM ov) WHERE sr <= 20),
      |fused AS (SELECT COALESCE(d.query_id, s.query_id) AS query_id,
      |  COALESCE(d.neighbor_id, s.neighbor_id) AS neighbor_id,
      |  COALESCE(1000000 // (60 + d.dr), 0) + COALESCE(1000000 // (60 + s.sr), 0) AS rrf_micro,
      |  CAST(d.dr AS INT) AS r_dense, CAST(s.sr AS INT) AS r_sparse
      |  FROM dtop d FULL JOIN stop s
      |  ON d.query_id = s.query_id AND d.neighbor_id = s.neighbor_id)
      |SELECT query_id, neighbor_id, CAST(rrf_micro AS BIGINT) AS rrf_micro,
      | r_dense, r_sparse, rank
      |FROM (SELECT *, CAST(ROW_NUMBER() OVER (
      |  PARTITION BY query_id ORDER BY rrf_micro DESC, neighbor_id ASC) AS INT) AS rank
      | FROM fused) WHERE rank <= 10""".stripMargin

  /** Shared by dq_w1_drift (Scala face) and dq_w1_sql (TVF face). */
  private def w1DriftSql: String =
    """WITH ref AS (SELECT CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS v
      |  FROM orders WHERE o_orderkey % 3 <> 0 AND o_totalprice IS NOT NULL),
      |cur AS (SELECT CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS v
      |  FROM orders WHERE o_orderkey % 3 = 0 AND o_totalprice IS NOT NULL),
      |u AS (SELECT v, 1 AS is_ref FROM ref
      |      UNION ALL SELECT v, 0 FROM cur),
      |vals AS (SELECT v, SUM(is_ref) AS c_ref, SUM(1 - is_ref) AS c_cur
      |         FROM u GROUP BY v),
      |cum AS (SELECT v, SUM(c_ref) OVER (ORDER BY v) AS cr,
      |         SUM(c_cur) OVER (ORDER BY v) AS cc,
      |         LEAD(v) OVER (ORDER BY v) AS nv FROM vals),
      |t AS (SELECT (SELECT COUNT(*) FROM ref) AS nr,
      |       (SELECT COUNT(*) FROM cur) AS nc)
      |SELECT CAST(nr AS BIGINT) AS n_ref, CAST(nc AS BIGINT) AS n_cur,
      | CAST(SUM(ABS(CAST(cr AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nr)
      |   * (nv - v)) AS BIGINT) AS w1_num,
      | CAST(SUM(ABS(CAST(cr AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nr)
      |   * (nv - v)) * 1000000
      |   // (CAST(nr AS HUGEINT) * nc * 100) AS BIGINT) AS w1_micro
      |FROM cum, t WHERE nv IS NOT NULL GROUP BY nr, nc""".stripMargin

  /** Shared by ts_seasonal_anomaly (batch face) and stream_anomaly_gate
    * (the drained gate state must equal the batch recompute exactly —
    * cell counts are the monoid). */
  private def seasonalAnomalySql: String =
    """WITH e AS (SELECT event_type, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec
      |           FROM events),
      |cells AS (SELECT event_type, sec // 86400 AS day, (sec // 3600) % 24 AS hour,
      |    COUNT(*) AS n FROM e GROUP BY 1, 2, 3),
      |base AS (SELECT event_type, hour, COUNT(*) AS n_cells, SUM(n) AS total
      |         FROM cells GROUP BY 1, 2)
      |SELECT c.event_type, c.day, c.hour, c.n, b.n_cells,
      | CAST(b.total AS BIGINT) AS total
      |FROM cells c JOIN base b USING (event_type, hour)
      |WHERE c.n * b.n_cells * 2 > 3 * b.total""".stripMargin

  /** Shared by dq_entropy (Scala face) and dq_entropy_sql (TVF face). */
  private def entropySql: String =
    """WITH c AS (SELECT CAST(o_orderpriority AS VARCHAR) AS category,
      |    COUNT(*) AS n_cat FROM orders GROUP BY 1),
      |t AS (SELECT SUM(n_cat) AS n_total FROM c)
      |SELECT category, n_cat, CAST(n_total AS BIGINT) AS n_total,
      | CAST(ROUND(-(CAST(n_cat AS DOUBLE) / CAST(n_total AS DOUBLE))
      |   * LN(CAST(n_cat AS DOUBLE) / CAST(n_total AS DOUBLE))
      |   * 1000000000) AS BIGINT) AS h_nano
      |FROM c, t""".stripMargin

  /** Shared by dq_benford (Scala face) and dq_benford_sql (TVF face). */
  private def benfordSql: String =
    """WITH q AS (SELECT CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS q
      |           FROM orders),
      |c AS (SELECT CAST(SUBSTR(CAST(q AS VARCHAR), 1, 1) AS INT) AS digit,
      |       COUNT(*) AS n_obs FROM q WHERE q > 0 GROUP BY 1),
      |sp AS (SELECT CAST(d.digit AS INT) AS digit, COALESCE(c.n_obs, 0) AS n_obs
      |       FROM (SELECT UNNEST(GENERATE_SERIES(1, 9)) AS digit) d
      |       LEFT JOIN c ON c.digit = d.digit),
      |t AS (SELECT SUM(n_obs) AS n_total FROM sp)
      |SELECT digit, n_obs, CAST(n_total AS BIGINT) AS n_total,
      | CAST(ROUND(CAST(n_total AS DOUBLE) * (LN(digit + 1.0) - LN(CAST(digit AS DOUBLE)))
      |   / LN(10.0) * 1000000) AS BIGINT) AS expected_micro,
      | n_obs * 1000000 - CAST(ROUND(CAST(n_total AS DOUBLE)
      |   * (LN(digit + 1.0) - LN(CAST(digit AS DOUBLE)))
      |   / LN(10.0) * 1000000) AS BIGINT) AS gap_micro
      |FROM sp, t""".stripMargin

  /** Shared by dq_fd_check (Scala face) and dq_fd_sql (TVF face). */
  private def fdCheckSql: String =
    """SELECT l_orderkey, COUNT(*) AS n_rows,
      | COUNT(DISTINCT l_suppkey) AS n_distinct
      |FROM lineitem WHERE l_suppkey IS NOT NULL
      |GROUP BY 1 HAVING COUNT(DISTINCT l_suppkey) > 1""".stripMargin

  /** Shared by q_gini (Scala face) and q_gini_sql (TVF face). */
  private def giniSql: String =
    """WITH spend AS (SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend
      |  FROM orders GROUP BY 1),
      |j AS (SELECT c_nationkey AS nationkey,
      |    CAST(ROUND(spend * 100) AS BIGINT) AS x
      |  FROM customer JOIN spend ON c_custkey = o_custkey),
      |r AS (SELECT nationkey, x,
      |    ROW_NUMBER() OVER (PARTITION BY nationkey ORDER BY x) AS i
      |  FROM j WHERE x >= 0),
      |a AS (SELECT nationkey, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s,
      |    SUM(CAST(i AS HUGEINT) * x) AS si FROM r GROUP BY 1)
      |SELECT nationkey, n, CAST(s AS BIGINT) AS sum_q,
      | CAST((2 * si - (n + 1) * s) * 1000000 // (n * s) AS BIGINT) AS gini_micro
      |FROM a WHERE s > 0""".stripMargin

  /** Shared by dq_roc_auc (Scala face) and dq_roc_sql (TVF face). */
  private def rocAucSql: String =
    """WITH s AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      |  FROM orders WHERE o_orderstatus IS NOT NULL AND o_totalprice IS NOT NULL),
      |g AS (SELECT v, SUM(pos) AS c_pos, SUM(1 - pos) AS c_neg FROM s GROUP BY v),
      |c AS (SELECT c_pos, c_neg,
      |    SUM(c_neg) OVER (ORDER BY v) - c_neg AS neg_below FROM g),
      |t AS (SELECT SUM(c_pos) AS np, SUM(c_neg) AS nn FROM g)
      |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
      | CAST(SUM(CAST(c_pos AS HUGEINT) * (2 * neg_below + c_neg)) AS BIGINT) AS u2_num,
      | CAST(SUM(CAST(c_pos AS HUGEINT) * (2 * neg_below + c_neg)) * 1000000
      |   // (2 * CAST(np AS HUGEINT) * nn) AS BIGINT) AS auc_micro
      |FROM c, t GROUP BY np, nn""".stripMargin

  /** Shared by dq_chi2_drift (Scala face) and dq_chi2_sql (TVF face). */
  private def chi2DriftSql: String =
    """WITH u AS (SELECT CAST(o_orderpriority AS VARCHAR) AS category,
      |    1 AS one_ref, 0 AS one_cur FROM orders WHERE o_orderkey % 3 <> 0
      |  UNION ALL SELECT CAST(o_orderpriority AS VARCHAR), 0, 1
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |sp AS (SELECT category, SUM(one_ref) AS n_ref, SUM(one_cur) AS n_cur
      |       FROM u GROUP BY category),
      |t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM sp),
      |d AS (SELECT category, n_ref, n_cur,
      |   CAST(n_ref AS HUGEINT) * tc - CAST(n_cur AS HUGEINT) * tr AS dd,
      |   CAST(tr AS HUGEINT) * tc * (n_ref + n_cur) AS den FROM sp, t)
      |SELECT category, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
      | CAST((dd * dd // den) * 1000000
      |   + ((dd * dd % den) * 1000000 // den) AS BIGINT) AS chi2_cell_micro
      |FROM d""".stripMargin

  /** Shared by dq_mutual_info (Scala face) and dq_mi_sql (TVF face). */
  private def mutualInfoSql: String =
    """WITH rated AS (SELECT CAST(o_orderpriority AS VARCHAR) AS x,
      |   CAST(o_orderstatus AS VARCHAR) AS y FROM orders
      | WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
      |cells AS (SELECT x, y, COUNT(*) AS n_xy FROM rated GROUP BY 1, 2),
      |m AS (SELECT x, y, n_xy,
      |  SUM(n_xy) OVER (PARTITION BY x) AS n_x,
      |  SUM(n_xy) OVER (PARTITION BY y) AS n_y FROM cells),
      |t AS (SELECT SUM(n_xy) AS n FROM cells)
      |SELECT x, y, n_xy, CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
      | CAST(ROUND((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE))
      |   * LN(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)
      |       / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) * 1000000000) AS BIGINT) AS mi_nano
      |FROM m, t""".stripMargin

  /** Shared by q_rfm (Scala face) and q_rfm_sql (graft_rfm TVF). */
  private def rfmSql: String =
    """WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
        |per AS (SELECT o_custkey,
        |   CAST(DATE_DIFF('day', MAX(o_orderdate), mxd) AS BIGINT) AS recency_days,
        |   COUNT(*) AS n_orders,
        |   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders, mx GROUP BY o_custkey, mxd),
        |t AS (SELECT *,
        |   CAST(NTILE(5) OVER (ORDER BY -recency_days, o_custkey) AS BIGINT) AS r,
        |   CAST(NTILE(5) OVER (ORDER BY n_orders, o_custkey) AS BIGINT) AS f,
        |   CAST(NTILE(5) OVER (ORDER BY cents, o_custkey) AS BIGINT) AS m
        |  FROM per)
        |SELECT o_custkey, recency_days, n_orders, cents, r, f, m,
        | 100 * r + 10 * f + m AS rfm FROM t""".stripMargin

  /** Shared by q_item_cooccur, its incremental twin, and the
    * graft_item_cooccur TVF face. */
  private def itemCooccurSql: String =
    """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |ni AS (SELECT i, COUNT(*) AS n FROM bi GROUP BY 1),
        |p AS (SELECT x.i AS u, y.i AS v, COUNT(*) AS n_ab FROM bi x JOIN bi y
        |  ON x.b = y.b AND x.i < y.i GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (SELECT u AS item, v AS nbr, n_ab FROM p
        |  UNION ALL SELECT v AS item, u AS nbr, n_ab FROM p),
        |sc AS (SELECT item, nbr, n_ab, a.n AS n_item, b.n AS n_nbr,
        |  CAST(CAST(n_ab AS HUGEINT) * n_ab * 1000000
        |    // (CAST(a.n AS HUGEINT) * b.n) AS BIGINT) AS score_micro
        | FROM sym JOIN ni a ON a.i = item JOIN ni b ON b.i = nbr),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY item
        |   ORDER BY score_micro DESC, nbr DESC) AS BIGINT) AS rank FROM sc)
        |SELECT item, rank, nbr, n_item, n_nbr, n_ab, score_micro
        |FROM r WHERE rank <= 5""".stripMargin

  /** Shared by events_survival (Scala face) and events_survival_sql
    * (graft_survival TVF). */
  private def survivalSql: String =
    """WITH sec AS (SELECT user_id, event_type, "value",
        |   CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS s FROM events),
        |per AS (SELECT user_id, MIN(s) AS f,
        |   MIN(CASE WHEN event_type = 'purchase' AND "value" > 100.0 THEN s END) AS cv
        |  FROM sec GROUP BY 1),
        |mx AS (SELECT MAX(s) AS m FROM sec),
        |u AS (SELECT user_id, (COALESCE(cv, m) - f) // 86400 AS t_day,
        |   CASE WHEN cv IS NOT NULL THEN 1 ELSE 0 END AS churned FROM per, mx),
        |d AS (SELECT t_day, COUNT(*) AS n_leaving,
        |   CAST(SUM(churned) AS BIGINT) AS n_events,
        |   COUNT(*) - CAST(SUM(churned) AS BIGINT) AS n_censored FROM u GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nt FROM u),
        |c AS (SELECT *, nt - COALESCE(SUM(n_leaving) OVER
        |   (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS n_risk FROM d, n),
        |t AS (SELECT *, CASE WHEN n_events > 0 AND n_events < n_risk
        |     THEN CAST(ROUND(LN(CAST(n_risk - n_events AS DOUBLE)
        |       / CAST(n_risk AS DOUBLE)) * 1000000000) AS BIGINT)
        |     ELSE 0 END AS term,
        |   MAX(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END) OVER
        |    (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        |  FROM c),
        |s2 AS (SELECT *, CAST(SUM(term) OVER
        |   (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS cum FROM t)
        |SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
        | CASE WHEN dead = 1 THEN 0
        |  ELSE CAST(ROUND(EXP(CAST(cum AS DOUBLE) / 1e9) * 1000000.0) AS BIGINT)
        | END AS surv_micro
        |FROM s2""".stripMargin

  /** Shared by events_funnel (batch face) and stream_funnel (the
    * heartbeat-closed streaming twin, which drains to the identical
    * full-funnel result). */
  private def funnelSql: String =
    """WITH base AS (SELECT user_id, event_type,
      |   CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec FROM events),
      |s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_sec END)
      |   OVER (PARTITION BY user_id) AS step_1 FROM base),
      |s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND step_1 IS NOT NULL
      |     AND ts_sec > step_1 THEN ts_sec END)
      |   OVER (PARTITION BY user_id) AS step_2 FROM s1),
      |s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND step_2 IS NOT NULL
      |     AND ts_sec > step_2 THEN ts_sec END)
      |   OVER (PARTITION BY user_id) AS step_3 FROM s2)
      |SELECT DISTINCT user_id, step_1, step_2, step_3,
      | (CASE WHEN step_1 IS NOT NULL THEN 1 ELSE 0 END
      |  + CASE WHEN step_2 IS NOT NULL THEN 1 ELSE 0 END
      |  + CASE WHEN step_3 IS NOT NULL THEN 1 ELSE 0 END) AS reached
      |FROM s3""".stripMargin

  /** Shared by text_bm25 (Scala face) and text_bm25_sql (TVF face). */
  /** Shared oracle machinery for the dictionary-tag family: replays the
    * normalization contract (lower → whitespace split → ASCII
    * edge-punctuation strip → single-space join) with the same salting
    * as dictTagSalted, then tests each phrase by space-flanked
    * containment — the quadratic doc × dict form the Aho-Corasick pass
    * exists to avoid, which is exactly what makes it an independent
    * oracle. */
  private def dictNormCte: String =
    """WITH s AS (SELECT doc_id, lang, source, text
      |    || CASE WHEN doc_id % 3 = 0 THEN ' ...Gambling!' ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0 THEN ' Online, CASINO bonus?' ELSE '' END AS t
      |  FROM documents WHERE text IS NOT NULL),
      |norm AS (SELECT doc_id, lang, source, LENGTH(t) AS n_chars_kept,
      |  ' ' || array_to_string(list_filter(list_transform(
      |    regexp_split_to_array(lower(t), '[ \t\n\r\f\x0B]+'),
      |    w -> regexp_replace(regexp_replace(w, '^[!-/:-@\[-`{-~]+', ''),
      |                        '[!-/:-@\[-`{-~]+$', '')),
      |    w -> w <> ''), ' ') || ' ' AS st
      |  FROM s)""".stripMargin

  private def dictTagSql: String =
    dictNormCte + """,
      |dict(phrase) AS (VALUES ('spark'),('dup'),('batch batch'),('gambling'),
      |  ('online casino'),('casino bonus'),('ord'),('quantum flux')),
      |hit AS (SELECT n.doc_id, d.phrase FROM norm n JOIN dict d
      |        ON contains(n.st, ' ' || d.phrase || ' ')),
      |agg AS (SELECT doc_id, array_to_string(list_sort(list(phrase)), ',') AS tags,
      |        COUNT(*) AS n_tags FROM hit GROUP BY 1)
      |SELECT n.doc_id, COALESCE(a.tags, '') AS tags,
      |  CAST(COALESCE(a.n_tags, 0) AS INT) AS n_tags
      |FROM norm n LEFT JOIN agg a USING (doc_id)""".stripMargin

  private def blocklistSql: String =
    dictNormCte + """
      |SELECT doc_id, lang, source, CAST(n_chars_kept AS BIGINT) AS n_chars_kept
      |FROM norm
      |WHERE NOT contains(st, ' gambling ') AND NOT contains(st, ' casino bonus ')""".stripMargin

  private def bm25Sql: String =
    """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\r\f\x0B]+')) AS term
      |             FROM documents WHERE text IS NOT NULL),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE len(term) > 0 GROUP BY 1, 2),
      |docs AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
      |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM docs),
      |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |qt AS (SELECT term, df FROM dft ORDER BY df DESC, term ASC LIMIT 20),
      |scored AS (SELECT tf.term, tf.doc_id, tf.tf, qt.df, docs.dl,
      |  CAST(44 * stats.sum_dl * tf.tf AS DOUBLE)
      |    / CAST(20 * stats.sum_dl * tf.tf + 6 * stats.sum_dl + 18 * docs.dl * stats.n_docs AS DOUBLE) AS tf_part,
      |  CAST(2 * stats.n_docs + 2 AS DOUBLE) / CAST(2 * qt.df + 1 AS DOUBLE) AS idf_ratio
      | FROM tf JOIN qt USING (term) JOIN docs USING (doc_id), stats)
      |SELECT term, doc_id, CAST(rank AS INT) AS rank, tf, df, CAST(dl AS BIGINT) AS dl,
      | CAST(ROUND(LN(idf_ratio) * tf_part * 1000000000) AS BIGINT) AS bm25_nano
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY term
      |        ORDER BY tf_part DESC, doc_id ASC) AS rank FROM scored)
      |WHERE rank <= 10""".stripMargin

  private def ngramJaccardSql: String =
    """WITH t AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+') AS w FROM documents),
      |sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |  FOR i IN RANGE(1, GREATEST(LEN(w) - 1, 1))]) AS s FROM t WHERE LEN(w) >= 3),
      |sizes AS (SELECT doc_id, LEN(s) AS sz FROM sh),
      |ix AS (SELECT doc_id, UNNEST(s) AS sg FROM sh),
      |co AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c
      |  FROM ix a JOIN ix b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT a_id, b_id, c * 1.0 / (sa.sz + sb.sz - c) AS jaccard
      |FROM co JOIN sizes sa ON co.a_id = sa.doc_id JOIN sizes sb ON co.b_id = sb.doc_id
      |WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.8""".stripMargin

  /** SCD2 point-in-time join scenario — the oracle shared by the Scala
    * face (etl_temporal_join) and the SQL TVF face (q_temporal_sql). */
  /** Shared by `sketch_segment_overlap` (Scala face) and
    * `sketch_overlap_sql` (`graft_theta_overlap` TVF face). A full
    * a<b cross of segments (LEFT JOIN + COALESCE 0), because the
    * operator's contract is ALL pairs including zero-overlap ones —
    * an inner join on shared ids would silently under-check any
    * fixture with disjoint segments. NULL seg/id filters mirror the
    * Scala face's exclusions. */
  private def thetaOverlapSql: String =
    """WITH s AS (SELECT DISTINCT o_orderpriority AS seg, o_custkey AS c FROM orders
      |  WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL),
      |n AS (SELECT seg, COUNT(*) AS n FROM s GROUP BY 1),
      |co AS (SELECT a.seg AS seg_a, b.seg AS seg_b, COUNT(*) AS c
      |  FROM s a JOIN s b ON a.c = b.c AND a.seg < b.seg GROUP BY 1, 2)
      |SELECT na.seg AS seg_a, nb.seg AS seg_b, na.n AS n_a, nb.n AS n_b,
      | CAST(COALESCE(co.c, 0) AS BIGINT) AS n_overlap
      |FROM n na JOIN n nb ON na.seg < nb.seg
      |LEFT JOIN co ON co.seg_a = na.seg AND co.seg_b = nb.seg""".stripMargin

  /** Shared by `sketch_group_quantiles` (Scala face) and
    * `sketch_quantiles_sql` (`graft_sketch_quantiles` TVF face): the
    * INCLUSIVE quantile at rank p over n rows is the ⌈p·n⌉-th order
    * statistic — `MIN(v) WHERE rn >= CEIL(p*n)`. */
  private def kllQuantilesSql: String =
    """WITH probs AS (SELECT CAST(x AS DOUBLE) AS p
      |  FROM (VALUES (0.1), (0.5), (0.9), (1.0)) v(x)),
      |ranked AS (SELECT event_type, value AS v,
      |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |  COUNT(*) OVER (PARTITION BY event_type) AS n
      | FROM events WHERE value IS NOT NULL AND NOT ISNAN(value))
      |SELECT event_type, p, MIN(v) AS q
      |FROM ranked, probs WHERE rn >= CEIL(p * n)
      |GROUP BY 1, 2""".stripMargin

  /** Shared by `events_dau_mau` (exact bounded expansion),
    * `sketch_dau_mau` (mergeable daily theta sketches in exact mode),
    * and `sketch_dau_mau_sql` (TVF face) — one ground truth, three
    * faces. */
  /** Shared by dq_cohens_kappa and its SQL face dq_kappa_sql. */
  private def cohensKappaSql: String =
    """WITH ann AS (
      | SELECT o_orderstatus AS la,
      |  CASE WHEN o_orderkey % 7 = 0
      |   THEN CASE WHEN o_orderstatus = 'F' THEN 'O' ELSE 'F' END
      |   ELSE o_orderstatus END AS lb
      | FROM orders
      | WHERE o_orderstatus IS NOT NULL),
      |cont AS (SELECT la, lb, COUNT(*) AS nn FROM ann GROUP BY 1, 2),
      |t AS (SELECT CAST(SUM(nn) AS BIGINT) AS n FROM cont),
      |a AS (SELECT CAST(COALESCE(SUM(nn), 0) AS BIGINT) AS n_agree
      |      FROM cont WHERE la = lb),
      |ra AS (SELECT la, SUM(nn) AS r FROM cont GROUP BY 1),
      |cb AS (SELECT lb, SUM(nn) AS c FROM cont GROUP BY 1),
      |pe AS (SELECT CAST(COALESCE(SUM(CAST(r AS HUGEINT) * c), 0) AS HUGEINT)
      |        AS pe_num
      |       FROM ra JOIN cb ON ra.la = cb.lb)
      |SELECT n, n_agree, CAST(pe_num AS BIGINT) AS pe_num,
      | CASE WHEN CAST(n AS HUGEINT) * n - pe_num = 0 THEN 1000000
      |  ELSE CAST((CAST(n_agree AS HUGEINT) * n - pe_num) * 1000000
      |    // (CAST(n AS HUGEINT) * n - pe_num) AS BIGINT)
      | END AS kappa_micro
      |FROM t, a, pe""".stripMargin

  /** Shared by dq_fleiss_kappa and its SQL face dq_fleiss_sql. */
  private def fleissKappaSql: String =
    """WITH o AS (SELECT o_orderkey, o_orderstatus FROM orders
      |  WHERE o_orderstatus IS NOT NULL),
      |ratings AS (
      | SELECT o_orderkey AS item, o_orderstatus AS label FROM o
      | UNION ALL
      | SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0
      |  THEN CASE WHEN o_orderstatus = 'F' THEN 'O' ELSE 'F' END
      |  ELSE o_orderstatus END FROM o
      | UNION ALL
      | SELECT o_orderkey, CASE WHEN o_orderkey % 11 = 0
      |  THEN CASE WHEN o_orderstatus = 'F' THEN 'O' ELSE 'F' END
      |  ELSE o_orderstatus END FROM o),
      |nij AS (SELECT item, label, COUNT(*) AS nn FROM ratings GROUP BY 1, 2),
      |sz AS (SELECT COUNT(DISTINCT item) AS n_items FROM nij),
      |a AS (SELECT SUM(CAST(nn AS HUGEINT) * nn) AS a_sum FROM nij),
      |sj AS (SELECT SUM(CAST(c AS HUGEINT) * c) AS s_sum
      |       FROM (SELECT SUM(nn) AS c FROM nij GROUP BY label)),
      |t AS (SELECT CAST(n_items AS HUGEINT) * 3 AS bt, n_items FROM sz)
      |SELECT n_items, CAST(3 AS BIGINT) AS n_raters,
      | CAST(a_sum AS BIGINT) AS a_sum, CAST(s_sum AS BIGINT) AS s_sum,
      | CASE WHEN bt * bt - s_sum = 0 THEN 1000000
      |  ELSE CAST((bt * (a_sum - bt) - s_sum * 2) * 1000000
      |    // (2 * (bt * bt - s_sum)) AS BIGINT)
      | END AS kappa_micro
      |FROM t, a, sj""".stripMargin

  /** Shared by dq_ks_drift and its SQL face dq_ks_sql. */
  private def ksDriftSql: String =
    """WITH ref AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      |  WHERE o_orderkey % 3 <> 0 AND o_totalprice IS NOT NULL),
      |cur AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      |  WHERE o_orderkey % 3 = 0 AND o_totalprice IS NOT NULL),
      |u AS (SELECT v, 1 AS is_ref FROM ref
      |      UNION ALL SELECT v, 0 FROM cur),
      |vals AS (SELECT v, SUM(is_ref) AS c_ref, SUM(1 - is_ref) AS c_cur
      |         FROM u GROUP BY v),
      |cum AS (SELECT SUM(c_ref) OVER (ORDER BY v) AS cr,
      |         SUM(c_cur) OVER (ORDER BY v) AS cc FROM vals),
      |t AS (SELECT (SELECT COUNT(*) FROM ref) AS nr,
      |       (SELECT COUNT(*) FROM cur) AS nc)
      |SELECT CAST(nr AS BIGINT) AS n_ref, CAST(nc AS BIGINT) AS n_cur,
      | CAST(MAX(ABS(CAST(cr AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nr))
      |   AS BIGINT) AS d_num,
      | CAST(MAX(ABS(CAST(cr AS HUGEINT) * nc - CAST(cc AS HUGEINT) * nr))
      |   * 1000000 // (CAST(nr AS HUGEINT) * nc) AS BIGINT) AS ks_micro
      |FROM cum, t GROUP BY nr, nc""".stripMargin

  /** Shared by dq_psi_drift and stream_drift_gate: the gate's drained
    * state PSI must equal the batch recompute exactly (counts are the
    * monoid). */
  private def psiDriftSql: String =
    """WITH ref AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      |  WHERE o_orderkey % 3 <> 0 AND o_totalprice IS NOT NULL),
      |cur AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      |  WHERE o_orderkey % 3 = 0 AND o_totalprice IS NOT NULL),
      |st AS (SELECT MIN(v) AS mn, (MAX(v) - MIN(v)) / 10 AS w FROM ref),
      |rb AS (SELECT CAST(LEAST(GREATEST(FLOOR((v - mn) / w), 0), 9) AS BIGINT) AS bin
      |       FROM ref, st),
      |cb AS (SELECT CAST(LEAST(GREATEST(FLOOR((v - mn) / w), 0), 9) AS BIGINT) AS bin
      |       FROM cur, st),
      |spine AS (SELECT CAST(range AS BIGINT) AS bin FROM range(0, 10)),
      |r AS (SELECT bin, COUNT(*) AS n_ref FROM rb GROUP BY 1),
      |c AS (SELECT bin, COUNT(*) AS n_cur FROM cb GROUP BY 1),
      |j AS (SELECT spine.bin, COALESCE(n_ref, 0) AS n_ref,
      |       COALESCE(n_cur, 0) AS n_cur
      |      FROM spine LEFT JOIN r USING (bin) LEFT JOIN c USING (bin)),
      |t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM j)
      |SELECT bin, n_ref, n_cur,
      | CAST(ROUND(((n_ref + 0.5) / (tr + 5.0) - (n_cur + 0.5) / (tc + 5.0))
      |   * LN(((n_ref + 0.5) / (tr + 5.0)) / ((n_cur + 0.5) / (tc + 5.0)))
      |   * 1000000000) AS BIGINT) AS psi_nano
      |FROM j, t""".stripMargin

  /** Shared by events_coverage and stream_coverage_gate (the drained
    * gate equals the one-shot islands sweep). */
  private def coverageSql: String =
    """WITH b AS (SELECT user_id AS key,
      |   CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS st,
      |   CAST(FLOOR(EPOCH(ts)) AS BIGINT) + 300 AS en FROM events),
      |w1 AS (SELECT *, MAX(en) OVER (PARTITION BY key ORDER BY st, en
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM b),
      |w2 AS (SELECT *, SUM(CASE WHEN prev_max IS NULL OR st > prev_max
      |     THEN 1 ELSE 0 END)
      |   OVER (PARTITION BY key ORDER BY st, en
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM w1),
      |i AS (SELECT key, island, MIN(st) AS i_st, MAX(en) AS i_en,
      |   COUNT(*) AS n FROM w2 GROUP BY 1, 2)
      |SELECT key AS user_id, CAST(SUM(n) AS BIGINT) AS n_events,
      | COUNT(*) AS n_islands,
      | CAST(SUM(i_en - i_st) AS BIGINT) AS covered_sec,
      | CAST(MAX(i_en) - MIN(i_st) AS BIGINT) AS span_sec,
      | CAST(MAX(i_en) - MIN(i_st) - SUM(i_en - i_st) AS BIGINT) AS gap_sec
      |FROM i GROUP BY 1""".stripMargin

  /** Shared by dq_js_drift: the PSI scenario scored with the bounded
    * symmetric Jensen–Shannon divergence. Same smoothing/spine; the
    * formula is ½(p·ln(p/m) + q·ln(q/m)) with m the midpoint. */
  private def jsDriftSql: String =
    """WITH ref AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      |  WHERE o_orderkey % 3 <> 0 AND o_totalprice IS NOT NULL),
      |cur AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      |  WHERE o_orderkey % 3 = 0 AND o_totalprice IS NOT NULL),
      |st AS (SELECT MIN(v) AS mn, (MAX(v) - MIN(v)) / 10 AS w FROM ref),
      |rb AS (SELECT CAST(LEAST(GREATEST(FLOOR((v - mn) / w), 0), 9) AS BIGINT) AS bin
      |       FROM ref, st),
      |cb AS (SELECT CAST(LEAST(GREATEST(FLOOR((v - mn) / w), 0), 9) AS BIGINT) AS bin
      |       FROM cur, st),
      |spine AS (SELECT CAST(range AS BIGINT) AS bin FROM range(0, 10)),
      |r AS (SELECT bin, COUNT(*) AS n_ref FROM rb GROUP BY 1),
      |c AS (SELECT bin, COUNT(*) AS n_cur FROM cb GROUP BY 1),
      |j AS (SELECT spine.bin, COALESCE(n_ref, 0) AS n_ref,
      |       COALESCE(n_cur, 0) AS n_cur
      |      FROM spine LEFT JOIN r USING (bin) LEFT JOIN c USING (bin)),
      |t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM j),
      |pq AS (SELECT bin, n_ref, n_cur,
      |        (n_ref + 0.5) / (tr + 5.0) AS p,
      |        (n_cur + 0.5) / (tc + 5.0) AS q
      |       FROM j, t)
      |SELECT bin, n_ref, n_cur,
      | CAST(ROUND((p * LN(p / ((p + q) / 2)) + q * LN(q / ((p + q) / 2)))
      |   / 2 * 1000000000) AS BIGINT) AS js_nano
      |FROM pq""".stripMargin

  /** Shared by dq_cramers_v: exact-integer χ² over the contingency
    * table (per-cell HUGEINT floor division mirroring the decimal(38,0)
    * divmod), then one IEEE-exact sqrt rounded at 1e-6. */
  /** t-closeness oracle: full group × category spine, integer TVD
    * numerator, one HUGEINT floor-division per group (internal only —
    * outputs are BIGINT per the lint rule). */
  private def tClosenessSql: String =
    """WITH b AS (SELECT o_orderpriority,
      |   CAST(epoch(o_orderdate) AS BIGINT) // 604800 AS order_week,
      |   COALESCE(CAST(o_orderstatus AS VARCHAR), '<NULL>') AS s FROM orders),
      |cells AS (SELECT o_orderpriority, order_week, s, COUNT(*) AS n_gc
      |  FROM b GROUP BY 1, 2, 3),
      |grp AS (SELECT o_orderpriority, order_week, SUM(n_gc) AS n_g
      |  FROM cells GROUP BY 1, 2),
      |cat AS (SELECT s, SUM(n_gc) AS n_c FROM cells GROUP BY 1),
      |tot AS (SELECT SUM(n_c) AS n FROM cat),
      |spine AS (SELECT g.o_orderpriority, g.order_week, g.n_g, c.s, c.n_c, t.n
      |  FROM grp g CROSS JOIN cat c CROSS JOIN tot t),
      |j AS (SELECT spine.*, COALESCE(cl.n_gc, 0) AS n_gc FROM spine
      |  LEFT JOIN cells cl ON cl.o_orderpriority = spine.o_orderpriority
      |   AND cl.order_week = spine.order_week AND cl.s = spine.s),
      |agg AS (SELECT o_orderpriority, order_week, n_g, n,
      |   SUM(ABS(CAST(n_gc AS HUGEINT) * n - CAST(n_c AS HUGEINT) * n_g)) AS num
      |  FROM j GROUP BY 1, 2, 3, 4)
      |SELECT o_orderpriority, order_week, CAST(n_g AS BIGINT) AS group_size,
      | CAST(num * 1000000000 // (2 * CAST(n_g AS HUGEINT) * n) AS BIGINT) AS tvd_nano
      |FROM agg
      |WHERE num * 1000000000 // (2 * CAST(n_g AS HUGEINT) * n) > 150000000""".stripMargin

  /** Shared by exp_conformal / stream_conformal_gate: replays the
    * deterministic scorer, the residual histogram, and the exact
    * ceil((n+1)(1-alpha)) order statistic. */
  private def conformalSql: String =
    """WITH sc AS (SELECT o_orderkey,
        |   o_totalprice + CAST(o_orderkey % 97 - 48 AS DOUBLE) AS pred,
        |   o_totalprice AS actual FROM orders),
        |r AS (SELECT ABS(CAST(FLOOR(pred * 1000000 + 0.5) AS BIGINT)
        |        - CAST(FLOOR(actual * 1000000 + 0.5) AS BIGINT)) AS r
        |      FROM sc WHERE o_orderkey % 3 = 0),
        |h AS (SELECT r, COUNT(*) AS c FROM r GROUP BY 1),
        |cu AS (SELECT r, SUM(c) OVER (ORDER BY r
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |       SUM(c) OVER () AS n FROM h),
        |q AS (SELECT MIN(r) AS qhat FROM cu
        |      WHERE cum >= ((n + 1) * 900000 + 999999) // 1000000)
        |SELECT sc.o_orderkey,
        | CAST(FLOOR(sc.pred * 1000000 + 0.5) AS BIGINT) AS pred_micro,
        | CAST(q.qhat AS BIGINT) AS qhat_micro,
        | CAST(FLOOR(sc.pred * 1000000 + 0.5) AS BIGINT) - q.qhat AS lo_micro,
        | CAST(FLOOR(sc.pred * 1000000 + 0.5) AS BIGINT) + q.qhat AS hi_micro
        |FROM sc CROSS JOIN q WHERE sc.o_orderkey % 3 = 1""".stripMargin

  /** Shared by exp_cqr / exp_cqr_sql / stream_cqr_gate: replays the
    * deterministic band, the SIGNED score histogram, and the exact
    * ceil((n+1)(1-alpha)) order statistic. */
  private def cqrSql: String =
    """WITH sc AS (SELECT o_orderkey,
      |   o_totalprice - CAST(o_orderkey % 50 AS DOUBLE) AS lo,
      |   o_totalprice + CAST(o_orderkey % 70 AS DOUBLE) AS hi,
      |   o_totalprice + CAST(o_orderkey % 97 - 48 AS DOUBLE) AS actual
      |  FROM orders),
      |r AS (SELECT GREATEST(
      |     CAST(FLOOR(lo * 1000000 + 0.5) AS BIGINT)
      |       - CAST(FLOOR(actual * 1000000 + 0.5) AS BIGINT),
      |     CAST(FLOOR(actual * 1000000 + 0.5) AS BIGINT)
      |       - CAST(FLOOR(hi * 1000000 + 0.5) AS BIGINT)) AS r
      |  FROM sc WHERE o_orderkey % 3 = 0),
      |h AS (SELECT r, COUNT(*) AS c FROM r GROUP BY 1),
      |cu AS (SELECT r, SUM(c) OVER (ORDER BY r
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |   SUM(c) OVER () AS n FROM h),
      |q AS (SELECT MIN(r) AS qhat FROM cu
      |   WHERE cum >= ((n + 1) * 900000 + 999999) // 1000000)
      |SELECT sc.o_orderkey,
      | CAST(FLOOR(sc.lo * 1000000 + 0.5) AS BIGINT) AS lo_pred_micro,
      | CAST(FLOOR(sc.hi * 1000000 + 0.5) AS BIGINT) AS hi_pred_micro,
      | CAST(q.qhat AS BIGINT) AS qhat_micro,
      | CAST(FLOOR(sc.lo * 1000000 + 0.5) AS BIGINT) - q.qhat AS lo_micro,
      | CAST(FLOOR(sc.hi * 1000000 + 0.5) AS BIGINT) + q.qhat AS hi_micro
      |FROM sc CROSS JOIN q WHERE sc.o_orderkey % 3 = 1""".stripMargin

  /** Shared by exp_mannwhitney / exp_mw_sql / exp_mw_incremental:
    * replays the micro-grid histogram, exact doubled mid-rank sums,
    * and the tie-corrected z tree. */
  private def mannWhitneySql: String =
    """WITH src AS (SELECT
      |   CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT) AS vq,
      |   l_returnflag AS g FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IN ('A', 'R')),
      |h AS (SELECT vq, SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS ca,
      |   COUNT(*) AS t FROM src GROUP BY 1),
      |cu AS (SELECT vq, ca, t,
      |   COALESCE(SUM(t) OVER (ORDER BY vq
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      |  FROM h),
      |ag AS (SELECT SUM(CAST(ca AS HUGEINT) * (2 * cumb + t + 1)) AS r2a,
      |   SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_d,
      |   SUM(ca) AS na, SUM(t) AS nn FROM cu),
      |fin AS (SELECT na, nn, nn - na AS nb, tie_d,
      |   r2a - CAST(na AS HUGEINT) * (na + 1) AS u2a FROM ag)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      | CAST(u2a AS BIGINT) AS u2_a,
      | CAST(2 * CAST(na AS HUGEINT) * nb - u2a AS BIGINT) AS u2_b,
      | CAST(tie_d AS BIGINT) AS tie_term,
      | CASE WHEN na > 0 AND nb > 0 AND nn > 1 AND
      |   (CAST(nn AS DOUBLE) + 1.0 - CAST(tie_d AS DOUBLE)
      |     / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0))) > 0.0
      |  THEN CAST(FLOOR((CAST(u2a AS DOUBLE)
      |     - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
      |   / (2.0 * SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
      |     * (CAST(nn AS DOUBLE) + 1.0 - CAST(tie_d AS DOUBLE)
      |       / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0)))))
      |   * 1000000000.0 + 0.5) AS BIGINT) END AS z_nano
      |FROM fin""".stripMargin

  /** Shared by exp_kruskal / exp_kruskal_sql. */
  private def kruskalSql: String =
    """WITH src AS (SELECT
      |   CAST(FLOOR(l_quantity * 1000000 + 0.5) AS BIGINT) AS vq,
      |   l_returnflag AS g FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
      |pv AS (SELECT vq, COUNT(*) AS t FROM src GROUP BY 1),
      |cu AS (SELECT vq, t, COALESCE(SUM(t) OVER (ORDER BY vq
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      |  FROM pv),
      |gv AS (SELECT g, vq, COUNT(*) AS cg FROM src GROUP BY 1, 2),
      |gr AS (SELECT g, SUM(CAST(cg AS HUGEINT) * (2 * cumb + t + 1)) AS r2g,
      |   SUM(cg) AS ng FROM gv JOIN cu USING (vq) GROUP BY 1),
      |ag AS (SELECT SUM(r2g * r2g // (4 * CAST(ng AS HUGEINT))) AS s_q,
      |   COUNT(*) AS n_groups FROM gr),
      |tt AS (SELECT COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0) AS tie_d,
      |   SUM(t) AS nn FROM cu)
      |SELECT CAST(COALESCE(nn, 0) AS BIGINT) AS n,
      | CAST(n_groups AS BIGINT) AS n_groups,
      | CAST(tie_d AS BIGINT) AS tie_term,
      | CASE WHEN nn > 1 AND (1.0 - CAST(tie_d AS DOUBLE)
      |   / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
      |     - CAST(nn AS DOUBLE))) > 0.0
      |  THEN CAST(FLOOR((12.0 * CAST(s_q AS DOUBLE)
      |     / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0))
      |     - 3.0 * (CAST(nn AS DOUBLE) + 1.0))
      |   / (1.0 - CAST(tie_d AS DOUBLE)
      |     / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
      |       - CAST(nn AS DOUBLE)))
      |   * 1000000000.0 + 0.5) AS BIGINT) END AS h_nano
      |FROM ag CROSS JOIN tt""".stripMargin

  /** Shared by exp_wilcoxon / exp_wilcoxon_sql. */
  private def wilcoxonSql: String =
    """WITH d0 AS (SELECT
      |   CAST(FLOOR((o_totalprice + CAST(o_orderkey % 97 - 48 AS DOUBLE))
      |     * 1000000 + 0.5) AS BIGINT)
      |   - CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT) AS d
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |dd AS (SELECT d FROM d0 WHERE d <> 0),
      |h AS (SELECT ABS(d) AS ad,
      |   SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS cpos, COUNT(*) AS t
      |  FROM dd GROUP BY 1),
      |cu AS (SELECT ad, cpos, t, COALESCE(SUM(t) OVER (ORDER BY ad
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      |  FROM h),
      |ag AS (SELECT SUM(CAST(cpos AS HUGEINT) * (2 * cumb + t + 1)) AS w2p,
      |   SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_d, SUM(t) AS nn FROM cu)
      |SELECT CAST(COALESCE(nn, 0) AS BIGINT) AS n,
      | CAST(COALESCE(w2p, 0) AS BIGINT) AS w2_pos,
      | CAST(COALESCE(CAST(nn AS HUGEINT) * (nn + 1) - w2p, 0) AS BIGINT) AS w2_neg,
      | CAST(COALESCE(tie_d, 0) AS BIGINT) AS tie_term,
      | CASE WHEN nn > 0 AND (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0)
      |   * (2.0 * CAST(nn AS DOUBLE) + 1.0) / 24.0
      |   - CAST(tie_d AS DOUBLE) / 48.0) > 0.0
      |  THEN CAST(FLOOR((CAST(w2p AS DOUBLE)
      |     - CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0) / 2.0)
      |   / (2.0 * SQRT(CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0)
      |     * (2.0 * CAST(nn AS DOUBLE) + 1.0) / 24.0
      |     - CAST(tie_d AS DOUBLE) / 48.0))
      |   * 1000000000.0 + 0.5) AS BIGINT) END AS z_nano
      |FROM ag""".stripMargin

  private def cramersVSql: String =
    """WITH cells AS (SELECT
      |   COALESCE(CAST(o_orderpriority AS VARCHAR), '<NULL>') AS a,
      |   COALESCE(CAST(o_orderstatus AS VARCHAR), '<NULL>') AS b,
      |   COUNT(*) AS n_ab
      |  FROM orders GROUP BY 1, 2),
      |ra AS (SELECT a, SUM(n_ab) AS r_a FROM cells GROUP BY 1),
      |cb AS (SELECT b, SUM(n_ab) AS c_b FROM cells GROUP BY 1),
      |t AS (SELECT SUM(n_ab) AS n, COUNT(DISTINCT a) AS r_levels,
      |   COUNT(DISTINCT b) AS c_levels FROM cells),
      |grid AS (SELECT ra.a, cb.b, r_a, c_b, COALESCE(n_ab, 0) AS n_ab
      |  FROM ra CROSS JOIN cb
      |  LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b),
      |cc AS (SELECT n, r_levels, c_levels,
      |   CAST(n AS HUGEINT) * n_ab - CAST(r_a AS HUGEINT) * c_b AS d,
      |   CAST(n AS HUGEINT) * r_a * c_b AS den FROM grid, t),
      |s AS (SELECT n, r_levels, c_levels,
      |   SUM(d * d * 1000000 // den) AS chi2_micro
      |  FROM cc GROUP BY 1, 2, 3)
      |SELECT CAST(n AS BIGINT) AS n_rows,
      | CAST(r_levels AS BIGINT) AS r_levels,
      | CAST(c_levels AS BIGINT) AS c_levels,
      | CAST(chi2_micro AS BIGINT) AS chi2_micro,
      | CASE WHEN LEAST(r_levels, c_levels) > 1 THEN
      |   CAST(ROUND(SQRT(CAST(chi2_micro //
      |     (CAST(n AS HUGEINT) * (LEAST(r_levels, c_levels) - 1)) AS DOUBLE)
      |     / 1000000) * 1000000) AS BIGINT) END AS v_micro
      |FROM s""".stripMargin

  /** Shared by ts_ohlc (batch) and stream_ohlc (drained streaming
    * replay): open/close picked by the (ts, event_id) total order. */
  private def ohlcSql: String =
    """WITH e AS (SELECT event_type AS key,
      |   CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT) AS window_start,
      |   ts, event_id, "value" AS v
      |  FROM events WHERE "value" IS NOT NULL),
      |r AS (SELECT *,
      |   ROW_NUMBER() OVER (PARTITION BY key, window_start
      |     ORDER BY ts, event_id) AS rn_a,
      |   ROW_NUMBER() OVER (PARTITION BY key, window_start
      |     ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM e)
      |SELECT key, window_start,
      | MAX(CASE WHEN rn_a = 1 THEN v END) AS open,
      | MAX(v) AS high, MIN(v) AS low,
      | MAX(CASE WHEN rn_d = 1 THEN v END) AS close,
      | COUNT(*) AS n_obs,
      | CAST(SUM(CAST(ROUND(v * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro
      |FROM r GROUP BY 1, 2""".stripMargin

  /** Shared by ts_twap: interval-hold weighting with the exact
    * floor-divmod half-up division (sign-safe: the remainder is
    * normalized nonnegative before the quotient). */
  /** Shared by text_quality_filters / stream_quality_gate: the
    * C4/Gopher rule battery replayed with identical length/replace
    * arithmetic and regex classes. */
  /** Shared CTE prefix of the sentence-span dedup oracles: rebuilds
    * the synthetic sentence-bearing text (sentenceSpanFixture's doc_id
    * arithmetic, incl. the doc_id%7==3 single-sentence short docs) and
    * replays split + normalize + positioned md5 windows. `d` carries
    * EVERY non-NULL-text doc (short docs included — the n_spans=0
    * contract); `sp` carries (doc_id, pos, h) per 3-window. */
  /** Shared by text_c4_line_clean / text_c4_line_sql: replays the
    * c4LineFixture synthesis, the per-line keep rules, and the page
    * verdict. */
  private def c4LineCleanSql: String =
    """WITH syn AS (SELECT doc_id, concat_ws(chr(10),
      |  'The first good sentence has plenty of words b' || CAST(doc_id % 50 AS VARCHAR) || '.',
      |  'too short.',
      |  'this line has no terminal punctuation at all u' || CAST(doc_id % 250 AS VARCHAR),
      |  CASE WHEN doc_id % 4 = 0 THEN 'Please enable JavaScript to view the content.' END,
      |  'Another  complete sentence closes the paragraph u' || CAST(doc_id % 250 AS VARCHAR) || '!',
      |  CASE WHEN doc_id % 2 = 0 THEN 'A third proper sentence makes the page survive b'
      |    || CAST(doc_id % 50 AS VARCHAR) || '.' END,
      |  CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet filler text.' END,
      |  CASE WHEN doc_id % 13 = 0 THEN 'code sample { return x } end.' END) AS text
      | FROM documents),
      |k AS (SELECT doc_id, text, [x FOR x IN
      |   [TRIM(regexp_replace(l, '[ \t\n\r\f\x0B]+', ' ', 'g'))
      |    FOR l IN string_split(text, chr(10))]
      |   IF LEN(x) > 0 AND RIGHT(x, 1) IN ('.', '!', '?', '"')
      |      AND LEN(string_split(x, ' ')) >= 5
      |      AND instr(lower(x), 'javascript') = 0] AS kept
      | FROM syn),
      |c AS (SELECT doc_id, text, array_to_string(kept, chr(10)) AS cleaned_text,
      |   CAST(LEN(kept) AS INT) AS n_lines_kept FROM k)
      |SELECT doc_id, cleaned_text, n_lines_kept,
      | CAST(LEN(regexp_extract_all(cleaned_text, '[^.!?]+[.!?]+')) AS INT) AS n_sentences,
      | (LEN(regexp_extract_all(cleaned_text, '[^.!?]+[.!?]+')) >= 3
      |   AND instr(text, '{') = 0 AND instr(lower(text), 'lorem ipsum') = 0) AS keep_page
      |FROM c""".stripMargin

  /** Shared by text_chunk_sentences / text_chunk_sent_sql: replays the
    * sentence fixture + split + identical slice arithmetic (the `syn`
    * synthesis is single-sourced with sentenceSpanCtes — both replay
    * sentenceSpanFixture, so they can never desynchronize). */
  private def chunkSentencesSql: String =
    sentenceFixtureCte + """,
      |s0 AS (SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]+') AS raw
      |       FROM syn WHERE text IS NOT NULL),
      |s1 AS (SELECT doc_id, [x FOR x IN
      |  [TRIM(regexp_replace(y, '[ \t\n\r\f\x0B]+', ' ', 'g')) FOR y IN raw]
      |  IF LEN(x) > 0] AS ss FROM s0),
      |n AS (SELECT doc_id, ss,
      |   CASE WHEN LEN(ss) <= 3 THEN 1
      |        ELSE CAST(CEIL(CAST(LEN(ss) - 3 AS DOUBLE) / 2) AS BIGINT) + 1 END AS nc
      |  FROM s1 WHERE LEN(ss) > 0),
      |e AS (SELECT doc_id, ss, unnest(generate_series(0, nc - 1)) AS i FROM n)
      |SELECT doc_id, CAST(i AS INT) AS chunk_id,
      | array_to_string(ss[i*2+1 : i*2+3], ' ') AS chunk_text,
      | CAST(LEN(ss[i*2+1 : i*2+3]) AS INT) AS n_sentences,
      | CAST(LEN(regexp_split_to_array(TRIM(array_to_string(ss[i*2+1 : i*2+3], ' ')),
      |   '[ \t\n\r\f\x0B]+')) AS INT) AS n_tokens
      |FROM e""".stripMargin

  /** The sentenceSpanFixture synthesis as a SQL CTE — the single source
    * every sentence-family oracle (span dedup, chunking) builds on. */
  private def sentenceFixtureCte: String =
    """WITH syn AS (SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 3
      |   THEN 'solo ' || CAST(doc_id % 250 AS VARCHAR) || '.'
      |   ELSE 'alpha ' || CAST(doc_id % 50 AS VARCHAR) ||
      |    '. beta ' || CAST(doc_id % 50 AS VARCHAR) ||
      |    '! gamma ' || CAST(doc_id % 50 AS VARCHAR) ||
      |    '. delta ' || CAST(doc_id % 250 AS VARCHAR) || '?' ||
      |    CASE WHEN doc_id % 2 = 0
      |      THEN ' omega ' || CAST(doc_id % 50 AS VARCHAR) || '.'
      |      ELSE '' END
      |  END AS text
      | FROM documents)""".stripMargin

  private def sentenceSpanCtes: String =
    sentenceFixtureCte + """,
        |s0 AS (SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]+') AS raw
        |       FROM syn WHERE text IS NOT NULL),
        |s1 AS (SELECT doc_id, [x FOR x IN
        |  [TRIM(regexp_replace(y, '[ \t\n\r\f\x0B]+', ' ', 'g')) FOR y IN raw]
        |  IF LEN(x) > 0] AS ss FROM s0),
        |d AS (SELECT doc_id, ss, LEN(ss) AS n_sentences FROM s1),
        |sp AS (SELECT doc_id, i AS pos, MD5(ARRAY_TO_STRING(ss[i:i+2], ' ')) AS h
        |       FROM (SELECT doc_id, ss, UNNEST(RANGE(1, LEN(ss) - 1)) AS i
        |             FROM d WHERE LEN(ss) >= 3))""".stripMargin

  /** Shared by dedup_sentence_spans / dedup_sentence_incremental /
    * dedup_sentence_sql: the corpus-wide dup test over the span CTEs;
    * short docs surface with n_spans = 0. */
  private def sentenceSpansSql: String =
    sentenceSpanCtes + """,
        |dup AS (SELECT h FROM sp GROUP BY h HAVING COUNT(*) >= 2),
        |nd AS (SELECT doc_id, COUNT(*) AS n_dup_spans
        |       FROM sp JOIN dup USING (h) GROUP BY 1)
        |SELECT d.doc_id, CAST(d.n_sentences AS BIGINT) AS n_sentences,
        | CAST(GREATEST(d.n_sentences - 2, 0) AS BIGINT) AS n_spans,
        | CAST(COALESCE(nd.n_dup_spans, 0) AS BIGINT) AS n_dup_spans
        |FROM d LEFT JOIN nd ON d.doc_id = nd.doc_id""".stripMargin

  /** stream_span_gate oracle: each document's span verdict AS OF its
    * arrival tile — n_dup_spans counts spans whose hash occurs >= 2 in
    * tiles <= the doc's own NTILE(3) replay tile (docReplay's tiling),
    * via a cumulative per-(h, tile) window sum. */
  private def spanGateSql: String =
    sentenceSpanCtes + """,
        |tl AS (SELECT doc_id, NTILE(3) OVER (ORDER BY doc_id) AS tile
        |       FROM documents),
        |spt AS (SELECT sp.doc_id, sp.h, tl.tile
        |        FROM sp JOIN tl ON sp.doc_id = tl.doc_id),
        |oc AS (SELECT h, tile, COUNT(*) AS c FROM spt GROUP BY 1, 2),
        |cum AS (SELECT h, tile,
        |         SUM(c) OVER (PARTITION BY h ORDER BY tile) AS cc FROM oc),
        |nd AS (SELECT a.doc_id, COUNT(*) AS n_dup_spans
        |       FROM spt a JOIN cum ON cum.h = a.h AND cum.tile = a.tile
        |       WHERE cum.cc >= 2 GROUP BY 1)
        |SELECT d.doc_id, CAST(d.n_sentences AS BIGINT) AS n_sentences,
        | CAST(GREATEST(d.n_sentences - 2, 0) AS BIGINT) AS n_spans,
        | CAST(COALESCE(nd.n_dup_spans, 0) AS BIGINT) AS n_dup_spans
        |FROM d LEFT JOIN nd ON d.doc_id = nd.doc_id""".stripMargin

  /** dedup_substr_remove oracle: the dedup_substring window machinery
    * (gram TEXT stands in for the 64-bit shingle hash — same groups)
    * plus window-rank keep-first, position expansion, anti-join, and
    * ordered string_agg reassembly. */
  private def substrRemoveSql: String =
    """WITH t AS (SELECT doc_id,
        |  [x FOR x IN REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+')
        |   IF LEN(x) > 0] AS w
        | FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id, i, ARRAY_TO_STRING(w[i:i+11], ' ') AS sg
        |      FROM (SELECT doc_id, w, UNNEST(RANGE(1, LEN(w) - 10)) AS i
        |            FROM t WHERE LEN(w) >= 12)),
        |rk AS (SELECT doc_id, i,
        |        ROW_NUMBER() OVER (PARTITION BY sg ORDER BY doc_id, i) AS rn,
        |        COUNT(*) OVER (PARTITION BY sg) AS occ
        |       FROM g),
        |dp AS (SELECT DISTINCT doc_id, i + off AS p
        |       FROM (SELECT doc_id, i FROM rk WHERE occ >= 2 AND rn > 1),
        |            (SELECT UNNEST(RANGE(0, 12)) AS off)),
        |tok AS (SELECT doc_id, j AS p, w[j] AS tk
        |        FROM (SELECT doc_id, w, UNNEST(RANGE(1, LEN(w) + 1)) AS j FROM t)),
        |kept AS (SELECT doc_id, STRING_AGG(tk, ' ' ORDER BY p) AS cleaned_text
        |         FROM (SELECT * FROM tok ANTI JOIN dp USING (doc_id, p))
        |         GROUP BY 1),
        |nrem AS (SELECT doc_id, COUNT(*) AS n_removed FROM dp GROUP BY 1)
        |SELECT t.doc_id, COALESCE(kept.cleaned_text, '') AS cleaned_text,
        | CAST(LEN(t.w) AS BIGINT) AS n_tokens,
        | CAST(COALESCE(nrem.n_removed, 0) AS BIGINT) AS n_removed
        |FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id
        |LEFT JOIN nrem ON t.doc_id = nrem.doc_id""".stripMargin

  /** dedup_span_remove oracle: rank each duplicated span's occurrences
    * by (doc_id, pos) — rn 1 is the kept FIRST occurrence — expand the
    * non-first occurrences to covered sentence positions, anti-join
    * the per-doc sentence explode against them, and reassemble with an
    * ordered string_agg. */
  private def spanRemoveSql: String =
    sentenceSpanCtes + """,
        |rk AS (SELECT doc_id, pos,
        |        ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
        |        COUNT(*) OVER (PARTITION BY h) AS occ
        |       FROM sp),
        |dp AS (SELECT DISTINCT doc_id, pos + off AS p
        |       FROM (SELECT doc_id, pos FROM rk WHERE occ >= 2 AND rn > 1),
        |            (SELECT UNNEST(RANGE(0, 3)) AS off)),
        |sent AS (SELECT doc_id, i AS p, ss[i] AS s
        |         FROM (SELECT doc_id, ss, UNNEST(RANGE(1, LEN(ss) + 1)) AS i FROM d)),
        |kept AS (SELECT doc_id, STRING_AGG(s, ' ' ORDER BY p) AS cleaned_text
        |         FROM (SELECT * FROM sent ANTI JOIN dp USING (doc_id, p))
        |         GROUP BY 1),
        |nrem AS (SELECT doc_id, COUNT(*) AS n_removed FROM dp GROUP BY 1)
        |SELECT d.doc_id, COALESCE(kept.cleaned_text, '') AS cleaned_text,
        | CAST(d.n_sentences AS BIGINT) AS n_sentences,
        | CAST(COALESCE(nrem.n_removed, 0) AS BIGINT) AS n_removed
        |FROM d LEFT JOIN kept ON d.doc_id = kept.doc_id
        |LEFT JOIN nrem ON d.doc_id = nrem.doc_id""".stripMargin

  /** Shared prefix of the Naive-Bayes classifier oracles: every
    * document with its qualityFilters keep label and its NTILE(3)
    * replay tile. */
  private def nbLabeledDocsSql: String =
    "WITH qf AS MATERIALIZED (" + qualityFiltersSql + """),
      |dt AS (SELECT d.doc_id, d.text, qf.keep AS label,
      |   NTILE(3) OVER (ORDER BY d.doc_id) AS tile
      |  FROM documents d JOIN qf ON d.doc_id = qf.doc_id),
      |""".stripMargin

  /** One train-on-TRAINCOND / score-CANDCOND Naive-Bayes block over the
    * `dt` CTE — replays QualityClassifier's integer-nano arithmetic
    * (add-one smoothing, per-token quantized log-odds, prior from doc
    * counts). Emitted CTEs are suffixed with `idx`; the scored rows
    * land in `out<idx>`. */
  private def nbScoreBlockSql(idx: String, trainCond: String,
      candCond: String): String =
    """cntIDX AS (SELECT token,
      |   SUM(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos,
      |   SUM(CASE WHEN label THEN 0 ELSE 1 END) AS n_neg
      |  FROM (SELECT label, UNNEST([x FOR x IN
      |     REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+') IF LEN(x) > 0]) AS token
      |    FROM dt WHERE (TRAINCOND) AND text IS NOT NULL) GROUP BY 1),
      |totIDX AS (SELECT SUM(n_pos) AS np, SUM(n_neg) AS nn, COUNT(*) AS v FROM cntIDX),
      |dcIDX AS (SELECT SUM(CASE WHEN label THEN 1 ELSE 0 END) AS dp,
      |   SUM(CASE WHEN label THEN 0 ELSE 1 END) AS dn FROM dt WHERE (TRAINCOND)),
      |priorIDX AS (SELECT CAST(ROUND(LN(CAST(dp + 1 AS DOUBLE)
      |   / CAST(dn + 1 AS DOUBLE)) * 1000000000) AS BIGINT) AS prior_nano FROM dcIDX),
      |ctIDX AS (SELECT doc_id, token, COUNT(*) AS c FROM (
      |  SELECT doc_id, UNNEST([x FOR x IN
      |    REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+') IF LEN(x) > 0]) AS token
      |  FROM dt WHERE (CANDCOND) AND text IS NOT NULL) GROUP BY 1, 2),
      |scIDX AS (SELECT ctIDX.doc_id, SUM(ctIDX.c) AS n_tokens,
      |  SUM(ctIDX.c * (
      |   CAST(ROUND(LN(CAST(COALESCE(cntIDX.n_pos, 0) + 1 AS DOUBLE)
      |     / CAST(totIDX.np + totIDX.v AS DOUBLE)) * 1000000000) AS BIGINT)
      |   - CAST(ROUND(LN(CAST(COALESCE(cntIDX.n_neg, 0) + 1 AS DOUBLE)
      |     / CAST(totIDX.nn + totIDX.v AS DOUBLE)) * 1000000000) AS BIGINT))) AS lik
      | FROM ctIDX LEFT JOIN cntIDX ON ctIDX.token = cntIDX.token, totIDX
      | GROUP BY 1),
      |outIDX AS (SELECT c.doc_id, CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
      | CAST(p.prior_nano + COALESCE(s.lik, 0) AS BIGINT) AS llr_nano,
      | (p.prior_nano + COALESCE(s.lik, 0)) > 0 AS pred_pos
      |FROM (SELECT doc_id FROM dt WHERE (CANDCOND)) c
      | LEFT JOIN scIDX s ON c.doc_id = s.doc_id, priorIDX p)""".stripMargin
      .replace("IDX", idx).replace("TRAINCOND", trainCond)
      .replace("CANDCOND", candCond)

  private def qualityFiltersSql: String =
    """WITH b AS (SELECT doc_id, text,
        |   TRIM(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')) AS norm,
        |   LOWER(text) AS lo FROM documents),
        |f AS (SELECT doc_id, text, norm, lo,
        |   CASE WHEN LENGTH(norm) = 0 THEN 0
        |     ELSE LENGTH(norm) - LENGTH(REPLACE(norm, ' ', '')) + 1 END AS n_words,
        |   LENGTH(REPLACE(norm, ' ', '')) AS nonspace,
        |   LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
        |   CASE WHEN LENGTH(text) = 0 THEN 0
        |     ELSE LENGTH(text) - LENGTH(REPLACE(text, chr(10), '')) + 1 END AS n_lines
        |  FROM b)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        | CAST(n_lines AS BIGINT) AS n_lines,
        | CASE WHEN n_words > 0 THEN
        |   CAST((nonspace * 2000000 + n_words) // (n_words * 2) AS BIGINT)
        | END AS mean_word_len_micro,
        | CASE WHEN LENGTH(text) > 0 THEN
        |   CAST((n_alpha * 2000000 + LENGTH(text)) // (LENGTH(text) * 2) AS BIGINT)
        | END AS alpha_ratio_micro,
        | strpos(text, '{') > 0 AS has_brace,
        | strpos(lo, 'lorem ipsum') > 0 AS has_lorem,
        | strpos(lo, 'javascript') > 0 AS has_js,
        | RIGHT(norm, 1) IN ('.', '!', '?', '"') AS terminal_punct,
        | (n_words >= 50 AND n_words <= 100000
        |   AND COALESCE(mean_word_len_micro BETWEEN 3000000 AND 10000000, FALSE)
        |   AND COALESCE(alpha_ratio_micro >= 700000, FALSE)
        |   AND strpos(text, '{') = 0 AND strpos(lo, 'lorem ipsum') = 0
        |   AND strpos(lo, 'javascript') = 0) AS keep
        |FROM f""".stripMargin

  /** Shared by the dedup_url family: rebuilds the synthetic crawl
    * variants from doc_id arithmetic and replays the identical
    * canonicalization regex chain. */
  private def urlDedupSql: String =
    """WITH u AS (SELECT doc_id, doc_id % 100 AS b, (doc_id // 100) % 5 AS v
        |  FROM documents),
        |raw AS (SELECT doc_id, CASE v
        |   WHEN 0 THEN 'HTTPS://WWW.Site' || CAST(b % 10 AS VARCHAR)
        |     || '.COM/p/' || CAST(b AS VARCHAR)
        |   WHEN 1 THEN 'https://site' || CAST(b % 10 AS VARCHAR) || '.com/p/'
        |     || CAST(b AS VARCHAR) || '?ref=' || CAST(b % 3 AS VARCHAR)
        |     || '&utm_source=feed'
        |   WHEN 2 THEN 'https://site' || CAST(b % 10 AS VARCHAR) || '.com/p/'
        |     || CAST(b AS VARCHAR) || '/'
        |   WHEN 3 THEN 'https://site' || CAST(b % 10 AS VARCHAR) || '.com/p/'
        |     || CAST(b AS VARCHAR) || '#frag'
        |   ELSE 'https://site' || CAST(b % 10 AS VARCHAR) || '.com/p/'
        |     || CAST(b AS VARCHAR) || '?utm_a=1&utm_b=2' END AS url
        |  FROM u),
        |c AS (SELECT doc_id, url,
        |   regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS scheme,
        |   regexp_replace(lower(regexp_extract(url,
        |     '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^www\.', '') AS host,
        |   regexp_extract(url,
        |     '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1) AS rest
        |  FROM raw),
        |p AS (SELECT doc_id, url, scheme, host,
        |   regexp_extract(rest, '^([^?]*)', 1) AS pth,
        |   regexp_replace(regexp_replace(
        |     '&' || regexp_extract(rest, '^[^?]*[?](.*)$', 1),
        |     '&utm_[^&]*', '', 'g'), '^&', '') AS qry FROM c),
        |f AS (SELECT doc_id, CASE WHEN scheme = '' OR host = '' THEN url ELSE
        |   lower(scheme) || '://' || host ||
        |   (CASE WHEN regexp_replace(pth, '/+$', '') = '' THEN '/'
        |     ELSE regexp_replace(pth, '/+$', '') END) ||
        |   (CASE WHEN qry = '' THEN '' ELSE '?' || qry END) END AS canonical_url
        |  FROM p)
        |SELECT canonical_url, COUNT(*) AS n_variants,
        | MIN(doc_id) AS representative
        |FROM f GROUP BY 1""".stripMargin

  /** Shared by ts_ccf / ts_ccf_incremental: pairs-Pearson cross-
    * correlation at lags -7..7 over the zero-filled daily click and
    * purchase counts per user segment; HUGEINT power sums mirror the
    * Spark plan's DECIMAL(38,0). */
  private def ccfSql: String =
    """WITH d AS (SELECT user_id % 4 AS seg, CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS t,
        |  SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 1000000 AS x,
        |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 1000000 AS y
        | FROM events GROUP BY 1, 2),
        |l AS (SELECT seg, t + lag AS t, lag, x
        | FROM d, (SELECT UNNEST(generate_series(-7, 7)) AS lag)),
        |p AS (SELECT l.seg, l.lag, COUNT(*) AS m,
        |  SUM(CAST(l.x AS HUGEINT) * d.y) AS sxy,
        |  SUM(CAST(l.x AS HUGEINT)) AS sx, SUM(CAST(d.y AS HUGEINT)) AS sy,
        |  SUM(CAST(l.x AS HUGEINT) * l.x) AS sxx,
        |  SUM(CAST(d.y AS HUGEINT) * d.y) AS syy
        | FROM l JOIN d ON d.seg = l.seg AND d.t = l.t GROUP BY 1, 2)
        |SELECT seg, lag, m,
        | CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0 THEN
        |   CAST(ROUND(CAST(m * sxy - sx * sy AS DOUBLE) /
        |     SQRT(CAST(m * sxx - sx * sx AS DOUBLE)
        |       * CAST(m * syy - sy * sy AS DOUBLE)) * 1e6) AS BIGINT)
        | END AS ccf_micro
        |FROM p""".stripMargin

  /** Shared by dq_iqr_outliers / dq_iqr_sql: exact quartile cuts +
    * cross-multiplied Tukey fences. */
  private def iqrOutliersSql: String =
    """WITH v AS (SELECT event_id, event_type, "value",
        |   CAST(ROUND("value" * 1000000) AS BIGINT) AS vm
        |  FROM events WHERE "value" IS NOT NULL),
        |h AS (SELECT event_type AS g, vm, COUNT(*) AS c FROM v GROUP BY 1, 2),
        |cw AS (SELECT g, vm,
        |   SUM(c) OVER (PARTITION BY g ORDER BY vm
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |   SUM(c) OVER (PARTITION BY g) AS tot FROM h),
        |q AS (SELECT g, MIN(CASE WHEN cum * 4 >= tot THEN vm END) AS q1,
        |   MIN(CASE WHEN cum * 4 >= 3 * tot THEN vm END) AS q3
        |  FROM cw GROUP BY g)
        |SELECT v.event_id, v.event_type, v."value",
        | CASE WHEN 2 * v.vm < 2 * q1 - 3 * (q3 - q1) THEN 'low'
        |   ELSE 'high' END AS side
        |FROM v JOIN q ON v.event_type = q.g
        |WHERE 2 * v.vm < 2 * q1 - 3 * (q3 - q1)
        |   OR 2 * v.vm > 2 * q3 + 3 * (q3 - q1)""".stripMargin

  /** Shared by events_inter_arrival / events_interarrival_sql. */
  private def interArrivalSql: String =
    """WITH e AS (SELECT event_type AS k, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS sec,
        |   event_id AS id FROM events),
        |g AS (SELECT k, sec - LAG(sec) OVER (PARTITION BY k ORDER BY sec, id) AS gap
        |  FROM e),
        |h AS (SELECT k, gap, COUNT(*) AS c FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
        |cw AS (SELECT k, gap, c,
        |   SUM(c) OVER (PARTITION BY k ORDER BY gap
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |   SUM(c) OVER (PARTITION BY k) AS tot FROM h),
        |s AS (SELECT k, MAX(tot) AS n_gaps,
        |   MIN(CASE WHEN cum * 2 >= tot THEN gap END) AS p50_gap,
        |   MIN(CASE WHEN cum * 10 >= 9 * tot THEN gap END) AS p90_gap,
        |   SUM(CAST(gap AS HUGEINT) * c) AS sumg FROM cw GROUP BY k)
        |SELECT k AS event_type, CAST(n_gaps AS BIGINT) AS n_gaps,
        | p50_gap, p90_gap,
        | CAST((sumg * 2000000 + n_gaps) // (n_gaps * 2) AS BIGINT) AS mean_gap_micro
        |FROM s""".stripMargin

  /** Shared by ts_holt / stream_holt_gate: the signed Holt recurrence
    * replayed via a recursive CTE with the identical
    * normalized-remainder floor splits. */
  private def holtSql: String =
    """WITH d0 AS (SELECT event_type AS k, CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS t,
        |  COUNT(*) AS x FROM events GROUP BY 1, 2),
        |d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY t) AS rn,
        |  COUNT(*) OVER (PARTITION BY k) AS nk,
        |  LEAD(x) OVER (PARTITION BY k ORDER BY t) AS x2 FROM d0),
        |r AS (
        |  WITH RECURSIVE rec AS (
        |    SELECT k, t, x, rn, nk, x * 1000000 AS l,
        |      CASE WHEN nk > 1 THEN (x2 - x) * 1000000 ELSE 0 END AS b
        |    FROM d WHERE rn = 1
        |    UNION ALL
        |    SELECT k, t, x, rn, nk, l,
        |      100000 * ((l - prevl
        |          - (((l - prevl) % 1000000 + 1000000) % 1000000)) // 1000000)
        |      + 900000 * ((prevb
        |          - ((prevb % 1000000 + 1000000) % 1000000)) // 1000000)
        |      + (100000 * (((l - prevl) % 1000000 + 1000000) % 1000000)
        |         + 900000 * ((prevb % 1000000 + 1000000) % 1000000)) // 1000000 AS b
        |    FROM (
        |      SELECT d.k, d.t, d.x, d.rn, d.nk,
        |        rec.l AS prevl, rec.b AS prevb,
        |        300000 * d.x
        |        + 700000 * ((rec.l + rec.b
        |            - (((rec.l + rec.b) % 1000000 + 1000000) % 1000000)) // 1000000)
        |        + (700000 * (((rec.l + rec.b) % 1000000 + 1000000) % 1000000))
        |            // 1000000 AS l
        |      FROM rec JOIN d ON d.k = rec.k AND d.rn = rec.rn + 1) z)
        |  SELECT * FROM rec)
        |SELECT k AS event_type, t AS day, x,
        | CAST(l AS BIGINT) AS level_micro, CAST(b AS BIGINT) AS trend_micro
        |FROM r""".stripMargin

  /** Shared by ts_cusum / ts_cusum_sql / stream_cusum_gate: Page's
    * CUSUM via the cumsum-minus-running-extremum identity, allowance
    * mu/100 and threshold 0.3*mu cross-multiplied so no division runs; the
    * HUGEINT sums mirror the Spark plan's DECIMAL(38,0). */
  private def cusumSql: String =
    """WITH d AS (SELECT event_type, CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS t,
      |  COUNT(*) * 1000000 AS x_micro FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, t, x_micro,
      |  COUNT(*) OVER (PARTITION BY event_type) AS n,
      |  SUM(CAST(x_micro AS HUGEINT)) OVER (PARTITION BY event_type) AS tot
      | FROM d),
      |c AS (SELECT event_type, t, x_micro, tot,
      |  SUM(100 * n * CAST(x_micro AS HUGEINT) - 101 * tot) OVER
      |    (PARTITION BY event_type ORDER BY t ROWS UNBOUNDED PRECEDING) AS cu,
      |  SUM(100 * n * CAST(x_micro AS HUGEINT) - 99 * tot) OVER
      |    (PARTITION BY event_type ORDER BY t ROWS UNBOUNDED PRECEDING) AS cd
      | FROM w),
      |sb AS (SELECT event_type, t, x_micro, tot,
      |  cu - LEAST(0, MIN(cu) OVER
      |    (PARTITION BY event_type ORDER BY t ROWS UNBOUNDED PRECEDING)) AS sp,
      |  GREATEST(0, MAX(cd) OVER
      |    (PARTITION BY event_type ORDER BY t ROWS UNBOUNDED PRECEDING)) - cd AS sn
      | FROM c)
      |SELECT event_type, t, CAST(x_micro AS BIGINT) AS x_micro,
      | CASE WHEN tot <> 0 THEN
      |   CAST((sp * 2000000 + 100 * ABS(tot)) // (200 * ABS(tot)) AS BIGINT) END AS s_pos_micro,
      | CASE WHEN tot <> 0 THEN
      |   CAST((sn * 2000000 + 100 * ABS(tot)) // (200 * ABS(tot)) AS BIGINT) END AS s_neg_micro,
      | (tot <> 0 AND sp * 10 > 300 * ABS(tot)) AS flag_up,
      | (tot <> 0 AND sn * 10 > 300 * ABS(tot)) AS flag_down
      |FROM sb""".stripMargin

  private def twapSql: String =
    """WITH e AS (SELECT event_type AS key, epoch_us(ts) AS t_us,
      |   CAST(ROUND("value" * 1000000) AS BIGINT) AS v_micro, event_id AS id
      |  FROM events WHERE "value" IS NOT NULL),
      |h AS (SELECT key, v_micro,
      |   COALESCE(LEAD(t_us) OVER (PARTITION BY key ORDER BY t_us, id), t_us)
      |     - t_us AS hold_us
      |  FROM e),
      |a AS (SELECT key, COUNT(*) AS n_obs, SUM(hold_us) AS dur_us,
      |   SUM(CAST(v_micro AS HUGEINT) * hold_us) AS num FROM h GROUP BY 1)
      |SELECT key, CAST(n_obs AS BIGINT) AS n_obs,
      | CAST(dur_us AS BIGINT) AS dur_us,
      | CASE WHEN dur_us > 0 THEN CAST(
      |   (num - ((num % dur_us) + dur_us) % dur_us) // dur_us
      |   + CASE WHEN 2 * (((num % dur_us) + dur_us) % dur_us) >= dur_us
      |       THEN 1 ELSE 0 END AS BIGINT) END AS twap_micro
      |FROM a""".stripMargin

  /** Shared by q_weighted_quantile: cumulative micro-int weights over
    * the DISTINCT value set; HUGEINT threshold product (cum·10^6
    * exceeds int64 at scale). */
  private def weightedQuantileSql: String =
    """WITH pv AS (SELECT l_returnflag AS g, l_extendedprice AS v,
      |   SUM(CAST(ROUND(l_quantity * 1000000) AS BIGINT)) AS w
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
      |  GROUP BY 1, 2),
      |c AS (SELECT g, v, w,
      |   SUM(w) OVER (PARTITION BY g ORDER BY v
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |   SUM(w) OVER (PARTITION BY g) AS w_total_micro
      |  FROM pv)
      |SELECT g AS l_returnflag, MIN(v) AS wq_value,
      | CAST(MAX(w_total_micro) AS BIGINT) AS w_total_micro
      |FROM c
      |WHERE CAST(cum AS HUGEINT) * 1000000 >=
      |      CAST(w_total_micro AS HUGEINT) * 500000
      |GROUP BY 1""".stripMargin

  /** Shared by q_auto_skew_join and its SQL face q_skew_sql: the
    * hot-key split is plan-shape-only, so both must equal the plain
    * equi join. */
  private def autoSkewJoinSql: String =
    """WITH big AS (
      | SELECT CASE WHEN l_orderkey % 10 < 3 THEN 0
      |   ELSE l_orderkey % 997 END AS k,
      |  l_orderkey, l_linenumber, l_extendedprice
      | FROM lineitem),
      |dim AS (SELECT range AS k, (range * 7) % 101 AS dim_code
      |        FROM range(0, 997))
      |SELECT big.k, l_orderkey, l_linenumber, l_extendedprice, dim_code
      |FROM big JOIN dim USING (k)""".stripMargin

  private def dauMauSql: String =
    """WITH act AS (SELECT DISTINCT user_id,
      |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS day FROM events),
      |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM act GROUP BY 1),
      |m AS (SELECT DISTINCT user_id, day + off AS wday FROM act,
      |      (SELECT UNNEST(generate_series(0, 29)) AS off) o),
      |mau AS (SELECT wday AS day, COUNT(DISTINCT user_id) AS mau FROM m GROUP BY 1)
      |SELECT d.day, d.dau, mau.mau,
      | (d.dau * 1000000) // mau.mau AS stickiness_micro
      |FROM dau d JOIN mau ON mau.day = d.day""".stripMargin

  private def temporalJoinSql: String =
    """WITH f AS (SELECT o_orderkey, o_custkey,
      |  date_diff('day', TIMESTAMP '1992-01-01 00:00:00', o_orderdate) AS fact_day
      | FROM orders),
      |d AS (
      | SELECT c_custkey, c_mktsegment AS seg, CAST(0 AS BIGINT) AS vfrom,
      |  CASE WHEN c_custkey % 3 = 0 THEN CAST(1277 AS BIGINT) END AS vto
      | FROM customer WHERE c_custkey % 97 <> 0
      | UNION ALL
      | SELECT c_custkey, 'MOVED', CAST(1277 AS BIGINT), CAST(NULL AS BIGINT)
      | FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 97 <> 0)
      |SELECT f.o_orderkey, d.seg, d.vfrom AS ver_from
      |FROM f LEFT JOIN d ON f.o_custkey = d.c_custkey
      | AND f.fact_day >= d.vfrom AND (d.vto IS NULL OR f.fact_day < d.vto)""".stripMargin

  /** graph_kcore oracle: the peel is a deterministic fixpoint, so it
    * UNROLLS — each round deletes every edge with an endpoint of degree
    * < 2, and once the fixpoint is reached further rounds are the
    * identity. 8 unrolled rounds cover the fixture's measured depth
    * (3 at sf0.01, 5 at sf0.1) with margin; the graph_kcore call site
    * pins kCore's maxRounds to the SAME bound, so a deeper future
    * fixture makes the Spark side fail loud (convergence guard at
    * depth ≥ 8, one round below the oracle's validity limit) — it can
    * never silently diverge from the unroll. */
  private def kcoreSql: String = {
    val rounds = 8
    // every CTE is MATERIALIZED: each round references its predecessor
    // three times, so default CTE inlining would expand the base scan
    // 3^rounds times (measured as an fd-exhaustion failure, not just
    // slowness) — materialization keeps the oracle one scan per round
    val base =
      """WITH li AS MATERIALIZED (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v
        | FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        | GROUP BY 1, 2 HAVING COUNT(DISTINCT a.ok) >= 2)""".stripMargin
    val steps = (0 until rounds).map { i =>
      s""",
         |k$i AS MATERIALIZED (SELECT node FROM (
         |  SELECT u AS node FROM e$i UNION ALL SELECT v AS node FROM e$i)
         | GROUP BY 1 HAVING COUNT(*) >= 2),
         |e${i + 1} AS MATERIALIZED (SELECT u, v FROM e$i
         | WHERE u IN (SELECT node FROM k$i)
         |   AND v IN (SELECT node FROM k$i))""".stripMargin
    }.mkString
    base + steps +
      s"""
         |SELECT node, COUNT(*) AS core_degree FROM (
         | SELECT u AS node FROM e$rounds UNION ALL SELECT v AS node FROM e$rounds)
         |GROUP BY 1""".stripMargin
  }

  /** graph_lpa oracle: the deterministic synchronous rounds UNROLL as
    * chained CTEs (the kcoreSql discipline) — same thresholded
    * co-occurrence base graph, 3 rounds of most-frequent-neighbor-label
    * with ties to the smallest label. MATERIALIZED per round for the
    * same CTE-inlining reason as kcoreSql. */
  private def lpaSql: String = {
    val rounds = 3
    val base =
      """WITH li AS MATERIALIZED (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.pk AS u, b.pk AS v
        | FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        | GROUP BY 1, 2 HAVING COUNT(DISTINCT a.ok) >= 2),
        |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
        | UNION SELECT v, u FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym)""".stripMargin
    val steps = (0 until rounds).map { i =>
      s""",
         |c$i AS MATERIALIZED (SELECT s.src AS node, l.label, COUNT(*) AS c
         | FROM sym s JOIN l$i l ON l.node = s.dst GROUP BY 1, 2),
         |l${i + 1} AS MATERIALIZED (SELECT node, label FROM (
         |  SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
         |    ORDER BY c DESC, label ASC) AS rn FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString
    base + steps + s"\nSELECT node, label FROM l$rounds"
  }

  /** text_ranking_eval oracle: re-embeds the SAME driver-computed
    * nano-int log2 discount table and its prefix sums as VALUES
    * spines, so DCG/IDCG are exact integer sums in both engines. */
  private def rankingEvalSql: String = {
    val k = 10
    val gains = (1 to k).map(r =>
      math.floor(1.0e9 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)
    val idcg = gains.scanLeft(0L)(_ + _).tail
    val gainVals = (1 to k).map(r => s"($r, ${gains(r - 1)})").mkString(", ")
    val idcgVals = (1 to k).map(r => s"($r, ${idcg(r - 1)})").mkString(", ")
    s"""WITH ranked AS (SELECT s_nationkey AS query_id, s_suppkey AS doc_id,
       |   ROW_NUMBER() OVER (PARTITION BY s_nationkey
       |     ORDER BY s_acctbal DESC, s_suppkey ASC) AS rnk
       |  FROM supplier QUALIFY rnk <= $k),
       |g(rnk, gain_nano) AS (VALUES $gainVals),
       |ic(cap, idcg_nano) AS (VALUES $idcgVals),
       |rel AS (SELECT DISTINCT s_nationkey AS query_id, s_suppkey AS doc_id
       |  FROM supplier WHERE s_suppkey % 3 = 0),
       |nr AS (SELECT query_id, COUNT(*) AS n_rel FROM rel GROUP BY 1),
       |h AS (SELECT r.query_id, COUNT(*) AS hits, MIN(r.rnk) AS first_rank,
       |   SUM(g.gain_nano) AS dcg_nano
       |  FROM ranked r JOIN rel USING (query_id, doc_id)
       |  JOIN g ON g.rnk = r.rnk GROUP BY 1)
       |SELECT nr.query_id, CAST(nr.n_rel AS BIGINT) AS n_rel,
       | CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       | CAST(CASE WHEN h.first_rank IS NOT NULL
       |   THEN 1000000000 // h.first_rank ELSE 0 END AS BIGINT) AS mrr_nano,
       | CAST(COALESCE(h.dcg_nano, 0) AS BIGINT) AS dcg_nano,
       | CAST(ic.idcg_nano AS BIGINT) AS idcg_nano,
       | CAST(COALESCE(h.dcg_nano, 0) * 1000000 // ic.idcg_nano AS BIGINT) AS ndcg_micro,
       | CAST(COALESCE(h.hits, 0) * 1000000 // $k AS BIGINT) AS precision_micro,
       | CAST(COALESCE(h.hits, 0) * 1000000 // nr.n_rel AS BIGINT) AS recall_micro
       |FROM nr LEFT JOIN h ON h.query_id = nr.query_id
       |JOIN ic ON ic.cap = LEAST(nr.n_rel, $k)""".stripMargin
  }

  /** text_rouge{1,2} oracle: the same lowercased whitespace tokens,
    * in-list n-gram keys (space-joined — tokens cannot contain the
    * separator), clipped-min overlap join and exact integer-division
    * micro metrics as TextEval.ngramOverlap. */
  private def rougeSql(n: Int): String = {
    val ws = "[ \\t\\n\\r\\f\\x0B]+"
    def side(parity: Int, name: String) =
      s"""$name AS (SELECT doc_id // 2 AS id,
         |  list_filter(regexp_split_to_array(trim(lower(text)), '$ws'),
         |    t -> len(t) > 0) AS toks
         | FROM documents WHERE doc_id % 2 = $parity AND text IS NOT NULL)""".stripMargin
    def grams(src: String, name: String) =
      s"""$name AS (SELECT id, g, COUNT(*) AS c FROM (
         |  SELECT id, unnest(list_transform(generate_series(1, len(toks) - ${n - 1}),
         |    i -> array_to_string(toks[i:i + ${n - 1}], ' '))) AS g
         |  FROM $src WHERE len(toks) >= $n) GROUP BY 1, 2)""".stripMargin
    s"""WITH ${side(1, "cd")}, ${side(0, "rd")},
       |${grams("cd", "cg")}, ${grams("rd", "rg")},
       |ct AS (SELECT id, SUM(c) AS cand_ngrams FROM cg GROUP BY 1),
       |rt AS (SELECT id, SUM(c) AS ref_ngrams FROM rg GROUP BY 1),
       |m AS (SELECT cg.id, SUM(LEAST(cg.c, rg.c)) AS m
       |      FROM cg JOIN rg ON cg.id = rg.id AND cg.g = rg.g GROUP BY 1)
       |SELECT COALESCE(ct.id, rt.id) AS pair_id,
       | CAST(COALESCE(m.m, 0) AS BIGINT) AS match_clipped,
       | CAST(COALESCE(ct.cand_ngrams, 0) AS BIGINT) AS cand_ngrams,
       | CAST(COALESCE(rt.ref_ngrams, 0) AS BIGINT) AS ref_ngrams,
       | CAST(CASE WHEN COALESCE(ct.cand_ngrams, 0) > 0
       |   THEN COALESCE(m.m, 0) * 1000000 // ct.cand_ngrams END AS BIGINT) AS precision_micro,
       | CAST(CASE WHEN COALESCE(rt.ref_ngrams, 0) > 0
       |   THEN COALESCE(m.m, 0) * 1000000 // rt.ref_ngrams END AS BIGINT) AS recall_micro,
       | CAST(CASE WHEN COALESCE(ct.cand_ngrams, 0) + COALESCE(rt.ref_ngrams, 0) > 0
       |   THEN COALESCE(m.m, 0) * 2000000 //
       |     (COALESCE(ct.cand_ngrams, 0) + COALESCE(rt.ref_ngrams, 0)) END AS BIGINT) AS f1_micro
       |FROM ct FULL JOIN rt ON ct.id = rt.id
       |LEFT JOIN m ON m.id = COALESCE(ct.id, rt.id)""".stripMargin
  }

  /** The two-phase PageRank warm-start oracle with a parameterized
    * base/delta modulus split: 3 rounds on the base graph
    * (l_orderkey % mod <> 0) from uniform init, then 2 rounds on the
    * full union seeded from phase 1's final ranks (absent nodes enter
    * at r0) with degrees rebuilt from the union — the
    * graph_pagerank_incremental recurrence verbatim. */
  private def pagerankTwoPhaseSql(mod: Int): String =
    s"""WITH RECURSIVE
       | sp1 AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
       |   FROM lineitem WHERE l_orderkey % $mod <> 0),
       | e1 AS (SELECT DISTINCT src, dst FROM
       |   (SELECT src, dst FROM sp1 UNION ALL SELECT dst, src FROM sp1)),
       | n1 AS (SELECT DISTINCT node FROM
       |   (SELECT src AS node FROM e1 UNION ALL SELECT dst FROM e1)),
       | d1 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e1 GROUP BY 1),
       | ep1 AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM e1
       |   UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM n1),
       | pr1(iter, node, rank) AS (
       |   SELECT 0, node, CAST(1000000000 AS BIGINT) FROM n1
       |   UNION ALL
       |   SELECT p.iter + 1, e2.dst,
       |     CAST(150000000 + (85 * SUM((p.rank // COALESCE(d.d, 1)) * e2.w)) // 100 AS BIGINT)
       |   FROM pr1 p LEFT JOIN d1 d ON d.node = p.node JOIN ep1 e2 ON e2.src = p.node
       |   WHERE p.iter < 3
       |   GROUP BY p.iter, e2.dst),
       | st AS (SELECT node, rank FROM pr1 WHERE iter = 3),
       | spa AS (SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
       | ea AS (SELECT DISTINCT src, dst FROM
       |   (SELECT src, dst FROM spa UNION ALL SELECT dst, src FROM spa)),
       | na AS (SELECT DISTINCT node FROM
       |   (SELECT src AS node FROM ea UNION ALL SELECT dst FROM ea)),
       | da AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM ea GROUP BY 1),
       | epa AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM ea
       |   UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM na),
       | pr2(iter, node, rank) AS (
       |   SELECT 0, na.node, CAST(COALESCE(st.rank, 1000000000) AS BIGINT)
       |   FROM na LEFT JOIN st ON st.node = na.node
       |   UNION ALL
       |   SELECT p.iter + 1, e2.dst,
       |     CAST(150000000 + (85 * SUM((p.rank // COALESCE(d.d, 1)) * e2.w)) // 100 AS BIGINT)
       |   FROM pr2 p LEFT JOIN da d ON d.node = p.node JOIN epa e2 ON e2.src = p.node
       |   WHERE p.iter < 2
       |   GROUP BY p.iter, e2.dst)
       |SELECT CAST(node % 2 AS INT) AS is_part, node // 2 AS id, rank
       |FROM pr2 WHERE iter = 2""".stripMargin

  /** text_rouge_l_exact oracle: LCS over first-12-token prefixes,
    * unrolled as chained match-point CTE steps (the kcore/LPA
    * discipline). A common subsequence of length r ending at match
    * point (i, j) exists iff step r produces (i, j); each step keeps
    * only the Pareto-minimal j per candidate position i (a min-j
    * predecessor dominates every extension its larger-j siblings
    * allow), so step frames stay <= 12 rows per pair and LCS = the
    * last nonempty step. 12 steps is exact: LCS <= min side length
    * <= the 12-token cap. Metrics replay rougeL's integer divisions. */
  private def rougeLExactSql: String = {
    val steps = 12
    val ws = "[ \\t\\n\\r\\f\\x0B]+"
    def side(parity: Int, name: String) =
      s"""$name AS (SELECT doc_id // 2 AS id,
         |  list_filter(regexp_split_to_array(trim(lower(text)), '$ws'),
         |    t -> len(t) > 0)[1:$steps] AS toks
         | FROM documents WHERE doc_id % 2 = $parity AND text IS NOT NULL)""".stripMargin
    val base =
      s"""WITH ${side(1, "cd")}, ${side(0, "rd")},
         |spine AS (SELECT cd.id, len(cd.toks) AS c_n, len(rd.toks) AS r_n
         |          FROM cd JOIN rd ON cd.id = rd.id),
         |cw AS (SELECT id, unnest(generate_series(1, len(toks))) AS i,
         |        unnest(toks) AS tok FROM cd),
         |rw AS (SELECT id, unnest(generate_series(1, len(toks))) AS j,
         |        unnest(toks) AS tok FROM rd),
         |mp AS MATERIALIZED (SELECT cw.id, cw.i, rw.j
         |  FROM cw JOIN rw ON cw.id = rw.id AND cw.tok = rw.tok),
         |s1 AS MATERIALIZED (SELECT id, i, MIN(j) AS j FROM mp GROUP BY 1, 2)""".stripMargin
    val unroll = (2 to steps).map { r =>
      s""",
         |s$r AS MATERIALIZED (SELECT m.id, m.i, MIN(m.j) AS j
         |  FROM mp m JOIN s${r - 1} p ON p.id = m.id AND m.i > p.i AND m.j > p.j
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString
    val union = (1 to steps)
      .map(r => s"SELECT id, $r AS r FROM s$r")
      .mkString(" UNION ALL ")
    base + unroll +
      s"""
         |, lcs AS (SELECT id, MAX(r) AS lcs FROM ($union) GROUP BY 1)
         |SELECT spine.id AS pair_id,
         | CAST(COALESCE(l.lcs, 0) AS BIGINT) AS lcs,
         | CAST(c_n AS BIGINT) AS cand_tokens,
         | CAST(r_n AS BIGINT) AS ref_tokens,
         | CAST(CASE WHEN c_n > 0
         |   THEN COALESCE(l.lcs, 0) * 1000000 // c_n END AS BIGINT) AS precision_micro,
         | CAST(CASE WHEN r_n > 0
         |   THEN COALESCE(l.lcs, 0) * 1000000 // r_n END AS BIGINT) AS recall_micro,
         | CAST(CASE WHEN c_n + r_n > 0
         |   THEN COALESCE(l.lcs, 0) * 2000000 // (c_n + r_n) END AS BIGINT) AS f1_micro
         |FROM spine LEFT JOIN lcs l ON l.id = spine.id""".stripMargin
  }

  /** er_soundex oracle: a character-stepping recursive CTE replaying
    * the Russell/Odell soundex EXACTLY as Spark's builtin computes it —
    * state per word = (position, emitted code, previous consonant
    * class); h/w carry the previous class through (transparent to the
    * collapse), vowels reset it to 0, a consonant appends its digit
    * only when its class differs from the carried one and the code is
    * not yet 4 chars. The first letter participates in collapsing
    * ("pfister" → P236) via the initial prev = class(first letter). */
  private def soundexSql: String = {
    def cls(c: String) =
      s"""CASE WHEN $c IN ('b','f','p','v') THEN 1
         | WHEN $c IN ('c','g','j','k','q','s','x','z') THEN 2
         | WHEN $c IN ('d','t') THEN 3 WHEN $c = 'l' THEN 4
         | WHEN $c IN ('m','n') THEN 5 WHEN $c = 'r' THEN 6
         | ELSE 0 END""".stripMargin
    s"""WITH RECURSIVE w AS (
       |  SELECT DISTINCT word FROM (
       |    SELECT unnest(string_split(p_name, ' ')) AS word FROM part
       |    UNION ALL
       |    SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)),
       |      '[ \\t\\n\\r\\f\\x0B]+'), t -> len(t) > 0)) AS word
       |    FROM documents WHERE text IS NOT NULL)
       |  WHERE regexp_matches(word, '^[a-z]+$$')),
       |step AS (
       |  SELECT word, 2 AS pos, upper(word[1]) AS out,
       |    ${cls("word[1]")} AS prev
       |  FROM w
       |  UNION ALL
       |  SELECT word, pos + 1,
       |    CASE WHEN word[pos] NOT IN ('h','w')
       |          AND (${cls("word[pos]")}) NOT IN (0, prev)
       |          AND len(out) < 4
       |      THEN out || CAST((${cls("word[pos]")}) AS VARCHAR) ELSE out END,
       |    CASE WHEN word[pos] IN ('h','w') THEN prev
       |         ELSE (${cls("word[pos]")}) END
       |  FROM step WHERE pos <= len(word) AND len(out) < 4),
       |fin AS (SELECT word, rpad(out, 4, '0') AS sx
       |  FROM (SELECT word, out,
       |          ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos DESC) AS rn
       |        FROM step) WHERE rn = 1)
       |SELECT f.word, f.sx,
       |  CAST(count(*) OVER (PARTITION BY f.sx) AS BIGINT) AS block_n
       |FROM fin f""".stripMargin
  }

  /** text_bleu_by_source oracle: [[bleuSql]]'s counts and quantized
    * arithmetic with every CTE keyed by the candidate side's source
    * (pairs attribute to the candidate's group; reference lengths join
    * through the pair id). */
  private def bleuByGroupSql: String = {
    val ws = "[ \\t\\n\\r\\f\\x0B]+"
    def side(parity: Int, name: String, extra: String) =
      s"""$name AS (SELECT doc_id // 2 AS id,$extra
         |  list_filter(regexp_split_to_array(trim(lower(text)), '$ws'),
         |    t -> len(t) > 0) AS toks
         | FROM documents WHERE doc_id % 2 = $parity AND text IS NOT NULL)""".stripMargin
    def grams(src: String, name: String) = {
      val orders = (1 to 4).map { n =>
        s"""  SELECT id, $n AS n, g, COUNT(*) AS c FROM (
           |   SELECT id, unnest(list_transform(generate_series(1, len(toks) - ${n - 1}),
           |     i -> array_to_string(toks[i:i + ${n - 1}], ' '))) AS g
           |   FROM $src WHERE len(toks) >= $n) GROUP BY 1, 2, 3""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"$name AS (\n$orders)"
    }
    val totCols = (1 to 4).map(n =>
      s"COALESCE(MAX(CASE WHEN ct.n = $n THEN ct.t END), 0) AS total_$n").mkString(",\n  ")
    val matchCols = (1 to 4).map(n =>
      s"COALESCE(MAX(CASE WHEN ct.n = $n THEN m.m END), 0) AS match_$n").mkString(",\n  ")
    val allPos = (1 to 4).map(n => s"match_$n > 0").mkString(" AND ")
    val lnSum = (1 to 4).map(n =>
      s"CAST(round(ln(CAST(total_$n AS DOUBLE) / match_$n) * 1000000000) AS BIGINT)")
      .mkString("\n    + ")
    val passThru = (1 to 4)
      .map(n => s"CAST(match_$n AS BIGINT) AS match_$n, CAST(total_$n AS BIGINT) AS total_$n")
      .mkString(",\n ")
    s"""WITH ${side(1, "cd", " source AS grp,")}, ${side(0, "rd", "")},
       |gmap AS (SELECT DISTINCT id, grp FROM cd),
       |${grams("cd", "cg")}, ${grams("rd", "rg")},
       |ct AS (SELECT gm.grp, cg.n, SUM(cg.c) AS t
       |       FROM cg JOIN gmap gm ON gm.id = cg.id GROUP BY 1, 2),
       |m AS (SELECT gm.grp, cg.n, SUM(LEAST(cg.c, rg.c)) AS m
       |      FROM cg JOIN rg ON cg.id = rg.id AND cg.n = rg.n AND cg.g = rg.g
       |      JOIN gmap gm ON gm.id = cg.id
       |      GROUP BY 1, 2),
       |rl AS (SELECT gm.grp, COALESCE(SUM(rg.c), 0) AS ref_len
       |       FROM rg JOIN gmap gm ON gm.id = rg.id WHERE rg.n = 1 GROUP BY 1),
       |agg AS (SELECT ct.grp,
       |  $totCols,
       |  $matchCols
       | FROM ct LEFT JOIN m ON m.grp = ct.grp AND m.n = ct.n
       | GROUP BY ct.grp),
       |pen AS (SELECT agg.*, COALESCE(rl.ref_len, 0) AS ref_len,
       |  CASE WHEN total_1 > 0 THEN
       |    CASE WHEN COALESCE(rl.ref_len, 0) > total_1
       |      THEN (COALESCE(rl.ref_len, 0) - total_1) * 1000000000 // total_1
       |      ELSE 0 END
       |  END AS bp_penalty_nano,
       |  CASE WHEN $allPos THEN
       |   ($lnSum) // 4
       |  END AS prec_penalty_nano
       | FROM agg LEFT JOIN rl ON rl.grp = agg.grp)
       |SELECT grp AS source,
       | CAST(total_1 AS BIGINT) AS cand_len, CAST(ref_len AS BIGINT) AS ref_len,
       | $passThru,
       | CAST(bp_penalty_nano AS BIGINT) AS bp_penalty_nano,
       | CAST(prec_penalty_nano AS BIGINT) AS prec_penalty_nano,
       | CAST(CASE WHEN total_1 > 0 AND $allPos
       |   THEN -(bp_penalty_nano + prec_penalty_nano) END AS BIGINT) AS log_bleu_nano,
       | CAST(CASE WHEN total_1 > 0 THEN
       |   CASE WHEN $allPos THEN CAST(round(exp(
       |       CAST(-(bp_penalty_nano + prec_penalty_nano) AS DOUBLE) / 1000000000)
       |     * 1000000) AS BIGINT) ELSE 0 END
       | END AS BIGINT) AS bleu_micro
       |FROM pen""".stripMargin
  }

  /** text_meteor oracle: the greedy first-fit METEOR alignment
    * replayed as a candidate-position-stepping recursive CTE — state
    * per pair = (next candidate index, used reference positions, last
    * matched pair, matches, chunks); each step matches candidate token
    * ci+1 to the SMALLEST unused reference position holding it
    * (list_min over a correlated lambda filter), extends the chunk
    * only on a both-sides-contiguous pair, and the final state row
    * (ci = |cand|) feeds the one-division exact score
    * 5·(2m³−ch³)·10⁶ div (m²(c+9r)), 0 when m = 0 — verbatim
    * [[graft.ext.TextEval.meteor]]'s arithmetic. */
  private def meteorSql: String = {
    val ws = "[ \\t\\n\\r\\f\\x0B]+"
    def side(parity: Int, name: String) =
      s"""$name AS (SELECT doc_id // 2 AS id,
         |  list_filter(regexp_split_to_array(trim(lower(text)), '$ws'),
         |    t -> len(t) > 0) AS toks
         | FROM documents WHERE doc_id % 2 = $parity AND text IS NOT NULL)""".stripMargin
    s"""WITH RECURSIVE ${side(1, "cd")}, ${side(0, "rd")},
       |pair AS (SELECT cd.id AS id, cd.toks AS c, rd.toks AS r
       |  FROM cd JOIN rd ON cd.id = rd.id),
       |step AS (
       |  SELECT id, 0 AS ci, CAST([] AS BIGINT[]) AS used,
       |    CAST(-2 AS BIGINT) AS lasti, CAST(-2 AS BIGINT) AS lastj,
       |    0 AS m, 0 AS ch
       |  FROM pair
       |  UNION ALL
       |  SELECT id, ci1,
       |    CASE WHEN j IS NULL THEN used ELSE list_append(used, j) END,
       |    CASE WHEN j IS NULL THEN lasti ELSE CAST(ci1 AS BIGINT) END,
       |    CASE WHEN j IS NULL THEN lastj ELSE j END,
       |    m + CASE WHEN j IS NULL THEN 0 ELSE 1 END,
       |    ch + CASE WHEN j IS NULL THEN 0
       |          WHEN ci1 = lasti + 1 AND j = lastj + 1 THEN 0
       |          ELSE 1 END
       |  FROM (
       |    SELECT s.id, s.ci + 1 AS ci1, s.used, s.lasti, s.lastj, s.m, s.ch,
       |      list_min(list_filter(generate_series(1, len(p.r)),
       |        q -> p.r[q] = p.c[s.ci + 1]
       |          AND NOT list_contains(s.used, q))) AS j
       |    FROM step s JOIN pair p ON p.id = s.id
       |    WHERE s.ci < len(p.c)) t),
       |fin AS (SELECT s.id, CAST(s.m AS BIGINT) AS m,
       |    CAST(s.ch AS BIGINT) AS ch
       |  FROM step s JOIN pair p ON p.id = s.id AND s.ci = len(p.c))
       |SELECT p.id AS pair_id,
       | f.m AS matches, f.ch AS chunks,
       | CAST(len(p.c) AS BIGINT) AS cand_tokens,
       | CAST(len(p.r) AS BIGINT) AS ref_tokens,
       | CAST(CASE WHEN f.m = 0 THEN 0
       |   ELSE 5 * (2 * f.m * f.m * f.m - f.ch * f.ch * f.ch) * 1000000
       |     // (f.m * f.m * (len(p.c) + 9 * len(p.r))) END AS BIGINT)
       |   AS meteor_micro
       |FROM pair p JOIN fin f ON f.id = p.id""".stripMargin
  }

  /** text_wer_exact oracle: WER over first-12-token prefixes replayed
    * through a per-pair token→char bijection — each pair's ≤ 24
    * distinct tokens dense-rank to 'a'..'x', each side's token list
    * becomes a string of single-char codes, and DuckDB's built-in
    * string `levenshtein` then IS the token-level distance (single
    * chars make the grains coincide). Empty sides coalesce to ''. */
  private def werExactSql: String = {
    val ws = "[ \\t\\n\\r\\f\\x0B]+"
    def side(parity: Int, name: String) =
      s"""$name AS (SELECT doc_id // 2 AS id,
         |  list_filter(regexp_split_to_array(trim(lower(text)), '$ws'),
         |    t -> len(t) > 0)[1:12] AS toks
         | FROM documents WHERE doc_id % 2 = $parity AND text IS NOT NULL)""".stripMargin
    def encoded(src: String, name: String) =
      s"""$name AS (SELECT w.id, string_agg(chr(96 + t.rk), '' ORDER BY w.i) AS s
         |  FROM (SELECT id, unnest(generate_series(1, len(toks))) AS i,
         |          unnest(toks) AS tok FROM $src) w
         |  JOIN tok t ON t.id = w.id AND t.tok = w.tok
         |  GROUP BY w.id)""".stripMargin
    s"""WITH ${side(1, "cd")}, ${side(0, "rd")},
       |pairtok AS (SELECT cd.id AS id, cd.toks AS c, rd.toks AS r
       |  FROM cd JOIN rd ON cd.id = rd.id),
       |tok AS (SELECT id, tok, CAST(ROW_NUMBER() OVER (PARTITION BY id ORDER BY tok)
       |    AS INT) AS rk
       |  FROM (SELECT DISTINCT id, unnest(c || r) AS tok FROM pairtok)),
       |${encoded("cd", "cm")}, ${encoded("rd", "rm")}
       |SELECT p.id AS pair_id,
       | CAST(levenshtein(COALESCE(cm.s, ''), COALESCE(rm.s, '')) AS BIGINT) AS edits,
       | CAST(len(p.c) AS BIGINT) AS cand_tokens,
       | CAST(len(p.r) AS BIGINT) AS ref_tokens,
       | CAST(CASE WHEN len(p.r) > 0
       |   THEN levenshtein(COALESCE(cm.s, ''), COALESCE(rm.s, '')) * 1000000 // len(p.r)
       | END AS BIGINT) AS wer_micro
       |FROM pairtok p
       |LEFT JOIN cm ON cm.id = p.id
       |LEFT JOIN rm ON rm.id = p.id""".stripMargin
  }

  /** text_bleu oracle: the same lowercased whitespace tokens and
    * space-joined gram keys as rougeSql at every order 1..4, corpus
    * sums, then a verbatim replay of TextEval.corpusBleu's quantized
    * arithmetic — exact-integer BP penalty ((r−c)·10⁹ // c, operands
    * nonnegative so // == Spark's truncating div), one nano-rounded
    * ln per order summed as BIGINTs, // 4, one terminal exp. */
  private def bleuSql: String = {
    val ws = "[ \\t\\n\\r\\f\\x0B]+"
    def side(parity: Int, name: String) =
      s"""$name AS (SELECT doc_id // 2 AS id,
         |  list_filter(regexp_split_to_array(trim(lower(text)), '$ws'),
         |    t -> len(t) > 0) AS toks
         | FROM documents WHERE doc_id % 2 = $parity AND text IS NOT NULL)""".stripMargin
    def grams(src: String, name: String) = {
      val orders = (1 to 4).map { n =>
        s"""  SELECT id, $n AS n, g, COUNT(*) AS c FROM (
           |   SELECT id, unnest(list_transform(generate_series(1, len(toks) - ${n - 1}),
           |     i -> array_to_string(toks[i:i + ${n - 1}], ' '))) AS g
           |   FROM $src WHERE len(toks) >= $n) GROUP BY 1, 2, 3""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"$name AS (\n$orders)"
    }
    val totCols = (1 to 4).map(n =>
      s"COALESCE(MAX(CASE WHEN ct.n = $n THEN ct.t END), 0) AS total_$n").mkString(",\n  ")
    val matchCols = (1 to 4).map(n =>
      s"COALESCE(MAX(CASE WHEN ct.n = $n THEN m.m END), 0) AS match_$n").mkString(",\n  ")
    val allPos = (1 to 4).map(n => s"match_$n > 0").mkString(" AND ")
    val lnSum = (1 to 4).map(n =>
      s"CAST(round(ln(CAST(total_$n AS DOUBLE) / match_$n) * 1000000000) AS BIGINT)")
      .mkString("\n    + ")
    val passThru = (1 to 4)
      .map(n => s"CAST(match_$n AS BIGINT) AS match_$n, CAST(total_$n AS BIGINT) AS total_$n")
      .mkString(",\n ")
    s"""WITH ${side(1, "cd")}, ${side(0, "rd")},
       |${grams("cd", "cg")}, ${grams("rd", "rg")},
       |ct AS (SELECT n, SUM(c) AS t FROM cg GROUP BY 1),
       |m AS (SELECT cg.n, SUM(LEAST(cg.c, rg.c)) AS m
       |      FROM cg JOIN rg ON cg.id = rg.id AND cg.n = rg.n AND cg.g = rg.g
       |      GROUP BY 1),
       |rl AS (SELECT COALESCE(SUM(c), 0) AS ref_len FROM rg WHERE n = 1),
       |agg AS (SELECT
       |  $totCols,
       |  $matchCols
       | FROM ct LEFT JOIN m ON m.n = ct.n),
       |pen AS (SELECT agg.*, rl.ref_len,
       |  CASE WHEN total_1 > 0 THEN
       |    CASE WHEN ref_len > total_1
       |      THEN (ref_len - total_1) * 1000000000 // total_1 ELSE 0 END
       |  END AS bp_penalty_nano,
       |  CASE WHEN $allPos THEN
       |   ($lnSum) // 4
       |  END AS prec_penalty_nano
       | FROM agg CROSS JOIN rl)
       |SELECT CAST(total_1 AS BIGINT) AS cand_len, CAST(ref_len AS BIGINT) AS ref_len,
       | $passThru,
       | CAST(bp_penalty_nano AS BIGINT) AS bp_penalty_nano,
       | CAST(prec_penalty_nano AS BIGINT) AS prec_penalty_nano,
       | CAST(CASE WHEN total_1 > 0 AND $allPos
       |   THEN -(bp_penalty_nano + prec_penalty_nano) END AS BIGINT) AS log_bleu_nano,
       | CAST(CASE WHEN total_1 > 0 THEN
       |   CASE WHEN $allPos THEN CAST(round(exp(
       |       CAST(-(bp_penalty_nano + prec_penalty_nano) AS DOUBLE) / 1000000000)
       |     * 1000000) AS BIGINT) ELSE 0 END
       | END AS BIGINT) AS bleu_micro
       |FROM pen""".stripMargin
  }

  /** text_sentence_bleu oracle: per-pair replay of
    * TextEval.sentenceBleu — the same 4-order gram counts GROUPED BY
    * pair, the scoreable-pair filter (t_4 > 0 AND ref_len > 0), p1
    * unsmoothed, (m+1)/(t+1) smoothing above, and the identical
    * nano-ln / integer-BP / terminal-exp quantization. */
  private def sentenceBleuSql: String = {
    val ws = "[ \\t\\n\\r\\f\\x0B]+"
    def side(parity: Int, name: String) =
      s"""$name AS (SELECT doc_id // 2 AS id,
         |  list_filter(regexp_split_to_array(trim(lower(text)), '$ws'),
         |    t -> len(t) > 0) AS toks
         | FROM documents WHERE doc_id % 2 = $parity AND text IS NOT NULL)""".stripMargin
    def grams(src: String, name: String) = {
      val orders = (1 to 4).map { n =>
        s"""  SELECT id, $n AS n, g, COUNT(*) AS c FROM (
           |   SELECT id, unnest(list_transform(generate_series(1, len(toks) - ${n - 1}),
           |     i -> array_to_string(toks[i:i + ${n - 1}], ' '))) AS g
           |   FROM $src WHERE len(toks) >= $n) GROUP BY 1, 2, 3""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"$name AS (\n$orders)"
    }
    val totCols = (1 to 4).map(n =>
      s"COALESCE(MAX(CASE WHEN ct.n = $n THEN ct.t END), 0) AS total_$n").mkString(",\n  ")
    val matchCols = (1 to 4).map(n =>
      s"COALESCE(MAX(CASE WHEN ct.n = $n THEN m.m END), 0) AS match_$n").mkString(",\n  ")
    val lnSum = (1 to 4).map {
      case 1 =>
        "CAST(round(ln(CAST(total_1 AS DOUBLE) / match_1) * 1000000000) AS BIGINT)"
      case n =>
        s"CAST(round(ln(CAST(total_$n + 1 AS DOUBLE) / (match_$n + 1)) * 1000000000) AS BIGINT)"
    }.mkString("\n    + ")
    val passThru = (1 to 4)
      .map(n => s"CAST(match_$n AS BIGINT) AS match_$n, CAST(total_$n AS BIGINT) AS total_$n")
      .mkString(",\n ")
    s"""WITH ${side(1, "cd")}, ${side(0, "rd")},
       |${grams("cd", "cg")}, ${grams("rd", "rg")},
       |ct AS (SELECT id, n, SUM(c) AS t FROM cg GROUP BY 1, 2),
       |m AS (SELECT cg.id, cg.n, SUM(LEAST(cg.c, rg.c)) AS m
       |      FROM cg JOIN rg ON cg.id = rg.id AND cg.n = rg.n AND cg.g = rg.g
       |      GROUP BY 1, 2),
       |rl AS (SELECT id, SUM(c) AS ref_len FROM rg WHERE n = 1 GROUP BY 1),
       |agg AS (SELECT ct.id,
       |  $totCols,
       |  $matchCols
       | FROM ct LEFT JOIN m ON m.id = ct.id AND m.n = ct.n GROUP BY ct.id),
       |pen AS (SELECT agg.*, rl.ref_len, total_1 AS cand_len,
       |  CASE WHEN rl.ref_len > total_1
       |    THEN (rl.ref_len - total_1) * 1000000000 // total_1 ELSE 0 END AS bp_penalty_nano,
       |  CASE WHEN match_1 > 0 THEN ($lnSum) // 4 END AS prec_penalty_nano
       | FROM agg JOIN rl ON rl.id = agg.id
       | WHERE total_4 > 0 AND rl.ref_len > 0)
       |SELECT id AS pair_id,
       | CAST(cand_len AS BIGINT) AS cand_len, CAST(ref_len AS BIGINT) AS ref_len,
       | $passThru,
       | CAST(bp_penalty_nano AS BIGINT) AS bp_penalty_nano,
       | CAST(prec_penalty_nano AS BIGINT) AS prec_penalty_nano,
       | CAST(CASE WHEN match_1 > 0
       |   THEN -(bp_penalty_nano + prec_penalty_nano) END AS BIGINT) AS log_bleu_nano,
       | CAST(CASE WHEN match_1 > 0 THEN CAST(round(exp(
       |     CAST(-(bp_penalty_nano + prec_penalty_nano) AS DOUBLE) / 1000000000)
       |   * 1000000) AS BIGINT) ELSE 0 END AS BIGINT) AS bleu_micro
       |FROM pen""".stripMargin
  }

  /** text_chrf oracle: the same whitespace-stripped lowercased char
    * stream ('g' flag — DuckDB regexp_replace is first-match-only by
    * default where Spark's replaces all), substring grams, clipped-min
    * overlap and the one-division F-beta as TextEval.charNgramOverlap.
    * Whitespace is the explicit engine-portable class (Java \s includes
    * \x0B, RE2 \s does not — so neither engine's shorthand is used). */
  private def chrfSql(n: Int, betaSq: Int): String = {
    def side(parity: Int, name: String) =
      s"""$name AS (SELECT doc_id // 2 AS id,
         |  regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', '', 'g') AS cs
         | FROM documents WHERE doc_id % 2 = $parity AND text IS NOT NULL)""".stripMargin
    def grams(src: String, name: String) =
      s"""$name AS (SELECT id, g, COUNT(*) AS c FROM (
         |  SELECT id, unnest(list_transform(generate_series(1, len(cs) - ${n - 1}),
         |    i -> substring(cs, i, $n))) AS g
         |  FROM $src WHERE len(cs) >= $n) GROUP BY 1, 2)""".stripMargin
    s"""WITH ${side(1, "cd")}, ${side(0, "rd")},
       |${grams("cd", "cg")}, ${grams("rd", "rg")},
       |ct AS (SELECT id, SUM(c) AS cand_ngrams FROM cg GROUP BY 1),
       |rt AS (SELECT id, SUM(c) AS ref_ngrams FROM rg GROUP BY 1),
       |m AS (SELECT cg.id, SUM(LEAST(cg.c, rg.c)) AS m
       |      FROM cg JOIN rg ON cg.id = rg.id AND cg.g = rg.g GROUP BY 1)
       |SELECT COALESCE(ct.id, rt.id) AS pair_id,
       | CAST(COALESCE(m.m, 0) AS BIGINT) AS match_clipped,
       | CAST(COALESCE(ct.cand_ngrams, 0) AS BIGINT) AS cand_ngrams,
       | CAST(COALESCE(rt.ref_ngrams, 0) AS BIGINT) AS ref_ngrams,
       | CAST(CASE WHEN COALESCE(ct.cand_ngrams, 0) > 0
       |   THEN COALESCE(m.m, 0) * 1000000 // ct.cand_ngrams END AS BIGINT) AS precision_micro,
       | CAST(CASE WHEN COALESCE(rt.ref_ngrams, 0) > 0
       |   THEN COALESCE(m.m, 0) * 1000000 // rt.ref_ngrams END AS BIGINT) AS recall_micro,
       | CAST(CASE WHEN $betaSq * COALESCE(rt.ref_ngrams, 0) + COALESCE(ct.cand_ngrams, 0) > 0
       |   THEN COALESCE(m.m, 0) * ${(1L + betaSq) * 1000000L} //
       |     ($betaSq * COALESCE(rt.ref_ngrams, 0) + COALESCE(ct.cand_ngrams, 0)) END AS BIGINT) AS fbeta_micro
       |FROM ct FULL JOIN rt ON ct.id = rt.id
       |LEFT JOIN m ON m.id = COALESCE(ct.id, rt.id)""".stripMargin
  }

  /** The fixed WordPiece vocabulary text_wordpiece_exact embeds in
    * BOTH engines: the full a–z alphabet (raw + ## continuation forms,
    * a superset of the fixture's a–y charset so the greedy scan is
    * total — no [UNK] branch in the oracle) plus 20 multi-char pieces
    * that exercise longest-match-beats-shorter at word starts and
    * continuations alike. */
  private val wordPieceFixedVocab: Seq[String] = {
    val chars = ('a' to 'z').map(_.toString)
    chars ++ chars.map("##" + _) ++ Seq(
      "the", "th", "an", "in", "on", "er", "re", "or", "at", "en",
      "##he", "##er", "##an", "##nd", "##in", "##ng", "##re", "##ed",
      "##on", "##at")
  }

  /** text_wordpiece_exact oracle: the greedy longest-match scan
    * UNROLLS as chained CTE steps (the kcore/LPA discipline) — step r
    * joins the still-unfinished words against the piece table at the
    * current offset and QUALIFY keeps the LONGEST match (unique per
    * offset: piece bodies are distinct, so at most one body per
    * length matches a fixed substring). 10 steps covers the fixture's
    * max word length of 8 with margin; a longer future word would
    * surface as a row mismatch, never silent truncation of a matched
    * word (steps 9–10 simply produce no rows today). */
  private def wordpieceExactSql: String = {
    val steps = 10
    val starts = wordPieceFixedVocab.filterNot(_.startsWith("##"))
    val conts = wordPieceFixedVocab.filter(_.startsWith("##")).map(_.stripPrefix("##"))
    val vfVals = starts.map(p => s"('$p', ${p.length})").mkString(", ")
    val vcVals = conts.map(p => s"('$p', ${p.length})").mkString(", ")
    val base =
      s"""WITH vf(body, blen) AS (VALUES $vfVals),
         |vc(body, blen) AS (VALUES $vcVals),
         |w AS MATERIALIZED (SELECT doc_id,
         |   unnest(generate_series(1, len(toks))) AS word_no, unnest(toks) AS word
         |  FROM (SELECT doc_id,
         |     regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f\\x0B]+') AS toks
         |    FROM documents WHERE text IS NOT NULL
         |      AND NOT regexp_matches(lower(text), '[^a-z \\t\\n\\r\\f\\x0B]')
         |      AND regexp_matches(lower(text), '[a-z]'))),
         |s1 AS MATERIALIZED (SELECT doc_id, word_no, word, 1 AS step,
         |   v.body AS token, 1 + v.blen AS nxt
         |  FROM w JOIN vf v ON substr(w.word, 1, v.blen) = v.body
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id, word_no
         |    ORDER BY v.blen DESC) = 1)""".stripMargin
    val unroll = (2 to steps).map { r =>
      s""",
         |s$r AS MATERIALIZED (SELECT p.doc_id, p.word_no, p.word, $r AS step,
         |   '##' || v.body AS token, p.nxt + v.blen AS nxt
         |  FROM s${r - 1} p JOIN vc v ON p.nxt <= len(p.word)
         |    AND substr(p.word, p.nxt, v.blen) = v.body
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY p.doc_id, p.word_no
         |    ORDER BY v.blen DESC) = 1)""".stripMargin
    }.mkString
    val union = (1 to steps)
      .map(r => s"SELECT doc_id, word_no, step, token FROM s$r")
      .mkString(" UNION ALL ")
    base + unroll +
      s"""
         |SELECT doc_id, string_agg(token, '|' ORDER BY word_no, step) AS wp_tokens
         |FROM ($union) GROUP BY doc_id""".stripMargin
  }

  /** sim_mmr_rerank_exact oracle: the MMR greedy UNROLLS as chained
    * CTEs (the kcore/LPA discipline) — exact top-`fetch` candidates
    * per query, pairwise candidate sims micro-quantized with the SAME
    * floor(x·1e6 + 0.5) the Spark greedy's simMicro uses (rel uses
    * round(), mirroring the Spark-side round()), then k−1 argmax
    * steps each ordered (mmr desc, rel desc, id asc) over the
    * not-yet-selected candidates. MATERIALIZED per step: every
    * selection references its predecessor twice (kcoreSql's
    * CTE-inlining rationale). */
  private def mmrRerankExactSql: String = {
    val (k, fetch, lam) = (5, 8, 700000L)
    val mu = 1000000L - lam
    val base =
      s"""WITH c AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS MATERIALIZED (SELECT id AS query_id, v AS qv FROM c WHERE id < 20),
         |cand AS MATERIALIZED (SELECT query_id, id, rel_micro FROM (
         |  SELECT query_id, id, rel_micro, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rel_micro DESC, id ASC) AS rn
         |  FROM (SELECT q.query_id, c.id,
         |     CAST(round(list_cosine_similarity(q.qv, c.v) * 1000000) AS BIGINT) AS rel_micro
         |    FROM q JOIN c ON c.id <> q.query_id)) WHERE rn <= $fetch),
         |pair AS MATERIALIZED (SELECT x.query_id, x.id AS a, y.id AS b,
         |   CAST(floor(list_cosine_similarity(cx.v, cy.v) * 1000000 + 0.5) AS BIGINT) AS sim_micro
         |  FROM cand x JOIN cand y ON x.query_id = y.query_id AND x.id <> y.id
         |  JOIN c cx ON cx.id = x.id JOIN c cy ON cy.id = y.id),
         |sel1 AS MATERIALIZED (SELECT query_id, id, 1 AS rnk FROM (
         |  SELECT query_id, id, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rel_micro DESC, id ASC) AS rn FROM cand) WHERE rn = 1)""".stripMargin
    val steps = (2 to k).map { r =>
      s""",
         |p$r AS MATERIALIZED (SELECT query_id, id, $r AS rnk FROM (
         |  SELECT cc.query_id, cc.id, ROW_NUMBER() OVER (PARTITION BY cc.query_id
         |    ORDER BY ($lam * cc.rel_micro - $mu * ms.maxsim) DESC,
         |      cc.rel_micro DESC, cc.id ASC) AS rn
         |  FROM cand cc
         |  JOIN (SELECT p.query_id, p.a AS id, MAX(p.sim_micro) AS maxsim
         |        FROM pair p JOIN sel${r - 1} s ON s.query_id = p.query_id AND s.id = p.b
         |        GROUP BY 1, 2) ms ON ms.query_id = cc.query_id AND ms.id = cc.id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
         |    WHERE s.query_id = cc.query_id AND s.id = cc.id)) WHERE rn = 1),
         |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM p$r)""".stripMargin
    }.mkString
    base + steps +
      s"\nSELECT query_id, CAST(rnk AS BIGINT) AS rank, id AS neighbor_id FROM sel$k"
  }

  /** Exact cosine top-10 for the query slice — the oracle for BOTH the
    * brute-force scan and the exhaustive-probe ANN paths. */
  private def bruteForceTopKSql: String =
    """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id, v FROM c WHERE vec_id < 20),
      |scored AS (
      | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  list_cosine_similarity(q.v, c.v) AS sim
      | FROM q JOIN c ON c.vec_id <> q.vec_id)
      |SELECT query_id, neighbor_id, rank FROM (
      | SELECT query_id, neighbor_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
      | FROM scored) WHERE rank <= 10""".stripMargin

  /** Recursive-CTE transitive closure over the exact ngram-Jaccard
    * pair set (cluster id = min reachable doc id — the oracle twin of
    * Dedup.components' min-label propagation), the shared prefix of
    * the dedup_clusters and split_leakage_safe oracles. The pair set
    * is the SAME string as the dedup_ngram_jaccard oracle (nested as
    * a subquery), so the oracles can never desynchronize. */
  private def dedupClustersCtes: String =
    s"""WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM ($ngramJaccardSql) q),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |reach(id, r) AS (
       | SELECT src, src FROM edges
       | UNION
       | SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)""".stripMargin

  private def dedupClustersSql: String =
    s"""$dedupClustersCtes
       |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id""".stripMargin

  /** Canonical-pick oracle: the same recursive closure, then the
    * deterministic (n_chars DESC, doc_id ASC) representative per
    * cluster with singletons as their own cluster. */
  private def dedupCanonicalSql: String =
    s"""$dedupClustersCtes,
       |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |assigned AS (
       | SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
       | FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id),
       |rk AS (SELECT cluster_id, doc_id,
       |  ROW_NUMBER() OVER (PARTITION BY cluster_id
       |    ORDER BY n_chars DESC, doc_id ASC) AS rn,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs FROM assigned)
       |SELECT cluster_id, doc_id AS keep_id, CAST(n_docs AS BIGINT) AS n_docs
       |FROM rk WHERE rn = 1""".stripMargin

  /** dHash oracle CTEs: replay the 9×8 pixel arithmetic and fold the
    * 64 gradient comparisons into the two non-negative 32-bit words —
    * shared by the hash row and the pairs row so they can never
    * desynchronize. */
  private def dhashCtes: String =
    """WITH p AS (SELECT doc_id, doc_id // 20 AS g, doc_id % 20 AS r FROM documents),
      |px AS (SELECT doc_id, x, y,
      |  ((g+1)*(y+3)*177 + x*13 + 7*x*x + CASE WHEN x=4 AND y=4 THEN r ELSE 0 END) % 256 AS f
      |  FROM p, generate_series(0,8) AS t1(x), generate_series(0,7) AS t2(y)),
      |bits AS (SELECT a.doc_id, a.x, a.y, CASE WHEN a.f > b.f THEN 1 ELSE 0 END AS bit
      |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |hashes AS (SELECT doc_id,
      |  CAST(SUM(CASE WHEN y*8+x >= 32
      |    THEN bit * (CAST(1 AS BIGINT) << (y*8+x-32)) ELSE 0 END) AS BIGINT) AS h_hi,
      |  CAST(SUM(CASE WHEN y*8+x < 32
      |    THEN bit * (CAST(1 AS BIGINT) << (y*8+x)) ELSE 0 END) AS BIGINT) AS h_lo
      | FROM bits GROUP BY doc_id)""".stripMargin

  private def dhashSql: String =
    s"""$dhashCtes
       |SELECT doc_id, h_hi, h_lo FROM hashes""".stripMargin

  private def dhashPairsSql: String =
    s"""$dhashCtes
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       | CAST(bit_count(xor(a.h_hi, b.h_hi)) + bit_count(xor(a.h_lo, b.h_lo)) AS INT) AS dist
       |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.h_hi, b.h_hi)) + bit_count(xor(a.h_lo, b.h_lo)) <= 3""".stripMargin

  /** Survivorship oracle: same recursive closure, then each field's
    * arg-pick replayed as a ROW_NUMBER over its rule's total order —
    * FieldMaxBy = (value-null-last, key DESC, id DESC), FieldMinBy =
    * (value-null-last, key ASC, id ASC). */
  private def erSurvivorshipSql: String =
    s"""$dedupClustersCtes,
       |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |assigned AS (
       | SELECT d.doc_id, d.text, d.source, d.n_chars,
       |  COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       | FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id),
       |rk_text AS (SELECT cluster_id, text, ROW_NUMBER() OVER (
       |  PARTITION BY cluster_id
       |  ORDER BY (text IS NOT NULL) DESC, n_chars DESC, doc_id DESC) AS rn
       | FROM assigned),
       |rk_src AS (SELECT cluster_id, source, ROW_NUMBER() OVER (
       |  PARTITION BY cluster_id
       |  ORDER BY (source IS NULL) ASC, doc_id ASC) AS rn
       | FROM assigned),
       |agg AS (SELECT cluster_id, MAX(n_chars) AS n_chars,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs FROM assigned GROUP BY 1)
       |SELECT a.cluster_id, t.text, s.source, a.n_chars, a.n_docs
       |FROM agg a
       |JOIN (SELECT cluster_id, text FROM rk_text WHERE rn = 1) t USING (cluster_id)
       |JOIN (SELECT cluster_id, source FROM rk_src WHERE rn = 1) s USING (cluster_id)""".stripMargin

  /** Leakage-safe split oracle: the same recursive closure, then every
    * doc buckets by its CLUSTER id (singletons by own id) with the
    * identical wrap-free multiplicative hash as the Spark side. */
  private def leakageSafeSplitSql: String =
    s"""$dedupClustersCtes,
       |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |assigned AS (
       | SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       | FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id)
       |SELECT doc_id, cluster_id,
       | CASE WHEN ((cluster_id % 100) * 61) % 100 < 80 THEN 'train'
       |      WHEN ((cluster_id % 100) * 61) % 100 < 90 THEN 'val'
       |      ELSE 'test' END AS split
       |FROM assigned""".stripMargin

  /** DuckDB twin of the `text_stats` projection (TextAnalysis.*): nested
    * subqueries compute tokens/padded text once, then the quality ratios,
    * marker-word language scores, and md5 fingerprint — same arithmetic,
    * same integer-division-free double math as the Spark expressions. */
  private def textStatsSql: String = {
    val stopCount = Seq("the", "a", "an", "and", "or", "of", "in", "to", "is")
      .map(w => "LEN(LIST_FILTER(toks_lower, x -> x = '" + w + "'))").mkString(" + ")
    val scoreCols = graft.ext.TextAnalysis.langMarkers.map { case (langCode, words) =>
      val s = words.map { w =>
        val m = " " + w + " "
        "((LENGTH(p) - LENGTH(REPLACE(p, '" + m + "', ''))) / " + m.length + ")"
      }.mkString(" + ")
      (langCode, s)
    }
    val scoreSelect = scoreCols.map { case (l, s) => "(" + s + ") AS s_" + l }.mkString(", ")
    val best = "GREATEST(" + scoreCols.map("s_" + _._1).mkString(", ") + ")"
    val langCase = "CASE " + scoreCols.map { case (l, _) =>
      "WHEN s_" + l + " = best AND best > 0 THEN '" + l + "' "
    }.mkString + "ELSE 'und' END"
    """SELECT doc_id,
      | CAST(LENGTH(text) AS INT) AS n_chars_calc,
      | CAST(n_tok AS INT) AS n_tokens,
      | CASE WHEN LENGTH(text) = 0 THEN 0.0 ELSE
      |  (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z0-9 \t\n]', '', 'g'))) * 1.0 / LENGTH(text) END AS punct_ratio,
      | CASE WHEN LENGTH(text) = 0 THEN 0.0 ELSE
      |  (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g'))) * 1.0 / LENGTH(text) END AS digit_ratio,
      | CASE WHEN LENGTH(text) = 0 THEN 0.0 ELSE
      |  (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[A-Z]', '', 'g'))) * 1.0 / LENGTH(text) END AS upper_ratio,
      | CASE WHEN n_tok = 0 THEN 0.0 ELSE
      |  LENGTH(REGEXP_REPLACE(TRIM(text), '[ \t\n\r\f\x0B]+', '', 'g')) * 1.0 / n_tok END AS mean_token_len,
      | CASE WHEN n_tok = 0 THEN 0.0 ELSE (STOPC) * 1.0 / n_tok END AS stopword_ratio,
      | LANGCASE AS lang_pred,
      | MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS fingerprint
      |FROM (
      | SELECT *, BESTEXPR AS best FROM (
      |  SELECT *, SCORESEL FROM (
      |   SELECT *,
      |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
      |     ELSE LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '[ \t\n\r\f\x0B]+')) END AS n_tok,
      |    REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '[ \t\n\r\f\x0B]+') AS toks_lower,
      |    ' ' || LOWER(text) || ' ' AS p
      |   FROM documents)))""".stripMargin
      .replace("STOPC", stopCount)
      .replace("LANGCASE", langCase)
      .replace("BESTEXPR", best)
      .replace("SCORESEL", scoreSelect)
  }
}
