package graft.etl

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.BroadcastDictGet

/** Result of compiling + applying a rule pipeline: the output DataFrame
  * (only rule-produced columns, reference main.py:135-138) plus
  * diagnostics for rules that were skipped (reference main.py:152-157,
  * 173-174 report-and-continue semantics). */
final case class PipelineResult(output: DataFrame, errors: Seq[RuleError])

/** Compiles an ordered rule list into ONE Catalyst plan.
  *
  * Where the reference executes eagerly — one full-table pandas pass per
  * rule (main.py:140-174) — this engine compiles the whole list into a
  * single `select` over the main table. Each distinct Lookup mapping is
  * built once, at `run`, into a broadcast dictionary (the reference's
  * `dict(zip(keys, vals))`, main.py:168), and the Lookup becomes a
  * codegen'd dictionary probe inside that same `select` — no join.
  * Catalyst then fuses projections, prunes unused source columns down to
  * the parquet scan, and keeps the entire pipeline shuffle-free: Direct
  * Map / Conditional / Lookup are all narrow, so no stage boundary is
  * ever introduced and every action on the output (preview, sink) is one
  * pass over the data regardless of the number of rules.
  */
object RuleCompiler {

  private final val LookupColPrefix = "__graft_lk_"
  private final val OrdCol = "__graft_ord"
  private final val KeyCol = "__graft_key"

  /** Compile and apply `rules` to `main`, resolving Lookup rules against
    * `mappings`. Failed rules are reported and skipped; the rest run.
    *
    * @param pandasNanCoercion exact-parity mode for the reference's
    *   `.astype(str)` lookup coercion (main.py:168-169): pandas renders a
    *   float NaN as the literal string "nan", so a NULL probe value can
    *   genuinely match a mapping key whose stringified form is "nan".
    *   Spark's `cast(null as string)` stays null (no match). Off by
    *   default — the Spark-natural semantics is almost always what users
    *   want; switch on only when byte-for-byte reference parity matters.
    * @param broadcastLookups build every mapping into a broadcast
    *   dictionary (default): one Spark job per distinct Lookup
    *   (mapping, key column, value column) at `run`, whose description
    *   is `etl.RuleCompiler.lookup:<mapName>`; Lookups sharing all
    *   three share the dictionary. Correct for the reference's
    *   contract — mappings are interactive side-file uploads,
    *   dimension-sized by construction. A mapping that cannot be read
    *   fails its Lookup rules only. Pass false when a mapping table
    *   SCALES with the data (the driver-held dictionary would not
    *   fit); each Lookup is then a left join against the deduplicated
    *   mapping, its strategy left to Catalyst statistics + AQE, and
    *   no job runs at `run`.
    */
  def run(main: DataFrame, rules: Seq[Rule], mappings: Map[String, DataFrame],
      pandasNanCoercion: Boolean = false,
      broadcastLookups: Boolean = true): PipelineResult = {
    val errors = mutable.ArrayBuffer.empty[RuleError]
    // Output column order follows first occurrence of each name; a later
    // rule with the same name overwrites the value but keeps the original
    // position (pandas column-assignment semantics, main.py:146).
    val outCols = mutable.LinkedHashMap.empty[String, Column]
    var df = main
    var lookupIdx = 0
    val dictionaries = mutable.Map.empty[(String, String, String), Try[Column => Column]]

    rules.foreach { rule =>
      compileOne(rule, df, mappings, lookupIdx, pandasNanCoercion, broadcastLookups,
          dictionaries) match {
        case Left(err) => errors += err
        case Right((joined, column, usedLookup)) =>
          // Validate resolution eagerly (analysis only): unknown columns
          // fail here, matching the reference's per-rule error isolation.
          Try(joined.select(column)) match {
            case Success(_) =>
              df = joined
              if (usedLookup) lookupIdx += 1
              outCols(rule.name) = column.alias(rule.name)
            case Failure(e) => errors += RuleError(rule, e.getMessage)
          }
      }
    }

    val output =
      if (outCols.isEmpty) df.select() // zero-column frame, matches empty out_df
      else df.select(outCols.values.toSeq: _*)
    PipelineResult(output, errors.toSeq)
  }

  /** Compile one rule. Returns the (possibly join-augmented) frame, the
    * output Column, and whether a lookup join was consumed. */
  private def compileOne(rule: Rule, df: DataFrame, mappings: Map[String, DataFrame],
      lookupIdx: Int, pandasNanCoercion: Boolean, broadcastLookups: Boolean,
      dictionaries: mutable.Map[(String, String, String), Try[Column => Column]])
      : Either[RuleError, (DataFrame, Column, Boolean)] = rule match {

    case DirectMap(_, source) =>
      if (!df.columns.contains(source))
        Left(RuleError(rule, s"source column '$source' not found"))
      else Right((df, col(quote(source)), false))

    case Conditional(_, expression, thenV, elseV) =>
      CondExpr.translate(expression, df.schema) match {
        case Left(msg) => Left(RuleError(rule, s"Logic Error: $msg"))
        // Output is always string-typed: then/else come from text inputs
        // (main.py:388-389). Null predicate (e.g. null > 500) falls through
        // to otherwise, matching pandas NaN-comparison-is-False.
        case Right(cond) => Right((df, when(cond, lit(thenV)).otherwise(lit(elseV)), false))
      }

    case Lookup(_, mapName, inCol, keyCol, valCol) =>
      mappings.get(mapName) match {
        case None => Left(RuleError(rule, s"Mapping table '$mapName' not found."))
        case Some(mapping) =>
          if (!df.columns.contains(inCol))
            Left(RuleError(rule, s"match column '$inCol' not found"))
          else if (!mapping.columns.contains(keyCol))
            Left(RuleError(rule, s"key column '$keyCol' not found in '$mapName'"))
          else if (!mapping.columns.contains(valCol))
            Left(RuleError(rule, s"value column '$valCol' not found in '$mapName'"))
          else if (broadcastLookups)
            dictionaries.getOrElseUpdate((mapName, keyCol, valCol), Try(dictionary(
                mapping, mapName, strKey(col(quote(keyCol)), pandasNanCoercion), valCol))) match {
              case Failure(e) =>
                Left(RuleError(rule, s"Mapping table '$mapName' could not be read: ${e.getMessage}"))
              case Success(probe) =>
                Right((df, probe(strKey(col(quote(inCol)), pandasNanCoercion)), false))
            }
          else {
            val valOut = s"$LookupColPrefix$lookupIdx"
            val keyOut = s"$KeyCol$lookupIdx"
            // Last-occurrence-wins duplicate-key handling, as in the
            // reference's dict(zip(keys, vals)) build (main.py:168):
            // order rows by file position (monotonically_increasing_id is
            // monotone within and across input splits in read order) and
            // keep the value of the max position per stringified key.
            // Same CONTRACT as [[dictionary]].
            val prepared = mapping
              .withColumn(OrdCol, monotonically_increasing_id())
              .groupBy(strKey(col(quote(keyCol)), pandasNanCoercion).as(keyOut))
              .agg(max_by(col(quote(valCol)), col(OrdCol)).as(valOut))
            val joined = df.join(prepared,
              strKey(df.col(quote(inCol)), pandasNanCoercion) === prepared.col(keyOut), "left")
              .drop(keyOut)
            Right((joined, col(valOut), true))
          }
      }
  }

  /** Lookup keys compare as strings on both sides (the reference's
    * `.astype(str)`, main.py:168-169); one expression serves the build
    * and the probe, so stringification has a single definition. */
  private def strKey(c: Column, pandasNanCoercion: Boolean): Column =
    if (pandasNanCoercion) coalesce(c.cast("string"), lit("nan"))
    else c.cast("string")

  /** Build the last-wins dictionary `key -> valCol` of one mapping in ONE
    * Spark job and return its probe: a function from a string key column
    * to a [[BroadcastDictGet]] of `valCol`'s type (null on a miss or a
    * null key). Each partition keeps the last value per key in row order;
    * the driver merges the partitions in ascending partition index, so
    * the last occurrence in file order wins — the order
    * `monotonically_increasing_id` encodes. Null keys are dropped (they
    * never match); values are Catalyst internal values.
    *
    * CONTRACT: "last occurrence" is well-defined only when the mapping is
    * a fresh source scan (the reference's only input shape — an uploaded
    * file). A mapping that already went through a shuffle/join/
    * repartition has no stable row order in ANY engine; pass such tables
    * through a deduplicating aggregation with an explicit ordering column
    * first. */
  private def dictionary(mapping: DataFrame, mapName: String, key: Column,
      valCol: String): Column => Column = {
    val keyed = mapping.select(key, col(quote(valCol)))
    val valType = keyed.schema(1).dataType
    val sc = mapping.sparkSession.sparkContext
    val parts = graft.Obs.phase(sc, s"etl.RuleCompiler.lookup:$mapName") {
      sc.runJob(keyed.queryExecution.toRdd, { rows: Iterator[InternalRow] =>
        val last = new java.util.HashMap[UTF8String, Any]()
        rows.foreach { r =>
          if (!r.isNullAt(0)) last.put(r.getUTF8String(0).clone(),
            if (r.isNullAt(1)) null else InternalRow.copyValue(r.get(1, valType)))
        }
        last
      })
    }
    val dict = new java.util.HashMap[UTF8String, Any]()
    parts.foreach(dict.putAll)
    val shipped = sc.broadcast[java.util.Map[UTF8String, Any]](dict)
    probe => ColumnBridge.column(
      BroadcastDictGet(ColumnBridge.expression(probe), valType, shipped))
  }

  private def quote(name: String): String =
    if (name.forall(ch => ch.isLetterOrDigit || ch == '_')) name
    else "`" + name.replace("`", "``") + "`"
}
