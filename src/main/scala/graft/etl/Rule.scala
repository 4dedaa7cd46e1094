package graft.etl

/** The pipeline IR: an ordered list of rules, each producing exactly one
  * output column. Mirrors the reference engine's JSON rule dicts
  * (reference: main.py:349-401) as a small Scala ADT; the compiled form is
  * a single Catalyst plan (one `select`; each lookup probes a broadcast
  * dictionary built once per pipeline).
  */
sealed trait Rule {
  /** Name of the output column this rule produces. */
  def name: String
}

/** Copy one source column to a named output column
  * (reference: main.py:145-146). */
final case class DirectMap(name: String, source: String) extends Rule

/** Scalar CASE WHEN over a boolean expression in the reference's
  * pandas-eval grammar; emits `thenV` when true else `elseV` — output is
  * always string-typed because then/else come from text inputs
  * (reference: main.py:148-157, 386-389). */
final case class Conditional(name: String, expression: String, thenV: String, elseV: String)
    extends Rule

/** Dimension lookup: map `inCol` of the main table through a
  * `keyCol -> valCol` dictionary built from mapping table `mapName`,
  * with string-coerced keys and last-occurrence-wins duplicate handling
  * (reference: main.py:159-171). */
final case class Lookup(name: String, mapName: String, inCol: String, keyCol: String,
    valCol: String) extends Rule

/** A rule that failed to compile; carries the reference-style diagnostic.
  * The reference reports and skips failed rules, continuing with the rest
  * (reference: main.py:152-157, 173-174). */
final case class RuleError(rule: Rule, message: String)
