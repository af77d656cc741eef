package graft.compile

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StringType}

import graft.model._

/**
 * Compiles a [[graft.model.Checklist]] into Catalyst `Column` expressions:
 * per-field tri-state verdicts and a structured violations array, evaluated
 * in a SINGLE narrow projection (no shuffle; Catalyst CSE dedups the shared
 * field-state subexpressions). The row-level pass/fail verdict and the
 * reference-format error string are read from that array.
 *
 * This replaces the reference's row-at-a-time interpreter
 * (reference: lib/Bio/Metadata/Validator.pm:109-156 outer loop, 200-290 field
 * loop, 297-492 dependency passes) with a columnar expression DAG; semantics
 * — including tri-state unknown handling, Perl-truthiness presence checks and
 * exact error-message text (down to the reference's 'statisfy' typo at
 * Validator.pm:420 and the missing space in the some_of message at 325-326)
 * — are preserved.
 */
object ChecklistCompiler {

  private val ViolSchema = "struct<field:string,rule_id:string,message:string>"

  /** One potential violation: fire condition, identity and message. */
  final case class Rule(field: String, ruleId: String, cond: Column, message: Column)

  final case class Compiled(
      checklist: Checklist,
      /** field name -> tri-state state expression (FieldState byte). */
      states: Seq[(String, Column)],
      rules: Seq[Rule]
  ) {

    /** array<struct<field,rule_id,message>> in reference emission order.
     * The only place a rule condition is evaluated. */
    def violations: Column = {
      val elems = rules.map { r =>
        when(r.cond,
          struct(lit(r.field).as("field"), lit(r.ruleId).as("rule_id"),
            r.message.as("message")))
          .otherwise(lit(null).cast(ViolSchema))
      }
      array_compact(array(elems: _*))
    }

    def passed: Column = size(violations) === 0

    /** Reference-format accumulated error string of [[violations]]; see
     * [[ChecklistCompiler.errorString]]. */
    def errorString(rowNum: Column): Column =
      ChecklistCompiler.errorString(violations, rowNum)
  }

  /** Reference-format accumulated error string read from a violations
   * array: `[errors found on row N] ...` (reference: Validator.pm:136-145).
   * Field-level messages are appended with a trailing space, dependency
   * messages with a leading one, then the whole is trimmed and prefixed,
   * so the double space between the last field message and the first
   * dependency message is kept. NULL when the array is empty. */
  def errorString(violations: Column, rowNum: Column): Column =
    aggregate(violations, lit(""),
      (acc, v) => concat(acc,
        when(v("rule_id").isin(RuleIds.Required, RuleIds.FieldInvalid),
          concat(v("message"), lit(" ")))
          .otherwise(concat(lit(" "), v("message")))),
      acc => when(acc =!= "", concat(lit("[errors found on row "),
        rowNum.cast(StringType), lit("] "), trim(acc))))

  /** Strip one pair of wrapping double quotes, as the plugin wrapper does
   * before every check (reference: Validator/PluginRole.pm:29,
   * s/^"?(.*?)"?$/$1/). Implemented without a regex: a conditional
   * substring is allocation-free when no quotes are present — this runs
   * once per field per row on the hot path. */
  def stripQuotes(c: Column): Column =
    when(startswith(c, lit("\"")) || endswith(c, lit("\"")),
      regexp_replace(c, "^\"?(.*?)\"?$", "$1")).otherwise(c)

  /** Empty-cell test: NULL or whitespace-only — such cells skip type
   * validation entirely (reference: Validator.pm:238-245, m/^\s*$/).
   * The codegen'd [[graft.functions.IsBlank]] byte-scan, NOT bare trim()
   * (which strips only ' ' 0x20, so a tab-only cell would wrongly count as
   * non-empty) and NOT trim-with-charset (correct but measured 2.6x slower
   * on the hot path). The whitespace class is RE2/DuckDB `\s` = [ \t\n\r\f]
   * so the engine and the SQL oracles (regexp '^\s*$') agree byte-for-byte;
   * Perl additionally treats \x0B as whitespace since 5.18 — deliberately
   * excluded, none of the supported sources can produce it. */
  def isEmptyCell(c: Column): Column =
    c.isNull || graft.functions.IsBlank(c)

  /** Perl truthiness of a raw cell: defined, not "", not "0". Used by the
   * if-dependency "should not be completed" presence checks
   * (reference: Validator.pm:467-471, 483-487 — `if ($field_values->{...})`). */
  def perlTruthy(c: Column): Column =
    c.isNotNull && c =!= "" && c =!= "0"

  /** Boolean type predicate over the quote-stripped, non-empty value. */
  def typePredicate(ftype: FieldType, v: Column): Column = ftype match {
    case FieldType.BoolT =>
      // reference: Plugin/Bool.pm:12-16. The anchored case-insensitive
      // literal alternation strength-reduces to the AsciiAltMatch byte
      // compare (rlike-identical semantics, no per-row Matcher).
      val boolPattern = "(?i)^(1|true|yes|0|false|no)$"
      graft.functions.AsciiAltMatch.columnIfSupported(v, boolPattern)
        .getOrElse(v.rlike(boolPattern))
    case FieldType.IntT(min, max) =>
      // reference: Plugin/Int.pm:14-27. Numeric bound compare on a wide
      // decimal so 19+-digit literals behave like Perl's numeric compare.
      // The integer-literal shape check strength-reduces to the
      // CharClassMatch byte scan (same kernel as Str patterns).
      val isInt = graft.functions.CharClassMatch
        .columnIfSupported(v, "^-?\\d+$").getOrElse(v.rlike("^-?\\d+$"))
      val n = v.cast(DecimalType(38, 0))
      val boundOk = Seq(
        min.map(m => n >= lit(m)),
        max.map(m => n <= lit(m))
      ).flatten.reduceOption(_ && _).getOrElse(lit(true))
      isInt && boundOk
    case FieldType.StrT(pattern) =>
      // reference: Plugin/Str.pm:14-28. Non-blank = NOT m/^\s*$/ (Str.pm:16)
      // — the IsBlank kernel, not plain trim (a quoted tab-only value must
      // be invalid). rlike is a find() — substring semantics, exactly
      // matching the reference's unanchored m// — but fully-anchored
      // literal/char-class patterns (the overwhelmingly common validation
      // shape) strength-reduce to the CharClassMatch byte-scan kernel,
      // which has identical match semantics and no per-row Matcher
      // allocation (~2.4x on the code_files field regexes).
      val nonBlank = !graft.functions.IsBlank(v)
      pattern.map { p =>
        val m = graft.functions.CharClassMatch.columnIfSupported(v, p)
          .orElse(graft.functions.AsciiAltMatch.columnIfSupported(v, p))
          .getOrElse(v.rlike(p))
        nonBlank && m
      }.getOrElse(nonBlank)
    case FieldType.EnumT(values) =>
      // reference: Plugin/Enum.pm:12-18 (exact, case-sensitive)
      v.isin(values: _*)
    case FieldType.DateTimeT =>
      // reference: Plugin/DateTime.pm:15-33 — full ISO-8601 family
      // (calendar/ordinal/week dates, basic+extended, optional time with
      // fraction/offset), two-digit-year form rejected. The codegen'd
      // [[graft.functions.Iso8601Valid]] kernel replaces the round-1
      // try_to_timestamp whitelist, which could not express week/ordinal
      // basic forms (Spark removed the w/W pattern letters in 3.0).
      graft.functions.Iso8601.valid(v)
    case FieldType.OntologyT(terms, _) =>
      // reference: Plugin/Ontology.pm:19-34 — in-memory set membership
      // (its documented 4.5x win over per-value scans). Catalyst rewrites
      // isin above the InSet threshold into an O(1) hash-set probe; sets
      // beyond LargeSetThreshold switch to the broadcast-set expression so
      // the plan doesn't embed (and re-ship) a huge literal list.
      membership(v, terms)
    case FieldType.TaxonomyT(ids, names) =>
      // reference: Plugin/Taxonomy.pm:22-38 — ID or scientific name, either
      // matches; id<->name consistency deliberately not checked.
      membership(v, ids) || membership(v, names)
  }

  /** Above this size, lookup sets ship as a Spark broadcast probed by the
   * codegen'd [[graft.functions.InBroadcastSet]] expression instead of an
   * in-plan literal list. */
  val LargeSetThreshold = 10000

  private def membership(v: Column, terms: Set[String]): Column =
    if (terms.isEmpty) lit(false)
    else if (terms.size > LargeSetThreshold)
      org.apache.spark.sql.SparkSession.active match {
        case spark => graft.functions.InBroadcastSet(spark, v, terms)
      }
    else v.isin(terms.toSeq: _*)

  /**
   * Tri-state state expression for one field (FieldState byte):
   * empty -> SKIPPED; accepted unknown term -> UNKNOWN; else VALID/INVALID
   * per the type predicate. Mirrors the plugin wrapper order
   * (reference: PluginRole.pm:20-39 — quote-strip before the unknown check).
   */
  def stateExpr(f: FieldDef, unknownTerms: Seq[String], raw: Column): Column = {
    val v = stripQuotes(raw)
    val base = when(typePredicate(f.ftype, v), lit(FieldState.Valid))
      .otherwise(lit(FieldState.Invalid))
    val withUnknown =
      if (f.acceptsUnknown && unknownTerms.nonEmpty)
        when(v.isin(unknownTerms: _*), lit(FieldState.Unknown)).otherwise(base)
      else base
    when(isEmptyCell(raw), lit(FieldState.Skipped)).otherwise(withUnknown)
  }

  /**
   * Compile a checklist into the full rule set. `colFor` maps a checklist
   * field name to the source Column (defaults to `col(name)` cast to string
   * — cells are strings, per the reference's untyped-string data model).
   */
  def compile(
      checklist: Checklist,
      verboseErrors: Boolean = false,
      colFor: String => Column = name => col(name).cast(StringType)
  ): Compiled = {
    checklist.validateConfig() match {
      case Left(err) => throw new IllegalArgumentException(s"bad checklist config: $err")
      case Right(_)  =>
    }

    val unknowns = checklist.unknownTerms
    val raw: Map[String, Column] =
      checklist.fields.map(f => f.name -> colFor(f.name)).toMap
    val states: Seq[(String, Column)] =
      checklist.fields.map(f => f.name -> stateExpr(f, unknowns, raw(f.name)))
    val state: Map[String, Column] = states.toMap

    def st(name: String): Column = state(name)

    // --- field-level rules, in field order (reference: Validator.pm:219-271)
    val fieldRules: Seq[Rule] = checklist.fields.flatMap { f =>
      // a field-def `unknown` key suppresses the required check on empty
      // cells (reference: Validator.pm:238-245, `required && !unknown` —
      // NB distinct from accepts_unknown, which only drives the tri-state)
      val requiredRule =
        if (f.required && !f.unknownFlag)
          Some(Rule(f.name, RuleIds.Required,
            isEmptyCell(raw(f.name)),
            lit(s"['${f.name}' is a required field]")))
        else None
      val invalidMsg =
        if (verboseErrors) {
          val desc = f.description.getOrElse(f.ftype.typeName)
          s"[value in field '${f.name}' is not valid; field description: '$desc']"
        } else s"[value in field '${f.name}' is not valid]"
      val invalidRule = Rule(f.name, RuleIds.FieldInvalid,
        st(f.name) === FieldState.Invalid, lit(invalidMsg))
      requiredRule.toSeq :+ invalidRule
    }

    // --- if dependencies (reference: Validator.pm:395-492)
    val ifRules: Seq[Rule] = checklist.dependencies.ifs.flatMap { dep =>
      val g = dep.guard
      val gRaw = raw(g)
      val gDef = checklist.fieldByName(g)
      // unknown guard => skip the whole rule (reference: 413-415)
      val guardUnknown =
        if (gDef.acceptsUnknown) st(g) === FieldState.Unknown else lit(false)
      // guard "not valid" uses Perl truthiness of the tri-state: 0 (invalid)
      // and undef (skipped/empty) are falsy, -1 (unknown) is truthy
      // (reference: 419-422)
      val guardNotValid =
        st(g) === FieldState.Invalid || st(g) === FieldState.Skipped
      val active = !guardUnknown && !guardNotValid
      // truthiness of the RAW guard value, case-sensitive, narrower than the
      // Bool plugin's case-insensitive set (reference: 454-456) — so a valid
      // Bool like "YES" takes the else branch.
      val guardTrue = gRaw.isin("true", "yes", "1")

      val guardRule = Rule(g, RuleIds.IfGuardInvalid,
        !guardUnknown && guardNotValid,
        lit(s"[field '$g' must be valid in order to statisfy a dependency]"))

      def notValid(f: String): Column =
        st(f) === FieldState.Invalid || st(f) === FieldState.Skipped

      val thenRules = dep.thens.map { t =>
        Rule(t, RuleIds.IfThenInvalid,
          active && guardTrue && notValid(t),
          lit(s"[field '$t' must be valid if field '$g' is set to true]"))
      }
      val elsePresentRules = dep.elses.map { e =>
        Rule(e, RuleIds.IfElsePresent,
          active && guardTrue && perlTruthy(raw(e)),
          lit(s"[field '$e' should not be completed if field '$g' is set to true]"))
      }
      val elseRules = dep.elses.map { e =>
        Rule(e, RuleIds.IfElseInvalid,
          active && !guardTrue && notValid(e),
          lit(s"[field '$e' must be valid if field '$g' is set to false]"))
      }
      val thenPresentRules = dep.thens.map { t =>
        Rule(t, RuleIds.IfThenPresent,
          active && !guardTrue && perlTruthy(raw(t)),
          lit(s"[field '$t' should not be completed if field '$g' is set to false]"))
      }
      // emission order matches the reference: guard, then-valid, else-absent
      // when true; else-valid, then-absent when false (459-489)
      (guardRule +: (thenRules ++ elsePresentRules)) ++ (elseRules ++ thenPresentRules)
    }

    // --- one_of / some_of groups (reference: Validator.pm:302-327, counting
    // at 346-385). A field counts completed when its raw value is defined
    // (whitespace-only still counts — blank_is_undef made empties undef at
    // ingest) and is not an accepted unknown term.
    def groupCounts(fields: Seq[String]): (Column, Column, Int, Int) = {
      val defs = fields.map(checklist.fieldByName)
      // None for fields that can never hold an accepted unknown — emitting
      // lit(0) === 0 instead would be a (correct but) trivially-true
      // predicate Catalyst warns about and evaluates per row for nothing
      val unknownOf: Seq[Option[Column]] = defs.map { d =>
        if (d.acceptsUnknown && unknowns.nonEmpty)
          Some((raw(d.name).isNotNull && raw(d.name).isin(unknowns: _*)).cast("int"))
        else None
      }
      val completedOf: Seq[Column] = defs.zip(unknownOf).map {
        case (d, Some(unk)) => (raw(d.name).isNotNull && unk === 0).cast("int")
        case (d, None) => raw(d.name).isNotNull.cast("int")
      }
      val numUnknown = unknownOf.flatten.reduceOption(_ + _).getOrElse(lit(0))
      val numCompleted = completedOf.reduce(_ + _)
      val numOptional = defs.count(!_.required)
      (numCompleted, numUnknown, numOptional, fields.size)
    }

    def groupActive(numCompleted: Column, numUnknown: Column,
        numOptional: Int, numTotal: Int): Column = {
      val allOptional = numOptional == numTotal // static at compile time
      val base = numUnknown =!= numTotal
      if (allOptional) base && numCompleted =!= 0 else base
    }

    def quoted(fields: Seq[String]): String =
      fields.map(f => s"'$f'").mkString(", ")

    val oneOfRules: Seq[Rule] = checklist.dependencies.oneOf.map { grp =>
      val (nc, nu, no, nt) = groupCounts(grp.fields)
      Rule(grp.fields.mkString(","), RuleIds.OneOf,
        groupActive(nc, nu, no, nt) && nc =!= 1,
        concat(
          lit(s"[exactly one field out of ${quoted(grp.fields)} should be completed (found "),
          nc.cast(StringType),
          lit(") and not 'unknown']")))
    }

    val someOfRules: Seq[Rule] = checklist.dependencies.someOf.map { grp =>
      val (nc, nu, no, nt) = groupCounts(grp.fields)
      // NB: the missing space after the field list is the reference's own
      // message text (Validator.pm:325-326) — kept for fidelity.
      Rule(grp.fields.mkString(","), RuleIds.SomeOf,
        groupActive(nc, nu, no, nt) && nc < 1,
        lit(s"[at least one field out of ${quoted(grp.fields)}should be completed and not 'unknown']"))
    }

    Compiled(checklist, states, fieldRules ++ ifRules ++ oneOfRules ++ someOfRules)
  }
}
