package graft

import org.apache.spark.sql.functions._

import graft.engine.Validator
import graft.model._
import graft.model.FieldType._

/**
 * Randomized-manifest property: the Spark validator must agree, row by row
 * and violation by violation (including emission order), with a
 * driver-side in-memory re-implementation of the reference's validation
 * semantics (SURVEY.md §5 — the offline stand-in for a SQL oracle, since
 * the checklist algebra is not SQL-expressible). Cells are drawn from
 * per-type pools that cover valid/invalid/empty/whitespace/quoted/unknown
 * values, so the property exercises the COMPOSITION rules — tri-state
 * unknown wrapper, required-vs-skip, if/one_of/some_of interplay, rule
 * emission order — across thousands of random combinations.
 */
class PropertySpec extends SparkSuite {

  // --- the checklist under test: all interacting features at once ---------
  val unknowns = Seq("unknown", "not available")
  val cl = Checklist("prop",
    fields = Seq(
      FieldDef("a", BoolT, acceptsUnknown = true), // if-guard
      FieldDef("b", StrT(Some("^[a-z]+$"))), // then-branch of if
      FieldDef("c", IntT(min = Some(5), max = Some(10)), required = true),
      FieldDef("d", EnumT(Seq("x", "y", "z"))), // else-branch of if
      FieldDef("e", DateTimeT),
      FieldDef("f", IntT()), // one_of group
      FieldDef("g", IntT(), acceptsUnknown = true), // one_of group
      FieldDef("h", BoolT), // second if-guard, NOT accepts_unknown
      // required + the field-def `unknown` key: empty cells raise NO
      // required error (reference: Validator.pm:238-245)
      FieldDef("i", IntT(), required = true, unknownFlag = true)
    ),
    dependencies = Dependencies(
      ifs = Seq(
        IfDep("a", thens = Seq("b"), elses = Seq("d")),
        IfDep("h", thens = Seq("e", "f"), elses = Seq("g"))),
      oneOf = Seq(GroupDep("g1", Seq("f", "g")), GroupDep("g3", Seq("c", "d"))),
      someOf = Seq(GroupDep("g2", Seq("b", "e")))),
    unknownTerms = unknowns)

  // DateTime pool spans the ISO-8601 family incl. week/ordinal/basic forms
  // and fractional/offset times; validity comes from the PARSE-based model
  // oracle below, not from a hand-labelled set.
  val dtPool = Seq(
    "2014-12-04", "2014-12-04T12:28:33+00:00", "20141204T122833",
    "2014-W49-3", "2014W493", "2014-338", "2014338", "2014-12", "2014",
    "2014-12-04T12:28:33.123Z", "2014-12-04T12:30,5", "2014-12-04T12:28-05:00",
    "04-12-14", "wibble", "2014-13-04", "2014-02-30", "2013-366", "2014-W54-1",
    "2014-12-04T24:01", "2014-12-04T12:61", "", " ", null)
  val pools: Map[String, Seq[String]] = Map(
    "a" -> Seq("1", "0", "true", "yes", "no", "YES", "bogus", "unknown",
      "not available", "\"1\"", "", " ", null),
    "b" -> Seq("abc", "zz", "Abc", "a1", "7", "\"abc\"", "unknown", "", " ",
      "\t", null),
    "c" -> Seq("5", "7", "10", "4", "11", "0", "-2", "x", "1.5", "\"7\"",
      "unknown", "", " ", null),
    "d" -> Seq("x", "y", "z", "w", "X", "\"x\"", "", " ", null),
    "e" -> dtPool,
    "f" -> Seq("1", "3", "-4", "nope", "unknown", "", " ", null),
    "g" -> Seq("2", "8", "bad", "unknown", "not available", "\"2\"", "", " ", null),
    // "unknown" in a NON-accepting Bool guard must be plain-invalid
    "h" -> Seq("1", "0", "yes", "no", "TRUE", "nope", "unknown", "", " ", null),
    "i" -> Seq("3", "-1", "bad", "", " ", "\t", null))

  // --- in-memory reference-semantics oracle --------------------------------
  def strip(s: String): String =
    if (s != null && (s.startsWith("\"") || s.endsWith("\"")))
      s.replaceFirst("^\"?(.*?)\"?$", "$1")
    else s
  def isEmptyCell(s: String): Boolean = s == null || s.trim.isEmpty
  def perlTruthy(s: String): Boolean = s != null && s != "" && s != "0"

  /** Parse-based ISO-8601 model (regex shapes + java.time calendar checks) —
   * an independent reimplementation, NOT a call into the engine's kernel. */
  def refIsoValid(raw: String): Boolean = {
    import java.time._
    import java.time.format.DateTimeFormatter
    def ok(f: => Any): Boolean = try { f; true } catch { case _: Exception => false }
    if (raw == null || raw.isEmpty || raw.matches("\\d{2}-\\d{2}-\\d{2}")) return false
    val ti = raw.indexOf('T')
    val d = if (ti < 0) raw else raw.substring(0, ti)
    val dateOk =
      if (d.matches("\\d{4}-\\d{2}-\\d{2}")) ok(LocalDate.parse(d))
      else if (d.matches("\\d{8}")) ok(LocalDate.parse(d, DateTimeFormatter.BASIC_ISO_DATE))
      else if (d.matches("\\d{4}-\\d{3}")) ok(LocalDate.parse(d, DateTimeFormatter.ISO_ORDINAL_DATE))
      else if (d.matches("\\d{7}"))
        ok(LocalDate.parse(d.substring(0, 4) + "-" + d.substring(4), DateTimeFormatter.ISO_ORDINAL_DATE))
      else if (d.matches("\\d{4}-W\\d{2}-\\d")) ok(LocalDate.parse(d, DateTimeFormatter.ISO_WEEK_DATE))
      else if (d.matches("\\d{4}W\\d{2}\\d"))
        ok(LocalDate.parse(s"${d.substring(0, 4)}-W${d.substring(5, 7)}-${d.substring(7)}",
          DateTimeFormatter.ISO_WEEK_DATE))
      // day-less week date: only the 1-53 range is checkable (no day, no date)
      else if (d.matches("\\d{4}-W\\d{2}")) { val w = d.substring(6).toInt; w >= 1 && w <= 53 }
      else if (d.matches("\\d{4}-\\d{2}")) ok(YearMonth.parse(d))
      else d.matches("\\d{4}")
    if (!dateOk || ti < 0) return dateOk
    // time: HH[:mm[:ss]] | HH[mm[ss]] + optional [.,]frac + optional offset
    var t = raw.substring(ti + 1)
    var offOk = true
    if (t.endsWith("Z")) t = t.dropRight(1)
    else "([+-]\\d{2}(?::?\\d{2})?)$".r.findFirstIn(t).foreach { o =>
      offOk = ok(ZoneOffset.of(o)); t = t.dropRight(o.length)
    }
    "([.,]\\d+)$".r.findFirstIn(t).foreach(f => t = t.dropRight(f.length))
    val parts: Option[(Int, Int, Int)] = t match {
      case s if s.matches("\\d{2}") => Some((s.toInt, 0, 0))
      case s if s.matches("\\d{2}:\\d{2}") => Some((s.take(2).toInt, s.drop(3).toInt, 0))
      case s if s.matches("\\d{4}") => Some((s.take(2).toInt, s.drop(2).toInt, 0))
      case s if s.matches("\\d{2}:\\d{2}:\\d{2}") =>
        Some((s.take(2).toInt, s.slice(3, 5).toInt, s.drop(6).toInt))
      case s if s.matches("\\d{6}") =>
        Some((s.take(2).toInt, s.slice(2, 4).toInt, s.drop(4).toInt))
      case _ => None
    }
    offOk && parts.exists { case (h, m, s) => h <= 23 && m <= 59 && s <= 59 }
  }

  def typeValid(f: FieldDef, v: String): Boolean = f.ftype match {
    case BoolT => v.matches("(?i)(1|true|yes|0|false|no)")
    case IntT(min, max) =>
      v.matches("-?\\d+") && {
        val n = BigInt(v)
        min.forall(n >= _) && max.forall(n <= _)
      }
    case StrT(p) =>
      v.trim.nonEmpty && p.forall(pat => pat.r.findFirstIn(v).isDefined)
    case EnumT(values) => values.contains(v)
    case DateTimeT => refIsoValid(v)
    case OntologyT(terms, _) => terms.contains(v)
    case TaxonomyT(ids, names) => ids.contains(v) || names.contains(v)
  }

  def stateOf(f: FieldDef, raw: String): Byte =
    if (isEmptyCell(raw)) FieldState.Skipped
    else {
      val v = strip(raw)
      if (f.acceptsUnknown && unknowns.contains(v)) FieldState.Unknown
      else if (typeValid(f, v)) FieldState.Valid
      else FieldState.Invalid
    }

  /** Expected (field, rule_id) violations in reference emission order. */
  def oracle(row: Map[String, String]): Seq[(String, String)] = {
    val st: Map[String, Byte] = cl.fields.map(f => f.name -> stateOf(f, row(f.name))).toMap
    def notValid(n: String) = st(n) == FieldState.Invalid || st(n) == FieldState.Skipped
    val out = Seq.newBuilder[(String, String)]

    // field rules, field order: required (suppressed by the `unknown`
    // field-def key, Validator.pm:241) then invalid
    cl.fields.foreach { f =>
      if (f.required && !f.unknownFlag && isEmptyCell(row(f.name)))
        out += f.name -> RuleIds.Required
      if (st(f.name) == FieldState.Invalid) out += f.name -> RuleIds.FieldInvalid
    }
    // if deps
    cl.dependencies.ifs.foreach { dep =>
      val g = dep.guard
      val guardUnknown = cl.fieldByName(g).acceptsUnknown && st(g) == FieldState.Unknown
      val guardNotValid = notValid(g)
      val active = !guardUnknown && !guardNotValid
      val guardTrue = Set("true", "yes", "1").contains(row(g))
      if (!guardUnknown && guardNotValid) out += g -> RuleIds.IfGuardInvalid
      dep.thens.foreach(t =>
        if (active && guardTrue && notValid(t)) out += t -> RuleIds.IfThenInvalid)
      dep.elses.foreach(e =>
        if (active && guardTrue && perlTruthy(row(e))) out += e -> RuleIds.IfElsePresent)
      dep.elses.foreach(e =>
        if (active && !guardTrue && notValid(e)) out += e -> RuleIds.IfElseInvalid)
      dep.thens.foreach(t =>
        if (active && !guardTrue && perlTruthy(row(t))) out += t -> RuleIds.IfThenPresent)
    }
    // groups: completed counts use RAW values (whitespace counts, unknown excluded)
    def counts(fields: Seq[String]): (Int, Int, Boolean) = {
      val unknownFlags = fields.map { n =>
        cl.fieldByName(n).acceptsUnknown && row(n) != null && unknowns.contains(row(n))
      }
      val completed = fields.zip(unknownFlags).count { case (n, unk) => row(n) != null && !unk }
      val numUnknown = unknownFlags.count(identity)
      val allOptional = fields.forall(!cl.fieldByName(_).required)
      (completed, numUnknown, allOptional)
    }
    def active(c: Int, u: Int, allOpt: Boolean, total: Int): Boolean =
      u != total && (!allOpt || c != 0)
    cl.dependencies.oneOf.foreach { grp =>
      val (c, u, opt) = counts(grp.fields)
      if (active(c, u, opt, grp.fields.size) && c != 1)
        out += grp.fields.mkString(",") -> RuleIds.OneOf
    }
    cl.dependencies.someOf.foreach { grp =>
      val (c, u, opt) = counts(grp.fields)
      if (active(c, u, opt, grp.fields.size) && c < 1)
        out += grp.fields.mkString(",") -> RuleIds.SomeOf
    }
    out.result()
  }

  test("property: random manifests agree with the in-memory oracle (3x500 rows)") {
    val rnd = new scala.util.Random(20260816L)
    for (round <- 1 to 3) {
      val rows: Seq[Map[String, String]] = (1 to 500).map { _ =>
        cl.fieldNames.map(n => n -> pools(n)(rnd.nextInt(pools(n).size))).toMap
      }
      val schema = org.apache.spark.sql.types.StructType(cl.fieldNames.map(n =>
        org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)))
      val rdd = spark.sparkContext.parallelize(
        rows.map(r => org.apache.spark.sql.Row.fromSeq(cl.fieldNames.map(r))), 4)
      val df = spark.createDataFrame(rdd, schema)

      val collected = Validator.validate(df, cl)
        .select(Validator.RowId, Validator.ViolationsCol, Validator.ErrorCol)
        .collect()
      val got = collected
        .map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(v => (v.getString(0), v.getString(1))))
        .toMap

      rows.zipWithIndex.foreach { case (row, i) =>
        val want = oracle(row)
        assert(got(i + 1L) === want,
          s"round $round row ${i + 1}: cells=${cl.fieldNames.map(row).mkString("|")}")
      }
      // the error column is the reference's accumulation of the row's
      // violation messages: field-level messages carry a trailing space,
      // dependency messages a leading one, then trim and prefix
      collected.foreach { r =>
        val msgs = r.getSeq[org.apache.spark.sql.Row](1).map(v => (v.getString(1), v.getString(2)))
        val acc = msgs.map { case (rule, m) =>
          if (rule == RuleIds.Required || rule == RuleIds.FieldInvalid) m + " " else " " + m
        }.mkString.trim
        val want = if (acc.isEmpty) null else s"[errors found on row ${r.getLong(0)}] $acc"
        assert(r.getString(2) === want, s"round $round row ${r.getLong(0)}")
      }
    }
  }

  test("property: dedupLines == in-memory first-wins reference on random corpora") {
    import graft.ops.Curation
    import spark.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val pool = (1 to 12).map(i => s"l$i") ++ Seq("", " ", "l1") // dups + blanks
      val docs = (1L to 60L).map { id =>
        id -> (0 to rnd.nextInt(5)).map(_ => pool(rnd.nextInt(pool.length)))
          .mkString("\n")
      }
      // reference: global first-wins by (doc order, line order)
      val seen = scala.collection.mutable.Set[String]()
      val expect = docs.map { case (id, text) =>
        val lines = text.split("\n", -1).toSeq
        val kept = lines.filter(l => seen.add(l))
        id -> ((id, lines.size, kept.size, kept.mkString("\n")))
      }.toMap
      val got = Curation.dedupLines(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))).toMap
      assert(got.size === expect.size, s"seed $seed row count")
      expect.foreach { case (id, e) =>
        assert(got(id) === e, s"seed $seed doc $id")
      }
    }
  }

  test("property: redactPii counts/redaction == java.util.regex reference on random text") {
    import graft.ops.Curation
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val frag = Seq("plain words here", "a.b+c@ex-1.org", "bob@1.2.3.4.ab",
      "10.0.0.1", "999.1.2.3", "+1-555-867-5309", "x@y.co1.2.3.4",
      "no@tld", "trailing.dot@x.org.", "+123-45-678-9012", "1.2.3.4.5")
    val docs = (1L to 80L).map { id =>
      id -> (1 to (1 + rnd.nextInt(4))).map(_ => frag(rnd.nextInt(frag.length)))
        .mkString(" ")
    }
    val eRe = Curation.EmailRe.r; val iRe = Curation.Ipv4Re.r; val pRe = Curation.PhoneRe.r
    val expect = docs.map { case (id, t) =>
      val red = pRe.replaceAllIn(
        iRe.replaceAllIn(eRe.replaceAllIn(t, "<EMAIL>"), "<IP>"), "<PHONE>")
      (id, (eRe.findAllIn(t).size, iRe.findAllIn(t).size, pRe.findAllIn(t).size, red))
    }.toMap
    val got = Curation.redactPii(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    expect.foreach { case (id, e) => assert(got(id) === e, s"doc $id") }
  }

  test("manifest CSV sink: error column appended, invalid-only filter") {
    val df = {
      val schema = org.apache.spark.sql.types.StructType(Seq("one", "two").map(n =>
        org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.StringType)))
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("1", "two"),
        org.apache.spark.sql.Row("not_a_bool", "two")), 2), schema)
    }
    val cl04 = Checklist("one", Seq(FieldDef("one", BoolT), FieldDef("two", StrT())))
    val v = Validator.validate(df, cl04)
    val all = Validator.manifestCsv(v, cl04).collect().map(_.toSeq)
    assert(all.toSeq === Seq(
      Seq("1", "two", ""),
      Seq("not_a_bool", "two",
        "[errors found on row 2] [value in field 'one' is not valid]")))
    val inv = Validator.manifestCsv(v, cl04, invalidOnly = true).collect().map(_.toSeq)
    assert(inv.length === 1 && inv.head.head === "not_a_bool")
  }
}
