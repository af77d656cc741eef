package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.model.FieldType._

/**
 * Seeded inputs and the closed-form expectations of their planted defects.
 *
 * The generator belongs to the benchmark, not to the program: a change to
 * `graft.sources.CodeFiles` must not change what the benchmark measures.
 * The seed changes every generated value; the defects sit on fixed id
 * residues, so the expected counts follow from the id range alone and are
 * computed here by counting ids, never by running the program.
 *
 * code_files(id, repo, path, commit, lang, content):
 *  - id % 97 == 0  -> commit has 39 hex chars       (commit field_invalid)
 *  - id % 89 == 0  -> lang "klingon", not in dim    (lang field_invalid, RI)
 *  - id % 83 == 0  -> NULL content                  (content required)
 *  - id % 61 == 0  -> lang "not available"          (accepted unknown, RI)
 *  - id % 7  == 0  -> the hot repo                  (skew, no defect)
 *  - id % 101 == 0 -> copies the key of id - 1      (duplicate key)
 *
 * Content lengths are uniform in [150, 250), the same in every id range.
 */
object Gen {

  val Langs: Seq[String] = Seq("scala", "java", "python", "go", "rust", "c", "cpp", "ruby")
  val Klingon = "klingon"
  val Unknown = "not available"

  def badCommit(id: Long): Boolean = id % 97 == 0
  def outOfDim(id: Long): Boolean = id % 89 == 0
  def nullContent(id: Long): Boolean = id % 83 == 0
  def unknownLang(id: Long): Boolean = id % 61 == 0 && !outOfDim(id)
  def copiesPrev(id: Long): Boolean = id % 101 == 0 && id > 0

  val checklist: Checklist = Checklist(
    name = "code_files",
    fields = Seq(
      FieldDef("repo", StrT(Some("^repo_[a-z0-9_]+$")), required = true),
      FieldDef("path", StrT(Some("^[A-Za-z0-9_./-]+$")), required = true),
      FieldDef("commit", StrT(Some("^[0-9a-f]{40}$")), required = true),
      FieldDef("lang", EnumT(Langs), acceptsUnknown = true),
      FieldDef("content", StrT(), required = true)),
    unknownTerms = Seq(Unknown))

  /** code_files rows with ids in [lo, hi), as `files` partitions. */
  def codeFiles(spark: SparkSession, lo: Long, hi: Long, seed: Long,
      files: Int): DataFrame = {
    val id = col("id")
    val keyId = when(id % 101 === 0 && id > 0, id - 1).otherwise(id)
    def h(c: Column, salt: Int, mod: Long): Column =
      pmod(xxhash64(c, lit(seed), lit(salt)), lit(mod))
    val langOf = element_at(typedLit(Langs), (h(keyId, 2, Langs.size) + 1).cast("int"))
    val repo = when(keyId % 7 === 0, lit("repo_hot"))
      .otherwise(concat(lit("repo_"), h(keyId, 1, 1000).cast("string")))
    val lang = when(id % 89 === 0, lit(Klingon))
      .when(id % 61 === 0, lit(Unknown))
      .otherwise(langOf)
    val path = concat(lit("src/"), h(keyId, 3, 100).cast("string"), lit("/"),
      h(keyId, 4, 10000).cast("string"), lit("."), langOf)
    val fullCommit = substring(sha2(concat(keyId.cast("string"), lit(s":$seed")), 256), 1, 40)
    val commit = when(id % 97 === 0, substring(fullCommit, 1, 39)).otherwise(fullCommit)
    // hex of two sha-512 digests, cut to a seeded length in [150, 250)
    def digest(salt: String) = sha2(concat(id.cast("string"), lit(s":$seed:$salt")), 512)
    val content = when(id % 83 === 0, lit(null).cast("string"))
      .otherwise(concat(digest("a"), digest("b")).substr(lit(1), h(id, 5, 100) + 150))
    spark.range(lo, hi, 1, files).select(id, repo.as("repo"), path.as("path"),
      commit.as("commit"), lang.as("lang"), content.as("content"))
  }

  /** What validating and checking ids [lo, hi) must report. */
  final case class Expect(rows: Long, invalid: Long, violations: Long,
      byRule: Map[(String, String), Long], nullContent: Long, riRows: Long,
      dupKeys: Long)

  def expect(lo: Long, hi: Long): Expect = {
    var invalid, commit, lang, content, ri, dup = 0L
    var id = lo
    while (id < hi) {
      val c = badCommit(id); val l = outOfDim(id); val n = nullContent(id)
      if (c) commit += 1
      if (l) lang += 1
      if (n) content += 1
      if (c || l || n) invalid += 1
      if (l || unknownLang(id)) ri += 1
      // a copied key stays a duplicate unless either commit was truncated
      if (copiesPrev(id) && id - 1 >= lo && !badCommit(id) && !badCommit(id - 1)) dup += 1
      id += 1
    }
    Expect(hi - lo, invalid, commit + lang + content,
      Map(("commit", RuleIds.FieldInvalid) -> commit,
        ("lang", RuleIds.FieldInvalid) -> lang,
        ("content", RuleIds.Required) -> content),
      content, ri, dup)
  }

  // --- manifest CSVs for the CLI path ---------------------------------------

  val ManifestRows = 500

  val ManifestHeader =
    "sample_id,is_public,read_count,platform,has_host,host_taxon,env_medium,primer_a,primer_b,country,region"

  /** Checklist config exercising Bool, Int min/max, a Str regex, Enum with
   * an accepted unknown term, and if / one_of / some_of dependencies. */
  val ManifestConfig: String =
    s"""<checklist bench_manifest>
       |  header_row "$ManifestHeader"
       |  unknown_term "$Unknown"
       |  <dependencies>
       |    <if has_host>
       |      then host_taxon
       |      else env_medium
       |    </if>
       |    <one_of>
       |      group_primer primer_a
       |      group_primer primer_b
       |    </one_of>
       |    <some_of>
       |      group_loc country
       |      group_loc region
       |    </some_of>
       |  </dependencies>
       |  <field>
       |    name sample_id
       |    type Str
       |    validation ^S[0-9]+$$
       |    required 1
       |  </field>
       |  <field>
       |    name is_public
       |    type Bool
       |    required 1
       |  </field>
       |  <field>
       |    name read_count
       |    type Int
       |    min 0
       |    max 1000000
       |    required 1
       |  </field>
       |  <field>
       |    name platform
       |    type Enum
       |    values ILLUMINA
       |    values NANOPORE
       |    values PACBIO
       |    accepts_unknown 1
       |  </field>
       |  <field>
       |    name has_host
       |    type Bool
       |    required 1
       |  </field>
       |  <field>
       |    name host_taxon
       |    type Str
       |    validation ^[A-Za-z ]+$$
       |  </field>
       |  <field>
       |    name env_medium
       |    type Str
       |  </field>
       |  <field>
       |    name primer_a
       |    type Str
       |  </field>
       |  <field>
       |    name primer_b
       |    type Str
       |  </field>
       |  <field>
       |    name country
       |    type Str
       |    required 1
       |  </field>
       |  <field>
       |    name region
       |    type Str
       |  </field>
       |</checklist>
       |""".stripMargin

  /** Row g of the manifest stream is invalid iff g hits one of these
   * residues: bad sample_id, bad Bool, Int below min, Int above max, value
   * outside the Enum, missing if-branch field, both one_of fields, no
   * some_of field. */
  val ManifestDefects: Seq[Long] = Seq(53, 59, 67, 71, 73, 79, 103, 107)

  def manifestInvalid(m: Int): Long =
    (1 to ManifestRows).count { r =>
      val g = m.toLong * ManifestRows + r
      ManifestDefects.exists(g % _ == 0)
    }.toLong

  private def q(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  /** Manifest `m` as CSV text: CRLF line endings, the header row, an
   * all-comma blank row every 50 lines and quoted cells. */
  def manifestCsv(m: Int, seed: Long): String = {
    val sb = new StringBuilder(ManifestHeader).append("\r\n")
    val blank = "," * 10
    for (r <- 1 to ManifestRows) {
      val g = m.toLong * ManifestRows + r
      val rnd = new SplittableRandom(seed * 1000003L + g)
      def pick(xs: String*): String = xs(rnd.nextInt(xs.size))
      val sampleId = if (g % 53 == 0) s"X$g" else if (g % 5 == 0) q(s"S$g") else s"S$g"
      val isPublic = if (g % 59 == 0) "maybe" else pick("1", "0", "true", "false", "yes", "no")
      val reads =
        if (g % 67 == 0) s"-${1 + rnd.nextInt(1000)}"
        else if (g % 71 == 0) s"${1000001 + rnd.nextInt(1000)}"
        else rnd.nextInt(1000001).toString
      val platform =
        if (g % 73 == 0) "MINION" else if (g % 41 == 0) Unknown
        else pick("ILLUMINA", "NANOPORE", "PACBIO")
      val host = rnd.nextBoolean()
      val dropBranch = g % 79 == 0
      val taxon = if (host && !dropBranch) pick("Homo sapiens", "Mus musculus", "Bos taurus") else ""
      val medium = if (!host && !dropBranch) q(pick("soil, loam", "sea water", "gut, lower")) else ""
      val primer = Seq.fill(12)(pick("A", "C", "G", "T")).mkString
      val (pa, pb) =
        if (g % 103 == 0) (primer, primer.reverse)
        else if (rnd.nextBoolean()) (primer, "") else ("", primer)
      val (country, region) =
        if (g % 107 == 0) ("", "")
        else (pick("GB", "DE", "JP", "BR"),
          if (g % 13 == 0) q("North \"Shore\"") else pick("", "north", "south"))
      sb.append(Seq(sampleId, isPublic, reads, platform, if (host) "1" else "0",
        taxon, medium, pa, pb, country, region).mkString(",")).append("\r\n")
      if (r % 50 == 0) sb.append(blank).append("\r\n")
    }
    sb.toString
  }

  def writeText(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }
}
