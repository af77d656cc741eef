package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.model._
import graft.model.FieldType._
import graft.run.CheckpointRunner
import graft.engine.Validator
import graft.sources.CodeFiles

class RunnerSpec extends SparkSuite {
  import spark.implicits._

  test("code_files generator is deterministic and partitioning-invariant") {
    val a = CodeFiles.generate(spark, 1000).orderBy("id").collect()
    val b = CodeFiles.generate(spark, 1000).repartition(7).orderBy("id").collect()
    assert(a.toSeq === b.toSeq)
    // planted defects exist
    val df = CodeFiles.generate(spark, 2000)
    assert(df.filter(length(col("commit")) =!= 40).count() > 0)
    assert(df.filter(col("lang") === "klingon").count() > 0)
    assert(df.filter(col("content").isNull).count() > 0)
    assert(df.filter(col("repo") === CodeFiles.HotRepo).count() > 2000 / 10)
    // duplicates on the composite key
    val dups = graft.quality.Uniqueness.duplicates(df, Seq("repo", "path", "commit"))
    assert(dups.count() > 0)
  }

  test("code_files checklist flags exactly the planted defect classes") {
    val df = CodeFiles.generate(spark, 2000)
    val v = graft.engine.Validator.validate(df, CodeFiles.checklist,
      graft.engine.Validator.Options(rowIdCol = Some("id")))
    val byRule = graft.engine.Validator.violationRows(v)
      .groupBy("rule_id", "field").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byRule.contains(("field_invalid", "commit")))
    assert(byRule.contains(("field_invalid", "lang"))) // klingon
    assert(byRule.contains(("required", "content")))
    // unknown lang rows are NOT violations (tri-state)
    val unknownLang = df.filter(col("lang") === "not available").count()
    assert(unknownLang > 0)
    val langViol = byRule(("field_invalid", "lang"))
    assert(langViol === df.filter(col("lang") === "klingon").count())
  }

  test("checkpoint runner: resume skips completed partitions; checklist change invalidates") {
    val base = Files.createTempDirectory("graft_ckpt").toString
    val input = s"$base/input"
    CodeFiles.generate(spark, 500)
      .withColumn("part", (col("id") % 3).cast("string"))
      .write.partitionBy("part").parquet(input)
    val cfg = CheckpointRunner.Config(
      inputPath = input, partitionCol = "part",
      outputPath = s"$base/out", violationsPath = s"$base/viol",
      manifestPath = s"$base/manifest", rowIdCol = Some("id"))

    val r1 = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(r1.size === 3 && r1.forall(!_.skipped))
    assert(r1.map(_.nRows).sum === 500)

    // second run: everything skipped
    val r2 = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(r2.forall(_.skipped))

    // simulate a mid-run kill: remove one partition's manifest rows
    val manifest = spark.read.parquet(cfg.manifestPath)
    val pruned = manifest.filter(col("partition") =!= "1")
    val tmp = s"$base/manifest2"
    pruned.write.parquet(tmp)
    val cfg2 = cfg.copy(manifestPath = tmp)
    val r3 = CheckpointRunner.run(spark, CodeFiles.checklist, cfg2)
    assert(r3.count(_.skipped) === 2 && r3.count(!_.skipped) === 1)

    // idempotence: no duplicated violation rows after the re-run
    val viol = spark.read.parquet(cfg.violationsPath)
    assert(viol.count() === viol.distinct().count())

    // changed checklist -> all partitions re-run
    val changed = CodeFiles.checklist.copy(fields =
      CodeFiles.checklist.fields.map(f =>
        if (f.name == "lang") f.copy(required = true) else f))
    val r4 = CheckpointRunner.run(spark, changed, cfg)
    assert(r4.forall(!_.skipped))
  }

  test("CheckpointMain: spark-submit arg surface drives a resumable run end-to-end") {
    import graft.run.CheckpointMain
    val base = Files.createTempDirectory("graft_ckpt_cli").toString
    CodeFiles.generate(spark, 200)
      .withColumn("part", (col("id") % 2).cast("string"))
      .write.partitionBy("part").parquet(s"$base/input")
    val argv = List(
      "--input", s"$base/input", "--partition-col", "part",
      "--output", s"$base/out", "--violations", s"$base/viol",
      "--manifest", s"$base/manifest",
      "--builtin", "code_files", "--row-id", "id")
    val args = CheckpointMain.parseArgs(argv, CheckpointMain.Args())
    val r1 = CheckpointMain.run(spark, args)
    assert(r1.size === 2 && r1.forall(!_.skipped) && r1.map(_.nRows).sum === 200)
    // same command again: resumes (all partitions skipped)
    assert(CheckpointMain.run(spark, args).forall(_.skipped))
    // bad args fail fast with a named flag
    intercept[IllegalArgumentException] {
      CheckpointMain.parseArgs(List("--bogus", "x"), CheckpointMain.Args())
    }
    intercept[IllegalArgumentException] {
      CheckpointMain.run(spark, args.copy(builtin = Some("nope"), config = None))
    }
  }

  test("checkpoint runner over a snapshot-manifest table: metadata planning + resume") {
    val base = Files.createTempDirectory("graft_snap_ckpt").toString
    val root = s"$base/table"
    graft.sources.SnapshotTable.commit(
      CodeFiles.generate(spark, 300)
        .withColumn("part", (col("id") % 2).cast("string")),
      root, Seq("part"))
    val cfg = CheckpointRunner.Config(
      inputPath = root, partitionCol = "part",
      outputPath = s"$base/out", violationsPath = s"$base/viol",
      manifestPath = s"$base/manifest", rowIdCol = Some("id"))
    val r1 = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(r1.size === 2 && r1.forall(!_.skipped))
    assert(r1.map(_.nRows).sum === 300)
    // resume: all partitions already committed for this checklist
    val r2 = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(r2.forall(_.skipped))
    // a new table snapshot does NOT invalidate lineage by itself (the
    // checklist fingerprint does); partitions stay skipped
    graft.sources.SnapshotTable.commit(
      CodeFiles.generate(spark, 10)
        .withColumn("part", lit("0")).filter(col("id") < 5),
      root, Seq("part"))
    val r3 = CheckpointRunner.run(spark, CodeFiles.checklist, cfg)
    assert(r3.forall(_.skipped))
  }

  test("partition discovery is metadata-only on hive layouts (no data scan)") {
    val base = Files.createTempDirectory("graft_disc").toString
    val input = s"$base/input"
    CodeFiles.generate(spark, 100)
      .withColumn("part", (col("id") % 2).cast("string"))
      .write.partitionBy("part").parquet(input)
    // a data-free partition directory: a distinct() scan can NEVER return
    // it, so its presence in the result proves the listing path was used
    Files.createDirectory(java.nio.file.Paths.get(s"$input/part=empty"))
    assert(CheckpointRunner.discoverPartitions(spark, input, "part")
      === Some(Seq("0", "1", "empty")))
    // non-hive layout -> None (caller falls back to the distinct() scan)
    val flat = s"$base/flat"
    CodeFiles.generate(spark, 50).write.parquet(flat)
    assert(CheckpointRunner.discoverPartitions(spark, flat, "part") === None)
  }

  test("streaming validation matches batch verdicts (memory sink)") {
    val cl = Checklist("s", Seq(
      FieldDef("k", IntT(min = Some(0)), required = true),
      FieldDef("v", StrT(Some("^ok")), required = true)))
    val batch = Seq((1L, "ok yes"), (2L, "bad"), (3L, null.asInstanceOf[String]))
      .toDF("k", "v")
    val dir = Files.createTempDirectory("graft_stream").toString + "/data"
    batch.write.parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    // the batch entry point validates the stream as-is, keyed on k
    val validated = Validator.validate(stream, cl,
      Validator.Options(rowIdCol = Some("k")))
    val q = validated.writeStream.format("memory").queryName("sv")
      .outputMode("append").start()
    val qv = Validator.violationRows(validated).writeStream.format("memory")
      .queryName("svv").outputMode("append").start()
    try {
      q.processAllAvailable()
      qv.processAllAvailable()
      val got = spark.sql("select k, passed from sv").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got === Map(1L -> true, 2L -> false, 3L -> false))
      val viol = spark.sql("select row_id, field, rule_id from svv").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(viol === Set((2L, "v", RuleIds.FieldInvalid), (3L, "v", RuleIds.Required)))
    } finally { q.stop(); qv.stop() }
  }

  test("streaming validation without a row key fails at once, naming the fix") {
    val cl = Checklist("s", Seq(FieldDef("v", StrT(), required = true)))
    val dir = Files.createTempDirectory("graft_stream_nokey").toString + "/data"
    Seq("a").toDF("v").write.parquet(dir)
    val stream = spark.readStream.schema("v string").parquet(dir)
    val e = intercept[IllegalArgumentException](Validator.validate(stream, cl))
    assert(e.getMessage.contains("rowIdCol = Some(<key>)"), e.getMessage)
  }

  test("curation metrics run unchanged on a stream (stateless projection)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val metrics = graft.ops.Curation.repetitionMetrics(
      in.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val q = metrics.writeStream.format("memory").queryName("scm")
      .outputMode("append").start()
    try {
      in.addData((1L, "a b a b a c"), (2L, "x y\nx y\nz"))
      q.processAllAvailable()
      val got = spark.sql("select doc_id, top_bigram_frac, dup_line_frac from scm")
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      // identical values to the batch spec (OpsSpec repetitionMetrics)
      assert(got === Map(1L -> ((0.4, 0.0)), 2L -> ((0.5, 0.333333))))
    } finally q.stop()
  }

  test("curation gates + PII scrub run unchanged on a stream (lineDedup off)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // without the line-dedup shuffle stage the pipeline is a pure
    // filter+projection — legal on an unbounded stream as-is
    val curated = graft.ops.Curation.curateCorpus(
      in.toDS().toDF("doc_id", "text"), "doc_id", "text",
      blocklist = Seq("spam.example.com"), lineDedup = false)
    val q = curated.writeStream.format("memory").queryName("scg")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "good doc mailing bob@x.io about the project details"),
        (2L, "!!!! !!!! !!!! !!!! !!!!"),
        (3L, "visit https://spam.example.com/x for offers today"))
      q.processAllAvailable()
      val got = spark.sql("select doc_id, text from scg").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === Map(
        1L -> "good doc mailing <EMAIL> about the project details"))
    } finally q.stop()
  }

  test("streaming first-seen dedup keeps one row per key across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val deduped = graft.streaming.StreamingDedup.firstSeen[(Long, String)](
      in.toDS(), _._2)
    val q = deduped.toDF("id", "text").writeStream.format("memory")
      .queryName("sd").outputMode("append").start()
    try {
      in.addData((1L, "aaa"), (2L, "bbb"), (3L, "aaa")) // dup inside batch
      q.processAllAvailable()
      in.addData((4L, "aaa"), (5L, "ccc")) // dup across batches
      q.processAllAvailable()
      val got = spark.sql("select id, text from sd").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === Set((1L, "aaa"), (2L, "bbb"), (5L, "ccc")))
    } finally q.stop()
  }

  test("streaming line-level dedup: firstSeen over exploded lines across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the streaming analogue of Curation.dedupLines: explode docs into
    // (doc_id, idx, line), keep each line's first stream occurrence via
    // the O(distinct-lines) flatMapGroupsWithState dedup — arrival order
    // replaces (doc_id, idx) order as the first-wins tiebreak
    val in = MemoryStream[(Long, String)]
    val lines = in.toDS().flatMap { case (id, text) =>
      text.split("\n", -1).zipWithIndex.map { case (l, i) => (id, i, l) }
    }
    val kept = graft.streaming.StreamingDedup.firstSeen[(Long, Int, String)](
      lines, _._3)
    val q = kept.toDF("doc_id", "idx", "line").writeStream.format("memory")
      .queryName("sld").outputMode("append").start()
    try {
      in.addData((1L, "a\nb"), (2L, "b\nc")) // 'b' dups within the batch
      q.processAllAvailable()
      in.addData((3L, "c\nd")) // 'c' dups across batches
      q.processAllAvailable()
      val got = spark.sql("select doc_id, line from sld").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === Set((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d")))
    } finally q.stop()
  }

  test("streaming enrichment: rangeJoin composes with a point stream " +
      "(stateless stream-static equi-join on the bucket)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // static validity windows; a stream of points is enriched per batch —
    // the bucketized rewrite keeps the stream side stateless (each point
    // maps to one bucket; the interval side is a static exploded table)
    val windows = Seq((0L, 100L, 150L, 10L), (0L, 200L, 260L, 11L),
      (1L, 100L, 300L, 12L)).toDF("k", "s", "e", "iid")
    val in = MemoryStream[(Long, Long, Long)] // (pid, k, p)
    val joined = graft.ops.Joins.rangeJoin(
      in.toDS().toDF("pid", "k", "p"), windows, Seq("k"), "p", "s", "e",
      bucketWidth = 64)
    val q = joined.select("pid", "iid").writeStream.format("memory")
      .queryName("srj").outputMode("append").start()
    try {
      in.addData((1L, 0L, 120L), (2L, 0L, 170L), (3L, 1L, 299L))
      q.processAllAvailable()
      in.addData((4L, 0L, 210L))
      q.processAllAvailable()
      val got = spark.sql("select pid, iid from srj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 10L), (3L, 12L), (4L, 11L)))
    } finally q.stop()
  }

  test("CLI arg parsing mirrors validate_manifest flags") {
    val a = graft.run.Main.parseArgs(
      List("-c", "x.conf", "-o", "out.csv", "-i", "-v", "in.csv"),
      graft.run.Main.Args())
    assert(a === graft.run.Main.Args(Some("x.conf"), Some("out.csv"),
      invalidOnly = true, verbose = true, input = Some("in.csv")))
  }

  test("07: CLI black-box - config+CSV in, report/output CSV/exit code out") {
    val dir = Files.createTempDirectory("graft_cli")
    val conf = dir.resolve("m.conf")
    Files.writeString(conf,
      """<checklist one>
        |  header_row "one,two"
        |  <field>
        |    name one
        |    type Bool
        |  </field>
        |  <field>
        |    name two
        |    type Str
        |  </field>
        |</checklist>""".stripMargin)
    val bad = dir.resolve("broken.csv")
    Files.writeString(bad, "one,two\n1,two\nx,two\n")
    val good = dir.resolve("working.csv")
    Files.writeString(good, "one,two\n1,two\n0,two\n")
    val out = dir.resolve("out").toString

    import graft.run.Main
    def capture(args: Main.Args): (Int, String) = {
      val buf = new java.io.ByteArrayOutputStream()
      val exit = Console.withOut(buf)(Main.run(args, spark))
      (exit, buf.toString.trim)
    }
    val (e1, r1) = capture(Main.Args(config = Some(conf.toString),
      input = Some(good.toString)))
    assert(e1 === 0 && r1 === s"'$good' is valid")
    val (e2, r2) = capture(Main.Args(config = Some(conf.toString),
      output = Some(out), invalidOnly = true, input = Some(bad.toString)))
    assert(e2 === 1 && r2 === s"'$bad' is invalid. Found 1 invalid rows")
    val written = spark.read.option("header", true).csv(out).collect()
    assert(written.length === 1)
    assert(written.head.getString(0) === "x")
    assert(written.head.getString(2) ===
      "[errors found on row 2] [value in field 'one' is not valid]")
    // missing config -> exit 1
    assert(Main.run(Main.Args(input = Some(good.toString)), spark) === 1)
  }

  test("report wording + exit codes match the reference CLI") {
    assert(graft.engine.Validator.report("f.csv", 0) === ("'f.csv' is valid", 0))
    assert(graft.engine.Validator.report("f.csv", 3) ===
      ("'f.csv' is invalid. Found 3 invalid rows", 1))
  }

  test("streaming near-dup == batch-incremental LSH on a planted stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.Dedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = Array("alpha", "beta", "gamma", "delta", "scan", "join",
      "hash", "sort", "merge", "spill", "page", "tuple")
    def doc(): String =
      (0 until 30 + rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")
    // three micro-batches; batch 2 and 3 contain near-clones of batch-1
    // docs (one token swapped) AND of docs within their own batch
    val b1 = (1L to 20L).map(id => (id, doc()))
    def clone1(t: String) = "zzz " + t.substring(t.indexOf(' ') + 1)
    val b2 = (21L to 30L).map(id => (id, doc())) ++
      b1.take(5).map { case (id, t) => (id + 100, clone1(t)) }
    val b3 = (41L to 50L).map(id => (id, doc())) ++
      b2.take(3).map { case (id, t) => (id + 200, clone1(t)) }
    val batches = Seq(b1, b2, b3)

    val in = MemoryStream[(Long, String)]
    val cands = graft.streaming.StreamingNearDup.candidates(
      in.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val q = cands.writeStream.format("memory").queryName("snd")
      .outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val got = spark.sql(
        "select distinct new_id, old_id, round(est_jaccard, 6) from snd")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      // batch-incremental reference with the SAME parameters: per batch,
      // in-batch pairs (later id = the "new" side) + the probe against
      // the accumulated index of all earlier batches
      val want = scala.collection.mutable.Set.empty[(Long, Long, Double)]
      batches.zipWithIndex.foreach { case (b, t) =>
        val bDf = b.toDF("doc_id", "text")
        val inBatch = Dedup.minhashCandidates(bDf, "doc_id", "text")
          .select(col("id_b"), col("id_a"), round(col("est_jaccard"), 6))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        want ++= inBatch
        if (t > 0) {
          val prior = batches.take(t).flatten.toDF("doc_id", "text")
          val index = Dedup.minhashIndex(prior, "doc_id", "text")
          val cross = Dedup.minhashCandidatesAgainst(bDf, "doc_id", "text", index)
            .select(col("new_id"), col("old_id"), round(col("est_jaccard"), 6))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          want ++= cross
        }
      }
      assert(got === want.toSet)
      // the planted clones were actually caught across batches
      assert(got.exists { case (n, o, _) => n == 101L && o == 1L })
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("incremental validation over a snapshot delta: validates exactly " +
      "the added rows, skips completed deltas, checklist change re-runs") {
    import graft.sources.{CodeFiles, SnapshotTable}
    val base = Files.createTempDirectory("graft_inc").toString
    val root = s"$base/table"
    val all = CodeFiles.generate(spark, 300)
      .withColumn("part", (col("id") % 2).cast("string"))
    SnapshotTable.commit(all.filter(col("id") < 200), root, Seq("part"))
    SnapshotTable.commit(all.filter(col("id") >= 200), root, Seq("part"),
      overwritePartitions = false) // v2 appends 100 rows
    val r1 = CheckpointRunner.runIncremental(spark, CodeFiles.checklist,
      root, 1L, 2L, s"$base/out", s"$base/viol", s"$base/manifest",
      rowIdCol = Some("id"))
    assert(!r1.skipped && r1.nRows === 100)
    // metrics match a direct validation of the same delta
    val direct = graft.engine.Validator.validate(
      SnapshotTable.changesBetween(spark, root, 1, 2), CodeFiles.checklist,
      graft.engine.Validator.Options(rowIdCol = Some("id")))
    val nInvalidDirect = direct
      .filter(!col(graft.engine.Validator.PassedCol)).count()
    assert(r1.nInvalid === nInvalidDirect)
    // violation rows landed, derived from the written output
    val viols = spark.read.parquet(s"$base/viol/delta=v1_v2")
    assert(viols.count() > 0)
    // re-run: skipped via the manifest lineage
    val r2 = CheckpointRunner.runIncremental(spark, CodeFiles.checklist,
      root, 1L, 2L, s"$base/out", s"$base/viol", s"$base/manifest",
      rowIdCol = Some("id"))
    assert(r2.skipped)
    // a changed checklist invalidates the delta and re-validates
    val changed = CodeFiles.checklist.copy(
      fields = CodeFiles.checklist.fields.filterNot(_.name == "lang"))
    val r3 = CheckpointRunner.runIncremental(spark, changed,
      root, 1L, 2L, s"$base/out", s"$base/viol", s"$base/manifest",
      rowIdCol = Some("id"))
    assert(!r3.skipped && r3.nRows === 100)
  }

  test("streaming CDC upsert sink == batch merge of the same deltas " +
      "over 3 micro-batches; replay of an applied batch is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.sources.SnapshotTable
    import graft.streaming.CdcUpsert
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("graft_cdc").toString
    val streamRoot = s"$base/stream"; val batchRoot = s"$base/batch"

    val in = MemoryStream[(Long, String, String)]
    val q = in.toDS().toDF("k", "source", "payload").writeStream
      .foreachBatch(CdcUpsert.sink(streamRoot, Seq("source"), Seq("k")))
      .outputMode("append").start()
    val deltas = Seq(
      Seq((1L, "s0", "a1"), (2L, "s0", "b1"), (3L, "s1", "c1")), // inserts
      Seq((2L, "s0", "b2"), (4L, "s1", "d1")),  // update k=2, insert k=4
      Seq((1L, "s1", "a3"), (5L, "s0", "e1")))  // k=1 MOVES partition, insert
    try {
      deltas.foreach { d => in.addData(d); q.processAllAvailable() }
    } finally q.stop()

    // the batch pipeline over the identical deltas: first commit, then MERGE
    SnapshotTable.commit(deltas.head.toDF("k", "source", "payload"),
      batchRoot, Seq("source"))
    deltas.tail.foreach(d =>
      SnapshotTable.merge(d.toDF("k", "source", "payload"), batchRoot, Seq("k")))

    def content(root: String) = SnapshotTable.read(spark, root)
      .select("k", "source", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(content(streamRoot) === content(batchRoot))
    assert(content(streamRoot) === Set((1L, "s1", "a3"), (2L, "s0", "b2"),
      (3L, "s1", "c1"), (4L, "s1", "d1"), (5L, "s0", "e1")))
    // exactly-once version arithmetic: batch 0 appends (1 commit, nothing
    // to retract), batches 1-2 are eq-delete + append pairs (2 each)
    assert(SnapshotTable.currentVersion(spark, streamRoot) === Some(5))
    assert(CdcUpsert.lastApplied(spark, streamRoot) === Some(2L))
    // replaying an applied batch (crash-recovery path) changes NOTHING
    val replay = CdcUpsert.upsertBatch(
      deltas(1).toDF("k", "source", "payload"), 1L, streamRoot,
      Seq("source"), Seq("k"))
    assert(replay.skipped)
    assert(SnapshotTable.currentVersion(spark, streamRoot) === Some(5))

    // CDC op/seq columns: delete k=2, two changes to k=6 resolve by seq
    val b3 = Seq((2L, "s0", "IGNORED", "D", 10L), (6L, "s0", "f1", "U", 1L),
      (6L, "s0", "f2", "U", 2L)).toDF("k", "source", "payload", "op", "seq")
    val r3 = CdcUpsert.upsertBatch(b3, 3L, streamRoot, Seq("source"), Seq("k"),
      seqCol = Some("seq"), opCol = Some("op"))
    assert(!r3.skipped && r3.deleteVersion.nonEmpty && r3.appendVersion.nonEmpty)
    SnapshotTable.deleteByKeys(Seq(2L).toDF("k"), batchRoot, Seq("k"))
    SnapshotTable.merge(Seq((6L, "s0", "f2")).toDF("k", "source", "payload"),
      batchRoot, Seq("k"))
    assert(content(streamRoot) === content(batchRoot))
    assert(content(streamRoot).contains((6L, "s0", "f2")) &&
      !content(streamRoot).exists(_._1 == 2L))

    // NULL-key rows under seqCol resolution: each is an independent
    // insert (the merge contract — NULL keys never match anything), NOT
    // contenders in one window partition that max-seq would collapse
    val b4 = Seq((Option(7L), "s0", "g1", "U", 1L),
      (Option.empty[Long], "s0", "n1", "U", 1L),
      (Option.empty[Long], "s0", "n2", "U", 2L))
      .toDF("k", "source", "payload", "op", "seq")
    val r4 = CdcUpsert.upsertBatch(b4, 4L, streamRoot, Seq("source"), Seq("k"),
      seqCol = Some("seq"), opCol = Some("op"))
    assert(!r4.skipped && r4.appendVersion.nonEmpty)
    val payloads = SnapshotTable.read(spark, streamRoot)
      .filter(col("k").isNull).select("payload").collect()
      .map(_.getString(0)).toSet
    assert(payloads === Set("n1", "n2"))
  }
}
