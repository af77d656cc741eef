package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Validator
import graft.sources.CodeFiles

/**
 * Physical-plan assertions: the shapes that must hold at 100 TB.
 * These test the PLAN, not the result — a correctness-green operator with
 * the wrong plan is a scale bug.
 */
class PlanSpec extends SparkSuite {
  import spark.implicits._

  def physical(df: DataFrame): String = df.queryExecution.executedPlan.toString

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("validation pass is shuffle-free and codegen'd") {
    val v = Validator.validate(docs, graft.queries.Catalog.docsChecklist.copy(
      fields = graft.queries.Catalog.docsChecklist.fields.filterNot(_.name == "lang2")),
      Validator.Options(rowIdCol = Some("doc_id")))
    val plan = physical(v)
    assert(!plan.contains("Exchange"), s"validation must not shuffle:\n$plan")
    // codegen'd stages render as "*(n) Operator" in the physical plan
    assert(plan.contains("*(") , "validation must be codegen'd")
    // each rule is evaluated once per row: the error string reads the
    // projected violations array instead of re-planning every rule
    val formatted = v.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val messages = Seq("'doc_id' is a required field]", "'text' is a required field]") ++
      Seq("doc_id", "text", "source", "n_chars").map(f => s"[value in field '$f' is not valid]")
    messages.foreach { m =>
      assert(formatted.split(java.util.regex.Pattern.quote(m), -1).length - 1 === 1,
        s"rule message $m must be planned once:\n$formatted")
    }
  }

  test("validation + violation explode still shuffle-free") {
    val v = Validator.validate(docs, graft.queries.Catalog.docsChecklist.copy(
      fields = graft.queries.Catalog.docsChecklist.fields.filterNot(_.name == "lang2")),
      Validator.Options(rowIdCol = Some("doc_id")))
    val plan = physical(Validator.violationRows(v))
    assert(!plan.contains("Exchange"), s"violation explode must not shuffle:\n$plan")
    assert(plan.contains("Generate"), "expected explode Generate node")
  }

  test("column pruning: a projection that skips text reads only needed columns") {
    val q = docs.select("doc_id", "lang").filter($"lang" === "en")
    val scan = physical(q)
    assert(scan.contains("ReadSchema") && !scan.contains("text"),
      s"text must be pruned from the scan:\n$scan")
    assert(scan.contains("PushedFilters") && scan.contains("IsNotNull(lang)"),
      s"filter must push down:\n$scan")
  }

  test("referential check uses broadcast hash join (no fact-side shuffle)") {
    val dim = Seq("en", "fr").toDF("lang")
    val q = graft.quality.Referential.violations(docs, "lang", dim, "lang")
    val plan = physical(q)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "fact table must not sort-merge")
  }

  test("stats aggregation is a single partial+final aggregate (one tiny shuffle)") {
    val df = graft.quality.ColumnStats.histogram _
    // build the raw agg the histogram helper runs and inspect its plan
    val c = col("n_chars")
    val spec = graft.quality.ColumnStats.HistogramSpec(0, 600, 12)
    val b = spec.bucketOf(c)
    val aggs = (0 until 12).map(i => count(when(c.isNotNull && b === i, 1)).as(s"b$i"))
    val plan = physical(docs.agg(aggs.head, aggs.tail: _*))
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one (single-partition) exchange:\n$plan")
    assert(plan.contains("HashAggregate"), "expected partial+final hash aggregate")
  }

  test("inferFields profiling is ONE pass: no Expand, capped distinct " +
      "collect rides the same aggregate") {
    val prof = graft.quality.ConstraintDiscovery.inferProfileFrame(docs, 16)
    val plan = physical(prof)
    // a per-column countDistinct would plan an Expand multiplying the scan
    // by the number of distinct-aggregate groups — the round-5 defect
    assert(!plan.contains("Expand"), s"single-pass profile must not Expand:\n$plan")
    assert(plan.contains("distinct_strings_capped"),
      "cardinality + enum values must ride the one profiling pass")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one (single-partition) exchange:\n$plan")
  }

  test("salted dedup is two-phase: partial counts shuffle, not raw rows") {
    val df = CodeFiles.generate(spark, 1000)
    val q = graft.quality.Uniqueness.duplicates(df, Seq("repo", "path", "commit"), 8)
    val plan = physical(q)
    // two aggregation levels (key+salt, then key); each HashAggregate pair
    // does map-side partial aggregation before its exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 4, s"expected 2-phase agg:\n$plan")
  }

  test("brute-force top-k compiles to TakeOrderedAndProject (no global sort)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = graft.ops.Similarity.bruteForceTopK(e, "vec_id", "embedding",
      Array.fill(64)(0.1f), 10)
    val plan = physical(q)
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), "must not global-sort")
  }

  test("anchored char-class Str regexes strength-reduce to the byte-scan kernel") {
    val v = Validator.validate(docs, graft.queries.Catalog.docsChecklist.copy(
      fields = graft.queries.Catalog.docsChecklist.fields.filterNot(_.name == "lang2")),
      Validator.Options(rowIdCol = Some("doc_id")))
    val plan = physical(v)
    // source's ^src[0-9]$ AND the Int fields' ^-?\d+$ must both compile to
    // char_class_match — this checklist needs no regex engine at all
    assert(plan.contains("char_class_match"), s"expected kernel:\n$plan")
    assert(!plan.contains("RLIKE"),
      s"anchored class patterns must not fall back to rlike:\n$plan")
  }

  test("Bool fields strength-reduce to ascii_alt_match (no regex engine)") {
    import graft.model._
    val cl = Checklist("b", Seq(FieldDef("bs", FieldType.BoolT)))
    // parquet-backed input: a local Seq would constant-fold the whole
    // validate projection into a LocalTableScan and hide the expression
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"lang".as("bs"))
    val v = Validator.validate(df, cl, Validator.Options(rowIdCol = Some("bs")))
    val plan = physical(v)
    assert(plan.contains("ascii_alt_match"), s"expected kernel:\n$plan")
    assert(!plan.contains("RLIKE"),
      s"the Bool literal alternation must not fall back to rlike:\n$plan")
  }

  test("knnJoin: no Window exchange of scored pairs — bounded partial agg") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = graft.ops.Similarity.knnJoin(e, e.filter($"vec_id" < 5),
      "vec_id", "embedding", 3)
    val plan = physical(q)
    // the round-1 shape shuffled every scored (probe, corpus) row through a
    // Window; the scale-safe shape partial-aggregates a k-heap map-side
    assert(!plan.contains("Window"), s"knnJoin must not window-shuffle:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected typed agg:\n$plan")
    assert(plan.contains("partial_top_k_by_score"),
      s"expected map-side partial top-k before the exchange:\n$plan")
  }

  test("minhash pairs expand in collected buckets (no self-join); simhash keeps the guard") {
    // MinHash: pairs expand inside collected (bounded) buckets — past the
    // broadcast degenerate-bucket guard there must be NO equi-join of the
    // banded set with itself (a SortMergeJoin/ShuffledHashJoin there means
    // the plan re-shuffles and re-computes the signature pipeline twice).
    val mh = physical(graft.ops.Dedup.minhashCandidates(docs, "doc_id", "text"))
    assert(!mh.contains("Join"), s"minhash must be join-free:\n$mh")
    // guard fused into the capped collect: one scan, one shuffle
    assert(mh.contains("collect_sigs_capped"), "guard must be fused into the collect")
    assert("Scan parquet|FileScan".r.findAllIn(mh).length == 1,
      s"minhash must scan the corpus exactly once:\n$mh")
    assert(mh.contains("ObjectHashAggregate"), "capped collect must run in ObjectHashAggregate")
    // SimHash: quarter blocks collide broadly, so the pair path is a
    // streaming join BY DESIGN (see Dedup.simhashPairs) — but the
    // degenerate-block guard must still be a broadcast anti-join.
    val sh = physical(graft.ops.Dedup.simhashPairs(docs, "doc_id", "text"))
    assert(sh.contains("BroadcastHashJoin"), "oversized-block anti-join must broadcast")
  }

  test("pinned shuffle-merge self-joins reuse the a-side exchange (one scan per pair path)") {
    // The pair-generation self-joins in simhashPairs / blockedNgramPairs /
    // cosineNearDups are hinted shuffle-merge so both sides share ONE
    // exchange: left to AQE's broadcast pick, each side re-scans the corpus
    // and recomputes the signature pipeline (dd_simhash measured 4 full
    // scans end-to-end). Exchange reuse only materializes at runtime under
    // AQE, so execute and assert on the FINAL adaptive plan.
    def finalPlan(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    val sh = finalPlan(graft.ops.Dedup.simhashPairs(docs, "doc_id", "text"))
    assert(sh.contains("ReusedExchange"), s"simhash b-side must reuse:\n$sh")
    assert("FileScan".r.findAllIn(sh).length <= 2, // main + skew-safe guard count
      s"simhash must scan at most twice (join sides share one scan):\n$sh")
    val ng = finalPlan(graft.ops.Dedup.blockedNgramPairs(
      docs, "doc_id", "text", Seq("lang")))
    assert(ng.contains("ReusedExchange"), s"ngram b-side must reuse:\n$ng")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("block", col("vec_id") % 7)
    val cp = finalPlan(graft.ops.Dedup.cosineNearDups(emb, "vec_id", "embedding",
      "block", 0.5))
    assert(cp.contains("ReusedExchange"), s"cosine b-side must reuse:\n$cp")
  }

  test("sampling plans: hashSplit is shuffle-free; quotaSample aggregates, no Window") {
    val split = graft.ops.Sampling.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val sp = physical(split)
    assert(!sp.contains("Exchange"), s"hashSplit must not shuffle:\n$sp")
    val scored = docs.select(col("doc_id"), col("lang"),
      graft.ops.TextAnalysis.qualityScore(col("text")).as("s"))
    val qp = physical(graft.ops.Sampling.quotaSample(
      scored, Seq("lang"), "doc_id", "s", 5))
    // the whole point: bounded aggregate, not a per-group full shuffle
    assert(!qp.contains("Window"), s"quotaSample must not use a window:\n$qp")
    assert(qp.contains("ObjectHashAggregate") && qp.contains("partial_top_k_by_score"),
      s"quotaSample must partial-aggregate map-side:\n$qp")
  }

  test("curation plans: repetition metrics shuffle-free; contamination broadcasts the benchmark") {
    val rep = physical(graft.ops.Curation.repetitionMetrics(docs, "doc_id", "text"))
    assert(!rep.contains("Exchange"), s"repetition metrics must not shuffle:\n$rep")
    val bench = graft.ops.Curation.benchmarkShingles(
      docs.filter(col("doc_id") % 100 === 0), "text")
    val con = physical(graft.ops.Curation.contamination(docs, "doc_id", "text", bench))
    assert(con.contains("BroadcastHashJoin"),
      s"benchmark side must broadcast (corpus side stays shuffle-light):\n$con")
  }

  test("line dedup and vocabulary: no Window funnel, map-side partial aggregation") {
    // dedupLines: the winner side must collapse map-side (partial_min on
    // the line key), and the first-wins choice must NOT be a row_number
    // window — a window partitioned by line both funnels AND sorts every
    // copy of a hot line in one task; the join formulation still shuffles
    // probe-side copies by line but AQE's skew split can break that up,
    // which it cannot do for a window.
    val dl = physical(graft.ops.Curation.dedupLines(docs, "doc_id", "text"))
    assert(!dl.contains("Window"), s"line dedup must not use a window:\n$dl")
    assert(dl.contains("partial_min"),
      s"winner selection must partial-aggregate map-side:\n$dl")
    // vocabulary: the canonical word-count — partial counts shuffle on the
    // token key, never raw token rows via a window.
    val v = physical(graft.ops.TextAnalysis.vocabulary(
      docs, "doc_id", "text", nDocs = Some(1)))
    assert(!v.contains("Window"), s"vocabulary must not use a window:\n$v")
    assert(v.contains("partial_count"),
      s"token counts must partial-aggregate map-side:\n$v")
    // tfidfKeywords: after the one vocab aggregation the scoring + top-k
    // is a single shuffle-free projection — the idf rides a broadcast map
    // kernel, never a join, and per-doc top-k is array-local, never a
    // window or a re-aggregation.
    val kw = physical(graft.ops.TextAnalysis.tfidfKeywords(
      docs, "doc_id", "text", k = 3, nDocs = Some(1)))
    assert(!kw.contains("Join") && !kw.contains("Window"),
      s"keyword scoring must not join or window:\n$kw")
    assert(!kw.contains("Exchange"),
      s"keyword scoring must be shuffle-free after the vocab pass:\n$kw")
  }

  test("bucketed layout: join and aggregation on the bucket key are exchange-free") {
    val a = (0L until 200L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (0L until 200L).map(i => (i, s"b$i")).toDF("k", "vb")
    graft.sources.BucketedTable.write(a, "bt_a", Seq("k"), 4)
    graft.sources.BucketedTable.write(b, "bt_b", Seq("k"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the sort-merge path: a broadcast join would trivially have no
    // shuffle Exchange; the claim under test is bucket CO-LOCATION
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = graft.sources.BucketedTable.colocatedJoin(
        spark, "bt_a", "bt_b", Seq("k"))
      assert(j.count() === 200)
      val jp = physical(j)
      assert(jp.contains("SortMergeJoin") && !jp.contains("Exchange"),
        s"co-located join must not shuffle:\n$jp")
      val ap = physical(spark.table("bt_a").groupBy("k").count())
      assert(!ap.contains("Exchange"),
        s"bucket-key aggregation must not shuffle:\n$ap")
      // declared-layout mismatches fail fast instead of silently shuffling
      intercept[IllegalArgumentException] {
        graft.sources.BucketedTable.colocatedJoin(spark, "bt_a", "bt_b", Seq("va"))
      }
      // joining on a PROPER SUBSET of the bucket key is NOT co-located
      // (rows equal on k alone can sit in different (k, va) buckets) and
      // must be rejected, not silently shuffled
      graft.sources.BucketedTable.write(a, "bt_c", Seq("k", "va"), 4)
      intercept[IllegalArgumentException] {
        graft.sources.BucketedTable.colocatedJoin(spark, "bt_c", "bt_c", Seq("k"))
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bt_a")
      spark.sql("DROP TABLE IF EXISTS bt_b")
      spark.sql("DROP TABLE IF EXISTS bt_c")
    }
  }

  test("rangeJoin plans an equi-join on the bucket — never a nested loop, " +
      "even keyless") {
    val pts = (0 until 200).map(i => (i.toLong, i.toLong * 7 % 1000))
      .toDF("pid", "p")
    val ivs = (0 until 50).map(j => (j.toLong * 19 % 1000, j.toLong * 19 % 1000 + 40, j.toLong))
      .toDF("s", "e", "iid")
    // the naive keyless formulation: Catalyst has only range predicates,
    // so it MUST plan a nested-loop/cartesian — the 100 TB scale-killer
    val naive = physical(pts.join(ivs, col("p") >= col("s") && col("p") <= col("e")))
    assert(naive.contains("BroadcastNestedLoopJoin") || naive.contains("Cartesian"),
      s"expected the naive plan to be a nested loop:\n$naive")
    // the bucketized rewrite equi-joins on the derived bucket column
    val plan = physical(graft.ops.Joins.rangeJoin(
      pts, ivs, Seq.empty, "p", "s", "e", bucketWidth = 64))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("Cartesian"),
      s"rangeJoin must never nested-loop:\n$plan")
    assert(plan.contains("__pb"), s"bucket key must drive the join:\n$plan")
  }

  test("saltedJoin: the salt is part of the shuffle keys on both sides") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = (0 until 300).map(i => (i.toLong, s"k${i % 3}")).toDF("id", "key")
      val small = Seq(("k0", 1.0), ("k1", 2.0), ("k2", 3.0)).toDF("key", "w")
      val plan = physical(graft.ops.Joins.saltedJoin(big, small, Seq("key"), 8))
      // both Exchange hashpartitionings must carry (key, __salt) — the
      // whole point: a hot key's rows land on 8 reducers, not 1
      val exchanges = plan.linesIterator.filter(_.contains("hashpartitioning")).toSeq
      assert(exchanges.nonEmpty, s"expected a shuffled join:\n$plan")
      assert(exchanges.forall(_.contains("__salt")),
        s"every shuffle must partition by the salt too:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("stratifiedSample is a shuffle-free codegen'd filter") {
    // over a real file source (a local Seq folds the filter away entirely)
    val plan = physical(graft.ops.Sampling.stratifiedSample(
      docs, "source", "doc_id", Map("src0" -> 0.5, "src1" -> 1.0)))
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
    assert(plan.contains("*("), "sampling filter must be codegen'd")
  }

  test("bm25 / weighted-sample / moments plans: bounded partial " +
      "aggregation, no Window, no global Sort") {
    val df = (0 until 200).map(i => (i.toLong, s"hash join doc $i", i % 97 + 1.0))
      .toDF("id", "text", "w").repartition(4)
    val plans = Seq(
      "bm25" -> physical(graft.ops.TextAnalysis.bm25TopK(
        df, "id", "text", Seq("hash"), 5)),
      "wsample" -> physical(graft.ops.Sampling.weightedSample(df, "id", "w", 5)),
      "moments" -> physical(graft.quality.ColumnStats.moments(
        df.withColumn("g", col("id") % 3), "w", Seq("g"))))
    for ((name, plan) <- plans) {
      assert(!plan.contains("Window"), s"$name must not window:\n$plan")
      assert(!plan.contains("Sort ["), s"$name must not globally sort:\n$plan")
      assert(plan.contains("partial"), s"$name must partial-aggregate:\n$plan")
    }
    assert(plans(0)._2.contains("top_k_by_score") &&
      plans(1)._2.contains("top_k_by_score"))
  }

  test("round-5 plans: PQ ADC is projection + TakeOrderedAndProject; " +
      "boilerplate probe join broadcasts; PQ/semantic assignment shuffle-free") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cbs = Array.fill(8, 4, 8)(0.1)
    val pq = graft.ops.Similarity.pqAdcTopK(e, "vec_id", "embedding",
      Array.fill(64)(0.1f), 10, cbs)
    val pqPlan = physical(pq)
    assert(pqPlan.contains("TakeOrderedAndProject"), s"PQ top-k:\n$pqPlan")
    assert(!pqPlan.contains("Exchange"), s"encode+score must not shuffle:\n$pqPlan")
    assert(pqPlan.contains("pq_encode") && pqPlan.contains("pq_adc_score"))

    // the boilerplate table is pigeonhole-bounded — both its dim join and
    // the probe join back onto the lines must be broadcasts, so the big
    // lines side is never exchanged for the join (only the aggregations
    // and final per-doc groupBy shuffle)
    val bp = graft.ops.Curation.stripBoilerplate(
      docs.filter($"text".isNotNull), "doc_id", "text", "lang")
    val bpPlan = physical(bp).split("== Initial Plan ==").head
    assert(bpPlan.contains("BroadcastHashJoin"), s"probe join:\n$bpPlan")
    assert(!bpPlan.contains("SortMergeJoin"), s"no sort-merge probe:\n$bpPlan")

    // semantic-dedup cluster assignment: one codegen'd projection, the
    // centroids ride the closure — no join, no shuffle before pairing
    val assigned = e.select($"vec_id",
      graft.ops.Similarity.nearestCentroid($"embedding", Array.fill(4)(
        Array.fill(64)(0.05))).as("cluster"))
    val aPlan = physical(assigned)
    assert(!aPlan.contains("Exchange") && aPlan.contains("l2sq_to"),
      s"assignment must be a shuffle-free kernel projection:\n$aPlan")
  }

  test("partition filter prunes input partitions in the checkpoint slice") {
    val base = java.nio.file.Files.createTempDirectory("graft_prune").toString
    CodeFiles.generate(spark, 200)
      .withColumn("part", (col("id") % 4).cast("string"))
      .write.partitionBy("part").parquet(s"$base/in")
    val slice = spark.read.parquet(s"$base/in").filter(col("part") === "2")
    val plan = physical(slice)
    assert(plan.contains("PartitionFilters") && plan.contains("part#"),
      s"partition filter must prune directories:\n$plan")
  }

  test("open-vocabulary TF-IDF/LM join paths: no driver map, no Window — " +
      "token-keyed joins plus bounded per-doc top-k") {
    val kw = graft.ops.TextAnalysis.tfidfKeywordsJoin(docs, "doc_id", "text", 3)
    val kp = physical(kw)
    // the whole point of the path: the vocabulary NEVER becomes a driver
    // map (broadcast_map_lookup is the map path's kernel) and per-doc
    // top-k is the bounded aggregate, not a row_number window funnel
    assert(!kp.contains("broadcast_map_lookup"),
      s"join path must not ship a driver vocab map:\n$kp")
    assert(!kp.contains("Window"), s"top-k must not be a window:\n$kp")
    assert(kp.contains("ObjectHashAggregate") && kp.contains("partial_top_k_tokens"),
      s"per-doc top-k must partial-aggregate map-side:\n$kp")
    val (modelDf, oov) = graft.ops.TextAnalysis.lmModelDf(docs, "text")
    val lm = graft.ops.TextAnalysis.lmScoreJoin(docs, "doc_id", "text",
      (modelDf, oov))
    val lp = physical(lm)
    assert(!lp.contains("broadcast_map_lookup"),
      s"lm join path must not ship a driver vocab map:\n$lp")
    assert(!lp.contains("Window"), s"lm join path must not window:\n$lp")
  }

  test("asofJoinSkewSafe: the row-level window partitions by (key, bucket) " +
      "— no single-partition funnel for a hot key") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("event_id", "user_id", "ts")
    val q = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select((col("o_custkey") % 150).as("user_id"),
        col("o_orderdate").cast("timestamp").as("qts"),
        col("o_orderkey").as("order_key"))
    val p = physical(graft.ops.Joins.asofJoinSkewSafe(
      ev, q, "user_id", "ts", "qts", 86400L * 1000000L))
    // the expensive window (rows-scale carry-forward) must hash-partition
    // on BOTH the key and the time bucket; only the bucket-scale carry
    // window may partition on the key alone
    val rowWindow = p.linesIterator.find(l =>
      l.contains("Window") && l.contains("__ts"))
    assert(rowWindow.isDefined, s"row-level window missing:\n$p")
    assert(rowWindow.get.contains("__tb"),
      s"row-level window must partition by the time bucket too:\n${rowWindow.get}")
  }

  test("bm25SearchJoin: no Window, bounded per-query top-k, query-term " +
      "restriction joins before the tf aggregate") {
    import spark.implicits._
    val queries = Seq((1L, "hash"), (1L, "join"), (2L, "data"))
      .toDF("qid", "term")
    val p = physical(graft.ops.TextAnalysis.bm25SearchJoin(
      docs, "doc_id", "text", queries, "qid", "term", k = 10))
    assert(!p.contains("Window"), s"batch bm25 must not window:\n$p")
    assert(p.contains("partial_top_k_by_score"),
      s"per-query top-k must partial-aggregate map-side:\n$p")
  }

  test("association: the four joint-table consumers share ONE row-scale " +
      "scan+shuffle (exchange reuse), marginals/entropies are " +
      "dimension-scale") {
    // totals + three entropy branches all hang off the identical joint
    // groupBy(a,b) exchange — the row-scale work must run once, not 4x.
    // Exchange reuse materializes in the final adaptive plan.
    val df = graft.quality.ColumnStats.association(docs,
      Seq(("lang", "source")))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"),
      s"joint-cell exchange must be reused across consumers:\n$p")
    assert("FileScan".r.findAllIn(p).length == 1,
      s"association must scan the table exactly once:\n$p")
  }

  test("merge-on-read read path: delete-free tables keep the join-free " +
      "fast path; pending deletes apply as a BROADCAST anti-join") {
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("morplan").toFile
    root.delete()
    val r = root.getAbsolutePath
    SnapshotTable.commit(
      Seq((1L, "s0", "a"), (2L, "s0", "b"), (3L, "s1", "c"))
        .toDF("id", "source", "payload").coalesce(1), r, Seq("source"))

    // fast path: no pending deletes -> a plain scan, zero joins
    val clean = physical(SnapshotTable.read(spark, r))
    assert(!clean.contains("Join"), s"delete-free read must not join:\n$clean")

    // pending position + equality deletes -> anti-joins, both BROADCAST
    // (a trickle of deletes must never shuffle the 100 TB fact side)
    SnapshotTable.deleteWhereMoR(spark, r, col("payload") === "a")
    SnapshotTable.deleteByKeysMoR(Seq(3L).toDF("id"), r, Seq("id"))
    val df = SnapshotTable.read(spark, r)
    val plan = physical(df).split("== Initial Plan ==").head
    assert("BroadcastHashJoin.*LeftAnti".r.findAllIn(plan).length == 2,
      s"both pending delete kinds must apply as broadcast anti-joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"small delete sets must not sort-merge:\n$plan")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L))
  }

  test("event analytics plans: funnel folds in ONE user shuffle; " +
      "resample broadcasts the spine and never shuffles the grid join") {
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "A", 1.0))
      .toDF("user_id", "ts", "event_type", "value")

    // funnel: the per-user fold is a higher-order aggregate over the
    // collected step events — exactly one exchange (the user groupBy),
    // no Window, no self-join
    val fl = graft.ops.EventAnalytics.funnelLevels(
      ev, Seq("user_id"), "ts", "event_type", Seq("A", "B"), 3600L)
    val fPlan = physical(fl).split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(fPlan).length == 1,
      s"funnel must shuffle exactly once (user key):\n$fPlan")
    assert(!fPlan.contains("Window") && !fPlan.contains("Join"),
      s"funnel must not window or join:\n$fPlan")

    // resample: gap buckets GENERATE from the bucket aggregate (window +
    // explode) — the only join in the plan is the broadcast 1-row bounds
    // frame; there is no grid to outer-join, so nothing can degrade to a
    // row-scale sort-merge at any data size
    val rs = graft.ops.EventAnalytics.resample(
      ev, Seq("event_type"), "ts", "hour", round(sum("value"), 6))
    val rPlan = physical(rs).split("== Initial Plan ==").head
    assert(rPlan.contains("Generate"), s"gap explode expected:\n$rPlan")
    assert(rPlan.contains("BroadcastNestedLoopJoin"),
      s"bounds must broadcast:\n$rPlan")
    assert(!rPlan.contains("SortMergeJoin") &&
      !rPlan.contains("ShuffledHashJoin"),
      s"resample must never row-scale-join:\n$rPlan")
  }
}
