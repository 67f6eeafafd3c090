package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DupClusters (connected components) and Decontaminate (eval-overlap
  * flagging) — graph resolution and broadcast-side behavior. */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  test("connected components: chains resolve transitively to the min id") {
    // two components: a 6-node chain (diameter forces >1 round) and a pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L)).toDF("doc_a", "doc_b")
    val cc = DupClusters.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 6L).forall(cc(_) == 1L))
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(cc.size == 8, "only nodes present in pairs appear")
  }

  test("a 100-node chain converges in logarithmic rounds") {
    // diameter 99: one-hop propagation alone would need 99 rounds and
    // blow the default maxIter; pointer jumping must finish in ~log
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = DupClusters.connectedComponents(chain, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(cc.size == 100)
    assert(cc.values.forall(_ == 1L))
  }

  test("mergeComponents: incremental merge equals one-shot CC, untouched survive") {
    // stored state: three components {1..3}, {10,11}, {20,21}
    val pairs1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val stored = DupClusters.connectedComponents(pairs1)
    // batch: bridges {1..3} with {10,11} (via new doc 50), extends
    // {10,11} with 12, adds a brand-new pair (30,31), and re-links an
    // existing component internally (2,3 — a contracted self-loop).
    // {20,21} is untouched.
    val pairs2 = Seq((3L, 50L), (50L, 10L), (11L, 12L), (30L, 31L),
      (2L, 3L)).toDF("doc_a", "doc_b")
    val got = DupClusters.mergeComponents(stored, pairs2)
      .as[(Long, Long)].collect().toMap
    val oneShot = DupClusters.connectedComponents(
        pairs1.unionByName(pairs2))
      .as[(Long, Long)].collect().toMap
    assert(got === oneShot, "incremental merge must equal one-shot CC")
    // merged component takes the global min across old clusters + new
    assert(Seq(1L, 2L, 3L, 10L, 11L, 12L, 50L).forall(got(_) == 1L))
    assert(got(30L) == 30L && got(31L) == 30L)
    assert(got(20L) == 20L && got(21L) == 20L, "untouched component changed")
    // a batch with NO cross-component pairs leaves the store identical
    val noop = DupClusters.mergeComponents(stored,
        Seq((2L, 3L)).toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(noop === stored.as[(Long, Long)].collect().toMap)
    // chained incremental: a second merge over the first's output
    // still equals the one-shot over all three pair sets
    val pairs3 = Seq((31L, 21L), (12L, 60L)).toDF("doc_a", "doc_b")
    val got2 = DupClusters.mergeComponents(
        DupClusters.mergeComponents(stored, pairs2), pairs3)
      .as[(Long, Long)].collect().toMap
    val oneShot2 = DupClusters.connectedComponents(
        pairs1.unionByName(pairs2).unionByName(pairs3))
      .as[(Long, Long)].collect().toMap
    assert(got2 === oneShot2, "chained incremental merges must compose")
  }

  test("survivors: keeps each cluster's min id and every non-dup doc") {
    val docs = (1L to 12L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val kept = DupClusters.survivors(docs, "doc_id", pairs)
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L, 6L, 7L, 9L, 10L, 11L, 12L))
  }

  test("attritionReport: stages chain and agree with the pipeline itself") {
    val docs = table("documents")
    val eval = docs.filter(col("doc_id") % 25 === 0)
    val rows = graft.LlmCuration.attritionReport(docs, eval,
        col("doc_id"), col("text"))
      .orderBy("stage_no").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).toSeq ===
      Seq("gate", "exact_dedup", "near_dup", "decontam"))
    // each stage's output IS the next stage's input (no gaps, no
    // double counting), attrition is monotone non-increasing
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 === b._3, s"stage ${a._2} out != stage ${b._2} in")
    }
    assert(rows.head._3 === docs.count())
    rows.foreach { case (_, st, in, out) =>
      assert(out <= in, s"stage $st grew the corpus") }
    // the report's final survivor count equals the pipeline the report
    // describes (they share the SAME factored stage functions)
    val survivors = graft.LlmCuration.runDecontaminated(docs, eval,
      col("doc_id"), col("text")).count()
    assert(rows.last._4 === survivors, "report disagrees with pipeline")
  }

  test("runSelected: stages chain, dsir caps at k, report equals pipeline") {
    val docs = table("documents")
    val eval = docs.filter(col("doc_id") % 25 === 0)
    val labeled = docs.filter(
      graft.operators.Sampling.hashBucket(col("doc_id"), 5) =!= 0)
    val target = docs.filter(col("source").isin("src0", "src1"))
    def report(minMargin: Double, k: Int) =
      graft.LlmCuration.attritionReportSelected(docs, eval, labeled, target,
        col("doc_id"), col("text"), col("lang"),
        keepLabel = "en", minMargin = minMargin, k = k)
    val rows = report(1.0, 20).orderBy("stage_no").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).toSeq === Seq("gate", "exact_dedup", "near_dup",
      "model_gate", "dsir_select", "decontam"))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 === b._3, s"stage ${a._2} out != stage ${b._2} in")
    }
    rows.foreach { case (_, st, in, out) =>
      assert(out <= in, s"stage $st grew the corpus") }
    // dsir_select emits exactly k (the pool here exceeds k)
    val dsirRow = rows.find(_._2 == "dsir_select").get
    assert(dsirRow._3 > 20 && dsirRow._4 === 20L)
    // report and pipeline share the factored stages — final counts agree
    val survivors = graft.LlmCuration.runSelected(docs, eval, labeled,
      target, col("doc_id"), col("text"), col("lang"),
      keepLabel = "en", minMargin = 1.0, k = 20).count()
    assert(rows.last._4 === survivors, "report disagrees with pipeline")
    // a stricter margin can only shrink the model gate's admissions
    val strict = report(50.0, 20).orderBy("stage_no").collect()
      .map(r => (r.getString(1), r.getLong(3))).toMap
    assert(strict("model_gate") <= rows.find(_._2 == "model_gate").get._4)
  }

  test("serving twin: frozen artifacts replay runSelected exactly " +
    "(ids AND attrition rows)") {
    val docs = table("documents")
    val eval = docs.filter(col("doc_id") % 25 === 0)
    val labeled = docs.filter(
      graft.operators.Sampling.hashBucket(col("doc_id"), 5) =!= 0)
    val target = docs.filter(col("source").isin("src0", "src1"))
    val (m, pri, dsir) = graft.LlmCuration.selectionArtifacts(docs,
      labeled, target, col("doc_id"), col("text"), col("lang"),
      keepLabel = "en", minMargin = 1.0)
    Seq(m, pri, dsir).foreach(_.persist().count())
    try {
      // the selected, decontaminated id set is bit-identical — the
      // frozen DSIR model makes the Gumbel draw replay exactly (no
      // threshold approximation: this is the batch serving contract)
      val lifecycle = graft.LlmCuration.runSelected(docs, eval, labeled,
          target, col("doc_id"), col("text"), col("lang"),
          keepLabel = "en", minMargin = 1.0, k = 20)
        .as[Long].collect().sorted.toSeq
      val serving = graft.LlmCuration.runSelectedServing(docs, eval,
          m, pri, dsir, col("doc_id"), col("text"),
          keepLabel = "en", minMargin = 1.0, k = 20)
        .as[Long].collect().sorted.toSeq
      assert(serving === lifecycle,
        "the frozen-artifact serving chain must replay the lifecycle run")
      assert(serving.nonEmpty, "fixture must select something")
      // attrition twins agree row for row
      val a = graft.LlmCuration.attritionReportSelected(docs, eval,
          labeled, target, col("doc_id"), col("text"), col("lang"),
          keepLabel = "en", minMargin = 1.0, k = 20)
        .orderBy("stage_no").collect().map(_.toSeq).toSeq
      val b = graft.LlmCuration.attritionReportServing(docs, eval,
          m, pri, dsir, col("doc_id"), col("text"),
          keepLabel = "en", minMargin = 1.0, k = 20)
        .orderBy("stage_no").collect().map(_.toSeq).toSeq
      assert(b === a, "serving attrition must equal the lifecycle report")
    } finally Seq(m, pri, dsir).foreach(_.unpersist(): Unit)
  }

  test("runSelected plan: broadcast model scoring, bounded-heap selection") {
    val docs = table("documents")
    // storage = NONE opts out of the stage-boundary plan truncation
    // (Caching.staged), leaving the fully-composed lazy plan — the
    // shipped default truncates at stage boundaries, which hides the
    // upstream stages' join/heap shapes from the FINAL frame's plan;
    // the operators compose identically either way, so the assertions
    // keep their force on the untruncated form
    val out = graft.LlmCuration.runSelected(docs,
      docs.filter(col("doc_id") % 25 === 0),
      docs.filter(graft.operators.Sampling.hashBucket(col("doc_id"), 5) =!= 0),
      docs.filter(col("source").isin("src0", "src1")),
      col("doc_id"), col("text"), col("lang"),
      keepLabel = "en", minMargin = 1.0, k = 20,
      storage = org.apache.spark.storage.StorageLevel.NONE)
    val plan = out.queryExecution.executedPlan.toString
    // the NB scoring / DSIR model joins and the k-row selection
    // join-back are broadcast equi-joins (the model frames are
    // vocabulary/bucket-sized, the selection k rows)
    assert(plan.contains("BroadcastHashJoin"),
      s"selected chain plans no broadcast join:\n$plan")
    // the Gumbel top-k is a bounded TakeOrderedAndProject (a heap per
    // partition), not a global ranking window
    assert(plan.contains("TakeOrderedAndProject"),
      s"DSIR selection is not a bounded top-k:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"selected chain plans a cartesian product:\n$plan")
  }

  test("decontam: flags exactly the docs sharing a 5-gram; filter drops them") {
    val eva = Seq((100L, "the quick brown fox jumps over a lazy dog"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "he said the quick brown fox jumps right past us"), // shares 1
      (2L, "completely unrelated words with no overlap here at all"),
      (3L, "fox jumps over a lazy dog indeed")) // shares 2
      .toDF("doc_id", "text")
    val flagged = Decontaminate
      .contaminatedDocs(train, eva, col("doc_id"), col("text"), n = 5)
      .as[(Long, Long)].collect().toMap
    assert(flagged == Map(1L -> 1L, 3L -> 2L))
    val clean = Decontaminate
      .applyFilter(train, eva, "doc_id", col("text"), n = 5)
      .select("doc_id").as[Long].collect().toSeq
    assert(clean == Seq(2L))
  }

  test("decontam plan broadcasts the eval side") {
    val docs = table("documents")
    val plan = Decontaminate.contaminatedDocs(
      docs.filter(col("doc_id") % 25 =!= 0),
      docs.filter(col("doc_id") % 25 === 0),
      col("doc_id"), col("text"), n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast-hash join on the eval shingle set:\n$plan")
  }

  test("bloom decontam: output identical to exact, even when the filter saturates") {
    val docs = table("documents")
    val train = docs.filter(col("doc_id") % 25 =!= 0)
    val eva = docs.filter(col("doc_id") % 25 === 0)
    val exact = Decontaminate
      .contaminatedDocs(train, eva, col("doc_id"), col("text"), n = 5)
      .as[(Long, Long)].collect().toMap
    val bloom = Decontaminate
      .bloomContaminatedDocs(train, eva, col("doc_id"), col("text"), n = 5)
      .as[(Long, Long)].collect().toMap
    assert(bloom == exact)
    // 256-bit filter on thousands of eval shingles: nearly every bit is
    // set, so nearly every training shingle becomes a candidate — the
    // exact verify must still reduce the output to the true hit set
    val saturated = Decontaminate
      .bloomContaminatedDocs(train, eva, col("doc_id"), col("text"), n = 5,
        bits = 256)
      .as[(Long, Long)].collect().toMap
    assert(saturated == exact)
  }

  test("bloom decontam plan: bitset broadcasts; eval set never broadcasts raw") {
    val docs = table("documents")
    val df = Decontaminate.bloomContaminatedDocs(
      docs.filter(col("doc_id") % 25 =!= 0),
      docs.filter(col("doc_id") % 25 === 0),
      col("doc_id"), col("text"), n = 5)
    val plan = df.queryExecution.executedPlan.toString
    // the probe joins the broadcast (word, mask) bitset table
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the bitset table to broadcast-hash join:\n$plan")
    // only the bitset carries explicit broadcast HINTs (one per probe
    // bit — the chained lookup joins) — the eval shingle set must stay
    // size-planned (on test data the planner may still auto-broadcast
    // it; at benchmark-suite scale it shuffles). The bitset is bounded
    // by bits/64 rows regardless of eval size, so its hints are safe;
    // a hint on the raw eval set would not be.
    val analyzed = df.queryExecution.analyzed.toString
    val nHints = "ResolvedHint".r.findAllIn(analyzed).length
    assert(nHints == 3, s"expected 3 broadcast hints (bitset x probe bits), got $nHints:\n$analyzed")
    // and the bit-AND filtering itself adds no aggregation: the only
    // aggregates left are the bitset build (word bit_or) and the final
    // per-doc count — the old posexplode + groupBy(doc_id, s) pass
    // (a corpus-shingle-sized shuffle) must stay gone
    assert(!plan.contains("count(distinct"),
      s"probe-bit AND must not need a distinct aggregation:\n$plan")
  }

  // ---- the stage-list runner: what a chain stores, shares and frees --

  /** (CacheManager entries, persistent RDD ids) of the session. */
  private def cacheState(): (Int, Set[Int]) =
    (org.apache.spark.sql.graft.CacheProbe.entryCount(spark),
      spark.sparkContext.getPersistentRDDs.keySet.toSet)

  /** c6's inputs: (docs, eval, labeled, target). */
  private def selectionInputs() = {
    val docs = table("documents")
    (docs, docs.filter(col("doc_id") % 25 === 0),
      docs.filter(graft.operators.Sampling.hashBucket(col("doc_id"), 5) =!= 0),
      docs.filter(col("source").isin("src0", "src1")))
  }

  /** (doc_id, url, html) pages over the test corpus; site3.com blocked. */
  private def crawlPages() = table("documents").select(col("doc_id"),
    concat(lit("http://site"), (col("doc_id") % 7).cast("string"),
      lit(".com/p/"), col("doc_id").cast("string")).as("url"),
    concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")).as("html"))

  test("attrition reports leave no cache entry or persistent RDD behind") {
    val (docs, eval, labeled, target) = selectionInputs()
    val (m, pri, dsir) = graft.LlmCuration.selectionArtifacts(docs,
      labeled, target, col("doc_id"), col("text"), col("lang"),
      keepLabel = "en", minMargin = 1.0)
    Seq(m, pri, dsir).foreach(_.persist().count())
    try {
      val reports = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "attritionReport" -> (() => graft.LlmCuration.attritionReport(docs,
          eval, col("doc_id"), col("text"))),
        "attritionReportSelected" -> (() =>
          graft.LlmCuration.attritionReportSelected(docs, eval, labeled,
            target, col("doc_id"), col("text"), col("lang"),
            keepLabel = "en", minMargin = 1.0, k = 20)),
        "attritionReportServing" -> (() =>
          graft.LlmCuration.attritionReportServing(docs, eval, m, pri, dsir,
            col("doc_id"), col("text"), keepLabel = "en", minMargin = 1.0,
            k = 20)),
        "attritionReportCrawl" -> (() =>
          graft.LlmCuration.attritionReportCrawl(crawlPages(), col("doc_id"),
            col("url"), col("html"), Seq("site3.com"), Nil)))
      reports.foreach { case (name, report) =>
        val before = cacheState()
        assert(report().collect().nonEmpty)
        assert(cacheState() === before,
          s"$name left cache state behind: before $before, after ${cacheState()}")
      }
    } finally Seq(m, pri, dsir).foreach(_.unpersist(): Unit)
  }

  test("a repeated runSelectedServing call shares every stored stage") {
    val (docs, eval, labeled, target) = selectionInputs()
    val (m, pri, dsir) = graft.LlmCuration.selectionArtifacts(docs,
      labeled, target, col("doc_id"), col("text"), col("lang"),
      keepLabel = "en", minMargin = 1.0)
    Seq(m, pri, dsir).foreach(_.persist().count())
    def serve() = graft.LlmCuration.runSelectedServing(docs, eval, m, pri,
        dsir, col("doc_id"), col("text"), keepLabel = "en", minMargin = 1.0,
        k = 20)
      .collect().map(_.getLong(0)).sorted.toSeq
    try {
      val first = serve()
      val after1 = cacheState()
      assert(serve() === first)
      assert(cacheState() === after1,
        s"the second identical call stored again: $after1 -> ${cacheState()}")
    } finally {
      Seq(m, pri, dsir).foreach(_.unpersist(): Unit)
      spark.catalog.clearCache()
    }
  }

  test("attritionReportCrawl's survivors equal run over the same extracted corpus") {
    val pages = crawlPages()
    val rows = graft.LlmCuration.attritionReportCrawl(pages, col("doc_id"),
        col("url"), col("html"), Seq("site3.com"), Nil)
      .orderBy("stage_no").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq ===
      Seq("url_gate", "extract", "gate", "exact_dedup", "near_dup"))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 === b._2, s"stage ${a._1} out != stage ${b._1} in") }
    // the same corpus built independently: allowed pages, extracted
    val allowed = graft.text.Urls.blocklistGate(pages, col("doc_id"),
      col("url"), Seq("site3.com")).filter(col("allowed")).select("doc_id")
    assert(rows.head._3 === allowed.count())
    assert(rows.head._3 < rows.head._2, "fixture must block some pages")
    val extracted = graft.text.Html.extract(pages.join(allowed, "doc_id"),
        col("doc_id"), col("html"))
      .select(col("doc_id"), col("extracted").as("text"))
      .filter(length(col("text")) > 0)
    assert(rows(1)._3 === extracted.count())
    val survivors = graft.LlmCuration.run(extracted, col("doc_id"),
      col("text")).count()
    assert(rows.last._3 === survivors, "crawl report disagrees with run")
  }

  test("c6 chain plans over stage leaves: analyzed plan no larger than before the cut change") {
    val (docs, eval, labeled, target) = selectionInputs()
    val out = graft.LlmCuration.runSelected(docs, eval, labeled, target,
      col("doc_id"), col("text"), col("lang"),
      keepLabel = "en", minMargin = 1.0, k = 100)
    // the tree the analyzer and optimizer walk (a cached relation's
    // physical plan is display-only, not a child); attribute ids and
    // the leaf kind (stage leaf vs checkpoint RDD) are normalized away
    val nodes = out.queryExecution.analyzed.collect {
      case _: org.apache.spark.sql.catalyst.plans.logical.LeafNode => "leaf"
      case p => p.simpleString(25).replaceAll("#\\d+", "#")
    }
    // the localCheckpoint cut this one replaced planned the same chain
    // as 18 nodes / 531 normalized chars on this fixture: the leaf cut
    // must not grow what Catalyst walks
    val text = nodes.mkString("\n")
    assert(nodes.size <= 18 && text.length <= 531,
      s"c6's analyzed plan grew to ${nodes.size} nodes / ${text.length} chars:\n$text")
  }
}
