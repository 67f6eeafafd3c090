package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.SnapshotStore

/** The persisted dedup index: the nightly-ingest artifact d8 joins
  * against. The contract under test: (1) probing the index equals
  * probing the live corpus; (2) the probe's plan reads ONLY the index
  * parquet — no corpus text scan; (3) a batch MERGEs into the index so
  * the next ingest sees it. */
class DedupIndexSpec extends SparkSpec {

  test("index probe equals the live between-corpus probe, and scans no corpus text") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-index").toString
    val corpus = table("documents")
    val v0 = TextDedup.writeDedupIndex(corpus, col("doc_id"), col("text"), dir)
    assert(v0 == 0)

    // an incoming batch built IN MEMORY (so any parquet scan in the
    // probe's plan can only be the index): one doc copied verbatim
    // from the corpus (a guaranteed jaccard-1.0 near-dup) + one novel
    val copied = corpus.filter(col("doc_id") === 7L)
      .select("text").collect()(0).getString(0)
    val batch = Seq(
      (9001L, copied),
      (9002L, "zq wv xk pj qn bd gm lt rs fh cy dw en ok up")
    ).toDF("doc_id", "text")

    val probe = TextDedup.minHashLshPairsAgainstIndex(
      spark, dir, batch, col("doc_id"), col("text"), minJaccard = 0.1)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("graft-dedup-index"), s"no index scan in plan:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"corpus text rescanned — the index should be the only parquet source:\n$plan")

    val got = probe.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val live = TextDedup.minHashLshPairsBetween(corpus, batch,
        col("doc_id"), col("text"), minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == live)
    assert(got.contains((7L, 9001L, 1.0)), s"verbatim copy not found: $got")

    // maintenance: MERGE the batch into the index; the next ingest's
    // corpus side now includes it
    val v1 = TextDedup.updateDedupIndex(batch, col("doc_id"), col("text"), dir)
    assert(v1 == 1)
    val nCorpus = corpus.count()
    assert(TextDedup.readDedupIndex(spark, dir).count() == nCorpus + 2)
    val batch2 = Seq((9003L, copied)).toDF("doc_id", "text")
    val got2 = TextDedup.minHashLshPairsAgainstIndex(
        spark, dir, batch2, col("doc_id"), col("text"), minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both the original corpus doc AND the first batch's copy hit
    assert(got2.contains((7L, 9003L)) && got2.contains((9001L, 9003L)), s"$got2")
  }

  test("bucketed index probe: same results, no Exchange above index scans") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val corpus = table("documents")
    TextDedup.dropDedupIndexBucketed(spark, "dix")
    val v0 = TextDedup.writeDedupIndexBucketed(
      corpus, col("doc_id"), col("text"), "dix", buckets = 4)
    assert(v0 == 0)

    val copied = corpus.filter(col("doc_id") === 7L)
      .select("text").collect()(0).getString(0)
    val batch = Seq(
      (9001L, copied),
      (9002L, "zq wv xk pj qn bd gm lt rs fh cy dw en ok up")
    ).toDF("doc_id", "text")

    // force shuffle joins so the assertion is about bucketing (a
    // broadcast of the batch side would trivially have no exchange)
    val conf = spark.conf
    val oldBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val probe = TextDedup.minHashLshPairsAgainstBucketedIndex(
        spark, "dix", batch, col("doc_id"), col("text"), minJaccard = 0.1)

      // the claim: no Exchange sits BETWEEN a bucketed index scan and
      // the join that consumes it (exchanges over already-joined
      // results are the batch side's, and fine)
      def feedsDirectly(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => f.relation.bucketSpec.isDefined
        case j if j.children.length > 1 => false // join boundary
        case _ => p.children.exists(feedsDirectly)
      }
      val plan = probe.queryExecution.executedPlan
      assert(plan.collect {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }.size >= 2, "expected bands + docs bucketed scans in the plan")
      val shuffledIndexScans = plan.collect {
        case e: Exchange if feedsDirectly(e.child) => e
      }
      assert(shuffledIndexScans.isEmpty,
        s"index side got re-shuffled:\n${shuffledIndexScans.mkString("\n")}")

      val got = probe.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val live = TextDedup.minHashLshPairsBetween(corpus, batch,
          col("doc_id"), col("text"), minJaccard = 0.1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == live)
      assert(got.contains((7L, 9001L, 1.0)))

      // MERGE maintenance: next version sees the batch; old v dropped
      // only beyond the retained window
      val v1 = TextDedup.updateDedupIndexBucketed(
        batch, col("doc_id"), col("text"), "dix", buckets = 4)
      assert(v1 == 1)
      assert(spark.table("dix_docs").count() == corpus.count() + 2)
      val got2 = TextDedup.minHashLshPairsAgainstBucketedIndex(
          spark, "dix", Seq((9003L, copied)).toDF("doc_id", "text"),
          col("doc_id"), col("text"), minJaccard = 0.1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got2.contains((7L, 9003L)) && got2.contains((9001L, 9003L)), s"$got2")
      val v2 = TextDedup.updateDedupIndexBucketed(
        Seq((9004L, copied)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), "dix", buckets = 4)
      assert(v2 == 2)
      val names = spark.catalog.listTables().collect().map(_.name).toSet
      assert(!names.contains("dix_bands_v0") && !names.contains("dix_docs_v0"),
        "versions beyond the retained window should be dropped")
      assert(names.contains("dix_bands_v1") && names.contains("dix_bands_v2"))
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", oldBroadcast)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
      TextDedup.dropDedupIndexBucketed(spark, "dix")
    }
  }

  test("bucketed index delete: probe equals a fresh build of the survivors") {
    import spark.implicits._
    val corpus = table("documents")
    TextDedup.dropDedupIndexBucketed(spark, "ddel")
    TextDedup.dropDedupIndexBucketed(spark, "dfre")
    try {
      val copied = corpus.filter(col("doc_id") === 7L)
        .select("text").collect()(0).getString(0)
      val batch = Seq((9001L, copied), (9002L, copied))
        .toDF("doc_id", "text")
      TextDedup.writeDedupIndexBucketed(corpus, col("doc_id"), col("text"),
        "ddel", buckets = 4)
      TextDedup.updateDedupIndexBucketed(batch, col("doc_id"), col("text"),
        "ddel", buckets = 4)
      // takedown: doc 7 AND its first re-ingest leave the index
      val dels = Seq(7L, 9001L).toDF("doc_id")
      assert(TextDedup.deleteFromDedupIndexBucketed(dels, "ddel",
        buckets = 4) == 2)
      // reference: fresh build on exactly the surviving corpus
      TextDedup.writeDedupIndexBucketed(
        corpus.select("doc_id", "text").filter(col("doc_id") =!= 7L)
          .unionByName(batch.filter(col("doc_id") === 9002L)),
        col("doc_id"), col("text"), "dfre", buckets = 4)
      val probeBatch = Seq((9003L, copied)).toDF("doc_id", "text")
      val got = TextDedup.minHashLshPairsAgainstBucketedIndex(
          spark, "ddel", probeBatch, col("doc_id"), col("text"), 0.1)
        .collect().map(_.toString).sorted
      val fresh = TextDedup.minHashLshPairsAgainstBucketedIndex(
          spark, "dfre", probeBatch, col("doc_id"), col("text"), 0.1)
        .collect().map(_.toString).sorted
      assert(got.sameElements(fresh),
        "delete must probe like a fresh build of the survivors")
      // only the surviving copy still pairs; deleted ids are gone from
      // BOTH member tables (bands re-derive from the surviving docs)
      assert(got.nonEmpty)
      assert(spark.table("ddel_docs").join(dels, Seq("doc_id")).count() == 0)
      assert(spark.table("ddel_bands").join(dels, Seq("doc_id")).count() == 0)
    } finally {
      TextDedup.dropDedupIndexBucketed(spark, "ddel")
      TextDedup.dropDedupIndexBucketed(spark, "dfre")
    }
  }

  test("reband to the committed plan at a new bucket count rebuckets the bands") {
    import spark.implicits._
    val docs = (1 to 20).map(i => (i.toLong, s"w$i shared words here w${i + 1}"))
      .toDF("doc_id", "text")
    def bandBuckets(v: Int): Option[Int] = {
      val pb = graft.sources.BucketedStore.backingVersion(spark, "dbk", "bands", v)
      spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"dbk_bands_v$pb"))
        .bucketSpec.map(_.numBuckets)
    }
    TextDedup.dropDedupIndexBucketed(spark, "dbk")
    try {
      val v0 = TextDedup.writeDedupIndexBucketed(docs, col("doc_id"),
        col("text"), "dbk", buckets = 4)
      assert(bandBuckets(v0) === Some(4))
      // same (bands, rows) plan, different bucket count: a real reband
      val v1 = TextDedup.rebandDedupIndexBucketed(spark, "dbk",
        TextDedup.Bands, TextDedup.RowsPerBand, buckets = 8)
      assert(v1 === v0 + 1, "a bucket-count change must commit a version")
      assert(bandBuckets(v1) === Some(8))
      // now already at (plan, 8 buckets): the reband is the no-op
      assert(TextDedup.rebandDedupIndexBucketed(spark, "dbk",
        TextDedup.Bands, TextDedup.RowsPerBand, buckets = 8) === v1)
    } finally TextDedup.dropDedupIndexBucketed(spark, "dbk")
  }

  test("committedPlan of a not-yet-committed version is not pinned") {
    import spark.implicits._
    val docs = (1 to 20).map(i => (i.toLong, s"w$i shared words here w${i + 1}"))
      .toDF("doc_id", "text")
    TextDedup.dropDedupIndexBucketed(spark, "dcp")
    try {
      val v0 = TextDedup.writeDedupIndexBucketed(docs, col("doc_id"),
        col("text"), "dcp", buckets = 4)
      // asked before version v0+1 exists: the legacy default
      assert(TextDedup.committedPlan(spark, "dcp", v0 + 1) ===
        ((TextDedup.Bands, TextDedup.RowsPerBand)))
      val v1 = TextDedup.rebandDedupIndexBucketed(spark, "dcp", 16, 1,
        buckets = 4)
      assert(v1 === v0 + 1)
      assert(TextDedup.committedPlan(spark, "dcp", v1) === ((16, 1)),
        "the committed plan must win over the default read before it existed")
    } finally TextDedup.dropDedupIndexBucketed(spark, "dcp")
  }

  test("measured retune: reband re-derives bands only; probe follows the plan") {
    import spark.implicits._
    // a corpus whose near-dup pairs the default (4,4) mostly MISSES
    // (the BandingSpec miss-prone shape: jaccard ~0.17 pairs sit low
    // on the (4,4) S-curve, high on (16,1)'s)
    val docs = (1 to 12).flatMap { p =>
      val shared = (1 to 10).map(j => s"shared${p}_$j").mkString(" ")
      Seq((2L * p, s"${(1 to 20).map(j => s"ua${p}_$j").mkString(" ")} $shared"),
        (2L * p + 1, s"$shared ${(1 to 20).map(j => s"ub${p}_$j").mkString(" ")}"))
    }.toDF("doc_id", "text")
    TextDedup.dropDedupIndexBucketed(spark, "drt")
    try {
      val v0 = TextDedup.writeDedupIndexBucketed(docs, col("doc_id"),
        col("text"), "drt", buckets = 4)
      assert(TextDedup.committedPlan(spark, "drt", v0) ===
        (TextDedup.Bands, TextDedup.RowsPerBand))
      // probe a near-dup of doc 2's shared run: the default plan's
      // collision probability for a ~0.17 pair is ~0.003 — expect a miss
      val probeDoc = Seq((9001L,
        (1 to 10).map(j => s"shared1_$j").mkString(" ") + " " +
          (1 to 20).map(j => s"zz_$j").mkString(" "))).toDF("doc_id", "text")
      val before = TextDedup.minHashLshPairsAgainstBucketedIndex(
        spark, "drt", probeDoc, col("doc_id"), col("text"), 0.15).count()
      // index-resident operating report: no corpus text in the plan
      val report = TextDedup.lshOperatingReportFromIndex(spark, "drt", 0.15,
        Seq(("default", 4, 4), ("recall", 16, 1)))
      import org.apache.spark.sql.execution.FileSourceScanExec
      val scans = report.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.schema.fieldNames.toSeq
      }
      assert(scans.forall(!_.contains("text")),
        s"the index-resident report must not scan corpus text: $scans")
      // the measured loop picks the recall plan under a generous
      // budget and rebands to it
      val (chosen, newV) = TextDedup.rebandToBudget(spark, "drt", 0.15,
        Seq(("default", 4, 4), ("recall", 16, 1)),
        maxCandidatesPerPair = 1e6, buckets = 4)
      assert(chosen match {
        case graft.dedup.Banding.Chosen(op) => op.config == "recall"
        case _ => false
      }, s"chose $chosen")
      assert(newV.nonEmpty, "a different winning plan must reband")
      assert(TextDedup.committedPlan(spark, "drt", newV.get) === (16, 1))
      // the probe now follows the committed plan and finds the pair
      val after = TextDedup.minHashLshPairsAgainstBucketedIndex(
          spark, "drt", probeDoc, col("doc_id"), col("text"), 0.15)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after.contains((2L, 9001L)),
        s"retuned probe must find the near-dup (before=$before): $after")
      // and it equals the live between-corpus generator at that plan
      // ... via the report's own counts: re-running the loop is a
      // no-op (already at the winning plan)
      val (again, v2) = TextDedup.rebandToBudget(spark, "drt", 0.15,
        Seq(("default", 4, 4), ("recall", 16, 1)),
        maxCandidatesPerPair = 1e6, buckets = 4)
      assert((again match {
        case graft.dedup.Banding.Chosen(op) => op.config == "recall"
        case _ => false
      }) && v2.isEmpty,
        "re-running at the winning plan must not commit a new version")
      // an impossible budget (the bill is >= 1 whenever pairs exist,
      // since candidates contain the pairs) refuses every plan with
      // the TYPED over-budget outcome — never a silent ship, and
      // never confusable with a no-pairs corpus
      val (none, v3) = TextDedup.rebandToBudget(spark, "drt", 0.15,
        Seq(("recall16", 16, 1)), maxCandidatesPerPair = 0.5, buckets = 4)
      assert(none === graft.dedup.Banding.OverBudget && v3.isEmpty)
    } finally TextDedup.dropDedupIndexBucketed(spark, "drt")
  }

  test("retune on a no-near-dup corpus reads NoPairs, not OverBudget") {
    import spark.implicits._
    // every doc fully distinct — zero pairs in ANY config; the retune
    // must keep the committed plan and say WHY (the false-alarm class
    // the +Infinity bill would otherwise produce)
    val docs = (1 to 30).map { i =>
      (i.toLong, (1 to 25).map(j => s"only${i}_w$j").mkString(" "))
    }.toDF("doc_id", "text")
    TextDedup.dropDedupIndexBucketed(spark, "dnp")
    try {
      val v0 = TextDedup.writeDedupIndexBucketed(docs, col("doc_id"),
        col("text"), "dnp", buckets = 4)
      val (outcome, newV) = TextDedup.rebandToBudget(spark, "dnp", 0.15,
        Seq(("default", 4, 4), ("recall", 16, 1)),
        maxCandidatesPerPair = 10.0, buckets = 4)
      assert(outcome === graft.dedup.Banding.NoPairs)
      assert(newV.isEmpty, "nothing to dedup → the committed plan stands")
      assert(TextDedup.committedPlan(spark, "dnp", v0) ===
        (TextDedup.Bands, TextDedup.RowsPerBand))
      // the opt-out storage knob is accepted end to end (no
      // block-manager persistence for a nightly session that asks out)
      val (o2, _) = TextDedup.rebandToBudget(spark, "dnp", 0.15,
        Seq(("default", 4, 4)), maxCandidatesPerPair = 10.0, buckets = 4,
        storage = org.apache.spark.storage.StorageLevel.NONE)
      assert(o2 === graft.dedup.Banding.NoPairs)
    } finally TextDedup.dropDedupIndexBucketed(spark, "dnp")
  }

  test("readBandIndex feeds the streaming probe shape") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-band-index").toString
    val corpus = table("documents")
    TextDedup.writeDedupIndex(corpus, col("doc_id"), col("text"), dir)
    val idx = TextDedup.readBandIndex(spark, dir)
    assert(idx.columns.toSeq == Seq("doc_id", "band", "bsig"))
    // same rows as the in-memory band index
    val live = TextDedup.bandIndex(corpus, col("doc_id"), col("text"))
    assert(idx.count() == live.count())
    assert(idx.except(live).isEmpty && live.except(idx).isEmpty)
    // and it plugs into the streaming probe's static side
    val copied = corpus.filter(col("doc_id") === 7L)
      .select("text").collect()(0).getString(0)
    val hits = graft.streaming.CurationStream.nearDupFlagStream(
        Seq((9001L, copied)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), idx)
      .select("corpus_doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(hits.contains(7L))
    SnapshotStore.read(spark, dir).foreach(df => assert(df.count() > 0))
  }
}
