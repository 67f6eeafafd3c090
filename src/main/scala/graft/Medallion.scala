package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.{SnapshotStore, Tables, Watermark}

/** End-to-end medallion pipeline over the claims-shaped feed — the
  * orchestration the reference runs as DataFactory pipeline → notebook
  * chain (PLclaims_bronze: LookupWatermark → bronze notebook → silver
  * notebook → warehouse upsert, with run-metric exits).
  *
  * One call = one incremental run:
  *  1. read the watermark, filter the orders feed to new claim dates;
  *  2. Bronze: dedupe latest-per-claim, DQ-split, MERGE the clean rows
  *     into the bronze [[SnapshotStore]];
  *  3. Silver: build the pseudonymized fact from bronze and MERGE it;
  *     extract the patient dimension;
  *  4. Gold: refresh the measure rollup snapshot from the fact;
  *  5. advance the watermark to the max ingested claim date and return
  *     the per-stage run-metrics frame (the IngestionLogs record).
  *
  * Scale: every stage is the library operator it names — the
  * composition adds no extra shuffles; stores are versioned snapshots
  * with atomic pointer swaps so concurrent readers are never blocked.
  */
object Medallion {

  private val Salt = "graft_pii_salt_2024"
  private val DefaultStatuses = Seq("F", "O", "P")

  /** The variable names the parameterized overloads read — the
    * VL_claims declaration set (source/work locations, the PII salt,
    * the DQ status domain, the retry policy). Callers build value sets
    * over THIS library (or their own superset) and hand [[run]] /
    * [[runResilient]] a resolved set — same pipeline, any environment,
    * zero code change (spec-asserted under two value sets).
    *
    * Location defaults are environment-sourced, not baked-in host
    * paths: `source_dir` comes from `GRAFT_SOURCE_DIR` (empty when
    * unset — [[run]] fails fast with a clear message rather than
    * silently reading a machine-specific path), `work_dir` from
    * `GRAFT_WORK_DIR` falling back to a `graft_medallion` dir under
    * the JVM temp dir. */
  val Variables: operators.VariableLibrary = operators.VariableLibrary(
    variables = Map(
      "source_dir" -> sys.env.getOrElse("GRAFT_SOURCE_DIR", ""),
      "work_dir" -> sys.env.getOrElse("GRAFT_WORK_DIR",
        s"${sys.props("java.io.tmpdir")}/graft_medallion"),
      "pii_salt" -> Salt,
      "valid_statuses" -> DefaultStatuses.mkString(","),
      "max_attempts" -> "2"))

  /** [[run]] under an environment's resolved variable set (the
    * VL_claims consumption shape). */
  def run(spark: SparkSession,
          vars: operators.ResolvedVariables): DataFrame =
    run(spark, vars("source_dir"), vars("work_dir"), vars("pii_salt"),
      vars.list("valid_statuses"))

  /** [[runResilient]] under an environment's resolved variable set. */
  def runResilient(spark: SparkSession, vars: operators.ResolvedVariables,
                   runId: String): DataFrame =
    runResilient(spark, vars("source_dir"), vars("work_dir"), runId,
      vars.int("max_attempts"), vars("pii_salt"),
      vars.list("valid_statuses"))

  /** Run one incremental pass; returns the run-metrics DataFrame
    * (stage, rows). Layout under `workDir`: bronze/, fact/, gold/,
    * watermark.json. */
  def run(spark: SparkSession, sfDir: String, workDir: String,
          salt: String = Salt,
          validStatuses: Seq[String] = DefaultStatuses): DataFrame = {
    require(sfDir.nonEmpty, "source_dir is empty — set it in the value " +
      "set (or export GRAFT_SOURCE_DIR) before running the pipeline")
    require(workDir.nonEmpty, "work_dir is empty — set it in the value " +
      "set (or export GRAFT_WORK_DIR) before running the pipeline")
    import spark.implicits._
    val wmPath = s"$workDir/watermark.json"

    // 1. incremental slice of the feed (cached: consumed by the bronze
    // chain AND the stats pass below — without it each action re-reads
    // and re-filters the feed)
    val fresh = freshSlice(spark, sfDir, wmPath).cache()

    // 2. Bronze: latest per claim, DQ gate, MERGE clean. The flagged
    // frame is cached so the clean/quarantined splits and the metric
    // counts all reuse one materialization of the dedup shuffle.
    val flagged = flaggedLatest(fresh, validStatuses).cache()

    // The run-metric aggregates are read-only probes of the cached
    // slices and the customer dim — independent of the store chain, so
    // they run as CONCURRENT jobs alongside it (overlap-independent-
    // jobs: the metric jobs back-fill executors the merge jobs leave
    // idle through their commit tails; cache block locks keep shared
    // materializations single-computed). Failures surface at the
    // joins below, before any value is used.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val dim = Dimensions.extract(
      Tables.load(spark, sfDir, "customer"),
      Seq("c_custkey", "c_name", "c_mktsegment"))
    val fFresh = scala.concurrent.Future(sliceStats(fresh))(ec)
    val fDq = scala.concurrent.Future(flagged.agg(
      sum(when(length(col(QualityRules.ReasonCol)) === 0, 1L).otherwise(0L)),
      sum(when(length(col(QualityRules.ReasonCol)) > 0, 1L).otherwise(0L)))
      .collect()(0))(ec)
    val fDim = scala.concurrent.Future(dim.count())(ec)

    try {
      SnapshotStore.mergeInto(cleanOf(flagged), s"$workDir/bronze", Seq("o_orderkey"))

      // 3. Silver: pseudonymized fact + patient dim
      SnapshotStore.mergeInto(
        factOf(SnapshotStore.read(spark, s"$workDir/bronze").get, salt),
        s"$workDir/fact", Seq("claim_id"))

      // 4. Gold: measure rollup snapshot off the merged fact. The
      // fact-store count reads the version the merge just committed —
      // concurrent with the gold aggregation over the same snapshot
      // (both read-only against committed files).
      val mergedFact = SnapshotStore.read(spark, s"$workDir/fact").get
      val fFact = scala.concurrent.Future(mergedFact.count())(ec)
      val gold = goldOf(mergedFact)
      SnapshotStore.commit(gold, s"$workDir/gold")

      // 5. advance watermark; emit run metrics (joining the concurrent
      // probes — same values, same one-pass aggregates as the
      // sequential form).
      import scala.concurrent.Await
      import scala.concurrent.duration.Duration
      val freshStats = Await.result(fFresh, Duration.Inf)
      advanceWatermark(wmPath, freshStats)
      val dqStats = Await.result(fDq, Duration.Inf)
      val metrics = Seq(
        ("fresh_rows", freshStats.getLong(0)),
        ("clean_rows", if (dqStats.isNullAt(0)) 0L else dqStats.getLong(0)),
        ("quarantined_rows", if (dqStats.isNullAt(1)) 0L else dqStats.getLong(1)),
        ("fact_rows", Await.result(fFact, Duration.Inf)),
        ("dim_rows", Await.result(fDim, Duration.Inf)),
        ("gold_rows", gold.count()))
        .toDF("stage", "rows")
      fresh.unpersist()
      flagged.unpersist()
      metrics
    } finally pool.shutdown(): Unit
  }

  // The stages [[run]] and [[runResilient]] share, each defined once.

  /** The orders feed past the watermark stored at `wmPath`. */
  private def freshSlice(spark: SparkSession, sfDir: String,
                         wmPath: String): DataFrame =
    Watermark.newerThan(Tables.load(spark, sfDir, "orders"),
      col("o_orderdate"), Watermark.read(wmPath))

  /** Latest row per claim, tagged with its DQ rule violations. */
  private def flaggedLatest(fresh: DataFrame,
                            validStatuses: Seq[String]): DataFrame =
    QualityRules.withReasons(
      Dedup.latestByKeyAgg(fresh, Seq("o_orderkey"),
        struct(col("o_orderdate"), col("o_totalprice"))),
      Seq(QualityRules.Rule(col("o_totalprice") <= 0, "NonPositiveAmount"),
        QualityRules.Rule(!col("o_orderstatus").isin(validStatuses: _*),
          "UnknownStatus")))

  /** The flagged rows that broke no rule, without the reason column. */
  private def cleanOf(flagged: DataFrame): DataFrame =
    flagged.filter(length(col(QualityRules.ReasonCol)) === 0)
      .drop(QualityRules.ReasonCol)

  /** Silver: the pseudonymized claims fact. */
  private def factOf(bronze: DataFrame, salt: String): DataFrame =
    bronze.select(
      col("o_orderkey").as("claim_id"),
      Pii.saltedSha256(col("o_custkey"), salt).as("patient_key"),
      col("o_totalprice").as("amount"),
      col("o_orderdate").as("claim_date"),
      col("o_orderstatus").as("status"))

  /** Gold: the per-status measure rollup. */
  private def goldOf(fact: DataFrame): DataFrame =
    fact.groupBy(col("status"))
      .agg(count(lit(1)).as("n_claims"),
        Measures.decSum(col("amount")).as("total_amount"))

  /** (row count, max claim date) of a slice. */
  private def sliceStats(fresh: DataFrame): org.apache.spark.sql.Row =
    fresh.agg(count(lit(1)).as("n"), max(col("o_orderdate")).as("mx"))
      .collect()(0)

  /** Move the watermark to `stats`' max claim date; an empty increment
    * (null max) leaves it untouched. */
  private def advanceWatermark(wmPath: String,
                               stats: org.apache.spark.sql.Row): Unit =
    stats.get(1) match {
      case t: java.sql.Timestamp => Watermark.write(wmPath, t.toInstant)
      case d: java.time.LocalDateTime => // TIMESTAMP_NTZ read as UTC wall time
        Watermark.write(wmPath, d.toInstant(java.time.ZoneOffset.UTC))
      case _ =>
    }

  /** [[run]]'s chain expressed through [[operators.PipelineRunner]] —
    * the retry/failure-isolation posture of the reference's master
    * pipeline on the flagship chain itself. Stage order IS the
    * correctness argument: every store write is a MERGE/commit
    * (idempotent under replay — re-merging the same slice upserts the
    * same rows), and the watermark advances in the LAST stage only, so
    * any mid-run failure leaves the feed slice re-processable — the
    * retried or re-invoked run converges to exactly [[run]]'s end
    * state (spec-asserted against a parallel [[run]] work dir; that
    * parity spec is also the drift guard between the two forms).
    * Returns the deterministic run log (run_id, stage_no, stage,
    * status, attempts, rows). */
  def runResilient(spark: SparkSession, sfDir: String, workDir: String,
                   runId: String, maxAttempts: Int = 2,
                   salt: String = Salt,
                   validStatuses: Seq[String] = DefaultStatuses): DataFrame = {
    val wmPath = s"$workDir/watermark.json"
    PipelineRunner.run(spark, runId, Seq(
      PipelineStage("bronze", maxAttempts) { () =>
        SnapshotStore.mergeInto(
          cleanOf(flaggedLatest(freshSlice(spark, sfDir, wmPath), validStatuses)),
          s"$workDir/bronze", Seq("o_orderkey"))
        SnapshotStore.read(spark, s"$workDir/bronze").get.count()
      },
      PipelineStage("silver", maxAttempts) { () =>
        SnapshotStore.mergeInto(
          factOf(SnapshotStore.read(spark, s"$workDir/bronze").get, salt),
          s"$workDir/fact", Seq("claim_id"))
        SnapshotStore.read(spark, s"$workDir/fact").get.count()
      },
      PipelineStage("gold", maxAttempts) { () =>
        SnapshotStore.commit(goldOf(SnapshotStore.read(spark, s"$workDir/fact").get),
          s"$workDir/gold")
        SnapshotStore.read(spark, s"$workDir/gold").get.count()
      },
      // LAST, deliberately: a failure anywhere above leaves the
      // watermark untouched and the slice replayable
      PipelineStage("advance_watermark", maxAttempts) { () =>
        val st = sliceStats(freshSlice(spark, sfDir, wmPath))
        advanceWatermark(wmPath, st)
        st.getLong(0)
      }))
  }
}
