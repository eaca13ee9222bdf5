package graft.ibrd

import graft.warehouse.{CacheScope, DimDate, FactBuilder, Scd, ScdSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future, blocking}

/** The Kimball star build over staged LoanData (SURVEY.md §1.3/§2.4/§2.5):
  * seven SCD dims (dispositions from the SSIS `ColumnType` table in SURVEY
  * §2.5), a snowflaked country→region dimension (J3), the reference-shaped
  * DimDate keyed by lower-cased `dd-MMM-yyyy` strings (J2: the reference
  * joins date *strings* end-to-end), and Fact_Loan assembled through the
  * ten-lookup broadcast chain (J1) with fail-on-no-match probes.
  */
object IbrdWarehouse {

  val regionSpec = ScdSpec("region_BK", scd2 = Seq("region"), scd1 = Nil, sk = "PK_region_SK")
  val countrySpec = ScdSpec("country_BK", scd2 = Seq("country"),
    scd1 = Seq("country_code"), sk = "PK_country_SK")
  val borrowerSpec = ScdSpec("borrower_BK", scd2 = Nil,
    scd1 = Seq("borrower"), sk = "PK_borrower_SK")
  val guarantorSpec = ScdSpec("guarantor_BK", scd2 = Seq("guarantor"),
    scd1 = Seq("guarantor_country_code"), sk = "PK_guarantor_SK")
  val statusSpec = ScdSpec("loan_status_BK", scd2 = Seq("loan_status"), scd1 = Nil,
    sk = "PK_loan_status_SK")
  val typeSpec = ScdSpec("loan_type_BK", scd2 = Seq("loan_type"), scd1 = Nil,
    sk = "PK_loan_type_SK")
  val projectSpec = ScdSpec("project_id", scd2 = Seq("project_name_"), scd1 = Nil,
    sk = "PK_project_SK")

  final case class Star(
      dimRegion: DataFrame, dimCountry: DataFrame, dimBorrower: DataFrame,
      dimGuarantor: DataFrame, dimStatus: DataFrame, dimType: DataFrame,
      dimProject: DataFrame, dimDate: DataFrame, fact: DataFrame)

  /** Reference-shaped 16-column calendar (SURVEY.md §1.3 DimDate, metadata
    * `project SSIS!...loan_fact.dtsx:112`), keyed by the lower-cased
    * `dd-MMM-yyyy` date string the staging layer carries (FIXTURES.md §4).
    * `HolidayText` defaults to null — faithful to the reference, whose
    * out-of-repo populate script is the only source for it — but a real
    * calendar load passes its holiday table as `holidays`
    * (`yyyy-MM-dd` → text; constant-time codegen'd map lookup, no join). */
  def ibrdDimDate(spark: SparkSession, loYear: Int, hiYear: Int,
                  holidays: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    val bounds = Seq((s"$loYear-01-01", s"$hiYear-12-31")).toDF("lo", "hi")
      .select($"lo".cast("date").as("lo"), $"hi".cast("date").as("hi"))
    val d = col("cal_date")
    DimDate.fromRange(bounds.select(explode(array($"lo", $"hi")).as("dd")), "dd")
      .withColumnRenamed("date_sk", "DateSK")
      .withColumn("Date", lower(date_format(d, "dd-MMM-yyyy")))
      .withColumn("DaySuffix",
        concat(col("day").cast("string"),
          when(col("day") % 100 / 10 === 1, "th")
            .when(col("day") % 10 === 1, "st")
            .when(col("day") % 10 === 2, "nd")
            .when(col("day") % 10 === 3, "rd")
            .otherwise("th")))
      .withColumn("DayOfWeekName", date_format(d, "EEEE"))
      .withColumn("DOWInMonth", ((col("day") - 1) / 7 + 1).cast("int"))
      .withColumn("WeekOfYear", weekofyear(d).cast("int"))
      .withColumn("WeekOfMonth", // calendar-row of the month grid (year-boundary safe)
        (floor((col("day") + dayofweek(trunc(d, "month")) - 2) / 7) + 1).cast("int"))
      .withColumn("StandardDate", date_format(d, "yyyy-MM-dd"))
      .withColumn("HolidayText",
        if (holidays.isEmpty) lit(null).cast("string")
        else element_at(typedLit(holidays), col("StandardDate")))
  }

  /** Initial warehouse load from one staged batch.
    *
    * The staged input is LANDED once ([[CacheScope.land]]) before the
    * build fans out: seven dim pipelines, the dangling probe, and the fact
    * assembly all re-read it, and each would otherwise carry the entire
    * staging lineage in its plan — at the scaled batch (q103, 600k rows)
    * per-consumer analysis + whole-stage codegen of that repeated lineage
    * dominated the build's wall-clock. This is the warehouse's "land the
    * staging table" step made explicit; a cluster deployment with
    * executor-loss concerns passes data through a reliable `checkpoint()`
    * instead (same shape, durable storage).
    *
    * `factPid`: a (column name, bucket count) already carried by
    * `stagedIn` (from [[Clean.stageKeyed]]) — the fact dedup/SK window
    * then reuses the LANDED bucket id and its hash partitioning instead
    * of sampling its own bounds and exchanging the full-width batch a
    * second time (VERDICT r9 §next-6). */
  def build(spark: SparkSession, stagedIn: DataFrame, asOf: String = "2024-07-01",
            scope: CacheScope = CacheScope.untracked,
            factPid: Option[(String, Int)] = None): Star = {
    val staged = factPid.fold(scope.land(stagedIn))(_ => landKeyed(spark, stagedIn, scope))
    val Seq(dimRegion, dimCountry, dimBorrower, dimGuarantor, dimStatus, dimType,
      dimProject) = scdDims(staged, scope)((spec, rows, _) =>
        Scd.initialLoad(rows, spec, asOf, scope))
    // range covers observed fixture dates plus future snapshots
    // (incremental batches land after the initial load's year)
    val dd = ibrdDimDate(spark, 1990, 2026)
    val dims = Star(dimRegion, dimCountry, dimBorrower, dimGuarantor,
      dimStatus, dimType, dimProject, dd, null)
    dims.copy(fact = factRows(nonDangling(staged), staged, factLookups(dims), scope,
      factPid))
  }

  /** Incremental load: merge a new staged batch into every dimension
    * (SCD routing per spec) and append its fact rows — the per-batch run
    * the reference's 8 SSIS packages perform, made set-based (SURVEY §2.9
    * R2). Fact idempotence via the retained natural key: rows whose
    * (loan_number, end_of_period) are already loaded are not re-appended
    * (the reference double-loads, SURVEY §7 risk 5 — declared divergence).
    *
    * The input `star` must be MATERIALIZED tables (persisted + re-read,
    * e.g. via [[persist]]/[[load]]), exactly as a real warehouse stores
    * them between batches — chaining increments over raw lineage compounds
    * the plan until analysis itself becomes the bottleneck.
    *
    * The batch runs like [[build]]: `staged` is landed once, and the seven
    * merged dims are materialized concurrently ([[scdDims]]). The fact's
    * bucket bounds are sampled from the landed page, so nothing reads the
    * stored fact before the fact is written.
    *
    * Cache lifecycle: the landing, the 7 merged dims and each merge's
    * internals register against `scope`. The production loop — the
    * reference's hourly cadence, [[runBatch]] — owns a scope per batch and
    * releases it after [[persist]] has returned, or storage blocks grow
    * without bound (StreamingSpec asserts the flat profile). */
  def incremental(star: Star, staged: DataFrame, asOf: String,
                  scope: CacheScope = CacheScope.untracked): Star = {
    val landed = scope.land(staged)
    val Seq(dimRegion, dimCountry, dimBorrower, dimGuarantor, dimStatus, dimType,
      dimProject) = scdDims(landed, scope)((spec, rows, i) =>
        Scd.merge(dimsOf(star)(i), rows, spec, asOf, scope))
    val merged = Star(dimRegion, dimCountry, dimBorrower, dimGuarantor,
      dimStatus, dimType, dimProject, star.dimDate, star.fact)
    val factIn = nonDangling(landed)
      .join(star.fact.select(col("loan_number"), col("end_of_period")),
        Seq("loan_number", "end_of_period"), "left_anti")
    val maxSk = star.fact
      .agg(coalesce(max(col("PK_loan_number_SK")), lit(0L)).as("__max"))
    val appended = factRows(factIn, landed, factLookups(merged), scope)
      .crossJoin(broadcast(maxSk))
      .withColumn("PK_loan_number_SK", col("PK_loan_number_SK") + col("__max"))
      .drop("__max")
    merged.copy(fact = star.fact.unionByName(appended))
  }

  /** Land a keyed batch ([[Clean.stageKeyed]]) into `scope`. The keyed
    * landing must RETAIN its hash partitioning through the checkpoint:
    * under AQE the checkpoint's LogicalRDD is built while the adaptive
    * plan still reports Unknown partitioning (measured: the downstream
    * window then re-exchanges the full batch — exactly the exchange the
    * keyed path exists to delete), so that landing job runs with AQE off.
    * One fixed-shape job (fill window + broadcast join); nothing adaptive
    * to win there, and every later consumer still runs adaptively. The
    * override is SCOPED to a cloned session (advisor r10): toggling the
    * session-global conf would race concurrent builds and silently plan
    * unrelated concurrent queries with AQE off. The landing plan is
    * re-bound into the clone, the checkpoint executes under the clone's
    * conf, and the resulting LogicalRDD (session-free: just an RDD +
    * partitioning) is re-bound to the caller's session for every
    * downstream consumer. */
  private def landKeyed(spark: SparkSession, staged: DataFrame,
                        scope: CacheScope): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val isolated = Bridge.isolatedSession(spark)
    isolated.conf.set("spark.sql.adaptive.enabled", "false")
    val ck = scope.land(Bridge.ofRows(isolated, staged.queryExecution.logical))
    Bridge.ofRows(spark, ck.queryExecution.logical)
  }

  private def dimsOf(star: Star): Seq[DataFrame] = Seq(star.dimRegion, star.dimCountry,
    star.dimBorrower, star.dimGuarantor, star.dimStatus, star.dimType, star.dimProject)

  /** The seven SCD dims of one landed batch, in [[Star]] order, each
    * built by `scd(spec, rows, index)` from the batch's non-null-BK rows,
    * persisted into `scope` and MATERIALIZED — all CONCURRENTLY.
    * Construction is eager, not just declaration: SurrogateKeys' small-
    * dim fast path decides its plan shape from a count(), so each dim
    * runs a full-width distinct over the batch while it is declared —
    * serialized, the seven counts were a multi-second job tail (measured
    * on q103: ~5 s declaring, 0.6 s materializing; on the hourly batch the
    * seven merges were a third of the batch). Country chains on region
    * (snowflake: it carries the region SK resolved from region's current
    * rows — J3, `country_dimension.dtsx:1264-1287`); the other five are
    * independent. Dims are persisted, so every later reader hits the
    * cache. */
  private def scdDims(landed: DataFrame, scope: CacheScope)(
      scd: (ScdSpec, DataFrame, Int) => DataFrame): Seq[DataFrame] = {
    def dim(i: Int, spec: ScdSpec, in: DataFrame): DataFrame = {
      val d = scope.persist(scd(spec, in.filter(col(spec.bk).isNotNull), i))
      d.count()
      d
    }
    val regionCountry = () => {
      val dimRegion = dim(0, regionSpec, landed)
      val regionCurrent = dimRegion.filter(col("is_current"))
        .select(col("region_BK"), col("PK_region_SK"))
      Seq(dimRegion, dim(1, countrySpec.copy(fixed = Seq("PK_region_SK")),
        landed.join(broadcast(regionCurrent), Seq("region_BK"), "left")))
    }
    val others = Seq(borrowerSpec, guarantorSpec, statusSpec, typeSpec, projectSpec)
      .zipWithIndex.map { case (spec, i) => () => Seq(dim(i + 2, spec, landed)) }
    concurrently(landed.sparkSession)(regionCountry +: others).flatten
  }

  /** Runs `tasks` concurrently and returns their results in order — once
    * EVERY task has finished, rethrowing the first failure (in task
    * order) unchanged: a caller's `finally` may free caches or delete
    * storage the moment this returns, so no job of the batch may still be
    * running. SparkContext local properties are thread-local, and a pool
    * thread sees those of whichever thread created it, not of the caller,
    * so each task carries the caller's job group, description, interrupt
    * flag, scheduler pool and job tags —
    * `cancelJobGroup`/`cancelJobsWithTag` on a batch reaches every job it
    * submits, and listeners attribute them to it. Spark job submission is
    * thread-safe. */
  private def concurrently[A](spark: SparkSession)(tasks: Seq[() => A]): Seq[A] = {
    val sc = spark.sparkContext
    val keys = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel", "spark.scheduler.pool", "spark.job.tags")
    val callers = keys.map(k => k -> sc.getLocalProperty(k))
    def carried(task: () => A): A = {
      val own = keys.map(k => k -> sc.getLocalProperty(k))
      callers.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try blocking(task())
      finally own.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
    val running = tasks.map(t => Future(carried(t))(ExecutionContext.global))
    running.foreach(Await.ready(_, Duration.Inf))
    running.map(_.value.get.get)
  }

  private val tableNames = Seq("dim_region", "dim_country", "dim_borrower",
    "dim_guarantor", "dim_status", "dim_type", "dim_project", "dim_date",
    "fact_loan")

  private def starTables(star: Star): Seq[DataFrame] =
    dimsOf(star) ++ Seq(star.dimDate, star.fact)

  /** Materialize the star to a [[graft.sources.TableSink]] (overwrite):
    * the nine table writes run concurrently, and this returns — or
    * rethrows the first failure — only once every write has finished. */
  def persist(star: Star, sink: graft.sources.TableSink): Unit =
    concurrently(star.fact.sparkSession)(tableNames.zip(starTables(star)).map {
      case (n, df) => () => sink.overwrite(df, n)
    })

  /** One production batch, end to end: build (first batch) or merge
    * `staged` into the star stored in `prev`, materialize the result to
    * `next`, and release every engine cache the batch created — the
    * complete per-batch contract of the reference's hourly loop
    * (`pyspark_dag2.py:447-448`) in one call, so callers cannot forget
    * the release half (the storage-block leak StreamingSpec guards).
    * `prev`/`next` must target different storage (enforced on
    * `TableSink.location`): a lazy plan reading v(n) while overwriting
    * v(n) would delete its own input files mid-job — and two sinks on
    * one JDBC url are the same tables even as distinct objects. */
  def runBatch(spark: SparkSession, prev: Option[graft.sources.TableSink],
               staged: DataFrame, asOf: String,
               next: graft.sources.TableSink): Unit = {
    require(!prev.exists(_.location == next.location),
      s"runBatch must not read and overwrite the same storage " +
        s"('${next.location}') in one batch — use versioned sinks")
    val scope = new CacheScope
    try {
      val star = prev match {
        case None => build(spark, staged, asOf, scope)
        case Some(p) => incremental(load(spark, p), staged, asOf, scope)
      }
      persist(star, next)
    } finally scope.release()
  }

  /** Re-read a persisted star (fresh lineage rooted at the stored files). */
  def load(spark: SparkSession, sink: graft.sources.TableSink): Star = {
    val Seq(r, c, b, g, st, t, p, dd, f) =
      tableNames.map(sink.read(spark, _))
    Star(r, c, b, g, st, t, p, dd, f)
  }

  private def nonDangling(staged: DataFrame): DataFrame =
    staged.filter(
      col("country_BK").isNotNull && col("borrower_BK").isNotNull &&
        col("guarantor_BK").isNotNull && col("loan_status_BK").isNotNull &&
        col("loan_type_BK").isNotNull && col("region_BK").isNotNull)

  private def factLookups(star: Star): Seq[FactBuilder.Lookup] = {
    def cur(dim: DataFrame): DataFrame = dim.filter(col("is_current"))
    val dateDim = star.dimDate.select(col("DateSK"), col("Date"))
    Seq(
      FactBuilder.Lookup(cur(star.dimBorrower), col("borrower_BK"), "borrower_BK",
        Seq("PK_borrower_SK" -> "FK_borrower")),
      FactBuilder.Lookup(cur(star.dimGuarantor), col("guarantor_BK"), "guarantor_BK",
        Seq("PK_guarantor_SK" -> "FK_guarantor")),
      FactBuilder.Lookup(cur(star.dimCountry), col("country_BK"), "country_BK",
        Seq("PK_country_SK" -> "FK_country")),
      FactBuilder.Lookup(dateDim.withColumnRenamed("DateSK", "board_approval_sk"),
        col("board_approval_date"), "Date", Seq("board_approval_sk" -> "board_approval_sk")),
      FactBuilder.Lookup(cur(star.dimType), col("loan_type_BK"), "loan_type_BK",
        Seq("PK_loan_type_SK" -> "FK_loan_type")),
      FactBuilder.Lookup(cur(star.dimStatus), col("loan_status_BK"), "loan_status_BK",
        Seq("PK_loan_status_SK" -> "FK_loan_status")),
      FactBuilder.Lookup(dateDim.withColumnRenamed("DateSK", "End_period"),
        col("end_of_period"), "Date", Seq("End_period" -> "End_period")),
      FactBuilder.Lookup(dateDim.withColumnRenamed("DateSK", "first_repayment_sk"),
        col("first_repayment_date"), "Date", Seq("first_repayment_sk" -> "first_repayment_sk")),
      FactBuilder.Lookup(dateDim.withColumnRenamed("DateSK", "last_repayment_sk"),
        col("last_repayment_date"), "Date", Seq("last_repayment_sk" -> "last_repayment_sk")),
      FactBuilder.Lookup(cur(star.dimProject), col("project_id"), "project_id",
        Seq("PK_project_SK" -> "FK_project")))
  }

  private def factRows(factIn: DataFrame,
                       landed: DataFrame,
                       lookups: Seq[FactBuilder.Lookup],
                       scope: CacheScope,
                       factPid: Option[(String, Int)] = None): DataFrame = {
    // The fact is keyed on (loan_number, end_of_period) by declaration
    // (SURVEY §7 risk 5): deterministic within-batch keep-first dedup,
    // same policy as the SCD dims, plus an order-stable SK over the key.
    // Both ride ONE key-bucketed window (the old shape paid two
    // full-width fact shuffles: a hash-partitioned dedup window, then
    // the SK range pass): bucketing colocates equal keys, so within a
    // bucket one sort by (key, all columns) yields the keep-first flag
    // (key differs from the previous row's) AND the survivor ordinal.
    // Bucket ids come from DRIVER-PINNED bounds (RangeBuckets), sampled
    // from the LANDED batch rather than `factIn` (which, incrementally,
    // anti-joins the stored fact — every sample pass would re-run that
    // join): any bounds keep the result exact, only bucket balance depends
    // on them. pid is a pure function of the key, so the per-bucket
    // survivor counts — the global SK offsets — reduce in a NARROW
    // key-only aggregate straight off the unmaterialized input (two
    // 16-byte-row shuffles) instead of forcing a full-width persist as a
    // determinism guard; task retries agree by construction.
    import org.apache.spark.sql.expressions.Window
    val keyNames = Seq("loan_number", "end_of_period")
    val keys = keyNames.map(col)
    // a landed bucket id (Clean.stageKeyed) short-circuits both the
    // bounds sample AND the window's exchange — the localCheckpoint
    // preserved the fill exchange's HashPartitioning on this column, so
    // EnsureRequirements inserts nothing; bucketing by loan_number alone
    // is order-consistent for the composite key (major-key argument in
    // stageKeyed's scaladoc)
    val (pid, pidX, nBuckets) = factPid match {
      case Some((name, nB)) => (name, col(name), nB)
      case None =>
        val n = math.max(landed.rdd.getNumPartitions, 1)
        val (x, nB) = graft.warehouse.RangeBuckets.pidExpr(landed, keyNames, n)
        ("__f_pid", x, nB)
    }
    val w = Window.partitionBy(col(pid))
      .orderBy((keys ++ factIn.columns.map(col)).toIndexedSeq: _*)
    val keyStruct = struct(keys: _*)
    val marked = factIn
      .withColumn(pid, pidX)
      .withColumn("__f_first",
        coalesce(lag(keyStruct, 1).over(w) =!= keyStruct, lit(true)))
      .withColumn("__f_ord",
        sum(when(col("__f_first"), 1L).otherwise(0L)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // per-bucket DISTINCT-key counts (≡ the keep-first survivor count),
    // two narrow key-only shuffles; spine covers sample-empty buckets
    val counts = factIn.select(pidX.as(pid), keyStruct.as("__f_key"))
      .distinct().groupBy(col(pid)).agg(count(lit(1)).as("__f_cnt"))
    val spine = factIn.sparkSession.range(nBuckets)
      .select(col("id").cast("int").as(pid))
    val offsets = spine.join(counts, Seq(pid), "left")
      .withColumn("__f_off",
        coalesce(sum(col("__f_cnt")).over(
          Window.partitionBy(pmod(col(pid), lit(1))).orderBy(col(pid))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(pid), col("__f_off"))
    // persisted: read by the dangling probe AND the lookup chain — a
    // cache this time, not a determinism guard (pid is pinned)
    val unique = scope.persist(marked.filter(col("__f_first"))
      .join(broadcast(offsets), pid)
      .withColumn("PK_loan_number_SK",
        (col("__f_off") + col("__f_ord")).cast("long"))
      .drop(pid, "__f_first", "__f_ord", "__f_off"))
    // probe FUSED into the lookup pass (left joins + non-prunable
    // assert): one pass over `unique` instead of probe-then-build —
    // the RI failure now raises at the fact's first action
    FactBuilder.buildChecked(unique, lookups)
      .select(
        col("PK_loan_number_SK"),
        col("FK_borrower"), col("FK_guarantor"), col("FK_country"),
        col("FK_project"), col("FK_loan_type"), col("FK_loan_status"),
        col("first_repayment_sk").as("first_repayment_date"),
        col("last_repayment_sk").as("last_repayment_date"),
        col("board_approval_sk").as("board_approval_date"),
        col("End_period"),
        col("original_principal_amount").cast("decimal(18,2)").as("original_principal_amount"),
        col("cancelled_amount"), col("undisbursed_amount"),
        col("disbursed_amount"), col("borrowers_obligation"),
        col("interest_rate"), col("Repaid").as("repaid"), col("Due").as("due"),
        // natural key retained for idempotence (SURVEY §7 risk 5; the
        // reference fact has no durable BK — declared divergence)
        col("loan_number"), col("end_of_period"))
  }
}
