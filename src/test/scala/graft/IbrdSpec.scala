package graft

import graft.ibrd.{Clean, Fixture, IbrdMeasures, IbrdWarehouse, Model}
import graft.warehouse.Ffill
import org.apache.spark.sql.functions._

/** Golden-count end-to-end checks of the IBRD pipeline on the
  * deterministic fixture (FIXTURES.md §1-§6, SURVEY.md §5 t1). */
class IbrdSpec extends SparkSpec {
  import spark.implicits._

  private lazy val raw = Fixture.raw(spark)
  private lazy val staged = Clean.stage(raw).cache()
  private lazy val star = IbrdWarehouse.build(spark, staged)

  test("raw fixture shape: 220 rows x 33 cols") {
    assert(raw.count() == 220)
    assert(raw.schema == Model.rawSchema)
  }

  test("stageKeyed equals stage minus the pid column (the r10 fusion's contract)") {
    // Clean.stageKeyed claims its output (minus __f_pid) is bit-for-bit
    // Clean.stage — the q103 fusion must never change staged CONTENT,
    // only carry the bucket id; includes the forward fill under the
    // externally-pinned loan_number-only bucketing
    val (keyed, pidName, nBuckets) = Clean.stageKeyed(raw)
    assert(nBuckets >= 1)
    val a = Clean.stage(raw).collect().map(_.toSeq).toSet
    val b = keyed.drop(pidName).collect().map(_.toSeq).toSet
    assert(a == b, s"stageKeyed diverged from stage (${a.size} vs ${b.size} rows)")
    // and the pid respects the major-key order contract: equal
    // loan_numbers share a bucket
    val perKey = keyed.groupBy(col("loan_number"))
      .agg(countDistinct(col(pidName)).as("n"))
      .filter(col("n") > 1).count()
    assert(perKey == 0, "a loan_number straddled two buckets")
  }

  test("committed fixture files match the in-code fixture (no drift)") {
    val fromFile = graft.ibrd.FixtureFiles.readRaw(spark, "/root/repo")
      .orderBy("loan_number", "end_of_period").collect()
    val inMem = raw.orderBy("loan_number", "end_of_period").collect()
    assert(fromFile.sameElements(inMem))
    graft.ibrd.Fixture.allDicts.foreach { case (name, dict) =>
      val loaded = graft.sources.DictLoader.load(spark,
        s"/root/repo/fixtures/dicts/$name.csv")
      assert(loaded == dict.map { case (k, v) => k.toLowerCase -> v.toLowerCase },
        s"dict $name drifted")
    }
  }

  test("snapshot filter keeps exactly the 2 kept snapshots (147 rows)") {
    assert(staged.count() == 147)
    assert(staged.select("end_of_period").distinct().collect()
      .map(_.getString(0)).toSet == Set("30-jun-2024", "30-jun-2023"))
  }

  test("staged schema: 29 columns, BKs present, drops applied") {
    assert(staged.columns.length == 29)
    assert(Model.earlyDrops.forall(c => !staged.columns.contains(c)))
    assert(Model.lateDrops.forall(c => !staged.columns.contains(c)))
    assert(Seq("region_BK", "country_BK", "guarantor_BK", "borrower_BK",
      "loan_status_BK", "loan_type_BK", "Repaid", "Due")
      .forall(staged.columns.contains))
  }

  test("unmatched dictionary key yields null BK (atlantis row), others resolve") {
    val atl = staged.filter($"country" === "atlantis")
    assert(atl.count() == 1)
    assert(atl.head.getAs[Any]("country_BK") == null)
    assert(staged.filter($"country_BK".isNull).count() == 1)
  }

  test("null borrower/guarantor became not_specified with BK -1") {
    assert(staged.filter($"borrower".isNull || $"guarantor".isNull).count() == 0)
    val ns = staged.filter($"guarantor" === "not_specified")
    assert(ns.count() > 0)
    assert(ns.filter($"guarantor_BK" =!= -1).count() == 0)
  }

  test("forward fill: project_name_ fully dense after fill") {
    // fixture guarantees a non-null before any null in loan_number order
    val firstKey = staged.orderBy("loan_number", "board_approval_date")
      .select("project_name_").head.getString(0)
    assert(firstKey != null)
    assert(staged.filter($"project_name_".isNull).count() == 0)
  }

  test("forward fill matches single-partition reference semantics") {
    val base = Clean.snapshotFilter(raw).drop(Model.earlyDrops: _*)
      .select(lower($"loan_number").as("k1"),
        lower($"board_approval_date").as("k2"),
        lower($"project_name_").as("pn"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("k1", "k2")
      .rowsBetween(Long.MinValue, 0)
    val ref = base.withColumn("filled", last($"pn", ignoreNulls = true).over(w))
      .orderBy("k1", "k2").select("filled").collect().map(_.getString(0))
    val scalable = Ffill.forwardFill(base.repartition(8), Seq("k1", "k2"), "pn")
      .orderBy("k1", "k2").select("pn").collect().map(_.getString(0))
    assert(ref.sameElements(scalable))
  }

  test("forward fill: all-null buckets inherit the carry; null keys sort first") {
    // stress the pinned-bounds carry spine: a long all-null run must span
    // MULTIPLE buckets (bounds land inside it) and still inherit the last
    // non-null from before the run; a null order key sorts first
    val rows = (1 to 2000).map { i =>
      val k = if (i == 1) null else f"k$i%05d"
      val v = if (i == 100) "anchor" else if (i > 100) null else s"v$i"
      (k, v)
    }
    val df = rows.toDF("k", "v").repartition(16)
    val got = Ffill.forwardFill(df, Seq("k"), "v", numPartitions = Some(16))
      .orderBy(asc_nulls_first("k")).select("v").collect().map(_.getString(0))
    // rows after the anchor (positions 100..2000 in key order) are all
    // "anchor": the 1900-row null tail crosses many pinned bounds
    assert(got.length == 2000)
    assert(got(99) == "anchor")
    (100 until 2000).foreach(i => assert(got(i) == "anchor", s"row $i"))
    // the null-key row is first and keeps its own non-null value
    assert(got(0) == "v1")
  }

  test("DimDate carries the full reference column set (SURVEY §1.3)") {
    val cols = star.dimDate.columns.toSet
    val required = Set("DateSK", "Date", "day", "DaySuffix", "DayOfWeekName",
      "DOWInMonth", "day_of_year", "WeekOfYear", "WeekOfMonth", "month",
      "month_name", "quarter", "quarter_name", "year", "StandardDate",
      "HolidayText")
    assert(required.subsetOf(cols), (required -- cols).toString)
    // spot check: 2024-07-01 is a Monday, 1st of month
    val r = star.dimDate.filter(col("Date") === "01-jul-2024").head
    assert(r.getAs[String]("DaySuffix") == "1st")
    assert(r.getAs[String]("DayOfWeekName") == "Monday")
    assert(r.getAs[Int]("DOWInMonth") == 1)
    assert(r.getAs[String]("StandardDate") == "2024-07-01")
  }

  test("DimDate HolidayText: null by default, populated from a holiday map") {
    val dd = graft.ibrd.IbrdWarehouse.ibrdDimDate(spark, 2024, 2024,
      holidays = Map("2024-07-04" -> "independence day"))
    assert(dd.filter($"HolidayText".isNotNull).count() == 1)
    assert(dd.filter($"Date" === "04-jul-2024")
      .head.getAs[String]("HolidayText") == "independence day")
    // default stays faithful to the reference (constant null)
    assert(star.dimDate.filter($"HolidayText".isNotNull).count() == 0)
  }

  test("seven dims: one current row per BK, snowflake region FK resolved") {
    val dims = Seq(star.dimRegion, star.dimCountry, star.dimBorrower,
      star.dimGuarantor, star.dimStatus, star.dimType, star.dimProject)
    dims.foreach { d =>
      val bk = d.columns(1) // sk, bk, ...
      assert(d.filter(col("is_current")).groupBy(col(bk)).count()
        .filter($"count" > 1).count() == 0)
    }
    assert(star.dimCountry.filter($"PK_region_SK".isNull).count() == 0)
    assert(star.dimStatus.count() ==
      staged.select("loan_status_BK").na.drop().distinct().count())
  }

  test("fact: one row per staged non-dangling row, all FKs resolved") {
    assert(star.fact.count() == 146) // 147 staged - 1 null-BK row
    val fks = Seq("FK_borrower", "FK_guarantor", "FK_country", "FK_project",
      "FK_loan_type", "FK_loan_status", "first_repayment_date",
      "last_repayment_date", "board_approval_date", "End_period")
    fks.foreach(fk => assert(star.fact.filter(col(fk).isNull).count() == 0, fk))
    assert(star.fact.select("PK_loan_number_SK").distinct().count() == 146)
  }

  test("incremental batch: SCD2 rename through a warehouse dim versions correctly") {
    import graft.warehouse.Scd
    val spec = IbrdWarehouse.statusSpec
    // next snapshot renames status BK 5 ('fully repaid' -> 'repaid in full')
    val batch2 = staged.withColumn("loan_status",
      when($"loan_status_BK" === 5, "repaid in full").otherwise($"loan_status"))
    val merged = Scd.merge(star.dimStatus, batch2, spec, "2024-08-01")
    val versions = merged.filter($"loan_status_BK" === 5)
    assert(versions.count() == 2)
    assert(versions.filter(!$"is_current" && $"end_date" === "2024-08-01" &&
      $"loan_status" === "fully repaid").count() == 1)
    assert(versions.filter($"is_current" && $"loan_status" === "repaid in full" &&
      $"start_date" === "2024-08-01").count() == 1)
    // all other BKs untouched
    assert(merged.count() == star.dimStatus.count() + 1)
  }

  test("incremental warehouse load: dims merge, fact appends idempotently") {
    import graft.ibrd.IbrdWarehouse
    // batch 2 = the NEXT snapshot only (one logical batch per merge —
    // within-batch dedup would otherwise pick one version arbitrarily):
    // same loans at a new end_of_period, one country renamed (SCD2)
    val nextSnapshot = staged
      .withColumn("end_of_period", lit("30-jun-2025"))
      .withColumn("country",
        when($"country_BK" === 7, "turkiye republic").otherwise($"country"))
    // warehouse contract: tables are materialized between batches (a
    // chain of unmaterialized merges compounds the plan unboundedly)
    val sink = new graft.sources.TableSink(
      java.nio.file.Files.createTempDirectory("graft_ibrd_wh").toString)
    IbrdWarehouse.persist(star, sink)
    val stored1 = IbrdWarehouse.load(spark, sink)
    val star2 = IbrdWarehouse.incremental(stored1, nextSnapshot, "2025-07-01")
    assert(star2.dimCountry.filter($"country_BK" === 7).count() == 2)
    assert(star2.dimCountry.filter($"is_current" && $"country_BK" === 7)
      .head.getAs[String]("country") == "turkiye republic")
    // the new snapshot's non-dangling rows appended exactly once per
    // natural key (7 loans occur in both source snapshots and collapse)
    val batch1Rows = star.fact.count()
    val expectedNew = nextSnapshot.filter($"country_BK".isNotNull)
      .select("loan_number", "end_of_period").distinct().count()
    assert(star2.fact.count() == batch1Rows + expectedNew)
    assert(star2.fact.groupBy("loan_number", "end_of_period").count()
      .filter($"count" > 1).count() == 0)
    // SKs stay unique across the append
    assert(star2.fact.select("PK_loan_number_SK").distinct().count() ==
      star2.fact.count())
    // re-running the SAME increment over the materialized warehouse is a
    // no-op (R2 idempotence). Each batch persists to a NEW version dir —
    // overwriting tables a live plan still reads from would clobber its
    // own input
    val sink2 = new graft.sources.TableSink(
      java.nio.file.Files.createTempDirectory("graft_ibrd_wh2").toString)
    IbrdWarehouse.persist(star2, sink2)
    val stored2 = IbrdWarehouse.load(spark, sink2)
    val star3 = IbrdWarehouse.incremental(stored2, nextSnapshot, "2025-08-01")
    assert(star3.fact.count() == stored2.fact.count())
    assert(star3.dimCountry.count() == stored2.dimCountry.count())
  }

  /** The two fixture snapshots as consecutive hourly batches, the first
    * already stored as `v1`. */
  private def storedFirstBatch(): (String, graft.sources.TableSink, org.apache.spark.sql.DataFrame) = {
    val root = java.nio.file.Files.createTempDirectory("graft_ibrd_batch").toString
    val v1 = new graft.sources.TableSink(s"$root/v1")
    IbrdWarehouse.runBatch(spark, None,
      staged.filter($"end_of_period" === "30-jun-2023"), "2023-07-01", v1)
    (root, v1, staged.filter($"end_of_period" === "30-jun-2024"))
  }

  /** Runs `body` with `l` registered; every event its actions posted has
    * been delivered to `l` when this returns. */
  private def listening[A](l: org.apache.spark.scheduler.SparkListener)(body: => A): A = {
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try body
    finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(l)
    }
  }

  test("runBatch carries the caller's job group into every job it submits") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration._
    // the dims and the table writes run on pool threads. A pool thread
    // sees the SparkContext local properties of the thread that CREATED
    // it (inherited, live), not of the thread that submits to it: fill
    // the pool from this thread first, then run the batches from a fresh
    // one, so only explicit carrying can put their jobs in its group —
    // cancelJobGroup("hourly") must reach every job of the batch
    val sc = spark.sparkContext
    staged.count() // the fixture's own cache, outside the group
    val poolSize = Runtime.getRuntime.availableProcessors
    val filled = new java.util.concurrent.CountDownLatch(poolSize)
    (1 to poolSize).map(_ => Future(blocking { filled.countDown(); filled.await() })(
      ExecutionContext.global)).foreach(Await.ready(_, 1.minute))
    val root = java.nio.file.Files.createTempDirectory("graft_ibrd_group").toString
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    @volatile var failure: Option[Throwable] = None
    val caller = new Thread(() => try {
      sc.setJobGroup("hourly", "hourly batch")
      val (v1, v2) = (new graft.sources.TableSink(s"$root/v1"),
        new graft.sources.TableSink(s"$root/v2"))
      IbrdWarehouse.runBatch(spark, None,
        staged.filter($"end_of_period" === "30-jun-2023"), "2023-07-01", v1)
      IbrdWarehouse.runBatch(spark, Some(v1),
        staged.filter($"end_of_period" === "30-jun-2024"), "2024-07-01", v2)
    } catch { case t: Throwable => failure = Some(t) })
    listening(l) { caller.start(); caller.join() }
    failure.foreach(throw _)
    val seen = groups.toArray.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_ == "hourly"),
      s"jobs outside the caller's group: ${seen.filterNot(_ == "hourly").size} of ${seen.size}")
  }

  test("a dangling key fails runBatch with the lookup's message, and no job outlives it") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val (root, v1, batch2) = storedFirstBatch()
    // a board-approval date outside DimDate's 1990–2026 calendar misses
    // its lookup: NoMatchBehavior=0 fails the fact write
    val bad = batch2.withColumn("board_approval_date", lit("01-jan-1980"))
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
    }
    var returned = 0L
    val err = listening(l) {
      val e = intercept[Exception] {
        IbrdWarehouse.runBatch(spark, Some(v1), bad, "2024-07-01",
          new graft.sources.TableSink(s"$root/v2"))
      }
      returned = System.currentTimeMillis()
      e
    }
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).toSeq
    assert(messages.exists(m => m.contains("dangling fact keys against dim key(s) Date") &&
      m.contains("NoMatchBehavior=0")), messages.headOption.getOrElse(""))
    val jobs = started.toArray.toSeq.map(_.asInstanceOf[Int])
    assert(jobs.nonEmpty)
    val running = jobs.filter(j => !ended.containsKey(j) || ended.get(j) > returned)
    assert(running.isEmpty, s"jobs still running when runBatch returned: $running")
  }

  test("incremental runBatch: only the fact write itself scans the stored fact") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // plan-shape guard: the fact's bucket bounds come from the landed
    // page, so no execution before the write (partition count, bounds
    // count, bounds sample) re-runs the anti-join over the stored fact
    val (root, v1, batch2) = storedFirstBatch()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    listening(l) {
      IbrdWarehouse.runBatch(spark, Some(v1), batch2, "2024-07-01",
        new graft.sources.TableSink(s"$root/v2"))
    }
    val scanLocation = """Location: \w+ \[([^\]]*)\]""".r
    val factScans = plans.toArray.toSeq.map(_.toString).filter(p =>
      scanLocation.findAllMatchIn(p).exists(_.group(1).contains(s"$root/v1/fact_loan")))
    assert(factScans.nonEmpty, "the fact write must read the stored fact")
    val others = factScans.filterNot(p =>
      p.contains("InsertIntoHadoopFsRelationCommand") && p.contains(s"$root/v2/fact_loan"))
    assert(others.isEmpty,
      s"${others.size} execution(s) besides the fact write scanned the stored fact:\n" +
        others.map(_.take(600)).mkString("\n---\n"))
  }

  test("dashboard visuals: loans by status sums to fact count; card computes") {
    val byStatus = IbrdMeasures.loansByStatus(star)
    assert(byStatus.agg(sum("Loans")).head.getLong(0) == 146)
    val card = IbrdMeasures.card(star).head
    assert(card.getLong(0) == 146) // Loans
    assert(card.getAs[Double]("Loan Amount") > 0)
    assert(card.getAs[Long]("Guarantors") > 0)
    val byYear = IbrdMeasures.amountByYear(star, Seq(2023, 2024))
    assert(byYear.count() == 2)
  }
}
