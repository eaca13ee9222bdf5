package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per sbt test fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf
}

class EntrySpec extends SparkSpec {
  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
  test("every query runs at sf0.001 and catalog names are unique") {
    // catalog drives that store state (registries, indexes, crawl logs)
    // must keep it under Scratch's per-JVM root, the only graft_* entry
    // the pass may add to the temp dir
    spark.conf.get("spark.sql.warehouse.dir") // the session's own dir predates the snapshot
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftEntries: Set[String] =
      Option(tmp.list()).toSet.flatten.filter(_.startsWith("graft_"))
    val before = graftEntries
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      withClue(name) { assert(n >= 0) }
    }
    val added = graftEntries -- before
    assert(added.size <= 1 && added.forall(_.startsWith("graft_scratch_")),
      s"catalog drives left temp dirs outside the scratch root: $added")
  }
  test("no catalog query's executed plan contains an unpartitioned window") {
    // a window with an empty partition spec collapses the stage to one
    // task — the classic 100 TB killer (see SCALE.md). Walk every
    // query's FINAL (post-AQE) physical plan, not the logical one.
    import org.apache.spark.sql.execution.window.WindowExec
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      // collect() executes df's OWN QueryExecution (count() runs a derived
      // plan and would leave this one's AQE un-finalized); the walked plan
      // below is then the actual final physical plan, metrics populated.
      // PlanWalk descends into materialized query stages — a child-only
      // walk over a finalized plan stops at every stage boundary.
      df.collect()
      val offenders = graft.plans.PlanWalk.walk(df.queryExecution.executedPlan)
        .collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
      withClue(s"$name has unpartitioned window(s): $offenders") {
        assert(offenders.isEmpty)
      }
    }
  }
  test("every oracle key exists in queries") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }
}

class RelationalSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("q01 pricing summary groups match distinct flag/status pairs") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    assert(df.count() <= 6)
    assert(df.columns.contains("sum_qty"))
  }

  test("q03 star join covers all regions present") {
    val df = SparkEntry.queries("q03_star_join")(spark, sf)
    val regions = df.select("r_name").distinct().count()
    assert(regions == 5)
  }

  test("q03 star join plan broadcasts dimensions") {
    val plan = SparkEntry.queries("q03_star_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q07 topk is deterministic under ties") {
    val a = SparkEntry.queries("q07_topk")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("q07_topk")(spark, sf).collect().toSeq
    assert(a == b)
    assert(a.size == 25)
  }

  test("q08 union preserves total row count") {
    val df = SparkEntry.queries("q08_union")(spark, sf)
    val total = df.agg(sum("n")).collect()(0).getLong(0)
    assert(total == Tables.orders(spark, sf).count())
  }
}
