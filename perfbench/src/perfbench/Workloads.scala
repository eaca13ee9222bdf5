package perfbench

import java.nio.file.Paths
import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{QueryPack, SparkEntry}
import graft.ibrd.{Clean, IbrdMeasures, IbrdScale, IbrdWarehouse, Model}
import graft.sources.{PagedCursor, PagedSource, TableSink}

/** Seeded inputs. The program only ever sees these generated files. */
object Gen {
  /** The benchmark's scale factor, and the one of the warm-up copy. */
  val Sf = 0.1
  val WarmSf = 0.001

  /** The ten TPC-H-shaped tables the catalog reads (`graft.Tables`). */
  val AllTables: Seq[String] = graft.Tables.names

  /** Rows per table at scale factor 1; region and nation are fixed. */
  private val rowsAtSf1 = Map(
    "customer" -> 150000L, "supplier" -> 10000L, "part" -> 200000L,
    "orders" -> 1500000L, "lineitem" -> 6000000L, "events" -> 1000000L,
    "documents" -> 50000L, "embeddings" -> 20000L)

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Seq("blue", "cold", "hot", "red", "small", "new", "old", "large")
  private val nouns = Seq("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pipe")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
  private val words = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window")

  private def pick(vals: Seq[String], idx: Column): Column =
    element_at(array(vals.map(lit): _*), (idx + 1).cast("int"))

  /** Writes `names` under `dir` as `<name>.parquet`, with TESTDATA's
    * schemas and value ranges at scale factor `sf`. Every value is a hash
    * of the row id, the column and the seed, so the seed sets the data. */
  def tables(spark: SparkSession, dir: String, sf: Double, seed: Long,
             names: Seq[String] = AllTables): Unit = {
    def n(t: String): Long = math.max(10L, math.round(rowsAtSf1(t) * sf))
    def r(k: Int, m: Long): Column = pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(m))
    def cents(k: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + r(k, math.round((hi - lo) * 100) + 1).cast("double") / 100, 2)
    def day(k: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), r(k, days).cast("int")).cast("timestamp_ntz")
    def numbered(prefix: String): Column =
      concat(lit(prefix), lpad(col("id").cast("string"), 9, "0"))
    val orders = n("orders")
    val eventStepUs = 30L * 86400 * 1000000 / n("events")

    def frame(t: String): DataFrame = t match {
      case "region" => spark.range(5).select(col("id").cast("int").as("r_regionkey"),
        pick(regions, col("id")).as("r_name"))
      case "nation" => spark.range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey"))
      case "customer" => spark.range(n(t)).select(col("id").as("c_custkey"),
        numbered("Customer#").as("c_name"), r(1, 25).cast("int").as("c_nationkey"),
        cents(2, -999.99, 9999.99).as("c_acctbal"), pick(segments, r(3, 5)).as("c_mktsegment"))
      case "supplier" => spark.range(n(t)).select(col("id").as("s_suppkey"),
        numbered("Supplier#").as("s_name"), r(1, 25).cast("int").as("s_nationkey"),
        cents(2, -999.99, 9999.99).as("s_acctbal"))
      case "part" => spark.range(n(t)).select(col("id").as("p_partkey"),
        concat(pick(adjectives, r(1, 8)), lit(" "), pick(nouns, r(2, 8))).as("p_name"),
        concat(lit("Brand#"), (r(3, 25) + 1).cast("string")).as("p_brand"),
        pick(partTypes, r(4, 6)).as("p_type"), (r(5, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + r(6, 1000).cast("double") / 10).as("p_retailprice"))
      case "orders" => spark.range(orders).select(col("id").as("o_orderkey"),
        r(1, n("customer")).as("o_custkey"), pick(Seq("F", "O", "P"), r(2, 3)).as("o_orderstatus"),
        cents(3, 1000.0, 500000.0).as("o_totalprice"), day(4, "1995-01-01", 2404).as("o_orderdate"),
        pick(priorities, r(5, 5)).as("o_orderpriority"))
      case "lineitem" =>
        val qty = (r(5, 50) + 1).cast("double")
        spark.range(n(t)).select(r(1, orders).as("l_orderkey"),
          r(2, n("part")).as("l_partkey"), r(3, n("supplier")).as("l_suppkey"),
          (r(4, 7) + 1).cast("int").as("l_linenumber"), qty.as("l_quantity"),
          round(qty * cents(6, 900.0, 2099.99), 2).as("l_extendedprice"),
          (r(7, 11).cast("double") / 100).as("l_discount"),
          (r(8, 9).cast("double") / 100).as("l_tax"),
          pick(Seq("A", "N", "R"), r(9, 3)).as("l_returnflag"),
          pick(Seq("F", "O"), r(10, 2)).as("l_linestatus"),
          day(11, "1995-01-02", 2499).as("l_shipdate"))
      case "events" => spark.range(n(t)).select(col("id").as("event_id"),
        // arrival order: ts rises with event_id over 30 days
        timestamp_micros(lit(1704067200000000L) + col("id") * eventStepUs + r(1, eventStepUs))
          .cast("timestamp_ntz").as("ts"),
        r(2, n("events") / 66).as("user_id"), pick(eventTypes, r(3, 5)).as("event_type"),
        round(-log((r(4, 1000000) + 1).cast("double") / 1000001) * 50, 2).as("value"),
        concat(lit("{\"k\": "), r(5, 100).cast("string"), lit("}")).as("props"))
      case "documents" =>
        // one text in 625 repeats the previous one: exact duplicates
        val key = when(col("id") % 625 === 624, col("id") - 1).otherwise(col("id"))
        val len = pmod(xxhash64(key, lit(seed), lit(1)), lit(91)) + 10
        val text = array_join(transform(sequence(lit(1L), len),
          p => element_at(array(words.map(lit): _*),
            (pmod(xxhash64(key, p, lit(seed)), lit(words.size.toLong)) + 1).cast("int"))), " ")
        spark.range(n(t)).select(col("id").as("doc_id"), text.as("text"),
          pick(langs, r(2, langs.size)).as("lang"),
          concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // ten labelled clusters of unit vectors
        val label = r(1, 10)
        val raw = transform(sequence(lit(0), lit(63)), k =>
          sin(label.cast("double") * 1.7 + k.cast("double") * 0.37) +
            (pmod(xxhash64(col("id"), k, lit(seed)), lit(20001L)).cast("double") / 10000 - 1) * 0.35)
        spark.range(n(t)).select(col("id").as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
          .select(col("vec_id"), transform(col("raw"), x => (x / sqrt(aggregate(col("raw"),
            lit(0.0), (a, y) => a + y * y))).cast("float")).as("embedding"), col("label"))
    }

    names.foreach(t => frame(t).write.mode("overwrite").parquet(s"$dir/$t.parquet"))
  }

  /** Raw API pages for the hourly loop: the sf0.1 raw rows restated at
    * the next kept fiscal snapshot with updated amounts (rows at other
    * snapshots stay as they are), numbered by a dense `page_row`, the key
    * [[PagedSource.nextPage]] pages over. Rows keep the order of the
    * seeded `lineitem`, so the seed sets which loans land on which page.
    * Files hold contiguous `page_row` ranges of at most a page, so a page
    * read touches one or two files. Returns the row count. */
  def rawPages(spark: SparkSession, sfDir: String, out: String, pageRows: Long): Long = {
    val raw = IbrdScale.rawScaled(spark, sfDir)
    val kept = Model.keptSnapshots
    val eop = col("end_of_period")
    val next = kept.zipWithIndex.foldLeft(eop) { case (acc, (s, k)) =>
      when(eop === s, lit(kept((k + 1) % kept.size))).otherwise(acc) }
    val restated = raw
      .withColumn("end_of_period", next)
      .withColumn("repaid_to_ibrd", col("repaid_to_ibrd") + 1000.0)
      .withColumn("disbursed_amount", col("disbursed_amount") + 500.0)
    // zipWithIndex numbers partitions in order, so each output file
    // holds a contiguous page_row range
    val numbered = restated.rdd.zipWithIndex().map { case (row, k) => Row.fromSeq(row.toSeq :+ k) }
    spark.createDataFrame(numbered, raw.schema.add("page_row", LongType))
      .write.mode("overwrite").option("maxRecordsPerFile", pageRows).parquet(out)
    spark.read.parquet(out).count()
  }
}

/** Expected answers, computed from the generated inputs by index
  * arithmetic and never through the pipeline under test. */
object Expect {
  /** q103's answer: (loan_status, Loans, Loan Amount), ordered by Loans
    * desc then status. Kept loans are distinct indexes at a fiscal
    * snapshot (`i % 16 < 14`) outside the dangling country (`i % 97`). */
  def byStatus(spark: SparkSession, dir: String): Seq[(String, Long, Double)] = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.select((col("l_orderkey") * 8 +
        when(col("l_linenumber") === 7, 1).otherwise(col("l_linenumber"))).as("i"))
      .distinct()
      .filter(col("i") % 16 < 14 && col("i") % 97 =!= 0)
      .select(pmod(col("i") + expr("i div 3"), lit(6L)).as("s"),
        (lit(1.0e6) + (col("i") % 100000).cast("double") * 10.0).as("amt"))
      .groupBy("s").agg(count(lit(1)).as("n"), sum("amt").as("amt"))
      .collect().toSeq
      .map(r => (IbrdScale.statusesClean(r.getLong(0).toInt), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (-t._2, t._1))
  }

  /** Distinct non-dangling (loan_number, end_of_period) keys among the
    * initial raw rows and the pages ingested so far. */
  def factKeys(initial: DataFrame, pages: DataFrame, upTo: Long): Long = {
    val cols = Seq("loan_number", "end_of_period", "country")
    initial.select(cols.map(col): _*)
      .unionByName(pages.filter(col("page_row") < upTo).select(cols.map(col): _*))
      .filter(col("end_of_period").isin(Model.keptSnapshots: _*) && col("country") =!= "Atlantis")
      .select("loan_number", "end_of_period").distinct().count()
  }
}

/** The workloads. Each is a closed loop with one client thread; see
  * perfbench/README.md for why each exists. */
object Workloads {
  val PageRows = 50000L
  private val AsOfDate = "2024-07-01"

  private def statusRows(rows: Array[Row]): Seq[(String, Long, Double)] =
    rows.toSeq.map(r => (r.getAs[String]("loan_status"), r.getAs[Long]("Loans"),
      r.getAs[Double]("Loan Amount")))

  /** Raw rows → keyed clean → star build → stored star → re-read → the
    * loans-by-status visual: q103's path through the public entry points. */
  private def buildAndServe(run: Run, lineitemDir: String, sink: TableSink): DataFrame = {
    val spark = run.spark
    val (staged, _, _) = run.spans.span("ibrd.stage")(
      Clean.stageKeyed(IbrdScale.rawScaled(spark, lineitemDir)))
    run.spans.span("ibrd.run_batch")(IbrdWarehouse.runBatch(spark, None, staged, AsOfDate, sink))
    val star = run.spans.span("ibrd.load")(IbrdWarehouse.load(spark, sink))
    IbrdMeasures.loansByStatus(star)
  }

  def initialLoad(run: Run): Unit = {
    val spark = run.phase("session")(run.spark)
    val sf = s"${run.dir}/in/sf"
    val warm = s"${run.dir}/in/warm"
    run.phase("generate") {
      Gen.tables(spark, sf, Gen.Sf, run.a.seed, Seq("lineitem"))
      Gen.tables(spark, warm, Gen.WarmSf, run.a.seed + 1, Seq("lineitem"))
    }
    run.phase("warmup") {
      buildAndServe(run, warm, new TableSink(s"${run.dir}/wh/warm")).collect()
    }
    var expected: Seq[(String, Long, Double)] = null
    run.loop(minOps = 1) { k =>
      val path = s"${run.dir}/wh/build-$k"
      run.op("build") { extra =>
        val df = buildAndServe(run, sf, new TableSink(path))
        val rows = run.spans.span("semantic.collect")(df.collect())
        if (run.a.trace) extra("tracker") = run.tracker(df)
        rows
      } { rows =>
        if (expected == null) expected = Expect.byStatus(spark, sf)
        statusRows(rows) == expected
      }
      Run.delete(path)
      true
    }
  }

  def hourlyBatches(run: Run): Unit = {
    val spark = run.phase("session")(run.spark)
    val sf = s"${run.dir}/in/sf"
    val rawDir = s"${run.dir}/in/raw"
    def sink(v: Int) = new TableSink(s"${run.dir}/wh/v$v")
    def asOf(v: Int) = LocalDate.parse(AsOfDate).plusDays(v).toString
    val cursor = new PagedCursor(Paths.get(s"${run.dir}/cursor"))
    val total = run.phase("generate") {
      Gen.tables(spark, sf, Gen.Sf, run.a.seed, Seq("lineitem"))
      Gen.rawPages(spark, sf, rawDir, PageRows)
    }
    val raw = spark.read.parquet(rawDir)
    val rawBytes = Run.dirBytes(rawDir)
    // the initial star: the sf0.1 raw rows (the reference's 600k-row
    // initial offset) on q103's path; the cursor starts at the first page
    run.phase("initial_star") {
      val (staged, _, _) = Clean.stageKeyed(IbrdScale.rawScaled(spark, sf))
      IbrdWarehouse.runBatch(spark, None, staged, asOf(0), sink(0))
      cursor.write(0)
    }
    var version = 0
    /** One hourly batch: page → clean → merge into the stored star v(n),
      * written as v(n+1) → commit the cursor. */
    def batch(extra: scala.collection.mutable.Map[String, Any]): Unit = {
      val page = run.spans.span("sources.page")(
        PagedSource.nextPage(raw, "page_row", cursor, PageRows, total))
      val staged = run.spans.span("ibrd.stage")(Clean.stage(page.df.drop("page_row")))
      run.spans.span("ibrd.run_batch")(
        IbrdWarehouse.runBatch(spark, Some(sink(version)), staged, asOf(version + 1),
          sink(version + 1)))
      run.spans.span("sources.commit")(page.commit())
      extra("rows") = page.hi - page.lo
      extra("raw_bytes") = rawBytes * (page.hi - page.lo) / total
    }
    def commit(extra: scala.collection.mutable.Map[String, Any]): Unit = {
      version += 1
      extra("written_bytes") = Run.dirBytes(s"${run.dir}/wh/v$version")
      extra("persisted_after") = spark.sparkContext.getPersistentRDDs.size
      if (version >= 2) Run.delete(s"${run.dir}/wh/v${version - 2}")
    }
    // the persisted-RDD count after the first batch is the baseline of
    // the flat-storage check
    run.loop(minOps = 2) { k =>
      if (cursor.read() + PageRows > total) false
      else {
        run.op("batch") { extra => batch(extra); extra } { extra =>
          commit(extra)
          if (k == 0) run.setBaseline(extra("persisted_after").asInstanceOf[Int])
          true
        }
        Run.delete(s"${run.dir}/wh/v${version + 1}") // a failed batch's partial output
        true
      }
    }
    val ingested = cursor.read()
    val factRows = IbrdWarehouse.load(spark, sink(version)).fact.count()
    val expected = Expect.factKeys(IbrdScale.rawScaled(spark, sf), raw, ingested)
    run.check("fact_rows_equal_distinct_keys", factRows == expected,
      s"fact rows $factRows, distinct non-dangling keys ingested $expected")
  }

  /** The packs of [[SparkEntry]]'s catalog by name. */
  val Packs: Seq[(String, QueryPack)] = {
    import graft.operators._
    Seq("Relational" -> Relational, "Exprs" -> Exprs, "Warehouse" -> Warehouse,
      "Windows" -> Windows, "Dashboard" -> Dashboard, "Stats" -> Stats,
      "Streaming" -> Streaming, "AsOf" -> AsOf, "TextAnalysis" -> TextAnalysis,
      "Bpe" -> Bpe, "Curation" -> Curation, "Dedup" -> Dedup, "Crawl" -> Crawl,
      "Similarity" -> Similarity, "Multimodal" -> Multimodal, "Quality" -> Quality,
      "Graph" -> Graph, "LinkGraph" -> LinkGraph, "NgramLm" -> NgramLm,
      "Classify" -> Classify, "ZOrder" -> ZOrder)
  }

  /** The sweep: for each pack, its first benched entry by name whose
    * DuckDB oracle counts its rows within a second at sf0.1, so every op
    * is checked (run.py) and a pass fits a run. The Ibrd pack is left
    * out: q103 is `initial_load`'s op, and its other benched entries
    * read the repository's fixture files. */
  val Sweep: Seq[String] = Seq(
    "q01_pricing_summary", "q10_lower_strings", "q100_paragraph_dedup_incr",
    "q105_bm25_topk", "q106_ann_pq", "q109_curation_pipeline", "q112_dim_asof",
    "q114_cdc_compact", "q115_dq_report", "q118_trailing_range", "q120_funnel",
    "q124_image_decode", "q150_zorder_cells", "q153_pagerank", "q155_nb_classifier",
    "q159_link_extract", "q162_stupid_backoff", "q170_bpe_train_batched",
    "q182_politeness_schedule", "q28_asof_join", "q30_measures_card")

  def catalogSweep(run: Run): Unit = {
    val spark = run.phase("session")(run.spark)
    val sf = s"${run.dir}/in/sf"
    run.phase("generate")(Gen.tables(spark, sf, Gen.Sf, run.a.seed))
    val queries = SparkEntry.benchQueries
    require(Sweep.forall(queries.contains), "a sweep entry is not benched")
    // one pass in name order warms the JIT and compiles every plan at
    // the measured scale, as graft.Bench's first rep does
    run.phase("warmup")(Sweep.foreach(q => queries(q)(spark, sf).count()))
    val packOf = Packs.flatMap { case (p, q) => q.queries.keys.map(_ -> p) }.toMap
    val oracle = SparkEntry.oracleSql
    run.setOracle(sf, Sweep.flatMap(q => oracle.get(q).map(q -> _)).toMap)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toFile
    def graftTmpDirs = Option(tmp.list()).map(_.count(_.startsWith("graft_"))).getOrElse(0)
    // each pass runs every sweep entry once, in a seeded order; the run
    // ends on a whole pass
    var queue = List.empty[String]
    run.loop(minOps = Sweep.size, unfinished = queue.nonEmpty) { _ =>
      if (queue.isEmpty) queue = run.rng.shuffle(Sweep).toList
      val q = queue.head
      queue = queue.tail
      val dirs0 = graftTmpDirs
      run.op("query") { extra =>
        extra("query") = q
        extra("pack") = packOf(q)
        val n = run.spans.span("operators.query")(queries(q)(spark, sf).count())
        extra("rows") = n
        extra("tmp_dirs") = graftTmpDirs - dirs0
        n
      }(_ >= 0)
      true
    }
  }
}
