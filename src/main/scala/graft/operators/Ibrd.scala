package graft.operators

import graft.ibrd.{Clean, Fixture, FixtureFiles, IbrdMeasures, IbrdWarehouse, Model}
import graft.{Q, QueryPack}
import org.apache.spark.sql.functions.col

/** End-to-end IBRD pipeline entries: fixture page → clean → star build →
  * dashboard visuals, all inside one Spark application (the reference's
  * three layers, SURVEY.md §0). No DuckDB oracle — the inputs are the
  * in-code fixture, not the sf tables; IbrdSpec pins golden counts
  * instead (rows-only check here).
  */
object Ibrd extends QueryPack {

  // The e2e visuals ARE oracle-checkable: every dim attribute equals its
  // staged source column 1:1 (SK ↔ BK bijection on the initial load), so
  // the DuckDB oracle runs the visual directly over the staged CTE with
  // the fact's non-null-BK filter applied.
  /** DuckDB list literal of [[graft.ibrd.IbrdScale.statusesClean]], in
    * cycle order — single source of truth for the q103 oracle. */
  private def IbrdScaleStatusList: String =
    graft.ibrd.IbrdScale.statusesClean
      .map("'" + _ + "'").mkString("[", ", ", "]")

  private def factInSql =
    s"""staged AS (${stagedOracleSql}),
       |fact_in AS (
       |  SELECT * FROM staged
       |  WHERE country_BK IS NOT NULL AND borrower_BK IS NOT NULL
       |    AND guarantor_BK IS NOT NULL AND loan_status_BK IS NOT NULL
       |    AND loan_type_BK IS NOT NULL AND region_BK IS NOT NULL
       |)""".stripMargin

  def queries: Map[String, Q] = Map(
    "q70_ibrd_e2e_loans_by_status" -> Q(
      (s, _) => IbrdMeasures.loansByStatus(star(s)),
      Some(s"""
        WITH $factInSql
        SELECT loan_status, count(*) AS Loans,
               sum(CAST(CAST(original_principal_amount AS DECIMAL(18,2)) AS DOUBLE)) AS "Loan Amount"
        FROM fact_in
        GROUP BY loan_status
        ORDER BY Loans DESC, loan_status ASC
      """.stripMargin),
      doc = "IBRD fixture → clean → 7 SCD dims + DimDate + fact → visual"),

    "q71_ibrd_measures_card" -> Q(
      (s, _) => IbrdMeasures.card(star(s)),
      Some(s"""
        WITH $factInSql
        SELECT count(*) AS Loans,
               sum(CAST(CAST(original_principal_amount AS DECIMAL(18,2)) AS DOUBLE)) AS "Loan Amount",
               sum(Repaid) AS Repaid,
               sum(Due) AS Due1,
               sum(disbursed_amount) AS "Disbursed Amount",
               sum(undisbursed_amount) AS "Undisbursed Amount",
               avg(interest_rate) AS "Average Inerest Rate",
               sum(disbursed_amount * interest_rate / 100.0) AS "Interest Income",
               count(DISTINCT guarantor_BK) AS Guarantors,
               count(DISTINCT borrower_BK) AS Borrowers
        FROM fact_in
      """.stripMargin),
      doc = "all ten dashboard measures over the IBRD star"),

    // ---- line-chart visual: role-played DimDate year + IN filter ----
    "q73_ibrd_trend_by_year" -> Q(
      (s, _) => IbrdMeasures.amountByYear(star(s), Seq(2023, 2024)),
      Some(s"""
        WITH $factInSql
        SELECT CAST(substring(end_of_period, 8, 4) AS INT) AS period_year,
               sum(CAST(CAST(original_principal_amount AS DECIMAL(18,2)) AS DOUBLE)) AS "Loan Amount",
               count(*) AS Loans,
               count(DISTINCT borrower_BK) AS Borrowers
        FROM fact_in
        WHERE CAST(substring(end_of_period, 8, 4) AS INT) IN (2023, 2024)
        GROUP BY period_year
        ORDER BY period_year ASC
      """.stripMargin),
      doc = "year trend via End_period DimDate role + IN filter (P6/J2/A8)"),

    // ---- snowflaked country dimension: SCD initial load + region SK ----
    // dedup keeps the min (country, country_code, PK_region_SK) tuple per
    // BK; country/code are functionally determined by the BK, so the
    // oracle reduces to min(region SK) per country
    "q74_ibrd_dim_country" -> Q(
      (s, _) => star(s).dimCountry,
      Some(s"""
        WITH staged AS (${stagedOracleSql}),
        region_rows AS (
          SELECT DISTINCT region_BK, region FROM staged WHERE region_BK IS NOT NULL
        ),
        dim_region AS (
          SELECT row_number() OVER (ORDER BY region_BK) AS PK_region_SK, region_BK
          FROM region_rows
        ),
        country_rows AS (
          -- LEFT join: the Spark build left-joins regionCurrent, so a
          -- country with a null region_BK must survive (null region SK)
          -- in both engines. Row-based dedup in Scd.dedup's exact order
          -- (attr columns ASC NULLS FIRST — Spark's asc default), same as
          -- the q75 oracle: a per-column min() would diverge from the
          -- engine whenever duplicate-BK rows mix null and non-null
          -- attributes (min skips nulls; the row pick does not).
          SELECT country_BK, country, country_code, PK_region_SK FROM (
            SELECT s.country_BK, s.country, s.country_code, dr.PK_region_SK,
                   row_number() OVER (PARTITION BY s.country_BK
                     ORDER BY s.country NULLS FIRST, s.country_code NULLS FIRST,
                              dr.PK_region_SK NULLS FIRST) AS rn
            FROM staged s LEFT JOIN dim_region dr USING (region_BK)
            WHERE s.country_BK IS NOT NULL)
          WHERE rn = 1
        )
        SELECT row_number() OVER (ORDER BY country_BK) AS PK_country_SK,
               country_BK, country, country_code, PK_region_SK,
               CAST(1 AS INT) AS source_system_code,
               DATE '2024-07-01' AS start_date,
               CAST(NULL AS DATE) AS end_date,
               TRUE AS is_current
        FROM country_rows
      """.stripMargin),
      doc = "Dimension_Country: SCD load + snowflake region SK (J3/§2.5)"),

    // ---- the full clean stage, hash-verified against DuckDB over the
    // SAME committed fixture bytes (fixtures/ibrd_raw.jsonl + dict CSVs) ----
    "q72_ibrd_staged" -> Q(
      (s, _) => Clean.stage(FixtureFiles.readRaw(s, "/root/repo")),
      Some(stagedOracleSql),
      doc = "IBRD clean stage (P1,P2,E1-E6,W1) vs DuckDB on shared fixture files"),

    // ---- incremental load (R2): per-batch SCD merge + idempotent fact
    // append, the reference's actual production mode (8 SSIS packages
    // re-run per batch; `pyspark_dag2.py:440` append). dim_project is the
    // one fixture dim whose SCD2 attribute (ffilled project_name_) can
    // genuinely change between snapshots — every other BK is
    // dictionary-derived from its own attribute, so a changed attribute
    // implies a new BK there. The oracle replays the same SCD routing in
    // SQL over the same committed fixture files. ----
    "q75_ibrd_incremental_dim" -> Q(
      (s, _) => incrementalStar(s).dimProject,
      Some(s"""
        WITH staged AS (${stagedOracleSql}),
        b1 AS (SELECT * FROM staged WHERE end_of_period = '30-jun-2023'),
        b2 AS (SELECT * FROM staged WHERE end_of_period = '30-jun-2024'),
        s1 AS (
          SELECT project_id, project_name_ FROM (
            SELECT project_id, project_name_,
                   row_number() OVER (PARTITION BY project_id
                     ORDER BY project_name_ NULLS FIRST) AS rn
            FROM b1 WHERE project_id IS NOT NULL)
          WHERE rn = 1
        ),
        d0 AS (
          SELECT row_number() OVER (ORDER BY project_id) AS PK_project_SK,
                 project_id, project_name_,
                 CAST(1 AS INT) AS source_system_code,
                 DATE '2023-07-01' AS start_date,
                 CAST(NULL AS DATE) AS end_date, TRUE AS is_current
          FROM s1
        ),
        s2 AS (
          SELECT project_id, project_name_ FROM (
            SELECT project_id, project_name_,
                   row_number() OVER (PARTITION BY project_id
                     ORDER BY project_name_ NULLS FIRST) AS rn
            FROM b2 WHERE project_id IS NOT NULL)
          WHERE rn = 1
        ),
        matched AS (
          SELECT d.*, s.project_name_ AS s_name,
                 s.project_id IS NOT NULL AS present
          FROM d0 d LEFT JOIN s2 s USING (project_id)
        ),
        carried AS (
          SELECT PK_project_SK, project_id, project_name_,
                 source_system_code, start_date,
                 CASE WHEN present AND project_name_ IS DISTINCT FROM s_name
                      THEN DATE '2024-07-01' ELSE end_date END AS end_date,
                 CASE WHEN present AND project_name_ IS DISTINCT FROM s_name
                      THEN FALSE ELSE is_current END AS is_current
          FROM matched
        ),
        ins AS (
          SELECT s.project_id, s.project_name_
          FROM s2 s LEFT JOIN d0 d USING (project_id)
          WHERE d.project_id IS NULL
             OR d.project_name_ IS DISTINCT FROM s.project_name_
        ),
        inserted AS (
          SELECT (SELECT coalesce(max(PK_project_SK), 0) FROM d0)
                   + row_number() OVER (ORDER BY project_id) AS PK_project_SK,
                 project_id, project_name_,
                 CAST(1 AS INT) AS source_system_code,
                 DATE '2024-07-01' AS start_date,
                 CAST(NULL AS DATE) AS end_date, TRUE AS is_current
          FROM ins
        )
        SELECT * FROM carried UNION ALL SELECT * FROM inserted
      """.stripMargin),
      doc = "incremental SCD merge of dim_project over two fixture batches (R2)"),

    // ---- the sf-SCALED parity run (VERDICT r8 item 3): the flagship
    // clean → 7-SCD-dim → fact → visual pipeline on data-scaled input
    // (~600k staged rows at sf0.1), so the parity claim is performance-
    // graded like every other operator. Input rows are index-derived
    // from lineitem (IbrdScale), so the oracle recomputes the visual
    // from the index arithmetic: snapshot filter = i%16<14, dangling
    // country knockout = i%97=0, identical-dup collapse = DISTINCT i,
    // cleaned status = the recoded cycle indexed by j%6. ----
    "q103_ibrd_scaled_build" -> Q(
      (s, d) => IbrdMeasures.loansByStatus(graft.ibrd.IbrdScale.star(s, d)),
      Some(s"""
        WITH idx AS (
          SELECT DISTINCT l_orderkey * 8 +
                 CASE WHEN l_linenumber = 7 THEN 1 ELSE l_linenumber END AS i
          FROM lineitem
        ),
        kept AS (
          SELECT i, i + i // 3 AS j FROM idx
          WHERE i % 16 < 14 AND i % 97 <> 0
        )
        SELECT ${IbrdScaleStatusList}[CAST(j % 6 AS INT) + 1] AS loan_status,
               count(*) AS Loans,
               sum(CAST(CAST(1000000.0 + (i % 100000) * 10.0 AS DECIMAL(18,2))
                        AS DOUBLE)) AS "Loan Amount"
        FROM kept
        GROUP BY 1
        ORDER BY Loans DESC, loan_status ASC
      """.stripMargin),
      doc = "sf-scaled IBRD parity build: clean → SCD dims → fact → loans-by-status visual"),

    // ---- the EXHAUSTIVE Layout replay (VERDICT r9 §next-2): all 27
    // distinct prototypeQuery ASTs of the reference report compiled
    // through the semantic layer and unioned into one long-format
    // result; the oracle regenerates every AST's data points from the
    // staged CTE (measures over fact_in, slicer enumerations from the
    // staged attributes / the calendar / the parameter declarations).
    // One row = one data point some dashboard visual renders. ----
    "q122_layout_replay" -> Q(
      (s, _) => graft.semantic.Layout.replay(star(s)),
      Some(layoutReplayOracle),
      doc = "all 27 Layout prototypeQuery ASTs compiled + oracled (serving-parity completeness)"),

    // ---- page-wide cross-filter (VERDICT r10 §next-8) ----
    // the region slicer's selection applied to EVERY visual on "Loan
    // Portfolio Overview" at once: one crossFiltered model, the filter
    // declared ONCE and propagated through the shared expanded table
    // (region reaches the fact through the country→region snowflake —
    // IbrdMeasures.geoModel). Slicer enumerations stay unfiltered (PBI's
    // default slicer interaction); the oracle applies the same selection
    // to each data visual's fact scan (region attr ≡ dim filter by the
    // SK↔BK bijection, q70's argument).
    "q131_page_crossfilter" -> Q(
      (s, _) => graft.semantic.Layout.replayPage(
        star(s), "LPO", col("region") === "africa",
        graft.ibrd.IbrdMeasures.geoModel),
      Some(replayOracle(
        graft.semantic.Layout.all.filter(_.page == "LPO"),
        Some("region = 'africa'"))),
      doc = "page-wide slicer cross-filter: every LPO visual under a region selection (PBI interaction contract)"),

    "q76_ibrd_incremental_fact" -> Q(
      (s, _) => incrementalStar(s).fact
        .select(
          col("PK_loan_number_SK"), col("loan_number"), col("end_of_period"),
          col("original_principal_amount").cast("double")
            .as("original_principal_amount"),
          col("repaid"), col("due"), col("interest_rate")),
      Some(s"""
        WITH $factInSql,
        f1 AS (
          SELECT row_number() OVER (ORDER BY loan_number, end_of_period)
                   AS PK_loan_number_SK,
                 loan_number, end_of_period,
                 CAST(CAST(original_principal_amount AS DECIMAL(18,2)) AS DOUBLE)
                   AS original_principal_amount,
                 Repaid AS repaid, Due AS due, interest_rate
          FROM fact_in WHERE end_of_period = '30-jun-2023'
        ),
        f2 AS (
          SELECT (SELECT coalesce(max(PK_loan_number_SK), 0) FROM f1)
                   + row_number() OVER (ORDER BY loan_number, end_of_period)
                   AS PK_loan_number_SK,
                 loan_number, end_of_period,
                 CAST(CAST(original_principal_amount AS DECIMAL(18,2)) AS DOUBLE)
                   AS original_principal_amount,
                 Repaid AS repaid, Due AS due, interest_rate
          FROM fact_in
          WHERE end_of_period = '30-jun-2024'
            AND (loan_number, end_of_period) NOT IN
                (SELECT (loan_number, end_of_period) FROM f1)
        )
        SELECT * FROM f1 UNION ALL SELECT * FROM f2
      """.stripMargin),
      doc = "idempotent incremental fact append: natural-key anti-join + SK continuation (R2)")
  )

  // Two-batch incremental warehouse run shared by q75/q76: initial build
  // from the 30-jun-2023 snapshot, PERSIST/LOAD materialization between
  // steps (the stored-table contract a real warehouse has between batch
  // runs — chaining raw lineage compounds the plan), incremental merge of
  // the 30-jun-2024 snapshot, then an idempotent RE-merge of the same
  // batch, which must change nothing (the oracle describes only the first
  // two steps).
  // weak keys + SOFT values: a stopped/discarded session must not stay
  // pinned by this fixture cache (a per-tenant newSession() pattern would
  // otherwise leak one cached Star per session forever). The value must
  // be softly held because a Star's DataFrames strongly reference their
  // SparkSession — a plain WeakHashMap value would re-pin its own key
  // through that chain and never be collected (the WeakHashMap javadoc's
  // value-references-key trap). Soft deref: worst case the Star is
  // re-built after a near-OOM GC; its orphaned persisted blocks are
  // reclaimed by the ContextCleaner.
  private val incrCache =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.lang.ref.SoftReference[IbrdWarehouse.Star]]()

  private def incrementalStar(s: org.apache.spark.sql.SparkSession): IbrdWarehouse.Star =
    incrCache.synchronized {
      Option(incrCache.get(s)).flatMap(r => Option(r.get)).getOrElse {
        val st = buildIncrementalStar(s)
        incrCache.put(s, new java.lang.ref.SoftReference(st))
        st
      }
    }

  private def buildIncrementalStar(session: org.apache.spark.sql.SparkSession): IbrdWarehouse.Star = {
      val staged = Clean.stage(Fixture.raw(session)).cache()
      val b1 = staged.filter(col("end_of_period") === "30-jun-2023")
      val b2 = staged.filter(col("end_of_period") === "30-jun-2024")
      val root = java.nio.file.Files.createTempDirectory("graft_incr").toString
      val sink1 = new graft.sources.TableSink(s"$root/step1")
      val sink2 = new graft.sources.TableSink(s"$root/step2")
      // each step's engine caches are released once its star is on
      // storage (the batch-loop contract)
      IbrdWarehouse.runBatch(session, None, b1, "2023-07-01", sink1)
      IbrdWarehouse.runBatch(session, Some(sink1), b2, "2024-07-01", sink2)
      // the final step's fact is returned lazily to q75/q76 — its landing
      // and caches stay live for the queries' own materialization
      // (untracked default)
      IbrdWarehouse.incremental(
        IbrdWarehouse.load(session, sink2), b2, "2025-07-01")
  }

  /** DuckDB replay of [[graft.semantic.Layout.replay]]: one UNION ALL
    * block per (AST, measure) data point / slicer enumeration, generated
    * from the SAME transcription (`Layout.all`) so the oracle can never
    * drift from the Scala compile. Measures follow the q71 oracle's
    * formulations; dim-attribute groupings read the staged columns (SK ↔
    * BK bijection on the initial load, same argument as q70); DimDate
    * enumerations regenerate the 1990–2026 calendar. */
  private lazy val layoutReplayOracle: String =
    replayOracle(graft.semantic.Layout.all, None)

  /** Oracle generator shared by q122 (full replay) and q131 (one page
    * under a page-wide cross-filter): `dataWhere` restricts the DATA
    * visuals' fact scan — slicer enumerations stay unfiltered, matching
    * [[graft.semantic.Layout.replayPage]]'s PBI interaction contract. */
  private def replayOracle(protos: Seq[graft.semantic.Layout.Proto],
                           dataWhere: Option[String]): String = {
    import graft.semantic.Layout
    val measureSql = Map(
      "Loans" -> "CAST(count(*) AS DOUBLE)",
      "Loan Amount" ->
        "sum(CAST(CAST(original_principal_amount AS DECIMAL(18,2)) AS DOUBLE))",
      "Repaid" -> "sum(Repaid)",
      "Due1" -> "sum(Due)",
      "Disbursed Amount" -> "sum(disbursed_amount)",
      "Undisbursed Amount" -> "sum(undisbursed_amount)",
      "Average Inerest Rate" -> "avg(interest_rate)",
      "Interest Income" -> "sum(disbursed_amount * interest_rate / 100.0)",
      "Guarantors" -> "CAST(count(DISTINCT guarantor_BK) AS DOUBLE)",
      "Borrowers" -> "CAST(count(DISTINCT borrower_BK) AS DOUBLE)")
    val groupSql = Map(
      "loan_status" -> "loan_status",
      "loan_type" -> "loan_type",
      "borrower" -> "borrower",
      "guarantor" -> "guarantor",
      "period_year" -> "CAST(CAST(substring(end_of_period, 8, 4) AS INT) AS VARCHAR)",
      "period_date" -> "end_of_period")
    def q(v: String) = "'" + v.replace("'", "''") + "'"
    val whereSql = dataWhere.map(" WHERE " + _).getOrElse("")
    val blocks: Seq[String] = protos.flatMap { p =>
      (p.slicerDim, p.slicerParam) match {
        case (Some((_, "period_year")), _) => Seq(
          s"""SELECT ${p.idx} AS ast, 'period_year' AS item,
             |       CAST(y AS VARCHAR) AS grp, CAST(NULL AS DOUBLE) AS value_num,
             |       CAST(y AS VARCHAR) AS value_str
             |FROM range(1990, 2027) t(y)""".stripMargin)
        case (Some((_, "period_date")), _) => Seq(
          s"""SELECT ${p.idx}, 'period_date', d, CAST(NULL AS DOUBLE), d
             |FROM (SELECT lower(strftime(dd, '%d-%b-%Y')) AS d
             |      FROM (SELECT unnest(generate_series(DATE '1990-01-01',
             |             DATE '2026-12-31', INTERVAL 1 DAY))::DATE AS dd))""".stripMargin)
        case (Some((_, column)), _) =>
          // SCD dim attribute enumeration; attrs are 1:1 with their
          // dictionary-derived BKs, so the staged distinct is the dim's
          val bk = column match {
            case "region" => "region_BK"
            case "country" => "country_BK"
            case other => sys.error(s"no BK for slicer column '$other'")
          }
          Seq(
            s"""SELECT ${p.idx}, ${q(column)}, $column, CAST(NULL AS DOUBLE), $column
               |FROM (SELECT DISTINCT $column FROM staged WHERE $bk IS NOT NULL)""".stripMargin)
        case (_, Some(param)) =>
          val opts = graft.ibrd.IbrdMeasures.parameterOptions(param)
          opts.map(o =>
            s"SELECT ${p.idx}, ${q(param)}, ${q(o)}, CAST(NULL AS DOUBLE), ${q(o)}")
        case _ =>
          val (grpExpr, grpBy) = p.groupBy match {
            case Some(g) => (s"coalesce(${groupSql(g)}, '')", s" GROUP BY ${groupSql(g)}")
            case None => ("''", "")
          }
          p.measures.map { m =>
            s"""SELECT ${p.idx} AS ast, ${q(m)} AS item, $grpExpr AS grp,
               |       ${measureSql(m)} AS value_num,
               |       CAST(NULL AS VARCHAR) AS value_str
               |FROM fact_in$whereSql$grpBy""".stripMargin
          }
      }
    }
    s"""
       |WITH $factInSql
       |${blocks.mkString("\n", "\nUNION ALL\n", "\n")}
     """.stripMargin
  }

  private def stagedOracleSql: String = {
    val jsonCols = Model.rawSchema.fields.map { f =>
      val t = if (f.dataType == org.apache.spark.sql.types.DoubleType) "DOUBLE" else "VARCHAR"
      s"'${f.name}': '$t'"
    }.mkString(", ")
    val kept = Model.keptSnapshots.map("'" + _ + "'").mkString(", ")
    def dict(name: String) = s"read_csv('/root/repo/fixtures/dicts/$name.csv', header=true)"
    val loweredStrings = Model.rawSchema.fields
      .filterNot(f => Model.earlyDrops.contains(f.name))
      .map { f =>
        if (f.dataType == org.apache.spark.sql.types.StringType)
          s"lower(${f.name}) AS ${f.name}"
        else f.name
      }.mkString(",\n                 ")
    s"""
      WITH raw AS (
        SELECT * FROM read_json('/root/repo/fixtures/ibrd_raw.jsonl',
          format='newline_delimited', columns={$jsonCols})
      ),
      filtered AS (
        SELECT * FROM raw WHERE end_of_period IN ($kept)
      ),
      lowered AS (
        SELECT $loweredStrings
        FROM filtered
      ),
      recoded AS (
        SELECT l.* REPLACE (
                 coalesce(sc.value, l.loan_status) AS loan_status,
                 coalesce(tc.value, l.loan_type) AS loan_type,
                 coalesce(cc.value, l.country) AS country,
                 coalesce(gc.value, l.guarantor) AS guarantor,
                 coalesce(rc.value, l.region) AS region)
        FROM lowered l
        LEFT JOIN ${dict("Status_Cleaning")} sc ON l.loan_status = sc.key
        LEFT JOIN ${dict("Type_Cleaning")} tc ON l.loan_type = tc.key
        LEFT JOIN ${dict("Countries_Cleaning")} cc ON l.country = cc.key
        LEFT JOIN ${dict("Countries_Cleaning")} gc ON l.guarantor = gc.key
        LEFT JOIN ${dict("Regions_Cleaning")} rc ON l.region = rc.key
      ),
      overwritten AS (
        SELECT r.* REPLACE (
                 coalesce(coalesce(bc.value, r.borrower), 'not_specified') AS borrower,
                 coalesce(r.guarantor, 'not_specified') AS guarantor)
        FROM recoded r
        LEFT JOIN ${dict("Borrower_cleaning")} bc ON r.country = bc.key
      ),
      encoded AS (
        SELECT o.*,
               CAST(rbk.value AS INT) AS region_BK,
               CAST(cbk.value AS INT) AS country_BK,
               CAST(gbk.value AS INT) AS guarantor_BK,
               CAST(bbk.value AS INT) AS borrower_BK,
               CAST(sbk.value AS INT) AS loan_status_BK,
               CAST(tbk.value AS INT) AS loan_type_BK
        FROM overwritten o
        LEFT JOIN ${dict("regions_BK")} rbk ON o.region = rbk.key
        LEFT JOIN ${dict("country_BK")} cbk ON o.country = cbk.key
        LEFT JOIN ${dict("country_BK")} gbk ON o.guarantor = gbk.key
        LEFT JOIN ${dict("borrower_BK_updated")} bbk ON o.borrower = bbk.key
        LEFT JOIN ${dict("loan_status_BK")} sbk ON o.loan_status = sbk.key
        LEFT JOIN ${dict("loan_type_BK")} tbk ON o.loan_type = tbk.key
      ),
      filled AS (
        SELECT * REPLACE (
          last_value(project_name_ IGNORE NULLS) OVER (
            ORDER BY loan_number, board_approval_date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS project_name_)
        FROM encoded
      )
      SELECT end_of_period, loan_number, region, country_code, country,
             borrower, guarantor_country_code, guarantor, loan_type,
             loan_status, project_id, project_name_, first_repayment_date,
             last_repayment_date, board_approval_date, interest_rate,
             original_principal_amount, cancelled_amount, undisbursed_amount,
             disbursed_amount, borrowers_obligation,
             region_BK, country_BK, guarantor_BK, borrower_BK,
             loan_status_BK, loan_type_BK,
             repaid_to_ibrd + repaid_3rd_party AS Repaid,
             due_to_ibrd + due_3rd_party AS Due
      FROM filled
    """.stripMargin
  }

  // One star build per session: q70/q71/q73 share it (the build runs the
  // full clean stage + 7 dims + an eager dangling probe — rebuilding and
  // re-caching per query would triple the work and pin 3x the storage).
  // weak keys + soft values, same trap as incrCache: the Star's
  // DataFrames strongly reference the session, so the value must be
  // softly held or the entry can never be collected
  private val starCache =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.lang.ref.SoftReference[IbrdWarehouse.Star]]()

  private def star(s: org.apache.spark.sql.SparkSession): IbrdWarehouse.Star =
    starCache.synchronized {
      Option(starCache.get(s)).flatMap(r => Option(r.get)).getOrElse {
        // the serving boundary, LITERALLY (VERDICT r12 §next-5): build
        // the star ONCE per session, land every table to the warehouse
        // sink, and serve the dashboard from the READ-BACK relations —
        // each star table is a parquet scan leaf, so the dozens of ASTs
        // compiled against it (q31–q39 visuals, q122's 27-AST replay,
        // q131's page) never re-analyze the 7-dim SCD + 10-lookup build
        // plan (measured: q122 25.8 s → ~2 s when the lineage stopped
        // reaching the build). This replaces the earlier localCheckpoint
        // cut: same plan-truncation effect, but with NO executor-storage
        // dependency and a serving path identical to production, where
        // dashboards read landed warehouse tables. SemanticLayoutSpec
        // pins the no-build-reanalysis plan shape.
        val staged = Clean.stage(Fixture.raw(s)).cache()
        val scope = new graft.warehouse.CacheScope
        val built = IbrdWarehouse.build(s, staged, scope = scope)
        val sink = new graft.sources.TableSink(java.nio.file.Files
          .createTempDirectory("graft_star_serve").toString)
        IbrdWarehouse.persist(built, sink)
        scope.release()
        staged.unpersist()
        val served = IbrdWarehouse.load(s, sink)
        starCache.put(s, new java.lang.ref.SoftReference(served))
        served
      }
    }
}
