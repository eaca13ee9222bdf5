package graft.operators

import graft.{Land, Q, QueryPack, Scratch, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Content-derived link graph: extract href targets from page markup,
  * normalize them to hosts, and rank the resulting HOST graph — the
  * crawl-frontier pipeline the synthetic-regular graph of
  * [[Graph]] (q153/q158) cannot exercise. Real link graphs are STRINGLY
  * (hosts need case/www/port normalization), SKEWED (host in-degree
  * follows content-term frequency, not a multiplicative hash), and have
  * VARIABLE out-degree (the constant-OutDegree division of q153 does
  * not apply) — all three now first-class here.
  *
  * The corpus tables carry no markup, so pages are SYNTHESIZED
  * deterministically from `documents.text`: every [[LinkEvery]]-th
  * token becomes an anchor to `http://<token>.example.com/p<i>`, and
  * every [[WwwEvery]]-th additionally carries the three classic
  * normalization hazards (uppercase scheme, `www.` prefix, an explicit
  * port). The ORACLE derives the expected edge list directly from token
  * positions — independently of the markup round-trip — so a hash match
  * PROVES extraction + normalization exactly invert the decoration; an
  * unstripped `www.` or port would surface as a row mismatch.
  *
  * Scale shape: extraction is map-only (regexp over the page column —
  * no shuffle until the edge aggregate); the host graph is ranked with
  * the same exact-integer damped update as q153 but with PER-SOURCE
  * out-degree (`r DIV od`), the general form. Host-keyed joins shuffle
  * strings here; a 10^9-host production run dictionary-encodes hosts to
  * dense longs first (one distinct + id-assign pass, the q20 surrogate
  * pipeline) and buckets the edge table by src so per-round cost stays
  * rank-vector-sized — the layout already pinned for q153 in GraphSpec.
  * Dangling hosts (no out-links — word-hosts never link anywhere) bottom
  * out at the teleport floor via the same left join, and their mass is
  * dropped, matching [[Graph]]'s convention.
  */
object LinkGraph extends QueryPack {

  /** Every LinkEvery-th token (0-based) becomes an anchor. */
  val LinkEvery = 7

  /** Every WwwEvery-th token's anchor carries scheme-case/www/port
    * decoration — the normalization hazards. */
  val WwwEvery = 14

  /** Deterministic page markup per document: tokens joined back with
    * single spaces, link positions wrapped in `<a href=...>` anchors,
    * plus ONE cross-host "next page" anchor to the NEXT document's
    * host (doc d links to the source-host of doc (d+1) mod n — the
    * pagination chain every real site carries). The pagination anchors
    * give the source-host subgraph a RING over the sources, so the
    * extracted graph has skew (word-host in-degree = content-term
    * frequency) AND multi-hop depth in one graph — the two real-web
    * hazards the r13/r14 graphs split across host/trade graphs.
    * Token anchors are pure per-row expressions; the pagination anchor
    * needs the next doc's source, one (doc_id+1)-keyed self-join —
    * CORPUS SYNTHESIS cost, not operator cost (the extraction operator
    * under test, [[extractLinks]], stays map-only). A doc whose
    * successor id is absent (non-contiguous ids) simply emits no
    * pagination anchor — the left join + conditional concat below, and
    * the oracle's inner-join `links_deep` CTE, agree on that rule. */
  def pages(docs: DataFrame): DataFrame = {
    def anchor(w: Column, i: Column): Column = {
      val plain = concat(lit("<a href=\"http://"), w,
        lit(".example.com/p"), i.cast("string"), lit("\">"), w, lit("</a>"))
      val hazard = concat(lit("<a href=\"HTTP://www."), w,
        lit(".example.com:8080/p"), i.cast("string"), lit("\">"), w,
        lit("</a>"))
      when(i % WwwEvery === 0, hazard)
        .when(i % LinkEvery === 0, plain)
        .otherwise(w)
    }
    val n = docs.agg(count(lit(1)).as("lg_n"))
    val nextSrc = docs.select(col("doc_id").as("nxt_id"),
      col("source").as("nxt_src"))
    docs.crossJoin(broadcast(n))
      .withColumn("nxt_id", pmod(col("doc_id") + 1, col("lg_n")))
      .join(nextSrc, Seq("nxt_id"), "left")
      .select(col("doc_id"), col("source"),
        concat(lit("<html><body>"),
          array_join(transform(split(col("text"), " "),
            (w, i) => anchor(w, i)), " "),
          when(col("nxt_src").isNotNull,
            concat(lit(" <a href=\"http://"), col("nxt_src"),
              lit(".example.com/next\">next</a>"))).otherwise(lit("")),
          lit("</body></html>")).as("html"))
  }

  /** The extraction operator under test: pull every href host out of
    * the markup and normalize it — lowercase, strip a leading `www.`,
    * strip an explicit port. One row per link OCCURRENCE (a host linked
    * twice from one page counts twice — in-degree is a frequency
    * signal). Map-only: regexp + explode, no shuffle. */
  def extractLinks(pages: DataFrame): DataFrame =
    pages.select(col("doc_id").as("src_doc"),
      explode(expr(
        """regexp_extract_all(html, '(?i)href="https?://([^/"]+)', 1)"""))
        .as("raw"))
      .select(col("src_doc"),
        regexp_replace(regexp_replace(lower(col("raw")),
          "^www\\.", ""), ":[0-9]+$", "").as("dst_host"))

  /** Full-URL extraction: every href value as discovered, un-normalized
    * — the frontier's raw input ([[extractLinks]] reduces to hosts for
    * the graph tier; the frontier needs the whole URL as its dedup
    * key after [[canonicalizeUrl]]). Map-only: regexp + explode. */
  def extractUrls(pages: DataFrame): DataFrame =
    pages.select(col("doc_id").as("src_doc"),
      explode(expr("""regexp_extract_all(html, '(?i)href="([^"]+)"', 1)"""))
        .as("url"))

  /** Anchor-CONTEXT index: the token immediately preceding each anchor,
    * aggregated per normalized target host — the classic link-context
    * signal of Craswell/Hawking/Robertson 2001 ("Effective site finding
    * using link anchor information"): what the web SAYS about a host,
    * harvested from the pages that link to it, is a stronger retrieval
    * signal for the target than the target's own text, and the standard
    * raw material for query–document training pairs. Map-only like
    * [[extractLinks]] (one regexp pass over the markup, no shuffle
    * until the (host, term) aggregate); the index is bounded by
    * |hosts|·|vocab| — dictionary-sized, like q149's vocab table.
    *
    * The context term is the PLAIN word before the `<a`: an anchor at
    * token 0 has none (no space before it), and a pagination anchor
    * preceded by another anchor's `</a>` tail has none either — the
    * `[a-z0-9]+` term class (the corpus token charset, asserted in
    * LinkGraphSpec) rejects both, and the oracle encodes the same two
    * exclusions from token positions alone. */
  def anchorContext(pages: DataFrame): DataFrame =
    anchorContextRaw(pages)
      .groupBy(col("dst_host"), col("term"))
      .agg(count(lit(1)).as("n_links"))

  /** One row per harvested context OCCURRENCE, with the harvesting
    * page's doc id — the un-aggregated form [[anchorContext]] sums and
    * the incremental maintenance (q187) folds per batch. */
  def anchorContextRaw(pages: DataFrame): DataFrame =
    pages.select(col("doc_id").as("src_doc"), explode(expr(
      """regexp_extract_all(html, '([a-z0-9]+) <a href="(?i)https?://([^/"]+)', 0)"""))
      .as("m"))
      .select(col("src_doc"),
        regexp_extract(col("m"), "^([a-z0-9]+) ", 1).as("term"),
        regexp_replace(regexp_replace(
          lower(regexp_extract(col("m"), "://([^/\"]+)$", 1)),
          "^www\\.", ""), ":[0-9]+$", "").as("dst_host"))

  /** Site finding via anchor text — the Craswell/Hawking/Robertson
    * 2001 result operationalized: anchor-only BM25 beats content
    * ranking for site finding, so each host's aggregated anchor-context
    * terms ([[anchorContext]]) become its "anchor document" and hosts
    * are ranked by Okapi BM25 for the fixed q105 query — scored with
    * the SAME blend expression as q105/q133
    * ([[TextAnalysis.bm25ScoreExpr]]), not a restated formula. Scale
    * shape: the per-host tf pivot is one map-side-combined aggregate
    * over the (already dictionary-bounded) anchor index; stats are one
    * broadcast row; ranking is TakeOrderedAndProject over the HOST
    * dimension — the corpus token stream is touched exactly once, by
    * the q181 harvest. */
  def anchorBm25(pages: DataFrame): DataFrame = {
    val terms = TextAnalysis.Bm25Query
    val perHost = anchorContext(pages)
      .groupBy(col("dst_host"))
      .agg(sum(col("n_links")).as("dl"),
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(col("term") === t, col("n_links")).otherwise(0L))
            .as(s"tf${i + 1}")
        }: _*)
    val stats = perHost.agg(count(lit(1)).as("n"),
      (avg(col("dl")).as("avgdl") +:
        terms.indices.map { i =>
          count(when(col(s"tf${i + 1}") > 0, 1)).as(s"df${i + 1}")
        }): _*)
    perHost.crossJoin(broadcast(stats))
      .select(col("dst_host"),
        TextAnalysis.bm25ScoreExpr(terms).as("bm25"))
      .orderBy(col("bm25").desc, col("dst_host").asc)
      .limit(TextAnalysis.Bm25TopK)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(spark_partition_id(), lit(1)))
          .orderBy(col("bm25").desc, col("dst_host").asc)).cast("int"))
  }

  /** Anchor → query–document TRAINING PAIRS — the payoff the anchor
    * index exists for (Craswell/Hawking/Robertson 2001: anchor text is
    * "the standard raw material for query–document training pairs"):
    * each harvested (term, host) index entry is a POSITIVE pair (the
    * web labeled the host with that term), completed with
    * [[Graph.NegK]] deterministic hash-drawn negative hosts per pair —
    * the q173 word2vec negative-sampling discipline applied to
    * retrieval training. The negative for draw i is the host whose
    * rank-id is `(tid·B1 + hid·B2 + (i+1)·A) mod |hosts|`; a draw that
    * lands on ANY true (term, host') index entry is dropped (a false
    * negative would teach the ranker to demote a genuinely-labeled
    * host — stricter than word2vec's pair-member skip, and both
    * engines replay the same anti-join). Ids are total-order ranks
    * over the index's own host/term dictionaries, assigned through
    * [[graft.warehouse.SurrogateKeys.assign]]'s range-partitioned path
    * — deterministic, no single-task sort.
    *
    * Output: one row per (positive pair, draw) — (term, dst_host,
    * n_links, i, neg_host); the training consumer reads (term,
    * dst_host, 1) and (term, neg_host, 0). Exactly-once by key (term,
    * dst_host, i). Scale: everything downstream of the one harvest
    * pass is dictionary-bounded (|hosts|·|vocab| index rows ×NegK);
    * the dictionaries broadcast-join back; the anti-join is a hash
    * join of two dictionary-sized sides. */
  def anchorPairs(pages: DataFrame): DataFrame = {
    // the index is consumed three times (positives, the negative
    // draw's id join, the false-negative anti-join) — land it once
    // rather than re-running the corpus-sized harvest per consumer
    val ai = Land(anchorContext(pages))
    val hosts = graft.warehouse.SurrogateKeys.assign(
      ai.select(col("dst_host")).distinct(), Seq("dst_host"), "hid",
      offset = -1L)
    val terms = graft.warehouse.SurrogateKeys.assign(
      ai.select(col("term")).distinct(), Seq("term"), "tid", offset = -1L)
    val nh = hosts.agg(count(lit(1)).as("nhost"))
    ai.join(hosts, "dst_host").join(terms, "term")
      .crossJoin(broadcast(nh))
      .select(col("term"), col("dst_host"), col("n_links"), col("tid"),
        col("hid"), col("nhost"),
        explode(sequence(lit(0L), lit(Graph.NegK - 1L))).as("i"))
      .withColumn("neghid",
        pmod(col("tid") * lit(Graph.B1) + col("hid") * lit(Graph.B2) +
          (col("i") + 1) * lit(Graph.A), col("nhost")))
      .join(hosts.select(col("hid").as("neghid"),
        col("dst_host").as("neg_host")), Seq("neghid"))
      .join(ai.select(col("term"), col("dst_host").as("neg_host")),
        Seq("term", "neg_host"), "left_anti")
      .select(col("term"), col("dst_host"), col("n_links"), col("i"),
        col("neg_host"))
  }

  /** Distinct (src_host, dst_host) edges of the host graph: a document's
    * own host is `<source>.example.com`, its targets are the extracted
    * hosts; self-loops dropped. `srcDocPred` (over `src_doc`) restricts
    * WHICH documents' links count — applied AFTER full-corpus page
    * synthesis, because a page's content (including its pagination
    * anchor) is a fact about that page, not about which other docs the
    * current slice happens to contain; the incremental entries' base
    * graphs and their oracles (global `links` CTE filtered by src_doc)
    * both follow this rule. */
  def hostEdges(docs: DataFrame,
                srcDocPred: Column = lit(true)): DataFrame =
    extractLinks(pages(docs))
      .filter(srcDocPred)
      .join(docs.select(col("doc_id").as("src_doc"),
        concat(col("source"), lit(".example.com")).as("src")), "src_doc")
      .select(col("src"), col("dst_host").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** One damped integer round with PER-SOURCE out-degree: contributions
    * `r DIV od` summed per dst (map-side partial agg), teleport floor
    * via left join — [[Graph.step]] generalized past the constant
    * OutDegree of the derived graph. `edges` must carry (src, dst, od). */
  def stepVarDeg(nodes: DataFrame, edges: DataFrame,
                 ranks: DataFrame): DataFrame = {
    val inc = edges
      .join(ranks.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst"))
      .agg(sum(expr("r DIV od")).as("inc"))
    nodes.join(inc, nodes("node") === inc("dst"), "left")
      .select(nodes("node"),
        (lit(Graph.Scale * 15 / 100) +
          expr("(85 * coalesce(inc, CAST(0 AS BIGINT))) DIV 100")).as("r"))
  }

  /** Edges joined with their per-source out-degree, materialized once:
    * the table is consumed by every damped round, and re-deriving it
    * would re-run the regexp extraction per round (at scale: the
    * orient-once-persist discipline of the q158 edge table). */
  private def withOutDeg(edges: DataFrame): DataFrame =
    Land(edges.join(edges.groupBy(col("src")).agg(count(lit(1)).as("od")), "src"))

  private def hostNodes(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct()

  /** [[Graph.Iterations]] exact-integer rounds over the extracted host
    * graph from uniform mass; returns (node, r) for every host. */
  def pagerankHosts(spark: SparkSession, docs: DataFrame): DataFrame = {
    val e = withOutDeg(hostEdges(docs))
    val nodes = hostNodes(e)
    val r0 = nodes.select(col("node"), lit(Graph.Scale).as("r"))
    (1 to Graph.Iterations).foldLeft(r0)((r, _) => stepVarDeg(nodes, e, r))
  }

  /** Rank maintenance on the content-derived graph — the incremental-
    * registry family member (q157's shape) where the APPEND is a doc
    * batch whose links haven't been extracted before: ranks converged on
    * the base graph (docs with doc_id % BatchMod ≠ 0) are the stored
    * registry; landing the batch re-runs extraction over the NEW docs
    * only (in production the batch scan — here expressed as the
    * complementary filter) and warm-starts [[Graph.IncrRounds]] damped
    * rounds over the full edge table. Node universe is the full graph's
    * hosts, so pre-append hosts only the batch links to sit at the
    * teleport floor in the stored registry — an empty registry row.
    * Out-degrees are PER-PHASE (the base graph's own od, then the full
    * graph's), exactly what a real append changes. */
  def pagerankHostsIncremental(spark: SparkSession,
                               docs: DataFrame): DataFrame = {
    val eAll = withOutDeg(hostEdges(docs))
    val nodes = hostNodes(eAll)
    val rBase = baseHostRanks(docs, nodes)
    (1 to Graph.IncrRounds)
      .foldLeft(rBase)((r, _) => stepVarDeg(nodes, eAll, r))
  }

  /** The base phase of [[pagerankHostsIncremental]]: ranks converged on
    * the base docs' links over the FULL host universe (pre-append hosts
    * only the batch links to sit at the teleport floor — the empty-
    * registry-row rule). */
  private def baseHostRanks(docs: DataFrame, nodes: DataFrame): DataFrame = {
    val eBase = withOutDeg(hostEdges(docs,
      pmod(col("src_doc"), lit(Graph.BatchMod.toLong)) =!= 0L))
    val r0 = nodes.select(col("node"), lit(Graph.Scale).as("r"))
    (1 to Graph.Iterations)
      .foldLeft(r0)((r, _) => stepVarDeg(nodes, eBase, r))
  }

  /** One-time landing of q187's stored base — the anchor-context
    * counts of the base docs (src_doc % BatchMod ≠ 0), host-bucketed,
    * memoized per (JVM, sf dir): the q126/q157 store discipline.
    * Harvest runs over FULL-corpus page synthesis restricted by
    * src_doc — a page's content is a fact about the page (the
    * hostEdges rule). */
  private val q187Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q187Store(s: SparkSession, d: String): String =
    q187Built.computeIfAbsent(d, _ => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"q187_actx_$tag"
      val root = Scratch.dir("graft_q187")
      s.sql(s"DROP TABLE IF EXISTS $t")
      graft.sources.TableSink.writeBucketed(
        anchorContextRaw(pages(T.documents(s, d)))
          .filter(pmod(col("src_doc"), lit(Graph.BatchMod.toLong)) =!= 0L)
          .groupBy(col("dst_host"), col("term"))
          .agg(count(lit(1)).as("n_links")),
        t, 32, Seq("dst_host"), path = Some(s"$root/$t"))
      t
    })

  /** One-time landing of the q161 stored registry — the base-graph host
    * rank vector — node-bucketed, memoized per (JVM, sf dir): the
    * q126/q157 store discipline (r14 verdict #2). */
  private val q161Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q161Store(s: SparkSession, d: String): String =
    q161Built.computeIfAbsent(d, _ => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"q161_ranks_$tag"
      val root = Scratch.dir("graft_q161")
      s.sql(s"DROP TABLE IF EXISTS $t")
      val docs = T.documents(s, d)
      val nodes = hostNodes(withOutDeg(hostEdges(docs)))
      graft.sources.TableSink.writeBucketed(baseHostRanks(docs, nodes),
        t, 32, Seq("node"), path = Some(s"$root/$t"))
      t
    })

  /** The q161 catalog entry's steady-state form: [[Graph.IncrRounds]]
    * warm rounds over the full extracted edges from the STORED base
    * ranks — result ≡ [[pagerankHostsIncremental]], benched cost = the
    * incremental step (re-extract the batch + warm rounds), not base
    * convergence. */
  def pagerankHostsIncrementalStep(s: SparkSession, dir: String): DataFrame = {
    val docs = T.documents(s, dir)
    val eAll = withOutDeg(hostEdges(docs))
    val nodes = hostNodes(eAll)
    (1 to Graph.IncrRounds)
      .foldLeft(s.table(q161Store(s, dir)): DataFrame)(
        (r, _) => stepVarDeg(nodes, eAll, r))
  }

  // ---- TrustRank (q192): seed-biased trust propagation ----

  /** Trusted seed hosts: the q169 host-quality rollup gated at the
    * corpus mean in EXACT integer arithmetic (s_sum · |hosts| ≥
    * Σ s_sum — the q168 gate rule applied to the host dimension; both
    * sides negative-safe because |hosts| > 0). TrustRank's seed set is
    * "a small set of pages vetted as reputable" (Gyöngyi et al. 2004
    * §4 use inverse PageRank + human review; an LM-quality gate is this
    * pipeline's automated analogue — hosts whose inbound quality mass
    * beats the mean). One broadcast scalar row; the rollup is the only
    * shuffle. */
  def trustSeeds(docs: DataFrame): DataFrame = {
    // the host-dim rollup feeds both the gate scalar and the seed
    // filter; their different column prunings make the subtrees
    // non-identical, so without landing it the whole LM-scoring rollup
    // (tokenize + five count-table joins + host agg) executes twice —
    // landed once, it is a dictionary-sized (host, s_sum) vector
    val roll = Land(NgramLm.hostQualityRollup(docs)
      .select(col("dst_host"), col("s_sum")))
    val tot = roll.agg(sum(col("s_sum")).as("tot"), count(lit(1)).as("nh"))
    roll.crossJoin(broadcast(tot))
      .filter(col("s_sum") * col("nh") >= col("tot"))
      .select(col("dst_host"))
  }

  /** One damped integer TrustRank round — [[stepVarDeg]] with the
    * teleport mass returning ONLY to the seed set (the biased teleport
    * that distinguishes TrustRank from PageRank): t' = seed·(15%·Scale)
    * + (85·incoming) DIV 100. `nodes` must carry (node, seed ∈ {0,1});
    * `ranks` carries (node, seed, t). Overflow bound: trust mass is
    * dominated pointwise by the q160 PageRank iterate from the same
    * start (the teleport term is a subset of PageRank's), so the
    * Graph.scala header's bound applies unchanged. */
  def stepTrust(nodes: DataFrame, edges: DataFrame,
                ranks: DataFrame): DataFrame = {
    val inc = edges
      .join(ranks.select(col("node").as("src"), col("t")), "src")
      .groupBy(col("dst"))
      .agg(sum(expr("t DIV od")).as("inc"))
    nodes.join(inc, nodes("node") === inc("dst"), "left")
      .select(nodes("node"), nodes("seed"),
        (col("seed") * lit(Graph.Scale * 15 / 100) +
          expr("(85 * coalesce(inc, CAST(0 AS BIGINT))) DIV 100")).as("t"))
  }

  /** [[Graph.Iterations]] exact-integer TrustRank rounds over the
    * extracted host graph (Gyöngyi, Garcia-Molina & Pedersen 2004,
    * "Combating web spam with TrustRank"): trust starts ON THE SEEDS
    * (mass Scale each, 0 elsewhere) and propagates along out-links with
    * damping 0.85, teleporting back to seeds only — hosts reachable
    * from the trusted core accumulate trust, unreferenced corners stay
    * near 0 (where PageRank's uniform teleport would still feed them).
    * Returns (node, seed, t) for every host. Scale shape = q160's
    * exactly: the edge table with out-degrees lands once
    * ([[withOutDeg]]), each round is one hash join + map-side-combined
    * sum + teleport left join; the seed flag rides the pinned node
    * table so no per-round re-derivation of the gate. */
  def trustrankHosts(spark: SparkSession, docs: DataFrame): DataFrame = {
    val e = withOutDeg(hostEdges(docs))
    // consumed by every round + the final output
    val nodes = Land(hostNodes(e)
      .join(trustSeeds(docs).select(col("dst_host").as("node"),
        lit(1L).as("seed")), Seq("node"), "left")
      .select(col("node"), coalesce(col("seed"), lit(0L)).as("seed")))
    val t0 = nodes.select(col("node"), col("seed"),
      (col("seed") * lit(Graph.Scale)).as("t"))
    (1 to Graph.Iterations).foldLeft(t0)((t, _) => stepTrust(nodes, e, t))
  }

  /** Spam mass per host (Gyöngyi, Berkhin, Garcia-Molina & Pedersen
    * 2006, "Link spam detection based on mass estimation"): the
    * fraction of a host's PageRank that does NOT come from the trusted
    * core — m = (p − rt)/p, where rt is the TrustRank vector rescaled
    * onto PageRank's total mass (the two chains start from different
    * distributions, so raw t and p are not comparable). In thousandths,
    * exact integer arithmetic end-to-end: rt = (t·Σp) DIV Σt, then
    * spam_milli = max(0, 1000 − (1000·rt) DIV p), clamped because
    * trust-concentrated seeds can carry rt > p. Both Σ are one
    * broadcast scalar row; p ≥ the teleport floor > 0 always, and
    * Σt > 0 because the mean gate always admits the max element.
    * Overflow bound (the q153-header discipline): the largest product
    * is t·Σp ≤ (|S|·Scale)·(N·Scale); signed-64 holds while
    * N·|S|·Scale² < 9·10¹⁸ — at Scale 10⁶ a 10⁴-host graph with a
    * 10²-host seed core uses < 10¹⁸; a production run drops Scale or
    * right-shifts t first (q164's trick) as the graph grows.
    *
    * Scale shape: ONE shared out-degree edge table feeds both chains
    * (the regexp extraction runs once), each round is q160's hash join
    * + map-side-combined sum; the composition adds one node-keyed join
    * and two 1-row aggregates. Returns (node, seed, r, t, spam_milli). */
  def spamMassHosts(spark: SparkSession, docs: DataFrame): DataFrame = {
    val e = withOutDeg(hostEdges(docs))
    val plain = hostNodes(e)
    val r0 = plain.select(col("node"), lit(Graph.Scale).as("r"))
    val pr = (1 to Graph.Iterations)
      .foldLeft(r0)((r, _) => stepVarDeg(plain, e, r))
    val sn = Land(plain
      .join(trustSeeds(docs).select(col("dst_host").as("node"),
        lit(1L).as("seed")), Seq("node"), "left")
      .select(col("node"), coalesce(col("seed"), lit(0L)).as("seed")))
    val t0 = sn.select(col("node"), col("seed"),
      (col("seed") * lit(Graph.Scale)).as("t"))
    val tr = (1 to Graph.Iterations).foldLeft(t0)((t, _) => stepTrust(sn, e, t))
    val sums = pr.agg(sum(col("r")).as("sp"))
      .crossJoin(tr.agg(sum(col("t")).as("st")))
    pr.join(tr.select(col("node"), col("seed"), col("t")), "node")
      .crossJoin(broadcast(sums))
      .select(col("node"), col("seed"), col("r"), col("t"),
        expr("greatest(CAST(0 AS BIGINT), " +
          "1000 - (1000 * ((t * sp) DIV st)) DIV r)").as("spam_milli"))
  }

  /** Oracle-side TrustRank rounds (the [[vdStepsSql]] pattern with the
    * seed-biased teleport); steps from `<from>` over `<edgeCte>`,
    * reading the seed flag from CTE `sn(node, seed)`. */
  private def trustStepsSql(edgeCte: String, from: String, prefix: String,
                            rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) from else s"$prefix${i - 1}"
      s""",
        ${prefix}i$i AS (
          SELECT e.dst AS dst, CAST(sum(r.t // e.od) AS BIGINT) AS inc
          FROM $edgeCte e JOIN $prev r ON e.src = r.node GROUP BY 1
        ),
        $prefix$i AS (
          SELECT sn.node, sn.seed,
                 CAST(sn.seed * ${Graph.Scale * 15 / 100}
                      + (85 * coalesce(inc, 0)) // 100 AS BIGINT) AS t
          FROM sn LEFT JOIN ${prefix}i$i ON sn.node = ${prefix}i$i.dst
        )"""
    }.mkString

  /** Synchronous label-propagation rounds for q167; fixed so the
    * oracle unrolls. */
  val LpaRounds = 3

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007) over the UNDIRECTED host graph — the site-clustering
    * signal (mirror families, link farms, topical hubs). Every node
    * starts as its own label; per round each node adopts the MOST
    * FREQUENT label among its neighbors, ties broken by the smaller
    * label — the deterministic variant, expressed as min(struct(-count,
    * label)) so the pick is one map-side-combined aggregate, never a
    * per-node sort. Synchronous + deterministic tie-break makes the
    * fixed-round result exactly replayable (async LPA is run-order
    * dependent — useless under a hash oracle). Per round: one shuffle
    * join of the label vector into the static symmetrized edges, one
    * (node,label) count, one per-node argmin, one left join back —
    * all label-vector-sized. Min-LABEL propagation (q79's connected
    * components) is the degenerate all-ties case; mode propagation
    * keeps dense communities from being absorbed through a single
    * bridge edge. */
  def lpaCommunities(spark: SparkSession, docs: DataFrame): DataFrame = {
    val e = hostEdges(docs)
    val sym = Land(e.unionByName(e.select(col("dst").as("src"),
        col("src").as("dst")))
      .distinct())
    val nodes = hostNodes(sym)
    lpaLoop(sym, nodes.select(col("node"), col("node").as("label")),
      LpaRounds)
  }

  /** The voting loop of [[lpaCommunities]], factored over an arbitrary
    * SYMMETRIZED (src, dst) edge table and an initial (node, label)
    * frame. Exposed for hand-graph property tests. */
  def lpaLoop(sym: DataFrame, l0: DataFrame, rounds: Int): DataFrame =
    (1 to rounds).foldLeft(l0) { (lab, i) =>
      val votes = sym
        .join(lab.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
      val pick = votes.groupBy(col("dst"))
        .agg(min(struct((col("c") * lit(-1L)).as("nc"),
          col("label").as("l"))).as("m"))
        .select(col("dst"), col("m.l").as("vote"))
      // node-sized label-vector checkpoint every SECOND round — the
      // bfsLoop rule (Graph.scala): `lab` has two differing consumers
      // per round (vote side, merge side), so lazy the plan doubles per
      // round; a stride-2 checkpoint bounds each lazy segment at 4× of
      // a materialized base (still linear) at half the job overhead,
      // which matters on dictionary-sized graphs where the per-round
      // job launch outweighs the re-execution it saves.
      val next = lab.join(pick, lab("node") === pick("dst"), "left")
        .select(lab("node"),
          coalesce(col("vote"), lab("label")).as("label"))
      if (i % 2 == 0 && i < rounds) Land(next) else next
    }

  /** RFC 3986 §6.2.2 percent-encoding normalization, pure expressions:
    * uppercase the two hex digits of every `%`-escape (split on `%` —
    * every later piece's first two chars are that escape's digits; a
    * piece NOT starting with two hex digits was a malformed bare `%`
    * and passes through), then decode the UNRESERVED punctuation
    * escapes (`%7E`→`~`, `%2D`→`-`, `%2E`→`.`, `%5F`→`_`) — encoded
    * and bare forms of an unreserved char name the same resource, so
    * `a%7Eb` and `a~b` must canonicalize to one frontier key. Reserved
    * chars are never decoded (only case-normalized): `%2F` is NOT the
    * path separator. */
  private def pctNormalize(u: Column): Column = {
    val upperHex = array_join(
      transform(split(u, "%", -1), (p, i) =>
        when(i === 0, p)
          .when(p.rlike("^[0-9a-fA-F]{2}"),
            concat(upper(substring(p, 1, 2)), substring(p, 3, 1 << 30)))
          .otherwise(p)), "%")
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(upperHex,
      "%7E", "~"), "%2D", "-"), "%2E", "."), "%5F", "_")
  }

  /** Canonicalize one URL column — the crawl-frontier normalizer that
    * decides whether two discovered URLs are the SAME page (the dedup
    * key of the frontier, run once per discovered link, so it must be
    * map-only): strip the fragment, normalize percent-encoding
    * ([[pctNormalize]]), lowercase scheme+host, strip a leading
    * `www.`, strip the scheme's DEFAULT port only (`:80` for http,
    * `:443` for https — `https://x:80` keeps its odd port), drop
    * tracking params (`utm_*`, `gclid`, `fbclid`), and sort the
    * surviving query params for order-independence. Path case is
    * preserved (paths are case-sensitive). An input WITHOUT an
    * absolute `scheme://` head — protocol-relative `//host/x`,
    * relative paths, junk — returns NULL (non-canonicalizable): a
    * real-markup frontier must resolve those against the page URL
    * first ([[canonicalizeUrlFrom]]) or drop them; the r14 behavior
    * (a path-only key) collided frontier keys ACROSS hosts. Pure
    * string expressions — no shuffle, codegen-friendly. */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = pctNormalize(regexp_replace(u, "#.*$", ""))
    val qstr = regexp_extract(noFrag, "\\?(.*)$", 1)
    val base = regexp_replace(noFrag, "\\?.*$", "")
    val headRaw = regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)", 1)
    val path = regexp_replace(base, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", "")
    val head = regexp_replace(
      regexp_replace(
        regexp_replace(lower(headRaw), "^(https?://)www\\.", "$1"),
        "^(http://[^/:]+):80$", "$1"),
      "^(https://[^/:]+):443$", "$1")
    val kept = filter(split(qstr, "&"), p =>
      !(p.startsWith("utm_") || p.startsWith("gclid=") ||
        p.startsWith("fbclid=") || (p === "")))
    val q = when(size(kept) > 0,
      concat(lit("?"), array_join(array_sort(kept), "&"))).otherwise(lit(""))
    when(u.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), concat(head, path, q))
      .otherwise(lit(null).cast("string"))
  }

  /** Host of an already-CANONICAL url (a [[canonicalizeUrl]] output):
    * the authority up to the first `/`, `?` or `#`, with any `:port`
    * stripped. ONE shared expression for every consumer of the
    * frontier's host key — [[Crawl.canonFrontier]] (the scheduler's
    * universe) and the frontier store's ingest member derive dst_host
    * through this, so a path-less canonical URL (`http://h?a=1`, legal
    * output of the normalizer) keys identically everywhere instead of
    * leaking its query string into the host (ADVICE r15 #1). */
  def hostOfCanonUrl(c: Column): Column =
    regexp_replace(regexp_extract(c, "^[a-z0-9+.-]+://([^/?#]+)", 1),
      ":[0-9]+$", "")

  /** [[canonicalizeUrl]] with the discovering PAGE's URL as resolution
    * context: a protocol-RELATIVE reference (`//host/x` — common in
    * real markup) inherits the page's scheme per RFC 3986 §4.2, then
    * canonicalizes normally; anything else non-absolute still returns
    * NULL (full relative-reference resolution needs the page's path —
    * out of the frontier normalizer's scope, and a frontier that
    * schedules it unresolved would corrupt its key space). */
  def canonicalizeUrlFrom(u: Column, pageUrl: Column): Column = {
    val pageScheme = lower(
      regexp_extract(pageUrl, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val resolved = when(
      u.rlike("^//[^/]") && pageScheme =!= "",
      concat(pageScheme, lit(":"), u)).otherwise(u)
    canonicalizeUrl(resolved)
  }

  /** Deterministically messy URLs per document — every hazard the
    * canonicalizer must undo: uppercase scheme, mixed-case www host,
    * the scheme's default port, a lowercase-hex unreserved escape
    * (`%7e` → decodes to `~`) next to a reserved one (`%3a` → only
    * case-normalizes, to `%3A`), tracking params around real ones in
    * scrambled order, a fragment. Docs ≡ 0 (mod 3) carry ONLY tracking
    * params (canonical form has no query at all). */
  def messyUrls(docs: DataFrame): DataFrame = {
    val even = pmod(col("doc_id"), lit(2L)) === 0L
    docs.select(col("doc_id"), concat(
      when(even, lit("HTTP://WWW.")).otherwise(lit("HTTPS://www.")),
      initcap(col("source")), lit(".Example.COM"),
      when(even, lit(":80")).otherwise(lit(":443")),
      lit("/Docs%7e%3a/"), col("doc_id"),
      when(pmod(col("doc_id"), lit(3L)) === 0L,
        lit("?utm_source=feed&gclid=xyz"))
        .otherwise(concat(lit("?utm_source=feed&b="), col("lang"),
          lit("&a="), col("n_chars"))),
      lit("#s"), col("doc_id")).as("url"))
  }

  /** Oracle: expected links derived DIRECTLY from token positions —
    * independent of the markup round-trip the Spark side performs.
    * Package-private so q169's oracle (NgramLm) reuses the SAME link
    * derivation instead of restating it — a change to the link rule
    * here cannot silently drift the rollup's oracle. */
  private[operators] val linksSql: String = s"""
        doc_words AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        toks AS (
          SELECT doc_id, ws,
                 unnest(generate_series(1, len(ws))) AS i
          FROM doc_words
        ),
        lg_n AS (SELECT count(*) AS n FROM documents),
        links AS (
          SELECT doc_id AS src_doc, ws[i] || '.example.com' AS dst_host
          FROM toks WHERE (i - 1) % $LinkEvery = 0
          UNION ALL
          SELECT d.doc_id AS src_doc, d2.source || '.example.com' AS dst_host
          FROM documents d CROSS JOIN lg_n
          JOIN documents d2 ON d2.doc_id = (d.doc_id + 1) % lg_n.n
        )"""

  /** Oracle: one row per harvested anchor CONTEXT (the plain token
    * before an anchor), derived from token positions — including the
    * two no-context exclusions (anchor at token 0; pagination anchor
    * preceded by another anchor's `</a>` tail). Requires [[linksSql]]'s
    * `toks`/`doc_words`/`lg_n` CTEs in scope. Shared by q181 (the
    * index) and q185 (BM25 site finding over it) so the two cannot
    * drift. */
  private val anchorCtxSql: String = s"""
        actx AS (
          SELECT ws[i] || '.example.com' AS dst_host, ws[i - 1] AS term
          FROM toks WHERE (i - 1) % $LinkEvery = 0 AND i >= 2
          UNION ALL
          SELECT d2.source || '.example.com' AS dst_host,
                 dw.ws[len(dw.ws)] AS term
          FROM doc_words dw CROSS JOIN lg_n
          JOIN documents d2 ON d2.doc_id = (dw.doc_id + 1) % lg_n.n
          WHERE (len(dw.ws) - 1) % $LinkEvery <> 0
        )"""

  /** Oracle: every href of the synthesized markup in CANONICAL form
    * (plus its normalized host), derived from token positions + the
    * pagination rule — the closed form of extractUrls∘canonicalizeUrl
    * over [[pages]]. Requires [[linksSql]]'s `toks`/`lg_n` CTEs in
    * scope. Package-private so the frontier (q179) and the politeness
    * scheduler (q182) share ONE URL derivation — a change to the
    * decoration or canonicalization rule cannot drift one oracle and
    * not the other. */
  private[operators] val urlsSql: String = s"""
        urls AS (
          SELECT doc_id AS src_doc,
                 CASE WHEN (i - 1) % $WwwEvery = 0
                      THEN concat('http://', ws[i],
                                  '.example.com:8080/p', i - 1)
                      ELSE concat('http://', ws[i], '.example.com/p', i - 1)
                 END AS url,
                 ws[i] || '.example.com' AS dst_host
          FROM toks
          WHERE (i - 1) % $LinkEvery = 0
          UNION ALL
          SELECT d.doc_id, concat('http://', d2.source, '.example.com/next'),
                 d2.source || '.example.com'
          FROM documents d CROSS JOIN lg_n
          JOIN documents d2 ON d2.doc_id = (d.doc_id + 1) % lg_n.n
        )"""

  /** Generated damped rounds over the host graph, per-source out-degree
    * (`r // od`), every integer expression CAST to BIGINT (DuckDB types
    * sum(BIGINT) as HUGEINT — the q153 r13 lesson). Steps from `<from>`
    * over `<edgeCte>` (which must carry src, dst, od), emitting CTEs
    * `<prefix>1..<prefix>rounds`. */
  private def vdStepsSql(edgeCte: String, from: String, prefix: String,
                         rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) from else s"$prefix${i - 1}"
      s""",
        ${prefix}i$i AS (
          SELECT e.dst AS dst, CAST(sum(r.r // e.od) AS BIGINT) AS inc
          FROM $edgeCte e JOIN $prev r ON e.src = r.node GROUP BY 1
        ),
        $prefix$i AS (
          SELECT nodes.node,
                 CAST(${Graph.Scale * 15 / 100}
                      + (85 * coalesce(inc, 0)) // 100 AS BIGINT) AS r
          FROM nodes LEFT JOIN ${prefix}i$i ON nodes.node = ${prefix}i$i.dst
        )"""
    }.mkString

  /** Full HITS iterations over the extracted host graph. */
  val HitsRounds = 4

  /** Per-round right-shift exponent: each round ends by shifting the
    * hub vector right [[HitsShift]] bits (integer floor-div by 2^9 —
    * exact, oracle-replayable). Unnormalized HITS multiplies scores by
    * ~(d_in·d_out) per round; choosing 2^shift ≈ that growth pins the
    * score magnitude to a fixed band (here d_in·d_out ≈ 620 ≈ 2^9.3,
    * so magnitudes drift by ~1.2×/round), making ANY round count
    * overflow-safe — the r14 "stated, not implemented" mitigation now
    * code. A production run picks shift = ⌈log2(d̄_in·d̄_out)⌉ the same
    * way. Shifting is monotone (x ≥ y ⇒ x>>s ≥ y>>s), so a round's
    * shift can never invert that round's ranking; LinkGraphSpec pins
    * the end-to-end ranking against the unshifted run. */
  val HitsShift = 9

  /** Initial hub mass 2^20: resolution headroom so the per-round shift
    * truncates noise bits, not signal. */
  val HitsH0: Long = 1L << 20

  /** Kleinberg's HITS (hubs & authorities) — the OTHER classic link
    * signal: source-hosts that link to many strong word-hosts are hubs,
    * word-hosts linked from many strong hubs are authorities. Run in
    * exact integer arithmetic for a FIXED [[HitsRounds]] rounds
    * (hash-oracle-able), with the per-round [[HitsShift]] right-shift
    * renormalization bounding the growth that would otherwise overflow
    * BIGINT after ~3 rounds at web degrees. Each half-round is one
    * shuffle join of the score vector into the static edge table + a
    * map-side-combined group-by — the q153 static-edges/moving-vector
    * split. */
  def hitsHosts(spark: SparkSession, docs: DataFrame): DataFrame =
    hitsLoop(Land(hostEdges(docs)), HitsRounds, HitsShift)

  /** The shifted HITS loop of [[hitsHosts]], factored over an arbitrary
    * (src, dst) edge table — exposed for the spec's shift-invariance
    * property (shift = 0 replays the r14 unnormalized form). */
  def hitsLoop(e: DataFrame, rounds: Int, shift: Int): DataFrame = {
    val nodes = hostNodes(e)
    var h = nodes.select(col("node"), lit(HitsH0).as("h"))
    var a = nodes.select(col("node"), lit(0L).as("a"))
    for (_ <- 1 to rounds) {
      val ain = e.join(h.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst")).agg(sum(col("h")).as("s"))
      a = nodes.join(ain, nodes("node") === ain("dst"), "left")
        .select(nodes("node"), coalesce(col("s"), lit(0L)).as("a"))
      val hout = e.join(a.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src")).agg(sum(col("a")).as("s"))
      h = nodes.join(hout, nodes("node") === hout("src"), "left")
        .select(nodes("node"),
          shiftright(coalesce(col("s"), lit(0L)), shift).as("h"))
    }
    h.select(col("node"), col("h").as("hub"))
      .join(a.select(col("node"), col("a").as("auth")), "node")
  }

  /** Generated HITS CTE rounds: a<i> from h<i-1> over in-edges, h<i>
    * from a<i> over out-edges with the per-round right-shift (floor
    * division — scores are non-negative, so `// 2^shift` ≡ `>> shift`)
    * — the same loop as [[hitsHosts]]. */
  private def hitsSql(rounds: Int, shift: Int): String =
    (1 to rounds).map { i =>
      s""",
        ai$i AS (
          SELECT e.dst AS dst, CAST(sum(h.h) AS BIGINT) AS s
          FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1
        ),
        a$i AS (
          SELECT nodes.node, CAST(coalesce(s, 0) AS BIGINT) AS a
          FROM nodes LEFT JOIN ai$i ON nodes.node = ai$i.dst
        ),
        hi$i AS (
          SELECT e.src AS src, CAST(sum(a.a) AS BIGINT) AS s
          FROM e JOIN a$i a ON e.dst = a.node GROUP BY 1
        ),
        h$i AS (
          SELECT nodes.node,
                 CAST(coalesce(s, 0) // ${1L << shift} AS BIGINT) AS h
          FROM nodes LEFT JOIN hi$i ON nodes.node = hi$i.src
        )"""
    }.mkString

  /** Shared oracle fragment: the distinct host edge list + node set
    * derived from token positions (independent of the markup). */
  private val hostGraphSql: String = s"""$linksSql,
        edges AS (
          SELECT DISTINCT d.source || '.example.com' AS src, l.dst_host AS dst
          FROM links l JOIN documents d ON d.doc_id = l.src_doc
          WHERE d.source || '.example.com' <> l.dst_host
        ),
        nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges
        )"""

  /** Generated synchronous-LPA rounds — mode with (count desc, label
    * asc) tie-break, the SQL twin of [[lpaCommunities]]'s min(struct).
    * Steps from `<from>` over edge CTE `<edge>` (symmetrized),
    * emitting `<prefix>1..<prefix>N`. */
  private def lpaSql(edge: String, from: String, prefix: String,
                     rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) from else s"$prefix${i - 1}"
      s""",
        ${prefix}v$i AS (
          SELECT s.dst AS node, l.label AS cand, count(*) AS c
          FROM $edge s JOIN $prev l ON s.src = l.node GROUP BY 1, 2
        ),
        ${prefix}w$i AS (
          SELECT node, cand,
                 row_number() OVER (PARTITION BY node
                                    ORDER BY c DESC, cand) AS rk
          FROM ${prefix}v$i
        ),
        $prefix$i AS (
          SELECT p.node, coalesce(w.cand, p.label) AS label
          FROM $prev p
          LEFT JOIN (SELECT node, cand FROM ${prefix}w$i WHERE rk = 1) w
            ON p.node = w.node
        )"""
    }.mkString

  /** BFS relaxation rounds over the extracted host graph (q180). */
  val HostBfsRounds = 6

  /** BFS depth over the CONTENT-DERIVED host graph from its smallest
    * linking host — the traversal that needed both real-graph hazards
    * in ONE graph (r14 verdict #4): word-host in-degree skew from
    * content-term frequency AND multi-hop depth from the pagination
    * ring [[pages]] plants (seed → its words + next host → that host's
    * words + the next → …), where the r14 host graph was diameter-1
    * and depth lived only on the synthetic trade graph. Seed rule is
    * data-derived in both engines (min src over the edge list — the
    * lexicographically smallest host with out-links). Same loop as
    * q166 ([[Graph.bfsLoop]] — string node keys, same static-edges/
    * moving-vector shape); reached (node, dist) vector oracled. */
  def bfsHosts(spark: SparkSession, docs: DataFrame): DataFrame = {
    val e = Land(hostEdges(docs))
    val nodes = hostNodes(e)
    val seed = e.agg(min(col("src")).as("seed"))
    val d0 = nodes.crossJoin(broadcast(seed))
      .select(col("node"),
        when(col("node") === col("seed"), lit(0L)).as("dist"))
    Graph.bfsLoop(e, d0, HostBfsRounds).filter(col("dist").isNotNull)
  }

  /** Warm-start rounds for q177. */
  val LpaIncrRounds = 2

  /** Incremental LPA maintenance — the registry-family member on
    * labels: communities converged on the BASE docs' host graph are
    * the stored registry; a doc-batch append adds edges (and possibly
    * hosts), and [[LpaIncrRounds]] warm-started voting rounds over the
    * FULL symmetrized graph maintain the labeling — batch-new hosts
    * enter as their own label (the cold rule). Unlike BFS distances,
    * label updates are NOT monotone under edge additions, so
    * maintenance is a fixed-round re-vote from the stored state rather
    * than a provable-upper-bound refinement — the honest contract, and
    * the same one production LPA maintenance ships (labels stabilize
    * in practice because most of the graph is unchanged). */
  private def symOf(docs: DataFrame,
                    srcDocPred: Column = lit(true)): DataFrame = {
    val e = hostEdges(docs, srcDocPred)
    Land(e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
  }

  /** The base phase of [[lpaCommunitiesIncremental]]: labels converged
    * on the base docs' symmetrized host graph (base = the full-corpus
    * link derivation restricted by src_doc — the [[hostEdges]] rule). */
  private def baseLabels(docs: DataFrame): DataFrame = {
    val symBase = symOf(docs,
      pmod(col("src_doc"), lit(Graph.BatchMod.toLong)) =!= 0L)
    lpaLoop(symBase,
      hostNodes(symBase).select(col("node"), col("node").as("label")),
      LpaRounds)
  }

  /** The warm phase, factored so the stored registry can come from a
    * landed table: batch-new hosts enter as their own label (the cold
    * rule), then [[LpaIncrRounds]] re-votes over the full graph. */
  private def lpaIncrementalFrom(docs: DataFrame,
                                 stored: DataFrame): DataFrame = {
    val symAll = symOf(docs)
    val warm = hostNodes(symAll)
      .join(stored.withColumnRenamed("label", "blabel"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("blabel"), col("node")).as("label"))
    lpaLoop(symAll, warm, LpaIncrRounds)
  }

  def lpaCommunitiesIncremental(spark: SparkSession,
                                docs: DataFrame): DataFrame =
    lpaIncrementalFrom(docs, baseLabels(docs))

  /** One-time landing of the q177 stored registry — the base-graph
    * community labeling — node-bucketed, memoized per (JVM, sf dir). */
  private val q177Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q177Store(s: SparkSession, d: String): String =
    q177Built.computeIfAbsent(d, _ => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"q177_labels_$tag"
      val root = Scratch.dir("graft_q177")
      s.sql(s"DROP TABLE IF EXISTS $t")
      graft.sources.TableSink.writeBucketed(baseLabels(T.documents(s, d)),
        t, 32, Seq("node"), path = Some(s"$root/$t"))
      t
    })

  /** The q177 catalog entry's steady-state form: warm re-votes from
    * the STORED base labels — result ≡ [[lpaCommunitiesIncremental]],
    * benched cost = the maintenance step alone. */
  def lpaCommunitiesIncrementalStep(s: SparkSession,
                                    dir: String): DataFrame =
    lpaIncrementalFrom(T.documents(s, dir), s.table(q177Store(s, dir)))

  def queries: Map[String, Q] = Map(
    // Full extracted edge list, one row per link occurrence. The oracle
    // never sees the markup: a hash match proves the regexp + host
    // normalization exactly invert the deterministic decoration
    // (uppercase scheme, www., port) planted on every WwwEvery-th token.
    "q159_link_extract" -> Q(
      (s, d) => extractLinks(pages(T.documents(s, d))),
      Some(s"""
        WITH $linksSql
        SELECT src_doc, dst_host FROM links
      """.stripMargin),
      doc = "Link extraction: regexp href harvest + host normalization " +
        "(case/www/port) over deterministic markup; oracle derives the " +
        "edge list independently of the round-trip"),

    // Anchor-context index (Craswell et al. 2001): the plain token
    // before each anchor, counted per normalized target host. The
    // oracle derives every (host, term) pair from token positions —
    // including the two no-context exclusions (anchor at token 0; a
    // pagination anchor preceded by another anchor's </a> tail) — so a
    // hash match proves the markup-side harvest extracts exactly the
    // link-context set and nothing else.
    "q181_anchor_context" -> Q(
      (s, d) => anchorContext(pages(T.documents(s, d))),
      Some(s"""
        WITH $linksSql,$anchorCtxSql
        SELECT dst_host, term, count(*) AS n_links
        FROM actx GROUP BY 1, 2
      """.stripMargin),
      doc = "Anchor-context index: the word before each anchor " +
        "aggregated per target host (the Craswell 2001 site-finding " +
        "signal / query-doc training-pair source); map-only harvest, " +
        "dictionary-bounded index, exclusions oracled from positions"),

    // Anchor -> query-document training pairs: every (term, host)
    // index entry as a positive, NegK hash-drawn negative hosts per
    // positive (q173's deterministic draw over the host dictionary),
    // false negatives (draws landing on true index entries) dropped by
    // both engines identically. The Craswell payoff q181's scaladoc
    // promises, as an exactly-once oracled artifact.
    "q190_anchor_pairs" -> Q(
      (s, d) => anchorPairs(pages(T.documents(s, d))),
      Some(s"""
        WITH $linksSql,$anchorCtxSql,
        ai AS (
          SELECT dst_host, term, count(*) AS n_links FROM actx GROUP BY 1, 2
        ),
        hostd AS (
          SELECT dst_host, row_number() OVER (ORDER BY dst_host) - 1 AS hid
          FROM (SELECT DISTINCT dst_host FROM ai)
        ),
        termd AS (
          SELECT term, row_number() OVER (ORDER BY term) - 1 AS tid
          FROM (SELECT DISTINCT term FROM ai)
        ),
        nh AS (SELECT count(*) AS nhost FROM hostd),
        cand AS (
          SELECT ai.term, ai.dst_host, ai.n_links, gs.i,
                 ((t.tid * ${Graph.B1} + h.hid * ${Graph.B2}
                   + (gs.i + 1) * ${Graph.A}) % nh.nhost) AS neghid
          FROM ai
          JOIN hostd h ON h.dst_host = ai.dst_host
          JOIN termd t ON t.term = ai.term
          CROSS JOIN nh
          CROSS JOIN (SELECT unnest(generate_series(0, ${Graph.NegK - 1}))
                        AS i) gs
        )
        SELECT c.term, c.dst_host, CAST(c.n_links AS BIGINT) AS n_links,
               CAST(c.i AS BIGINT) AS i, h2.dst_host AS neg_host
        FROM cand c JOIN hostd h2 ON h2.hid = c.neghid
        WHERE NOT EXISTS (SELECT 1 FROM ai p
                          WHERE p.term = c.term AND p.dst_host = h2.dst_host)
      """.stripMargin),
      doc = "Anchor-text query-document training pairs (Craswell 2001 " +
        "signal + word2vec-style deterministic negative sampling): each " +
        "(term, host) anchor-index entry positive, NegK hash-drawn " +
        "negative hosts with false-negative draws dropped; exactly-once " +
        "keyed rows, fully hash-oracled"),

    // BM25 site finding over the anchor index: hosts ranked by what the
    // WEB says about them (their in-link anchor contexts), not their
    // own content — scored with the exact q105 blend expression and the
    // shared actx derivation, so neither formula nor corpus can drift.
    "q185_anchor_bm25" -> Q(
      (s, d) => anchorBm25(pages(T.documents(s, d))),
      Some {
        val terms = TextAnalysis.Bm25Query
        val k1 = TextAnalysis.Bm25K1
        val b = TextAnalysis.Bm25B
        val tfs = terms.zipWithIndex.map { case (t, i) =>
          s"count(*) FILTER (term = '$t') AS tf${i + 1}" }.mkString(",\n                 ")
        val dfs = terms.indices.map { i =>
          s"count(*) FILTER (tf${i + 1} > 0) AS df${i + 1}" }.mkString(",\n                 ")
        val arms = terms.indices.map { i =>
          s"""round(CASE WHEN tf${i + 1} = 0 THEN 0.0 ELSE
              ln(1.0 + (n - df${i + 1} + 0.5) / (df${i + 1} + 0.5))
                * (CAST(tf${i + 1} AS DOUBLE) * ${k1 + 1.0})
                / (CAST(tf${i + 1} AS DOUBLE) + $k1 * (${1.0 - b} + $b * dl / avgdl)) END, 6)"""
        }.mkString("\n          + ")
        s"""
        WITH $linksSql,$anchorCtxSql,
        d AS (
          SELECT dst_host, count(*) AS dl,
                 $tfs
          FROM actx GROUP BY 1
        ),
        g AS (
          SELECT count(*) AS n, avg(dl) AS avgdl,
                 $dfs
          FROM d
        ),
        s AS (
          SELECT dst_host,
          $arms
            AS bm25
          FROM d CROSS JOIN g
        )
        SELECT dst_host, bm25,
               CAST(row_number() OVER (ORDER BY bm25 DESC, dst_host ASC)
                 AS INT) AS rk
        FROM s
        ORDER BY bm25 DESC, dst_host ASC
        LIMIT ${TextAnalysis.Bm25TopK}
      """.stripMargin
      },
      doc = "BM25 site finding over the anchor-context index (Craswell " +
        "2001: anchor-only ranking beats content for site finding) — " +
        "hosts as anchor documents, the q105 blend expression shared, " +
        "top-k + ranks oracled"),

    // Incrementally MAINTAINED anchor index — the crawl form of q181:
    // stored base counts + a batch-only harvest fold. Counts are
    // purely additive (the q127/q133 distributive-maintenance shape),
    // so maintained ≡ full rebuild EXACTLY, and the oracle is q181's
    // full-corpus SQL VERBATIM — the hash gate enforces the identity,
    // not just a test. Per batch: one map-only harvest of the batch's
    // pages + one (host, term)-keyed fold against the host-bucketed
    // store; the corpus markup is never re-scanned.
    "q187_anchor_incremental" -> Q(
      (s, d) => {
        val batch = anchorContextRaw(pages(T.documents(s, d)))
          .filter(pmod(col("src_doc"), lit(Graph.BatchMod.toLong)) === 0L)
          .groupBy(col("dst_host"), col("term"))
          .agg(count(lit(1)).as("n_links"))
        s.table(q187Store(s, d)).unionByName(batch)
          .groupBy(col("dst_host"), col("term"))
          .agg(sum(col("n_links")).as("n_links"))
      },
      Some(s"""
        WITH $linksSql,$anchorCtxSql
        SELECT dst_host, term, count(*) AS n_links
        FROM actx GROUP BY 1, 2
      """.stripMargin),
      doc = "incrementally maintained anchor-context index: stored " +
        "base counts + batch-only harvest fold == full rebuild exactly " +
        "(additive counts; oracle is q181's full-corpus SQL verbatim)"),

    // Exact-integer PageRank over the extracted HOST graph — stringly
    // nodes, variable out-degree, content-frequency skew. Full rank
    // vector oracled bit-for-bit.
    "q160_linkrank_hosts" -> Q(
      (s, d) => pagerankHosts(s, T.documents(s, d)),
      Some(s"""
        WITH $linksSql,
        edges AS (
          SELECT DISTINCT d.source || '.example.com' AS src, l.dst_host AS dst
          FROM links l JOIN documents d ON d.doc_id = l.src_doc
          WHERE d.source || '.example.com' <> l.dst_host
        ),
        nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ),
        od AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
        e AS (SELECT edges.src, edges.dst, od.od
              FROM edges JOIN od USING (src)),
        r0 AS (SELECT node, CAST(${Graph.Scale} AS BIGINT) AS r
               FROM nodes)${vdStepsSql("e", "r0", "r", Graph.Iterations)}
        SELECT node, r FROM r${Graph.Iterations}
      """.stripMargin),
      doc = "Damped integer PageRank over the content-extracted host " +
        "graph: per-source out-degree division, string host keys, " +
        "teleport floor; full rank vector oracled bit-for-bit"),

    // Registry maintenance on the content-derived graph: stored ranks
    // converged on the base docs' links, then a doc-batch append
    // re-extracts only the new docs and warm-starts IncrRounds rounds
    // over the full edges with the full graph's out-degrees. Two-phase
    // integer drive oracled bit-for-bit.
    "q161_linkrank_incremental" -> Q(
      (s, d) => pagerankHostsIncrementalStep(s, d),
      Some(s"""
        WITH $linksSql,
        edges AS (
          SELECT DISTINCT d.source || '.example.com' AS src, l.dst_host AS dst
          FROM links l JOIN documents d ON d.doc_id = l.src_doc
          WHERE d.source || '.example.com' <> l.dst_host
        ),
        edgesb AS (
          SELECT DISTINCT d.source || '.example.com' AS src, l.dst_host AS dst
          FROM links l JOIN documents d ON d.doc_id = l.src_doc
          WHERE d.doc_id % ${Graph.BatchMod} <> 0
            AND d.source || '.example.com' <> l.dst_host
        ),
        nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ),
        odf AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
        ef AS (SELECT edges.src, edges.dst, odf.od
               FROM edges JOIN odf USING (src)),
        odb AS (SELECT src, count(*) AS od FROM edgesb GROUP BY 1),
        eb AS (SELECT edgesb.src, edgesb.dst, odb.od
               FROM edgesb JOIN odb USING (src)),
        r0 AS (SELECT node, CAST(${Graph.Scale} AS BIGINT) AS r
               FROM nodes)${vdStepsSql("eb", "r0", "b", Graph.Iterations)}${
          vdStepsSql("ef", s"b${Graph.Iterations}", "f", Graph.IncrRounds)}
        SELECT node, r FROM f${Graph.IncrRounds}
      """.stripMargin),
      doc = "Incremental link-rank: stored base-graph host ranks + " +
        "warm-started rounds after a doc-batch append changes both the " +
        "edge set and the per-source out-degrees; oracled bit-for-bit"),

    // TrustRank over the host graph: trust seeded on the LM-quality-
    // gated hosts, propagated with the seed-biased teleport — the
    // spam-demotion companion to q160 (uniform-teleport PageRank). The
    // full (node, seed, t) vector is oracled bit-for-bit through the
    // generated integer step chain.
    "q192_trustrank_hosts" -> Q(
      (s, d) => trustrankHosts(s, T.documents(s, d)),
      Some(s"""
        WITH ${NgramLm.scoredMilliCtes},$linksSql,
        edges AS (
          SELECT DISTINCT d.source || '.example.com' AS src, l.dst_host AS dst
          FROM links l JOIN documents d ON d.doc_id = l.src_doc
          WHERE d.source || '.example.com' <> l.dst_host
        ),
        nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ),
        od AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
        e AS (SELECT edges.src, edges.dst, od.od
              FROM edges JOIN od USING (src)),
        roll AS (
          SELECT l.dst_host, CAST(sum(s.s_milli) AS BIGINT) AS s_sum
          FROM links l JOIN scored s ON s.doc_id = l.src_doc
          GROUP BY 1
        ),
        gate AS (
          SELECT CAST(sum(s_sum) AS BIGINT) AS tot, count(*) AS nh FROM roll
        ),
        seeds AS (
          SELECT dst_host FROM roll, gate WHERE s_sum * nh >= tot
        ),
        sn AS (
          SELECT node,
                 CAST(CASE WHEN node IN (SELECT dst_host FROM seeds)
                      THEN 1 ELSE 0 END AS BIGINT) AS seed
          FROM nodes
        ),
        t0 AS (SELECT node, seed,
                      CAST(seed * ${Graph.Scale} AS BIGINT) AS t
               FROM sn)${trustStepsSql("e", "t0", "t", Graph.Iterations)}
        SELECT node, seed, t FROM t${Graph.Iterations}
      """.stripMargin),
      doc = "TrustRank (Gyongyi 2004): exact-integer trust propagation " +
        "from LM-quality-gated seed hosts with seed-biased teleport; " +
        "full trust vector + seed flags oracled bit-for-bit"),

    // Spam mass per host: both rank chains over ONE shared out-degree
    // edge table, trust rescaled onto PageRank's total, thousandths
    // clamped at zero — the full composed vector oracled bit-for-bit.
    "q193_spam_mass" -> Q(
      (s, d) => spamMassHosts(s, T.documents(s, d)),
      Some(s"""
        WITH ${NgramLm.scoredMilliCtes},$linksSql,
        edges AS (
          SELECT DISTINCT d.source || '.example.com' AS src, l.dst_host AS dst
          FROM links l JOIN documents d ON d.doc_id = l.src_doc
          WHERE d.source || '.example.com' <> l.dst_host
        ),
        nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ),
        od AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
        e AS (SELECT edges.src, edges.dst, od.od
              FROM edges JOIN od USING (src)),
        r0 AS (SELECT node, CAST(${Graph.Scale} AS BIGINT) AS r
               FROM nodes)${vdStepsSql("e", "r0", "r", Graph.Iterations)},
        roll AS (
          SELECT l.dst_host, CAST(sum(s.s_milli) AS BIGINT) AS s_sum
          FROM links l JOIN scored s ON s.doc_id = l.src_doc
          GROUP BY 1
        ),
        gate AS (
          SELECT CAST(sum(s_sum) AS BIGINT) AS tot, count(*) AS nh FROM roll
        ),
        seeds AS (
          SELECT dst_host FROM roll, gate WHERE s_sum * nh >= tot
        ),
        sn AS (
          SELECT node,
                 CAST(CASE WHEN node IN (SELECT dst_host FROM seeds)
                      THEN 1 ELSE 0 END AS BIGINT) AS seed
          FROM nodes
        ),
        t0 AS (SELECT node, seed,
                      CAST(seed * ${Graph.Scale} AS BIGINT) AS t
               FROM sn)${trustStepsSql("e", "t0", "t", Graph.Iterations)},
        sums AS (
          SELECT (SELECT CAST(sum(r) AS BIGINT) FROM r${Graph.Iterations})
                   AS sp,
                 (SELECT CAST(sum(t) AS BIGINT) FROM t${Graph.Iterations})
                   AS st
        )
        SELECT p.node, s.seed, p.r, s.t,
               CAST(greatest(0, 1000 - (1000 * ((s.t * m.sp) // m.st))
                                // p.r) AS BIGINT) AS spam_milli
        FROM r${Graph.Iterations} p
        JOIN t${Graph.Iterations} s USING (node), sums m
      """.stripMargin),
      doc = "spam mass (Gyongyi 2006): PageRank minus rescaled " +
        "TrustRank as a per-host thousandths fraction, one shared edge " +
        "table feeding both integer chains; composed vector oracled " +
        "bit-for-bit"),

    // Frontier URL canonicalization: the oracle CONSTRUCTS the expected
    // canonical form directly from the row's columns — independent of
    // the parse — so a hash match proves the normalizer exactly undoes
    // every planted hazard (case, www, default port, tracking params,
    // param order, fragment) and keeps what it must (path case, the
    // non-default-port case lives in LinkGraphSpec).
    "q163_url_canonicalize" -> Q(
      (s, d) => {
        val m = messyUrls(T.documents(s, d))
        m.select(col("doc_id"), canonicalizeUrl(col("url")).as("url"))
      },
      Some("""
        SELECT doc_id,
               concat(CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END,
                      '://', source, '.example.com/Docs~%3A/', doc_id,
                      CASE WHEN doc_id % 3 = 0 THEN ''
                           ELSE concat('?a=', n_chars, '&b=', lang) END)
                 AS url
        FROM documents
      """.stripMargin),
      doc = "URL canonicalization (frontier dedup key): strip fragment/" +
        "www/default port/tracking params, normalize percent-encoding " +
        "(unreserved escapes decoded, reserved case-normalized), " +
        "lowercase scheme+host, sort query params, preserve path case; " +
        "map-only string expressions, oracle constructs the expected " +
        "form independently"),

    // Synchronous deterministic label propagation over the undirected
    // host graph: mode-of-neighbors with (count desc, label asc)
    // tie-break, full (node, label) vector oracled bit-for-bit.
    "q167_lpa_communities" -> Q(
      (s, d) => lpaCommunities(s, T.documents(s, d)),
      Some(s"""
        WITH $hostGraphSql,
        sym AS (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst AS src, src AS dst FROM edges
          )
        ),
        l0 AS (SELECT node, node AS label FROM nodes)${
          lpaSql("sym", "l0", "l", LpaRounds)}
        SELECT node, label FROM l$LpaRounds
      """.stripMargin),
      doc = "LPA communities (Raghavan et al.): synchronous mode-of-" +
        "neighbors label propagation with deterministic min tie-break " +
        "over the symmetrized host graph; label-vector-sized shuffles " +
        "per round, final labeling oracled bit-for-bit"),

    // Warm-started LPA after a doc-batch append: stored base-graph
    // labels + LpaIncrRounds re-votes over the full symmetrized graph;
    // batch-new hosts enter as their own label. Full labeling oracled.
    "q177_lpa_incremental" -> Q(
      (s, d) => lpaCommunitiesIncrementalStep(s, d),
      Some(s"""
        WITH $hostGraphSql,
        edgesb AS (
          SELECT DISTINCT d.source || '.example.com' AS src, l.dst_host AS dst
          FROM links l JOIN documents d ON d.doc_id = l.src_doc
          WHERE d.doc_id % ${Graph.BatchMod} <> 0
            AND d.source || '.example.com' <> l.dst_host
        ),
        nodesb AS (
          SELECT src AS node FROM edgesb UNION SELECT dst FROM edgesb
        ),
        sym AS (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst AS src, src AS dst FROM edges
          )
        ),
        symb AS (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edgesb
            UNION ALL SELECT dst AS src, src AS dst FROM edgesb
          )
        ),
        bl0 AS (SELECT node, node AS label FROM nodesb)${
          lpaSql("symb", "bl0", "bl", LpaRounds)},
        w0 AS (
          SELECT n.node, coalesce(b.label, n.node) AS label
          FROM nodes n LEFT JOIN bl$LpaRounds b ON n.node = b.node
        )${lpaSql("sym", "w0", "f", LpaIncrRounds)}
        SELECT node, label FROM f$LpaIncrRounds
      """.stripMargin),
      doc = "Incremental LPA: base-graph community labels stored as " +
        "the registry, a doc-batch append adds edges/hosts, and " +
        "fixed warm-started re-votes over the full graph maintain the " +
        "labeling (label updates are not monotone — the honest " +
        "fixed-round contract); oracled bit-for-bit"),

    // BFS over the content-derived host graph: skew AND depth in one
    // graph (pagination ring gives multi-hop structure), seed = the
    // smallest linking host, reached vector oracled bit-for-bit.
    "q180_bfs_hosts" -> Q(
      (s, d) => bfsHosts(s, T.documents(s, d)),
      Some(s"""
        WITH $hostGraphSql,
        seedv AS (SELECT min(src) AS s FROM edges),
        hd0 AS (SELECT node,
                       CASE WHEN node = (SELECT s FROM seedv)
                            THEN CAST(0 AS BIGINT) END AS dist
                FROM nodes)${
          Graph.bfsSql("edges", "hd0", "hd", HostBfsRounds)}
        SELECT node, dist FROM hd$HostBfsRounds WHERE dist IS NOT NULL
      """.stripMargin),
      doc = "BFS over the content-extracted host graph: multi-hop depth " +
        "from the planted pagination ring plus content-frequency skew " +
        "in one graph; exact-integer relaxations from the data-derived " +
        "seed host, reached set oracled bit-for-bit"),

    // HITS over the extracted host graph: exact-integer rounds with
    // per-round right-shift renormalization, full (node, hub, auth)
    // vector oracled bit-for-bit.
    "q164_hits_hosts" -> Q(
      (s, d) => hitsHosts(s, T.documents(s, d)),
      Some(s"""
        WITH $linksSql,
        edges AS (
          SELECT DISTINCT d.source || '.example.com' AS src, l.dst_host AS dst
          FROM links l JOIN documents d ON d.doc_id = l.src_doc
          WHERE d.source || '.example.com' <> l.dst_host
        ),
        e AS (SELECT src, dst FROM edges),
        nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ),
        h0 AS (SELECT node, CAST($HitsH0 AS BIGINT) AS h FROM nodes)${
          hitsSql(HitsRounds, HitsShift)}
        SELECT h$HitsRounds.node, h$HitsRounds.h AS hub,
               a$HitsRounds.a AS auth
        FROM h$HitsRounds JOIN a$HitsRounds USING (node)
      """.stripMargin),
      doc = "Kleinberg HITS over the content-extracted host graph: " +
        "exact-integer hub/authority rounds with per-round right-shift " +
        "renormalization (growth bounded, any round count overflow-" +
        "safe); static edges, score-vector-only shuffle per half-round; " +
        "full vector oracled bit-for-bit")
  )
}
