package graft.operators

import graft.functions.TextOps
import graft.{Land, Q, QueryPack, Scratch, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed n-gram language model with STUPID BACKOFF — the
  * web-scale LM of Brants et al. 2007 ("Large Language Models in
  * Machine Translation"): no discounting, no normalization, just count
  * ratios with a fixed backoff multiplier α = 0.4, chosen there
  * PRECISELY because it keeps the model embarrassingly distributable —
  * every score is a lookup chain over sharded count tables, never a
  * global normalization pass. q90's unigram scorer is the degenerate
  * case; this is the real production shape.
  *
  * Train/score split follows the catalog's holdout convention
  * (q91/q155/q157): the model trains on docs with doc_id % BatchMod ≠ 0
  * and scores the HELD-OUT batch, so unseen n-grams actually occur and
  * the backoff chain is exercised for real (at sf0.1 the held-out set
  * scores ~26k tokens: ~25.9k at the trigram level, ~38 backed off to
  * bigram; the unigram floor is reachable only via an unseen bigram —
  * covered by NgramLmSpec's hand corpus, including an unseen WORD
  * hitting the +1 floor).
  *
  * Per held-out token at position ≥ 2 (full trigram context):
  *
  *   S(w₃|w₁w₂) = c₃(w₁w₂w₃) / c₂(w₁w₂)            if the trigram was seen
  *              = 0.4 · c₂(w₂w₃) / c₁(w₂)          else if the bigram was
  *              = 0.16 · (c₁(w₃)+1) / (N+V)        else (add-1 unigram
  *                                                  floor, so an unseen
  *                                                  word scores finite)
  *
  * Scale: the three count tables are plain hash aggregates over the
  * training corpus (map-side combined; the trigram table is bounded by
  * distinct trigrams, heavy-tail-bounded like q149's vocab); scoring is
  * per-token array-adjacency context (no token-stream exchange — see
  * [[ctxToks]]) plus FIVE left joins against the count tables, all shuffle joins on
  * n-gram keys — Brants' architecture shards counts by n-gram hash and
  * routes lookups the same way, which is exactly what Spark's hash join
  * does; nothing is broadcast (a 100 TB corpus's n-gram tables are not
  * dim tables — the q67/q90 rule). N and V ride along as one broadcast
  * row. Numeric contract: every score is a ratio of integers times the
  * double literals 0.4 / 0.16 (identical doubles in both engines,
  * correctly-rounded ops), and the per-doc mean log2 is rounded at 3 dp
  * (the q90 rule), so the driver hash is plan- and engine-stable.
  *
  * On top of held-out evaluation (q162), the trained model drives the
  * two classic CORPUS uses of a web-scale LM:
  *  - q168: CCNet-style perplexity FILTERING (Wenzek et al. 2020) —
  *    score every document and keep the above-mean half, with the mean
  *    gate evaluated in exact integer arithmetic (milli-log2 scores) so
  *    the kept set is bit-stable under partitioning;
  *  - q169: crawl prioritization — roll per-page quality up the
  *    extracted link graph ([[LinkGraph]]) to rank HOSTS by the quality
  *    mass of the pages that link to them.
  */
object NgramLm extends QueryPack {

  /** Backoff multiplier (Brants et al. use 0.4, untuned). 0.16 = α²
    * is written as a LITERAL in both engines — 0.4*0.4 computed in
    * doubles is 0.16000000000000003, a different double than the
    * literal, and the two engines must agree bit-for-bit. */
  val Alpha = 0.4

  /** Per-token trigram context straight from the words array: w1/w2 are
    * ARRAY-ADJACENCY reads (ws[i−2], ws[i−1] — CASE-guarded for ANSI),
    * built inside one codegen'd transform+posexplode. Row-identical to
    * the previous `lag(w, k) OVER (PARTITION BY doc_id ORDER BY pos)`
    * formulation because `pos` IS the array index — but a token's
    * context is a fact about its own row's array, so deriving it needs
    * NO exchange+sort of the token stream (guide §2.4 "remove shuffles
    * outright"; the window form shuffled every token of both the train
    * and target corpora once per count-table subtree). */
  private def ctxToks(d: DataFrame): DataFrame = ctxFrom(ctxWords(d))

  /** Doc-dim (doc_id, words-array) rows — the compact form the train
    * side exchanges ONCE as a multi-consumer reuse point (see
    * [[trainCtx]]). */
  private def ctxWords(d: DataFrame): DataFrame =
    d.select(col("doc_id"), TextOps.words(col("text")).as("__ws"))

  private def ctxFrom(words: DataFrame): DataFrame =
    words
      .select(col("doc_id"), col("__ws"),
        posexplode(col("__ws")).as(Seq("pos", "w3")))
      .select(col("doc_id"), col("pos"),
        expr("CASE WHEN pos >= 2 THEN __ws[pos-2] END").as("w1"),
        expr("CASE WHEN pos >= 1 THEN __ws[pos-1] END").as("w2"),
        col("w3"))

  /** Train-side context stream behind ONE deliberate doc-keyed exchange
    * of the doc-dim words arrays: the n-gram count tables each aggregate
    * over this stream, and without a shuffle boundary below them every
    * aggregate would re-scan and re-tokenize the training corpus (the
    * exchange is the reuse point ReuseExchange/AQE dedupe — the r16
    * lesson, applied deliberately). The exchange carries each token's
    * bytes exactly once (doc-dim array rows), strictly less than the
    * old window formulation's token-stream exchange + per-consumer
    * sort+lag. Target-side streams stay exchange-free ([[ctxToks]] —
    * single consumer, nothing to reuse). */
  private def trainCtx(train: DataFrame): DataFrame =
    ctxFrom(ctxWords(train).repartition(col("doc_id")))

  /** Per-token backoff scores for `target` under count tables trained
    * on `train`: (doc_id, lvl ∈ {tri,bi,uni}, s). The shared core of
    * q162 (held-out eval), q168 (corpus filter), q169 (host rollup). */
  def scoredTokens(train: DataFrame, target: DataFrame): DataFrame = {
    val trc = trainCtx(train)
    // every token appears exactly once as w3, so the unigram table (and
    // N = Σc1, V = |vocab| off its dictionary-sized output) read from
    // the same context stream — two fewer tokenize passes than the old
    // separate trw scans, and nv's aggregate reuses uni's exchange
    val uni = trc.groupBy(col("w3").as("w")).agg(count(lit(1)).as("c1"))
    val bi = trc.filter(col("w2").isNotNull)
      .groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("c2"))
    val tri = trc.filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
    val nv = uni.agg(coalesce(sum(col("c1")), lit(0L)).as("n"),
      count(lit(1)).as("v"))
    val te = ctxToks(target).filter(col("w1").isNotNull)
    te
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w2").as("w1"), col("w3").as("w2"),
        col("c2").as("cctx")), Seq("w1", "w2"), "left")
      .join(bi, Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1w2")),
        Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("c1").as("c1w3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(nv))
      .select(col("doc_id"),
        when(col("c3").isNotNull, lit("tri"))
          .when(col("c2").isNotNull, lit("bi"))
          .otherwise(lit("uni")).as("lvl"),
        when(col("c3").isNotNull,
          col("c3").cast("double") / col("cctx"))
          .when(col("c2").isNotNull,
            lit(Alpha) * col("c2").cast("double") / col("c1w2"))
          .otherwise(lit(0.16) *
            (coalesce(col("c1w3"), lit(0L)) + lit(1L)).cast("double") /
            (col("n") + col("v"))).as("s"))
  }

  private def baseDocs(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(Graph.BatchMod.toLong)) =!= 0L)

  /** Score the held-out batch under the base-trained model: per doc,
    * token count, per-backoff-level counts, and the mean log2 score. */
  def stupidBackoffScore(spark: SparkSession, docs: DataFrame): DataFrame = {
    val test = docs.filter(pmod(col("doc_id"), lit(Graph.BatchMod.toLong)) === 0L)
    scoredTokens(baseDocs(docs), test)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("lvl") === "tri", 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("lvl") === "bi", 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("lvl") === "uni", 1L).otherwise(0L)).as("n_uni"),
        round(avg(log2(col("s"))), 3).as("avg_log2s"))
  }

  /** Per-doc LM quality over the WHOLE corpus under the base-trained
    * model, as an exact-integer milli-log2 score: round(avg,3) is the
    * engine-stable double of q162, ×1000 and round lands on (within
    * 1e-10 of) an integer, so the BIGINT s_milli is bit-stable in both
    * engines. Docs with < 3 tokens score no trigram context and drop
    * out — they carry no LM evidence either way. */
  def docScoresMilli(docs: DataFrame): DataFrame =
    docScoresMilliUnder(baseDocs(docs), docs)

  /** [[docScoresMilli]] under an arbitrary training slice — the shared
    * form q184 uses to score the same target under TWO models. */
  def docScoresMilliUnder(train: DataFrame, target: DataFrame): DataFrame =
    scoredTokens(train, target)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_scored"),
        round(avg(log2(col("s"))), 3).as("avg_log2s"))
      .select(col("doc_id"), col("n_scored"),
        round(col("avg_log2s") * lit(1000), 0).cast("long").as("s_milli"))

  /** Fixed-point scale for the Kneser–Ney chain: probabilities ride as
    * integers p ≈ P·2³⁰, every stage ends in a floor division, so both
    * engines replay the arithmetic bit-for-bit (the q153 rule applied
    * to smoothing). Overflow bound (documented like the PageRank
    * header's): the largest products are 4·c₃·2³⁰ and 3·N1+·p₂ with
    * p₂ < 2³¹, so signed-64 holds while no single trigram count or
    * per-context continuation fan-out exceeds ~2³⁰ (≈10⁹) — far above
    * any real corpus' single-n-gram ceiling; a production run picks the
    * scale per corpus the way q164 picks its HITS shift. */
  val KnScale: Long = 1L << 30

  /** Interpolated Kneser–Ney trigram scores (Kneser & Ney 1995, the
    * Chen & Goodman 1999 interpolated form with fixed discount d =
    * 3/4) — the smoothing the CCNet/KenLM perplexity filters actually
    * ship, next to q162's stupid backoff:
    *
    *   P(w₃|w₁w₂) = max(c₃−d,0)/c₂ + d·N1+(w₁w₂·)/c₂ · P(w₃|w₂)
    *   P(w₃|w₂)  = max(N1+(·w₂w₃)−d,0)/N1+(·w₂·)
    *               + d·N1+(w₂·)/N1+(·w₂·) · Pcont(w₃)
    *   Pcont(w₃) = N1+(·w₃) / |distinct bigrams|
    *
    * computed entirely in [[KnScale]] fixed point with d = 3/4 carried
    * as ×4 integer arithmetic (max(4c−3,0) etc.), each stage floor-
    * divided — deterministic, hash-oracle-able, no float smoothing
    * drift. An unseen context falls through to the next level (lvl =
    * full/mid/cont records which fired); the final score floors at 1
    * scaled unit so log₂ is always defined (the add-1 analogue of
    * q162's unigram floor). Scale shape = q162's exactly: count/
    * continuation tables are map-side-combined aggregates, scoring is
    * per-token array-adjacency context + SEVEN hash joins against
    * count-sharded tables (Brants' architecture — count sharding ≡ hash join), one
    * broadcast scalar row (|bigrams|). */
  def knScoredTokens(train: DataFrame, target: DataFrame): DataFrame = {
    val trc = trainCtx(train)
    val bi = trc.filter(col("w2").isNotNull)
      .groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("c2"))
    val tri = trc.filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
    // tri rows are distinct trigram TYPES, so row counts per key are
    // the N1+ continuation counts — no extra distinct pass needed
    val ctx3 = tri.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n1p3"))
    val kn23 = tri.groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("ckn"))
    val kn2 = tri.groupBy(col("w2")).agg(count(lit(1)).as("cknsum"))
    val knmid = kn23.groupBy(col("w2")).agg(count(lit(1)).as("n1pmid"))
    val pcj = bi.groupBy(col("w3")).agg(count(lit(1)).as("n1pc"))
    val nb = bi.agg(count(lit(1)).as("nbig"))
    ctxToks(target).filter(col("w1").isNotNull)
      .join(bi.select(col("w2").as("w1"), col("w3").as("w2"),
        col("c2").as("c2ctx")), Seq("w1", "w2"), "left")
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(ctx3, Seq("w1", "w2"), "left")
      .join(kn23, Seq("w2", "w3"), "left")
      .join(kn2, Seq("w2"), "left")
      .join(knmid, Seq("w2"), "left")
      .join(pcj, Seq("w3"), "left")
      .crossJoin(broadcast(nb))
      .withColumn("pc",
        expr(s"greatest((coalesce(n1pc, 0L) * ${KnScale}L) div nbig, 1L)"))
      .withColumn("p2", expr(
        s"""CASE WHEN cknsum IS NOT NULL THEN
              (greatest(4L * coalesce(ckn, 0L) - 3L, 0L) * ${KnScale}L)
                div (4L * cknsum)
              + (3L * coalesce(n1pmid, 0L) * pc) div (4L * cknsum)
            ELSE pc END"""))
      .select(col("doc_id"),
        when(col("c2ctx").isNotNull, lit("full"))
          .when(col("cknsum").isNotNull, lit("mid"))
          .otherwise(lit("cont")).as("lvl"),
        expr(
          s"""greatest(CASE WHEN c2ctx IS NOT NULL THEN
                (greatest(4L * coalesce(c3, 0L) - 3L, 0L) * ${KnScale}L)
                  div (4L * c2ctx)
                + (3L * coalesce(n1p3, 0L) * p2) div (4L * c2ctx)
              ELSE p2 END, 1L)""").as("p"))
  }

  /** Per-order discounts for MODIFIED Kneser–Ney, estimated from
    * count-of-counts (Chen & Goodman 1999 §3, eq. 26 — KenLM's default
    * smoothing): with n_k = number of n-gram types occurring exactly k
    * times at this order,
    *
    *   Y   = n1 / (n1 + 2·n2)
    *   D1  = 1 − 2·Y·n2/n1     (discount for count-1 n-grams)
    *   D2  = 2 − 3·Y·n3/n2     (count-2)
    *   D3+ = 3 − 4·Y·n4/n3     (count ≥ 3)
    *
    * carried in [[KnScale]] fixed point with floor-divided stages
    * (Y first, then each D — the oracle replays the same order), each
    * clamped at ≥ 0. A degenerate count-of-counts (the guard's n_k =
    * 0, impossible on any Zipfian corpus but reachable on hand
    * corpora) falls back to q183's fixed d = 3/4 for that discount —
    * KenLM aborts there; a library operator degrades instead.
    * Input: one row (n1, n2, n3, n4); output: one row (d1, d2, d3).
    * Overflow bound: n1·KnScale needs n1 < 2³³ singleton types per
    * order — far above any real corpus' count-of-count at one order. */
  private[graft] def mknDiscounts(cc: DataFrame): DataFrame =
    cc.select(col("n1"), col("n2"), col("n3"), col("n4"),
      expr(s"CASE WHEN n1 > 0 THEN (n1 * ${KnScale}L) div (n1 + 2L * n2) " +
        "ELSE 0L END").as("y"))
      .select(
        expr(s"CASE WHEN n1 > 0 THEN greatest(${KnScale}L " +
          s"- (2L * n2 * y) div n1, 0L) " +
          s"ELSE (3L * ${KnScale}L) div 4L END").as("d1"),
        expr(s"CASE WHEN n1 > 0 AND n2 > 0 THEN greatest(2L * ${KnScale}L " +
          s"- (3L * n3 * y) div n2, 0L) " +
          s"ELSE (3L * ${KnScale}L) div 4L END").as("d2"),
        expr(s"CASE WHEN n1 > 0 AND n3 > 0 THEN greatest(3L * ${KnScale}L " +
          s"- (4L * n4 * y) div n3, 0L) " +
          s"ELSE (3L * ${KnScale}L) div 4L END").as("d3"))

  /** Count-of-counts (n1..n4) of a count column `c` — one broadcast
    * row per order, the only input [[mknDiscounts]] needs. */
  private def countOfCounts(t: DataFrame, c: String): DataFrame =
    t.agg(sum(when(col(c) === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col(c) === 2L, 1L).otherwise(0L)).as("n2"),
      sum(when(col(c) === 3L, 1L).otherwise(0L)).as("n3"),
      sum(when(col(c) === 4L, 1L).otherwise(0L)).as("n4"))

  /** MODIFIED interpolated Kneser–Ney trigram scores — q183 with the
    * fixed d = 3/4 replaced by the per-order, per-count D1/D2/D3+ of
    * [[mknDiscounts]] (Chen & Goodman 1999 §3; KenLM's default):
    *
    *   P(w₃|w₁w₂) = max(c₃−D(c₃),0)/c₂
    *                + γ(w₁w₂)·P(w₃|w₂)
    *   γ(w₁w₂)   = (D1·t1 + D2·t2 + D3+·t3+)/c₂
    *
    * where t_k counts the trigram types after w₁w₂ with count k — and
    * the mid level identically over continuation counts. All stages
    * floor-divided in [[KnScale]] fixed point (γ is divided down to
    * scale BEFORE multiplying the lower-order probability, so the
    * largest product is 3·KnScale·p₂ < 3·2⁶⁰ — the q183 overflow
    * protocol). Scale shape unchanged from q183: the two per-context
    * type-count tables (t1/t2/t3+, m1/m2/m3+) REPLACE q183's n1p3/
    * n1pmid aggregates at identical key cardinality; the count-of-
    * counts ride as two more one-row broadcasts. */
  def mknScoredTokens(train: DataFrame, target: DataFrame): DataFrame = {
    val trc = trainCtx(train)
    val bi = trc.filter(col("w2").isNotNull)
      .groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("c2"))
    val tri = trc.filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3"))
    val tctx = tri.groupBy(col("w1"), col("w2")).agg(
      sum(when(col("c3") === 1L, 1L).otherwise(0L)).as("t1"),
      sum(when(col("c3") === 2L, 1L).otherwise(0L)).as("t2"),
      sum(when(col("c3") >= 3L, 1L).otherwise(0L)).as("t3p"))
    val kn23 = tri.groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("ckn"))
    val kn2 = tri.groupBy(col("w2")).agg(count(lit(1)).as("cknsum"))
    val mctx = kn23.groupBy(col("w2")).agg(
      sum(when(col("ckn") === 1L, 1L).otherwise(0L)).as("m1"),
      sum(when(col("ckn") === 2L, 1L).otherwise(0L)).as("m2"),
      sum(when(col("ckn") >= 3L, 1L).otherwise(0L)).as("m3p"))
    val pcj = bi.groupBy(col("w3")).agg(count(lit(1)).as("n1pc"))
    val nb = bi.agg(count(lit(1)).as("nbig"))
    val dd3 = mknDiscounts(countOfCounts(tri, "c3"))
      .select(col("d1").as("d1_3"), col("d2").as("d2_3"),
        col("d3").as("d3_3"))
    val dd2 = mknDiscounts(countOfCounts(kn23, "ckn"))
      .select(col("d1").as("d1_2"), col("d2").as("d2_2"),
        col("d3").as("d3_2"))
    ctxToks(target).filter(col("w1").isNotNull)
      .join(bi.select(col("w2").as("w1"), col("w3").as("w2"),
        col("c2").as("c2ctx")), Seq("w1", "w2"), "left")
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(tctx, Seq("w1", "w2"), "left")
      .join(kn23, Seq("w2", "w3"), "left")
      .join(kn2, Seq("w2"), "left")
      .join(mctx, Seq("w2"), "left")
      .join(pcj, Seq("w3"), "left")
      .crossJoin(broadcast(nb))
      .crossJoin(broadcast(dd3))
      .crossJoin(broadcast(dd2))
      .withColumn("pc",
        expr(s"greatest((coalesce(n1pc, 0L) * ${KnScale}L) div nbig, 1L)"))
      .withColumn("p2", expr(
        s"""CASE WHEN cknsum IS NOT NULL THEN
              greatest(coalesce(ckn, 0L) * ${KnScale}L
                - CASE coalesce(ckn, 0L) WHEN 0L THEN 0L WHEN 1L THEN d1_2
                       WHEN 2L THEN d2_2 ELSE d3_2 END, 0L) div cknsum
              + (((d1_2 * coalesce(m1, 0L) + d2_2 * coalesce(m2, 0L)
                   + d3_2 * coalesce(m3p, 0L)) div cknsum) * pc)
                div ${KnScale}L
            ELSE pc END"""))
      .select(col("doc_id"),
        when(col("c2ctx").isNotNull, lit("full"))
          .when(col("cknsum").isNotNull, lit("mid"))
          .otherwise(lit("cont")).as("lvl"),
        expr(
          s"""greatest(CASE WHEN c2ctx IS NOT NULL THEN
                greatest(coalesce(c3, 0L) * ${KnScale}L
                  - CASE coalesce(c3, 0L) WHEN 0L THEN 0L WHEN 1L THEN d1_3
                         WHEN 2L THEN d2_3 ELSE d3_3 END, 0L) div c2ctx
                + (((d1_3 * coalesce(t1, 0L) + d2_3 * coalesce(t2, 0L)
                     + d3_3 * coalesce(t3p, 0L)) div c2ctx) * p2)
                  div ${KnScale}L
              ELSE p2 END, 1L)""").as("p"))
  }

  /** Held-out evaluation under MODIFIED KN — q183's report shape with
    * the per-order estimated discounts live. */
  def mknDocScores(docs: DataFrame): DataFrame = {
    val test = docs.filter(pmod(col("doc_id"),
      lit(Graph.BatchMod.toLong)) === 0L)
    mknScoredTokens(baseDocs(docs), test)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("lvl") === "full", 1L).otherwise(0L)).as("n_full"),
        sum(when(col("lvl") === "mid", 1L).otherwise(0L)).as("n_mid"),
        sum(when(col("lvl") === "cont", 1L).otherwise(0L)).as("n_cont"),
        sum(col("p")).as("p_sum"),
        round(avg(log2(col("p").cast("double") / lit(KnScale.toDouble))), 3)
          .as("avg_log2p"))
  }

  /** Held-out evaluation under the KN-smoothed model: per doc, token
    * count, per-level counts (which smoothing level fired), the exact
    * integer score sum, and the 3 dp mean log2 — the q162 report shape
    * with the scores KN-smoothed. */
  def knDocScores(docs: DataFrame): DataFrame = {
    val test = docs.filter(pmod(col("doc_id"),
      lit(Graph.BatchMod.toLong)) === 0L)
    knScoredTokens(baseDocs(docs), test)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("lvl") === "full", 1L).otherwise(0L)).as("n_full"),
        sum(when(col("lvl") === "mid", 1L).otherwise(0L)).as("n_mid"),
        sum(when(col("lvl") === "cont", 1L).otherwise(0L)).as("n_cont"),
        sum(col("p")).as("p_sum"),
        round(avg(log2(col("p").cast("double") / lit(KnScale.toDouble))), 3)
          .as("avg_log2p"))
  }

  /** Whole-corpus per-doc KN quality as exact integer milli-log2 —
    * [[docScoresMilli]] with the scores Kneser–Ney-smoothed. */
  def knDocScoresMilli(docs: DataFrame): DataFrame =
    knScoredTokens(baseDocs(docs), docs)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_scored"),
        round(avg(log2(col("p").cast("double") / lit(KnScale.toDouble))), 3)
          .as("a"))
      .select(col("doc_id"), col("n_scored"),
        round(col("a") * lit(1000), 0).cast("long").as("s_milli"))

  /** q168's CCNet perplexity gate under the KN-SMOOTHED model — CCNet's
    * actual configuration (Wenzek et al. run KenLM, which is interpolated
    * modified KN): same exact-integer mean gate (s_milli·n_docs ≥ Σ), so
    * the kept set stays bit-stable; only the smoothing changed. */
  def knQualityGate(docs: DataFrame): DataFrame = {
    // land the doc-dim score vector ONCE: it feeds both the gate scalar
    // and the kept-set filter, whose different column prunings make the
    // two subtrees non-identical — without the landing the whole
    // KN-scoring chain (tokenize + seven count-table joins) executes
    // twice (the r15 moving-vector lesson; measured 3.75 s → the cost
    // of one scoring pass + the gate)
    val scored = Land(knDocScoresMilli(docs))
    val tot = scored.agg(sum(col("s_milli")).as("tot"),
      count(lit(1)).as("nd"))
    scored.crossJoin(broadcast(tot))
      .filter(col("s_milli") * col("nd") >= col("tot"))
      .select(col("doc_id"), col("n_scored"), col("s_milli"))
  }

  /** q168's CCNet gate bucketed PER LANGUAGE — the configuration
    * Wenzek et al. 2020 actually describe: perplexity thresholds are
    * computed within each language bucket, never globally, because LM
    * scores across languages are incomparable and a global mean starves
    * low-resource languages (their docs score systematically worse
    * under any shared model and would all fall below a corpus-wide
    * bar). Same exact-integer membership as q168 — kept iff
    * s_milli · n_lang ≥ Σ_lang s_milli — so each bucket's kept set is
    * bit-stable under partitioning. Scale shape: the per-lang totals
    * are ONE map-side-combined aggregate over the scored set into a
    * lang-dim row set (dictionary-sized — the q149 vocab rule),
    * broadcast back; the scored set streams map-only past it. The only
    * addition over q168 is the lang column ride-along and the groupBy
    * swap — the LM lookup joins upstream still dominate. */
  def langQualityGate(docs: DataFrame): DataFrame = {
    // landed once: consumed by the per-lang totals AND the kept-set
    // filter (see knQualityGate — differing column pruning defeats
    // exchange reuse and would re-run the scoring chain)
    val scored = Land(docScoresMilli(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id"))
    val tot = scored.groupBy(col("lang"))
      .agg(sum(col("s_milli")).as("tot"), count(lit(1)).as("nd"))
    scored.join(broadcast(tot), "lang")
      .filter(col("s_milli") * col("nd") >= col("tot"))
      .select(col("doc_id"), col("lang"), col("n_scored"), col("s_milli"))
  }

  /** The q184 in-domain slice: `lang = 'en'` is the corpus' majority
    * language — a real, content-defined domain, not a hash split. */
  val InDomainLang = "en"

  /** Moore–Lewis intelligent selection (Moore & Lewis 2010, "Intelligent
    * selection of language model training data"): score every document
    * under an IN-DOMAIN LM and a GENERAL LM, keep those the in-domain
    * model finds strictly more probable — the cross-entropy-difference
    * filter every domain-adaptation pipeline runs before training. Both
    * scores are the exact milli-log2 integers of q168, so the kept SET
    * is bit-stable (margin > 0 is an integer comparison, never a float
    * sum race). Cost = two q168 scoring passes sharing one target
    * tokenization; the doc_id join is the only extra shuffle. */
  def mooreLewisSelect(docs: DataFrame): DataFrame =
    mooreLewisSelect(docs,
      docScoresMilli(docs).select(col("doc_id"), col("s_milli").as("s_gen")))

  /** [[mooreLewisSelect]] against an explicit general-LM score feed —
    * the production shape: the general corpus scores are q168's
    * maintained artifact (benched there); selection ADDS the in-domain
    * pass and the margin join. The q184 entry reads the feed from a
    * doc-bucketed store landed once per (JVM, sf dir); the oracle
    * replays both chains. */
  def mooreLewisSelect(docs: DataFrame, gen: DataFrame): DataFrame = {
    val ind = docScoresMilliUnder(
      baseDocs(docs).filter(col("lang") === InDomainLang), docs)
      .select(col("doc_id"), col("s_milli").as("s_ind"))
    ind.join(gen, "doc_id")
      .filter(col("s_ind") > col("s_gen"))
      .select(col("doc_id"), col("s_ind"), col("s_gen"),
        (col("s_ind") - col("s_gen")).as("margin"))
  }

  /** One-time landing of q184's general-LM score feed (the q168 corpus
    * scores) — doc-bucketed, memoized per (JVM, sf dir): the q126/q157
    * store discipline. */
  private val q184Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q184Store(s: SparkSession, d: String): String =
    q184Built.computeIfAbsent(d, _ => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val t = s"q184_gen_$tag"
      val root = Scratch.dir("graft_q184")
      s.sql(s"DROP TABLE IF EXISTS $t")
      graft.sources.TableSink.writeBucketed(
        docScoresMilli(T.documents(s, d))
          .select(col("doc_id"), col("s_milli").as("s_gen")),
        t, 32, Seq("doc_id"), path = Some(s"$root/$t"))
      t
    })

  /** CCNet-style perplexity gate (Wenzek et al. 2020 run corpora
    * through a KenLM and keep the low-perplexity slice): keep documents
    * whose mean log2 score is at or above the CORPUS mean. The gate is
    * evaluated in exact integer arithmetic — s_milli·n_docs ≥ Σs_milli —
    * so membership never hinges on a float sum's add order: one scalar
    * aggregate broadcast against the scored set, no second shuffle. At
    * 100 TB the scored set streams map-only past the broadcast row;
    * the LM lookup joins upstream are the only shuffles. */
  def lmQualityGate(docs: DataFrame): DataFrame = {
    // landed once — same two-consumer shape as knQualityGate: without
    // it the whole stupid-backoff scoring chain runs twice
    val scored = Land(docScoresMilli(docs))
    val tot = scored.agg(sum(col("s_milli")).as("tot"),
      count(lit(1)).as("nd"))
    scored.crossJoin(broadcast(tot))
      .filter(col("s_milli") * col("nd") >= col("tot"))
      .select(col("doc_id"), col("n_scored"), col("s_milli"))
  }

  /** Crawl prioritization: the quality mass flowing INTO each host from
    * the pages that link to it — join the extracted link occurrences
    * ([[LinkGraph.extractLinks]]) to the per-page milli-log2 scores and
    * aggregate per target host. A frontier scheduler fetches
    * high-s_sum hosts first (links from high-quality pages are the
    * classic seed-quality signal). Inner join: only LM-scored pages
    * vote (a 1–2-token page carries no evidence). One shuffle each for
    * the score join (doc_id) and the host rollup (dst_host); the
    * distinct-doc count is exact per host. */
  def hostQualityRollup(docs: DataFrame): DataFrame =
    LinkGraph.extractLinks(LinkGraph.pages(docs))
      .join(docScoresMilli(docs).select(col("doc_id").as("src_doc"),
        col("s_milli")), "src_doc")
      .groupBy(col("dst_host"))
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col("src_doc")).as("n_docs"),
        sum(col("s_milli")).as("s_sum"))

  /** Shared tokenization + count-table CTEs: training tables
    * uni/bi/tri/nv over `trainPred` docs and the target token stream
    * `tec` over `targetPred` docs. Every CTE name carries prefix `p`
    * so two differently-trained models can coexist in one oracle
    * (q184 contrasts an in-domain and a general LM). */
  private def countCtes(trainPred: String, targetPred: String,
                        p: String): String = s"""
        ${p}base AS (
          SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
        ),
        ${p}trtok AS (
          SELECT doc_id, unnest(generate_series(1, len(ws))) AS i, ws
          FROM ${p}base WHERE $trainPred
        ),
        ${p}trw AS (SELECT doc_id, i, ws[i] AS w FROM ${p}trtok),
        ${p}trc AS (
          SELECT doc_id, i,
                 lag(w, 2) OVER (PARTITION BY doc_id ORDER BY i) AS w1,
                 lag(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2,
                 w AS w3
          FROM ${p}trw
        ),
        ${p}uni AS (SELECT w, count(*) AS c1 FROM ${p}trw GROUP BY 1),
        ${p}bi AS (SELECT w2, w3, count(*) AS c2 FROM ${p}trc
               WHERE w2 IS NOT NULL GROUP BY 1, 2),
        ${p}tri AS (SELECT w1, w2, w3, count(*) AS c3 FROM ${p}trc
                WHERE w1 IS NOT NULL GROUP BY 1, 2, 3),
        ${p}nv AS (SELECT (SELECT count(*) FROM ${p}trw) AS n,
                      (SELECT count(DISTINCT w) FROM ${p}trw) AS v),
        ${p}tetok AS (
          SELECT doc_id, unnest(generate_series(1, len(ws))) AS i, ws
          FROM ${p}base WHERE $targetPred
        ),
        ${p}tew AS (SELECT doc_id, i, ws[i] AS w FROM ${p}tetok),
        ${p}tec AS (
          SELECT doc_id, i,
                 lag(w, 2) OVER (PARTITION BY doc_id ORDER BY i) AS w1,
                 lag(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2,
                 w AS w3
          FROM ${p}tew
        )"""

  /** Shared oracle CTE chain: count tables over `trainPred` docs,
    * per-token backoff scores for `targetPred` docs, ending in
    * `<p>sc(doc_id, lvl, s)` — the SQL twin of [[scoredTokens]]. */
  private def backoffCtes(trainPred: String, targetPred: String,
                          p: String = ""): String =
    s"""${countCtes(trainPred, targetPred, p)},
        ${p}sc AS (
          SELECT t.doc_id,
                 CASE WHEN tri.c3 IS NOT NULL THEN 'tri'
                      WHEN bi2.c2 IS NOT NULL THEN 'bi'
                      ELSE 'uni' END AS lvl,
                 CASE WHEN tri.c3 IS NOT NULL
                        THEN CAST(tri.c3 AS DOUBLE) / ctx.c2
                      WHEN bi2.c2 IS NOT NULL
                        THEN $Alpha * CAST(bi2.c2 AS DOUBLE) / u2.c1
                      ELSE 0.16 * (COALESCE(u3.c1, 0) + 1)
                           / CAST(nv.n + nv.v AS DOUBLE) END AS s
          FROM (SELECT * FROM ${p}tec WHERE w1 IS NOT NULL) t
          LEFT JOIN ${p}tri tri
            ON tri.w1 = t.w1 AND tri.w2 = t.w2 AND tri.w3 = t.w3
          LEFT JOIN ${p}bi ctx ON ctx.w2 = t.w1 AND ctx.w3 = t.w2
          LEFT JOIN ${p}bi bi2 ON bi2.w2 = t.w2 AND bi2.w3 = t.w3
          LEFT JOIN ${p}uni u2 ON u2.w = t.w2
          LEFT JOIN ${p}uni u3 ON u3.w = t.w3
          CROSS JOIN ${p}nv nv
        )"""

  private val trainPred = s"doc_id % ${Graph.BatchMod} <> 0"

  /** Oracle CTE for the per-doc milli-log2 score of the whole corpus
    * under a model trained on `train` docs, CTE names prefixed `p` —
    * ends in `<p>scored(doc_id, n_scored, s_milli)`. */
  private def scoredMilliCtesUnder(p: String, train: String): String =
    s"""${backoffCtes(train, "TRUE", p)},
        ${p}scored AS (
          SELECT doc_id, count(*) AS n_scored,
                 CAST(round(round(avg(log2(s)), 3) * 1000, 0) AS BIGINT)
                   AS s_milli
          FROM ${p}sc GROUP BY 1
        )"""

  /** Oracle CTE for the per-doc milli-log2 score of the whole corpus:
    * appends the q168/q169 quantization to the shared chain. Package-
    * private: q179's frontier oracle (Crawl) reuses it for the priority
    * feed, so the feed's oracle cannot drift from q169's. */
  private[operators] def scoredMilliCtes: String =
    scoredMilliCtesUnder("", trainPred)

  /** Oracle CTE chain for the Kneser–Ney scores, ending in
    * `knsc(doc_id, lvl, p)` — the SQL twin of [[knScoredTokens]],
    * staged exactly like the Spark side (pc → p2 → p) so every floor
    * division replays in the same order. */
  private def knCtes(trainP: String, targetP: String): String =
    s"""${countCtes(trainP, targetP, "")},
        ctx3 AS (SELECT w1, w2, count(*) AS n1p3 FROM tri GROUP BY 1, 2),
        kn23 AS (SELECT w2, w3, count(*) AS ckn FROM tri GROUP BY 1, 2),
        kn2 AS (SELECT w2, count(*) AS cknsum FROM tri GROUP BY 1),
        knmid AS (SELECT w2, count(*) AS n1pmid FROM kn23 GROUP BY 1),
        pcj AS (SELECT w3, count(*) AS n1pc FROM bi GROUP BY 1),
        nb AS (SELECT count(*) AS nbig FROM bi),
        knj AS (
          SELECT t.doc_id, ctx.c2 AS c2ctx, tri.c3, c3t.n1p3,
                 k23.ckn, k2.cknsum, km.n1pmid, pj.n1pc, nb.nbig
          FROM (SELECT * FROM tec WHERE w1 IS NOT NULL) t
          LEFT JOIN bi ctx ON ctx.w2 = t.w1 AND ctx.w3 = t.w2
          LEFT JOIN tri ON tri.w1 = t.w1 AND tri.w2 = t.w2 AND tri.w3 = t.w3
          LEFT JOIN ctx3 c3t ON c3t.w1 = t.w1 AND c3t.w2 = t.w2
          LEFT JOIN kn23 k23 ON k23.w2 = t.w2 AND k23.w3 = t.w3
          LEFT JOIN kn2 k2 ON k2.w2 = t.w2
          LEFT JOIN knmid km ON km.w2 = t.w2
          LEFT JOIN pcj pj ON pj.w3 = t.w3
          CROSS JOIN nb
        ),
        knpc AS (
          SELECT *, greatest((coalesce(n1pc, 0) * $KnScale) // nbig, 1) AS pc
          FROM knj
        ),
        knp2 AS (
          SELECT *,
                 CASE WHEN cknsum IS NOT NULL THEN
                   (greatest(4 * coalesce(ckn, 0) - 3, 0) * $KnScale)
                     // (4 * cknsum)
                   + (3 * coalesce(n1pmid, 0) * pc) // (4 * cknsum)
                 ELSE pc END AS p2
          FROM knpc
        ),
        knsc AS (
          SELECT doc_id,
                 CASE WHEN c2ctx IS NOT NULL THEN 'full'
                      WHEN cknsum IS NOT NULL THEN 'mid'
                      ELSE 'cont' END AS lvl,
                 CAST(greatest(CASE WHEN c2ctx IS NOT NULL THEN
                   (greatest(4 * coalesce(c3, 0) - 3, 0) * $KnScale)
                     // (4 * c2ctx)
                   + (3 * coalesce(n1p3, 0) * p2) // (4 * c2ctx)
                 ELSE p2 END, 1) AS BIGINT) AS p
          FROM knp2
        )"""

  /** Oracle CTE chain for MODIFIED KN, ending in `mknsc(doc_id, lvl,
    * p)` — the SQL twin of [[mknScoredTokens]], staged exactly like the
    * Spark side (count-of-counts → Y → discounts → pc → p2 → p) so
    * every floor division replays in the same order. */
  private def mknCtes(trainP: String, targetP: String): String =
    s"""${countCtes(trainP, targetP, "")},
        tctx AS (
          SELECT w1, w2,
                 sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS t1,
                 sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS t2,
                 sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS t3p
          FROM tri GROUP BY 1, 2),
        kn23 AS (SELECT w2, w3, count(*) AS ckn FROM tri GROUP BY 1, 2),
        kn2 AS (SELECT w2, count(*) AS cknsum FROM tri GROUP BY 1),
        mctx AS (
          SELECT w2,
                 sum(CASE WHEN ckn = 1 THEN 1 ELSE 0 END) AS m1,
                 sum(CASE WHEN ckn = 2 THEN 1 ELSE 0 END) AS m2,
                 sum(CASE WHEN ckn >= 3 THEN 1 ELSE 0 END) AS m3p
          FROM kn23 GROUP BY 1),
        pcj AS (SELECT w3, count(*) AS n1pc FROM bi GROUP BY 1),
        nb AS (SELECT count(*) AS nbig FROM bi),
        cc3 AS (
          SELECT sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS n1,
                 sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS n2,
                 sum(CASE WHEN c3 = 3 THEN 1 ELSE 0 END) AS n3,
                 sum(CASE WHEN c3 = 4 THEN 1 ELSE 0 END) AS n4
          FROM tri),
        y3 AS (
          SELECT *, CASE WHEN n1 > 0
                         THEN (n1 * ${KnScale}::BIGINT) // (n1 + 2 * n2)
                         ELSE 0 END AS y
          FROM cc3),
        dd3 AS (
          SELECT CASE WHEN n1 > 0
                      THEN greatest(${KnScale}::BIGINT - (2 * n2 * y) // n1, 0)
                      ELSE (3 * ${KnScale}::BIGINT) // 4 END AS d1_3,
                 CASE WHEN n1 > 0 AND n2 > 0
                      THEN greatest(2 * ${KnScale}::BIGINT - (3 * n3 * y) // n2, 0)
                      ELSE (3 * ${KnScale}::BIGINT) // 4 END AS d2_3,
                 CASE WHEN n1 > 0 AND n3 > 0
                      THEN greatest(3 * ${KnScale}::BIGINT - (4 * n4 * y) // n3, 0)
                      ELSE (3 * ${KnScale}::BIGINT) // 4 END AS d3_3
          FROM y3),
        cc2 AS (
          SELECT sum(CASE WHEN ckn = 1 THEN 1 ELSE 0 END) AS n1,
                 sum(CASE WHEN ckn = 2 THEN 1 ELSE 0 END) AS n2,
                 sum(CASE WHEN ckn = 3 THEN 1 ELSE 0 END) AS n3,
                 sum(CASE WHEN ckn = 4 THEN 1 ELSE 0 END) AS n4
          FROM kn23),
        y2 AS (
          SELECT *, CASE WHEN n1 > 0
                         THEN (n1 * ${KnScale}::BIGINT) // (n1 + 2 * n2)
                         ELSE 0 END AS y
          FROM cc2),
        dd2 AS (
          SELECT CASE WHEN n1 > 0
                      THEN greatest(${KnScale}::BIGINT - (2 * n2 * y) // n1, 0)
                      ELSE (3 * ${KnScale}::BIGINT) // 4 END AS d1_2,
                 CASE WHEN n1 > 0 AND n2 > 0
                      THEN greatest(2 * ${KnScale}::BIGINT - (3 * n3 * y) // n2, 0)
                      ELSE (3 * ${KnScale}::BIGINT) // 4 END AS d2_2,
                 CASE WHEN n1 > 0 AND n3 > 0
                      THEN greatest(3 * ${KnScale}::BIGINT - (4 * n4 * y) // n3, 0)
                      ELSE (3 * ${KnScale}::BIGINT) // 4 END AS d3_2
          FROM y2),
        mknj AS (
          SELECT t.doc_id, ctx.c2 AS c2ctx, tri.c3,
                 tc.t1, tc.t2, tc.t3p,
                 k23.ckn, k2.cknsum, mc.m1, mc.m2, mc.m3p,
                 pj.n1pc, nb.nbig,
                 dd3.d1_3, dd3.d2_3, dd3.d3_3,
                 dd2.d1_2, dd2.d2_2, dd2.d3_2
          FROM (SELECT * FROM tec WHERE w1 IS NOT NULL) t
          LEFT JOIN bi ctx ON ctx.w2 = t.w1 AND ctx.w3 = t.w2
          LEFT JOIN tri ON tri.w1 = t.w1 AND tri.w2 = t.w2 AND tri.w3 = t.w3
          LEFT JOIN tctx tc ON tc.w1 = t.w1 AND tc.w2 = t.w2
          LEFT JOIN kn23 k23 ON k23.w2 = t.w2 AND k23.w3 = t.w3
          LEFT JOIN kn2 k2 ON k2.w2 = t.w2
          LEFT JOIN mctx mc ON mc.w2 = t.w2
          LEFT JOIN pcj pj ON pj.w3 = t.w3
          CROSS JOIN nb CROSS JOIN dd3 CROSS JOIN dd2
        ),
        mknpc AS (
          SELECT *, greatest((coalesce(n1pc, 0) * $KnScale) // nbig, 1) AS pc
          FROM mknj
        ),
        mknp2 AS (
          SELECT *,
                 CASE WHEN cknsum IS NOT NULL THEN
                   greatest(coalesce(ckn, 0) * $KnScale
                     - CASE coalesce(ckn, 0) WHEN 0 THEN 0
                            WHEN 1 THEN d1_2 WHEN 2 THEN d2_2
                            ELSE d3_2 END, 0) // cknsum
                   + (((d1_2 * coalesce(m1, 0) + d2_2 * coalesce(m2, 0)
                        + d3_2 * coalesce(m3p, 0)) // cknsum) * pc)
                     // $KnScale
                 ELSE pc END AS p2
          FROM mknpc
        ),
        mknsc AS (
          SELECT doc_id,
                 CASE WHEN c2ctx IS NOT NULL THEN 'full'
                      WHEN cknsum IS NOT NULL THEN 'mid'
                      ELSE 'cont' END AS lvl,
                 CAST(greatest(CASE WHEN c2ctx IS NOT NULL THEN
                   greatest(coalesce(c3, 0) * $KnScale
                     - CASE coalesce(c3, 0) WHEN 0 THEN 0
                            WHEN 1 THEN d1_3 WHEN 2 THEN d2_3
                            ELSE d3_3 END, 0) // c2ctx
                   + (((d1_3 * coalesce(t1, 0) + d2_3 * coalesce(t2, 0)
                        + d3_3 * coalesce(t3p, 0)) // c2ctx) * p2)
                     // $KnScale
                 ELSE p2 END, 1) AS BIGINT) AS p
          FROM mknp2
        )"""

  def queries: Map[String, Q] = Map(
    // Held-out scoring under the base-trained model with the real
    // backoff chain live (tri + bi levels both fire on this corpus).
    // Per-level integer counts oracle the CONTROL FLOW of the backoff,
    // not just the blended float.
    "q162_stupid_backoff" -> Q(
      (s, d) => stupidBackoffScore(s, T.documents(s, d)),
      Some(s"""
        WITH ${backoffCtes(trainPred, s"doc_id % ${Graph.BatchMod} = 0")}
        SELECT doc_id, count(*) AS n_scored,
               CAST(sum(CASE WHEN lvl = 'tri' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_tri,
               CAST(sum(CASE WHEN lvl = 'bi' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bi,
               CAST(sum(CASE WHEN lvl = 'uni' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_uni,
               round(avg(log2(s)), 3) AS avg_log2s
        FROM sc GROUP BY 1
      """.stripMargin),
      doc = "Stupid-backoff trigram LM (Brants et al.): count tables " +
        "trained on the base docs, held-out batch scored through the " +
        "live tri→bi→add-1-unigram backoff chain; per-level counts + " +
        "3dp mean log2 oracled"),

    // CCNet-style corpus filter: every doc scored under the base-trained
    // LM, kept iff its milli-log2 score is at/above the corpus mean —
    // the mean gate in exact integer arithmetic (s_milli·n_docs ≥ Σ),
    // so the kept SET is bit-stable and hash-oracled.
    "q168_lm_quality_gate" -> Q(
      (s, d) => lmQualityGate(T.documents(s, d)),
      Some(s"""
        WITH $scoredMilliCtes,
        tot AS (SELECT CAST(sum(s_milli) AS BIGINT) AS tot,
                       CAST(count(*) AS BIGINT) AS nd FROM scored)
        SELECT doc_id, n_scored, s_milli
        FROM scored CROSS JOIN tot
        WHERE s_milli * nd >= tot
      """.stripMargin),
      doc = "LM perplexity gate (CCNet): whole corpus scored under the " +
        "base-trained trigram LM, above-integer-mean docs kept; the " +
        "gate is exact milli-log2 arithmetic so membership is " +
        "partition-stable and hash-oracled"),

    // Crawl prioritization: per-page LM quality rolled up the extracted
    // link graph — per target host, link count, distinct scored linking
    // docs, and the integer quality mass.
    "q169_host_quality_rollup" -> Q(
      (s, d) => hostQualityRollup(T.documents(s, d)),
      Some(s"""
        WITH $scoredMilliCtes,${LinkGraph.linksSql}
        SELECT l.dst_host, count(*) AS n_links,
               count(DISTINCT l.src_doc) AS n_docs,
               CAST(sum(s.s_milli) AS BIGINT) AS s_sum
        FROM links l JOIN scored s ON s.doc_id = l.src_doc
        GROUP BY 1
      """.stripMargin),
      doc = "Host quality rollup: LM milli-log2 page scores joined onto " +
        "the extracted link occurrences and aggregated per target host " +
        "— the frontier-scheduler seed-quality signal; counts + integer " +
        "quality mass oracled"),

    // Interpolated Kneser–Ney in 2^30 fixed point: the CCNet/KenLM
    // smoothing next to q162's stupid backoff, every discount and
    // interpolation stage an exact floor division — per-level counts
    // oracle the smoothing's CONTROL FLOW, the integer score sum and
    // 3dp mean log2 oracle its arithmetic, bit-for-bit.
    "q183_kneser_ney" -> Q(
      (s, d) => knDocScores(T.documents(s, d)),
      Some(s"""
        WITH ${knCtes(trainPred, s"doc_id % ${Graph.BatchMod} = 0")}
        SELECT doc_id, count(*) AS n_scored,
               CAST(sum(CASE WHEN lvl = 'full' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_full,
               CAST(sum(CASE WHEN lvl = 'mid' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_mid,
               CAST(sum(CASE WHEN lvl = 'cont' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_cont,
               CAST(sum(p) AS BIGINT) AS p_sum,
               round(avg(log2(CAST(p AS DOUBLE) / $KnScale)), 3) AS avg_log2p
        FROM knsc GROUP BY 1
      """.stripMargin),
      doc = "Interpolated Kneser-Ney trigram LM (Kneser & Ney 1995; " +
        "Chen & Goodman 1999) in exact 2^30 fixed point, d=3/4 as x4 " +
        "integer arithmetic: held-out docs scored through the full/mid/" +
        "cont interpolation chain; level counts + integer score sum + " +
        "3dp mean log2 all oracled"),

    // Moore-Lewis intelligent selection: in-domain (lang='en') vs
    // general LM, integer milli-log2 margin, kept set = strictly
    // positive margin — the cross-entropy-difference data-selection
    // filter, bit-stable because both scores are q168's exact integers.
    "q184_moore_lewis" -> Q(
      (s, d) => mooreLewisSelect(T.documents(s, d),
        s.table(q184Store(s, d))),
      Some(s"""
        WITH $scoredMilliCtes,
        ${scoredMilliCtesUnder("ind",
          s"$trainPred AND lang = '$InDomainLang'")}
        SELECT g.doc_id, i.s_milli AS s_ind, g.s_milli AS s_gen,
               CAST(i.s_milli - g.s_milli AS BIGINT) AS margin
        FROM scored g JOIN indscored i ON i.doc_id = g.doc_id
        WHERE i.s_milli > g.s_milli
      """.stripMargin),
      doc = "Moore-Lewis data selection (Moore & Lewis 2010): every doc " +
        "scored under an in-domain (lang=en) and a general trigram LM, " +
        "kept iff the integer milli-log2 margin is strictly positive — " +
        "the cross-entropy-difference filter with a bit-stable kept set"),

    // MODIFIED Kneser-Ney: q183's chain with the fixed d = 3/4 replaced
    // by per-order D1/D2/D3+ estimated from count-of-counts (Chen &
    // Goodman 1999 §3 — KenLM's default). Every stage stays exact
    // fixed-point integer arithmetic, so the discounts' effect on every
    // score is hash-oracled; NgramLmSpec proves the estimated discounts
    // differ from 3/4 and shift scores vs q183 (the discounts BITE).
    "q191_modified_kn" -> Q(
      (s, d) => mknDocScores(T.documents(s, d)),
      Some(s"""
        WITH ${mknCtes(trainPred, s"doc_id % ${Graph.BatchMod} = 0")}
        SELECT doc_id, count(*) AS n_scored,
               CAST(sum(CASE WHEN lvl = 'full' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_full,
               CAST(sum(CASE WHEN lvl = 'mid' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_mid,
               CAST(sum(CASE WHEN lvl = 'cont' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_cont,
               CAST(sum(p) AS BIGINT) AS p_sum,
               round(avg(log2(CAST(p AS DOUBLE) / $KnScale)), 3) AS avg_log2p
        FROM mknsc GROUP BY 1
      """.stripMargin),
      doc = "MODIFIED interpolated Kneser-Ney (Chen & Goodman 1999 §3, " +
        "KenLM's default): per-order D1/D2/D3+ from count-of-counts, " +
        "per-context type-count interpolation weights, all in exact " +
        "2^30 fixed point — held-out scores with level counts, integer " +
        "score sum and 3dp mean log2 oracled"),

    // The CCNet gate bucketed per language (Wenzek et al. gate within
    // language buckets — a global mean starves low-resource languages):
    // same exact-integer mean-gate membership as q168, evaluated within
    // each lang bucket. NgramLmSpec proves the per-lang kept set is NOT
    // the global gate's restricted to the lang (the bucketing bites).
    "q189_lang_quality_gate" -> Q(
      (s, d) => langQualityGate(T.documents(s, d)),
      Some(s"""
        WITH $scoredMilliCtes,
        withlang AS (
          SELECT sc.doc_id, d.lang, sc.n_scored, sc.s_milli
          FROM scored sc JOIN documents d ON d.doc_id = sc.doc_id
        ),
        ltot AS (
          SELECT lang, CAST(sum(s_milli) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS nd
          FROM withlang GROUP BY 1
        )
        SELECT w.doc_id, w.lang, w.n_scored, w.s_milli
        FROM withlang w JOIN ltot t ON t.lang = w.lang
        WHERE w.s_milli * t.nd >= t.tot
      """.stripMargin),
      doc = "CCNet perplexity gate PER LANGUAGE (Wenzek et al. 2020 " +
        "bucket by language — cross-lang LM scores are incomparable " +
        "and a global mean starves low-resource languages): exact " +
        "integer per-lang mean gate, bit-stable kept sets, hash-oracled"),

    // The CCNet gate in its ACTUAL configuration: Wenzek et al. filter
    // through KenLM, which is interpolated Kneser-Ney — q168 proved the
    // gate with stupid backoff; this entry swaps in the q183 smoothing
    // and keeps the exact-integer mean-gate membership.
    "q186_kn_quality_gate" -> Q(
      (s, d) => knQualityGate(T.documents(s, d)),
      Some(s"""
        WITH ${knCtes(trainPred, "TRUE")},
        knscored AS (
          SELECT doc_id, count(*) AS n_scored,
                 CAST(round(round(avg(log2(CAST(p AS DOUBLE) / $KnScale)), 3)
                   * 1000, 0) AS BIGINT) AS s_milli
          FROM knsc GROUP BY 1
        ),
        kntot AS (SELECT CAST(sum(s_milli) AS BIGINT) AS tot,
                         CAST(count(*) AS BIGINT) AS nd FROM knscored)
        SELECT doc_id, n_scored, s_milli
        FROM knscored CROSS JOIN kntot
        WHERE s_milli * nd >= tot
      """.stripMargin),
      doc = "CCNet perplexity gate under Kneser-Ney smoothing (KenLM's " +
        "actual family): whole corpus scored through the q183 fixed-" +
        "point KN chain, above-integer-mean docs kept — same bit-stable " +
        "membership as q168, production smoothing")
  )
}
