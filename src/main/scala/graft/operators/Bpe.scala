package graft.operators

import graft.functions.TextOps
import graft.{Land, Q, QueryPack, Tables => T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) merge-table TRAINING — the step
  * q117's vocabulary encode consumes but nothing in the catalog learned.
  * Reference scope: the training-data-pipeline surface of the builder
  * brief ("token counting … a BPE-ish regex"); the trainer is the
  * beyond-parity completion of that family (learn the merges, don't just
  * apply a fixed list).
  *
  * The 100 TB shape is the classic Sennrich formulation: BPE statistics
  * are a function of the DISTINCT-WORD table weighted by corpus counts,
  * not of the corpus itself. The only corpus-sized pass is the initial
  * word count (one map-side-combined aggregate); every training round
  * then runs over the vocabulary — bounded by distinct words, which is
  * heavy-tail-bounded (≪ corpus size) at any scale. Per round:
  *
  *  - pair statistics: one aggregate over (sym, next-sym) weighted by
  *    word count — map-side combined, output bounded by |symbol pairs|;
  *  - argmax: a global TakeOrderedAndProject to ONE row (count DESC,
  *    then lexicographic — fully deterministic under ties). The per-round
  *    collect is 1 row BY CONSTRUCTION, like q117's capped vocab.
  *  - merge application: window passes all partitioned by `w` (never a
  *    global window — one exchange, reused across the chained windows),
  *    implementing GREEDY LEFT-TO-RIGHT non-overlapping replacement via
  *    run-parity: inside each maximal run of consecutive matching
  *    positions, exactly the even offsets merge ("aaaa" + (a,a) → "aa",
  *    "aa", not three overlapping pairs).
  *
  * Round state is materialized through [[graft.Land]] (localCheckpoint on
  * local[*]; reliable under `spark.checkpoint.dir` on a cluster) so the
  * composed plan stays flat across rounds instead of growing until
  * Catalyst analysis dominates — same discipline as the
  * connected-components contraction.
  */
object Bpe extends QueryPack {

  /** Training rounds for the catalog entry (a parameter in production). */
  val TrainRounds = 10

  private def byW = Window.partitionBy("w").orderBy("pos")

  /** One word per row with its corpus count — the vocab-sized working
    * set every training round runs over. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))

  /** (w, wcnt, pos, sym): each distinct word split into 1-char symbols.
    * substr-based (not regex-split) so the oracle's substr(w, i, 1)
    * replays it exactly. */
  def charSymbols(words: DataFrame): DataFrame =
    // the length-0 guard matters: Spark's sequence(1, 0) is the
    // DESCENDING [1, 0] — an unguarded empty word would emit two
    // garbage symbol rows where the oracle's range(1, len+1) emits
    // none (ADVICE r15 #3; corpus tokens are non-empty, but the
    // encoders are public API and must agree on the edge)
    words.select(col("w"), col("wcnt"),
      posexplode(when(length(col("w")) > 0,
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)")))
        .as(Seq("pos", "sym")))

  /** Apply ONE learned merge (lhs, rhs) to a symbol table with greedy
    * left-to-right non-overlap semantics. Exposed for the spec's
    * run-parity property tests. */
  def applyMerge(syms: DataFrame, lhs: String, rhs: String): DataFrame = {
    val m = syms.select(col("w"), col("wcnt"), col("pos"), col("sym"),
      coalesce(col("sym") === lhs &&
        lead(col("sym"), 1).over(byW) === rhs, lit(false)).as("m"))
    // gaps-and-islands: pos - running-match-count is constant within a
    // run of consecutive matches and strictly increases across runs
    val isl = m.withColumn("island",
      when(col("m"), col("pos") - sum(when(col("m"), 1L).otherwise(0L))
        .over(byW.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    // greedy = even offset from the run head
    val sel = isl.withColumn("sel",
      col("m") && (col("pos") -
        min(col("pos")).over(Window.partitionBy(col("w"), col("island"))))
        % 2 === 0)
    sel
      .withColumn("absorbed", coalesce(lag(col("sel"), 1).over(byW), lit(false)))
      .where(!col("absorbed"))
      .select(col("w"), col("wcnt"),
        (row_number().over(byW) - 1).as("pos"),
        when(col("sel"), lit(lhs + rhs)).otherwise(col("sym")).as("sym"))
  }

  /** Learned merges as driver values — (rnd, lhs, rhs, cnt) per round,
    * most-frequent adjacent symbol pair first, ties broken (lhs, rhs)
    * lexicographically. Stops early if the vocabulary runs out of
    * pairs. The merge table IS driver-sized by construction (one row
    * per round), so exposing it as a Seq is not a collect smell — it's
    * the tokenizer artifact every encoder ships with. */
  def trainMergesSeq(docs: DataFrame, rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    // The vocab lands ONCE; each round re-derives the current symbol
    // table INSIDE codegen by replaying the merges learned so far
    // ([[graft.functions.BpeEncode]] — bit-identical to the
    // [[applyMerge]] fold, BpeSpec property + the q149/q165 oracles'
    // merge-at-a-time CTE replay). A round is then ONE aggregate job
    // over the landed vocab (pairs from array adjacency — no window,
    // no per-round exchange beyond the map-side-combined stats agg, no
    // per-round checkpoint write): at TrainRounds=10 this halves the
    // serial job count of the old materialize-then-window loop, and
    // the replay cost per round is O(learned merges) presence probes
    // per word — flat to 32k merges (ProfileBpe's encode_32k point).
    val words = Land(wordCounts(docs))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // 1-row collect by construction (the argmax of the pair stats)
      val best = pairStats(words, merges.toSeq.map(m => (m._2, m._3)))
        .orderBy(col("cnt").desc, col("sym").asc, col("nxt").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (lhs, rhs, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, lhs, rhs, cnt))
        r += 1
      }
    }
    merges.toSeq
  }

  /** Adjacent-pair statistics of the CURRENT symbol table — the table
    * itself never materializes: each word's symbols are re-derived by
    * the codegen'd merge replay and pairs come from array adjacency
    * (`transform(sequence(...))` over the split pieces), so the only
    * shuffle is the map-side-combined (sym, nxt) aggregate. */
  private def pairStats(words: DataFrame,
                        merges: Seq[(String, String)]): DataFrame =
    words
      .select(col("wcnt"),
        split(graft.functions.BpeEncode.bpeEncode(col("w"), merges), " ")
          .as("ss"))
      .filter(size(col("ss")) > 1)
      .select(col("wcnt"),
        explode(transform(sequence(lit(0), size(col("ss")) - 2),
          i => struct(element_at(col("ss"), i + 1).as("sym"),
            element_at(col("ss"), i + 2).as("nxt")))).as("p"))
      .groupBy(col("p.sym").as("sym"), col("p.nxt").as("nxt"))
      .agg(sum(col("wcnt")).as("cnt"))

  /** Learned merge table as a DataFrame: (rnd, lhs, rhs, merged, cnt). */
  def trainMerges(docs: DataFrame, rounds: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    trainMergesSeq(docs, rounds)
      .toDF("rnd", "lhs", "rhs", "cnt")
      .select(col("rnd"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("cnt"))
  }

  /** Encode each DISTINCT word of `words(w)` with a trained merge list
    * applied IN LEARNED ORDER — ONE codegen'd projection (the
    * [[graft.functions.BpeEncode]] Catalyst expression), so the encode
    * job count is independent of the merge count AND the per-row loop
    * stays inside Tungsten / whole-stage codegen like every sibling
    * `functions/` op (the r15 verdict's What's-wrong #4: the previous
    * form here was the codebase's one `mapPartitions` seam — Row
    * boxing, `createDataFrame` re-entry). This is the production
    * encode shape: the trained merge table is driver-sized BY
    * CONSTRUCTION (one row per round — a 32k-merge vocabulary is
    * <1 MB, pinned by ProfileBpe's `encode_32k` point) and rides the
    * serialized plan's references array; the alternative — one
    * run-parity DataFrame pass per merge ([[encodeByFold]]) — is 32k
    * serial vocab-sized jobs on EVERY ingest batch (the r14 encode
    * wall).
    *
    * Bit-identical to the sequential fold: a word's pieces depend only
    * on its own symbols, and within one word the expression's greedy
    * left-to-right non-overlapping scan IS the run-parity rule (inside
    * a maximal run of consecutive matches, exactly the even offsets
    * from the run head merge). BpeSpec property-tests the equivalence
    * against [[applyMerge]] on adversarial words; the q165/q175
    * oracles still replay the merge-at-a-time CTE chain, so the
    * DuckDB hash gate re-proves it at corpus scale every round.
    * Symbols are CODE POINTS (what `substr(w, i, 1)` and the oracle's
    * `substr` both count), not UTF-16 units. Output (w, bpe):
    * space-joined piece sequence per word. NULL and empty words are
    * DROPPED — [[encodeByFold]]'s `charSymbols` yields no symbol rows
    * for them, so the documented bit-identity between the two encoders
    * includes the empty word only if both skip it (ADVICE r15 #3; the
    * catalog corpus never produces one — tokens are [a-z0-9]+ — but
    * both functions are public API). */
  def encodeWords(words: DataFrame, merges: Seq[(String, String)]): DataFrame =
    words.select("w")
      .filter(col("w").isNotNull && col("w") =!= "")
      .select(col("w"),
        graft.functions.BpeEncode.bpeEncode(col("w"), merges).as("bpe"))

  /** Tokenize with a TRAINED model — the q117-shaped consumer of
    * [[trainMergesSeq]]'s artifact, completing the tokenizer family
    * (learn the merges, then encode unseen text with them). Trains on
    * the base docs (doc_id % BatchMod ≠ 0), then applies the merges IN
    * LEARNED ORDER to the DISTINCT words of the held-out batch — the
    * production shape: a corpus is tokenized by encoding its
    * vocabulary once and joining the word→pieces map back, never by
    * re-running merges per occurrence. Encode = [[encodeWords]]'s one
    * broadcast-merges pass (job count independent of merge count);
    * training remains the per-round loop (it runs ONCE, and q170's
    * batching is its serial-wall mitigation). */
  def encodeHeldOut(docs: DataFrame, rounds: Int): DataFrame = {
    val base = docs.filter(pmod(col("doc_id"), lit(Graph.BatchMod.toLong)) =!= 0L)
    val test = docs.filter(pmod(col("doc_id"), lit(Graph.BatchMod.toLong)) === 0L)
    val merges = trainMergesSeq(base, rounds)
    val testWords = test
      .select(explode(TextOps.words(col("text"))).as("w"))
      .distinct()
    encodeWords(testWords, merges.map(m => (m._2, m._3)))
  }

  /** The r14 encode path, kept as the equivalence REFERENCE for
    * [[encodeWords]] (BpeSpec asserts bit-identity): apply `merges` as
    * one run-parity DataFrame pass per merge over `words(w)`'s symbol
    * table. N serial vocab-sized jobs — correct, but the wrong shape at
    * production merge counts; never called by catalog entries. */
  def encodeByFold(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    var syms = Land(charSymbols(words.select(col("w"), lit(1L).as("wcnt"))))
    merges.foreach { case (lhs, rhs) =>
      syms = Land(applyMerge(syms, lhs, rhs))
    }
    syms.groupBy(col("w"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("sym")))),
          x => x.getField("sym")), " ").as("bpe"))
  }

  /** One run-parity merge application as CTE text: apply `best` to
    * `from`, emitting `to`; intermediate CTEs are suffixed `tag`.
    * Shared by the training replay (q149) and the encode replay (q165)
    * so the two oracles cannot drift from each other. */
  private def applySql(from: String, to: String, best: String,
                       tag: String): String = s""",
      mm_$tag AS (
        SELECT s.w, s.wcnt, s.pos, s.sym, b.lhs, b.rhs,
               COALESCE(s.sym = b.lhs AND
                 lead(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos) = b.rhs,
                 FALSE) AS m
        FROM $from s CROSS JOIN $best b
      ),
      ii_$tag AS (
        SELECT *, CASE WHEN m THEN pos - sum(CASE WHEN m THEN 1 ELSE 0 END)
          OVER (PARTITION BY w ORDER BY pos ROWS UNBOUNDED PRECEDING) END
          AS island
        FROM mm_$tag
      ),
      ss_$tag AS (
        SELECT *, m AND (pos - min(pos) OVER (PARTITION BY w, island)) % 2 = 0
          AS sel
        FROM ii_$tag
      ),
      $to AS (
        SELECT w, wcnt, row_number() OVER (PARTITION BY w ORDER BY pos) - 1
                 AS pos,
               CASE WHEN sel THEN lhs || rhs ELSE sym END AS sym
        FROM (SELECT *, COALESCE(lag(sel) OVER (PARTITION BY w ORDER BY pos),
                                 FALSE) AS absorbed
              FROM ss_$tag)
        WHERE NOT absorbed
      )"""

  /** Training CTE chain over `documents` rows matching `where`: wrd,
    * syms_0, then per round r: pair_r, best_r, syms_r. */
  private def trainSql(rounds: Int, where: String): String = {
    val base = s"""
      WITH wrd AS (
        SELECT w, count(*) AS wcnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents $where)
        GROUP BY w
      ),
      syms_0 AS (
        SELECT w, wcnt, i - 1 AS pos, substr(w, CAST(i AS INT), 1) AS sym
        FROM (SELECT w, wcnt, unnest(range(1, len(w) + 1)) AS i FROM wrd)
      )"""
    val roundCtes = (1 to rounds).map { r =>
      val p = r - 1
      s""",
      pair_$r AS (
        SELECT sym AS lhs, nxt AS rhs, CAST(sum(wcnt) AS BIGINT) AS cnt
        FROM (SELECT sym, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
                     wcnt
              FROM syms_$p)
        WHERE nxt IS NOT NULL GROUP BY 1, 2
      ),
      best_$r AS (
        SELECT lhs, rhs, cnt FROM pair_$r
        ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1
      )${applySql(s"syms_$p", s"syms_$r", s"best_$r", s"$r")}"""
    }.mkString
    base + roundCtes
  }

  /** DuckDB replay of `rounds` training rounds — generated, not
    * hand-written: each round chains the same pair-count / argmax /
    * run-parity-apply CTEs the Spark plan executes. */
  def oracle(rounds: Int): String = {
    val unioned = (1 to rounds).map { r =>
      s"SELECT CAST($r AS INT) AS rnd, lhs, rhs, lhs || rhs AS merged, cnt FROM best_$r"
    }.mkString("\n      UNION ALL\n      ")
    s"${trainSql(rounds, "")}\n      $unioned"
  }

  /** DuckDB replay of train-on-base + encode-held-out (q165): the
    * training chain filtered to base docs, then the SAME apply CTEs
    * chained over the held-out vocabulary's character symbols. */
  def oracleEncode(rounds: Int): String =
    s"""${encodeCtes(rounds)}
      SELECT w, string_agg(sym, ' ' ORDER BY pos) AS bpe
      FROM tsyms_$rounds GROUP BY w"""

  /** The full train-on-base + encode-held-out CTE chain, shared by the
    * q165 and q175 oracles so they cannot drift from each other. */
  private def encodeCtes(rounds: Int): String = {
    val base = trainSql(rounds, s"WHERE doc_id % ${Graph.BatchMod} <> 0")
    val testCtes = s""",
      twrd AS (
        SELECT DISTINCT w, CAST(1 AS BIGINT) AS wcnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents WHERE doc_id % ${Graph.BatchMod} = 0)
      ),
      tsyms_0 AS (
        SELECT w, wcnt, i - 1 AS pos, substr(w, CAST(i AS INT), 1) AS sym
        FROM (SELECT w, wcnt, unnest(range(1, len(w) + 1)) AS i FROM twrd)
      )"""
    val applyCtes = (1 to rounds).map { r =>
      applySql(s"tsyms_${r - 1}", s"tsyms_$r", s"best_$r", s"t$r")
    }.mkString
    s"$base$testCtes$applyCtes"
  }

  /** The WordPiece piece vocabulary derived from a trained BPE model:
    * the learned merged strings plus every single character of the
    * held-out vocabulary (full coverage — the greedy encoder never hits
    * `[UNK]` on this corpus; the UNK branch is pinned in BpeSpec with a
    * hand vocab). Driver-sized by construction: one piece per learned
    * round + an alphabet-sized character collect (guarded by the q149
    * SelectCap discipline — the corpus charset is dictionary-bounded). */
  def wordpieceVocab(docs: DataFrame, rounds: Int): Seq[String] = {
    val base = docs.filter(pmod(col("doc_id"), lit(Graph.BatchMod.toLong)) =!= 0L)
    val merges = trainMergesSeq(base, rounds)
      .map(m => m._2 + m._3)
    val chars = charSymbols(heldOutWords(docs).withColumn("wcnt", lit(1L)))
      .select(col("sym")).distinct().limit(SelectCap + 1)
      .collect().map(_.getString(0)).toSeq
    require(chars.size <= SelectCap,
      s"alphabet exceeded the $SelectCap collect cap")
    (merges ++ chars).distinct
  }

  private def heldOutWords(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(Graph.BatchMod.toLong)) === 0L)
      .select(explode(TextOps.words(col("text"))).as("w"))
      .distinct()

  /** WordPiece tokenization of the held-out vocabulary — the BERT-family
    * encoder next to the BPE-family q165 (Wu et al. 2016; greedy
    * longest-match-first per position, whole word → `[UNK]` when
    * nothing matches). Vocabulary = [[wordpieceVocab]] (trained BPE
    * pieces + alphabet). Same production shape as q165: ONE codegen'd
    * projection over the DISTINCT word table (the
    * [[graft.functions.WordPieceEncode]] expression — vocabulary on the
    * plan's references array, O(|word|·maxPieceLen) hash probes per
    * word), the word→pieces map joins back to occurrences downstream.
    * Output (w, wp): space-joined piece sequence per word. */
  def wordpieceHeldOut(docs: DataFrame, rounds: Int): DataFrame = {
    val vocab = wordpieceVocab(docs, rounds)
    heldOutWords(docs)
      .filter(col("w").isNotNull && col("w") =!= "")
      .select(col("w"),
        graft.functions.WordPieceEncode.wordpieceEncode(col("w"), vocab)
          .as("wp"))
  }

  /** DuckDB replay of q195: the q165 training chain (same generated
    * CTEs — the two tokenizers' oracles share their training replay, so
    * they cannot drift), pieces = merged strings + the held-out
    * alphabet, then the greedy longest-match walk as a RECURSIVE
    * successor chase: `bestp` is the argmax piece per (word, position)
    * — deterministic because at most one piece of a given length can
    * prefix-match a fixed position — and the walk steps pos → pos +
    * len(bestp) from 0 until the word is consumed. */
  def oracleWordPiece(rounds: Int): String = {
    val chain = encodeCtes(rounds).replaceFirst("WITH ", "WITH RECURSIVE ")
    val mergedUnion = (1 to rounds)
      .map(r => s"SELECT lhs, rhs FROM best_$r")
      .mkString("\n      UNION ALL\n      ")
    s"""$chain,
      pieces AS (
        SELECT DISTINCT lhs || rhs AS piece FROM (
          $mergedUnion)
        UNION
        SELECT DISTINCT sym FROM tsyms_0
      ),
      plen AS (SELECT piece, len(piece) AS pl FROM pieces),
      grid AS (SELECT DISTINCT w, pos FROM tsyms_0),
      cand AS (
        SELECT g.w, g.pos, p.piece, p.pl
        FROM grid g JOIN plen p
          ON substr(g.w, CAST(g.pos + 1 AS INT), CAST(p.pl AS INT)) = p.piece
      ),
      bestp AS (
        SELECT w, pos, piece, pl FROM (
          SELECT *, row_number() OVER (PARTITION BY w, pos
                                       ORDER BY pl DESC) AS rn
          FROM cand) WHERE rn = 1
      ),
      wpw AS (
        SELECT w, CAST(0 AS BIGINT) AS pos FROM twrd
        UNION ALL
        SELECT b.w, b.pos + b.pl
        FROM wpw JOIN bestp b ON b.w = wpw.w AND b.pos = wpw.pos
      )
      SELECT t.w, string_agg(b.piece, ' ' ORDER BY t.pos) AS wp
      FROM wpw t JOIN bestp b ON b.w = t.w AND b.pos = t.pos
      GROUP BY t.w"""
  }

  /** Tokenizer FERTILITY report — the standard tokenizer eval table
    * (pieces per word / chars per piece, per corpus slice): encode the
    * held-out vocabulary with the base-trained merges ([[encodeHeldOut]]
    * exactly), then weight each word's piece count by its OCCURRENCES
    * in the held-out docs and aggregate per source. High fertility on a
    * slice = the vocabulary underserves it (the multilingual-tokenizer
    * failure mode). Exact integers end to end: per source, occurrence
    * count, summed pieces, summed chars. The word→pieces map is
    * vocab-sized and joins back to the corpus occurrences on `w` — the
    * production shape (tokenize the vocabulary once, never re-encode
    * per occurrence). */
  def fertilityBySource(docs: DataFrame, rounds: Int): DataFrame = {
    val test = docs.filter(pmod(col("doc_id"), lit(Graph.BatchMod.toLong)) === 0L)
    val pieces = encodeHeldOut(docs, rounds)
      .select(col("w"), size(split(col("bpe"), " ")).cast("long").as("np"))
    test.select(col("source"),
        explode(TextOps.words(col("text"))).as("w"))
      .join(pieces, "w")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("np")).as("n_pieces"),
        sum(length(col("w")).cast("long")).as("n_chars"))
  }

  /** DuckDB replay of q175: the q165 encode chain (same generated
    * CTEs), pieces counted as rows of the final symbol table per word,
    * weighted by held-out occurrences per source. */
  def oracleFertility(rounds: Int): String = {
    s"""${encodeCtes(rounds)},
      pieces AS (
        SELECT w, CAST(count(*) AS BIGINT) AS np
        FROM tsyms_$rounds GROUP BY w
      ),
      occ AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id % ${Graph.BatchMod} = 0
      )
      SELECT o.source, count(*) AS n_words,
             CAST(sum(p.np) AS BIGINT) AS n_pieces,
             CAST(sum(len(o.w)) AS BIGINT) AS n_chars
      FROM occ o JOIN pieces p ON o.w = p.w
      GROUP BY 1"""
  }

  // ---------------------------------------------------------------
  // Batched non-conflicting merges (q170) — mitigation (a) of the
  // serial-round wall documented in SCALE.md §layout: a production
  // 32k-merge vocabulary is 32k sequential driver-loop jobs under
  // strict Sennrich order; batching the top-K pairwise-DISJOINT pairs
  // per round cuts the expensive step (the run-parity apply + state
  // checkpoint) K×. Disjointness is the full 3-symbol rule — two
  // batched pairs share nothing among {lhs, rhs, lhs||rhs} — which
  // guarantees (1) their matches can never overlap or abut in a symbol
  // run, so ONE simultaneous run-parity pass applies the whole batch,
  // and (2) applying one cannot change the other's pair count, so
  // selecting them all from the same pre-batch statistics stays
  // count-consistent. This intentionally diverges from single-merge
  // order whenever interactions exist (the classic trade-off), so it
  // is its own catalog entry with its own generated oracle, not a
  // replacement for q149.
  // ---------------------------------------------------------------

  /** Rounds / batch width for the q170 catalog entry. */
  val BatchedRounds = 3
  val BatchedK = 4

  /** Hard ceiling on the greedy scan's candidate window: the driver
    * never collects more than this many (rank-ordered) pair rows per
    * round, even when fewer than k pairwise-disjoint pairs exist among
    * them (the all-pairs-share-a-symbol worst case, where an uncapped
    * doubling scan would page the WHOLE pair table to the driver). A
    * scan that exhausts the cap accepts a possibly-short batch — the
    * SQL oracle applies the same `rk <= cap` window, so both engines
    * truncate identically. */
  val SelectCap = 4096

  /** Greedy top-k pairwise-disjoint selection from a pair-stats frame
    * (sym, nxt, cnt), scanning in (cnt DESC, lhs, rhs) rank order.
    * Greedy over a rank-ordered list is PREFIX-STABLE — the accepted
    * set among the first M candidates depends on those M alone — so
    * collecting a bounded top-M and doubling M only when the scan ran
    * off the truncated end is EXACT vs. the full-list greedy the SQL
    * oracle replays, while keeping the driver collect candidate-sized.
    * The window is bounded by [[SelectCap]] (mirrored in the oracle),
    * so the pair table itself never pages to the driver even in the
    * few-disjoint-pairs worst case. */
  def selectBatch(stats: DataFrame, k: Int): Seq[(String, String, Long)] = {
    var m = 64
    var result: Option[Seq[(String, String, Long)]] = None
    while (result.isEmpty) {
      val cand = stats
        .orderBy(col("cnt").desc, col("sym").asc, col("nxt").asc)
        .limit(m).collect()
      val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      val used = scala.collection.mutable.Set.empty[String]
      val it = cand.iterator
      while (it.hasNext && acc.size < k) {
        val row = it.next()
        val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
        val symbols = Set(l, r, l + r)
        if (!symbols.exists(used.contains)) {
          acc += ((l, r, c)); used ++= symbols
        }
      }
      if (acc.size == k || cand.length < m || m >= SelectCap)
        result = Some(acc.toSeq)
      else m = math.min(m * 4, SelectCap)
    }
    result.get
  }

  /** Apply a DISJOINT merge batch in one simultaneous run-parity pass:
    * at most one batch pair can match any position (pairs share no
    * symbols), and matches of different pairs can never abut (that
    * would need a shared symbol), so runs of consecutive matches are
    * single-pair runs and the q149 island/parity logic applies to the
    * combined match column unchanged. */
  def applyMergeBatch(syms: DataFrame,
                      merges: Seq[(String, String)]): DataFrame = {
    val withNxt = syms.select(col("w"), col("wcnt"), col("pos"), col("sym"),
      lead(col("sym"), 1).over(byW).as("nxt"))
    val repl = coalesce(
      merges.map { case (l, r) =>
        when(col("sym") === l && col("nxt") === r, lit(l + r))
      } :+ lit(null).cast("string"): _*)
    val m = withNxt
      .withColumn("repl", repl)
      .select(col("w"), col("wcnt"), col("pos"), col("sym"), col("repl"),
        col("repl").isNotNull.as("m"))
    val isl = m.withColumn("island",
      when(col("m"), col("pos") - sum(when(col("m"), 1L).otherwise(0L))
        .over(byW.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val sel = isl.withColumn("sel",
      col("m") && (col("pos") -
        min(col("pos")).over(Window.partitionBy(col("w"), col("island"))))
        % 2 === 0)
    sel
      .withColumn("absorbed", coalesce(lag(col("sel"), 1).over(byW), lit(false)))
      .where(!col("absorbed"))
      .select(col("w"), col("wcnt"),
        (row_number().over(byW) - 1).as("pos"),
        when(col("sel"), col("repl")).otherwise(col("sym")).as("sym"))
  }

  /** Batched training loop: per round ONE pair-stats aggregate, one
    * candidate-sized greedy selection, one combined apply+checkpoint.
    * Stops early when no pair remains. */
  def trainMergesBatchedSeq(docs: DataFrame, rounds: Int, k: Int)
      : Seq[(Int, String, String, Long)] = {
    // same one-landed-vocab + codegen-replay shape as [[trainMergesSeq]]
    // — a round's accumulated merges applied IN LEARNED ORDER are
    // exactly the sequential fold, and within a round the 3-symbol
    // disjointness makes sequential ≡ the simultaneous
    // [[applyMergeBatch]] (matches of different batch pairs can never
    // abut — that would need a shared symbol; the oracle's simultaneous
    // LEFT-JOIN replay re-proves it at every scale)
    val words = Land(wordCounts(docs))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val stats = pairStats(words, out.toSeq.map(m => (m._2, m._3)))
      val batch = selectBatch(stats, k)
      if (batch.isEmpty) exhausted = true
      else {
        out ++= batch.map { case (l, rr, c) => (r, l, rr, c) }
        r += 1
      }
    }
    out.toSeq
  }

  /** Batched merge table as a DataFrame: (rnd, lhs, rhs, merged, cnt). */
  def trainMergesBatched(docs: DataFrame, rounds: Int, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    trainMergesBatchedSeq(docs, rounds, k)
      .toDF("rnd", "lhs", "rhs", "cnt")
      .select(col("rnd"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("cnt"))
  }

  /** SQL twin of the 3-symbol disjointness test between a candidate
    * row aliased `c` and an accepted row aliased `a`. */
  private def conflictSql(c: String, a: String): String =
    s"""$c.lhs IN ($a.lhs, $a.rhs, $a.lhs || $a.rhs)
             OR $c.rhs IN ($a.lhs, $a.rhs, $a.lhs || $a.rhs)
             OR $c.lhs || $c.rhs IN ($a.lhs, $a.rhs, $a.lhs || $a.rhs)"""

  /** DuckDB replay of the batched trainer: per round, rank the pair
    * stats, unroll k greedy first-non-conflicting picks (NOT EXISTS
    * against the accepted prefix — empty stages stay empty, matching
    * the engine's early stop), then ONE simultaneous run-parity apply
    * via LEFT JOIN on (sym, nxt) — disjointness guarantees at most one
    * batch row matches, so the join cannot duplicate. */
  def oracleBatched(rounds: Int, k: Int): String = {
    val base = s"""
      WITH wrd AS (
        SELECT w, count(*) AS wcnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY w
      ),
      syms_0 AS MATERIALIZED (
        SELECT w, wcnt, i - 1 AS pos, substr(w, CAST(i AS INT), 1) AS sym
        FROM (SELECT w, wcnt, unnest(range(1, len(w) + 1)) AS i FROM wrd)
      )"""
    val roundCtes = (1 to rounds).map { r =>
      val p = r - 1
      val picks = (2 to k).map { j =>
        s""",
      s${j}_$r AS (
        SELECT c.lhs, c.rhs, c.cnt, c.rk FROM cand_$r c
        WHERE NOT EXISTS (SELECT 1 FROM acc${j - 1}_$r a
                          WHERE ${conflictSql("c", "a")})
        ORDER BY c.rk LIMIT 1
      ),
      acc${j}_$r AS MATERIALIZED (
        SELECT * FROM acc${j - 1}_$r UNION ALL SELECT * FROM s${j}_$r
      )"""
      }.mkString
      s""",
      pair_$r AS MATERIALIZED (
        SELECT sym AS lhs, nxt AS rhs, CAST(sum(wcnt) AS BIGINT) AS cnt
        FROM (SELECT sym, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
                     wcnt
              FROM syms_$p)
        WHERE nxt IS NOT NULL GROUP BY 1, 2
      ),
      cand_$r AS MATERIALIZED (
        -- rk <= SelectCap mirrors the engine's bounded candidate window:
        -- beyond the cap both engines accept a possibly-short batch
        SELECT * FROM (
          SELECT lhs, rhs, cnt,
                 row_number() OVER (ORDER BY cnt DESC, lhs ASC, rhs ASC) AS rk
          FROM pair_$r
        ) WHERE rk <= $SelectCap
      ),
      acc1_$r AS MATERIALIZED (SELECT lhs, rhs, cnt, rk FROM cand_$r WHERE rk = 1)$picks,
      batch_$r AS MATERIALIZED (SELECT lhs, rhs, cnt FROM acc${k}_$r),
      nx_$r AS MATERIALIZED (
        SELECT w, wcnt, pos, sym,
               lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
        FROM syms_$p
      ),
      mm_$r AS (
        SELECT n.w, n.wcnt, n.pos, n.sym,
               b.lhs || b.rhs AS repl, b.lhs IS NOT NULL AS m
        FROM nx_$r n LEFT JOIN batch_$r b
          ON n.sym = b.lhs AND n.nxt = b.rhs
      ),
      ii_$r AS (
        SELECT *, CASE WHEN m THEN pos - sum(CASE WHEN m THEN 1 ELSE 0 END)
          OVER (PARTITION BY w ORDER BY pos ROWS UNBOUNDED PRECEDING) END
          AS island
        FROM mm_$r
      ),
      ss_$r AS (
        SELECT *, m AND (pos - min(pos) OVER (PARTITION BY w, island)) % 2 = 0
          AS sel
        FROM ii_$r
      ),
      syms_$r AS MATERIALIZED (
        SELECT w, wcnt, row_number() OVER (PARTITION BY w ORDER BY pos) - 1
                 AS pos,
               CASE WHEN sel THEN repl ELSE sym END AS sym
        FROM (SELECT *, COALESCE(lag(sel) OVER (PARTITION BY w ORDER BY pos),
                                 FALSE) AS absorbed
              FROM ss_$r)
        WHERE NOT absorbed
      )"""
    }.mkString
    val unioned = (1 to rounds).map { r =>
      s"SELECT CAST($r AS INT) AS rnd, lhs, rhs, lhs || rhs AS merged, cnt FROM batch_$r"
    }.mkString("\n      UNION ALL\n      ")
    s"$base$roundCtes\n      $unioned"
  }

  def queries: Map[String, Q] = Map(
    "q149_bpe_train" -> Q(
      (s, d) => trainMerges(T.documents(s, d), TrainRounds),
      Some(oracle(TrainRounds)),
      doc = "distributed BPE merge training: vocab-sized working set, " +
        "1-row argmax per round, greedy run-parity merge application"),

    // Train on the base docs, encode the held-out vocabulary with the
    // learned merges in order — the full tokenizer pipeline (q149's
    // artifact consumed the way production consumes it: tokenize the
    // distinct-word table once, join the word→pieces map back).
    "q165_bpe_encode" -> Q(
      (s, d) => encodeHeldOut(T.documents(s, d), TrainRounds),
      Some(oracleEncode(TrainRounds)),
      doc = "BPE encode with the TRAINED merge table: base-doc training " +
        "+ in-order run-parity application to the held-out vocabulary; " +
        "word piece sequences oracled bit-for-bit"),

    // WordPiece over the same trained artifact: greedy longest-match
    // per position (BERT's MaxMatch) against the BPE pieces + alphabet
    // — the OTHER mainstream subword tokenizer, sharing q165's training
    // replay so the two oracles cannot drift. The greedy walk replays
    // as a recursive successor chase over the per-position argmax.
    "q195_wordpiece_encode" -> Q(
      (s, d) => wordpieceHeldOut(T.documents(s, d), TrainRounds),
      Some(oracleWordPiece(TrainRounds)),
      doc = "WordPiece encode (greedy longest-match-first) of the " +
        "held-out vocabulary against the trained BPE pieces + " +
        "alphabet: one codegen'd projection, piece sequences oracled " +
        "bit-for-bit via a recursive longest-prefix walk"),

    // Batched non-conflicting merge training — the serial-wall
    // mitigation SCALE.md names: top-K pairwise-disjoint pairs per
    // round (3-symbol disjointness ⇒ non-overlapping matches AND
    // count-invariance), applied in ONE simultaneous run-parity pass.
    // Greedy selection replayed in SQL via unrolled NOT-EXISTS picks.
    "q170_bpe_train_batched" -> Q(
      (s, d) => trainMergesBatched(T.documents(s, d),
        BatchedRounds, BatchedK),
      Some(oracleBatched(BatchedRounds, BatchedK)),
      doc = "batched BPE training: top-K pairwise-disjoint merges per " +
        "round selected greedily from one pair-stats pass and applied " +
        "in one combined run-parity window pass — K× fewer of the " +
        "expensive apply+checkpoint steps; merge table oracled " +
        "bit-for-bit"),

    // Tokenizer fertility per source: held-out vocabulary encoded once
    // with the trained merges, piece counts weighted by occurrences —
    // the standard tokenizer eval table, exact integers.
    "q175_bpe_fertility" -> Q(
      (s, d) => fertilityBySource(T.documents(s, d), TrainRounds),
      Some(oracleFertility(TrainRounds)),
      doc = "tokenizer fertility report: per source, held-out word " +
        "occurrences, total BPE pieces, total chars under the trained " +
        "merge table (vocab encoded once, joined back to occurrences); " +
        "exact-integer aggregate oracled bit-for-bit")
  )
}
