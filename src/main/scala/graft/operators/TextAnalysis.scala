package graft.operators

import graft.functions.TextOps
import graft.{Q, QueryPack, Scratch, Tables => T}
import org.apache.spark.sql.functions._

/** Text analysis over the `documents` table (builder-prompt training-data
  * pipeline surface): token counting, quality scoring, heuristic
  * language-ID, content fingerprinting. Every operator is a single
  * projection pass over the scan — embarrassingly parallel at 100 TB,
  * no shuffle at all (the scan partitioning is the plan).
  */
object TextAnalysis extends QueryPack {

  /** Build the Count-Min sketch `heavyHitterGrams` probes: keyed by
    * `xxhash64(gram)` over the SAME n-gram tokenization the probe uses.
    * The ingest-loop reuse shape ("build once, prune every batch") MUST
    * build through this method — a sketch keyed any other way returns
    * near-zero estimates for every probe, the prune silently drops true
    * heavy hitters, and no downstream step can resurrect them. */
  def gramCms(docs: org.apache.spark.sql.DataFrame, n: Int,
              eps: Double = 1e-4): Array[Byte] =
    graft.functions.CmsEstimate.buildLongCms(
      docs.select(explode(TextOps.shingles(col("text"), n)).as("g"))
        .select(xxhash64(col("g")).as("h")),
      "h", eps = eps)

  /** Heavy-hitter word n-grams (count ≥ t corpus-wide) with a Count-Min
    * prefilter: the sketch (built here, or passed in pre-built for the
    * ingest-loop reuse shape — it must come from [[gramCms]] with the
    * same `n`, which pins the key derivation the probe assumes) prunes
    * the exploded gram stream in the scan stage, so the exact count +
    * HAVING confirm shuffles only candidates — true heavy hitters plus
    * the eps·N overcount tail — instead of every gram. CMS never
    * undercounts ⇒ output ≡ the naive corpus-wide count (q97's oracle).
    * Size eps so eps·N ≪ t or the prune goes vacuous (correctness
    * unaffected). */
  def heavyHitterGrams(docs: org.apache.spark.sql.DataFrame, n: Int, t: Long,
                       cms: Option[Array[Byte]] = None)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.CmsEstimate
    val grams = docs.select(explode(TextOps.shingles(col("text"), n)).as("g"))
    val sketch = cms.getOrElse(gramCms(docs, n))
    grams
      .filter(CmsEstimate.cmsEstimate(xxhash64(col("g")), sketch) >= t)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= t)
      .select(col("g").as("gram"), col("n_occurrences"))
  }

  private[operators] val stopwords = Seq("the", "a", "of", "and", "or")
  // marker words per language for the n-gram-heuristic language ID
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und"),
    "en" -> Seq("the", "is"),
    "es" -> Seq("el", "y"),
    "fr" -> Seq("le", "et"))

  def queries: Map[String, Q] = Map(
    // ---- token counting: whitespace + BPE-ish regex ----
    "q50_token_count" -> Q(
      (s, d) => {
        import s.implicits._
        T.documents(s, d).select(
          $"doc_id",
          size(TextOps.words($"text")).as("ws_tokens"),
          TextOps.regexTokenCount($"text").cast("long").as("re_tokens"),
          size(TextOps.distinctWords($"text")).as("distinct_words"))
      },
      Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS re_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS distinct_words
        FROM documents
      """.stripMargin),
      doc = "whitespace + regex token counting (training-data surface)"),

    // ---- quality scoring ----
    "q51_quality_score" -> Q(
      (s, d) => {
        import s.implicits._
        val nWords = size(TextOps.words($"text"))
        val stopHits = TextOps.vocabHits($"text", stopwords)
        T.documents(s, d).select(
          $"doc_id",
          length($"text").as("char_len"),
          nWords.as("n_words"),
          (length($"text").cast("double") / nWords).as("avg_token_span"),
          (stopHits.cast("double") / nWords).as("stopword_ratio"),
          (size(TextOps.distinctWords($"text")).cast("double") / nWords)
            .as("lexical_diversity"))
      },
      Some("""
        SELECT doc_id,
               CAST(length(text) AS INT) AS char_len,
               CAST(len(string_split(text, ' ')) AS INT) AS n_words,
               CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_span,
               CAST(len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','of','and','or'], w))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS stopword_ratio,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS lexical_diversity
        FROM documents
      """.stripMargin),
      doc = "length/stopword/diversity quality metrics"),

    // ---- heuristic language ID: marker-vocabulary argmax ----
    "q52_lang_id" -> Q(
      (s, d) => {
        import s.implicits._
        val scores = markers.map { case (lang, vocab) =>
          lang -> TextOps.vocabHits($"text", vocab)
        }
        // deterministic argmax: highest score wins, ties by language code asc
        val best = scores.reverse.tail.foldLeft(
          struct(scores.reverse.head._2.as("score"), lit(scores.reverse.head._1).as("lang"))) {
          case (acc, (lang, score)) =>
            when(score >= acc.getField("score"),
              struct(score.as("score"), lit(lang).as("lang"))).otherwise(acc)
        }
        T.documents(s, d).select(
          $"doc_id", $"lang".as("labeled_lang"),
          best.getField("lang").as("predicted_lang"),
          best.getField("score").cast("int").as("marker_hits"))
      },
      Some({
        def hits(vocab: Seq[String]) =
          s"len(list_filter(string_split(text, ' '), w -> list_contains([${vocab.map("'" + _ + "'").mkString(",")}], w)))"
        val cols = markers.map { case (lang, v) => s"${hits(v)} AS s_$lang" }.mkString(", ")
        // same fold: start from last lang, earlier langs win on >=
        val fold = markers.reverse.tail.foldLeft(
          s"struct_pack(sc := s_${markers.reverse.head._1}, lg := '${markers.reverse.head._1}')") {
          case (acc, (lang, _)) =>
            s"CASE WHEN s_$lang >= ($acc).sc THEN struct_pack(sc := s_$lang, lg := '$lang') ELSE $acc END"
        }
        s"""
        WITH scored AS (SELECT doc_id, lang, $cols FROM documents)
        SELECT doc_id, lang AS labeled_lang,
               ($fold).lg AS predicted_lang,
               CAST(($fold).sc AS INT) AS marker_hits
        FROM scored
        """.stripMargin
      }),
      doc = "marker-vocab language ID with deterministic argmax"),

    // ---- repetition signals (Gopher-style quality filters) ----
    // duplicate-word ratio is a pure projection; the top-bigram fraction
    // needs a per-(doc, gram) count — two hash aggregates keyed by doc_id,
    // so at 100 TB this shuffles once on doc_id and never concentrates
    // (every doc's grams land in one partition's hash table).
    "q49_repetition" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = T.documents(s, d)
        // grams are counted as 64-bit hashes (NGramHash64 counting form):
        // the (doc, gram) aggregate shuffles 8-byte keys, not bigram
        // strings; a collision merging two grams' counts inside ONE doc
        // is ~|doc|²/2⁶⁴ — the oracle (true strings) stays green.
        val grams = docs.select($"doc_id",
          explode(graft.functions.NGramHash64
            .ngramHashes(TextOps.words($"text"), 2, distinct = false)).as("g"))
        val top = grams.groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id")
          .agg(round(max($"c").cast("double") / sum($"c"), 6)
            .as("top_bigram_frac"))
        docs.select($"doc_id",
          round(lit(1.0) - size(TextOps.distinctWords($"text")).cast("double")
            / size(TextOps.words($"text")), 6).as("dup_word_ratio"))
          .join(top, Seq("doc_id"))
      },
      Some("""
        WITH grams AS (
          SELECT doc_id,
                 unnest(list_transform(
                   range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1])) AS g
          FROM documents
        ), gc AS (
          SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
        ), top AS (
          SELECT doc_id,
                 round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac
          FROM gc GROUP BY doc_id
        )
        SELECT d.doc_id,
               round(1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS dup_word_ratio,
               t.top_bigram_frac
        FROM documents d JOIN top t USING (doc_id)
      """.stripMargin),
      doc = "duplicate-word ratio + top-bigram fraction (repetition filters)"),

    // ---- per-doc top-k rare terms (tf-idf-shaped rarity ranking) ----
    // score = tf/df — the same monotone rarity ordering as tf·log(N/df)
    // for a fixed doc, chosen over the log form because a single IEEE
    // division is bit-identical across engines (libm log is not, and a
    // 1-ulp log delta at a rank boundary would flip the oracle hash).
    // Scale: tf is a (doc, term) hash aggregate; df aggregates tf's
    // output by term (vocabulary-sized — shuffle-joined back, NEVER
    // broadcast: a 100 TB corpus vocabulary is not a dim table); top-k
    // is a per-doc window over ≤|doc| rows.
    "q67_tfidf_topk" -> Q(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val tf = T.documents(s, d)
          .select($"doc_id", explode(TextOps.words($"text")).as("term"))
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy($"doc_id")
          .orderBy($"score".desc, $"term".asc)
        tf.join(df, Seq("term"))
          .withColumn("score", round($"tf".cast("double") / $"df", 6))
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 3)
          .select($"doc_id", $"term", $"score".as("rarity_score"),
            $"rk".cast("int").as("rk"))
      },
      Some("""
        WITH terms AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
        ), df AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), scored AS (
          SELECT doc_id, term, round(CAST(tf AS DOUBLE) / df, 6) AS score
          FROM tf JOIN df USING (term)
        ), ranked AS (
          SELECT doc_id, term, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term ASC) AS rk
          FROM scored
        )
        SELECT doc_id, term, score AS rarity_score, CAST(rk AS INT) AS rk
        FROM ranked WHERE rk <= 3
      """.stripMargin),
      doc = "per-doc top-3 rarity-weighted terms (tf/df ranking)"),

    // ---- unigram-LM quality scoring (perplexity proxy) ----
    // mean log2 token probability under the corpus's own per-language
    // unigram model: the cheap LM-based quality signal (gibberish and
    // boilerplate score far from the language's center; the real-pipeline
    // variant swaps in externally-trained n-gram probabilities). Scale:
    // the LM is a (lang, token) hash aggregate; token instances
    // shuffle-join the LM back by (lang, token) — vocabulary-sized, NEVER
    // broadcast (same rule as q67's df) — and per-language totals are a
    // handful of rows joined broadcast. Mean over INSTANCES, so repeated
    // tokens weigh by their frequency, as in a true LM log-likelihood.
    "q90_lm_score" -> Q(
      (s, d) => {
        import s.implicits._
        val toks = T.documents(s, d)
          .select($"doc_id", $"lang", explode(TextOps.words($"text")).as("tok"))
        val lm = toks.groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
        val tot = toks.groupBy($"lang").agg(count(lit(1)).as("n"))
        toks.join(lm, Seq("lang", "tok"))
          .join(broadcast(tot), Seq("lang"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            // quantized to 3 dp: the mean of ~|doc| libm log2 terms differs
            // across engines (and partitionings) by ~1e-13 relative — far
            // inside a 5e-4 rounding bucket, so the rounded value is
            // engine- and plan-stable; 3 dp is ample for a quality signal
            round(avg(log2($"c".cast("double") / $"n")), 3).as("avg_log2p"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
          FROM documents
        ), lm AS (
          SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok
        ), tot AS (
          SELECT lang, count(*) AS n FROM toks GROUP BY lang
        )
        SELECT t.doc_id, count(*) AS n_tokens,
               round(avg(log2(CAST(lm.c AS DOUBLE) / tot.n)), 3) AS avg_log2p
        FROM toks t
        JOIN lm  ON t.lang = lm.lang AND t.tok = lm.tok
        JOIN tot ON t.lang = tot.lang
        GROUP BY t.doc_id
      """.stripMargin),
      doc = "unigram-LM mean log-prob per doc (perplexity-proxy quality signal)"),

    // ---- sliding-window chunking (RAG / context-window prep) ----
    // width 20 tokens, stride 10: chunk k covers words [k·10, k·10+20);
    // the last chunk may be partial. Pure projection + explode — the
    // 100 TB shape is a flat-map over the scan, no shuffle; output rows
    // carry (doc_id, chunk_id) so downstream embedding/indexing stages
    // key on the pair.
    "q77_chunking" -> Q(
      (s, d) => {
        import s.implicits._
        val (w, st) = (20, 10)
        val ws = TextOps.words($"text")
        val maxIdx = greatest(lit(0L),
          ceil((size(ws) - w).cast("double") / st).cast("long"))
        T.documents(s, d)
          .select($"doc_id", ws.as("ws"),
            explode(sequence(lit(0L), maxIdx)).as("i"))
          .select($"doc_id", $"i".cast("int").as("chunk_id"),
            array_join(slice($"ws", ($"i" * st + 1).cast("int"), lit(w)), " ")
              .as("chunk"),
            size(slice($"ws", ($"i" * st + 1).cast("int"), lit(w)))
              .as("n_tokens"))
      },
      Some("""
        WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS ws,
                 len(string_split(text, ' ')) AS n
          FROM documents
        ), idx AS (
          SELECT doc_id, ws,
                 unnest(range(0, 1 + greatest(0,
                   CAST(ceil((n - 20) / 10.0) AS BIGINT)))) AS i
          FROM base
        )
        SELECT doc_id, CAST(i AS INT) AS chunk_id,
               array_to_string(ws[i*10+1 : i*10+20], ' ') AS chunk,
               CAST(len(ws[i*10+1 : i*10+20]) AS INT) AS n_tokens
        FROM idx
      """.stripMargin),
      doc = "sliding-window chunking, width 20 stride 10 (RAG prep)"),

    // ---- content fingerprinting ----
    "q53_fingerprint" -> Q(
      (s, d) => {
        import s.implicits._
        T.documents(s, d).select(
          $"doc_id",
          md5($"text").as("exact_fp"),
          md5(TextOps.canonicalForm($"text")).as("bow_fp"))
      },
      Some("""
        SELECT doc_id, md5(text) AS exact_fp,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_fp
        FROM documents
      """.stripMargin),
      doc = "exact + canonical bag-of-words fingerprints"),

    // ---- collocation mining: bigram PMI (word2phrase-style) ----
    // phrase detection for tokenizer/vocab building: score each adjacent
    // word pair by pointwise mutual information over the whole corpus.
    // Two corpus-wide aggregates (unigram + bigram counts — map-side
    // partial, one shuffle each), then a count-keyed join; the totals ride
    // along as broadcast one-row scalars. The aggregates are PERSISTED and
    // the totals are sums over them: without the cache each of the five
    // consumers (two uni joins, two totals, bi itself) re-scanned and
    // re-exploded the corpus — measured as 5 parquet scans in the physical
    // plan. The cached tables are vocabulary-sized, exactly what a 100 TB
    // run would materialize between the count and score phases. PMI is
    // computed from integer counts on both engines and rounded at 6, so
    // the only float op is a single log of identical doubles.
    // Deterministic top-k tiebreak on (pmi, bigram).
    "q81_bigram_pmi" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = T.documents(s, d)
        val tokens = docs.select(explode(TextOps.words($"text")).as("w"))
        val uni = tokens.groupBy($"w").agg(count(lit(1)).as("n_w")).persist()
        val nTok = uni.agg(sum($"n_w").as("n_total"))
        val bigrams = docs.select(explode(TextOps.shingles($"text", 2)).as("bg"))
        val bi = bigrams.groupBy($"bg").agg(count(lit(1)).as("n_ab")).persist()
        val nBi = bi.agg(sum($"n_ab").as("b_total"))
        bi.filter($"n_ab" >= 5)
          .withColumn("wa", element_at(split($"bg", " "), 1))
          .withColumn("wb", element_at(split($"bg", " "), 2))
          .join(uni.toDF("wa", "n_a"), "wa")
          .join(uni.toDF("wb", "n_b"), "wb")
          .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBi))
          .withColumn("pmi_r", round(log(
            ($"n_ab".cast("double") / $"b_total") /
              (($"n_a".cast("double") / $"n_total") *
                ($"n_b".cast("double") / $"n_total"))), 6))
          .orderBy($"pmi_r".desc, $"bg".asc)
          .limit(50)
          .select($"bg".as("bigram"), $"n_ab", $"pmi_r")
      },
      Some("""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ), uni AS (
          SELECT w, count(*) AS n_w FROM toks GROUP BY w
        ), n AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total FROM uni),
        bgs AS (
          SELECT unnest(list_transform(
            range(1, len(string_split(text, ' '))),
            i -> string_split(text, ' ')[i] || ' ' ||
                 string_split(text, ' ')[i + 1])) AS bg
          FROM documents
        ), bi AS (
          SELECT bg, count(*) AS n_ab FROM bgs GROUP BY bg
        ), b AS (SELECT CAST(sum(n_ab) AS BIGINT) AS b_total FROM bi)
        SELECT bg AS bigram, n_ab,
               round(ln((CAST(n_ab AS DOUBLE) / b_total) /
                 ((CAST(ua.n_w AS DOUBLE) / n_total) *
                  (CAST(ub.n_w AS DOUBLE) / n_total))), 6) AS pmi_r
        FROM bi
        CROSS JOIN n CROSS JOIN b
        JOIN uni ua ON ua.w = string_split(bg, ' ')[1]
        JOIN uni ub ON ub.w = string_split(bg, ' ')[2]
        WHERE n_ab >= 5
        ORDER BY pmi_r DESC, bg ASC
        LIMIT 50
      """.stripMargin),
      doc = "bigram collocations by PMI (word2phrase-style phrase mining)"),

    // ---- heavy-hitter n-grams (boilerplate phrase mining) ----
    // Find every word 3-gram occurring ≥ 6 times corpus-wide — the
    // boilerplate/template-phrase detector (headers, footers, license
    // blurbs repeat verbatim across crawled pages; the catalog pins an
    // absolute threshold, production calibrates it per corpus). The naive
    // plan shuffles EVERY exploded gram into a corpus-wide count — at
    // 100 TB that exchange is ~the corpus size again. Here a Count-Min
    // Sketch over the hashed gram stream (CountMinSketchAgg: merge-able
    // partials, one constant-size row — width 2/eps × depth ln(1/δ),
    // ~1 MB at eps=1e-4) is built first and shipped with the plan; a
    // codegen'd `cms_estimate >= t` projection then prunes the stream in
    // the scan stage, and only survivors — true heavy hitters plus the
    // eps·N-bounded overcount tail — enter the exact groupBy. CMS never
    // undercounts, so no true heavy hitter is lost; the exact HAVING
    // drops the impostors: output ≡ the naive plan, oracled as such.
    // (The same sketch is reused query-over-query in an ingest loop —
    // the build is one pass, amortized across batches.)
    "q97_heavy_hitters" -> Q(
      (s, d) => heavyHitterGrams(T.documents(s, d), n = 3, t = 6L),
      Some("""
        WITH w AS (
          SELECT string_split(text, ' ') AS ws FROM documents
        ), g AS (
          SELECT unnest(list_transform(
            range(1, len(ws) - 1),
            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
          FROM w
        )
        SELECT g AS gram, count(*) AS n_occurrences
        FROM g GROUP BY g HAVING count(*) >= 6
      """.stripMargin),
      doc = "heavy-hitter 3-grams via Count-Min prefilter + exact confirm (boilerplate mining)"),

    // ---- BM25 lexical retrieval (RAG / corpus search) ----
    // Okapi BM25 top-k for a fixed keyword query. The plan is shaped for
    // a 100 TB corpus: ONE aggregate over the exploded token stream
    // produces a compact per-doc row (doc length + a tf column per query
    // term — conditional aggregation, so tf extraction adds no second
    // pass); corpus stats (N, avgdl) and the per-term dfs reduce from
    // that DOC-sized table into a single broadcast row; scoring is then a
    // pure projection (no per-term join fan-out — the classic
    // score-join-per-term plan shuffles |terms|·|docs| rows, this one
    // shuffles the token aggregate once and nothing after); top-k is
    // TakeOrderedAndProject, never a global sort. Each term's BM25
    // contribution is round(·,6)'d BEFORE the fixed-order 3-term sum, so
    // the result is bit-stable across engines and partitionings (the
    // q90/dsum float rule). rk ties break on doc_id.
    "q105_bm25_topk" -> Q(
      (s, d) => {
        import s.implicits._
        val terms = Bm25Query
        val perDoc = bm25PerDoc(T.documents(s, d), terms)
        val g = perDoc.agg(
          count(lit(1)).as("n"),
          (avg($"dl").as("avgdl") +:
            terms.indices.map { i =>
              count(when(col(s"tf${i + 1}") > 0, 1)).as(s"df${i + 1}")
            }): _*)
        bm25TopKFromIndex(perDoc, g, terms)
      },
      Some(bm25FullOracle),
      doc = "Okapi BM25 top-k retrieval for a fixed keyword query (RAG lexical search)"),

    // ---- incrementally MAINTAINED BM25 index (retrieval's crawl form) ----
    // The index is the doc-sized perDoc relation plus one exact-integer
    // stats row; a crawl batch costs ONE token aggregate over the batch,
    // an append, and a 1-row stats fold — the corpus token stream is
    // never re-scanned. BM25 scores of OLD docs legitimately change as
    // N/avgdl/df move, which is why the index stores raw integers and
    // derives idf/avgdl at query time: the maintained index's top-k must
    // equal the full rebuild EXACTLY, and the oracle (q105's full-corpus
    // replay, verbatim) enforces it.
    "q133_bm25_index_incremental" -> Q(
      (s, d) => {
        val docs = T.documents(s, d)
        val cutoff = (docs.agg(max(col("doc_id"))).head.getLong(0) + 1) * 7 / 10
        val (pdT, statsPath) = q133Store(s, d, cutoff)
        val batchPd = bm25PerDoc(
          docs.filter(col("doc_id") >= cutoff), Bm25Query)
        val stats = bm25IndexMaintain(
          s.read.parquet(statsPath), batchPd, Bm25Query)
          .withColumn("avgdl", col("sumdl").cast("double") / col("n"))
        bm25TopKFromIndex(s.table(pdT).unionByName(batchPd), stats, Bm25Query)
      },
      Some(bm25FullOracle),
      doc = "incrementally maintained BM25 index: batch-only token scan + stats fold == full rebuild"),

    // ---- batch BM25: a QUERY TABLE against the corpus ----
    // The other retrieval regime: q105 compiles ONE query into per-term
    // tf columns (no join fan-out — right when queries are few and known
    // at plan time); here the queries are DATA, so the plan is the
    // inverted-index shape a batch retrieval service runs: token stream
    // semi-joined against the (broadcast) query-term set BEFORE any
    // aggregate — non-matching tokens die in the scan stage — then one
    // (doc, term) tf aggregate over survivors, per-term dfs reduced from
    // that match table (query-term-sized → broadcast), corpus stats
    // (N, avgdl) from a pure dl projection (no token explode), scoring a
    // projection, and per-query top-k over MATCHED docs only
    // (rank window partitioned by query_id — each query's partition
    // sorts its own match set, never the corpus). Per-term contributions
    // are round(6)'d then decimal-summed per (query, doc) so the
    // accumulation order (Spark partitions vs DuckDB sequential) cannot
    // drift the hash; ranks tie-break on doc_id.
    "q110_bm25_batch" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = T.documents(s, d)
        val qterms = Bm25Batch.toDF("query_id", "term")
        val dl = docs.select($"doc_id",
          size(TextOps.words($"text")).as("dl"))
        val g = dl.agg(count(lit(1)).as("n"), avg($"dl").as("avgdl"))
        val matches = docs
          .select($"doc_id", explode(TextOps.words($"text")).as("term"))
          .join(broadcast(qterms.select($"term").distinct()), "term")
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val dfT = matches.groupBy($"term").agg(count(lit(1)).as("df"))
        val contrib = {
          val tf = $"tf".cast("double")
          val idf = log(lit(1.0) + ($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5)))
          val denom = tf + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * $"dl" / $"avgdl")
          round(idf * (tf * lit(Bm25K1 + 1.0)) / denom, 6)
        }
        val scored = matches
          .join(broadcast(qterms), "term")
          .join(dl, "doc_id")
          .join(broadcast(dfT), "term")
          .crossJoin(broadcast(g))
          .groupBy($"query_id", $"doc_id")
          .agg(round(sum(contrib.cast("decimal(28,6)")).cast("double"), 6)
            .as("bm25"))
        scored
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
              .orderBy($"bm25".desc, $"doc_id".asc)).cast("int"))
          .filter($"rk" <= Bm25TopK)
      },
      Some(s"""
        WITH q(query_id, term) AS (VALUES ${Bm25Batch.map {
          case (id, t) => s"($id, '$t')" }.mkString(", ")}),
        dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        g AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
        m AS (SELECT doc_id, term, count(*) AS tf
              FROM toks JOIN (SELECT DISTINCT term FROM q) USING (term)
              GROUP BY 1, 2),
        dfT AS (SELECT term, count(*) AS df FROM m GROUP BY 1),
        sc AS (
          SELECT q.query_id, m.doc_id,
                 round(CAST(sum(CAST(round(
                   ln(1 + (g.n - dfT.df + 0.5) / (dfT.df + 0.5))
                     * (CAST(m.tf AS DOUBLE) * ${Bm25K1 + 1.0})
                     / (CAST(m.tf AS DOUBLE) + $Bm25K1 * (${1.0 - Bm25B}
                        + $Bm25B * dl.dl / g.avgdl)), 6)
                   AS DECIMAL(28,6))) AS DOUBLE), 6) AS bm25
          FROM m
          JOIN q USING (term)
          JOIN dl USING (doc_id)
          JOIN dfT ON m.term = dfT.term
          CROSS JOIN g
          GROUP BY 1, 2
        )
        SELECT * FROM (
          SELECT query_id, doc_id, bm25,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rk
          FROM sc)
        WHERE rk <= $Bm25TopK
      """.stripMargin),
      doc = "batch BM25: query table vs corpus via inverted-index join, per-query top-k"),

    // ---- cross-source overlap matrix (corpus provenance analysis) ----
    // How much do the corpus's SOURCES copy from each other? For every
    // source pair, the number of distinct 5-grams both contain — the
    // aggregate view of contamination/mirroring between crawl sources
    // (the per-document complement is q85/q107). Plan: distinct
    // (source, gram-hash) pairs — one hash aggregate, grams travel as
    // 8 bytes — then the sources sharing each gram reduce to ONE sorted
    // set per gram (|sources| is small by nature) and pairs are emitted
    // GRAM-LOCALLY from that array (the q56 bucket-local pair idea; no
    // gram-keyed self-join, which would square the hot boilerplate
    // grams). The pair aggregate is |sources|²-bounded — a broadcast-
    // sized result at any corpus scale.
    "q111_source_overlap" -> Q(
      (s, d) => {
        import s.implicits._
        val sg = T.documents(s, d)
          .select($"source", explode(graft.functions.NGramHash64
            .ngramHashes(TextOps.words($"text"), 5)).as("g"))
          .distinct()
        val sets = sg.groupBy($"g")
          .agg(sort_array(collect_set($"source")).as("ss"))
          .filter(size($"ss") >= 2)
        sets.select(explode(flatten(transform($"ss", (x, i) =>
            transform(slice($"ss", i + 2, size($"ss")), y =>
              struct(x.as("source_a"), y.as("source_b")))))).as("p"))
          .groupBy($"p.source_a".as("source_a"), $"p.source_b".as("source_b"))
          .agg(count(lit(1)).as("n_shared_grams"))
      },
      Some("""
        WITH w AS (
          SELECT source, string_split(text, ' ') AS ws FROM documents
        ), g AS (
          SELECT DISTINCT source, unnest(list_distinct(list_transform(
            range(1, len(ws) - 3),
            i -> array_to_string(ws[i:i+4], ' ')))) AS g
          FROM w
        )
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared_grams
        FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2
      """.stripMargin),
      doc = "cross-source shared-5-gram matrix (provenance/mirroring analysis)"),

    // ---- vocabulary build + document numericalization ----
    // The tokenize-for-training step: a frequency-ranked vocab (min-count
    // floor, top-V cap, deterministic (count DESC, token ASC) tie-break;
    // id 0 reserved for OOV) and every document re-expressed as its id
    // sequence. Encoding is the native `vocab_encode` expression — one
    // hash probe per token inside the scan projection, ZERO corpus
    // shuffle (the join formulation the oracle uses would shuffle the
    // whole token stream twice: once keyed by token for the lookup, once
    // keyed by doc to restore order). The vocab build's corpus pass is
    // one map-side-combined count aggregate; top-V election is a
    // TakeOrderedAndProject and the ≤V-row collect is bounded by the cap
    // parameter, not the data. ids_csv (not array<int>) keeps the output
    // in check.py's hashable domain.
    "q117_vocab_encode" -> Q(
      (s, d) => {
        import s.implicits._
        val docs = T.documents(s, d)
        val vocab = buildVocab(docs, minCount = 2, maxSize = VocabMax)
        docs
          .select($"doc_id", TextOps.words($"text").as("ws"))
          .select($"doc_id", size($"ws").as("n_tokens"),
            graft.functions.VocabEncode.vocabEncode($"ws", vocab).as("ids"))
          .select($"doc_id", $"n_tokens",
            array_join($"ids".cast("array<string>"), ",").as("ids_csv"),
            (size($"ids") - size(array_remove($"ids", 0))).as("n_oov"))
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, i AS ord, ws[i] AS w
          FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
                FROM (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents))
        ),
        vocab AS (
          SELECT w, CAST(row_number() OVER (ORDER BY cnt DESC, w ASC) AS INT) AS id
          FROM (SELECT w, count(*) AS cnt FROM tok GROUP BY w
                HAVING count(*) >= 2)
          QUALIFY id <= $VocabMax
        ),
        enc AS (
          SELECT t.doc_id, t.ord, COALESCE(v.id, 0) AS id
          FROM tok t LEFT JOIN vocab v USING (w)
        )
        SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
               array_to_string(array_agg(id ORDER BY ord), ',') AS ids_csv,
               CAST(count(*) FILTER (WHERE id = 0) AS INT) AS n_oov
        FROM enc GROUP BY doc_id
      """.stripMargin),
      doc = "vocab build (min-count, top-V, ranked) + zero-shuffle doc numericalization (native vocab_encode)")
  )

  /** Vocab cap for q117 (a parameter in production; the cap is what makes
    * the driver-side collect bounded-by-construction). */
  val VocabMax = 1000

  /** Frequency-ranked vocabulary: tokens with ≥ `minCount` occurrences,
    * top `maxSize` by (count DESC, token ASC), ids 1..maxSize (0 = OOV).
    * One corpus count-aggregate + a TakeOrderedAndProject; the collect is
    * ≤ maxSize rows BY CONSTRUCTION (the cap is the contract, like the
    * dict loads SCALE.md §Ground-rules documents). */
  def buildVocab(docs: org.apache.spark.sql.DataFrame, minCount: Long,
      maxSize: Int): Seq[(String, Int)] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(explode(TextOps.words($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" >= minCount)
      .orderBy($"cnt".desc, $"w".asc)
      .limit(maxSize)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (r.getString(0), i + 1) }
      .toSeq
  }

  /** BM25 catalog constants: the fixed query terms and the standard
    * Okapi parameters. */
  val Bm25Query: Seq[String] = Seq("spark", "join", "window")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 10

  /** The compact per-doc index row for `terms`: (doc_id, dl, tf1..tfk)
    * — ONE aggregate over the exploded token stream. This IS the stored
    * relation of the maintained BM25 index (q133): doc-sized, not
    * token-sized, and append-only under crawl ingest (new docs only). */
  def bm25PerDoc(docs: org.apache.spark.sql.DataFrame,
                 terms: Seq[String]): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"),
        terms.zipWithIndex.map { case (t, i) =>
          count(when(col("term") === t, 1)).as(s"tf${i + 1}")
        }: _*)

  /** Corpus stats in MAINTAINABLE form — exact integer totals (n,
    * sumdl, df1..dfk), all distributive: a batch's stats ADD. (avgdl is
    * derived at query time; q105's `avg(dl)` equals sumdl/n exactly
    * here because integer doubles accumulate exactly below 2^53.) */
  def bm25IndexStats(perDoc: org.apache.spark.sql.DataFrame,
                     terms: Seq[String]): org.apache.spark.sql.DataFrame =
    perDoc.agg(count(lit(1)).as("n"),
      (coalesce(sum(col("dl")), lit(0L)).as("sumdl") +:
        terms.indices.map { i =>
          count(when(col(s"tf${i + 1}") > 0, 1)).as(s"df${i + 1}")
        }): _*)

  /** Fold a new-doc batch's stats into the maintained stats row — one
    * broadcast of two 1-row relations; the index itself takes a
    * batch-sized APPEND of [[bm25PerDoc]] rows. Exact because every
    * total is a distributive integer and crawl docs are NEW (a doc
    * contributes to exactly one side). */
  def bm25IndexMaintain(stats: org.apache.spark.sql.DataFrame,
                        batchPerDoc: org.apache.spark.sql.DataFrame,
                        terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val deltas = bm25IndexStats(batchPerDoc, terms).select(
      (col("n").as("dn") +: col("sumdl").as("dsumdl") +:
        terms.indices.map(i => col(s"df${i + 1}").as(s"ddf${i + 1}"))): _*)
    stats.crossJoin(broadcast(deltas)).select(
      ((col("n") + col("dn")).as("n") +:
        (col("sumdl") + col("dsumdl")).as("sumdl") +:
        terms.indices.map(i =>
          (col(s"df${i + 1}") + col(s"ddf${i + 1}")).as(s"df${i + 1}"))): _*)
  }

  /** Score + top-k from an index: perDoc rows × a broadcast one-row
    * stats relation carrying (n, avgdl, df1..dfk). Pure projection +
    * TakeOrderedAndProject — the steady-state query path never touches
    * the token stream. Per-term contributions round(·,6) before the
    * fixed-order sum (bit-stable cross-engine; the q90/dsum rule). */
  /** The Okapi BM25 blend as ONE reusable expression over columns
    * (dl, tf1..tfk) × (n, avgdl, df1..dfk): per-term contributions
    * round(·,6) before the fixed-order sum (bit-stable cross-engine;
    * the q90/dsum rule). Package-private so the anchor-text site
    * finder (LinkGraph q185) scores with the SAME formula — not a
    * restated one that could drift. */
  private[operators] def bm25ScoreExpr(terms: Seq[String])
      : org.apache.spark.sql.Column = {
    val w: Seq[org.apache.spark.sql.Column] = terms.indices.map { i =>
      val tf = col(s"tf${i + 1}").cast("double")
      val df = col(s"df${i + 1}")
      val idf = log(lit(1.0) + (col("n") - df + lit(0.5)) / (df + lit(0.5)))
      val denom = tf + lit(Bm25K1) * (lit(1.0 - Bm25B) +
        lit(Bm25B) * col("dl") / col("avgdl"))
      round(when(tf === 0, 0.0)
        .otherwise(idf * (tf * lit(Bm25K1 + 1.0)) / denom), 6)
    }
    w.reduceLeft(_ + _)
  }

  def bm25TopKFromIndex(perDoc: org.apache.spark.sql.DataFrame,
                        stats: org.apache.spark.sql.DataFrame,
                        terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), bm25ScoreExpr(terms).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(Bm25TopK)
      // rank the ≤k survivors; pmod(doc_id,1) keeps the partition spec
      // non-empty (house idiom) so the bounded single-partition window
      // doesn't trip the WindowExec warning
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("bm25").desc, col("doc_id").asc)).cast("int"))
  }

  /** q133's stored index — the q126Store recipe for retrieval: the
    * prefix corpus's [[bm25PerDoc]] rows land once per (JVM, sf dir) as
    * a doc_id-bucketed table and its [[bm25IndexStats]] row as parquet
    * beside it; the first call per JVM rebuilds unconditionally so
    * regenerated testdata can never serve a stale index. */
  private val q133Built =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def q133Store(s: org.apache.spark.sql.SparkSession, d: String,
                        cutoff: Long): (String, String) =
    q133Built.computeIfAbsent(d, _ => {
      val t = s"q133_index_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val root = Scratch.dir("graft_q133")
      s.sql(s"DROP TABLE IF EXISTS $t")
      val prefix = bm25PerDoc(
        T.documents(s, d).filter(col("doc_id") < cutoff), Bm25Query)
      graft.sources.TableSink.writeBucketed(prefix, t, 32,
        Seq("doc_id"), path = Some(s"$root/$t"))
      // stats derive from the STORED rows, so they can never drift from
      // the landed index
      bm25IndexStats(s.table(t), Bm25Query)
        .write.mode("overwrite").parquet(s"$root/stats")
      (t, s"$root/stats")
    })

  /** The full-corpus BM25 top-k replay — q105's oracle, and (because a
    * maintained index must equal the full rebuild exactly) q133's too. */
  private lazy val bm25FullOracle: String = s"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ), d AS (
          SELECT doc_id, count(*) AS dl,
                 count(*) FILTER (term = '${Bm25Query(0)}') AS tf1,
                 count(*) FILTER (term = '${Bm25Query(1)}') AS tf2,
                 count(*) FILTER (term = '${Bm25Query(2)}') AS tf3
          FROM toks GROUP BY doc_id
        ), g AS (
          SELECT count(*) AS n, avg(dl) AS avgdl,
                 count(*) FILTER (tf1 > 0) AS df1,
                 count(*) FILTER (tf2 > 0) AS df2,
                 count(*) FILTER (tf3 > 0) AS df3
          FROM d
        ), s AS (
          SELECT doc_id,
            round(CASE WHEN tf1 = 0 THEN 0.0 ELSE
              ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
                * (CAST(tf1 AS DOUBLE) * ${Bm25K1 + 1.0})
                / (CAST(tf1 AS DOUBLE) + ${Bm25K1} * (${1.0 - Bm25B} + ${Bm25B} * dl / avgdl)) END, 6)
          + round(CASE WHEN tf2 = 0 THEN 0.0 ELSE
              ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
                * (CAST(tf2 AS DOUBLE) * ${Bm25K1 + 1.0})
                / (CAST(tf2 AS DOUBLE) + ${Bm25K1} * (${1.0 - Bm25B} + ${Bm25B} * dl / avgdl)) END, 6)
          + round(CASE WHEN tf3 = 0 THEN 0.0 ELSE
              ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5))
                * (CAST(tf3 AS DOUBLE) * ${Bm25K1 + 1.0})
                / (CAST(tf3 AS DOUBLE) + ${Bm25K1} * (${1.0 - Bm25B} + ${Bm25B} * dl / avgdl)) END, 6)
            AS bm25
          FROM d CROSS JOIN g
        )
        SELECT doc_id, bm25, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rk
        FROM s
        ORDER BY bm25 DESC, doc_id ASC
        LIMIT ${Bm25TopK}
      """.stripMargin

  /** q110's query table: (query_id, term) rows — queries-as-data for the
    * inverted-index batch-retrieval plan. */
  val Bm25Batch: Seq[(Int, String)] = Seq(
    1 -> "spark", 1 -> "join",
    2 -> "window", 2 -> "stream", 2 -> "batch",
    3 -> "vector", 3 -> "query",
    4 -> "hash", 4 -> "table", 4 -> "scan")
}
