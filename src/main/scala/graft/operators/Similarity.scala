package graft.operators

import graft.functions.VectorOps
import graft.{Land, Q, QueryPack, Scratch, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Similarity search over the `embeddings` table (`array<float>` 64-dim):
  * brute-force cosine top-k as the exact baseline, and a sign-quantized
  * (1-bit LSH / IVF-style) bucketed variant as the scale path.
  *
  * Scale design: brute-force is a broadcast of the (small) query set
  * against a full scan — at 100 TB the corpus never shuffles, each
  * partition scores its rows and the per-query top-k reduces via the
  * window. The ANN variant joins only within coarse buckets; the bucket
  * count is a PARAMETER that must grow with corpus size (`signBitsFor`) —
  * a fixed cell count degenerates to all-pairs as n grows. Recall lost to
  * finer cells is bought back with multi-probe: each query also probes
  * every bucket at hamming distance 1 (bits+1 probes), the standard
  * multi-probe LSH trade (probe count grows linearly while cells grow
  * exponentially). Norms are computed once per row BEFORE the join, never
  * per candidate pair. Recall is property-tested against brute force in
  * LlmOpsSpec.
  *
  * Ranking ties are broken on rounded similarity then neighbor id, so
  * ordering is reproducible across engines (float associativity).
  */
object Similarity extends QueryPack {

  val K = 5
  val NQueries = 10

  /** THE single source of truth for the fixture's embedding width. Every
    * dim-dependent constant (hyperplane literals in the SQL oracles, the
    * q68 dimension range, q69's MSE divisor) derives from this; a
    * SparkSpec test asserts the parquet fixture actually has this width,
    * so a different-dim corpus fails loudly instead of silently diverging
    * from the oracle. */
  val EmbeddingDim = 64

  /** 2^8 = 256 cells for the catalog queries (sf0.1 ≈ 5k vectors → ~20 per
    * cell); the axis-aligned hyperplanes cap bits at the embedding dim. */
  val SignBits = 8

  /** Bucket count must track corpus size: ~`perBucket` vectors per cell
    * keeps within-cell pairing constant-bounded as n grows 100×. */
  def signBitsFor(n: Long, perBucket: Long = 4096, dim: Int = EmbeddingDim): Int = {
    val cells = math.max(1L, n / perBucket)
    math.min(dim, math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(cells)))
  }

  /** The query's probe set: its own cell plus every 1-bit flip. */
  private def probeBuckets(bucket: Column, bits: Int): Column =
    array(bucket +: (0 until bits).map(j => bucket.bitwiseXOR(lit(1 << j))): _*)

  /** Exact cosine top-k of `corpus` for each vector in `queries`. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      VectorOps.norm(col("embedding")).as("qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      VectorOps.norm(col("embedding")).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim_r",
        round(VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_r").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim_r"))
  }

  /** Independent band tables for sign-LSH OR-amplification: a single
    * 8-bit table retains only ~20% of true top-k neighbors at this
    * corpus's ~60° neighbor angles (p₁ ≈ 0.19 at hamming ≤ 1); L
    * independent tables retain 1−(1−p₁)^L — measured 0.72 at L=8 on the
    * sf0.1 corpus (ProfileRecall). Probe count is L·(bits+1) — linear in
    * L while the per-table cell count stays exponential in bits. */
  val SignTables = 8

  /** ANN: the corpus is sign-bucketed once PER TABLE (L rows per vector);
    * each query probes, in every table, its own cell and all hamming-1
    * cells. Candidates are the union across tables — a pair colliding in
    * several tables is deduplicated before scoring, so ranks count each
    * neighbor once. The candidate dedup shuffles only the (small)
    * candidate set of the broadcast-side query fan-out, never the
    * corpus. */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int,
              tables: Int = SignTables): DataFrame = {
    // all table cells come from ONE native sign_buckets call — the
    // bits×tables inline `when(dot ≥ 0)` formulation generated past
    // Janino's 64 KB method limit and dropped the stage to interpreted
    val bk = graft.functions.SignBuckets.buckets(
      col("embedding"), bits, tables, EmbeddingDim)
    val qProbes = (0 until tables).flatMap { t =>
      val base = element_at(col("bk"), t + 1)
      (base +: (0 until bits).map(j => base.bitwiseXOR(lit(1 << j))))
        .map(p => struct(lit(t).as("tbl"), p.as("bucket")))
    }
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      VectorOps.norm(col("embedding")).as("qn"), bk.as("bk"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(array(qProbes: _*)).as("tb"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      VectorOps.norm(col("embedding")).as("cn"),
      posexplode(bk).as(Seq("tbl", "bucket")))
    val scored = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("sim_r",
        round(VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_r").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim_r"))
  }

  /** Embedding near-dup pairs: cells at hamming ≤ 1 are paired (the a-side
    * explodes its probe set; the b-side keeps its single cell), then exact
    * cosine filters. Within-cell work is n²/2^bits per cell — bounded as
    * long as bits tracks corpus size. */
  def embeddingNearDups(emb: DataFrame, bits: Int, minSim: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      VectorOps.norm(col("embedding")).as("a_n"),
      explode(probeBuckets(
        VectorOps.signBucket(col("embedding"), bits, EmbeddingDim), bits)).as("bucket"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      VectorOps.norm(col("embedding")).as("b_n"),
      VectorOps.signBucket(col("embedding"), bits, EmbeddingDim).as("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim_r",
        round(VectorOps.dot(col("a_emb"), col("b_emb")) / (col("a_n") * col("b_n")), 6))
      .filter(col("sim_r") >= minSim)
      .select("a_id", "b_id", "sim_r")
  }

  /** Sign-bucket registry of a vector corpus: (vec_id, embedding,
    * bucket) — the embedding near-dup family's carried index (the
    * vector-space analogue of [[Dedup.minhashBandRegistry]]). Persist
    * it bucketed on `bucket` and each crawl batch pairs only against
    * the cells its members probe. */
  def signBucketRegistry(emb: DataFrame, bits: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      VectorOps.signBucket(col("embedding"), bits, EmbeddingDim).as("bucket"))

  /** Incremental [[embeddingNearDups]] — the crawl-ingest form (q132):
    * near-dup pairs of `batch` against the corpus REGISTRY plus
    * batch-internal pairs. Under the ascending-ingest contract (batch
    * ids exceed every registry id), every hamming-≤1 pair whose later
    * endpoint is in the batch is generated exactly once: the a-side
    * (registry ∪ batch) explodes its hamming-1 probe set, only probe
    * rows landing in a cell some batch member OCCUPIES survive the
    * broadcast semi-join (cost ∝ batch, the q126 shape — the registry
    * is scanned, never reshuffled), and the b-side is the batch alone.
    * Output ≡ the full [[embeddingNearDups]] run over corpus∪batch
    * restricted to pairs with their larger endpoint in the batch —
    * which, for a suffix batch, is exactly "≥1 batch endpoint". */
  def embeddingNearDupsIncremental(registry: DataFrame, batch: DataFrame,
                                   bits: Int, minSim: Double): DataFrame = {
    val bSide = signBucketRegistry(batch, bits)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        VectorOps.norm(col("embedding")).as("b_n"), col("bucket"))
    val batchKeys = bSide.select(col("bucket")).distinct()
    val aSide = registry.select(col("vec_id"), col("embedding"), col("bucket"))
      .unionByName(signBucketRegistry(batch, bits))
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        VectorOps.norm(col("embedding")).as("a_n"),
        explode(probeBuckets(col("bucket"), bits)).as("bucket"))
      .join(batchKeys, Seq("bucket"))
    aSide.join(bSide, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim_r",
        round(VectorOps.dot(col("a_emb"), col("b_emb")) / (col("a_n") * col("b_n")), 6))
      .filter(col("sim_r") >= minSim)
      .select("a_id", "b_id", "sim_r")
  }

  val IvfCentroids = 16
  val IvfProbes = 4

  /** The codebook as ONE row holding a cent_id-ascending array of
    * (cent_id, centv, cent_n) structs. Joining this single row in with
    * `crossJoin(broadcast(...))` lets every per-vector cell decision run
    * as a pure projection — the corpus-side alternative
    * (`crossJoin(broadcast(cents)) → groupBy(vector)`) amplifies the
    * corpus ×C and then shuffles one row per vector to reduce it back,
    * the ANN path's only corpus-wide exchange at 100 TB. */
  /** Product-quantization geometry: [[EmbeddingDim]] splits into `PqM`
    * subspaces of `PqSubDim` dims, each quantized to one of `PqK`
    * centroids — a vector compresses to PqM 4-bit codes (4 bytes) vs
    * 256 bytes of float32: the 64× compression tier above q69's int8
    * (4×), and the representation a 100 TB vector corpus actually
    * searches (codes + a per-query 128-entry lookup table; the floats
    * never leave cold storage after encoding). */
  val PqM = 8
  val PqK = 16
  val PqSubDim: Int = EmbeddingDim / PqM

  /** Micro-unit quantization: round(x, 6)·10⁶ as a BIGINT. ALL PQ
    * arithmetic (encode argmin, ADC tables, distance sums) runs in this
    * scaled-integer domain — squared distances are exact integers
    * (≤ ~3·10¹³, far inside both Long and the 2⁵³ double window), so
    * codes and scores are bit-identical across engines and
    * partitionings with no decimal/float rules needed. The outer
    * round(·, 0) snaps the ≤1-ulp error of round(x,6)·10⁶ back to the
    * exact integer; its .5 boundary is unreachable (the operand is
    * within 1 ulp of an integer). */
  private def q6(x: Column): Column =
    round(round(x.cast("double"), 6) * lit(1000000.0), 0).cast("long")

  /** Whole-vector micro-unit quantization: the native
    * [[graft.functions.QuantizeMicro]] expression (one generated call per
    * row). [[q6v6Ref]] keeps the element-wise HOF rendition it must match
    * bit-for-bit (parity-tested in LlmOpsSpec — the corpus-side encode
    * and refine paths were interpreted-lambda-bound before r17). */
  private def q6vec(v: Column): Column = graft.functions.QuantizeMicro(v)

  /** Reference HOF rendition of [[q6vec]] — interpreted; parity-spec only. */
  private[graft] def q6v6Ref(v: Column): Column = transform(v, x => q6(x))

  /** Reference HOF rendition of the PQ encode (argmin per subspace) —
    * interpreted; parity-spec only. The hot path is
    * [[graft.functions.PqEncode]]. */
  private[graft] def pqEncodeRef(v6: Column, cb: Column): Column =
    transform(sequence(lit(0), lit(PqM - 1)), m => {
      val dists = transform(cb, cv => pqSubDist(v6, cv, m))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })

  /** Reference HOF rendition of the refine L2² — interpreted; parity-spec
    * only. The hot path is [[graft.functions.L2Micro]]. */
  private[graft] def l2Ref(a: Column, b: Column): Column =
    aggregate(
      sequence(lit(1), lit(EmbeddingDim)), lit(0L),
      (acc, i) => acc +
        (element_at(a, i) - element_at(b, i)) *
          (element_at(a, i) - element_at(b, i)))

  /** Exact integer L2² between subspace `m` of two micro-unit vectors. */
  private def pqSubDist(v: Column, cv: Column, m: Column): Column =
    aggregate(
      sequence(m * lit(PqSubDim) + lit(1), m * lit(PqSubDim) + lit(PqSubDim)),
      lit(0L),
      (acc, i) => acc +
        (element_at(v, i) - element_at(cv, i)) *
          (element_at(v, i) - element_at(cv, i)))

  /** One-row PQ codebook: the micro-unit vectors of the first [[PqK]]
    * corpus ids, id-ascending (the deterministic q66-style seed — a real
    * deployment trains per-subspace k-means offline; the seed choice
    * keeps identical plumbing oracle-checkable). Broadcast-sized by
    * construction: PqK × EmbeddingDim longs. */
  private def pqCodebookRow(corpus: DataFrame): DataFrame =
    corpus.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("j"), q6vec(col("embedding")).as("c6"))
      .agg(sort_array(collect_list(struct(col("j"), col("c6")))).as("cs"))
      .select(transform(col("cs"), c => c.getField("c6")).as("__pqcb"))

  /** PQ encoding: each vector → [[PqM]] centroid codes, argmin of the
    * exact integer subspace L2² against the broadcast codebook, ties to
    * the lower code (array_position finds the FIRST minimum). A pure
    * projection — the corpus never shuffles to encode, at any scale. */
  def pqCodes(corpus: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(pqCodebookRow(corpus)))
      .select(col("vec_id"), q6vec(col("embedding")).as("v6"), col("__pqcb"))
      .select(col("vec_id"),
        graft.functions.PqEncode(col("v6"), col("__pqcb"), PqM, PqSubDim)
          .as("codes"))

  /** ADC shortlist width: the PQ recall/latency dial. On THIS corpus
    * (near-random unit vectors — worst case for quantization: neighbor
    * gaps are tiny against the distance-concentration floor, so raw ADC
    * top-5 retains only ~0.2 of the exact answer, and subspace Lloyd
    * training does not move it) a 100-wide shortlist re-ranked exactly
    * measures 0.78–0.96 recall across sf0.001–0.1. Like `signBitsFor`,
    * production scales R with corpus size. */
  val PqShortlist = 100

  /** PQ top-k: ADC shortlist + exact re-rank (the FAISS refine shape).
    * Stage 1 — asymmetric distance: each query precomputes its
    * PqM × PqK table of exact integer subspace distances to the
    * codebook; a corpus row's score is PqM table lookups summed, so the
    * scan touches ONLY the 4-byte codes plus a broadcast table — the
    * float vectors never leave cold storage. Per-query top-R reduces
    * through the rank window. Stage 2 — refine: the R·|queries|
    * shortlist ids (tiny) join BACK to the corpus by id to re-read just
    * those vectors, and exact integer L2² re-ranks to top-k. This is
    * the memory-resident search tier for a corpus whose float vectors
    * exceed aggregate RAM (q66/q78's IVF cell routing composes in front
    * unchanged — same codebook-broadcast shape); outputs are exact
    * integers end-to-end, ties break on neighbor id. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             shortlist: Int = PqShortlist): DataFrame = {
    // the query-table relation feeds TWO differently-pruned broadcast
    // builds (qtab → ADC scan, q6v → refine) whose subtrees are planned
    // separately — land the |queries|-row vector once instead of running
    // the codebook-aggregate chain per consumer (the r16 gate rule:
    // duplicated chains with no shared exchange at the divergence point)
    val qt = Land(pqQueryTables(queries, corpus))
    val scored = pqCodes(corpus)
      .crossJoin(broadcast(qt.select(col("query_id"), col("qtab"))))
      .filter(col("query_id") =!= col("vec_id"))
      // narrow BEFORE the shortlist window: only (query_id, id, adist)
      // may reach the exchange — without this the 1 KB qtab/codes ride
      // along with every candidate row (measured 3× the shuffle bytes)
      .select(col("query_id"), col("vec_id"),
        pqAdcDist(col("qtab"), col("codes")).as("adist"))
    pqRefine(pqShortlist(scored, shortlist), corpus, qt, k)
  }

  /** Per-query ADC shortlist over narrow (query_id, vec_id, adist) rows.
    * The row_number filter compiles to a partial WindowGroupLimit below
    * the exchange, so each scan partition forwards at most `shortlist`
    * rows per query — the exchange is R·|queries|·partitions rows of 24
    * bytes, independent of corpus size. */
  private def pqShortlist(scored: DataFrame, shortlist: Int): DataFrame = {
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    scored.withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= shortlist)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
  }

  /** Query-side PQ structures: per query its micro-unit vector and the
    * PqM × PqK ADC table of exact integer subspace distances to the
    * broadcast codebook. Tiny (|queries| rows), built by projection. */
  private def pqQueryTables(queries: DataFrame, corpus: DataFrame): DataFrame =
    queries.crossJoin(broadcast(pqCodebookRow(corpus)))
      .select(col("vec_id").as("query_id"),
        q6vec(col("embedding")).as("q6v"), col("__pqcb"))
      .select(col("query_id"), col("q6v"),
        transform(sequence(lit(0), lit(PqM - 1)), m =>
          transform(col("__pqcb"), cv => pqSubDist(col("q6v"), cv, m)))
          .as("qtab"))

  /** ADC score of one coded row against one query table: PqM array
    * lookups summed — exact integers, no float path. */
  private def pqAdcDist(qtab: Column, codes: Column): Column =
    (0 until PqM).map(m =>
      element_at(element_at(qtab, m + 1),
        element_at(codes, m + 1) + 1)).reduce(_ + _)

  /** Refine stage shared by [[pqTopK]] and [[ivfPqTopK]]: the
    * (query_id, neighbor_id) shortlist — tiny — joins BACK to the corpus
    * by id to re-read just those vectors, and exact integer L2² re-ranks
    * to top-k. */
  private def pqRefine(short: DataFrame, corpus: DataFrame, qt: DataFrame,
                       k: Int): DataFrame = {
    // the R·|queries| shortlist is the BROADCAST build side; the corpus
    // projection streams through the probe unshuffled. (The previous
    // SHUFFLE_HASH hint on the corpus side exchanged every corpus row's
    // 512-byte micro-unit vector to meet a 1000-row shortlist — measured
    // 59 MiB at a 200k corpus, linear in corpus size; broadcasting the
    // shortlist makes refine's exchange bytes ZERO at any scale.)
    // the id join prunes to the R·|queries| shortlist FIRST; only the
    // surviving rows pay the quantization (q6vec after the join, not a
    // whole-corpus projection below it)
    val exact = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(short), "neighbor_id")
      .join(broadcast(qt.select(col("query_id"), col("q6v"))), "query_id")
      .withColumn("l2d",
        graft.functions.L2Micro(col("q6v"), q6vec(col("embedding"))))
      .drop("embedding")
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("l2d").asc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(wE).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("l2d"))
  }

  /** IVF-PQ (the FAISS IVFADC composition, q137): coarse centroid cells
    * route the search, PQ codes compress the scan — the memory-resident
    * architecture for a corpus whose float vectors exceed aggregate RAM.
    * Index side is ONE fused projection per corpus row (no shuffle, no
    * exchange at any scale): nearest coarse cell by rounded cosine
    * ([[nearestCellStruct]]'s rule, ties to the lower cent_id) AND the
    * PqM 4-bit codes, both against broadcast one-row codebooks. On a
    * cluster the coded index would be WRITTEN partitioned by cell; a
    * query then reads ONLY its nProbe probed cells' code partitions
    * (partition pruning on the storage layout), touching 4 bytes per
    * candidate instead of 256. Query side: nProbe nearest cells
    * ([[probeCells]]) + the ADC table, broadcast; the scan keeps a
    * corpus row iff its cell is probed, scores it by PqM table lookups
    * (exact integers), shortlists per query, and [[pqRefine]] re-ranks
    * the shortlist exactly. With nProbe = nCells every cell is probed
    * and the result is BIT-EQUAL to [[pqTopK]] at the same shortlist
    * (property-tested in LlmOpsSpec) — the cells only prune, never
    * rescore. Recall vs exact is the q66 routing dial × the q106
    * shortlist dial; both published beside their entries. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nCells: Int = IvfCentroids, nProbe: Int = IvfProbes,
                shortlist: Int = PqShortlist): DataFrame =
    ivfPqSearch(ivfPqIndex(corpus, nCells), queries, corpus, k,
      nCells, nProbe, shortlist, pruneStored = false)

  /** The IVF-PQ coded index: (vec_id, cell, codes) — nearest coarse cell
    * AND PqM 4-bit codes in ONE fused projection per corpus row against
    * two broadcast one-row codebooks. Zero exchange of corpus bytes at
    * any scale (measured at 2k/20k/200k — ProfileAnnSf1); (re)indexing
    * is a map-only pass. Write it `partitionBy("cell")` to make probing
    * a partition-pruned read (q138). */
  def ivfPqIndex(corpus: DataFrame, nCells: Int = IvfCentroids): DataFrame =
    ivfPqEncodeBatch(corpus, corpus, nCells)

  /** Incremental coded-index maintenance (q140): encode a NEW vector
    * batch against an EXISTING index's codebooks — the [[ivfPqIndex]]
    * projection with the codebook source decoupled from the rows being
    * coded. Cell choice and PQ codes are pure per-row functions of
    * (vector, codebooks), so for unchanged codebooks the batch's coded
    * rows are BIT-IDENTICAL to what a full rebuild over base ∪ batch
    * would produce for those ids (property-tested in LlmOpsSpec) — they
    * append to a cell-partitioned store verbatim: existing cell
    * directories gain files, nothing is rewritten, and ingest cost is
    * ∝ batch (never the corpus), the q123/q100 registry shape carried
    * to the PQ tier. */
  def ivfPqEncodeBatch(codebookSource: DataFrame, rows: DataFrame,
                       nCells: Int = IvfCentroids): DataFrame = {
    val cb = codebookRow(ivfPqCoarse(codebookSource, nCells))
    val pqCb = pqCodebookRow(codebookSource)
    rows
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"),
        q6vec(col("embedding")).as("v6"))
      .withColumn("vn", VectorOps.norm(col("v")))
      .crossJoin(broadcast(cb))
      .crossJoin(broadcast(pqCb))
      .select(col("vec_id"),
        nearestCell(col("v"), col("vn"), col("__cb")).as("cell"),
        graft.functions.PqEncode(col("v6"), col("__pqcb"), PqM, PqSubDim)
          .as("codes"))
  }

  /** Coarse codebook relation (cent_id, centv, cent_n): the first
    * `nCells` corpus vectors, the q66 deterministic seed. */
  private def ivfPqCoarse(corpus: DataFrame, nCells: Int): DataFrame =
    corpus.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cent_id"),
        transform(col("embedding"), _.cast("double")).as("centv"))
      .withColumn("cent_n", VectorOps.norm(col("centv")))

  /** Search an IVF-PQ coded index (inline or read back from storage).
    * Query side: nProbe nearest cells ([[probeCells]]) + the ADC table,
    * broadcast. One (query_id, cell, qtab) row per probe makes the scan
    * a broadcast EQUI-join on cell — a hash probe per corpus row, not an
    * array_contains NLJ scan — and each corpus row meets exactly the
    * queries probing its cell (a row has ONE cell, so no duplication);
    * the probe relation grows as |queries|·nProbe, never
    * |queries|·|corpus|. With `pruneStored` the probed cell ids (a
    * bounded scalar set, ≤ |queries|·nProbe by construction) are
    * collected and pushed as an `isin` partition filter, so a
    * cell-partitioned stored index reads ONLY the probed cells'
    * directories — probing IS partition pruning, plan-pinned in
    * ScaleSpec. */
  def ivfPqSearch(indexed: DataFrame, queries: DataFrame, corpus: DataFrame,
                  k: Int, nCells: Int = IvfCentroids,
                  nProbe: Int = IvfProbes, shortlist: Int = PqShortlist,
                  pruneStored: Boolean = false): DataFrame = {
    val cb = codebookRow(ivfPqCoarse(corpus, nCells))
    val qprobes = queries
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("vn", VectorOps.norm(col("v")))
      .crossJoin(broadcast(cb))
      .select(col("query_id"),
        probeCells(col("v"), col("vn"), col("__cb"), nProbe).as("probes"))
    // landed once for the same two-consumer reason as [[pqTopK]]
    val qt = Land(pqQueryTables(queries, corpus))
    val qcells = qt.select(col("query_id"), col("qtab"))
      .join(qprobes, "query_id")
      .select(col("query_id"), col("qtab"),
        explode(col("probes")).as("cell"))
    val index2 =
      if (!pruneStored) indexed
      else {
        // bounded scalar collect: |queries|·nProbe cell ids, the static
        // partition filter a cell-partitioned layout prunes on
        val cells = qcells.select(col("cell")).distinct()
          .collect().map(_.getLong(0)).sorted
        indexed.filter(col("cell").isin(cells: _*))
      }
    val scored = index2
      .join(broadcast(qcells), "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        pqAdcDist(col("qtab"), col("codes")).as("adist"))
    pqRefine(pqShortlist(scored, shortlist), corpus, qt, k)
  }

  private def codebookRow(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(struct(
      col("cent_id"), col("centv"), col("cent_n")))).as("__cb"))

  /** Fused argmax over the codebook array: nearest cell by rounded cosine,
    * ties to the LOWER cent_id — exactly the former
    * `max_by(cent_id, struct(sim_c, -cent_id))` rule (strict `>` against a
    * cent_id-ascending array keeps the first, i.e. lowest, id on ties; a
    * NaN similarity wins under Spark's NaN-is-largest ordering, matching
    * max_by). Zero shuffle: one codegen'd projection per corpus row.
    * Returns the (s, id) struct; [[nearestCell]] extracts the id,
    * [[assignBatch]] keeps both. */
  private def nearestCellStruct(v: Column, n: Column, cb: Column): Column =
    aggregate(cb,
      struct(lit(Double.NegativeInfinity).as("s"), lit(-1L).as("id")),
      (acc, e) => {
        val sim = round(
          VectorOps.dot(v, e.getField("centv")) / (n * e.getField("cent_n")), 6)
        when(sim > acc.getField("s"),
          struct(sim.as("s"), e.getField("cent_id").cast("long").as("id")))
          .otherwise(acc)
      })

  private def nearestCell(v: Column, n: Column, cb: Column): Column =
    nearestCellStruct(v, n, cb).getField("id")

  /** Incremental index maintenance (VERDICT r9 §next-3): assign a NEW
    * batch of vectors to an EXISTING codebook without touching the
    * indexed corpus — the crawl-loop shape the dedup side already has
    * (q100's registry): broadcast the codebook, fused-argmax each batch
    * vector ([[nearestCellStruct]]), zero shuffle, cost linear in the
    * batch (never the corpus). The assignment rule is BIT-IDENTICAL to
    * the full-rebuild rule in [[ivfTopKWith]]/[[trainCodebook]] — cell
    * choice is a pure per-row function of (vector, codebook) — so
    * incremental ≡ rebuild for an unchanged codebook (property-tested in
    * LlmOpsSpec) and the incrementally-assigned rows can be appended to
    * the index verbatim. Output: (vec_id, cell, sim_r). */
  def assignBatch(codebook: DataFrame, batch: DataFrame): DataFrame = {
    val cents = codebook.select(col("cent_id"),
      transform(col("centv"), _.cast("double")).as("centv"))
      .withColumn("cent_n", VectorOps.norm(col("centv")))
    val cb = codebookRow(cents)
    batch.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("vn", VectorOps.norm(col("v")))
      .crossJoin(broadcast(cb))
      .withColumn("__a", nearestCellStruct(col("v"), col("vn"), col("__cb")))
      .select(col("vec_id"), col("__a.id").as("cell"),
        col("__a.s").as("sim_r"))
  }

  /** Per-cell drift of a vector set against a codebook: member count and
    * mean residual (1 − cosine-to-centroid), the retrain signal — a cell
    * whose incoming vectors sit far from its centroid (rising residual
    * vs the indexed population's) is stale. Residuals fold through
    * DECIMAL (the Dashboard.dsum rule) so the metric is bit-stable under
    * partitioning and SQL-replayable. One broadcast + one small hash
    * aggregate; the vectors never shuffle. */
  def cellDrift(codebook: DataFrame, vectors: DataFrame): DataFrame =
    assignBatch(codebook, vectors)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(lit(1.0) - col("sim_r"), 6).cast("decimal(28,6)"))
          .cast("double") / count(lit(1)), 6).as("mean_resid"))

  /** The query's `nProbe` nearest cells as a sorted array — same
    * (sim desc, cent_id asc) order the former per-query window produced,
    * but as a projection over the one-row codebook (no window shuffle). */
  private def probeCells(v: Column, n: Column, cb: Column, nProbe: Int): Column = {
    val scored = transform(cb, e => struct(
      round(VectorOps.dot(v, e.getField("centv")) / (n * e.getField("cent_n")), 6).as("s"),
      e.getField("cent_id").cast("long").as("id")))
    val ordered = array_sort(scored, (l, r) =>
      when(l.getField("s") > r.getField("s"), -1)
        .when(l.getField("s") < r.getField("s"), 1)
        .when(l.getField("id") < r.getField("id"), -1)
        .when(l.getField("id") > r.getField("id"), 1)
        .otherwise(0))
    transform(slice(ordered, 1, nProbe), e => e.getField("id"))
  }

  /** Lloyd iterations for the q78 trained codebook — small so the SQL
    * oracle's unrolled CTE chain stays reviewable. */
  val IvfIters = 2

  /** IVF-style ANN: coarse centroid cells instead of hash cells. The
    * centroid set here is the first `nCentroids` corpus vectors — a real
    * deployment trains k-means offline and ships the codebook; the
    * deterministic seed choice keeps the identical plumbing
    * oracle-checkable. Corpus assignment is a broadcast of the (tiny)
    * codebook as ONE array-of-structs row + a fused per-row argmax
    * projection ([[nearestCell]]): the corpus never amplifies and never
    * shuffles — cell choice costs zero exchange bytes at any scale.
    * Queries probe their `nProbe` nearest cells, the IVF
    * recall/latency dial. Ties break on rounded similarity then centroid
    * id, reproducible across engines. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int, nProbe: Int): DataFrame =
    ivfTopKWith(queries, corpus, k,
      corpus.filter(col("vec_id") < nCentroids)
        .select(col("vec_id").as("cent_id"), col("embedding").as("centv")),
      nProbe)

  /** Deterministic Lloyd's refinement of the IVF codebook: start from the
    * first `nCentroids` corpus vectors (the q66 seed), then `iters` rounds
    * of assign-to-nearest-by-cosine + per-cell per-dimension mean. The
    * assignment rule is EXACTLY the query-time rule (cosine argmax, ties
    * to the lower centroid id), so trained cells are the cells queries
    * will probe. Each round is the q68 centroid primitive: broadcast the
    * one-row codebook, fused-argmax each vector to its cell (a projection,
    * no exchange — [[nearestCell]]), posexplode → one (cell, dim) hash
    * aggregate — the corpus never amplifies or shuffles for assignment,
    * and the only iterated state is the
    * codebook itself (landed per round; 16 rows — executor-loss-durable
    * under a Spark checkpoint dir, [[graft.Land]]). Dimension sums run
    * through DECIMAL on round(6) inputs, so centroids are bit-identical
    * across engines and partitionings (the Dashboard.dsum rule) — which is
    * what makes the unrolled-SQL oracle for q78 possible. Cells that lose
    * every member keep their previous centroid. */
  def trainCodebook(corpus: DataFrame, nCentroids: Int, iters: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("nid"),
      transform(col("embedding"), _.cast("double")).as("cv"))
      .withColumn("cn", VectorOps.norm(col("cv")))
      .persist()
    var cents = corpus.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"),
        transform(col("embedding"), _.cast("double")).as("centv"))
    for (_ <- 0 until iters) {
      val cb = codebookRow(cents.withColumn("cent_n", VectorOps.norm(col("centv"))))
      // fused argmax: cell choice is a projection; the round's only
      // aggregate is the (cell, dim) mean below
      val assigned = c.crossJoin(broadcast(cb))
        .withColumn("cell", nearestCell(col("cv"), col("cn"), col("__cb")))
        .select(col("nid"), col("cell"), col("cv"))
      val means = assigned
        .select(col("cell"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(sum(round(col("x"), 6).cast("decimal(28,6)"))
          .cast("double") / count(lit(1)), 6).as("cm"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cm")))),
          _.getField("cm")).as("newv"))
      cents = Land(cents
        .join(means.withColumnRenamed("cell", "cent_id"), Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("newv"), col("centv")).as("centv")))
    }
    // every round is materialized by `mark`, so the trained codebook no
    // longer references the cached corpus projection — release it here
    // rather than leaking one storage block per training call
    c.unpersist(blocking = false)
    cents
  }

  /** IVF search against an explicit codebook (cent_id, centv). */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, k: Int,
                  codebook: DataFrame, nProbe: Int): DataFrame = {
    val cents = codebook.select(col("cent_id"), col("centv"),
      VectorOps.norm(col("centv")).as("cent_n"))
    val cb = codebookRow(cents)
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), VectorOps.norm(col("embedding")).as("cn"))
    // corpus cell assignment is a zero-shuffle projection (see nearestCell)
    val assigned = c.crossJoin(broadcast(cb))
      .withColumn("cell", nearestCell(col("cv"), col("cn"), col("__cb")))
      .select(col("neighbor_id"), col("cell"), col("cv"), col("cn"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), VectorOps.norm(col("embedding")).as("qn"))
    val probes = q.crossJoin(broadcast(cb))
      .withColumn("cell",
        explode(probeCells(col("qv"), col("qn"), col("__cb"), nProbe)))
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim_r",
        round(VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_r").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim_r"))
  }

  /** The Rademacher-hyperplane bucket as SQL over a double-list expr —
    * the SAME hyperplane constants as `VectorOps.signBucket` (same
    * `table * SignBits` offset), inlined as list literals so both engines
    * project identically. */
  private def bucketExprSql(vExpr: String, table: Int = 0): String =
    (0 until SignBits).map { i =>
      val h = VectorOps.hyperplane(table * SignBits + i, EmbeddingDim)
        .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"CASE WHEN list_dot_product($vExpr, $h) >= 0 THEN ${1 << i} ELSE 0 END"
    }.mkString(" + ")

  private val rawVSql = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  /** q132's stored corpus index — the q126Store recipe for vectors:
    * the sign-bucket registry of the first-90% corpus lands once per
    * (JVM, sf dir) as a bucket-keyed bucketed table (external, fresh
    * temp dir: the in-memory catalog dies with the JVM, so a managed
    * spark-warehouse location would orphan and block the next run);
    * the first call per JVM rebuilds unconditionally so regenerated
    * testdata can never serve a stale index. */
  private val q132Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q132Store(s: org.apache.spark.sql.SparkSession, d: String,
                        cutoff: Long): String =
    q132Built.computeIfAbsent(d, _ => {
      val t = s"q132_registry_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val root = Scratch.dir("graft_q132")
      s.sql(s"DROP TABLE IF EXISTS $t")
      graft.sources.TableSink.writeBucketed(
        signBucketRegistry(T.embeddings(s, d)
          .filter(col("vec_id") < cutoff), SignBits),
        t, 32, Seq("bucket"), path = Some(s"$root/$t"))
      t
    })

  /** q138's stored coded index: [[ivfPqIndex]] landed ONCE per
    * (JVM, sf dir) as cell-partitioned parquet (fresh temp dir, same
    * staleness rule as [[q132Store]]). The cell directory layout is the
    * at-scale deployment shape: probing selects directories. */
  private val q138Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q138Store(s: org.apache.spark.sql.SparkSession,
                        d: String): String =
    q138Built.computeIfAbsent(d, _ => {
      val root = Scratch.dir("graft_q138")
      ivfPqIndex(T.embeddings(s, d))
        .write.partitionBy("cell").mode("overwrite")
        .parquet(s"$root/index")
      s"$root/index"
    })

  /** q140's incrementally-maintained stored index: the base 75% of the
    * corpus landed as the q138 cell-partitioned layout, then the last
    * 25% encoded against the BASE's codebooks ([[ivfPqEncodeBatch]] —
    * a zero-exchange projection, cost ∝ batch) and APPENDED: existing
    * cell directories gain files, no base row is rewritten. Because
    * cell/code choice is a pure per-row function of (vector, codebooks)
    * and both codebook seeds (ids < PqK, ids < nCells) lie inside the
    * base, the appended store is row-for-row the full rebuild — which
    * is exactly what the q137-verbatim oracle then checks through the
    * pruned search path. */
  private val q140Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def q140Store(s: org.apache.spark.sql.SparkSession,
                        d: String): String =
    q140Built.computeIfAbsent(d, _ => {
      val root = Scratch.dir("graft_q140")
      val emb = T.embeddings(s, d)
      // bounded scalar: one max() row fixes the deterministic 75% split
      val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
      val split = (maxId + 1) * 3 / 4
      require(split > math.max(PqK, IvfCentroids),
        s"base must contain both codebook seeds, split=$split")
      val base = emb.filter(col("vec_id") < split)
      ivfPqIndex(base)
        .write.partitionBy("cell").mode("overwrite")
        .parquet(s"$root/index")
      ivfPqEncodeBatch(base, emb.filter(col("vec_id") >= split))
        .write.partitionBy("cell").mode("append")
        .parquet(s"$root/index")
      s"$root/index"
    })

  private[operators] def cosSql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  /** q78 oracle: the Lloyd iterations unrolled as CTE chains — one
    * (assign, per-dim decimal mean, fallback-join) block per iteration,
    * then the q66 probe/score/rank against the final codebook. Mirrors
    * `trainCodebook` + `ivfTopKWith` exactly (same tie order, same
    * round(6)→DECIMAL(28,6) mean folding). */
  private def trainedIvfSql(iters: Int): String = {
    val iterCtes = (0 until iters).map { i =>
      s"""
        assign$i AS (
          SELECT vec_id, v, cell FROM (
            SELECT e.vec_id, e.v, c.cent_id AS cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     ${cosSql("e.v", "c.centv")} DESC, c.cent_id ASC) AS rn
            FROM e CROSS JOIN cents$i c) WHERE rn = 1
        ),
        m$i AS (
          SELECT cell, CAST(i AS INT) AS pos,
                 round(CAST(sum(CAST(round(v[i], 6) AS DECIMAL(28,6))) AS DOUBLE)
                       / count(*), 6) AS cm
          FROM assign$i, range(1, ${EmbeddingDim + 1}) t(i)
          GROUP BY cell, i
        ),
        mm$i AS (SELECT cell, list(cm ORDER BY pos) AS newv FROM m$i GROUP BY cell),
        cents${i + 1} AS (
          SELECT c.cent_id, coalesce(m.newv, c.centv) AS centv
          FROM cents$i c LEFT JOIN mm$i m ON c.cent_id = m.cell
        )"""
    }.mkString(",")
    s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),
      cents0 AS (
        SELECT vec_id AS cent_id, v AS centv FROM e WHERE vec_id < $IvfCentroids
      ),
      $iterCtes,
      corpus_scored AS (
        SELECT e.vec_id AS neighbor_id, e.v AS cv, c.cent_id,
               ${cosSql("e.v", "c.centv")} AS sim_c
        FROM e CROSS JOIN cents$iters c
      ),
      assigned AS (
        SELECT neighbor_id, cv, cent_id AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY neighbor_id
            ORDER BY sim_c DESC, cent_id ASC) AS rn
          FROM corpus_scored) WHERE rn = 1
      ),
      q_scored AS (
        SELECT e.vec_id AS query_id, e.v AS qv, c.cent_id,
               ${cosSql("e.v", "c.centv")} AS sim_c
        FROM e CROSS JOIN cents$iters c
        WHERE e.vec_id < $NQueries
      ),
      probes AS (
        SELECT query_id, qv, cent_id AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY sim_c DESC, cent_id ASC) AS rn
          FROM q_scored) WHERE rn <= $IvfProbes
      ),
      scored AS (
        SELECT p.query_id, a.neighbor_id, ${cosSql("p.qv", "a.cv")} AS sim_r
        FROM probes p JOIN assigned a ON p.cell = a.cell
        WHERE p.query_id <> a.neighbor_id
      ),
      ranked AS (
        SELECT query_id, neighbor_id, sim_r,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY sim_r DESC, neighbor_id ASC) AS INT) AS rank
        FROM scored
      )
      SELECT query_id, rank, neighbor_id, sim_r
      FROM ranked WHERE rank <= $K
    """.stripMargin
  }

  private def sqlTopK(bucketJoin: Boolean): String = {
    // the bucket join mirrors the OR-amplified L-table probe: a pair is a
    // candidate when ANY table's cells are within hamming 1 — the single
    // OR-join emits each candidate pair once, matching the Spark side's
    // per-pair dedup
    val tableCols =
      if (!bucketJoin) "" // q58 brute force carries no bucket columns
      else (0 until SignTables)
        .map(t => s",\n               ${bucketExprSql(rawVSql, t)} AS b$t").mkString
    val joinCond =
      if (bucketJoin)
        (0 until SignTables).map(t => s"bit_count(xor(q.b$t, c.b$t)) <= 1")
          .mkString("(", " OR ", ")") + " AND q.query_id <> c.neighbor_id"
      else "q.query_id <> c.neighbor_id"
    s"""
      WITH q AS (
        SELECT vec_id AS query_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv$tableCols
        FROM embeddings WHERE vec_id < $NQueries
      ), c AS (
        SELECT vec_id AS neighbor_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv$tableCols
        FROM embeddings
      ), scored AS (
        SELECT query_id, neighbor_id,
               round(list_dot_product(qv, cv) /
                 (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim_r
        FROM q JOIN c ON $joinCond
      ), ranked AS (
        SELECT query_id, neighbor_id, sim_r,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY sim_r DESC, neighbor_id ASC) AS INT) AS rank
        FROM scored
      )
      SELECT query_id, rank, neighbor_id, sim_r
      FROM ranked WHERE rank <= $K
    """.stripMargin
  }

  /** The q137/q138 shared oracle: the q66 routing CTEs composed with
    * the q106 ADC/refine CTEs via the probe restriction. q138 reuses it
    * verbatim — a stored cell-partitioned layout must be
    * result-invariant. */
  private def ivfPqSql: String = s"""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
          FROM embeddings
        ),
        cents AS (
          SELECT vec_id AS cent_id, ev AS centv FROM e WHERE vec_id < $IvfCentroids
        ),
        corpus_scored AS (
          SELECT e.vec_id AS neighbor_id, c.cent_id,
                 round(list_dot_product(e.ev, c.centv) /
                   (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(c.centv, c.centv))), 6) AS sim_c
          FROM e CROSS JOIN cents c
        ),
        assigned AS (
          SELECT neighbor_id, cent_id AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY neighbor_id
              ORDER BY sim_c DESC, cent_id ASC) AS rn
            FROM corpus_scored) WHERE rn = 1
        ),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT neighbor_id AS query_id, cent_id AS cell,
                   row_number() OVER (PARTITION BY neighbor_id
                     ORDER BY sim_c DESC, cent_id ASC) AS rn
            FROM corpus_scored WHERE neighbor_id < $NQueries)
          WHERE rn <= $IvfProbes
        ),
        v AS (
          SELECT vec_id, CAST((i - 1) // $PqSubDim AS INT) AS m,
                 (i - 1) % $PqSubDim AS p, i - 1 AS pos,
                 CAST(round(round(CAST(embedding[i] AS DOUBLE), 6)
                            * 1000000.0, 0) AS BIGINT) AS x6
          FROM embeddings, range(1, ${EmbeddingDim + 1}) t(i)
        ), cent AS (
          SELECT m, vec_id AS j, p, x6 AS c6 FROM v WHERE vec_id < $PqK
        ), dist AS (
          SELECT s.vec_id, s.m, c.j,
                 sum((s.x6 - c.c6) * (s.x6 - c.c6)) AS d
          FROM v s JOIN cent c ON s.m = c.m AND s.p = c.p
          GROUP BY s.vec_id, s.m, c.j
        ), code AS (
          SELECT vec_id, m, j AS code FROM (
            SELECT vec_id, m, j,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d ASC, j ASC) AS rk
            FROM dist) WHERE rk = 1
        ), short AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adist ASC, neighbor_id ASC)
                     AS ark
            FROM (
              SELECT d.vec_id AS query_id, c.vec_id AS neighbor_id,
                     sum(d.d) AS adist
              FROM code c
              JOIN dist d ON d.m = c.m AND d.j = c.code
              JOIN assigned a ON a.neighbor_id = c.vec_id
              JOIN probes p ON p.query_id = d.vec_id AND p.cell = a.cell
              WHERE d.vec_id < $NQueries AND c.vec_id <> d.vec_id
              GROUP BY 1, 2))
          WHERE ark <= $PqShortlist
        ), refined AS (
          SELECT s.query_id, s.neighbor_id,
                 CAST(sum((q.x6 - n.x6) * (q.x6 - n.x6)) AS BIGINT) AS l2d
          FROM short s
          JOIN v q ON q.vec_id = s.query_id
          JOIN v n ON n.vec_id = s.neighbor_id AND n.pos = q.pos
          GROUP BY 1, 2
        )
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, l2d
        FROM (
          SELECT query_id, neighbor_id, l2d,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY l2d ASC, neighbor_id ASC)
                   AS rank
          FROM refined)
        WHERE rank <= $K
      """.stripMargin

  def queries: Map[String, Q] = Map(
    "q58_cosine_topk" -> Q(
      (s, d) => {
        val emb = T.embeddings(s, d)
        bruteForceTopK(emb.filter(col("vec_id") < NQueries), emb, K)
      },
      Some(sqlTopK(bucketJoin = false)),
      doc = "brute-force cosine top-k (exact ANN baseline)"),

    "q59_ann_sign_lsh" -> Q(
      (s, d) => {
        val emb = T.embeddings(s, d)
        annTopK(emb.filter(col("vec_id") < NQueries), emb, K, SignBits)
      },
      Some(sqlTopK(bucketJoin = true)),
      doc = "sign-LSH ANN top-k, 256 cells + hamming-1 multi-probe"),

    "q66_ann_ivf" -> Q(
      (s, d) => {
        val emb = T.embeddings(s, d)
        ivfTopK(emb.filter(col("vec_id") < NQueries), emb, K,
          IvfCentroids, IvfProbes)
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        cents AS (
          SELECT vec_id AS cent_id, v AS centv FROM e WHERE vec_id < $IvfCentroids
        ),
        corpus_scored AS (
          SELECT e.vec_id AS neighbor_id, e.v AS cv, c.cent_id,
                 round(list_dot_product(e.v, c.centv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centv, c.centv))), 6) AS sim_c
          FROM e CROSS JOIN cents c
        ),
        assigned AS (
          SELECT neighbor_id, cv, cent_id AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY neighbor_id
              ORDER BY sim_c DESC, cent_id ASC) AS rn
            FROM corpus_scored) WHERE rn = 1
        ),
        q_scored AS (
          SELECT e.vec_id AS query_id, e.v AS qv, c.cent_id,
                 round(list_dot_product(e.v, c.centv) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.centv, c.centv))), 6) AS sim_c
          FROM e CROSS JOIN cents c
          WHERE e.vec_id < $NQueries
        ),
        probes AS (
          SELECT query_id, qv, cent_id AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY sim_c DESC, cent_id ASC) AS rn
            FROM q_scored) WHERE rn <= $IvfProbes
        ),
        scored AS (
          SELECT p.query_id, a.neighbor_id,
                 round(list_dot_product(p.qv, a.cv) /
                   (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.cv, a.cv))), 6) AS sim_r
          FROM probes p JOIN assigned a ON p.cell = a.cell
          WHERE p.query_id <> a.neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, sim_r,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim_r DESC, neighbor_id ASC) AS INT) AS rank
          FROM scored
        )
        SELECT query_id, rank, neighbor_id, sim_r
        FROM ranked WHERE rank <= $K
      """.stripMargin),
      doc = "IVF ANN: 16 deterministic centroid cells, 4-probe (scale dial)"),

    // ---- IVF with a TRAINED codebook (the k-means step q66 stubs) ----
    "q78_ann_ivf_trained" -> Q(
      (s, d) => {
        val emb = T.embeddings(s, d)
        ivfTopKWith(emb.filter(col("vec_id") < NQueries), emb, K,
          trainCodebook(emb, IvfCentroids, IvfIters), IvfProbes)
      },
      Some(trainedIvfSql(IvfIters)),
      doc = "IVF ANN with Lloyd-trained codebook (2 deterministic iterations)"),

    // ---- incremental index maintenance: assign a new batch to the
    // EXISTING codebook (broadcast + argmax projection, zero shuffle,
    // cost ∝ batch) and report per-cell drift — the retrain signal.
    // Batch = odd vec_ids (a deterministic "today's crawl"); codebook =
    // the q66 seed cells. ----
    "q123_ann_assign_incremental" -> Q(
      (s, d) => {
        val emb = T.embeddings(s, d)
        val cb = emb.filter(col("vec_id") < IvfCentroids)
          .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
        val batch = emb.filter(col("vec_id") % 2 === 1)
        assignBatch(cb, batch)
          .join(cellDrift(cb, batch), Seq("cell"))
          .select(col("vec_id"), col("cell"), col("sim_r"),
            col("n").as("cell_n"), col("mean_resid").as("cell_mean_resid"))
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        cents AS (
          SELECT vec_id AS cent_id, v AS centv FROM e WHERE vec_id < $IvfCentroids
        ),
        batch AS (SELECT * FROM e WHERE vec_id % 2 = 1),
        scored AS (
          SELECT b.vec_id, c.cent_id, ${cosSql("b.v", "c.centv")} AS sim
          FROM batch b CROSS JOIN cents c
        ),
        assigned AS (
          SELECT vec_id, cent_id AS cell, sim AS sim_r FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY sim DESC, cent_id ASC) AS rn
            FROM scored) WHERE rn = 1
        ),
        drift AS (
          SELECT cell, count(*) AS cell_n,
                 round(CAST(sum(CAST(round(1.0 - sim_r, 6) AS DECIMAL(28,6)))
                       AS DOUBLE) / count(*), 6) AS cell_mean_resid
          FROM assigned GROUP BY cell
        )
        SELECT a.vec_id, a.cell, a.sim_r, d.cell_n, d.cell_mean_resid
        FROM assigned a JOIN drift d USING (cell)
      """.stripMargin),
      doc = "incremental ANN maintenance: batch->codebook assignment + per-cell drift (zero corpus shuffle)"),

    // ---- incremental embedding near-dup: the crawl-ingest form of q61
    // (the vector-space q126). Corpus = the first 70% of vec_ids, landed
    // once per JVM as a bucket-keyed sign-bucket registry; batch = the
    // id SUFFIX (the ascending-ingest contract), so "pairs whose larger
    // endpoint is in the batch" is exactly "pairs with >=1 batch
    // endpoint" and the oracle is the full q61 replay restricted by
    // b_id >= cutoff. ----
    "q132_embedding_neardup_incremental" -> Q(
      (s, d) => {
        val emb = T.embeddings(s, d)
        val cutoff = (emb.agg(max(col("vec_id"))).head.getLong(0) + 1) * 7 / 10
        embeddingNearDupsIncremental(s.table(q132Store(s, d, cutoff)),
          emb.filter(col("vec_id") >= cutoff), SignBits, minSim = 0.4)
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 ${bucketExprSql(rawVSql)} AS bucket
          FROM embeddings
        ),
        m AS (SELECT (max(vec_id) + 1) * 7 // 10 AS cutoff FROM embeddings)
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim_r
        FROM e a JOIN e b
          ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id < b.vec_id
        WHERE b.vec_id >= (SELECT cutoff FROM m)
          AND round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
      """.stripMargin),
      doc = "incremental embedding near-dup: suffix crawl batch vs stored sign-bucket registry"),

    // ---- embedding-cosine near-dup pairs (dedup family, vector flavor) ----
    "q61_embedding_neardup" -> Q(
      (s, d) => embeddingNearDups(T.embeddings(s, d), SignBits, minSim = 0.4),
      Some(s"""
        WITH e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 ${bucketExprSql(rawVSql)} AS bucket
          FROM embeddings
        )
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim_r
        FROM e a JOIN e b
          ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
      """.stripMargin),
      doc = "embedding-cosine near-dup pairs, hamming-1 multi-probe cells"),

    // ---- SemDeDup-shaped SEMANTIC dedup: the corpus-rewrite view of
    // q61's pairs (SemDeDup, public 2023 literature: embedding-space
    // near-dup groups, keep one representative). Pairs come from the
    // bucketed cosine join; groups are connected components via the same
    // contraction engine as q62/q79 (Dedup.componentsFromEdges); the
    // keeper is the component minimum. Output: every vector with its
    // semantic-cluster id and keep/drop verdict. The oracle replays the
    // pair join and closes it with a recursive transitive-closure CTE —
    // exact because components are tiny (near-clique duplicate groups),
    // while the engine side stays the geometric-contraction form that
    // scales to corpus-sized graphs. ----
    "q104_semantic_dedup" -> Q(
      (s, d) => {
        val emb = T.embeddings(s, d)
        Dedup.componentsFromEdges(emb.select(col("vec_id").as("doc_id")),
            embeddingNearDups(emb, SignBits, minSim = 0.4))
          .select(col("doc_id").as("vec_id"), col("cluster_id"),
            (col("doc_id") === col("cluster_id")).as("kept"))
      },
      Some(s"""
        WITH RECURSIVE e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 ${bucketExprSql(rawVSql)} AS bucket
          FROM embeddings
        ),
        p AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id
          FROM e a JOIN e b
            ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id < b.vec_id
          WHERE round(list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
        ),
        edges AS (
          SELECT a_id AS s, b_id AS d FROM p
          UNION
          SELECT b_id, a_id FROM p
        ),
        reach(s, d) AS (
          SELECT s, d FROM edges
          UNION
          SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s
        ),
        lbl AS (
          SELECT s AS vec_id, least(s, min(d)) AS cluster_id
          FROM reach GROUP BY s
        )
        SELECT emb.vec_id,
               coalesce(l.cluster_id, emb.vec_id) AS cluster_id,
               emb.vec_id = coalesce(l.cluster_id, emb.vec_id) AS kept
        FROM embeddings emb LEFT JOIN lbl l USING (vec_id)
      """.stripMargin),
      doc = "semantic dedup: embedding near-dup components, keep cluster minimum"),

    // ---- per-label centroids (the IVF codebook-training primitive) ----
    // posexplode → one hash aggregate on (label, pos): the 100 TB shape is
    // a map-side partial sum per dimension, one shuffle of |labels|·dim
    // partial rows — the corpus never concentrates. Sums run through
    // DECIMAL on round(6) doubles so accumulation order (Spark partitions
    // vs DuckDB sequential) cannot drift the hash (see Dashboard.dsum).
    "q68_label_centroid" -> Q(
      (s, d) => {
        import s.implicits._
        T.embeddings(s, d)
          .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
          .groupBy($"label", $"pos")
          .agg(round(
            sum(round($"v".cast("double"), 6).cast("decimal(28,6)"))
              .cast("double") / count(lit(1)), 6).as("centroid"))
      },
      Some(s"""
        SELECT label, CAST(i - 1 AS INT) AS pos,
               round(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE), 6)
                                   AS DECIMAL(28,6))) AS DOUBLE)
                     / count(*), 6) AS centroid
        FROM embeddings, range(1, ${EmbeddingDim + 1}) t(i)
        GROUP BY label, i
      """.stripMargin),
      doc = "per-label embedding centroids (decimal-stable dimension sums)"),

    // ---- int8 scalar quantization (the vector-index compression step) ----
    // pure projection — embarrassingly parallel; fixed scale 400 with a
    // [-127, 127] clamp (corpus values are ~[-0.6, 0.6], so real
    // saturation occurs and is counted). Reconstruction error folds
    // per-element left-to-right through DECIMAL so the per-row sum is
    // engine-order-independent; reported as ppm to survive the driver's
    // round(4) float normalization.
    "q69_quantize_int8" -> Q(
      (s, d) => {
        import s.implicits._
        val scale = 400
        def qz(v: Column) =
          greatest(lit(-127), least(lit(127),
            round(v.cast("double") * scale, 0).cast("int")))
        val err = (v: Column) =>
          pow(v.cast("double") - qz(v).cast("double") / scale, 2)
        T.embeddings(s, d).select(
          $"vec_id",
          aggregate(transform($"embedding", v => abs(qz(v)).cast("long")),
            lit(0L), (acc, x) => acc + x).as("l1_q"),
          size(filter($"embedding",
            v => abs(round(v.cast("double") * scale, 0)) > 127)).as("n_sat"),
          round(aggregate(
            transform($"embedding", v => round(err(v), 12).cast("decimal(28,12)")),
            lit(0).cast("decimal(28,12)"),
            (acc, x) => (acc + x).cast("decimal(28,12)"))
            .cast("double") / size($"embedding") * 1e6, 4).as("mse_ppm"))
      },
      Some("""
        SELECT vec_id,
               CAST(list_sum(list_transform(embedding, v ->
                 abs(greatest(-127, least(127,
                   CAST(round(CAST(v AS DOUBLE) * 400, 0) AS INT)))))) AS BIGINT) AS l1_q,
               len(list_filter(embedding, v ->
                 abs(round(CAST(v AS DOUBLE) * 400, 0)) > 127)) AS n_sat,
               round(CAST(list_sum(list_transform(embedding, v ->
                 CAST(round(pow(CAST(v AS DOUBLE)
                   - greatest(-127, least(127,
                       CAST(round(CAST(v AS DOUBLE) * 400, 0) AS INT))) / 400.0, 2), 12)
                      AS DECIMAL(28,12)))) AS DOUBLE) / len(embedding) * 1e6, 4) AS mse_ppm
        FROM embeddings
      """.stripMargin),
      doc = "int8 scalar quantization: L1 mass, saturation count, MSE ppm"),

    // ---- product quantization ANN (the 100 TB vector-search tier) ----
    // 64× compression (4-byte codes vs 256-byte float32): ADC table-
    // lookup shortlist over the codes, exact re-rank of the shortlist.
    // Exact-integer micro-unit domain end-to-end, so codes, shortlists
    // AND distances hash-match the relational DuckDB oracle with no
    // float rules. Recall vs the exact q58 baseline is property-tested
    // in LlmOpsSpec.
    "q106_ann_pq" -> Q(
      (s, d) => {
        val emb = T.embeddings(s, d)
        pqTopK(emb.filter(col("vec_id") < NQueries), emb, K)
      },
      Some(s"""
        WITH v AS (
          SELECT vec_id, CAST((i - 1) // $PqSubDim AS INT) AS m,
                 (i - 1) % $PqSubDim AS p, i - 1 AS pos,
                 CAST(round(round(CAST(embedding[i] AS DOUBLE), 6)
                            * 1000000.0, 0) AS BIGINT) AS x6
          FROM embeddings, range(1, ${EmbeddingDim + 1}) t(i)
        ), cent AS (
          SELECT m, vec_id AS j, p, x6 AS c6 FROM v WHERE vec_id < $PqK
        ), dist AS (
          SELECT s.vec_id, s.m, c.j,
                 sum((s.x6 - c.c6) * (s.x6 - c.c6)) AS d
          FROM v s JOIN cent c ON s.m = c.m AND s.p = c.p
          GROUP BY s.vec_id, s.m, c.j
        ), code AS (
          SELECT vec_id, m, j AS code FROM (
            SELECT vec_id, m, j,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d ASC, j ASC) AS rk
            FROM dist) WHERE rk = 1
        ), short AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adist ASC, neighbor_id ASC)
                     AS ark
            FROM (
              SELECT d.vec_id AS query_id, c.vec_id AS neighbor_id,
                     sum(d.d) AS adist
              FROM code c JOIN dist d ON d.m = c.m AND d.j = c.code
              WHERE d.vec_id < $NQueries AND c.vec_id <> d.vec_id
              GROUP BY 1, 2))
          WHERE ark <= $PqShortlist
        ), refined AS (
          SELECT s.query_id, s.neighbor_id,
                 CAST(sum((q.x6 - n.x6) * (q.x6 - n.x6)) AS BIGINT) AS l2d
          FROM short s
          JOIN v q ON q.vec_id = s.query_id
          JOIN v n ON n.vec_id = s.neighbor_id AND n.pos = q.pos
          GROUP BY 1, 2
        )
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, l2d
        FROM (
          SELECT query_id, neighbor_id, l2d,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY l2d ASC, neighbor_id ASC)
                   AS rank
          FROM refined)
        WHERE rank <= $K
      """.stripMargin),
      doc = "product-quantization ANN: 4-bit codes, ADC shortlist, exact re-rank"),

    // ---- IVF-PQ (r12): the q66 coarse-cell routing composed IN FRONT
    // of the q106 ADC scan — candidates are only the probed cells'
    // members, scored through their 4-byte codes, then exact-re-ranked.
    // The oracle is the union of the two entries' CTE chains with the
    // probe restriction joined into the shortlist aggregate; everything
    // downstream of the rounded-cosine routing is exact integer
    // arithmetic, so the composition is hash-comparable end-to-end. ----
    "q137_ann_ivfpq" -> Q(
      (s, d) => {
        val emb = T.embeddings(s, d)
        ivfPqTopK(emb.filter(col("vec_id") < NQueries), emb, K,
          IvfCentroids, IvfProbes)
      },
      Some(ivfPqSql),
      doc = "IVF-PQ ANN (IVFADC): coarse cells route, 4-bit codes score, exact re-rank"),

    // ---- Stored IVF-PQ index (r12): q137 split into its deployment
    // halves — the coded index LANDS as cell-partitioned parquet (once
    // per JVM/sf-dir, the q132Store recipe), and search reads ONLY the
    // probed cells' directories (the bounded probe set pushed as a
    // static partition filter; PartitionFilters plan-pinned in
    // ScaleSpec). Results are layout-invariant: the oracle is q137's
    // verbatim. ----
    "q138_ann_ivfpq_stored" -> Q(
      (s, d) => {
        val emb = T.embeddings(s, d)
        ivfPqSearch(s.read.parquet(q138Store(s, d))
            .withColumn("cell", col("cell").cast("long")),
          emb.filter(col("vec_id") < NQueries), emb, K,
          pruneStored = true)
      },
      Some(ivfPqSql),
      doc = "stored IVF-PQ: cell-partitioned coded index on disk; probing = partition pruning"),

    // ---- Incremental IVF-PQ index maintenance (r12): the q138 store
    // grown the way a crawl loop grows it — base 75% landed once, the
    // new 25% encoded against the BASE's codebooks (ivfPqEncodeBatch:
    // zero-exchange projection, cost ∝ batch) and APPENDED to the
    // cell-partitioned layout; no base row rewritten. Codes are pure
    // per-row functions of (vector, codebooks), so append ≡ rebuild —
    // the oracle is q137's verbatim, checked through the same
    // partition-pruned search. ----
    "q140_ann_ivfpq_append" -> Q(
      (s, d) => {
        val emb = T.embeddings(s, d)
        ivfPqSearch(s.read.parquet(q140Store(s, d))
            .withColumn("cell", col("cell").cast("long")),
          emb.filter(col("vec_id") < NQueries), emb, K,
          pruneStored = true)
      },
      Some(ivfPqSql),
      doc = "incremental IVF-PQ maintenance: batch coded against stored codebooks, appended to cell dirs; append == rebuild")
  )
}
