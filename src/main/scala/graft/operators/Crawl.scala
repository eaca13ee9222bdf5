package graft.operators

import graft.functions.{NGramHash64, TextOps}
import graft.warehouse.Summary
import graft.{Land, Q, QueryPack, Scratch, Tables => T}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType,
  LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The continuous-crawl ingest loop COMPOSED (VERDICT r10 §next-3): the
  * incremental pieces that each ship alone — exact-dup knockout against
  * a hash registry (q100's shape), near-dup knockout against the
  * MinHash band registry (q126), incremental cluster-id maintenance
  * (q135's contraction algebra, store-backed since round 12), ANN
  * codebook assignment (q123), and materialized-summary maintenance
  * (q127) — driven together per micro-batch, with the
  * registry-compaction lifecycle (r9 §8) landing the stores bucketed
  * every k batches.
  *
  * The CLUSTER view labels every SEEN doc with its near-dup component's
  * minimum id under the loop's pair relation (verified LSH pairs, the
  * q56 relation): because each batch emits exactly the full pair set's
  * ≥1-batch-endpoint restriction, the union over an ascending drive is
  * the full pair set, and per-batch contraction of the affected-roots
  * graph (q135's exactness argument) makes the final mapping EQUAL to a
  * full-corpus q56+CC recompute — the closed form the q130 oracle
  * replays with a recursive CTE. The store is append-only MIN-FOLD:
  * cluster ids only decrease, so current state = min per doc, appends
  * are batch-sized deltas, and compaction squashes history.
  *
  * Per-batch semantics (the drop rule the q130 oracle replays): a batch
  * document is DROPPED iff
  *  - its full text equals any earlier-seen document's (128-bit hash
  *    registry; batch-internal keeper = min doc_id), or
  *  - it forms a verified LSH near-dup pair (the q56 relation: shared
  *    band bucket ∧ Jaccard ≥ τ) with ANY earlier-seen document.
  * "Earlier-seen" means seen, not kept: dropped documents' hashes and
  * band signatures stay in the registries (16 B + ~100 B per doc), so a
  * re-crawl of a dropped page is caught too and the final kept set has
  * the closed form `no exact/near match to any smaller doc_id` — one
  * pass in SQL, no sequential recursion. The ingest contract is the
  * crawl loop's usual one (StreamingSpec r10): doc ids ascend across
  * batches, so "earlier-seen" ≡ "smaller id".
  *
  * Survivors are assigned to the (fixed, broadcast) ANN codebook and
  * the per-lang (count, chars) summary is maintained FROM THE BATCH
  * ALONE ([[Summary.maintain]] — the base corpus is never rescanned).
  *
  * 100 TB shape per batch: every shuffle is batch-proportional (band
  * semi-join moves only touched buckets, verify joins move only
  * candidates, assignment is a broadcast projection, summary delta is
  * |batch| + |groups|); the registries are scanned but never reshuffled
  * (the compacted stores land bucketed — StreamingSpec pins the
  * no-exchange knockout plan after compaction).
  *
  * DURABILITY (VERDICT r11 §next-1 + advisor): state handoff between
  * batches is durable storage, not executor OR driver memory. Every
  * store write is keyed by the micro-batch id (per-batch OVERWRITE
  * dirs, so Structured Streaming's at-least-once `foreachBatch` replay
  * is idempotent), and each ingest commits a tiny text MANIFEST under
  * `root` recording the loop's whole lifecycle (next batch id, each
  * store's epoch / base table / committed batch list, the summary
  * version). The manifest is the COMMIT RECORD: a batch whose data
  * dirs landed but whose manifest didn't is not part of the state, and
  * re-ingesting it overwrites those dirs in place. [[Loop.resume]]
  * reconstructs a loop from `root` alone — a driver restart re-attaches
  * mid-stream (StreamingSpec kill-and-resume property: resumed final
  * state ≡ the uninterrupted drive's). All path probing goes through
  * the Hadoop [[FileSystem]] API, so `root` may be HDFS/S3, not just a
  * local directory (the advisor's `java.io.File` portability defect).
  * Compacted registry tables are epoch-versioned (`<tag>_seen_e<k>`) so
  * a crash between table rewrite and manifest commit can never make an
  * old manifest read a new table; resume re-registers a missing
  * catalog entry from the manifest's recorded path/bucketing DDL, so
  * the no-exchange bucketed layout survives a metastore-less restart.
  */
object Crawl extends QueryPack {

  /** Crawl state as DataFrames; see [[drive]] for the durable handoff. */
  final case class State(
      seen: DataFrame,     // (h_lo, h_hi) of every SEEN doc
      bands: DataFrame,    // minhash band registry of every seen doc
      sets: DataFrame,     // (doc_id, wset) word-hash sets of every seen doc
      kept: DataFrame,     // kept manifest: (doc_id, lang, n_chars)
      summary: DataFrame,  // maintained per-lang summary (grp, n, __t, total)
      assigned: DataFrame, // (vec_id, cell, sim_r) of kept docs
      // REQUIRED, not defaulted (advisor r12): a null field NPEs only
      // when consumed, far from the construction site
      clusters: DataFrame)  // (doc_id, cluster_id) of every SEEN doc

  /** 128-bit whole-document content hash — the exact-dup registry key
    * (the q98/q99 block-hash scheme applied at document granularity). */
  def docHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      xxhash64(coalesce(col("text"), lit(""))).as("h_lo"),
      xxhash64(lit("graft-q130-hi"), coalesce(col("text"), lit(""))).as("h_hi"))

  private def wordSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      NGramHash64.ngramHashes(TextOps.words(col("text")), 1).as("wset"))

  /** The batch's verified near-dup pairs vs everything seen — the
    * loop's one expensive plan (LSH verify). The candidate batch is ALL
    * batch docs, not just exact survivors: an exact-dropped batch doc
    * can still be the SMALLER endpoint of a same-batch near pair, and
    * its registry twin cannot stand in for it when the twin's lang
    * differs (near-dup pairs are lang-scoped, exact dedup is not —
    * measured at sf0.1: doc 1641, text-identical to an earlier doc of
    * another lang, had to witness the (1641, 1673) pair itself). Its
    * bands only reach the registry at the NEXT batch, so it must
    * participate here. Union over an ascending drive = EXACTLY the full
    * [[Dedup.minhashCandidates]] pair set, each pair emitted at its
    * larger endpoint's batch (the q126 restriction property, summed) —
    * which is what makes both the kept set AND the cluster mapping
    * closed-form oracled. */
  def nearPairs(state: State, batch: DataFrame,
                verifyThreshold: Double): DataFrame =
    Dedup.minhashCandidatesIncremental(
      state.bands, state.sets.unionByName(wordSets(batch)),
      batch, verifyThreshold)

  /** The batch DEDUP verdict — exact then near knockout. Pure plan
    * construction: the caller materializes it exactly once (to its
    * store) and derives assignment/summary from the stored slice, not
    * from this plan. The loop itself lands [[nearPairs]] first and
    * passes the stored slice as `pairs` so the LSH verify also feeds
    * cluster maintenance without re-running. */
  def dedupBatch(state: State, batch: DataFrame, verifyThreshold: Double,
                 pairs: Option[DataFrame] = None): DataFrame = {
    // 1. exact knockout: registry hit, then batch-internal min-id keeper
    val h = docHashes(batch)
    val survivorIds = h
      .join(state.seen, Seq("h_lo", "h_hi"), "left_anti")
      .groupBy(col("h_lo"), col("h_hi"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exactSurvivors = batch.join(survivorIds, Seq("doc_id"))
    // 2. near knockout: ascending ingest makes the larger endpoint the
    //    batch member, so pairs.b_id is the drop set.
    val p = pairs.getOrElse(nearPairs(state, batch, verifyThreshold))
    exactSurvivors.join(
      p.select(col("b_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** Current roots of `endpoints` under the raw min-fold cluster store:
    * probe the store with the BROADCAST endpoint set (inner + broadcast
    * ⇒ the corpus-sized store is streamed-scanned, never exchanged — a
    * left join the other way around would build on the corpus side and
    * shuffle it every batch), min-fold the endpoint-sized hit set, and
    * default unseen endpoints to their own id (a doc's labels never
    * exceed its id, so the coalesce order is exact). StreamingSpec pins
    * the no-store-exchange plan shape. */
  def endpointRoots(rawClusters: DataFrame, endpoints: DataFrame): DataFrame = {
    val epHits = rawClusters.join(broadcast(endpoints), Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(min(col("cluster_id")).as("c"))
    endpoints.join(epHits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("c"), col("doc_id")).as("root"))
  }

  /** The batch's cluster-store DELTA under the min-fold contract
    * (q135's algebra, store-backed): translate the batch's verified
    * pairs to CURRENT roots ([[endpointRoots]] — an endpoint-sized
    * broadcast probe of the raw store), contract the affected-roots
    * mini-graph with the shared CC engine, and emit batch-proportional
    * rows only: one per batch doc + one relabel delta per member of a
    * merged cluster. The corpus-sized store is scanned (broadcast-
    * probed), never exchanged; stale history rows are harmless because
    * a superseded root can never become current again (roots only
    * decrease), so they match no current-root filter and the min-fold
    * ignores them. Intermediates are eager landings ([[graft.Land]]) — the
    * caller must release the RDDs it created after the delta lands
    * (the flat-RDD-profile contract; [[Loop.ingest]] does). */
  def clusterDelta(rawClusters: DataFrame, batchIds: DataFrame,
                   pairs: DataFrame): DataFrame = {
    val endpoints = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id"))).distinct()
    val epRoot = Land(endpointRoots(rawClusters, endpoints))
    val rootEdges = pairs
      .join(broadcast(epRoot.select(col("doc_id").as("a_id"),
        col("root").as("a_root"))), Seq("a_id"))
      .join(broadcast(epRoot.select(col("doc_id").as("b_id"),
        col("root").as("b_root"))), Seq("b_id"))
      .select(col("a_root").as("a_id"), col("b_root").as("b_id"))
      .filter(col("a_id") =!= col("b_id")).distinct()
    val mini = Dedup.componentsFromEdges(
      epRoot.select(col("root").as("doc_id")).distinct(), rootEdges)
    val relabel = Land(mini.filter(col("cluster_id") < col("doc_id"))
      .select(col("doc_id").as("old_root"), col("cluster_id").as("new_root")))
    val affected = rawClusters
      .join(broadcast(relabel),
        col("cluster_id") === col("old_root"))
      .select(col("doc_id"), col("new_root").as("cluster_id"))
      .distinct()
    val batchRows = batchIds
      .join(broadcast(epRoot), Seq("doc_id"), "left")
      .join(broadcast(relabel), col("root") === col("old_root"), "left")
      .select(col("doc_id"),
        coalesce(col("new_root"), col("root"), col("doc_id"))
          .as("cluster_id"))
    affected.unionByName(batchRows)
  }

  /** Hadoop-FS helpers: `root` may be any Hadoop-supported filesystem
    * (HDFS/S3/local) — never probe with `java.io.File`. */
  private object Fs {
    def fs(spark: SparkSession, path: String): FileSystem =
      new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeString(spark: SparkSession, path: String, text: String): Unit = {
      val f = fs(spark, path)
      // write-then-rename: discovery never sees a half-written manifest
      val tmp = new Path(path + ".tmp")
      val out = f.create(tmp, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
      f.delete(new Path(path), false)
      if (!f.rename(tmp, new Path(path)))
        sys.error(s"manifest rename failed: $tmp -> $path")
    }
    def readString(spark: SparkSession, path: String): String = {
      val in = fs(spark, path).open(new Path(path))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    def listNames(spark: SparkSession, dir: String): Seq[String] = {
      val f = fs(spark, dir)
      val p = new Path(dir)
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq.map(_.getPath.getName)
    }
  }

  /** One store's restorable lifecycle coordinates, as carried in the
    * manifest. `batches` = batch ids appended since the last compaction
    * (epoch start); `base`/`path` = the compacted bucketed table and
    * its data dir, when one exists. */
  private final case class StoreMeta(epoch: Int, base: Option[String],
                                     path: Option[String],
                                     batches: Vector[Long])

  /** An append-only durable store: batchId-keyed parquet dirs (each an
    * idempotent OVERWRITE — a replayed micro-batch rewrites its own dir
    * in place), with a periodic COMPACTION that consolidates base +
    * appends into one bucketed, epoch-versioned table and starts a
    * fresh append epoch — the registry lifecycle a long-running loop
    * needs (small-file control + the pinned no-exchange join layout on
    * the bucket key). Which dirs constitute the store is decided by the
    * MANIFEST (via [[restore]]), not by listing the filesystem: an
    * uncommitted crash remnant is invisible until its batch commits. */
  private final class Store(spark: SparkSession, root: String,
                            name: String, template: StructType) {
    private var baseTable: Option[String] = None
    private var basePath: Option[String] = None
    private var epoch = 0
    private var batches = Vector.empty[Long]
    private def dir(batchId: Long) = s"$root/$name/append$epoch/b$batchId"
    def append(df: DataFrame, batchId: Long): Unit = {
      df.write.mode("overwrite").parquet(dir(batchId))
      if (!batches.contains(batchId)) batches :+= batchId
    }
    def read(): DataFrame = {
      val appended =
        if (batches.isEmpty) None
        // ONE multi-root relation, not an N-way union: the plan stays a
        // single scan however many batches sit between compactions
        else Some(spark.read.parquet(batches.map(dir): _*))
      val base = baseTable.map(spark.table)
      (base, appended) match {
        case (Some(b), Some(a)) => b.unionByName(a)
        case (Some(b), None) => b
        case (None, Some(a)) => a
        case (None, None) =>
          spark.createDataFrame(spark.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], template)
      }
    }
    /** Base table and append-epoch rows SEPARATELY — for current-view
      * folds that must not reshuffle the bucketed base (the fetch log's
      * last-fetch view supersedes base rows with an anti-join against
      * the batch-sized delta instead of re-aggregating the union — see
      * [[Loop.fetches]]). */
    def readParts(): (Option[DataFrame], Option[DataFrame]) = (
      baseTable.map(spark.table),
      if (batches.isEmpty) None
      else Some(spark.read.parquet(batches.map(dir): _*)))
    /** `squash` folds history at consolidation time (identity for the
      * monotone registries; the cluster store collapses each doc's
      * relabel history to its current minimum) — the once-per-cycle
      * registry-sized job the compaction cadence already pays for. */
    def compact(tablePrefix: String, buckets: Int, keys: Seq[String],
                squash: DataFrame => DataFrame = identity): Unit = {
      // align the write partitioning with the bucketing (same murmur3
      // hash family) so each task holds exactly one bucket and the table
      // lands in ~`buckets` files — without this, a bucketed write emits
      // one file per (task × bucket) and compaction stops compacting
      val consolidated = squash(read()).repartition(buckets, keys.map(col): _*)
      // epoch-versioned table name: a crash between this write and the
      // manifest commit leaves the OLD epoch's table (the one the old
      // manifest names) untouched — resume stays consistent
      val table = s"${tablePrefix}_e${epoch + 1}"
      val path = s"$root/$name/compact${epoch + 1}"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      graft.sources.TableSink.writeBucketed(consolidated, table, buckets,
        keys, path = Some(path))
      baseTable = Some(table)
      basePath = Some(path)
      epoch += 1
      batches = Vector.empty // fresh append epoch; the table carries the rest
    }
    def meta: StoreMeta = StoreMeta(epoch, baseTable, basePath, batches)
    /** Reinstate from a manifest; if the compacted table is missing from
      * the session catalog (fresh metastore after a restart), re-register
      * it over the recorded data dir with the recorded bucketing DDL —
      * the files are the durable truth, the catalog entry is derived. */
    def restore(m: StoreMeta, buckets: Int, keys: Seq[String]): Unit = {
      epoch = m.epoch; baseTable = m.base; basePath = m.path
      batches = m.batches
      (m.base, m.path) match {
        case (Some(t), Some(p)) if !spark.catalog.tableExists(t) =>
          val cols = keys.mkString(", ")
          spark.sql(
            s"""CREATE TABLE $t (${template.toDDL}) USING PARQUET
               |CLUSTERED BY ($cols) SORTED BY ($cols)
               |INTO $buckets BUCKETS LOCATION '$p'""".stripMargin)
        case _ => ()
      }
    }
  }

  /** Incremental loop driver — one instance per crawl loop; call
    * [[ingest]] once per micro-batch (the `foreachBatch` body, passing
    * the streaming batch id for exactly-once replay skipping) and
    * [[state]] for the current stores. Durable handoff under `root`;
    * every `compactEvery` batches the registries consolidate into
    * bucketed epoch-versioned tables `<tag>_seen_e<k>` etc. and fresh
    * append epochs start. [[Loop.resume]] rebuilds a loop from `root`'s
    * manifest after a driver restart. */
  /** Schema of the media frame-fingerprint registry store: one row per
    * DISTINCT decoded frame fingerprint ever seen (q144's registry,
    * carried as a loop member — 5 integers per distinct frame). */
  val printSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false)))

  /** Schema of the per-asset media dedup verdict store. */
  val mediaKeptSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("n_prints", LongType, nullable = false),
    StructField("n_seen", LongType, nullable = false),
    StructField("coverage", DoubleType, nullable = false),
    StructField("kept", BooleanType, nullable = false)))

  /** Schema of the crawl-frontier store: one row per canonical URL ever
    * SCHEDULED, with the batch that first discovered it and its fetch
    * priority (the host-quality feed's mass for its target host). */
  val frontierSchema: StructType = StructType(Seq(
    StructField("canon_url", StringType),
    StructField("dst_host", StringType),
    StructField("sched_batch", LongType),
    StructField("priority", LongType)))

  /** Schema of the fetch LOG store (the q188 recrawl member): one row
    * per FETCH EVENT — a URL's first fetch (the batch after its
    * discovery) and every tiered refresh after it. `gap` is the URL's
    * refresh interval in batches, frozen at first fetch (see
    * [[recrawlGaps]]); the current last-fetch view is the max-fold over
    * a URL's rows ([[Loop.fetches]]). */
  val fetchSchema: StructType = StructType(Seq(
    StructField("canon_url", StringType),
    StructField("dst_host", StringType),
    StructField("priority", LongType),
    StructField("gap", LongType),
    StructField("fetch_batch", LongType)))

  /** Number of refresh tiers in the recrawl policy: a host's tier (its
    * quality-rank quartile within the priority feed) IS its refresh gap
    * in batches — tier-1 hosts refetch every wave, tier-[[RecrawlTiers]]
    * hosts every [[RecrawlTiers]]th. */
  val RecrawlTiers: Int = 4

  /** Per-host refresh gap for the recrawl policy — the tiered-refresh
    * discipline of production crawlers (Cho & Garcia-Molina 2003,
    * "Effective page refresh policies for web crawlers": revisit
    * frequency allocated by page importance, here the q169 host-quality
    * mass). The feed's absolute s_sum magnitudes scale with corpus size
    * (≈−0.7M at sf0.01, ≈−7M at sf0.1 — ProfileRecrawl), so an absolute
    * threshold cannot travel across scales; the gap is therefore
    * RANK-relative: hosts ranked by (s_sum DESC, host) — q182's exact
    * fetch-order convention — and gap = 1 + ((rank−1)·[[RecrawlTiers]])
    * div |feed|, i.e. the host's quality quartile, ∈ [1, RecrawlTiers].
    * Exact integer arithmetic throughout (replayable bit-for-bit in the
    * oracle); the rank comes from [[graft.warehouse.SurrogateKeys]]'s
    * range-partitioned path, so no single task ever sorts the host
    * dimension (the q182 scale rule). A host absent from the feed gets
    * gap 1 at join time — the least-evidence-first convention q182 uses
    * when it ranks unknown hosts (priority 0) ahead of scored ones. */
  def recrawlGaps(priorityFeed: DataFrame): DataFrame = {
    val h = priorityFeed.count() // host-dim cardinality: one driver scalar
    graft.warehouse.SurrogateKeys.assign(
        priorityFeed.select(col("dst_host"), col("s_sum"))
          .withColumn("__negp", -col("s_sum")),
        Seq("__negp", "dst_host"), "__rank")
      .select(col("dst_host"),
        expr(s"CAST(1 + ((__rank - 1) * $RecrawlTiers) div $h AS BIGINT)")
          .as("gap"))
  }

  final class Loop(spark: SparkSession, codebook: DataFrame,
                   embeddings: DataFrame, root: String, tag: String,
                   verifyThreshold: Double = 0.8, compactEvery: Int = 2,
                   buckets: Int = 32, template: StructType,
                   mediaDropAt: Double = 0.5,
                   hostPriority: Option[DataFrame] = None) {
    private def emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], template)
    private val seenS = new Store(spark, root, "seen", docHashes(emptyDocs).schema)
    private val bandsS = new Store(spark, root, "bands",
      Dedup.minhashBandRegistry(emptyDocs).schema)
    private val setsS = new Store(spark, root, "sets", wordSets(emptyDocs).schema)
    private val keptS = new Store(spark, root, "kept",
      emptyDocs.select(col("doc_id"), col("lang"), col("n_chars")).schema)
    private val assignedS = new Store(spark, root, "assigned",
      StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sim_r",
          org.apache.spark.sql.types.DoubleType))))
    // cluster mapping as an append-only MIN-FOLD store: a doc's cluster
    // id only ever DECREASES (components merge toward their minimum), so
    // the current mapping is min(cluster_id) over each doc's appended
    // rows. Appends are batch-proportional (the batch's rows + relabel
    // DELTAS for members of merged clusters); compaction squashes the
    // relabel history with a min-aggregate. This keeps cluster
    // maintenance inside the loop's append-only durability contract —
    // no corpus-sized rewrite ever happens per batch.
    private val clustersS = new Store(spark, root, "clusters",
      StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType))))
    // media members (VERDICT r12 §next-3): the q144 frame-fingerprint
    // registry and the per-asset keep/drop verdict, carried with the
    // SAME append/compact/manifest lifecycle as the five text/embedding
    // stores — a real crawl ingests media and text in one loop. The
    // registry holds every SEEN print (seen, not kept — q130's registry
    // contract, so a re-upload of a dropped video is caught too).
    private val printsS = new Store(spark, root, "prints", printSchema)
    private val mediaKeptS = new Store(spark, root, "media_kept",
      mediaKeptSchema)
    // crawl frontier (r15 verdict #3): the canonical-URL registry — one
    // row per URL ever SCHEDULED, carried with the same append/compact/
    // manifest lifecycle as the other stores. Knockout semantics are
    // q100's: a batch's discovered URLs anti-join the registry, and
    // only first discoveries are scheduled (seen ≡ scheduled; actual
    // fetch events — first fetch and tiered refreshes — live in the
    // fetch LOG below, the r16 recrawl member). Priority is the q169
    // host-quality feed: links from high-LM-quality pages fetch first.
    private val frontierS = new Store(spark, root, "frontier",
      frontierSchema)
    // fetch log (r16, the recrawl member): one row per fetch EVENT. A
    // URL's first fetch happens the batch AFTER its discovery (wave
    // semantics — batch B fetches what batch B−1 scheduled), then
    // refreshes every `gap` batches, where gap is the host's quality
    // tier in the priority feed ([[recrawlGaps]]) frozen at first
    // fetch. The current last-fetch view is the max-fold over a URL's
    // rows; compaction squashes to it. Store rows carry dst_host/
    // priority/gap so the per-batch due-scan is a MAP-SIDE filter over
    // the view — no host-dim join on the registry-sized path.
    private val fetchesS = new Store(spark, root, "fetches", fetchSchema)
    // the per-host refresh gaps, computed ONCE per loop from the feed
    // (host-dim sized, pinned so every batch sees the same tiers)
    private lazy val gapsDF: DataFrame = Land(recrawlGaps(hostPriority.getOrElse(
      sys.error("recrawl gaps need a hostPriority feed (dst_host, s_sum)"))))
    private var summary = Summary.summarize(emptyDocs, col("lang"), col("n_chars"))
    private var summaryVersion = -1L
    private var lastCommitted = -1L

    /** The batch id [[ingest]]`(batch)` will assign next — streaming
      * callers pass `foreachBatch`'s id instead and get replay skipping. */
    def nextBatchId: Long = lastCommitted + 1

    /** Current compacted registry table name for `store` ("seen",
      * "bands", "sets", "clusters"), if a compaction has landed. */
    def registryTable(store: String): Option[String] = store match {
      case "seen" => seenS.meta.base
      case "bands" => bandsS.meta.base
      case "sets" => setsS.meta.base
      case "clusters" => clustersS.meta.base
      case "prints" => printsS.meta.base
      case "frontier" => frontierS.meta.base
      case "fetches" => fetchesS.meta.base
      case other => sys.error(s"no such registry store: $other")
    }

    /** Current frontier: every scheduled canonical URL with its
      * discovery batch and fetch priority (order by priority DESC for
      * the scheduler's view). */
    def frontier(): DataFrame = frontierS.read()

    /** Current last-fetch view over the fetch log: one row per ever-
      * fetched URL with its most recent fetch batch. Scale shape: the
      * compacted base already holds one row per URL (the squash) and is
      * canon_url-bucketed; the append-epoch delta (≤ compactEvery fetch
      * waves) folds among itself at batch scale, then SUPERSEDES base
      * rows via a left-anti probe on the bucket key — the base is
      * scanned, never re-aggregated or reshuffled (the q100 knockout
      * discipline applied to a max-fold). */
    def fetches(): DataFrame = {
      val (base, deltas) = fetchesS.readParts()
      def fold(d: DataFrame) = d.groupBy(col("canon_url"))
        .agg(max(col("dst_host")).as("dst_host"),
          max(col("priority")).as("priority"),
          max(col("gap")).as("gap"),
          max(col("fetch_batch")).as("fetch_batch"))
      (base, deltas) match {
        case (Some(b), Some(d)) =>
          val df = fold(d)
          b.join(df.select(col("canon_url")), Seq("canon_url"), "left_anti")
            .unionByName(df)
        case (Some(b), None) => b
        case (None, Some(d)) => fold(d)
        case (None, None) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fetchSchema)
      }
    }

    /** The fetch wave batch `batchId` executes — the recrawl policy's
      * output, and exactly what [[ingest]] appends to the fetch log
      * (minus the provenance columns): first fetches of every URL the
      * PREVIOUS batch scheduled (`kind = 'new'`, a map-side filter on
      * the frontier registry's sched_batch column plus a batch-sized
      * gap join) unioned with due refreshes (`kind = 'refresh'`: URLs
      * whose age since last fetch has reached their frozen tier gap —
      * a map-side filter over [[fetches]], no join on the registry-
      * sized path). Cost per wave = one frontier scan + one fetch-view
      * scan, both filters pushed to the scan; neither registry is
      * reshuffled. */
    def nextFetchWave(batchId: Long): DataFrame = {
      val firsts = frontierS.read()
        .filter(col("sched_batch") === (batchId - 1))
        .join(gapsDF, Seq("dst_host"), "left")
        .select(col("canon_url"), col("dst_host"), col("priority"),
          coalesce(col("gap"), lit(1L)).as("gap"),
          lit(-1L).as("last_fetch"), lit("new").as("kind"))
      val due = fetches()
        .filter(lit(batchId) - col("fetch_batch") >= col("gap"))
        .select(col("canon_url"), col("dst_host"), col("priority"),
          col("gap"), col("fetch_batch").as("last_fetch"),
          lit("refresh").as("kind"))
      firsts.unionByName(due)
    }

    /** Current media frame-fingerprint registry (all SEEN prints). */
    def mediaPrints(): DataFrame = printsS.read()

    /** Per-asset media dedup verdicts across every committed batch. */
    def mediaKept(): DataFrame = mediaKeptS.read()

    def state(): State = State(seenS.read(), bandsS.read(), setsS.read(),
      keptS.read(), summary, assignedS.read(),
      // the current mapping view over the min-fold store; per-batch
      // ingest never consumes this aggregate — it probes the raw rows
      // endpoint-wise (see the cluster step in [[ingest]])
      clustersS.read().groupBy(col("doc_id"))
        .agg(min(col("cluster_id")).as("cluster_id")))

    // ---- manifest: the loop's commit record, one tiny text file per
    // ingest under root/manifest (key=value lines — no parser deps,
    // readable by anything). Discovery = highest committed batch id. ----
    private def manifestDir = s"$root/manifest"
    private def storeLines(n: String, m: StoreMeta): Seq[String] = Seq(
      s"store.$n.epoch=${m.epoch}",
      s"store.$n.base=${m.base.getOrElse("")}",
      s"store.$n.path=${m.path.getOrElse("")}",
      s"store.$n.batches=${m.batches.mkString(",")}")
    private def writeManifest(batchId: Long): Unit = {
      val lines = Seq(
        "version=1",
        s"lastCommitted=$batchId",
        s"summaryVersion=$summaryVersion") ++
        storeLines("seen", seenS.meta) ++
        storeLines("bands", bandsS.meta) ++
        storeLines("sets", setsS.meta) ++
        storeLines("kept", keptS.meta) ++
        storeLines("assigned", assignedS.meta) ++
        storeLines("clusters", clustersS.meta) ++
        storeLines("prints", printsS.meta) ++
        storeLines("media_kept", mediaKeptS.meta) ++
        storeLines("frontier", frontierS.meta) ++
        storeLines("fetches", fetchesS.meta)
      Fs.writeString(spark, s"$manifestDir/m$batchId", lines.mkString("\n"))
    }

    /** Restore from the newest committed manifest, or — `upTo` given —
      * from the newest manifest at or below that batch id: TIME-TRAVEL.
      * Every store's manifest coordinates (epoch, base table, append
      * batch list) are immutable once written and compaction writes
      * epoch-VERSIONED tables/dirs without touching older ones, so any
      * retained manifest reconstructs its exact state — the
      * reproducible-corpus-snapshot contract (q148). [[vacuum]] bounds
      * how far back this reaches. */
    private[operators] def restoreFromManifest(
        upTo: Option[Long] = None): Boolean = {
      val committed = Fs.listNames(spark, manifestDir)
        .flatMap { n =>
          if (n.matches("m\\d+")) Some(n.stripPrefix("m").toLong) else None
        }
        .filter(id => upTo.forall(id <= _))
      if (committed.isEmpty) false
      else {
        val last = committed.max
        val kv = Fs.readString(spark, s"$manifestDir/m$last").split('\n')
          .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
        // getOrElse: a manifest written before a store existed restores
        // that store empty (version=1 manifests predate the media pair)
        def storeMeta(n: String): StoreMeta = StoreMeta(
          kv.getOrElse(s"store.$n.epoch", "0").toInt,
          kv.get(s"store.$n.base").filter(_.nonEmpty),
          kv.get(s"store.$n.path").filter(_.nonEmpty),
          kv.getOrElse(s"store.$n.batches", "").split(',').filter(_.nonEmpty)
            .map(_.toLong).toVector)
        seenS.restore(storeMeta("seen"), buckets, Seq("h_lo", "h_hi"))
        bandsS.restore(storeMeta("bands"), buckets, Seq("doc_id"))
        setsS.restore(storeMeta("sets"), buckets, Seq("doc_id"))
        keptS.restore(storeMeta("kept"), buckets, Seq("doc_id"))
        assignedS.restore(storeMeta("assigned"), buckets, Seq("vec_id"))
        clustersS.restore(storeMeta("clusters"), buckets, Seq("doc_id"))
        printsS.restore(storeMeta("prints"), buckets,
          Seq("sum_r", "sum_g", "sum_b"))
        mediaKeptS.restore(storeMeta("media_kept"), buckets, Seq("asset_id"))
        frontierS.restore(storeMeta("frontier"), buckets, Seq("canon_url"))
        fetchesS.restore(storeMeta("fetches"), buckets, Seq("canon_url"))
        lastCommitted = kv("lastCommitted").toLong
        summaryVersion = kv("summaryVersion").toLong
        if (summaryVersion >= 0)
          summary = spark.read.parquet(s"$root/summary/v$summaryVersion")
        true
      }
    }

    /** Retention GC (the missing half of the compaction lifecycle): a
      * long-running loop otherwise accumulates every superseded append
      * epoch, compacted table generation, manifest, and derivation
      * slice FOREVER — at crawl scale that is unbounded storage. Keeps
      * everything referenced by the newest `retainManifests` manifests
      * (their base dirs, their append dirs, their summary versions) and
      * deletes the rest: older manifests, unreferenced append/compact
      * dirs (plus their catalog entries), superseded summary versions,
      * and batch derivation slices (`batch_pairs`/`batch_kept`/
      * `batch_prints`) at or below the oldest retained commit — those
      * are consumed during their own ingest and never read again.
      * Time-travel ([[Loop.resume]] `asOf`) is therefore bounded by the
      * retention window, the standard snapshot-store trade. Safe while
      * the loop runs: the newest manifest is always retained and is
      * precisely what [[state]] reads. */
    def vacuum(retainManifests: Int = 1): Unit = {
      require(retainManifests >= 1, "must retain at least the newest manifest")
      val ids = Fs.listNames(spark, manifestDir)
        .flatMap { n =>
          if (n.matches("m\\d+")) Some(n.stripPrefix("m").toLong) else None
        }.sorted
      if (ids.isEmpty) return
      val retained = ids.takeRight(retainManifests)
      val kvs = retained.map(id => Fs.readString(spark,
          s"$manifestDir/m$id").split('\n')
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap)
      val storeNames = Seq("seen", "bands", "sets", "kept", "assigned",
        "clusters", "prints", "media_kept", "frontier", "fetches")
      // referenced data dirs, relative to root
      val keep = scala.collection.mutable.Set.empty[String]
      kvs.foreach { kv =>
        storeNames.foreach { n =>
          val epoch = kv.getOrElse(s"store.$n.epoch", "0")
          kv.get(s"store.$n.path").filter(_.nonEmpty)
            .foreach(p => keep += p.stripPrefix(s"$root/"))
          kv.getOrElse(s"store.$n.batches", "").split(',').filter(_.nonEmpty)
            .foreach(b => keep += s"$n/append$epoch/b$b")
        }
        val sv = kv.getOrElse("summaryVersion", "-1")
        if (sv.toLong >= 0) keep += s"summary/v$sv"
      }
      val oldestRetained = retained.min
      val fsys = Fs.fs(spark, root)
      def deleteUnder(sub: String)(keepChild: String => Boolean): Unit = {
        val dir = new Path(s"$root/$sub")
        if (fsys.exists(dir)) fsys.listStatus(dir).foreach { st =>
          if (!keepChild(st.getPath.getName)) {
            fsys.delete(st.getPath, true); ()
          }
        }
      }
      // manifests outside the window
      deleteUnder("manifest")(n => retained.contains(
        n.stripPrefix("m").takeWhile(_.isDigit) match {
          case "" => -1L; case d => d.toLong
        }))
      // per-store epochs: append<k>'s referenced b* children survive;
      // everything else (old epochs, superseded compact dirs) goes,
      // along with the catalog entry over a deleted compact dir
      storeNames.foreach { n =>
        val dir = new Path(s"$root/$n")
        if (fsys.exists(dir)) fsys.listStatus(dir).foreach { st =>
          val child = st.getPath.getName
          if (child.startsWith("append")) {
            fsys.listStatus(st.getPath).foreach { b =>
              if (!keep.contains(s"$n/$child/${b.getPath.getName}")) {
                fsys.delete(b.getPath, true); ()
              }
            }
            if (fsys.listStatus(st.getPath).isEmpty) {
              fsys.delete(st.getPath, true); ()
            }
          } else if (!keep.contains(s"$n/$child")) {
            fsys.delete(st.getPath, true)
            if (child.startsWith("compact"))
              spark.sql(s"DROP TABLE IF EXISTS ${tag}_${n}_e" +
                child.stripPrefix("compact"))
            ()
          }
        }
      }
      deleteUnder("summary")(c => keep.contains(s"summary/$c"))
      Seq("batch_pairs", "batch_kept", "batch_prints",
          "batch_frontier", "batch_fetches").foreach { d =>
        deleteUnder(d) { c =>
          val id = c.stripPrefix("v").takeWhile(_.isDigit) match {
            case "" => Long.MaxValue; case s => s.toLong
          }
          id > oldestRetained
        }
      }
    }

    /** Ingest with the loop's own monotone batch id (batch-mode drives). */
    def ingest(batch: DataFrame): Unit = ingest(batch, nextBatchId, None)

    /** Ingest micro-batch `batchId` (pass `foreachBatch`'s id), with the
      * batch's media assets when the crawl carries them and the batch's
      * fetched PAGE MARKUP when the loop maintains a frontier. A batch
      * at or below the last COMMITTED id is a replay — skipped whole, so
      * Structured Streaming's at-least-once delivery is exactly-once
      * here (the manifest is the commit marker; an uncommitted crashed
      * attempt is re-run and overwrites its own dirs in place). */
    def ingest(batch: DataFrame, batchId: Long,
               media: Option[DataFrame] = None,
               pages: Option[DataFrame] = None): Unit =
      doIngest(batch, batchId, media, pages, commit = true)

    /** TEST SEAM for the crash-replay property (VERDICT r12 §next-4):
      * runs a full ingest — every store append, compaction if due — and
      * then "dies" immediately before the manifest commit. The loop
      * instance is inconsistent with durable state afterwards and MUST
      * be discarded; the property under test is that [[Loop.resume]] +
      * re-[[ingest]] of the same batch id reaches the exact state an
      * uninterrupted drive reaches. */
    private[graft] def ingestCrashBeforeCommit(batch: DataFrame,
                                               batchId: Long,
                                               media: Option[DataFrame] = None,
                                               pages: Option[DataFrame] = None)
        : Unit =
      doIngest(batch, batchId, media, pages, commit = false)

    private def doIngest(batch: DataFrame, batchId: Long,
                         media: Option[DataFrame], pages: Option[DataFrame],
                         commit: Boolean): Unit = {
      if (batchId <= lastCommitted) return // replayed, already committed
      // ids need only ascend — a streaming driver that skips empty
      // micro-batches hands us gaps, which are fine (ids version dirs)
      val pre = state() // reads only COMMITTED dirs — never this batch's
      // the expensive LSH verify runs EXACTLY ONCE: the batch's verified
      // near-pair slice lands in a versioned batch dir, and the kept
      // verdict, cluster maintenance, assignment, manifest and summary
      // all derive from STORED slices (re-running the verify per
      // consumer tripled the loop's cost, measured 27 s -> below)
      nearPairs(pre, batch, verifyThreshold)
        .write.mode("overwrite").parquet(s"$root/batch_pairs/v$batchId")
      val pb = spark.read.parquet(s"$root/batch_pairs/v$batchId")
      dedupBatch(pre, batch, verifyThreshold, pairs = Some(pb))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$root/batch_kept/v$batchId")
      val kb = spark.read.parquet(s"$root/batch_kept/v$batchId")
      keptS.append(kb, batchId)
      // ---- cluster maintenance ([[clusterDelta]]): batch-proportional
      // appends into the min-fold store. The step's intermediates
      // (endpoint roots, the relabel map, the CC engine's round marks)
      // are eager landings — release them after the delta
      // lands, or they accumulate in executor storage across batches
      // (the flat-RDD-profile contract the StreamingSpec pin enforces)
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      clustersS.append(
        clusterDelta(clustersS.read(), batch.select(col("doc_id")), pb),
        batchId)
      val rddsAfter = spark.sparkContext.getPersistentRDDs
      (rddsAfter.keySet -- rddsBefore)
        .foreach(id => rddsAfter(id).unpersist(blocking = true))
      assignedS.append(Similarity.assignBatch(codebook,
        kb.select(col("doc_id").as("vec_id")).join(embeddings, Seq("vec_id"))),
        batchId)
      // summary maintenance from the batch alone (inserts); base = the
      // PRE-append kept store (before-images of inserts are empty, but
      // the post-append store would wrongly retract the batch itself).
      // Versioned summary dir: never overwrite the dir the plan reads.
      Summary.maintain(summary, pre.kept,
        kb.withColumn("op", lit("I")),
        "doc_id", col("lang"), col("n_chars"),
        deleteWhen = col("op") === "D")
        .write.mode("overwrite").parquet(s"$root/summary/v$batchId")
      summary = spark.read.parquet(s"$root/summary/v$batchId")
      summaryVersion = batchId
      seenS.append(docHashes(batch), batchId)
      bandsS.append(Dedup.minhashBandRegistry(batch), batchId)
      setsS.append(wordSets(batch), batchId)
      // ---- media members (q144's knockout, loop-carried): decode the
      // batch's containers EXACTLY ONCE into a stored print slice (the
      // nearPairs pattern — the decode is the expensive pass), knock the
      // slice out against the registry via the broadcast-probe shape
      // (batch prints broadcast; the corpus-sized registry is scanned,
      // never exchanged), land the per-asset verdict, then append the
      // batch's prints to the registry. All writes are batchId-keyed
      // overwrites — the same idempotent-replay contract as every store.
      media.foreach { m =>
        val pkeys = printSchema.fieldNames.toSeq
        graft.multimodal.Binary.decodeFrameSums(m)
          .select((col("asset_id") +: pkeys.map(col)): _*)
          .distinct()
          .write.mode("overwrite").parquet(s"$root/batch_prints/v$batchId")
        val bp = spark.read.parquet(s"$root/batch_prints/v$batchId")
        // count DISTINCT matched prints: between compactions the append
        // epoch may hold the same print from two batches, and a plain
        // count over the join would tally each duplicate. The distinct
        // runs on the JOIN OUTPUT (≤ batch prints × append-epoch depth,
        // batch-proportional) — never on the corpus-sized registry.
        val nSeen = printsS.read().join(broadcast(bp), pkeys)
          .groupBy(col("asset_id"))
          .agg(count_distinct(struct(pkeys.map(col): _*)).as("n_seen"))
        mediaKeptS.append(
          bp.groupBy(col("asset_id")).agg(count(lit(1)).as("n_prints"))
            .join(nSeen, Seq("asset_id"), "left")
            .withColumn("n_seen", coalesce(col("n_seen"), lit(0L)))
            .withColumn("cov", col("n_seen").cast("double") / col("n_prints"))
            .select(col("asset_id"), col("n_prints"), col("n_seen"),
              round(col("cov"), 6).as("coverage"),
              (col("cov") < mediaDropAt).as("kept")),
          batchId)
        printsS.append(bp.select(pkeys.map(col): _*).distinct(), batchId)
      }
      // ---- frontier member (r15): canonicalize every href the batch's
      // fetched pages carry (q163's normalizer — the frontier dedup
      // key; non-canonicalizable refs drop), knock the batch's distinct
      // keys out against everything scheduled before (q100's left-anti
      // registry shape — after compaction the anti-join probes the
      // canon_url-bucketed table with no registry-side exchange), score
      // the survivors by the host-quality feed (q169's rollup: links
      // from high-quality pages fetch first; unknown hosts at 0), and
      // land the batch's scheduled slice batchId-keyed — the same
      // idempotent-replay contract as every store. Per-batch cost is
      // batch-proportional: extraction is map-only, the knockout moves
      // only the batch's keys, the priority join is host-table-sized.
      pages.foreach { pg =>
        val prio = hostPriority.getOrElse(sys.error(
          "frontier ingestion needs a hostPriority feed (dst_host, s_sum)"))
        val disc = LinkGraph.extractUrls(pg)
          .select(LinkGraph.canonicalizeUrl(col("url")).as("canon_url"))
          .filter(col("canon_url").isNotNull)
          .distinct()
        disc
          .join(frontierS.read().select(col("canon_url")),
            Seq("canon_url"), "left_anti")
          .select(col("canon_url"),
            LinkGraph.hostOfCanonUrl(col("canon_url")).as("dst_host"))
          .join(prio.select(col("dst_host"), col("s_sum")),
            Seq("dst_host"), "left")
          .select(col("canon_url"), col("dst_host"),
            lit(batchId).as("sched_batch"),
            coalesce(col("s_sum"), lit(0L)).as("priority"))
          .write.mode("overwrite").parquet(s"$root/batch_frontier/v$batchId")
        frontierS.append(
          spark.read.parquet(s"$root/batch_frontier/v$batchId"), batchId)
        // ---- recrawl member (r16): execute this batch's fetch wave —
        // first fetches of last batch's discoveries + tier-due
        // refreshes ([[nextFetchWave]]) — and log it. The wave slice
        // lands batchId-keyed (idempotent replay) and the append rides
        // the store lifecycle. Per-batch cost: one map-side filter per
        // registry + a batch-sized gap join; see the wave scaladoc.
        nextFetchWave(batchId)
          .select(col("canon_url"), col("dst_host"), col("priority"),
            col("gap"), lit(batchId).as("fetch_batch"))
          .write.mode("overwrite").parquet(s"$root/batch_fetches/v$batchId")
        fetchesS.append(
          spark.read.parquet(s"$root/batch_fetches/v$batchId"), batchId)
      }
      // cadence counts INGESTED batches since the last compaction (not
      // batch-id arithmetic — ids may have gaps), and restores with the
      // manifest since the batch list is part of each store's meta
      if (seenS.meta.batches.size >= compactEvery) {
        seenS.compact(s"${tag}_seen", buckets, Seq("h_lo", "h_hi"))
        bandsS.compact(s"${tag}_bands", buckets, Seq("doc_id"))
        setsS.compact(s"${tag}_sets", buckets, Seq("doc_id"))
        // squash the relabel history to the current mapping while the
        // registry-sized consolidation job runs anyway
        clustersS.compact(s"${tag}_clusters", buckets, Seq("doc_id"),
          squash = _.groupBy(col("doc_id"))
            .agg(min(col("cluster_id")).as("cluster_id")))
        // media stores ride the same cadence; a text-only loop never
        // ingested prints and skips them (no empty-table churn). Prints
        // dedupe at consolidation (a print re-seen across batches is one
        // registry row — the distinct squash is the min-fold analogue).
        if (printsS.meta.batches.nonEmpty || printsS.meta.base.nonEmpty) {
          printsS.compact(s"${tag}_prints", buckets,
            Seq("sum_r", "sum_g", "sum_b"), squash = _.distinct())
          mediaKeptS.compact(s"${tag}_media_kept", buckets, Seq("asset_id"))
        }
        // frontier rides the same cadence; a loop never fed pages skips
        // it (no empty-table churn). Rows are append-once (the knockout
        // guarantees a URL schedules at most once), so no squash.
        if (frontierS.meta.batches.nonEmpty || frontierS.meta.base.nonEmpty)
          frontierS.compact(s"${tag}_frontier", buckets, Seq("canon_url"))
        // fetch log rides the same cadence; squash = the last-fetch
        // max-fold (dst_host/priority/gap are frozen per URL, so max is
        // the identity on them — it just picks the one value)
        if (fetchesS.meta.batches.nonEmpty || fetchesS.meta.base.nonEmpty)
          fetchesS.compact(s"${tag}_fetches", buckets, Seq("canon_url"),
            squash = _.groupBy(col("canon_url"))
              .agg(max(col("dst_host")).as("dst_host"),
                max(col("priority")).as("priority"),
                max(col("gap")).as("gap"),
                max(col("fetch_batch")).as("fetch_batch")))
      }
      // COMMIT: batch data + any compaction become visible atomically;
      // everything above re-runs idempotently if we die before this line
      if (commit) {
        writeManifest(batchId)
        lastCommitted = batchId
      }
    }
  }

  object Loop {
    /** Rebuild a loop from `root`'s durable state alone — the driver-
      * restart path. Returns a loop whose next [[Loop.ingest]] continues
      * exactly where the last COMMITTED batch left off; with no manifest
      * present it is simply a fresh loop. */
    def resume(spark: SparkSession, codebook: DataFrame,
               embeddings: DataFrame, root: String, tag: String,
               verifyThreshold: Double = 0.8, compactEvery: Int = 2,
               buckets: Int = 32, template: StructType,
               mediaDropAt: Double = 0.5,
               asOf: Option[Long] = None,
               hostPriority: Option[DataFrame] = None): Loop = {
      val loop = new Loop(spark, codebook, embeddings, root, tag,
        verifyThreshold, compactEvery, buckets, template, mediaDropAt,
        hostPriority)
      loop.restoreFromManifest(asOf)
      loop
    }
  }

  /** Batch-mode drive over ascending-id `batches`; returns the final
    * state (reading the stores). `media`, when given, aligns with
    * `batches` one-to-one — each text batch ingests with its media
    * assets in the SAME loop step (returns the driven loop so callers
    * can read the media stores too). */
  def drive(spark: SparkSession, batches: Seq[DataFrame],
            codebook: DataFrame, embeddings: DataFrame, root: String,
            tag: String, verifyThreshold: Double = 0.8,
            compactEvery: Int = 2, buckets: Int = 32,
            media: Seq[DataFrame] = Nil): State = driveLoop(spark, batches,
    codebook, embeddings, root, tag, verifyThreshold, compactEvery,
    buckets, media).state()

  /** [[drive]], returning the loop itself (media store accessors).
    * `pagesBatches`, when given, aligns with `batches` one-to-one —
    * each text batch ingests with its fetched page markup so the
    * frontier member runs (requires `hostPriority`). */
  def driveLoop(spark: SparkSession, batches: Seq[DataFrame],
                codebook: DataFrame, embeddings: DataFrame, root: String,
                tag: String, verifyThreshold: Double = 0.8,
                compactEvery: Int = 2, buckets: Int = 32,
                media: Seq[DataFrame] = Nil,
                pagesBatches: Seq[DataFrame] = Nil,
                hostPriority: Option[DataFrame] = None): Loop = {
    require(batches.nonEmpty, "crawl drive needs at least one batch")
    require(media.isEmpty || media.size == batches.size,
      s"media batches (${media.size}) must align with text batches " +
        s"(${batches.size})")
    require(pagesBatches.isEmpty || pagesBatches.size == batches.size,
      s"page batches (${pagesBatches.size}) must align with text batches " +
        s"(${batches.size})")
    val loop = new Loop(spark, codebook, embeddings, root, tag,
      verifyThreshold, compactEvery, buckets, batches.head.schema,
      hostPriority = hostPriority)
    batches.zipWithIndex.foreach { case (b, i) =>
      loop.ingest(b, i.toLong,
        if (media.isEmpty) None else Some(media(i)),
        if (pagesBatches.isEmpty) None else Some(pagesBatches(i)))
    }
    loop
  }

  /** Per-host politeness schedule over the discovered URL set — the
    * Mercator frontier discipline (Heydon & Najork 1999, "Mercator: a
    * scalable, extensible web crawler"): a crawler may have at most one
    * outstanding fetch per host, so each host's URLs form a FIFO queue
    * and the scheduler interleaves across hosts by priority. `slot` is
    * the URL's position in its host queue (wave w fetches every host's
    * slot-w URL); `host_rank` orders hosts by the q169 quality mass
    * (unknown hosts at 0), ties broken by host name — together they are
    * the deterministic fetch order.
    *
    * Scale shape: the per-host queue is a window partitioned BY HOST —
    * inherently sequential per host (that is the politeness constraint
    * itself), parallel across hosts, with per-partition work bounded by
    * the largest host's URL count. The cross-host ranking sorts only
    * the HOST dimension (distinct hosts — dictionary-sized, like q149's
    * vocab), never the URL set; the URL table itself is touched by one
    * hash aggregate (distinct) and one host-keyed join. */
  def politenessSchedule(docs: DataFrame): DataFrame =
    politenessSchedule(canonFrontier(docs),
      NgramLm.hostQualityRollup(docs).select(col("dst_host"), col("s_sum")))

  /** The frontier's canonical URL universe with its politeness key:
    * every discovered href canonicalized (q163 — non-canonicalizable
    * refs drop), host extracted sans port, deduplicated. This is what
    * the q179 frontier store HOLDS; q182's entry reads it from a
    * bucketed store rather than re-deriving it per scheduling pass. */
  def canonFrontier(docs: DataFrame): DataFrame =
    LinkGraph.extractUrls(LinkGraph.pages(docs))
      .select(LinkGraph.canonicalizeUrl(col("url")).as("canon_url"))
      .filter(col("canon_url").isNotNull)
      .select(col("canon_url"),
        LinkGraph.hostOfCanonUrl(col("canon_url")).as("dst_host"))
      .distinct()

  /** [[politenessSchedule]] against explicit canonical-URL and
    * priority feeds — the production shape: the scheduler CONSUMES the
    * stored frontier (q179's registry; extraction/canonicalization are
    * benched as q159/q163) and the maintained q169 rollup (benched as
    * q169); it recomputes neither per scheduling pass. The q182 entry
    * reads both from bucketed stores landed once per (JVM, sf dir) —
    * the q126/q157 store discipline — so the benched number prices the
    * SCHEDULING step alone; the oracle replays every phase. */
  def politenessSchedule(canon: DataFrame, priorityFeed: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hosts = canon.select(col("dst_host")).distinct()
      .join(priorityFeed, Seq("dst_host"), "left")
      .select(col("dst_host"),
        coalesce(col("s_sum"), lit(0L)).as("priority"))
    // (priority, host) is unique per host row, so dense_rank ≡
    // row_number, and the total-order rank IS a surrogate-key
    // assignment over the key (-priority, host) — delegated to
    // [[graft.warehouse.SurrogateKeys.assign]]'s range-partitioned
    // path (driver-pinned bucket bounds + per-bucket offsets), so no
    // single task ever sorts the whole host dimension (VERDICT r15
    // watch item #3: catalog corpora have dictionary-sized host dims,
    // but the full web is 10⁸–10⁹ hosts). The URL set is still only
    // touched by one distinct + one host-keyed join.
    val ranked = graft.warehouse.SurrogateKeys.assign(
        hosts.withColumn("__negp", -col("priority")),
        Seq("__negp", "dst_host"), "host_rank")
      .drop("__negp")
    canon.join(ranked, "dst_host")
      .select(col("canon_url"), col("dst_host"), col("priority"),
        col("host_rank"),
        row_number().over(Window.partitionBy(col("dst_host"))
          .orderBy(col("canon_url"))).cast("long").as("slot"))
  }

  /** Deterministic robots.txt rule set per host — the crawl-trace
    * synthesis discipline ([[LinkGraph.pages]]'s): each host publishes
    * one `Disallow: /p<d1>` (d1 = |host| mod 10) and one longer
    * `Allow: /p<d1><d2>` override (d2 = ascii of the host's first char
    * mod 10), so the corpus exercises both polarities AND the
    * longest-match precedence that decides between them. Rows
    * (dst_host, rule, allow); host-dimension sized. */
  def robotsRules(hosts: DataFrame): DataFrame = {
    val dis = concat(lit("/p"),
      pmod(length(col("dst_host")), lit(10)).cast("string"))
    hosts.select(col("dst_host"), dis.as("rule"), lit(false).as("allow"))
      .unionByName(hosts.select(col("dst_host"),
        concat(dis, pmod(ascii(substring(col("dst_host"), 1, 1)), lit(10))
          .cast("string")).as("rule"),
        lit(true).as("allow")))
  }

  /** Robots-exclusion verdict per frontier URL (RFC 9309 §2.2.2: the
    * most specific — longest — matching rule wins; on a length tie the
    * ALLOW rule wins; no match ⇒ crawlable). `canon` carries
    * (canon_url, dst_host) — q179's registry columns. One row per URL:
    * (canon_url, dst_host, fetchable, rule, rule_allow), rule NULL when
    * nothing matched.
    *
    * Scale shape: the rule table is host-dimension sized and joins
    * host-keyed (the q182 rule — never broadcast at web scale, where
    * hosts are 10⁸⁺); each URL meets ≤ rules-per-host candidate rows,
    * so the longest-match window partitions by canon_url over
    * constant-size groups — batch-proportional end to end, the
    * frontier is scanned once. */
  def robotsVerdicts(canon: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rules = robotsRules(canon.select(col("dst_host")).distinct())
    val path = regexp_replace(col("canon_url"), "^[a-z]+://[^/]+", "")
    val hits = canon.join(rules, Seq("dst_host"), "left")
      .withColumn("hit",
        col("rule").isNotNull && path.startsWith(col("rule")))
    val ranked = hits.withColumn("rn",
      row_number().over(Window.partitionBy(col("canon_url"))
        .orderBy(when(col("hit"), length(col("rule"))).otherwise(-1).desc,
          col("allow").desc, col("rule").desc)))
      .filter(col("rn") === 1)
    ranked.select(col("canon_url"), col("dst_host"),
      (!col("hit") || col("allow")).as("fetchable"),
      when(col("hit"), col("rule")).as("rule"),
      when(col("hit"), col("allow")).as("rule_allow"))
  }

  /** One-time landing of q182's two feeds — the canonical frontier
    * URL set and the q169 host-quality rollup — host-bucketed,
    * memoized per (JVM, sf dir): the q126/q157 store discipline.
    * Extraction/canonicalization are benched as q159/q163, the rollup
    * as q169. Returns (canonTable, prioTable). */
  private val q182Built =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def q182Store(s: SparkSession, d: String): (String, String) =
    q182Built.computeIfAbsent(d, _ => {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val tc = s"q182_canon_$tag"
      val tp = s"q182_prio_$tag"
      val root = Scratch.dir("graft_q182")
      s.sql(s"DROP TABLE IF EXISTS $tc")
      s.sql(s"DROP TABLE IF EXISTS $tp")
      val docs = T.documents(s, d)
      graft.sources.TableSink.writeBucketed(canonFrontier(docs),
        tc, 32, Seq("dst_host"), path = Some(s"$root/$tc"))
      graft.sources.TableSink.writeBucketed(
        NgramLm.hostQualityRollup(docs)
          .select(col("dst_host"), col("s_sum")),
        tp, 32, Seq("dst_host"), path = Some(s"$root/$tp"))
      (tc, tp)
    })

  def queries: Map[String, Q] = Map(
    // ---- the composed loop, end-to-end, final state oracled ----
    // 4 ascending crawl batches over the documents table; codebook =
    // the q123 convention (first IvfCentroids embeddings). The output
    // joins every piece of final state so each is load-bearing in the
    // hash: the kept manifest (exact+near closure), the ANN cell of
    // every kept doc (assignment path), and the per-lang summary values
    // AS MAINTAINED (not recomputed — a drift in the delta path breaks
    // the lang_n/lang_total_chars columns). The entry prices the whole
    // 4-batch drive including state landing — the integration cost, by
    // design (q126 prices the single steady-state step).
    "q130_crawl_pipeline" -> Q(
      (s, d) => {
        val docs = T.documents(s, d)
        val emb = T.embeddings(s, d)
        val codebook = emb.filter(col("vec_id") < Similarity.IvfCentroids)
          .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
        // 4 ascending quartile batches by doc_id (the crawl-ingest order
        // contract); the max is a one-row driver read
        val hi = docs.select(max(col("doc_id"))).head.getLong(0) + 1
        val batches = (0 until 4).map { k =>
          val lo = hi * k / 4
          val up = if (k == 3) hi else hi * (k + 1) / 4
          docs.filter(col("doc_id") >= lo && col("doc_id") < up)
        }
        val root = Scratch.dir("graft_q130")
        val st = drive(s, batches, codebook, emb, root,
          tag = "q130_" + d.replaceAll("[^A-Za-z0-9]", "_"))
        st.kept
          .join(st.assigned.select(col("vec_id").as("doc_id"), col("cell")),
            Seq("doc_id"))
          .join(st.summary.select(col("grp").as("lang"),
            col("n").as("lang_n"),
            col("total").as("lang_total_chars")), Seq("lang"))
          .join(st.clusters, Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("n_chars"), col("cell"),
            col("lang_n"), col("lang_total_chars"), col("cluster_id"))
      },
      Some(s"""
        WITH RECURSIVE ${Dedup.minhashLshPairsCte},
        exactdrop AS (
          SELECT DISTINCT d2.doc_id
          FROM documents d1 JOIN documents d2
            ON coalesce(d1.text, '') = coalesce(d2.text, '')
           AND d1.doc_id < d2.doc_id
        ),
        neardrop AS (
          SELECT DISTINCT b_id AS doc_id FROM lshv WHERE jac >= 0.8
        ),
        kept AS (
          SELECT doc_id, lang, n_chars FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM exactdrop)
            AND doc_id NOT IN (SELECT doc_id FROM neardrop)
        ),
        e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        cents AS (
          SELECT vec_id AS cent_id, v AS centv FROM e
          WHERE vec_id < ${Similarity.IvfCentroids}
        ),
        scored AS (
          SELECT k.doc_id, c.cent_id, ${Similarity.cosSql("b.v", "c.centv")} AS sim
          FROM kept k JOIN e b ON b.vec_id = k.doc_id CROSS JOIN cents c
        ),
        assigned AS (
          SELECT doc_id, cell FROM (
            SELECT doc_id, cent_id AS cell,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY sim DESC, cent_id ASC) AS rn
            FROM scored) WHERE rn = 1
        ),
        summ AS (
          SELECT lang, count(*) AS lang_n,
                 CAST(sum(CAST(n_chars AS DECIMAL(28,2))) AS DOUBLE)
                   AS lang_total_chars
          FROM kept GROUP BY lang
        ),
        cedges AS (
          SELECT a_id AS src, b_id AS dst FROM lshv WHERE jac >= 0.8
          UNION ALL
          SELECT b_id AS src, a_id AS dst FROM lshv WHERE jac >= 0.8
        ),
        creach AS (
          SELECT doc_id AS id, doc_id AS lbl FROM documents
          UNION
          SELECT e.dst AS id, r.lbl AS lbl
          FROM creach r JOIN cedges e ON r.id = e.src
        ),
        clusters AS (
          SELECT id AS doc_id, min(lbl) AS cluster_id FROM creach GROUP BY id
        )
        SELECT k.doc_id, k.lang, k.n_chars, a.cell, s.lang_n,
               s.lang_total_chars, c.cluster_id
        FROM kept k
        JOIN assigned a USING (doc_id)
        JOIN summ s ON s.lang = k.lang
        JOIN clusters c USING (doc_id)
      """.stripMargin),
      doc = "continuous-crawl loop composed: exact+near dedup, cluster-id maintenance, ANN assign, summary maintain, compaction — final state oracled"),

    // ---- the loop with MEDIA composed in (VERDICT r12 §next-3): the
    // same 4-batch drive, each batch carrying its documents' video clips
    // (asset_id = doc_id). The frame-print registry and per-asset
    // verdict ride the loop's append/compact/manifest lifecycle; the
    // output is every asset's coverage verdict (knocked out against
    // strictly-earlier batches' prints) joined with the TEXT pipeline's
    // final kept set — both pipelines are load-bearing in the hash. The
    // oracle replays prints from generator arithmetic per quartile
    // batch and the kept set with q130's closed form. ----
    "q145_crawl_media_pipeline" -> Q(
      (s, d) => {
        val docs = T.documents(s, d)
        val emb = T.embeddings(s, d)
        val codebook = emb.filter(col("vec_id") < Similarity.IvfCentroids)
          .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
        val hi = docs.select(max(col("doc_id"))).head.getLong(0) + 1
        val batches = (0 until 4).map { k =>
          val lo = hi * k / 4
          val up = if (k == 3) hi else hi * (k + 1) / 4
          docs.filter(col("doc_id") >= lo && col("doc_id") < up)
        }
        val root = Scratch.dir("graft_q145")
        val loop = driveLoop(s, batches, codebook, emb, root,
          tag = "q145_" + d.replaceAll("[^A-Za-z0-9]", "_"),
          media = batches.map(graft.multimodal.Binary.syntheticAviClips))
        loop.mediaKept()
          .join(loop.state().kept
            .select(col("doc_id").as("asset_id"), lit(true).as("doc_kept")),
            Seq("asset_id"), "left")
          .withColumn("doc_kept", coalesce(col("doc_kept"), lit(false)))
      },
      Some(s"""
        WITH RECURSIVE ${Dedup.minhashLshPairsCte},
        exactdrop AS (
          SELECT DISTINCT d2.doc_id
          FROM documents d1 JOIN documents d2
            ON coalesce(d1.text, '') = coalesce(d2.text, '')
           AND d1.doc_id < d2.doc_id
        ),
        neardrop AS (
          SELECT DISTINCT b_id AS doc_id FROM lshv WHERE jac >= 0.8
        ),
        kept AS (
          SELECT doc_id FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM exactdrop)
            AND doc_id NOT IN (SELECT doc_id FROM neardrop)
        ),
        hi AS (SELECT max(doc_id) + 1 AS hi FROM documents),
        a AS (
          SELECT doc_id AS asset_id, doc_id // 3 AS seed,
                 (doc_id % 3) * 2 AS start, 3 + doc_id % 3 AS n,
                 CAST(doc_id >= (SELECT hi FROM hi) * 1 // 4 AS INT)
               + CAST(doc_id >= (SELECT hi FROM hi) * 2 // 4 AS INT)
               + CAST(doc_id >= (SELECT hi FROM hi) * 3 // 4 AS INT) AS q
          FROM documents
        ),
        geo AS (
          SELECT asset_id, seed, start, n, q,
                 8 + seed % 8 AS w, 4 + seed % 4 AS h
          FROM a
        ),
        af AS (
          SELECT asset_id, seed, w, h, q,
                 start + unnest(range(0, n)) AS vf
          FROM geo
        ),
        px AS (
          SELECT asset_id, seed, w, h, q, vf,
                 unnest(range(0, w * h)) AS p
          FROM af
        ),
        fr AS (
          SELECT asset_id, q, w, h, vf,
                 sum((seed + 3 * (p % w) + 7 * (p // w) + 11 * vf) % 256) AS sr,
                 sum((5 * seed + 11 * (p % w) + (p // w) + 3 * vf) % 256) AS sg,
                 sum((2 * seed + (p % w) + 13 * (p // w) + 17 * vf) % 256) AS sb
          FROM px GROUP BY 1, 2, 3, 4, 5
        ),
        pr AS (SELECT DISTINCT asset_id, q, w, h, sr, sg, sb FROM fr),
        np AS (SELECT asset_id, count(*) AS n_prints FROM pr GROUP BY 1),
        sn AS (
          SELECT b.asset_id, count(*) AS n_seen
          FROM pr b
          WHERE EXISTS (SELECT 1 FROM pr r
                        WHERE r.q < b.q AND r.w = b.w AND r.h = b.h
                          AND r.sr = b.sr AND r.sg = b.sg AND r.sb = b.sb)
          GROUP BY 1
        )
        SELECT np.asset_id, CAST(np.n_prints AS BIGINT) AS n_prints,
               CAST(coalesce(sn.n_seen, 0) AS BIGINT) AS n_seen,
               round(CAST(coalesce(sn.n_seen, 0) AS DOUBLE) / np.n_prints, 6)
                 AS coverage,
               CAST(coalesce(sn.n_seen, 0) AS DOUBLE) / np.n_prints < 0.5
                 AS kept,
               np.asset_id IN (SELECT doc_id FROM kept) AS doc_kept
        FROM np LEFT JOIN sn ON np.asset_id = sn.asset_id
      """.stripMargin),
      doc = "crawl loop with media composed in: per-batch frame-print knockout vs the loop-carried registry + text kept set, both oracled"),

    // ---- the crawl FRONTIER composed into the loop (r15 verdict #3):
    // the same 4-batch drive, each batch ingesting its documents' page
    // markup. Per batch: extract every href, canonicalize (q163's
    // normalizer), knock out against the canonical-URL registry (q100's
    // left-anti shape), score survivors by q169's host-quality rollup,
    // append batch-keyed; the store rides the loop's append/compact/
    // manifest lifecycle (kill-and-resume covered in StreamingSpec).
    // Output = the final frontier: every scheduled URL with the batch
    // that first discovered it and its priority. The oracle is closed-
    // form: canonical URLs derived from token positions + the
    // pagination rule, first-discovery batch = the quartile of the
    // minimum discovering doc (quartiles are monotone in doc_id),
    // priority replayed through the q169 CTE chain. ----
    "q179_crawl_frontier" -> Q(
      (s, d) => {
        val docs = T.documents(s, d)
        val emb = T.embeddings(s, d)
        val codebook = emb.filter(col("vec_id") < Similarity.IvfCentroids)
          .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
        val hi = docs.select(max(col("doc_id"))).head.getLong(0) + 1
        def quartiles(df: DataFrame): Seq[DataFrame] = (0 until 4).map { k =>
          val lo = hi * k / 4
          val up = if (k == 3) hi else hi * (k + 1) / 4
          df.filter(col("doc_id") >= lo && col("doc_id") < up)
        }
        // pages synthesized over the FULL corpus, sliced per batch: a
        // page's content (incl. its pagination anchor) is a fact about
        // the page, not about the batch slice — the hostEdges rule
        val pg = Land(graft.operators.LinkGraph.pages(docs))
        val prio = Land(NgramLm.hostQualityRollup(docs)
          .select(col("dst_host"), col("s_sum")))
        val root = Scratch.dir("graft_q179")
        val loop = driveLoop(s, quartiles(docs), codebook, emb, root,
          tag = "q179_" + d.replaceAll("[^A-Za-z0-9]", "_"),
          pagesBatches = quartiles(pg), hostPriority = Some(prio))
        loop.frontier()
      },
      Some(s"""
        WITH ${NgramLm.scoredMilliCtes},${graft.operators.LinkGraph.linksSql},
        roll AS (
          SELECT l.dst_host, CAST(sum(s.s_milli) AS BIGINT) AS s_sum
          FROM links l JOIN scored s ON s.doc_id = l.src_doc
          GROUP BY 1
        ),
        ${graft.operators.LinkGraph.urlsSql},
        hibnd AS (SELECT max(doc_id) + 1 AS hi FROM documents),
        firsts AS (
          SELECT url AS canon_url, any_value(dst_host) AS dst_host,
                 min(src_doc) AS fd
          FROM urls GROUP BY 1
        )
        SELECT f.canon_url, f.dst_host,
               CAST(CAST(f.fd >= (SELECT hi FROM hibnd) * 1 // 4 AS INT)
                  + CAST(f.fd >= (SELECT hi FROM hibnd) * 2 // 4 AS INT)
                  + CAST(f.fd >= (SELECT hi FROM hibnd) * 3 // 4 AS INT)
                    AS BIGINT) AS sched_batch,
               CAST(coalesce(r.s_sum, 0) AS BIGINT) AS priority
        FROM firsts f LEFT JOIN roll r ON f.dst_host = r.dst_host
      """.stripMargin),
      doc = "crawl frontier composed into the loop: per-batch href " +
        "extraction + canonicalization + registry knockout + host-" +
        "quality priority, store-carried with the loop lifecycle; final " +
        "scheduled set oracled closed-form"),

    // ---- Mercator politeness scheduling over the discovered URL set:
    // per-host FIFO queue position (slot) + quality-ranked host order
    // (host_rank) — the deterministic fetch plan a frontier executes
    // one slot-wave at a time. Both windows are oracle-replayed; the
    // URL/priority derivations are the SHARED q179 CTEs, so the
    // schedule cannot drift from the frontier that feeds it. ----
    "q182_politeness_schedule" -> Q(
      (s, d) => {
        val (tc, tp) = q182Store(s, d)
        politenessSchedule(s.table(tc), s.table(tp))
      },
      Some(s"""
        WITH ${NgramLm.scoredMilliCtes},${graft.operators.LinkGraph.linksSql},
        roll AS (
          SELECT l.dst_host, CAST(sum(s.s_milli) AS BIGINT) AS s_sum
          FROM links l JOIN scored s ON s.doc_id = l.src_doc
          GROUP BY 1
        ),
        ${graft.operators.LinkGraph.urlsSql},
        canon AS (SELECT DISTINCT url AS canon_url, dst_host FROM urls),
        hosts AS (
          SELECT h.dst_host, CAST(coalesce(r.s_sum, 0) AS BIGINT) AS priority
          FROM (SELECT DISTINCT dst_host FROM canon) h
          LEFT JOIN roll r ON h.dst_host = r.dst_host
        ),
        ranked AS (
          SELECT dst_host, priority,
                 CAST(dense_rank() OVER (ORDER BY priority DESC, dst_host)
                   AS BIGINT) AS host_rank
          FROM hosts
        )
        SELECT c.canon_url, c.dst_host, r.priority, r.host_rank,
               CAST(row_number() OVER (PARTITION BY c.dst_host
                                       ORDER BY c.canon_url) AS BIGINT)
                 AS slot
        FROM canon c JOIN ranked r ON c.dst_host = r.dst_host
      """.stripMargin),
      doc = "Mercator politeness schedule: per-host FIFO slot + " +
        "quality-ranked host order over the canonicalized URL set; " +
        "host queues window-partitioned by host, cross-host ranking " +
        "sorts only the host dimension; both windows oracled"),

    // ---- frontier RECRAWL policy (r16, VERDICT r15 missing #1): the
    // q179 drive maintains a fetch LOG next to the discovery registry —
    // batch B fetches what batch B−1 scheduled (first fetch), then
    // refreshes each URL every `gap` batches, gap = the host's quality-
    // rank quartile in the q169 feed (tiered refresh, Cho &
    // Garcia-Molina 2003; rank-relative because absolute s_sum
    // magnitudes scale with the corpus — see [[recrawlGaps]]). Output =
    // the wave the NEXT batch (4) would execute — batch-3 discoveries
    // (kind 'new') + tier-due refreshes (kind 'refresh') — fed through
    // q182's politeness scheduler: the recrawl feed and the first-fetch
    // feed land in one deterministic fetch plan. Closed form: a URL
    // discovered at quartile b0 with gap g is fetched at b0+1, b0+1+g,
    // … ≤ 3, so last_fetch = b0+1 + g·((3−(b0+1)) div g) and wave-4 due
    // ⇔ 4 − last_fetch ≥ g — all exact integers, replayed verbatim in
    // the oracle. Durability rides StreamingSpec's kill-and-resume. ----
    "q188_frontier_recrawl" -> Q(
      (s, d) => {
        val docs = T.documents(s, d)
        val emb = T.embeddings(s, d)
        val codebook = emb.filter(col("vec_id") < Similarity.IvfCentroids)
          .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
        val hi = docs.select(max(col("doc_id"))).head.getLong(0) + 1
        def quartiles(df: DataFrame): Seq[DataFrame] = (0 until 4).map { k =>
          val lo = hi * k / 4
          val up = if (k == 3) hi else hi * (k + 1) / 4
          df.filter(col("doc_id") >= lo && col("doc_id") < up)
        }
        val pg = Land(graft.operators.LinkGraph.pages(docs))
        val prio = Land(NgramLm.hostQualityRollup(docs)
          .select(col("dst_host"), col("s_sum")))
        val root = Scratch.dir("graft_q188")
        val loop = driveLoop(s, quartiles(docs), codebook, emb, root,
          tag = "q188_" + d.replaceAll("[^A-Za-z0-9]", "_"),
          pagesBatches = quartiles(pg), hostPriority = Some(prio))
        val wave = Land(loop.nextFetchWave(4L))
        politenessSchedule(wave.select(col("canon_url"), col("dst_host")),
            prio)
          .join(wave.select(col("canon_url"), col("gap"),
            col("last_fetch"), col("kind")), Seq("canon_url"))
          .select(col("canon_url"), col("dst_host"), col("priority"),
            col("gap"), col("last_fetch"), col("kind"), col("host_rank"),
            col("slot"))
      },
      Some(s"""
        WITH ${NgramLm.scoredMilliCtes},${graft.operators.LinkGraph.linksSql},
        roll AS (
          SELECT l.dst_host, CAST(sum(s.s_milli) AS BIGINT) AS s_sum
          FROM links l JOIN scored s ON s.doc_id = l.src_doc
          GROUP BY 1
        ),
        feed AS (
          SELECT dst_host, s_sum,
                 row_number() OVER (ORDER BY s_sum DESC, dst_host) AS r,
                 count(*) OVER () AS h
          FROM roll
        ),
        gaps AS (
          SELECT dst_host,
                 CAST(1 + ((r - 1) * $RecrawlTiers) // h AS BIGINT) AS gap
          FROM feed
        ),
        ${graft.operators.LinkGraph.urlsSql},
        hibnd AS (SELECT max(doc_id) + 1 AS hi FROM documents),
        firsts AS (
          SELECT url AS canon_url, any_value(dst_host) AS dst_host,
                 min(src_doc) AS fd
          FROM urls GROUP BY 1
        ),
        disc AS (
          SELECT f.canon_url, f.dst_host,
                 CAST(CAST(f.fd >= (SELECT hi FROM hibnd) * 1 // 4 AS INT)
                    + CAST(f.fd >= (SELECT hi FROM hibnd) * 2 // 4 AS INT)
                    + CAST(f.fd >= (SELECT hi FROM hibnd) * 3 // 4 AS INT)
                      AS BIGINT) AS b0,
                 CAST(coalesce(r.s_sum, 0) AS BIGINT) AS priority,
                 coalesce(g.gap, 1) AS gap
          FROM firsts f
          LEFT JOIN roll r ON f.dst_host = r.dst_host
          LEFT JOIN gaps g ON f.dst_host = g.dst_host
        ),
        wave AS (
          SELECT canon_url, dst_host, priority, gap,
                 CAST(-1 AS BIGINT) AS last_fetch, 'new' AS kind
          FROM disc WHERE b0 = 3
          UNION ALL
          SELECT canon_url, dst_host, priority, gap,
                 b0 + 1 + gap * ((3 - (b0 + 1)) // gap) AS last_fetch,
                 'refresh' AS kind
          FROM disc
          WHERE b0 <= 2
            AND 4 - (b0 + 1 + gap * ((3 - (b0 + 1)) // gap)) >= gap
        ),
        whosts AS (
          SELECT h.dst_host, CAST(coalesce(r.s_sum, 0) AS BIGINT) AS priority
          FROM (SELECT DISTINCT dst_host FROM wave) h
          LEFT JOIN roll r ON h.dst_host = r.dst_host
        ),
        wranked AS (
          SELECT dst_host,
                 CAST(dense_rank() OVER (ORDER BY priority DESC, dst_host)
                   AS BIGINT) AS host_rank
          FROM whosts
        )
        SELECT w.canon_url, w.dst_host, w.priority, w.gap, w.last_fetch,
               w.kind, rk.host_rank,
               CAST(row_number() OVER (PARTITION BY w.dst_host
                                       ORDER BY w.canon_url) AS BIGINT)
                 AS slot
        FROM wave w JOIN wranked rk ON w.dst_host = rk.dst_host
      """.stripMargin),
      doc = "frontier recrawl policy: tiered refresh (gap = host-quality " +
        "rank quartile in the q169 feed) over the loop-carried fetch " +
        "log; next wave = new first-fetches + due refreshes, composed " +
        "through the politeness scheduler; fully closed-form oracled"),

    // ---- robots exclusion over the frontier (RFC 9309): per-host
    // synthesized Disallow + longer Allow override, longest-match
    // precedence (tie → allow, no match → crawlable). Rules are
    // host-dim sized and join host-keyed; per-URL candidates are
    // constant-size, so the precedence window is batch-proportional.
    // The /next pagination URLs never match a /p rule — the default-
    // allow branch is exercised naturally. Consumes the stored q182
    // canon feed; every branch of the verdict is oracle-replayed. ----
    "q194_robots_exclusion" -> Q(
      (s, d) => {
        val (tc, _) = q182Store(s, d)
        robotsVerdicts(s.table(tc))
      },
      Some(s"""
        WITH ${graft.operators.LinkGraph.linksSql},
        ${graft.operators.LinkGraph.urlsSql},
        canon AS (SELECT DISTINCT url AS canon_url, dst_host FROM urls),
        hosts AS (SELECT DISTINCT dst_host FROM canon),
        rules AS (
          SELECT dst_host,
                 '/p' || CAST(length(dst_host) % 10 AS VARCHAR) AS rule,
                 FALSE AS allow
          FROM hosts
          UNION ALL
          SELECT dst_host,
                 concat('/p', CAST(length(dst_host) % 10 AS VARCHAR),
                        CAST(ascii(substring(dst_host, 1, 1)) % 10
                             AS VARCHAR)),
                 TRUE
          FROM hosts
        ),
        hits AS (
          SELECT c.canon_url, c.dst_host, r.rule, r.allow,
                 starts_with(regexp_replace(c.canon_url,
                               '^[a-z]+://[^/]+', ''), r.rule) AS hit
          FROM canon c JOIN rules r USING (dst_host)
        ),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY canon_url
                      ORDER BY CASE WHEN hit THEN length(rule)
                               ELSE -1 END DESC,
                               allow DESC, rule DESC) AS rn
          FROM hits
        )
        SELECT canon_url, dst_host,
               (NOT hit) OR allow AS fetchable,
               CASE WHEN hit THEN rule END AS rule,
               CASE WHEN hit THEN allow END AS rule_allow
        FROM ranked WHERE rn = 1
      """.stripMargin),
      doc = "robots exclusion (RFC 9309): longest-match rule precedence " +
        "with allow-override on ties over the stored canonical " +
        "frontier; host-dim rule join, constant-size per-URL window; " +
        "all three verdict branches oracled"),

    // ---- TIME-TRAVEL state read (r13): reproducible corpus snapshots.
    // Drive all 4 batches, then reconstruct the state AS OF batch 2
    // from the manifest history alone (Loop.resume asOf) — the
    // data-versioning contract a training pipeline needs ("rebuild the
    // exact corpus snapshot run X trained on"). Works because manifests
    // are immutable commit records and compaction writes epoch-VERSIONED
    // tables/dirs; vacuum bounds the reach (StreamingSpec). The oracle
    // is q130's closed form restricted to the first three quartile
    // batches — LSH pairs/exact dups/clusters on a doc_id-prefix subset
    // equal the full corpus's relations restricted to endpoints in the
    // subset, because every per-doc signature is corpus-independent. ----
    "q148_crawl_time_travel" -> Q(
      (s, d) => {
        val docs = T.documents(s, d)
        val emb = T.embeddings(s, d)
        val codebook = emb.filter(col("vec_id") < Similarity.IvfCentroids)
          .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))
        val hi = docs.select(max(col("doc_id"))).head.getLong(0) + 1
        val batches = (0 until 4).map { k =>
          val lo = hi * k / 4
          val up = if (k == 3) hi else hi * (k + 1) / 4
          docs.filter(col("doc_id") >= lo && col("doc_id") < up)
        }
        val root = Scratch.dir("graft_q148")
        val tag = "q148_" + d.replaceAll("[^A-Za-z0-9]", "_")
        driveLoop(s, batches, codebook, emb, root, tag)
        val at2 = Loop.resume(s, codebook, emb, root, tag,
          template = docs.schema, asOf = Some(2L))
        val st = at2.state()
        st.kept
          .join(st.assigned.select(col("vec_id").as("doc_id"), col("cell")),
            Seq("doc_id"))
          .join(st.summary.select(col("grp").as("lang"),
            col("n").as("lang_n"),
            col("total").as("lang_total_chars")), Seq("lang"))
          .join(st.clusters, Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("n_chars"), col("cell"),
            col("lang_n"), col("lang_total_chars"), col("cluster_id"))
      },
      Some(s"""
        WITH RECURSIVE ${Dedup.minhashLshPairsCte},
        bnd AS (
          SELECT (max(doc_id) + 1) * 3 // 4 AS b FROM documents
        ),
        d3 AS (
          SELECT * FROM documents WHERE doc_id < (SELECT b FROM bnd)
        ),
        exactdrop AS (
          SELECT DISTINCT d2.doc_id
          FROM d3 d1 JOIN d3 d2
            ON coalesce(d1.text, '') = coalesce(d2.text, '')
           AND d1.doc_id < d2.doc_id
        ),
        neardrop AS (
          SELECT DISTINCT b_id AS doc_id FROM lshv
          WHERE jac >= 0.8 AND b_id < (SELECT b FROM bnd)
        ),
        kept AS (
          SELECT doc_id, lang, n_chars FROM d3
          WHERE doc_id NOT IN (SELECT doc_id FROM exactdrop)
            AND doc_id NOT IN (SELECT doc_id FROM neardrop)
        ),
        e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        cents AS (
          SELECT vec_id AS cent_id, v AS centv FROM e
          WHERE vec_id < ${Similarity.IvfCentroids}
        ),
        scored AS (
          SELECT k.doc_id, c.cent_id, ${Similarity.cosSql("b.v", "c.centv")} AS sim
          FROM kept k JOIN e b ON b.vec_id = k.doc_id CROSS JOIN cents c
        ),
        assigned AS (
          SELECT doc_id, cell FROM (
            SELECT doc_id, cent_id AS cell,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY sim DESC, cent_id ASC) AS rn
            FROM scored) WHERE rn = 1
        ),
        summ AS (
          SELECT lang, count(*) AS lang_n,
                 CAST(sum(CAST(n_chars AS DECIMAL(28,2))) AS DOUBLE)
                   AS lang_total_chars
          FROM kept GROUP BY lang
        ),
        cedges AS (
          SELECT a_id AS src, b_id AS dst FROM lshv
          WHERE jac >= 0.8 AND b_id < (SELECT b FROM bnd)
          UNION ALL
          SELECT b_id AS src, a_id AS dst FROM lshv
          WHERE jac >= 0.8 AND b_id < (SELECT b FROM bnd)
        ),
        creach AS (
          SELECT doc_id AS id, doc_id AS lbl FROM d3
          UNION
          SELECT e.dst AS id, r.lbl AS lbl
          FROM creach r JOIN cedges e ON r.id = e.src
        ),
        clusters AS (
          SELECT id AS doc_id, min(lbl) AS cluster_id FROM creach GROUP BY id
        )
        SELECT k.doc_id, k.lang, k.n_chars, a.cell, s.lang_n,
               s.lang_total_chars, c.cluster_id
        FROM kept k
        JOIN assigned a USING (doc_id)
        JOIN summ s ON s.lang = k.lang
        JOIN clusters c USING (doc_id)
      """.stripMargin),
      doc = "time-travel crawl state: manifest-history snapshot read as of an earlier batch (reproducible corpus snapshots), q130's closed form on the prefix")
  )
}
