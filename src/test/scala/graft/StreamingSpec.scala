package graft

import graft.sources.{PagedCursor, PagedSource}
import graft.streaming.Sessionize
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming runs (SURVEY.md §2.9): the stateful sessionizer
  * must emit exactly the batch twin's closed sessions; windowed agg with
  * watermark must run end-to-end; the paged cursor must persist. */
class StreamingSpec extends SparkSpec {
  import Sessionize._
  import spark.implicits._

  private val gap = operators.Streaming.GapNs

  test("foreachBatch streaming drive of incremental dedup equals the full-corpus pair set") {
    // the crawl-ingest production shape for q82: batches of new documents
    // arrive on a stream; each micro-batch is near-dup-checked against the
    // corpus-so-far only (batch-bounded work). Every pair is detected
    // exactly when its LATER endpoint arrives, so the union of per-batch
    // pair sets must equal the all-at-once q55-style pair set — exactly,
    // because prefix filtering is exact whatever df ordering each batch's
    // corpus snapshot induces.
    import org.apache.spark.sql.{DataFrame, Dataset}
    val docs = Tables.documents(spark, sf).cache()
    val expected = operators.Dedup.jaccardPairs(docs, threshold = 0.8)
      .select($"a_id", $"b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val schema = docs.schema
    @volatile var corpus: Option[DataFrame] = None
    val found = scala.collection.mutable.Set[(Long, Long)]()
    val input = MemoryStream[String](spark)
    val q = input.toDS().writeStream
      .foreachBatch { (batch: Dataset[String], _: Long) =>
        if (!batch.isEmpty) {
          val newDocs = spark.read.schema(schema).json(batch).cache()
          val all = corpus.map(_.unionByName(newDocs)).getOrElse(newDocs).cache()
          val pairs = operators.Dedup.jaccardPairsIncremental(
            all, newDocs.select($"doc_id"), threshold = 0.8)
          found ++= pairs.select($"a_id", $"b_id")
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          corpus = Some(all)
        }
      }
      .start()
    (0 until 3).foreach { k =>
      input.addData(docs.filter($"doc_id" % 3 === k).toJSON.collect().toSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(found.toSet == expected, s"streamed ${found.size} vs batch ${expected.size}")
    assert(expected.nonEmpty, "fixture must produce near-dup pairs at 0.8")
  }

  test("foreachBatch streaming drive of block dedup equals the full-corpus run") {
    // q100's production shape: crawl batches arrive in ingest order (doc
    // ids ascend across batches); each micro-batch block-dedupes against
    // the registry-so-far only, then unions its own blocks into the
    // registry. Because a block's global keeper (min doc_id, block_no)
    // always lives in the EARLIEST batch containing it, the union of
    // per-batch outputs must equal the all-at-once q99 run exactly.
    import org.apache.spark.sql.{DataFrame, Dataset}
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text").cache()
    val expected = operators.Dedup.paragraphDedupHashed(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val ids = docs.select($"doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val schema = docs.schema
    @volatile var registry: DataFrame =
      Seq.empty[(Long, Long)].toDF("h_lo", "h_hi")
    val out = scala.collection.mutable.Map[Long, (Long, Long, String)]()
    val input = MemoryStream[String](spark)
    val q = input.toDS().writeStream
      .foreachBatch { (batch: Dataset[String], _: Long) =>
        if (!batch.isEmpty) {
          val newDocs = spark.read.schema(schema).json(batch).cache()
          val cleaned = operators.Dedup.paragraphDedupIncremental(registry, newDocs)
          out ++= cleaned.collect()
            .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
          // registry state must not grow a lazy lineage across batches:
          // materialize the union (the production loop persists it)
          registry = registry
            .unionByName(operators.Dedup.blockRegistry(newDocs))
            .dropDuplicates("h_lo", "h_hi").localCheckpoint()
        }
      }
      .start()
    val slices = Seq(
      docs.filter($"doc_id" <= cuts(0)),
      docs.filter($"doc_id" > cuts(0) && $"doc_id" <= cuts(1)),
      docs.filter($"doc_id" > cuts(1)))
    slices.foreach { s =>
      input.addData(s.toJSON.collect().toSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(out.size == expected.size, s"${out.size} vs ${expected.size}")
    assert(out.toMap == expected)
  }

  test("foreachBatch streaming drive of incremental LSH equals the full-run pair set") {
    // q126's production loop: batches arrive, each pairs against the
    // BAND registry so far (plus itself), then folds its own bands in.
    // Every pair is found exactly when its LATER endpoint arrives (the
    // earlier endpoint is already in the registry, and the bucket the
    // pair shares is touched by the new batch), so the union of
    // per-batch outputs must equal the all-at-once q56 run exactly.
    import org.apache.spark.sql.{DataFrame, Dataset}
    val docs = Tables.documents(spark, sf).cache()
    val expected = operators.Dedup.minhashCandidates(docs, 0.8)
      .select($"a_id", $"b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val schema = docs.schema
    @volatile var registry: Option[DataFrame] = None
    @volatile var corpus: Option[DataFrame] = None
    val found = scala.collection.mutable.Set[(Long, Long)]()
    val input = MemoryStream[String](spark)
    val q = input.toDS().writeStream
      .foreachBatch { (batch: Dataset[String], _: Long) =>
        if (!batch.isEmpty) {
          val newDocs = spark.read.schema(schema).json(batch).cache()
          val all = corpus.map(_.unionByName(newDocs)).getOrElse(newDocs).cache()
          val sets = all.select($"doc_id",
            graft.functions.NGramHash64
              .ngramHashes(graft.functions.TextOps.words($"text"), 1).as("wset"))
          val reg = registry.getOrElse(
            operators.Dedup.minhashBandRegistry(all.limit(0)))
          val pairs = operators.Dedup.minhashCandidatesIncremental(
            reg, sets, newDocs, 0.8)
          found ++= pairs.select($"a_id", $"b_id")
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          registry = Some(reg.unionByName(
            operators.Dedup.minhashBandRegistry(newDocs)).localCheckpoint())
          corpus = Some(all)
        }
      }
      .start()
    (0 until 3).foreach { k =>
      input.addData(docs.filter($"doc_id" % 3 === k).toJSON.collect().toSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(found.toSet == expected,
      s"streamed ${found.size} vs full-run ${expected.size}")
    assert(expected.nonEmpty)
  }

  test("crawl loop with periodic registry compaction: output exact, bucketed anti-join layout survives") {
    // VERDICT r9 §next-8: the production crawl loop with the registry
    // LIFECYCLE wired in — every 2nd micro-batch the registry state is
    // compacted (Dedup.compactedRegistry) and LANDED bucketed on the
    // 128-bit hash key; later batches read the stored table. Contracts:
    // (1) the N-batch union still equals the all-at-once q99 run
    //     exactly (compaction changes representation, never content);
    // (2) after the loop, the stored registry still serves the q100
    //     knockout anti-join with NO registry-side exchange — the
    //     at-scale layout survives the compaction rounds.
    import org.apache.spark.sql.{DataFrame, Dataset}
    import graft.sources.TableSink
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text").cache()
    val expected = operators.Dedup.paragraphDedupHashed(docs)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val ids = docs.select($"doc_id").collect().map(_.getLong(0)).sorted
    val cuts = Seq(ids(ids.length / 4), ids(ids.length / 2), ids(3 * ids.length / 4))
    val schema = docs.schema
    @volatile var registry: DataFrame =
      Seq.empty[(Long, Long)].toDF("h_lo", "h_hi")
    @volatile var batchNo = 0
    val out = scala.collection.mutable.Map[Long, (Long, Long, String)]()
    val input = MemoryStream[String](spark)
    val q = input.toDS().writeStream
      .foreachBatch { (batch: Dataset[String], _: Long) =>
        if (!batch.isEmpty) {
          val newDocs = spark.read.schema(schema).json(batch).cache()
          val cleaned = operators.Dedup.paragraphDedupIncremental(registry, newDocs)
          out ++= cleaned.collect()
            .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
          batchNo += 1
          val folded = operators.Dedup.compactedRegistry(registry, newDocs)
          registry =
            if (batchNo % 2 == 0) {
              // compaction round: land the registry bucketed and read the
              // STORED table back — the loop's durable state handoff
              TableSink.writeBucketed(folded, "b_stream_registry", 8,
                Seq("h_lo", "h_hi"))
              spark.table("b_stream_registry")
            } else folded.localCheckpoint()
        }
      }
      .start()
    val slices = Seq(
      docs.filter($"doc_id" <= cuts(0)),
      docs.filter($"doc_id" > cuts(0) && $"doc_id" <= cuts(1)),
      docs.filter($"doc_id" > cuts(1) && $"doc_id" <= cuts(2)),
      docs.filter($"doc_id" > cuts(2)))
    slices.foreach { s =>
      input.addData(s.toJSON.collect().toSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(batchNo == 4)
    assert(out.size == expected.size, s"${out.size} vs ${expected.size}")
    assert(out.toMap == expected)
    // (2) the landed registry still serves a new batch exchange-free
    import graft.plans.PlanWalk.walk
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = operators.Dedup.paragraphDedupIncremental(
        spark.table("b_stream_registry"),
        docs.filter($"doc_id" % 3 === 0)
          .withColumn("doc_id", $"doc_id" + 5000000L))
      probe.collect()
      val antiJoins = walk(probe.queryExecution.executedPlan).collect {
        case j: BaseJoinExec if j.joinType.sql == "LEFT ANTI" => j
      }
      assert(antiJoins.nonEmpty, "expected the registry knockout anti-join")
      antiJoins.foreach { j =>
        val rightShuffles = walk(j.right)
          .collect { case e: ShuffleExchangeExec => e }
        withClue(j.simpleString(10)) { assert(rightShuffles.isEmpty) }
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("composed crawl loop (q130): streamed drive equals closed-form recompute; flat RDD profile; no-exchange registry pin survives") {
    // VERDICT r10 §next-3: the incremental pieces COMPOSED — per
    // micro-batch exact dedup + LSH near-dedup + ANN assignment +
    // summary maintenance, with registry compaction every 2 batches —
    // must land on exactly the closed-form final state, keep the
    // persistent-RDD profile flat (state lives on storage, not executor
    // memory), and keep the bucketed no-exchange knockout layout after
    // the compaction rounds.
    import org.apache.spark.sql.{DataFrame, Dataset}
    val docs = Tables.documents(spark, sf).cache()
    val emb = Tables.embeddings(spark, sf).cache()
    val codebook = emb.filter($"vec_id" < operators.Similarity.IvfCentroids)
      .select($"vec_id".as("cent_id"), $"embedding".as("centv"))
    val root = java.nio.file.Files.createTempDirectory("graft_crawl").toString
    val loop = new operators.Crawl.Loop(spark, codebook, emb, root,
      tag = "t_crawl", template = docs.schema)
    val schema = docs.schema
    // force the test's own caches before baselining: the profile under
    // test is the LOOP's, and a lazy .cache() materializing inside
    // batch 1 would read as growth
    docs.count(); emb.count()
    val rddBase = spark.sparkContext.getPersistentRDDs.size
    val rddCounts = scala.collection.mutable.ArrayBuffer[Int]()
    val input = MemoryStream[String](spark)
    val q = input.toDS().writeStream
      .foreachBatch { (batch: Dataset[String], id: Long) =>
        if (!batch.isEmpty) {
          // the real foreachBatch contract: pass the streaming batch id so
          // an at-least-once replay is skipped against the manifest
          loop.ingest(spark.read.schema(schema).json(batch), id)
          rddCounts += spark.sparkContext.getPersistentRDDs.size
          ()
        }
      }
      .start()
    val hi = docs.agg(max($"doc_id")).head.getLong(0) + 1
    (0 until 4).foreach { k =>
      val lo = hi * k / 4
      val up = if (k == 3) hi else hi * (k + 1) / 4
      input.addData(docs.filter($"doc_id" >= lo && $"doc_id" < up)
        .toJSON.collect().toSeq)
      q.processAllAvailable()
    }
    q.stop()

    // (1) kept set == the closed form: no exact/near match to a smaller id
    val st = loop.state()
    val exactDrop = docs.as("a").join(docs.as("b"),
      coalesce($"a.text", lit("")) === coalesce($"b.text", lit("")) &&
        $"a.doc_id" < $"b.doc_id")
      .select($"b.doc_id").distinct()
    val nearDrop = operators.Dedup.minhashCandidates(docs, 0.8)
      .select($"b_id".as("doc_id")).distinct()
    val expectedKept = docs
      .join(exactDrop, Seq("doc_id"), "left_anti")
      .join(nearDrop, Seq("doc_id"), "left_anti")
    val keptIds = st.kept.select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == expectedKept.select($"doc_id")
      .collect().map(_.getLong(0)).toSet)
    assert(keptIds.nonEmpty && keptIds.size < docs.count(),
      "the corpus must actually dedup")

    // (2) the MAINTAINED summary equals recompute, exact decimal included
    val gotSum = st.summary
      .select($"grp", $"n", $"__t".cast("string"), $"total")
      .collect().map(_.toSeq).toSet
    val wantSum = graft.warehouse.Summary
      .summarize(expectedKept, $"lang", $"n_chars")
      .select($"grp", $"n", $"__t".cast("string"), $"total")
      .collect().map(_.toSeq).toSet
    assert(gotSum == wantSum)

    // (3) assignments equal a from-scratch assignment of the kept docs
    val gotAssign = st.assigned.select($"vec_id", $"cell")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantAssign = operators.Similarity.assignBatch(codebook,
      expectedKept.select($"doc_id".as("vec_id")).join(emb, Seq("vec_id")))
      .select($"vec_id", $"cell")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotAssign == wantAssign)

    // (3b) the maintained cluster mapping equals the full-corpus
    // q56+CC recompute over EVERY seen doc (kept and dropped alike) —
    // the q135 algebra composed through the store-backed min-fold
    val gotClusters = st.clusters
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantClusters = operators.Dedup.componentsFromEdges(
      docs.select($"doc_id"), operators.Dedup.minhashCandidates(docs, 0.8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotClusters == wantClusters,
      "maintained clusters diverged from the full recompute")
    assert(gotClusters.size == docs.count(),
      "every seen doc must carry a cluster id")

    // (4) flat storage profile: durable handoff keeps state off the
    // executors — no batch may grow the persistent-RDD census
    assert(rddCounts.size == 4)
    assert(rddCounts.forall(_ <= rddBase),
      s"persistent RDDs grew across batches: base=$rddBase counts=$rddCounts")

    // (5) the compacted seen-registry still serves the exact-knockout
    // anti-join with NO registry-side exchange (bucketed layout pin)
    import graft.plans.PlanWalk.walk
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = operators.Crawl.docHashes(
        docs.limit(50).withColumn("doc_id", $"doc_id" + 7000000L))
        .join(spark.table(loop.registryTable("seen").get),
          Seq("h_lo", "h_hi"), "left_anti")
      probe.collect()
      val antiJoins = walk(probe.queryExecution.executedPlan).collect {
        case j: BaseJoinExec if j.joinType.sql == "LEFT ANTI" => j
      }
      assert(antiJoins.nonEmpty)
      antiJoins.foreach { j =>
        val rightShuffles = walk(j.right)
          .collect { case e: ShuffleExchangeExec => e }
        withClue(j.simpleString(10)) { assert(rightShuffles.isEmpty) }
      }

      // (5b) the cluster-store endpoint probe broadcasts the ENDPOINT
      // set and streams the corpus-sized store — no store-side exchange
      // (the shape the per-batch cluster maintenance step relies on; a
      // left join built on the store side would shuffle the whole
      // mapping every batch)
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      import org.apache.spark.sql.catalyst.optimizer.BuildRight
      val probeEp = Seq(1L, 5L, 7000001L).toDF("doc_id")
      val probe2 = operators.Crawl.endpointRoots(
        spark.table(loop.registryTable("clusters").get), probeEp)
      probe2.collect()
      val bhj = walk(probe2.queryExecution.executedPlan).collect {
        case j: BroadcastHashJoinExec => j
      }
      assert(bhj.nonEmpty, "cluster-store probe must broadcast the endpoints")
      bhj.foreach { j =>
        val streamed = if (j.buildSide == BuildRight) j.left else j.right
        val storeShuffles = walk(streamed)
          .collect { case e: ShuffleExchangeExec => e }
        withClue(j.simpleString(10)) { assert(storeShuffles.isEmpty) }
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("crawl soak: 16 small batches with compactEvery=4 — append files never accumulate past a cycle, knockout plan no-exchange at every cycle, final state exact") {
    // VERDICT r11 §next-6: q130 stresses a 4×25% drive; steady state at
    // 100 TB is many small batches over many compaction cycles. Drive 16
    // ~6% batches, compacting every 4, and assert the STRUCTURAL
    // flatness wall-clock flatness follows from: (a) the seen registry's
    // input-file census resets to the bucketed base at every compaction
    // and never exceeds base + one cycle's appends in between (no
    // small-file creep), (b) the post-compaction exact-knockout
    // anti-join serves with NO registry-side exchange at EVERY cycle,
    // not just the last, (c) the committed manifests record the same
    // bounded append lists (the durable view agrees with the in-memory
    // one), (d) the final kept set equals the closed form. Per-batch
    // wall at sf0.1 is measured by tools/ProfileCrawlSoak → SCALE.md.
    import graft.operators.Crawl
    import graft.plans.PlanWalk.walk
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val docs = Tables.documents(spark, sf).cache()
    val emb = Tables.embeddings(spark, sf).cache()
    val codebook = emb.filter($"vec_id" < operators.Similarity.IvfCentroids)
      .select($"vec_id".as("cent_id"), $"embedding".as("centv"))
    val hi = docs.agg(max($"doc_id")).head.getLong(0) + 1
    val nBatches = 16
    val compactEvery = 4
    val buckets = 8
    val batches = (0 until nBatches).map { k =>
      val lo = hi * k / nBatches
      val up = if (k == nBatches - 1) hi else hi * (k + 1) / nBatches
      docs.filter($"doc_id" >= lo && $"doc_id" < up)
    }
    // media rides the soak too (VERDICT r12 §next-3): every batch
    // carries its documents' clips, so small-file control and the
    // compaction cadence are exercised on the print registry as well
    val media = batches.map(b => graft.multimodal.Binary.syntheticAviClips(b))
    val root = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val loop = new Crawl.Loop(spark, codebook, emb, root, tag = "t_soak",
      compactEvery = compactEvery, buckets = buckets, template = docs.schema)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // base (≤ buckets files) + one cycle's appends (≤ compactEvery dirs ×
    // (partitions + a possible _SUCCESS-free straggler))
    val fileCap = buckets + compactEvery * (shufflePartitions + 1)
    (0 until nBatches).foreach { k =>
      loop.ingest(batches(k), k, Some(media(k)))
      val seenFiles = loop.state().seen.inputFiles.length
      assert(seenFiles <= fileCap,
        s"batch $k: seen registry reads $seenFiles files (> $fileCap) — append accumulation")
      assert(loop.mediaPrints().inputFiles.length <= fileCap,
        s"batch $k: media print registry accumulates append files")
      if ((k + 1) % compactEvery == 0) {
        // (a) census resets to the bucketed base alone
        assert(loop.state().seen.inputFiles.length <= buckets,
          s"cycle at batch $k: compaction did not reset the append census")
        assert(loop.mediaPrints().inputFiles.length <= buckets,
          s"cycle at batch $k: media registry compaction did not reset the census")
        // (b) knockout plan pin at THIS cycle
        val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val probe = Crawl.docHashes(
            docs.limit(20).withColumn("doc_id", $"doc_id" + 8000000L))
            .join(spark.table(loop.registryTable("seen").get),
              Seq("h_lo", "h_hi"), "left_anti")
          probe.collect()
          val antiJoins = walk(probe.queryExecution.executedPlan).collect {
            case j: BaseJoinExec if j.joinType.sql == "LEFT ANTI" => j
          }
          assert(antiJoins.nonEmpty)
          antiJoins.foreach { j =>
            val rightShuffles = walk(j.right)
              .collect { case e: ShuffleExchangeExec => e }
            withClue(s"cycle at batch $k: ${j.simpleString(10)}") {
              assert(rightShuffles.isEmpty)
            }
          }
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      }
    }
    // (c) the DURABLE manifests saw the same bounded lifecycle
    (0 until nBatches).foreach { k =>
      val m = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/manifest/m$k")), "UTF-8")
      val seenBatches = m.linesIterator
        .find(_.startsWith("store.seen.batches=")).get
        .stripPrefix("store.seen.batches=").split(',').count(_.nonEmpty)
      assert(seenBatches <= compactEvery, s"manifest m$k: $seenBatches appends")
      if ((k + 1) % compactEvery == 0)
        assert(seenBatches == 0, s"manifest m$k: compaction not recorded")
    }
    // (d) final kept set equals the closed form
    val exactDrop = docs.as("a").join(docs.as("b"),
      coalesce($"a.text", lit("")) === coalesce($"b.text", lit("")) &&
        $"a.doc_id" < $"b.doc_id")
      .select($"b.doc_id").distinct()
    val nearDrop = operators.Dedup.minhashCandidates(docs, 0.8)
      .select($"b_id".as("doc_id")).distinct()
    val expectedKept = docs
      .join(exactDrop, Seq("doc_id"), "left_anti")
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val keptIds = loop.state().kept.select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds == expectedKept)
    // (e) the cluster mapping survives 16 small batches + 4 history
    // squashes exactly: min-fold over the compacted store == the
    // full-corpus q56+CC recompute
    val gotClusters = loop.state().clusters
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantClusters = operators.Dedup.componentsFromEdges(
      docs.select($"doc_id"), operators.Dedup.minhashCandidates(docs, 0.8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotClusters == wantClusters,
      "soak: maintained clusters diverged from the full recompute")
    // (f) the loop-carried media verdict across 16 batches + 4 registry
    // squashes equals the standalone q144 knockout replayed per batch
    // (registry = strictly earlier batches' prints): the store lifecycle
    // must never change a verdict
    val wantMedia = (0 until nBatches).map { k =>
      if (k == 0)
        operators.Multimodal.videoDedupIncremental(
          spark.createDataFrame(spark.sparkContext.emptyRDD[
            org.apache.spark.sql.Row],
            operators.Multimodal.videoPrintRegistry(media(0)).schema),
          media(0), dropAt = 0.5)
      else
        operators.Multimodal.videoDedupIncremental(
          operators.Multimodal.videoPrintRegistry(
            docs.filter($"doc_id" < hi * k / nBatches)
              .transform(graft.multimodal.Binary.syntheticAviClips)),
          media(k), dropAt = 0.5)
    }.reduce(_.unionByName(_)).collect().map(_.toSeq).toSet
    assert(loop.mediaKept().collect().map(_.toSeq).toSet == wantMedia,
      "soak: loop-carried media verdicts diverged from the standalone knockout")
  }

  test("crawl loop kill-and-resume: a loop rebuilt from the durable manifest alone reaches the uninterrupted drive's exact final state") {
    // VERDICT r11 §next-1 + advisor: the loop's lifecycle pointers must
    // live on storage, not in driver memory. Drive 2 of 4 batches
    // (crossing one compaction), DISCARD the loop, plant crash remnants
    // of an uncommitted batch 2 (data dirs written, no manifest), drop
    // the compacted catalog entries (a restarted driver has a fresh
    // metastore), then Loop.resume from root alone and finish the
    // drive. Final state must be bit-equal to an uninterrupted drive,
    // and a replayed already-committed batch must be a no-op.
    import graft.operators.Crawl
    val docs = Tables.documents(spark, sf).cache()
    val emb = Tables.embeddings(spark, sf).cache()
    val codebook = emb.filter($"vec_id" < operators.Similarity.IvfCentroids)
      .select($"vec_id".as("cent_id"), $"embedding".as("centv"))
    val hi = docs.agg(max($"doc_id")).head.getLong(0) + 1
    val batches = (0 until 4).map { k =>
      val lo = hi * k / 4
      val up = if (k == 3) hi else hi * (k + 1) / 4
      docs.filter($"doc_id" >= lo && $"doc_id" < up)
    }
    // media rides the same drive (VERDICT r12 §next-3): each batch
    // ingests its documents' video clips, so the kill/resume property
    // covers the frame-print registry and verdict stores too
    val media = batches.map(b => graft.multimodal.Binary.syntheticAviClips(b))
    // the frontier rides it too (r15): each batch ingests its pages
    // (synthesized over the FULL corpus, sliced per batch — the
    // hostEdges rule) against a small synthetic host-priority feed
    val pg = operators.LinkGraph.pages(docs).localCheckpoint()
    val pages = batches.map(b =>
      pg.join(b.select($"doc_id"), Seq("doc_id")))
    val prio = operators.LinkGraph.hostEdges(docs)
      .select($"dst".as("dst_host")).distinct()
      .select($"dst_host", length($"dst_host").cast("long").as("s_sum"))
      .localCheckpoint()
    def snap(loop: Crawl.Loop): Seq[Set[Seq[Any]]] = {
      val st = loop.state()
      Seq(
        st.kept.collect().map(_.toSeq).toSet,
        st.summary.select($"grp", $"n", $"__t".cast("string"), $"total")
          .collect().map(_.toSeq).toSet,
        st.assigned.select($"vec_id", $"cell").collect().map(_.toSeq).toSet,
        st.seen.collect().map(_.toSeq).toSet,
        st.bands.select($"doc_id").distinct().collect().map(_.toSeq).toSet,
        st.clusters.collect().map(_.toSeq).toSet,
        loop.mediaKept().collect().map(_.toSeq).toSet,
        loop.mediaPrints().distinct().collect().map(_.toSeq).toSet,
        loop.frontier().collect().map(_.toSeq).toSet,
        // the recrawl member (r16): both the last-fetch VIEW and the
        // wave the next batch would execute must survive kill/resume
        loop.fetches().collect().map(_.toSeq).toSet,
        loop.nextFetchWave(4L).collect().map(_.toSeq).toSet)
    }

    val rootRef = java.nio.file.Files.createTempDirectory("graft_res_ref").toString
    val ref = snap(Crawl.driveLoop(spark, batches, codebook, emb, rootRef,
      tag = "t_res_ref", media = media, pagesBatches = pages,
      hostPriority = Some(prio)))

    val root = java.nio.file.Files.createTempDirectory("graft_res").toString
    val loop1 = new Crawl.Loop(spark, codebook, emb, root,
      tag = "t_res", template = docs.schema, hostPriority = Some(prio))
    loop1.ingest(batches(0), 0, Some(media(0)), Some(pages(0)))
    loop1.ingest(batches(1), 1, Some(media(1)), Some(pages(1))) // compactEvery=2 → compaction landed here
    assert(loop1.registryTable("seen").nonEmpty, "expected a compaction")
    assert(loop1.registryTable("prints").nonEmpty,
      "expected the media registry to compact on the same cadence")
    assert(loop1.registryTable("frontier").nonEmpty,
      "expected the frontier registry to compact on the same cadence")
    assert(loop1.registryTable("fetches").nonEmpty,
      "expected the fetch log to compact on the same cadence")
    // crash remnants: batch 2 started landing data but never committed a
    // manifest — the resumed loop must overwrite these dirs in place
    Crawl.docHashes(batches(0))
      .write.mode("overwrite").parquet(s"$root/seen/append1/b2")
    batches(0).select($"doc_id", $"lang", $"n_chars")
      .write.mode("overwrite").parquet(s"$root/batch_kept/v2")
    graft.multimodal.Binary.decodeFrameSums(media(0))
      .select($"asset_id", $"width", $"height", $"sum_r", $"sum_g", $"sum_b")
      .write.mode("overwrite").parquet(s"$root/batch_prints/v2")
    Seq(("http://stale.example.com/x", "stale.example.com", 2L, 0L))
      .toDF("canon_url", "dst_host", "sched_batch", "priority")
      .write.mode("overwrite").parquet(s"$root/batch_frontier/v2")
    Seq(("http://stale.example.com/x", "stale.example.com", 0L, 1L, 2L))
      .toDF("canon_url", "dst_host", "priority", "gap", "fetch_batch")
      .write.mode("overwrite").parquet(s"$root/batch_fetches/v2")
    // fresh-metastore simulation: external tables dropped from the
    // catalog (data stays under root); resume must re-register them
    Seq("seen", "bands", "sets", "prints", "media_kept",
        "frontier", "fetches").foreach { s =>
      spark.sql(s"DROP TABLE IF EXISTS t_res_${s}_e1")
    }
    // loop1 is gone; rebuild from root ALONE
    val loop2 = Crawl.Loop.resume(spark, codebook, emb, root,
      tag = "t_res", template = docs.schema, hostPriority = Some(prio))
    assert(loop2.nextBatchId == 2L,
      s"resume must continue at batch 2, got ${loop2.nextBatchId}")
    loop2.ingest(batches(2), 2, Some(media(2)), Some(pages(2)))
    loop2.ingest(batches(3), 3, Some(media(3)), Some(pages(3)))
    val fin = snap(loop2)
    assert(fin == ref, "resumed drive diverged from the uninterrupted drive")
    // at-least-once replay of a COMMITTED batch: skipped whole
    loop2.ingest(batches(3), 3, Some(media(3)), Some(pages(3)))
    loop2.ingest(batches(1), 1, Some(media(1)), Some(pages(1)))
    assert(snap(loop2) == ref, "replayed committed batch mutated state")
    // and the re-registered bucketed registry still serves the knockout
    // anti-join with no registry-side exchange (the resume must not cost
    // the bucketed layout)
    import graft.plans.PlanWalk.walk
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Crawl.docHashes(
        docs.limit(50).withColumn("doc_id", $"doc_id" + 9000000L))
        .join(spark.table(loop2.registryTable("seen").get),
          Seq("h_lo", "h_hi"), "left_anti")
      probe.collect()
      val antiJoins = walk(probe.queryExecution.executedPlan).collect {
        case j: BaseJoinExec if j.joinType.sql == "LEFT ANTI" => j
      }
      assert(antiJoins.nonEmpty)
      antiJoins.foreach { j =>
        val rightShuffles = walk(j.right)
          .collect { case e: ShuffleExchangeExec => e }
        withClue(j.simpleString(10)) { assert(rightShuffles.isEmpty) }
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("crash mid-ingest: appends + compaction landed but no manifest — resume re-runs the batch to the clean drive's exact state") {
    // VERDICT r12 §next-4: the claim that an uncommitted crashed attempt
    // "re-runs idempotently" finally gets its test. The crash point is
    // the WORST one: every store append of batch 3 has landed AND the
    // epoch-2 compaction has rewritten the registry tables — only the
    // manifest commit is missing. Resume must see batch 2 as the last
    // committed state, re-ingest batch 3 over its own remnants (append
    // dirs overwritten in place, epoch-2 tables dropped + rewritten),
    // and reach a final state bit-equal to an uninterrupted drive's.
    import graft.operators.Crawl
    val docs = Tables.documents(spark, sf).cache()
    val emb = Tables.embeddings(spark, sf).cache()
    val codebook = emb.filter($"vec_id" < operators.Similarity.IvfCentroids)
      .select($"vec_id".as("cent_id"), $"embedding".as("centv"))
    val hi = docs.agg(max($"doc_id")).head.getLong(0) + 1
    val batches = (0 until 4).map { k =>
      val lo = hi * k / 4
      val up = if (k == 3) hi else hi * (k + 1) / 4
      docs.filter($"doc_id" >= lo && $"doc_id" < up)
    }
    val media = batches.map(b => graft.multimodal.Binary.syntheticAviClips(b))
    def snap(loop: Crawl.Loop): Seq[Set[Seq[Any]]] = {
      val st = loop.state()
      Seq(
        st.kept.collect().map(_.toSeq).toSet,
        st.summary.select($"grp", $"n", $"__t".cast("string"), $"total")
          .collect().map(_.toSeq).toSet,
        st.assigned.select($"vec_id", $"cell").collect().map(_.toSeq).toSet,
        st.seen.collect().map(_.toSeq).toSet,
        st.clusters.collect().map(_.toSeq).toSet,
        loop.mediaKept().collect().map(_.toSeq).toSet,
        loop.mediaPrints().distinct().collect().map(_.toSeq).toSet)
    }
    val rootRef = java.nio.file.Files
      .createTempDirectory("graft_crash_ref").toString
    val ref = snap(Crawl.driveLoop(spark, batches, codebook, emb, rootRef,
      tag = "t_crash_ref", media = media))

    val root = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val loop1 = new Crawl.Loop(spark, codebook, emb, root,
      tag = "t_crash", template = docs.schema)
    loop1.ingest(batches(0), 0, Some(media(0)))
    loop1.ingest(batches(1), 1, Some(media(1))) // epoch-1 compaction
    loop1.ingest(batches(2), 2, Some(media(2)))
    // batch 3 CRASHES immediately before its manifest commit — after the
    // epoch-2 compaction already rewrote every registry table
    loop1.ingestCrashBeforeCommit(batches(3), 3, Some(media(3)))
    assert(spark.catalog.tableExists("t_crash_seen_e2"),
      "test setup: the crashed attempt must have compacted epoch 2")
    // loop1 is now inconsistent with durable state by construction —
    // discarded. Resume sees manifest m2 only.
    val loop2 = Crawl.Loop.resume(spark, codebook, emb, root,
      tag = "t_crash", template = docs.schema)
    assert(loop2.nextBatchId == 3L,
      s"crashed batch must not be committed, got ${loop2.nextBatchId}")
    loop2.ingest(batches(3), 3, Some(media(3)))
    assert(snap(loop2) == ref,
      "crash + re-ingest diverged from the uninterrupted drive")
    // and a full restart AFTER the re-ingest reads the same state (the
    // re-written epoch-2 tables are what the new manifest names)
    val loop3 = Crawl.Loop.resume(spark, codebook, emb, root,
      tag = "t_crash", template = docs.schema)
    assert(loop3.nextBatchId == 4L)
    assert(snap(loop3) == ref, "post-recovery resume diverged")
  }

  test("vacuum + time-travel: retention GC deletes every unreferenced epoch/manifest, state and resume unchanged, snapshots bounded by retention") {
    import graft.operators.Crawl
    val docs = Tables.documents(spark, sf).cache()
    val emb = Tables.embeddings(spark, sf).cache()
    val codebook = emb.filter($"vec_id" < operators.Similarity.IvfCentroids)
      .select($"vec_id".as("cent_id"), $"embedding".as("centv"))
    val hi = docs.agg(max($"doc_id")).head.getLong(0) + 1
    val batches = (0 until 6).map { k =>
      val lo = hi * k / 6
      val up = if (k == 5) hi else hi * (k + 1) / 6
      docs.filter($"doc_id" >= lo && $"doc_id" < up)
    }
    val media = batches.map(b => graft.multimodal.Binary.syntheticAviClips(b))
    def snap(loop: Crawl.Loop): Seq[Set[Seq[Any]]] = {
      val st = loop.state()
      Seq(st.kept.collect().map(_.toSeq).toSet,
        st.seen.collect().map(_.toSeq).toSet,
        st.clusters.collect().map(_.toSeq).toSet,
        loop.mediaKept().collect().map(_.toSeq).toSet,
        loop.mediaPrints().distinct().collect().map(_.toSeq).toSet)
    }
    val root = java.nio.file.Files.createTempDirectory("graft_vac").toString
    val loop = new Crawl.Loop(spark, codebook, emb, root, tag = "t_vac",
      template = docs.schema)
    (0 until 6).foreach(k => loop.ingest(batches(k), k, Some(media(k))))
    // TIME-TRAVEL before the GC: the snapshot at batch 3 must bit-equal
    // a fresh 4-batch drive of the same corpus (the q148 property on
    // its full state, including media stores)
    val at3 = Crawl.Loop.resume(spark, codebook, emb, root, tag = "t_vac",
      template = docs.schema, asOf = Some(3L))
    assert(at3.nextBatchId == 4L)
    val rootRef = java.nio.file.Files
      .createTempDirectory("graft_vac_ref").toString
    val ref4 = Crawl.driveLoop(spark, batches.take(4), codebook, emb,
      rootRef, tag = "t_vac_ref", media = media.take(4))
    assert(snap(at3) == snap(ref4),
      "time-travel snapshot diverged from the equivalent shorter drive")
    // ---- vacuum: retain only the newest manifest ----
    val before = snap(loop)
    def census(): Set[String] = {
      def walk(p: java.nio.file.Path): Seq[String] = {
        val s = java.nio.file.Files.list(p).iterator()
        var out = Vector.empty[String]
        while (s.hasNext) {
          val c = s.next()
          out :+= c.toString
          if (java.nio.file.Files.isDirectory(c)) out ++= walk(c)
        }
        out
      }
      walk(java.nio.file.Paths.get(root)).map(_.stripPrefix(root)).toSet
    }
    val pre = census()
    loop.vacuum(retainManifests = 1)
    val post = census()
    assert(post.size < pre.size, "vacuum deleted nothing")
    // superseded artifacts are GONE: old manifests, pre-current append
    // epochs, superseded compacted generations, old summary versions
    (0 until 5).foreach { k =>
      assert(!post.contains(s"/manifest/m$k"), s"manifest m$k survived")
    }
    assert(post.exists(_.startsWith("/manifest/m5")))
    assert(!post.exists(_.contains("/seen/append0")), "old epoch survived")
    assert(!post.exists(_.contains("/seen/compact1")),
      "superseded compacted generation survived")
    assert(post.exists(_.contains("/seen/compact3")),
      "current compacted generation must survive")
    (0 until 5).foreach { k =>
      assert(!post.contains(s"/summary/v$k"), s"summary v$k survived")
    }
    // state unchanged through the GC, resume still lands on batch 6
    assert(snap(loop) == before, "vacuum changed the current state")
    val resumed = Crawl.Loop.resume(spark, codebook, emb, root,
      tag = "t_vac", template = docs.schema)
    assert(resumed.nextBatchId == 6L)
    assert(snap(resumed) == before, "post-vacuum resume diverged")
    // and the loop keeps ingesting after the GC
    resumed.ingest(batches(5).withColumn("doc_id", $"doc_id" + hi), 6,
      Some(media(5)))
    assert(resumed.nextBatchId == 7L)
    // time-travel past the retention window now resolves to EMPTY (the
    // documented snapshot-store trade), never to a wrong state
    val gone = Crawl.Loop.resume(spark, codebook, emb, root, tag = "t_vac",
      template = docs.schema, asOf = Some(3L))
    assert(gone.nextBatchId == 0L,
      "a vacuumed snapshot must resolve to a fresh loop, not a wrong state")
  }

  test("foreachBatch streaming drive of the incremental warehouse equals the batch run") {
    // the reference's hourly production shape (pyspark_dag2.py:447-448 —
    // per-snapshot batch loads) in streaming clothes: raw JSON rows arrive
    // on a stream, each micro-batch stages and merges into the SAME stored
    // star a batch run maintains. Final tables must equal the q75/q76
    // two-phase batch result bit-for-bit.
    import graft.ibrd.{Clean, Fixture, IbrdWarehouse}
    import graft.sources.TableSink
    val root = java.nio.file.Files.createTempDirectory("graft_stream_incr").toString

    // expected: the two-phase batch run with persist/load between steps
    val stagedAll = Clean.stage(Fixture.raw(spark)).cache()
    val eSink1 = new TableSink(s"$root/exp1")
    val eSink2 = new TableSink(s"$root/exp2")
    IbrdWarehouse.persist(IbrdWarehouse.build(spark,
      stagedAll.filter($"end_of_period" === "30-jun-2023"), "2023-07-01"), eSink1)
    IbrdWarehouse.persist(IbrdWarehouse.incremental(
      IbrdWarehouse.load(spark, eSink1),
      stagedAll.filter($"end_of_period" === "30-jun-2024"), "2024-07-01"), eSink2)
    val expected = IbrdWarehouse.load(spark, eSink2)

    // streaming drive: the STAGED slices arrive as JSON rows — staging is
    // upstream of the warehouse load (q75/q76 slice a jointly-staged
    // dataset too: the global forward-fill interleaves snapshots in raw
    // order, so staging inside each micro-batch would see a different
    // fill history and the comparison would be apples-to-oranges)
    val stagedSchema = stagedAll.schema
    def batchLines(snapshot: String): Seq[String] =
      stagedAll.filter($"end_of_period" === snapshot).toJSON.collect().toSeq
    val asOfBySnapshot = Map("30-jun-2023" -> "2023-07-01",
      "30-jun-2024" -> "2024-07-01")
    // each batch writes a NEW star version and flips the pointer — a lazy
    // plan reading v(n) while overwriting v(n) in place would delete its
    // own input files mid-job (the stored-table contract needs either
    // versioned dirs or write-then-swap)
    @volatile var current: Option[TableSink] = None
    val input = MemoryStream[String](spark)
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], id: Long) =>
        if (!batch.isEmpty) {
          val staged = spark.read.schema(stagedSchema).json(batch)
          val asOf = asOfBySnapshot(
            staged.select(max($"end_of_period")).head.getString(0))
          val scope = new graft.warehouse.CacheScope
          val next = current match {
            case None => IbrdWarehouse.build(spark, staged, asOf, scope)
            case Some(prev) => IbrdWarehouse.incremental(
              IbrdWarehouse.load(spark, prev), staged, asOf, scope)
          }
          val vSink = new TableSink(s"$root/stream/v$id")
          IbrdWarehouse.persist(next, vSink)
          scope.release() // batch caches die with the batch
          current = Some(vSink)
        }
      }
      .start()
    input.addData(batchLines("30-jun-2023"))
    q.processAllAvailable()
    input.addData(batchLines("30-jun-2024"))
    q.processAllAvailable()
    q.stop()

    val got = IbrdWarehouse.load(spark, current.get)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    assert(rows(got.dimProject) == rows(expected.dimProject))
    assert(rows(got.dimCountry) == rows(expected.dimCountry))
    assert(rows(got.fact) == rows(expected.fact))
    assert(got.fact.count() == expected.fact.count())
  }

  test("incremental warehouse releases its caches per batch (no storage-block growth)") {
    // the round-4 bench inflation mechanism: Scd.merge + incremental cached
    // per batch and never unpersisted, so a long-running foreachBatch drive
    // accumulated storage blocks without bound. With an owned CacheScope
    // released after persist, the persistent-RDD count must return to the
    // post-batch-1 baseline after EVERY subsequent batch.
    import graft.ibrd.{Clean, Fixture, IbrdWarehouse}
    import graft.sources.TableSink
    import graft.warehouse.CacheScope
    val root = java.nio.file.Files.createTempDirectory("graft_scope").toString
    val stagedAll = Clean.stage(Fixture.raw(spark)).cache()
    val stagedSchema = stagedAll.schema
    val nBatches = 5
    def slice(k: Int): Seq[String] =
      stagedAll.filter(pmod(abs(hash($"loan_number")), lit(nBatches)) === k)
        .toJSON.collect().toSeq

    // sanity on the scope plumbing itself: the engine must register its
    // caches against the scope it was handed
    locally {
      val probe = new CacheScope
      val star = IbrdWarehouse.build(spark,
        spark.read.schema(stagedSchema).json(slice(0).toDS()), "2023-01-01", probe)
      star.fact.count()
      assert(probe.trackedCount > 0, "the engine must register caches with the scope")
      probe.release()
      assert(probe.trackedCount == 0)
    }

    @volatile var current: Option[TableSink] = None
    val rddCounts = scala.collection.mutable.ArrayBuffer[Int]()
    val storageCounts = scala.collection.mutable.ArrayBuffer[Int]()
    val landingsLeft = scala.collection.mutable.ArrayBuffer[Int]()
    val sc = spark.sparkContext
    val preexisting = sc.getPersistentRDDs.keySet
    val input = MemoryStream[String](spark)
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], id: Long) =>
        if (!batch.isEmpty) {
          val staged = spark.read.schema(stagedSchema).json(batch)
          val asOf = f"2023-${id + 1}%02d-01"
          val vSink = new TableSink(s"$root/v$id")
          // the one-call production shape: build/merge + persist + release
          IbrdWarehouse.runBatch(spark, current, staged, asOf, vSink)
          current = Some(vSink)
          rddCounts += sc.getPersistentRDDs.size
          storageCounts += sc.getRDDStorageInfo.length
          // a landed page is a locally checkpointed RDD: none created by
          // the batch may still hold blocks once runBatch has released
          landingsLeft += sc.getPersistentRDDs.count { case (id, rdd) =>
            !preexisting(id) && rdd.isCheckpointed }
          ()
        }
      }
      .start()
    (0 until nBatches).foreach { k =>
      input.addData(slice(k))
      q.processAllAvailable()
    }
    q.stop()

    assert(rddCounts.size == nBatches)
    val baseline = rddCounts.head
    // flat profile: no batch may leave more persisted RDDs than batch 1 did
    assert(rddCounts.forall(_ <= baseline),
      s"storage blocks grew batch-over-batch: $rddCounts")
    assert(storageCounts.forall(_ <= storageCounts.head),
      s"cached RDDs grew batch-over-batch: $storageCounts")
    assert(landingsLeft.forall(_ == 0),
      s"landed pages outlived their batch's release: $landingsLeft")
    // and the final star is a real warehouse: every staged loan landed
    val fact = IbrdWarehouse.load(spark, current.get).fact
    assert(fact.count() > 0)

    // reading and overwriting the same storage in one batch must be
    // refused up front (a lazy plan would delete its own input mid-job)
    val same = current.get
    val eSame = intercept[IllegalArgumentException] {
      IbrdWarehouse.runBatch(spark, Some(same),
        spark.read.schema(stagedSchema).json(slice(0).toDS()), "2024-01-01", same)
    }
    assert(eSame.getMessage.contains("same storage"))
  }

  test("stateful streaming sessionizer matches the batch twin's closed sessions") {
    implicit val s = spark
    val events = Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"value").as[Ev]
      .collect().sortBy(e => (e.ts, e.event_id))

    val input = MemoryStream[Ev](spark)
    val out = streaming(input.toDS(), gap)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // feed in two micro-batches split mid-stream (state must carry across)
    val (b1, b2) = events.splitAt(events.length / 2)
    input.addData(b1.toIndexedSeq)
    q.processAllAvailable()
    input.addData(b2.toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sessions")
      .select("user_id", "session_seq", "n_events", "session_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6))).toSet

    val batchAll = Sessionize.batch(Tables.events(spark, sf), gap)
    // streaming emits only CLOSED sessions; the batch twin's final session
    // per user is still open — drop it for the comparison
    val lastSeq = batchAll.groupBy("user_id")
      .agg(max("session_seq").as("last_seq"))
    val closed = batchAll.join(lastSeq, "user_id")
      .filter($"session_seq" < $"last_seq")
      .select("user_id", "session_seq", "n_events", "session_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6))).toSet

    assert(streamed == closed)
    assert(streamed.nonEmpty)
  }

  test("watermarked tumbling-window aggregation runs end-to-end on a file stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    // stage events with a proper µs timestamp column for event-time semantics
    Tables.events(spark, sf)
      .withColumn("ets", timestamp_micros(($"ts" / 1000).cast("long")))
      .select("ets", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
      .withWatermark("ets", "1 hour")
      .groupBy(window($"ets", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))
    val q = stream.writeStream.format("memory").queryName("winagg")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("winagg")
    val want = SparkEntry.queries("q40_tumbling_window")(spark, sf)
    assert(got.count() == want.count())
    assert(got.agg(sum("n")).head.getLong(0) == Tables.events(spark, sf).count())
  }

  test("sliding window(size, slide) stream matches the q88 batch twin") {
    val dir = java.nio.file.Files.createTempDirectory("graft_slide").toString
    Tables.events(spark, sf)
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .select("ets", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in")
      .withWatermark("ets", "1 hour")
      .groupBy(window($"ets", "1 hour", "30 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("slideagg")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    // compare in the µs domain: stream keys are window-start timestamps,
    // the batch twin keys are ns bucket starts (exactly µs-representable)
    val got = spark.table("slideagg")
      .select(unix_micros($"window.start").as("start_us"), $"event_type", $"n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = SparkEntry.queries("q88_sliding_window")(spark, sf)
      .select(expr("win_start div 1000").as("start_us"), $"event_type", $"n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming dedup (dropDuplicatesWithinWatermark) matches the batch twin") {
    implicit val s = spark
    // duplicate-heavy stream: every event arrives twice (distinct ids),
    // duplicates land in a later micro-batch but inside the watermark
    val base = Tables.events(spark, sf).limit(300)
      .withColumn("ets", timestamp_micros(($"ts" / 1000).cast("long")))
      .select($"event_id", $"user_id", $"event_type", $"value", $"ets")
      .as[(Long, Long, String, Double, java.sql.Timestamp)]
      .collect()
    val dups = base.map { case (id, u, t, v, ts) => (id + 1000000L, u, t, v, ts) }

    val input = MemoryStream[(Long, Long, String, Double, java.sql.Timestamp)](spark)
    val deduped = input.toDS()
      .toDF("event_id", "user_id", "event_type", "value", "ets")
      .withWatermark("ets", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "value")
    val q = deduped.writeStream.format("memory").queryName("streamdedup")
      .outputMode("append").start()
    input.addData(base.toIndexedSeq)
    q.processAllAvailable()
    input.addData(dups.toIndexedSeq) // all duplicates: must be dropped
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("streamdedup")
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), math.round(r.getDouble(2) * 1e6)))
    val batchKeys = base.map(e => (e._2, e._3, math.round(e._4 * 1e6))).distinct
    // one surviving row per content key, exactly the batch-distinct key set
    assert(streamed.length == streamed.distinct.length)
    assert(streamed.toSet == batchKeys.toSet)
  }

  test("stream-static enrichment join matches the batch twin") {
    implicit val s = spark
    // static side: a dimension table joined into each micro-batch — the
    // streaming analogue of the warehouse's broadcast dim lookups. The
    // static side is re-resolved per micro-batch by the engine; no state.
    val dim = Seq(
      ("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue"), ("signup", "growth"), ("error", "ops"))
      .toDF("event_type", "category")
    val events = Tables.events(spark, sf).limit(400)
      .select($"event_id", $"event_type", $"value")
      .as[(Long, String, Double)].collect()

    val input = MemoryStream[(Long, String, Double)](spark)
    val joined = input.toDS().toDF("event_id", "event_type", "value")
      .join(dim, Seq("event_type"))                    // stream ⋈ static
      .groupBy($"category")
      .agg(count(lit(1)).as("n"))
    val q = joined.writeStream.format("memory").queryName("streamenrich")
      .outputMode("complete").start()
    val (b1, b2) = events.splitAt(events.length / 2)
    input.addData(b1.toIndexedSeq)
    q.processAllAvailable()
    input.addData(b2.toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("streamenrich").as[(String, Long)].collect().toSet
    val batch = Tables.events(spark, sf).limit(400)
      .join(dim, Seq("event_type"))
      .groupBy($"category").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("watermarked stream-stream join matches the batch twin") {
    implicit val s = spark
    // two event streams joined on user within a ±1h event-time bound —
    // state on BOTH sides, pruned by watermark. Feed clicks and purchases
    // in interleaved micro-batches; late rows stay inside the watermark.
    val ev = Tables.events(spark, sf).limit(600)
      .withColumn("ets", timestamp_micros(($"ts" / 1000).cast("long")))
      .select($"event_id", $"user_id", $"event_type", $"ets")
      .as[(Long, Long, String, java.sql.Timestamp)].collect()
    val clicks = ev.filter(_._3 == "click")
    val buys = ev.filter(_._3 == "purchase")

    val inC = MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
    val inB = MemoryStream[(Long, Long, java.sql.Timestamp)](spark)
    val c = inC.toDS().toDF("click_id", "user_id", "cts")
      .withWatermark("cts", "2 hours")
    val b = inB.toDS().toDF("buy_id", "buy_user", "bts")
      .withWatermark("bts", "2 hours")
    val joined = c.join(b,
      $"user_id" === $"buy_user" &&
        $"bts" >= $"cts" - expr("INTERVAL 1 HOUR") &&
        $"bts" <= $"cts" + expr("INTERVAL 1 HOUR"))
      .select($"click_id", $"buy_id")
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    val (c1, c2) = clicks.splitAt(clicks.length / 2)
    val (b1, b2) = buys.splitAt(buys.length / 2)
    inC.addData(c1.map(e => (e._1, e._2, e._4)).toIndexedSeq)
    inB.addData(b1.map(e => (e._1, e._2, e._4)).toIndexedSeq)
    q.processAllAvailable()
    inC.addData(c2.map(e => (e._1, e._2, e._4)).toIndexedSeq)
    inB.addData(b2.map(e => (e._1, e._2, e._4)).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("ssjoin").as[(Long, Long)].collect().toSet
    val batch = clicks.flatMap { cl =>
      buys.filter(bu => bu._2 == cl._2 &&
        math.abs(bu._4.getTime - cl._4.getTime) <= 3600L * 1000).map(bu => (cl._1, bu._1))
    }.toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("checkpointed AvailableNow stream resumes exactly-once across restarts") {
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val ev = Tables.events(spark, sf)
      .withColumn("ets", timestamp_micros(($"ts" / 1000).cast("long")))
      .select("event_id", "ets", "event_type", "value")
    // land the source in two batches of files (micro-batch accretion, R1)
    ev.filter($"event_id" < 500).write.parquet(s"$root/in/b1")
    val schema = spark.read.parquet(s"$root/in/b1").schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$root/in/*")
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val afterFirst = spark.read.parquet(s"$root/out").count()
    assert(afterFirst == 500)
    ev.filter($"event_id" >= 500).write.parquet(s"$root/in/b2")
    runOnce() // same checkpoint: must process ONLY the new files
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == ev.count()) // exactly-once, no re-processing
    assert(out.select("event_id").distinct().count() == ev.count())
  }

  test("paged cursor persists and clamps like the reference's api_offset") {
    val ck = java.nio.file.Files.createTempDirectory("graft_cursor")
      .resolve("state/offset.txt")
    val cursor = new PagedCursor(ck, initial = 0L)
    val ev = Tables.events(spark, sf)
    val total = ev.count()
    val p1 = PagedSource.nextPage(ev, "event_id", cursor, 400, total)
    assert(p1.df.count() == 400)
    // cursor does NOT move until the batch commits (failed batch = retry)
    assert(cursor.read() == 0)
    val retry = PagedSource.nextPage(ev, "event_id", cursor, 400, total)
    assert(retry.lo == 0 && retry.hi == 400)
    retry.commit()
    assert(cursor.read() == 400)
    val p2 = PagedSource.nextPage(ev, "event_id", cursor, 400, total)
    assert(p2.df.count() == 400); p2.commit()
    val p3 = PagedSource.nextPage(ev, "event_id", cursor, 400, total)
    assert(p3.df.count() == total - 800); p3.commit()
    assert(cursor.read() == total) // clamped
    val p4 = PagedSource.nextPage(ev, "event_id", cursor, 400, total)
    assert(p4.df.count() == 0)
    // pages are disjoint and complete
    assert(p1.df.unionByName(p2.df).unionByName(p3.df).count() == total)
  }
}
