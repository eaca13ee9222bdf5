package graft

import graft.functions.{TextOps, VectorOps}
import graft.multimodal.Binary
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Properties of the training-data-pipeline operators: LSH recall against
  * exact Jaccard, ANN recall against brute force, fingerprint invariance,
  * multimodal schema contract. */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: n=2 over k words yields k-1 shingles; short docs empty") {
    val df = Seq("a b c d", "single", "x y").toDF("text")
      .select(TextOps.shingles($"text", 2).as("sh"))
    val got = df.collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(List("a b", "b c", "c d"), Nil, List("x y")))
  }

  test("hash expressions map null array elements to the sentinel, never NPE") {
    // the declared input type admits containsNull=true (e.g. a nullable
    // parquet array column or SQL array('a', NULL)); every native hash
    // expression must hash nulls to NGramHash64's sentinel, not crash
    // inside generated code
    import graft.functions.{MinHashSig, SimHash64, NGramHash64}
    val withNull = array(lit("a"), lit(null).cast("string"), lit("b"))
    val noNull = array(lit("a"), lit("b"))
    val one = spark.range(1)
    val sigN = one.select(MinHashSig.minhashSig(withNull, 4)).head.getSeq[Long](0)
    assert(sigN.length == 4) // evaluated without NPE
    // the sentinel CONTRIBUTES: dropping the null must change the result
    // (deterministic fixed inputs — no flake risk)
    val sig2 = one.select(MinHashSig.minhashSig(noNull, 4)).head.getSeq[Long](0)
    assert(sigN != sig2, "null element must contribute the sentinel hash")
    val shN = one.select(SimHash64.simhash64(withNull)).head.getLong(0)
    val sh2 = one.select(SimHash64.simhash64(noNull)).head.getLong(0)
    assert(shN != sh2, "null element must vote with the sentinel hash")
    // 1-grams expose the sentinel value directly
    val ngN = one.select(NGramHash64.ngramHashes(withNull, 1)).head.getSeq[Long](0)
    assert(ngN.contains(NGramHash64.NullElementHash),
      "a null 1-gram must hash to exactly NullElementHash")
    assert(one.select(NGramHash64.ngramHashes(withNull, 2)).head.getSeq[Long](0)
      .length == 2)
    // SQL-registered form too (reachable by any spark.sql user)
    graft.plans.GraftExtensions.registerFunctions(spark.sessionState.functionRegistry)
    val viaSql = spark.sql(
      "SELECT minhash_sig(array('a', CAST(NULL AS STRING), 'b'), 4)")
      .head.getSeq[Long](0)
    assert(viaSql == sigN, "codegen and interpreted paths must agree on the sentinel")
  }

  test("bag-of-words fingerprint is invariant under word order") {
    val a = Seq("alpha beta gamma").toDF("text")
      .select(md5(TextOps.canonicalForm($"text"))).head.getString(0)
    val b = Seq("gamma alpha beta alpha").toDF("text")
      .select(md5(TextOps.canonicalForm($"text"))).head.getString(0)
    assert(a == b)
  }

  test("prefix-filtered jaccardPairs equals the naive all-words join at every threshold") {
    val docs = Tables.documents(spark, sf)
    // naive reference: explode-join EVERY word within the block, count
    // shared words per pair (the round-1 formulation the prefix filter
    // replaced — same semantics, quadratic in hot words)
    def naive(threshold: Double): Set[(Long, Long, Double)] = {
      val exploded = docs.select($"doc_id", $"lang", $"source",
        TextOps.distinctWords($"text").as("wset"))
        .withColumn("wsize", size($"wset"))
        .select($"doc_id", $"lang", $"source", $"wsize",
          explode($"wset").as("word"))
      val a = exploded.toDF("a_id", "lang", "source", "a_size", "word")
      val b = exploded.toDF("b_id", "lang", "source", "b_size", "word")
      a.join(b, Seq("lang", "source", "word"))
        .filter($"a_id" < $"b_id")
        .groupBy($"a_id", $"b_id", $"a_size", $"b_size")
        .agg(count(lit(1)).as("inter"))
        .withColumn("j", $"inter".cast("double") /
          ($"a_size" + $"b_size" - $"inter"))
        .filter($"j" >= threshold)
        .select($"a_id", $"b_id", round($"j", 6).as("j"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    Seq(0.3, 0.5, 0.8).foreach { t =>
      val fast = Dedup.jaccardPairs(docs, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      withClue(s"threshold $t: fast=${fast.size} naive=${naive(t).size}") {
        assert(fast == naive(t))
      }
    }
  }

  test("containmentPairs equals the naive directed all-words join at every threshold") {
    val docs = Tables.documents(spark, sf)
    // naive reference: explode-join every word within the block, count
    // shared words per DIRECTED pair, divide by the contained side's size
    def naive(threshold: Double): Set[(Long, Long, Double)] = {
      val exploded = docs.select($"doc_id", $"lang", $"source",
        TextOps.distinctWords($"text").as("wset"))
        .withColumn("wsize", size($"wset"))
        .select($"doc_id", $"lang", $"source", $"wsize",
          explode($"wset").as("word"))
      val a = exploded.toDF("a_id", "lang", "source", "a_size", "word")
      val b = exploded.toDF("b_id", "lang", "source", "b_size", "word")
      a.join(b, Seq("lang", "source", "word"))
        .filter($"a_id" =!= $"b_id")
        .groupBy($"a_id", $"b_id", $"a_size")
        .agg(count(lit(1)).as("inter"))
        .withColumn("c", $"inter".cast("double") / $"a_size")
        .filter($"c" >= threshold)
        .select($"a_id", $"b_id", round($"c", 6).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    Seq(0.5, 0.8, 0.95).foreach { t =>
      val fast = Dedup.containmentPairs(docs, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      withClue(s"threshold $t: fast=${fast.size} naive=${naive(t).size}") {
        assert(fast == naive(t))
      }
    }
  }

  test("containment is asymmetric: a short subset doc scores 1.0 into its superset") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s"),
      (2L, "alpha beta gamma delta", "en", "s"),
      (3L, "iota kappa lambda mu", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val pairs = Dedup.containmentPairs(docs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // doc 2 ⊂ doc 1 (containment 1.0); the reverse direction is 4/8 = 0.5
    // and must NOT appear; doc 3 shares nothing
    assert(pairs == Set((2L, 1L, 1.0)))
  }

  test("minhash LSH: high recall of exact near-dup pairs, perfect precision") {
    val docs = Tables.documents(spark, sf)
    // exact baseline blocked on (lang, source); LSH blocks on lang only,
    // so within these blocks LSH recall is purely the band-collision rate
    val exact = Dedup.jaccardPairs(docs, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashCandidates(docs, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "vacuous baseline: no exact near-dup pairs at 0.8")
    // precision is 1.0 by construction (candidates exact-verified);
    // recall over the blocked exact pairs should be high
    val recall = (exact & lsh).size.toDouble / exact.size
    withClue(s"recall=$recall exact=${exact.size} lsh=${lsh.size}") {
      assert(recall >= 0.8)
    }
  }

  test("incremental dedup equals the full pair set restricted to the batch") {
    val docs = Tables.documents(spark, sf)
    val batch = docs.filter($"doc_id" % 7 === 0)
      .withColumn("doc_id", $"doc_id" + 2000000L)
    val all = docs.unionByName(batch)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val inc = Dedup.jaccardPairsIncremental(all, batch.select($"doc_id"), 0.8)
      .collect().map(key).toSet
    val full = Dedup.jaccardPairs(all, 0.8).collect().map(key)
      .filter { case (a, b) => a >= 2000000L || b >= 2000000L }.toSet
    assert(inc == full)
    assert(inc.nonEmpty, "vacuous: the re-crawled batch found no near-dups")
  }

  test("first_shared_band: value at first agreeing position; sentinel when none") {
    import graft.functions.FirstSharedBand
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(9L, 2L, 3L)),   // first agree at pos 1 -> 2
      (Seq(5L, 6L), Seq(5L, 6L)),           // pos 0 -> 5
      (Seq(1L, 2L), Seq(3L, 4L))            // none -> Long.MinValue
    ).toDF("a", "b")
    val got = df.select(FirstSharedBand.first($"a", $"b")).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(2L, 5L, Long.MinValue))
  }

  test("incremental minhash LSH == full run restricted to batch-endpoint pairs") {
    // the crawl-loop contract (q126): pairing a batch against the band
    // registry must find EXACTLY the pairs the full corpus∪batch run
    // finds that touch the batch — no bucket the batch lands in may be
    // seen with a different population than the full run's
    val docs = Tables.documents(spark, sf)
    val full = Dedup.minhashCandidates(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter { case (a, b, _) => a % 2 == 1 || b % 2 == 1 }
    val sets = docs.select($"doc_id",
      graft.functions.NGramHash64.ngramHashes(TextOps.words($"text"), 1).as("wset"))
    val incr = Dedup.minhashCandidatesIncremental(
      Dedup.minhashBandRegistry(docs.filter($"doc_id" % 2 === 0)),
      sets, docs.filter($"doc_id" % 2 === 1), 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr == expected,
      s"incr ${incr.size} vs expected ${expected.size} (full ${full.size})")
    assert(expected.nonEmpty, "fixture must yield cross/batch pairs")
  }

  test("incremental embedding near-dup == full run restricted to suffix-batch endpoints (q132)") {
    // the crawl contract in vector space: under ascending ingest the
    // batch is an id SUFFIX, so every hamming-<=1 pair whose LARGER
    // endpoint is in the batch must be found — exactly the full
    // q61-run restriction — and nothing else
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val hi = emb.agg(max($"vec_id")).head.getLong(0) + 1
    val cutoff = hi * 7 / 10
    val full = Similarity.embeddingNearDups(emb, Similarity.SignBits, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter(_._2 >= cutoff)
    val incr = Similarity.embeddingNearDupsIncremental(
      Similarity.signBucketRegistry(
        emb.filter($"vec_id" < cutoff), Similarity.SignBits),
      emb.filter($"vec_id" >= cutoff), Similarity.SignBits, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr == expected,
      s"incr ${incr.size} vs expected ${expected.size} (full ${full.size})")
    // empty registry: the incremental run over the whole corpus as one
    // batch IS the full run
    val coldStart = Similarity.embeddingNearDupsIncremental(
      Similarity.signBucketRegistry(emb.limit(0), Similarity.SignBits),
      emb, Similarity.SignBits, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(coldStart == full)
    assert(full.nonEmpty, "fixture must yield embedding near-dups")
  }

  test("crawl loop final state is invariant to the ascending batch split (q130)") {
    // the composition contract behind q130's closed-form oracle: ANY
    // ascending partition of the ingest stream must land on the same
    // final state — kept set, maintained summary (exact accumulator
    // included), and ANN assignments. Drive the loop under two very
    // different splits (2 uneven batches vs 4) and compare everything.
    import graft.operators.{Crawl, Similarity}
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val codebook = emb.filter($"vec_id" < Similarity.IvfCentroids)
      .select($"vec_id".as("cent_id"), $"embedding".as("centv"))
    val hi = docs.agg(max($"doc_id")).head.getLong(0) + 1
    def run(cuts: Seq[Long], tag: String) = {
      val bounds = (0L +: cuts :+ hi).sliding(2).map { w =>
        docs.filter($"doc_id" >= w.head && $"doc_id" < w.last) }.toSeq
      val root = java.nio.file.Files.createTempDirectory("graft_split").toString
      val st = Crawl.drive(spark, bounds, codebook, emb, root, tag)
      (st.kept.collect().map(_.toSeq).toSet,
        st.summary.select($"grp", $"n", $"__t".cast("string"), $"total")
          .collect().map(_.toSeq).toSet,
        st.assigned.select($"vec_id", $"cell").collect().map(_.toSeq).toSet,
        st.clusters.collect().map(_.toSeq).toSet)
    }
    val a = run(Seq(hi / 5), "split_a")
    val b = run(Seq(hi / 4, hi / 2, 3 * hi / 4), "split_b")
    assert(a._1 == b._1, "kept manifest differs across splits")
    assert(a._2 == b._2, "maintained summary differs across splits")
    assert(a._3 == b._3, "ANN assignments differ across splits")
    assert(a._4 == b._4, "maintained clusters differ across splits")
    assert(a._1.nonEmpty && a._1.size < docs.count())
  }

  test("minhash candidate pairs are emitted exactly once (first-shared-band rule)") {
    // the bucket-local generator replaces the pair dropDuplicates shuffle;
    // a pair sharing several bands must still appear exactly once
    val out = Dedup.minhashCandidates(Tables.documents(spark, sf), 0.8)
      .groupBy("a_id", "b_id").count()
    assert(out.filter($"count" > 1).count() == 0)
    // and ids are strictly ordered
    assert(out.filter($"a_id" >= $"b_id").count() == 0)
  }

  test("cluster ids: transitive closure of near-dup pairs, min-id labeled") {
    val docs = Tables.documents(spark, sf)
    val clusters = Dedup.clusterIds(docs, 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc labeled, label is a real doc id ≤ own id
    assert(clusters.size == docs.count())
    assert(clusters.forall { case (id, c) => c <= id && clusters.contains(c) })
    // cluster ids are fixed points (the min member labels itself)
    assert(clusters.values.toSet.forall(c => clusters(c) == c))
    // every near-dup pair lands in one cluster — and transitively: the
    // kept set (docs labeling themselves) contains no near-dup pair
    val pairs = Dedup.jaccardPairs(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => clusters(a) == clusters(b) })
    assert(!pairs.exists { case (a, b) => clusters(a) == a && clusters(b) == b })
  }

  test("incremental cluster maintenance equals the full recompute (q135 property, off-catalog operating point)") {
    // different split (20% batch) and threshold (0.5 — denser pair graph,
    // more multi-cluster merges) than the catalog entry, so this pins the
    // ALGEBRA (stored-mapping contraction ≡ full CC), not one operating
    // point. The catalog entry's own (0.8, %97) point is DuckDB-oracled.
    val docs = Tables.documents(spark, sf)
    val batchIds = docs.filter($"doc_id" % 5 === 0).select($"doc_id")
    val mapping = Dedup.clusterIds(docs.filter($"doc_id" % 5 =!= 0), 0.5)
    val inc = Dedup.componentsIncremental(
      mapping, Dedup.jaccardPairsIncremental(docs, batchIds, 0.5), batchIds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted
    val full = Dedup.clusterIds(docs, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted
    assert(inc.length == docs.count())
    assert(inc.sameElements(full))
    // empty-batch identity: no pairs, no batch docs → mapping unchanged
    val empty = batchIds.limit(0)
    val idem = Dedup.componentsIncremental(
      mapping, Dedup.jaccardPairsIncremental(docs, empty, 0.5).limit(0), empty)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted
    val stored = mapping.collect().map(r => r.getLong(0) -> r.getLong(1)).sorted
    assert(idem.sameElements(stored))
  }

  test("q95: hash-span dup counts equal string-span counts; dups are cross-doc") {
    // recompute with STRING 10-grams (position-preserving shingles) — the
    // hashed form must agree exactly on this corpus (q85's parity rule,
    // extended to the multiplicity-keeping span variant)
    val spans = Tables.documents(spark, sf)
      .select($"doc_id", explode(TextOps.shingles($"text", 10)).as("g"))
    val dup = spans.groupBy($"g")
      .agg(min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      .filter($"mn" =!= $"mx").select($"g")
    val expectDup = spans.join(dup, Seq("g"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectTotal = spans.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("q95_span_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(t => t._1 -> t._2).toMap == expectTotal)
    assert(got.filter(_._3 > 0).map(t => t._1 -> t._3).toMap == expectDup)
    // sane shape: dup spans bounded by total spans; both sides non-trivial
    got.foreach { case (id, n, nd) => assert(nd <= n, s"doc $id") }
    assert(expectDup.nonEmpty && got.exists(_._3 == 0),
      "fixture must exercise both duplicated and clean docs")
  }

  test("paragraphDedup: hash-keyed q99 variant is row-identical to text-keyed q98") {
    // the 100 TB plan shape (16-byte exchange keys, text never shuffled)
    // must produce EXACTLY the text-keyed output — including a null-text
    // document (≡ empty text, ADVICE r7) and a repeated-block document
    val docs = Dedup.withRecrawl(spark, sf)
      .unionByName(Seq(
        (9000001L, null.asInstanceOf[String]),
        (9000002L, ""),
        (9000003L, Array.fill(3)((1 to 20).map(i => s"w$i").mkString(" "))
          .mkString(" ")) // same 20-word block 3× inside ONE document
      ).toDF("doc_id", "text"), allowMissingColumns = true)
    val a = Dedup.paragraphDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    val b = Dedup.paragraphDedupHashed(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(a.length == b.length && a.sameElements(b))
    // the intra-doc repeat keeps only its first occurrence
    val rep = a.find(_._1 == 9000003L).get
    assert(rep._2 == 3 && rep._3 == 1 &&
      rep._4 == (1 to 20).map(i => s"w$i").mkString(" "))
    // null-text and empty-text docs survive with clean_text '' or the
    // shared keeper's block — they must NOT vanish from the output
    assert(a.exists(_._1 == 9000001L) && a.exists(_._1 == 9000002L))
  }

  test("CDC block dedup realigns after an insertion; fixed-width does not") {
    // THE reason q101 exists: prepend a few words to a long document and
    // re-ingest it. Fixed 20-word blocks all shift → near-zero knockout;
    // content-defined boundaries re-align at the first boundary after
    // the insertion → almost everything is knocked out.
    val base = (1 to 400).map(i => s"tok$i").mkString(" ")
    val shifted = "inserted words here " + base
    val docs = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val cdc = Dedup.paragraphDedupCDC(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val fixed = Dedup.paragraphDedup(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1 (first in corpus order) keeps everything under both schemes
    assert(cdc(1L)._1 == cdc(1L)._2)
    assert(fixed(1L)._1 == fixed(1L)._2)
    // CDC: doc 2 loses most of its blocks (all segments past the first
    // boundary after the insertion are verbatim repeats of doc 1's)
    val (cdcBlocks, cdcKept) = cdc(2L)
    assert(cdcKept.toDouble / cdcBlocks < 0.25,
      s"CDC kept $cdcKept of $cdcBlocks — boundaries failed to realign")
    // fixed-width: the 3-word shift breaks every 20-word block alignment
    val (fwBlocks, fwKept) = fixed(2L)
    assert(fwKept == fwBlocks,
      s"fixed-width unexpectedly knocked out ${fwBlocks - fwKept} shifted blocks")
    // and the CDC survivors reassemble to a PREFIX-anchored remnant: the
    // insertion plus the head segment up to the first realigned boundary
    val clean2 = Dedup.paragraphDedupCDC(docs)
      .filter($"doc_id" === 2L).head.getString(3)
    assert(clean2.startsWith("inserted words here"))
    assert(clean2.length < shifted.length / 4)
  }

  test("CDC hashed q102 is row-identical to text-keyed q101") {
    val docs = Dedup.withRecrawl(spark, sf)
      .unionByName(Seq(
        (9000001L, null.asInstanceOf[String]),
        (9000002L, "")
      ).toDF("doc_id", "text"), allowMissingColumns = true)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    val a = Dedup.paragraphDedupCDC(docs).collect().map(key).sortBy(_._1)
    val b = Dedup.paragraphDedupCDCHashed(docs).collect().map(key).sortBy(_._1)
    assert(a.length == b.length && a.sameElements(b))
    assert(a.exists(_._1 == 9000001L) && a.exists(_._1 == 9000002L))
  }

  test("exact-tier routing guard: catalog corpora sit inside the budget; 100TB-scale keys do not") {
    // the explicit threshold VERDICT r8 §next-5 asked for: the catalog's
    // real corpora are safely inside the exact tier, while a key sized
    // like an unblocked 100 TB shard is rejected toward LSH
    val docs = Tables.documents(spark, sf)
    val stats = docs.select(count(lit(1)).as("n"),
      avg(size(split($"text", " "))).as("avg_tok")).head
    assert(Dedup.exactTierAdvisable(stats.getLong(0), stats.getDouble(1)))
    // sf0.1 ≈ 10k docs × ~340 tokens — still inside with margin
    assert(Dedup.exactTierAdvisable(10000L, 400.0))
    // an unblocked 1M-doc web shard at 500 tokens/doc is the wrong tier
    assert(!Dedup.exactTierAdvisable(1000000L, 500.0))
    // boundary is the documented constant itself
    assert(Dedup.exactTierAdvisable(Dedup.ExactTierMaxTokenOccurrences, 1.0))
    assert(!Dedup.exactTierAdvisable(Dedup.ExactTierMaxTokenOccurrences + 1, 1.0))
  }

  test("native cdc_blocks ≡ the window-based segmentation it replaced") {
    // q101/q102's segmentation is now one native codegen'd projection
    // (functions/CdcBlocksExpr.scala); the DuckDB oracle still runs the
    // window formulation, so pin byte-equality against that exact chain
    // on real docs plus the awkward edges (null text, empty text, one
    // word, consecutive spaces → empty word elements from split).
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .unionByName(Seq(
        (9000001L, null.asInstanceOf[String]), (9000002L, ""),
        (9000003L, "one"), (9000004L, "a  b")).toDF("doc_id", "text"))
    val ws = split(coalesce($"text", lit("")), " ")
    val native = docs
      .select($"doc_id", posexplode(
        graft.functions.CdcBlocks.cdcBlocks(ws)).as(Seq("seg", "block")))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getString(2)))
      .sorted
    val wSeg = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val old = docs.select($"doc_id", posexplode(ws).as(Seq("pos", "word")))
      .withColumn("b",
        when(substring(md5($"word"), 1, 1).isin("0", "1"), 1L).otherwise(0L))
      .withColumn("seg", coalesce(sum($"b").over(wSeg), lit(0L)))
      .groupBy($"doc_id", $"seg")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"pos", $"word"))),
        e => e.getField("word")), " ").as("block"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted
    assert(native.length == old.length, s"${native.length} vs ${old.length}")
    assert(native.sameElements(old))
  }

  test("semantic dedup (q104): cluster ids are component minima; keepers are exactly them") {
    val rows = SparkEntry.queries("q104_semantic_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.length == 500)
    // cluster id is a minimum: never above the member's own id, and it
    // appears as a member of its own cluster
    val ids = rows.map(_._1).toSet
    rows.foreach { case (v, c, k) =>
      assert(c <= v && ids.contains(c))
      assert(k == (v == c))
    }
    // the synthetic corpus has real near-dup groups: something is dropped
    val dropped = rows.count(!_._3)
    assert(dropped > 0, "expected at least one semantic near-dup group")
    // agreement with the pair source: every dropped vector shares its
    // cluster with at least one other member (it joined via an edge)
    val bySize = rows.groupBy(_._2).view.mapValues(_.length).toMap
    rows.filter(!_._3).foreach { case (v, c, _) =>
      assert(bySize(c) >= 2, s"dropped $v alone in cluster $c")
    }
  }

  test("cdc_blocks / cdc_select edges: nulls, empty ordinals, out-of-range ordinals") {
    import graft.functions.CdcBlocks.{cdcBlocks, cdcSelect}
    val df = Seq(
      (1L, "a b c d e f g h i j"), // real words — some boundary somewhere
      (2L, "")                      // split("") = [""] → one block of ""
    ).toDF("doc_id", "text")
      .select($"doc_id", split($"text", " ").as("ws"))
    // blocks concatenated in order reproduce the document exactly
    val roundTrip = df.select($"doc_id",
      array_join(cdcBlocks($"ws"), " ").as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(roundTrip(1L) == "a b c d e f g h i j" && roundTrip(2L) == "")
    // cdc_select: empty ordinal array → ""; out-of-range ordinals are
    // skipped (array_join semantics); null ws → null
    val sel = df.select($"doc_id",
      cdcSelect($"ws", array().cast("array<int>")).as("empty"),
      cdcSelect($"ws", array(lit(0), lit(999))).as("oob"),
      cdcSelect(lit(null).cast("array<string>"), array(lit(0))).as("nullws"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(sel(1L)._1 == "")
    val firstBlock = df.filter($"doc_id" === 1L)
      .select(element_at(cdcBlocks($"ws"), 1)).head.getString(0)
    assert(sel(1L)._2 == firstBlock)
    assert(sel(1L)._3 == null)
  }

  test("CDC incremental ≡ full CDC run restricted to the batch; edited re-crawl dedupes") {
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"text")
    // batch: an EDITED re-crawl (3 words prepended to every doc) under
    // shifted ids — the case fixed-width incremental can't help with
    val batch = corpus
      .withColumn("doc_id", $"doc_id" + 1000000L)
      .withColumn("text", concat(lit("edited re crawl "), $"text"))
    val full = Dedup.paragraphDedupCDC(corpus.unionByName(batch))
      .filter($"doc_id" >= 1000000L)
    val incr = Dedup.paragraphDedupCDCIncremental(
      Dedup.blockRegistryCDC(corpus), batch)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    val a = full.collect().map(key).sortBy(_._1)
    val b = incr.collect().map(key).sortBy(_._1)
    assert(a.length == b.length && a.sameElements(b))
    // the edited re-crawl still dedupes heavily: most CDC blocks of each
    // batch doc realign with the original and are knocked out
    val (nb, nk) = b.map(t => (t._2, t._3))
      .reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    assert(nk.toDouble / nb < 0.5,
      s"edited re-crawl kept $nk of $nb CDC blocks — registry knockout failed")
  }

  test("paragraphDedupIncremental ≡ full hashed run restricted to the batch") {
    // the crawl-ingest contract: with registry = blockRegistry(corpus)
    // and batch doc_ids sorting AFTER the corpus's, the incremental
    // output must equal the full corpus+batch run's verdicts for batch
    // docs. Batch = recrawl copies (all blocks known) + one brand-new
    // doc (no blocks known) + one half-new doc (mixes both paths).
    val corpus = Tables.documents(spark, sf)
    val knownBlock = corpus.orderBy("doc_id").select("text").head.getString(0)
      .split(' ').take(20).mkString(" ")
    val batch = corpus
      .withColumn("doc_id", $"doc_id" + 1000000L)
      .select($"doc_id", $"text")
      .unionByName(Seq(
        (9000001L, (1 to 45).map(i => s"fresh$i").mkString(" ")),
        (9000002L, knownBlock + " " + (1 to 20).map(i => s"novel$i").mkString(" "))
      ).toDF("doc_id", "text"))
    val full = Dedup.paragraphDedupHashed(
      corpus.select($"doc_id", $"text").unionByName(batch))
      .filter($"doc_id" >= 1000000L)
    val incr = Dedup.paragraphDedupIncremental(
      Dedup.blockRegistry(corpus), batch)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    val a = full.collect().map(key).sortBy(_._1)
    val b = incr.collect().map(key).sortBy(_._1)
    assert(a.length == b.length && a.sameElements(b))
    // the mixed doc keeps exactly its novel block, drops the known one
    val mixed = b.find(_._1 == 9000002L).get
    assert(mixed._2 == 2 && mixed._3 == 1 &&
      mixed._4 == (1 to 20).map(i => s"novel$i").mkString(" "))
    // the fresh doc survives whole
    val freshDoc = b.find(_._1 == 9000001L).get
    assert(freshDoc._3 == freshDoc._2 &&
      freshDoc._4 == (1 to 45).map(i => s"fresh$i").mkString(" "))
  }

  test("block registries: empty registry ≡ full run; parquet round-trip preserves knockout") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text").limit(100)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    // an EMPTY registry degenerates the incremental form to the full
    // batch-internal run — for both block families
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("h_lo", LongType), StructField("h_hi", LongType))))
    assert(Dedup.paragraphDedupIncremental(empty, docs).collect().map(key).sortBy(_._1)
      .sameElements(Dedup.paragraphDedupHashed(docs).collect().map(key).sortBy(_._1)))
    assert(Dedup.paragraphDedupCDCIncremental(empty, docs).collect().map(key).sortBy(_._1)
      .sameElements(Dedup.paragraphDedupCDC(docs).collect().map(key).sortBy(_._1)))
    // the production persistence path: a registry written to parquet and
    // reloaded must knock out exactly what the in-memory one does
    val dir = java.nio.file.Files.createTempDirectory("graft_reg").toString
    Dedup.blockRegistry(docs).write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val viaMem = Dedup.paragraphDedupIncremental(Dedup.blockRegistry(docs), docs)
      .collect().map(key).sortBy(_._1)
    val viaDisk = Dedup.paragraphDedupIncremental(reloaded, docs)
      .collect().map(key).sortBy(_._1)
    assert(viaMem.sameElements(viaDisk))
    // every block known → nothing kept, every doc still present
    assert(viaDisk.length == 100 && viaDisk.forall(_._3 == 0L))
  }

  test("iterative operators write reliable checkpoints when a dir is given") {
    // at cluster scale localCheckpoint blocks die with a lost executor;
    // Spark's checkpoint dir routes every landing through reliable
    // checkpoint(). Results must be identical to the default path, and
    // checkpoint files must actually land in the dir.
    import org.apache.spark.CheckpointDirs
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_rel").toString
    val docs = Tables.documents(spark, sf)
    val withCk = CheckpointDirs.withDir(sc, s"$dir/cc") {
      Dedup.clusterIds(docs, 0.8).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val default = Dedup.clusterIds(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withCk == default)
    def filesUnder(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(root)) 0L
      else java.nio.file.Files.walk(root).filter(java.nio.file.Files.isRegularFile(_)).count()
    }
    assert(filesUnder(s"$dir/cc") > 0, "CC rounds must land in the reliable dir")

    val emb = Tables.embeddings(spark, sf).limit(400)
    val trained = CheckpointDirs.withDir(sc, s"$dir/lloyd") {
      Similarity.trainCodebook(emb, 8, 2)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    }
    val trainedDefault = Similarity.trainCodebook(emb, 8, 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(trained == trainedDefault)
    assert(filesUnder(s"$dir/lloyd") > 0, "Lloyd rounds must land in the reliable dir")

    // an operator that lands its shared edge table and every other
    // frontier directly (no per-operator option ever reached it)
    def reach(): Set[(Long, Long)] = graft.operators.Graph.bfsReach(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reachCk = CheckpointDirs.withDir(sc, s"$dir/bfs")(reach())
    assert(reachCk == reach())
    assert(filesUnder(s"$dir/bfs") > 0, "BFS landings must land in the reliable dir")
  }

  test("minhash verify joins the corpus sets by shuffle, never broadcast") {
    val plan = Dedup.minhashCandidates(Tables.documents(spark, sf), 0.8)
      .queryExecution.executedPlan.toString
    // the two id-keyed set joins must honor SHUFFLE_HASH — a broadcast of
    // the corpus-sized sets relation is an executor OOM at scale (the
    // round-1 design); the only allowed broadcast is the tiny bucket-cap
    // stats join
    val shuffled = "ShuffledHashJoin".r.findAllIn(plan).size
    withClue(plan.linesIterator.filter(_.contains("Join")).mkString("\n")) {
      assert(shuffled >= 2)
      // no broadcast join KEYED on the pair ids (the sets-relation joins);
      // the small band/bucket-stat joins may broadcast freely
      assert(!plan.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin [a_id") || l.contains("BroadcastHashJoin [b_id")))
    }
  }

  test("simhash: duplicate texts collide; hamming to unrelated text is larger") {
    val df = Tables.documents(spark, sf).limit(50)
      .select($"doc_id", TextOps.simhash($"text").as("h"), $"text")
    val dup = df.unionByName(df.withColumn("doc_id", $"doc_id" + 5000))
    val groups = dup.groupBy("text").agg(countDistinct("h").as("nh"))
    assert(groups.filter($"nh" =!= 1).count() == 0)
  }

  test("simhash banded near-dups find every exact duplicate at hamming 0") {
    import graft.operators.Dedup
    val pairs = Dedup.simhashNearDups(Dedup.withRecrawl(spark, sf), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val nDocs = Tables.documents(spark, sf).count()
    // every (doc, recrawl-copy) pair is hamming 0 and must be found
    val exactPairs = pairs.filter(p => p._2 == p._1 + 1000000L)
    assert(exactPairs.length == nDocs)
    assert(exactPairs.forall(_._3 == 0))
  }

  test("ANN sign-bucket: structural sanity + nonzero recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val bf = Similarity.bruteForceTopK(emb.filter($"vec_id" < 10), emb, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb.filter($"vec_id" < 10), emb, 5, Similarity.SignBits)
    val annRows = ann.collect()
    // ranks contiguous from 1 per query
    val byQ = annRows.groupBy(_.getLong(0))
    byQ.foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to rows.length))
    }
    val annSet = annRows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf & annSet).size.toDouble / bf.size
    // OR-amplified floor: one 8-bit table retains ~0.2 at this corpus's
    // wide neighbor angles; the 6-table union (1−(1−p₁)^L) must clear 0.6
    // with probe count ≤ L·(bits+1)
    withClue(s"ann recall=$recall") { assert(recall >= 0.6) }
  }

  test("IVF ANN: high recall vs brute force (the clustered-corpus scale path)") {
    val emb = Tables.embeddings(spark, sf)
    val bf = Similarity.bruteForceTopK(emb.filter($"vec_id" < 10), emb, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb.filter($"vec_id" < 10), emb, 5,
      Similarity.IvfCentroids, Similarity.IvfProbes)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    withClue(s"ivf recall=$recall") { assert(recall >= 0.8) }
  }

  test("IVF-PQ with nProbe = nCells is bit-equal to plain PQ (cells prune, never rescore)") {
    // the q137 composition contract: coarse routing only RESTRICTS the
    // ADC candidate set — probing every cell restores exactly q106's
    // candidates, so shortlist, refine and ranks must all coincide
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter($"vec_id" < 10)
    val full = Similarity.pqTopK(q, emb, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val ivfpq = Similarity.ivfPqTopK(q, emb, 5,
      nCells = Similarity.IvfCentroids, nProbe = Similarity.IvfCentroids)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(ivfpq == full)
    // and the pruned form keeps useful recall of the exact answer
    val bf = Similarity.bruteForceTopK(q, emb, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Similarity.ivfPqTopK(q, emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf & pruned).size.toDouble / bf.size
    withClue(s"ivfpq recall=$recall") { assert(recall >= 0.5) }
  }

  test("incremental ANN assign == full-rebuild assignment; seeds self-assign at sim 1") {
    // the VERDICT r9 §next-3 contract: for an UNCHANGED codebook, cell
    // choice is a pure per-row function of (vector, codebook), so
    // assigning a batch incrementally must equal the batch's slice of a
    // full-corpus rebuild — the property that makes append-only index
    // maintenance sound (no corpus re-assignment per crawl batch)
    val emb = Tables.embeddings(spark, sf)
    val cb = emb.filter($"vec_id" < Similarity.IvfCentroids)
      .select($"vec_id".as("cent_id"), $"embedding".as("centv"))
    val batch = emb.filter($"vec_id" % 2 === 1)
    val incr = Similarity.assignBatch(cb, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Similarity.assignBatch(cb, emb)
      .filter($"vec_id" % 2 === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr == full, "incremental assignment diverged from full rebuild")
    // a codebook seed vector assigns to its own cell at cosine exactly 1
    incr.filter(_._1 < Similarity.IvfCentroids).foreach { case (id, cell, s) =>
      assert(cell == id && s == 1.0, s"seed $id assigned to $cell at $s")
    }
    // drift: every batch cell is populated, residuals in [0, 2]
    val drift = Similarity.cellDrift(cb, batch).collect()
    assert(drift.nonEmpty)
    drift.foreach { r =>
      assert(r.getLong(1) > 0 && r.getDouble(2) >= 0.0 && r.getDouble(2) <= 2.0)
    }
  }

  test("IVF-PQ append == rebuild: batch coded against stored codebooks, appended cell dirs, search bit-equal") {
    // the q140 contract, in three parts. (1) ivfPqEncodeBatch against
    // the BASE's codebooks must emit bit-identical (cell, codes) to the
    // batch's slice of a full-corpus rebuild — codes are pure per-row
    // functions of (vector, codebooks), and both codebook seeds lie
    // inside the base
    val emb = Tables.embeddings(spark, sf)
    val maxId = emb.agg(max($"vec_id")).head().getLong(0)
    val split = (maxId + 1) * 3 / 4
    val base = emb.filter($"vec_id" < split)
    val batch = emb.filter($"vec_id" >= split)
    val coded = Similarity.ivfPqEncodeBatch(base, batch)
    val incr = coded.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    val full = Similarity.ivfPqIndex(emb).filter($"vec_id" >= split)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    assert(incr == full, "batch encode diverged from full rebuild")
    // (2) the encode is a zero-SHUFFLE projection (broadcasting the two
    // one-row codebooks is the design): cost ∝ batch
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    coded.collect() // finalize AQE
    def walk(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case _ => p +: p.children.flatMap(walk)
    }
    val shuffles = walk(coded.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"batch encode shuffled: ${shuffles.map(_.nodeName)}")
    // (3) landing base + appending batch yields a store whose pruned
    // search is bit-equal to the inline full-corpus q137 path — and the
    // append only ADDS files: every base parquet file survives untouched
    val root = java.nio.file.Files.createTempDirectory("graft_q140_spec")
    val dir = s"$root/index"
    Similarity.ivfPqIndex(base)
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(_.getPath)
        .filter(_.endsWith(".parquet")).toSet
    }
    val baseFiles = files()
    coded.write.partitionBy("cell").mode("append").parquet(dir)
    assert(baseFiles.subsetOf(files()), "append rewrote base files")
    assert(files().size > baseFiles.size, "append added no files")
    val q = emb.filter($"vec_id" < 10)
    val stored = Similarity.ivfPqSearch(
      spark.read.parquet(dir).withColumn("cell", $"cell".cast("long")),
      q, emb, 5, pruneStored = true).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val inline = Similarity.ivfPqTopK(q, emb, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(stored == inline, "appended-store search diverged from rebuild")
  }

  test("PQ native expressions are bit-identical to the HOF renditions (incl. ties and rounding boundaries)") {
    // adversarial floats: exact .5 rounding boundaries at the 6th decimal
    // (1.0000005, -2.5e-6), subnormal-tiny, negative zero, plus random
    // draws; the codebook REPEATS vector 0 so PqEncode's argmin hits
    // exact distance ties — the first-minimum rule must match
    // array_position(array_min)
    val rnd = new scala.util.Random(7)
    val hard = Seq(1.0000005f, -2.5e-6f, 0.4999995f, -0.4999995f,
      -0.0f, 1e-30f, -1f, 1f)
    def vec(): Seq[Float] =
      Seq.tabulate(Similarity.EmbeddingDim) { j =>
        if (j < hard.size && rnd.nextBoolean()) hard(j)
        else (rnd.nextGaussian() * rnd.nextInt(3)).toFloat
      }
    val rows = (0L until 64L).map(i => (i, vec()))
    val emb = rows.toDF("vec_id", "embedding")
    // q6vec ≡ element-wise HOF transform
    val qm = emb.select($"vec_id",
      graft.functions.QuantizeMicro($"embedding").as("a"),
      Similarity.q6v6Ref($"embedding").as("b"))
      .filter(not($"a" <=> $"b")).count()
    assert(qm == 0, "QuantizeMicro diverged from the HOF q6 transform")
    // PqEncode ≡ HOF argmin, with duplicate centroids forcing ties
    val v6 = graft.functions.QuantizeMicro($"embedding")
    val cb = emb.filter($"vec_id" < Similarity.PqK)
      .select($"vec_id".as("j"), v6.as("c6"))
      .agg(sort_array(collect_list(struct($"j", $"c6"))).as("cs"))
      .select(transform($"cs", c =>
        // duplicate vector 0's codes into slot 1: exact ties everywhere
        when(c.getField("j") === 1, element_at($"cs", 1).getField("c6"))
          .otherwise(c.getField("c6"))).as("cb"))
    val enc = emb.crossJoin(cb)
      .select($"vec_id", v6.as("v6"), $"cb")
      .select($"vec_id",
        graft.functions.PqEncode($"v6", $"cb", Similarity.PqM,
          Similarity.PqSubDim).as("a"),
        Similarity.pqEncodeRef($"v6", $"cb").as("b"))
    assert(enc.filter(not($"a" <=> $"b")).count() == 0,
      "PqEncode diverged from the HOF argmin")
    // vector 0 ties with its duplicate in slot 1 in every subspace — the
    // first-min rule must pick 0, proving ties actually exercised
    val c0 = enc.filter($"vec_id" === 0).select($"a").head.getSeq[Int](0)
    assert(c0.forall(_ == 0), s"tie must keep the first minimum, got $c0")
    // L2Micro ≡ HOF aggregate
    val pairs = emb.select($"vec_id".as("ai"), v6.as("a6"))
      .crossJoin(emb.select($"vec_id".as("bi"), v6.as("b6")).limit(8))
    assert(pairs.select(
      graft.functions.L2Micro($"a6", $"b6").as("a"),
      Similarity.l2Ref($"a6", $"b6").as("b"))
      .filter(not($"a" <=> $"b")).count() == 0,
      "L2Micro diverged from the HOF aggregate")
  }

  test("PQ ANN: codes are 4-bit, codebook vectors self-encode, recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val codes = Similarity.pqCodes(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // every code is a valid 4-bit centroid index
    assert(codes.values.forall(cs =>
      cs.length == Similarity.PqM && cs.forall(c => c >= 0 && c < Similarity.PqK)))
    // a codebook vector is its own nearest centroid in EVERY subspace
    (0L until Similarity.PqK.toLong).foreach { j =>
      assert(codes(j).forall(_ == j),
        s"codebook vector $j must self-encode, got ${codes(j)}")
    }
    // ADC shortlist + exact re-rank retains most of the exact top-k
    // (measured 0.88 at sf0.001; raw ADC top-5 alone is ~0.22 on this
    // near-random corpus — the refine stage IS the operator)
    val bf = Similarity.bruteForceTopK(emb.filter($"vec_id" < 10), emb, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb.filter($"vec_id" < 10), emb, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & pq).size.toDouble / bf.size
    withClue(s"pq recall=$recall") { assert(recall >= 0.7) }
  }

  test("trained IVF codebook recovers recall lost to a degenerate seed") {
    // adversarial fixture: the seed (first 16 vectors) sits entirely in
    // ONE of four well-separated clusters, so the q66 seed codebook
    // scatters the other three clusters across arbitrary cells and
    // recall collapses — the failure mode of an untrained codebook on a
    // drifted corpus. Lloyd iterations must pull the cells apart again.
    val rnd = new scala.util.Random(42)
    val dim = 16
    def vec(c: Int): Array[Float] = Array.tabulate(dim) { j =>
      ((if (j % 4 == c) 10.0 else 0.0) + rnd.nextGaussian() * 0.5).toFloat
    }
    val rows = (0 until 16).map(i => (i.toLong, vec(0).toSeq)) ++
      (16 until 400).map(i => (i.toLong, vec(i % 4).toSeq))
    val emb = rows.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" >= 16 && $"vec_id" < 26)
    val bf = Similarity.bruteForceTopK(queries, emb, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(codebook: org.apache.spark.sql.DataFrame): Double = {
      val got = Similarity.ivfTopKWith(queries, emb, 5, codebook, Similarity.IvfProbes)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (bf & got).size.toDouble / bf.size
    }
    val seedR = recall(emb.filter($"vec_id" < 16)
      .select($"vec_id".as("cent_id"), $"embedding".as("centv")))
    val trainedR = recall(Similarity.trainCodebook(emb, 16, 3))
    withClue(s"seed recall=$seedR trained recall=$trainedR") {
      assert(trainedR > seedR)
      assert(trainedR >= 0.6)
    }
  }

  test("multimodal probe: real container sniffing (BMP/WAV/AVI) matches each generator's geometry") {
    // a mixed dirty-crawl media table: every asset is a GENUINE container
    // and the probe must read its actual header — BMP dims, WAV frame
    // count (fmt blockAlign + data size), AVI dims + declared frames —
    // plus degrade to codec=unknown on garbage instead of failing
    val docs = Tables.documents(spark, sf).limit(30).cache()
    val mixed = Binary.syntheticBmpAssets(docs.filter($"doc_id" % 3 === 0))
      .unionByName(Binary.syntheticWavAssets(docs.filter($"doc_id" % 3 === 1)))
      .unionByName(Binary.syntheticAviAssets(docs.filter($"doc_id" % 3 === 2)))
      .unionByName(Binary.assetsFromDocuments(docs.filter($"doc_id" === 4))
        .withColumn("payload", coalesce($"payload", lit(Array.empty[Byte]))))
    val probed = Binary.probeMetadata(mixed)
    assert(probed.schema == Binary.assetSchema)
    probed.collect().foreach { r =>
      val id = r.getLong(0)
      val m = r.getStruct(3)
      assert(m.getInt(0) == r.getAs[Array[Byte]]("payload").length)
      m.getString(1) match {
        case "bmp" =>
          assert(m.getInt(2) == Binary.syntheticWidth(id))
          assert(m.getInt(3) == Binary.syntheticHeight(id))
          assert(m.getInt(4) == 1)
        case "wav" =>
          assert(m.isNullAt(2) && m.isNullAt(3))
          assert(m.getInt(4) == Binary.syntheticFrames(id))
        case "avi" =>
          assert(m.getInt(2) == Binary.videoWidth(id))
          assert(m.getInt(3) == Binary.videoHeight(id))
          assert(m.getInt(4) == Binary.videoFrames(id))
        case "unknown" =>
          assert(id == 4 && m.isNullAt(2) && m.isNullAt(3) && m.isNullAt(4))
        case other => fail(s"unexpected codec $other for asset $id")
      }
    }
    val codecs = probed.select($"meta.codec").distinct()
      .collect().map(_.getString(0)).toSet
    assert(codecs == Set("bmp", "wav", "avi", "unknown"))
  }

  test("probe tolerates corrupt containers (no hang, no throw); decode parses stay strict; frameSample is video-only") {
    // advisor r12: the probe's contract is a DIRTY crawl media table.
    // Three adversarial payloads that used to hang or fail the job:
    //  - a WAV whose subchunk size decodes negative via le32 (advance 0
    //    -> the old walk spun forever in an executor task)
    //  - a WAV whose size overruns the payload (advance past the end)
    //  - a truncated AVI (valid magic, body cut mid-hdrl) — the old
    //    probe called the strict Avi.parse and threw
    def wavWithDataSize(sz: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      b.put("data".getBytes("US-ASCII")).putInt(sz)
      b.array()
    }
    val goodAvi = graft.multimodal.Binary.Avi.encode(8, 4, 2,
      (_, _, _) => 0x010203)
    val truncatedAvi = java.util.Arrays.copyOfRange(goodAvi, 0, 40)
    val negChunkAvi = goodAvi.clone()
    negChunkAvi(16) = 0xff.toByte; negChunkAvi(17) = 0xff.toByte
    negChunkAvi(18) = 0xff.toByte; negChunkAvi(19) = 0xff.toByte // hdrl sz = -1
    val dirty = Seq(
      (1L, "audio/wav", wavWithDataSize(-8)),
      (2L, "audio/wav", wavWithDataSize(1 << 30)),
      (3L, "video/avi", truncatedAvi),
      (4L, "video/avi", negChunkAvi),
      (5L, "video/avi", goodAvi))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(dirty.map(t =>
        org.apache.spark.sql.Row(t._1, t._2, t._3)), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("asset_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("media_type",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType, nullable = false))))
    val got = Binary.probeMetadata(df)
      .select($"asset_id", $"meta.codec", $"meta.n_frames")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2)))).toMap
    assert(got(1L) == (("unknown", -1)), "negative WAV size must degrade")
    assert(got(2L) == (("unknown", -1)), "overrunning WAV size must degrade")
    assert(got(3L) == (("unknown", -1)), "truncated AVI must degrade")
    assert(got(4L) == (("unknown", -1)), "negative AVI chunk must degrade")
    assert(got(5L) == (("avi", 2)), "a clean AVI still probes exactly")
    // the strict decode parses keep their loud, DESIGNED failure on the
    // same garbage (silent partial decode would mimic data loss)
    import graft.multimodal.Binary.Avi
    val e1 = intercept[IllegalArgumentException](Avi.parse(negChunkAvi))
    assert(e1.getMessage.contains("malformed RIFF chunk"))
    val e2 = intercept[IllegalArgumentException](Avi.parseIndex(negChunkAvi))
    assert(e2.getMessage.contains("malformed RIFF chunk"))
    // frameSample on a MIXED table fans out only video assets: a WAV's
    // n_frames is its PCM sample-frame count and must not explode
    val docs = Tables.documents(spark, sf).limit(12)
    val mixed = Binary.syntheticAviAssets(docs.filter($"doc_id" % 2 === 0))
      .unionByName(Binary.syntheticWavAssets(docs.filter($"doc_id" % 2 === 1)))
    val sampled = Binary.frameSample(mixed, every = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(sampled.map(_._1).distinct.forall(_ % 2 == 0),
      "audio assets must not fan out")
    val expect = (0L until 12L by 2).flatMap(id =>
      (0 until Binary.videoFrames(id) by 2).map(f => (id, f))).toSet
    assert(sampled.toSet == expect)
  }

  test("PortableHash: affine61 == BigInt reference; base60 == md5-hex prefix parse") {
    // the contract the q56/q57/q65 oracles stand on: the JVM's folded
    // 128-bit arithmetic must equal exact big-integer math for every
    // (a, h, b) in the family's domain, and the digest-byte extraction
    // must equal parsing the md5 HEX string — the exact form the DuckDB
    // side computes
    import graft.functions.PortableHash._
    val rnd = new scala.util.Random(7)
    (1 to 20000).foreach { _ =>
      val a = (rnd.nextLong() >>> 3) % P61
      val h = rnd.nextLong() >>> 4 // [0, 2^60)
      val b = (rnd.nextLong() >>> 3) % P61
      val want = ((BigInt(a) * BigInt(h) + BigInt(b)) mod BigInt(P61)).toLong
      assert(affine61(a, h, b) == want, s"affine61($a, $h, $b)")
    }
    (1 to 200).foreach { i =>
      val s = org.apache.spark.unsafe.types.UTF8String.fromString(s"tok$i-é")
      val hex = {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(s.getBytes).map("%02x".format(_)).mkString
      }
      assert(base60(s) == java.lang.Long.parseLong(hex.substring(0, 15), 16))
      assert(lo60(md5Of(s)) == java.lang.Long.parseLong(hex.substring(15, 30), 16))
    }
    // consts are in-domain: a ∈ [1, P61), b ∈ [0, P61)
    val (ca, cb) = consts61(96)
    assert(ca.forall(a => a >= 1 && a < P61) && cb.forall(b => b >= 0 && b < P61))
  }

  test("BMP encode -> ImageIO decode round-trips every pixel (the REAL codec path)") {
    // driverside single-image check of the exact path q124 runs
    // distributed: ImageIO must see our encoder's bytes as a valid BMP
    // and return bit-identical pixels, including non-multiple-of-4 row
    // widths (padding) and the bottom-up row order
    for (id <- Seq(0L, 7L, 13L)) {
      val w = Binary.syntheticWidth(id)
      val h = Binary.syntheticHeight(id)
      def rgb(x: Int, y: Int): Int = {
        val r = ((id + 3L * x + 7L * y) % 256).toInt
        val g = ((5L * id + 11L * x + y) % 256).toInt
        val b = ((2L * id + x + 13L * y) % 256).toInt
        (r << 16) | (g << 8) | b
      }
      val bytes = Binary.Bmp.encode(w, h, rgb)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO rejected the encoded BMP for id=$id")
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert((img.getRGB(x, y) & 0xffffff) == rgb(x, y),
          s"pixel ($x,$y) of id=$id did not round-trip")
    }
  }

  test("WAV encode -> AudioSystem decode round-trips every frame (the REAL audio codec path)") {
    // driverside single-asset check of the exact path q129 runs
    // distributed: javax.sound.sampled must parse our RIFF/WAV bytes
    // and return bit-identical 16-bit PCM frames, mono AND stereo
    // (interleaving), including the -32768 edge of the sample range
    for (id <- Seq(0L, 1L, 7L)) {
      val n = Binary.syntheticFrames(id)
      val ch = Binary.syntheticChannels(id)
      val samples = Array.tabulate[Short](n * ch) { i =>
        Binary.syntheticSample(id, i / ch, i % ch)
      }
      val bytes = Binary.Wav.encode(Binary.AudioRate, ch, samples)
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = in.getFormat
      assert(fmt.getChannels == ch && fmt.getSampleRate.toInt == Binary.AudioRate
        && fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
      val decoded = in.readAllBytes(); in.close()
      assert(decoded.length == 2 * n * ch, s"id=$id: frame count")
      for (i <- 0 until n * ch) {
        val s = ((decoded(2 * i) & 0xff) | (decoded(2 * i + 1) << 8)).toShort
        assert(s == samples(i), s"sample $i of id=$id did not round-trip")
      }
    }
    // the generator really hits the full signed range somewhere
    val all = for (id <- 0L to 3L; t <- 0 until 100; c <- 0 until 2)
      yield Binary.syntheticSample(id, t, c).toInt
    assert(all.min < -30000 && all.max > 30000)
  }

  test("AVI encode -> parse -> ImageIO decode round-trips every pixel of every frame (the REAL video codec path)") {
    // driverside single-asset check of the exact path q134 runs
    // distributed: the RIFF walk must recover every movi frame chunk,
    // the idx1/avih counts must agree, and each rehydrated DIB frame
    // must decode through ImageIO bit-identically — including widths
    // whose 3·w rows need padding and the bottom-up row order
    for (id <- Seq(0L, 5L, 9L, 14L)) {
      val w = Binary.videoWidth(id)
      val h = Binary.videoHeight(id)
      val n = Binary.videoFrames(id)
      def rgb(f: Int, x: Int, y: Int): Int = {
        val r = ((id + 3L * x + 7L * y + 11L * f) % 256).toInt
        val g = ((5L * id + 11L * x + y + 3L * f) % 256).toInt
        val b = ((2L * id + x + 13L * y + 17L * f) % 256).toInt
        (r << 16) | (g << 8) | b
      }
      val bytes = Binary.Avi.encode(w, h, n, rgb)
      val parsed = Binary.Avi.parse(bytes)
      assert(parsed.declaredFrames == n && parsed.frames.size == n
        && parsed.indexEntries == n, s"id=$id: container frame accounting")
      parsed.frames.zipWithIndex.foreach { case (frame, f) =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
          Binary.Avi.frameToBmp(parsed.bih, frame)))
        assert(img != null, s"ImageIO rejected frame $f of id=$id")
        assert(img.getWidth == w && img.getHeight == h)
        for (y <- 0 until h; x <- 0 until w)
          assert((img.getRGB(x, y) & 0xffffff) == rgb(f, x, y),
            s"pixel ($x,$y) of frame $f, id=$id did not round-trip")
      }
    }
    // a frame-index mismatch fails LOUDLY (strict parse — a silent
    // partial decode would mimic data loss downstream): truncate the
    // movi list by rewriting avih's dwTotalFrames one higher
    val good = Binary.Avi.encode(8, 4, 2, (_, _, _) => 0)
    val bad = good.clone()
    val bb = java.nio.ByteBuffer.wrap(bad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // avih payload starts at RIFF(12) + LIST hdr(12) + 'avih'+size(8);
    // dwTotalFrames is at payload offset 16
    bb.putInt(12 + 12 + 8 + 16, 3)
    val ex = intercept[IllegalArgumentException](Binary.Avi.parse(bad))
    assert(ex.getMessage.contains("frame index mismatch"))
  }

  test("index-seek frame sample == full decode's sampled subset; corrupt idx1 offsets fail loudly") {
    // the q139 contract: sampling through idx1 must produce EXACTLY the
    // rows the full movi-walk decode produces for those frames — same
    // frame_idx, same declared n_frames, same pixel statistics
    val assets = Binary.syntheticAviAssets(
      Tables.documents(spark, sf).limit(60))
    val full = Binary.decodeVideoStats(assets)
      .filter($"frame_idx" % 2 === 0).collect().map(_.toSeq).toSet
    val sampled = Binary.videoFrameSampleStats(assets, every = 2)
      .collect().map(_.toSeq).toSet
    assert(sampled == full)
    // an index pointing at non-chunk bytes is rejected, not decoded:
    // corrupt the FIRST idx1 offset (idx1 sits at the payload tail —
    // entry 0's dwChunkOffset is 8 bytes into the 16-byte entry)
    val good = Binary.Avi.encode(8, 4, 2, (_, _, _) => 0)
    val idx1Start = good.length - 2 * 16
    val bad = good.clone()
    java.nio.ByteBuffer.wrap(bad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(idx1Start + 8, 2) // mid-chunk: fourcc check must fail
    val ex2 = intercept[IllegalArgumentException](Binary.Avi.parseIndex(bad))
    assert(ex2.getMessage.contains("points at non-chunk") ||
      ex2.getMessage.contains("size"))
  }

  test("by-reference ranged decode == in-cell seek decode; bytes read equal the closed form headers + idx1 + sampled frames") {
    // VERDICT r12 §next-2: the by-reference path must (a) produce the
    // EXACT same sampled stats as the in-cell q139 path over the same
    // underlying bytes, and (b) read exactly headers + idx1 + the
    // sampled frames' ranges — the bytes are counted by the reader and
    // compared against the container format's CLOSED FORM, so an
    // accidental full-container read (or an extra per-unsampled-frame
    // probe) fails by arithmetic, not by threshold.
    val docs = Tables.documents(spark, sf).limit(40).cache()
    val assets = Binary.syntheticAviAssets(docs)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_byref_test").toString
    val refs = Binary.writeAssetRefs(assets, dir).cache()
    assert(refs.count() == 40)
    // pack layout sanity: offsets+lengths tile each pack file exactly
    val packs = refs.groupBy($"uri")
      .agg(sum($"length").as("bytes"), max($"offset" + $"length").as("end"),
        min($"offset").as("first"))
      .collect()
    packs.foreach { r =>
      assert(r.getLong(3) == 0L, "pack must start at offset 0")
      assert(r.getLong(1) == r.getLong(2), "pack refs must tile the file")
    }
    val acc = spark.sparkContext.longAccumulator("graft_test_ranged_bytes")
    val got = Binary.videoFrameSampleStatsByRef(refs, every = 2, Some(acc))
      .collect().map(_.toSeq).toSet
    val want = Binary.videoFrameSampleStats(assets, every = 2)
      .collect().map(_.toSeq).toSet
    assert(got == want, "by-reference path diverged from the in-cell path")
    // closed-form expected bytes, from the writer's own geometry
    def rowSize(w: Int) = ((3 * w + 3) / 4) * 4
    val expectedBytes = (0L until 40L).map { id =>
      val (w, h, n) = (Binary.videoWidth(id), Binary.videoHeight(id),
        Binary.videoFrames(id))
      val frameSize = rowSize(w) * h
      val strlSize = 4 + (8 + 56) + (8 + 40)
      val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
      val sampled = (n + 1) / 2
      12L + (8 + hdrlSize) + 12 + (8 + 16L * n) + sampled * (8L + frameSize)
    }.sum
    assert(acc.value == expectedBytes,
      s"ranged reader fetched ${acc.value} bytes, closed form $expectedBytes")
    // and the point of the exercise: materially below the full corpus
    val totalBytes = refs.agg(sum($"length")).head.getLong(0)
    assert(acc.value < totalBytes,
      s"ranged ${acc.value} must be < full-container $totalBytes")
    // the payload bridge: loadAssetsByRef round-trips every byte, so
    // payload-consuming operators run over pack refs unchanged — the
    // near-dup tier over refs equals the in-cell tier exactly
    val loaded = Binary.loadAssetsByRef(refs)
      .collect().map(r => (r.getLong(0),
        (r.getString(1), r.getAs[Array[Byte]](2).toSeq))).toMap
    val orig = assets.collect().map(r => (r.getLong(0),
      (r.getString(1), r.getAs[Array[Byte]](2).toSeq))).toMap
    assert(loaded == orig, "by-ref payload round-trip diverged")
    val clips = Binary.syntheticAviClips(Tables.documents(spark, sf).limit(30))
    val clipDir = java.nio.file.Files
      .createTempDirectory("graft_byref_clips").toString
    val overRefs = operators.Multimodal.videoNearDup(
      Binary.loadAssetsByRef(Binary.writeAssetRefs(clips, clipDir)), 0.25)
      .collect().map(_.toSeq).toSet
    val overCells = operators.Multimodal.videoNearDup(clips, 0.25)
      .collect().map(_.toSeq).toSet
    assert(overRefs == overCells,
      "near-dup over by-ref assets diverged from the in-cell run")
  }

  test("MJPEG: solid gray round-trips bit-exactly for all 256 values; gradients stay near-lossless; seek + byref paths decode compressed frames") {
    import graft.multimodal.Binary.{Avi, Jpeg}
    // (a) the exactness boundary the q147 oracle stands on: EVERY gray
    // value survives encode(q=1.0) -> ImageIO decode bit-exactly
    (0 until 256).foreach { v =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Jpeg.solidGray(12, 6, v)))
      (0 until 6).foreach { y =>
        (0 until 12).foreach { x =>
          val p = img.getRGB(x, y)
          assert(((p >> 16) & 0xff) == v && ((p >> 8) & 0xff) == v &&
            (p & 0xff) == v, s"gray $v did not round-trip at ($x,$y)")
        }
      }
    }
    // (b) the documented reason q147 is gray-only: GRADIENT pixels are
    // NOT exact under JPEG quantization — but the codec path must stay
    // near-lossless at quality 1.0 (mean abs error small, bounded worst
    // pixel), or the MJPG dispatch is decoding garbage
    val (w, h) = (16, 8)
    val grad = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    // gentle slopes (≤3/pixel): steeper steps cost more through 4:2:0
    // chroma subsampling, which is part of the codec, not a defect
    (0 until h).foreach(y => (0 until w).foreach { x =>
      grad.setRGB(x, y, ((x * 2) << 16) | ((y * 3) << 8) | (x + y))
    })
    val dec = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Jpeg.encode(grad, 1.0f)))
    var errSum = 0L; var errMax = 0
    (0 until h).foreach(y => (0 until w).foreach { x =>
      val a = grad.getRGB(x, y); val b = dec.getRGB(x, y)
      Seq(16, 8, 0).foreach { sh =>
        val e = math.abs(((a >> sh) & 0xff) - ((b >> sh) & 0xff))
        errSum += e; errMax = math.max(errMax, e)
      }
    })
    val mae = errSum.toDouble / (3 * w * h)
    assert(mae < 2.0, s"gradient mean abs error $mae too high at q=1.0")
    assert(errMax <= 12, s"gradient worst-pixel error $errMax at q=1.0")
    // (c) compressed containers flow through ALL THREE decode paths —
    // full parse, index-seek, and by-reference ranged — identically
    val docs = Tables.documents(spark, sf).limit(24)
    val assets = Binary.syntheticMjpegAssets(docs).cache()
    val full = Binary.decodeVideoStats(assets).collect().map(_.toSeq).toSet
    assert(full.nonEmpty)
    full.foreach { r =>
      val (id, f) = (r(0).asInstanceOf[Long], r(1).asInstanceOf[Int])
      val v = Binary.mjpegGray(id, f.toLong).toDouble
      assert(r(5) == v && r(6) == v && r(7) == v,
        s"asset $id frame $f: decoded means $r != gray $v")
    }
    val seek = Binary.videoFrameSampleStats(assets, every = 2)
      .collect().map(_.toSeq).toSet
    val fullEven = full.filter(_(1).asInstanceOf[Int] % 2 == 0)
    assert(seek == fullEven, "seek path diverged on MJPEG frames")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mjpeg_byref").toString
    val byref = Binary.videoFrameSampleStatsByRef(
      Binary.writeAssetRefs(assets, dir), every = 2)
      .collect().map(_.toSeq).toSet
    assert(byref == fullEven, "byref path diverged on MJPEG frames")
    // (d) the probe sniffs the compressed container's real header too
    val probed = Binary.probeMetadata(assets)
      .select($"asset_id", $"meta.codec", $"meta.width", $"meta.n_frames")
      .collect()
    probed.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) == "avi")
      assert(r.getInt(2) == Binary.videoWidth(id))
      assert(r.getInt(3) == Binary.videoFrames(id))
    }
  }

  test("video near-dup: planted clip overlaps surface exactly at the threshold, through real decode") {
    // 60 docs -> 20 clip groups, seeds 0..19 (below the mod-256 wrap, so
    // NO cross-group duplicates). Per group the construction plants
    // clips A={0,1,2}, B={2..5}, C={4..8} of the same virtual video:
    // J(A,B)=1/6 stays below 0.25, J(B,C)=2/7 clears it — the result
    // must be EXACTLY the 20 (3k+1, 3k+2) pairs with shared=2, n=4/5
    val out = operators.Multimodal.videoNearDup(
      Binary.syntheticAviClips(Tables.documents(spark, sf).limit(60)),
      threshold = 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    val expect = (0 until 20).map(k =>
      (3L * k + 1, 3L * k + 2, 2L, 4L, 5L, 0.285714)).toSet
    assert(out == expect)
    // the sub-threshold planted pair IS found when the dial drops
    val loose = operators.Multimodal.videoNearDup(
      Binary.syntheticAviClips(Tables.documents(spark, sf).limit(60)),
      threshold = 0.15).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    assert((0 until 20).forall(k =>
      loose.contains((3L * k, 3L * k + 1, 0.166667))))
  }

  test("image aHash near-dup: planted recomposited twins found at hamming <= 2; engine equals the banded reference") {
    // 60 docs -> 30 twin pairs (2k, 2k+1): same seed content with two
    // 2x2 tiles SWAPPED — a mean-preserving retouch, so the aHash
    // threshold is untouched and the twin's hamming is EXACTLY the two
    // swapped tiles' bit difference: <= 2, inside the banding's <4
    // pigeonhole guarantee, through the REAL decode -> hash -> band ->
    // confirm chain
    val assets = Binary.syntheticBmpNearDups(
      Tables.documents(spark, sf).limit(60))
    val found = operators.Multimodal.imageNearDup(assets, maxHamming = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    (0 until 30).foreach { k =>
      val p = (2L * k, 2L * k + 1)
      assert(found.contains(p), s"planted twin $p missed")
      assert(found(p) <= 2, s"twin $p hamming ${found(p)} > 2")
    }
    // the engine must equal the banded reference exactly: brute-force
    // the collected hashes driver-side, keep pairs that share >= 1 of
    // the 4 16-bit bands AND confirm at hamming <= 4
    val hs = Binary.imageAHash(assets).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    def bandsOf(hi: Long, lo: Long) =
      Seq((0, hi >> 16), (1, hi & 0xffffL), (2, lo >> 16), (3, lo & 0xffffL))
    val expect = (for {
      (a, hiA, loA) <- hs; (b, hiB, loB) <- hs if a < b
      if bandsOf(hiA, loA).toSet.intersect(bandsOf(hiB, loB).toSet).nonEmpty
      h = java.lang.Long.bitCount(hiA ^ hiB) + java.lang.Long.bitCount(loA ^ loB)
      if h <= 4
    } yield ((a, b), h)).toMap
    assert(found == expect, "engine diverged from the banded reference")
  }

  test("audio near-dup: planted clip overlaps surface exactly at the threshold, through real decode") {
    // the q141 contract on the audio side: 60 docs -> 20 clip groups;
    // per group clips A/B/C cover windows {0,1,2}/{2..5}/{4..8} of the
    // same virtual recording, so J(A,B)=1/6 < 0.25 <= J(B,C)=2/7 — the
    // result must be EXACTLY the 20 (3k+1, 3k+2) pairs
    val out = operators.Multimodal.audioNearDup(
      Binary.syntheticWavClips(Tables.documents(spark, sf).limit(60)),
      threshold = 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    val expect = (0 until 20).map(k =>
      (3L * k + 1, 3L * k + 2, 2L, 4L, 5L, 0.285714)).toSet
    assert(out == expect)
    // the sub-threshold planted pair IS found when the dial drops
    val loose = operators.Multimodal.audioNearDup(
      Binary.syntheticWavClips(Tables.documents(spark, sf).limit(60)),
      threshold = 0.15).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    assert((0 until 20).forall(k =>
      loose.contains((3L * k, 3L * k + 1, 0.166667))))
  }

  test("incremental video dedup: registry coverage routes keep/drop at closed-form planted fractions") {
    // 60 docs: batch = ids ≡ 3 (mod 4); each batch clip's group-mates
    // are ALWAYS in the registry (ids in a group are consecutive, so at
    // most one is ≡ 3 mod 4). Coverage by group position is closed-form
    // from the planted window ranges {0,1,2}/{2..5}/{4..8}:
    //   m0: seen {2} of 3   -> 1/3  -> kept
    //   m1: seen {2,4,5} of 4 -> 3/4 -> dropped
    //   m2: seen {4,5} of 5 -> 2/5  -> kept
    val docs = Tables.documents(spark, sf).limit(60)
    val out = operators.Multimodal.videoDedupIncremental(
      operators.Multimodal.videoPrintRegistry(
        Binary.syntheticAviClips(docs.filter($"doc_id" % 4 =!= 3))),
      Binary.syntheticAviClips(docs.filter($"doc_id" % 4 === 3)),
      dropAt = 0.5).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out.keySet == (3L until 60L by 4).toSet)
    out.foreach { case (id, (np, ns, cov, kept)) =>
      val expect = (id % 3) match {
        case 0 => (3L, 1L, 0.333333, true)
        case 1 => (4L, 3L, 0.75, false)
        case 2 => (5L, 2L, 0.4, true)
      }
      assert((np, ns, cov, kept) == expect,
        s"asset $id: got ($np, $ns, $cov, $kept), expected $expect")
    }
  }

  test("pixel resize: decode -> NN resample -> re-encode -> decode matches direct generator arithmetic") {
    // driverside single-asset check of the q136 path: the resampled
    // pixel at (x, y) must equal the GENERATOR's value at the floor-
    // mapped source coordinate — through the full decode/encode cycle
    for (id <- Seq(0L, 6L, 11L)) {
      val sw = Binary.syntheticWidth(id); val sh = Binary.syntheticHeight(id)
      val tw = Binary.resizeWidth(id); val th = Binary.resizeHeight(id)
      def rgb(x: Int, y: Int): Int = {
        val r = ((id + 3L * x + 7L * y) % 256).toInt
        val g = ((5L * id + 11L * x + y) % 256).toInt
        val b = ((2L * id + x + 13L * y) % 256).toInt
        (r << 16) | (g << 8) | b
      }
      val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        Binary.Bmp.encode(sw, sh, rgb)))
      val resized = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
        Binary.Bmp.encode(tw, th,
          (x, y) => src.getRGB(x * sw / tw, y * sh / th) & 0xffffff)))
      assert(resized.getWidth == tw && resized.getHeight == th)
      for (y <- 0 until th; x <- 0 until tw)
        assert((resized.getRGB(x, y) & 0xffffff) == rgb(x * sw / tw, y * sh / th),
          s"resized pixel ($x,$y) of id=$id did not round-trip")
    }
  }

  test("sorted_intersect_count equals size(array_intersect) on hashed word sets") {
    import graft.functions.SortedIntersectCount
    val sets = Tables.documents(spark, sf).limit(300)
      .select($"doc_id",
        array_sort(transform(TextOps.distinctWords($"text"), w => xxhash64(w)))
          .as("hset"))
    val pairs = sets.toDF("a_id", "a").crossJoin(sets.toDF("b_id", "b"))
      .filter($"a_id" < $"b_id").limit(5000)
    val mismatches = pairs.select(
      SortedIntersectCount.count($"a", $"b").as("native"),
      size(array_intersect($"a", $"b")).as("generic"))
      .filter($"native" =!= $"generic").count()
    assert(mismatches == 0)
  }

  test("ngram_hash64 n=1 equals sorted-distinct xxhash64 of the words") {
    import graft.functions.NGramHash64
    val mismatches = Tables.documents(spark, sf)
      .select(
        NGramHash64.ngramHashes(TextOps.words($"text"), 1).as("native"),
        array_sort(array_distinct(
          transform(TextOps.words($"text"), w => xxhash64(w)))).as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(mismatches == 0)
  }

  test("ngram_hash64 n=2: cardinality matches distinct string shingles; short docs empty") {
    import graft.functions.NGramHash64
    val mismatches = Tables.documents(spark, sf)
      .select(
        size(NGramHash64.ngramHashes(TextOps.words($"text"), 2)).as("native"),
        size(array_distinct(TextOps.shingles($"text", 2))).as("strings"))
      .filter($"native" =!= $"strings").count()
    assert(mismatches == 0)
    val short = Seq("single").toDF("text")
      .select(NGramHash64.ngramHashes(TextOps.words($"text"), 2).as("h"))
      .head.getSeq[Long](0)
    assert(short.isEmpty)
    // order sensitivity: reversed bigram hashes differ
    val Seq(ab, ba) = Seq("a b", "b a").toDF("text")
      .select(NGramHash64.ngramHashes(TextOps.words($"text"), 2).as("h"))
      .collect().map(_.getSeq[Long](0).head).toSeq
    assert(ab != ba)
  }

  test("native vector_dot is bit-identical to the HOF formulation") {
    val emb = Tables.embeddings(spark, sf).limit(200)
    val pairs = emb.select($"vec_id".as("a_id"), $"embedding".as("a"))
      .crossJoin(emb.select($"vec_id".as("b_id"), $"embedding".as("b")))
      .filter($"a_id" < $"b_id").limit(2000)
    val diffs = pairs.select(
      (VectorOps.dot($"a", $"b") - VectorOps.hofDot($"a", $"b")).as("d"))
      .filter($"d" =!= 0.0).count()
    assert(diffs == 0)
  }

  test("embeddings fixture width equals Similarity.EmbeddingDim") {
    // the q58/q59/q61/q66 oracles inline hyperplane literals of this
    // width and q68's oracle ranges over it — a different-width corpus
    // must fail HERE, loudly, not hash-diverge in the driver gate
    val dims = Tables.embeddings(spark, sf)
      .select(size($"embedding").as("d")).distinct()
      .collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(Similarity.EmbeddingDim), s"fixture dims: $dims")
  }

  test("vector ops: cosine of a vector with itself is 1") {
    val emb = Tables.embeddings(spark, sf).limit(10)
    val sims = emb.select(
      round(VectorOps.cosine($"embedding", $"embedding"), 9).as("s"))
      .collect().map(_.getDouble(0))
    assert(sims.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("spanRewrite: loser doc loses exactly the shared span; keeper and short docs byte-identical") {
    // doc 1 owns tokens a0..a29; doc 2 embeds doc 1's a5..a20 (16 tokens)
    // between unique b*/c* runs — every width-10 window fully inside the
    // span duplicates doc 1's, every straddling window is unique
    val w1 = (0 until 30).map(i => s"a$i")
    val span = (5 until 21).map(i => s"a$i")
    val w2 = (0 until 10).map(i => s"b$i") ++ span ++ (0 until 10).map(i => s"c$i")
    val docs = Seq((1L, w1.mkString(" ")), (2L, w2.mkString(" ")),
      (3L, "short doc")).toDF("doc_id", "text")
    val got = Dedup.spanRewrite(docs, width = 10).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((30, 0, w1.mkString(" "))), "keeper must stay intact")
    assert(got(3L) == ((2, 0, "short doc")), "sub-width docs untouched")
    val expect2 = ((0 until 10).map(i => s"b$i") ++
      (0 until 10).map(i => s"c$i")).mkString(" ")
    assert(got(2L) == ((36, 16, expect2)), s"got ${got(2L)}")
  }

  test("spanRewrite: within-document repeats are kept (cross-doc only)") {
    val phrase = (0 until 10).map(i => s"p$i")
    val text = (phrase ++ Seq("mid") ++ phrase).mkString(" ")
    val docs = Seq((1L, text), (2L, "totally unrelated other words here"))
      .toDF("doc_id", "text")
    val got = Dedup.spanRewrite(docs, width = 10).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got(1L) == text, "an intra-doc repeat must not drop tokens")
  }

  test("media near-dup bucket cap: a hot fingerprint (black frame / solid image / silence) stays bounded; planted pairs below the cap survive") {
    // VERDICT r12 §next-1: the adversarial corpus a planted-similarity
    // generator never produces — ONE fingerprint shared by many assets
    // (black frames, solid-color images, silence windows are ubiquitous
    // on real corpora). Uncapped, that bucket is b²/2 candidate pairs
    // and one unbounded aggregate row; the cap must drop it as a window
    // count while every planted true pair in a small bucket is still
    // found. All data is deterministic; assertions are exact sets.
    import graft.multimodal.Binary.{Avi, Bmp, Wav}
    val assetSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("asset_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("media_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    def assets(mt: String, rows: Seq[(Long, Array[Byte])]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map { case (id, p) =>
            org.apache.spark.sql.Row(id, mt, p) }, 4), assetSchema)
    def shuffleRecords(body: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) acc.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(400) } // listener bus is async; drain
      finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }

    // ---- VIDEO: 40 assets share one black frame; 5 planted true pairs
    // (2 shared unique frames of 4 distinct -> J = 0.5) sit in buckets
    // of size 2. Unique frames are distinct constant colors (injective
    // in the frame id), so NO incidental print collisions exist.
    def colorFrame(cid: Int): (Int, Int, Int) => Int =
      (_, _, _) => ((cid % 256) << 16) | (((cid / 256) % 256) << 8) | 37
    def videoAsset(frameIds: Seq[Int]): Array[Byte] =
      Avi.encode(8, 4, frameIds.size,
        (f, x, y) => colorFrame(frameIds(f))(x, y, 0))
    val hotV = (0 until 40).map(i =>
      (i.toLong, videoAsset(Seq(0, 1000 + i * 4 + 1, 1000 + i * 4 + 2))))
    val plantedV = (0 until 5).flatMap { j =>
      Seq((100L + 2 * j, videoAsset(Seq(20000 + j * 10, 20000 + j * 10 + 1,
            20000 + j * 10 + 2))),
          (101L + 2 * j, videoAsset(Seq(20000 + j * 10 + 1,
            20000 + j * 10 + 2, 20000 + j * 10 + 3))))
    }
    val videoCorpus = assets("video/avi", hotV ++ plantedV)
    // threshold 0.1 ADMITS hot-only pairs (J = 1/5): the capped run must
    // still exclude every pair whose only shared content is the hot
    // frame, because the bucket never generates them
    def vPairs(cap: Int) = operators.Multimodal
      .videoNearDup(videoCorpus, threshold = 0.1, maxBucket = cap)
      .select($"asset_a", $"asset_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedPairs = (0 until 5)
      .map(j => (100L + 2 * j, 101L + 2 * j)).toSet
    var cappedV = Set.empty[(Long, Long)]
    var uncappedV = Set.empty[(Long, Long)]
    val cappedRecords = shuffleRecords { cappedV = vPairs(8) }
    val uncappedRecords = shuffleRecords { uncappedV = vPairs(100000) }
    assert(cappedV == plantedPairs,
      s"capped run must emit exactly the planted pairs, got $cappedV")
    assert(uncappedV == plantedPairs ++
      (for (a <- 0 until 40; b <- a + 1 until 40) yield (a.toLong, b.toLong)),
      "uncapped reference must include every hot-only pair")
    // boundedness is MEASURED, not asserted from the plan: the uncapped
    // run shuffles the 40·39/2 = 780 hot pair rows the cap never emits
    assert(uncappedRecords - cappedRecords >= 700L,
      s"expected the cap to remove >= 700 shuffled pair rows, " +
        s"got capped=$cappedRecords uncapped=$uncappedRecords")

    // ---- IMAGE: 30 solid-color images all hash to aHash 0 (every tile
    // equals the mean) -> one hot bucket per band; uncapped they ALL
    // confirm pairwise at hamming 0 (the classic aHash failure). Twins
    // from the q142 generator (ids 0..19 -> 10 twin pairs) live in
    // small buckets and must survive the cap.
    val solids = (0 until 30).map { i =>
      (10000L + i, Bmp.encode(16, 16, (_, _) => (i * 7919) & 0xffffff))
    }
    val twins = Binary.syntheticBmpNearDups(
      Tables.documents(spark, sf).limit(20))
    val imageCorpus = twins.unionByName(assets("image/bmp", solids))
    def iPairs(cap: Int) = operators.Multimodal
      .imageNearDup(imageCorpus, maxHamming = 4, maxBucket = cap)
      .select($"asset_a", $"asset_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cappedI = iPairs(8)
    val uncappedI = iPairs(100000)
    val solidPairs = (for (a <- 0 until 30; b <- a + 1 until 30)
      yield (10000L + a, 10000L + b)).toSet
    assert(solidPairs.subsetOf(uncappedI),
      "uncapped reference must confirm every solid-solid pair at hamming 0")
    assert(cappedI == uncappedI -- solidPairs,
      "capped run must drop exactly the hot-bucket pairs")
    assert((0 until 10).forall(k => cappedI.contains((2L * k, 2L * k + 1))),
      "planted twins below the cap must survive")

    // ---- AUDIO: 40 clips share one silence window (s1 = s2 = 0); 5
    // planted pairs share 2 constant-amplitude windows of 4 distinct.
    def audioAsset(winAmps: Seq[Int]): Array[Byte] = {
      val samples = new Array[Short](winAmps.size * Binary.AudioWindow)
      winAmps.zipWithIndex.foreach { case (a, w) =>
        java.util.Arrays.fill(samples, w * Binary.AudioWindow,
          (w + 1) * Binary.AudioWindow, a.toShort)
      }
      Wav.encode(8000, 1, samples)
    }
    val hotA = (0 until 40).map(i =>
      (i.toLong, audioAsset(Seq(0, 100 + i * 4 + 1, 100 + i * 4 + 2))))
    val plantedA = (0 until 5).flatMap { j =>
      Seq((100L + 2 * j, audioAsset(Seq(1000 + j * 10, 1000 + j * 10 + 1,
            1000 + j * 10 + 2))),
          (101L + 2 * j, audioAsset(Seq(1000 + j * 10 + 1,
            1000 + j * 10 + 2, 1000 + j * 10 + 3))))
    }
    val audioCorpus = assets("audio/wav", hotA ++ plantedA)
    def aPairs(cap: Int) = operators.Multimodal
      .audioNearDup(audioCorpus, threshold = 0.1, maxBucket = cap)
      .select($"asset_a", $"asset_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(aPairs(8) == plantedPairs,
      "capped audio run must emit exactly the planted pairs")
    assert(aPairs(100000) == plantedPairs ++
      (for (a <- 0 until 40; b <- a + 1 until 40) yield (a.toLong, b.toLong)),
      "uncapped audio reference must include every hot-only pair")
  }

  test("spanRewrite: hash-window implementation ≡ string-window reference on the corpus") {
    // the q95 precedent: the engine runs on 64-bit positional window
    // hashes, the oracle on string windows — prove equality on real data
    val w = 10
    val docs = Tables.documents(spark, sf)
    val winsS = docs.select($"doc_id",
      posexplode(TextOps.shingles($"text", w)).as(Seq("p", "g")))
    val keeper = winsS.groupBy($"g").agg(min($"doc_id").as("k_doc"))
    val covRef = winsS.join(keeper, Seq("g")).filter($"doc_id" > $"k_doc")
      .select($"doc_id", explode(sequence($"p", $"p" + (w - 1))).as("t"))
      .distinct().collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getInt(1)).toSet }
    val words = docs.select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val got = Dedup.spanRewrite(docs, w).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(got.keySet == words.keySet)
    words.foreach { case (id, ws) =>
      val cov = covRef.getOrElse(id, Set.empty)
      val expected = ws.indices.filterNot(cov).map(ws).mkString(" ")
      withClue(s"doc $id: ") {
        assert(got(id) == ((ws.length, cov.size, expected)))
      }
    }
  }

  test("q151 pair assembly: both gates bite and each kept pair is unique") {
    val pairs = SparkEntry.queries("q151_pair_assembly")(spark, sf)
      .cache()
    val n = pairs.count()
    val docs = Tables.documents(spark, sf)
    // non-trivial on both ends: some pairs survive, some docs are dropped
    assert(n > 0)
    assert(n < docs.count())
    // a pair manifest keys uniquely by doc
    assert(pairs.select("doc_id").distinct().count() == n)
    // caption gates hold on every survivor
    val bad = pairs.filter(col("n_words") < 20 ||
      !col("lang").isin("en", "de", "fr", "es")).count()
    assert(bad == 0)
    // image exposure gate holds: extreme pixels <= 25% of the frame
    assert(pairs.filter(col("extreme_px") * 4 >
      col("width").cast("long") * col("height")).count() == 0)
  }
}
