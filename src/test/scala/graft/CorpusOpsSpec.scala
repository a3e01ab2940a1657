package graft

import graft.queries.TrainingData
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks for the corpus-management operators (the value-level
  * gate is the DuckDB oracle in SparkEntry.oracleSql; these pin the
  * structural properties a refactor could silently break).
  */
class CorpusOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("split_train_val: buckets partition the corpus, roughly 80/10/10") {
    val rows = TrainingData.splitTrainVal(spark, sf).collect()
    val bySplit = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit.values.sum === 500L)
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("sample_stratified: every stratum reported, rate near 1/10") {
    val rows = TrainingData.sampleStratified(spark, sf).collect()
    val total = rows.map(_.getLong(1)).sum
    val sampled = rows.map(_.getLong(2)).sum
    assert(total === 500L)
    // hash-uniform 1-in-10 over 500 docs: generous band, determinism is the point
    assert(sampled > 20 && sampled < 80)
    // deterministic: a second run is identical
    assert(TrainingData.sampleStratified(spark, sf).collect().toSeq === rows.toSeq)
  }

  test("split_leakage: pair counts bound the leaked set, docs cover it") {
    val Array(r) = TrainingData.splitLeakage(spark, sf).collect()
    val (nTexts, leaked) = (r.getLong(0), r.getLong(1))
    val (tv, tt, vt, docs) =
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(nTexts > 0L && leaked <= nTexts)
    // every leaked text spans at least one pair; a text spanning all three
    // splits counts in all three pairs, so the pair sum upper-bounds 3x
    assert(leaked <= tv + tt + vt && tv + tt + vt <= 3 * leaked)
    // a leaked text has >= 2 docs by definition
    assert(docs >= 2 * leaked)
    // this sf's 500 docs are all distinct (exact dups first appear at
    // sf0.1), so zero leakage is the CORRECT answer here — the positive
    // path is exercised by the crafted-dup fixture below
    assert(leaked === 0L && docs === 0L)
  }

  test("split_leakage semantics: a text duplicated across splits is " +
    "counted once, with all its docs") {
    // crafted corpus: doc_ids whose h60 buckets land in different splits
    // sharing one text + a unique text; write to a temp dir in the
    // documents.parquet layout and run the REAL operator on it
    import org.apache.spark.sql.functions._
    val ids = (0L until 200L)
    val bucket = (i: Long) => {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.map("%02x".format(_)).mkString.substring(0, 15), 16) % 100
    }
    val train = ids.find(bucket(_) < 80).get
    val test0 = ids.find(bucket(_) >= 90).get
    val uniq = ids.find(i => bucket(i) < 80 && i != train).get
    val dir = java.nio.file.Files.createTempDirectory("leak").toString
    try {
      import spark.implicits._
      Seq((train, "shared text body"), (test0, "shared text body"),
        (uniq, "only once"))
        .toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      val Array(r) = TrainingData.splitLeakage(spark, dir).collect()
      assert(r.getLong(0) === 2L, "two distinct texts")
      assert(r.getLong(1) === 1L, "one leaked text")
      assert(r.getLong(3) === 1L, "train-test pair")
      assert(r.getLong(2) === 0L && r.getLong(4) === 0L)
      assert(r.getLong(5) === 2L, "both docs of the leaked text counted")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("decontam_filter: dropped + kept partition train, per source") {
    val rows = TrainingData.decontamFilter(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, dropped, kept) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(dropped + kept === n, s"${r.getString(0)}: partition broken")
      assert(r.getLong(4) >= 0L)
    }
    // eval grams exist in train (the corpus is one vocabulary): the gate
    // must actually fire somewhere, else the op is vacuous
    assert(rows.map(_.getLong(2)).sum > 0L, "filter dropped nothing")
  }

  test("curated_docs: kept frame matches curate_corpus stats and " +
    "publishes as a versioned warehouse table") {
    val kept = TrainingData.curatedDocs(spark, sf)
    val Array(stats) = TrainingData.curateCorpus(spark, sf).collect()
    // the product path and the stats twin are the same chain: counts agree
    assert(kept.count() === stats.getLong(0))
    assert(kept.agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .collect()(0).getLong(0) === stats.getLong(1))
    // survivors are unique by content (exact stage) and carry full docs
    assert(kept.select("text").distinct().count() === kept.count())
    assert(kept.columns.toSeq ===
      Seq("doc_id", "text", "lang", "source", "n_tokens"))
    // publish through the real store (what --corpus does)
    val wh = java.nio.file.Files.createTempDirectory("corpus_wh").toString
    try {
      val store = new graft.store.TableStore(spark, wh)
      store.overwrite("corpus_docs", kept, partitionBy = Seq("source"))
      val back = store.readIfExists("corpus_docs").get
      assert(back.count() === stats.getLong(0))
      // source-partitioned layout: a per-source read prunes to one dir
      assert(back.filter(org.apache.spark.sql.functions.col("source") === "src0")
        .count() > 0L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(wh))
    }
    spark.catalog.clearCache() // curatedDocs' cache has no unpersist seam
  }

  test("curated_docs incremental: re-release of the same dir yields zero " +
    "new docs; novel docs survive, near-dups of the corpus are dropped") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // same dir against its own release: every batch survivor is exactly
    // in the corpus already -> the exact tier drops all of them
    val cur = TrainingData.curatedDocs(spark, sf)
    assert(TrainingData.curatedDocsIncremental(spark, sf, cur).count() === 0L)
    // crafted: corpus holds text T; batch brings a near-dup of T (one
    // token changed -> bigram Jaccard far above 0.2) and a novel doc
    val t = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 39).map(i => s"tok$i") :+ "CHANGED").mkString(" ")
    val novel = (1 to 40).map(i => s"other$i").mkString(" ")
    val corpus = Seq((900L, t, "en", "src0", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_tokens")
    val dir = java.nio.file.Files.createTempDirectory("inc").toString
    try {
      Seq((1L, nearDup), (2L, novel)).toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("src0").as("source"),
          length(col("text")).cast("long").as("n_chars"))
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      val kept = TrainingData.curatedDocsIncremental(spark, dir, corpus)
        .collect()
      assert(kept.map(_.getLong(0)).toSeq === Seq(2L),
        "near-dup of the corpus dropped, novel doc kept")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dir))
      spark.catalog.clearCache()
    }
  }

  test("text_ngrams: exactly top-20, ordered by df desc then ngram") {
    val rows = TrainingData.textNgrams(spark, sf).collect()
    assert(rows.length === 20)
    val dfs = rows.map(_.getLong(1)).toSeq
    assert(dfs === dfs.sortBy(-_))
    assert(rows.forall(_.getString(0).split(" ").length === 2))
  }

  test("dedup_simhash_md5: one pair per consecutive id, sane hamming range") {
    val Array(r) = TrainingData.dedupSimhashMd5(spark, sf).collect()
    assert(r.getLong(0) === 499L) // 500 docs -> 499 consecutive pairs
    assert(r.getLong(1) <= r.getLong(2)) // within_8 <= within_16
    assert(r.getLong(3) >= 0L && r.getLong(3) <= 60L)
  }

  test("dup_clusters: every cluster has >= 2 docs; counts consistent") {
    val Array(r) = TrainingData.dupClusters(spark, sf).collect()
    val (n, docs, maxSz) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n > 0L, "testdata contains near-dup groups")
    assert(docs >= 2 * n, "a cluster is at least a pair")
    assert(maxSz >= 2L && maxSz <= docs)
  }

  test("tfidf_top_terms: exactly 3 per lang, scores non-increasing in rank") {
    val rows = TrainingData.tfidfTopTerms(spark, sf).collect()
    val byLang = rows.groupBy(_.getString(0))
    assert(byLang.values.forall(_.length === 3))
    byLang.values.foreach { g =>
      val scores = g.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
      assert(scores === scores.sortBy(-_))
      assert(g.map(_.getLong(1)).toSet === Set(1L, 2L, 3L))
    }
  }

  test("quality_gate_dynamic: p10-p90 band keeps a middle majority") {
    val Array(r) = TrainingData.qualityGateDynamic(spark, sf).collect()
    val kept = r.getLong(0)
    assert(kept > 250 && kept <= 450, s"p10..p90 keeps ~80%, got $kept")
    assert(r.getLong(1) >= kept, "every kept doc has >= 1 token")
  }

  test("quality_repetition: per-lang rollup with sane fractions") {
    val rows = TrainingData.qualityRepetition(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === 500L)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0) // avg_ttr
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0) // top token frac
      assert(r.getLong(5) <= r.getLong(1)) // n_flagged <= n_docs
    }
  }

  test("pack_sequences: shards partition the corpus, fill consistent") {
    val rows = TrainingData.packSequences(spark, sf).collect()
    assert(rows.length === 8)
    assert(rows.map(_.getLong(1)).sum === 500L)
    rows.foreach { r =>
      val (total, nSeq, bound, fill) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(nSeq === (total + 255) / 256)
      assert(bound <= r.getLong(1))
      assert(fill > 0.0 && fill <= 1.0)
    }
  }

  test("vocab_coverage: oov rates in [0,1), token totals match corpus") {
    val rows = TrainingData.vocabCoverage(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
      assert(r.getLong(1) > 0L)
    }
  }

  test("dedup_containment: containment bounds and candidate superset") {
    val Array(r) = TrainingData.dedupContainment(spark, sf).collect()
    val n = r.getLong(0)
    if (n > 0) {
      assert(r.getDouble(1) <= r.getDouble(2))
      assert(r.getDouble(2) <= 1.0)
      assert(r.getDouble(1) >= 0.5, "filtered at containment >= 0.5")
    }
  }

  test("select_best_per_lang: 3 per lang, rank follows score") {
    val rows = TrainingData.selectBestPerLang(spark, sf).collect()
    val byLang = rows.groupBy(_.getString(0))
    byLang.values.foreach { g =>
      assert(g.length === 3)
      val ordered = g.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
      assert(ordered === ordered.sortBy(-_))
    }
  }

  test("emb_quantize: int8 reconstruction error bounded by half a step") {
    val Array(r) = TrainingData.embQuantize(spark, sf).collect()
    assert(r.getLong(0) > 0 && r.getLong(0) % 64 === 0, "64-dim vectors")
    assert(r.getDouble(1) > 0.0, "lossy quantization has nonzero MSE")
    // max |err| <= range/(2*255); embedding ranges are a few units
    assert(r.getDouble(2) < 50.0, "x1e3 scale: half-step bound")
  }

  test("emb_kmeans: clusters partition the vectors; Lloyd step reduces inertia") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val rows = TrainingData.embKmeans(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === 500L, "every vector assigned")
    assert(rows.forall(_.getDouble(2) >= 0.0))
    assert(rows.length <= 10, "at most one cluster per seed")
    // the update step must actually move centroids: total inertia after the
    // Lloyd iteration is strictly below the seed-centroid assignment's
    // (equality would mean the update silently became a no-op)
    import graft.functions.VectorFunctions.vecDot
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .withColumn("vv", vecDot(col("v"), col("v")))
    val c0 = e.filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("vv").as("cvv"))
    val seedInertia = TrainingData.kmeansAssign(e, c0)
      .agg(sum("dist2")).head().getDouble(0)
    val finalInertia = rows.map(_.getDouble(2)).sum
    assert(finalInertia < seedInertia,
      s"Lloyd step must reduce inertia: $finalInertia vs seed $seedInertia")
  }

  test("sample_fixed_n: exactly 10 per language, rerun-identical") {
    val rows = TrainingData.sampleFixedN(spark, sf).collect()
    assert(rows.forall(_.getLong(1) === 10L))
    assert(TrainingData.sampleFixedN(spark, sf).collect().toSeq === rows.toSeq)
  }

  test("dedup_incremental: counts consistent, drop rate in [0,1]") {
    val Array(r) = TrainingData.dedupIncremental(spark, sf).collect()
    val (batch, existing, dropped) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(batch + existing === 500L, "sources partition the corpus")
    assert(dropped <= batch)
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  test("dup_clusters agrees with pairwise LSH counts: clustered docs cover pairs") {
    // verified_pairs from the pairwise operator vs docs-in-clusters from the
    // component view: v pairs over c components of sizes s_i satisfy
    // sum(s_i) <= 2v (each doc in a cluster touches >= 1 pair)
    val Array(lsh) = TrainingData.dedupMinhashLsh(spark, sf).collect()
    val Array(cc) = TrainingData.dupClusters(spark, sf).collect()
    assert(cc.getLong(1) <= 2 * lsh.getLong(1))
  }

  test("mixture_weights: weights sum to 1, temperature flattens the mixture") {
    val rows = TrainingData.mixtureWeights(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === 500L)
    val weights = rows.map(_.getDouble(3))
    assert(math.abs(weights.sum - 1.0) < 0.01)
    // alpha=0.5 pulls every source's share toward uniform: the largest
    // source's mix weight is below its raw share, the smallest's above
    val byShare = rows.sortBy(_.getDouble(2))
    assert(byShare.last.getDouble(3) <= byShare.last.getDouble(2) + 1e-9)
    assert(byShare.head.getDouble(3) >= byShare.head.getDouble(2) - 1e-9)
  }

  test("shard_assign: 8 shards partition the corpus, roughly balanced") {
    val rows = TrainingData.shardAssign(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet === (0L to 7L).toSet)
    assert(rows.map(_.getLong(1)).sum === 500L)
    val counts = rows.map(_.getLong(1))
    assert(counts.min > 20 && counts.max < 140, s"badly skewed: ${counts.toSeq}")
    // deterministic
    assert(TrainingData.shardAssign(spark, sf).collect().toSeq === rows.toSeq)
  }

  test("bytes_per_token: fertility bounded below by 1 byte and consistent") {
    val rows = TrainingData.bytesPerToken(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === 500L)
    rows.foreach { r =>
      // a whitespace token is >= 1 byte + separator, and subwords split
      // tokens further, so bytes/subword <= bytes/token
      assert(r.getDouble(3) > 1.0)
      assert(r.getDouble(4) <= r.getDouble(3) + 1e-9)
    }
  }

  test("window_chunking: every doc chunks, fills within (0,1]") {
    val Array(r) = TrainingData.windowChunking(spark, sf).collect()
    val (total, full) = (r.getLong(0), r.getLong(1))
    assert(total >= 500L, "at least one chunk per document")
    assert(full <= total)
    assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
  }

  test("knn_label_agreement: all labels reported, agreement is a rate") {
    val rows = TrainingData.knnLabelAgreement(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === 500L, "one row per vector at sf0.001")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("dedup_semantic: counts consistent, dropped bounded by dup pairs") {
    val Array(r) = TrainingData.dedupSemantic(spark, sf).collect()
    val (nVecs, nClusters, nOversize, nPairs, nDup, nDropped, nKept) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))
    assert(nVecs === 500L)
    assert(nClusters > 0L && nClusters <= 5L, "every 100th vector seeds")
    assert(nOversize <= nClusters)
    assert(nDup <= nPairs)
    assert(nDropped <= nDup, "a vec dropped once per distinct pair at most")
    assert(nKept === nVecs - nDropped)
  }

  test("dedup_semantic: cluster-size cap re-splits oversized clusters and " +
    "hard-bounds pair work") {
    // 500 vecs over <= 5 clusters: cap 16 forces every cluster to split
    val Array(capped) = TrainingData
      .dedupSemanticCapped(spark, sf, cap = 16).collect()
    val Array(uncapped) = TrainingData
      .dedupSemanticCapped(spark, sf, cap = 1 << 20).collect()
    assert(capped.getLong(2) > 0L, "cap 16 must flag oversized clusters")
    assert(uncapped.getLong(2) === 0L)
    // re-splitting only REMOVES cross-sub-bucket pairs, never adds
    assert(capped.getLong(3) < uncapped.getLong(3))
    assert(capped.getLong(4) <= uncapped.getLong(4))
    // hard bound: k members over buckets of <= 16 yields at most
    // ceil(k/16) * C(16,2) pairs per cluster; 500 vecs -> < 32 buckets
    // of C(16,2) = 120 pairs
    assert(capped.getLong(3) <= 32L * 120L,
      s"pair work must be capped, got ${capped.getLong(3)}")
  }

  test("text_heavy_hitters: CMS estimate never undercounts, top-10 exact order") {
    val rows = TrainingData.textHeavyHitters(spark, sf).collect()
    assert(rows.length === 10)
    val exacts = rows.map(_.getLong(2)).toSeq
    assert(exacts === exacts.sortBy(-_), "ranked by exact count desc")
    rows.foreach { r =>
      // CMS overestimates or is exact, never under; overestimate <= eps*N
      assert(r.getLong(3) === 1L, s"undercount for token ${r.getString(1)}")
      assert(r.getLong(4) === 1L, s"overestimate beyond eps*N for ${r.getString(1)}")
    }
  }

  test("q25: approx percentile within the 1/accuracy rank-error band") {
    val Array(r) = graft.queries.Relational
      .q25ApproxQuantile(spark, sf).collect()
    assert(r.getLong(0) === 1500L, "orders at sf0.001")
    assert(r.getDouble(1) <= r.getDouble(2), "p50 <= p99")
    // accuracy 1000: both sketch values inside the q±0.005 value bracket
    assert(r.getLong(3) === 1L, "p50 in band")
    assert(r.getLong(4) === 1L, "p99 in band")
  }

  test("dedup_spans: duplicated subset of distinct, rate consistent") {
    val Array(r) = TrainingData.dedupSpans(spark, sf).collect()
    val (distinct, dup, maxDf) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(distinct > 0L)
    assert(dup <= distinct)
    assert(maxDf >= 1L)
    assert(dup == 0L || maxDf >= 2L)
    assert(math.abs(r.getDouble(3) - dup.toDouble / distinct) < 1e-3)
  }

  test("rag_retrieval: 3 ranked hits per query, no self-retrieval") {
    val rows = TrainingData.ragRetrieval(spark, sf).collect()
    assert(rows.length === 8 * 3, "8 probe queries x top-3 chunks")
    rows.groupBy(_.getLong(0)).foreach { case (q, hits) =>
      assert(hits.map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L, 3L))
      // a query never retrieves chunks of its own document
      assert(hits.forall(_.getLong(2) != q))
      // ranking is by descending similarity
      val sims = hits.sortBy(_.getLong(1)).map(_.getDouble(4))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
    }
  }

  test("text_novelty: bounded fractions, first doc fully novel") {
    val Array(r) = TrainingData.textNovelty(spark, sf).collect()
    val (nDocs, lowNovelty) = (r.getLong(0), r.getLong(2))
    val (avgNov, minNov) = (r.getDouble(1), r.getDouble(3))
    assert(nDocs > 0L)
    assert(avgNov > 0.0 && avgNov <= 1.0)
    assert(minNov >= 0.0 && minNov <= avgNov)
    assert(lowNovelty <= nDocs)
    // the lowest doc_id owns every gram it has — novelty 1.0 exists, so
    // the average can only be dragged below 1 by genuine duplication
    if (lowNovelty == 0L) assert(minNov >= 0.5)
  }

  test("dup_cluster_examples: top-5 by size, source list consistent") {
    val rows = TrainingData.dupClusterExamples(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 5)
    val sizes = rows.map(_.getLong(1))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a >= b },
      "descending cluster size")
    rows.foreach { r =>
      assert(r.getLong(1) >= 2L, "clusters have >= 2 members")
      val listed = r.getString(3).split(',')
      assert(listed.length.toLong === r.getLong(2),
        "sources string lists exactly n_sources entries")
      assert(listed.sorted.sameElements(listed), "sources sorted")
    }
  }

  test("dedup_keep_best: one survivor per cluster, counts consistent") {
    val Array(r) = TrainingData.dedupKeepBest(spark, sf).collect()
    val (nClusters, inClusters, dropped) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nClusters > 0L)
    // keep-one policy: survivors == clusters, dropped == members - clusters
    assert(dropped === inClusters - nClusters)
    // every cluster has >= 2 members (singletons never enter the edge set)
    assert(inClusters >= 2 * nClusters)
    // counts must agree with the cluster rollup over the same shared labels
    val Array(c) = TrainingData.dupClusters(spark, sf).collect()
    assert(c.getLong(0) === nClusters && c.getLong(1) === inClusters)
  }

  test("dedup_paragraphs: chunk accounting consistent, attrition bounded") {
    val Array(r) = TrainingData.dedupParagraphs(spark, sf).collect()
    val (nDocs, total, distinct, overHalf) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val avgFrac = r.getDouble(4)
    assert(nDocs > 0L)
    assert(distinct <= total, "distinct chunks cannot exceed instances")
    // every doc contributes >= 1 chunk (non-empty text guard)
    assert(total >= nDocs)
    assert(overHalf <= nDocs)
    assert(avgFrac >= 0.0 && avgFrac <= 1.0)
    // a corpus with no duplicated chunks has zero attrition everywhere
    if (distinct == total) assert(overHalf == 0L && avgFrac == 0.0)
  }

  test("text_hash_embedding: all docs featurized, density in (0,1]") {
    val rows = TrainingData.textHashEmbedding(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === 500L)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0.0, "non-empty docs have nonzero norm")
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("quality_funnel: monotone survivors, dropped sums telescope") {
    val rows = TrainingData.qualityFunnel(spark, sf).collect()
    assert(rows.length === 4)
    val survivors = rows.map(_.getLong(2)).toSeq
    assert(survivors.head === 500L, "stage 0 is the whole corpus")
    assert(survivors === survivors.sortBy(-_), "each stage only removes")
    // dropped at stage k = survivors(k-1) - survivors(k)
    (1 until 4).foreach { k =>
      assert(rows(k).getLong(3) === survivors(k - 1) - survivors(k))
    }
  }

  test("source_overlap: pairs ordered, containment in (0,1]") {
    val rows = TrainingData.sourceOverlap(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val conts = rows.map(_.getDouble(3)).toSeq
    assert(conts === conts.sortBy(-_))
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "canonical pair order")
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(2) > 0L)
    }
  }

  test("dedup_span_coverage: interval union merges overlapping dup spans " +
    "exactly") {
    val sp = spark
    import sp.implicits._
    // docs 1 and 2 share a 12-token run: three overlapping dup 10-gram
    // spans each, whose union must count 12 covered tokens per doc (not
    // 30); doc 3 is unique -> zero coverage
    val run = (1 to 12).map(i => s"a$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run u1 u2 u3 u4", "en", "s1", 1L),
      (2L, s"z1 z2 $run", "en", "s1", 1L),
      (3L, (1 to 12).map(i => s"q$i").mkString(" "), "en", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_spancov_")
    docs.write.parquet(s"$dir/documents.parquet")
    try {
      val Array(r) = TrainingData.dedupSpanCoverage(spark, dir.toString)
        .collect()
      assert(r.getString(0) === "s1")
      assert(r.getLong(1) === 3L, "n_docs")
      assert(r.getLong(2) === 2L, "docs_with_dup_spans")
      assert(r.getLong(3) === 24L, "12 covered tokens in each sharing doc")
      assert(r.getLong(4) === 42L, "total tokens 16+14+12")
      assert(r.getDouble(5) === 0.5714)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("select_token_budget_hist: histogram threshold admits exactly the " +
    "cumsum path's set") {
    val exact = TrainingData.selectTokenBudget(spark, sf)
      .collect().toSeq.map(_.toSeq)
    val hist = TrainingData.selectTokenBudgetHist(spark, sf)
      .collect().toSeq.map(_.toSeq)
    assert(hist === exact, "the scale path must be a pure plan change")
  }

  test("text_winnow: a shared w+k-1 token run guarantees a shared " +
    "fingerprint") {
    val sp = spark
    import sp.implicits._
    // docs 1 and 2 share exactly 8 tokens (= w + k - 1 with w=4, k=5):
    // the winnowing guarantee says at least one fingerprint must be
    // shared; doc 3 is unique and must not be flagged
    val run = (1 to 8).map(i => s"R$i").mkString(" ")
    val docs = Seq(
      (1L, s"x1 x2 x3 x4 x5 $run", "en", "s1", 1L),
      (2L, s"$run y1 y2 y3 y4 y5", "en", "s1", 1L),
      (3L, (1 to 10).map(i => s"q$i").mkString(" "), "en", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow_")
    docs.write.parquet(s"$dir/documents.parquet")
    try {
      val Array(r) = TrainingData.textWinnow(spark, dir.toString).collect()
      assert(r.getLong(1) === 3L, "n_docs")
      assert(r.getLong(2) > 0L, "fingerprints selected")
      assert(r.getLong(4) === 2L,
        "exactly the two run-sharing docs carry a shared fingerprint")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("heavy-gram df guard: cap=1 drops every cross-doc gram from the " +
    "overlap and contamination evidence") {
    // every shared gram has df >= 2 by definition, so cap=1 must empty the
    // overlap matrix — pins that the cap actually gates the join evidence
    assert(TrainingData.sourceOverlapCapped(spark, sf, cap = 1)
      .collect().isEmpty)
    val Array(capped) = TrainingData
      .contaminationCheckCapped(spark, sf, cap = 1).collect()
    val Array(uncapped) = TrainingData
      .contaminationCheckCapped(spark, sf, cap = Int.MaxValue).collect()
    assert(uncapped.getLong(1) === 0L, "uncapped run flags no heavy grams")
    assert(capped.getLong(1) > 0L, "cap=1 must flag df>=2 train grams")
    assert(capped.getLong(2) <= uncapped.getLong(2),
      "dropping evidence can only reduce contamination flags")
  }

  test("text_pmi: top-15 ranked by ratio, min-count respected, words exist") {
    val rows = TrainingData.textPmi(spark, sf).collect()
    assert(rows.length === 15)
    assert(rows.map(_.getLong(0)).toSeq === (1L to 15L))
    val scores = rows.map(_.getDouble(3)).toSeq
    assert(scores === scores.sortBy(-_), "non-increasing in rank")
    rows.foreach { r =>
      assert(r.getLong(2) >= 5L, "min bigram count")
      assert(r.getString(1).split(" ").length === 2)
      assert(r.getDouble(3) > 0.0)
    }
  }

  test("sample_weighted: 20 ranked rows, priorities non-increasing, deterministic") {
    val rows = TrainingData.sampleWeighted(spark, sf).collect()
    assert(rows.length === 20)
    assert(rows.map(_.getLong(0)).toSeq === (1L to 20L))
    val pris = rows.map(_.getDouble(4)).toSeq
    assert(pris === pris.sortBy(-_))
    rows.foreach(r => assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0))
    assert(TrainingData.sampleWeighted(spark, sf).collect().toSeq === rows.toSeq)
  }

  test("emb_pca: unit-norm direction, positive leading sign, sane ratio") {
    val Array(r) = TrainingData.embPca(spark, sf).collect()
    assert(r.getLong(0) === 500L)
    assert(r.getLong(1) === 64L)
    assert(r.getDouble(2) > 0.0, "dominant eigenvalue of a Gram matrix")
    // uncentered top direction of near-uniform data explains a lot of energy
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    val comps = Seq(r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
    assert(comps.forall(c => math.abs(c) <= 1.0))
    val firstNonzero = comps.find(_ != 0.0)
    assert(firstNonzero.forall(_ > 0.0) || comps.take(1).contains(0.0),
      "sign normalization pins the first reported nonzero component positive " +
        "only when it is the vector's first nonzero overall")
  }

  test("quality_unigram_logprob: one row per doc, probabilities below 0") {
    val rows = TrainingData.qualityUnigramLogprob(spark, sf).collect()
    assert(rows.length === 500)
    // log10 p of a non-singleton-vocab corpus is strictly negative
    rows.foreach(r => assert(r.getDouble(2) < 0.0))
    // token counts match the corpus's own accounting
    val totalToks = rows.map(_.getLong(1)).sum
    assert(totalToks > 500L, "every doc has at least one token")
    assert(TrainingData.qualityUnigramLogprob(spark, sf).collect().toSeq === rows.toSeq)
  }

  test("source_kl_divergence: KL >= 0 (Gibbs), every source reported") {
    val rows = TrainingData.sourceKlDivergence(spark, sf).collect()
    assert(rows.nonEmpty)
    // Gibbs' inequality: KL(p_s || p_corpus) >= 0 (rounding gives -0.0 at worst)
    rows.foreach(r => assert(r.getDouble(2) >= -0.0001,
      s"negative KL for ${r.getString(0)}: ${r.getDouble(2)}"))
    // the per-source token totals sum to the corpus total
    val rerun = TrainingData.sourceKlDivergence(spark, sf).collect()
    assert(rerun.toSeq === rows.toSeq)
  }

  test("minhash_index: append closes the novelty loop; layout is " +
    "band-partitioned; compact preserves probe results") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bucket = conv(
      substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), (bucket < 80).as("is_corpus"))
    val corpus = d.filter(col("is_corpus")).select("doc_id", "text")
    val batch = d.filter(!col("is_corpus")).select("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_mh_t").toString
    try {
      graft.operators.MinhashIndex.build(corpus, idx)
      // layout: hive bp= partitions, so probes prune
      val parts = new java.io.File(s"$idx/postings").listFiles()
        .filter(_.getName.startsWith("bp="))
      assert(parts.length > 1, "postings must be hive-partitioned by bp")
      val novel = graft.operators.MinhashIndex
        .novelDocs(spark, batch, idx).collect()
      assert(novel.nonEmpty && novel.length <= batch.count())
      // exact tier: no novel doc's text may exist in the corpus
      val novelIds = novel.map(_.getLong(0)).toSet
      val corpusTexts = corpus.select("text").collect()
        .map(_.getString(0)).toSet
      val batchRows = batch.collect().map(r => r.getLong(0) -> r.getString(1))
      assert(batchRows.filter(r => novelIds(r._1))
        .forall(r => !corpusTexts(r._2)))
      // append the novel docs, re-probe the SAME batch: every batch doc is
      // now either a dup of the corpus or exactly an appended doc -> zero
      // novel on the second pass (the --corpus maintenance loop invariant)
      val novelFrame = batch.join(novelIds.toSeq.toDF("doc_id"),
        Seq("doc_id"), "left_semi")
      graft.operators.MinhashIndex.append(novelFrame, idx)
      assert(graft.operators.MinhashIndex
        .novelDocs(spark, batch, idx).count() === 0L)
      // compaction folds append segments behind the pointer without
      // changing any answer
      graft.operators.MinhashIndex.compact(spark, idx)
      assert(new java.io.File(s"$idx/_POSTINGS").exists())
      assert(graft.operators.MinhashIndex
        .novelDocs(spark, batch, idx).count() === 0L)
      val stats = graft.operators.MinhashIndex.indexStats(spark, idx)
        .collect()(0)
      assert(stats.getLong(0) === corpus.count() + novelIds.size)
      // the scale lever: a probe's bp filter must plan as a PARTITION
      // filter on the postings scan (directories skipped), not a data
      // filter over a full scan
      val live = graft.operators.MinhashIndex.livePostingsDir(spark, idx)
      val pruned = spark.read.parquet(live).filter(col("bp").isin(0, 1, 2))
      val plan = pruned.queryExecution.executedPlan.toString
      assert("""PartitionFilters: \[[^\]]*bp""".r
        .findFirstIn(plan).isDefined,
        "bp filter must appear INSIDE PartitionFilters (an empty list " +
          "always prints — matching it alone is vacuous)")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("minhash_index: commit marker gates trust; rebuild is " +
    "generation-first; stats count distinct doc_ids") {
    import org.apache.spark.sql.functions._
    import graft.operators.MinhashIndex
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).limit(60)
    val idx = java.nio.file.Files.createTempDirectory("graft_mh_c").toString
    try {
      // build commits; invalidate retracts; append re-commits
      MinhashIndex.build(d, idx)
      assert(MinhashIndex.isCommitted(spark, idx))
      MinhashIndex.invalidate(spark, idx)
      assert(!MinhashIndex.isCommitted(spark, idx))
      val extra = d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" novel tail marker")).as("text"))
      MinhashIndex.append(extra, idx)
      assert(MinhashIndex.isCommitted(spark, idx))
      // REBUILD: must write the new generation and swing the pointer, not
      // delete-first — afterwards the live dir is a versioned generation
      // and probes answer from it
      MinhashIndex.build(d, idx)
      assert(MinhashIndex.isCommitted(spark, idx))
      val live = MinhashIndex.livePostingsDir(spark, idx)
      assert(live.endsWith("postings_v1"),
        s"rebuild must publish a fresh generation behind the pointer: $live")
      assert(MinhashIndex.novelDocs(spark, d, idx).count() === 0L)
      // re-appending a doc_id with CHANGED content adds a second hash row
      // (seen-content registry); n_docs must still count documents
      val changed = d.limit(5).select(col("doc_id"),
        concat(col("text"), lit(" changed tail")).as("text"))
      MinhashIndex.append(changed, idx)
      val stats = MinhashIndex.indexStats(spark, idx).collect()(0)
      assert(stats.getLong(0) === d.count(),
        "indexStats n_docs must count distinct doc_ids, not hash rows")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("minhash_index: compaction garbage-collects superseded content — " +
    "index stays O(live) under repeated re-released updates") {
    import org.apache.spark.sql.functions._
    import graft.operators.MinhashIndex
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).limit(30)
    val n = d.count()
    val idx = java.nio.file.Files.createTempDirectory("graft_mh_gc").toString
    try {
      MinhashIndex.build(d, idx)
      // M update rounds over the SAME doc_ids: each append adds one hash
      // row + 8 band rows per doc beside the old ones
      (1 to 3).foreach { i =>
        MinhashIndex.append(d.select(col("doc_id"),
          concat(col("text"), lit(s" rev-$i tail")).as("text")), idx)
      }
      val live0 = MinhashIndex.livePostingsDir(spark, idx)
      assert(spark.read.parquet(s"$live0/_hashes").count() === n * 4,
        "pre-compaction registry holds every content version")
      MinhashIndex.compact(spark, idx)
      val live = MinhashIndex.livePostingsDir(spark, idx)
      // O(live): one hash row and one append's band rows per doc survive
      assert(spark.read.parquet(s"$live/_hashes").count() === n)
      assert(spark.read.parquet(live).count() === n * 8)
      // the survivors are the NEWEST content (rev-3): probing it hits the
      // exact tier for every doc
      val rev3 = d.select(col("doc_id"),
        concat(col("text"), lit(" rev-3 tail")).as("text"))
      assert(MinhashIndex.novelDocs(spark, rev3, idx).count() === 0L)
      // n_docs == distinct live docs
      assert(MinhashIndex.indexStats(spark, idx).collect()(0)
        .getLong(0) === n)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("minhash_index: a migrated legacy-layout index (top-level hashes, " +
    "no aseq) appends and compacts without losing live postings") {
    import org.apache.spark.sql.functions._
    import graft.operators.MinhashIndex
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).limit(30)
    val idx = java.nio.file.Files.createTempDirectory("graft_mh_leg").toString
    try {
      MinhashIndex.build(d, idx)
      // strip to the pre-r13 legacy layout: postings rows without aseq,
      // hashes at top level without aseq, no _ASEQ counter
      val live = MinhashIndex.livePostingsDir(spark, idx)
      val p0 = spark.read.parquet(live).drop("aseq").localCheckpoint()
      val h0 = spark.read.parquet(s"$live/_hashes").drop("aseq")
        .drop("hp") // r15 layout partition column — absent pre-r13
        .localCheckpoint()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(live))
      p0.write.mode("overwrite").partitionBy("bp").parquet(live)
      h0.write.mode("overwrite").parquet(s"$idx/hashes")
      new java.io.File(s"$idx/_ASEQ").delete()
      // probes read through the legacy fallback
      assert(MinhashIndex.novelDocs(spark, d, idx).count() === 0L)
      // a new-code append lands aseq-stamped files BESIDE the legacy ones
      val novel = d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" legacy-era novel tail")).as("text"))
      MinhashIndex.append(novel, idx)
      assert(MinhashIndex.novelDocs(spark, novel, idx).count() === 0L)
      // the mixed-schema fold: legacy rows read aseq as NULL — they must
      // coalesce to generation 0, not be garbage-collected by the
      // (doc_id, aseq) keep-join
      MinhashIndex.compact(spark, idx)
      assert(MinhashIndex.novelDocs(spark, d, idx).count() === 0L,
        "legacy docs must survive the mixed-schema GC")
      assert(MinhashIndex.novelDocs(spark, novel, idx).count() === 0L)
      // migrated: hashes inside the new generation, one row per live doc
      val migrated = MinhashIndex.livePostingsDir(spark, idx)
      assert(spark.read.parquet(s"$migrated/_hashes").count() ===
        d.count() + novel.count())
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("minhash_index: maybeCompact folds the generation only past the " +
    "small-file bound, and answers are unchanged") {
    import org.apache.spark.sql.functions._
    import graft.operators.MinhashIndex
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).limit(40)
    val idx = java.nio.file.Files.createTempDirectory("graft_mh_f").toString
    try {
      MinhashIndex.build(d, idx)
      val f0 = MinhashIndex.postingsFileCount(spark, idx)
      assert(f0 > 0)
      // under the bound: no fold
      assert(!MinhashIndex.maybeCompact(spark, idx,
        maxFilesPerPartition = 1000))
      // grow small-file pressure with appends of novel docs
      (1 to 3).foreach { i =>
        MinhashIndex.append(d.select(
          (col("doc_id") + i * 1000000L).as("doc_id"),
          concat(col("text"), lit(s" novel-$i suffix token")).as("text")),
          idx)
      }
      val fGrown = MinhashIndex.postingsFileCount(spark, idx)
      assert(fGrown > f0, "appends must add part files")
      // force the bound: fold must run, shrink files, keep answers
      val before = MinhashIndex.novelDocs(spark, d, idx).count()
      assert(MinhashIndex.maybeCompact(spark, idx, maxFilesPerPartition = 0))
      assert(MinhashIndex.postingsFileCount(spark, idx) < fGrown)
      assert(MinhashIndex.novelDocs(spark, d, idx).count() === before)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("minhash_index: pushed key literals + row-group blooms bound " +
    "the probe — an all-novel batch reads ~zero index rows; appends " +
    "keep the invariant; compaction preserves it") {
    import spark.implicits._
    def mk(ids: Range, tag: String) = ids.map(i =>
      (i.toLong, (1 to 25).map(j => s"${tag}u${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val MI = graft.operators.MinhashIndex
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mh_bloom").toString
    // rows-read attribution SCOPED by job group: a process-global
    // recordsRead sum would absorb any concurrent Spark jobs in the shared
    // test session and flake the quarter-of-postings bound below
    val group = "mh-bloom-pin"
    val rowsRead = new java.util.concurrent.atomic.AtomicLong()
    val scoped = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (Option(js.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          js.stageIds.foreach { s => scoped.add(s); () }
        ()
      }
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (scoped.contains(te.stageId))
          Option(te.taskMetrics)
            .foreach(m => rowsRead.addAndGet(m.inputMetrics.recordsRead))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // the literal pushes this pin measures are COST-GATED since round 17
    // (a toy index is far under every break-even, so ungated probes would
    // correctly decline the push and fail the rows bound); the force seam
    // is exactly the production-scale arm — it makes the gate answer what
    // it answers against a production-sized dir
    sys.props("graft.chunked.probe") = "force"
    // run `f` under the pin's job group and return its scoped rows-read
    // count once the async listener bus stops moving the gauge
    def measured(f: => Unit): Long = {
      rowsRead.set(0L)
      spark.sparkContext.setJobGroup(group, "rows-read pin")
      try f finally spark.sparkContext.clearJobGroup()
      var prev = -1L
      var v = rowsRead.get()
      var waited = 0
      while (v != prev && waited < 5000) {
        Thread.sleep(150); waited += 150; prev = v; v = rowsRead.get()
      }
      v
    }
    try {
      MI.build(mk(1 to 400, "corp"), idx)
      val live = MI.livePostingsDir(spark, idx)
      assert(new java.io.File(s"$live/_hashes").listFiles()
        .exists(_.getName.startsWith("hp=")),
        "build writes hp-partitioned hashes")
      // THE rows-axis pin of the O(batch + collisions) bound: an
      // all-novel batch probes BOTH tiers (hash anti-join + band scan)
      // reading ~zero index rows — its pushed h/band literals miss every
      // row group's bloom. Pre-r15 code read the postings AND hash
      // tables in full here: O(corpus rows) per streaming micro-batch.
      val postingsRows = spark.read.parquet(live).count()
      val novelBatch = mk(1000 to 1049, "fresh")
      var n = 0L
      val r1 = measured { n = MI.novelDocs(spark, novelBatch, idx).count() }
      assert(n === 50L)
      assert(r1 < postingsRows / 4 + 1,
        s"all-novel probe read $r1 rows — must stay far " +
          s"below the $postingsRows-row postings table (row-group skip)")
      // dup replays still resolve (their literals HIT row groups)
      assert(MI.novelDocs(spark, mk(1 to 60, "corp"), idx).count() === 0L)
      // append keeps the invariant both ways: appended content resolves
      // as dup on replay, and a fresh batch still probes ~row-free
      MI.append(novelBatch, idx)
      assert(MI.novelDocs(spark, novelBatch, idx).count() === 0L,
        "appended content registers in the hp layout with key blooms")
      val r2 = measured {
        n = MI.novelDocs(spark, mk(2000 to 2029, "fresh2"), idx).count()
      }
      assert(n === 30L)
      assert(r2 < postingsRows / 4 + 1,
        "post-append all-novel probe must stay row-group-pruned")
      // compaction rewrites the pruned layout; no answer changes
      MI.compact(spark, idx)
      val live2 = MI.livePostingsDir(spark, idx)
      assert(live2 !== live)
      assert(new java.io.File(s"$live2/_hashes").listFiles()
        .exists(_.getName.startsWith("hp=")),
        "compaction carries the pruned hash layout forward")
      assert(MI.novelDocs(spark, mk(1 to 60, "corp"), idx).count() === 0L)
      assert(MI.novelDocs(spark, novelBatch, idx).count() === 0L)
      // the POST-COMPACTION layout keeps the probe invariant: an
      // all-novel batch stays row-group-pruned against the folded
      // generation (the fold rewrites every component — a fold that
      // dropped the blooms or the key sort would fail this)
      val r3 = measured {
        n = MI.novelDocs(spark, mk(3000 to 3029, "fresh3"), idx).count()
      }
      assert(n === 30L)
      assert(r3 < postingsRows / 4 + 1,
        "post-compact all-novel probe must stay row-group-pruned")
      // structural pin for the `_ids` sidecar (an all-novel probe never
      // reads it): every compacted sidecar file must carry the doc_id
      // bloom the candidate-pruned idsScan In-filter skips by
      import scala.jdk.CollectionConverters._
      def hasKeyBloom(dir: String, key: String): Boolean = {
        val files = Option(new java.io.File(dir).listFiles).toSeq.flatten
          .filter(_.isDirectory).flatMap(d => Option(d.listFiles).toSeq.flatten)
          .filter(_.getName.endsWith(".parquet"))
        files.nonEmpty && files.forall { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath),
            spark.sparkContext.hadoopConfiguration)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks.asScala.forall(b =>
            b.getColumns.asScala.exists(c =>
              c.getPath.toDotString == key && c.getBloomFilterOffset >= 0))
          finally r.close()
        }
      }
      assert(hasKeyBloom(s"$live2/_ids", "doc_id"),
        "compaction must write per-row-group doc_id blooms on _ids")
      assert(hasKeyBloom(live2, "band"),
        "compaction must write per-row-group band blooms on postings")
    } finally {
      sys.props.remove("graft.chunked.probe")
      spark.sparkContext.removeSparkListener(listener)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("minhash_index: a probe batch carrying one doc_id under two " +
    "texts verifies each version's collisions against ITS OWN shingle " +
    "array (the (doc_id, h) verify keying)") {
    import spark.implicits._
    val MI = graft.operators.MinhashIndex
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mh_dupid").toString
    try {
      val corpusText = (1 to 30).map(j => s"basew$j").mkString(" ")
      MI.build(Seq((1L, corpusText)).toDF("doc_id", "text"), idx)
      // version A: near-dup of the corpus doc (one word changed — band
      // collision + Jaccard over threshold); version B: fully novel.
      // Write paths dedupe doc_ids (signedUnique); probes do not — the
      // verify must pair A's collision with A's ids, not B's.
      val nearDup = (1 to 30).map(j =>
        if (j == 30) "changedtail" else s"basew$j").mkString(" ")
      val novel = (1 to 30).map(j => s"otherw$j").mkString(" ")
      val batch = Seq((7L, nearDup), (7L, novel)).toDF("doc_id", "text")
      // the near-dup version loses -> doc_id 7 is not novel (both rows
      // drop: novelDocs decides per doc_id)
      assert(MI.novelDocs(spark, batch, idx).count() === 0L)
      // control: the novel version alone survives
      assert(MI.novelDocs(spark,
        Seq((8L, novel)).toDF("doc_id", "text"), idx).count() === 1L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("contam_index: persisted probe reproduces the inline filter; " +
    "gram partitions prune") {
    import org.apache.spark.sql.functions._
    // equivalence with the inline decontam_filter is the operator's
    // correctness contract (they share one oracle)
    val inline = TrainingData.decontamFilter(spark, sf).collect().toSeq
    val indexed = TrainingData.decontamIndex(spark, sf).collect().toSeq
    assert(indexed === inline,
      "index path must return the inline filter's answers")
    // the scale lever: a probe's gp filter must plan as a PARTITION
    // filter on the evidence scan, not a data filter over a full scan
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).limit(50)
    val idx = java.nio.file.Files.createTempDirectory("graft_ct_t").toString
    try {
      graft.operators.ContamIndex.build(d, idx)
      val parts = new java.io.File(s"$idx/grams").listFiles()
        .filter(_.getName.startsWith("gp="))
      assert(parts.length > 1, "evidence must be hive-partitioned by gp")
      val pruned = spark.read.parquet(s"$idx/grams")
        .filter(col("gp").isin(0, 1, 2))
      val plan = pruned.queryExecution.executedPlan.toString
      assert("""PartitionFilters: \[[^\]]*gp""".r
        .findFirstIn(plan).isDefined,
        "gp filter must appear INSIDE PartitionFilters")
      // a batch identical to the eval side must be fully dropped; a
      // disjoint-vocabulary batch fully kept
      assert(graft.operators.ContamIndex
        .decontaminate(spark, d, idx).count() === 0L)
      val novel = d.select(col("doc_id"),
        translate(col("text"), "abcdefghijklmnopqrstuvwxyz",
          "bcdefghijklmnopqrstuvwxyza").as("text"))
      assert(graft.operators.ContamIndex
        .decontaminate(spark, novel, idx).count() === d.count())
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("contam_index: suites accrete exactly once; evidence is the union") {
    import org.apache.spark.sql.functions._
    import graft.operators.ContamIndex
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = d.limit(20)
    val b = d.orderBy(col("doc_id").desc).limit(20)
    val idx = java.nio.file.Files.createTempDirectory("graft_ct_s").toString
    try {
      assert(ContamIndex.ingest(a, idx, "suiteA"))
      assert(!ContamIndex.ingest(a, idx, "suiteA"), "re-ingest must no-op")
      assert(ContamIndex.ingest(b, idx, "suiteB"))
      assert(ContamIndex.ingestedSuites(spark, idx) ===
        Set("suiteA", "suiteB"))
      // evidence is the UNION: docs from either suite are fully dropped
      assert(ContamIndex.decontaminate(spark, a, idx).count() === 0L)
      assert(ContamIndex.decontaminate(spark, b, idx).count() === 0L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("contam_index: accreted train-side df exempts corpus-level " +
    "boilerplate a micro-batch alone can never cap") {
    import org.apache.spark.sql.functions._
    import graft.operators.ContamIndex
    import spark.implicits._
    val boiler =
      "standard disclaimer all rights reserved contact support for details"
    // eval suite: every doc opens with the boilerplate sentence
    val eval = (1 to 5).map(i => (i.toLong, s"$boiler unique eval answer $i"))
      .toDF("doc_id", "text")
    // released corpus: many docs share the boilerplate (df >> cap)
    val corpus = (100 to 160).map(i =>
      (i.toLong, s"$boiler corpus document body number $i with words"))
      .toDF("doc_id", "text")
    // a 10-doc micro-batch sharing ONLY boilerplate grams with eval
    val batch = (500 to 509).map(i =>
      (i.toLong, s"$boiler fresh training content row $i"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_ct_df").toString
    try {
      ContamIndex.build(eval, idx)
      val cap = 50
      // no persisted stats: the batch's own df (10) can never reach the
      // cap, so boilerplate counts as evidence and every doc over-drops —
      // the release-loop failure mode this feature closes
      assert(ContamIndex.decontaminate(spark, batch, idx, dfCap = cap)
        .count() === 0L)
      ContamIndex.recordTrainDf(corpus, idx)
      // batch df + corpus df (10 + 61) passes the cap: boilerplate grams
      // are exempt and nothing else overlaps eval — the batch survives
      assert(ContamIndex.decontaminate(spark, batch, idx, dfCap = cap)
        .count() === batch.count())
      // a doc sharing REAL eval content must still drop (its
      // distinguishing grams are rare on the train side)
      val leaked = batch.unionByName(
        Seq((600L, s"$boiler unique eval answer 3")).toDF("doc_id", "text"))
      assert(ContamIndex.decontaminate(spark, leaked, idx, dfCap = cap)
        .count() === batch.count())
      // segment fold: repeated accretion of DISTINCT corpora (replays of
      // identical content are no-ops by the distinct-content bound — its
      // own test below) then compaction, answers stable
      (1 to 9).foreach(k => ContamIndex.recordTrainDf(
        corpus.withColumn("text",
          concat(col("text"), lit(s" round$k extra tail"))), idx))
      assert(ContamIndex.maybeCompactTrainDf(spark, idx,
        maxFilesPerPartition = 1))
      assert(ContamIndex.decontaminate(spark, batch, idx, dfCap = cap)
        .count() === batch.count())
      assert(ContamIndex.decontaminate(spark, leaked, idx, dfCap = cap)
        .count() === batch.count())
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("persisted indexes fail loud on empty/unmatchable builds instead " +
    "of writing data-less dirs that poison every later read") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val mh = java.nio.file.Files.createTempDirectory("graft_mt_mh").toString
    intercept[IllegalArgumentException] {
      graft.operators.MinhashIndex.build(emptyDocs, mh)
    }
    import graft.functions.VectorFunctions.vecNormalize
    // odd-only ids never hit the default % 100 == 3 sample
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"),
        vecNormalize(col("embedding").cast(ArrayType(DoubleType))).as("nv"))
    val ivf = java.nio.file.Files.createTempDirectory("graft_mt_ivf").toString
    intercept[IllegalArgumentException] {
      graft.operators.VectorIndex.buildIvf(e, ivf)
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(mh)); rm(new java.io.File(ivf))
  }

  test("contam_index: a zero-gram eval suite (all docs under the gram " +
    "width) never poisons the index — probes pass through, later real " +
    "suites still ingest") {
    import graft.operators.ContamIndex
    import spark.implicits._
    val shorty = (1 to 4).map(i => (i.toLong, s"tiny doc $i"))
      .toDF("doc_id", "text")
    val real = Seq((10L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "alpha beta gamma delta epsilon completely novel tail here"),
      (101L, "unrelated training content with plenty of distinct words"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_ct_z").toString
    try {
      assert(ContamIndex.ingest(shorty, idx, "suiteA"))
      // no evidence rows were written: the probe must pass the batch
      // through whole, not crash on a data-less parquet dir
      assert(ContamIndex.decontaminate(spark, batch, idx)
        .count() === batch.count())
      ContamIndex.recordTrainDf(batch, idx) // must be a clean no-op too
      // a later REAL suite still accretes and drops the sharing doc
      assert(ContamIndex.ingest(real, idx, "suiteB"))
      val kept = ContamIndex.decontaminate(spark, batch, idx)
      assert(kept.count() === 1L)
      assert(kept.head().getLong(0) === 101L,
        "the eval-sharing doc drops once real evidence exists")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("corpus release loop: the boilerplate exemption BOOTSTRAPS — " +
    "offered-doc accretion raises evidence-gram df even while the docs " +
    "drop, until the cap engages") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 10-token boilerplate run: its internal 5-grams are the shared
    // evidence; every tail is per-doc-unique (distinct token sets keep
    // within-batch near-dup Jaccard far below the banded threshold)
    val boiler =
      "standard disclaimer all rights reserved contact support for more details"
    def tail(r: Int, d: Int) =
      (1 to 25).map(i => s"r${r}d${d}w$i").mkString(" ")
    def batch(r: Int) = (1 to 12).map(d =>
      ((r * 100 + d).toLong, s"$boiler ${tail(r, d)}", "en", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val evalDocs = (1 to 5).map(i =>
      (i.toLong, s"$boiler ${(1 to 25).map(j => s"ev${i}tok$j").mkString(" ")}"))
      .toDF("doc_id", "text")
    val wh = java.nio.file.Files.createTempDirectory("boot_wh").toString
    val suite = java.nio.file.Files.createTempDirectory("boot_eval").toString
    try {
      evalDocs.write.parquet(s"$suite/documents.parquet")
      val store = new graft.store.TableStore(spark, wh)
      val cap = 30
      // releases 1-2: each batch's own boiler df (12) plus the accreted
      // corpus df (0, then 12) stays under the cap — boilerplate still
      // counts as evidence and every doc drops (including the virgin
      // fully-dropped release, which must STILL accrete)
      val (i1, _, r1) = graft.run.CorpusOps.release(spark, store, wh,
        batch(1), "r1", Some(suite), dfCap = cap)
      assert(i1 === 0L && r1 === 0L, "release 1 fully dropped")
      val (i2, _, r2) = graft.run.CorpusOps.release(spark, store, wh,
        batch(2), "r2", Some(suite), dfCap = cap)
      assert(i2 === 0L && r2 === 0L, "release 2 fully dropped")
      // release 3: batch df 12 + accreted 24 = 36 > cap — the boiler
      // grams are exempt corpus-level boilerplate now; the batch's only
      // other grams are unique, so all 12 docs are admitted. A doc
      // echoing REAL eval content must still drop.
      val leak = Seq((999L,
        s"$boiler ${(1 to 25).map(j => s"ev3tok$j").mkString(" ")}",
        "en", "s1", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val (i3, _, r3) = graft.run.CorpusOps.release(spark, store, wh,
        batch(3).unionByName(leak), "r3", Some(suite), dfCap = cap)
      assert(i3 === 12L && r3 === 12L,
        "boilerplate-only docs admitted once the accreted cap engages")
      assert(store.readIfExists("corpus_docs").get
        .filter(col("doc_id") === 999L).count() === 0L,
        "a genuine eval leak must still drop")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(wh)); rm(new java.io.File(suite))
      spark.catalog.clearCache()
    }
  }

  test("pre-split inline-ids generations stay probe-able and appendable; " +
    "the next compaction migrates them to the split layout") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.VectorFunctions.{minhashSig, shingleIds}
    def text(tag: String) =
      (1 to 30).map(i => s"${tag}tok$i").mkString(" ")
    val root = java.nio.file.Files.createTempDirectory("legacy_idx")
    val idx = s"$root/idx"
    try {
      // fabricate the INLINE layout exactly as pre-split builds wrote it:
      // (doc_id, ids, band, bp, aseq) postings + _hashes + marker
      val docs = Seq((1L, text("a")), (2L, text("b"))).toDF("doc_id", "text")
      val s = docs.select(col("doc_id"), md5(col("text")).as("h"),
          shingleIds(col("text"), 2).as("ids"))
        .withColumn("sig", minhashSig(col("ids"), 16))
      s.select(col("doc_id"), col("ids"),
          explode(graft.functions.TextFunctions
            .bandKeys(col("sig"), 8, 2)).as("band"))
        .withColumn("bp", pmod(xxhash64(col("band")), lit(64L)).cast("int"))
        .withColumn("aseq", lit(0L))
        .write.mode("overwrite").partitionBy("bp").parquet(s"$idx/postings")
      s.select(col("doc_id"), col("h")).withColumn("aseq", lit(0L))
        .write.mode("overwrite").parquet(s"$idx/postings/_hashes")
      val fs0 = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val aout = fs0.create(new org.apache.hadoop.fs.Path(idx, "_ASEQ"), true)
      aout.write("0".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      aout.close()
      graft.operators.MinhashIndex.recommit(spark, idx)

      def novel(rows: (Long, String)*): Set[Long] =
        graft.operators.MinhashIndex.novelDocs(spark,
            rows.toSeq.toDF("doc_id", "text"), idx)
          .select("doc_id").collect().map(_.getLong(0)).toSet
      // legacy probe path: a NEAR dup of inline-layout content drops
      assert(novel(90L -> text("a").replace("atok7", "atokX")) === Set.empty)
      // appends into the legacy generation keep its inline schema and
      // protect their content too
      graft.operators.MinhashIndex.append(
        Seq((3L, text("c"))).toDF("doc_id", "text"), idx)
      assert(novel(91L -> text("c").replace("ctok7", "ctokX")) === Set.empty)
      // the compaction fold migrates to the split layout...
      graft.operators.MinhashIndex.compact(spark, idx)
      val live = graft.operators.MinhashIndex.livePostingsDir(spark, idx)
      assert(live.endsWith("postings_v1"))
      assert(fs0.exists(new org.apache.hadoop.fs.Path(s"$live/_ids")),
        "migrating fold must write the `_ids` sidecar")
      assert(!spark.read.parquet(live).columns.contains("ids"),
        "migrated postings are narrow")
      // ...and both pre- and post-migration content stay protected,
      // while genuinely novel content passes
      assert(novel(92L -> text("a").replace("atok3", "atokY")) === Set.empty)
      assert(novel(93L -> text("c").replace("ctok3", "ctokY")) === Set.empty)
      assert(novel(94L -> text("zz")) === Set(94L))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root.toFile)
      spark.catalog.clearCache()
    }
  }

  test("appended releases register near-dup protection: the index's own " +
    "write path must not recache-poison the probe output it is given") {
    // The regression this pins: MinhashIndex.append's FIRST write (the
    // hashes file) triggers Spark's recacheByPath on every cached plan
    // reading that path. The release hands append a CACHED frame derived
    // from the probe — whose plan read that very path — so the frame
    // recomputed to empty mid-append and the postings write landed
    // NOTHING: every appended release lost its near-dup registrations
    // while the exact-hash tier (written before the poison) stayed
    // intact and masked it. novelDocs now checkpoints its result
    // (lineage severed), making the handoff immune.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def text(tag: String) =
      (1 to 30).map(i => s"${tag}tok$i").mkString(" ")
    def doc(id: Long, tag: String) =
      (id, text(tag), "en", "s1", 1L)
    val wh = java.nio.file.Files.createTempDirectory("poison_wh").toString
    try {
      val store = new graft.store.TableStore(spark, wh)
      def release(docs: (Long, String, String, String, Long)*) =
        graft.run.CorpusOps.release(spark, store, wh,
          docs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"),
          "rel", None)
      release(doc(1L, "a"), doc(2L, "b"))          // build: aseq 0
      val (i2, _, _) = release(doc(3L, "c"), doc(4L, "d")) // APPEND: aseq 1
      assert(i2 === 2L)
      // structural pin: the live postings generation registers EVERY
      // corpus doc (the failure left only the build's docs in it)
      val idx = s"$wh/corpus_index"
      val ptr = new org.apache.hadoop.fs.Path(idx, "_POSTINGS")
      val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val gen = if (fs.exists(ptr)) {
        val in = fs.open(ptr)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      } else "postings"
      assert(spark.read.parquet(s"$idx/$gen")
        .select("doc_id").distinct().count() === 4L,
        "appended docs must be registered in the live postings")
      // behavioral pin: a NEAR (not exact — the hashes tier must not be
      // the one catching it) variant of an APPENDED doc's content is
      // dropped by the banded tier on the next release
      val near = (99L, text("c").replace("ctok7", "ctokX"),
        "en", "s1", 1L)
      val (i3, u3, rows3) = release(near)
      assert(i3 === 0L && u3 === 0L && rows3 === 4L,
        "a near-dup of appended content must be dropped by the postings" +
          " tier — if it re-entered, the append lost its registrations")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(wh))
      spark.catalog.clearCache()
    }
  }

  test("corpus forget: takedown removes docs and subtracts the card " +
    "exactly; banned content stays excluded; scrub re-admits it") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def text(tag: String) =
      (1 to 30).map(i => s"${tag}tok$i").mkString(" ")
    def doc(id: Long, tag: String) =
      (id, text(tag), "en", "s1", 1L)
    val wh = java.nio.file.Files.createTempDirectory("forget_wh").toString
    try {
      val store = new graft.store.TableStore(spark, wh)
      val idxDir = s"$wh/corpus_index"
      def release(docs: (Long, String, String, String, Long)*) =
        graft.run.CorpusOps.release(spark, store, wh,
          docs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"),
          "rel", None)
      def cardDocs(): Long = store.readIfExists("corpus_card").get
        .agg(sum("n_docs")).head().getLong(0)
      val (i1, _, _) = release(doc(1L, "a"), doc(2L, "b"), doc(3L, "c"))
      assert(i1 === 3L)

      // takedown doc 2: bucket-pruned delete + exact card subtraction
      val (d1, r1) = graft.run.CorpusOps.forget(spark, store, wh,
        Seq(2L).toDF("doc_id"))
      assert(d1 === 1L && r1 === 2L)
      assert(store.readIfExists("corpus_docs").get.select("doc_id")
        .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
      assert(cardDocs() === 2L)
      // keep-registrations: the index stays trusted, and a re-offered
      // copy of the forgotten content under a NEW id stays excluded
      assert(graft.operators.MinhashIndex.isCommitted(spark, idxDir))
      val (i2, u2, rows2) = release(doc(99L, "b"))
      assert(i2 === 0L && u2 === 0L && rows2 === 2L,
        "banned content must not re-enter the corpus")

      // erasure: scrub drops the index trust marker; the next release
      // rebuilds it from the post-forget corpus and the content is
      // re-admittable
      val (d2, r2) = graft.run.CorpusOps.forget(spark, store, wh,
        Seq(3L).toDF("doc_id"), scrubIndex = true)
      assert(d2 === 1L && r2 === 1L)
      assert(!graft.operators.MinhashIndex.isCommitted(spark, idxDir))
      val (i3, _, rows3) = release(doc(98L, "c"))
      assert(i3 === 1L && rows3 === 2L,
        "scrubbed content must be re-admittable")
      assert(graft.operators.MinhashIndex.isCommitted(spark, idxDir),
        "the release rebuilds and re-trusts the index")
      assert(cardDocs() === 2L)

      // forgetting ids that don't exist is a no-op and keeps trust
      val (d3, r3) = graft.run.CorpusOps.forget(spark, store, wh,
        Seq(12345L).toDF("doc_id"))
      assert(d3 === 0L && r3 === 2L)
      assert(graft.operators.MinhashIndex.isCommitted(spark, idxDir))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(wh))
      spark.catalog.clearCache()
    }
  }

  test("corpus release: --snapshot pins each epoch's corpus; later " +
    "releases (including updates) copy-on-write past the pin") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def text(tag: String) =
      (1 to 30).map(i => s"${tag}tok$i").mkString(" ")
    def doc(id: Long, tag: String) =
      (id, text(tag), "en", "s1", 1L)
    val wh = java.nio.file.Files.createTempDirectory("snap_wh").toString
    try {
      val store = new graft.store.TableStore(spark, wh)
      val b1 = Seq(doc(1L, "r1a"), doc(2L, "r1b"), doc(3L, "r1c"))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val (i1, _, _) = graft.run.CorpusOps.release(spark, store, wh,
        b1, "r1", None, snapshotTag = Some("epoch1"))
      assert(i1 === 3L)
      // release 2: one brand-new doc + one UPDATE of doc 1 (fresh content)
      val b2 = Seq(doc(4L, "r2a"), doc(1L, "r2upd"))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val (i2, u2, _) = graft.run.CorpusOps.release(spark, store, wh,
        b2, "r2", None, snapshotTag = Some("epoch2"))
      assert(i2 === 1L && u2 === 1L)
      assert(store.listSnapshots("corpus_docs") === Seq("epoch1", "epoch2"))

      // epoch1 serves the PRE-update corpus: 3 docs, doc 1's original text
      val s1 = store.readSnapshot("corpus_docs", "epoch1").get
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s1.keySet === Set(1L, 2L, 3L))
      assert(s1(1L) === text("r1a"), "pinned epoch must keep the old content")
      // epoch2 and the current table agree: 4 docs, doc 1 updated
      val s2 = store.readSnapshot("corpus_docs", "epoch2").get
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val cur = store.readIfExists("corpus_docs").get
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(s2 === cur && cur.keySet === Set(1L, 2L, 3L, 4L))
      assert(cur(1L) === text("r2upd"))

      // the CDC read over the released corpus: "what changed since the
      // training run pinned epoch1" — the insert and the update, current
      // content, nothing else (and the epoch2 pin reads as no changes)
      val feed = store.snapshotDelta("corpus_docs", "epoch1").get
        .select("doc_id", "text", "change").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
      assert(feed === Map(1L -> (text("r2upd"), "update"),
                          4L -> (text("r2a"), "insert")))
      assert(store.snapshotChangedBuckets("corpus_docs", "epoch1")
        .exists(_.nonEmpty))
      assert(store.snapshotDelta("corpus_docs", "epoch2").get.count() === 0L)
      assert(store.snapshotChangedBuckets("corpus_docs", "epoch2")
        .exists(_.isEmpty))

      // the DATASHEET pins under the same tags: each epoch's card reports
      // the doc count the pinned corpus actually had, not the current one
      assert(store.listSnapshots("corpus_card") === Seq("epoch1", "epoch2"))
      def cardDocs(tag: String): Long =
        store.readSnapshot("corpus_card", tag).get
          .agg(sum("n_docs")).head().getLong(0)
      assert(cardDocs("epoch1") === 3L && cardDocs("epoch2") === 4L)

      // replayed release re-pins its tag idempotently (force path)
      val (i3, u3, _) = graft.run.CorpusOps.release(spark, store, wh,
        b2, "r2", None, snapshotTag = Some("epoch2"))
      assert(i3 === 0L && u3 === 0L, "replay is a no-op release")
      assert(store.readSnapshot("corpus_docs", "epoch2").get.count() === 4L)
      // dropped pins free their generations on the next vacuum
      assert(store.dropSnapshot("corpus_docs", "epoch1"))
      store.vacuum("corpus_docs")
      assert(store.readSnapshot("corpus_docs", "epoch1").isEmpty)
      assert(store.readIfExists("corpus_docs").get.count() === 4L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(wh))
      spark.catalog.clearCache()
    }
  }

  test("sim_topk_ivf_index: persisted index reproduces the inline path; postings bucket-partitioned") {
    val inline = TrainingData.simTopkIvf(spark, sf).collect().toSeq
    val indexed = TrainingData.simTopkIvfIndex(spark, sf).collect().toSeq
    assert(indexed === inline, "index path must return the inline path's answers")
    // the scale lever: postings are physically partitioned by bucket, so a
    // probe reads only its nprobe bucket directories
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.functions.VectorFunctions.vecNormalize
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        vecNormalize(col("embedding").cast(ArrayType(DoubleType))).as("nv"))
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_t").toString
    graft.operators.VectorIndex.buildIvf(e, idx)
    val parts = new java.io.File(s"$idx/postings").listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(parts.length > 1, "postings must be hive-partitioned by bucket")
    // a single-bucket read plans with a partition filter, not a full scan
    val one = spark.read.parquet(s"$idx/postings")
      .filter(col("bucket") === parts.head.getName.stripPrefix("bucket=").toLong)
    val plan = one.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*bucket""".r
      .findFirstIn(plan).isDefined,
      "bucket filter must appear INSIDE PartitionFilters")
  }

  test("appendIvf: incremental vectors join the index under the base centroids") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.functions.VectorFunctions.{vecDot, vecNormalize}
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        vecNormalize(col("embedding").cast(ArrayType(DoubleType))).as("nv"))
    val base = e.filter(col("vec_id") < 400)
    val late = e.filter(col("vec_id") >= 400)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_a").toString
    graft.operators.VectorIndex.buildIvf(base, idx)
    graft.operators.VectorIndex.appendIvf(late, idx)
    val postings = spark.read.parquet(s"$idx/postings")
    assert(postings.count() == e.count(), "all vectors present after append")
    // appended vectors sit in their nearest BASE-centroid bucket
    val cents = spark.read.parquet(
      graft.operators.VectorIndex.liveCentroidsDir(spark, idx))
    val expected = late.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        round(vecDot(col("nv"), col("cv")), 4).as("csim"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("csim").desc, col("cent_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id").as("expected_bucket"))
    val mismatches = postings.filter(col("vec_id") >= 400)
      .join(expected, Seq("vec_id"))
      .filter(col("bucket") =!= col("expected_bucket")).count()
    assert(mismatches == 0)
    // and a probe can retrieve an appended vector
    val q = late.limit(1)
      .select(col("vec_id").as("query_id"), col("nv").as("qv"))
    val res = graft.operators.VectorIndex.queryIvf(spark, idx, q, k = 3)
    assert(res.count() == 3)
    // REBUILD over the existing index is generation-first: the new
    // generation publishes behind the pointer (never a delete-first
    // window) and probes serve the full corpus from it. A vector deleted
    // in the PREVIOUS index's life must be visible again after the
    // rebuild — tombstones are per-generation state, and a rebuild is a
    // new life over a fresh corpus snapshot
    val victim = e.orderBy(col("vec_id")).limit(1)
      .collect()(0).getLong(0)
    graft.operators.VectorIndex.deleteIvf(
      spark.range(1).select(lit(victim).as("vec_id")), idx)
    graft.operators.VectorIndex.buildIvf(e, idx)
    val live = graft.operators.VectorIndex.livePostingsDir(spark, idx)
    assert(live.endsWith("postings_v1"),
      s"rebuild must publish a fresh generation behind the pointer: $live")
    assert(spark.read.parquet(live).count() === e.count())
    assert(graft.operators.VectorIndex.queryIvf(spark, idx, q, k = 3)
      .count() === 3)
    assert(graft.operators.VectorIndex.indexStats(spark, idx).head()
      .getAs[Long]("n_vectors") === e.count(),
      "pre-rebuild tombstones must not mask rows of the rebuilt index")
  }

  test("deleteIvf: tombstones hide vectors from probes; compact drops them") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.functions.VectorFunctions.vecNormalize
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        vecNormalize(col("embedding").cast(ArrayType(DoubleType))).as("nv"))
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_d").toString
    graft.operators.VectorIndex.buildIvf(e, idx)
    val q = e.limit(1).select(col("vec_id").as("query_id"), col("nv").as("qv"))

    // delete the probe's current top neighbor; it must vanish from results
    val before = graft.operators.VectorIndex.queryIvf(spark, idx, q, k = 3)
      .collect()
    val victim = before.head.getAs[Long]("neighbor_id")
    graft.operators.VectorIndex.deleteIvf(
      spark.range(1).select(lit(victim).as("vec_id")), idx)
    val after = graft.operators.VectorIndex.queryIvf(spark, idx, q, k = 3)
      .collect()
    assert(!after.map(_.getAs[Long]("neighbor_id")).contains(victim),
      "tombstoned vector must not be retrievable")
    assert(after.length == 3, "k results still come back from live vectors")
    // stats see the live count, not the physical count
    val total = e.count()
    assert(graft.operators.VectorIndex.indexStats(spark, idx).head()
      .getAs[Long]("n_vectors") == total - 1)

    // compaction drops the row physically; the NEW generation starts with
    // no tombstones (they are per-generation state inside the live dir)
    graft.operators.VectorIndex.compactIvf(spark, idx)
    val live = graft.operators.VectorIndex.livePostingsDir(spark, idx)
    assert(!new java.io.File(s"$live/_tombstones").exists(),
      "the compacted generation must start with no tombstones")
    assert(spark.read.parquet(live)
      .filter(col("vec_id") === victim).count() == 0,
      "compacted postings must not contain the deleted row")
    assert(graft.operators.VectorIndex.queryIvf(spark, idx, q, k = 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSeq ==
      after.map(_.getAs[Long]("neighbor_id")).toSeq,
      "probe results identical before and after the physical drop")
  }

  test("sim_truncated_recall: recall in [0,1] over the full exact pair set") {
    val Array(r) = TrainingData.simTruncatedRecall(spark, sf).collect()
    assert(r.getLong(0) == TrainingData.ProbeN * 5L,
      "fixed-N probe batch x top-5 exact pairs")
    assert(r.getLong(1) >= 0L && r.getLong(1) <= r.getLong(0))
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
  }

  test("sim_quantized_recall: int8 retains most of exact top-5") {
    val Array(r) = TrainingData.simQuantizedRecall(spark, sf).collect()
    assert(r.getLong(0) == TrainingData.ProbeN * 5L)
    // 8-bit scalar quantization preserves every dimension; on non-adversarial
    // data recall stays high (the truncated variant is the lossy one)
    assert(r.getDouble(2) >= 0.8, s"int8 recall collapsed: ${r.getDouble(2)}")
  }

  test("text_pii: synthetic corpus is clean — every count exactly zero") {
    val rows = TrainingData.textPii(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("emails") == 0L && r.getAs[Long]("phones") == 0L
        && r.getAs[Long]("ipv4s") == 0L && r.getAs[Long]("docs_with_pii") == 0L)
      assert(r.getAs[Long]("n_docs") > 0L)
    }
  }

  test("select_token_budget: per-source tokens within budget, cutoff sane") {
    val rows = TrainingData.selectTokenBudget(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("tokens_selected") <= 2000L,
        s"${r.getAs[String]("source")}: budget exceeded")
      assert(r.getAs[Long]("n_selected") > 0L)
      val cutoff = r.getAs[Double]("score_cutoff")
      assert(cutoff >= 0.0 && cutoff <= 1.0)
    }
    // the selection must be a PREFIX of the per-source quality ranking:
    // every unselected doc scores <= the selected cutoff (score tie broken
    // by doc_id, so equality is allowed)
    import org.apache.spark.sql.functions._
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val scored = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("doc_id"), size(toks).as("ntok"),
        round(graft.functions.TextFunctions.stopwordCount(toks)
          .cast(org.apache.spark.sql.types.DoubleType) / size(toks), 6).as("score"))
    val cutoffs = rows.map(r =>
      r.getAs[String]("source") -> r.getAs[Double]("score_cutoff")).toMap
    val perSourceMax = scored.groupBy("source").agg(max("score").as("mx"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("mx")).toMap
    cutoffs.foreach { case (src, cut) =>
      assert(cut <= perSourceMax(src), s"$src: cutoff above best score")
    }
  }

  test("text_zipf_slope: negative slope, r2 in [0,1], vocab sane") {
    val Array(r) = TrainingData.textZipfSlope(spark, sf).collect()
    assert(r.getLong(0) > 10L, "non-trivial vocabulary")
    assert(r.getDouble(1) < 0.0, "frequency decreases with rank")
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
  }

  test("importance_weights: every source scored; target source ranks high") {
    val rows = TrainingData.importanceWeights(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === 500L, "rollup partitions the corpus")
    val byScore = rows.sortBy(-_.getDouble(2)).map(_.getString(0)).toSeq
    // src0 IS the target LM: its own docs must score above the median
    // source (add-one smoothing keeps it from being degenerate-top always)
    assert(byScore.indexOf("src0") < rows.length / 2,
      s"target source should look most target-like, order: $byScore")
    // a second run is bit-identical (pure function of the corpus)
    assert(TrainingData.importanceWeights(spark, sf).collect().toSeq === rows.toSeq)
  }

  test("quality_ccnet_bucket: per-lang terciles ordered head >= tail") {
    val rows = TrainingData.qualityCcnetBucket(spark, sf).collect()
    assert(rows.map(_.getLong(3)).sum === 500L, "buckets partition the corpus")
    val byLang = rows.groupBy(_.getString(0))
    byLang.foreach { case (lang, g) =>
      assert(g.map(_.getLong(1)).toSet.subsetOf(Set(1L, 2L, 3L)))
      val byT = g.sortBy(_.getLong(1))
      // ntile(3) on lp DESC: head's mean logprob >= tail's
      assert(byT.head.getDouble(4) >= byT.last.getDouble(4),
        s"$lang: head tercile must have the higher avg logprob")
      // ntile balance: bucket sizes differ by at most 1
      val sizes = byT.map(_.getLong(3))
      assert(sizes.max - sizes.min <= 1L, s"$lang: ntile sizes $sizes")
      assert(byT.map(_.getString(2)).toSeq ===
        Seq("head", "middle", "tail").take(g.length))
    }
  }

  test("emb_dim_stats: top-8 by variance, non-increasing, sane counts") {
    val rows = TrainingData.embDimStats(spark, sf).collect()
    assert(rows.length === 8)
    val vars = rows.map(_.getDouble(3)).toSeq
    assert(vars === vars.sortBy(-_), "ordered by variance desc")
    assert(vars.forall(_ >= 0.0), "E[x^2]-E[x]^2 is non-negative")
    assert(rows.map(_.getLong(0)).distinct.length === 8, "distinct dims")
    assert(rows.forall(_.getLong(1) === rows.head.getLong(1)),
      "every dimension sees every vector")
  }

  test("corpus_card: steady-state releases maintain the datasheet " +
    "incrementally, within declared bands of the exact recompute") {
    import org.apache.spark.sql.functions._
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val wh = java.nio.file.Files.createTempDirectory("card_acc_wh").toString
    try {
      val store = new graft.store.TableStore(spark, wh)
      def checkCard(): Unit = {
        val corpus = store.readIfExists("corpus_docs").get
          .select("doc_id", "text", "lang", "source", "n_tokens")
        val exact = TrainingData.corpusCardFrames(corpus).collect()
          .map(r => r.getString(0) -> r).toMap
        val card = store.readIfExists("corpus_card").get.collect()
        assert(card.map(_.getString(0)).toSet === exact.keySet)
        card.foreach { r =>
          val e = exact(r.getString(0))
          // exact columns: counts, sums, dominant language
          assert(r.getLong(1) === e.getLong(1), s"n_docs ${r.getString(0)}")
          assert(r.getLong(4) === e.getLong(4), s"chars ${r.getString(0)}")
          assert(r.getLong(5) === e.getLong(5), s"tokens ${r.getString(0)}")
          assert(r.getString(8) === e.getString(8), "top_lang")
          assert(r.getDouble(9) === e.getDouble(9), "top_lang_share")
          // declared bands: HLL distinct ±5%, histogram quantiles ±8%
          assert(math.abs(r.getLong(2) - e.getLong(2)) <=
            math.max(1.0, 0.05 * e.getLong(2)), s"n_distinct band")
          assert(math.abs(r.getDouble(6) - e.getDouble(6)) <=
            0.08 * e.getDouble(6) + 0.6, s"p50 band ${r.getDouble(6)} " +
              s"vs ${e.getDouble(6)}")
          assert(math.abs(r.getDouble(7) - e.getDouble(7)) <=
            0.08 * e.getDouble(7) + 0.6, s"p90 band ${r.getDouble(7)} " +
              s"vs ${e.getDouble(7)}")
        }
      }
      // release 1: bootstrap (exact card + accumulator build)
      graft.run.CorpusOps.release(spark, store, wh,
        all.filter(col("doc_id") % 3 =!= 0), "r1", None)
      assert(store.exists(graft.run.CorpusCardAcc.AccTable),
        "bootstrap must persist the accumulators")
      checkCard()
      // release 2: steady-state INSERTS fold through the O(batch) delta
      graft.run.CorpusOps.release(spark, store, wh,
        all.filter(col("doc_id") % 3 === 0), "r2", None)
      checkCard()
      // release 3: UPDATES — ciphered text under existing doc_ids (novel
      // content, so the index dedup admits it) exercises the
      // subtraction side of the accumulators
      val upd = all.filter(col("doc_id") % 7 === 1)
        .withColumn("text", translate(col("text"),
          "abcdefghijklmnopqrstuvwxyz", "nopqrstuvwxyzabcdefghijklm"))
      val (_, updN, _) = graft.run.CorpusOps.release(
        spark, store, wh, upd, "r3", None)
      assert(updN > 0L, "the ciphered batch must land as updates")
      checkCard()
      // replay: a no-op release leaves the card untouched (and cheap).
      // The replayed batch is r3's — content that is CURRENT. Replaying
      // the PRE-update r2 batch here would not be a no-op by design:
      // r3's updates + the postings compaction GC'd the superseded
      // content's registrations (the index dedups against LIVE corpus
      // content — MinhashIndex.compact), so an r2 doc that was dropped
      // as a near-dup of since-replaced content is genuinely novel vs
      // the live corpus and is re-admitted (the cross-generation replay
      // contract in CorpusOps.release's doc).
      val vBefore = store.readIfExists("corpus_card").get.collect().toSeq
      graft.run.CorpusOps.release(spark, store, wh, upd, "r4", None)
      assert(store.readIfExists("corpus_card").get.collect().toSeq
        === vBefore)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(wh))
      spark.catalog.clearCache()
    }
  }

  test("release crash contract: a kill at every seam self-heals on the " +
    "next release (kill-point matrix)") {
    import org.apache.spark.sql.functions._
    import graft.core.Chaos
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val slice1 = all.filter(col("doc_id") % 5 < 3)
    val slice2 = all.filter(col("doc_id") % 5 >= 3)
    // after-card sits between the datasheet writes and the index append:
    // the accumulators/card are durable but the marker is NOT back yet —
    // the ordering CorpusOps.release must preserve (were the marker
    // rewritten before the card, a crash in between would leave the
    // accumulators silently behind a trusted marker forever)
    val points = Seq("corpus.after-invalidate", "corpus.after-merge",
      "corpus.after-card", "minhash.mid-append", "minhash.before-commit")
    for (p <- points) {
      val wh = java.nio.file.Files.createTempDirectory("chaos_wh").toString
      try {
        val store = new graft.store.TableStore(spark, wh)
        graft.run.CorpusOps.release(spark, store, wh, slice1, "r1", None)
        Chaos.arm(p)
        val killed = intercept[RuntimeException] {
          graft.run.CorpusOps.release(spark, store, wh, slice2, "r2", None)
        }
        assert(killed.isInstanceOf[Chaos.ChaosKill], s"$p killed: $killed")
        Chaos.disarm()
        // the crash is VISIBLE: the index reads as untrusted
        assert(!graft.operators.MinhashIndex.isCommitted(
          spark, s"$wh/corpus_index"), s"$p must leave the index uncommitted")
        // next release self-heals: frame fallback + index/card rebuild;
        // the batch lands (or no-ops when the merge had already committed
        // before the kill) and the marker returns
        graft.run.CorpusOps.release(spark, store, wh, slice2, "r2b", None)
        assert(graft.operators.MinhashIndex.isCommitted(
          spark, s"$wh/corpus_index"), s"$p must be healed")
        val after = store.readIfExists("corpus_docs").get
        // replay is an end-to-end no-op on the healed state
        val (i3, u3, rows3) = graft.run.CorpusOps.release(
          spark, store, wh, slice2, "r2c", None)
        assert(i3 === 0L && u3 === 0L, s"$p replay must no-op")
        assert(rows3 === after.count(), p)
        // the self-heal path rebuilt the datasheet exactly
        val key = (r: org.apache.spark.sql.Row) =>
          (r.getString(0), r.getLong(1), r.getLong(4), r.getLong(5))
        val card = store.readIfExists("corpus_card").get.collect().map(key)
        val exact = TrainingData.corpusCardFrames(after.select(
          "doc_id", "text", "lang", "source", "n_tokens")).collect().map(key)
        assert(card.toSet === exact.toSet, s"$p card must match exact")
      } finally {
        Chaos.disarm()
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(wh))
        spark.catalog.clearCache()
      }
    }
  }

  test("IVF compaction crash contract: a kill on either side of the " +
    "pointer swing leaves a probe-able index, never resurrects " +
    "tombstoned vectors, and the next fold completes") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.core.Chaos
    import graft.operators.VectorIndex
    import spark.implicits._
    import graft.functions.VectorFunctions.vecNormalize
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        vecNormalize(col("embedding").cast(ArrayType(DoubleType))).as("nv"))
    val base = e.filter(col("vec_id") % 2 === 0)
    val extra = e.filter(col("vec_id") % 2 === 1).limit(50)
    val queries = e.limit(8)
      .select(col("vec_id").as("query_id"), col("nv").as("qv"))
    for (p <- Seq("vector.before-compact-swing",
        "vector.after-compact-swing")) {
      val idx = java.nio.file.Files.createTempDirectory("chaos_ivf").toString
      try {
        // centOffset 4: the even-id base never hits the default offset 3
        // (zero centroids is now a loud IllegalArgumentException)
        VectorIndex.buildIvf(base, idx, centEvery = 100, centOffset = 4)
        VectorIndex.appendIvf(extra, idx)
        val dead = extra.limit(10).select("vec_id")
        VectorIndex.deleteIvf(dead, idx)
        val deadIds = dead.as[Long].collect().toSet
        val before = VectorIndex.queryIvf(spark, idx, queries)
          .collect().map(_.toSeq)
        assert(!before.exists(r => deadIds(r(2).asInstanceOf[Long])),
          "tombstoned ids invisible before the fold")
        Chaos.arm(p)
        assert(intercept[RuntimeException] {
          VectorIndex.compactIvf(spark, idx)
        }.isInstanceOf[Chaos.ChaosKill], p)
        Chaos.disarm()
        // whichever side of the swing the crash hit, probes answer from a
        // COMPLETE generation and the deletions hold (old generation keeps
        // its _tombstones; the new one folded them into the rewrite)
        val mid = VectorIndex.queryIvf(spark, idx, queries)
          .collect().map(_.toSeq)
        assert(mid.toSeq === before.toSeq,
          s"$p: probe answers must not change across the crash")
        VectorIndex.compactIvf(spark, idx)
        val after = VectorIndex.queryIvf(spark, idx, queries)
          .collect().map(_.toSeq)
        assert(after.toSeq === before.toSeq, s"$p: next fold completes")
        assert(!after.exists(r => deadIds(r(2).asInstanceOf[Long])), p)
      } finally {
        Chaos.disarm()
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(idx))
      }
    }
  }

  test("compaction crash contract: a kill on either side of the pointer " +
    "swing leaves a probe-able index and the next fold completes") {
    import org.apache.spark.sql.functions._
    import graft.core.Chaos
    import graft.operators.MinhashIndex
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).limit(30)
    val novel = d.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" novel tail for chaos")).as("text"))
    val probe = d.unionByName(novel)
    for (p <- Seq("minhash.before-compact-swing",
        "minhash.after-compact-swing")) {
      val idx = java.nio.file.Files.createTempDirectory("chaos_mh").toString
      try {
        MinhashIndex.build(d, idx)
        MinhashIndex.append(novel, idx)
        val before = MinhashIndex.novelDocs(spark, probe, idx).count()
        assert(before === 0L)
        Chaos.arm(p)
        assert(intercept[RuntimeException] {
          MinhashIndex.compact(spark, idx)
        }.isInstanceOf[Chaos.ChaosKill], p)
        Chaos.disarm()
        // compaction never touches the commit marker, and whichever side
        // of the swing the crash hit, probes answer from a COMPLETE
        // generation (old before the swing, new after)
        assert(MinhashIndex.isCommitted(spark, idx), p)
        assert(MinhashIndex.novelDocs(spark, probe, idx).count() === before,
          s"$p: probe answers must not change across the crash")
        // the next fold completes over the leftover state
        MinhashIndex.compact(spark, idx)
        assert(MinhashIndex.novelDocs(spark, probe, idx).count() === before, p)
      } finally {
        Chaos.disarm()
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(idx))
      }
    }
  }

  test("corpus_card: one row per source, consistent counts and quantiles") {
    val rows = TrainingData.corpusCard(spark, sf).collect()
    assert(rows.map(_.getString(0)).distinct.length === rows.length)
    assert(rows.map(r => r.getLong(1)).sum === 500L, "sources partition docs")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_distinct <= n_docs")
      val dupRate = r.getDouble(3)
      assert(dupRate >= 0.0 && dupRate <= 1.0)
      assert(r.getDouble(6) <= r.getDouble(7), "p50 <= p90")
      val share = r.getDouble(9)
      assert(share > 0.0 && share <= 1.0, "top_lang_share in (0,1]")
    }
  }

  test("source_dup_matrix: unordered pairs, near subset of candidates") {
    val rows = TrainingData.sourceDupMatrix(spark, sf).collect()
    assert(rows.nonEmpty, "band collisions must exist on the dedup corpus")
    rows.foreach { r =>
      assert(r.getString(0) <= r.getString(1), "pair key is unordered")
      assert(r.getLong(3) <= r.getLong(2), "near_pairs <= candidate_pairs")
      assert(r.getLong(4) >= 0L, "min_hamming >= 0")
    }
  }

  test("drift_psi: full 10-bin spine, counts partition events, finite psi") {
    val rows = TrainingData.driftPsi(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L until 10L).toSeq)
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum === nEvents,
      "ref + cur partition the event stream")
    rows.foreach { r =>
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) < 1.0, "smoothed p_ref")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) < 1.0, "smoothed p_cur")
      assert(!r.getDouble(5).isNaN && !r.getDouble(5).isInfinite,
        "smoothing keeps every contribution finite")
      assert(r.getDouble(5) >= -1e-9, "(p-q)*ln(p/q) is non-negative")
    }
  }

  test("dedup_fuzzy: top-10 closest pairs, ordered, ratios in [0,1]") {
    val rows = TrainingData.dedupFuzzy(spark, sf).collect()
    assert(rows.length <= 10)
    assert(rows.nonEmpty, "the dedup corpus has fuzzy candidates")
    val dists = rows.map(_.getLong(2)).toSeq
    assert(dists === dists.sorted, "ordered by distance asc")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "doc_a < doc_b")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("contamination_embedding: split partitions vectors, rate consistent") {
    val r = TrainingData.contaminationEmbedding(spark, sf).collect().head
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(r.getLong(0) + r.getLong(1) === nVecs, "eval + train partition")
    assert(r.getLong(3) <= r.getLong(0), "contaminated <= eval")
    val rate = r.getDouble(4)
    assert(rate >= 0.0 && rate <= 1.0)
  }

  test("sim_topk_diversified: clusters distinct per query, rank-1 matches IVF") {
    val div = TrainingData.simTopkDiversified(spark, sf).collect()
    val byQuery = div.groupBy(_.getLong(0))
    byQuery.foreach { case (q, g) =>
      assert(g.length <= 5)
      assert(g.map(_.getLong(3)).distinct.length === g.length,
        s"query $q: at most one result per cluster")
      val sims = g.sortBy(_.getLong(1)).map(_.getDouble(4)).toSeq
      assert(sims === sims.sortBy(-_), "sim non-increasing in rank")
    }
    // the best overall candidate always survives cluster-dedup, so rank 1
    // must agree with the plain IVF top-k
    val ivfTop = TrainingData.simTopkIvf(spark, sf).collect()
      .filter(_.getLong(1) === 1L).map(r => r.getLong(0) -> r.getLong(2)).toMap
    val divTop = div.filter(_.getLong(1) === 1L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(divTop === ivfTop, "rank-1 identical to the undiversified top-k")
  }

  test("quality_nb_classifier: confusion partitions docs, accuracy sane") {
    val rows = TrainingData.qualityNbClassifier(spark, sf).collect()
    val total = rows.map(_.getLong(1)).sum
    assert(total === 500L, "every doc is classified")
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5)
        === r.getLong(1), "tp+fp+fn+tn == n_docs")
      val acc = r.getDouble(6)
      assert(acc >= 0.0 && acc <= 1.0)
    }
    // trained and evaluated on the same weak labels: the model must beat
    // chance overall (it reproduces its own training signal)
    val correct = rows.map(r => r.getLong(2) + r.getLong(5)).sum
    assert(correct.toDouble / total > 0.5, "NB reproduces its weak labels")
  }

  test("quality_bigram_logprob: one row per multi-token doc, negative logprobs") {
    val rows = TrainingData.qualityBigramLogprob(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1L, "n_bigrams >= 1")
      assert(r.getDouble(2) < 0.0, "smoothed conditional P < 1 everywhere")
    }
    // n_bigrams per doc == n_tokens - 1
    import org.apache.spark.sql.functions._
    val tokCounts = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .filter(col("n") >= 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length === tokCounts.size)
    rows.foreach(r =>
      assert(r.getLong(1) === tokCounts(r.getLong(0)) - 1L))
  }

  test("drift_psi_stream: row-identical to the batch drift monitor") {
    val batch = TrainingData.driftPsi(spark, sf).collect().toSeq
    val stream = TrainingData.driftPsiStream(spark, sf).collect().toSeq
    assert(stream === batch,
      "AvailableNow replay through the streaming monitor equals batch PSI")
  }

  test("q28_event_funnel: stage counts are monotone non-increasing") {
    val r = graft.queries.Relational.q28EventFunnel(spark, sf).collect().head
    assert(r.getLong(0) >= r.getLong(1), "n_users >= n_view")
    assert(r.getLong(1) >= r.getLong(2), "n_view >= n_view_click")
    assert(r.getLong(2) >= r.getLong(3), "n_view_click >= n_full_funnel")
    val rate = r.getDouble(4)
    assert(rate >= 0.0 && rate <= 1.0)
  }

  test("q29_cohort_retention: offset-0 retention is exactly 1 per cohort") {
    val rows = graft.queries.Relational.q29CohortRetention(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L, "week_offset >= 0")
      assert(r.getLong(2) <= r.getLong(3), "active <= cohort size")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    }
    // every user is active in their own first week by definition
    rows.filter(_.getLong(1) === 0L).foreach(r =>
      assert(r.getLong(2) === r.getLong(3), "offset 0 retains the full cohort"))
  }

  test("profile_table: one row per column, primary key detected as unique") {
    val rows = graft.queries.Relational.profileTable(spark, sf).collect()
    assert(rows.length === graft.queries.Relational.ProfileColumns.length)
    val byCol = rows.map(r => r.getString(0) -> r).toMap
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L, "n_nulls >= 0")
      assert(r.getLong(3) <= r.getLong(1), "n_distinct <= n_rows")
      assert(r.getString(4) != null && r.getString(5) != null)
    }
    val pk = byCol("o_orderkey")
    assert(pk.getLong(3) === pk.getLong(1) - pk.getLong(2),
      "o_orderkey is unique across present rows")
  }

  test("q30_event_transitions: probabilities sum to ~1 per from_type") {
    val rows = graft.queries.Relational.q30EventTransitions(spark, sf).collect()
    assert(rows.nonEmpty)
    val byFrom = rows.groupBy(_.getString(0))
    byFrom.foreach { case (ft, g) =>
      val psum = g.map(_.getDouble(3)).sum
      assert(math.abs(psum - 1.0) < 0.01, s"$ft: row-normalized, got $psum")
    }
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    val nUsers = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum === nEvents - nUsers,
      "each user's k events yield k-1 transitions")
  }

  test("q31_ref_integrity: consistent TPC-H keys have zero orphans") {
    val r = graft.queries.Relational.q31RefIntegrity(spark, sf).collect().head
    assert(r.getLong(0) > 0L && r.getLong(2) > 0L && r.getLong(4) > 0L)
    assert(r.getLong(1) === 0L, "no lineitem orphans")
    assert(r.getLong(3) === 0L, "no order orphans")
    assert(r.getLong(5) >= 0L)
  }

  test("q32_anomalous_hours: top-5 by |z|, flag consistent with threshold") {
    val rows = graft.queries.Relational.q32AnomalousHours(spark, sf).collect()
    assert(rows.length === 5)
    val zs = rows.map(r => math.abs(r.getDouble(2))).toSeq
    assert(zs === zs.sortBy(-(_: Double)), "ordered by |z| desc")
    rows.foreach { r =>
      assert(r.getBoolean(3) === (math.abs(r.getDouble(2)) >= 2.0))
      assert(r.getLong(1) > 0L)
    }
  }

  test("vocab_growth: deciles monotone in docs, tokens, and vocabulary") {
    val rows = TrainingData.vocabGrowth(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to 10L).toSeq)
    val docs = rows.map(_.getLong(1)).toSeq
    val toks = rows.map(_.getLong(2)).toSeq
    val vocab = rows.map(_.getLong(3)).toSeq
    assert(docs === docs.sorted && toks === toks.sorted && vocab === vocab.sorted,
      "cumulative curves are monotone non-decreasing")
    assert(docs.last === 500L, "final decile covers the whole corpus")
    assert(vocab.last > 0L && vocab.last <= toks.last,
      "vocabulary bounded by token volume")
    // sub-linear growth (Heaps): second-half vocab gain < first-half gain
    assert(vocab(9) - vocab(4) < vocab(4),
      "vocabulary growth decelerates on a fixed token distribution")
  }

  test("quality_nb_topfeatures: top-20 by |llr|, counts consistent") {
    val rows = TrainingData.qualityNbTopFeatures(spark, sf).collect()
    assert(rows.length === 20)
    val absLlr = rows.map(r => math.abs(r.getDouble(3))).toSeq
    assert(absLlr === absLlr.sortBy(-(_: Double)), "ordered by |llr| desc")
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(2) >= 0L)
      assert(r.getLong(1) + r.getLong(2) > 0L, "feature seen at least once")
    }
  }

  test("multimodal_join_profile: buckets partition joined items, shares sane") {
    val rows = TrainingData.multimodalJoinProfile(spark, sf).collect()
    assert(rows.nonEmpty)
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum === nVecs,
      "every embedding joins a doc (id-aligned) and lands in one bucket")
    rows.foreach { r =>
      assert(r.getLong(3) >= 1L, "at least one language per bucket")
      val share = r.getDouble(5)
      assert(share > 0.0 && share <= 1.0)
    }
  }

  test("bpe_pair_stats: exactly top-20 two-char pairs, non-increasing") {
    val rows = TrainingData.bpePairStats(spark, sf).collect()
    assert(rows.length === 20)
    val freqs = rows.map(_.getLong(1)).toSeq
    assert(freqs === freqs.sortBy(-_), "ordered by frequency desc")
    assert(rows.forall(_.getString(0).length === 2), "adjacent char pairs")
  }

  test("dedup_bloom: no false negatives ever, accounting consistent") {
    val r = TrainingData.dedupBloom(spark, sf).collect().head
    val Seq(nExisting, nBatch, nSlots, nFlagged, nTrueDup, nFp, nFn) =
      (0 to 6).map(r.getLong)
    assert(nFn === 0L, "the Bloom contract: every true duplicate is flagged")
    assert(nFlagged === nTrueDup + nFp, "flagged partitions into TP + FP")
    assert(nSlots <= 3L * nExisting, "at most k positions per existing doc")
    assert(nSlots >= 1L && nBatch > 0L)
    val fpRate = r.getDouble(7)
    assert(fpRate >= 0.0 && fpRate <= 1.0)
  }

  test("mixture_epoch_schedule: water-filling exhausts the budget or caps " +
    "every source; allocations within cap") {
    val rows = TrainingData.mixtureEpochSchedule(spark, sf).collect()
    assert(rows.length === 20, "one row per source")
    val totalTokens = rows.map(_.getLong(1)).sum
    val allocSum = rows.map(_.getDouble(3)).sum
    rows.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(2) + 0.1, "alloc never exceeds cap")
      val epochs = r.getDouble(4)
      assert(epochs > 0.0 && epochs <= 2.1 + 1e-9, "epochs within the cap")
      if (r.getBoolean(5))
        assert(math.abs(r.getDouble(3) - r.getDouble(2)) <= 0.1,
          "capped sources sit exactly at cap")
    }
    val allCapped = rows.forall(_.getBoolean(5))
    if (!allCapped)
      assert(math.abs(allocSum - 2.0 * totalTokens) < 1.0,
        "uncapped solution spends exactly the budget")
  }

  test("sim_recall_curve: recall non-decreasing in nprobe, pairs fixed") {
    val rows = TrainingData.simRecallCurve(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows.map(_.getLong(1)).distinct.length === 1,
      "same exact ground-truth pair count at every probe width")
    val recalls = rows.map(_.getDouble(3)).toSeq
    assert(recalls === recalls.sorted,
      "widening the probe can only add candidates")
    recalls.foreach(rc => assert(rc >= 0.0 && rc <= 1.0))
  }

  test("dedup_bloom_stream: flagged count equals the batch Bloom filter") {
    val stream = TrainingData.dedupBloomStream(spark, sf).collect().head
    val batch = TrainingData.dedupBloom(spark, sf).collect().head
    assert(stream.getLong(0) === batch.getLong(0), "same existing corpus")
    assert(stream.getLong(1) === batch.getLong(1), "same batch size")
    assert(stream.getLong(2) === batch.getLong(2), "same bit set")
    assert(stream.getLong(3) === batch.getLong(3),
      "streaming probe flags exactly what the batch filter flags")
  }

  test("dedup_threshold_sweep: monotone in threshold, 0.4 row matches the " +
    "registered banded default") {
    val rows = TrainingData.dedupThresholdSweep(spark, sf).collect()
    assert(rows.map(_.getDouble(0)).toSeq === Seq(0.3, 0.4, 0.5))
    assert(rows.map(_.getLong(2)).distinct.length === 1,
      "one band join: same candidate set at every threshold")
    val dups = rows.map(_.getLong(3)).toSeq
    val dropped = rows.map(_.getLong(4)).toSeq
    assert(dups === dups.sortBy(-_), "raising the bar can only drop pairs")
    assert(dropped === dropped.sortBy(-_))
    val banded = TrainingData.dedupEmbeddingBanded(spark, sf).collect().head
    val mid = rows(1)
    assert(mid.getLong(2) === banded.getLong(2) &&
      mid.getLong(3) === banded.getLong(3) &&
      mid.getLong(4) === banded.getLong(4),
      "the 0.4 curve point IS dedup_embedding_banded's row")
  }

  test("contamination_gram_sweep: rate non-increasing in gram size; " +
    "5-gram arm matches contamination_check") {
    val rows = TrainingData.contaminationGramSweep(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(4L, 5L, 6L))
    assert(rows.map(_.getLong(1)).distinct.length === 1,
      "same eval split at every width")
    val rates = rows.map(_.getDouble(4)).toSeq
    assert(rates === rates.sortBy(-(_: Double)),
      "longer grams are strictly harder to share (no heavy grams here)")
    val check = TrainingData.contaminationCheck(spark, sf).collect().head
    assert(rows(1).getLong(3) === check.getLong(2),
      "the n=5 arm IS contamination_check's count")
  }

  test("dup_quality_calibration: two-row partition of the corpus, cluster " +
    "side matches dup_clusters membership") {
    val rows = TrainingData.dupQualityCalibration(spark, sf).collect()
    assert(rows.map(_.getBoolean(0)).toSeq === Seq(false, true))
    assert(rows.map(_.getLong(1)).sum === 500L, "rows partition the corpus")
    val clustered = TrainingData.dupClusters(spark, sf).collect()
      .map(_.getLong(1)).sum
    assert(rows(1).getLong(1) === clustered,
      "in-cluster doc count equals the dup_clusters rollup")
    rows.foreach { r =>
      assert(r.getDouble(2) > 0.0 && r.getDouble(3) >= 0.0)
    }
  }

  test("pack_sorted_compare: sequence count order-invariant, boundary " +
    "accounting bounded") {
    val rows = TrainingData.packSortedCompare(spark, sf).collect()
    assert(rows.length === 8)
    val packed = TrainingData.packSequences(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    rows.foreach { r =>
      val shard = r.getLong(0)
      assert(r.getLong(3) === packed(shard).getLong(3),
        "ceil(total/L) sequences no matter the order")
      assert(r.getLong(4) === packed(shard).getLong(4),
        "arrival-order boundary count IS pack_sequences' count")
      assert(r.getLong(5) >= 0L && r.getLong(5) < r.getLong(1),
        "sorted packing still bounded by doc count")
      assert(r.getLong(6) === r.getLong(4) - r.getLong(5))
    }
    assert(rows.map(_.getLong(6)).sum >= 0L,
      "length-sorting never loses across the corpus")
  }

  test("text_langid_confusion: rows partition the corpus, rates sum to 1 " +
    "per language, consistent with text_langid") {
    val rows = TrainingData.textLangidConfusion(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum === 500L)
    rows.groupBy(_.getString(0)).foreach { case (_, cells) =>
      assert(math.abs(cells.map(_.getDouble(3)).sum - 1.0) < 0.001,
        "row-normalized rates sum to 1 per true language")
    }
    val byPred = TrainingData.textLangid(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(1)).foreach { case (pred, cells) =>
      assert(cells.map(_.getLong(2)).sum === byPred(pred),
        "column sums equal text_langid's per-prediction counts")
    }
  }

  test("q33_rfm_segments: quintile grid partitions users, scores in 1..5") {
    val rows = graft.queries.Relational.q33RfmSegments(spark, sf).collect()
    val nUsers = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum === nUsers,
      "every user lands in exactly one R-F cell")
    rows.foreach { r =>
      assert(r.getLong(0) >= 1L && r.getLong(0) <= 5L)
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 5L)
      assert(r.getDouble(3) >= 0.0, "recency is non-negative")
      assert(r.getDouble(4) >= 1.0, "every user has at least one event")
    }
    // frequency quintiles are ordered: avg frequency rises with f_score
    val byF = rows.groupBy(_.getLong(1)).toSeq.sortBy(_._1)
      .map { case (_, cells) =>
        cells.map(c => c.getDouble(4) * c.getLong(2)).sum /
          cells.map(_.getLong(2)).sum }
    assert(byF === byF.sorted, "f_score 5 is the most frequent quintile")
  }

  test("multimodal_dedup: modalities partition the corpus, reclaimable " +
    "bytes consistent") {
    val rows = TrainingData.multimodalDedup(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("audio", "image", "video"))
    assert(rows.map(_.getLong(1)).sum === 500L)
    val globalDups = TrainingData.dedupExact(spark, sf).collect()
      .head.getLong(2)
    assert(rows.map(_.getLong(3)).sum <= globalDups,
      "per-modality dedup can only find dups dedup_exact also sees")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(3) === r.getLong(1) - r.getLong(2))
      assert(r.getLong(5) >= 0L &&
        (r.getLong(3) == 0L) == (r.getLong(5) == 0L),
        "bytes reclaimable exactly when duplicates exist")
    }
  }

  test("corpus_snapshot_diff: per-source diff partitions both snapshots") {
    val rows = TrainingData.corpusSnapshotDiff(spark, sf).collect()
    assert(rows.length === 20, "one row per source")
    rows.foreach { r =>
      val Seq(nPrev, nCurr, added, removed, changed, unchanged) =
        (1 to 6).map(r.getLong)
      assert(nCurr === added + changed + unchanged,
        "current snapshot partitions into added/changed/unchanged")
      assert(nPrev === removed + changed + unchanged,
        "previous snapshot partitions into removed/changed/unchanged")
    }
    assert(rows.map(_.getLong(3)).sum > 0L, "some docs are new in current")
    assert(rows.map(_.getLong(4)).sum > 0L, "some docs were removed")
    assert(rows.map(_.getLong(5)).sum > 0L, "some docs changed content")
  }

  test("sim_range_search: every probe reported, stats consistent with " +
    "radius semantics") {
    val rows = TrainingData.simRangeSearch(spark, sf).collect()
    assert(rows.length === 32, "one row per probe query, zero-match included")
    rows.foreach { r =>
      val n = r.getLong(1)
      if (n === 0L) {
        assert(r.isNullAt(2) && r.isNullAt(3), "no matches -> null stats")
      } else {
        assert(r.getDouble(2) >= 0.3, "top match within the radius")
        assert(r.getDouble(3) >= 0.3 && r.getDouble(3) <= r.getDouble(2),
          "avg bounded by radius and top")
      }
    }
    assert(rows.map(_.getLong(1)).sum > 0L, "radius calibrated to match")
  }

  test("emb_ivf_balance: buckets partition the corpus, imbalance >= 1") {
    val r = TrainingData.embIvfBalance(spark, sf).collect().head
    val Seq(nCents, nBuckets, nAssigned, maxB, minB) =
      (0 to 4).map(r.getLong)
    assert(nBuckets <= nCents, "every bucket is a centroid")
    assert(nAssigned === 500L, "every vector assigned exactly once")
    assert(minB >= 1L && maxB >= minB)
    assert(r.getDouble(5) >= 1.0, "imbalance is max/avg, floored at 1")
  }

  test("quality_metric_agreement: three pairs, rho in [-1,1], exact " +
    "integer Spearman is permutation-consistent") {
    val rows = TrainingData.qualityMetricAgreement(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("len_vs_logprob", "len_vs_stopword", "stopword_vs_logprob"))
    assert(rows.map(_.getLong(1)).distinct.toSeq === Seq(500L),
      "every scored doc ranks in every signal")
    rows.foreach { r =>
      val rho = r.getDouble(2)
      assert(rho >= -1.0 && rho <= 1.0)
    }
  }

  test("q34_gap_fill: complete hour spine, gaps zero-filled and " +
    "forward-filled from the last observed hour") {
    val rows = graft.queries.Relational.q34GapFill(spark, sf).collect()
    val hbs = rows.map(_.getLong(0))
    assert(hbs.toSeq === (hbs.min to hbs.max).toSeq, "dense spine, no holes")
    assert(rows.exists(_.getBoolean(2)), "sf0.001 has real gap hours")
    assert(rows.head.getBoolean(2) === false,
      "spine starts at an observed hour, so ffill never sees a leading null")
    var lastSeen = Double.NaN
    rows.foreach { r =>
      if (!r.getBoolean(2)) lastSeen = r.getDouble(3)
      else {
        assert(r.getLong(1) === 0L, "gap hours have zero events")
        assert(r.getDouble(3) === lastSeen,
          "gap hours carry the last observed hourly average")
      }
    }
  }

  test("text_boilerplate: every source reported, accounting consistent") {
    val rows = TrainingData.textBoilerplate(spark, sf).collect()
    assert(rows.length === 20, "one row per source")
    rows.foreach { r =>
      val Seq(nDocs, total, types, insts, affected) = (1 to 5).map(r.getLong)
      assert(nDocs > 0L && total >= nDocs, "at least one chunk per doc")
      assert(insts >= 2L * types,
        "every flagged chunk type has df >= 2 instances")
      assert(affected <= nDocs && (insts == 0L) == (affected == 0L))
      val frac = r.getDouble(6)
      assert(frac >= 0.0 && frac < 1.0)
    }
    assert(rows.map(_.getLong(3)).sum > 0L,
      "the df cap is calibrated to flag at least one chunk on this corpus")
  }

  test("corpus release: the card-delta's old-slice is bucket-pruned — " +
    "only the stage's touched bucket files are opened, values identical " +
    "to the unpruned semi-join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val wh = java.nio.file.Files.createTempDirectory("slice_wh").toString
    try {
      val store = new graft.store.TableStore(spark, wh)
      graft.run.CorpusOps.release(spark, store, wh, all, "r1", None)
      val corpus = store.readIfExists("corpus_docs").get
      // a 2-doc stage: only doc_id matters to the old-slice seam
      val stage = corpus.select("doc_id").orderBy("doc_id").limit(2)
        .collect().map(_.getLong(0)).toSeq.toDF("doc_id")
      val planned = store.plannedBuckets("corpus_docs", Seq("doc_id"), stage)
      assert(planned.isDefined, "merge-published corpus must be manifested")
      val (n, touched) = planned.get
      assert(touched.size < n, "a 2-doc stage must leave untouched buckets")
      val slice = graft.run.CorpusOps.cardOldSlice(store, "corpus_docs",
        planned, Some(corpus), stage)
      assert(slice.isDefined)
      // the file-access pin: the steady-state release's old-slice read
      // opens ONLY touched bucket files — the r13 verdict's scale-killer
      // was this exact read scanning every bucket per micro-batch
      val files = slice.get.inputFiles
      assert(files.nonEmpty)
      assert(files.forall(f => touched.exists(b => f.contains(s"_bucket=$b/"))),
        s"old-slice opened a foreign bucket:\n${files.mkString("\n")}")
      assert(files.length < corpus.inputFiles.length,
        "pruned read must open strictly fewer files than the full table")
      // value equivalence vs the unpruned semi-join
      val unpruned = corpus
        .select("doc_id", "text", "lang", "source", "n_tokens")
        .join(stage, Seq("doc_id"), "left_semi")
      assert(slice.get.collect().map(_.getLong(0)).sorted.toSeq ===
        unpruned.collect().map(_.getLong(0)).sorted.toSeq)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(wh))
      spark.catalog.clearCache()
    }
  }

  test("corpus_card: cumulative churn routes a release through the exact " +
    "rebuild — HLL drift resets deterministically instead of waiting for " +
    "a crash") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def batch(r: Int, ids: Range) = ids.map(d =>
      (d.toLong, (1 to 30).map(j => s"r${r}d${d}w$j").mkString(" "),
        "en", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val wh = java.nio.file.Files.createTempDirectory("churn_wh").toString
    try {
      val store = new graft.store.TableStore(spark, wh)
      def acc() = {
        val r = store.readIfExists(graft.run.CorpusCardAcc.AccTable).get
          .agg(sum("churn"), sum("n_docs"),
            sum(hll_sketch_estimate(col("hll")))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2).toDouble)
      }
      graft.run.CorpusOps.release(spark, store, wh, batch(1, 1 to 20),
        "r1", None)
      assert(acc()._1 === 0L, "bootstrap starts the churn gauge at 0")
      // steady-state UPDATE of half the corpus: churn 10/20 passes the
      // 0.2 bound, and the un-subtractable sketch now counts content
      // EVER released (~30) — the drift the bound exists to reset
      val (_, u2, _) = graft.run.CorpusOps.release(spark, store, wh,
        batch(2, 1 to 10), "r2", None)
      assert(u2 === 10L, "ciphered batch must land as updates")
      val (c2, n2, est2) = acc()
      assert(c2 === 10L && n2 === 20L)
      assert(est2 > 25.0, "sketch counts content ever released (drifted)")
      // the exceeded gauge forces the NEXT release onto the exact path:
      // churn resets and the rebuilt sketch holds live content only
      val (_, u3, _) = graft.run.CorpusOps.release(spark, store, wh,
        batch(3, 1 to 10), "r3", None)
      assert(u3 === 10L)
      val (c3, n3, est3) = acc()
      assert(c3 === 0L, "exact rebuild resets the churn gauge")
      assert(n3 === 20L)
      assert(est3 <= 21.0, "rebuilt sketch holds live content only")
      // back under the bound: steady delta accretes churn anew
      val (_, u4, _) = graft.run.CorpusOps.release(spark, store, wh,
        batch(4, 1 to 3), "r4", None)
      assert(u4 === 3L)
      assert(acc()._1 === 3L, "steady delta accretes churn")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(wh))
      spark.catalog.clearCache()
    }
  }

  test("corpus forget: a forget-DOMINATED sequence trips the churn " +
    "bound (deletions count as churn) and the next release's exact " +
    "rebuild resets the gauge; precondition failures mutate nothing; " +
    "dropCorpusTag drops both pins") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def batch(r: Int, ids: Range) = ids.map(d =>
      (d.toLong, (1 to 30).map(j => s"f${r}d${d}w$j").mkString(" "),
        "en", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val wh = java.nio.file.Files.createTempDirectory("forget_churn").toString
    try {
      val store = new graft.store.TableStore(spark, wh)
      val idxDir = s"$wh/corpus_index"
      def churn() = store.readIfExists(graft.run.CorpusCardAcc.AccTable)
        .get.agg(coalesce(sum("churn"), lit(0L))).head().getLong(0)
      graft.run.CorpusOps.release(spark, store, wh, batch(1, 1 to 40),
        "r1", None, snapshotTag = Some("epoch1"))
      assert(churn() === 0L)
      // mass takedown WITHOUT updates: 20/40 deleted — pure-negative
      // churn must trip the bound exactly like update churn does
      val (d1, rows1) = graft.run.CorpusOps.forget(spark, store, wh,
        (1 to 20).map(_.toLong).toDF("doc_id"))
      assert(d1 === 20L && rows1 === 20L)
      assert(churn() === 20L, "deletions count as churn")
      assert(graft.run.CorpusCardAcc.churnExceeded(
        store.readIfExists(graft.run.CorpusCardAcc.AccTable).get))
      // the next release routes through the exact rebuild: gauge resets
      // and the rebuilt sketch holds live content only
      graft.run.CorpusOps.release(spark, store, wh, batch(2, 100 to 104),
        "r2", None)
      assert(churn() === 0L, "forget-tripped bound forces the exact " +
        "rebuild on the next release")
      val est = store.readIfExists(graft.run.CorpusCardAcc.AccTable).get
        .agg(sum(hll_sketch_estimate(col("hll")))).head().getLong(0)
      assert(est <= 27L, "rebuilt sketch holds live content only " +
        "(25 live docs), not content ever released (60)")

      // precondition probe: an unfolded segment blocks forget BEFORE any
      // state is touched — index trust survives a no-op failure
      assert(graft.operators.MinhashIndex.isCommitted(spark, idxDir))
      store.append("corpus_docs", store.readIfExists("corpus_docs").get
        .limit(1))
      intercept[IllegalArgumentException] {
        graft.run.CorpusOps.forget(spark, store, wh,
          Seq(100L).toDF("doc_id"))
      }
      assert(graft.operators.MinhashIndex.isCommitted(spark, idxDir),
        "a pure precondition failure must not drop the trust marker")

      // paired tag drop: the release pinned corpus_docs AND corpus_card
      // under epoch1; dropping the corpus tag drops both
      assert(store.readSnapshot("corpus_docs", "epoch1").nonEmpty)
      assert(store.readSnapshot("corpus_card", "epoch1").nonEmpty)
      assert(graft.run.CorpusOps.dropCorpusTag(store, "epoch1"))
      assert(store.readSnapshot("corpus_docs", "epoch1").isEmpty)
      assert(store.readSnapshot("corpus_card", "epoch1").isEmpty,
        "the companion datasheet pin must not outlive the content pin")
      assert(!graft.run.CorpusOps.dropCorpusTag(store, "epoch1"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(wh))
      spark.catalog.clearCache()
    }
  }

  test("contam_index: a rebuild that now yields ZERO evidence retires " +
    "the previous suite's grams (overwrite contract) instead of leaving " +
    "them live") {
    import graft.operators.ContamIndex
    import spark.implicits._
    val real = Seq((10L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "alpha beta gamma delta epsilon completely novel tail here"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_ct_rb").toString
    try {
      assert(ContamIndex.ingest(real, idx, "suiteA"))
      assert(ContamIndex.decontaminate(spark, batch, idx).count() === 0L,
        "evidence live: the sharing doc drops")
      // accrete train-side state under suiteA's evidence — a rebuild
      // must retire it too (train_df holds only OLD-evidence grams and
      // offered/ marks content as counted though only those grams were
      // recorded; surviving the rebuild they would undercount the new
      // suite's df forever)
      ContamIndex.recordTrainDf(batch, idx)
      def stateDirs() = new java.io.File(idx).listFiles.map(_.getName)
        .filter(n => n.startsWith("train_df") || n.startsWith("offered"))
        .toSeq
      assert(stateDirs().nonEmpty, "accretion must have persisted state")
      // the suite CHANGED: every doc now under the gram width — a
      // rebuild must read as NO evidence, not keep suiteA's grams
      val shorty = (1 to 3).map(i => (i.toLong, s"tiny $i"))
        .toDF("doc_id", "text")
      ContamIndex.build(shorty, idx)
      assert(ContamIndex.decontaminate(spark, batch, idx).count() === 1L,
        "stale evidence retired: the batch passes through whole")
      assert(ContamIndex.ingestedSuites(spark, idx).isEmpty,
        "the _SUITES manifest derives from the retired evidence")
      assert(stateDirs().isEmpty,
        "rebuild must retire the old evidence's train-df/offered state")
      // the retired index is not poisoned: a real suite re-ingests
      assert(ContamIndex.ingest(real, idx, "suiteA"))
      assert(ContamIndex.decontaminate(spark, batch, idx).count() === 0L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("dedup index: strictReplay rejects content a compaction GC'd as " +
    "superseded; the default contract admits it (the checkpoint's job)") {
    import graft.operators.MinhashIndex
    import spark.implicits._
    def doc(id: Long, tag: String) =
      (id, (1 to 25).map(j => s"$tag$j").mkString(" "))
    val idx = java.nio.file.Files.createTempDirectory("graft_mh_sr").toString
    try {
      MinhashIndex.build(
        Seq(doc(1, "alpha"), doc(2, "beta")).toDF("doc_id", "text"), idx)
      // doc 1 updated to new content, then compacted: the GC drops the
      // alpha registration from the live hash tier
      MinhashIndex.append(Seq(doc(1, "gamma")).toDF("doc_id", "text"), idx)
      MinhashIndex.compact(spark, idx)
      val replay = Seq(doc(1, "alpha")).toDF("doc_id", "text")
      assert(MinhashIndex.novelDocs(spark, replay, idx).count() === 1L,
        "default contract: superseded content reads novel after GC")
      assert(MinhashIndex.novelDocs(spark, replay, idx,
        strictReplay = true).count() === 0L,
        "strict tier: the superseded registration rejects the replay")
      // the registry ACCRETES across compactions
      MinhashIndex.append(Seq(doc(3, "delta")).toDF("doc_id", "text"), idx)
      MinhashIndex.compact(spark, idx)
      assert(MinhashIndex.novelDocs(spark, replay, idx,
        strictReplay = true).count() === 0L,
        "registry survives the next compaction")
      // genuinely novel content passes the strict tier
      assert(MinhashIndex.novelDocs(spark,
        Seq(doc(9, "epsilon")).toDF("doc_id", "text"), idx,
        strictReplay = true).count() === 1L)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }

  test("contam_index: train-df accretion is bounded by DISTINCT offered " +
    "content — replaying the same contaminated docs cannot ratchet their " +
    "grams past dfCap") {
    import org.apache.spark.sql.functions._
    import graft.operators.ContamIndex
    import spark.implicits._
    val boiler =
      "standard disclaimer all rights reserved contact support for details"
    val eval = (1 to 5).map(i => (i.toLong, s"$boiler unique eval answer $i"))
      .toDF("doc_id", "text")
    def corpus(tag: String) = (1 to 15).map(i =>
      (i.toLong + 1000L, s"$boiler $tag corpus body number $i with words"))
      .toDF("doc_id", "text")
    val batch = (500 to 509).map(i =>
      (i.toLong, s"$boiler fresh training content row $i"))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft_ct_rr").toString
    try {
      ContamIndex.build(eval, idx)
      val cap = 30
      // the SAME 15-doc corpus offered three times: counted once — an
      // offer-count df would already be 45 + 10 > 30 and exempt the
      // boilerplate, silently disabling the evidence
      (1 to 3).foreach(_ => ContamIndex.recordTrainDf(corpus("aaa"), idx))
      assert(ContamIndex.decontaminate(spark, batch, idx, dfCap = cap)
        .count() === 0L,
        "replays must not ratchet: df stays 15 + 10 <= cap, still evidence")
      // DISTINCT content legitimately raises the df past the cap
      ContamIndex.recordTrainDf(corpus("bbb"), idx)
      assert(ContamIndex.decontaminate(spark, batch, idx, dfCap = cap)
        .count() === batch.count(),
        "30 distinct docs + batch 10 passes the cap: boilerplate exempt")
      // real eval content still drops (its grams stay rare train-side)
      val leaked = batch.unionByName(
        Seq((600L, s"$boiler unique eval answer 3")).toDF("doc_id", "text"))
      assert(ContamIndex.decontaminate(spark, leaked, idx, dfCap = cap)
        .count() === batch.count())
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(idx))
    }
  }
}
