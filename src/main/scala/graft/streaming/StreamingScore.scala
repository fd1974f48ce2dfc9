package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming twins of the curate SCORING stages (t08 LM score, t10
  * importance weights, t11 quality classifier) — the last curate stages
  * without streaming counterparts. The models are FROZEN on the batch
  * side (trained once from static reference corpora:
  * [[graft.text.TextOps.lmTrain]] / [[graft.text.TextOps.importanceModel]]
  * / the build-time [[graft.text.QualityFilterModel]]); the stream is
  * scored per micro-batch via `foreachBatch` with the SAME batch
  * expressions, so streaming and batch scores are identical by
  * construction — scoring is per-doc math against a constant model, so
  * micro-batch boundaries cannot change any score (unlike packing,
  * where arrival order is semantic: [[StreamingPack]]).
  *
  * foreachBatch (not a stream-static join into a streaming agg) because
  * the per-doc score needs an exploded-bigram aggregation per doc —
  * inside foreachBatch that is a plain bounded batch agg per
  * micro-batch; as a streaming agg it would carry unbounded doc state.
  *
  * State scale: ZERO streaming state — each micro-batch is scored and
  * released; the only resident data is the model (broadcast-sized for
  * t10/t11, vocab-bounded tables for t08).
  */
object StreamingScore {

  /** Streaming t08: score each micro-batch against a frozen bigram LM
    * and keep docs with avg_logprob ≥ `minAvgLogprob` — docs too short
    * to carry a bigram are KEPT (the curate left-join contract: the
    * length gate owns that decision, not the perplexity gate). `sink`
    * receives each batch's surviving docs with their scores. */
  def lmScoreFilter(model: graft.text.TextOps.LmModel, docs: DataFrame,
                    id: String, text: String, addK: Double,
                    minAvgLogprob: Double)
                   (sink: DataFrame => Unit): DataStreamWriter[Row] = {
    // pin the model tables: every micro-batch joins them, and an
    // unpersisted plan would re-aggregate the reference corpus per batch
    model.c2.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    model.c1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val scores = graft.text.TextOps
        .lmScoreWith(model, batch, id, text, addK)
        .select(col(id), col("n_bigrams"), col("avg_logprob"))
      sink(batch.join(scores, Seq(id), "left")
        .filter(col("avg_logprob").isNull ||
          col("avg_logprob") >= minAvgLogprob))
    }
  }

  /** Streaming t10: score each micro-batch against a frozen bucket
    * log-ratio table and keep docs with log_weight ≥ `minLogWeight`.
    * Docs with no bigram carry no importance evidence and are kept. */
  def importanceFilter(lr: DataFrame, docs: DataFrame, id: String,
                       text: String, nBuckets: Int, salt: Int,
                       minLogWeight: Double)
                      (sink: DataFrame => Unit): DataStreamWriter[Row] = {
    // nBuckets-row table, but its lineage reaches back through both
    // reference corpora — pin it so batches don't re-aggregate them
    lr.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val scores = graft.text.TextOps
        .importanceScoreWith(lr, batch, id, text, nBuckets, salt)
        .select(col(id), col("n_grams"), col("log_weight"))
      sink(batch.join(scores, Seq(id), "left")
        .filter(col("log_weight").isNull ||
          col("log_weight") >= minLogWeight))
    }
  }

  /** Streaming t11: per-batch quality-classifier scoring against the
    * build-time frozen [[graft.text.QualityFilterModel]]; keeps docs
    * with q_prob ≥ `minQProb` (unscorable sub-bigram docs kept). */
  def qualityClassifierFilter(docs: DataFrame, id: String, text: String,
                              minQProb: Double)
                             (sink: DataFrame => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val scores = graft.text.TextOps
        .qualityClassifierScore(batch, id, text)
        .select(col(id), col("q_prob"))
      sink(batch.join(scores, Seq(id), "left")
        .filter(col("q_prob").isNull || col("q_prob") >= minQProb))
    }

  /** Streaming t14: Gopher rule gate per micro-batch. The rules are
    * pure per-doc aggregates over the doc's own tokens — no model, no
    * corpus state — so the stream applies the batch
    * [[graft.text.TextOps.gopherRules]] verbatim and keeps docs with
    * keep == 1. Zero streaming state. */
  def gopherRuleFilter(docs: DataFrame, id: String, text: String,
                       minStopwords: Int = 2)
                      (sink: DataFrame => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val keepIds = graft.text.TextOps
        .gopherRules(batch, id, text, minStopwords = minStopwords)
        .filter(col("keep") === 1).select(col(id))
      sink(batch.join(keepIds, Seq(id)))
    }

  /** Streaming t12: perplexity-bucket sampling against a frozen LM and
    * FROZEN bucket edges (both computed once from static planning
    * corpora — [[graft.text.TextOps.lmTrain]] +
    * [[graft.text.TextOps.perplexityBucketEdges]]). Each micro-batch is
    * scored, bucket-assigned against the frozen edges, and kept at the
    * bucket's target rate by the salted hash gate — identical to the
    * batch [[graft.text.TextOps.perplexityBucketApply]] by
    * construction. Docs with no bigram have no perplexity and are not
    * emitted (the batch contract). */
  def perplexityBucketFilter(model: graft.text.TextOps.LmModel,
                             edges: Seq[Double], fractions: Seq[Double],
                             docs: DataFrame, id: String, text: String,
                             addK: Double = 0.5, salt: Int = 29)
                            (sink: DataFrame => Unit): DataStreamWriter[Row] = {
    model.c2.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    model.c1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val scores = graft.text.TextOps
        .lmScoreWith(model, batch, id, text, addK)
        .select(col(id), col("n_bigrams"),
          round(col("avg_logprob"), 6).as("avg_logprob"))
      sink(graft.text.TextOps
        .perplexityBucketApply(scores, id, edges, fractions, salt))
    }
  }

  /** Streaming t13: token-budget mixture against a FROZEN epoch plan
    * ([[graft.core.ScaleOps.tokenBudgetPlan]], computed once from a
    * static planning corpus). Each micro-batch doc fans out into its
    * full epochs plus the hash-gated fractional epoch — the map-side
    * [[graft.core.ScaleOps.applyTokenBudget]] verbatim, so batch and
    * stream emit identical (id, epoch) sets. Zero streaming state; the
    * plan is a |target|-sized driver map. */
  def tokenBudgetFilter(eBps: Map[String, Long], docs: DataFrame,
                        id: String, key: String, text: String,
                        salt: Int = 31)
                       (sink: DataFrame => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      sink(graft.core.ScaleOps.applyTokenBudget(batch, id, key, text,
        salt, eBps))
    }

  /** Streaming t15: eval-contamination report for benchmark docs
    * ARRIVING AS A STREAM (new eval sets get their contamination
    * disclosure as they land), against a STATIC train corpus. The
    * train side collapses to distinct grams ONCE (persisted — it is
    * the frozen "model" here, gram-keyed distributed state, never
    * driver-sized); each micro-batch shingles its docs and replays the
    * batch [[graft.text.TextOps.contaminationReport]] join + agg
    * verbatim. Per-doc math against constant state → zero streaming
    * state, batch-identical by construction. */
  def contaminationReportFilter(trainGrams: DataFrame, bench: DataFrame,
                                id: String, text: String, k: Int = 8,
                                minRatio: Double = 0.2)
                               (sink: DataFrame => Unit): DataStreamWriter[Row] = {
    trainGrams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bench.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val bg = graft.text.TextOps.shingles(batch, id, text, k)
        .withColumnRenamed(id, "bench_id")
      sink(bg.join(trainGrams.withColumn("_hit", lit(1)), Seq("shingle"), "left")
        .groupBy(col("bench_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_shared"))
        .withColumn("contamination",
          round(col("n_shared") / col("n_grams"), 6))
        .withColumn("contaminated",
          (col("contamination") >= minRatio).cast("int")))
    }
  }

  /** The frozen train-side state for [[contaminationReportFilter]]:
    * the corpus's distinct k-gram frame. */
  def trainGramSet(train: DataFrame, id: String, text: String,
                   k: Int = 8): DataFrame =
    graft.text.TextOps.shingles(train, id, text, k)
      .select(col("shingle")).distinct()

  /** Streaming documents source (shared layout helper). */
  /** Streaming s05: serve a STREAM of query vectors against a persisted
    * [[graft.sim.Similarity.writeIvfPqIndex]] IVF-PQ index — the online
    * half of the build-offline/serve-online production shape. Each
    * micro-batch runs the exact batch serving path
    * ([[graft.sim.Similarity.ivfPqTopKIndexed]]): the probed-list union
    * of the batch's queries is pushed as a literal partition filter, so
    * each micro-batch reads only its own nProbe/nlist slice of the index
    * files, and tombstoned ids ([[graft.sim.Similarity.deleteFromIvfPqIndex]])
    * are filtered the moment the sidecar appears — deletions take
    * effect mid-stream with no restart. Queries are independent, so
    * the streamed union equals the batch result on the same query set
    * regardless of micro-batch boundaries; ZERO streaming state. */
  def ivfPqIndexServe(queries: DataFrame, indexPath: String, id: String,
                      vec: String, centroids: Array[Array[Double]],
                      codebook: Array[Array[Array[Double]]],
                      nProbe: Int, k: Int, overfetch: Int = 4)
                     (sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      sink(graft.sim.Similarity.ivfPqTopKIndexed(batch, indexPath, id, vec,
        centroids, codebook, nProbe, k, overfetch))
    }

  /** Streaming t17 twin: label each arriving doc with its
    * frozen-centroid topic ([[graft.text.TextOps.topicAssign]] — a pure
    * per-doc function of the text against literal centroids, so
    * micro-batch boundaries cannot change any label and the stream
    * carries ZERO state). Completes the batch-stream pairing of every
    * curate stage, `--assign_topics` included. */
  def topicLabel(docs: DataFrame, id: String, text: String,
                 centroids: Array[Array[Double]] =
                   graft.text.TopicCentroids.K8)
                (sink: DataFrame => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      sink(batch.join(
        graft.text.TextOps.topicAssign(batch, id, text, centroids),
        Seq(id), "left"))
    }

  /** Streaming index INGEST — the other half of the s05 lifecycle:
    * append each micro-batch of (id, vector) rows to a persisted
    * IVF-PQ index ([[graft.sim.Similarity.appendIvfPqIndex]] — the
    * same map-only encode pass, new files landing inside the existing
    * `cid=` partition directories). FROZEN codebooks are what make
    * this sound (old and new codes share one quantization space), so
    * append-equals-rebuild holds across arbitrary micro-batch
    * boundaries, and a concurrent [[ivfPqIndexServe]] stream picks up
    * each batch's vectors as soon as its files commit. ZERO streaming
    * state; the index IS the sink. */
  def ivfPqIndexIngest(corpus: DataFrame, indexPath: String, id: String,
                       vec: String, centroids: Array[Array[Double]],
                       codebook: Array[Array[Array[Double]]])
                      : DataStreamWriter[Row] =
    corpus.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.sim.Similarity.appendIvfPqIndex(batch, id, vec,
        centroids, codebook, indexPath)
    }

  /** Streaming t21 twin — duplication scoring of ARRIVING docs against
    * a FROZEN reference corpus ("how much of this new crawl snapshot
    * is already in yesterday's corpus"): each micro-batch's docs are
    * shingled and left-joined against the reference's persisted
    * distinct-gram frame (the t15 stream-static shape), emitting the
    * t21 record (n_grams, n_shared, dup_ratio, flagged) per arriving
    * doc. ZERO streaming state — the reference frame is static; docs
    * shorter than k tokens carry no shingle and are not emitted (the
    * batch contract). */
  def dupRatioAgainst(refGrams: DataFrame, docs: DataFrame, id: String,
                      text: String, k: Int = 8, maxRatio: Double = 0.5)
                     (sink: DataFrame => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val bg = graft.text.TextOps.shingles(batch, id, text, k)
      sink(bg.join(refGrams.withColumn("_hit", lit(1)),
          Seq("shingle"), "left")
        .groupBy(col(id))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_shared"))
        .withColumn("dup_ratio",
          round(col("n_shared") / col("n_grams"), 6))
        .withColumn("flagged",
          (col("n_shared") / col("n_grams") >= maxRatio).cast("int")))
    }

  /** Streaming t19 twin — BM25 retrieval SERVING: queries arrive as a
    * stream of (query_id, qtext) rows and each micro-batch is scored
    * against a FROZEN [[graft.text.TextOps.bm25Corpus]] (postings +
    * 1-row stats, built once and persisted by the caller). Per-query
    * scores depend only on the static corpus — df/avgdl never see the
    * stream — so micro-batch boundaries cannot change any ranking and
    * the stream carries ZERO state; each batch ships only its own
    * broadcast-sized query vocabulary into the static postings join. */
  def bm25Serve(queries: DataFrame, corpusTf: DataFrame,
                corpusStats: DataFrame, id: String, k: Int = 5)
               (sink: DataFrame => Unit): DataStreamWriter[Row] =
    queries.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val qterms = batch
        .select(col("query_id"),
          explode(split(col("qtext"), " ")).as("token"))
        .filter(col("token") =!= "").distinct()
      sink(graft.text.TextOps.bm25ScoreQueries(
        corpusTf, corpusStats, id, qterms, k))
    }

  /** Streaming t23 twin — exact-substring decontamination of ARRIVING
    * train docs against a FROZEN benchmark gram frame
    * ([[graft.text.Dedup.benchGramCounts]], built once and persisted
    * by the caller): each micro-batch runs the exact batch span path
    * ([[graft.text.Dedup.substringSpansAgainst]]). A doc's token
    * positions all arrive in its own row, so spans are a per-doc
    * function of (doc, frozen benchmark) — micro-batch boundaries
    * cannot change any interval and the stream carries ZERO state. */
  def substringContaminationAgainst(benchGrams: DataFrame, docs: DataFrame,
                                    id: String, text: String, k: Int = 8,
                                    minSpanTokens: Int = 20)
                                   (sink: DataFrame => Unit)
                                   : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      sink(graft.text.Dedup.substringSpansAgainst(
        benchGrams, batch, id, text, k, minSpanTokens))
    }

  /** Streaming t24 twin — C4-style line filter on a document stream:
    * [[graft.text.TextOps.lineFilter]] is pure map-side higher-order
    * functions over the line array (no shuffle, no Generate), so it
    * applies DIRECTLY to the streaming frame — no foreachBatch, no
    * state, batch-identical by construction. */
  def lineFilter(docs: DataFrame, id: String, text: String,
                 minWords: Int = 3, requireTerminal: Boolean = true,
                 blocklist: Seq[String] = Seq("javascript", "cookie",
                   "{"),
                 terminalRegex: String =
                   graft.text.TextOps.TerminalPunctLatin): DataFrame =
    graft.text.TextOps.lineFilter(docs, id, text, minWords,
      requireTerminal, blocklist, terminalRegex)

  /** Streaming t28/t27/t26 twins — HTML stripping, CJK segmentation
    * and script language-ID are pure per-row expression chains, so
    * they apply DIRECTLY to the streaming frame: no foreachBatch, no
    * state, batch-identical by construction. The full curate text-
    * shaping prefix (strip → segment → line gates) therefore runs on
    * a stream exactly as in batch. */
  def htmlStrip(docs: DataFrame, id: String, text: String): DataFrame =
    graft.text.TextOps.htmlStripFrame(docs, id, text)

  def cjkSegment(docs: DataFrame, id: String, text: String): DataFrame =
    graft.text.TextOps.cjkSegmentFrame(docs, id, text)

  def langIdScript(docs: DataFrame, id: String, text: String): DataFrame =
    graft.text.TextOps.langIdScript(docs, id, text)

  /** Streaming t32 twin — char-entropy is a per-row sorted-array fold
    * (zero shuffles, no state), so it applies DIRECTLY to the
    * streaming frame; batch-identical by construction. */
  def charEntropy(docs: DataFrame, id: String, text: String): DataFrame =
    graft.text.TextOps.charEntropy(docs, id, text)

  /** Streaming t35 twin — readability is three regexp counts plus
    * arithmetic, pure map-side; batch-identical by construction. */
  def readability(docs: DataFrame, id: String, text: String): DataFrame =
    graft.text.TextOps.readability(docs, id, text)

  /** Streaming t34 twin — the winnowing digest is a stateless
    * per-document mapPartitions pass (zero shuffles, no state), so it
    * applies DIRECTLY to the streaming frame; batch-identical by
    * construction. */
  def winnowDigest(docs: DataFrame, id: String, text: String): DataFrame =
    graft.text.TextOps.winnowFingerprints(docs, id, text)

  /** Streaming b09 twin — WordPiece greedy encode is a stateless
    * mapPartitions pass over the broadcast piece set; batch-identical
    * by construction. */
  def wordPieceEncode(docs: DataFrame, text: String,
                      pieces: Seq[graft.text.WordPiece.Piece]): DataFrame =
    graft.text.WordPiece.encode(docs, text, pieces)

  /** Streaming t30 twin — same-script language ID scores each doc
    * locally ([[graft.text.TextOps.langIdTrigramFast]]: one stateless
    * mapPartitions pass, zero shuffles), so it applies DIRECTLY to
    * the streaming frame; agreement with the batch explode+agg shape
    * is spec-pinned. */
  def langIdTrigram(docs: DataFrame, id: String, text: String): DataFrame =
    graft.text.TextOps.langIdTrigramFast(docs, id, text)

  /** Streaming t29/t29b twin — NFC/NFKC normalization is a stateless
    * per-row mapPartitions pass, so it applies DIRECTLY to the
    * streaming frame; batch-identical by construction. */
  def nfcNormalize(docs: DataFrame, id: String, text: String,
                   form: String = "NFC"): DataFrame =
    graft.text.TextOps.nfcNormalizeFrame(docs, id, text, form)

  /** Streaming t25 twin — repeated-line removal of ARRIVING docs
    * against a FROZEN boilerplate-line frame
    * ([[graft.text.TextOps.boilerplateLines]], built once over the
    * reference corpus and persisted by the caller): each micro-batch
    * runs the exact batch keep path
    * ([[graft.text.TextOps.removeLines]] — line-keyed anti-join +
    * per-doc reassembly). A doc's lines all arrive in its own row, so
    * the output is a per-doc function of (doc, frozen frame) —
    * micro-batch boundaries cannot change any result and the stream
    * carries ZERO state (the t21-twin stream-static shape). */
  def dedupLinesAgainst(refLines: DataFrame, docs: DataFrame,
                        id: String, text: String)
                       (sink: DataFrame => Unit): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      sink(graft.text.TextOps.removeLines(refLines, batch, id, text))
    }

  /** Streaming m04 twin — image near-dup of ARRIVING media against a
    * FROZEN hash corpus ([[graft.mm.Multimodal.imageAHash]] over the
    * reference corpus, persisted by the caller): each micro-batch's
    * images are hashed (real decode, partition-local) and band-joined
    * against the static reference bands — "is this incoming image a
    * near-dup of anything already ingested". Pairs are emitted as
    * (id_a = reference id, id_b = arriving id, hamming); a hash is a
    * per-row function and the reference frame is static, so
    * micro-batch boundaries cannot change any pair and the stream
    * carries ZERO state. Within-batch pairs are NOT emitted (the
    * reference corpus is the dedup authority — ingest order decides
    * when an arriving image becomes reference, exactly the s05/t20
    * ingest contract). */
  def imageNearDupAgainst(refHashes: DataFrame, media: DataFrame,
                          maxHamming: Int = 6)
                         (sink: DataFrame => Unit): DataStreamWriter[Row] =
    media.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val s = batch.sparkSession
      import s.implicits._
      val bh = graft.mm.Multimodal.imageAHash(batch.as[graft.mm.MediaRow])
      val rb = (0 to 3).map(b => refHashes.select(
          col("media_id").as("id_a"), lit(b).as("band"),
          col(s"b$b").as("bv"), col("b0").as("a0"), col("b1").as("a1"),
          col("b2").as("a2"), col("b3").as("a3")))
        .reduce(_ unionByName _)
      val nb = (0 to 3).map(b => bh.select(
          col("media_id").as("id_b"), lit(b).as("band"),
          col(s"b$b").as("bv"), col("b0").as("c0"), col("b1").as("c1"),
          col("b2").as("c2"), col("b3").as("c3")))
        .reduce(_ unionByName _)
      sink(rb.join(nb, Seq("band", "bv"))
        .select(col("id_a"), col("id_b"),
          (bit_count(col("a0").bitwiseXOR(col("c0"))) +
            bit_count(col("a1").bitwiseXOR(col("c1"))) +
            bit_count(col("a2").bitwiseXOR(col("c2"))) +
            bit_count(col("a3").bitwiseXOR(col("c3")))).cast("int")
            .as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming))
    }

  /** Streaming m07b twin — arriving VIDEOS frame-hashed (real AVI
    * demux, per batch) and band-joined at FRAME granularity against a
    * FROZEN reference frame-hash frame ([[graft.mm.Multimodal
    * .videoFrameHashes]], built once over the ingested corpus): "is
    * this incoming video a re-encode of anything ingested" — the
    * near-miss question m07's exact-hash ingest twin cannot answer.
    * Emits (id_a = reference video, id_b = arriving video, n_matched)
    * per batch; zero state, within-batch pairs deliberately not
    * emitted (the ingest contract). `maxKeyDf` caps ubiquitous-frame
    * band keys on the REFERENCE side exactly like the batch op. */
  def videoNearDupFuzzyAgainst(refFrameHashes: DataFrame,
                               media: DataFrame,
                               maxHamming: Int = 6,
                               minShared: Long = 1L,
                               maxKeyDf: Long = 0L)
                              (sink: DataFrame => Unit)
      : DataStreamWriter[Row] = {
    // reference banding (and its hot-key cap) computed ONCE, outside
    // the per-batch closure
    val rb0 = (0 to 3).map(b => refFrameHashes.select(
        col("media_id").as("id_a"), col("frame_idx").as("fa"),
        lit(b).as("band"), col(s"b$b").as("bv"),
        col("b0").as("a0"), col("b1").as("a1"), col("b2").as("a2"),
        col("b3").as("a3")))
      .reduce(_ unionByName _)
    val rb = (if (maxKeyDf > 0L) {
      val hot = rb0.groupBy(col("band"), col("bv"))
        .agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxKeyDf).drop("_df")
      rb0.join(broadcast(hot), Seq("band", "bv"), "left_anti")
    } else rb0).localCheckpoint()
    media.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val s = batch.sparkSession
      import s.implicits._
      val bh = graft.mm.Multimodal.videoFrameHashes(
        batch.as[graft.mm.MediaRow])
      val nb = (0 to 3).map(b => bh
          .select(col("media_id").as("id_b"), col("frame_idx").as("fb"),
            lit(b).as("band"), col(s"b$b").as("bv"),
            col("b0").as("c0"), col("b1").as("c1"), col("b2").as("c2"),
            col("b3").as("c3")))
        .reduce(_ unionByName _)
      sink(rb.join(nb, Seq("band", "bv"))
        .filter(bit_count(col("a0").bitwiseXOR(col("c0"))) +
          bit_count(col("a1").bitwiseXOR(col("c1"))) +
          bit_count(col("a2").bitwiseXOR(col("c2"))) +
          bit_count(col("a3").bitwiseXOR(col("c3"))) <= maxHamming)
        .select(col("id_a"), col("id_b"), col("fa"), col("fb"))
        .distinct()
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_matched"))
        .filter(col("n_matched") >= minShared))
    }
  }

  /** Streaming b02 twin — BPE encoding of a document stream with a
    * FROZEN merge table ([[graft.text.Bpe.trainBatched]], run once
    * offline — the tokenizer is versioned model state, never retrained
    * mid-stream): [[graft.text.Bpe.encodeFast]] / `sp = true`
    * [[graft.text.Bpe.encodeSp]] are one stateless per-row
    * mapPartitions over a broadcast merge table, no shuffle, so they
    * apply DIRECTLY to the streaming frame — no foreachBatch, no
    * state, batch-identical by construction. */
  def bpeEncodeFast(docs: DataFrame, text: String,
                    merges: Seq[graft.text.Bpe.Merge],
                    sp: Boolean = false): DataFrame =
    if (sp) graft.text.Bpe.encodeSp(docs, text, merges)
    else graft.text.Bpe.encodeFast(docs, text, merges)

  /** Streaming b07 twin — byte-fallback encode on a document stream:
    * the same stateless mapPartitions over a broadcast merge table,
    * so it applies DIRECTLY to the streaming frame and is
    * batch-identical by construction (serving shape: tokenize ingest
    * with a FROZEN byte-level tokenizer, zero OOV on any input). */
  def bpeEncodeBytes(docs: DataFrame, text: String,
                     merges: Seq[graft.text.Bpe.Merge]): DataFrame =
    graft.text.Bpe.encodeBytes(docs, text, merges)

  /** Streaming a16 twin — URL canonicalization on a document stream:
    * [[graft.text.UrlOps.urlNormalize]] is one pure per-row expression
    * chain, so it applies DIRECTLY to the streaming frame — no
    * foreachBatch, no state, batch-identical by construction. Feeds
    * the same downstream key the batch `--dedup_by_url` uses (the
    * streaming INGEST dedup then anti-joins the canonical key against
    * the frozen seen-register exactly like the a12/s05 ingest
    * contract). */
  def urlNormalize(docs: DataFrame, url: String): DataFrame =
    docs.withColumn("url_norm",
      graft.text.UrlOps.urlNormalize(col(url)))

  /** Streaming a14 twin — URL blocklist gate on a document stream: a
    * pure per-row filter ([[graft.text.UrlOps.domainGate]] is one
    * regex + literal suffix matches), so it applies DIRECTLY to the
    * streaming frame — no foreachBatch, no state, batch-identical by
    * construction. Returned as a transformed stream for composition
    * with downstream stages. */
  def domainGate(docs: DataFrame, url: String,
                 blocklist: Seq[String]): DataFrame =
    graft.text.UrlOps.domainGate(docs, url, blocklist)

  /** Streaming t20 INGEST twin — the retrieval-index half of the s05
    * lifecycle pairing ([[ivfPqIndexIngest]] is the ANN half): append
    * each micro-batch of documents to a persisted
    * [[graft.text.TextOps.writeBm25Index]] index via
    * [[graft.text.TextOps.appendBm25Index]] — postings files land
    * inside the existing `tb=` bucket dirs and the corpus stats update
    * as EXACT integers (n_docs/total_tokens are pure totals), so
    * append-equals-rebuild holds across arbitrary micro-batch
    * boundaries and a concurrent [[bm25Serve]]/`bm25TopKIndexed`
    * reader sees each batch as soon as its files commit. CONTRACT
    * (the batch op's): arriving doc ids must be disjoint from the
    * indexed ones — postings carry no per-doc versioning; the curate
    * seen-register is the enforcement mechanism upstream. Build the
    * index offline first; ZERO streaming state, the index IS the
    * sink. */
  def bm25IndexIngest(docs: DataFrame, indexPath: String, id: String,
                      text: String, nBuckets: Int = 64)
                     : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.text.TextOps.appendBm25Index(batch, id, text, indexPath,
        nBuckets)
    }

  /** Streaming a12 twin — shuffled-shard INGEST: each arriving doc is
    * hash-assigned its shard exactly like the batch op (pure map-side,
    * identical to [[graft.core.ScaleOps.shardShuffle]]), and takes the
    * next position in that shard via ONE long of GroupState per shard.
    * Arrival order is semantic for `pos` (the [[StreamingPack]]
    * contract: a stream cannot know the batch op's global (hash, id)
    * rank without unbounded state), so the batch-agreement contract is:
    * identical shard ASSIGNMENT, dense 1..n positions per shard, and
    * identical per-shard counts. Within a micro-batch, rows are
    * position-ordered by (hash, id) — so a single-batch stream equals
    * the batch op exactly. */
  def shardIngest(docs: DataFrame, id: String, salt: Int,
                  nShards: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val h = graft.text.Dedup.h64(col(id).cast("string"), salt)
    docs.select(col(id).cast("long").as("_id"), h.as("_h"),
        pmod(h, lit(nShards.toLong)).cast("int").as("_s"))
      .as[(Long, Long, Int)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Long, (Long, Int, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[(Long, Long, Int)],
         state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = rows.toIndexedSeq.sortBy { case (i, hh, _) => (hh, i) }
            .map { case (docId, _, _) => n += 1; (docId, shard, n) }
          state.update(n)
          out.iterator
      }
      .toDF(id, "shard", "pos")
  }

  def documentsStream(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame =
    StreamingPack.documentsStream(spark, dir)
}
