package graft.tools

import org.apache.spark.sql.functions._

/** Build-time 10× scale experiment for the per-series families
  * (VERDICT r05 #7): replicates the sf0.1 events table `factor`× with
  * disjoint user_id ranges (series count scales, per-series length —
  * the capped dimension — stays fixed, exactly the many-series 100 TB
  * shape), then times every per-series query at sf0.1 and at the
  * replicated scale. Near-linear wall growth validates the one-
  * keyed-shuffle plans; a superlinear query is a plan bug. Results →
  * stdout table + BENCH_SF1.json (gen_docs.py folds it into
  * BENCH_NOTES.md).
  *
  * Run: sbt "runMain graft.tools.ScaleBench /root/testdata/sf0.1 10"
  *
  * A second family, `docs`, scales the documents/embeddings corpus the
  * same way for the dedup / text / ANN / multimodal queries: documents
  * replicate with disjoint doc_id ranges and a per-copy alphabet
  * rotation of the text (a bijection on letters, so within-copy
  * shingle/Jaccard/dup structure is preserved exactly while cross-copy
  * shingles are disjoint — pair candidates grow linearly with corpus
  * size, never quadratically); embeddings replicate with disjoint
  * vec_id ranges against the FIXED query set (vec_id < 5), the
  * growing-corpus/fixed-queries ANN shape. Results → BENCH_SF1_DOCS.json.
  *
  * Run: sbt "runMain graft.tools.ScaleBench /root/testdata/sf0.1 10 /tmp/graft_scale docs"
  */
object ScaleBench {

  val PerSeriesQueries: Seq[String] = Seq(
    "c01b_spectral_per_user", "c05_adf_per_user",
    "g01b_block_chain_per_user", "g02b_grasynda_fit_per_user",
    "g02wb_grasynda_walk_per_user", "g03b_regime_segments_per_user",
    "g04b_regime_features_per_user", "g04tb_hmm_em_step_per_user",
    "g04wb_conditional_walk_per_user", "g05b_regime_garch_per_user",
    "g05wb_garch_walk_per_user", "o01b_sweep_fitness_per_user",
    "q16b_hurst_per_user", "q29b_garch_grid_per_user",
    "q30b_dist_per_user", "q31b_composite_per_user",
    "q31c_composite_full_per_user",
    "c03_ljung_box", "w15_seasonal_decompose", "c04_jarque_bera",
    "c06_runs_test", "c07_welch_drift", "a18_hll_distinct",
    "q34_funnel", "q35_retention", "q36_concentration", "p03_hits",
    "c08_cusum", "w16_ewma", "c09_mann_kendall", "c10_kpss",
    "c11_arch_lb", "c12_pettitt", "c13_anderson_darling",
    "c14_rank_sum_drift", "c15_decomp_strength", "c16_cvm_drift",
    "q37_event_transitions", "q38_session_paths",
    "q39_activity_cadence", "q40_active_ratios", "q41_return_time",
    "q42_funnel_timing", "q43_session_stats",
    // a20's rank windows are single-partition BY DESIGN (the sample
    // is p-bounded to one task; the full side is the gate witness) —
    // expect ~linear-in-events wall on one core, not a plan bug
    "a20_hash_quantiles",
    // bucketed range join: series replication grows points AND
    // intervals linearly; the bucketed equi-join should scale with
    // output size, never quadratically
    "a05_range_join")

  /** Third axis: series LENGTH. Each copy shifts ts by i·(span+1h) at
    * the SAME user_id, so series count is fixed and every series gets
    * `factor`× the rows — the dimension the per-series fit-prefix caps
    * and the FFT/ADF/Hurst full-length paths are sensitive to. A flat
    * ratio here means a cap binds (bounded-straggler by design, the
    * ScaleOpsSpec skew contract); a ~linear ratio means the query does
    * full-length work with the right asymptotic. */
  val LengthQueries: Seq[String] = Seq(
    "c01b_spectral_per_user", "c05_adf_per_user", "q16b_hurst_per_user",
    "g02b_grasynda_fit_per_user", "g03b_regime_segments_per_user",
    "g04b_regime_features_per_user", "g04tb_hmm_em_step_per_user",
    "g05b_regime_garch_per_user", "q29b_garch_grid_per_user",
    "q30b_dist_per_user", "q31b_composite_per_user",
    "c03_ljung_box", "w15_seasonal_decompose", "c04_jarque_bera",
    "c06_runs_test", "c07_welch_drift",
    // c09 is the axis's honest quadratic: the exact pairwise MK
    // statistic is O(n²) per series BY DEFINITION (expected ratio
    // ≈ factor², not factor, until the maxN=2048 prefix cap binds
    // and flattens it — the documented production guard)
    "c08_cusum", "w16_ewma", "c09_mann_kendall", "c10_kpss",
    // c12's rank/tie/cumsum windows, c13's sorted-rank window and
    // c16's pooled/own-half ranks are all series-keyed: expect
    // ~n·log n in series length
    "c11_arch_lb", "c12_pettitt", "c13_anderson_darling",
    "c14_rank_sum_drift", "c15_decomp_strength", "c16_cvm_drift",
    // a20's rank windows are single-partition BY DESIGN (the sample
    // is p-bounded to one task; the full side is the gate witness) —
    // expect ~linear-in-events wall on one core, not a plan bug
    "a20_hash_quantiles")

  /** Fourth axis: embedding DIMENSION. Production LLM embeddings are
    * 768–4096-dim where the fixture is 64 — the ANN family's cost is
    * dim-linear in encode/assign/exact-verify but m-linear (not
    * dim-linear) in the PQ ADC scan, and this axis measures exactly
    * that split. The scaled table tiles each vector `factor`× with
    * per-tile seeded SIGN FLIPS (exact in floating point: every
    * product s_j·x_j · s_j·y_j = x_j·y_j bit-for-bit, so per-tile dots
    * equal the base dot and every cosine / IVF assignment / PQ code is
    * preserved — the scaled run must return the SAME neighbors, making
    * the cell self-checking) while cross-tile structure decorrelates.
    * Sign flips are diagonal, so subspace boundaries survive and the
    * dim-64 codebooks tile to the scaled dim by the same signs
    * ([[tileIvf]]/[[tilePq]], spec-pinned in DedupSimSpec). */
  val DimQueries: Seq[String] = Seq(
    "q23_ann_topk", "s01_lsh_ann")

  /** Per-tile sign vector; tile 0 is the identity. Shared by the
    * fixture build and the codebook tiling so they stay consistent. */
  def dimSigns(dim: Int, tile: Int): Array[Double] =
    if (tile == 0) Array.fill(dim)(1.0)
    else {
      val r = new scala.util.Random(3000L + tile)
      Array.fill(dim)(if (r.nextBoolean()) 1.0 else -1.0)
    }

  /** IVF centroids tiled to `factor`× the dim by the fixture's signs:
    * ‖tiled(v) − tiled(c)‖² = factor·‖v−c‖², so assignment and probe
    * order are unchanged. */
  def tileIvf(cents: Array[Array[Double]], factor: Int): Array[Array[Double]] =
    cents.map { c =>
      val dim = c.length
      Array.tabulate(factor * dim) { jj =>
        val s = dimSigns(dim, jj / dim)
        c(jj % dim) * s(jj % dim)
      }
    }

  /** PQ codebook tiled to factor·m subspaces: subspace (t·m + mi) is
    * codebook(mi) under tile t's sign slice — per-subspace quantization
    * distances are preserved exactly, so codes tile-replicate and the
    * ADC ranking matches the base dim. */
  def tilePq(cb: Array[Array[Array[Double]]],
             factor: Int): Array[Array[Array[Double]]] = {
    val m = cb.length
    val sub = cb(0)(0).length
    val dim = m * sub
    Array.tabulate(factor * m) { mm =>
      val s = dimSigns(dim, mm / m)
      val mi = mm % m
      cb(mi).map(cent =>
        Array.tabulate(sub)(j => cent(j) * s(mi * sub + j)))
    }
  }

  val DocQueries: Seq[String] = Seq(
    "q17_dedup_exact", "q19_token_stats", "q20_lang_id",
    "q21_jaccard_neardup", "q22_doc_fingerprint",
    "t01_decontaminate", "t02_repetition",
    "t03_pii_redact", "t04_chunk", "t05_tfidf_topk",
    "t06_bloom_decontaminate", "t07_bpe_tokens", "t08_lm_score",
    "t09_pack_sequences", "t10_importance_weights", "t11_quality_classifier",
    "t12_perplexity_buckets", "t13_token_budget_mixture",
    "t14_gopher_rules", "t15_contamination_report", "t16_hash_embed",
    "d05_span_dedup", "d06_fuzzy_span_dedup",
    "a08_mixture_sample", "a09_sample_exact_n", "a06_heavy_hitters",
    "d01_minhash_lsh", "d02_simhash_pairs", "d03_dedup_clusters",
    "d07_dedup_keep_best", "d08_semantic_dedup",
    "d04_embed_dedup_clusters", "a07_sample_per_key",
    "m01_multimodal_decode", "m02_multimodal_features",
    "q23_ann_topk", "q24_embed_neardup_blocked",
    "s01_lsh_ann", "s02_ivf_ann", "s03_pq_ann", "s04_ivfpq_ann",
    "s05_ivfpq_indexed", "t17_topic_assign", "a10_topic_mixture",
    "t18_corpus_report", "t19_bm25_topk", "t21_dup_ratio",
    "k01_kmeans_fit", "a11_temperature_mixture", "a12_shard_shuffle",
    "t22_token_spectrum", "k02_cluster_quality", "p01_pagerank",
    "a13_weighted_sample", "t20_bm25_indexed", "a17_curriculum_order", "a17b_curriculum_by",
    "d09_substring_dedup", "d09c_substring_cut",
    "t19b_bm25_topk_by", "t21b_dup_ratio_by", "a14_domain_rollup",
    "k01d_kmeans_farthest", "t23_substring_contamination",
    "d09f_substring_fuzzy", "t24_line_filter", "t25_line_dedup",
    "b01_bpe_train", "b02_bpe_encode", "b03_bpe_ids", "b04_bpe_coverage",
    "m03_image_ahash", "m04_image_neardup", "m05_audio_ahash",
    "m06_frame_hashes", "m07_video_neardup", "t25b_line_dedup_by",
    "a16_url_normalize",
    "b01p_bpe_train_batched", "b02p_bpe_encode_fast",
    "b05_bpe_sentencepiece", "a14b_domain_rollup_psl",
    "m04b_image_neardup_by", "m07b_video_neardup_fuzzy",
    "t26_langid_script", "t27_cjk_segment", "t28_html_strip",
    "t29_nfc_normalize",
    "b07_bpe_byte_fallback", "t09b_pack_token_ids",
    "t30_langid_trigram", "t29b_nfkc_normalize",
    "b08_unigram_viterbi", "t31_zipf_fit",
    "t32_char_entropy", "b09_wordpiece", "d10_prefix_join",
    "t33_heaps_fit", "k03_silhouette",
    "t34_winnowing", "t35_readability", "t36_ngram_overlap",
    "a19_countmin", "b10_fertility", "m08_image_dhash", "m09_audio_energy", "p04_token_triangles",
    "t37_winnow_decontaminate")

  /** Fifth axis: document LENGTH. Real corpora span 100× in
    * tokens-per-doc (tweets vs books); this axis holds the doc COUNT
    * fixed and makes every doc `factor`× longer — each doc's text
    * becomes the concatenation of `factor` alphabet-rotated copies
    * (rotation is a bijection, so within-copy token/shingle structure
    * is preserved while cross-copy shingles stay distinct — the
    * repetition/dup scores don't degenerate the way naive text
    * repetition would). The token-linear text ops (stats, chunking,
    * packing, LM scoring, span frames) should all ride ~linearly; a
    * superlinear cell is a per-doc materialization bug. */
  val DocLenQueries: Seq[String] = Seq(
    "q19_token_stats", "q22_doc_fingerprint", "t02_repetition",
    "t03_pii_redact", "t04_chunk", "t05_tfidf_topk", "t07_bpe_tokens",
    "t08_lm_score", "t09_pack_sequences", "t13_token_budget_mixture",
    "t14_gopher_rules", "t16_hash_embed", "d05_span_dedup",
    "d06_fuzzy_span_dedup", "t19_bm25_topk", "t21_dup_ratio",
    "d09_substring_dedup", "d09c_substring_cut",
    "t23_substring_contamination", "t24_line_filter", "t25_line_dedup",
    "b01_bpe_train", "b02_bpe_encode", "b03_bpe_ids", "b04_bpe_coverage",
    "m03_image_ahash", "m04_image_neardup", "m05_audio_ahash",
    "m06_frame_hashes", "m07_video_neardup", "t25b_line_dedup_by",
    "b01p_bpe_train_batched", "b02p_bpe_encode_fast",
    "b05_bpe_sentencepiece", "m04b_image_neardup_by",
    "m07b_video_neardup_fuzzy", "t28_html_strip",
    // t30 is NOT here: its fixture replaces the doc text with fixed
    // rotated sample sentences, so the length axis never reaches it
    "b07_bpe_byte_fallback", "t09b_pack_token_ids",
    "t29b_nfkc_normalize", "b08_unigram_viterbi", "t31_zipf_fit",
    "t32_char_entropy", "b09_wordpiece", "d10_prefix_join",
    "t33_heaps_fit", "t34_winnowing", "t35_readability",
    "t36_ngram_overlap", "a19_countmin", "b10_fertility",
    "m08_image_dhash", "m09_audio_energy", "t37_winnow_decontaminate")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val out = if (args.length > 2) args(2) else "/tmp/graft_scale"
    val family = if (args.length > 3) args(3) else "series"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.localSession(cpus.toInt)

    if (family == "docs" || family == "curate") {
      // corpus replication: disjoint doc_id ranges + per-copy letter
      // rotation (copy 0 is the identity). translate is a bijection on
      // the alphabet, so every within-copy shingle set / Jaccard /
      // exact-dup group is preserved; cross-copy shingles land in
      // different LSH buckets, so candidate pairs grow linearly.
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val upper = lower.toUpperCase
      val d = graft.core.Tables.documents(spark, src)
      val nDocs = d.agg(max(col("doc_id"))).first().getLong(0) + 1
      // curate family: the rotation must PRESERVE the stopword lists,
      // or the chain's Gopher/stopword gates correctly kill every
      // non-identity copy and the back half of the pipeline (mixture,
      // budget, chunking, packing) never sees the scaled corpus — the
      // cell would measure dedup alone. Token-level rotation keeps
      // stop tokens verbatim; 5 consecutive preserved stopwords are
      // needed for a single cross-copy shingle collision, far below
      // any dedup threshold, so pair growth stays linear like the
      // plain docs family.
      val preserved = (graft.text.TextOps.GopherStops ++
        graft.text.TextOps.EnglishStop).distinct
      // SPARK_GRAFT_PERMUTE switches the per-copy bijection from the
      // 26-letter ROTATION (wraps at factor > 26: copies i and i+26
      // are byte-identical corpora with disjoint ids, so every doc
      // gains a true exact twin whose pairs a LOSSLESS join must
      // verify — the d10 factor-30 artifact, kept as the documented
      // exact-twin stress case) to a seeded random PERMUTATION of the
      // alphabet (26! variants — no wrap at any factor, same
      // bijection guarantees: within-copy shingle/Jaccard/dup
      // structure preserved exactly, cross-copy shingles disjoint)
      val permute = sys.env.contains("SPARK_GRAFT_PERMUTE")
      (0 until factor).map { i =>
        val sh = i % 26
        val rot =
          if (permute && i > 0) {
            val p = new scala.util.Random(7700L + i)
              .shuffle(lower.toList).mkString
            p + p.toUpperCase
          } else lower.drop(sh) + lower.take(sh) +
            upper.drop(sh) + upper.take(sh)
        val rotText =
          if (family == "curate")
            array_join(transform(split(col("text"), " "),
              t => when(t.isin(preserved: _*), t)
                .otherwise(translate(t, lower + upper, rot))), " ")
          else translate(col("text"), lower + upper, rot)
        d.withColumn("doc_id", col("doc_id") + lit(i * nDocs))
          .withColumn("text", rotText)
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      // growing corpus, fixed query set: the ANN queries probe vec_id<5,
      // which stays in the identity copy 0, so only the searched side
      // scales. Each further copy gets a per-copy ORTHOGONAL transform
      // (coordinate rotation + seeded sign flips — exact on floats):
      // within-copy dot products, and with them every cosine/near-dup
      // relation, are preserved exactly, while cross-copy vectors
      // decorrelate — without this, identical copies give every vector
      // factor−1 cosine-1.0 twins and the TRUE pair set (and the ANN
      // top-k) grows quadratically by fixture artifact rather than by
      // plan behavior.
      if (family == "docs") {
        val v = graft.core.Tables.embeddings(spark, src)
        val nVecs = v.agg(max(col("vec_id"))).first().getLong(0) + 1
        val dim = v.select(size(col("embedding"))).first().getInt(0)
        (0 until factor).map { i =>
          val shifted = v.withColumn("vec_id", col("vec_id") + lit(i * nVecs))
          if (i == 0) shifted
          else {
            val signs = {
              val r = new scala.util.Random(1000L + i)
              Array.fill(dim)(if (r.nextBoolean()) 1.0f else -1.0f)
            }
            shifted.withColumn("embedding",
              array((0 until dim).map { j =>
                (element_at(col("embedding"), ((j + i) % dim) + 1) *
                  lit(signs(j))).cast("float")
              }: _*))
          }
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      }
    } else if (family == "dim") {
      // dimension tiling: same vec count, dim × factor. Tile 0 is the
      // original vector; tile t is a per-tile seeded sign flip (exact
      // in fp, see DimQueries doc). zip_with keeps the projection two
      // expressions per tile instead of dim expressions per element.
      val v = graft.core.Tables.embeddings(spark, src)
      val dim = v.select(size(col("embedding"))).first().getInt(0)
      val tiles = (0 until factor).map { t =>
        if (t == 0) col("embedding")
        else {
          val s = array(dimSigns(dim, t).map(x => lit(x.toFloat)): _*)
          zip_with(col("embedding"), s, (a, b) => (a * b).cast("float"))
        }
      }
      v.withColumn("embedding", flatten(array(tiles: _*)))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    } else if (family == "doclen") {
      // document-length scaling: same doc ids, text = factor
      // alphabet-rotated copies concatenated (see DocLenQueries doc)
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val upper = lower.toUpperCase
      val d = graft.core.Tables.documents(spark, src)
      val copies = (0 until factor).map { i =>
        val sh = i % 26
        val rot = lower.drop(sh) + lower.take(sh) +
          upper.drop(sh) + upper.take(sh)
        translate(col("text"), lower + upper, rot)
      }
      d.withColumn("text", concat_ws(" ", copies: _*))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    } else if (family == "length") {
      // series-length replication: same user_id, ts shifted by a full
      // span+1h per copy (disjoint time ranges, order preserved),
      // event_id kept unique — every series is factor× longer
      val e = graft.core.Tables.events(spark, src)
      val r = e.agg(
        min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
        max(col("event_id"))).first()
      val spanUs = r.getLong(1) - r.getLong(0) + 3600L * 1000000L
      val nEid = r.getLong(2) + 1
      (0 until factor).map(i =>
          e.withColumn("ts",
              timestamp_micros(unix_micros(col("ts")) + lit(i * spanUs)))
            .withColumn("event_id", col("event_id") + lit(i * nEid)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    } else if (family == "bpe") {
      // merge-count axis (VERDICT r11 #1): the data is FIXED and the
      // scaled dimension is the merge-table size, base 256 vs
      // 256·factor (4096 at the default factor 16). The natural sf0.1
      // text exhausts its pair space at ~90 merges, so the fixture
      // hex-ifies every word (md5 — a large random-hex vocabulary
      // whose merge headroom is ~31·|vocab|, far past 4096) while
      // keeping the corpus shape (docs, words-per-doc) identical.
      // Near-linear train wall validates the batched election (one job
      // per conflict-free batch, not per merge); a ~flat encode ratio
      // validates the linear-scan encoder's |merges|-independence (vs
      // the replace chain's O(|merges|·len) and janino method cliff).
      // The doc_id%16 salt lifts the fixture's 31-word vocabulary to
      // ~500 distinct 32-hex-char words (~15k merge headroom).
      graft.core.Tables.documents(spark, src)
        .select(col("doc_id"),
          array_join(transform(split(col("text"), " "),
            w => md5(concat(w, lit("#"), (col("doc_id") % 16)
              .cast("string")).cast("binary"))), " ").as("text"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    } else {
      // series-count replication: each copy shifts user_id by the source
      // id range, so per-series row counts (and every per-series cap) are
      // unchanged — only the number of series grows
      val e = graft.core.Tables.events(spark, src)
      val nUsers = e.agg(max(col("user_id"))).first().getLong(0) + 1
      (0 until factor).map(i =>
          e.withColumn("user_id", col("user_id") + lit(i * nUsers)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

    // (seconds, emitted rows): the row count separates OUTPUT growth
    // from compute growth — for the pair families the output itself
    // grows superlinearly at loose thresholds, so the honest scale
    // number is seconds per emitted row, not raw wall ratio
    def timed(thunk: String => org.apache.spark.sql.DataFrame)(
        dir: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = thunk(dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      (dt, rows)
    }
    def time(name: String, dir: String): (Double, Long) =
      timed(d => graft.SparkEntry.queries(name)(spark, d))(dir)

    val gateQueries = family match {
      case "docs"   => DocQueries
      case "doclen" => DocLenQueries
      case "length" => LengthQueries
      case "dim"    => DimQueries
      case "curate" => Seq.empty
      case "bpe"    => Seq.empty
      case _        => PerSeriesQueries
    }
    // bench-only cells (no gate entry): the occupancy-scaled LSH
    // near-dup operating point — s01's gate config (nPlanes=4, 16
    // buckets/band) saturates at 10x corpus, so its ratio measures the
    // saturated-bucket anti-pattern; this cell measures the production
    // path (planesForOccupancy + bandsForRecall). threshold=0.45 sits
    // above the fixture's pair tail, isolating candidate-generation
    // cost from output size.
    // dim-family extras: the IVF/PQ paths carry literal dim-64
    // codebooks, so each cell derives the dir's dim and tiles the
    // codebook to match (factor 1 at the base dim = the exact gate
    // codebooks). The interesting read is the RATIO SPLIT: encode /
    // assign / exact-verify cells should grow ~linearly with dim while
    // the ADC scan grows with m = 8·factor only in LUT adds, and the
    // rerank (fixed overfetch·k exact dots) grows linearly but on a
    // corpus-size-independent candidate count.
    def dimExtras(): Seq[(String, String => org.apache.spark.sql.DataFrame)] = {
      def fac(d: String): Int = {
        val dm = graft.core.Tables.embeddings(spark, d)
          .select(size(col("embedding"))).first().getInt(0)
        require(dm % 64 == 0, s"dim $dm not a multiple of the codebook dim 64")
        dm / 64
      }
      Seq(
        "s02x_ivf_dim" -> ((d: String) => {
          val e = graft.core.Tables.embeddings(spark, d)
          graft.sim.Similarity.ivfTopK(e.filter(col("vec_id") < 5), e,
            "vec_id", "embedding",
            tileIvf(graft.sim.IvfCodebook.K16, fac(d)), nProbe = 4, k = 10)
        }),
        "s03x_pq_dim" -> ((d: String) => {
          val e = graft.core.Tables.embeddings(spark, d)
          graft.sim.Similarity.pqTopK(e.filter(col("vec_id") < 5), e,
            "vec_id", "embedding",
            tilePq(graft.sim.PqCodebook.M8K16, fac(d)), k = 10, overfetch = 16)
        }),
        "s04x_ivfpq_dim" -> ((d: String) => {
          val e = graft.core.Tables.embeddings(spark, d)
          graft.sim.Similarity.ivfPqTopK(e.filter(col("vec_id") < 5), e,
            "vec_id", "embedding",
            tileIvf(graft.sim.IvfCodebook.K16, fac(d)),
            tilePq(graft.sim.PqCodebook.M8K16, fac(d)),
            nProbe = 10, k = 10, overfetch = 16)
        }),
        "s01x_lsh_dimscaled" -> ((d: String) =>
          graft.sim.Similarity.lshNearDupPairsScaled(
            graft.core.Tables.embeddings(spark, d), "vec_id", "embedding",
            threshold = 0.45, targetBucket = 64, recall = 0.95, seed = 42L)),
        "q24x_banded_dimscaled" -> ((d: String) =>
          graft.sim.Similarity.bandedNearDupPairsScaled(
            graft.core.Tables.embeddings(spark, d), "vec_id", "embedding",
            "label", threshold = 0.45, targetBucket = 64, recall = 0.95,
            seed = 7L)))
    }
    // curate family: ONE cell — the full curate CLI chain (shingle
    // dedup → semantic dedup → quality gates → mixture/token-budget
    // sampling → chunk → pack → write), timed end to end including its
    // output writes, against the same alphabet-rotated doc replication
    // as the docs family. The token budget scales WITH the corpus
    // (tokens/doc is scale-invariant here, so a fixed budget would
    // shrink the downstream stages to a constant at 10× and the cell
    // would measure only the dedup front half).
    def curateExtras(): Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      "curatex_full_chain" -> ((d: String) => {
        val runOut = s"/tmp/graft_curate_cell_${System.nanoTime()}"
        val nDocs = spark.read.parquet(s"$d/documents.parquet").count()
        val mix = (0 until 20).map(i => s"src$i:0.05").mkString(",")
        graft.cli.Cli.run(spark, graft.cli.GraftConfig.defaults ++ Map(
          "mode" -> "curate",
          "input_docs" -> s"$d/documents.parquet",
          "near_threshold" -> "0.5",
          "semantic_threshold" -> "0.9",
          "gopher_min_stop" -> "1",
          "min_tokens" -> "10", "max_rep_ratio" -> "0.5",
          "mixture_target" -> mix, "source_col" -> "source",
          "token_budget" -> (nDocs * 60).toString,
          "chunk_window" -> "400", "chunk_stride" -> "300",
          "pack_budget" -> "128",
          "output" -> s"$runOut/chunks",
          "metrics_out" -> s"$runOut/metrics.json"))
        spark.read.parquet(s"$runOut/chunks")
      }),
      // v2: the round-10 stages on top — cross-doc dup gate (lenient
      // threshold: the cell measures the stage's cost, not a funnel
      // collapse), keep-best election, and in-engine topic fit+label.
      // Kept SEPARATE from the original cell so its round-over-round
      // numbers stay comparable.
      // v3: v2 + the round-11 surgical substring cut (--cut_dup_spans)
      // — measures the d09c election + reassembly inside the full chain
      // v4: v3 + in-engine tokenizer training (--train_bpe 16) and
      // tokenizer-exact chunk annotation via the artifact it just
      // wrote — measures BPE train (corpus-once + 16 vocab-frame
      // iterations) and the encode chain inside the full pipeline.
      // (The line-shaping flags are deliberately absent: the fixture
      // has no newlines, so --line_filter would empty every doc and
      // the cell would measure a funnel collapse, not the stages.)
      "curatex_full_chain_v4" -> ((d: String) => {
        val runOut = s"/tmp/graft_curate_cell4_${System.nanoTime()}"
        val nDocs = spark.read.parquet(s"$d/documents.parquet").count()
        val mix = (0 until 20).map(i => s"src$i:0.05").mkString(",")
        graft.cli.Cli.run(spark, graft.cli.GraftConfig.defaults ++ Map(
          "mode" -> "curate",
          "input_docs" -> s"$d/documents.parquet",
          "near_threshold" -> "0.5",
          "semantic_threshold" -> "0.9",
          "keep_best" -> "true",
          "cut_dup_spans" -> "30",
          "gopher_min_stop" -> "1",
          "min_tokens" -> "10", "max_rep_ratio" -> "0.5",
          "max_dup_ratio" -> "0.95",
          "mixture_target" -> mix, "source_col" -> "source",
          "token_budget" -> (nDocs * 60).toString,
          "chunk_window" -> "400", "chunk_stride" -> "300",
          "pack_budget" -> "128",
          "train_bpe" -> "16",
          "assign_topics" -> "true", "train_topics" -> "8",
          "output" -> s"$runOut/chunks",
          "metrics_out" -> s"$runOut/metrics.json"))
        // second pass consumes the artifact: tokenizer-exact counts
        val out2 = s"$runOut/chunks2"
        graft.cli.Cli.run(spark, graft.cli.GraftConfig.defaults ++ Map(
          "mode" -> "curate",
          "input_docs" -> s"$d/documents.parquet",
          "near_threshold" -> "0.5",
          "min_tokens" -> "10",
          "bpe_merges" -> s"$runOut/chunks_bpe_merges.parquet",
          "chunk_window" -> "400", "chunk_stride" -> "300",
          "output" -> out2,
          "metrics_out" -> s"$runOut/metrics2.json"))
        spark.read.parquet(out2)
      }),
      "curatex_full_chain_v3" -> ((d: String) => {
        val runOut = s"/tmp/graft_curate_cell3_${System.nanoTime()}"
        val nDocs = spark.read.parquet(s"$d/documents.parquet").count()
        val mix = (0 until 20).map(i => s"src$i:0.05").mkString(",")
        graft.cli.Cli.run(spark, graft.cli.GraftConfig.defaults ++ Map(
          "mode" -> "curate",
          "input_docs" -> s"$d/documents.parquet",
          "near_threshold" -> "0.5",
          "semantic_threshold" -> "0.9",
          "keep_best" -> "true",
          "cut_dup_spans" -> "30",
          "gopher_min_stop" -> "1",
          "min_tokens" -> "10", "max_rep_ratio" -> "0.5",
          "max_dup_ratio" -> "0.95",
          "mixture_target" -> mix, "source_col" -> "source",
          "token_budget" -> (nDocs * 60).toString,
          "chunk_window" -> "400", "chunk_stride" -> "300",
          "pack_budget" -> "128",
          "assign_topics" -> "true", "train_topics" -> "8",
          "output" -> s"$runOut/chunks",
          "metrics_out" -> s"$runOut/metrics.json"))
        spark.read.parquet(s"$runOut/chunks")
      }),
      "curatex_full_chain_v2" -> ((d: String) => {
        val runOut = s"/tmp/graft_curate_cell2_${System.nanoTime()}"
        val nDocs = spark.read.parquet(s"$d/documents.parquet").count()
        val mix = (0 until 20).map(i => s"src$i:0.05").mkString(",")
        graft.cli.Cli.run(spark, graft.cli.GraftConfig.defaults ++ Map(
          "mode" -> "curate",
          "input_docs" -> s"$d/documents.parquet",
          "near_threshold" -> "0.5",
          "semantic_threshold" -> "0.9",
          "keep_best" -> "true",
          "gopher_min_stop" -> "1",
          "min_tokens" -> "10", "max_rep_ratio" -> "0.5",
          "max_dup_ratio" -> "0.95",
          "mixture_target" -> mix, "source_col" -> "source",
          "token_budget" -> (nDocs * 60).toString,
          "chunk_window" -> "400", "chunk_stride" -> "300",
          "pack_budget" -> "128",
          "assign_topics" -> "true", "train_topics" -> "8",
          "output" -> s"$runOut/chunks",
          "metrics_out" -> s"$runOut/metrics.json"))
        spark.read.parquet(s"$runOut/chunks")
      }))
    // bpe family cells: the thunk's dir only selects the merge COUNT
    // (src ⇒ 256, scaled ⇒ 256·factor); the corpus is always src. The
    // encode cells use merge tables trained OUTSIDE the timed region
    // (lazy, computed once) so they time encoding alone.
    def bpeExtras(): Seq[(String, String => org.apache.spark.sql.DataFrame)] = {
      val nBase = 256
      def nFor(d: String) = if (d == src) nBase else nBase * factor
      def corpus() = spark.read.parquet(s"$out/documents.parquet")
        .select(col("doc_id"), col("text"))
      val tables = scala.collection.mutable.Map.empty[Int, Seq[graft.text.Bpe.Merge]]
      Seq(
        // the train cell RUNS the training (timed) and donates its
        // table to the encode cell — a 4096-merge run is minutes-long,
        // training it twice per process would blow the session budget
        "b01x_train_merges" -> ((d: String) => {
          import spark.implicits._
          val n = nFor(d)
          val m = graft.text.Bpe.trainBatched(corpus(), "text", n)
          println(s"[scale] bpe merge table: requested $n, trained ${m.size}")
          tables(n) = m
          m.map(x => (x.rank, x.merged)).toDF("rank", "merged")
        }),
        "b02x_encode_merges" -> ((d: String) =>
          // getOrElseUpdate: a SPARK_GRAFT_ONLY filter can select just
          // this cell, so train (untimed here) when b01x didn't run
          graft.text.Bpe.encodeFast(corpus(), "text",
            tables.getOrElseUpdate(nFor(d),
              graft.text.Bpe.trainBatched(corpus(), "text", nFor(d))))
            .select(col("doc_id"), col("n_tokens_bpe"))))
    }
    val extras: Seq[(String, String => org.apache.spark.sql.DataFrame)] =
      if (family == "dim") dimExtras()
      else if (family == "curate") curateExtras()
      else if (family == "bpe") bpeExtras()
      else if (family != "docs") Seq.empty
      else Seq(
        // the DEEP iterative PageRank path (the gate entry runs 2
        // rounds; production hub detection runs tens): 20 rounds with
        // the every-5 lineage truncation — the cell measures that the
        // per-round cost stays flat and the truncated plan doesn't
        // re-derive earlier rounds
        "p01x_pagerank_deep" -> ((d: String) => {
          val pairs = graft.text.Dedup.minhashLshPairs(
            graft.core.Tables.documents(spark, d), "doc_id", "text",
            k = 5, numPerm = 64, bands = 16, threshold = 0.5)
          graft.text.Dedup.pageRank(pairs, iters = 20, checkpointEvery = 5)
        }),
        "s01x_lsh_scaled" -> ((d: String) =>
          graft.sim.Similarity.lshNearDupPairsScaled(
            graft.core.Tables.embeddings(spark, d), "vec_id", "embedding",
            threshold = 0.45, targetBucket = 64, recall = 0.95, seed = 42L)),
        "q24x_banded_scaled" -> ((d: String) =>
          graft.sim.Similarity.bandedNearDupPairsScaled(
            graft.core.Tables.embeddings(spark, d), "vec_id", "embedding",
            "label", threshold = 0.45, targetBucket = 64, recall = 0.95,
            seed = 7L)),
        // d04's production operating point: the gate entry's fixed
        // bandPlanes(64, 3, 4) saturates its 16 buckets per (label,
        // band) as the corpus grows (the s01/q24 small-corpus-config
        // regime — candidate pairs go ~O(n²) past ~10x), so the scale
        // path derives planes/bands from occupancy+recall and feeds
        // the SAME connected-components clustering
        "d04x_embed_cluster_scaled" -> ((d: String) => {
          val pairs = graft.sim.Similarity.bandedNearDupPairsScaled(
            graft.core.Tables.embeddings(spark, d), "vec_id", "embedding",
            "label", threshold = 0.3, targetBucket = 64, recall = 0.95,
            seed = 7L)
          graft.text.Dedup.connectedComponents(pairs)
            .select(col("id").as("vec_id"), col("cluster").as("cluster_id"),
              (col("id") === col("cluster")).as("keep"))
        }))
    val jsonOutFull = family match {
      case "docs"   => "BENCH_SF1_DOCS.json"
      case "doclen" => "BENCH_SF1_DOCLEN.json"
      case "length" => "BENCH_SF1_LEN.json"
      case "dim"    => "BENCH_SF1_DIM.json"
      case "curate" => "BENCH_SF1_CURATE.json"
      case "bpe"    => "BENCH_SF1_BPE.json"
      case _        => "BENCH_SF1.json"
    }
    // a SPARK_GRAFT_ONLY subset must never clobber the committed
    // full-family record
    val jsonOut = if (sys.env.contains("SPARK_GRAFT_ONLY"))
      s"/tmp/scale_subset_$family.json" else jsonOutFull

    // optional comma-separated substring filter (builder-side profiling
    // of a single new op's scale cell — same contract as Bench)
    val onlyCells = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    def wanted(n: String) = onlyCells.forall(_.exists(n.contains))

    // warm-up (JIT + codegen + scan) outside the timed cells
    gateQueries.filter(wanted).headOption.foreach(time(_, src))

    val cells: Seq[(String, String => (Double, Long))] =
      gateQueries.filter(wanted)
        .map(q => q -> ((d: String) => time(q, d))) ++
        extras.filter { case (n, _) => wanted(n) }
          .map { case (n, th) => n -> ((d: String) => timed(th)(d)) }
    // bpe cells run ONCE per dir (a 4096-merge training is minutes;
    // min-of-two would double a wall that is job-count-dominated, not
    // noise-dominated); everything else keeps the min-of-two contract
    def timedBest(run: String => (Double, Long), d: String): (Double, Long) =
      if (family == "bpe") run(d)
      else Seq(run(d), run(d)).minBy(_._1)
    val rows = cells.map { case (q, run) =>
      val (base, baseRows) = timedBest(run, src)
      val (scaled, scaledRows) = timedBest(run, out)
      val ratio = scaled / base
      // seconds-per-emitted-row ratio: wall growth normalized by output
      // growth — ~1 means the compute is linear in what it must emit
      val workRatio =
        if (baseRows > 0 && scaledRows > 0)
          (scaled / scaledRows) / (base / baseRows)
        else ratio
      println(f"[scale] $q%-34s sf0.1=$base%6.2fs ($baseRows%d rows) x$factor=$scaled%7.2fs ($scaledRows%d rows) ratio=$ratio%5.2f work=$workRatio%5.2f")
      (q, base, scaled, ratio, baseRows, scaledRows, workRatio)
    }
    val json = rows.map { case (q, b, s, r, br, sr, wr) =>
      s""""$q":{"base_sec":$b,"scaled_sec":$s,"ratio":$r,"base_rows":$br,"scaled_rows":$sr,"work_ratio":$wr}"""
    }.mkString(s"""{"factor":$factor,"family":"$family","queries":{""", ",", "}}")
    java.nio.file.Files.write(java.nio.file.Paths.get(jsonOut),
      (json + "\n").getBytes("UTF-8"))
    println(s"[scale] wrote $jsonOut (factor $factor, family $family)")
    spark.stop()
  }
}
