package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, quality scoring, language ID, shingling, document
  * fingerprinting. All pure `functions._` column pipelines (codegen'd,
  * no UDFs) so they hold up on 100 TB of documents: the only shuffles
  * are the final per-doc aggregations, all map-side combinable.
  */
object TextOps {

  /** Small fixed stopword list used by quality scoring + language ID.
    * Kept tiny and literal so the DuckDB oracle can embed the same list. */
  val EnglishStop: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  /** Language marker words (n-gram-heuristic language ID reduced to its
    * robust core: function-word hit counting). */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "zh" -> Seq("de", "shi", "le", "zhong"))

  /** Explode a text column into (.. , pos, token) rows; single-space
    * tokenization (the corpus is space-separated), empties dropped.
    * posexplode keeps the 0-based token position for shingling. */
  def tokens(df: DataFrame, text: String): DataFrame =
    df.select(col("*"), posexplode(split(col(text), " ")).as(Seq("pos", "token")))
      .filter(col("token") =!= "")

  /** Per-document token statistics + a deterministic quality score.
    * Components follow the reference's quality-metric style (ratios of
    * simple counts): token count, mean token length, stopword ratio,
    * type-token ratio; score = stop_ratio * 0.5 + ttr * 0.5.
    */
  def tokenStats(df: DataFrame, id: String, text: String): DataFrame =
    tokens(df, text)
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_tokens"),
        avg(length(col("token")).cast("double")).as("avg_token_len"),
        (sum(when(col("token").isin(EnglishStop: _*), 1).otherwise(0)).cast("double")
          / count(lit(1))).as("stop_ratio"),
        (countDistinct(col("token")).cast("double") / count(lit(1))).as("ttr"))
      .withColumn("quality_score", col("stop_ratio") * 0.5 + col("ttr") * 0.5)

  /** Gopher's stopword-presence list (Rae et al. 2021, A1.1): a doc
    * must contain at least `minStopwords` of these to look like prose. */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style rule filter (beyond reference, t14): the standard
    * RULE-based quality gate of LLM pipelines (Gopher A1.1 /
    * Dolma / RefinedWeb), complementing the heuristic score (q19), the
    * LM gate (t08) and the learned gate (t11). Per doc: word count in
    * [minTokens, maxTokens], mean word length in [minWordLen,
    * maxWordLen], fraction of words with an alphabetic character ≥
    * minAlphaRatio, symbol-word ratio ≤ maxSymbolRatio, and ≥
    * minStopwords distinct [[GopherStops]] present; `keep` = all pass.
    * Thresholds are parameters because every production pipeline tunes
    * them per corpus. Ratios are r6-rounded for oracle parity.
    *
    * Scale shape: ONE map-side-combinable agg keyed on the doc id —
    * stopword presence is a Σ of per-word max-flags, not a distinct
    * agg, so no two-phase distinct expansion; everything else is
    * count/avg. No join, no window. */
  def gopherRules(df: DataFrame, id: String, text: String,
                  minTokens: Long = 50, maxTokens: Long = 100000,
                  minWordLen: Double = 3.0, maxWordLen: Double = 10.0,
                  minAlphaRatio: Double = 0.8,
                  maxSymbolRatio: Double = 0.1,
                  minStopwords: Int = 2): DataFrame = {
    val nStop = GopherStops
      .map(s => max(when(col("token") === s, 1).otherwise(0)))
      .reduce(_ + _)
    tokens(df, text)
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(length(col("token")).cast("double")), 6)
          .as("mean_word_len"),
        round(avg(when(col("token").rlike("[A-Za-z]"), 1.0)
          .otherwise(0.0)), 6).as("alpha_ratio"),
        round(avg(when(col("token").rlike("[#…]"), 1.0)
          .otherwise(0.0)), 6).as("symbol_ratio"),
        nStop.cast("long").as("n_stop"))
      .withColumn("keep",
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
          col("mean_word_len") >= minWordLen &&
          col("mean_word_len") <= maxWordLen &&
          col("alpha_ratio") >= minAlphaRatio &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("n_stop") >= minStopwords).cast("int"))
  }

  /** Language ID: score = marker-word hits per language, argmax with a
    * deterministic (score desc, lang asc) tie-break. */
  def langId(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = tokens(df, text)
    val scored = LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      toks.groupBy(col(id))
        .agg(sum(when(col("token").isin(markers: _*), 1).otherwise(0)).as("score"))
        .withColumn("lang_guess", lit(lang))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col(id)).orderBy(col("score").desc, col("lang_guess"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .drop("rk")
  }

  /** Script classes for [[langIdScript]]: (name, codepoint-range char
    * class). EXPLICIT RANGES, not \p{script=...} — Unicode script
    * tables differ across regex engines and Unicode versions, while
    * literal ranges are identical in Java regex and RE2, so the oracle
    * replays the counts bit-for-bit. cjk = Ext-A (U+3400–4DBF) + the
    * unified block (U+4E00–9FFF); kana = hiragana/katakana
    * (U+3040–30FF) + HALFWIDTH katakana (U+FF66–9F, ubiquitous in
    * legacy ja text). Names sorted ASC = the argmax tie-break
    * order. */
  val ScriptClasses: Seq[(String, String)] = Seq(
    "ara" -> "[؀-ۿ]",
    "cjk" -> "[㐀-䶿一-鿿]",
    "cyr" -> "[Ѐ-ӿ]",
    "dev" -> "[ऀ-ॿ]",
    "ell" -> "[Ͱ-Ͽ]",
    "heb" -> "[֐-׿]",
    "jpn_kana" -> "[぀-ヿｦ-ﾟ]",
    "kor" -> "[가-힯]",
    "lat" -> "[A-Za-z]",
    "tha" -> "[฀-๿]")

  /** Script-aware language ID (beyond reference; the companion to the
    * marker-word [[langId]], which is blind outside Latin scripts —
    * a zh/ja/ko/ru/ar document scores 0 on every marker list and gets
    * an arbitrary tie-break guess): per-document codepoint counts for
    * ten script classes (the r13 extension adds Devanagari, Thai,
    * Greek, Hebrew — the next-largest crawl populations), argmax with a deterministic (count DESC, name
    * ASC) tie-break, `unknown` when no class character occurs, plus
    * the winning class's character ratio. Kana outranking Han picks
    * Japanese over Chinese on mixed kanji/kana text — the standard
    * script-first cue a real pipeline routes on BEFORE any per-language
    * model.
    *
    * Scale shape: ten `regexp_count` expressions + a when-chain — pure
    * map-side, zero shuffles, fully codegen'd, embarrassingly parallel
    * at 100 TB; applies unchanged to a stream. */
  def langIdScript(df: DataFrame, id: String, text: String): DataFrame = {
    val counted = ScriptClasses.foldLeft(df.select(col(id), col(text))) {
      case (d, (name, cls)) =>
        d.withColumn(s"n_$name",
          regexp_count(col(text), lit(cls)).cast("long"))
    }
    val maxCnt = greatest(ScriptClasses.map { case (n, _) => col(s"n_$n") }: _*)
    val guess = ScriptClasses.foldLeft(
      when(maxCnt === 0L, lit("unknown"))) { case (w, (name, _)) =>
      w.when(col(s"n_$name") === maxCnt, lit(name))
    }
    counted
      .withColumn("script_guess", guess)
      .withColumn("script_ratio",
        when(maxCnt === 0L, lit(0.0))
          .otherwise(round(maxCnt.cast("double") /
            greatest(length(col(text)).cast("double"), lit(1.0)), 6)))
      .drop(text)
  }

  /** Same-script language ID (t30; the step AFTER [[langIdScript]]
    * routes a doc to `lat`): hashed char-trigram multinomial logistic
    * regression over the es/fr/pt family — three Latin-script
    * languages the script counter cannot separate and marker words
    * confuse on short text. The classic char-n-gram langid shape
    * (Cavnar & Trenkle 1994) distilled the t11 way: frozen literal
    * weights ([[LangIdTrigramModel]], trained offline by
    * [[graft.tools.TrainLangIdTrigram]]), relative hashed-trigram
    * frequencies of the LOWERCASED text (trigrams include spaces, so
    * function-word boundaries — " el", "ção", "le " — carry the
    * signal). Scores are 6-rounded per class; argmax tie-breaks on
    * language ASC. Documents shorter than 3 characters have no
    * trigrams and are not emitted (gate by length upstream).
    *
    * Scale shape: one map-side gram explode + one (id, bucket) agg +
    * a broadcast join against the 256-row literal weight table + one
    * per-doc agg — no shuffle wider than the doc's own id, the t11
    * scoring pattern exactly; the model is three dot products. */
  def langIdTrigram(df: DataFrame, id: String, text: String): DataFrame = {
    import graft.text.{LangIdTrigramModel => M}
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = broadcast(
      (0 until M.NBuckets).map(b =>
        (b.toLong, M.W(0)(b), M.W(1)(b), M.W(2)(b)))
        .toSeq.toDF("b", "w_es", "w_fr", "w_pt"))
    df.select(col(id), lower(col(text)).as("_t"))
      .filter(length(col("_t")) >= 3)
      .select(col(id),
        explode(transform(sequence(lit(1), length(col("_t")) - 2),
          j => col("_t").substr(j, lit(3)))).as("gram"))
      .withColumn("b", pmod(Dedup.h64(col("gram"), M.Salt),
        lit(M.NBuckets.toLong)))
      .groupBy(col(id), col("b")).agg(count(lit(1)).as("c"))
      .join(wdf, "b")
      .groupBy(col(id))
      .agg(sum(col("c")).as("n_grams"),
        round(lit(M.Intercepts(0)) +
          sum(col("c") * col("w_es")) / sum(col("c")), 6).as("score_es"),
        round(lit(M.Intercepts(1)) +
          sum(col("c") * col("w_fr")) / sum(col("c")), 6).as("score_fr"),
        round(lit(M.Intercepts(2)) +
          sum(col("c") * col("w_pt")) / sum(col("c")), 6).as("score_pt"))
      .withColumn("lang_guess", {
        val mx = greatest(col("score_es"), col("score_fr"),
          col("score_pt"))
        when(col("score_es") === mx, lit("es"))
          .when(col("score_fr") === mx, lit("fr"))
          .otherwise(lit("pt"))
      })
  }

  /** [[langIdTrigram]] at the PRODUCTION / streaming operating point:
    * scoring is per-document local (hash trigrams into a 256-bucket
    * histogram, three dot products against the broadcast-free frozen
    * literals), so one `mapPartitions` pass does it with ZERO
    * shuffles — the batch shape above keeps its explode + agg + join
    * form because that is what the DuckDB oracle replays. Buckets
    * fold in ascending order, so the FP sums are deterministic
    * regardless of partitioning; trigrams are taken over CODEPOINTS
    * (surrogate pairs whole) exactly like Spark's `substr`; scores
    * r6-round like the batch path (HALF_UP, Spark's `round`).
    * Stateless — applies unchanged to a streaming frame. */
  def langIdTrigramFast(df: DataFrame, id: String,
                        text: String): DataFrame = {
    import graft.text.{LangIdTrigramModel => M}
    val ti = df.schema.fieldIndex(text)
    val keep = df.schema(id)
    val outSchema = new org.apache.spark.sql.types.StructType()
      .add(keep)
      .add("n_grams", org.apache.spark.sql.types.LongType)
      .add("score_es", org.apache.spark.sql.types.DoubleType)
      .add("score_fr", org.apache.spark.sql.types.DoubleType)
      .add("score_pt", org.apache.spark.sql.types.DoubleType)
      .add("lang_guess", org.apache.spark.sql.types.StringType)
    val ii = df.schema.fieldIndex(id)
    def r6(v: Double): Double =
      new java.math.BigDecimal(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    df.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def bucket(gram: String): Int = {
        val hex = md.digest(s"${M.Salt}|$gram".getBytes("UTF-8"))
          .map(bb => f"${bb & 0xff}%02x").mkString
        (java.lang.Long.parseLong(hex.substring(0, 15), 16) %
          M.NBuckets).toInt
      }
      rows.flatMap { row =>
        val raw = row.getString(ti)
        val t = if (raw == null) null
                else raw.toLowerCase(java.util.Locale.ROOT)
        val n = if (t == null) 0 else t.codePointCount(0, t.length)
        if (n < 3) Iterator.empty
        else {
          // codepoint start offsets, so each trigram matches Spark's
          // substr(j, 3) on astral-plane text too
          val offs = new Array[Int](n + 1)
          var i = 0
          var o = 0
          while (i < n) { offs(i) = o
            o += Character.charCount(t.codePointAt(o)); i += 1 }
          offs(n) = t.length
          val counts = new Array[Long](M.NBuckets)
          var j = 0
          while (j + 3 <= n) {
            counts(bucket(t.substring(offs(j), offs(j + 3)))) += 1L
            j += 1
          }
          var nGrams = 0L
          var dEs = 0.0; var dFr = 0.0; var dPt = 0.0
          var b = 0
          while (b < M.NBuckets) {
            val c = counts(b)
            if (c > 0) {
              nGrams += c
              dEs += c * M.W(0)(b); dFr += c * M.W(1)(b)
              dPt += c * M.W(2)(b)
            }
            b += 1
          }
          val sEs = r6(M.Intercepts(0) + dEs / nGrams)
          val sFr = r6(M.Intercepts(1) + dFr / nGrams)
          val sPt = r6(M.Intercepts(2) + dPt / nGrams)
          val mx = math.max(sEs, math.max(sFr, sPt))
          val guess = if (sEs == mx) "es" else if (sFr == mx) "fr"
                      else "pt"
          Iterator.single(org.apache.spark.sql.Row(
            row.get(ii), nGrams, sEs, sFr, sPt, guess))
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Zipf rank-frequency fit (t31, beyond reference): the corpus
    * diagnostic every training-data report carries — OLS of ln(freq)
    * on ln(rank) over the top `maxRank` terms gives the Zipf exponent
    * α = −slope (natural language sits near α ≈ 1; a synthetic or
    * template-heavy corpus drifts visibly) and the fit r² says how
    * Zipfian the corpus actually is. One token explode + one term
    * agg; the top-`maxRank` cut runs as `orderBy(...).limit(maxRank)`
    * — Catalyst compiles that to TakeOrderedAndProject, a per-partition
    * bounded heap + driver-side merge of ≤maxRank rows per partition
    * (the q03/a13 top-k shape), so the FULL vocabulary never funnels
    * through a single sort task. Only the ≤maxRank survivors see the
    * rank window (bounded by construction — the mannKendall-maxN
    * argument), and the OLS reduces to five sums in one tiny agg.
    * Emits one row: (n_terms, alpha, r2). */
  def zipfFit(df: DataFrame, text: String,
              maxRank: Int = 1000): DataFrame = {
    val tf = tokens(df, text).groupBy(col("token"))
      .agg(count(lit(1)).as("f"))
    val top = tf.orderBy(col("f").desc, col("token")).limit(maxRank)
    val ranked = top
      .withColumn("rk", row_number().over(
        Window.orderBy(col("f").desc, col("token"))))
      .select(log(col("rk").cast("double")).as("x"),
        log(col("f").cast("double")).as("y"))
    val s = ranked.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    s.select(col("n").cast("long").as("n_terms"),
      (-(cov / vx)).as("alpha"),
      (cov * cov / (vx * vy)).as("r2"))
  }

  /** Heaps-law fit (t33, beyond reference; Heaps 1978): vocabulary
    * growth V(N) ≈ K·N^β — [[zipfFit]]'s companion diagnostic in a
    * training-data report (β ≈ 0.4–0.6 for natural text; a template
    * corpus flattens, an OCR-noise corpus inflates toward 1). Each
    * token's FIRST document (min doc id) marks where it enters the
    * vocabulary; per-doc new-type and token counts cumsum in doc-id
    * order into (N_d, V_d) checkpoints, and the OLS of ln V on ln N is
    * the same five-sum reduce as [[zipfFit]].
    *
    * Scale shape: one token agg (map-side combinable), one min-agg
    * over the vocabulary frame, then a cumsum over the PER-DOC frame —
    * one row per document, INTEGER sums (exact at any order). The
    * cumsum window is a global order over that per-doc frame, so the
    * fit runs on a `maxDocs`-sized HASH SAMPLE of the corpus: one
    * cheap doc count derives the modulus k = ⌈n/maxDocs⌉ and the fit
    * keeps docs with xxhash64(id) % k == 0 (the a03 hash-split
    * machinery — id-distribution-proof: sparse, hashed or string doc
    * ids sample at the same ~maxDocs rate where an id-prefix cap
    * would silently starve or implicit-cast them). The curve is a
    * corpus diagnostic, not a per-doc output, and a million-doc
    * sample pins β as tightly as the full web corpus would, while
    * bounding the single-task cumsum at ≈maxDocs tiny rows by
    * construction (the mannKendall `maxN` pattern,
    * stats/SeriesStats.scala). When the sample binds, `n_docs` in the
    * output row IS the number of docs actually fitted — the cap is
    * never silent. k = 1 below the cap (the fixture/gate case), where
    * the filter is skipped entirely and the fit is exact.
    *
    * Cost contract: the modulus probe is an EAGER df.count() at call
    * time — one id-column scan before the returned plan exists (the
    * plan itself cannot see its own row count), so calling heapsFit
    * is never free even if the result is not evaluated. The hash
    * sample is binomial AROUND maxDocs, not a hard cap: the
    * single-task cumsum bound is ≈maxDocs (±√maxDocs), which is the
    * documented contract. */
  def heapsFit(df: DataFrame, id: String, text: String,
               maxDocs: Long = 1000000L): DataFrame = {
    val nDocs = df.select(col(id)).count()
    val k = math.max(1L, (nDocs + maxDocs - 1L) / maxDocs)
    val sampled =
      if (k == 1L) df
      else df.filter(pmod(xxhash64(col(id)), lit(k)) === 0)
    val toks = tokens(sampled, text)
    val perDoc = toks.groupBy(col(id)).agg(count(lit(1)).as("n_toks"))
    val newTypes = toks.groupBy(col("token"))
      .agg(min(col(id)).as("fd"))
      .groupBy(col("fd").as(id))
      .agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col(id))
    val xy = perDoc.join(newTypes, Seq(id), "left")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("nn", sum(col("n_toks")).over(w))
      .withColumn("vv", sum(col("new_types")).over(w))
      .select(log(col("nn").cast("double")).as("x"),
        log(col("vv").cast("double")).as("y"))
    val s = xy.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    val beta = cov / vx
    s.select(col("n").cast("long").as("n_docs"),
      round(beta, 6).as("beta"),
      round(exp((col("sy") - beta * col("sx")) / col("n")), 6)
        .as("k_coef"),
      round(cov * cov / (vx * vy), 6).as("r2"))
  }

  /** Per-document character Shannon entropy (t32, beyond reference):
    * the cheap gibberish / encoding-noise quality signal — natural
    * prose sits near 4–4.5 bits/char over its alphabet, base64 blobs
    * and mojibake spike toward ln(|alphabet|), single-char spam drops
    * to ~0. H = ln n − (Σ c·ln c)/n over per-char counts c.
    *
    * ZERO-shuffle: the char histogram never materializes — each doc's
    * char array is sorted in-task and folded run-length-wise
    * (aggregate over array_sort, O(1) state per element), so the op is
    * a pure map at any corpus size. The fold adds run terms in sorted
    * char order; the oracle mirrors it with sum(... ORDER BY ch), so
    * the float accumulation order is identical in both engines. */
  def charEntropy(df: DataFrame, id: String, text: String): DataFrame = {
    val st0 = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0.0).as("acc"), lit(0L).as("uniq"))
    val folded = aggregate(
      // array_remove: split on the empty pattern may emit "" sentinels
      // (engine-version-dependent); they are not characters
      array_sort(array_remove(split(col("_t"), ""), "")),
      st0,
      (st, ch) => {
        val fresh = struct(ch.as("prev"), lit(1L).as("run"),
          (st("acc") + st("run").cast("double") *
            log(st("run").cast("double"))).as("acc"),
          (st("uniq") + 1L).as("uniq"))
        when(st("prev").isNull,
          struct(ch.as("prev"), lit(1L).as("run"),
            lit(0.0).as("acc"), lit(1L).as("uniq")))
          .when(ch === st("prev"),
            struct(st("prev").as("prev"), (st("run") + 1L).as("run"),
              st("acc").as("acc"), st("uniq").as("uniq")))
          .otherwise(fresh)
      },
      st => struct(
        (st("acc") + st("run").cast("double") *
          log(st("run").cast("double"))).as("acc"),
        st("uniq").as("uniq")))
    df.select(col(id), col(text).as("_t"),
        length(col(text)).cast("long").as("n_chars_h"))
      .where(col("n_chars_h") > 0)
      .withColumn("_st", folded)
      .withColumn("n_uniq", col("_st.uniq"))
      .withColumn("entropy",
        round(log(col("n_chars_h").cast("double")) -
          col("_st.acc") / col("n_chars_h").cast("double"), 6))
      .drop("_t", "_st")
  }

  /** Readability scores (t35, beyond reference; Flesch 1948, Kincaid
    * et al. 1975): Flesch Reading Ease
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) and the
    * Flesch–Kincaid grade level — the classic curate-stage quality
    * signal next to the Gopher rules (very low ease flags legal/OCR
    * boilerplate, negative grade flags token soup). Sentences are
    * terminal-punctuation runs (clamped to ≥ 1 — headline-ish docs
    * divide by one, not zero); words are [a-z0-9]+ runs and syllables
    * the standard [aeiouy]+ vowel-group heuristic, both over the
    * lowercased text, so every count replays as a `regexp_count` /
    * `len(regexp_extract_all)` pair bit-for-bit across engines.
    *
    * Scale shape: three regexp counts + arithmetic — pure map-side,
    * zero shuffles, fully codegen'd; applies unchanged to a stream. */
  def readability(df: DataFrame, id: String, text: String): DataFrame = {
    val lo = lower(col(text))
    val nw = regexp_count(lo, lit("[a-z0-9]+")).cast("long")
    val ns = greatest(regexp_count(col(text), lit("[.!?]+")), lit(1))
      .cast("long")
    val ny = regexp_count(lo, lit("[aeiouy]+")).cast("long")
    val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
    df.select(col(id), col(text))
      .withColumn("n_words", nw)
      .withColumn("n_sentences", ns)
      .withColumn("n_syllables", ny)
      .withColumn("flesch",
        when(col("n_words") > 0,
          round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6)))
      .withColumn("fk_grade",
        when(col("n_words") > 0,
          round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6)))
      .drop(text)
  }

  /** Robust-winnowing document fingerprints (t34, beyond reference;
    * Schleimer, Wilkerson & Aiken 2003 — the MOSS algorithm): hash
    * every k-gram of the lowercased text, slide a window of `win`
    * consecutive hashes, keep each window's minimum (ties broken
    * RIGHTMOST — the robust rule that makes consecutive windows reuse
    * one selection), and dedupe (position, hash) picks. Winnowing
    * guarantees any shared substring of length ≥ k+win−1 contributes a
    * shared fingerprint, at expected density 2/(win+1) — the
    * local-sampling complement to d05's fixed-stride span shingles
    * (stride sampling misses alignments; winnowing can't).
    *
    * The rightmost-min rule is the argmin under (hash ASC, position
    * DESC) per window. Winnowing is PER-DOCUMENT LOCAL, so the whole
    * pass — gram hashing (the JVM twin of the portable h64), window
    * argmins, selection dedupe, digest — runs inside one mapPartitions
    * with ZERO shuffles (the charEntropy shape; an earlier exploded
    * (window, member) row_number formulation measured 32× at 10× doc
    * length — 40M four-row window groups are pure overhead). The
    * oracle replays the same argmin as SQL over exploded pairs, which
    * pins the in-task pass against an independent formulation. Output
    * is the per-doc digest (gram/window/selection counts, distinct-
    * fingerprint count, bit_xor/min/max over the selected (pos, hash)
    * pairs — a hash selected at two positions xor-cancels;
    * deterministic either way). Docs shorter than k+win−1 have no
    * complete window and are dropped (gate by length upstream).
    *
    * Scale shape: embarrassingly parallel, per-task memory = one doc's
    * hash array; a multi-GB document would chunk with a k+win−2 halo
    * (winnowing is local, so chunk seams lose nothing — the
    * chunkedSupervisedWindows argument). */
  def winnowFingerprints(df: DataFrame, id: String, text: String,
                         k: Int = 8, win: Int = 4,
                         seed: Int = 34): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val input = df.select(col(id), lower(col(text)).as("_t"))
      .filter(length(col("_t")) >= k + win - 1)
    val outSchema = StructType(input.schema.fields.take(1) ++ Seq(
      StructField("n_grams", LongType, nullable = false),
      StructField("n_windows", LongType, nullable = false),
      StructField("n_sel", LongType, nullable = false),
      StructField("n_fp", LongType, nullable = false),
      StructField("fp_xor", LongType, nullable = false),
      StructField("fp_min", LongType, nullable = false),
      StructField("fp_max", LongType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    input.mapPartitions { rows =>
      val md = Dedup.h64Hasher()
      rows.map { r =>
        val cps = r.getString(1).codePoints().toArray
        val (js, hs) = winnowDoc(md, cps, k, win, seed)
        val ng = (cps.length - (k - 1)).toLong
        val nw = ng - (win - 1)
        var x = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
        val uniq = new java.util.HashSet[java.lang.Long]()
        var i = 0
        while (i < hs.length) {
          val h = hs(i)
          x ^= h
          if (h < mn) mn = h
          if (h > mx) mx = h
          uniq.add(h)
          i += 1
        }
        Row.fromSeq(Seq(r.get(0), ng, nw, js.length.toLong,
          uniq.size.toLong, x, mn, mx))
      }
    }
  }

  /** [[winnowFingerprints]]'s selection frame — one row per distinct
    * winnowing pick: (id, _ng, _nw, j, h) with j the 1-based gram
    * position and h the selected k-gram hash. Same zero-shuffle
    * in-task pass; near-dup pipelines join it on h directly (the d05
    * span-shingle shape with the winnowing guarantee instead of
    * stride luck). */
  def winnowSelections(df: DataFrame, id: String, text: String,
                       k: Int = 8, win: Int = 4,
                       seed: Int = 34): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val input = df.select(col(id), lower(col(text)).as("_t"))
      .filter(length(col("_t")) >= k + win - 1)
    val outSchema = StructType(input.schema.fields.take(1) ++ Seq(
      StructField("_ng", IntegerType, nullable = false),
      StructField("_nw", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    input.mapPartitions { rows =>
      val md = Dedup.h64Hasher()
      rows.flatMap { r =>
        val cps = r.getString(1).codePoints().toArray
        val (js, hs) = winnowDoc(md, cps, k, win, seed)
        val ng = cps.length - (k - 1)
        val nw = ng - (win - 1)
        js.indices.map(i =>
          Row.fromSeq(Seq(r.get(0), ng, nw, js(i), hs(i))))
      }
    }
  }

  /** Winnow-fingerprint decontamination (t37, beyond reference): the
    * sketch-tier cousin of [[contamination]] built on the MOSS
    * guarantee instead of every-gram joins — each side reduces to its
    * DISTINCT winnowing fingerprints (expected density 2/(win+1) of
    * grams, ~0.4 at the defaults: the fingerprint frame is ~2.5×
    * smaller than the t01 gram frame before the join even starts),
    * and any shared substring ≥ k+win−1 chars STILL surfaces, because
    * winnowing selects at least one common fingerprint inside it —
    * positional sampling with a recall guarantee, where d05's stride
    * shingles rely on alignment luck. `minShared ≥ 2` (default)
    * suppresses single-hash coincidences.
    *
    * `maxDf` drops fingerprints present in more than that many docs
    * (counted across BOTH sides) before the join — template/boilerplate
    * passages are not contamination signal, and they are exactly the
    * hot keys that would turn the fingerprint join quadratic (the t21
    * gram-df / t25 line-df skew bound, at the fingerprint level: join
    * fan-out per key is capped at maxDf² pairs by construction).
    *
    * Scale shape: two zero-shuffle winnowing passes (the t34 in-task
    * map), one fingerprint df agg, one fingerprint-keyed join of the
    * df-capped frames, one pair-keyed count agg. Complements rather
    * than replaces [[contamination]]: winnowing is a sampler, so
    * n_shared counts shared FINGERPRINTS, not shared grams — use it
    * to flag candidate pairs at scale and the exact gram join to
    * score the survivors (the [[bloomContamination]] tiering, one
    * level sparser). */
  def winnowContamination(train: DataFrame, bench: DataFrame, id: String,
                          text: String, k: Int = 8, win: Int = 4,
                          seed: Int = 34, minShared: Long = 2,
                          maxDf: Int = 32): DataFrame = {
    val tFp = winnowSelections(train, id, text, k, win, seed)
      .select(col(id).as("train_id"), col("h")).distinct()
    val bFp = winnowSelections(bench, id, text, k, win, seed)
      .select(col(id).as("bench_id"), col("h")).distinct()
    val rare = tFp.select(col("h")).unionByName(bFp.select(col("h")))
      .groupBy(col("h")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select(col("h"))
    tFp.join(rare, "h").join(bFp, "h")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** One document's winnowing pass over its CODEPOINT array (Spark
    * length/substr count codepoints, not UTF-16 units — astral chars
    * must gram identically): k-gram h64 hashes, each window's argmin
    * under (hash ASC, position DESC), consecutive duplicate picks
    * collapsed (a position re-winning a later window always wins every
    * window between, so repeats are adjacent). Returns parallel arrays
    * of the selected 1-based positions and their hashes, position-
    * ascending. O(n·win) direct scan — the arithmetic the oracle's
    * exploded argmin SQL replays. */
  private def winnowDoc(md: java.security.MessageDigest, cps: Array[Int],
                        k: Int, win: Int,
                        seed: Int): (Array[Int], Array[Long]) = {
    val ng = cps.length - (k - 1)
    val nw = ng - (win - 1)
    val hs = new Array[Long](ng)
    var g = 0
    while (g < ng) {
      hs(g) = Dedup.h64Jvm(md, new String(cps, g, k), seed)
      g += 1
    }
    val jb = Array.newBuilder[Int]
    val hb = Array.newBuilder[Long]
    var last = -1
    var i = 0
    while (i < nw) {
      var best = i
      var m = 1
      while (m < win) {
        // rightmost min: strictly smaller wins, equal prefers larger j
        if (hs(i + m) <= hs(best)) best = i + m
        m += 1
      }
      if (best != last) {
        jb += best + 1
        hb += hs(best)
        last = best
      }
      i += 1
    }
    (jb.result(), hb.result())
  }

  /** Corpus-pair n-gram overlap matrix (t36, beyond reference; the
    * synthetic-data evaluation everyone runs — how much of corpus B's
    * phrasing already exists in corpus A): distinct word bigrams per
    * group, then |A∩B|, Jaccard and both containments for every
    * unordered group pair. Deduplication-adjacent but a DIVERGENCE
    * metric: t15 asks "is this document contaminated", this asks "how
    * far apart are these corpora" (the q15 JS divergence story at the
    * n-gram level — near-1 Jaccard between a synthetic source and its
    * seed corpus means the generator memorized).
    *
    * Scale shape: bigram construction is map-side (one array transform
    * per doc); the distinct and the self-join both key on the BIGRAM,
    * so pairs per bigram are bounded by the group count squared —
    * never all-pairs in documents. The group-pair frame is tiny and
    * broadcast. At extreme group counts, band the bigram space first
    * (the d01 LSH shape) — exact overlap is the gate semantics here. */
  def ngramOverlapByGroup(df: DataFrame, group: String,
                          text: String): DataFrame = {
    val bg = df
      .select(col(group).as("_g"),
        filter(split(col(text), " "), t => t =!= "").as("_a"))
      .filter(size(col("_a")) >= 2)
      .select(col("_g"), explode(transform(
        sequence(lit(1), size(col("_a")) - 1),
        i => concat_ws(" ", element_at(col("_a"), i),
          element_at(col("_a"), i + 1)))).as("bigram"))
      .distinct()
    val sizes = bg.groupBy(col("_g")).agg(count(lit(1)).as("n"))
    val inter = bg.toDF("ga", "bigram")
      .join(bg.toDF("gb", "bigram"), Seq("bigram"))
      .filter(col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = broadcast(sizes.toDF("ga", "n_a"))
      .join(broadcast(sizes.toDF("gb", "n_b")), col("ga") < col("gb"))
    pairs.join(inter, Seq("ga", "gb"), "left")
      .na.fill(0L, Seq("n_inter"))
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("n_a"), col("n_b"), col("n_inter"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6)
          .as("jaccard"),
        round(col("n_inter").cast("double") / col("n_a").cast("double"), 6)
          .as("containment_a"),
        round(col("n_inter").cast("double") / col("n_b").cast("double"), 6)
          .as("containment_b"))
  }

  /** CJK segmentation shim (t27; the mC4/CCNet preprocessing rule):
    * whitespace tokenization sees an unsegmented Chinese/Japanese
    * document as ONE giant "word", silently defeating every token op
    * downstream (q19 counts 1 token, Gopher's mean word length
    * explodes, shingles never match, chunk windows never split). This
    * inserts spaces around every Han ideograph and kana character —
    * the standard char-level baseline (each ideograph is
    * approximately a token; real morphological segmenters are
    * per-language models out of engine scope) — and collapses the
    * resulting space runs. Hangul is deliberately NOT split: Korean
    * text carries real spaces and per-char splitting would destroy
    * its words. Latin runs embedded in CJK text survive as words.
    * Pure two-regex map-side chain, zero shuffles, RE2-compatible
    * (oracle-replayable), applies unchanged to a stream. */
  def cjkSegment(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "([㐀-䶿一-鿿぀-ヿｦ-ﾟ])", " $1 "),
      "  +", " ")

  /** [[cjkSegment]] as a frame op: adds `segmented` (trimmed) and its
    * whitespace token count `n_tokens` — run BEFORE the token stack
    * (curate `--cjk_segment`). */
  def cjkSegmentFrame(df: DataFrame, id: String, text: String): DataFrame =
    df.withColumn("segmented", trim(cjkSegment(col(text))))
      .withColumn("n_tokens",
        size(filter(split(col("segmented"), " "), t => t =!= ""))
          .cast("long"))

  /** HTML stripping (t28; the step before every line/token gate on
    * crawl data): drop `<script>`/`<style>` elements WITH their
    * contents and HTML comments, strip remaining tags, single-pass
    * decode the six ubiquitous entities (`&amp;` LAST, so a literal
    * `&amp;lt;` decodes to `&lt;` and stops — the correct single-pass
    * semantics), collapse whitespace runs. A regex baseline, not a
    * DOM parser — the honest hermetic cut (production extractors like
    * trafilatura are per-site ML models out of engine scope); malformed
    * HTML degrades to over-stripping, never to leaked tags. Every
    * pattern is RE2-compatible (no backreferences — script and style
    * are spelled out because RE2 has no \1 in patterns; `(?is)` inline
    * flags and non-greedy exist in both engines), so the oracle
    * replays it verbatim. Pure map-side chain, zero shuffles,
    * stream-safe. */
  def htmlStrip(text: Column): Column = {
    val noComment = regexp_replace(text, "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComment,
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]*>", " ")
    // an UNCLOSED trailing tag (truncated crawl record) has no '>' for
    // the rule above — strip it to end-of-text rather than leak it
    val noTrunc = regexp_replace(noTags, "(?s)<[^>]*$", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTrunc) { case (c, (e, v)) =>
        call_function("replace", c, lit(e), lit(v))
      }
    trim(regexp_replace(ent, "[ \\t\\r\\n]+", " "))
  }

  /** [[htmlStrip]] as a frame op: adds `clean` and its character
    * count (curate `--html_strip`, the FIRST text-shaping stage). */
  def htmlStripFrame(df: DataFrame, id: String, text: String): DataFrame =
    df.withColumn("clean", htmlStrip(col(text)))
      .withColumn("n_chars", length(col("clean")).cast("long"))

  /** Unicode NFC normalization (t29; the CCNet "normalize before you
    * fingerprint" rule): the same visible text arrives from different
    * sources in composed (é = U+00E9) and decomposed (e + U+0301)
    * forms — byte-distinct, so exact dedup, shingle/minhash
    * fingerprints, BM25 tokens and decontamination grams all silently
    * miss the match until the corpus is canonicalized. One
    * `java.text.Normalizer` NFC pass per row inside `mapPartitions`
    * (NFC has no Catalyst expression; the normalizer is stateless and
    * allocation-free for already-normalized text, which Normalizer
    * detects with a quick-check scan) — map-side, zero shuffles,
    * stream-safe. The oracle replays it with DuckDB's
    * `nfc_normalize` (both sides implement UAX #15, so agreement is
    * by standard, not by luck). Emits `normalized` + a `changed`
    * flag (the corpus-hygiene funnel count).
    *
    * `form = "NFKC"` (t29b) additionally applies COMPATIBILITY
    * decompositions — fullwidth latin/digits (ja/zh crawl), ﬁ/ﬂ
    * ligatures, squared units (㎞ → km), ideographic space — which
    * NFC leaves byte-distinct from their plain twins; the standard
    * tokenizer-prep choice (sentencepiece's default normalizer is
    * NFKC) and what dedup/decontamination need on CJK-adjacent
    * crawl. */
  def nfcNormalizeFrame(df: DataFrame, id: String,
                        text: String, form: String = "NFC"): DataFrame = {
    val f = java.text.Normalizer.Form.valueOf(form)
    val ti = df.schema.fieldIndex(text)
    val outSchema = df.schema
      .add("normalized", org.apache.spark.sql.types.StringType)
      .add("changed", org.apache.spark.sql.types.IntegerType)
    df.mapPartitions { rows =>
      rows.map { row =>
        val t = row.getString(ti)
        val n =
          if (t == null) null
          else java.text.Normalizer.normalize(t, f)
        val changed = if (t != null && n != t) 1 else 0
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ n :+ changed)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Word k-gram shingles WITH duplicates (one row per gram occurrence)
    * via k−1 window leads over the exploded tokens (no array
    * materialization per row) — the repetition-scoring input;
    * [[shingles]] is the distinct variant. */
  def shinglesAll(df: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val toks = tokens(df, text).select(col(id), col("pos"), col("token"))
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    val parts = (0 until k).map {
      case 0 => col("token")
      case i => lead(col("token"), i).over(w)
    }
    toks.withColumn("shingle", concat_ws(" ", parts: _*))
      .withColumn("_last", parts.last)
      .filter(col("_last").isNotNull)   // window exprs must be materialized
      .select(col(id), col("shingle"))  // before they can appear in a filter
  }

  /** Word k-gram shingles, distinct (id, shingle). */
  def shingles(df: DataFrame, id: String, text: String, k: Int): DataFrame =
    shinglesAll(df, id, text, k).distinct()

  /** Token frequency spectrum (beyond reference, t22): the Zipf/Heaps
    * data-card — distinct-token counts bucketed by power-of-two
    * occurrence bands (how much of the corpus is hapax tail vs
    * stop-word head; the vocabulary-growth diagnostic that decides
    * tokenizer and min-frequency cuts). Per band [2^b, 2^(b+1)):
    * `n_types` distinct tokens, `n_tokens` total occurrences they
    * carry.
    *
    * Scale shape: ONE token-keyed count agg (map-side combinable) and
    * one broadcast join against the 41-row literal bounds table —
    * integer BETWEEN compares, so banding is exact on every engine (a
    * floor(log2(c)) double would misband exact powers of two at libm
    * mercy). */
  def tokenSpectrum(df: DataFrame, id: String, text: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bounds = (0 until 41)
      .map(b => (b, 1L << b, (1L << (b + 1)) - 1L))
      .toDF("band", "lo", "hi")
    val counts = tokens(df, text).groupBy(col("token"))
      .agg(count(lit(1)).as("c"))
    counts.join(broadcast(bounds),
        col("c") >= col("lo") && col("c") <= col("hi"))
      .groupBy(col("band"), col("lo"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"))
      .select(col("band"), col("lo"), col("n_types"), col("n_tokens"))
  }

  /** Cross-doc duplication ratio (beyond reference, t21): per document,
    * the fraction of its DISTINCT k-gram shingles that appear in at
    * least one OTHER document — the corpus-level complement of
    * [[tokenStats]]' within-doc repetition and the per-doc
    * "memorization risk" disclosure (a doc made of corpus boilerplate
    * scores ~1, unique prose ~0). `flagged` marks docs at/above
    * `maxRatio`, the gate threshold RefinedWeb-style pipelines drop at.
    * Docs shorter than k tokens carry no shingle and are not emitted
    * (0/0 — gate them by length upstream, the t15 contract).
    *
    * Scale shape: distinct (doc, shingle) + a gram-keyed df agg (both
    * map-side combinable) and ONE inverted-index join back on the gram
    * key — the t01 shape, nothing quadratic; boilerplate-gram skew is
    * AQE-splittable and df-cappable upstream like [[Dedup.jaccardPairs]].
    * The flag compares the UNROUNDED single-division ratio, identical
    * on both engines. */
  def crossDupRatio(df: DataFrame, id: String, text: String, k: Int = 8,
                    maxRatio: Double = 0.5): DataFrame = {
    val sg = shingles(df, id, text, k)
    val dfreq = sg.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sg.join(dfreq, "shingle")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1).otherwise(0)).cast("long")
          .as("n_shared"))
      .withColumn("dup_ratio",
        round(col("n_shared") / col("n_grams"), 6))
      .withColumn("flagged",
        (col("n_shared") / col("n_grams") >= maxRatio).cast("int"))
  }

  /** Per-COLLECTION cross-doc duplication ratio (t21b — the `*b`
    * family pass over t21): shingle document frequency is computed
    * WITHIN each `series` group (tenant / corpus snapshot / source), so
    * a passage shared across collections does not flag either of them —
    * the multi-tenant form of the memorization-risk card. Same scale
    * shape as [[crossDupRatio]] with the collection key riding every
    * agg/join key: one (series, shingle)-keyed df agg and one
    * inverted-index join back, nothing pairwise, no new shuffle
    * structure. */
  def crossDupRatioBy(df: DataFrame, id: String, series: String,
                      text: String, k: Int = 8,
                      maxRatio: Double = 0.5): DataFrame = {
    val toks = tokens(df, text)
      .select(col(id), col(series), col("pos"), col("token"))
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    val parts = (0 until k).map {
      case 0 => col("token")
      case i => lead(col("token"), i).over(w)
    }
    // checkpointed ONCE: the df agg and the join-back both read the
    // shingle frame — a live lineage would run the token explode +
    // per-doc lead windows + distinct twice (measured 2.99 → ~2.0 on
    // the 10× docs axis)
    val sg = toks.withColumn("shingle", concat_ws(" ", parts: _*))
      .withColumn("_last", parts.last)
      .filter(col("_last").isNotNull)
      .select(col(id), col(series), col("shingle")).distinct()
      .localCheckpoint()
    val dfreq = sg.groupBy(col(series), col("shingle"))
      .agg(count(lit(1)).as("df"))
    sg.join(dfreq, Seq(series, "shingle"))
      .groupBy(col(id), col(series))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1).otherwise(0)).cast("long")
          .as("n_shared"))
      .withColumn("dup_ratio",
        round(col("n_shared") / col("n_grams"), 6))
      .withColumn("flagged",
        (col("n_shared") / col("n_grams") >= maxRatio).cast("int"))
  }

  /** Decontamination (beyond reference): k-gram overlap between a train
    * corpus and a benchmark/eval set — the standard eval-leakage filter
    * in LLM training pipelines. Inverted-index join keyed on the gram
    * (ONE shuffle — the q21 shape, so nothing is quadratic in corpus
    * size), distinct shared-gram counts per (train, bench) pair,
    * thresholded. Skew from boilerplate grams can be df-capped upstream
    * exactly like [[Dedup.jaccardPairs]]. */
  def contamination(train: DataFrame, bench: DataFrame, id: String,
                    text: String, k: Int = 8, minShared: Long = 1): DataFrame = {
    val tg = shingles(train, id, text, k).withColumnRenamed(id, "train_id")
    val bg = shingles(bench, id, text, k).withColumnRenamed(id, "bench_id")
    tg.join(bg, "shingle")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Hashing-trick document embeddings (beyond reference, t16): a
    * deterministic, model-free text → vector bridge into the
    * similarity stack (fastText/Vowpal-style signed feature hashing):
    * bucket = h64(token) mod dim, sign = an independent hash bit,
    * v[bucket] = Σ sign·tf, L2-normalized. Near-identical docs land at
    * cosine ≈ 1, unrelated docs near 0 — so the q23/q24/s01–s05 ANN
    * and embedding-dedup machinery runs on corpora that have NO
    * pretrained embeddings, with rerun/append-stable vectors.
    *
    * Scale shape: one (doc, bucket)-keyed map-side-combinable agg,
    * then a per-doc map-assemble — no joins, no windows; dim is a
    * constant. Output is (id, j, v) EXPLODED (one row per coordinate,
    * r6) so the driver's scalar hash-compare applies; zip back with
    * [[hashEmbedVectors]] for the array form the sim/ stack takes. */
  def hashEmbed(df: DataFrame, id: String, text: String, dim: Int = 64,
                salt: Int = 17): DataFrame =
    // materialize the vectors BEFORE the explode: the embedding column
    // is a higher-order-function chain (array build → L2 fold →
    // normalize transform) that CollapseProject happily inlines into
    // the Generate — re-evaluating the whole interpreted lambda chain
    // per exploded element (dim× the work; measured 4.2 s → 1.6 s at
    // sf0.1). The checkpoint pins one doc-sized (id, array) frame so
    // the explode reads computed arrays (guide §1/§5: stop recomputing
    // the hot expression).
    hashEmbedVectors(df, id, text, dim, salt)
      .localCheckpoint()
      .select(col(id), posexplode(col("embedding")).as(Seq("j", "v")))

  /** The array-valued form of [[hashEmbed]]: (id, embedding
    * array<double>), L2-normalized, r6 per coordinate. */
  def hashEmbedVectors(df: DataFrame, id: String, text: String,
                       dim: Int = 64, salt: Int = 17): DataFrame = {
    val h = Dedup.h64(col("token"), salt).cast("long")
    val bucket = pmod(h, lit(dim.toLong)).cast("int")
    // sign from a bucket-independent bit (h >> 20): balanced hashing
    // keeps collisions unbiased (the signed hashing-trick estimator).
    // shiftright, NOT double division — h is 60-bit, past the 2^53
    // double mantissa, so floor(h/2^20) would disagree with the
    // oracle's integer division on the low bits
    val sign = when(pmod(shiftright(h, 20), lit(2L)) === 0, 1.0)
      .otherwise(-1.0)
    val toks = tokens(df, text)
      .select(col(id), bucket.as("b"), sign.as("s"))
    // two shapes, value-identical (integer weights — the aggregation
    // method cannot change any sum):
    //  - dim ≤ 256: ONE doc-keyed shuffle of dim conditional sums
    //    (map-side combinable, codegen'd) — no second shuffle;
    //  - larger dims: the (doc, bucket) agg + map re-assembly. dim
    //    inlined agg expressions at 1024+ would bust whole-stage
    //    codegen exactly like the composed PQ encoder did.
    val raw =
      if (dim <= 256) {
        val sums = (0 until dim).map(j =>
          sum(when(col("b") === j, col("s")).otherwise(0.0)).as(s"_w$j"))
        toks.groupBy(col(id))
          .agg(sums.head, sums.tail: _*)
          .withColumn("raw", array((0 until dim).map(j => col(s"_w$j")): _*))
          .select(col(id), col("raw"))
      } else
        toks.groupBy(col(id), col("b")).agg(sum(col("s")).as("w"))
          .groupBy(col(id))
          .agg(map_from_entries(collect_list(struct(col("b"), col("w"))))
            .as("m"))
          .withColumn("raw", transform(sequence(lit(0), lit(dim - 1)),
            j => coalesce(element_at(col("m"), j.cast("int")), lit(0.0))))
          .select(col(id), col("raw"))
    raw
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .withColumn("embedding", transform(col("raw"),
        x => round(when(col("nrm") > 0, x / col("nrm")).otherwise(0.0), 6)))
      .select(col(id), col("embedding"))
  }

  /** Doc-topic assignment (beyond reference, t17): nearest frozen
    * topic centroid ([[TopicCentroids.K8]], KMeans-trained offline by
    * [[graft.tools.TrainTopics]]) over the hashed doc embedding
    * ([[hashEmbedVectors]]) — the standard domain-discovery step
    * before mixture design (what fraction of the corpus is code /
    * news / forum …), with no pretrained model anywhere: the hashing
    * trick IS the feature space. Assignment reuses the native
    * [[graft.sim.Similarity.ivfAssign]] argmin (`|c|² − 2·v·c` key,
    * first-index tie-break), so the whole op is ONE doc-keyed shuffle
    * (the embedding agg) followed by map-side math — at 100 TB the
    * centroids are a literal, nothing joins, nothing collects. */
  def topicAssign(df: DataFrame, id: String, text: String,
                  centroids: Array[Array[Double]] = TopicCentroids.K8,
                  dim: Int = 64, salt: Int = 17): DataFrame =
    hashEmbedVectors(df, id, text, dim, salt)
      .select(col(id),
        graft.sim.Similarity.ivfAssign(col("embedding"), centroids)
          .cast("long").as("topic"))

  /** Eval-contamination report (beyond reference, t15): the REVERSE
    * direction of [[contamination]] — instead of finding train docs to
    * drop, measure how contaminated each BENCHMARK doc is: of its
    * distinct k-grams, what fraction appears anywhere in the train
    * corpus. This is the standard "X% of the eval set is contaminated"
    * disclosure that accompanies LLM releases; `contaminated` flags
    * docs at/above `minRatio`. Benchmark docs shorter than k tokens
    * carry no k-gram and are not emitted (contamination is undefined
    * at 0/0 — gate them by length upstream, the t08/t12 contract).
    *
    * Scale shape: the train side collapses to DISTINCT GRAMS (a
    * map-side-combinable agg — train doc identity is irrelevant here,
    * which is what makes this cheaper than t01's pair join), then ONE
    * gram-keyed left join against the benchmark grams and a per-bench
    * agg. At 100 TB, map-side-prune the train gram frame with the
    * benchmark Bloom filter first (the [[bloomContamination]] shape —
    * false positives die in the exact join, so the report stays
    * exact). */
  def contaminationReport(train: DataFrame, bench: DataFrame, id: String,
                          text: String, k: Int = 8,
                          minRatio: Double = 0.2): DataFrame = {
    val bg = shingles(bench, id, text, k).withColumnRenamed(id, "bench_id")
    val tg = shingles(train, id, text, k)
      .select(col("shingle")).distinct()
      .withColumn("_hit", lit(1))
    bg.join(tg, Seq("shingle"), "left")
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_shared"))
      .withColumn("contamination",
        round(col("n_shared") / col("n_grams"), 6))
      .withColumn("contaminated",
        (col("contamination") >= minRatio).cast("int"))
  }

  /** Bloom-filter decontamination (beyond reference): the at-scale
    * variant of [[contamination]]. The inverted-index join shuffles
    * EVERY distinct train gram; on a 100 TB train corpus that shuffle
    * dwarfs the benchmark side (benchmarks are MBs, corpora are TBs).
    * The sketch shape fixes the asymmetry:
    *
    *  1. build a Bloom filter over the benchmark grams (Spark's
    *     `DataFrameStatFunctions.bloomFilter` — a treeAggregate whose
    *     traffic is the filter bits, independent of train size);
    *  2. broadcast it and probe each train gram MAP-SIDE, keeping only
    *     train docs with ≥1 possibly-shared gram. Bloom filters have no
    *     false negatives, so no contaminated doc is lost;
    *  3. run the exact gram join on the surviving sliver only — false
    *     positives die here, making the output EXACTLY
    *     `contamination(train, bench)` (which is why the t06 gate can
    *     hash-compare it against the plain-join DuckDB oracle).
    *
    * Shuffle economics: the full-corpus stage is now map-only; the one
    * gram-keyed shuffle handles only flagged docs — at the default fpp,
    * |survivors| ≈ |true contaminated| + fpp·|train docs|. */
  def bloomContamination(train: DataFrame, bench: DataFrame, id: String,
                         text: String, k: Int = 8, minShared: Long = 1,
                         fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    // bench grams are read three times (count for sizing, bloom build,
    // the exact join) — persist the small side once
    val bg = shingles(bench, id, text, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nGrams = math.max(bg.count(), 1L)
    val bloom = bg.stat.bloomFilter("shingle", nGrams, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val tg = shingles(train, id, text, k)
    // codegen'd probe (graft.functions.BloomProbe) — the old Scala
    // Row-closure filter deserialized every train gram and ended the
    // whole-stage-codegen span; the native expression keeps the probe
    // in-span, probes the UTF-8 bytes directly, and is plan-visible
    val flagged = tg
      .filter(graft.functions.BloomProbe(col("shingle"), bc))
      .select(col(id)).distinct()
    val tgFlagged = shingles(train.join(flagged, id), id, text, k)
      .withColumnRenamed(id, "train_id")
    // eager checkpoint: materializes the (small) result and truncates
    // lineage, so releasing the persisted gram frame can never trigger
    // a recompute in the caller
    val out = tgFlagged.join(bg.withColumnRenamed(id, "bench_id"), "shingle")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .localCheckpoint(true)
    bg.unpersist(blocking = false)
    out
  }

  /** Word-bigram rows (id, w1, w2) WITH duplicates — consecutive token
    * pairs per document via one window lead over the exploded tokens
    * (the k=2 case of [[shinglesAll]], kept as separate columns for
    * count-table joins). */
  def bigramsAll(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = tokens(df, text).select(col(id), col("pos"), col("token"))
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    toks.withColumn("w2", lead(col("token"), 1).over(w))
      .withColumn("w1", col("token"))  // window exprs must be materialized
      .filter(col("w2").isNotNull)     // before they can appear in a filter
      .select(col(id), col("w1"), col("w2"))
  }

  /** N-gram language-model scoring (beyond reference): the classic
    * perplexity-style quality filter of LLM data pipelines — train an
    * add-k-smoothed bigram LM on a reference corpus, score each
    * candidate document by its mean token log-likelihood (and
    * perplexity = exp(−mean)). Low-likelihood documents are gibberish /
    * wrong-language / boilerplate candidates.
    *
    * Model: P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V), where c(w1·) is
    * the bigram-context count (= Σ_w2 c(w1,w2), derived from the bigram
    * frame — no separate unigram pass) and V the train vocabulary size.
    * Unseen grams/contexts fall back to the smoothing mass — no −inf.
    *
    * Scale shape: train counts are one gram-keyed map-side-combinable
    * agg; the bigram-count join is gram-keyed on (w1, w2) — the
    * inverted-index join shape, well-spread because the composite key
    * dilutes the Zipf head. The CONTEXT-count table c1 is |vocab| rows
    * by construction, so it is broadcast: joining it on the bare
    * unigram w1 would concentrate every "the"/"of" bigram of a 100 TB
    * eval corpus onto single reducers. One per-doc agg closes; V is
    * the one driver scalar (a count, not data). */
  /** Frozen bigram-LM model: the train-side tables of [[lmScore]],
    * computed ONCE so a stream (or repeated batches) can score against
    * them without re-reading the reference corpus. */
  case class LmModel(c2: DataFrame, c1: DataFrame, vocab: Long)

  /** Train [[lmScore]]'s model tables from the reference corpus. */
  def lmTrain(train: DataFrame, id: String, text: String): LmModel = {
    // c1 derives from c2 and the scoring join reads BOTH, so the bigram
    // explode + agg evaluates twice per score pass. Deliberately LIVE:
    // both materialization strategies measured SLOWER end-to-end at
    // sf0.1 (eager localCheckpoint t08 0.49→1.44 s, lazy persist
    // 0.49→0.96 s — cache build + row conversion outweigh the cheap
    // re-agg, and caching breaks the whole-stage pipeline). A caller
    // amortizing ONE model over many scoring passes should persist the
    // returned frames itself — that is the 100 TB serving shape.
    val c2 = bigramsAll(train, id, text)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = tokens(train, text).select(col("token")).distinct().count()
    LmModel(c2, c1, vocab)
  }

  /** Score `eval` against a frozen [[LmModel]] (the scoring half of
    * [[lmScore]] — per-doc math only, no model recompute). */
  def lmScoreWith(m: LmModel, eval: DataFrame, id: String, text: String,
                  addK: Double = 0.5): DataFrame = {
    // The c1 join key is the Zipf head ("the"/"of" carry a huge share
    // of all bigrams), so a plain shuffle join concentrates those keys
    // onto single reducers. Broadcasting c1 sidesteps the skew — but
    // |c1| = |train vocab| is data-dependent, so broadcast only while
    // the table is safely driver-sized (~tens of MB at 1M entries) and
    // fall back to a shuffle join beyond that, where AQE's skew-join
    // split handles the hot keys.
    val c1Side = if (m.vocab <= 10_000_000L) broadcast(m.c1) else m.c1
    bigramsAll(eval, id, text)
      .join(m.c2, Seq("w1", "w2"), "left")
      .join(c1Side, Seq("w1"), "left")
      .withColumn("lp",
        log((coalesce(col("c2"), lit(0L)) + lit(addK)) /
            (coalesce(col("c1"), lit(0L)) + lit(addK * m.vocab))))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"), avg(col("lp")).as("avg_logprob"))
      .withColumn("perplexity", exp(-col("avg_logprob")))
  }

  def lmScore(train: DataFrame, eval: DataFrame, id: String, text: String,
              addK: Double = 0.5): DataFrame =
    lmScoreWith(lmTrain(train, id, text), eval, id, text, addK)

  /** Sequence packing (beyond reference): pack documents into
    * fixed-token-budget training sequences — the standard "fill each
    * context window" step between curation and tokenizer output in an
    * LLM pipeline. Greedy first-fit in id order WITHIN each `key` group
    * (shard/source): a doc that would overflow the running sequence
    * starts the next one; an oversized doc (> budget) occupies a
    * sequence alone. Output: one row per doc with its (per-key) seq_id.
    *
    * Scale shape: global greedy packing is inherently sequential, so at
    * 100 TB packing is ALWAYS per-shard — that is exactly the `key`
    * contract here. One keyed shuffle (repartition on key + in-partition
    * sort), then one in-partition scan with O(1) state (the per-key
    * walk of [[graft.series.SeriesOps.runs]], without a per-run
    * buffer): a million shards pack in parallel, memory independent of
    * shard size. */
  def packSequences(df: DataFrame, id: String, key: String, text: String,
                    budget: Long): DataFrame = {
    // id stays its natural type (long, string, or a composite struct
    // like (doc_id, chunk_id)) — Row-based so packing order is the id's
    // own ordering, and callers never need a lossy arithmetic encoding
    // of composite identities into a Long
    val counts = tokens(df, text)
      .groupBy(col(key).cast("string").as("_g"), col(id).as("_id"))
      .agg(count(lit(1)).as("_n"))
    packCounts(counts, budget).toDF(key, id, "n_tokens", "seq_id")
  }

  /** The greedy first-fit core shared by [[packSequences]] and
    * [[packTokenIds]]: a (`_g` group, `_id`, `_n` cost) frame → one
    * keyed shuffle, in-partition sort, O(1)-state consecutive-run
    * pass. */
  private def packCounts(counts: DataFrame, budget: Long): DataFrame = {
    val sorted = counts
      .repartition(col("_g"))
      .sortWithinPartitions(col("_g"), col("_id"))
    val outSchema = sorted.schema
      .add("seq_id", org.apache.spark.sql.types.LongType, nullable = false)
    sorted.mapPartitions { rows =>
      var curKey: String = null
      var curSum = 0L
      var seq = 0L
      rows.map { r =>
        val g = r.getString(0)
        val n = r.getLong(2)
        if (g != curKey) { curKey = g; seq = 0L; curSum = n }
        else if (curSum + n > budget) { seq += 1; curSum = n }
        else curSum += n
        org.apache.spark.sql.Row(g, r.get(1), n, seq)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Tokenizer-feed sequence packing (t09b): [[packSequences]] on the
    * REAL token ids — each document costs its BPE token count PLUS
    * one `eosId` separator (the reserved special id from
    * [[graft.text.Bpe.vocab]]'s `reserved` block), and the output is
    * the packed id STREAM itself: one row per token,
    * (key, seq_id, doc, seq_pos, token_id), every document followed
    * by its eos row — exactly what a training loader memory-maps.
    * Documents that encode to zero symbols still ship their eos (an
    * empty doc is a document boundary, not nothing).
    *
    * Scale shape: the encode is the map-side [[graft.text.Bpe
    * .encodeIds]]; costs aggregate per doc; the greedy pass is the
    * per-shard [[packCounts]] core; the final seq_pos is a window
    * over (key, seq) partitions — each a bounded `budget`-sized run,
    * so the sort inside the window never sees more than one
    * sequence's tokens per group. */
  def packTokenIds(df: DataFrame, id: String, key: String, text: String,
                   merges: Seq[graft.text.Bpe.Merge],
                   vocab: Seq[(Int, String, String)],
                   budget: Long, eosId: Int): DataFrame = {
    val keys = df.select(col(id).as("_id"),
      col(key).cast("string").as("_g"))
    // the encoded id stream feeds TWO consumers (the per-doc cost agg
    // and the final union+join) and the merge-fold encode chain is the
    // most expensive map work in the op — materialize it once instead
    // of encoding the corpus twice (guide §5: reuse beats recompute
    // when the recompute is the hot path; spills to disk when the
    // token stream outgrows memory)
    val ids = graft.text.Bpe.encodeIds(df, id, text, merges, vocab)
      .select(col(id).as("_id"), col("pos"), col("token_id"))
      .localCheckpoint()
    // per-doc cost = symbol count + 1 eos; zero-symbol docs kept
    val counts = keys.join(
        ids.groupBy(col("_id")).agg(count(lit(1)).as("_c")),
        Seq("_id"), "left")
      .select(col("_g"), col("_id"),
        (coalesce(col("_c"), lit(0L)) + 1L).as("_n"))
    // doc-sized (one row per document) and consumed twice (eos rows +
    // the seq assignment join) — checkpoint so the shard sort + greedy
    // pass runs once
    val packed = packCounts(counts, budget)
      .toDF("_g", "_id", "_n", "seq_id")
      .localCheckpoint()
    val eosRows = packed.select(col("_id"),
      (col("_n") - 1L).cast("int").as("pos"),
      lit(eosId).as("token_id"))
    ids.unionByName(eosRows)
      .join(packed.select(col("_g"), col("_id"), col("seq_id")),
        Seq("_id"))
      .withColumn("seq_pos",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("_g"), col("seq_id"))
          .orderBy(col("_id"), col("pos"))) - 1)
      .select(col("_g").as(key), col("seq_id"), col("_id").as(id),
        col("seq_pos"), col("token_id"))
  }

  /** Hashed-n-gram importance weights (beyond reference): the
    * importance-resampling scoring step used to select pretraining data
    * toward a target distribution (DSIR-style). Features are hashed
    * word bigrams in `nBuckets` buckets; each source document scores
    * log w(d) = Σ_grams [ln p̂_target(b) − ln p̂_source(b)] with add-1
    * smoothed bucket probabilities. High log-weight documents look like
    * the target corpus; resample source ∝ exp(log w).
    *
    * Scale shape: both bucket-count tables are nBuckets rows (a
    * map-side-combinable agg each), the log-ratio table is broadcast,
    * and scoring is a map-side broadcast join + one per-doc agg — the
    * full source corpus is never shuffled on anything wider than its
    * own doc ids. */
  /** CCNet-style perplexity-bucket sampling (beyond reference, t12):
    * score docs with the reference bigram LM ([[lmScore]]), cut the
    * 6-decimal-rounded mean-log-likelihood distribution into
    * `fractions.length` equal-probability buckets (bucket 1 = the LM's
    * "head": highest likelihood / lowest perplexity), then keep each
    * bucket at its target rate via the deterministic salted-hash
    * buckets of the a04 family — the head/middle/tail curation step
    * that keeps SOME low-quality tail (diversity) instead of a hard
    * perplexity floor. Docs with no bigram have no perplexity and are
    * not emitted (gate them by length upstream).
    *
    * Scale shape: one LM scoring pass, ONE percentile agg for the
    * bucket edges (a `fractions.length`-sized driver value, the
    * Grasynda-edge pattern), then a pure map-side bucket-assign +
    * hash-filter — no global sort, no window; the ntile alternative
    * would funnel the corpus through a single-partition rank. Edges
    * and scores are both 6-decimal-rounded so the bucket comparisons
    * are exact on both oracle engines. */
  def perplexityBucketSample(ref: DataFrame, docs: DataFrame, id: String,
                             text: String, addK: Double = 0.5,
                             fractions: Seq[Double] = Seq(1.0, 0.5, 0.1),
                             salt: Int = 29): DataFrame = {
    val n = fractions.length
    require(n >= 2, "need at least two buckets")
    val scores = lmScore(ref, docs, id, text, addK)
      .select(col(id), col("n_bigrams"),
        round(col("avg_logprob"), 6).as("avg_logprob"))
      .localCheckpoint() // feeds the edge agg AND the bucket assign
    perplexityBucketApply(scores, id,
      perplexityBucketEdges(scores, n), fractions, salt)
  }

  /** The edge-freezing half of [[perplexityBucketSample]]: the n−1
    * equal-probability percentile edges of the r6 avg_logprob
    * distribution — an (n−1)-sized driver value computed once from a
    * static planning corpus, which a stream then replays against
    * ([[graft.streaming.StreamingScore]]). */
  def perplexityBucketEdges(scores: DataFrame, n: Int): Seq[Double] = {
    val probs = (1 until n).map(i => 1.0 - i.toDouble / n)
    scores
      .agg(expr(s"percentile(avg_logprob, array(${probs.mkString(",")}))"))
      .first().getSeq[Double](0)
      .map(e => BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  /** The map-side half of [[perplexityBucketSample]]: assign each
    * scored doc its bucket against FROZEN edges and keep it at the
    * bucket's target rate via the salted hash gate. No agg, no window
    * — safe to run per micro-batch. `scores` must carry (id,
    * n_bigrams, avg_logprob) with avg_logprob already r6-rounded. */
  def perplexityBucketApply(scores: DataFrame, id: String,
                            edges: Seq[Double], fractions: Seq[Double],
                            salt: Int): DataFrame = {
    val n = fractions.length
    require(edges.length == n - 1,
      s"need ${n - 1} edges for $n buckets, got ${edges.length}")
    val bucket = edges.zipWithIndex.foldRight(lit(n): Column) {
      case ((e, i), acc) => when(col("avg_logprob") >= e, i + 1).otherwise(acc)
    }
    val hb = pmod(Dedup.h64(col(id).cast("string"), salt), lit(10000L))
    val cut = fractions.zipWithIndex.foldRight(lit(0L): Column) {
      case ((f, i), acc) =>
        when(col("bucket") === i + 1, math.round(f * 10000)).otherwise(acc)
    }
    scores.withColumn("bucket", bucket)
      .filter(hb < cut)
      .select(col(id), col("n_bigrams"), col("avg_logprob"), col("bucket"))
  }

  private def bucketedBigrams(df: DataFrame, id: String, text: String,
                              nBuckets: Int, salt: Int): DataFrame =
    bigramsAll(df, id, text).withColumn("b",
      pmod(Dedup.h64(concat_ws(" ", col("w1"), col("w2")), salt),
        lit(nBuckets.toLong)))

  /** Frozen importance model: the per-bucket log-ratio table of
    * [[importanceWeights]] (nBuckets rows, broadcastable) computed once
    * from static source/target references — what a stream scores
    * against. */
  def importanceModel(source: DataFrame, target: DataFrame, id: String,
                      text: String, nBuckets: Int = 1024,
                      salt: Int = 13): DataFrame = {
    val ct = bucketedBigrams(target, id, text, nBuckets, salt)
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val cs = bucketedBigrams(source, id, text, nBuckets, salt)
      .groupBy(col("b")).agg(count(lit(1)).as("cs"))
    val totals = ct.agg(sum(col("ct")).as("nt"))
      .crossJoin(cs.agg(sum(col("cs")).as("ns")))
    ct.join(cs, Seq("b"), "full_outer")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + lit(1.0)) /
             (col("nt") + lit(nBuckets.toDouble))) -
         log((coalesce(col("cs"), lit(0L)) + lit(1.0)) /
             (col("ns") + lit(nBuckets.toDouble)))).as("lr"))
  }

  /** Score docs against a frozen log-ratio table (the scoring half of
    * [[importanceWeights]]). */
  def importanceScoreWith(lr: DataFrame, docs: DataFrame, id: String,
                          text: String, nBuckets: Int = 1024,
                          salt: Int = 13): DataFrame =
    bucketedBigrams(docs, id, text, nBuckets, salt)
      .join(broadcast(lr), "b")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"), sum(col("lr")).as("log_weight"))

  def importanceWeights(source: DataFrame, target: DataFrame, id: String,
                        text: String, nBuckets: Int = 1024,
                        salt: Int = 13): DataFrame =
    importanceScoreWith(importanceModel(source, target, id, text, nBuckets, salt),
      source, id, text, nBuckets, salt)

  /** Quality-filter classifier scoring (beyond reference, t11): the
    * discriminative quality gate of LLM data pipelines — a logistic
    * model over hashed-bigram relative frequencies, weights trained
    * offline by [[graft.tools.TrainQualityFilter]] (distilling the t19
    * stop-ratio/TTR heuristic) and FROZEN in [[QualityFilterModel]] so
    * both the Spark plan and the DuckDB oracle read bit-identical
    * doubles. Per doc: logit = w₀ + Σ_b w_b·c_b / n_grams (one division,
    * 6-decimal rounded), q_prob = σ(logit) of the rounded logit,
    * keep = q_prob ≥ 0.5.
    *
    * Scale shape: the weight table is a 256-row literal broadcast — the
    * corpus shuffles only on (doc, bucket) and doc (both map-side
    * combinable aggs); nothing data-dependent is collected. The
    * importance-weight scorer ([[importanceWeights]]) is the
    * distribution-matching sibling; this is the absolute-quality gate. */
  def qualityClassifierScore(df: DataFrame, id: String, text: String): DataFrame = {
    import graft.text.{QualityFilterModel => M}
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = broadcast(
      M.W.zipWithIndex.map { case (wt, b) => (b.toLong, wt) }.toSeq.toDF("b", "w"))
    bigramsAll(df, id, text)
      .withColumn("b", pmod(Dedup.h64(concat_ws(" ", col("w1"), col("w2")),
        M.Salt), lit(M.NBuckets.toLong)))
      .groupBy(col(id), col("b")).agg(count(lit(1)).as("c"))
      .join(wdf, "b")
      .groupBy(col(id))
      .agg(sum(col("c")).as("n_grams"), sum(col("c") * col("w")).as("s"),
        count(lit(1)).as("nnz"))
      .withColumn("logit",
        round(lit(M.Intercept) + col("s") / col("n_grams") +
          lit(M.WDistinct) * col("nnz") / col("n_grams"), 6))
      .withColumn("q_prob",
        round(lit(1.0) / (lit(1.0) + exp(-col("logit"))), 6))
      .withColumn("keep", col("q_prob") >= 0.5)
      .select(col(id), col("n_grams"), col("logit"), col("q_prob"), col("keep"))
  }

  /** Repetition score (beyond reference): duplicated-k-gram fraction per
    * document, 1 − distinct/total — the Gopher-style intra-document
    * repetition quality filter. One explode + one keyed agg. */
  def repetitionScore(df: DataFrame, id: String, text: String,
                      k: Int = 3): DataFrame =
    shinglesAll(df, id, text, k)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("shingle")).as("n_distinct"))
      .withColumn("rep_ratio",
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6))

  /** Document fingerprint (rolling-hash style): the lexicographic MIN of
    * the md5 hex digests of all character n-grams, plus the distinct
    * n-gram count. A content-defined signature that is stable under
    * document reordering of the corpus and cheap at scale (one explode +
    * one agg). */
  def charGramFingerprint(df: DataFrame, id: String, text: String,
                          n: Int = 8): DataFrame =
    df.select(col(id), col(text).as("_t"))
      .filter(length(col("_t")) >= n)
      .select(col(id),
        explode(sequence(lit(1), length(col("_t")) - (n - 1))).as("i"),
        col("_t"))
      .select(col(id), md5(expr(s"substring(_t, i, $n)")).as("gram_md5"))
      .groupBy(col(id))
      .agg(min(col("gram_md5")).as("fingerprint"),
           countDistinct(col("gram_md5")).as("n_grams"))

  /** GPT-2-style pre-tokenizer regex, reduced to its RE2-compatible
    * core (the original's `\s+(?!\S)` lookahead is not RE2-expressible;
    * leading-space word/number/punct runs are): a token is an optional
    * leading space + a letter run, digit run, or other-symbol run, or a
    * bare space run. Leftmost-first alternation in both the JVM engine
    * and RE2, so counts agree across engines. */
  val BpeRe = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"

  /** Token counting both ways (the brief's "whitespace + a BPE-ish
    * regex"): `n_ws` = whitespace-delimited tokens, `n_bpe` = BPE-ish
    * regex pre-tokens. Pure map-side `regexp_count` — zero shuffles. */
  def tokenCounts(df: DataFrame, text: String): DataFrame =
    df.withColumn("n_ws", regexp_count(col(text), lit("[^ ]+")))
      .withColumn("n_bpe", regexp_count(col(text), lit(BpeRe)))
      .withColumn("bpe_ws_ratio",
        round(col("n_bpe").cast("double") /
          greatest(col("n_ws").cast("double"), lit(1.0)), 6))

  /** PII patterns used by [[redactPii]] — RE2-compatible (no lookaround,
    * no backrefs) so the identical pattern strings run on both the JVM
    * regex engine and DuckDB's RE2 oracle. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** PII redaction (beyond reference): replace email addresses and
    * phone numbers in a text column with typed placeholder tags and
    * count the replacements. Pure map-side `regexp_replace` /
    * `regexp_count` — zero shuffles, codegen'd, embarrassingly parallel
    * at 100 TB. Emits `n_email`, `n_phone` (IntegerType) and
    * `redacted`. */
  def redactPii(df: DataFrame, text: String): DataFrame =
    df.withColumn("n_email", regexp_count(col(text), lit(EmailRe)))
      .withColumn("n_phone", regexp_count(col(text), lit(PhoneRe)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col(text), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))

  /** Fixed-window document chunking with overlap (beyond reference):
    * the training-data shaping step that turns documents into model
    * context windows. Chunk i covers characters [i·stride, i·stride +
    * size); the last chunk starts at the smallest multiple of `stride`
    * whose window reaches the end of the document (a document shorter
    * than `size` yields exactly one chunk). One `posexplode` over a
    * computed `sequence` — map-side only, no shuffle; output is
    * (id, chunk_id INT, chunk, n_tokens INT), with any OTHER input
    * columns (an epoch tag, a source label) passed through per chunk. */
  def chunk(df: DataFrame, id: String, text: String,
            window: Int = 120, stride: Int = 80): DataFrame = {
    require(stride > 0 && window >= stride, "need 0 < stride <= window")
    val len = length(col(text))
    // ceil((len - window) / stride), clamped at 0: the numerator is
    // kept positive so the toward-zero int cast equals floor
    val nExtra = when(len > window,
      floor((len - window + (stride - 1)) / lit(stride))).otherwise(0)
    df.withColumn("chunk_id",
        explode(sequence(lit(0), nExtra.cast("int"))))
      .withColumn("chunk",
        expr(s"substring(`$text`, 1 + chunk_id * $stride, $window)"))
      .drop(text)
      .withColumn("n_tokens", size(split(col("chunk"), " ")))
  }

  /** TF-IDF top-k terms per document (beyond reference): smooth-idf
    * (sklearn convention) `tf · (ln((N+1)/(df+1)) + 1)`, ranked per
    * document by (score desc, token asc). Shuffle shape: one (doc,
    * token) agg for tf, one token agg for df (both map-side
    * combinable), a count-guarded broadcast token→df join back (the
    * token key is the Zipf head — the same skew shape as [[lmScoreWith]]'s
    * c1 join, guarded the same way: broadcast while |vocab| is safely
    * driver-sized, shuffle + AQE skew-split beyond), and a per-doc
    * window for the rank — no all-pairs step, so scale is bounded by
    * the tf frame (≈ corpus token count). N comes from a 1-row agg
    * crossJoin (kept in-plan — no driver count). */
  def tfIdfTopK(df: DataFrame, id: String, text: String,
                k: Int = 3): DataFrame = {
    val toks = df.select(col(id), explode(split(col(text), " ")).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy(col(id), col("token"))
      .agg(count(lit(1)).as("tf"))
    // the broadcast guard's probe and the score join both read dfreq.
    // Deliberately LIVE lineage (the probe costs one extra explode+agg
    // evaluation): both an eager localCheckpoint and a lazy persist
    // measured SLOWER end-to-end at sf0.1 (t05 0.9 s live vs 1.5–2.1 s
    // materialized — cache build + row conversion outweigh the cheap
    // re-agg and break whole-stage pipelining). The probe is a count
    // of the agg's output, so at 100 TB the extra evaluation is one
    // map-side-combinable agg over the corpus — bounded and
    // shuffle-light, not a scan blowup.
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // an exact count, not a `limit(n + 1).count()`: the agg reads its
    // whole input either way, a count ships one long per partition
    // where the limit shipped up to n rows each, and a limit's
    // generated class names its counter from a JVM-wide sequence, so it
    // missed the codegen cache and recompiled on every call
    val vocabSmall = dfreq.count() <= 10_000_000L
    val dfreqSide = if (vocabSmall) broadcast(dfreq) else dfreq
    val nDocs = df.agg(countDistinct(col(id)).as("_n"))
    val scored = tf.join(dfreqSide, "token").crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * (log((col("_n") + 1.0) / (col("df") + 1.0)) + 1.0))
    scored
      .withColumn("rk", row_number().over(Window.partitionBy(col(id))
        .orderBy(col("score").desc, col("token"))))
      .filter(col("rk") <= k)
      .select(col(id), col("token"), col("tf"), col("df"),
        round(col("score"), 6).as("score"), col("rk"))
  }

  /** Persisted BM25 index (beyond reference, t20) — the retrieval
    * counterpart of the s05 IVF-PQ index lifecycle: postings
    * (id, token, tf, dl) land as parquet PARTITIONED BY a token hash
    * bucket, so serving pushes the query vocabulary's bucket set as a
    * literal partition filter and reads only |query tokens|/nBuckets
    * of the index FILES. Doc length is denormalized per posting at
    * build time (pruned postings cannot reconstruct it), and corpus
    * stats persist as EXACT integers (n_docs, total_tokens) so
    * incremental appends update them exactly; avgdl = total/n is one
    * division of the same integers the in-memory path divides, so
    * indexed scores are bit-identical to [[bm25TopK]] (shared
    * oracle — the s04/s05 precedent). */
  def writeBm25Index(df: DataFrame, id: String, text: String,
                     path: String, nBuckets: Int = 64): Unit = {
    // the tokenize+count postings frame feeds FOUR consumers (the
    // postings write, the dl agg it joins — itself consumed twice —
    // and the _stats total); materialize each once instead of
    // re-tokenizing the corpus per consumer (guide §5 reuse; ~5 scans
    // → 1 at any corpus size)
    val (tf0, _) = bm25Corpus(df, id, text)
    val tf = tf0.localCheckpoint()
    val dl = tf.groupBy(col(id)).agg(sum(col("tf")).as("dl"))
      .localCheckpoint()
    tf.join(dl, Seq(id))
      .withColumn("tb", pmod(Dedup.h64(col("token"), Bm25BucketSalt),
        lit(nBuckets.toLong)).cast("int"))
      // cluster by the bucket key before the partitioned write (guide
      // §6): without it every write task opens a file in every tb=
      // directory (tasks × nBuckets small files); with it a bucket's
      // postings land in one task's file and AQE sizes the shuffle
      .repartition(col("tb"))
      .write.mode("overwrite").partitionBy("tb").parquet(path)
    // sidecars live INSIDE the index directory (underscore-prefixed, so
    // postings readers ignore them): _docs carries one (id, dl) row per
    // doc — the exact-integer ledger every stats correction and
    // compaction derives from — and _stats the corpus totals. One
    // directory holds the index's whole consistent state, so
    // compaction swaps it with a single rename pair.
    df.select(col(id)).join(dl, Seq(id), "left")
      .select(col(id), coalesce(col("dl"), lit(0L)).as("dl"))
      .write.mode("overwrite").parquet(s"$path/_docs")
    df.agg(count(lit(1)).cast("long").as("n_docs"))
      .crossJoin(tf.agg(
        coalesce(sum(col("tf")), lit(0L)).cast("long").as("total_tokens")))
      .write.mode("overwrite").parquet(s"$path/_stats")
  }

  /** Incrementally append NEW documents to a [[writeBm25Index]] index:
    * the same postings build in append mode (files land inside the
    * existing `tb=` bucket dirs) plus an exact-integer stats update.
    * CONTRACT: appended doc ids must be disjoint from the indexed ones
    * (the curate seen-register is the enforcement mechanism) — BM25
    * postings have no per-doc versioning, so re-ingesting an id would
    * double its term frequencies. Append-equals-rebuild holds because
    * df/avgdl/n_docs are pure corpus totals, indifferent to which
    * build pass contributed a posting. */
  def appendBm25Index(df: DataFrame, id: String, text: String,
                      path: String, nBuckets: Int = 64): Unit = {
    val spark = df.sparkSession
    // FAIL FAST on re-ingesting a currently-tombstoned id (the s05
    // appendIvfPqIndex contract): postings carry no per-doc versioning,
    // so the only sound cycle is delete → compact → re-ingest
    bm25Tombstones(spark, path).foreach { t =>
      val clash = df.select(col(id).cast("long").as("_id")).distinct()
        .join(broadcast(t.select(col("_id")).distinct()), Seq("_id"),
          "left_semi")
        .limit(1).count()
      require(clash == 0L,
        s"appendBm25Index: appended ids are tombstoned in $path — run " +
          "compactBm25Index before re-ingesting deleted ids")
    }
    val (tf, _) = bm25Corpus(df, id, text)
    val dl = tf.groupBy(col(id)).agg(sum(col("tf")).as("dl"))
    tf.join(dl, Seq(id))
      .withColumn("tb", pmod(Dedup.h64(col("token"), Bm25BucketSalt),
        lit(nBuckets.toLong)).cast("int"))
      .write.mode("append").partitionBy("tb").parquet(path)
    df.select(col(id)).join(dl, Seq(id), "left")
      .select(col(id), coalesce(col("dl"), lit(0L)).as("dl"))
      .write.mode("append").parquet(s"$path/_docs")
    val old = spark.read.parquet(s"$path/_stats").first()
    val add = df.agg(count(lit(1)).cast("long"))
      .crossJoin(tf.agg(coalesce(sum(col("tf")), lit(0L)).cast("long")))
      .first()
    import spark.implicits._
    Seq((old.getLong(0) + add.getLong(0), old.getLong(1) + add.getLong(1)))
      .toDF("n_docs", "total_tokens")
      .write.mode("overwrite").parquet(s"$path/_stats")
  }

  /** Tombstone sidecar location for a [[writeBm25Index]] index — the
    * s05 pattern: a plain parquet of `_id` longs kept BESIDE the index
    * so the index directory itself stays immutable between
    * compactions. */
  def bm25TombstonePath(indexPath: String): String =
    indexPath.stripSuffix("/") + "_tombstones"

  private def bm25Tombstones(spark: org.apache.spark.sql.SparkSession,
                             indexPath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(bm25TombstonePath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Delete documents from a [[writeBm25Index]] index by id: an
    * O(|ids|) APPEND to the tombstone sidecar — no index file is
    * touched. Serving ([[bm25TopKIndexed]]) anti-joins the sidecar and
    * corrects the corpus stats EXACTLY through the `_docs` ledger
    * (n_docs − |tombs|, total_tokens − Σ dl), so df, idf and avgdl all
    * behave as if the docs were never indexed — delete-equals-rebuild
    * is bit-exact, not approximate. Deleting an absent id is a no-op;
    * re-deleting is idempotent (set semantics through the ledger
    * join). */
  def deleteFromBm25Index(ids: DataFrame, id: String,
                          indexPath: String): Unit =
    ids.select(col(id).cast("long").as("_id")).distinct()
      .write.mode("append").parquet(bm25TombstonePath(indexPath))

  /** Fold the tombstones into the index files: survivors (postings and
    * the `_docs` ledger anti-joined, stats recomputed from the
    * surviving ledger — exact integers) are WRITTEN to a durable
    * `_compact_tmp` sibling, then the WHOLE index directory is swapped
    * with one rename pair (live → trash, tmp → live) and the sidecar
    * deleted LAST. Unlike the IVF-PQ compaction (cid-local — a doc
    * lives in one inverted list) this is a full rewrite: postings are
    * token-partitioned, so one doc's postings touch ~every `tb=`
    * bucket. Crash anywhere: either the old directory is intact (tombs
    * still correct serving), or the new one is live and the stale
    * tombstones correct NOTHING (their ids are gone from the `_docs`
    * ledger, so the stats correction is an empty join) — a re-run
    * completes the cleanup. Returns the number of tombstoned ids
    * folded. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String): Long = {
    val tombs = bm25Tombstones(spark, indexPath).getOrElse(return 0L)
    val tomb = broadcast(tombs.select(col("_id")).distinct())
    val base = indexPath.stripSuffix("/")
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(hconf)
    val docs0 = spark.read.parquet(s"$base/_docs")
    val idCol = docs0.columns.filter(_ != "dl").head
    val nFolded = docs0
      .join(tomb, docs0(idCol).cast("long") === tomb("_id"), "left_semi")
      .count()
    val tmp = base + "_compact_tmp"
    val postings = spark.read.parquet(base)
    postings
      .join(tomb, postings(idCol).cast("long") === tomb("_id"), "left_anti")
      .write.mode("overwrite").partitionBy("tb").parquet(tmp)
    val survivors = docs0
      .join(tomb, docs0(idCol).cast("long") === tomb("_id"), "left_anti")
    survivors.write.mode("overwrite").parquet(s"$tmp/_docs")
    survivors.agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).cast("long").as("total_tokens"))
      .write.mode("overwrite").parquet(s"$tmp/_stats")
    // Hadoop rename reports failure by RETURNING FALSE (not throwing):
    // an unchecked swap could delete the only surviving copy and the
    // tombstone sidecar while the live dir still holds tombstoned rows.
    // Check each step and abort (tombstones intact ⇒ serving stays
    // correct, a re-run completes the job) on failure.
    val trash = new org.apache.hadoop.fs.Path(base + "_compact_trash")
    val basePath = new org.apache.hadoop.fs.Path(base)
    if (!fs.rename(basePath, trash))
      throw new java.io.IOException(
        s"bm25 compaction: rename $base -> $trash failed (leftover " +
          "trash dir from a crashed run? remove it and re-run); " +
          "tombstones left intact, serving unaffected")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), basePath)) {
      // best-effort rollback so the live path keeps serving
      fs.rename(trash, basePath)
      throw new java.io.IOException(
        s"bm25 compaction: rename $tmp -> $base failed; old index " +
          "restored, tombstones left intact")
    }
    fs.delete(trash, true)
    fs.delete(new org.apache.hadoop.fs.Path(bm25TombstonePath(indexPath)),
      true)
    nFolded
  }

  /** Serve a literal query set from a persisted [[writeBm25Index]]:
    * the query vocabulary's bucket set (computed driver-side with the
    * same portable md5 hash) prunes the scan at the FILE level, then
    * the pruned postings flow through the exact [[bm25ScoreQueries]]
    * score path (df per query token is complete — every posting of a
    * token shares its bucket). Tombstoned docs
    * ([[deleteFromBm25Index]]) are anti-joined out of the pruned scan,
    * which also corrects df at serve time; n_docs/avgdl are corrected
    * EXACTLY through the `_docs` ledger (integer count and Σ dl of the
    * tombstoned members), so serving equals a rebuild without those
    * docs bit-for-bit. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
                      path: String, id: String = "doc_id",
                      queries: Seq[(Int, String)] = Bm25Queries,
                      k: Int = 5, k1: Double = 1.2, b: Double = 0.75,
                      nBuckets: Int = 64): DataFrame = {
    import spark.implicits._
    val qterms = queries.flatMap { case (qid, qt) =>
      qt.split(" ").filter(_.nonEmpty).distinct.map(t => (qid, t))
    }.toDF("query_id", "token")
    val buckets = queries.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .distinct.map(t => (h64Local(Bm25BucketSalt, t) % nBuckets).toInt)
      .distinct
    val st0 = spark.read.parquet(s"$path/_stats")
    val postings0 = spark.read.parquet(path)
      .filter(col("tb").isin(buckets: _*))
      .select(col(id), col("token"), col("tf"), col("dl"))
    val (st1, postings) = bm25Tombstones(spark, path) match {
      case Some(t) =>
        val tomb = broadcast(t.select(col("_id")).distinct())
        // stale tombstones (already folded by compaction) correct
        // nothing: the ledger join is empty for ids no longer present
        val ledger = spark.read.parquet(s"$path/_docs")
        val corr = ledger
          .join(tomb, ledger(id).cast("long") === tomb("_id"), "left_semi")
          .agg(count(lit(1)).cast("long").as("_dn"),
            coalesce(sum(col("dl")), lit(0L)).cast("long").as("_dt"))
        (st0.crossJoin(broadcast(corr))
          .select((col("n_docs") - col("_dn")).as("n_docs"),
            (col("total_tokens") - col("_dt")).as("total_tokens")),
          postings0.join(tomb,
            postings0(id).cast("long") === tomb("_id"), "left_anti"))
      case None => (st0, postings0)
    }
    val st = st1.select(col("n_docs"),
      (col("total_tokens").cast("double") / col("n_docs")).as("avgdl"))
    bm25ScoreQueries(postings, st, id, qterms, k, k1, b)
  }

  /** The serving-side bucket salt, shared by build and serve. */
  val Bm25BucketSalt: Int = 19

  /** Driver-side twin of [[Dedup.h64]] (first 15 hex chars of
    * md5("salt|s") as a base-16 long) — used to turn the literal query
    * vocabulary into a partition-filter bucket set. */
  private def h64Local(salt: Int, s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$salt|$s".getBytes("UTF-8"))
      .map(bb => f"${bb & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** The fixed retrieval query set shared by the t19 Spark query and
    * its DuckDB oracle (the oracle embeds the same literals). Terms are
    * drawn from the corpus vocabulary so every query has candidates. */
  val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "hash join table",
    2 -> "window agg stream",
    3 -> "fast scan filter",
    4 -> "sort merge join",
    5 -> "customer query data",
    6 -> "vector column batch")

  /** BM25 top-k retrieval (beyond reference): score a small query set
    * against the corpus with Okapi BM25 (Lucene convention,
    * idf = ln(1 + (N − df + ½)/(df + ½)), k1/b length normalization)
    * and return the k best documents per query — the targeted
    * data-selection primitive (pull the training documents most
    * relevant to a benchmark or domain description).
    *
    * Shaped for a 100 TB corpus against a KB-sized query set:
    *
    *  1. per-doc length is a map-side per-row regexp count fused into
    *     the scan projection — no corpus-wide length join;
    *  2. the (doc, token) tf agg is the only full-corpus shuffle
    *     (map-side combinable); postings are then semi-restricted to
    *     the broadcast query vocabulary BEFORE any df work, so df
    *     aggregation and scoring touch only query-term postings;
    *  3. df, the query-term table, and the 1-row corpus stats all join
    *     back by broadcast;
    *  4. top-k is two-phase: a salted per-(query, salt-bucket) partial
    *     rank bounds the final per-query window to 64·k rows, so one
    *     hot query over a 100 TB corpus cannot funnel its whole
    *     candidate set through a single reducer. Partial top-k is
    *     lossless here: anything outside its bucket's top k is beaten
    *     by k same-bucket candidates and cannot be in the global top k.
    */
  def bm25TopK(df: DataFrame, id: String, text: String,
               queries: Seq[(Int, String)] = Bm25Queries, k: Int = 5,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (tf, stats) = bm25Corpus(df, id, text)
    val qterms = queries.flatMap { case (qid, qt) =>
      qt.split(" ").filter(_.nonEmpty).distinct.map(t => (qid, t))
    }.toDF("query_id", "token")
    bm25ScoreQueries(tf, stats, id, qterms, k, k1, b)
  }

  /** Per-COLLECTION BM25 top-k (t19b — the `*b` family pass over t19):
    * every corpus statistic (df, n_docs, avgdl) is computed WITHIN each
    * `series` group and each query is ranked independently per
    * collection — the multi-tenant retrieval form ("top-5 per tenant",
    * "per crawl snapshot"). Same plan contract as [[bm25TopK]] with the
    * collection key riding every agg/join/window key: postings
    * semi-restrict to the broadcast query vocabulary BEFORE df work,
    * dl = Σ tf per (series, doc) from the postings themselves (never a
    * Generate-adjacent regexp — the t19 doc-length lesson), per-series
    * stats join back broadcast (|series| rows), and the top-k stays
    * two-phase salted so one hot (collection, query) cannot funnel a
    * reducer. */
  def bm25TopKBy(df: DataFrame, id: String, series: String, text: String,
                 queries: Seq[(Int, String)] = Bm25Queries, k: Int = 5,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dlCol = size(regexp_extract_all(col(text), lit("[^ ]+"), lit(0)))
      .cast("long")
    val stats = df.groupBy(col(series))
      .agg(count(lit(1)).cast("long").as("n_docs"), avg(dlCol).as("avgdl"))
    val toks = df
      .select(col(series), col(id), explode(split(col(text), " ")).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy(col(series), col(id), col("token"))
      .agg(count(lit(1)).as("tf"))
    val qterms = queries.flatMap { case (qid, qt) =>
      qt.split(" ").filter(_.nonEmpty).distinct.map(t => (qid, t))
    }.toDF("query_id", "token")
    val tfq = tf.join(broadcast(qterms.select(col("token")).distinct()),
      Seq("token"))
    val dl = tf.groupBy(col(series), col(id)).agg(sum(col("tf")).as("dl"))
    val dfq = tfq.groupBy(col(series), col("token"))
      .agg(count(lit(1)).as("df"))
    val parts = tfq.join(dl, Seq(series, id))
      .join(broadcast(dfq), Seq(series, "token"))
      .join(broadcast(qterms), Seq("token"))
      .join(broadcast(stats), Seq(series))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("part", col("idf") * col("tf") * (lit(k1) + lit(1.0)) /
        (col("tf") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
    val g = parts.groupBy(col(series), col("query_id"), col(id))
      .agg(count(lit(1)).as("n_hit"),
        round(sum(col("part")), 6).as("score"))
    val pre = g
      .withColumn("_salt", pmod(xxhash64(col(id)), lit(64)))
      .withColumn("_prk", row_number().over(
        Window.partitionBy(col(series), col("query_id"), col("_salt"))
          .orderBy(col("score").desc, col(id))))
      .filter(col("_prk") <= k)
    pre
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(series), col("query_id"))
          .orderBy(col("score").desc, col(id))))
      .filter(col("rk") <= k)
      .select(col(series), col("query_id"), col(id), col("n_hit"),
        col("score"), col("rk"))
  }

  /** The static half of BM25 serving: the per-(doc, token) postings
    * frame (the only full-corpus shuffle) and the 1-row corpus stats.
    * Build once, persist, then score arbitrarily many query batches
    * against it with [[bm25ScoreQueries]].
    *
    * Doc length is deliberately NOT carried through the token explode:
    * a per-row `dl` expression selected NEXT TO `explode(...)` gets
    * pushed below the Generate by projection collapse and re-evaluates
    * the full-text regexp ONCE PER TOKEN — O(tokens²) per doc, a 67×
    * blowup on the 10× doc-length axis (the a06 higher-order-lambda
    * pathology in projection form). The scorer derives dl = Σ tf per
    * doc from the postings themselves instead; the 1-row stats agg has
    * no Generate in its lineage, so its per-row regexp is safe. */
  def bm25Corpus(df: DataFrame, id: String,
                 text: String): (DataFrame, DataFrame) = {
    val dlCol = size(regexp_extract_all(col(text), lit("[^ ]+"), lit(0)))
      .cast("long")
    val stats = df.agg(count(lit(1)).cast("long").as("n_docs"),
      avg(dlCol).as("avgdl"))
    val toks = df
      .select(col(id), explode(split(col(text), " ")).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy(col(id), col("token"))
      .agg(count(lit(1)).as("tf"))
    (tf, stats)
  }

  /** Score a (query_id, token) term table against a prebuilt
    * [[bm25Corpus]]; see [[bm25TopK]] for the plan-shape contract.
    * If `tf` already carries a `dl` column (the persisted-index path,
    * where doc length is denormalized at build time because pruned
    * postings cannot reconstruct it), it is used as-is; otherwise doc
    * length joins back as a narrow (id, Σ tf) frame — one extra
    * doc-keyed shuffle of ~16 bytes/doc, orders below the tf shuffle. */
  def bm25ScoreQueries(tf: DataFrame, stats: DataFrame, id: String,
                       qterms: DataFrame, k: Int = 5,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val hasDl = tf.columns.contains("dl")
    val dl =
      if (hasDl) null
      else tf.groupBy(col(id)).agg(sum(col("tf")).as("dl"))
    val tfq = tf.join(broadcast(qterms.select(col("token")).distinct()),
      Seq("token"))
    val dfq = tfq.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val withDl =
      if (hasDl) tfq
      else tfq.join(dl, Seq(id))
    val parts = withDl
      .join(broadcast(dfq), Seq("token"))
      .join(broadcast(qterms), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("part", col("idf") * col("tf") * (lit(k1) + lit(1.0)) /
        (col("tf") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
    // rank on the ROUNDED score (doc_id tiebreak): per-doc part sums are
    // order-dependent at the ulp, so ranking on the raw double would let
    // two docs with identical part multisets swap ranks between engines;
    // at 1e-6 granularity ties resolve by doc_id identically everywhere
    val g = parts.groupBy(col("query_id"), col(id))
      .agg(count(lit(1)).as("n_hit"),
        round(sum(col("part")), 6).as("score"))
    val pre = g
      .withColumn("_salt", pmod(xxhash64(col(id)), lit(64)))
      .withColumn("_prk", row_number().over(
        Window.partitionBy(col("query_id"), col("_salt"))
          .orderBy(col("score").desc, col(id))))
      .filter(col("_prk") <= k)
    pre
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col(id))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col(id), col("n_hit"), col("score"),
        col("rk"))
  }

  /** C4's Latin-script terminal-punctuation rule — the [[lineFilter]]
    * default. */
  val TerminalPunctLatin = "[.!?\"]$"

  /** CJK-inclusive terminal rule: the Latin set plus the ideographic
    * full stop / full-width !? (。！？), ellipsis (…), and the closing
    * CJK quotes/bracket (」』）) — the set a zh/ja corpus needs so the
    * C4 line gate stops dropping every CJK sentence. */
  val TerminalPunctCjk =
    "[.!?\"。！？…」』）]$"

  /** C4-style line-level quality filter (beyond reference; Raffel et
    * al. 2020 §2.2): within each document, keep only lines that (a)
    * have at least `minWords` words, (b) end in terminal punctuation
    * (`. ! ? "`) when `requireTerminal` is set, and (c) contain none of
    * the lowercase `blocklist` substrings (the "javascript"/cookie-
    * notice rule). Documents are NOT dropped — their surviving lines
    * are re-joined, with per-doc funnel counts.
    *
    * Scale shape: pure map-side higher-order functions over the line
    * array (`split` → `filter` → `concat_ws`) — zero shuffles, fully
    * codegen'd, embarrassingly parallel at 100 TB. No Generate in the
    * lineage, so no projection-collapse re-evaluation risk (the t19
    * pathology class). Emits (id, n_lines INT, n_kept INT, clean).
    *
    * `terminalRegex` is the terminal-punctuation rule — the default is
    * C4's Latin-script set, which (deliberately visible here) drops
    * every CJK line; pass [[TerminalPunctCjk]] (or any RE2-compatible
    * class) for corpora where sentences end in 。！？…」』. */
  def lineFilter(df: DataFrame, id: String, text: String,
                 minWords: Int = 3, requireTerminal: Boolean = true,
                 blocklist: Seq[String] = Seq("javascript", "cookie",
                   "{"),
                 terminalRegex: String = TerminalPunctLatin): DataFrame = {
    val lines = split(col(text), "\n")
    val wordsOk =
      (ln: Column) => size(filter(split(ln, " "), t => t =!= "")) >=
        minWords
    val termOk =
      (ln: Column) =>
        if (requireTerminal) ln.rlike(terminalRegex) else lit(true)
    val blockOk =
      (ln: Column) => blocklist.map(b => !contains(lower(ln), lit(b)))
        .reduceOption(_ && _).getOrElse(lit(true))
    val kept = filter(lines,
      ln => wordsOk(ln) && termOk(ln) && blockOk(ln))
    df.withColumn("n_lines", size(lines))
      .withColumn("n_kept", size(kept))
      .withColumn("clean", concat_ws("\n", kept))
      .drop(text)
  }

  /** Cross-document repeated-line removal (beyond reference; the
    * CCNet/RefinedWeb boilerplate-line dedup): a line that appears in
    * at least `maxDf` DISTINCT documents is boilerplate (navigation
    * chrome, cookie banners, license footers) and is removed from
    * every document; unique prose survives. Emits per-doc
    * (n_lines INT, n_kept INT, clean) like [[lineFilter]].
    *
    * Scale shape — the t21 inverted-index shape at line granularity,
    * nothing pairwise: one posexplode, ONE (line)-keyed distinct-doc
    * df aggregation, one line-keyed join back, one doc-keyed
    * reassembly agg (order restored from the carried `pos`). Line df
    * is skew-bounded the same way gram df is: the df frame is
    * `df >= maxDf` only when joined, and the reassembly agg is keyed
    * on the doc id, so a corpus-wide boilerplate line never funnels
    * through one reducer. Blank lines are preserved verbatim (they
    * carry document structure and would otherwise all hash
    * together). */
  def dedupLines(df: DataFrame, id: String, text: String,
                 maxDf: Int = 5): DataFrame = {
    // ONE explode pass: the exploded line frame is materialized once
    // (localCheckpoint) and shared by its three consumers — the
    // line-df aggregation, the anti-join probe side, and the per-doc
    // line counts. Unmaterialized, each consumer re-runs the
    // scan + split + posexplode (r12/r13 bench: the t25 doclen-axis
    // ratio sat at 5–6× because the 10×-longer text was split three
    // times); storing the lines once trades executor-local spill
    // space for two full corpus re-reads — the right trade at any
    // scale where the text dominates the row.
    val other = df.columns.filterNot(_ == text).map(col)
    val lined = df.select(other :+
        posexplode(split(col(text), "\n")).as(Seq("pos", "line")): _*)
      .localCheckpoint()
    // count_distinct instead of distinct-then-count: one logical agg
    // keyed on the line with map-side partial aggregation, not two
    // full exchanges of the exploded line text
    val flagged = lined.filter(col("line") =!= "")
      .groupBy(col("line"))
      .agg(count_distinct(col(id)).as("line_df"))
      .filter(col("line_df") >= maxDf)
      .select(col("line"))
    removeLinesFrom(lined, flagged, id)
  }

  /** The boilerplate-line frame behind [[dedupLines]]: distinct
    * non-blank lines appearing in at least `maxDf` DISTINCT documents
    * (one posexplode + one line-keyed distinct-doc count). Persist
    * this frame once to run [[removeLines]] against a frozen corpus —
    * the streaming twin's stream-static shape. */
  def boilerplateLines(df: DataFrame, id: String, text: String,
                       maxDf: Int = 5): DataFrame = {
    val lined = df.select(col(id),
      explode(split(col(text), "\n")).as("line"))
    lined.filter(col("line") =!= "")
      .groupBy(col("line"))
      .agg(count_distinct(col(id)).as("line_df"))
      .filter(col("line_df") >= maxDf)
      .select(col("line"))
  }

  /** Remove every line in `refLines` from each document, preserving
    * the order of the survivors; per-doc funnel counts ride along.
    * One line-keyed anti-join + one doc-keyed reassembly agg. */
  def removeLines(refLines: DataFrame, df: DataFrame, id: String,
                  text: String): DataFrame = {
    val other = df.columns.filterNot(_ == text).map(col)
    val lined = df.select(other :+
      posexplode(split(col(text), "\n")).as(Seq("pos", "line")): _*)
    removeLinesFrom(lined, refLines, id)
  }

  /** [[removeLines]] over an already-exploded (pos, line) frame —
    * shared with [[dedupLines]], whose caller materializes the frame
    * once for all consumers. ONE pass: boilerplate lines are MARKED
    * with a broadcast-able left join (refLines is small by contract —
    * lines frequent enough to cross maxDf), and counts + reassembly
    * fold into a single doc-keyed agg. The previous anti-join +
    * count-agg + rejoin shape read the exploded frame three times; a
    * document whose every line was boilerplate still lands, fully
    * emptied, because the left join keeps all rows. */
  private def removeLinesFrom(lined: DataFrame, refLines: DataFrame,
                              id: String): DataFrame = {
    val marks = refLines.select(col("line")).distinct()
      .withColumn("_bp", lit(1))
    lined.join(marks, Seq("line"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).cast("int").as("n_lines"),
        count(when(col("_bp").isNull, 1)).cast("int").as("n_kept"),
        concat_ws("\n",
          transform(
            filter(array_sort(collect_list(struct(col("pos"),
                col("line"), col("_bp")))),
              s => s.getField("_bp").isNull),
            s => s.getField("line"))).as("clean"))
  }

  /** Per-COLLECTION repeated-line removal (t25b — the `*b` family pass
    * over [[dedupLines]]): line document-frequency is counted WITHIN
    * each `series` group (tenant / corpus snapshot / source), so a
    * footer shared by 3 docs in each of 20 sources is NOT boilerplate
    * to any of them (global df 60, within-source df 3) — the
    * multi-tenant form of the cleanup. Same plan shape with the
    * collection key riding every agg/join key. */
  def dedupLinesBy(df: DataFrame, id: String, series: String,
                   text: String, maxDf: Int = 5): DataFrame = {
    // same one-explode-pass materialization as [[dedupLines]]
    val lined = df.select(col(id), col(series),
        posexplode(split(col(text), "\n")).as(Seq("pos", "line")))
      .localCheckpoint()
    // count_distinct instead of distinct-then-count: one logical agg
    // keyed (series, line) with map-side partial aggregation, not two
    // full exchanges of the exploded line text
    val flagged = lined.filter(col("line") =!= "")
      .groupBy(col(series), col("line"))
      .agg(count_distinct(col(id)).as("ldf"))
      .filter(col("ldf") >= maxDf)
      .select(col(series), col("line"))
    // same one-pass mark-join + fold as [[removeLinesFrom]], with the
    // collection key riding the join and the agg
    val marks = flagged.withColumn("_bp", lit(1))
    lined.join(marks, Seq(series, "line"), "left")
      .groupBy(col(id), col(series))
      .agg(count(lit(1)).cast("int").as("n_lines"),
        count(when(col("_bp").isNull, 1)).cast("int").as("n_kept"),
        concat_ws("\n",
          transform(
            filter(array_sort(collect_list(struct(col("pos"),
                col("line"), col("_bp")))),
              s => s.getField("_bp").isNull),
            s => s.getField("line"))).as("clean"))
  }
}
