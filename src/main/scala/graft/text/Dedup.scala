package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around its 100 TB behavior:
  *
  *  - exact: one hash-agg on md5(text) — map-side combinable, no join.
  *  - n-gram Jaccard: shingle-inverted-index self-join. The join key is
  *    the shingle, so hot (common) shingles are skew bombs — they are
  *    dropped via a document-frequency cap before the join (standard
  *    inverted-index pruning; a shingle shared by >maxDf docs carries
  *    almost no discriminating power).
  *  - MinHash+LSH: constant-size signatures (numPerm hashes) per doc,
  *    banded into buckets; only intra-bucket pairs are candidates, then
  *    exact-verified. Shuffle volume is O(docs × bands), independent of
  *    document length — the scale path.
  *  - SimHash: 64-bit signature per doc; near-dup = small Hamming
  *    distance, verified via bit_count(xor). Bucketing on the top 16
  *    bits gives the banding (pairs differing only in low bits collide).
  */
object Dedup {

  /** Portable 60-bit hash: the first 15 hex chars of md5(seed|s) parsed
    * as a base-16 integer. md5 is bit-identical across engines, so the
    * DuckDB oracle computes the same value with
    * `('0x' || substr(md5(seed || '|' || s), 1, 15))::BIGINT` — unlike
    * xxhash64/murmur, which are engine-specific. Always positive
    * (< 2⁶⁰), so no sign-extension hazards in shifts/buckets. */
  def h64(c: Column, seed: Int): Column =
    conv(substring(md5(concat_ws("|", lit(seed.toString), c)), 1, 15), 16, 10)
      .cast("long")

  /** In-task JVM twin of [[h64]] for zero-shuffle map operators (the
    * t34 winnowing pass): the first 15 hex chars of md5 are the top
    * 60 bits of the first 8 digest bytes — spec-pinned equal to the
    * Column expression on ASCII and multi-byte inputs. Callers reuse
    * one MessageDigest per partition via [[h64Hasher]]. */
  def h64Jvm(md: java.security.MessageDigest, s: String,
             seed: Int): Long = {
    md.reset()
    val d = md.digest((seed.toString + "|" + s).getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def h64Hasher(): java.security.MessageDigest =
    java.security.MessageDigest.getInstance("MD5")

  /** MinHash permutation family: h_s(x) = (a_s·(base & 2³⁰−1) + b_s)
    * mod (2³¹−1), over ONE md5-derived base value per shingle — the
    * standard universal hash family over Z_p. The modulus must be CLOSE
    * to the base domain so the map wraps thoroughly (with a huge prime
    * the map is near-monotone in base and every permutation shares the
    * same argmin — a broken estimator). One digest per shingle; the
    * per-seed work is two integer ops, exact in both engines
    * (a·base ≤ 2⁶¹ < Long.Max). */
  val MinhashPrime: Long = 2147483647L // 2^31 - 1 (Mersenne)
  val MinhashBaseMask: Long = (1L << 30) - 1

  /** Deterministic (a ∈ [1, p), b ∈ [0, p)) pairs per permutation —
    * shared with the oracle SQL generator so both engines embed the
    * same constants. */
  def minhashParams(numPerm: Int, seed: Long = 1234567L): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPerm)((
      rnd.nextLong().abs % (MinhashPrime - 1) + 1,
      rnd.nextLong().abs % MinhashPrime))
  }

  /** Join-strategy chooser for attaching a PER-ID side frame (sizes,
    * signatures — always ≤ one bounded row per doc) to an UNBOUNDED
    * pair frame (guide §8: decide placement with small rows, move heavy
    * bytes once). The default sort-merge plan shuffles + sorts the pair
    * frame by id_a and then AGAIN by id_b — the second time carrying
    * the first attach's payload — while the per-id side is the small
    * one. While the side frame is provably small (estimated bytes ≤ 4×
    * autoBroadcastJoinThreshold, the [[fuzzyContamination]] bound — an
    * intentional hint may exceed Spark's auto pick but stays ~40 MB at
    * defaults, far from OOM), BROADCAST both aliased sides: the pair
    * frame then streams through in-place hash joins with no exchange
    * at all. Above the bound, hint SHUFFLED-HASH so the doc-bounded
    * side is the per-partition build and the pair frame, while still
    * shuffled, is never sorted. Emitted rows are identical under every
    * strategy. */
  private def pairSideJoin(spark: org.apache.spark.sql.SparkSession,
                           estBytes: Long, sideA: DataFrame,
                           sideB: DataFrame): (DataFrame, DataFrame) = {
    val autoBytes = graft.core.ScaleOps.autoBroadcastBytes(spark)
    if (autoBytes > 0 && estBytes <= 4L * autoBytes)
      (broadcast(sideA), broadcast(sideB))
    else (sideA.hint("shuffle_hash"), sideB.hint("shuffle_hash"))
  }

  /** Exact dedup: keeper = min id per md5(text); n = group size. */
  def exactGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(col(text)).as("text_md5"))
      .agg(min(col(id)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Exact dedup applied: keep the min-id row of each text group. */
  def dropExactDuplicates(df: DataFrame, id: String, text: String): DataFrame = {
    val w = Window.partitionBy(md5(col(text))).orderBy(col(id))
    df.withColumn("_rk", row_number().over(w)).filter(col("_rk") === 1).drop("_rk")
  }

  /** N-gram Jaccard near-dup pairs: word-k-shingle inverted index join;
    * jaccard = |A∩B| / (|A|+|B|−|A∩B|); emit pairs ≥ threshold.
    * `maxDf` prunes stop-shingles before the self-join (skew control).
    * `maxDfFraction`, when set, overrides `maxDf` with
    * ceil(fraction × corpus size) — the scale-correct form: an absolute
    * cap tuned at one corpus size silently stops pruning (or
    * over-prunes) at 1000× the documents. */
  def jaccardPairs(df: DataFrame, id: String, text: String, k: Int = 5,
                   threshold: Double = 0.5, maxDf: Int = 1000,
                   maxDfFraction: Option[Double] = None): DataFrame = {
    val nDocs = df.count()
    val effMaxDf = maxDfFraction match {
      case Some(f) => math.max(math.ceil(nDocs * f).toLong, 2L)
      case None    => maxDf.toLong
    }
    // materialize the shingle explode once: it feeds the df-count AND
    // the self-join sides, and would otherwise be re-derived per branch
    val sh = TextOps.shingles(df, id, text, k).localCheckpoint()
    val dfCount = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val pruned = sh.join(dfCount.filter(col("df") <= effMaxDf), "shingle")
      .select(col(id), col("shingle"))
    val sizes = pruned.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val a = pruned.select(col(id).as("id_a"), col("shingle"))
    val b = pruned.select(col(id).as("id_b"), col("shingle"))
    val shared = a.join(b, "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
    // the size attach rides [[pairSideJoin]]'s guarded broadcast: the
    // shared-count pair frame is the unbounded side, sizes is ≤ one
    // 32-byte row per doc
    val (szA, szB) = pairSideJoin(df.sparkSession, nDocs * 32L,
      sizes.select(col(id).as("id_a"), col("sz").as("sz_a")),
      sizes.select(col(id).as("id_b"), col("sz").as("sz_b")))
    shared
      .join(szA, "id_a")
      .join(szB, "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("sz_a") + col("sz_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact Jaccard threshold self-join via AllPairs/PPJoin PREFIX
    * filtering (Bayardo et al. 2007 "Scaling Up All Pairs Similarity
    * Search"; Xiao et al. 2008 PPJoin) — the LOSSLESS scale path next
    * to [[jaccardPairs]]'s df-cap prune and [[minhashLshPairs]]'s
    * probabilistic banding: each doc's shingles are ordered by global
    * rarity (df ASC, shingle ASC) and only the first
    * |x| − ⌈θ·|x|⌉ + 2 ("prefix") participate in the candidate
    * self-join; any pair with J ≥ θ must share ≥ ⌈θ·|x|⌉ tokens, so it
    * shares a prefix token — no candidate is ever lost. (+2 not the
    * textbook +1: one extra slot absorbs FP ulp drift in ⌈θ·|x|⌉ so
    * losslessness never hinges on a rounding boundary.) Survivors are
    * verified EXACTLY: one bounded intersection count per candidate.
    *
    * Scale shape: the all-pairs blowup collapses from Σ df² over every
    * shingle to Σ df² over RARE prefix shingles (rarity order makes
    * prefix df's the smallest by construction); hot boilerplate
    * shingles never join. One df agg, one per-doc rank window, one
    * candidate equi-join, one verify join — all keyed, nothing
    * quadratic in the corpus. */
  def prefixJaccardJoin(df: DataFrame, id: String, text: String,
                        k: Int = 5, threshold: Double = 0.5): DataFrame = {
    val sh = TextOps.shingles(df, id, text, k).localCheckpoint()
    val dfc = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("df"), col("shingle"))
    val pref = sh.join(dfc, "shingle")
      .withColumn("pos", row_number().over(wDoc))
      .join(sizes, id)
      .filter(col("pos") <=
        col("sz") - ceil(lit(threshold) * col("sz")) + 2)
      .select(col(id), col("shingle"), col("sz"))
    val cand = pref
      .select(col(id).as("id_a"), col("shingle"), col("sz").as("sz_a"))
      .join(pref.select(col(id).as("id_b"), col("shingle"),
        col("sz").as("sz_b")), "shingle")
      .filter(col("id_a") < col("id_b"))
      // length filter: J ≤ min/max, so J ≥ θ needs θ·max ≤ min
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")))
      .select(col("id_a"), col("id_b")).distinct()
    val inter = cand
      .join(sh.select(col(id).as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col(id).as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    // size attach rides [[pairSideJoin]] (sizes ≤ one 32-byte row per
    // doc; the verified-pair frame is the unbounded side)
    val (szA, szB) = pairSideJoin(df.sparkSession, df.count() * 32L,
      sizes.select(col(id).as("id_a"), col("sz").as("sz_a")),
      sizes.select(col(id).as("id_b"), col("sz").as("sz_b")))
    inter
      .join(szA, "id_a")
      .join(szB, "id_b")
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("jaccard"))
  }

  /** MinHash signature: for each of `numPerm` arithmetic permutations
    * over the shingle's md5-derived base value, the min over the doc's
    * shingles. One row per doc, signature as an array column. */
  def minhashSignatures(df: DataFrame, id: String, text: String, k: Int = 5,
                        numPerm: Int = 64): DataFrame = {
    val sh = TextOps.shingles(df, id, text, k)
      .withColumn("base", h64(col("shingle"), 0).bitwiseAND(MinhashBaseMask))
    val params = minhashParams(numPerm)
    val hashCols = params.zipWithIndex.map { case ((a, b), s) =>
      min((lit(a) * col("base") + lit(b)) % MinhashPrime).as(s"h$s")
    }.toSeq
    sh.groupBy(col(id)).agg(hashCols.head, hashCols.tail: _*)
      .select(col(id), array((0 until numPerm).map(s => col(s"h$s")): _*).as("sig"))
  }

  /** Band buckets of a minhash signature frame: one (band, bucket) row
    * per band, bucket = md5 of the comma-joined signature slice —
    * portable (long→decimal-string rendering is identical in both
    * engines). Shared by the self-join ([[minhashLshPairs]]) and the
    * cross-corpus ([[fuzzyContamination]]) shapes. */
  private def bandBuckets(sigs: DataFrame, id: String, bands: Int,
                          rowsPerBand: Int): DataFrame =
    sigs.select(col(id),
      posexplode(array((0 until bands).map(b =>
        md5(concat_ws(",",
          (0 until rowsPerBand).map(r =>
            col("sig")(b * rowsPerBand + r).cast("string")): _*))): _*))
        .as(Seq("band", "bucket")))

  /** LSH candidate pairs from banded minhash signatures, exact-verified
    * by estimated jaccard = fraction of agreeing signature slots
    * (the unbiased minhash estimator). */
  def minhashLshPairs(df: DataFrame, id: String, text: String, k: Int = 5,
                      numPerm: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val rowsPerBand = numPerm / bands
    // materialize signatures once (docs × (numPerm+1) longs — bounded):
    // they feed both join sides plus the verify re-joins
    val sigs = minhashSignatures(df, id, text, k, numPerm).localCheckpoint()
    val banded = bandBuckets(sigs, id, bands, rowsPerBand)
    val a = banded.select(col(id).as("id_a"), col("band"), col("bucket"))
    val b = banded.select(col(id).as("id_b"), col("band"), col("bucket"))
    // dedup on the ID pair only (distinct over sig-carrying rows hashes
    // every 64-slot array per candidate), re-join the signatures after
    val cands = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // verify attach rides [[pairSideJoin]]: the candidate frame is the
    // unbounded side (a sort-merge plan would sort it by id_a, then
    // AGAIN by id_b carrying sig_a — 8·numPerm bytes/row); the
    // signature frame is doc-bounded and already checkpointed, so its
    // count is a block read
    val sigBytes = sigs.count() * (8L * numPerm + 24L)
    val (sa, sb) = pairSideJoin(df.sparkSession, sigBytes,
      sigs.select(col(id).as("id_a"), col("sig").as("sig_a")),
      sigs.select(col(id).as("id_b"), col("sig").as("sig_b")))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(numPerm))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Fuzzy decontamination (beyond reference): MinHash-LSH near-dup
    * join of the TRAIN corpus against a BENCHMARK/eval set — the
    * paraphrase-robust complement to the exact-gram passes
    * ([[TextOps.contamination]] t01, [[TextOps.bloomContamination]]
    * t06): a benchmark item that survives reformatting, token
    * insertions, or boilerplate wrapping still shares most shingles,
    * so its jaccard estimate stays high while any fixed k-gram may be
    * broken. Same signature/band machinery as [[minhashLshPairs]],
    * but a CROSS-corpus band join instead of a self-join.
    *
    * Scale shape: benchmark sets are tiny next to a 100 TB train
    * corpus, so the banded bench side (|bench| × bands rows of
    * (band, md5, id)) is BROADCAST under a count guard — candidate
    * generation is then a map-side hash probe over the train side's
    * banded projection, no shuffle of train data at all; only the
    * candidate verify re-joins the (doc-bounded) signature frames.
    * Above the guard the join falls back to the keyed shuffle. */
  def fuzzyContamination(train: DataFrame, bench: DataFrame, id: String,
                         text: String, k: Int = 5, numPerm: Int = 64,
                         bands: Int = 16,
                         threshold: Double = 0.5): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val rowsPerBand = numPerm / bands
    val trainSigs = minhashSignatures(train, id, text, k, numPerm)
      .localCheckpoint()
    val benchSigs = minhashSignatures(bench, id, text, k, numPerm)
      .localCheckpoint()
    val ta = bandBuckets(trainSigs, id, bands, rowsPerBand)
      .withColumnRenamed(id, "train_id")
    val bb = bandBuckets(benchSigs, id, bands, rowsPerBand)
      .withColumnRenamed(id, "bench_id")
    // |bench| × bands band-bucket rows: broadcast while provably small
    // (the checkpointed signature frame makes the count a block read);
    // the verify's bench-signature join rides the same guard. The bound
    // is derived from autoBroadcastJoinThreshold and the ESTIMATED ROW
    // WIDTH of the larger frame we'd pin on the driver — the signature
    // frame at 8·numPerm bytes/doc dominates the 48-byte band rows — so
    // a forced broadcast() can never serialize hundreds of MB (the
    // explicit hint bypasses Spark's own size check). 4× headroom over
    // the auto threshold: an intentional hint may exceed what Spark
    // would auto-pick, but stays ~40 MB at defaults, far from OOM.
    val autoBytes = graft.core.ScaleOps.autoBroadcastBytes(train.sparkSession)
    val nBench = benchSigs.count()
    val benchBytes = math.max(nBench * bands * 48L,
      nBench * (8L * numPerm + 24L))
    val benchSmall = autoBytes > 0 && benchBytes <= 4L * autoBytes
    val cands = ta.join(if (benchSmall) broadcast(bb) else bb,
        Seq("band", "bucket"))
      .select(col("train_id"), col("bench_id"))
      .distinct()
    val sa = trainSigs.select(col(id).as("train_id"), col("sig").as("sig_a"))
    val sb = benchSigs.select(col(id).as("bench_id"), col("sig").as("sig_b"))
    cands.join(sa, "train_id")
      .join(if (benchSmall) broadcast(sb) else sb, "bench_id")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(numPerm))
      .filter(col("est_jaccard") >= threshold)
      .select(col("train_id"), col("bench_id"), col("est_jaccard"))
  }

  /** SimHash bit width: 60 (the [[h64]] hash is 60-bit, so higher sign
    * bits can never be set — keeping the signature positive and shift
    * semantics identical across engines). */
  val SimhashBits = 60

  /** 60-bit SimHash per document: bit j is the sign of Σ_tokens (±1)
    * where the sign comes from bit j of [[h64]](token). Token weights
    * = term frequency (each occurrence votes). */
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    val toks = TextOps.tokens(df, text).withColumn("h", h64(col("token"), 0))
    val bitSums = (0 until SimhashBits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j"))
    toks.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(id),
        (0 until SimhashBits).map(j =>
          when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(0L))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** SimHash near-dup pairs: FOUR rotated 15-bit bands (bits 0–14,
    * 15–29, 30–44, 45–59); a pair is a candidate if ANY band matches.
    * Pigeonhole: ≤ 3 differing bits cannot touch all 4 bands, so recall
    * is 100% for maxHamming ≤ 3 (the single-high-band variant missed
    * pairs whose differing bits all fell in the band). Verified with
    * exact Hamming distance via bit_count(xor). */
  def simhashPairs(df: DataFrame, id: String, text: String,
                   maxHamming: Int = 3): DataFrame = {
    val sigs = simhash(df, id, text)
    val banded = sigs.select(col(id), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 15).bitwiseAND(0x7FFF)): _*))
        .as(Seq("band", "bucket")))
    val a = banded.select(col(id).as("id_a"), col("simhash").as("s_a"),
      col("band"), col("bucket"))
    val b = banded.select(col(id).as("id_b"), col("simhash").as("s_b"),
      col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("s_a").bitwiseXOR(col("s_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Cross-document SPAN dedup (beyond reference): remove duplicated
    * spans at fixed token-block granularity while keeping each span's
    * FIRST occurrence (by (doc, block) order) — the exact-substring
    * dedup step of corpus curation (boilerplate headers, license
    * blocks, templated paragraphs), which doc-level dedup cannot catch
    * because the surrounding text differs. Documents come back
    * reassembled without their duplicated spans, plus span/drop counts.
    * Output text is whitespace-normalized (tokens joined by single
    * spaces) — a doc with no dropped spans round-trips its token
    * stream exactly.
    *
    * Scale shape: one doc-keyed window for dense token indices, one
    * (doc, block) agg to form spans, one span-keyed agg to elect the
    * global keeper (map-side combinable min-struct), one span-keyed
    * join back, one doc-keyed reassemble. Nothing is pairwise; shuffle
    * volume is O(corpus tokens), independent of duplication structure.
    * Keeper election and the join-back key on the span's FULL 128-bit
    * md5 digest (16 raw bytes via unhex), not the span text — the
    * election shuffle carries a constant 16 bytes per span instead of
    * the full `blockTokens`-token string (~5× fewer bytes). A truncated
    * 60-bit hash is NOT enough here: a single collision between
    * distinct spans merges their keeper groups and silently deletes
    * every copy of the losing span, and the birthday bound puts a
    * 60-bit collision at ~50% around 2³⁰ distinct spans — tens of GB,
    * far below the design scale. 128 bits pushes that past 2⁶⁴ spans,
    * preserving the exact-substring round-trip contract; text rides
    * only the doc-keyed reassembly leg. */
  /** d05/d06 shared block frame: cut each doc's token stream into
    * `blockTokens`-token spans → one row per (doc, blk) with the span
    * text `seg` (single-space joined). */
  private def spanSegments(df: DataFrame, id: String, text: String,
                           blockTokens: Int): DataFrame = {
    val toks = TextOps.tokens(df, text).select(col(id), col("pos"), col("token"))
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    toks
      .withColumn("ti", row_number().over(w) - 1)
      .withColumn("blk", (col("ti") / blockTokens).cast("long"))
      .groupBy(col(id), col("blk"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ti"), col("token")))),
        x => x("token")), " ").as("seg"))
  }

  def spanDedup(df: DataFrame, id: String, text: String,
                blockTokens: Int = 12): DataFrame = {
    val segs = spanSegments(df, id, text, blockTokens)
      .withColumn("segh", unhex(md5(col("seg"))))
    val keep = segs.groupBy(col("segh"))
      .agg(min(struct(col(id).as("kid"), col("blk").as("kblk"))).as("k"))
      .select(col("segh"), col("k.kid").as("kid"), col("k.kblk").as("kblk"))
    segs.join(keep, "segh")
      .withColumn("kept", col(id) === col("kid") && col("blk") === col("kblk"))
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("blk"), col("seg"))))),
          x => x("seg")), " ").as("cleaned"))
  }

  /** FUZZY cross-document span dedup (beyond reference, d06): the
    * one-token-edit blind spot of [[spanDedup]] — a boilerplate block
    * whose copies differ by a version number, a date, a doc id — closed
    * by running MinHash+LSH over the SPANS of [[spanSegments]]'s block
    * frame instead of exact hashing: spans whose shingle Jaccard
    * estimate reaches `threshold` join one cluster, the cluster keeps
    * its (doc, blk)-minimum member, every other member is dropped and
    * the docs come back reassembled (same output contract as d05).
    * Spans shorter than `shingleK` tokens carry no shingles and are
    * always kept — exact dup removal of sub-shingle tails stays d05's
    * job.
    *
    * Scale shape: d05's frame (token-keyed aggs) + an EXACT COLLAPSE
    * before the fuzzy pass — the LSH self-join runs over DISTINCT span
    * contents only (one representative = the exact group's min
    * (doc, blk)), because the realistic 100 TB case is a bit-identical
    * license block repeated across millions of docs: at span
    * granularity those all land in the SAME LSH buckets, and a naive
    * span-level self-join goes quadratic in the multiplicity, while the
    * distinct-level join sees each content once. Connectivity is
    * unchanged (copies of a span have identical signatures, so the
    * span-level graph is exactly the distinct-level graph with each
    * node blown up into an always-connected clique). Then d01's
    * banding (numPerm=16 — spans are 12 tokens, a 64-perm doc-grade
    * signature would outweigh the text 5×), est-jaccard verification,
    * the O(log n) pointer-jumping closure ([[connectedComponents]],
    * castLong=false: node ids are (doc, blk) structs, min'd
    * field-wise), and a digest-keyed map-back. Nothing pairwise across
    * the corpus. */
  def fuzzySpanDedup(df: DataFrame, id: String, text: String,
                     blockTokens: Int = 12, shingleK: Int = 3,
                     numPerm: Int = 16, bands: Int = 4,
                     threshold: Double = 0.5): DataFrame = {
    // the block frame feeds BOTH the rep/cluster flow and the final
    // reassembly join — checkpoint it once instead of re-running the
    // token explode + index window + span agg on each side
    val segs = spanSegments(df, id, text, blockTokens)
      .withColumn("span", struct(col(id).as("d"), col("blk").as("b")))
      .localCheckpoint()
    // sub-shingle spans carry no MinHash evidence and are always kept
    // (exact dedup of short tails stays d05's job) — they never enter
    // the rep/cluster flow
    val nTok = size(filter(split(col("seg"), " "), t => t =!= ""))
    val reps = segs.filter(nTok >= shingleK)
      .groupBy(unhex(md5(col("seg"))).as("segd"))
      .agg(min(col("span")).as("rep"), min(col("seg")).as("seg"))
      .localCheckpoint()
    val pairs = minhashLshPairs(
      reps.select(col("rep"), col("seg")), "rep", "seg",
      k = shingleK, numPerm = numPerm, bands = bands, threshold = threshold)
    val clusters = connectedComponents(pairs, castLong = false)
      .select(col("id").as("rep"), col("cluster"))
    // every shingle-able span's keeper: its exact group's cluster label
    // if the content joined a fuzzy cluster, else the exact group's rep
    val keepers = reps.join(clusters, Seq("rep"), "left")
      .select(col("segd"), coalesce(col("cluster"), col("rep")).as("keeper"))
    segs.withColumn("segd", unhex(md5(col("seg"))))
      .join(keepers, Seq("segd"), "left")
      .withColumn("kept", col("keeper").isNull || col("span") === col("keeper"))
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("blk"), col("seg"))))),
          x => x("seg")), " ").as("cleaned"))
  }

  /** EXACT-SUBSTRING duplicated intervals at ARBITRARY token boundaries
    * (beyond reference, d09) — the Lee et al. "Deduplicating Training
    * Data Makes Language Models Better" operation that the fixed-block
    * span ops cannot express: [[spanDedup]]/[[fuzzySpanDedup]] compare
    * `blockTokens`-aligned units, so a duplicated 50-token passage that
    * STRADDLES a block boundary (or sits at different offsets in its
    * two hosts) escapes both. Here the duplicated region itself is
    * recovered, wherever it starts: every k-gram occurring ≥ 2 times in
    * the corpus (within- or cross-document — any repeat is memorization
    * surface) marks its start position as duplicated, and maximal RUNS
    * of consecutive duplicated positions collapse into intervals — the
    * duplicated-k-gram run-collapse equivalent of the suffix-array scan,
    * built from the [[TextOps.crossDupRatio]] gram-df frame and the a02
    * gap-sessionize machinery.
    *
    * Per interval: `span_start`/`span_end` (inclusive dense token
    * indices), `span_tokens`, and `twin_count` = the occurrence count of
    * the interval's RAREST gram — an upper bound on how many corpus-wide
    * copies the whole interval has, exact when the interval duplicates
    * as a unit. Only intervals of ≥ `minSpanTokens` tokens are emitted
    * (a lone duplicated k-gram is natural language, a 50-token run is a
    * copy; Lee et al. cut at 50).
    *
    * Scale shape: token explode + per-doc index window (groups bounded
    * by doc length), ONE gram-digest-keyed count agg (map-side
    * combinable — the t21 frame on 16-byte digests instead of gram
    * strings), and the df ≥ 2 filter lands BEFORE the join back, so the
    * inverted-index probe's build side holds only the duplicated grams
    * (in a clean corpus a vanishing fraction); runs are per-doc
    * lag/running-sum windows, the closing agg is (doc, run)-keyed.
    * Nothing pairwise, no driver state. */
  def substringSpans(df: DataFrame, id: String, text: String, k: Int = 8,
                     minSpanTokens: Int = 20, bridgeGap: Int = 0): DataFrame =
    // checkpoint the tokenized frame once: the gram pass below derives
    // it TWICE (df-count agg side + run-probe join side), and the
    // tokenize + per-doc index window chain is the expensive half —
    // the d09c cut path (which already checkpointed ti for its own
    // reassembly) measured the two-cheap-window-passes shape at ~¼ the
    // wall of the double-tokenize one (guide §5)
    substringSpansOfTi(tiFrame(df, id, text).localCheckpoint(), id, k,
      minSpanTokens, bridgeGap)

  private def substringSpansOfTi(ti: DataFrame, id: String, k: Int,
                                 minSpanTokens: Int,
                                 bridgeGap: Int): DataFrame = {
    val grams = gramsOfTi(ti, id, k)
    val dupGrams = grams.groupBy(col("gd"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
    val wi = Window.partitionBy(col(id)).orderBy(col("ti"))
    // bridgeGap > 0 = the FUZZY operating point: a single edited token
    // inside a duplicated passage kills the k gram starts that cover
    // it, splitting the run in two; bridging gaps of up to k positions
    // re-merges the halves into one interval (an interval may then
    // contain up to gap non-duplicated tokens per bridge — the
    // edit-tolerant trade, off by default so d09 stays exact)
    val runs = grams.join(dupGrams, "gd")
      .select(col(id), col("ti"), col("c"))
      .withColumn("brk",
        when(col("ti") <= lag(col("ti"), 1).over(wi) + 1 + bridgeGap, 0)
          .otherwise(1))
      .withColumn("run", sum(col("brk")).over(
        wi.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    runs.groupBy(col(id), col("run"))
      .agg(min(col("ti")).cast("long").as("span_start"),
        (max(col("ti")) + (k - 1)).cast("long").as("span_end"),
        min(col("c")).as("twin_count"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1L)
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col(id), col("span_start"), col("span_end"),
        col("span_tokens"), col("twin_count"))
  }

  /** EXACT-SUBSTRING decontamination (beyond reference, t23): the
    * cross-corpus form of [[substringSpans]] — maximal intervals of a
    * TRAIN document whose every k-gram also occurs in the
    * BENCHMARK/eval corpus, at arbitrary boundaries. The gram-overlap
    * decontaminators ([[TextOps.contamination]] t01,
    * [[TextOps.bloomContamination]] t06) answer "which train docs
    * overlap the benchmark"; this answers "WHERE, and how long" — the
    * span evidence that decides between dropping a doc and cutting the
    * leaked passage (the Lee et al. dedup machinery pointed at eval
    * leakage). `twin_count` = the benchmark occurrence count of the
    * interval's rarest gram.
    *
    * Scale shape: the benchmark side reduces to one distinct
    * (digest, count) frame (benchmark sets are tiny next to a 100 TB
    * train corpus — the t06/fuzzyContamination asymmetry); the train
    * side is the d09 pipeline with the duplicated-gram probe replaced
    * by a join against that frame. One gram-digest join, per-doc
    * windows, nothing pairwise. */
  def substringContamination(train: DataFrame, bench: DataFrame,
                             id: String, text: String, k: Int = 8,
                             minSpanTokens: Int = 20): DataFrame =
    substringSpansAgainst(benchGramCounts(bench, id, text, k),
      train, id, text, k, minSpanTokens)

  /** The frozen benchmark side of [[substringContamination]]: one
    * distinct (gram digest, occurrence count) frame — build once,
    * persist, score arbitrarily many train slices (or a stream —
    * [[graft.streaming.StreamingScore.substringContaminationAgainst]])
    * against it. */
  def benchGramCounts(bench: DataFrame, id: String, text: String,
                      k: Int = 8): DataFrame =
    gramPositions(bench, id, text, k)
      .groupBy(col("gd")).agg(count(lit(1)).as("c"))

  /** The train-side half of [[substringContamination]] against a
    * prebuilt [[benchGramCounts]] frame. Spans are a per-doc function
    * of (doc, frozen benchmark), so scoring slices independently — or
    * streaming micro-batches — unions to exactly the batch result. */
  def substringSpansAgainst(benchGrams: DataFrame, train: DataFrame,
                            id: String, text: String, k: Int = 8,
                            minSpanTokens: Int = 20,
                            bridgeGap: Int = 0): DataFrame = {
    val wi = Window.partitionBy(col(id)).orderBy(col("ti"))
    gramPositions(train, id, text, k)
      .join(benchGrams, "gd")
      .select(col(id), col("ti"), col("c"))
      .withColumn("brk",
        when(col("ti") <= lag(col("ti"), 1).over(wi) + 1 + bridgeGap, 0)
          .otherwise(1))
      .withColumn("run", sum(col("brk")).over(
        wi.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(id), col("run"))
      .agg(min(col("ti")).cast("long").as("span_start"),
        (max(col("ti")) + (k - 1)).cast("long").as("span_end"),
        min(col("c")).as("twin_count"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1L)
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col(id), col("span_start"), col("span_end"),
        col("span_tokens"), col("twin_count"))
  }

  /** (id, dense token index ti, token) — the tokenized frame the d09
    * family's gram pass AND reassembly pass both consume. Callers that
    * need it twice ([[substringDedupCut]]) checkpoint it ONCE instead
    * of re-running the tokenize+window lineage per pass. */
  private def tiFrame(df: DataFrame, id: String, text: String): DataFrame = {
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    TextOps.tokens(df, text)
      .select(col(id), col("pos"), col("token"))
      .withColumn("ti", row_number().over(w) - 1L)
      .select(col(id), col("ti"), col("token"))
  }

  /** 16-byte k-gram digests at every token index of a [[tiFrame]]:
    * k−1 lead windows + md5, so no gram string crosses a shuffle. */
  private def gramsOfTi(ti: DataFrame, id: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(id)).orderBy(col("ti"))
    val parts = (0 until k).map {
      case 0 => col("token")
      case i => lead(col("token"), i).over(w)
    }
    ti.withColumn("g", concat_ws(" ", parts: _*))
      .withColumn("_last", parts.last)
      .filter(col("_last").isNotNull)
      .select(col(id), col("ti"), unhex(md5(col("g"))).as("gd"))
  }

  /** (id, dense token index, 16-byte gram digest) frame shared by the
    * d09/t23 substring ops. */
  private def gramPositions(df: DataFrame, id: String, text: String,
                            k: Int): DataFrame =
    gramsOfTi(tiFrame(df, id, text), id, k)

  /** Remove every token covered by a span list from each document and
    * reassemble the text — the shared surgical-cut step behind
    * [[substringDedupCut]]'s election path and the curate
    * `--cut_contaminated_spans` decontamination (where ALL leaked
    * spans go, no keeper election: leaked benchmark text must not
    * survive anywhere). `spans` carries (id, span_start, span_end);
    * docs with no spans pass through unchanged. Per-doc collect_list
    * groups are bounded by doc length; the cut list per doc is
    * span-count-sized. */
  def cutSpans(df: DataFrame, id: String, text: String,
               spans: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    val ti = TextOps.tokens(df, text)
      .select(col(id), col("pos"), col("token"))
      .withColumn("ti", row_number().over(w) - 1L)
    val cuts = spans.groupBy(col(id))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("cuts"))
    ti.groupBy(col(id))
      .agg(collect_list(struct(col("ti"), col("token"))).as("tl"))
      .join(cuts, Seq(id), "left")
      .select(col(id), array_join(transform(filter(array_sort(col("tl")),
        x => col("cuts").isNull || !exists(col("cuts"),
          c => x("ti") >= c("s") && x("ti") <= c("e"))),
        x => x("token")), " ").as(text))
  }

  /** CUT the duplicated intervals found by [[substringSpans]] out of
    * each document, keeping ONE occurrence per duplicated content
    * (beyond reference, d09 cut form): intervals are grouped by the md5
    * of their covered token slice, each content group elects its
    * (doc, start)-minimum occurrence as the keeper, every other
    * occurrence's tokens are removed and the docs come back reassembled
    * — the d05 output contract (`n_spans`/`n_dropped`/`cleaned`), at
    * arbitrary boundaries. Interval contents that never align as a unit
    * (different digests) are all kept: cutting is only sound when the
    * copies are literal.
    *
    * Scale: [[substringSpans]] + one slice-digest agg over the interval
    * frame (intervals are rare by construction) and one per-doc
    * reassembly join — tokens join the doc's OWN dropped intervals
    * (broadcast-ably small) on the doc key, never across docs. */
  def substringDedupCut(df: DataFrame, id: String, text: String,
                        k: Int = 8, minSpanTokens: Int = 20): DataFrame = {
    // ONE tokenize+window pass feeds the gram/span pass, the content-
    // digest pass AND the reassembly (the span finder used to re-run
    // its own tokenize lineage — at the curate chain's 10× cell that
    // was a second full corpus tokenization per invocation)
    val ti = tiFrame(df, id, text).localCheckpoint()
    val spans = substringSpansOfTi(ti, id, k, minSpanTokens, 0)
    // content digest of each interval's token slice
    val sliced = spans.join(ti, Seq(id))
      .filter(col("ti") >= col("span_start") && col("ti") <= col("span_end"))
      .groupBy(col(id), col("span_start"), col("span_end"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("ti"), col("token")))),
        x => x("token")), " ")).as("cd"))
    val keep = sliced.groupBy(col("cd"))
      .agg(min(struct(col(id).as("kid"), col("span_start").as("ks"))).as("kk"))
      .select(col("cd"), col("kk.kid").as("kid"), col("kk.ks").as("ks"))
    val dropped = sliced.join(keep, "cd")
      .filter(!(col(id) === col("kid") && col("span_start") === col("ks")))
      .groupBy(col(id))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("cuts"),
        count(lit(1)).as("n_dropped"))
    val nSpans = spans.groupBy(col(id)).agg(count(lit(1)).as("n_spans"))
    ti.groupBy(col(id))
      .agg(collect_list(struct(col("ti"), col("token"))).as("tl"))
      .join(dropped, Seq(id), "left")
      .join(nSpans, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        array_join(transform(filter(array_sort(col("tl")),
          x => col("cuts").isNull || !exists(col("cuts"),
            c => x("ti") >= c("s") && x("ti") <= c("e"))),
          x => x("token")), " ").as("cleaned"))
  }

  /** Dedup CLUSTERS from a near-dup pair list: connected components by
    * iterative min-label propagation over the undirected pair graph —
    * the production step after any pair finder (exact groups / Jaccard /
    * MinHash / SimHash / embedding), turning pairwise matches into one
    * canonical id per duplicate cluster (`cluster` = the component's
    * minimum id, so `id === cluster` marks the keeper).
    *
    * Scale design: each iteration is a neighbor-min step (ONE keyed
    * join + ONE min-agg on the node id) followed by a POINTER-JUMPING
    * shortcut (label ← label of my label, one self-join): the neighbor
    * step moves the min one hop, the shortcut doubles the distance
    * already covered, so convergence is O(log n) rounds even on
    * pathological chain-shaped components (a pure neighbor-min loop is
    * O(path length) — a 2^20-node chain would need a million rounds;
    * with jumping, ~20). No driver-side graph state; the only driver
    * values are the per-iteration changed-label counts. Labels only
    * decrease (monotone min), so the fixpoint is exact, not
    * approximate. If a component still hasn't converged in `maxIters`
    * rounds a warning is logged with the residual changed-label count. */
  /** Keep-BEST-of-cluster dedup (beyond reference, d07): instead of
    * d03's keep-first (min id per near-dup cluster), elect the
    * HIGHEST-QUALITY doc of each cluster — the RefinedWeb-style
    * selection where dedup and quality filtering compose ("of the N
    * copies, keep the cleanest"). `score` is any (id, q) frame (the
    * gate uses q19's quality_score, r6-rounded); ties break to the
    * smallest id so the election is total. Docs in no cluster are
    * their own singleton cluster and always keep themselves.
    *
    * Scale shape: pair generation is the caller's LSH (linear in
    * corpus), the closure is [[connectedComponents]]' O(log n)
    * pointer-jumping, and the election is ONE keyed window over the
    * docs — cluster sizes bound the window groups, nothing pairwise. */
  /** PageRank over an undirected pair graph (beyond reference, p01):
    * graph centrality on the near-dup similarity graph — the signal
    * behind "canonical copy = the most-connected one" election and
    * boilerplate-hub detection (a license block's doc sits at the
    * center of a dense star and outranks its satellites). Fixed
    * `iters` power iterations with the rank ROUNDED to 6 decimals per
    * update, the k01 determinism pattern: both engines re-enter every
    * iteration on identical doubles (per-node contribution sums are
    * unordered; r6 absorbs the fold-order ulp), so the DuckDB oracle
    * replays the iterations as chained CTEs.
    *
    * Scale shape: the canonical distributed PageRank — the edge list
    * (materialized ONCE) re-keys by destination each iteration (one
    * join + one sum-agg per round, both map-side combinable), degrees
    * are one keyed count, and no graph state ever touches the driver.
    * Nodes outside any pair are absent by construction (every node of
    * an undirected pair graph has degree ≥ 1 — no dangling-mass
    * term). */
  /** Deep-iteration hygiene: without truncation the plan re-derives
    * every previous round's `edges⋈deg⋈pr` recursively — depth (and
    * optimizer time) linear in `iters`. `checkpointEvery` materializes
    * the rank frame every k rounds (the k01 pattern; ranks are
    * |nodes| rows — model-sized, not data-sized), which changes
    * NOTHING numerically: every update is already r6-rounded, a
    * checkpoint only cuts lineage. `tol` > 0 adds an L1-convergence
    * early stop (one |nodes|-row agg per round — only pay it when
    * asked); the oracle-replayed gate entry keeps fixed iters and
    * tol = 0. */
  def pageRank(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               iters: Int = 2, damping: Double = 0.85,
               checkpointEvery: Int = 5, tol: Double = 0.0): DataFrame = {
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .unionByName(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nodes = edges.select(col("src").as("id")).distinct()
    val nDf = broadcast(nodes.agg(count(lit(1)).cast("double").as("n")))
    var pr = nodes.crossJoin(nDf)
      .select(col("id"), round(lit(1.0) / col("n"), 6).as("pr"))
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val contrib = edges.join(deg, "src")
        .join(pr.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("cs"))
      val next0 = nodes.join(contrib, Seq("id"), "left").crossJoin(nDf)
        .select(col("id"),
          round((lit(1.0) - lit(damping)) / col("n") +
            lit(damping) * coalesce(col("cs"), lit(0.0)), 6).as("pr"))
      val next = if ((it + 1) % checkpointEvery == 0 && it + 1 < iters)
        next0.localCheckpoint() else next0
      if (tol > 0.0) {
        val l1 = pr.withColumnRenamed("pr", "pr0").join(next, "id")
          .agg(sum(abs(col("pr") - col("pr0")))).first().getDouble(0)
        converged = l1 < tol
      }
      pr = next
      it += 1
    }
    pr
  }

  /** Bipartite HITS (p03, beyond reference; Kleinberg 1999): hubs and
    * authorities over a directed src→dst edge set — on a
    * user→event-type (or doc→domain, query→url) bipartite graph, an
    * AUTHORITY is a dst endorsed by strong hubs and a HUB is a src
    * touching strong authorities, the mutual-reinforcement pair
    * PageRank's single score can't express. Sum-normalized per
    * half-step with the p01 trick — scores round to 6 after every
    * normalization, so cross-engine FP drift resets each iteration
    * instead of compounding. Caveat (the p01 precedent's, verbatim):
    * the per-half-step rounding is drift CONTAINMENT, not a
    * determinism guarantee — hr/hs are unrounded double sums whose
    * accumulation order varies across engines and task schedules, so
    * a quotient landing within ~1 ulp of a 5e-7 rounding boundary
    * could flip the 6th decimal and cascade through later iterations;
    * at the gate's scale and iteration count no boundary tie has been
    * observed, and any flip is bounded to ±1e-6 per affected score
    * per iteration.
    *
    * Scale shape: per iteration, two edge-keyed join+agg rounds and
    * two broadcast one-row sums — no global window, no cartesian; the
    * edge list is checkpointed once so the iteration lineage stays
    * flat (the pageRank discipline). Output: (kind 'hub'|'auth',
    * node, score r6). */
  def hits(edges: DataFrame, src: String, dst: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    val e = edges.select(col(src).cast("string").as("s"),
        col(dst).cast("string").as("d"))
      .distinct().localCheckpoint()
    var auth = e.select(col("d")).distinct().withColumn("a", lit(1.0))
    var hub: DataFrame = null
    var it = 0
    while (it < iters) {
      val hraw = e.join(auth, "d").groupBy(col("s"))
        .agg(sum(col("a")).as("hr"))
      val hsum = broadcast(hraw.agg(sum(col("hr")).as("hs")))
      hub = hraw.crossJoin(hsum)
        .select(col("s"), round(col("hr") / col("hs"), 6).as("h"))
      val araw = e.join(hub, "s").groupBy(col("d"))
        .agg(sum(col("h")).as("ar"))
      val asum = broadcast(araw.agg(sum(col("ar")).as("asum")))
      auth = araw.crossJoin(asum)
        .select(col("d"), round(col("ar") / col("asum"), 6).as("a"))
      it += 1
    }
    hub.select(lit("hub").as("kind"), col("s").as("node"),
        col("h").as("score"))
      .unionByName(auth.select(lit("auth").as("kind"),
        col("d").as("node"), col("a").as("score")))
  }

  /** Per-node triangle counts + local clustering coefficient (p04,
    * beyond reference; Schank & Wagner 2005 degree orientation, the
    * MapReduce formulation of Suri & Vassilvitskii 2011): triangles
    * are the community-structure primitive behind dup-cluster density
    * and collocation-graph analysis, and the naive wedge join is the
    * canonical quadratic trap — a hub of degree d spawns d² wedges.
    * Orienting every edge from the (degree, id)-SMALLER endpoint to
    * the larger caps out-degree at O(√m), so each triangle is found
    * exactly once at its unique two-out-edge apex, and the wedge join
    * fan-out is bounded regardless of hubs.
    *
    * Scale shape: one distinct-edge agg, one degree agg joined back,
    * one wedge self-join keyed on the apex, one edge-keyed close
    * join, then a three-way projection union + keyed count. Every
    * count is an exact integer; the clustering coefficient
    * 2T/(d(d−1)) is the single FP division (r6). Output per node:
    * (node, degree, n_triangles, clustering r6 — null when deg < 2). */
  def triangleCounts(pairs: DataFrame, a: String, b: String): DataFrame = {
    val e = pairs
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint()
    val deg = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val oriented = e
      .join(deg.select(col("node").as("u"), col("degree").as("_du")), "u")
      .join(deg.select(col("node").as("v"), col("degree").as("_dv")), "v")
      .select(
        when(col("_du") < col("_dv") ||
            (col("_du") === col("_dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("_e"))
      .select(col("_e.s").as("s"), col("_e.t").as("t"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("w0"),
        least(col("e1.t"), col("e2.t")).as("x"),
        greatest(col("e1.t"), col("e2.t")).as("y"))
    val tris = wedges.join(
      e.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    val perNode = tris.select(col("w0").as("node"))
      .unionByName(tris.select(col("x").as("node")))
      .unionByName(tris.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("clustering",
        when(col("degree") >= 2, round(
          lit(2.0) * col("n_triangles").cast("double") /
            (col("degree").cast("double") *
              (col("degree").cast("double") - lit(1.0))), 6)))
  }

  def dedupKeepBest(df: DataFrame, id: String, pairs: DataFrame,
                    score: DataFrame, scoreCol: String = "q"): DataFrame = {
    val comp = connectedComponents(pairs)
      .select(col("id").as(id), col("cluster"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(scoreCol).desc, col(id).asc)
    df.select(col(id))
      .join(comp, Seq(id), "left")
      .withColumn("cluster_id", coalesce(col("cluster"), col(id)))
      .join(score, Seq(id))
      .withColumn("kept", (row_number().over(w) === 1).cast("int"))
      .select(col(id), col("cluster_id"), col(scoreCol), col("kept"))
  }

  /** Driver union-find over an edge list: every node with its
    * component's root, where the root IS the component's minimum node
    * under `ord` — the distributed min-label fixpoint's answer exactly.
    * Nodes come back in the node map's iteration order. */
  private def minRootComponents[K](edges: Iterator[(K, K)])(
      implicit ord: Ordering[K]): Seq[(K, K)] = {
    val parent = new java.util.HashMap[K, K]()
    def find(x: K): K = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ord.lt(ra, rb)) parent.put(rb, ra)
      else if (ord.lt(rb, ra)) parent.put(ra, rb)
    }
    val out = Vector.newBuilder[(K, K)]
    val it = parent.keySet().iterator()
    while (it.hasNext) { val k = it.next(); out += ((k, find(k))) }
    out.result()
  }

  def connectedComponents(pairs0: DataFrame, idA: String = "id_a",
                          idB: String = "id_b",
                          maxIters: Int = 20,
                          castLong: Boolean = true,
                          driverEdgeLimit: Int = 2000000): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // ONE materialization of the (often expensive — LSH join + exact
    // verify) pair lineage, up front: the size probe, the fast-path
    // collect, AND the distributed edge build all read these blocks,
    // so no caller pays a recompute whichever path is taken. The edge
    // list is the NEAR-DUP pair set — linear in the corpus by the LSH
    // banding design, so this store is small relative to the data
    // already held by the curate stages around it.
    val pairs = pairs0.select(col(idA), col(idB)).localCheckpoint(true)
    // castLong guards the doc-id path (a ticker-style string id would
    // silently min() lexicographically); composite/struct node ids
    // (d06 spans) pass castLong=false and keep their field-wise order
    def asId(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (castLong) c.cast("long") else c
    // SMALL-GRAPH FAST PATH: the distributed rounds pay ~0.5 s of
    // fixed cost each (join + eager checkpoint + count), so a 500-pair
    // graph spends seconds on scheduling alone. The near-dup pair set
    // after LSH + exact verify is usually tiny relative to the corpus;
    // probe SIZE first with an exact count over the checkpointed blocks
    // (a count ships one long per partition, never rows), and only when
    // the graph is confirmed small collect the edges — 2M boxed
    // GenericRows are ~100 bytes each, so a blind collect-then-check
    // would hold ~200 MB of driver transients on every LARGE graph
    // before abandoning the fast path. A bigger graph pays one
    // block-read count and goes distributed (the 100 TB shape). Not a
    // `limit(n + 1).count()`: a limit names its generated counter from
    // a JVM-wide sequence (`_limit_counter_N`), so that class misses
    // the codegen cache and recompiled on every call.
    lazy val graphFitsDriver: Boolean = pairs.count() <= driverEdgeLimit
    if (castLong && graphFitsDriver) {
      val probe = pairs
        .select(col(idA).cast("long"), col(idB).cast("long")).collect()
      // null ids (a non-numeric id surviving the cast) fall through to
      // the distributed path rather than NPE-ing here — same contract
      // either way (castLong requires integral ids), one failure mode
      if (!probe.exists(_.anyNull)) {
        val s = pairs.sparkSession
        import s.implicits._
        return minRootComponents(probe.iterator.map(r => (r.getLong(0), r.getLong(1))))
          .toDF("id", "cluster")
      }
    } else pairs.schema(idA).dataType match {
      // composite node ids (d06 spans): same fast path when every
      // struct field is integral — lexicographic field order matches
      // Spark's struct min exactly. Anything else (strings, doubles,
      // nulls) stays on the distributed rounds.
      case st: org.apache.spark.sql.types.StructType
          if st.fields.forall(f => Seq[org.apache.spark.sql.types.DataType](
            org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.ShortType,
            org.apache.spark.sql.types.ByteType).contains(f.dataType)) =>
        val probe: Array[org.apache.spark.sql.Row] =
          if (graphFitsDriver) pairs.select(col(idA), col(idB)).collect()
          else null // large graph: skip the row collect, go distributed
        // an entirely-null composite id makes getStruct return null, so
        // check isNullAt first: null ids fall through to the distributed
        // path (the long branch's contract), never NPE here
        if (probe != null && !probe.exists(r =>
              r.isNullAt(0) || r.isNullAt(1) ||
              r.getStruct(0).anyNull || r.getStruct(1).anyNull)) {
          import scala.math.Ordering.Implicits.seqOrdering
          def key(r: org.apache.spark.sql.Row): Vector[Long] =
            (0 until r.length).map(i =>
              r.get(i).asInstanceOf[Number].longValue).toVector
          val rowOf =
            scala.collection.mutable.HashMap.empty[Vector[Long],
              org.apache.spark.sql.Row]
          val comps = minRootComponents(probe.iterator.map { row =>
            val sa = row.getStruct(0); val sb = row.getStruct(1)
            val a = key(sa); val b = key(sb)
            rowOf.getOrElseUpdate(a, sa); rowOf.getOrElseUpdate(b, sb)
            (a, b)
          })
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", st),
            org.apache.spark.sql.types.StructField("cluster", st)))
          val rows: Seq[org.apache.spark.sql.Row] = comps.map { case (k, r) =>
            org.apache.spark.sql.Row(rowOf(k), rowOf(r))
          }
          val s = pairs.sparkSession
          return s.createDataFrame(
            s.sparkContext.parallelize(rows,
              math.max(1, rows.size / 100000 + 1)), schema)
        }
      case _ => ()
    }
    val edges = pairs.select(asId(col(idA)).as("src"), asId(col(idB)).as("dst"))
      .union(pairs.select(asId(col(idB)).as("src"), asId(col(idA)).as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // mat = the round's MATERIALIZED frame (persisted/checkpointed);
    // labels = its (id, lbl) view. Tracked separately so unpersist always
    // targets the frame that owns the cached blocks.
    var mat = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = mat
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbr = edges
        .join(labels.select(col("id").as("dst"), col("lbl").as("dlbl")), "dst")
        .groupBy(col("src")).agg(min(col("dlbl")).as("nlbl"))
      val stepped = labels
        .join(nbr.select(col("src").as("id"), col("nlbl")), Seq("id"), "left")
        .select(col("id"), col("lbl").as("plbl"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer jumping: adopt my label's own label. Doubles the covered
      // distance per round → O(log n) total rounds on chains.
      // localCheckpoint (eager), NOT persist: persist caches the DATA but
      // keeps the logical plan, so each round's plan would nest the
      // previous round's — by round ~15 Catalyst optimization of the
      // doubled tree OOMs the DRIVER (hit by d04 at sf0.1). Checkpointing
      // truncates lineage, keeping every round's plan constant-size.
      // The changed flag rides the round's own frame (plbl is already in
      // hand), so convergence detection is a filter-count over the
      // checkpointed blocks — no extra join against the previous labels.
      val next = stepped.as("x")
        .join(stepped.select(col("id").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"), "left")
        .withColumn("nl", least(col("lbl"), coalesce(col("lbl2"), col("lbl"))))
        .select(col("id"), col("nl").as("lbl"), (col("nl") < col("plbl")).as("chg"))
        .localCheckpoint(true)
      changed = next.filter(col("chg")).count()
      mat.unpersist(blocking = false)
      mat = next
      labels = next.select(col("id"), col("lbl"))
      iter += 1
    }
    edges.unpersist(blocking = false)
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents: maxIters=$maxIters reached with $changed " +
          "labels still propagating — result is not a fixpoint; raise maxIters")
    else
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"connectedComponents: fixpoint after $iter rounds")
    labels.select(col("id"), col("lbl").as("cluster"))
  }
}
