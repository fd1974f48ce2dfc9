package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cluster-scale layout utilities: bucketed co-located joins and
  * skew-salted joins. On local[32] these are exercised by tests that
  * assert on the PLAN (no shuffle exchange over the bucketed side;
  * salt fan-out present) — the properties that matter at 100 TB.
  */
object ScaleOps {

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes, read
    * typed (so "-1" and "10MB" both parse); ≤ 0 means auto-broadcast is
    * disabled. The explicit-broadcast guards bound their hints by it. */
  def autoBroadcastBytes(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** Write both sides bucketed+sorted on the join key, so repeated
    * fact-to-fact joins read pre-shuffled data (no Exchange over
    * either side — SortMergeJoin directly on bucket files). This is
    * the "pay the shuffle once at ingest" pattern for 100 TB facts
    * that join on the same key query after query. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Salted join for a skewed big side against a small-ish right side:
    * big rows get a random salt in [0, saltFactor); the right side is
    * replicated saltFactor× with an exploded salt column; the join key
    * becomes (key, salt), splitting each hot key across saltFactor
    * tasks. Prefer AQE skew handling first; salt when a single key is
    * hot enough to defeat even AQE's split (or the join is
    * broadcast-ineligible). */
  def saltedJoin(big: DataFrame, right: DataFrame, key: String,
                 saltFactor: Int, seed: Long = 42L): DataFrame = {
    val salted = big.withColumn("_salt",
      pmod(hash(col(key), monotonically_increasing_id(), lit(seed)),
        lit(saltFactor)))
    val replicated = right.withColumn("_salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Deterministic hash split (train/val/test): bucket = portable
    * md5-derived h64(salt|id) mod 10000, assigned against cumulative
    * weight cutoffs computed once on the driver. Pure map-side — no
    * shuffle, no RNG state — so the assignment is stable under reruns,
    * repartitioning and incremental appends, which sample()-based
    * splits are not. Weights are normalized; cutoffs are integer bucket
    * boundaries (round(cum·10000)), exact on both oracle engines. */
  def hashSplit(df: DataFrame, id: String, salt: Int,
                splits: Seq[(String, Double)],
                out: String = "split"): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    val total = splits.map(_._2).sum
    val cuts = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(c => math.round(c * 10000))
    val bucket = pmod(graft.text.Dedup.h64(col(id).cast("string"), salt),
      lit(10000L))
    val assigned = splits.dropRight(1).zip(cuts).foldRight(
        lit(splits.last._1): org.apache.spark.sql.Column) {
      case (((name, _), cut), acc) => when(bucket < cut, name).otherwise(acc)
    }
    df.withColumn(out, assigned)
  }

  /** Deterministic stratified sampling: per-stratum keep fractions via
    * the same portable md5 hash buckets as [[hashSplit]] — the
    * class-balancing/downsampling step of a training-data pipeline,
    * map-side and exactly reproducible (rerun/repartition/append-stable,
    * unlike `sampleBy`). Strata absent from `fractions` keep
    * `defaultFraction`; cutoffs are integer bucket boundaries. */
  def stratifiedSample(df: DataFrame, id: String, stratum: String, salt: Int,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 1.0): DataFrame = {
    val bucket = pmod(graft.text.Dedup.h64(col(id).cast("string"), salt),
      lit(10000L))
    val cut = fractions.toSeq.sortBy(_._1).foldRight(
        lit(math.round(defaultFraction * 10000)): org.apache.spark.sql.Column) {
      case ((k, f), acc) => when(col(stratum) === k, math.round(f * 10000)).otherwise(acc)
    }
    df.filter(bucket < cut)
  }

  /** Deterministic EXACT-N global sample: the n rows with the smallest
    * salted portable-hash rank (ties broken by id) — the "give me
    * exactly 100k uniform docs" primitive that fraction sampling
    * ([[stratifiedSample]]) cannot provide and k-per-key
    * ([[sampleKPerKey]]) only bounds per group. Rerun/repartition/
    * append-stable up to hash displacement (a new row entering the
    * top-n evicts exactly one old row).
    *
    * Scale shape: global ordered limit plans as TakeOrderedAndProject —
    * per-partition top-n then a single bounded merge, never a full
    * sort. n is the driver-bounded quantity by definition. */
  def sampleExactN(df: DataFrame, id: String, n: Int, salt: Int): DataFrame =
    df.orderBy(graft.text.Dedup.h64(col(id).cast("string"), salt).asc,
        col(id).asc)
      .limit(n)

  /** Deterministic shard shuffle (beyond reference, a12): the global
    * training-order permutation — every row gets a (shard, pos) from
    * its salted portable hash, so "read shards in order, each shard in
    * pos order" is a reproducible pseudo-random pass over the corpus
    * (the shuffled-shard write every pretraining loader expects).
    * Re-salting re-permutes; reruns/repartitions/appends keep every
    * existing row's shard stable (pos shifts only within the shard an
    * appended row lands in).
    *
    * Scale shape: NO global sort — shard = hash mod nShards is
    * map-side, and pos is a per-SHARD window (nShards independent
    * sorts, each 1/nShards of the corpus; size shards so one fits an
    * executor, exactly like the t09 packing contract). A global
    * row_number would single-partition the corpus — the one shape this
    * op must never take. */
  def shardShuffle(df: DataFrame, id: String, salt: Int,
                   nShards: Int): DataFrame = {
    require(nShards > 0, "need at least one shard")
    val h = graft.text.Dedup.h64(col(id).cast("string"), salt)
    df.withColumn("_h", h)
      .withColumn("shard", pmod(col("_h"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("_h"), col(id))))
      .drop("_h")
  }

  /** Curriculum ordering (beyond reference, a17): deterministic shard
    * assignment (salted h64 — the a12 convention, so shards are
    * balanced and append-stable) plus an intra-shard CURRICULUM
    * position ordered by (score, id) — the easy-to-hard feed order of
    * curriculum learning — and a strided global index
    * `global_pos = pos·nShards + shard` that interleaves shards so
    * consuming rows in global_pos order tracks the curriculum
    * corpus-wide WITHOUT any global sort: the plan is one map-side
    * hash projection and one row_number window PER SHARD KEY
    * (nShards-way parallel), never a single-partition ordering. At
    * 100 TB each shard is one task chain and the trainer reads shards
    * in stride. `descending` = hard-first (anti-curriculum).
    * Ties break on id, so any integer or pre-rounded score is
    * engine-portable. */
  def curriculumOrder(df: DataFrame, id: String, score: Column,
                      nShards: Int, salt: Int,
                      descending: Boolean = false): DataFrame = {
    require(nShards > 0, "need at least one shard")
    val h = graft.text.Dedup.h64(col(id).cast("string"), salt)
    val ord =
      if (descending) Seq(col("_sc").desc, col(id).asc)
      else Seq(col("_sc").asc, col(id).asc)
    df.withColumn("_sc", score)
      .withColumn("shard",
        pmod(h, lit(nShards.toLong)).cast("int"))
      .withColumn("pos", (row_number().over(
        Window.partitionBy(col("shard")).orderBy(ord: _*)) - 1)
        .cast("int"))
      .withColumn("global_pos",
        (col("pos").cast("long") * nShards + col("shard")))
      .drop("_sc")
  }

  /** Per-COLLECTION curriculum ordering (a17b — the `*b` family pass
    * over [[curriculumOrder]]): shard assignment and curriculum rank
    * run WITHIN each `series` group, so every tenant/source gets its
    * own balanced shards and its own easy-to-hard order — the
    * multi-tenant form (one tenant's giant documents must not push
    * another's to the back of the feed). Same plan shape with the
    * collection key riding the hash salt input and every window key:
    * the window partitions on (series, shard) — still nShards-way
    * parallel PER collection, never global. */
  def curriculumOrderBy(df: DataFrame, id: String, series: String,
                        score: Column, nShards: Int, salt: Int,
                        descending: Boolean = false): DataFrame = {
    require(nShards > 0, "need at least one shard")
    val h = graft.text.Dedup.h64(
      concat_ws("|", col(series).cast("string"), col(id).cast("string")),
      salt)
    val ord =
      if (descending) Seq(col("_sc").desc, col(id).asc)
      else Seq(col("_sc").asc, col(id).asc)
    df.withColumn("_sc", score)
      .withColumn("shard",
        pmod(h, lit(nShards.toLong)).cast("int"))
      .withColumn("pos", (row_number().over(
        Window.partitionBy(col(series), col("shard")).orderBy(ord: _*))
        - 1).cast("int"))
      .withColumn("global_pos",
        (col("pos").cast("long") * nShards + col("shard")))
      .drop("_sc")
  }

  /** Deterministic weighted sample WITHOUT replacement (beyond
    * reference, a13): Efraimidis–Spirakis A-ES — each row's key is
    * u^(1/w) with u its salted portable-hash uniform draw, and the n
    * LARGEST keys are the sample, which selects without replacement
    * with probability proportional to weight. Ranked on ln(u)/w (the
    * same order as u^(1/w), one libm call instead of pow) ROUNDED to
    * 12 decimals so the one-ulp cross-libm ln skew cannot flip a rank
    * (ties then break on id identically everywhere). u = (h+1)/2⁶⁰ is
    * an exact power-of-two scaling of the 60-bit hash, in (0, 1] so
    * ln never sees 0. Deterministic under rerun/repartition; re-salt
    * re-draws.
    *
    * Scale shape: one map-side key projection + a global ordered
    * limit, which plans as TakeOrderedAndProject (per-partition top-n,
    * bounded merge — the a09 contract); n is driver-bounded by
    * definition. Weights must be strictly positive. */
  def weightedSampleN(df: DataFrame, id: String, weight: Column, n: Int,
                      salt: Int): DataFrame = {
    val u = (graft.text.Dedup.h64(col(id).cast("string"), salt) + lit(1L))
      .cast("double") / lit(1152921504606846976.0)
    df.withColumn("sample_key", round(log(u) / weight, 12))
      .orderBy(col("sample_key").desc, col(id).asc)
      .limit(n)
  }

  /** Mixture rebalancing sample (beyond reference): deterministically
    * downsample each key (source/domain/language) so the OUTPUT
    * follows target proportions — the "data mixture" step of
    * pretraining pipelines. With normalized target weights w_k and
    * per-key counts n_k, the largest feasible output is
    * N = min_k(n_k / w_k) total rows; each key keeps fraction
    * f_k = w_k · N / n_k (≤ 1, = 1 on the binding key). Keys outside
    * `target` are dropped. Sampling delegates to [[stratifiedSample]]'s
    * salted portable-hash buckets, so the result is rerun/repartition/
    * append-stable and oracle-verifiable.
    *
    * Scale shape: one map-side-combinable count agg over the keys in
    * the target spec (driver state = |target| rows — the USER's mixture
    * spec, not data-sized), then one map-side bucket filter. */
  def mixtureSample(df: DataFrame, id: String, key: String, salt: Int,
                    target: Map[String, Double]): DataFrame = {
    require(target.nonEmpty, "need at least one target weight")
    val totW = target.values.sum
    val w = target.map { case (k, v) => k -> v / totW }
    val inTarget = df.filter(col(key).isin(target.keys.toSeq: _*))
    // key cast to string so integer source/domain codes survive the
    // driver-side read (the isin filter accepts them; getString would not)
    val counts = inTarget.groupBy(col(key).cast("string").as("_k"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = target.keys.filterNot(counts.contains)
    require(missing.isEmpty,
      s"target keys with no rows: ${missing.mkString(", ")} — the mixture " +
        "is infeasible (every weighted key needs at least one row)")
    val nOut = w.map { case (k, wk) => counts(k).toDouble / wk }.min
    val fracs = w.map { case (k, wk) => k -> wk * nOut / counts(k) }
    stratifiedSample(inTarget, id, key, salt, fracs, defaultFraction = 0.0)
  }

  /** Temperature-scaled mixture sample (beyond reference, a11): derive
    * the mixture weights FROM the data — w_k ∝ p_k^α with p_k the
    * observed key share — then rebalance exactly as [[mixtureSample]]
    * does. α &lt; 1 flattens the distribution toward uniform (α→0) while
    * α = 1 keeps it unchanged: the standard multilingual/source
    * "temperature sampling" knob for up-weighting tail languages
    * against a dominant head without hand-written target weights.
    *
    * Determinism: the α = 0.5 case routes through `sqrt`, which IEEE
    * 754 requires to be correctly rounded — the derived weights are
    * then bit-identical on every engine (generic α uses `pow`, whose
    * cross-libm ulp is absorbed by the basis-point cut rounding); the
    * weight denominator sums in sorted-key order so the fold order is
    * engine-independent too.
    *
    * Scale shape: identical to [[mixtureSample]] — one
    * map-side-combinable count agg (driver state = |keys| rows, the
    * key cardinality of a mixture axis, not data-sized) and one
    * map-side bucket filter. */
  def temperatureMixtureSample(df: DataFrame, id: String, key: String,
                               salt: Int, alpha: Double): DataFrame = {
    val counts = df.groupBy(col(key).cast("string").as("_k"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "temperature mixture needs a non-empty frame")
    val nn = counts.values.sum
    val pa = counts.map { case (k, n) =>
      k -> (if (alpha == 0.5) math.sqrt(n.toDouble / nn)
            else math.pow(n.toDouble / nn, alpha))
    }
    val den = pa.toSeq.sortBy(_._1).map(_._2).sum
    val w = pa.map { case (k, x) => k -> x / den }
    val nOut = w.map { case (k, wk) => counts(k).toDouble / wk }.min
    val fracs = w.map { case (k, wk) => k -> wk * nOut / counts(k) }
    stratifiedSample(df, id, key, salt, fracs, defaultFraction = 0.0)
  }

  /** Token-budget mixture with epoch upsampling (beyond reference):
    * resample each key (source/domain) so the OUTPUT token mass follows
    * target weights w_k against a total token budget B — the LLM
    * data-mixing step that [[mixtureSample]]'s row-count proportions
    * cannot express (domains differ wildly in tokens-per-doc), and the
    * one sampler here that can UPSAMPLE: a key whose desired mass
    * w_k·B exceeds its corpus tokens emits multiple epochs (full
    * copies, `epoch` column) plus one hash-sampled fractional epoch —
    * how under-represented high-quality sources are repeated against a
    * fixed pretraining token budget in practice.
    *
    * Per key, epochs e_k = min(maxEpochs, (w_k/ΣW)·B / t_k) with t_k
    * the key's observed token count, quantized to basis points
    * (round(e·10⁴)) so the fractional cutoff is an exact integer
    * compare on both oracle engines: a doc joins every epoch
    * i < ⌊e_k⌋ unconditionally and the last fractional epoch iff its
    * salted hash bucket < the remainder. All epochs of a doc share the
    * SAME id hash, so a downstream [[hashSplit]] on the same id sends
    * every copy to one split — upsampling can never leak a train doc
    * into val/test.
    *
    * Scale shape: one map-side-combinable sum over size(split(text))
    * per key — no token explode, no shuffle wider than the |target|
    * keys; driver state = |target| rows (the USER's mixture spec, not
    * data-sized). The resample itself is a pure map-side
    * sequence-explode + hash filter: no join, no window,
    * rerun/repartition/append-stable. maxEpochs caps the fan-out so a
    * mis-weighted tiny key cannot explode the corpus. */
  def tokenBudgetMixture(df: DataFrame, id: String, key: String,
                         text: String, salt: Int,
                         target: Map[String, Double], budgetTokens: Long,
                         maxEpochs: Int = 8): DataFrame =
    applyTokenBudget(df, id, key, text, salt,
      tokenBudgetPlan(df, key, text, target, budgetTokens, maxEpochs))

  /** The planning half of [[tokenBudgetMixture]]: per-key basis-point
    * epochs (key → round(e·10⁴)) from one map-side-combinable token-sum
    * agg over the static corpus. The returned plan is the frozen
    * "model" a stream replays ([[graft.streaming.StreamingScore]]) —
    * |target|-sized driver state, computed once. The double expression
    * ORDER matches the oracle SQL term for term so both engines
    * quantize the identical IEEE value. */
  def tokenBudgetPlan(df: DataFrame, key: String, text: String,
                      target: Map[String, Double], budgetTokens: Long,
                      maxEpochs: Int = 8): Map[String, Long] = {
    require(target.nonEmpty, "need at least one target weight")
    require(budgetTokens > 0, "token budget must be positive")
    require(maxEpochs >= 1, "maxEpochs must be at least 1")
    val totW = target.values.sum
    val toks = df.filter(col(key).isin(target.keys.toSeq: _*))
      .groupBy(col(key).cast("string").as("_k"))
      .agg(sum(tokenCount(text)).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = target.keys.filterNot(toks.contains)
    require(missing.isEmpty,
      s"target keys with no tokens: ${missing.mkString(", ")} — the " +
        "mixture is infeasible (every weighted key needs tokens)")
    target.map { case (k, wv) =>
      val e = math.min(maxEpochs.toDouble,
        (wv / totW) * budgetTokens / toks(k))
      k -> math.round(e * 10000)
    }
  }

  /** The map-side half of [[tokenBudgetMixture]]: sequence-explode each
    * doc into its ⌊e⌋ full epochs plus the hash-gated fractional epoch,
    * per the frozen basis-point plan. No shuffle, no join — safe to
    * run per micro-batch against a static plan. */
  def applyTokenBudget(df: DataFrame, id: String, key: String,
                       text: String, salt: Int,
                       eBps: Map[String, Long]): DataFrame = {
    val kc = col(key).cast("string")
    val full = eBps.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (k, b)) => when(kc === k, b / 10000).otherwise(acc)
    }
    val cut = eBps.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (k, b)) => when(kc === k, b % 10000).otherwise(acc)
    }
    val hb = pmod(graft.text.Dedup.h64(col(id).cast("string"), salt),
      lit(10000L))
    df.filter(col(key).isin(eBps.keys.toSeq: _*))
      .withColumn("n_tokens", tokenCount(text))
      .withColumn("_full", full)
      .withColumn("_cut", cut)
      .withColumn("epoch", explode(sequence(lit(0L), col("_full"))))
      .filter(col("epoch") < col("_full") || hb < col("_cut"))
      .drop("_full", "_cut")
  }

  /** Whitespace token count as a map-side expression — size(filter(
    * split)), no token explode. */
  private def tokenCount(text: String): org.apache.spark.sql.Column =
    size(filter(split(col(text), " "), t => t =!= "")).cast("long")

  /** Deterministic k-per-key sample: keep exactly min(k, |group|) rows
    * per key, chosen by a salted portable hash of the row id — the
    * bounded-fan-out cousin of [[stratifiedSample]] (which keeps a
    * FRACTION and so scales per-key output with corpus growth; this
    * caps it). Stable under reruns and repartitioning, uniform-ish by
    * the hash, and one keyed window pass — the standard "cap examples
    * per domain/source/user" primitive of corpus curation. */
  def sampleKPerKey(df: DataFrame, id: String, key: String, k: Int,
                    salt: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
      .orderBy(graft.text.Dedup.h64(col(id).cast("string"), salt).asc,
        col(id).asc)
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }
}
