package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`Array[Float]`), for near-dup detection and retrieval in a
  * training-data pipeline.
  *
  * Scale design: brute-force top-k is the small-query-set baseline —
  * the query side is broadcast, the corpus streams, so cost is
  * O(|corpus| × |queries|) with zero shuffle of the corpus. The scale
  * path is random-hyperplane LSH: a constant number of sign bits per
  * vector → bucket join, shuffling only bucket keys + vectors once.
  * Dot products are higher-order array functions (zip_with/aggregate) —
  * codegen'd, no UDF, no driver collect.
  */
object Similarity {

  /** Sequential-fold dot product of two array columns (double math) —
    * a native codegen'd Catalyst expression ([[graft.functions.DotProduct]]);
    * value-identical to the aggregate(zip_with(...)) fold it replaced,
    * which ran interpreted (higher-order functions are CodegenFallback). */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** Cosine similarity = dot / sqrt(|a|²·|b|²). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Exact top-k cosine neighbors for each query vector (queries must be
    * small — they are broadcast). Excludes self-matches on id equality.
    * Deterministic tie-break: (cos desc, corpus id asc) after rounding
    * cosine to `roundTo` decimals.
    * Self-norms are computed ONCE per row before the pair join (keeping
    * the oracle's dot/sqrt(na·nb) expression shape) — per-pair norm
    * recomputation is the dominant waste in naive all-pairs cosine. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, id: String,
                     vec: String, k: Int, roundTo: Int = 5): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("qv"),
      dot(col(vec), col(vec)).as("qn"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"),
      dot(col(vec), col(vec)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / sqrt(col("qn") * col("cn")), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk"))
  }

  /** Deterministic pseudo-random unit-free hyperplanes for sign-LSH:
    * plane p, dim d weight = centered 64-bit mix of (seed, p, d).
    * Generated driver-side (tiny), embedded as a literal — every
    * executor sees identical planes with no RNG dependency. */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** `bands` independent plane sets (OR-amplification): a pair is a
    * candidate if it agrees on ALL planes of ANY band — recall
    * 1 − (1 − p^planesPerBand)^bands vs p^n for one n-plane band. */
  def bandPlanes(dim: Int, planesPerBand: Int, bands: Int,
                 seed: Long): Array[Array[Array[Double]]] =
    Array.tabulate(bands)(b => hyperplanes(dim, planesPerBand, seed * 101L + b))

  /** Exact-verify join of a candidate id-pair frame against the vector
    * frame: `cand(id_a, id_b) ⋈ va ⋈ vb`, returning the pair rows with
    * `va/na/vb/nb` attached (the caller computes the cosine and the
    * threshold filter so rounding contracts stay at the call site).
    *
    * The JOIN STRATEGY decides the shuffle bill here, not the join
    * itself: the candidate frame is the potentially enormous side (at
    * loose thresholds the LSH pair set grows superlinearly with the
    * corpus) while the vector frame is linear in the corpus. The
    * default sort-merge plan shuffles + sorts the candidate frame by
    * id_a, then AGAIN by id_b — the second time CARRYING the first
    * vector payload (~8·dim bytes/row), the guide-§8 anti-pattern of
    * moving heavy bytes twice; the 30× ladder cells measured exactly
    * this as executor page-allocation pressure. When the vector side is
    * provably small — estimated bytes (nVectors·(8·dim + 24)) ≤
    * `spark.graft.verify.broadcastMaxBytes` (default 4× the session's
    * autoBroadcastJoinThreshold, the [[graft.text.Dedup]] pairSideJoin
    * bound — ~40 MB at defaults, far from driver OOM even at the 2–4×
    * HashedRelation framing overhead) — broadcast ONE shared
    * (id, vec, norm) relation ALIASED for both sides: the hash relation
    * is shipped and built once (two per-side projections broadcast-built
    * twice — r17's plan dumps show two BroadcastExchanges, no reuse) and
    * candidates stream through two in-place hash joins with zero
    * post-distinct exchanges and no vector shuffle at all. Beyond the
    * cap, hint SHUFFLED-HASH so the corpus-bounded vector side is the
    * per-partition build and the candidate frame, while still shuffled,
    * is never sorted — but ONLY while the estimated per-partition build
    * (estBytes / shuffle partitions) stays under
    * `spark.graft.verify.shuffleHashMaxBuildPerPartition` (default
    * 256m): the SHJ build map cannot spill, so past that bound the plan
    * falls back to sort-merge, whose sorts spill gracefully (guide
    * §3.1). Emitted rows are identical under every strategy; gate
    * outputs carry their own final orderBy. */
  private def verifyPairs(cand: DataFrame, withNorm: DataFrame,
                          id: String, vec: String,
                          nVectors: Long, dim: Int): DataFrame = {
    import org.apache.spark.network.util.JavaUtils
    val spark = withNorm.sparkSession
    val estBytes = nVectors * (8L * math.max(1, dim) + 24L)
    val autoBytes = graft.core.ScaleOps.autoBroadcastBytes(spark)
    val cap = spark.conf.getOption("spark.graft.verify.broadcastMaxBytes")
      .map(JavaUtils.byteStringAsBytes)
      .getOrElse(if (autoBytes > 0) 4L * autoBytes else 0L)
    if (nVectors > 0 && estBytes <= cap) {
      // explicit symmetric not-null filter: the optimizer infers
      // isnotnull(id) (join key) and isnotnull(norm) (the callers'
      // cosine threshold) into BOTH aliases anyway — but with
      // side-dependent conjunct ORDER, which breaks plan
      // canonicalization and with it exchange reuse. Stating the
      // conjunction once keeps both subtrees byte-identical so the
      // broadcast is shipped and built once (ReusedExchange).
      val v = broadcast(withNorm.select(col(id).as("_vid"),
          col(vec).as("_vv"), col("_n").as("_vn"))
        .filter(col("_vid").isNotNull && col("_vn").isNotNull))
      cand.join(v.as("_gva"), col("id_a") === col("_gva._vid"))
        .join(v.as("_gvb"), col("id_b") === col("_gvb._vid"))
        .select(col("id_a"), col("id_b"),
          col("_gva._vv").as("va"), col("_gva._vn").as("na"),
          col("_gvb._vv").as("vb"), col("_gvb._vn").as("nb"))
    } else {
      val va0 = withNorm.select(col(id).as("id_a"), col(vec).as("va"),
        col("_n").as("na"))
      val vb0 = withNorm.select(col(id).as("id_b"), col(vec).as("vb"),
        col("_n").as("nb"))
      val shufflePartitions = spark.conf
        .get("spark.sql.shuffle.partitions", "200").toLong
      val shjCap = JavaUtils.byteStringAsBytes(spark.conf
        .get("spark.graft.verify.shuffleHashMaxBuildPerPartition", "256m"))
      val (va, vb) =
        if (estBytes / math.max(1L, shufflePartitions) <= shjCap)
          (va0.hint("shuffle_hash"), vb0.hint("shuffle_hash"))
        else (va0, vb0)
      cand.join(va, "id_a").join(vb, "id_b")
    }
  }

  /** Random-hyperplane (sign) LSH bucket id per vector: one bit per
    * plane packed into a long. Vectors in the same bucket agree on all
    * nPlanes signs ⇒ small angular distance with high probability. */
  def signBuckets(df: DataFrame, vec: String, planes: Array[Array[Double]],
                  out: String = "bucket"): DataFrame = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(col(vec), planeLit) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    df.withColumn(out, bits.reduce((a, b) => a.bitwiseOR(b)))
  }

  /** ANN near-dup pairs: MULTI-BAND sign-LSH bucket join + exact cosine
    * verify. Candidates = pairs agreeing on all planes of ANY band
    * (OR-amplification — a single AND-band's recall decays as
    * p^nPlanes, ~5% at cos 0.3; 8 bands of 4 planes recover ~2/3 at
    * that distance and ≈1 for true near-dups). Shuffle volume is
    * O(rows × bands) bucket keys; each pair group is bounded by
    * |bucket|.
    *
    * Scale caveat: a band has only 2^nPlanes buckets, so at FIXED
    * nPlanes mean occupancy — and with it candidate-pair volume —
    * grows linearly/quadratically with the corpus (measured: the 16
    * buckets/band of the nPlanes=4 gate config saturate by 20k
    * vectors). At scale use [[lshNearDupPairsScaled]], which grows
    * nPlanes with the corpus to hold occupancy constant. */
  def lshNearDupPairs(df: DataFrame, id: String, vec: String,
                      threshold: Double, nPlanes: Int = 4,
                      bands: Int = 8, seed: Long = 42L): DataFrame = {
    val dim = df.select(size(col(vec))).first().getInt(0)
    // eager (this function already probes dim eagerly): the corpus size
    // gates the verify join's broadcast guard in [[verifyPairs]]
    val nVectors = df.count()
    val planes = bandPlanes(dim, nPlanes, bands, seed)
    val withNorm = df.withColumn("_n", dot(col(vec), col(vec)))
    // all bands in ONE native expression (graft.functions.SignBuckets):
    // the per-band composed columns collapsed into a single projection
    // of bands×nPlanes inlined dot subtrees — past ~3 bands of depth 8
    // that busts the JIT huge-method limit (the PqEncode cliff)
    val banded = withNorm.select(col(id),
      posexplode(graft.functions.SignBuckets(col(vec), planes))
        .as(Seq("band", "bucket")))
    // candidates de-duped on ids ONLY (distinct over the raw vectors
    // would hash every array per pair); vectors re-joined after
    val a = banded.select(col(id).as("id_a"), col("band"), col("bucket"))
    val b = banded.select(col(id).as("id_b"), col("band"), col("bucket"))
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    verifyPairs(cand, withNorm, id, vec, nVectors, dim)
      .withColumn("cosine",
        dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Plane count that holds mean sign-LSH bucket occupancy near
    * `targetBucket` as the corpus grows: buckets per band = 2^nPlanes,
    * so occupancy n/2^nPlanes stays ~constant when nPlanes grows with
    * log2(n) — the bucket join stays O(n·targetBucket·bands), linear
    * in the corpus, instead of O(n²/2^nPlanes). */
  def planesForOccupancy(n: Long, targetBucket: Int): Int =
    math.max(4, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt)

  /** Band count for a target recall at a cosine threshold: per-plane
    * agreement p = 1 − acos(t)/π, per-band p^nPlanes, OR over bands ⇒
    * recall 1 − (1 − p^nPlanes)^bands. Solving for bands keeps recall
    * pinned as [[planesForOccupancy]] deepens the bands. Clamped to
    * [2, 64] — beyond 64 bands the threshold is too loose for LSH to
    * prune anything (use a blocked/exact pass instead). */
  def bandsForRecall(nPlanes: Int, threshold: Double, recall: Double): Int = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val perBand = math.pow(p, nPlanes)
    val b = math.ceil(math.log(1.0 - recall) / math.log(1.0 - perBand))
    math.max(2, math.min(64, if (b.isNaN || b.isInfinite) 64 else b.toInt))
  }

  /** Observed-occupancy refinement of the (nPlanes, bands) operating
    * point. [[planesForOccupancy]]'s uniform model under-plans for
    * CORRELATED vectors: hashed-text embeddings share stopword mass,
    * so sign patterns concentrate and a few (band, bucket) groups hold
    * a constant FRACTION of the corpus (measured 6% of 50k docs in one
    * bucket at the 10× curate cell — 108M candidate pairs where the
    * model predicts 20M) and the bucket join turns quadratic. Probe
    * the ACTUAL max bucket under the current planes (one SignBuckets
    * scan + keyed count — linear, vs the quadratic it prevents) and
    * deepen by log2(maxBucket / targetBucket) planes, re-solving bands
    * via [[bandsForRecall]] so the recall pin survives the deepening,
    * until the hottest bucket is under 16× targetBucket or the probe
    * budget (3 scans) is spent. Extra random hyperplanes still split a
    * correlated cloud — only sign-identical vectors are inseparable —
    * so each round strictly shrinks the hot bucket. nPlanes is capped
    * at 62 (the bucket id is a packed Long of sign bits). */
  private[graft] def refinePlanes(df: DataFrame, vec: String,
                                  block: Option[String], dim: Int,
                                  nPlanes0: Int, threshold: Double,
                                  targetBucket: Int, recall: Double,
                                  seed: Long): (Int, Int) = {
    val hardCap = 16L * targetBucket
    var nPlanes = nPlanes0
    var bands = bandsForRecall(nPlanes, threshold, recall)
    var tries = 0
    var done = false
    while (!done && tries < 3 && nPlanes < 62) {
      val planes = bandPlanes(dim, nPlanes, bands, seed)
      val grouped = df.select(block.toSeq.map(col) :+
        posexplode(graft.functions.SignBuckets(col(vec), planes))
          .as(Seq("band", "bucket")): _*)
      val keys = (block.toSeq ++ Seq("band", "bucket")).map(col)
      val maxBucket = grouped.groupBy(keys: _*).count()
        .agg(max(col("count"))).first().getLong(0)
      if (maxBucket <= hardCap) done = true
      else {
        nPlanes = math.min(62, nPlanes + math.max(1, math.ceil(
          math.log(maxBucket.toDouble / targetBucket) / math.log(2.0)).toInt))
        bands = bandsForRecall(nPlanes, threshold, recall)
        tries += 1
      }
    }
    (nPlanes, bands)
  }

  /** [[lshNearDupPairs]] with the (nPlanes, bands) operating point
    * derived from the corpus size: occupancy-constant buckets
    * (candidate volume linear in n) and recall re-pinned via
    * [[bandsForRecall]], then refined against OBSERVED bucket skew
    * ([[refinePlanes]] — correlated corpora concentrate sign patterns
    * far beyond the uniform model). The extra cost is a count() plus
    * 1–4 linear bucket probes, amortized against the bucket join they
    * bound. This is the production configuration; fixed-parameter
    * [[lshNearDupPairs]] is the small-corpus/oracle-gate twin. */
  def lshNearDupPairsScaled(df: DataFrame, id: String, vec: String,
                            threshold: Double, targetBucket: Int = 64,
                            recall: Double = 0.95,
                            seed: Long = 42L): DataFrame = {
    val n = df.count()
    if (n == 0) {
      val s = df.sparkSession
      import s.implicits._
      return s.emptyDataset[(Long, Long, Double)]
        .toDF("id_a", "id_b", "cosine")
    }
    val dim = df.select(size(col(vec))).first().getInt(0)
    val nPlanes0 = planesForOccupancy(n, targetBucket)
    val (nPlanes, bands) = refinePlanes(df, vec, None, dim, nPlanes0,
      threshold, targetBucket, recall, seed)
    lshNearDupPairs(df, id, vec, threshold, nPlanes, bands, seed)
  }

  /** Bands for a ladder rung: [[bandsForRecall]] capped at `bandCap`.
    * The cap bounds per-row band·plane work REGARDLESS of threshold —
    * at loose thresholds (cos ≲ 0.5) the recall pin is unsatisfiable
    * (bandsForRecall wants hundreds of bands) and an uncapped config
    * pays the full clamp work for recall it never reaches (measured:
    * the 64-band clamp at cos 0.3/0.45 is the whole 20–57× tail of
    * the 30× pair-family run). Under the cap, recall degrades
    * gracefully with rung depth and every emitted pair is still
    * exact-verified (precision 1.0); exhaustive recall at loose
    * thresholds is [[blockedNearDupPairs]]' job, not LSH's. */
  def ladderBands(nPlanes: Int, threshold: Double, recall: Double,
                  bandCap: Int): Int =
    math.min(bandCap, bandsForRecall(nPlanes, threshold, recall))

  /** Occupancy-selected rung of a FIXED QUANTIZED LADDER of sign-LSH
    * operating points — the oracle-replayable form of the
    * [[refinePlanes]] derivation. Rungs share plane PREFIXES: band b
    * of every rung draws from the same RNG stream
    * ([[hyperplanes]](dim, nP, seed·101+b) fills row-major), so rung
    * (nP, ·)'s bucket is the low-nP-bit mask of the deepest rung's
    * bucket. That makes the whole derivation ONE SignBuckets scan at
    * (maxNP, maxBands) + one keyed count + one rung-exploded agg — and
    * lets a SQL oracle replay it exactly: embed the deepest planes
    * once, mask bits per rung, pick the same rung from the same
    * integer counts. Selection: the SHALLOWEST rung whose observed max
    * (block, band, bucket) occupancy is ≤ 16·targetBucket (the
    * [[refinePlanes]] hard cap), else the deepest rung. Returns
    * (nPlanes, bands, dim), or None on an empty corpus.
    *
    * The default rung list covers blocks up to ~4M vectors (2^12
    * buckets/band × the 16·64 hot-bucket cap); at larger block sizes
    * pass deeper rungs — selection cost stays one scan + one agg. The
    * unquantized [[refinePlanes]] twins remain for library callers
    * that don't need oracle replay. */
  def ladderOperatingPoint(df: DataFrame, vec: String, block: Option[String],
                           threshold: Double,
                           rungs: Seq[Int] = Seq(4, 6, 8, 10, 12),
                           bandCap: Int = 16, targetBucket: Int = 64,
                           recall: Double = 0.95,
                           seed: Long = 7L): Option[(Int, Int, Int)] = {
    require(rungs.nonEmpty && rungs == rungs.sorted.distinct,
      s"rungs must be strictly increasing: $rungs")
    require(rungs.last <= 62, "bucket ids are sign bits packed in a Long")
    val pts = rungs.map(np => (np, ladderBands(np, threshold, recall, bandCap)))
    val dimRow = df.select(size(col(vec))).limit(1).collect()
    if (dimRow.isEmpty) return None
    val dim = dimRow(0).getInt(0)
    val deep = bandPlanes(dim, rungs.last, pts.map(_._2).max, seed)
    val blockCols = block.toSeq.map(col)
    val deepCounts = df.select(blockCols :+
        posexplode(graft.functions.SignBuckets(col(vec), deep))
          .as(Seq("band", "bucket")): _*)
      .groupBy((block.toSeq ++ Seq("band", "bucket")).map(col): _*)
      .count()
    // one agg over the (already aggregated) deep counts: explode the
    // rung table (≤ |rungs| literal structs per counted bucket), mask
    // the deep bucket to the rung's prefix, max per rung — exact
    // integer counts, so both engines pick the identical rung
    val rungCol = explode(array(pts.zipWithIndex.map { case ((np, nb), i) =>
      struct(lit(i).as("rung"), lit(nb).as("nb"),
        lit((1L << np) - 1L).as("mask"))
    }: _*))
    val occ = deepCounts.withColumn("r", rungCol)
      .filter(col("band") < col("r.nb"))
      .groupBy(blockCols ++ Seq(col("r.rung").as("rung"), col("band"),
        col("bucket").bitwiseAND(col("r.mask")).as("mb")): _*)
      .agg(sum(col("count")).as("c"))
      .groupBy(col("rung")).agg(max(col("c")).as("mx"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (occ.isEmpty) return None
    val hardCap = 16L * targetBucket
    val sel = pts.indices.find(i => occ(i) <= hardCap).getOrElse(pts.size - 1)
    Some((pts(sel)._1, pts(sel)._2, dim))
  }

  /** [[lshNearDupPairs]] at the ladder-selected operating point — the
    * oracle-GATED production configuration (gate entry s01): bounded
    * band work via `bandCap`, occupancy-bounded candidates via rung
    * selection, and a derivation a SQL oracle replays bit-for-bit
    * (see [[ladderOperatingPoint]]). */
  def lshNearDupPairsLadder(df: DataFrame, id: String, vec: String,
                            threshold: Double,
                            rungs: Seq[Int] = Seq(4, 6, 8, 10, 12),
                            bandCap: Int = 16, targetBucket: Int = 64,
                            recall: Double = 0.95,
                            seed: Long = 42L): DataFrame =
    ladderOperatingPoint(df, vec, None, threshold, rungs, bandCap,
        targetBucket, recall, seed) match {
      case None =>
        val s = df.sparkSession
        import s.implicits._
        s.emptyDataset[(Long, Long, Double)].toDF("id_a", "id_b", "cosine")
      case Some((np, nb, _)) =>
        lshNearDupPairs(df, id, vec, threshold, np, nb, seed)
    }

  /** Per-vector inverted-list id: argmin centroid by L2 distance.
    * |v|² is common to all centroids, so the comparison key is
    * `|c|² − 2·v·c`. Ties break to the smallest centroid id. Runs as
    * the single-subspace case of the native [[graft.functions.PqEncode]]
    * expression (value-identical to the composed struct/array_min form
    * the specs keep as `SimOracle.ivfAssignComposed`) — tight generated
    * loops instead of a 16-dot inlined subtree. */
  def ivfAssign(v: Column, centroids: Array[Array[Double]]): Column =
    element_at(graft.functions.PqEncode(v, Array(centroids)), 1)

  /** IVF ANN top-k: corpus vectors are bucketed into inverted lists by
    * nearest centroid; each query probes its `nProbe` nearest lists and
    * exact-cosine-reranks only those candidates. The scale shape:
    * corpus shuffles ONCE on the list id, probe volume per query is
    * nProbe/nCentroids of the corpus (vs all of it for brute force),
    * and the codebook is a driver-side literal. Deterministic
    * tie-breaks: probe order (d, cid) struct sort; ranking (cos desc,
    * neighbor id) after r5 rounding. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
              centroids: Array[Array[Double]], nProbe: Int, k: Int,
              roundTo: Int = 5): DataFrame = {
    val ds = centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.map(lit): _*)
      val c2 = c.map(x => x * x).sum
      struct((dot(col(vec), cLit) * -2.0 + lit(c2)).as("d"), lit(i).as("cid"))
    }
    val probes = transform(
      slice(array_sort(array(ds: _*)), 1, nProbe), s => s.getField("cid"))
    val q = queries
      .select(col(id).as("query_id"), col(vec).as("qv"),
        dot(col(vec), col(vec)).as("qn"),
        explode(probes).as("cid"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"),
      dot(col(vec), col(vec)).as("cn"),
      ivfAssign(col(vec), centroids).as("cid"))
    val scored = c.join(broadcast(q), "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / sqrt(col("qn") * col("cn")), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk"))
  }

  /** PQ codes: per subspace, the argmin centroid of the subvector slice
    * (comparison key |c|² − 2·x_m·c like [[ivfAssign]]; ties to the
    * smallest code id), packed as an array<int> of length M. Encoding is
    * map-only — the corpus never shuffles, and the 8-byte code array
    * stands in for the 256-byte float vector in the scan. Runs as the
    * native [[graft.functions.PqEncode]] expression: the composed
    * m·k*-subtree form (the specs' `SimOracle.pqEncodeComposed`)
    * inlined ~130 expressions into the whole-stage-codegen consume
    * method, pushing it past the JVM JIT's huge-method bytecode limit
    * — the stage ran bytecode-interpreted (measured 2.8 s vs 0.57 s
    * with codegen off on a 10k-row window stage; value-identical per
    * the DedupSimSpec bit-equality test). */
  def pqEncode(v: Column, codebook: Array[Array[Array[Double]]]): Column =
    graft.functions.PqEncode(v, codebook)

  /** Per-query ADC lookup table: dot(q_m, c_{m,k}) for every subspace ×
    * centroid, flattened m-major (m·K + k). dot(q, x) ≈ Σ_m lut[m·K +
    * code_m(x)] — 8 array lookups per candidate instead of a 64-dim
    * multiply. Runs as the native [[graft.functions.PqLut]] expression:
    * the composed m·k*-dot-subtree form (the specs'
    * `SimOracle.pqLutComposed`) generates a method that exceeds
    * Janino's hard 64 KB bytecode limit at production dims (m=96: compile fails, the failure is NOT cached,
    * and every run re-pays a ~7 s compile attempt before interpreted
    * fallback — the dim-12× scale cell measured ~21× wall from this
    * alone). */
  def pqLut(v: Column, codebook: Array[Array[Array[Double]]]): Column =
    graft.functions.PqLut(v, codebook)

  /** PQ ANN top-k: asymmetric-distance (ADC) scan + exact rerank. The
    * corpus is PQ-encoded once (map-only, no shuffle); each (query,
    * candidate) score is M table lookups on the broadcast query's LUT —
    * the compressed-domain scan that makes exhaustive ANN feasible when
    * the float vectors no longer fit the cluster's memory. A per-query
    * shortlist of k·overfetch by approximate dot is then reranked by
    * exact cosine. Composable with [[ivfTopK]] (IVF-PQ: probe lists,
    * then ADC within them). Deterministic: ADC rounded to `roundTo`
    * with id tie-break picks the shortlist; exact (cos, id) ranks it. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
             codebook: Array[Array[Array[Double]]], k: Int,
             overfetch: Int = 2, roundTo: Int = 5): DataFrame = {
    val ks = codebook(0).length
    // SLIM ADC ranking: the window exchange ships (query_id,
    // neighbor_id, adc) ONLY. The raw vectors and the m·ks LUT used to
    // ride through this shuffle+sort for the downstream rerank — at
    // production dims they dwarf the 24-byte ranking triple (the 12x
    // embedding-dimension scale axis measured the old shape at 24x
    // wall); the rerank now re-reads the pruned (id, vec) columns and
    // broadcast-joins the tiny shortlist instead.
    val q = queries.select(col(id).as("query_id"),
      pqLut(col(vec), codebook).as("lut"))
    val c = corpus.select(col(id).as("neighbor_id"),
      pqEncode(col(vec), codebook).as("codes"))
    val adc = graft.functions.AdcSum(col("lut"), col("codes"), ks)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val shortIds = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), round(adc, roundTo).as("adc"))
      .withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= k * overfetch)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(queries, corpus, id, vec, shortIds, k, roundTo)
  }

  /** Exact-cosine rerank of a (query_id, neighbor_id) shortlist:
    * the shortlist (k·overfetch rows per query) is broadcast into a
    * map-side semi-join against the corpus — the only corpus columns
    * read are (id, vec), and no full vector ever crosses a shuffle. */
  private def rerankExact(queries: DataFrame, corpus: DataFrame,
                          id: String, vec: String, shortIds: DataFrame,
                          k: Int, roundTo: Int): DataFrame = {
    val qv = queries.select(col(id).as("query_id"), col(vec).as("qv"),
      dot(col(vec), col(vec)).as("qn"))
    val cv = corpus.select(col(id).as("neighbor_id"), col(vec).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cv.join(broadcast(shortIds), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cn", dot(col("cv"), col("cv")))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / sqrt(col("qn") * col("cn")), roundTo))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk"))
  }

  /** IVF-PQ ANN top-k: the production composition at corpus scales
    * where even scanning every PQ code per query is too much — IVF
    * prunes the scan to `nProbe` inverted lists, ADC scores only those
    * lists' 8-byte codes against the broadcast query's LUT, and exact
    * cosine reranks the per-query shortlist. ONE corpus shuffle on the
    * list id; codes and list assignment are computed in the same
    * map-only pass. Pure composition of [[ivfTopK]]'s probing and
    * [[pqTopK]]'s compressed-domain scan — determinism contracts
    * unchanged. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
                centroids: Array[Array[Double]],
                codebook: Array[Array[Array[Double]]],
                nProbe: Int, k: Int, overfetch: Int = 4,
                roundTo: Int = 5): DataFrame = {
    val ks = codebook(0).length
    val ds = centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.map(lit): _*)
      val c2 = c.map(x => x * x).sum
      struct((dot(col(vec), cLit) * -2.0 + lit(c2)).as("d"), lit(i).as("cid"))
    }
    val probes = transform(
      slice(array_sort(array(ds: _*)), 1, nProbe), s => s.getField("cid"))
    // same SLIM ADC ranking shape as [[pqTopK]]: only (query_id,
    // neighbor_id, adc) crosses the ranking window's exchange; vectors
    // and LUT stay out of the shuffle, the rerank re-joins them from a
    // pruned corpus scan against the broadcast shortlist
    val q = queries.select(col(id).as("query_id"),
      pqLut(col(vec), codebook).as("lut"), explode(probes).as("cid"))
    val c = corpus.select(col(id).as("neighbor_id"),
      ivfAssign(col(vec), centroids).as("cid"),
      pqEncode(col(vec), codebook).as("codes"))
    val adc = graft.functions.AdcSum(col("lut"), col("codes"), ks)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val shortIds = c.join(broadcast(q), "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), round(adc, roundTo).as("adc"))
      .withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= k * overfetch)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(queries, corpus, id, vec, shortIds, k, roundTo)
  }

  /** Persist an IVF-PQ index: one map-only pass over the corpus writes
    * (neighbor_id, codes, cv) parquet PARTITIONED BY the inverted-list
    * id — the "build the index offline once, serve queries many times"
    * production shape. Because the list id is the physical partition
    * key, a query run prunes the scan to its probed lists at the FILE
    * level (PartitionFilters), so serving cost is
    * nProbe/nlist of the corpus in I/O, not just in compute; the
    * encode pass itself never shuffles. */
  def writeIvfPqIndex(corpus: DataFrame, id: String, vec: String,
                      centroids: Array[Array[Double]],
                      codebook: Array[Array[Array[Double]]],
                      path: String): Unit =
    corpus.select(col(id).as("neighbor_id"),
        ivfAssign(col(vec), centroids).as("cid"),
        pqEncode(col(vec), codebook).as("codes"),
        col(vec).as("cv"))
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /** Incrementally append a corpus slice to a [[writeIvfPqIndex]]
    * index: the same map-only encode pass in append mode — new files
    * land inside the existing cid= partition directories, so serving
    * ([[ivfPqTopKIndexed]]) picks them up with no index rebuild and no
    * touch of the existing files. The codebooks are FROZEN (the
    * IvfCodebook/PqCodebook build-time contract), which is exactly what
    * makes incremental ingest sound: old and new codes live in the
    * same quantization space. Rebuild only when drift degrades recall
    * (the production re-train cadence). */
  def appendIvfPqIndex(corpus: DataFrame, id: String, vec: String,
                       centroids: Array[Array[Double]],
                       codebook: Array[Array[Array[Double]]],
                       path: String): Unit = {
    // FAIL FAST (before any file lands) on re-ingesting a
    // currently-tombstoned id: without row versioning there is no
    // sound in-place semantics — silently appending would leave the
    // new copy invisible (and the next compaction would drop it);
    // silently un-deleting would surface BOTH the stale rows still in
    // the files and the new ones as duplicate neighbors. The supported
    // cycle is delete → compact → re-ingest (compaction clears the
    // sidecar); the check is one broadcast semi-join of the appended
    // ids against the small sidecar.
    ivfPqTombstones(corpus.sparkSession, path).foreach { t =>
      val clash = corpus
        .select(col(id).cast("long").as("neighbor_id")).distinct()
        .join(broadcast(t.select(col("neighbor_id")).distinct()),
          Seq("neighbor_id"), "left_semi")
        .limit(1).count()
      require(clash == 0L,
        s"appendIvfPqIndex: appended ids are tombstoned in $path — run " +
          "compactIvfPqIndex before re-ingesting deleted ids")
    }
    corpus.select(col(id).as("neighbor_id"),
        ivfAssign(col(vec), centroids).as("cid"),
        pqEncode(col(vec), codebook).as("codes"),
        col(vec).as("cv"))
      .write.mode("append").partitionBy("cid").parquet(path)
  }

  /** Tombstone sidecar location for a [[writeIvfPqIndex]] index — a
    * plain parquet of `neighbor_id` longs kept BESIDE the index so the
    * index files themselves stay immutable between compactions. */
  def ivfPqTombstonePath(indexPath: String): String =
    indexPath.stripSuffix("/") + "_tombstones"

  private def ivfPqTombstones(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(ivfPqTombstonePath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Delete vectors from a [[writeIvfPqIndex]] index by id: an O(|ids|)
    * APPEND to the tombstone sidecar — no index file is touched, no
    * partition is read. Serving ([[ivfPqTopKIndexed]]) anti-joins the
    * sidecar (broadcast — tombstones are small between compactions by
    * contract); [[compactIvfPqIndex]] folds the deletions into the
    * files and clears the sidecar. Deleting an id absent from the index
    * is a harmless no-op, and re-deleting is idempotent at serve time
    * (the anti-join is set semantics). */
  def deleteFromIvfPqIndex(ids: DataFrame, id: String,
                           indexPath: String): Unit =
    ids.select(col(id).cast("long").as("neighbor_id")).distinct()
      .write.mode("append").parquet(ivfPqTombstonePath(indexPath))

  /** Fold the tombstone sidecar into the index files: rewrite ONLY the
    * inverted-list partitions that contain a tombstoned id (located
    * with one column-pruned neighbor_id scan), at the `cid=` directory
    * level so a list whose vectors are ALL tombstoned ends up removed
    * rather than stale, and clear the sidecar. Crash-safe write-new →
    * swap → clean ordering:
    *
    *  1. survivors are WRITTEN to a durable `_compact_tmp` sibling
    *     (a real parquet write, fault-tolerant — never an
    *     executor-memory checkpoint) while the live index is untouched;
    *  2. each affected `cid=` dir is swapped by two renames (live →
    *     `_compact_trash`, tmp → live) — the loss window is one rename
    *     pair per directory, and the displaced rows always exist on
    *     disk (trash) for manual recovery;
    *  3. the tombstone sidecar is deleted LAST, after every swap
    *     committed — a crash anywhere earlier leaves serving correct
    *     (the anti-join still masks tombstoned rows) and a re-run of
    *     compaction completes the job: already-swapped partitions no
    *     longer contain tombstoned ids, so only the remaining dirs are
    *     recomputed.
    *
    * Returns the number of partitions rewritten. */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String): Int = {
    val tombs = ivfPqTombstones(spark, indexPath).getOrElse(return 0)
    val tomb = broadcast(tombs.select(col("neighbor_id")).distinct())
    val idx = spark.read.parquet(indexPath)
    val affected = idx.join(tomb, "neighbor_id")
      .select(col("cid")).distinct().collect().map(_.getInt(0)).sorted
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = indexPath.stripSuffix("/")
    if (affected.nonEmpty) {
      val tmpBase = base + "_compact_tmp"
      val trashBase = base + "_compact_trash"
      // 1. durable write of the survivors; live index untouched
      idx.filter(col("cid").isin(affected.map(Integer.valueOf).toSeq: _*))
        .join(tomb, Seq("neighbor_id"), "left_anti")
        .write.mode("overwrite").partitionBy("cid").parquet(tmpBase)
      // 2. per-directory swap: live → trash, tmp → live (a cid whose
      // rows are all tombstoned has no tmp dir — the rename is skipped
      // and the list is simply removed)
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(hconf)
      fs.mkdirs(new org.apache.hadoop.fs.Path(trashBase))
      // Hadoop rename returns FALSE on failure rather than throwing;
      // an unchecked swap would fall through to the cleanup below and
      // delete the compacted copy + tombstone sidecar with the live
      // dir still holding tombstoned rows. Abort on the first failed
      // swap: tombstones stay intact (serving stays correct) and a
      // re-run completes the remaining directories — the documented
      // crash-anywhere contract.
      affected.foreach { cid =>
        val live = new org.apache.hadoop.fs.Path(s"$base/cid=$cid")
        val tmp = new org.apache.hadoop.fs.Path(s"$tmpBase/cid=$cid")
        val trash = new org.apache.hadoop.fs.Path(s"$trashBase/cid=$cid")
        if (fs.exists(live) && !fs.rename(live, trash))
          throw new java.io.IOException(
            s"ivfpq compaction: rename $live -> $trash failed; " +
              "tombstones left intact, re-run to complete")
        if (fs.exists(tmp) && !fs.rename(tmp, live))
          throw new java.io.IOException(
            s"ivfpq compaction: rename $tmp -> $live failed; " +
              "tombstones left intact, re-run to complete")
      }
      // 3. cleanup only after every swap committed
      fs.delete(new org.apache.hadoop.fs.Path(trashBase), true)
      fs.delete(new org.apache.hadoop.fs.Path(tmpBase), true)
    }
    val tp = new org.apache.hadoop.fs.Path(ivfPqTombstonePath(indexPath))
    tp.getFileSystem(hconf).delete(tp, true)
    affected.length
  }

  /** IVF-PQ top-k served from a [[writeIvfPqIndex]] index: identical
    * semantics (and output) to [[ivfPqTopK]], but the corpus is never
    * re-encoded — the probed-list union is computed from the
    * driver-bounded query set and pushed as a STATIC partition filter,
    * so both the ADC scan and the exact rerank read only
    * |union of probes| / nlist of the index files. */
  def ivfPqTopKIndexed(queries: DataFrame, indexPath: String, id: String,
                       vec: String, centroids: Array[Array[Double]],
                       codebook: Array[Array[Array[Double]]],
                       nProbe: Int, k: Int, overfetch: Int = 4,
                       roundTo: Int = 5): DataFrame = {
    val spark = queries.sparkSession
    val ks = codebook(0).length
    val ds = centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.map(lit): _*)
      val c2 = c.map(x => x * x).sum
      struct((dot(col(vec), cLit) * -2.0 + lit(c2)).as("d"), lit(i).as("cid"))
    }
    val probes = transform(
      slice(array_sort(array(ds: _*)), 1, nProbe), s => s.getField("cid"))
    // no persist/checkpoint: the query side is driver-bounded by
    // contract, so recomputing its probe lists for the collect and the
    // two broadcasts is cheaper than materialization — and keeping the
    // lineage intact lets callers audit the pruned index scan
    val q = queries.select(col(id).as("query_id"),
      pqLut(col(vec), codebook).as("lut"), explode(probes).as("cid"))
    // queries are the driver-bounded side by contract — the probed-list
    // union is |queries|·nProbe ints at most, safe to collect, and a
    // LITERAL isin filter prunes index partitions at plan time (no
    // runtime DPP dependency)
    val probedCids = q.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).sorted
    // tombstoned ids (deleteFromIvfPqIndex) are filtered at serve time
    // with a broadcast anti-join — the sidecar is small between
    // compactions by contract, and the partition-pruned scan is
    // untouched (the anti-join sits above the pruned FileScan)
    val idx0 = spark.read.parquet(indexPath)
      .filter(col("cid").isin(probedCids.map(Integer.valueOf): _*))
    val idx = ivfPqTombstones(spark, indexPath) match {
      case Some(t) => idx0.join(
        broadcast(t.select(col("neighbor_id")).distinct()),
        Seq("neighbor_id"), "left_anti")
      case None => idx0
    }
    val adc = graft.functions.AdcSum(col("lut"), col("codes"), ks)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val shortIds = idx.select(col("neighbor_id"), col("cid"), col("codes"))
      .join(broadcast(q), "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), round(adc, roundTo).as("adc"))
      .withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= k * overfetch)
      .select(col("query_id"), col("neighbor_id"))
    // exact rerank against the SAME pruned index scan: the shortlist
    // can only name vectors from probed lists, so no second corpus pass
    val qv = queries.select(col(id).as("query_id"), col(vec).as("qv"),
      dot(col(vec), col(vec)).as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    idx.select(col("neighbor_id"), col("cv"))
      .join(broadcast(shortIds), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cn", dot(col("cv"), col("cv")))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / sqrt(col("qn") * col("cn")), roundTo))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rk"))
  }

  /** Near-dup pairs within explicit blocks, ADDITIONALLY multi-band
    * sign-LSH banded: the join key is (block, band, bucket), bounding
    * each pair group to vectors that agree on one band's full sign
    * vector. OR over bands keeps recall high (see [[bandPlanes]]);
    * [[blockedNearDupPairs]] is the small-scale exact counterpart.
    * Same occupancy caveat as [[lshNearDupPairs]]: per-(block, band)
    * buckets saturate at fixed nPlanes — derive the planes via
    * [[planesForOccupancy]] on the largest block when blocks grow. */
  def bandedNearDupPairs(df: DataFrame, id: String, vec: String,
                         block: String, threshold: Double,
                         planes: Array[Array[Array[Double]]],
                         roundTo: Int = 5): DataFrame = {
    // eager count (one column-pruned job) gating the verify join's
    // broadcast guard — see [[verifyPairs]]
    val nVectors = df.count()
    val dim = planes.headOption.map(_.headOption.map(_.length)
      .getOrElse(0)).getOrElse(0)
    val withNorm = df.withColumn("_n", dot(col(vec), col(vec)))
    val banded = withNorm.select(col(block), col(id),
      posexplode(graft.functions.SignBuckets(col(vec), planes))
        .as(Seq("band", "bucket")))
    val a = banded.select(col(block), col("band"), col("bucket"), col(id).as("id_a"))
    val b = banded.select(col(block), col("band"), col("bucket"), col(id).as("id_b"))
    val cand = a.join(b, Seq(block, "band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    verifyPairs(cand, withNorm, id, vec, nVectors, dim)
      .withColumn("cosine",
        round(dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), roundTo))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** [[bandedNearDupPairs]] with the operating point derived from the
    * LARGEST block (occupancy is a per-(block, band) property, so the
    * biggest block is the binding one): [[planesForOccupancy]] +
    * [[bandsForRecall]], the same derivation as
    * [[lshNearDupPairsScaled]]. Costs one groupBy-count + one
    * size() probe before the banded join. */
  def bandedNearDupPairsScaled(df: DataFrame, id: String, vec: String,
                               block: String, threshold: Double,
                               targetBucket: Int = 64, recall: Double = 0.95,
                               seed: Long = 7L): DataFrame = {
    // an empty frame has no operating point (max(count) is null, the
    // dim probe has no row) — a corpus that deduped to nothing must
    // pass through as zero pairs, not crash the probes
    val probe = df.groupBy(col(block)).count()
      .agg(max(col("count")).as("m")).first()
    if (probe.isNullAt(0)) {
      val s = df.sparkSession
      import s.implicits._
      return s.emptyDataset[(Long, Long, Double)]
        .toDF("id_a", "id_b", "cosine")
    }
    val maxBlock = probe.getLong(0)
    val dim = df.select(size(col(vec))).first().getInt(0)
    val nPlanes0 = planesForOccupancy(maxBlock, targetBucket)
    val (nPlanes, bands) = refinePlanes(df, vec, Some(block), dim, nPlanes0,
      threshold, targetBucket, recall, seed)
    bandedNearDupPairs(df, id, vec, block, threshold,
      bandPlanes(dim, nPlanes, bands, seed))
  }

  /** [[bandedNearDupPairs]] at the ladder-selected operating point —
    * the oracle-GATED production configuration (gate entries q24/d04).
    * Occupancy is probed per (block, band, bucket), so the binding
    * block selects the rung for the whole corpus, same as
    * [[bandedNearDupPairsScaled]]; unlike it, the derivation is a
    * fixed quantized ladder a SQL oracle replays exactly
    * (see [[ladderOperatingPoint]]). */
  def bandedNearDupPairsLadder(df: DataFrame, id: String, vec: String,
                               block: String, threshold: Double,
                               rungs: Seq[Int] = Seq(4, 6, 8, 10, 12),
                               bandCap: Int = 16, targetBucket: Int = 64,
                               recall: Double = 0.95, seed: Long = 7L,
                               roundTo: Int = 5): DataFrame =
    ladderOperatingPoint(df, vec, Some(block), threshold, rungs, bandCap,
        targetBucket, recall, seed) match {
      case None =>
        val s = df.sparkSession
        import s.implicits._
        s.emptyDataset[(Long, Long, Double)].toDF("id_a", "id_b", "cosine")
      case Some((np, nb, dim)) =>
        bandedNearDupPairs(df, id, vec, block, threshold,
          bandPlanes(dim, np, nb, seed), roundTo)
    }

  /** Exact near-dup pairs within explicit blocks (e.g. a label column) —
    * the oracle-checkable counterpart of [[lshNearDupPairs]]. */
  def blockedNearDupPairs(df: DataFrame, id: String, vec: String,
                          block: String, threshold: Double,
                          roundTo: Int = 5): DataFrame = {
    val withNorm = df.withColumn("_n", dot(col(vec), col(vec)))
    val a = withNorm.select(col(block), col(id).as("id_a"),
      col(vec).as("va"), col("_n").as("na"))
    val b = withNorm.select(col(block), col(id).as("id_b"),
      col(vec).as("vb"), col("_n").as("nb"))
    a.join(b, block)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")), roundTo))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
