package graft

/** DuckDB oracle SQL for every SQL-expressible entry in
  * [[SparkEntry.queries]]. Each statement mirrors the Spark pipeline
  * formula-for-formula (same clip constants, same rounding, same
  * tie-breaks, same null semantics) so the driver's value-hash compare
  * is stable. Engine-specific aggregate definitions are avoided:
  * skew/kurt are manual two-pass population moments, histograms use
  * explicit bucket arithmetic instead of width_bucket, language/dedup
  * ops re-derive tokens with the same split + filter.
  *
  * Dialect notes (verified against the driver's DuckDB):
  *  - dayofweek: DuckDB Sun=0 → (d+6)%7 gives Mon=0; Spark Sun=1 →
  *    (d+5)%7 gives Mon=0 (pandas convention, SURVEY W8).
  *  - zip-unnest (`SELECT unnest(a), unnest(b)`) pairs lists
  *    elementwise — used for token positions and char-gram indexes.
  *  - DuckDB sum(INT) is HUGEINT → explicit ::BIGINT / ::DOUBLE casts
  *    keep schemas aligned with Spark's LongType/DoubleType.
  *  - row_number() is BIGINT in DuckDB, INT in Spark → rk::INT.
  */
object OracleSql {

  private val stopList = "'the','a','an','of','and','to','in','is','it','that'"

  /** w15 + c15 share this CTE chain: the period-7 additive
    * decomposition, ending at `dec(user_id, rn, trend, seasonal,
    * resid)` with the components r6-rounded. Consumers append their
    * SELECT (w15) or further CTEs prefixed with a comma (c15). */
  private lazy val w15Cte: String =
    """WITH b AS (SELECT user_id, ts, event_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |    CASE WHEN count(value) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id
      |             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) = 7
      |         THEN avg(value) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id
      |             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) END AS trend
      |  FROM events),
      |p AS (SELECT user_id, ((rn-1) % 7) AS phase,
      |        avg(value - trend) AS pmean
      |      FROM b WHERE trend IS NOT NULL GROUP BY 1, 2),
      |ctr AS (SELECT user_id, avg(pmean) AS ctr FROM p GROUP BY user_id),
      |s AS (SELECT p.user_id, phase, pmean - ctr.ctr AS seasonal
      |      FROM p JOIN ctr USING (user_id)),
      |dec AS (SELECT b.user_id, rn, round(trend, 6) AS trend,
      |    round(seasonal, 6) AS seasonal,
      |    round(value - trend - seasonal, 6) AS resid
      |  FROM b JOIN s ON s.user_id = b.user_id
      |                AND s.phase = ((b.rn-1) % 7))
      |""".stripMargin

  /** t34 + t37 share this CTE chain: the exploded-argmin replay of the
    * winnowing selection frame (k=8, win=4, seed 34), ending at
    * `sel(doc_id, ng, nw, j, h)`. Consumers append their SELECT (t34)
    * or further CTEs prefixed with a comma (t37). */
  private lazy val winnowSelCte: String = {
    val h = h64Sql("substr(t, j, 8)", "'34'")
    s"""WITH d AS (SELECT doc_id, lower(text) AS t FROM documents
       |           WHERE len(lower(text)) >= 11),
       |g0 AS (SELECT doc_id, t, (len(t) - 7)::INT AS ng,
       |         (len(t) - 10)::INT AS nw,
       |         unnest(generate_series(1, len(t) - 7))::INT AS j
       |       FROM d),
       |g AS (SELECT doc_id, ng, nw, j, $h AS h FROM g0),
       |w AS (SELECT doc_id, ng, nw, j, h,
       |        unnest(generate_series(greatest(1, j - 3),
       |          least(j, nw)))::INT AS i
       |      FROM g),
       |s0 AS (SELECT doc_id, ng, nw, j, h,
       |         row_number() OVER (PARTITION BY doc_id, i
       |           ORDER BY h, j DESC) AS rn
       |       FROM w),
       |sel AS (SELECT DISTINCT doc_id, ng, nw, j, h
       |        FROM s0 WHERE rn = 1)
       |""".stripMargin
  }

  /** t01 + t06 share this oracle: bloomContamination is exact-by-
    * construction (Bloom has no false negatives; false positives die in
    * the exact join), so both gate against the plain 8-gram join. */
  private val t01Sql =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
      |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
      |              FROM documents),
      |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
      |sh0 AS (SELECT doc_id,
      |          concat_ws(' ', token, lead(token,1) OVER w, lead(token,2) OVER w,
      |            lead(token,3) OVER w, lead(token,4) OVER w, lead(token,5) OVER w,
      |            lead(token,6) OVER w, lead(token,7) OVER w) AS shingle,
      |          lead(token,7) OVER w AS l7
      |        FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE l7 IS NOT NULL)
      |SELECT a.doc_id AS train_id, b.doc_id AS bench_id,
      |       count(*)::BIGINT AS n_shared
      |FROM sh a JOIN sh b USING (shingle)
      |WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
      |GROUP BY 1, 2 HAVING count(*) >= 5
      |ORDER BY train_id, bench_id""".stripMargin

  /** DuckDB list literal for one hyperplane (Double.toString round-trips
    * exactly, so both engines see bit-identical plane weights). */
  private def planeLit(p: Array[Double]): String = "[" + p.mkString(",") + "]"

  private val s04Sql: String = {
      val cents = graft.sim.IvfCodebook.K16
      val ivfD = "[" + cents.map(c =>
        s"(${c.map(x => x * x).sum} - 2.0*list_inner_product(v, ${planeLit(c)}))")
        .mkString(",\n   ") + "]"
      val ivfS = "[" + cents.zipWithIndex.map { case (c, i) =>
        s"{'d': (${c.map(x => x * x).sum} - 2.0*list_inner_product(v, ${planeLit(c)})), 'cid': $i}"
      }.mkString(",\n   ") + "]"
      val cb = graft.sim.PqCodebook.M8K16
      val m = cb.length; val ks = cb(0).length; val sub = cb(0)(0).length
      def sl(mi: Int) = s"v[${mi * sub + 1}:${(mi + 1) * sub}]"
      val codeCols = (0 until m).map { mi =>
        val dl = "[" + cb(mi).map(c =>
          s"(${c.map(x => x * x).sum} - 2.0*list_inner_product(${sl(mi)}, ${planeLit(c)}))")
          .mkString(",\n      ") + "]"
        s"(list_position($dl, list_aggregate($dl, 'min')) - 1) AS code$mi"
      }
      val lut = "[" + (0 until m).flatMap(mi => cb(mi).map(c =>
        s"list_inner_product(${sl(mi)}, ${planeLit(c)})")).mkString(",\n      ") + "]"
      val adc = (0 until m).map(mi => s"lut[code$mi + ${mi * ks + 1}]").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |             list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n
         |           FROM embeddings),
         |c AS (SELECT vec_id AS neighbor_id, v AS cv, n AS cn,
         |        (list_position(dl, list_aggregate(dl, 'min')) - 1) AS cid,
         |        ${codeCols.mkString(",\n        ")}
         |      FROM (SELECT vec_id, v, n, $ivfD AS dl FROM e) t),
         |q AS (SELECT vec_id AS query_id, qv, qn, lut,
         |        unnest(list_transform((list_sort(sl))[1:10], x -> x.cid)) AS cid
         |      FROM (SELECT vec_id, v AS qv, n AS qn, $lut AS lut, $ivfS AS sl
         |            FROM e WHERE vec_id < 5) t),
         |sc AS (SELECT query_id, neighbor_id, qv, cv, qn, cn,
         |         round($adc, 5) AS adc
         |       FROM c JOIN q USING (cid) WHERE query_id <> neighbor_id),
         |sh AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY adc DESC, neighbor_id) AS ark FROM sc),
         |rr AS (SELECT query_id, neighbor_id,
         |         round(list_inner_product(qv,cv)/sqrt(qn*cn), 5) AS cosine
         |       FROM sh WHERE ark <= 160)
         |SELECT query_id, neighbor_id, cosine, rk::INT AS rk FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY cosine DESC, neighbor_id) AS rk FROM rr) t
         |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin
  }


  /** Sign-LSH bucket expression over DOUBLE[] column `v` for the given
    * literal planes — mirrors [[graft.sim.Similarity.signBuckets]]
    * (bit i set when dot(v, plane_i) >= 0). */
  private def bucketExpr(v: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product($v, ${planeLit(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Multi-band banded rows as a UNION ALL over per-band bucket exprs —
    * mirrors [[graft.sim.Similarity.bandPlanes]] + posexplode. `cols`
    * are the passthrough columns of the source CTE `src` (must include
    * the vector column named in `v`). */
  private def bandedSql(src: String, cols: String, v: String,
                        planes: Array[Array[Array[Double]]]): String =
    planes.zipWithIndex.map { case (p, b) =>
      s"SELECT $cols, $b AS band, ${bucketExpr(v, p)} AS bucket FROM $src"
    }.mkString("\nUNION ALL\n")

  /** DuckDB replay of the LADDER-derived sign-LSH near-dup pairs —
    * mirrors [[graft.sim.Similarity.ladderOperatingPoint]] +
    * [[graft.sim.Similarity.bandedNearDupPairs]] /
    * [[graft.sim.Similarity.lshNearDupPairs]] end to end, INCLUDING
    * the data-driven operating-point selection. The ladder's rungs
    * share plane prefixes (one RNG stream per band), so the oracle
    * embeds only the DEEPEST rung's planes and recovers every rung's
    * bucket as a low-bit mask; rung selection is a comparison of exact
    * integer occupancy counts, identical in both engines. Emits the
    * chain from `banded` onward — the caller supplies a CTE `e` with
    * columns (blockCol?, idCol, v DOUBLE[], n) and prepends it.
    * `roundBeforeFilter` mirrors the two Spark variants: banded pairs
    * round the cosine to r5 THEN threshold-filter; lsh pairs filter
    * the raw cosine and the gate entry rounds in its select. */
  private def ladderPairsSql(idCol: String, blockCol: Option[String],
                             threshold: Double, dim: Int, seed: Long,
                             rungs: Seq[Int] = Seq(4, 6, 8, 10, 12),
                             bandCap: Int = 16, targetBucket: Int = 64,
                             recall: Double = 0.95,
                             roundBeforeFilter: Boolean = true): String = {
    val pts = rungs.map(np => (np,
      graft.sim.Similarity.ladderBands(np, threshold, recall, bandCap)))
    val deep = graft.sim.Similarity.bandPlanes(
      dim, rungs.last, pts.map(_._2).max, seed)
    val hardCap = 16L * targetBucket
    val rungRows = pts.zipWithIndex.map { case ((np, nb), i) =>
      s"($i, $nb, ${(1L << np) - 1L})" }.mkString(", ")
    val blk = blockCol.toSeq
    val blkPrefix = if (blk.isEmpty) "" else blk.mkString("", ", ", ", ")
    val blkJoin = blk.map(c => s"a.$c = b.$c AND ").mkString
    val srcCols = blkPrefix + idCol
    val p = if (roundBeforeFilter)
      s"""p AS (SELECT id_a, id_b,
         |        round(list_inner_product(ea.v, eb.v)/sqrt(ea.n*eb.n), 5) AS cosine
         |      FROM cand JOIN e ea ON ea.$idCol = cand.id_a
         |                JOIN e eb ON eb.$idCol = cand.id_b)
         |SELECT id_a, id_b, cosine FROM p WHERE cosine >= $threshold""".stripMargin
    else
      s"""p AS (SELECT id_a, id_b,
         |        list_inner_product(ea.v, eb.v)/sqrt(ea.n*eb.n) AS cosine
         |      FROM cand JOIN e ea ON ea.$idCol = cand.id_a
         |                JOIN e eb ON eb.$idCol = cand.id_b)
         |SELECT id_a, id_b, round(cosine, 5) AS cosine FROM p
         |WHERE cosine >= $threshold""".stripMargin
    s"""banded AS MATERIALIZED (
       |${bandedSql("e", srcCols, "v", deep)}),
       |rungs(rung, nb, mask) AS (VALUES $rungRows),
       |deepc AS (SELECT $blkPrefix band, bucket, count(*) AS cnt
       |          FROM banded GROUP BY $blkPrefix band, bucket),
       |occ AS (SELECT r.rung, $blkPrefix d.band,
       |          (d.bucket & r.mask) AS mb, sum(d.cnt) AS c
       |        FROM deepc d, rungs r WHERE d.band < r.nb
       |        GROUP BY r.rung, $blkPrefix d.band, mb),
       |omax AS (SELECT rung, max(c) AS mx FROM occ GROUP BY rung),
       |sel AS MATERIALIZED (
       |  SELECT r.nb, r.mask FROM omax o JOIN rungs r USING (rung)
       |  ORDER BY CASE WHEN o.mx <= $hardCap THEN 0 ELSE 1 END,
       |           CASE WHEN o.mx <= $hardCap THEN o.rung ELSE -o.rung END
       |  LIMIT 1),
       |cand AS (SELECT DISTINCT a.$idCol AS id_a, b.$idCol AS id_b
       |         FROM banded a, banded b, sel s
       |         WHERE ${blkJoin}a.band = b.band AND a.band < s.nb
       |           AND (a.bucket & s.mask) = (b.bucket & s.mask)
       |           AND a.$idCol < b.$idCol),
       |$p""".stripMargin
  }

  /** Portable 60-bit hash — SQL twin of [[graft.text.Dedup.h64]]. */
  private def h64Sql(expr: String, seed: String): String =
    s"('0x' || substr(md5($seed || '|' || $expr), 1, 15))::BIGINT"

  /** t17's assignment CTE chain (…, asg(doc_id, topic)): the t16
    * hashed-embedding machinery re-assembled into per-doc DOUBLE[]
    * lists, then the s02 argmin over the frozen TopicCentroids.K8
    * literals. Shared by t17 and a10. */
  /** The t16 hashed-embedding CTEs (toks → … → emb (doc_id, j, v) →
    * vec (doc_id, list v)) — shared by t17/a10/k01. */
  private lazy val t16VecCtes: String = {
    val h = h64Sql("token", "'17'")
    s"""toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
       |              FROM documents),
       |tk0 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
       |hb AS (SELECT doc_id, $h AS h FROM tk0),
       |w AS (SELECT doc_id, (h % 64)::INT AS b,
       |        sum(CASE WHEN (h >> 20) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS w
       |      FROM hb GROUP BY doc_id, (h % 64)::INT),
       |grid AS (SELECT d.doc_id, j
       |         FROM (SELECT DISTINCT doc_id FROM tk0) d
       |         CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) js),
       |raw AS (SELECT g.doc_id, g.j, coalesce(w.w, 0.0) AS x
       |        FROM grid g LEFT JOIN w ON w.doc_id = g.doc_id AND w.b = g.j),
       |nrm AS (SELECT doc_id, sqrt(sum(x*x)) AS n FROM raw GROUP BY doc_id),
       |emb AS (SELECT raw.doc_id,
       |          round(CASE WHEN nrm.n > 0 THEN raw.x / nrm.n ELSE 0.0 END, 6) AS v,
       |          raw.j
       |        FROM raw JOIN nrm ON raw.doc_id = nrm.doc_id),
       |vec AS (SELECT doc_id, list(v ORDER BY j) AS v FROM emb GROUP BY doc_id)""".stripMargin
  }

  /** k01's min-id init CTE: c0 = the 8 smallest doc ids' vectors,
    * centroid index in doc-id order. */
  private lazy val k01MinIdInit: String =
    """ids AS (SELECT doc_id FROM vec ORDER BY doc_id LIMIT 8),
      |c0 AS (SELECT (row_number() OVER (ORDER BY v0.doc_id) - 1)::INT AS cid,
      |         v0.v AS v
      |       FROM vec v0 JOIN ids USING (doc_id))""".stripMargin

  /** k01d's farthest-point init CTE chain: s0 = the smallest id's
    * vector; each round picks the vector maximizing the min TRUE
    * squared distance to the chosen set (exact doubles, ties →
    * smallest id) — the x·x term adds OUTSIDE the min, matching the
    * Spark side's float order exactly; mirrors
    * [[graft.sim.KMeans.farthestPointInit]]. */
  private lazy val k01FarthestInit: String = {
    // every s_t MUST be MATERIALIZED: dm_t and s_t both reference
    // s_{t-1}, so an inlining planner would expand the chain 2^7-fold
    // (each s_t is ≤ 8 rows — materialization is free)
    val rounds = (1 to 7).map { t =>
      s"""dm$t AS (SELECT vecm.doc_id, vecm.v,
         |          min(list_inner_product(c.v, c.v)
         |              - 2.0*list_inner_product(vecm.v, c.v))
         |          + list_inner_product(vecm.v, vecm.v) AS dm
         |        FROM vecm CROSS JOIN s${t - 1} c GROUP BY vecm.doc_id, vecm.v),
         |p$t AS (SELECT v FROM dm$t ORDER BY dm DESC, doc_id LIMIT 1),
         |s$t AS MATERIALIZED (SELECT * FROM s${t - 1}
         |        UNION ALL SELECT $t::INT AS ord, v FROM p$t)""".stripMargin
    }.mkString(",\n")
    s"""vecm AS MATERIALIZED (SELECT doc_id, v FROM vec),
       |s0 AS MATERIALIZED (SELECT 0::INT AS ord, v FROM vecm
       |       WHERE doc_id = (SELECT min(doc_id) FROM vecm)),
       |$rounds,
       |c0 AS (SELECT ord AS cid, v FROM s7)""".stripMargin
  }

  /** k01's centroid chain (t16 vec CTEs + an init CTE exposing
    * c0 (cid, v) + two Lloyd assign/update cycles → c2 (cid, list v))
    * — shared by k01/k01d/k02. */
  private def k01Chain(initCte: String): String =
    s"""$t16VecCtes,
       |$initCte,
       |d1 AS (SELECT vec.doc_id,
       |         list(list_inner_product(c.v, c.v)
       |              - 2.0*list_inner_product(vec.v, c.v)
       |              ORDER BY c.cid) AS dl
       |       FROM vec CROSS JOIN c0 c GROUP BY vec.doc_id, vec.v),
       |a1 AS (SELECT doc_id,
       |         (list_position(dl, list_aggregate(dl, 'min')) - 1)::INT AS cl
       |       FROM d1),
       |m1 AS (SELECT a1.cl AS cid, e.j, round(avg(e.v), 6) AS cv
       |       FROM a1 JOIN emb e USING (doc_id) GROUP BY a1.cl, e.j),
       |c0d AS (SELECT cid, j, v[j+1] AS cv FROM c0
       |        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) js),
       |c1 AS (SELECT g.cid, list(coalesce(m1.cv, g.cv) ORDER BY g.j) AS v
       |       FROM c0d g LEFT JOIN m1 ON m1.cid = g.cid AND m1.j = g.j
       |       GROUP BY g.cid),
       |d2 AS (SELECT vec.doc_id,
       |         list(list_inner_product(c.v, c.v)
       |              - 2.0*list_inner_product(vec.v, c.v)
       |              ORDER BY c.cid) AS dl
       |       FROM vec CROSS JOIN c1 c GROUP BY vec.doc_id, vec.v),
       |a2 AS (SELECT doc_id,
       |         (list_position(dl, list_aggregate(dl, 'min')) - 1)::INT AS cl
       |       FROM d2),
       |m2 AS (SELECT a2.cl AS cid, e.j, round(avg(e.v), 6) AS cv
       |       FROM a2 JOIN emb e USING (doc_id) GROUP BY a2.cl, e.j),
       |c1d AS (SELECT cid, j, v[j+1] AS cv FROM c1
       |        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) js),
       |c2 AS (SELECT g.cid, list(coalesce(m2.cv, g.cv) ORDER BY g.j) AS v
       |       FROM c1d g LEFT JOIN m2 ON m2.cid = g.cid AND m2.j = g.j
       |       GROUP BY g.cid)""".stripMargin

  private lazy val k01CentCtes: String = k01Chain(k01MinIdInit)

  private lazy val t17AsgCtes: String = {
    val dExprs = graft.text.TopicCentroids.K8.map(c =>
      s"(${c.map(x => x * x).sum} - 2.0*list_inner_product(v, ${planeLit(c)}))")
    val dl = "[" + dExprs.mkString(",\n   ") + "]"
    s"""$t16VecCtes,
       |asg AS (SELECT doc_id,
       |          (list_position(dl, list_aggregate(dl, 'min')) - 1)::BIGINT AS topic
       |        FROM (SELECT doc_id, $dl AS dl FROM vec) t)""".stripMargin
  }

  /** Per-user log-return CTE body (W1 + clip), shared by the fit-stage
    * oracles: emits (user_id, ts, event_id, ret) with nulls dropped. */
  private val perUserRets: String =
    """SELECT user_id, ts, event_id, ret FROM (
      | SELECT user_id, ts, event_id,
      |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
      |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
      | FROM events) t WHERE ret IS NOT NULL""".stripMargin

  /** GLOBAL-series log-return CTE body (the single-series generators'
    * fit contract: one lag over the whole events order). */
  private val globalRets: String =
    """SELECT ts, event_id, ret FROM (
      | SELECT ts, event_id,
      |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
      |     OVER (ORDER BY ts, event_id) AS ret
      | FROM events) t WHERE ret IS NOT NULL""".stripMargin

  /** [[globalRets]] over the 20000-row fit prefix of events — the
    * single-series fit contract (RegimeBootstrap/RegimeConditional
    * maxFitRows; log-returns are causal so prefix-then-lag equals
    * lag-then-prefix). A no-op at the sf0.01 gate (10k rows). */
  private val globalRetsCapped: String =
    """SELECT ts, event_id, ret FROM (
      | SELECT ts, event_id,
      |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
      |     OVER (ORDER BY ts, event_id) AS ret
      | FROM (SELECT * FROM events ORDER BY ts, event_id LIMIT 20000) p
      |) t WHERE ret IS NOT NULL""".stripMargin

  /** g04f: the normalized [ret, vol_short, vol_ratio] HMM feature frame
    * (RegimeConditional.features) — also embedded by [[g04tSql]] as the
    * EM-step witness's input prefix, so the two stay textually tied. */
  private val g04FeaturesSql: String =
    s"""WITH rr AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, ret
       |            FROM ($globalRetsCapped) r0),
       |v AS (SELECT rn, ret,
       |        CASE WHEN count(ret) OVER w24 >= 1 THEN stddev_samp(ret) OVER w24 END AS vol_short,
       |        CASE WHEN count(ret) OVER w72 >= 1 THEN stddev_samp(ret) OVER w72 END AS vol_long
       |      FROM rr
       |      WINDOW w24 AS (ORDER BY rn ROWS BETWEEN 23 PRECEDING AND CURRENT ROW),
       |             w72 AS (ORDER BY rn ROWS BETWEEN 71 PRECEDING AND CURRENT ROW)),
       |vr AS (SELECT rn, ret, vol_short,
       |         CASE WHEN vol_long > 1e-10 THEN vol_short/vol_long ELSE 1.0 END AS vol_ratio
       |       FROM v),
       |cl AS (SELECT * FROM vr
       |       WHERE ret IS NOT NULL AND NOT isnan(ret) AND abs(ret) <> 'infinity'::DOUBLE
       |         AND vol_short IS NOT NULL AND NOT isnan(vol_short)
       |         AND abs(vol_short) <> 'infinity'::DOUBLE
       |         AND vol_ratio IS NOT NULL AND NOT isnan(vol_ratio)
       |         AND abs(vol_ratio) <> 'infinity'::DOUBLE),
       |st AS (SELECT avg(ret) AS m0, stddev_pop(ret) AS s0,
       |              avg(vol_short) AS m1, stddev_pop(vol_short) AS s1,
       |              avg(vol_ratio) AS m2, stddev_pop(vol_ratio) AS s2 FROM cl)
       |SELECT cl.rn::INT AS rn,
       |  round((ret - m0)/(s0 + 1e-10), 6) AS f0,
       |  round((vol_short - m1)/(s1 + 1e-10), 6) AS f1,
       |  round((vol_ratio - m2)/(s2 + 1e-10), 6) AS f2
       |FROM cl, st ORDER BY rn""".stripMargin

  /** g04t: ONE Baum-Welch update ([[graft.gen.Hmm.emStep]], the twin of
    * one hmmlearn fit iteration, regime_conditional.py:80-107) from the
    * literal [[graft.WitnessFixtures.G04tInit]] params over the first
    * 200 rounded g04f feature rows. The scaled forward and backward
    * recursions are recursive CTEs — MATERIALIZED, or DuckDB re-inlines
    * the whole forward pass into every downstream consumer (measured
    * 69 s → 0.7 s). The M-step/ξ accumulations are ordered-list folds:
    * list_aggregate(list(x ORDER BY t), 'sum') folds sequentially,
    * bit-identical to the Scala t-loop accumulation (verified). Term
    * association mirrors the Scala loops exactly: ((a*T)*exp)*β etc. */
  private def g04tSql: String = {
    val m = graft.WitnessFixtures.G04tInit
    val k = 3; val d = 3; val n = 200
    def T(i: Int, j: Int) = m.transition(i)(j).toString
    def MU(c: Int, j: Int) = m.means(c)(j).toString
    def VV(c: Int, j: Int) = m.variances(c)(j).toString
    def ST(c: Int) = m.startProbs(c).toString
    val ks = 0 until k
    val dcs = 0 until d
    val pairs = for (ci <- ks; cj <- ks) yield (ci, cj)
    def logb(c: Int) = dcs.map(j =>
      s"(-0.5*(ln(2.0*pi()*${VV(c, j)}) + ((f$j - (${MU(c, j)}))*(f$j - (${MU(c, j)})))/${VV(c, j)}))")
      .mkString(" + ")
    val fwdBaseUa = ks.map(c => s"${ST(c)}*exp(b$c - sh) AS ua$c").mkString(",\n      ")
    val fwdStepUa = ks.map(cj =>
      "(" + ks.map(ci => s"f.a$ci*${T(ci, cj)}").mkString(" + ") +
        s") * exp(l.b$cj - greatest(l.b0,l.b1,l.b2)) AS ua$cj").mkString(",\n      ")
    val bwdStep = ks.map(ci =>
      "(" + ks.map(cj => s"${T(ci, cj)}*exp(s.b$cj - s.sh)*s.e$cj").mkString(" + ") +
        s")/s.sc AS e$ci").mkString(",\n    ")
    val xiTerms = pairs.map { case (ci, cj) =>
      s"f.a$ci*${T(ci, cj)}*exp(l.b$cj - greatest(l.b0,l.b1,l.b2))*b.e$cj AS t$ci$cj"
    }.mkString(",\n        ")
    val xiSum = pairs.map { case (ci, cj) => s"t$ci$cj" }.mkString(" + ")
    val xiRatios = pairs.map { case (ci, cj) => s"t$ci$cj/s AS r$ci$cj" }.mkString(", ")
    val xsCols = pairs.map { case (ci, cj) =>
      s"list_aggregate(list(r$ci$cj ORDER BY t), 'sum') AS x$ci$cj" }.mkString(",\n    ")
    val mwCols = (ks.map(c => s"list_aggregate(list(g$c ORDER BY t), 'sum') AS w$c") ++
      (for (c <- ks; j <- dcs) yield
        s"list_aggregate(list(g$c*f$j ORDER BY t), 'sum') AS m$c$j")).mkString(",\n    ")
    val vsCols = (for (c <- ks; j <- dcs) yield
      s"list_aggregate(list(g$c*(f$j - mw.m$c$j/mw.w$c)*(f$j - mw.m$c$j/mw.w$c) ORDER BY t), 'sum') AS v$c$j")
      .mkString(",\n    ")
    val outRows = scala.collection.mutable.ArrayBuffer[String]()
    outRows += "SELECT 'll' AS param, 0 AS i, 0 AS j, round((SELECT ll FROM fwd WHERE t = (SELECT max(t) FROM feats)), 6) + 0.0 AS v"
    for (c <- ks) outRows +=
      s"SELECT 'start', $c, 0, round((SELECT g$c FROM gm WHERE t = 0), 8) + 0.0"
    for (i <- ks) {
      val rs = "(" + ks.map(j => s"x$i$j").mkString(" + ") + ")"
      for (j <- ks) outRows +=
        s"SELECT 'trans', $i, $j, round((SELECT CASE WHEN $rs > 0 THEN x$i$j/$rs ELSE ${(1.0 / k).toString} END FROM xs), 8) + 0.0"
    }
    for (c <- ks; j <- dcs) outRows +=
      s"SELECT 'mean', $c, $j, round((SELECT CASE WHEN w$c > 1e-10 THEN m$c$j/w$c ELSE (${MU(c, j)}) END FROM mw), 8) + 0.0"
    for (c <- ks; j <- dcs) outRows +=
      s"SELECT 'var', $c, $j, round((SELECT CASE WHEN mw.w$c > 1e-10 THEN greatest(vs.v$c$j/mw.w$c, 1e-10) ELSE ${VV(c, j)} END FROM mw, vs), 8) + 0.0"
    s"""WITH RECURSIVE
       |feats AS MATERIALIZED (SELECT row_number() OVER (ORDER BY rn) - 1 AS t, f0, f1, f2
       |          FROM (SELECT rn, f0, f1, f2 FROM ($g04FeaturesSql) src ORDER BY rn LIMIT $n) p),
       |logb AS MATERIALIZED (SELECT t, ${logb(0)} AS b0,
       |  ${logb(1)} AS b1,
       |  ${logb(2)} AS b2 FROM feats),
       |fwd AS MATERIALIZED (
       |  SELECT t, ua0/us AS a0, ua1/us AS a1, ua2/us AS a2, us AS sc, ln(us) + sh AS ll
       |  FROM (SELECT t, ua0, ua1, ua2, (ua0 + ua1) + ua2 AS us, sh FROM
       |    (SELECT t, $fwdBaseUa, sh
       |     FROM (SELECT t, b0, b1, b2, greatest(b0, b1, b2) AS sh FROM logb WHERE t = 0) b0_) b1_) b2_
       |  UNION ALL
       |  SELECT t, ua0/us, ua1/us, ua2/us, us, ll + (ln(us) + sh)
       |  FROM (SELECT t, ua0, ua1, ua2, (ua0 + ua1) + ua2 AS us, sh, ll FROM
       |    (SELECT l.t AS t,
       |      $fwdStepUa,
       |      greatest(l.b0,l.b1,l.b2) AS sh, f.ll AS ll
       |     FROM fwd f JOIN logb l ON l.t = f.t + 1) s1) s2
       |),
       |bwd AS MATERIALIZED (
       |  SELECT (SELECT max(t) FROM feats) AS t,
       |    1.0::DOUBLE AS e0, 1.0::DOUBLE AS e1, 1.0::DOUBLE AS e2
       |  UNION ALL
       |  SELECT s.t - 1,
       |    $bwdStep
       |  FROM (SELECT b.t, b.e0, b.e1, b.e2, l.b0, l.b1, l.b2,
       |               greatest(l.b0, l.b1, l.b2) AS sh, f.sc
       |        FROM bwd b JOIN logb l ON l.t = b.t JOIN fwd f ON f.t = b.t
       |        WHERE b.t >= 1) s
       |),
       |gm AS MATERIALIZED (SELECT t, p0/den AS g0, p1/den AS g1, p2/den AS g2 FROM
       |       (SELECT f.t AS t, f.a0*b.e0 AS p0, f.a1*b.e1 AS p1, f.a2*b.e2 AS p2,
       |               (f.a0*b.e0 + f.a1*b.e1) + f.a2*b.e2 AS den
       |        FROM fwd f JOIN bwd b ON b.t = f.t) q),
       |xi AS MATERIALIZED (SELECT t, $xiRatios FROM
       |  (SELECT t, ${pairs.map { case (ci, cj) => s"t$ci$cj" }.mkString(", ")},
       |          $xiSum AS s FROM
       |    (SELECT f.t AS t,
       |        $xiTerms
       |     FROM fwd f JOIN logb l ON l.t = f.t + 1 JOIN bwd b ON b.t = f.t + 1) q1) q2),
       |xs AS MATERIALIZED (SELECT
       |    $xsCols
       |  FROM xi),
       |mw AS MATERIALIZED (SELECT
       |    $mwCols
       |  FROM gm JOIN feats USING (t)),
       |vs AS MATERIALIZED (SELECT
       |    $vsCols
       |  FROM gm JOIN feats USING (t) CROSS JOIN mw)
       |${outRows.zipWithIndex.map { case (r, idx) => if (idx == 0) r else "UNION ALL " + r }.mkString("\n")}
       |ORDER BY param, i, j""".stripMargin
  }

  /** g04tb: the g04t one-EM-step replay PARTITIONED BY USER — the
    * keyed twin of [[g04tSql]]. quantileInit is computed per user in
    * SQL (stable sort by (f0, t), integer-division chunk boundaries,
    * ordered-list-fold chunk means/vars — the same sequential
    * summation order as the Scala), start/transition inits are the
    * Scala-computed literals (uniform 1/3, 0.9/0.05), and the scaled
    * forward/backward recursions run for ALL users simultaneously —
    * each recursion step joins on (sid, t±1), so short series simply
    * stop contributing. M-step/ξ accumulations stay ordered-list folds
    * per sid. Series with < 10 feature rows are skipped (matches
    * emStepGrouped's minRows). */
  private def g04tbSql: String = {
    val k = 3; val d = 3; val n = 200; val minRows = 10
    val ks = 0 until k
    val dcs = 0 until d
    val pairs = for (ci <- ks; cj <- ks) yield (ci, cj)
    val ST = (1.0 / 3).toString
    def T(i: Int, j: Int) = (if (i == j) 0.9 else 0.1 / 2).toString
    def logb(c: Int) = dcs.map(j =>
      s"(-0.5*(ln(2.0*pi()*mv.v$c$j) + ((f.f$j - mv.m$c$j)*(f.f$j - mv.m$c$j))/mv.v$c$j))")
      .mkString(" + ")
    val fwdBaseUa = ks.map(c => s"$ST*exp(b$c - sh) AS ua$c").mkString(",\n      ")
    val fwdStepUa = ks.map(cj =>
      "(" + ks.map(ci => s"f.a$ci*${T(ci, cj)}").mkString(" + ") +
        s") * exp(l.b$cj - greatest(l.b0,l.b1,l.b2)) AS ua$cj").mkString(",\n      ")
    val bwdStep = ks.map(ci =>
      "(" + ks.map(cj => s"${T(ci, cj)}*exp(s.b$cj - s.sh)*s.e$cj").mkString(" + ") +
        s")/s.sc AS e$ci").mkString(",\n    ")
    val xiTerms = pairs.map { case (ci, cj) =>
      s"f.a$ci*${T(ci, cj)}*exp(l.b$cj - greatest(l.b0,l.b1,l.b2))*b.e$cj AS t$ci$cj"
    }.mkString(",\n        ")
    val xiSum = pairs.map { case (ci, cj) => s"t$ci$cj" }.mkString(" + ")
    val xiRatios = pairs.map { case (ci, cj) => s"t$ci$cj/s AS r$ci$cj" }.mkString(", ")
    val xsCols = pairs.map { case (ci, cj) =>
      s"list_aggregate(list(r$ci$cj ORDER BY t), 'sum') AS x$ci$cj" }.mkString(",\n    ")
    val mwCols = (ks.map(c => s"list_aggregate(list(g.g$c ORDER BY g.t), 'sum') AS w$c") ++
      (for (c <- ks; j <- dcs) yield
        s"list_aggregate(list(g.g$c*f.f$j ORDER BY g.t), 'sum') AS m$c$j")).mkString(",\n    ")
    val vsCols = (for (c <- ks; j <- dcs) yield
      s"list_aggregate(list(g.g$c*(f.f$j - mw.m$c$j/mw.w$c)*(f.f$j - mw.m$c$j/mw.w$c) ORDER BY g.t), 'sum') AS v$c$j")
      .mkString(",\n    ")
    val mwGroup = "g.sid" +: (ks.map(c => s"mw.w$c") ++
      (for (c <- ks; j <- dcs) yield s"mw.m$c$j")).toSeq
    // per-user quantileInit pivot columns
    val mvMeans = (for (c <- ks; j <- dcs) yield
      s"max(CASE WHEN c = $c THEN mu$j END) AS m$c$j").mkString(",\n    ")
    val mvVars = (for (c <- ks; j <- dcs) yield
      s"max(CASE WHEN c = $c THEN vv$j END) AS v$c$j").mkString(",\n    ")
    val outRows = scala.collection.mutable.ArrayBuffer[String]()
    outRows += "SELECT l.sid AS user_id, 'll' AS param, 0 AS i, 0 AS j, round(l.ll, 6) + 0.0 AS v FROM llv l"
    for (c <- ks) outRows +=
      s"SELECT g.sid, 'start', $c, 0, round(g.g$c, 8) + 0.0 FROM gm g WHERE g.t = 0"
    for (i <- ks) {
      val rs = "(" + ks.map(j => s"x$i$j").mkString(" + ") + ")"
      for (j <- ks) outRows +=
        s"SELECT x.sid, 'trans', $i, $j, round(CASE WHEN $rs > 0 THEN x$i$j/$rs ELSE $ST END, 8) + 0.0 FROM xs x"
    }
    for (c <- ks; j <- dcs) outRows +=
      s"SELECT mw.sid, 'mean', $c, $j, round(CASE WHEN mw.w$c > 1e-10 THEN mw.m$c$j/mw.w$c ELSE mv.m$c$j END, 8) + 0.0 FROM mw JOIN mv ON mv.sid = mw.sid"
    for (c <- ks; j <- dcs) outRows +=
      s"SELECT mw.sid, 'var', $c, $j, round(CASE WHEN mw.w$c > 1e-10 THEN greatest(vs.v$c$j/mw.w$c, 1e-10) ELSE mv.v$c$j END, 8) + 0.0 FROM mw JOIN vs ON vs.sid = mw.sid JOIN mv ON mv.sid = mw.sid"
    s"""WITH RECURSIVE
       |fb AS MATERIALIZED (SELECT user_id::BIGINT AS sid, rn, f0, f1, f2 FROM (__G04B_FEATS__) gbsrc),
       |fcap AS (SELECT sid, rn2 - 1 AS t, f0, f1, f2 FROM
       |  (SELECT sid, row_number() OVER (PARTITION BY sid ORDER BY rn) AS rn2, f0, f1, f2 FROM fb) q
       |  WHERE rn2 <= $n),
       |lens AS MATERIALIZED (SELECT sid, (count(*))::INT AS nf FROM fcap GROUP BY sid
       |  HAVING count(*) >= $minRows),
       |feats AS MATERIALIZED (SELECT f.sid, f.t, f.f0, f.f1, f.f2
       |  FROM fcap f JOIN lens USING (sid)),
       |srt AS (SELECT sid, t, f0, f1, f2,
       |  row_number() OVER (PARTITION BY sid ORDER BY f0, t) - 1 AS p FROM feats),
       |chk AS (SELECT s.sid, s.p, s.f0, s.f1, s.f2,
       |  CASE WHEN s.p < floor((1.0*l.nf)/$k) THEN 0
       |       WHEN s.p < floor((2.0*l.nf)/$k) THEN 1 ELSE 2 END AS c
       |  FROM srt s JOIN lens l USING (sid)),
       |im AS (SELECT sid, c, (count(*))::DOUBLE AS ln_,
       |  list_aggregate(list(f0 ORDER BY p), 'sum') AS sf0,
       |  list_aggregate(list(f1 ORDER BY p), 'sum') AS sf1,
       |  list_aggregate(list(f2 ORDER BY p), 'sum') AS sf2
       |  FROM chk GROUP BY sid, c),
       |imm AS MATERIALIZED (SELECT sid, c, sf0/ln_ AS mu0, sf1/ln_ AS mu1, sf2/ln_ AS mu2, ln_ FROM im),
       |ivv AS (SELECT ch.sid, ch.c,
       |  greatest(list_aggregate(list((ch.f0 - i.mu0)*(ch.f0 - i.mu0) ORDER BY ch.p), 'sum')/i.ln_, 1e-10) AS vv0,
       |  greatest(list_aggregate(list((ch.f1 - i.mu1)*(ch.f1 - i.mu1) ORDER BY ch.p), 'sum')/i.ln_, 1e-10) AS vv1,
       |  greatest(list_aggregate(list((ch.f2 - i.mu2)*(ch.f2 - i.mu2) ORDER BY ch.p), 'sum')/i.ln_, 1e-10) AS vv2
       |  FROM chk ch JOIN imm i ON i.sid = ch.sid AND i.c = ch.c
       |  GROUP BY ch.sid, ch.c, i.mu0, i.mu1, i.mu2, i.ln_),
       |mv AS MATERIALIZED (SELECT m.sid,
       |    $mvMeans,
       |    $mvVars
       |  FROM (SELECT i.sid, i.c, i.mu0, i.mu1, i.mu2, v.vv0, v.vv1, v.vv2
       |        FROM imm i JOIN ivv v ON v.sid = i.sid AND v.c = i.c) m
       |  GROUP BY m.sid),
       |logb AS MATERIALIZED (SELECT f.sid, f.t, ${logb(0)} AS b0,
       |  ${logb(1)} AS b1,
       |  ${logb(2)} AS b2 FROM feats f JOIN mv ON mv.sid = f.sid),
       |fwd AS MATERIALIZED (
       |  SELECT sid, t, ua0/us AS a0, ua1/us AS a1, ua2/us AS a2, us AS sc, ln(us) + sh AS ll
       |  FROM (SELECT sid, t, ua0, ua1, ua2, (ua0 + ua1) + ua2 AS us, sh FROM
       |    (SELECT sid, t, $fwdBaseUa, sh
       |     FROM (SELECT sid, t, b0, b1, b2, greatest(b0, b1, b2) AS sh FROM logb WHERE t = 0) b0_) b1_) b2_
       |  UNION ALL
       |  SELECT sid, t, ua0/us, ua1/us, ua2/us, us, ll + (ln(us) + sh)
       |  FROM (SELECT sid, t, ua0, ua1, ua2, (ua0 + ua1) + ua2 AS us, sh, ll FROM
       |    (SELECT l.sid AS sid, l.t AS t,
       |      $fwdStepUa,
       |      greatest(l.b0,l.b1,l.b2) AS sh, f.ll AS ll
       |     FROM fwd f JOIN logb l ON l.sid = f.sid AND l.t = f.t + 1) s1) s2
       |),
       |bwd AS MATERIALIZED (
       |  SELECT sid, (nf - 1) AS t, 1.0::DOUBLE AS e0, 1.0::DOUBLE AS e1, 1.0::DOUBLE AS e2
       |  FROM lens
       |  UNION ALL
       |  SELECT s.sid, s.t - 1,
       |    $bwdStep
       |  FROM (SELECT b.sid, b.t, b.e0, b.e1, b.e2, l.b0, l.b1, l.b2,
       |               greatest(l.b0, l.b1, l.b2) AS sh, f.sc
       |        FROM bwd b JOIN logb l ON l.sid = b.sid AND l.t = b.t
       |                   JOIN fwd f ON f.sid = b.sid AND f.t = b.t
       |        WHERE b.t >= 1) s
       |),
       |gm AS MATERIALIZED (SELECT sid, t, p0/den AS g0, p1/den AS g1, p2/den AS g2 FROM
       |       (SELECT f.sid AS sid, f.t AS t, f.a0*b.e0 AS p0, f.a1*b.e1 AS p1, f.a2*b.e2 AS p2,
       |               (f.a0*b.e0 + f.a1*b.e1) + f.a2*b.e2 AS den
       |        FROM fwd f JOIN bwd b ON b.sid = f.sid AND b.t = f.t) q),
       |xi AS MATERIALIZED (SELECT sid, t, $xiRatios FROM
       |  (SELECT sid, t, ${pairs.map { case (ci, cj) => s"t$ci$cj" }.mkString(", ")},
       |          $xiSum AS s FROM
       |    (SELECT f.sid AS sid, f.t AS t,
       |        $xiTerms
       |     FROM fwd f JOIN logb l ON l.sid = f.sid AND l.t = f.t + 1
       |                JOIN bwd b ON b.sid = f.sid AND b.t = f.t + 1) q1) q2),
       |xs AS MATERIALIZED (SELECT sid,
       |    $xsCols
       |  FROM xi GROUP BY sid),
       |mw AS MATERIALIZED (SELECT g.sid,
       |    $mwCols
       |  FROM gm g JOIN feats f ON f.sid = g.sid AND f.t = g.t GROUP BY g.sid),
       |vs AS MATERIALIZED (SELECT g.sid,
       |    $vsCols
       |  FROM gm g JOIN feats f ON f.sid = g.sid AND f.t = g.t
       |            JOIN mw ON mw.sid = g.sid
       |  GROUP BY ${mwGroup.mkString(", ")}),
       |llv AS (SELECT f.sid, f.ll FROM fwd f JOIN lens l ON l.sid = f.sid AND f.t = l.nf - 1)
       |${outRows.zipWithIndex.map { case (r, idx) => if (idx == 0) r else "UNION ALL " + r }.mkString("\n")}
       |ORDER BY user_id, param, i, j""".stripMargin
      .replace("__G04B_FEATS__", g04bFeaturesSql)
  }

  /** w14: [[graft.series.SeriesOps.arBridge]] from literal params
    * (from=0.02, to=-0.015, n=64, φ=0.6, σ=0.05, seed=21) — the polar
    * nextGaussian stream via [[gaussStreamSql]] plus the AR(1) noise
    * recursion; endpoint rows pinned exactly like the Scala overwrite.
    * Ref: optimize_generator_v3.py:148-201. */
  private def w14Sql: String = {
    val seed0 = (21L ^ 0x5DEECE66DL) & ((1L << 48) - 1)
    s"""WITH RECURSIVE
       |${gaussStreamSql("gs", seed0, 64)},
       |gd AS MATERIALIZED (SELECT e AS i, g FROM (
       |  SELECT unnest([e1, e2]) AS e, unnest([g1, g2]) AS g FROM gs) u
       |  WHERE e IS NOT NULL),
       |br AS MATERIALIZED (
       |  SELECT -1 AS i, 0.0::DOUBLE AS noise
       |  UNION ALL
       |  SELECT b.i + 1, 0.6*b.noise + g.g*0.05
       |  FROM br b JOIN gd g ON g.i = b.i + 1 WHERE b.i < 63)
       |SELECT i::INT AS i,
       |  round(CASE WHEN i = 0 THEN 0.02 WHEN i = 63 THEN -0.015
       |    ELSE (1.0 - i/63.0)*0.02 + (i/63.0)*(-0.015)
       |         + noise*(least(i/63.0, 1.0 - i/63.0)*2.0) END, 8) + 0.0 AS v
       |FROM br WHERE i >= 0 ORDER BY i""".stripMargin
  }

  /** g07t: ONE adversarial training step ([[graft.train.GanTrainer.step]]
    * — a discriminator BCE step over (real, fake₁) then a generator step
    * against the Adam-updated discriminator, regime_gan.py:202-259) over
    * the literal [[graft.WitnessFixtures.G07t]] nets and batches,
    * replayed end to end: forward passes, per-batch-row backprop deltas,
    * gradient accumulation (real rows then fake rows — the Scala
    * accumulation order), and the t=1 Adam update for every parameter.
    * Single-row MATERIALIZED CTE chain (inlining would blow up the
    * expression tree exponentially); nested-list columns indexed
    * col[row+1][unit+1]. The Scala loop's term association is preserved
    * exactly: bias-first dot products, ((1−β₂)·g)·g, w −
    * lr·(m/c₁)/(√(v/c₂)+ε). tanh via [[tanhSql]] (~2 ulp, absorbed by
    * the r8/r10 rounding — same posture as g07w). */
  private def g07tSql: String = {
    val f = graft.WitnessFixtures.G07t
    val (g1, g2, g2t, g3, d1, d2, d3) = f.layers() // fresh = initial weights
    val bs = f.Batch
    val rs = 0 until bs
    val lr = "2.0E-4"; val eps = "1.0E-8"
    val c1 = (1.0 - math.pow(0.5, 1)).toString
    val c2 = (1.0 - math.pow(0.999, 1)).toString
    val b2c = (1 - 0.999).toString
    def dl(x: Double) = s"($x::DOUBLE)"
    def lrelu(p: String) = s"CASE WHEN $p >= 0 THEN $p ELSE 0.2*$p END"
    def dLrelu(p: String) = s"(CASE WHEN $p >= 0 THEN 1.0 ELSE 0.2 END)"
    def sig(x: String) = s"1.0/(1.0 + exp(-($x)))"
    def nest(rows: Seq[Seq[String]]) =
      rows.map(_.mkString("[", ",\n      ", "]")).mkString("[", ",\n     ", "]")
    def flat(xs: Seq[String]) = xs.mkString("[", ",\n     ", "]")
    def el(c: String, r: Int, o: Int) = s"$c[${r + 1}][${o + 1}]"
    def el1(c: String, o: Int) = s"$c[${o + 1}]"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    var prev = "q0"
    ctes += "q0 AS MATERIALIZED (SELECT 1 AS one)"
    def add(cols: (String, String)*): Unit = {
      val name = s"q${ctes.length}"
      ctes += s"$name AS MATERIALIZED (SELECT *, " +
        cols.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ") + s" FROM $prev)"
      prev = name
    }
    // affine forward: bias-first accumulation like Dense.forward
    def affL(w: Array[Array[Double]], b: Array[Double],
             in: (Int, Int) => String) =
      nest(rs.map(r => w.indices.map(o =>
        (Seq(dl(b(o))) ++
          w(o).indices.map(i => s"${dl(w(o)(i))}*(${in(r, i)})")).mkString(" + "))))
    def affR(w: Array[Array[Double]], b: Array[Double], c: String) =
      affL(w, b, (r, i) => el(c, r, i))
    // affine with UPDATED (column-ref) weights
    def affU(wRef: String, bRef: String, inRef: String, outDim: Int, inDim: Int) =
      nest(rs.map(r => (0 until outDim).map(o =>
        (Seq(s"$bRef[${o + 1}]") ++
          (0 until inDim).map(i => s"$wRef[${o + 1}][${i + 1}]*${el(inRef, r, i)}"))
          .mkString(" + "))))
    def lreluN(c: String, u: Int) =
      nest(rs.map(r => (0 until u).map(o => lrelu(el(c, r, o)))))
    def tanhN(c: String, u: Int) =
      nest(rs.map(r => (0 until u).map(o => tanhSql(el(c, r, o)))))
    // Adam t=1 from zero state; b1=0.5 (the GAN steps' β₁)
    def adam(w0: Double, g: String) = {
      val m = s"(0.5*0.0 + 0.5*($g))"
      val v = s"(0.999*0.0 + $b2c*($g)*($g))"
      s"((${dl(w0)}) - $lr*(($m)/($c1))/(sqrt(($v)/($c2)) + $eps))"
    }
    def adamW(w: Array[Array[Double]], gRef: String) =
      nest(w.indices.map(o => w(o).indices.map(i =>
        adam(w(o)(i), s"$gRef[${o + 1}][${i + 1}]"))))
    def adamB(b: Array[Double], gRef: String) =
      flat(b.indices.map(o => adam(b(o), s"$gRef[${o + 1}]")))

    // ── D step: real forward ──
    add("ap1" -> affL(d1.w, d1.b, (r, i) => f.Real(r)(i).toString))
    add("ao1" -> lreluN("ap1", 3))
    add("ap2" -> affR(d2.w, d2.b, "ao1"))
    add("ao2" -> lreluN("ap2", 3))
    add("alog" -> flat(rs.map(r =>
      (Seq(dl(d3.b(0))) ++
        d3.w(0).indices.map(i => s"${dl(d3.w(0)(i))}*${el("ao2", r, i)}")).mkString(" + "))))
    add("adl" -> flat(rs.map(r => s"(${sig(el1("alog", r))} - 1.0)/$bs.0")))
    // ── fake₁ = G(z₁) with initial G weights ──
    add("fp1" -> affL(g1.w, g1.b, (r, i) => f.Z1(r)(i).toString))
    add("fo1" -> lreluN("fp1", 3))
    add("fp2" -> affR(g2.w, g2.b, "fo1"))
    add("fo2" -> lreluN("fp2", 3))
    add("fpt" -> affR(g2t.w, g2t.b, "fo2"))
    add("fot" -> tanhN("fpt", 3))
    add("ffk" -> affR(g3.w, g3.b, "fot")) // linear head: out = pre
    // ── D forward on fake₁ ──
    add("bp1" -> affR(d1.w, d1.b, "ffk"))
    add("bo1" -> lreluN("bp1", 3))
    add("bp2" -> affR(d2.w, d2.b, "bo1"))
    add("bo2" -> lreluN("bp2", 3))
    add("blog" -> flat(rs.map(r =>
      (Seq(dl(d3.b(0))) ++
        d3.w(0).indices.map(i => s"${dl(d3.w(0)(i))}*${el("bo2", r, i)}")).mkString(" + "))))
    add("bdl" -> flat(rs.map(r => s"(${sig(el1("blog", r))} - 0.0)/$bs.0")))
    // ── backprop deltas (d3 head is linear: delta = BCE grad itself) ──
    add(
      "ai2" -> nest(rs.map(r => (0 until 3).map(i =>
        s"${el1("adl", r)}*${dl(d3.w(0)(i))}"))),
      "bi2" -> nest(rs.map(r => (0 until 3).map(i =>
        s"${el1("bdl", r)}*${dl(d3.w(0)(i))}"))))
    add(
      "ad2" -> nest(rs.map(r => (0 until 3).map(o =>
        s"${el("ai2", r, o)}*${dLrelu(el("ap2", r, o))}"))),
      "bd2" -> nest(rs.map(r => (0 until 3).map(o =>
        s"${el("bi2", r, o)}*${dLrelu(el("bp2", r, o))}"))))
    add(
      "ai1" -> nest(rs.map(r => (0 until 3).map(i =>
        (0 until 3).map(o => s"${el("ad2", r, o)}*${dl(d2.w(o)(i))}").mkString(" + ")))),
      "bi1" -> nest(rs.map(r => (0 until 3).map(i =>
        (0 until 3).map(o => s"${el("bd2", r, o)}*${dl(d2.w(o)(i))}").mkString(" + ")))))
    add(
      "ad1" -> nest(rs.map(r => (0 until 3).map(o =>
        s"${el("ai1", r, o)}*${dLrelu(el("ap1", r, o))}"))),
      "bd1" -> nest(rs.map(r => (0 until 3).map(o =>
        s"${el("bi1", r, o)}*${dLrelu(el("bp1", r, o))}"))))
    // ── D gradients: real rows then fake rows (Scala accumulation) ──
    add(
      "gwd1" -> nest((0 until 3).map(o => (0 until 8).map(i =>
        (rs.map(r => s"${el("ad1", r, o)}*${dl(f.Real(r)(i))}") ++
          rs.map(r => s"${el("bd1", r, o)}*${el("ffk", r, i)}")).mkString(" + ")))),
      "gbd1" -> flat((0 until 3).map(o =>
        (rs.map(r => el("ad1", r, o)) ++ rs.map(r => el("bd1", r, o))).mkString(" + "))),
      "gwd2" -> nest((0 until 3).map(o => (0 until 3).map(i =>
        (rs.map(r => s"${el("ad2", r, o)}*${el("ao1", r, i)}") ++
          rs.map(r => s"${el("bd2", r, o)}*${el("bo1", r, i)}")).mkString(" + ")))),
      "gbd2" -> flat((0 until 3).map(o =>
        (rs.map(r => el("ad2", r, o)) ++ rs.map(r => el("bd2", r, o))).mkString(" + "))),
      "gwd3" -> nest(Seq((0 until 3).map(i =>
        (rs.map(r => s"${el1("adl", r)}*${el("ao2", r, i)}") ++
          rs.map(r => s"${el1("bdl", r)}*${el("bo2", r, i)}")).mkString(" + ")))),
      "gbd3" -> flat(Seq(
        (rs.map(r => el1("adl", r)) ++ rs.map(r => el1("bdl", r))).mkString(" + "))))
    // ── Adam: updated D params ──
    add(
      "uwd1" -> adamW(d1.w, "gwd1"), "ubd1" -> adamB(d1.b, "gbd1"),
      "uwd2" -> adamW(d2.w, "gwd2"), "ubd2" -> adamB(d2.b, "gbd2"),
      "uwd3" -> adamW(d3.w, "gwd3"), "ubd3" -> adamB(d3.b, "gbd3"))
    // ── G step: fake₂ = G(z₂) with initial G weights ──
    add("hp1" -> affL(g1.w, g1.b, (r, i) => f.Z2(r)(i).toString))
    add("ho1" -> lreluN("hp1", 3))
    add("hp2" -> affR(g2.w, g2.b, "ho1"))
    add("ho2" -> lreluN("hp2", 3))
    add("hpt" -> affR(g2t.w, g2t.b, "ho2"))
    add("hot" -> tanhN("hpt", 3))
    add("hfk" -> affR(g3.w, g3.b, "hot"))
    // ── D forward on fake₂ with UPDATED weights ──
    add("cp1" -> affU("uwd1", "ubd1", "hfk", 3, 8))
    add("co1" -> lreluN("cp1", 3))
    add("cp2" -> affU("uwd2", "ubd2", "co1", 3, 3))
    add("co2" -> lreluN("cp2", 3))
    add("clog" -> flat(rs.map(r =>
      (Seq("ubd3[1]") ++
        (0 until 3).map(i => s"uwd3[1][${i + 1}]*${el("co2", r, i)}")).mkString(" + "))))
    add("cdl" -> flat(rs.map(r => s"(${sig(el1("clog", r))} - 1.0)/$bs.0")))
    // ── backward through the UPDATED (frozen) D to get dL/dfake₂ ──
    add("ci2" -> nest(rs.map(r => (0 until 3).map(i =>
      s"${el1("cdl", r)}*uwd3[1][${i + 1}]"))))
    add("cd2" -> nest(rs.map(r => (0 until 3).map(o =>
      s"${el("ci2", r, o)}*${dLrelu(el("cp2", r, o))}"))))
    add("ci1" -> nest(rs.map(r => (0 until 3).map(i =>
      (0 until 3).map(o => s"${el("cd2", r, o)}*uwd2[${o + 1}][${i + 1}]").mkString(" + ")))))
    add("cd1" -> nest(rs.map(r => (0 until 3).map(o =>
      s"${el("ci1", r, o)}*${dLrelu(el("cp1", r, o))}"))))
    add("gfk" -> nest(rs.map(r => (0 until 8).map(i =>
      (0 until 3).map(o => s"${el("cd1", r, o)}*uwd1[${o + 1}][${i + 1}]").mkString(" + ")))))
    // ── G backward with initial weights (g3 head linear: delta = gfk) ──
    add(
      "gwg3" -> nest((0 until 8).map(o => (0 until 3).map(i =>
        rs.map(r => s"${el("gfk", r, o)}*${el("hot", r, i)}").mkString(" + ")))),
      "gbg3" -> flat((0 until 8).map(o =>
        rs.map(r => el("gfk", r, o)).mkString(" + "))))
    add("git" -> nest(rs.map(r => (0 until 3).map(i =>
      (0 until 8).map(o => s"${el("gfk", r, o)}*${dl(g3.w(o)(i))}").mkString(" + ")))))
    add("dgt" -> nest(rs.map(r => (0 until 3).map(o =>
      s"${el("git", r, o)}*(1.0 - ${el("hot", r, o)}*${el("hot", r, o)})"))))
    add(
      "gwgt" -> nest((0 until 3).map(o => (0 until 3).map(i =>
        rs.map(r => s"${el("dgt", r, o)}*${el("ho2", r, i)}").mkString(" + ")))),
      "gbgt" -> flat((0 until 3).map(o =>
        rs.map(r => el("dgt", r, o)).mkString(" + "))))
    add("gi2" -> nest(rs.map(r => (0 until 3).map(i =>
      (0 until 3).map(o => s"${el("dgt", r, o)}*${dl(g2t.w(o)(i))}").mkString(" + ")))))
    add("dg2" -> nest(rs.map(r => (0 until 3).map(o =>
      s"${el("gi2", r, o)}*${dLrelu(el("hp2", r, o))}"))))
    add(
      "gwg2" -> nest((0 until 3).map(o => (0 until 3).map(i =>
        rs.map(r => s"${el("dg2", r, o)}*${el("ho1", r, i)}").mkString(" + ")))),
      "gbg2" -> flat((0 until 3).map(o =>
        rs.map(r => el("dg2", r, o)).mkString(" + "))))
    add("gi1" -> nest(rs.map(r => (0 until 3).map(i =>
      (0 until 3).map(o => s"${el("dg2", r, o)}*${dl(g2.w(o)(i))}").mkString(" + ")))))
    add("dg1" -> nest(rs.map(r => (0 until 3).map(o =>
      s"${el("gi1", r, o)}*${dLrelu(el("hp1", r, o))}"))))
    add(
      "gwg1" -> nest((0 until 3).map(o => (0 until 2).map(i =>
        rs.map(r => s"${el("dg1", r, o)}*${dl(f.Z2(r)(i))}").mkString(" + ")))),
      "gbg1" -> flat((0 until 3).map(o =>
        rs.map(r => el("dg1", r, o)).mkString(" + "))))
    // ── Adam: updated G params ──
    add(
      "uwg1" -> adamW(g1.w, "gwg1"), "ubg1" -> adamB(g1.b, "gbg1"),
      "uwg2" -> adamW(g2.w, "gwg2"), "ubg2" -> adamB(g2.b, "gbg2"),
      "uwgt" -> adamW(g2t.w, "gwgt"), "ubgt" -> adamB(g2t.b, "gbgt"),
      "uwg3" -> adamW(g3.w, "gwg3"), "ubg3" -> adamB(g3.b, "gbg3"))

    // ── unpivot every updated parameter (+ delta vs the literal init) ──
    val layers = Seq(
      ("g", 0, g1, "uwg1", "ubg1"), ("g", 1, g2, "uwg2", "ubg2"),
      ("g", 2, g2t, "uwgt", "ubgt"), ("g", 3, g3, "uwg3", "ubg3"),
      ("d", 0, d1, "uwd1", "ubd1"), ("d", 1, d2, "uwd2", "ubd2"),
      ("d", 2, d3, "uwd3", "ubd3"))
    val outRows = layers.flatMap { case (net, li, l, wr, br) =>
      val ws = for (o <- l.w.indices; i <- l.w(o).indices) yield
        s"SELECT '$net' AS net, $li AS layer, $o AS o, $i AS i, " +
          s"round($wr[${o + 1}][${i + 1}], 8) + 0.0 AS v, " +
          s"round($wr[${o + 1}][${i + 1}] - ${dl(l.w(o)(i))}, 10) + 0.0 AS dv FROM $prev"
      val bsRows = l.b.indices.map(o =>
        s"SELECT '$net', $li, $o, -1, round($br[${o + 1}], 8) + 0.0, " +
          s"round($br[${o + 1}] - ${dl(l.b(o))}, 10) + 0.0 FROM $prev")
      ws ++ bsRows
    }
    s"""WITH ${ctes.mkString(",\n")}
       |${outRows.mkString("\nUNION ALL\n")}
       |ORDER BY net, layer, o, i""".stripMargin
  }

  /** d01's pair list as an embeddable SELECT (no trailing ORDER BY):
    * ONE portable md5-derived base value per shingle, 64 arithmetic
    * permutations (a·base+b mod 2^31−1 — coefficients shared with the
    * Spark side), 16 bands of 4, md5-of-slice band buckets, est_jaccard
    * = agreeing slots / 64. Shared by the d01 gate entry and the d03
    * cluster closure. */
  /** d08 pair source: the t16 hashed-embedding CTE (r6-normalized
    * vectors) banded with the SAME sign-LSH planes as the Spark side
    * (seed 11), cosine r5 ≥ 0.92 on the candidates. */
  private lazy val d08PairsSql: String = {
    val h = h64Sql("token", "'17'")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
       |              FROM documents WHERE doc_id % 2 = 0),
       |t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
       |hb AS (SELECT doc_id, $h AS h FROM t),
       |w AS (SELECT doc_id, (h % 64)::INT AS b,
       |        sum(CASE WHEN (h >> 20) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS w
       |      FROM hb GROUP BY doc_id, (h % 64)::INT),
       |grid AS (SELECT d.doc_id, j
       |         FROM (SELECT DISTINCT doc_id FROM t) d
       |         CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) js),
       |raw AS (SELECT g.doc_id, g.j, coalesce(w.w, 0.0) AS x
       |        FROM grid g LEFT JOIN w ON w.doc_id = g.doc_id AND w.b = g.j),
       |nrm AS (SELECT doc_id, sqrt(sum(x*x)) AS n FROM raw GROUP BY doc_id),
       |ev AS (SELECT raw.doc_id,
       |         list(round(CASE WHEN nrm.n > 0 THEN raw.x / nrm.n
       |           ELSE 0.0 END, 6) ORDER BY raw.j) AS v
       |       FROM raw JOIN nrm ON raw.doc_id = nrm.doc_id
       |       GROUP BY raw.doc_id),
       |e2 AS (SELECT doc_id, v, list_inner_product(v, v) AS n FROM ev),
       |banded AS (
       |${bandedSql("e2", "doc_id, v, n", "v",
          graft.sim.Similarity.bandPlanes(64, 12, 8, 11L))}),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.bucket = b.bucket
       |         WHERE a.doc_id < b.doc_id),
       |p AS (SELECT id_a, id_b,
       |        round(list_inner_product(ea.v, eb.v)/sqrt(ea.n*eb.n), 5) AS cosine
       |      FROM cand JOIN e2 ea ON ea.doc_id = cand.id_a
       |                JOIN e2 eb ON eb.doc_id = cand.id_b)
       |SELECT id_a, id_b FROM p WHERE cosine >= 0.92""".stripMargin
  }

  private def d01PairsSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
       |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
       |              FROM documents),
       |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
       |sh0 AS (SELECT doc_id,
       |          token || ' ' || lead(token,1) OVER w || ' ' || lead(token,2) OVER w
       |            || ' ' || lead(token,3) OVER w || ' ' || lead(token,4) OVER w AS shingle,
       |          lead(token,4) OVER w AS l4
       |        FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE l4 IS NOT NULL),
       |bs AS (SELECT doc_id, ${h64Sql("shingle", "'0'")} & ${graft.text.Dedup.MinhashBaseMask} AS base
       |       FROM sh),
       |params AS (SELECT * FROM (VALUES ${
            graft.text.Dedup.minhashParams(64).zipWithIndex
              .map { case ((a, b), s) => s"($s, ${a}::BIGINT, ${b}::BIGINT)" }
              .mkString(",\n  ")}) p(s, a, b)),
       |mh AS (SELECT doc_id, s, min((a * base + b) % ${graft.text.Dedup.MinhashPrime}) AS h
       |       FROM bs, params GROUP BY doc_id, s),
       |bands AS (SELECT doc_id, s // 4 AS band,
       |            md5(string_agg(h::VARCHAR, ',' ORDER BY s)) AS bucket
       |          FROM mh GROUP BY doc_id, s // 4),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |         WHERE a.doc_id < b.doc_id),
       |est AS (SELECT c.id_a, c.id_b,
       |          (SELECT count(*) FROM mh x JOIN mh y ON x.s = y.s AND x.h = y.h
       |           WHERE x.doc_id = c.id_a AND y.doc_id = c.id_b) / 64.0 AS est_jaccard
       |        FROM cand c)
       |SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5""".stripMargin

  /** o02f: [[graft.opt.SweepOptimizer.gridSearchEarlyStop]]'s two-phase
    * SELECTION arithmetic replayed over the md5 pseudo-fitness
    * (`SweepOptimizer.witnessScore` — h64/2⁶⁰, identical in both
    * engines): per-config probe sums over the first `earlyAfter`
    * seeds, the global probe best, the `≤ best·margin` survivor set,
    * finish-phase sums for survivors only, truncated averages + the
    * early_stopped flag for the pruned. Fp-exact by construction: each
    * phase sums exactly two addends (commutative), the threshold
    * compare uses the same double literals, and the hash doubles are
    * exact quotients of 60-bit integers by 2⁶⁰. */
  /** o03f: successiveHalving's rung/promotion arithmetic over the
    * "o03"-tagged md5 pseudo-fitness. The rung structure is a pure
    * function of the literal grid (12 configs, 9 seeds, η=3 → rungs of
    * budget 1/3/5 keeping 12→4→2), so the replay is three chained CTE
    * stages; every cumulative sum is an ORDERED-list fold in seed
    * order, matching the driver's seed-sorted Vector sum bit-for-bit. */
  private def o03fSql: String = {
    val configs = (for { nb <- Seq(5, 8, 10, 15); sm <- Seq(0.0, 0.2, 0.5) }
      yield (nb, sm)).zipWithIndex
      .map { case ((nb, sm), i) =>
        s"($i, $nb, CAST($sm AS DOUBLE), ${math.round(sm * 10)})" }
      .mkString(", ")
    s"""WITH configs(config_id, n_bins, smooth, sm_key) AS (VALUES $configs),
       |seeds(seed) AS (VALUES ${(1 to 9).mkString("(", "), (", ")")}),
       |scores AS (
       |  SELECT c.config_id, c.n_bins, c.smooth, s.seed,
       |    ${h64Sql("c.n_bins || '|' || c.sm_key || '|' || s.seed", "'o03'")}
       |      / 1152921504606846976.0 AS score
       |  FROM configs c CROSS JOIN seeds s),
       |r0 AS (SELECT config_id, n_bins, smooth, score AS s1
       |       FROM scores WHERE seed = 1),
       |k0 AS (SELECT config_id,
       |         row_number() OVER (ORDER BY s1, config_id) AS rk FROM r0),
       |a1 AS (SELECT config_id FROM k0 WHERE rk <= 4),
       |r1 AS (SELECT sc.config_id,
       |         list_aggregate(list(sc.score ORDER BY sc.seed), 'sum') AS s4
       |       FROM scores sc JOIN a1 USING (config_id) WHERE sc.seed <= 4
       |       GROUP BY sc.config_id),
       |k1 AS (SELECT config_id,
       |         row_number() OVER (ORDER BY s4 / 4.0, config_id) AS rk FROM r1),
       |a2 AS (SELECT config_id FROM k1 WHERE rk <= 2),
       |r2 AS (SELECT sc.config_id,
       |         list_aggregate(list(sc.score ORDER BY sc.seed), 'sum') AS s9
       |       FROM scores sc JOIN a2 USING (config_id)
       |       GROUP BY sc.config_id),
       |fin AS (
       |  SELECT r0.config_id, r0.n_bins, r0.smooth,
       |    CASE WHEN r2.config_id IS NOT NULL THEN r2.s9 / 9.0
       |         WHEN r1.config_id IS NOT NULL THEN r1.s4 / 4.0
       |         ELSE r0.s1 END AS avg_raw,
       |    CASE WHEN r2.config_id IS NOT NULL THEN 9
       |         WHEN r1.config_id IS NOT NULL THEN 4 ELSE 1 END AS ns,
       |    CASE WHEN r2.config_id IS NOT NULL THEN 2
       |         WHEN r1.config_id IS NOT NULL THEN 1 ELSE 0 END AS rr
       |  FROM r0 LEFT JOIN r1 USING (config_id)
       |  LEFT JOIN r2 USING (config_id))
       |SELECT config_id, n_bins, smooth, round(avg_raw, 6) AS avg_score,
       |  ns::BIGINT AS n_seeds, rr::BIGINT AS rung_reached
       |FROM fin ORDER BY avg_score, config_id""".stripMargin
  }

  /** Hyperband witness (o04f): the o03f pattern ×3 brackets — per
    * bracket a deterministic md5 config DRAW (key
    * "o04draw|nb|smKey|bracket"), then the bracket's rung schedule as
    * chained CTEs with seed-ordered list sums. R=9, η=3 ⇒ brackets
    * s=2 (9 cfgs, rungs at seeds 1/4/9, keep 3 then 1), s=1 (5 cfgs,
    * rungs at 3/9, keep 2), s=0 (3 cfgs, one rung at 9). */
  private def o04fSql: String = {
    val configs = (for { nb <- Seq(5, 8, 10, 15); sm <- Seq(0.0, 0.2, 0.5) }
      yield (nb, sm)).zipWithIndex
      .map { case ((nb, sm), i) =>
        s"($i, $nb, CAST($sm AS DOUBLE), ${math.round(sm * 10)})" }
      .mkString(", ")
    def draw(s: Int) =
      h64Sql(s"c.n_bins || '|' || c.sm_key || '|' || '$s'", "'o04draw'")
    s"""WITH configs(config_id, n_bins, smooth, sm_key) AS (VALUES $configs),
       |seeds(seed) AS (VALUES ${(1 to 9).mkString("(", "), (", ")")}),
       |scores AS (
       |  SELECT c.config_id, s.seed,
       |    ${h64Sql("c.n_bins || '|' || c.sm_key || '|' || s.seed", "'o04'")}
       |      / 1152921504606846976.0 AS score
       |  FROM configs c CROSS JOIN seeds s),
       |d2 AS (SELECT c.config_id, c.n_bins, c.smooth FROM configs c
       |       ORDER BY ${draw(2)}, c.config_id LIMIT 9),
       |b2r0 AS (SELECT sc.config_id,
       |    list_aggregate(list(sc.score ORDER BY sc.seed), 'sum') AS sm
       |  FROM scores sc JOIN d2 USING (config_id) WHERE sc.seed <= 1
       |  GROUP BY 1),
       |b2a1 AS (SELECT config_id FROM (SELECT config_id,
       |    row_number() OVER (ORDER BY sm / 1.0, config_id) AS rk
       |  FROM b2r0) WHERE rk <= 3),
       |b2r1 AS (SELECT sc.config_id,
       |    list_aggregate(list(sc.score ORDER BY sc.seed), 'sum') AS sm
       |  FROM scores sc JOIN b2a1 USING (config_id) WHERE sc.seed <= 4
       |  GROUP BY 1),
       |b2a2 AS (SELECT config_id FROM (SELECT config_id,
       |    row_number() OVER (ORDER BY sm / 4.0, config_id) AS rk
       |  FROM b2r1) WHERE rk <= 1),
       |b2r2 AS (SELECT sc.config_id,
       |    list_aggregate(list(sc.score ORDER BY sc.seed), 'sum') AS sm
       |  FROM scores sc JOIN b2a2 USING (config_id) GROUP BY 1),
       |fin2 AS (SELECT 2 AS bracket, d.config_id, d.n_bins, d.smooth,
       |    CASE WHEN r2.config_id IS NOT NULL THEN r2.sm / 9.0
       |         WHEN r1.config_id IS NOT NULL THEN r1.sm / 4.0
       |         ELSE r0.sm / 1.0 END AS avg_raw,
       |    CASE WHEN r2.config_id IS NOT NULL THEN 9
       |         WHEN r1.config_id IS NOT NULL THEN 4 ELSE 1 END AS ns,
       |    CASE WHEN r2.config_id IS NOT NULL THEN 2
       |         WHEN r1.config_id IS NOT NULL THEN 1 ELSE 0 END AS rr
       |  FROM d2 d JOIN b2r0 r0 USING (config_id)
       |  LEFT JOIN b2r1 r1 USING (config_id)
       |  LEFT JOIN b2r2 r2 USING (config_id)),
       |d1 AS (SELECT c.config_id, c.n_bins, c.smooth FROM configs c
       |       ORDER BY ${draw(1)}, c.config_id LIMIT 5),
       |b1r0 AS (SELECT sc.config_id,
       |    list_aggregate(list(sc.score ORDER BY sc.seed), 'sum') AS sm
       |  FROM scores sc JOIN d1 USING (config_id) WHERE sc.seed <= 3
       |  GROUP BY 1),
       |b1a1 AS (SELECT config_id FROM (SELECT config_id,
       |    row_number() OVER (ORDER BY sm / 3.0, config_id) AS rk
       |  FROM b1r0) WHERE rk <= 2),
       |b1r1 AS (SELECT sc.config_id,
       |    list_aggregate(list(sc.score ORDER BY sc.seed), 'sum') AS sm
       |  FROM scores sc JOIN b1a1 USING (config_id) GROUP BY 1),
       |fin1 AS (SELECT 1 AS bracket, d.config_id, d.n_bins, d.smooth,
       |    CASE WHEN r1.config_id IS NOT NULL THEN r1.sm / 9.0
       |         ELSE r0.sm / 3.0 END AS avg_raw,
       |    CASE WHEN r1.config_id IS NOT NULL THEN 9 ELSE 3 END AS ns,
       |    CASE WHEN r1.config_id IS NOT NULL THEN 1 ELSE 0 END AS rr
       |  FROM d1 d JOIN b1r0 r0 USING (config_id)
       |  LEFT JOIN b1r1 r1 USING (config_id)),
       |d0 AS (SELECT c.config_id, c.n_bins, c.smooth FROM configs c
       |       ORDER BY ${draw(0)}, c.config_id LIMIT 3),
       |b0r0 AS (SELECT sc.config_id,
       |    list_aggregate(list(sc.score ORDER BY sc.seed), 'sum') AS sm
       |  FROM scores sc JOIN d0 USING (config_id) GROUP BY 1),
       |fin0 AS (SELECT 0 AS bracket, d.config_id, d.n_bins, d.smooth,
       |    r0.sm / 9.0 AS avg_raw, 9 AS ns, 0 AS rr
       |  FROM d0 d JOIN b0r0 r0 USING (config_id))
       |SELECT bracket::INT AS bracket, config_id, n_bins, smooth,
       |  round(avg_raw, 6) AS avg_score, ns::BIGINT AS n_seeds,
       |  rr::BIGINT AS rung_reached
       |FROM (SELECT * FROM fin2 UNION ALL SELECT * FROM fin1
       |      UNION ALL SELECT * FROM fin0)
       |ORDER BY bracket, avg_score, config_id""".stripMargin
  }

  /** d09/d09f shared oracle body: duplicated-8-gram run collapse with
    * a parameterized gap bridge (0 = exact, k = one-edit tolerance). */
  /** In-engine BPE trainer replay (b01): the k01 chained-iteration
    * pattern with INTEGER re-entry — each merge level is one
    * argmax-of-pair-counts CTE plus one string-rewrite CTE, both
    * MATERIALIZED (the memoized-level rule: a non-materialized chain
    * where level i reads level i−1 twice inlines 2^n-fold). Greedy
    * left-to-right non-overlapping `replace` on the sentinel-spaced
    * symbol string matches the JVM's semantics exactly; ties break
    * (cnt DESC, l, r) on binary collation. */
  private def bpeLevels(n: Int, textExpr: String = "text",
                        src: String = "documents",
                        prelude: String = ""): String = {
    val head =
      s"""WITH ${prelude}w0 AS MATERIALIZED (
        |  SELECT word, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(string_split($textExpr, ' ')) AS word
        |        FROM $src)
        |  WHERE word <> '' GROUP BY 1),
        |s0 AS MATERIALIZED (
        |  SELECT regexp_replace(word, '(.)', ' \\1 ', 'g') AS sym,
        |         c FROM w0)""".stripMargin
    val levels = (1 to n).map { i =>
      s"""m$i AS MATERIALIZED (
         |  SELECT l, r, sum(c)::BIGINT AS cnt FROM (
         |    SELECT a[j] AS l, a[j + 1] AS r, c FROM (
         |      SELECT a, c,
         |        unnest(generate_series(1, len(a) - 1)) AS j FROM (
         |        SELECT list_filter(string_split(sym, ' '),
         |            x -> x <> '') AS a, c
         |        FROM s${i - 1})))
         |  GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT replace(sym, ' ' || m.l || '  ' || m.r || ' ',
         |           ' ' || m.l || m.r || ' ') AS sym, c
         |  FROM s${i - 1}, m$i AS m)""".stripMargin
    }
    (head +: levels).mkString(",\n")
  }

  private def b01Sql(n: Int): String = {
    val union = (1 to n).map(i =>
      s"""SELECT $i::INT AS "rank", l AS "left", r AS "right",
         |  l || r AS merged, cnt AS pair_count FROM m$i""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""${bpeLevels(n)}
       |$union
       |ORDER BY "rank"""".stripMargin
  }

  /** BPE encode replay (b02): the whole doc is encoded in ONE symbol
    * string — word separators become a '|' symbol no trained merge can
    * bridge (merges carry only word characters, and ` l r ` needs
    * adjacency), replaying the word-boundary contract without lambda
    * capture; the n trained merges apply as an n-deep replace chain in
    * rank order. */
  private def b02Sql(n: Int): String = {
    val chain = (1 to n).foldLeft(
      "regexp_replace(replace(text, ' ', '|'), " +
        "'(.)', ' \\1 ', 'g')") { (e, i) =>
      s"replace($e, ' ' || m$i.l || '  ' || m$i.r || ' ', " +
        s"' ' || m$i.l || m$i.r || ' ')"
    }
    val mJoins = (1 to n).map(i => s"m$i").mkString(", ")
    s"""${bpeLevels(n)},
       |e AS (SELECT doc_id,
       |        replace(trim($chain), '  ', ' ') AS enc
       |      FROM documents, $mJoins)
       |SELECT doc_id,
       |  len(list_filter(string_split(enc, ' '),
       |    x -> x <> '|'))::INT AS n_tokens_bpe,
       |  enc AS encoded
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** Tokenizer fertility replay (b10): b02's encode chain, then
    * per-language tokens/word and chars/token (chars = non-space
    * characters — exactly what the tokens carry). */
  private def b10Sql(n: Int): String = {
    val chain = (1 to n).foldLeft(
      "regexp_replace(replace(text, ' ', '|'), " +
        "'(.)', ' \\1 ', 'g')") { (e, i) =>
      s"replace($e, ' ' || m$i.l || '  ' || m$i.r || ' ', " +
        s"' ' || m$i.l || m$i.r || ' ')"
    }
    val mJoins = (1 to n).map(i => s"m$i").mkString(", ")
    s"""${bpeLevels(n)},
       |e AS (SELECT doc_id,
       |        replace(trim($chain), '  ', ' ') AS enc
       |      FROM documents, $mJoins),
       |tok AS (SELECT doc_id,
       |        len(list_filter(string_split(enc, ' '),
       |          x -> x <> '|'))::BIGINT AS n_tok
       |      FROM e),
       |base AS (SELECT doc_id, lang,
       |        len(list_filter(string_split(text, ' '),
       |          t -> t <> ''))::BIGINT AS n_words,
       |        len(replace(text, ' ', ''))::BIGINT AS n_chars
       |      FROM documents),
       |g AS (SELECT lang, count(*)::BIGINT AS n_docs,
       |        sum(n_words)::BIGINT AS total_words,
       |        sum(n_chars)::BIGINT AS total_chars,
       |        sum(n_tok)::BIGINT AS total_tokens
       |      FROM tok JOIN base USING (doc_id) GROUP BY lang)
       |SELECT lang, n_docs, total_words, total_chars, total_tokens,
       |  round(total_tokens::DOUBLE/total_words::DOUBLE, 6)
       |    AS fertility,
       |  round(total_chars::DOUBLE/total_tokens::DOUBLE, 6)
       |    AS chars_per_token
       |FROM g ORDER BY lang""".stripMargin
  }

  /** BPE id-sequence replay (b03): b02's encoded docs mapped through
    * the induced vocabulary — 4 RESERVED special ids first
    * (<pad>/<bos>/<eos>/<unk>, never matched by corpus symbols), then
    * base characters sorted, then merges in rank order; positions are
    * 0-based with the '|' word boundaries elided BEFORE numbering. */
  private def b03Sql(n: Int, reserved: Int = 4): String = {
    val chain = (1 to n).foldLeft(
      "regexp_replace(replace(text, ' ', '|'), " +
        "'(.)', ' \\1 ', 'g')") { (e, i) =>
      s"replace($e, ' ' || m$i.l || '  ' || m$i.r || ' ', " +
        s"' ' || m$i.l || m$i.r || ' ')"
    }
    val mJoins = (1 to n).map(i => s"m$i").mkString(", ")
    val mergeUnion = (1 to n).map(i =>
      s"SELECT $i AS i, l || r AS merged FROM m$i")
      .mkString(" UNION ALL ")
    s"""${bpeLevels(n)},
       |e AS (SELECT doc_id,
       |        replace(trim($chain), '  ', ' ') AS enc
       |      FROM documents, $mJoins),
       |chars AS MATERIALIZED (
       |  SELECT DISTINCT ch FROM (
       |    SELECT unnest(regexp_extract_all(word, '.')) AS ch FROM w0)),
       |vocab AS MATERIALIZED (
       |  -- two merges yielding the same string keep the FIRST id
       |  -- (mirrors Bpe.vocab's min-id dedup; prevents join fan-out);
       |  -- the $reserved reserved specials shift chars and merges up
       |  SELECT min(token_id) AS token_id, symbol FROM (
       |    SELECT row_number() OVER (ORDER BY ch) - 1 + $reserved
       |           AS token_id, ch AS symbol FROM chars
       |    UNION ALL
       |    SELECT (SELECT count(*) FROM chars) + i - 1 + $reserved,
       |      merged
       |    FROM ($mergeUnion)) GROUP BY symbol),
       |sy AS (SELECT doc_id, sym, rawpos FROM (
       |    SELECT doc_id, unnest(string_split(enc, ' ')) AS sym,
       |      unnest(generate_series(1,
       |        len(string_split(enc, ' ')))) AS rawpos FROM e)
       |  WHERE sym <> '|' AND sym <> ''),
       |p AS (SELECT doc_id, sym AS symbol,
       |        row_number() OVER (PARTITION BY doc_id
       |          ORDER BY rawpos) - 1 AS pos
       |      FROM sy)
       |SELECT p.doc_id, p.pos::INT AS pos, p.symbol,
       |  v.token_id::INT AS token_id
       |FROM p LEFT JOIN vocab v ON v.symbol = p.symbol
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** Shared aHash pixel→grid→bits chain (m03/m04): recomputes the
    * Spark side's decoded-pixel hash from the synth formula (pixel
    * byte i = text byte i mod len; ASCII corpus ⇒ ascii(substr) is
    * the byte). All comparisons integer — see the m03 entry. Ends
    * with the `wide` CTE (media_id, b0..b3); the caller appends its
    * final SELECT. */
  private def aHashSql(src: String, withKeyword: Boolean = true): String =
    (if (withKeyword) "WITH " else "") +
      s"""img AS (SELECT doc_id AS media_id, (8 + doc_id % 13)::INT AS w,
         |    (8 + doc_id % 7)::INT AS h, text
         |  FROM $src WHERE doc_id % 3 = 0),
         |pxi AS (SELECT media_id, w, h, text,
         |    unnest(generate_series(0, w * h - 1)) AS p FROM img),
         |gp AS (SELECT media_id,
         |    ((p % w) * 8) // w AS gx, ((p // w) * 8) // h AS gy,
         |    ascii(substr(text, 1 + ((3*p) % strlen(text)), 1))
         |  + ascii(substr(text, 1 + ((3*p + 1) % strlen(text)), 1))
         |  + ascii(substr(text, 1 + ((3*p + 2) % strlen(text)), 1)) AS g3
         |  FROM pxi),
         |cell AS (SELECT media_id, gy * 8 + gx AS k, sum(g3)::BIGINT AS cs,
         |    count(*)::BIGINT AS cn FROM gp GROUP BY 1, 2),
         |tot AS (SELECT media_id, sum(cs) AS ts, sum(cn) AS tn
         |  FROM cell GROUP BY 1),
         |bits AS (SELECT c.media_id, c.k,
         |    CASE WHEN c.cs * t.tn > t.ts * c.cn THEN 1 ELSE 0 END AS bit
         |  FROM cell c JOIN tot t USING (media_id)),
         |bv AS (SELECT media_id, k // 16 AS b,
         |    sum(CASE WHEN bit = 1 THEN 1 << (k % 16) ELSE 0 END)::INT AS v
         |  FROM bits GROUP BY 1, 2),
         |wide AS (SELECT media_id,
         |    max(CASE WHEN b = 0 THEN v END)::INT AS b0,
         |    max(CASE WHEN b = 1 THEN v END)::INT AS b1,
         |    max(CASE WHEN b = 2 THEN v END)::INT AS b2,
         |    max(CASE WHEN b = 3 THEN v END)::INT AS b3
         |  FROM bv GROUP BY 1)
         |""".stripMargin

  /** Shared Ljung–Box portmanteau chain (c03 on `ret`, c11 on
    * `ret*ret` — the McLeod–Li ARCH variant): `valueSel` is an
    * expression over the r CTE's `ret`; everything downstream (mean
    * centering, h=10 lag products, Q, even-dof survival) is
    * identical. */
  private def ljungBoxSql(valueSel: String): String = {
    val h = 10
    val lagCols = (1 to h).map(k =>
      s"lag(c,$k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c$k")
      .mkString(",\n        ")
    val sums = (1 to h).map(k => s"sum(c*c$k) AS m$k").mkString(", ")
    val qTerms = (1 to h).map(k =>
      s"(m$k/den)*(m$k/den)/(n_obs-$k)").mkString(" + ")
    val tPow = (0 until h / 2).map { j =>
      val fact = (1 to j).foldLeft(1.0)(_ * _)
      if (j == 0) "1"
      else List.fill(j)("(qs/2)").mkString("*") + s"/$fact"
    }.mkString(" + ")
    s"""WITH r AS (
       | SELECT user_id, ts, event_id,
       |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
       |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
       | FROM events),
       |x AS (SELECT user_id, ts, event_id, $valueSel AS ret FROM r
       |      WHERE ret IS NOT NULL),
       |m AS (SELECT user_id, avg(ret) AS xbar FROM x GROUP BY user_id),
       |c0 AS (SELECT x.user_id, ts, event_id, ret - xbar AS c
       |       FROM x JOIN m USING (user_id)),
       |l AS (SELECT user_id, c,
       |        $lagCols
       |      FROM c0),
       |a AS (SELECT user_id, count(c)::BIGINT AS n_obs,
       |        sum(c*c) AS den, $sums
       |      FROM l GROUP BY user_id),
       |q AS (SELECT user_id, n_obs,
       |        n_obs*(n_obs+2.0)*($qTerms) AS qs
       |      FROM a)
       |SELECT user_id, n_obs, round(qs, 6) AS q_stat,
       |  round(exp(-qs/2)*($tPow), 6) AS p_value
       |FROM q ORDER BY user_id""".stripMargin
  }

  /** m08 dHash replay: the m03 pixel stream on an 8×9 grid, bit (r,c)
    * = mean(r,c+1) > mean(r,c) via exact cross-multiplication; the
    * adjacent-cell inner join drops pairs a narrow image leaves empty
    * (mirrors gradientHash's cn > 0 guards). */
  private def dHashSql(src: String): String =
    s"""WITH img AS (SELECT doc_id AS media_id,
       |    (8 + doc_id % 13)::INT AS w,
       |    (8 + doc_id % 7)::INT AS h, text
       |  FROM $src WHERE doc_id % 3 = 0),
       |pxi AS (SELECT media_id, w, h, text,
       |    unnest(generate_series(0, w * h - 1)) AS p FROM img),
       |gp AS (SELECT media_id,
       |    ((p % w) * 9) // w AS gx, ((p // w) * 8) // h AS gy,
       |    ascii(substr(text, 1 + ((3*p) % strlen(text)), 1))
       |  + ascii(substr(text, 1 + ((3*p + 1) % strlen(text)), 1))
       |  + ascii(substr(text, 1 + ((3*p + 2) % strlen(text)), 1)) AS g3
       |  FROM pxi),
       |cell AS (SELECT media_id, gy * 9 + gx AS k, sum(g3)::BIGINT AS cs,
       |    count(*)::BIGINT AS cn FROM gp GROUP BY 1, 2),
       |bits AS (SELECT a.media_id,
       |    (a.k // 9) * 8 + (a.k % 9) AS kb,
       |    CASE WHEN b.cs * a.cn > a.cs * b.cn THEN 1 ELSE 0 END AS bit
       |  FROM cell a JOIN cell b
       |    ON b.media_id = a.media_id AND b.k = a.k + 1
       |  WHERE a.k % 9 < 8),
       |bv AS (SELECT media_id, kb // 16 AS b,
       |    sum(CASE WHEN bit = 1 THEN 1 << (kb % 16) ELSE 0 END)::INT AS v
       |  FROM bits GROUP BY 1, 2),
       |wide AS (SELECT media_id,
       |    max(CASE WHEN b = 0 THEN v END)::INT AS b0,
       |    max(CASE WHEN b = 1 THEN v END)::INT AS b1,
       |    max(CASE WHEN b = 2 THEN v END)::INT AS b2,
       |    max(CASE WHEN b = 3 THEN v END)::INT AS b3
       |  FROM bv GROUP BY 1)
       |""".stripMargin

  /** Shared per-frame grid-hash chain (m06/m07): the m03 pixel replay
    * with a frame dimension — frame f's pixel bytes sit at
    * f·3wh + 3p + c in the cycled text. Ends with the `vwide` CTE
    * (media_id, f, b0..b3, hex). */
  private def frameHashSql(src: String, withKeyword: Boolean = true): String =
    (if (withKeyword) "WITH " else "") +
      s"""vid AS (SELECT doc_id AS media_id,
         |    (8 + 4 * (doc_id % 5))::INT AS w, (8 + doc_id % 6)::INT AS h,
         |    (1 + strlen(text) // 256)::INT AS nf, text
         |  FROM $src WHERE doc_id % 3 = 2),
         |fp AS (SELECT media_id, w, h, text,
         |    unnest(generate_series(0, nf - 1)) AS f FROM vid),
         |vpx AS (SELECT media_id, w, h, f, text,
         |    unnest(generate_series(0, w * h - 1)) AS p FROM fp),
         |vgp AS (SELECT media_id, f,
         |    ((p % w) * 8) // w AS gx, ((p // w) * 8) // h AS gy,
         |    ascii(substr(text, 1 + ((f*3*w*h + 3*p) % strlen(text)), 1))
         |  + ascii(substr(text, 1 + ((f*3*w*h + 3*p + 1) % strlen(text)), 1))
         |  + ascii(substr(text, 1 + ((f*3*w*h + 3*p + 2) % strlen(text)), 1))
         |    AS g3
         |  FROM vpx),
         |vcell AS (SELECT media_id, f, gy * 8 + gx AS k,
         |    sum(g3)::BIGINT AS cs, count(*)::BIGINT AS cn
         |  FROM vgp GROUP BY 1, 2, 3),
         |vtot AS (SELECT media_id, f, sum(cs) AS ts, sum(cn) AS tn
         |  FROM vcell GROUP BY 1, 2),
         |vbits AS (SELECT c.media_id, c.f, c.k,
         |    CASE WHEN c.cs * t.tn > t.ts * c.cn THEN 1 ELSE 0 END AS bit
         |  FROM vcell c JOIN vtot t USING (media_id, f)),
         |vbv AS (SELECT media_id, f, k // 16 AS b,
         |    sum(CASE WHEN bit = 1 THEN 1 << (k % 16) ELSE 0 END)::INT AS v
         |  FROM vbits GROUP BY 1, 2, 3),
         |vwide AS (SELECT media_id, f,
         |    max(CASE WHEN b = 0 THEN v END)::INT AS b0,
         |    max(CASE WHEN b = 1 THEN v END)::INT AS b1,
         |    max(CASE WHEN b = 2 THEN v END)::INT AS b2,
         |    max(CASE WHEN b = 3 THEN v END)::INT AS b3,
         |    lower(lpad(to_hex(max(CASE WHEN b = 3 THEN v END)), 4, '0')
         |      || lpad(to_hex(max(CASE WHEN b = 2 THEN v END)), 4, '0')
         |      || lpad(to_hex(max(CASE WHEN b = 1 THEN v END)), 4, '0')
         |      || lpad(to_hex(max(CASE WHEN b = 0 THEN v END)), 4, '0'))
         |      AS hex
         |  FROM vbv GROUP BY 1, 2)
         |""".stripMargin

  /** Tokenizer coverage replay (b04): the b01 tokenizer (clean-corpus
    * levels + chars-then-merges vocabulary) encodes the t03-salted
    * drifted corpus; symbols with no vocabulary row are OOV. */
  private def b04Sql(n: Int): String = {
    val chain = (1 to n).foldLeft(
      "regexp_replace(replace(body, ' ', '|'), " +
        "'(.)', ' \\1 ', 'g')") { (e, i) =>
      s"replace($e, ' ' || m$i.l || '  ' || m$i.r || ' ', " +
        s"' ' || m$i.l || m$i.r || ' ')"
    }
    val mJoins = (1 to n).map(i => s"m$i").mkString(", ")
    val mergeUnion = (1 to n).map(i =>
      s"SELECT $i AS i, l || r AS merged FROM m$i")
      .mkString(" UNION ALL ")
    s"""${bpeLevels(n)},
       |chars AS MATERIALIZED (
       |  SELECT DISTINCT ch FROM (
       |    SELECT unnest(regexp_extract_all(word, '.')) AS ch FROM w0)),
       |vocab AS MATERIALIZED (
       |  SELECT DISTINCT symbol FROM (
       |    SELECT ch AS symbol FROM chars
       |    UNION ALL SELECT merged FROM ($mergeUnion))),
       |dd AS (SELECT doc_id,
       |    text || ' contact user' || doc_id::VARCHAR ||
       |    '@mail.example.com or 415-555-' ||
       |    lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') AS body
       |  FROM documents),
       |e AS (SELECT doc_id, replace(trim($chain), '  ', ' ') AS enc
       |      FROM dd, $mJoins),
       |p AS (SELECT doc_id, sym FROM (
       |    SELECT doc_id, unnest(string_split(enc, ' ')) AS sym FROM e)
       |  WHERE sym <> '|' AND sym <> '')
       |SELECT p.doc_id, count(*)::BIGINT AS n_tokens_bpe,
       |  sum(CASE WHEN v.symbol IS NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_oov,
       |  round(sum(CASE WHEN v.symbol IS NULL THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*), 6) AS oov_ratio
       |FROM p LEFT JOIN vocab v ON v.symbol = p.sym
       |GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** Sentencepiece-marker replay (b05): training words are ▁-prefixed
    * (`'▁' || replace(text, ' ', ' ▁')` — a space run yields bare-▁
    * words, which is what makes decode exact); the encode chain runs
    * over the WHOLE marked stream with spaces dropped ('▁' ||
    * replace(text,' ','▁')) — safe because no trained merge's right
    * component can start with ▁ (word-internal ▁ adjacencies don't
    * exist), so no replace ever bridges a word boundary. */
  private def b05Sql(n: Int): String = {
    val marked = "'▁' || replace(text, ' ', ' ▁')"
    val chain = (1 to n).foldLeft(
      "regexp_replace('▁' || replace(text, ' ', '▁'), " +
        "'(.)', ' \\1 ', 'g')") { (e, i) =>
      s"replace($e, ' ' || m$i.l || '  ' || m$i.r || ' ', " +
        s"' ' || m$i.l || m$i.r || ' ')"
    }
    val mJoins = (1 to n).map(i => s"m$i").mkString(", ")
    s"""${bpeLevels(n, marked)},
       |e AS (SELECT doc_id,
       |        replace(trim($chain), '  ', ' ') AS enc
       |      FROM documents, $mJoins)
       |SELECT doc_id,
       |  len(string_split(enc, ' '))::INT AS n_tokens_sp,
       |  enc AS encoded_sp
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** Sentencepiece id-sequence replay (b06): the b05 marked-stream
    * encode mapped through the MARKED-corpus vocabulary (▁ is a base
    * char, so it and the ▁-initial merges carry ids); 4 reserved
    * special ids first, like b03; no boundary elision — positions
    * number every symbol. */
  private def b06Sql(n: Int, reserved: Int = 4): String = {
    val marked = "'▁' || replace(text, ' ', ' ▁')"
    val chain = (1 to n).foldLeft(
      "regexp_replace('▁' || replace(text, ' ', '▁'), " +
        "'(.)', ' \\1 ', 'g')") { (e, i) =>
      s"replace($e, ' ' || m$i.l || '  ' || m$i.r || ' ', " +
        s"' ' || m$i.l || m$i.r || ' ')"
    }
    val mJoins = (1 to n).map(i => s"m$i").mkString(", ")
    val mergeUnion = (1 to n).map(i =>
      s"SELECT $i AS i, l || r AS merged FROM m$i")
      .mkString(" UNION ALL ")
    s"""${bpeLevels(n, marked)},
       |e AS (SELECT doc_id,
       |        replace(trim($chain), '  ', ' ') AS enc
       |      FROM documents, $mJoins),
       |chars AS MATERIALIZED (
       |  SELECT DISTINCT ch FROM (
       |    SELECT unnest(regexp_extract_all(word, '.')) AS ch FROM w0)),
       |vocab AS MATERIALIZED (
       |  SELECT min(token_id) AS token_id, symbol FROM (
       |    SELECT row_number() OVER (ORDER BY ch) - 1 + $reserved
       |           AS token_id, ch AS symbol FROM chars
       |    UNION ALL
       |    SELECT (SELECT count(*) FROM chars) + i - 1 + $reserved,
       |      merged
       |    FROM ($mergeUnion)) GROUP BY symbol),
       |sy AS (SELECT doc_id, sym, rawpos FROM (
       |    SELECT doc_id, unnest(string_split(enc, ' ')) AS sym,
       |      unnest(generate_series(1,
       |        len(string_split(enc, ' ')))) AS rawpos FROM e)
       |  WHERE sym <> ''),
       |p AS (SELECT doc_id, sym AS symbol,
       |        row_number() OVER (PARTITION BY doc_id ORDER BY rawpos)
       |          - 1 AS pos
       |      FROM sy)
       |SELECT p.doc_id, p.pos::INT AS pos, p.symbol,
       |  v.token_id::INT AS token_id
       |FROM p LEFT JOIN vocab v ON v.symbol = p.symbol
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** Packed token-id stream replay (t09b): the b03 ids (reserved-
    * offset vocabulary) cost each doc count+1 (its <eos>), the t09
    * recursive greedy pack assigns seq_ids per source shard, and the
    * output is the packed stream itself — every doc's symbols then
    * one eos row with the RESERVED id, positions renumbered within
    * (source, seq). */
  private def t09bSql(n: Int, budget: Int, eosId: Int,
                      reserved: Int = 4): String = {
    val chain = (1 to n).foldLeft(
      "regexp_replace(replace(text, ' ', '|'), " +
        "'(.)', ' \\1 ', 'g')") { (e, i) =>
      s"replace($e, ' ' || m$i.l || '  ' || m$i.r || ' ', " +
        s"' ' || m$i.l || m$i.r || ' ')"
    }
    val mJoins = (1 to n).map(i => s"m$i").mkString(", ")
    val mergeUnion = (1 to n).map(i =>
      s"SELECT $i AS i, l || r AS merged FROM m$i")
      .mkString(" UNION ALL ")
    s"""${bpeLevels(n, prelude = "RECURSIVE ")},
       |e AS (SELECT doc_id,
       |        replace(trim($chain), '  ', ' ') AS enc
       |      FROM documents, $mJoins),
       |chars AS MATERIALIZED (
       |  SELECT DISTINCT ch FROM (
       |    SELECT unnest(regexp_extract_all(word, '.')) AS ch FROM w0)),
       |vocab AS MATERIALIZED (
       |  SELECT min(token_id) AS token_id, symbol FROM (
       |    SELECT row_number() OVER (ORDER BY ch) - 1 + $reserved
       |           AS token_id, ch AS symbol FROM chars
       |    UNION ALL
       |    SELECT (SELECT count(*) FROM chars) + i - 1 + $reserved,
       |      merged
       |    FROM ($mergeUnion)) GROUP BY symbol),
       |sy AS (SELECT doc_id, sym, rawpos FROM (
       |    SELECT doc_id, unnest(string_split(enc, ' ')) AS sym,
       |      unnest(generate_series(1,
       |        len(string_split(enc, ' ')))) AS rawpos FROM e)
       |  WHERE sym <> '|' AND sym <> ''),
       |ids AS MATERIALIZED (
       |  SELECT sy.doc_id,
       |    row_number() OVER (PARTITION BY sy.doc_id ORDER BY rawpos)
       |      - 1 AS pos,
       |    v.token_id::INT AS token_id
       |  FROM sy LEFT JOIN vocab v ON v.symbol = sy.sym),
       |cnt AS (SELECT dd.doc_id, dd.source,
       |    coalesce(c.c, 0) + 1 AS n
       |  FROM documents dd LEFT JOIN (
       |    SELECT doc_id, count(*)::BIGINT AS c FROM ids GROUP BY 1) c
       |  USING (doc_id)),
       |d AS (SELECT source, doc_id, n,
       |        row_number() OVER (PARTITION BY source
       |          ORDER BY doc_id) AS rk
       |      FROM cnt),
       |pack AS (
       |  SELECT source, doc_id, n, rk, 0::BIGINT AS seq_id, n AS cur
       |  FROM d WHERE rk = 1
       |  UNION ALL
       |  SELECT d.source, d.doc_id, d.n, d.rk,
       |    CASE WHEN p.cur + d.n > $budget THEN p.seq_id + 1
       |         ELSE p.seq_id END,
       |    CASE WHEN p.cur + d.n > $budget THEN d.n
       |         ELSE p.cur + d.n END
       |  FROM pack p JOIN d ON d.source = p.source AND d.rk = p.rk + 1),
       |stream AS (
       |  SELECT doc_id, pos, token_id FROM ids
       |  UNION ALL
       |  SELECT doc_id, (n - 1)::INT AS pos, $eosId AS token_id
       |  FROM cnt),
       |j AS (SELECT pk.source, pk.seq_id, s.doc_id, s.pos, s.token_id
       |      FROM stream s JOIN pack pk ON s.doc_id = pk.doc_id)
       |SELECT source, seq_id, doc_id,
       |  (row_number() OVER (PARTITION BY source, seq_id
       |     ORDER BY doc_id, pos) - 1)::INT AS seq_pos,
       |  token_id
       |FROM j ORDER BY source, seq_id, seq_pos""".stripMargin
  }

  /** Byte-fallback replay (b07): the GPT-2-style byte→surrogate
    * alphabet as a LITERAL 256-row map — each document's UTF-8 bytes
    * walk through `hex(encode(text))` two hex chars at a time, map to
    * surrogate chars (0x20 stays a space: it is the word separator
    * the ▁ marker carries), and the b05 marked trainer + whole-stream
    * encode run over the premapped corpus unchanged. Coverage of a
    * UNICODE-salted drifted corpus (multi-byte + astral-plane chars
    * the clean corpus never contains) against the CLOSED byte
    * vocabulary is identically zero OOV — the property that makes a
    * byte-level tokenizer the production choice. */
  private def b07Sql(n: Int): String = {
    val bmapRows = (0 until 256).map { b =>
      val cp = if (b == 0x20) 32 else graft.text.Bpe.byteAlphabet(b).toInt
      f"('$b%02X', chr($cp))"
    }.mkString(", ")
    def premap(srcTable: String, textCol: String, out: String) =
      s"""${out}h AS (SELECT doc_id, hex(encode($textCol)) AS h
         |  FROM $srcTable),
         |${out}c AS (SELECT doc_id, j, substr(h, 2 * j - 1, 2) AS hx
         |  FROM (SELECT doc_id, h,
         |          unnest(generate_series(1, len(h) // 2)) AS j
         |        FROM ${out}h)),
         |$out AS MATERIALIZED (
         |  SELECT s.doc_id, coalesce(a.pt, '') AS pt
         |  FROM $srcTable s LEFT JOIN (
         |    SELECT c.doc_id, string_agg(bm.s, '' ORDER BY c.j) AS pt
         |    FROM ${out}c c JOIN bmap bm ON bm.hx = c.hx
         |    GROUP BY c.doc_id) a USING (doc_id))""".stripMargin
    val prelude =
      s"""bmap AS MATERIALIZED (
         |  SELECT * FROM (VALUES $bmapRows) AS t(hx, s)),
         |${premap("documents", "text", "pm")},
         |""".stripMargin
    val chain = (1 to n).foldLeft(
      "regexp_replace('▁' || replace(pt, ' ', '▁'), " +
        "'(.)', ' \\1 ', 'g')") { (e, i) =>
      s"replace($e, ' ' || m$i.l || '  ' || m$i.r || ' ', " +
        s"' ' || m$i.l || m$i.r || ' ')"
    }
    val mJoins = (1 to n).map(i => s"m$i").mkString(", ")
    val mergeUnion = (1 to n).map(i =>
      s"SELECT l || r AS merged FROM m$i").mkString(" UNION ALL ")
    s"""${bpeLevels(n, "'▁' || replace(pt, ' ', ' ▁')", "pm", prelude)},
       |dd AS (SELECT doc_id,
       |    text || ' café 日本語 𝄞 ' || doc_id::VARCHAR AS text
       |  FROM documents),
       |${premap("dd", "text", "pm2")},
       |e AS (SELECT pm2.doc_id AS doc_id,
       |        replace(trim($chain), '  ', ' ') AS enc
       |      FROM pm2, $mJoins),
       |vocab AS MATERIALIZED (
       |  SELECT DISTINCT symbol FROM (
       |    SELECT s AS symbol FROM bmap
       |    UNION ALL SELECT '▁'
       |    UNION ALL $mergeUnion)),
       |p AS (SELECT doc_id, sym FROM (
       |    SELECT doc_id, unnest(string_split(enc, ' ')) AS sym FROM e)
       |  WHERE sym <> '')
       |SELECT p.doc_id, count(*)::BIGINT AS n_tokens_b,
       |  sum(CASE WHEN v.symbol IS NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_oov,
       |  round(sum(CASE WHEN v.symbol IS NULL THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*), 6) AS oov_ratio
       |FROM p LEFT JOIN vocab v ON v.symbol = p.sym
       |GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  private def d09Sql(bridge: Int): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
       |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
       |              FROM documents),
       |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
       |ti AS (SELECT doc_id, token,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS ti
       |       FROM t),
       |g0 AS (SELECT doc_id, ti,
       |         concat_ws(' ', token, lead(token,1) OVER w, lead(token,2) OVER w,
       |           lead(token,3) OVER w, lead(token,4) OVER w, lead(token,5) OVER w,
       |           lead(token,6) OVER w, lead(token,7) OVER w) AS g,
       |         lead(token,7) OVER w AS l7
       |       FROM ti WINDOW w AS (PARTITION BY doc_id ORDER BY ti)),
       |g AS (SELECT doc_id, ti, g FROM g0 WHERE l7 IS NOT NULL),
       |d AS (SELECT g, count(*)::BIGINT AS c FROM g GROUP BY 1 HAVING count(*) >= 2),
       |dup AS (SELECT g.doc_id, g.ti, d.c FROM g JOIN d USING (g)),
       |lagd AS (SELECT doc_id, ti, c,
       |           CASE WHEN ti <= lag(ti) OVER (PARTITION BY doc_id ORDER BY ti)
       |                        + 1 + $bridge
       |                THEN 0 ELSE 1 END AS brk
       |         FROM dup),
       |runs AS (SELECT doc_id, ti, c,
       |           sum(brk) OVER (PARTITION BY doc_id ORDER BY ti
       |             ROWS UNBOUNDED PRECEDING) AS run
       |         FROM lagd),
       |iv AS (SELECT doc_id, min(ti)::BIGINT AS span_start,
       |         (max(ti) + 7)::BIGINT AS span_end, min(c)::BIGINT AS twin_count
       |       FROM runs GROUP BY doc_id, run)
       |SELECT doc_id, span_start, span_end,
       |  (span_end - span_start + 1)::BIGINT AS span_tokens, twin_count
       |FROM iv WHERE span_end - span_start + 1 >= 20
       |ORDER BY doc_id, span_start""".stripMargin

  /** t19/t20 shared oracle: BM25 top-5 per query, Lucene idf
    * ln(1+(N−df+.5)/(df+.5)), k1=1.2 b=0.75 — query-term VALUES from
    * the same TextOps.Bm25Queries Seq, every double op in the same
    * order (libm-ulp absorbed by round 6; rank ties by doc_id). */
  private lazy val t19Sql: String = {
    val qvals = graft.text.TextOps.Bm25Queries.flatMap { case (qid, qt) =>
      qt.split(" ").filter(_.nonEmpty).distinct
        .map(t => s"($qid, '$t')")
    }.mkString(", ")
    s"""WITH q(query_id, token) AS (VALUES $qvals),
       |dlt AS (SELECT doc_id,
       |          len(regexp_extract_all(text, '[^ ]+'))::BIGINT AS dl
       |        FROM documents),
       |st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dlt),
       |toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
       |         FROM documents),
       |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM toks
       |       WHERE token <> '' GROUP BY 1, 2),
       |dfq AS (SELECT token, count(*)::BIGINT AS df
       |        FROM tf JOIN (SELECT DISTINCT token FROM q) qt USING (token)
       |        GROUP BY 1),
       |s AS (SELECT q.query_id, tf.doc_id,
       |        ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
       |          * tf.tf * (1.2 + 1.0)
       |          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dlt.dl / st.avgdl))
       |          AS part
       |      FROM tf JOIN dfq USING (token) JOIN q USING (token)
       |      JOIN dlt USING (doc_id) CROSS JOIN st),
       |g AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_hit,
       |        round(sum(part), 6) AS score FROM s GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, doc_id) AS rk FROM g)
       |SELECT query_id, doc_id, n_hit, score, rk::INT AS rk
       |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  private def o02fSql: String = {
    val nBinsChoices = Seq(5, 8, 10, 15)
    val smoothChoices = Seq(0.0, 0.2, 0.5)
    val seeds = Seq(1L, 2L, 3L, 4L)
    val earlyAfter = 2
    val margin = 1.3
    val configs = (for { nb <- nBinsChoices; sm <- smoothChoices }
      yield (nb, sm)).zipWithIndex
      .map { case ((nb, sm), i) =>
        s"($i, $nb, CAST($sm AS DOUBLE), ${math.round(sm * 10)})" }
      .mkString(", ")
    val probeIn = seeds.take(earlyAfter).mkString(", ")
    val restIn = seeds.drop(earlyAfter).mkString(", ")
    s"""WITH configs(config_id, n_bins, smooth, sm_key) AS (VALUES $configs),
       |seeds(seed) AS (VALUES ${seeds.mkString("(", "), (", ")")}),
       |scores AS (
       |  SELECT c.config_id, c.n_bins, c.smooth, s.seed,
       |    ${h64Sql("c.n_bins || '|' || c.sm_key || '|' || s.seed", "'o02'")}
       |      / 1152921504606846976.0 AS score
       |  FROM configs c CROSS JOIN seeds s),
       |probe AS (
       |  SELECT config_id, n_bins, smooth, sum(score) AS probe_sum
       |  FROM scores WHERE seed IN ($probeIn) GROUP BY 1, 2, 3),
       |best AS (SELECT min(probe_sum / ${earlyAfter.toDouble}) AS b FROM probe),
       |rest AS (
       |  SELECT sc.config_id, sum(sc.score) AS rest_sum,
       |    count(*) AS rest_n
       |  FROM scores sc JOIN probe p ON sc.config_id = p.config_id, best
       |  WHERE sc.seed IN ($restIn)
       |    AND p.probe_sum / ${earlyAfter.toDouble} <= best.b * $margin
       |  GROUP BY 1)
       |SELECT p.config_id, p.n_bins, p.smooth,
       |  round((p.probe_sum + coalesce(r.rest_sum, 0.0))
       |    / ($earlyAfter + coalesce(r.rest_n, 0)), 6) AS avg_score,
       |  ($earlyAfter + coalesce(r.rest_n, 0)) AS n_seeds,
       |  CASE WHEN r.config_id IS NULL THEN CAST(1 AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS early_stopped
       |FROM probe p LEFT JOIN rest r ON p.config_id = r.config_id
       |ORDER BY avg_score, p.config_id""".stripMargin
  }

  /** o01f: ONE (config, seed) sweep fitness —
    * [[graft.opt.LocalFitness.grasyndaWalk]] + compositeLite from
    * literal params (nBins=8, smooth=0.2, n=200, seed=5) over the first
    * 2000 per-user returns, replayed end to end: index-quantile edges
    * (sorted[round(i/8·(n−1))], order-stable distinct), digitize,
    * row-normalized transitions with uniform fallback, per-state sorted
    * pools, the java.util.Random walk (nextInt with BOTH the power-of-2
    * and rejection branches, nextDouble as two next() draws), the
    * smoothing recursion as a second 200-step recursive CTE, and the
    * JS(20-bin)/KS-merge/std-ratio/ac1-ratio composite. The KS merge's
    * prefix maximum equals the maximum over the sorted union ordered
    * (value, real-first): post-exhaustion prefixes only shrink the
    * running diff, so no cutoff is needed. Walk values are exact
    * (integer LCG + literal-double arithmetic); only the score column
    * carries aggregate-order float fuzz, absorbed by its r6. */
  private def o01fSql: String = {
    val seed0 = (5L ^ 0x5DEECE66DL) & ((1L << 48) - 1)
    val nBins = 8; val nGen = 200; val cap = 2000
    val oneMinus = (1.0 - 0.2).toString // the Scala (1.0 - smooth) double
    val smooth = 0.2.toString
    val idxs = (1 until nBins).map(i =>
      s"sl[floor(${i.toDouble / nBins}*(nn - 1) + 0.5)::INT + 1]").mkString(", ")
    s"""WITH RECURSIVE
       |d AS MATERIALIZED (SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, ret AS v
       |      FROM (SELECT ts, event_id, ret FROM ($perUserRets) x
       |            ORDER BY ts, event_id LIMIT $cap) r0),
       |n0 AS (SELECT count(*)::INT AS nn FROM d),
       |srt AS (SELECT list_sort(list(v)) AS sl FROM d),
       |e0 AS (SELECT list_sort(list_distinct([$idxs])) AS interior FROM srt, n0),
       |k0 AS (SELECT (len(interior)+1)::INT AS k FROM e0),
       |st AS MATERIALIZED (SELECT d.rn, d.v,
       |         len(list_filter(e0.interior, x -> x <= d.v))::INT AS state
       |       FROM d, e0),
       |states AS (SELECT unnest(generate_series(0, len(interior)))::INT AS state FROM e0),
       |tr AS (SELECT state, next_state, count(*)::BIGINT AS cnt FROM
       |        (SELECT state, lead(state) OVER (ORDER BY rn) AS next_state FROM st) x
       |       WHERE next_state IS NOT NULL GROUP BY state, next_state),
       |dp AS (SELECT s1.state, s2.state AS nxt, coalesce(tr.cnt, 0)::DOUBLE AS cnt
       |       FROM states s1 CROSS JOIN states s2
       |       LEFT JOIN tr ON tr.state = s1.state AND tr.next_state = s2.state),
       |rs AS (SELECT state, sum(cnt) AS tot FROM dp GROUP BY state),
       |tp AS (SELECT dp.state, dp.nxt,
       |         CASE WHEN rs.tot > 0 THEN dp.cnt / rs.tot
       |              ELSE 1.0 / (SELECT k FROM k0) END AS p
       |       FROM dp JOIN rs ON rs.state = dp.state),
       |tcum AS (
       |  SELECT state, 0 AS j, p AS acc FROM tp WHERE nxt = 0
       |  UNION ALL
       |  SELECT c.state, c.j + 1, c.acc + t.p
       |  FROM tcum c JOIN tp t ON t.state = c.state AND t.nxt = c.j + 1
       |  WHERE c.j + 1 <= (SELECT k FROM k0) - 2),
       |tcl AS (SELECT state, list(acc ORDER BY j) AS cl FROM tcum GROUP BY state),
       |tcll AS (SELECT list(cl ORDER BY state) AS tl FROM tcl),
       |po AS MATERIALIZED (SELECT state, list(v ORDER BY v) AS pool FROM st GROUP BY state),
       |pl AS (SELECT list(coalesce(ln0, 0) ORDER BY state) AS pls FROM (
       |         SELECT s.state, (SELECT len(pool) FROM po WHERE po.state = s.state) AS ln0
       |         FROM states s) z),
       |mp AS (SELECT min(state) AS ms FROM po),
       |sA AS (SELECT state AS st0 FROM st WHERE rn = 1),
       |walk AS (
       |  SELECT 0 AS it, CAST($seed0 AS HUGEINT) AS s, 0 AS phase,
       |         sA.st0 AS curstate, CAST(0 AS HUGEINT) AS hi, 0 AS nrets,
       |         tcll.tl AS tl, pl.pls AS pls, mp.ms AS ms,
       |         CAST(NULL AS INT) AS acc_step, CAST(NULL AS INT) AS acc_state,
       |         CAST(NULL AS INT) AS acc_r
       |  FROM tcll, pl, mp, sA
       |  UNION ALL
       |  SELECT it + 1, s2,
       |    CASE phase WHEN 0 THEN (CASE WHEN ok THEN 1 ELSE 0 END)
       |         WHEN 1 THEN 2 ELSE 0 END,
       |    CASE WHEN phase = 2
       |         THEN len(list_filter(tl[curstate + 1], c -> c <= u))::INT
       |         ELSE curstate END,
       |    CASE WHEN phase = 1 THEN s2 // 4194304 ELSE hi END,
       |    CASE WHEN phase = 0 AND ok THEN nrets + 1 ELSE nrets END,
       |    tl, pls, ms,
       |    CASE WHEN phase = 0 AND ok THEN nrets END,
       |    CASE WHEN phase = 0 AND ok THEN pk END,
       |    CASE WHEN phase = 0 AND ok THEN r::INT END
       |  FROM (
       |    SELECT w2.*,
       |      ((bnd & (-bnd)) = bnd
       |        OR (u31 - (u31 % bnd) + bnd - 1) <= 2147483647) AS ok,
       |      CASE WHEN (bnd & (-bnd)) = bnd
       |           THEN (bnd * u31) // 2147483648 ELSE u31 % bnd END AS r
       |    FROM (
       |      SELECT w1.*, s2 // 131072 AS u31,
       |        (hi * 134217728 + (s2 // 2097152)) / 9007199254740992.0 AS u,
       |        CASE WHEN pls[curstate + 1] > 0 THEN curstate ELSE ms END AS pk,
       |        pls[(CASE WHEN pls[curstate + 1] > 0 THEN curstate ELSE ms END) + 1] AS bnd
       |      FROM (SELECT walk.*,
       |              (s * 25214903917 + 11) % 281474976710656 AS s2
       |            FROM walk WHERE nrets < $nGen) w1) w2) w3),
       |accs AS MATERIALIZED (SELECT acc_step AS i, acc_state AS state, acc_r AS r
       |         FROM walk WHERE acc_step IS NOT NULL),
       |pv AS MATERIALIZED (SELECT a.i, po.pool[a.r + 1] AS pv
       |       FROM accs a JOIN po ON po.state = a.state),
       |sm0 AS (
       |  SELECT 0 AS i, ($oneMinus*pv + $smooth*pv) AS sv FROM pv WHERE i = 0
       |  UNION ALL
       |  SELECT p.i, $oneMinus*p.pv + $smooth*s.sv
       |  FROM sm0 s JOIN pv p ON p.i = s.i + 1),
       |sm AS MATERIALIZED (SELECT i, sv FROM sm0),
       |lohi AS (SELECT least((SELECT min(v) FROM d), (SELECT min(sv) FROM sm)) AS lo,
       |                greatest((SELECT max(v) FROM d), (SELECT max(sv) FROM sm)) AS hi),
       |bg AS (SELECT unnest(generate_series(0, 19)) AS b),
       |rcnt AS (SELECT least(floor(((v - lo)/(hi - lo + 1e-30))*20.0)::INT, 19) AS b,
       |                count(*) AS cnt
       |         FROM d, lohi GROUP BY 1),
       |scnt AS (SELECT least(floor(((sv - lo)/(hi - lo + 1e-30))*20.0)::INT, 19) AS b,
       |                count(*) AS cnt
       |         FROM sm, lohi GROUP BY 1),
       |rh AS (SELECT bg.b, coalesce(rcnt.cnt, 0)::DOUBLE / (SELECT count(*) FROM d) + 1e-10 AS h
       |       FROM bg LEFT JOIN rcnt USING (b)),
       |sh AS (SELECT bg.b, coalesce(scnt.cnt, 0)::DOUBLE / (SELECT count(*) FROM sm) + 1e-10 AS h
       |       FROM bg LEFT JOIN scnt USING (b)),
       |nrm AS (SELECT (SELECT sum(h) FROM rh) AS sr, (SELECT sum(h) FROM sh) AS ss),
       |js AS (SELECT sqrt(greatest(sum(
       |         0.5*(rh.h/sr)*ln((rh.h/sr)/(((rh.h/sr)+(sh.h/ss))/2))
       |       + 0.5*(sh.h/ss)*ln((sh.h/ss)/(((rh.h/sr)+(sh.h/ss))/2))), 0.0)) AS js
       |       FROM rh JOIN sh USING (b), nrm),
       |uni AS (SELECT v AS x, 0 AS side FROM d UNION ALL SELECT sv, 1 FROM sm),
       |kse AS (SELECT abs(
       |          (count(*) FILTER (WHERE side = 0) OVER w)::DOUBLE
       |            / (SELECT count(*) FROM d)
       |        - (count(*) FILTER (WHERE side = 1) OVER w)::DOUBLE
       |            / (SELECT count(*) FROM sm)) AS dd
       |        FROM uni
       |        WINDOW w AS (ORDER BY x, side ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |ks AS (SELECT max(dd) AS ks FROM kse),
       |rmom AS (SELECT avg(v) AS m FROM d),
       |rstd AS (SELECT sqrt(sum((v - m)*(v - m)) / count(*)) AS sd FROM d, rmom),
       |smom AS (SELECT avg(sv) AS m FROM sm),
       |sstd AS (SELECT sqrt(sum((sv - m)*(sv - m)) / count(*)) AS sd FROM sm, smom),
       |rac AS (SELECT CASE WHEN sum((v - m)*(v - m)) > 0
       |                 THEN sum((v - m)*(pv0 - m)) / sum((v - m)*(v - m))
       |                 ELSE 0.0 END AS ac
       |        FROM (SELECT v, lag(v) OVER (ORDER BY rn) AS pv0 FROM d) q, rmom),
       |sac AS (SELECT CASE WHEN sum((sv - m)*(sv - m)) > 0
       |                 THEN sum((sv - m)*(pv0 - m)) / sum((sv - m)*(sv - m))
       |                 ELSE 0.0 END AS ac
       |        FROM (SELECT sv, lag(sv) OVER (ORDER BY i) AS pv0 FROM sm) q, smom),
       |scr AS (SELECT (3.0*js.js + 2.0*ks.ks
       |         + 2.0*abs(sstd.sd / greatest(rstd.sd, 1e-12) - 1.0)
       |         + 2.0*(CASE WHEN abs(rac.ac) > 1e-6 THEN abs(sac.ac / rac.ac - 1.0)
       |                ELSE abs(sac.ac) END)) / 9.0 AS score
       |        FROM js, ks, rstd, sstd, rac, sac)
       |SELECT sm.i::INT AS i, round(sm.sv, 8) AS synth, round(scr.score, 6) AS score
       |FROM sm, scr ORDER BY i""".stripMargin
  }

  /** o01b: the o01fSql machine keyed PER SERIES — every CTE gains the
    * sid key (per-sid quantile fit, transitions, pools, the LCG walk —
    * seed scrambled per sid as `xor(5 + sid, 0x5DEECE66D) & mask`, all
    * series advancing simultaneously in one recursive machine, the
    * g02wb pattern — the smoothing recursion, and the composite-lite
    * score). Series with fewer than nBins·4 = 32 capped returns are
    * dropped (the Spark side's skip contract). */
  private def o01bSql: String = {
    val nBins = 8; val nGen = 200; val cap = 2000
    val oneMinus = (1.0 - 0.2).toString
    val smooth = 0.2.toString
    val idxs = (1 until nBins).map(i =>
      s"sl[floor(${i.toDouble / nBins}*(nn - 1) + 0.5)::INT + 1]").mkString(", ")
    s"""WITH RECURSIVE
       |d AS MATERIALIZED (SELECT sid, rn, v FROM (
       |      SELECT user_id::BIGINT AS sid,
       |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       |        ret AS v
       |      FROM ($perUserRets) x) t WHERE rn <= $cap),
       |n0 AS (SELECT sid, count(*)::INT AS nn FROM d GROUP BY sid
       |       HAVING count(*) >= ${nBins * 4}),
       |dq AS MATERIALIZED (SELECT d.* FROM d JOIN n0 USING (sid)),
       |srt AS (SELECT sid, list_sort(list(v)) AS sl FROM dq GROUP BY sid),
       |e0 AS (SELECT sid, list_sort(list_distinct([$idxs])) AS interior
       |       FROM srt JOIN n0 USING (sid)),
       |k0 AS (SELECT sid, (len(interior)+1)::INT AS k FROM e0),
       |st AS MATERIALIZED (SELECT dq.sid, dq.rn, dq.v,
       |         len(list_filter(e0.interior, x -> x <= dq.v))::INT AS state
       |       FROM dq JOIN e0 ON e0.sid = dq.sid),
       |states AS (SELECT sid, unnest(generate_series(0, len(interior)))::INT AS state
       |           FROM e0),
       |tr AS (SELECT sid, state, next_state, count(*)::BIGINT AS cnt FROM
       |        (SELECT sid, state,
       |           lead(state) OVER (PARTITION BY sid ORDER BY rn) AS next_state
       |         FROM st) x
       |       WHERE next_state IS NOT NULL GROUP BY sid, state, next_state),
       |dp AS (SELECT s1.sid, s1.state, s2.state AS nxt, coalesce(tr.cnt, 0)::DOUBLE AS cnt
       |       FROM states s1 JOIN states s2 ON s2.sid = s1.sid
       |       LEFT JOIN tr ON tr.sid = s1.sid AND tr.state = s1.state
       |         AND tr.next_state = s2.state),
       |rs AS (SELECT sid, state, sum(cnt) AS tot FROM dp GROUP BY sid, state),
       |tp AS (SELECT dp.sid, dp.state, dp.nxt,
       |         CASE WHEN rs.tot > 0 THEN dp.cnt / rs.tot
       |              ELSE 1.0 / k0.k END AS p
       |       FROM dp JOIN rs ON rs.sid = dp.sid AND rs.state = dp.state
       |       JOIN k0 ON k0.sid = dp.sid),
       |tcum AS (
       |  SELECT sid, state, 0 AS j, p AS acc FROM tp WHERE nxt = 0
       |  UNION ALL
       |  SELECT c.sid, c.state, c.j + 1, c.acc + t.p
       |  FROM tcum c
       |  JOIN tp t ON t.sid = c.sid AND t.state = c.state AND t.nxt = c.j + 1
       |  JOIN k0 ON k0.sid = c.sid
       |  WHERE c.j + 1 <= k0.k - 2),
       |tcl AS (SELECT sid, state, list(acc ORDER BY j) AS cl FROM tcum
       |        GROUP BY sid, state),
       |tcll AS (SELECT sid, list(cl ORDER BY state) AS tl FROM tcl GROUP BY sid),
       |po AS MATERIALIZED (SELECT sid, state, list(v ORDER BY v) AS pool FROM st
       |      GROUP BY sid, state),
       |pl AS (SELECT sid, list(coalesce(ln0, 0) ORDER BY state) AS pls FROM (
       |         SELECT s.sid, s.state,
       |           (SELECT len(pool) FROM po
       |            WHERE po.sid = s.sid AND po.state = s.state) AS ln0
       |         FROM states s) z GROUP BY sid),
       |mp AS (SELECT sid, min(state) AS ms FROM po GROUP BY sid),
       |sA AS (SELECT sid, state AS st0 FROM st WHERE rn = 1),
       |walk AS (
       |  SELECT tcll.sid, 0 AS it,
       |         CAST(xor(5 + tcll.sid, 25214903917) & 281474976710655 AS HUGEINT) AS s,
       |         0 AS phase, sA.st0 AS curstate, CAST(0 AS HUGEINT) AS hi, 0 AS nrets,
       |         tcll.tl AS tl, pl.pls AS pls, mp.ms AS ms,
       |         CAST(NULL AS INT) AS acc_step, CAST(NULL AS INT) AS acc_state,
       |         CAST(NULL AS INT) AS acc_r
       |  FROM tcll
       |  JOIN pl ON pl.sid = tcll.sid
       |  JOIN mp ON mp.sid = tcll.sid
       |  JOIN sA ON sA.sid = tcll.sid
       |  UNION ALL
       |  SELECT sid, it + 1, s2,
       |    CASE phase WHEN 0 THEN (CASE WHEN ok THEN 1 ELSE 0 END)
       |         WHEN 1 THEN 2 ELSE 0 END,
       |    CASE WHEN phase = 2
       |         THEN len(list_filter(tl[curstate + 1], c -> c <= u))::INT
       |         ELSE curstate END,
       |    CASE WHEN phase = 1 THEN s2 // 4194304 ELSE hi END,
       |    CASE WHEN phase = 0 AND ok THEN nrets + 1 ELSE nrets END,
       |    tl, pls, ms,
       |    CASE WHEN phase = 0 AND ok THEN nrets END,
       |    CASE WHEN phase = 0 AND ok THEN pk END,
       |    CASE WHEN phase = 0 AND ok THEN r::INT END
       |  FROM (
       |    SELECT w2.*,
       |      ((bnd & (-bnd)) = bnd
       |        OR (u31 - (u31 % bnd) + bnd - 1) <= 2147483647) AS ok,
       |      CASE WHEN (bnd & (-bnd)) = bnd
       |           THEN (bnd * u31) // 2147483648 ELSE u31 % bnd END AS r
       |    FROM (
       |      SELECT w1.*, s2 // 131072 AS u31,
       |        (hi * 134217728 + (s2 // 2097152)) / 9007199254740992.0 AS u,
       |        CASE WHEN pls[curstate + 1] > 0 THEN curstate ELSE ms END AS pk,
       |        pls[(CASE WHEN pls[curstate + 1] > 0 THEN curstate ELSE ms END) + 1] AS bnd
       |      FROM (SELECT walk.*,
       |              (s * 25214903917 + 11) % 281474976710656 AS s2
       |            FROM walk WHERE nrets < $nGen) w1) w2) w3),
       |accs AS MATERIALIZED (SELECT sid, acc_step AS i, acc_state AS state, acc_r AS r
       |         FROM walk WHERE acc_step IS NOT NULL),
       |pv AS MATERIALIZED (SELECT a.sid, a.i, po.pool[a.r + 1] AS pv
       |       FROM accs a JOIN po ON po.sid = a.sid AND po.state = a.state),
       |sm0 AS (
       |  SELECT sid, 0 AS i, ($oneMinus*pv + $smooth*pv) AS sv FROM pv WHERE i = 0
       |  UNION ALL
       |  SELECT p.sid, p.i, $oneMinus*p.pv + $smooth*s.sv
       |  FROM sm0 s JOIN pv p ON p.sid = s.sid AND p.i = s.i + 1),
       |sm AS MATERIALIZED (SELECT sid, i, sv FROM sm0),
       |dn AS (SELECT sid, count(*) AS cnt FROM dq GROUP BY sid),
       |sn AS (SELECT sid, count(*) AS cnt FROM sm GROUP BY sid),
       |lohi AS (SELECT q.sid, least(q.mn, s.mn) AS lo, greatest(q.mx, s.mx) AS hi
       |         FROM (SELECT sid, min(v) AS mn, max(v) AS mx FROM dq GROUP BY sid) q
       |         JOIN (SELECT sid, min(sv) AS mn, max(sv) AS mx FROM sm GROUP BY sid) s
       |         USING (sid)),
       |bg AS (SELECT sid, unnest(generate_series(0, 19)) AS b FROM n0),
       |rcnt AS (SELECT dq.sid, least(floor(((v - lo)/(hi - lo + 1e-30))*20.0)::INT, 19) AS b,
       |                count(*) AS cnt
       |         FROM dq JOIN lohi ON lohi.sid = dq.sid GROUP BY 1, 2),
       |scnt AS (SELECT sm.sid, least(floor(((sv - lo)/(hi - lo + 1e-30))*20.0)::INT, 19) AS b,
       |                count(*) AS cnt
       |         FROM sm JOIN lohi ON lohi.sid = sm.sid GROUP BY 1, 2),
       |rh AS (SELECT bg.sid, bg.b, coalesce(rcnt.cnt, 0)::DOUBLE / dn.cnt + 1e-10 AS h
       |       FROM bg JOIN dn USING (sid)
       |       LEFT JOIN rcnt ON rcnt.sid = bg.sid AND rcnt.b = bg.b),
       |sh AS (SELECT bg.sid, bg.b, coalesce(scnt.cnt, 0)::DOUBLE / sn.cnt + 1e-10 AS h
       |       FROM bg JOIN sn USING (sid)
       |       LEFT JOIN scnt ON scnt.sid = bg.sid AND scnt.b = bg.b),
       |nrm AS (SELECT r.sid, r.sr, s.ss FROM
       |          (SELECT sid, sum(h) AS sr FROM rh GROUP BY sid) r
       |          JOIN (SELECT sid, sum(h) AS ss FROM sh GROUP BY sid) s USING (sid)),
       |js AS (SELECT rh.sid, sqrt(greatest(sum(
       |         0.5*(rh.h/sr)*ln((rh.h/sr)/(((rh.h/sr)+(sh.h/ss))/2))
       |       + 0.5*(sh.h/ss)*ln((sh.h/ss)/(((rh.h/sr)+(sh.h/ss))/2))), 0.0)) AS js
       |       FROM rh JOIN sh ON sh.sid = rh.sid AND sh.b = rh.b
       |       JOIN nrm ON nrm.sid = rh.sid
       |       GROUP BY rh.sid),
       |uni AS (SELECT sid, v AS x, 0 AS side FROM dq
       |        UNION ALL SELECT sid, sv, 1 FROM sm),
       |kse AS (SELECT u.sid, abs(
       |          (count(*) FILTER (WHERE side = 0) OVER w)::DOUBLE / dn.cnt
       |        - (count(*) FILTER (WHERE side = 1) OVER w)::DOUBLE / sn.cnt) AS dd
       |        FROM uni u JOIN dn ON dn.sid = u.sid JOIN sn ON sn.sid = u.sid
       |        WINDOW w AS (PARTITION BY u.sid ORDER BY x, side
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |ks AS (SELECT sid, max(dd) AS ks FROM kse GROUP BY sid),
       |rmom AS (SELECT sid, avg(v) AS m FROM dq GROUP BY sid),
       |rstd AS (SELECT d2.sid, sqrt(sum((v - m)*(v - m)) / count(*)) AS sd
       |         FROM dq d2 JOIN rmom ON rmom.sid = d2.sid GROUP BY d2.sid),
       |smom AS (SELECT sid, avg(sv) AS m FROM sm GROUP BY sid),
       |sstd AS (SELECT s2.sid, sqrt(sum((sv - m)*(sv - m)) / count(*)) AS sd
       |         FROM sm s2 JOIN smom ON smom.sid = s2.sid GROUP BY s2.sid),
       |rac AS (SELECT q.sid, CASE WHEN sum((v - m)*(v - m)) > 0
       |                 THEN sum((v - m)*(pv0 - m)) / sum((v - m)*(v - m))
       |                 ELSE 0.0 END AS ac
       |        FROM (SELECT sid, v,
       |                lag(v) OVER (PARTITION BY sid ORDER BY rn) AS pv0 FROM dq) q
       |        JOIN rmom ON rmom.sid = q.sid GROUP BY q.sid),
       |sac AS (SELECT q.sid, CASE WHEN sum((sv - m)*(sv - m)) > 0
       |                 THEN sum((sv - m)*(pv0 - m)) / sum((sv - m)*(sv - m))
       |                 ELSE 0.0 END AS ac
       |        FROM (SELECT sid, sv,
       |                lag(sv) OVER (PARTITION BY sid ORDER BY i) AS pv0 FROM sm) q
       |        JOIN smom ON smom.sid = q.sid GROUP BY q.sid),
       |scr AS (SELECT js.sid, (3.0*js.js + 2.0*ks.ks
       |         + 2.0*abs(sstd.sd / greatest(rstd.sd, 1e-12) - 1.0)
       |         + 2.0*(CASE WHEN abs(rac.ac) > 1e-6 THEN abs(sac.ac / rac.ac - 1.0)
       |                ELSE abs(sac.ac) END)) / 9.0 AS score
       |        FROM js JOIN ks USING (sid) JOIN rstd USING (sid)
       |        JOIN sstd USING (sid) JOIN rac USING (sid) JOIN sac USING (sid))
       |SELECT sm.sid AS user_id, sm.i::INT AS i, round(sm.sv, 8) AS synth,
       |  round(scr.score, 6) AS score
       |FROM sm JOIN scr ON scr.sid = sm.sid ORDER BY user_id, i""".stripMargin
  }

  /** g06t: ONE VAE gradient step ([[graft.train.VaeTrainer.vaeStep]] —
    * encoder forward, reparametrization with the literal ε batch,
    * recon(MSE) + KL + MMD gradients, full backward, t=1 Adam; the first
    * leg of vae_gan_trainer.py:220-262's 3-step loop body) over the
    * literal [[graft.WitnessFixtures.G06t]] layers and batch, replayed
    * end to end — including the γ = 1/(mean pairwise ‖x−x′‖² + 1e-8)
    * heuristic and the pairwise Gaussian-kernel MMD gradient
    * (vae_gan_trainer.py:131-139). Same single-row MATERIALIZED CTE
    * discipline and exact term association as g07t/g08t: bias-first dot
    * products, left-assoc accumulation in the Scala loop order (batch
    * rows for kernel grads, j-then-i for the MMD pair sums), Adam as
    * w − lr·(m/c₁)/(√(v/c₂)+ε). tanh via [[tanhSql]] (~2 ulp, absorbed
    * by the r8/r10 rounding). */
  private def g06tSql: String = {
    val f = graft.WitnessFixtures.G06t
    val (enc1, encMu, encLv, dec1, dec2) = f.layers() // fresh = initial weights
    val n = f.Batch; val ws = f.Ws; val hid = f.Hidden; val ld = f.Ld
    val rs = 0 until n
    val lr = f.Lr.toString; val eps = "1.0E-8"
    val b1c = (1 - 0.9).toString // the Dense.adam default β₁ path
    val c1 = (1.0 - math.pow(0.9, 1)).toString
    val b2c = (1 - 0.999).toString
    val c2 = (1.0 - math.pow(0.999, 1)).toString
    val klW = f.KlW.toString; val lam = f.MmdLambda.toString
    val nws = (n * ws).toDouble.toString // 18.0 — the Int n*ws promoted
    val nld = (n * ld).toDouble.toString // 6.0
    val nn = (n.toDouble * n).toString   // 9.0
    def dl(x: Double) = s"($x::DOUBLE)"
    def nest(rows: Seq[Seq[String]]) =
      rows.map(_.mkString("[", ",\n      ", "]")).mkString("[", ",\n     ", "]")
    def flat(xs: Seq[String]) = xs.mkString("[", ",\n     ", "]")
    def el(c: String, r: Int, o: Int) = s"$c[${r + 1}][${o + 1}]"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    var prev = "q0"
    ctes += "q0 AS MATERIALIZED (SELECT 1 AS one)"
    def add(cols: (String, String)*): Unit = {
      val name = s"q${ctes.length}"
      ctes += s"$name AS MATERIALIZED (SELECT *, " +
        cols.map { case (nm, e) => s"$e AS $nm" }.mkString(",\n  ") + s" FROM $prev)"
      prev = name
    }
    // affine forward: bias-first accumulation like Dense.forward
    def affL(w: Array[Array[Double]], b: Array[Double],
             in: (Int, Int) => String) =
      nest(rs.map(r => w.indices.map(o =>
        (Seq(dl(b(o))) ++
          w(o).indices.map(i => s"${dl(w(o)(i))}*(${in(r, i)})")).mkString(" + "))))
    def affR(w: Array[Array[Double]], b: Array[Double], c: String) =
      affL(w, b, (r, i) => el(c, r, i))
    def tanhN(c: String, u: Int) =
      nest(rs.map(r => (0 until u).map(o => tanhSql(el(c, r, o)))))
    // Adam t=1 from zero state; β₁=0.9 (the VAE step's default)
    def adam(w0: Double, g: String) = {
      val m = s"(0.9*0.0 + $b1c*($g))"
      val v = s"(0.999*0.0 + $b2c*($g)*($g))"
      s"((${dl(w0)}) - $lr*(($m)/($c1))/(sqrt(($v)/($c2)) + $eps))"
    }
    def adamW(w: Array[Array[Double]], gRef: String) =
      nest(w.indices.map(o => w(o).indices.map(i =>
        adam(w(o)(i), s"$gRef[${o + 1}][${i + 1}]"))))
    def adamB(b: Array[Double], gRef: String) =
      flat(b.indices.map(o => adam(b(o), s"$gRef[${o + 1}]")))

    // ── encoder forward ──
    add("ep1" -> affL(enc1.w, enc1.b, (r, i) => f.X(r)(i).toString))
    add("eh1" -> tanhN("ep1", hid))
    add("emu" -> affR(encMu.w, encMu.b, "eh1"), // linear heads: out = pre
      "elv" -> affR(encLv.w, encLv.b, "eh1"))
    // ── reparametrize with the literal ε: z = μ + exp(0.5·logvar)·ε ──
    add("zz" -> nest(rs.map(r => (0 until ld).map(j =>
      s"${el("emu", r, j)} + exp(0.5*${el("elv", r, j)})*${dl(f.Eps(r)(j))}"))))
    // ── decoder forward ──
    add("dp1" -> affR(dec1.w, dec1.b, "zz"))
    add("dh1" -> tanhN("dp1", hid))
    add("rec" -> affR(dec2.w, dec2.b, "dh1"))
    // ── γ heuristic over the literal real batch (i-then-j pair order,
    //    left-assoc within each squared distance — the Scala loops) ──
    add("gam" -> {
      val pairs = for (i <- rs; j <- rs) yield
        "(" + (0 until ws).map(t =>
          s"(${dl(f.X(i)(t))} - ${dl(f.X(j)(t))})*(${dl(f.X(i)(t))} - ${dl(f.X(j)(t))})")
          .mkString(" + ") + ")"
      s"1.0/((${pairs.mkString(" + ")})/$nn + 1.0E-8)"
    })
    // ── recon-MSE gradient: 2(rec−x)/(n·ws) ──
    add("gr0" -> nest(rs.map(r => (0 until ws).map(j =>
      s"2.0*(${el("rec", r, j)} - ${dl(f.X(r)(j))})/$nws"))))
    // ── pairwise kernels for the MMD gradient ──
    add("syy" -> nest(rs.map(a => rs.map(j =>
      (0 until ws).map(t =>
        s"(${el("rec", a, t)} - ${el("rec", j, t)})*(${el("rec", a, t)} - ${el("rec", j, t)})")
        .mkString(" + ")))),
      "sxy" -> nest(rs.map(i => rs.map(a =>
        (0 until ws).map(t =>
          s"(${dl(f.X(i)(t))} - ${el("rec", a, t)})*(${dl(f.X(i)(t))} - ${el("rec", a, t)})")
          .mkString(" + ")))))
    add("kyy" -> nest(rs.map(a => rs.map(j =>
      s"exp((-gam)*${el("syy", a, j)})"))),
      "kxy" -> nest(rs.map(i => rs.map(a =>
        s"exp((-gam)*${el("sxy", i, a)})"))))
    // ── MMD gradient wrt rec: −4γ/B²·Σ_j k·(y_a−y_j) + 4γ/B²·Σ_i k·(y_a−x_i),
    //    j-terms then i-terms in one left-assoc chain (the Scala order) ──
    add("gmm" -> nest(rs.map(a => (0 until ws).map(t => (
      rs.map(j =>
        s"(((-4.0*gam)/$nn)*${el("kyy", a, j)})*(${el("rec", a, t)} - ${el("rec", j, t)})") ++
      rs.map(i =>
        s"(((4.0*gam)/$nn)*${el("kxy", i, a)})*(${el("rec", a, t)} - ${dl(f.X(i)(t))})"))
      .mkString(" + ")))))
    add("grc" -> nest(rs.map(r => (0 until ws).map(j =>
      s"${el("gr0", r, j)} + $lam*${el("gmm", r, j)}"))))
    // ── backward dec2 (linear head: delta = grc) ──
    add("ghd1" -> nest(rs.map(r => (0 until hid).map(i =>
      (0 until ws).map(o => s"${el("grc", r, o)}*${dl(dec2.w(o)(i))}").mkString(" + ")))),
      "gwd2" -> nest((0 until ws).map(o => (0 until hid).map(i =>
        rs.map(r => s"${el("grc", r, o)}*${el("dh1", r, i)}").mkString(" + ")))),
      "gbd2" -> flat((0 until ws).map(o =>
        rs.map(r => el("grc", r, o)).mkString(" + "))))
    // ── backward dec1 (tanh): delta = ghd1·(1−dh1²) ──
    add("dd1" -> nest(rs.map(r => (0 until hid).map(o =>
      s"${el("ghd1", r, o)}*(1.0 - ${el("dh1", r, o)}*${el("dh1", r, o)})"))))
    add("gz" -> nest(rs.map(r => (0 until ld).map(i =>
      (0 until hid).map(o => s"${el("dd1", r, o)}*${dl(dec1.w(o)(i))}").mkString(" + ")))),
      "gwd1" -> nest((0 until hid).map(o => (0 until ld).map(i =>
        rs.map(r => s"${el("dd1", r, o)}*${el("zz", r, i)}").mkString(" + ")))),
      "gbd1" -> flat((0 until hid).map(o =>
        rs.map(r => el("dd1", r, o)).mkString(" + "))))
    // ── μ / logvar gradients with the KL terms ──
    add("gmu" -> nest(rs.map(r => (0 until ld).map(j =>
      s"${el("gz", r, j)} + $klW*(${el("emu", r, j)}/$nld)"))),
      "glv" -> nest(rs.map(r => (0 until ld).map(j =>
        s"${el("gz", r, j)}*${dl(f.Eps(r)(j))}*0.5*exp(0.5*${el("elv", r, j)})" +
          s" + $klW*((-0.5*(1.0 - exp(${el("elv", r, j)})))/$nld)"))))
    // ── backward the two linear heads into the shared hidden ──
    add("ghea" -> nest(rs.map(r => (0 until hid).map(i =>
      (0 until ld).map(o => s"${el("gmu", r, o)}*${dl(encMu.w(o)(i))}").mkString(" + ")))),
      "gheb" -> nest(rs.map(r => (0 until hid).map(i =>
        (0 until ld).map(o => s"${el("glv", r, o)}*${dl(encLv.w(o)(i))}").mkString(" + ")))),
      "gwmu" -> nest((0 until ld).map(o => (0 until hid).map(i =>
        rs.map(r => s"${el("gmu", r, o)}*${el("eh1", r, i)}").mkString(" + ")))),
      "gbmu" -> flat((0 until ld).map(o =>
        rs.map(r => el("gmu", r, o)).mkString(" + "))),
      "gwlv" -> nest((0 until ld).map(o => (0 until hid).map(i =>
        rs.map(r => s"${el("glv", r, o)}*${el("eh1", r, i)}").mkString(" + ")))),
      "gblv" -> flat((0 until ld).map(o =>
        rs.map(r => el("glv", r, o)).mkString(" + "))))
    add("ghe" -> nest(rs.map(r => (0 until hid).map(i =>
      s"${el("ghea", r, i)} + ${el("gheb", r, i)}"))))
    // ── backward enc1 (tanh) ──
    add("de1" -> nest(rs.map(r => (0 until hid).map(o =>
      s"${el("ghe", r, o)}*(1.0 - ${el("eh1", r, o)}*${el("eh1", r, o)})"))))
    add("gwe1" -> nest((0 until hid).map(o => (0 until ws).map(i =>
      rs.map(r => s"${el("de1", r, o)}*${dl(f.X(r)(i))}").mkString(" + ")))),
      "gbe1" -> flat((0 until hid).map(o =>
        rs.map(r => el("de1", r, o)).mkString(" + "))))
    // ── Adam: updated params for all five layers ──
    add(
      "uwe1" -> adamW(enc1.w, "gwe1"), "ube1" -> adamB(enc1.b, "gbe1"),
      "uwmu" -> adamW(encMu.w, "gwmu"), "ubmu" -> adamB(encMu.b, "gbmu"),
      "uwlv" -> adamW(encLv.w, "gwlv"), "ublv" -> adamB(encLv.b, "gblv"),
      "uwd1" -> adamW(dec1.w, "gwd1"), "ubd1" -> adamB(dec1.b, "gbd1"),
      "uwd2" -> adamW(dec2.w, "gwd2"), "ubd2" -> adamB(dec2.b, "gbd2"))

    // ── unpivot every updated parameter (+ delta vs the literal init) ──
    val layers = Seq(
      ("enc1", enc1, "uwe1", "ube1"), ("encMu", encMu, "uwmu", "ubmu"),
      ("encLv", encLv, "uwlv", "ublv"), ("dec1", dec1, "uwd1", "ubd1"),
      ("dec2", dec2, "uwd2", "ubd2"))
    val outRows = layers.flatMap { case (nm, l, wr, br) =>
      val wRows = for (o <- l.w.indices; i <- l.w(o).indices) yield
        s"SELECT '$nm' AS layer, $o AS o, $i AS i, " +
          s"round($wr[${o + 1}][${i + 1}], 8) + 0.0 AS v, " +
          s"round($wr[${o + 1}][${i + 1}] - ${dl(l.w(o)(i))}, 10) + 0.0 AS dv FROM $prev"
      val bRows = l.b.indices.map(o =>
        s"SELECT '$nm', $o, -1, round($br[${o + 1}], 8) + 0.0, " +
          s"round($br[${o + 1}] - ${dl(l.b(o))}, 10) + 0.0 FROM $prev")
      wRows ++ bRows
    }
    s"""WITH ${ctes.mkString(",\n")}
       |${outRows.mkString("\nUNION ALL\n")}
       |ORDER BY layer, o, i""".stripMargin
  }

  /** g08t: ONE phase-2 supervised TimeGAN step
    * ([[graft.train.TimeGanTrainer.supervisedStep]] — frozen-embedder
    * forward, supervisor GRU forward, L1 next-step loss grad,
    * full BPTT through the supervisor GRU + sigmoid head, and the t=1
    * Adam update for all 11 parameter tensors) over the literal
    * [[graft.WitnessFixtures.G08t]] nets and window. Same single-row
    * MATERIALIZED CTE discipline as g07t; every accumulation preserves
    * the Scala loop order (head grads t-ascending, BPTT grads
    * t-DESCENDING, dhPrev's base + dRh·r + per-gate o-interleaved
    * terms). */
  private def g08tSql: String = {
    val fx = graft.WitnessFixtures.G08t
    val (emb, sup) = fx.nets()
    val h = fx.H; val tn = fx.T
    val eg = emb.grus.head; val ehd = emb.head
    val sg = sup.grus.head; val shd = sup.head
    val lr = "(0.001::DOUBLE)"; val eps = "1.0E-8"
    val scale = (1.0 / (1 * (tn - 1) * h)).toString
    val c1 = (1.0 - math.pow(0.9, 1)).toString
    val c2 = (1.0 - math.pow(0.999, 1)).toString
    val b1c = (1 - 0.9).toString
    val b2c = (1 - 0.999).toString
    def dl(x: Double) = s"($x::DOUBLE)"
    def sig(x: String) = s"1.0/(1.0 + exp(-($x)))"
    val hsI = 0 until h
    def fl(xs: Seq[String]) = xs.mkString("[", ",\n     ", "]")
    def nst(rows: Seq[Seq[String]]) =
      rows.map(_.mkString("[", ",\n      ", "]")).mkString("[", ",\n     ", "]")
    def e1(c: String, i: Int) = s"$c[${i + 1}]"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    var prev = "p0"
    ctes += "p0 AS MATERIALIZED (SELECT 1 AS one)"
    def add(cols: (String, String)*): Unit = {
      val name = s"p${ctes.length}"
      ctes += s"$name AS MATERIALIZED (SELECT *, " +
        cols.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ") + s" FROM $prev)"
      prev = name
    }
    /** Σ_j w(i)(j)·x_j with the 0-started left-assoc mv() fold. */
    def mv(w: Array[Array[Double]], i: Int, xf: Int => String) =
      w(i).indices.map(j => s"${dl(w(i)(j))}*${xf(j)}").mkString(" + ")

    // GRU forward over one sequence: emits z/r/rh/c/h columns per t.
    // in(t, j) gives the input element, hp(t, j) the previous hidden.
    def gruFwd(tag: String, g: graft.train.TimeGanTrainer.TGru,
               in: (Int, Int) => String): Unit = {
      for (t <- 0 until tn) {
        def hp(j: Int) = if (t == 0) "0.0" else e1(s"${tag}h${t - 1}", j)
        add(s"${tag}z$t" -> fl(hsI.map(i => sig(
          s"${mv(g.wz.v, i, j => in(t, j))} + (${mv(g.uz.v, i, hp)}) + ${dl(g.bz.v(i)(0))}"))))
        add(s"${tag}r$t" -> fl(hsI.map(i => sig(
          s"${mv(g.wr.v, i, j => in(t, j))} + (${mv(g.ur.v, i, hp)}) + ${dl(g.br.v(i)(0))}"))))
        add(s"${tag}rh$t" -> fl(hsI.map(i =>
          s"${e1(s"${tag}r$t", i)}*${hp(i)}")))
        add(s"${tag}c$t" -> fl(hsI.map(i => tanhSql(
          s"${mv(g.wh.v, i, j => in(t, j))} + (${mv(g.uh.v, i, j => e1(s"${tag}rh$t", j))}) + ${dl(g.bh.v(i)(0))}"))))
        add(s"${tag}h$t" -> fl(hsI.map(i =>
          s"(1.0 - ${e1(s"${tag}z$t", i)})*${hp(i)} + ${e1(s"${tag}z$t", i)}*${e1(s"${tag}c$t", i)}")))
      }
    }
    // sigmoid head per t over the given hidden columns
    def headFwd(tag: String, hd: graft.train.TimeGanTrainer.THead,
                hCol: Int => String): Unit =
      for (t <- 0 until tn)
        add(s"${tag}o$t" -> fl(hsI.map(o => sig(
          (Seq(dl(hd.b.v(o)(0))) ++
            hd.w.v(o).indices.map(i => s"${dl(hd.w.v(o)(i))}*${e1(hCol(t), i)}"))
            .mkString(" + ")))))

    // ── embedder forward (frozen) over the literal window ──
    gruFwd("e", eg, (t, _) => dl(fx.X(t)(0)))
    headFwd("e", ehd, t => s"eh$t")
    // ── supervisor forward over the embedder head outputs ──
    gruFwd("s", sg, (t, j) => e1(s"eo$t", j))
    headFwd("s", shd, t => s"sh$t")
    // ── L1 next-step loss grad wrt hHat (zero at the last step) ──
    for (t <- 0 until tn)
      add(s"gh$t" -> fl(hsI.map(j =>
        if (t == tn - 1) "0.0::DOUBLE"
        else s"sign(${e1(s"so$t", j)} - ${e1(s"eo${t + 1}", j)})*${dl(scale.toDouble)}")))
    // ── head backward (t ASCENDING accumulation) ──
    for (t <- 0 until tn)
      add(s"hdd$t" -> fl(hsI.map(o =>
        s"${e1(s"gh$t", o)}*${e1(s"so$t", o)}*(1.0 - ${e1(s"so$t", o)})")))
    add(
      "hwg" -> nst(hsI.map(o => hsI.map(i =>
        (0 until tn).map(t => s"${e1(s"hdd$t", o)}*${e1(s"sh$t", i)}").mkString(" + ")))),
      "hbg" -> fl(hsI.map(o =>
        (0 until tn).map(t => e1(s"hdd$t", o)).mkString(" + "))))
    for (t <- 0 until tn)
      add(s"dH$t" -> fl(hsI.map(i =>
        hsI.map(o => s"${e1(s"hdd$t", o)}*${dl(shd.w.v(o)(i))}").mkString(" + "))))
    // ── BPTT t = T−1 .. 0 ──
    add(s"carry$tn" -> fl(hsI.map(_ => "0.0::DOUBLE")))
    for (t <- tn - 1 to 0 by -1) {
      def hp(j: Int) = if (t == 0) "0.0" else e1(s"sh${t - 1}", j)
      add(s"dall$t" -> fl(hsI.map(i =>
        s"${e1(s"dH$t", i)} + ${e1(s"carry${t + 1}", i)}")))
      add(
        s"dz$t" -> fl(hsI.map(i =>
          s"${e1(s"dall$t", i)}*(${e1(s"sc$t", i)} - ${hp(i)})")),
        s"dc$t" -> fl(hsI.map(i =>
          s"${e1(s"dall$t", i)}*${e1(s"sz$t", i)}")))
      add(s"dac$t" -> fl(hsI.map(i =>
        s"${e1(s"dc$t", i)}*(1.0 - ${e1(s"sc$t", i)}*${e1(s"sc$t", i)})")))
      add(s"dRh$t" -> fl(hsI.map(i =>
        hsI.map(o => s"${e1(s"dac$t", o)}*${dl(sg.uh.v(o)(i))}").mkString(" + "))))
      add(s"dr$t" -> fl(hsI.map(i =>
        s"${e1(s"dRh$t", i)}*${hp(i)}")))
      add(
        s"daz$t" -> fl(hsI.map(i =>
          s"${e1(s"dz$t", i)}*${e1(s"sz$t", i)}*(1.0 - ${e1(s"sz$t", i)})")),
        s"dar$t" -> fl(hsI.map(i =>
          s"${e1(s"dr$t", i)}*${e1(s"sr$t", i)}*(1.0 - ${e1(s"sr$t", i)})")))
      // dhPrev: base + dRh·r + per-gate o-interleaved uz/ur terms
      add(s"carry$t" -> fl(hsI.map(i =>
        (Seq(s"${e1(s"dall$t", i)}*(1.0 - ${e1(s"sz$t", i)})",
          s"${e1(s"dRh$t", i)}*${e1(s"sr$t", i)}") ++
          hsI.flatMap(o => Seq(
            s"${e1(s"daz$t", o)}*${dl(sg.uz.v(o)(i))}",
            s"${e1(s"dar$t", o)}*${dl(sg.ur.v(o)(i))}")))
          .mkString(" + "))))
    }
    // ── GRU gradients (t-DESCENDING accumulation, the BPTT order) ──
    val tsDesc = (tn - 1) to 0 by -1
    def hpRef(t: Int, j: Int) = if (t == 0) "0.0" else e1(s"sh${t - 1}", j)
    add(
      "gwz" -> nst(hsI.map(o => hsI.map(i =>
        tsDesc.map(t => s"${e1(s"daz$t", o)}*${e1(s"eo$t", i)}").mkString(" + ")))),
      "gwr" -> nst(hsI.map(o => hsI.map(i =>
        tsDesc.map(t => s"${e1(s"dar$t", o)}*${e1(s"eo$t", i)}").mkString(" + ")))),
      "gwh" -> nst(hsI.map(o => hsI.map(i =>
        tsDesc.map(t => s"${e1(s"dac$t", o)}*${e1(s"eo$t", i)}").mkString(" + ")))),
      "guz" -> nst(hsI.map(o => hsI.map(i =>
        tsDesc.map(t => s"${e1(s"daz$t", o)}*${hpRef(t, i)}").mkString(" + ")))),
      "gur" -> nst(hsI.map(o => hsI.map(i =>
        tsDesc.map(t => s"${e1(s"dar$t", o)}*${hpRef(t, i)}").mkString(" + ")))),
      "guh" -> nst(hsI.map(o => hsI.map(i =>
        tsDesc.map(t =>
          s"${e1(s"dac$t", o)}*(${e1(s"sr$t", i)}*${hpRef(t, i)})").mkString(" + ")))),
      "gbz" -> fl(hsI.map(o =>
        tsDesc.map(t => e1(s"daz$t", o)).mkString(" + "))),
      "gbr" -> fl(hsI.map(o =>
        tsDesc.map(t => e1(s"dar$t", o)).mkString(" + "))),
      "gbh" -> fl(hsI.map(o =>
        tsDesc.map(t => e1(s"dac$t", o)).mkString(" + "))))
    // ── Adam t=1 (β₁=0.9) over all 11 supervisor tensors ──
    def adam8(v0: Double, g: String) = {
      val m = s"(0.9*0.0 + $b1c*($g))"
      val v = s"(0.999*0.0 + $b2c*($g)*($g))"
      s"(${dl(v0)} - $lr*(($m)/($c1))/(sqrt(($v)/($c2)) + $eps))"
    }
    def upW(p: Array[Array[Double]], gRef: String) =
      nst(p.indices.map(o => p(o).indices.map(i =>
        adam8(p(o)(i), s"$gRef[${o + 1}][${i + 1}]"))))
    def upB(p: Array[Array[Double]], gRef: String) =
      fl(p.indices.map(o => adam8(p(o)(0), s"$gRef[${o + 1}]")))
    add(
      "uwz" -> upW(sg.wz.v, "gwz"), "uuz" -> upW(sg.uz.v, "guz"),
      "ubz" -> upB(sg.bz.v, "gbz"),
      "uwr" -> upW(sg.wr.v, "gwr"), "uur" -> upW(sg.ur.v, "gur"),
      "ubr" -> upB(sg.br.v, "gbr"),
      "uwh" -> upW(sg.wh.v, "gwh"), "uuh" -> upW(sg.uh.v, "guh"),
      "ubh" -> upB(sg.bh.v, "gbh"),
      "uhw" -> upW(shd.w.v, "hwg"), "uhb" -> upB(shd.b.v, "hbg"))
    // ── unpivot (param, o, i, v, dv) ──
    val mats = Seq(
      ("wz", sg.wz.v, "uwz"), ("uz", sg.uz.v, "uuz"), ("bz", sg.bz.v, "ubz"),
      ("wr", sg.wr.v, "uwr"), ("ur", sg.ur.v, "uur"), ("br", sg.br.v, "ubr"),
      ("wh", sg.wh.v, "uwh"), ("uh", sg.uh.v, "uuh"), ("bh", sg.bh.v, "ubh"),
      ("head_w", shd.w.v, "uhw"), ("head_b", shd.b.v, "uhb"))
    val outRows = mats.flatMap { case (nm, p, ref) =>
      for (o <- p.indices; i <- p(o).indices) yield {
        val r = if (p(o).length == 1) s"$ref[${o + 1}]"
                else s"$ref[${o + 1}][${i + 1}]"
        s"SELECT '$nm' AS param, $o AS o, $i AS i, " +
          s"round($r, 8) + 0.0 AS v, " +
          s"round($r - ${dl(p(o)(i))}, 10) + 0.0 AS dv FROM $prev"
      }
    }
    s"""WITH ${ctes.mkString(",\n")}
       |${outRows.mkString("\nUNION ALL\n")}
       |ORDER BY param, o, i""".stripMargin
  }

  /** tanh as exp arithmetic (this DuckDB build ships no tanh built-in):
    * 1 − 2/(e²ˣ+1) — monotone-safe at both tails (overflow → ±1), and
    * within ~2 ulp of Math.tanh over the bounded pre-activations here
    * (absorbed by the r6 output rounding). */
  private def tanhSql(x: String): String = s"(1.0 - 2.0/(exp(2.0*($x))+1.0))"

  /** SQL twin of [[graft.gen.MlpDecoder.forward]] over fixed literal
    * weights: h = tanh(W1·z + b1), out = W2·h + b2, term order matching
    * the Scala accumulation (bias first, then inputs in index order). */
  private def mlpForwardSql(dec: graft.gen.MlpDecoder, z: Array[Double]): String = {
    val w1 = dec.weights(0); val b1 = dec.biases(0)
    val w2 = dec.weights(1); val b2 = dec.biases(1)
    val hExprs = w1.indices.map { h =>
      val terms = w1(h).indices.map(i => s"(${w1(h)(i)})*(${z(i)})").mkString(" + ")
      tanhSql(s"${b1(h)} + $terms")
    }
    val outExprs = w2.indices.map { o =>
      val terms = w2(o).indices.map(h => s"(${w2(o)(h)})*hl[${h + 1}]").mkString(" + ")
      s"${b2(o)} + $terms"
    }
    s"""WITH hs AS (SELECT [${hExprs.mkString(",\n   ")}] AS hl)
       |SELECT i::INT AS i, round(v, 6) AS v FROM (
       | SELECT unnest(generate_series(0, ${outExprs.length - 1})) AS i,
       |        unnest([${outExprs.mkString(",\n   ")}]) AS v
       | FROM hs) t ORDER BY i""".stripMargin
  }

  /** CTE chain unrolling ONE GRU layer over `steps` timesteps: per
    * step, z/r gates → candidate → h update. `xOf(t)` yields the SQL
    * list expression for the step-t input vector. Returns the h-CTE
    * name per timestep. */
  private def gruLayerSql(tag: String, g: graft.gen.GruLayer, steps: Int,
                          xOf: Int => String,
                          ctes: scala.collection.mutable.ArrayBuffer[String]): Seq[String] = {
    val u = g.units
    def dotW(w: Array[Array[Double]], o: Int, x: String) =
      w(o).indices.map(i => s"(${w(o)(i)})*$x[${i + 1}]").mkString(" + ")
    ctes += s"${tag}_h0 AS (SELECT [${Seq.fill(u)("CAST(0.0 AS DOUBLE)").mkString(",")}] AS h)"
    (1 to steps).map { t =>
      val prev = s"${tag}_h${t - 1}"
      val x = s"${tag}_x$t"
      ctes += s"$x AS (SELECT ${xOf(t - 1)} AS x, h FROM $prev)"
      // gates from (x, h): sig((b + W·x) + (U·h)) — Scala's mv/mvU grouping
      val zl = (0 until u).map(o =>
        s"1.0/(1.0+exp(-((${g.bz(o)} + ${dotW(g.wz, o, "x")}) + (${dotW(g.uz, o, "h")}))))")
      val rl = (0 until u).map(o =>
        s"1.0/(1.0+exp(-((${g.br(o)} + ${dotW(g.wr, o, "x")}) + (${dotW(g.ur, o, "h")}))))")
      val gates = s"${tag}_g$t"
      ctes += s"$gates AS (SELECT x, h, [${zl.mkString(",\n   ")}] AS zl, [${rl.mkString(",\n   ")}] AS rl FROM $x)"
      // candidate uses rh_j = h[j]*rl[j]; new h = (1-z)h + z*cand
      val hNew = (0 until u).map { o =>
        val uhTerms = g.uh(o).indices
          .map(j => s"(${g.uh(o)(j)})*(h[${j + 1}]*rl[${j + 1}])").mkString(" + ")
        val cand = tanhSql(s"(${g.bh(o)} + ${dotW(g.wh, o, "x")}) + ($uhTerms)")
        s"(1.0 - zl[${o + 1}])*h[${o + 1}] + zl[${o + 1}]*$cand"
      }
      ctes += s"${tag}_h$t AS (SELECT [${hNew.mkString(",\n   ")}] AS h FROM $gates)"
      s"${tag}_h$t"
    }
  }

  /** CTE chain unrolling one stacked-GRU net ([[graft.gen.SeqNet]]):
    * each layer consumes the previous layer's per-step hidden lists,
    * then the dense head per timestep. Returns (cteText, headCteNames). */
  private def gruNetSql(tag: String, net: graft.gen.SeqNet, steps: Int,
                        xOf: Int => String): (String, Seq[String]) = {
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    var inputs: Int => String = xOf
    var hNames: Seq[String] = Nil
    net.layers.zipWithIndex.foreach { case (g, l) =>
      hNames = gruLayerSql(s"${tag}l$l", g, steps, inputs, ctes)
      val names = hNames
      inputs = t => s"(SELECT h FROM ${names(t)})"
    }
    // dense head per timestep over the LAST layer's hiddens
    val heads = (1 to steps).map { t =>
      val outs = net.db.indices.map { o =>
        val terms = net.dw(o).indices.map(j => s"(${net.dw(o)(j)})*h[${j + 1}]").mkString(" + ")
        val lin = s"${net.db(o)} + $terms"
        if (net.sigmoidHead) s"1.0/(1.0+exp(-($lin)))" else lin
      }
      ctes += s"${tag}_y$t AS (SELECT [${outs.mkString(",\n   ")}] AS y FROM ${hNames(t - 1)})"
      s"${tag}_y$t"
    }
    (ctes.mkString(",\n"), heads)
  }

  /** SQL twin of the G8 forward witness: generator → supervisor →
    * recovery over the fixed latent window, emitting (t, xhat). */
  private def timeganForwardSql(m: graft.gen.TimeGanModel,
                                z: Array[Array[Double]]): String = {
    val steps = z.length
    def lit(v: Array[Double]) = "[" + v.mkString(",") + "]"
    val (genC, genY) = gruNetSql("gen", m.generator, steps, t => lit(z(t)))
    val (supC, supY) = gruNetSql("sup", m.supervisor, steps,
      t => s"(SELECT y FROM ${genY(t)})")
    val (recC, recY) = gruNetSql("rec", m.recovery, steps,
      t => s"(SELECT y FROM ${supY(t)})")
    val rows = recY.zipWithIndex.map { case (cte, t) =>
      s"SELECT $t AS t, round(y[1], 6) AS xhat FROM $cte"
    }
    s"""WITH
       |$genC,
       |$supC,
       |$recC
       |${rows.mkString("\nUNION ALL\n")}
       |ORDER BY t""".stripMargin
  }

  /** SQL twin of [[graft.gen.RegimeConditional.generate]] over LITERAL
    * model params: replays java.util.Random's polar-method nextGaussian
    * (two dyadic-exact uniform pairs per attempt, rejection on
    * s ≥ 1 ∨ s = 0, the accepted pair yielding BOTH this step's and the
    * next step's gaussian — so each accept emits up to two returns),
    * the sequential-cumsum category sampling of the regime chain, the
    * AR(1) recurrence, and (when `garch` is set) the per-regime σ²
    * recursion. The cumulative-probability lists are folded in Scala
    * with the same left-to-right accumulation as sampleCat and embedded
    * as literals.
    *
    * `perUser = true` (g04wb/g05wb) keys the whole machine by sid: one
    * base row per DISTINCT events user with LCG state scrambled from
    * `seed + sid` in SQL, every phase-machine row carrying its sid (all
    * series advance simultaneously — DuckDB's recursion working set is
    * the per-sid row frontier), and the W2 window partitioned by sid —
    * the replay twin of [[graft.gen.RegimeConditional.generateGrouped]]. */
  private def regimeWalkSql(model: graft.gen.RegimeModel,
                            garch: Option[Array[graft.stats.GarchFit]],
                            n: Int, seed: Long,
                            perUser: Boolean = false): String = {
    val seed0 = (seed ^ 0x5DEECE66DL) & ((1L << 48) - 1)
    def cum(ps: Array[Double]): Array[Double] = {
      var a = 0.0; ps.take(ps.length - 1).map { p => a += p; a }
    }
    val startCl = planeLit(cum(model.startProbs))
    val transCl = "[" + model.transition.map(r => planeLit(cum(r))).mkString(",") + "]"
    val means = planeLit(model.params.map(_.mean))
    val stds = planeLit(model.params.map(_.std))
    val ar1s = planeLit(model.params.map(_.ar1))
    val sig2Init = garch.map(g => planeLit(g.map(_.longRunVar)))
      .getOrElse(planeLit(Array.fill(model.nRegimes)(0.0)))
    val oms = garch.map(g => planeLit(g.map(_.omega))).getOrElse("[]")
    val als = garch.map(g => planeLit(g.map(_.alpha))).getOrElse("[]")
    val bes = garch.map(g => planeLit(g.map(_.beta))).getOrElse("[]")
    // per-step std: constant per regime (G4) or the GARCH recursion (G5)
    def stdExpr(k: String, sig2new: String): String =
      if (garch.isEmpty) s"($stds)[$k + 1]"
      else s"sqrt(greatest($sig2new, 1e-12))"
    def sig2NewExpr(k: String, eps: String, sig2: String): String =
      if (garch.isEmpty) "0.0"
      else s"(($oms)[$k + 1] + ($als)[$k + 1]*$eps*$eps + ($bes)[$k + 1]*$sig2[$k + 1])"
    def retExpr(k: String, g: String, pr: String, stdE: String): String =
      s"(($ar1s)[$k + 1]*$pr + ($means)[$k + 1] + $g*($stdE*sqrt(greatest(1.0 - ($ar1s)[$k + 1]*($ar1s)[$k + 1], 0.01))))"
    def sig2Upd(k: String, v: String, sig2: String): String =
      if (garch.isEmpty) sig2
      else (0 until model.nRegimes).map(i =>
        s"CASE WHEN $i = $k THEN $v ELSE $sig2[${i + 1}] END")
        .mkString("[", ",", "]")
    val sidsCte = if (perUser)
      "sids AS (SELECT DISTINCT user_id::BIGINT AS sid FROM events),\n" else ""
    val baseCols = if (perUser) "sid, 0 AS it, " else "0 AS it, "
    val seedExpr =
      if (perUser) s"xor($seed + sid, 25214903917) & 281474976710655"
      else seed0.toString
    val baseFrom = if (perUser) "\n  FROM sids" else ""
    val stepSid = if (perUser) "sid, " else ""
    val outSid = if (perUser) "sid AS user_id, " else ""
    val partBy = if (perUser) "PARTITION BY sid " else ""
    val ordBy = if (perUser) "user_id, rn" else "rn"
    s"""WITH RECURSIVE
       |${sidsCte}w AS (
       |  SELECT ${baseCols}CAST($seedExpr AS HUGEINT) AS s, 11 AS ph,
       |         CAST(0 AS HUGEINT) AS hi, CAST(0.0 AS DOUBLE) AS v1d,
       |         CAST([] AS INT[]) AS regs, 0 AS t,
       |         CAST(0.0 AS DOUBLE) AS prevret, CAST(0.0 AS DOUBLE) AS preveps,
       |         CAST($sig2Init AS DOUBLE[]) AS sig2,
       |         CAST([] AS DOUBLE[]) AS rets$baseFrom
       |  UNION ALL
       |  SELECT ${stepSid}it + 1, s2,
       |    CASE ph WHEN 11 THEN 12
       |            WHEN 12 THEN CASE WHEN len(regs) + 1 = $n THEN 21 ELSE 11 END
       |            WHEN 21 THEN 22 WHEN 22 THEN 23 WHEN 23 THEN 24
       |            ELSE CASE WHEN acc THEN CASE WHEN t2 >= $n THEN 99 ELSE 21 END
       |                 ELSE 21 END END,
       |    CASE WHEN ph IN (11, 21, 23) THEN s2 // 4194304 ELSE hi END,
       |    CASE WHEN ph = 22 THEN 2.0*u - 1.0 ELSE v1d END,
       |    CASE WHEN ph = 12 THEN list_append(regs, rnew) ELSE regs END,
       |    CASE WHEN acc THEN t2 ELSE t END,
       |    CASE WHEN acc THEN CASE WHEN two THEN prevret2 ELSE prevret1 END
       |         ELSE prevret END,
       |    CASE WHEN acc THEN CASE WHEN two THEN prevret2 ELSE prevret1 END
       |         ELSE preveps END,
       |    CASE WHEN acc THEN CASE WHEN two THEN sig2b ELSE sig2a END
       |         ELSE sig2 END,
       |    CASE WHEN acc THEN CASE WHEN two THEN rets || [ret1, ret2]
       |                            ELSE rets || [ret1] END
       |         ELSE rets END
       |  FROM (
       |    SELECT w4.*, t + CASE WHEN two THEN 2 ELSE 1 END AS t2,
       |      ${retExpr("k2", "gB", "prevret1", "std2")} AS ret2,
       |      ${retExpr("k2", "gB", "prevret1", "std2")} - ($means)[k2 + 1] AS prevret2,
       |      ${sig2Upd("k2", "sig2n2", "sig2a")} AS sig2b
       |    FROM (
       |      SELECT w3.*, regs[t + 2] AS k2, acc AND t + 1 < $n AS two,
       |        ${stdExpr("(regs[t + 2])", "sig2n2x")} AS std2, sig2n2x AS sig2n2
       |      FROM (
       |        SELECT w3a.*,
       |          ${sig2NewExpr("(regs[t + 2])", "prevret1", "sig2a")} AS sig2n2x
       |        FROM (
       |          SELECT w2b.*,
       |            ${sig2Upd("k1", "sig2n1", "sig2")} AS sig2a
       |          FROM (
       |            SELECT w2a.*,
       |              ${retExpr("k1", "gA", "prevret", "std1")} AS ret1,
       |              ${retExpr("k1", "gA", "prevret", "std1")} - ($means)[k1 + 1] AS prevret1
       |            FROM (
       |              SELECT w2.*, regs[t + 1] AS k1,
       |                ${stdExpr("(regs[t + 1])", "sig2n1x")} AS std1, sig2n1x AS sig2n1
       |              FROM (
       |                SELECT w1b.*,
       |                  ${sig2NewExpr("(regs[t + 1])", "preveps", "sig2")} AS sig2n1x,
       |                  v1d*mult AS gA, v2*mult AS gB,
       |                  len(list_filter(
       |                    CASE WHEN len(regs) = 0 THEN $startCl
       |                         ELSE ($transCl)[regs[len(regs)] + 1] END,
       |                    c -> c <= u))::INT AS rnew
       |                FROM (
       |                  SELECT w1a.*, ph = 24 AND ss < 1.0 AND ss <> 0.0 AS acc,
       |                    -- guards are no-ops on ACCEPTED rows (0 < ss < 1);
       |                    -- they only keep DuckDB's sqrt/ln from raising on
       |                    -- the eagerly-evaluated rejected/other-phase rows
       |                    sqrt(greatest((-2.0*ln(greatest(ss, 1e-300)))
       |                      / (CASE WHEN ss = 0.0 THEN 1.0 ELSE ss END), 0.0)) AS mult
       |                  FROM (
       |                    SELECT w1.*, 2.0*u - 1.0 AS v2,
       |                      v1d*v1d + (2.0*u - 1.0)*(2.0*u - 1.0) AS ss
       |                    FROM (
       |                      SELECT w0.*,
       |                        (hi * 134217728 + (s2 // 2097152)) / 9007199254740992.0 AS u
       |                      FROM (
       |                        SELECT w.*,
       |                          (s * 25214903917 + 11) % 281474976710656 AS s2
       |                        FROM w WHERE t < $n) w0) w1) w1a) w1b) w2) w2a) w2b) w3a) w3) w4)
       |),
       |fin AS (SELECT ${stepSid}rets FROM w WHERE t = $n AND len(rets) = $n),
       |rows0 AS (SELECT ${stepSid}(unnest(generate_series(1, $n)) - 1)::INT AS rn,
       |            unnest(rets) AS ret FROM fin)
       |SELECT ${outSid}rn, round(ret, 8) AS ret,
       |  round(ln(100.0 * exp(sum(ret) OVER (${partBy}ORDER BY rn
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))), 6) AS ln_price
       |FROM rows0 ORDER BY $ordBy""".stripMargin
  }

  /** Seeded gaussian-stream machine: ONE polar-method pair attempt per
    * recursion iteration (the four LCG steps inlined as sequential
    * sub-levels) — 4× fewer iterations than a step-per-iteration phase
    * machine, bitwise-identical draw order (each java nextGaussian
    * attempt consumes exactly four next() calls). Emits accepted pairs
    * as ((ng, v1·m), (ng+1, v2·m)). */
  private def gaussStreamSql(name: String, seed0: Long, nG: Int): String =
    s"""$name AS (
       |  SELECT 0 AS ng, CAST($seed0 AS HUGEINT) AS s,
       |         CAST(NULL AS INT) AS e1, CAST(NULL AS DOUBLE) AS g1,
       |         CAST(NULL AS INT) AS e2, CAST(NULL AS DOUBLE) AS g2
       |  UNION ALL
       |  SELECT CASE WHEN acc THEN ng + 2 ELSE ng END, s4,
       |         CASE WHEN acc THEN ng END, CASE WHEN acc THEN v1*mult END,
       |         CASE WHEN acc THEN ng + 1 END, CASE WHEN acc THEN v2*mult END
       |  FROM (
       |    SELECT d1.*, ss < 1.0 AND ss <> 0.0 AS acc,
       |      sqrt(greatest((-2.0*ln(greatest(ss, 1e-300)))
       |        / (CASE WHEN ss = 0.0 THEN 1.0 ELSE ss END), 0.0)) AS mult
       |    FROM (
       |      SELECT c2.*, v1*v1 + v2*v2 AS ss
       |      FROM (
       |        SELECT c1.*,
       |          2.0*(((s1 // 4194304)*134217728 + (s2 // 2097152)) / 9007199254740992.0) - 1.0 AS v1,
       |          2.0*(((s3 // 4194304)*134217728 + (s4 // 2097152)) / 9007199254740992.0) - 1.0 AS v2
       |        FROM (
       |          SELECT b2.*, (s3 * 25214903917 + 11) % 281474976710656 AS s4
       |          FROM (
       |            SELECT b1.*, (s2 * 25214903917 + 11) % 281474976710656 AS s3
       |            FROM (
       |              SELECT a1.*, (s1 * 25214903917 + 11) % 281474976710656 AS s2
       |              FROM (
       |                SELECT ng, (s * 25214903917 + 11) % 281474976710656 AS s1
       |                FROM $name WHERE ng < $nG) a1) b1) b2) c1) c2) d1))""".stripMargin

  /** SQL twin of [[graft.gen.RegimeGan.generate]] over the literal
    * G07 fixture: phase machine replaying the regime-chain category
    * draws and per-chunk gaussian pairs (zDim gaussians through the
    * 4-layer decoder for GAN regimes; seqLen gaussians through the
    * parametric fallback otherwise), then the denormalize + log-price
    * chain. Chunk gaussian counts are even by fixture construction, so
    * the pair cache is empty at every draw-kind switch. */
  /** SQL twin of [[graft.gen.RegimeGan.generate]] over the literal G07
    * fixture: a phase machine replays the regime-chain category draws
    * (phases 11/12, one LCG step each) and the per-chunk gaussian pairs
    * (phase 21, one polar attempt = four inlined steps); GAN regimes
    * push zDim gaussians through the literal 4-layer decoder, fallback
    * regimes emit seqLen parametric-Normal draws. Chunk gaussian counts
    * are even by fixture construction, so the nextNextGaussian cache is
    * empty at every draw-kind switch and pair-based replay is exact. */
  private def regimeGanWalkSql(model: graft.gen.RegimeGanModel,
                               n: Int, seed: Long): String = {
    val seed0 = (seed ^ 0x5DEECE66DL) & ((1L << 48) - 1)
    val seqLen = model.seqLen
    val nChunks = n / seqLen // fixture: n divisible by seqLen
    def cum(ps: Array[Double]): Array[Double] = {
      var a = 0.0; ps.take(ps.length - 1).map { p => a += p; a }
    }
    val startCl = planeLit(cum(model.startProbs))
    val transCl = "[" + model.transition.map(r => planeLit(cum(r))).mkString(",") + "]"
    val ganRegs = model.gans.zipWithIndex.collect { case (Some(_), i) => i }
    val gan = model.gans(ganRegs.head).get
    val dec = gan.decoder
    val needExpr =
      s"CASE WHEN rnew IN (${ganRegs.mkString(",")}) THEN ${gan.zDim} ELSE $seqLen END"
    def lrelu(x: String) = s"(CASE WHEN ($x) >= 0.0 THEN ($x) ELSE 0.2*($x) END)"
    def dot(w: Array[Double], ins: Seq[String]) =
      w.indices.map(i => s"(${w(i)})*${ins(i)}").mkString(" + ")
    val zCols = (1 to gan.zDim).map(i => s"z$i")
    def layerCols(ws: Array[Array[Double]], bs: Array[Double], ins: Seq[String],
                  act: String => String, pfx: String): (String, Seq[String]) = (
      ws.indices.map(i => s"${act(s"${bs(i)} + ${dot(ws(i), ins)}")} AS ${pfx}_$i")
        .mkString(",\n  "),
      ws.indices.map(i => s"${pfx}_$i"))
    val (l1Cols, h1n) = layerCols(dec.weights(0), dec.biases(0), zCols, lrelu, "h1")
    val (l2Cols, h2n) = layerCols(dec.weights(1), dec.biases(1), h1n, lrelu, "h2")
    val (l3Cols, h3n) = layerCols(dec.weights(2), dec.biases(2), h2n, tanhSql, "h3")
    val outList = "[" + dec.weights(3).indices.map(o =>
      s"${dec.biases(3)(o)} + ${dot(dec.weights(3)(o), h3n)}").mkString(",\n  ") + "]"
    val zPivot = (1 to gan.zDim).map(i =>
      s"max(CASE WHEN slot = ${i - 1} THEN g END) AS z${i}").mkString(", ")
    val fbRet = s"CASE r ${model.stats.indices.map(i =>
      s"WHEN $i THEN ${model.stats(i).mean} + g*${model.stats(i).std}").mkString(" ")} END"
    s"""WITH RECURSIVE
       |wk AS (
       |  SELECT CAST($seed0 AS HUGEINT) AS s, 11 AS ph, CAST(0 AS HUGEINT) AS hi,
       |         -1 AS c, 0 AS need, 0 AS cnt, 0 AS regime,
       |         CAST(NULL AS INT) AS rc_c, CAST(NULL AS INT) AS rc_r,
       |         CAST(NULL AS INT) AS e_c, CAST(NULL AS INT) AS e_s1,
       |         CAST(NULL AS DOUBLE) AS e_g1, CAST(NULL AS INT) AS e_s2,
       |         CAST(NULL AS DOUBLE) AS e_g2
       |  UNION ALL
       |  SELECT CASE WHEN ph = 21 THEN s4 ELSE s1 END,
       |    CASE WHEN ph = 11 THEN 12 WHEN ph = 12 THEN 21
       |         ELSE CASE WHEN acc AND cnt - 2 = 0 THEN 11 ELSE 21 END END,
       |    CASE WHEN ph = 11 THEN s1 // 4194304 ELSE hi END,
       |    CASE WHEN ph = 12 THEN c + 1 ELSE c END,
       |    CASE WHEN ph = 12 THEN $needExpr ELSE need END,
       |    CASE WHEN ph = 12 THEN $needExpr
       |         WHEN ph = 21 AND acc THEN cnt - 2 ELSE cnt END,
       |    CASE WHEN ph = 12 THEN rnew ELSE regime END,
       |    CASE WHEN ph = 12 THEN c + 1 END, CASE WHEN ph = 12 THEN rnew END,
       |    CASE WHEN ph = 21 AND acc THEN c END,
       |    CASE WHEN ph = 21 AND acc THEN need - cnt END,
       |    CASE WHEN ph = 21 AND acc THEN v1*mult END,
       |    CASE WHEN ph = 21 AND acc THEN need - cnt + 1 END,
       |    CASE WHEN ph = 21 AND acc THEN v2*mult END
       |  FROM (
       |    SELECT q2.*, ph = 21 AND ss < 1.0 AND ss <> 0.0 AS acc,
       |      sqrt(greatest((-2.0*ln(greatest(ss, 1e-300)))
       |        / (CASE WHEN ss = 0.0 THEN 1.0 ELSE ss END), 0.0)) AS mult,
       |      len(list_filter(CASE WHEN c = -1 THEN $startCl
       |                           ELSE ($transCl)[regime + 1] END,
       |          x -> x <= u12))::INT AS rnew
       |    FROM (
       |      SELECT q1.*, v1*v1 + v2*v2 AS ss,
       |        (hi * 134217728 + (s1 // 2097152)) / 9007199254740992.0 AS u12
       |      FROM (
       |        SELECT d1.*,
       |          2.0*(((s1 // 4194304)*134217728 + (s2 // 2097152)) / 9007199254740992.0) - 1.0 AS v1,
       |          2.0*(((s3 // 4194304)*134217728 + (s4 // 2097152)) / 9007199254740992.0) - 1.0 AS v2
       |        FROM (
       |          SELECT c1.*, (s3 * 25214903917 + 11) % 281474976710656 AS s4
       |          FROM (
       |            SELECT b1.*, (s2 * 25214903917 + 11) % 281474976710656 AS s3
       |            FROM (
       |              SELECT a1.*, (s1 * 25214903917 + 11) % 281474976710656 AS s2
       |              FROM (
       |                SELECT wk.*, (s * 25214903917 + 11) % 281474976710656 AS s1
       |                FROM wk WHERE NOT (cnt = 0 AND c = ${nChunks - 1})) a1) b1) c1) d1) q1) q2) q3),
       |rc AS (SELECT rc_c AS c, rc_r AS r FROM wk WHERE rc_c IS NOT NULL),
       |gg AS (SELECT e_c AS c, e_s1 AS slot, e_g1 AS g FROM wk WHERE e_c IS NOT NULL
       |       UNION ALL SELECT e_c, e_s2, e_g2 FROM wk WHERE e_c IS NOT NULL),
       |ganz AS (SELECT gg.c, $zPivot
       |         FROM gg JOIN rc ON rc.c = gg.c
       |         WHERE rc.r IN (${ganRegs.mkString(",")}) GROUP BY gg.c),
       |fw1 AS (SELECT c, $l1Cols FROM ganz),
       |fw2 AS (SELECT c, $l2Cols FROM fw1),
       |fw3 AS (SELECT c, $l3Cols FROM fw2),
       |fwo AS (SELECT c, $outList AS ol FROM fw3),
       |ganr AS (SELECT c, (unnest(generate_series(1, $seqLen)) - 1) AS j,
       |           unnest(ol) * ${gan.dataStd} + ${gan.dataMean} AS ret
       |         FROM fwo),
       |fbr AS (SELECT gg.c, gg.slot AS j, $fbRet AS ret
       |        FROM gg JOIN rc ON rc.c = gg.c
       |        WHERE rc.r NOT IN (${ganRegs.mkString(",")})),
       |allr AS (SELECT (c * $seqLen + j)::INT AS rn, ret FROM ganr
       |         UNION ALL SELECT (c * $seqLen + j)::INT, ret FROM fbr)
       |SELECT rn, round(ret, 8) AS ret,
       |  round(ln(100.0 * exp(sum(ret) OVER (ORDER BY rn
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))), 6) AS ln_price
       |FROM allr ORDER BY rn""".stripMargin
  }

  /** SQL twin of the full G1 inference run (g06): one LCG machine
    * replays the seeded WEIGHT stream (MlpDecoder.random's 2648 polar
    * gaussians, emitted as (index, value) pairs and reshaped into the
    * row-major weight matrices), a second machine runs all `nWindows`
    * per-window LCGs in parallel recursion rows (16 latent gaussians +
    * the anchor nextInt each), and the MLP forward / mean-center /
    * anchored log-price chain is recomputed with list arithmetic.
    * Rejection decisions are exact integer/dyadic math; the only float
    * slop is the forward arithmetic, absorbed by the r6 rounding. */
  private def decoderWalkSql(latent: Int, hidden: Int, wsize: Int,
                             weightSeed: Long, genSeed: Long, n: Int): String = {
    val seedW0 = (weightSeed ^ 0x5DEECE66DL) & ((1L << 48) - 1)
    val nWindows = n / wsize + 2
    val nG = hidden * latent + wsize * hidden + hidden + wsize
    val w2Off = hidden * latent
    val b1Off = w2Off + wsize * hidden
    val b2Off = b1Off + hidden
    s"""WITH RECURSIVE
       |${gaussStreamSql("wm", seedW0, nG)},
       |gs AS MATERIALIZED (SELECT e1 AS gidx, g1 AS g FROM wm WHERE e1 IS NOT NULL
       |       UNION ALL SELECT e2, g2 FROM wm WHERE e2 IS NOT NULL),
       |w1l AS MATERIALIZED (SELECT list(rowl ORDER BY h) AS m FROM (
       |          SELECT gidx // $latent AS h, list(g * 0.1 ORDER BY gidx) AS rowl
       |          FROM gs WHERE gidx < $w2Off GROUP BY gidx // $latent) t),
       |w2l AS MATERIALIZED (SELECT list(rowl ORDER BY o) AS m FROM (
       |          SELECT (gidx - $w2Off) // $hidden AS o,
       |                 list(g * 0.1 ORDER BY gidx) AS rowl
       |          FROM gs WHERE gidx >= $w2Off AND gidx < $b1Off
       |          GROUP BY (gidx - $w2Off) // $hidden) t),
       |b1l AS MATERIALIZED (SELECT list(g * 0.1 * 0.1 ORDER BY gidx) AS b FROM gs
       |        WHERE gidx >= $b1Off AND gidx < $b2Off),
       |b2l AS MATERIALIZED (SELECT list(g * 0.1 * 0.1 ORDER BY gidx) AS b FROM gs
       |        WHERE gidx >= $b2Off),
       |anc AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS arn,
       |          value::DOUBLE AS av
       |        FROM (SELECT ts, event_id, value FROM events
       |              ORDER BY ts, event_id LIMIT 5000) t),
       |ancn AS (SELECT count(*)::BIGINT AS na FROM anc),
       |wseeds AS (SELECT w::INT AS widx,
       |             CAST(xor(${genSeed}*1000003 + w*7919, 25214903917)
       |               % 281474976710656 AS HUGEINT) AS s0
       |           FROM (SELECT unnest(generate_series(0, ${nWindows - 1})) AS w) g),
       |pm AS (
       |  SELECT widx, s0 AS s, 1 AS ph, CAST(0 AS HUGEINT) AS hi,
       |         CAST(0.0 AS DOUBLE) AS v1d,
       |         CAST([] AS DOUBLE[]) AS z, CAST(NULL AS INT) AS ar
       |  FROM wseeds
       |  UNION ALL
       |  SELECT widx, s2,
       |    CASE WHEN ph = 1 THEN 2 WHEN ph = 2 THEN 3 WHEN ph = 3 THEN 4
       |         WHEN ph = 4 THEN CASE WHEN acc AND len(z) + 2 = $latent THEN 5 ELSE 1 END
       |         ELSE 5 END,
       |    CASE WHEN ph IN (1, 3) THEN s2 // 4194304 ELSE hi END,
       |    CASE WHEN ph = 2 THEN 2.0*u - 1.0 ELSE v1d END,
       |    CASE WHEN ph = 4 AND acc THEN z || [v1d*mult, v2*mult] ELSE z END,
       |    CASE WHEN ph = 5 AND ok THEN r::INT ELSE ar END
       |  FROM (
       |    SELECT q1.*, ph = 4 AND ss < 1.0 AND ss <> 0.0 AS acc,
       |      sqrt(greatest((-2.0*ln(greatest(ss, 1e-300)))
       |        / (CASE WHEN ss = 0.0 THEN 1.0 ELSE ss END), 0.0)) AS mult,
       |      ((bnd & (-bnd)) = bnd
       |        OR (u31 - (u31 % bnd) + bnd - 1) <= 2147483647) AS ok,
       |      CASE WHEN (bnd & (-bnd)) = bnd
       |           THEN (bnd * u31) // 2147483648 ELSE u31 % bnd END AS r
       |    FROM (
       |      SELECT q0.*, 2.0*u - 1.0 AS v2,
       |        v1d*v1d + (2.0*u - 1.0)*(2.0*u - 1.0) AS ss,
       |        s2 // 131072 AS u31, (SELECT na FROM ancn) AS bnd
       |      FROM (
       |        SELECT pm.*, (s * 25214903917 + 11) % 281474976710656 AS s2,
       |          (hi * 134217728 + (((s * 25214903917 + 11) % 281474976710656) // 2097152))
       |            / 9007199254740992.0 AS u
       |        FROM pm WHERE ar IS NULL) q0) q1) q2),
       |pw AS MATERIALIZED (SELECT widx, z, ar FROM pm WHERE ar IS NOT NULL),
       |hid AS (SELECT pw.widx, pw.ar,
       |          list_transform(generate_series(1, $hidden), h ->
       |            ${tanhSql(s"b1l.b[h] + list_inner_product(w1l.m[h], pw.z)")}) AS hv
       |        FROM pw, w1l, b1l),
       |outp AS (SELECT hid.widx, hid.ar,
       |           list_transform(generate_series(1, $wsize), o ->
       |             b2l.b[o] + list_inner_product(w2l.m[o], hid.hv)) AS ov
       |         FROM hid, w2l, b2l),
       |cen AS (SELECT widx, ar,
       |          list_transform(ov, x -> x - list_aggregate(ov, 'sum') / $wsize.0) AS rv
       |        FROM outp),
       |cen2 AS (SELECT c.widx, c.rv, a.av
       |         FROM cen c JOIN anc a ON a.arn = c.ar + 1),
       |rows0 AS (SELECT widx,
       |            (widx * $wsize + unnest(generate_series(1, $wsize)) - 1) AS rn0,
       |            unnest(rv) AS rv, av
       |          FROM cen2),
       |rows1 AS (SELECT rn0::INT AS rn, rv, av, widx FROM rows0 WHERE rn0 < $n)
       |SELECT rn,
       |  round(ln(exp(ln(av) + sum(rv) OVER (PARTITION BY widx ORDER BY rn
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))), 6) AS ln_price
       |FROM rows1 ORDER BY rn""".stripMargin
  }

  /** SQL twin of the full G8 inference run (g08): replays the seeded
    * TimeGanModel.random weight stream (~14.4k polar gaussians reshaped
    * into 27 GRU matrices + 3 dense heads in exact draw order), the
    * per-window latent/anchor draws, and the 3-net × 3-layer stacked
    * GRU forward as a 24-step recursion over all windows in parallel.
    * Same exactness posture as g06: every REJECTION/SELECTION decision
    * is integer/dyadic-exact; forward-arithmetic slop is absorbed by
    * the r6 log-price rounding. */
  private def timeganWalkSql(wsize: Int, latent: Int, hidden: Int,
                             nLayers: Int, weightSeed: Long, genSeed: Long,
                             n: Int, dataMin: Double, dataRange: Double): String = {
    val seedW0 = (weightSeed ^ 0x5DEECE66DL) & ((1L << 48) - 1)
    val nWindows = n / wsize + 2
    // weight layout in exact draw order
    final case class M(name: String, off: Int, rows: Int, cols: Int, scale: String)
    var off = 0
    val mats = scala.collection.mutable.ArrayBuffer[M]()
    def mat(name: String, r: Int, c: Int, s: String): Unit = {
      mats += M(name, off, r, c, s); off += r * c
    }
    def gru(pfx: String, in: Int): Unit = {
      mat(s"${pfx}_wz", hidden, in, "0.3"); mat(s"${pfx}_uz", hidden, hidden, "0.3")
      mat(s"${pfx}_bz", hidden, 1, "0.3 * 0.1")
      mat(s"${pfx}_wr", hidden, in, "0.3"); mat(s"${pfx}_ur", hidden, hidden, "0.3")
      mat(s"${pfx}_br", hidden, 1, "0.3 * 0.1")
      mat(s"${pfx}_wh", hidden, in, "0.3"); mat(s"${pfx}_uh", hidden, hidden, "0.3")
      mat(s"${pfx}_bh", hidden, 1, "0.3 * 0.1")
    }
    def net(pfx: String, in: Int, outDim: Int): Unit = {
      gru(s"${pfx}_l1", in)
      (2 to nLayers).foreach(l => gru(s"${pfx}_l$l", hidden))
      mat(s"${pfx}_dw", outDim, hidden, "0.3"); mat(s"${pfx}_db", outDim, 1, "0.03")
    }
    net("gen", latent, hidden); net("sup", hidden, hidden); net("rec", hidden, 1)
    val nG = off
    val wtsCols = mats.map { m =>
      if (m.cols == 1)
        s"""(SELECT list(g * ${m.scale} ORDER BY gidx) FROM tgs
           |   WHERE gidx >= ${m.off} AND gidx < ${m.off + m.rows}) AS ${m.name}""".stripMargin
      else
        s"""(SELECT list(rowl ORDER BY r) FROM (
           |   SELECT (gidx - ${m.off}) // ${m.cols} AS r,
           |          list(g * ${m.scale} ORDER BY gidx) AS rowl
           |   FROM tgs WHERE gidx >= ${m.off} AND gidx < ${m.off + m.rows * m.cols}
           |   GROUP BY 1) q) AS ${m.name}""".stripMargin
    }.mkString(",\n")
    // forward levels: per layer zl/rl -> rh -> hnew; heads inline
    def sig(x: String) = s"1.0/(1.0+exp(-($x)))"
    def ip(w: String, v: String) = s"list_inner_product($w, $v)"
    val rng = s"generate_series(1, $hidden)"
    val levels = scala.collection.mutable.ArrayBuffer[String]()
    levels += s"zs[(t*$latent+1):(t*$latent+$latent)] AS xt"
    def layerLevels(tag: String, pfx: String, x: String, h: String): String = {
      levels +=
        s"""list_transform($rng, i -> ${sig(s"(${pfx}_bz[i] + ${ip(s"${pfx}_wz[i]", x)}) + ${ip(s"${pfx}_uz[i]", h)}")}) AS zl_$tag,
           |list_transform($rng, i -> ${sig(s"(${pfx}_br[i] + ${ip(s"${pfx}_wr[i]", x)}) + ${ip(s"${pfx}_ur[i]", h)}")}) AS rl_$tag""".stripMargin
      levels += s"list_transform($rng, j -> $h[j] * rl_$tag[j]) AS rh_$tag"
      levels += s"list_transform($rng, i -> (1.0 - zl_$tag[i])*$h[i] + zl_$tag[i]*${tanhSql(s"(${pfx}_bh[i] + ${ip(s"${pfx}_wh[i]", x)}) + ${ip(s"${pfx}_uh[i]", s"rh_$tag")}")}) AS hn_$tag"
      s"hn_$tag"
    }
    def netLevels(pfx: String, x0: String, outDim: Int, sigmoidHead: Boolean): String = {
      var x = x0
      (1 to nLayers).foreach { l =>
        x = layerLevels(s"${pfx}$l", s"${pfx}_l$l", x, s"h_${pfx}$l")
      }
      val headUnit = (o: String) => {
        val lin = s"${pfx}_db[$o] + ${ip(s"${pfx}_dw[$o]", x)}"
        if (sigmoidHead) sig(lin) else lin
      }
      if (outDim == 1) levels += s"${headUnit("1")} AS out_$pfx"
      else levels += s"list_transform(generate_series(1, $outDim), o -> ${headUnit("o")}) AS out_$pfx"
      s"out_$pfx"
    }
    val genOut = netLevels("gen", "xt", hidden, sigmoidHead = true)
    val supOut = netLevels("sup", genOut, hidden, sigmoidHead = false)
    val recOut = netLevels("rec", supOut, 1, sigmoidHead = true)
    val hCols = (for (p <- Seq("gen", "sup", "rec"); l <- 1 to nLayers) yield s"h_$p$l")
    var nested =
      s"(SELECT fw.*, pwz.zs, wts.* FROM fw JOIN pwz USING (widx) CROSS JOIN wts WHERE fw.t < $wsize)"
    levels.zipWithIndex.foreach { case (cols, i) =>
      nested = s"(SELECT l$i.*,\n$cols\nFROM $nested l$i)"
    }
    s"""WITH RECURSIVE
       |${gaussStreamSql("tm", seedW0, nG)},
       |tgs AS MATERIALIZED (SELECT e1 AS gidx, g1 AS g FROM tm WHERE e1 IS NOT NULL
       |        UNION ALL SELECT e2, g2 FROM tm WHERE e2 IS NOT NULL),
       |wts AS MATERIALIZED (SELECT
       |$wtsCols),
       |anc AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS arn,
       |          value::DOUBLE AS av
       |        FROM (SELECT ts, event_id, value FROM events
       |              ORDER BY ts, event_id LIMIT 5000) t),
       |ancn AS (SELECT count(*)::BIGINT AS na FROM anc),
       |wseeds AS (SELECT w::INT AS widx,
       |             CAST(xor(${genSeed}*1000003 + w*7919, 25214903917)
       |               % 281474976710656 AS HUGEINT) AS s0
       |           FROM (SELECT unnest(generate_series(0, ${nWindows - 1})) AS w) g),
       |zm AS (
       |  SELECT widx, s0 AS s, 1 AS ph, CAST(0 AS HUGEINT) AS hi,
       |         CAST(0.0 AS DOUBLE) AS v1d,
       |         CAST([] AS DOUBLE[]) AS zs, CAST(NULL AS INT) AS ar
       |  FROM wseeds
       |  UNION ALL
       |  SELECT widx, s2,
       |    CASE WHEN ph = 1 THEN 2 WHEN ph = 2 THEN 3 WHEN ph = 3 THEN 4
       |         WHEN ph = 4 THEN CASE WHEN acc AND len(zs) + 2 = ${wsize * latent} THEN 5 ELSE 1 END
       |         ELSE 5 END,
       |    CASE WHEN ph IN (1, 3) THEN s2 // 4194304 ELSE hi END,
       |    CASE WHEN ph = 2 THEN 2.0*u - 1.0 ELSE v1d END,
       |    CASE WHEN ph = 4 AND acc THEN zs || [v1d*mult, v2*mult] ELSE zs END,
       |    CASE WHEN ph = 5 AND ok THEN r::INT ELSE ar END
       |  FROM (
       |    SELECT q1.*, ph = 4 AND ss < 1.0 AND ss <> 0.0 AS acc,
       |      sqrt(greatest((-2.0*ln(greatest(ss, 1e-300)))
       |        / (CASE WHEN ss = 0.0 THEN 1.0 ELSE ss END), 0.0)) AS mult,
       |      ((bnd & (-bnd)) = bnd
       |        OR (u31 - (u31 % bnd) + bnd - 1) <= 2147483647) AS ok,
       |      CASE WHEN (bnd & (-bnd)) = bnd
       |           THEN (bnd * u31) // 2147483648 ELSE u31 % bnd END AS r
       |    FROM (
       |      SELECT q0.*, 2.0*u - 1.0 AS v2,
       |        v1d*v1d + (2.0*u - 1.0)*(2.0*u - 1.0) AS ss,
       |        s2 // 131072 AS u31, (SELECT na FROM ancn) AS bnd
       |      FROM (
       |        SELECT zm.*, (s * 25214903917 + 11) % 281474976710656 AS s2,
       |          (hi * 134217728 + (((s * 25214903917 + 11) % 281474976710656) // 2097152))
       |            / 9007199254740992.0 AS u
       |        FROM zm WHERE ar IS NULL) q0) q1) q2),
       |pwz AS MATERIALIZED (SELECT widx, zs, ar FROM zm WHERE ar IS NOT NULL),
       |fw AS (
       |  SELECT widx, 0 AS t,
       |         ${hCols.map(h => s"CAST(${Seq.fill(hidden)("0.0").mkString("[", ",", "]")} AS DOUBLE[]) AS $h").mkString(",\n         ")},
       |         CAST([] AS DOUBLE[]) AS xs
       |  FROM pwz
       |  UNION ALL
       |  SELECT widx, t + 1,
       |         ${(for (p <- Seq("gen", "sup", "rec"); l <- 1 to nLayers) yield s"hn_$p$l").mkString(", ")},
       |         xs || [$recOut]
       |  FROM $nested),
       |fin AS (SELECT widx, xs FROM fw WHERE t = $wsize),
       |cen0 AS (SELECT widx,
       |           list_transform(xs, x -> x * $dataRange + $dataMin) AS rv0
       |         FROM fin),
       |cen AS (SELECT widx,
       |          list_transform(rv0, x -> x - list_aggregate(rv0, 'sum') / $wsize.0) AS rv
       |        FROM cen0),
       |cen2 AS (SELECT c.widx, c.rv, a.av
       |         FROM cen c JOIN pwz p ON p.widx = c.widx
       |                    JOIN anc a ON a.arn = p.ar + 1),
       |rows0 AS (SELECT widx,
       |            (widx * $wsize + unnest(generate_series(1, $wsize)) - 1) AS rn0,
       |            unnest(rv) AS rv, av
       |          FROM cen2),
       |rows1 AS (SELECT rn0::INT AS rn, rv, av, widx FROM rows0 WHERE rn0 < $n)
       |SELECT rn,
       |  round(ln(exp(ln(av) + sum(rv) OVER (PARTITION BY widx ORDER BY rn
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))), 6) AS ln_price
       |FROM rows1 ORDER BY rn""".stripMargin
  }

  /** c05 / q30b ADF legs — PER-SERIES closed-form ADF (maxlag=2):
    * replays [[graft.stats.Adf.closedForm2]] verbatim per (user,
    * event-parity label): standardized returns, Gram sums via FILTER
    * clauses, Cramer determinants generated with the SAME
    * cofactor-expansion association order as the Scala, AIC autolag on
    * the common sample, chosen-lag refit, MacKinnon p through the
    * identical erfc polynomial. Degenerate series (n ≤ 31, zero
    * variance, non-finite τ) carry the reference −1.0 sentinel
    * (distribution_evaluator.py:105-116). Returns the CTE list only
    * (no WITH) so q30b can splice it into its own chain. */
  private def adfPerUserCtes: String = {
    def d3(a: String, b: String, c: String, d: String, e: String,
           f: String, g: String, h: String, i: String): String =
      s"($a*($e*$i - $f*$h) - $b*($d*$i - $f*$g) + $c*($d*$h - $e*$g))"
    def d4(m: IndexedSeq[String]): String =
      s"(${m(0)}*${d3(m(5), m(6), m(7), m(9), m(10), m(11), m(13), m(14), m(15))}" +
        s" - ${m(1)}*${d3(m(4), m(6), m(7), m(8), m(10), m(11), m(12), m(14), m(15))}" +
        s" + ${m(2)}*${d3(m(4), m(5), m(7), m(8), m(9), m(11), m(12), m(13), m(15))}" +
        s" - ${m(3)}*${d3(m(4), m(5), m(6), m(8), m(9), m(10), m(12), m(13), m(14))})"
    val a4 = Vector("n2", "sx", "sd1", "sd2", "sx", "sxx", "sxd1", "sxd2",
      "sd1", "sxd1", "sd11", "sd12", "sd2", "sxd2", "sd12", "sd22")
    val bv = Vector("sy", "sxy", "sd1y", "sd2y")
    def rep(colI: Int): IndexedSeq[String] =
      a4.zipWithIndex.map { case (v, idx) => if (idx % 4 == colI) bv(idx / 4) else v }
    val common = (e: String) => s"sum($e) FILTER (WHERE t >= 2)"
    val p1 = (e: String) => s"sum($e) FILTER (WHERE t >= 1)"
    "adf_u0 AS (SELECT user_id::BIGINT AS sid, (event_id % 2 = 0) AS is_real, ts, event_id, " +
      "ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10))) OVER " +
      "(PARTITION BY user_id, (event_id % 2 = 0) ORDER BY ts, event_id) AS ret FROM events),\n" +
    "adf_ur AS (SELECT sid, is_real, ret, row_number() OVER " +
      "(PARTITION BY sid, is_real ORDER BY ts, event_id) - 1 AS rk " +
      "FROM adf_u0 WHERE ret IS NOT NULL QUALIFY rk < 20000),\n" +
    "adf_st AS (SELECT sid, is_real, (count(*))::DOUBLE AS nn, sum(ret) AS s1, " +
      "sum(ret*ret) AS s2 FROM adf_ur GROUP BY 1, 2),\n" +
    "adf_z AS (SELECT u.sid, u.is_real, u.rk, " +
      "(u.ret - s.s1/s.nn)/sqrt(s.s2/s.nn - (s.s1/s.nn)*(s.s1/s.nn)) AS z " +
      "FROM adf_ur u JOIN adf_st s USING (sid, is_real) " +
      "WHERE s.nn > 31 AND (s.s2/s.nn - (s.s1/s.nn)*(s.s1/s.nn)) > 0),\n" +
    "adf_dx AS (SELECT sid, is_real, rk AS t, z AS x, " +
      "lead(z) OVER (PARTITION BY sid, is_real ORDER BY rk) - z AS y " +
      "FROM adf_z QUALIFY y IS NOT NULL),\n" +
    "adf_dl AS (SELECT sid, is_real, t, x, y, lag(y,1) OVER w AS d1, lag(y,2) OVER w AS d2 " +
      "FROM adf_dx WINDOW w AS (PARTITION BY sid, is_real ORDER BY t)),\n" +
    "adf_s AS (SELECT sid, is_real, " +
      "(count(*) FILTER (WHERE t >= 2))::DOUBLE AS n2, " +
      s"${common("x")} AS sx, ${common("d1")} AS sd1, ${common("d2")} AS sd2, " +
      s"${common("x*x")} AS sxx, ${common("x*d1")} AS sxd1, ${common("x*d2")} AS sxd2, " +
      s"${common("d1*d1")} AS sd11, ${common("d1*d2")} AS sd12, ${common("d2*d2")} AS sd22, " +
      s"${common("y")} AS sy, ${common("x*y")} AS sxy, ${common("d1*y")} AS sd1y, " +
      s"${common("d2*y")} AS sd2y, ${common("y*y")} AS syy, " +
      "(count(*))::DOUBLE AS m0, sum(x) AS sx0, sum(x*x) AS sxx0, " +
      "sum(y) AS sy0, sum(x*y) AS sxy0, sum(y*y) AS syy0, " +
      "(count(*) FILTER (WHERE t >= 1))::DOUBLE AS m1, " +
      s"${p1("x")} AS sx1, ${p1("d1")} AS sd1a, ${p1("x*x")} AS sxx1, " +
      s"${p1("x*d1")} AS sxd1a, ${p1("d1*d1")} AS sd11a, " +
      s"${p1("y")} AS sy1, ${p1("x*y")} AS sxy1, ${p1("d1*y")} AS sd1ya, ${p1("y*y")} AS syy1 " +
      "FROM adf_dl GROUP BY 1, 2),\n" +
    "adf_c1 AS (SELECT *, (n2*sxx - sx*sx) AS det2c, " +
      s"${d3("n2", "sx", "sd1", "sx", "sxx", "sxd1", "sd1", "sxd1", "sd11")} AS det3c, " +
      s"${d3("sy", "sx", "sd1", "sxy", "sxx", "sxd1", "sd1y", "sxd1", "sd11")} AS c1n0, " +
      s"${d3("n2", "sy", "sd1", "sx", "sxy", "sxd1", "sd1", "sd1y", "sd11")} AS c1n1, " +
      s"${d3("n2", "sx", "sy", "sx", "sxx", "sxy", "sd1", "sxd1", "sd1y")} AS c1n2, " +
      s"${d4(a4)} AS det4c, " +
      s"${d4(rep(0))} AS c2n0, ${d4(rep(1))} AS c2n1, " +
      s"${d4(rep(2))} AS c2n2, ${d4(rep(3))} AS c2n3, " +
      "(m0*sxx0 - sx0*sx0) AS dt0, " +
      s"${d3("m1", "sx1", "sd1a", "sx1", "sxx1", "sxd1a", "sd1a", "sxd1a", "sd11a")} AS r1det, " +
      s"${d3("sy1", "sx1", "sd1a", "sxy1", "sxx1", "sxd1a", "sd1ya", "sxd1a", "sd11a")} AS r1n0, " +
      s"${d3("m1", "sy1", "sd1a", "sx1", "sxy1", "sxd1a", "sd1a", "sd1ya", "sd11a")} AS r1nx, " +
      s"${d3("m1", "sx1", "sy1", "sx1", "sxx1", "sxy1", "sd1a", "sxd1a", "sd1ya")} AS r1n2, " +
      "(m1*sd11a - sd1a*sd1a) AS inv11n1, " +
      s"${d3("n2", "sd1", "sd2", "sd1", "sd11", "sd12", "sd2", "sd12", "sd22")} AS inv11n2 " +
      "FROM adf_s),\n" +
    "adf_c2 AS (SELECT *, (sy*sxx - sx*sxy)/det2c AS c0b0, (n2*sxy - sx*sy)/det2c AS c0b1, " +
      "c1n0/det3c AS c1b0, c1n1/det3c AS c1b1, c1n2/det3c AS c1b2, " +
      "c2n0/det4c AS c2b0, c2n1/det4c AS c2b1, c2n2/det4c AS c2b2, c2n3/det4c AS c2b3, " +
      "(m0*sxy0 - sx0*sy0)/dt0 AS r0bx, (sy0*sxx0 - sx0*sxy0)/dt0 AS r0b0, " +
      "r1n0/r1det AS r1b0, r1nx/r1det AS r1bx, r1n2/r1det AS r1b2 FROM adf_c1),\n" +
    "adf_c3 AS (SELECT *, syy - (c0b0*sy + c0b1*sxy) AS ssr0, " +
      "syy - (c1b0*sy + c1b1*sxy + c1b2*sd1y) AS ssr1, " +
      "syy - (c2b0*sy + c2b1*sxy + c2b2*sd1y + c2b3*sd2y) AS ssr2, " +
      "syy0 - (r0b0*sy0 + r0bx*sxy0) AS ssrr0, " +
      "syy1 - (r1b0*sy1 + r1bx*sxy1 + r1b2*sd1ya) AS ssrr1 FROM adf_c2),\n" +
    "adf_c4 AS (SELECT *, n2*ln(greatest(ssr0/n2, 1e-300)) + 4.0 AS aic0, " +
      "n2*ln(greatest(ssr1/n2, 1e-300)) + 6.0 AS aic1, " +
      "n2*ln(greatest(ssr2/n2, 1e-300)) + 8.0 AS aic2, " +
      "r0bx/sqrt(ssrr0/(m0 - 2.0)*(m0/dt0)) AS tau0, " +
      "r1bx/sqrt(ssrr1/(m1 - 3.0)*(inv11n1/r1det)) AS tau1, " +
      "c2b1/sqrt(ssr2/(n2 - 4.0)*(inv11n2/det4c)) AS tau2 FROM adf_c3),\n" +
    "adf_c5 AS (SELECT sid, is_real, " +
      "CASE WHEN aic2 < least(aic0, aic1) THEN 2 WHEN aic1 < aic0 THEN 1 ELSE 0 END AS p, " +
      "CASE WHEN aic2 < least(aic0, aic1) THEN tau2 WHEN aic1 < aic0 THEN tau1 ELSE tau0 END AS tau " +
      "FROM adf_c4),\n" +
    "adf_c6 AS (SELECT *, CASE WHEN tau <= -1.61 THEN 2.1659 + 1.4412*tau + 0.038269*tau*tau " +
      "ELSE 1.7339 + 0.93202*tau - 0.12745*tau*tau - 0.010368*tau*tau*tau END AS poly FROM adf_c5),\n" +
    "adf_c7 AS (SELECT *, -(poly)/sqrt(2.0) AS q FROM adf_c6),\n" +
    "adf_c8 AS (SELECT *, abs(q) AS zz, 1.0/(1.0 + 0.5*abs(q)) AS tt FROM adf_c7),\n" +
    "adf_c9 AS (SELECT *, tt*exp(-zz*zz - 1.26551223 + tt*(1.00002368 + tt*(0.37409196 + " +
      "tt*(0.09678418 + tt*(-0.18628806 + tt*(0.27886807 + tt*(-1.13520398 + " +
      "tt*(1.48851587 + tt*(-0.82215223 + tt*0.17087277))))))))) AS ans FROM adf_c8),\n" +
    "adf_res AS (SELECT sid, is_real, " +
      "CASE WHEN isfinite(tau) THEN tau ELSE 0.0 END AS tau_f, " +
      "CASE WHEN NOT isfinite(tau) THEN -1.0 WHEN tau > 2.74 THEN 1.0 " +
      "WHEN tau < -18.83 THEN 0.0 " +
      "ELSE 0.5*(CASE WHEN q >= 0 THEN ans ELSE 2.0 - ans END) END AS pv, " +
      "CASE WHEN isfinite(tau) THEN p ELSE -1 END AS ulag FROM adf_c9),\n" +
    "adf_out AS (SELECT s.sid, s.is_real, coalesce(r.tau_f, 0.0) AS tau_f, " +
      "coalesce(r.pv, -1.0) AS pv, coalesce(r.ulag, -1) AS ulag " +
      "FROM adf_st s LEFT JOIN adf_res r USING (sid, is_real)),\n" +
    "adf_piv AS (SELECT sid, " +
      "coalesce(max(CASE WHEN is_real THEN tau_f END), 0.0) AS rtau, " +
      "coalesce(max(CASE WHEN is_real THEN pv END), -1.0) AS rpv, " +
      "coalesce(max(CASE WHEN is_real THEN ulag END), -1) AS rlag, " +
      "coalesce(max(CASE WHEN NOT is_real THEN tau_f END), 0.0) AS stau, " +
      "coalesce(max(CASE WHEN NOT is_real THEN pv END), -1.0) AS spv, " +
      "coalesce(max(CASE WHEN NOT is_real THEN ulag END), -1) AS slag " +
      "FROM adf_out GROUP BY sid)"
  }

  /** Per-user g04 feature frame (shared by the g04b gate entry and the
    * g04tb EM-step replay): fit-prefix cap, per-user log-returns,
    * rolling vols, NaN filter, per-user z-normalization, round-6. */
  private val g04bFeaturesSql: String =
    """WITH rr AS (
      |  SELECT user_id,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
      |         ret
      |  FROM (SELECT user_id, ts, event_id,
      |          ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
      |            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
      |        FROM (SELECT * FROM events
      |              QUALIFY row_number() OVER (PARTITION BY user_id
      |                        ORDER BY ts, event_id) <= 20000) p) r0
      |  WHERE ret IS NOT NULL),
      |v AS (SELECT user_id, rn, ret,
      |        CASE WHEN count(ret) OVER w24 >= 1 THEN stddev_samp(ret) OVER w24 END AS vol_short,
      |        CASE WHEN count(ret) OVER w72 >= 1 THEN stddev_samp(ret) OVER w72 END AS vol_long
      |      FROM rr
      |      WINDOW w24 AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN 23 PRECEDING AND CURRENT ROW),
      |             w72 AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN 71 PRECEDING AND CURRENT ROW)),
      |vr AS (SELECT user_id, rn, ret, vol_short,
      |         CASE WHEN vol_long > 1e-10 THEN vol_short/vol_long ELSE 1.0 END AS vol_ratio
      |       FROM v),
      |cl AS (SELECT * FROM vr
      |       WHERE ret IS NOT NULL AND NOT isnan(ret) AND abs(ret) <> 'infinity'::DOUBLE
      |         AND vol_short IS NOT NULL AND NOT isnan(vol_short)
      |         AND abs(vol_short) <> 'infinity'::DOUBLE
      |         AND vol_ratio IS NOT NULL AND NOT isnan(vol_ratio)
      |         AND abs(vol_ratio) <> 'infinity'::DOUBLE),
      |st AS (SELECT user_id, avg(ret) AS m0, stddev_pop(ret) AS s0,
      |              avg(vol_short) AS m1, stddev_pop(vol_short) AS s1,
      |              avg(vol_ratio) AS m2, stddev_pop(vol_ratio) AS s2
      |       FROM cl GROUP BY user_id)
      |SELECT cl.user_id, cl.rn::INT AS rn,
      |  round((ret - m0)/(s0 + 1e-10), 6) AS f0,
      |  round((vol_short - m1)/(s1 + 1e-10), 6) AS f1,
      |  round((vol_ratio - m2)/(s2 + 1e-10), 6) AS f2
      |FROM cl JOIN st USING (user_id)""".stripMargin

  /** q24's pair list (no ORDER BY) — shared by the q24 gate entry and
    * d04's reachability closure. LADDER replay: the oracle re-derives
    * the occupancy-selected operating point from the same integer
    * bucket counts the Spark side probes (see [[ladderPairsSql]]). */
  private lazy val q24PairsSql: String =
    s"""WITH e AS (SELECT label, vec_id, embedding::DOUBLE[] AS v,
       |             list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n
       |           FROM embeddings),
       |${ladderPairsSql("vec_id", Some("label"), threshold = 0.3, dim = 64,
          seed = 7L)}""".stripMargin

  val all: Map[String, String] = Map(

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),6) AS avg_qty,
        | round(avg(l_extendedprice),6) AS avg_price,
        | round(avg(l_discount),6) AS avg_disc,
        | count(*)::BIGINT AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_revenue_by_nation" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | count(DISTINCT o_orderkey)::BIGINT AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    // CUBE revenue (q33): DuckDB GROUP BY CUBE + GROUPING() shares
    // Spark's bit convention (first listed column = MSB)
    "q33_revenue_cube" ->
      """SELECT n_name, year(o_orderdate)::INT AS o_year,
        | GROUPING(n_name, year(o_orderdate))::INT AS gid,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | count(*)::BIGINT AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, year(o_orderdate))
        |ORDER BY gid, n_name, o_year""".stripMargin,

    "q03_top_orders_per_priority" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rk::INT AS rk FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |   row_number() OVER (PARTITION BY o_orderpriority
        |                      ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders) t
        |WHERE rk <= 10
        |ORDER BY o_orderpriority, rk""".stripMargin,

    "q04_moments_by_segment" ->
      """WITH base AS (
        | SELECT c_mktsegment, count(c_acctbal)::BIGINT AS n, avg(c_acctbal) AS mean,
        |        stddev_pop(c_acctbal) AS std_pop, var_pop(c_acctbal) AS var_pop,
        |        min(c_acctbal) AS min_v, max(c_acctbal) AS max_v
        | FROM customer GROUP BY c_mktsegment),
        |z AS (
        | SELECT c.c_mktsegment,
        |        avg(pow((c_acctbal - mean)/std_pop, 3)) AS skew,
        |        avg(pow((c_acctbal - mean)/std_pop, 4)) AS kurt_raw
        | FROM customer c JOIN base USING (c_mktsegment)
        | GROUP BY c.c_mktsegment)
        |SELECT c_mktsegment, n, round(mean,6) AS mean, round(std_pop,6) AS std_pop,
        |  round(var_pop,2) AS var_pop, round(min_v,2) AS min_v, round(max_v,2) AS max_v,
        |  round(skew,6) AS skew, round(kurt_raw,6) AS kurt_raw
        |FROM base JOIN z USING (c_mktsegment)
        |ORDER BY c_mktsegment""".stripMargin,

    "q05_log_returns" ->
      """WITH r AS (
        | SELECT user_id, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events)
        |SELECT user_id, event_id, round(ret,8) AS ret
        |FROM r WHERE ret IS NOT NULL
        |ORDER BY user_id, event_id""".stripMargin,

    "q06_cum_log_return" ->
      """WITH r AS (
        | SELECT user_id, event_id, ts,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events),
        |c AS (
        | SELECT user_id, event_id,
        |   sum(coalesce(ret,0.0)) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ret
        | FROM r)
        |SELECT user_id, event_id, round(cum_ret,6) AS cum_ret,
        |  round(exp(round(cum_ret,6)),4) AS price_rel
        |FROM c ORDER BY user_id, event_id""".stripMargin,

    "q07_rolling_vol" ->
      """SELECT user_id, event_id,
        | round(CASE WHEN count(value) OVER w24 >= 12
        |            THEN stddev_samp(value) OVER w24 END, 6) AS vol24,
        | round(CASE WHEN count(value) OVER w6 >= 3
        |            THEN stddev_samp(value) OVER w6 END, 6) AS vol6,
        | round(CASE WHEN (CASE WHEN count(value) OVER w24 >= 12
        |                       THEN stddev_samp(value) OVER w24 END) > 1e-10
        |            THEN (CASE WHEN count(value) OVER w6 >= 3
        |                       THEN stddev_samp(value) OVER w6 END)
        |               / (CASE WHEN count(value) OVER w24 >= 12
        |                       THEN stddev_samp(value) OVER w24 END)
        |            ELSE 1.0 END, 6) AS vol_ratio
        |FROM events
        |WINDOW
        | w24 AS (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN 23 PRECEDING AND CURRENT ROW),
        | w6 AS (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    // `+ 0.0` after each round(): DuckDB round() preserves the sign bit, so
    // round(sin(2*pi), 8) = -0.0 there while Spark's BigDecimal round gives +0.0.
    // IEEE -0.0 + 0.0 = +0.0 normalizes both engines to the same bit pattern.
    "q08_temporal_features" ->
      """SELECT event_id,
        | round(sin(hour(ts) * (2*pi()/24)),8) + 0.0 AS hour_sin,
        | round(cos(hour(ts) * (2*pi()/24)),8) + 0.0 AS hour_cos,
        | round(sin(((dayofweek(ts)+6)%7) * (2*pi()/5)),8) + 0.0 AS dow_sin,
        | round(cos(((dayofweek(ts)+6)%7) * (2*pi()/5)),8) + 0.0 AS dow_cos,
        | round(sin(month(ts) * (2*pi()/12)),8) + 0.0 AS month_sin,
        | round(cos(month(ts) * (2*pi()/12)),8) + 0.0 AS month_cos
        |FROM events ORDER BY event_id""".stripMargin,

    "q09_event_transitions" ->
      """WITH t AS (
        | SELECT event_type AS state,
        |   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_state
        | FROM events)
        |SELECT state, next_state, count(*)::BIGINT AS cnt,
        | round(count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY state), 6) AS prob
        |FROM t WHERE next_state IS NOT NULL
        |GROUP BY state, next_state
        |ORDER BY state, next_state""".stripMargin,

    "q10_autocorr_per_user" ->
      """WITH r AS (
        | SELECT user_id, ts, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events),
        |l AS (
        | SELECT user_id, ret,
        |   lag(ret,1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lag1,
        |   abs(lead(ret,1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS fwd_abs
        | FROM r)
        |SELECT user_id, round(corr(ret, lag1),6) AS acf1,
        |  round(corr(abs(ret), abs(lag1)),6) AS vol_ac,
        |  round(corr(ret, fwd_abs),6) AS leverage
        |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q11_max_drawdown" ->
      """WITH p AS (
        | SELECT user_id, value,
        |   max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        | FROM events)
        |SELECT user_id, round(min((value - peak)/peak),6) AS max_drawdown
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,

    // c03: Ljung–Box portmanteau on per-user log-returns, h=10 — the
    // full-series acf estimator, Q = n(n+2)·Σρ_k²/(n−k), p = the EVEN-
    // dof closed-form chi-square survival exp(−Q/2)·Σ_{j<5}(Q/2)^j/j!
    // (a finite polynomial — identical arithmetic in both engines; no
    // incomplete gamma anywhere). Lag list generated, not hand-typed.
    "c03_ljung_box" -> ljungBoxSql("ret"),

    // c11: McLeod–Li ARCH-effect test — the identical portmanteau
    // chain on SQUARED returns (volatility clustering detector; the
    // "does GARCH apply" gate for the q29/g05 surface)
    "c11_arch_lb" -> ljungBoxSql("ret*ret"),

    // c04: Jarque–Bera normality per user — the q04 two-pass moments
    // pattern over the q10 returns CTE; χ²₂ survival = exp(−JB/2)
    // exactly (dof 2), so p is closed-form in both engines
    "c04_jarque_bera" ->
      """WITH r AS (
        | SELECT user_id, ts, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events),
        |x AS (SELECT user_id, ret FROM r WHERE ret IS NOT NULL),
        |base AS (SELECT user_id, count(ret)::BIGINT AS n,
        |           avg(ret) AS mean, stddev_pop(ret) AS std_pop
        |         FROM x GROUP BY user_id),
        |z AS (SELECT x.user_id,
        |        avg(pow((ret - mean)/std_pop, 3)) AS skew,
        |        avg(pow((ret - mean)/std_pop, 4)) AS kurt_raw
        |      FROM x JOIN base USING (user_id) GROUP BY x.user_id),
        |jb AS (SELECT b.user_id, n, skew, kurt_raw - 3.0 AS kurt_excess,
        |         n/6.0 * (skew*skew + (kurt_raw-3.0)*(kurt_raw-3.0)/4.0)
        |           AS jb_stat
        |       FROM base b JOIN z USING (user_id))
        |SELECT user_id, n, round(skew, 6) AS skew,
        |  round(kurt_excess, 6) AS kurt_excess,
        |  round(jb_stat, 6) AS jb_stat,
        |  round(exp(-jb_stat/2.0), 6) AS p_value
        |FROM jb ORDER BY user_id""".stripMargin,

    // w16: truncated adjusted EWMA — the k-term Horner chains nest
    // exactly as SeriesOps.ewma's foldRight builds them
    "w16_ewma" -> {
      val k = 20
      val q = "0.8"
      def term(j: Int) =
        if (j == 0) "value" else s"lag(value, $j) OVER w"
      val num = (0 to k).foldRight("0.0")((j, acc) =>
        s"(coalesce(${term(j)}, 0.0) + $q*$acc)")
      val den = (0 to k).foldRight("0.0")((j, acc) =>
        s"((CASE WHEN ${term(j)} IS NOT NULL THEN 1.0 ELSE 0.0 END) " +
          s"+ $q*$acc)")
      s"""WITH b AS (SELECT user_id,
         |    row_number() OVER w AS rn,
         |    $num / $den AS ewma
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT user_id, rn, round(ewma, 6) AS ewma
         |FROM b ORDER BY user_id, rn""".stripMargin
    },

    // c06: Wald–Wolfowitz sign-runs test — zero-crossing signs over
    // per-user log-returns; E/Var/z closed-form, two-sided p via the
    // A&S 7.1.26 erfc Horner chain in the exact op order of
    // SeriesStats.runsTest
    "c06_runs_test" ->
      """WITH r AS (
        | SELECT user_id, ts, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events),
        |x AS (SELECT user_id, ts, event_id,
        |        CASE WHEN ret > 0 THEN 1 ELSE -1 END AS s
        |      FROM r WHERE ret IS NOT NULL AND ret <> 0),
        |c AS (SELECT user_id, s,
        |        CASE WHEN lag(s) OVER w IS NOT NULL
        |              AND s <> lag(s) OVER w THEN 1 ELSE 0 END AS chg
        |      FROM x
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id,
        |        sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT AS n_pos,
        |        sum(CASE WHEN s = -1 THEN 1 ELSE 0 END)::BIGINT AS n_neg,
        |        (1 + sum(chg))::BIGINT AS n_runs
        |      FROM c GROUP BY user_id),
        |z AS (SELECT user_id, n_pos, n_neg, n_runs,
        |        CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |          (n_runs::DOUBLE -
        |            (2.0*n_pos::DOUBLE*n_neg::DOUBLE
        |               /(n_pos::DOUBLE + n_neg::DOUBLE) + 1.0))
        |          / sqrt(2.0*n_pos::DOUBLE*n_neg::DOUBLE
        |              *(2.0*n_pos::DOUBLE*n_neg::DOUBLE
        |                - (n_pos::DOUBLE + n_neg::DOUBLE))
        |            /((n_pos::DOUBLE + n_neg::DOUBLE)
        |              *(n_pos::DOUBLE + n_neg::DOUBLE)
        |              *((n_pos::DOUBLE + n_neg::DOUBLE) - 1.0)))
        |        END AS zv
        |      FROM g),
        |e AS (SELECT user_id, n_pos, n_neg, n_runs, zv,
        |        abs(zv)/sqrt(2.0) AS ax,
        |        1.0/(1.0 + 0.3275911*(abs(zv)/sqrt(2.0))) AS t
        |      FROM z)
        |SELECT user_id, n_pos, n_neg, n_runs,
        |  round(zv, 6) AS z_score,
        |  CASE WHEN zv IS NOT NULL THEN
        |    round(t*(0.254829592 + t*(-0.284496736 + t*(1.421413741
        |      + t*(-1.453152027 + t*1.061405429)))) * exp(-ax*ax), 6)
        |  END AS p_value
        |FROM e ORDER BY user_id""".stripMargin,

    // c08: CUSUM drift — centered running sum per user (the q06 cumsum
    // precedent), max/min excursion + rescaled range R/(σ√n)
    // c10: KPSS level-stationarity — Bartlett long-run variance at the
    // statsmodels-legacy bandwidth (capped at 8), piecewise-linear
    // table p; the s² chain and the interpolation slopes are emitted
    // from the same Scala doubles the Spark plan evaluates
    "c10_kpss" -> {
      val maxLag = 8
      val lags = (1 to maxLag).map(j =>
        s"lag(e, $j) OVER w AS e$j").mkString(",\n        |        ")
      val gsums = (1 to maxLag).map(j =>
        s"sum(CASE WHEN $j <= l THEN e*e$j END) AS g$j")
        .mkString(",\n        |        ")
      val s2chain = (1 to maxLag).map(j =>
        s"+ 2.0*(CASE WHEN $j <= n_lags THEN (1.0 - $j.0/" +
          s"(n_lags::DOUBLE + 1.0))*(coalesce(g$j, 0.0)/" +
          s"n_obs::DOUBLE) ELSE 0.0 END)").mkString(" ")
      def slope(x0: Double, p0: Double, x1: Double, p1: Double) =
        (p1 - p0) / (x1 - x0)
      s"""WITH r AS (
        | SELECT user_id, ts, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events),
        |x AS (SELECT user_id, ts, event_id, ret,
        |        avg(ret) OVER (PARTITION BY user_id) AS mu,
        |        count(*) OVER (PARTITION BY user_id) AS n
        |      FROM r WHERE ret IS NOT NULL),
        |e0 AS (SELECT user_id, ts, event_id, n, ret - mu AS e,
        |        sum(ret - mu) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS s,
        |        least(floor(4.0 * pow(n::DOUBLE/100.0, 0.25)),
        |          $maxLag) AS l
        |      FROM x),
        |le AS (SELECT user_id, n, e, s, l,
        |        $lags
        |      FROM e0
        |      WINDOW w AS (PARTITION BY user_id
        |        ORDER BY ts, event_id)),
        |g AS (SELECT user_id, count(*)::BIGINT AS n_obs,
        |        max(l)::BIGINT AS n_lags,
        |        sum(s*s) AS ss, sum(e*e) AS g0,
        |        $gsums
        |      FROM le GROUP BY user_id),
        |v AS (SELECT user_id, n_obs, n_lags,
        |        g0/n_obs::DOUBLE $s2chain AS s2, ss
        |      FROM g),
        |st AS (SELECT user_id, n_obs, n_lags,
        |        ss/(n_obs::DOUBLE*n_obs::DOUBLE)/s2 AS stat
        |      FROM v)
        |SELECT user_id, n_obs, n_lags,
        |  round(stat, 6) AS kpss_stat,
        |  round(CASE WHEN stat <= 0.347 THEN 0.10
        |    WHEN stat <= 0.463 THEN
        |      0.10 + (stat - 0.347) * ${slope(0.347, 0.10, 0.463, 0.05)}
        |    WHEN stat <= 0.574 THEN
        |      0.05 + (stat - 0.463) * ${slope(0.463, 0.05, 0.574, 0.025)}
        |    WHEN stat <= 0.739 THEN
        |      0.025 + (stat - 0.574) * ${slope(0.574, 0.025, 0.739, 0.01)}
        |    ELSE 0.01 END, 6) AS p_value
        |FROM st ORDER BY user_id""".stripMargin
    },

    // c09: Mann–Kendall trend + Sen's slope — pairwise over the rn ≤
    // 2048 prefix (never binds at sf0.01); all integer accumulations
    // exact in double, Sen median = explicit two-middle-rank average
    // ((m+1)//2, (m+2)//2 — one (a+b) rounding + exact /2 on both
    // engines), erfc via the c06 A&S Horner chain in identical order
    "c09_mann_kendall" ->
      """WITH r0 AS (
        | SELECT user_id, ts, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events),
        |r AS (SELECT user_id, ret,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS rn
        |      FROM r0 WHERE ret IS NOT NULL),
        |rc AS (SELECT * FROM r WHERE rn <= 2048),
        |p AS (SELECT a.user_id,
        |        CASE WHEN b.ret > a.ret THEN 1
        |             WHEN b.ret < a.ret THEN -1 ELSE 0 END AS sg,
        |        (b.ret - a.ret) / (b.rn - a.rn)::DOUBLE AS slope
        |      FROM rc a JOIN rc b
        |        ON a.user_id = b.user_id AND b.rn > a.rn),
        |sl AS (SELECT user_id, slope,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY slope) AS rk,
        |         count(*) OVER (PARTITION BY user_id) AS m
        |       FROM p),
        |sen AS (SELECT user_id,
        |          sum(CASE WHEN rk = (m+1)//2 OR rk = (m+2)//2
        |                   THEN slope END)
        |            / count(CASE WHEN rk = (m+1)//2 OR rk = (m+2)//2
        |                         THEN 1 END) AS sen_raw
        |        FROM sl GROUP BY user_id),
        |s AS (SELECT user_id, sum(sg)::BIGINT AS s_stat
        |      FROM p GROUP BY user_id),
        |tg AS (SELECT user_id, count(*)::DOUBLE AS t
        |       FROM rc GROUP BY user_id, ret),
        |tt AS (SELECT user_id, sum(t*(t-1.0)*(2.0*t+5.0)) AS tie_term
        |       FROM tg GROUP BY user_id),
        |g AS (SELECT user_id, count(*)::BIGINT AS n_obs
        |      FROM rc GROUP BY user_id),
        |v AS (SELECT g.user_id, n_obs, s_stat, sen_raw,
        |        (n_obs::DOUBLE*(n_obs::DOUBLE-1.0)
        |           *(2.0*n_obs::DOUBLE+5.0) - tie_term)/18.0 AS var_s
        |      FROM g JOIN s USING (user_id) JOIN sen USING (user_id)
        |        JOIN tt USING (user_id)),
        |z AS (SELECT *, CASE WHEN var_s > 0 THEN
        |        CASE WHEN s_stat > 0
        |               THEN (s_stat::DOUBLE - 1.0)/sqrt(var_s)
        |             WHEN s_stat < 0
        |               THEN (s_stat::DOUBLE + 1.0)/sqrt(var_s)
        |             ELSE 0.0 END END AS zv
        |      FROM v),
        |e AS (SELECT *, abs(zv)/sqrt(2.0) AS ax,
        |        1.0/(1.0 + 0.3275911*(abs(zv)/sqrt(2.0))) AS t
        |      FROM z)
        |SELECT user_id, n_obs, s_stat,
        |  round(zv, 6) + 0.0 AS z_score,
        |  CASE WHEN zv IS NOT NULL THEN
        |    round(t*(0.254829592 + t*(-0.284496736 + t*(1.421413741
        |      + t*(-1.453152027 + t*1.061405429)))) * exp(-ax*ax), 6)
        |  END AS p_value,
        |  round(sen_raw, 6) + 0.0 AS sen_slope
        |FROM e ORDER BY user_id""".stripMargin,

    // p04: degree-oriented triangle counting over the top-64-token
    // collocation graph — orientation, wedge join, close join and the
    // three-way count replayed literally; all integers, the clustering
    // coefficient the single r6 division
    "p04_token_triangles" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |tk AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |tf AS (SELECT token, count(*) AS f FROM tk GROUP BY token),
        |top AS (SELECT token FROM tf ORDER BY f DESC, token LIMIT 64),
        |dt AS (SELECT DISTINCT doc_id, token FROM tk
        |       JOIN top USING (token)),
        |e AS (SELECT l.token AS u, r.token AS v
        |      FROM dt l JOIN dt r ON l.doc_id = r.doc_id
        |                         AND l.token < r.token
        |      GROUP BY 1, 2 HAVING count(*) >= 5),
        |deg AS (SELECT node, count(*)::BIGINT AS degree FROM (
        |    SELECT u AS node FROM e
        |    UNION ALL SELECT v AS node FROM e) GROUP BY node),
        |o AS (SELECT
        |    CASE WHEN du.degree < dv.degree
        |           OR (du.degree = dv.degree AND e.u < e.v)
        |         THEN e.u ELSE e.v END AS s,
        |    CASE WHEN du.degree < dv.degree
        |           OR (du.degree = dv.degree AND e.u < e.v)
        |         THEN e.v ELSE e.u END AS t
        |  FROM e JOIN deg du ON du.node = e.u
        |         JOIN deg dv ON dv.node = e.v),
        |w AS (SELECT e1.s AS w0, least(e1.t, e2.t) AS x,
        |        greatest(e1.t, e2.t) AS y
        |      FROM o e1 JOIN o e2 ON e1.s = e2.s AND e1.t < e2.t),
        |tr AS (SELECT w0, x, y FROM w
        |       JOIN e ON e.u = w.x AND e.v = w.y),
        |pn AS (SELECT node, count(*)::BIGINT AS n_triangles FROM (
        |    SELECT w0 AS node FROM tr
        |    UNION ALL SELECT x AS node FROM tr
        |    UNION ALL SELECT y AS node FROM tr) GROUP BY node)
        |SELECT deg.node, degree,
        |  coalesce(n_triangles, 0)::BIGINT AS n_triangles,
        |  CASE WHEN degree >= 2 THEN
        |    round(2.0 * coalesce(n_triangles, 0)::DOUBLE /
        |      (degree::DOUBLE * (degree::DOUBLE - 1.0)), 6)
        |  END AS clustering
        |FROM deg LEFT JOIN pn USING (node)
        |ORDER BY deg.node""".stripMargin,

    // c14: Wilcoxon rank-sum / Mann–Whitney U between chronological
    // halves — average ranks (rank + (t−1)/2, exact halves), per-row
    // tie term Σ(eq²−1), continuity-corrected z, the shared erfc chain
    // c16: Cramér–von Mises two-sample drift — Anderson's rank
    // formula between the chronological halves; pooled and own-sample
    // ranks replay the identical (ret, ts, event_id) total order, all
    // Σ(r−i)² exact integers, final products/divisions op-order-
    // mirrored against the Spark expression
    "c16_cvm_drift" ->
      """WITH r0 AS (
        | SELECT user_id, ts, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events),
        |x AS (SELECT user_id, ts, event_id, ret FROM r0
        |      WHERE ret IS NOT NULL),
        |b AS (SELECT user_id, ret, ts, event_id,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS n_all,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ret, ts, event_id) AS r
        |      FROM x),
        |h AS (SELECT user_id, r, ret, ts, event_id,
        |        CASE WHEN rn <= n_all/2.0 THEN 1 ELSE 2 END AS half
        |      FROM b),
        |o AS (SELECT user_id, half, r,
        |        row_number() OVER (PARTITION BY user_id, half
        |          ORDER BY ret, ts, event_id) AS i
        |      FROM h),
        |g AS (SELECT user_id,
        |        sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |        sum(CASE WHEN half = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
        |        sum(CASE WHEN half = 1 THEN (r - i)*(r - i)
        |            ELSE 0 END)::BIGINT AS s1,
        |        sum(CASE WHEN half = 2 THEN (r - i)*(r - i)
        |            ELSE 0 END)::BIGINT AS s2
        |      FROM o GROUP BY user_id),
        |v AS (SELECT user_id, n1, n2,
        |        n1::DOUBLE * s1::DOUBLE + n2::DOUBLE * s2::DOUBLE AS u,
        |        n1::DOUBLE AS n1d, n2::DOUBLE AS n2d,
        |        n1::DOUBLE + n2::DOUBLE AS nn
        |      FROM g)
        |SELECT user_id, n1, n2, round(u, 6) AS u_stat,
        |  round(u/(n1d*n2d*nn) - (4.0*n1d*n2d - 1.0)/(6.0*nn), 6)
        |    AS t_stat
        |FROM v ORDER BY user_id""".stripMargin,

    "c14_rank_sum_drift" ->
      """WITH r0 AS (
        | SELECT user_id, ts, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events),
        |x AS (SELECT user_id, ts, event_id, ret FROM r0
        |      WHERE ret IS NOT NULL),
        |b AS (SELECT user_id, ret,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS n_all,
        |        rank() OVER (PARTITION BY user_id ORDER BY ret) AS rk,
        |        count(*) OVER (PARTITION BY user_id, ret) AS eq
        |      FROM x),
        |h AS (SELECT user_id,
        |        CASE WHEN rn <= n_all/2.0 THEN 1 ELSE 2 END AS half,
        |        rk::DOUBLE + (eq::DOUBLE - 1.0)/2.0 AS avgrk, eq
        |      FROM b),
        |g AS (SELECT user_id,
        |        sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |        sum(CASE WHEN half = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
        |        sum(CASE WHEN half = 1 THEN avgrk ELSE 0.0 END) AS r1,
        |        sum(eq*eq - 1)::BIGINT AS tie
        |      FROM h GROUP BY user_id),
        |v AS (SELECT user_id, n1, n2,
        |        r1 - n1::DOUBLE * (n1::DOUBLE + 1.0) / 2.0 AS u,
        |        n1::DOUBLE * n2::DOUBLE / 2.0 AS mu,
        |        n1::DOUBLE * n2::DOUBLE / 12.0 *
        |          ((n1::DOUBLE + n2::DOUBLE + 1.0)
        |           - tie::DOUBLE / ((n1::DOUBLE + n2::DOUBLE)
        |               * (n1::DOUBLE + n2::DOUBLE - 1.0))) AS var_u
        |      FROM g),
        |z AS (SELECT user_id, n1, n2, u,
        |        CASE WHEN var_u > 0 THEN
        |          CASE WHEN u > mu THEN (u - 0.5 - mu)/sqrt(var_u)
        |               WHEN u < mu THEN (u + 0.5 - mu)/sqrt(var_u)
        |               ELSE 0.0 END END AS zv
        |      FROM v),
        |e AS (SELECT *, abs(zv)/sqrt(2.0) AS ax,
        |        1.0/(1.0 + 0.3275911*(abs(zv)/sqrt(2.0))) AS t
        |      FROM z)
        |SELECT user_id, n1, n2,
        |  round(u, 6) AS u_stat,
        |  round(zv, 6) + 0.0 AS z_score,
        |  CASE WHEN zv IS NOT NULL THEN
        |    round(t*(0.254829592 + t*(-0.284496736 + t*(1.421413741
        |      + t*(-1.453152027 + t*1.061405429)))) * exp(-ax*ax), 6)
        |  END AS p_value
        |FROM e ORDER BY user_id""".stripMargin,

    // c12: Pettitt change-point — rank-telescoped V_t = n − 2·rk + 2
    // − eq, integer cumsum U_t, K = max|U_t| with first-t tie-break;
    // every accumulation exact integer, the one FP expression (the
    // p-value) mirrors the Spark op order token-for-token
    "c12_pettitt" ->
      """WITH x AS (SELECT user_id, ts, event_id, value
        |           FROM events WHERE value IS NOT NULL),
        |r AS (SELECT user_id, ts, event_id,
        |        count(*) OVER (PARTITION BY user_id) AS n,
        |        rank() OVER (PARTITION BY user_id
        |          ORDER BY value) AS rk,
        |        count(*) OVER (PARTITION BY user_id, value) AS eq
        |      FROM x),
        |u AS (SELECT user_id, n,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS t,
        |        sum(n - 2*rk + 2 - eq) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS uu
        |      FROM r),
        |b AS (SELECT user_id, n, t, abs(uu)::BIGINT AS au
        |      FROM u WHERE t < n),
        |g AS (SELECT user_id, max(n)::BIGINT AS n_obs,
        |        max(au)::BIGINT AS k_stat
        |      FROM b GROUP BY user_id),
        |ta AS (SELECT b.user_id, min(b.t)::BIGINT AS tau
        |       FROM b JOIN g ON b.user_id = g.user_id
        |                    AND b.au = g.k_stat
        |       GROUP BY b.user_id)
        |SELECT g.user_id, n_obs, k_stat, tau,
        |  round(least(1.0, 2.0 * exp(-6.0 * k_stat::DOUBLE
        |      * k_stat::DOUBLE
        |      / (n_obs::DOUBLE * n_obs::DOUBLE * n_obs::DOUBLE
        |         + n_obs::DOUBLE * n_obs::DOUBLE))), 6) AS p_value
        |FROM g JOIN ta USING (user_id)
        |ORDER BY g.user_id""".stripMargin,

    // c13: Anderson–Darling normality — z from sample mean/std
    // (ddof 1), sorted rank k with the reversed-index pairing folded
    // in, Φ via the c06/c09 A&S erfc Horner chain evaluated at |u|
    // (both branches — identical to the Spark when/otherwise), tails
    // floored at 1e-300, D'Agostino table 4.9 p-value chain
    "c13_anderson_darling" ->
      """WITH r0 AS (
        | SELECT user_id, ts, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events),
        |x AS (SELECT user_id, ts, event_id, ret
        |      FROM r0 WHERE ret IS NOT NULL),
        |m AS (SELECT user_id, ret,
        |        count(*) OVER (PARTITION BY user_id) AS n,
        |        avg(ret) OVER (PARTITION BY user_id) AS mu,
        |        stddev_samp(ret) OVER (PARTITION BY user_id) AS sd,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ret, ts, event_id) AS k
        |      FROM x),
        |z AS (SELECT user_id, n, k,
        |        CASE WHEN sd > 0 THEN (ret - mu)/sd END AS zz FROM m),
        |e AS (SELECT user_id, n, k,
        |        (-zz/sqrt(2.0)) >= 0 AS upos,
        |        abs(-zz/sqrt(2.0)) AS a1,
        |        (zz/sqrt(2.0)) >= 0 AS vpos,
        |        abs(zz/sqrt(2.0)) AS a2
        |      FROM z),
        |c AS (SELECT *, 1.0/(1.0 + 0.3275911*a1) AS t1,
        |        1.0/(1.0 + 0.3275911*a2) AS t2
        |      FROM e),
        |h AS (SELECT user_id, n, k, upos, vpos,
        |        t1*(0.254829592 + t1*(-0.284496736 + t1*(1.421413741
        |          + t1*(-1.453152027 + t1*1.061405429))))*exp(-a1*a1)
        |          AS ch1,
        |        t2*(0.254829592 + t2*(-0.284496736 + t2*(1.421413741
        |          + t2*(-1.453152027 + t2*1.061405429))))*exp(-a2*a2)
        |          AS ch2
        |      FROM c),
        |f AS (SELECT user_id, n, k,
        |        0.5*(CASE WHEN upos THEN ch1 ELSE 2.0 - ch1 END)
        |          AS phi,
        |        0.5*(CASE WHEN vpos THEN ch2 ELSE 2.0 - ch2 END)
        |          AS phic
        |      FROM h),
        |tm AS (SELECT user_id, n,
        |        CASE WHEN phi IS NOT NULL THEN
        |          (2*k - 1)::DOUBLE * ln(greatest(phi, 1e-300))
        |          + (2*n - 2*k + 1)::DOUBLE * ln(greatest(phic, 1e-300))
        |        END AS term
        |      FROM f),
        |g AS (SELECT user_id, max(n)::BIGINT AS n_obs,
        |        sum(term) AS s
        |      FROM tm GROUP BY user_id),
        |a AS (SELECT user_id, n_obs,
        |        -(n_obs::DOUBLE) - s/n_obs::DOUBLE AS a2s
        |      FROM g),
        |aa AS (SELECT user_id, n_obs, a2s,
        |        a2s * (1.0 + 0.75/n_obs::DOUBLE
        |          + 2.25/(n_obs::DOUBLE * n_obs::DOUBLE)) AS ast
        |      FROM a)
        |SELECT user_id, n_obs,
        |  round(a2s, 6) AS a2_stat,
        |  round(ast, 6) AS a2_mod,
        |  CASE WHEN a2s IS NOT NULL THEN
        |  round(least(1.0, greatest(0.0,
        |    CASE WHEN ast >= 0.6 THEN
        |      exp(1.2937 - 5.709*ast + 0.0186*ast*ast)
        |    WHEN ast > 0.34 THEN
        |      exp(0.9177 - 4.279*ast - 1.38*ast*ast)
        |    WHEN ast > 0.2 THEN
        |      1.0 - exp(-8.318 + 42.796*ast - 59.938*ast*ast)
        |    ELSE
        |      1.0 - exp(-13.436 + 101.14*ast - 223.73*ast*ast)
        |    END)), 6) END AS p_value
        |FROM aa ORDER BY user_id""".stripMargin,

    "c08_cusum" ->
      """WITH r AS (
        | SELECT user_id, ts, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events),
        |x AS (SELECT user_id, ts, event_id, ret,
        |        avg(ret) OVER (PARTITION BY user_id) AS mu
        |      FROM r WHERE ret IS NOT NULL),
        |c AS (SELECT user_id, ret,
        |        sum(ret - mu) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |      FROM x),
        |g AS (SELECT user_id, count(*)::BIGINT AS n_obs,
        |        max(s) AS cmax, min(s) AS cmin,
        |        stddev_pop(ret) AS sd
        |      FROM c GROUP BY user_id)
        |SELECT user_id, n_obs,
        |  round(cmax, 6) + 0.0 AS cusum_max,
        |  round(cmin, 6) + 0.0 AS cusum_min,
        |  CASE WHEN sd > 0 THEN
        |    round((cmax - cmin)/(sd * sqrt(n_obs::DOUBLE)), 6)
        |  END AS rr_stat
        |FROM g ORDER BY user_id""".stripMargin,

    // c07: Welch drift test — first vs second chronological half of
    // each user's log-returns; op order mirrors SeriesStats.welchDrift
    // exactly (se1+se2 reused, A&S erfc Horner chain for p)
    "c07_welch_drift" ->
      """WITH r AS (
        | SELECT user_id, ts, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events),
        |x AS (SELECT user_id, ts, event_id, ret FROM r
        |      WHERE ret IS NOT NULL),
        |b AS (SELECT user_id, ret,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS n_all
        |      FROM x),
        |h AS (SELECT user_id, ret,
        |        CASE WHEN rn <= n_all/2.0 THEN 1 ELSE 2 END AS half
        |      FROM b),
        |g AS (SELECT user_id,
        |        sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |        sum(CASE WHEN half = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
        |        avg(CASE WHEN half = 1 THEN ret END) AS m1,
        |        avg(CASE WHEN half = 2 THEN ret END) AS m2,
        |        var_samp(CASE WHEN half = 1 THEN ret END) AS v1,
        |        var_samp(CASE WHEN half = 2 THEN ret END) AS v2
        |      FROM h GROUP BY user_id),
        |z AS (SELECT user_id, n1, n2, m1, m2,
        |        v1/n1 AS se1, v2/n2 AS se2 FROM g),
        |w AS (SELECT user_id, n1, n2, m1, m2, se1, se2,
        |        CASE WHEN n1 > 1 AND n2 > 1
        |             THEN (m1 - m2)/sqrt(se1 + se2) END AS t0,
        |        (se1 + se2)*(se1 + se2) /
        |          (se1*se1/(n1 - 1.0) + se2*se2/(n2 - 1.0)) AS dfw
        |      FROM z),
        |e AS (SELECT *, abs(t0)/sqrt(2.0) AS ax,
        |        1.0/(1.0 + 0.3275911*(abs(t0)/sqrt(2.0))) AS t
        |      FROM w)
        |SELECT user_id, n1, n2,
        |  round(m1 - m2, 6) AS mean_diff,
        |  round(t0, 6) AS t_stat,
        |  CASE WHEN t0 IS NOT NULL THEN round(dfw, 6) END AS df_w,
        |  CASE WHEN t0 IS NOT NULL THEN
        |    round(t*(0.254829592 + t*(-0.284496736 + t*(1.421413741
        |      + t*(-1.453152027 + t*1.061405429)))) * exp(-ax*ax), 6)
        |  END AS p_value
        |FROM e ORDER BY user_id""".stripMargin,

    // t32: per-doc char Shannon entropy — H = ln n − (Σ c·ln c)/n;
    // the Σ is ordered by char to mirror the engine's sorted fold
    "t32_char_entropy" ->
      """WITH c AS (SELECT doc_id,
        |    unnest(string_split_regex(text, '')) AS ch FROM documents),
        |ct AS (SELECT doc_id, ch, count(*)::BIGINT AS c
        |       FROM c GROUP BY doc_id, ch),
        |a AS (SELECT doc_id, sum(c)::BIGINT AS n_chars_h,
        |        count(*)::BIGINT AS n_uniq,
        |        sum(c::DOUBLE * ln(c::DOUBLE) ORDER BY ch) AS acc
        |      FROM ct GROUP BY doc_id)
        |SELECT doc_id, n_chars_h, n_uniq,
        |  round(ln(n_chars_h::DOUBLE) - acc/n_chars_h::DOUBLE, 6)
        |    AS entropy
        |FROM a WHERE n_chars_h > 0 ORDER BY doc_id""".stripMargin,

    // t33: Heaps-law fit — first-doc-per-token marks vocabulary entry;
    // integer cumsums in doc-id order, then the t31 five-sum OLS
    // t34: robust winnowing (MOSS) — k=8 grams hashed with the
    // portable h64, window w=4 rightmost-min via row_number over
    // (hash ASC, pos DESC) on exploded (window, member) pairs, per-doc
    // digest of the distinct selection set
    "t34_winnowing" ->
      (winnowSelCte +
        """SELECT doc_id, max(ng)::BIGINT AS n_grams,
          |  max(nw)::BIGINT AS n_windows,
          |  count(*)::BIGINT AS n_sel,
          |  count(DISTINCT h)::BIGINT AS n_fp,
          |  bit_xor(h) AS fp_xor, min(h) AS fp_min, max(h) AS fp_max
          |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // t37: winnow-fingerprint decontamination — the t34 selection CTE
    // reduced to DISTINCT (doc, hash) fingerprints per even/odd half,
    // boilerplate fingerprints dropped at df > 32 (counted across both
    // halves), fingerprint-keyed join, pair counts >= 2; all integers
    "t37_winnow_decontaminate" ->
      (winnowSelCte +
        """,fp AS (SELECT DISTINCT doc_id, h FROM sel),
          |rare AS (SELECT h FROM fp GROUP BY h
          |         HAVING count(*) <= 32)
          |SELECT a.doc_id AS train_id, b.doc_id AS bench_id,
          |  count(*)::BIGINT AS n_shared
          |FROM fp a JOIN rare USING (h) JOIN fp b USING (h)
          |WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
          |GROUP BY 1, 2 HAVING count(*) >= 2
          |ORDER BY train_id, bench_id""".stripMargin),

    // t35: Flesch / FK readability — fixture periods injected before
    // three common corpus words (regexp_replace 'g'); words/syllables
    // from lowercased regexp_extract_all, sentences clamped to ≥ 1
    "t35_readability" ->
      """WITH b AS (SELECT doc_id,
        |    regexp_replace(text, ' (table|value|key) ', '. \1 ', 'g')
        |      AS body
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    len(regexp_extract_all(lower(body), '[a-z0-9]+'))::BIGINT
        |      AS n_words,
        |    greatest(len(regexp_extract_all(body, '[.!?]+')),
        |      1)::BIGINT AS n_sentences,
        |    len(regexp_extract_all(lower(body), '[aeiouy]+'))::BIGINT
        |      AS n_syllables
        |  FROM b)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    round(206.835 - 1.015*(n_words::DOUBLE/n_sentences::DOUBLE)
        |      - 84.6*(n_syllables::DOUBLE/n_words::DOUBLE), 6)
        |  END AS flesch,
        |  CASE WHEN n_words > 0 THEN
        |    round(0.39*(n_words::DOUBLE/n_sentences::DOUBLE)
        |      + 11.8*(n_syllables::DOUBLE/n_words::DOUBLE) - 15.59, 6)
        |  END AS fk_grade
        |FROM c ORDER BY doc_id""".stripMargin,

    // t36: corpus-pair bigram overlap — distinct word bigrams per
    // source, exact |A∩B| via the bigram-keyed self-join, all source
    // pairs kept (zero-intersection pairs included)
    "t36_ngram_overlap" ->
      """WITH f AS (SELECT source AS g,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS a
        |  FROM documents),
        |f2 AS (SELECT g, a FROM f WHERE len(a) >= 2),
        |bg0 AS (SELECT g, a,
        |          unnest(generate_series(1, len(a) - 1))::INT AS i
        |        FROM f2),
        |bg AS (SELECT DISTINCT g, a[i] || ' ' || a[i+1] AS bigram
        |       FROM bg0),
        |sz AS (SELECT g, count(*)::BIGINT AS n FROM bg GROUP BY g),
        |it AS (SELECT x.g AS group_a, y.g AS group_b,
        |         count(*)::BIGINT AS ni
        |       FROM bg x JOIN bg y
        |         ON x.bigram = y.bigram AND x.g < y.g
        |       GROUP BY 1, 2),
        |pr AS (SELECT a.g AS group_a, a.n AS n_a,
        |         b.g AS group_b, b.n AS n_b
        |       FROM sz a JOIN sz b ON a.g < b.g)
        |SELECT group_a, group_b, n_a, n_b,
        |  coalesce(ni, 0)::BIGINT AS n_inter,
        |  round(coalesce(ni, 0)::DOUBLE
        |    / (n_a + n_b - coalesce(ni, 0))::DOUBLE, 6) AS jaccard,
        |  round(coalesce(ni, 0)::DOUBLE / n_a::DOUBLE, 6)
        |    AS containment_a,
        |  round(coalesce(ni, 0)::DOUBLE / n_b::DOUBLE, 6)
        |    AS containment_b
        |FROM pr LEFT JOIN it USING (group_a, group_b)
        |ORDER BY group_a, group_b""".stripMargin,

    "t33_heaps_fit" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |pd AS (SELECT doc_id, count(*)::BIGINT AS n_toks
        |       FROM t GROUP BY doc_id),
        |fd AS (SELECT token, min(doc_id) AS fd FROM t GROUP BY token),
        |nt AS (SELECT fd AS doc_id, count(*)::BIGINT AS new_types
        |       FROM fd GROUP BY fd),
        |bd AS (SELECT pd.doc_id, n_toks,
        |         coalesce(nt.new_types, 0) AS new_types
        |       FROM pd LEFT JOIN nt USING (doc_id)),
        |c AS (SELECT doc_id,
        |        sum(n_toks) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nn,
        |        sum(new_types) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vv
        |      FROM bd),
        |xy AS (SELECT ln(nn::DOUBLE) AS x, ln(vv::DOUBLE) AS y FROM c),
        |s AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
        |        sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        |      FROM xy)
        |SELECT n::BIGINT AS n_docs,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS beta,
        |  round(exp((sy - ((n*sxy - sx*sy)/(n*sxx - sx*sx))*sx) / n), 6)
        |    AS k_coef,
        |  round((n*sxy - sx*sy)*(n*sxy - sx*sy)
        |    / ((n*sxx - sx*sx)*(n*syy - sy*sy)), 6) AS r2
        |FROM s""".stripMargin,

    // t31: Zipf rank-frequency fit — token tf, (f DESC, token ASC)
    // rank, OLS of ln(f) on ln(rank) as five sums; α = −slope
    "t31_zipf_fit" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
        |              FROM documents),
        |tf AS (SELECT token, count(*)::BIGINT AS f FROM toks
        |       WHERE token <> '' GROUP BY token),
        |rk AS (SELECT f,
        |         row_number() OVER (ORDER BY f DESC, token) AS rk
        |       FROM tf),
        |xy AS (SELECT ln(rk::DOUBLE) AS x, ln(f::DOUBLE) AS y FROM rk
        |       WHERE rk <= 1000),
        |s AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
        |        sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        |      FROM xy)
        |SELECT n::BIGINT AS n_terms,
        |  round(-( (n*sxy - sx*sy) / (n*sxx - sx*sx) ), 6) AS alpha,
        |  round((n*sxy - sx*sy)*(n*sxy - sx*sy)
        |    / ((n*sxx - sx*sx)*(n*syy - sy*sy)), 6) AS r2
        |FROM s""".stripMargin,

    // a18: HyperLogLog approx-distinct per event_type — register-exact
    // twin of graft.stats.Hll over the portable h64: bucket = top p
    // bits, rank = 60-p+1 - bitlength(remainder), harmonic sum in
    // exact DECIMAL(38,0) units of 2^-58, raw ↔ linear-counting switch
    // at 2.5·m; p=4 exercises the raw branch, p=8 linear counting
    "a18_hll_distinct" -> {
      def sketch(tag: String, p: Int): String = {
        val m = 1 << p
        val wBits = 60 - p
        val alpha =
          if (p == 4) "0.673" else "(0.7213/(1 + 1.079/" + m + ".0))"
        s"""r$tag AS (SELECT event_type, h >> $wBits AS bucket,
           |    max(CASE WHEN (h & ((1::BIGINT << $wBits) - 1)) = 0
           |             THEN ${wBits + 1}
           |             ELSE ${wBits + 1} -
           |               length(bin(h & ((1::BIGINT << $wBits) - 1)))
           |        END)::INT AS rank
           |  FROM h GROUP BY 1, 2),
           |c$tag AS (SELECT event_type, rank, count(*)::BIGINT AS cnt
           |          FROM r$tag GROUP BY 1, 2),
           |s$tag AS (SELECT event_type, sum(cnt) AS present,
           |    sum((cnt * pow(2, 58 - rank))::DECIMAL(38,0)) AS su
           |  FROM c$tag GROUP BY 1),
           |f$tag AS (SELECT event_type,
           |    ($m - present)::BIGINT AS zeros,
           |    $alpha*$m*$m / ((su + (($m - present) *
           |        pow(2, 58))::DECIMAL(38,0))::DOUBLE / pow(2, 58))
           |      AS raw
           |  FROM s$tag),
           |g$tag AS (SELECT event_type, zeros AS zeros_$tag,
           |    round(CASE WHEN raw <= ${2.5 * m} AND zeros > 0
           |               THEN $m * ln($m.0 / zeros) ELSE raw END, 6)
           |      AS est_$tag
           |  FROM f$tag)""".stripMargin
      }
      s"""WITH e AS (SELECT event_type, user_id::VARCHAR AS uid
         |           FROM events),
         |h AS (SELECT event_type, ${h64Sql("uid", "'41'")} AS h FROM e),
         |${sketch("p4", 4)},
         |${sketch("p8", 8)},
         |ex AS (SELECT event_type, count(DISTINCT uid)::BIGINT AS n_exact
         |       FROM e GROUP BY 1)
         |SELECT event_type, est_p4, zeros_p4, est_p8, zeros_p8, n_exact
         |FROM gp4 JOIN gp8 USING (event_type) JOIN ex USING (event_type)
         |ORDER BY event_type""".stripMargin
    },

    // a20: hash-sampled quantiles — deterministic h64 sample at
    // p = 1/8 (threshold 2^57), type-7 interpolation via the explicit
    // lo/hi-rank formula; full-data exact side as the witness
    "a20_hash_quantiles" -> {
      val h = h64Sql("event_id::VARCHAR", "'20'")
      s"""WITH vals AS (SELECT value, $h AS h FROM events),
         |rs AS (SELECT value, row_number() OVER (ORDER BY value) AS rn,
         |         count(*) OVER () AS m
         |       FROM vals WHERE h < ${1L << 57}),
         |rf AS (SELECT value, row_number() OVER (ORDER BY value) AS rn,
         |         count(*) OVER () AS m
         |       FROM vals),
         |qs(q) AS (VALUES (0.25),(0.5),(0.75),(0.9),(0.99)),
         |qa AS (SELECT q, (SELECT max(m) FROM rs) AS m,
         |         ((SELECT max(m) FROM rs)-1)*q AS x,
         |         floor(((SELECT max(m) FROM rs)-1)*q) AS fl
         |       FROM qs),
         |ea AS (SELECT qa.q, qa.m AS n_sample,
         |         lo.value + (hi.value - lo.value) * (x - fl)
         |           AS est_sample
         |       FROM qa JOIN rs lo ON lo.rn = fl + 1
         |         JOIN rs hi ON hi.rn = least(fl + 2, qa.m)),
         |qb AS (SELECT q, (SELECT max(m) FROM rf) AS m,
         |         ((SELECT max(m) FROM rf)-1)*q AS x,
         |         floor(((SELECT max(m) FROM rf)-1)*q) AS fl
         |       FROM qs),
         |eb AS (SELECT qb.q, qb.m AS n_full,
         |         lo.value + (hi.value - lo.value) * (x - fl)
         |           AS exact_full
         |       FROM qb JOIN rf lo ON lo.rn = fl + 1
         |         JOIN rf hi ON hi.rn = least(fl + 2, qb.m))
         |SELECT q, n_sample, n_full,
         |  round(est_sample, 6) AS est_sample,
         |  round(exact_full, 6) AS exact_full,
         |  round(abs(est_sample - exact_full), 6) AS abs_err
         |FROM ea JOIN eb USING (q) ORDER BY q""".stripMargin
    },

    // a19: Count–Min sketch — cell-exact twin of graft.stats.CountMin
    // (d=4 portable-h64 rows salted 19..22, w=64 buckets); probes =
    // exact top-32 tokens (count DESC, token ASC), estimate = min
    // over the 4 cells; counters are exact integers, no FP anywhere
    "a19_countmin" -> {
      def hb(r: Int) = s"(${h64Sql("token", s"'${19 + r}'")} % 64)"
      val rows = (0 until 4).map(r =>
        s"SELECT $r AS r, ${hb(r)} AS b FROM tk").mkString(" UNION ALL ")
      val probeB = (0 until 4).map(r =>
        s"WHEN $r THEN ${hb(r)}").mkString(" ")
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
         |              FROM documents),
         |tk AS (SELECT token FROM toks WHERE token <> ''),
         |cell AS (SELECT r, b, count(*)::BIGINT AS cnt FROM (
         |        $rows)
         |      GROUP BY r, b),
         |ex AS (SELECT token, count(*)::BIGINT AS n_exact
         |       FROM tk GROUP BY token),
         |pr AS (SELECT token, n_exact,
         |         row_number() OVER (ORDER BY n_exact DESC, token)
         |           AS rk
         |       FROM ex QUALIFY rk <= 32),
         |pb AS (SELECT p.rk, p.token, p.n_exact, rr.r,
         |         CASE rr.r $probeB END AS b
         |       FROM pr p CROSS JOIN
         |         (SELECT unnest(generate_series(0, 3)) AS r) rr)
         |SELECT pb.rk, pb.token, pb.n_exact,
         |  min(coalesce(cell.cnt, 0)) AS cm_est,
         |  (min(coalesce(cell.cnt, 0)) - pb.n_exact)::BIGINT AS overcount
         |FROM pb LEFT JOIN cell ON cell.r = pb.r AND cell.b = pb.b
         |GROUP BY pb.rk, pb.token, pb.n_exact
         |ORDER BY pb.rk""".stripMargin
    },

    // w15: classical additive seasonal decomposition, period 7 —
    // centered MA trend (full-window-only), per-phase detrended means
    // centered to zero sum, residual; both engines share the exact
    // window/agg/join shape
    "w15_seasonal_decompose" ->
      (w15Cte +
        """SELECT user_id, rn, trend, seasonal, resid
          |FROM dec ORDER BY user_id, rn""".stripMargin),

    // c15: trend / seasonal strength (Wang–Smith–Hyndman) over the w15
    // decomposition — one further keyed agg over the r6-rounded
    // components (identical doubles on both engines), complete rows
    // only (trend non-null)
    "c15_decomp_strength" ->
      (w15Cte +
        """,g AS (SELECT user_id, count(*)::BIGINT AS n_obs,
          |    var_samp(resid) AS vr,
          |    var_samp(trend + resid) AS vtr,
          |    var_samp(seasonal + resid) AS vsr
          |  FROM dec WHERE trend IS NOT NULL GROUP BY user_id)
          |SELECT user_id, n_obs,
          |  CASE WHEN vtr > 0 THEN
          |    round(greatest(0.0, 1.0 - vr/vtr), 6) END AS f_trend,
          |  CASE WHEN vsr > 0 THEN
          |    round(greatest(0.0, 1.0 - vr/vsr), 6) END AS f_seasonal
          |FROM g ORDER BY user_id""".stripMargin),

    "q12_histogram_price" ->
      """WITH rng AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem),
        |b AS (SELECT least(floor((l_extendedprice - lo)/(hi - lo)*100), 99)::INT AS bucket,
        |        (hi - lo)/100 AS bin_width
        |      FROM lineitem, rng),
        |c AS (SELECT bucket, count(*)::BIGINT AS cnt, max(bin_width) AS bin_width
        |      FROM b GROUP BY bucket)
        |SELECT bucket, cnt, cnt / (sum(cnt) OVER () * bin_width) AS density
        |FROM c ORDER BY bucket""".stripMargin,

    "q13_quantile_edges" ->
      """SELECT 0.0::DOUBLE AS p, round(quantile_cont(l_quantity, 0.0),6) AS edge FROM lineitem
        |UNION ALL SELECT 0.25::DOUBLE, round(quantile_cont(l_quantity, 0.25),6) FROM lineitem
        |UNION ALL SELECT 0.5::DOUBLE, round(quantile_cont(l_quantity, 0.5),6) FROM lineitem
        |UNION ALL SELECT 0.75::DOUBLE, round(quantile_cont(l_quantity, 0.75),6) FROM lineitem
        |UNION ALL SELECT 1.0::DOUBLE, round(quantile_cont(l_quantity, 1.0),6) FROM lineitem
        |ORDER BY p""".stripMargin,

    "q14_ecdf_distance" ->
      """WITH pv AS (
        | SELECT value AS v,
        |   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS na,
        |   sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nb
        | FROM events WHERE event_type IN ('click','view') GROUP BY value),
        |e AS (
        | SELECT v,
        |   sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
        |     / sum(na) OVER () AS fa,
        |   sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
        |     / sum(nb) OVER () AS fb,
        |   lead(v) OVER (ORDER BY v) - v AS dx
        | FROM pv)
        |SELECT round(sum(CASE WHEN dx IS NOT NULL THEN abs(fa - fb)*dx ELSE 0.0 END),6) AS wasserstein,
        |       round(max(abs(fa - fb)),8) AS ks_stat
        |FROM e""".stripMargin,

    "q15_js_divergence" ->
      """WITH ts2 AS (SELECT value AS v, event_type AS lab FROM events
        |             WHERE event_type IN ('click','view')),
        |rng AS (SELECT min(v) AS lo, max(v) AS hi FROM ts2),
        |cb AS (SELECT least(floor((v - lo)/(hi - lo)*100), 99)::INT AS bucket,
        |         sum(CASE WHEN lab = 'click' THEN 1 ELSE 0 END) AS ca,
        |         sum(CASE WHEN lab = 'view' THEN 1 ELSE 0 END) AS cb_
        |       FROM ts2, rng GROUP BY 1),
        |bins AS (SELECT unnest(generate_series(0,99)) AS bucket),
        |h AS (SELECT b.bucket, coalesce(ca,0)::BIGINT AS ca, coalesce(cb_,0)::BIGINT AS cb_
        |      FROM bins b LEFT JOIN cb USING (bucket)),
        |sm AS (SELECT bucket,
        |         ca::DOUBLE / sum(ca) OVER () + 1e-10 AS pa_raw,
        |         cb_::DOUBLE / sum(cb_) OVER () + 1e-10 AS pb_raw
        |       FROM h),
        |p AS (SELECT pa_raw / sum(pa_raw) OVER () AS pa,
        |        pb_raw / sum(pb_raw) OVER () AS pb FROM sm),
        |m AS (SELECT pa, pb, (pa + pb)/2 AS mid FROM p)
        |SELECT round(sum(pa*ln(pa/mid))*0.5 + sum(pb*ln(pb/mid))*0.5, 8) AS kl_divergence,
        |       round(sqrt(sum(pa*ln(pa/mid))*0.5 + sum(pb*ln(pb/mid))*0.5), 8) AS js_divergence
        |FROM m""".stripMargin,

    // maxLag = min(100, n/4) = 100 for every driver SF (n >= 1000)
    "q16_hurst" ->
      """WITH x AS (SELECT value AS x, row_number() OVER (ORDER BY ts, event_id) - 1 AS rn FROM events),
        |wl AS (SELECT x.x, x.rn, l.lag, floor(x.rn / l.lag) AS seg
        |       FROM x, (SELECT unnest(generate_series(2,100)) AS lag) l),
        |cm1 AS (SELECT lag, seg, rn, x, avg(x) OVER (PARTITION BY lag, seg) AS m FROM wl),
        |cm2 AS (SELECT lag, seg, x,
        |          sum(x - m) OVER (PARTITION BY lag, seg ORDER BY rn
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumdev
        |        FROM cm1),
        |ps AS (SELECT lag, seg, count(*)::BIGINT AS cnt,
        |         max(cumdev) - min(cumdev) AS r, stddev_pop(x) AS s
        |       FROM cm2 GROUP BY lag, seg),
        |pl AS (SELECT lag, avg(r/s) AS rs_mean FROM ps
        |       WHERE cnt = lag AND s > 1e-12 GROUP BY lag),
        |sl AS (SELECT regr_slope(ln(rs_mean), ln(lag::DOUBLE)) AS slope,
        |         count(*)::BIGINT AS n_lags
        |       FROM pl WHERE rs_mean > 0)
        |SELECT round(coalesce(least(greatest(slope, 0.0), 1.0), 0.5), 4) AS hurst, n_lags
        |FROM sl""".stripMargin,

    "q17_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id)::BIGINT AS keeper,
        |  count(*)::BIGINT AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY text_md5""".stripMargin,

    "q18_dedup_by_time" ->
      """SELECT user_id, event_id FROM (
        | SELECT user_id, event_id,
        |   row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rk
        | FROM events) t
        |WHERE rk = 1 ORDER BY user_id, event_id""".stripMargin,

    "q19_token_stats" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
         |t AS (SELECT doc_id, token FROM toks WHERE token <> '')
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |  round(avg(len(token)::DOUBLE),6) AS avg_token_len,
         |  round(sum(CASE WHEN token IN ($stopList) THEN 1 ELSE 0 END)::DOUBLE / count(*),6) AS stop_ratio,
         |  round(count(DISTINCT token)::DOUBLE / count(*),6) AS ttr,
         |  round(sum(CASE WHEN token IN ($stopList) THEN 1 ELSE 0 END)::DOUBLE / count(*) * 0.5
         |      + count(DISTINCT token)::DOUBLE / count(*) * 0.5, 6) AS quality_score
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q20_lang_id" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
        |t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |scores AS (
        | SELECT doc_id, 'de' AS lang_guess,
        |   sum(CASE WHEN token IN ('der','die','das','und','ist','ein') THEN 1 ELSE 0 END)::BIGINT AS score
        | FROM t GROUP BY doc_id
        | UNION ALL SELECT doc_id, 'en',
        |   sum(CASE WHEN token IN ('the','a','of','and','to','is','in') THEN 1 ELSE 0 END)::BIGINT
        | FROM t GROUP BY doc_id
        | UNION ALL SELECT doc_id, 'es',
        |   sum(CASE WHEN token IN ('el','la','los','de','que','y','un') THEN 1 ELSE 0 END)::BIGINT
        | FROM t GROUP BY doc_id
        | UNION ALL SELECT doc_id, 'fr',
        |   sum(CASE WHEN token IN ('le','la','les','et','est','une') THEN 1 ELSE 0 END)::BIGINT
        | FROM t GROUP BY doc_id
        | UNION ALL SELECT doc_id, 'zh',
        |   sum(CASE WHEN token IN ('de','shi','le','zhong') THEN 1 ELSE 0 END)::BIGINT
        | FROM t GROUP BY doc_id)
        |SELECT doc_id, lang_guess, score FROM (
        | SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_guess) AS rk
        | FROM scores) t
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "q21_jaccard_neardup" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
        |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |              FROM documents),
        |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
        |sh0 AS (SELECT doc_id,
        |          token || ' ' || lead(token,1) OVER w || ' ' || lead(token,2) OVER w
        |            || ' ' || lead(token,3) OVER w || ' ' || lead(token,4) OVER w AS shingle,
        |          lead(token,4) OVER w AS l4
        |        FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE l4 IS NOT NULL),
        |dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
        |pr AS (SELECT s.doc_id, s.shingle FROM sh s JOIN dfc USING (shingle) WHERE df <= 1000),
        |sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM pr GROUP BY doc_id),
        |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared
        |           FROM pr a JOIN pr b USING (shingle)
        |           WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b,
        |  round(shared::DOUBLE/(sa.sz + sb.sz - shared),6) AS jaccard
        |FROM shared
        |JOIN sz sa ON sa.doc_id = shared.id_a
        |JOIN sz sb ON sb.doc_id = shared.id_b
        |WHERE shared::DOUBLE/(sa.sz + sb.sz - shared) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // d10: prefix-filtered exact Jaccard join — the oracle is the
    // BRUTE-FORCE all-shared-shingles join (no df cap, no prefix):
    // lossless filtering means the engine must reproduce it exactly
    "d10_prefix_join" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
        |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |              FROM documents),
        |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
        |sh0 AS (SELECT doc_id,
        |          token || ' ' || lead(token,1) OVER w || ' ' || lead(token,2) OVER w
        |            || ' ' || lead(token,3) OVER w || ' ' || lead(token,4) OVER w AS shingle,
        |          lead(token,4) OVER w AS l4
        |        FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE l4 IS NOT NULL),
        |sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
        |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_inter
        |           FROM sh a JOIN sh b USING (shingle)
        |           WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, n_inter,
        |  round(n_inter::DOUBLE/(sa.sz + sb.sz - n_inter),6) AS jaccard
        |FROM shared
        |JOIN sz sa ON sa.doc_id = shared.id_a
        |JOIN sz sb ON sb.doc_id = shared.id_b
        |WHERE n_inter::DOUBLE/(sa.sz + sb.sz - n_inter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q22_doc_fingerprint" ->
      """WITH g AS (SELECT doc_id, md5(substr(text, i, 8)) AS gram_md5
        |           FROM (SELECT doc_id, text,
        |                   unnest(generate_series(1, len(text)-7)) AS i
        |                 FROM documents WHERE len(text) >= 8) t)
        |SELECT doc_id, min(gram_md5) AS fingerprint,
        |  count(DISTINCT gram_md5)::BIGINT AS n_grams
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // IVF ANN: KMeans-trained literal codebook (IvfCodebook.K16) —
    // centroid distance key |c|²−2·v·c (commutative-exact twin of the
    // Spark expression), assignment = first index of the min distance,
    // probes = nProbe smallest (d, cid) structs, exact cosine rerank
    // within probed lists
    "s02_ivf_ann" -> {
      val cents = graft.sim.IvfCodebook.K16
      val dExprs = cents.map(c =>
        s"(${c.map(x => x * x).sum} - 2.0*list_inner_product(v, ${planeLit(c)}))")
      val dl = "[" + dExprs.mkString(",\n   ") + "]"
      val sl = "[" + dExprs.zipWithIndex
        .map { case (d, i) => s"{'d': $d, 'cid': $i}" }.mkString(",\n   ") + "]"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |             list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n
         |           FROM embeddings),
         |asg AS (SELECT vec_id AS neighbor_id, v AS cv, n AS cn,
         |          (list_position(dl, list_aggregate(dl, 'min')) - 1) AS cid
         |        FROM (SELECT vec_id, v, n, $dl AS dl FROM e) t),
         |q AS (SELECT vec_id AS query_id, v AS qv, n AS qn,
         |        unnest(list_transform((list_sort(sl))[1:4], x -> x.cid)) AS cid
         |      FROM (SELECT vec_id, v, n, $sl AS sl FROM e WHERE vec_id < 5) t),
         |s AS (SELECT query_id, neighbor_id,
         |        round(list_inner_product(qv,cv) / sqrt(qn*cn), 5) AS cosine
         |      FROM asg JOIN q USING (cid)
         |      WHERE query_id <> neighbor_id)
         |SELECT query_id, neighbor_id, cosine, rk::INT AS rk FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY cosine DESC, neighbor_id) AS rk FROM s) t
         |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin
    },

    // PQ ANN: per-subspace argmin codes (key |c|²−2·x_m·c — the
    // commutative-exact twin of the Spark expression), per-query
    // flat ADC lookup table, approx dot = Σ_m lut[m·K + code_m],
    // shortlist by (adc r5 desc, id), exact cosine rerank
    "s03_pq_ann" -> {
      val cb = graft.sim.PqCodebook.M8K16
      val m = cb.length; val ks = cb(0).length; val sub = cb(0)(0).length
      def sl(mi: Int) = s"v[${mi * sub + 1}:${(mi + 1) * sub}]"
      val codeCols = (0 until m).map { mi =>
        val dl = "[" + cb(mi).map(c =>
          s"(${c.map(x => x * x).sum} - 2.0*list_inner_product(${sl(mi)}, ${planeLit(c)}))")
          .mkString(",\n      ") + "]"
        s"(list_position($dl, list_aggregate($dl, 'min')) - 1) AS code$mi"
      }
      val lut = "[" + (0 until m).flatMap(mi => cb(mi).map(c =>
        s"list_inner_product(${sl(mi)}, ${planeLit(c)})")).mkString(",\n      ") + "]"
      val adc = (0 until m).map(mi => s"lut[code$mi + ${mi * ks + 1}]").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |             list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n
         |           FROM embeddings),
         |c AS (SELECT vec_id AS neighbor_id, v AS cv, n AS cn,
         |        ${codeCols.mkString(",\n        ")}
         |      FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, n AS qn, $lut AS lut
         |      FROM e WHERE vec_id < 5),
         |sc AS (SELECT query_id, neighbor_id, qv, cv, qn, cn,
         |         round($adc, 5) AS adc
         |       FROM c, q WHERE query_id <> neighbor_id),
         |sh AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY adc DESC, neighbor_id) AS ark FROM sc),
         |rr AS (SELECT query_id, neighbor_id,
         |         round(list_inner_product(qv,cv)/sqrt(qn*cn), 5) AS cosine
         |       FROM sh WHERE ark <= 160)
         |SELECT query_id, neighbor_id, cosine, rk::INT AS rk FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY cosine DESC, neighbor_id) AS rk FROM rr) t
         |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin
    },

    // IVF-PQ: s02's probing (nProbe smallest (d, cid) structs) composed
    // with s03's codes/LUT/ADC scan and exact rerank
    "s04_ivfpq_ann" -> s04Sql,

    // indexed IVF-PQ serves the SAME results from a persisted
    // partitioned index (pruning changes I/O, never values) — so the
    // oracle is identical to s04's (the t01/t06 precedent)
    "s05_ivfpq_indexed" -> s04Sql,


    "q23_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |        round(list_inner_product(qv,cv)
        |          / sqrt(list_inner_product(qv,qv)*list_inner_product(cv,cv)), 5) AS cosine
        |      FROM c, q WHERE query_id <> neighbor_id)
        |SELECT query_id, neighbor_id, cosine, rk::INT AS rk FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |   ORDER BY cosine DESC, neighbor_id) AS rk FROM s) t
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,

    // label-blocked + multi-band sign-LSH (4 bands × 3 planes, seed 7 —
    // literal-embedded so both engines compute identical buckets)
    "q24_embed_neardup_blocked" -> s"$q24PairsSql\nORDER BY id_a, id_b",

    // semantic dedup clusters: reachability closure of the q24
    // embedding near-dup pairs (same recursive-CTE machine as d03,
    // pair source swapped from MinHash to sign-LSH cosine)
    "d04_embed_dedup_clusters" -> {
      // substituted AFTER stripMargin — the pair SQL's margin pipes are
      // already resolved and its '||'s must not be re-stripped
      """WITH RECURSIVE pairs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (__PAIRS__) p0),
        |nodes AS (SELECT DISTINCT id FROM (
        |  SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs) n),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
        |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT id AS vec_id, cluster_id, (id = cluster_id) AS keep
        |FROM comp ORDER BY vec_id""".stripMargin
        .replace("__PAIRS__", q24PairsSql)
    },

    // per-user regime stats: every window partitions on user_id (and the
    // AR(1) lag on user_id+event_type) — no single-partition stage
    "q28_regime_stats" ->
      """WITH r AS (
        | SELECT user_id, event_type, ts, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
        | FROM events),
        |l AS (SELECT user_id, event_type, ts, event_id, ret,
        |        lag(ret,1) OVER (PARTITION BY user_id, event_type
        |                         ORDER BY ts, event_id) AS lag_ret
        |      FROM r WHERE ret IS NOT NULL),
        |base AS (SELECT user_id, event_type, count(ret)::BIGINT AS n, avg(ret) AS mean,
        |           stddev_pop(ret) AS std_pop, corr(ret, lag_ret) AS ar1
        |         FROM l GROUP BY user_id, event_type),
        |z AS (SELECT l.user_id, l.event_type, avg(pow((ret - mean)/std_pop, 3)) AS skew
        |      FROM l JOIN base USING (user_id, event_type)
        |      GROUP BY l.user_id, l.event_type)
        |SELECT user_id, event_type, n, round(mean,8) AS mean, round(std_pop,8) AS std_pop,
        |  round(ar1,6) AS ar1, round(skew,6) AS skew
        |FROM base JOIN z USING (user_id, event_type)
        |ORDER BY user_id, event_type""".stripMargin,

    // m03: perceptual aHash replay — the Spark side hashes REAL-decoded
    // PPM pixels; the oracle recomputes from the synth formula (pixel
    // byte i = text byte i mod len, ASCII ⇒ ascii(substr) == byte).
    // Every comparison is integer (cs·totN > totS·cn — the
    // pixel-weighted mean contract chosen exactly so no float ever
    // appears); bands assemble via integer shifts and the hex form via
    // to_hex per band
    "m03_image_ahash" -> (aHashSql("documents") +
      """SELECT media_id, b0, b1, b2, b3,
        |  lower(lpad(to_hex(b3), 4, '0') || lpad(to_hex(b2), 4, '0') ||
        |    lpad(to_hex(b1), 4, '0') || lpad(to_hex(b0), 4, '0'))
        |    AS ahash_hex
        |FROM wide ORDER BY media_id""".stripMargin),

    // m08: image difference hash — the m03 pixel replay on an 8×9
    // grid with adjacent-cell cross-multiplied comparisons
    "m08_image_dhash" -> (dHashSql("documents") +
      """SELECT media_id, b0, b1, b2, b3,
        |  lower(lpad(to_hex(b3), 4, '0') || lpad(to_hex(b2), 4, '0') ||
        |    lpad(to_hex(b1), 4, '0') || lpad(to_hex(b0), 4, '0'))
        |    AS dhash_hex
        |FROM wide ORDER BY media_id""".stripMargin),

    // m04: banded hamming near-dup over the doubled corpus (+273000
    // exact twins — a multiple of lcm(3,13,7) preserves kind and dims,
    // so twin pixels are identical and hamming 0 pairs are guaranteed)
    "m04_image_neardup" -> ("""WITH docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 273000, text FROM documents),
      |""".stripMargin + aHashSql("docs2", withKeyword = false) +
      """,
        |be AS (
        |  SELECT media_id, 0 AS b, b0 AS v, b0, b1, b2, b3 FROM wide
        |  UNION ALL
        |  SELECT media_id, 1, b1, b0, b1, b2, b3 FROM wide
        |  UNION ALL
        |  SELECT media_id, 2, b2, b0, b1, b2, b3 FROM wide
        |  UNION ALL
        |  SELECT media_id, 3, b3, b0, b1, b2, b3 FROM wide)
        |SELECT DISTINCT l.media_id AS id_a, r.media_id AS id_b,
        |  (bit_count(xor(l.b0, r.b0)) + bit_count(xor(l.b1, r.b1)) +
        |   bit_count(xor(l.b2, r.b2)) + bit_count(xor(l.b3, r.b3)))::INT
        |    AS hamming
        |FROM be l JOIN be r ON l.b = r.b AND l.v = r.v
        |  AND l.media_id < r.media_id
        |WHERE bit_count(xor(l.b0, r.b0)) + bit_count(xor(l.b1, r.b1)) +
        |  bit_count(xor(l.b2, r.b2)) + bit_count(xor(l.b3, r.b3)) <= 6
        |ORDER BY id_a, id_b""".stripMargin),

    // m05: audio envelope fingerprint replay — the Spark side hashes
    // REAL-decoded PCM16 samples; the oracle recomputes from the synth
    // formula (sample t = (byte_t − 128)·256, mono). Same
    // exact-integer window thresholding as m03
    "m05_audio_ahash" ->
      """WITH aud AS (SELECT doc_id AS media_id, strlen(text) AS n, text
        |  FROM documents WHERE doc_id % 3 = 1),
        |sm AS (SELECT media_id, (t * 64) // n AS k,
        |    abs(ascii(substr(text, t + 1, 1)) - 128) * 256 AS a
        |  FROM (SELECT media_id, n, text,
        |          unnest(generate_series(0, n - 1)) AS t FROM aud)),
        |win AS (SELECT media_id, k, sum(a)::BIGINT AS ws,
        |    count(*)::BIGINT AS wn FROM sm GROUP BY 1, 2),
        |tot AS (SELECT media_id, sum(ws) AS ts, sum(wn) AS tn
        |  FROM win GROUP BY 1),
        |bits AS (SELECT w.media_id, w.k,
        |    CASE WHEN w.ws * t.tn > t.ts * w.wn THEN 1 ELSE 0 END AS bit
        |  FROM win w JOIN tot t USING (media_id)),
        |bv AS (SELECT media_id, k // 16 AS b,
        |    sum(CASE WHEN bit = 1 THEN 1 << (k % 16) ELSE 0 END)::INT AS v
        |  FROM bits GROUP BY 1, 2),
        |wide AS (SELECT media_id,
        |    coalesce(max(CASE WHEN b = 0 THEN v END), 0)::INT AS b0,
        |    coalesce(max(CASE WHEN b = 1 THEN v END), 0)::INT AS b1,
        |    coalesce(max(CASE WHEN b = 2 THEN v END), 0)::INT AS b2,
        |    coalesce(max(CASE WHEN b = 3 THEN v END), 0)::INT AS b3
        |  FROM bv GROUP BY 1)
        |SELECT media_id, b0, b1, b2, b3,
        |  lower(lpad(to_hex(b3), 4, '0') || lpad(to_hex(b2), 4, '0') ||
        |    lpad(to_hex(b1), 4, '0') || lpad(to_hex(b0), 4, '0'))
        |    AS ahash_hex
        |FROM wide ORDER BY media_id""".stripMargin,

    // m09: audio energy / silence — the m05 byte replay with
    // 160-sample frames; silence decision is the exact integer
    // cross-multiply ws < thr·wn, RMS/ratio the only FP ops
    "m09_audio_energy" ->
      """WITH aud AS (SELECT doc_id AS media_id, strlen(text) AS n, text
        |  FROM documents WHERE doc_id % 3 = 1 AND strlen(text) > 0),
        |sm AS (SELECT media_id, t // 160 AS k,
        |    abs(ascii(substr(text, t + 1, 1)) - 128) * 256 AS a,
        |    (ascii(substr(text, t + 1, 1)) - 128) * 256 AS s
        |  FROM (SELECT media_id, n, text,
        |          unnest(generate_series(0, n - 1)) AS t FROM aud)),
        |fr AS (SELECT media_id, k, sum(a)::BIGINT AS ws,
        |    count(*)::BIGINT AS wn FROM sm GROUP BY 1, 2),
        |fg AS (SELECT media_id, count(*)::BIGINT AS n_frames,
        |    sum(CASE WHEN ws < 1024 * wn THEN 1 ELSE 0 END)::BIGINT
        |      AS silent
        |  FROM fr GROUP BY 1),
        |tot AS (SELECT media_id, count(*)::BIGINT AS n_samples,
        |    max(a)::BIGINT AS peak,
        |    sum((s::BIGINT) * (s::BIGINT))::BIGINT AS ss
        |  FROM sm GROUP BY 1)
        |SELECT t.media_id, n_samples, n_frames, peak,
        |  round(sqrt(ss::DOUBLE / n_samples::DOUBLE), 6) AS rms,
        |  round(silent::DOUBLE / n_frames::DOUBLE, 6) AS silence_ratio
        |FROM tot t JOIN fg USING (media_id)
        |ORDER BY t.media_id""".stripMargin,

    // m06: per-frame video grid hashes — the m03 replay with a frame
    // dimension (real AVI demux on the Spark side)
    "m06_frame_hashes" -> (frameHashSql("documents") +
      """SELECT media_id, f::INT AS frame_idx, b0, b1, b2, b3,
        |  hex AS ahash_hex
        |FROM vwide ORDER BY media_id, frame_idx""".stripMargin),

    // m07: video near-dup by shared frame hashes over the doubled
    // corpus (+273000 = 100·lcm(3,5,6,7,13) preserves kind AND both
    // video dims, so twins share every frame)
    "m07_video_neardup" -> ("""WITH docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 273000, text FROM documents),
      |""".stripMargin + frameHashSql("docs2", withKeyword = false) +
      """SELECT id_a, id_b, count(*)::BIGINT AS n_shared FROM (
        |  SELECT DISTINCT l.media_id AS id_a, r.media_id AS id_b, l.hex
        |  FROM vwide l JOIN vwide r ON l.hex = r.hex
        |    AND l.media_id < r.media_id)
        |GROUP BY 1, 2 HAVING count(*) >= 1
        |ORDER BY id_a, id_b""".stripMargin),

    // m07b: video near-dup with NEAR-MISS frame matching — the m04
    // 16-bit banding at frame granularity (band match + hamming ≤ 6)
    // with the maxKeyDf=64 hot-key cap replayed as a HAVING filter;
    // n_matched counts distinct matched (frame_a, frame_b) index pairs
    "m07b_video_neardup_fuzzy" -> ("""WITH docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 273000, text FROM documents),
      |""".stripMargin + frameHashSql("docs2", withKeyword = false) +
      """,
        |vbe AS (
        |  SELECT media_id, f, 0 AS b, b0 AS v, b0, b1, b2, b3 FROM vwide
        |  UNION ALL
        |  SELECT media_id, f, 1, b1, b0, b1, b2, b3 FROM vwide
        |  UNION ALL
        |  SELECT media_id, f, 2, b2, b0, b1, b2, b3 FROM vwide
        |  UNION ALL
        |  SELECT media_id, f, 3, b3, b0, b1, b2, b3 FROM vwide),
        |hot AS (SELECT b, v FROM vbe GROUP BY 1, 2
        |        HAVING count(*) > 64),
        |cap AS (SELECT vbe.* FROM vbe LEFT JOIN hot
        |          ON vbe.b = hot.b AND vbe.v = hot.v
        |        WHERE hot.b IS NULL),
        |mp AS (
        |  SELECT DISTINCT l.media_id AS id_a, r.media_id AS id_b,
        |    l.f AS fa, r.f AS fb
        |  FROM cap l JOIN cap r ON l.b = r.b AND l.v = r.v
        |    AND l.media_id < r.media_id
        |  WHERE bit_count(xor(l.b0, r.b0)) + bit_count(xor(l.b1, r.b1))
        |    + bit_count(xor(l.b2, r.b2)) + bit_count(xor(l.b3, r.b3))
        |    <= 6)
        |SELECT id_a, id_b, count(*)::BIGINT AS n_matched
        |FROM mp GROUP BY 1, 2 HAVING count(*) >= 1
        |ORDER BY id_a, id_b""".stripMargin),

    // m04b: per-collection image near-dup — the m04 band join also
    // keyed on source (twins carry their original doc's source, so
    // within-collection twin pairs survive; cross-collection content
    // collisions are excluded by the key)
    "m04b_image_neardup_by" -> ("""WITH docs2 AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL SELECT doc_id + 273000, text, source FROM documents),
      |""".stripMargin + aHashSql("docs2", withKeyword = false) +
      """,
        |ws AS (SELECT w.media_id, d.source, w.b0, w.b1, w.b2, w.b3
        |       FROM wide w JOIN docs2 d ON d.doc_id = w.media_id),
        |be AS (
        |  SELECT media_id, source, 0 AS b, b0 AS v, b0, b1, b2, b3
        |  FROM ws
        |  UNION ALL
        |  SELECT media_id, source, 1, b1, b0, b1, b2, b3 FROM ws
        |  UNION ALL
        |  SELECT media_id, source, 2, b2, b0, b1, b2, b3 FROM ws
        |  UNION ALL
        |  SELECT media_id, source, 3, b3, b0, b1, b2, b3 FROM ws)
        |SELECT DISTINCT l.source AS source, l.media_id AS id_a,
        |  r.media_id AS id_b,
        |  (bit_count(xor(l.b0, r.b0)) + bit_count(xor(l.b1, r.b1)) +
        |   bit_count(xor(l.b2, r.b2)) + bit_count(xor(l.b3, r.b3)))::INT
        |    AS hamming
        |FROM be l JOIN be r ON l.source = r.source AND l.b = r.b
        |  AND l.v = r.v AND l.media_id < r.media_id
        |WHERE bit_count(xor(l.b0, r.b0)) + bit_count(xor(l.b1, r.b1)) +
        |  bit_count(xor(l.b2, r.b2)) + bit_count(xor(l.b3, r.b3)) <= 6
        |ORDER BY id_a, id_b""".stripMargin),

    // m01: the synthesized containers are REAL (PPM images, WAV audio,
    // AVI video) — the oracle recomputes what the Spark-side HEADER
    // PARSE must return (all docs are ASCII so ascii(char k) == byte k
    // and strlen == byte length): PPM dims from doc_id, WAV sample
    // count from the text byte count, AVI dims/frame count from the
    // synth formulas, and the exact container byte sizes
    // ("P6\n<w> <h>\n255\n" + 3wh pixels; 44-byte canonical RIFF +
    // 2 bytes/sample).
    // Video n_bytes is the exact AVI container size: 232 fixed bytes
    // (RIFF hdr 12 + hdrl 200 + movi LIST hdr 12 + idx1 hdr 8) plus
    // 24 per frame (movi chunk hdr 8 + idx1 entry 16) plus the 3wh DIB
    // payload (w a multiple of 4 ⇒ no row pad; 3wh even ⇒ no RIFF pad)
    "m01_multimodal_decode" ->
      """SELECT doc_id AS media_id,
        | CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | (CASE (doc_id % 3)
        |    WHEN 0 THEN 8 + doc_id % 13
        |    WHEN 1 THEN strlen(text)
        |    ELSE 8 + 4*(doc_id % 5) END)::INT AS width,
        | (CASE (doc_id % 3)
        |    WHEN 0 THEN 8 + doc_id % 7
        |    WHEN 1 THEN 1
        |    ELSE 8 + doc_id % 6 END)::INT AS height,
        | (CASE WHEN doc_id % 3 = 2 THEN 1 + strlen(text)//256 ELSE 1 END)::INT AS n_frames,
        | (CASE (doc_id % 3)
        |    WHEN 0 THEN 3 + strlen((8 + doc_id % 13)::VARCHAR) + 1
        |              + strlen((8 + doc_id % 7)::VARCHAR) + 5
        |              + 3*(8 + doc_id % 13)*(8 + doc_id % 7)
        |    WHEN 1 THEN 44 + 2*strlen(text)
        |    ELSE 232 + (1 + strlen(text)//256)
        |             * (24 + 3*(8 + 4*(doc_id % 5))*(8 + doc_id % 6)) END)::BIGINT AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin,

    "q25_daily_rollup" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*)::BIGINT AS n,
        | round(sum(value),4) AS sum_value, round(avg(value),6) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    // q34: ordered funnel — min-ts gating per stage, rate vs the
    // previous stage (stage 0 vs all users)
    "q34_funnel" ->
      """WITH u AS (SELECT count(DISTINCT user_id)::BIGINT AS total
        |           FROM events),
        |t0 AS (SELECT user_id, min(ts) AS t FROM events
        |       WHERE event_type = 'view' GROUP BY user_id),
        |t1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN t0 ON t0.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.ts > t0.t
        |       GROUP BY e.user_id),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN t1 ON t1.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > t1.t
        |       GROUP BY e.user_id),
        |n AS (SELECT (SELECT total FROM u) AS total,
        |        (SELECT count(*)::BIGINT FROM t0) AS n0,
        |        (SELECT count(*)::BIGINT FROM t1) AS n1,
        |        (SELECT count(*)::BIGINT FROM t2) AS n2)
        |SELECT 0 AS stage_idx, 'view' AS stage, n0 AS n_users,
        |  CASE WHEN total > 0
        |       THEN round(n0::DOUBLE/total::DOUBLE, 6) END AS rate
        |FROM n
        |UNION ALL
        |SELECT 1, 'click', n1,
        |  CASE WHEN n0 > 0 THEN round(n1::DOUBLE/n0::DOUBLE, 6) END
        |FROM n
        |UNION ALL
        |SELECT 2, 'purchase', n2,
        |  CASE WHEN n1 > 0 THEN round(n2::DOUBLE/n1::DOUBLE, 6) END
        |FROM n
        |ORDER BY stage_idx""".stripMargin,

    // q35: cohort retention — first-seen-day cohorts × day offsets
    // p03: bipartite HITS — 2 unrolled hub/auth half-steps, sum
    // normalization with round-6 after every half-step (the p01
    // per-iteration rounding trick: cross-engine FP drift resets
    // instead of compounding)
    "p03_hits" -> {
      val steps = (1 to 2).map { i =>
        val pa = if (i == 1) "a0" else s"a${i - 1}"
        s"""h${i}r AS (SELECT s, sum(a) AS hr FROM e JOIN $pa USING (d)
           |        GROUP BY s),
           |h$i AS (SELECT s, round(hr / (SELECT sum(hr) FROM h${i}r), 6)
           |          AS h FROM h${i}r),
           |a${i}r AS (SELECT d, sum(h) AS ar FROM e JOIN h$i USING (s)
           |        GROUP BY d),
           |a$i AS (SELECT d, round(ar / (SELECT sum(ar) FROM a${i}r), 6)
           |          AS a FROM a${i}r)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT user_id::VARCHAR AS s, event_type AS d
         |           FROM events),
         |a0 AS (SELECT DISTINCT d, 1.0 AS a FROM e),
         |$steps
         |SELECT 'hub' AS kind, s AS node, h AS score FROM h2
         |UNION ALL
         |SELECT 'auth' AS kind, d AS node, a AS score FROM a2
         |ORDER BY kind, node""".stripMargin
    },

    // q36: activity concentration — discrete Gini over per-user event
    // counts (rank ties broken on user_id on both engines) + the
    // ⌈n/10⌉-heaviest-users share; integer sums, two FP divisions
    "q36_concentration" ->
      """WITH t AS (SELECT event_type, user_id, count(*)::BIGINT AS x
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, x,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY x, user_id) AS i,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY x DESC, user_id) AS rd,
        |        count(*) OVER (PARTITION BY event_type) AS n
        |      FROM t),
        |g AS (SELECT event_type, count(*)::BIGINT AS n_users,
        |        sum(x)::BIGINT AS total_events,
        |        sum(i * x)::BIGINT AS s1,
        |        sum(CASE WHEN rd <= ceil(n/10.0) THEN x ELSE 0
        |            END)::BIGINT AS topx
        |      FROM r GROUP BY event_type)
        |SELECT event_type, n_users, total_events,
        |  round(2.0*s1::DOUBLE/(n_users::DOUBLE*total_events::DOUBLE)
        |    - (n_users::DOUBLE + 1.0)/n_users::DOUBLE, 6) AS gini,
        |  round(topx::DOUBLE/total_events::DOUBLE, 6)
        |    AS top_decile_share
        |FROM g ORDER BY event_type""".stripMargin,

    "q35_retention" ->
      """WITH e AS (SELECT user_id, ts::DATE AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cd FROM e GROUP BY user_id),
        |sz AS (SELECT cd, count(DISTINCT user_id)::BIGINT AS n_cohort
        |       FROM c GROUP BY cd),
        |g AS (SELECT c.cd, date_diff('day', c.cd, e.d) AS offset_days,
        |        count(DISTINCT e.user_id)::BIGINT AS n_active
        |      FROM e JOIN c USING (user_id)
        |      GROUP BY c.cd, date_diff('day', c.cd, e.d))
        |SELECT strftime(g.cd, '%Y-%m-%d') AS cohort,
        |  g.offset_days::INT AS offset_days, n_active, n_cohort,
        |  round(n_active::DOUBLE/n_cohort::DOUBLE, 6) AS retention
        |FROM g JOIN sz ON sz.cd = g.cd
        |ORDER BY cohort, offset_days""".stripMargin,

    // q43: per-day session stats — the q38 session CTE, one
    // (user, session) extent agg, then the q39 rank idiom keyed on
    // the session-start day; bounce = single-event sessions share
    "q43_session_stats" ->
      """WITH g AS (SELECT user_id, event_id, ts,
        |    epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |s AS (SELECT user_id, event_id, ts,
        |    (sum(CASE WHEN gap IS NULL OR gap > 1800000000
        |              THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      )::BIGINT AS session_id
        |  FROM g),
        |e AS (SELECT user_id, session_id,
        |        min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1,
        |        count(*)::BIGINT AS ne
        |      FROM s GROUP BY user_id, session_id),
        |x AS (SELECT user_id, session_id,
        |        strftime(make_timestamp(t0), '%Y-%m-%d') AS day,
        |        t1 - t0 AS dur, ne FROM e),
        |r AS (SELECT *, count(*) OVER (PARTITION BY day) AS m,
        |        row_number() OVER (PARTITION BY day
        |          ORDER BY dur, user_id, session_id) AS rk
        |      FROM x)
        |SELECT day, max(m)::BIGINT AS n_sessions,
        |  round(sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS bounce_rate,
        |  sum(CASE WHEN rk = (m+1)//2 OR rk = (m+2)//2
        |           THEN dur END)::DOUBLE
        |    / count(CASE WHEN rk = (m+1)//2 OR rk = (m+2)//2
        |             THEN 1 END) AS median_dur_us,
        |  max(CASE WHEN rk = ceil(m * 0.9)::BIGINT
        |           THEN dur END)::BIGINT AS p90_dur_us,
        |  max(dur)::BIGINT AS max_dur_us
        |FROM r GROUP BY day ORDER BY day""".stripMargin,

    // q41: per-user return-time / churn panel — the q43 sessionize
    // CTE reduced to extents, inter-session return gaps via lag over
    // the per-session frame, the q39 two-middle-rank median / type-1
    // p90 idiom per user, and quiet time vs the corpus max ts
    "q41_return_time" ->
      """WITH g AS (SELECT user_id, event_id, ts,
        |    epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |s AS (SELECT user_id, event_id, ts,
        |    (sum(CASE WHEN gap IS NULL OR gap > 1800000000
        |              THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      )::BIGINT AS session_id
        |  FROM g),
        |e AS (SELECT user_id, session_id,
        |        min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
        |      FROM s GROUP BY user_id, session_id),
        |x AS (SELECT user_id, session_id, t0, t1,
        |        t0 - lag(t1) OVER (PARTITION BY user_id
        |          ORDER BY session_id) AS ret
        |      FROM e),
        |b AS (SELECT user_id, count(*)::BIGINT AS n_sessions,
        |        max(t1) AS last_t1
        |      FROM x GROUP BY user_id),
        |r AS (SELECT user_id, session_id, ret,
        |        count(*) OVER (PARTITION BY user_id) AS m,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ret, session_id) AS rk
        |      FROM x WHERE ret IS NOT NULL),
        |rs AS (SELECT user_id, count(*)::BIGINT AS n_returns,
        |         sum(CASE WHEN rk = (m+1)//2 OR rk = (m+2)//2
        |                  THEN ret END)::DOUBLE
        |           / count(CASE WHEN rk = (m+1)//2 OR rk = (m+2)//2
        |                    THEN 1 END) AS median_return_us,
        |         max(CASE WHEN rk = ceil(m * 0.9)::BIGINT
        |                  THEN ret END)::BIGINT AS p90_return_us,
        |         max(ret)::BIGINT AS max_return_us
        |       FROM r GROUP BY user_id),
        |mx AS (SELECT max(epoch_us(ts)) AS m FROM events)
        |SELECT b.user_id, b.n_sessions,
        |  coalesce(rs.n_returns, 0)::BIGINT AS n_returns,
        |  rs.median_return_us, rs.p90_return_us, rs.max_return_us,
        |  (mx.m - b.last_t1)::BIGINT AS quiet_us
        |FROM b LEFT JOIN rs USING (user_id) CROSS JOIN mx
        |ORDER BY user_id""".stripMargin,

    // q42: funnel time-to-convert — the q34 stage-entry CTE chain,
    // per-transition entry-time gaps in exact integer µs, the q39
    // two-middle-rank median / type-1 p90 idiom per stage
    "q42_funnel_timing" ->
      """WITH t0 AS (SELECT user_id, min(ts) AS t FROM events
        |       WHERE event_type = 'view' GROUP BY user_id),
        |t1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN t0 ON t0.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.ts > t0.t
        |       GROUP BY e.user_id),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN t1 ON t1.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > t1.t
        |       GROUP BY e.user_id),
        |g AS (SELECT 1 AS stage_idx, 'click' AS stage, t1.user_id,
        |        epoch_us(t1.t) - epoch_us(t0.t) AS gap
        |      FROM t1 JOIN t0 USING (user_id)
        |      UNION ALL
        |      SELECT 2, 'purchase', t2.user_id,
        |        epoch_us(t2.t) - epoch_us(t1.t)
        |      FROM t2 JOIN t1 USING (user_id)),
        |r AS (SELECT stage_idx, stage, gap,
        |        count(*) OVER (PARTITION BY stage_idx) AS m,
        |        row_number() OVER (PARTITION BY stage_idx
        |          ORDER BY gap, user_id) AS rk
        |      FROM g)
        |SELECT stage_idx, stage, max(m)::BIGINT AS n_converted,
        |  sum(CASE WHEN rk = (m+1)//2 OR rk = (m+2)//2
        |           THEN gap END)::DOUBLE
        |    / count(CASE WHEN rk = (m+1)//2 OR rk = (m+2)//2
        |             THEN 1 END) AS median_gap_us,
        |  max(CASE WHEN rk = ceil(m * 0.9)::BIGINT
        |           THEN gap END)::BIGINT AS p90_gap_us,
        |  max(gap)::BIGINT AS max_gap_us
        |FROM r GROUP BY stage_idx, stage
        |ORDER BY stage_idx""".stripMargin,

    // q40: rolling-active stickiness — per-day DAU/WAU/MAU distinct
    // counts via the constant-bounded day explode (each activity day
    // feeds the windows ending d..d+w−1), one r6 division
    "q40_active_ratios" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u, ts::DATE AS d
        |            FROM events),
        |dau AS (SELECT d AS day, count(DISTINCT u)::BIGINT AS dau
        |        FROM ud GROUP BY 1),
        |wau AS (SELECT d + x::INT AS day, count(DISTINCT u)::BIGINT AS wau
        |        FROM ud, range(7) t(x) GROUP BY 1),
        |mau AS (SELECT d + x::INT AS day, count(DISTINCT u)::BIGINT AS mau
        |        FROM ud, range(30) t(x) GROUP BY 1)
        |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau, wau, mau,
        |  round(dau::DOUBLE/mau::DOUBLE, 6) AS stickiness
        |FROM dau JOIN wau USING (day) JOIN mau USING (day)
        |ORDER BY day""".stripMargin,

    // q37: first-order event-transition matrix — user-keyed lag, pair
    // counts (exact integers), row-normalized probability r6
    "q37_event_transitions" ->
      """WITH t AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_event
        |  FROM events),
        |c AS (SELECT prev_event, event_type AS event,
        |        count(*)::BIGINT AS n_trans
        |      FROM t WHERE prev_event IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_event, event, n_trans,
        |  round(n_trans::DOUBLE /
        |    (sum(n_trans) OVER (PARTITION BY prev_event))::DOUBLE, 6)
        |    AS prob
        |FROM c ORDER BY prev_event, event""".stripMargin,

    // q39: per-user inter-event cadence — exact integer microsecond
    // gaps, two-middle-rank median (the c09 Sen rule), type-1
    // ceil(0.9m)-rank p90; no quantile-interpolation dependence
    "q39_activity_cadence" ->
      """WITH g AS (SELECT user_id, ts, event_id,
        |    epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap,
        |    count(*) OVER (PARTITION BY user_id) AS ne
        |  FROM events),
        |x AS (SELECT user_id, ne, gap, ts, event_id FROM g
        |      WHERE gap IS NOT NULL),
        |r AS (SELECT user_id, ne, gap,
        |    count(*) OVER (PARTITION BY user_id) AS m,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY gap, ts, event_id) AS rk
        |  FROM x)
        |SELECT user_id, max(ne)::BIGINT AS n_events,
        |  max(m)::BIGINT AS n_gaps,
        |  sum(CASE WHEN rk = (m+1)//2 OR rk = (m+2)//2
        |           THEN gap END)::DOUBLE
        |    / count(CASE WHEN rk = (m+1)//2 OR rk = (m+2)//2
        |             THEN 1 END) AS median_gap_us,
        |  max(CASE WHEN rk = ceil(m * 0.9)::BIGINT
        |           THEN gap END)::BIGINT AS p90_gap_us,
        |  max(gap)::BIGINT AS max_gap_us
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q38: top session paths — a02's gap-session ids, first-8 event
    // types string_agg'd in row order, count per path, top-20 with
    // (count DESC, path ASC) rank; counts exact integers
    "q38_session_paths" ->
      """WITH g AS (SELECT user_id, event_id, ts, event_type,
        |    epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |s AS (SELECT user_id, event_id, ts, event_type,
        |    (sum(CASE WHEN gap IS NULL OR gap > 1800000000
        |              THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      )::BIGINT AS session_id
        |  FROM g),
        |r AS (SELECT user_id, session_id, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM s),
        |p AS (SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 8 GROUP BY user_id, session_id),
        |c AS (SELECT path, count(*)::BIGINT AS n_sessions
        |      FROM p GROUP BY path)
        |SELECT row_number() OVER (ORDER BY n_sessions DESC, path)::INT
        |    AS rk,
        |  path, n_sessions
        |FROM c ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,

    "q26_sliding_window_sum" ->
      """SELECT user_id, event_id, round(x_sum,6) AS x_sum, y FROM (
        | SELECT user_id, event_id,
        |   sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS x_sum,
        |   count(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS cnt,
        |   lead(value,3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
        | FROM events) t
        |WHERE cnt = 5 AND y IS NOT NULL
        |ORDER BY user_id, event_id""".stripMargin,

    "q27_backfill" ->
      """SELECT user_id, event_id,
        | round(coalesce(vol24,
        |   first_value(vol24 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6) AS vol_filled
        |FROM (SELECT user_id, event_id, ts,
        |        CASE WHEN count(value) OVER w24 >= 12
        |             THEN stddev_samp(value) OVER w24 END AS vol24
        |      FROM events
        |      WINDOW w24 AS (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) t
        |ORDER BY user_id, event_id""".stripMargin,

    // GARCH(1,1) grid: the σ²/log-likelihood recursion replayed as a
    // recursive CTE in t order — same accumulation order as the Spark
    // task's sequential loop, so round(ll,4) is stable
    "q29_garch_grid" ->
      s"""WITH RECURSIVE
         |r5 AS (SELECT ret, ts, event_id FROM ($perUserRets) x
         |       ORDER BY ts, event_id LIMIT 1000),
         |rr AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS t, ret FROM r5),
         |st AS (SELECT count(*)::BIGINT AS n, avg(ret) AS m FROM rr),
         |vv AS (SELECT sum((ret - m)*(ret - m)) / (SELECT n FROM st) AS v FROM rr, st),
         |grid AS (SELECT alpha, beta
         |         FROM (VALUES (0.01),(0.05),(0.10),(0.15),(0.20),(0.25)) a(alpha)
         |         CROSS JOIN (VALUES (0.50),(0.60),(0.70),(0.75),(0.80),(0.85),(0.90),(0.95)) b(beta)
         |         WHERE alpha + beta < 0.999),
         |rec AS (
         | SELECT g.alpha, g.beta, 1::BIGINT AS t, v.v AS sigma2, v.v AS v, r1.ret AS pret,
         |   -0.5*(ln(2*pi()*greatest(v.v,1e-12)) + r1.ret*r1.ret/greatest(v.v,1e-12)) AS ll
         | FROM grid g, vv v, (SELECT ret FROM rr WHERE t = 1) r1
         | UNION ALL
         | SELECT rec.alpha, rec.beta, rec.t + 1,
         |   rec.v*(1.0-rec.alpha-rec.beta) + rec.alpha*rec.pret*rec.pret
         |     + rec.beta*rec.sigma2,
         |   rec.v, rc.ret,
         |   rec.ll - 0.5*(ln(2*pi()*greatest(rec.v*(1.0-rec.alpha-rec.beta)
         |       + rec.alpha*rec.pret*rec.pret + rec.beta*rec.sigma2, 1e-12))
         |     + rc.ret*rc.ret/greatest(rec.v*(1.0-rec.alpha-rec.beta)
         |       + rec.alpha*rec.pret*rec.pret + rec.beta*rec.sigma2, 1e-12))
         | FROM rec
         | JOIN rr rc ON rc.t = rec.t + 1)
         |SELECT alpha, beta,
         |  round(v*(1.0-alpha-beta), 10) AS omega,
         |  round(v, 10) AS long_run_var,
         |  round(ll, 4) AS ll
         |FROM rec WHERE t = (SELECT n FROM st)
         |ORDER BY alpha, beta""".stripMargin,

    // multimodal features: the feature is a position-weighted byte
    // sum per dimension (order-independent by design so this aggregate
    // mirrors it; documents text is ASCII so ascii(char)=byte), then
    // brute-force cosine top-5 in the q23 shape
    // m02: features are computed over the DECODED content byte streams
    // (image: the 3wh pixel array = text bytes cycled; audio: the PCM16LE
    // data chunk = [0, (b-128)&0xff] per sample; video: the nf·3wh
    // concatenated DIB frame payloads = text bytes cycled across frames)
    // — the oracle reconstructs each stream and folds the same
    // position-weighted sum. greatest(strlen,1) keeps the modulo total on
    // empty documents (ascii(substr('',..)) = 0 = the Spark zero-fill).
    "m02_multimodal_features" ->
      """WITH ch AS (
        |  SELECT doc_id, i,
        |    ascii(substr(text, ((i-1) % greatest(strlen(text),1)) + 1, 1)) AS byte
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, 3*(8 + doc_id % 13)*(8 + doc_id % 7))) AS i
        |        FROM documents WHERE doc_id % 3 = 0) im
        |  UNION ALL
        |  SELECT doc_id, i,
        |    CASE WHEN i % 2 = 1 THEN 0
        |         WHEN ascii(substr(text, i//2, 1)) >= 128
        |           THEN ascii(substr(text, i//2, 1)) - 128
        |         ELSE ascii(substr(text, i//2, 1)) + 128 END AS byte
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, 2*strlen(text))) AS i
        |        FROM documents WHERE doc_id % 3 = 1) au
        |  UNION ALL
        |  SELECT doc_id, i,
        |    ascii(substr(text, ((i-1) % greatest(strlen(text),1)) + 1, 1)) AS byte
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, (1 + strlen(text)//256)
        |            * 3*(8 + 4*(doc_id % 5))*(8 + doc_id % 6))) AS i
        |        FROM documents WHERE doc_id % 3 = 2) vi),
        |dims AS (SELECT doc_id, (i-1) % 16 AS j,
        |           ((sum(i * byte) % 1000) / 1000.0)::FLOAT::DOUBLE AS f
        |         FROM ch
        |         GROUP BY doc_id, (i-1) % 16),
        |vecs AS (SELECT doc_id, list(f ORDER BY j) AS v FROM dims GROUP BY doc_id),
        |q AS (SELECT doc_id AS query_id, v AS qv FROM vecs WHERE doc_id < 3),
        |c2 AS (SELECT doc_id AS neighbor_id, v AS cv FROM vecs),
        |s AS (SELECT query_id, neighbor_id,
        |        round(list_inner_product(qv,cv)
        |          / sqrt(list_inner_product(qv,qv)*list_inner_product(cv,cv)), 5) AS cosine
        |      FROM c2, q WHERE query_id <> neighbor_id)
        |SELECT query_id, neighbor_id, cosine, rk::INT AS rk FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |   ORDER BY cosine DESC, neighbor_id) AS rk FROM s) t
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    // decontamination: distinct 8-gram inverted-index join between the
    // even ("train") and odd ("benchmark") docs, shared-gram counts >= 5
    "t01_decontaminate" -> t01Sql,

    // hashing-trick doc embeddings: signed feature hashing (h64 mod 64
    // buckets, sign = bit 20), per-doc L2 normalization, exploded to
    // (doc_id, j, v) rows; integer weights + IEEE sqrt keep both
    // engines bit-aligned before the r6 round
    "t16_hash_embed" -> {
      val h = h64Sql("token", "'17'")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
         |              FROM documents),
         |t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
         |hb AS (SELECT doc_id, $h AS h FROM t),
         |w AS (SELECT doc_id, (h % 64)::INT AS b,
         |        sum(CASE WHEN (h >> 20) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS w
         |      FROM hb GROUP BY doc_id, (h % 64)::INT),
         |grid AS (SELECT d.doc_id, j
         |         FROM (SELECT DISTINCT doc_id FROM t) d
         |         CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) js),
         |raw AS (SELECT g.doc_id, g.j, coalesce(w.w, 0.0) AS x
         |        FROM grid g LEFT JOIN w ON w.doc_id = g.doc_id AND w.b = g.j),
         |nrm AS (SELECT doc_id, sqrt(sum(x*x)) AS n FROM raw GROUP BY doc_id)
         |SELECT raw.doc_id, raw.j::INT AS j,
         |  round(CASE WHEN nrm.n > 0 THEN raw.x / nrm.n ELSE 0.0 END, 6) AS v
         |FROM raw JOIN nrm ON raw.doc_id = nrm.doc_id
         |ORDER BY raw.doc_id, j""".stripMargin
    },

    // doc-topic assignment: the t16 embedding machinery re-assembled
    // into per-doc DOUBLE[] lists (r6 values — both engines see the
    // same doubles), then the s02 argmin convention over the frozen
    // TopicCentroids.K8 literals: key |c|²−2·v·c (commutative-exact
    // twin of the Spark PqEncode expression), first index of the min
    "t17_topic_assign" ->
      s"""WITH $t17AsgCtes
         |SELECT doc_id, topic,
         |  count(*) OVER (PARTITION BY topic) AS topic_size
         |FROM asg ORDER BY doc_id""".stripMargin,

    // corpus report: per-language rollup of the q19 token stats under
    // the q20 argmax language — per-doc components UNROUNDED (r6 only
    // on the averages, matching the Spark agg exactly)
    "t18_corpus_report" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
         |t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
         |st AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |         (sum(CASE WHEN token IN ($stopList) THEN 1 ELSE 0 END)::DOUBLE / count(*)) * 0.5
         |           + (count(DISTINCT token)::DOUBLE / count(*)) * 0.5 AS q,
         |         count(DISTINCT token)::DOUBLE / count(*) AS ttr
         |       FROM t GROUP BY doc_id),
         |scores AS (
         | SELECT doc_id, 'de' AS lang_guess,
         |   sum(CASE WHEN token IN ('der','die','das','und','ist','ein') THEN 1 ELSE 0 END)::BIGINT AS score
         | FROM t GROUP BY doc_id
         | UNION ALL SELECT doc_id, 'en',
         |   sum(CASE WHEN token IN ('the','a','of','and','to','is','in') THEN 1 ELSE 0 END)::BIGINT
         | FROM t GROUP BY doc_id
         | UNION ALL SELECT doc_id, 'es',
         |   sum(CASE WHEN token IN ('el','la','los','de','que','y','un') THEN 1 ELSE 0 END)::BIGINT
         | FROM t GROUP BY doc_id
         | UNION ALL SELECT doc_id, 'fr',
         |   sum(CASE WHEN token IN ('le','la','les','et','est','une') THEN 1 ELSE 0 END)::BIGINT
         | FROM t GROUP BY doc_id
         | UNION ALL SELECT doc_id, 'zh',
         |   sum(CASE WHEN token IN ('de','shi','le','zhong') THEN 1 ELSE 0 END)::BIGINT
         | FROM t GROUP BY doc_id),
         |lang AS (SELECT doc_id, lang_guess FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_guess) AS rk
         |  FROM scores) x WHERE rk = 1)
         |SELECT l.lang_guess, count(*)::BIGINT AS n_docs,
         |  sum(st.n_tokens)::BIGINT AS total_tokens,
         |  round(avg(st.n_tokens), 6) AS avg_tokens,
         |  round(avg(st.q), 6) AS avg_quality,
         |  round(avg(st.ttr), 6) AS avg_ttr
         |FROM st JOIN lang l USING (doc_id)
         |GROUP BY l.lang_guess ORDER BY l.lang_guess""".stripMargin,

    // BM25 top-5 per query, Lucene idf ln(1+(N−df+.5)/(df+.5)), k1=1.2
    // b=0.75 — the query-term VALUES literals come from the SAME
    // TextOps.Bm25Queries Seq the Spark side scores, and every double
    // op is written in the same order (libm-ulp absorbed by round 6;
    // rank ties broken by doc_id)
    "t19_bm25_topk" -> t19Sql,

    // per-collection BM25 (t19b): every corpus stat within the source
    // group, top-5 per (source, query) — t19's algebra with the
    // collection key riding every group/join/window key
    "t19b_bm25_topk_by" -> {
      val qvals = graft.text.TextOps.Bm25Queries.flatMap { case (qid, qt) =>
        qt.split(" ").filter(_.nonEmpty).distinct
          .map(t => s"($qid, '$t')")
      }.mkString(", ")
      s"""WITH q(query_id, token) AS (VALUES $qvals),
         |dlt AS (SELECT source, doc_id,
         |          len(regexp_extract_all(text, '[^ ]+'))::BIGINT AS dl
         |        FROM documents),
         |st AS (SELECT source, count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
         |       FROM dlt GROUP BY 1),
         |toks AS (SELECT source, doc_id, unnest(string_split(text,' ')) AS token
         |         FROM documents),
         |tf AS (SELECT source, doc_id, token, count(*)::BIGINT AS tf FROM toks
         |       WHERE token <> '' GROUP BY 1, 2, 3),
         |dfq AS (SELECT source, token, count(*)::BIGINT AS df
         |        FROM tf JOIN (SELECT DISTINCT token FROM q) qt USING (token)
         |        GROUP BY 1, 2),
         |s AS (SELECT tf.source, q.query_id, tf.doc_id,
         |        ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
         |          * tf.tf * (1.2 + 1.0)
         |          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dlt.dl / st.avgdl))
         |          AS part
         |      FROM tf
         |      JOIN dfq ON dfq.source = tf.source AND dfq.token = tf.token
         |      JOIN q ON q.token = tf.token
         |      JOIN dlt ON dlt.source = tf.source AND dlt.doc_id = tf.doc_id
         |      JOIN st ON st.source = tf.source),
         |g AS (SELECT source, query_id, doc_id, count(*)::BIGINT AS n_hit,
         |        round(sum(part), 6) AS score FROM s GROUP BY 1, 2, 3),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source, query_id
         |        ORDER BY score DESC, doc_id) AS rk FROM g)
         |SELECT source, query_id, doc_id, n_hit, score, rk::INT AS rk
         |FROM r WHERE rk <= 5 ORDER BY source, query_id, rk""".stripMargin
    },

    // per-collection duplication ratio (t21b): shingle df within the
    // source group — t21's algebra keyed on (source, shingle)
    "t21b_dup_ratio_by" ->
      """WITH toks AS (SELECT doc_id, source,
        |                unnest(string_split(text,' ')) AS token,
        |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |              FROM documents),
        |t AS (SELECT doc_id, source, token, pos FROM toks WHERE token <> ''),
        |sh0 AS (SELECT doc_id, source,
        |          concat_ws(' ', token, lead(token,1) OVER w, lead(token,2) OVER w,
        |            lead(token,3) OVER w, lead(token,4) OVER w, lead(token,5) OVER w,
        |            lead(token,6) OVER w, lead(token,7) OVER w) AS shingle,
        |          lead(token,7) OVER w AS l7
        |        FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, source, shingle FROM sh0 WHERE l7 IS NOT NULL),
        |d AS (SELECT source, shingle, count(*)::BIGINT AS df FROM sh GROUP BY 1, 2),
        |p AS (SELECT sh.doc_id, sh.source, count(*)::BIGINT AS n_grams,
        |        sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared
        |      FROM sh JOIN d ON d.source = sh.source AND d.shingle = sh.shingle
        |      GROUP BY 1, 2)
        |SELECT doc_id, source, n_grams, n_shared,
        |  round(n_shared::DOUBLE / n_grams, 6) AS dup_ratio,
        |  (n_shared::DOUBLE / n_grams >= 0.5)::INT AS flagged
        |FROM p ORDER BY doc_id""".stripMargin,

    // persisted BM25 index (t20): serving is bit-identical to t19 —
    // doc length denormalized at build, avgdl from exact persisted
    // integer totals, df complete under bucket pruning (every posting
    // of a token shares its bucket) — so the t19 oracle IS the t20
    // oracle (the s04/s05 shared-oracle precedent)
    "t20_bm25_indexed" -> t19Sql,

    // cross-doc duplication ratio (t21): the t01 shingle CTEs, a gram
    // df count, one join back; the flag compares the unrounded
    // single-division ratio (same integers -> same double both engines)
    "t21_dup_ratio" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
        |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |              FROM documents),
        |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
        |sh0 AS (SELECT doc_id,
        |          concat_ws(' ', token, lead(token,1) OVER w, lead(token,2) OVER w,
        |            lead(token,3) OVER w, lead(token,4) OVER w, lead(token,5) OVER w,
        |            lead(token,6) OVER w, lead(token,7) OVER w) AS shingle,
        |          lead(token,7) OVER w AS l7
        |        FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE l7 IS NOT NULL),
        |d AS (SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY 1),
        |p AS (SELECT sh.doc_id, count(*)::BIGINT AS n_grams,
        |        sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared
        |      FROM sh JOIN d USING (shingle) GROUP BY sh.doc_id)
        |SELECT doc_id, n_grams, n_shared,
        |  round(n_shared::DOUBLE / n_grams, 6) AS dup_ratio,
        |  (n_shared::DOUBLE / n_grams >= 0.5)::INT AS flagged
        |FROM p ORDER BY doc_id""".stripMargin,

    // in-engine k-means (k01): init = the 8 smallest doc ids' t16
    // vectors, two (assign, update) Lloyd cycles, final assignment.
    // Parity per iteration: the same r6-rounded embeddings, distance
    // key c·c − 2·v·c via ordered-list inner products (sequential sums
    // — the proven t17 convention), argmin to the FIRST minimal index,
    // and centroids re-rounded to r6 after every mean update so both
    // engines re-enter each iteration on identical doubles; empty
    // clusters keep their previous centroid (the coalesce)
    "k01_kmeans_fit" ->
      s"""WITH $k01CentCtes,
         |d3 AS (SELECT vec.doc_id,
         |         list(list_inner_product(c.v, c.v)
         |              - 2.0*list_inner_product(vec.v, c.v)
         |              ORDER BY c.cid) AS dl
         |       FROM vec CROSS JOIN c2 c GROUP BY vec.doc_id, vec.v),
         |a3 AS (SELECT doc_id,
         |         (list_position(dl, list_aggregate(dl, 'min')) - 1)::BIGINT AS cluster
         |       FROM d3)
         |SELECT doc_id, cluster,
         |  count(*) OVER (PARTITION BY cluster) AS cluster_size
         |FROM a3 ORDER BY doc_id""".stripMargin,

    // k01 with farthest-point init (k01d): the same two Lloyd cycles
    // over the init chain that greedily maximizes the min distance key
    // — every pick an exact-double argmax both engines replay
    "k01d_kmeans_farthest" ->
      s"""WITH ${k01Chain(k01FarthestInit)},
         |d3 AS (SELECT vec.doc_id,
         |         list(list_inner_product(c.v, c.v)
         |              - 2.0*list_inner_product(vec.v, c.v)
         |              ORDER BY c.cid) AS dl
         |       FROM vec CROSS JOIN c2 c GROUP BY vec.doc_id, vec.v),
         |a3 AS (SELECT doc_id,
         |         (list_position(dl, list_aggregate(dl, 'min')) - 1)::BIGINT AS cluster
         |       FROM d3)
         |SELECT doc_id, cluster,
         |  count(*) OVER (PARTITION BY cluster) AS cluster_size
         |FROM a3 ORDER BY doc_id""".stripMargin,

    // cluster-quality report (k02): per cluster of the SAME k01 fit —
    // member count, mean squared distance to the own centroid
    // (min-dKey + |v|², the argmin key reused as the distance value),
    // and the squared margin to the nearest other centroid; every
    // reduction is an ordered-list inner product, r6 on the averages
    "k02_cluster_quality" ->
      s"""WITH $k01CentCtes,
         |d3x AS (SELECT vec.doc_id,
         |          list(list_inner_product(c.v, c.v)
         |               - 2.0*list_inner_product(vec.v, c.v)
         |               ORDER BY c.cid) AS dl,
         |          list_inner_product(vec.v, vec.v) AS vv
         |        FROM vec CROSS JOIN c2 c GROUP BY vec.doc_id, vec.v),
         |a3x AS (SELECT doc_id,
         |          (list_position(dl, list_aggregate(dl, 'min')) - 1)::BIGINT AS cluster,
         |          list_aggregate(dl, 'min') + vv AS dist2
         |        FROM d3x),
         |per AS (SELECT cluster, count(*)::BIGINT AS n_docs,
         |          round(avg(dist2), 6) AS avg_dist2
         |        FROM a3x GROUP BY cluster),
         |mg AS (SELECT a.cid::BIGINT AS cluster,
         |         round(min(list_inner_product(a.v, a.v)
         |           - 2.0*list_inner_product(a.v, b.v)
         |           + list_inner_product(b.v, b.v)), 6) AS min_margin
         |       FROM c2 a JOIN c2 b ON a.cid <> b.cid GROUP BY a.cid)
         |SELECT per.cluster, per.n_docs, per.avg_dist2, mg.min_margin
         |FROM per JOIN mg USING (cluster) ORDER BY cluster""".stripMargin,

    // k03: simplified silhouette of the SAME k01 fit — sorted argmin
    // keys give own (pos 1) and nearest-other (pos 2) dist²; clamp at
    // 0, s = (b−a)/max(a,b), degenerate max 0 scores 0
    "k03_silhouette" ->
      s"""WITH $k01CentCtes,
         |d3x AS (SELECT vec.doc_id,
         |          list(list_inner_product(c.v, c.v)
         |               - 2.0*list_inner_product(vec.v, c.v)
         |               ORDER BY c.cid) AS dl,
         |          list_inner_product(vec.v, vec.v) AS vv
         |        FROM vec CROSS JOIN c2 c GROUP BY vec.doc_id, vec.v),
         |sl AS (SELECT doc_id,
         |         (list_position(dl, list_aggregate(dl, 'min')) - 1)::BIGINT
         |           AS cluster,
         |         greatest(list_sort(dl)[1] + vv, 0.0) AS a2,
         |         greatest(list_sort(dl)[2] + vv, 0.0) AS b2
         |       FROM d3x),
         |sv AS (SELECT cluster,
         |         CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0
         |              THEN (sqrt(b2) - sqrt(a2))
         |                   / greatest(sqrt(a2), sqrt(b2))
         |              ELSE 0.0 END AS s
         |       FROM sl)
         |SELECT cluster, count(*)::BIGINT AS n_docs,
         |  round(avg(s), 6) AS silhouette
         |FROM sv GROUP BY cluster ORDER BY cluster""".stripMargin,

    // mixture over DISCOVERED domains: the t17 assignment feeding the
    // a08 mixture machinery keyed on the topic — same weight
    // normalization double ops, same h64-bucket cut
    "a10_topic_mixture" -> {
      val b = s"${h64Sql("d.doc_id::VARCHAR", "'23'")} % 10000"
      s"""WITH $t17AsgCtes,
         |t(tk, w) AS (VALUES
         |  ('0', 0.5::DOUBLE / (0.5::DOUBLE + 0.3::DOUBLE + 0.2::DOUBLE)),
         |  ('5', 0.3::DOUBLE / (0.5::DOUBLE + 0.3::DOUBLE + 0.2::DOUBLE)),
         |  ('7', 0.2::DOUBLE / (0.5::DOUBLE + 0.3::DOUBLE + 0.2::DOUBLE))),
         |tt AS (SELECT doc_id, topic, topic::VARCHAR AS tk FROM asg),
         |c AS (SELECT tk, count(*)::BIGINT AS n FROM tt
         |      WHERE tk IN ('0','5','7') GROUP BY tk),
         |nout AS (SELECT min(n::DOUBLE / w) AS nout FROM c JOIN t USING (tk)),
         |f AS (SELECT c.tk, round(w * nout / n * 10000) AS cut
         |      FROM c JOIN t USING (tk) CROSS JOIN nout)
         |SELECT d.doc_id, d.topic
         |FROM tt d JOIN f ON d.tk = f.tk
         |WHERE $b < f.cut
         |ORDER BY d.doc_id""".stripMargin
    },

    // eval-contamination report: bench-doc 8-gram containment in the
    // train corpus's distinct-gram set; t01's shingle CTE, left join
    "t15_contamination_report" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
        |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |              FROM documents),
        |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
        |sh0 AS (SELECT doc_id,
        |          concat_ws(' ', token, lead(token,1) OVER w, lead(token,2) OVER w,
        |            lead(token,3) OVER w, lead(token,4) OVER w, lead(token,5) OVER w,
        |            lead(token,6) OVER w, lead(token,7) OVER w) AS shingle,
        |          lead(token,7) OVER w AS l7
        |        FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE l7 IS NOT NULL),
        |tg AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
        |bg AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 2 = 1)
        |SELECT bg.bench_id,
        |  count(*)::BIGINT AS n_grams,
        |  sum(CASE WHEN tg.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_shared,
        |  round(sum(CASE WHEN tg.shingle IS NOT NULL THEN 1 ELSE 0 END)
        |    / count(*), 6) AS contamination,
        |  (round(sum(CASE WHEN tg.shingle IS NOT NULL THEN 1 ELSE 0 END)
        |    / count(*), 6) >= 0.2)::INT AS contaminated
        |FROM bg LEFT JOIN tg ON bg.shingle = tg.shingle
        |GROUP BY bg.bench_id ORDER BY bench_id""".stripMargin,

    // Bloom decontamination: the Spark side's sketch prune is
    // exact-by-construction (no false negatives; false positives die in
    // the exact join) — so the oracle is IDENTICAL to t01's plain join
    "t06_bloom_decontaminate" -> t01Sql,

    // repetition: duplicated-3-gram fraction (1 - distinct/total)
    "t02_repetition" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
        |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |              FROM documents),
        |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
        |sh0 AS (SELECT doc_id,
        |          concat_ws(' ', token, lead(token,1) OVER w, lead(token,2) OVER w) AS shingle,
        |          lead(token,2) OVER w AS l2
        |        FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT doc_id, shingle FROM sh0 WHERE l2 IS NOT NULL)
        |SELECT doc_id, count(*)::BIGINT AS n_grams,
        |  count(DISTINCT shingle)::BIGINT AS n_distinct,
        |  round(1.0 - count(DISTINCT shingle)::DOUBLE / count(*), 6) AS rep_ratio
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // bigram LM scoring: add-0.5-smoothed bigram LM counted on the even
    // docs, odd docs scored by mean ln P(w2|w1) — context counts derive
    // from the bigram counts, V = distinct train tokens; unseen grams
    // fall back to the smoothing mass exactly as the Spark left joins do
    "t08_lm_score" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
        |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |              FROM documents),
        |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
        |bg0 AS (SELECT doc_id, token AS w1,
        |          lead(token,1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |        FROM t),
        |b AS (SELECT doc_id, w1, w2 FROM bg0 WHERE w2 IS NOT NULL),
        |c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM b
        |       WHERE doc_id % 2 = 0 GROUP BY w1, w2),
        |c1 AS (SELECT w1, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY w1),
        |v AS (SELECT count(DISTINCT token)::BIGINT AS v FROM t WHERE doc_id % 2 = 0),
        |sc AS (SELECT e.doc_id,
        |         ln((coalesce(c2.c2, 0) + 0.5) / (coalesce(c1.c1, 0) + 0.5 * v.v)) AS lp
        |       FROM b e
        |       LEFT JOIN c2 ON e.w1 = c2.w1 AND e.w2 = c2.w2
        |       LEFT JOIN c1 ON e.w1 = c1.w1
        |       CROSS JOIN v
        |       WHERE e.doc_id % 2 = 1)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  round(avg(lp), 6) AS avg_logprob,
        |  round(exp(-avg(lp)), 4) AS perplexity
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Gopher rule gate: per-doc word stats + stopword presence flags
    // (Σ of per-word max, mirroring the Spark agg), keep = all rules;
    // ratios r6 on both engines
    "t14_gopher_rules" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
        |              FROM documents),
        |t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |s AS (SELECT doc_id,
        |        count(*)::BIGINT AS n_tokens,
        |        round(avg(length(token)), 6) AS mean_word_len,
        |        round(avg(CASE WHEN regexp_matches(token, '[A-Za-z]')
        |          THEN 1.0 ELSE 0.0 END), 6) AS alpha_ratio,
        |        round(avg(CASE WHEN regexp_matches(token, '[#…]')
        |          THEN 1.0 ELSE 0.0 END), 6) AS symbol_ratio,
        |        (max(CASE WHEN token = 'the' THEN 1 ELSE 0 END)
        |         + max(CASE WHEN token = 'be' THEN 1 ELSE 0 END)
        |         + max(CASE WHEN token = 'to' THEN 1 ELSE 0 END)
        |         + max(CASE WHEN token = 'of' THEN 1 ELSE 0 END)
        |         + max(CASE WHEN token = 'and' THEN 1 ELSE 0 END)
        |         + max(CASE WHEN token = 'that' THEN 1 ELSE 0 END)
        |         + max(CASE WHEN token = 'have' THEN 1 ELSE 0 END)
        |         + max(CASE WHEN token = 'with' THEN 1 ELSE 0 END)
        |        )::BIGINT AS n_stop
        |      FROM t GROUP BY doc_id)
        |SELECT doc_id, n_tokens, mean_word_len, alpha_ratio,
        |  symbol_ratio, n_stop,
        |  (n_tokens >= 50 AND n_tokens <= 100000
        |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND alpha_ratio >= 0.8 AND symbol_ratio <= 0.1
        |   AND n_stop >= 1)::INT AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    // token-budget mixture: per-source token masses → basis-point
    // epochs e = min(8, (w/ΣW)·B/t) quantized through the SAME IEEE
    // double op order as the Scala side → generate_series epoch
    // fan-out, fractional epoch kept by salt-31 h64 bucket < bps%10000
    "t13_token_budget_mixture" -> {
      val h = h64Sql("doc_id::VARCHAR", "'31'")
      s"""WITH spec(source, w) AS (VALUES
         |  ('src0', 3.0::DOUBLE), ('src1', 1.0::DOUBLE), ('src2', 1.0::DOUBLE)),
         |n AS (SELECT doc_id, source,
         |        len(list_filter(string_split(text, ' '),
         |          t -> t <> ''))::BIGINT AS n_tokens
         |      FROM documents WHERE source IN ('src0','src1','src2')),
         |tot AS (SELECT source, sum(n_tokens)::BIGINT AS t
         |        FROM n GROUP BY source),
         |e AS (SELECT s.source,
         |        CAST(round(least(8.0::DOUBLE,
         |          (s.w / (3.0::DOUBLE + 1.0::DOUBLE + 1.0::DOUBLE))
         |            * 6000.0 / tot.t) * 10000) AS BIGINT) AS bps
         |      FROM spec s JOIN tot ON s.source = tot.source),
         |x AS (SELECT n.doc_id, n.source, n.n_tokens,
         |        e.bps // 10000 AS f, e.bps % 10000 AS cut
         |      FROM n JOIN e ON n.source = e.source),
         |u AS (SELECT x.*, unnest(generate_series(0, f)) AS epoch FROM x)
         |SELECT doc_id, source, n_tokens, epoch FROM u
         |WHERE epoch < f OR $h % 10000 < cut
         |ORDER BY doc_id, epoch""".stripMargin
    },

    // perplexity-bucket sampling: t08's scoring algebra → r6 scores →
    // quantile_cont edges (round 6, matching Spark's percentile at the
    // proven q13 parity) → head/middle/tail CASE → salt-29 h64 keep
    // cutoffs (10000/5000/1000)
    "t12_perplexity_buckets" -> {
      val h = h64Sql("doc_id::VARCHAR", "'29'")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
         |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
         |              FROM documents),
         |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
         |bg0 AS (SELECT doc_id, token AS w1,
         |          lead(token,1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |        FROM t),
         |b AS (SELECT doc_id, w1, w2 FROM bg0 WHERE w2 IS NOT NULL),
         |c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM b
         |       WHERE doc_id % 2 = 0 GROUP BY w1, w2),
         |c1 AS (SELECT w1, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY w1),
         |v AS (SELECT count(DISTINCT token)::BIGINT AS v FROM t WHERE doc_id % 2 = 0),
         |sc AS (SELECT e.doc_id,
         |         ln((coalesce(c2.c2, 0) + 0.5) / (coalesce(c1.c1, 0) + 0.5 * v.v)) AS lp
         |       FROM b e
         |       LEFT JOIN c2 ON e.w1 = c2.w1 AND e.w2 = c2.w2
         |       LEFT JOIN c1 ON e.w1 = c1.w1
         |       CROSS JOIN v
         |       WHERE e.doc_id % 2 = 1),
         |s AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |        round(avg(lp), 6) AS avg_logprob
         |      FROM sc GROUP BY doc_id),
         |e AS (SELECT round(quantile_cont(avg_logprob, ${2.0 / 3}), 6) AS e1,
         |        round(quantile_cont(avg_logprob, ${1.0 / 3}), 6) AS e2 FROM s),
         |bk AS (SELECT s.*, CASE WHEN avg_logprob >= e.e1 THEN 1
         |         WHEN avg_logprob >= e.e2 THEN 2 ELSE 3 END AS bucket
         |       FROM s CROSS JOIN e)
         |SELECT doc_id, n_bigrams, avg_logprob, bucket FROM bk
         |WHERE $h % 10000 <
         |  CASE bucket WHEN 1 THEN 10000 WHEN 2 THEN 5000 ELSE 1000 END
         |ORDER BY doc_id""".stripMargin
    },

    // sequence packing: greedy 128-token first-fit per source in doc_id
    // order — the recursive CTE replays the same O(1)-state scan the
    // Spark in-partition packing scan performs per shard
    "t09_pack_sequences" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
        |              FROM documents),
        |n AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM toks
        |      WHERE token <> '' GROUP BY doc_id),
        |d AS (SELECT dd.source, dd.doc_id, n.n_tokens,
        |        row_number() OVER (PARTITION BY dd.source ORDER BY dd.doc_id) AS rk
        |      FROM documents dd JOIN n ON dd.doc_id = n.doc_id),
        |pack AS (
        |  SELECT source, doc_id, n_tokens, rk, 0::BIGINT AS seq_id, n_tokens AS cur
        |  FROM d WHERE rk = 1
        |  UNION ALL
        |  SELECT d.source, d.doc_id, d.n_tokens, d.rk,
        |    CASE WHEN p.cur + d.n_tokens > 128 THEN p.seq_id + 1 ELSE p.seq_id END,
        |    CASE WHEN p.cur + d.n_tokens > 128 THEN d.n_tokens ELSE p.cur + d.n_tokens END
        |  FROM pack p JOIN d ON d.source = p.source AND d.rk = p.rk + 1)
        |SELECT source, doc_id, n_tokens, seq_id
        |FROM pack ORDER BY source, doc_id""".stripMargin,

    // DSIR-style importance weights: 1024 md5-hashed bigram buckets
    // (same portable h64 as a03), add-1-smoothed target/source bucket
    // probabilities, per-even-doc sum of log ratios toward the odd docs
    "t10_importance_weights" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
         |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
         |              FROM documents),
         |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
         |bg0 AS (SELECT doc_id, token AS w1,
         |          lead(token,1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |        FROM t),
         |b AS (SELECT doc_id,
         |        ${h64Sql("w1 || ' ' || w2", "'13'")} % 1024 AS b
         |      FROM bg0 WHERE w2 IS NOT NULL),
         |ct AS (SELECT b, count(*)::BIGINT AS ct FROM b WHERE doc_id % 2 = 1 GROUP BY b),
         |cs AS (SELECT b, count(*)::BIGINT AS cs FROM b WHERE doc_id % 2 = 0 GROUP BY b),
         |tot AS (SELECT (SELECT sum(ct) FROM ct) AS nt, (SELECT sum(cs) FROM cs) AS ns),
         |lr AS (SELECT b,
         |         ln((coalesce(ct, 0) + 1.0) / (nt + 1024.0))
         |           - ln((coalesce(cs, 0) + 1.0) / (ns + 1024.0)) AS lr
         |       FROM ct FULL OUTER JOIN cs USING (b) CROSS JOIN tot)
         |SELECT s.doc_id, count(*)::BIGINT AS n_grams,
         |  round(sum(lr.lr), 6) AS log_weight
         |FROM b s JOIN lr USING (b)
         |WHERE s.doc_id % 2 = 0
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    // quality-filter classifier: the SAME frozen weights the Spark plan
    // broadcasts, embedded as a 256-row VALUES table (Double.toString
    // round-trips in DuckDB); logit rounded to 6 before the sigmoid so
    // both engines exponentiate the identical double
    "t11_quality_classifier" -> {
      val m = graft.text.QualityFilterModel
      val vals = m.W.zipWithIndex
        .map { case (wt, b) => s"($b, ${wt}::DOUBLE)" }.mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
         |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
         |              FROM documents),
         |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
         |bg0 AS (SELECT doc_id, token AS w1,
         |          lead(token,1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |        FROM t),
         |b AS (SELECT doc_id,
         |        ${h64Sql("w1 || ' ' || w2", s"'${m.Salt}'")} % ${m.NBuckets} AS b
         |      FROM bg0 WHERE w2 IS NOT NULL),
         |cnt AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM b GROUP BY 1, 2),
         |w(b, w) AS (VALUES $vals),
         |agg AS (SELECT doc_id, sum(c)::BIGINT AS n_grams,
         |          round(${m.Intercept} + sum(c * w.w) / sum(c)
         |            + ${m.WDistinct} * count(*) / sum(c), 6) AS logit
         |        FROM cnt JOIN w USING (b) GROUP BY doc_id)
         |SELECT doc_id, n_grams, logit,
         |  round(1.0 / (1.0 + exp(-logit)), 6) AS q_prob,
         |  (round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5)::INT AS keep
         |FROM agg ORDER BY doc_id""".stripMargin
    },

    // PII redaction: same doc_id-salted body construction, same
    // RE2-compatible patterns (DuckDB's regexp_* IS RE2; the Spark side
    // keeps the patterns lookaround-free so both engines agree)
    "t03_pii_redact" ->
      """WITH d AS (SELECT doc_id,
        |    text || ' contact user' || doc_id::VARCHAR ||
        |    '@mail.example.com or 415-555-' ||
        |    lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') AS body
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(body, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::INT AS n_email,
        |  len(regexp_extract_all(body, '\d{3}-\d{3}-\d{4}'))::INT AS n_phone,
        |  regexp_replace(
        |    regexp_replace(body, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted
        |FROM d ORDER BY doc_id""".stripMargin,

    // chunking: chunk i = substr(1 + i·80, 120); n chunks =
    // 1 + ceil((len-120)/80) clamped at 1 (integer ceil via +79 floor)
    "t04_chunk" ->
      """WITH d AS (SELECT doc_id, text,
        |    CASE WHEN strlen(text) > 120
        |         THEN (strlen(text) - 120 + 79) // 80 ELSE 0 END AS n_extra
        |  FROM documents),
        |c AS (SELECT doc_id, unnest(generate_series(0, n_extra))::INT AS chunk_id,
        |        text FROM d)
        |SELECT doc_id, chunk_id,
        |  substr(text, 1 + chunk_id * 80, 120) AS chunk,
        |  len(string_split(substr(text, 1 + chunk_id * 80, 120), ' '))::INT AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // BPE-ish token counts: same salted body as t03, same
    // leftmost-first alternation in RE2
    "t07_bpe_tokens" ->
      """WITH d AS (SELECT doc_id,
        |    text || ' contact user' || doc_id::VARCHAR ||
        |    '@mail.example.com or 415-555-' ||
        |    lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') AS body
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(body, '[^ ]+'))::INT AS n_ws,
        |  len(regexp_extract_all(body, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +'))::INT AS n_bpe,
        |  round(len(regexp_extract_all(body, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +'))::DOUBLE
        |    / greatest(len(regexp_extract_all(body, '[^ ]+'))::DOUBLE, 1.0), 6) AS bpe_ws_ratio
        |FROM d ORDER BY doc_id""".stripMargin,

    // TF-IDF: smooth idf tf·(ln((N+1)/(df+1))+1), rank per doc by
    // (score desc, token asc) — identical formula, libm-ulp absorbed by
    // round(...,6) on output (rank order itself is decided by integer
    // (tf, df) pairs except at exact real coincidences)
    "t05_tfidf_topk" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
        |              FROM documents),
        |t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
        |        tf.tf * (ln((n.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0) AS score
        |      FROM tf JOIN dfq USING (token) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, token) AS rk FROM s)
        |SELECT doc_id, token, tf, df, round(score, 6) AS score, rk::INT AS rk
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    // heavy hitters: the oracle is the plain exact GROUP BY/HAVING —
    // the Spark side's Count-Min prune is exact-by-construction (CMS
    // never undercounts, survivors are re-counted exactly)
    "a06_heavy_hitters" ->
      """WITH t AS (SELECT unnest(list_transform(
        |    generate_series(2, len(string_split(text,' '))),
        |    i -> string_split(text,' ')[i-1] || ' ' || string_split(text,' ')[i]))
        |      AS bigram
        |  FROM documents)
        |SELECT bigram, count(*)::BIGINT AS cnt FROM t GROUP BY bigram
        |HAVING count(*) >= 40 ORDER BY cnt DESC, bigram""".stripMargin,

    // MinHash+LSH: ONE portable md5-derived base value per shingle, 64
    // arithmetic permutations (a·base+b mod 2^31−1 — coefficients shared
    // with the Spark side), 16 bands of 4, md5-of-slice band buckets,
    // est_jaccard = agreeing slots / 64 (exact k/64 rationals)
    "d01_minhash_lsh" -> s"$d01PairsSql\nORDER BY id_a, id_b",

    // PageRank over the d01 pair graph (p01): 2 power iterations, rank
    // r6-rounded per update (the k01 pattern — both engines re-enter
    // each iteration on identical doubles; per-node contribution sums
    // are unordered, r6 absorbs the fold-order ulp)
    "p01_pagerank" -> {
      """WITH pairs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (__PAIRS__) p0),
        |edges AS (SELECT DISTINCT src, dst FROM (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs) e),
        |deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        |pr0 AS (SELECT id, round(1.0 / nn.n, 6) AS pr
        |        FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS id, sum(p.pr / d.deg) AS cs
        |       FROM edges e JOIN deg d ON d.src = e.src
        |       JOIN pr0 p ON p.id = e.src GROUP BY e.dst),
        |pr1 AS (SELECT nodes.id,
        |          round((1.0 - 0.85) / nn.n + 0.85 * coalesce(c1.cs, 0.0), 6) AS pr
        |        FROM nodes LEFT JOIN c1 USING (id) CROSS JOIN nn),
        |c2 AS (SELECT e.dst AS id, sum(p.pr / d.deg) AS cs
        |       FROM edges e JOIN deg d ON d.src = e.src
        |       JOIN pr1 p ON p.id = e.src GROUP BY e.dst),
        |pr2 AS (SELECT nodes.id,
        |          round((1.0 - 0.85) / nn.n + 0.85 * coalesce(c2.cs, 0.0), 6) AS pr
        |        FROM nodes LEFT JOIN c2 USING (id) CROSS JOIN nn)
        |SELECT id AS doc_id, pr FROM pr2 ORDER BY doc_id""".stripMargin
        .replace("__PAIRS__", d01PairsSql)
    },

    // Dedup clusters: the d01 pair list closed into connected components
    // (recursive reachability fixpoint, min id per component — the exact
    // fixpoint the Spark min-label propagation converges to)
    "d03_dedup_clusters" -> {
      // the pair SQL is substituted AFTER stripMargin — its '||' concat
      // operators at line starts would otherwise lose a pipe
      """WITH RECURSIVE pairs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (__PAIRS__) p0),
        |nodes AS (SELECT DISTINCT id FROM (
        |  SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs) n),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
        |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT id AS doc_id, cluster_id, (id = cluster_id) AS keep
        |FROM comp ORDER BY doc_id""".stripMargin
        .replace("__PAIRS__", d01PairsSql)
    },

    // semantic dedup over the engine's own hashed embeddings: the d03
    // recursive closure over the t16-vector sign-LSH pair source
    "d08_semantic_dedup" -> {
      """WITH RECURSIVE pairs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (__PAIRS__) p0),
        |nodes AS (SELECT DISTINCT id FROM (
        |  SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs) n),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
        |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT id AS doc_id, cluster_id, (id = cluster_id) AS keep
        |FROM comp ORDER BY doc_id""".stripMargin
        .replace("__PAIRS__", d08PairsSql)
    },

    // keep-best-of-cluster dedup: d03's reachability closure + q19's
    // quality score, election by (q DESC, doc_id) per cluster;
    // unclustered docs are their own singleton cluster
    "d07_dedup_keep_best" -> {
      s"""WITH RECURSIVE pairs AS MATERIALIZED (
         |  SELECT id_a, id_b FROM (__PAIRS__) p0),
         |nodes AS (SELECT DISTINCT id FROM (
         |  SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs) n),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
         |t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
         |q AS (SELECT doc_id,
         |        round(sum(CASE WHEN token IN ($stopList) THEN 1 ELSE 0 END)::DOUBLE / count(*) * 0.5
         |            + count(DISTINCT token)::DOUBLE / count(*) * 0.5, 6) AS q
         |      FROM t GROUP BY doc_id),
         |wc AS (SELECT d.doc_id, coalesce(comp.cluster_id, d.doc_id) AS cluster_id, q.q
         |       FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
         |       JOIN q ON q.doc_id = d.doc_id)
         |SELECT doc_id, cluster_id, q,
         |  (row_number() OVER (PARTITION BY cluster_id
         |     ORDER BY q DESC, doc_id) = 1)::INT AS kept
         |FROM wc ORDER BY doc_id""".stripMargin
        .replace("__PAIRS__", d01PairsSql)
    },

    // SimHash: 60-bit portable signature, 4 rotated 15-bit bands
    // (recall 100% for hamming <= 3 by pigeonhole), bit_count(xor) verify
    "d02_simhash_pairs" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
         |              FROM documents),
         |t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
         |hh AS (SELECT doc_id, ${h64Sql("token", "'0'")} AS h FROM t),
         |bits AS (SELECT doc_id, j,
         |           sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS bs
         |         FROM hh, (SELECT unnest(generate_series(0,59)) AS j) js
         |         GROUP BY doc_id, j),
         |sig AS (SELECT doc_id,
         |          sum(CASE WHEN bs > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
         |        FROM bits GROUP BY doc_id),
         |banded AS (SELECT doc_id, b AS band, (simhash >> (15*b)) & 32767 AS bucket, simhash
         |           FROM sig, (SELECT unnest(generate_series(0,3)) AS b) bs),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |           a.simhash AS sa, b.simhash AS sb
         |         FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
         |         WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // multi-band sign-LSH ANN at the LADDER-selected operating point
    // (seed 42) — the oracle replays the occupancy-driven rung
    // selection from the same integer bucket counts, then the banded
    // candidate join + exact cosine verify (see ladderPairsSql)
    "s01_lsh_ann" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |             list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n
         |           FROM embeddings),
         |${ladderPairsSql("vec_id", None, threshold = 0.3, dim = 64,
            seed = 42L, roundBeforeFilter = false)}
         |ORDER BY id_a, id_b""".stripMargin,

    // block-bootstrap chain with deterministic strided starts: start_b =
    // (b*523) mod (total-29); telescoped ln-scale running sum
    // g01: the SEEDED walk replayed end to end. java.util.Random is a
    // 48-bit LCG (seed' = (seed·25214903917 + 11) mod 2^48, next(31) =
    // seed >> 17); nextInt(bound) takes (bound·u) >> 31 when bound is a
    // power of two, else r = u mod bound, redrawing only when
    // u − r + bound − 1 overflows a 32-bit int — all exact integer
    // arithmetic, replayed in HUGEINT inside a recursive CTE.
    // The 68 block starts feed the same telescoped chain as g01f.
    "g01_block_bootstrap" -> {
      val seed0 = (42L ^ 0x5DEECE66DL) & ((1L << 48) - 1)
      s"""WITH RECURSIVE
         |idx AS (SELECT row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
         |          value::DOUBLE AS p FROM events),
         |tot AS (SELECT count(*)::BIGINT AS total FROM idx),
         |lcg AS (
         |  SELECT 0 AS nd, CAST($seed0 AS HUGEINT) AS s, CAST([] AS BIGINT[]) AS starts
         |  UNION ALL
         |  SELECT CASE WHEN (bnd & (-bnd)) = bnd
         |                 OR u - (u % bnd) + bnd - 1 <= 2147483647
         |              THEN nd + 1 ELSE nd END,
         |         s2,
         |         CASE WHEN (bnd & (-bnd)) = bnd
         |              THEN list_append(starts, ((bnd * u) // 2147483648)::BIGINT)
         |              WHEN u - (u % bnd) + bnd - 1 <= 2147483647
         |              THEN list_append(starts, (u % bnd)::BIGINT) ELSE starts END
         |  FROM (SELECT nd, starts, s2, s2 // 131072 AS u,
         |          (SELECT total - 29 FROM tot) AS bnd
         |        FROM (SELECT nd, starts,
         |                (s * 25214903917 + 11) % 281474976710656 AS s2
         |              FROM lcg WHERE nd < 68) a) b),
         |blocks AS (SELECT b::INT AS block_id, starts[b+1]::INT AS start
         |           FROM (SELECT starts FROM lcg WHERE nd = 68) f,
         |                (SELECT unnest(generate_series(0,67)) AS b) g),
         |pos AS (SELECT block_id, start, unnest(generate_series(0,29)) AS pos FROM blocks),
         |rows_ AS (SELECT p1.block_id, p1.pos, i.p
         |          FROM pos p1 JOIN idx i ON i.rn = p1.start + p1.pos),
         |pb AS (SELECT block_id, arg_min(p, pos) AS first_p, arg_max(p, pos) AS last_p
         |       FROM rows_ GROUP BY block_id),
         |d0 AS (SELECT block_id,
         |         coalesce(ln(lag(last_p) OVER (ORDER BY block_id)) - ln(first_p), 0.0) AS d
         |       FROM pb),
         |ch AS (SELECT block_id,
         |         sum(d) OVER (ORDER BY block_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ln_scale
         |       FROM d0)
         |SELECT (r.block_id*30 + r.pos)::INT AS rn,
         |  round(ln(exp(ln(r.p) + c.ln_scale)), 6) AS ln_price
         |FROM rows_ r JOIN ch c USING (block_id)
         |WHERE r.block_id*30 + r.pos < 2000
         |ORDER BY rn""".stripMargin
    },

    "g01f_block_chain" ->
      """WITH idx AS (SELECT row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
        |               value::DOUBLE AS p FROM events),
        |tot AS (SELECT count(*)::BIGINT AS total FROM idx),
        |blocks AS (SELECT b::INT AS block_id, ((b*523) % (total - 29))::INT AS start
        |           FROM tot, (SELECT unnest(generate_series(0,67)) AS b) g),
        |pos AS (SELECT block_id, start, unnest(generate_series(0,29)) AS pos FROM blocks),
        |rows_ AS (SELECT p1.block_id, p1.pos, i.p
        |          FROM pos p1 JOIN idx i ON i.rn = p1.start + p1.pos),
        |pb AS (SELECT block_id, arg_min(p, pos) AS first_p, arg_max(p, pos) AS last_p
        |       FROM rows_ GROUP BY block_id),
        |d0 AS (SELECT block_id,
        |         coalesce(ln(lag(last_p) OVER (ORDER BY block_id)) - ln(first_p), 0.0) AS d
        |       FROM pb),
        |ch AS (SELECT block_id,
        |         sum(d) OVER (ORDER BY block_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ln_scale
        |       FROM d0)
        |SELECT (r.block_id*30 + r.pos)::INT AS rn,
        |  round(ln(exp(ln(r.p) + c.ln_scale)), 6) AS ln_price
        |FROM rows_ r JOIN ch c USING (block_id)
        |WHERE r.block_id*30 + r.pos < 2000
        |ORDER BY rn""".stripMargin,

    // g02: the SEEDED Grasynda walk replayed end to end. Fit stage =
    // g02f's CTEs; then a phase-machine recursion over the LCG:
    // phase 1/2 = the two next() draws of nextDouble (exact dyadic
    // (hi·2^27+lo)/2^53), category-sampled against SEQUENTIAL
    // cumulative probs (tiny recursive cumsum — matches the Scala
    // accumulation order bit for bit); phase 0 = nextInt(pool size)
    // with both the power-of-2 and rejection branches. Pool values
    // joined back after the walk.
    "g02_grasynda" -> {
      val seed0 = (42L ^ 0x5DEECE66DL) & ((1L << 48) - 1)
      s"""WITH RECURSIVE
         |d AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, ret AS v
         |      FROM ($perUserRets) r0),
         |e0 AS (SELECT list_slice(es, 2, len(es)-1) AS interior FROM (
         |         SELECT list_sort(list_distinct(
         |           quantile_cont(v, [${(0 to 10).map(i => i / 10.0).mkString(",")}]))) AS es
         |         FROM d) q),
         |k0 AS (SELECT (len(interior)+1)::INT AS k FROM e0),
         |st AS (SELECT d.rn, d.v,
         |         len(list_filter(e0.interior, x -> x <= d.v))::INT AS state
         |       FROM d, e0),
         |states AS (SELECT unnest(generate_series(0, len(interior)))::INT AS state FROM e0),
         |pc AS (SELECT state, count(*)::BIGINT AS cnt FROM st GROUP BY state),
         |sp AS (SELECT s.state,
         |         coalesce(pc.cnt, 0)::DOUBLE / (SELECT count(*) FROM st) AS p
         |       FROM states s LEFT JOIN pc ON pc.state = s.state),
         |tr AS (SELECT state, next_state, count(*)::BIGINT AS cnt FROM
         |        (SELECT state, lead(state) OVER (ORDER BY rn) AS next_state FROM st) x
         |       WHERE next_state IS NOT NULL GROUP BY state, next_state),
         |dp AS (SELECT s1.state, s2.state AS nxt, coalesce(tr.cnt, 0)::DOUBLE AS cnt
         |       FROM states s1 CROSS JOIN states s2
         |       LEFT JOIN tr ON tr.state = s1.state AND tr.next_state = s2.state),
         |rs AS (SELECT state, sum(cnt) AS tot FROM dp GROUP BY state),
         |tp AS (SELECT dp.state, dp.nxt,
         |         CASE WHEN rs.tot > 0 THEN dp.cnt / rs.tot
         |              ELSE 1.0 / (SELECT k FROM k0) END AS p
         |       FROM dp JOIN rs ON rs.state = dp.state),
         |tcum AS (
         |  SELECT state, 0 AS j, p AS acc FROM tp WHERE nxt = 0
         |  UNION ALL
         |  SELECT c.state, c.j + 1, c.acc + t.p
         |  FROM tcum c JOIN tp t ON t.state = c.state AND t.nxt = c.j + 1
         |  WHERE c.j + 1 <= (SELECT k FROM k0) - 2),
         |tcl AS (SELECT state, list(acc ORDER BY j) AS cl FROM tcum GROUP BY state),
         |tcll AS (SELECT list(cl ORDER BY state) AS tl FROM tcl),
         |scum AS (
         |  SELECT 0 AS j, p AS acc FROM sp WHERE state = 0
         |  UNION ALL
         |  SELECT c.j + 1, c.acc + s.p
         |  FROM scum c JOIN sp s ON s.state = c.j + 1
         |  WHERE c.j + 1 <= (SELECT k FROM k0) - 2),
         |scl0 AS (SELECT list(acc ORDER BY j) AS scl FROM scum),
         |po AS (SELECT state, list(v ORDER BY v) AS pool FROM st GROUP BY state),
         |pl AS (SELECT list(coalesce(ln0, 0) ORDER BY state) AS pls FROM (
         |         SELECT s.state, (SELECT len(pool) FROM po WHERE po.state = s.state) AS ln0
         |         FROM states s) z),
         |mp AS (SELECT min(state) AS ms FROM po),
         |walk AS (
         |  SELECT 0 AS it, CAST($seed0 AS HUGEINT) AS s, 1 AS phase, 0 AS curstate,
         |         CAST(0 AS HUGEINT) AS hi, 0 AS nrets, TRUE AS isstart,
         |         scl0.scl AS scl, tcll.tl AS tl, pl.pls AS pls, mp.ms AS ms,
         |         CAST(NULL AS INT) AS acc_step, CAST(NULL AS INT) AS acc_state,
         |         CAST(NULL AS INT) AS acc_r
         |  FROM scl0, tcll, pl, mp
         |  UNION ALL
         |  SELECT it + 1, s2,
         |    CASE phase WHEN 1 THEN 2 WHEN 2 THEN 0
         |         ELSE CASE WHEN ok THEN 1 ELSE 0 END END,
         |    CASE WHEN phase = 2
         |         THEN len(list_filter(CASE WHEN isstart THEN scl
         |                                   ELSE tl[curstate + 1] END, c -> c <= u))::INT
         |         ELSE curstate END,
         |    CASE WHEN phase = 1 THEN s2 // 4194304 ELSE hi END,
         |    CASE WHEN phase = 0 AND ok THEN nrets + 1 ELSE nrets END,
         |    CASE WHEN phase = 2 THEN FALSE ELSE isstart END,
         |    scl, tl, pls, ms,
         |    CASE WHEN phase = 0 AND ok THEN nrets END,
         |    CASE WHEN phase = 0 AND ok THEN pk END,
         |    CASE WHEN phase = 0 AND ok THEN r::INT END
         |  FROM (
         |    SELECT w2.*,
         |           ((bnd & (-bnd)) = bnd
         |             OR (u31 - (u31 % bnd) + bnd - 1) <= 2147483647) AS ok,
         |           CASE WHEN (bnd & (-bnd)) = bnd
         |                THEN (bnd * u31) // 2147483648 ELSE u31 % bnd END AS r
         |    FROM (
         |      SELECT w1.*, s2 // 131072 AS u31,
         |        (hi * 134217728 + (s2 // 2097152)) / 9007199254740992.0 AS u,
         |        CASE WHEN pls[curstate + 1] > 0 THEN curstate ELSE ms END AS pk,
         |        pls[(CASE WHEN pls[curstate + 1] > 0 THEN curstate ELSE ms END) + 1] AS bnd
         |      FROM (SELECT walk.*,
         |              (s * 25214903917 + 11) % 281474976710656 AS s2
         |            FROM walk WHERE nrets < 2000) w1) w2) w3),
         |accs AS (SELECT acc_step AS rn, acc_state AS state, acc_r AS r
         |         FROM walk WHERE acc_step IS NOT NULL),
         |wr AS (SELECT a.rn::INT AS rn, po.pool[a.r + 1] AS ret
         |       FROM accs a JOIN po ON po.state = a.state)
         |SELECT rn, round(ret, 8) AS ret,
         |  round(ln(100.0 * exp(sum(ret) OVER (ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))), 6) AS ln_price
         |FROM wr ORDER BY rn""".stripMargin
    },

    // G3 PER-SERIES walk: the g02 fit+walk replayed PARTITION BY user —
    // per-sid quantile edges/digitize/transitions/pools (the g02b fit),
    // per-sid cumulative-probability lists (keyed recursions), and the
    // LCG walk machine carrying one row per sid per iteration with the
    // state scrambled from seed+sid; nextInt keeps both the
    // power-of-two and the modulo-rejection branches (pool sizes are
    // data-dependent per user)
    "g02wb_grasynda_walk_per_user" -> {
      val n = 100
      val seed = 42L
      s"""WITH RECURSIVE
         |r0 AS (SELECT user_id::BIGINT AS sid, ts, event_id,
         |         ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
         |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v
         |       FROM events),
         |data0 AS (SELECT sid,
         |           row_number() OVER (PARTITION BY sid ORDER BY ts, event_id) AS rn, v
         |         FROM r0 WHERE v IS NOT NULL),
         |keep AS (SELECT sid FROM data0 GROUP BY sid HAVING count(*) >= 10),
         |data AS MATERIALIZED (SELECT d.* FROM data0 d JOIN keep USING (sid)),
         |ed AS (SELECT sid, list_sort(list_distinct(
         |         quantile_cont(v, [${(0 to 10).map(i => i / 10.0).mkString(",")}]))) AS lst
         |       FROM data GROUP BY sid),
         |ei AS MATERIALIZED (SELECT sid, lst[2:len(lst)-1] AS interior FROM ed),
         |k0 AS MATERIALIZED (SELECT sid, (len(interior)+1)::INT AS k FROM ei),
         |st AS MATERIALIZED (SELECT d.sid, d.rn, d.v,
         |        len(list_filter(e.interior, x -> x <= d.v))::INT AS state
         |      FROM data d JOIN ei e ON e.sid = d.sid),
         |states AS MATERIALIZED (SELECT sid,
         |          unnest(generate_series(0, len(interior)))::INT AS state FROM ei),
         |tot AS (SELECT sid, count(*)::BIGINT AS nn FROM st GROUP BY sid),
         |pc AS (SELECT sid, state, count(*)::BIGINT AS cnt FROM st GROUP BY sid, state),
         |sp AS (SELECT s.sid, s.state,
         |         coalesce(pc.cnt, 0)::DOUBLE / tot.nn AS p
         |       FROM states s JOIN tot ON tot.sid = s.sid
         |       LEFT JOIN pc ON pc.sid = s.sid AND pc.state = s.state),
         |tr AS (SELECT sid, state, next_state, count(*)::BIGINT AS cnt FROM
         |        (SELECT sid, state,
         |           lead(state) OVER (PARTITION BY sid ORDER BY rn) AS next_state
         |         FROM st) x
         |       WHERE next_state IS NOT NULL GROUP BY sid, state, next_state),
         |dp AS (SELECT s1.sid, s1.state, s2.state AS nxt,
         |         coalesce(tr.cnt, 0)::DOUBLE AS cnt
         |       FROM states s1 JOIN states s2 ON s2.sid = s1.sid
         |       LEFT JOIN tr ON tr.sid = s1.sid AND tr.state = s1.state
         |                   AND tr.next_state = s2.state),
         |rs AS (SELECT sid, state, sum(cnt) AS tot FROM dp GROUP BY sid, state),
         |tp AS (SELECT dp.sid, dp.state, dp.nxt,
         |         CASE WHEN rs.tot > 0 THEN dp.cnt / rs.tot
         |              ELSE 1.0 / k0.k END AS p
         |       FROM dp JOIN rs ON rs.sid = dp.sid AND rs.state = dp.state
         |                JOIN k0 ON k0.sid = dp.sid),
         |tcum AS (
         |  SELECT sid, state, 0 AS j, p AS acc FROM tp WHERE nxt = 0
         |  UNION ALL
         |  SELECT c.sid, c.state, c.j + 1, c.acc + t.p
         |  FROM tcum c JOIN tp t ON t.sid = c.sid AND t.state = c.state
         |                       AND t.nxt = c.j + 1
         |       JOIN k0 ON k0.sid = c.sid
         |  WHERE c.j + 1 <= k0.k - 2),
         |tcl AS (SELECT sid, state, list(acc ORDER BY j) AS cl
         |        FROM tcum GROUP BY sid, state),
         |tcll AS (SELECT sid, list(cl ORDER BY state) AS tl FROM tcl GROUP BY sid),
         |scum AS (
         |  SELECT sid, 0 AS j, p AS acc FROM sp WHERE state = 0
         |  UNION ALL
         |  SELECT c.sid, c.j + 1, c.acc + s.p
         |  FROM scum c JOIN sp s ON s.sid = c.sid AND s.state = c.j + 1
         |       JOIN k0 ON k0.sid = c.sid
         |  WHERE c.j + 1 <= k0.k - 2),
         |scl0 AS (SELECT sid, list(acc ORDER BY j) AS scl FROM scum GROUP BY sid),
         |po AS MATERIALIZED (SELECT sid, state, list(v ORDER BY v) AS pool
         |      FROM st GROUP BY sid, state),
         |pl AS (SELECT s.sid, list(coalesce(po.ln0, 0) ORDER BY s.state) AS pls FROM
         |         (SELECT sid, state FROM states) s
         |       LEFT JOIN (SELECT sid, state, len(pool) AS ln0 FROM po) po
         |         ON po.sid = s.sid AND po.state = s.state
         |       GROUP BY s.sid),
         |mp AS (SELECT sid, min(state) AS ms FROM po GROUP BY sid),
         |walk AS (
         |  SELECT s0.sid, 0 AS it,
         |         CAST(xor($seed + s0.sid, 25214903917) & 281474976710655 AS HUGEINT) AS s,
         |         1 AS phase, 0 AS curstate,
         |         CAST(0 AS HUGEINT) AS hi, 0 AS nrets, TRUE AS isstart,
         |         s0.scl AS scl, tcll.tl AS tl, pl.pls AS pls, mp.ms AS ms,
         |         CAST(NULL AS INT) AS acc_step, CAST(NULL AS INT) AS acc_state,
         |         CAST(NULL AS INT) AS acc_r
         |  FROM scl0 s0 JOIN tcll ON tcll.sid = s0.sid
         |       JOIN pl ON pl.sid = s0.sid JOIN mp ON mp.sid = s0.sid
         |  UNION ALL
         |  SELECT sid, it + 1, s2,
         |    CASE phase WHEN 1 THEN 2 WHEN 2 THEN 0
         |         ELSE CASE WHEN ok THEN 1 ELSE 0 END END,
         |    CASE WHEN phase = 2
         |         THEN len(list_filter(CASE WHEN isstart THEN scl
         |                                   ELSE tl[curstate + 1] END, c -> c <= u))::INT
         |         ELSE curstate END,
         |    CASE WHEN phase = 1 THEN s2 // 4194304 ELSE hi END,
         |    CASE WHEN phase = 0 AND ok THEN nrets + 1 ELSE nrets END,
         |    CASE WHEN phase = 2 THEN FALSE ELSE isstart END,
         |    scl, tl, pls, ms,
         |    CASE WHEN phase = 0 AND ok THEN nrets END,
         |    CASE WHEN phase = 0 AND ok THEN pk END,
         |    CASE WHEN phase = 0 AND ok THEN r::INT END
         |  FROM (
         |    SELECT w2.*,
         |           ((bnd & (-bnd)) = bnd
         |             OR (u31 - (u31 % bnd) + bnd - 1) <= 2147483647) AS ok,
         |           CASE WHEN (bnd & (-bnd)) = bnd
         |                THEN (bnd * u31) // 2147483648 ELSE u31 % bnd END AS r
         |    FROM (
         |      SELECT w1.*, s2 // 131072 AS u31,
         |        (hi * 134217728 + (s2 // 2097152)) / 9007199254740992.0 AS u,
         |        CASE WHEN pls[curstate + 1] > 0 THEN curstate ELSE ms END AS pk,
         |        pls[(CASE WHEN pls[curstate + 1] > 0 THEN curstate ELSE ms END) + 1] AS bnd
         |      FROM (SELECT walk.*,
         |              (s * 25214903917 + 11) % 281474976710656 AS s2
         |            FROM walk WHERE nrets < $n) w1) w2) w3),
         |accs AS (SELECT sid, acc_step AS rn, acc_state AS state, acc_r AS r
         |         FROM walk WHERE acc_step IS NOT NULL),
         |wr AS (SELECT a.sid, a.rn::INT AS rn, po.pool[a.r + 1] AS ret
         |       FROM accs a JOIN po ON po.sid = a.sid AND po.state = a.state)
         |SELECT sid AS user_id, rn, round(ret, 8) AS ret,
         |  round(ln(100.0 * exp(sum(ret) OVER (PARTITION BY sid ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))), 6) AS ln_price
         |FROM wr ORDER BY user_id, rn""".stripMargin
    },

    // Grasynda fit artifact: quantile edges (interior of the deduped
    // 0..1 ladder), digitize, adjacent-transition probs, per-bin pool
    // stats, start distribution
    "g02f_grasynda_fit" ->
      s"""WITH d AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, ret AS v
         |           FROM ($perUserRets) r0),
         |e0 AS (SELECT list_slice(es, 2, len(es)-1) AS interior FROM (
         |         SELECT list_sort(list_distinct(
         |           quantile_cont(v, [${(0 to 10).map(i => i / 10.0).mkString(",")}]))) AS es
         |         FROM d) q),
         |st AS (SELECT d.rn, d.v,
         |         len(list_filter(e0.interior, x -> x <= d.v))::INT AS state
         |       FROM d, e0),
         |tr AS (SELECT state, next_state, count(*)::BIGINT AS cnt FROM
         |        (SELECT state, lead(state) OVER (ORDER BY rn) AS next_state FROM st) x
         |       WHERE next_state IS NOT NULL GROUP BY state, next_state),
         |trp AS (SELECT state, next_state, cnt,
         |          round(cnt::DOUBLE / sum(cnt) OVER (PARTITION BY state), 6) AS prob
         |        FROM tr),
         |ps AS (SELECT state, count(*)::BIGINT AS pool_n, round(avg(v),8) AS pool_mean,
         |         round(stddev_pop(v),8) AS pool_std FROM st GROUP BY state),
         |sp AS (SELECT state, round(pool_n::DOUBLE / sum(pool_n) OVER (), 6) AS start_prob
         |       FROM ps)
         |SELECT t.state, t.next_state, t.cnt, t.prob,
         |  p.pool_n, p.pool_mean, p.pool_std, s.start_prob
         |FROM trp t JOIN ps p USING (state) JOIN sp s USING (state)
         |ORDER BY t.state, t.next_state""".stripMargin,

    // regime-bootstrap fit: rolling vol (w24/min12) -> backfill ->
    // vol-quantile digitize (k=3) -> run segmentation -> per-segment stats
    // G5 fit witness: vol-tertile regime split of the 1000-return
    // prefix (g03f's labeling pipeline), then the q29 σ² recursion
    // replayed PER REGIME over each regime's renumbered subsequence
    "g05f_regime_garch" ->
      s"""WITH RECURSIVE
         |r5 AS (SELECT ret, ts, event_id FROM ($perUserRets) x
         |       ORDER BY ts, event_id LIMIT 1000),
         |rr AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, ret FROM r5),
         |v0 AS (SELECT rn, ret,
         |         CASE WHEN count(ret) OVER w >= 12 THEN stddev_samp(ret) OVER w END AS vol
         |       FROM rr WINDOW w AS (ORDER BY rn ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |v1 AS (SELECT rn, ret, coalesce(vol,
         |         first_value(vol IGNORE NULLS) OVER (ORDER BY rn
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS volf
         |       FROM v0),
         |ed AS (SELECT list_sort(list_distinct(
         |         quantile_cont(volf, [${(1 until 3).map(i => i / 3.0).mkString(",")}]))) AS edges
         |       FROM v1),
         |rg AS (SELECT rn, ret, len(list_filter(ed.edges, x -> x <= v1.volf))::INT AS regime
         |       FROM v1, ed),
         |rt AS (SELECT regime, ret, row_number() OVER (PARTITION BY regime ORDER BY rn) AS t
         |       FROM rg),
         |st AS (SELECT regime, count(*)::BIGINT AS n, avg(ret) AS m FROM rt GROUP BY regime),
         |vv AS (SELECT rt.regime, sum((ret - st.m)*(ret - st.m)) / st.n AS v
         |       FROM rt JOIN st ON rt.regime = st.regime GROUP BY rt.regime, st.n),
         |grid AS (SELECT alpha, beta
         |         FROM (VALUES (0.01),(0.05),(0.10),(0.15),(0.20),(0.25)) a(alpha)
         |         CROSS JOIN (VALUES (0.50),(0.60),(0.70),(0.75),(0.80),(0.85),(0.90),(0.95)) b(beta)
         |         WHERE alpha + beta < 0.999),
         |rec AS (
         | SELECT v.regime, g.alpha, g.beta, 1::BIGINT AS t, v.v AS sigma2, v.v AS v,
         |   rt1.ret AS pret,
         |   -0.5*(ln(2*pi()*greatest(v.v,1e-12)) + rt1.ret*rt1.ret/greatest(v.v,1e-12)) AS ll
         | FROM grid g, vv v JOIN (SELECT regime, ret FROM rt WHERE t = 1) rt1
         |   ON rt1.regime = v.regime
         | UNION ALL
         | SELECT rec.regime, rec.alpha, rec.beta, rec.t + 1,
         |   rec.v*(1.0-rec.alpha-rec.beta) + rec.alpha*rec.pret*rec.pret
         |     + rec.beta*rec.sigma2,
         |   rec.v, rc.ret,
         |   rec.ll - 0.5*(ln(2*pi()*greatest(rec.v*(1.0-rec.alpha-rec.beta)
         |       + rec.alpha*rec.pret*rec.pret + rec.beta*rec.sigma2, 1e-12))
         |     + rc.ret*rc.ret/greatest(rec.v*(1.0-rec.alpha-rec.beta)
         |       + rec.alpha*rec.pret*rec.pret + rec.beta*rec.sigma2, 1e-12))
         | FROM rec
         | JOIN rt rc ON rc.regime = rec.regime AND rc.t = rec.t + 1)
         |SELECT rec.regime, alpha, beta,
         |  round(v*(1.0-alpha-beta), 10) AS omega,
         |  round(v, 10) AS long_run_var,
         |  round(ll, 4) AS ll
         |FROM rec JOIN st ON st.regime = rec.regime WHERE rec.t = st.n
         |ORDER BY rec.regime, alpha, beta""".stripMargin,

    // G7 fit witness: the PELT DP replayed WITHOUT pruning (pruning is
    // optimum-preserving) as a list-carrying recursive CTE over the
    // jump-5 candidate grid, then backtrack + per-segment features
    "g07f_pelt_segments" ->
      s"""WITH RECURSIVE
         |r5 AS (SELECT ret, ts, event_id FROM ($perUserRets) x
         |       ORDER BY ts, event_id LIMIT 1000),
         |rr AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, ret FROM r5),
         |n0 AS (SELECT count(*)::INT AS n FROM rr),
         |ps AS (SELECT [0.0] || list(s1 ORDER BY rn) AS s1l,
         |              [0.0] || list(s2 ORDER BY rn) AS s2l
         |       FROM (SELECT rn,
         |               sum(ret) OVER win AS s1, sum(ret*ret) OVER win AS s2
         |             FROM rr
         |             WINDOW win AS (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) q),
         |cd AS (SELECT list(t ORDER BY t) AS cl FROM (
         |        SELECT rn::INT AS t FROM rr WHERE rn % 5 = 0
         |        UNION SELECT 0 UNION SELECT n FROM n0) c),
         |dp AS (
         |  SELECT 1 AS i, [CAST(-3.0 AS DOUBLE)] AS fs, [1] AS pv,
         |         cd.cl AS cl, ps.s1l AS s1l, ps.s2l AS s2l
         |  FROM cd, ps
         |  UNION ALL
         |  SELECT i + 1, list_append(fs, mn),
         |         list_append(pv, coalesce(list_position(vals, mn), 1)),
         |         cl, s1l, s2l
         |  FROM (
         |    SELECT t2.*, list_aggregate(vals, 'min') AS mn FROM (
         |      SELECT dp.*, list_transform(generate_series(1, i), j ->
         |        CASE WHEN cl[i+1] - cl[j] >= 30 THEN
         |          fs[j] + (cl[i+1]-cl[j]) * ln(greatest(
         |            (s2l[cl[i+1]+1] - s2l[cl[j]+1]) / (cl[i+1]-cl[j])
         |            - ((s1l[cl[i+1]+1] - s1l[cl[j]+1]) / (cl[i+1]-cl[j]))^2, 1e-12))
         |          + 3.0
         |        END) AS vals
         |      FROM dp WHERE i < len(cl)) t2) t3),
         |fin AS (SELECT cl, pv FROM dp WHERE i = (SELECT len(cl) FROM cd)),
         |bt AS (
         |  SELECT (SELECT len(cl) FROM cd) AS cur, cl, pv FROM fin
         |  UNION ALL
         |  SELECT pv[cur], cl, pv FROM bt WHERE cur > 1),
         |bounds AS (SELECT 0 AS b FROM fin
         |           UNION ALL SELECT cl[cur] AS b FROM bt WHERE cur > 1),
         |segs AS (SELECT b AS a, lead(b) OVER (ORDER BY b) AS e,
         |           (row_number() OVER (ORDER BY b) - 1)::INT AS seg_id
         |         FROM bounds),
         |sgr AS (SELECT s.seg_id, s.a, s.e, rr.rn, rr.ret
         |        FROM segs s JOIN rr ON rr.rn > s.a AND rr.rn <= s.e
         |        WHERE s.e IS NOT NULL),
         |ms AS (SELECT seg_id, min(a) AS a, min(e) AS e,
         |         count(*)::BIGINT AS len, avg(ret) AS m
         |       FROM sgr GROUP BY seg_id),
         |vs AS (SELECT sgr.seg_id, sum((ret - ms.m)*(ret - ms.m)) / ms.len AS v
         |       FROM sgr JOIN ms ON sgr.seg_id = ms.seg_id GROUP BY sgr.seg_id, ms.len),
         |sk AS (SELECT sgr.seg_id,
         |         sum(((ret - ms.m)/sqrt(vs.v))^3) AS s3
         |       FROM sgr JOIN ms ON sgr.seg_id = ms.seg_id
         |                JOIN vs ON sgr.seg_id = vs.seg_id
         |       WHERE vs.v > 0 GROUP BY sgr.seg_id),
         |ac AS (SELECT l.seg_id, sum((l.ret - ms.m)*(l.pret - ms.m)) AS num
         |       FROM (SELECT seg_id, ret,
         |               lag(ret) OVER (PARTITION BY seg_id ORDER BY rn) AS pret
         |             FROM sgr) l
         |       JOIN ms ON l.seg_id = ms.seg_id
         |       WHERE l.pret IS NOT NULL GROUP BY l.seg_id)
         |SELECT ms.seg_id, ms.a::INT AS start_idx, ms.e::INT AS end_idx,
         |  ms.len::INT AS len,
         |  round(ms.m, 8) AS mean_ret,
         |  round(sqrt(vs.v), 8) AS std_ret,
         |  round(CASE WHEN ms.len > 2 AND sqrt(vs.v) > 1e-12
         |        THEN sk.s3 / ms.len ELSE 0.0 END, 6) AS skew,
         |  round(CASE WHEN ms.len > 2 AND vs.v > 1e-24
         |        THEN coalesce(ac.num, 0.0) / (ms.len * vs.v) ELSE 0.0 END, 6) AS ac1
         |FROM ms JOIN vs ON ms.seg_id = vs.seg_id
         |        LEFT JOIN sk ON ms.seg_id = sk.seg_id
         |        LEFT JOIN ac ON ms.seg_id = ac.seg_id
         |ORDER BY ms.seg_id""".stripMargin,

    // g06: the FULL decoder-inference run replayed (weight stream +
    // per-window draws + forward pass) — see decoderWalkSql
    "g06_decoder_infer" ->
      decoderWalkSql(latent = 16, hidden = 64, wsize = 24,
        weightSeed = 11L, genSeed = 42L, n = 2000),

    // g08: the FULL TimeGAN inference run replayed (weight stream +
    // per-window draws + 3-net stacked-GRU forward) — see timeganWalkSql
    "g08_timegan_infer" ->
      timeganWalkSql(wsize = 24, latent = 8, hidden = 16, nLayers = 3,
        weightSeed = 13L, genSeed = 42L, n = 2000,
        dataMin = -0.002, dataRange = 0.004),

    // G4/G5 walk witnesses: the literal-param walks replayed exactly
    // (polar nextGaussian, AR(1), GARCH sigma^2) — see regimeWalkSql
    "g04w_conditional_walk" ->
      regimeWalkSql(graft.WitnessFixtures.G04Model, None, 200, 7L),

    // G4/G5 PER-SERIES walk witnesses: one Random(seed + sid) walk per
    // events user, the whole phase machine keyed by sid
    "g04wb_conditional_walk_per_user" ->
      regimeWalkSql(graft.WitnessFixtures.G04Model, None, 100, 7L,
        perUser = true),
    "g05wb_garch_walk_per_user" ->
      regimeWalkSql(graft.WitnessFixtures.G04Model,
        Some(graft.WitnessFixtures.G05Garch), 100, 7L, perUser = true),

    // G7 walk witness: trained-GAN sampling + parametric fallback
    "g07w_gan_walk" ->
      regimeGanWalkSql(graft.WitnessFixtures.G07Model, 64, 5L),
    "g05w_garch_walk" ->
      regimeWalkSql(graft.WitnessFixtures.G04Model,
        Some(graft.WitnessFixtures.G05Garch), 200, 7L),

    // G1 forward witness: fixed-literal-weight MLP decode recomputed as
    // nested SQL arithmetic (weights shared via WitnessFixtures)
    "g06f_decoder_forward" ->
      mlpForwardSql(graft.WitnessFixtures.G06Decoder, graft.WitnessFixtures.G06Z),

    // G8 forward witness: the 3-net GRU stack unrolled step by step
    "g08f_timegan_forward" ->
      timeganForwardSql(graft.WitnessFixtures.G08Model, graft.WitnessFixtures.G08Z),

    // g03: the seeded regime-bootstrap walk replayed end to end — the
    // g03f segmentation re-derived, per-regime block pools (lists of
    // whole return blocks ordered by segment), per-row regime
    // transition matrix, then the same LCG phase machine as g02:
    // cat-sample the regime chain (sequential cumprobs), nextInt-pick a
    // whole block per step, crossfade-smooth block starts, cumsum.
    "g03_regime_bootstrap" -> {
      val seed0 = (42L ^ 0x5DEECE66DL) & ((1L << 48) - 1)
      s"""WITH RECURSIVE
         |rr AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, ret
         |            FROM ($globalRetsCapped) r0),
         |v0 AS (SELECT rn, ret,
         |         CASE WHEN count(ret) OVER w >= 12 THEN stddev_samp(ret) OVER w END AS vol
         |       FROM rr WINDOW w AS (ORDER BY rn ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |v1 AS (SELECT rn, ret, coalesce(vol,
         |         first_value(vol IGNORE NULLS) OVER (ORDER BY rn
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS volf
         |       FROM v0),
         |ed AS (SELECT list_sort(list_distinct(
         |         quantile_cont(volf, [${(1 until 3).map(i => i / 3.0).mkString(",")}]))) AS edges
         |       FROM v1),
         |k0 AS (SELECT (len(edges)+1)::INT AS k FROM ed),
         |rg AS (SELECT rn, ret, len(list_filter(ed.edges, x -> x <= v1.volf))::INT AS regime
         |       FROM v1, ed),
         |cg AS (SELECT rn, ret, regime,
         |         CASE WHEN lag(regime) OVER (ORDER BY rn) IS NULL
         |                OR lag(regime) OVER (ORDER BY rn) <> regime THEN 1 ELSE 0 END AS chg
         |       FROM rg),
         |sg AS (SELECT rn, ret, regime,
         |         sum(chg) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segment
         |       FROM cg),
         |blk AS (SELECT segment, min(regime) AS regime, count(*)::INT AS blen,
         |          list(ret ORDER BY rn) AS brets
         |        FROM sg GROUP BY segment HAVING count(*) >= 3),
         |brk AS (SELECT regime, blen, brets,
         |          (row_number() OVER (PARTITION BY regime ORDER BY segment) - 1)::INT AS bidx
         |        FROM blk),
         |states AS (SELECT unnest(generate_series(0, len(edges)))::INT AS state FROM ed),
         |bld AS (SELECT list(coalesce(b.bl, CAST([] AS INT[])) ORDER BY s.state) AS bls
         |        FROM states s LEFT JOIN (SELECT regime, list(blen ORDER BY bidx) AS bl
         |                                 FROM brk GROUP BY regime) b ON b.regime = s.state),
         |pc AS (SELECT regime AS state, count(*)::BIGINT AS cnt FROM rg GROUP BY regime),
         |sp AS (SELECT s.state,
         |         coalesce(pc.cnt, 0)::DOUBLE / (SELECT count(*) FROM rg) AS p
         |       FROM states s LEFT JOIN pc ON pc.state = s.state),
         |tr AS (SELECT regime AS state, nxt AS next_state, count(*)::BIGINT AS cnt FROM
         |        (SELECT regime, lead(regime) OVER (ORDER BY rn) AS nxt FROM rg) x
         |       WHERE nxt IS NOT NULL GROUP BY regime, nxt),
         |dp AS (SELECT s1.state, s2.state AS nxt, coalesce(tr.cnt, 0)::DOUBLE AS cnt
         |       FROM states s1 CROSS JOIN states s2
         |       LEFT JOIN tr ON tr.state = s1.state AND tr.next_state = s2.state),
         |rs AS (SELECT state, sum(cnt) AS tot FROM dp GROUP BY state),
         |tp AS (SELECT dp.state, dp.nxt,
         |         CASE WHEN rs.tot > 0 THEN dp.cnt / rs.tot
         |              ELSE 1.0 / (SELECT k FROM k0) END AS p
         |       FROM dp JOIN rs ON rs.state = dp.state),
         |tcum AS (
         |  SELECT state, 0 AS j, p AS acc FROM tp WHERE nxt = 0
         |  UNION ALL
         |  SELECT c.state, c.j + 1, c.acc + t.p
         |  FROM tcum c JOIN tp t ON t.state = c.state AND t.nxt = c.j + 1
         |  WHERE c.j + 1 <= (SELECT k FROM k0) - 2),
         |tcl AS (SELECT state, list(acc ORDER BY j) AS cl FROM tcum GROUP BY state),
         |tcll AS (SELECT list(cl ORDER BY state) AS tl FROM tcl),
         |scum AS (
         |  SELECT 0 AS j, p AS acc FROM sp WHERE state = 0
         |  UNION ALL
         |  SELECT c.j + 1, c.acc + s.p
         |  FROM scum c JOIN sp s ON s.state = c.j + 1
         |  WHERE c.j + 1 <= (SELECT k FROM k0) - 2),
         |scl0 AS (SELECT list(acc ORDER BY j) AS scl FROM scum),
         |walk AS (
         |  SELECT 0 AS it, CAST($seed0 AS HUGEINT) AS s, 1 AS phase, 0 AS regime,
         |         CAST(0 AS HUGEINT) AS hi, 0 AS i, 0 AS nblk, TRUE AS isstart,
         |         scl0.scl AS scl, tcll.tl AS tl, bld.bls AS bls,
         |         CAST(NULL AS INT) AS emit_ord, CAST(NULL AS INT) AS emit_regime,
         |         CAST(NULL AS INT) AS emit_bidx
         |  FROM scl0, tcll, bld
         |  UNION ALL
         |  SELECT it + 1, s2,
         |    CASE phase WHEN 1 THEN 2 WHEN 2 THEN 0
         |         ELSE CASE WHEN ok THEN 1 ELSE 0 END END,
         |    CASE WHEN phase = 2
         |         THEN len(list_filter(CASE WHEN isstart THEN scl
         |                                   ELSE tl[regime + 1] END, c -> c <= u))::INT
         |         ELSE regime END,
         |    CASE WHEN phase = 1 THEN s2 // 4194304 ELSE hi END,
         |    CASE WHEN phase = 0 AND ok THEN i + bls[regime + 1][(r + 1)::INT] ELSE i END,
         |    CASE WHEN phase = 0 AND ok THEN nblk + 1 ELSE nblk END,
         |    CASE WHEN phase = 2 THEN FALSE ELSE isstart END,
         |    scl, tl, bls,
         |    CASE WHEN phase = 0 AND ok THEN nblk END,
         |    CASE WHEN phase = 0 AND ok THEN regime END,
         |    CASE WHEN phase = 0 AND ok THEN r::INT END
         |  FROM (
         |    SELECT w2.*,
         |           ((bnd & (-bnd)) = bnd
         |             OR (u31 - (u31 % bnd) + bnd - 1) <= 2147483647) AS ok,
         |           CASE WHEN (bnd & (-bnd)) = bnd
         |                THEN (bnd * u31) // 2147483648 ELSE u31 % bnd END AS r
         |    FROM (
         |      SELECT w1.*, s2 // 131072 AS u31,
         |        (hi * 134217728 + (s2 // 2097152)) / 9007199254740992.0 AS u,
         |        greatest(len(bls[regime + 1]), 1) AS bnd
         |      FROM (SELECT walk.*,
         |              (s * 25214903917 + 11) % 281474976710656 AS s2
         |            FROM walk WHERE i < 2000) w1) w2) w3),
         |em AS (SELECT emit_ord, emit_regime, emit_bidx FROM walk
         |       WHERE emit_ord IS NOT NULL),
         |eml AS (SELECT e.emit_ord, b.blen, b.brets
         |        FROM em e JOIN brk b ON b.regime = e.emit_regime
         |                            AND b.bidx = e.emit_bidx),
         |emo AS (SELECT *, coalesce(sum(blen) OVER (ORDER BY emit_ord
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS row0
         |        FROM eml),
         |rows0 AS (SELECT (row0 + unnest(generate_series(1, blen)) - 1) AS rn0,
         |            unnest(brets) AS ret,
         |            unnest(generate_series(1, blen)) = 1 AS is_start
         |          FROM emo),
         |rows1 AS (SELECT rn0::INT AS rn, ret, is_start FROM rows0 WHERE rn0 < 2000),
         |sm AS (SELECT rn,
         |         CASE WHEN is_start AND lag(ret) OVER (ORDER BY rn) IS NOT NULL
         |              THEN (1.0 - 0.5)*ret + 0.5*lag(ret) OVER (ORDER BY rn)
         |              ELSE ret END AS ret_s
         |       FROM rows1)
         |SELECT rn, round(ret_s, 8) AS ret,
         |  round(ln(100.0 * exp(sum(ret_s) OVER (ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))), 6) AS ln_price
         |FROM sm ORDER BY rn""".stripMargin
    },

    "g03f_regime_segments" ->
      s"""WITH rr AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, ret
         |            FROM ($globalRetsCapped) r0),
         |v0 AS (SELECT rn, ret,
         |         CASE WHEN count(ret) OVER w >= 12 THEN stddev_samp(ret) OVER w END AS vol
         |       FROM rr WINDOW w AS (ORDER BY rn ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |v1 AS (SELECT rn, ret, coalesce(vol,
         |         first_value(vol IGNORE NULLS) OVER (ORDER BY rn
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS volf
         |       FROM v0),
         |ed AS (SELECT list_sort(list_distinct(
         |         quantile_cont(volf, [${(1 until 3).map(i => i / 3.0).mkString(",")}]))) AS edges
         |       FROM v1),
         |rg AS (SELECT rn, ret, len(list_filter(ed.edges, x -> x <= v1.volf))::INT AS regime
         |       FROM v1, ed),
         |cg AS (SELECT rn, ret, regime,
         |         CASE WHEN lag(regime) OVER (ORDER BY rn) IS NULL
         |                OR lag(regime) OVER (ORDER BY rn) <> regime THEN 1 ELSE 0 END AS chg
         |       FROM rg),
         |sg AS (SELECT rn, ret, regime,
         |         sum(chg) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segment
         |       FROM cg)
         |SELECT segment::BIGINT AS segment, min(regime)::INT AS regime,
         |  count(*)::BIGINT AS len, round(avg(ret),8) AS mean_ret,
         |  round(stddev_pop(ret),8) AS std_ret
         |FROM sg GROUP BY segment HAVING count(*) >= 3
         |ORDER BY segment""".stripMargin,

    // HMM feature frame: ret + rolling vols (w24/w72, min_periods=1) +
    // guarded vol ratio, NaN/Inf row filter, z-normalize (pop std + 1e-10)
    "g04f_regime_features" -> g04FeaturesSql,

    "g04t_hmm_em_step" -> g04tSql,

    // G4 PER-SERIES: the g04f feature pipeline with every window and
    // aggregate partitioned by user (per-series fit-prefix cap included
    // for contract fidelity — a no-op at the sf0.01 gate)
    "g04b_regime_features_per_user" -> (g04bFeaturesSql + "\nORDER BY user_id, rn"),

    // G4 PER-SERIES one-EM-step witness: g04t replayed PARTITION BY
    // user — per-series quantileInit computed in SQL (sorted-chunk
    // means/vars via ordered-list folds), then the keyed scaled
    // forward/backward recursive CTEs and M-step folds
    "g04tb_hmm_em_step_per_user" -> g04tbSql,

    "g06t_vae_step" -> g06tSql,

    "o01f_sweep_fitness" -> o01fSql,

    // o01's seeded CONFIG DRAW: 12 configs = 24 accepted nextInt draws
    // off one java.util.Random(42) stream — bound alternates 4
    // (power-of-2 branch, (4·u)>>31) and 3 (rejection branch, u mod 3
    // redrawn on 32-bit overflow of u−r+2); replayed in the same
    // HUGEINT recursive-CTE LCG as g01
    "o01d_config_draw" -> {
      val seed0 = (42L ^ 0x5DEECE66DL) & ((1L << 48) - 1)
      s"""WITH RECURSIVE lcg AS (
         |  SELECT 0 AS nd, CAST($seed0 AS HUGEINT) AS s,
         |         CAST([] AS BIGINT[]) AS vals
         |  UNION ALL
         |  SELECT CASE WHEN bnd = 4
         |                 OR u - (u % bnd) + bnd - 1 <= 2147483647
         |              THEN nd + 1 ELSE nd END,
         |         s2,
         |         CASE WHEN bnd = 4
         |              THEN list_append(vals, ((bnd * u) // 2147483648)::BIGINT)
         |              WHEN u - (u % bnd) + bnd - 1 <= 2147483647
         |              THEN list_append(vals, (u % bnd)::BIGINT)
         |              ELSE vals END
         |  FROM (SELECT nd, vals, s2, s2 // 131072 AS u,
         |          CASE WHEN nd % 2 = 0 THEN 4 ELSE 3 END AS bnd
         |        FROM (SELECT nd, vals,
         |                (s * 25214903917 + 11) % 281474976710656 AS s2
         |              FROM lcg WHERE nd < 24) a) b),
         |v AS (SELECT vals FROM lcg WHERE nd = 24),
         |nb(i, nbv) AS (VALUES (0, 5), (1, 8), (2, 10), (3, 15)),
         |sm(i, smv) AS (VALUES (0, CAST(0.0 AS DOUBLE)),
         |                      (1, CAST(0.2 AS DOUBLE)),
         |                      (2, CAST(0.5 AS DOUBLE))),
         |cfg AS (SELECT c::BIGINT AS config_id,
         |          v.vals[2*c + 1] AS bi, v.vals[2*c + 2] AS si
         |        FROM v, (SELECT unnest(generate_series(0, 11)) AS c) g)
         |SELECT cfg.config_id, nb.nbv::BIGINT AS n_bins, sm.smv AS smooth
         |FROM cfg JOIN nb ON nb.i = cfg.bi JOIN sm ON sm.i = cfg.si
         |ORDER BY cfg.config_id""".stripMargin
    },

    // §2.12 grid-earlystop SELECTION witness: probe/survivor/finish
    // arithmetic over the deterministic md5 pseudo-fitness (the o01f
    // fitness witnesses cannot see this driver-side logic)
    "o02f_grid_earlystop_core" -> o02fSql,

    "o03f_successive_halving_core" -> o03fSql,
    "o04f_hyperband_core" -> o04fSql,

    // §2.12 PER-SERIES sweep fitness: the o01f replay keyed by sid —
    // per-series fit/walk/score, every series' LCG advancing in the
    // same recursive machine (seed scrambled per sid)
    "o01b_sweep_fitness_per_user" -> o01bSql,

    "g07t_gan_train_step" -> g07tSql,

    // Adam t=2 witness: two sequential per-parameter Adam updates over
    // literal (w0, g1, g2) — m/v moment decay + step-2 bias correction
    // replayed with the exact Dense.adam association order; every
    // constant ((1-β), 1-β^t) is the Scala-computed double literal
    "g07t2_adam_two_step" -> {
      val fx = graft.WitnessFixtures.T2Adam
      val l = fx.layer() // fresh = initial Glorot weights
      val lr = "2.0E-4"; val eps = "1.0E-8"
      val b1 = "0.5"; val b1c = (1 - 0.5).toString
      val b2 = "0.999"; val b2c = (1 - 0.999).toString
      val c11 = (1.0 - math.pow(0.5, 1)).toString
      val c21 = (1.0 - math.pow(0.999, 1)).toString
      val c12 = (1.0 - math.pow(0.5, 2)).toString
      val c22 = (1.0 - math.pow(0.999, 2)).toString
      val rows =
        (for (o <- 0 until fx.Out; i <- 0 until fx.In)
          yield s"($o, $i, ${l.w(o)(i)}::DOUBLE, ${fx.G1(o)(i)}::DOUBLE, ${fx.G2(o)(i)}::DOUBLE)") ++
        (for (o <- 0 until fx.Out)
          yield s"($o, -1, ${l.b(o)}::DOUBLE, ${fx.Gb1(o)}::DOUBLE, ${fx.Gb2(o)}::DOUBLE)")
      s"""WITH p(o, i, w0, g1, g2) AS (VALUES
         |  ${rows.mkString(",\n  ")}),
         |s1 AS (SELECT *, $b1c*g1 AS m1, $b2c*g1*g1 AS v1 FROM p),
         |s1w AS (SELECT *, w0 - $lr*(m1/$c11)/(sqrt(v1/$c21) + $eps) AS w1 FROM s1),
         |s2 AS (SELECT *, $b1*m1 + $b1c*g2 AS m2, $b2*v1 + $b2c*g2*g2 AS v2 FROM s1w),
         |s2w AS (SELECT *, w1 - $lr*(m2/$c12)/(sqrt(v2/$c22) + $eps) AS w2 FROM s2)
         |SELECT o, i, round(w2, 10) + 0.0 AS v, round(w2 - w0, 12) + 0.0 AS dv
         |FROM s2w ORDER BY o, i""".stripMargin
    },

    "g08t_timegan_sup_step" -> g08tSql,

    // C7 PER-SERIES: per-user n-point DFT power spectra of the even/odd
    // return halves (truncated to the common length), sum-normalized,
    // RMSE distance — keyed aggregations end to end. The Spark side
    // computes the same spectra by per-series FFT (property-tested
    // ≡ DFT); round-8 absorbs the fp-fold differences. `capped` flags
    // series longer than the 2²⁰ per-task bound (never at gate scale).
    "c01b_spectral_per_user" ->
      """WITH u0 AS (SELECT user_id::BIGINT AS sid, (event_id % 2 = 0) AS is_real,
        |              ts, event_id,
        |              ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |                OVER (PARTITION BY user_id, (event_id % 2 = 0)
        |                      ORDER BY ts, event_id) AS ret
        |            FROM events),
        |rr AS (SELECT sid, is_real,
        |         row_number() OVER (PARTITION BY sid, is_real ORDER BY ts, event_id) - 1 AS t,
        |         ret
        |       FROM u0 WHERE ret IS NOT NULL),
        |le AS (SELECT sid, least(sum(CASE WHEN is_real THEN 1 ELSE 0 END),
        |                         sum(CASE WHEN is_real THEN 0 ELSE 1 END))::BIGINT AS n0,
        |              least(least(sum(CASE WHEN is_real THEN 1 ELSE 0 END),
        |                          sum(CASE WHEN is_real THEN 0 ELSE 1 END)),
        |                    1048576)::INT AS n
        |       FROM rr GROUP BY sid
        |       HAVING least(sum(CASE WHEN is_real THEN 1 ELSE 0 END),
        |                    sum(CASE WHEN is_real THEN 0 ELSE 1 END)) > 0),
        |r2 AS (SELECT rr.sid, rr.is_real, rr.t, rr.ret, le.n
        |       FROM rr JOIN le ON le.sid = rr.sid WHERE rr.t < le.n),
        |ks AS (SELECT sid, unnest(generate_series(0, n//2)) AS k FROM le),
        |sp AS (SELECT r2.sid, r2.is_real, k.k,
        |         sum(ret * cos(-2.0*pi()*k.k*r2.t/r2.n)) AS re,
        |         sum(ret * sin(-2.0*pi()*k.k*r2.t/r2.n)) AS im
        |       FROM r2 JOIN ks k ON k.sid = r2.sid
        |       GROUP BY r2.sid, r2.is_real, k.k),
        |pw0 AS MATERIALIZED (SELECT sid, is_real, k, re*re + im*im AS p FROM sp),
        |pw AS (SELECT sid, is_real, k, p FROM pw0
        |       UNION ALL
        |       SELECT p0.sid, p0.is_real, l.n - p0.k AS k, p0.p
        |       FROM pw0 p0 JOIN le l ON l.sid = p0.sid
        |       WHERE p0.k > 0 AND p0.k < l.n - p0.k),
        |ss AS (SELECT sid, is_real, sum(p) AS sp FROM pw GROUP BY sid, is_real),
        |nm AS (SELECT pw.sid, pw.is_real, pw.k, pw.p / (ss.sp + 1e-20) AS pn
        |       FROM pw JOIN ss ON ss.sid = pw.sid AND ss.is_real = pw.is_real),
        |pv AS (SELECT sid, k, max(CASE WHEN is_real THEN pn END) AS pa,
        |         max(CASE WHEN NOT is_real THEN pn END) AS pb
        |       FROM nm GROUP BY sid, k),
        |dv AS (SELECT p.sid, sqrt(sum((pa - pb)*(pa - pb)) / max(l.n)) AS dist
        |       FROM pv p JOIN le l ON l.sid = p.sid GROUP BY p.sid)
        |SELECT p.sid AS user_id, p.k::INT AS k,
        |  round(pa, 8) + 0.0 AS p_real, round(pb, 8) + 0.0 AS p_synth,
        |  round(d.dist, 8) + 0.0 AS spectral_distance,
        |  (l.n0 > 1048576)::INT AS capped
        |FROM pv p JOIN dv d ON d.sid = p.sid JOIN le l ON l.sid = p.sid
        |ORDER BY user_id, k""".stripMargin,

    // C10 PER-SERIES: the q29 σ²/log-lik recursion replayed with a
    // (user, alpha, beta) key — every series' grid advances in lockstep,
    // each stopping at its own length
    "q29b_garch_grid_per_user" ->
      s"""WITH RECURSIVE
         |rr AS MATERIALIZED (SELECT user_id::BIGINT AS sid,
         |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t,
         |        ret
         |      FROM ($perUserRets) x),
         |st AS MATERIALIZED (SELECT sid, count(*)::BIGINT AS n, avg(ret) AS m
         |      FROM rr GROUP BY sid),
         |vv AS MATERIALIZED (SELECT r.sid,
         |        sum((ret - m)*(ret - m)) / max(st.n) AS v
         |      FROM rr r JOIN st ON st.sid = r.sid GROUP BY r.sid),
         |grid AS (SELECT alpha, beta
         |         FROM (VALUES (0.01),(0.05),(0.10),(0.15),(0.20),(0.25)) a(alpha)
         |         CROSS JOIN (VALUES (0.50),(0.60),(0.70),(0.75),(0.80),(0.85),(0.90),(0.95)) b(beta)
         |         WHERE alpha + beta < 0.999),
         |rec AS (
         | SELECT v.sid, g.alpha, g.beta, 1::BIGINT AS t, v.v AS sigma2, v.v AS v,
         |   r1.ret AS pret,
         |   -0.5*(ln(2*pi()*greatest(v.v,1e-12)) + r1.ret*r1.ret/greatest(v.v,1e-12)) AS ll
         | FROM vv v
         | CROSS JOIN grid g
         | JOIN (SELECT sid, ret FROM rr WHERE t = 1) r1 ON r1.sid = v.sid
         | UNION ALL
         | SELECT rec.sid, rec.alpha, rec.beta, rec.t + 1,
         |   rec.v*(1.0-rec.alpha-rec.beta) + rec.alpha*rec.pret*rec.pret
         |     + rec.beta*rec.sigma2,
         |   rec.v, rc.ret,
         |   rec.ll - 0.5*(ln(2*pi()*greatest(rec.v*(1.0-rec.alpha-rec.beta)
         |       + rec.alpha*rec.pret*rec.pret + rec.beta*rec.sigma2, 1e-12))
         |     + rc.ret*rc.ret/greatest(rec.v*(1.0-rec.alpha-rec.beta)
         |       + rec.alpha*rec.pret*rec.pret + rec.beta*rec.sigma2, 1e-12))
         | FROM rec
         | JOIN rr rc ON rc.sid = rec.sid AND rc.t = rec.t + 1)
         |SELECT rec.sid AS user_id, alpha, beta,
         |  round(v*(1.0-alpha-beta), 10) + 0.0 AS omega,
         |  round(v, 10) + 0.0 AS long_run_var,
         |  round(ll, 4) + 0.0 AS ll
         |FROM rec JOIN st ON st.sid = rec.sid AND rec.t = st.n
         |ORDER BY user_id, alpha, beta""".stripMargin,

    // G5 PER-SERIES fit: g03b's per-user vol-tertile labeling + the q29b
    // keyed sigma^2 recursion over the composite (user*3 + regime) key;
    // regime subsequences renumbered in time order, groups < 10 dropped
    "g05b_regime_garch_per_user" ->
      s"""WITH RECURSIVE
         |rr0 AS (SELECT user_id::BIGINT AS sid,
         |          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         |          ret
         |        FROM ($perUserRets) x),
         |v0 AS (SELECT sid, rn, ret,
         |         CASE WHEN count(ret) OVER w >= 12 THEN stddev_samp(ret) OVER w END AS vol
         |       FROM rr0 WINDOW w AS (PARTITION BY sid ORDER BY rn
         |         ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |v1 AS (SELECT sid, rn, ret, coalesce(vol,
         |         first_value(vol IGNORE NULLS) OVER (PARTITION BY sid ORDER BY rn
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS volf
         |       FROM v0),
         |ed AS (SELECT sid, list_sort(list_distinct(list_transform(
         |         quantile_cont(volf, [${(1 until 3).map(i => i / 3.0).mkString(",")}]),
         |         x -> round(x, 9)))) AS edges
         |       FROM v1 GROUP BY sid),
         |ky AS MATERIALIZED (SELECT v1.sid*3 +
         |         len(list_filter(ed.edges, x -> x <= v1.volf)) AS k, rn, ret
         |       FROM v1 JOIN ed ON ed.sid = v1.sid),
         |sz AS (SELECT k FROM ky GROUP BY k HAVING count(*) >= 10),
         |rr AS MATERIALIZED (SELECT ky.k AS sid,
         |        row_number() OVER (PARTITION BY ky.k ORDER BY rn) AS t, ret
         |      FROM ky JOIN sz USING (k)),
         |st AS MATERIALIZED (SELECT sid, count(*)::BIGINT AS n, avg(ret) AS m
         |      FROM rr GROUP BY sid),
         |vv AS MATERIALIZED (SELECT r.sid,
         |        sum((ret - m)*(ret - m)) / max(st.n) AS v
         |      FROM rr r JOIN st ON st.sid = r.sid GROUP BY r.sid),
         |grid AS (SELECT alpha, beta
         |         FROM (VALUES (0.01),(0.05),(0.10),(0.15),(0.20),(0.25)) a(alpha)
         |         CROSS JOIN (VALUES (0.50),(0.60),(0.70),(0.75),(0.80),(0.85),(0.90),(0.95)) b(beta)
         |         WHERE alpha + beta < 0.999),
         |rec AS (
         | SELECT v.sid, g.alpha, g.beta, 1::BIGINT AS t, v.v AS sigma2, v.v AS v,
         |   r1.ret AS pret,
         |   -0.5*(ln(2*pi()*greatest(v.v,1e-12)) + r1.ret*r1.ret/greatest(v.v,1e-12)) AS ll
         | FROM vv v
         | CROSS JOIN grid g
         | JOIN (SELECT sid, ret FROM rr WHERE t = 1) r1 ON r1.sid = v.sid
         | UNION ALL
         | SELECT rec.sid, rec.alpha, rec.beta, rec.t + 1,
         |   rec.v*(1.0-rec.alpha-rec.beta) + rec.alpha*rec.pret*rec.pret
         |     + rec.beta*rec.sigma2,
         |   rec.v, rc.ret,
         |   rec.ll - 0.5*(ln(2*pi()*greatest(rec.v*(1.0-rec.alpha-rec.beta)
         |       + rec.alpha*rec.pret*rec.pret + rec.beta*rec.sigma2, 1e-12))
         |     + rc.ret*rc.ret/greatest(rec.v*(1.0-rec.alpha-rec.beta)
         |       + rec.alpha*rec.pret*rec.pret + rec.beta*rec.sigma2, 1e-12))
         | FROM rec
         | JOIN rr rc ON rc.sid = rec.sid AND rc.t = rec.t + 1)
         |SELECT (rec.sid // 3)::BIGINT AS user_id, (rec.sid % 3)::INT AS regime,
         |  alpha, beta,
         |  round(v*(1.0-alpha-beta), 10) + 0.0 AS omega,
         |  round(v, 10) + 0.0 AS long_run_var,
         |  round(ll, 4) + 0.0 AS ll
         |FROM rec JOIN st ON st.sid = rec.sid AND rec.t = st.n
         |ORDER BY user_id, regime, alpha, beta""".stripMargin,

    // G6 PER-SERIES fit: the g03f segmentation pipeline PARTITION BY
    // user (per-user returns, w24 rolling vol min 12, backfill,
    // per-user vol-tertile digitize, run segmentation, segment stats)
    "g03b_regime_segments_per_user" ->
      s"""WITH rr AS (SELECT user_id::BIGINT AS sid,
         |              row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         |              ret
         |            FROM (SELECT user_id, ts, event_id,
         |                    ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
         |                      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ret
         |                  FROM events) r0 WHERE ret IS NOT NULL),
         |v0 AS (SELECT sid, rn, ret,
         |         CASE WHEN count(ret) OVER w >= 12 THEN stddev_samp(ret) OVER w END AS vol
         |       FROM rr WINDOW w AS (PARTITION BY sid ORDER BY rn
         |         ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |v1 AS (SELECT sid, rn, ret, coalesce(vol,
         |         first_value(vol IGNORE NULLS) OVER (PARTITION BY sid ORDER BY rn
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS volf
         |       FROM v0),
         |ed AS (SELECT sid, list_sort(list_distinct(list_transform(
         |         quantile_cont(volf, [${(1 until 3).map(i => i / 3.0).mkString(",")}]),
         |         x -> round(x, 9)))) AS edges
         |       FROM v1 GROUP BY sid),
         |rg AS (SELECT v1.sid, rn, ret,
         |         len(list_filter(ed.edges, x -> x <= v1.volf))::INT AS regime
         |       FROM v1 JOIN ed ON ed.sid = v1.sid),
         |cg AS (SELECT sid, rn, ret, regime,
         |         CASE WHEN lag(regime) OVER ws IS NULL
         |                OR lag(regime) OVER ws <> regime THEN 1 ELSE 0 END AS chg
         |       FROM rg WINDOW ws AS (PARTITION BY sid ORDER BY rn)),
         |sg AS (SELECT sid, rn, ret, regime,
         |         sum(chg) OVER (PARTITION BY sid ORDER BY rn
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segment
         |       FROM cg)
         |SELECT sid AS user_id, segment::BIGINT AS segment,
         |  min(regime)::INT AS regime, count(*)::BIGINT AS len,
         |  round(avg(ret),8) + 0.0 AS mean_ret,
         |  round(stddev_pop(ret),8) + 0.0 AS std_ret
         |FROM sg GROUP BY sid, segment HAVING count(*) >= 3
         |ORDER BY user_id, segment""".stripMargin,

    // PER-SERIES composite core: the q31f component set PARTITION BY
    // user over the even/odd event split — per-user 99-bin unsquared
    // JS, per-user KS, ratio-dev autocorrs (1/5/24), |ret| vol
    // clustering, manual two-pass population skew/kurt diffs, std ratio
    "q31b_composite_per_user" ->
      """WITH u0 AS (SELECT user_id::BIGINT AS sid, (event_id % 2 = 0) AS is_real,
        |              ts, event_id,
        |              ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |                OVER (PARTITION BY user_id, (event_id % 2 = 0)
        |                      ORDER BY ts, event_id) AS ret
        |            FROM events),
        |ur AS (SELECT sid, is_real, ts, event_id, ret FROM u0 WHERE ret IS NOT NULL),
        |rng AS (SELECT sid, min(ret) AS lo, max(ret) AS hi FROM ur GROUP BY sid),
        |cb AS (SELECT u.sid, least(floor((ret - lo)/(hi - lo)*99), 98)::INT AS bucket,
        |         sum(CASE WHEN is_real THEN 1 ELSE 0 END) AS ca,
        |         sum(CASE WHEN is_real THEN 0 ELSE 1 END) AS cb_
        |       FROM ur u JOIN rng r ON r.sid = u.sid GROUP BY 1, 2),
        |bins AS (SELECT sid, unnest(generate_series(0,98)) AS bucket FROM rng),
        |h AS (SELECT b.sid, b.bucket, coalesce(ca,0)::BIGINT AS ca,
        |        coalesce(cb_,0)::BIGINT AS cb_
        |      FROM bins b LEFT JOIN cb ON cb.sid = b.sid AND cb.bucket = b.bucket),
        |sm AS (SELECT sid, ca::DOUBLE / sum(ca) OVER (PARTITION BY sid) + 1e-10 AS pa_raw,
        |         cb_::DOUBLE / sum(cb_) OVER (PARTITION BY sid) + 1e-10 AS pb_raw FROM h),
        |pp AS (SELECT sid, pa_raw / sum(pa_raw) OVER (PARTITION BY sid) AS pa,
        |         pb_raw / sum(pb_raw) OVER (PARTITION BY sid) AS pb FROM sm),
        |jsv AS (SELECT sid, sqrt(sum(pa*ln(pa/((pa+pb)/2)))*0.5
        |             + sum(pb*ln(pb/((pa+pb)/2)))*0.5) AS js FROM pp GROUP BY sid),
        |pv AS (SELECT sid, ret AS v, sum(CASE WHEN is_real THEN 1 ELSE 0 END) AS na,
        |         sum(CASE WHEN is_real THEN 0 ELSE 1 END) AS nb
        |       FROM ur GROUP BY sid, ret),
        |ec AS (SELECT sid,
        |         sum(na) OVER wr::DOUBLE / sum(na) OVER (PARTITION BY sid) AS fa,
        |         sum(nb) OVER wr::DOUBLE / sum(nb) OVER (PARTITION BY sid) AS fb
        |       FROM pv
        |       WINDOW wr AS (PARTITION BY sid ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |kv AS (SELECT sid, max(abs(fa - fb)) AS ks FROM ec GROUP BY sid),
        |lg AS (SELECT sid, is_real, ret, lag(ret,1) OVER wl AS l1,
        |         lag(ret,5) OVER wl AS l5, lag(ret,24) OVER wl AS l24
        |       FROM ur WINDOW wl AS (PARTITION BY sid, is_real ORDER BY ts, event_id)),
        |ac0 AS (SELECT sid, is_real, coalesce(corr(ret,l1),0.0) AS ac1,
        |          coalesce(corr(ret,l5),0.0) AS ac5, coalesce(corr(ret,l24),0.0) AS ac24,
        |          coalesce(corr(abs(ret),abs(l1)),0.0) AS vc,
        |          avg(ret) AS mean, stddev_pop(ret) AS std
        |        FROM lg GROUP BY sid, is_real),
        |zk AS (SELECT l.sid, l.is_real,
        |         avg(pow((l.ret - a.mean)/a.std, 3)) AS skew,
        |         avg(pow((l.ret - a.mean)/a.std, 4)) AS kurt_raw
        |       FROM ur l JOIN ac0 a ON a.sid = l.sid AND a.is_real = l.is_real
        |       GROUP BY l.sid, l.is_real),
        |fin AS (SELECT a.sid,
        |    max(CASE WHEN a.is_real THEN a.ac1 END) AS rac1,
        |    max(CASE WHEN NOT a.is_real THEN a.ac1 END) AS sac1,
        |    max(CASE WHEN a.is_real THEN a.ac5 END) AS rac5,
        |    max(CASE WHEN NOT a.is_real THEN a.ac5 END) AS sac5,
        |    max(CASE WHEN a.is_real THEN a.ac24 END) AS rac24,
        |    max(CASE WHEN NOT a.is_real THEN a.ac24 END) AS sac24,
        |    max(CASE WHEN a.is_real THEN a.vc END) AS rvc,
        |    max(CASE WHEN NOT a.is_real THEN a.vc END) AS svc,
        |    max(CASE WHEN a.is_real THEN a.std END) AS rstd,
        |    max(CASE WHEN NOT a.is_real THEN a.std END) AS sstd,
        |    max(CASE WHEN z.is_real THEN z.skew END) AS rskew,
        |    max(CASE WHEN NOT z.is_real THEN z.skew END) AS sskew,
        |    max(CASE WHEN z.is_real THEN z.kurt_raw END) AS rkurt,
        |    max(CASE WHEN NOT z.is_real THEN z.kurt_raw END) AS skurt
        |  FROM ac0 a JOIN zk z ON z.sid = a.sid AND z.is_real = a.is_real
        |  GROUP BY a.sid)
        |SELECT f.sid AS user_id,
        |  round(j.js, 8) + 0.0 AS js_divergence,
        |  round(k.ks, 8) + 0.0 AS ks_statistic,
        |  round(CASE WHEN abs(rac1) > 1e-6 THEN abs(sac1/rac1 - 1.0)
        |        ELSE abs(sac1) END, 6) + 0.0 AS ac_lag1,
        |  round(CASE WHEN abs(rac5) > 1e-6 THEN abs(sac5/rac5 - 1.0)
        |        ELSE abs(sac5) END, 6) + 0.0 AS ac_lag5,
        |  round(CASE WHEN abs(rac24) > 1e-6 THEN abs(sac24/rac24 - 1.0)
        |        ELSE abs(sac24) END, 6) + 0.0 AS ac_lag24,
        |  round(CASE WHEN abs(rvc) > 1e-6 THEN abs(svc/rvc - 1.0)
        |        ELSE abs(svc) END, 6) + 0.0 AS vol_cluster,
        |  round(abs(sskew - rskew), 6) + 0.0 AS skew_diff,
        |  round(abs(skurt - rkurt)/greatest(rkurt, 1.0), 6) + 0.0 AS kurt_diff,
        |  round(abs(sstd/rstd - 1.0), 6) + 0.0 AS std_ratio
        |FROM fin f
        |JOIN jsv j ON j.sid = f.sid
        |JOIN kv k ON k.sid = f.sid
        |ORDER BY user_id""".stripMargin,

    // PER-SERIES FULL composite (q31c): the q31b 9-component machinery
    // + the q16b hurst R/S replay keyed (sid, half) on PRICES + the
    // c01b spectral-distance replay (distance CTEs only), joined on the
    // series; composite_score is the weighted sum of the ROUNDED
    // components in the reference's weight-table order (/ 18.5)
    "q31c_composite_full_per_user" ->
      """WITH u0 AS (SELECT user_id::BIGINT AS sid, (event_id % 2 = 0) AS is_real,
        |              ts, event_id,
        |              ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |                OVER (PARTITION BY user_id, (event_id % 2 = 0)
        |                      ORDER BY ts, event_id) AS ret
        |            FROM events),
        |ur AS (SELECT sid, is_real, ts, event_id, ret FROM u0 WHERE ret IS NOT NULL),
        |rng AS (SELECT sid, min(ret) AS lo, max(ret) AS hi FROM ur GROUP BY sid),
        |cb AS (SELECT u.sid, least(floor((ret - lo)/(hi - lo)*99), 98)::INT AS bucket,
        |         sum(CASE WHEN is_real THEN 1 ELSE 0 END) AS ca,
        |         sum(CASE WHEN is_real THEN 0 ELSE 1 END) AS cb_
        |       FROM ur u JOIN rng r ON r.sid = u.sid GROUP BY 1, 2),
        |bins AS (SELECT sid, unnest(generate_series(0,98)) AS bucket FROM rng),
        |h AS (SELECT b.sid, b.bucket, coalesce(ca,0)::BIGINT AS ca,
        |        coalesce(cb_,0)::BIGINT AS cb_
        |      FROM bins b LEFT JOIN cb ON cb.sid = b.sid AND cb.bucket = b.bucket),
        |sm AS (SELECT sid, ca::DOUBLE / sum(ca) OVER (PARTITION BY sid) + 1e-10 AS pa_raw,
        |         cb_::DOUBLE / sum(cb_) OVER (PARTITION BY sid) + 1e-10 AS pb_raw FROM h),
        |pp AS (SELECT sid, pa_raw / sum(pa_raw) OVER (PARTITION BY sid) AS pa,
        |         pb_raw / sum(pb_raw) OVER (PARTITION BY sid) AS pb FROM sm),
        |jsv AS (SELECT sid, sqrt(sum(pa*ln(pa/((pa+pb)/2)))*0.5
        |             + sum(pb*ln(pb/((pa+pb)/2)))*0.5) AS js FROM pp GROUP BY sid),
        |pv AS (SELECT sid, ret AS v, sum(CASE WHEN is_real THEN 1 ELSE 0 END) AS na,
        |         sum(CASE WHEN is_real THEN 0 ELSE 1 END) AS nb
        |       FROM ur GROUP BY sid, ret),
        |ec AS (SELECT sid,
        |         sum(na) OVER wr::DOUBLE / sum(na) OVER (PARTITION BY sid) AS fa,
        |         sum(nb) OVER wr::DOUBLE / sum(nb) OVER (PARTITION BY sid) AS fb
        |       FROM pv
        |       WINDOW wr AS (PARTITION BY sid ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |kv AS (SELECT sid, max(abs(fa - fb)) AS ks FROM ec GROUP BY sid),
        |lg AS (SELECT sid, is_real, ret, lag(ret,1) OVER wl AS l1,
        |         lag(ret,5) OVER wl AS l5, lag(ret,24) OVER wl AS l24
        |       FROM ur WINDOW wl AS (PARTITION BY sid, is_real ORDER BY ts, event_id)),
        |ac0 AS (SELECT sid, is_real, coalesce(corr(ret,l1),0.0) AS ac1,
        |          coalesce(corr(ret,l5),0.0) AS ac5, coalesce(corr(ret,l24),0.0) AS ac24,
        |          coalesce(corr(abs(ret),abs(l1)),0.0) AS vc,
        |          avg(ret) AS mean, stddev_pop(ret) AS std
        |        FROM lg GROUP BY sid, is_real),
        |zk AS (SELECT l.sid, l.is_real,
        |         avg(pow((l.ret - a.mean)/a.std, 3)) AS skew,
        |         avg(pow((l.ret - a.mean)/a.std, 4)) AS kurt_raw
        |       FROM ur l JOIN ac0 a ON a.sid = l.sid AND a.is_real = l.is_real
        |       GROUP BY l.sid, l.is_real),
        |fin AS (SELECT a.sid,
        |    max(CASE WHEN a.is_real THEN a.ac1 END) AS rac1,
        |    max(CASE WHEN NOT a.is_real THEN a.ac1 END) AS sac1,
        |    max(CASE WHEN a.is_real THEN a.ac5 END) AS rac5,
        |    max(CASE WHEN NOT a.is_real THEN a.ac5 END) AS sac5,
        |    max(CASE WHEN a.is_real THEN a.ac24 END) AS rac24,
        |    max(CASE WHEN NOT a.is_real THEN a.ac24 END) AS sac24,
        |    max(CASE WHEN a.is_real THEN a.vc END) AS rvc,
        |    max(CASE WHEN NOT a.is_real THEN a.vc END) AS svc,
        |    max(CASE WHEN a.is_real THEN a.std END) AS rstd,
        |    max(CASE WHEN NOT a.is_real THEN a.std END) AS sstd,
        |    max(CASE WHEN z.is_real THEN z.skew END) AS rskew,
        |    max(CASE WHEN NOT z.is_real THEN z.skew END) AS sskew,
        |    max(CASE WHEN z.is_real THEN z.kurt_raw END) AS rkurt,
        |    max(CASE WHEN NOT z.is_real THEN z.kurt_raw END) AS skurt
        |  FROM ac0 a JOIN zk z ON z.sid = a.sid AND z.is_real = a.is_real
        |  GROUP BY a.sid),
        |hx AS (SELECT user_id::BIGINT AS sid, (event_id % 2 = 0) AS is_real, value AS x,
        |         row_number() OVER (PARTITION BY user_id, (event_id % 2 = 0)
        |           ORDER BY ts, event_id) - 1 AS rn,
        |         count(*) OVER (PARTITION BY user_id, (event_id % 2 = 0)) AS n
        |       FROM events),
        |hwl AS (SELECT hx.sid, hx.is_real, hx.x, hx.rn, l.lag, floor(hx.rn / l.lag) AS seg
        |        FROM hx, (SELECT unnest(generate_series(2,100)) AS lag) l
        |        WHERE l.lag <= hx.n // 4),
        |hcm1 AS (SELECT sid, is_real, lag, seg, rn, x,
        |           avg(x) OVER (PARTITION BY sid, is_real, lag, seg) AS m FROM hwl),
        |hcm2 AS (SELECT sid, is_real, lag, seg, x,
        |           sum(x - m) OVER (PARTITION BY sid, is_real, lag, seg ORDER BY rn
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumdev
        |         FROM hcm1),
        |hps AS (SELECT sid, is_real, lag, seg, count(*)::BIGINT AS cnt,
        |          max(cumdev) - min(cumdev) AS r, stddev_pop(x) AS s
        |        FROM hcm2 GROUP BY sid, is_real, lag, seg),
        |hpl AS (SELECT sid, is_real, lag, avg(r/s) AS rs_mean FROM hps
        |        WHERE cnt = lag AND s > 1e-12 GROUP BY sid, is_real, lag),
        |hsl AS (SELECT sid, is_real,
        |          round(coalesce(least(greatest(
        |            regr_slope(ln(rs_mean), ln(lag::DOUBLE)), 0.0), 1.0), 0.5), 4) AS hurst
        |        FROM hpl WHERE rs_mean > 0 GROUP BY sid, is_real),
        |hv AS (SELECT * FROM (
        |         SELECT sid, max(CASE WHEN is_real THEN hurst END) AS hr,
        |           max(CASE WHEN NOT is_real THEN hurst END) AS hs
        |         FROM hsl GROUP BY sid) t
        |       WHERE hr IS NOT NULL AND hs IS NOT NULL),
        |s_rr AS (SELECT sid, is_real,
        |           row_number() OVER (PARTITION BY sid, is_real ORDER BY ts, event_id) - 1 AS t,
        |           ret
        |         FROM ur),
        |s_le AS (SELECT sid, least(sum(CASE WHEN is_real THEN 1 ELSE 0 END),
        |                           sum(CASE WHEN is_real THEN 0 ELSE 1 END))::BIGINT AS n0,
        |                least(least(sum(CASE WHEN is_real THEN 1 ELSE 0 END),
        |                            sum(CASE WHEN is_real THEN 0 ELSE 1 END)),
        |                      1048576)::INT AS n
        |         FROM s_rr GROUP BY sid
        |         HAVING least(sum(CASE WHEN is_real THEN 1 ELSE 0 END),
        |                      sum(CASE WHEN is_real THEN 0 ELSE 1 END)) > 0),
        |s_r2 AS (SELECT r.sid, r.is_real, r.t, r.ret, l.n
        |         FROM s_rr r JOIN s_le l ON l.sid = r.sid WHERE r.t < l.n),
        |s_ks AS (SELECT sid, unnest(generate_series(0, n//2)) AS k FROM s_le),
        |s_sp AS (SELECT r.sid, r.is_real, k.k,
        |           sum(ret * cos(-2.0*pi()*k.k*r.t/r.n)) AS re,
        |           sum(ret * sin(-2.0*pi()*k.k*r.t/r.n)) AS im
        |         FROM s_r2 r JOIN s_ks k ON k.sid = r.sid
        |         GROUP BY r.sid, r.is_real, k.k),
        |s_pw0 AS MATERIALIZED (SELECT sid, is_real, k, re*re + im*im AS p FROM s_sp),
        |s_pw AS (SELECT sid, is_real, k, p FROM s_pw0
        |         UNION ALL
        |         SELECT p0.sid, p0.is_real, l.n - p0.k AS k, p0.p
        |         FROM s_pw0 p0 JOIN s_le l ON l.sid = p0.sid
        |         WHERE p0.k > 0 AND p0.k < l.n - p0.k),
        |s_ss AS (SELECT sid, is_real, sum(p) AS sp FROM s_pw GROUP BY sid, is_real),
        |s_nm AS (SELECT w.sid, w.is_real, w.k, w.p / (s.sp + 1e-20) AS pn
        |         FROM s_pw w JOIN s_ss s ON s.sid = w.sid AND s.is_real = w.is_real),
        |s_pv AS (SELECT sid, k, max(CASE WHEN is_real THEN pn END) AS pa,
        |           max(CASE WHEN NOT is_real THEN pn END) AS pb
        |         FROM s_nm GROUP BY sid, k),
        |s_dv AS (SELECT p.sid, sqrt(sum((pa - pb)*(pa - pb)) / max(l.n)) AS dist
        |         FROM s_pv p JOIN s_le l ON l.sid = p.sid GROUP BY p.sid),
        |base AS (SELECT f.sid,
        |  round(j.js, 8) + 0.0 AS js_divergence,
        |  round(k.ks, 8) + 0.0 AS ks_statistic,
        |  round(CASE WHEN abs(rac1) > 1e-6 THEN abs(sac1/rac1 - 1.0)
        |        ELSE abs(sac1) END, 6) + 0.0 AS ac_lag1,
        |  round(CASE WHEN abs(rac5) > 1e-6 THEN abs(sac5/rac5 - 1.0)
        |        ELSE abs(sac5) END, 6) + 0.0 AS ac_lag5,
        |  round(CASE WHEN abs(rac24) > 1e-6 THEN abs(sac24/rac24 - 1.0)
        |        ELSE abs(sac24) END, 6) + 0.0 AS ac_lag24,
        |  round(abs(h.hs - h.hr), 4) + 0.0 AS hurst_diff,
        |  round(CASE WHEN abs(rvc) > 1e-6 THEN abs(svc/rvc - 1.0)
        |        ELSE abs(svc) END, 6) + 0.0 AS vol_cluster,
        |  round(d.dist, 8) + 0.0 AS spectral,
        |  round(abs(sskew - rskew), 6) + 0.0 AS skew_diff,
        |  round(abs(skurt - rkurt)/greatest(rkurt, 1.0), 6) + 0.0 AS kurt_diff,
        |  round(abs(sstd/rstd - 1.0), 6) + 0.0 AS std_ratio
        |FROM fin f
        |JOIN jsv j ON j.sid = f.sid
        |JOIN kv k ON k.sid = f.sid
        |JOIN hv h ON h.sid = f.sid
        |JOIN s_dv d ON d.sid = f.sid)
        |SELECT sid AS user_id, js_divergence, ks_statistic, ac_lag1, ac_lag5,
        |  ac_lag24, hurst_diff, vol_cluster, spectral, skew_diff, kurt_diff,
        |  std_ratio,
        |  round((js_divergence*3.0 + ks_statistic*2.0 + ac_lag1*2.0
        |    + ac_lag5*1.5 + ac_lag24*1.0 + hurst_diff*2.0 + vol_cluster*1.5
        |    + spectral*1.5 + skew_diff*1.0 + kurt_diff*1.0 + std_ratio*2.0)
        |    / 18.5, 6) + 0.0 AS composite_score
        |FROM base ORDER BY user_id""".stripMargin,

    // PER-SERIES DistributionEvaluator core: the q30f pipeline replayed
    // PARTITION BY user with the even/odd event_id split — per-user JS
    // (100 bins over the per-user combined support, +1e-10 smoothing,
    // renormalize), per-user exact Wasserstein over the value support,
    // per-(user, half) moments + lag-1/5/10 autocorrs
    "q30b_dist_per_user" ->
      """WITH u0 AS (SELECT user_id::BIGINT AS sid, (event_id % 2 = 0) AS is_real,
        |              ts, event_id,
        |              ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |                OVER (PARTITION BY user_id, (event_id % 2 = 0)
        |                      ORDER BY ts, event_id) AS ret
        |            FROM events),
        |ur AS (SELECT sid, is_real, ts, event_id, ret FROM u0 WHERE ret IS NOT NULL),
        |rng AS (SELECT sid, min(ret) AS lo, max(ret) AS hi FROM ur GROUP BY sid),
        |cb AS (SELECT u.sid, least(floor((ret - lo)/(hi - lo)*100), 99)::INT AS bucket,
        |         sum(CASE WHEN is_real THEN 1 ELSE 0 END) AS ca,
        |         sum(CASE WHEN is_real THEN 0 ELSE 1 END) AS cb_
        |       FROM ur u JOIN rng r ON r.sid = u.sid GROUP BY 1, 2),
        |bins AS (SELECT sid, unnest(generate_series(0,99)) AS bucket FROM rng),
        |h AS (SELECT b.sid, b.bucket, coalesce(ca,0)::BIGINT AS ca,
        |        coalesce(cb_,0)::BIGINT AS cb_
        |      FROM bins b LEFT JOIN cb ON cb.sid = b.sid AND cb.bucket = b.bucket),
        |sm AS (SELECT sid, ca::DOUBLE / sum(ca) OVER (PARTITION BY sid) + 1e-10 AS pa_raw,
        |         cb_::DOUBLE / sum(cb_) OVER (PARTITION BY sid) + 1e-10 AS pb_raw FROM h),
        |pp AS (SELECT sid, pa_raw / sum(pa_raw) OVER (PARTITION BY sid) AS pa,
        |         pb_raw / sum(pb_raw) OVER (PARTITION BY sid) AS pb FROM sm),
        |klv AS (SELECT sid, sum(pa*ln(pa/((pa+pb)/2)))*0.5
        |             + sum(pb*ln(pb/((pa+pb)/2)))*0.5 AS kl FROM pp GROUP BY sid),
        |pv AS (SELECT sid, ret AS v, sum(CASE WHEN is_real THEN 1 ELSE 0 END) AS na,
        |         sum(CASE WHEN is_real THEN 0 ELSE 1 END) AS nb
        |       FROM ur GROUP BY sid, ret),
        |ec AS (SELECT sid,
        |         sum(na) OVER wr::DOUBLE / sum(na) OVER (PARTITION BY sid) AS fa,
        |         sum(nb) OVER wr::DOUBLE / sum(nb) OVER (PARTITION BY sid) AS fb,
        |         lead(v) OVER (PARTITION BY sid ORDER BY v) - v AS dx
        |       FROM pv
        |       WINDOW wr AS (PARTITION BY sid ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |wv AS (SELECT sid, sum(CASE WHEN dx IS NOT NULL
        |         THEN abs(fa - fb)*dx ELSE 0.0 END) AS wass
        |       FROM ec GROUP BY sid),
        |mo AS (SELECT sid, max(CASE WHEN is_real THEN mean END) AS rm,
        |              max(CASE WHEN NOT is_real THEN mean END) AS sme,
        |              max(CASE WHEN is_real THEN std END) AS rs,
        |              max(CASE WHEN NOT is_real THEN std END) AS ss
        |       FROM (SELECT sid, is_real, avg(ret) AS mean, stddev_pop(ret) AS std
        |             FROM ur GROUP BY sid, is_real) x GROUP BY sid),
        |lg AS (SELECT sid, is_real, ret, lag(ret,1) OVER wl AS l1,
        |         lag(ret,5) OVER wl AS l5, lag(ret,10) OVER wl AS l10
        |       FROM ur WINDOW wl AS (PARTITION BY sid, is_real ORDER BY ts, event_id)),
        |ac0 AS (SELECT sid, is_real, coalesce(corr(ret,l1),0.0) AS ac1,
        |          coalesce(corr(ret,l5),0.0) AS ac5, coalesce(corr(ret,l10),0.0) AS ac10
        |        FROM lg GROUP BY sid, is_real),
        |ac AS (SELECT sid, max(CASE WHEN is_real THEN ac1 END) AS rac1,
        |              max(CASE WHEN NOT is_real THEN ac1 END) AS sac1,
        |              max(CASE WHEN is_real THEN ac5 END) AS rac5,
        |              max(CASE WHEN NOT is_real THEN ac5 END) AS sac5,
        |              max(CASE WHEN is_real THEN ac10 END) AS rac10,
        |              max(CASE WHEN NOT is_real THEN ac10 END) AS sac10
        |       FROM ac0 GROUP BY sid),
        |__ADF_CTES__
        |SELECT k.sid AS user_id,
        |  round(kl,8) + 0.0 AS kl_divergence,
        |  round(wass,6) + 0.0 AS wasserstein_distance,
        |  round(rm,8) + 0.0 AS real_return_mean,
        |  round(sme,8) + 0.0 AS synthetic_return_mean,
        |  round(rs,8) + 0.0 AS real_return_std,
        |  round(ss,8) + 0.0 AS synthetic_return_std,
        |  round(rac1,6) + 0.0 AS real_autocorr_lag1,
        |  round(sac1,6) + 0.0 AS synthetic_autocorr_lag1,
        |  round(rac5,6) + 0.0 AS real_autocorr_lag5,
        |  round(sac5,6) + 0.0 AS synthetic_autocorr_lag5,
        |  round(rac10,6) + 0.0 AS real_autocorr_lag10,
        |  round(sac10,6) + 0.0 AS synthetic_autocorr_lag10,
        |  round(kl + 0.1*wass + abs(rs - ss), 6) + 0.0 AS quality_score,
        |  round(ap.rpv, 6) + 0.0 AS real_adf_pvalue_ml2,
        |  round(ap.spv, 6) + 0.0 AS synthetic_adf_pvalue_ml2
        |FROM klv k
        |JOIN wv ON wv.sid = k.sid
        |JOIN mo ON mo.sid = k.sid
        |JOIN ac ON ac.sid = k.sid
        |JOIN adf_piv ap ON ap.sid = k.sid
        |ORDER BY user_id""".stripMargin.replace("__ADF_CTES__", adfPerUserCtes),

    // C5 per-series: the closed-form ADF witness standalone — τ, p and
    // the AIC-chosen lag per (user, parity label), sentinels for
    // untestable series (see adfPerUserCtes)
    "c05_adf_per_user" ->
      ("""WITH __ADF_CTES__
        |SELECT sid AS user_id,
        |  round(rtau, 6) + 0.0 AS real_adf_tau,
        |  round(rpv, 6) + 0.0 AS real_adf_pvalue,
        |  rlag::INT AS real_adf_lag,
        |  round(stau, 6) + 0.0 AS synthetic_adf_tau,
        |  round(spv, 6) + 0.0 AS synthetic_adf_pvalue,
        |  slag::INT AS synthetic_adf_lag
        |FROM adf_piv ORDER BY user_id""".stripMargin
        .replace("__ADF_CTES__", adfPerUserCtes)),

    // G2 per-series: the g01f strided block/rescale chain replayed
    // PARTITION BY user (series < blockSize rows are skipped, the
    // too-short contract); n=200, blockSize=30 ⇒ blocks 0..7
    "g01b_block_chain_per_user" ->
      """WITH idx AS (SELECT user_id::BIGINT AS sid,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn,
        |         value::DOUBLE AS p FROM events),
        |tot AS (SELECT sid, count(*)::BIGINT AS total FROM idx GROUP BY sid),
        |blocks AS (SELECT sid, b::INT AS block_id, ((b*523) % (total - 29))::INT AS start
        |           FROM tot, (SELECT unnest(generate_series(0,7)) AS b) g
        |           WHERE total >= 30),
        |pos AS (SELECT sid, block_id, start, unnest(generate_series(0,29)) AS pos FROM blocks),
        |rows_ AS (SELECT p1.sid, p1.block_id, p1.pos, i.p
        |          FROM pos p1 JOIN idx i ON i.sid = p1.sid AND i.rn = p1.start + p1.pos),
        |pb AS (SELECT sid, block_id, arg_min(p, pos) AS first_p, arg_max(p, pos) AS last_p
        |       FROM rows_ GROUP BY sid, block_id),
        |d0 AS (SELECT sid, block_id,
        |         coalesce(ln(lag(last_p) OVER (PARTITION BY sid ORDER BY block_id))
        |           - ln(first_p), 0.0) AS d
        |       FROM pb),
        |ch AS (SELECT sid, block_id,
        |         sum(d) OVER (PARTITION BY sid ORDER BY block_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ln_scale
        |       FROM d0)
        |SELECT r.sid AS user_id, (r.block_id*30 + r.pos)::INT AS rn,
        |  round(ln(exp(ln(r.p) + c.ln_scale)), 6) AS ln_price
        |FROM rows_ r JOIN ch c ON c.sid = r.sid AND c.block_id = r.block_id
        |WHERE r.block_id*30 + r.pos < 200
        |ORDER BY user_id, rn""".stripMargin,

    // G3 per-series: the g02f fit frame replayed PARTITION BY user —
    // per-series quantile_cont edges (== Spark percentile incl.
    // interpolation), interior slice, in-list digitize, keyed
    // transition/pool/start aggregates
    "g02b_grasynda_fit_per_user" ->
      """WITH r0 AS (
        | SELECT user_id::BIGINT AS sid, ts, event_id,
        |   ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v
        | FROM events),
        |data AS (SELECT sid,
        |           row_number() OVER (PARTITION BY sid ORDER BY ts, event_id) AS rn, v
        |         FROM r0 WHERE v IS NOT NULL),
        |ed AS (SELECT sid, list_sort(list_distinct(
        |         quantile_cont(v, [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]))) AS lst
        |       FROM data GROUP BY sid),
        |ei AS (SELECT sid, lst[2:len(lst)-1] AS interior FROM ed),
        |st AS (SELECT d.sid, d.rn, d.v,
        |         len(list_filter(e.interior, x -> x <= d.v))::INT AS state
        |       FROM data d JOIN ei e ON e.sid = d.sid),
        |tr AS (SELECT sid, state, next_state, count(*)::BIGINT AS cnt FROM
        |       (SELECT sid, state,
        |          lead(state) OVER (PARTITION BY sid ORDER BY rn) AS next_state
        |        FROM st) t
        |       WHERE next_state IS NOT NULL GROUP BY sid, state, next_state),
        |trp AS (SELECT sid, state, next_state, cnt,
        |          round(cnt::DOUBLE / sum(cnt) OVER (PARTITION BY sid, state), 6) + 0.0 AS prob
        |        FROM tr),
        |ps AS (SELECT sid, state, count(*)::BIGINT AS pool_n,
        |         round(avg(v), 8) + 0.0 AS pool_mean,
        |         round(stddev_pop(v), 8) + 0.0 AS pool_std
        |       FROM st GROUP BY sid, state),
        |sp AS (SELECT sid, state,
        |         round(pool_n::DOUBLE / sum(pool_n) OVER (PARTITION BY sid), 6) + 0.0 AS start_prob
        |       FROM ps)
        |SELECT t.sid AS user_id, t.state AS state, t.next_state AS next_state,
        |  t.cnt AS cnt, t.prob AS prob,
        |  p.pool_n, p.pool_mean, p.pool_std, s.start_prob
        |FROM trp t
        |JOIN ps p ON p.sid = t.sid AND p.state = t.state
        |JOIN sp s ON s.sid = t.sid AND s.state = t.state
        |ORDER BY t.sid, t.state, t.next_state""".stripMargin,

    // C7: 64-point DFT power spectra of two global-return windows,
    // sum-normalized, RMSE distance — ordered-list folds mirror the
    // Scala k/t loop accumulation (composite_metric.py:50-56)
    "c01_spectral_dft" ->
      s"""WITH ser AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY ts, event_id) - 1 AS t, ret
         |  FROM (SELECT * FROM ($globalRets) g ORDER BY ts, event_id LIMIT 128) p),
         |ks AS (SELECT unnest(generate_series(0, 63)) AS k),
         |pa AS MATERIALIZED (SELECT k, re*re + im*im AS p FROM (
         |  SELECT k,
         |    list_aggregate(list(ret*cos(-2.0*pi()*k*t/64.0) ORDER BY t), 'sum') AS re,
         |    list_aggregate(list(ret*sin(-2.0*pi()*k*t/64.0) ORDER BY t), 'sum') AS im
         |  FROM ks CROSS JOIN (SELECT t, ret FROM ser WHERE t < 64) sa GROUP BY k) q),
         |pb AS MATERIALIZED (SELECT k, re*re + im*im AS p FROM (
         |  SELECT k,
         |    list_aggregate(list(ret*cos(-2.0*pi()*k*t/64.0) ORDER BY t), 'sum') AS re,
         |    list_aggregate(list(ret*sin(-2.0*pi()*k*t/64.0) ORDER BY t), 'sum') AS im
         |  FROM ks CROSS JOIN (SELECT t - 64 AS t, ret FROM ser WHERE t >= 64) sb GROUP BY k) q),
         |sab AS (SELECT
         |    (SELECT list_aggregate(list(p ORDER BY k), 'sum') FROM pa) + 1e-20 AS sa,
         |    (SELECT list_aggregate(list(p ORDER BY k), 'sum') FROM pb) + 1e-20 AS sb),
         |nd AS MATERIALIZED (SELECT pa.k AS k, pa.p/sa AS na, pb.p/sb AS nb
         |      FROM pa JOIN pb ON pa.k = pb.k CROSS JOIN sab),
         |dv AS (SELECT sqrt((SELECT list_aggregate(list((na - nb)*(na - nb) ORDER BY k), 'sum')
         |                    FROM nd) / 64.0) AS dist)
         |SELECT k::INT AS k, round(na, 8) + 0.0 AS p_real, round(nb, 8) + 0.0 AS p_synth,
         |       round(dist, 8) + 0.0 AS spectral_distance
         |FROM nd, dv ORDER BY k""".stripMargin,

    // C9: Gaussian-kernel MMD² over the even/odd embedding halves —
    // the three kernel means and the γ heuristic fold in the Scala
    // i-major/j-minor order (vae_gan_trainer.py:131-139)
    "c02_mmd" ->
      """WITH xs AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS ri, embedding::DOUBLE[] AS v
        |  FROM (SELECT * FROM embeddings WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 100) a),
        |ys AS MATERIALIZED (
        |  SELECT row_number() OVER (ORDER BY vec_id) AS ri, embedding::DOUBLE[] AS v
        |  FROM (SELECT * FROM embeddings WHERE vec_id % 2 = 1 ORDER BY vec_id LIMIT 100) b),
        |nn AS (SELECT (SELECT count(*) FROM xs) AS nx, (SELECT count(*) FROM ys) AS ny),
        |dxx AS MATERIALIZED (SELECT a.ri AS i, b.ri AS j,
        |    list_aggregate(list_transform(generate_series(1, len(a.v)),
        |      d -> (a.v[d] - b.v[d])*(a.v[d] - b.v[d])), 'sum') AS sd
        |  FROM xs a CROSS JOIN xs b),
        |dyy AS MATERIALIZED (SELECT a.ri AS i, b.ri AS j,
        |    list_aggregate(list_transform(generate_series(1, len(a.v)),
        |      d -> (a.v[d] - b.v[d])*(a.v[d] - b.v[d])), 'sum') AS sd
        |  FROM ys a CROSS JOIN ys b),
        |dxy AS MATERIALIZED (SELECT a.ri AS i, b.ri AS j,
        |    list_aggregate(list_transform(generate_series(1, len(a.v)),
        |      d -> (a.v[d] - b.v[d])*(a.v[d] - b.v[d])), 'sum') AS sd
        |  FROM xs a CROSS JOIN ys b),
        |gm AS (SELECT 1.0/((SELECT list_aggregate(list(sd ORDER BY i, j), 'sum') FROM dxx)
        |                   /((SELECT nx FROM nn)::DOUBLE*(SELECT nx FROM nn)) + 1e-8) AS g),
        |kxx AS (SELECT (SELECT list_aggregate(list(exp((-g)*sd) ORDER BY i, j), 'sum')
        |                FROM dxx, gm)
        |               /((SELECT nx FROM nn)::DOUBLE*(SELECT nx FROM nn)) AS v),
        |kyy AS (SELECT (SELECT list_aggregate(list(exp((-g)*sd) ORDER BY i, j), 'sum')
        |                FROM dyy, gm)
        |               /((SELECT ny FROM nn)::DOUBLE*(SELECT ny FROM nn)) AS v),
        |kxy AS (SELECT (SELECT list_aggregate(list(exp((-g)*sd) ORDER BY i, j), 'sum')
        |                FROM dxy, gm)
        |               /((SELECT nx FROM nn)::DOUBLE*(SELECT ny FROM nn)) AS v)
        |SELECT round((kxx.v + kyy.v) - 2.0*kxy.v, 8) + 0.0 AS mmd2,
        |       round((SELECT g FROM gm), 8) + 0.0 AS gamma,
        |       (SELECT nx FROM nn)::INT AS n_real, (SELECT ny FROM nn)::INT AS n_synth
        |FROM kxx, kyy, kxy""".stripMargin,

    // C9 PER-GROUP: the c02 kernel replay PARTITION BY label — per-label
    // capped halves, per-label γ from the real side, ordered list folds
    // (i-major) matching the Spark task's summation order
    "c02b_mmd_per_label" ->
      """WITH xs AS MATERIALIZED (SELECT * FROM (
        |    SELECT label::BIGINT AS label,
        |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS ri,
        |      embedding::DOUBLE[] AS v
        |    FROM embeddings WHERE vec_id % 2 = 0) t WHERE ri <= 100),
        |ys AS MATERIALIZED (SELECT * FROM (
        |    SELECT label::BIGINT AS label,
        |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS ri,
        |      embedding::DOUBLE[] AS v
        |    FROM embeddings WHERE vec_id % 2 = 1) t WHERE ri <= 100),
        |nn AS (SELECT label, nx, ny FROM
        |         (SELECT label, count(*) AS nx FROM xs GROUP BY label) x
        |         JOIN (SELECT label, count(*) AS ny FROM ys GROUP BY label) y
        |         USING (label)
        |       WHERE nx > 0 AND ny > 0),
        |dxx AS MATERIALIZED (SELECT a.label, a.ri AS i, b.ri AS j,
        |    list_aggregate(list_transform(generate_series(1, len(a.v)),
        |      d -> (a.v[d] - b.v[d])*(a.v[d] - b.v[d])), 'sum') AS sd
        |  FROM xs a JOIN xs b USING (label)),
        |dyy AS MATERIALIZED (SELECT a.label, a.ri AS i, b.ri AS j,
        |    list_aggregate(list_transform(generate_series(1, len(a.v)),
        |      d -> (a.v[d] - b.v[d])*(a.v[d] - b.v[d])), 'sum') AS sd
        |  FROM ys a JOIN ys b USING (label)),
        |dxy AS MATERIALIZED (SELECT a.label, a.ri AS i, b.ri AS j,
        |    list_aggregate(list_transform(generate_series(1, len(a.v)),
        |      d -> (a.v[d] - b.v[d])*(a.v[d] - b.v[d])), 'sum') AS sd
        |  FROM xs a JOIN ys b USING (label)),
        |gm AS (SELECT d.label,
        |         1.0/(list_aggregate(list(sd ORDER BY i, j), 'sum')
        |              /(n.nx::DOUBLE*n.nx) + 1e-8) AS g
        |       FROM dxx d JOIN nn n USING (label) GROUP BY d.label, n.nx),
        |kxx AS (SELECT d.label,
        |          list_aggregate(list(exp((-g.g)*sd) ORDER BY i, j), 'sum')
        |            /(n.nx::DOUBLE*n.nx) AS v
        |        FROM dxx d JOIN gm g USING (label) JOIN nn n USING (label)
        |        GROUP BY d.label, n.nx, g.g),
        |kyy AS (SELECT d.label,
        |          list_aggregate(list(exp((-g.g)*sd) ORDER BY i, j), 'sum')
        |            /(n.ny::DOUBLE*n.ny) AS v
        |        FROM dyy d JOIN gm g USING (label) JOIN nn n USING (label)
        |        GROUP BY d.label, n.ny, g.g),
        |kxy AS (SELECT d.label,
        |          list_aggregate(list(exp((-g.g)*sd) ORDER BY i, j), 'sum')
        |            /(n.nx::DOUBLE*n.ny) AS v
        |        FROM dxy d JOIN gm g USING (label) JOIN nn n USING (label)
        |        GROUP BY d.label, n.nx, n.ny, g.g)
        |SELECT n.label,
        |  round((kxx.v + kyy.v) - 2.0*kxy.v, 8) + 0.0 AS mmd2,
        |  round(g.g, 8) + 0.0 AS gamma,
        |  n.nx::INT AS n_real, n.ny::INT AS n_synth
        |FROM nn n
        |JOIN gm g USING (label)
        |JOIN kxx USING (label) JOIN kyy USING (label) JOIN kxy USING (label)
        |ORDER BY label""".stripMargin,

    // W13: crossfade stitch — alpha ramp over the first 10 positions of
    // each non-first 100-row block (optimize_generator_v3.py:87-133)
    "w13_crossfade" ->
      s"""WITH r AS (SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, ret
         |           FROM ($globalRets) g),
         |b AS (SELECT rn, ret, ((rn - 1) // 100) AS block, (rn - 1) % 100 AS pos
         |      FROM r WHERE rn <= 600),
         |cf AS (SELECT rn,
         |    CASE WHEN pos < 10 AND block > 0
         |              AND lag(ret, 10) OVER (ORDER BY rn) IS NOT NULL
         |      THEN (1.0 - ((pos + 1)::DOUBLE)/11)*lag(ret, 10) OVER (ORDER BY rn)
         |           + (((pos + 1)::DOUBLE)/11)*ret
         |      ELSE ret END AS stitched
         |  FROM b)
         |SELECT rn::INT AS rn, round(stitched, 8) + 0.0 AS stitched
         |FROM cf ORDER BY rn""".stripMargin,

    "w14_ar_bridge" -> w14Sql,

    // A15/A16: the reference's v_generator_summary view verbatim
    // (COUNT/ROUND(AVG)/GROUP BY, evaluate_all_generators.py:245-281)
    // over per-user metric rows
    // sessionize: running count of session starts (first row or
    // µs-gap > 1800 s) per user
    "a02_sessionize" ->
      """SELECT user_id, event_id,
        |  (sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
        |FROM (SELECT user_id, event_id, ts,
        |        epoch_us(ts) - lag(epoch_us(ts))
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |      FROM events) t
        |ORDER BY user_id, event_id""".stripMargin,

    // hash split: portable h64 bucket mod 10000 against the 8000/9000
    // cutoffs (salt 7 — the same md5 derivation as the Spark side)
    "a03_hash_split" -> {
      val b = s"${h64Sql("doc_id::VARCHAR", "'7'")} % 10000"
      s"""SELECT doc_id,
         |  CASE WHEN bucket < 8000 THEN 'train'
         |       WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, $b AS bucket FROM documents) t
         |ORDER BY doc_id""".stripMargin
    },

    // span dedup: same 12-token header prepended, spans at 12-token
    // block granularity, global keep-first by (doc_id, blk), docs
    // reassembled from surviving spans in block order
    "d05_span_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    'standard license header boilerplate block repeated across documents in this corpus exactly '
        |      || text AS text FROM documents),
        |toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
        |           unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |         FROM d),
        |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
        |ti AS (SELECT doc_id, token,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS ti
        |       FROM t),
        |segs AS (SELECT doc_id, ti // 12 AS blk,
        |           string_agg(token, ' ' ORDER BY ti) AS seg
        |         FROM ti GROUP BY doc_id, ti // 12),
        |r AS (SELECT *, row_number() OVER (PARTITION BY seg
        |        ORDER BY doc_id, blk) AS rk FROM segs)
        |SELECT doc_id, count(*)::BIGINT AS n_spans,
        |  sum(CASE WHEN rk = 1 THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
        |  coalesce(string_agg(CASE WHEN rk = 1 THEN seg END, ' ' ORDER BY blk),
        |           '') AS cleaned
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // fuzzy span dedup: d05's block frame + d01's minhash machinery at
    // span granularity (k=3 shingles, 16 perms, 4 bands of 4), pairs at
    // est >= 0.5, recursive-CTE closure over dense span indices (numeric
    // min on row_number() ORDER BY (doc_id, blk) = the Spark side's
    // field-wise struct min), keeper = component minimum
    "d06_fuzzy_span_dedup" -> {
      val mask = graft.text.Dedup.MinhashBaseMask
      val prime = graft.text.Dedup.MinhashPrime
      val params = graft.text.Dedup.minhashParams(16).zipWithIndex
        .map { case ((a, b), s) => s"($s, ${a}::BIGINT, ${b}::BIGINT)" }
        .mkString(", ")
      s"""WITH RECURSIVE d AS (SELECT doc_id,
         |    'v' || (doc_id % 3)::VARCHAR ||
         |    ' standard license header boilerplate block repeated across documents in corpus exactly '
         |      || text AS text FROM documents),
         |toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
         |           unnest(generate_series(1, len(string_split(text,' ')))) AS pos
         |         FROM d),
         |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
         |ti AS (SELECT doc_id, token,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS ti
         |       FROM t),
         |segs AS MATERIALIZED (SELECT doc_id, ti // 12 AS blk,
         |          string_agg(token, ' ' ORDER BY ti) AS seg
         |        FROM ti GROUP BY doc_id, ti // 12),
         |sp AS MATERIALIZED (SELECT doc_id, blk,
         |        row_number() OVER (ORDER BY doc_id, blk) AS sid, seg
         |      FROM segs),
         |stoks AS (SELECT sid, unnest(string_split(seg,' ')) AS token,
         |            unnest(generate_series(1, len(string_split(seg,' ')))) AS pos
         |          FROM sp),
         |sh0 AS (SELECT sid,
         |          token || ' ' || lead(token,1) OVER w || ' ' || lead(token,2) OVER w AS shingle,
         |          lead(token,2) OVER w AS l2
         |        FROM stoks WINDOW w AS (PARTITION BY sid ORDER BY pos)),
         |sh AS (SELECT DISTINCT sid, shingle FROM sh0 WHERE l2 IS NOT NULL),
         |bs AS (SELECT sid, ${h64Sql("shingle", "'0'")} & $mask AS base FROM sh),
         |params AS (SELECT * FROM (VALUES $params) p(s, a, b)),
         |mh AS MATERIALIZED (SELECT sid, s, min((a * base + b) % $prime) AS h
         |      FROM bs, params GROUP BY sid, s),
         |bands AS (SELECT sid, s // 4 AS band,
         |            md5(string_agg(h::VARCHAR, ',' ORDER BY s)) AS bucket
         |          FROM mh GROUP BY sid, s // 4),
         |cand AS (SELECT DISTINCT a.sid AS id_a, b.sid AS id_b
         |         FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         |         WHERE a.sid < b.sid),
         |pairs AS MATERIALIZED (SELECT id_a, id_b FROM (
         |  SELECT c.id_a, c.id_b,
         |    (SELECT count(*) FROM mh x JOIN mh y ON x.s = y.s AND x.h = y.h
         |     WHERE x.sid = c.id_a AND y.sid = c.id_b) / 16.0 AS ej
         |  FROM cand c) e WHERE ej >= 0.5),
         |nodes AS (SELECT DISTINCT id FROM (
         |  SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs) n),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (SELECT id, id AS r FROM nodes
         |          UNION
         |          SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         |comp AS (SELECT id AS sid, min(r) AS cluster FROM reach GROUP BY id)
         |SELECT sp.doc_id, count(*)::BIGINT AS n_spans,
         |  sum(CASE WHEN comp.sid IS NULL OR sp.sid = comp.cluster
         |      THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
         |  coalesce(string_agg(CASE WHEN comp.sid IS NULL OR sp.sid = comp.cluster
         |      THEN sp.seg END, ' ' ORDER BY sp.blk), '') AS cleaned
         |FROM sp LEFT JOIN comp ON sp.sid = comp.sid
         |GROUP BY sp.doc_id ORDER BY sp.doc_id""".stripMargin
    },

    // exact-substring duplicated intervals (d09): duplicated-8-gram
    // run collapse — gram occurrence counts ≥ 2 mark duplicated start
    // positions, consecutive positions sessionize into maximal runs
    // (lag + running sum, the a02 machinery), intervals ≥ 20 tokens;
    // twin_count = the rarest gram's occurrence count. d09f is the
    // same chain with gaps of up to 8 positions bridged (the
    // single-token-edit tolerance).
    "d09_substring_dedup" -> d09Sql(bridge = 0),
    "d09f_substring_fuzzy" -> d09Sql(bridge = 8),

    // exact-substring decontamination (t23): d09's run collapse with
    // the duplicated-gram probe replaced by membership in the odd-doc
    // benchmark's gram frame; twin_count = the rarest gram's benchmark
    // occurrence count
    "t23_substring_contamination" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
        |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |              FROM documents),
        |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
        |ti AS (SELECT doc_id, token,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS ti
        |       FROM t),
        |g0 AS (SELECT doc_id, ti,
        |         concat_ws(' ', token, lead(token,1) OVER w, lead(token,2) OVER w,
        |           lead(token,3) OVER w, lead(token,4) OVER w, lead(token,5) OVER w,
        |           lead(token,6) OVER w, lead(token,7) OVER w) AS g,
        |         lead(token,7) OVER w AS l7
        |       FROM ti WINDOW w AS (PARTITION BY doc_id ORDER BY ti)),
        |g AS (SELECT doc_id, ti, g FROM g0 WHERE l7 IS NOT NULL),
        |bg AS (SELECT g, count(*)::BIGINT AS c FROM g
        |       WHERE doc_id % 2 = 1 GROUP BY 1),
        |tr AS (SELECT g.doc_id, g.ti, bg.c FROM g JOIN bg USING (g)
        |       WHERE g.doc_id % 2 = 0),
        |lagd AS (SELECT doc_id, ti, c,
        |           CASE WHEN ti = lag(ti) OVER (PARTITION BY doc_id ORDER BY ti) + 1
        |                THEN 0 ELSE 1 END AS brk
        |         FROM tr),
        |runs AS (SELECT doc_id, ti, c,
        |           sum(brk) OVER (PARTITION BY doc_id ORDER BY ti
        |             ROWS UNBOUNDED PRECEDING) AS run
        |         FROM lagd),
        |iv AS (SELECT doc_id, min(ti)::BIGINT AS span_start,
        |         (max(ti) + 7)::BIGINT AS span_end, min(c)::BIGINT AS twin_count
        |       FROM runs GROUP BY doc_id, run)
        |SELECT doc_id, span_start, span_end,
        |  (span_end - span_start + 1)::BIGINT AS span_tokens, twin_count
        |FROM iv WHERE span_end - span_start + 1 >= 20
        |ORDER BY doc_id, span_start""".stripMargin,

    // C4-style line filter (t24): the same deterministic multi-line
    // body the Spark entry builds (100-char chunks, '.' on i%3≠0,
    // boilerplate + short + unique closing lines), then per-line
    // gates: ≥3 words, terminal punctuation, blocklist substrings
    "t24_line_filter" ->
      """WITH d AS (SELECT doc_id, text,
        |    ((strlen(text) + 99) // 100)::INT AS nc FROM documents),
        |c AS (SELECT doc_id, unnest(generate_series(0, nc - 1))::INT AS i,
        |        text FROM d),
        |l AS (SELECT doc_id, i, substr(text, 1 + i*100, 100) ||
        |        CASE WHEN i % 3 <> 0 THEN '.' ELSE '' END AS ln FROM c),
        |b AS (SELECT doc_id,
        |        string_agg(ln, chr(10) ORDER BY i) || chr(10) ||
        |        'please enable javascript and accept our cookie policy.'
        |        || chr(10) || 'ok then.' || chr(10) ||
        |        'doc ' || doc_id::VARCHAR || ' summary ends here.' AS body
        |      FROM l GROUP BY doc_id),
        |ls AS (SELECT doc_id, unnest(string_split(body, chr(10))) AS ln,
        |         unnest(generate_series(1,
        |           len(string_split(body, chr(10)))))::INT AS pos FROM b),
        |k AS (SELECT doc_id, ln, pos,
        |        (len(list_filter(string_split(ln, ' '), t -> t <> '')) >= 3
        |         AND regexp_matches(ln, '[.!?"]$')
        |         AND NOT contains(lower(ln), 'javascript')
        |         AND NOT contains(lower(ln), 'cookie')
        |         AND NOT contains(lower(ln), '{')) AS ok
        |      FROM ls)
        |SELECT doc_id, count(*)::INT AS n_lines, sum(ok::INT)::INT AS n_kept,
        |  coalesce(string_agg(CASE WHEN ok THEN ln END, chr(10)
        |    ORDER BY pos) FILTER (WHERE ok), '') AS clean
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // cross-doc repeated-line removal (t25): same body; a line present
    // in ≥ 5 distinct docs is boilerplate and removed everywhere
    "t25_line_dedup" ->
      """WITH d AS (SELECT doc_id, text,
        |    ((strlen(text) + 99) // 100)::INT AS nc FROM documents),
        |c AS (SELECT doc_id, unnest(generate_series(0, nc - 1))::INT AS i,
        |        text FROM d),
        |l AS (SELECT doc_id, i, substr(text, 1 + i*100, 100) ||
        |        CASE WHEN i % 3 <> 0 THEN '.' ELSE '' END AS ln FROM c),
        |b AS (SELECT doc_id,
        |        string_agg(ln, chr(10) ORDER BY i) || chr(10) ||
        |        'please enable javascript and accept our cookie policy.'
        |        || chr(10) || 'ok then.' || chr(10) ||
        |        'doc ' || doc_id::VARCHAR || ' summary ends here.' AS body
        |      FROM l GROUP BY doc_id),
        |ls AS (SELECT doc_id, unnest(string_split(body, chr(10))) AS ln,
        |         unnest(generate_series(1,
        |           len(string_split(body, chr(10)))))::INT AS pos FROM b),
        |flag AS (SELECT ln FROM (SELECT ln, count(DISTINCT doc_id) AS ldf
        |           FROM ls WHERE ln <> '' GROUP BY 1) WHERE ldf >= 5),
        |keep AS (SELECT doc_id, ln, pos FROM ls
        |         WHERE ln NOT IN (SELECT ln FROM flag)),
        |cnt AS (SELECT doc_id, count(*)::INT AS n_lines FROM ls GROUP BY 1),
        |re AS (SELECT doc_id, count(*)::INT AS n_kept,
        |         string_agg(ln, chr(10) ORDER BY pos) AS clean
        |       FROM keep GROUP BY 1)
        |SELECT c.doc_id, c.n_lines, coalesce(re.n_kept, 0) AS n_kept,
        |  coalesce(re.clean, '') AS clean
        |FROM cnt c LEFT JOIN re USING (doc_id) ORDER BY doc_id""".stripMargin,

    // in-engine BPE trainer (b01): 8 integer-exact merge elections
    // over the word-count frame; see bpeLevels for the replay contract
    "b01_bpe_train" -> b01Sql(8),

    // BPE encode (b02): the b01 merge table applied in rank order as a
    // static replace chain; '|' boundary symbols keep merges inside
    // words
    "b02_bpe_encode" -> b02Sql(8),

    // b01p/b02p: the production BPE paths (batched multi-merge
    // election / mapPartitions linear-scan encoder) are bit-identical
    // to the sequential-greedy contract by construction — they replay
    // the SAME oracles, making the equivalence driver-gated rather
    // than spec-only
    "b01p_bpe_train_batched" -> b01Sql(8),
    "b02p_bpe_encode_fast" -> b02Sql(8),

    // t29: Unicode NFC normalization — DuckDB's nfc_normalize and
    // java.text.Normalizer both implement UAX #15, so the outputs
    // agree by standard; the decomposed variant is built with chr(769)
    // (combining acute)
    "t29_nfc_normalize" ->
      """WITH b AS (SELECT doc_id,
        |    text || CASE (doc_id % 3)
        |      WHEN 0 THEN ' café résumé'
        |      WHEN 1 THEN ' cafe' || chr(769) || ' re' || chr(769) ||
        |                  'sume' || chr(769)
        |      ELSE ' plain ascii' END AS body
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(body) AS normalized,
        |  (nfc_normalize(body) <> body)::INT AS changed
        |FROM b ORDER BY doc_id""".stripMargin,

    // t29b: Unicode NFKC — DuckDB has no nfkc_normalize, so the
    // COMPATIBILITY step is replayed with a frozen literal map that
    // covers exactly the fixture's compatibility repertoire
    // (fullwidth latin/digits/percent, fi/fl ligatures, ㎞/㎡ squared
    // units — each expansion is the UAX #15 recursive compatibility
    // decomposition), then nfc_normalize composes the canonical step
    // (the decomposed accent). The corpus text itself is ASCII (no
    // compatibility chars), so the map is exhaustive for this body.
    "t29b_nfkc_normalize" -> {
      val compat = Seq(
        "Ｇ" -> "G", "ｒ" -> "r", "ａ" -> "a", "ｆ" -> "f", "ｔ" -> "t",
        "５" -> "5", "０" -> "0", "％" -> "%",
        "ﬁ" -> "fi", "ﬂ" -> "fl", "㎞" -> "km", "㎡" -> "m2")
      val mapped = compat.foldLeft("body") { case (e, (from, to)) =>
        s"replace($e, '$from', '$to')"
      }
      s"""WITH b AS (SELECT doc_id,
         |    text || CASE (doc_id % 5)
         |      WHEN 0 THEN ' Ｇｒａｆｔ ５０％ faster'
         |      WHEN 1 THEN ' the ﬁrst ﬂoor'
         |      WHEN 2 THEN ' ５㎞ in ㎡ units'
         |      WHEN 3 THEN ' cafe' || chr(769) || ' visit'
         |      ELSE ' plain ascii' END AS body
         |  FROM documents),
         |n AS (SELECT doc_id, body,
         |    nfc_normalize($mapped) AS normalized
         |  FROM b)
         |SELECT doc_id, normalized,
         |  (normalized <> body)::INT AS changed
         |FROM n ORDER BY doc_id""".stripMargin
    },

    // t28: HTML stripping — the same RE2 chain (comments, script/style
    // with contents, tags, entity decode with &amp; LAST, whitespace
    // collapse); replace() chains mirror the Spark side exactly
    "t28_html_strip" ->
      """WITH b AS (SELECT doc_id,
        |    '<html><head><style>p{color:red}</style>' ||
        |    '<script>var x=1;</script></head><body><h1>Doc ' ||
        |    doc_id::VARCHAR || '</h1>' || chr(10) ||
        |    '<p class="a">' || text ||
        |    '</p><!-- hidden --><br/>&amp; &lt;tag&gt; ' ||
        |    '&quot;q&quot;&nbsp;&#39;s</body></html>' AS body
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |    regexp_replace(body, '(?s)<!--.*?-->', ' ', 'g') AS t FROM b),
        |s2 AS (SELECT doc_id,
        |    regexp_replace(t, '(?is)<script[^>]*>.*?</script>', ' ', 'g')
        |    AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |    regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g')
        |    AS t FROM s2),
        |s4 AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(t, '(?s)<[^>]*>', ' ', 'g'),
        |      '(?s)<[^>]*$', ' ', 'g') AS t FROM s3),
        |s5 AS (SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(t,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS t
        |  FROM s4),
        |s6 AS (SELECT doc_id,
        |    trim(regexp_replace(t, '[ \t\r\n]+', ' ', 'g')) AS clean
        |  FROM s5)
        |SELECT doc_id, clean, length(clean)::BIGINT AS n_chars
        |FROM s6 ORDER BY doc_id""".stripMargin,

    // t27: CJK segmentation — spaces inserted around Han/kana chars
    // (\1 backref exists in DuckDB regexp_replace), space runs
    // collapsed, trimmed; n_tokens = whitespace token count of the
    // segmented text
    "t27_cjk_segment" ->
      """WITH b AS (SELECT doc_id,
        |    CASE (doc_id % 5)
        |      WHEN 0 THEN 'plain english stays words'
        |      WHEN 1 THEN '这是一个中文句子没有空格'
        |      WHEN 2 THEN 'これはにほんごのぶんです日本語まじり'
        |      WHEN 3 THEN 'mixed英文和中文text在一起'
        |      ELSE '한국어 문장 은 띄어쓰기 유지'
        |    END AS body
        |  FROM documents),
        |sg AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(body,
        |      '([㐀-䶿一-鿿぀-ヿｦ-ﾟ])', ' \1 ', 'g'), '  +', ' ', 'g'))
        |      AS segmented
        |  FROM b)
        |SELECT doc_id, segmented,
        |  len(list_filter(string_split(segmented, ' '),
        |    t -> t <> ''))::BIGINT AS n_tokens
        |FROM sg ORDER BY doc_id""".stripMargin,

    // t26: script-aware language ID — codepoint-RANGE char classes
    // (identical semantics in Java regex and RE2, unlike \p{script=…}
    // whose tables drift across engines/Unicode versions); argmax via
    // a name-ASC CASE chain, unknown when no class char occurs
    "t26_langid_script" ->
      """WITH b AS (SELECT doc_id,
        |    CASE (doc_id % 9)
        |      WHEN 0 THEN 'the quick brown fox jumps over the lazy dog'
        |      WHEN 1 THEN '这 是 一个 中文 句子 我们 在 训练 数据 管道 里 检测 语言 使用 汉字'
        |      WHEN 2 THEN 'これ は にほんご の ぶん です かな が とても おおい 日本語'
        |      WHEN 3 THEN '이것 은 한국어 문장 입니다 언어 감지 테스트 입니다'
        |      WHEN 4 THEN 'это русское предложение для проверки определения языка'
        |      WHEN 5 THEN 'यह भाषा पहचान की जाँच के लिए एक हिंदी वाक्य है'
        |      WHEN 6 THEN 'αυτή είναι μια ελληνική πρόταση για τον έλεγχο της γλώσσας'
        |      WHEN 7 THEN 'זה משפט בעברית לבדיקת זיהוי השפה שלנו'
        |      ELSE 'นี่คือประโยคภาษาไทยสำหรับการตรวจสอบภาษา'
        |    END AS body
        |  FROM documents),
        |c AS (SELECT doc_id, body,
        |    len(regexp_extract_all(body, '[؀-ۿ]'))::BIGINT AS n_ara,
        |    len(regexp_extract_all(body, '[㐀-䶿一-鿿]'))::BIGINT AS n_cjk,
        |    len(regexp_extract_all(body, '[Ѐ-ӿ]'))::BIGINT AS n_cyr,
        |    len(regexp_extract_all(body, '[ऀ-ॿ]'))::BIGINT AS n_dev,
        |    len(regexp_extract_all(body, '[Ͱ-Ͽ]'))::BIGINT AS n_ell,
        |    len(regexp_extract_all(body, '[֐-׿]'))::BIGINT AS n_heb,
        |    len(regexp_extract_all(body, '[぀-ヿｦ-ﾟ]'))::BIGINT AS n_jpn_kana,
        |    len(regexp_extract_all(body, '[가-힯]'))::BIGINT AS n_kor,
        |    len(regexp_extract_all(body, '[A-Za-z]'))::BIGINT AS n_lat,
        |    len(regexp_extract_all(body, '[฀-๿]'))::BIGINT AS n_tha
        |  FROM b),
        |m AS (SELECT c.*, greatest(n_ara, n_cjk, n_cyr, n_dev, n_ell,
        |    n_heb, n_jpn_kana, n_kor, n_lat, n_tha) AS mx FROM c)
        |SELECT doc_id, n_ara, n_cjk, n_cyr, n_dev, n_ell, n_heb,
        |  n_jpn_kana, n_kor, n_lat, n_tha,
        |  CASE WHEN mx = 0 THEN 'unknown'
        |       WHEN n_ara = mx THEN 'ara'
        |       WHEN n_cjk = mx THEN 'cjk'
        |       WHEN n_cyr = mx THEN 'cyr'
        |       WHEN n_dev = mx THEN 'dev'
        |       WHEN n_ell = mx THEN 'ell'
        |       WHEN n_heb = mx THEN 'heb'
        |       WHEN n_jpn_kana = mx THEN 'jpn_kana'
        |       WHEN n_kor = mx THEN 'kor'
        |       WHEN n_lat = mx THEN 'lat'
        |       ELSE 'tha' END AS script_guess,
        |  CASE WHEN mx = 0 THEN 0.0
        |       ELSE round(mx::DOUBLE / greatest(len(body)::DOUBLE, 1.0), 6)
        |  END AS script_ratio
        |FROM m ORDER BY doc_id""".stripMargin,

    // t30: same-script language ID — the t11 frozen-weights pattern
    // over hashed char-trigrams: the SAME LangIdTrigramModel doubles
    // the Spark plan broadcasts, embedded as a 256-row VALUES table
    // (Double.toString round-trips in DuckDB), same h64 bucketing
    // (h64 is a 60-bit non-negative value, so % == pmod), scores
    // 6-rounded per class, argmax CASE in es/fr/pt order. FP-sum
    // order is engine-chosen on both sides; like t11, r6 rounding of
    // a ≤256-term dot product absorbs the last-ulp wobble (a mismatch
    // needs a score within ~1 ulp of a .5e-6 boundary).
    "t30_langid_trigram" -> {
      val m = graft.text.LangIdTrigramModel
      val vals = (0 until m.NBuckets).map(b =>
        s"($b, ${m.W(0)(b)}::DOUBLE, ${m.W(1)(b)}::DOUBLE, " +
          s"${m.W(2)(b)}::DOUBLE)").mkString(", ")
      s"""WITH d AS (SELECT doc_id,
         |    lower(CASE (doc_id % 6)
         |      WHEN 0 THEN 'la reunión de vecinos se celebra el jueves por la noche en el salón del ayuntamiento'
         |      WHEN 1 THEN 'le médecin m''a dit que je devais me reposer quelques jours et boire beaucoup d''eau'
         |      WHEN 2 THEN 'a reunião dos vizinhos realiza-se na quinta à noite no salão da junta'
         |      WHEN 3 THEN 'el médico me dijo que debía descansar unos días y beber mucha agua'
         |      WHEN 4 THEN 'la réunion des voisins aura lieu jeudi soir dans la salle de la mairie'
         |      ELSE 'o médico disse-me que devia descansar uns dias e beber muita água'
         |    END) AS t
         |  FROM documents),
         |f AS (SELECT doc_id, t FROM d WHERE len(t) >= 3),
         |g0 AS (SELECT doc_id, t,
         |         unnest(generate_series(1, len(t) - 2))::INT AS j
         |       FROM f),
         |g AS (SELECT doc_id, substr(t, j, 3) AS gram FROM g0),
         |bk AS (SELECT doc_id,
         |         ${h64Sql("gram", s"'${m.Salt}'")} % ${m.NBuckets} AS b
         |       FROM g),
         |cnt AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM bk
         |        GROUP BY 1, 2),
         |w(b, w_es, w_fr, w_pt) AS (VALUES $vals),
         |agg AS (SELECT doc_id, sum(c)::BIGINT AS n_grams,
         |          round(${m.Intercepts(0)} + sum(c * w.w_es) / sum(c), 6)
         |            AS score_es,
         |          round(${m.Intercepts(1)} + sum(c * w.w_fr) / sum(c), 6)
         |            AS score_fr,
         |          round(${m.Intercepts(2)} + sum(c * w.w_pt) / sum(c), 6)
         |            AS score_pt
         |        FROM cnt JOIN w USING (b) GROUP BY doc_id)
         |SELECT doc_id, n_grams, score_es, score_fr, score_pt,
         |  CASE WHEN score_es = greatest(score_es, score_fr, score_pt)
         |         THEN 'es'
         |       WHEN score_fr = greatest(score_es, score_fr, score_pt)
         |         THEN 'fr'
         |       ELSE 'pt' END AS lang_guess
         |FROM agg ORDER BY doc_id""".stripMargin
    },

    // b05: sentencepiece-style ▁ word markers — training and encoding
    // replayed over the marked stream; decode(encode(x)) == x is the
    // spec-pinned complement (DuckDB can't express the round-trip
    // cleanly, the encoded stream is the gated artifact)
    "b05_bpe_sentencepiece" -> b05Sql(8),
    "b06_bpe_sp_ids" -> b06Sql(8),

    // BPE id sequences (b03): chars-then-merges vocabulary, exploded
    // (doc, pos, symbol, token_id) rows
    "b03_bpe_ids" -> b03Sql(8),

    // b10: per-language tokenizer fertility over the b02 encode chain
    "b10_fertility" -> b10Sql(8),

    // tokenizer coverage (b04): clean-corpus tokenizer scores the
    // t03-salted drifted corpus; unseen characters surface as OOV
    "b04_bpe_coverage" -> b04Sql(8),

    // byte-fallback coverage (b07): the 256-surrogate byte alphabet
    // as a literal map; a unicode-salted drift scores ZERO OOV
    "b07_bpe_byte_fallback" -> b07Sql(8),

    // b08: unigram-LM Viterbi tokenization — the same frequency-seeded
    // inventory (top-64 substrings by (cnt DESC, piece ASC) + all
    // chars, log-probs 6-ROUNDED so both engines' DPs add identical
    // doubles), then the per-word Viterbi DP unrolled position by
    // position over the DISTINCT-WORD frame: state = a (score,
    // −pieces) struct whose lexicographic max IS the
    // max-score-then-fewest-pieces tie-break (struct comparison is
    // value-based, so candidate order never matters); 12 levels cover
    // the corpus's max word length 8 with margin. Per-doc totals join
    // the word scores back through the token multiset.
    // b09: WordPiece — inventory from the CLEAN corpus (positioned
    // substrings, start>1 → ##-continuation; top-64 multi-char by
    // (cnt DESC, marked ASC) + all singles), greedy longest-match
    // unrolled to MaxWordLen levels over the drifted corpus; no-match
    // or >12 chars → whole word [UNK] (np=1, unk=1) — BERT semantics
    "b09_wordpiece" -> {
      val maxLevel = 12
      val levels = (1 to maxLevel).map { i =>
        s"""m$i AS MATERIALIZED (
           |  SELECT g.word, g.pos, max(len(v.core)) AS ml
           |  FROM g${i - 1} g JOIN vocab v
           |    ON v.is_cont = (g.pos > 0)
           |   AND len(v.core) <= g.len - g.pos
           |   AND v.core = substr(g.word, g.pos + 1, len(v.core))
           |  WHERE g.pos < g.len
           |  GROUP BY g.word, g.pos),
           |g$i AS MATERIALIZED (
           |  SELECT g.word, g.len,
           |    CASE WHEN g.pos >= g.len THEN g.pos
           |         WHEN m.ml IS NULL THEN g.len
           |         ELSE g.pos + m.ml END AS pos,
           |    CASE WHEN g.pos >= g.len THEN g.np
           |         WHEN m.ml IS NULL THEN 1
           |         ELSE g.np + 1 END AS np,
           |    CASE WHEN g.pos >= g.len THEN g.unk
           |         WHEN m.ml IS NULL THEN 1
           |         ELSE g.unk END AS unk
           |  FROM g${i - 1} g LEFT JOIN m$i m
           |    ON m.word = g.word AND m.pos = g.pos)""".stripMargin
      }.mkString(",\n")
      s"""WITH clean AS (SELECT unnest(string_split(text, ' ')) AS w
         |              FROM documents),
         |cw AS (SELECT w, count(*)::BIGINT AS c FROM clean
         |       WHERE w <> '' GROUP BY w),
         |st0 AS (SELECT w, c,
         |    unnest(generate_series(1, len(w)))::INT AS i FROM cw),
         |sl AS (SELECT w, c, i,
         |    unnest(generate_series(1, least(4, len(w) - i + 1)))::INT
         |      AS l
         |  FROM st0),
         |pc AS (SELECT substr(w, i, l) AS core, (i > 1) AS is_cont,
         |         sum(c)::BIGINT AS cnt
         |       FROM sl GROUP BY 1, 2),
         |mk AS (SELECT core, is_cont, cnt,
         |         CASE WHEN is_cont THEN '##' || core ELSE core END
         |           AS marked
         |       FROM pc),
         |multi AS (SELECT core, is_cont,
         |    row_number() OVER (ORDER BY cnt DESC, marked) AS rk
         |  FROM mk WHERE len(core) >= 2),
         |vocab AS (SELECT core, is_cont FROM multi WHERE rk <= 64
         |          UNION ALL
         |          SELECT core, is_cont FROM mk WHERE len(core) = 1),
         |drift AS (SELECT doc_id,
         |    text || ' café naïve' || doc_id::VARCHAR ||
         |      ' supercalifragilistic' AS body
         |  FROM documents),
         |toks AS (SELECT doc_id,
         |    unnest(string_split(body, ' ')) AS w FROM drift),
         |t AS (SELECT doc_id, w FROM toks WHERE w <> ''),
         |g0 AS (SELECT w AS word, len(w) AS len,
         |    CASE WHEN len(w) > $maxLevel THEN len(w) ELSE 0 END AS pos,
         |    CASE WHEN len(w) > $maxLevel THEN 1 ELSE 0 END AS np,
         |    CASE WHEN len(w) > $maxLevel THEN 1 ELSE 0 END AS unk
         |  FROM (SELECT DISTINCT w FROM t)),
         |$levels
         |SELECT t.doc_id, count(*)::BIGINT AS n_words,
         |  sum(g.np)::BIGINT AS n_pieces,
         |  sum(g.unk)::BIGINT AS n_unk
         |FROM t JOIN g$maxLevel g ON g.word = t.w
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
    },

    "b08_unigram_viterbi" -> {
      val maxLevel = 12
      val levels = (1 to maxLevel).map { i =>
        val lo = math.max(0, i - 4)
        s"""d$i AS MATERIALIZED (
           |  SELECT * FROM d${i - 1}
           |  UNION ALL
           |  SELECT w.word, $i AS pos,
           |    max(struct_pack(
           |      s := struct_extract(p.st, 's') +
           |        COALESCE(lp.lp, CASE WHEN $i - p.pos = 1
           |                             THEN -30.0::DOUBLE END),
           |      n := struct_extract(p.st, 'n') - 1)) AS st
           |  FROM words w
           |  JOIN d${i - 1} p ON p.word = w.word
           |    AND p.pos >= $lo AND p.pos <= ${i - 1}
           |  LEFT JOIN lp ON lp.piece = substr(w.word, p.pos + 1,
           |    $i - p.pos)
           |  WHERE w.len >= $i
           |    AND (lp.lp IS NOT NULL OR $i - p.pos = 1)
           |  GROUP BY w.word)""".stripMargin
      }.mkString(",\n")
      s"""WITH toks AS (SELECT doc_id,
         |    unnest(string_split(text, ' ')) AS w FROM documents),
         |t AS (SELECT doc_id, w FROM toks WHERE w <> ''),
         |wc AS (SELECT w, count(*)::BIGINT AS c FROM t GROUP BY w),
         |st0 AS (SELECT w, c,
         |    unnest(generate_series(1, len(w)))::INT AS i FROM wc),
         |sl AS (SELECT w, c, i,
         |    unnest(generate_series(1, least(4, len(w) - i + 1)))::INT
         |      AS l
         |  FROM st0),
         |pc AS (SELECT substr(w, i, l) AS piece, sum(c)::BIGINT AS cnt
         |       FROM sl GROUP BY 1),
         |multi AS (SELECT piece, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, piece) AS rk
         |  FROM pc WHERE len(piece) >= 2),
         |sel AS (SELECT piece, cnt FROM multi WHERE rk <= 64
         |        UNION ALL
         |        SELECT piece, cnt FROM pc WHERE len(piece) = 1),
         |tot AS (SELECT sum(cnt)::DOUBLE AS tt FROM sel),
         |lp AS (SELECT piece, round(ln(cnt::DOUBLE / tt), 6) AS lp
         |       FROM sel CROSS JOIN tot),
         |words AS (SELECT w AS word, len(w) AS len FROM wc),
         |d0 AS (SELECT word, 0 AS pos,
         |        struct_pack(s := 0.0::DOUBLE, n := 0) AS st
         |       FROM words),
         |$levels,
         |ws AS (SELECT d.word,
         |        struct_extract(d.st, 's') AS s,
         |        -struct_extract(d.st, 'n') AS np
         |       FROM d$maxLevel d JOIN words v ON v.word = d.word
         |       WHERE d.pos = v.len)
         |SELECT t.doc_id, count(*)::BIGINT AS n_words,
         |  sum(ws.np)::BIGINT AS n_pieces,
         |  round(sum(ws.s), 6) AS logprob
         |FROM t JOIN ws ON ws.word = t.w
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
    },

    // packed token-id stream (t09b): b03 ids + per-doc <eos> cost,
    // greedy per-shard pack, positions renumbered within sequences
    "t09b_pack_token_ids" -> t09bSql(8, 256, 2),

    // per-collection line dedup (t25b): the t25 chain with line df
    // counted within `source`
    "t25b_line_dedup_by" ->
      """WITH d AS (SELECT doc_id, source, text,
        |    ((strlen(text) + 99) // 100)::INT AS nc FROM documents),
        |c AS (SELECT doc_id, source,
        |        unnest(generate_series(0, nc - 1))::INT AS i,
        |        text FROM d),
        |l AS (SELECT doc_id, source, i, substr(text, 1 + i*100, 100) ||
        |        CASE WHEN i % 3 <> 0 THEN '.' ELSE '' END AS ln FROM c),
        |b AS (SELECT doc_id, source,
        |        string_agg(ln, chr(10) ORDER BY i) || chr(10) ||
        |        'please enable javascript and accept our cookie policy.'
        |        || chr(10) || 'ok then.' || chr(10) ||
        |        'doc ' || doc_id::VARCHAR || ' summary ends here.' AS body
        |      FROM l GROUP BY doc_id, source),
        |ls AS (SELECT doc_id, source,
        |         unnest(string_split(body, chr(10))) AS ln,
        |         unnest(generate_series(1,
        |           len(string_split(body, chr(10)))))::INT AS pos FROM b),
        |flag AS (SELECT source, ln FROM (
        |    SELECT source, ln, count(DISTINCT doc_id) AS ldf
        |    FROM ls WHERE ln <> '' GROUP BY 1, 2) WHERE ldf >= 5),
        |keep AS (SELECT l.doc_id, l.source, l.ln, l.pos FROM ls l
        |         LEFT JOIN flag f ON f.source = l.source AND f.ln = l.ln
        |         WHERE f.ln IS NULL),
        |cnt AS (SELECT doc_id, source, count(*)::INT AS n_lines
        |        FROM ls GROUP BY 1, 2),
        |re AS (SELECT doc_id, source, count(*)::INT AS n_kept,
        |         string_agg(ln, chr(10) ORDER BY pos) AS clean
        |       FROM keep GROUP BY 1, 2)
        |SELECT c.doc_id, c.source, c.n_lines,
        |  coalesce(re.n_kept, 0) AS n_kept, coalesce(re.clean, '') AS clean
        |FROM cnt c LEFT JOIN re USING (doc_id, source)
        |ORDER BY doc_id""".stripMargin,

    // URL canonicalization (a16): the same RE2 rule chain — lowercase
    // scheme/host, strip userinfo / default ports / fragments /
    // tracking params (separator repaired), drop dangling ?/& and the
    // bare root slash; junk passes through
    "a16_url_normalize" ->
      """WITH u AS (SELECT doc_id, CASE doc_id % 8
        |    WHEN 0 THEN 'https://WWW.Site' || (doc_id % 7)::VARCHAR ||
        |      '.COM:443/path?utm_source=x&a=1#frag'
        |    WHEN 1 THEN 'https://www.site' || (doc_id % 7)::VARCHAR ||
        |      '.com/path?a=1'
        |    WHEN 2 THEN 'http://u:p@site' || (doc_id % 7)::VARCHAR ||
        |      '.org:80/'
        |    WHEN 3 THEN 'http://site' || (doc_id % 7)::VARCHAR || '.org'
        |    WHEN 4 THEN 'https://site' || (doc_id % 7)::VARCHAR ||
        |      '.net:8443/p?gclid=99&b=2&utm_medium=m'
        |    WHEN 5 THEN 'not a url ' || (doc_id % 7)::VARCHAR
        |    WHEN 6 THEN 'https://site' || (doc_id % 7)::VARCHAR ||
        |      '.com/p/?ref=tw'
        |    ELSE 'ftp://Site' || (doc_id % 7)::VARCHAR || '.Io/Path/#f'
        |  END AS url FROM documents),
        |x AS (SELECT doc_id, url,
        |    lower(regexp_extract(url,
        |      '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1))
        |      AS hst,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]+:([0-9]+)',
        |      1) AS port,
        |    regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#]+(.*)$', 1)
        |      AS tail0
        |  FROM u),
        |t AS (SELECT doc_id, url, scheme, hst, port,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(tail0, '#.*$', '', 'g'),
        |      '[?&](utm_[a-zA-Z0-9]+|gclid|fbclid|ref)=[^&]*', '', 'g'),
        |      '^([^?&]*)&', '\1?'),
        |      '[?&]$', '') AS t4
        |  FROM x)
        |SELECT doc_id, url,
        |  CASE WHEN hst IS NULL OR hst = '' THEN url
        |    ELSE scheme || '://' || hst ||
        |      CASE WHEN port <> '' AND NOT ((scheme = 'http' AND
        |          port = '80') OR (scheme = 'https' AND port = '443'))
        |        THEN ':' || port ELSE '' END ||
        |      CASE WHEN t4 = '/' THEN '' ELSE t4 END
        |  END AS url_norm
        |FROM t ORDER BY doc_id""".stripMargin,

    // d09 cut form: the same interval frame, intervals grouped by the
    // md5 of their covered token slice, keep-first (doc, start) per
    // content, losers' tokens removed, docs reassembled in ti order
    "d09c_substring_cut" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token,
        |                unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |              FROM documents),
        |t AS (SELECT doc_id, token, pos FROM toks WHERE token <> ''),
        |ti AS MATERIALIZED (SELECT doc_id, token,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS ti
        |       FROM t),
        |g0 AS (SELECT doc_id, ti,
        |         concat_ws(' ', token, lead(token,1) OVER w, lead(token,2) OVER w,
        |           lead(token,3) OVER w, lead(token,4) OVER w, lead(token,5) OVER w,
        |           lead(token,6) OVER w, lead(token,7) OVER w) AS g,
        |         lead(token,7) OVER w AS l7
        |       FROM ti WINDOW w AS (PARTITION BY doc_id ORDER BY ti)),
        |g AS (SELECT doc_id, ti, g FROM g0 WHERE l7 IS NOT NULL),
        |d AS (SELECT g, count(*)::BIGINT AS c FROM g GROUP BY 1 HAVING count(*) >= 2),
        |dup AS (SELECT g.doc_id, g.ti FROM g JOIN d USING (g)),
        |lagd AS (SELECT doc_id, ti,
        |           CASE WHEN ti = lag(ti) OVER (PARTITION BY doc_id ORDER BY ti) + 1
        |                THEN 0 ELSE 1 END AS brk
        |         FROM dup),
        |runs AS (SELECT doc_id, ti,
        |           sum(brk) OVER (PARTITION BY doc_id ORDER BY ti
        |             ROWS UNBOUNDED PRECEDING) AS run
        |         FROM lagd),
        |spans AS MATERIALIZED (SELECT doc_id, min(ti)::BIGINT AS span_start,
        |          (max(ti) + 7)::BIGINT AS span_end
        |        FROM runs GROUP BY doc_id, run
        |        HAVING max(ti) + 7 - min(ti) + 1 >= 20),
        |sliced AS (SELECT sp.doc_id, sp.span_start, sp.span_end,
        |             md5(string_agg(ti.token, ' ' ORDER BY ti.ti)) AS cd
        |           FROM spans sp JOIN ti ON ti.doc_id = sp.doc_id
        |             AND ti.ti BETWEEN sp.span_start AND sp.span_end
        |           GROUP BY 1, 2, 3),
        |keepr AS (SELECT *, row_number() OVER (PARTITION BY cd
        |            ORDER BY doc_id, span_start) AS rk FROM sliced),
        |dropped AS MATERIALIZED (SELECT doc_id, span_start, span_end
        |           FROM keepr WHERE rk > 1),
        |nd AS (SELECT doc_id, count(*)::BIGINT AS n_dropped FROM dropped GROUP BY 1),
        |ns AS (SELECT doc_id, count(*)::BIGINT AS n_spans FROM spans GROUP BY 1),
        |clean AS (SELECT ti.doc_id,
        |            coalesce(string_agg(CASE WHEN NOT EXISTS (
        |              SELECT 1 FROM dropped dr WHERE dr.doc_id = ti.doc_id
        |                AND ti.ti BETWEEN dr.span_start AND dr.span_end)
        |              THEN ti.token END, ' ' ORDER BY ti.ti), '') AS cleaned
        |          FROM ti GROUP BY ti.doc_id)
        |SELECT c.doc_id, coalesce(ns.n_spans, 0)::BIGINT AS n_spans,
        |  coalesce(nd.n_dropped, 0)::BIGINT AS n_dropped, c.cleaned
        |FROM clean c LEFT JOIN ns ON c.doc_id = ns.doc_id
        |LEFT JOIN nd ON c.doc_id = nd.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    // URL/domain rollup (a14): the same deterministic synthetic URLs,
    // host via the shared RE2-compatible pattern (scheme, optional
    // userinfo@, host up to :port / path / query / fragment),
    // registrable domain = last two dot-labels, per-domain rollup +
    // suffix-rule blocklist flag
    // a14b: PSL-aware domain rollup — the suffix VALUES list joins at
    // each depth (2 then 1), CASE order = longest suffix wins, depth-k
    // match keeps k+1 labels (host itself when it has only k), then
    // the two-label fallback
    "a14b_domain_rollup_psl" ->
      """WITH u AS (SELECT doc_id, text,
        |    'https://' ||
        |    CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END ||
        |    'site' || (doc_id % 7)::VARCHAR || '.' ||
        |    CASE WHEN doc_id % 4 = 0 THEN 'co.uk'
        |         WHEN doc_id % 4 = 1 THEN 'com'
        |         WHEN doc_id % 4 = 2 THEN 'com.au' ELSE 'org' END ||
        |    '/p/' || doc_id::VARCHAR AS url
        |  FROM documents),
        |h0 AS (SELECT doc_id, text, lower(regexp_extract(url,
        |    '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS h
        |  FROM u),
        |hh AS (SELECT doc_id, text,
        |    CASE WHEN h = '' THEN NULL ELSE h END AS h FROM h0),
        |sfx AS (SELECT * FROM (VALUES ('co.uk'), ('com.au'), ('ac.uk'),
        |    ('uk')) s(suffix)),
        |j2 AS (SELECT hh.doc_id, hh.text, hh.h, s2.suffix AS sfx2
        |  FROM hh LEFT JOIN (SELECT suffix FROM sfx
        |    WHERE len(string_split(suffix, '.')) = 2) s2
        |  ON regexp_extract(hh.h, '((?:[^.]+\.){1}[^.]+)$', 1) = s2.suffix),
        |j1 AS (SELECT j2.doc_id, j2.text, j2.h, j2.sfx2, s1.suffix AS sfx1
        |  FROM j2 LEFT JOIN (SELECT suffix FROM sfx
        |    WHERE len(string_split(suffix, '.')) = 1) s1
        |  ON regexp_extract(j2.h, '([^.]+)$', 1) = s1.suffix),
        |dom AS (SELECT doc_id, text,
        |    CASE WHEN h IS NULL THEN NULL
        |         WHEN sfx2 IS NOT NULL THEN
        |           CASE WHEN regexp_extract(h,
        |                  '((?:[^.]+\.){2}[^.]+)$', 1) <> ''
        |                THEN regexp_extract(h,
        |                  '((?:[^.]+\.){2}[^.]+)$', 1) ELSE h END
        |         WHEN sfx1 IS NOT NULL THEN
        |           CASE WHEN regexp_extract(h,
        |                  '((?:[^.]+\.){1}[^.]+)$', 1) <> ''
        |                THEN regexp_extract(h,
        |                  '((?:[^.]+\.){1}[^.]+)$', 1) ELSE h END
        |         WHEN regexp_extract(h, '([^.]+\.[^.]+)$', 1) = '' THEN h
        |         ELSE regexp_extract(h, '([^.]+\.[^.]+)$', 1) END AS domain
        |  FROM j1),
        |r AS (SELECT domain, count(*)::BIGINT AS n_docs,
        |        sum(len(list_filter(string_split(text, ' '),
        |          t -> t <> '')))::BIGINT AS n_tokens,
        |        sum(length(text))::BIGINT AS n_chars
        |      FROM dom GROUP BY 1)
        |SELECT domain, n_docs, n_tokens, n_chars,
        |  (domain = 'site0.co.uk' OR domain LIKE '%.site0.co.uk'
        |   OR domain = 'site2.com' OR domain LIKE '%.site2.com')::INT
        |    AS blocked
        |FROM r ORDER BY domain""".stripMargin,

    "a14_domain_rollup" ->
      """WITH u AS (SELECT doc_id, text,
        |    'https://' ||
        |    CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN 'u:p@' ELSE '' END ||
        |    'site' || (doc_id % 7)::VARCHAR || '.' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'com'
        |         WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END ||
        |    '/p/' || doc_id::VARCHAR || '?q=x#f' AS url
        |  FROM documents),
        |h0 AS (SELECT doc_id, text, lower(regexp_extract(url,
        |    '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS h
        |  FROM u),
        |hh AS (SELECT doc_id, text,
        |    CASE WHEN h = '' THEN NULL ELSE h END AS h FROM h0),
        |dom AS (SELECT doc_id, text,
        |    CASE WHEN h IS NULL THEN NULL
        |         WHEN regexp_extract(h, '([^.]+\.[^.]+)$', 1) = '' THEN h
        |         ELSE regexp_extract(h, '([^.]+\.[^.]+)$', 1) END AS domain
        |  FROM hh),
        |r AS (SELECT domain, count(*)::BIGINT AS n_docs,
        |        sum(len(list_filter(string_split(text, ' '),
        |          t -> t <> '')))::BIGINT AS n_tokens,
        |        sum(length(text))::BIGINT AS n_chars
        |      FROM dom GROUP BY 1)
        |SELECT domain, n_docs, n_tokens, n_chars,
        |  (domain = 'site0.com' OR domain LIKE '%.site0.com'
        |   OR domain = 'site3.org' OR domain LIKE '%.site3.org'
        |   OR domain = 'site5.net' OR domain LIKE '%.site5.net')::INT
        |    AS blocked
        |FROM r ORDER BY domain""".stripMargin,

    // exact-N sample: 100 smallest salt-31 h64 ranks, tie-broken by id
    "a09_sample_exact_n" -> {
      val h = h64Sql("doc_id::VARCHAR", "'31'")
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source FROM documents
         |  ORDER BY $h, doc_id LIMIT 100) t
         |ORDER BY doc_id""".stripMargin
    },

    // mixture rebalancing sample: normalized target weights over three
    // sources, N = min(n/w), per-key fraction w*N/n, round(f*10000)
    // bucket cutoffs on the same salt-23 h64 buckets — the identical
    // double algebra the Scala side computes (both engines IEEE-754,
    // same operation order), so cutoffs match exactly
    "a08_mixture_sample" -> {
      val b = s"${h64Sql("doc_id::VARCHAR", "'23'")} % 10000"
      // weights normalize through the SAME double ops as the Scala side:
      // totW = (0.5+0.3+0.2) left-assoc in IEEE doubles (≈ 1 - 1ulp, NOT
      // exactly 1), w = v/totW — DuckDB literals default to DECIMAL
      // (exact sum = 1.0), so every term is forced ::DOUBLE
      """WITH t(source, w) AS (VALUES
        |  ('src0', 0.5::DOUBLE / (0.5::DOUBLE + 0.3::DOUBLE + 0.2::DOUBLE)),
        |  ('src1', 0.3::DOUBLE / (0.5::DOUBLE + 0.3::DOUBLE + 0.2::DOUBLE)),
        |  ('src2', 0.2::DOUBLE / (0.5::DOUBLE + 0.3::DOUBLE + 0.2::DOUBLE))),
        |c AS (SELECT source, count(*)::BIGINT AS n FROM documents
        |      WHERE source IN ('src0','src1','src2') GROUP BY source),
        |nout AS (SELECT min(n::DOUBLE / w) AS nout FROM c JOIN t USING (source)),
        |f AS (SELECT c.source, round(w * nout / n * 10000) AS cut
        |      FROM c JOIN t USING (source) CROSS JOIN nout)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN f ON d.source = f.source
        |WHERE BUCKET < f.cut
        |ORDER BY d.doc_id""".stripMargin
        .replace("BUCKET", b)
    },

    // weighted sample without replacement (a13): A-ES keys ln(u)/w,
    // u = (h64+1)/2^60 (exact power-of-two scaling), r12 on the key so
    // cross-libm ln ulp cannot flip a rank; top-100 by (key desc, id)
    "a13_weighted_sample" -> {
      val h = h64Sql("doc_id::VARCHAR", "'37'")
      s"""WITH t AS (SELECT doc_id, n_chars,
         |    round(ln(($h + 1)::DOUBLE / 1152921504606846976.0)
         |      / greatest(n_chars, 1)::DOUBLE, 12) AS sample_key
         |  FROM documents)
         |SELECT doc_id, n_chars, sample_key FROM t
         |ORDER BY sample_key DESC, doc_id LIMIT 100""".stripMargin
    },

    // shard shuffle (a12): shard = h64 mod 8, pos = per-shard rank on
    // (h, doc_id) — the same portable md5-derived hash as a03/a04
    "a12_shard_shuffle" -> {
      val h = h64Sql("doc_id::VARCHAR", "'31'")
      s"""WITH t AS (SELECT doc_id, $h AS h FROM documents)
         |SELECT doc_id, (h % 8)::INT AS shard,
         |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)::INT
         |    AS pos
         |FROM t ORDER BY shard, pos""".stripMargin
    },

    // curriculum ordering (a17): a12's salted shard hash + a
    // (n_tokens, doc_id) row_number per shard; global_pos strides
    "a17_curriculum_order" -> {
      val h = h64Sql("doc_id::VARCHAR", "'31'")
      s"""WITH t AS (SELECT doc_id,
         |    len(list_filter(string_split(text, ' '),
         |      x -> x <> ''))::BIGINT AS n_tokens,
         |    $h AS h FROM documents),
         |r AS (SELECT doc_id, n_tokens, (h % 8)::INT AS shard,
         |    (row_number() OVER (PARTITION BY h % 8
         |      ORDER BY n_tokens, doc_id) - 1)::INT AS pos
         |  FROM t)
         |SELECT doc_id, n_tokens, shard, pos,
         |  (pos::BIGINT * 8 + shard)::BIGINT AS global_pos
         |FROM r ORDER BY doc_id""".stripMargin
    },

    // per-collection curriculum (a17b): the a17 chain with the source
    // key in the hash input and the rank partition
    "a17b_curriculum_by" -> {
      val h = h64Sql("source || '|' || doc_id::VARCHAR", "'31'")
      s"""WITH t AS (SELECT doc_id, source,
         |    len(list_filter(string_split(text, ' '),
         |      x -> x <> ''))::BIGINT AS n_tokens,
         |    $h AS h FROM documents),
         |r AS (SELECT doc_id, source, n_tokens, (h % 8)::INT AS shard,
         |    (row_number() OVER (PARTITION BY source, h % 8
         |      ORDER BY n_tokens, doc_id) - 1)::INT AS pos
         |  FROM t)
         |SELECT doc_id, source, n_tokens, shard, pos,
         |  (pos::BIGINT * 8 + shard)::BIGINT AS global_pos
         |FROM r ORDER BY doc_id""".stripMargin
    },

    // token frequency spectrum (t22): token counts banded by integer
    // BETWEEN against power-of-two bounds (no floor(log2) libm hazard)
    "t22_token_spectrum" ->
      """WITH toks AS (SELECT unnest(string_split(text,' ')) AS token
        |              FROM documents),
        |c AS (SELECT token, count(*)::BIGINT AS c FROM toks
        |      WHERE token <> '' GROUP BY token),
        |b AS (SELECT b AS band, (1::BIGINT << b) AS lo,
        |        (1::BIGINT << (b+1)) - 1 AS hi
        |      FROM (SELECT unnest(generate_series(0, 40)) AS b))
        |SELECT b.band::INT AS band, b.lo,
        |  count(*)::BIGINT AS n_types, sum(c.c)::BIGINT AS n_tokens
        |FROM c JOIN b ON c.c >= b.lo AND c.c <= b.hi
        |GROUP BY b.band, b.lo ORDER BY band""".stripMargin,

    // temperature mixture (a11): w_k ∝ sqrt(n_k/N) — sqrt is IEEE
    // correctly-rounded on both engines, the weight denominator sums in
    // sorted-key order (ordered-list aggregate ≡ the Scala sorted fold),
    // and the cut quantizes to basis points exactly like a08
    "a11_temperature_mixture" -> {
      val b = s"${h64Sql("d.doc_id::VARCHAR", "'29'")} % 10000"
      s"""WITH c AS (SELECT source AS k, count(*)::BIGINT AS n
         |           FROM documents GROUP BY source),
         |tot AS (SELECT sum(n)::BIGINT AS nn FROM c),
         |pw AS (SELECT k, n, sqrt(n::DOUBLE / nn) AS pa
         |       FROM c CROSS JOIN tot),
         |den AS (SELECT list_aggregate(list(pa ORDER BY k), 'sum') AS d
         |        FROM pw),
         |wt AS (SELECT k, n, pa / den.d AS w FROM pw CROSS JOIN den),
         |nout AS (SELECT min(n::DOUBLE / w) AS nout FROM wt),
         |f AS (SELECT k, round(w * nout / n * 10000) AS cut
         |      FROM wt CROSS JOIN nout)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN f ON d.source = f.k
         |WHERE $b < f.cut
         |ORDER BY d.doc_id""".stripMargin
    },

    // stratified sample: per-lang bucket cutoffs (en 5000, es 2500,
    // default 10000), same h64 buckets as a03 with salt 11
    "a04_stratified_sample" -> {
      val b = s"${h64Sql("doc_id::VARCHAR", "'11'")} % 10000"
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, $b AS bucket FROM documents) t
         |WHERE bucket < CASE lang WHEN 'en' THEN 5000
         |                         WHEN 'es' THEN 2500 ELSE 10000 END
         |ORDER BY doc_id""".stripMargin
    },

    // J4: DuckDB's native ASOF LEFT JOIN is the oracle for the
    // union-align windowed implementation (AsOfJoin.asOf)
    "a01_asof_join" ->
      """WITH r AS (SELECT user_id, ts, max(value) AS rv FROM events
        |           WHERE event_id % 2 = 0 GROUP BY 1, 2),
        |     l AS (SELECT user_id, event_id, ts, value FROM events
        |           WHERE event_id % 2 = 1)
        |SELECT l.user_id, l.event_id, round(l.value, 6) AS value,
        |       round(r.rv, 6) AS asof_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.user_id, l.event_id""".stripMargin,

    // range join: DuckDB's native BETWEEN join is the oracle for the
    // bucket-quantized equi-join implementation (RangeJoin.pointInInterval)
    "a05_range_join" ->
      """WITH r AS (SELECT user_id, event_id AS r_id,
        |             value - 5.0 AS lo, value + 5.0 AS hi
        |           FROM events WHERE event_id % 50 = 0),
        |     l AS (SELECT user_id, event_id AS l_id, value AS p
        |           FROM events WHERE event_id % 50 <> 0)
        |SELECT l.user_id, l.l_id, r.r_id, round(l.p, 6) AS p,
        |       round(r.lo, 6) AS lo, round(r.hi, 6) AS hi
        |FROM l JOIN r ON l.user_id = r.user_id AND l.p BETWEEN r.lo AND r.hi
        |ORDER BY l.user_id, l.l_id, r.r_id""".stripMargin,

    // k-per-key sample: same portable h64(salt|id) ranking, ties (never
    // in practice) broken by id
    "a07_sample_per_key" -> {
      val h = h64Sql("doc_id::VARCHAR", "'13'")
      s"""WITH d AS (SELECT lang || '/' || source AS domain, doc_id, $h AS h
         |           FROM documents),
         |r AS (SELECT domain, doc_id, row_number() OVER (
         |        PARTITION BY domain ORDER BY h, doc_id) AS rk FROM d)
         |SELECT domain, doc_id FROM r WHERE rk <= 3
         |ORDER BY domain, doc_id""".stripMargin
    },

    "a15_generator_summary" ->
      """WITH m AS (SELECT user_id AS seed,
        |    'g' || (user_id % 3)::VARCHAR AS generator,
        |    stddev_pop(value)/avg(value) AS std_ratio,
        |    (max(value) - min(value))/(avg(value) + 1e-10) AS js_divergence,
        |    avg(value) AS composite_score
        |  FROM events GROUP BY user_id)
        |SELECT generator,
        |  COUNT(*) AS n_runs,
        |  ROUND(AVG(std_ratio), 3) + 0.0 AS avg_std_ratio,
        |  ROUND(AVG(js_divergence), 3) + 0.0 AS avg_js_div,
        |  ROUND(AVG(composite_score), 4) + 0.0 AS avg_score
        |FROM m GROUP BY generator
        |ORDER BY avg_js_div, generator""".stripMargin,

    // composite-score deterministic core: JS (unsquared, 99 bins), KS,
    // ratio-dev autocorrs (lags 1/5/24), |ret| vol clustering, manual
    // population skew/kurt diffs, std ratio — the even/odd user split
    // with returns lagged WITHIN each half
    "q31f_composite_core" ->
      """WITH u0 AS (SELECT (user_id % 2 = 0) AS is_real, ts, event_id,
        |              ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |                OVER (PARTITION BY (user_id % 2 = 0) ORDER BY ts, event_id) AS ret
        |            FROM events),
        |ur AS (SELECT is_real, ts, event_id, ret FROM u0 WHERE ret IS NOT NULL),
        |rng AS (SELECT min(ret) AS lo, max(ret) AS hi FROM ur),
        |cb AS (SELECT least(floor((ret - lo)/(hi - lo)*99), 98)::INT AS bucket,
        |         sum(CASE WHEN is_real THEN 1 ELSE 0 END) AS ca,
        |         sum(CASE WHEN is_real THEN 0 ELSE 1 END) AS cb_
        |       FROM ur, rng GROUP BY 1),
        |bins AS (SELECT unnest(generate_series(0,98)) AS bucket),
        |h AS (SELECT b.bucket, coalesce(ca,0)::BIGINT AS ca, coalesce(cb_,0)::BIGINT AS cb_
        |      FROM bins b LEFT JOIN cb USING (bucket)),
        |sm AS (SELECT ca::DOUBLE / sum(ca) OVER () + 1e-10 AS pa_raw,
        |         cb_::DOUBLE / sum(cb_) OVER () + 1e-10 AS pb_raw FROM h),
        |pp AS (SELECT pa_raw / sum(pa_raw) OVER () AS pa,
        |         pb_raw / sum(pb_raw) OVER () AS pb FROM sm),
        |jsv AS (SELECT sqrt(sum(pa*ln(pa/((pa+pb)/2)))*0.5
        |             + sum(pb*ln(pb/((pa+pb)/2)))*0.5) AS js FROM pp),
        |pv AS (SELECT ret AS v, sum(CASE WHEN is_real THEN 1 ELSE 0 END) AS na,
        |         sum(CASE WHEN is_real THEN 0 ELSE 1 END) AS nb FROM ur GROUP BY ret),
        |ec AS (SELECT
        |         sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
        |           / sum(na) OVER () AS fa,
        |         sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
        |           / sum(nb) OVER () AS fb
        |       FROM pv),
        |kv AS (SELECT max(abs(fa - fb)) AS ks FROM ec),
        |lg AS (SELECT is_real, ret, lag(ret,1) OVER wl AS l1, lag(ret,5) OVER wl AS l5,
        |         lag(ret,24) OVER wl AS l24
        |       FROM ur WINDOW wl AS (PARTITION BY is_real ORDER BY ts, event_id)),
        |ac0 AS (SELECT is_real, coalesce(corr(ret,l1),0.0) AS ac1,
        |          coalesce(corr(ret,l5),0.0) AS ac5, coalesce(corr(ret,l24),0.0) AS ac24,
        |          coalesce(corr(abs(ret),abs(l1)),0.0) AS vc,
        |          avg(ret) AS mean, stddev_pop(ret) AS std
        |        FROM lg GROUP BY is_real),
        |zk AS (SELECT l.is_real,
        |         avg(pow((l.ret - a.mean)/a.std, 3)) AS skew,
        |         avg(pow((l.ret - a.mean)/a.std, 4)) AS kurt_raw
        |       FROM ur l JOIN ac0 a USING (is_real) GROUP BY l.is_real),
        |fin AS (SELECT
        |    (SELECT js FROM jsv) AS js, (SELECT ks FROM kv) AS ks,
        |    r.ac1 AS rac1, s.ac1 AS sac1, r.ac5 AS rac5, s.ac5 AS sac5,
        |    r.ac24 AS rac24, s.ac24 AS sac24, r.vc AS rvc, s.vc AS svc,
        |    r.std AS rstd, s.std AS sstd,
        |    rz.skew AS rskew, sz.skew AS sskew,
        |    rz.kurt_raw AS rkurt, sz.kurt_raw AS skurt
        |  FROM ac0 r, ac0 s, zk rz, zk sz
        |  WHERE r.is_real AND NOT s.is_real AND rz.is_real AND NOT sz.is_real)
        |SELECT round(js,8) AS js_divergence, round(ks,8) AS ks_statistic,
        |  round(CASE WHEN abs(rac1) > 1e-6 THEN abs(sac1/rac1 - 1.0) ELSE abs(sac1) END, 6) AS ac_lag1,
        |  round(CASE WHEN abs(rac5) > 1e-6 THEN abs(sac5/rac5 - 1.0) ELSE abs(sac5) END, 6) AS ac_lag5,
        |  round(CASE WHEN abs(rac24) > 1e-6 THEN abs(sac24/rac24 - 1.0) ELSE abs(sac24) END, 6) AS ac_lag24,
        |  round(CASE WHEN abs(rvc) > 1e-6 THEN abs(svc/rvc - 1.0) ELSE abs(svc) END, 6) AS vol_cluster,
        |  round(abs(sskew - rskew), 6) AS skew_diff,
        |  round(abs(skurt - rkurt) / greatest(rkurt, 1.0), 6) AS kurt_diff,
        |  round(abs(sstd/rstd - 1.0), 6) AS std_ratio
        |FROM fin""".stripMargin,

    // per-user grouped-agg R/S Hurst (the q16 pipeline partitioned on
    // user_id, with the per-series lag cap min(100, n/4))
    "q16b_hurst_per_user" ->
      """WITH x AS (SELECT user_id, value AS x,
        |             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn,
        |             count(*) OVER (PARTITION BY user_id) AS n
        |           FROM events),
        |wl AS (SELECT x.user_id, x.x, x.rn, l.lag, floor(x.rn / l.lag) AS seg
        |       FROM x, (SELECT unnest(generate_series(2,100)) AS lag) l
        |       WHERE l.lag <= x.n // 4),
        |cm1 AS (SELECT user_id, lag, seg, rn, x,
        |          avg(x) OVER (PARTITION BY user_id, lag, seg) AS m FROM wl),
        |cm2 AS (SELECT user_id, lag, seg, x,
        |          sum(x - m) OVER (PARTITION BY user_id, lag, seg ORDER BY rn
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumdev
        |        FROM cm1),
        |ps AS (SELECT user_id, lag, seg, count(*)::BIGINT AS cnt,
        |         max(cumdev) - min(cumdev) AS r, stddev_pop(x) AS s
        |       FROM cm2 GROUP BY user_id, lag, seg),
        |pl AS (SELECT user_id, lag, avg(r/s) AS rs_mean FROM ps
        |       WHERE cnt = lag AND s > 1e-12 GROUP BY user_id, lag),
        |sl AS (SELECT user_id,
        |         regr_slope(ln(rs_mean), ln(lag::DOUBLE)) AS slope,
        |         count(*)::BIGINT AS n_lags
        |       FROM pl WHERE rs_mean > 0 GROUP BY user_id)
        |SELECT user_id, round(coalesce(least(greatest(slope, 0.0), 1.0), 0.5), 4) AS hurst,
        |  n_lags
        |FROM sl ORDER BY user_id""".stripMargin,

    // DistributionEvaluator deterministic core: JS²-"kl" over 100 shared
    // bins, ECDF wasserstein, per-label moments and autocorr (lags
    // 1/5/10), quality = kl + 0.1*wass + |Δstd| — the label is the
    // even/odd user_id % 2 split and returns lag WITHIN each half
    // (global spec)
    "q30f_dist_core" ->
      """WITH u0 AS (SELECT (user_id % 2 = 0) AS is_real, ts, event_id,
        |              ln(greatest(value,1e-10)) - lag(ln(greatest(value,1e-10)))
        |                OVER (PARTITION BY (user_id % 2 = 0) ORDER BY ts, event_id) AS ret
        |            FROM events),
        |ur AS (SELECT is_real, ts, event_id, ret FROM u0 WHERE ret IS NOT NULL),
        |rng AS (SELECT min(ret) AS lo, max(ret) AS hi FROM ur),
        |cb AS (SELECT least(floor((ret - lo)/(hi - lo)*100), 99)::INT AS bucket,
        |         sum(CASE WHEN is_real THEN 1 ELSE 0 END) AS ca,
        |         sum(CASE WHEN is_real THEN 0 ELSE 1 END) AS cb_
        |       FROM ur, rng GROUP BY 1),
        |bins AS (SELECT unnest(generate_series(0,99)) AS bucket),
        |h AS (SELECT b.bucket, coalesce(ca,0)::BIGINT AS ca, coalesce(cb_,0)::BIGINT AS cb_
        |      FROM bins b LEFT JOIN cb USING (bucket)),
        |sm AS (SELECT ca::DOUBLE / sum(ca) OVER () + 1e-10 AS pa_raw,
        |         cb_::DOUBLE / sum(cb_) OVER () + 1e-10 AS pb_raw FROM h),
        |pp AS (SELECT pa_raw / sum(pa_raw) OVER () AS pa,
        |         pb_raw / sum(pb_raw) OVER () AS pb FROM sm),
        |klv AS (SELECT sum(pa*ln(pa/((pa+pb)/2)))*0.5
        |             + sum(pb*ln(pb/((pa+pb)/2)))*0.5 AS kl FROM pp),
        |pv AS (SELECT ret AS v, sum(CASE WHEN is_real THEN 1 ELSE 0 END) AS na,
        |         sum(CASE WHEN is_real THEN 0 ELSE 1 END) AS nb FROM ur GROUP BY ret),
        |ec AS (SELECT v,
        |         sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
        |           / sum(na) OVER () AS fa,
        |         sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE
        |           / sum(nb) OVER () AS fb,
        |         lead(v) OVER (ORDER BY v) - v AS dx FROM pv),
        |wv AS (SELECT sum(CASE WHEN dx IS NOT NULL THEN abs(fa - fb)*dx ELSE 0.0 END) AS wass
        |       FROM ec),
        |mo AS (SELECT max(CASE WHEN is_real THEN mean END) AS rm,
        |              max(CASE WHEN NOT is_real THEN mean END) AS sme,
        |              max(CASE WHEN is_real THEN std END) AS rs,
        |              max(CASE WHEN NOT is_real THEN std END) AS ss
        |       FROM (SELECT is_real, avg(ret) AS mean, stddev_pop(ret) AS std
        |             FROM ur GROUP BY is_real) x),
        |lg AS (SELECT is_real, ret, lag(ret,1) OVER wl AS l1, lag(ret,5) OVER wl AS l5,
        |         lag(ret,10) OVER wl AS l10
        |       FROM ur WINDOW wl AS (PARTITION BY is_real ORDER BY ts, event_id)),
        |ac0 AS (SELECT is_real, coalesce(corr(ret,l1),0.0) AS ac1,
        |          coalesce(corr(ret,l5),0.0) AS ac5, coalesce(corr(ret,l10),0.0) AS ac10
        |        FROM lg GROUP BY is_real),
        |ac AS (SELECT max(CASE WHEN is_real THEN ac1 END) AS rac1,
        |              max(CASE WHEN NOT is_real THEN ac1 END) AS sac1,
        |              max(CASE WHEN is_real THEN ac5 END) AS rac5,
        |              max(CASE WHEN NOT is_real THEN ac5 END) AS sac5,
        |              max(CASE WHEN is_real THEN ac10 END) AS rac10,
        |              max(CASE WHEN NOT is_real THEN ac10 END) AS sac10
        |       FROM ac0)
        |SELECT round(kl,8) AS kl_divergence, round(wass,6) AS wasserstein_distance,
        |  round(rm,8) AS real_return_mean, round(sme,8) AS synthetic_return_mean,
        |  round(rs,8) AS real_return_std, round(ss,8) AS synthetic_return_std,
        |  round(rac1,6) AS real_autocorr_lag1, round(sac1,6) AS synthetic_autocorr_lag1,
        |  round(rac5,6) AS real_autocorr_lag5, round(sac5,6) AS synthetic_autocorr_lag5,
        |  round(rac10,6) AS real_autocorr_lag10, round(sac10,6) AS synthetic_autocorr_lag10,
        |  round(kl + 0.1*wass + abs(rs - ss), 6) AS quality_score
        |FROM klv, wv, mo, ac""".stripMargin
  )
}
