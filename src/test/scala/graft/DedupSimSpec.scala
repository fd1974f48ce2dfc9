package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.Similarity
import graft.text.{Dedup, TextOps}

class DedupSimSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import scala.jdk.CollectionConverters._

  private def docsDf = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),   // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
      (4L, "completely different words about spark catalyst optimizer and shuffle partitions here"),
      (5L, "unrelated text regarding minhash signatures lsh banding and jaccard similarity estimation")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val g = Dedup.exactGroups(docsDf, "doc_id", "text")
      .filter(col("n_copies") > 1).collect()
    assert(g.length === 1)
    assert(g(0).getAs[Long]("keeper") === 1L)
    assert(g(0).getAs[Long]("n_copies") === 2L)
    assert(Dedup.dropExactDuplicates(docsDf, "doc_id", "text").count() === 4)
  }

  test("d09 substring spans: a boundary-straddling duplicated passage " +
       "that spanDedup AND fuzzySpanDedup both miss is recovered exactly") {
    val s = spark
    import s.implicits._
    // a 24-token passage P at offset 5 in doc 1 and offset 11 in doc 2:
    // the 12-token blocks of d05/d06 are misaligned by 6 tokens, so no
    // block pair shares more than half its tokens — both block-level
    // ops are blind, while the duplicated-8-gram run recovers P at its
    // exact boundaries in each host
    val p = (1 to 24).map(i => s"p$i").mkString(" ")
    val d = Seq(
      (1L, "fa1 fa2 fa3 fa4 fa5 " + p + " fa6 fa7 fa8 fa9 fa10 fa11"),
      (2L, "fb1 fb2 fb3 fb4 fb5 fb6 fb7 fb8 fb9 fb10 fb11 " + p +
        " fb12 fb13 fb14"),
      (3L, (1 to 30).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(d, "doc_id", "text",
        k = 8, minSpanTokens = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(x => (x._1, x._2))
    assert(spans.toSeq === Seq(
      (1L, 5L, 28L, 24L, 2L),
      (2L, 11L, 34L, 24L, 2L)))
    // the block ops miss it: nothing dropped anywhere
    val d05 = Dedup.spanDedup(d, "doc_id", "text", blockTokens = 12)
      .agg(sum("n_dropped")).collect()(0).getLong(0)
    assert(d05 === 0L, "d05 should be blind to the misaligned copy")
    val d06 = Dedup.fuzzySpanDedup(d, "doc_id", "text")
      .agg(sum("n_dropped")).collect()(0).getLong(0)
    assert(d06 === 0L, "d06 should be blind to the misaligned copy")
  }

  test("d09f gap-bridged spans: a one-token edit inside a duplicated " +
       "passage splits the strict runs below threshold; bridging gaps " +
       "of k re-merges them into one interval") {
    val s = spark
    import s.implicits._
    // 30-token passage P; host 2 carries it with token 16 (p16 -> XX)
    // edited. Strict: the edit kills the 8 gram starts covering it,
    // leaving runs of 15 and 14 tokens — both under the 20 threshold.
    val p = (1 to 30).map(i => s"p$i").mkString(" ")
    val pEdited = (1 to 30).map(i => if (i == 16) "XX" else s"p$i")
      .mkString(" ")
    val d = Seq(
      (1L, "fa1 fa2 " + p + " fa3"),
      (2L, "fb1 fb2 fb3 " + pEdited + " fb4"),
      (3L, (1 to 30).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val strict = Dedup.substringSpans(d, "doc_id", "text",
      k = 8, minSpanTokens = 20).collect()
    assert(!strict.exists(_.getLong(0) == 2L),
      "strict d09 must lose the edited copy to the split")
    val fuzzy = Dedup.substringSpans(d, "doc_id", "text",
        k = 8, minSpanTokens = 20, bridgeGap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(x => (x._1, x._2))
    // host 1: intact P at ti=2..31; host 2: bridged interval over the
    // edit at ti=3..32
    assert(fuzzy.toSeq === Seq((1L, 2L, 31L, 30L), (2L, 3L, 32L, 30L)))
  }

  test("t23 substring contamination: a benchmark passage leaked into a " +
       "train doc is located at its exact boundaries; clean docs and " +
       "sub-threshold overlaps emit nothing") {
    val s = spark
    import s.implicits._
    val p = (1 to 24).map(i => s"p$i").mkString(" ")
    val train = Seq(
      (1L, "ta1 ta2 ta3 " + p + " ta4 ta5"),         // leaked at ti=3..26
      (2L, (1 to 30).map(i => s"tb$i").mkString(" ")), // clean
      // shares only 10 tokens of P (< 20-token threshold after k=8
      // gram coverage: grams fully inside p1..p10 → run 3 grams →
      // 10-token interval < 20)
      (3L, "tc1 tc2 " + (1 to 10).map(i => s"p$i").mkString(" ") + " tc3"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "bz1 bz2 " + p + " bz3")).toDF("doc_id", "text")
    val got = graft.text.Dedup.substringContamination(train, bench,
        "doc_id", "text", k = 8, minSpanTokens = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq((1L, 3L, 26L, 24L, 1L)))
  }

  test("d09 cut: keep-first per duplicated content, losers' tokens " +
       "removed; within-doc repeats count as duplicated") {
    val s = spark
    import s.implicits._
    val p = (1 to 24).map(i => s"p$i").mkString(" ")
    val d = Seq(
      (1L, "fa1 fa2 fa3 fa4 fa5 " + p + " fa6"),
      (2L, "fb1 fb2 fb3 " + p + " fb4"),
      // doc 3 repeats its own 24-token block twice — within-doc
      // duplication is memorization surface and counts (occurrences,
      // not distinct docs)
      (3L, {
        val q = (1 to 24).map(i => s"q$i").mkString(" ")
        "fc1 " + q + " fc2 " + q + " fc3"
      })
    ).toDF("doc_id", "text")
    val cut = Dedup.substringDedupCut(d, "doc_id", "text",
        k = 8, minSpanTokens = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 hosts the keeper occurrence of P — untouched
    assert(cut(1L)._1 === 1L && cut(1L)._2 === 0L)
    assert(cut(1L)._3 === "fa1 fa2 fa3 fa4 fa5 " + p + " fa6")
    // doc 2's copy of P is cut
    assert(cut(2L) === ((1L, 1L, "fb1 fb2 fb3 fb4")))
    // doc 3: q..q is ONE maximal duplicated interval (the gap between
    // the copies is itself covered by duplicated grams? no — fc2 breaks
    // the run only if its grams are unique; grams straddling fc2 occur
    // once, so two intervals result), second occurrence cut
    val (n3, drop3, clean3) = cut(3L)
    assert(n3 === 2L && drop3 === 1L)
    val q = (1 to 24).map(i => s"q$i").mkString(" ")
    assert(clean3 === "fc1 " + q + " fc2 fc3")
  }

  test("pageRank: checkpointing cadence changes nothing numerically; " +
       "L1 tol stops a converged chain early with the same ranks") {
    val s = spark
    import s.implicits._
    // star + chain + triangle: asymmetric enough that ranks differ
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 6L),
      (6L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    def ranks(ckEvery: Int, iters: Int = 12, tol: Double = 0.0) =
      Dedup.pageRank(pairs, iters = iters, checkpointEvery = ckEvery,
          tol = tol)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val every = ranks(ckEvery = 1)
    val never = ranks(ckEvery = 1000)
    assert(every === never,
      "per-iteration checkpointing must be numerically invisible " +
        "(every update is r6-rounded)")
    // r6-rounded power iteration reaches an exact fixpoint; tol stops
    // there with identical ranks to running the full budget
    val tolStopped = ranks(ckEvery = 5, iters = 100, tol = 1e-9)
    val fullBudget = ranks(ckEvery = 5, iters = 100)
    assert(tolStopped === fullBudget,
      "early convergence stop must land on the same fixpoint")
    // sanity: the hub outranks its satellites
    assert(every(1L) > every(2L) && every(4L) > every(2L))
  }

  test("n-gram jaccard finds exact and near dups, not unrelated") {
    val pairs = Dedup.jaccardPairs(docsDf, "doc_id", "text", k = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)))
    val exact = pairs.find(p => (p._1, p._2) == ((1L, 2L))).get
    assert(exact._3 === 1.0)
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L)))
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("d10 prefix join: equals the brute-force pair set on the fixture " +
       "and on 8 seeded random corpora (losslessness property)") {
    val s = spark
    import s.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame, k: Int, th: Double) = {
      val pj = Dedup.prefixJaccardJoin(df, "doc_id", "text", k, th)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val bf = Dedup.jaccardPairs(df, "doc_id", "text", k,
          threshold = th, maxDf = Int.MaxValue)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      (pj, bf)
    }
    val (p0, b0) = pairs(docsDf, 5, 0.5)
    assert(p0 === b0)
    assert(p0.nonEmpty) // the fixture's dup/near-dup pairs survive
    val rnd = new scala.util.Random(1234)
    val vocab = ('a' to 'j').map(_.toString)
    (1 to 8).foreach { trial =>
      val th = Seq(0.3, 0.5, 0.6, 0.8)(trial % 4)
      val docs = (1L to 30L).map { i =>
        val n = 6 + rnd.nextInt(20)
        (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val (pj, bf) = pairs(docs, 2, th)
      assert(pj === bf, s"trial $trial th=$th: prefix join lost pairs")
    }
  }

  test("minhash LSH: exact dup has estimated jaccard 1.0; candidates cover true near-dups") {
    val pairs = Dedup.minhashLshPairs(docsDf, "doc_id", "text", k = 3,
        numPerm = 64, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.get((1L, 2L)).contains(1.0))
    assert(m.contains((1L, 3L)), "LSH must catch the 1-token near-dup")
  }

  test("pair paths run with auto-broadcast disabled (threshold -1)") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    def run() = (
      Dedup.minhashLshPairs(docsDf, "doc_id", "text", k = 3, numPerm = 64,
        bands = 16, threshold = 0.3).collect().map(_.toSeq).toSet,
      Dedup.fuzzyContamination(docsDf, docsDf.filter(col("doc_id") <= 3),
        "doc_id", "text", k = 3).collect().map(_.toSeq).toSet,
      Similarity.lshNearDupPairs(emb, "vec_id", "embedding", threshold = 0.3,
        nPlanes = 4, bands = 8, seed = 42L).collect().map(_.toSeq).toSet)
    val disabled = SparkSpec.withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(run())
    assert(disabled._1.nonEmpty && disabled._2.nonEmpty && disabled._3.nonEmpty)
    assert(disabled === run()) // the join strategy never changes the rows
  }

  test("simhash: identical docs at hamming 0; near-dup within small distance") {
    val pairs = Dedup.simhashPairs(docsDf, "doc_id", "text", maxHamming = 12)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0))
  }

  test("triangleCounts: K4-plus-pendant hand graph; star has none; " +
       "degree orientation matches a brute-force sweep on a hashed graph") {
    val s = spark
    import s.implicits._
    def tri(edges: Seq[(String, String)]) =
      graft.text.Dedup.triangleCounts(edges.toDF("id_a", "id_b"),
        "id_a", "id_b").collect()
        .map(r => r.getAs[String]("node") ->
          (r.getAs[Long]("degree"), r.getAs[Long]("n_triangles"),
            Option(r.getAs[java.lang.Double]("clustering")))).toMap
    // K4 on a..d (every node in 3 triangles, clustering 1.0) plus a
    // pendant e-a (deg(a) -> 4, its clustering 3/C(4,2) = 0.5)
    val k4 = Seq("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c",
      "b" -> "d", "c" -> "d", "e" -> "a")
    val got = tri(k4)
    assert(got("a") === ((4L, 3L, Some(0.5: java.lang.Double))))
    assert(got("b") === ((3L, 3L, Some(1.0: java.lang.Double))))
    assert(got("e")._1 === 1L && got("e")._2 === 0L && got("e")._3.isEmpty)
    // star: hub of degree 6, zero triangles everywhere
    val star = (1 to 6).map(i => "hub" -> s"leaf$i")
    assert(tri(star).values.forall(_._2 === 0L))
    // deterministic pseudo-random graph vs an O(n^3) brute force
    val nodes = (0 until 24).map(i => f"n$i%02d")
    val edges = for {
      i <- 0 until 24; j <- i + 1 until 24
      if (i * 31 + j * 17 + i * j) % 5 == 0
    } yield nodes(i) -> nodes(j)
    val eset = edges.toSet
    def adj(x: String, y: String) =
      eset.contains(x -> y) || eset.contains(y -> x)
    val want = nodes.map { v =>
      val nb = nodes.filter(u => u != v && adj(u, v))
      v -> nb.combinations(2).count { case Seq(x, y) => adj(x, y) }
    }.filter(_._2 > 0).toMap
    val g2 = tri(edges)
    assert(want.nonEmpty, "fixture must contain triangles")
    for ((v, t) <- want)
      assert(g2(v)._2 === t.toLong, s"triangle count mismatch at $v")
    assert(g2.filter(_._2._2 > 0).keySet === want.keySet)
  }

  test("DotProduct expression matches the interpreted zip_with fold bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5L)
    val rows = Seq.fill(50)((
      Seq.fill(64)(rnd.nextFloat()), Seq.fill(64)(rnd.nextDouble())))
    val df = rows.toDF("a", "b")
    val legacy = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val diff = df.select(
      graft.functions.DotProduct(col("a"), col("b")).as("fast"),
      legacy.as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diff === 0L) // identical fold order => identical doubles
    // null array => null result (both sides)
    val withNull = Seq((Option.empty[Seq[Float]], Option(Seq(1.0, 2.0))))
      .toDF("a", "b")
    assert(withNull.select(graft.functions.DotProduct(col("a"), col("b")))
      .first().isNullAt(0))
  }

  test("DotProduct compiles and nulls correctly on nullable-element arrays " +
       "(pinned: no interpreted fallback)") {
    SparkSpec.withConf("spark.sql.codegen.fallback" -> "false") {
      val s = spark
      import s.implicits._
      // array(col, col) of nullable doubles is the hazardous shape: the
      // ARRAY is non-nullable while its ELEMENTS are nullable
      // (containsNull=true). Pre-fix, DotProduct declared itself
      // non-nullable here, ev.isNull constant-folded to `false`, and the
      // emitted `ev.isNull = true` write failed janino compilation —
      // a silent whole-stage fallback on the exact-rerank hot path.
      val df = Seq(
        (1L, Option(1.0), Option(2.0), 3.0, 4.0),
        (2L, Option(5.0), Option.empty[Double], 6.0, 7.0),
        (3L, Option.empty[Double], Option(8.0), 9.0, 10.0))
        .toDF("id", "x", "y", "p", "q")
        .select(col("id"), array(col("x"), col("y")).as("a"),
                array(col("p"), col("q")).as("b"))
      val dot = graft.functions.DotProduct(col("a"), col("b"))
      val rows = df.select(col("id"), dot.as("d")).orderBy("id").collect()
      assert(rows(0).getDouble(1) === 1.0 * 3.0 + 2.0 * 4.0)
      assert(rows(1).isNullAt(1), "null element must null the dot")
      assert(rows(2).isNullAt(1), "null element must null the dot")
      // and inside a join stage (the bhj_isNull_* failure shape)
      val qdf = Seq((1L, Seq(1.0, 1.0))).toDF("qid", "qv")
      val joined = df.join(broadcast(qdf))
        .select(col("id"), col("qid"),
          graft.functions.DotProduct(col("a"), col("qv")).as("d"))
        .orderBy("id").collect()
      assert(joined(0).getDouble(2) === 3.0)
      assert(joined(1).isNullAt(2) && joined(2).isNullAt(2))
    }
  }

  test("AdcSum compiles and nulls correctly on nullable-element arrays " +
       "(pinned: no interpreted fallback)") {
    SparkSpec.withConf("spark.sql.codegen.fallback" -> "false") {
      val s = spark
      import s.implicits._
      // same hazardous shape as the DotProduct pin: non-nullable arrays
      // with nullable elements, e.g. an index round-trip that lost
      // containsNull=false. ks=2, m=2 -> lut length 4.
      val df = Seq(
        (1L, Option(0), Option(1), Option(1.0), Option(2.0), Option(3.0), Option(4.0)),
        (2L, Option(1), Option.empty[Int], Option(1.0), Option(2.0), Option(3.0), Option(4.0)),
        (3L, Option(0), Option(0), Option.empty[Double], Option(2.0), Option(3.0), Option(4.0)))
        .toDF("id", "c0", "c1", "l0", "l1", "l2", "l3")
        .select(col("id"),
          array(col("l0"), col("l1"), col("l2"), col("l3")).as("lut"),
          array(col("c0"), col("c1")).as("codes"))
      val rows = df.select(col("id"),
        graft.functions.AdcSum(col("lut"), col("codes"), ks = 2).as("s"))
        .orderBy("id").collect()
      assert(rows(0).getDouble(1) === 1.0 + 4.0) // lut[0] + lut[2+1]
      assert(rows(1).isNullAt(1), "null code must null the sum")
      assert(rows(2).isNullAt(1), "null lut entry must null the sum")
    }
  }

  test("SignBuckets and H64 compile on nullable-element / nullable inputs " +
       "(pinned: no interpreted fallback)") {
    SparkSpec.withConf("spark.sql.codegen.fallback" -> "false") {
      val s = spark
      import s.implicits._
      val planes = Array(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
      val df = Seq(
        (1L, Option(1.0), Option(-2.0)),
        (2L, Option.empty[Double], Option(3.0)))
        .toDF("id", "x", "y")
        .select(col("id"), array(col("x"), col("y")).as("v"))
      val rows = df.select(col("id"),
        graft.functions.SignBuckets(col("v"), planes).as("b"))
        .orderBy("id").collect()
      // row 1: dot plane0 = 1 >= 0 (bit 0), dot plane1 = -2 < 0
      assert(rows(0).getSeq[Long](1) === Seq(1L))
      // null element: that plane's bit stays unset (when->otherwise(0)),
      // result array itself non-null — SignBuckets' documented contract
      assert(rows(1).getSeq[Long](1) === Seq(0L))
      // H64 stays whole-stage (RuntimeReplaceable -> built-ins) and
      // matches the Column-API h64 on the same input (the SQL-surface
      // registration itself is covered in RangeJoinSketchSpec)
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val hs = Seq("alpha", "beta", "gamma").toDF("str")
      val h64Expr = ColumnBridge.column(new graft.functions.H64(
        ColumnBridge.expression(lit("7")),
        ColumnBridge.expression(col("str"))))
      val viaExpr = hs.select(col("str"), h64Expr.as("h"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val viaCol = hs.select(col("str"),
        graft.text.Dedup.h64(col("str"), 7).as("h"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaExpr === viaCol)
    }
  }

  test("cosine: self-similarity 1, orthogonal 0") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("ab"),
      Similarity.cosine(col("a"), col("c")).as("ac")).first()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("brute-force top-k agrees with LSH pairs on sf0.001 embeddings") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val brute = Similarity.blockedNearDupPairs(emb, "vec_id", "embedding",
      "label", threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.3, nPlanes = 4, bands = 8, seed = 42L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH finds a (possibly cross-label) subset of true >=0.3 pairs;
    // sanity: it returns something and every returned pair is >= threshold
    assert(lsh.nonEmpty)
    val verify = Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.3, nPlanes = 4, bands = 8, seed = 42L)
      .agg(min(col("cosine"))).first().getDouble(0)
    assert(verify >= 0.3)
  }

  test("jaccardPairs maxDfFraction equals the equivalent absolute cap") {
    val docs = graft.core.Tables.documents(spark, SparkSpec.sfDir)
    val n = docs.count().toDouble
    val byCap = Dedup.jaccardPairs(docs, "doc_id", "text", k = 5,
      threshold = 0.5, maxDf = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val byFrac = Dedup.jaccardPairs(docs, "doc_id", "text", k = 5,
      threshold = 0.5, maxDf = 0, maxDfFraction = Some(1000.0 / n)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byFrac === byCap)
  }

  test("repetition score and contamination: known-gram arithmetic") {
    val s = spark
    import s.implicits._
    // "a b a b a" → 3-grams: "a b a", "b a b", "a b a" → 3 total, 2 distinct
    val d = Seq((1L, "a b a b a"), (2L, "x y z w")).toDF("doc_id", "text")
    val rep = graft.text.TextOps.repetitionScore(d, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rep(1L) === ((3L, 2L, 0.333333)))
    assert(rep(2L) === ((2L, 2L, 0.0)))
    // doc 3 shares its full 3-gram set with doc 1 (train/bench split)
    val tr = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val be = Seq((3L, "a b a b")).toDF("doc_id", "text")
    val cont = graft.text.TextOps.contamination(tr, be, "doc_id", "text",
        k = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cont.toSeq === Seq((1L, 3L, 2L))) // shares "a b a" and "b a b"
  }

  test("connected components: chains merge, singletons keep, min id is canonical") {
    val s = spark
    import s.implicits._
    // components: {1,2,3,4} via a chain, {10,11}, and 20-20 self-pair
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("id_a", "id_b")
    val cc = graft.text.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connected components: long chain converges in O(log n) rounds (pointer jumping)") {
    // a path graph is the adversarial shape: plain neighbor-min needs
    // ~length rounds (and the pre-localCheckpoint loop nested its plan
    // per round until Catalyst OOM'd the driver — hit by d04 at sf0.1).
    // With pointer jumping + lineage truncation, a 200-node chain must
    // converge inside the DEFAULT 20-round cap, in seconds.
    val s = spark
    import s.implicits._
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // driverEdgeLimit = 0 FORCES the distributed rounds: this spec
    // guards the pointer-jumping path, which the small-graph driver
    // fast path would otherwise bypass
    val cc = graft.text.Dedup.connectedComponents(chain,
        driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length === 200 && cc.forall(_._2 == 0L),
      "every chain node must resolve to the min label 0")
    // the driver fast path agrees with the distributed fixpoint exactly
    val fast = graft.text.Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(fast.sortBy(_._1).sameElements(cc.sortBy(_._1)))
    // struct-id graphs (the d06 span shape): driver fast path agrees
    // with the distributed struct-min fixpoint too
    import org.apache.spark.sql.functions.{struct, lit, col}
    val spairs = chain.select(
      struct(col("id_a").as("d"), lit(0).as("b")).as("id_a"),
      struct(col("id_b").as("d"), lit(0).as("b")).as("id_b"))
    def norm(df: org.apache.spark.sql.DataFrame) = df.selectExpr(
      "id.d AS i", "cluster.d AS c").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val sDist = norm(graft.text.Dedup.connectedComponents(spairs,
      castLong = false, driverEdgeLimit = 0))
    val sFast = norm(graft.text.Dedup.connectedComponents(spairs,
      castLong = false))
    assert(sFast === sDist)
    assert(sFast.forall(_._2 == 0L))
  }

  test("PQ ANN: ADC shortlist + exact rerank recovers brute-force top-k (s03 contract)") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val brute = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(cb: Array[Array[Array[Double]]], overfetch: Int): Double = {
      val pq = Similarity.pqTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", cb, k = 10, overfetch = overfetch).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pq.nonEmpty && pq.size <= 50)
      pq.intersect(brute).size.toDouble / brute.size
    }
    // the pinned s03 operating point (tools/SweepAnn sweep): measured
    // 0.92 at sf0.01 / 0.90 at sf0.001 — the 16k-deep exact rerank is
    // corpus-size-INDEPENDENT (160 exact dots per query at any scale)
    val recall = recallOf(graft.sim.PqCodebook.M8K16, 16)
    info(f"PQ recall@10 (m=8, k*=16, overfetch 16): $recall%.2f")
    assert(recall >= 0.8, s"PQ recall below the pinned floor: $recall")
    // the swept alternative: the finer M8K64 quantizer reaches the same
    // floor at HALF the shortlist depth (better ADC fidelity, measured
    // 1.00/0.84 at overfetch=8) but ~3x the codegen'd encode cost —
    // kept as the documented trade if rerank depth ever binds at scale
    val recall64 = recallOf(graft.sim.PqCodebook.M8K64, 8)
    info(f"PQ recall@10 (m=8, k*=64, overfetch 8): $recall64%.2f")
    assert(recall64 >= 0.8, s"M8K64 PQ recall below floor: $recall64")
    // codes must use the codebook's range, or ADC degenerates
    val distinctCodes = emb.select(
        Similarity.pqEncode(col("embedding"), graft.sim.PqCodebook.M8K16).as("c"))
      .select(explode(col("c"))).distinct().count()
    assert(distinctCodes >= 8, s"only $distinctCodes distinct code values")
  }

  test("IVF-PQ ANN: composed pruning+ADC still overlaps brute force (s04 contract)") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val ivfpq = Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", graft.sim.IvfCodebook.K16,
      graft.sim.PqCodebook.M8K16, nProbe = 10, k = 10, overfetch = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfpq.nonEmpty && ivfpq.size <= 50)
    val recall = ivfpq.intersect(brute).size.toDouble / brute.size
    info(f"IVF-PQ recall@10 (nProbe=10, overfetch=16): $recall%.2f")
    // the pinned production operating point (tools/SweepAnn sweep):
    // measured 0.88 at sf0.001 / 0.86 at sf0.01, wall flat vs the old
    // nProbe=4/overfetch=4 point (which sat at 0.44-0.48)
    assert(recall >= 0.8, s"IVF-PQ recall below the pinned floor: $recall")
    // every result must also be an IVF candidate: containment in the
    // plain IVF result's probed lists
    val ivf = Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", graft.sim.IvfCodebook.K16, nProbe = 10, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfpq.subsetOf(ivf), "IVF-PQ returned a non-probed candidate")
  }

  test("d08 semantic dedup: planted token-overlap near-dups cluster " +
       "via hashed embeddings, no pretrained vectors, no cartesian") {
    val s = spark
    import s.implicits._
    val base = (1 to 60).map(i => s"w$i")
    val docs = Seq(
      (1L, base.mkString(" ")),
      // ~93% token overlap with doc 1 but different k-gram surface
      // after the edit point — the SEMANTIC (bag-of-words) dup that
      // shingle dedup (d03) can miss
      (2L, (base.take(56) ++ Seq("q1", "q2", "q3", "q4")).mkString(" ")),
      (3L, (200 to 260).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val vecs = TextOps.hashEmbedVectors(docs, "doc_id", "text")
      .withColumn("_blk", org.apache.spark.sql.functions.lit(0))
    val pairs = graft.sim.Similarity.bandedNearDupPairs(vecs, "doc_id",
      "embedding", "_blk", threshold = 0.9,
      planes = graft.sim.Similarity.bandPlanes(64, 3, 4, 11L))
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"overlap dup must pair: $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not pair: $got")
    val p = SparkEntry.queries("d08_semantic_dedup")(spark, SparkSpec.sfDir)
    assert(p.collect().nonEmpty)
    val plan = p.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      plan.linesIterator.take(12).mkString("\n"))
  }

  test("d07 dedupKeepBest: election is by score not id; singletons " +
       "keep themselves") {
    val s = spark
    import s.implicits._
    val docs = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    // doc 3 has the best score — keep-first would have elected doc 1
    val q = Seq((1L, 0.2), (2L, 0.5), (3L, 0.9), (9L, 0.1)).toDF("doc_id", "q")
    val out = graft.text.Dedup.dedupKeepBest(docs, "doc_id", pairs, q)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(3))).toMap
    assert(out(1L) === ((1L, 0)) && out(2L) === ((1L, 0)),
      s"cluster losers: $out")
    assert(out(3L) === ((1L, 1)), s"best-score doc must win: $out")
    assert(out(9L) === ((9L, 1)), s"singleton keeps itself: $out")
    // tie on score → min id wins
    val qt = Seq((1L, 0.5), (2L, 0.5), (3L, 0.5), (9L, 0.1)).toDF("doc_id", "q")
    val tied = graft.text.Dedup.dedupKeepBest(docs, "doc_id", pairs, qt)
      .filter($"kept" === 1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tied === Set(1L, 9L), tied.toString)
  }

  test("indexed IVF-PQ: identical output to s04, scan pruned to the " +
       "probed partitions (s05 contract)") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_idx_spec").toString
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
      graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16, idxPath)
    // the index layout is one directory per inverted list
    val parts = new java.io.File(idxPath).listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName).toSet
    assert(parts.nonEmpty && parts.size <= 16, parts.toString)
    val indexed = Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") < 5),
      idxPath, "vec_id", "embedding", graft.sim.IvfCodebook.K16,
      graft.sim.PqCodebook.M8K16, nProbe = 10, k = 10, overfetch = 16)
    val direct = Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", graft.sim.IvfCodebook.K16,
      graft.sim.PqCodebook.M8K16, nProbe = 10, k = 10, overfetch = 16)
    // indexing changes I/O, never values
    assert(indexed.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet ===
      direct.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet)
    // the probed-list union is a STATIC partition filter: with 5
    // queries × nProbe=10 of 16 lists the union is almost always a
    // strict subset, and the filter must reach the file index
    val p = Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") < 5),
        idxPath, "vec_id", "embedding", graft.sim.IvfCodebook.K16,
        graft.sim.PqCodebook.M8K16, nProbe = 2, k = 10, overfetch = 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [cid#") ||
      p.contains("PartitionFilters: [isnotnull(cid#") ||
      (p.contains("PartitionFilters") && p.contains("cid")),
      s"probed lists must prune at the file level:\n${p.take(4000)}")
  }

  test("indexed IVF-PQ: incremental append serves identically to a " +
       "full rebuild") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_idx_append").toString
    // build on the even half, append the odd half — frozen codebooks
    // put both halves in the same quantization space
    Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", graft.sim.IvfCodebook.K16,
      graft.sim.PqCodebook.M8K16, idxPath)
    Similarity.appendIvfPqIndex(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", graft.sim.IvfCodebook.K16,
      graft.sim.PqCodebook.M8K16, idxPath)
    val appended = Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") < 5),
        idxPath, "vec_id", "embedding", graft.sim.IvfCodebook.K16,
        graft.sim.PqCodebook.M8K16, nProbe = 10, k = 10, overfetch = 16)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val direct = Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", graft.sim.IvfCodebook.K16,
        graft.sim.PqCodebook.M8K16, nProbe = 10, k = 10, overfetch = 16)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(appended === direct,
      "append must serve the same results as encoding the full corpus")
  }

  test("indexed IVF-PQ: tombstone delete + compaction serve identically " +
       "to a rebuild without the deleted vectors") {
    val s = spark
    import s.implicits._
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_idx_del").toString + "/idx"
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
      graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16, idxPath)
    // delete every vec_id divisible by 7 (ids only — no vectors needed)
    val delIds = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    Similarity.deleteFromIvfPqIndex(delIds, "vec_id", idxPath)
    def serve() = Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") < 5),
        idxPath, "vec_id", "embedding", graft.sim.IvfCodebook.K16,
        graft.sim.PqCodebook.M8K16, nProbe = 10, k = 10, overfetch = 16)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val direct = Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5),
        emb.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding",
        graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16,
        nProbe = 10, k = 10, overfetch = 16)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // phase 1: tombstones filter at serve time, index files untouched
    val tombed = serve()
    assert(tombed === direct,
      "tombstoned serving must equal a rebuild without the deleted ids")
    assert(tombed.forall { case (_, n, _, _) => n % 7 != 0 },
      "no tombstoned id may be served as a neighbor")
    // phase 2: compaction folds tombstones into the files and clears
    // the sidecar; serving is unchanged and the serving plan still
    // prunes at the file level
    val rewritten = Similarity.compactIvfPqIndex(spark, idxPath)
    assert(rewritten > 0, "deleting 1/7 of the corpus must touch lists")
    assert(!new java.io.File(Similarity.ivfPqTombstonePath(idxPath)).exists,
      "compaction must clear the tombstone sidecar")
    assert(serve() === direct,
      "compacted serving must equal a rebuild without the deleted ids")
    val compactedIds = spark.read.parquet(idxPath)
      .filter(col("neighbor_id") % 7 === 0).count()
    assert(compactedIds === 0L, "compaction must drop tombstoned rows")
    val p = Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") < 5),
        idxPath, "vec_id", "embedding", graft.sim.IvfCodebook.K16,
        graft.sim.PqCodebook.M8K16, nProbe = 2, k = 10, overfetch = 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cid"),
      s"compacted index must still prune at the file level:\n${p.take(2000)}")
    // compacting a clean index is a no-op
    assert(Similarity.compactIvfPqIndex(spark, idxPath) === 0)
  }

  test("indexed IVF-PQ: a failed per-list swap ABORTS compaction with " +
       "tombstones intact and serving still correct") {
    val s = spark
    import s.implicits._
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_idx_rn").toString + "/idx"
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
      graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16, idxPath)
    val delIds = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    Similarity.deleteFromIvfPqIndex(delIds, "vec_id", idxPath)
    def serve() = Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") < 5),
        idxPath, "vec_id", "embedding", graft.sim.IvfCodebook.K16,
        graft.sim.PqCodebook.M8K16, nProbe = 10, k = 10, overfetch = 16)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val tombed = serve()
    // force one per-cid live→trash rename to FAIL: an affected cid's
    // trash path pre-exists as a plain FILE (leftover of a crashed
    // run), so LocalFS rename returns false — unchecked, the old code
    // fell through to cleanup, deleted the compacted copy AND the
    // sidecar, and the deleted vectors silently resurfaced in serving
    val affectedCid = spark.read.parquet(idxPath)
      .join(delIds.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .select(col("cid")).distinct().orderBy(col("cid"))
      .first().getInt(0)
    val trashDir = new java.io.File(s"${idxPath}_compact_trash")
    assert(trashDir.mkdirs())
    val blocker = new java.io.File(trashDir, s"cid=$affectedCid")
    assert(blocker.createNewFile())
    intercept[java.io.IOException] {
      Similarity.compactIvfPqIndex(spark, idxPath)
    }
    assert(new java.io.File(Similarity.ivfPqTombstonePath(idxPath)).exists,
      "the tombstone sidecar must survive an aborted compaction")
    assert(serve() === tombed,
      "serving stays correct through the aborted swap")
    // clear the obstruction; the re-run completes the remaining lists
    assert(blocker.delete())
    assert(Similarity.compactIvfPqIndex(spark, idxPath) > 0)
    assert(!new java.io.File(Similarity.ivfPqTombstonePath(idxPath)).exists)
    assert(serve() === tombed, "post-compaction serving unchanged")
  }

  test("indexed IVF-PQ: re-ingesting a tombstoned id fails fast; " +
       "delete -> compact -> re-ingest round-trips") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_idx_reingest").toString + "/idx"
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
      graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16, idxPath)
    val three = emb.filter(col("vec_id") < 3)
    Similarity.deleteFromIvfPqIndex(three.select(col("vec_id")),
      "vec_id", idxPath)
    // without versioning there is no sound in-place re-ingest: appending
    // a tombstoned id must fail BEFORE any file lands, not corrupt serving
    val before = new java.io.File(idxPath).list().sorted.toSeq
    intercept[IllegalArgumentException] {
      Similarity.appendIvfPqIndex(three, "vec_id", "embedding",
        graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16, idxPath)
    }
    assert(new java.io.File(idxPath).list().sorted.toSeq === before,
      "a refused append must not have written any file")
    // the supported cycle: compaction clears the sidecar, then the
    // re-ingest lands and serving equals the full-corpus build again
    Similarity.compactIvfPqIndex(spark, idxPath)
    Similarity.appendIvfPqIndex(three, "vec_id", "embedding",
      graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16, idxPath)
    def top(queries: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopKIndexed(queries, idxPath, "vec_id", "embedding",
          graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16,
          nProbe = 10, k = 10, overfetch = 16)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val direct = Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", graft.sim.IvfCodebook.K16,
        graft.sim.PqCodebook.M8K16, nProbe = 10, k = 10, overfetch = 16)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(top(emb.filter(col("vec_id") < 5)) === direct,
      "delete -> compact -> re-ingest must serve like the original build")
  }

  test("streaming IVF-PQ index ingest: append-equals-rebuild holds " +
       "across micro-batch boundaries (s05 ingest twin)") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_idx_ingest").toString + "/idx"
    // offline build on the even half; stream the odd half in via the
    // ingest twin, one file per trigger
    Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", graft.sim.IvfCodebook.K16,
      graft.sim.PqCodebook.M8K16, idxPath)
    val odd = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graftingst").toString
    odd.repartition(3).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(odd.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = graft.streaming.StreamingScore.ivfPqIndexIngest(
      stream, idxPath, "vec_id", "embedding",
      graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16).start()
    q.processAllAvailable(); q.stop()
    val ingested = Similarity.ivfPqTopKIndexed(emb.filter(col("vec_id") < 5),
        idxPath, "vec_id", "embedding", graft.sim.IvfCodebook.K16,
        graft.sim.PqCodebook.M8K16, nProbe = 10, k = 10, overfetch = 16)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val direct = Similarity.ivfPqTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", graft.sim.IvfCodebook.K16,
        graft.sim.PqCodebook.M8K16, nProbe = 10, k = 10, overfetch = 16)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(ingested === direct,
      "streamed ingest must serve like a full-corpus rebuild")
  }

  test("streaming indexed IVF-PQ serving matches batch across " +
       "micro-batches, tombstones take effect mid-stream (s05 twin)") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_idx_serve").toString + "/idx"
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
      graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16, idxPath)
    // query stream: 6 query vectors over 3 micro-batches
    val qdf = emb.filter(col("vec_id") < 6).select("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graftqstream").toString
    qdf.repartition(3).write.mode("overwrite").parquet(tmp)
    def served(): Set[(Long, Long, Double, Int)] = {
      val stream = spark.readStream.schema(qdf.schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
      val buf = scala.collection.mutable.Set.empty[(Long, Long, Double, Int)]
      val q = graft.streaming.StreamingScore.ivfPqIndexServe(
          stream, idxPath, "vec_id", "embedding",
          graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16,
          nProbe = 10, k = 10, overfetch = 16) { b =>
        buf.synchronized { buf ++= b.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))) }
      }.start()
      q.processAllAvailable(); q.stop()
      buf.toSet
    }
    def batch(): Set[(Long, Long, Double, Int)] =
      Similarity.ivfPqTopKIndexed(qdf, idxPath, "vec_id", "embedding",
          graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16,
          nProbe = 10, k = 10, overfetch = 16)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // queries are independent: micro-batch boundaries cannot change
    // any ranking, so the streamed union equals the batch result
    val before = served()
    assert(before === batch())
    assert(before.nonEmpty)
    // deletions land mid-stream with no restart: the sidecar is read
    // per micro-batch, so the next served() run excludes tombstoned ids
    Similarity.deleteFromIvfPqIndex(
      emb.filter(col("vec_id") % 5 === 1).select(col("vec_id")),
      "vec_id", idxPath)
    val after = served()
    assert(after === batch(), "streamed serving must see tombstones")
    assert(after !== before)
    assert(after.forall { case (_, n, _, _) => n % 5 != 1 })
  }

  test("IVF ANN: probed top-k overlaps brute-force top-k (s02 contract)") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    def recallOf(cents: Array[Array[Double]]): (Set[(Long, Long)], Double) = {
      val ivf = Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", cents, nProbe = 4, k = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", k = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (ivf, ivf.intersect(brute).size.toDouble / brute.size)
    }
    // the shipped codebook: KMeans-trained at build time (IvfCodebook)
    val (ivf, recall) = recallOf(graft.sim.IvfCodebook.K16)
    assert(ivf.nonEmpty && ivf.size <= 50)
    // probing 4/16 lists must still recover a solid share of the true
    // top-k (trained codebook ⇒ near neighbors share lists); measured
    // 0.48 — honest selectivity, unlike the old seeded-random codebook
    // whose recall was 1.0 only because it dumped 100% of the corpus
    // into 1-2 lists (zero pruning — brute force in disguise)
    info(f"recall@10 trained codebook: $recall%.2f")
    assert(recall >= 0.3, s"IVF recall too low: $recall")
    // partition quality — the property the random codebook fails: the
    // corpus must actually spread across lists, or "recall" is
    // meaningless because every probe scans everything
    val occ = emb.select(
      Similarity.ivfAssign(col("embedding"), graft.sim.IvfCodebook.K16)
        .as("cid")).groupBy(col("cid")).count()
      .collect().map(r => r.getLong(1))
    val n = occ.sum.toDouble
    info(s"occupancy: ${occ.length}/16 lists, max ${occ.max}/${n.toLong}")
    assert(occ.length >= 12, s"only ${occ.length}/16 lists populated")
    assert(occ.max / n <= 0.2, s"skewed codebook: max list ${occ.max / n}")
    // every IVF neighbor comes from a probed list of its query — and
    // the ranking is deterministic
    val (again, _) = recallOf(graft.sim.IvfCodebook.K16)
    assert(again == ivf)
  }

  test("LSH recall vs exact near-dup ground truth (the q24/s01 contract)") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    // ground truth: ALL >= 0.3 cosine pairs (all-pairs on the 500-vec
    // test table is cheap; in production this is the oracle-only path)
    val exact = Similarity.blockedNearDupPairs(
      emb.withColumn("one", lit(1)), "vec_id", "embedding", "one",
      threshold = 0.3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.3, nPlanes = 4, bands = 8, seed = 42L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    // multi-band OR-amplification: recall = 1-(1-p^4)^8 with
    // p = 1 - theta/pi — ~0.66 at exactly cos=0.3, ~1.0 for true
    // near-dups; single-band p^6 was ~5% at this distance.
    assert(recall >= 0.5, s"LSH recall too low: $recall (${lsh.size}/${exact.size})")
    assert(lsh.subsetOf(exact), "LSH must not invent pairs (exact verify stage)")
  }

  test("native SignBuckets matches the composed per-band when/OR form bit-for-bit") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val planes = Similarity.bandPlanes(64, 4, 8, 42L)
    val composed = planes.zipWithIndex.foldLeft(emb) { case (d, (p, b)) =>
      Similarity.signBuckets(d, "embedding", p, s"_bk$b")
    }.select(col("vec_id"),
      array((0 until 8).map(b => col(s"_bk$b")): _*).as("cb"))
    val rows = composed
      .join(emb.select(col("vec_id"),
        graft.functions.SignBuckets(col("embedding"), planes).as("nb")), "vec_id")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"buckets diverge for vec ${r.getLong(0)}")
    }
  }

  test("fuzzy span dedup: one-token-edited boilerplate still dedups; " +
       "unique spans round-trip") {
    val s = spark
    import s.implicits._
    val hdr = "standard license header boilerplate block repeated across all" // 8
    // 12-token block 0 = v{k} + hdr(8) + "documents in corpus"; block 1
    // = a unique 12-token tail per doc
    def doc(k: Int, tail: String) =
      s"v$k $hdr documents in corpus $tail"
    val docs = Seq(
      (1L, doc(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")),
      (2L, doc(2, "one two three four five six seven eight nine ten eleven twelve")),
      (3L, doc(1, "red orange yellow green blue indigo violet cyan magenta black white gray")))
      .toDF("doc_id", "text")
    // bands=16 (1 signature row per band): banding recall for a J=9/11
    // pair at the default 4×4 banding is ~91% — enough at corpus scale
    // (the d06 gate query dedups the planted sf0.01 cluster through
    // cross-variant redundancy) but not for a single planted pair;
    // 1-row bands make any agreeing slot a candidate and leave
    // precision to the est_jaccard verification
    val out = graft.text.Dedup.fuzzySpanDedup(docs, "doc_id", "text",
        numPerm = 16, bands = 16)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 holds the (doc, blk)-minimum copy: keeps both spans intact
    assert(out(1L)._1 === 2L && out(1L)._2 === 0L)
    assert(out(1L)._3 === docs.filter($"doc_id" === 1).head.getString(1))
    // docs 2 (1-token edit) and 3 (exact copy) each lose ONLY block 0
    for (id <- Seq(2L, 3L)) {
      assert(out(id)._1 === 2L && out(id)._2 === 1L, s"doc $id: ${out(id)}")
      assert(!out(id)._3.contains("license"), s"doc $id kept the boilerplate")
    }
    assert(out(2L)._3.startsWith("one two three"))
    assert(out(3L)._3.startsWith("red orange yellow"))
  }

  test("d06 fuzzy span dedup plan: banded LSH only — no cartesian") {
    val df = SparkEntry.queries("d06_fuzzy_span_dedup")(spark, SparkSpec.sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(20).mkString("\n"))
    assert(df.limit(5).count() > 0)
  }

  test("streaming near-dup pairs match batch minhashLshPairs across " +
       "micro-batches (d01 twin)") {
    // fixture: 50 real docs + a planted near-dup of each (one appended
    // token), split into 4 files → 4 micro-batches; the pair SET must
    // equal the batch operator's regardless of batch boundaries
    val docs0 = graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text").limit(50)
    val docs = docs0.unionByName(docs0.select(
      (col("doc_id") + 100000L).as("doc_id"),
      concat(col("text"), lit(" extratoken")).as("text")))
    val tmp = java.nio.file.Files.createTempDirectory("graftsnd").toString
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = graft.streaming.StreamingNearDup
      .nearDupPairs(stream, "doc_id", "text")
      .writeStream.format("memory").queryName("snd")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // MULTISET comparison (sorted seq, not set): the smallest-agreeing-
    // band guard must emit each pair exactly once — a set compare would
    // mask duplicate emissions from multi-band collisions
    val streamed = spark.sql("SELECT id_a, id_b, est_jaccard FROM snd")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    val batch = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted
    assert(streamed === batch)
    // the planted dups are found: at least most of the 50 pairs survive
    // banding (recall < 1 is the LSH contract, shared with batch)
    assert(streamed.count { case (a, b, _) => b == a + 100000L } >= 40,
      s"planted-pair recall too low: ${streamed.size}")
  }

  test("streaming simhash pairs match batch simhashPairs across " +
       "micro-batches (d02 twin)") {
    // same fixture shape as the d01 twin: planted one-token-edit dups
    // land within hamming 3 of their originals with high probability
    val docs0 = graft.core.Tables.documents(spark, SparkSpec.sfDir)
      .select("doc_id", "text").limit(50)
    val docs = docs0.unionByName(docs0.select(
      (col("doc_id") + 100000L).as("doc_id"),
      concat(col("text"), lit(" extratoken")).as("text")))
    val tmp = java.nio.file.Files.createTempDirectory("graftssh").toString
    docs.repartition(4).write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
    val q = graft.streaming.StreamingNearDup
      .simhashPairs(stream, "doc_id", "text")
      .writeStream.format("memory").queryName("ssh")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // multiset comparison: identical docs agree on all 4 bands — the
    // smallest-agreeing-band guard must still emit them exactly once
    val streamed = spark.sql("SELECT id_a, id_b, hamming FROM ssh")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted
    val batch = Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted
    assert(streamed === batch)
    assert(streamed.count { case (a, b, _) => b == a + 100000L } >= 35,
      s"planted-pair recall too low: ${streamed.size}")
  }

  test("dim-tiled embeddings + tiled codebooks preserve ANN results exactly") {
    SparkSpec.withConf("spark.sql.codegen.fallback" -> "false") {
    // the ScaleBench `dim` family contract: tiling a vector factor x
    // with per-tile sign flips multiplies every dot/dist by factor
    // EXACTLY in fp (per-tile products are bit-identical), so brute
    // force, IVF (tileIvf) and PQ (tilePq) must return the same
    // neighbors at dim 192 as at dim 64 — and the whole tiled plan
    // (native PqLut/PqEncode/AdcSum at m=24) must COMPILE: with
    // fallback=false a 64 KB codegen regression fails the test instead
    // of silently running interpreted
    val factor = 3
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val tiles = (0 until factor).map { t =>
      if (t == 0) col("embedding")
      else {
        val s = array(graft.tools.ScaleBench.dimSigns(dim, t)
          .map(x => lit(x.toFloat)): _*)
        zip_with(col("embedding"), s, (a, b) => (a * b).cast("float"))
      }
    }
    val tiled = emb.withColumn("embedding", flatten(array(tiles: _*)))

    def ids(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      df.select(col("query_id"), col("rk"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted

    val pqBase = Similarity.pqTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", graft.sim.PqCodebook.M8K16, k = 10, overfetch = 16)
    val pqTiled = Similarity.pqTopK(tiled.filter(col("vec_id") < 5), tiled,
      "vec_id", "embedding",
      graft.tools.ScaleBench.tilePq(graft.sim.PqCodebook.M8K16, factor),
      k = 10, overfetch = 16)
    assert(ids(pqTiled) === ids(pqBase))

    val ivfBase = Similarity.ivfTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", graft.sim.IvfCodebook.K16, nProbe = 4, k = 10)
    val ivfTiled = Similarity.ivfTopK(tiled.filter(col("vec_id") < 5), tiled,
      "vec_id", "embedding",
      graft.tools.ScaleBench.tileIvf(graft.sim.IvfCodebook.K16, factor),
      nProbe = 4, k = 10)
    assert(ids(ivfTiled) === ids(ivfBase))
    }
  }

  test("native PqEncode matches the composed struct/array_min form bit-for-bit") {
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    val cb = graft.sim.PqCodebook.M8K16
    val both = emb.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), cb).as("native"),
        SimOracle.pqEncodeComposed(col("embedding"), cb).as("composed"),
        Similarity.ivfAssign(col("embedding"), graft.sim.IvfCodebook.K16).as("na"),
        SimOracle.ivfAssignComposed(col("embedding"), graft.sim.IvfCodebook.K16).as("ca"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Int](1) === r.getSeq[Int](2),
        s"codes diverge for vec ${r.getLong(0)}")
      assert(r.getInt(3) === r.getInt(4),
        s"ivf list diverges for vec ${r.getLong(0)}")
    }
  }

  test("native PqLut matches the composed slice/dot form bit-for-bit") {
    // the native expression exists because the composed form's
    // generated method crosses Janino's 64 KB limit at tiled (m=96)
    // codebooks; the contract is exact fp equality at any m, checked
    // here at both the gate codebook and a factor-3 tiled one
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    for (cb <- Seq(graft.sim.PqCodebook.M8K16,
                   graft.tools.ScaleBench.tilePq(graft.sim.PqCodebook.M8K16, 3))) {
      val dim = cb.length * cb(0)(0).length
      val tiles = (0 until dim / 64).map { t =>
        if (t == 0) col("embedding")
        else {
          val s = array(graft.tools.ScaleBench.dimSigns(64, t)
            .map(x => lit(x.toFloat)): _*)
          zip_with(col("embedding"), s, (a, b) => (a * b).cast("float"))
        }
      }
      val v = emb.withColumn("embedding", flatten(array(tiles: _*)))
      // the NATIVE path must whole-stage-compile — fallback=false turns
      // a silent interpreted fallback into a test failure
      val native = SparkSpec.withConf("spark.sql.codegen.fallback" -> "false") {
        v.select(col("vec_id"),
            Similarity.pqLut(col("embedding"), cb).as("native"))
          .collect()
      }.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      // the COMPOSED form is a value oracle only — at m=24 its generated
      // method is KNOWN to cross Janino's 64 KB limit, so skip codegen
      // outright instead of letting the failed compile spam the log and
      // re-run on every execution
      val composed = SparkSpec.withConf(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        v.select(col("vec_id"),
            SimOracle.pqLutComposed(col("embedding"), cb).as("composed"))
          .collect()
      }.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      assert(native.nonEmpty && native.keySet === composed.keySet)
      native.foreach { case (id, lut) =>
        assert(lut === composed(id),
          s"lut diverges for vec $id at m=${cb.length}")
      }
    }
  }

  test("native AdcSum matches the composed element_at sum bit-for-bit") {
    // same contract as PqLut/PqEncode: the native loop must reproduce
    // the left-to-right reduce(_+_) of element_at terms exactly;
    // checked at the gate codebook (m=8) and a factor-3 tiled one
    // (m=24, still below the composed form's 64 KB codegen cliff)
    val emb = graft.core.Tables.embeddings(spark, SparkSpec.sfDir)
    for (cb <- Seq(graft.sim.PqCodebook.M8K16,
                   graft.tools.ScaleBench.tilePq(graft.sim.PqCodebook.M8K16, 3))) {
      val m = cb.length; val ks = cb(0).length
      val dim = m * cb(0)(0).length
      val tiles = (0 until dim / 64).map { t =>
        if (t == 0) col("embedding")
        else {
          val s = array(graft.tools.ScaleBench.dimSigns(64, t)
            .map(x => lit(x.toFloat)): _*)
          zip_with(col("embedding"), s, (a, b) => (a * b).cast("float"))
        }
      }
      // self-ADC (each vector scored against its own LUT) exercises
      // every lut index the codes can produce
      val pairs = emb.withColumn("embedding", flatten(array(tiles: _*)))
        .select(col("vec_id"),
          Similarity.pqLut(col("embedding"), cb).as("lut"),
          Similarity.pqEncode(col("embedding"), cb).as("codes"))
      val composed = (0 until m).map(mi =>
          element_at(col("lut"), element_at(col("codes"), mi + 1) + lit(mi * ks + 1)))
        .reduce(_ + _)
      val both = pairs.select(col("vec_id"),
          graft.functions.AdcSum(col("lut"), col("codes"), ks).as("native"),
          composed.as("comp"))
        .collect()
      assert(both.nonEmpty)
      both.foreach { r =>
        assert(r.getDouble(1) === r.getDouble(2),
          s"adc diverges for vec ${r.getLong(0)} at m=$m")
      }
    }
  }

  test("occupancy-scaled LSH: linear candidate growth, recall on planted dups") {
    val s = spark
    import s.implicits._
    // synthetic clustered corpus with planted near-dups: base vectors
    // from a seeded Gaussian, every 10th vector a jittered copy of its
    // predecessor (cos > 0.95) — ground truth the fixtures lack (their
    // pair tail tops out ~0.48)
    def corpus(n: Int): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(7L)
      val rows = new scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]
      var prev: Array[Float] = null
      (0 until n).foreach { i =>
        val v =
          if (i % 10 == 9 && prev != null)
            prev.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
          else Array.fill(32)(rnd.nextGaussian().toFloat)
        prev = v
        rows += ((i.toLong, v))
      }
      rows.toSeq.toDF("vec_id", "embedding")
    }
    def candidates(df: org.apache.spark.sql.DataFrame, nPlanes: Int,
                   bands: Int): Long =
      Similarity.lshNearDupPairs(df, "vec_id", "embedding",
        threshold = -1.0, nPlanes = nPlanes, bands = bands, seed = 42L).count()
    val small = corpus(500)
    val big = corpus(2000)

    // fixed planes (the gate config): 16 buckets/band saturate, so 4x
    // the corpus gives ~16x the candidate pairs — the anti-pattern
    val fixedGrowth = candidates(big, 4, 8).toDouble / candidates(small, 4, 8)
    // occupancy-scaled planes: candidates grow ~linearly with n
    val pS = Similarity.planesForOccupancy(500L, 32)
    val pB = Similarity.planesForOccupancy(2000L, 32)
    assert(pB > pS, s"plane count must grow with the corpus ($pS -> $pB)")
    val scaledGrowth =
      candidates(big, pB, 8).toDouble / candidates(small, pS, 8)
    info(f"candidate growth at 4x corpus: fixed-planes $fixedGrowth%.1fx, " +
      f"occupancy-scaled $scaledGrowth%.1fx")
    assert(fixedGrowth > 8.0, "expected fixed-plane buckets to saturate")
    assert(scaledGrowth < 8.0,
      s"scaled planes must keep candidate growth ~linear: $scaledGrowth")

    // recall: the scaled operating point still finds the planted dups
    val exact = Similarity.blockedNearDupPairs(
      big.withColumn("one", lit(1)), "vec_id", "embedding", "one",
      threshold = 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 150, s"fixture must plant dups: ${exact.size}")
    val scaled = Similarity.lshNearDupPairsScaled(big, "vec_id", "embedding",
      threshold = 0.9, targetBucket = 32, recall = 0.95, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec = scaled.intersect(exact).size.toDouble / exact.size
    info(f"occupancy-scaled recall at cos>=0.9: $rec%.2f")
    assert(rec >= 0.8, s"scaled LSH recall below floor: $rec")
    assert(scaled.subsetOf(exact), "scaled LSH must not invent pairs")
    // the derived operating point is sane
    assert(Similarity.bandsForRecall(pB, 0.9, 0.95) <= 64)

    // the blocked twin: same derivation keyed on the LARGEST block —
    // planted dups stay within their 500-vector block, so recall holds
    val blocked = big.withColumn("label", (col("vec_id") / 500).cast("int"))
    val scaledB = Similarity.bandedNearDupPairsScaled(blocked, "vec_id",
        "embedding", "label", threshold = 0.9, targetBucket = 32,
        recall = 0.95, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactB = Similarity.blockedNearDupPairs(blocked, "vec_id",
        "embedding", "label", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactB.size >= 100)
    val recB = scaledB.intersect(exactB).size.toDouble / exactB.size
    info(f"blocked occupancy-scaled recall at cos>=0.9: $recB%.2f")
    assert(recB >= 0.8, s"blocked scaled recall below floor: $recB")
    assert(scaledB.subsetOf(exactB), "blocked scaled LSH must not invent pairs")
  }

  test("d04x shape: occupancy-scaled pair clustering groups exact twins " +
       "at probability 1 and never merges beyond the exact clusters") {
    val s = spark
    import s.implicits._
    // 3 planted twin groups of IDENTICAL vectors (same sign pattern
    // under ANY plane set, so the scaled operating point pairs them
    // deterministically) among Gaussian noise singletons, one block
    val rnd = new scala.util.Random(11L)
    val base = Array.fill(3)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val rows = (0 until 60).map { i =>
      val v = if (i < 12) base(i % 3)
              else Array.fill(16)(rnd.nextGaussian().toFloat)
      (i.toLong, v, "a")
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    def clustersOf(pairs: org.apache.spark.sql.DataFrame)
        : Map[Long, Long] =
      graft.text.Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactC = clustersOf(Similarity.blockedNearDupPairs(
      df, "vec_id", "embedding", "label", threshold = 0.9))
    val scaledC = clustersOf(Similarity.bandedNearDupPairsScaled(
      df, "vec_id", "embedding", "label", threshold = 0.9,
      targetBucket = 16, recall = 0.95, seed = 7L))
    // every twin group lands in ONE scaled cluster
    for (g <- 0 until 3) {
      val ids = (0 until 12).filter(_ % 3 == g).map(_.toLong)
      val cl = ids.map(scaledC.getOrElse(_, -1L)).distinct
      assert(cl.size == 1 && cl.head >= 0,
        s"twin group $g must cluster together, got $cl")
    }
    // refinement: scaled pairs ⊆ exact pairs, so no scaled cluster may
    // span two exact clusters
    val span = scaledC.groupBy(_._2).values
      .map(m => m.keys.map(exactC.getOrElse(_, -1L)).toSet.size)
    assert(span.forall(_ == 1),
      "a scaled cluster must never merge across exact clusters")
  }

  test("refinePlanes deepens the operating point on a CORRELATED corpus " +
      "and recall survives") {
    // the uniform occupancy model's failure mode: vectors sharing a
    // dominant common component (hashed-text embeddings share stopword
    // mass) concentrate sign patterns, so a few (band, bucket) groups
    // hold a constant fraction of the corpus and the bucket join turns
    // quadratic (measured 108M candidates for 50k docs at the 10×
    // curate cell). Fixture: 4000 vectors = one strong shared base +
    // per-vector noise (pairwise cosine ~0.8, sign patterns heavily
    // correlated), plus 100 planted near-dups at cosine ~0.999.
    val s = spark
    import s.implicits._
    val dim = 32
    val rbase = new scala.util.Random(99)
    val base = Array.fill(dim)(rbase.nextGaussian())
    def noisy(seed: Long, scale: Double): Seq[Float] = {
      val r = new scala.util.Random(seed)
      base.map(b => (b + scale * r.nextGaussian()).toFloat).toSeq
    }
    val corpus = (0L until 4000L).map(i => (i, noisy(1000 + i, 0.5)))
    val planted = (0L until 100L).map { i =>
      val r = new scala.util.Random(5000 + i)
      (4000L + i,
        corpus(i.toInt)._2.map(x => (x + 0.02 * r.nextGaussian()).toFloat))
    }
    val df = (corpus ++ planted).toDF("vec_id", "embedding").localCheckpoint()

    val target = 32
    val model = Similarity.planesForOccupancy(df.count(), target)
    val (nP, bands) = Similarity.refinePlanes(df, "embedding", None, dim,
      model, threshold = 0.9, targetBucket = target, recall = 0.95,
      seed = 42L)
    assert(nP > model, s"correlated corpus must deepen planes: $model -> $nP")
    def hotBucket(planes: Array[Array[Array[Double]]]): Long =
      df.select(posexplode(
          graft.functions.SignBuckets(col("embedding"), planes))
          .as(Seq("band", "bucket")))
        .groupBy("band", "bucket").count().agg(max("count")).first().getLong(0)
    val modelHot = hotBucket(Similarity.bandPlanes(dim, model,
      Similarity.bandsForRecall(model, 0.9, 0.95), 42L))
    val refinedHot = hotBucket(Similarity.bandPlanes(dim, nP, bands, 42L))
    info(s"hot bucket: model-planes $modelHot -> refined $refinedHot " +
      s"(cap ${16L * target}, probe budget 3)")
    // the refinement is BUDGETED (3 probes), so the contract is
    // "under the cap or nearly so", not a hard bound — assert 2× cap
    // headroom plus a large improvement over the uniform model's point
    assert(refinedHot <= 2 * 16L * target,
      s"refined hot bucket far over the cap: $refinedHot")
    assert(refinedHot * 2 <= modelHot,
      s"refinement must shrink the hot bucket: $modelHot -> $refinedHot")

    // recall: the planted near-dups still surface under the deepened
    // operating point (bands re-solved to hold the 0.95 pin)
    val exact = Similarity.blockedNearDupPairs(
        df.withColumn("one", lit(1)), "vec_id", "embedding", "one",
        threshold = 0.9)
      .filter((col("id_a") < 4000L) && (col("id_b") >= 4000L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 80, s"fixture must plant verifiable dups: ${exact.size}")
    val got = Similarity.lshNearDupPairsScaled(df, "vec_id", "embedding",
        threshold = 0.9, targetBucket = target, recall = 0.95, seed = 42L)
      .filter((col("id_a") < 4000L) && (col("id_b") >= 4000L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec = got.intersect(exact).size.toDouble / exact.size
    info(f"adaptive-planes recall on correlated corpus: $rec%.2f " +
      s"(planes $model -> $nP, bands $bands)")
    assert(rec >= 0.8, s"adaptive recall below floor: $rec")
    assert(got.subsetOf(exact), "must not invent pairs")
  }

  test("bandedNearDupPairsScaled passes an empty frame through as zero pairs") {
    // a corpus that dedups to empty must not crash the operating-point
    // probes (max(count) is null, the dim probe has no first() row)
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.bandedNearDupPairsScaled(
      empty, "vec_id", "embedding", "label", threshold = 0.9)
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("id_a", "id_b", "cosine"))
  }

  test("language id picks en for the/a-marked text") {
    val r = TextOps.langId(docsDf, "doc_id", "text")
      .filter(col("doc_id") === 1L).first()
    assert(r.getAs[String]("lang_guess") === "en")
  }

  test("fingerprint is identical for identical docs, differs otherwise") {
    val fp = TextOps.charGramFingerprint(docsDf, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(4L))
  }

  test("pageRank (p01): star center outranks leaves with the exact " +
       "hand-computed r6 values, mass conserved, deterministic") {
    val s = spark
    import s.implicits._
    // star 1-{2,3,4}, d=0.85, 2 iterations, r6 per update:
    // pr0 = 0.25; it1: center 0.0375+0.85*0.75 = 0.675,
    // leaf 0.0375+0.85*(0.25/3) = 0.108333; it2: center
    // 0.0375+0.85*3*0.108333 = 0.313749, leaf 0.0375+0.85*0.225 = 0.22875
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val pr = graft.text.Dedup.pageRank(pairs)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr === Map(1L -> 0.313749, 2L -> 0.22875, 3L -> 0.22875,
      4L -> 0.22875))
    assert(math.abs(pr.values.sum - 1.0) < 1e-5,
      "undirected graph has no dangling mass; totals stay ~1")
    // symmetric path 5-6-7: ends equal, middle highest
    val path = Seq((5L, 6L), (6L, 7L)).toDF("id_a", "id_b")
    val p2 = graft.text.Dedup.pageRank(path)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p2(5L) === p2(7L))
    assert(p2(6L) > p2(5L))
    // determinism under repartition
    val again = graft.text.Dedup.pageRank(pairs.repartition(5))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again === pr)
  }

  test("hits (p03): hand-computed two-iteration hub/auth scores on a " +
       "3x3 bipartite graph; each side sums to ~1") {
    val s = spark
    import s.implicits._
    // u1->{A,B}, u2->{A}, u3->{B,C}; iter1: h=(.4,.2,.4),
    // a=(.333333,.444444,.222222); iter2 (exact after r6):
    // h=(0.4375, 0.1875, 0.375), a=(0.344828, 0.448276, 0.206897)
    val edges = Seq(("u1", "A"), ("u1", "B"), ("u2", "A"),
      ("u3", "B"), ("u3", "C")).toDF("u", "t")
    val out = graft.text.Dedup.hits(edges, "u", "t", iters = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(2)).toMap
    assert(math.abs(out(("hub", "u1")) - 0.4375) < 1e-9)
    assert(math.abs(out(("hub", "u2")) - 0.1875) < 1e-9)
    assert(math.abs(out(("hub", "u3")) - 0.375) < 1e-9)
    assert(math.abs(out(("auth", "A")) - 0.344828) < 1e-9)
    assert(math.abs(out(("auth", "B")) - 0.448276) < 1e-9)
    assert(math.abs(out(("auth", "C")) - 0.206897) < 1e-9)
    val hubSum = out.collect { case (("hub", _), v) => v }.sum
    val authSum = out.collect { case (("auth", _), v) => v }.sum
    assert(math.abs(hubSum - 1.0) < 1e-5 && math.abs(authSum - 1.0) < 1e-5)
  }

  // ── ladder operating point (the r17 oracle-gated scale path) ────────

  test("ladder planes share prefixes: rung (nP,·)'s bucket is the " +
       "low-nP-bit mask of the deepest rung's bucket") {
    val s = spark
    import s.implicits._
    // the load-bearing RNG assumption: hyperplanes(dim, nP, seed) is a
    // row prefix of hyperplanes(dim, nP', seed) for nP < nP' (same
    // stream, row-major fill) — if this breaks, the oracle's masked
    // replay diverges from the Spark side's second scan
    val shallow = Similarity.bandPlanes(16, 4, 6, 7L)
    val deep = Similarity.bandPlanes(16, 12, 16, 7L)
    for (b <- 0 until 6; p <- 0 until 4)
      assert(shallow(b)(p).sameElements(deep(b)(p)),
        s"band $b plane $p diverges between depths")
    // and on data: masked deep buckets == shallow buckets
    val rnd = new scala.util.Random(3L)
    val df = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        posexplode(graft.functions.SignBuckets(col("embedding"), deep))
          .as(Seq("band", "bucket")))
      .filter(col("band") < 6)
      .select(col("vec_id"), col("band"),
        col("bucket").bitwiseAND(lit(15L)).as("bucket"))
    val want = df.select(col("vec_id"),
        posexplode(graft.functions.SignBuckets(col("embedding"), shallow))
          .as(Seq("band", "bucket")))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "masked deep buckets must equal shallow-rung buckets")
  }

  test("ladder rung selection: small corpora stay shallow, occupancy " +
       "pressure deepens, and the gate output equals the selected rung") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17L)
    def corpus(n: Int) = (0 until n).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val small = corpus(300).cache()
    // 300 vectors: every rung's hot bucket is far under 16·64 → rung 0
    val Some((np0, nb0, dim0)) = Similarity.ladderOperatingPoint(
      small, "embedding", None, threshold = 0.3, seed = 42L)
    assert(np0 === 4 && dim0 === 8, s"expected shallowest rung, got $np0")
    // 24k uniform vectors: nP=4's 16 buckets/band average 1500 ≫ the
    // 1024 hot-bucket cap, so selection must deepen past rung 0
    val big = corpus(24000).cache()
    val Some((npB, nbB, _)) = Similarity.ladderOperatingPoint(
      big, "embedding", None, threshold = 0.3, seed = 42L)
    assert(npB > 4, s"24k vectors must deepen the rung, got $npB")
    info(s"selected rungs: 300 vecs -> ($np0, $nb0); 24k -> ($npB, $nbB)")
    // composition: the ladder gate path IS lshNearDupPairs at the
    // selected rung (prefix-sharing makes the probe and the pair scan
    // see the same planes)
    val ladder = Similarity.lshNearDupPairsLadder(small, "vec_id",
      "embedding", threshold = 0.3, seed = 42L)
    val direct = Similarity.lshNearDupPairs(small, "vec_id", "embedding",
      threshold = 0.3, nPlanes = np0, bands = nb0, seed = 42L)
    assert(ladder.exceptAll(direct).isEmpty && direct.exceptAll(ladder).isEmpty)
    small.unpersist(); big.unpersist()
  }

  test("ladder blocked twin: selection keys on the binding block and " +
       "empty frames pass through as zero pairs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23L)
    // block 0: 200 vectors; block 1: 6k vectors — the binding block.
    // Occupancy is probed per (block, band, bucket), so block 1 alone
    // must push the rung past 4 even though block 0 is tiny.
    val rows = (0 until 200).map(i => (i.toLong, 0,
        Array.fill(8)(rnd.nextGaussian().toFloat))) ++
      (200 until 6200).map(i => (i.toLong, 1,
        Array.fill(8)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val Some((np, nb, _)) = Similarity.ladderOperatingPoint(
      df, "embedding", Some("label"), threshold = 0.3, seed = 7L)
    // block 1: 6000/16 buckets ≈ 375 avg — hot bucket under 1024 can
    // happen at uniform data, so assert via the probe's own contract:
    // re-derive on block 1 alone and expect the SAME rung (binding
    // block decides), and a strictly deeper rung than 60k would give
    val Some((np1, _, _)) = Similarity.ladderOperatingPoint(
      df.filter(col("label") === 1), "embedding", Some("label"),
      threshold = 0.3, seed = 7L)
    assert(np === np1, s"binding block must select the rung: $np vs $np1")
    val pairs = Similarity.bandedNearDupPairsLadder(df, "vec_id",
      "embedding", "label", threshold = 0.3, seed = 7L)
    val direct = Similarity.bandedNearDupPairs(df, "vec_id", "embedding",
      "label", threshold = 0.3, Similarity.bandPlanes(8, np, nb, 7L))
    assert(pairs.exceptAll(direct).isEmpty && direct.exceptAll(pairs).isEmpty)
    // cross-block pairs never emitted
    val ids = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ids.forall { case (a, b) => (a < 200) === (b < 200) })
    // empty corpus → zero pairs, no probe crash
    val empty = s.emptyDataset[(Long, Int, Array[Float])]
      .toDF("vec_id", "label", "embedding")
    assert(Similarity.bandedNearDupPairsLadder(empty, "vec_id", "embedding",
      "label", threshold = 0.3).count() === 0L)
    assert(Similarity.lshNearDupPairsLadder(empty, "vec_id", "embedding",
      threshold = 0.3).count() === 0L)
  }
}
