package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Unit contracts for the round-6 additions: bucket-quantized range
  * join, Count-Min-guided exact heavy hitters, and the chunk / PII /
  * TF-IDF text-pipeline ops. Each is checked against a brute-force
  * recomputation on a seeded fixture (the oracle gate covers the
  * DuckDB-parity side; these pin the semantics independently of the
  * documents table). */
class RangeJoinSketchSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import graft.series.RangeJoin
  import graft.stats.HeavyHitters
  import graft.text.TextOps

  test("range join equals the brute-force BETWEEN join, incl. boundary hits") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val left = (0 until 400).map(i =>
      (i % 5L, i.toLong, rnd.nextDouble() * 100 - 50)).toDF("k", "lid", "p")
    val right = (0 until 60).map { i =>
      val lo = rnd.nextDouble() * 100 - 50
      (i % 5L, 1000L + i, lo, lo + rnd.nextDouble() * 12)
    }.toDF("k", "rid", "lo", "hi")
    // boundary rows: p exactly at lo and at hi must match (inclusive)
    val leftB = left.union(Seq((9L, 9000L, 3.25), (9L, 9001L, 7.5))
      .toDF("k", "lid", "p"))
    val rightB = right.union(Seq((9L, 9100L, 3.25, 7.5)).toDF("k", "rid", "lo", "hi"))
    val got = RangeJoin.pointInInterval(leftB, rightB, Seq("k"),
        "p", "lo", "hi", bucketWidth = 4.0)
      .select("k", "lid", "rid").as[(Long, Long, Long)].collect().toSet
    val want = leftB.as("l").join(rightB.as("r"),
        col("l.k") === col("r.k") &&
          col("l.p") >= col("r.lo") && col("l.p") <= col("r.hi"))
      .select(col("l.k"), col("lid"), col("rid"))
      .as[(Long, Long, Long)].collect().toSet
    assert(want.nonEmpty, "fixture must produce matches")
    assert(got === want)
    assert(got.contains((9L, 9000L, 9100L)) && got.contains((9L, 9001L, 9100L)),
      "inclusive lo/hi boundary semantics")
  }

  test("range join replicates intervals, never points — and drops hi<lo rows") {
    val s = spark; import s.implicits._
    val left = Seq((1L, 1L, 10.0)).toDF("k", "lid", "p")
    val right = Seq((1L, 2L, 9.0, 11.0), (1L, 3L, 12.0, 2.0)).toDF("k", "rid", "lo", "hi")
    val out = RangeJoin.pointInInterval(left, right, Seq("k"),
      "p", "lo", "hi", bucketWidth = 1.0)
    // wide interval (3 buckets) still yields exactly ONE match row;
    // the inverted interval matches nothing
    assert(out.select("rid").as[Long].collect().toSeq === Seq(2L))
  }

  test("heavy hitters = exact GROUP BY/HAVING set, sketch prune notwithstanding") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(42)
    // zipf-ish: item i drawn with weight ~ 1/(i+1)
    val items = (0 until 20000).map { _ =>
      val r = rnd.nextDouble()
      val i = math.min((1.0 / (r + 0.02) - 1).toInt, 99)
      s"item_$i"
    }.toDF("it")
    val got = HeavyHitters.heavyHitters(items, "it", threshold = 300)
      .as[(String, Long)].collect().toMap
    val want = items.groupBy("it").count().filter(col("count") >= 300)
      .as[(String, Long)].collect().toMap
    assert(want.nonEmpty, "fixture must have heavy hitters")
    assert(got === want, "CMS prune must keep exactly the true heavy hitters")
  }

  test("bloom decontamination ≡ exact contamination (no false negatives)") {
    val s = spark; import s.implicits._
    val d = s.read.parquet(s"${SparkSpec.sfDir}/documents.parquet")
    val train = d.filter(col("doc_id") % 2 === 0)
    val bench = d.filter(col("doc_id") % 2 === 1)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.select("train_id", "bench_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet
    val exact = toSet(TextOps.contamination(train, bench, "doc_id", "text",
      k = 8, minShared = 2))
    val bloomed = toSet(TextOps.bloomContamination(train, bench, "doc_id",
      "text", k = 8, minShared = 2))
    assert(exact.nonEmpty, "fixture must have contaminated pairs")
    assert(bloomed === exact)
  }

  test("BloomProbe expression ≡ mightContainString row-by-row; null → false") {
    val s = spark; import s.implicits._
    val corpus = (0 until 500).map(i => s"gram_$i")
    val bloom = corpus.toDF("g").stat.bloomFilter("g", 500L, 0.01)
    val bc = s.sparkContext.broadcast(bloom)
    val probes = ((0 until 1000 by 3).map(i => s"gram_$i") ++
      Seq("absent", "ümläut_gräm", "", "汉字-gram")).map(Option(_)) :+
      (None: Option[String])
    val df = probes.toDF("g")
    val got = df.select(col("g"),
        graft.functions.BloomProbe(col("g"), bc).as("hit"))
      .as[(Option[String], Boolean)].collect()
    got.foreach { case (g, hit) =>
      val want = g.exists(bloom.mightContainString) // None → false
      assert(hit === want, s"probe mismatch for $g")
    }
    // the probe honors the no-false-negative contract on present keys
    assert(got.collect { case (Some(g), h) if corpus.contains(g) => h }
      .forall(identity))
  }

  test("chunk: full coverage, stride overlap, short-doc single chunk") {
    val s = spark; import s.implicits._
    val doc = ("x" * 85) + ("y" * 85) + ("z" * 85) // len 255
    val df = Seq((1L, doc), (2L, "tiny doc")).toDF("doc_id", "text")
    val rows = TextOps.chunk(df, "doc_id", "text", window = 120, stride = 80)
      .select("doc_id", "chunk_id", "chunk")
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2))
    val d1 = rows.filter(_._1 == 1L)
    // ceil((255-120)/80)=2 extra → 3 chunks at offsets 0/80/160
    assert(d1.map(_._2).toSeq === Seq(0, 1, 2))
    assert(d1(0)._3 === doc.substring(0, 120))
    assert(d1(1)._3 === doc.substring(80, 200))
    assert(d1(2)._3 === doc.substring(160, 255), "last chunk truncates at EOF")
    // consecutive chunks overlap by window - stride = 40 chars
    assert(d1(0)._3.takeRight(40) === d1(1)._3.take(40))
    val d2 = rows.filter(_._1 == 2L)
    assert(d2.length === 1 && d2(0)._3 === "tiny doc")
  }

  test("redactPii finds and replaces emails + phones, counts match") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "mail me at a.b-c%d@ex-1.mail.org or call 415-555-0142 now"),
      (2L, "no pii here"),
      (3L, "two mails x@y.io z@w.co one phone 212-555-9999")).toDF("id", "body")
    val out = TextOps.redactPii(df, "body")
      .select("id", "n_email", "n_phone", "redacted")
      .as[(Long, Int, Int, String)].collect().sortBy(_._1)
    assert(out(0)._2 === 1 && out(0)._3 === 1)
    assert(out(0)._4 === "mail me at <EMAIL> or call <PHONE> now")
    assert(out(1) === ((2L, 0, 0, "no pii here")))
    assert(out(2)._2 === 2 && out(2)._3 === 1)
    assert(!out.exists(r => r._4.contains("@") || "\\d{3}-\\d{3}-\\d{4}".r
      .findFirstIn(r._4).isDefined))
  }

  test("GraftExtensions registers dot_product on the spark.sql surface") {
    import org.apache.spark.sql.SparkSession
    val base = SparkSpec.spark // keeps the shared SparkContext alive
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new graft.GraftExtensions).getOrCreate()
      // a session built beside the factory's shares its SparkContext,
      // so it carries the factory's codegen cache size too
      assert(s2.conf.get("spark.sql.codegen.cache.maxEntries") ===
        graft.core.Tables.CodegenCacheEntries.toString)
      val df = s2.sql(
        "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      assert(df.collect()(0).getDouble(0) === 11.0)
      assert(df.queryExecution.analyzed.toString.contains("dot_product"),
        "must resolve to the native expression, not a UDF")
      // graft_h64: the SQL surface must reproduce Dedup.h64 exactly
      import s2.implicits._
      val fixture = Seq("alpha", "beta", "42").toDF("s")
      val viaCol = fixture
        .select(graft.text.Dedup.h64(org.apache.spark.sql.functions.col("s"), 7)
          .as("h"))
        .collect().map(_.getLong(0)).toSeq
      fixture.createOrReplaceTempView("h64fix")
      val viaSql = s2.sql("SELECT graft_h64('7', s) AS h FROM h64fix")
        .collect().map(_.getLong(0)).toSeq
      assert(viaSql === viaCol, "graft_h64 must equal the Column-API h64")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("edge cases: empty inputs and unreachable thresholds degrade to empty") {
    val s = spark; import s.implicits._
    // heavy hitters: threshold above every count → empty, no error
    val few = Seq("a", "a", "b").toDF("it")
    assert(HeavyHitters.heavyHitters(few, "it", threshold = 10).count() === 0)
    // range join: empty right side → empty result with full schema
    val left = Seq((1L, 1L, 5.0)).toDF("k", "lid", "p")
    val right = Seq.empty[(Long, Long, Double, Double)].toDF("k", "rid", "lo", "hi")
    val rj = RangeJoin.pointInInterval(left, right, Seq("k"), "p", "lo", "hi", 1.0)
    assert(rj.count() === 0 &&
      rj.columns.toSeq === Seq("k", "lid", "p", "rid", "lo", "hi"))
    // chunk: empty text still yields exactly one (empty) chunk
    val ch = TextOps.chunk(Seq((1L, "")).toDF("doc_id", "text"),
      "doc_id", "text", window = 120, stride = 80)
      .select("chunk_id", "chunk").as[(Int, String)].collect()
    assert(ch.toSeq === Seq((0, "")))
    // redact: null-safe (null text row passes through as null counts 0? —
    // regexp_count(null) is null; the op must not throw)
    val rn = TextOps.redactPii(Seq((1L, null: String)).toDF("id", "body"), "body")
      .select("n_email", "n_phone", "redacted").collect()(0)
    assert(rn.isNullAt(0) && rn.isNullAt(1) && rn.isNullAt(2))
  }

  test("sampleKPerKey: caps per key, stable under rerun and repartition") {
    val s = spark; import s.implicits._
    val df = (0L until 300L).map(i => (i, s"k${i % 7}")).toDF("id", "key")
    def ids(d: org.apache.spark.sql.DataFrame) =
      graft.core.ScaleOps.sampleKPerKey(d, "id", "key", k = 5, salt = 3)
        .select("key", "id").as[(String, Long)].collect().toSet
    val a = ids(df)
    assert(a.groupBy(_._1).forall(_._2.size == 5), "exactly 5 per key")
    assert(ids(df.repartition(13)) === a, "repartition must not change the sample")
    // small groups keep everything
    val tiny = ids(Seq((1L, "x"), (2L, "x")).toDF("id", "key"))
    assert(tiny === Set(("x", 1L), ("x", 2L)))
  }

  test("tokenCounts: BPE-ish pre-tokens on a hand-tokenized string") {
    val s = spark; import s.implicits._
    // "ab 12x, y" → ws: [ab, 12x,, y] = 3
    // bpe: [ab][ 12][x][,][ y] = 5 (digit run splits from letter run,
    // punctuation is its own token, leading spaces attach)
    val out = graft.text.TextOps.tokenCounts(
        Seq((1L, "ab 12x, y")).toDF("id", "body"), "body")
      .select("n_ws", "n_bpe").as[(Int, Int)].collect()(0)
    assert(out === ((3, 5)))
  }

  test("tfIdfTopK: hand-computed scores and ranks on a 3-doc corpus") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "apple cherry date date")).toDF("doc_id", "text")
    val out = TextOps.tfIdfTopK(df, "doc_id", "text", k = 2)
      .select("doc_id", "token", "tf", "df", "score", "rk")
      .as[(Long, String, Long, Long, Double, Int)].collect()
      .sortBy(r => (r._1, r._6))
    def sc(tf: Long, dfq: Long): Double =
      BigDecimal(tf * (math.log(4.0 / (dfq + 1.0)) + 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: apple tf=2 df=2 beats banana tf=1 df=2
    assert(out.filter(_._1 == 1L).map(r => (r._2, r._5)).toSeq ===
      Seq(("apple", sc(2, 2)), ("banana", sc(1, 2))))
    // doc 3: date tf=2 df=1 first; apple vs cherry tie (tf=1, df=2) →
    // token-asc tiebreak puts apple second
    assert(out.filter(_._1 == 3L).map(_._2).toSeq === Seq("date", "apple"))
  }
}
